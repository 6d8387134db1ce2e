package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Bands
import graft.core.{Tables => T}

/** Round-11 operator batch (VERDICT r10 #4): benchmark decontamination
  * and BM25 lexical scoring — each the next step a production user of
  * the existing surface would reach for (the dedup family lacked the
  * train-vs-eval containment gate; text_tfidf lacked its
  * retrieval-scoring sibling). The batch's Louvain keys live in
  * [[Graph]].
  *
  * Reference semantics anchor: statements over scanned tables with
  * engine-invariant arithmetic (`/root/reference/db.cpp:487-502`
  * executeSelect discipline — every declared result is a deterministic
  * function of the stored rows).
  */
object Frontier {
  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------- dedup_decontaminate

  /** TRAIN-vs-EVAL DECONTAMINATION — the benchmark-leakage gate every
    * LLM training pipeline runs before a data release (the GPT-3 /
    * Llama recipe: drop training documents that CONTAIN benchmark
    * content, measured as one-sided n-gram containment). Differs from
    * `dedup_contaminate` (which only counts gram hits per shard doc) by
    * producing the pair-level DECISION: for every (train, eval) pair,
    * what fraction of the eval doc's 8-gram set the train doc covers,
    * thresholded at 50% — the actionable drop list.
    *
    * Arithmetic discipline: containment is pure INTEGER math —
    * `ppm = n_shared * 1e6 DIV n_eval_grams` (bigint floor division,
    * engine-exact) and the reported double is `ppm / 1e6` (one IEEE
    * division of integers — bit-identical across engines, no rounding
    * step to disagree on; the r10 decimal-half lesson applied by
    * construction).
    *
    * 100 TB shape: candidates meet through an equi-join on the gram
    * hash with the EVAL side broadcast (a benchmark is small by nature
    * — that asymmetry is the whole point of one-sided containment);
    * the train corpus never self-joins and never shuffles except its
    * matching gram rows. Planted truth: every eval doc (doc_id%7=0)
    * has its base copy (containment 1.0) and its −2-token variant
    * (+200000, containment (G−2)/G) in the corpus. */
  val dedupDecontaminate: Q = (s, d) => {
    val n = 8
    val norm = (df: DataFrame) => df.withColumn("text", lower(trim(col("text"))))
    val h48 = (c: org.apache.spark.sql.Column) => graft.expr.Md5Prefix48.md548(c)
    val train = norm(LlmPipeline.corpus(s, d))
    val eval_ = norm(T.documents(s, d).filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("eval_id"), col("text")))
    val trainGrams = graft.api.TextDedup.shingleRows(train, "doc_id", "text", n)
      .select(col("doc_id").as("train_id"), h48(col("sh")).as("hv")).distinct()
    val evalGrams = graft.api.TextDedup.shingleRows(eval_, "eval_id", "text", n)
      .select(col("eval_id"), h48(col("sh")).as("hv")).distinct()
    val evalSizes = evalGrams.groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_eval_grams"))
    trainGrams.join(broadcast(evalGrams), "hv")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(evalSizes), "eval_id")
      .withColumn("ppm",
        expr("n_shared * 1000000L DIV n_eval_grams"))
      .filter(col("ppm") >= 500000L)
      .select(col("train_id"), col("eval_id"), col("n_shared"),
        col("n_eval_grams"), col("ppm"),
        (col("ppm").cast("double") / lit(1000000.0)).as("containment"))
      .orderBy(col("train_id"), col("eval_id"))
  }

  // ------------------------------------------------------------ text_bm25

  /** BM25 TERM SCORING — the lexical-retrieval sibling of `text_tfidf`
    * (Robertson/Sparck-Jones with the Lucene +1 idf floor): per (doc,
    * term), `idf(df) * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl))` with
    * k1=1.2, b=0.75, reported as each doc's top-3 terms. tf-idf ranks
    * what's DISTINCTIVE in a doc; BM25 adds the saturation (tf stops
    * paying linearly) and length normalization every retrieval stack
    * expects — side by side the two keys show exactly what the extra
    * machinery buys.
    *
    * Float discipline: tf/df/dl/N are integers; avgdl is ONE double
    * division of two corpus integers; the score is a fixed IEEE op
    * sequence written identically in both dialects (same literals, same
    * associativity), rounded at 6 — transcendental-fed like text_tfidf,
    * never a decimal-terminating half.
    *
    * 100 TB shape: identical to text_tfidf — one (doc,term) hash
    * aggregate, a bounded term-df aggregate, the 1-row corpus scalars
    * broadcast, and the top-3 window rides the doc_id partitioning. */
  val textBm25: Q = (s, d) => {
    val docs = T.documents(s, d)
    val terms = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val dfC = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scal = docs.agg(count(lit(1)).as("n_total"))
      .crossJoin(broadcast(
        terms.agg(count(lit(1)).as("n_tok"))))
      .select(col("n_total"),
        (col("n_tok").cast("double") / col("n_total").cast("double"))
          .as("avgdl"))
    val idf = log(
      (col("n_total").cast("double") - col("df").cast("double") + lit(0.5))
        / (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val score = round(
      idf * (col("tf").cast("double") * lit(2.2))
        / (col("tf").cast("double")
           + lit(1.2) * (lit(0.25)
             + lit(0.75) * col("dl").cast("double") / col("avgdl"))), 6)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(dfC, "term").join(dl, "doc_id").crossJoin(broadcast(scal))
      .withColumn("score", score)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
        col("term"), col("tf"), col("df"), col("dl"), col("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  // --------------------------------------------------- dedup_threshold_sweep

  /** DEDUP THRESHOLD SWEEP — the tuning curve a dedup deployment reads
    * before tightening its Jaccard cutoff: ONE candidate generation at
    * the DEPLOYED floor (0.7 — the `dedup_near` production threshold),
    * then pair/doc counts at each stricter cutoff 0.7…0.9 from the same
    * pair set. Sweeping by re-running the join per threshold would
    * multiply the corpus-scale stage by the grid size; sweeping the
    * MATERIALIZED pair set is a model-sized grid aggregate — the
    * `agg_sketch_rollup` reuse shape. The sweep floor deliberately
    * EQUALS the deployed floor: the prefix-filter's candidate bound is
    * 1/t-sensitive (a 0.5 floor measured 16× the 0.7 plan's wall-time
    * at sf0.1 — pure candidate explosion), and tuning BELOW the
    * deployed cutoff honestly requires re-generation, not a sweep.
    * Thresholds compare against the ROUNDED jacc (the declared
    * pair-output value, identical in both engines); zero-survivor grid
    * rows kept and zero-filled (the cramers_v grid-completion rule).
    *
    * 100 TB shape: candidate generation is the one corpus-scale stage
    * (prefix-filtered, bucket-shuffled — the dedup_near plan); the
    * sweep itself is |pairs| × 5 map-side, one 5-row aggregate out. */
  val dedupThresholdSweep: Q = (s, d) => {
    val c = LlmPipeline.corpus(s, d)
    val pairs = graft.api.TextDedup.jaccardJoinSplit(c, "doc_id", "text",
      col("doc_id") % Bands.DocBand >= 200000L, 0.7)
    val grid = s.range(14, 19)
      .select((col("id").cast("double") / lit(20.0)).as("t"))
    val agg = pairs.crossJoin(broadcast(grid))
      .filter(col("jacc") >= col("t"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("left_id")).as("n_vars"),
        countDistinct(col("right_id")).as("n_bases"))
    grid.join(agg, Seq("t"), "left")
      .select(col("t").as("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_vars"), lit(0L)).as("n_vars"),
        coalesce(col("n_bases"), lit(0L)).as("n_bases"))
      .orderBy(col("threshold"))
  }

  // ---------------------------------------------------- events_cusum_chart

  /** CUSUM CONTROL CHART (Page 1954, tabular two-sided) — the drift
    * detector that complements `events_ewma_chart`: EWMA weights recent
    * points geometrically; CUSUM ACCUMULATES deviations beyond an
    * allowance k, so it is the faster detector for small persistent
    * shifts (the SPC pairing every monitoring stack runs together).
    * Per type, over the daily dsum series:
    *   s⁺ₜ = max(0, s⁺ₜ₋₁ + (yₜ − μ − k)),
    *   s⁻ₜ = max(0, s⁻ₜ₋₁ + (μ − yₜ − k)),
    * k = σ/2 (detect one-σ shifts), decision interval h = 4σ — the
    * textbook (k, h) = (δσ/2, 4σ) design. μ/σ come from the same exact
    * DECIMAL moment folds as the EWMA chart; each CUSUM step is one
    * fixed IEEE op sequence carried by an aggregate() HOF whose state
    * brings the whole (s⁺, s⁻) series back out; the DuckDB oracle
    * replays it as a RECURSIVE CTE with the identical op order.
    * Breach compares the UNROUNDED accumulators to h (display values
    * round at 6).
    *
    * 100 TB shape: identical to agg_holt/events_ewma_chart — corpus
    * folds map-side onto the (type × day) grid, the recursion is one
    * bounded per-type fold, output lives on the day grid. */
  val eventsCusumChart: Q = (s, d) => {
    import graft.core.Numeric.dsum
    val daily = T.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("rev"))
    val ser = daily.groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("rev")))).as("sr"))
      .select(col("event_type"), col("sr"),
        expr("transform(sr, x -> x.rev)").as("ys"))
      .filter(size(col("ys")) >= 2)
      .withColumn("n", size(col("ys")).cast("long"))
      .withColumn("sy",
        expr("aggregate(ys, CAST(0 AS DECIMAL(28,8)), " +
          "(a, y) -> CAST(a + CAST(y AS DECIMAL(20,8)) AS DECIMAL(28,8)))"))
      .withColumn("syy",
        expr("aggregate(ys, CAST(0 AS DECIMAL(38,8)), (a, y) -> " +
          "CAST(a + CAST(CAST(y AS DECIMAL(20,8)) * CAST(y AS DECIMAL(20,8)) " +
          "AS DECIMAL(38,8)) AS DECIMAL(38,8)))"))
      .withColumn("mu",
        col("sy").cast("double") / col("n").cast("double"))
      .withColumn("sigma",
        sqrt((col("n").cast("double") * col("syy").cast("double")
          - col("sy").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * (col("n").cast("double") - 1.0))))
      .withColumn("kk", lit(0.5) * col("sigma"))
      .withColumn("hh", lit(4.0) * col("sigma"))
    val cs = ser.withColumn("cs",
      expr("""aggregate(ys,
        |  named_struct('sp', CAST(0 AS DOUBLE), 'sn', CAST(0 AS DOUBLE),
        |    'arr', CAST(array() AS ARRAY<STRUCT<sp: DOUBLE, sn: DOUBLE>>)),
        |  (acc, y) -> named_struct(
        |    'sp', greatest(CAST(0 AS DOUBLE), acc.sp + (y - mu - kk)),
        |    'sn', greatest(CAST(0 AS DOUBLE), acc.sn + (mu - y - kk)),
        |    'arr', concat(acc.arr, array(named_struct(
        |      'sp', greatest(CAST(0 AS DOUBLE), acc.sp + (y - mu - kk)),
        |      'sn', greatest(CAST(0 AS DOUBLE),
        |        acc.sn + (mu - y - kk))))))).arr""".stripMargin))
    cs.select(col("event_type"), col("mu"), col("hh"),
        posexplode(expr(
          "zip_with(sr, cs, (a, c) -> named_struct(" +
            "'day', a.day, 'rev', a.rev, 'sp', c.sp, 'sn', c.sn))"))
          .as(Seq("i", "e")))
      .select(col("event_type"), col("e.day").as("day"),
        col("e.rev").as("rev"),
        round(col("e.sp"), 6).as("cusum_hi"),
        round(col("e.sn"), 6).as("cusum_lo"),
        round(col("hh"), 6).as("h_limit"),
        (col("e.sp") > col("hh") || col("e.sn") > col("hh")).as("breach"))
      .orderBy(col("event_type"), col("day"))
  }

  // -------------------------------------------------- events_page_hinkley

  /** PAGE-HINKLEY TEST (Page 1954; the sequential mean-shift detector
    * standard in stream-drift monitoring, e.g. the MOA/river default) —
    * the third SPC device next to `events_ewma_chart` and
    * `events_cusum_chart`, and the one with an ADAPTIVE baseline: CUSUM
    * measures deviation from the FIXED global μ; Page-Hinkley deviates
    * from the RUNNING mean x̄ₜ, so it keeps working when the "normal"
    * level itself wanders. Per type, day order:
    *   x̄ₜ = x̄ₜ₋₁ + (yₜ − x̄ₜ₋₁)/t,
    *   mₜ = mₜ₋₁ + (yₜ − x̄ₜ − δ),  PH⁺ₜ = mₜ − min_{i≤t} mᵢ   (up-shift)
    *   uₜ = uₜ₋₁ + (yₜ − x̄ₜ + δ),  PH⁻ₜ = max_{i≤t} uᵢ − uₜ   (down-shift)
    * with δ = 0.05σ and alarm threshold λ = 3σ (σ from the shared exact
    * DECIMAL moment folds). One HOF fold carries (t, x̄, m, min m, u,
    * max u) and emits the PH series; the oracle replays it as a
    * RECURSIVE CTE with the identical inlined-expression op order
    * (x̄ₜ is recomputed textually inside mₜ/uₜ exactly like the lambda
    * inlines it — same IEEE sequence, bit-equal doubles). Breach
    * compares UNROUNDED PH values to λ.
    *
    * 100 TB shape: the agg_holt class — map-side fold to the
    * (type × day) grid, one bounded per-type recursion. */
  val eventsPageHinkley: Q = (s, d) => {
    import graft.core.Numeric.dsum
    val daily = T.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("rev"))
    val ser = daily.groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("rev")))).as("sr"))
      .select(col("event_type"), col("sr"),
        expr("transform(sr, x -> x.rev)").as("ys"))
      .filter(size(col("ys")) >= 2)
      .withColumn("n", size(col("ys")).cast("long"))
      .withColumn("sy",
        expr("aggregate(ys, CAST(0 AS DECIMAL(28,8)), " +
          "(a, y) -> CAST(a + CAST(y AS DECIMAL(20,8)) AS DECIMAL(28,8)))"))
      .withColumn("syy",
        expr("aggregate(ys, CAST(0 AS DECIMAL(38,8)), (a, y) -> " +
          "CAST(a + CAST(CAST(y AS DECIMAL(20,8)) * CAST(y AS DECIMAL(20,8)) " +
          "AS DECIMAL(38,8)) AS DECIMAL(38,8)))"))
      .withColumn("sigma",
        sqrt((col("n").cast("double") * col("syy").cast("double")
          - col("sy").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * (col("n").cast("double") - 1.0))))
      .withColumn("dd", lit(0.05) * col("sigma"))
      .withColumn("lam", lit(3.0) * col("sigma"))
    // mean'/m'/u' are INLINED per reference (a lambda has no lets) — the
    // oracle spells the identical inlined text, so the op order matches
    val meanP = "(acc.mean + (y - acc.mean) / CAST(acc.t + 1 AS DOUBLE))"
    val mP = s"(acc.m + (y - $meanP - dd))"
    val uP = s"(acc.u + (y - $meanP + dd))"
    val ph = ser.withColumn("ph",
      expr(s"""aggregate(ys,
        |  named_struct('t', CAST(0 AS BIGINT), 'mean', CAST(0 AS DOUBLE),
        |    'm', CAST(0 AS DOUBLE), 'mmin', CAST(0 AS DOUBLE),
        |    'u', CAST(0 AS DOUBLE), 'umax', CAST(0 AS DOUBLE),
        |    'arr', CAST(array() AS ARRAY<STRUCT<pi: DOUBLE, pd: DOUBLE>>)),
        |  (acc, y) -> named_struct(
        |    't', acc.t + 1,
        |    'mean', $meanP,
        |    'm', $mP,
        |    'mmin', least(acc.mmin, $mP),
        |    'u', $uP,
        |    'umax', greatest(acc.umax, $uP),
        |    'arr', concat(acc.arr, array(named_struct(
        |      'pi', $mP - least(acc.mmin, $mP),
        |      'pd', greatest(acc.umax, $uP) - $uP))))).arr""".stripMargin))
    ph.select(col("event_type"), col("lam"),
        posexplode(expr(
          "zip_with(sr, ph, (a, p) -> named_struct(" +
            "'day', a.day, 'rev', a.rev, 'pi', p.pi, 'pd', p.pd))"))
          .as(Seq("i", "e")))
      .select(col("event_type"), col("e.day").as("day"),
        col("e.rev").as("rev"),
        round(col("e.pi"), 6).as("ph_up"),
        round(col("e.pd"), 6).as("ph_down"),
        round(col("lam"), 6).as("lambda"),
        (col("e.pi") > col("lam") || col("e.pd") > col("lam")).as("breach"))
      .orderBy(col("event_type"), col("day"))
  }

  // -------------------------------------------------------------- agg_kll

  /** MERGEABLE QUANTILE SKETCH ROLLUP — the rank twin of
    * `agg_sketch_rollup`'s HLLs: per (returnflag, linestatus) cell a
    * [[graft.expr.DetKllSketch]] over extended price (deterministic
    * alternating-compaction KLL — see the expression's scaladoc for why
    * RNG-free), then the binary sketches MERGE up to returnflag — the
    * store-per-shard / union-at-query pattern that exact `agg_percentile`
    * cannot do (an exact median is not re-aggregable; a KLL union is).
    * Reports exact n (preamble) and q10/q50/q90/q99 estimates.
    *
    * Sketch-key discipline (`agg_approx_distinct` class): estimates are
    * not DuckDB-expressible → declared NO-ORACLE; PropertySpec pins the
    * H/k worst-case rank-error bound at sf0.001 AND sf0.1 across a
    * 1/4/32 partition sweep, and exactness at n ≤ k. */
  val aggKll: Q = (s, d) => {
    val K = graft.expr.KllQuantiles
    val cells = T.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(K.sketchAgg(col("l_extendedprice").cast("double")).as("sk"))
    cells.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_cells"), K.sketchAgg(col("sk")).as("sk"))
      .select(col("l_returnflag"), col("n_cells"),
        K.n(col("sk")).as("n"),
        round(K.quantile(col("sk"), lit(0.1)), 2).as("q10"),
        round(K.quantile(col("sk"), lit(0.5)), 2).as("q50"),
        round(K.quantile(col("sk"), lit(0.9)), 2).as("q90"),
        round(K.quantile(col("sk"), lit(0.99)), 2).as("q99"))
      .orderBy(col("l_returnflag"))
  }

  // --------------------------------------------------------------- registry

  val queries: Map[String, Q] = Map(
    "dedup_decontaminate" -> dedupDecontaminate,
    "text_bm25" -> textBm25,
    "events_cusum_chart" -> eventsCusumChart,
    "events_page_hinkley" -> eventsPageHinkley,
    "dedup_threshold_sweep" -> dedupThresholdSweep,
    "agg_kll" -> aggKll,
  )

  /** DuckDB oracle texts. SqlCatalog serves all but two as is (text_bm25
    * through the DuckDB-named functions GraftExtensions registers);
    * dedup_decontaminate and dedup_threshold_sweep use list primitives,
    * so each dialect spells its own. */
  val oracles: Map[String, String] = Map(
    "dedup_decontaminate" -> {
      val h = LlmPipeline.h48Sql("g")
      s"""WITH ${LlmPipeline.corpusSql},
         |train AS (SELECT doc_id AS train_id,
         |            string_split(lower(trim(text)), ' ') AS l FROM corpus),
         |bench AS (SELECT doc_id AS eval_id,
         |            string_split(lower(trim(text)), ' ') AS l
         |          FROM documents WHERE doc_id % 7 = 0),
         |tg AS (SELECT DISTINCT train_id, $h AS hv FROM (
         |  SELECT train_id, unnest(list_transform(range(1, len(l) - 6),
         |    i -> array_to_string(l[CAST(i AS INT):CAST(i AS INT) + 7], ' '))) AS g
         |  FROM train WHERE len(l) >= 8)),
         |bg AS (SELECT DISTINCT eval_id, $h AS hv FROM (
         |  SELECT eval_id, unnest(list_transform(range(1, len(l) - 6),
         |    i -> array_to_string(l[CAST(i AS INT):CAST(i AS INT) + 7], ' '))) AS g
         |  FROM bench WHERE len(l) >= 8)),
         |bs AS (SELECT eval_id, COUNT(*) AS n_eval_grams FROM bg GROUP BY eval_id),
         |hits AS (SELECT t.train_id, b.eval_id, COUNT(*) AS n_shared
         |  FROM tg t JOIN bg b ON t.hv = b.hv
         |  GROUP BY t.train_id, b.eval_id)
         |SELECT train_id, eval_id, n_shared, n_eval_grams,
         |  n_shared * 1000000 // n_eval_grams AS ppm,
         |  CAST(n_shared * 1000000 // n_eval_grams AS DOUBLE) / 1000000.0
         |    AS containment
         |FROM hits JOIN bs USING (eval_id)
         |WHERE n_shared * 1000000 // n_eval_grams >= 500000
         |ORDER BY train_id, eval_id""".stripMargin
    },

    "text_bm25" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY doc_id),
        |dfc AS (SELECT term, COUNT(*) AS df
        |        FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term),
        |scal AS (SELECT
        |    (SELECT COUNT(*) FROM documents) AS n_total,
        |    CAST((SELECT COUNT(*) FROM terms) AS DOUBLE)
        |      / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS avgdl),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfc.df, dl.dl,
        |    round(ln((CAST(scal.n_total AS DOUBLE) - CAST(dfc.df AS DOUBLE) + 0.5)
        |            / (CAST(dfc.df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf.tf AS DOUBLE) * 2.2)
        |      / (CAST(tf.tf AS DOUBLE)
        |         + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / scal.avgdl)),
        |      6) AS score
        |  FROM tf JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN scal),
        |ranked AS (
        |  SELECT doc_id, term, tf, df, dl, score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
        |  FROM scored)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf, df, dl, score
        |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    // CUSUM recursion replayed as a RECURSIVE CTE — identical zero init
    // and identical IEEE op order per step (the EWMA-chart device)
    "events_cusum_chart" -> {
      val dsumSql = graft.core.Numeric.dsumSql _
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |    ${dsumSql("value")} AS rev
         |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
         |idx AS (
         |  SELECT event_type, day, rev,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
         |  FROM daily),
         |m AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(CAST(rev AS DECIMAL(20,8))) AS sy,
         |    SUM(CAST(CAST(rev AS DECIMAL(20,8))
         |      * CAST(rev AS DECIMAL(20,8)) AS DECIMAL(38,8))) AS syy
         |  FROM idx GROUP BY event_type HAVING COUNT(*) >= 2),
         |lims AS (
         |  SELECT event_type,
         |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         |    CAST(0.5 AS DOUBLE)
         |      * sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
         |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS kk,
         |    CAST(4 AS DOUBLE)
         |      * sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
         |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS hh
         |  FROM m),
         |rec AS (
         |  SELECT idx.event_type, CAST(1 AS BIGINT) AS t,
         |    greatest(CAST(0 AS DOUBLE),
         |      CAST(0 AS DOUBLE) + (idx.rev - l0.mu - l0.kk)) AS sp,
         |    greatest(CAST(0 AS DOUBLE),
         |      CAST(0 AS DOUBLE) + (l0.mu - idx.rev - l0.kk)) AS sn
         |  FROM idx JOIN lims l0 ON idx.event_type = l0.event_type
         |  WHERE idx.rn = 1
         |  UNION ALL
         |  SELECT r.event_type, r.t + 1,
         |    greatest(CAST(0 AS DOUBLE), r.sp + (d.rev - l.mu - l.kk)),
         |    greatest(CAST(0 AS DOUBLE), r.sn + (l.mu - d.rev - l.kk))
         |  FROM rec r
         |  JOIN idx d ON d.event_type = r.event_type AND d.rn = r.t + 1
         |  JOIN lims l ON l.event_type = r.event_type)
         |SELECT idx.event_type, idx.day, idx.rev,
         |  CAST(round(rec.sp, 6) AS DOUBLE) AS cusum_hi,
         |  CAST(round(rec.sn, 6) AS DOUBLE) AS cusum_lo,
         |  CAST(round(lims.hh, 6) AS DOUBLE) AS h_limit,
         |  (rec.sp > lims.hh OR rec.sn > lims.hh) AS breach
         |FROM idx
         |JOIN rec ON idx.event_type = rec.event_type AND idx.rn = rec.t
         |JOIN lims ON idx.event_type = lims.event_type
         |ORDER BY idx.event_type, idx.day""".stripMargin
    },

    // threshold sweep over ONE materialized candidate set; grid rows with
    // zero survivors zero-fill (cramers_v grid-completion rule)
    "dedup_threshold_sweep" -> {
      import LlmPipeline.{corpusSql, shingleSetsSql, jaccSql}
      s"""WITH $corpusSql,
         |$shingleSetsSql,
         |pairs AS (
         |  SELECT sa.doc_id AS a, sb.doc_id AS b, round($jaccSql, 6) AS jr
         |  FROM ssets sa JOIN ssets sb
         |    ON sa.doc_id % 252000 >= 200000 AND sb.doc_id % 252000 < 200000
         |  WHERE $jaccSql >= 0.7),
         |g AS (SELECT CAST(t AS DOUBLE) AS t FROM (VALUES (0.7), (0.75),
         |  (0.8), (0.85), (0.9)) v(t)),
         |agg AS (
         |  SELECT g.t, COUNT(*) AS n_pairs,
         |    COUNT(DISTINCT pairs.a) AS n_vars,
         |    COUNT(DISTINCT pairs.b) AS n_bases
         |  FROM pairs CROSS JOIN g WHERE pairs.jr >= g.t GROUP BY g.t)
         |SELECT g.t AS threshold,
         |  COALESCE(agg.n_pairs, 0) AS n_pairs,
         |  COALESCE(agg.n_vars, 0) AS n_vars,
         |  COALESCE(agg.n_bases, 0) AS n_bases
         |FROM g LEFT JOIN agg ON agg.t = g.t
         |ORDER BY threshold""".stripMargin
    },

    // Page-Hinkley recursion replayed as a RECURSIVE CTE: the running
    // mean is INLINED into the m/u steps exactly as the fold's lambda
    // inlines it — identical IEEE op order, bit-equal doubles
    "events_page_hinkley" -> {
      val dsumSql = graft.core.Numeric.dsumSql _
      val sig =
        """sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
          |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))""".stripMargin
      val mean1 = "(CAST(0 AS DOUBLE) + (idx.rev - CAST(0 AS DOUBLE)) / CAST(1 AS DOUBLE))"
      val m1 = s"(CAST(0 AS DOUBLE) + (idx.rev - $mean1 - l0.dd))"
      val u1 = s"(CAST(0 AS DOUBLE) + (idx.rev - $mean1 + l0.dd))"
      val meanS = "(r.mean + (d.rev - r.mean) / CAST(r.t + 1 AS DOUBLE))"
      val mS = s"(r.m + (d.rev - $meanS - l.dd))"
      val uS = s"(r.u + (d.rev - $meanS + l.dd))"
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |    ${dsumSql("value")} AS rev
         |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
         |idx AS (
         |  SELECT event_type, day, rev,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
         |  FROM daily),
         |mo AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(CAST(rev AS DECIMAL(20,8))) AS sy,
         |    SUM(CAST(CAST(rev AS DECIMAL(20,8))
         |      * CAST(rev AS DECIMAL(20,8)) AS DECIMAL(38,8))) AS syy
         |  FROM idx GROUP BY event_type HAVING COUNT(*) >= 2),
         |lims AS (
         |  SELECT event_type,
         |    CAST(0.05 AS DOUBLE) * $sig AS dd,
         |    CAST(3 AS DOUBLE) * $sig AS lam
         |  FROM mo),
         |rec AS (
         |  SELECT idx.event_type, CAST(1 AS BIGINT) AS t,
         |    $mean1 AS mean,
         |    $m1 AS m,
         |    least(CAST(0 AS DOUBLE), $m1) AS mmin,
         |    $u1 AS u,
         |    greatest(CAST(0 AS DOUBLE), $u1) AS umax
         |  FROM idx JOIN lims l0 ON idx.event_type = l0.event_type
         |  WHERE idx.rn = 1
         |  UNION ALL
         |  SELECT r.event_type, r.t + 1,
         |    $meanS,
         |    $mS,
         |    least(r.mmin, $mS),
         |    $uS,
         |    greatest(r.umax, $uS)
         |  FROM rec r
         |  JOIN idx d ON d.event_type = r.event_type AND d.rn = r.t + 1
         |  JOIN lims l ON l.event_type = r.event_type)
         |SELECT idx.event_type, idx.day, idx.rev,
         |  CAST(round(rec.m - rec.mmin, 6) AS DOUBLE) AS ph_up,
         |  CAST(round(rec.umax - rec.u, 6) AS DOUBLE) AS ph_down,
         |  CAST(round(lims.lam, 6) AS DOUBLE) AS lambda,
         |  (rec.m - rec.mmin > lims.lam OR rec.umax - rec.u > lims.lam)
         |    AS breach
         |FROM idx
         |JOIN rec ON idx.event_type = rec.event_type AND idx.rn = rec.t
         |JOIN lims ON idx.event_type = lims.event_type
         |ORDER BY idx.event_type, idx.day""".stripMargin
    },
  )
}
