package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.api.CheckpointStrategy
import graft.core.Numeric.dbl
import graft.core.{Tables => T}

/** Data-insight / curation operators — round-7 widening of the declared
  * surface (SURVEY §2.2) past the reference's two-statement scope
  * (`/root/reference/db.cpp:428-441`): corpus-balancing samplers, skew
  * observability, blocklist filtering, contrastive-pair mining, exact
  * correlation and activity CCDF (the graph keys of this batch live in
  * [[Graph]]). Every op follows the
  * engine's determinism discipline (portable hashes, exact decimal or
  * integer moments, round-then-cast doubles, total ORDER BY) so the
  * DuckDB oracle hash-matches bit-for-bit.
  */
object Insights {
  type Q = (SparkSession, String) => DataFrame

  /** Portable 48-bit hash (md5 prefix — [[graft.expr.Md5Prefix48]]),
    * identical to DuckDB's `CAST('0x'||substr(md5(x),1,12) AS BIGINT)`. */
  private def h48(c: Column): Column = graft.expr.Md5Prefix48.md548(c)

  /** CLASS-BALANCED sampling — cap each class (language) at K docs, the
    * mixture-rebalancing primitive every multilingual training corpus
    * needs (a raw web crawl is 10:1 English-heavy; the training mix is
    * not). Selection within a class follows the portable (md5-48, id)
    * total order, so the kept set is a pure row property: reproducible
    * across engines, partitionings and reruns, and STABLE under corpus
    * appends in the same sense as `sample_split`'s hash gate. The rank
    * filter is `row_number ≤ K` over (class | hash, id) — Spark rewrites
    * rank-limit filters into WindowGroupLimit, so each map task keeps a
    * K-row heap per class and the shuffle carries O(classes · K) rows,
    * not the corpus: the 100 TB cost is one scan + a bounded shuffle. */
  val sampleBalanced: Q = (s, d) => {
    val k = 40
    val hk = h48(concat(lit("bal:"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))
    T.documents(s, d)
      .select(col("doc_id"), col("lang"), hk.as("hk"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("lang"), col("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  /** JOIN-KEY SKEW REPORT — the observability pass behind every salting /
    * AQE-skew decision in this engine (`join_skew_salted`, `agg_salted`):
    * per-key frequencies for a prospective join key, the top-10 heaviest
    * keys with their row share, and the global skew ratio
    * max·keys ⁄ rows (1.0 = uniform). At 100 TB this is the query you run
    * BEFORE the big join: one partial-aggregated groupBy (map-side
    * combine — the shuffle carries one row per distinct key), a scalar
    * stats row that broadcasts, and a bounded top-10. Nothing here is
    * proportional to input rows after the first aggregate. */
  val metaSkewReport: Q = (s, d) => {
    val cnt = T.orders(s, d).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"))
    val stats = cnt.agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
      max(col("cnt")).as("max_cnt"))
    cnt.orderBy(col("cnt").desc, col("o_custkey")).limit(10)
      .crossJoin(broadcast(stats))
      .select(col("o_custkey"), col("cnt"),
        round(col("cnt").cast("double") / col("n_rows").cast("double"), 6)
          .as("share"),
        col("n_keys"),
        round(col("max_cnt").cast("double") * col("n_keys").cast("double")
          / col("n_rows").cast("double"), 4).as("skew_ratio"))
      .orderBy(col("cnt").desc, col("o_custkey"))
  }

  /** BLOCKLIST-DENSITY filter audit — the safety-filter stage of a
    * training pipeline (NSFW / boilerplate wordlists): a doc is flagged
    * when ≥ 12% of its tokens come from the blocklist (density, not mere
    * presence — on web-scale corpora almost every long doc CONTAINS any
    * given common term once; density is what the production filters
    * threshold on). The list is a query literal (broadcast-sized by
    * construction); the density is a fused scalar projection over the
    * scan; the only shuffle is the per-source report aggregate. */
  val textBlocklist: Q = (s, d) => {
    val toks = split(col("text"), " ")
    val dens = size(filter(toks, x => x.isin("slow", "dup", "big")))
      .cast("double") / size(toks).cast("double")
    val flagged = when(dens >= 0.12, 1L).otherwise(0L)
    T.documents(s, d)
      .select(col("source"), flagged.as("f"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("f")).as("n_flagged"))
      .select(col("source"), col("n_docs"), col("n_flagged"),
        round(col("n_flagged").cast("double") / col("n_docs").cast("double"), 6)
          .as("flag_rate"))
      .orderBy(col("source"))
  }

  /** CONTRASTIVE-PAIR mining — the embedding-training data generator:
    * adjacent fixed-width token windows of the same document form
    * (anchor, positive) pairs (in-batch negatives come free at training
    * time). Chunking is deterministic (16 whole tokens per chunk, ragged
    * tail dropped so both sides of every pair are full windows); the
    * entire op is a per-row Generate over the scan — embarrassingly
    * parallel, no shuffle except the declared output sort. A 100 TB
    * corpus maps to pair shards in one pass; this is the same
    * tokenize-once discipline as `text_chunk` (which serves inference
    * packing, where ragged tails must be KEPT — hence two keys). */
  val textContrastivePairs: Q = (s, d) => {
    val cw = 16
    T.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("parts"))
      .withColumn("n_chunks", (size(col("parts")) / cw).cast("int"))
      .filter(col("n_chunks") >= 2)
      .select(col("doc_id"), col("parts"),
        explode(sequence(lit(0), col("n_chunks") - 2)).as("i"))
      .select(col("doc_id"), col("i").cast("long").as("pair_idx"),
        concat_ws(" ", slice(col("parts"), col("i") * cw + 1, lit(cw)))
          .as("anchor"),
        concat_ws(" ", slice(col("parts"), col("i") * cw + cw + 1, lit(cw)))
          .as("positive"))
      .orderBy(col("doc_id"), col("pair_idx"))
  }

  /** Exact Pearson CORRELATION MATRIX over lineitem measures — the
    * feature-redundancy screen run before any model training, and the
    * engine's stance on distributed float stats: built-in `corr` is a
    * streaming-covariance aggregate whose result depends on partition
    * merge order, so the engine instead computes the SIX raw moments as
    * exact DECIMAL sums (order-independent — inputs have ≤ 2 decimal
    * digits, so DECIMAL(18,4) products at DECIMAL(37,8) are exact and
    * the DECIMAL(38,8) sums cannot overflow below ~10¹⁴ rows) in ONE
    * map-side-combined aggregate, then applies the closed-form
    *   r = (n·Sxy − Sx·Sy) / (√(n·Sxx − Sx²)·√(n·Syy − Sy²))
    * as a fixed IEEE sequence on the single stats row. One scan, one
    * scalar shuffle row, engine-invariant to the last bit. */
  val aggCorrMatrix: Q = (s, d) => {
    def dec(c: String): Column = col(c).cast("decimal(18,4)")
    val li = T.lineitem(s, d)
    val m = li.agg(
      count(lit(1)).as("n"),
      sum(dec("l_quantity")).as("sq"),
      sum(dec("l_extendedprice")).as("sp"),
      sum(dec("l_discount")).as("sd"),
      sum(dec("l_quantity") * dec("l_quantity")).as("sqq"),
      sum(dec("l_extendedprice") * dec("l_extendedprice")).as("spp"),
      sum(dec("l_discount") * dec("l_discount")).as("sdd"),
      sum(dec("l_quantity") * dec("l_extendedprice")).as("sqp"),
      sum(dec("l_quantity") * dec("l_discount")).as("sqd"),
      sum(dec("l_extendedprice") * dec("l_discount")).as("spd"))
    val pairs = m.select(explode(array(
      struct(lit("l_quantity").as("col_x"), lit("l_extendedprice").as("col_y"),
        col("n"), col("sq").as("sx"), col("sp").as("sy"),
        col("sqq").as("sxx"), col("spp").as("syy"), col("sqp").as("sxy")),
      struct(lit("l_quantity").as("col_x"), lit("l_discount").as("col_y"),
        col("n"), col("sq").as("sx"), col("sd").as("sy"),
        col("sqq").as("sxx"), col("sdd").as("syy"), col("sqd").as("sxy")),
      struct(lit("l_extendedprice").as("col_x"), lit("l_discount").as("col_y"),
        col("n"), col("sp").as("sx"), col("sd").as("sy"),
        col("spp").as("sxx"), col("sdd").as("syy"), col("spd").as("sxy"))))
      .as("p")).select(col("p.*"))
    pairs.select(col("col_x"), col("col_y"),
      round((dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy"))
        / (sqrt(dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx"))
          * sqrt(dbl("n") * dbl("syy") - dbl("sy") * dbl("sy"))), 6)
        .as("corr"))
      .orderBy(col("col_x"), col("col_y"))
  }

  /** Per-user activity CCDF — the survival-curve view of engagement
    * ("what share of users produced ≥ N events"), the retention-quality
    * metric next to `agg_retention`'s day-grid and `events_rfm`'s bands.
    * Per-user counts partial-aggregate map-side and collapse to the
    * bucket GRID (≤ a few hundred rows regardless of user count); the
    * descending cumulative itself is then a grid⋈grid triangle join —
    * NOT a partition-less running-sum window, the one plan shape the
    * engine bans everywhere (PlanSpec sweeps for it): the tiny grid
    * broadcasts, so the cumulative costs |grid|² pair rows instead of
    * funneling anything through a single reducer. */
  val eventsCcdf: Q = (s, d) => {
    val bw = 5
    val u = T.events(s, d).groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val tot = u.agg(count(lit(1)).as("nu"))
    val g = u.select((col("n") - pmod(col("n"), lit(bw.toLong))).as("min_events"))
      .groupBy(col("min_events")).agg(count(lit(1)).as("c"))
    val hi = g.select(col("min_events").as("b2"), col("c").as("c2"))
    g.select(col("min_events"))
      .join(broadcast(hi), col("b2") >= col("min_events"))
      .groupBy(col("min_events")).agg(sum(col("c2")).as("n_users_ge"))
      .crossJoin(broadcast(tot))
      .select(col("min_events"), col("n_users_ge"),
        round(col("n_users_ge").cast("double") / col("nu").cast("double"), 6)
          .as("share"))
      .orderBy(col("min_events"))
  }

  /** RADIUS (range) similarity search — the threshold companion to
    * `sim_topk`'s rank cut: every corpus vector within cosine ≥ 0.2 of
    * each probe, for a bounded probe set (1-in-50 id slice). The probe
    * side broadcasts with precomputed norms, the corpus scan stays
    * embarrassingly parallel, and each pair costs ONE fused
    * [[graft.expr.FloatDotProduct]] — the `VectorSearch.topK` discipline
    * minus the window (a threshold needs no per-probe ranking state at
    * all). The corpus never self-joins; at 100 TB the cost is
    * |corpus| · |probes| fused dot products, the floor for exact radius
    * search, and the IVF-cell route (`sim_topk_ivf`) is the declared
    * approximate escape when the probe set itself grows. Scores round
    * to 6 before the threshold test, so the keep/drop decision cannot
    * flip on a ulp between engines. */
  val simRadius: Q = (s, d) => {
    val tau = 0.2
    def dotp(x: Column, y: Column): Column =
      graft.expr.FloatDotProduct.fdot(x, y)
    val e = T.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        sqrt(dotp(col("embedding"), col("embedding"))).as("norm"))
    val p = e.filter(col("vec_id") % 50 === 7)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        col("norm").as("pn"))
    broadcast(p).crossJoin(e)
      .filter(col("probe_id") =!= col("vec_id"))
      .withColumn("cos",
        round(dotp(col("pe"), col("embedding")) / (col("pn") * col("norm")), 6))
      .filter(col("cos") >= tau)
      .select(col("probe_id"), col("vec_id").as("cand_id"), col("cos"))
      .orderBy(col("probe_id"), col("cos").desc, col("cand_id"))
  }

  /** Lag-k AUTOCORRELATION of the daily event-count series per type —
    * the seasonality detector feeding `events_forecast`'s lag-7 naive
    * model (a strong lag-7 autocorrelation is what justifies it) and
    * `agg_seasonality`'s weekday profile. The series is the tiny daily
    * GRID (one count per (type, day)); lag pairing is a self-equi-join
    * on (type, day+lag) — at 100 TB the grid is still days × types
    * rows, so everything after the first aggregate is model-sized.
    * Counts are integers → DECIMAL(19,0) moments are exact; the Pearson
    * closed form runs once per (type, lag) row. */
  val aggAutocorr: Q = (s, d) => {
    val daily = T.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val lagged = daily.select(col("event_type"),
      col("day"), col("n").as("x"),
      explode(array(lit(1), lit(7))).as("lag"))
    val d2 = daily.select(col("event_type"), col("day").as("day2"),
      col("n").as("y"))
    def dec(c: Column): Column = c.cast("decimal(19,0)")
    val pairs = lagged.join(d2, Seq("event_type"))
      .filter(col("day2") === date_add(col("day"), col("lag")))
    val mom = pairs.groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("np"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"))
    mom.select(col("event_type"), col("lag").cast("long").as("lag"),
        col("np").as("n_pairs"),
        round((dbl("np") * dbl("sxy") - dbl("sx") * dbl("sy"))
          / (sqrt(dbl("np") * dbl("sxx") - dbl("sx") * dbl("sx"))
            * sqrt(dbl("np") * dbl("syy") - dbl("sy") * dbl("sy"))), 6)
          .as("autocorr"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** Per-user INTER-EVENT GAP profile — the engagement-cadence /
    * churn-risk signal next to `events_sessionize` (whose 30-minute gap
    * threshold this query is how you calibrate): per user, the count,
    * max and mean of second-granularity gaps between consecutive
    * events. The lag window is user-partitioned (the scalable window
    * shape — state is one row per task), gaps are exact integers
    * (truncate-to-second diffs, identical in both engines), and the
    * result is one row per user. */
  val eventsGaps: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    T.events(s, d)
      .withColumn("gap",
        unix_timestamp(col("ts")) - lag(unix_timestamp(col("ts")), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(col("gap")).as("n_gaps"), max(col("gap")).as("max_gap_s"),
        round(sum(col("gap")).cast("double") / count(col("gap")).cast("double"), 6)
          .as("avg_gap_s"))
      .orderBy(col("user_id"))
  }

  /** Bigram NOVELTY scoring — per-doc share of bigrams whose global
    * FIRST occurrence (min doc_id) is this doc: the marginal-contribution
    * measure behind dedup-aware data valuation (a doc full of
    * already-seen n-grams adds little; the SSI/D4 family of curation
    * methods ranks on exactly this signal). Grams travel as portable
    * 48-bit hashes, never strings — the shuffle carries (doc, hash)
    * pairs; first-occurrence is one gram-keyed aggregate (map-side
    * combined), credit assignment one hash join back. Tokenize-once:
    * the gram stream is an index-sequence Generate over the scan. */
  val textNovelty: Q = (s, d) => {
    val g = T.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("parts"))
      .filter(size(col("parts")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("parts")) - 1)).as("i"),
        col("parts"))
      .select(col("doc_id"),
        h48(concat_ws(" ", slice(col("parts"), col("i"), lit(2)))).as("gh"))
      .distinct()
    val fo = g.groupBy(col("gh")).agg(min(col("doc_id")).as("fd"))
    g.join(fo, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams").cast("double"), 6)
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** HARD-NEGATIVE mining for contrastive training — the similarity
    * band BELOW the duplicate threshold: per probe, the top-5 corpus
    * vectors with cosine in [0.05, 0.2) — similar enough to be
    * informative negatives, far enough to not be positives (the
    * `text_contrastive_pairs` anchor/positive generator's counterpart).
    * Same plan family as `sim_radius`/`sim_topk`: broadcast probes with
    * precomputed norms, one fused dot per pair, band filter on the
    * ROUNDED score, then a per-probe window top-5 (bounded state). */
  val simHardNegatives: Q = (s, d) => {
    def dotp(x: Column, y: Column): Column =
      graft.expr.FloatDotProduct.fdot(x, y)
    val e = T.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        sqrt(dotp(col("embedding"), col("embedding"))).as("norm"))
    val p = e.filter(col("vec_id") % 50 === 23)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        col("norm").as("pn"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    broadcast(p).crossJoin(e)
      .filter(col("probe_id") =!= col("vec_id"))
      .withColumn("cos",
        round(dotp(col("pe"), col("embedding")) / (col("pn") * col("norm")), 6))
      .filter(col("cos") >= 0.05 && col("cos") < 0.2)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("rnk").cast("long").as("rnk"),
        col("vec_id").as("cand_id"), col("cos"))
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** Higher-moment distribution profile (mean / sample stddev /
    * SKEWNESS) per order status — `agg_stats` extended to the third
    * moment, the long-tail detector a pricing or fraud pipeline reports
    * before choosing transforms. All three raw moments are exact
    * decimals in ONE aggregate: S3 multiplies through a staged
    * (19,2)→(19,4) cast chain so BOTH engines stay on their 128-bit
    * decimal path with zero scale adjustment (a (12,2)³ spelling
    * overflows DuckDB's int64 fast path; a (19,4)² spelling trips
    * Spark's precision-loss scale trim — the staged chain does
    * neither). The closed forms run on the 3-row stats grid; the
    * skewness denominator is m2·√m2, NOT pow(m2, 1.5) — pow is not
    * correctly rounded and may differ by an ulp across libm
    * implementations, multiply and sqrt are exact/correctly-rounded
    * everywhere. */
  val aggMoments: Q = (s, d) => {
    val p = col("o_totalprice").cast("decimal(19,2)")
    val m = T.orders(s, d).groupBy(col("o_orderstatus")).agg(
      count(lit(1)).as("n"),
      sum(p).as("s1"),
      sum(p * p).as("s2"),
      sum((p * p).cast("decimal(19,4)") * p).as("s3"))
    val mu = dbl("s1") / dbl("n")
    val m2 = dbl("s2") / dbl("n") - mu * mu
    val m3 = dbl("s3") / dbl("n") - lit(3) * mu * (dbl("s2") / dbl("n")) +
      lit(2) * mu * mu * mu
    m.select(col("o_orderstatus"), col("n"),
        round(mu, 6).as("mean_price"),
        round(sqrt((dbl("n") * dbl("s2") - dbl("s1") * dbl("s1"))
          / (dbl("n") * (col("n") - 1).cast("double"))), 6).as("stddev_price"),
        round(m3 / (m2 * sqrt(m2)), 6).as("skewness"))
      .orderBy(col("o_orderstatus"))
  }

  /** DOMAIN-DRIFT screen — document-frequency rates compared between
    * two source cohorts (sources 0–9 vs 10–19), top-20 most-drifted
    * terms: the distribution-shift check run before mixing a new crawl
    * snapshot into the training corpus (`text_mixture` decides
    * proportions; this query is why you'd change them). One distinct
    * (doc, term) pass, one term-keyed aggregate with conditional
    * per-cohort counts (no pivot join), cohort totals as a broadcast
    * scalar row, bounded top-20 output. Rates round to 6 BEFORE the
    * drift subtraction so the ranking is engine-invariant. */
  val textDomainDrift: Q = (s, d) => {
    val grp = when(substring(col("source"), 4, 10).cast("int") < 10, "a")
      .otherwise("b")
    val docs = T.documents(s, d).select(col("doc_id"), grp.as("grp"), col("text"))
    val tot = docs.agg(
      sum(when(col("grp") === "a", 1L).otherwise(0L)).as("na"),
      sum(when(col("grp") === "b", 1L).otherwise(0L)).as("nb"))
    val td = docs
      .select(col("doc_id"), col("grp"),
        explode(split(col("text"), " ")).as("term"))
      .distinct()
    val dfs = td.groupBy(col("term")).agg(
      sum(when(col("grp") === "a", 1L).otherwise(0L)).as("dfa"),
      sum(when(col("grp") === "b", 1L).otherwise(0L)).as("dfb"))
    dfs.crossJoin(broadcast(tot))
      .select(col("term"),
        round(col("dfa").cast("double") / col("na").cast("double"), 6)
          .as("rate_a"),
        round(col("dfb").cast("double") / col("nb").cast("double"), 6)
          .as("rate_b"))
      .withColumn("drift", round(abs(col("rate_a") - col("rate_b")), 6))
      .orderBy(col("drift").desc, col("term"))
      .limit(20)
  }

  /** GROWTH ACCOUNTING — the weekly user-lifecycle ledger (new /
    * retained / resurrected / churned) every consumer dashboard leads
    * with, and the decomposition that explains a flat active-user curve:
    * per (user, week) activity grid, LAG classifies each active week
    * (no prior week → new; prior week = last week → retained; else
    * resurrected), LEAD charges churn to the week AFTER the last active
    * one (censored at the corpus watermark so the final week never
    * reports fake churn). Quick ratio = (new + resurrected) / churned,
    * the standard health summary, div-guarded.
    *
    * 100 TB shape: ONE user_id shuffle builds the per-user week
    * sequence (the `events_sessionize` cost class — per-user rows are
    * bounded); both windows ride that partitioning, and all reported
    * rows live on the week grid. */
  def eventsLifecycle(cp: CheckpointStrategy = CheckpointStrategy.Local): Q =
    (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("wk"))
    // ONE materialization of the lag/lead-annotated user-week grid —
    // the distinct + user shuffle runs once; the active rollup, the
    // churn rollup and the watermark scalar all read the barrier (both
    // window columns ride the same sorted pass)
    val flagged = cp.materialize(T.events(s, d)
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("wk")).distinct()
      .withColumn("prev", lag(col("wk"), 1).over(w))
      .withColumn("nxt", lead(col("wk"), 1).over(w)))
    val cls = flagged.withColumn("cls",
      when(col("prev").isNull, "new")
        .when(datediff(col("wk"), col("prev")) === 7, "retained")
        .otherwise("resurrected"))
    val active = cls.groupBy(col("wk")).agg(
      count(lit(1)).as("n_active"),
      sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
      sum(when(col("cls") === "retained", 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
        .as("n_resurrected"))
    val wm = flagged.agg(max(col("wk")).as("maxwk"))
    val churn = flagged
      .crossJoin(broadcast(wm))
      .filter(date_add(col("wk"), 7) <= col("maxwk"))
      .filter(col("nxt").isNull || datediff(col("nxt"), col("wk")) > 7)
      .groupBy(date_add(col("wk"), 7).as("wk"))
      .agg(count(lit(1)).as("n_churned"))
    active.join(churn, Seq("wk"), "left")
      .select(col("wk"), col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"),
        round((col("n_new") + col("n_resurrected")).cast("double")
          / greatest(coalesce(col("n_churned"), lit(0L)), lit(1L))
            .cast("double"), 6).as("quick_ratio"))
      .orderBy(col("wk"))
  }

  /** SKYLINE (Pareto frontier) — the classic multi-criteria OLAP
    * operator ("cheapest at any given size or better"): per brand, the
    * parts no other part dominates on (minimize retailprice, maximize
    * size), dominance = (price ≤, size ≥, at least one strict). The 2-D
    * skyline reduces to ONE sorted window: collapse parts to the
    * (brand, price) grid with the max size at each price, then a
    * strictly-prior running max over the price order — a grid row is on
    * the frontier iff its max size beats every strictly-cheaper price's
    * max (same-price dominance is already folded into the grid max).
    * No dominance self-join, no quadratic stage.
    *
    * 100 TB shape: the grid agg collapses the corpus per (brand, price)
    * map-side; the window sorts only the grid WITHIN each brand
    * partition (bounded, parallel across brands); the join back to
    * recover the part count at each frontier point is a compound-key
    * hash join against the same grid-sized frame. */
  val aggSkyline: Q = (s, d) => {
    val p = T.part(s, d).select(col("p_brand"),
      col("p_retailprice").as("price"), col("p_size").as("sz"))
    val grid = p.groupBy(col("p_brand"), col("price"))
      .agg(max(col("sz")).as("mx"))
    val w = Window.partitionBy(col("p_brand")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = grid.withColumn("prior_mx", max(col("mx")).over(w))
      .filter(col("prior_mx").isNull || col("prior_mx") < col("mx"))
      .select(col("p_brand"), col("price"), col("mx").as("sz"))
    val atPoint = p.groupBy(col("p_brand"), col("price"), col("sz"))
      .agg(count(lit(1)).as("n_parts"))
    frontier.join(atPoint, Seq("p_brand", "price", "sz"))
      .select(col("p_brand"), col("price"), col("sz"), col("n_parts"))
      .orderBy(col("p_brand"), col("price"))
  }

  /** INTERVAL-UNION COVERAGE — per user, the merged covered time of
    * 30-minute activity intervals (one interval per event): the "how
    * much of their active span is a user actually present" engagement
    * profile, and the relational form of the classic interval-merge
    * (islands) problem. Island detection is the strictly-prior
    * running-max-end window (a new island opens when an event starts
    * after every earlier interval has closed); island ids are a running
    * sum of open flags; both windows ride ONE user_id shuffle
    * (`events_sessionize`'s cost class — state per task is one row).
    * Epoch-second integers end to end; the coverage ratio reports in
    * exact integer per-mille (DIV), so no float crosses the engine
    * boundary.
    *
    * 100 TB shape: every stage is user-partitioned (bounded window
    * state, no global sort); output is one row per user — the same
    * grid class as `events_gaps`. */
  val eventsCoverage: Q = (s, d) => {
    val span = 1800L
    val e = T.events(s, d).select(col("user_id"), col("event_id"),
      unix_timestamp(col("ts")).as("st"))
      .withColumn("en", col("st") + span)
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("st"), col("event_id"))
    val flagged = e
      .withColumn("pmax",
        max(col("en")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("opens",
        when(col("pmax").isNull || col("st") > col("pmax"), 1L)
          .otherwise(0L))
      .withColumn("iid", sum(col("opens"))
        .over(ord.rowsBetween(Window.unboundedPreceding, 0)))
    val islands = flagged.groupBy(col("user_id"), col("iid"))
      .agg(min(col("st")).as("i0"), max(col("en")).as("i1"),
        count(lit(1)).as("nev"))
    islands.groupBy(col("user_id"))
      .agg(sum(col("nev")).as("n_events"),
        count(lit(1)).as("n_islands"),
        sum(col("i1") - col("i0")).as("covered_s"),
        (max(col("i1")) - min(col("i0"))).as("span_s"))
      .withColumn("coverage_pm", expr("(covered_s * 1000) DIV span_s"))
      .orderBy(col("user_id"))
  }

  /** DAU/MAU STICKINESS — the daily active / trailing-28-day active
    * ratio every growth dashboard headlines: the engagement intensity
    * companion to `events_lifecycle`'s flow ledger. The corpus first
    * collapses to the distinct (user, day) grid — the ONLY corpus-scale
    * stage; the trailing window is then a bounded-fanout range join of
    * the grid against the broadcast day list (each grid row matches ≤ 28
    * days — constant expansion, never quadratic), and one grouped
    * distinct count per day produces DAU (conditional on day equality)
    * and MAU-28 together. Stickiness reports in exact integer per-mille
    * (DIV), so no float crosses the engine boundary.
    *
    * 100 TB shape: the day list is O(corpus age) — thousands of rows,
    * always broadcastable; the grid shuffles once on the day key. */
  val eventsStickiness: Q = (s, d) => {
    val grid = T.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val days = grid.select(col("day").as("d")).distinct()
    grid.join(broadcast(days),
        col("day") <= col("d") && col("day") >= date_sub(col("d"), 27))
      .groupBy(col("d"))
      .agg(countDistinct(when(col("day") === col("d"), col("user_id")))
          .as("dau"),
        countDistinct(col("user_id")).as("mau28"))
      .withColumn("stickiness_pm", expr("(dau * 1000) DIV mau28"))
      .select(col("d").as("day"), col("dau"), col("mau28"),
        col("stickiness_pm"))
      .orderBy(col("day"))
  }

  /** LORENZ CONCENTRATION BANDS — the "how many whales carry the
    * revenue" profile per order priority (the operational reading of
    * `agg_gini`'s scalar and `agg_hhi`'s index): customers fold to
    * exact-cent revenue, band by FIXED integer thresholds ($1k/$5k/
    * $10k/$50k/$100k/$500k — the `events_rfm` banding discipline, NOT
    * an ntile whose quantile spelling would need a near-global window),
    * and each band reports its customer count, revenue share, and the
    * top-down cumulative share in exact basis points. The top bands ARE
    * the whale ledger; integer DIV end to end.
    *
    * 100 TB shape: one (priority, customer) hash fold, one map-side
    * banding projection, one band-grid fold; the only window runs on
    * the ≤ 7-row band grid per priority. The quantile alternative
    * (exactly which customer crosses 80 %) would sort the customer grid
    * inside 5 partitions — the near-global-window shape the engine
    * bans; the band profile answers the question at grid cost. */
  val aggLorenzBands: Q = (s, d) => {
    val grid = T.orders(s, d)
      .groupBy(col("o_orderpriority").as("pri"), col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(20,8)")) * 100)
        .cast("decimal(18,0)").as("r"))
    val banded = grid.withColumn("band",
      when(col("r") < 100000L, 0)
        .when(col("r") < 500000L, 1)
        .when(col("r") < 1000000L, 2)
        .when(col("r") < 5000000L, 3)
        .when(col("r") < 10000000L, 4)
        .when(col("r") < 50000000L, 5)
        .otherwise(6))
    val bands = banded.groupBy(col("pri"), col("band"))
      .agg(count(lit(1)).as("n_cust"), sum(col("r")).as("rev"))
    val tot = bands.groupBy(col("pri"))
      .agg(sum(col("rev")).as("tot"), sum(col("n_cust")).as("all_cust"))
    val wTop = Window.partitionBy(col("pri")).orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    bands.withColumn("cum", sum(col("rev")).over(wTop))
      .join(tot, "pri")
      .select(col("pri").as("o_orderpriority"), col("band"),
        col("n_cust"), col("all_cust"),
        expr("CAST((rev * 10000) DIV tot AS BIGINT)").as("share_bp"),
        expr("CAST((cum * 10000) DIV tot AS BIGINT)").as("cum_share_bp"))
      .orderBy(col("o_orderpriority"), col("band").desc)
  }

  /** JENSEN-SHANNON drift per source vs the corpus — the bounded,
    * symmetric divergence a mixture monitor alarms on ([[textDomainDrift]]
    * ranks individual TERMS by document-frequency shift; this scores each
    * SOURCE's whole unigram distribution in one number ∈ [0, ln 2]):
    * distributions live on the bounded top-256 global vocabulary + one
    * OOV class (the text_perplexity scale rule), P = source, Q = corpus,
    * JSD = ½·KL(P‖M) + ½·KL(Q‖M) with M the midpoint. Every log term is
    * computed on the (source × 257)-cell model grid and rounded to 8
    * decimals BEFORE the decimal sum, so results are independent of cell
    * enumeration order.
    *
    * 100 TB shape: one token explode feeds TWO bounded aggregates
    * (per-(source, term) and global-term counts); the grid completion
    * (sources × vocab cross join, zero-filled) and the JSD fold never
    * touch corpus-scale rows again. */
  val textJsdDrift: Q = (s, d) => {
    val toks = T.documents(s, d).select(col("source"),
      explode(split(col("text"), " ")).as("tok"))
    val gCounts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val vocab = gCounts.orderBy(col("c").desc, col("tok")).limit(256)
      .select(col("tok"))
    val mapped = toks
      .join(broadcast(vocab.withColumn("inv", lit(1))), Seq("tok"), "left")
      .select(col("source"),
        when(col("inv").isNull, lit("<oov>")).otherwise(col("tok"))
          .as("term"))
    val sc = mapped.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("cs"))
    val gc = mapped.groupBy(col("term")).agg(count(lit(1)).as("cg"))
    val ns = sc.groupBy(col("source")).agg(sum(col("cs")).as("ns"))
    val ng = gc.agg(sum(col("cg")).as("ng"))
    // complete grid: every (source, term) cell, zero-filled source counts
    // (the term side is ≤257 model rows — broadcast, never cartesian)
    val grid = ns.select(col("source"), col("ns"))
      .crossJoin(broadcast(gc.crossJoin(broadcast(ng))))
      .join(sc, Seq("source", "term"), "left")
      .select(col("source"), col("ns"),
        coalesce(col("cs"), lit(0L)).as("cs"), col("cg"), col("ng"))
    val p = col("cs").cast("double") / col("ns").cast("double")
    val q = col("cg").cast("double") / col("ng").cast("double")
    val m = (p + q) / 2.0
    val cell = round(
      when(col("cs") > 0L, p * log(p / m)).otherwise(lit(0.0)) * 0.5
        + when(col("cg") > 0L, q * log(q / m)).otherwise(lit(0.0)) * 0.5, 8)
      .cast("decimal(20,8)")
    grid.select(col("source"), col("ns"), cell.as("cell"))
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_tokens"),
        sum(col("cell")).as("jsd_dec"))
      .select(col("source"), col("n_tokens"),
        round(col("jsd_dec").cast("double"), 6).as("jsd"),
        round(col("jsd_dec").cast("double") / math.log(2.0), 6)
          .as("jsd_norm"))
      .orderBy(col("source"))
  }

  /** FANO FACTOR / BURSTINESS of event arrivals — the dispersion test a
    * capacity planner runs before trusting a Poisson model ([[aggAutocorr]]
    * finds periodic structure; this measures CLUMPING): per event type,
    * the hourly arrival-count grid, then Fano = var/mean (1 ⇒ Poisson,
    * > 1 ⇒ bursty) and the bounded Goh-Barabási burstiness
    * B = (σ−μ)/(σ+μ) ∈ (−1, 1). Counts are integers; the two reported
    * ratios come from exact DECIMAL(38,0) moment sums with one fixed
    * IEEE tail (the agg_hhi rule).
    *
    * 100 TB shape: the corpus folds map-side onto the (type × hour)
    * grid — bounded by the time span, not event volume; the moment fold
    * and ratios are model-sized. */
  val eventsFano: Q = (s, d) => {
    val hourly = T.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
    val n = col("n_hours").cast("double")
    val sm = col("s").cast("double"); val ss = col("ss").cast("double")
    val vr = (n * ss - sm * sm) / (n * (n - 1))
    val mean = sm / n
    hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), sum(col("c")).as("s"),
        sum(col("c").cast("decimal(19,0)") * col("c").cast("decimal(19,0)"))
          .as("ss"))
      .select(col("event_type"), col("n_hours"),
        round(mean, 6).as("mean_rate"),
        // sample variance divides by n-1: a type seen in a SINGLE hour has
        // no dispersion estimate — null, not a 0/0 NaN (ADVICE r9)
        when(col("n_hours") > 1, round(vr / mean, 6)).as("fano"),
        when(col("n_hours") > 1,
          round((sqrt(vr) - mean) / (sqrt(vr) + mean), 6)).as("burstiness"))
      .orderBy(col("event_type"))
  }

  /** AUDIENCE OVERLAP between event types — which behaviors share users
    * (the co-usage matrix a growth team reads before bundling features,
    * and the correlation structure a skew planner checks before
    * co-partitioning): distinct (type, user) pairs, user-keyed self-join
    * with ta < tb, per-pair Jaccard and Szymkiewicz-Simpson overlap
    * coefficients from integer counts.
    *
    * 100 TB shape: the (type, user) distinct collapses event volume
    * map-side; the self-join fans each user out ≤ |types|² — bounded
    * replication, not quadratic in users; the pair grid is |types|². */
  val eventsOverlap: Q = (s, d) => {
    val tu = T.events(s, d)
      .select(col("event_type").as("t"), col("user_id")).distinct()
    val sizes = tu.groupBy(col("t")).agg(count(lit(1)).as("n"))
    val pairs = tu.select(col("t").as("ta"), col("user_id"))
      .join(tu.select(col("t").as("tb"), col("user_id")), Seq("user_id"))
      .filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(sizes.select(col("t").as("ta"), col("n").as("na"))),
        Seq("ta"))
      .join(broadcast(sizes.select(col("t").as("tb"), col("n").as("nb"))),
        Seq("tb"))
      .select(col("ta"), col("tb"), col("na"), col("nb"), col("n_common"),
        round(col("n_common").cast("double")
          / (col("na") + col("nb") - col("n_common")).cast("double"), 6)
          .as("jaccard"),
        round(col("n_common").cast("double")
          / least(col("na"), col("nb")).cast("double"), 6)
          .as("overlap_coef"))
      .orderBy(col("ta"), col("tb"))
  }

  val queries: Map[String, Q] = Map(
    "events_fano" -> eventsFano,
    "events_overlap" -> eventsOverlap,
    "text_jsd_drift" -> textJsdDrift,
    "sample_balanced" -> sampleBalanced,
    "agg_skyline" -> aggSkyline,
    "agg_lorenz_bands" -> aggLorenzBands,
    "events_coverage" -> eventsCoverage,
    "events_stickiness" -> eventsStickiness,
    "events_lifecycle" -> eventsLifecycle(),
    "meta_skew_report" -> metaSkewReport,
    "text_blocklist" -> textBlocklist,
    "text_contrastive_pairs" -> textContrastivePairs,
    "agg_corr_matrix" -> aggCorrMatrix,
    "events_ccdf" -> eventsCcdf,
    "sim_radius" -> simRadius,
    "agg_autocorr" -> aggAutocorr,
    "events_gaps" -> eventsGaps,
    "text_novelty" -> textNovelty,
    "sim_hard_negatives" -> simHardNegatives,
    "agg_moments" -> aggMoments,
    "text_domain_drift" -> textDomainDrift,
  )

  /** DuckDB positional dot product over the 64-dim float lists (the
    * LlmPipeline oracle convention). */
  private def dotSql(a: String, b: String): String =
    s"(SELECT sum(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)) FROM range(1, 65) r(i))"

  val oracles: Map[String, String] = Map(
    // hourly arrival grid + exact decimal moments; ANSI dual-dialect
    "events_fano" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr,
        |    COUNT(*) AS c
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
        |    SUM(c) AS s,
        |    SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS ss
        |  FROM hourly GROUP BY event_type),
        |v AS (
        |  SELECT event_type, n_hours,
        |    (CAST(n_hours AS DOUBLE) * CAST(ss AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |      / (CAST(n_hours AS DOUBLE) * (CAST(n_hours AS DOUBLE) - 1))
        |      AS vr,
        |    CAST(s AS DOUBLE) / CAST(n_hours AS DOUBLE) AS mean
        |  FROM m)
        |SELECT event_type, n_hours,
        |  CAST(round(mean, 6) AS DOUBLE) AS mean_rate,
        |  CAST(CASE WHEN n_hours > 1 THEN round(vr / mean, 6) END AS DOUBLE)
        |    AS fano,
        |  CAST(CASE WHEN n_hours > 1
        |    THEN round((sqrt(vr) - mean) / (sqrt(vr) + mean), 6) END
        |    AS DOUBLE) AS burstiness
        |FROM v ORDER BY event_type""".stripMargin,

    // distinct (type, user) + user-keyed pair join; ANSI dual-dialect
    "events_overlap" ->
      """WITH tu AS (
        |  SELECT DISTINCT event_type AS t, user_id FROM events),
        |sizes AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n
        |          FROM tu GROUP BY t),
        |pairs AS (
        |  SELECT a.t AS ta, b.t AS tb, CAST(COUNT(*) AS BIGINT) AS n_common
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id
        |  WHERE a.t < b.t GROUP BY a.t, b.t)
        |SELECT ta, tb, sa.n AS na, sb.n AS nb, n_common,
        |  CAST(round(CAST(n_common AS DOUBLE)
        |    / CAST(sa.n + sb.n - n_common AS DOUBLE), 6) AS DOUBLE)
        |    AS jaccard,
        |  CAST(round(CAST(n_common AS DOUBLE)
        |    / CAST(CASE WHEN sa.n < sb.n THEN sa.n ELSE sb.n END AS DOUBLE),
        |    6) AS DOUBLE) AS overlap_coef
        |FROM pairs
        |JOIN sizes sa ON pairs.ta = sa.t
        |JOIN sizes sb ON pairs.tb = sb.t
        |ORDER BY ta, tb""".stripMargin,

    // bounded-vocab JSD: per-cell round-8 decimal terms keep the fold
    // order-free; the CASE/ln spelling mirrors the Spark plan exactly
    "text_jsd_drift" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |gcounts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        |vocab AS (SELECT tok FROM gcounts ORDER BY c DESC, tok LIMIT 256),
        |mapped AS (
        |  SELECT source,
        |    CASE WHEN vocab.tok IS NULL THEN '<oov>' ELSE toks.tok END AS term
        |  FROM toks LEFT JOIN vocab ON toks.tok = vocab.tok),
        |sc AS (SELECT source, term, COUNT(*) AS cs
        |       FROM mapped GROUP BY source, term),
        |gc AS (SELECT term, COUNT(*) AS cg FROM mapped GROUP BY term),
        |ns AS (SELECT source, SUM(cs) AS ns FROM sc GROUP BY source),
        |ng AS (SELECT SUM(cg) AS ng FROM gc),
        |grid AS (
        |  SELECT ns.source, ns.ns, COALESCE(sc.cs, 0) AS cs, gc.cg, ng.ng
        |  FROM ns CROSS JOIN gc CROSS JOIN ng
        |  LEFT JOIN sc ON sc.source = ns.source AND sc.term = gc.term),
        |cells AS (
        |  SELECT source, ns, CAST(round(
        |      CASE WHEN cs > 0 THEN
        |        (CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE))
        |        * ln((CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE))
        |          / ((CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE)
        |            + CAST(cg AS DOUBLE) / CAST(ng AS DOUBLE)) / 2.0))
        |      ELSE 0.0 END * 0.5
        |    + CASE WHEN cg > 0 THEN
        |        (CAST(cg AS DOUBLE) / CAST(ng AS DOUBLE))
        |        * ln((CAST(cg AS DOUBLE) / CAST(ng AS DOUBLE))
        |          / ((CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE)
        |            + CAST(cg AS DOUBLE) / CAST(ng AS DOUBLE)) / 2.0))
        |      ELSE 0.0 END * 0.5, 8) AS DECIMAL(20,8)) AS cell
        |  FROM grid)
        |SELECT source, CAST(MAX(ns) AS BIGINT) AS n_tokens,
        |  CAST(round(CAST(SUM(cell) AS DOUBLE), 6) AS DOUBLE) AS jsd,
        |  CAST(round(CAST(SUM(cell) AS DOUBLE) / ln(2.0), 6) AS DOUBLE)
        |    AS jsd_norm
        |FROM cells GROUP BY source ORDER BY source""".stripMargin,

    "agg_lorenz_bands" ->
      """WITH grid AS (
        |  SELECT o_orderpriority AS pri, o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(20,8))) * 100
        |      AS DECIMAL(18,0)) AS r
        |  FROM orders GROUP BY 1, 2),
        |banded AS (
        |  SELECT pri,
        |    CASE WHEN r < 100000 THEN 0 WHEN r < 500000 THEN 1
        |      WHEN r < 1000000 THEN 2 WHEN r < 5000000 THEN 3
        |      WHEN r < 10000000 THEN 4 WHEN r < 50000000 THEN 5
        |      ELSE 6 END AS band,
        |    r
        |  FROM grid),
        |bands AS (
        |  SELECT pri, band, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |    CAST(SUM(r) AS BIGINT) AS rev
        |  FROM banded GROUP BY pri, band),
        |tot AS (
        |  SELECT pri, SUM(rev) AS tot,
        |    CAST(SUM(n_cust) AS BIGINT) AS all_cust
        |  FROM bands GROUP BY pri),
        |cum AS (
        |  SELECT pri, band, n_cust, rev,
        |    SUM(rev) OVER (PARTITION BY pri ORDER BY band DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bands)
        |SELECT cum.pri AS o_orderpriority, band, n_cust, all_cust,
        |  (rev * 10000) // CAST(tot AS BIGINT) AS share_bp,
        |  (CAST(cum AS BIGINT) * 10000) // CAST(tot AS BIGINT)
        |    AS cum_share_bp
        |FROM cum JOIN tot ON cum.pri = tot.pri
        |ORDER BY o_orderpriority, band DESC""".stripMargin,

    "agg_skyline" ->
      """WITH p AS (SELECT p_brand, p_retailprice AS price, p_size AS sz
        |           FROM part),
        |grid AS (SELECT p_brand, price, MAX(sz) AS mx FROM p GROUP BY 1, 2),
        |f AS (
        |  SELECT p_brand, price, mx,
        |    MAX(mx) OVER (PARTITION BY p_brand ORDER BY price
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_mx
        |  FROM grid),
        |fr AS (
        |  SELECT p_brand, price, mx AS sz FROM f
        |  WHERE prior_mx IS NULL OR prior_mx < mx),
        |ap AS (
        |  SELECT p_brand, price, sz, CAST(COUNT(*) AS BIGINT) AS n_parts
        |  FROM p GROUP BY 1, 2, 3)
        |SELECT fr.p_brand, fr.price, fr.sz, ap.n_parts
        |FROM fr JOIN ap ON fr.p_brand = ap.p_brand
        |  AND fr.price = ap.price AND fr.sz = ap.sz
        |ORDER BY fr.p_brand, fr.price""".stripMargin,

    "events_coverage" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    CAST(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
        |      AS BIGINT) AS st
        |  FROM events),
        |iv AS (SELECT user_id, event_id, st, st + 1800 AS en FROM e),
        |fl AS (
        |  SELECT user_id, event_id, st, en,
        |    MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |op AS (
        |  SELECT user_id, event_id, st, en,
        |    CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END AS opens
        |  FROM fl),
        |isl AS (
        |  SELECT user_id, st, en,
        |    SUM(opens) OVER (PARTITION BY user_id ORDER BY st, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
        |  FROM op),
        |islands AS (
        |  SELECT user_id, iid, MIN(st) AS i0, MAX(en) AS i1,
        |    COUNT(*) AS nev
        |  FROM isl GROUP BY user_id, iid),
        |users AS (
        |  SELECT user_id, CAST(SUM(nev) AS BIGINT) AS n_events,
        |    CAST(COUNT(*) AS BIGINT) AS n_islands,
        |    CAST(SUM(i1 - i0) AS BIGINT) AS covered_s,
        |    CAST(MAX(i1) - MIN(i0) AS BIGINT) AS span_s
        |  FROM islands GROUP BY user_id)
        |SELECT user_id, n_events, n_islands, covered_s, span_s,
        |  (covered_s * 1000) // span_s AS coverage_pm
        |FROM users ORDER BY user_id""".stripMargin,

    "events_stickiness" ->
      """WITH grid AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |days AS (SELECT DISTINCT day AS d FROM grid)
        |SELECT d AS day,
        |  CAST(COUNT(DISTINCT CASE WHEN grid.day = d THEN user_id END)
        |    AS BIGINT) AS dau,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau28,
        |  (COUNT(DISTINCT CASE WHEN grid.day = d THEN user_id END) * 1000)
        |    // COUNT(DISTINCT user_id) AS stickiness_pm
        |FROM grid JOIN days ON grid.day <= d AND grid.day >= d - 27
        |GROUP BY d ORDER BY day""".stripMargin,

    "events_lifecycle" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, wk,
        |    lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev,
        |    lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS nxt
        |  FROM uw),
        |cls AS (
        |  SELECT wk,
        |    CASE WHEN prev IS NULL THEN 'new'
        |      WHEN date_diff('day', prev, wk) = 7 THEN 'retained'
        |      ELSE 'resurrected' END AS cls
        |  FROM flagged),
        |active AS (
        |  SELECT wk, COUNT(*) AS n_active,
        |    SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS n_new,
        |    SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS n_retained,
        |    SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
        |      AS n_resurrected
        |  FROM cls GROUP BY wk),
        |wm AS (SELECT MAX(wk) AS maxwk FROM uw),
        |churn AS (
        |  SELECT wk + 7 AS wk, COUNT(*) AS n_churned
        |  FROM flagged CROSS JOIN wm
        |  WHERE wk + 7 <= maxwk
        |    AND (nxt IS NULL OR date_diff('day', wk, nxt) > 7)
        |  GROUP BY wk + 7)
        |SELECT active.wk, CAST(n_active AS BIGINT) AS n_active,
        |  CAST(n_new AS BIGINT) AS n_new,
        |  CAST(n_retained AS BIGINT) AS n_retained,
        |  CAST(n_resurrected AS BIGINT) AS n_resurrected,
        |  CAST(COALESCE(n_churned, 0) AS BIGINT) AS n_churned,
        |  CAST(round(CAST(n_new + n_resurrected AS DOUBLE)
        |    / CAST(greatest(COALESCE(n_churned, 0), 1) AS DOUBLE), 6)
        |    AS DOUBLE) AS quick_ratio
        |FROM active LEFT JOIN churn ON active.wk = churn.wk
        |ORDER BY active.wk""".stripMargin,

    // portable md5-48 order, rank cap per class
    "sample_balanced" ->
      """SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY CAST('0x' || substr(md5('bal:' || CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT),
        |      doc_id) AS rk
        |  FROM documents) t WHERE rk <= 40 ORDER BY lang, rk""".stripMargin,

    "meta_skew_report" ->
      """WITH c AS (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey),
        |s AS (SELECT COUNT(*) AS n_keys, SUM(cnt) AS n_rows, MAX(cnt) AS max_cnt FROM c)
        |SELECT c.o_custkey, c.cnt,
        |  CAST(round(CAST(c.cnt AS DOUBLE) / CAST(s.n_rows AS DOUBLE), 6) AS DOUBLE) AS share,
        |  CAST(s.n_keys AS BIGINT) AS n_keys,
        |  CAST(round(CAST(s.max_cnt AS DOUBLE) * CAST(s.n_keys AS DOUBLE)
        |    / CAST(s.n_rows AS DOUBLE), 4) AS DOUBLE) AS skew_ratio
        |FROM c CROSS JOIN s ORDER BY c.cnt DESC, c.o_custkey LIMIT 10""".stripMargin,

    // density (not presence) over the token list; threshold on the exact
    // integer-ratio double — identical list semantics both engines
    "text_blocklist" ->
      """WITH f AS (SELECT source,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    x -> list_contains(['slow','dup','big'], x))) AS DOUBLE)
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS dens
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN dens >= 0.12 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(round(CAST(SUM(CASE WHEN dens >= 0.12 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS flag_rate
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    // whole-window pairs only (ragged tail dropped); 1-based inclusive
    // list slices mirror Spark's slice(parts, start, length)
    "text_contrastive_pairs" ->
      """WITH p AS (SELECT doc_id, string_split(text, ' ') AS parts FROM documents),
        |g AS (SELECT doc_id, parts, CAST(len(parts) // 16 AS BIGINT) AS n_chunks FROM p),
        |idx AS (SELECT unnest(generate_series(0, 62)) AS i)
        |SELECT doc_id, CAST(i AS BIGINT) AS pair_idx,
        |  array_to_string(parts[(i*16+1):(i*16+16)], ' ') AS anchor,
        |  array_to_string(parts[(i*16+17):(i*16+32)], ' ') AS positive
        |FROM g CROSS JOIN idx WHERE n_chunks >= 2 AND i <= n_chunks - 2
        |ORDER BY doc_id, pair_idx""".stripMargin,

    // six exact decimal moments -> the same fixed IEEE closed form
    "agg_corr_matrix" ->
      """WITH m AS (SELECT COUNT(*) AS n,
        |  SUM(CAST(l_quantity AS DECIMAL(19,4))) AS sq,
        |  SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS sp,
        |  SUM(CAST(l_discount AS DECIMAL(19,4))) AS sd,
        |  SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS sqq,
        |  SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS spp,
        |  SUM(CAST(l_discount AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4))) AS sdd,
        |  SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS sqp,
        |  SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4))) AS sqd,
        |  SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4))) AS spd
        |  FROM lineitem)
        |SELECT col_x, col_y, CAST(round(
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |  AS DOUBLE) AS corr
        |FROM (
        |  SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
        |    n, sq AS sx, sp AS sy, sqq AS sxx, spp AS syy, sqp AS sxy FROM m
        |  UNION ALL SELECT 'l_quantity', 'l_discount',
        |    n, sq, sd, sqq, sdd, sqd FROM m
        |  UNION ALL SELECT 'l_extendedprice', 'l_discount',
        |    n, sp, sd, spp, sdd, spd FROM m) t
        |ORDER BY col_x, col_y""".stripMargin,

    "events_ccdf" ->
      """WITH u AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
        |tot AS (SELECT COUNT(*) AS nu FROM u),
        |g AS (SELECT (n // 5) * 5 AS min_events, COUNT(*) AS c FROM u GROUP BY 1)
        |SELECT CAST(min_events AS BIGINT) AS min_events,
        |  CAST(SUM(c) OVER (ORDER BY min_events DESC) AS BIGINT) AS n_users_ge,
        |  CAST(round(CAST(SUM(c) OVER (ORDER BY min_events DESC) AS DOUBLE)
        |    / CAST(tot.nu AS DOUBLE), 6) AS DOUBLE) AS share
        |FROM g CROSS JOIN tot ORDER BY min_events""".stripMargin,

    // exact integer moments on the (type, day) grid; lag pairing by date
    // arithmetic; Pearson closed form in fixed IEEE order
    "agg_autocorr" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d1.event_type, l.lag, d1.n AS x, d2.n AS y
        |  FROM daily d1
        |  CROSS JOIN (SELECT 1 AS lag UNION ALL SELECT 7) l
        |  JOIN daily d2 ON d2.event_type = d1.event_type
        |    AND d2.day = d1.day + CAST(l.lag AS INT)),
        |m AS (SELECT event_type, lag, COUNT(*) AS np,
        |  SUM(CAST(x AS DECIMAL(19,0))) AS sx, SUM(CAST(y AS DECIMAL(19,0))) AS sy,
        |  SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
        |  SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy,
        |  SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy
        |  FROM pairs GROUP BY 1, 2)
        |SELECT event_type, CAST(lag AS BIGINT) AS lag, CAST(np AS BIGINT) AS n_pairs,
        |  CAST(round((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (sqrt(CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * sqrt(CAST(np AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS DOUBLE) AS autocorr
        |FROM m ORDER BY event_type, lag""".stripMargin,

    // truncate-to-second gaps are exact integers in both engines
    "events_gaps" ->
      """WITH g AS (SELECT user_id,
        |  date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap
        |  FROM events)
        |SELECT user_id, COUNT(gap) AS n_gaps, CAST(MAX(gap) AS BIGINT) AS max_gap_s,
        |  CAST(round(CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(gap) AS DOUBLE), 6) AS DOUBLE) AS avg_gap_s
        |FROM g WHERE gap IS NOT NULL GROUP BY user_id ORDER BY user_id""".stripMargin,

    // 2-token grams as portable 48-bit hashes; 1-based inclusive slices
    "text_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |  CAST('0x' || substr(md5(array_to_string(l[i:i+1], ' ')), 1, 12) AS BIGINT) AS gh
        |  FROM t CROSS JOIN (SELECT unnest(generate_series(1, 120)) AS i) s
        |  WHERE i <= len(l) - 1),
        |fo AS (SELECT gh, MIN(doc_id) AS fd FROM g GROUP BY gh)
        |SELECT g.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN fo.fd = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(round(CAST(SUM(CASE WHEN fo.fd = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS novelty
        |FROM g JOIN fo USING (gh) GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    // the sim_topk window discipline restricted to the negative band
    "sim_hard_negatives" ->
      s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pe
         |  FROM embeddings WHERE vec_id % 50 = 23),
         |s AS (SELECT probe_id, c.vec_id AS cand_id,
         |  round(${dotSql("pe", "c.embedding")}
         |    / (sqrt(${dotSql("pe", "pe")}) * sqrt(${dotSql("c.embedding", "c.embedding")})), 6) AS cos
         |  FROM p JOIN embeddings c ON c.vec_id <> p.probe_id),
         |b AS (SELECT probe_id, cand_id, cos,
         |  ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rnk
         |  FROM s WHERE cos >= 0.05 AND cos < 0.2)
         |SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, cand_id, cos
         |FROM b WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin,

    // staged (19,2)->(19,4) cast chain keeps both engines exact-int128;
    // skew denominator spelled m2*sqrt(m2) (pow is not correctly rounded)
    "agg_moments" ->
      """WITH m AS (SELECT o_orderstatus, COUNT(*) AS n,
        |  SUM(CAST(o_totalprice AS DECIMAL(19,2))) AS s1,
        |  SUM(CAST(o_totalprice AS DECIMAL(19,2)) * CAST(o_totalprice AS DECIMAL(19,2))) AS s2,
        |  SUM(CAST(CAST(o_totalprice AS DECIMAL(19,2)) * CAST(o_totalprice AS DECIMAL(19,2)) AS DECIMAL(19,4))
        |    * CAST(o_totalprice AS DECIMAL(19,2))) AS s3
        |  FROM orders GROUP BY 1)
        |SELECT o_orderstatus, CAST(n AS BIGINT) AS n,
        |  CAST(round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS DOUBLE) AS mean_price,
        |  CAST(round(sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))), 6) AS DOUBLE) AS stddev_price,
        |  CAST(round(
        |    (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - 3 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
        |      + 2 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
        |    / (((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
        |      * sqrt((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))), 6)
        |  AS DOUBLE) AS skewness
        |FROM m ORDER BY o_orderstatus""".stripMargin,

    // rates round to 6 BEFORE the drift subtraction (ranking invariance)
    "text_domain_drift" ->
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN CAST(substr(source, 4) AS INT) < 10 THEN 'a' ELSE 'b' END AS grp,
        |  text FROM documents),
        |tot AS (SELECT
        |  SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS na,
        |  SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS nb FROM d),
        |td AS (SELECT DISTINCT doc_id, grp, unnest(string_split(text, ' ')) AS term FROM d),
        |dfs AS (SELECT term,
        |  SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS dfa,
        |  SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS dfb
        |  FROM td GROUP BY term),
        |rates AS (SELECT term,
        |  CAST(round(CAST(dfa AS DOUBLE) / CAST(tot.na AS DOUBLE), 6) AS DOUBLE) AS rate_a,
        |  CAST(round(CAST(dfb AS DOUBLE) / CAST(tot.nb AS DOUBLE), 6) AS DOUBLE) AS rate_b
        |  FROM dfs CROSS JOIN tot)
        |SELECT term, rate_a, rate_b,
        |  CAST(round(abs(rate_a - rate_b), 6) AS DOUBLE) AS drift
        |FROM rates ORDER BY drift DESC, term LIMIT 20""".stripMargin,

    // round-6-then-threshold: the keep decision tests identical values
    "sim_radius" ->
      s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pe
         |  FROM embeddings WHERE vec_id % 50 = 7),
         |s AS (SELECT probe_id, c.vec_id AS cand_id,
         |  round(${dotSql("pe", "c.embedding")}
         |    / (sqrt(${dotSql("pe", "pe")}) * sqrt(${dotSql("c.embedding", "c.embedding")})), 6) AS cos
         |  FROM p JOIN embeddings c ON c.vec_id <> p.probe_id)
         |SELECT probe_id, cand_id, cos FROM s WHERE cos >= 0.2
         |ORDER BY probe_id, cos DESC, cand_id""".stripMargin,
  )
}
