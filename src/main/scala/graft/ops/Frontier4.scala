package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Numeric.{dbl, dsum}
import graft.core.{Tables => T}

/** Round-13 operator batch: catalog statistics feeding the cost-based
  * optimizer end-to-end (`meta_analyze` — the last untested leg of "the
  * plans you'd want at 100x scale": `meta_profile` COMPUTES ANALYZE-grade
  * stats, this key PERSISTS them and pins a plan decision CONSUMING it),
  * plus the round's widening batch: paired inference (`agg_ttest_paired`,
  * `sample_poisson_boot`), capture-recapture cardinality estimation
  * (`agg_chapman`), vocabulary-growth law fitting (`text_heaps`),
  * dedup-saturation audit (`dedup_saturation`), and two
  * retrieval-fusion/audit keys (`sim_rrf`, `sim_recall_curve`).
  *
  * Reference semantics anchor: statements over scanned tables with
  * engine-invariant arithmetic (`/root/reference/db.cpp:487-502`
  * executeSelect discipline — every declared result is a deterministic
  * function of the stored rows).
  */
object Frontier4 {
  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------------------ meta_analyze

  /** Managed tables backing the ANALYZE pass; the PlanSpec CBO pin and the
    * statement script reference the same names. */
  val AnOrders = "graft_an_orders"
  val AnCustomer = "graft_an_customer"
  val AnNation = "graft_an_nation"

  /** Run `f` with the cost-based optimizer (and its join-reorder rule)
    * enabled, FORCING the plan while the conf is live — `executedPlan` is
    * a lazy val, so the restored conf can never re-plan the returned
    * frame — then restore both flags so no other declared key plans under
    * CBO (plan pins elsewhere assume the stats-less planner). */
  def withCbo(s: SparkSession)(f: => DataFrame): DataFrame = {
    val keys = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    val prev = keys.map(k => k -> s.conf.get(k))
    keys.foreach(k => s.conf.set(k, "true"))
    try { val df = f; df.queryExecution.executedPlan; df }
    finally prev.foreach { case (k, v) => s.conf.set(k, v) }
  }

  /** The 3-way join the CBO pin audits, DECLARED in the worst order (the
    * two big tables first, the filtered tiny dimension last): with
    * catalog stats + CBO the join-reorder rule rewrites it to shrink
    * customer through the 1-in-5 nation filter BEFORE meeting orders;
    * without stats the optimizer executes the declared order. Split out
    * so PlanSpec audits the join without the CTAS or the final agg. */
  def analyzedReadback(s: SparkSession): DataFrame =
    s.table(AnOrders)
      .join(s.table(AnCustomer), col("o_custkey") === col("c_custkey"))
      .join(s.table(AnNation).filter(col("n_regionkey") === 1),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))

  /** ANALYZE-STATS-TO-PLAN — the missing half of `meta_profile`: persist
    * exact row counts + per-column stats (ndv, min/max, null counts) into
    * the catalog via `ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL
    * COLUMNS`, then plan a 3-way join WITH the cost-based optimizer
    * consuming them. The declared result is the join readback — exactly
    * plan-invariant, so the oracle (the same join on the source tables)
    * proves the CTAS+ANALYZE+CBO path changes the PLAN and never the
    * ANSWER; PlanSpec pins both plan shapes (stats-less: declared
    * orders-first order; stats+CBO: reordered to filter the tiny
    * dimension first). `analyzed_rows` carries the catalog's persisted
    * rowCount back out — ANALYZE's count is exact, so the oracle checks
    * it as COUNT(*), attesting the stats the optimizer consumed are the
    * true cardinalities.
    *
    * 100 TB shape: ANALYZE is one counting scan per table, paid ONCE at
    * ingest and amortized over every subsequent plan; the stats
    * themselves are catalog-resident (bytes per column — no data moves).
    * At 1000 executors a mis-ordered 3-way join shuffles the fact table
    * into a dimension it could have met pre-filtered; the reorder the pin
    * asserts is the difference between shuffling 100 TB and 4 TB. */
  val metaAnalyze: Q = (s, d) => {
    Seq(AnOrders, AnCustomer, AnNation).foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      // a previously-failed run can leave an orphan managed-table location
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"spark-warehouse/$t"))
    }
    T.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"))
      .write.mode("overwrite").saveAsTable(AnOrders)
    T.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      .write.mode("overwrite").saveAsTable(AnCustomer)
    T.nation(s, d).select(col("n_nationkey"), col("n_name"),
        col("n_regionkey"))
      .write.mode("overwrite").saveAsTable(AnNation)
    Seq(AnOrders, AnCustomer, AnNation).foreach { t =>
      s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
    }
    val analyzedRows = s.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(AnOrders))
      .stats.flatMap(_.rowCount).map(_.toLong).getOrElse(-1L)
    withCbo(s) {
      analyzedReadback(s)
        .withColumn("analyzed_rows", lit(analyzedRows))
        .orderBy(col("n_name"))
    }
  }

  // -------------------------------------------------------- agg_ttest_paired

  /** PAIRED t-TEST — the within-subject A/B design (`agg_welch` compares
    * two independent cohorts; pairing differences out the per-customer
    * level, the higher-power design experiment platforms prefer when the
    * same unit sees both arms): per customer, arm A = total spend on even
    * order keys, arm B = on odd; customers with at least one order in
    * EACH arm form the pairs; t = mean(d) / sqrt(var(d)/n) on the paired
    * differences d = A − B in exact integer cents.
    *
    * All moments are exact (BIGINT cents, DECIMAL(38,0) squares) so the
    * t/df pair is ONE fixed IEEE expression of exact integers —
    * engine-reproducible at any partition count. Guarded to NULL when
    * n ≤ 1 (the `agg_welch` n≤1 class: Spark non-ANSI NULLs the 0/0,
    * DuckDB IEEE-divides).
    *
    * 100 TB shape: one customer-keyed hash aggregate (map-side partial)
    * folds the corpus to |customers| rows; the paired-difference moments
    * fold those to ONE row. No window, no join, no second fact pass. */
  val aggTtestPaired: Q = (s, d) => {
    val o = T.orders(s, d).select(col("o_custkey"),
      (col("o_orderkey") % 2 === 0).as("in_a"),
      expr("CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,8)), 2) * 100" +
        " AS BIGINT)").as("y"))
    val per = o.groupBy(col("o_custkey")).agg(
      sum(when(col("in_a"), col("y")).otherwise(lit(0L))).as("a"),
      sum(when(!col("in_a"), col("y")).otherwise(lit(0L))).as("b"),
      sum(when(col("in_a"), lit(1L)).otherwise(lit(0L))).as("ca"),
      sum(when(!col("in_a"), lit(1L)).otherwise(lit(0L))).as("cb"))
    val pairs = per.filter(col("ca") > 0 && col("cb") > 0)
      .select((col("a") - col("b")).as("dd"))
    val m = pairs.agg(count(lit(1)).as("n"),
      sum(col("dd")).as("sd"),
      sum(col("dd").cast("decimal(38,0)") * col("dd")).as("sdd"))
    val mean = dbl("sd") / dbl("n")
    val vr = (dbl("sdd") - dbl("sd") * dbl("sd") / dbl("n")) /
      (dbl("n") - 1.0)
    val wellPosed = col("n") > 1L
    m.select(col("n").as("n_pairs"),
      round(mean / 100.0, 6).as("mean_diff"),
      when(wellPosed, round(mean / sqrt(vr / dbl("n")), 6)).as("t"),
      (col("n") - 1L).as("df"))
  }

  // ----------------------------------------------------------- agg_chapman

  /** CAPTURE-RECAPTURE CARDINALITY (Chapman estimator) — estimate the TRUE
    * vocabulary size from two disjoint half-corpus samples: capture A =
    * tokens seen in even-id docs, capture B = in odd-id docs, overlap m =
    * tokens in both; N̂ = (n_A+1)(n_B+1)/(m+1) − 1 (Chapman's
    * bias-corrected Lincoln–Petersen). The LLM-pipeline use: estimate the
    * distinct-token (or distinct-document) population of a 100 TB corpus
    * from two shards WITHOUT a global distinct — then `est_over_true`
    * audits the estimator against the exact count the small SF affords.
    *
    * 100 TB shape: one token fold to (token, seen_in_A, seen_in_B) —
    * map-side partial max flags — then ONE global count fold. The exact
    * `v_true` audit column is the same fold; no second corpus pass. */
  val aggChapman: Q = (s, d) => {
    val toks = T.documents(s, d)
      .select(col("doc_id") % 2 === 0 as "even",
        explode(split(col("text"), " ")).as("tok"))
    val flags = toks.groupBy(col("tok")).agg(
      max(when(col("even"), 1L).otherwise(0L)).as("in_a"),
      max(when(!col("even"), 1L).otherwise(0L)).as("in_b"))
    val m = flags.agg(
      sum(col("in_a")).as("n_a"), sum(col("in_b")).as("n_b"),
      sum(col("in_a") * col("in_b")).as("overlap"),
      count(lit(1)).as("v_true"))
    val nHat = (dbl("n_a") + 1.0) * (dbl("n_b") + 1.0) /
      (dbl("overlap") + 1.0) - 1.0
    m.select(col("n_a"), col("n_b"), col("overlap"), col("v_true"),
      round(nHat, 4).as("n_hat"),
      round(nHat / dbl("v_true"), 6).as("est_over_true"))
  }

  // ------------------------------------------------------------ text_heaps

  /** HEAPS'-LAW FIT — type growth V(N) ≈ k·N^β over the corpus in doc-id
    * order, the scaling law data teams fit to forecast vocab (and
    * dedup-index) size at 10× the corpus. The TYPE is the word TRIGRAM
    * (shingle): on a closed word vocabulary (this synthetic corpus has
    * one — the unigram curve saturates in the first band, β = 0) the
    * shingle space is what actually keeps growing, and shingles are what
    * dedup indexes store, so their Heaps exponent is the one that sizes
    * the index. The doc-id axis folds into 16 equal-width bands; V_cum(b)
    * counts shingles whose FIRST band ≤ b (one min-band fold per type —
    * no corpus-order window), N_cum(b) is the running shingle total; β, k
    * from the 16-point least-squares fit of log V on log N. Per-point
    * logs round to 8 dp and sum as exact decimals (the `agg_entropy`
    * device), so the fit is ONE fixed IEEE expression of exact sums.
    *
    * 100 TB shape: shingling is a map-side array transform; one
    * (shingle, min_band) map-side-combinable fold; one 16-row grid
    * (cumulative = the events_ccdf broadcast triangle, never a
    * partition-less window). The corpus is never globally ordered; the
    * band is pure row arithmetic off the broadcast max-id scalar. */
  val textHeaps: Q = (s, d) => {
    val docs = T.documents(s, d)
    val mx = docs.agg((max(col("doc_id")) + 1L).as("mxp1"))
    val toks = docs.crossJoin(broadcast(mx))
      .select(floor(col("doc_id").cast("double") * 16.0 / col("mxp1"))
        .cast("long").as("band"), split(col("text"), " ").as("l"))
      .filter(size(col("l")) >= 3)
      .select(col("band"), explode(expr(
        "transform(sequence(0, size(l) - 3)," +
          " i -> concat_ws(' ', l[i], l[i+1], l[i+2]))")).as("tok"))
    val perBand = toks.groupBy(col("band")).agg(count(lit(1)).as("n_toks"))
    val firstBand = toks.groupBy(col("tok")).agg(min(col("band")).as("fb"))
      .groupBy(col("fb")).agg(count(lit(1)).as("v_new"))
    // cumulative over the 16-band grid as a broadcast triangle join (the
    // events_ccdf device) — never a partition-less running-sum window
    val g = perBand
      .join(firstBand.withColumnRenamed("fb", "band"), Seq("band"), "left")
      .select(col("band"), col("n_toks"),
        coalesce(col("v_new"), lit(0L)).as("v_new"))
    val hi = g.select(col("band").as("b2"), col("n_toks").as("t2"),
      col("v_new").as("v2"))
    val grid = g.select(col("band"))
      .join(broadcast(hi), col("b2") <= col("band"))
      .groupBy(col("band"))
      .agg(sum(col("t2")).as("toks_cum"), sum(col("v2")).as("vocab_cum"))
    val pts = grid.select(col("band"), col("toks_cum"), col("vocab_cum"),
      round(log(col("toks_cum").cast("double")), 8)
        .cast("decimal(20,8)").as("x"),
      round(log(col("vocab_cum").cast("double")), 8)
        .cast("decimal(20,8)").as("y"))
    val f = pts.agg(count(lit(1)).as("np"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val beta = (dbl("np") * dbl("sxy") - dbl("sx") * dbl("sy")) /
      (dbl("np") * dbl("sxx") - dbl("sx") * dbl("sx"))
    val fit = f.select(round(beta, 6).as("beta"),
      round(exp(dbl("sy") / dbl("np") - beta * (dbl("sx") / dbl("np"))), 4)
        .as("k"))
    pts.select(col("band"), col("toks_cum"), col("vocab_cum"))
      .crossJoin(broadcast(fit))
      .orderBy(col("band"))
  }

  // ------------------------------------------------------- dedup_saturation

  /** DEDUP-SATURATION CURVE — "how much duplication is LEFT to find as the
    * corpus grows": exact copies are planted (every 5th doc re-appears at
    * +500000 with identical text), arrival order is randomized by the
    * portable 48-bit hash into 4 equal waves, and each cumulative prefix
    * reports its duplicate rate plus the MARGINAL rate of the newest wave
    * — the curve a crawl pipeline watches to decide when re-crawling
    * stops paying. Cumulative distincts need no per-prefix rescan: a text
    * is new exactly in its FIRST wave (one min-wave fold per text hash),
    * so dups_cum(w) = rows_cum(w) − firsts_cum(w).
    *
    * 100 TB shape: one fold to (text-hash, min_wave) — map-side
    * combinable on the 48-bit hash, never the text — one 4-row grid with
    * a 4-row cumulative window. The corpus shuffles its hashes once. */
  val dedupSaturation: Q = (s, d) => {
    val docs = T.documents(s, d)
    val corpus = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text")))
    val waved = corpus.select(
      (graft.expr.Md5Prefix48.md548(col("doc_id").cast("string")) % 4)
        .as("wave"),
      md5(col("text")).as("th"))
    val rows = waved.groupBy(col("wave")).agg(count(lit(1)).as("n_rows"))
    val firsts = waved.groupBy(col("th")).agg(min(col("wave")).as("fw"))
      .groupBy(col("fw")).agg(count(lit(1)).as("n_first"))
    // per-wave grid: a row is a duplicate exactly when its text's first
    // wave precedes (or ties inside) its own, so the wave's marginal dup
    // count is n_rows − n_first — no lag window; the cumulative is the
    // events_ccdf broadcast triangle join over the 4-row grid
    val g = rows
      .join(firsts.withColumnRenamed("fw", "wave"), Seq("wave"), "left")
      .select(col("wave"), col("n_rows"),
        coalesce(col("n_first"), lit(0L)).as("n_first"))
    val hi = g.select(col("wave").as("w2"), col("n_rows").as("r2"),
      col("n_first").as("f2"))
    g.select(col("wave"), col("n_rows"), col("n_first"))
      .join(broadcast(hi), col("w2") <= col("wave"))
      .groupBy(col("wave"), col("n_rows"), col("n_first"))
      .agg(sum(col("r2")).as("rows_cum"), sum(col("f2")).as("distinct_cum"))
      .select(col("wave"), col("rows_cum"), col("distinct_cum"),
        (col("rows_cum") - col("distinct_cum")).as("dups_cum"),
        round((col("rows_cum") - col("distinct_cum")).cast("double")
          / col("rows_cum"), 6).as("dup_rate"),
        round((col("n_rows") - col("n_first")).cast("double")
          / col("n_rows"), 6).as("marginal_rate"))
      .orderBy(col("wave"))
  }

  // ---------------------------------------------------- sample_poisson_boot

  /** POISSON BOOTSTRAP — the bootstrap that scales: instead of resampling
    * n rows WITH replacement (a global operation), each row draws an
    * independent Poisson(1) replicate count per bootstrap replicate —
    * the standard large-scale approximation (multinomial → Poisson as
    * n → ∞), embarrassingly parallel and reproducible because the draw
    * is a pure row property: u = portable-48-bit-hash(key|rep) mod 1e6,
    * inverted through the integer-scaled Poisson(1) CDF table
    * (thresholds = floor(1e6·CDF(k)), k = 0..7). Per (order priority ×
    * 8 replicates): the replicate's weighted mean spend in exact cents.
    * The spread across the 8 replicate means IS the bootstrap SE — kept
    * as declared rows so the consumer picks the quantile flavor.
    *
    * 100 TB shape: the replicate axis is a broadcast 8-row table; one
    * (priority, rep)-keyed hash aggregate (map-side partial) folds the
    * ×8 row stream; no shuffle carries more than the grid. */
  val samplePoissonBoot: Q = (s, d) => {
    // floor(1e6 * CDF_Poisson(1)(k)): e^{-1}·(1, 2, 2.5, 8/3, ...) — the
    // same literal table in the oracle text; u uniform on [0, 1e6)
    val cdf = Seq(367879L, 735758L, 919698L, 980998L, 996327L, 999392L,
      999903L, 999976L)
    val reps = T.nation(s, d).filter(col("n_nationkey") < 8)
      .select(col("n_nationkey").cast("long").as("rep"))
    val o = T.orders(s, d).select(col("o_orderpriority"), col("o_orderkey"),
      expr("CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,8)), 2) * 100" +
        " AS BIGINT)").as("y"))
    val u = graft.expr.Md5Prefix48.md548(
      concat_ws("|", col("o_orderkey"), col("rep"))) % 1000000L
    val k = cdf.zipWithIndex.foldRight(lit(8L): Column) {
      case ((thr, i), els) => when(u < thr, lit(i.toLong)).otherwise(els)
    }
    o.crossJoin(broadcast(reps))
      .select(col("o_orderpriority"), col("rep"), k.as("k"), col("y"))
      .groupBy(col("o_orderpriority"), col("rep"))
      .agg(sum(col("k")).as("n_drawn"),
        sum(col("k") * col("y")).as("ky"))
      .select(col("o_orderpriority"), col("rep"), col("n_drawn"),
        when(col("n_drawn") > 0L,
          round(col("ky").cast("double") / col("n_drawn") / 100.0, 6))
          .as("boot_mean"))
      .orderBy(col("o_orderpriority"), col("rep"))
  }

  // ---------------------------------------------------------------- sim_rrf

  /** RECIPROCAL-RANK FUSION — the standard zero-training ranker combiner
    * (Cormack et al., SIGIR'09): each probe's cosine top-10 and MIPS
    * top-10 (two genuinely different retrieval orders — alignment vs
    * norm-weighted) fuse by RRF(c) = Σ_r 1/(60 + rank_r(c)), missing from
    * a list contributes 0; the fused top-5 is the hybrid-retrieval
    * answer. Ranks are exact integers, so the fused score is one fixed
    * IEEE expression — engine-reproducible (ties → cand_id).
    *
    * 100 TB shape: both rankers are the declared bounded-probe audit
    * protocol (probes broadcast against the candidate scan; per-probe
    * windows); the fusion itself joins two ≤ 10-row-per-probe lists —
    * grid-sized. Production swaps the brute-force rankers for
    * `sim_topk_ivf`/`sim_topk_pq` with the same fusion tail. */
  val simRrf: Q = (s, d) => {
    val e = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val probes = e.filter(col("vec_id") < 10)
    val cosR = graft.api.VectorSearch.topK(probes, e, "vec_id", "embedding",
        k = 10)
      .select(col("probe_id"), col("cand_id"), col("rnk").as("cos_rnk"))
    val mipsR = graft.api.VectorSearch.mipsTopK(probes, e, "vec_id",
        "embedding", k = 10)
      .select(col("probe_id"), col("cand_id"), col("rnk").as("dot_rnk"))
    val fused = cosR.join(mipsR, Seq("probe_id", "cand_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60.0) + col("cos_rnk")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60.0) + col("dot_rnk")), lit(0.0)), 8))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("rrf").desc, col("cand_id"))
    fused.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("rnk").cast("long").as("rnk"),
        col("cand_id"), col("rrf"), col("cos_rnk"), col("dot_rnk"))
      .orderBy(col("probe_id"), col("rnk"))
  }

  // ------------------------------------------------------- sim_recall_curve

  /** IVF OPERATING CURVE — recall@5 as a function of nprobe (1, 2, 3)
    * against the exact brute-force top-5: the tuning sweep behind every
    * production IVF deployment ("raise nprobe until recall clears the
    * floor"), run as ONE query. `sim_ivf_pq`'s audit columns score a
    * single operating point; this key draws the curve those decisions
    * read. The cell assignment and the probe-cell ranking are computed
    * ONCE; the nprobe axis is a broadcast 3-row table that re-filters the
    * SAME scored candidates (prnk ≤ np) — three operating points for one
    * corpus pass.
    *
    * 100 TB shape: assignment is the one broadcast-centroid argmin pass
    * every IVF key shares; candidates meet probes in a cell equi-join
    * restricted to prnk ≤ 3 cells; the ×3 replication happens on the
    * ≤ |cells-probed| candidate rows, never on the corpus. Ground truth
    * is the standard sampled-probe audit (10 probes, broadcast). */
  val simRecallCurve: Q = (s, d) => {
    import graft.api.VectorSearch.withNorm
    val e = T.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val en = withNorm(e, "embedding")
    val cents = broadcast(withNorm(e.filter(col("vec_id") % 50 === 0),
        "embedding")
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent"),
        col("norm").as("ctn")))
    def cosC(a: Column, b: Column, an: Column, bn: Column) =
      round(graft.expr.FloatDotProduct.fdot(a, b) / (an * bn), 6)
    val wAsg = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id"))
    val assign = en.crossJoin(cents)
      .withColumn("ccos", cosC(col("embedding"), col("cent"), col("norm"),
        col("ctn")))
      .withColumn("arnk", row_number().over(wAsg))
      .filter(col("arnk") === 1)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("norm").as("cn"), col("cent_id").as("cell"))
    val p = en.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        col("norm").as("pn"))
    val wPrb = Window.partitionBy(col("probe_id"))
      .orderBy(col("pcos").desc, col("cent_id"))
    val probeCells = broadcast(p).crossJoin(cents)
      .withColumn("pcos", cosC(col("pe"), col("cent"), col("pn"), col("ctn")))
      .withColumn("prnk", row_number().over(wPrb))
      .filter(col("prnk") <= 3)
      .select(col("probe_id"), col("pe"), col("pn"), col("prnk"),
        col("cent_id").as("cell"))
    val scored = probeCells.join(assign, "cell")
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("cos", cosC(col("pe"), col("ce"), col("pn"), col("cn")))
      .select(col("probe_id"), col("cand_id"), col("cos"), col("prnk"))
    // r14: the hint lives on the JOIN USE below (the ≤-condition BNLJ),
    // not on `nps` itself — a hinted `nps` on the LEFT of the final
    // left-outer join cannot build-left, so Spark dropped the hint and
    // logged a HintErrorLogger warning per run (VERDICT r13 #5).
    val nps = T.nation(s, d)
      .filter(col("n_nationkey") >= 1 && col("n_nationkey") <= 3)
      .select(col("n_nationkey").as("nprobe"))
    val wTop = Window.partitionBy(col("nprobe"), col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    val approx = scored.join(broadcast(nps), col("prnk") <= col("nprobe"))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 5)
      .select(col("nprobe"), col("probe_id"), col("cand_id"))
    val gt = graft.api.VectorSearch.topK(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", k = 5)
      .select(col("probe_id"), col("cand_id"))
    val hits = approx.join(gt, Seq("probe_id", "cand_id"), "left_semi")
      .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hits"))
    val nProbes = p.select(countDistinct(col("probe_id")).as("n_probes"))
    nps.join(broadcast(hits), Seq("nprobe"), "left")
      .crossJoin(broadcast(nProbes))
      .select(col("nprobe").cast("long").as("nprobe"), col("n_probes"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / (col("n_probes") * 5.0), 6).as("recall"))
      .orderBy(col("nprobe"))
  }

  // ------------------------------------------------------------ registration

  val queries: Map[String, Q] = Map(
    "meta_analyze" -> metaAnalyze,
    "agg_ttest_paired" -> aggTtestPaired,
    "agg_chapman" -> aggChapman,
    "text_heaps" -> textHeaps,
    "dedup_saturation" -> dedupSaturation,
    "sample_poisson_boot" -> samplePoissonBoot,
    "sim_rrf" -> simRrf,
    "sim_recall_curve" -> simRecallCurve,
  )

  /** DuckDB oracle texts. */
  val oracles: Map[String, String] = Map(
    "meta_analyze" ->
      """SELECT n_name, COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(20,8))), 2) AS DOUBLE)
        |    AS revenue,
        |  (SELECT COUNT(*) FROM orders) AS analyzed_rows
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey AND n_regionkey = 1
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // dual-dialect ANSI (Spark runs the same text via the SqlCatalog
    // reuse list)
    "agg_ttest_paired" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey % 2 = 0 AS in_a,
        |    CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,8)), 2) * 100
        |      AS BIGINT) AS y
        |  FROM orders),
        |per AS (
        |  SELECT o_custkey,
        |    SUM(CASE WHEN in_a THEN y ELSE 0 END) AS a,
        |    SUM(CASE WHEN in_a THEN 0 ELSE y END) AS b,
        |    SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS cb
        |  FROM o GROUP BY o_custkey),
        |pairs AS (SELECT CAST(a - b AS BIGINT) AS dd FROM per
        |  WHERE ca > 0 AND cb > 0),
        |m AS (SELECT COUNT(*) AS n, SUM(dd) AS sd,
        |  SUM(CAST(dd AS DECIMAL(38,0)) * dd) AS sdd FROM pairs)
        |SELECT CAST(n AS BIGINT) AS n_pairs,
        |  CAST(ROUND(CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6)
        |    AS DOUBLE) AS mean_diff,
        |  CAST(CASE WHEN n > 1 THEN
        |    ROUND((CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
        |      / sqrt(((CAST(sdd AS DOUBLE)
        |          - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)
        |            / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
        |        / CAST(n AS DOUBLE)), 6) END AS DOUBLE) AS t,
        |  CAST(n - 1 AS BIGINT) AS df
        |FROM m""".stripMargin,

    "agg_chapman" ->
      """WITH toks AS (
        |  SELECT doc_id % 2 = 0 AS even,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |flags AS (
        |  SELECT tok, MAX(CASE WHEN even THEN 1 ELSE 0 END) AS in_a,
        |    MAX(CASE WHEN even THEN 0 ELSE 1 END) AS in_b
        |  FROM toks GROUP BY tok),
        |m AS (SELECT SUM(in_a) AS n_a, SUM(in_b) AS n_b,
        |  SUM(in_a * in_b) AS o, COUNT(*) AS v_true FROM flags)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(o AS BIGINT) AS overlap, CAST(v_true AS BIGINT) AS v_true,
        |  CAST(ROUND((CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0)
        |    / (CAST(o AS DOUBLE) + 1.0) - 1.0, 4) AS DOUBLE) AS n_hat,
        |  CAST(ROUND(((CAST(n_a AS DOUBLE) + 1.0)
        |      * (CAST(n_b AS DOUBLE) + 1.0)
        |      / (CAST(o AS DOUBLE) + 1.0) - 1.0)
        |    / CAST(v_true AS DOUBLE), 6) AS DOUBLE) AS est_over_true
        |FROM m""".stripMargin,

    "text_heaps" ->
      """WITH mx AS (SELECT MAX(doc_id) + 1 AS mxp1 FROM documents),
        |docs AS (
        |  SELECT CAST(FLOOR(CAST(doc_id AS DOUBLE) * 16.0 / mxp1) AS BIGINT)
        |      AS band,
        |    string_split(text, ' ') AS l
        |  FROM documents CROSS JOIN mx
        |  WHERE len(string_split(text, ' ')) >= 3),
        |toks AS (
        |  SELECT band,
        |    unnest([l[CAST(i AS INT)] || ' ' || l[CAST(i + 1 AS INT)]
        |      || ' ' || l[CAST(i + 2 AS INT)]
        |      for i in range(1, len(l) - 1)]) AS tok
        |  FROM docs),
        |per_band AS (SELECT band, COUNT(*) AS n_toks FROM toks
        |  GROUP BY band),
        |first_band AS (
        |  SELECT fb AS band, COUNT(*) AS v_new FROM (
        |    SELECT tok, MIN(band) AS fb FROM toks GROUP BY tok) fo
        |  GROUP BY fb),
        |g AS (
        |  SELECT p.band, p.n_toks, COALESCE(v.v_new, 0) AS v_new
        |  FROM per_band p LEFT JOIN first_band v ON p.band = v.band),
        |grid AS (
        |  SELECT a.band, SUM(b.n_toks) AS toks_cum, SUM(b.v_new) AS vocab_cum
        |  FROM g a JOIN g b ON b.band <= a.band GROUP BY a.band),
        |pts AS (
        |  SELECT band, toks_cum, vocab_cum,
        |    CAST(ROUND(ln(CAST(toks_cum AS DOUBLE)), 8) AS DECIMAL(20,8))
        |      AS x,
        |    CAST(ROUND(ln(CAST(vocab_cum AS DOUBLE)), 8) AS DECIMAL(20,8))
        |      AS y
        |  FROM grid),
        |f AS (SELECT COUNT(*) AS np, SUM(x) AS sx, SUM(y) AS sy,
        |  SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM pts)
        |SELECT band, CAST(toks_cum AS BIGINT) AS toks_cum,
        |  CAST(vocab_cum AS BIGINT) AS vocab_cum,
        |  CAST(ROUND((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS DOUBLE)
        |    AS beta,
        |  CAST(ROUND(exp(CAST(sy AS DOUBLE) / CAST(np AS DOUBLE)
        |    - ((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |      * (CAST(sx AS DOUBLE) / CAST(np AS DOUBLE))), 4) AS DOUBLE)
        |    AS k
        |FROM pts CROSS JOIN f ORDER BY band""".stripMargin,

    "dedup_saturation" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000, text FROM documents WHERE doc_id % 5 = 0),
        |waved AS (
        |  SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
        |      AS BIGINT) % 4 AS wave,
        |    md5(text) AS th
        |  FROM corpus),
        |rows_w AS (SELECT wave, COUNT(*) AS n_rows FROM waved
        |  GROUP BY wave),
        |firsts AS (SELECT fw AS wave, COUNT(*) AS n_first FROM (
        |  SELECT th, MIN(wave) AS fw FROM waved GROUP BY th) fo
        |  GROUP BY fw),
        |g AS (SELECT r.wave, r.n_rows, COALESCE(f.n_first, 0) AS n_first
        |  FROM rows_w r LEFT JOIN firsts f ON r.wave = f.wave),
        |c AS (SELECT a.wave, a.n_rows, a.n_first,
        |    SUM(b.n_rows) AS rows_cum, SUM(b.n_first) AS distinct_cum
        |  FROM g a JOIN g b ON b.wave <= a.wave
        |  GROUP BY a.wave, a.n_rows, a.n_first)
        |SELECT wave, CAST(rows_cum AS BIGINT) AS rows_cum,
        |  CAST(distinct_cum AS BIGINT) AS distinct_cum,
        |  CAST(rows_cum - distinct_cum AS BIGINT) AS dups_cum,
        |  CAST(ROUND(CAST(rows_cum - distinct_cum AS DOUBLE)
        |    / CAST(rows_cum AS DOUBLE), 6) AS DOUBLE) AS dup_rate,
        |  CAST(ROUND(CAST(n_rows - n_first AS DOUBLE)
        |    / CAST(n_rows AS DOUBLE), 6) AS DOUBLE) AS marginal_rate
        |FROM c ORDER BY wave""".stripMargin,

    "sample_poisson_boot" ->
      """WITH reps AS (
        |  SELECT n_nationkey AS rep FROM nation WHERE n_nationkey < 8),
        |o AS (SELECT o_orderpriority, o_orderkey,
        |  CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,8)), 2) * 100
        |    AS BIGINT) AS y
        |  FROM orders),
        |drawn AS (
        |  SELECT o_orderpriority, rep, y,
        |    CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
        |         WHEN u < 919698 THEN 2 WHEN u < 980998 THEN 3
        |         WHEN u < 996327 THEN 4 WHEN u < 999392 THEN 5
        |         WHEN u < 999903 THEN 6 WHEN u < 999976 THEN 7
        |         ELSE 8 END AS k
        |  FROM (SELECT o_orderpriority, rep, y,
        |      CAST('0x' || substr(md5(o_orderkey || '|' || rep), 1, 12)
        |        AS BIGINT) % 1000000 AS u
        |    FROM o CROSS JOIN reps) h),
        |m AS (SELECT o_orderpriority, rep, SUM(k) AS n_drawn,
        |    SUM(k * y) AS ky
        |  FROM drawn GROUP BY o_orderpriority, rep)
        |SELECT o_orderpriority, CAST(rep AS BIGINT) AS rep,
        |  CAST(n_drawn AS BIGINT) AS n_drawn,
        |  CAST(CASE WHEN n_drawn > 0 THEN
        |    ROUND(CAST(ky AS DOUBLE) / CAST(n_drawn AS DOUBLE) / 100.0, 6)
        |    END AS DOUBLE) AS boot_mean
        |FROM m ORDER BY o_orderpriority, rep""".stripMargin,

    "sim_rrf" -> {
      import LlmPipeline.{cosineSql, dotSql}
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |cosr AS (
         |  SELECT probe_id, cand_id, rnk AS cos_rnk FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |        ORDER BY round(${cosineSql("p.embedding", "c.embedding")},
         |          6) DESC, c.vec_id) AS rnk
         |    FROM e p JOIN e c
         |      ON p.vec_id < 10 AND c.vec_id <> p.vec_id) rc
         |  WHERE rnk <= 10),
         |mipr AS (
         |  SELECT probe_id, cand_id, rnk AS dot_rnk FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |        ORDER BY round(${dotSql("p.embedding", "c.embedding")},
         |          6) DESC, c.vec_id) AS rnk
         |    FROM e p JOIN e c
         |      ON p.vec_id < 10 AND c.vec_id <> p.vec_id) rm
         |  WHERE rnk <= 10),
         |fused AS (
         |  SELECT COALESCE(c.probe_id, m.probe_id) AS probe_id,
         |    COALESCE(c.cand_id, m.cand_id) AS cand_id,
         |    c.cos_rnk, m.dot_rnk,
         |    ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + c.cos_rnk), 0)
         |      + COALESCE(CAST(1 AS DOUBLE) / (60 + m.dot_rnk), 0), 8)
         |      AS rrf
         |  FROM cosr c FULL OUTER JOIN mipr m
         |    ON c.probe_id = m.probe_id AND c.cand_id = m.cand_id),
         |ranked AS (
         |  SELECT probe_id, cand_id, rrf, cos_rnk, dot_rnk,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY rrf DESC, cand_id) AS rnk
         |  FROM fused)
         |SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, cand_id, rrf,
         |  CAST(cos_rnk AS BIGINT) AS cos_rnk,
         |  CAST(dot_rnk AS BIGINT) AS dot_rnk
         |FROM ranked WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin
    },

    "sim_recall_curve" -> {
      import LlmPipeline.cosineSql
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |cents AS (SELECT vec_id AS cent_id, embedding AS cent FROM e
         |  WHERE vec_id % 50 = 0),
         |assign AS (
         |  SELECT vec_id AS cand_id, embedding AS ce, cell FROM (
         |    SELECT a.vec_id, a.embedding, c.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |        ORDER BY round(${cosineSql("a.embedding", "c.cent")}, 6)
         |          DESC, c.cent_id) AS arnk
         |    FROM e a CROSS JOIN cents c) ac WHERE arnk = 1),
         |pc AS (
         |  SELECT probe_id, pe, cell, prnk FROM (
         |    SELECT p.vec_id AS probe_id, p.embedding AS pe,
         |      c.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |        ORDER BY round(${cosineSql("p.embedding", "c.cent")}, 6)
         |          DESC, c.cent_id) AS prnk
         |    FROM e p CROSS JOIN cents c WHERE p.vec_id < 10) pr
         |  WHERE prnk <= 3),
         |scored AS (
         |  SELECT pc.probe_id, a.cand_id,
         |    round(${cosineSql("pc.pe", "a.ce")}, 6) AS cos, pc.prnk
         |  FROM pc JOIN assign a ON pc.cell = a.cell
         |  WHERE a.cand_id <> pc.probe_id),
         |nps AS (SELECT n_nationkey AS nprobe FROM nation
         |  WHERE n_nationkey BETWEEN 1 AND 3),
         |approx AS (
         |  SELECT nprobe, probe_id, cand_id FROM (
         |    SELECT n.nprobe, s.probe_id, s.cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY n.nprobe, s.probe_id
         |        ORDER BY s.cos DESC, s.cand_id) AS rnk
         |    FROM scored s JOIN nps n ON s.prnk <= n.nprobe) ap
         |  WHERE rnk <= 5),
         |gt AS (
         |  SELECT probe_id, cand_id FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |        ORDER BY round(${cosineSql("p.embedding", "c.embedding")},
         |          6) DESC, c.vec_id) AS rnk
         |    FROM e p JOIN e c
         |      ON p.vec_id < 10 AND c.vec_id <> p.vec_id) gr
         |  WHERE rnk <= 5),
         |hits AS (
         |  SELECT nprobe, COUNT(*) AS n_hits
         |  FROM approx a JOIN gt g
         |    ON a.probe_id = g.probe_id AND a.cand_id = g.cand_id
         |  GROUP BY nprobe),
         |npr AS (SELECT COUNT(DISTINCT vec_id) AS n_probes FROM e
         |  WHERE vec_id < 10)
         |SELECT CAST(n.nprobe AS BIGINT) AS nprobe, n_probes,
         |  CAST(ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
         |    / (n_probes * 5.0), 6) AS DOUBLE) AS recall
         |FROM nps n LEFT JOIN hits h ON n.nprobe = h.nprobe CROSS JOIN npr
         |ORDER BY nprobe""".stripMargin
    },
  )
}
