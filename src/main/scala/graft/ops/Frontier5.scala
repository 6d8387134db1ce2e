package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Numeric.dbl
import graft.core.{Tables => T}

/** Round-13 second widening batch — the inference/agreement gap in the
  * statistics family plus two pipeline-audit keys (the batch's
  * `graph_wcc` lives in [[Graph]]):
  *
  *   - rank statistics on bounded grids (`agg_kendall`, `agg_friedman`)
  *   - paired / categorical agreement (`agg_mcnemar`, `agg_cohens_kappa`)
  *   - resampling-free variance (`agg_jackknife` — delete-one-group)
  *   - corpus self-similarity (`text_self_bleu` — leave-one-out trigram
  *     overlap, the diversity audit next to `text_novelty`)
  *   - sequential decision (`events_sprt` — Wald's SPRT reduced to an
  *     EXACT integer random walk, zero float in the stopping rule)
  *
  * Reference semantics anchor: deterministic statements over scanned
  * tables (`/root/reference/db.cpp:487-502` executeSelect discipline);
  * every key is a pure function of the stored rows with engine-exact
  * arithmetic (integer/decimal folds; one fixed IEEE expression at the
  * end), per the SURVEY §2.2 determinism rule.
  */
object Frontier5 {
  type Q = (SparkSession, String) => DataFrame

  /** Exact order-value cents (the `agg_ttest_paired` device): round the
    * double price to 2dp in decimal, scale to integer cents. */
  private val centsExpr =
    "CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,8)), 2) * 100 AS BIGINT)"

  // --------------------------------------------------------------- agg_kendall

  /** KENDALL τ-b RANK CORRELATION between the weekly order-count and
    * weekly revenue series, per order priority — the robust companion of
    * `agg_spearman` (Spearman ranks the raw values once globally; Kendall
    * counts pairwise order inversions, insensitive to any monotone
    * transform and the standard trend test for short operational series).
    * The corpus folds to the per-(priority, week) grid first — count n
    * and EXACT revenue cents — then every week pair (w₁ < w₂) within a
    * priority is classified by the sign pair (Δn, Δrev): concordant,
    * discordant, or tied on either axis. τ-b = (C − D) /
    * √((n₀−T_x)(n₀−T_y)) handles the tie mass in both margins; NULL when
    * either margin is fully tied (the `agg_kruskal` degenerate-data
    * class).
    *
    * Everything up to τ-b is integer counting on integer differences —
    * exact at any partition count; τ-b is ONE fixed IEEE expression of
    * five exact counts, rounded to 6dp.
    *
    * 100 TB shape: ONE map-side-combinable hash aggregate folds the
    * corpus to |priorities|·|weeks| rows (weeks are CALENDAR-bounded:
    * ~340 at any scale factor, forever); the pair self-join is grid²
    * within priority — ≤ 5·340²/2 ≈ 290k model-sized rows, broadcast
    * territory, NEVER corpus². The fact table shuffles once. */
  val aggKendall: Q = (s, d) => {
    val wk = T.orders(s, d)
      .select(col("o_orderpriority").as("pri"),
        date_trunc("week", col("o_orderdate")).cast("date").as("wk"),
        expr(centsExpr).as("y"))
      .groupBy(col("pri"), col("wk"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("rev"))
    val p = wk.as("a")
      .join(wk.as("b"),
        col("a.pri") === col("b.pri") && col("a.wk") < col("b.wk"))
      .select(col("a.pri").as("pri"),
        (col("b.n") - col("a.n")).as("dx"),
        (col("b.rev") - col("a.rev")).as("dy"))
    val c = p.groupBy(col("pri")).agg(
      sum(when((col("dx") > 0 && col("dy") > 0) ||
        (col("dx") < 0 && col("dy") < 0), 1L).otherwise(0L)).as("conc"),
      sum(when((col("dx") > 0 && col("dy") < 0) ||
        (col("dx") < 0 && col("dy") > 0), 1L).otherwise(0L)).as("disc"),
      sum(when(col("dx") === 0, 1L).otherwise(0L)).as("tx"),
      sum(when(col("dy") === 0, 1L).otherwise(0L)).as("ty"),
      count(lit(1)).as("n0"))
    val nw = wk.groupBy(col("pri")).agg(count(lit(1)).as("n_weeks"))
    c.join(nw, "pri")
      .select(col("pri").as("priority"), col("n_weeks"),
        col("conc").as("concordant"), col("disc").as("discordant"),
        when(col("n0") > col("tx") && col("n0") > col("ty"),
          round(dbl(col("conc") - col("disc")) /
            sqrt(dbl(col("n0") - col("tx")) * dbl(col("n0") - col("ty"))),
            6)).as("tau_b"))
      .orderBy(col("priority"))
  }

  // -------------------------------------------------------------- agg_friedman

  /** FRIEDMAN TEST — the nonparametric repeated-measures ANOVA the
    * `agg_anova`/`agg_kruskal` family lacked (ANOVA assumes normal
    * errors; Kruskal-Wallis assumes INDEPENDENT groups; Friedman ranks
    * WITHIN each block, cancelling the per-block level — the right test
    * for "does priority class shift revenue, month after month"). Blocks
    * = order months (calendar-bounded), treatments = the 5 priorities,
    * response = exact revenue cents per (month, priority); only COMPLETE
    * blocks (all k treatments present) enter, per the classical design.
    * Ranks use midranks kept exact in HALF-units: 2·rank_avg = 2·RANK +
    * (ties−1), an integer. χ²_F = 12/(nk(k+1))·ΣR_j² − 3n(k+1) on the
    * exact half-unit rank sums (ΣR_j² = ΣR2_j²/4), df = k−1.
    *
    * 100 TB shape: one map-side-combinable fold to the |months|·k grid
    * (≤ ~80·5 rows at ANY corpus size), a grid-partitioned rank window,
    * and a k-row reduce. The corpus shuffles once. */
  val aggFriedman: Q = (s, d) => {
    val cell = T.orders(s, d)
      .select(col("o_orderpriority").as("pri"),
        date_trunc("month", col("o_orderdate")).cast("date").as("mo"),
        expr(centsExpr).as("y"))
      .groupBy(col("mo"), col("pri"))
      .agg(sum(col("y")).as("rev"))
    val k = cell.select(col("pri")).distinct().count()
    val full = cell
      .withColumn("kc", count(lit(1)).over(Window.partitionBy(col("mo"))))
      .filter(col("kc") === lit(k))
    // midrank in exact half-units: 2*avg_rank = 2*RANK + (#ties - 1)
    val ranked = full.withColumn("r2",
      lit(2) * rank().over(
        Window.partitionBy(col("mo")).orderBy(col("rev"), col("pri"))) +
        count(lit(1)).over(Window.partitionBy(col("mo"), col("rev"))) - 1)
    val perPri = ranked.groupBy(col("pri"))
      .agg(sum(col("r2")).as("rs2"), count(lit(1)).as("nb"))
    val tot = perPri.agg(sum(col("rs2") * col("rs2")).as("srr"),
      max(col("nb")).as("n"))
    val chi = tot.select(
      when(col("n") > 0,
        round(lit(3.0) * dbl(col("srr")) /
          (dbl(col("n")) * k * (k + 1)) - lit(3.0) * dbl(col("n")) * (k + 1),
          6)).as("chi2"),
      lit(k - 1).as("df"))
    perPri.crossJoin(broadcast(chi))
      .select(col("pri").as("priority"), col("nb").as("n_blocks"),
        col("rs2").as("rank_sum_x2"), col("chi2"), col("df"))
      .orderBy(col("priority"))
  }

  // --------------------------------------------------------------- agg_mcnemar

  /** McNEMAR'S TEST — paired BINARY agreement over time (the binary
    * sibling of `agg_ttest_paired`: same unit observed in both periods,
    * did the FLAG flip?): per customer, a = ordered in the first half of
    * the corpus calendar (< 1998-07-01), b = ordered in the second half.
    * Only the DISCORDANT cells carry information; χ² with Edwards'
    * continuity correction = (|n₁₀−n₀₁|−1)²/(n₁₀+n₀₁), df = 1, NULL when
    * no customer flipped (the degenerate-data guard class). The marginal
    * cells are reported alongside — the retention/acquisition split the
    * test is built on.
    *
    * Exact: flags and cell counts are integers; χ² is one fixed IEEE
    * expression of two exact counts.
    *
    * 100 TB shape: one customer-keyed map-side-combinable MAX fold, one
    * 4-cell reduce. No window, no join, one corpus shuffle. */
  val aggMcnemar: Q = (s, d) => {
    val split = lit("1998-07-01 00:00:00").cast("timestamp")
    val per = T.orders(s, d).groupBy(col("o_custkey")).agg(
      max(when(col("o_orderdate") < split, 1L).otherwise(0L)).as("a"),
      max(when(col("o_orderdate") >= split, 1L).otherwise(0L)).as("b"))
    val cells = per.agg(
      count(lit(1)).as("n_pairs"),
      sum(when(col("a") === 1L && col("b") === 1L, 1L).otherwise(0L))
        .as("n_both"),
      sum(when(col("a") === 1L && col("b") === 0L, 1L).otherwise(0L))
        .as("n_pre_only"),
      sum(when(col("a") === 0L && col("b") === 1L, 1L).otherwise(0L))
        .as("n_post_only"))
    val disc = col("n_pre_only") + col("n_post_only")
    cells.select(col("n_pairs"), col("n_both"), col("n_pre_only"),
      col("n_post_only"),
      when(disc > 0,
        round((abs(dbl(col("n_pre_only") - col("n_post_only"))) - 1.0) *
          (abs(dbl(col("n_pre_only") - col("n_post_only"))) - 1.0)
          / dbl(disc), 6)).as("chi2_cc"))
  }

  // ----------------------------------------------------------- agg_cohens_kappa

  /** COHEN'S κ — inter-rater agreement beyond chance, the label-quality
    * audit every annotation pipeline publishes (two noisy labelers agree
    * 80% of the time — is that good? Only κ says, by subtracting the
    * agreement their marginals produce by luck). The two "raters" are
    * deterministic rule classifiers on `documents`: R1 bands `n_chars`
    * (<250, <360, else), R2 bands the whitespace token count (<46, <66,
    * else) — correlated-but-not-identical rules, so κ lands strictly
    * between 0 and 1. Declared result: the full confusion matrix (the
    * thing you actually debug from) with p_o, p_e, κ alongside.
    *
    * Exact: cells and marginals are integer counts; p_o, p_e, κ are one
    * fixed IEEE expression each, rounded 6dp; κ guarded NULL at p_e = 1
    * (single-cell degeneracy).
    *
    * 100 TB shape: per-row classification is map-side arithmetic; one
    * 9-cell hash aggregate; the marginal/total joins run on the 9-row
    * grid. One corpus pass, no shuffle beyond the 9-key fold. */
  val aggCohensKappa: Q = (s, d) => {
    val rated = T.documents(s, d).select(
      when(col("n_chars") < 250, 0).when(col("n_chars") < 360, 1)
        .otherwise(2).cast("int").as("r1"),
      when(size(split(col("text"), " ")) < 46, 0)
        .when(size(split(col("text"), " ")) < 66, 1)
        .otherwise(2).cast("int").as("r2"))
    val conf = rated.groupBy(col("r1"), col("r2"))
      .agg(count(lit(1)).as("n"))
    val rowM = conf.groupBy(col("r1")).agg(sum(col("n")).as("row_n"))
    val colM = conf.groupBy(col("r2")).agg(sum(col("n")).as("col_n"))
    val tot = conf.agg(sum(col("n")).as("nn"),
      sum(when(col("r1") === col("r2"), col("n")).otherwise(lit(0L)))
        .as("diag"))
    val pe = rowM.join(colM, rowM("r1") === colM("r2"))
      .agg(sum(col("row_n") * col("col_n")).as("pe_num"))
    val scal = tot.crossJoin(pe).select(
      round(dbl(col("diag")) / dbl(col("nn")), 6).as("po"),
      round(dbl(col("pe_num")) / (dbl(col("nn")) * dbl(col("nn"))), 6)
        .as("pe"),
      when(dbl(col("pe_num")) < dbl(col("nn")) * dbl(col("nn")),
        round((dbl(col("diag")) / dbl(col("nn"))
          - dbl(col("pe_num")) / (dbl(col("nn")) * dbl(col("nn"))))
          / (lit(1.0) - dbl(col("pe_num")) / (dbl(col("nn")) * dbl(col("nn")))),
          6)).as("kappa"))
    conf.crossJoin(broadcast(scal))
      .select(col("r1"), col("r2"), col("n"), col("po"), col("pe"),
        col("kappa"))
      .orderBy(col("r1"), col("r2"))
  }

  // -------------------------------------------------------------- agg_jackknife

  /** DELETE-ONE-GROUP JACKKNIFE — distribution-free standard error for a
    * RATIO statistic without resampling passes (`agg_bootstrap_ci`
    * resamples rows B times; the grouped jackknife needs ONE grouped fold
    * and |groups| leave-one-out replays on the totals — the estimator
    * survey papers recommend for cluster-correlated data, and the only
    * one that is exactly one aggregation at 100 TB). Statistic: mean
    * order value in dollars; groups: the customer's nation (25 delete-one
    * replicates). θ̂₍ᵢ₎ = (S−sᵢ)/(N−nᵢ) on exact cents totals;
    * SE²_jk = (g−1)/g · Σ(θ̂₍ᵢ₎ − θ̄)².
    *
    * Float discipline: each θ̂₍ᵢ₎ is ONE IEEE division of exact integers
    * (deterministic); the two cross-replicate sums round-trip through
    * DECIMAL(38,12) so summation order cannot move the result (the
    * `Numeric.dsum` device, at jackknife precision).
    *
    * 100 TB shape: one orders⋈customer co-partitioned join (custkey),
    * one nation-keyed fold to 25 rows; every leave-one-out replay is
    * grid arithmetic against broadcast totals. The corpus shuffles
    * once. */
  val aggJackknife: Q = (s, d) => {
    val per = T.orders(s, d)
      .join(T.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("g"), expr(centsExpr).as("y"))
      .groupBy(col("g"))
      .agg(sum(col("y")).as("s_i"), count(lit(1)).as("n_i"))
    val tot = per.agg(sum(col("s_i")).as("ss"), sum(col("n_i")).as("nn"),
      count(lit(1)).as("gg"))
    val rep = per.crossJoin(broadcast(tot))
      .filter(col("n_i") < col("nn"))
      .select(col("gg"), col("ss"), col("nn"),
        (dbl(col("ss") - col("s_i")) / dbl(col("nn") - col("n_i")))
          .as("theta_i"))
    val rbar = rep.agg(
      (sum(col("theta_i").cast("decimal(38,12)")).cast("double") /
        dbl(count(lit(1)))).as("tbar"),
      count(lit(1)).as("g_used"))
    rep.crossJoin(broadcast(rbar))
      .select(col("gg"), col("ss"), col("nn"), col("g_used"),
        ((col("theta_i") - col("tbar")) * (col("theta_i") - col("tbar")))
          .cast("decimal(38,12)").as("dev2"))
      .groupBy(col("gg"), col("ss"), col("nn"), col("g_used"))
      .agg(sum(col("dev2")).as("sdev2"))
      .select(col("g_used").as("n_groups"),
        round(dbl(col("ss")) / dbl(col("nn")) / 100.0, 6).as("theta_hat"),
        when(col("g_used") > 1,
          round(sqrt(dbl(col("sdev2")) * dbl(col("g_used") - 1) /
            dbl(col("g_used"))) / 100.0, 6)).as("jk_se"))
  }

  // ------------------------------------------------------------- text_self_bleu

  /** SELF-BLEU (trigram overlap form) — the corpus DIVERSITY audit
    * (Zhu et al. 2018's generation-diversity metric, equally the
    * "how templated is my crawl" number): for each document, what
    * fraction of its distinct trigrams also appear in at least one OTHER
    * document? High overlap = boilerplate/templated text the dedup
    * family should be catching; the per-language rollup localizes WHERE
    * the templating lives. Leave-one-out is exact: a trigram counts as
    * shared iff its document frequency ≥ 2 — no sampling, no reference
    * subset choice.
    *
    * Exact throughout: distinct-trigram grids and document-frequency
    * counts are integers; the per-language rate is one division of two
    * exact sums, rounded 6dp.
    *
    * 100 TB shape: shingling is a map-side array transform; the
    * (doc, trigram) distinct and the trigram-DF fold are both
    * map-side-combinable hash aggregates on the shingle key — the
    * `dedup_minhash` shuffle class. The DF join is shingle-keyed
    * (co-partitioned with the grid it probes). No corpus², no window. */
  val textSelfBleu: Q = (s, d) => {
    val tri = T.documents(s, d)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("l"))
      .filter(size(col("l")) >= 3)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(0, size(l) - 3)," +
          " i -> concat_ws(' ', l[i], l[i+1], l[i+2]))")).as("tok"))
      .distinct()
    val df = tri.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val perDoc = tri.join(df, "tok")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tri"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tri")).as("tri_total"),
        sum(col("n_shared")).as("tri_shared"))
      .select(col("lang"), col("n_docs"), col("tri_total"),
        col("tri_shared"),
        round(dbl(col("tri_shared")) / dbl(col("tri_total")), 6)
          .as("self_bleu3"))
      .orderBy(col("lang"))
  }

  // --------------------------------------------------------------- events_sprt

  /** WALD'S SPRT — the SEQUENTIAL test the monitoring family stops short
    * of (`events_cusum_chart` and `events_page_hinkley` detect drift but
    * never DECIDE; SPRT is the optimal stopping rule: accept H0, accept
    * H1, or keep watching — with both error rates chosen up front). Per
    * event type, the stream in (ts, event_id) order yields xₙ =
    * 1{value > 35}; testing p₀ = 1/3 vs p₁ = 2/3 makes the
    * log-likelihood ratio COLLAPSE to an integer random walk: LLRₙ =
    * (2kₙ−n)·ln2, so the boundary |LLR| ≥ 5·ln2 (α = β ≈ 2⁻⁵) is the
    * INTEGER test |2k−n| ≥ 5 — the stopping rule contains ZERO floating
    * point, which is what makes a first-crossing declaration
    * engine-exact (a 1-ulp llr difference at the boundary would move the
    * stopping time; an integer comparison cannot). Declared per type:
    * the decision, the stopping sample count, successes at the stop, and
    * the walk value (ln2-scaled, reported 6dp).
    *
    * 100 TB shape: one type-partitioned running-count window (the
    * `events_cusum_chart` shuffle class), one per-type MIN/MAX fold, one
    * grid join back for the stopping row. One corpus shuffle. */
  val eventsSprt: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val idx = T.events(s, d)
      .select(col("event_type"), col("ts"), col("event_id"),
        when(col("value") > 35.0, 1L).otherwise(0L).as("x"))
      .withColumn("rn", row_number().over(w))
      .withColumn("k", sum(col("x")).over(w))
      .select(col("event_type"), col("rn"), col("k"),
        (lit(2L) * col("k") - col("rn")).as("walk"))
    val agg = idx.groupBy(col("event_type")).agg(
      min(when(col("walk") >= 5L, col("rn"))).as("rn_hi"),
      min(when(col("walk") <= -5L, col("rn"))).as("rn_lo"),
      max(col("rn")).as("n_total"))
    val dec = agg.select(col("event_type"),
      when(col("rn_hi").isNotNull &&
        (col("rn_lo").isNull || col("rn_hi") < col("rn_lo")), lit("accept_h1"))
        .when(col("rn_lo").isNotNull, lit("accept_h0"))
        .otherwise(lit("continue")).as("decision"),
      when(col("rn_hi").isNotNull &&
        (col("rn_lo").isNull || col("rn_hi") < col("rn_lo")), col("rn_hi"))
        .when(col("rn_lo").isNotNull, col("rn_lo"))
        .otherwise(col("n_total")).as("n_seen"))
    // fresh column names on the probe side — dec derives from idx, and a
    // shared-lineage equi-join on the same column name is the ambiguous
    // self-join trap
    val probe = idx.select(col("event_type").as("et2"), col("rn"),
      col("k"), col("walk"))
    dec.join(probe,
        col("event_type") === col("et2") && col("n_seen") === col("rn"))
      .select(col("event_type"), col("decision"),
        col("n_seen").cast("long").as("n_seen"),
        col("k").as("k_seen"),
        round(dbl(col("walk")) * log(lit(2.0)), 6).as("llr"))
      .orderBy(col("event_type"))
  }

  // --------------------------------------------------------------- registry

  val queries: Map[String, Q] = Map(
    "agg_kendall" -> aggKendall,
    "agg_friedman" -> aggFriedman,
    "agg_mcnemar" -> aggMcnemar,
    "agg_cohens_kappa" -> aggCohensKappa,
    "agg_jackknife" -> aggJackknife,
    "text_self_bleu" -> textSelfBleu,
    "events_sprt" -> eventsSprt,
  )

  /** DuckDB oracle texts. All but `agg_cohens_kappa` and
    * `text_self_bleu` are dual-dialect ANSI (SqlCatalog serves them as
    * is); those two tokenize, so each dialect spells its own split
    * primitives. */
  val oracles: Map[String, String] = Map(
    // dual-dialect ANSI
    "agg_kendall" ->
      """WITH wk AS (
        |  SELECT o_orderpriority AS pri,
        |    CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
        |    COUNT(*) AS n,
        |    SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,8)), 2) * 100
        |      AS BIGINT)) AS rev
        |  FROM orders
        |  GROUP BY o_orderpriority,
        |    CAST(date_trunc('week', o_orderdate) AS DATE)),
        |p AS (
        |  SELECT a.pri AS pri, b.n - a.n AS dx, b.rev - a.rev AS dy
        |  FROM wk a JOIN wk b ON a.pri = b.pri AND a.wk < b.wk),
        |c AS (
        |  SELECT pri,
        |    SUM(CASE WHEN (dx > 0 AND dy > 0) OR (dx < 0 AND dy < 0)
        |      THEN 1 ELSE 0 END) AS conc,
        |    SUM(CASE WHEN (dx > 0 AND dy < 0) OR (dx < 0 AND dy > 0)
        |      THEN 1 ELSE 0 END) AS disc,
        |    SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS tx,
        |    SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS ty,
        |    COUNT(*) AS n0
        |  FROM p GROUP BY pri),
        |nw AS (SELECT pri, COUNT(*) AS n_weeks FROM wk GROUP BY pri)
        |SELECT c.pri AS priority, CAST(nw.n_weeks AS BIGINT) AS n_weeks,
        |  CAST(conc AS BIGINT) AS concordant,
        |  CAST(disc AS BIGINT) AS discordant,
        |  CAST(CASE WHEN n0 > tx AND n0 > ty THEN
        |    ROUND(CAST(conc - disc AS DOUBLE)
        |      / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE)), 6)
        |  END AS DOUBLE) AS tau_b
        |FROM c JOIN nw ON c.pri = nw.pri
        |ORDER BY priority""".stripMargin,

    // dual-dialect ANSI
    "agg_friedman" ->
      """WITH cell AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
        |    o_orderpriority AS pri,
        |    SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,8)), 2) * 100
        |      AS BIGINT)) AS rev
        |  FROM orders
        |  GROUP BY CAST(date_trunc('month', o_orderdate) AS DATE),
        |    o_orderpriority),
        |kk AS (SELECT COUNT(DISTINCT pri) AS k FROM cell),
        |full_b AS (
        |  SELECT mo, pri, rev FROM (
        |    SELECT mo, pri, rev, COUNT(*) OVER (PARTITION BY mo) AS kc,
        |      (SELECT k FROM kk) AS k
        |    FROM cell) t
        |  WHERE kc = k),
        |ranked AS (
        |  SELECT mo, pri,
        |    2 * RANK() OVER (PARTITION BY mo ORDER BY rev, pri)
        |      + COUNT(*) OVER (PARTITION BY mo, rev) - 1 AS r2
        |  FROM full_b),
        |per_pri AS (
        |  SELECT pri, SUM(r2) AS rs2, COUNT(*) AS nb
        |  FROM ranked GROUP BY pri),
        |tot AS (SELECT SUM(rs2 * rs2) AS srr, MAX(nb) AS n,
        |  (SELECT k FROM kk) AS k FROM per_pri)
        |SELECT p.pri AS priority, CAST(p.nb AS BIGINT) AS n_blocks,
        |  CAST(p.rs2 AS BIGINT) AS rank_sum_x2,
        |  CAST(CASE WHEN t.n > 0 THEN
        |    ROUND(3.0 * CAST(t.srr AS DOUBLE)
        |        / (CAST(t.n AS DOUBLE) * t.k * (t.k + 1))
        |      - 3.0 * CAST(t.n AS DOUBLE) * (t.k + 1), 6)
        |  END AS DOUBLE) AS chi2,
        |  CAST(t.k - 1 AS BIGINT) AS df
        |FROM per_pri p CROSS JOIN tot t
        |ORDER BY priority""".stripMargin,

    // dual-dialect ANSI
    "agg_mcnemar" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    MAX(CASE WHEN o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
        |      THEN 1 ELSE 0 END) AS a,
        |    MAX(CASE WHEN o_orderdate >= TIMESTAMP '1998-07-01 00:00:00'
        |      THEN 1 ELSE 0 END) AS b
        |  FROM orders GROUP BY o_custkey),
        |cells AS (
        |  SELECT COUNT(*) AS n_pairs,
        |    SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS n_both,
        |    SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS n_pre_only,
        |    SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS n_post_only
        |  FROM per)
        |SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(n_both AS BIGINT) AS n_both,
        |  CAST(n_pre_only AS BIGINT) AS n_pre_only,
        |  CAST(n_post_only AS BIGINT) AS n_post_only,
        |  CAST(CASE WHEN n_pre_only + n_post_only > 0 THEN
        |    ROUND((abs(CAST(n_pre_only - n_post_only AS DOUBLE)) - 1.0)
        |      * (abs(CAST(n_pre_only - n_post_only AS DOUBLE)) - 1.0)
        |      / CAST(n_pre_only + n_post_only AS DOUBLE), 6)
        |  END AS DOUBLE) AS chi2_cc
        |FROM cells""".stripMargin,

    "agg_cohens_kappa" ->
      """WITH rated AS (
        |  SELECT CASE WHEN n_chars < 250 THEN 0
        |      WHEN n_chars < 360 THEN 1 ELSE 2 END AS r1,
        |    CASE WHEN len(string_split(text, ' ')) < 46 THEN 0
        |      WHEN len(string_split(text, ' ')) < 66 THEN 1 ELSE 2 END AS r2
        |  FROM documents),
        |conf AS (SELECT r1, r2, COUNT(*) AS n FROM rated GROUP BY r1, r2),
        |row_m AS (SELECT r1, SUM(n) AS row_n FROM conf GROUP BY r1),
        |col_m AS (SELECT r2, SUM(n) AS col_n FROM conf GROUP BY r2),
        |tot AS (SELECT SUM(n) AS nn,
        |  SUM(CASE WHEN r1 = r2 THEN n ELSE 0 END) AS diag FROM conf),
        |pe_t AS (
        |  SELECT SUM(row_n * col_n) AS pe_num
        |  FROM row_m JOIN col_m ON row_m.r1 = col_m.r2),
        |scal AS (
        |  SELECT
        |    ROUND(CAST(diag AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS po,
        |    ROUND(CAST(pe_num AS DOUBLE)
        |      / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)), 6) AS pe,
        |    CASE WHEN CAST(pe_num AS DOUBLE)
        |        < CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) THEN
        |      ROUND((CAST(diag AS DOUBLE) / CAST(nn AS DOUBLE)
        |          - CAST(pe_num AS DOUBLE)
        |            / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)))
        |        / (1.0 - CAST(pe_num AS DOUBLE)
        |            / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))), 6)
        |    END AS kappa
        |  FROM tot CROSS JOIN pe_t)
        |SELECT CAST(conf.r1 AS INT) AS r1, CAST(conf.r2 AS INT) AS r2,
        |  CAST(conf.n AS BIGINT) AS n,
        |  CAST(scal.po AS DOUBLE) AS po, CAST(scal.pe AS DOUBLE) AS pe,
        |  CAST(scal.kappa AS DOUBLE) AS kappa
        |FROM conf CROSS JOIN scal
        |ORDER BY r1, r2""".stripMargin,

    // dual-dialect ANSI
    "agg_jackknife" ->
      """WITH per AS (
        |  SELECT c_nationkey AS g,
        |    SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,8)), 2) * 100
        |      AS BIGINT)) AS s_i,
        |    COUNT(*) AS n_i
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_nationkey),
        |tot AS (SELECT SUM(s_i) AS ss, SUM(n_i) AS nn, COUNT(*) AS gg
        |  FROM per),
        |rep AS (
        |  SELECT gg, ss, nn,
        |    CAST(ss - s_i AS DOUBLE) / CAST(nn - n_i AS DOUBLE) AS theta_i
        |  FROM per CROSS JOIN tot WHERE n_i < nn),
        |rbar AS (
        |  SELECT CAST(SUM(CAST(theta_i AS DECIMAL(38,12))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS tbar,
        |    COUNT(*) AS g_used
        |  FROM rep),
        |dev AS (
        |  SELECT gg, ss, nn, g_used,
        |    SUM(CAST((theta_i - tbar) * (theta_i - tbar)
        |      AS DECIMAL(38,12))) AS sdev2
        |  FROM rep CROSS JOIN rbar GROUP BY gg, ss, nn, g_used)
        |SELECT CAST(g_used AS BIGINT) AS n_groups,
        |  CAST(ROUND(CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE) / 100.0, 6)
        |    AS DOUBLE) AS theta_hat,
        |  CAST(CASE WHEN g_used > 1 THEN
        |    ROUND(sqrt(CAST(sdev2 AS DOUBLE) * CAST(g_used - 1 AS DOUBLE)
        |      / CAST(g_used AS DOUBLE)) / 100.0, 6)
        |  END AS DOUBLE) AS jk_se
        |FROM dev""".stripMargin,

    "text_self_bleu" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS l
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |tri_all AS (
        |  SELECT doc_id, lang,
        |    unnest([l[CAST(i AS INT)] || ' ' || l[CAST(i + 1 AS INT)]
        |      || ' ' || l[CAST(i + 2 AS INT)]
        |      for i in range(1, len(l) - 1)]) AS tok
        |  FROM docs),
        |tri AS (SELECT DISTINCT doc_id, lang, tok FROM tri_all),
        |df AS (SELECT tok, COUNT(*) AS df FROM tri GROUP BY tok),
        |per_doc AS (
        |  SELECT tri.doc_id, tri.lang, COUNT(*) AS n_tri,
        |    SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS n_shared
        |  FROM tri JOIN df ON tri.tok = df.tok
        |  GROUP BY tri.doc_id, tri.lang)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tri) AS BIGINT) AS tri_total,
        |  CAST(SUM(n_shared) AS BIGINT) AS tri_shared,
        |  CAST(ROUND(CAST(SUM(n_shared) AS DOUBLE)
        |    / CAST(SUM(n_tri) AS DOUBLE), 6) AS DOUBLE) AS self_bleu3
        |FROM per_doc GROUP BY lang
        |ORDER BY lang""".stripMargin,

    // dual-dialect ANSI
    "events_sprt" ->
      """WITH idx AS (
        |  SELECT event_type,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS rn,
        |    SUM(CASE WHEN value > 35.0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY event_type ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k
        |  FROM events),
        |walkt AS (
        |  SELECT event_type, rn, k, 2 * k - rn AS walk FROM idx),
        |agg AS (
        |  SELECT event_type,
        |    MIN(CASE WHEN walk >= 5 THEN rn END) AS rn_hi,
        |    MIN(CASE WHEN walk <= -5 THEN rn END) AS rn_lo,
        |    MAX(rn) AS n_total
        |  FROM walkt GROUP BY event_type),
        |dec AS (
        |  SELECT event_type,
        |    CASE WHEN rn_hi IS NOT NULL
        |        AND (rn_lo IS NULL OR rn_hi < rn_lo) THEN 'accept_h1'
        |      WHEN rn_lo IS NOT NULL THEN 'accept_h0'
        |      ELSE 'continue' END AS decision,
        |    CASE WHEN rn_hi IS NOT NULL
        |        AND (rn_lo IS NULL OR rn_hi < rn_lo) THEN rn_hi
        |      WHEN rn_lo IS NOT NULL THEN rn_lo
        |      ELSE n_total END AS n_seen
        |  FROM agg)
        |SELECT dec.event_type, dec.decision,
        |  CAST(dec.n_seen AS BIGINT) AS n_seen,
        |  CAST(w.k AS BIGINT) AS k_seen,
        |  CAST(ROUND(CAST(w.walk AS DOUBLE) * ln(2.0), 6) AS DOUBLE) AS llr
        |FROM dec JOIN walkt w
        |  ON dec.event_type = w.event_type AND dec.n_seen = w.rn
        |ORDER BY dec.event_type""".stripMargin,

  )
}
