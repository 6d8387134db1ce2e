package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.api.CheckpointStrategy
import graft.core.{Tables => T}
import graft.core.Numeric.{dsum, dsumSql}

/** Round-10 operators: sequential-recursion FORECASTING (Holt level-trend
  * smoothing and its cohort-LTV projection) and SENSITIVITY-SAMPLED
  * CORESETS (the lightweight-coreset summary next to `sample_dsir`).
  * The batch's `graph_betweenness` lives in [[Graph]].
  *
  * Reference basis: the reference engine (db.cpp) has no analytics
  * surface — every key here is a BASELINE.json north-star capability
  * extension, same as ops/Selection.scala. Determinism follows the
  * SURVEY §2.2 rules: integer/decimal inner math where sums occur, IEEE
  * doubles only in fixed-order recursions and single divisions, one
  * final rounding.
  *
  * The Holt recursion is THE case the window grammar cannot express
  * (each state depends on the previous state, not the previous row's
  * COLUMN), so it runs as an `aggregate()` HOF fold over the per-group
  * day array — per-group state is one (level, trend) pair and the array
  * is the group's own bounded series, so memory is O(series), never
  * O(corpus). The DuckDB oracle replays the identical recursion as a
  * RECURSIVE CTE; both sides spell every multiply/add in the same order,
  * so the IEEE doubles agree bit-for-bit.
  */
object Horizon {
  type Q = (SparkSession, String) => DataFrame

  /** Holt fold over a double-array column `ys` (ordered series, size ≥ 2)
    * with α = 1/2, β = 1/4 (exact binary fractions — the products stay
    * reproducible without per-step rounding): init l₂ = y₂, b₂ = y₂ − y₁,
    * then for t ≥ 3  lₜ = α·yₜ + (1−α)·(lₜ₋₁+bₜ₋₁),
    * bₜ = β·(lₜ−lₜ₋₁) + (1−β)·bₜ₋₁. Returns struct(l, b). The lambda
    * spells lₜ twice (HOFs have no let-binding); both evaluations are the
    * same IEEE expression. */
  private val holtFoldSql: String =
    """aggregate(
      |  slice(ys, 3, size(ys) - 2),
      |  named_struct('l', CAST(element_at(ys, 2) AS DOUBLE),
      |               'b', CAST(element_at(ys, 2) - element_at(ys, 1) AS DOUBLE)),
      |  (acc, y) -> named_struct(
      |    'l', CAST(0.5 AS DOUBLE) * y
      |         + CAST(0.5 AS DOUBLE) * (acc.l + acc.b),
      |    'b', CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * y
      |           + CAST(0.5 AS DOUBLE) * (acc.l + acc.b)) - acc.l)
      |         + CAST(0.75 AS DOUBLE) * acc.b))""".stripMargin

  /** The same recursion step in dual-use SQL text, for the RECURSIVE CTE
    * oracles: given r.l / r.b and the next value expression `y`. */
  private def holtStepL(y: String): String =
    s"CAST(0.5 AS DOUBLE) * $y + CAST(0.5 AS DOUBLE) * (r.l + r.b)"
  private def holtStepB(y: String): String =
    s"CAST(0.25 AS DOUBLE) * ((${holtStepL(y)}) - r.l) " +
      "+ CAST(0.75 AS DOUBLE) * r.b"

  // ------------------------------------------------------------ agg_holt

  /** HOLT LINEAR-TREND SMOOTHING — the level+trend state every capacity
    * forecast starts from ([[Advanced.eventsForecast]] fits one global
    * OLS line; Holt adapts: recent days weigh more, the trend turns with
    * the series): per event type, the daily exact-decimal value series in
    * day order, folded through the α=1/2, β=1/4 recursion; reported are
    * the final level/trend state and the 1-day and 7-day-ahead linear
    * forecasts l + h·b. Types with a single observed day have no trend
    * estimate and drop (declared).
    *
    * 100 TB shape: the corpus folds map-side to the (type × day) grid;
    * the recursion runs per type over its own bounded day array — state
    * is one (l, b) pair, the one shape a window cannot express and a
    * 1000-executor cluster still runs as |types| independent folds. */
  val aggHolt: Q = (s, d) => {
    val daily = T.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("rev"))
    val ser = daily.groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("rev")))).as("sr"))
      .select(col("event_type"),
        expr("transform(sr, x -> x.rev)").as("ys"))
      .filter(size(col("ys")) >= 2)
    ser.withColumn("st", expr(holtFoldSql))
      .select(col("event_type"), size(col("ys")).cast("long").as("n_days"),
        round(col("st.l"), 6).as("level"),
        round(col("st.b"), 6).as("trend"),
        round(col("st.l") + col("st.b"), 6).as("fc_1"),
        round(col("st.l") + lit(7.0) * col("st.b"), 6).as("fc_7"))
      .orderBy(col("event_type"))
  }

  // ----------------------------------------------------- events_ewma_chart

  /** EWMA CONTROL CHART (Roberts 1959 — the SPC monitor that catches
    * small sustained shifts a 3σ Shewhart chart misses, and the alarm
    * layer on top of the smoothing family: [[aggHolt]] forecasts,
    * [[Advanced.eventsAnomaly]] flags single-point z-outliers, this
    * flags DRIFT): per type, the daily series folds through
    * zₜ = λyₜ + (1−λ)zₜ₋₁ with λ = 1/4 and z₀ = the series mean μ;
    * a day breaches when |zₜ − μ| exceeds the steady-state limit
    * 3σ·√(λ/(2−λ)) (= 3σ/√7 at λ=1/4). μ and σ come from exact
    * DECIMAL moments (the agg_stats device — the daily values are exact
    * 2-decimal dsums, so the moment sums are order-free); the recursion
    * is one IEEE fold in fixed order; the limit takes one sqrt each
    * side of the same spelling. Types with a single day drop (no σ).
    *
    * 100 TB shape: the same (type × day) map-side fold as agg_holt; the
    * fold carries the full zₜ series (bounded by the day span) so every
    * day's reading and flag come back as model-sized rows. */
  val eventsEwmaChart: Q = (s, d) => {
    val daily = T.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("rev"))
    val ser = daily.groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("rev")))).as("sr"))
      .select(col("event_type"), col("sr"),
        expr("transform(sr, x -> x.rev)").as("ys"))
      .filter(size(col("ys")) >= 2)
      .withColumn("n", size(col("ys")).cast("long"))
      // exact decimal moment folds (the accumulator type is closed under
      // the step cast, which is lossless at these magnitudes)
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
      .withColumn("lim",
        lit(3.0) * col("sigma")
          * sqrt(lit(1.0) / lit(7.0)))
    val zs = ser.withColumn("zs",
      expr("""aggregate(ys,
        |  named_struct('z', mu, 'arr', CAST(array() AS ARRAY<DOUBLE>)),
        |  (acc, y) -> named_struct(
        |    'z', CAST(0.25 AS DOUBLE) * y + CAST(0.75 AS DOUBLE) * acc.z,
        |    'arr', concat(acc.arr, array(
        |      CAST(0.25 AS DOUBLE) * y
        |        + CAST(0.75 AS DOUBLE) * acc.z)))).arr""".stripMargin))
    zs.select(col("event_type"), col("mu"), col("lim"),
        posexplode(expr(
          "zip_with(sr, zs, (a, z) -> named_struct(" +
            "'day', a.day, 'rev', a.rev, 'z', z))")).as(Seq("i", "e")))
      .select(col("event_type"), col("e.day").as("day"),
        col("e.rev").as("rev"),
        round(col("e.z"), 6).as("ewma"),
        round(col("mu") + col("lim"), 6).as("ucl"),
        round(col("mu") - col("lim"), 6).as("lcl"),
        (abs(col("e.z") - col("mu")) > col("lim")).as("breach"))
      .orderBy(col("event_type"), col("day"))
  }

  // ------------------------------------------------------ agg_holt_winters

  /** HOLT-WINTERS ADDITIVE SMOOTHING (triple exponential, weekly m=7) —
    * the complete seasonal forecaster ([[aggHolt]] carries level+trend;
    * this adds the per-phase seasonal component, which is what makes a
    * weekly-cyclic series forecastable more than a day or two out):
    * per type, the daily series folds through
    *   lₜ = α(yₜ − sₜ₋₇) + (1−α)(lₜ₋₁+bₜ₋₁)
    *   bₜ = β(lₜ − lₜ₋₁) + (1−β)bₜ₋₁
    *   sₜ = γ(yₜ − lₜ) + (1−γ)sₜ₋₇
    * with α=1/2, β=1/4, γ=1/4 (exact binary fractions) and the classical
    * init l = mean(week 1), b = (mean(week 2) − mean(week 1))/7,
    * sᵢ = yᵢ − l for the first week. The state is (l, b, s[7]) carried
    * by ONE aggregate() HOF over (index, value) pairs — positional
    * awareness comes from zipping the value slice with its day indexes,
    * since a fold has no loop counter. Output: per type and horizon
    * h ∈ 1..7, the forecast l + h·b + s[(n+h) mod 7] and the seasonal
    * term it used. Types shorter than 15 days (two full weeks + one
    * step) drop (declared).
    *
    * 100 TB shape: identical to agg_holt — the corpus folds map-side to
    * the (type × day) grid and the recursion is one bounded per-type
    * fold; the horizon explode is 7 rows per type. */
  private val hwFoldSql: String =
    """aggregate(
      |  zip_with(sequence(8, size(ys)), slice(ys, 8, size(ys) - 7),
      |    (i, y) -> named_struct('i', i, 'y', y)),
      |  named_struct(
      |    'l', CAST((((((element_at(ys, 1) + element_at(ys, 2))
      |           + element_at(ys, 3)) + element_at(ys, 4))
      |           + element_at(ys, 5)) + element_at(ys, 6)
      |           + element_at(ys, 7)) / CAST(7 AS DOUBLE) AS DOUBLE),
      |    'b', CAST(((((((element_at(ys, 8) + element_at(ys, 9))
      |           + element_at(ys, 10)) + element_at(ys, 11))
      |           + element_at(ys, 12)) + element_at(ys, 13)
      |           + element_at(ys, 14)) / CAST(7 AS DOUBLE)
      |          - (((((element_at(ys, 1) + element_at(ys, 2))
      |           + element_at(ys, 3)) + element_at(ys, 4))
      |           + element_at(ys, 5)) + element_at(ys, 6)
      |           + element_at(ys, 7)) / CAST(7 AS DOUBLE))
      |          / CAST(7 AS DOUBLE) AS DOUBLE),
      |    's', transform(sequence(1, 7), k ->
      |      CAST(element_at(ys, k)
      |        - (((((element_at(ys, 1) + element_at(ys, 2))
      |           + element_at(ys, 3)) + element_at(ys, 4))
      |           + element_at(ys, 5)) + element_at(ys, 6)
      |           + element_at(ys, 7)) / CAST(7 AS DOUBLE) AS DOUBLE))),
      |  (acc, e) -> named_struct(
      |    'l', CAST(0.5 AS DOUBLE) * (e.y
      |           - element_at(acc.s, CAST(pmod(e.i - 1, 7) + 1 AS INT)))
      |         + CAST(0.5 AS DOUBLE) * (acc.l + acc.b),
      |    'b', CAST(0.25 AS DOUBLE)
      |           * ((CAST(0.5 AS DOUBLE) * (e.y
      |               - element_at(acc.s, CAST(pmod(e.i - 1, 7) + 1 AS INT)))
      |              + CAST(0.5 AS DOUBLE) * (acc.l + acc.b)) - acc.l)
      |         + CAST(0.75 AS DOUBLE) * acc.b,
      |    's', transform(sequence(1, 7), k ->
      |      IF(k = CAST(pmod(e.i - 1, 7) + 1 AS INT),
      |        CAST(0.25 AS DOUBLE) * (e.y
      |          - (CAST(0.5 AS DOUBLE) * (e.y
      |              - element_at(acc.s, CAST(pmod(e.i - 1, 7) + 1 AS INT)))
      |             + CAST(0.5 AS DOUBLE) * (acc.l + acc.b)))
      |        + CAST(0.75 AS DOUBLE) * element_at(acc.s, k),
      |        element_at(acc.s, k)))))""".stripMargin

  val aggHoltWinters: Q = (s, d) => {
    val daily = T.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("rev"))
    val ser = daily.groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("rev")))).as("sr"))
      .select(col("event_type"),
        expr("transform(sr, x -> x.rev)").as("ys"))
      .filter(size(col("ys")) >= 15)
    val idx = (pmod(col("n") + col("h") - 1L, lit(7L)) + 1L).cast("int")
    ser.withColumn("st", expr(hwFoldSql))
      .withColumn("n", size(col("ys")).cast("long"))
      .select(col("event_type"), col("n"), col("st"),
        posexplode(expr("sequence(1, 7)")).as(Seq("hx", "h")))
      .select(col("event_type"), col("n").as("n_days"),
        col("h").cast("long").as("h"),
        round(col("st.l"), 6).as("level"),
        round(col("st.b"), 6).as("trend"),
        round(element_at(col("st.s"), idx), 6).as("seasonal"),
        // fc composes the UNROUNDED state (one final rounding only)
        round(col("st.l") + col("h").cast("double") * col("st.b")
          + element_at(col("st.s"), idx), 6).as("fc"))
      .orderBy(col("event_type"), col("h"))
  }

  // -------------------------------------------------- events_ltv_forecast

  /** COHORT-LTV PROJECTION — [[Advanced.eventsLtv]]'s cumulative-value
    * curve married to the Holt trend: per first-event-day cohort, the
    * observed cum-LTV-by-age series folds through the same α=1/2, β=1/4
    * recursion, and the state projects the curve 7 ages ahead — the
    * "where does this cohort's value land" readout a growth team reads
    * against payback targets. Cohorts with fewer than 2 observed ages
    * have no trend and drop (declared).
    *
    * 100 TB shape: identical to events_ltv up to the cum grid (two
    * user-keyed shuffles, model-sized cells); the recursion adds one
    * per-cohort fold over that cohort's ≤|ages| array. */
  val eventsLtvForecast: Q = (s, d) => {
    val mIdx = (c: Column) => (year(c) * 366 + dayofyear(c)).cast("long")
    val firsts = T.events(s, d)
      .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("fd"))
      .select(col("user_id"), mIdx(col("fd")).as("cm"))
    val sizes = firsts.groupBy(col("cm"))
      .agg(count(lit(1)).as("cohort_users"))
    val cells = T.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), mIdx(to_date(col("ts"))).as("am"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .join(firsts, "user_id")
      .groupBy(col("cm"), (col("am") - col("cm")).as("age"))
      .agg(sum(col("cents")).as("rev_cents"))
    val w = Window.partitionBy(col("cm")).orderBy(col("age"))
    val curve = cells.join(sizes, "cm")
      .withColumn("cum_cents", sum(col("rev_cents")).over(w))
      .select(col("cm"), col("age"), col("cohort_users"),
        round(col("cum_cents").cast("double") / 100.0
          / col("cohort_users").cast("double"), 6).as("ltv"))
    val ser = curve.groupBy(col("cm"), col("cohort_users"))
      .agg(array_sort(collect_list(struct(col("age"), col("ltv")))).as("sr"))
      .select(col("cm").as("cohort_day"), col("cohort_users"),
        expr("transform(sr, x -> x.ltv)").as("ys"))
      .filter(size(col("ys")) >= 2)
    ser.withColumn("st", expr(holtFoldSql))
      .select(col("cohort_day"), col("cohort_users"),
        size(col("ys")).cast("long").as("n_ages"),
        element_at(col("ys"), size(col("ys"))).as("ltv_last"),
        round(col("st.l"), 6).as("level"),
        round(col("st.b"), 6).as("trend"),
        round(col("st.l") + lit(7.0) * col("st.b"), 6).as("fc_7"))
      .orderBy(col("cohort_day"))
  }

  // ------------------------------------------------------- sample_coreset

  /** SENSITIVITY-SAMPLED CORESET — the lightweight k-means coreset
    * (Bachem, Lucic & Krause, KDD'18): per label stratum, each vector's
    * sensitivity s(x) = 1/(2n) + d²(x, μ)/(2·Σd²) bounds its worst-case
    * clustering influence; m = 16 points per stratum are drawn
    * proportional to sensitivity by SYSTEMATIC PPS over the cumulative
    * sensitivity in vec_id order (the deterministic twin of importance
    * sampling — the `sample_systematic` device on the `sample_dsir`
    * importance axis), each carrying the unbiasing weight S/(m·s).
    *
    * Exact-arithmetic discipline (the embed_centroid micro-unit trick):
    * floats quantize to 1e-6 integer units, d² ranks as the exact integer
    * Σ(n·q − S_d)² in DECIMAL(38,0); sensitivity takes TWO IEEE
    * divisions, rounds to 8 decimals, and every cumulative/total sum
    * runs as exact DECIMAL, so the selection boundary floor(cum·m/S) is
    * the floor of one deterministic double division on both engines.
    *
    * 100 TB shape: per-(label, dim) sums are model-sized and broadcast
    * back; the cumulative window sorts within a label stratum — the
    * declared per-group-sort cost class (agg_spearman rule); output is
    * ≤ m rows per stratum. */
  val sampleCoreset: Q = (s, d) => {
    val m = 16
    val q = T.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        posexplode(expr("transform(embedding," +
          " x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"))
          .as(Seq("dim", "qd")))
    val sums = q.groupBy(col("label"), col("dim"))
      .agg(sum(col("qd")).as("sd"), count(lit(1)).as("n"))
    val diff = col("n") * col("qd") - col("sd")
    val member = q.join(broadcast(sums), Seq("label", "dim"))
      .select(col("vec_id"), col("label"), col("n"),
        (diff.cast("decimal(18,0)") * diff.cast("decimal(18,0)")).as("dd"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("dd")).as("d2"), max(col("n")).as("n"))
    val tot = member.groupBy(col("label"))
      .agg(sum(col("d2")).as("sumd2"), count(lit(1)).as("n_label"))
    val sens = member.join(broadcast(tot), "label")
      .select(col("label"), col("vec_id"), col("n_label"),
        round(lit(0.5) / col("n_label").cast("double")
          + lit(0.5) * (col("d2").cast("double")
            / col("sumd2").cast("double")), 8)
          .cast("decimal(20,8)").as("s8"))
    val wc = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val stot = sens.groupBy(col("label")).agg(sum(col("s8")).as("st"))
    sens.withColumn("cum", sum(col("s8")).over(wc))
      .join(broadcast(stot), "label")
      .withColumn("ka", floor((col("cum") * m).cast("double")
        / col("st").cast("double")))
      .withColumn("kb", floor(((col("cum") - col("s8")) * m).cast("double")
        / col("st").cast("double")))
      .filter(col("ka") > col("kb"))
      .select(col("label").cast("long").as("label"), col("vec_id"),
        col("n_label"),
        col("s8").cast("double").as("sensitivity"),
        round(col("st").cast("double")
          / (lit(m.toDouble) * col("s8").cast("double")), 6).as("weight"))
      .orderBy(col("label"), col("vec_id"))
  }

  // --------------------------------------------------------- agg_qq_drift

  /** QUANTILE-QUANTILE DRIFT TABLE — the full distribution comparison
    * behind a drift alarm ([[Stats.textKsDrift]] reports the ONE worst
    * CDF gap; the q-q table shows WHERE the distributions diverge and by
    * how much, which is what an on-call engineer actually reads):
    * reference cohort = first half of the month, current = second half;
    * for each decile q ∈ {0.1..0.9}, the exact linear-interpolated
    * quantile of each cohort (the [[Advanced.aggPercentile]] device:
    * row_number ranks, floor/ceil pick, one interpolation) and the gap.
    *
    * 100 TB shape: one rank sort-shuffle per cohort (the window_rank
    * cost class); the decile grid is a broadcast 9-row table, so the
    * pick filter is map-side bounded ×9 replication; everything after
    * is model-sized. */
  val aggQqDrift: Q = (s, d) => {
    val ev = T.events(s, d).select(
      when(dayofmonth(col("ts")) <= 15, lit("ref")).otherwise(lit("cur"))
        .as("cohort"),
      col("value"))
    val n = ev.groupBy(col("cohort")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("value"))
    val ranked = ev.withColumn("r", row_number().over(w).cast("long") - 1L)
      .join(broadcast(n), "cohort")
    val dec = s.range(1, 10).select(col("id").as("dec"))
    val h = (col("dec").cast("double") / 10.0) * (col("n") - 1L).cast("double")
    val kept = ranked.join(broadcast(dec),
        col("r") === floor(h) || col("r") === ceil(h))
      .groupBy(col("cohort"), col("dec"), col("n"))
      .agg(max(when(col("r") === floor(h), col("value"))).as("lo"),
        max(when(col("r") === ceil(h), col("value"))).as("hi"))
    val interp = round(col("lo") + (h - floor(h)) * (col("hi") - col("lo")), 6)
    val q = kept.select(col("cohort"), col("dec"), col("n"),
      interp.as("qv"))
    q.groupBy(col("dec"))
      .agg(max(when(col("cohort") === "ref", col("n"))).as("n_ref"),
        max(when(col("cohort") === "cur", col("n"))).as("n_cur"),
        max(when(col("cohort") === "ref", col("qv"))).as("q_ref"),
        max(when(col("cohort") === "cur", col("qv"))).as("q_cur"))
      .select(col("dec"), col("n_ref"), col("n_cur"), col("q_ref"),
        col("q_cur"), round(col("q_cur") - col("q_ref"), 6).as("gap"))
      .orderBy(col("dec"))
  }

  // -------------------------------------------------------- sample_kcenter

  /** GREEDY K-CENTER / MAX-MIN DIVERSITY DRAW (Gonzalez'85, the farthest-
    * point seeding under every kmeans++-class method) — the DIVERSITY
    * axis of data selection ([[sampleCoreset]] draws by clustering
    * influence; this draws points that are maximally FAR APART — the
    * "cover the embedding space" pick for eval sets and seed selection):
    * start from the lowest vec_id, then 7 rounds of "add the point
    * farthest from every chosen center" (ties → lowest vec_id). Every
    * distance is the EXACT integer Σ(qa−qb)² on 1e-6 micro-units — fits
    * a BIGINT (64 dims × (2e7)² < 2^63) — so the argmax never touches a
    * float; the reported radius takes the one final sqrt.
    *
    * 100 TB shape: the textbook incremental form — the per-point
    * min-distance STATE materializes once and each round folds in ONE
    * new center (`mind ← least(mind, d²(x, c_k))`, a map-side pass
    * against a broadcast 1-row center), so round k costs one corpus
    * pass regardless of k — never k passes, never a recompute of
    * earlier argmaxes (the unmaterialized union-chain draft re-derived
    * every prior round and measured 7.0 s at sf0.1; this reads ~2 s).
    * The SQL texts spell the equivalent min-over-all-centers form —
    * identical integers, the statement-level contract. */
  def sampleKcenter(
      cp: CheckpointStrategy = CheckpointStrategy.Local): Q = (s, d) => {
    val qv = T.embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))")
        .as("qv"))
    def d2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v)
    val c1 = cp.materialize(qv.orderBy(col("vec_id")).limit(1)
      .select(lit(1L).as("rank"), col("vec_id"), col("qv"),
        lit(null).cast("long").as("d2")))
    // center exclusion is ARITHMETIC, not an anti-join: the state keeps
    // the self-pair, so a chosen center (and any exact-duplicate vector,
    // which adds zero coverage) carries min-distance 0 and the > 0
    // filter drops it from candidacy
    val state0 = cp.materialize(
      qv.crossJoin(broadcast(c1.select(col("qv").as("cqv"))))
        .select(col("vec_id"), col("qv"),
          d2(col("qv"), col("cqv")).as("mind")))
    val (centers, _) = (2 to 8).foldLeft((c1, state0)) {
      case ((cents, state), k) =>
        val next = cp.materialize(state.filter(col("mind") > 0L)
          .orderBy(col("mind").desc, col("vec_id")).limit(1)
          .select(lit(k.toLong).as("rank"), col("vec_id"), col("qv"),
            col("mind").as("d2")))
        val nstate =
          if (k == 8) state // the last center needs no state refresh
          else cp.materialize(
            state.crossJoin(broadcast(next.select(col("qv").as("cqv"))))
              .select(col("vec_id"), col("qv"),
                least(col("mind"), d2(col("qv"), col("cqv"))).as("mind")))
        (cents.unionByName(next), nstate)
    }
    centers.select(col("rank"), col("vec_id"), col("d2"),
        round(sqrt(col("d2").cast("double")) / 1e6, 6).as("radius"))
      .orderBy(col("rank"))
  }

  // --------------------------------------------------- events_forecast_eval

  /** FORECAST BACKTEST (holdout evaluation) — the eval loop every
    * forecast needs before anyone trusts it ([[aggHolt]] fits the state;
    * this SCORES it): per type, the Holt state fits on the FIRST 20 days
    * only, linear forecasts l + h·b score against the held-out tail, and
    * the report is per-type MAE / MAPE / mean bias. Error terms round to
    * 6 and average as exact decimal sums, so the verdict is partition-
    * order free.
    *
    * 100 TB shape: the same (type × day) map-side fold as agg_holt; the
    * holdout explode is ≤ |tail| rows per type — model-sized. */
  val eventsForecastEval: Q = (s, d) => {
    val trainN = 20
    val daily = T.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("rev"))
    val ser = daily.groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("rev")))).as("sr"))
      .select(col("event_type"),
        expr("transform(sr, x -> x.rev)").as("ysAll"))
      .filter(size(col("ysAll")) > trainN + 1)
      .withColumn("ys", slice(col("ysAll"), 1, trainN))
      .withColumn("st", expr(holtFoldSql))
      .withColumn("tail",
        slice(col("ysAll"), lit(trainN + 1), size(col("ysAll")) - trainN))
    // each error term divides by n_test BEFORE summing (round-8 decimal
    // shares), and the reported means round in DECIMAL space: a
    // sum-then-divide would land exactly on a 6th-decimal HALF whenever
    // n_test divides a decimal-terminating sum evenly (n_test = n_days -
    // trainN varies per type — only >= 2 is guaranteed by the filter
    // above), which a double-space round resolves differently per engine;
    // the per-term share discipline is safe for ANY n_test (ADVICE r10)
    def share(c: Column): Column =
      round(round(c, 6) / col("n_test").cast("double"), 8)
        .cast("decimal(20,8)")
    val scored = ser.select(col("event_type"), col("st"),
        size(col("tail")).cast("long").as("n_test"),
        posexplode(col("tail")).as(Seq("j", "y")))
      .select(col("event_type"), col("n_test"), col("y"),
        (col("st.l")
          + (col("j") + 1).cast("double") * col("st.b")).as("fc"))
      .select(col("event_type"), col("n_test"),
        share(col("y") - col("fc")).as("e"),
        share(abs(col("y") - col("fc"))).as("ae"),
        share(abs(col("y") - col("fc")) / abs(col("y"))).as("ape"))
    scored.groupBy(col("event_type"), col("n_test"))
      .agg(round(sum(col("ae")), 6).cast("double").as("mae"),
        round(sum(col("ape")), 6).cast("double").as("mape"),
        round(sum(col("e")), 6).cast("double").as("bias"))
      .select(col("event_type"), lit(trainN.toLong).as("n_train"),
        col("n_test"), col("mae"), col("mape"), col("bias"))
      .orderBy(col("event_type"))
  }

  // --------------------------------------------------------------- registry

  val queries: Map[String, Q] = Map(
    "agg_holt" -> aggHolt,
    "agg_holt_winters" -> aggHoltWinters,
    "events_ewma_chart" -> eventsEwmaChart,
    "events_ltv_forecast" -> eventsLtvForecast,
    "sample_coreset" -> sampleCoreset,
    "agg_qq_drift" -> aggQqDrift,
    "sample_kcenter" -> sampleKcenter(),
    "events_forecast_eval" -> eventsForecastEval,
  )

  /** Dialect-parameterized text for sample_kcenter's 8 unrolled greedy
    * rounds: `qvSel` quantizes the embedding to micro-unit BIGINTs,
    * `dist(a, b)` spells the exact integer Σ(qa−qb)² between two
    * quantized rows, `mat` materializes chained CTEs where the dialect
    * needs it ("MATERIALIZED " for DuckDB — its default CTE inlining
    * re-expands the cents chain exponentially; empty for Spark, whose
    * WithCTE dedups multi-referenced CTEs). Center exclusion is
    * arithmetic, not an anti-join: the candidate scan INCLUDES the
    * self-pair, so every chosen center (and any exact-duplicate vector
    * — which adds zero coverage by definition) carries min-distance 0
    * and the HAVING drops it, keeping each round a single pass that
    * references the center list once. Both dialects produce the
    * identical integer argmax sequence. */
  private[graft] def kcenterSqlGen(qvSel: String,
      dist: (String, String) => String, mat: String = ""): String = {
    val rounds = (2 to 8).map { k =>
      s"""m$k AS $mat(
         |  SELECT p.vec_id, MIN(${dist("p", "c")}) AS mind
         |  FROM q p CROSS JOIN cents${k - 1} c
         |  GROUP BY p.vec_id
         |  HAVING MIN(${dist("p", "c")}) > 0),
         |c$k AS $mat(
         |  SELECT CAST($k AS BIGINT) AS rank, m$k.vec_id, q.qv,
         |    m$k.mind AS d2
         |  FROM m$k JOIN q ON q.vec_id = m$k.vec_id
         |  ORDER BY m$k.mind DESC, m$k.vec_id LIMIT 1),
         |cents$k AS $mat(SELECT * FROM cents${k - 1} UNION ALL
         |  SELECT * FROM c$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS $mat(
       |  SELECT vec_id, $qvSel AS qv FROM embeddings),
       |cents1 AS $mat(
       |  SELECT CAST(1 AS BIGINT) AS rank, vec_id, qv,
       |    CAST(NULL AS BIGINT) AS d2
       |  FROM q ORDER BY vec_id LIMIT 1),
       |$rounds
       |SELECT rank, vec_id, d2,
       |  CAST(round(sqrt(CAST(d2 AS DOUBLE)) / 1000000.0, 6) AS DOUBLE)
       |    AS radius
       |FROM cents8 ORDER BY rank""".stripMargin
  }

  /** Oracle text for agg_qq_drift; Spark runs it unchanged (the decile
    * generator `range(1, 10)` is a table function in both dialects). */
  private val qqDriftSql: String =
    """WITH ev AS (
       |  SELECT CASE WHEN EXTRACT(DAY FROM ts) <= 15
       |    THEN 'ref' ELSE 'cur' END AS cohort, value
       |  FROM events),
       |n AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n
       |      FROM ev GROUP BY cohort),
       |ranked AS (
       |  SELECT ev.cohort, ev.value,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY ev.cohort ORDER BY ev.value)
       |      AS BIGINT) - 1 AS r,
       |    n.n
       |  FROM ev JOIN n ON ev.cohort = n.cohort),
       |dec AS (SELECT r.i AS dec FROM range(1, 10) r(i)),
       |kept AS (
       |  SELECT cohort, dec, n,
       |    MAX(CASE WHEN r = floor((CAST(dec AS DOUBLE) / 10.0)
       |      * CAST(n - 1 AS DOUBLE)) THEN value END) AS lo,
       |    MAX(CASE WHEN r = ceil((CAST(dec AS DOUBLE) / 10.0)
       |      * CAST(n - 1 AS DOUBLE)) THEN value END) AS hi
       |  FROM ranked JOIN dec
       |    ON r = floor((CAST(dec AS DOUBLE) / 10.0)
       |         * CAST(n - 1 AS DOUBLE))
       |    OR r = ceil((CAST(dec AS DOUBLE) / 10.0)
       |         * CAST(n - 1 AS DOUBLE))
       |  GROUP BY cohort, dec, n),
       |q AS (
       |  SELECT cohort, dec, n,
       |    CAST(round(lo + ((CAST(dec AS DOUBLE) / 10.0)
       |        * CAST(n - 1 AS DOUBLE)
       |        - floor((CAST(dec AS DOUBLE) / 10.0)
       |            * CAST(n - 1 AS DOUBLE))) * (hi - lo), 6) AS DOUBLE)
       |      AS qv
       |  FROM kept)
       |SELECT CAST(dec AS BIGINT) AS dec,
       |  MAX(CASE WHEN cohort = 'ref' THEN n END) AS n_ref,
       |  MAX(CASE WHEN cohort = 'cur' THEN n END) AS n_cur,
       |  MAX(CASE WHEN cohort = 'ref' THEN qv END) AS q_ref,
       |  MAX(CASE WHEN cohort = 'cur' THEN qv END) AS q_cur,
       |  CAST(round(MAX(CASE WHEN cohort = 'cur' THEN qv END)
       |    - MAX(CASE WHEN cohort = 'ref' THEN qv END), 6) AS DOUBLE) AS gap
       |FROM q GROUP BY dec ORDER BY dec""".stripMargin

  /** agg_holt_winters oracle: the (l, b, s₁..s₇) state as a RECURSIVE
    * CTE with one column per seasonal phase — each step updates exactly
    * the active phase's column via CASE; every arithmetic expression is
    * spelled in the fold's IEEE op order. */
  private def holtWintersOracle: String = {
    val w1 = "(y1 + y2 + y3 + y4 + y5 + y6 + y7) / CAST(7 AS DOUBLE)"
    val w2 = "(y8 + y9 + y10 + y11 + y12 + y13 + y14) / CAST(7 AS DOUBLE)"
    val ys = (1 to 14).map(k =>
      s"MAX(CASE WHEN rn = $k THEN rev END) AS y$k").mkString(",\n    ")
    val sInit = (1 to 7).map(k => s"CAST(y$k - $w1 AS DOUBLE) AS s$k")
      .mkString(",\n    ")
    val sp = "CASE CAST((d.rn - 1) % 7 + 1 AS BIGINT) " +
      (1 to 7).map(k => s"WHEN $k THEN r.s$k").mkString(" ") + " END"
    val lNew = s"CAST(0.5 AS DOUBLE) * (d.rev - ($sp)) " +
      "+ CAST(0.5 AS DOUBLE) * (r.l + r.b)"
    val bNew = s"CAST(0.25 AS DOUBLE) * (($lNew) - r.l) " +
      "+ CAST(0.75 AS DOUBLE) * r.b"
    val sNew = (1 to 7).map { k =>
      s"""CASE WHEN CAST((d.rn - 1) % 7 + 1 AS BIGINT) = $k
         |      THEN CAST(0.25 AS DOUBLE) * (d.rev - ($lNew))
         |           + CAST(0.75 AS DOUBLE) * r.s$k
         |      ELSE r.s$k END""".stripMargin
    }.mkString(",\n    ")
    val fcPhase = "CAST((f.n_days + h.h - 1) % 7 + 1 AS BIGINT)"
    val fcS = s"CASE $fcPhase " +
      (1 to 7).map(k => s"WHEN $k THEN f.s$k").mkString(" ") + " END"
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    ${dsumSql("value")} AS rev
       |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
       |idx AS (
       |  SELECT event_type, rev,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
       |  FROM daily),
       |nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
       |       FROM idx GROUP BY event_type HAVING COUNT(*) >= 15),
       |w AS (
       |  SELECT idx.event_type,
       |    $ys
       |  FROM idx JOIN nd ON idx.event_type = nd.event_type
       |  GROUP BY idx.event_type),
       |rec AS (
       |  SELECT event_type, CAST(7 AS BIGINT) AS t,
       |    CAST($w1 AS DOUBLE) AS l,
       |    CAST(($w2 - $w1) / CAST(7 AS DOUBLE) AS DOUBLE) AS b,
       |    $sInit
       |  FROM w
       |  UNION ALL
       |  SELECT r.event_type, r.t + 1,
       |    $lNew,
       |    $bNew,
       |    $sNew
       |  FROM rec r JOIN idx d
       |    ON d.event_type = r.event_type AND d.rn = r.t + 1),
       |fin AS (
       |  SELECT rec.*, nd.n_days
       |  FROM rec JOIN nd ON rec.event_type = nd.event_type
       |  WHERE rec.t = nd.n_days)
       |SELECT f.event_type, f.n_days, CAST(h.h AS BIGINT) AS h,
       |  CAST(round(f.l, 6) AS DOUBLE) AS level,
       |  CAST(round(f.b, 6) AS DOUBLE) AS trend,
       |  CAST(round($fcS, 6) AS DOUBLE) AS seasonal,
       |  CAST(round(f.l + CAST(h.h AS DOUBLE) * f.b + ($fcS), 6) AS DOUBLE)
       |    AS fc
       |FROM fin f CROSS JOIN range(1, 8) h(h)
       |ORDER BY f.event_type, h""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "agg_holt_winters" -> holtWintersOracle,

    // z recursion replayed per day-rank; moments as plain exact-decimal
    // SUMs (order-free — identical values to the fold's closed casts)
    "events_ewma_chart" ->
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
         |    CAST(3 AS DOUBLE)
         |      * sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
         |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
         |      * sqrt(CAST(1 AS DOUBLE) / CAST(7 AS DOUBLE)) AS lim
         |  FROM m),
         |rec AS (
         |  SELECT idx.event_type, CAST(1 AS BIGINT) AS t,
         |    CAST(0.25 AS DOUBLE) * idx.rev
         |      + CAST(0.75 AS DOUBLE) * l0.mu AS z
         |  FROM idx JOIN lims l0 ON idx.event_type = l0.event_type
         |  WHERE idx.rn = 1
         |  UNION ALL
         |  SELECT r.event_type, r.t + 1,
         |    CAST(0.25 AS DOUBLE) * d.rev + CAST(0.75 AS DOUBLE) * r.z
         |  FROM rec r JOIN idx d
         |    ON d.event_type = r.event_type AND d.rn = r.t + 1)
         |SELECT idx.event_type, idx.day, idx.rev,
         |  CAST(round(rec.z, 6) AS DOUBLE) AS ewma,
         |  CAST(round(lims.mu + lims.lim, 6) AS DOUBLE) AS ucl,
         |  CAST(round(lims.mu - lims.lim, 6) AS DOUBLE) AS lcl,
         |  (abs(rec.z - lims.mu) > lims.lim) AS breach
         |FROM idx
         |JOIN rec ON idx.event_type = rec.event_type AND idx.rn = rec.t
         |JOIN lims ON idx.event_type = lims.event_type
         |ORDER BY idx.event_type, idx.day""".stripMargin,
    // Holt recursion replayed as a RECURSIVE CTE: identical init (l₂=y₂,
    // b₂=y₂−y₁) and identical IEEE op order per step — the doubles agree
    // bit-for-bit with the aggregate() fold
    "agg_holt" ->
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |    ${dsumSql("value")} AS rev
         |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
         |idx AS (
         |  SELECT event_type, rev,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
         |  FROM daily),
         |nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
         |       FROM idx GROUP BY event_type),
         |rec AS (
         |  SELECT a.event_type, CAST(2 AS BIGINT) AS t,
         |    CAST(b.rev AS DOUBLE) AS l,
         |    CAST(b.rev - a.rev AS DOUBLE) AS b
         |  FROM idx a JOIN idx b
         |    ON a.event_type = b.event_type AND a.rn = 1 AND b.rn = 2
         |  UNION ALL
         |  SELECT r.event_type, r.t + 1,
         |    ${holtStepL("d.rev")},
         |    ${holtStepB("d.rev")}
         |  FROM rec r JOIN idx d
         |    ON d.event_type = r.event_type AND d.rn = r.t + 1),
         |fin AS (
         |  SELECT rec.event_type, nd.n_days, rec.l, rec.b
         |  FROM rec JOIN nd ON rec.event_type = nd.event_type
         |  WHERE rec.t = nd.n_days)
         |SELECT event_type, n_days,
         |  CAST(round(l, 6) AS DOUBLE) AS level,
         |  CAST(round(b, 6) AS DOUBLE) AS trend,
         |  CAST(round(l + b, 6) AS DOUBLE) AS fc_1,
         |  CAST(round(l + CAST(7 AS DOUBLE) * b, 6) AS DOUBLE) AS fc_7
         |FROM fin ORDER BY event_type""".stripMargin,

    // events_ltv's cum grid (verbatim CTEs) + the Holt recursion over the
    // per-cohort cum-LTV series ranked by age
    "events_ltv_forecast" ->
      s"""WITH RECURSIVE firsts AS (
         |  SELECT user_id,
         |    CAST(year(MIN(CAST(ts AS DATE))) * 366
         |      + dayofyear(MIN(CAST(ts AS DATE))) AS BIGINT) AS cm
         |  FROM events GROUP BY user_id),
         |sizes AS (
         |  SELECT cm, CAST(COUNT(*) AS BIGINT) AS cohort_users
         |  FROM firsts GROUP BY cm),
         |cells AS (
         |  SELECT f.cm,
         |    CAST(year(CAST(e.ts AS DATE)) * 366
         |      + dayofyear(CAST(e.ts AS DATE)) AS BIGINT) - f.cm AS age,
         |    CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
         |      AS rev_cents
         |  FROM events e JOIN firsts f ON e.user_id = f.user_id
         |  WHERE e.event_type = 'purchase'
         |  GROUP BY f.cm, CAST(year(CAST(e.ts AS DATE)) * 366
         |      + dayofyear(CAST(e.ts AS DATE)) AS BIGINT) - f.cm),
         |curve AS (
         |  SELECT cells.cm, cells.age, sizes.cohort_users,
         |    CAST(round(CAST(SUM(rev_cents) OVER
         |        (PARTITION BY cells.cm ORDER BY age) AS DOUBLE) / 100.0
         |      / CAST(cohort_users AS DOUBLE), 6) AS DOUBLE) AS ltv,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY cells.cm ORDER BY age)
         |      AS BIGINT) AS rn
         |  FROM cells JOIN sizes ON cells.cm = sizes.cm),
         |na AS (
         |  SELECT cm, cohort_users, CAST(COUNT(*) AS BIGINT) AS n_ages,
         |    MAX(CASE WHEN rn_last = 1 THEN ltv END) AS ltv_last
         |  FROM (SELECT curve.*,
         |          ROW_NUMBER() OVER (PARTITION BY cm ORDER BY rn DESC)
         |            AS rn_last
         |        FROM curve) x
         |  GROUP BY cm, cohort_users),
         |rec AS (
         |  SELECT a.cm, CAST(2 AS BIGINT) AS t,
         |    CAST(b.ltv AS DOUBLE) AS l,
         |    CAST(b.ltv - a.ltv AS DOUBLE) AS b
         |  FROM curve a JOIN curve b
         |    ON a.cm = b.cm AND a.rn = 1 AND b.rn = 2
         |  UNION ALL
         |  SELECT r.cm, r.t + 1,
         |    ${holtStepL("d.ltv")},
         |    ${holtStepB("d.ltv")}
         |  FROM rec r JOIN curve d ON d.cm = r.cm AND d.rn = r.t + 1),
         |fin AS (
         |  SELECT rec.cm, na.cohort_users, na.n_ages, na.ltv_last,
         |    rec.l, rec.b
         |  FROM rec JOIN na ON rec.cm = na.cm
         |  WHERE rec.t = na.n_ages)
         |SELECT cm AS cohort_day, cohort_users, n_ages, ltv_last,
         |  CAST(round(l, 6) AS DOUBLE) AS level,
         |  CAST(round(b, 6) AS DOUBLE) AS trend,
         |  CAST(round(l + CAST(7 AS DOUBLE) * b, 6) AS DOUBLE) AS fc_7
         |FROM fin ORDER BY cohort_day""".stripMargin,

    "agg_qq_drift" -> qqDriftSql,

    "sample_kcenter" -> kcenterSqlGen(
      "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))",
      (a, b) => s"CAST(list_sum(list_transform(range(1, 65), " +
        s"i -> ($a.qv[i] - $b.qv[i]) * ($a.qv[i] - $b.qv[i]))) AS BIGINT)",
      mat = "MATERIALIZED "),

    // Holt state fit on the FIRST 20 days only (the recursion stops at
    // t=20), scored on the held-out tail; error terms round 6 and
    // average as exact decimal sums
    "events_forecast_eval" ->
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |    ${dsumSql("value")} AS rev
         |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
         |idx AS (
         |  SELECT event_type, rev,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
         |  FROM daily),
         |nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
         |       FROM idx GROUP BY event_type HAVING COUNT(*) > 21),
         |rec AS (
         |  SELECT a.event_type, CAST(2 AS BIGINT) AS t,
         |    CAST(b.rev AS DOUBLE) AS l,
         |    CAST(b.rev - a.rev AS DOUBLE) AS b
         |  FROM idx a JOIN idx b
         |    ON a.event_type = b.event_type AND a.rn = 1 AND b.rn = 2
         |  JOIN nd ON nd.event_type = a.event_type
         |  UNION ALL
         |  SELECT r.event_type, r.t + 1,
         |    ${holtStepL("d.rev")},
         |    ${holtStepB("d.rev")}
         |  FROM rec r JOIN idx d
         |    ON d.event_type = r.event_type AND d.rn = r.t + 1
         |  WHERE r.t + 1 <= 20),
         |st AS (SELECT event_type, l, b FROM rec WHERE t = 20),
         |tn AS (SELECT event_type, n_days - 20 AS n_test FROM nd),
         |scored AS (
         |  SELECT idx.event_type, tn.n_test,
         |    CAST(round(round(idx.rev - (st.l
         |      + CAST(idx.rn - 20 AS DOUBLE) * st.b), 6)
         |      / CAST(tn.n_test AS DOUBLE), 8) AS DECIMAL(20,8)) AS e,
         |    CAST(round(round(abs(idx.rev - (st.l
         |      + CAST(idx.rn - 20 AS DOUBLE) * st.b)), 6)
         |      / CAST(tn.n_test AS DOUBLE), 8) AS DECIMAL(20,8)) AS ae,
         |    CAST(round(round(abs(idx.rev - (st.l
         |      + CAST(idx.rn - 20 AS DOUBLE) * st.b)) / abs(idx.rev), 6)
         |      / CAST(tn.n_test AS DOUBLE), 8) AS DECIMAL(20,8)) AS ape
         |  FROM idx JOIN st ON idx.event_type = st.event_type
         |  JOIN tn ON idx.event_type = tn.event_type
         |  WHERE idx.rn > 20)
         |SELECT scored.event_type, CAST(20 AS BIGINT) AS n_train,
         |  CAST(n_test AS BIGINT) AS n_test,
         |  CAST(round(SUM(ae), 6) AS DOUBLE) AS mae,
         |  CAST(round(SUM(ape), 6) AS DOUBLE) AS mape,
         |  CAST(round(SUM(e), 6) AS DOUBLE) AS bias
         |FROM scored GROUP BY scored.event_type, n_test
         |ORDER BY scored.event_type""".stripMargin,

    // stratified lightweight coreset: micro-unit exact d², two IEEE
    // divisions into an 8-rounded sensitivity, decimal cumulative PPS
    "sample_coreset" ->
      """WITH q AS (
        |  SELECT vec_id, label, i AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)
        |      AS qd
        |  FROM embeddings, range(1, 65) r(i)),
        |sums AS (
        |  SELECT label, dim, CAST(SUM(qd) AS BIGINT) AS sd,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM q GROUP BY label, dim),
        |member AS (
        |  SELECT q.vec_id, q.label,
        |    SUM(CAST(sums.n * q.qd - sums.sd AS DECIMAL(18,0))
        |      * CAST(sums.n * q.qd - sums.sd AS DECIMAL(18,0))) AS d2,
        |    MAX(sums.n) AS n
        |  FROM q JOIN sums ON q.label = sums.label AND q.dim = sums.dim
        |  GROUP BY q.vec_id, q.label),
        |tot AS (
        |  SELECT label, SUM(d2) AS sumd2, CAST(COUNT(*) AS BIGINT)
        |      AS n_label
        |  FROM member GROUP BY label),
        |sens AS (
        |  SELECT member.label, member.vec_id, tot.n_label,
        |    CAST(round(CAST(0.5 AS DOUBLE) / CAST(tot.n_label AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE) * (CAST(member.d2 AS DOUBLE)
        |        / CAST(tot.sumd2 AS DOUBLE)), 8) AS DECIMAL(20,8)) AS s8
        |  FROM member JOIN tot ON member.label = tot.label),
        |cw AS (
        |  SELECT label, vec_id, n_label, s8,
        |    SUM(s8) OVER (PARTITION BY label ORDER BY vec_id) AS cum
        |  FROM sens),
        |st AS (SELECT label, SUM(s8) AS st FROM sens GROUP BY label)
        |SELECT CAST(cw.label AS BIGINT) AS label, cw.vec_id, cw.n_label,
        |  CAST(cw.s8 AS DOUBLE) AS sensitivity,
        |  CAST(round(CAST(st.st AS DOUBLE)
        |    / (CAST(16 AS DOUBLE) * CAST(cw.s8 AS DOUBLE)), 6) AS DOUBLE)
        |    AS weight
        |FROM cw JOIN st ON cw.label = st.label
        |WHERE floor(CAST(cw.cum * 16 AS DOUBLE) / CAST(st.st AS DOUBLE))
        |    > floor(CAST((cw.cum - cw.s8) * 16 AS DOUBLE)
        |        / CAST(st.st AS DOUBLE))
        |ORDER BY label, vec_id""".stripMargin,
  )
}
