package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{Tables => T}

/** Statistical-testing / distribution-drift operators — round-8 widening
  * of the declared surface (SURVEY §2.2) past the reference's
  * two-statement scope (`/root/reference/db.cpp:428-441`): Kaplan-Meier
  * survival curves, Mann-Whitney rank-sum and chi-square independence
  * tests, two-sample Kolmogorov-Smirnov drift, per-label covariance
  * matrices, and systematic stride sampling. These are the
  * experimentation / monitoring queries a data platform runs next to its
  * A/B dashboards. Same determinism discipline as [[Insights]]: exact
  * integer or decimal accumulation wherever the value crosses an
  * aggregate, round-then-cast doubles, total ORDER BY — every key
  * hash-matches its DuckDB oracle.
  */
object Stats {
  type Q = (SparkSession, String) => DataFrame

  /** KAPLAN-MEIER survival curve — the time-to-event estimator behind
    * retention and churn analyses (right-censored data: users who never
    * "die" still inform the at-risk denominator): per user, birth = first
    * event, death = first `purchase`, censoring at the corpus watermark;
    * cohorts = the user's first event type. At each death time t with d
    * deaths and n at risk, the curve multiplies by (1 − d/n); the product
    * accumulates as an exact DECIMAL running sum of 8-rounded log factors
    * (the `text_perplexity` discipline — a raw double Π would vary with
    * partition order), and only exp() of the bit-identical sum rounds.
    *
    * 100 TB shape: one user_id shuffle folds the corpus to per-user
    * (cohort, duration, died) rows; the survival grid is (cohorts ×
    * distinct durations) — MODEL-sized — so the at-risk and log-sum
    * windows run on the grid, never the corpus. */
  /** The Kaplan-Meier risk grid shared by [[eventsSurvival]] and
    * [[eventsHazard]]: per (cohort, duration) — deaths `d`, censored `c`,
    * and the at-risk count `n_risk` (everyone whose duration is ≥ this
    * one, computed by total-minus-strictly-prior prefix sums on the
    * model-sized grid). */
  private def kmGrid(s: SparkSession, d: String): DataFrame = {
    val e = T.events(s, d)
    val wFirst = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val perUser = e
      .withColumn("cohort", first(col("event_type")).over(wFirst))
      .groupBy(col("user_id"), col("cohort"))
      .agg(min(col("ts")).as("birth"),
        min(when(col("event_type") === "purchase", col("ts"))).as("death"))
    val wm = e.agg(max(col("ts")).as("wm"))
    val durs = perUser.crossJoin(broadcast(wm))
      .select(col("cohort"),
        datediff(coalesce(col("death"), col("wm")).cast("date"),
          col("birth").cast("date")).cast("long").as("dur"),
        col("death").isNotNull.as("died"))
    val grid = durs.groupBy(col("cohort"), col("dur"))
      .agg(sum(when(col("died"), 1L).otherwise(0L)).as("d"),
        sum(when(col("died"), 0L).otherwise(1L)).as("c"))
    val wCum = Window.partitionBy(col("cohort")).orderBy(col("dur"))
    val wPrev = wCum.rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("cohort"))
    grid.withColumn("n_risk",
      sum(col("d") + col("c")).over(wAll)
        - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
  }

  val eventsSurvival: Q = (s, d) => {
    val wCum = Window.partitionBy(col("cohort")).orderBy(col("dur"))
    val curve = kmGrid(s, d)
      // a death time where EVERYONE at risk dies (d = n) zeroes the curve:
      // its log factor is undefined, so the zero is carried as a flag and
      // the survival pins to 0.0 from that time on (standard KM edge case)
      .withColumn("lp",
        when(col("d") > 0 && col("d") < col("n_risk"),
          round(log((col("n_risk") - col("d")).cast("double")
            / col("n_risk").cast("double")), 8))
          .otherwise(lit(0.0)).cast("decimal(20,8)"))
      .withColumn("zeroed",
        max(when(col("d") === col("n_risk"), 1L).otherwise(0L)).over(wCum))
      .withColumn("ls", sum(col("lp")).over(wCum))
    curve.filter(col("d") > 0)
      .select(col("cohort"), col("dur"), col("n_risk"),
        col("d").as("d_events"),
        when(col("zeroed") === 1L, lit(0.0))
          .otherwise(round(exp(col("ls").cast("double")), 6)).as("survival"))
      .orderBy(col("cohort"), col("dur"))
  }

  /** NELSON-AALEN cumulative hazard — the additive companion of
    * [[eventsSurvival]]'s Kaplan-Meier product (KM answers "what share
    * survives to t"; the hazard integral H(t) = Σ d_i/n_i answers "how
    * much death pressure accumulated by t", the quantity hazard-ratio
    * models regress on): same per-user fold and risk grid ([[kmGrid]]),
    * per-time terms d/n rounded to 8 decimals then summed as exact
    * DECIMAL over the cohort-ordered window (order-free — the
    * text_perplexity discipline), plus the Fleming-Harrington survival
    * exp(−H) the two-estimator cross-check reads.
    *
    * 100 TB shape: identical to events_survival — one user_id shuffle to
    * per-user rows, then every window runs on the model-sized (cohort ×
    * duration) grid. */
  val eventsHazard: Q = (s, d) => {
    val wCum = Window.partitionBy(col("cohort")).orderBy(col("dur"))
    kmGrid(s, d)
      .withColumn("hterm",
        when(col("d") > 0,
          round(col("d").cast("double") / col("n_risk").cast("double"), 8))
          .otherwise(lit(0.0)).cast("decimal(20,8)"))
      .withColumn("ch", sum(col("hterm")).over(wCum))
      .filter(col("d") > 0)
      .select(col("cohort"), col("dur"), col("n_risk"),
        col("d").as("d_events"),
        round(col("ch").cast("double"), 6).as("cum_hazard"),
        round(exp(-col("ch").cast("double")), 6).as("na_survival"))
      .orderBy(col("cohort"), col("dur"))
  }

  /** TUKEY-FENCE outlier audit — the box-plot gate every data-quality
    * monitor draws ([[graft.ops.Curation]]'s winsorize CLAMPS at fixed
    * percentiles; Tukey fences COUNT what falls outside Q1−1.5·IQR /
    * Q3+1.5·IQR, the distribution-free outlier definition): exact
    * interpolated quartiles per order status via the
    * [[graft.ops.Advanced.aggPercentile]] rank-interpolation spelling
    * (external-sort window, ≤4 carrier rows per group survive — never a
    * full-group aggregation buffer), fences as one fixed IEEE sequence on
    * the round-2 quartiles, then ONE conditional aggregate counts
    * below/above/total against the broadcast fence table.
    *
    * 100 TB shape: one per-group sort-shuffle (spills, memory-bounded) +
    * one map-side conditional fold against ≤|groups| broadcast fences. */
  val aggTukeyFences: Q = (s, d) => {
    val o = T.orders(s, d).select(col("o_orderstatus"), col("o_totalprice"))
    val n = o.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_totalprice"))
    val ranked = o.withColumn("r", row_number().over(w).cast("long") - 1)
    def h(q: Double) = lit(q) * (col("n") - 1).cast("double")
    val kept = ranked.join(n, "o_orderstatus").filter(
      col("r") === floor(h(0.25)) || col("r") === ceil(h(0.25)) ||
      col("r") === floor(h(0.75)) || col("r") === ceil(h(0.75)))
    val picked = kept.groupBy(col("o_orderstatus"), col("n")).agg(
      max(when(col("r") === floor(h(0.25)), col("o_totalprice"))).as("lo25"),
      max(when(col("r") === ceil(h(0.25)), col("o_totalprice"))).as("hi25"),
      max(when(col("r") === floor(h(0.75)), col("o_totalprice"))).as("lo75"),
      max(when(col("r") === ceil(h(0.75)), col("o_totalprice"))).as("hi75"))
    def interp(lo: Column, hi: Column, q: Double) = {
      val hq = h(q)
      round(lo + (hq - floor(hq)) * (hi - lo), 2)
    }
    val fences = picked.select(col("o_orderstatus"),
      interp(col("lo25"), col("hi25"), 0.25).as("q1"),
      interp(col("lo75"), col("hi75"), 0.75).as("q3"))
      .withColumn("iqr", round(col("q3") - col("q1"), 2))
      .withColumn("f_lo", col("q1") - lit(1.5) * col("iqr"))
      .withColumn("f_hi", col("q3") + lit(1.5) * col("iqr"))
    o.join(broadcast(fences), "o_orderstatus")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        max(col("q1")).as("q1"), max(col("q3")).as("q3"),
        max(col("iqr")).as("iqr"),
        sum(when(col("o_totalprice") < col("f_lo"), 1L).otherwise(0L))
          .as("n_below"),
        sum(when(col("o_totalprice") > col("f_hi"), 1L).otherwise(0L))
          .as("n_above"))
      .withColumn("outlier_share",
        round((col("n_below") + col("n_above")).cast("double")
          / col("n").cast("double"), 6))
      .orderBy(col("o_orderstatus"))
  }

  /** KAPLAN-MEIER with GREENWOOD CONFIDENCE BANDS — [[eventsSurvival]]'s
    * curve plus the 95 % interval a decision should actually read
    * (a point estimate without its variance invites overreading thin
    * cohorts): Greenwood's formula var(S) = S²·Σ d/(n(n−d)), the
    * variance terms accumulated exactly like the log factors — rounded
    * to 8 decimals, summed as exact DECIMAL over the cohort window —
    * bands clamped to [0, 1], total-death times pinned to 0 (the KM
    * edge case shared with the base curve).
    *
    * 100 TB shape: identical to events_survival — one user fold, all
    * windows on the model-sized risk grid. */
  val eventsSurvivalCi: Q = (s, d) => {
    val wCum = Window.partitionBy(col("cohort")).orderBy(col("dur"))
    val curve = kmGrid(s, d)
      .withColumn("lp",
        when(col("d") > 0 && col("d") < col("n_risk"),
          round(log((col("n_risk") - col("d")).cast("double")
            / col("n_risk").cast("double")), 8))
          .otherwise(lit(0.0)).cast("decimal(20,8)"))
      .withColumn("gt",
        when(col("d") > 0 && col("d") < col("n_risk"),
          round(col("d").cast("double")
            / (col("n_risk").cast("double")
              * (col("n_risk") - col("d")).cast("double")), 8))
          .otherwise(lit(0.0)).cast("decimal(20,8)"))
      .withColumn("zeroed",
        max(when(col("d") === col("n_risk"), 1L).otherwise(0L)).over(wCum))
      .withColumn("ls", sum(col("lp")).over(wCum))
      .withColumn("gw", sum(col("gt")).over(wCum))
    curve.filter(col("d") > 0)
      .withColumn("surv",
        when(col("zeroed") === 1L, lit(0.0))
          .otherwise(exp(col("ls").cast("double"))))
      .withColumn("se", col("surv") * sqrt(col("gw").cast("double")))
      .select(col("cohort"), col("dur"), col("n_risk"),
        col("d").as("d_events"),
        round(col("surv"), 6).as("survival"),
        round(greatest(col("surv") - lit(1.96) * col("se"), lit(0.0)), 6)
          .as("ci_lo"),
        round(least(col("surv") + lit(1.96) * col("se"), lit(1.0)), 6)
          .as("ci_hi"))
      .orderBy(col("cohort"), col("dur"))
  }

  /** SPEARMAN RANK CORRELATION per return flag — the monotone-association
    * companion of [[graft.ops.Insights]]'s Pearson `agg_corr_matrix`
    * (Pearson reads LINEAR association and is leveraged by outliers;
    * Spearman on ranks answers "do they move together at all", the
    * robust screening question): quantity vs extended price per flag,
    * tied values at AVERAGE rank carried ×2 so every rank is an exact
    * integer (the [[aggMannWhitney]] device); all five moments are
    * exact DECIMAL(19,0)-product sums; ρ is one fixed IEEE tail.
    *
    * 100 TB shape: two per-group sort-shuffles (the rank windows — the
    * window_rank cost class); the moment fold is map-side to the flag
    * grid. */
  val aggSpearman: Q = (s, d) => {
    val li = T.lineitem(s, d).select(col("l_returnflag").as("fl"),
      col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    def r2(c: String) =
      lit(2L) * rank().over(Window.partitionBy(col("fl")).orderBy(col(c))) +
        count(lit(1)).over(Window.partitionBy(col("fl"), col(c))) - 1L
    // rx depends only on (fl, x) and x (l_quantity) is domain-bounded, so
    // fold to the distinct-value grid first and rank the GRID (r14, guide
    // §2.3: sort model-sized data, not the corpus): for a value with grid
    // count c and inclusive cumulative count cum, competition rank is
    // cum − c + 1, so 2·rank + c − 1 = 2·cum − c + 1 — identical to r2("x")
    // row-by-row. Replaces one full-corpus (fl, x) sort with a grid window
    // + broadcast join; y (l_extendedprice) is near-unique, its grid is
    // corpus-sized, so the per-row window stays.
    val gx = li.groupBy(col("fl"), col("x")).agg(count(lit(1)).as("c"))
    val rxTab = gx.select(col("fl"), col("x"),
      (lit(2L) * sum(col("c")).over(
          Window.partitionBy(col("fl")).orderBy(col("x")))
        - col("c") + 1L).as("rx"))
    val ranked = li.join(broadcast(rxTab), Seq("fl", "x"))
      .withColumn("ry", r2("y"))
    val m = ranked.groupBy(col("fl")).agg(
      count(lit(1)).as("n"),
      sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
      sum(col("rx").cast("decimal(19,0)") * col("rx").cast("decimal(19,0)"))
        .as("sxx"),
      sum(col("ry").cast("decimal(19,0)") * col("ry").cast("decimal(19,0)"))
        .as("syy"),
      sum(col("rx").cast("decimal(19,0)") * col("ry").cast("decimal(19,0)"))
        .as("sxy"))
    val n = col("n").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val sxx = col("sxx").cast("double"); val syy = col("syy").cast("double")
    val sxy = col("sxy").cast("double")
    m.select(col("fl").as("l_returnflag"), col("n"),
      round((n * sxy - sx * sy)
        / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        .as("spearman_rho"))
      .orderBy(col("l_returnflag"))
  }

  /** CRAMÉR'S V — the bounded [0, 1] effect size for categorical
    * association ([[aggChi2]] reports the χ² statistic, which grows with
    * n and says nothing about STRENGTH; V = √(χ²/(n·min(r−1, c−1))) is
    * the number two tables of different sizes can be compared on):
    * event type × user-id-mod-4 segment contingency grid, the same exact
    * DECIMAL(38,0) cross-product χ² contributions as agg_chi2, one
    * double tail for V. Output is the one-row table summary. The grid is
    * COMPLETED before the fold (row margins × column margins, observed
    * count zero-filled — the text_jsd_drift pattern): an empty cell still
    * owes its expected-count contribution (0·n − r·c)²/(r·c·n) = r·c/n,
    * and dropping it understates χ² on sparse tables (ADVICE r9).
    *
    * 100 TB shape: ONE conditional hash fold to the r×c grid; the grid
    * completion is margins × margins — model-sized; χ² and V too. */
  val aggCramersV: Q = (s, d) => {
    val cells = T.events(s, d)
      .groupBy(col("event_type").as("rk"), (col("user_id") % 4).as("ck"))
      .agg(count(lit(1)).as("o"))
    val rTot = cells.groupBy(col("rk")).agg(sum(col("o")).as("r"))
    val cTot = cells.groupBy(col("ck")).agg(sum(col("o")).as("c"))
    val nTot = cells.agg(sum(col("o")).as("n"))
    val dims = cells.agg(countDistinct(col("rk")).as("nr"),
      countDistinct(col("ck")).as("nc"))
    val t = rTot.crossJoin(broadcast(cTot))
      .join(cells, Seq("rk", "ck"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(nTot))
      .withColumn("num",
        col("o").cast("decimal(38,0)") * col("n")
          - col("r").cast("decimal(38,0)") * col("c"))
      .withColumn("contrib",
        round((col("num") * col("num")).cast("double")
          / (col("r").cast("decimal(38,0)") * col("c") * col("n"))
            .cast("double"), 8))
    val chi2 = t.agg(
      sum(col("contrib").cast("decimal(20,8)")).cast("double").as("chi2"),
      max(col("n")).as("n"))
    chi2.crossJoin(broadcast(dims))
      .select(col("n"), col("nr").as("n_rows"), col("nc").as("n_cols"),
        round(col("chi2"), 6).as("chi2"),
        round(sqrt(col("chi2") / (col("n").cast("double")
          * least(col("nr") - 1L, col("nc") - 1L).cast("double"))), 6)
          .as("cramers_v"))
  }

  /** MANN-WHITNEY U rank-sum test — the nonparametric A/B comparison
    * (`agg_ab_test`'s t-statistic assumes near-normal means; rank-sum
    * does not): cohort A = even order keys, B = odd, metric =
    * o_totalprice, one test per order status. Tied values take AVERAGE
    * ranks, carried ×2 so every rank is an exact integer
    * (2·minrank + ties − 1); U and the rank sums stay integer until the
    * final z-score divides once in double (no tie-variance correction —
    * declared). The normal approximation is the production regime (n in
    * the thousands+).
    *
    * 100 TB shape: ranking is one (status, price) sort-shuffle — the
    * same cost class as `window_rank`; everything after the per-status
    * aggregate is model-sized. Variance products leave 64-bit as
    * DECIMAL(38,0) before multiplying (nA·nB·(N+1) overflows long past
    * ~2M rows per group — the `embed_drift` rule). */
  val aggMannWhitney: Q = (s, d) => {
    val o = T.orders(s, d).select(col("o_orderstatus").as("st"),
      (col("o_orderkey") % 2 === 0).as("in_a"), col("o_totalprice").as("v"))
    val wRank = Window.partitionBy(col("st")).orderBy(col("v"))
    val wTies = Window.partitionBy(col("st"), col("v"))
    val ranked = o
      .withColumn("r2", lit(2L) * rank().over(wRank) + count(lit(1)).over(wTies) - 1L)
    val agg = ranked.groupBy(col("st")).agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("in_a"), 0L).otherwise(1L)).as("n_b"),
      sum(when(col("in_a"), col("r2")).otherwise(0L)).as("ra2"))
    agg
      .withColumn("u2", col("ra2") - col("n_a") * (col("n_a") + 1L))
      .withColumn("var_u",
        (col("n_a").cast("decimal(38,0)") * col("n_b")
          * (col("n_a") + col("n_b") + 1L)).cast("double") / 12.0)
      .select(col("st").as("o_orderstatus"), col("n_a"), col("n_b"),
        (col("u2").cast("double") / 2.0).as("u_a"),
        round((col("u2") - col("n_a") * col("n_b")).cast("double")
          / (lit(2.0) * sqrt(col("var_u"))), 6).as("z"))
      .orderBy(col("o_orderstatus"))
  }

  /** CHI-SQUARE independence test — the categorical×categorical screen
    * (status × customer segment): is order outcome independent of
    * segment? Each cell's contribution computes from the INTEGER
    * identity (o·N − r·c)² / (r·c·N) — numerator exact in DECIMAL(38,0)
    * (o·N alone passes 2^63 at ~3B rows), one double division per cell,
    * 8-rounded per-cell terms summed as exact decimals (the `agg_entropy`
    * discipline), so the statistic is engine-invariant.
    *
    * 100 TB shape: ONE (status, segment) hash aggregate folds the corpus
    * to the contingency table; margins, N, dof and the statistic are
    * grid-sized aggregates joined back as BROADCAST scalars — never an
    * unpartitioned window (the engine-wide PlanSpec sweep forbids the
    * one-task shape even on model-sized frames). */
  val aggChi2: Q = (s, d) => {
    val cells = T.orders(s, d)
      .groupBy(col("o_orderstatus").as("st"), (col("o_custkey") % 4).as("seg"))
      .agg(count(lit(1)).as("o"))
    val rTot = cells.groupBy(col("st")).agg(sum(col("o")).as("r"))
    val cTot = cells.groupBy(col("seg")).agg(sum(col("o")).as("c"))
    val nTot = cells.agg(sum(col("o")).as("n"))
    val dof = cells.agg(
      ((countDistinct(col("st")) - 1L) * (countDistinct(col("seg")) - 1L))
        .as("dof"))
    val t = cells
      .join(broadcast(rTot), "st")
      .join(broadcast(cTot), "seg")
      .crossJoin(broadcast(nTot))
      .withColumn("num",
        (col("o").cast("decimal(38,0)") * col("n")
          - col("r").cast("decimal(38,0)") * col("c")))
      .withColumn("contrib",
        round((col("num") * col("num")).cast("double")
          / (col("r").cast("decimal(38,0)") * col("c") * col("n")).cast("double"),
          8))
    val chi2 = t.agg(
      sum(col("contrib").cast("decimal(20,8)")).cast("double").as("chi2"))
    t.crossJoin(broadcast(chi2)).crossJoin(broadcast(dof))
      .select(col("st").as("o_orderstatus"), col("seg"), col("o").as("observed"),
        round(col("r").cast("double") * col("c").cast("double")
          / col("n").cast("double"), 6).as("expected"),
        round(col("contrib").cast("double"), 6).as("contrib"),
        round(col("chi2"), 6).as("chi2"), col("dof"))
      .orderBy(col("o_orderstatus"), col("seg"))
  }

  /** TWO-SAMPLE KOLMOGOROV-SMIRNOV drift — the distribution-shift alarm
    * between corpus slices (here: document-length distributions across
    * source pairs; the snapshot-over-snapshot version is the retraining
    * trigger every data pipeline monitors): D = max |F_a − F_b| over the
    * merged value grid. The supremum evaluates on INTEGERS —
    * |cumA·nB − cumB·nA| — so the argmax is exact; only the reported D
    * divides once in double. Ties on D break to the smallest value.
    *
    * 100 TB shape: one (source, value) aggregate folds the corpus; the
    * pair × merged-grid table is model-sized (|values| bounded by the
    * metric's domain), windows run there. Pair generation is the
    * |sources|² broadcast triangle — sources are an enumeration, not
    * data. */
  val textKsDrift: Q = (s, d) => {
    val c = T.documents(s, d).groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("cnt"))
    val srcs = c.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("sa"))
      .crossJoin(srcs.select(col("source").as("sb")))
      .filter(col("sa") < col("sb"))
    val onGrid = c.join(broadcast(pairs),
        col("source") === col("sa") || col("source") === col("sb"))
      .groupBy(col("sa"), col("sb"), col("n_chars"))
      .agg(sum(when(col("source") === col("sa"), col("cnt")).otherwise(0L)).as("ca"),
        sum(when(col("source") === col("sb"), col("cnt")).otherwise(0L)).as("cb"))
    val wCum = Window.partitionBy(col("sa"), col("sb")).orderBy(col("n_chars"))
    val wAll = Window.partitionBy(col("sa"), col("sb"))
    val scored = onGrid
      .withColumn("cum_a", sum(col("ca")).over(wCum))
      .withColumn("cum_b", sum(col("cb")).over(wCum))
      .withColumn("n_a", sum(col("ca")).over(wAll))
      .withColumn("n_b", sum(col("cb")).over(wAll))
      .withColumn("num",
        abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
    val wPick = Window.partitionBy(col("sa"), col("sb"))
      .orderBy(col("num").desc, col("n_chars"))
    scored.withColumn("rk", row_number().over(wPick))
      .filter(col("rk") === 1)
      .select(col("sa"), col("sb"), col("n_a"), col("n_b"),
        col("n_chars").as("ks_at"),
        round(col("num").cast("double")
          / (col("n_a") * col("n_b")).cast("double"), 6).as("ks"))
      .orderBy(col("sa"), col("sb"))
  }

  /** Per-label COVARIANCE matrix (upper triangle of the first 8 dims) —
    * the second-moment profile behind whitening, Mahalanobis scoring and
    * drift detection on embedding columns. The `embed_centroid` exact
    * micro-unit discipline: floats quantize to integer micro-units, the
    * numerator n·Σxy − Σx·Σy clears denominators in DECIMAL(38,0)
    * (exact), and each covariance divides once in double.
    *
    * 100 TB shape: the 36 (i,j) products expand MAP-SIDE from the vector
    * array (a per-row transform — no self-join, no posexplode shuffle);
    * one (label, i, j) aggregate moves labels×36 rows. */
  val embedCovariance: Q = (s, d) => {
    val dims = 8
    val q = T.embeddings(s, d).select(col("vec_id"), col("label"),
      expr("transform(slice(embedding, 1, 8)," +
        " x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))").as("qd"))
    val pairs = q.select(col("label"), explode(expr(
        s"""flatten(transform(sequence(0, ${dims - 1}), i ->
           |  transform(sequence(i, ${dims - 1}), j ->
           |    named_struct('i', i, 'j', j,
           |      'xi', qd[i], 'xj', qd[j], 'xij', qd[i] * qd[j]))))"""
          .stripMargin)).as("p"))
      .select(col("label"), col("p.i").as("i"), col("p.j").as("j"),
        col("p.xi").as("xi"), col("p.xj").as("xj"), col("p.xij").as("xij"))
    pairs.groupBy(col("label"), col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("xi")).as("sx"),
        sum(col("xj")).as("sy"),
        sum(col("xij").cast("decimal(38,0)")).as("sxy"))
      .select(col("label"), col("i").cast("long").as("i"),
        col("j").cast("long").as("j"), col("n"),
        round((col("n") * col("sxy")
            - col("sx").cast("decimal(38,0)") * col("sy")).cast("double")
          / (col("n").cast("double") * col("n").cast("double") * 1e12), 6)
          .as("cov"))
      .orderBy(col("label"), col("i"), col("j"))
  }

  /** TOP PRINCIPAL COMPONENT by POWER ITERATION — the whitening /
    * dimensionality profile on top of [[embedCovariance]]: per label,
    * 4 fixed iterations of v ← normalize(C·v) from v₀ = e₀ over the
    * 8×8 covariance matrix, reporting the unit component and the
    * Rayleigh-style eigenvalue estimate ‖C·v‖. Fixed iteration count
    * (not loop-to-convergence) is what keeps the op DECLARATIVE — the
    * oracle unrolls the same 4 steps.
    *
    * Float discipline: the covariance matrix is 6-rounded (exact decimal
    * numerators as in `embed_covariance`); every matrix-vector entry is
    * an exact DECIMAL dot product (8-dec vector × 6-dec matrix) rounded
    * to 8; the squared norm sums 12-rounded decimals exactly; one IEEE
    * division + sqrt per step. Every step is a fixed expression over
    * bit-identical inputs, so both engines iterate identically.
    *
    * 100 TB shape: ONE corpus pass builds the covariance (map-side pair
    * expansion, labels×36-row shuffle — see `embed_covariance`), then
    * MATERIALIZES it — the matrix is read by all 4 iterations plus the
    * final projection, and without the barrier Catalyst re-derives the
    * corpus moments once per iteration join (4 extra corpus passes at
    * 100 TB — the `dedup_cluster` reuse-point rule). All iterations then
    * run on the labels×64 MODEL grid. This is exactly how a distributed
    * PCA warm-start works: moments from the corpus, the eigen solve on
    * the driver-sized model — except here even the solve is
    * relational. */
  def embedPcaPower(
      cp: graft.api.CheckpointStrategy = graft.api.CheckpointStrategy.Local): Q =
    (s, d) => {
    val dims = 8
    val q = T.embeddings(s, d).select(col("vec_id"), col("label"),
      expr("transform(slice(embedding, 1, 8)," +
        " x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))").as("qd"))
    val pairs = q.select(col("label"), explode(expr(
        s"""flatten(transform(sequence(0, ${dims - 1}), i ->
           |  transform(sequence(0, ${dims - 1}), j ->
           |    named_struct('i', i, 'j', j,
           |      'xi', qd[i], 'xj', qd[j], 'xij', qd[i] * qd[j]))))"""
          .stripMargin)).as("p"))
      .select(col("label"), col("p.i").as("i"), col("p.j").as("j"),
        col("p.xi").as("xi"), col("p.xj").as("xj"), col("p.xij").as("xij"))
    val covf = cp.materialize(pairs.groupBy(col("label"), col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("xi")).as("sx"),
        sum(col("xj")).as("sy"),
        sum(col("xij").cast("decimal(38,0)")).as("sxy"))
      .select(col("label"), col("i"), col("j"),
        round((col("n") * col("sxy")
            - col("sx").cast("decimal(38,0)") * col("sy")).cast("double")
          / (col("n").cast("double") * col("n").cast("double") * 1e12), 6)
          .as("cov")))
    val labels = covf.select(col("label")).distinct()
    var v: DataFrame = labels
      .select(col("label"), explode(expr(s"sequence(0, ${dims - 1})")).as("dim"))
      .withColumn("v", when(col("dim") === 0, lit(1.0)).otherwise(lit(0.0)))
    var norm: DataFrame = null
    for (_ <- 1 to 4) {
      // One barrier per power step (the scc/wcc rule, r14): u feeds BOTH
      // norm and v, so the lazy form doubled the v-chain every round —
      // 2^4 copies of the deepest subtree, a 209 KB / 236-Exchange plan.
      // u is |labels|×8 rows; materialized, each round plans linearly.
      val u = cp.materialize(covf.as("c")
        .join(v.as("vv"), col("c.label") === col("vv.label")
          && col("c.j") === col("vv.dim"))
        .groupBy(col("c.label").as("label"), col("c.i").as("dim"))
        .agg(round(sum(col("c.cov").cast("decimal(18,6)")
          * col("vv.v").cast("decimal(12,8)")), 8).cast("double").as("u")))
      norm = u.groupBy(col("label")).agg(
        sqrt(sum(round(col("u") * col("u"), 12).cast("decimal(20,12)"))
          .cast("double")).as("nrm"))
      v = u.join(norm, "label")
        .select(col("label"), col("dim"),
          round(col("u") / col("nrm"), 8).as("v"))
    }
    v.join(norm, "label")
      .select(col("label"), col("dim").cast("long").as("dim"),
        round(col("v"), 6).as("component"),
        round(col("nrm"), 6).as("eigenvalue"))
      .orderBy(col("label"), col("dim"))
  }

  /** STATIONARY DISTRIBUTION of the event-transition Markov chain — the
    * long-run "where do users spend their time" readout on top of
    * `events_transition`'s matrix: 4 fixed power steps of
    * π ← normalize₁(πᵀP) from the uniform vector (the PageRank shape
    * without teleport, on the model-sized state graph). Fixed iteration
    * count keeps it declarative — the oracle unrolls the same 4 steps.
    * Terminal states (no outgoing transitions) shed mass that the L1
    * renormalization restores — the declared semantics.
    *
    * Float discipline: P entries are 6-rounded decimals, π iterates as
    * 8-rounded decimals, every dot product and L1 total sums exactly in
    * DECIMAL, one IEEE division per state per step.
    *
    * 100 TB shape: ONE user-keyed window + one (prev, next) aggregate
    * folds the corpus; the matrix is |event_types|² — MATERIALIZED once
    * (the `embed_pca_power` rule: unmaterialized, each unrolled step
    * re-derives the corpus fold) — and all 4 steps run on it. */
  def eventsMarkovStationary(
      cp: graft.api.CheckpointStrategy = graft.api.CheckpointStrategy.Local): Q =
    (s, d) => {
    val e = T.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val hops = e.withColumn("next", lead(col("event_type"), 1).over(w))
      .filter(col("next").isNotNull)
      .select(col("event_type").as("prev"), col("next"))
    val counts = hops.groupBy(col("prev"), col("next")).agg(count(lit(1)).as("n"))
    val rowTot = counts.groupBy(col("prev")).agg(sum(col("n")).as("rt"))
    val pmat = cp.materialize(counts.join(broadcast(rowTot), "prev")
      .select(col("prev"), col("next"),
        round(col("n").cast("double") / col("rt").cast("double"), 6)
          .cast("decimal(10,6)").as("p")))
    val states = pmat.select(col("prev").as("state")).distinct()
    val k = states.agg(count(lit(1)).as("k"))
    var pi: DataFrame = states.crossJoin(broadcast(k))
      .select(col("state"), round(lit(1.0) / col("k"), 8).as("pi"))
    for (_ <- 1 to 4) {
      // Barrier per step (the embed_pca_power rule): unnorm feeds both the
      // L1 total and the next pi, so lazily the pi-chain doubles per round
      // (2^4 copies of the pmat join). |states| rows — model-sized.
      val unnorm = cp.materialize(
        pmat.join(pi.select(col("state").as("prev"), col("pi")), "prev")
        .groupBy(col("next").as("state"))
        .agg(round(sum(col("pi").cast("decimal(12,8)") * col("p")), 8)
          .cast("double").as("upi")))
      val tot = unnorm.agg(
        sum(col("upi").cast("decimal(20,8)")).cast("double").as("tot"))
      pi = unnorm.crossJoin(broadcast(tot))
        .select(col("state"), round(col("upi") / col("tot"), 8).as("pi"))
    }
    pi.select(col("state"), round(col("pi"), 6).as("stationary"))
      .orderBy(col("state"))
  }

  /** EMBEDDING ISOTROPY audit — the anisotropy score (Ethayarajh 2019 /
    * Mu & Viswanath 2018: contextual and static embeddings collapse into
    * a narrow cone; downstream cosine similarity degrades): per label,
    * anisotropy = ‖μ‖² / E‖x‖² (1 = all vectors identical, → 0 =
    * perfectly spread), reported with both moments. The whitening
    * decision (`embed_pca_power` supplies the components) keys off this
    * number. All moments are exact micro-unit integer sums; the ratio
    * reduces to Σ_d S_d² / (n · Σ x²) — scale-0 decimals cast to double
    * with a SINGLE rounding in both engines, then one division.
    *
    * 100 TB shape: one posexplode + (label, dim) aggregate (model-sized
    * output), one label aggregate — two shuffles, both bounded by the
    * model grid. */
  val embedIsotropy: Q = (s, d) => {
    val q = T.embeddings(s, d).select(col("vec_id"), col("label"),
      posexplode(expr("transform(embedding," +
        " x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"))
        .as(Seq("dim", "qd")))
    val perDim = q.groupBy(col("label"), col("dim"))
      .agg(sum(col("qd")).as("sd"),
        sum((col("qd") * col("qd")).cast("decimal(38,0)")).as("sq"),
        countDistinct(col("vec_id")).as("nv"))
    perDim.groupBy(col("label"))
      .agg(max(col("nv")).as("n_vecs"),
        sum(col("sd").cast("decimal(19,0)") * col("sd").cast("decimal(19,0)"))
          .as("s2"),
        sum(col("sq")).as("ssq"))
      .select(col("label"), col("n_vecs"),
        round(col("ssq").cast("double")
          / (col("n_vecs").cast("double") * 1e12), 6).as("mean_sq_norm"),
        round(col("s2").cast("double")
          / (col("n_vecs").cast("double") * col("n_vecs").cast("double") * 1e12),
          6).as("centroid_sq_norm"),
        round(col("s2").cast("double")
          / (col("n_vecs") * col("ssq")).cast("double"), 6).as("anisotropy"))
      .orderBy(col("label"))
  }

  /** HERFINDAHL-HIRSCHMAN concentration INDEX — the market-concentration
    * audit per order status (is revenue dominated by a few whale
    * customers?), the additive companion of `agg_gini`'s rank form:
    * HHI = Σ_c share_c² over customer revenue shares (1 = monopoly,
    * 1/n = uniform). Revenue quantizes to exact integer CENTS, so both
    * Σ r_c² and the total stay exact decimals; the two reported ratios
    * divide once each in double (scale-0 casts — single rounding both
    * engines).
    *
    * 100 TB shape: one (status, customer) hash aggregate folds the
    * corpus (map-side partials), one status aggregate on the per-customer
    * grid — the same two-level shape as `agg_active_users`. */
  val aggHhi: Q = (s, d) => {
    val rc = T.orders(s, d)
      .groupBy(col("o_orderstatus").as("st"), col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(20,8)")) * 100)
        .cast("decimal(18,0)").as("rc"))
    rc.groupBy(col("st"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rc").cast("decimal(19,0)") * col("rc").cast("decimal(19,0)"))
          .as("s2"),
        sum(col("rc")).as("tot"), max(col("rc")).as("mx"))
      .select(col("st").as("o_orderstatus"), col("n_customers"),
        round(col("s2").cast("double")
          / (col("tot").cast("decimal(19,0)") * col("tot").cast("decimal(19,0)"))
            .cast("double"), 6).as("hhi"),
        round(col("mx").cast("double") / col("tot").cast("double"), 6)
          .as("top_share"))
      .orderBy(col("o_orderstatus"))
  }

  /** DETERMINISTIC BOOTSTRAP confidence interval — the uncertainty band
    * experimentation platforms attach to every mean (`agg_ab_test` gives
    * the parametric z; the bootstrap is the assumption-free check): B=32
    * half-sample replicates, where replicate b keeps row r iff the
    * portable 48-bit md5 of "boot|b|key" is even — the same hash-gate
    * family as `sample_hash`/`sample_split`, so replicate membership is
    * reproducible across engines, runs and appends. Per (status, b) the
    * replicate mean sums exact decimals and divides ONCE in double; the
    * 10%/90% band reads ranks 4 and 29 of the 32 sorted means (exact
    * order statistics, no interpolation ambiguity).
    *
    * 100 TB shape: the ×32 replicate fan-out is a MAP-SIDE explode
    * (sequence + filter — nothing materializes), and each replicate
    * folds map-side into the same (status, b) hash aggregate — one
    * shuffle of |status|×32 partials, windows on the model grid.
    * Doubling B changes the constant, never the shape. */
  val aggBootstrapCi: Q = (s, d) => {
    val bReps = 32
    // r14 (guide §2.5): orders ships one row group, so the ×32 replicate
    // explode + 32 md5 gates per order row all ran in ONE scan task
    // (committed 8-core/32-core ratio 0.84 — no parallelism at all). The
    // fan-out guard spreads the B-fold map work across the session's
    // cores; identity on any multi-split layout.
    val o = graft.core.Fanout.fanout(
      T.orders(s, d).select(col("o_orderstatus").as("st"),
        col("o_orderkey"), col("o_totalprice").as("v")))
    val full = o.groupBy(col("st")).agg(
      round(sum(col("v").cast("decimal(20,8)")).cast("double")
        / count(lit(1)).cast("double"), 6).as("full_mean"))
    val reps = o
      .select(col("st"), col("o_orderkey"), col("v"),
        explode(sequence(lit(0), lit(bReps - 1))).as("b"))
      .filter(graft.expr.Md5Prefix48.md548(
        concat_ws("|", lit("boot"), col("b"), col("o_orderkey"))) % 2 === 0)
    val means = reps.groupBy(col("st"), col("b"))
      .agg(round(sum(col("v").cast("decimal(20,8)")).cast("double")
        / count(lit(1)).cast("double"), 6).as("m"))
    val wr = Window.partitionBy(col("st")).orderBy(col("m"), col("b"))
    means.withColumn("rk", row_number().over(wr))
      .groupBy(col("st"))
      .agg(count(lit(1)).as("n_reps"),
        round(sum(col("m").cast("decimal(20,6)")).cast("double")
          / count(lit(1)).cast("double"), 6).as("boot_mean"),
        max(when(col("rk") === 4, col("m"))).as("ci_lo"),
        max(when(col("rk") === 29, col("m"))).as("ci_hi"))
      .join(full, "st")
      .select(col("st").as("o_orderstatus"), col("n_reps"), col("full_mean"),
        col("boot_mean"), col("ci_lo"), col("ci_hi"))
      .orderBy(col("o_orderstatus"))
  }

  /** THEIL-SEN robust trend — the outlier-proof slope of monthly revenue
    * per order priority (one whale month drags OLS; the median of
    * pairwise slopes shrugs it off): the corpus folds to the
    * (priority, month) grid with exact CENT totals first, pairwise
    * slopes enumerate on the GRID (C(months,2) per priority — model-
    * sized), each slope rounds once in double, and the estimator is the
    * exact median (both engines average the two central values on even
    * counts — same two 6-rounded doubles, same result). The OLS slope
    * on the same grid (cleared-denominator DECIMAL identity, the
    * `agg_linreg` discipline) rides along as the contrast column.
    *
    * 100 TB shape: ONE (priority, month) hash aggregate touches the
    * corpus; the quadratic pair stage and both regressions run on the
    * few-hundred-row grid. The month index recenters per group so the
    * decimal products stay far from overflow. */
  val aggTheilSen: Q = (s, d) => {
    val grid = T.orders(s, d)
      .groupBy(col("o_orderpriority").as("pri"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("m"))
      .agg((sum(col("o_totalprice").cast("decimal(20,8)")) * 100)
        .cast("decimal(18,0)").as("r"))
      .withColumn("mc", col("m") - min(col("m")).over(
        Window.partitionBy(col("pri"))))
    val a = grid.select(col("pri"), col("mc").as("m1"), col("r").as("r1"))
    val b = grid.select(col("pri"), col("mc").as("m2"), col("r").as("r2"))
    val slopes = a.join(b, Seq("pri"))
      .filter(col("m1") < col("m2"))
      .select(col("pri"),
        round((col("r2") - col("r1")).cast("double")
          / ((col("m2") - col("m1")).cast("double") * 100.0), 6).as("slope"))
    val ts = slopes.groupBy(col("pri"))
      .agg(count(lit(1)).as("n_pairs"),
        round(expr("median(slope)"), 6).as("ts_slope"))
    val ols = grid.groupBy(col("pri"))
      .agg(count(lit(1)).as("n_months"),
        sum(col("mc")).as("sm"),
        sum(col("r")).as("sr"),
        sum(col("mc").cast("decimal(38,0)") * col("r")).as("smr"),
        sum(col("mc") * col("mc")).as("smm"))
      .select(col("pri"), col("n_months"),
        round((col("n_months") * col("smr")
            - col("sm").cast("decimal(38,0)") * col("sr")).cast("double")
          / ((col("n_months") * col("smm")
            - col("sm") * col("sm")).cast("double") * 100.0), 6)
          .as("ols_slope"))
    ts.join(ols, "pri")
      .select(col("pri").as("o_orderpriority"), col("n_months"),
        col("n_pairs"), col("ts_slope"), col("ols_slope"))
      .orderBy(col("o_orderpriority"))
  }

  /** MEDIAN ABSOLUTE DEVIATION — the robust scale estimate per order
    * status (σ estimates blow up under the same whale orders that bend
    * OLS; MAD·1.4826 is the consistent robust alternative every outlier
    * gate should quote next to stddev): exact per-group median, one
    * broadcast-back, exact median of |v − med|. Both medians interpolate
    * identically in both engines (average of the two central doubles);
    * the raw doubles subtract bit-identically under IEEE.
    *
    * 100 TB shape: an exact median is a per-group sort — the DECLARED
    * semantics here (group count is an enumeration, so the sort
    * parallelizes across groups and range-partitions within one);
    * `agg_approx_quantile` is the sketch relaxation when the sort is not
    * worth it. The second pass reuses the same partitioning. */
  val aggMad: Q = (s, d) => {
    val o = T.orders(s, d).select(col("o_orderstatus").as("st"),
      col("o_totalprice").as("v"))
    val med = o.groupBy(col("st")).agg(expr("median(v)").as("med"))
    o.join(broadcast(med), "st")
      .groupBy(col("st"))
      .agg(count(lit(1)).as("n"),
        max(col("med")).as("med"),
        expr("median(abs(v - med))").as("mad"))
      .select(col("st").as("o_orderstatus"), col("n"),
        round(col("med"), 6).as("median_price"),
        round(col("mad"), 6).as("mad"),
        round(col("mad") * 1.4826, 6).as("mad_scaled"))
      .orderBy(col("o_orderstatus"))
  }

  /** RATIO-METRIC delta-method CI — the experimentation readout for
    * "revenue per order" style metrics where the USER is the
    * randomization unit (naive per-order variance ignores within-user
    * correlation and understates the error; the delta method is the
    * standard correction): per market segment, R = Σx/Σy over per-user
    * (x = revenue in exact cents, y = order count), with
    * Var(R) ≈ (s²x + R²s²y − 2R·sxy)/(n·ȳ²) and a 95 % normal band.
    * All six moments (n, Σx, Σy, Σx², Σy², Σxy) are exact — cents are
    * DECIMAL(18,0), products DECIMAL(38,0) (the `embed_drift` rule) —
    * so both engines feed IDENTICAL doubles into the same fixed IEEE
    * sequence; statistics round to 6.
    *
    * 100 TB shape: one o_custkey hash aggregate folds orders to the
    * user grid; the segment dimension joins on the same key; one
    * segment-keyed moment fold ends at a ≤ |segments| grid. No window,
    * no second pass over the fact table. */
  val aggRatioCi: Q = (s, d) => {
    val u = T.orders(s, d).groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(20,8)")) * 100)
          .cast("decimal(18,0)").as("x"),
        count(lit(1)).as("y"))
    val seg = T.customer(s, d)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment").as("seg"))
    val m = u.join(seg, "o_custkey")
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
    val r = sxD / syD
    val vx = (col("sxx").cast("double") - sxD * sxD / nD) / (nD - 1.0)
    val vy = (col("syy").cast("double") - syD * syD / nD) / (nD - 1.0)
    val cxy = (col("sxy").cast("double") - sxD * syD / nD) / (nD - 1.0)
    val ybar = syD / nD
    val se = sqrt((vx + r * r * vy - lit(2.0) * r * cxy) / nD) / ybar
    m.select(col("seg").as("c_mktsegment"), col("n").as("n_users"),
        round(r / 100.0, 6).as("ratio"),
        round(se / 100.0, 6).as("se"),
        round((r - lit(1.96) * se) / 100.0, 6).as("ci_lo"),
        round((r + lit(1.96) * se) / 100.0, 6).as("ci_hi"))
      .orderBy(col("c_mktsegment"))
  }

  /** POWER ANALYSIS / MDE — the question every experiment asks BEFORE
    * `agg_ab_test` reads the result: per event type, the minimum
    * detectable effect of a 50/50 split at the current traffic
    * (α=0.05 two-sided, 80 % power — z-sum 1.96+0.8416 = 2.8016), and
    * the per-arm sample size a 5 % relative lift would need. Variance
    * comes from the same exact decimal moments as [[aggZscore]]
    * (order-independent, engine-identical); every statistic is one
    * fixed IEEE sequence over those moments; n_req's ceil is exact on
    * identical doubles.
    *
    * 100 TB shape: ONE two-phase conditional hash aggregate folds the
    * corpus to |event_type| rows; all analysis runs on the grid. The
    * `agg_ab_test` cost class — no window, no second pass. */
  val aggPowerMde: Q = (s, d) => {
    def sd8(c: Column) = sum(c.cast("decimal(28,8)"))
    val m = T.events(s, d).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sd8(col("value")).as("sx"),
        sd8(col("value") * col("value")).as("sxx"))
    val nD = col("n").cast("double")
    val mean = col("sx").cast("double") / nD
    val vr = (col("sxx").cast("double")
      - col("sx").cast("double") * col("sx").cast("double") / nD) /
      (nD - 1.0)
    val nArm = expr("n DIV 2").cast("double")
    val mdeAbs = lit(2.8016) * sqrt(lit(2.0) * vr / nArm)
    val nReq = ceil(lit(2.0) * vr * lit(2.8016) * lit(2.8016)
      / ((lit(0.05) * mean) * (lit(0.05) * mean))).cast("long")
    m.select(col("event_type"), col("n"),
        round(mean, 6).as("mean"), round(sqrt(vr), 6).as("sd"),
        round(mdeAbs, 6).as("mde_abs"),
        round(mdeAbs / mean, 6).as("mde_rel"),
        nReq.as("n_req_per_arm"))
      .orderBy(col("event_type"))
  }

  // --------------------------------------------------------------- oracles

  /** One unrolled power-iteration step (ANSI — valid in both DuckDB and
    * Spark SQL) for the [[embedPcaPower]] oracle and statement text:
    * u_k = C·v_{k-1} (exact decimal dot, round 8), n_k = ‖u_k‖
    * (12-rounded decimal square sum), v_k = u_k / n_k rounded 8 — the
    * same fixed expression sequence as the DataFrame side. */
  private[graft] def pcaIterSql(k: Int): String =
    s"""u$k AS (SELECT c.label, c.i AS dim,
       |    CAST(round(SUM(CAST(c.cov AS DECIMAL(18,6))
       |      * CAST(v${k - 1}.v AS DECIMAL(12,8))), 8) AS DOUBLE) AS u
       |  FROM covf c JOIN v${k - 1}
       |    ON c.label = v${k - 1}.label AND c.j = v${k - 1}.dim
       |  GROUP BY c.label, c.i),
       |n$k AS (SELECT label,
       |    sqrt(CAST(SUM(CAST(round(u * u, 12) AS DECIMAL(20,12)))
       |      AS DOUBLE)) AS nrm
       |  FROM u$k GROUP BY label),
       |v$k AS (SELECT u$k.label, dim,
       |    CAST(round(u$k.u / n$k.nrm, 8) AS DOUBLE) AS v
       |  FROM u$k JOIN n$k ON u$k.label = n$k.label)""".stripMargin

  /** One unrolled stationary-distribution step (ANSI — both dialects) for
    * the [[eventsMarkovStationary]] oracle and statement text. */
  private[graft] def mkvIterSql(k: Int): String =
    s"""up$k AS (SELECT next AS state,
       |    CAST(round(SUM(CAST(pi AS DECIMAL(12,8)) * p), 8) AS DOUBLE) AS upi
       |  FROM pmat JOIN pi${k - 1} ON pmat.prev = pi${k - 1}.state
       |  GROUP BY next),
       |t$k AS (SELECT CAST(SUM(CAST(upi AS DECIMAL(20,8))) AS DOUBLE) AS tot
       |  FROM up$k),
       |pi$k AS (SELECT state, CAST(round(upi / tot, 8) AS DOUBLE) AS pi
       |  FROM up$k CROSS JOIN t$k)""".stripMargin

  /** Shared ANSI text for `agg_weighted_median` (oracle + Spark
    * statement — the grid/window/decimal algebra parses identically). */
  private[graft] lazy val weightedMedianSql: String =
    """WITH g AS (
      |  SELECT l_returnflag AS f, l_extendedprice AS v,
      |    SUM(CAST(l_quantity AS DECIMAL(20,2))) AS w
      |  FROM lineitem GROUP BY l_returnflag, l_extendedprice),
      |c AS (
      |  SELECT f, v, w,
      |    SUM(w) OVER (PARTITION BY f ORDER BY v) AS cw,
      |    SUM(w) OVER (PARTITION BY f) AS tw
      |  FROM g)
      |SELECT f AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_at_or_above,
      |  MIN(v) AS weighted_median,
      |  CAST(round(CAST(MAX(tw) AS DOUBLE), 2) AS DOUBLE) AS total_weight
      |FROM c WHERE cw * 2 >= tw
      |GROUP BY f ORDER BY l_returnflag""".stripMargin

  /** TRIMMED MEAN — the drop-the-tails location estimate per order
    * status ([[Curation]]'s `agg_winsorize` CLAMPS outliers to the
    * fences; trimming DISCARDS the bottom and top 10% entirely — the
    * other standard robust mean, and the two genuinely differ on skewed
    * price tails). Ranks come from one deterministic row_number window
    * (price, then orderkey as the total tiebreak); the kept band is
    * `floor(0.1·n) < rank ≤ n − floor(0.1·n)` with the cut count
    * computed in the same IEEE `0.1 * n` both engines evaluate; kept
    * values sum as DECIMAL(28,8) so the mean is partition-invariant.
    *
    * 100 TB shape: ranking is a per-status range-partitioned sort (3
    * statuses here; the general shape parallelizes across groups), and
    * the kept-band filter + decimal fold ride the same pass — one
    * shuffle, grid-sized output. `agg_approx_quantile` is the sketch
    * relaxation when an exact per-group sort is not worth it. */
  val aggTrimmedMean: Q = (s, d) => {
    val w = Window.partitionBy(col("st"))
      .orderBy(col("v"), col("o_orderkey"))
    val wn = Window.partitionBy(col("st"))
    val r = T.orders(s, d)
      .select(col("o_orderstatus").as("st"), col("o_totalprice").as("v"),
        col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("cut", floor(col("n").cast("double") * 0.1))
    r.filter(col("rn") > col("cut") && col("rn") <= col("n") - col("cut"))
      .groupBy(col("st"))
      .agg(count(lit(1)).as("n_kept"), max(col("cut")).as("n_cut_each"),
        sum(col("v").cast("decimal(28,8)")).as("sv"))
      .select(col("st").as("o_orderstatus"), col("n_kept"),
        col("n_cut_each"),
        round(col("sv").cast("double") / col("n_kept").cast("double"), 6)
          .as("trimmed_mean"))
      .orderBy(col("o_orderstatus"))
  }

  /** Shared ANSI text for [[aggTrimmedMean]]. */
  private[graft] lazy val trimmedMeanSql: String =
    """WITH r AS (
      |  SELECT o_orderstatus AS st, o_totalprice AS v,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
      |      ORDER BY o_totalprice, o_orderkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
      |  FROM orders),
      |k AS (
      |  SELECT st, v, rn, n,
      |    CAST(floor(CAST(n AS DOUBLE) * 0.1) AS BIGINT) AS cut
      |  FROM r)
      |SELECT st AS o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |  MAX(cut) AS n_cut_each,
      |  CAST(round(CAST(SUM(CAST(v AS DECIMAL(28,8))) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS trimmed_mean
      |FROM k WHERE rn > cut AND rn <= n - cut
      |GROUP BY st ORDER BY o_orderstatus""".stripMargin

  /** Shared ANSI text for [[eventsMarkovStationary]] (oracle + Spark
    * statement — the window/round/decimal algebra parses identically). */
  private[graft] lazy val markovStationarySql: String =
    s"""WITH hops AS (
       |  SELECT prev, next FROM (
       |    SELECT event_type AS prev,
       |      lead(event_type) OVER (PARTITION BY user_id
       |        ORDER BY ts, event_id) AS next
       |    FROM events)
       |  WHERE next IS NOT NULL),
       |counts AS (SELECT prev, next, COUNT(*) AS n FROM hops GROUP BY prev, next),
       |rt AS (SELECT prev, SUM(n) AS rt FROM counts GROUP BY prev),
       |pmat AS (SELECT counts.prev, next,
       |    CAST(round(CAST(n AS DOUBLE) / CAST(rt.rt AS DOUBLE), 6)
       |      AS DECIMAL(10,6)) AS p
       |  FROM counts JOIN rt ON counts.prev = rt.prev),
       |states AS (SELECT DISTINCT prev AS state FROM pmat),
       |kk AS (SELECT COUNT(*) AS k FROM states),
       |pi0 AS (SELECT state,
       |    CAST(round(CAST(1.0 AS DOUBLE) / k, 8) AS DOUBLE) AS pi
       |  FROM states CROSS JOIN kk),
       |${(1 to 4).map(mkvIterSql).mkString(",\n")}
       |SELECT state, CAST(round(pi, 6) AS DOUBLE) AS stationary
       |FROM pi4 ORDER BY state""".stripMargin

  /** EFFECT-SIZE readout — the magnitude companion to
    * [[graft.ops.Advanced.aggAbTest]]'s significance test (a t-statistic
    * says an effect exists; Cohen's d says whether anyone should care):
    * per event type, between the user-parity arms — pooled-SD Cohen's d,
    * the small-sample Hedges' g correction g = d·(1 − 3/(4n−9)), and the
    * relative lift. Moments accumulate as exact DECIMAL(28,8) sums (the
    * agg_ab_test discipline); means, variances and the d/g/lift tail are
    * one fixed IEEE sequence each, so both engines compute bit-identical
    * doubles.
    *
    * 100 TB shape: ONE conditional hash aggregate to the event-type grid
    * (map-side partials carry six numbers per group); everything after
    * is per-row scalar algebra on the model-sized grid. */
  val aggEffectSize: Q = (s, d) => {
    def sd(c: Column) = sum(c.cast("decimal(28,8)"))
    val m = T.events(s, d)
      .select(col("event_type"), (col("user_id") % 2).as("g"), col("value"))
      .groupBy(col("event_type")).agg(
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("n2"),
        sd(when(col("g") === 0, col("value"))).as("sx1"),
        sd(when(col("g") === 1, col("value"))).as("sx2"),
        sd(when(col("g") === 0, col("value") * col("value"))).as("sxx1"),
        sd(when(col("g") === 1, col("value") * col("value"))).as("sxx2"))
    val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
    val sx1 = col("sx1").cast("double"); val sx2 = col("sx2").cast("double")
    val sxx1 = col("sxx1").cast("double"); val sxx2 = col("sxx2").cast("double")
    val v1 = (sxx1 - sx1 * sx1 / n1) / (n1 - 1)
    val v2 = (sxx2 - sx2 * sx2 / n2) / (n2 - 1)
    val sp = sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
    val dEff = (sx1 / n1 - sx2 / n2) / sp
    val gEff = dEff * (lit(1.0) - lit(3.0) / (lit(4.0) * (n1 + n2) - 9.0))
    m.select(col("event_type"), col("n1"), col("n2"),
      round(sx1 / n1, 6).as("mean_1"),
      round(sx2 / n2, 6).as("mean_2"),
      round(sp, 6).as("sd_pooled"),
      round(dEff, 6).as("cohens_d"),
      round(gEff, 6).as("hedges_g"),
      round((sx1 / n1 - sx2 / n2) / (sx2 / n2), 6).as("rel_lift"))
      .orderBy(col("event_type"))
  }

  /** Dual-dialect ANSI oracle for [[aggEffectSize]]. */
  private val effectSizeSql =
    """WITH m AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n1,
      |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n2,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0
      |      THEN CAST(value AS DECIMAL(28,8)) END) AS DOUBLE) AS sx1,
      |    CAST(SUM(CASE WHEN user_id % 2 = 1
      |      THEN CAST(value AS DECIMAL(28,8)) END) AS DOUBLE) AS sx2,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0
      |      THEN CAST(value * value AS DECIMAL(28,8)) END) AS DOUBLE) AS sxx1,
      |    CAST(SUM(CASE WHEN user_id % 2 = 1
      |      THEN CAST(value * value AS DECIMAL(28,8)) END) AS DOUBLE) AS sxx2
      |  FROM events GROUP BY event_type),
      |st AS (
      |  SELECT event_type, n1, n2, sx1, sx2,
      |    (sxx1 - sx1 * sx1 / n1) / (n1 - 1) AS v1,
      |    (sxx2 - sx2 * sx2 / n2) / (n2 - 1) AS v2
      |  FROM m),
      |sp AS (
      |  SELECT event_type, n1, n2, sx1, sx2,
      |    sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)) AS sdp
      |  FROM st),
      |fin AS (
      |  SELECT event_type, n1, n2, sx1, sx2, sdp,
      |    (sx1 / n1 - sx2 / n2) / sdp AS d
      |  FROM sp)
      |SELECT event_type, n1, n2,
      |  CAST(round(sx1 / n1, 6) AS DOUBLE) AS mean_1,
      |  CAST(round(sx2 / n2, 6) AS DOUBLE) AS mean_2,
      |  CAST(round(sdp, 6) AS DOUBLE) AS sd_pooled,
      |  CAST(round(d, 6) AS DOUBLE) AS cohens_d,
      |  CAST(round(d * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6) AS DOUBLE)
      |    AS hedges_g,
      |  CAST(round((sx1 / n1 - sx2 / n2) / (sx2 / n2), 6) AS DOUBLE)
      |    AS rel_lift
      |FROM fin ORDER BY event_type""".stripMargin

  val oracles: Map[String, String] = Map(
    "agg_effect_size" -> effectSizeSql,

    // Greenwood bands over the shared KM grid; variance terms follow the
    // log-factor discipline (round 8, exact decimal window sum)
    "events_survival_ci" ->
      """WITH fe AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    first_value(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS cohort
        |  FROM events),
        |pu AS (
        |  SELECT user_id, cohort, MIN(ts) AS birth,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS death
        |  FROM fe GROUP BY user_id, cohort),
        |wm AS (SELECT MAX(ts) AS wm FROM events),
        |durs AS (
        |  SELECT cohort,
        |    CAST(date_diff('day', CAST(birth AS DATE),
        |      CAST(COALESCE(death, wm) AS DATE)) AS BIGINT) AS dur,
        |    death IS NOT NULL AS died
        |  FROM pu CROSS JOIN wm),
        |grid AS (
        |  SELECT cohort, dur,
        |    SUM(CASE WHEN died THEN 1 ELSE 0 END) AS d,
        |    SUM(CASE WHEN died THEN 0 ELSE 1 END) AS c
        |  FROM durs GROUP BY cohort, dur),
        |curve AS (
        |  SELECT cohort, dur, d,
        |    SUM(d + c) OVER (PARTITION BY cohort)
        |      - COALESCE(SUM(d + c) OVER (PARTITION BY cohort ORDER BY dur
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk
        |  FROM grid),
        |terms AS (
        |  SELECT cohort, dur, d, n_risk,
        |    CAST(CASE WHEN d > 0 AND d < n_risk
        |      THEN round(ln(CAST(n_risk - d AS DOUBLE)
        |        / CAST(n_risk AS DOUBLE)), 8) ELSE 0.0 END
        |      AS DECIMAL(20,8)) AS lp,
        |    CAST(CASE WHEN d > 0 AND d < n_risk
        |      THEN round(CAST(d AS DOUBLE)
        |        / (CAST(n_risk AS DOUBLE) * CAST(n_risk - d AS DOUBLE)), 8)
        |      ELSE 0.0 END AS DECIMAL(20,8)) AS gt
        |  FROM curve),
        |acc AS (
        |  SELECT cohort, dur, d, n_risk,
        |    MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY cohort ORDER BY dur) AS zeroed,
        |    SUM(lp) OVER (PARTITION BY cohort ORDER BY dur) AS ls,
        |    SUM(gt) OVER (PARTITION BY cohort ORDER BY dur) AS gw
        |  FROM terms),
        |sv AS (
        |  SELECT cohort, dur, d, n_risk,
        |    CASE WHEN zeroed = 1 THEN 0.0
        |      ELSE exp(CAST(ls AS DOUBLE)) END AS surv,
        |    CASE WHEN zeroed = 1 THEN 0.0
        |      ELSE exp(CAST(ls AS DOUBLE)) END
        |      * sqrt(CAST(gw AS DOUBLE)) AS se
        |  FROM acc)
        |SELECT cohort, dur, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS d_events,
        |  CAST(round(surv, 6) AS DOUBLE) AS survival,
        |  CAST(round(GREATEST(surv - 1.96 * se, 0.0), 6) AS DOUBLE) AS ci_lo,
        |  CAST(round(LEAST(surv + 1.96 * se, 1.0), 6) AS DOUBLE) AS ci_hi
        |FROM sv WHERE d > 0 ORDER BY cohort, dur""".stripMargin,

    // doubled average ranks (exact integers), DECIMAL(19,0)-product
    // moments, one double tail (ANSI, dual-dialect)
    "agg_spearman" ->
      """WITH ranked AS (
        |  SELECT l_returnflag AS fl,
        |    2 * RANK() OVER (PARTITION BY l_returnflag
        |        ORDER BY l_quantity)
        |      + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1
        |      AS rx,
        |    2 * RANK() OVER (PARTITION BY l_returnflag
        |        ORDER BY l_extendedprice)
        |      + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice)
        |      - 1 AS ry
        |  FROM lineitem),
        |m AS (
        |  SELECT fl, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(rx) AS sx, SUM(ry) AS sy,
        |    SUM(CAST(rx AS DECIMAL(19,0)) * CAST(rx AS DECIMAL(19,0)))
        |      AS sxx,
        |    SUM(CAST(ry AS DECIMAL(19,0)) * CAST(ry AS DECIMAL(19,0)))
        |      AS syy,
        |    SUM(CAST(rx AS DECIMAL(19,0)) * CAST(ry AS DECIMAL(19,0)))
        |      AS sxy
        |  FROM ranked GROUP BY fl)
        |SELECT fl AS l_returnflag, n,
        |  CAST(round(
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |    AS DOUBLE) AS spearman_rho
        |FROM m ORDER BY l_returnflag""".stripMargin,

    // the chi2 contribution machinery folded to the one-row V summary
    // (ANSI, dual-dialect)
    "agg_cramers_v" ->
      """WITH cells AS (
        |  SELECT event_type AS rk, user_id % 4 AS ck, COUNT(*) AS o
        |  FROM events GROUP BY event_type, user_id % 4),
        |dims AS (
        |  SELECT CAST(COUNT(DISTINCT rk) AS BIGINT) AS nr,
        |    CAST(COUNT(DISTINCT ck) AS BIGINT) AS nc
        |  FROM cells),
        |rt AS (SELECT rk, SUM(o) AS r FROM cells GROUP BY rk),
        |ct AS (SELECT ck, SUM(o) AS c FROM cells GROUP BY ck),
        |nt AS (SELECT SUM(o) AS n FROM cells),
        |t AS (
        |  SELECT rt.rk, ct.ck, COALESCE(cells.o, 0) AS o, r, c, n
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN cells ON cells.rk = rt.rk AND cells.ck = ct.ck
        |  CROSS JOIN nt),
        |nums AS (
        |  SELECT rk, ck, o, r, c, n,
        |    CAST(o AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0))
        |      - CAST(r AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0)) AS num,
        |    CAST(r AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0)) AS rc
        |  FROM t),
        |contribs AS (
        |  SELECT rk, ck, n,
        |    round(CAST(CAST(num AS DECIMAL(18,0))
        |        * CAST(num AS DECIMAL(18,0)) AS DOUBLE)
        |      / CAST(CAST(rc AS DECIMAL(18,0))
        |        * CAST(n AS DECIMAL(18,0)) AS DOUBLE), 8) AS contrib
        |  FROM nums),
        |chit AS (
        |  SELECT CAST(SUM(CAST(contrib AS DECIMAL(20,8))) AS DOUBLE)
        |      AS chi2,
        |    CAST(MAX(n) AS BIGINT) AS n
        |  FROM contribs)
        |SELECT n, dims.nr AS n_rows, dims.nc AS n_cols,
        |  CAST(round(chi2, 6) AS DOUBLE) AS chi2,
        |  CAST(round(sqrt(chi2 / (CAST(n AS DOUBLE)
        |    * CAST(CASE WHEN nr < nc THEN nr - 1 ELSE nc - 1 END
        |      AS DOUBLE))), 6) AS DOUBLE) AS cramers_v
        |FROM chit CROSS JOIN dims""".stripMargin,
    // Nelson-Aalen over the same risk grid as events_survival; n_risk/d
    // cast BIGINT (DuckDB window sums are HUGEINT — the stable-type rule)
    "events_hazard" ->
      """WITH fe AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    first_value(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS cohort
        |  FROM events),
        |pu AS (
        |  SELECT user_id, cohort, MIN(ts) AS birth,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS death
        |  FROM fe GROUP BY user_id, cohort),
        |wm AS (SELECT MAX(ts) AS wm FROM events),
        |durs AS (
        |  SELECT cohort,
        |    CAST(date_diff('day', CAST(birth AS DATE),
        |      CAST(COALESCE(death, wm) AS DATE)) AS BIGINT) AS dur,
        |    death IS NOT NULL AS died
        |  FROM pu CROSS JOIN wm),
        |grid AS (
        |  SELECT cohort, dur,
        |    SUM(CASE WHEN died THEN 1 ELSE 0 END) AS d,
        |    SUM(CASE WHEN died THEN 0 ELSE 1 END) AS c
        |  FROM durs GROUP BY cohort, dur),
        |curve AS (
        |  SELECT cohort, dur, d,
        |    SUM(d + c) OVER (PARTITION BY cohort)
        |      - COALESCE(SUM(d + c) OVER (PARTITION BY cohort ORDER BY dur
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk
        |  FROM grid),
        |ch AS (
        |  SELECT cohort, dur, d, n_risk,
        |    SUM(CAST(CASE WHEN d > 0
        |      THEN round(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 8)
        |      ELSE 0.0 END AS DECIMAL(20,8)))
        |      OVER (PARTITION BY cohort ORDER BY dur) AS ch
        |  FROM curve)
        |SELECT cohort, dur, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS d_events,
        |  CAST(round(CAST(ch AS DOUBLE), 6) AS DOUBLE) AS cum_hazard,
        |  CAST(round(exp(-CAST(ch AS DOUBLE)), 6) AS DOUBLE) AS na_survival
        |FROM ch WHERE d > 0 ORDER BY cohort, dur""".stripMargin,

    // fences from round-2 exact quartiles (quantile_cont ≡ the Spark
    // rank-interpolation at h = q·(n−1) — the agg_percentile contract)
    "agg_tukey_fences" ->
      """WITH f AS (
        |  SELECT o_orderstatus,
        |    round(quantile_cont(o_totalprice, 0.25), 2) AS q1,
        |    round(quantile_cont(o_totalprice, 0.75), 2) AS q3
        |  FROM orders GROUP BY o_orderstatus),
        |f2 AS (
        |  SELECT o_orderstatus, q1, q3, round(q3 - q1, 2) AS iqr FROM f),
        |f3 AS (
        |  SELECT o_orderstatus, q1, q3, iqr,
        |    q1 - 1.5 * iqr AS f_lo, q3 + 1.5 * iqr AS f_hi
        |  FROM f2)
        |SELECT o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MAX(q1) AS DOUBLE) AS q1, CAST(MAX(q3) AS DOUBLE) AS q3,
        |  CAST(MAX(iqr) AS DOUBLE) AS iqr,
        |  CAST(SUM(CASE WHEN o.o_totalprice < f_lo THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_below,
        |  CAST(SUM(CASE WHEN o.o_totalprice > f_hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_above,
        |  CAST(round(CAST(SUM(CASE WHEN o.o_totalprice < f_lo
        |      OR o.o_totalprice > f_hi THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS outlier_share
        |FROM orders o JOIN f3 ON o.o_orderstatus = f3.o_orderstatus
        |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin,

    "events_markov_stationary" -> markovStationarySql,
    "agg_weighted_median" -> weightedMedianSql,
    "agg_trimmed_mean" -> trimmedMeanSql,

    "embed_isotropy" ->
      """WITH q AS (
        |  SELECT vec_id, label, i AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS qd
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
        |perdim AS (
        |  SELECT label, dim, SUM(qd) AS sd,
        |    SUM(CAST(qd * qd AS DECIMAL(38,0))) AS sq,
        |    COUNT(DISTINCT vec_id) AS nv
        |  FROM q GROUP BY label, dim)
        |SELECT label, CAST(MAX(nv) AS BIGINT) AS n_vecs,
        |  CAST(round(CAST(SUM(sq) AS DOUBLE)
        |    / (CAST(MAX(nv) AS DOUBLE) * 1e12), 6) AS DOUBLE) AS mean_sq_norm,
        |  CAST(round(CAST(SUM(CAST(sd AS DECIMAL(19,0))
        |      * CAST(sd AS DECIMAL(19,0))) AS DOUBLE)
        |    / (CAST(MAX(nv) AS DOUBLE) * CAST(MAX(nv) AS DOUBLE) * 1e12), 6)
        |    AS DOUBLE) AS centroid_sq_norm,
        |  CAST(round(CAST(SUM(CAST(sd AS DECIMAL(19,0))
        |      * CAST(sd AS DECIMAL(19,0))) AS DOUBLE)
        |    / CAST(CAST(MAX(nv) AS DECIMAL(18,0))
        |      * CAST(SUM(sq) AS DECIMAL(19,0)) AS DOUBLE), 6) AS DOUBLE)
        |    AS anisotropy
        |FROM perdim GROUP BY label ORDER BY label""".stripMargin,

    "agg_hhi" ->
      """WITH rc AS (
        |  SELECT o_orderstatus AS st, o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(20,8))) * 100
        |      AS DECIMAL(18,0)) AS rc
        |  FROM orders GROUP BY 1, 2)
        |SELECT st AS o_orderstatus, COUNT(*) AS n_customers,
        |  CAST(round(CAST(SUM(CAST(rc AS DECIMAL(19,0))
        |      * CAST(rc AS DECIMAL(19,0))) AS DOUBLE)
        |    / CAST(CAST(SUM(rc) AS DECIMAL(19,0))
        |      * CAST(SUM(rc) AS DECIMAL(19,0)) AS DOUBLE), 6) AS DOUBLE) AS hhi,
        |  CAST(round(CAST(MAX(rc) AS DOUBLE) / CAST(SUM(rc) AS DOUBLE), 6)
        |    AS DOUBLE) AS top_share
        |FROM rc GROUP BY st ORDER BY st""".stripMargin,

    "embed_pca_power" ->
      s"""WITH q AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding[1:8],
         |      x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qd
         |  FROM embeddings),
         |pairs AS (
         |  SELECT label, i.i AS i, j.j AS j,
         |    qd[i.i + 1] AS xi, qd[j.j + 1] AS xj,
         |    qd[i.i + 1] * qd[j.j + 1] AS xij
         |  FROM q
         |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) i
         |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) j),
         |covf AS (
         |  SELECT label, i, j,
         |    CAST(round(CAST(CAST(COUNT(*) AS DECIMAL(18,0))
         |        * CAST(SUM(xij) AS DECIMAL(18,0))
         |        - CAST(SUM(xi) AS DECIMAL(18,0))
         |        * CAST(SUM(xj) AS DECIMAL(18,0)) AS DOUBLE)
         |      / (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE) * 1e12),
         |      6) AS DOUBLE) AS cov
         |  FROM pairs GROUP BY label, i, j),
         |v0 AS (
         |  SELECT DISTINCT label, d.d AS dim,
         |    CASE WHEN d.d = 0 THEN 1.0 ELSE 0.0 END AS v
         |  FROM covf CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS d) d),
         |${(1 to 4).map(pcaIterSql).mkString(",\n")}
         |SELECT v4.label, CAST(dim AS BIGINT) AS dim,
         |  CAST(round(v4.v, 6) AS DOUBLE) AS component,
         |  CAST(round(n4.nrm, 6) AS DOUBLE) AS eigenvalue
         |FROM v4 JOIN n4 ON v4.label = n4.label
         |ORDER BY v4.label, dim""".stripMargin,

    "events_survival" ->
      """WITH fe AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    first_value(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS cohort
        |  FROM events),
        |pu AS (
        |  SELECT user_id, cohort, MIN(ts) AS birth,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS death
        |  FROM fe GROUP BY user_id, cohort),
        |wm AS (SELECT MAX(ts) AS wm FROM events),
        |durs AS (
        |  SELECT cohort,
        |    CAST(date_diff('day', CAST(birth AS DATE),
        |      CAST(COALESCE(death, wm) AS DATE)) AS BIGINT) AS dur,
        |    death IS NOT NULL AS died
        |  FROM pu CROSS JOIN wm),
        |grid AS (
        |  SELECT cohort, dur,
        |    SUM(CASE WHEN died THEN 1 ELSE 0 END) AS d,
        |    SUM(CASE WHEN died THEN 0 ELSE 1 END) AS c
        |  FROM durs GROUP BY cohort, dur),
        |curve AS (
        |  SELECT cohort, dur, d,
        |    SUM(d + c) OVER (PARTITION BY cohort)
        |      - COALESCE(SUM(d + c) OVER (PARTITION BY cohort ORDER BY dur
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk
        |  FROM grid),
        |lp AS (
        |  SELECT cohort, dur, d, n_risk,
        |    CAST(CASE WHEN d > 0 AND d < n_risk
        |      THEN round(ln(CAST(n_risk - d AS DOUBLE)
        |        / CAST(n_risk AS DOUBLE)), 8) ELSE 0.0 END
        |      AS DECIMAL(20,8)) AS lp
        |  FROM curve),
        |ls AS (
        |  SELECT cohort, dur, d, n_risk,
        |    MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY cohort ORDER BY dur) AS zeroed,
        |    SUM(lp) OVER (PARTITION BY cohort ORDER BY dur) AS ls
        |  FROM lp)
        |SELECT cohort, dur, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS d_events,
        |  CAST(CASE WHEN zeroed = 1 THEN 0.0
        |    ELSE round(exp(CAST(ls AS DOUBLE)), 6) END AS DOUBLE) AS survival
        |FROM ls WHERE d > 0 ORDER BY cohort, dur""".stripMargin,

    "agg_mannwhitney" ->
      """WITH o AS (
        |  SELECT o_orderstatus AS st, o_orderkey % 2 = 0 AS in_a,
        |    o_totalprice AS v
        |  FROM orders),
        |ranked AS (
        |  SELECT st, in_a,
        |    2 * rank() OVER (PARTITION BY st ORDER BY v)
        |      + COUNT(*) OVER (PARTITION BY st, v) - 1 AS r2
        |  FROM o),
        |agg AS (
        |  SELECT st,
        |    SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS n_a,
        |    SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS n_b,
        |    SUM(CASE WHEN in_a THEN r2 ELSE 0 END) AS ra2
        |  FROM ranked GROUP BY st),
        |u AS (
        |  SELECT st, n_a, n_b, ra2 - n_a * (n_a + 1) AS u2,
        |    CAST(CAST(n_a AS DECIMAL(38,0)) * n_b * (n_a + n_b + 1)
        |      AS DOUBLE) / 12.0 AS var_u
        |  FROM agg)
        |SELECT st AS o_orderstatus, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b,
        |  CAST(u2 AS DOUBLE) / 2.0 AS u_a,
        |  CAST(round(CAST(u2 - n_a * n_b AS DOUBLE)
        |    / (2.0 * sqrt(var_u)), 6) AS DOUBLE) AS z
        |FROM u ORDER BY o_orderstatus""".stripMargin,

    "agg_chi2" ->
      """WITH cells AS (
        |  SELECT o_orderstatus AS st, o_custkey % 4 AS seg, COUNT(*) AS o
        |  FROM orders GROUP BY 1, 2),
        |dof AS (
        |  SELECT CAST((COUNT(DISTINCT st) - 1) * (COUNT(DISTINCT seg) - 1)
        |    AS BIGINT) AS dof
        |  FROM cells),
        |rt AS (SELECT st, SUM(o) AS r FROM cells GROUP BY st),
        |ct AS (SELECT seg, SUM(o) AS c FROM cells GROUP BY seg),
        |nt AS (SELECT SUM(o) AS n FROM cells),
        |t AS (
        |  SELECT cells.st, cells.seg, o, r, c, n
        |  FROM cells JOIN rt ON cells.st = rt.st
        |  JOIN ct ON cells.seg = ct.seg CROSS JOIN nt),
        |nums AS (
        |  SELECT st, seg, o, r, c, n,
        |    CAST(o AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0))
        |      - CAST(r AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0)) AS num,
        |    CAST(r AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0)) AS rc
        |  FROM t),
        |contribs AS (
        |  SELECT st, seg, o, r, c, n,
        |    round(CAST(CAST(num AS DECIMAL(18,0))
        |        * CAST(num AS DECIMAL(18,0)) AS DOUBLE)
        |      / CAST(CAST(rc AS DECIMAL(18,0))
        |        * CAST(n AS DECIMAL(18,0)) AS DOUBLE), 8) AS contrib
        |  FROM nums),
        |chit AS (
        |  SELECT CAST(SUM(CAST(contrib AS DECIMAL(20,8))) AS DOUBLE) AS chi2
        |  FROM contribs),
        |tot AS (
        |  SELECT st, seg, o, r, c, n, contrib, chi2
        |  FROM contribs CROSS JOIN chit)
        |SELECT st AS o_orderstatus, seg, CAST(o AS BIGINT) AS observed,
        |  CAST(round(CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
        |    / CAST(n AS DOUBLE), 6) AS DOUBLE) AS expected,
        |  CAST(round(CAST(contrib AS DOUBLE), 6) AS DOUBLE) AS contrib,
        |  CAST(round(chi2, 6) AS DOUBLE) AS chi2, dof.dof
        |FROM tot CROSS JOIN dof ORDER BY o_orderstatus, seg""".stripMargin,

    "text_ks_drift" ->
      """WITH c AS (
        |  SELECT source, n_chars, COUNT(*) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |srcs AS (SELECT DISTINCT source FROM c),
        |pairs AS (
        |  SELECT a.source AS sa, b.source AS sb
        |  FROM srcs a CROSS JOIN srcs b WHERE a.source < b.source),
        |ongrid AS (
        |  SELECT p.sa, p.sb, c.n_chars,
        |    SUM(CASE WHEN c.source = p.sa THEN cnt ELSE 0 END) AS ca,
        |    SUM(CASE WHEN c.source = p.sb THEN cnt ELSE 0 END) AS cb
        |  FROM c JOIN pairs p ON c.source = p.sa OR c.source = p.sb
        |  GROUP BY p.sa, p.sb, c.n_chars),
        |scored AS (
        |  SELECT sa, sb, n_chars,
        |    SUM(ca) OVER (PARTITION BY sa, sb ORDER BY n_chars) AS cum_a,
        |    SUM(cb) OVER (PARTITION BY sa, sb ORDER BY n_chars) AS cum_b,
        |    SUM(ca) OVER (PARTITION BY sa, sb) AS n_a,
        |    SUM(cb) OVER (PARTITION BY sa, sb) AS n_b
        |  FROM ongrid),
        |num AS (
        |  SELECT sa, sb, n_chars, n_a, n_b,
        |    abs(cum_a * n_b - cum_b * n_a) AS num,
        |    ROW_NUMBER() OVER (PARTITION BY sa, sb
        |      ORDER BY abs(cum_a * n_b - cum_b * n_a) DESC, n_chars) AS rk
        |  FROM scored)
        |SELECT sa, sb, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  n_chars AS ks_at,
        |  CAST(round(CAST(num AS DOUBLE)
        |    / CAST(n_a * n_b AS DOUBLE), 6) AS DOUBLE) AS ks
        |FROM num WHERE rk = 1 ORDER BY sa, sb""".stripMargin,

    "embed_covariance" ->
      """WITH q AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding[1:8],
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qd
        |  FROM embeddings),
        |pairs AS (
        |  SELECT label, i.i AS i, j.j AS j,
        |    qd[i.i + 1] AS xi, qd[j.j + 1] AS xj,
        |    qd[i.i + 1] * qd[j.j + 1] AS xij
        |  FROM q
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) i
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) j
        |  WHERE i.i <= j.j)
        |SELECT label, CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(round(CAST(CAST(COUNT(*) AS DECIMAL(18,0))
        |      * CAST(SUM(xij) AS DECIMAL(18,0))
        |      - CAST(SUM(xi) AS DECIMAL(18,0))
        |      * CAST(SUM(xj) AS DECIMAL(18,0)) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE) * 1e12),
        |    6) AS DOUBLE) AS cov
        |FROM pairs GROUP BY label, i, j ORDER BY label, i, j""".stripMargin,

    "sample_systematic" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(round(SUM(CAST(o_totalprice AS DECIMAL(20,8))), 2) AS DOUBLE)
        |    AS sum_price,
        |  MIN(o_orderkey) AS first_key, MAX(o_orderkey) AS last_key
        |FROM orders WHERE o_orderkey % 40 = 7
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "agg_bootstrap_ci" ->
      """WITH o AS (
        |  SELECT o_orderstatus AS st, o_orderkey, o_totalprice AS v
        |  FROM orders),
        |full_m AS (
        |  SELECT st,
        |    CAST(round(CAST(SUM(CAST(v AS DECIMAL(20,8))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS full_mean
        |  FROM o GROUP BY st),
        |reps AS (
        |  SELECT st, b.b, v FROM o
        |  CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) b
        |  WHERE CAST('0x' || substr(md5('boot' || '|' || b.b || '|'
        |    || o_orderkey), 1, 12) AS BIGINT) % 2 = 0),
        |means AS (
        |  SELECT st, b,
        |    CAST(round(CAST(SUM(CAST(v AS DECIMAL(20,8))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS m
        |  FROM reps GROUP BY st, b),
        |ranked AS (
        |  SELECT st, b, m,
        |    ROW_NUMBER() OVER (PARTITION BY st ORDER BY m, b) AS rk
        |  FROM means),
        |ci AS (
        |  SELECT st, CAST(COUNT(*) AS BIGINT) AS n_reps,
        |    CAST(round(CAST(SUM(CAST(m AS DECIMAL(20,6))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS boot_mean,
        |    MAX(CASE WHEN rk = 4 THEN m END) AS ci_lo,
        |    MAX(CASE WHEN rk = 29 THEN m END) AS ci_hi
        |  FROM ranked GROUP BY st)
        |SELECT ci.st AS o_orderstatus, n_reps, full_mean, boot_mean,
        |  ci_lo, ci_hi
        |FROM ci JOIN full_m ON ci.st = full_m.st
        |ORDER BY o_orderstatus""".stripMargin,

    "agg_theil_sen" ->
      """WITH grid0 AS (
        |  SELECT o_orderpriority AS pri,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
        |      AS m,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(20,8))) * 100
        |      AS DECIMAL(18,0)) AS r
        |  FROM orders GROUP BY 1, 2),
        |grid AS (
        |  SELECT pri, m - MIN(m) OVER (PARTITION BY pri) AS mc, r
        |  FROM grid0),
        |slopes AS (
        |  SELECT a.pri,
        |    CAST(round(CAST(b.r - a.r AS DOUBLE)
        |      / (CAST(b.mc - a.mc AS DOUBLE) * 100.0), 6) AS DOUBLE) AS slope
        |  FROM grid a JOIN grid b ON a.pri = b.pri AND a.mc < b.mc),
        |ts AS (
        |  SELECT pri, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(round(median(slope), 6) AS DOUBLE) AS ts_slope
        |  FROM slopes GROUP BY pri),
        |ols AS (
        |  SELECT pri, CAST(COUNT(*) AS BIGINT) AS n_months,
        |    CAST(round(CAST(COUNT(*) * SUM(CAST(mc AS DECIMAL(38,0)) * r)
        |        - CAST(SUM(mc) AS DECIMAL(38,0)) * SUM(r) AS DOUBLE)
        |      / (CAST(COUNT(*) * SUM(mc * mc)
        |        - SUM(mc) * SUM(mc) AS DOUBLE) * 100.0), 6) AS DOUBLE)
        |      AS ols_slope
        |  FROM grid GROUP BY pri)
        |SELECT ts.pri AS o_orderpriority, n_months, n_pairs, ts_slope,
        |  ols_slope
        |FROM ts JOIN ols ON ts.pri = ols.pri
        |ORDER BY o_orderpriority""".stripMargin,

    "agg_mad" ->
      """WITH o AS (
        |  SELECT o_orderstatus AS st, o_totalprice AS v FROM orders),
        |med AS (SELECT st, median(v) AS med FROM o GROUP BY st)
        |SELECT o.st AS o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(round(MAX(med.med), 6) AS DOUBLE) AS median_price,
        |  CAST(round(median(abs(v - med.med)), 6) AS DOUBLE) AS mad,
        |  CAST(round(median(abs(v - med.med)) * 1.4826, 6) AS DOUBLE)
        |    AS mad_scaled
        |FROM o JOIN med ON o.st = med.st
        |GROUP BY o.st ORDER BY o_orderstatus""".stripMargin,

    "agg_ratio_ci" ->
      """WITH u AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(20,8))) * 100
        |      AS DECIMAL(18,0)) AS x,
        |    CAST(COUNT(*) AS BIGINT) AS y
        |  FROM orders GROUP BY o_custkey),
        |m AS (
        |  SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
        |    SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
        |    SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
        |  FROM u JOIN customer ON u.o_custkey = c_custkey
        |  GROUP BY c_mktsegment),
        |md AS (
        |  SELECT seg, n, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
        |  FROM m),
        |st AS (
        |  SELECT seg, n, sxd / syd AS r,
        |    (sxxd - sxd * sxd / nd) / (nd - 1.0) AS vx,
        |    (syyd - syd * syd / nd) / (nd - 1.0) AS vy,
        |    (sxyd - sxd * syd / nd) / (nd - 1.0) AS cxy,
        |    syd / nd AS ybar, nd
        |  FROM md),
        |se AS (
        |  SELECT seg, n, r,
        |    sqrt((vx + r * r * vy - 2.0 * r * cxy) / nd) / ybar AS se
        |  FROM st)
        |SELECT seg AS c_mktsegment, n AS n_users,
        |  CAST(round(r / 100.0, 6) AS DOUBLE) AS ratio,
        |  CAST(round(se / 100.0, 6) AS DOUBLE) AS se,
        |  CAST(round((r - 1.96 * se) / 100.0, 6) AS DOUBLE) AS ci_lo,
        |  CAST(round((r + 1.96 * se) / 100.0, 6) AS DOUBLE) AS ci_hi
        |FROM se ORDER BY c_mktsegment""".stripMargin,

    "agg_power_mde" ->
      """WITH m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(value AS DECIMAL(28,8))) AS sx,
        |    SUM(CAST(value * value AS DECIMAL(28,8))) AS sxx
        |  FROM events GROUP BY event_type),
        |md AS (
        |  SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sxx AS DOUBLE) AS sxxd
        |  FROM m),
        |st AS (
        |  SELECT event_type, n, sxd / nd AS mean,
        |    (sxxd - sxd * sxd / nd) / (nd - 1.0) AS vr,
        |    CAST(n // 2 AS DOUBLE) AS n_arm
        |  FROM md),
        |mde AS (
        |  SELECT event_type, n, mean, vr,
        |    2.8016 * sqrt(2.0 * vr / n_arm) AS mde_abs,
        |    CAST(ceil(2.0 * vr * 2.8016 * 2.8016
        |      / ((0.05 * mean) * (0.05 * mean))) AS BIGINT) AS n_req
        |  FROM st)
        |SELECT event_type, n,
        |  CAST(round(mean, 6) AS DOUBLE) AS mean,
        |  CAST(round(sqrt(vr), 6) AS DOUBLE) AS sd,
        |  CAST(round(mde_abs, 6) AS DOUBLE) AS mde_abs,
        |  CAST(round(mde_abs / mean, 6) AS DOUBLE) AS mde_rel,
        |  n_req AS n_req_per_arm
        |FROM mde ORDER BY event_type""".stripMargin,
  )
}
