package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{Tables => T}
import graft.core.Numeric._

/** Advanced relational operators — second-ring surface beyond SURVEY §2.2's
  * core (all absent in the reference, whose parser knows exactly two
  * statements, `/root/reference/db.cpp:428-441`): skew-safe aggregation,
  * exact percentiles, distribution windows, value-range frames, scalar
  * subqueries, pivots, null semantics, and deterministic sampling. */
object Advanced {
  type Q = (SparkSession, String) => DataFrame

  /** Two-phase SALTED aggregation — the 100 TB skew recipe: pre-aggregate
    * on (key, salt) to spread a hot key over 16 reducers, then combine.
    * Result is provably identical to the direct groupBy (sums re-associate;
    * decimal sums are order-independent), which is exactly what the oracle
    * checks. AQE's skew handling covers joins; aggregation skew needs this
    * shape. */
  val aggSalted: Q = (s, d) => {
    val partial = T.lineitem(s, d)
      .withColumn("salt", pmod(col("l_orderkey"), lit(16)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(col("l_quantity").cast("decimal(20,8)")).as("pq"))
    partial.groupBy(col("l_returnflag"))
      .agg(sum(col("pn")).as("n"),
        round(sum(col("pq")), 2).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Exact interpolated percentiles (median / p95) per order status,
    * computed DISTRIBUTED-EXACT by rank interpolation — semantically
    * identical to `percentile`/DuckDB `quantile_cont` (the linear-
    * interpolation estimate at h = q·(n−1)) but with no aggregation
    * buffer ever holding a group's payload: a single-buffer exact
    * `percentile` call funnels every group's full value list into one
    * ObjectHashAggregate buffer, which at 100 TB is tens of millions of
    * doubles per reducer. Here the heavy operator is a per-group
    * EXTERNAL SORT (row_number window — spills to disk, memory-bounded),
    * each row is then compared against the four target ranks
    * ⌊h⌋/⌈h⌉ per quantile and everything else is DISCARDED before the
    * final scalar-only aggregate (≤ 4 rows per group). Group counts are
    * a 3-row broadcast join. */
  val aggPercentile: Q = (s, d) => {
    val o = T.orders(s, d).select(col("o_orderstatus"), col("o_totalprice"))
    val n = o.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_totalprice"))
    val ranked = o.withColumn("r", row_number().over(w).cast("long") - 1)
    def h(q: Double) = lit(q) * (col("n") - 1).cast("double")
    val kept = ranked.join(n, "o_orderstatus").filter(
      col("r") === floor(h(0.5)) || col("r") === ceil(h(0.5)) ||
      col("r") === floor(h(0.95)) || col("r") === ceil(h(0.95)))
    val picked = kept.groupBy(col("o_orderstatus"), col("n")).agg(
      max(when(col("r") === floor(h(0.5)), col("o_totalprice"))).as("lo50"),
      max(when(col("r") === ceil(h(0.5)), col("o_totalprice"))).as("hi50"),
      max(when(col("r") === floor(h(0.95)), col("o_totalprice"))).as("lo95"),
      max(when(col("r") === ceil(h(0.95)), col("o_totalprice"))).as("hi95"))
    def interp(lo: Column, hi: Column, q: Double) = {
      val hq = h(q)
      round(lo + (hq - floor(hq)) * (hi - lo), 2)
    }
    picked.select(col("o_orderstatus"),
        interp(col("lo50"), col("hi50"), 0.5).as("p50"),
        interp(col("lo95"), col("hi95"), 0.95).as("p95"),
        col("n"))
      .orderBy(col("o_orderstatus"))
  }

  /** Distribution window functions: quartile bucket, percent_rank and
    * cume_dist of each order within its status, on a total order. */
  val windowDist: Q = (s, d) => {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    T.orders(s, d)
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .filter(col("o_orderkey") % 25 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("quartile"), col("pct_rank"), col("cume"))
      .orderBy(col("o_orderkey"))
  }

  /** Value-RANGE window frame: for each order, how many orders of the same
    * status fall within ±5000 of its totalprice (frame bounds follow the
    * ORDER BY value, not row positions).
    *
    * Computed by inclusion-exclusion over PREFIX frames instead of the
    * naive sliding frame `rangeBetween(-5000, 5000)`: Spark's sliding
    * window frames cannot retract, so they re-aggregate the whole frame on
    * every row — O(rows x frame-width) per partition, quadratic-ish on
    * low-cardinality partition keys (here 3 statuses hold everything).
    * One-side-unbounded frames grow incrementally (O(rows)), and
    * |{|b-a| <= 5000}| = |{b <= a+5000}| + |{b >= a-5000}| - |partition|
    * exactly (A ∪ B is the whole partition since a-5000 < a+5000; bound
    * arithmetic is the same IEEE a±5000.0 the sliding frame evaluates, so
    * counts are bit-identical). ~6x on the harness partitions. */
  val windowRangeFrame: Q = (s, d) => {
    val wLe = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"))
      .rangeBetween(Window.unboundedPreceding, 5000L)
    val wGe = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc)
      .rangeBetween(Window.unboundedPreceding, 5000L)
    val wAll = Window.partitionBy(col("o_orderstatus"))
    T.orders(s, d)
      .withColumn("n_nearby",
        count(lit(1)).over(wLe) + count(lit(1)).over(wGe) -
          count(lit(1)).over(wAll))
      .filter(col("o_orderkey") % 25 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("n_nearby"))
      .orderBy(col("o_orderkey"))
  }

  /** Scalar subquery: orders above the global average totalprice. The
    * single-row aggregate broadcasts and the comparison streams — no
    * shuffle of the fact side. */
  val subqScalar: Q = (s, d) => {
    val o = T.orders(s, d)
    val avgPrice = o.agg(
      (sum(col("o_totalprice").cast("decimal(20,8)")) / count(lit(1)))
        .cast("double").as("avg_price"))
    o.crossJoin(broadcast(avgPrice))
      .filter(col("o_totalprice") > col("avg_price"))
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Pivot: per-nation event… no events↔nation link — pivot order counts
    * by orderpriority per status (fixed value list → deterministic
    * columns; portable to CASE-WHEN SQL). */
  val aggPivot: Q = (s, d) =>
    T.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderstatus"),
        col("1-URGENT").as("p1"), col("2-HIGH").as("p2"),
        col("3-MEDIUM").as("p3"), col("4-NOT SPECIFIED").as("p4"),
        col("5-LOW").as("p5"))
      .orderBy(col("o_orderstatus"))

  /** Navigation window functions: first/last/nth order value within each
    * customer's order history (explicit frame for last_value — the default
    * frame ends at CURRENT ROW, a classic correctness trap). */
  val windowNav: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    T.orders(s, d)
      .withColumn("first_key", first(col("o_orderkey")).over(wFull))
      .withColumn("last_key", last(col("o_orderkey")).over(wFull))
      .withColumn("second_key", nth_value(col("o_orderkey"), 2).over(wFull))
      .filter(col("o_orderkey") % 25 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        col("first_key"), col("last_key"), col("second_key"))
      .orderBy(col("o_orderkey"))
  }

  /** Statistical aggregates — stddev/variance/correlation — computed from
    * EXACT decimal moment sums (Σx, Σx², Σxy as DECIMAL, combined in
    * double at the end). The built-in stddev/corr stream doubles in
    * partition order and are nondeterministic at scale; the moment form is
    * order-independent, shuffle-count identical (one partial+final agg),
    * and matches the engine-portable closed forms. */
  val aggStats: Q = (s, d) => {
    def sd(c: Column) = sum(c.cast("decimal(28,8)"))
    // Fanout guard (r14 §7 / guide §2.5): six 128-bit decimal accumulations
    // per row fuse into the scan, and the harness file plans ONE task —
    // project to the 3 needed columns, then spread the partial aggregate
    // across the session's cores (identity on any multi-split layout).
    val li = graft.core.Fanout.fanout(T.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice")))
    li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sd(col("l_quantity")).as("sx"),
        sd(col("l_quantity") * col("l_quantity")).as("sxx"),
        sd(col("l_extendedprice")).as("sy"),
        sd(col("l_extendedprice") * col("l_extendedprice")).as("syy"),
        sd(col("l_quantity") * col("l_extendedprice")).as("sxy"))
      .select(Seq(col("l_returnflag"), col("n")) ++ {
        // exact decimal moments → double ONCE, then a fixed double-op
        // sequence (order-independent, no decimal-precision overflow)
        val nd = col("n").cast("double")
        val (sx, sxx) = (col("sx").cast("double"), col("sxx").cast("double"))
        val (sy, syy) = (col("sy").cast("double"), col("syy").cast("double"))
        val sxy = col("sxy").cast("double")
        val varQ = (sxx - sx * sx / nd) / (nd - 1)
        val cov = sxy - sx * sy / nd
        Seq(
          round(varQ, 4).as("var_qty"),
          round(sqrt(varQ), 4).as("sd_qty"),
          round(cov / (sqrt(sxx - sx * sx / nd) * sqrt(syy - sy * sy / nd)), 4)
            .as("corr_qp"))
      }: _*)
      .orderBy(col("l_returnflag"))
  }

  /** Mode (most frequent value) per group — two-phase: count per
    * (group, value), then rank with a value tie-break (the built-in `mode`
    * breaks ties arbitrarily — banned by the determinism rules). */
  val aggMode: Q = (s, d) => {
    val counts = T.part(s, d)
      .groupBy(col("p_type"), col("p_brand"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("p_type"))
      .orderBy(col("n").desc, col("p_brand"))
    counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("p_type"), col("p_brand").as("mode_brand"), col("n"))
      .orderBy(col("p_type"))
  }

  /** Null-semantics pack: coalesce, nullif, null-safe equality (<=>),
    * and null-aware counts over a column made sparsely null. */
  val fnNull: Q = (s, d) => {
    val c = T.customer(s, d)
      .withColumn("bal_or_null",
        when(col("c_custkey") % 3 === 0, lit(null).cast("double"))
          .otherwise(col("c_acctbal")))
    c.select(col("c_custkey"),
        round(coalesce(col("bal_or_null"), lit(0.0)), 2).as("bal0"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_nb"),
        (col("bal_or_null") <=> lit(null).cast("double")).as("is_null_safe"),
        col("bal_or_null").isNull.as("is_null"))
      .orderBy(col("c_custkey"))
  }

  /** Deterministic hash sampling — the scale-safe alternative to
    * `TABLESAMPLE` (whose result depends on partitioning): keep rows whose
    * portable 48-bit md5 hash of the key ≡ 0 (mod 10). Same recipe works
    * for train/test splits of a 100 TB corpus. The hash is the native
    * codegen'd [[graft.expr.Md5Prefix48]] — bit-identical to the
    * conv/substring/md5 hex chain (pinned in ExpressionSpec) without
    * materializing the hex string per row. */
  val sampleHash: Q = (s, d) =>
    T.lineitem(s, d)
      .withColumn("hk",
        graft.expr.Md5Prefix48.md548(
          concat_ws("|", col("l_orderkey"), col("l_linenumber"))) % 10)
      .filter(col("hk") === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Stratified deterministic sampling — the data-mixing step of a
    * training pipeline: per-stratum keep rates (en 50 %, de 20 %, rest
    * 10 %) applied via the same portable 48-bit hash as [[sampleHash]], so
    * membership is a pure row property — reproducible across engines,
    * partitionings and reruns, and a row's fate never changes when the
    * corpus grows. Zero shuffles before the declared sort. */
  val sampleStratified: Q = (s, d) => {
    val rate = when(col("lang") === "en", 50)
      .when(col("lang") === "de", 20)
      .otherwise(10)
    T.documents(s, d)
      .withColumn("hk",
        graft.expr.Md5Prefix48.md548(concat_ws("|", col("doc_id"))) % 100)
      .filter(col("hk") < rate)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** WEIGHT-PROPORTIONAL sampling (expected size k=100) — the
    * token-budget sampling step of a corpus pipeline: a document is kept
    * with probability proportional to its length, so expected SAMPLED
    * BYTES follow the corpus mix rather than the doc-count mix (what
    * uniform `sample_hash` would give). Inclusion is Poisson/Bernoulli
    * weighted sampling — keep iff h48(doc_id)/2^48 < k·w/Σw — decided in
    * EXACT 128-bit decimal integer cross-multiplication: no libm, no
    * float compare, so membership is a pure row property, reproducible
    * across engines, partitionings and reruns (the `sample_hash`
    * discipline, weight-generalized; probabilities > 1 simply always
    * keep). Σw is one broadcast scalar; selection is a map-side filter
    * with zero shuffles before the declared sort — the one-pass 100 TB
    * shape, needing no global top-k structure the way priority
    * (Efraimidis–Spirakis) sampling would. */
  val sampleWeighted: Q = (s, d) => {
    val dec = "decimal(38,0)"
    def d38(c: Column) = c.cast(dec)
    val docs = T.documents(s, d).select(col("doc_id"), col("n_chars"))
    val tot = docs.agg(sum(col("n_chars")).as("tw"))
    docs.crossJoin(broadcast(tot))
      .filter(
        d38(graft.expr.Md5Prefix48.md548(concat_ws("|", col("doc_id"))))
          * d38(col("tw")) <
          d38(lit(100L)) * d38(col("n_chars")) * d38(lit(1L << 48)))
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Fixed-width histogram (the profiling primitive behind every range
    * partitioner and NDV estimate): bucket = floor(price / 10000), one
    * two-phase hash aggregate — bucket count is bounded by the value
    * domain, not the row count, so the final aggregation state is tiny at
    * any scale. */
  val aggHist: Q = (s, d) =>
    T.lineitem(s, d)
      .withColumn("bucket", floor(col("l_extendedprice") / 10000.0).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("l_extendedprice")), 2).as("lo"),
        round(max(col("l_extendedprice")), 2).as("hi"))
      .orderBy(col("bucket"))

  /** Mergeable-sketch pipeline (the re-aggregable distinct-count story at
    * 100 TB): HLL sketches built per (returnflag, linestatus) group with
    * `hll_sketch_agg`, then UNIONED up to per-flag estimates with
    * `hll_union_agg` — fixed-size state, one pass over the data, rollups
    * without re-reading raw rows. No DuckDB oracle (sketch binary formats
    * are engine-specific); the estimate-vs-exact bound is pinned in
    * PropertySpec, and the driver records a rows-present check. */
  val aggHllSketch: Q = (s, d) => {
    val perGroup = T.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(expr("hll_sketch_agg(l_partkey)").as("sk"),
        countDistinct(col("l_partkey")).as("exact_nd"))
    perGroup.groupBy(col("l_returnflag"))
      .agg(
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_nd"),
        sum(col("exact_nd")).as("sum_group_exact"))
      .select(col("l_returnflag"), col("approx_nd"), col("sum_group_exact"))
      .orderBy(col("l_returnflag"))
  }

  /** Time-series RESAMPLE + GAP FILL — the dashboard/feature-store shape:
    * sparse hourly aggregates (events with value > 99) joined onto a
    * dense generated calendar spine (every hour × every event type), gaps
    * carried forward from the last observed hour (`last` IGNORE NULLS
    * over an hour-ordered window; hours before a type's first observation
    * stay NULL).
    *
    * 100 TB shape: the spine is GENERATED (`sequence` over the time
    * bounds crossed with the broadcast type dim) — cardinality is the
    * time domain × type domain, independent of event volume; the window
    * partitions by type and orders by the bounded hour axis. The raw
    * events only pass through one filtered two-phase aggregate. */
  val aggTsGapfill: Q = (s, d) => {
    val ev = T.events(s, d)
    val hourly = ev.filter(col("value") > 99)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("hour_value"))
    val bounds = ev.agg(date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val types = ev.select(col("event_type")).distinct()
    val spine = bounds
      .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
      .crossJoin(broadcast(types))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    spine.join(hourly, Seq("hour", "event_type"), "left")
      .withColumn("is_gap", col("n_events").isNull)
      .withColumn("fill_value",
        last(col("hour_value"), ignoreNulls = true).over(w))
      .select(col("hour"), col("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("fill_value"), col("is_gap"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Struct (nested-row) surface: per-customer ARGMAX via `max(struct)` —
    * structs order lexicographically by field position, so
    * `max(struct(date, key, price))` finds each customer's latest order
    * (key breaks same-day ties) in ONE two-phase hash aggregate, where
    * the window/self-join formulations shuffle the whole table to rank
    * rows they immediately discard. Fields come back out by dotted path.
    * The oracle pins the equivalent `row_number() = 1` window form. */
  val fnStruct: Q = (s, d) =>
    T.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(max(struct(col("o_orderdate"), col("o_orderkey"),
          col("o_totalprice"))).as("latest"),
        count(lit(1)).as("n_orders"))
      .select(col("o_custkey"),
        col("latest.o_orderdate").as("latest_date"),
        col("latest.o_orderkey").as("latest_key"),
        col("latest.o_totalprice").as("latest_price"),
        col("n_orders"))
      .orderBy(col("o_custkey"))

  /** Slowly-changing-dimension TYPE-2 history build (the warehouse
    * companion of `merge_upsert`'s latest-wins snapshot): each customer's
    * order stream becomes versioned validity intervals —
    * `effective_from` = version date, `effective_to` = the NEXT version's
    * date (half-open intervals: no date arithmetic, no gaps), NULL `to`
    * marks the current row. Same-day collisions first reduce to the
    * day's last order via the `max(struct)` argmax.
    *
    * 100 TB shape: one hash aggregate on (key, day) then one window
    * partitioned by key — both shuffle on the dimension key only; history
    * length per key is bounded by the time domain. */
  val mergeScd2: Q = (s, d) => {
    val daily = T.orders(s, d).filter(col("o_custkey") % 10 === 0)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(struct(col("o_orderkey"), col("o_totalprice"))).as("v"))
      .select(col("o_custkey"), col("o_orderdate"),
        col("v.o_orderkey").as("src_order"), col("v.o_totalprice").as("price"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
    daily
      .withColumn("effective_to", lead(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey"), col("o_orderdate").as("effective_from"),
        col("effective_to"), col("src_order"), col("price"),
        col("effective_to").isNull.as("is_current"))
      .orderBy(col("o_custkey"), col("effective_from"))
  }

  /** Grouped TOP-K via the native bounded-heap aggregate
    * ([[graft.expr.TopKAgg]]): top-3 orders by price per customer. The
    * `row_number` window form (which the oracle pins) SORTS every
    * customer's full order list; the aggregate keeps a k-slot sorted
    * buffer per group with map-side partial merge — the shuffle carries
    * ≤ k rows per (group × map task) and nothing is ever fully sorted.
    * At 100 TB this is the difference between shuffling the scored
    * stream and shuffling k rows per key. Identical output (the heap
    * comparator is the same (price desc, key asc) total order; ApiSpec
    * asserts row-for-row equality with the window form). */
  val aggTopk: Q = (s, d) =>
    T.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(graft.expr.TopKAgg.topk(3)(col("o_totalprice"), col("o_orderkey"))
        .as("tk"))
      .select(col("o_custkey"), posexplode(col("tk")))
      .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rnk"),
        col("col._2").as("o_orderkey"), col("col._1").as("o_totalprice"))
      .orderBy(col("o_custkey"), col("rnk"))

  /** Mergeable approximate quantiles — the declared scale path next to
    * the exact `agg_percentile` (which sorts every group's payload):
    * `approx_percentile` keeps a fixed-size mergeable summary per group
    * (map-side combine, no sort), the answer any 100 TB percentile
    * dashboard actually runs. Like the HLL sketches, the summary is
    * engine-specific so there is no DuckDB oracle; PropertySpec bounds
    * the estimates against the exact percentiles and the driver records
    * a rows-present check (declared ✗ in SURVEY §2.2). */
  val aggApproxQuantile: Q = (s, d) =>
    T.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(expr("approx_percentile(o_totalprice, array(0.5, 0.95), 10000)")
        .as("q"), count(lit(1)).as("n"))
      .select(col("o_orderstatus"),
        round(element_at(col("q"), 1), 2).as("p50_approx"),
        round(element_at(col("q"), 2), 2).as("p95_approx"), col("n"))
      .orderBy(col("o_orderstatus"))

  /** Mergeable EXACT distinct counting via roaring-style bitmaps — the
    * third point on the distinct-count spectrum next to the exact
    * shuffle-heavy `agg_distinct` and the approximate `agg_hll_sketch`:
    * per (flag, status, bucket) the part keys collapse into a 4 KiB
    * bitmap (`bitmap_construct_agg`), bitmaps OR-merge up to the flag
    * level (`bitmap_or_agg` — dedup across statuses happens inside the
    * bitmap, no raw keys re-read), and `bitmap_count` emits the exact
    * count. At 100 TB the shuffle carries one bitmap per (group × 32 Ki
    * key range) instead of every distinct key occurrence, and the
    * per-status bitmaps are re-aggregable to any coarser rollup. The
    * oracle pins exactness against a plain COUNT(DISTINCT). */
  val aggBitmap: Q = (s, d) => {
    val perStatus = T.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"),
        expr("bitmap_bucket_number(l_partkey)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))")
        .as("bm"))
    perStatus
      .groupBy(col("l_returnflag"), col("bucket"))
      .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("bucket_nd"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("bucket_nd")).as("distinct_parts"))
      .orderBy(col("l_returnflag"))
  }

  /** Theta-sketch distinct counting with SET INTERSECTION — the audience-
    * overlap question the built-in HLL surface cannot answer (HLL unions
    * only): per (flag, status) the part keys sketch into a bounded theta
    * sketch ([[graft.expr.ThetaSketchAgg]]); sketches MERGE up to the
    * flag level (second aggregation, raw keys never re-read); then each
    * flag pair reports its overlap via [[graft.expr.ThetaIntersect]].
    * Estimates are exact below the sketch's k=4096 retained entries and
    * deterministic at any partitioning (the retained set is "the k
    * smallest key hashes" — order-free; PropertySpec pins both).
    * Harness-scale distinct counts sit under k, so the sketch is in its
    * EXACT regime and the result is value-level oracle-checkable as
    * plain distinct/intersection counting (same pattern as
    * `agg_count_min`'s exact-mode oracle); above k the estimates leave
    * the oracle and PropertySpec's error bounds take over. */
  val aggThetaSketch: Q = (s, d) => {
    import graft.expr.ThetaSketch._
    val perStatus = T.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sketchAgg(col("l_partkey")).as("sk"))
    val perFlag = perStatus.groupBy(col("l_returnflag"))
      .agg(sketchAgg(col("sk")).as("sk")) // binary input → merge level
    perFlag.as("a").crossJoin(broadcast(perFlag.as("b")))
      .filter(col("a.l_returnflag") < col("b.l_returnflag"))
      .select(
        col("a.l_returnflag").as("flag_a"),
        col("b.l_returnflag").as("flag_b"),
        round(estimate(col("a.sk")), 1).as("approx_a"),
        round(estimate(col("b.sk")), 1).as("approx_b"),
        round(estimate(intersect(col("a.sk"), col("b.sk"))), 1)
          .as("approx_shared"))
      .orderBy(col("flag_a"), col("flag_b"))
  }

  /** MERGEABLE-SKETCH ROLLUP — the time-hierarchy reuse story that
    * justifies keeping sketches AT ALL (next to [[aggThetaSketch]]'s
    * set algebra): weekly theta sketches of active users roll up to the
    * month by MERGING THE SKETCHES — the raw event stream is read
    * exactly once, yet the month-level distinct is not the
    * double-counting sum of weekly distincts. Reports, per month, the
    * naive Σ(weekly distinct) next to the merged true distinct and the
    * cross-week overlap the merge removed. Estimates are exact below
    * k=4096 retained hashes (harness regime — value-oracled as plain
    * distinct counts, the [[aggThetaSketch]] rule) and
    * partition-invariant always.
    *
    * 100 TB shape: THE materialized-aggregate pattern — persist the
    * weekly sketch table (O(weeks·k), trivial), answer month / quarter /
    * year / rolling-window distincts by merging sketches, never
    * re-scanning events. Both aggregations here are map-side-partial
    * mergeable folds; nothing after the first fold touches the corpus. */
  val aggSketchRollup: Q = (s, d) => {
    import graft.expr.ThetaSketch._
    val cells = T.events(s, d)
      .select(date_trunc("month", col("ts")).cast("date").as("mon"),
        date_trunc("week", col("ts")).cast("date").as("wk"),
        col("user_id"))
      .groupBy(col("mon"), col("wk"))
      .agg(sketchAgg(col("user_id")).as("sk"))
      .withColumn("wk_est", round(estimate(col("sk")), 1))
    cells.groupBy(col("mon"))
      .agg(count(lit(1)).as("n_weeks"),
        sum(col("wk_est").cast("decimal(20,1)")).cast("double")
          .as("naive_sum"),
        sketchAgg(col("sk")).as("msk"))
      .select(col("mon"), col("n_weeks"), col("naive_sum"),
        round(estimate(col("msk")), 1).as("merged_users"),
        round(col("naive_sum") - round(estimate(col("msk")), 1), 1)
          .as("cross_week_overlap"))
      .orderBy(col("mon"))
  }

  /** Per-group z-score anomaly flagging — the outlier gate of a metrics
    * pipeline: each event type's mean/σ come from EXACT decimal moment
    * sums (the [[aggStats]] recipe — order-independent where the
    * streaming `stddev` is not), the tiny per-type model broadcasts back
    * onto the stream, and rows with |z| ≥ 2.5 surface with their score.
    * One two-phase aggregate + one broadcast join; the event volume is
    * never shuffled. The z arithmetic is a fixed IEEE double sequence on
    * exact-decimal-derived inputs, so scores are bit-identical across
    * engines (oracle mirrors the same moment algebra). */
  val aggZscore: Q = (s, d) => {
    def sd(c: Column) = sum(c.cast("decimal(28,8)"))
    val ev = T.events(s, d)
    val model = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sd(col("value")).as("sx"),
        sd(col("value") * col("value")).as("sxx"))
      .select(col("event_type"), {
        val nd = col("n").cast("double")
        val sx = col("sx").cast("double")
        val sxx = col("sxx").cast("double")
        (sxx - sx * sx / nd) / (nd - 1)
      }.as("variance"), (col("sx").cast("double") / col("n").cast("double")).as("mu"))
    ev.join(broadcast(model), Seq("event_type"))
      .withColumn("z", (col("value") - col("mu")) / sqrt(col("variance")))
      .filter(abs(col("z")) >= 2.5)
      .select(col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"), round(col("z"), 4).as("z"))
      .orderBy(col("event_id"))
  }

  /** Ordered conversion FUNNEL over the event stream (signup → click →
    * purchase, each stage strictly after the previous AND within a 1-day
    * attribution window of it): stage timestamps resolve via three
    * sequential MIN-CASE windows over the same user partition — one
    * shuffle on user_id total, every later window reuses the first one's
    * exchange — then users roll up to their deepest stage. At 100 TB
    * this is the canonical "sessionless funnel" shape: no self-joins
    * (the naive form joins events³), no per-user sort, state bounded by
    * one row per user. */
  val eventsFunnel: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
    def withinDay(stage: String, prev: Column): Column =
      min(when(col("event_type") === stage && col("ts") > prev &&
        col("ts") <= prev + expr("INTERVAL 1 DAY"), col("ts"))).over(w)
    val ev = T.events(s, d)
      .withColumn("t1",
        min(when(col("event_type") === "signup", col("ts"))).over(w))
    val s2 = ev.withColumn("t2", withinDay("click", col("t1")))
    val s3 = s2.withColumn("t3", withinDay("purchase", col("t2")))
    s3.withColumn("stage",
        when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
          .when(col("t1").isNotNull, 1).otherwise(0))
      .groupBy(col("stage"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("stage"))
  }

  /** Cohort RETENTION analysis — the standard growth-analytics matrix:
    * users cohort by first-active day, then each (cohort, day-offset ∈
    * {0,1,3,7}) cell counts the cohort's users still active that much
    * later. Three keyed aggregates and one user-key join — the per-user
    * first-seen reduction is the only pass over raw events; the
    * (user, day) activity grid is already distinct-compressed before the
    * offset join. At 100 TB everything shuffles on user_id or the
    * day-grid key; no window over raw event volume. */
  val aggRetention: Q = (s, d) => {
    val ev = T.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    val activity = ev.distinct()
    val cohorts = activity.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    activity.join(cohorts, Seq("user_id"))
      .withColumn("day_offset",
        datediff(col("day"), col("cohort_day")).cast("long"))
      .filter(col("day_offset").isin(0L, 1L, 3L, 7L))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Rolling ACTIVE USERS (DAU / 7-day WAU / stickiness) — the dashboard
    * trio. Distinct-over-a-sliding-window cannot use a window frame
    * (distinct doesn't retract); the scale shape is: compress events to
    * the distinct (user, day) grid once, then each grid row SUPPORTS the
    * 7 window-days it falls into (a bounded ×7 explode), and WAU is a
    * plain distinct count per supported day. Every shuffle keys on the
    * day grid; raw event volume is touched exactly once. */
  val aggActiveUsers: Q = (s, d) => {
    val grid = T.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val dau = grid.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = grid
      .select(col("user_id"), explode(
        expr("sequence(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY)")).as("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 4)
          .as("stickiness"))
      .orderBy(col("day"))
  }

  /** Event PATH analysis (the transition matrix behind sankey/funnels):
    * each user's stream ordered by time, consecutive event-type pairs
    * counted. One lag window partitioned by user + one hash aggregate on
    * the bounded (from, to) type grid — raw volume shuffles once on
    * user_id, the aggregate state is |types|². */
  val eventsPath: Q = (s, d) =>
    Graph.transitions(T.events(s, d), "from_type", "to_type", "n_transitions")
      .orderBy(col("from_type"), col("to_type"))

  /** Last-touch ATTRIBUTION — the marketing-analytics staple: each
    * purchase is credited to the user's most recent preceding
    * non-purchase event type ("channel"), then conversions and value roll
    * up per channel. One `last(..., ignoreNulls)` window partitioned by
    * user (raw volume shuffles once on user_id) + a hash aggregate whose
    * state is the bounded channel set — no self-join, no as-of join
    * against a second table needed when the touches live in the same
    * stream. */
  val eventsAttribution: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    T.events(s, d)
      .withColumn("channel",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" && col("channel").isNotNull)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("conversions"),
        dsum(col("value")).as("attributed_value"))
      .orderBy(col("channel"))
  }

  /** Recency-DECAYED engagement (half-life weighting) — the feature-store
    * aggregate behind "recent activity" signals: each event's value decays
    * by 0.5 per week of age before a per-user sum. Determinism at scale is
    * the design point: the half-life is a POWER OF TWO and the age is an
    * INTEGER week count, so `pow(0.5, w)` is exact in IEEE double and the
    * per-row product `value * 2^-w` is a pure exponent shift (no rounding
    * at all); the products are ≤8-decimal-digit values, so the [[dsum]]
    * decimal-sum discipline applies unchanged and the result is
    * independent of partitioning and reduction order. A free-form
    * `exp(-λ·age)` decay would be none of these things. One broadcast
    * scalar (the anchor day) + one hash aggregate on user_id. */
  val aggDecay: Q = (s, d) => {
    val ev = T.events(s, d)
      .select(col("user_id"), col("value"),
        date_trunc("day", col("ts")).as("day"))
    val mx = ev.agg(max(col("day")).as("d1"))
    ev.crossJoin(broadcast(mx))
      .withColumn("w", idiv(datediff(col("d1"), col("day")).cast("long"), lit(7L)))
      .withColumn("decayed", col("value") * pow(lit(0.5), col("w")))
      .groupBy(col("user_id"))
      .agg(dsum(col("decayed")).as("decayed_value"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** WEEKLY COHORT RETENTION MATRIX — the classic growth-analytics grid
    * ([[aggRetention]]'s day-pair form generalized to the signup-cohort
    * view every product dashboard ships): each user joins the cohort of
    * their FIRST event's ISO week; for every (cohort_week, week_offset)
    * cell, the distinct users active that many weeks after their cohort
    * week. Week arithmetic is pure date math on week-truncated DATEs
    * (both engines truncate to Monday), so offsets are exact integers.
    *
    * 100 TB shape: the first-event pass and the activity pass both
    * shuffle on user_id (one partial-agg each; the join is user-keyed on
    * both sides so it co-locates), the (user, cohort, offset) distinct
    * collapses per-user event volume BEFORE the grid aggregate, and the
    * final grid is |cohorts|·|offsets| rows — model-sized. */
  val eventsCohort: Q = (s, d) => {
    val firsts = T.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_day"))
      .select(col("user_id"),
        date_trunc("week", col("first_day")).cast("date").as("cohort_week"))
    T.events(s, d)
      .select(col("user_id"),
        date_trunc("week", to_date(col("ts"))).cast("date").as("act_week"))
      .join(firsts, "user_id")
      .select(col("cohort_week"),
        (datediff(col("act_week"), col("cohort_week")) / 7).cast("long")
          .as("week_offset"),
        col("user_id"))
      .distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** FEATURE-STORE MATERIALIZATION — the per-entity feature vector a
    * training pipeline or online store serves (the batch half of a
    * feature platform): per user, conditional per-type event counts (the
    * pivot the model consumes), first/last activity, recency in whole
    * days against the corpus anchor (broadcast 1-row scalar), exact
    * decimal purchase value, and an activity-span rate. ONE user-keyed
    * hash aggregate computes every feature — conditional aggregation
    * costs nothing extra because the predicates evaluate in the partial
    * projection (the `agg_conditional` rule); the anchor crossJoin is a
    * broadcast scalar. At 100 TB this is the canonical "wide agg"
    * materialization: map-side partials, state = one row per user. */
  val eventsFeatures: Q = (s, d) => {
    val anchor = T.events(s, d).agg(max(to_date(col("ts"))).as("d1"))
    T.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
        count(when(col("event_type") === "view", 1)).as("n_views"),
        count(when(col("event_type") === "error", 1)).as("n_errors"),
        min(to_date(col("ts"))).as("first_day"),
        max(to_date(col("ts"))).as("last_day"),
        dsum(when(col("event_type") === "purchase", col("value")))
          .as("purchase_value"))
      .crossJoin(broadcast(anchor))
      .select(col("user_id"), col("n_events"), col("n_purchases"),
        col("n_views"), col("n_errors"),
        datediff(col("d1"), col("last_day")).cast("long").as("recency_days"),
        (datediff(col("last_day"), col("first_day")) + 1).cast("long")
          .as("span_days"),
        coalesce(col("purchase_value"), lit(0.0)).as("purchase_value"),
        round(col("n_events").cast("double") /
          (datediff(col("last_day"), col("first_day")) + 1).cast("double"), 6)
          .as("events_per_day"))
      .orderBy(col("user_id"))
  }

  /** Column PROFILE — the ANALYZE TABLE / statistics-collection pass every
    * engine ships (and the optimizer's food: row counts, null counts, NDV
    * and min/max bounds drive join reorder, broadcast decisions and range
    * pruning). ONE scan aggregates all metrics for the profiled columns,
    * then the scalar row unpivots to one row per column. The exact
    * `countDistinct` triple plans a single Expand pass here (oracle needs
    * exactness); the 100 TB profile swaps it for `approx_count_distinct` /
    * HLL sketches — same one-pass shape, mergeable state, no Expand
    * (SCALING.md). */
  val metaProfile: Q = (s, d) => {
    val li = T.lineitem(s, d)
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey")
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nul_$c"),
      countDistinct(col(c)).as(s"ndv_$c"),
      min(col(c)).as(s"min_$c"),
      max(col(c)).as(s"max_$c"))) :+ count(lit(1)).as("n_rows")
    li.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"), col("n_rows"),
        col(s"nul_$c").as("n_nulls"), col(s"ndv_$c").as("ndv"),
        col(s"min_$c").as("min_v"), col(s"max_$c").as("max_v"))): _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("col_name"))
  }

  /** Per-day HEAVY HITTERS via the mergeable Misra–Gries summary
    * ([[graft.expr.MisraGriesAgg]]) — the frequent-items member of the
    * sketch family (next to theta/HLL distinct and approx quantiles),
    * here over the event stream: each day's dominant event types with
    * their counts. The aggregation state is ≤ k slots per day regardless
    * of event volume, with map-side partial merge — at 100 TB the shuffle
    * carries k·days rows, not the per-(day, type) grid the exact GROUP BY
    * pays. Capacity k=8 exceeds the event-type domain, so the summary is
    * provably exact here and a plain GROUP BY oracle hash-checks the
    * sketch path end to end; PropertySpec separately pins the undercount
    * and coverage bounds in the approximate (k < distinct) regime. */
  val aggHeavyHitters: Q = (s, d) => {
    T.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(graft.expr.MisraGries.agg(col("event_type"), 8).as("hh"))
      .select(col("day"), explode(col("hh")).as("e"))
      .select(col("day"), col("e.item").as("item"),
        col("e.est_count").as("est_count"))
      .orderBy(col("day"), desc("est_count"), col("item"))
  }

  /** ENTITY-RESOLUTION fuzzy match (record linkage) — the data-cleaning
    * primitive next to the dedup family: customer names that are ≤ 2
    * edits apart within a nation. Candidates come from Q-GRAM BLOCKING
    * with a document-frequency cap (pairs must share a RARE character
    * 3-gram — the df cap drops non-discriminative grams like the shared
    * name prefix), then exact `levenshtein` verifies only candidates.
    * Never all-pairs: the pair space is Σ_rare-gram |holders|², the same
    * bounded-block shape as `dedup_near`'s prefix filter; the df cap is
    * part of the DECLARED semantics (mirrored in the oracle), which is
    * how blocked ER is deployed in practice. */
  val matchFuzzy: Q = (s, d) => {
    val dfCap = 40
    val c = T.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"), col("c_name"))
    // names shorter than one 3-gram produce no blocking key at all —
    // guarded explicitly because Spark's sequence(1, len-2) DESCENDS to
    // [1, 0] when len < 3 (step auto-negates), while the oracle's
    // generate_series returns empty; without the filter a degenerate
    // name would silently diverge between the engines
    val grams = c.filter(length(col("c_name")) >= 3)
      .select(col("c_custkey"), col("c_nationkey"),
        explode(expr("transform(sequence(1, length(c_name) - 2)," +
          " i -> substring(c_name, i, 3))")).as("g"))
      .distinct()
    val rare = grams.groupBy(col("g"))
      .agg(countDistinct(col("c_custkey")).as("df"))
      .filter(col("df") <= dfCap).select(col("g"))
    val keyed = grams.join(rare, "g")
    val cand = keyed.as("a").join(keyed.as("b"),
        col("a.g") === col("b.g") &&
        col("a.c_nationkey") === col("b.c_nationkey") &&
        col("a.c_custkey") < col("b.c_custkey"))
      .select(col("a.c_custkey").as("ka"), col("b.c_custkey").as("kb"))
      .distinct()
    val ca = c.select(col("c_custkey").as("ka"), col("c_name").as("name_a"))
    val cb = c.select(col("c_custkey").as("kb"), col("c_name").as("name_b"))
    cand.join(ca, "ka").join(cb, "kb")
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= 2)
      .select(col("ka"), col("kb"), col("name_a"), col("name_b"), col("dist"))
      .orderBy(col("ka"), col("kb"))
  }

  /** Per-user Shannon ENTROPY of the event-type distribution — the
    * behavioral-diversity metric (and, on corpus mixtures, the balance
    * monitor a training-data pipeline watches). Probabilities are exact
    * rationals c/n evaluated in IEEE double; each −p·ln p term rounds to
    * 8 decimals before an exact decimal sum (the engine's standard
    * libm-ulp guard, cf. text_unigram_lm), so the result is
    * partition-invariant and engine-portable. Two hash aggregates + one
    * join, all keyed on user_id — one shuffle lineage at scale. */
  val aggEntropy: Q = (s, d) => {
    val c = T.events(s, d)
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
    val n = c.groupBy(col("user_id")).agg(sum(col("c")).as("n"))
    val p = col("c").cast("double") / col("n")
    c.join(n, "user_id")
      .select(col("user_id"), round(-p * log(p), 8).cast("decimal(20,8)").as("t"))
      .groupBy(col("user_id"))
      .agg(round(sum(col("t")), 6).cast("double").as("entropy"))
      .orderBy(col("user_id"))
  }

  /** COUNT-MIN point-frequency estimates ([[graft.expr.CountMinAgg]]):
    * one 4×1024 sketch over the event stream, then per-type estimates via
    * plain `element_at` + `least` row lookups against the broadcast
    * 1-row grid. Unlike the HLL/theta/Misra–Gries members of the sketch
    * family this one is fully VALUE-ORACLED: counters are order-invariant
    * sums and the row hash is portable md5, so DuckDB rebuilds the exact
    * grid from exact counts — estimates hash-match including any
    * collisions. 100 TB shape: map-side partial grids merge element-wise;
    * the shuffle carries depth×width longs, never the value domain. */
  val aggCountMin: Q = (s, d) => {
    val depth = 4
    val width = 1024
    val sk = T.events(s, d)
      .agg(graft.expr.CountMin.agg(col("event_type"), depth, width).as("sk"))
    val est = (0 until depth).map { dd =>
      col("sk").getItem(
        (graft.expr.Md5Prefix48.md548(
          concat(lit(dd + ":"), col("event_type"))) % width).cast("int")
          + lit(dd * width))
    }.reduce(least(_, _))
    T.events(s, d).select(col("event_type")).distinct()
      .crossJoin(broadcast(sk))
      .select(col("event_type"), est.as("est_count"))
      .orderBy(col("event_type"))
  }

  /** Gap-based SESSIONIZATION — the batch twin of `stream_session`'s
    * session windows, and the canonical event-analytics primitive: a
    * user's events sort within their partition, a >30-minute silence
    * starts a new session (lag + running sum of boundaries — the
    * standard two-window idiom), and sessions roll up to start/end/
    * duration/size. Both windows partition by user_id and reuse ONE
    * shuffle (the second window's ordering is a prefix of the first's);
    * per-user state is bounded by that user's events, never the stream.
    * The user_id sample predicate pushes into the parquet scan. */
  val eventsSessionize: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    T.events(s, d)
      .filter(col("user_id") % 5 === 0)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L)
          .otherwise(0L))
      .withColumn("session_no", sum(col("is_new")).over(w))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .withColumn("duration_sec",
        col("session_end").cast("long") - col("session_start").cast("long"))
      .orderBy(col("user_id"), col("session_no"))
  }

  /** Correlated EXISTS / NOT EXISTS — the subquery surface a SQL front
    * door must take, DECLARED through `spark.sql` so Catalyst's
    * RewritePredicateSubquery is the implementation: both subqueries
    * decorrelate to hash joins (EXISTS → left semi, NOT EXISTS → left
    * anti — PlanSpec pins both and that no per-row subquery survives).
    * At 100 TB a correlated subquery executed per row is death by a
    * million scans; decorrelation makes it two equi joins. */
  val subqExists: Q = (s, d) => {
    Seq("customer", "orders").foreach { t =>
      T(s, d, t).createOrReplaceTempView(t)
    }
    s.sql("""
      SELECT c_custkey, c_name FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 400000)
        AND NOT EXISTS (SELECT 1 FROM orders o2
                        WHERE o2.o_custkey = c.c_custkey
                        AND o2.o_orderstatus = 'F')
      ORDER BY c_custkey""")
  }

  /** Correlated LATERAL subquery with ORDER BY + LIMIT — top-2 suppliers
    * per nation, spelled the way an analyst writes it. Catalyst
    * decorrelates to `WindowGroupLimit` (a bounded per-group top-k that
    * keeps ≤ k rows per group at the MAP side, before the shuffle) + one
    * equi join — the per-nation subquery never executes per row, and
    * nothing sorts a whole group (PlanSpec pins WindowGroupLimit). */
  val subqLateral: Q = (s, d) => {
    Seq("nation", "supplier").foreach { t =>
      T(s, d, t).createOrReplaceTempView(t)
    }
    s.sql("""
      SELECT n_name, s_name, s_acctbal FROM nation n,
      LATERAL (SELECT s_name, s_acctbal FROM supplier
               WHERE s_nationkey = n.n_nationkey
               ORDER BY s_acctbal DESC, s_name LIMIT 2)
      ORDER BY n_name, s_acctbal DESC, s_name""")
  }

  /** NOT IN vs NOT EXISTS under NULLs — the three-valued-logic trap
    * every SQL engine must honor: `x NOT IN (subquery)` is UNKNOWN (not
    * TRUE) for every x the moment the subquery yields a single NULL, so
    * the "same" exclusion query silently returns zero rows, while
    * NOT EXISTS ignores NULLs and keeps working. The query reports all
    * three counts side by side per market segment — NOT EXISTS, NOT IN
    * over the null-stripped set (equal by definition), and NOT IN over
    * the dirty set (collapses to 0 when a NULL is present) — with the
    * exclusion set derived from 'F' orders and NULLs injected on a
    * deterministic key slice. The DuckDB oracle evaluates its NATIVE
    * `NOT IN` / `NOT EXISTS`, so the hash match certifies the engine's
    * expansion against independent three-valued-logic semantics; the
    * SQL-text path runs Spark's own null-aware anti join.
    *
    * 100 TB shape: NOT EXISTS decorrelates to a hash LEFT ANTI join
    * (broadcast here — the exclusion set is distinct keys). The
    * null-aware variant needs only ONE extra broadcast scalar (does the
    * set contain a NULL?) — the plan stays two equi joins + a 1-row
    * cross, never the nested-loop NAAJ worst case. */
  val subqNotinNull: Q = (s, d) => {
    val c = T.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    val sub = T.orders(s, d).filter(col("o_orderstatus") === "F")
      .select(when(col("o_orderkey") % 97 === 0, lit(null).cast("long"))
        .otherwise(col("o_custkey")).as("k"))
    val clean = sub.filter(col("k").isNotNull).distinct()
    val hasNull = sub.agg(
      max(col("k").isNull.cast("long")).as("has_null"))
    val base = c.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_cust"))
    val ne = c.join(broadcast(clean), col("c_custkey") === col("k"),
        "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_ne"))
    base.join(ne, Seq("c_mktsegment"), "left")
      .crossJoin(broadcast(hasNull))
      .select(col("c_mktsegment"), col("n_cust"),
        coalesce(col("n_ne"), lit(0L)).as("n_not_exists"),
        coalesce(col("n_ne"), lit(0L)).as("n_not_in_clean"),
        when(col("has_null") === 1L, lit(0L))
          .otherwise(coalesce(col("n_ne"), lit(0L))).as("n_not_in_dirty"))
      .orderBy(col("c_mktsegment"))
  }

  /** Peak session CONCURRENCY per day — the SWEEP-LINE answer to interval
    * overlap counting: sessions (same derivation as [[eventsSessionize]],
    * intra-day ones) become ±1 boundary points, a day-partitioned running
    * sum is the number of simultaneously-open sessions at every instant,
    * and its per-day max is the peak. The naive form self-joins intervals
    * on overlap — |sessions|² per day at 100 TB; the sweep is one window
    * over 2 rows per session. Ties are totally ordered (starts before
    * ends at the same instant — touching sessions count as concurrent —
    * then user/session), so the running sum is deterministic. */
  val eventsConcurrency: Q = (s, d) => {
    val wu = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessions = T.events(s, d)
      .filter(col("user_id") % 5 === 0)
      .withColumn("prev_ts", lag(col("ts"), 1).over(wu))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L)
          .otherwise(0L))
      .withColumn("session_no", sum(col("is_new")).over(wu))
      .groupBy(col("user_id"), col("session_no"))
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
      .filter(to_date(col("st")) === to_date(col("en"))) // intra-day only
    val pts = sessions.select(to_date(col("st")).as("day"),
        col("st").as("t"), lit(1L).as("delta"), lit(0).as("tie"),
        col("user_id"), col("session_no"))
      .unionByName(sessions.select(to_date(col("st")).as("day"),
        col("en").as("t"), lit(-1L).as("delta"), lit(1).as("tie"),
        col("user_id"), col("session_no")))
    val wd = Window.partitionBy(col("day"))
      .orderBy(col("t"), col("tie"), col("user_id"), col("session_no"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts.withColumn("active", sum(col("delta")).over(wd))
      .groupBy(col("day"))
      .agg(max(col("active")).as("peak_concurrent"),
        sum(when(col("tie") === 0, 1L).otherwise(0L)).as("n_sessions"))
      .orderBy(col("day"))
  }

  /** Explicitly SALTED shuffle join — the join-side companion of
    * [[aggSalted]]'s skew recipe: the fact side gets a deterministic salt
    * in [0,16), the dimension side is replicated 16× (explode over
    * `sequence`), and the equi join runs on (suppkey, salt) — a hot
    * supplier key spreads over 16 reducers instead of melting one. The
    * `shuffle_hash` hint keeps the demo honest: a broadcast would erase
    * the very shuffle being salted (and at 100 TB a replicated dimension
    * exceeds any broadcast threshold). Result is provably the plain
    * join — each fact row meets exactly the one replica whose salt
    * matches — which is what the oracle checks. */
  val joinSkewSalted: Q = (s, d) => {
    val nSalt = 16
    val fact = T.lineitem(s, d)
      .select(col("l_suppkey"), col("l_quantity"),
        pmod(col("l_orderkey"), lit(nSalt)).as("salt"))
    val dim = T.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"),
        explode(sequence(lit(0), lit(nSalt - 1))).as("salt"))
    fact.join(dim.hint("shuffle_hash"),
        fact("l_suppkey") === dim("s_suppkey") && fact("salt") === dim("salt"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("s_nationkey"))
  }

  /** Deterministic per-group RESERVOIR sample — k=5 orders per status,
    * ranked by the portable md5-prefix hash ([[graft.expr.Md5Prefix48]])
    * and kept via the bounded-heap [[graft.expr.TopKAgg]] (ord =
    * negated hash, so "best" = smallest hash = uniform sample). The
    * shuffle carries ≤ k rows per (group × map task) with map-side
    * merge — nothing is ever fully sorted — where the `row_number`
    * window form (the oracle's spelling) sorts every group's entire
    * payload. Hash-rank sampling is the training-data sampler that is
    * stable under re-runs, partition counts, and engines. */
  val sampleReservoir: Q = (s, d) =>
    T.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(graft.expr.TopKAgg.topk(5)(
        negate(graft.expr.Md5Prefix48.md548(col("o_orderkey").cast("string"))
          .cast("double")),
        col("o_orderkey")).as("tk"))
      .select(col("o_orderstatus"), posexplode(col("tk")))
      .select(col("o_orderstatus"), (col("pos") + 1).cast("long").as("rnk"),
        col("col._2").as("o_orderkey"))
      .orderBy(col("o_orderstatus"), col("rnk"))

  /** Per-group ordinary-least-squares TREND (slope + intercept of order
    * totalprice over time): one two-phase hash aggregate collecting the
    * five exact moments (n, Σx, Σy, Σxy, Σx²) — x is the epoch DAY (a
    * bounded integer), y rides exactly in integer cents — then one fixed IEEE
    * double sequence per group computes slope/intercept, the same
    * moment algebra as [[aggZscore]], bit-identical across engines and
    * partition counts. The 100 TB shape: a regression per group costs
    * exactly one map-side-combined aggregate, never a sort or a second
    * pass; built-in `regr_slope` streams doubles in shuffle order and
    * is NOT reproducible at scale. */
  val aggLinreg: Q = (s, d) => {
    // x = epoch DAY as an integer date difference; y scaled ×100 into a
    // BIGINT (2-decimal prices are exact in cents). EVERY moment is an
    // int64: int64→double casts are correctly rounded in both engines,
    // where DuckDB's DECIMAL→DOUBLE cast (scaled-int ÷ 1e8 in double) is
    // off by an ulp often enough to break the hash match.
    val xs = datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
    val y100 = (round(col("o_totalprice").cast("decimal(28,8)"), 2) * 100)
      .cast("long")
    T.orders(s, d)
      .select(col("o_orderstatus"), xs.as("x"), y100.as("y100"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx_i"),
        sum(col("y100")).as("sy_i"),
        sum(col("x") * col("y100")).as("sxy_i"),
        sum(col("x") * col("x")).as("sxx_i"))
      .select(Seq(col("o_orderstatus"), col("n")) ++ {
        val nd = col("n").cast("double")
        val sx = col("sx_i").cast("double")
        val sy1 = col("sy_i").cast("double")
        val sxy1 = col("sxy_i").cast("double")
        val sxx = col("sxx_i").cast("double")
        val slope100 = (nd * sxy1 - sx * sy1) / (nd * sxx - sx * sx)
        Seq((slope100 / lit(100.0)).as("slope"),
          (((sy1 - slope100 * sx) / nd) / lit(100.0)).as("intercept"))
      }: _*)
      .orderBy(col("o_orderstatus"))
  }

  /** GAPS-AND-ISLANDS: per-user consecutive-day activity streaks — the
    * engagement metric behind "7-day streak" badges and churn features.
    * The classic anchor trick: distinct active days per user, row_number
    * along the day order, `day - rn` is CONSTANT exactly on a run of
    * consecutive days, so grouping by that anchor date recovers each
    * maximal island without any self-join or iterative pass. Two
    * aggregations and one window, all partitioned by user — per-user
    * state is bounded by that user's distinct days, and the distinct,
    * the window and both groupBys reuse the SAME hash partitioning on
    * user_id (one Exchange total). All-integer/date arithmetic — exact
    * across engines. */
  val eventsStreak: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    T.events(s, d)
      .select(col("user_id"), col("ts").cast("date").as("day"))
      // one explicit user_id shuffle up front: hashpartitioning(user_id)
      // satisfies the clustering of the (user_id, day) distinct, the
      // window, and both downstream groupBys — so the whole gaps-and-
      // islands pipeline runs on a SINGLE Exchange (PlanSpec pins it)
      .repartition(col("user_id"))
      .distinct()
      .withColumn("anchor",
        date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("anchor"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_streaks"),
        sum(col("len")).as("active_days"),
        max(col("len")).as("longest_streak"))
      .orderBy(col("user_id"))
  }

  /** ARGMAX / ARGMIN aggregates — `max_by`/`min_by`: which order was each
    * status's most (and least) expensive, in ONE hash aggregate. The
    * ordering key is a (price, orderkey) struct so ties resolve
    * deterministically (max side → larger key, min side → smaller key),
    * which is what makes an argmax reproducible at all across engines and
    * partition counts. The 100 TB contrast is the oracle's own spelling:
    * a row_number window that SORTS every group's full payload to keep
    * one row — max_by carries a single (value, arg) pair per group
    * through a map-side-combined aggregate instead. */
  val aggArgmax: Q = (s, d) =>
    T.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        max_by(col("o_orderkey"),
          struct(col("o_totalprice"), col("o_orderkey"))).as("top_key"),
        round(max(col("o_totalprice")), 2).as("top_price"),
        min_by(col("o_orderkey"),
          struct(col("o_totalprice"), col("o_orderkey"))).as("bottom_key"),
        round(min(col("o_totalprice")), 2).as("bottom_price"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))

  /** INTERVAL-OVERLAP join — sessions × audit windows (two fixed daily
    * windows, 10:00–14:00 and 18:00–20:00): how many sessions, and how
    * many distinct users, were active during each window. The scalable
    * shape for "which intervals overlap": both sides carry a DAY bucket
    * (sessions here are intra-day, windows are by construction), so the
    * overlap join is an EQUI join on day with the `start < wEnd AND
    * end >= wStart` band as a residual filter — never a nested-loop over
    * unbounded intervals. The window table is bounded (2/day) and
    * broadcasts; empty windows are restored by a second tiny broadcast
    * join against the aggregated counts, so the fact side streams through
    * exactly one scan. Same session derivation as [[eventsSessionize]].  */
  val joinInterval: Q = (s, d) => {
    val wu = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessions = T.events(s, d)
      .filter(col("user_id") % 5 === 0)
      .withColumn("prev_ts", lag(col("ts"), 1).over(wu))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L)
          .otherwise(0L))
      .withColumn("session_no", sum(col("is_new")).over(wu))
      .groupBy(col("user_id"), col("session_no"))
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
      .filter(to_date(col("st")) === to_date(col("en"))) // intra-day only
      .withColumn("day", to_date(col("st")))
    val wins = T.events(s, d)
      .select(to_date(col("ts")).as("day")).distinct()
      .select(col("day"), explode(array(lit(1), lit(2))).as("w_id"))
      .withColumn("w_start", expr(
        "CAST(day AS TIMESTAMP) + CASE WHEN w_id = 1 THEN INTERVAL 10 HOURS ELSE INTERVAL 18 HOURS END"))
      .withColumn("w_end", expr(
        "CAST(day AS TIMESTAMP) + CASE WHEN w_id = 1 THEN INTERVAL 14 HOURS ELSE INTERVAL 20 HOURS END"))
    val hits = sessions.join(broadcast(wins), Seq("day"))
      .filter(col("st") < col("w_end") && col("en") >= col("w_start"))
      .groupBy(col("day"), col("w_id"))
      .agg(count(lit(1)).as("ns"), countDistinct(col("user_id")).as("nu"))
    wins.select(col("day"), col("w_id"))
      .join(broadcast(hits), Seq("day", "w_id"), "left")
      .select(col("day"), col("w_id"),
        coalesce(col("ns"), lit(0L)).as("n_sessions"),
        coalesce(col("nu"), lit(0L)).as("n_users"))
      .orderBy(col("day"), col("w_id"))
  }

  /** Runtime BLOOM-FILTER join pruning — the dynamic-filtering shape
    * (Spark's row-level runtime filters, Trino/Presto dynamic filters,
    * the semi-join reducer of Bernstein & Chiu, JACM 1981) as a declared
    * first-class operator. The build side aggregates the filtered
    * dimension's key set into one mergeable [[graft.expr.BloomFilterAgg]]
    * value (2¹⁷ bits + 5 hashes here; ~10 bits/key at a 1% FPR in
    * general); that 1-row sketch broadcasts to every fact scan task,
    * where the codegen'd [[graft.expr.BloomMightContain]] probe drops
    * non-joining fact rows MAP-SIDE — before the join shuffle ever forms.
    * At 100 TB this is the pattern that makes a selective dim-filtered
    * fact join affordable when the dim is too big to broadcast whole: the
    * shuffle carries only probable matches (selectivity ~1/5 here, often
    * 1/1000s in practice), and the `shuffle_hash` hint keeps the exact
    * join a shuffle join so the pruning is doing real work. Lossless by
    * construction: a Bloom filter has no false negatives, and false
    * positives die in the exact join — the oracle is the PLAIN join. */
  val joinBloom: Q = (s, d) => {
    val dim = T.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"))
    val bloom = dim.agg(
      graft.expr.Bloom.agg(col("c_custkey"), 1 << 17, 5).as("bf"))
    val pruned = T.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .join(broadcast(bloom)) // 1-row broadcast: the runtime filter
      .filter(graft.expr.Bloom.mightContain(col("bf"), col("o_custkey")))
      .drop("bf")
    pruned
      .join(dim.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Conditional-aggregation pack — the SQL `FILTER (WHERE …)` family:
    * per-status conditional counts, a conditional exact revenue sum
    * (`dsum` over a `when` with no otherwise → nulls drop out of the
    * sum), and the boolean quantifier aggregates `bool_and`/`bool_or`.
    * One two-phase hash aggregate, map-side partials for every column —
    * conditional aggregation costs nothing extra at 100 TB because the
    * predicate evaluates in the partial-agg projection, not in a
    * separate pass. */
  val aggConditional: Q = (s, d) => {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    T.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        count(when(high, 1)).as("n_high"),
        dsum(when(high, col("o_totalprice"))).as("high_value"),
        bool_and(col("o_totalprice") > 0).as("all_positive"),
        bool_or(col("o_orderpriority") === "1-URGENT").as("any_urgent"))
      .orderBy(col("o_orderstatus"))
  }

  /** Rolling anomaly detection — the monitoring query every event
    * pipeline runs: per-type daily counts, a trailing 7-day baseline
    * (mean/variance over `ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING`),
    * flag days whose count deviates > 3σ. The 3σ test is evaluated in
    * PURE INTEGER arithmetic — `(k·x − S)² > 9·(k·SS − S²)` is the exact
    * algebraic form of `(x−μ)² > 9σ²` scaled by k² — so the flag is
    * bit-portable with no float rounding anywhere. One shuffle to the
    * daily grain, one window sort per type partition; at 100 TB the
    * daily pre-aggregation collapses the input to (types × days) rows
    * before the window ever runs. */
  val eventsAnomaly: Q = (s, d) => {
    val daily = T.events(s, d)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-7, -1)
    daily
      .withColumn("prev_days", count(lit(1)).over(w))
      .withColumn("prev_sum", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("prev_ss",
        coalesce(sum(col("n") * col("n")).over(w), lit(0L)))
      .withColumn("dev", col("prev_days") * col("n") - col("prev_sum"))
      .withColumn("is_anomaly", col("prev_days") >= 3 &&
        col("dev") * col("dev") > lit(9L) *
          (col("prev_days") * col("prev_ss") - col("prev_sum") * col("prev_sum")))
      .select(col("event_type"), col("day"), col("n"),
        col("prev_days"), col("prev_sum"), col("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  /** MARKOV CHAIN over per-user event sequences — the predictive model
    * [[eventsPath]]'s raw pair counts feed: the row-normalized transition
    * matrix P(next | prev) = n(prev→next) / Σ n(prev→·), plus the
    * Chapman-Kolmogorov TWO-STEP matrix P²(a→c) = Σ_b P(a→b)·P(b→c)
    * ("where is this user two events from now") computed by a self-join
    * on the mid state.
    *
    * Float discipline: each 1-step probability rounds to 6 decimals and
    * is held as DECIMAL(10,6); the P² products (DECIMAL exact) then sum
    * order-independently — a double Σ of products would vary with the
    * join's partition order.
    *
    * 100 TB shape: one shuffle on user_id for the lag window (per-user
    * sequences are bounded), one shuffle on the (prev, next) pair; from
    * there everything — normalizing window, matrix self-join — runs on
    * the MODEL-sized |event_types|² table, so the quadratic step never
    * touches row-scale data. */
  val eventsTransition: Q = (s, d) => {
    val counts = Graph.transitions(T.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type")))
    val wRow = Window.partitionBy(col("prev"))
    val p1 = counts
      .select(col("prev").as("from_type"), col("event_type").as("to_type"),
        col("n"),
        round(col("n").cast("double")
          / sum(col("n")).over(wRow).cast("double"), 6)
          .cast("decimal(10,6)").as("p"))
    val p2 = p1.as("a").join(p1.as("b"), col("a.to_type") === col("b.from_type"))
      .groupBy(col("a.from_type").as("from_type"),
        col("b.to_type").as("to_type"))
      .agg(sum(col("a.p") * col("b.p")).as("pp"))
      .select(col("from_type"), col("to_type"),
        round(col("pp").cast("double"), 6).as("p2"))
    p1.join(p2, Seq("from_type", "to_type"), "left")
      .select(col("from_type"), col("to_type"), col("n"),
        col("p").cast("double").as("p"), col("p2"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Gini coefficient of order value per order status — the inequality /
    * concentration audit (is revenue dominated by a few whale orders?).
    * Rank form: G = (2·Σᵢ rᵢ·xᵢ − (n+1)·Σᵢ xᵢ) / (n·Σᵢ xᵢ) with ranks
    * 1..n ascending by value. row_number's tie order is nondeterministic
    * between engines, but Σ r·x is INVARIANT under permutations within a
    * tie group (equal x), so the result is still exact: both Σ terms
    * accumulate in DECIMAL and only the final ratio divides in double.
    * Ranks multiply as DECIMAL(19,0) — the full BIGINT range, so the
    * rank-sum stays exact past 10^10 rows per group (a DECIMAL(10,0)
    * cast would silently null there); the (20,2)×(19,0) product is
    * DECIMAL(38,2) in both engines.
    *
    * 100 TB shape: ranking is a per-group EXTERNAL SORT (row_number
    * window — spills, memory-bounded), the sums are an ordinary hash
    * aggregate; nothing holds a group's payload in one buffer. */
  val aggGini: Q = (s, d) => {
    val o = T.orders(s, d).select(col("o_orderstatus"), col("o_totalprice"))
    val w = Window.partitionBy(col("o_orderstatus")).orderBy(col("o_totalprice"))
    o.withColumn("r", row_number().over(w).cast("long"))
      .withColumn("xd", col("o_totalprice").cast("decimal(20,2)"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("xd")).as("t"),
        sum(col("xd") * col("r").cast("decimal(19,0)")).as("sv"))
      .select(col("o_orderstatus"), col("n"),
        round((lit(2.0) * col("sv").cast("double")
            - (col("n") + 1L).cast("double") * col("t").cast("double"))
          / (col("n").cast("double") * col("t").cast("double")), 6).as("gini"))
      .orderBy(col("o_orderstatus"))
  }

  /** SEASONAL-NAIVE forecast with rolling backtest — the capacity-planning
    * primitive over the daily event grid: the model predicts each day's
    * per-type count as the count 7 days earlier (same weekday), the
    * BACKTEST scores that prediction on every observed day (MAE), and the
    * next-day forecast reads the count at max_day − 6. Same-weekday joins
    * are by DATE ARITHMETIC on an equi-key, not row offsets — a lag(7)
    * over rows silently breaks on gap days.
    *
    * 100 TB shape: raw volume reduces to the (type, day) grid in the
    * first aggregate; the prediction join, scoring, and forecast lookup
    * all run on the grid (|types|·|days| rows) — the `events_path`/
    * `agg_retention` reduce-first rule. */
  val eventsForecast: Q = (s, d) => {
    val daily = T.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val pred = daily.select(col("event_type"),
      date_add(col("day"), 7).as("day"), col("n").as("pred"))
    val mae = daily.join(pred, Seq("event_type", "day"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        round(sum(abs(col("n") - col("pred"))).cast("double")
          / count(lit(1)).cast("double"), 6).as("mae"))
    val maxd = daily.groupBy(col("event_type")).agg(max(col("day")).as("maxd"))
    val fc = daily.join(maxd, Seq("event_type"))
      .filter(col("day") === date_sub(col("maxd"), 6))
      .select(col("event_type"), col("n").as("forecast_next"))
    mae.join(fc, Seq("event_type"), "left").orderBy(col("event_type"))
  }

  /** WELCH's t-test between two user cohorts (the A/B-test readout): per
    * event type, cohort = user_id mod 2, the unequal-variance t statistic,
    * Welch–Satterthwaite degrees of freedom, and the α=0.05 significance
    * flag. All six moments (n, Σv, Σv² per cohort) ride ONE two-phase
    * conditional hash aggregate (the [[aggConditional]] shape — no
    * cohort split, no self-join); the statistics are a fixed IEEE double
    * sequence over the exact decimal moments ([[aggStats]] discipline),
    * and the flag tests the ROUNDED t so the decision is engine- and
    * partition-invariant. */
  val aggAbTest: Q = (s, d) => {
    def sd(c: Column) = sum(c.cast("decimal(28,8)"))
    val e = T.events(s, d).select(col("event_type"),
      (col("user_id") % 2).as("g"), col("value"))
    val m = e.groupBy(col("event_type")).agg(
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
    val se2 = v1 / n1 + v2 / n2
    val t = (sx1 / n1 - sx2 / n2) / sqrt(se2)
    val dfW = se2 * se2 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
      + (v2 / n2) * (v2 / n2) / (n2 - 1))
    m.select(col("event_type"), col("n1"), col("n2"),
      round(sx1 / n1 - sx2 / n2, 6).as("mean_diff"),
      round(t, 6).as("t_stat"),
      round(dfW, 2).as("df"),
      (abs(round(t, 6)) > lit(1.96)).as("significant"))
      .orderBy(col("event_type"))
  }

  /** SEQUENCE-PATTERN matching over per-user journeys — the CEP /
    * MATCH_RECOGNIZE shape ([[eventsFunnel]] tests ONE fixed ordered
    * path; this matches arbitrary REGULAR EXPRESSIONS over the event
    * alphabet): each user's journey compresses to a string of event-type
    * initials (c/e/p/s/v — distinct by construction) in (ts, event_id)
    * order, and three behavioral patterns are counted per user in one
    * pass — signup→eventual purchase, ≥2-error burst, view→purchase
    * with only clicks/errors between. Patterns stay in the
    * leftmost-greedy common subset where Java regex and RE2 agree.
    *
    * 100 TB shape: ONE shuffle on user_id builds every journey
    * (per-user strings are session-bounded); all three patterns evaluate
    * per-row on that pass (no per-pattern rescan), and the result
    * crosses the final exchange as |patterns| rows via stack. */
  val eventsPattern: Q = (s, d) => {
    val j = T.events(s, d)
      .groupBy(col("user_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))),
        x => substring(x.getField("event_type"), 1, 1)), "").as("journey"))
    val perUser = j.select(
      size(expr("regexp_extract_all(journey, 's.*p', 0)")).as("m1"),
      size(expr("regexp_extract_all(journey, 'ee+', 0)")).as("m2"),
      size(expr("regexp_extract_all(journey, 'v[ce]*p', 0)")).as("m3"))
    val one = perUser.agg(
      count(lit(1)).as("total"),
      sum(when(col("m1") > 0, 1L).otherwise(0L)).as("u1"),
      sum(col("m1").cast("long")).as("c1"),
      sum(when(col("m2") > 0, 1L).otherwise(0L)).as("u2"),
      sum(col("m2").cast("long")).as("c2"),
      sum(when(col("m3") > 0, 1L).otherwise(0L)).as("u3"),
      sum(col("m3").cast("long")).as("c3"))
    one.select(expr(
      """stack(3,
        |  'error_burst', u2, c2,
        |  'signup_to_purchase', u1, c1,
        |  'view_to_purchase_direct', u3, c3) AS (pattern, n_users, n_matches)
        |""".stripMargin),
      col("total"))
      .select(col("pattern"), col("n_users"), col("n_matches"),
        round(col("n_users").cast("double") / col("total").cast("double"), 6)
          .as("share"))
      .orderBy(col("pattern"))
  }

  /** GRID-BLOCKED SPATIAL JOIN — the distributed point-in-region join
    * (the GeoSpark/Sedona partitioning shape, reduced to its relational
    * core): points and query rectangles both map to fixed 0.1-wide grid
    * CELLS — a rectangle explodes to every cell it overlaps (≤ 9 here),
    * a point to exactly one — candidates come from the cell EQUI-join,
    * and exact containment verifies. Never point × region. Coordinates
    * derive from the engine's portable 48-bit hash scaled by 2⁻⁴⁸
    * (division by a power of two — exact in IEEE, so both engines hold
    * bit-identical doubles); zones are nation-derived 0.16×0.16
    * rectangles. Per zone: matched-point count + exact decimal revenue.
    *
    * 100 TB shape: the zone-cell table is |zones|·9 rows → BROADCAST;
    * the point side never shuffles for the join (cell id is a map-side
    * projection), and only the per-zone aggregate crosses an exchange.
    * Finer grids trade replication (more cells per zone) against
    * candidate precision — the standard spatial-partitioning dial. */
  val joinSpatial: Q = (s, d) => {
    val h = graft.expr.Md5Prefix48.md548 _
    val two48 = math.pow(2.0, 48)
    val pts = T.orders(s, d).select(col("o_orderkey"), col("o_totalprice"),
      (h(concat(col("o_orderkey"), lit("x"))).cast("double") / two48).as("x"),
      (h(concat(col("o_orderkey"), lit("y"))).cast("double") / two48).as("y"))
    val zones = T.nation(s, d).select(col("n_nationkey"), col("n_name"),
        (h(col("n_name")).cast("double") / two48).as("cx"),
        (h(concat(col("n_name"), lit("y"))).cast("double") / two48).as("cy"))
      .select(col("n_nationkey"), col("n_name"),
        (col("cx") - 0.08).as("x0"), (col("cx") + 0.08).as("x1"),
        (col("cy") - 0.08).as("y0"), (col("cy") + 0.08).as("y1"))
    val zoneCells = zones.select(col("n_nationkey"), col("x0"), col("x1"),
        col("y0"), col("y1"),
        explode(expr("""flatten(transform(
          sequence(int(floor(x0 * 10)), int(floor(x1 * 10))),
          cx -> transform(
            sequence(int(floor(y0 * 10)), int(floor(y1 * 10))),
            cy -> cx * 100 + cy)))""")).as("cell"))
    val ptCells = pts.withColumn("cell",
      (floor(col("x") * 10) * 100 + floor(col("y") * 10)).cast("int"))
    ptCells.join(broadcast(zoneCells), Seq("cell"))
      .filter(col("x") >= col("x0") && col("x") <= col("x1") &&
        col("y") >= col("y0") && col("y") <= col("y1"))
      .groupBy(col("n_nationkey"))
      .agg(count(lit(1)).as("n_pts"),
        graft.core.Numeric.dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("n_nationkey"))
  }

  /** OHLC BARS — the time-series bar aggregation every telemetry /
    * financial pipeline runs (candlesticks, but for any value stream):
    * per (type, day) the first value (open), extremes (high/low), last
    * value (close), event count (volume) and exact decimal total. Open/
    * close are `min_by`/`max_by` over the (ts, event_id) struct — a
    * single (value, key) pair of aggregate state per group, never a
    * sort; ties are impossible by the event_id tiebreak. Raw stored
    * doubles pass through untouched (no arithmetic → no rounding
    * needed); only the total goes through the decimal-sum discipline.
    *
    * 100 TB shape: ONE two-phase hash aggregate — partials combine
    * map-side, the shuffle carries |types|·|days| grid rows of fixed
    * state. The window/row_number spelling of first/last would sort
    * every group; the argmin/argmax spelling is O(1) state. */
  val aggOhlc: Q = (s, d) =>
    T.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("volume"),
        dsum(col("value")).as("total"))
      .orderBy(col("event_type"), col("day"))

  /** RFM SEGMENTATION — the classic customer-value grid (recency /
    * frequency / monetary): per purchasing user, days since last
    * purchase, purchase count, exact decimal spend; each metric scores
    * 1–5 by FIXED THRESHOLD BANDS, users aggregate into (r, f, m)
    * segments. Fixed bands — not ntile quantiles — deliberately: the
    * quantile spelling needs a GLOBAL total order (a partition-less
    * window, the one plan shape this engine bans at scale), while
    * threshold bands are a pure per-row projection a pipeline owner
    * recalibrates from a separate profile query.
    *
    * 100 TB shape: one user-keyed aggregate (event volume → user grid),
    * one map-side banding projection, one segment-keyed aggregate over
    * ≤ 125 segment rows. The max-date scalar broadcasts. */
  val eventsRfm: Q = (s, d) => {
    val e = T.events(s, d)
    val maxd = e.agg(max(to_date(col("ts"))).as("dmax"))
    val per = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("f"),
        dsum(col("value")).as("m"))
      .crossJoin(broadcast(maxd))
      .select(col("user_id"),
        datediff(col("dmax"), col("last_day")).cast("long").as("r"),
        col("f"), col("m"))
    per.select(col("user_id"), col("m"),
        (lit(5L) - least(lit(4L), expr("r DIV 3"))).as("r_score"),
        least(lit(5L), lit(1L) + expr("f DIV 5")).as("f_score"),
        least(lit(5L), lit(1L) + floor(col("m") / 300.0).cast("long"))
          .as("m_score"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"), dsum(col("m")).as("segment_value"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  /** BENFORD first-digit audit — the fraud/quality screen over a value
    * column: observed first-significant-digit shares of o_totalprice
    * against the Benford expectation log10(1 + 1/d), with each digit's
    * χ² contribution. Synthetic TPC-H prices are nowhere near Benford —
    * which is exactly what the audit is for: surfacing a distribution
    * that doesn't look organically generated. All counts exact; the
    * expectation and χ² terms are fixed IEEE expressions, rounded.
    *
    * 100 TB shape: one two-phase hash aggregate on a 9-value key. */
  val aggBenford: Q = (s, d) => {
    val digit = substring(floor(col("o_totalprice")).cast("long")
      .cast("string"), 1, 1)
    val n = T.orders(s, d).agg(count(lit(1)).as("n_total"))
    val exp = log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
      log(lit(10.0))
    T.orders(s, d).select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(n))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("n_total").cast("double"), 6)
          .as("obs_share"),
        round(exp, 6).as("exp_share"),
        round((col("n").cast("double") / col("n_total").cast("double") - exp)
          * (col("n").cast("double") / col("n_total").cast("double") - exp)
          / exp * col("n_total").cast("double"), 4).as("chi2_term"))
      .orderBy(col("digit"))
  }

  /** SEQUENCE-LIKELIHOOD anomaly detection — [[eventsTransition]]'s
    * Markov model turned into a detector: each user's observed
    * transitions score ln P(next | prev) under the corpus 1-step matrix
    * (the DECIMAL(10,6) probabilities — bit-identical in both engines),
    * the per-user mean log-likelihood uses the exact integer-micro
    * rounding of [[graft.ops.LlmPipeline.textUnigramLm]], and users
    * below the tuned threshold flag as behavioral anomalies (bot /
    * broken-client detection). Probabilities floor at 1e-6 (one ulp of
    * the DECIMAL(10,6) grid) before the log: a transition whose true
    * conditional probability rounds to 0.000000 — reachable once a
    * prev-type total exceeds ~2M rows — would otherwise score
    * ln(0) = -Inf, where Spark and DuckDB -Inf/NULL semantics diverge;
    * the floor caps any single transition's penalty at ln(1e-6) in both
    * engines, documented as part of the scoring contract.
    *
    * 100 TB shape: the transition matrix is |types|² rows → BROADCAST;
    * scoring is map-side against the lag stream; one user_id shuffle
    * for the mean. */
  val eventsSeqAnomaly: Q = (s, d) => {
    val seq0 = Graph.transitionSteps(T.events(s, d))
      .select(col("user_id"), col("prev"), col("event_type"))
    val counts = seq0.groupBy(col("prev"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val wRow = Window.partitionBy(col("prev"))
    val p1 = counts.select(col("prev"), col("event_type"),
      round(col("n").cast("double")
        / sum(col("n")).over(wRow).cast("double"), 6)
        .cast("decimal(10,6)").as("p"))
    seq0.join(broadcast(p1), Seq("prev", "event_type"))
      .select(col("user_id"),
        round(log(greatest(col("p").cast("double"), lit(1e-6))), 8)
          .cast("decimal(20,8)").as("lp"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_trans"),
        (sum(col("lp")) * 100000000L).cast("long").as("s8"))
      .withColumn("mean_micro", expr(
        """CASE WHEN s8 >= 0 THEN (s8 * 2 + n_trans * 100) DIV (n_trans * 200)
          |     ELSE -((-s8 * 2 + n_trans * 100) DIV (n_trans * 200)) END""".stripMargin))
      .select(col("user_id"), col("n_trans"),
        (col("mean_micro").cast("double") / 1e6).as("mean_logp"))
      .withColumn("anomalous", col("mean_logp") < lit(-1.614))
      .orderBy(col("user_id"))
  }

  /** DAY-OF-WEEK SEASONALITY profile — the seasonal index
    * [[eventsForecast]]'s same-weekday model implicitly assumes, made
    * explicit: per (type, weekday) the event count, the share of the
    * type's volume, and the seasonal INDEX share·7 (1.0 = flat; the
    * capacity-planning multiplier). Exact counts; one double division
    * per cell, rounded. Weekday numbering pinned to Sunday=0 (Spark's
    * dayofweek is 1-based, DuckDB's 0-based — the subtraction is the
    * dialect bridge).
    *
    * 100 TB shape: one two-phase hash aggregate to the |types|·7 grid;
    * the per-type totals join ON the grid. */
  val aggSeasonality: Q = (s, d) => {
    val grid = T.events(s, d)
      .groupBy(col("event_type"),
        (dayofweek(to_date(col("ts"))) - 1).cast("long").as("dow"))
      .agg(count(lit(1)).as("n"))
    val totals = grid.groupBy(col("event_type")).agg(sum(col("n")).as("nt"))
    grid.join(totals, "event_type")
      .select(col("event_type"), col("dow"), col("n"),
        round(col("n").cast("double") / col("nt").cast("double"), 6)
          .as("share"),
        round(col("n").cast("double") / col("nt").cast("double") * 7.0, 4)
          .as("seasonal_index"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** PERIOD-OVER-PERIOD GROWTH — the day-over-day and week-over-week
    * deltas every metrics dashboard leads with ([[aggOhlc]] reports the
    * day's shape, [[aggSeasonality]] the weekly profile; this reports
    * CHANGE): per event type, daily exact-decimal value (dsum), then
    * lag-1 and lag-7 percent changes over the type-partitioned day
    * window — NULL where the comparison period is missing or zero, never
    * a fabricated 0%.
    *
    * 100 TB shape: the corpus folds map-side onto the (type × day) grid;
    * both lags ride ONE model-sized window. */
  val aggPeriodGrowth: Q = (s, d) => {
    val daily = T.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("rev"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("prev1", lag(col("rev"), 1).over(w))
      .withColumn("prev7", lag(col("rev"), 7).over(w))
      .select(col("event_type"), col("day"), col("rev"),
        when(col("prev1") > 0,
          round((col("rev") - col("prev1")) / col("prev1"), 6)).as("dod_pct"),
        when(col("prev7") > 0,
          round((col("rev") - col("prev7")) / col("prev7"), 6)).as("wow_pct"))
      .orderBy(col("event_type"), col("day"))
  }

  /** CLASSICAL ADDITIVE DECOMPOSITION (STL-lite) — value = trend +
    * seasonal + residual, the monitoring split run before alarming on a
    * raw series ([[aggSeasonality]] profiles the weekly shape,
    * [[eventsAnomaly]] flags z-outliers; this SEPARATES the components so
    * each can be judged alone): per type, daily exact-decimal value;
    * trend = 7-day centered moving average over a RANGE frame keyed on
    * the epoch-day index (full CALENDAR windows only — a ±3-row frame
    * would silently span a wider range across a missing day yet still
    * divide by 7; the range frame sees the gap as w_n < 7 and the edge
    * drops, never extrapolates — ADVICE r9) summed as exact DECIMAL
    * inside the frame; seasonal = per weekly-phase mean of the detrended
    * series (phase = epoch-day mod 7 — pure integer, no dayofweek
    * dialect); residual = the rounded remainder.
    *
    * 100 TB shape: the corpus folds map-side to the (type × day) grid;
    * the moving window, phase means and the join-back all run on that
    * model-sized grid. */
  val eventsTrendDecompose: Q = (s, d) => {
    val daily = T.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(dsum(col("value")).as("rev"))
      .withColumn("di",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val w7 = Window.partitionBy(col("event_type")).orderBy(col("di"))
      .rangeBetween(-3, 3)
    val t = daily
      .withColumn("w_n", count(lit(1)).over(w7))
      .withColumn("trend",
        round(sum(col("rev").cast("decimal(20,8)")).over(w7).cast("double")
          / 7.0, 6))
      .filter(col("w_n") === 7)
      .withColumn("det", round(col("rev") - col("trend"), 6))
      .withColumn("phase", pmod(col("di"), lit(7L)))
    val seas = t.groupBy(col("event_type"), col("phase"))
      .agg(round(sum(col("det").cast("decimal(20,8)")).cast("double")
        / count(lit(1)).cast("double"), 6).as("seasonal"))
    t.join(broadcast(seas), Seq("event_type", "phase"))
      .select(col("event_type"), col("day"), col("rev"), col("trend"),
        col("phase"), col("seasonal"),
        round(col("rev") - col("trend") - col("seasonal"), 6).as("residual"))
      .orderBy(col("event_type"), col("day"))
  }

  /** COHORT LTV CURVE — cumulative purchase value per cohort user by day
    * age (the growth-accounting readout next to [[eventsCohort]]'s
    * retention grid: retention counts heads, LTV counts value): each
    * user joins the cohort of their first event's DAY; purchase value
    * folds to exact cents per (cohort, age) cell; the running sum over
    * age divides by the FIXED cohort head-count. Day index is the
    * integer `year*366 + dayofyear` — pure integer date math both
    * engines spell identically (age differences are exact within a
    * calendar year, which bounds the declared corpus; a multi-year
    * deployment swaps in the per-dialect date_diff with no plan change).
    *
    * 100 TB shape: first-event pass and value pass both shuffle on
    * user_id (co-located join), cells collapse map-side to the
    * |cohorts|·|ages| grid, and the cumulative window sorts only within
    * a cohort's ≤ |ages| rows — model-sized. */
  val eventsLtv: Q = (s, d) => {
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
    cells.join(sizes, "cm")
      .withColumn("cum_cents", sum(col("rev_cents")).over(w))
      .select(col("cm").as("cohort_day"), col("age"), col("cohort_users"),
        round(col("rev_cents").cast("double") / 100.0, 2).as("revenue"),
        round(col("cum_cents").cast("double") / 100.0
          / col("cohort_users").cast("double"), 6).as("cum_ltv"))
      .orderBy(col("cohort_day"), col("age"))
  }

  val queries: Map[String, Q] = Map(
    "events_ltv" -> eventsLtv,
    "agg_period_growth" -> aggPeriodGrowth,
    "events_trend_decompose" -> eventsTrendDecompose,
    "agg_seasonality" -> aggSeasonality,
    "events_rfm" -> eventsRfm,
    "events_cohort" -> eventsCohort,
    "events_features" -> eventsFeatures,
    "agg_benford" -> aggBenford,
    "events_seq_anomaly" -> eventsSeqAnomaly,
    "agg_ohlc" -> aggOhlc,
    "join_spatial" -> joinSpatial,
    "events_forecast" -> eventsForecast,
    "agg_ab_test" -> aggAbTest,
    "events_pattern" -> eventsPattern,
    "events_transition" -> eventsTransition,
    "agg_gini" -> aggGini,
    "agg_conditional" -> aggConditional,
    "events_anomaly" -> eventsAnomaly,
    "agg_salted" -> aggSalted,
    "agg_hll_sketch" -> aggHllSketch,
    "agg_stats" -> aggStats,
    "agg_mode" -> aggMode,
    "window_nav" -> windowNav,
    "agg_percentile" -> aggPercentile,
    "window_dist" -> windowDist,
    "window_range_frame" -> windowRangeFrame,
    "subq_scalar" -> subqScalar,
    "agg_pivot" -> aggPivot,
    "fn_null" -> fnNull,
    "sample_hash" -> sampleHash,
    "sample_stratified" -> sampleStratified,
    "sample_weighted" -> sampleWeighted,
    "agg_hist" -> aggHist,
    "agg_ts_gapfill" -> aggTsGapfill,
    "fn_struct" -> fnStruct,
    "merge_scd2" -> mergeScd2,
    "agg_topk" -> aggTopk,
    "agg_approx_quantile" -> aggApproxQuantile,
    "agg_bitmap" -> aggBitmap,
    "agg_zscore" -> aggZscore,
    "events_funnel" -> eventsFunnel,
    "agg_theta_sketch" -> aggThetaSketch,
    "agg_sketch_rollup" -> aggSketchRollup,
    "agg_retention" -> aggRetention,
    "events_path" -> eventsPath,
    "events_attribution" -> eventsAttribution,
    "agg_active_users" -> aggActiveUsers,
    "agg_heavy_hitters" -> aggHeavyHitters,
    "agg_count_min" -> aggCountMin,
    "agg_entropy" -> aggEntropy,
    "match_fuzzy" -> matchFuzzy,
    "events_sessionize" -> eventsSessionize,
    "meta_profile" -> metaProfile,
    "agg_decay" -> aggDecay,
    "join_skew_salted" -> joinSkewSalted,
    "sample_reservoir" -> sampleReservoir,
    "agg_linreg" -> aggLinreg,
    "events_concurrency" -> eventsConcurrency,
    "subq_exists" -> subqExists,
    "subq_notin_null" -> subqNotinNull,
    "subq_lateral" -> subqLateral,
    "events_streak" -> eventsStreak,
    "agg_argmax" -> aggArgmax,
    "join_interval" -> joinInterval,
    "join_bloom" -> joinBloom,
  )

  val oracles: Map[String, String] = Map(
    // additive decomposition on the daily grid: decimal frame sums,
    // integer phase classes, full 7-day windows only (ANSI, dual-dialect)
    // RANGE frame on the epoch-day index (not ROWS): a missing calendar
    // day must shrink the window (edge drops), not silently widen the
    // averaged span (ADVICE r9). The index is a date subtraction, which
    // both dialects accept.
    "events_trend_decompose" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |    ${graft.core.Numeric.dsumSql("value")} AS rev
         |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
         |d2 AS (
         |  SELECT event_type, day, rev,
         |    CAST(day - DATE '1970-01-01' AS BIGINT) AS di
         |  FROM daily),
         |t0 AS (
         |  SELECT event_type, day, rev, di,
         |    COUNT(*) OVER (PARTITION BY event_type ORDER BY di
         |      RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w_n,
         |    CAST(SUM(CAST(rev AS DECIMAL(20,8)))
         |      OVER (PARTITION BY event_type ORDER BY di
         |        RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE) / 7.0
         |      AS trend_raw
         |  FROM d2),
         |t AS (
         |  SELECT event_type, day, rev,
         |    CAST(round(trend_raw, 6) AS DOUBLE) AS trend,
         |    CAST(round(rev - CAST(round(trend_raw, 6) AS DOUBLE), 6)
         |      AS DOUBLE) AS det,
         |    MOD(di, 7) AS phase
         |  FROM t0 WHERE w_n = 7),
         |seas AS (
         |  SELECT event_type, phase,
         |    CAST(round(CAST(SUM(CAST(det AS DECIMAL(20,8))) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS seasonal
         |  FROM t GROUP BY event_type, phase)
         |SELECT t.event_type, t.day, t.rev, t.trend, t.phase, seas.seasonal,
         |  CAST(round(t.rev - t.trend - seas.seasonal, 6) AS DOUBLE)
         |    AS residual
         |FROM t JOIN seas
         |  ON t.event_type = seas.event_type AND t.phase = seas.phase
         |ORDER BY t.event_type, t.day""".stripMargin,

    // daily dsum grid + two lags on one window (ANSI, dual-dialect)
    "agg_period_growth" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |    ${graft.core.Numeric.dsumSql("value")} AS rev
         |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
         |lagged AS (
         |  SELECT event_type, day, rev,
         |    LAG(rev, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev1,
         |    LAG(rev, 7) OVER (PARTITION BY event_type ORDER BY day) AS prev7
         |  FROM daily)
         |SELECT event_type, day, rev,
         |  CAST(CASE WHEN prev1 > 0
         |    THEN round((rev - prev1) / prev1, 6) END AS DOUBLE) AS dod_pct,
         |  CAST(CASE WHEN prev7 > 0
         |    THEN round((rev - prev7) / prev7, 6) END AS DOUBLE) AS wow_pct
         |FROM lagged ORDER BY event_type, day""".stripMargin,

    // integer day index year*366+dayofyear keeps cohort ages
    // interval-free; cents sums exact; cumulative window per cohort
    // (ANSI, dual-dialect)
    "events_ltv" ->
      """WITH firsts AS (
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
        |cum AS (
        |  SELECT cm, age, rev_cents,
        |    CAST(SUM(rev_cents) OVER (PARTITION BY cm ORDER BY age)
        |      AS BIGINT) AS cum_cents
        |  FROM cells)
        |SELECT cum.cm AS cohort_day, cum.age, sizes.cohort_users,
        |  CAST(round(CAST(rev_cents AS DOUBLE) / 100.0, 2) AS DOUBLE)
        |    AS revenue,
        |  CAST(round(CAST(cum_cents AS DOUBLE) / 100.0
        |    / CAST(cohort_users AS DOUBLE), 6) AS DOUBLE) AS cum_ltv
        |FROM cum JOIN sizes ON cum.cm = sizes.cm
        |ORDER BY cohort_day, age""".stripMargin,
    // seasonality grid: exact counts; the share/index divisions are one
    // double op each, rounded; DuckDB dayofweek is already Sunday=0
    "agg_seasonality" ->
      """WITH grid AS (
        |  SELECT event_type,
        |    CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) AS dow,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS nt
        |        FROM grid GROUP BY event_type)
        |SELECT g.event_type, g.dow, g.n,
        |  CAST(round(CAST(g.n AS DOUBLE) / CAST(t.nt AS DOUBLE), 6)
        |    AS DOUBLE) AS share,
        |  CAST(round(CAST(g.n AS DOUBLE) / CAST(t.nt AS DOUBLE) * 7.0, 4)
        |    AS DOUBLE) AS seasonal_index
        |FROM grid g JOIN tot t ON g.event_type = t.event_type
        |ORDER BY g.event_type, g.dow""".stripMargin,

    // feature vector: conditional counts via FILTER, decimal purchase sum,
    // day arithmetic against the broadcast anchor
    "events_features" ->
      s"""WITH f AS (
         |  SELECT user_id, COUNT(*) AS n_events,
         |    COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
         |    COUNT(*) FILTER (WHERE event_type = 'view') AS n_views,
         |    COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors,
         |    MIN(CAST(ts AS DATE)) AS first_day,
         |    MAX(CAST(ts AS DATE)) AS last_day,
         |    ${dsumSql("CASE WHEN event_type = 'purchase' THEN value END")}
         |      AS pv
         |  FROM events GROUP BY user_id),
         |mx AS (SELECT MAX(CAST(ts AS DATE)) AS d1 FROM events)
         |SELECT user_id, n_events,
         |  CAST(n_purchases AS BIGINT) AS n_purchases,
         |  CAST(n_views AS BIGINT) AS n_views,
         |  CAST(n_errors AS BIGINT) AS n_errors,
         |  CAST(date_diff('day', last_day, d1) AS BIGINT) AS recency_days,
         |  CAST(date_diff('day', first_day, last_day) + 1 AS BIGINT) AS span_days,
         |  coalesce(pv, 0.0) AS purchase_value,
         |  round(CAST(n_events AS DOUBLE)
         |    / CAST(date_diff('day', first_day, last_day) + 1 AS DOUBLE), 6)
         |    AS events_per_day
         |FROM f CROSS JOIN mx ORDER BY user_id""".stripMargin,

    // cohort matrix: week truncation is Monday-based in both engines;
    // offsets are exact multiples of 7 days so // 7 is exact
    "events_cohort" ->
      """WITH firsts AS (
        |  SELECT user_id,
        |    date_trunc('week', MIN(CAST(ts AS DATE))) AS cohort_week
        |  FROM events GROUP BY user_id),
        |acts AS (
        |  SELECT DISTINCT e.user_id, f.cohort_week,
        |    date_diff('day', f.cohort_week,
        |      date_trunc('week', CAST(e.ts AS DATE))) // 7 AS week_offset
        |  FROM events e JOIN firsts f ON e.user_id = f.user_id)
        |SELECT CAST(cohort_week AS DATE) AS cohort_week,
        |  CAST(week_offset AS BIGINT) AS week_offset,
        |  COUNT(*) AS n_users
        |FROM acts GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,

    // RFM: exact metrics, fixed threshold bands (// floors — operands
    // non-negative), decimal segment totals
    "events_rfm" ->
      """WITH p AS (
        |  SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day,
        |    COUNT(*) AS f,
        |    CAST(ROUND(SUM(CAST(value AS DECIMAL(20,8))), 2) AS DOUBLE) AS m
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |mx AS (SELECT MAX(CAST(ts AS DATE)) AS dmax FROM events),
        |scored AS (
        |  SELECT user_id, m,
        |    5 - least(4, date_diff('day', last_day, dmax) // 3) AS r_score,
        |    least(5, 1 + f // 5) AS f_score,
        |    least(5, 1 + CAST(floor(m / 300.0) AS BIGINT)) AS m_score
        |  FROM p CROSS JOIN mx)
        |SELECT CAST(r_score AS BIGINT) AS r_score,
        |  CAST(f_score AS BIGINT) AS f_score,
        |  CAST(m_score AS BIGINT) AS m_score,
        |  COUNT(*) AS n_users,
        |  CAST(ROUND(SUM(CAST(m AS DECIMAL(20,8))), 2) AS DOUBLE)
        |    AS segment_value
        |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // Benford: exact digit counts; expectation written as ln/ln to match
    // the engine's log(base, x) expansion; rounds absorb libm ulps
    "agg_benford" ->
      """WITH d AS (
        |  SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
        |    1, 1) AS digit
        |  FROM orders),
        |c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
        |nt AS (SELECT COUNT(*) AS n_total FROM d)
        |SELECT digit, n,
        |  CAST(round(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
        |    AS DOUBLE) AS obs_share,
        |  CAST(round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6)
        |    AS DOUBLE) AS exp_share,
        |  CAST(round((CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
        |      - ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))
        |    * (CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
        |      - ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))
        |    / (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))
        |    * CAST(n_total AS DOUBLE), 4) AS DOUBLE) AS chi2_term
        |FROM c CROSS JOIN nt ORDER BY digit""".stripMargin,

    // sequence anomaly: DECIMAL(10,6) matrix probabilities, 8-decimal
    // log rounding, integer-micro mean — the LM scoring discipline
    "events_seq_anomaly" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events),
        |sq AS (SELECT user_id, prev, event_type FROM seq
        |       WHERE prev IS NOT NULL),
        |c AS (SELECT prev, event_type AS nxt, COUNT(*) AS n
        |  FROM sq GROUP BY prev, event_type),
        |p1 AS (SELECT prev, nxt,
        |    CAST(round(CAST(n AS DOUBLE)
        |      / CAST(SUM(n) OVER (PARTITION BY prev) AS DOUBLE), 6)
        |      AS DECIMAL(10,6)) AS p
        |  FROM c),
        |scored AS (SELECT sq.user_id,
        |    round(ln(greatest(CAST(p1.p AS DOUBLE), 0.000001)), 8) AS lp
        |  FROM sq JOIN p1 ON sq.prev = p1.prev AND sq.event_type = p1.nxt),
        |agg AS (SELECT user_id, COUNT(*) AS n_trans,
        |    CAST(SUM(CAST(lp AS DECIMAL(20,8))) * 100000000 AS BIGINT) AS s8
        |  FROM scored GROUP BY user_id),
        |mm AS (SELECT user_id, n_trans,
        |    CASE WHEN s8 >= 0 THEN (s8 * 2 + n_trans * 100) // (n_trans * 200)
        |         ELSE -((-s8 * 2 + n_trans * 100) // (n_trans * 200)) END
        |      AS micro
        |  FROM agg)
        |SELECT user_id, n_trans,
        |  CAST(micro AS DOUBLE) / 1000000.0 AS mean_logp,
        |  CAST(micro AS DOUBLE) / 1000000.0 < -1.614 AS anomalous
        |FROM mm ORDER BY user_id""".stripMargin,

    // OHLC: open/close via the row_number spelling of min_by/max_by on
    // (ts, event_id) — tie-free; raw doubles pass through, only the
    // total sums in decimal
    "agg_ohlc" ->
      s"""WITH ranked AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day, value,
         |    ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
         |      ORDER BY ts, event_id) AS ro,
         |    ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
         |      ORDER BY ts DESC, event_id DESC) AS rc
         |  FROM events)
         |SELECT event_type, day,
         |  MAX(CASE WHEN ro = 1 THEN value END) AS open,
         |  MAX(value) AS high,
         |  MIN(value) AS low,
         |  MAX(CASE WHEN rc = 1 THEN value END) AS close,
         |  COUNT(*) AS volume,
         |  ${dsumSql("value")} AS total
         |FROM ranked GROUP BY event_type, day
         |ORDER BY event_type, day""".stripMargin,

    // spatial join: the oracle verifies containment NAIVELY (grid
    // blocking is result-invariant); coordinates are md5_48 / 2^48 —
    // division by a power of two, bit-identical doubles in both engines
    "join_spatial" ->
      """WITH pts AS (SELECT o_orderkey, o_totalprice,
        |    CAST(CAST('0x' || substr(md5(o_orderkey || 'x'), 1, 12) AS BIGINT)
        |      AS DOUBLE) / 281474976710656.0 AS x,
        |    CAST(CAST('0x' || substr(md5(o_orderkey || 'y'), 1, 12) AS BIGINT)
        |      AS DOUBLE) / 281474976710656.0 AS y
        |  FROM orders),
        |zones AS (SELECT n_nationkey,
        |    CAST(CAST('0x' || substr(md5(n_name), 1, 12) AS BIGINT)
        |      AS DOUBLE) / 281474976710656.0 AS cx,
        |    CAST(CAST('0x' || substr(md5(n_name || 'y'), 1, 12) AS BIGINT)
        |      AS DOUBLE) / 281474976710656.0 AS cy
        |  FROM nation)
        |SELECT n_nationkey, COUNT(*) AS n_pts,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(20,8))), 2) AS DOUBLE)
        |    AS revenue
        |FROM pts JOIN zones
        |  ON x >= cx - 0.08 AND x <= cx + 0.08
        |  AND y >= cy - 0.08 AND y <= cy + 0.08
        |GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin,

    // seasonal naive: exact grid counts, same-weekday equi-join by date
    // arithmetic; MAE divides exact integers once in double, then rounds
    "events_forecast" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |scored AS (
        |  SELECT d.event_type, abs(d.n - p.n) AS err
        |  FROM daily d JOIN daily p ON d.event_type = p.event_type
        |    AND p.day + INTERVAL 7 DAY = CAST(d.day AS TIMESTAMP)),
        |mae AS (
        |  SELECT event_type, COUNT(*) AS n_days,
        |    CAST(round(CAST(SUM(err) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |      AS DOUBLE) AS mae
        |  FROM scored GROUP BY event_type),
        |maxd AS (SELECT event_type, MAX(day) AS maxd FROM daily
        |         GROUP BY event_type),
        |fc AS (SELECT d.event_type, d.n AS forecast_next
        |  FROM daily d JOIN maxd m ON d.event_type = m.event_type
        |    AND CAST(d.day AS TIMESTAMP) + INTERVAL 6 DAY
        |      = CAST(m.maxd AS TIMESTAMP))
        |SELECT mae.event_type, mae.n_days, mae.mae, fc.forecast_next
        |FROM mae LEFT JOIN fc ON mae.event_type = fc.event_type
        |ORDER BY mae.event_type""".stripMargin,

    // Welch's t: six exact decimal moments, then the SAME fixed IEEE
    // expression sequence as the engine; the significance flag tests the
    // ROUNDED t so the α=0.05 decision cannot flip on a libm ulp
    "agg_ab_test" ->
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
        |  SELECT event_type, n1, n2,
        |    (sxx1 - sx1 * sx1 / n1) / (n1 - 1) AS v1,
        |    (sxx2 - sx2 * sx2 / n2) / (n2 - 1) AS v2,
        |    sx1 / n1 - sx2 / n2 AS md
        |  FROM m),
        |fin AS (
        |  SELECT event_type, n1, n2, md,
        |    md / sqrt(v1 / n1 + v2 / n2) AS t,
        |    (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
        |      / ((v1 / n1) * (v1 / n1) / (n1 - 1)
        |        + (v2 / n2) * (v2 / n2) / (n2 - 1)) AS dfw
        |  FROM st)
        |SELECT event_type, n1, n2,
        |  CAST(round(md, 6) AS DOUBLE) AS mean_diff,
        |  CAST(round(t, 6) AS DOUBLE) AS t_stat,
        |  CAST(round(dfw, 2) AS DOUBLE) AS df,
        |  abs(round(t, 6)) > 1.96 AS significant
        |FROM fin ORDER BY event_type""".stripMargin,

    // CEP regex over journey strings: string_agg ORDER BY mirrors the
    // sorted-struct concat; patterns stay in the leftmost-greedy subset
    // where RE2 and Java regex agree
    "events_pattern" ->
      """WITH j AS (
        |  SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
        |      AS journey
        |  FROM events GROUP BY user_id),
        |m AS (SELECT
        |    len(regexp_extract_all(journey, 's.*p')) AS m1,
        |    len(regexp_extract_all(journey, 'ee+')) AS m2,
        |    len(regexp_extract_all(journey, 'v[ce]*p')) AS m3
        |  FROM j),
        |a AS (SELECT COUNT(*) AS total,
        |    CAST(SUM(CASE WHEN m1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS u1,
        |    CAST(SUM(m1) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN m2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS u2,
        |    CAST(SUM(m2) AS BIGINT) AS c2,
        |    CAST(SUM(CASE WHEN m3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS u3,
        |    CAST(SUM(m3) AS BIGINT) AS c3
        |  FROM m)
        |SELECT pattern, n_users, n_matches,
        |  CAST(round(CAST(n_users AS DOUBLE) / CAST(total AS DOUBLE), 6)
        |    AS DOUBLE) AS share
        |FROM (
        |  SELECT 'error_burst' AS pattern, u2 AS n_users, c2 AS n_matches,
        |    total FROM a
        |  UNION ALL
        |  SELECT 'signup_to_purchase', u1, c1, total FROM a
        |  UNION ALL
        |  SELECT 'view_to_purchase_direct', u3, c3, total FROM a)
        |ORDER BY pattern""".stripMargin,

    // Markov chain: exact pair counts; 1-step probabilities divide exact
    // BIGINTs in one double op then round to DECIMAL(10,6); the 2-step
    // Chapman-Kolmogorov products sum in exact decimal, order-free
    "events_transition" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events),
        |c AS (SELECT prev, event_type AS next, COUNT(*) AS n
        |  FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type),
        |p1 AS (SELECT prev AS from_type, next AS to_type, n,
        |    CAST(round(CAST(n AS DOUBLE)
        |      / CAST(SUM(n) OVER (PARTITION BY prev) AS DOUBLE), 6)
        |      AS DECIMAL(10,6)) AS p
        |  FROM c),
        |p2 AS (SELECT a.from_type, b.to_type,
        |    CAST(round(CAST(SUM(a.p * b.p) AS DOUBLE), 6) AS DOUBLE) AS p2
        |  FROM p1 a JOIN p1 b ON a.to_type = b.from_type
        |  GROUP BY a.from_type, b.to_type)
        |SELECT p1.from_type, p1.to_type, p1.n,
        |  CAST(p1.p AS DOUBLE) AS p, p2.p2
        |FROM p1 LEFT JOIN p2 ON p1.from_type = p2.from_type
        |  AND p1.to_type = p2.to_type
        |ORDER BY p1.from_type, p1.to_type""".stripMargin,

    // Gini rank form: both Σ terms exact DECIMAL (rank·value products in
    // DECIMAL(31,2)); the final ratio is one fixed double expression
    "agg_gini" ->
      """WITH ranked AS (
        |  SELECT o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(20,2)) AS xd,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice) AS BIGINT) AS r
        |  FROM orders),
        |agg AS (SELECT o_orderstatus, COUNT(*) AS n,
        |    SUM(xd) AS t, SUM(xd * CAST(r AS DECIMAL(19,0))) AS sv
        |  FROM ranked GROUP BY o_orderstatus)
        |SELECT o_orderstatus, n,
        |  CAST(round((2.0 * CAST(sv AS DOUBLE)
        |      - CAST(n + 1 AS DOUBLE) * CAST(t AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS DOUBLE) AS gini
        |FROM agg ORDER BY o_orderstatus""".stripMargin,

    "agg_conditional" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
        |    AS BIGINT) AS n_high,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(20,8)))
        |    FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')), 2)
        |    AS DOUBLE) AS high_value,
        |  bool_and(o_totalprice > 0) AS all_positive,
        |  bool_or(o_orderpriority = '1-URGENT') AS any_urgent
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // 3σ test in PURE INTEGER arithmetic — (k·x − S)² > 9·(k·SS − S²) is
    // (x−μ)² > 9σ² scaled by k², so the flag is bit-portable. DuckDB's
    // window SUM(BIGINT) returns HUGEINT → cast back (Spark no-op).
    "events_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |), win AS (
        |  SELECT event_type, day, n,
        |    COUNT(*) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS prev_days,
        |    COALESCE(CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS prev_sum,
        |    COALESCE(CAST(SUM(n * n) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS prev_ss
        |  FROM daily)
        |SELECT event_type, day, n, prev_days, prev_sum,
        |  prev_days >= 3 AND
        |    (prev_days * n - prev_sum) * (prev_days * n - prev_sum)
        |      > 9 * (prev_days * prev_ss - prev_sum * prev_sum) AS is_anomaly
        |FROM win
        |ORDER BY event_type, day""".stripMargin,

    "agg_salted" ->
      s"""SELECT l_returnflag, COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_stats" ->
      """SELECT l_returnflag, n,
        |  round((sxx - sx * sx / n) / (n - 1), 4) AS var_qty,
        |  round(sqrt((sxx - sx * sx / n) / (n - 1)), 4) AS sd_qty,
        |  round((sxy - sx * sy / n)
        |    / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 4) AS corr_qp
        |FROM (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,8))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    "agg_mode" ->
      """SELECT p_type, mode_brand, n FROM (
        |  SELECT p_type, p_brand AS mode_brand, COUNT(*) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY p_type
        |      ORDER BY COUNT(*) DESC, p_brand) AS rnk
        |  FROM part GROUP BY p_type, p_brand)
        |WHERE rnk = 1 ORDER BY p_type""".stripMargin,

    "window_nav" ->
      """SELECT o_orderkey, o_custkey, first_key, last_key, second_key
        |FROM (
        |  SELECT o_orderkey, o_custkey,
        |    FIRST_VALUE(o_orderkey) OVER w AS first_key,
        |    LAST_VALUE(o_orderkey) OVER w AS last_key,
        |    NTH_VALUE(o_orderkey, 2) OVER w AS second_key
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |WHERE o_orderkey % 25 = 0 ORDER BY o_orderkey""".stripMargin,

    "agg_percentile" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
        |  round(quantile_cont(o_totalprice, 0.95), 2) AS p95,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "window_dist" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, quartile,
        |  round(pct_rank, 6) AS pct_rank, round(cume, 6) AS cume
        |FROM (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    NTILE(4) OVER w AS quartile,
        |    PERCENT_RANK() OVER w AS pct_rank,
        |    CUME_DIST() OVER w AS cume
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderstatus
        |               ORDER BY o_totalprice, o_orderkey))
        |WHERE o_orderkey % 25 = 0 ORDER BY o_orderkey""".stripMargin,

    "window_range_frame" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, n_nearby
        |FROM (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
        |      RANGE BETWEEN 5000 PRECEDING AND 5000 FOLLOWING) AS n_nearby
        |  FROM orders)
        |WHERE o_orderkey % 25 = 0 ORDER BY o_orderkey""".stripMargin,

    "subq_scalar" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |WHERE o_totalprice > (
        |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(20,8))) AS DOUBLE)
        |         / COUNT(*) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "agg_pivot" ->
      """SELECT o_orderstatus,
        |  COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS p1,
        |  COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS p2,
        |  COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3,
        |  COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
        |  COUNT(*) FILTER (o_orderpriority = '5-LOW') AS p5
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "fn_null" ->
      """SELECT c_custkey,
        |  round(coalesce(bal_or_null, 0.0), 2) AS bal0,
        |  nullif(c_mktsegment, 'BUILDING') AS seg_nb,
        |  (bal_or_null IS NOT DISTINCT FROM NULL) AS is_null_safe,
        |  (bal_or_null IS NULL) AS is_null
        |FROM (
        |  SELECT c_custkey, c_mktsegment,
        |    CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_acctbal END AS bal_or_null
        |  FROM customer)
        |ORDER BY c_custkey""".stripMargin,

    "sample_hash" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE CAST('0x' || substr(md5(l_orderkey || '|' || l_linenumber), 1, 12)
        |        AS BIGINT) % 10 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "sample_stratified" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
        |        AS BIGINT) % 100
        |  < CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 20
        |         ELSE 10 END
        |ORDER BY doc_id""".stripMargin,

    // exact cross-multiplied inclusion test in HUGEINT — mirrors the
    // engine's decimal(38,0) arithmetic bit-for-bit (both sides exact)
    "sample_weighted" ->
      """WITH tot AS (SELECT SUM(n_chars) AS tw FROM documents)
        |SELECT doc_id, n_chars FROM documents, tot
        |WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
        |        AS BIGINT) AS HUGEINT) * tw
        |  < CAST(100 AS HUGEINT) * n_chars * 281474976710656
        |ORDER BY doc_id""".stripMargin,

    // dual-dialect ANSI: also serves as the SqlCatalog entry
    "agg_hist" ->
      """SELECT CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bucket,
        |  COUNT(*) AS n,
        |  round(MIN(l_extendedprice), 2) AS lo,
        |  round(MAX(l_extendedprice), 2) AS hi
        |FROM lineitem
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    "agg_ts_gapfill" ->
      s"""WITH b AS (SELECT date_trunc('hour', min(ts)) AS h0,
         |                  date_trunc('hour', max(ts)) AS h1 FROM events),
         |spine AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b),
         |grid AS (SELECT s.hour, t.event_type
         |         FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
         |hourly AS (SELECT date_trunc('hour', ts) AS hour, event_type,
         |    COUNT(*) AS n_events, ${dsumSql("value")} AS hour_value
         |  FROM events WHERE value > 99 GROUP BY 1, 2)
         |SELECT g.hour, g.event_type,
         |  coalesce(h.n_events, 0) AS n_events,
         |  last_value(h.hour_value IGNORE NULLS)
         |    OVER (PARTITION BY g.event_type ORDER BY g.hour) AS fill_value,
         |  h.n_events IS NULL AS is_gap
         |FROM grid g LEFT JOIN hourly h
         |  ON g.hour = h.hour AND g.event_type = h.event_type
         |ORDER BY g.hour, g.event_type""".stripMargin,

    "fn_struct" ->
      """SELECT o_custkey, o_orderdate AS latest_date, o_orderkey AS latest_key,
        |  o_totalprice AS latest_price, n_orders
        |FROM (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
        |  FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    // dual-dialect ANSI: also serves as the SqlCatalog entry
    "merge_scd2" ->
      """WITH daily AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
        |      ORDER BY o_orderkey DESC) AS rn
        |  FROM orders WHERE o_custkey % 10 = 0),
        |v AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
        |      FROM daily WHERE rn = 1)
        |SELECT o_custkey, o_orderdate AS effective_from,
        |  lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS effective_to,
        |  o_orderkey AS src_order, o_totalprice AS price,
        |  (lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate) IS NULL) AS is_current
        |FROM v ORDER BY o_custkey, effective_from""".stripMargin,

    // dual-dialect ANSI (also the SqlCatalog entry): the semantic
    // row_number form of the native bounded-heap TopKAgg plan
    "agg_topk" ->
      """SELECT o_custkey, CAST(rn AS BIGINT) AS rnk, o_orderkey, o_totalprice
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rnk""".stripMargin,

    // bitmap distinct is EXACT, so the oracle is the plain COUNT(DISTINCT)
    "agg_bitmap" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS distinct_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // same exact-moment algebra as the Spark side: decimal sums → double
    // once → fixed IEEE op sequence, so z-scores are bit-identical
    "agg_zscore" ->
      """WITH m AS (
        |  SELECT event_type,
        |    CAST(COUNT(*) AS DOUBLE) AS nd,
        |    CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE) AS sxx
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type, round(value, 2) AS value,
        |  round((value - sx / nd) / sqrt((sxx - sx * sx / nd) / (nd - 1)), 4) AS z
        |FROM events e JOIN m ON e.event_type = m.event_type
        |WHERE abs((value - sx / nd) / sqrt((sxx - sx * sx / nd) / (nd - 1))) >= 2.5
        |ORDER BY event_id""".stripMargin,

    // dual-dialect ANSI: runs unchanged under DuckDB and spark.sql
    "events_funnel" ->
      """WITH staged AS (
        |  SELECT user_id, t1, t2,
        |    MIN(CASE WHEN event_type = 'purchase' AND ts > t2
        |             AND ts <= t2 + INTERVAL 1 DAY THEN ts END)
        |      OVER (PARTITION BY user_id) AS t3
        |  FROM (
        |    SELECT user_id, event_type, ts, t1,
        |      MIN(CASE WHEN event_type = 'click' AND ts > t1
        |               AND ts <= t1 + INTERVAL 1 DAY THEN ts END)
        |        OVER (PARTITION BY user_id) AS t2
        |    FROM (
        |      SELECT user_id, event_type, ts,
        |        MIN(CASE WHEN event_type = 'signup' THEN ts END)
        |          OVER (PARTITION BY user_id) AS t1
        |      FROM events) s1) s2)
        |SELECT CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM staged GROUP BY 1 ORDER BY stage""".stripMargin,

    // DuckDB dialect (date_diff argument order differs from Spark's
    // datediff, so this one is not in the shared front-door set)
    "agg_retention" ->
      """WITH activity AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        |  FROM events),
        |cohorts AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id)
        |SELECT cohort_day,
        |  CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
        |  COUNT(DISTINCT a.user_id) AS n_users
        |FROM activity a JOIN cohorts c ON a.user_id = c.user_id
        |WHERE date_diff('day', cohort_day, day) IN (0, 1, 3, 7)
        |GROUP BY cohort_day, CAST(date_diff('day', cohort_day, day) AS BIGINT)
        |ORDER BY cohort_day, day_offset""".stripMargin,

    // dual-dialect ANSI; ordering on CAST(ts AS TIMESTAMP) pins both
    // engines to the same µs tie-break before the event_id fallback
    "events_path" ->
      """SELECT from_type, to_type, COUNT(*) AS n_transitions FROM (
        |  SELECT user_id,
        |    LAG(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS from_type,
        |    event_type AS to_type
        |  FROM events) t
        |WHERE from_type IS NOT NULL
        |GROUP BY from_type, to_type ORDER BY from_type, to_type""".stripMargin,

    // DuckDB dialect: IGNORE NULLS sits inside the window-function call
    // (Spark puts it after the call — SqlCatalog carries that variant)
    "events_attribution" ->
      s"""WITH attr AS (
         |  SELECT event_type, value,
         |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
         |        IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
         |  FROM events)
         |SELECT channel, COUNT(*) AS conversions,
         |  ${dsumSql("value")} AS attributed_value
         |FROM attr
         |WHERE event_type = 'purchase' AND channel IS NOT NULL
         |GROUP BY channel ORDER BY channel""".stripMargin,

    // generate_series is inclusive; Spark runs this text through the
    // DuckDB-semantics generate_series/unnest that GraftExtensions registers
    "agg_active_users" ->
      """WITH grid AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        |  FROM events),
        |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau
        |        FROM grid GROUP BY day),
        |ex AS (SELECT user_id,
        |         unnest(generate_series(day, day + INTERVAL 6 DAY,
        |                                INTERVAL 1 DAY)) AS day
        |       FROM grid),
        |wau AS (SELECT day, COUNT(DISTINCT user_id) AS wau
        |        FROM ex GROUP BY day)
        |SELECT d.day, d.dau, w.wau,
        |  round(CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE), 4) AS stickiness
        |FROM dau d JOIN wau w ON d.day = w.day
        |ORDER BY d.day""".stripMargin,

    // capacity 8 > |event_type domain| = 5, so the Misra-Gries summary is
    // exact and the sketch path must reproduce the plain GROUP BY
    "agg_heavy_hitters" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  event_type AS item, CAST(COUNT(*) AS BIGINT) AS est_count
        |FROM events GROUP BY 1, 2
        |ORDER BY day, est_count DESC, item""".stripMargin,

    // LATERAL generate_series for the gram positions (Spark runs it through
    // the DuckDB-semantics generate_series/unnest of GraftExtensions)
    "match_fuzzy" ->
      """WITH grams AS (
        |  SELECT DISTINCT c_custkey, c_nationkey, substr(c_name, i, 3) AS g
        |  FROM customer,
        |    LATERAL (SELECT unnest(generate_series(1, len(c_name)-2)) AS i) t),
        |rare AS (
        |  SELECT g FROM (
        |    SELECT g, COUNT(DISTINCT c_custkey) AS df FROM grams GROUP BY g)
        |  WHERE df <= 40),
        |keyed AS (SELECT grams.* FROM grams JOIN rare USING (g)),
        |cand AS (
        |  SELECT DISTINCT a.c_custkey AS ka, b.c_custkey AS kb
        |  FROM keyed a JOIN keyed b
        |    ON a.g = b.g AND a.c_nationkey = b.c_nationkey
        |    AND a.c_custkey < b.c_custkey)
        |SELECT ka, kb, ca.c_name AS name_a, cb.c_name AS name_b,
        |  CAST(levenshtein(ca.c_name, cb.c_name) AS BIGINT) AS dist
        |FROM cand
        |JOIN customer ca ON ka = ca.c_custkey
        |JOIN customer cb ON kb = cb.c_custkey
        |WHERE levenshtein(ca.c_name, cb.c_name) <= 2
        |ORDER BY ka, kb""".stripMargin,

    // dual-dialect ANSI: ln/round/decimal-sum exist identically in both
    // EXACT-regime theta oracle: harness-scale per-flag distinct partkey
    // counts sit below the sketch's k=4096 retained entries, where a
    // theta sketch IS the exact distinct set — so estimate and
    // intersection reduce to plain distinct / set-intersection counts
    // EXACT-regime sketch rollup: cell/month distincts below k=4096
    "agg_sketch_rollup" ->
      """WITH g AS (
        |  SELECT DISTINCT CAST(date_trunc('month', ts) AS DATE) AS mon,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk, user_id
        |  FROM events),
        |cells AS (
        |  SELECT mon, wk,
        |    round(CAST(COUNT(*) AS DOUBLE), 1) AS wk_est
        |  FROM g GROUP BY mon, wk),
        |naive AS (
        |  SELECT mon, CAST(COUNT(*) AS BIGINT) AS n_weeks,
        |    CAST(SUM(CAST(wk_est AS DECIMAL(20,1))) AS DOUBLE) AS naive_sum
        |  FROM cells GROUP BY mon),
        |merged AS (
        |  SELECT mon, round(CAST(COUNT(DISTINCT user_id) AS DOUBLE), 1)
        |    AS merged_users
        |  FROM g GROUP BY mon)
        |SELECT naive.mon, n_weeks, naive_sum, merged_users,
        |  round(naive_sum - merged_users, 1) AS cross_week_overlap
        |FROM naive JOIN merged ON naive.mon = merged.mon
        |ORDER BY naive.mon""".stripMargin,

    "agg_theta_sketch" ->
      """WITH d AS (
        |  SELECT DISTINCT l_returnflag, l_partkey FROM lineitem),
        |c AS (SELECT l_returnflag, COUNT(*) AS n FROM d GROUP BY 1),
        |shared AS (
        |  SELECT a.l_returnflag AS fa, b.l_returnflag AS fb, COUNT(*) AS ns
        |  FROM d a JOIN d b
        |    ON a.l_partkey = b.l_partkey AND a.l_returnflag < b.l_returnflag
        |  GROUP BY 1, 2)
        |SELECT ca.l_returnflag AS flag_a, cb.l_returnflag AS flag_b,
        |  round(CAST(ca.n AS DOUBLE), 1) AS approx_a,
        |  round(CAST(cb.n AS DOUBLE), 1) AS approx_b,
        |  round(CAST(coalesce(s.ns, 0) AS DOUBLE), 1) AS approx_shared
        |FROM c ca JOIN c cb ON ca.l_returnflag < cb.l_returnflag
        |LEFT JOIN shared s
        |  ON s.fa = ca.l_returnflag AND s.fb = cb.l_returnflag
        |ORDER BY flag_a, flag_b""".stripMargin,

    "agg_entropy" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2),
        |n AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1),
        |terms AS (
        |  SELECT c.user_id,
        |    round(-(CAST(c.c AS DOUBLE) / n.n) * ln(CAST(c.c AS DOUBLE) / n.n), 8) AS t
        |  FROM c JOIN n ON c.user_id = n.user_id)
        |SELECT user_id,
        |  CAST(ROUND(SUM(CAST(t AS DECIMAL(20,8))), 6) AS DOUBLE) AS entropy
        |FROM terms GROUP BY user_id ORDER BY user_id""".stripMargin,

    // full value-level CMS mirror: rebuild the 4×1024 grid from exact
    // counts with the same md5 row hashes, then the same min-of-rows
    // lookup — estimates match the sketch INCLUDING collisions
    "agg_count_min" ->
      """WITH counts AS (
        |  SELECT event_type AS item, COUNT(*) AS c FROM events GROUP BY 1),
        |ds AS (SELECT unnest(generate_series(0, 3)) AS d),
        |cells AS (
        |  SELECT d,
        |    CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || item), 1, 12)
        |      AS BIGINT) % 1024 AS cell,
        |    CAST(SUM(c) AS BIGINT) AS cellsum
        |  FROM counts CROSS JOIN ds
        |  GROUP BY 1, 2),
        |est AS (
        |  SELECT co.item, MIN(ce.cellsum) AS est_count
        |  FROM counts co CROSS JOIN ds
        |  JOIN cells ce ON ce.d = ds.d
        |    AND ce.cell = CAST('0x' ||
        |      substr(md5(CAST(ds.d AS VARCHAR) || ':' || co.item), 1, 12)
        |      AS BIGINT) % 1024
        |  GROUP BY co.item)
        |SELECT item AS event_type, est_count FROM est
        |ORDER BY event_type""".stripMargin,

    "events_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR CAST(ts AS TIMESTAMP) >
        |              CAST(LAG(ts) OVER w AS TIMESTAMP) + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE user_id % 5 = 0
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |numbered AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_no
        |  FROM marked)
        |SELECT user_id, session_no, COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_sec
        |FROM numbered GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,

    // dual-dialect ANSI: also serves as the SqlCatalog entry. The SUM cast
    // folds DuckDB's HUGEINT back to BIGINT; no-op in Spark.
    "meta_profile" ->
      """SELECT col_name, n_rows, n_nulls, ndv, min_v, max_v FROM (
        |  SELECT 'l_orderkey' AS col_name, COUNT(*) AS n_rows,
        |    CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |    COUNT(DISTINCT l_orderkey) AS ndv,
        |    MIN(l_orderkey) AS min_v, MAX(l_orderkey) AS max_v
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_partkey', COUNT(*),
        |    CAST(SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    COUNT(DISTINCT l_partkey), MIN(l_partkey), MAX(l_partkey)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_suppkey', COUNT(*),
        |    CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    COUNT(DISTINCT l_suppkey), MIN(l_suppkey), MAX(l_suppkey)
        |  FROM lineitem)
        |ORDER BY col_name""".stripMargin,

    // power-of-two half-life + integer week age: pow(0.5, w) is exact and
    // the per-row product is an exponent shift, so the dsum recipe holds
    "agg_decay" ->
      """WITH mx AS (
        |  SELECT CAST(date_trunc('day', max(ts)) AS TIMESTAMP) AS d1
        |  FROM events),
        |e AS (
        |  SELECT user_id, value,
        |    date_diff('day', CAST(date_trunc('day', ts) AS TIMESTAMP),
        |              (SELECT d1 FROM mx)) // 7 AS w
        |  FROM events)
        |SELECT user_id,
        |  CAST(ROUND(SUM(CAST(value * pow(0.5, w) AS DECIMAL(20,8))), 2)
        |    AS DOUBLE) AS decayed_value,
        |  COUNT(*) AS n_events
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,

    // dual-dialect ANSI (also the SqlCatalog entry): the salted join is
    // provably the plain join — salting only spreads the shuffle
    "join_skew_salted" ->
      s"""SELECT s_nationkey, COUNT(*) AS n_items,
         |  ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    // row_number form of the bounded-heap reservoir (DuckDB md5 spelling)
    "sample_reservoir" ->
      """SELECT o_orderstatus, CAST(rn AS BIGINT) AS rnk, o_orderkey
        |FROM (
        |  SELECT o_orderstatus, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12)
        |                 AS BIGINT),
        |               o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 5 ORDER BY o_orderstatus, rnk""".stripMargin,

    // same exact-moment algebra as the Spark side. All moments are INT64
    // (y exact in cents): int64→double is correctly rounded in both
    // engines, while DuckDB's DECIMAL→DOUBLE cast can be off by an ulp.
    "agg_linreg" ->
      """WITH pts AS (
        |  SELECT o_orderstatus,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
        |    CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,8)), 2) * 100
        |      AS BIGINT) AS y100
        |  FROM orders),
        |m AS (
        |  SELECT o_orderstatus, COUNT(*) AS n,
        |    CAST(COUNT(*) AS DOUBLE) AS nd,
        |    CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(y100) AS BIGINT) AS DOUBLE) AS sy1,
        |    CAST(CAST(SUM(x * y100) AS BIGINT) AS DOUBLE) AS sxy1,
        |    CAST(CAST(SUM(x * x) AS BIGINT) AS DOUBLE) AS sxx
        |  FROM pts GROUP BY o_orderstatus),
        |sl AS (
        |  SELECT o_orderstatus, n, nd, sx, sy1,
        |    (nd * sxy1 - sx * sy1) / (nd * sxx - sx * sx) AS slope100
        |  FROM m)
        |SELECT o_orderstatus, n, slope100 / 1e2 AS slope,
        |  ((sy1 - slope100 * sx) / nd) / 1e2 AS intercept
        |FROM sl ORDER BY o_orderstatus""".stripMargin,

    // dual-dialect ANSI (also the SqlCatalog entries): the declared text
    // IS the implementation for these two — the oracle engine runs the
    // identical statement
    "subq_exists" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |              AND o.o_totalprice > 400000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                  AND o2.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "subq_lateral" ->
      """SELECT n_name, s_name, s_acctbal FROM nation n,
        |LATERAL (SELECT s_name, s_acctbal FROM supplier
        |         WHERE s_nationkey = n.n_nationkey
        |         ORDER BY s_acctbal DESC, s_name LIMIT 2)
        |ORDER BY n_name, s_acctbal DESC, s_name""".stripMargin,

    // native three-valued NOT IN / NOT EXISTS — the oracle engine's own
    // evaluation certifies the DataFrame expansion
    "subq_notin_null" ->
      """WITH sub AS (
        |  SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
        |    ELSE o_custkey END AS k
        |  FROM orders WHERE o_orderstatus = 'F'),
        |clean AS (SELECT DISTINCT k FROM sub WHERE k IS NOT NULL),
        |base AS (
        |  SELECT c_mktsegment, COUNT(*) AS n_cust FROM customer
        |  GROUP BY c_mktsegment),
        |ne AS (
        |  SELECT c_mktsegment, COUNT(*) AS n_ne FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM clean WHERE clean.k = c.c_custkey)
        |  GROUP BY c_mktsegment),
        |nic AS (
        |  SELECT c_mktsegment, COUNT(*) AS n_nic FROM customer c
        |  WHERE c_custkey NOT IN (SELECT k FROM clean)
        |  GROUP BY c_mktsegment),
        |nid AS (
        |  SELECT c_mktsegment, COUNT(*) AS n_nid FROM customer c
        |  WHERE c_custkey NOT IN (SELECT k FROM sub)
        |  GROUP BY c_mktsegment)
        |SELECT base.c_mktsegment, CAST(n_cust AS BIGINT) AS n_cust,
        |  CAST(COALESCE(n_ne, 0) AS BIGINT) AS n_not_exists,
        |  CAST(COALESCE(n_nic, 0) AS BIGINT) AS n_not_in_clean,
        |  CAST(COALESCE(n_nid, 0) AS BIGINT) AS n_not_in_dirty
        |FROM base
        |LEFT JOIN ne ON base.c_mktsegment = ne.c_mktsegment
        |LEFT JOIN nic ON base.c_mktsegment = nic.c_mktsegment
        |LEFT JOIN nid ON base.c_mktsegment = nid.c_mktsegment
        |ORDER BY base.c_mktsegment""".stripMargin,

    // gaps-and-islands anchor trick; DATE - INTEGER arithmetic, which
    // both dialects accept
    "events_streak" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |isl AS (
        |  SELECT user_id, day,
        |    day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |                ORDER BY day) AS INTEGER) AS anchor
        |  FROM days),
        |streaks AS (
        |  SELECT user_id, anchor, COUNT(*) AS len FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_streaks,
        |  CAST(SUM(len) AS BIGINT) AS active_days,
        |  CAST(MAX(len) AS BIGINT) AS longest_streak
        |FROM streaks GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the row_number spelling of argmax — semantically the max_by/min_by
    // aggregate with the same (price, key) tie order
    "agg_argmax" ->
      """WITH ranked AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
        |  FROM orders)
        |SELECT o_orderstatus,
        |  MAX(CASE WHEN rmax = 1 THEN o_orderkey END) AS top_key,
        |  round(MAX(CASE WHEN rmax = 1 THEN o_totalprice END), 2) AS top_price,
        |  MAX(CASE WHEN rmin = 1 THEN o_orderkey END) AS bottom_key,
        |  round(MAX(CASE WHEN rmin = 1 THEN o_totalprice END), 2) AS bottom_price,
        |  COUNT(*) AS n
        |FROM ranked GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the naive overlap spelling (windows LEFT JOIN sessions on the band
    // predicate) — identical rows to the day-bucketed equi-join plan
    "join_interval" ->
      """WITH ev AS (SELECT user_id, ts, event_id FROM events
        |            WHERE user_id % 5 = 0),
        |lagd AS (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_ts FROM ev),
        |marked AS (SELECT user_id, ts,
        |    SUM(CASE WHEN prev_ts IS NULL
        |             OR ts > prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts) AS session_no
        |  FROM lagd),
        |sessions AS (SELECT user_id, session_no, MIN(ts) AS st, MAX(ts) AS en
        |  FROM marked GROUP BY 1, 2),
        |intra AS (SELECT * FROM sessions
        |          WHERE CAST(st AS DATE) = CAST(en AS DATE)),
        |wins AS (
        |  SELECT day, w_id,
        |    CAST(day AS TIMESTAMP) + CASE w_id WHEN 1 THEN INTERVAL 10 HOUR
        |      ELSE INTERVAL 18 HOUR END AS w_start,
        |    CAST(day AS TIMESTAMP) + CASE w_id WHEN 1 THEN INTERVAL 14 HOUR
        |      ELSE INTERVAL 20 HOUR END AS w_end
        |  FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |       (VALUES (1), (2)) v(w_id))
        |SELECT w.day, w.w_id, COUNT(s.user_id) AS n_sessions,
        |  COUNT(DISTINCT s.user_id) AS n_users
        |FROM wins w LEFT JOIN intra s
        |  ON CAST(s.st AS DATE) = w.day AND s.st < w.w_end AND s.en >= w.w_start
        |GROUP BY w.day, w.w_id ORDER BY w.day, w.w_id""".stripMargin,

    // the quadratic-free sweep, replayed point by point (same ns→µs cast
    // discipline as events_sessionize)
    "events_concurrency" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR CAST(ts AS TIMESTAMP) >
        |              CAST(LAG(ts) OVER w AS TIMESTAMP) + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE user_id % 5 = 0
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |numbered AS (
        |  SELECT user_id, ts,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM marked),
        |sess AS (
        |  SELECT user_id, session_no, MIN(ts) AS st, MAX(ts) AS en
        |  FROM numbered GROUP BY user_id, session_no),
        |sd AS (SELECT * FROM sess WHERE CAST(st AS DATE) = CAST(en AS DATE)),
        |pts AS (
        |  SELECT CAST(st AS DATE) AS day, st AS t, 1 AS delta, 0 AS tie,
        |    user_id, session_no
        |  FROM sd
        |  UNION ALL
        |  SELECT CAST(st AS DATE) AS day, en AS t, -1 AS delta, 1 AS tie,
        |    user_id, session_no
        |  FROM sd),
        |sw AS (
        |  SELECT day, tie,
        |    SUM(delta) OVER (PARTITION BY day
        |      ORDER BY t, tie, user_id, session_no
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS active
        |  FROM pts)
        |SELECT day, CAST(MAX(active) AS BIGINT) AS peak_concurrent,
        |  CAST(SUM(CASE WHEN tie = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sessions
        |FROM sw GROUP BY day ORDER BY day""".stripMargin,

    // The PLAIN join: bloom pruning is semantically invisible (no false
    // negatives; false positives die in the exact join), so the oracle
    // carries no bloom at all — that absence IS the property under test.
    "join_bloom" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY o_orderkey""".stripMargin,
  )
}
