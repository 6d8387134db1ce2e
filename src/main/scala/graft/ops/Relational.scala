package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{Tables => T}
import graft.core.Numeric._

/** Relational operator surface: scans, filters, joins, aggregations,
  * windows, sorts, set ops — SURVEY.md §2.2.
  *
  * Generalizes the reference's two-statement surface
  * (`/root/reference/db.cpp:428-441` — `insert`/`select` only): the
  * keys whose SQL text plans the same as a DataFrame would (`scan_full`,
  * `insert_append`, the plain joins, aggregates and set ops — see
  * [[graft.SparkEntry.sqlServed]]) run their [[RelationalOracles]] text;
  * what stays here needs a DataFrame: a broadcast hint, a declared
  * algorithm ([[graft.api.AsOfJoin]]), or a plan the text does not give.
  * Declared Spark-first so Catalyst picks physical strategies (broadcast
  * vs sort-merge joins, partial aggregation, AQE skew handling) that
  * survive a 1000-executor 100 TB deployment.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- scans

  /** Column pruning: 4 of 11 lineitem columns. The Parquet scan must show
    * a 4-column ReadSchema — verified in the plan audit. */
  val scanProject: Q = (s, d) =>
    T.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_shipdate"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** The reference REPL's statement-parse path (`prepareStatement` /
    * `prepareInsert`, `/root/reference/db.cpp:392-441`) as a declared
    * relational op: statement LINES (built deterministically from customer
    * rows, with keyword / arity / negative-id / overlong-string violations
    * planted — the bad keyword is `update`, which the reference REPL does
    * not recognize) → tokenized, validated rows with the reference's
    * verbatim error strings (`db.cpp:576-585`). */
  val insertParse: Q = (s, d) => {
    val c = T.customer(s, d)
    val kw = when(col("c_custkey") % 97 === 0, "update").otherwise("insert")
    val uname = when(col("c_custkey") % 50 === 0,
      concat(col("c_name"), lit("x" * 30))).otherwise(col("c_name"))
    val email = when(col("c_custkey") % 89 === 0, lit(""))
      .otherwise(concat(col("c_name"), lit("@example.com")))
    val lines = c.select(col("c_custkey"),
      concat_ws(" ", kw, (col("c_custkey") - 5L).cast("string"), uname, email)
        .as("stmt"))
    graft.core.Ingest.parseStatements(lines, "stmt")
      .select(col("id"), col("username"), col("email"), col("reject_reason"))
      .orderBy(col("id"), col("username"))
  }

  // ------------------------------------------------------ filters / checks

  /** REFERENTIAL-INTEGRITY audit — the cross-table companion of
    * `constraint_check`'s row-level CHECK (the reference validates only
    * within one row, `/root/reference/db.cpp:455-470`): each FK edge
    * (lineitem→orders, orders→customer) reports child count, orphan
    * count (anti-join against the parent key set) and orphan share.
    * Orphans are PLANTED (child slices re-keyed +9·10⁹, far above any
    * harness-scale parent key) so the audit has a known answer.
    *
    * 100 TB shape: each audit is ONE anti-join shuffled on the FK — the
    * same cost as the join the FK exists to serve; AQE broadcasts the
    * parent side when it fits. The two scalar counts ride the same
    * pass (count + anti-count, no second scan of the child). */
  val constraintFk: Q = (s, d) => {
    def audit(child: DataFrame, key: String, parent: DataFrame,
        pkey: String, name: String): DataFrame = {
      val flagged = child.join(
        parent.select(col(pkey).as(key)).distinct()
          .withColumn("hit", lit(1)), Seq(key), "left")
      flagged.agg(count(lit(1)).as("n_child"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphan"))
        .select(lit(name).as("fk_edge"), col("n_child"), col("n_orphan"),
          round(col("n_orphan").cast("double")
            / col("n_child").cast("double"), 6).as("orphan_share"))
    }
    val li = T.lineitem(s, d).select(col("l_orderkey"))
    val liB = li.unionByName(li.filter(col("l_orderkey") % 101 === 0)
      .select((col("l_orderkey") + 9000000000L).as("l_orderkey")))
    val o = T.orders(s, d)
    val oK = o.select(col("o_custkey"))
    val oB = oK.unionByName(o.filter(col("o_orderkey") % 97 === 0)
      .select((col("o_custkey") + 9000000000L).as("o_custkey")))
    audit(liB, "l_orderkey", o, "o_orderkey", "lineitem->orders")
      .unionByName(
        audit(oB, "o_custkey", T.customer(s, d), "c_custkey",
          "orders->customer"))
      .orderBy(col("fk_edge"))
  }

  /** NULL-SAFE equi-join (`<=>` / IS NOT DISTINCT FROM) — the join
    * semantics corner plain `=` silently gets wrong: a nullable
    * dimension key (here a region tag that is NULL for every 11th
    * order — the "unattributed" bucket every real dimension has) drops
    * its NULL rows under `=` but matches NULL-to-NULL under `<=>`, so
    * the unattributed bucket stays countable. The declared result
    * aggregates the fact through a null-safe broadcast probe against
    * the 6-row tag dim (5 tags + the NULL member) and reports the
    * null bucket alongside — plus the `=`-join total as a column, so
    * the two semantics' difference is itself part of the answer.
    *
    * 100 TB shape: null-safe equality is still HASH-partitionable
    * (NULL hashes to a bucket like any value), so `<=>` joins broadcast
    * or shuffle exactly like `=` joins — no nested-loop penalty. */
  val joinNullSafe: Q = (s, d) => {
    val fact = T.orders(s, d).select(col("o_orderkey"), col("o_totalprice"),
      when(col("o_orderkey") % 11 === 0, lit(null).cast("long"))
        .otherwise(col("o_orderkey") % 5).as("tag"))
    val dim = fact.select(col("tag").as("d_tag")).distinct()
      .withColumn("tag_name",
        coalesce(concat(lit("region_"), col("d_tag").cast("string")),
          lit("unattributed")))
    fact.join(broadcast(dim), col("tag") <=> col("d_tag"))
      .groupBy(col("tag_name"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("tag") === col("d_tag"), 1L).otherwise(0L))
          .as("n_plain_eq"),
        graft.core.Numeric.dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("tag_name"))
  }

  // ---------------------------------------------------------------- joins

  /** Star-schema join orders ⋈ customer ⋈ nation ⋈ region with explicit
    * broadcast of every dim — at 100 TB the fact side streams while dims
    * replicate; no shuffle of the fact table at all. */
  val joinBroadcast: Q = (s, d) => {
    val o = T.orders(s, d)
    val c = broadcast(T.customer(s, d))
    val n = broadcast(T.nation(s, d))
    val r = broadcast(T.region(s, d))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** EXISTS — customers with ≥1 urgent order (left-semi: no row
    * multiplication, right side only probed). */
  val joinSemi: Q = (s, d) => {
    val c = T.customer(s, d)
    val o = T.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** NOT EXISTS — customers with no urgent order (left-anti). */
  val joinAnti: Q = (s, d) => {
    val c = T.customer(s, d)
    val o = T.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Range (non-equi) join with an equi prefix: purchases within 5
    * minutes after a signup by the same user. The equi key keeps the
    * plan a sort-merge join + range filter instead of a broadcast
    * nested-loop — the only shape that survives at scale. */
  val joinRange: Q = (s, d) => {
    val e1 = T.events(s, d).filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"),
        col("ts").as("signup_ts"))
    val e2 = T.events(s, d).filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("user_id2"), col("ts").as("purchase_ts"))
    e1.join(e2, col("user_id") === col("user_id2") &&
        col("purchase_ts") > col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") + expr("INTERVAL 5 MINUTES"))
      .select(col("user_id"), col("signup_id"), col("purchase_id"))
      .orderBy(col("user_id"), col("signup_id"), col("purchase_id"))
  }

  /** Explicit CROSS JOIN — legitimate ONLY when one side is a bounded
    * dimension that broadcasts (here: 5-row region replicated against
    * nation). Every unbounded cross join in this engine is a bug by
    * definition; this query documents the one sanctioned shape. */
  val joinCross: Q = (s, d) => {
    val n = T.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val r = T.region(s, d).select(col("r_regionkey"), col("r_name"))
    n.crossJoin(broadcast(r))
      .select(col("n_nationkey"), col("n_name"), col("r_regionkey"),
        col("r_name"), (col("n_regionkey") === col("r_regionkey")).as("is_home"))
      .orderBy(col("n_nationkey"), col("r_regionkey"))
  }

  /** As-of join: each event matched to the latest order of the same
    * customer with o_orderdate <= ts. Implemented scale-first as the
    * union-and-carry-forward pattern (sort within key, carry the last
    * order forward) rather than the join-then-rank pattern — the latter
    * explodes to |events| × |orders-per-key| intermediates at 100 TB.
    */
  val joinAsof: Q = (s, d) => {
    val ev = T.events(s, d).select(col("user_id"), col("ts"), col("event_id"))
    val o = T.orders(s, d).select(
      col("o_custkey").as("user_id"), col("o_orderdate").as("ts"),
      col("o_orderkey"), col("o_totalprice"))
    graft.api.AsOfJoin.backward(ev, o, keys = Seq("user_id"),
        leftTime = "ts", rightTime = "ts",
        payload = Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("user_id"),
        col("asof_o_orderkey").as("asof_orderkey"),
        col("asof_o_totalprice").as("asof_totalprice"))
      .orderBy(col("event_id"))
  }

  /** Forward as-of: each event matched to the user's EARLIEST order at or
    * after the event (the "next action after exposure" direction of
    * attribution). Same union-sweep shape as [[joinAsof]] with the frame
    * reversed ([[graft.api.AsOfJoin.forward]]) — one key shuffle, one
    * sort, never join-then-rank. */
  val joinAsofFwd: Q = (s, d) => {
    val ev = T.events(s, d).select(col("user_id"), col("ts"), col("event_id"))
    val o = T.orders(s, d).select(
      col("o_custkey").as("user_id"), col("o_orderdate").as("ts"),
      col("o_orderkey"), col("o_totalprice"))
    graft.api.AsOfJoin.forward(ev, o, keys = Seq("user_id"),
        leftTime = "ts", rightTime = "ts",
        payload = Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("user_id"),
        col("asof_o_orderkey").as("next_orderkey"),
        col("asof_o_totalprice").as("next_totalprice"))
      .orderBy(col("event_id"))
  }

  /** Tolerance-bounded as-of: each PURCHASE attributed to the same user's
    * latest CLICK within 30 minutes ([[graft.api.AsOfJoin.backwardWithin]]
    * — the feature-store staleness rule: a stale match is a NULL, never
    * silently served). Same one-shuffle union-sweep as [[joinAsof]]; the
    * bound is a per-row comparison on the carried match time. */
  val joinAsofTol: Q = (s, d) => {
    val ev = T.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.api.AsOfJoin.backwardWithin(purchases, clicks,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        payload = Seq("event_id", "value"), tolerance = "30 MINUTE")
      .select(col("event_id"), col("user_id"),
        col("asof_event_id").as("asof_click_id"),
        col("asof_value"))
      .orderBy(col("event_id"))
  }

  /** Nearest-direction as-of: each PURCHASE attributed to the same user's
    * click CLOSEST in time, before OR after
    * ([[graft.api.AsOfJoin.nearest]] — pandas `direction='nearest'`,
    * ties prefer the backward match). Both direction candidates ride one
    * union-sweep (the two window frames share a single shuffle+sort);
    * the winner is a per-row distance compare. */
  val joinAsofNear: Q = (s, d) => {
    val ev = T.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.api.AsOfJoin.nearest(purchases, clicks,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        payload = Seq("event_id", "value"))
      .select(col("event_id"), col("user_id"),
        col("asof_event_id").as("near_click_id"),
        col("asof_value"))
      .orderBy(col("event_id"))
  }

  // ----------------------------------------------------------- aggregates

  /** Approximate distinct (HyperLogLog++): the 100 TB substitute for
    * count(distinct) — no expand, mergeable sketches. No SQL oracle
    * (approx ≠ DuckDB HLL); bounds-checked against exact in ScalaTest. */
  val aggApproxDistinct: Q = (s, d) =>
    T.events(s, d)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** ROLLUP over (returnflag, linestatus) with subtotals + grand total. */
  val aggRollup: Q = (s, d) =>
    T.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_rows"))
      .orderBy(col("returnflag"), col("linestatus"))

  // -------------------------------------------------------------- windows

  /** Top-3 orders per customer by rank() — partitioned window, no global
    * sort. Window order carries a unique tie-break so rank is total. */
  val windowRank: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    T.orders(s, d)
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rnk"), col("o_orderkey"))
  }

  /** Running revenue per customer — cumulative frame. Decimal running sum
    * keeps the declared result order-independent. */
  val windowRunning: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    T.orders(s, d)
      .withColumn("running_price",
        round(sum(col("o_totalprice").cast("decimal(20,8)")).over(w), 2).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("running_price"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** Day-over-day delta of daily event value via lag().
    *
    * The lag window partitions by calendar YEAR instead of running
    * partition-less: a global `Window.orderBy(day)` moves every daily row
    * to one task, and while the daily pre-aggregate bounds cardinality by
    * the time span, a multi-decade × multi-metric evolution of this query
    * is exactly how single-task stragglers are born. Each year's first row
    * (whose in-year lag is NULL) is stitched from the latest edge row of
    * any earlier year via a tiny broadcast join over per-year edge rows —
    * O(#years) data, no global window anywhere. Result is identical to the
    * global-window formulation (same oracle, same hash), including across
    * calendar-year gaps. */
  val windowLag: Q = (s, d) => {
    val daily = T.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(dsum(col("value")).as("v"))
      .withColumn("yr", year(col("day")))
    val w = Window.partitionBy(col("yr")).orderBy(col("day"))
    val wDesc = Window.partitionBy(col("yr")).orderBy(col("day").desc)
    val inYear = daily
      .withColumn("prev_in_year", lag(col("v"), 1).over(w))
      .withColumn("rn", row_number().over(w))
    // one edge row per year: the year's last (day, v)
    val edges = daily
      .withColumn("rnd", row_number().over(wDesc))
      .filter(col("rnd") === 1)
      .select(col("yr").as("eyr"), col("day").as("eday"), col("v").as("ev"))
    // carry for year Y = v of the latest edge day among years < Y
    // (non-equi join over O(#years) rows — calendar-bounded, not data-bounded)
    val carry = edges.as("a")
      .join(broadcast(edges.as("b")), col("b.eyr") < col("a.eyr"))
      .groupBy(col("a.eyr").as("carry_yr"))
      .agg(max(struct(col("b.eday"), col("b.ev"))).as("m"))
      .select(col("carry_yr"), col("m.ev").as("carry_v"))
    inYear
      .join(broadcast(carry),
        inYear("yr") === col("carry_yr") && inYear("rn") === 1, "left")
      .withColumn("prev_v", coalesce(col("prev_in_year"), col("carry_v")))
      .withColumn("delta", col("v") - col("prev_v"))
      .select(col("day"), col("v"), col("prev_v"), col("delta"))
      .orderBy(col("day"))
  }

  // --------------------------------------------------------------- setops

  // multiset slices for the ALL variants: (partkey, suppkey) pairs REPEAT
  // across lineitems, so bag semantics genuinely differ from set semantics
  private def msliceA(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d).filter(col("l_orderkey") % 2 === 0)
      .select(col("l_partkey"), col("l_suppkey"))
  private def msliceB(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d).filter(col("l_orderkey") % 3 === 0)
      .select(col("l_partkey"), col("l_suppkey"))

  /** INTERSECT ALL / EXCEPT ALL — BAG semantics (multiplicity min /
    * difference per SQL:2003), the set-op half the distinct variants
    * can't express: duplicates survive with their counted multiplicity.
    * Spark plans both as a single hash aggregate on the value row
    * (count per side) + a generate of min/difference copies — one
    * shuffle, no distinct Expand, same scale shape as `set_intersect`.
    * The declared result folds each bag to its cardinality, which is
    * exactly where ALL ≠ DISTINCT shows (and what the oracle's
    * `INTERSECT ALL` / `EXCEPT ALL` recompute). */
  val setOpsAll: Q = (s, d) => {
    val ia = msliceA(s, d).intersectAll(msliceB(s, d))
      .agg(count(lit(1)).as("n"))
      .select(lit("intersect_all").as("op"), col("n"))
    val ea = msliceA(s, d).exceptAll(msliceB(s, d))
      .agg(count(lit(1)).as("n"))
      .select(lit("except_all").as("op"), col("n"))
    ia.union(ea).orderBy(col("op"))
  }
}
