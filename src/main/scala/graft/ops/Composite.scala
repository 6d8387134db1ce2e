package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Tables => T}
import graft.core.Numeric._

/** Headline composite analytics — TPC-H-shaped multi-join pipelines over
  * the harness star schema (the reference cannot express ANY of these; its
  * surface is insert/select, `/root/reference/db.cpp:428-441`). These are
  * the end-to-end plans a warehouse engine lives on: selective dim filters,
  * fact-to-fact joins, grouped revenue aggregation, top-k. Plan discipline
  * at 100 TB: dims broadcast, facts shuffle once on the join key, revenue
  * aggregates map-side first, top-k via TakeOrderedAndProject. */
object Composite {
  type Q = (SparkSession, String) => DataFrame

  private def revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** TPC-H Q3 shape (shipping priority): BUILDING-segment customers,
    * orders before a date, lineitems shipped after it; top-10 orders by
    * revenue. */
  val tpchQ3: Q = (s, d) => {
    val cutoff = lit("1995-03-15").cast("timestamp")
    val c = T.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = T.orders(s, d).filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val l = T.lineitem(s, d).filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), revenue.as("rev"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(dsum(col("rev")).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("o_orderdate"), col("revenue"))
  }

  /** TPC-H Q5 shape (local-supplier volume): revenue by nation for one
    * region-year, where customer and supplier share the nation. */
  val tpchQ5: Q = (s, d) => {
    val y0 = lit("1995-01-01").cast("timestamp")
    val y1 = lit("1996-01-01").cast("timestamp")
    val r = T.region(s, d).filter(col("r_name") === "ASIA")
    val n = T.nation(s, d).join(broadcast(r),
      col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val c = T.customer(s, d).join(broadcast(n),
      col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"))
    val o = T.orders(s, d)
      .filter(col("o_orderdate") >= y0 && col("o_orderdate") < y1)
      .select(col("o_orderkey"), col("o_custkey"))
    val sup = T.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val l = T.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), revenue.as("rev"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("rev")).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q10 shape (returned-item reporting): revenue lost to returns
    * per customer in a quarter; top-20 customers. */
  val tpchQ10: Q = (s, d) => {
    val q0 = lit("1995-10-01").cast("timestamp")
    val q1 = lit("1996-01-01").cast("timestamp")
    val o = T.orders(s, d)
      .filter(col("o_orderdate") >= q0 && col("o_orderdate") < q1)
      .select(col("o_orderkey"), col("o_custkey"))
    val l = T.lineitem(s, d).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), revenue.as("rev"))
    val c = T.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    val n = T.nation(s, d).select(col("n_nationkey"), col("n_name"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(dsum(col("rev")).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("c_acctbal"), col("n_name"), col("revenue"))
  }

  /** TPC-H Q12 shape (shipping-mode priority): harness lineitem has no
    * l_shipmode/l_commitdate, so the adapted form keeps Q12's plan shape
    * exactly — fact-to-fact join + conditional two-way counts — grouping
    * by `l_linestatus` and splitting orders into high/low priority. One
    * shuffle join on the order key, then a 2-row aggregate. */
  val tpchQ12: Q = (s, d) => {
    val y0 = lit("1995-01-01").cast("timestamp")
    val y1 = lit("1996-01-01").cast("timestamp")
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    val l = T.lineitem(s, d)
      .filter(col("l_shipdate") >= y0 && col("l_shipdate") < y1)
      .select(col("l_orderkey"), col("l_linestatus"))
    val o = T.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  /** TPC-H Q14 shape (promotion effect): one-month lineitem slice joined
    * to part (broadcast — part is a dim), conditional revenue ratio. The
    * percentage is rounded to 4 decimals with the exact-integer
    * `floor((2a+b)/2b)` recipe over the 2-decimal dsum results (see
    * [[graft.core.Numeric]]) — both engines divide the same two exact
    * doubles, so the result is bit-identical. */
  val tpchQ14: Q = (s, d) => {
    val m0 = lit("1995-09-01").cast("timestamp")
    val m1 = lit("1995-10-01").cast("timestamp")
    val l = T.lineitem(s, d)
      .filter(col("l_shipdate") >= m0 && col("l_shipdate") < m1)
      .select(col("l_partkey"), revenue.as("rev"))
    val p = T.part(s, d).select(col("p_partkey"), col("p_type"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        dsum(when(col("p_type") === "PROMO", col("rev")).otherwise(0.0))
          .as("promo_revenue"),
        dsum(col("rev")).as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        (floor((lit(2e6) * col("promo_revenue") + col("total_revenue")) /
          (lit(2.0) * col("total_revenue"))).cast("long") / lit(1e4))
          .as("promo_pct"))
  }

  /** TPC-H Q18 shape (large-volume customers): self-aggregate lineitem to
    * find heavy orders (sum qty > 150), join back to orders + customer,
    * top-100 by order value. Plan discipline: the heavy-order aggregate
    * and the join to orders share one shuffle key (l_orderkey /
    * o_orderkey) so AQE lines them up; customer broadcasts; the top-100
    * is TakeOrderedAndProject (no global sort materialization). */
  val tpchQ18: Q = (s, d) => {
    val heavy = T.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > 150)
    val o = T.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    val c = T.customer(s, d).select(col("c_custkey"), col("c_name"))
    heavy.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q4 shape (order priority checking): harness lineitem has no
    * l_commitdate/l_receiptdate, so "late" is adapted to shipping >60 days
    * after the order date — same plan shape: a quarter slice of orders,
    * EXISTS-reduced against lineitem (left-semi with an extra non-equi
    * residual on the equi key), then a tiny priority rollup. At 100 TB the
    * semi join shuffles once on the order key and the residual predicate
    * is evaluated inside the hash join — no second pass, no dedup. */
  val tpchQ4: Q = (s, d) => {
    val q0 = lit("1995-07-01").cast("timestamp")
    val q1 = lit("1995-10-01").cast("timestamp")
    val o = T.orders(s, d)
      .filter(col("o_orderdate") >= q0 && col("o_orderdate") < q1)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val l = T.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q7 shape (volume shipping between two nations): revenue flow
    * supplier-nation → customer-nation by ship year. Both nation dims are
    * pre-filtered to the two nations of interest BEFORE any fact join
    * (92% of suppliers/customers drop without touching lineitem), nations
    * broadcast, orders↔customer and lineitem↔orders shuffle on their keys
    * once each. */
  val tpchQ7: Q = (s, d) => {
    val nats = Seq("NATION_3", "NATION_7")
    val n1 = T.nation(s, d).filter(col("n_name").isin(nats: _*))
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val n2 = T.nation(s, d).filter(col("n_name").isin(nats: _*))
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    val sup = T.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cust = T.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
      .select(col("c_custkey"), col("cust_nation"))
    val ord = T.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    val l = T.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"), revenue.as("rev"))
    l.join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(dsum(col("rev")).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q8 shape (national market share): NATION_5's share of PROMO-part
    * revenue sold into AMERICA by order year. The share is a single IEEE
    * division of two [[dsum]]-exact doubles — bit-identical across engines.
    * Part (type-filtered) broadcasts; supplier-nation broadcast; the
    * region-filtered customer set joins orders on the shuffled cust key. */
  val tpchQ8: Q = (s, d) => {
    val y0 = lit("1995-01-01").cast("timestamp")
    val y1 = lit("1997-01-01").cast("timestamp")
    val p = T.part(s, d).filter(col("p_type") === "PROMO").select(col("p_partkey"))
    val r = T.region(s, d).filter(col("r_name") === "AMERICA")
    val n2 = T.nation(s, d)
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cn_key"))
    val cust = T.customer(s, d)
      .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
      .select(col("c_custkey"))
    val ord = T.orders(s, d)
      .filter(col("o_orderdate") >= y0 && col("o_orderdate") < y1)
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_year"))
    val n1 = T.nation(s, d)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("nation"))
    val sup = T.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("nation"))
    T.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        revenue.as("volume"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_year"))
      .agg(
        dsum(when(col("nation") === "NATION_5", col("volume")).otherwise(0.0))
          .as("nation_volume"),
        dsum(col("volume")).as("total_volume"))
      .select(col("o_year"), col("nation_volume"), col("total_volume"),
        (col("nation_volume") / col("total_volume")).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q15 shape (top supplier): quarterly revenue per supplier, keep
    * the max. The max is a 1-row aggregate joined back as an EQUI key
    * (BroadcastHashJoin, not a nested-loop) and the winner set — by
    * construction ≥1 row, almost always 1 — broadcasts into supplier. */
  val tpchQ15: Q = (s, d) => {
    val q0 = lit("1996-01-01").cast("timestamp")
    val q1 = lit("1996-04-01").cast("timestamp")
    val rev0 = T.lineitem(s, d)
      .filter(col("l_shipdate") >= q0 && col("l_shipdate") < q1)
      .groupBy(col("l_suppkey"))
      .agg(dsum(revenue).as("total_revenue"))
    val maxRev = rev0.agg(max(col("total_revenue")).as("max_rev"))
    val top = rev0.join(broadcast(maxRev), col("total_revenue") === col("max_rev"))
    T.supplier(s, d).select(col("s_suppkey"), col("s_name"))
      .join(broadcast(top), col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q17 shape (small-quantity-order revenue): for one brand's
    * parts, revenue from lineitems under 20% of that part's average
    * quantity. The correlated scalar subquery becomes a window average
    * partitioned by part key — ONE shuffle on l_partkey, no self-join.
    * Quantities are integer-valued doubles so the window average is exact
    * regardless of intra-partition order. */
  val tpchQ17: Q = (s, d) => {
    val p = T.part(s, d).filter(col("p_brand") === "Brand#23")
      .select(col("p_partkey"))
    val w = Window.partitionBy(col("l_partkey"))
    T.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .withColumn("avg_qty", avg(col("l_quantity")).over(w))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
  }

  /** TPC-H Q19 shape (discounted revenue, disjunctive brackets): three
    * brand/size/quantity OR-brackets over lineitem×part. The part side is
    * pre-filtered to the three brands (the implied disjunct of the
    * brackets) so the broadcast carries ~12% of the dim, and the mixed
    * residual evaluates inside the hash join. */
  val tpchQ19: Q = (s, d) => {
    val brands = Seq("Brand#12", "Brand#23", "Brand#14")
    val p = T.part(s, d).filter(col("p_brand").isin(brands: _*))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val bracket =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#14" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    T.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"), revenue.as("rev"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(bracket)
      .agg(dsum(col("rev")).as("revenue"))
  }

  /** TPC-H Q22 shape (global sales opportunity): customers with
    * above-average positive balance and no URGENT orders, rolled up by
    * synthetic country code (nationkey mod 10). The positive-balance
    * average is a 1-row exact-decimal aggregate broadcast into the filter;
    * the "no urgent orders" test is a left-anti shuffle on the cust key. */
  val tpchQ22: Q = (s, d) => {
    val c = T.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val avgBal = c.filter(col("c_acctbal") > 0.0)
      .agg((dsum(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
    val urgent = T.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy((col("c_nationkey") % 10).cast("long").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("cntrycode"))
  }

  /** TPC-H Q2 shape (min-cost supplier): the harness has no partsupp, so
    * the part↔supplier catalog is the DISTINCT (l_partkey, l_suppkey)
    * pairs observed in lineitem, and Q2's correlated min-supplycost
    * becomes best-balance-per-part — same correlated-extremum plan,
    * realized as ONE window over the part key (no self-join). Dims
    * broadcast; the distinct pair set shuffles once on the part key. */
  val tpchQ2: Q = (s, d) => {
    val p = T.part(s, d)
      .filter(col("p_type") === "SMALL" && col("p_size") <= 15)
      .select(col("p_partkey"), col("p_brand"))
    val eur = T.region(s, d).filter(col("r_name") === "EUROPE")
    val n = T.nation(s, d).join(broadcast(eur),
      col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val sup = T.supplier(s, d).join(broadcast(n),
      col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name"))
    val ps = T.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val w = Window.partitionBy(col("p_partkey"))
      .orderBy(col("s_acctbal").desc, col("s_suppkey"))
    ps.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(round(col("s_acctbal"), 2).as("s_acctbal"), col("s_name"),
        col("n_name"), col("p_partkey"), col("p_brand"))
      .orderBy(col("s_acctbal").desc, col("p_partkey"))
      .limit(20)
  }

  /** TPC-H Q9 shape (product-type profit by nation and year): '%red%'
    * parts through lineitem→supplier→nation with order year; profit uses
    * p_retailprice as the supply-cost proxy (no partsupp in the harness).
    * part/supplier/nation broadcast; the only big shuffle is
    * lineitem⋈orders on the order key. */
  val tpchQ9: Q = (s, d) => {
    val p = T.part(s, d).filter(col("p_name").like("%red%"))
      .select(col("p_partkey"), col("p_retailprice"))
    val sup = T.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val n = T.nation(s, d).select(col("n_nationkey"), col("n_name"))
    val o = T.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
    val amount = revenue -
      lit(0.01) * col("p_retailprice") * col("l_quantity")
    T.lineitem(s, d)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("n_name").as("nation"),
        expr("EXTRACT(YEAR FROM o_orderdate)").cast("long").as("o_year"),
        amount.as("amount"))
      .groupBy(col("nation"), col("o_year"))
      .agg(dsum(col("amount")).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q11 shape (important stock identification): per-part value
    * shipped by NATION_7's suppliers, kept where above a fraction of the
    * nation's total — Q11's HAVING-over-scalar-subquery, realized as a
    * 1-row broadcast threshold joined into the grouped set (never a
    * second scan of the fact). */
  val tpchQ11: Q = (s, d) => {
    val nat = T.nation(s, d).filter(col("n_name") === "NATION_7")
      .select(col("n_nationkey"))
    val sup = T.supplier(s, d).join(broadcast(nat),
      col("s_nationkey") === col("n_nationkey")).select(col("s_suppkey"))
    val li = T.lineitem(s, d)
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"), revenue.as("val"))
    val perPart = li.groupBy(col("l_partkey")).agg(dsum(col("val")).as("value"))
    val threshold = li.agg((dsum(col("val")) * lit(0.001)).as("threshold"))
    perPart.crossJoin(broadcast(threshold))
      .filter(col("value") > col("threshold"))
      .select(col("l_partkey").as("p_partkey"), col("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }

  /** TPC-H Q16 shape (parts/supplier relationship count): distinct
    * suppliers per (brand, type, size) bucket over the observed
    * part↔supplier pairs, excluding negative-balance suppliers (the
    * harness proxy for Q16's complaints anti-join). The anti-join
    * broadcasts the tiny exclusion set; count-distinct expands in the
    * standard two-shuffle expand plan. */
  val tpchQ16: Q = (s, d) => {
    val p = T.part(s, d)
      .filter(col("p_brand") =!= "Brand#1" && !col("p_type").like("PROMO%") &&
        col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val complaints = T.supplier(s, d).filter(col("s_acctbal") < 0.0)
      .select(col("s_suppkey"))
    T.lineitem(s, d).select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(complaints),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** TPC-H Q20 shape (potential part promotion): suppliers in NATION_3
    * who shipped more than half of the per-part average 1996 quantity of
    * a '%red%' part. Q20's correlated availqty threshold becomes a window
    * average over the part key (one shuffle); the qualifying supplier set
    * reduces supplier via a semi-join. The window average mirrors
    * [[graft.core.Numeric.davg]]'s decimal discipline so the 0.5×avg
    * threshold compares bit-identically in any engine. */
  val tpchQ20: Q = (s, d) => {
    val y0 = lit("1996-01-01").cast("timestamp")
    val y1 = lit("1997-01-01").cast("timestamp")
    val redParts = T.part(s, d).filter(col("p_name").like("%red%"))
      .select(col("p_partkey"))
    val pairQty = T.lineitem(s, d)
      .filter(col("l_shipdate") >= y0 && col("l_shipdate") < y1)
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(dsum(col("l_quantity")).as("qty"))
    val w = Window.partitionBy(col("l_partkey"))
    val partAvg = round(sum(col("qty")
      .cast(org.apache.spark.sql.types.DecimalType(20, 8))).over(w), 2)
      .cast("double") / count(lit(1)).over(w)
    val qualifying = pairQty
      .withColumn("part_avg", partAvg)
      .filter(col("qty") > lit(0.5) * col("part_avg"))
      .select(col("l_suppkey")).distinct()
    val nat = T.nation(s, d).filter(col("n_name") === "NATION_3")
      .select(col("n_nationkey"))
    T.supplier(s, d).join(broadcast(nat),
      col("s_nationkey") === col("n_nationkey"))
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): the harness has
    * no commit/receipt dates, so "late" = shipped >90 days after the order
    * date. Keeps Q21's full EXISTS / NOT-EXISTS structure: for F-status
    * orders, a NATION_5 supplier's late line where some OTHER supplier
    * participated (left-semi, equi on the order key + non-equi residual)
    * but no OTHER supplier was late (left-anti, same shape) — hash joins
    * with residuals, never a nested loop. */
  val tpchQ21: Q = (s, d) => {
    val nat = T.nation(s, d).filter(col("n_name") === "NATION_5")
      .select(col("n_nationkey"))
    val sup = T.supplier(s, d).join(broadcast(nat),
      col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"))
    val li = T.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val late = li
      .join(T.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL '90' DAY"))
      .select(col("l_orderkey"), col("l_suppkey"))
    val l2 = li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
    val l3 = late.select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
    late.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(l2, col("l_orderkey") === col("o2") &&
        col("s2") =!= col("l_suppkey"), "left_semi")
      .join(l3, col("l_orderkey") === col("o3") &&
        col("s3") =!= col("l_suppkey"), "left_anti")
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(10)
  }

  val queries: Map[String, Q] = Map(
    "tpch_q2" -> tpchQ2,
    "tpch_q9" -> tpchQ9,
    "tpch_q11" -> tpchQ11,
    "tpch_q16" -> tpchQ16,
    "tpch_q20" -> tpchQ20,
    "tpch_q21" -> tpchQ21,
    "tpch_q3" -> tpchQ3,
    "tpch_q4" -> tpchQ4,
    "tpch_q5" -> tpchQ5,
    "tpch_q7" -> tpchQ7,
    "tpch_q8" -> tpchQ8,
    "tpch_q10" -> tpchQ10,
    "tpch_q12" -> tpchQ12,
    "tpch_q14" -> tpchQ14,
    "tpch_q15" -> tpchQ15,
    "tpch_q17" -> tpchQ17,
    "tpch_q18" -> tpchQ18,
    "tpch_q19" -> tpchQ19,
    "tpch_q22" -> tpchQ22,
  )

  private val rev = "l_extendedprice * (1.0 - l_discount)"

  val oracles: Map[String, String] = Map(
    "tpch_q1" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${dsumSql(rev)} AS sum_disc_price,
         |  ${dsumSql(s"($rev) * (1.0 + l_tax)")} AS sum_charge,
         |  ${davgSql("l_quantity")} AS avg_qty,
         |  ${davgSql("l_extendedprice")} AS avg_price,
         |  ${davgSql("l_discount")} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "tpch_q2" ->
      s"""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         |ranked AS (
         |  SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
         |    ROW_NUMBER() OVER (PARTITION BY p_partkey
         |      ORDER BY s_acctbal DESC, s_suppkey) AS rn
         |  FROM ps
         |  JOIN part ON l_partkey = p_partkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_name = 'EUROPE' AND p_type = 'SMALL' AND p_size <= 15)
         |SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey,
         |  p_brand
         |FROM ranked WHERE rn = 1
         |ORDER BY s_acctbal DESC, p_partkey LIMIT 20""".stripMargin,

    "tpch_q9" ->
      s"""SELECT n_name AS nation,
         |  CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         |  ${dsumSql(s"($rev) - 0.01 * p_retailprice * l_quantity")} AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_name LIKE '%red%'
         |GROUP BY 1, 2
         |ORDER BY 1, 2 DESC""".stripMargin,

    "tpch_q11" ->
      s"""WITH li AS (
         |  SELECT l_partkey, $rev AS val
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  WHERE n_name = 'NATION_7')
         |SELECT l_partkey AS p_partkey, ${dsumSql("val")} AS value
         |FROM li GROUP BY l_partkey
         |HAVING ${dsumSql("val")} > (SELECT ${dsumSql("val")} * 0.001 FROM li)
         |ORDER BY value DESC, p_partkey""".stripMargin,

    "tpch_q16" ->
      s"""SELECT p_brand, p_type, p_size,
         |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
         |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
         |JOIN part ON l_partkey = p_partkey
         |WHERE p_brand <> 'Brand#1'
         |  AND p_type NOT LIKE 'PROMO%'
         |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
         |  AND l_suppkey NOT IN (
         |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
         |GROUP BY p_brand, p_type, p_size
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "tpch_q20" ->
      s"""WITH pair_qty AS (
         |  SELECT l_partkey, l_suppkey, ${dsumSql("l_quantity")} AS qty
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE p_name LIKE '%red%'
         |    AND l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-01-01'
         |  GROUP BY l_partkey, l_suppkey),
         |qualifying AS (
         |  SELECT DISTINCT l_suppkey FROM (
         |    SELECT l_suppkey, qty,
         |      CAST(ROUND(SUM(CAST(qty AS DECIMAL(20,8)))
         |          OVER (PARTITION BY l_partkey), 2) AS DOUBLE)
         |        / COUNT(*) OVER (PARTITION BY l_partkey) AS part_avg
         |    FROM pair_qty)
         |  WHERE qty > 0.5 * part_avg)
         |SELECT s_suppkey, s_name
         |FROM supplier
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE n_name = 'NATION_3'
         |  AND s_suppkey IN (SELECT l_suppkey FROM qualifying)
         |ORDER BY s_suppkey""".stripMargin,

    "tpch_q21" ->
      s"""WITH late AS (
         |  SELECT l_orderkey, l_suppkey
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderstatus = 'F'
         |    AND l_shipdate > o_orderdate + INTERVAL '90' DAY)
         |SELECT s_name, COUNT(*) AS numwait
         |FROM late l1
         |JOIN supplier ON l1.l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE n_name = 'NATION_5'
         |  AND EXISTS (
         |    SELECT 1 FROM lineitem l2
         |    WHERE l2.l_orderkey = l1.l_orderkey
         |      AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (
         |    SELECT 1 FROM late l3
         |    WHERE l3.l_orderkey = l1.l_orderkey
         |      AND l3.l_suppkey <> l1.l_suppkey)
         |GROUP BY s_name
         |ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin,

    "tpch_q3" ->
      s"""SELECT l_orderkey, o_orderdate, revenue FROM (
         |  SELECT l_orderkey, o_orderdate, ${dsumSql(rev)} AS revenue
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  WHERE c_mktsegment = 'BUILDING'
         |    AND o_orderdate < TIMESTAMP '1995-03-15'
         |    AND l_shipdate > TIMESTAMP '1995-03-15'
         |  GROUP BY l_orderkey, o_orderdate)
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "tpch_q5" ->
      s"""SELECT n_name, ${dsumSql(rev)} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1995-01-01'
         |  AND o_orderdate < TIMESTAMP '1996-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,

    "tpch_q10" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name, revenue FROM (
         |  SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal, n_name,
         |    ${dsumSql(rev)} AS revenue
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  WHERE l_returnflag = 'R'
         |    AND o_orderdate >= TIMESTAMP '1995-10-01'
         |    AND o_orderdate < TIMESTAMP '1996-01-01'
         |  GROUP BY c_custkey, c_name, round(c_acctbal, 2), n_name)
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "tpch_q6" ->
      s"""SELECT ${dsumSql("l_extendedprice * l_discount")} AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
         |  AND l_shipdate < TIMESTAMP '1996-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24""".stripMargin,

    "tpch_q12" ->
      s"""SELECT l_linestatus,
         |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
         |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
         |  AND l_shipdate < TIMESTAMP '1996-01-01'
         |GROUP BY l_linestatus
         |ORDER BY l_linestatus""".stripMargin,

    "tpch_q14" ->
      s"""SELECT promo_revenue, total_revenue,
         |  CAST(floor((2e6 * promo_revenue + total_revenue)
         |    / (2.0 * total_revenue)) AS BIGINT) / 1e4 AS promo_pct
         |FROM (
         |  SELECT
         |    ${dsumSql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} AS promo_revenue,
         |    ${dsumSql(rev)} AS total_revenue
         |  FROM lineitem
         |  JOIN part ON l_partkey = p_partkey
         |  WHERE l_shipdate >= TIMESTAMP '1995-09-01'
         |    AND l_shipdate < TIMESTAMP '1995-10-01')""".stripMargin,

    "tpch_q18" ->
      s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
         |  sum_qty
         |FROM (
         |  SELECT l_orderkey,
         |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         |  FROM lineitem GROUP BY l_orderkey
         |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 150) h
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""".stripMargin,

    "tpch_q4" ->
      s"""SELECT o_orderpriority, count(*) AS order_count
         |FROM orders
         |WHERE o_orderdate >= TIMESTAMP '1995-07-01'
         |  AND o_orderdate < TIMESTAMP '1995-10-01'
         |  AND EXISTS (
         |    SELECT 1 FROM lineitem
         |    WHERE l_orderkey = o_orderkey
         |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,

    "tpch_q7" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
         |  ${dsumSql(rev)} AS revenue
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
         |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
         |  AND l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS BIGINT)
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "tpch_q8" ->
      s"""SELECT o_year, nation_volume, total_volume,
         |  nation_volume / total_volume AS mkt_share
         |FROM (
         |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |    ${dsumSql("CASE WHEN n1.n_name = 'NATION_5' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} AS nation_volume,
         |    ${dsumSql(rev)} AS total_volume
         |  FROM lineitem
         |  JOIN part ON l_partkey = p_partkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |  JOIN region ON n2.n_regionkey = r_regionkey
         |  WHERE p_type = 'PROMO' AND r_name = 'AMERICA'
         |    AND o_orderdate >= TIMESTAMP '1995-01-01'
         |    AND o_orderdate < TIMESTAMP '1997-01-01'
         |  GROUP BY CAST(year(o_orderdate) AS BIGINT))
         |ORDER BY o_year""".stripMargin,

    "tpch_q13" ->
      s"""SELECT c_count, count(*) AS custdist
         |FROM (
         |  SELECT c_custkey, count(o_orderkey) AS c_count
         |  FROM customer
         |  LEFT JOIN orders ON c_custkey = o_custkey
         |    AND o_orderpriority <> '1-URGENT'
         |  GROUP BY c_custkey)
         |GROUP BY c_count
         |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "tpch_q15" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, ${dsumSql(rev)} AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM supplier JOIN rev ON s_suppkey = l_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,

    "tpch_q17" ->
      s"""SELECT ${dsumSql("l_extendedprice")} / 7.0 AS avg_yearly
         |FROM lineitem
         |JOIN part ON p_partkey = l_partkey
         |WHERE p_brand = 'Brand#23'
         |  AND l_quantity < (
         |    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
         |    WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "tpch_q19" ->
      s"""SELECT ${dsumSql(rev)} AS revenue
         |FROM lineitem
         |JOIN part ON p_partkey = l_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
         |       AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
         |       AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "tpch_q22" ->
      s"""SELECT cntrycode, count(*) AS numcust,
         |  ${dsumSql("c_acctbal")} AS totacctbal
         |FROM (
         |  SELECT CAST(c_nationkey % 10 AS BIGINT) AS cntrycode, c_acctbal
         |  FROM customer
         |  WHERE c_acctbal > (
         |      SELECT ${dsumSql("c_acctbal")} / COUNT(*)
         |      FROM customer WHERE c_acctbal > 0.0)
         |    AND NOT EXISTS (
         |      SELECT 1 FROM orders
         |      WHERE o_custkey = c_custkey
         |        AND o_orderpriority = '1-URGENT'))
         |GROUP BY cntrycode
         |ORDER BY cntrycode""".stripMargin,
  )
}
