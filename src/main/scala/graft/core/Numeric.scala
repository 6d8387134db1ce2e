package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Determinism helpers for float aggregation.
  *
  * Double summation is order-dependent; at 100 TB the reduction order is
  * whatever the shuffle delivers, so any query whose declared result sums
  * raw doubles is nondeterministic run-to-run AND engine-to-engine. The
  * fix used across the engine: evaluate the per-row arithmetic in IEEE
  * double (bit-identical in any engine), round-trip the per-row value
  * through `DECIMAL(20,8)` (the harness data has ≤4 decimal digits, so
  * this cast is exact), sum the decimals (exact, order-independent), and
  * cast the final sum back to double. The same recipe is mirrored in every
  * `oracleSql` as `CAST(SUM(CAST(e AS DECIMAL(20,8))) AS DOUBLE)`.
  */
object Numeric {
  /** Order-independent exact sum of a (≤8-decimal-digit) double expression.
    *
    * The final ROUND(·, 2) before the double cast is load-bearing: DuckDB
    * casts wide decimals to double via int128→double followed by /10^scale
    * (two roundings, up to 1 ulp off), while Spark's BigDecimal cast is
    * correctly rounded. Rounding to 2 decimals first keeps value×100 under
    * 2^53, so both engines' casts become exact and bit-identical.
    */
  def dsum(e: Column): Column =
    round(sum(e.cast(DecimalType(20, 8))), 2).cast(DoubleType)

  /** Order-independent average: exact decimal sum / count, divided in
    * double (single IEEE division — deterministic). */
  def davg(e: Column): Column =
    dsum(e) / count(lit(1))

  /** Exact integer division on long columns — the SQL `DIV` operator.
    * `Column./` is always DOUBLE division in Spark, so fixed-point integer
    * algorithms (k-means centroids, PageRank ranks, z-order ranks) route
    * through the catalyst `IntegralDivide` to stay exact and
    * engine-portable. Dialect note: Spark `DIV` truncates toward zero,
    * DuckDB `//` floors — identical results on the NON-NEGATIVE operands
    * every engine call site uses; keep operands non-negative in any
    * oracle-checked use. */
  def idiv(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graft.Bridge.expression(a),
        org.apache.spark.sql.graft.Bridge.expression(b)))

  /** `c` as DOUBLE: the cast the statistics keys apply to their exact
    * integer or decimal aggregates before the one final IEEE expression. */
  def dbl(c: Column): Column = c.cast(DoubleType)
  def dbl(c: String): Column = dbl(col(c))

  /** SQL-side rendering of [[dsum]] for oracle queries. */
  def dsumSql(e: String): String =
    s"CAST(ROUND(SUM(CAST(($e) AS DECIMAL(20,8))), 2) AS DOUBLE)"

  def davgSql(e: String): String =
    s"(${dsumSql(e)} / COUNT(*))"
}
