package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Engine extension installer (SURVEY §4.3).
  *
  * Registers the native expressions with Spark's function registry so they
  * are first-class in SQL text as well as the Column API:
  *
  *   spark.sql("SELECT float_dot(a.embedding, b.embedding) ...")
  *
  * Two installation routes, both standard:
  *   - config-time: `spark.sql.extensions=graft.GraftExtensions`
  *     (constructor injection via [[apply]]);
  *   - runtime: [[GraftExtensions.install]] on a live session (used by the
  *     harness mains, whose SparkSession is built by the driver without
  *     extension conf).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.expr.RewriteFloatDot)
  }
}

object GraftExtensions {
  private type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** One registry row: `sig` names the function and its parameters
    * (`[...]` marks optional trailing ones), `cls` is the expression
    * class `DESCRIBE FUNCTION` reports, `build` maps the argument list to
    * the expression. The arity is checked before building, because SQL
    * text comes from outside the program. */
  private def fn(sig: String, cls: Class[_])(
      build: PartialFunction[Seq[Expression], Expression]): Descriptor = {
    val name = sig.takeWhile(_ != '(')
    val max = sig.count(_ == ',') + 1
    val min = max - sig.count(_ == '[')
    val arity =
      if (min == max) s"exactly $max argument${if (max == 1) "" else "s"}"
      else s"$min to $max arguments"
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (children: Seq[Expression]) => {
        require(build.isDefinedAt(children), s"$sig takes $arity")
        build(children)
      })
  }

  /** DuckDB's `generate_series`: inclusive like Spark's `sequence`, but an
    * empty list when the step runs away from `stop` (Spark counts down or
    * fails). The two-argument form is DuckDB's BIGINT overload; with a
    * step the element type is `sequence`'s: the widest integral argument,
    * or TIMESTAMP for TIMESTAMP bounds with an INTERVAL step. */
  private def generateSeries(start: Expression, stop: Expression,
      step: Option[Expression]): Expression = step match {
    case None =>
      val (a, b) = (Cast(start, LongType), Cast(stop, LongType))
      If(GreaterThan(a, b), ArrayRepeat(a, Literal(0)), new Sequence(a, b))
    case Some(s) =>
      val up = GreaterThan(Add(start, s), start)
      If(Or(And(up, GreaterThan(start, stop)),
          And(Not(up), LessThan(start, stop))),
        ArrayRepeat(start, Literal(0)), new Sequence(start, stop, s))
  }

  /** DuckDB's `string_split`: the separator is a literal string, not
    * Spark's `split` regex, and empty fields are kept; an empty separator
    * splits into characters. */
  private def stringSplit(str: Expression, sep: Expression): Expression =
    If(EqualTo(sep, Literal("")),
      If(EqualTo(str, Literal("")), CreateArray(Seq(Literal(""))),
        RegExpExtractAll(str, Literal("(?s)."), Literal(0))),
      StringSplitSQL(str, sep))

  /** Every engine function, registered by BOTH installation routes (the
    * extensions constructor and [[install]]) — one list, so a new
    * function can't be visible on one route and missing on the other.
    * The last six are DuckDB-named functions with DuckDB semantics, so
    * that oracle texts using them run unchanged in [[SqlCatalog]]. */
  private val descriptors: Seq[Descriptor] = Seq(
    fn("float_dot(a, b)", classOf[expr.FloatDotProduct]) {
      case Seq(a, b) => expr.FloatDotProduct(a, b) },
    fn("md5_48(s)", classOf[expr.Md5Prefix48]) {
      case Seq(s) => expr.Md5Prefix48(s) },
    fn("sliding_min(arr, w)", classOf[expr.SlidingMin]) {
      case Seq(arr, w) => expr.SlidingMin(arr, w) },
    fn("gram_hash48(s, k)", classOf[expr.GramHash48]) {
      case Seq(s, k) => expr.GramHash48(s, k) },
    fn("shingle_xx64(s, n)", classOf[expr.ShingleXx64]) {
      case Seq(s, n) => expr.ShingleXx64(s, n) },
    fn("minhash_sig(s, n)", classOf[expr.MinHashSig]) {
      case Seq(s, n) => expr.MinHashSig(s, n) },
    fn("simhash48(s, n, bits)", classOf[expr.SimHash48]) {
      case Seq(s, n, bits) => expr.SimHash48(s, n, bits) },
    fn("theta_sketch_agg(v)", classOf[expr.ThetaSketchAgg]) {
      case Seq(v) => expr.ThetaSketchAgg(v) },
    fn("theta_estimate(sk)", classOf[expr.ThetaEstimate]) {
      case Seq(sk) => expr.ThetaEstimate(sk) },
    fn("theta_intersect(a, b)", classOf[expr.ThetaIntersect]) {
      case Seq(a, b) => expr.ThetaIntersect(a, b) },
    fn("misra_gries(item, k)", classOf[expr.MisraGriesAgg]) {
      case Seq(item, k) => expr.MisraGriesAgg(item, k) },
    fn("count_min(item, depth, width)", classOf[expr.CountMinAgg]) {
      case Seq(item, depth, width) => expr.CountMinAgg(item, depth, width) },
    fn("bloom_agg(key, numBits, numHashes)", classOf[expr.BloomFilterAgg]) {
      case Seq(key, bits, hashes) => expr.BloomFilterAgg(key, bits, hashes) },
    fn("bloom_contains(bf, key)", classOf[expr.BloomMightContain]) {
      case Seq(bf, key) => expr.BloomMightContain(bf, key) },
    fn("kll_sketch_agg(v)", classOf[expr.KllDoublesAgg]) {
      case Seq(v) => expr.KllDoublesAgg(v) },
    fn("kll_quantile(sk, q)", classOf[expr.KllQuantile]) {
      case Seq(sk, q) => expr.KllQuantile(sk, q) },
    fn("kll_n(sk)", classOf[expr.KllN]) {
      case Seq(sk) => expr.KllN(sk) },
    fn("unnest(list)", classOf[Explode]) {
      case Seq(list) => Explode(list) },
    fn("string_split(s, sep)", classOf[StringSplitSQL]) {
      case Seq(s, sep) => stringSplit(s, sep) },
    fn("generate_series(start, stop[, step])", classOf[Sequence]) {
      case Seq(start, stop) => generateSeries(start, stop, None)
      case Seq(start, stop, step) => generateSeries(start, stop, Some(step)) },
    fn("quantile_cont(x, q)", classOf[Percentile]) {
      case Seq(x, q) => new Percentile(x, q) },
    fn("epoch_us(ts)", classOf[UnixMicros]) {
      case Seq(ts) => UnixMicros(Cast(ts, TimestampType)) },
    fn("xor(a, b)", classOf[BitwiseXor]) {
      case Seq(a, b) => BitwiseXor(a, b) })

  /** Runtime-settable confs the engine's operators are tuned for. Applied
    * by [[install]] (the explicit engine-installation entry point); query
    * builders and table readers themselves never mutate a caller's
    * session.
    *
    *   - objectHashAggregate fallback: the default flushes to sort-based
    *     aggregation after 128 in-memory groups, pathological for the tiny
    *     fixed-size sketch buffers of [[graft.expr.MinHashAgg]];
    *   - nanosAsLong: kept for the LEGACY events layout — earlier harness
    *     data carried TIMESTAMP(NANOS), which Spark 4 refuses to read
    *     without it. The conf is inert for the current `timestamp[us]`
    *     layout; [[graft.core.Tables]] branches on the observed type. */
  val recommendedConfs: Map[String, String] = Map(
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4194304",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Idempotently register the engine functions on a live session and
    * apply [[recommendedConfs]]. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    descriptors.foreach { case (id, info, builder) =>
      org.apache.spark.sql.graft.Bridge.registerFunction(spark, id, info, builder)
    }
    recommendedConfs.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
