package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** Result digest in the canonical form of the repo's DuckDB
  * oracle check: top-level columns sorted by name, values compared exactly,
  * rows in output order. `canon.py` is the Python twin that digests DuckDB's
  * oracle result; the two encodings must stay byte-identical.
  *
  * Encoding of one value: `N` null; `i<int>` any integral number (integers,
  * booleans, integral floats and decimals — the oracle check compares
  * `1 == 1.0 == True`); `f<hex bits>` other doubles and floats; `NaN`;
  * `d<plain>` a decimal no double represents exactly; `s<len>:<utf8>`;
  * `D<epoch days>`; `t<epoch micros>`; `[..]` arrays; `{..}` structs;
  * `M[..]` maps. Each value is followed by `|`.
  *
  * A row hashes to the first 8 bytes of the MD5 of its encoding; the result
  * digest is `<rows>:<H>` with H = sum of h_i * B^(n-1-i) mod 2^64: each
  * partition computes its own (rows, H) and [[digest]] folds them in
  * partition order.
  *
  * A result whose ORDER BY is not total on the data names its sort columns
  * as `ties`. Then h_i hashes only those columns, so H checks their order,
  * and the digest is `<rows>:<H>:<S>` with S = sum of the full rows' hashes
  * mod 2^64: rows tied on the sort columns may come in any order. */
object Canon {
  private val B = 0x100000001b3L

  private def pow(b: Long, e: Long): Long = {
    var r = 1L; var x = b; var k = e
    while (k > 0) { if ((k & 1) == 1) r *= x; x *= x; k >>= 1 }
    r
  }

  private def num(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN) sb.append("NaN")
    else if (!d.isInfinite && d == Math.rint(d) && Math.abs(d) < 9.2e18)
      sb.append('i').append(d.toLong)
    else sb.append('f').append(java.lang.Long.toHexString(
      java.lang.Double.doubleToLongBits(d)))

  private def dec(sb: java.lang.StringBuilder, bd: java.math.BigDecimal): Unit = {
    val s = bd.stripTrailingZeros
    if (s.scale <= 0) sb.append('i').append(s.toBigIntegerExact)
    else {
      val d = bd.doubleValue
      if (!d.isInfinite && new java.math.BigDecimal(d).compareTo(bd) == 0) num(sb, d)
      else sb.append('d').append(s.toPlainString)
    }
  }

  private def value(sb: java.lang.StringBuilder, x: SpecializedGetters, i: Int,
      dt: DataType): Unit = {
    if (x.isNullAt(i)) sb.append('N')
    else dt match {
      case BooleanType => sb.append(if (x.getBoolean(i)) "i1" else "i0")
      case ByteType => sb.append('i').append(x.getByte(i).toInt)
      case ShortType => sb.append('i').append(x.getShort(i).toInt)
      case IntegerType => sb.append('i').append(x.getInt(i))
      case LongType => sb.append('i').append(x.getLong(i))
      case FloatType => num(sb, x.getFloat(i).toDouble)
      case DoubleType => num(sb, x.getDouble(i))
      case d: DecimalType =>
        dec(sb, x.getDecimal(i, d.precision, d.scale).toJavaBigDecimal)
      case _: StringType =>
        val s = x.getUTF8String(i).toString
        sb.append('s').append(s.length).append(':').append(s)
      case DateType => sb.append('D').append(x.getInt(i))
      case TimestampType | TimestampNTZType => sb.append('t').append(x.getLong(i))
      case ArrayType(et, _) =>
        val a = x.getArray(i)
        sb.append('[')
        var k = 0
        while (k < a.numElements()) { value(sb, a, k, et); k += 1 }
        sb.append(']')
      case s: StructType =>
        val r = x.getStruct(i, s.size)
        sb.append('{')
        s.fields.indices.foreach(k => value(sb, r, k, s.fields(k).dataType))
        sb.append('}')
      case MapType(kt, vt, _) =>
        val m = x.getMap(i)
        sb.append("M[")
        var k = 0
        while (k < m.numElements()) {
          value(sb, m.keyArray(), k, kt); value(sb, m.valueArray(), k, vt); k += 1
        }
        sb.append(']')
      case other => sb.append('?').append(x.get(i, other))
    }
    sb.append('|')
  }

  /** (rows, H, S) of one partition; `ties` empty means no S. */
  def partition(schema: StructType, order: Array[Int], ties: Array[Int])(
      it: Iterator[InternalRow]): (Long, Long, Long) = {
    val md5 = MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder
    def hash(row: InternalRow, cols: Array[Int]): Long = {
      sb.setLength(0)
      cols.foreach(c => value(sb, row, c, schema.fields(c).dataType))
      val d = md5.digest(sb.toString.getBytes(UTF_8))
      java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    var n = 0L; var h = 0L; var s = 0L
    while (it.hasNext) {
      val row = it.next()
      if (ties.isEmpty) h = h * B + hash(row, order)
      else { h = h * B + hash(row, ties); s += hash(row, order) }
      n += 1
    }
    (n, h, s)
  }

  /** Executes `df`'s physical plan once, as `queryExecution.toRdd.count()`
    * would, digesting each partition instead of only counting it. */
  def digest(df: DataFrame, ties: Seq[String]): String = {
    val schema = df.schema
    val order = schema.fields.indices.sortBy(i => schema.fields(i).name).toArray
    val tieCols = ties.map(schema.fieldIndex).toArray
    val rdd = df.queryExecution.toRdd
    val parts = df.sparkSession.sparkContext.runJob(rdd,
      partition(schema, order, tieCols) _)
    val (n, h, s) = parts.foldLeft((0L, 0L, 0L)) {
      case ((n0, h0, s0), (n1, h1, s1)) => (n0 + n1, h0 * pow(B, n1) + h1, s0 + s1)
    }
    if (ties.isEmpty) f"$n:$h%016x" else f"$n:$h%016x:$s%016x"
  }
}
