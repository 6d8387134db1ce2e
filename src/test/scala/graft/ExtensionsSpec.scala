package graft

import org.apache.spark.sql.functions._

/** The SparkSessionExtensions surface: engine functions usable from SQL
  * text after install, matching the Column API bit-for-bit. */
class ExtensionsSpec extends SparkSpecBase {

  test("float_dot is callable from spark.sql after install") {
    GraftExtensions.install(spark)
    graft.core.Tables(spark, sf0001, "embeddings").limit(50)
      .createOrReplaceTempView("emb_ext")
    val viaSql = spark.sql(
      "SELECT vec_id, float_dot(embedding, embedding) AS d FROM emb_ext")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaCol = spark.table("emb_ext")
      .select(col("vec_id"),
        graft.expr.FloatDotProduct.fdot(col("embedding"), col("embedding")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql == viaCol && viaSql.nonEmpty)
  }

  test("count_min is callable from spark.sql and matches the Column API") {
    GraftExtensions.install(spark)
    graft.core.Tables(spark, sf0001, "events").limit(500)
      .createOrReplaceTempView("ev_ext")
    val viaSql = spark.sql(
      "SELECT count_min(event_type, 2, 64) AS sk FROM ev_ext")
      .collect()(0).getSeq[Long](0)
    val viaCol = spark.table("ev_ext")
      .agg(graft.expr.CountMin.agg(col("event_type"), 2, 64).as("sk"))
      .collect()(0).getSeq[Long](0)
    assert(viaSql == viaCol)
    assert(viaSql.sum == 2 * 500L, "each row increments one counter per sketch row")
  }

  test("install is idempotent") {
    GraftExtensions.install(spark)
    GraftExtensions.install(spark)
    assert(spark.sql("SELECT float_dot(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT))) AS d")
      .collect()(0).getDouble(0) == 2.0)
  }

  test("DuckDB-named aliases return DuckDB's values") {
    GraftExtensions.install(spark)
    // expected values are DuckDB's: each SELECT run by the duckdb module
    // prints them (`duckdb.sql(q).fetchall()`)
    val cases = Seq(
      "string_split('a.b', '.')" -> Seq("a", "b"),
      "string_split('', ' ')" -> Seq(""),
      "string_split('a  b', ' ')" -> Seq("a", "", "b"),
      "string_split(CAST(NULL AS STRING), ' ')" -> null,
      "string_split('abc', '')" -> Seq("a", "b", "c"),
      "string_split('', '')" -> Seq(""),
      "generate_series(5, 1)" -> Seq(),
      "generate_series(1, 3)" -> Seq(1L, 2L, 3L),
      "generate_series(1, 5, -1)" -> Seq(),
      "generate_series(5, 1, -2)" -> Seq(5, 3, 1),
      "generate_series(CAST(NULL AS INT), 3)" -> null,
      "CAST(generate_series(TIMESTAMP '2020-01-01 00:00:00', " +
        "TIMESTAMP '2020-01-03 00:00:00', INTERVAL 1 DAY) AS ARRAY<STRING>)" ->
        (1 to 3).map(d => s"2020-01-0$d 00:00:00"),
      "xor(-5, 3)" -> -8,
      "epoch_us(TIMESTAMP '1969-12-31 23:59:59.5')" -> -500000L,
      "epoch_us(DATE '1970-01-02')" -> 86400000000L,
      "(SELECT quantile_cont(x, 0.25) FROM VALUES (1), (2), (NULL), (10) AS t(x))" -> 1.5,
      "(SELECT count(*) FROM (SELECT unnest(CAST(array() AS ARRAY<INT>)) AS u))" -> 0L,
      "(SELECT count(*) FROM (SELECT unnest(CAST(NULL AS ARRAY<INT>)) AS u))" -> 0L)
    cases.foreach { case (e, want) =>
      val got = spark.sql(s"SELECT $e").collect()(0).get(0)
      assert(got == want, s"$e = $got, DuckDB gives $want")
    }
    val types = spark.sql("SELECT generate_series(1, 3), epoch_us(TIMESTAMP '1970-01-01')")
      .schema.map(_.dataType.simpleString)
    assert(types == Seq("array<bigint>", "bigint"))
  }

  test("engine functions reject a wrong argument count") {
    GraftExtensions.install(spark)
    Seq("float_dot(array(CAST(1.0 AS FLOAT)))" ->
        "float_dot(a, b) takes exactly 2 arguments",
      "md5_48('a', 'b')" -> "md5_48(s) takes exactly 1 argument",
      "generate_series(1)" ->
        "generate_series(start, stop[, step]) takes 2 to 3 arguments")
      .foreach { case (e, msg) =>
        val err = intercept[Exception](spark.sql(s"SELECT $e").collect())
        assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
          .exists(t => Option(t.getMessage).exists(_.contains(msg))),
          s"$e: ${err.getMessage.take(300)}")
      }
  }
}
