package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.TimestampType

import graft.core.Tables

/** The per-session schema memo of [[graft.core.Tables]]: a table's Parquet
  * schema is inferred once, later reads and view registrations run no
  * Spark job, a rewritten file is inferred again, and every read is still
  * an independent DataFrame. */
class TablesSpec extends SparkSpecBase {

  test("memoized schemas equal a plain parquet read for all ten tables") {
    for (t <- Tables.All) {
      val path = s"$sf0001/$t.parquet"
      Tables(spark, sf0001, t) // fill the memo
      assert(Tables.readParquet(spark, path).schema ===
        spark.read.parquet(path).schema, t)
    }
    // events.ts keeps its engine-facing type on a memo hit
    assert(Tables(spark, sf0001, "events").schema("ts").dataType === TimestampType)
  }

  test("a repeated Tables.apply runs no Spark job") {
    Tables(spark, sf0001, "lineitem")
    assert(jobsDuring(Tables(spark, sf0001, "lineitem")) === 0)
    assert(jobsDuring(Tables.All.foreach(Tables(spark, sf0001, _))) === 0)
  }

  test("SqlCatalog.sql builds with no Spark job once views are registered") {
    SqlCatalog.registerViews(spark, sf0001)
    assert(jobsDuring(SqlCatalog.sql("tpch_q6")(spark, sf0001)) === 0)
  }

  test("a file rewritten at the same path is read with its new schema") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-tables")
    val target = dir.resolve("region.parquet")
    def writeFile(df: DataFrame): Unit = {
      val out = Files.createTempDirectory("graft-tables-out").resolve("t")
      df.coalesce(1).write.parquet(out.toString)
      val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get
      Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
    }
    writeFile(Seq((0, "AFRICA")).toDF("r_regionkey", "r_name"))
    assert(jobsDuring(Tables(spark, dir.toString, "region")) > 0)
    assert(Tables(spark, dir.toString, "region").columns.toSeq ===
      Seq("r_regionkey", "r_name"))
    writeFile(Seq((0, "AFRICA", "lar deposits")).toDF("r_regionkey", "r_name", "r_comment"))
    var df: DataFrame = null
    assert(jobsDuring { df = Tables(spark, dir.toString, "region") } > 0)
    assert(df.columns.toSeq === Seq("r_regionkey", "r_name", "r_comment"))
    assert(df.collect().map(_.getString(2)).toSeq === Seq("lar deposits"))
  }

  test("a self-join of two lineitem reads resolves its column references") {
    val a = Tables.lineitem(spark, sf0001)
    val b = Tables.lineitem(spark, sf0001)
    val n = a.join(b, a("l_orderkey") === b("l_orderkey") &&
        a("l_linenumber") < b("l_linenumber"))
      .select(a("l_partkey"), b("l_partkey")).count()
    val plain = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val expect = plain.as("x").join(plain.as("y"), expr(
        "x.l_orderkey = y.l_orderkey and x.l_linenumber < y.l_linenumber"))
      .count()
    assert(n === expect)
    assert(n > 0)
  }
}
