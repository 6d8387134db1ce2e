package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.TimestampType

import graft.core.Tables

/** The per-session schema memo of [[graft.core.Tables]]: a table's Parquet
  * schema is inferred once, later reads and view registrations run no
  * Spark job, a rewritten file is inferred again, and every read is still
  * an independent DataFrame. And the per-session view memo of
  * [[SqlCatalog.registerViews]]: a view is registered again only when its
  * file, its directory or its catalog entry changed. */
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

  /** Writes `df` as the single parquet file `target`, replacing it. */
  private def writeFile(df: DataFrame, target: Path): Unit = {
    val out = Files.createTempDirectory("graft-tables-out").resolve("t")
    df.coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a file rewritten at the same path is read with its new schema") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-tables")
    val target = dir.resolve("region.parquet")
    writeFile(Seq((0, "AFRICA")).toDF("r_regionkey", "r_name"), target)
    assert(jobsDuring(Tables(spark, dir.toString, "region")) > 0)
    assert(Tables(spark, dir.toString, "region").columns.toSeq ===
      Seq("r_regionkey", "r_name"))
    writeFile(Seq((0, "AFRICA", "lar deposits")).toDF("r_regionkey", "r_name", "r_comment"),
      target)
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

  /** The session catalog's entry for each harness view. */
  private def entries(): Seq[AnyRef] = Tables.All.map(t => Bridge.tempView(spark, t).get)

  private def count(view: String): Long = spark.table(view).count()

  /** A copy of the sf0.001 tables in a new directory under /tmp. */
  private def copyOfSf0001(): Path = {
    val dir = Files.createTempDirectory("graft-views")
    Tables.All.foreach(t => Files.copy(Paths.get(sf0001, s"$t.parquet"), dir.resolve(s"$t.parquet")))
    dir
  }

  private def oneRegion(): DataFrame = {
    val s = spark
    import s.implicits._
    Seq((0L, "AFRICA", "only")).toDF("r_regionkey", "r_name", "r_comment")
  }

  test("a second registerViews leaves every catalog entry the same object") {
    SqlCatalog.registerViews(spark, sf0001)
    val first = entries()
    assert(jobsDuring(SqlCatalog.registerViews(spark, sf0001)) === 0)
    entries().zip(first).zip(Tables.All).foreach { case ((now, before), t) =>
      assert(now eq before, s"$t was registered again")
    }
  }

  test("a table rewritten in place is registered again and queried with its new rows") {
    val dir = copyOfSf0001()
    try {
      SqlCatalog.registerViews(spark, dir.toString)
      assert(count("region") === 5)
      val nation = Bridge.tempView(spark, "nation").get
      writeFile(oneRegion(), dir.resolve("region.parquet"))
      SqlCatalog.registerViews(spark, dir.toString)
      assert(count("region") === 1)
      assert(Bridge.tempView(spark, "nation").get eq nation, "an unchanged file keeps its view")
    } finally SqlCatalog.registerViews(spark, sf0001)
  }

  test("a replaced and a dropped view are both restored by the next SqlCatalog.sql") {
    def q5() = SqlCatalog.sql("tpch_q5")(spark, sf0001).collect().toSeq
    val want = q5()
    assert(want.nonEmpty)
    Tables.nation(spark, sf0001).where("n_nationkey < 0").createOrReplaceTempView("nation")
    assert(count("nation") === 0)
    assert(q5() === want)
    spark.catalog.dropTempView("region")
    assert(q5() === want)
    assert(count("nation") === 25)
    assert(count("region") === 5)
  }

  test("registering another sfDir repoints the views") {
    val dir = copyOfSf0001()
    writeFile(oneRegion(), dir.resolve("region.parquet"))
    try {
      SqlCatalog.registerViews(spark, sf0001)
      val lineitem = Bridge.tempView(spark, "lineitem").get
      assert(count("region") === 5)
      SqlCatalog.registerViews(spark, dir.toString)
      assert(count("region") === 1)
      assert(!(Bridge.tempView(spark, "lineitem").get eq lineitem), "lineitem points at the copy")
      SqlCatalog.registerViews(spark, sf0001)
      assert(count("region") === 5)
    } finally SqlCatalog.registerViews(spark, sf0001)
  }
}
