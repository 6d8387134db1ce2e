package graft.core

import java.util.{Collections, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Readers for the harness tables (TESTDATA.md / FIXTURES.md §B).
  *
  * Generalizes the reference's pager + `db_open`
  * (`/root/reference/db.cpp:280-329`): storage is delegated entirely to
  * Spark's Parquet source framework — columnar scans with predicate
  * pushdown, column pruning and min/max row-group pruning replace the
  * hand-rolled 4 KiB page cache (`db.cpp:127-167`). At cluster scale each
  * table is a directory of many Parquet files; `local[n]` reads the same
  * plan shape against a single file.
  *
  * Like `db_open`, a table's layout is learned once per session: the first
  * read of a file takes its Parquet schema from the footer, read on the
  * driver with no Spark job, and every read passes that schema to the
  * reader, so no read of a harness table runs a schema job. The memo
  * is keyed by the file's qualified path, modification time and length; a
  * file rewritten in place has a new mtime or length, so its footer is
  * read afresh (a directory table's mtime moves when a file is added,
  * removed or renamed in it, as Spark's writers do). Each call still
  * returns a new DataFrame with its own file listing, so self-joins, plans
  * and statistics are those of a plain `spark.read.parquet`.
  */
object Tables {
  val All: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Footer schemas per session; weak keys, so a discarded session drops
    * its memo with it. */
  private val schemas = Collections.synchronizedMap(
    new WeakHashMap[SparkSession, ConcurrentHashMap[(String, Long, Long), StructType]]())

  /** The file's qualified path, modification time and length: a file
    * rewritten in place gets a new stamp. One `getFileStatus`, no job. */
  private[graft] def stamp(spark: SparkSession, path: String): (String, Long, Long) = {
    val p = new Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    (st.getPath.toString, st.getModificationTime, st.getLen)
  }

  /** The file of harness table `name` in `sfDir`. */
  private[graft] def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** The Spark schema of parquet table `path`, from one footer read on the
    * driver, as `spark.read.parquet` infers it without schema merging: the
    * file itself, or a directory's first visible data file. Spark's own
    * row metadata when its writer left some, else the footer's message
    * converted under the session's conf. */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file = if (!fs.getFileStatus(p).isDirectory) p
      else Meta.parquetFiles(fs, p).headOption.map(_.getPath).getOrElse(
        throw new IllegalArgumentException(s"no parquet data file in $path"))
    val footer = Meta.footer(spark, file).getFileMetaData
    Option(footer.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => Try(DataType.fromJson(json).asInstanceOf[StructType]).toOption)
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(footer.getSchema))
  }

  /** A fresh parquet read of `path`, with its schema from the memo. */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame = {
    val memo = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
    val schema = memo.computeIfAbsent(stamp(spark, path), _ => footerSchema(spark, path))
    spark.read.schema(schema).parquet(path)
  }

  /** Read one harness table from `sfDir`.
    *
    * `events.ts` has shipped in two physical layouts across harness data
    * regenerations, so the reader branches on the OBSERVED Parquet type
    * rather than assuming one — a regeneration can't silently break every
    * events query again:
    *
    *   - `timestamp[us], isAdjustedToUTC=false` (current): Spark reads
    *     TIMESTAMP_NTZ; cast to session-local `TimestampType`. Sessions are
    *     pinned to UTC (Verify/Bench/tests), so the resulting instants
    *     match DuckDB's naive-µs read of the same file bit-for-bit.
    *   - TIMESTAMP(NANOS) (legacy): Spark 4.x rejects it outright; with
    *     `spark.sql.legacy.parquet.nanosAsLong` (part of
    *     [[graft.GraftExtensions.recommendedConfs]]) it reads as a long,
    *     truncated here to µs. `ts div 1000` is integer division: nanos
    *     ≈ 1.7e18 exceed a double's 2^53 mantissa, so float division
    *     would corrupt timestamps.
    *   - already `TimestampType`: passed through unchanged.
    *
    * Readers are side-effect-free: no session conf is mutated here.
    */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    require(All.contains(name), s"unknown table: $name")
    if (name == "events") {
      val raw = readParquet(spark, path(sfDir, name))
      val ts = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          timestamp_micros(expr("ts div 1000"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          col("ts").cast(org.apache.spark.sql.types.TimestampType)
        case _ => col("ts")
      }
      raw.withColumn("ts", ts)
    } else readParquet(spark, path(sfDir, name))
    // r14 note (guide §2.5, measured and REVERTED): a reader-level
    // round-robin fan-out for documents/embeddings (their single-row-
    // group files plan 1-task scans) was A/B'd across the full bench —
    // at sf0.1 the per-row text/vector compute (~0.1 s single-threaded
    // for 5k docs) is SMALLER than the added exchange + extra-stage
    // overhead, and iterative consumers re-pay it per pass (dedup family
    // read 1.4-2.9x the environment factor with it on). Fan-out is kept
    // only where a replicate explode multiplies per-row work past the
    // exchange cost (agg_bootstrap_ci — see graft.core.Fanout).
  }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
