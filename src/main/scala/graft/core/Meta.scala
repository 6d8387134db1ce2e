package graft.core

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Storage introspection — the engine analogue of the reference REPL's two
  * meta-commands (`/root/reference/db.cpp:515-533`):
  *
  *   - `.constants` prints the storage-layout constants (`db.cpp:459-467`:
  *     ROW_SIZE, LEAF_NODE_CELL_SIZE, …) → [[constants]] reports the
  *     session's layout-governing configuration;
  *   - `.btree` prints the root leaf's keys in storage order
  *     (`db.cpp:448-457`) → [[layout]] reports each parquet row-group's
  *     key range in file order. For a sort-on-write layout
  *     (`key_lookup_sorted`) the ranges are ordered and pairwise disjoint
  *     — the generalized B-tree invariant that makes min/max row-group
  *     pruning a real index (MetaSpec asserts it on the actual files).
  *
  * Footer reads happen on the driver: this is metadata introspection over
  * a bounded file listing (footers are KBs), not a data path.
  */
object Meta {

  /** Layout-governing session configuration, one (name, value) row each —
    * the `.constants` analogue. */
  def constants(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val keys = Seq(
      "spark.sql.files.maxPartitionBytes",
      "spark.sql.shuffle.partitions",
      "spark.sql.parquet.compression.codec",
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
    keys.map(k => (k, spark.conf.getOption(k).getOrElse("<default>")))
      .toDF("name", "value")
  }

  /** The data files of a parquet directory, by name: the `*.parquet` files
    * Spark's reader would list, skipping hidden ones (a leading `_` or
    * `.`, as writers' temp files and markers have). */
  private[graft] def parquetFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter { f =>
      val n = f.getPath.getName
      f.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName)

  /** The footer of parquet file `path`, read on the driver. */
  private[graft] def footer(spark: SparkSession, path: Path): ParquetMetadata = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try reader.getFooter finally reader.close()
  }

  /** Per-row-group long-key ranges of a parquet directory, in (file,
    * row-group) order — the `.btree` analogue: the storage-order key map
    * a point lookup prunes against. Output:
    * (file, row_group, min_key, max_key, n_rows). */
  def layout(spark: SparkSession, dir: String, keyCol: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val rows = parquetFiles(root.getFileSystem(conf), root).flatMap { f =>
      footer(spark, f.getPath).getBlocks.asScala.toSeq.zipWithIndex.map {
        case (block, i) =>
          val col = block.getColumns.asScala
            .find(_.getPath.toDotString == keyCol)
            .getOrElse(throw new IllegalArgumentException(
              s"column $keyCol not found in ${f.getPath}"))
          val stats = col.getStatistics
          (f.getPath.getName, i,
            stats.genericGetMin.asInstanceOf[Number].longValue(),
            stats.genericGetMax.asInstanceOf[Number].longValue(),
            block.getRowCount)
      }
    }
    rows.toDF("file", "row_group", "min_key", "max_key", "n_rows")
  }
}
