package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType, TemporaryViewRelation}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Repartition}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ↔ Expression bridge. `ExpressionUtils` is `private[sql]` in
  * Spark 4, so the one-line forwarders live in an `org.apache.spark.sql`
  * subpackage — the standard technique for libraries that contribute
  * native Catalyst expressions (the public `udf()` route would lose
  * codegen). Nothing else in this repo lives outside `graft.*`. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Runtime function registration (sessionState is private[sql]). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)

  /** One partition over driver-held Catalyst rows: a `LocalRelation`
    * under a shuffle-free `Repartition(1)`, so a global aggregate over it
    * plans no Exchange. `rows` must be in `schema`'s internal layout
    * (`UTF8String` for strings). */
  private def localPlan(schema: StructType, rows: Seq[InternalRow]): LogicalPlan =
    Repartition(1, shuffle = false,
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** Creates or replaces temp view `name` over driver-held rows
    * ([[localPlan]]). It puts in the session catalog the entry that
    * `createOrReplaceTempView(name)` on a frame over that plan would,
    * without that command's analysis pass and SQL execution: 0.13 ms
    * instead of 7.5 ms per call (median, 100 rows, warm JVM, 4 vCPU). The
    * plan is resolved as built, so the catalog can hold it unanalyzed. */
  def replaceLocalView(spark: SparkSession, name: String, schema: StructType,
      rows: Seq[InternalRow]): Unit = {
    val plan = localPlan(schema, rows)
    val meta = CatalogTable(
      identifier = TableIdentifier(name),
      tableType = CatalogTableType.VIEW,
      storage = CatalogStorageFormat.empty,
      schema = plan.schema,
      properties = Map(CatalogTable.VIEW_STORING_ANALYZED_PLAN -> "true"))
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog
      .createTempView(name, TemporaryViewRelation(meta, Some(plan)), overrideIfExists = true)
  }

  /** The session catalog's entry for temp view `name`, if there is one.
    * A `CREATE OR REPLACE` or a drop changes it, so callers compare it by
    * reference to tell whether a view is still the one they registered. */
  def tempView(spark: SparkSession, name: String): Option[AnyRef] =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog.getRawTempView(name)

  /** Waits until every event posted so far reached its listeners
    * (`QueryExecutionListener`s run on the listener bus, after the action). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Eager materialization that PRESERVES hash-partitioning (r14, guide
    * §2.4 "two operations keyed the same way share one exchange").
    *
    * `Dataset.localCheckpoint` under AQE wraps the plan in an un-finalized
    * `AdaptiveSparkPlanExec`, whose `outputPartitioning` reports
    * `UnknownPartitioning` — so a checkpointed table loses its layout and
    * EVERY consumer join re-shuffles it (measured: the graph edge lists
    * re-exchanged at all 3-5 node-keyed joins per query;
    * plans/r14/graph_betweenness_before.txt ops 6/20/48). Exchange reuse
    * cannot help either: each eager materialization is its own
    * QueryExecution, and ReuseExchange never spans jobs.
    *
    * This helper repartitions on `keys` (explicit partition count — AQE
    * never coalesces user-specified counts, so the physical layout is
    * exactly `HashPartitioning(keys, numParts)`), persists the rows as
    * serialized blocks (the CheckpointStrategy.Local storage level), and
    * wraps them in a `LogicalRDD` that DECLARES that partitioning — every
    * downstream equi-join on `keys` then reads the table exchange-free.
    * Block lifecycle matches localCheckpoint: the persisted RDD is
    * registered with the ContextCleaner and released when the frame is
    * garbage-collected (or unpersisted explicitly between bench samples). */
  def checkpointHashPartitioned(
      df: org.apache.spark.sql.DataFrame,
      numParts: Int,
      keys: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    val rep = df.repartition(numParts, keys.map(df.col): _*)
    val qe = rep.queryExecution
    // copy: Tungsten operators reuse row buffers within a partition
    val rdd = qe.toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val nRows = rdd.count() // eager — the materialization job
    val attrs = qe.analyzed.output
    val keyAttrs = keys.map(k => attrs.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(
        s"checkpointHashPartitioned: no column '$k' in ${attrs.map(_.name)}")))
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // EXACT stats from the materialized blocks: a LogicalRDD without
    // originStats reports conf.defaultSizeInBytes (effectively "huge"),
    // which silently disqualifies every downstream broadcast join — the
    // first cut of this helper measured dedup_cluster 2.4 → 6.9 s from
    // exactly that (CC-round joins flipped broadcast → SMJ). The persisted
    // serialized block sizes are the honest size estimate.
    val blockBytes = spark.sparkContext.getRDDStorageInfo
      .find(_.id == rdd.id).map(i => i.memSize + i.diskSize).filter(_ > 0L)
      .getOrElse(spark.sessionState.conf.defaultSizeInBytes)
    val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = BigInt(blockBytes), rowCount = Some(BigInt(nRows)))
    org.apache.spark.sql.classic.Dataset.ofRows(spark,
      LogicalRDD(attrs, rdd,
        HashPartitioning(keyAttrs, numParts))(spark, Some(stats)))
  }
}
