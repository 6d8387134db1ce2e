package org.apache.spark.sql.graft

import java.util.{Collections, LinkedHashMap => JLinkedHashMap, Map => JMap}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{ShuffleDependency, SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType, TemporaryViewRelation}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Repartition}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.Utils

/** Forwarders to Spark internals that are `private[sql]` or
  * `private[spark]` in Spark 4, so they live in an `org.apache.spark.sql`
  * subpackage — the standard technique for libraries that contribute
  * native Catalyst expressions (the public `udf()` route would lose
  * codegen). Besides the Column ↔ Expression bridge: function
  * registration, temp views over driver-held rows, catalog lookups,
  * hash-partitioned checkpoints, and [[collectOnDriver]], which runs a
  * plan over driver-held rows or one-split file scans on the calling
  * thread. Nothing else in this repo lives outside `graft.*`. */
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

  /** Task attempt ids for [[collectOnDriver]]: the scheduler numbers its
    * tasks from 0, and the `BlockInfoManager` reserves -1 (no writer) and
    * -1024 (a writer outside any task), so these count down from -1025. */
  private val driverAttempts = new AtomicLong(-1024L)

  /** Bound row encoders by their unbound form, which compares structurally:
    * a conf that changes the encoder (`spark.sql.datetime.java8API.enabled`)
    * changes the key. Binding costs ~3 ms a line; at most 64 are kept. */
  private val boundEncoders = Collections.synchronizedMap(
    new JLinkedHashMap[ExpressionEncoder[Row], ExpressionEncoder[Row]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: JMap.Entry[ExpressionEncoder[Row], ExpressionEncoder[Row]]): Boolean = size > 64
    })

  /** The rows of `df`, computed on the calling thread with no Spark job,
    * when its physical plan reads only rows the driver holds or one input
    * split per file: every leaf a `LocalTableScanExec` or a
    * `FileSourceScanExec` of one partition, no `Exchange`, no subquery,
    * and one partition whose lineage reads no shuffle. This extends
    * Spark's own rule for local data (`ConvertToLocalRelation`,
    * `LocalTableScanExec.executeCollect`) to the aggregate, sort and window
    * operators above a local scan, and, like Hive's fetch-task conversion,
    * to small file scans: the driver reads at most the one split per file
    * that one executor task would.
    *
    * A frame that reads files is planned again from its logical plan
    * (where a command that already ran is a `CommandResult` leaf, so no
    * command runs twice) with each file relation under a shuffle-free
    * `Repartition(1)` ([[oneSplitPlan]]), so a global aggregate or window
    * over it plans no Exchange; a frame over a file listing larger than
    * one split is not, and falls back after one planning. Rows of a line
    * with no `ORDER BY` come in the order of that one partition.
    *
    * The check reads AQE's initial plan (the input plan after the rules
    * that insert exchanges) before anything runs: `finalPhysicalPlan`
    * would already launch the stage jobs of a plan with exchanges. Rows
    * are decoded with the frame's own encoder, as `collect()` decodes
    * them.
    *
    * Returns `None`, having run no job, for any other plan; the caller
    * then collects `df` as usual. No SQL execution is started, so the line
    * fires no `QueryExecutionListener` and no SQL UI event. */
  def collectOnDriver(df: DataFrame): Option[Array[Row]] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    // not `queryExecution.analyzed`: that still holds a command `spark.sql`
    // already ran, and a rebuild of it would run it again (an INSERT
    // writing its rows twice)
    val run = oneSplitPlan(spark, ds.logicalPlan)
      .fold(ds)(classic.Dataset.ofRows(spark, _))
    val plan = run.queryExecution.executedPlan
    val prepared = plan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val local = !prepared.exists(p => p.isInstanceOf[Exchange] || p.subqueries.nonEmpty) &&
      prepared.collectLeaves().forall {
        case _: LocalTableScanExec => true
        case scan: FileSourceScanExec => scan.inputRDD.getNumPartitions == 1
        case _ => false
      }
    // with no exchange there is no stage to run, so execute() starts no job
    Option.when(local)(plan.execute())
      .filter(rdd => rdd.getNumPartitions == 1 && !readsShuffle(rdd)).map { rdd =>
        val fromRow = boundEncoders.computeIfAbsent(ds.exprEnc,
          _.resolveAndBind(ds.logicalPlan.output, spark.sessionState.analyzer))
          .createDeserializer()
        runTask(spark, task => rdd.iterator(rdd.partitions.head, task).map(fromRow).toArray)
      }
  }

  /** `plan` with each file relation under a shuffle-free `Repartition(1)`,
    * when every leaf is a local or file relation, at least one reads files,
    * and each file relation's listing fits one input split: its files,
    * with Spark's open cost between them, are no larger than
    * `FilePartition.maxSplitBytes`, so the scan packs them into one
    * partition. Otherwise `None`, and the plan is used as it is. */
  private def oneSplitPlan(spark: classic.SparkSession, plan: LogicalPlan): Option[LogicalPlan] = {
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    def oneSplit(files: HadoopFsRelation): Boolean = {
      val listing = files.location.listFiles(Nil, Nil)
      val sizes = listing.flatMap(_.files.map(_.getLen))
      sizes.nonEmpty &&
        sizes.sum + openCost * (sizes.size - 1) <= FilePartition.maxSplitBytes(spark, listing)
    }
    val leaves = plan.collectLeaves()
    val reads = leaves.exists(_.isInstanceOf[LogicalRelation]) && leaves.forall {
      case _: LocalRelation => true
      case LogicalRelation(files: HadoopFsRelation, _, _, _, _) => oneSplit(files)
      case _ => false
    }
    Option.when(reads)(plan.transformUp {
      case r @ LogicalRelation(_: HadoopFsRelation, _, _, _, _) =>
        Repartition(1, shuffle = false, r)
    })
  }

  /** Whether `rdd`'s lineage reads a shuffle. `TakeOrderedAndProjectExec`
    * and `CollectLimitExec` shuffle a child of several partitions into one
    * inside their own `doExecute`, with no `Exchange` in the plan; only a
    * job runs a shuffle's map side, so read on the driver such a partition
    * would be empty. */
  private def readsShuffle(rdd: RDD[_]): Boolean = rdd.dependencies.exists {
    case _: ShuffleDependency[_, _, _] => true
    case d => readsShuffle(d.rdd)
  }

  /** Runs `body` on the calling thread as the one task of a stage, as an
    * executor would: under a `TaskContextImpl` with its own
    * `TaskMemoryManager` and a negative attempt id, with the session's SQL
    * conf, and registered with the `BlockManager`, whose lock table a scan
    * needs to read its Hadoop-conf broadcast. The task is then marked
    * completed, or failed, and, as `Task.run` and the executor do, its
    * block locks are released and its execution memory freed. */
  private def runTask[T](spark: classic.SparkSession, body: TaskContextImpl => T): T = {
    val env = SparkEnv.get
    val attempt = driverAttempts.decrementAndGet()
    val memory = new TaskMemoryManager(env.memoryManager, attempt)
    val task = new TaskContextImpl(stageId = -1, stageAttemptNumber = 0, partitionId = 0,
      taskAttemptId = attempt, attemptNumber = 0, numPartitions = 1,
      taskMemoryManager = memory,
      localProperties = Utils.cloneProperties(spark.sparkContext.getLocalProperties),
      metricsSystem = env.metricsSystem, taskMetrics = TaskMetrics.empty)
    env.blockManager.registerTask(attempt)
    try TaskContext.withTaskContext(task) {
      SQLConf.withExistingConf(spark.sessionState.conf) {
        val result = try body(task) catch {
          case e: Throwable =>
            try task.markTaskFailed(e) finally task.markTaskCompleted(Some(e))
            throw e
        }
        task.markTaskCompleted(None)
        result
      }
    } finally {
      env.blockManager.releaseAllLocksForTask(attempt)
      memory.cleanUpAllAllocatedMemory()
    }
  }

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
