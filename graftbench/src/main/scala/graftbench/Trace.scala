package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into the engine. `op` groups the spans of one operation;
  * `parent` is the index of the enclosing span, -1 at the top. */
final case class Span(name: String, op: Long, parent: Int, startNs: Long, var endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark's counts for the jobs of one job group. */
final class Counts {
  var jobs, stages, tasks, taskFailures = 0L
  var taskMs, schedDelayMs, inputBytes, inputRows = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; taskMs += o.taskMs
    schedDelayMs += o.schedDelayMs; inputBytes += o.inputBytes
    inputRows += o.inputRows; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** In-memory span recorder plus a public-API SparkListener that attributes
  * job, stage and task counts to the span that started them: each span sets
  * the job group `<op>/<span index>` (`SparkContext.setJobGroup`), which the
  * listener reads back from the job's `spark.jobGroup.id` property.
  * While `recording` is false, spans cost one branch and the listener is
  * not registered. */
final class Trace {
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var sc: SparkContext = _
  private val listener = new Listener
  def recording: Boolean = sc != null

  def start(spark: SparkContext): Unit = {
    sc = spark
    sc.addSparkListener(listener)
  }

  /** Stops recording once the listener has seen every event posted so far
    * (the bus delivers in order, so seeing a fresh job end suffices). */
  def stop(): Unit = if (sc != null) {
    listener.drained = false
    sc.setJobGroup("drain", "drain")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30_000_000_000L
    while (!listener.drained && System.nanoTime() < deadline) Thread.sleep(5)
    sc.removeSparkListener(listener)
    sc = null
  }

  def begin(name: String, op: Long): Unit = if (sc != null) {
    val idx = spans.size
    spans += Span(name, op, stack.headOption.getOrElse(-1), System.nanoTime(), 0L)
    stack.push(idx)
    sc.setJobGroup(idx.toString, name)
  }

  def end(): Unit = if (sc != null) {
    spans(stack.pop()).endNs = System.nanoTime()
    if (stack.nonEmpty) sc.setJobGroup(stack.head.toString, spans(stack.head).name)
    else sc.clearJobGroup()
  }

  /** A span timed by the caller, under the innermost open span. */
  def record(name: String, op: Long, startNs: Long, endNs: Long): Unit =
    if (sc != null)
      spans += Span(name, op, stack.headOption.getOrElse(-1), startNs, endNs)

  def span[T](name: String, op: Long)(f: => T): T = {
    begin(name, op)
    try f finally end()
  }

  /** Spark counts of the jobs started directly under span `idx`. */
  def counts(idx: Int): Counts = listener.synchronized {
    listener.byGroup.getOrElse(idx.toString, new Counts)
  }
  def blockUpdates: Long = listener.blockUpdates
  def blockBytes: Long = listener.blockBytes

  private final class Listener extends SparkListener {
    val byGroup = mutable.Map[String, Counts]()
    private val stageGroup = mutable.Map[Int, String]()
    @volatile var drained = false
    @volatile var blockUpdates, blockBytes = 0L

    private def of(g: String) = byGroup.getOrElseUpdate(g, new Counts)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
      of(g).jobs += 1
      e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (byGroup.get("drain").exists(_.jobs > 0)) {
        byGroup.remove("drain")
        drained = true
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      of(stageGroup.getOrElse(e.stageInfo.stageId, "none")).stages += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = of(stageGroup.getOrElse(e.stageId, "none"))
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + e.taskInfo.gettingResultTime
        c.schedDelayMs += math.max(0L, e.taskInfo.duration - busy)
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        blockUpdates += 1
        blockBytes += b.memSize + b.diskSize
      }
    }
  }
}
