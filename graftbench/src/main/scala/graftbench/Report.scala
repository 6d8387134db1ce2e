package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

object Stats {
  /** Plain sample median (mean of the middle two for even n); 0 if empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Harrell-Davis estimate of quantile `q`: a Beta((n+1)q, (n+1)(1-q))
    * weighted mean of all order statistics. With a few heterogeneous
    * operations per run (15 queries, or 8), a single order statistic jumps
    * with the noise of whichever query sits at that rank; this estimator
    * averages over the neighbours. 0 for no samples. */
  def hd(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n <= 1) return s.headOption.getOrElse(0.0)
    val beta = new org.apache.commons.math3.distribution.BetaDistribution(
      (n + 1) * q, (n + 1) * (1 - q))
    s.indices.map(i =>
      (beta.cumulativeProbability((i + 1.0) / n) - beta.cumulativeProbability(i.toDouble / n)) * s(i)
    ).sum
  }

  private val Ladder = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest percentile of the ladder with at least ten samples beyond
    * it: (value, percentile, samples beyond). Below 20 samples no
    * percentile qualifies and the median stands in. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    val q = Ladder.find(q => n - math.ceil(q * n).toInt >= 10).getOrElse(0.5)
    (hd(xs, q), q * 100, n - math.ceil(q * n).toInt)
  }

  def peakRssMb: Double = procStatus("VmHWM:") / 1024.0

  private def procStatus(key: String): Double =
    scala.util.Try(scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key)).map(_.split("\\s+")(1).toDouble).getOrElse(0.0))
      .getOrElse(0.0)

  /** Steal ticks of all CPUs so far, from /proc/stat. */
  def stealTicks: Long = scala.util.Try(scala.io.Source.fromFile("/proc/stat")
    .getLines().next().split("\\s+")(8).toLong).getOrElse(-1L)

  def load1: Double = scala.util.Try(scala.io.Source.fromFile("/proc/loadavg")
    .mkString.split(" ")(0).toDouble).getOrElse(-1.0)
}

/** Report lines (`metric <name> <value> <unit>  <note>`) and the final JSON. */
final class Report(workload: String, seed: Long, cpus: String) {
  private val steal0 = Stats.stealTicks

  def line(name: String, v: Double, unit: String, note: String = ""): Unit =
    println(f"[graftbench] $workload%-12s $name%-26s $v%14.4f $unit%-5s $note")

  def na(name: String, unit: String): Unit =
    println(f"[graftbench] $workload%-12s $name%-26s ${"n/a"}%14s $unit%-5s not on this workload's path")

  def tail(name: String, xs: Seq[Double]): Unit = {
    val (v, p, beyond) = Stats.tail(xs)
    line(name, v, "ms", f"p$p%.1f of n=${xs.size} ($beyond beyond)")
  }

  def env(): String = {
    val rt = Runtime.getRuntime
    Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "cpus" -> Json.str(cpus),
      "heap_mb" -> (rt.maxMemory / (1 << 20)).toString,
      "offheap_mb" -> (graft.GraftSession.OffHeapBytes >> 20).toString,
      "load1" -> Stats.load1.toString,
      "steal_ticks" -> (Stats.stealTicks - steal0).toString,
      "commit" -> Json.str(sys.env.getOrElse("GRAFTBENCH_COMMIT", "unknown"))))
  }

  def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Layers {
  /** Times of layers that only some workloads pass through. They are
    * printed as report lines and ranked in layers.json, but left out of the
    * result line, where every metric must be measured on every workload. */
  val PathOnly = Set("sqlcatalog.build_ms", "ops.build_ms", "ops.build_task_ms",
    "catalyst.plan_ms", "repl.open_ms", "repl.insert_ms", "repl.select_ms",
    "repl.sql_ms", "repl.flush_ms", "ingest.parse_us")
}

/** Per-layer metrics of a traced run, derived from the spans and the Spark
  * counts attributed to them. Also writes the span file and a per-layer
  * summary that ranks span names by self time. */
final class Layers(workload: String, trace: Trace, cores: Int) {
  private val spans = trace.spans.toIndexedSeq
  private val byName: Map[String, IndexedSeq[Int]] =
    spans.indices.groupBy(i => spans(i).name)

  private def idx(pred: String => Boolean): IndexedSeq[Int] =
    byName.filter(kv => pred(kv._1)).values.flatten.toIndexedSeq.sorted
  private def msOf(is: Seq[Int]): Seq[Double] = is.map(spans(_).ms)
  private def total(is: Seq[Int]): Counts = {
    val c = new Counts
    is.foreach(i => c.add(trace.counts(i)))
    c
  }
  private def perSpan(is: Seq[Int], f: Counts => Long): Double =
    if (is.isEmpty) 0.0 else f(total(is)).toDouble / is.size

  def metrics(ops: Int, wallS: Double, gcMs: Long, resultRows: Long,
      parseUs: Seq[Double], openMs: Seq[Double], usersRows: Seq[Double],
      dir: Path): Seq[(String, Double, String)] = {
    val mb = 1024.0 * 1024.0
    val session = idx(_ == "session.start")
    val views = idx(_ == "sqlcatalog.views")
    val sqlBuild = idx(_ == "sqlcatalog.build")
    val opsBuild = idx(_ == "ops.build")
    val plan = idx(_ == "catalyst.plan")
    val exec = idx(n => n == "exec" || n.startsWith("repl.stmt."))
    val ex = total(exec)
    val execWall = msOf(exec).sum
    val perOp = (v: Double) => if (ops == 0) 0.0 else v / ops
    def repl(kind: String) = Stats.median(msOf(idx(_ == s"repl.stmt.$kind")))
    val out = Seq(
      ("session.start_ms", Stats.median(msOf(session)), "ms"),
      ("sqlcatalog.views_ms", Stats.median(msOf(views)), "ms"),
      ("sqlcatalog.views_jobs", perSpan(views, _.jobs), "count"),
      ("sqlcatalog.build_ms", Stats.median(msOf(sqlBuild)), "ms"),
      ("sqlcatalog.build_jobs", perSpan(sqlBuild, _.jobs), "count"),
      ("ops.build_ms", Stats.median(msOf(opsBuild)), "ms"),
      ("ops.build_jobs", perSpan(opsBuild, _.jobs), "count"),
      ("ops.build_task_ms", perSpan(opsBuild, _.taskMs), "ms"),
      ("materialize.blocks", perOp(trace.blockUpdates.toDouble), "count"),
      ("materialize.mb", perOp(trace.blockBytes / mb), "MB"),
      ("catalyst.plan_ms", Stats.median(msOf(plan)), "ms"),
      ("exec.wall_ms", Stats.median(msOf(exec)), "ms"),
      ("exec.jobs", perOp(ex.jobs.toDouble), "count"),
      ("exec.stages", perOp(ex.stages.toDouble), "count"),
      ("exec.tasks", perOp(ex.tasks.toDouble), "count"),
      ("exec.task_ms", perOp(ex.taskMs.toDouble), "ms"),
      ("exec.utilization",
        if (execWall == 0) 0.0 else ex.taskMs / (execWall * cores), "ratio"),
      ("exec.sched_delay_ms", perOp(ex.schedDelayMs.toDouble), "ms"),
      ("exec.input_mb", perOp(ex.inputBytes / mb), "MB"),
      ("exec.rows_in_per_row_out",
        ex.inputRows.toDouble / math.max(1L, resultRows), "ratio"),
      ("exec.shuffle_read_mb", perOp(ex.shuffleReadBytes / mb), "MB"),
      ("exec.shuffle_write_mb", perOp(ex.shuffleWriteBytes / mb), "MB"),
      ("exec.spill_mb", perOp(ex.spillBytes / mb), "MB"),
      ("exec.task_failures", ex.taskFailures.toDouble, "count"),
      ("jvm.gc_ms", perOp(gcMs.toDouble), "ms"),
      ("jvm.peak_rss_mb", Stats.peakRssMb, "MB"),
      ("repl.open_ms", Stats.median(openMs), "ms"),
      ("repl.insert_ms", repl("insert"), "ms"),
      ("repl.select_ms", repl("select"), "ms"),
      ("repl.sql_ms", repl("sql"), "ms"),
      ("repl.flush_ms", repl("exit"), "ms"),
      ("repl.users_rows", Stats.median(usersRows), "count"),
      ("ingest.parse_us", Stats.median(parseUs), "us"),
      ("trace.ops_per_s", ops / wallS, "1/s"))
    write(dir)
    out.foreach { case (k, v, u) =>
      println(f"[graftbench] $workload%-12s layer $k%-26s $v%14.4f $u")
    }
    out.filterNot(m => Layers.PathOnly(m._1))
  }

  /** spans.jsonl (one span per line) and layers.json (self time and job
    * counts per span name, ranked by total self time). */
  private def write(dir: Path): Unit = {
    Files.createDirectories(dir)
    val child = mutable.Map[Int, Double]().withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.ms)
    val lines = spans.indices.map { i =>
      val s = spans(i)
      val c = trace.counts(i)
      Json.obj(Seq("i" -> i.toString, "name" -> Json.str(s.name),
        "op" -> s.op.toString, "parent" -> s.parent.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "self_ms" -> Json.num(s.ms - child(i)), "jobs" -> c.jobs.toString,
        "tasks" -> c.tasks.toString, "task_ms" -> c.taskMs.toString))
    }
    Files.write(dir.resolve("spans.jsonl"), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    val rows = byName.toSeq.map { case (name, is) =>
      val self = is.map(i => spans(i).ms - child(i)).sum
      val c = total(is)
      (name, self, is.size, c)
    }.sortBy(-_._2)
    val summary = rows.map { case (name, self, n, c) =>
      Json.obj(Seq("layer" -> Json.str(name), "spans" -> n.toString,
        "self_ms" -> Json.num(self), "self_ms_per_span" -> Json.num(self / n),
        "jobs" -> c.jobs.toString, "jobs_per_span" -> Json.num(c.jobs.toDouble / n),
        "tasks" -> c.tasks.toString, "task_ms" -> c.taskMs.toString))
    }
    Files.write(dir.resolve("layers.json"),
      Json.obj(Seq("workload" -> Json.str(workload),
        "layers" -> summary.mkString("[\n  ", ",\n  ", "\n]"))).getBytes(UTF_8))
    println(s"[graftbench] $workload self time by layer (traced passes and set-ups):")
    rows.foreach { case (name, self, n, c) =>
      println(f"[graftbench]   $name%-22s self $self%10.1f ms  spans $n%5d  jobs ${c.jobs}%6d")
    }
  }
}
