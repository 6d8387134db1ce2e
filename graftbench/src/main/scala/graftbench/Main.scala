package graftbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, Repl, SparkEntry, SqlCatalog}
import graft.core.Ingest

/** One benchmark run: set up the engine once, then run a fixed number of
  * closed-loop passes with a single client, about `seconds` of work,
  * checking every result. With tracing on, the passes record spans.
  * Prints report lines and, last, the JSON result line.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *   <expected.json> <outDir> <launchEpochUs>
  * `launchEpochUs` is the wall-clock time the JVM was launched at, in
  * microseconds since the epoch; set-up time is measured from it. */
object Main {
  val OlapKeys = Seq("scan_project", "filter_pred", "join_inner",
    "join_broadcast", "agg_hash", "agg_distinct", "agg_rollup", "window_rank",
    "sort_limit_topk", "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q10",
    "tpch_q18")
  val CurationKeys = Seq("dedup_near", "dedup_cluster", "graph_scc",
    "graph_label_prop", "graph_louvain_pass", "embed_pca_power", "sim_ivf_pq",
    "pipeline_e2e")
  /** Result columns of the keys whose ORDER BY is not a total order on the
    * data: (l_orderkey, l_linenumber) repeats in lineitem, so rows tied on
    * it may come in any order. [[Canon.digest]] checks the order of these
    * columns and the rest of each row as a multiset. */
  val TieKeys = Map("scan_project" -> Seq("l_orderkey", "l_linenumber"),
    "join_inner" -> Seq("l_orderkey", "l_linenumber"))
  /** Wall time of one pass on a 4-core box at sf0.1, rounded up: a run does
    * ceil(seconds / this) passes. */
  val PassSeconds = Map("olap_sql" -> 30.0, "curation" -> 35.0, "repl_session" -> 4.0)

  /** One completed operation: a query or a REPL statement. */
  final case class Op(kind: String, ms: Double, ok: Boolean)

  /** A statement, its type and the reply the reference REPL gives, computed
    * from the rows acknowledged so far. */
  final case class Stmt(text: String, kind: String, reply: String)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, expectedPath, outDir,
      launchUs) = args
    require(Set("olap_sql", "curation", "repl_session").contains(workload),
      s"unknown workload $workload")
    val b = new Bench(workload, seedS.toLong, secondsS.toDouble, traceS == "1",
      dataDir, expectedPath, outDir, launchUs.toLong)
    try b.run() finally b.close()
    System.out.flush()
    sys.exit(0)
  }
}

final class Bench(workload: String, seed: Long, seconds: Double, traced: Boolean,
    dataDir: String, expectedPath: String, outDir: String, launchUs: Long) {
  import Main._

  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)
  private val trace = new Trace
  private var spark: SparkSession = _
  private var opId = 0L
  private val failures = mutable.ArrayBuffer[String]()
  private val expected: Map[String, String] =
    if (workload == "repl_session") Map.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(expectedPath)).get("digests")
      node.fieldNames.asScala.map(k => k -> node.get(k).asText).toMap
    }

  private def nextOp(): Long = { opId += 1; opId }
  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  private def fail(msg: String): Unit = {
    failures += msg
    System.err.println(s"[graftbench] FAIL $msg")
  }

  // ------------------------------------------------------------ set-up

  /** Session with extensions, views registered, smoke query done. Returns
    * the seconds from JVM launch to the end of the smoke query, and the
    * seconds of that spent in this method. */
  private def setup(): (Double, Double) = {
    val t0 = System.nanoTime()
    spark = GraftSession.local(cpus)
    val t1 = System.nanoTime()
    val op = nextOp()
    if (traced) trace.start(spark.sparkContext)
    trace.record("session.start", op, t0, t1)
    trace.span("sqlcatalog.views", op)(SqlCatalog.registerViews(spark, dataDir))
    // SparkEntry.entry's query, on this benchmark's own data
    trace.span("smoke", op)(SparkEntry.queries("agg_hash")(spark, dataDir).count())
    val now = java.time.Instant.now()
    val inJvm = ms(t0) / 1e3
    trace.stop()
    ((now.getEpochSecond * 1_000_000L + now.getNano / 1000 - launchUs) / 1e6, inJvm)
  }

  // -------------------------------------------------- query workloads

  private def query(key: String): Op = {
    val op = nextOp()
    val t0 = System.nanoTime()
    val ok = try trace.span("op", op) {
      val df: DataFrame =
        if (workload == "olap_sql")
          trace.span("sqlcatalog.build", op)(SqlCatalog.sql(key)(spark, dataDir))
        else trace.span("ops.build", op)(SparkEntry.queries(key)(spark, dataDir))
      trace.span("catalyst.plan", op)(df.queryExecution.executedPlan)
      val got = trace.span("exec", op)(Canon.digest(df, TieKeys.getOrElse(key, Nil)))
      if (trace.recording) resultRows += got.takeWhile(_ != ':').toLong
      val want = expected.getOrElse(key, "<no expected digest>")
      if (got != want) fail(s"$key: digest $got, expected $want")
      got == want
    } catch {
      case NonFatal(e) => fail(s"$key: ${e.getClass.getSimpleName}: ${e.getMessage}"); false
    }
    Op(key, ms(t0), ok)
  }

  private def queryPass(rng: Random): Seq[Op] =
    rng.shuffle(if (workload == "olap_sql") OlapKeys else CurationKeys).map(query)

  // ---------------------------------------------------- REPL workload

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  private def render(u: Ingest.User) = s"(${u.id}, ${u.username}, ${u.email})"

  /** The statement types of one session and how many of each: 62 valid
    * inserts, 8 invalid ones (2 per error reply), 6 bare selects, 4 `.btree`
    * and 19 one-line SQL statements (sql0-sql5). The counts are fixed so
    * that sessions differ only in order and values, not in their mix. */
  private val SessionMix: Seq[(String, Int)] = Seq("insert" -> 62, "bad0" -> 2,
    "bad1" -> 2, "bad2" -> 2, "bad3" -> 2, "select" -> 6, "btree" -> 4,
    "sql0" -> 4, "sql1" -> 3, "sql2" -> 3, "sql3" -> 3, "sql4" -> 3, "sql5" -> 3)

  private def statements(rng: Random): IndexedSeq[Stmt] = {
    val acked = mutable.ArrayBuffer[Ingest.User]()
    def lines(ls: Seq[String]) = ls.map(_ + "\n").mkString
    def sql(text: String, rows: String*) = Stmt(text, "sql", lines(rows :+ "Executed."))
    val kinds = rng.shuffle(SessionMix.flatMap { case (k, n) => Seq.fill(n)(k) })
    val out = kinds.toIndexedSeq.map {
      case "insert" =>
        val id = rng.nextInt(1_000_000) + 1L
        val u = Ingest.User(id, s"user$id", s"user$id@example.com")
        acked += u
        Stmt(s"insert $id ${u.username} ${u.email}", "insert", "Executed.\n")
      case "bad0" => Stmt(s"insert -${rng.nextInt(999) + 1} bad bad@example.com",
        "insert", "ID must be positive.\n")
      case "bad1" => Stmt(s"insert ${rng.nextInt(999) + 1} ${"u" * 33} e@example.com",
        "insert", "String is too long.\n")
      case "bad2" => Stmt("insert x1 name name@example.com", "insert",
        "Syntax error. Could not parse statement\n")
      case "bad3" => Stmt("insert 12 onlyname", "insert",
        "Syntax error. Could not parse statement\n")
      case "select" =>
        Stmt("select", "select", lines(acked.map(render).toSeq :+ "Executed."))
      case "btree" =>
        Stmt(".btree", "btree", lines(Seq("Tree:", s"leaf (size ${acked.size})") ++
          acked.zipWithIndex.map { case (u, k) => s"  - $k : ${u.id}" }))
      case "sql0" => sql("select count(*) from users", s"(${acked.size})")
      case "sql1" => sql("select max(id) from users",
        if (acked.isEmpty) "(NULL)" else s"(${acked.map(_.id).max})")
      case "sql2" =>
        val k = rng.nextInt(1_000_000)
        sql(s"select count(*) from users where id < $k", s"(${acked.count(_.id < k)})")
      case "sql3" =>
        val k = rng.nextInt(25)
        sql(s"select n_name from nation where n_nationkey = $k", s"(NATION_$k)")
      case "sql4" =>
        val k = rng.nextInt(5)
        sql(s"select count(*) from nation where n_regionkey = $k", "(5)")
      case _ =>
        val k = rng.nextInt(5)
        sql(s"select r_name from region where r_regionkey = $k", s"(${Regions(k)})")
    }
    out :+ Stmt(".exit", "exit", "") :+
      Stmt("", "acked", lines(acked.map(render).toSeq :+ "Executed."))
  }

  /** Feeds statements to `Repl.loop` and times each one: a statement's
    * latency runs from handing it over to the loop asking for the next. */
  private final class Feed(stmts: IndexedSeq[Stmt], buf: ByteArrayOutputStream,
      op: Long, ops: mutable.ArrayBuffer[Op], t0: Long) extends Iterator[String] {
    private var i = -1
    private var handed = 0L
    var openMs = 0.0

    private def reply(): String = {
      val s = buf.toString(UTF_8); buf.reset()
      s.stripSuffix("db > ")
    }

    def finish(now: Long): Unit = {
      val st = stmts(i)
      trace.end()
      val got = reply()
      val ok = got == st.reply
      if (trace.recording && st.kind == "sql") resultRows += got.count(_ == '\n') - 1
      if (!ok) fail(s"repl '${st.text}': replied ${got.take(200)}, " +
        s"expected ${st.reply.take(200)}")
      ops += Op(st.kind, (now - handed) / 1e6, ok)
    }

    override def hasNext: Boolean = {
      val now = System.nanoTime()
      if (i < 0) {
        openMs = (now - t0) / 1e6
        trace.end()
        reply()
      } else finish(now)
      i < stmts.size - 1
    }

    override def next(): String = {
      i += 1
      val st = stmts(i)
      if (st.kind == "insert" && trace.recording) {
        val p0 = System.nanoTime()
        Ingest.parseLine(st.text)
        parseUs += (System.nanoTime() - p0) / 1e3
      }
      trace.begin(s"repl.stmt.${st.kind}", op)
      handed = System.nanoTime()
      st.text
    }
  }

  private val parseUs, usersRows = mutable.ArrayBuffer[Double]()
  private var resultRows = 0L
  private val openMs = mutable.ArrayBuffer[Double]()
  private var dbCount = 0

  /** One REPL session on a fresh db, `.exit`, then a second session on the
    * same db path that must read back every acknowledged row. */
  private def replPass(rng: Random): Seq[Op] = {
    val all = statements(rng)
    val stmts = all.dropRight(1)
    dbCount += 1
    val db = Paths.get(outDir, s"db-$dbCount").toString
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, false, UTF_8)
    val ops = mutable.ArrayBuffer[Op]()
    val op = nextOp()
    val t0 = System.nanoTime()
    val feed = new Feed(stmts, buf, op, ops, t0)
    try {
      trace.span("repl.session", op) {
        trace.begin("repl.open", op)
        Repl.loop(spark, db, Some(dataDir), feed, out)
        out.flush()
        feed.finish(System.nanoTime())
      }
      openMs += feed.openMs
      val rb = new ByteArrayOutputStream()
      val rbOut = new PrintStream(rb, false, UTF_8)
      val r0 = System.nanoTime()
      trace.span("repl.readback", op)(
        Repl.loop(spark, db, None, Iterator("select", ".exit"), rbOut))
      rbOut.flush()
      val want = "db > " + all.last.reply + "db > "
      val got = rb.toString(UTF_8)
      usersRows += got.count(_ == '\n') - 1
      if (got != want) {
        val have = got.linesIterator.toSet
        val lost = all.last.reply.linesIterator.count(l => !have.contains(l))
        fail(s"repl read-back lost $lost acknowledged rows")
        ops += Op("readback", ms(r0), ok = false)
      }
    } catch {
      case NonFatal(e) =>
        fail(s"repl session: ${e.getClass.getSimpleName}: ${e.getMessage}")
        ops += Op("session", ms(t0), ok = false)
    }
    ops.toSeq
  }

  // ---------------------------------------------------------- running

  private def pass(rng: Random): Seq[Op] =
    if (workload == "repl_session") replPass(rng) else queryPass(rng)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def close(): Unit = if (spark != null) spark.stop()

  def run(): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val report = new Report(workload, seed, cpus)
    val (setupS, setupInJvmS) = setup()
    val rng = new Random(seed)
    // No warm-up: every run does the same passes from a fresh engine, so
    // each query's first execution (codegen compile included), and the
    // REPL's JIT warm-up over its first session, weigh the same in every
    // run. The pass count is fixed in advance from `seconds` rather than
    // by the clock, so that a slow run does not also do less work.
    val passes = math.max(1, math.ceil(seconds / PassSeconds(workload)).toInt)
    val ops = mutable.ArrayBuffer[Op]()
    val opLog = mutable.ArrayBuffer("pass\tkind\tms\tok")
    if (traced) trace.start(spark.sparkContext)
    val (gc0, start) = (gcMs, System.nanoTime())
    for (n <- 0 until passes) {
      val got = pass(rng)
      opLog ++= got.map(o => f"$n\t${o.kind}\t${o.ms}%.3f\t${o.ok}")
      ops ++= got
    }
    val wall = ms(start) / 1e3
    val gcPassMs = gcMs - gc0
    trace.stop()

    Files.write(Paths.get(outDir, "ops.tsv"), opLog.map(_ + "\n").mkString.getBytes(UTF_8))
    val all = ops
    val failed = all.count(!_.ok)
    val lat = ops.map(_.ms).toSeq
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", ops.size / wall, "1/s"),
      ("latency_p50_ms", Stats.hd(lat, 0.5), "ms"),
      ("latency_tail_ms", Stats.tail(lat)._1, "ms"))
    def kinds(ks: String*) = ops.filter(o => ks.contains(o.kind)).map(_.ms).toSeq
    println(s"[graftbench] env ${report.env()}")
    report.line("setup_s", setupS, "s",
      f"JVM launch to smoke query done, $setupInJvmS%.3f s of it in the JVM's set-up")
    report.line("ops_per_s", e2e(1)._2, "1/s", f"${ops.size} ops in $wall%.2f s, $passes passes")
    report.line("latency_p50_ms", e2e(2)._2, "ms", s"n=${lat.size}")
    report.tail("latency_tail_ms", lat)
    if (workload == "repl_session") {
      val (write, read) = (kinds("insert"), kinds("select", "sql", "btree"))
      report.line("write_p50_ms", Stats.hd(write, 0.5), "ms", s"n=${write.size}")
      report.tail("write_tail_ms", write)
      report.line("read_p50_ms", Stats.hd(read, 0.5), "ms", s"n=${read.size}")
      report.tail("read_tail_ms", read)
      report.line("flush_ms", Stats.median(kinds("exit")), "ms",
        s"median of ${kinds("exit").size} .exit statements")
    } else Seq("write_p50_ms", "write_tail_ms", "read_p50_ms", "read_tail_ms",
      "flush_ms").foreach(report.na(_, "ms"))
    report.line("failed_frac", failed.toDouble / all.size, "1",
      s"$failed of ${all.size} operations")
    report.line("peak_rss_mb", Stats.peakRssMb, "MB", "VmHWM")
    failures.distinct.foreach(f => println(s"[graftbench] failed: $f"))

    val metrics =
      if (!traced) e2e
      else new Layers(workload, trace, cpus.toInt).metrics(ops.size, wall,
        gcPassMs, resultRows, parseUs.toSeq, openMs.toSeq, usersRows.toSeq,
        Paths.get(outDir, s"trace-seed$seed"))
    val result = report.json(failed == 0 && failures.isEmpty, all.size, failed, metrics)
    Files.write(Paths.get(outDir, "result.json"), (result + "\n").getBytes(UTF_8))
    println(result)
  }
}
