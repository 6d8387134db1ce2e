package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.apache.spark.SparkEnv
import org.apache.spark.sql.Row
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.BlockLocks

import graft.core.Ingest

/** End-to-end REPL parity with the reference's golden specs
  * (`/root/reference/spec/main_spec.rb`): each test scripts stdin lines
  * exactly like `run_script` and asserts on the captured stdout lines,
  * with the reference's verbatim prompt, replies, and error strings. */
class ReplSpec extends SparkSpecBase {

  private def dbDir(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_io/repl_$name"

  private def rm(dir: String): Unit = {
    def del(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del)
      f.delete(); ()
    }
    del(new java.io.File(dir))
  }

  /** The reference spec's run_script: feed lines, capture stdout, split. */
  private def runScript(db: String, commands: Seq[String],
      sfDir: Option[String] = None): Seq[String] = {
    val bos = new ByteArrayOutputStream()
    Repl.loop(spark, db, sfDir, commands.iterator,
      new PrintStream(bos, true, "UTF-8"))
    // prompts have no trailing newline, so splitting yields the same
    // "db > <reply>" line shapes the reference spec matches against
    bos.toString("UTF-8").split("\n", -1).toSeq
  }

  test("inserts and retrieves a row (main_spec.rb:21-33)") {
    val db = dbDir("insert_select"); rm(db)
    val out = runScript(db, Seq(
      "insert 1 user1 person1@example.com",
      "select",
      ".exit"))
    assert(out == Seq(
      "db > Executed.",
      "db > (1, user1, person1@example.com)",
      "Executed.",
      "db > "))
  }

  test("allows max-length strings; rejects over-length (main_spec.rb:44-74)") {
    val db = dbDir("maxlen"); rm(db)
    val maxU = "a" * 32
    val maxE = "a" * 255
    val ok = runScript(db, Seq(s"insert 1 $maxU $maxE", "select", ".exit"))
    assert(ok == Seq(
      "db > Executed.",
      s"db > (1, $maxU, $maxE)",
      "Executed.",
      "db > "))
    rm(db)
    val tooLong = runScript(db,
      Seq(s"insert 1 ${"a" * 33} ${"a" * 256}", "select", ".exit"))
    assert(tooLong == Seq(
      "db > String is too long.",
      "db > Executed.",
      "db > "))
  }

  test("negative id / syntax / unknown keyword error strings (db.cpp:576-585)") {
    val db = dbDir("errors"); rm(db)
    val out = runScript(db, Seq(
      "insert -1 test test@test.com",
      "insert 1 only_two",
      "insert notanumber u e",
      "gibberish statement",
      ".exit"))
    assert(out == Seq(
      "db > ID must be positive.",
      "db > Syntax error. Could not parse statement",
      "db > Syntax error. Could not parse statement",
      "db > Unrecognized keyword at start of 'gibberish statement'",
      "db > "))
  }

  test("unrecognized meta-command reply (db.cpp:581-583)") {
    val db = dbDir("meta_err"); rm(db)
    val out = runScript(db, Seq(".notathing", ".exit"))
    assert(out == Seq(
      "db > Unrecognized command '.notathing'",
      "db > "))
  }

  test("1401-insert script: the capacity divergence, pinned (main_spec.rb:35-42)") {
    // The reference's single-page table rejects insert #1401 with
    // 'db > Error: Table full' (LEAF_NODE_MAX_CELLS = 13 per page ×
    // hard-coded page budget — db.cpp:64-66). That gate is a consequence
    // of its fixed 4 KB pager, not a semantic: this engine's declared
    // divergence (SURVEY §2.3, ConstraintSpec pins it) is that the SAME
    // script runs to completion — every insert replies 'Executed.' and
    // the full row count survives the close. This test drives the
    // reference script VERBATIM and pins our side of the divergence.
    val db = dbDir("table_full"); rm(db)
    val script = (1 to 1401).map(i =>
      s"insert $i user$i person$i@example.com") :+ ".exit"
    val out = runScript(db, script)
    assert(out.length == 1402, "one reply line per insert + final prompt")
    assert(out.take(1401).forall(_ == "db > Executed."),
      "no capacity gate: every insert succeeds (declared divergence)")
    assert(out.last == "db > ")
    val reread = runScript(db, Seq("select", ".exit"))
    assert(reread.length == 1403, "1401 rows + Executed. + prompt")
    assert(reread.head == "db > (1, user1, person1@example.com)")
    assert(reread(1400) == "(1401, user1401, person1401@example.com)")
  }

  test("keeps data after closing connection (main_spec.rb:93-109)") {
    val db = dbDir("persist"); rm(db)
    val first = runScript(db, Seq("insert 1 user1 person1@example.com", ".exit"))
    assert(first == Seq("db > Executed.", "db > "))
    val second = runScript(db, Seq("select", ".exit"))
    assert(second == Seq(
      "db > (1, user1, person1@example.com)",
      "Executed.",
      "db > "))
  }

  test(".constants prints the layout-governing config (main_spec.rb:111-128)") {
    val db = dbDir("constants"); rm(db)
    val out = runScript(db, Seq(".constants", ".exit"))
    assert(out.head == "db > Constants:")
    assert(out.exists(_.startsWith("spark.sql.shuffle.partitions: ")))
    assert(out.exists(_.startsWith("spark.sql.files.maxPartitionBytes: ")))
    assert(out.last == "db > ")
  }

  test(".btree prints insertion-ordered keys (main_spec.rb:130-149)") {
    val db = dbDir("btree"); rm(db)
    val out = runScript(db, Seq(
      "insert 3 user3 person3@example.com",
      "insert 1 user1 person1@example.com",
      "insert 2 user2 person2@example.com",
      ".btree",
      ".exit"))
    assert(out == Seq(
      "db > Executed.",
      "db > Executed.",
      "db > Executed.",
      "db > Tree:",
      "leaf (size 3)",
      "  - 0 : 3",
      "  - 1 : 1",
      "  - 2 : 2",
      "db > "))
  }

  test("SQL statements run over the users view and harness tables") {
    val db = dbDir("sql"); rm(db)
    val out = runScript(db, Seq(
      "insert 2 user2 b@example.com",
      "insert 1 user1 a@example.com",
      "SELECT id, username FROM users ORDER BY id",
      "SELECT COUNT(*) FROM region",
      ".exit"), sfDir = Some(sf0001))
    assert(out == Seq(
      "db > Executed.",
      "db > Executed.",
      "db > (1, user1)",
      "(2, user2)",
      "Executed.",
      "db > (5)",
      "Executed.",
      "db > "))
  }

  test("runtime SQL failures don't kill the session or lose inserts (ADVICE r9)") {
    val db = dbDir("rt_err"); rm(db)
    val out = runScript(db, Seq(
      "insert 1 user1 a@example.com",
      // parses fine, throws at execution: the session must survive it
      "SELECT raise_error('boom')",
      "select",
      ".exit"))
    assert(out.head == "db > Executed.")
    assert(out.exists(l => l.startsWith("db > Error: ")),
      s"runtime failure must print an Error reply, got: $out")
    assert(out.exists(_.endsWith("(1, user1, a@example.com)")),
      "the session (and its rows) must survive a runtime SQL failure")
    assert(out.last == "db > ")
    val reread = runScript(db, Seq("select", ".exit"))
    assert(reread.head == "db > (1, user1, a@example.com)",
      "rows inserted before the failure must persist through .exit")
  }

  test(".layout prints the physical row-group key map") {
    val db = dbDir("layout"); rm(db)
    val out = runScript(db, Seq(
      "insert 7 u e@x.com",
      "insert 9 v f@x.com",
      ".layout",
      ".exit"))
    assert(out.head == "db > Executed.")
    val layoutIdx = out.indexOf("db > Layout:")
    assert(layoutIdx >= 0)
    assert(out(layoutIdx + 1).contains("keys=[7, 9]"))
    assert(out(layoutIdx + 1).contains("rows=2"))
  }

  /** Every file under `dir` with its length and modification time. */
  private def listing(dir: String): Map[String, (Long, Long)] =
    new java.io.File(dir).listFiles().map(f => f.getName -> (f.length, f.lastModified)).toMap

  test("SQL after each insert sees every row inserted before it") {
    val db = dbDir("lazy_view"); rm(db)
    val out = runScript(db, Seq(
      "insert 1 user1 a@example.com",
      "select count(*) from users",
      "insert 2 user2 b@example.com",
      "select count(*) from users",
      ".exit"))
    assert(out == Seq(
      "db > Executed.",
      "db > (1)",
      "Executed.",
      "db > Executed.",
      "db > (2)",
      "Executed.",
      "db > "))
  }

  test(".schema after inserts lists the views and leaves users queryable") {
    val db = dbDir("schema"); rm(db)
    val out = runScript(db, Seq(
      "insert 1 user1 a@example.com",
      ".schema",
      "select username from users",
      ".exit"), sfDir = Some(sf0001))
    assert(out.head == "db > Executed.")
    assert(out(1) == "db > users(id BIGINT, username STRING, email STRING)")
    assert(Seq("lineitem", "nation", "region").forall(out.contains))
    assert(out.containsSlice(Seq("db > (user1)", "Executed.")))
  }

  test("a session with no inserts leaves the db file untouched") {
    val db = dbDir("read_only"); rm(db)
    runScript(db, Seq("insert 1 user1 a@example.com", ".exit"))
    val before = listing(db) // a rewrite also renames the part file
    val out = runScript(db, Seq("select", "select count(*) from users", ".btree", ".exit"))
    assert(out.head == "db > (1, user1, a@example.com)")
    assert(out.contains("db > (1)"))
    assert(listing(db) == before)
  }

  test(".exit on a fresh path with no inserts creates a readable empty db") {
    val db = dbDir("fresh_empty"); rm(db)
    assert(runScript(db, Seq(".exit")) == Seq("db > "))
    val stored = spark.read.parquet(db)
    assert(stored.columns.toSeq == Seq("idx", "id", "username", "email"))
    assert(stored.count() == 0)
    assert(runScript(db, Seq("select", ".exit")) == Seq("db > Executed.", "db > "))
  }

  test("an input that fails after two inserts still persists both rows") {
    val db = dbDir("input_fails"); rm(db)
    val in = Iterator("insert 1 user1 a@example.com", "insert 2 user2 b@example.com") ++
      Iterator.continually[String](throw new java.io.IOException("stdin closed"))
    val bos = new ByteArrayOutputStream()
    intercept[java.io.IOException](
      Repl.loop(spark, db, None, in, new PrintStream(bos, true, "UTF-8")))
    assert(runScript(db, Seq("select", ".exit")) == Seq(
      "db > (1, user1, a@example.com)",
      "(2, user2, b@example.com)",
      "Executed.",
      "db > "))
  }

  /** One REPL session over tagged lines: its output, and each line's Spark
    * jobs counted under the group its tag names; opening the db (and
    * registering the views) runs under "open". */
  private def tagged(db: String, sfDir: Option[String], lines: (String, String)*)
      : (Seq[String], Map[String, Int]) = {
    val bos = new ByteArrayOutputStream()
    val jobs = jobsByGroup {
      jobGroup("open")
      val in = lines.iterator.map { case (tag, line) => jobGroup(tag); line }
      Repl.loop(spark, db, sfDir, in, new PrintStream(bos, true, "UTF-8"))
    }
    (bos.toString("UTF-8").split("\n", -1).toSeq, jobs)
  }

  test("job counts: inserts run none, a users aggregate and a reopen one each") {
    def session(db: String, lines: (String, String)*) = tagged(db, None, lines: _*)
    val db = dbDir("jobs"); rm(db)
    val inserts = (1 to 50).map(i => "insert" -> s"insert $i user$i person$i@example.com")
    val (out, jobs) = session(db, inserts ++ Seq(
      "count" -> "select count(*) from users", "exit" -> ".exit"): _*)
    assert(out.containsSlice(Seq("db > (50)", "Executed.")))
    assert(jobs("insert") == 0, jobs)
    assert(jobs("count") == 0, jobs) // over driver-held rows, on the REPL's thread
    assert(jobs("exit") == 0, jobs) // the write of the changed table is driver-side
    val (reread, rejobs) = session(db, "select" -> "select", "exit" -> ".exit")
    assert(reread.length == 52, "50 rows + Executed. + prompt")
    assert(rejobs("open") == 0, rejobs) // a driver-side read
    assert(rejobs("select") == 0, rejobs)
    assert(rejobs("exit") == 0, rejobs) // read-only: nothing to write
  }

  /** `users`-only lines the REPL runs on its own thread, with no job. */
  private val usersLines = Seq(
    "select count(*) from users",
    "select max(id) from users",
    "select count(*) from users where id < 3",
    "select id, username from users where email like '%b%'",
    "select id, email from users order by id desc",
    "select length(username) % 2 as k, count(*), sum(id) from users group by 1 order by 1",
    "select length(username) % 2, min(email) from users group by 1",
    "select distinct length(email) from users order by 1",
    "select username, row_number() over (order by id desc) from users",
    "select id, sum(id) over (partition by length(username) order by id) from users",
    "select * from users",
    "select * from users limit 2",
    "select * from users order by username limit 2")

  /** Each line's rows on the driver path, if it takes it (with no job),
    * next to `Dataset.collect()`'s. */
  private def driverAndCollect(lines: Seq[String] = usersLines)
      : Seq[(String, Option[Seq[Row]], Seq[Row])] =
    lines.map { line =>
      var onDriver: Option[Array[Row]] = None
      assert(jobsDuring { onDriver = Bridge.collectOnDriver(spark.sql(line)) } == 0, line)
      (line, onDriver.map(_.toSeq), spark.sql(line).collect().toSeq)
    }

  /** Every line takes the driver path and returns collect()'s rows. */
  private def allOnDriver(): Seq[Seq[Row]] = driverAndCollect().map {
    case (line, local, collected) =>
      assert(local.isDefined, s"not run on the driver: $line")
      assert(local.get == collected, line)
      collected
  }

  test("users-only lines return the same rows on the driver as through collect()") {
    val db = dbDir("local_grid"); rm(db)
    // over no rows, Spark's optimizer drops the view's one-partition
    // Repartition, so a global aggregate plans an Exchange and collects
    assert(runScript(db, Seq("select count(*) from users", ".exit")) ==
      Seq("db > (0)", "Executed.", "db > "))
    val empty = driverAndCollect()
    empty.foreach { case (line, local, collected) =>
      local.foreach(rows => assert(rows == collected, line))
    }
    assert(empty.exists(_._2.isDefined), "some lines over no rows run on the driver")
    assert(empty.head._3 == Seq(Row(0L)))
    runScript(db, Seq("insert 3 user3 c@example.com", "insert 1 user1 a@example.com",
      "insert 2 user22 b@example.com", "select count(*) from users", ".exit"))
    val before = allOnDriver()
    assert(before.head == Seq(Row(3L)))
    runScript(db, Seq("insert 4 user4 bb@example.com", "select count(*) from users", ".exit"))
    val after = allOnDriver()
    assert(after.head == Seq(Row(4L)))
  }

  test("lines whose top-K or limit shuffles inside its operator fall back to collect()") {
    val db = dbDir("local_shuffle"); rm(db)
    runScript(db, Seq("insert 3 user3 c@example.com", "insert 1 user1 a@example.com",
      "insert 2 user22 b@example.com", "select count(*) from users", ".exit"))
    // a multi-row VALUES scan has one partition per row (up to the cores),
    // which a top-K or limit shuffles into one inside its own operator:
    // only a job can run that shuffle's map side
    val values = Seq(
      "select a from values (3), (1), (2), (5), (4) as t(a) order by a limit 2",
      "select a from values (3), (1), (2), (5), (4) as t(a) order by a desc limit 3")
    assert(spark.sparkContext.defaultParallelism > 1)
    driverAndCollect(values).foreach { case (line, local, collected) =>
      assert(local.isEmpty, s"run on the driver: $line")
      assert(collected.nonEmpty, line)
    }
    // a union of two users scans: on the driver only with collect()'s rows
    val unions = Seq(
      "select id from users union all select id from users order by id limit 3",
      "select id from users union all select id from users order by id desc limit 4",
      "select count(*) from (select id from users union all select id from users limit 4)")
    driverAndCollect(unions).foreach { case (line, local, collected) =>
      assert(collected.nonEmpty, line)
      local.foreach(rows => assert(rows == collected, line))
    }
    val out = runScript(db, Seq(values.head, unions.head, ".exit"))
    assert(out == Seq("db > (1)", "(2)", "Executed.", "db > (1)", "(1)", "(2)", "Executed.",
      "db > "), out)
  }

  test("a users-only line failing at run time frees its memory and keeps the session") {
    val db = dbDir("local_fail"); rm(db)
    spark.sparkContext // SparkEnv starts with the session
    val memory = SparkEnv.get.memoryManager
    def used() = memory.executionMemoryUsed
    val level = used()
    var during = -1L
    val out = runScript(db, Seq(
      "insert 1 user1 a@example.com",
      "insert 2 user2 b@example.com",
      // ANSI: 'user1' is no int; the sort holds memory when the cast throws
      "select cast(username as int) from users order by id",
      "select",
      ".exit").to(LazyList).map { l => if (l == "select") during = used(); l })
    assert(out.exists(_.startsWith("db > Error: ")), out)
    assert(out.containsSlice(Seq("db > (1, user1, a@example.com)", "(2, user2, b@example.com)")),
      out)
    assert(during == level, "the failed line's execution memory is released")
    assert(used() == level)
  }

  test("lines over harness tables still run jobs and return their rows") {
    val db = dbDir("local_fallback"); rm(db)
    val (out, jobs) = tagged(db, Some(sf0001),
      "insert" -> "insert 3 user3 c@example.com", "insert" -> "insert 7 user7 d@example.com",
      "join" -> ("select u.username, n.n_name from users u join nation n " +
        "on u.id = n.n_nationkey order by u.id"),
      "nation" -> "select count(*) from nation where n_regionkey = 1",
      "nr" -> ("select n_name, r_name from nation join region on n_regionkey = r_regionkey " +
        "where n_nationkey < 2 order by n_name"),
      "exit" -> ".exit")
    assert(out.containsSlice(Seq("db > (user3, NATION_3)", "(user7, NATION_7)", "Executed.")),
      out)
    assert(out.containsSlice(Seq("db > (5)", "Executed.")), out)
    assert(out.containsSlice(Seq("db > (NATION_0, AFRICA)", "(NATION_1, AMERICA)", "Executed.")),
      out)
    assert(jobs("join") > 0, jobs)
    assert(jobs("nation") == 0, jobs) // one input split, read on the REPL's thread
    assert(jobs("nr") > 0, jobs) // a broadcast join
  }

  /** Whether [[BlockLocks]] is back at `level` within 10 s: the context
    * cleaner removes blocks, under a brief write lock, as it goes. */
  private def locksBackTo(level: (Int, Long)): Boolean = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (BlockLocks() != level && System.nanoTime() < deadline) Thread.sleep(10)
    BlockLocks() == level
  }

  /** Lines over one-split harness tables: a line with a final `ORDER BY`
    * returns collect()'s rows in collect()'s order; any other line, with
    * no shuffle on the driver path, the same rows in one-partition order. */
  private val harnessLines = Seq(
    "select n_name from nation where n_regionkey = 1",
    "select count(*) from nation where n_regionkey = 1",
    "select n_regionkey, count(*), min(n_name) from nation group by n_regionkey",
    "select distinct n_regionkey from nation",
    "select n_nationkey, n_name from nation order by n_name desc",
    "select n_name, row_number() over (partition by n_regionkey order by n_nationkey) from nation",
    "select * from nation limit 3",
    "select * from region",
    "select r_regionkey from region where r_name = 'ASIA'",
    "select count(*) from region",
    "select o_orderstatus, count(*), max(o_totalprice) from orders group by 1 order by 1",
    "select o_orderkey, o_orderdate from orders where o_orderpriority = '1-URGENT' " +
      "order by o_orderkey limit 5",
    "select count(distinct o_custkey) from orders",
    "select event_type, count(*) from events group by event_type order by event_type",
    "select event_id, ts from events where event_type = 'error' order by ts, event_id limit 4",
    "select max(ts), min(value) from events",
    "select user_id, sum(value) over (partition by user_id order by event_id) from events " +
      "where user_id < 20")

  private val FinalOrder = """(?i)order by [^)]*$""".r

  test("lines over one-split harness tables return collect()'s rows on the driver") {
    SqlCatalog.registerViews(spark, sf0001)
    val level = BlockLocks()
    harnessLines.iterator.flatMap(l => driverAndCollect(Seq(l))).foreach {
      case (line, local, collected) =>
        assert(local.isDefined, s"not run on the driver: $line")
        assert(collected.nonEmpty, line)
        if (FinalOrder.findFirstIn(line).isDefined) assert(local.get == collected, line)
        else assert(local.get.sortBy(_.toString) == collected.sortBy(_.toString), line)
        assert(locksBackTo(level), s"$line left block locks: ${BlockLocks()} vs $level")
    }
  }

  test("harness lines over several splits, or with a subquery, fall back to collect()") {
    val db = dbDir("split_fallback"); rm(db)
    SqlCatalog.registerViews(spark, sf0001)
    val subquery = "select n_name from nation " +
      "where n_regionkey = (select max(r_regionkey) from region) order by n_name limit 2"
    val split = "select n_name from nation where n_regionkey = 2 order by n_name"
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    def session(lines: (String, String)*) = tagged(db, Some(sf0001), lines: _*)
    /** What the REPL prints for `line`'s rows, as collect() returns them. */
    def printed(line: String): Seq[String] = {
      val rows = spark.sql(line).collect().toSeq.map(_.toSeq.mkString("(", ", ", ")"))
      assert(rows.nonEmpty, line)
      ("db > " + rows.head) +: rows.tail :+ "Executed."
    }
    val (out, jobs) = session("subquery" -> subquery, "exit" -> ".exit")
    assert(out == printed(subquery) :+ "db > ", out)
    assert(jobs("subquery") > 0, jobs)
    assert(driverAndCollect(Seq(subquery)).head._2.isEmpty)
    spark.conf.set(key, "512") // nation.parquet is ~2.7 KB: several splits
    try {
      assert(spark.table("nation").rdd.getNumPartitions > 1)
      val unordered = "select n_name from nation where n_regionkey = 2"
      driverAndCollect(Seq(split, unordered, "select count(*) from nation")).foreach {
        case (line, local, collected) =>
          assert(local.isEmpty, s"run on the driver: $line")
          assert(collected.nonEmpty, line)
      }
      val (splitOut, splitJobs) = session("split" -> split, "exit" -> ".exit")
      assert(splitOut == printed(split) :+ "db > ", splitOut)
      assert(splitJobs("split") > 0, splitJobs)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("an INSERT … SELECT over a one-split table writes its rows once") {
    val db = dbDir("insert_select"); rm(db)
    val table = "repl_insert_select"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // a previously-failed run can leave an orphan managed-table location
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"spark-warehouse/$table"))
    try {
      // upper case, so the REPL hands the INSERT to spark.sql, not to Ingest
      val out = runScript(db, Seq(
        s"CREATE TABLE $table (a BIGINT) USING parquet",
        s"INSERT INTO $table SELECT n_nationkey FROM nation",
        s"select count(*) from $table",
        ".exit"), sfDir = Some(sf0001))
      assert(out.containsSlice(Seq("db > (25)", "Executed.")), out)
      assert(spark.table(table).count() == 25)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a harness line failing at run time frees its memory and locks and keeps the session") {
    val db = dbDir("file_fail"); rm(db)
    spark.sparkContext // SparkEnv starts with the session
    val memory = SparkEnv.get.memoryManager
    SqlCatalog.registerViews(spark, sf0001)
    val level = (memory.executionMemoryUsed, BlockLocks())
    val seen = scala.collection.mutable.Map[String, (Long, (Int, Long))]()
    val lines = Seq(
      "insert 1 user1 a@example.com",
      // ANSI: 'NATION_0' is no int; the sort holds memory when the cast throws
      "select cast(n_name as int) from nation order by n_nationkey",
      "select cast(n_name as int) from nation",
      "select n_name from nation where n_nationkey = 3",
      "select",
      ".exit")
    var out = Seq.empty[String]
    val jobs = jobsDuring {
      out = runScript(db, lines.to(LazyList).map { l =>
        if (locksBackTo(level._2)) seen(l) = (memory.executionMemoryUsed, BlockLocks())
        l
      }, sfDir = Some(sf0001))
    }
    assert(jobs == 0, "every line runs on the REPL's thread")
    assert(out.count(_.startsWith("db > Error: ")) == 2, out)
    assert(out.containsSlice(Seq("db > (NATION_3)", "Executed.")), out)
    assert(out.containsSlice(Seq("db > (1, user1, a@example.com)", "Executed.")), out)
    // each line is seen after the one before it ran
    for (l <- lines.drop(2))
      assert(seen.get(l).contains(level), s"before '$l': ${seen.get(l)} vs $level")
  }

  test("a db directory written by Spark's writer opens in insertion order") {
    val s = spark
    import s.implicits._
    val db = dbDir("spark_written"); rm(db)
    // the rows out of idx order, one part file plus _SUCCESS and .crc files
    Seq((2L, 5L, "user5", "e@x.com"), (0L, 9L, "user9", "c@x.com"), (1L, 3L, "user3", "d@x.com"))
      .toDF("idx", "id", "username", "email").coalesce(1).write.parquet(db)
    assert(new java.io.File(db).list().exists(_.startsWith("part-")))
    assert(runScript(db, Seq("select", ".exit")) == Seq(
      "db > (9, user9, c@x.com)",
      "(3, user3, d@x.com)",
      "(5, user5, e@x.com)",
      "Executed.",
      "db > "))
  }

  test("a driver-side flush is read by Spark with the fixed schema and one row group") {
    val db = dbDir("driver_flush"); rm(db)
    runScript(db, Seq("insert 7 u7 a@x.com", "insert 3 u3 b@x.com", "insert 9 u9 c@x.com",
      ".exit"))
    val stored = spark.read.parquet(db)
    assert(stored.schema.simpleString ==
      "struct<idx:bigint,id:bigint,username:string,email:string>")
    assert(stored.orderBy("idx").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq == Seq(
      (0L, 7L, "u7", "a@x.com"), (1L, 3L, "u3", "b@x.com"), (2L, 9L, "u9", "c@x.com")))
    val out = runScript(db, Seq(".layout", ".exit"))
    val layout = out.dropWhile(_ != "db > Layout:").drop(1).takeWhile(!_.startsWith("db > "))
    assert(layout.size == 1, out)
    assert(layout.head.contains("rg=0 keys=[3, 9] rows=3"), out)
  }

  test("a hidden temp file in the db directory changes nothing open reads") {
    val db = dbDir("hidden_tmp"); rm(db)
    runScript(db, Seq("insert 1 user1 a@example.com", ".exit"))
    val dir = new java.io.File(db)
    val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get.toPath
    // a valid parquet file under hidden names, and a torn temp file
    for (n <- Seq("_flush-left.tmp", "_copy.parquet", ".copy.parquet"))
      java.nio.file.Files.copy(part, dir.toPath.resolve(n))
    java.nio.file.Files.write(dir.toPath.resolve("_flush-torn.tmp"), Array[Byte](1, 2, 3))
    assert(runScript(db, Seq("select", ".layout", ".exit")) == Seq(
      "db > (1, user1, a@example.com)",
      "Executed.",
      "db > Layout:",
      "  part-0.parquet rg=0 keys=[1, 1] rows=1",
      "db > "))
    assert(runScript(db, Seq("insert 2 user2 b@example.com", ".exit")) ==
      Seq("db > Executed.", "db > "))
    assert(dir.list().filterNot(_.endsWith(".crc")).toSeq == Seq("part-1.parquet"),
      "a flush replaces every old file")
    assert(runScript(db, Seq("select", ".exit")).take(2) == Seq(
      "db > (1, user1, a@example.com)", "(2, user2, b@example.com)"))
  }

  test("a flush cut off after its rename opens as the new db") {
    val s = spark
    import s.implicits._
    val db = dbDir("cut_flush"); rm(db)
    val dir = new java.io.File(db)
    def visible() = dir.list().filterNot(_.endsWith(".crc")).sorted.toSeq
    // the old db from Spark's writer, and a first-generation db file
    // renamed in beside it before the old files were removed
    Seq((0L, 5L, "user5", "old@x.com")).toDF("idx", "id", "username", "email")
      .coalesce(1).write.parquet(db)
    val other = dbDir("cut_flush_new"); rm(other)
    runScript(other, Seq("insert 7 user7 new@x.com", "insert 8 user8 new@x.com", ".exit"))
    val gen0 = new java.io.File(other, "part-0.parquet").toPath
    java.nio.file.Files.copy(gen0, dir.toPath.resolve("part-0.parquet"))
    assert(runScript(db, Seq("select", ".exit")) == Seq(
      "db > (7, user7, new@x.com)", "(8, user8, new@x.com)", "Executed.", "db > "))
    assert(runScript(db, Seq("insert 9 user9 new@x.com", ".exit")) ==
      Seq("db > Executed.", "db > "))
    assert(visible() == Seq("part-1.parquet"), "the next flush removes the old files")
    // generation 1 committed, generation 0 not yet removed
    java.nio.file.Files.copy(gen0, dir.toPath.resolve("part-0.parquet"))
    assert(runScript(db, Seq("select", ".exit")).take(3) == Seq(
      "db > (7, user7, new@x.com)", "(8, user8, new@x.com)", "(9, user9, new@x.com)"))
  }

  test("scalar parseLine agrees with the columnar parseStatements surface") {
    val s = spark
    import s.implicits._
    val lines = Seq(
      "insert 1 u e@x.com", "insert -5 u e", "insert 1 toolong" + "a" * 40,
      "insert 1 u " + "b" * 256, "insert", "insert 2", "select everything",
      "", "  insert   3   spaced   out@x.com  ", "insert x y z",
      "INSERT 1 u e")
    val columnar = Ingest.parseStatements(lines.toDF("line"), "line")
      .collect().map(r => Option(r.getString(3)))
    lines.zip(columnar).foreach { case (line, colErr) =>
      val scalarErr = Ingest.parseLine(line).left.toOption
      assert(scalarErr == colErr,
        s"parseLine vs parseStatements diverge on '$line': " +
          s"$scalarErr vs $colErr")
    }
  }
}
