package graft

import java.io.{ByteArrayOutputStream, PrintStream}

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

  test("job counts: inserts run none, a users aggregate and a reopen one each") {
    // each line's Spark jobs are counted under the group its tag names;
    // opening the db runs under "open"
    def session(db: String, lines: (String, String)*): (Seq[String], Map[String, Int]) = {
      val bos = new ByteArrayOutputStream()
      val jobs = jobsByGroup {
        jobGroup("open")
        val in = lines.iterator.map { case (tag, line) => jobGroup(tag); line }
        Repl.loop(spark, db, None, in, new PrintStream(bos, true, "UTF-8"))
      }
      (bos.toString("UTF-8").split("\n", -1).toSeq, jobs)
    }
    val db = dbDir("jobs"); rm(db)
    val inserts = (1 to 50).map(i => "insert" -> s"insert $i user$i person$i@example.com")
    val (out, jobs) = session(db, inserts ++ Seq(
      "count" -> "select count(*) from users", "exit" -> ".exit"): _*)
    assert(out.containsSlice(Seq("db > (50)", "Executed.")))
    assert(jobs("insert") == 0, jobs)
    assert(jobs("count") == 1, jobs)
    assert(jobs("exit") == 0, jobs) // the write of the changed table is driver-side
    val (reread, rejobs) = session(db, "select" -> "select", "exit" -> ".exit")
    assert(reread.length == 52, "50 rows + Executed. + prompt")
    assert(rejobs("open") == 0, rejobs) // a driver-side read
    assert(rejobs("select") == 0, rejobs)
    assert(rejobs("exit") == 0, rejobs) // read-only: nothing to write
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
