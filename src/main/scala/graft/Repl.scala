package graft

import java.io.PrintStream
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Ingest, Meta}

/** Interactive statement REPL — the analogue of the reference's main loop
  * (`/root/reference/db.cpp:538-601`): prompt, read a line, dispatch to a
  * meta-command (leading '.') or a statement, print the reply, repeat.
  *
  * Parity surface (`spec/main_spec.rb` shapes, verbatim strings):
  *   - prompt `"db > "`, `.exit` closes the db (flush, `db.cpp:519-521`);
  *   - `insert <id> <username> <email>` via [[Ingest.parseLine]] — the
  *     reference's exact validation order and error strings
  *     (`db.cpp:576-585`): `Syntax error. Could not parse statement`,
  *     `Unrecognized keyword at start of '<input>'`,
  *     `String is too long.`, `ID must be positive.`; `Executed.` on
  *     success;
  *   - bare `select` prints every stored row as `(id, username, email)`
  *     (`db.cpp:444-446`) then `Executed.`;
  *   - `.constants` prints `Constants:` + the layout-governing session
  *     configuration ([[Meta.constants]] — the `db.cpp:459-467` analogue);
  *   - `.btree` prints `Tree:` + `leaf (size N)` + `  - <idx> : <id>` in
  *     insertion order (`db.cpp:448-457` prints the root leaf's cells in
  *     exactly this format — here the "leaf" is the users table);
  *   - unknown meta-commands reply `Unrecognized command '<input>'`
  *     (`db.cpp:581-583` switch arm at `main`).
  *
  * Superset surface (the Spark engine behind the same prompt):
  *   - any other line is executed as a `spark.sql` statement over the
  *     registered harness views and the live `users` view — the
  *     SqlCatalog front door made interactive. A line Spark cannot parse
  *     replies with the reference's unrecognized-keyword string.
  *   - `.schema` lists the queryable views, `.layout` prints the parquet
  *     row-group key map of the persisted db ([[Meta.layout]], the
  *     physical dual of `.btree`).
  *
  * Persistence mirrors `db_open`/`db_close` (`db.cpp:546,519`) and, like
  * them, is plain file I/O on the driver: no Spark job runs at open or at
  * `.exit`. The db path is a directory of parquet files over [[DbSchema]].
  * Open reads every visible `*.parquet` file in it with the parquet-hadoop
  * reader and sorts the rows by insertion index, so a directory written
  * by Spark's own writer opens too. `.exit` writes the table back once, as
  * `db_close` flushes its pages once, and only if the session changed the
  * table or the db does not exist yet: one file, written in full with the
  * session's parquet codec under a hidden name, then renamed to the next
  * `part-<generation>.parquet` before the old files are removed, so a
  * crash leaves the old rows or the new ones. A read-only session leaves
  * the files untouched. This is the keeps-data-after-closing spec
  * (`spec/main_spec.rb:93-109`).
  *
  * Scale note: the REPL is a driver-side interactive shell by contract —
  * its `users` table is REPL state (like the reference's single page):
  * an insert appends a row in driver memory, as `leaf_node_insert`
  * writes into the cached page, and runs no Spark work. The `users` view
  * is a one-partition local relation over those rows, rebuilt on demand
  * before the next line that goes through Spark (SQL, `.schema`).
  *
  * A SQL line whose physical plan reads only those driver-held rows or
  * harness tables of one input split each (every leaf a local scan or a
  * one-partition file scan, no exchange, no subquery, one partition that
  * reads no shuffle: any `users`-only line over a non-empty table, and
  * most lines over `nation`, `region` and the other small harness files)
  * skips the scheduler, as Hive's fetch-task conversion runs a small
  * query without a MapReduce job. It runs on the REPL's thread through
  * [[Bridge.collectOnDriver]], with no Spark job, and prints the rows
  * `collect()` would; a line with no `ORDER BY` prints them in the order
  * of its one partition. Such a line starts no SQL execution, so it fires
  * no `QueryExecutionListener` and no SQL UI event. Every other line (a
  * broadcast join, a subquery, a scan of several splits such as
  * `lineitem` at sf0.1) runs as a normal distributed plan through
  * `collect()`.
  */
object Repl {

  private val UsersSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("username", StringType),
    StructField("email", StringType)))

  /** The persisted db file: the users table plus its insertion index. */
  private val IdxField = StructField("idx", LongType, nullable = false)
  private val DbSchema = StructType(IdxField +: UsersSchema.fields)
  private val DbMessage = new SparkToParquetSchemaConverter().convert(DbSchema)

  /** The names [[writeDb]] commits the db under, `part-<generation>.parquet`;
    * Spark's writer never writes such a name. */
  private val DbFile = """part-(\d+)\.parquet""".r
  private def generation(p: Path): Option[Long] =
    DbFile.unapplySeq(p.getName).map(_.head.toLong)

  /** The db's rows in insertion order, read on the driver. The [[DbFile]]
    * of the greatest generation is the whole db; without one, as in a
    * directory from Spark's writer, every visible `*.parquet` file is. */
  private def readDb(spark: SparkSession, dir: Path): Seq[InternalRow] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = Meta.parquetFiles(dir.getFileSystem(conf), dir).map(_.getPath)
    val current = files.flatMap(f => generation(f).map(_ -> f)).maxByOption(_._1).map(_._2)
    def value(g: Group, f: StructField): Any =
      if (g.getFieldRepetitionCount(f.name) == 0) null
      else f.dataType match {
        case LongType => g.getLong(f.name, 0)
        case StringType => UTF8String.fromBytes(g.getBinary(f.name, 0).getBytes)
      }
    current.fold(files)(Seq(_)).flatMap { f =>
      val reader = ParquetReader.builder(new GroupReadSupport(), f).withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
        g.getLong(IdxField.name, 0) ->
          InternalRow.fromSeq(UsersSchema.fields.toSeq.map(value(g, _)))
      }.toVector finally reader.close()
    }.sortBy(_._1).map(_._2)
  }

  /** Replaces the db in `dir` with one file holding `users`. The file is
    * written in full under a name readers skip (a leading `_`, and no
    * `.parquet` suffix), then renamed to the next [[DbFile]] generation, a
    * name no file has; only then are the old files removed. A crash at any
    * point leaves either the old rows or the new ones for [[readDb]]. */
  private def writeDb(spark: SparkSession, dir: Path, users: Seq[InternalRow]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    val old = if (fs.exists(dir)) fs.listStatus(dir).map(_.getPath).toSeq else Nil
    val gen = old.flatMap(generation).maxOption.fold(0L)(_ + 1)
    val next = new Path(dir, s"part-$gen.parquet")
    val tmp = new Path(dir, s"_flush-${UUID.randomUUID()}.tmp")
    val codec = spark.conf.get("spark.sql.parquet.compression.codec").toLowerCase match {
      case "none" => CompressionCodecName.UNCOMPRESSED
      case c => CompressionCodecName.fromConf(c)
    }
    val writer = ExampleParquetWriter.builder(tmp).withConf(conf).withType(DbMessage)
      .withCompressionCodec(codec).build()
    val groups = new SimpleGroupFactory(DbMessage)
    try users.zipWithIndex.foreach { case (u, i) =>
      val g = groups.newGroup().append(IdxField.name, i.toLong)
      UsersSchema.fields.zipWithIndex.foreach { case (f, k) =>
        if (!u.isNullAt(k)) f.dataType match {
          case LongType => g.add(k + 1, u.getLong(k))
          case StringType =>
            g.add(k + 1, Binary.fromConstantByteArray(u.getUTF8String(k).getBytes))
        }
      }
      writer.write(g)
    } finally writer.close()
    if (!fs.rename(tmp, next))
      throw new java.io.IOException(s"could not rename $tmp to $next")
    old.foreach(fs.delete(_, true))
  }

  /** One REPL session over explicit input/output streams — the testable
    * core (`ReplSpec` drives it with scripted stdin exactly like the
    * reference's `run_script`). */
  def loop(spark: SparkSession, dbPath: String, sfDir: Option[String],
      in: Iterator[String], out: PrintStream): Unit = {
    sfDir.foreach(d => SqlCatalog.registerViews(spark, d))

    // the users table, in insertion order, as the view's Catalyst rows
    val users = scala.collection.mutable.ArrayBuffer[InternalRow]()
    def append(u: Ingest.User): Unit =
      users += InternalRow(u.id, UTF8String.fromString(u.username),
        UTF8String.fromString(u.email))

    // db_open: the rows are few, read and sorted by idx on the driver
    val dir = new Path(dbPath)
    val exists = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)
    if (exists) users ++= readDb(spark, dir)

    // the users view lags the table until a line that goes through Spark
    // needs it; one partition, so a global aggregate over it plans no
    // Exchange
    var viewStale = true
    def refreshView(): Unit = if (viewStale) {
      Bridge.replaceLocalView(spark, "users", UsersSchema, users.toIndexedSeq)
      viewStale = false
    }

    // db_close: write the table once if this session changed it, or
    // create the db file db_open would have created
    var dirty = !exists
    def flush(): Unit = if (dirty) {
      writeDb(spark, dir, users.toSeq)
      dirty = false
    }

    def renderRow(vs: Seq[Any]): String =
      vs.map(v => if (v == null) "NULL" else v.toString)
        .mkString("(", ", ", ")")

    var done = false
    // flush-on-any-exit: .exit and end-of-input flush inline below; a
    // fatal error escaping the dispatch (meta-command I/O, OOM, a failing
    // input) must still persist this session's inserts, so the finally
    // flushes too. After a normal close the table is clean and that call
    // writes nothing (ADVICE r9)
    try while (!done) {
      out.print("db > ")
      if (!in.hasNext) { flush(); done = true }
      else {
        val input = in.next()
        if (input.startsWith(".")) input match {
          case ".exit" =>
            flush(); done = true
          case ".constants" =>
            out.println("Constants:")
            Meta.constants(spark).collect().foreach { r =>
              out.println(s"${r.getString(0)}: ${r.getString(1)}")
            }
          case ".btree" =>
            out.println("Tree:")
            out.println(s"leaf (size ${users.size})")
            users.zipWithIndex.foreach { case (u, i) =>
              out.println(s"  - $i : ${u.getLong(0)}")
            }
          case ".schema" =>
            refreshView()
            out.println(s"users(id BIGINT, username STRING, email STRING)")
            spark.catalog.listTables().collect()
              .map(_.name).filterNot(_ == "users").sorted
              .foreach(t => out.println(t))
          case ".layout" =>
            flush() // the physical map reflects the flushed file
            out.println("Layout:")
            Meta.layout(spark, dbPath, "id").collect().foreach { r =>
              out.println(s"  ${r.getString(0)} rg=${r.getInt(1)} " +
                s"keys=[${r.getLong(2)}, ${r.getLong(3)}] rows=${r.getLong(4)}")
            }
          case _ =>
            out.println(s"Unrecognized command '$input'")
        } else if (input.trim == "select") {
          users.foreach(u => out.println(renderRow(Seq(u.getLong(0),
            u.getUTF8String(1), u.getUTF8String(2)))))
          out.println("Executed.")
        } else if (input.startsWith("insert")) {
          Ingest.parseLine(input) match {
            case Right(u) =>
              append(u); viewStale = true; dirty = true
              out.println("Executed.")
            case Left(err) => out.println(err)
          }
        } else {
          try {
            refreshView()
            val df = spark.sql(input)
            Bridge.collectOnDriver(df).getOrElse(df.collect())
              .foreach(r => out.println(renderRow(r.toSeq)))
            out.println("Executed.")
          } catch {
            case _: org.apache.spark.sql.AnalysisException |
                 _: org.apache.spark.sql.catalyst.parser.ParseException =>
              out.println(s"Unrecognized keyword at start of '$input'")
            // a statement that PARSES but fails at execution time (bad
            // file path in a read, ANSI cast overflow, ...) must not kill
            // the session — the reference's loop survives every bad input,
            // and an escaping exception here would skip the .exit flush
            // and lose the rows inserted this session (ADVICE r9)
            case scala.util.control.NonFatal(e) =>
              out.println(s"Error: ${e.getMessage}")
          }
        }
      }
    } finally scala.util.Try(flush()).failed.foreach { e =>
      // a session that died abnormally AND whose safety-net flush failed
      // must say so — silently dropping the failure would let the user
      // believe their inserts persisted when they did not (ADVICE r10)
      out.println(s"Error: flush failed: ${e.getMessage}")
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 1) {
      // verbatim db.cpp:542
      println("Must supply a database filename.")
      sys.exit(1)
    }
    val dbPath = args(0)
    val sfDir = args.lift(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // shared session recipe (VERDICT r10 #5) — same engine config as
    // Bench/Verify; ERROR level keeps the interactive prompt clean
    val spark = GraftSession.local(cpus, logLevel = "ERROR")
    try loop(spark, dbPath, sfDir, scala.io.Source.stdin.getLines(), Console.out)
    finally spark.stop()
  }
}
