package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's statement-parsing surface, typed.
  *
  * `prepareInsert` (`/root/reference/db.cpp:392-426`) tokenizes
  * `insert <id> <username> <email>` with a stringstream, then validates:
  * arity (`db.cpp:404-407`), integer id ≥ 0 (`db.cpp:409-414`), username
  * ≤ 32 and email ≤ 255 chars (`db.cpp:416-419`). This module is that
  * parser as a distributed relational op: a Dataset of raw statement lines
  * → parsed + validated rows with a reject reason, using the reference
  * REPL's verbatim error strings (`db.cpp:576-585`): `"Syntax error. Could
  * not parse statement"` (no trailing period), `"Unrecognized keyword at
  * start of '<input>'"` (with the offending input interpolated), `"ID must
  * be positive."`, `"String is too long."`. The typed [[User]] surface is
  * where `Dataset[T]` encoders pay (SURVEY §1.5): downstream code gets
  * compile-time fields, not stringly-typed Rows.
  */
object Ingest {
  case class User(id: Long, username: String, email: String)

  val MaxUsername = 32 // db.cpp:38
  val MaxEmail = 255   // db.cpp:39

  // compiled once: String.split compiles a multi-char regex on every call
  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** Parse + validate statement lines (columnar path, codegen'd): returns
    * (id, username, email, reject_reason) with reason = null for accepted
    * rows — the engine form of the REPL's per-statement error replies. */
  def parseStatements(lines: DataFrame, lineCol: String): DataFrame = {
    val p = split(trim(col(lineCol)), "\\s+")
    // try_element_at: missing positions are NULL (arity errors), never an
    // ANSI INVALID_ARRAY_INDEX
    lines
      .withColumn("kw", try_element_at(p, lit(1)))
      .withColumn("id_str", try_element_at(p, lit(2)))
      .withColumn("username", try_element_at(p, lit(3)))
      .withColumn("email", try_element_at(p, lit(4)))
      .withColumn("id", expr("try_cast(id_str AS BIGINT)"))
      .withColumn("reject_reason",
        when(col("kw") =!= "insert",
          concat(lit("Unrecognized keyword at start of '"),
            col(lineCol), lit("'")))
          .when(size(p) < 4, "Syntax error. Could not parse statement")
          .when(col("id").isNull, "Syntax error. Could not parse statement")
          .when(col("id") < 0, "ID must be positive.")
          .when(length(col("username")) > MaxUsername, "String is too long.")
          .when(length(col("email")) > MaxEmail, "String is too long.")
          .otherwise(lit(null).cast("string")))
      .select(col("id"), col("username"), col("email"), col("reject_reason"))
  }

  /** Driver-side scalar twin of [[parseStatements]] — the per-line parser
    * the interactive REPL (`graft.Repl`, the `db.cpp:538-601` analogue)
    * uses, with the SAME rule order and verbatim error strings as the
    * columnar path (IngestSpec pins the two surfaces agree on a grid of
    * inputs). Left = the reference's error reply, Right = the typed row. */
  def parseLine(line: String): Either[String, User] = {
    val toks = Whitespace.split(line.trim, -1)
    def tok(i: Int): Option[String] =
      if (i < toks.length && toks(i).nonEmpty) Some(toks(i)) else None
    if (!tok(0).contains("insert"))
      Left(s"Unrecognized keyword at start of '$line'")
    else if (toks.length < 4)
      Left("Syntax error. Could not parse statement")
    else {
      val idOpt = tok(1).flatMap(s => scala.util.Try(s.toLong).toOption)
      idOpt match {
        case None => Left("Syntax error. Could not parse statement")
        case Some(id) if id < 0 => Left("ID must be positive.")
        case Some(id) =>
          val (u, e) = (toks(2), toks(3))
          if (u.length > MaxUsername || e.length > MaxEmail)
            Left("String is too long.")
          else Right(User(id, u, e))
      }
    }
  }

  /** Typed surface: accepted statements as a Dataset[User]. */
  def parseAccepted(spark: SparkSession, lines: DataFrame, lineCol: String): Dataset[User] = {
    import spark.implicits._
    parseStatements(lines, lineCol)
      .filter(col("reject_reason").isNull)
      .select(col("id"), col("username"), col("email"))
      .as[User]
  }
}
