package graft

import org.apache.spark.sql.functions._

/** Reference constraint semantics (`/root/reference/db.cpp:404-419`,
  * boundary cases from `/root/reference/spec/main_spec.rb:44-89`):
  * id must be >= 0, username <= 32 chars, email <= 255 chars — accept AT
  * the boundary, reject one past it. */
class ConstraintSpec extends SparkSpecBase {

  private def users(rows: (Long, String, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "username", "email")
  }

  private def accepted(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.filter(col("id") >= 0 && length(col("username")) <= 32 &&
        length(col("email")) <= 255)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted

  test("username of exactly 32 chars is accepted; 33 rejected") {
    // spec/main_spec.rb:44-75
    val df = users(
      (1L, "a" * 32, "ok@example.com"),
      (2L, "a" * 33, "ok@example.com"))
    assert(accepted(df) == Seq(1L))
  }

  test("email of exactly 255 chars is accepted; 256 rejected") {
    val df = users(
      (1L, "user", "a" * 255),
      (2L, "user", "a" * 256))
    assert(accepted(df) == Seq(1L))
  }

  test("negative id is rejected") {
    // spec/main_spec.rb:77-89
    val df = users(
      (-1L, "test", "test@test.com"),
      (0L, "zero", "zero@test.com"))
    assert(accepted(df) == Seq(0L))
  }

  test("constraint_check labels each violation with the reference's reason") {
    val out = SparkEntry.queries("constraint_check")(spark, sf0001)
    val byReason = out.groupBy("reject_reason").count()
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(byReason.contains(Some("ID must be positive.")))
    assert(byReason.contains(Some("String is too long.")))
    assert(byReason(None) > 0) // most rows accepted
    // accepted flag is exactly reject_reason IS NULL
    assert(out.filter(col("accepted") =!= col("reject_reason").isNull)
      .count() == 0)
  }

  test("capacity gate: the reference's 13-cell TABLE_FULL is superseded") {
    // The reference rejects the 14th row with EXECUTE_TABLE_FULL
    // (db.cpp:472-475, exercised at spec/main_spec.rb:35-42) because its
    // single in-memory page array is fixed at 13 cells. The engine has NO
    // such gate — deliberately (SURVEY §4.2): storage is parquet +
    // Spark's spill-to-disk execution, so table size is bounded by
    // storage, not by a page-count constant. The observable contract is
    // therefore: an insert batch far past the reference's limit is
    // accepted in full.
    val df = users((0L until 100L).map(i =>
      (i, s"user$i", s"user$i@example.com")): _*)
    assert(accepted(df).size == 100,
      "no analogue of EXECUTE_TABLE_FULL may reject rows")
  }

  test("insert_append drops exactly the constraint-violating fresh rows") {
    val out = SparkEntry.queries("insert_append")(spark, sf0001)
    val ids = out.select("id").collect().map(_.getLong(0)).toSet
    assert(ids.contains(900001L) && ids.contains(900002L))
    assert(!ids.contains(-1L))     // negative id rejected
    assert(!ids.contains(900003L)) // 33-char username rejected
  }
}
