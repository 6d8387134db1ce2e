package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

/** The SQL-text front door must be a faithful twin of the DataFrame path:
  * for every key in [[SqlCatalog.queriesSql]], running the SQL text against
  * the catalog views returns exactly the DataFrame query's schema and rows
  * (bit-exact — both paths share the decimal-sum/round determinism
  * discipline, so even doubles must agree).
  *
  * Split per FAMILY (VERDICT r12 #5): the former single 11-minute test
  * meant any failure needed a full replay to name its key; one test per
  * key family keeps identical coverage (the coverage census below pins
  * set-equality) while a red row names the family directly and the
  * assertion message names the key. Pure-SELECT families additionally
  * compare their keys on a small thread pool — local[32] at sf0.001 leaves
  * most cores idle under sequential sub-second queries, and a SELECT over
  * temp views has no cross-key state to race. Families whose DataFrame or
  * script paths WRITE (fixed io dirs, managed tables, catalog confs) keep
  * the sequential discipline: two concurrent writers on one path corrupt
  * it, and the CC-script keys deliberately share their edge/label dirs. */
class SqlEntrySpec extends SparkSpecBase {

  private def family(k: String): String = k.split("_")(0)

  /** Only `meta` runs sequentially in the SQL-twin pass: meta_analyze
    * toggles session-wide CBO confs (harmless to ROW results, which is all
    * this spec asserts, but kept out of the concurrent window on
    * principle). Every other writer key owns its io dirs / managed-table
    * names exclusively (audited: Sources keys use ioDir(key)-named paths;
    * dedup_incremental, sim_index_persist/delta, mm_shard_read each write
    * their own dir), and a key's DataFrame side is fully collected before
    * its twin runs — so cross-KEY concurrency never shares a path. The
    * CC-script keys DO share edge/label dirs, which is why the script-twin
    * pass below stays fully sequential. */
  private val sequentialFamilies = Set("meta")

  private def compareKeys(keys: Seq[String],
      via: String => (SparkSession, String) => org.apache.spark.sql.DataFrame,
      label: String, parallel: Boolean): Unit = {
    GraftExtensions.install(spark) // float_dot must be SQL-callable
    def check(k: String): Unit = {
      SparkSession.setActiveSession(spark)
      // collect the DataFrame side BEFORE building the twin: a script twin
      // re-runs the key's DDL (DROP + CTAS), which invalidates the lazy
      // DataFrame's file snapshot (meta_analyze read dropped parquet)
      val df = SparkEntry.queries(k)(spark, sf0001)
      val dfCols = df.columns.toSeq
      val expect = df.collect().map(_.toSeq)
      val twin = via(k)(spark, sf0001)
      assert(dfCols == twin.columns.toSeq,
        s"$k: columns ${twin.columns.toSeq} != $dfCols")
      val got = twin.collect().map(_.toSeq)
      assert(expect.length == got.length,
        s"$k: ${got.length} rows via $label, ${expect.length} via DataFrame")
      expect.zip(got).zipWithIndex.foreach { case ((e, g), i) =>
        assert(e == g, s"$k: row $i differs — $label=$g df=$e")
      }
    }
    if (!parallel) keys.foreach(check)
    else {
      // 6 comparison lanes: each lane is 2 sub-second local jobs; wider
      // pools just contend on the scheduler at this scale
      val pool = Executors.newFixedThreadPool(6)
      val errors = new ConcurrentLinkedQueue[Throwable]()
      keys.foreach { k =>
        pool.execute(() =>
          try check(k)
          catch { case t: Throwable => errors.add(t) })
      }
      pool.shutdown()
      assert(pool.awaitTermination(20, TimeUnit.MINUTES), "family timed out")
      if (!errors.isEmpty) throw errors.peek()
    }
    // untimed hygiene between families: released HERE (never per-key, and
    // never concurrently) so a truncated-lineage localCheckpoint can't be
    // unpersisted out from under a still-running twin
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  // one test per family, registered at construction from the live catalog —
  // a new key lands in its family's test with no spec edit
  SqlCatalog.queriesSql.keys.toSeq.groupBy(family).toSeq.sortBy(_._1)
    .foreach { case (fam, keys) =>
      val par = !sequentialFamilies.contains(fam)
      test(s"sql twin [$fam]: ${keys.size} key(s) match the DataFrame path" +
          (if (par) "" else " (sequential)")) {
        compareKeys(keys.sorted, SqlCatalog.sql, "sql", parallel = par)
      }
    }

  SqlCatalog.queriesScript.keys.toSeq.groupBy(family).toSeq.sortBy(_._1)
    .foreach { case (fam, keys) =>
      test(s"script twin [$fam]: ${keys.size} key(s) match the DataFrame " +
          "path (sequential)") {
        // scripts write by design (CTAS, INSERT OVERWRITE DIRECTORY, the
        // shared CC edge/label dirs) — always sequential
        compareKeys(keys.sorted, SqlCatalog.runScript, "script",
          parallel = false)
      }
    }

  test("statement-text coverage census") {
    val keys = SqlCatalog.queriesSql.keys.toSeq.sorted
    assert(keys.size >= 70,
      s"SQL catalog should cover >=70 declared queries, has ${keys.size}")
    // every SQL entry must correspond to a declared query
    val undeclared = keys.filterNot(SparkEntry.queries.contains)
    assert(undeclared.isEmpty, s"SQL entries without declared query: $undeclared")
    val undeclaredScript =
      SqlCatalog.queriesScript.keys.filterNot(SparkEntry.queries.contains)
    assert(undeclaredScript.isEmpty,
      s"script entries without declared query: $undeclaredScript")
    // statement-text coverage: single SELECTs + scripts must reach every
    // declared key except meta_vacuum (a physical file DELETE — SQL has
    // no statement for it). The connected-components keys joined the
    // script surface in round 11 via bounded-round expansion
    // (SqlCatalog.ccRoundStatements) — Spark 4.1 recursive CTEs still
    // reject the UNION-distinct recursion a single SELECT would need.
    val covered = SqlCatalog.queriesSql.keySet ++ SqlCatalog.queriesScript.keySet
    val uncovered = SparkEntry.queries.keySet -- covered
    assert(uncovered == Set("meta_vacuum"),
      s"keys without any statement-text path: ${uncovered.toSeq.sorted}")
    // one text per key: an override that repeats its key's oracle text
    // byte for byte is a redundant copy
    val redundant = SqlCatalog.sparkOverrides.collect {
      case (k, t) if SparkEntry.oracleSql.get(k).contains(t) => k }
    assert(redundant.isEmpty,
      s"Spark overrides identical to the oracle text: ${redundant.toSeq.sorted}")
    // registration census: `++` keeps the last of two equal keys silently,
    // so the per-module maps must be disjoint — their sizes add up to the
    // size of the folded map
    def dupes(maps: Seq[Map[String, _]]): Seq[String] =
      maps.flatMap(_.keys).groupBy(identity).collect {
        case (k, ks) if ks.size > 1 => k }.toSeq.sorted
    assert(SparkEntry.queryMaps.map(_.size).sum == SparkEntry.queries.size,
      s"keys in two queries maps: ${dupes(SparkEntry.queryMaps)}")
    assert(SparkEntry.oracleMaps.map(_.size).sum == SparkEntry.oracleSql.size,
      s"keys in two oracle maps: ${dupes(SparkEntry.oracleMaps)}")
  }

  test("upstream limitation pinned: recursive CTE rejects UNION-distinct") {
    // WHY connected components is a statement SCRIPT and not one SELECT:
    // the closure needs cross-iteration dedup (UNION distinct) to
    // terminate on the cyclic symmetrized graph, and Spark 4.1's
    // recursive CTE accepts only UNION ALL recursion — pinned here so the
    // day Spark lifts it, this test fails and the single-SELECT rewrite
    // becomes possible.
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("WITH RECURSIVE r(n) AS (SELECT 1 UNION " +
        "SELECT n + 1 FROM r WHERE n < 3) SELECT * FROM r").collect()
    }
    val cond = Option(e.getCondition).getOrElse("")
    assert(cond.contains("RECURSI") || e.getMessage.contains("RECURSI"),
      s"unexpected failure shape: cond=$cond msg=${e.getMessage.take(300)}")
  }
}
