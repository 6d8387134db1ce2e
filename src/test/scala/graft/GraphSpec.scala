package graft

import org.apache.spark.sql.functions._

import graft.ops.Graph

/** The shared primitives of [[graft.ops.Graph]]. The per-key graph
  * properties live in the suites of the batches that declared them. */
class GraphSpec extends SparkSpecBase {

  test("reachClosure: 2 rounds on a 10-node path fail loudly, 4 rounds close all 55 pairs") {
    val s = spark
    import s.implicits._
    // 0 → 1 → … → 9 plus identity; the longest path has 9 edges, so
    // doubling needs 4 rounds (2^4 = 16 ≥ 9) and 2 rounds reach only 4
    val r0 = ((0L to 9L).map(v => (v, v)) ++ (0L to 8L).map(v => (v, v + 1)))
      .toDF("src", "dst")
    val e = intercept[IllegalStateException](Graph.reachClosure(r0, 2))
    assert(e.getMessage.contains("2 doubling rounds"), e.getMessage)
    val closed = Graph.reachClosure(r0, 4).as[(Long, Long)].collect().toSet
    val expected = (for (a <- 0L to 9L; b <- a to 9L) yield (a, b)).toSet
    assert(closed.size == 55)
    assert(closed == expected)
  }

  test("basketEdges: deduplicated directed arcs are both orientations of the undirected edges") {
    val und = Graph.basketEdges(spark, sf0001, 3)
    val arcs = Graph.basketEdges(spark, sf0001, 3, directed = true)
      .dropDuplicates("src", "dst")
    val both = und.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(und.select(col("pb").as("src"), col("pa").as("dst")))
    assert(und.count() > 0)
    assert(und.filter(col("pa") >= col("pb")).isEmpty)
    assert(arcs.count() == both.count())
    assert(arcs.exceptAll(both).isEmpty && both.exceptAll(arcs).isEmpty)
  }
}
