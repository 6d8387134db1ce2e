package graft

import org.apache.spark.sql.functions._

import graft.core.{Tables => T}
import graft.ops.{Frontier5, Graph}

/** Round-13b operator tests: local Scala replays (an independent
  * implementation of each statistic folded driver-side at sf0.001) plus
  * the structural invariants the declared results must satisfy. The
  * DuckDB hash-compare is the primary gate; these tests pin the MATH —
  * a rank-sum identity, a first-crossing replay, an SCC⊆WCC containment
  * — so a same-wrong-answer-in-both-dialects bug cannot hide. */
class Round13bOpsSpec extends SparkSpecBase {

  private def cents(v: Double): Long =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      .*(BigDecimal(100)).toLongExact

  test("agg_kendall: matches a local O(grid^2) replay of tau-b") {
    val rows = Frontier5.aggKendall(spark, sf0001).collect()
    assert(rows.length == 5)
    // independent replay: weekly grid folded driver-side
    val wk = T.orders(spark, sf0001)
      .select(col("o_orderpriority"),
        date_trunc("week", col("o_orderdate")).cast("date").as("wk"),
        col("o_totalprice"))
      .collect()
      .map(r => ((r.getString(0), r.getDate(1)), cents(r.getDouble(2))))
      .groupBy(_._1).view
      .mapValues(vs => (vs.size.toLong, vs.map(_._2).sum)).toMap
    rows.foreach { r =>
      val pri = r.getString(0)
      val grid = wk.collect { case ((p, w), v) if p == pri => (w, v) }
        .toSeq.sortBy(_._1.getTime)
      assert(r.getLong(1) == grid.size, s"$pri n_weeks")
      var (c, dd, tx, ty, n0) = (0L, 0L, 0L, 0L, 0L)
      for (i <- grid.indices; j <- (i + 1) until grid.size) {
        val dx = grid(j)._2._1 - grid(i)._2._1
        val dy = grid(j)._2._2 - grid(i)._2._2
        n0 += 1
        if (dx == 0) tx += 1
        if (dy == 0) ty += 1
        if (dx > 0 && dy > 0 || dx < 0 && dy < 0) c += 1
        if (dx > 0 && dy < 0 || dx < 0 && dy > 0) dd += 1
      }
      assert(r.getLong(2) == c && r.getLong(3) == dd, s"$pri C/D")
      val tau = (c - dd).toDouble /
        math.sqrt((n0 - tx).toDouble * (n0 - ty).toDouble)
      assert(math.abs(r.getDouble(4) - tau) < 1e-5, s"$pri tau_b")
    }
  }

  test("agg_friedman: rank-sum identity and the chi2 closed form hold") {
    val rows = Frontier5.aggFriedman(spark, sf0001).collect()
    assert(rows.length == 5)
    val k = rows.length
    val n = rows.head.getLong(1)
    assert(rows.forall(_.getLong(1) == n), "complete blocks: equal n_blocks")
    // midranks preserve the per-block total: sum_j R_j = n*k(k+1)/2,
    // so in half-units sum_j R2_j = n*k*(k+1)
    val rs2 = rows.map(_.getLong(2))
    assert(rs2.sum == n * k * (k + 1),
      s"rank-sum identity: ${rs2.sum} != ${n * k * (k + 1)}")
    val chi = 3.0 * rs2.map(v => v.toDouble * v).sum / (n.toDouble * k * (k + 1)) -
      3.0 * n * (k + 1)
    assert(math.abs(rows.head.getDouble(3) - chi) < 1e-5, "chi2 closed form")
    assert(rows.forall(_.getLong(4) == k - 1), "df = k-1")
  }

  test("agg_mcnemar: matches a local replay of the paired flags") {
    val r = Frontier5.aggMcnemar(spark, sf0001).collect().head
    val split = java.time.LocalDateTime.parse("1998-07-01T00:00:00")
    val per = T.orders(spark, sf0001)
      .select(col("o_custkey"), col("o_orderdate")).collect()
      .map(x => (x.getLong(0), x.getAs[java.time.LocalDateTime](1)))
      .groupBy(_._1).view
      .mapValues(os => (os.exists(_._2.isBefore(split)),
        os.exists(o => !o._2.isBefore(split)))).toMap
    val both = per.values.count(v => v._1 && v._2)
    val pre = per.values.count(v => v._1 && !v._2)
    val post = per.values.count(v => !v._1 && v._2)
    assert(r.getLong(0) == per.size && r.getLong(1) == both &&
      r.getLong(2) == pre && r.getLong(3) == post)
    if (pre + post > 0) {
      val chi = math.pow(math.abs(pre - post).toDouble - 1.0, 2) / (pre + post)
      assert(math.abs(r.getDouble(4) - chi) < 1e-5, "chi2_cc")
    } else assert(r.isNullAt(4), "degenerate: no discordant pairs -> NULL")
  }

  test("agg_cohens_kappa: cells are a complete census and kappa is " +
      "self-consistent with its own confusion matrix") {
    val rows = Frontier5.aggCohensKappa(spark, sf0001).collect()
    val nDocs = T.documents(spark, sf0001).count()
    val cells = rows.map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(cells.values.sum == nDocs, "cells partition the corpus")
    val nn = cells.values.sum.toDouble
    val po = cells.collect { case ((i, j), n) if i == j => n }.sum / nn
    val rowM = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val colM = cells.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val pe = rowM.map { case (i, rn) =>
      rn.toDouble * colM.getOrElse(i, 0L).toDouble }.sum / (nn * nn)
    val kappa = (po - pe) / (1.0 - pe)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(3) - po) < 1e-5, "po")
      assert(math.abs(r.getDouble(4) - pe) < 1e-5, "pe")
      assert(math.abs(r.getDouble(5) - kappa) < 1e-5, "kappa")
    }
    assert(kappa > 0.0 && kappa < 1.0,
      s"correlated-but-not-identical raters should land in (0,1): $kappa")
  }

  test("agg_jackknife: matches a full local replay of the delete-one-group " +
      "estimator") {
    val r = Frontier5.aggJackknife(spark, sf0001).collect().head
    val nat = T.customer(spark, sf0001)
      .select(col("c_custkey"), col("c_nationkey")).collect()
      .map(x => x.getLong(0) -> x.getInt(1)).toMap
    val per = T.orders(spark, sf0001)
      .select(col("o_custkey"), col("o_totalprice")).collect()
      .map(x => (nat(x.getLong(0)), cents(x.getDouble(1))))
      .groupBy(_._1).view
      .mapValues(vs => (vs.map(_._2).sum, vs.size.toLong)).toMap
    val ss = per.values.map(_._1).sum
    val nn = per.values.map(_._2).sum
    val reps = per.values.toSeq.filter(_._2 < nn)
      .map { case (s, n) => (ss - s).toDouble / (nn - n).toDouble }
    val g = reps.size
    assert(r.getLong(0) == g)
    assert(math.abs(r.getDouble(1) - ss.toDouble / nn / 100.0) < 1e-5)
    val tbar = reps.sum / g
    val se = math.sqrt(reps.map(t => (t - tbar) * (t - tbar)).sum *
      (g - 1).toDouble / g) / 100.0
    assert(math.abs(r.getDouble(2) - se) < 1e-4, s"jk_se ${r.getDouble(2)} vs $se")
  }

  test("text_self_bleu: matches a local trigram-DF replay") {
    val rows = Frontier5.textSelfBleu(spark, sf0001).collect()
    val docs = T.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ")))
      .filter(_._3.length >= 3)
    val tris = docs.map { case (id, lang, toks) =>
      (id, lang, toks.sliding(3).map(_.mkString(" ")).toSet)
    }
    val df = tris.flatMap { case (id, _, ts) => ts.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val byLang = tris.groupBy(_._2)
    assert(rows.length == byLang.size)
    rows.foreach { r =>
      val ds = byLang(r.getString(0))
      val total = ds.map(_._3.size.toLong).sum
      val shared = ds.map(_._3.count(t => df(t) >= 2).toLong).sum
      assert(r.getLong(1) == ds.length, s"${r.getString(0)} n_docs")
      assert(r.getLong(2) == total && r.getLong(3) == shared,
        s"${r.getString(0)} totals")
      assert(math.abs(r.getDouble(4) - shared.toDouble / total) < 1e-5)
    }
  }

  test("events_sprt: stopping rule matches a local first-crossing replay " +
      "and the walk is exactly 2k - n") {
    val rows = Frontier5.eventsSprt(spark, sf0001).collect()
    val ev = T.events(spark, sf0001)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map { r =>
        val t = r.getAs[java.sql.Timestamp](1)
        val micros = math.floorDiv(t.getTime, 1000L) * 1000000L +
          t.getNanos / 1000L
        (r.getString(0), micros, r.getLong(2), r.getDouble(3) > 35.0)
      }
      .groupBy(_._1)
    assert(rows.length == ev.size)
    rows.foreach { r =>
      val stream = ev(r.getString(0)).sortBy(e => (e._2, e._3))
      var (k, walk) = (0L, 0L)
      var stopped: Option[(String, Long, Long, Long)] = None
      stream.zipWithIndex.foreach { case (e, i) =>
        if (stopped.isEmpty) {
          if (e._4) k += 1
          walk = 2 * k - (i + 1)
          if (walk >= 5) stopped = Some(("accept_h1", i + 1L, k, walk))
          else if (walk <= -5) stopped = Some(("accept_h0", i + 1L, k, walk))
        }
      }
      val (dec, n, kk, w) =
        stopped.getOrElse(("continue", stream.size.toLong, k, walk))
      assert(r.getString(1) == dec, s"${r.getString(0)} decision")
      assert(r.getLong(2) == n && r.getLong(3) == kk,
        s"${r.getString(0)} stop point")
      assert(math.abs(r.getDouble(4) - w * math.log(2.0)) < 1e-5,
        s"${r.getString(0)} llr")
    }
  }

  test("graph_wcc: every SCC is contained in one WCC and sizes partition " +
      "the node set") {
    val wcc = Graph.graphWcc(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val scc = Graph.graphScc(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)))
    // nodes agree between the two closures
    assert(wcc.keySet == scc.map(_._1).toSet, "same node set as graph_scc")
    // SCC ⊆ WCC: two nodes in one strongly connected component must map
    // to the same weakly connected component
    scc.groupBy(_._2).values.foreach { members =>
      val wids = members.map(m => wcc(m._1)).distinct
      assert(wids.size == 1, s"SCC ${members.map(_._1)} split across WCCs")
    }
    // wcc_id is the component's own min member (idempotent labeling)
    wcc.groupBy(_._2).foreach { case (wid, members) =>
      assert(members.keys.min == wid, s"wcc_id $wid is not the min member")
    }
    val sizes = Graph.graphWcc(spark, sf0001).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(sizes.values.sum == wcc.size, "sizes partition the node set")
  }
}
