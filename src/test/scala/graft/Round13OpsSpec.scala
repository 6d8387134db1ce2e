package graft

import org.apache.spark.sql.functions._

import graft.core.{Tables => T}

/** Round-13 operator tests: meta_analyze's stats-to-plan contract (the
  * CBO plan flip itself is pinned in PlanSpec; here the VALUE contract —
  * plan-invariance and exact persisted stats) plus the ADVICE r12
  * degenerate-data guards. */
class Round13OpsSpec extends SparkSpecBase {

  test("meta_analyze: persisted rowCount is exact and the readback is plan-invariant") {
    Seq(sf0001, "/root/testdata/sf0.01").foreach { d =>
      val rows = graft.ops.Frontier4.metaAnalyze(spark, d)
        .collect().sortBy(_.getString(0))
      // analyzed_rows = the catalog stat the optimizer consumed — ANALYZE
      // row counts are exact, so it must equal COUNT(*) of the source
      val nOrders = T.orders(spark, d).count()
      assert(rows.forall(_.getLong(3) == nOrders),
        s"$d: analyzed_rows ${rows.map(_.getLong(3)).toSeq.distinct} != " +
          s"source count $nOrders")
      // plan-invariance is THE point of the key: the CBO-planned readback
      // (what metaAnalyze declared) must match the stats-less plan of the
      // identical query row-for-row
      val without = graft.ops.Frontier4.analyzedReadback(spark)
        .orderBy(col("n_name")).collect()
      assert(rows.length == without.length && rows.length >= 3,
        s"$d: ${rows.length} rows with CBO vs ${without.length} without")
      rows.zip(without).foreach { case (a, b) =>
        assert(a.getString(0) == b.getString(0) &&
          a.getLong(1) == b.getLong(1) &&
          a.getDouble(2) == b.getDouble(2),
          s"$d: CBO plan changed the ANSWER: $a vs $b")
      }
      // per-nation counts are a real 3-way join result, not a degenerate
      // slice: every region-1 nation with customers holding orders appears
      assert(rows.map(_.getLong(1)).sum > 0, s"$d: empty join readback")
    }
  }

  test("agg_ttest_paired: matches a local Scala replay of the paired moments") {
    val rows = graft.ops.Frontier4.aggTtestPaired(spark, sf0001).collect()
    assert(rows.length == 1)
    val r = rows(0)
    // local replay: fold orders driver-side with the same exact-cent rule
    val per = T.orders(spark, sf0001)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .collect()
      .map(x => (x.getLong(0), x.getLong(1),
        BigDecimal(x.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .*(100).toLongExact))
      .groupBy(_._1).view.mapValues { os =>
        val (ev, od) = os.partition(_._2 % 2 == 0)
        (ev.map(_._3).sum, od.map(_._3).sum, ev.nonEmpty, od.nonEmpty)
      }.toMap
    val ds = per.values.collect { case (a, b, true, true) => a - b }.toSeq
    val n = ds.length.toDouble
    val mean = ds.sum.toDouble / n
    val vr = (ds.map(d => BigDecimal(d) * BigDecimal(d)).sum.toDouble
      - ds.sum.toDouble * ds.sum.toDouble / n) / (n - 1.0)
    assert(r.getLong(0) == ds.length, s"n_pairs ${r.getLong(0)} != ${ds.length}")
    assert(math.abs(r.getDouble(1) - mean / 100.0) < 1e-4, "mean_diff replay")
    assert(math.abs(r.getDouble(2) - mean / math.sqrt(vr / n)) < 1e-4,
      s"t ${r.getDouble(2)} != replay ${mean / math.sqrt(vr / n)}")
    assert(r.getLong(3) == ds.length - 1)
  }

  test("graph_reciprocity: bounded ratio and partition-invariant") {
    val rows = graft.ops.Graph.graphReciprocity(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "n_recip exceeds n_edges")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // the handoff edge set is a pure function of the data, never of the
    // partitioning: 1-partition replay equals the 32-partition run
    val one = graft.ops.Graph.graphReciprocity(spark, sf0001)
      .coalesce(1).collect()
    assert(rows.toSeq == one.toSeq, "reciprocity is partition-dependent")
  }

  test("agg_chapman: inclusion-exclusion identity and estimator sanity") {
    Seq(sf0001, "/root/testdata/sf0.01").foreach { d =>
      val r = graft.ops.Frontier4.aggChapman(spark, d).collect()(0)
      // every token lives in at least one half, so the exact population
      // obeys |A ∪ B| = n_a + n_b − overlap — a hard identity of the fold
      assert(r.getLong(3) == r.getLong(0) + r.getLong(1) - r.getLong(2),
        s"$d: v_true violates inclusion-exclusion")
      // Chapman is >= max(n_a, n_b) - ~1 by construction and should land
      // within a loose factor of truth on well-mixed halves
      assert(r.getDouble(4) >= math.max(r.getLong(0), r.getLong(1)) - 1.0)
      assert(r.getDouble(5) > 0.5 && r.getDouble(5) < 2.0,
        s"$d: est_over_true ${r.getDouble(5)} wildly off on mixed halves")
    }
  }

  test("text_heaps: monotone growth, vocab <= tokens, sub-linear fit") {
    val rows = graft.ops.Frontier4.textHeaps(spark, sf0001).collect()
    assert(rows.length == 16, s"expected 16 bands, got ${rows.length}")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) > a.getLong(1), "toks_cum not increasing")
      assert(b.getLong(2) >= a.getLong(2), "vocab_cum decreasing")
    }
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
    val beta = rows(0).getDouble(3)
    assert(rows.forall(_.getDouble(3) == beta), "beta not constant")
    assert(beta > 0.0 && beta < 1.0,
      s"Heaps beta $beta outside (0,1) — vocab growth not sub-linear")
  }

  test("dedup_saturation: planted-copy floor and cumulative consistency") {
    val rows = graft.ops.Frontier4.dedupSaturation(spark, sf0001).collect()
    assert(rows.length == 4)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) > a.getLong(1) && b.getLong(2) >= a.getLong(2))
      assert(b.getLong(3) >= a.getLong(3), "dups_cum decreasing")
    }
    val docs = T.documents(spark, sf0001)
    val nDocs = docs.count()
    val nPlanted = docs.filter(col("doc_id") % 5 === 0).count()
    val last = rows(3)
    assert(last.getLong(1) == nDocs + nPlanted, "final rows_cum wrong")
    // every planted copy duplicates an existing text, so total dups can
    // only exceed the planted count (intrinsic dups add to it)
    assert(last.getLong(3) >= nPlanted,
      s"dups_cum ${last.getLong(3)} below planted floor $nPlanted")
  }

  test("sample_poisson_boot: draw mass ~ Poisson(1) and replicate means bracket the truth") {
    val d = "/root/testdata/sf0.01"
    val rows = graft.ops.Frontier4.samplePoissonBoot(spark, d).collect()
    assert(rows.length == 40, s"5 priorities x 8 reps expected, got ${rows.length}")
    val sizes = T.orders(spark, d).groupBy(col("o_orderpriority")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val n = sizes(r.getString(0)).toDouble
      // Poisson(1): n_drawn concentrates at n (sd = sqrt(n)); 6 sigma
      assert(math.abs(r.getLong(2) - n) < 6 * math.sqrt(n) + 1,
        s"${r.getString(0)} rep ${r.getLong(1)}: n_drawn ${r.getLong(2)} vs n $n")
      assert(!r.isNullAt(3) && r.getDouble(3) > 0.0)
    }
    // replicate means vary ACROSS replicates (the whole point of the
    // bootstrap axis) but stay within a tight band of the group mean
    val byPri = rows.groupBy(_.getString(0))
    byPri.foreach { case (_, rs) =>
      val means = rs.map(_.getDouble(3)).toSeq
      assert(means.distinct.size > 1, "replicates identical — hash axis dead")
      assert((means.max - means.min) / means.head < 0.2, "replicate spread implausible")
    }
  }

  test("sim_rrf: fused score is self-consistent with the source ranks") {
    val rows = graft.ops.Frontier4.simRrf(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    rows.foreach { r =>
      val fromCos = if (r.isNullAt(4)) 0.0 else 1.0 / (60.0 + r.getLong(4))
      val fromDot = if (r.isNullAt(5)) 0.0 else 1.0 / (60.0 + r.getLong(5))
      val expect = BigDecimal(fromCos + fromDot)
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(3) - expect) < 1e-9,
        s"rrf ${r.getDouble(3)} != recomputed $expect")
      assert(!(r.isNullAt(4) && r.isNullAt(5)), "fused row from neither ranker")
    }
    // within a probe, fused rank order follows rrf desc
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a.getDouble(3) >= b.getDouble(3), "rrf not descending in rank")
      }
    }
  }

  test("sim_recall_curve: recall is monotone non-decreasing in nprobe") {
    Seq(sf0001, "/root/testdata/sf0.01").foreach { d =>
      val rows = graft.ops.Frontier4.simRecallCurve(spark, d).collect()
      assert(rows.length == 3, s"$d: one row per nprobe in 1..3")
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      rows.foreach(r => assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
      rows.sliding(2).foreach { case Array(a, b) =>
        assert(b.getDouble(2) >= a.getDouble(2),
          s"$d: recall fell when nprobe grew: $a -> $b")
      }
    }
  }

  test("agg_kruskal / agg_welch / agg_anova: degenerate-data guards inactive on real data (ADVICE r12)") {
    Seq(sf0001, "/root/testdata/sf0.01").foreach { d =>
      // h_adj guards to NULL only when ct=0 (every value in a priority
      // group tied) — on the harness data the correction is active and
      // finite, so no row may be NULL; a NULL here means the guard
      // misfires (or the data degenerated), both worth failing on
      val kw = graft.ops.Frontier3.aggKruskal(spark, d).collect()
      assert(kw.nonEmpty && kw.forall(r => !r.isNullAt(5)),
        s"$d: agg_kruskal h_adj NULL on non-degenerate data")
      assert(kw.forall(r => r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0),
        s"$d: tie correction outside (0,1]")
      // welch: both cohorts have n>1 at every status on harness data
      val w = graft.ops.Frontier3.aggWelch(spark, d).collect()
      assert(w.nonEmpty && w.forall(r => !r.isNullAt(5) && !r.isNullAt(6)),
        s"$d: agg_welch t/df NULL on non-degenerate data")
      assert(w.forall(r => r.getDouble(6) > 1.0),
        s"$d: Welch-Satterthwaite df must exceed 1")
      // anova terms now ride DECIMAL(30,6): SSW must be positive and
      // finite (a silent overflow-to-NULL would zero it out of the sum)
      val a = graft.ops.Frontier3.aggAnova(spark, d).collect()
      assert(a.length == 1 && a(0).getDouble(5) > 0.0,
        s"$d: agg_anova ss_within not positive — overflow NULL?")
    }
  }
}
