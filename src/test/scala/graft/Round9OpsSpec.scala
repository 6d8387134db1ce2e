package graft

import org.apache.spark.sql.functions._

import graft.core.{Tables => T}
import graft.ops.{Selection, Sources}

/** Round-9 operator invariants: data-selection recipes (Gopher rules,
  * DSIR, DoReMi, soft dedup, binary-quantized ANN, token entropy) and the
  * experimentation estimators (CUPED, DiD), plus the XML source. */
class Round9OpsSpec extends SparkSpecBase {

  test("text_gopher_rules: flags consistent with reported stats, pass = AND") {
    val rows = Selection.textGopherRules(spark, sf0001).collect()
    assert(rows.length == T.documents(spark, sf0001).count())
    rows.foreach { r =>
      val (nTok, meanW, alphaF) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(nTok > 0 && meanW > 0)
      assert(alphaF >= 0.0 && alphaF <= 1.0)
      val flags = (5 to 9).map(r.getBoolean)
      assert(r.getBoolean(10) == flags.forall(identity), "pass must be AND")
      // flag/stat consistency on the two ratio rules
      assert(r.getBoolean(6) == (meanW >= 2.0 - 1e-9 && meanW <= 12.0 + 1e-9),
        s"f_wlen inconsistent with mean_wlen=$meanW")
    }
    // the word-soup corpus should mostly pass the gate
    val passRate = rows.count(_.getBoolean(10)).toDouble / rows.length
    assert(passRate > 0.5, s"suspicious pass rate $passRate")
  }

  test("sample_dsir: 50 selected, ranks dense, weights non-increasing") {
    val rows = Selection.sampleDsir(spark, sf0001).collect()
    assert(rows.length == 50)
    assert(rows.map(_.getLong(0)).toSeq == (1L to 50L), "ranks dense 1..50")
    val ws = rows.map(_.getDouble(3))
    assert(ws.zip(ws.tail).forall { case (a, b) => a >= b - 1e-9 },
      "log-weights must be non-increasing in rank")
    // no target-domain doc may be selected
    val srcs = T.documents(spark, sf0001)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach(r => assert(srcs(r.getLong(1)) != "src0",
      "target slice must be excluded from the raw pool"))
  }

  test("text_doremi_step: weights normalize to 1, order follows loss") {
    val rows = Selection.textDoremiStep(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val wNew = rows.map(_.getDouble(4))
    assert(math.abs(wNew.sum - 1.0) < 1e-4, s"weights sum ${wNew.sum}")
    val wOld = rows.map(_.getDouble(3)).distinct
    assert(wOld.length == 1 && math.abs(wOld.head - 1.0 / rows.length) < 1e-6)
    // exponentiated gradient: higher loss -> strictly higher new weight
    val byLoss = rows.sortBy(_.getDouble(2))
    byLoss.zip(byLoss.tail).foreach { case (a, b) =>
      if (b.getDouble(2) > a.getDouble(2) + 1e-9)
        assert(b.getDouble(4) >= a.getDouble(4) - 1e-9,
          "w_new must be monotone in loss")
    }
  }

  test("dedup_downweight: cluster weights sum to ~1 per cluster, reps unique") {
    val rows = Selection.dedupDownweight(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(1)).foreach { case (root, rs) =>
      val csize = rs.head.getLong(2)
      assert(rs.length == csize, s"cluster $root: ${rs.length} rows != $csize")
      assert(math.abs(rs.map(_.getDouble(3)).sum - 1.0) < 1e-4,
        "weights must sum to ~1 per cluster")
      assert(rs.count(_.getBoolean(4)) == 1, "exactly one rep per cluster")
      assert(rs.map(_.getLong(0)).min == root, "rep is the component min")
    }
  }

  test("sim_topk_bq: every planted variant recovers its base at hamming 0") {
    val rows = Selection.simTopkBq(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val byProbe = rows.groupBy(_.getLong(0))
    byProbe.foreach { case (probe, rs) =>
      val top = rs.minBy(_.getLong(1))
      // positive scaling preserves all sign bits: the base (probe - 10000)
      // must appear at hamming 0, and rank-1 must be a hamming-0 hit
      assert(top.getLong(3) == 0L, s"probe $probe rank-1 hamming != 0")
      assert(rs.exists(r => r.getLong(2) == probe - 10000L),
        s"probe $probe did not recover its base")
      // ranks ordered by (hamming, cand_id)
      val sorted = rs.sortBy(_.getLong(1))
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(a.getLong(3) < b.getLong(3) ||
          (a.getLong(3) == b.getLong(3) && a.getLong(2) < b.getLong(2)))
      }
      // cosine at hamming 0 between variant and base ~ 1
      rs.filter(r => r.getLong(2) == probe - 10000L)
        .foreach(r => assert(r.getDouble(4) > 0.999))
    }
  }

  test("text_token_entropy: bounds 0 <= H <= ln(n_distinct), norm in [0,1]") {
    val rows = Selection.textTokenEntropy(spark, sf0001).collect()
    assert(rows.length == T.documents(spark, sf0001).count())
    rows.foreach { r =>
      val (n, nd, h, hn) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(nd <= n)
      assert(h >= -1e-9, s"entropy $h negative")
      assert(h <= math.log(nd.toDouble) + 1e-6, s"H=$h > ln($nd)")
      assert(hn >= -1e-9 && hn <= 1.0 + 1e-6, s"norm entropy $hn")
    }
  }

  test("agg_cuped: adjusted means preserve the grand mean, theta shared") {
    val rows = Selection.aggCuped(spark, sf0001).collect()
    assert(rows.length == 2)
    val thetas = rows.map(_.getDouble(4)).distinct
    assert(thetas.length == 1, "theta must be a single global estimate")
    // CUPED is mean-preserving overall: sum n_a*(mean - adj) = theta * 0
    val drift = rows.map(r =>
      r.getLong(1) * (r.getDouble(2) - r.getDouble(3))).sum
    assert(math.abs(drift) < 1e-2,
      s"adjustment must cancel across arms (drift=$drift)")
  }

  test("events_did: did equals the 2x2 contrast of cell means") {
    val rows = Selection.eventsDid(spark, sf0001).collect()
    assert(rows.length == 4)
    val m = rows.map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(3)).toMap
    val expect = (m((1L, "post")) - m((1L, "pre"))) -
      (m((0L, "post")) - m((0L, "pre")))
    val did = rows.map(_.getDouble(4)).distinct
    assert(did.length == 1)
    assert(math.abs(did.head - expect) < 1e-5)
    assert(rows.map(_.getLong(2)).sum == T.events(spark, sf0001).count())
  }

  test("fn_variant: typed variant_get folds match the string-JSON truth") {
    val rows = graft.ops.Functions.fnVariant(spark, sf0001).collect()
    val e = T.events(spark, sf0001)
    assert(rows.map(_.getLong(1)).sum == e.count(), "n must cover all events")
    // truth recomputed through the string-JSON path
    val truth = e.select(col("event_type"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type")).agg(sum(col("k")).as("sk"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(2) == truth(r.getString(0)),
        s"variant sum_k mismatch for ${r.getString(0)}")
      assert(r.getLong(4) <= r.getLong(1), "k_hi cannot exceed n")
    }
  }

  test("graph_bfs: hop partition covers all parts, seeds at hop 0") {
    val rows = graft.ops.Graph.graphBfs(spark, sf0001).collect()
    val parts = T.part(spark, sf0001)
    assert(rows.map(_.getLong(1)).sum == parts.count(),
      "hop histogram must partition the node universe")
    val hops = rows.map(_.getLong(0))
    assert(hops.forall(h => h >= -1L && h <= 3L))
    val seedCount = parts.filter(col("p_partkey") % 500 === 0).count()
    val h0 = rows.find(_.getLong(0) == 0L).map(_.getLong(1)).getOrElse(0L)
    assert(h0 == seedCount, s"hop-0 count $h0 != seed count $seedCount")
  }

  test("agg_effect_size: g shrinks d, lift sign follows mean order") {
    val rows = graft.ops.Stats.aggEffectSize(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (m1, m2) = (r.getDouble(3), r.getDouble(4))
      val (d, g, lift) = (r.getDouble(6), r.getDouble(7), r.getDouble(8))
      assert(r.getDouble(5) > 0, "pooled sd must be positive")
      assert(math.abs(g) <= math.abs(d) + 1e-9,
        "Hedges g must shrink |d| toward zero")
      assert((m1 - m2) * d >= -1e-9, "d sign must follow the mean order")
      assert((m1 - m2) * lift >= -1e-9, "lift sign must follow the mean order")
    }
  }

  test("text_jsd_drift: divergence bounded by ln 2, norm in [0,1]") {
    val rows = graft.ops.Insights.textJsdDrift(spark, sf0001).collect()
    assert(rows.length ==
      T.documents(spark, sf0001).select(col("source")).distinct().count())
    rows.foreach { r =>
      val (jsd, norm) = (r.getDouble(2), r.getDouble(3))
      assert(jsd >= -1e-9 && jsd <= math.log(2.0) + 1e-6,
        s"jsd $jsd out of [0, ln2]")
      assert(norm >= -1e-9 && norm <= 1.0 + 1e-6, s"norm $norm out of [0,1]")
      assert(r.getLong(1) > 0)
    }
  }

  test("events_ltv: cumulative LTV non-decreasing within each cohort") {
    val rows = graft.ops.Advanced.eventsLtv(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byAge = rs.sortBy(_.getLong(1))
      byAge.zip(byAge.tail).foreach { case (a, b) =>
        assert(b.getDouble(4) >= a.getDouble(4) - 1e-9,
          "cum_ltv must be non-decreasing in age")
      }
      byAge.foreach(r => assert(r.getLong(2) > 0 && r.getDouble(3) >= 0))
    }
  }

  test("sample_neyman: realized counts honor the allocation") {
    val rows = graft.ops.Curation.sampleNeyman(spark, sf0001).collect()
    assert(rows.nonEmpty)
    var totalAlloc = 0L
    rows.foreach { r =>
      val (nh, alloc, sampled) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(sampled == math.min(alloc, nh),
        s"sampled $sampled != min(alloc=$alloc, stratum=$nh)")
      assert(r.getDouble(2) > 0, "stratum sd must be positive")
      totalAlloc += alloc
    }
    // rounding keeps the realized budget near the declared 150
    assert(math.abs(totalAlloc - 150L) <= rows.length,
      s"total allocation $totalAlloc too far from budget 150")
  }

  test("events_hazard: exp(-H) dominates the KM product, H non-decreasing") {
    val haz = graft.ops.Stats.eventsHazard(spark, sf0001).collect()
    val km = graft.ops.Stats.eventsSurvival(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(haz.nonEmpty && haz.length == km.size)
    haz.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val byDur = rs.sortBy(_.getLong(1))
      byDur.zip(byDur.tail).foreach { case (a, b) =>
        assert(b.getDouble(4) >= a.getDouble(4) - 1e-9,
          "cumulative hazard must be non-decreasing")
      }
    }
    // 1-x <= e^-x termwise => KM product <= Fleming-Harrington exp(-H)
    haz.foreach { r =>
      val s = km((r.getString(0), r.getLong(1)))
      assert(r.getDouble(5) >= s - 1e-6,
        s"exp(-H)=${r.getDouble(5)} must dominate KM=$s")
    }
  }

  test("agg_tukey_fences: quartile order and outlier accounting") {
    val rows = graft.ops.Stats.aggTukeyFences(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, q1, q3, iqr) =
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(q3 >= q1 && math.abs(iqr - BigDecimal(q3 - q1)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      val out = r.getLong(5) + r.getLong(6)
      assert(out <= n)
      assert(math.abs(r.getDouble(7) - out.toDouble / n) < 1e-5)
    }
  }

  test("text_burstiness: tf >= df, burst >= 1, shares in (0,1]") {
    val rows = graft.ops.Curation.textBurstiness(spark, sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 64)
    rows.foreach { r =>
      val (tf, df) = (r.getLong(1), r.getLong(2))
      assert(tf >= df && df > 0)
      assert(r.getDouble(3) >= 1.0 - 1e-9, "burst = tf/df must be >= 1")
      assert(r.getDouble(4) > 0 && r.getDouble(4) <= 1.0 + 1e-9)
    }
    val bs = rows.map(_.getDouble(3))
    assert(bs.zip(bs.tail).forall { case (a, b) => a >= b - 1e-9 },
      "declared order is burst desc")
  }

  test("graph_closeness: bounded by 1, hop sums dominate reach counts") {
    val rows = graft.ops.Graph.graphCloseness(spark, sf0001).collect()
    val seeds = T.part(spark, sf0001)
      .filter(col("p_partkey") % 500 === 0).count()
    assert(rows.length == seeds, "one row per seed")
    rows.foreach { r =>
      val (nr, sd, c) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nr >= 0 && sd >= nr, "every reached non-seed is >= 1 hop away")
      assert(c >= 0.0 && c <= 1.0 + 1e-9, "closeness = reach/hops <= 1")
      if (sd == 0) assert(c == 0.0)
    }
  }

  test("events_fano: burstiness bounded in (-1,1), moments positive") {
    val rows = graft.ops.Insights.eventsFano(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 1, "need >= 2 hours for a variance")
      assert(r.getDouble(2) > 0, "mean rate must be positive")
      assert(r.getDouble(3) >= 0, "Fano factor is non-negative")
      val b = r.getDouble(4)
      assert(b > -1.0 - 1e-9 && b < 1.0 + 1e-9, s"burstiness $b out of (-1,1)")
    }
  }

  test("events_overlap: symmetric bounds and count consistency") {
    val rows = graft.ops.Insights.eventsOverlap(spark, sf0001).collect()
    val nTypes = T.events(spark, sf0001)
      .select(col("event_type")).distinct().count()
    assert(rows.length == nTypes * (nTypes - 1) / 2, "one row per pair")
    rows.foreach { r =>
      val (na, nb, common) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(common <= math.min(na, nb), "overlap cannot exceed either side")
      val (j, oc) = (r.getDouble(5), r.getDouble(6))
      assert(j >= 0 && j <= oc + 1e-9 && oc <= 1.0 + 1e-9,
        "jaccard <= overlap coefficient <= 1")
    }
  }

  test("agg_period_growth: lag windows leave early rows NULL, grid dense") {
    val df = SparkEntry.queries("agg_period_growth")(spark, sf0001)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val byDay = rs.sortBy(_.getDate(1).toLocalDate.toEpochDay)
      assert(byDay.head.isNullAt(3), "first day has no day-over-day")
      byDay.take(7).foreach(r => assert(r.isNullAt(4),
        "first week has no week-over-week"))
      byDay.foreach(r => assert(r.getDouble(2) >= 0))
    }
  }

  test("text_vocab_coverage: monotone non-decreasing curve, bounded by 1") {
    val rows = graft.ops.Curation.textVocabCoverage(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(4L, 8L, 16L))
    val cov = rows.map(_.getDouble(4))
    assert(cov.zip(cov.tail).forall { case (a, b) => b >= a - 1e-9 },
      "coverage must grow with the band")
    cov.foreach(c => assert(c > 0 && c <= 1.0 + 1e-9))
    val covered = rows.map(_.getLong(1))
    assert(covered.zip(covered.tail).forall { case (a, b) => b >= a })
    assert(rows.forall(r => r.getLong(1) <= r.getLong(2)),
      "covered <= total tokens")
  }

  test("sim_topk_mips: dense per-probe ranks on a non-increasing dot order") {
    val rows = graft.ops.LlmPipeline.simTopkMips(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRnk = rs.sortBy(_.getLong(1))
      assert(byRnk.map(_.getLong(1)).toSeq == (1L to byRnk.length),
        "ranks dense per probe")
      val dots = byRnk.map(_.getDouble(3))
      assert(dots.zip(dots.tail).forall { case (a, b) => a >= b - 1e-9 },
        "dot must be non-increasing in rank")
    }
    // scaling invariance: a 1.5x-scaled probe ranks candidates exactly
    // like its base vector would (MIPS order is scale-equivariant in the
    // probe), so the planted variants are a self-check of the ranking
    val e = graft.ops.LlmPipeline.simTopkMips(spark, sf0001)
    assert(e.columns.toSeq == Seq("probe_id", "rnk", "cand_id", "dot"))
  }

  test("events_trend_decompose: decomposition identity and centering") {
    val rows = graft.ops.Advanced.eventsTrendDecompose(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (rev, trend, seas, res) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(5), r.getDouble(6))
      assert(math.abs(rev - trend - seas - res) < 1e-5,
        "value = trend + seasonal + residual")
    }
    // seasonal means are phase means of the detrended series, so the
    // residual must be (near-)centered within every (type, phase) cell
    rows.groupBy(r => (r.getString(0), r.getLong(4))).foreach {
      case (_, rs) =>
        val m = rs.map(_.getDouble(6)).sum / rs.length
        assert(math.abs(m) < 1e-4, s"residual phase mean $m not centered")
    }
  }

  test("events_survival_ci: bands bracket the KM curve and stay in [0,1]") {
    val ci = graft.ops.Stats.eventsSurvivalCi(spark, sf0001).collect()
    val km = graft.ops.Stats.eventsSurvival(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(ci.nonEmpty && ci.length == km.size)
    ci.foreach { r =>
      val (s, lo, hi) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(lo >= -1e-9 && hi <= 1.0 + 1e-9, "bands clamp to [0,1]")
      assert(lo <= s + 1e-9 && s <= hi + 1e-9, "bands must bracket S")
      assert(math.abs(s - km((r.getString(0), r.getLong(1)))) < 1e-6,
        "point estimate must equal the events_survival curve")
    }
  }

  test("agg_spearman: rho in [-1,1] and equals native corr on the ranks") {
    val rows = graft.ops.Stats.aggSpearman(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rho = r.getDouble(2)
      assert(rho >= -1.0 - 1e-9 && rho <= 1.0 + 1e-9, s"rho $rho out of range")
      assert(r.getLong(1) > 0)
    }
    // independent second spelling: Pearson corr() over the same doubled
    // average ranks must agree with the exact-moment computation
    import org.apache.spark.sql.expressions.Window
    val li = T.lineitem(spark, sf0001).select(col("l_returnflag").as("fl"),
      col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    def r2(c: String) =
      lit(2L) * rank().over(Window.partitionBy(col("fl")).orderBy(col(c))) +
        count(lit(1)).over(Window.partitionBy(col("fl"), col(c))) - 1L
    val check = li.withColumn("rx", r2("x")).withColumn("ry", r2("y"))
      .groupBy(col("fl"))
      .agg(corr(col("rx").cast("double"), col("ry").cast("double")).as("c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      assert(math.abs(r.getDouble(2) - check(r.getString(0))) < 1e-4,
        s"rho ${r.getDouble(2)} != native corr ${check(r.getString(0))}")
    }
  }

  test("agg_cramers_v: one bounded summary row, dims match the data") {
    val rows = graft.ops.Stats.aggCramersV(spark, sf0001).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(0) == T.events(spark, sf0001).count())
    assert(r.getLong(1) >= 2 && r.getLong(2) == 4, "5 types x 4 parity segs")
    val v = r.getDouble(4)
    assert(v >= 0.0 && v <= 1.0 + 1e-9, s"V $v out of [0,1]")
    assert(r.getDouble(3) >= 0.0, "chi2 non-negative")
  }

  test("source_xml: roundtrip reproduces the original rows exactly") {
    val got = Sources.sourceXml(spark, sf0001).collect()
    val want = T.orders(spark, sf0001)
      .filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        date_trunc("second", col("o_orderdate")).as("o_orderdate"))
      .orderBy(col("o_orderkey")).collect()
    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (g, w) =>
      assert(g.toSeq == w.toSeq, s"xml row $g != $w")
    }
  }
}
