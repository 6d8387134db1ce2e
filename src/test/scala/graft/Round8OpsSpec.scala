package graft

import org.apache.spark.sql.functions._

import graft.core.{Tables => T}
import graft.ops.{Functions, LlmPipeline, Sources, Stats}

/** Semantic pins for the round-8 statistical / LM / ingest operators —
  * properties the DuckDB hash comparison can't see (monotonicity,
  * probability-mass closure, idempotency under re-apply). */
class Round8OpsSpec extends SparkSpecBase {

  test("events_survival: curve is non-increasing, in (0,1], per cohort") {
    val rows = Stats.eventsSurvival(spark, sf0001)
      .select(col("cohort"), col("dur"), col("survival"), col("n_risk"),
        col("d_events"))
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (cohort, rs) =>
      val curve = rs.sortBy(_.getLong(1)).map(_.getDouble(2))
      curve.sliding(2).foreach {
        case Array(a, b) =>
          assert(b <= a + 1e-12, s"$cohort: survival increased $a -> $b")
        case _ => ()
      }
      assert(curve.forall(v => v >= 0.0 && v <= 1.0))
      // every at-risk count can cover its deaths
      rs.foreach(r => assert(r.getLong(3) >= r.getLong(4)))
    }
  }

  test("agg_mannwhitney: U bounds and cohort-count closure per status") {
    val byStatus = T.orders(spark, sf0001).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = Stats.aggMannWhitney(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).toSet == byStatus.keySet)
    rows.foreach { r =>
      val (na, nb, uA) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(na + nb == byStatus(r.getString(0)), "cohorts must partition")
      assert(uA >= 0.0 && uA <= na.toDouble * nb,
        s"U=$uA outside [0, ${na.toDouble * nb}]")
      assert(!r.getDouble(4).isNaN)
    }
  }

  test("agg_chi2: contributions sum to the statistic; expected sums to N") {
    val rows = Stats.aggChi2(spark, sf0001)
      .select(col("observed"), col("expected"), col("contrib"), col("chi2"),
        col("dof"))
      .collect()
    val n = rows.map(_.getLong(0)).sum
    assert(math.abs(rows.map(_.getDouble(1)).sum - n) < 1e-3,
      "expected counts must sum to N")
    val chi2 = rows.head.getDouble(3)
    assert(rows.forall(_.getDouble(3) == chi2), "chi2 must be one scalar")
    assert(math.abs(rows.map(_.getDouble(2)).sum - chi2) < 1e-5)
    assert(rows.head.getLong(4) == 6L, "(3-1)x(4-1) design => dof 6")
  }

  test("text_ks_drift: D in [0,1], one row per source pair, at an observed value") {
    val nSrc = T.documents(spark, sf0001).select(col("source")).distinct().count()
    val chars = T.documents(spark, sf0001).select(col("n_chars"))
      .distinct().collect().map(_.getLong(0)).toSet
    val rows = Stats.textKsDrift(spark, sf0001).collect()
    assert(rows.length == (nSrc * (nSrc - 1) / 2).toInt)
    rows.foreach { r =>
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
      assert(chars.contains(r.getLong(4)), "ks_at must be an observed value")
    }
  }

  test("text_kneser_ney: smoothed bigram mass sums to 1 per context") {
    // rebuild the model exactly as the op does and close the probability
    // mass over the FULL successor vocabulary — the defining KN property
    // (discount mass re-enters through the continuation term)
    val s = spark
    val toks = T.documents(s, sf0001).select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val vocab = counts.orderBy(col("c").desc, col("tok")).limit(24)
      .select(col("tok"), lit(1L).as("inv"))
    val m = toks.join(broadcast(vocab), Seq("tok"), "left")
      .select(col("doc_id"), col("pos"),
        when(col("inv").isNull, lit("<unk>")).otherwise(col("tok")).as("mtok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigrams = m.withColumn("w2", lead(col("mtok"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("mtok").as("w1"), col("w2"))
    val bg = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val c1 = bg.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    val n1p = bg.groupBy(_._1._1).map { case (k, v) => k -> v.size.toLong }
    val pcontC = bg.groupBy(_._1._2).map { case (k, v) => k -> v.size.toLong }
    val b = bg.size.toDouble
    val allW2 = pcontC.keySet
    c1.keys.foreach { w1 =>
      val mass = allW2.toSeq.map { w2 =>
        val c12 = bg.getOrElse((w1, w2), 0L).toDouble
        val direct = if (c12 > 0) (c12 - 0.75) / c1(w1) else 0.0
        direct + (0.75 * n1p(w1) / c1(w1)) * (pcontC(w2) / b)
      }.sum
      assert(math.abs(mass - 1.0) < 1e-9,
        s"context '$w1': KN mass $mass != 1")
    }
    // and the declared output is positive, finite perplexity per doc
    val out = LlmPipeline.textKneserNey(spark, sf0001)
      .select(col("kn_ppl")).collect()
    assert(out.nonEmpty && out.forall(r =>
      r.getDouble(0) > 0.0 && !r.getDouble(0).isInfinite))
  }

  test("embed_covariance: diagonal non-negative, full triangle per label") {
    val rows = Stats.embedCovariance(spark, sf0001)
      .select(col("label"), col("i"), col("j"), col("cov")).collect()
    val perLabel = rows.groupBy(_.getInt(0))
    perLabel.foreach { case (label, rs) =>
      assert(rs.length == 36, s"label $label: expected 8*9/2 entries")
      rs.filter(r => r.getLong(1) == r.getLong(2)).foreach { r =>
        assert(r.getDouble(3) >= -1e-12,
          s"label $label var(${r.getLong(1)}) negative: ${r.getDouble(3)}")
      }
    }
  }

  test("sample_systematic: audit keys sit on the stride") {
    val rows = SparkEntry.queries("sample_systematic")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) % 40 == 7 && r.getLong(4) % 40 == 7)
      assert(r.getLong(1) > 0)
    }
  }

  test("fn_geo: distances bounded by half the great circle, flag consistent") {
    val rows = Functions.fnGeo(spark, sf0001)
      .select(col("dist_km"), col("near")).collect()
    assert(rows.length == 300, "25 nations -> 300 unordered pairs")
    rows.foreach { r =>
      val dkm = r.getDouble(0)
      assert(dkm >= 0.0 && dkm <= 6371.0 * math.Pi + 0.01)
      assert(r.getBoolean(1) == (dkm <= 5000.0))
    }
  }

  test("text_rouge_overlap: truncated variants score recall = (n-3)/(n-1)") {
    // a variant that drops the last 2 tokens loses exactly the last 2
    // bigrams of its base (when all base bigrams are distinct, overlap
    // = n_base - 2 and recall = (n-3)/(n-1) over n-1 base bigrams) —
    // so recall must sit in (0, 1) and F1 must exceed recall (var is a
    // strict subset: precision = 1 when variant bigrams are all shared)
    val rows = LlmPipeline.textRougeOverlap(spark, sf0001)
      .select(col("n_base"), col("n_var"), col("overlap"),
        col("rouge2_recall"), col("rouge2_precision")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) - 2, "variant drops 2 bigrams")
      assert(r.getLong(2) <= r.getLong(1), "overlap clipped by variant mass")
      // shortest corpus docs (~10 tokens) bottom out at 7/9
      assert(r.getDouble(3) > 0.6 && r.getDouble(3) < 1.0)
      assert(r.getDouble(4) >= r.getDouble(3), "subset => precision >= recall")
    }
  }

  test("embed_pca_power: unit component, dominant eigenvalue bound") {
    val rows = Stats.embedPcaPower()(spark, sf0001)
      .select(col("label"), col("dim"), col("component"), col("eigenvalue"))
      .collect()
    rows.groupBy(_.getInt(0)).foreach { case (label, rs) =>
      assert(rs.length == 8, s"label $label: 8 dims expected")
      val norm = math.sqrt(rs.map(r => math.pow(r.getDouble(2), 2)).sum)
      assert(math.abs(norm - 1.0) < 1e-4, s"label $label: |v| = $norm != 1")
      val ev = rs.head.getDouble(3)
      assert(rs.forall(_.getDouble(3) == ev) && ev > 0.0)
      // the dominant eigenvalue is at least the largest diagonal variance
      // times a loose factor — sanity, not tightness
      assert(ev < 1e6, "eigenvalue blew up — normalization broken")
    }
  }

  test("graph_label_prop: labels are component representatives after 3 rounds") {
    val rows = graft.ops.Graph.graphLabelProp()(spark, sf0001)
      .select(col("lab"), col("n_members"), col("min_node"), col("max_node"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(2),
        "min-label propagation: the label IS the smallest member")
      assert(r.getLong(1) >= 2 && r.getLong(3) >= r.getLong(2))
    }
  }

  test("meta_vacuum: rows survive, superseded files reclaimed") {
    val rows = Sources.metaVacuum(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 2)
    val (before, after) = (rows(0), rows(1))
    assert(before._1 == "0_before" && after._1 == "1_after")
    assert(before._2 == 5 && after._2 == 1, "4+1 files -> 1 file")
    assert(before._3 == 2 * after._3, "before sees both versions")
  }

  test("events_markov_stationary: probability mass sums to 1, states valid") {
    val types = T.events(spark, sf0001).select(col("event_type"))
      .distinct().collect().map(_.getString(0)).toSet
    val rows = Stats.eventsMarkovStationary()(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(types.contains(r.getString(0)))
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
    }
    val mass = rows.map(_.getDouble(1)).sum
    assert(math.abs(mass - 1.0) < 1e-4, s"stationary mass $mass != 1")
  }

  test("embed_isotropy: anisotropy bounded by Cauchy-Schwarz") {
    val rows = Stats.embedIsotropy(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (meanSq, centSq, ani) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(ani >= 0.0 && ani <= 1.0 + 1e-9, s"anisotropy $ani out of [0,1]")
      assert(centSq <= meanSq + 1e-9, "||mu||^2 cannot exceed E||x||^2")
      assert(math.abs(ani - centSq / meanSq) < 1e-3)
    }
  }

  test("agg_hhi: index between uniform floor and monopoly ceiling") {
    val rows = Stats.aggHhi(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, hhi, top) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(hhi >= 1.0 / n - 1e-9 && hhi <= 1.0 + 1e-9,
        s"HHI $hhi outside [1/$n, 1]")
      assert(top > 0.0 && top <= 1.0)
      assert(hhi >= top * top - 1e-9, "HHI must dominate top share squared")
    }
  }

  test("dedup_minhash_audit: 32-hash estimate tracks exact Jaccard") {
    val rows = LlmPipeline.dedupMinhashAudit(spark, sf0001)
      .select(col("est_jacc"), col("exact_jacc"), col("abs_err")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
      assert(r.getDouble(2) <= 0.6, s"estimator off by ${r.getDouble(2)}")
    }
    // unbiased estimator: the MEAN error over candidate pairs is far
    // tighter than any single pair's (sigma ~ sqrt(J(1-J)/32) ~ 0.09)
    val meanErr = rows.map(_.getDouble(2)).sum / rows.length
    assert(meanErr < 0.15, s"mean |est - exact| = $meanErr too loose")
  }

  test("text_shard_manifest: full coverage, hash-balanced shards") {
    val total = T.documents(spark, sf0001).count()
    val rows = LlmPipeline.textShardManifest(spark, sf0001)
      .select(col("shard"), col("n_docs"), col("share")).collect()
    assert(rows.length == 8)
    assert(rows.map(_.getLong(1)).sum == total, "every doc lands in a shard")
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-4)
    val counts = rows.map(_.getLong(1))
    assert(counts.max.toDouble / counts.min < 3.0,
      s"hash balance degenerate: ${counts.mkString(",")}")
  }

  test("corpus_card: language rows partition the corpus") {
    val total = T.documents(spark, sf0001).count()
    val nSources = T.documents(spark, sf0001).select(col("source"))
      .distinct().count()
    val rows = SparkEntry.queries("corpus_card")(spark, sf0001).collect()
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach { r =>
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0, "distinct_frac")
      assert(r.getDouble(6) >= 1.0 / nSources - 1e-9,
        "dominant source must hold at least the uniform share")
    }
  }

  test("merge_idempotent: re-applying the batch changes nothing") {
    val once = Sources.mergeIdempotent(spark, sf0001).collect().map(_.toSeq)
    val twice = Sources.mergeIdempotent(spark, sf0001).collect().map(_.toSeq)
    assert(once.toSeq == twice.toSeq, "second apply must be a no-op")
    // idempotency closes the loop to the source table exactly
    val src = T.orders(spark, sf0001).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    once.foreach { r =>
      assert(r(1) == src(r(0).asInstanceOf[String]), "row count drifted")
    }
  }

  test("agg_bootstrap_ci: 32 replicates, ordered band, positive means") {
    val rows = Stats.aggBootstrapCi(spark, sf0001).collect()
    assert(rows.length == 3, "one row per order status")
    rows.foreach { r =>
      assert(r.getLong(1) == 32L, "n_reps must be 32")
      val (full, boot, lo, hi) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(lo <= hi, "band must be ordered")
      assert(full > 0.0 && boot > 0.0)
      // half-sample means concentrate: the 10/90 band sits within 5%
      // of the full mean on this metric
      assert(lo > full * 0.95 && hi < full * 1.05, "band far from mean")
    }
  }

  test("agg_theil_sen: pair-count closure and finite slopes") {
    val rows = Stats.aggTheilSen(spark, sf0001).collect()
    assert(rows.length == 5, "one row per order priority")
    rows.foreach { r =>
      val (nm, np) = (r.getLong(1), r.getLong(2))
      assert(np == nm * (nm - 1) / 2, "n_pairs must be C(n_months, 2)")
      assert(!r.getDouble(3).isNaN && !r.getDouble(4).isNaN)
    }
  }

  test("agg_mad: nonnegative robust scale, count closure, exact 1.4826x") {
    val total = T.orders(spark, sf0001).count()
    val rows = Stats.aggMad(spark, sf0001).collect()
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach { r =>
      val (med, mad, sc) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(med > 0.0 && mad >= 0.0)
      assert(math.abs(sc - BigDecimal(mad * 1.4826)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }

  test("agg_weighted_median: half-weight property, member value, unweighted contrast") {
    val li = T.lineitem(spark, sf0001)
    val rows =
      SparkEntry.queries("agg_weighted_median")(spark, sf0001).collect()
    assert(rows.length == 3, "one row per return flag")
    rows.foreach { r =>
      val (flag, wm, tot) = (r.getString(0), r.getDouble(2), r.getDouble(3))
      // the defining property: weight at or below the median reaches half
      // the total, and strictly below stays under half
      val atOrBelow = li.filter(col("l_returnflag") === flag &&
          col("l_extendedprice") <= wm)
        .agg(sum(col("l_quantity"))).collect()(0).getDouble(0)
      val below = li.filter(col("l_returnflag") === flag &&
          col("l_extendedprice") < wm)
        .agg(coalesce(sum(col("l_quantity")), lit(0.0)))
        .collect()(0).getDouble(0)
      assert(atOrBelow * 2 >= tot - 1e-6, s"$flag: median too low")
      assert(below * 2 < tot + 1e-6, s"$flag: median too high")
      // the median is an actual member price of the group
      assert(li.filter(col("l_returnflag") === flag &&
        col("l_extendedprice") === wm).count() > 0)
    }
  }

  test("agg_trimmed_mean: count closure, band tightens the mean vs raw") {
    val o = T.orders(spark, sf0001)
    val raw = o.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val rows = Stats.aggTrimmedMean(spark, sf0001).collect()
    assert(rows.length == 3, "one row per order status")
    rows.foreach { r =>
      val (st, kept, cut, tm) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val (n, lo, hi) = raw(st)
      assert(cut == math.floor(n.toDouble * 0.1).toLong)
      assert(kept == n - 2 * cut, s"$st: kept band must be n - 2*cut")
      assert(tm > lo && tm < hi, s"$st: trimmed mean outside value range")
    }
  }

  test("subq_notin_null: NOT IN collapses under NULL; clean == NOT EXISTS") {
    val hasNull = T.orders(spark, sf0001)
      .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 97 === 0)
      .count() > 0
    val totalCust = T.customer(spark, sf0001).count()
    val rows = graft.ops.Advanced.subqNotinNull(spark, sf0001).collect()
    assert(rows.map(_.getLong(1)).sum == totalCust)
    rows.foreach { r =>
      assert(r.getLong(2) == r.getLong(3),
        "NOT IN over the null-stripped set must equal NOT EXISTS")
      if (hasNull)
        assert(r.getLong(4) == 0L,
          "NOT IN with a NULL member must select nothing")
      else assert(r.getLong(4) == r.getLong(3))
    }
  }

  test("graph_modularity: degree closure and contribution sum") {
    val rows = graft.ops.Graph.graphModularity()(spark, sf0001)
      .select(col("community"), col("n_nodes"), col("e_in"), col("d_tot"),
        col("contrib"), col("modularity"))
      .collect()
    assert(rows.nonEmpty)
    val q = rows.head.getDouble(5)
    assert(rows.forall(_.getDouble(5) == q), "modularity is one scalar")
    assert(q >= -0.5 && q <= 1.0, s"modularity $q out of range")
    // sum of community degrees counts each edge's two endpoints once
    val m2 = rows.map(_.getLong(3)).sum
    assert(m2 % 2 == 0 && rows.map(_.getLong(2)).sum <= m2 / 2)
    assert(math.abs(rows.map(_.getDouble(4)).sum - q) < 1e-4)
  }

  test("events_lifecycle: class closure and new-user accounting") {
    val users = T.events(spark, sf0001).select(col("user_id"))
      .distinct().count()
    val rows = graft.ops.Insights.eventsLifecycle()(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(4),
        "active = new + retained + resurrected")
    }
    assert(rows.map(_.getLong(2)).sum == users,
      "every user is new exactly once")
    val first = rows.head
    assert(first.getLong(1) == first.getLong(2), "week 1 is all new")
  }

  test("text_readability: doc-count closure, valid bands, syllable floor") {
    val total = T.documents(spark, sf0001).count()
    val bands = Set("very_easy", "easy", "medium", "hard", "very_hard")
    val rows = graft.ops.Curation.textReadability(spark, sf0001).collect()
    assert(rows.map(_.getLong(2)).sum == total)
    rows.foreach { r =>
      assert(bands.contains(r.getString(1)))
      assert(r.getDouble(4) >= 1.0, "every word has at least one syllable")
    }
  }

  test("agg_skyline: frontier points are mutually non-dominating parts") {
    val rows = SparkEntry.queries("agg_skyline")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getInt(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.forall(_._4 >= 1))
    // within a brand no frontier point dominates another
    rows.groupBy(_._1).foreach { case (_, pts) =>
      for (a <- pts; b <- pts if a != b)
        assert(!(a._2 <= b._2 && a._3 >= b._3),
          s"$a dominates $b on the frontier")
    }
    // every part is dominated-or-equal by some frontier point of its brand
    val parts = T.part(spark, sf0001)
      .select(col("p_brand"), col("p_retailprice"), col("p_size")).collect()
    val byBrand = rows.groupBy(_._1)
    parts.foreach { p =>
      val fr = byBrand(p.getString(0))
      assert(fr.exists(f => f._2 <= p.getDouble(1) && f._3 >= p.getInt(2)))
    }
  }

  test("graph_assortativity: r in [-1,1], symmetric-moment consistency") {
    val r = graft.ops.Graph.graphAssortativity()(spark, sf0001)
      .collect().head
    val (nNodes, nEdges, meanDeg, rho) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    assert(nNodes > 0 && nEdges > 0)
    // friendship paradox (Cauchy-Schwarz): the mean degree seen from a
    // random edge endpoint, sum(d^2)/2m, dominates the node mean 2m/n
    assert(meanDeg >= 2.0 * nEdges / nNodes - 1e-9)
    assert(rho >= -1.0 - 1e-9 && rho <= 1.0 + 1e-9)
  }

  test("events_coverage: island arithmetic and per-mille bounds") {
    val users = T.events(spark, sf0001).select(col("user_id"))
      .distinct().count()
    val rows = graft.ops.Insights.eventsCoverage(spark, sf0001).collect()
    assert(rows.length == users, "one row per user")
    rows.foreach { r =>
      val (nev, nisl, cov, span, pm) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nisl >= 1 && nisl <= nev, "islands merge events")
      assert(cov >= 1800L * nisl, "each island covers >= one interval")
      assert(cov <= span && span >= 1800, "union fits inside the span")
      assert(pm == cov * 1000 / span && pm >= 0 && pm <= 1000)
    }
  }

  test("events_stickiness: DAU <= MAU28, per-mille closure, all days") {
    val days = T.events(spark, sf0001)
      .select(to_date(col("ts")).as("d")).distinct().count()
    val rows = graft.ops.Insights.eventsStickiness(spark, sf0001).collect()
    assert(rows.length == days, "one row per active day")
    rows.foreach { r =>
      val (dau, mau, pm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(dau >= 1 && dau <= mau, "DAU bounded by MAU28")
      assert(pm == dau * 1000 / mau && pm >= 0 && pm <= 1000)
    }
  }

  test("sim_topk_pq: ADC candidates contain and order the exact top-3") {
    val rows = LlmPipeline.simTopkPq(spark, sf0001).collect()
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.size == 10 && rows.length == 30)
    byProbe.foreach { case (p, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
      // exact distances are non-decreasing in rank and never negative
      val d2 = sorted.map(_.getLong(4))
      assert(d2.sameElements(d2.sorted) && d2.forall(_ >= 0))
      // the probe itself is excluded from its own candidates
      assert(rs.forall(_.getLong(2) != p))
      assert(rs.forall(_.getLong(3) >= 0), "ADC distances nonnegative")
    }
  }

  test("agg_sketch_rollup: merged <= naive sum, overlap closure") {
    val rows = graft.ops.Advanced.aggSketchRollup(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nWeeks, naive, merged, overlap) =
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(nWeeks >= 1)
      assert(merged <= naive + 1e-9, "merge removes double counting")
      assert(math.abs((naive - merged) - overlap) < 1e-6)
      assert(merged >= naive / nWeeks - 1e-9,
        "true distinct at least the largest week's share")
    }
  }

  test("meta_checksum: order/partition-invariant, flips on any edit") {
    val base = SparkEntry.queries("meta_checksum")(spark, sf0001).collect()
    assert(base.map(_.getLong(1)).sum ==
      T.lineitem(spark, sf0001).count(), "counts partition the table")
    // repartitioning must not change any component of the checksum
    val shuffled = T.lineitem(spark, sf0001).repartition(7)
    val rh = graft.expr.Md5Prefix48.md548(concat_ws("|",
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").cast("bigint"), col("l_returnflag"),
      col("l_linestatus")))
    val again = shuffled.select(col("l_returnflag"), rh.as("rh"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("rh").cast("decimal(28,0)")).cast("decimal(38,0)")
          .as("sum_raw"),
        expr("bit_xor(rh)").as("xor_h"))
      .select(col("l_returnflag"), col("n_rows"),
        (col("sum_raw") % lit(2305843009213693951L)).cast("bigint")
          .as("sum_h"),
        col("xor_h"))
      .orderBy(col("l_returnflag")).collect()
    assert(base.map(_.toSeq.toList).toList ==
      again.map(_.toSeq.toList).toList)
  }

  test("agg_power_mde: MDE shrinks with n, n_req covers the 5% lift") {
    val rows = Stats.aggPowerMde(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, mean, sd, mdeAbs, mdeRel, nReq) = (r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getLong(6))
      assert(mean > 0 && sd > 0 && mdeAbs > 0 && nReq > 0)
      assert(math.abs(mdeRel - mdeAbs / mean) < 1e-4)
      // at n_req per arm the detectable effect is (about) the 5% lift:
      // mde(n_req) = 2.8016*sqrt(2*vr/n_req) <= 0.05*mean (+ceil slack)
      val mdeAtReq = 2.8016 * math.sqrt(2.0 * sd * sd / nReq)
      assert(mdeAtReq <= 0.05 * mean * 1.01,
        s"n_req=$nReq does not power the 5% lift")
    }
  }

  test("agg_lorenz_bands: shares and counts close, cum monotone") {
    val rows = graft.ops.Insights.aggLorenzBands(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      // rows arrive band-descending; cumulative share must be monotone
      val cum = rs.map(_.getLong(5))
      assert(cum.sameElements(cum.sorted), "cum share grows downward")
      assert(cum.last >= 9990 && cum.last <= 10000,
        "full cum share within DIV truncation of 100%")
      assert(rs.map(_.getLong(2)).sum == rs.head.getLong(3),
        "band counts partition the customers")
      assert(rs.map(_.getLong(4)).sum <= 10000, "shares sum under 100%")
    }
  }

  test("agg_ratio_ci: band brackets the ratio, se positive, user closure") {
    val users = T.orders(spark, sf0001).select(col("o_custkey"))
      .distinct().count()
    val rows = Stats.aggRatioCi(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == users,
      "segments partition the purchasing users")
    rows.foreach { r =>
      val (ratio, se, lo, hi) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(se > 0 && lo < ratio && ratio < hi)
      assert(math.abs((ratio - lo) - (hi - ratio)) < 1e-4,
        "normal band is symmetric")
    }
  }
}
