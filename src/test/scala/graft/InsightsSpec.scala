package graft

import org.apache.spark.sql.functions._

import graft.ops.{Graph, Insights}

/** Property-level assertions for the round-7b insight operators — the
  * invariants the DuckDB oracle's value equality does NOT directly state
  * (cap/monotonicity/bound properties, plan shape), on sf0.001. */
class InsightsSpec extends SparkSpecBase {

  test("sample_balanced: per-class cap holds and selection is WindowGroupLimit") {
    val df = Insights.sampleBalanced(spark, sf0001)
    val perLang = df.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = graft.core.Tables.documents(spark, sf0001)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (lang, n) =>
      assert(perLang(lang) == math.min(40L, n),
        s"$lang kept ${perLang(lang)} of $n, cap 40")
    }
    // the rank-limit filter must plan as WindowGroupLimit (bounded per-task
    // heaps) — the property that makes the cap shuffle O(classes*K)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "rank<=K filter did not plan as WindowGroupLimit")
  }

  test("meta_skew_report: shares bounded, skew ratio >= 1, top-10 ordered") {
    val rows = Insights.metaSkewReport(spark, sf0001).collect()
    assert(rows.length == 10)
    val cnts = rows.map(_.getLong(1))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getDouble(2) > 0 && r.getDouble(2) < 1) // share
      assert(r.getDouble(4) >= 1.0)                    // skew_ratio
    }
  }

  test("text_blocklist: rates in [0,1] and flagged <= docs; some source flags") {
    val rows = Insights.textBlocklist(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    assert(rows.map(_.getLong(2)).sum > 0, "blocklist never fired — inert gate")
  }

  test("text_contrastive_pairs: 16-token windows that chain (pos_i = anchor_i+1)") {
    val rows = Insights.textContrastivePairs(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, a, p) =>
      assert(a.split(" ").length == 16 && p.split(" ").length == 16,
        "ragged window leaked into a pair")
    }
    val byDoc = rows.groupBy(_._1)
    byDoc.values.foreach { ps =>
      val s = ps.sortBy(_._2)
      s.zip(s.tail).foreach { case ((_, i, _, pos), (_, j, anc, _)) =>
        assert(j == i + 1 && anc == pos,
          "adjacent pairs must chain: anchor(i+1) == positive(i)")
      }
    }
  }

  test("agg_corr_matrix: values in [-1,1] and within 1e-6 of built-in corr") {
    val rows = Insights.aggCorrMatrix(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(rows.size == 3)
    rows.values.foreach(c => assert(c >= -1.0 && c <= 1.0))
    val li = graft.core.Tables.lineitem(spark, sf0001)
    rows.foreach { case ((x, y), c) =>
      val builtin = li.agg(corr(col(x), col(y))).head.getDouble(0)
      assert(math.abs(builtin - c) < 1e-6,
        s"corr($x,$y): exact-moment $c vs streaming $builtin")
    }
  }

  test("events_ccdf: CCDF is monotone nonincreasing and starts at 1.0") {
    val rows = Insights.eventsCcdf(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    assert(rows.head._3 == 1.0, "lowest bucket must cover every user")
    rows.zip(rows.tail).foreach { case ((_, n1, s1), (_, n2, s2)) =>
      assert(n2 <= n1 && s2 <= s1, "CCDF must be nonincreasing")
    }
  }

  test("graph_degree_dist: buckets tile the degree range and cover all nodes") {
    val rows = Graph.graphDegreeDist(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (lo, _, mn, mx) =>
      assert(mn >= lo, s"min_deg $mn below bucket floor $lo")
      assert(lo == 64L || mx < lo * 2, s"max_deg $mx escaped bucket [$lo, ${lo * 2})")
    }
  }

  test("graph_kcore: survivors keep >= k degree and shrink monotonically") {
    val out = Graph.graphKcore()(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    out.foreach { case (_, deg) => assert(deg >= 32L) }
    // survivors of the declared 2-round peel are a subset of round-1 keeps:
    // verified indirectly — each survivor's final degree counts only
    // surviving-neighbor edges, so |out| <= |round-1 keeps| by construction;
    // here assert against the one-round peel computed inline
    import graft.core.{Tables => T}
    val li = T.lineitem(spark, sf0001).filter(col("l_orderkey") % 3 === 0)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val e = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
      .join(li.select(col("l_orderkey"), col("l_partkey").as("pb")), Seq("l_orderkey"))
      .filter(col("pa") < col("pb")).select(col("pa"), col("pb")).distinct()
    val keep1 = e.select(col("pa").as("p")).unionAll(e.select(col("pb").as("p")))
      .groupBy("p").agg(count(lit(1)).as("deg")).filter(col("deg") >= 32)
      .select("p").collect().map(_.getLong(0)).toSet
    assert(out.forall { case (n, _) => keep1.contains(n) },
      "a round-2 survivor was not a round-1 keep")
  }

  test("agg_autocorr: values bounded in [-1,1]; pair counts below series length") {
    val rows = Insights.aggAutocorr(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, lag, np, r) =>
      assert(lag == 1L || lag == 7L)
      assert(np >= 2, "degenerate pair count")
      assert(r >= -1.0 && r <= 1.0)
    }
  }

  test("events_gaps: max >= mean, every user with >=2 events reports") {
    val rows = Insights.eventsGaps(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, mx, avg) =>
      assert(n >= 1 && mx >= 0 && avg >= 0.0 && mx.toDouble >= avg - 1e-9)
    }
    val multi = graft.core.Tables.events(spark, sf0001)
      .groupBy("user_id").count().filter(col("count") >= 2).count()
    assert(rows.length == multi, "a multi-event user is missing a gap profile")
  }

  test("text_novelty: first doc is fully novel; credits tie out globally") {
    val rows = Insights.textNovelty(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val first = rows.minBy(_._1)
    assert(first._4 == 1.0, "the earliest doc must be 100% novel")
    rows.foreach { case (_, ng, nn, nov) =>
      assert(nn <= ng && nov >= 0.0 && nov <= 1.0)
    }
    // sum of novel credits == number of distinct grams in the corpus
    val totalNovel = rows.map(_._3).sum
    val distinctGrams = graft.core.Tables.documents(spark, sf0001)
      .select(split(col("text"), " ").as("l")).filter(size(col("l")) >= 2)
      .select(explode(sequence(lit(1), size(col("l")) - 1)).as("i"), col("l"))
      .select(concat_ws(" ", slice(col("l"), col("i"), lit(2))).as("g"))
      .distinct().count()
    assert(totalNovel == distinctGrams,
      "every distinct gram must be credited to exactly one doc")
  }

  test("sim_hard_negatives: scores stay inside the declared band, <=5 per probe") {
    val rows = Insights.simHardNegatives(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (p, rnk, c, cos) =>
      assert(p % 50 == 23 && p != c)
      assert(cos >= 0.05 && cos < 0.2, s"cos $cos escaped the negative band")
      assert(rnk >= 1 && rnk <= 5)
    }
    rows.groupBy(_._1).values.foreach { g =>
      val cs = g.sortBy(_._2).map(_._4)
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
        "rank order must follow descending cosine")
    }
  }

  test("agg_moments: matches built-in mean/stddev/skewness within 1e-6") {
    val rows = Insights.aggMoments(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val builtin = graft.core.Tables.orders(spark, sf0001)
      .groupBy("o_orderstatus")
      .agg(avg(col("o_totalprice")).as("m"), stddev(col("o_totalprice")).as("s"),
        skewness(col("o_totalprice")).as("g"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(rows.keySet == builtin.keySet)
    rows.foreach { case (k, (m, s, g)) =>
      val (bm, bs, bg) = builtin(k)
      assert(math.abs(m - bm) < 1e-6, s"$k mean: $m vs $bm")
      assert(math.abs(s - bs) < 1e-6, s"$k stddev: $s vs $bs")
      // built-in skewness uses the population m2^1.5 normalization too
      assert(math.abs(g - bg) < 1e-5, s"$k skewness: $g vs $bg")
    }
  }

  test("text_domain_drift: drift is |rate_a - rate_b| and sorted descending") {
    val rows = Insights.textDomainDrift(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.length == 20)
    rows.foreach { case (_, a, b, drift) =>
      assert(math.abs(drift - math.abs(a - b)) < 1e-9)
      assert(a >= 0 && a <= 1 && b >= 0 && b <= 1)
    }
    val ds = rows.map(_._4)
    assert(ds.zip(ds.tail).forall { case (x, y) => x >= y })
  }

  test("sim_radius: every hit clears the rounded threshold; probes bounded") {
    val rows = Insights.simRadius(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (p, c, cos) =>
      assert(p != c)
      assert(cos >= 0.2 && cos <= 1.000001)
      assert(p % 50 == 7, "a non-probe id appeared on the probe side")
    }
  }
}
