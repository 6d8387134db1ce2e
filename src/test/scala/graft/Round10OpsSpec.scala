package graft

import org.apache.spark.sql.functions._

import graft.core.{Tables => T}
import graft.ops.{Graph, Horizon}

/** Round-10 operator invariants: the Holt recursion (replayed locally in
  * Scala and compared state-for-state), the cohort-LTV projection,
  * bounded Brandes betweenness (replayed against a local BFS on the
  * collected sf0.001 graph), and the sensitivity-coreset PPS draw. */
class Round10OpsSpec extends SparkSpecBase {

  /** Local replay of the declared Holt fold: l₂=y₂, b₂=y₂−y₁, α=1/2,
    * β=1/4 — the same op order as the aggregate() HOF. */
  private def holtLocal(ys: Seq[Double]): (Double, Double) =
    ys.drop(2).foldLeft((ys(1), ys(1) - ys(0))) { case ((l, b), y) =>
      val nl = 0.5 * y + 0.5 * (l + b)
      (nl, 0.25 * (nl - l) + 0.75 * b)
    }

  test("agg_holt: matches a local replay of the recursion per type") {
    val daily = T.events(spark, sf0001)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(graft.core.Numeric.dsum(col("value")).as("rev"))
      .orderBy(col("event_type"), col("day")).collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.sortBy(_.getDate(1).toString).map(_.getDouble(2)).toSeq)
      .toMap
    val rows = Horizon.aggHolt(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ys = daily(r.getString(0))
      assert(r.getLong(1) == ys.length, "n_days must count the day grid")
      val (l, b) = holtLocal(ys)
      assert(math.abs(r.getDouble(2) - l) < 1e-6, s"level ${r.getDouble(2)} vs $l")
      assert(math.abs(r.getDouble(3) - b) < 1e-6, s"trend ${r.getDouble(3)} vs $b")
      assert(math.abs(r.getDouble(4) - (r.getDouble(2) + r.getDouble(3))) < 2e-6,
        "fc_1 = level + trend")
      assert(math.abs(r.getDouble(5) - (r.getDouble(2) + 7 * r.getDouble(3))) < 5e-6,
        "fc_7 = level + 7*trend")
    }
    // every multi-day type must appear
    assert(rows.length == daily.count(_._2.length >= 2))
  }

  /** Local replay of the Holt-Winters fold (α=1/2, β=1/4, γ=1/4, m=7,
    * classical two-week init) in the declared op order. */
  private def hwLocal(ys: Seq[Double]): (Double, Double, Array[Double]) = {
    val m1 = (ys(0) + ys(1) + ys(2) + ys(3) + ys(4) + ys(5) + ys(6)) / 7.0
    val m2 = (ys(7) + ys(8) + ys(9) + ys(10) + ys(11) + ys(12) + ys(13)) / 7.0
    var l = m1
    var b = (m2 - m1) / 7.0
    val s = Array.tabulate(7)(k => ys(k) - m1)
    for (i <- 8 to ys.length) { // 1-based day index
      val y = ys(i - 1)
      val p = (i - 1) % 7
      val nl = 0.5 * (y - s(p)) + 0.5 * (l + b)
      val nb = 0.25 * (nl - l) + 0.75 * b
      s(p) = 0.25 * (y - nl) + 0.75 * s(p)
      l = nl; b = nb
    }
    (l, b, s)
  }

  test("agg_holt_winters: matches a local replay of the seasonal recursion") {
    val daily = T.events(spark, sf0001)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(graft.core.Numeric.dsum(col("value")).as("rev"))
      .orderBy(col("event_type"), col("day")).collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.sortBy(_.getDate(1).toString).map(_.getDouble(2)).toSeq)
      .toMap
    val rows = Horizon.aggHoltWinters(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (tpe, rs) =>
      val ys = daily(tpe)
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to 7L), "7 horizons")
      val (l, b, s) = hwLocal(ys)
      rs.foreach { r =>
        val h = r.getLong(2).toInt
        assert(math.abs(r.getDouble(3) - l) < 1e-6, s"level vs $l")
        assert(math.abs(r.getDouble(4) - b) < 1e-6, s"trend vs $b")
        val sUsed = s(((ys.length + h - 1) % 7).toInt)
        assert(math.abs(r.getDouble(5) - sUsed) < 1e-6, s"seasonal h=$h")
        assert(math.abs(r.getDouble(6) - (l + h * b + sUsed)) < 1e-5,
          s"fc h=$h")
      }
    }
  }

  test("events_ewma_chart: matches a local replay; limits bracket the mean") {
    val daily = T.events(spark, sf0001)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(graft.core.Numeric.dsum(col("value")).as("rev"))
      .orderBy(col("event_type"), col("day")).collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.sortBy(_.getDate(1).toString).map(_.getDouble(2)).toSeq)
      .toMap
    val rows = Horizon.eventsEwmaChart(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (tpe, rs) =>
      val ys = daily(tpe)
      assert(rs.length == ys.length, "one chart row per observed day")
      val n = ys.length.toDouble
      val mu = ys.sum / n
      val sigma = math.sqrt(ys.map(y => (y - mu) * (y - mu)).sum / (n - 1))
      val lim = 3.0 * sigma * math.sqrt(1.0 / 7.0)
      var z = mu
      rs.sortBy(_.getDate(1).toString).zip(ys).foreach { case (r, y) =>
        z = 0.25 * y + 0.75 * z
        assert(math.abs(r.getDouble(3) - z) < 1e-4, s"ewma vs $z")
        assert(math.abs(r.getDouble(4) - (mu + lim)) < 1e-3, "ucl")
        assert(math.abs(r.getDouble(5) - (mu - lim)) < 1e-3, "lcl")
        assert(r.getBoolean(6) == (math.abs(z - mu) > lim - 1e-9)
          || math.abs(math.abs(z - mu) - lim) < 1e-6,
          "breach flag must agree with the limit comparison")
      }
    }
  }

  test("events_ltv_forecast: projection is anchored on the observed curve") {
    val rows = Horizon.eventsLtvForecast(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (users, nAges, last) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(users >= 1 && nAges >= 2)
      assert(last > 0.0, "cum LTV of a purchase cohort is positive")
      // Holt level tracks the end of a cumulative (non-decreasing) series:
      // it can lag but never exceeds the last value by more than one step's
      // worth of trend
      val (level, trend, fc7) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(math.abs(fc7 - (level + 7 * trend)) < 5e-6, "fc_7 = l + 7b")
      assert(trend > -1e-9, s"trend on a cumulative series is >= 0, got $trend")
      assert(fc7 >= last - 1e-6,
        "projecting a non-decreasing curve forward cannot fall below its end")
    }
  }

  test("graph_betweenness: matches a local bounded-Brandes replay") {
    // rebuild the sampled co-purchase graph locally (sf0.001 is small)
    val li = T.lineitem(spark, sf0001)
      .filter(col("l_orderkey") % 3 === 0)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).values.map(_.map(_._2).distinct)
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    for (ps <- byOrder; a <- ps; b <- ps if a != b)
      adj(a) = adj(a) + b
    val seeds = T.part(spark, sf0001).filter(col("p_partkey") % 500 === 0)
      .select(col("p_partkey")).collect().map(_.getLong(0))
    // forward sigma per level, then backward dependency, hop 3 -> 1, with
    // the declared per-term round-8 discipline
    def r8(x: Double): BigDecimal =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP)
    val acc = scala.collection.mutable.Map[Long, BigDecimal]()
      .withDefaultValue(BigDecimal(0))
    var contrib = scala.collection.mutable.Map[Long, Int]().withDefaultValue(0)
    for (s0 <- seeds) {
      val levels = scala.collection.mutable.ArrayBuffer(Map(s0 -> 1L))
      for (h <- 1 to 3) {
        val prev = levels.flatMap(_.keySet).toSet
        val nxt = scala.collection.mutable.Map[Long, Long]()
          .withDefaultValue(0L)
        for ((u, sig) <- levels(h - 1); v <- adj(u) if !prev.contains(v))
          nxt(v) += sig
        levels += nxt.toMap
      }
      val d3 = levels(3).keys.map(_ -> BigDecimal(0)).toMap
      def back(vs: Map[Long, Long], ws: Map[Long, Long],
          dw: Map[Long, BigDecimal]): Map[Long, BigDecimal] =
        vs.flatMap { case (v, sv) =>
          // the declared term discipline: ratio rounded 8 in double,
          // then the (1+δ) multiply and final round-8 in EXACT decimal
          val terms = adj(v).toSeq.filter(ws.contains).map { w =>
            (r8(sv.toDouble / ws(w).toDouble)
              * (BigDecimal(1) + dw.getOrElse(w, BigDecimal(0))))
              .setScale(8, BigDecimal.RoundingMode.HALF_UP)
          }
          if (terms.isEmpty) None else Some(v -> terms.sum)
        }
      val d2 = back(levels(2), levels(3), d3)
      val d1 = back(levels(1), levels(2), d2)
      for ((v, d) <- d1 ++ d2.toSeq) { acc(v) += d; contrib(v) += 1 }
    }
    val expected = acc.toSeq
      .map { case (n, d) => (n, d.setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble) }
      .sortBy { case (n, bc) => (-bc, n) }.take(20)
    val rows = Graph.graphBetweenness()(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == expected.length)
    rows.zip(expected).foreach { case ((n, nc, bc), (en, ebc)) =>
      assert(n == en, s"node order: got $n expected $en")
      assert(math.abs(bc - ebc) < 1e-6, s"bc($n): $bc vs $ebc")
      assert(nc == contrib(n), s"n_contrib($n): $nc vs ${contrib(n)}")
    }
  }

  test("agg_qq_drift: deciles monotone within each cohort, gap = cur - ref") {
    val rows = Horizon.aggQqDrift(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 9L), "9 decile rows")
    val qRef = rows.map(_.getDouble(3))
    val qCur = rows.map(_.getDouble(4))
    assert(qRef.zip(qRef.tail).forall { case (a, b) => b >= a - 1e-9 },
      "reference quantiles must be non-decreasing in the decile")
    assert(qCur.zip(qCur.tail).forall { case (a, b) => b >= a - 1e-9 },
      "current quantiles must be non-decreasing in the decile")
    rows.foreach { r =>
      assert(math.abs(r.getDouble(5) - (r.getDouble(4) - r.getDouble(3))) < 2e-6,
        "gap = q_cur - q_ref")
      assert(r.getLong(1) > 0 && r.getLong(2) > 0)
    }
  }

  test("sample_kcenter: greedy max-min radii are non-increasing, centers distinct") {
    val rows = Horizon.sampleKcenter()(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 8L), "8 ranked centers")
    assert(rows.map(_.getLong(1)).distinct.length == 8, "centers distinct")
    assert(rows.head.isNullAt(2), "the seed center has no prior distance")
    val d2s = rows.tail.map(_.getLong(2))
    // Gonzalez invariant: each added center is the farthest point from the
    // chosen set, so the selection radius can never increase
    assert(d2s.zip(d2s.tail).forall { case (a, b) => b <= a },
      s"max-min radii must be non-increasing: ${d2s.toSeq}")
    d2s.foreach(d => assert(d > 0))
  }

  test("events_forecast_eval: errors match a local replay of the 20-day fit") {
    val daily = T.events(spark, sf0001)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(graft.core.Numeric.dsum(col("value")).as("rev"))
      .orderBy(col("event_type"), col("day")).collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.sortBy(_.getDate(1).toString).map(_.getDouble(2)).toSeq)
      .toMap
    val rows = Horizon.eventsForecastEval(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ys = daily(r.getString(0))
      assert(r.getLong(1) == 20 && r.getLong(2) == ys.length - 20)
      val (l, b) = holtLocal(ys.take(20))
      val errs = ys.drop(20).zipWithIndex.map { case (y, j) =>
        y - (l + (j + 1) * b)
      }
      val mae = errs.map(math.abs).sum / errs.length
      assert(math.abs(r.getDouble(3) - mae) < 1e-4,
        s"mae ${r.getDouble(3)} vs local $mae")
      assert(r.getDouble(4) > 0, "mape positive")
      assert(math.abs(r.getDouble(5)) <= r.getDouble(3) + 1e-9,
        "|bias| <= mae always")
    }
  }

  test("sample_coreset: PPS draw is sized m per stratum with unbiasing weights") {
    val rows = Horizon.sampleCoreset(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (label, rs) =>
      val n = rs.head.getLong(2)
      // systematic PPS yields exactly m picks unless one point's
      // sensitivity exceeds S/m (then its interval spans several grid
      // points and the draw shrinks) — and never more than m
      assert(rs.length <= 16 && rs.length >= 1, s"label $label: ${rs.length}")
      rs.foreach { r =>
        val (s, w) = (r.getDouble(3), r.getDouble(4))
        assert(s > 0 && s <= 1.0 + 1e-9, s"sensitivity $s out of range")
        assert(s >= 0.5 / n - 1e-9, "sensitivity floor is 1/(2n)")
        assert(w > 0, "weights positive")
      }
      // Horvitz-Thompson sanity: sum over the stratum of s ~= S means the
      // inclusion grid is s-proportional: w*16*s must be ~constant (= S)
      val ss = rs.map(r => r.getDouble(4) * 16 * r.getDouble(3))
      assert(ss.max - ss.min < 1e-3 * ss.max,
        s"w*m*s must be the stratum total S, spread ${ss.min}..${ss.max}")
    }
  }
}
