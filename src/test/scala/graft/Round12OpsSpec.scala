package graft

import org.apache.spark.sql.functions._

import graft.core.{Tables => T}

/** Round-12 operator tests: the graph_hits canonicalization guard lives in
  * PropertySpec (headroom sweep); this spec covers the new round-12 ops and
  * the ADVICE r11 data-assumption guards. */
class Round12OpsSpec extends SparkSpecBase {

  test("text_ppl_holdout: '<unk>' is an attested train unigram at both gate SFs (ADVICE r11)") {
    // The holdout scorer inner-joins val tokens against the train unigram
    // table after OOV mapping — if '<unk>' were ever absent from uni
    // (train vocab <= 24 types), OOV val tokens would silently drop from
    // n_tok instead of scoring. The docstring's "unigram term always
    // attested by construction" is a DATA assumption; this pins it.
    Seq(sf0001, "/root/testdata/sf0.01").foreach { d =>
      val train = T.documents(spark, d)
        .withColumn("bkt",
          graft.expr.Md5Prefix48.md548(
            concat(lit("split:"), col("doc_id").cast("string"))) % 100L)
        .filter(col("bkt") >= 2L)
      val nTypes = train
        .select(explode(split(col("text"), " ")).as("tok"))
        .agg(countDistinct(col("tok"))).collect()(0).getLong(0)
      assert(nTypes > 24L,
        s"$d: train vocab has only $nTypes types (<= 24) — '<unk>' would " +
          "be unattested and the holdout join would drop OOV tokens")
      // and the declared query itself scores every val token: per-doc
      // n_tok must equal the raw val token count (no silent drops)
      val scored = graft.ops.Frontier2.textPplHoldout(spark, d)
        .select(col("doc_id"), col("n_tok"))
      val raw = T.documents(spark, d)
        .withColumn("bkt",
          graft.expr.Md5Prefix48.md548(
            concat(lit("split:"), col("doc_id").cast("string"))) % 100L)
        .filter(col("bkt") === 0L)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_raw"))
      val bad = scored.join(raw, Seq("doc_id"))
        .filter(col("n_tok") =!= col("n_raw")).count()
      assert(bad == 0L,
        s"$d: $bad val docs scored fewer tokens than they contain — OOV drop")
    }
  }

  test("graph_louvain_multi: modularity non-decreasing across levels, communities shrink") {
    // the composition's whole point: each Louvain level must improve (or
    // hold) the partition's modularity ON THE ORIGINAL graph while the
    // community count shrinks
    Seq(sf0001, "/root/testdata/sf0.01").foreach { d =>
      val rows = graft.ops.Graph.graphLouvainMulti(spark, d)
        .collect().sortBy(_.getLong(0))
      assert(rows.length == 3, s"$d: expected 3 level rows")
      val q = rows.map(_.getDouble(3))
      val nc = rows.map(_.getLong(1))
      assert(q(1) >= q(0) && q(2) >= q(1),
        s"$d: modularity not monotone: ${q.toSeq}")
      assert(q(2) > 0 && q(0) < 0,
        s"$d: singleton Q must be negative, final Q positive: ${q.toSeq}")
      assert(nc(1) < nc(0) && nc(2) <= nc(1),
        s"$d: community count must shrink: ${nc.toSeq}")
      // intra-community edges only grow as communities merge
      val intra = rows.map(_.getLong(2))
      assert(intra(0) == 0L && intra(1) <= intra(2),
        s"$d: intra-edge counts inconsistent: ${intra.toSeq}")
    }
  }

  test("sim_ivf_pq: recall audit columns match a local brute-force replay") {
    // the audit MECHANISM is the contract (synthetic gaussian vectors make
    // IVF routing near-chance — the honest low recall is the point): gt_rnk
    // and hit must agree with an independent local exact-L2 computation,
    // and the reported d2 must BE the exact integer distance
    val d = sf0001
    val vecs = T.embeddings(spark, d)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 1e6)).toArray)
      .toMap
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val gtTop3 = (0L until 10L).map { p =>
      p -> vecs.toSeq.filter(_._1 != p)
        .map { case (id, v) => (l2(vecs(p), v), id) }
        .sortBy(identity).take(3).map(_._2)
    }.toMap
    val rows = graft.ops.Frontier3.simIvfPq(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, cand) = (r.getLong(0), r.getLong(2))
      val d2 = r.getLong(5)
      val gtRnk = r.getLong(6)
      val hit = r.getBoolean(7)
      assert(d2 == l2(vecs(p), vecs(cand)),
        s"probe $p cand $cand: d2 $d2 != exact ${l2(vecs(p), vecs(cand))}")
      val expectRnk = gtTop3(p).indexOf(cand) + 1
      assert(gtRnk == expectRnk.toLong,
        s"probe $p cand $cand: gt_rnk $gtRnk != local $expectRnk")
      assert(hit == (expectRnk > 0), s"probe $p cand $cand: hit flag wrong")
    }
    // within each probe the exact re-rank is sound: d2 non-decreasing in rnk
    rows.groupBy(_.getLong(0)).foreach { case (p, rs) =>
      val byRnk = rs.sortBy(_.getLong(1)).map(_.getLong(5))
      assert(byRnk.zip(byRnk.tail).forall { case (a, b) => a <= b },
        s"probe $p: re-ranked d2 not sorted: ${byRnk.toSeq}")
    }
  }

  test("agg_anova matches a local replay at sf0.001") {
    val o = T.orders(spark, sf0001)
      .select(col("o_orderstatus"),
        expr("CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,8)), 0) AS BIGINT)"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val groups = o.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = o.length.toDouble
    val k = groups.size.toDouble
    val mm = o.map(_._2).sum.toDouble / n
    val ssb = groups.values.map { ys =>
      val mg = ys.sum.toDouble / ys.length
      BigDecimal(ys.length * (mg - mm) * (mg - mm))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    val ssw = groups.values.map { ys =>
      val sg = ys.sum.toDouble
      BigDecimal(ys.map(y => y.toDouble * y).sum - sg * sg / ys.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    val r = graft.ops.Frontier3.aggAnova(spark, sf0001).collect()(0)
    assert(r.getLong(0) == o.length && r.getLong(1) == groups.size)
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    assert(math.abs(r.getDouble(6) - f) < 1e-4,
      s"F ${r.getDouble(6)} != local $f")
    assert(math.abs(r.getDouble(7) - ssb / (ssb + ssw)) < 1e-4, "eta2 off")
  }

  test("agg_kruskal matches a local replay at sf0.001") {
    val o = T.orders(spark, sf0001)
      .select(col("o_orderpriority"), col("o_orderstatus"),
        expr("CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,8)), 2) * 100" +
          " AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val got = graft.ops.Frontier3.aggKruskal(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(5))).toMap
    o.groupBy(_._1).foreach { case (pr, rows) =>
      val n = rows.length
      // average ranks (1-based), then per-status rank sums
      val sorted = rows.map(_._3).sorted
      val avgRank = sorted.zipWithIndex.groupBy(_._1).map { case (v, xs) =>
        v -> xs.map(_._2 + 1).sum.toDouble / xs.length
      }
      val byStatus = rows.groupBy(_._2).view.mapValues(_.map(x => avgRank(x._3)))
      val srt = byStatus.values.map(rs =>
        rs.sum * rs.sum / rs.length).sum
      val h = 12.0 * srt / (n.toDouble * (n + 1)) - 3.0 * (n + 1)
      val ties = rows.groupBy(_._3).values.map(_.length.toLong)
        .map(t => t * t * t - t).sum
      val c = 1.0 - ties.toDouble / (n.toLong * n * n - n).toDouble
      val (gn, gk, gh, ghAdj) = got(pr)
      assert(gn == n && gk == byStatus.size, s"$pr: n/k mismatch")
      assert(math.abs(gh - h) < 1e-4, s"$pr: H $gh != local $h")
      assert(math.abs(ghAdj - h / c) < 1e-4, s"$pr: H' $ghAdj != ${h / c}")
    }
  }

  test("embed_outlier matches a local replay at sf0.001; score is symmetric-robust") {
    val vecs = T.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 1e6)).toArray)
    val dDim = vecs.head._2.length
    val cent = (0 until dDim).map { i =>
      val s = vecs.map(_._2(i)).sum
      val n = vecs.length.toLong
      math.floor((s * 2 + n).toDouble / (n * 2).toDouble).toLong
    }.toArray
    val d2 = vecs.map { case (id, v) =>
      id -> v.zip(cent).map { case (x, c) => (x - c) * (x - c) }.sum
    }.toMap
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val med = median(d2.values.map(_.toDouble).toSeq)
    val mad = median(d2.values.map(v => math.abs(v - med)).toSeq)
    val rows = graft.ops.Frontier3.embedOutlier(spark, sf0001).collect()
    assert(rows.length == vecs.length)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == d2(id), s"vec $id: d2 mismatch")
      val mz = if (mad == 0) 0.0
        else BigDecimal(0.6745 * (d2(id) - med) / mad)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(4) - mz) < 1e-5, s"vec $id: mz mismatch")
      assert(r.getBoolean(5) == (mz > 3.5), s"vec $id: flag mismatch")
    }
  }

  test("agg_levene matches a local replay at sf0.001") {
    val o = T.orders(spark, sf0001)
      .select(col("o_orderstatus"),
        expr("CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,8)), 2) * 100" +
          " AS BIGINT)"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val groups = o.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def med(xs: Seq[Long]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2).toDouble
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val ws = groups.view.mapValues { ys =>
      val m = med(ys)
      ys.map(y => math.abs(y - m) * 2).map(_.toLong)
    }.toMap
    val n = o.length.toDouble
    val k = groups.size.toDouble
    val allW = ws.values.flatten
    val mm = allW.map(BigInt(_)).sum.toDouble / n
    val ssb = ws.values.map { zs =>
      val mg = zs.map(BigInt(_)).sum.toDouble / zs.length
      zs.length * (mg - mm) * (mg - mm)
    }.sum
    val ssw = ws.values.map { zs =>
      val sg = zs.map(BigInt(_)).sum.toDouble
      zs.map(z => z.toDouble * z).sum - sg * sg / zs.length
    }.sum
    val w = (ssb / (k - 1)) / (ssw / (n - k))
    val r = graft.ops.Frontier3.aggLevene(spark, sf0001).collect()(0)
    assert(r.getLong(0) == o.length && r.getLong(1) == groups.size)
    assert(math.abs(r.getDouble(4) - w) < 1e-3 * math.max(1.0, w.abs),
      s"W ${r.getDouble(4)} != local $w")
  }

  test("agg_welch matches a local replay at sf0.001") {
    val o = T.orders(spark, sf0001)
      .select(col("o_orderstatus"), (col("o_orderkey") % 2 === 0),
        expr("CAST(ROUND(CAST(o_totalprice AS DECIMAL(28,8)), 2) * 100" +
          " AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2)))
    val got = graft.ops.Frontier3.aggWelch(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(5), r.getDouble(6))).toMap
    o.groupBy(_._1).foreach { case (st, rows) =>
      val (as, bs) = rows.partition(_._2)
      def mom(xs: Seq[Long]) = {
        val n = xs.length.toDouble
        val m = xs.map(BigInt(_)).sum.toDouble / n
        val v = (xs.map(x => x.toDouble * x).sum
          - xs.map(BigInt(_)).sum.toDouble * xs.map(BigInt(_)).sum.toDouble
            / n) / (n - 1)
        (n, m, v)
      }
      val (na, ma2, va) = mom(as.map(_._3))
      val (nb, mb2, vb) = mom(bs.map(_._3))
      val (qa, qb) = (va / na, vb / nb)
      val t = (ma2 - mb2) / math.sqrt(qa + qb)
      val df = (qa + qb) * (qa + qb) /
        (qa * qa / (na - 1) + qb * qb / (nb - 1))
      val (gna, gnb, gt, gdf) = got(st)
      assert(gna == na.toLong && gnb == nb.toLong, s"$st: n mismatch")
      assert(math.abs(gt - t) < 1e-4, s"$st: t $gt != local $t")
      assert(math.abs(gdf - df) < 1e-2 * df, s"$st: df $gdf != local $df")
    }
  }

  test("agg_ljung_box matches a local replay at sf0.001") {
    val daily = T.events(spark, sf0001)
      .groupBy(col("event_type"), expr("CAST(ts AS DATE)").as("day"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    val got = graft.ops.Frontier3.aggLjungBox(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    daily.groupBy(_._1).foreach { case (et, rows) =>
      val series = rows.sortBy(_._2).map(_._3.toDouble)
      val n = series.length
      val q = (1 to 5).map { lag =>
        val pairs = series.dropRight(lag).zip(series.drop(lag))
        val np = pairs.length.toDouble
        val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
        val sxx = pairs.map(p => p._1 * p._1).sum
        val syy = pairs.map(p => p._2 * p._2).sum
        val sxy = pairs.map(p => p._1 * p._2).sum
        val r = (np * sxy - sx * sy) /
          (math.sqrt(np * sxx - sx * sx) * math.sqrt(np * syy - sy * sy))
        r * r / (n - lag)
      }.sum * n * (n + 2)
      val (gn, gl, gq) = got(et)
      assert(gn == n && gl == 5L, s"$et: n/lags mismatch")
      assert(math.abs(gq - q) < 1e-3 * math.max(1.0, q.abs),
        s"$et: Q $gq != local $q")
    }
  }

  test("sample_ares: exactly k rows, partition-invariant, matches the global key order") {
    val base = graft.ops.Frontier3.sampleAres(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(base.length == 20)
    // the k smallest keys globally: recompute the FULL key table and take
    // its head — the limit must agree with the unbounded order
    val all = T.documents(spark, sf0001)
      .select(col("doc_id"), col("n_chars"),
        round(-log((graft.expr.Md5Prefix48.md548(
            concat(lit("ares:"), col("doc_id").cast("string"))) + 1L)
          .cast("double") / lit(281474976710656.0))
          / col("n_chars").cast("double"), 8).as("ekey"))
      .collect().map(r => (r.getDouble(2), r.getLong(0), r.getLong(1)))
      .sortBy(x => (x._1, x._2)).take(20)
      .map(x => (x._2, x._3, x._1))
    assert(base.toSeq == all.toSeq, "limit-20 disagrees with the global order")
    // partition count must not change the draw
    val via32 = T.documents(spark, sf0001).repartition(32)
      .select(col("doc_id"), col("n_chars"),
        round(-log((graft.expr.Md5Prefix48.md548(
            concat(lit("ares:"), col("doc_id").cast("string"))) + 1L)
          .cast("double") / lit(281474976710656.0))
          / col("n_chars").cast("double"), 8).as("ekey"))
      .orderBy(col("ekey"), col("doc_id")).limit(20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(via32.toSeq == base.toSeq, "draw changed with partitioning")
  }
}
