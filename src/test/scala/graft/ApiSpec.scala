package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.api.{AsOfJoin, TextDedup, VectorSearch}

/** The public API surface on arbitrary (non-harness) schemas — proves the
  * operators are generic library functions, not fixture-bound queries. */
class ApiSpec extends SparkSpecBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("AsOfJoin.backward attaches the latest prior right row per key") {
    val s = spark
    import s.implicits._
    val quotes = Seq( // (sym, at, px)
      ("A", ts("2025-01-01 10:00:00"), 10.0),
      ("A", ts("2025-01-01 10:05:00"), 11.0),
      ("B", ts("2025-01-01 10:01:00"), 20.0)
    ).toDF("sym", "at", "px")
    val trades = Seq( // (sym, at, qty)
      ("A", ts("2025-01-01 10:03:00"), 5L),  // after 10:00 quote -> 10.0
      ("A", ts("2025-01-01 10:05:00"), 6L),  // at 10:05 (inclusive) -> 11.0
      ("B", ts("2025-01-01 10:00:30"), 7L),  // before any B quote -> null
      ("C", ts("2025-01-01 10:00:00"), 8L)   // key never quoted -> null
    ).toDF("sym", "at", "qty")
    val out = AsOfJoin.backward(trades, quotes, Seq("sym"), "at", "at", Seq("px"))
      .orderBy("sym", "at")
      .collect()
      .map(r => (r.getString(0), r.getLong(2), Option(r.get(3))))
    assert(out.toSeq == Seq(
      ("A", 5L, Some(10.0)), ("A", 6L, Some(11.0)),
      ("B", 7L, None), ("C", 8L, None)))
  }

  test("AsOfJoin.backwardWithin rejects matches older than the tolerance") {
    val s = spark
    import s.implicits._
    val quotes = Seq(
      ("A", ts("2025-01-01 10:00:00"), 10.0),
      ("A", ts("2025-01-01 10:05:00"), 11.0),
      ("B", ts("2025-01-01 09:00:00"), 20.0)
    ).toDF("sym", "at", "px")
    val trades = Seq(
      ("A", ts("2025-01-01 10:03:00"), 5L), // 10:00 quote, 3 min old -> 10.0
      ("A", ts("2025-01-01 10:16:00"), 6L), // 10:05 quote, 11 min old -> stale
      ("B", ts("2025-01-01 10:00:00"), 7L)  // 9:00 quote, 1 h old -> stale
    ).toDF("sym", "at", "qty")
    val out = AsOfJoin.backwardWithin(trades, quotes, Seq("sym"), "at", "at",
        Seq("px"), tolerance = "10 MINUTE")
      .orderBy("sym", "at")
      .collect()
      .map(r => (r.getString(0), r.getLong(2), Option(r.get(3))))
    assert(out.toSeq == Seq(
      ("A", 5L, Some(10.0)), ("A", 6L, None), ("B", 7L, None)))
    // and with a wide-open tolerance it degenerates to plain backward
    val open = AsOfJoin.backwardWithin(trades, quotes, Seq("sym"), "at", "at",
        Seq("px"), tolerance = "2 DAY")
      .orderBy("sym", "at").collect().map(r => Option(r.get(3)))
    assert(open.toSeq == Seq(Some(10.0), Some(11.0), Some(20.0)))
  }

  test("AsOfJoin.nearest picks the closest side, ties to backward") {
    val s = spark
    import s.implicits._
    val quotes = Seq(
      ("A", ts("2025-01-01 10:00:00"), 10.0),
      ("A", ts("2025-01-01 10:10:00"), 11.0),
      ("B", ts("2025-01-01 12:00:00"), 20.0)
    ).toDF("sym", "at", "px")
    val trades = Seq(
      ("A", ts("2025-01-01 10:04:00"), 1L), // 4 min back vs 6 min fwd -> 10.0
      ("A", ts("2025-01-01 10:07:00"), 2L), // 7 min back vs 3 min fwd -> 11.0
      ("A", ts("2025-01-01 10:05:00"), 3L), // 5 min both ways: tie -> 10.0
      ("B", ts("2025-01-01 09:00:00"), 4L), // only a following quote -> 20.0
      ("C", ts("2025-01-01 09:00:00"), 5L)  // no quotes at all -> null
    ).toDF("sym", "at", "qty")
    val out = AsOfJoin.nearest(trades, quotes, Seq("sym"), "at", "at", Seq("px"))
      .orderBy("sym", "at")
      .collect()
      .map(r => (r.getString(0), r.getLong(2), Option(r.get(3))))
    assert(out.toSeq == Seq(
      ("A", 1L, Some(10.0)), ("A", 3L, Some(10.0)), ("A", 2L, Some(11.0)),
      ("B", 4L, Some(20.0)), ("C", 5L, None)))
  }

  test("AsOfJoin.forward attaches the earliest following right row per key") {
    val s = spark
    import s.implicits._
    val quotes = Seq(
      ("A", ts("2025-01-01 10:00:00"), 10.0),
      ("A", ts("2025-01-01 10:05:00"), 11.0),
      ("B", ts("2025-01-01 10:01:00"), 20.0)
    ).toDF("sym", "at", "px")
    val trades = Seq(
      ("A", ts("2025-01-01 10:03:00"), 5L),  // next A quote at 10:05 -> 11.0
      ("A", ts("2025-01-01 10:00:00"), 6L),  // at 10:00 (inclusive) -> 10.0
      ("B", ts("2025-01-01 10:02:00"), 7L),  // after the only B quote -> null
      ("C", ts("2025-01-01 10:00:00"), 8L)   // key never quoted -> null
    ).toDF("sym", "at", "qty")
    val out = AsOfJoin.forward(trades, quotes, Seq("sym"), "at", "at", Seq("px"))
      .orderBy("sym", "at")
      .collect().map(r => (r.getString(0), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(out.toSeq == Seq(
      ("A", 6L, Some(10.0)), ("A", 5L, Some(11.0)),
      ("B", 7L, None), ("C", 8L, None)))
  }

  test("TextDedup.exact and jaccardJoin work on an ad-hoc corpus") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG  "), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat"),   // near dup of 1
      (4L, "completely different words entirely here now ok")
    ).toDF("id", "body")
    val kept = TextDedup.exact(docs, "id", "body").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept(1L) == 2L) // doc 2 normalized-equal to doc 1
    assert(kept(3L) == 1L && kept(4L) == 1L)
    val pairs = TextDedup.jaccardJoin(
        docs.filter(col("id") === 3L), docs.filter(col("id") =!= 3L),
        "id", "body", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((3L, 1L)) ||
      pairs.toSet == Set((3L, 1L), (3L, 2L))) // doc2 uppercased: no shared shingles
  }

  test("containmentJoin matches the naive join at the IEEE threshold boundary") {
    // ADVICE r7 regression pin: with t = 0.9 and |A| = 10 shingles, the
    // product t*|A| evaluates to 9.000000000000002 in IEEE — ceil() of it
    // is 10, which would shrink the pigeonhole prefix to ONE element and
    // can drop a pair sitting exactly AT the threshold (containment 9/10).
    // The floor() form keeps the byte-identical-to-naive contract. Each
    // variant below differs from its base in exactly the final token, so
    // exactly one 3-shingle differs: containment = 0.9 precisely.
    val s = spark
    import s.implicits._
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
      .split(" ")
    require(words.length == 12) // 12 tokens -> 10 3-shingles
    val bases = (0 until 8).map { i =>
      (i.toLong, words.map(w => s"$w$i").mkString(" "))
    }
    val variants = bases.map { case (id, text) =>
      val t = text.split(" ")
      (id + 100L, (t.dropRight(1) :+ "CHANGED").mkString(" "))
    }
    val left = variants.toDF("id", "body")
    val right = bases.toDF("id", "body")
    val got = TextDedup.containmentJoin(left, right, "id", "body",
        threshold = 0.9)
      .select(col("left_id"), col("right_id"), col("cont"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // naive quadratic reference: every (variant, base) pair scored exactly
    val lsets = TextDedup.hashedShingleSets(left, "id", "body", 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val rsets = TextDedup.hashedShingleSets(right, "id", "body", 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val want = (for {
      (lid, ls) <- lsets.toSeq; (rid, rs) <- rsets.toSeq
      cont = (ls intersect rs).size.toDouble / ls.size
      if cont >= 0.9 && lid != rid
    } yield (lid, rid, math.rint(cont * 1e6) / 1e6)).toSet
    assert(want.nonEmpty && want.forall(_._3 == 0.9),
      "fixture must sit exactly at the threshold")
    assert(got == want,
      s"containmentJoin diverged from naive at the boundary: got=$got want=$want")
  }

  test("salted jaccardJoin returns exactly the unsalted result on a hot shingle") {
    val s = spark
    import s.implicits._
    // every doc starts with the same 3 tokens, so one shingle hash is in
    // every prefix — the Zipfian hot-key shape that skews the candidate
    // join. Docs 0..19 are the corpus; 100.. are near-dup variants of the
    // even docs (last token dropped).
    val base = (0 until 20).map { i =>
      (i.toLong, s"common stop words doc$i payload$i extra$i tail$i end$i")
    }
    val variants = base.collect { case (i, t) if i % 2 == 0 =>
      (100L + i, t.split(" ").dropRight(1).mkString(" "))
    }
    val docs = (base ++ variants).toDF("id", "body")
    val left = docs.filter(col("id") >= 100L)
    val right = docs.filter(col("id") < 100L)
    def run(salt: Int, hotDf: Long) =
      TextDedup.jaccardJoin(left, right, "id", "body", threshold = 0.6,
          saltFactor = salt, hotDf = hotDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val unsalted = run(salt = 1, hotDf = Long.MaxValue)
    val salted = run(salt = 4, hotDf = 5) // "common stop words" df=20 > 5
    assert(salted == unsalted, "salting changed the join result")
    // and the planted variant pairs are actually in there
    (0 until 20 by 2).foreach { i =>
      assert(unsalted.exists(p => p._1 == 100L + i && p._2 == i),
        s"missing planted pair for doc $i")
    }
  }

  test("jaccardJoinSplit / containmentJoinSplit equal the two-frame forms") {
    val s = spark
    import s.implicits._
    val base = (0 until 20).map { i =>
      (i.toLong, s"common stop words doc$i payload$i extra$i tail$i end$i")
    }
    val variants = base.collect { case (i, t) if i % 2 == 0 =>
      (100L + i, t.split(" ").dropRight(1).mkString(" "))
    }
    val docs = (base ++ variants).toDF("id", "body")
    val left = docs.filter(col("id") >= 100L)
    val right = docs.filter(col("id") < 100L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val jTwo = rows(TextDedup.jaccardJoin(left, right, "id", "body", 0.6))
    val jSplit = rows(TextDedup.jaccardJoinSplit(docs, "id", "body",
      col("id") >= 100L, 0.6))
    assert(jSplit == jTwo && jTwo.nonEmpty,
      s"jaccardJoinSplit diverged: split=$jSplit two=$jTwo")
    val cTwo = rows(TextDedup.containmentJoin(left, right, "id", "body", 0.8))
    val cSplit = rows(TextDedup.containmentJoinSplit(docs, "id", "body",
      col("id") >= 100L, 0.8))
    assert(cSplit == cTwo && cTwo.nonEmpty,
      s"containmentJoinSplit diverged: split=$cSplit two=$cTwo")
  }

  test("winnowing guarantee: docs sharing a long substring share a fingerprint") {
    val s = spark
    import s.implicits._
    val shared = "zqxwvyjkpbdfghmn_common_block_zzqqxxwwvv" // 40 chars
    val docs = Seq(
      (1L, s"aaaa bbbb cccc $shared dddd eeee ffff gggg hhhh"),
      (2L, s"1111 2222 3333 4444 $shared 5555 6666 7777"),
      (3L, "totally unrelated content with no overlap at all whatsoever")
    ).toDF("id", "body")
    // k=8, w=16: any common substring of length >= 23 must share a hash
    val fp = TextDedup.winnowFingerprints(docs, "id", "body", k = 8, w = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty,
      "40-char shared block produced no common fingerprint")
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty,
      "unrelated docs should not collide at this size")
  }

  test("winnowPairs finds shared-span pairs and the df cap drops boilerplate") {
    val s = spark
    import s.implicits._
    val shared = "zqxwvyjkpbdfghmn_common_block_zzqqxxwwvv" // 40 chars
    val boiler = "GENERIC_LICENSE_HEADER_BOILERPLATE_TEXT_COMMON_TO_ALL"
    val docs = Seq(
      (1L, s"$boiler aaaa bbbb cccc $shared dddd eeee ffff gggg hhhh"),
      (2L, s"$boiler 1111 2222 3333 4444 $shared 5555 6666 7777"),
      (3L, s"$boiler totally unrelated content with no overlap whatsoever"),
      (4L, s"$boiler other words that repeat nothing from the others here"),
      (5L, s"$boiler yet more filler prose sharing only the header block")
    ).toDF("id", "body")
    // maxDf=2: the 5-doc boilerplate hashes are dropped, the 2-doc shared
    // block survives — only (1,2) pairs, via the shared block's hashes
    val pairs = TextDedup.winnowPairs(docs, "id", "body",
        k = 8, w = 16, minShared = 1, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)),
      s"expected exactly the shared-block pair, got $pairs")
    // without the df cap the boilerplate connects everything to everything
    val all = TextDedup.winnowPairs(docs, "id", "body",
        k = 8, w = 16, minShared = 1, maxDf = Long.MaxValue)
      .count()
    assert(all == 10, s"uncapped header should pair all 5 docs, got $all")
  }

  test("ZOrder.zval matches a bit-by-bit reference Morton interleave") {
    import graft.api.ZOrder
    val s = spark
    import s.implicits._
    // reference: bit i of a -> position 2i, bit i of b -> position 2i+1
    def ref(a: Int, b: Int): Long =
      (0 until 16).map { i =>
        (((a >> i) & 1).toLong << (2 * i)) |
          (((b >> i) & 1).toLong << (2 * i + 1))
      }.reduce(_ | _)
    val samples = Seq((0, 0), (1, 0), (0, 1), (65535, 0), (0, 65535),
      (65535, 65535), (12345, 54321), (40000, 1), (255, 256), (43690, 21845))
    val got = samples.toDF("a", "b")
      .select(col("a"), col("b"),
        ZOrder.zval(col("a").cast("long"), col("b").cast("long")).as("z"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    samples.foreach { case (a, b) =>
      assert(got((a, b)) == ref(a, b),
        s"zval($a, $b) = ${got((a, b))}, reference ${ref(a, b)}")
    }
    // normalize: endpoints map to 0 and 65535, midpoint to the floor rank
    val n = Seq((0L, 0L, 100L), (100L, 0L, 100L), (50L, 0L, 100L), (7L, 7L, 7L))
      .toDF("v", "lo", "hi")
      .select(ZOrder.normalize(col("v"), col("lo"), col("hi")).as("r"))
      .collect().map(_.getLong(0))
    assert(n.sameElements(Array(0L, 65535L, 65535L * 50 / 100, 0L)))
  }

  test("VectorSearch.blockedThresholdJoin finds co-cell pairs on an ad-hoc table") {
    val s = spark
    import s.implicits._
    def f(xs: Double*) = xs.map(_.toFloat)
    // two well-separated directions; centroids near each
    val corpus = Seq(
      (1L, f(1, 0, 0)), (2L, f(0.99, 0.01, 0)),   // cluster A
      (3L, f(0, 1, 0)), (4L, f(0.01, 0.99, 0))    // cluster B
    ).toDF("vid", "v").select(col("vid"), col("v").cast("array<float>").as("v"))
    val probes = Seq(
      (10L, f(0.995, 0.005, 0)),  // near cluster A
      (11L, f(0, 0.9, 0.1))       // near cluster B
    ).toDF("vid", "v").select(col("vid"), col("v").cast("array<float>").as("v"))
    val cents = Seq((100L, f(1, 0, 0)), (200L, f(0, 1, 0)))
      .toDF("vid", "v").select(col("vid"), col("v").cast("array<float>").as("v"))
    val out = VectorSearch.blockedThresholdJoin(probes, corpus, cents,
        "vid", "v", minCos = 0.9, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probe 10 blocks to cell 100 → pairs with 1 and 2; probe 11 to cell
    // 200 → pairs with 3 and 4; cross-cluster cosines < 0.9 are excluded
    // by the verify even where cells collide
    assert(out == Set((10L, 1L), (10L, 2L), (11L, 3L), (11L, 4L)))
  }

  test("thresholdJoin enforces its bounded-left contract") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f))
    ).toDF("vid", "v").select(col("vid"), col("v").cast("array<float>").as("v"))
    // within the bound: works
    val ok = VectorSearch.thresholdJoin(vecs.filter(col("vid") === 1L), vecs,
      "vid", "v", minCos = 0.9)
    assert(ok.collect().map(_.getLong(1)).toSet == Set(1L, 2L))
    // over the bound: refuses the all-pairs plan instead of running it
    val e = intercept[IllegalArgumentException] {
      VectorSearch.thresholdJoin(vecs, vecs, "vid", "v", minCos = 0.9,
        maxLeftRows = 2L)
    }
    assert(e.getMessage.contains("blockedThresholdJoin"))
  }

  test("VectorSearch.topK ranks an ad-hoc vector table") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f))
    ).toDF("vid", "v").select(col("vid"), col("v").cast("array<float>").as("v"))
    val out = VectorSearch.topK(vecs.filter(col("vid") === 1L), vecs,
        "vid", "v", k = 2)
      .orderBy("rnk").collect().map(_.getLong(2))
    assert(out.toSeq == Seq(2L, 3L)) // nearest first
  }

  test("TopKAgg equals the row_number window form, at any partitioning") {
    import org.apache.spark.sql.expressions.Window
    val orders = graft.core.Tables(spark, sf0001, "orders")
      // many small partitions force real partial-buffer merges
      .repartition(13)
    val viaAgg = orders
      .groupBy(col("o_custkey"))
      .agg(graft.expr.TopKAgg.topk(3)(col("o_totalprice"), col("o_orderkey"))
        .as("tk"))
      .select(col("o_custkey"), posexplode(col("tk")))
      .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rnk"),
        col("col._2").as("okey"), col("col._1").as("price"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val viaWindow = orders
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("rnk"),
        col("o_orderkey").as("okey"), col("o_totalprice").as("price"))
    val a = viaAgg.orderBy("o_custkey", "rnk").collect().map(_.toSeq)
    val b = viaWindow.orderBy("o_custkey", "rnk").collect().map(_.toSeq)
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x != $y") }
  }

  test("connectedComponents agrees across Local and Reliable checkpointing") {
    val s = spark
    import s.implicits._
    // chain 1-2-3-4 (min label 1), pair 10-11, self-contained pair 20-21
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (21L, 20L))
      .toDF("a", "b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L)
    def run(strategy: graft.api.CheckpointStrategy): Map[Long, Long] =
      TextDedup.connectedComponents(pairs, "a", "b", checkpoint = strategy)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(graft.api.CheckpointStrategy.Local) === expect)
    // Reliable requires a checkpoint dir (on a cluster: HDFS/S3); the
    // result must be identical — only the lineage-truncation medium moves
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    assert(run(graft.api.CheckpointStrategy.Reliable) === expect)
  }

  test("connectedComponents returns no rows for an empty pair frame") {
    val s = spark
    import s.implicits._
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(TextDedup.connectedComponents(pairs, "a", "b").collect().isEmpty)
  }

  test("connectedComponents handles ids whose sum passes Long.MaxValue") {
    val s = spark
    import s.implicits._
    // six ids near 4e18 sum to ~2.4e19: a BIGINT label sum would overflow
    val base = 4000000000000000000L
    val pairs = Seq((base + 1, base), (base + 2, base + 3), (base + 5, base + 4))
      .toDF("a", "b")
    val expect = (0L to 5L).map(i => (base + i) -> (base + i - i % 2)).toMap
    val out = TextDedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === expect)
  }

  test("pagerank and semantic dedup agree across Local and Reliable checkpointing") {
    // the round-6 gap: every iterative/reused-lineage op must take the
    // strategy dial, not hard-code localCheckpoint — on a cluster, Local
    // dies with the first preempted executor. Result parity across media
    // is the whole contract (the connectedComponents test's discipline).
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt7")
    spark.sparkContext.setCheckpointDir(dir.toString)
    def pr(cp: graft.api.CheckpointStrategy): Seq[Seq[Any]] =
      graft.ops.Graph.graphPagerank(cp)(spark, sf0001)
        .collect().toSeq.map(_.toSeq)
    assert(pr(graft.api.CheckpointStrategy.Local) ===
      pr(graft.api.CheckpointStrategy.Reliable))
    def sem(cp: graft.api.CheckpointStrategy): Seq[Seq[Any]] =
      graft.ops.LlmPipeline.dedupSemantic(cp)(spark, sf0001)
        .collect().toSeq.map(_.toSeq)
    assert(sem(graft.api.CheckpointStrategy.Local) ===
      sem(graft.api.CheckpointStrategy.Reliable))
  }

  test("Clustering.fit is partition-invariant and assigns every vector once") {
    val embs = graft.core.Tables(spark, sf0001, "embeddings")
    def labels(df: org.apache.spark.sql.DataFrame, iters: Int,
        checkpoint: Boolean = false) =
      graft.api.Clustering
        .fit(df, "vec_id", "embedding", k = 4, iters = iters,
          checkpoint = checkpoint)
        .select("vec_id", "cluster")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bit-reproducible under repartitioning — the integer-arithmetic claim
    val a = labels(embs, 2)
    val b = labels(embs.repartition(13), 2)
    assert(a == b, "assignment changed under a different input partitioning")
    // a partition of the corpus: every vector exactly once, labels ⊆ seeds
    val n = embs.count()
    assert(a.size.toLong == n)
    val seeds = embs.select("vec_id").orderBy("vec_id").limit(4)
      .collect().map(_.getLong(0)).toSet
    assert(a.values.toSet.subsetOf(seeds))
    // deep fit with lineage truncation still yields a full assignment
    // over the same label vocabulary
    val c = labels(embs, 3, checkpoint = true)
    assert(c.size.toLong == n && c.values.toSet.subsetOf(seeds))
  }

  test("TextQuality.gopherFlags flags an ad-hoc corpus with integer rules") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, ("the data value " * 10).trim),       // 30 tokens, passes
      (2L, "short doc"),                          // under the word floor
      (3L, ("12345 67890 " * 15).trim),           // all digits, no alpha
      (4L, ("zq " * 40).trim)                     // no stopword hit, wlen 2
    ).toDF("id", "text")
    val out = graft.api.TextQuality.gopherFlags(docs, "text",
      minWords = 20L).orderBy("id").collect()
    assert(out.map(r => r.getAs[Boolean]("pass")) sameElements
      Array(true, false, false, false))
    val r1 = out.head
    assert(r1.getAs[Long]("n_tok") == 30L && r1.getAs[Long]("stop_hits") > 0)
    assert(!out(1).getAs[Boolean]("f_words"), "doc 2 fails the word floor")
    assert(!out(2).getAs[Boolean]("f_alpha") || !out(2).getAs[Boolean]("f_digit"),
      "digit soup must fail an alpha/digit rule")
  }

  test("TextQuality.tokenProfile entropy extremes on an ad-hoc corpus") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a a a a"),          // zero entropy
      (2L, "w x y z")           // maximal: H = ln 4, normalized 1
    ).toDF("id", "text")
    val out = graft.api.TextQuality.tokenProfile(docs, "id", "text")
      .orderBy("id").collect()
    assert(out(0).getAs[Double]("entropy") == 0.0)
    assert(math.abs(out(1).getAs[Double]("entropy") - math.log(4.0)) < 1e-5)
    assert(math.abs(out(1).getAs[Double]("norm_entropy") - 1.0) < 1e-6)
  }

  test("TextQuality.burstiness and vocabCoverage on an ad-hoc corpus") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam eggs"),
      (2L, "eggs toast"),
      (3L, "eggs")
    ).toDF("id", "text")
    val b = graft.api.TextQuality.burstiness(docs, "id", "text", topK = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(b("spam") == ((4L, 1L, 4.0)), "4 occurrences in 1 doc -> burst 4")
    assert(b("eggs") == ((3L, 3L, 1.0)), "once per doc -> burst 1")
    val cov = graft.api.TextQuality.vocabCoverage(docs, "text",
      bands = Seq(1L, 2L)).orderBy("band").collect()
    // 8 tokens total; top-1 = spam (4), top-2 adds eggs (3) -> 7/8
    assert(cov(0).getAs[Double]("coverage") == 0.5)
    assert(cov(1).getAs[Double]("coverage") == 0.875)
    assert(cov(0).getAs[Long]("n_vocab") == 3L)
  }
}
