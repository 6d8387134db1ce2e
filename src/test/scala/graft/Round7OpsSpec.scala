package graft

import org.apache.spark.sql.functions._

import graft.ops.{Advanced, LlmPipeline, Multimodal}

/** Property-level assertions for the round-7 operator additions — the
  * invariants the DuckDB oracle's value equality does NOT directly state
  * (planted-variant recall, internal consistency, bound properties),
  * asserted on the harness data at sf0.001. */
class Round7OpsSpec extends SparkSpecBase {

  test("dedup_semantic: every planted scaled variant clusters with its base") {
    // vecCorpus plants vec_id+10000 as a 1.5x scaled copy (cosine ~ 1);
    // each such pair MUST land in one component, rooted at the base id
    val rows = LlmPipeline.dedupSemantic()(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val variants = rows.keys.filter(_ >= 10000L)
    assert(variants.nonEmpty, "no planted variants entered the kNN graph")
    variants.foreach { v =>
      assert(rows(v) <= v - 10000L,
        s"variant $v rooted at ${rows(v)} — not merged with its base ${v - 10000L}")
    }
  }

  test("mm_shard_read: the byte verify holds for every shard (lossless loop)") {
    val rows = Multimodal.mmShardRead(spark, sf0001)
      .select(col("n_docs"), col("n_matched")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
      "a shard failed the byte-lossless readback"))
  }

  test("dedup_bloom: every uppercased exact variant resolves to its base") {
    // corpus plants doc_id+100000 = upper(text)+'  ' for doc_id%10==0:
    // normalization (lower/trim) makes them exact — bloom+verify must
    // return base_id = doc_id-100000 for each (min over 1 matching base)
    val got = LlmPipeline.dedupBloom(spark, sf0001)
      .filter(col("doc_id") < 200000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = graft.core.Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 10 === 0).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty)
    expected.foreach { base =>
      assert(got.get(base + 100000L).contains(base),
        s"planted exact variant ${base + 100000L} did not resolve to $base")
    }
  }

  test("dedup_url: canonical groups partition the corpus; variants collapse") {
    val df = SparkEntry.queries("dedup_url")(spark, sf0001)
    val total = df.agg(sum(col("n_docs"))).head.getLong(0)
    val nDocs = graft.core.Tables.documents(spark, sf0001).count()
    assert(total == nDocs, "canonicalization must partition, not drop, docs")
    // decorations vary within a group, so somewhere variants > 1 collapse
    assert(df.filter(col("n_variants") > 1).count() > 0,
      "no group collapsed multiple raw variants — the canonicalizer is inert")
    // every canonical form is fully normalized: no tracking params, no
    // fragment, no default port, no www, no trailing slash, lowercase
    val badCanon = df.filter(
      col("curl").contains("utm_") || col("curl").contains("#") ||
        col("curl").contains(":443") || col("curl").contains("://www.") ||
        col("curl").endsWith("/") || col("curl") =!= lower(col("curl"))).count()
    assert(badCanon == 0, "a canonical URL kept noise it should strip")
  }

  test("text_quality_lr: keep is exactly the sign of the unrounded margin") {
    val rows = SparkEntry.queries("text_quality_lr")(spark, sf0001)
      .select(col("z"), col("p_keep"), col("keep")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (z, p, keep) = (r.getDouble(0), r.getDouble(1), r.getBoolean(2))
      assert(p > 0.0 && p < 1.0, s"sigmoid out of range: $p")
      // rounded z only disagrees with the unrounded margin within 5e-7 of 0
      if (math.abs(z) > 1e-6)
        assert(keep == (z > 0), s"keep flag diverges from margin at z=$z")
    }
  }

  test("embed_matryoshka: agreement flags are consistent; prefix can only dissent") {
    val rows = LlmPipeline.embedMatryoshka(spark, sf0001)
      .select(col("top1_16"), col("top1_32"), col("top1_64"),
        col("agree_16"), col("agree_32")).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getBoolean(3) == (r.getLong(0) == r.getLong(2)))
      assert(r.getBoolean(4) == (r.getLong(1) == r.getLong(2)))
    }
  }

  test("events_cohort: offsets are non-negative and cohort cell 0 is the cohort size") {
    val df = Advanced.eventsCohort(spark, sf0001)
    assert(df.filter(col("week_offset") < 0).count() == 0,
      "no activity can precede a user's first event")
    // offset-0 cell counts every cohort member (each user is active in
    // their own first week by definition)
    val cohortSizes = graft.core.Tables.events(spark, sf0001)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("fd"))
      .select(date_trunc("week", col("fd")).cast("date").as("cw"))
      .groupBy(col("cw")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val zeroCells = df.filter(col("week_offset") === 0)
      .collect().map(r => r.get(0).toString -> r.getLong(2)).toMap
    assert(zeroCells == cohortSizes,
      "offset-0 column must equal the cohort sizes")
  }

  test("sim_recall_audit: recall bounded, n_hit <= n_exact, 10 probes") {
    val rows = LlmPipeline.simRecallAudit(spark, sf0001)
      .select(col("n_exact"), col("n_hit"), col("recall")).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(0) == 5L, "exact top-5 must yield 5 rows per probe")
      assert(r.getLong(1) <= r.getLong(0))
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    }
    // the IVF routing must be USEFUL on the harness corpus, not inert
    // (mean recall at sf0.001: 10 cells, nprobe 3 → exactly 0.5)
    assert(rows.map(_.getLong(1)).sum >= 25L,
      "IVF recall collapsed below 0.5 — cell routing is broken")
  }

  test("dedup_report: every cluster keeps exactly one representative") {
    val rows = LlmPipeline.dedupReport(spark, sf0001)
      .select(col("n_docs"), col("n_dropped"), col("bytes_dropped"),
        col("bytes_total"), col("savings_pct")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) - r.getLong(1) == 1L, "kept != 1 per cluster")
      assert(r.getLong(2) < r.getLong(3), "cannot drop every byte")
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) < 1.0)
    }
  }

  test("mm_audio_feats: rms^2 == energy/4 and zcr bounded by frame size") {
    val rows = Multimodal.mmAudioFeats(spark, sf0001)
      .select(col("energy"), col("rms"), col("zcr"), col("active")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (e, rms, zcr) = (r.getLong(0), r.getDouble(1), r.getLong(2))
      assert(e >= 0 && zcr >= 0 && zcr <= 3)
      assert(math.abs(rms * rms - e / 4.0) < 1e-3,
        s"rms $rms inconsistent with energy $e")
      assert(r.getBoolean(3) == (e >= 21844L))
    }
  }

  test("sample_split: fates are stable under corpus growth and partition all docs") {
    val s = spark
    val full = LlmPipeline.sampleSplit(spark, sf0001)
      .agg(sum(col("n_docs"))).head.getLong(0)
    assert(full == graft.core.Tables.documents(spark, sf0001).count(),
      "split manifest must account for every doc exactly once")
    // append-stability: the fate of doc 0..N/2 must not change when the
    // rest of the corpus arrives — recompute the gate on a half-corpus
    // prefix and compare the same docs' fates in the full corpus
    def fates(df: org.apache.spark.sql.DataFrame): Map[Long, String] = {
      val bucket = graft.api.TextDedup
        .h48(concat(lit("split:"), col("doc_id").cast("string"))) % 250L
      df.select(col("doc_id"),
          when(bucket === 0L, "val").when(bucket === 1L, "test")
            .otherwise("train").as("f"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val docs = graft.core.Tables.documents(spark, sf0001)
    val half = fates(docs.filter(col("doc_id") < 250L))
    val fullF = fates(docs)
    half.foreach { case (id, f) =>
      assert(fullF(id) == f, s"doc $id changed split on corpus growth")
    }
  }

  test("text_oov_rate: rates bounded and in-vocab docs score 0") {
    val rows = LlmPipeline.textOovRate(spark, sf0001)
      .select(col("n_tokens"), col("n_oov"), col("oov_rate")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(0))
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    }
  }

  test("events_features: conditional counts sum under the total, span positive") {
    val rows = Advanced.eventsFeatures(spark, sf0001)
      .select(col("n_events"), col("n_purchases"), col("n_views"),
        col("n_errors"), col("recency_days"), col("span_days")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) + r.getLong(3) <= r.getLong(0))
      assert(r.getLong(4) >= 0 && r.getLong(5) >= 1)
    }
  }

  test("mm_scene_detect: scene count is 1 + boundary count, first_cut consistent") {
    val rows = Multimodal.mmSceneDetect(spark, sf0001)
      .select(col("n_scenes"), col("first_cut"), col("max_delta")).collect()
    assert(rows.nonEmpty)
    // both classes must occur on the harness corpus or the threshold is inert
    assert(rows.exists(_.getLong(0) > 1) && rows.exists(_.getLong(0) == 1))
    rows.foreach { r =>
      val (n, fc, mx) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(n >= 1 && n <= 4 && fc >= 0 && fc <= 3)
      assert((n > 1) == (fc > 0), "multi-scene iff a first cut exists")
      assert((n > 1) == (mx > 200), "boundaries exist iff a delta crossed 200")
    }
  }
}
