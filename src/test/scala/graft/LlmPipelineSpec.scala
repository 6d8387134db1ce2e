package graft

import org.apache.spark.sql.functions._

import graft.ops.LlmPipeline

/** LLM-pipeline operator invariants on sf0.001 — beyond the DuckDB oracle
  * (which pins exact values), these pin the *semantics*: planted duplicates
  * are found, candidate generation is a superset of the truth, ANN recall
  * is sane. */
class LlmPipelineSpec extends SparkSpecBase {

  test("dedup_exact groups every planted exact-duplicate with its source") {
    val out = SparkEntry.queries("dedup_exact")(spark, sf0001)
    // planted: doc_id%10==0 re-appears at +100000 normalized-identical
    val dupGroups = out.filter(col("n_copies") >= 2)
    val keptIds = dupGroups.select("kept_id").collect().map(_.getLong(0))
    assert(keptIds.nonEmpty)
    // kept id is always the ORIGINAL (min) doc, never the variant
    assert(keptIds.forall(_ < 100000L))
    // every doc_id%10==0 source formed a duplicate group
    val sources = graft.core.Tables(spark, sf0001, "documents")
      .filter(col("doc_id") % 10 === 0).count()
    assert(dupGroups.count() == sources)
  }

  test("dedup_near finds every planted near-duplicate pair (prefix filter is exact)") {
    val out = LlmPipeline.dedupNear(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // planted: doc_id%7==0 re-appears at +200000 with last 2 tokens dropped
    // → Jaccard well above 0.7 for ~100-token docs; each variant must match
    // its own source
    val sources = graft.core.Tables(spark, sf0001, "documents")
      .filter(col("doc_id") % 7 === 0)
      .select("doc_id").collect().map(_.getLong(0))
    sources.foreach { id =>
      assert(out.contains((id + 200000L, id)), s"missing planted pair for doc $id")
    }
  }

  test("minhash-LSH candidates verify to a subset of exact near-dup truth") {
    val mh = LlmPipeline.dedupMinhash(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every reported pair passed the exact >= 0.7 verify, so reported
    // pairs are true near-dups by construction; check the planted
    // variant↔source pairs are recalled (J≈0.98 → band-hit probability
    // ~1-(1-0.98^4)^8 ≈ 1-1e-9)
    val sources = graft.core.Tables(spark, sf0001, "documents")
      .filter(col("doc_id") % 7 === 0)
      .select("doc_id").collect().map(_.getLong(0))
    sources.foreach { id =>
      assert(mh.contains((id, id + 200000L)) || mh.contains((id + 200000L, id)),
        s"LSH failed to recall planted pair for doc $id")
    }
  }

  test("dedup_cluster: every planted variant clusters under its source doc") {
    val clusters = LlmPipeline.dedupCluster(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sources = graft.core.Tables(spark, sf0001, "documents")
      .filter(col("doc_id") % 7 === 0)
      .select("doc_id").collect().map(_.getLong(0))
    sources.foreach { id =>
      // variant id+200000 and source id are in the same component, whose
      // representative is the (smaller) source id itself
      assert(clusters.get(id + 200000L).contains(clusters(id)),
        s"variant of $id not in its source's cluster")
      assert(clusters(id) <= id, "representative must be the component min")
    }
    // components never mix two different sources
    assert(clusters.values.toSet.size >= sources.length / 2,
      "suspiciously few clusters — over-merging")
  }

  test("sim_topk: self-similar planted probe ranks first; cosine descending per probe") {
    val rows = LlmPipeline.simTopk(spark, sf0001).collect()
    val byProbe = rows.groupBy(_.getLong(0))
    byProbe.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      val cosines = sorted.map(_.getDouble(3))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b },
        "cosine not descending with rank")
      assert(cosines.forall(c => c >= -1.0 && c <= 1.0))
    }
    assert(byProbe.keySet == (0L until 10L).toSet)
  }

  test("dedup_embed (cell-blocked) recalls every planted embedding variant") {
    val out = LlmPipeline.dedupEmbed(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // planted: vec_id%10==0 re-appears at +10000 scaled by 1.5 — cosine 1
    // up to float rounding, so variant and base share a nearest centroid
    // cell and the blocked join must keep every planted pair (recall 1.0)
    val sources = graft.core.Tables(spark, sf0001, "embeddings")
      .filter(col("vec_id") % 10 === 0)
      .select("vec_id").collect().map(_.getLong(0))
    assert(sources.nonEmpty)
    sources.foreach { id =>
      assert(out.contains((id + 10000L, id)),
        s"blocked threshold join lost planted variant of vec $id")
    }
  }

  test("dedup_embed_lsh (sign-LSH) recalls every planted embedding variant") {
    val out = LlmPipeline.dedupEmbedLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // a 1.5x-scaled copy keeps every rounded dot-product sign (θ≈0 →
    // bit-flip probability θ/π ≈ 0), so variant and base produce the SAME
    // 12-bit signature and collide in all 3 bands — recall must be 1.0
    val sources = graft.core.Tables(spark, sf0001, "embeddings")
      .filter(col("vec_id") % 10 === 0)
      .select("vec_id").collect().map(_.getLong(0))
    assert(sources.nonEmpty)
    sources.foreach { id =>
      assert(out.contains((id + 10000L, id)),
        s"sign-LSH join lost planted variant of vec $id")
    }
    // and the band blocking did real work: candidate pairs stay far below
    // the all-pairs count (|vars| x |base|)
    val nVars = sources.length
    val nBase = graft.core.Tables(spark, sf0001, "embeddings").count()
    assert(out.size < nVars * nBase,
      "sign-LSH result as large as all-pairs — blocking inert?")
  }

  test("IVF top-k has high recall vs brute force on its probes") {
    val exact = LlmPipeline.simTopk(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = LlmPipeline.simTopkIvf(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    // nprobe=3 of 10 cells; exact-k recall is data-dependent but must be
    // well above chance (0.3) — regression-guards the cell routing
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  test("text_tokens: regex token count never exceeds whitespace+1 bound and bpe >= re") {
    SparkEntry.queries("text_tokens")(spark, sf0001).collect().foreach { r =>
      val (ws, re, bpe) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(re <= ws, "more regex words than whitespace tokens in word-soup corpus")
      assert(bpe >= re, "bounded-chunk pieces must be >= whole-word matches")
    }
  }

  test("text_quality score stays in [0,1]") {
    LlmPipeline.textQuality(spark, sf0001).collect().foreach { r =>
      val score = r.getDouble(4)
      assert(score >= 0.0 && score <= 1.0, s"score $score out of range")
    }
  }

  test("sim_knn_join: k rows per probe, high recall vs exact brute force") {
    val knn = LlmPipeline.simKnnJoin(spark, sf0001).collect()
    // exactly k=3 neighbours per vector, ranks 1..3, never self
    knn.groupBy(_.getLong(0)).foreach { case (pid, rs) =>
      assert(rs.length == 3, s"probe $pid has ${rs.length} neighbours")
      assert(rs.map(_.getLong(1)).sorted.sameElements(Array(1L, 2L, 3L)))
      assert(rs.forall(_.getLong(2) != pid), s"probe $pid matched itself")
    }
    // recall against the exact brute-force top-3 over the same corpus
    val e = graft.core.Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val exact = graft.api.VectorSearch.topK(e, e, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = knn.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.5, s"kNN-join recall $recall too low")
  }

  test("dedup_contaminate flags planted variants and only them") {
    val out = LlmPipeline.dedupContaminate(spark, sf0001).collect()
    val flagged = out.map(_.getLong(0)).toSet
    // only shard docs (planted variants) can be flagged
    assert(flagged.forall(_ >= 100000L))
    out.foreach { r =>
      assert(r.getLong(1) >= 1, "contaminated doc with zero gram hits")
      assert(r.getLong(2) >= 1, "contaminated doc with zero eval docs")
    }
    // every exact variant of a benchmark doc with >= 13 tokens must be hit
    // (normalization makes it token-identical to its eval source)
    val docs = graft.core.Tables(spark, sf0001, "documents")
      .filter(col("doc_id") % 10 === 0 &&
        size(split(col("text"), " ")) >= 13)
      .select("doc_id").collect().map(_.getLong(0))
    docs.foreach { id =>
      assert(flagged.contains(id + 100000L),
        s"exact variant of benchmark doc $id escaped decontamination")
    }
  }

  test("text_pii: planted PII is counted and fully redacted") {
    val out = SparkEntry.queries("text_pii")(spark, sf0001).collect()
    out.foreach { r =>
      val (id, emails, ips, phones, red) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      assert(emails == (if (id % 3 == 0) 1 else 0), s"doc $id email count")
      assert(ips == (if (id % 4 == 0) 1 else 0), s"doc $id ip count")
      assert(phones == (if (id % 5 == 0) 1 else 0), s"doc $id phone count")
      assert(!red.contains("@example.com"), s"doc $id leaked an email")
      assert(!red.contains(" from 10."), s"doc $id leaked an IP")
      assert(!red.contains(" call 555-"), s"doc $id leaked a phone")
      if (id % 3 == 0) assert(red.contains("<EMAIL>"))
      if (id % 4 == 0) assert(red.contains("<IP>"))
      if (id % 5 == 0) assert(red.contains("<PHONE>"))
    }
  }

  test("text_fingerprint: exactly ≤8 ascending hashes per doc") {
    val rows = LlmPipeline.textFingerprint(spark, sf0001).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val hv = rs.sortBy(_.getLong(1)).map(_.getLong(2))
      assert(hv.length <= 8)
      assert(hv.zip(hv.tail).forall { case (a, b) => a < b },
        "bottom-k sketch not strictly ascending")
    }
  }
}
