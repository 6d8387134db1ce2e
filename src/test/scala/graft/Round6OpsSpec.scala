package graft

import org.apache.spark.sql.functions._

import graft.ops.{Advanced, Functions, Graph, LlmPipeline, Multimodal, Relational,
  Sources, Streaming}

/** Property-level assertions for the round-6 operator additions — the
  * invariants the DuckDB oracle's value equality does NOT directly state
  * (planted-variant recall, bound/monotonicity properties, flag
  * consistency), asserted on the harness data at sf0.001. */
class Round6OpsSpec extends SparkSpecBase {

  test("dedup_para: planted truncated variants score dup_frac 1.0") {
    val rows = LlmPipeline.dedupPara(spark, sf0001)
      .filter(col("doc_id") >= 200000L && col("doc_id") < 300000L)
      .select(col("dup_frac")).collect()
    assert(rows.nonEmpty, "no planted near-dup variants scored")
    assert(rows.forall(_.getDouble(0) == 1.0),
      "a truncated variant shares every full segment with its base — frac must be 1.0")
  }

  test("text_perplexity: keep flag is exactly the rounded-ppl cutoff test") {
    val rows = LlmPipeline.textPerplexity(spark, sf0001)
      .select(col("ppl"), col("keep")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(1) == (r.getDouble(0) <= 21.1),
        s"keep flag diverges from the cutoff at ppl=${r.getDouble(0)}")
    }
  }

  test("embed_centroid: outlier is a member of its own label") {
    val cents = LlmPipeline.embedCentroid(spark, sf0001)
    val bad = cents.as("c").join(
        graft.core.Tables.embeddings(spark, sf0001).as("e"),
        col("c.outlier_vec_id") === col("e.vec_id") &&
          col("c.label") =!= col("e.label"))
      .count()
    assert(bad == 0, "an outlier vec was attributed to a foreign label")
    assert(cents.filter(col("outlier_dist") < 0).count() == 0)
  }

  test("embed_pq: codebook seed vectors encode to themselves with zero RMSE") {
    val rows = LlmPipeline.embedPq(spark, sf0001)
      .filter(col("vec_id") < 4)
      .select(col("vec_id"), col("c0"), col("c1"), col("c2"), col("c3"),
        col("rmse")).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(Seq(1, 2, 3, 4).map(r.getLong) == Seq(id, id, id, id),
        s"seed $id did not encode to its own codeword")
      assert(r.getDouble(5) == 0.0, s"seed $id has nonzero RMSE")
    }
  }

  test("sim_maxsim: scores are bounded by the query-set size") {
    val rows = LlmPipeline.simMaxsim(spark, sf0001)
      .select(col("n_q"), col("maxsim")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) == 4L)
      assert(math.abs(r.getDouble(1)) <= 4.000001,
        "|Σ max cos| cannot exceed the number of query vectors")
    }
  }

  test("graph_jaccard: scores in (0, 1], canonical pair order, support >= 1") {
    val rows = Graph.graphJaccard()(spark, sf0001)
      .select(col("pa"), col("pb"), col("t"), col("jaccard")).collect()
    assert(rows.nonEmpty, "co-purchase graph produced no scored edges")
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pair not in canonical order")
      assert(r.getLong(2) >= 1L)
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("mm_dedup: every planted perturbed image pairs with its base") {
    val pairs = Multimodal.mmDedup(spark, sf0001)
      .filter(col("b") - col("a") === 500000L).count()
    val planted = graft.core.Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 9 === 0).count()
    assert(pairs == planted,
      s"expected all $planted planted variants recovered, got $pairs")
  }

  test("merge_mor: deletes win over updates on the overlap keys") {
    val out = Sources.mergeMor(spark, sf0001)
    assert(out.filter(col("o_orderkey") % 53 === 0).count() == 0,
      "a deleted key survived the merge-on-read scan")
    assert(out.filter(col("o_orderkey") % 41 === 0 &&
        col("o_orderstatus") =!= "M").count() == 0,
      "an updated key kept its pre-delta status")
  }

  test("merge_cdc: the %186 delete-then-reinsert keys are resurrected") {
    val out = Sources.mergeCdc(spark, sf0001)
    val resurrected = out.filter(col("o_orderkey") % 186 === 0)
    // sf0.001 may not contain a %186 key; the invariant is conditional
    resurrected.collect().foreach { r =>
      assert(r.getAs[String]("o_orderstatus") == "R" &&
        r.getAs[Long]("seq") == 3L,
        "a delete-then-reinsert key did not resurrect at seq 3")
    }
    assert(out.filter(col("o_orderkey") % 62 === 0 &&
        col("o_orderkey") % 93 =!= 0).count() == 0,
      "a deleted (non-reinserted) key survived the CDC replay")
  }

  test("meta_time_travel: v1 grows by exactly the insert batch") {
    val rows = Sources.metaTimeTravel(spark, sf0001)
      .orderBy(col("version")).collect()
    assert(rows.length == 2)
    val inserts = graft.core.Tables.orders(spark, sf0001)
      .filter(col("o_orderkey") % 71 === 0).count()
    assert(rows(1).getAs[Long]("n_rows") -
      rows(0).getAs[Long]("n_rows") == inserts,
      "version 1 row count != version 0 + insert batch")
  }

  test("sink_compaction: the manifest ties out against the source slice") {
    val r = Sources.sinkCompaction(spark, sf0001).collect().head
    assert(r.getAs[Long]("files_before") == 64L)
    assert(r.getAs[Long]("files_after") == 4L)
    val expect = graft.core.Tables.lineitem(spark, sf0001)
      .filter(col("l_orderkey") % 3 === 0).count()
    assert(r.getAs[Long]("n_rows") == expect)
  }

  test("constraint_fk: orphan counts equal the planted slices exactly") {
    val rows = Relational.constraintFk(spark, sf0001)
      .orderBy(col("fk_edge")).collect()
    val li = graft.core.Tables.lineitem(spark, sf0001)
      .filter(col("l_orderkey") % 101 === 0).count()
    val o = graft.core.Tables.orders(spark, sf0001)
      .filter(col("o_orderkey") % 97 === 0).count()
    assert(rows(0).getAs[Long]("n_orphan") == li)
    assert(rows(1).getAs[Long]("n_orphan") == o)
  }

  test("fn_mask: redaction preserves length, pseudonyms stay joinable") {
    val base = graft.core.Tables.customer(spark, sf0001)
      .filter(col("c_custkey") % 7 === 0)
    val out = Functions.fnMask(spark, sf0001)
    assert(out.count() == base.count())
    assert(out.select(countDistinct(col("pseudo_key"))).collect()
      .head.getLong(0) == base.count(),
      "pseudonym collisions would break masked-table joins")
    val badLen = out.join(base,
        out("pseudo_key") ===
          graft.expr.Md5Prefix48.md548(base("c_custkey").cast("string")))
      .filter(length(out("masked_name")) =!= length(base("c_name")))
      .count()
    assert(badLen == 0, "masking changed a name's length")
  }

  test("stream_late_audit: every late event trails the watermark by > 2h") {
    val rows = Streaming.streamLateAudit(spark, sf0001)
      .select(col("n"), col("n_late"), col("avg_late_minutes")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(0))
      if (r.getLong(1) > 0)
        assert(r.getDouble(2) > 120.0,
          "a flagged-late event cannot lag the watermark by under the allowance")
    }
  }

  test("dedup_incremental: pairs are strictly delta-vs-base and recover the planted batch") {
    val pairs = LlmPipeline.dedupIncremental(spark, sf0001).collect()
    assert(pairs.nonEmpty, "index probe found nothing")
    pairs.foreach { r =>
      assert(r.getAs[Long]("delta_id") >= 200000L &&
        r.getAs[Long]("base_id") < 200000L,
        "incremental dedup must never pair delta-with-delta or base-with-base")
      assert(r.getAs[Double]("jacc") >= 0.7)
    }
    val self = pairs.count(r =>
      r.getAs[Long]("delta_id") - 200000L == r.getAs[Long]("base_id"))
    val planted = graft.core.Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 7 === 0).count()
    assert(self >= (planted * 8) / 10,
      s"index probe recovered only $self of $planted planted variants")
  }

  test("sim_index_persist returns exactly the in-flight IVF routing's answer") {
    val viaIndex = LlmPipeline.simIndexPersist(spark, sf0001)
      .collect().map(_.toSeq)
    val inFlight = LlmPipeline.simTopkIvf(spark, sf0001)
      .collect().map(_.toSeq)
    assert(viaIndex.length == inFlight.length)
    viaIndex.zip(inFlight).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"row $i: persisted=$a in-flight=$b")
    }
  }

  test("agg_gini: coefficients stay in [0, 1)") {
    Advanced.aggGini(spark, sf0001).select(col("gini")).collect()
      .foreach(r => assert(r.getDouble(0) >= 0.0 && r.getDouble(0) < 1.0))
  }

  test("events_transition: 1-step rows sum to ~1 per from_type") {
    val rows = Advanced.eventsTransition(spark, sf0001)
      .groupBy(col("from_type")).agg(sum(col("p")).as("ps")).collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-4,
        s"row ${r.getString(0)} probabilities sum to ${r.getDouble(1)}")
    }
  }

  test("events_pattern: user counts bound match counts and the population") {
    val total = graft.core.Tables.events(spark, sf0001)
      .select(countDistinct(col("user_id"))).collect().head.getLong(0)
    Advanced.eventsPattern(spark, sf0001).collect().foreach { r =>
      val (users, matches) = (r.getAs[Long]("n_users"), r.getAs[Long]("n_matches"))
      assert(users <= total && matches >= users,
        "each matched user contributes at least one match")
    }
  }

  test("fn_try: quarantine flags exactly the unparseable variants") {
    val rows = Functions.fnTry(spark, sf0001)
      .select(col("c_custkey"), col("parsed"), col("quarantined")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getLong(0)
      val expectNull = k % 5 == 1 || k % 5 == 2 || k % 5 == 3
      assert(r.getBoolean(2) == expectNull,
        s"key $k quarantine flag wrong")
      assert(r.isNullAt(1) == expectNull, s"key $k parse result wrong")
    }
  }

  test("join_null_safe: the unattributed bucket is kept and plain-= drops it") {
    val rows = Relational.joinNullSafe(spark, sf0001).collect()
    val nullRow = rows.find(_.getString(0) == "unattributed")
    assert(nullRow.isDefined, "<=> must keep the NULL bucket")
    assert(nullRow.get.getAs[Long]("n") > 0)
    assert(nullRow.get.getAs[Long]("n_plain_eq") == 0,
      "plain = must never match the NULL bucket")
    rows.filterNot(_.getString(0) == "unattributed").foreach { r =>
      assert(r.getAs[Long]("n") == r.getAs[Long]("n_plain_eq"),
        "non-null buckets must agree between <=> and =")
    }
  }

  test("agg_ab_test: cohort sizes partition each type's events") {
    val rows = Advanced.aggAbTest(spark, sf0001)
      .select(col("event_type"), col("n1"), col("n2")).collect()
    val totals = graft.core.Tables.events(spark, sf0001)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) == totals(r.getString(0)),
        "cohorts must partition the population")
    }
  }
}
