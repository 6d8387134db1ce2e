package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.ops.{LlmPipeline, Multimodal, Relational, Sources}

/** Physical-plan audits (the 100 TB design contract): filters reach the
  * parquet scan, projections prune columns at the reader, small dims
  * broadcast, top-k never globally sorts, and no candidate-generation path
  * degenerates to a cartesian product. These are the properties that decide
  * whether a plan survives a 1000-executor scale-up, asserted on the real
  * optimized plans. */
class PlanSpec extends SparkSpecBase {

  private def planString(df: DataFrame): String = {
    val exec = df.queryExecution.executedPlan
    val finalPlan = exec match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // formatted explain over the whole query execution
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")) +
      "\n" + finalPlan.toString
  }

  test("key_lookup pushes the key predicate into the parquet scan") {
    val p = planString(SparkEntry.queries("key_lookup")(spark, sf0001))
    assert(p.contains("PushedFilters:") &&
      p.matches("(?s).*PushedFilters: \\[[^\\]]*l_orderkey[^\\]]*\\].*"),
      s"no pushed filter on l_orderkey:\n${p.take(2000)}")
  }

  test("filter_pred pushes range predicates into the scan") {
    val p = planString(SparkEntry.queries("filter_pred")(spark, sf0001))
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*l_shipdate[^\\]]*\\].*"),
      "shipdate range not pushed")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*l_discount[^\\]]*\\].*"),
      "discount range not pushed")
  }

  test("scan_project prunes to exactly the 3 selected columns at the reader") {
    val p = planString(Relational.scanProject(spark, sf0001))
    val readSchema = "ReadSchema:.*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity")
      && readSchema.contains("l_shipdate"), s"missing cols: $readSchema")
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_comment"),
      s"unpruned scan: $readSchema")
  }

  test("join_broadcast uses BroadcastHashJoin for every dim") {
    val p = planString(Relational.joinBroadcast(spark, sf0001))
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).size
    assert(nBroadcast >= 3, s"expected >=3 broadcast joins, got $nBroadcast")
    assert(!p.contains("SortMergeJoin"), "dim join fell back to sort-merge")
  }

  test("sort_limit_topk plans TakeOrderedAndProject, not a global sort") {
    val p = planString(SparkEntry.queries("sort_limit_topk")(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), "top-k not TakeOrderedAndProject")
  }

  test("dedup_near candidate generation is equi-join, not cartesian") {
    val p = planString(LlmPipeline.dedupNear(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "prefix-filtered candidate join degenerated to a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "candidate join degenerated to nested-loop")
  }

  test("dedup_minhash LSH banding joins hash-partition on the band key") {
    val p = planString(LlmPipeline.dedupMinhash(spark, sf0001))
    assert(!p.contains("CartesianProduct"), "LSH join degenerated to cartesian")
    assert(p.contains("ShuffledHashJoin"),
      "candidate-pair verify join is not a shuffled equi-join — a broadcast " +
        "of the data-dependent pair set would collect it to the driver")
  }

  test("dedup_simhash pairs via bit-block LSH, never an all-pairs join") {
    val p = planString(LlmPipeline.dedupSimhash(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "simhash pairing degenerated to a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "simhash pairing degenerated to an all-pairs nested-loop join")
    assert(p.contains("ShuffledHashJoin"),
      "simhash verify join is not a shuffled equi-join")
  }

  test("dedup_embed candidates route through cells, never |batch|x|corpus|") {
    val p = planString(LlmPipeline.dedupEmbed(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "embedding threshold join degenerated to a full cartesian product")
    assert(p.contains("ShuffledHashJoin"),
      "cell-candidate join is not a shuffled equi-join")
  }

  test("sim_knn_join meets candidates in a cell equi-join, never |N|^2") {
    val p = planString(LlmPipeline.simKnnJoin(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "kNN join degenerated to a full cartesian product")
    assert(p.contains("ShuffledHashJoin"),
      "probe-candidate cell join is not a shuffled equi-join")
  }

  test("dedup_contaminate broadcasts the benchmark gram set (corpus never shuffles)") {
    val p = planString(LlmPipeline.dedupContaminate(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      "benchmark gram set is not broadcast — corpus grams would shuffle")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "contamination probe fell back to a corpus-side shuffle join")
  }

  test("text_pii is shuffle-free before the declared sort") {
    // regex scrubbing must fuse into the scan: per-row work only
    val o = SparkEntry.queries("text_pii")(spark, sf0001)
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val bad = o.collect { case a: Aggregate => a; case j: Join => j }
    assert(bad.isEmpty, s"text_pii plans ${bad.size} agg/join nodes")
  }

  test("sink_bucketed join reads co-located buckets with zero Exchange") {
    graft.ops.Sources.sinkBucketed(spark, sf0001) // eager write on build
    val p = planString(graft.ops.Sources.bucketedReadback(spark))
    assert(p.contains("SortMergeJoin"), "bucketed join is not sort-merge")
    assert(!p.contains("Exchange"),
      s"bucketed join still shuffles:\n${p.take(1500)}")
  }

  test("scan_dpp fact scan carries a dynamic partition pruning filter") {
    graft.ops.Sources.scanDpp(spark, sf0001) // eager write on build
    val p = planString(graft.ops.Sources.dppReadback(spark)).toLowerCase
    assert(p.contains("dynamicpruning"),
      "no DynamicPruningExpression reached the partitioned fact scan")
  }

  test("events_concurrency sweeps without any join (never |sessions|^2)") {
    val p = planString(graft.ops.Advanced.eventsConcurrency(spark, sf0001))
    assert(!p.contains("Join"), "sweep-line concurrency plan contains a join")
  }

  test("subq_exists decorrelates to semi + anti joins (no per-row subquery)") {
    val p = planString(SparkEntry.queries("subq_exists")(spark, sf0001))
    assert(p.contains("LeftSemi"), "EXISTS did not become a left semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS did not become a left anti join")
  }

  test("subq_lateral plans a bounded WindowGroupLimit, not per-row subqueries") {
    val p = planString(SparkEntry.queries("subq_lateral")(spark, sf0001))
    assert(p.contains("WindowGroupLimit"),
      "lateral top-k did not push a per-group limit below the window")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "lateral join degenerated to a non-equi join")
  }

  test("join_asof_near shares one sweep for both directions (no join)") {
    val p = planString(Relational.joinAsofNear(spark, sf0001))
    assert(!p.contains("Join"), "nearest as-of fell back to a join")
    assert(p.contains("Window"), "nearest as-of lost its window sweep")
  }

  test("events_streak runs the whole islands pipeline on ONE hash exchange") {
    val exec = graft.ops.Advanced.eventsStreak(spark, sf0001)
      .queryExecution.executedPlan.toString
    val n = "Exchange hashpartitioning".r.findAllIn(exec).length
    assert(n == 1,
      s"distinct/window/groupBys should reuse one user_id shuffle, got $n")
  }

  test("agg_argmax is a single aggregate, never the oracle's sorted window") {
    val p = planString(graft.ops.Advanced.aggArgmax(spark, sf0001))
    assert(!p.contains("Window"),
      "argmax fell back to a row_number window")
  }

  test("join_interval overlap join is day-bucketed broadcast equi, not a loop") {
    val p = planString(graft.ops.Advanced.joinInterval(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      "window table did not broadcast into an equi join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "interval overlap degenerated to a nested loop")
  }

  test("embed_quantize broadcasts the 1-row min-max model, no vector shuffle join") {
    val p = planString(LlmPipeline.embedQuantize(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the quantization model should broadcast to the corpus scan")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "vectors should never shuffle to meet the fixed-size model")
  }

  test("join_skew_salted is a shuffled equi-join on (key, salt)") {
    val p = planString(graft.ops.Advanced.joinSkewSalted(spark, sf0001))
    assert(p.contains("ShuffledHashJoin"),
      "salted join is not a shuffled hash join — a broadcast would erase " +
        "the very shuffle the salt is spreading")
    assert(!p.contains("BroadcastHashJoin"),
      "replicated dim side was broadcast; the skew demo never shuffled")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "salted join degenerated to a non-equi join")
  }

  test("join_bloom probes the bloom below the fact shuffle; exact join stays shuffled") {
    val df = graft.ops.Advanced.joinBloom(spark, sf0001)
    val p = planString(df)
    assert(p.contains("ShuffledHashJoin"),
      "exact join is not a shuffle join — a broadcast would erase the very " +
        "shuffle the bloom is pruning")
    assert(!p.contains("BroadcastHashJoin"),
      "dim side was broadcast whole; the runtime-filter demo never shuffled")
    assert(p.contains("bloom_contains"), "bloom probe missing from the plan")
    // structural pin: the probe filter sits INSIDE the shuffled join's
    // subtree (map-side, before the exchange) — not above the join
    val exec = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case x => x
    }
    val shj = exec.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(shj.nonEmpty && shj.exists(_.toString.contains("bloom_contains")),
      "bloom_contains filter is not below the shuffled equi-join")
  }

  test("sample_reservoir keeps bounded heap state, not a window sort") {
    val p = planString(graft.ops.Advanced.sampleReservoir(spark, sf0001))
    assert(p.contains("ObjectHashAggregate"),
      "reservoir TopKAgg did not plan as an object hash aggregate")
    assert(!p.contains("Window"),
      "reservoir sample fell back to a window (full per-group sort)")
  }

  test("agg_linreg is one two-phase hash aggregate (no sort, no join)") {
    val p = planString(graft.ops.Advanced.aggLinreg(spark, sf0001))
    assert(p.contains("HashAggregate"), "moments not a hash aggregate")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastHashJoin"),
      "OLS moments should need no join at all")
  }

  test("agg_topk runs as a bounded-state aggregate, not a window sort") {
    val df = graft.ops.Advanced.aggTopk(spark, sf0001)
    val p = planString(df)
    assert(p.contains("ObjectHashAggregate"),
      "TopKAgg did not plan as an object hash aggregate")
    assert(!p.contains("Window"),
      "grouped top-k fell back to a window (full partition sort)")
  }

  test("agg_percentile is rank-interpolated: no payload-holding aggregate") {
    val df = graft.ops.Advanced.aggPercentile(spark, sf0001)
    val p = planString(df)
    // the single-buffer exact `percentile` plans an ObjectHashAggregate
    // whose buffer is the group's ENTIRE value list — the rank form's
    // heavy operator must be the spillable window sort instead, and every
    // aggregate buffer stays scalar-only
    assert(!p.contains("ObjectHashAggregate"),
      "exact percentile regressed to a payload-collecting aggregate")
    assert(p.contains("Window"),
      "rank-interpolation lost its row_number window")
  }

  test("agg_bitmap counts distinct via bitmaps, never a distinct Expand") {
    // the point of the bitmap plan: exact distinct with NO expand of the
    // raw keys (count-distinct's Expand doubles the shuffled row count)
    // and a mergeable fixed-size state per (group, bucket)
    val df = graft.ops.Advanced.aggBitmap(spark, sf0001)
    val p = planString(df)
    assert(!p.contains("Expand"),
      "bitmap distinct fell back to a count-distinct Expand")
    // bitmap_construct_agg carries a binary buffer (declarative, not
    // hashable) → partial + final SortAggregate pairs; the property that
    // matters at scale is the MAP-SIDE PARTIAL before each exchange, so
    // the shuffle carries bitmaps, never raw key occurrences
    val p1 = df.queryExecution.executedPlan.toString
    val nAggs = "SortAggregate|ObjectHashAggregate".r.findAllIn(p1).size
    assert(nAggs >= 2, s"no partial+final bitmap aggregate pair:\n$p1")
  }

  test("events_funnel resolves all three stages over ONE user shuffle") {
    val df = graft.ops.Advanced.eventsFunnel(spark, sf0001)
    val p = planString(df)
    // three sequential stage windows…
    val nWindows = "\\bWindow\\b".r.findAllIn(p).size
    assert(nWindows >= 3, s"expected 3 stage windows, saw $nWindows")
    // …but only ONE exchange partitioned by user_id alone (later windows
    // reuse the first one's partitioning; a per-stage reshuffle would
    // show up as extra hashpartitioning(user_id…) exchanges). Count on a
    // single physical-plan rendering (planString concatenates two).
    val p1 = df.queryExecution.executedPlan.toString
    val nUserShuffles = "hashpartitioning\\(user_id".r.findAllIn(p1).size
    assert(nUserShuffles == 1,
      s"expected exactly 1 user_id shuffle for 3 windows, saw $nUserShuffles")
  }

  test("cluster_kmeans broadcasts centroids; the corpus never shuffle-joins") {
    val df = graft.ops.LlmPipeline.clusterKmeans(spark, sf0001)
    val p = planString(df)
    // both assignment passes replicate the k-row centroid model to the
    // corpus — a broadcast nested-loop over a bounded side, the IVF shape
    assert(!p.contains("CartesianProduct"),
      "centroid assignment degenerated to a cartesian product")
    assert(!p.contains("SortMergeJoin"),
      "corpus shuffled into a sort-merge join against the fixed-size model")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size >= 2,
      "expected 2 broadcast assignment passes (one per Lloyd iteration)")
  }

  test("pipeline_e2e composes without a cartesian or nested-loop join") {
    // the whole chain — normalize → gate → exact dedup → near-dedup →
    // pack — must keep the near-dup candidate step an equi-join (the
    // AllPairs property) even when fed by upstream stages
    val p = planString(LlmPipeline.pipelineE2e(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "composed near-dedup degenerated to a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "composed near-dedup degenerated to a nested loop")
  }

  test("key_lookup_sorted pushes the key predicate into the sorted layout") {
    // materialize the sorted-on-write layout, then audit the readback scan
    graft.ops.Sources.keyLookupSorted(spark, sf0001).collect()
    val p = planString(graft.ops.Sources.sortedLookupReadback(spark))
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*l_orderkey[^\\]]*\\].*"),
      s"no pushed key filter on the sorted layout:\n${p.take(1500)}")
  }

  test("sink_zorder readback pushes filters on BOTH clustered dimensions") {
    // materialize the clustered layout, then audit the readback scan: the
    // point of the Morton layout is that user_id AND ts predicates both
    // reach the parquet reader (file/row-group pruning off footer stats)
    graft.ops.Sources.sinkZorder(spark, sf0001).collect()
    val p = planString(graft.ops.Sources.zorderReadback(spark))
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*user_id[^\\]]*\\].*"),
      s"no pushed user_id filter on the z-ordered layout:\n${p.take(1500)}")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*ts[^\\]]*\\].*"),
      s"no pushed ts filter on the z-ordered layout:\n${p.take(1500)}")
  }

  test("dedup_near_salted candidate generation stays equi-join under salting") {
    val p = planString(LlmPipeline.dedupNearSalted(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "salted candidate join degenerated to a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "salted candidate join degenerated to nested-loop")
    assert(p.contains("ShuffledHashJoin"),
      "salted verify join is not a shuffled equi-join")
  }

  test("dedup_near verify join shuffles the pair set instead of broadcasting it") {
    val p = planString(LlmPipeline.dedupNear(spark, sf0001))
    assert(p.contains("ShuffledHashJoin"),
      "candidate-pair verify join is not a shuffled equi-join")
  }

  test("stream_join is an equi-join on the user key, never a nested loop") {
    // the interval condition must ride as a post-condition on a hash
    // join keyed by user_id — a pure-range plan (BNLJ/cartesian) scans
    // |purchases| x |views| and dies at scale
    val p = planString(graft.ops.Streaming.streamJoin(spark, sf0001))
    assert(!p.contains("CartesianProduct"), "interval join planned cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "interval join degenerated to nested-loop — user_id equality not used")
  }

  test("text_curriculum fuses score/tier/gate into the scan (no agg, no join)") {
    // the whole curriculum step is per-row expressions: fixed thresholds
    // and a hash gate, so nothing may plan an aggregate or a join — the
    // only exchange is the final ORDER BY's range partitioning
    val o = LlmPipeline.textCurriculum(spark, sf0001).queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val bad = o.collect { case a: Aggregate => a; case j: Join => j }
    assert(bad.isEmpty, s"text_curriculum plans ${bad.size} agg/join nodes")
  }

  test("text_normalize is shuffle-free before the declared sort") {
    // normalization must fuse into the scan: per-row HOFs only, no
    // aggregate, no join — the only exchange is the final ORDER BY's range
    // partitioning
    val o = LlmPipeline.textNormalize(spark, sf0001).queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val bad = o.collect { case a: Aggregate => a; case j: Join => j }
    assert(bad.isEmpty, s"text_normalize plans ${bad.size} agg/join nodes")
  }

  test("source_orc readback scans ORC, not a re-read of the parquet source") {
    Sources.sourceOrc(spark, sf0001).count() // materialize the write
    val p = planString(Sources.orcReadback(spark))
    assert(p.toLowerCase.contains("orc"), s"readback not ORC:\n${p.take(800)}")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // the 100 TB shape for fact⋈(selectively filtered dim) when the dim is
    // too big to broadcast: build a bloom filter over the dim's join keys
    // and push might_contain into the fact scan, skipping most of the
    // shuffle write. Engine confs opt in; the thresholds below force the
    // optimizer's size gates open on the tiny test data.
    import org.apache.spark.sql.functions.col
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> scala.util.Try(spark.conf.get(k)).toOption)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = graft.core.Tables.lineitem(spark, sf0001)
      val o = graft.core.Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(org.apache.spark.sql.functions.count(col("*")).as("n"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"no bloom runtime filter injected:\n${p.take(1500)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("tpch_q5 six-way join broadcasts every dim (fact shuffles once at most)") {
    val p = planString(graft.ops.Composite.tpchQ5(spark, sf0001))
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).size
    assert(nBroadcast >= 3, s"expected >=3 broadcast joins in Q5, got $nBroadcast")
    assert(!p.contains("CartesianProduct"), "Q5 planned a cartesian product")
  }

  test("tpch_q6 is a pure pushed-down scan + agg: no join, filters at the reader") {
    val p = planString(SparkEntry.queries("tpch_q6")(spark, sf0001))
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*l_shipdate[^\\]]*\\].*"),
      "shipdate range not pushed to the scan")
    assert(!p.contains("Join"), "Q6 must not plan any join")
  }

  test("tpch_q14 broadcasts part (the dim side) — no sort-merge fallback") {
    val p = planString(graft.ops.Composite.tpchQ14(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), "part dim not broadcast in Q14")
    assert(!p.contains("SortMergeJoin"), "Q14 fell back to sort-merge")
  }

  test("tpch_q18 takes top-100 via TakeOrderedAndProject, no cartesian") {
    val p = planString(graft.ops.Composite.tpchQ18(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"),
      "Q18 top-100 should be TakeOrderedAndProject, not a global sort")
    assert(!p.contains("CartesianProduct"), "Q18 planned a cartesian product")
  }

  test("tpch_q1 is scan + ONE two-phase aggregate: no join, shipdate pushed") {
    val q = SparkEntry.queries("tpch_q1")(spark, sf0001)
    val p = planString(q)
    assert(!p.contains("Join"), "Q1 must not plan any join")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*l_shipdate[^\\]]*\\].*"),
      "shipdate cutoff not pushed to the scan")
    // count on the bare physical plan (planString prints each node thrice:
    // formatted tree + detail section + final plan)
    val phys = q.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(phys).size == 2,
      "Q1 should be exactly one partial + one final hash aggregate")
  }

  test("tpch_q2 correlated extremum is one partitioned window, dims broadcast") {
    val p = planString(graft.ops.Composite.tpchQ2(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), "Q2 dims must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "Q2 must stay broadcast-hash over the distinct pair set")
  }

  test("tpch_q9 broadcasts part/supplier/nation; only orders shuffles") {
    val p = planString(graft.ops.Composite.tpchQ9(spark, sf0001))
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).size
    assert(nBroadcast >= 3, s"expected >=3 broadcast dims in Q9, got $nBroadcast")
    assert(!p.contains("CartesianProduct"), "Q9 planned a cartesian product")
  }

  test("tpch_q21 EXISTS/NOT-EXISTS plan as semi/anti hash joins with residuals") {
    val p = planString(graft.ops.Composite.tpchQ21(spark, sf0001))
    assert(p.contains("LeftSemi"), "Q21 EXISTS must plan as a left-semi join")
    assert(p.contains("LeftAnti"), "Q21 NOT EXISTS must plan as a left-anti join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "Q21 residual conditions must ride the equi hash joins, not a nested loop")
  }

  test("sink_partitioned readback prunes to the filtered partition") {
    // materialize the partitioned layout, then audit the readback scan
    graft.ops.Sources.sinkPartitioned(spark, sf0001).collect()
    val p = planString(graft.ops.Sources.partitionedReadback(spark))
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*o_orderpriority[^\\]]*\\].*"),
      s"partition filter not pruned:\n${p.take(1500)}")
  }

  test("bucketed tables join without a shuffle (the repeated-join recipe)") {
    // SCALING.md: bucketing both sides by the join key removes the
    // shuffle entirely — the 100 TB answer for joins that repeat per run
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    // a previously-failed run can leave an orphan managed-table location
    Seq("li_b", "o_b").foreach { t =>
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"spark-warehouse/$t"))
    }
    graft.core.Tables(spark, sf0001, "lineitem")
      .select("l_orderkey", "l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    graft.core.Tables(spark, sf0001, "orders")
      .select("o_orderkey", "o_custkey")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("o_b")
    // hint("merge"): at this toy size the planner would broadcast; the
    // property under test is the sort-merge path using bucket co-location
    val joined = spark.table("li_b").hint("merge").join(spark.table("o_b"),
      org.apache.spark.sql.functions.col("l_orderkey") ===
        org.apache.spark.sql.functions.col("o_orderkey"))
    val p = planString(joined)
    assert(p.contains("SortMergeJoin"), "merge hint ignored")
    assert(!p.contains("Exchange hashpartitioning"),
      "bucketed sort-merge join still shuffles:\n" +
        p.linesIterator.take(20).mkString("\n"))
    // and it still returns the right row count
    assert(joined.count() ==
      graft.core.Tables(spark, sf0001, "lineitem").count())
  }

  test("no declared plan contains a partition-less Window (all-query sweep)") {
    // A Window with an empty partitionSpec moves every row to ONE task
    // ("WindowExec: No Partition Defined" at runtime) — the single shape
    // guaranteed not to survive a 100x scale-up. Sweep every declared
    // query's optimized plan so the property is pinned for all current and
    // future keys at once.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (k, fn) =>
        val bad = fn(spark, sf0001).queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
        spark.catalog.clearCache()
        if (bad.nonEmpty) Seq(k) else Nil
    }
    assert(offenders.isEmpty,
      s"partition-less Window in declared plans: ${offenders.mkString(", ")}")
  }

  test("no declared plan contains a CartesianProduct (all-query sweep)") {
    // The one join shape that cannot survive any scale-up. Bounded
    // replication is fine (crossJoin(broadcast(model)) plans a
    // BroadcastNestedLoopJoin over a k-row side); an unhinted
    // CartesianProductExec — both sides unbounded — never is. Sweep every
    // declared query's PHYSICAL plan so future keys inherit the pin.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (k, fn) =>
        val p = fn(spark, sf0001).queryExecution.executedPlan.toString
        spark.catalog.clearCache()
        if (p.contains("CartesianProduct")) Seq(k) else Nil
    }
    assert(offenders.isEmpty,
      s"CartesianProduct in declared plans: ${offenders.mkString(", ")}")
  }

  test("no SQL-catalog plan contains a partition-less Window either") {
    GraftExtensions.install(spark) // md5_48 / float_dot / sliding_min in SQL
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SqlCatalog.queriesSql.keys.toSeq.sorted.flatMap { k =>
      val bad = SqlCatalog.sql(k)(spark, sf0001).queryExecution.optimizedPlan
        .collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      if (bad.nonEmpty) Seq(k) else Nil
    }
    assert(offenders.isEmpty,
      s"partition-less Window in SQL plans: ${offenders.mkString(", ")}")
  }

  test("signature/set construction is a zero-shuffle projection (no Exchange, no Aggregate)") {
    // The per-row native expressions (ShingleXx64 / MinHashSig / SimHash48)
    // exist so that dedup candidate PREPARATION never shuffles: each
    // document's shingle set and signatures are pure projections inside
    // the scan stage. Pin that property on the physical plans — a future
    // reformulation that reintroduces an explode + groupBy (the r3 shape)
    // would show up here as an Exchange or an Aggregate.
    val docs = graft.core.Tables(spark, sf0001, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val stages = Seq(
      "hashedShingleSets" ->
        graft.api.TextDedup.hashedShingleSets(docs, "doc_id", "text"),
      "minhashSignatures" ->
        graft.api.TextDedup.minhashSignatures(docs, "doc_id", "text"),
      "simhashSignatures" ->
        graft.api.TextDedup.simhashSignatures(docs, "doc_id", "text"))
    stages.foreach { case (name, df) =>
      val p = planString(df)
      // r14: the documents reader carries a round-robin fan-out exchange
      // (graft.core.Fanout — single-row-group scan parallelization, guide
      // §2.5); that is a rebalance of the input rows, NOT the r3
      // explode + groupBy shape this pin guards against. Key-partitioned
      // exchanges and aggregate/explode stages stay banned.
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name shuffles on a key — signature construction must stay per-row:\n" +
          p.linesIterator.take(25).mkString("\n"))
      assert(!p.contains("Aggregate") && !p.contains("Generate"),
        s"$name reintroduced an explode/aggregate stage:\n" +
          p.linesIterator.take(25).mkString("\n"))
    }
  }

  test("agg_conditional is one two-phase hash aggregate (no extra pass per predicate)") {
    val p = planString(graft.ops.Advanced.aggConditional(spark, sf0001))
    assert(p.contains("HashAggregate"), "conditional aggs not a hash aggregate")
    assert(!p.contains("Join") && !p.contains("Window"),
      "FILTER-family aggregation should need no join and no window")
    assert(!p.contains("Expand"),
      "conditional aggregation expanded rows (count-distinct-style Expand)")
  }

  test("events_anomaly pre-aggregates to the daily grain before the window") {
    val df = graft.ops.Advanced.eventsAnomaly(spark, sf0001)
    val p = planString(df)
    assert(!p.contains("Join"), "anomaly baseline plan contains a join")
    // raw events must collapse via a partial+final hash agg BEFORE the
    // trailing-window sort — the window runs on types×days rows only
    val p1 = df.queryExecution.executedPlan.toString
    val aggIdx = p1.indexOf("HashAggregate")
    val winIdx = p1.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && winIdx < aggIdx,
      s"window does not consume the daily aggregate (agg@$aggIdx win@$winIdx)")
  }

  test("graph_triangles enumerates via equi-joins only (never |V|^2)") {
    val df = graft.ops.Graph.graphTriangles(spark, sf0001)
    val p = planString(df)
    assert(!p.contains("CartesianProduct"),
      "triangle enumeration degenerated to a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "triangle enumeration degenerated to a nested loop")
    // the wedge join must key on the ORIENTED source vertex (degree-
    // oriented wedge counting — out-degree is capped at O(√m), so the
    // per-vertex fan-out bound survives degree skew at scale)
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.exists(_.condition.exists(
        _.references.exists(_.name == "src"))),
      "no join keyed on the oriented wedge source column")
  }

  test("sample_weighted is a map-side filter: no shuffle join, no wide key exchange") {
    val df = graft.ops.Advanced.sampleWeighted(spark, sf0001)
    val p = planString(df)
    // Σw is a single-row broadcast; the inclusion test must run in the
    // scan stage — any shuffle join or hash-keyed exchange means the
    // selection stopped being a pure row property
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "weighted sampling planned a shuffle join for the scalar total")
    assert(!p.contains("Exchange hashpartitioning"),
      "weighted sampling shuffled on a key before selecting")
  }

  test("dedup_cdc boundary scan precedes the span window (mod filter in scan stage)") {
    val df = graft.ops.LlmPipeline.dedupCdc(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!planString(df).contains("CartesianProduct"),
      "CDC degenerated to a cartesian product")
    // tree prints consumers above producers: the Generate (gram posexplode
    // + mod-64 cut filter) must sit BELOW the span Window, i.e. the ~63/64
    // position drop happens before the doc_id shuffle
    val winIdx = p.indexOf("Window")
    val genIdx = p.indexOf("Generate")
    assert(winIdx >= 0 && genIdx >= 0 && winIdx < genIdx,
      s"span window does not consume the boundary scan (win@$winIdx gen@$genIdx)")
  }

  test("fn_regex and fn_url fuse into the scan (no agg, no join)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    Seq("fn_regex" -> SparkEntry.queries("fn_regex")(spark, sf0001),
      "fn_url" -> graft.ops.Functions.fnUrl(spark, sf0001)).foreach {
      case (name, df) =>
        val bad = df.queryExecution.optimizedPlan.collect {
          case a: Aggregate => a; case j: Join => j
        }
        assert(bad.isEmpty, s"$name plans ${bad.size} agg/join nodes")
    }
  }

  test("agg_hash is a two-phase hash aggregate (map-side partial)") {
    val df = SparkEntry.queries("agg_hash")(spark, sf0001)
    df.collect() // materialize THIS query execution so AQE finalizes stages
    val p = planString(df)
    val hashAggs = "HashAggregate".r.findAllIn(p).size
    assert(hashAggs >= 2, s"expected partial+final HashAggregate, got $hashAggs")
    // codegen stages render as "WholeStageCodegen (n)" in formatted mode
    // or as a "*(n)" operator prefix in simple mode
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      "agg not codegen'd")
  }

  test("merge_mor reconciliation joins broadcast — the base never shuffles") {
    val df = Sources.mergeMor(spark, sf0001)
    val p = planString(df)
    // MoR's contract is a map-side base pass: both the deletion-vector
    // anti-join and the delta's own dv filter must be broadcast joins;
    // a sort-merge/shuffled-hash join on the base defeats the design
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "MoR reconciliation did not broadcast both small sides")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "MoR base side was shuffled for reconciliation")
  }

  test("embed_centroid probes a broadcast (label, dim) model, never all-pairs") {
    val df = LlmPipeline.embedCentroid(spark, sf0001)
    val p = planString(df)
    // the per-(label, dim) sum table is model-sized — the member-distance
    // join must be a broadcast probe so the exploded member stream never
    // shuffles a second time for it
    assert(p.contains("BroadcastHashJoin"),
      "centroid model join is not a broadcast probe")
    assert(!p.contains("CartesianProduct"),
      "centroid audit degenerated to a cartesian product")
  }

  test("join_spatial probes a broadcast zone-cell table (points never shuffle)") {
    val df = graft.ops.Advanced.joinSpatial(spark, sf0001)
    val p = planString(df)
    assert(p.contains("BroadcastHashJoin"),
      "spatial candidates are not a broadcast cell equi-join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "spatial join degenerated to point × region")
  }

  test("sim_index_persist probe scan carries dynamic partition pruning") {
    val df = LlmPipeline.simIndexPersist(spark, sf0001)
    val p = planString(df)
    // the index is cell-partitioned on disk; the probe join on the cell
    // partition column must prune unprobed cells at the reader —
    // otherwise the "index" is just a copy of the corpus
    assert(p.contains("dynamicpruning"),
      "probe reads the whole index instead of pruning to its nprobe cells")
  }

  test("embed_pq broadcasts the codebook — the corpus never joins itself") {
    val df = LlmPipeline.embedPq(spark, sf0001)
    val p = planString(df)
    // codebook (seeds + centroid values) must reach the exploded vector
    // stream as broadcast probes; a shuffle join here would re-key the
    // whole corpus for a 256-number model
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "PQ codebook joins are not broadcast probes")
    assert(!p.contains("CartesianProduct"), "PQ encode went cartesian")
  }

  test("text_perplexity broadcasts the unigram/context models") {
    val df = LlmPipeline.textPerplexity(spark, sf0001)
    val p = planString(df)
    // the vocab-sized unigram + context-count models are broadcast probes
    // (map-side); only the data-dependent bigram table may shuffle
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "LM model joins are not broadcast probes")
  }

  // ------------------------------------------------- round-7 plan pins

  test("dedup_bloom gates the batch through a broadcast 1-row filter before the verify join") {
    val df = LlmPipeline.dedupBloom(spark, sf0001)
    val p = planString(df)
    // the bloom must reach the batch as a broadcast (1-row model); the
    // exact verify join may shuffle — but only AFTER the bloom filter
    // pruned, which is the whole point of the gate
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "bloom model is not broadcast to the batch side")
    assert(p.contains("bloom_might_contain") || p.contains("BloomMightContain") ||
      p.toLowerCase.contains("bloom"),
      "no bloom predicate in the batch scan stage")
  }

  test("embed_matryoshka ranks via aggregation — no window over the candidate stream") {
    val df = LlmPipeline.embedMatryoshka(spark, sf0001)
    val p = planString(df)
    // the per-k winner is a lexicographic struct-max AGGREGATE: a window
    // over the (probes × corpus) stream would re-sort the whole candidate
    // volume per k; the probe set itself must be the broadcast side
    assert(!p.contains("Window"),
      "matryoshka audit sorts the candidate stream through a window")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "probe set is not broadcast")
  }

  test("dedup_url and text_quality_lr fuse into the scan (one aggregate, no join)") {
    Seq(
      "dedup_url" -> SparkEntry.queries("dedup_url")(spark, sf0001),
      "text_quality_lr" -> SparkEntry.queries("text_quality_lr")(spark, sf0001)
    ).foreach { case (k, df) =>
      val p = planString(df)
      assert(!p.contains("Join"), s"$k: per-row gate grew a join")
      // dedup_url needs its one canonical-key aggregate; quality_lr none
      if (k == "text_quality_lr")
        assert(!p.contains("HashAggregate"),
          s"$k: pure projection grew an aggregate")
    }
  }

  test("events_cohort reduces to the (user, week) grid before the grid aggregate") {
    val df = graft.ops.Advanced.eventsCohort(spark, sf0001)
    val p = planString(df)
    // the per-user distinct must precede the cohort-grid aggregate: a
    // grid agg directly over raw events would carry per-event volume
    // into countDistinct state
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "cohort matrix lost its pre-aggregation (distinct collapse) stage")
    assert(!p.contains("CartesianProduct"), "cohort join went cartesian")
  }

  test("mm_audio_feats and mm_scene_detect are scan-fused per-row expressions") {
    Seq(
      "mm_audio_feats" -> Multimodal.mmAudioFeats(spark, sf0001),
      "mm_scene_detect" -> Multimodal.mmSceneDetect(spark, sf0001)
    ).foreach { case (k, df) =>
      val p = planString(df)
      assert(!p.contains("Join"), s"$k: per-row media math grew a join")
      assert(!p.contains("HashAggregate"), s"$k: per-row media math grew an aggregate")
    }
  }

  // ------------------------------------------------- round-8 plan pins

  test("text_kneser_ney probes every LM model table as a broadcast") {
    val p = planString(graft.ops.LlmPipeline.textKneserNey(spark, sf0001))
    // vocab + bigram + context + successor + continuation + B scalar:
    // all bounded O(V^2) tables must reach the token stream map-side
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      "KN model joins are not broadcast probes")
    assert(!p.contains("CartesianProduct"), "KN scoring went cartesian")
  }

  test("embed_covariance expands the pair grid with NO join at all") {
    val p = planString(graft.ops.Stats.embedCovariance(spark, sf0001))
    // the (i,j) products are a per-row HOF transform: scan -> generate ->
    // aggregate -> sort; any Join here means a self-join crept back in
    assert(!p.contains("Join"), "covariance pair expansion joined:\n" + p.take(1500))
  }

  test("fn_geo's pair triangle is a broadcast, trig is scan-fused") {
    val p = planString(graft.ops.Functions.fnGeo(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "pair triangle did not broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "pair triangle shuffled or went cartesian")
  }

  test("agg_mannwhitney ranks with windows, never a self-join") {
    val p = planString(graft.ops.Stats.aggMannWhitney(spark, sf0001))
    assert(!p.contains("Join"), "rank-sum test introduced a join")
    assert(p.contains("Window"), "expected the ranking window")
  }

  test("text_rouge_overlap joins on the pairing key, never cartesian") {
    val p = planString(graft.ops.LlmPipeline.textRougeOverlap(spark, sf0001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "overlap join degenerated to a product")
  }

  test("text_gopher_rules is a pure projection (no agg/join before the sort)") {
    // every rule flag must fuse into the scan: per-row work only
    val o = graft.ops.Selection.textGopherRules(spark, sf0001)
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val bad = o.collect { case a: Aggregate => a; case j: Join => j }
    assert(bad.isEmpty, s"text_gopher_rules plans ${bad.size} agg/join nodes")
  }

  test("sample_dsir scores through a broadcast model, never a shuffle join") {
    val p = planString(graft.ops.Selection.sampleDsir(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      "the 64-bucket LLR model must broadcast to the token stream")
    assert(!p.contains("SortMergeJoin"),
      "the token stream must never sort-merge against the model")
    // top-50 selection must be distributed top-k, not a global sort
    assert(p.contains("TakeOrderedAndProject"),
      "top-50 selection fell back to a global sort")
  }

  test("sim_topk_bq candidates come from the block equi-join, never all-pairs") {
    val p = planString(graft.ops.Selection.simTopkBq(spark, sf0001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "bit-block LSH degenerated to an all-pairs product")
  }

  test("agg_holt and events_forecast_eval are pure folds — zero joins") {
    // the Holt recursion is a per-group HOF over collected arrays: the
    // whole plan must be aggregate chains (and, for the backtest, one
    // generator) — any Join node means the recursion leaked into a
    // self-join shape
    import org.apache.spark.sql.catalyst.plans.logical.Join
    Seq("agg_holt" -> graft.ops.Horizon.aggHolt(spark, sf0001),
        "agg_holt_winters" -> graft.ops.Horizon.aggHoltWinters(spark, sf0001),
        "events_ewma_chart" -> graft.ops.Horizon.eventsEwmaChart(spark, sf0001),
        "events_cusum_chart" -> graft.ops.Frontier.eventsCusumChart(spark, sf0001),
        "events_page_hinkley" -> graft.ops.Frontier.eventsPageHinkley(spark, sf0001),
        "events_forecast_eval" ->
          graft.ops.Horizon.eventsForecastEval(spark, sf0001))
      .foreach { case (k, df) =>
        val joins = df.queryExecution.optimizedPlan.collect {
          case j: Join => j
        }
        assert(joins.isEmpty, s"$k plans ${joins.size} joins")
      }
  }

  test("events_ltv_forecast joins are all equi-joins (no product anywhere)") {
    val p = planString(graft.ops.Horizon.eventsLtvForecast(spark, sf0001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the cohort grid must build from user/cohort equi-joins only")
  }

  test("graph_betweenness supersteps run against materialized barriers") {
    // edges and each frontier level checkpoint before reuse: the final
    // plan must read them as existing RDD scans, not re-derive the
    // basket self-join per consumer
    val o = graft.ops.Graph.graphBetweenness()(spark, sf0001)
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.execution.LogicalRDD
    val rdds = o.collect { case r: LogicalRDD => r }
    assert(rdds.nonEmpty,
      "no materialization barrier found — every backward join would " +
        "re-derive the full forward expansion")
    val p = planString(graft.ops.Graph.graphBetweenness()(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "dependency accumulation degenerated to a product")
  }

  test("sample_coreset probes broadcast models — no shuffled joins") {
    val p = planString(graft.ops.Horizon.sampleCoreset(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"),
      "the (label, dim) sums must broadcast back to the member stream")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "a corpus-side shuffled join crept into the sensitivity pass")
  }

  test("sample_kcenter's declared frame is pre-resolved scans — the rounds ran at build") {
    // every greedy round materializes its center pick and min-distance
    // state; the returned frame must therefore contain NO joins at all —
    // just the union of 8 materialized 1-row centers
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val o = graft.ops.Horizon.sampleKcenter()(spark, sf0001)
      .queryExecution.optimizedPlan
    val joins = o.collect { case j: Join => j }
    assert(joins.isEmpty,
      s"kcenter output re-derives rounds at read time (${joins.size} joins)")
  }

  test("agg_qq_drift ranks once per cohort and picks via the broadcast decile grid") {
    val p = planString(graft.ops.Horizon.aggQqDrift(spark, sf0001))
    // the 9-row decile table joins on an OR-of-rank condition: a bounded
    // broadcast nested loop is the DECLARED shape; a full product is not
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the decile pick must ride a broadcast of the 9-row grid")
    assert(!p.contains("CartesianProduct"),
      "decile pick degenerated to a product")
  }

  // ------------------------------------------------------ round-11 shapes

  test("dedup_decontaminate broadcasts the eval gram set (train corpus never shuffles for candidates)") {
    val p = planString(graft.ops.Frontier.dedupDecontaminate(spark, sf0001))
    // the benchmark side is the small side BY NATURE — the candidate join
    // and the per-eval gram-count join must both ride broadcasts
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).size
    assert(nBroadcast >= 2,
      s"eval gram set / eval sizes not broadcast (got $nBroadcast broadcast joins)")
    assert(!p.contains("CartesianProduct"),
      "containment join degenerated to a product")
  }

  test("text_bm25 plans like text_tfidf: hash aggs + broadcast scalars, no shuffled scalar join") {
    val p = planString(graft.ops.Frontier.textBm25(spark, sf0001))
    assert(p.contains("HashAggregate"), "tf/df/dl not hash aggregates")
    // the 1-row (n_total, avgdl) model rides a broadcast nested loop —
    // bounded by construction; a CartesianProduct is not
    assert(!p.contains("CartesianProduct"),
      "corpus scalar join degenerated to a product")
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join crept into the per-term grid (all joins are " +
        "hash-shuffle on term/doc_id or broadcast)")
  }

  test("graph_louvain_pass: one argmin window over the MATERIALIZED edge list") {
    val df = graft.ops.Graph.graphLouvainPass()(spark, sf0001)
    val p = planString(df)
    // the move step is single-pass: degree joins are equi, the 1-row m
    // broadcasts, and the per-node argmin is one partitioned window
    assert(!p.contains("CartesianProduct"),
      "edge/degree join degenerated to a product")
    val nWindows = "\\bWindow\\b".r.findAllIn(p).size
    assert(nWindows >= 1, "argmin window missing")
    // the basket self-join ran at build time behind the materialize
    // barrier: the returned frame's joins are the 2 degree equi-joins +
    // the broadcast 1-row m — NOT 4 re-derivations of the edge build
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.size <= 3,
      s"louvain pass should need ≤3 joins (2 degree equi + m), got ${joins.size}")
  }

  test("graph_louvain_coarsen: two node-keyed equi-joins over the materialized edges, no product") {
    val df = graft.ops.Graph.graphLouvainCoarsen()(spark, sf0001)
    val p = planString(df)
    assert(!p.contains("CartesianProduct"),
      "community-map join degenerated to a product")
    // the coarse aggregate is one hash aggregate on (ca, cb)
    assert(p.contains("HashAggregate"), "coarse edge count not a hash aggregate")
  }

  test("dedup_threshold_sweep: one candidate join, broadcast 5-row grid, no product") {
    val p = planString(graft.ops.Frontier.dedupThresholdSweep(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "threshold grid degenerated to a product")
    // the grid rides a bounded broadcast; candidate generation is the
    // dedup_near prefix-filter plan (pinned by its own tests)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "5-row threshold grid is not broadcast")
  }

  test("agg_kll is a two-level object hash aggregate (build cells, merge binaries) — no sort, no join") {
    val p = planString(graft.ops.Frontier.aggKll(spark, sf0001))
    assert(p.contains("ObjectHashAggregate"),
      "kll_sketch_agg did not plan as an object hash aggregate")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("ShuffledHashJoin"),
      "the sketch rollup should need no join at all")
    assert(!p.contains("Window"),
      "quantile rollup fell back to a window sort")
    // both aggregation levels are present: value-mode then merge-mode
    val nKll = "kll_sketch_agg".r.findAllIn(p).size
    assert(nKll >= 2, s"expected both sketch levels in the plan, got $nKll")
  }

  // ----------------------------------------------------- round-11b shapes

  test("text_feature_hash: three bounded hash aggregates, no Expand, grid joins broadcast") {
    val p = planString(graft.ops.Frontier2.textFeatureHash(spark, sf0001))
    assert(p.contains("HashAggregate"), "bucket census not a hash aggregate")
    // the collision census aggregates the DISTINCT TERM table and doc
    // coverage distincts (doc, bucket) — never a multi-distinct Expand
    // (which would triple the token stream map-side)
    assert(!p.contains("Expand"),
      "a multi-count-distinct Expand crept into the token stream")
    assert(!p.contains("CartesianProduct"),
      "the 64-row grid or 1-row total degenerated to a product")
    assert(!p.contains("SortMergeJoin"),
      "the bounded 64-row grid joins must broadcast, not sort-merge")
  }

  test("graph_hits: bounded level joins + TakeOrderedAndProject top-10, no product, no global sort") {
    val df = graft.ops.Graph.graphHits(spark, sf0001)
    val p = planString(df)
    assert(!p.contains("CartesianProduct"),
      "a HITS level join degenerated to a product")
    assert(p.contains("TakeOrderedAndProject"),
      "top-10 must be TakeOrderedAndProject, not a global Sort+Limit")
    // the rank window runs on the 10 surviving rows only — the plan has
    // windows, but each is downstream of a limit
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "HITS level sums are not hash aggregates")
    // edge-list reuse is deliberately ReuseExchange, not a checkpoint
    // (measured: eager localCheckpoint was 1.8x SLOWER at sf0.1); the
    // reuse itself is an AQE-runtime stitch, so pin it on the EXECUTED
    // plan after an action rather than the pre-execution string
    df.queryExecution.toRdd.count()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") ||
      executed.contains("reused exchange") ||
      executed.contains("BroadcastQueryStage"),
      "the shared edge-list exchange is not being reused — five consumers " +
        "would each replay the corpus join")
  }

  test("events_its: ONE conditional-moment hash aggregate, broadcast 1-row cutoff, no second pass") {
    val df = graft.ops.Frontier2.eventsIts(spark, sf0001)
    val p = planString(df)
    assert(!p.contains("CartesianProduct"),
      "the 1-row intervention cutoff degenerated to a product")
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join crept into the segmented regression")
    // both segments' moments ride the SAME aggregate — exactly one
    // aggregate at the event_type grain above the daily fold
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val aggs = df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
    assert(aggs.size <= 3,
      s"ITS should need <=3 aggregates (daily fold, cutoff, moments), got ${aggs.size}")
  }

  test("agg_psi: one conditional-count hash aggregate onto 10 bins, broadcast scalars, no product") {
    val p = planString(graft.ops.Frontier2.aggPsi(spark, sf0001))
    assert(p.contains("HashAggregate"), "binned counts not a hash aggregate")
    assert(!p.contains("CartesianProduct"),
      "a bounded scalar/grid join degenerated to a product")
    assert(!p.contains("SortMergeJoin"),
      "the 10-row grid joins must broadcast, not sort-merge")
    assert(!p.contains("Window"), "PSI needs no window at all")
  }

  test("dedup_eval: ONE candidate generation, broadcast grid + planted-count scalar, no product") {
    val p = planString(graft.ops.Frontier2.dedupEval(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "threshold grid or expected-count scalar degenerated to a product")
    // candidate generation is the dedup_near prefix-filter plan (pinned by
    // its own tests); the sweep/eval stage must ride broadcasts
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 5-row threshold grid is not broadcast")
  }

  test("sim_ndcg: the two declared rankings joined model-sized — no product, no extra corpus pass") {
    val p = planString(graft.ops.Frontier2.simNdcg(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "a ranking join degenerated to a product")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "DCG sums are not hash aggregates")
  }

  test("text_ppl_holdout: every LM model table broadcasts; val scoring joins are all broadcast") {
    val p = planString(graft.ops.Frontier2.textPplHoldout(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "the 1-row corpus scalar degenerated to a product")
    assert(!p.contains("SortMergeJoin"),
      "a model-table join fell back to sort-merge — the vocab bound is " +
        "what keeps every LM table broadcastable")
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).size
    assert(nBroadcast >= 4,
      s"vocab/uni/bg/c1 should all broadcast, got $nBroadcast broadcast joins")
  }

  test("meta_lineage is plan metadata: the declared frame is a LocalRelation, no scan at all") {
    val df = graft.ops.Frontier2.metaLineage(spark, sf0001)
    // structural, not textual (ADVICE r11): a string check of the form
    // "no Relation OR has LocalRelation" is vacuously true the moment a
    // LocalRelation exists ANYWHERE — it cannot catch a regression that
    // adds a real file scan next to it. Collect the node types instead.
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r
    }
    assert(scans.isEmpty,
      s"lineage extraction must not scan data — plan walk only; found ${
        scans.size} file relation(s)")
    assert(df.queryExecution.executedPlan.collectLeaves().forall(l =>
      !l.getClass.getSimpleName.contains("FileSourceScan")),
      "a FileSourceScanExec appeared in the executed lineage plan")
    // the walk is deterministic and data-independent: same rows at 2 SFs
    val a = df.collect().toSeq
    val b = graft.ops.Frontier2.metaLineage(spark, "/root/testdata/sf0.01")
      .collect().toSeq
    assert(a == b, "lineage must be identical across scale factors")
    assert(a.nonEmpty)
  }

  test("text_lang_ngram: partitioned profile windows, broadcast lang profiles, bounded grids") {
    val p = planString(graft.ops.Frontier2.textLangNgram(spark, sf0001))
    // the langs / lang-profile model tables are bounded → broadcast; the
    // 25-cell grid cross join is a bounded broadcast, never a product of
    // two unbounded sides
    assert(!p.contains("CartesianProduct"),
      "a bounded model-table join degenerated to a product")
    val nWindows = "\\bWindow\\b".r.findAllIn(p).size
    assert(nWindows >= 2,
      s"expected the doc-profile and lang-profile rank windows, got $nWindows")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "lang profiles / grids are not broadcast")
  }

  test("graph_scc: one transition hash agg, then type-grid-sized doubling joins only") {
    val p = planString(graft.ops.Graph.graphScc(spark, sf0001))
    assert(p.contains("HashAggregate"), "transition counts not a hash aggregate")
    assert(!p.contains("CartesianProduct"),
      "a doubling join degenerated to a product")
  }

  test("sample_ess: scan-fused gate + ONE bounded hash aggregate, no join, no window") {
    val p = planString(graft.ops.Frontier2.sampleEss(spark, sf0001))
    assert(p.contains("HashAggregate"), "scope moments not a hash aggregate")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("ShuffledHashJoin") && !p.contains("CartesianProduct"),
      "the ESS audit should need no join at all")
    assert(!p.contains("Window"), "the ESS audit should need no window")
  }

  test("text_ppl_bucket: perplexity's broadcast LM tables + one lang-partitioned ntile window") {
    val p = planString(graft.ops.Frontier2.textPplBucket(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "the 1-row corpus scalar degenerated to a product")
    val nWindows = "\\bWindow\\b".r.findAllIn(p).size
    assert(nWindows >= 2,
      s"expected the perplexity lag window AND the ntile window, got $nWindows")
    assert(p.contains("HashAggregate"), "bucket datasheet not a hash aggregate")
  }

  // ------------------------------------------------------ round-12 shapes

  test("sim_ivf_pq: broadcast models, cell-pruned scan, no product") {
    val p = planString(graft.ops.Frontier3.simIvfPq(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "a model-table join degenerated to a product")
    // coarse centroids, PQ codebook, ADC table, probe replicas AND the
    // post-window bounded tables (probeCells <= 30, cand <= 120 rows) are
    // all bounded models — each must broadcast, never sort-merge against
    // the corpus-scale code/micro streams. The >= 6 floor covers the two
    // size-stable hints added after the r13 sf3 sweep saw the post-window
    // estimates cross the autoBroadcast threshold and flip to SMJ.
    val nB = "BroadcastHashJoin".r.findAllIn(p).size
    assert(nB >= 6,
      s"coarse/codebook/ADC/probe/probeCells/cand must broadcast, got $nB")
    assert(p.contains("HashAggregate"), "distance sums not hash aggregates")
  }

  test("sim_topk_pq: bounded candidate re-rank broadcasts at every SF") {
    val p = planString(graft.ops.LlmPipeline.simTopkPq(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "a model-table join degenerated to a product")
    // cents/ADC/probes are model-sized, and cand (<= 12 per probe, post-
    // window so stats-invisible) carries a size-stable hint — all four
    // must be BroadcastHashJoin; the corpus-dim stream must never be
    // sort-merged against a table the query itself bounds.
    val nB = "BroadcastHashJoin".r.findAllIn(p).size
    assert(nB >= 4,
      s"cents/ADC/probes/cand models must broadcast, got $nB broadcasts")
    assert(p.contains("HashAggregate"), "distance sums not hash aggregates")
  }

  test("graph_louvain_multi: materialized edges, bounded joins, no product") {
    val df = graft.ops.Graph.graphLouvainMulti(spark, sf0001)
    val p = planString(df)
    assert(!p.contains("CartesianProduct"),
      "a community-map join degenerated to a product")
    // the basket self-join ran ONCE behind the materialize barrier: no
    // consumer re-derives it, so the frame's own joins are the bounded
    // community-map equi-joins + the 1-row m broadcasts
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.size <= 12,
      s"louvain multi should need <=12 bounded joins, got ${joins.size}")
    // the weighted level-2 argmax window ran at BUILD time behind the
    // `full` materialize barrier — the declared frame sees only the
    // checkpointed level table, so no window (and no re-derivation of
    // comm1/coarse, which un-materialized planned 499 joins)
    assert(!p.contains("Window"),
      "a window leaked past the materialize barriers")
  }

  test("agg_anova: ONE corpus hash aggregate, broadcast grand total, no window") {
    val df = graft.ops.Frontier3.aggAnova(spark, sf0001)
    val p = planString(df)
    assert(p.contains("HashAggregate"), "group moments not a hash aggregate")
    assert(!p.contains("CartesianProduct"),
      "the 1-row grand total degenerated to a product")
    assert(!p.contains("Window"), "ANOVA needs no window at all")
    assert(!p.contains("SortMergeJoin"),
      "the k-row group table must never sort-merge")
  }

  test("agg_kruskal: partitioned rank windows + grid-sized hash aggregates, no product") {
    val p = planString(graft.ops.Frontier3.aggKruskal(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "the per-priority tie census degenerated to a product")
    val nWindows = "\\bWindow\\b".r.findAllIn(p).size
    assert(nWindows >= 1, "the priority-partitioned rank window is missing")
    assert(p.contains("HashAggregate"), "rank sums not hash aggregates")
  }

  test("agg_levene: per-group median + the anova fold — one corpus agg chain, no window") {
    val p = planString(graft.ops.Frontier3.aggLevene(spark, sf0001))
    assert(p.contains("HashAggregate"), "group moments not a hash aggregate")
    assert(!p.contains("CartesianProduct"),
      "the 1-row grand total degenerated to a product")
    assert(!p.contains("Window"), "Levene needs no window at all")
  }

  test("agg_welch: ONE conditional-moment hash aggregate, no join, no window") {
    val p = planString(graft.ops.Frontier3.aggWelch(spark, sf0001))
    assert(p.contains("HashAggregate"), "cohort moments not a hash aggregate")
    assert(!p.contains("Window"), "Welch needs no window at all")
    assert(!p.contains("Join"), "both cohorts must share the single fold")
  }

  test("agg_ljung_box: type-partitioned index window + model-sized lag joins, no product") {
    val p = planString(graft.ops.Frontier3.aggLjungBox(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "the 5-row lag grid degenerated to a product")
    val nWindows = "\\bWindow\\b".r.findAllIn(p).size
    assert(nWindows >= 1, "the day-index window is missing")
    assert(p.contains("HashAggregate"), "pair moments not hash aggregates")
  }

  test("embed_outlier: d-row centroid broadcast + map-side distances, no product") {
    val p = planString(graft.ops.Frontier3.embedOutlier(spark, sf0001))
    assert(!p.contains("CartesianProduct"),
      "a broadcast scalar degenerated to a product")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the 64-row centroid model is not broadcast")
    assert(!p.contains("Window"), "the outlier gate needs no window")
  }

  test("lineage net: Lineage.of covers every declared key (all-query sweep)") {
    // VERDICT r11 #8: meta_lineage's walk, run over the WHOLE catalog, is
    // a standing regression net — any future op that accidentally widens
    // its scan (reads a column its outputs don't derive from after
    // pruning) or whose outputs stop tracing to their sources shows up
    // here. Two pinned properties:
    //   (a) Lineage.of never throws on any declared plan (the walk
    //       handles every attribute-creating node the catalog uses);
    //   (b) every key whose FINAL frame still reads a file source traces
    //       at least one output column to it. Keys behind checkpoint
    //       barriers (LogicalRDD leaves) or reading only literal grids
    //       are exempt by construction — data lineage maps source-derived
    //       values only.
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val perKey = SparkEntry.queries.toSeq.sortBy(_._1).map { case (k, fn) =>
      val df = fn(spark, sf0001)
      val edges = try graft.core.Lineage.of(df) catch {
        case e: Throwable =>
          fail(s"Lineage.of threw for $k: ${e.getMessage}")
      }
      val readsFiles = df.queryExecution.optimizedPlan.collectFirst {
        case r: LogicalRelation => r
      }.isDefined
      spark.catalog.clearCache()
      (k, edges.nonEmpty, readsFiles)
    }
    // COUNT-SHAPED keys are the adjudicated exemption: their every output
    // is a COUNT(*)-derived quantity (or a literal grid), and a count
    // derives from row EXISTENCE, not from any column's value — exactly
    // the control dependency the declared lineage contract excludes (the
    // OpenLineage data-vs-control distinction in core/Lineage's scaladoc).
    // Each key below was inspected: constraint_fk (orphan counts),
    // dedup_eval (precision/recall counts), events_ccdf (threshold
    // counts), graph_bfs (hop levels), graph_degree_dist (band counts),
    // mm_batch_stats (batch counts), set_ops_all (per-op counts),
    // text_feature_hash (bucket census). A key joining this set fails the
    // pin and must be adjudicated the same way.
    val countShaped = Set("constraint_fk", "dedup_eval", "events_ccdf",
      "graph_bfs", "graph_degree_dist", "mm_batch_stats", "set_ops_all",
      "text_feature_hash")
    val offenders = perKey.collect {
      case (k, false, true) if !countShaped.contains(k) => k
    }
    assert(offenders.isEmpty,
      s"keys that read a file source but trace NO output column to it: " +
        s"${offenders.mkString(", ")}")
    val covered = perKey.count(_._2)
    info(s"lineage coverage: $covered/${perKey.size} keys with source edges")
    // pinned floor: measured at the round-12 HEAD; a collapse of the walk
    // (e.g. an unhandled node type swallowing lineage) trips this long
    // before the per-key invariant would
    assert(covered >= 300,
      s"only $covered keys trace to sources — the lineage walk regressed")
  }

  test("meta_analyze: persisted catalog stats flip the CBO join order") {
    graft.ops.Frontier4.metaAnalyze(spark, sf0001) // CTAS + ANALYZE on build
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // collect is pre-order, so for the left-deep 3-way join the LAST Join
    // is the innermost one — the pair the optimizer chose to meet first
    def innermostJoinRefs(df: DataFrame): Set[String] =
      df.queryExecution.optimizedPlan.collect { case j: Join => j }
        .last.condition.map(_.references.map(_.name).toSet)
        .getOrElse(Set.empty[String])
    // stats-less planner (session default, cbo off): the DECLARED order
    // executes — orders meets customer first (the worst order: the full
    // fact table joins an unfiltered dimension)
    val without = innermostJoinRefs(graft.ops.Frontier4.analyzedReadback(spark))
    assert(without.contains("o_custkey") && without.contains("c_custkey"),
      s"stats-less plan no longer executes the declared order: $without")
    // stats + CBO: join reorder consumes the ANALYZE stats (row counts +
    // n_regionkey column stats) and shrinks customer through the 1-in-5
    // nation filter BEFORE meeting orders
    val withStats = graft.ops.Frontier4.withCbo(spark) {
      graft.ops.Frontier4.analyzedReadback(spark)
    }
    val refs = innermostJoinRefs(withStats)
    assert(refs.contains("c_nationkey") && refs.contains("n_nationkey"),
      s"CBO did not reorder the join to the filtered dimension: $refs")
  }

  test("sample_ares: per-row key + TakeOrderedAndProject — no global sort, no window") {
    val p = planString(graft.ops.Frontier3.sampleAres(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be TakeOrderedAndProject, not a global Sort+Limit")
    assert(!p.contains("Window"), "the A-Res draw needs no window")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"),
      "the weighted draw should need no join at all")
  }
}
