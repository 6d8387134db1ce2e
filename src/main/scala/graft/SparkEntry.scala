package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops._

/** Driver contract — SURVEY.md §2.2 is the inventory; each declared key
  * appears in [[queries]] and (where SQL-expressible) in [[oracleSql]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_hash")(spark, "/root/testdata/sf0.001")

  private type Q = (SparkSession, String) => DataFrame

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] = queryMaps.reduce(_ ++ _)

  /** The maps [[queries]] folds: the [[sqlServed]] keys' SQL texts, the
    * entries declared here, then each op module's own `queries` map. No
    * key may appear in two of them (SqlEntrySpec checks the sizes add
    * up). */
  private[graft] def queryMaps: Seq[Map[String, Q]] =
    Seq(sqlServed.map(k => k -> sql(k)).toMap,
      inlineQueries, Multimodal.queries, Sources.queries, Advanced.queries,
      Composite.queries, Insights.queries, Curation.queries,
      Selection.queries, Horizon.queries, Frontier.queries,
      Frontier2.queries, Frontier3.queries, Frontier4.queries,
      Frontier5.queries, Graph.queries)

  /** Keys whose `queries` entry is their SQL text, `SqlCatalog.sql(k)`,
    * their one implementation: a DataFrame function would plan the same
    * (equal output schema, `sameResult` optimized and executed plans, the
    * same join hints). SqlEntrySpec fails on any other key whose function
    * plans like its oracle-backed text. */
  val sqlServed: Set[String] = Set(
    "scan_full", "scan_ordered", "key_lookup", "insert_append",
    "filter_pred", "constraint_check",
    "join_inner", "join_left", "join_full",
    "agg_hash", "agg_distinct", "agg_cube", "agg_grouping_sets",
    "agg_collect", "agg_moments", "agg_period_growth", "agg_seasonality",
    "agg_skyline", "agg_weighted_median",
    "sort_limit_topk", "set_union", "set_intersect", "set_except",
    "subq_exists", "subq_lateral",
    "fn_array", "fn_bitwise", "fn_date", "fn_json", "fn_mask", "fn_math",
    "fn_null", "fn_regex",
    "stream_sliding", "events_pattern",
    "dedup_exact", "dedup_url", "text_pii", "text_quality_lr", "text_tokens",
    "corpus_card", "meta_checksum", "sample_balanced", "sample_systematic",
    "tpch_q1", "tpch_q6", "tpch_q13")

  private def inlineQueries: Map[String, Q] = Map(
    // scans / sources
    "scan_project"     -> Relational.scanProject,
    "insert_parse"     -> Relational.insertParse,
    // filters / constraints
    "constraint_fk"    -> Relational.constraintFk,
    // joins
    "join_broadcast"   -> Relational.joinBroadcast,
    "join_semi"        -> Relational.joinSemi,
    "join_anti"        -> Relational.joinAnti,
    "join_range"       -> Relational.joinRange,
    "join_asof"        -> Relational.joinAsof,
    "join_asof_fwd"    -> Relational.joinAsofFwd,
    "join_asof_tol"    -> Relational.joinAsofTol,
    "join_asof_near"   -> Relational.joinAsofNear,
    "join_cross"       -> Relational.joinCross,
    "join_null_safe"   -> Relational.joinNullSafe,
    // aggregations
    "agg_approx_distinct" -> Relational.aggApproxDistinct,
    "agg_rollup"       -> Relational.aggRollup,
    // windows
    "window_rank"      -> Relational.windowRank,
    "window_running"   -> Relational.windowRunning,
    "window_lag"       -> Relational.windowLag,
    // sorts / set ops
    "set_ops_all"      -> Relational.setOpsAll,
    // scalar function packs
    "fn_string"        -> Functions.fnString,
    "fn_map"           -> Functions.fnMap,
    "fn_unpivot"       -> Functions.fnUnpivot,
    "fn_url"           -> Functions.fnUrl,
    "fn_variant"       -> Functions.fnVariant,
    "fn_try"           -> Functions.fnTry,
    // streaming semantics (batch-mode declared; stream-mode in tests)
    "stream_tumbling"  -> Streaming.streamTumbling,
    "stream_session"   -> Streaming.streamSession,
    "stream_dedup_watermark" -> Streaming.streamDedup,
    "stream_stateful"  -> Streaming.streamStateful,
    "stream_join"      -> Streaming.streamJoin,
    "stream_late_audit" -> Streaming.streamLateAudit,
    "stream_topk"      -> Streaming.streamTopk,
    // LLM-data-pipeline: dedup / similarity / text analysis / multimodal
    "dedup_near"       -> LlmPipeline.dedupNear,
    "dedup_near_salted" -> LlmPipeline.dedupNearSalted,
    "dedup_minhash"    -> LlmPipeline.dedupMinhash,
    "dedup_incremental" -> LlmPipeline.dedupIncremental,
    "dedup_simhash"    -> LlmPipeline.dedupSimhash,
    "dedup_embed"      -> LlmPipeline.dedupEmbed,
    "dedup_embed_lsh"  -> LlmPipeline.dedupEmbedLsh,
    "dedup_cluster"    -> LlmPipeline.dedupCluster,
    "dedup_semantic"   -> LlmPipeline.dedupSemantic(),
    "dedup_bloom"      -> LlmPipeline.dedupBloom,
    "embed_matryoshka" -> LlmPipeline.embedMatryoshka,
    "sample_split"     -> LlmPipeline.sampleSplit,
    "text_oov_rate"    -> LlmPipeline.textOovRate,
    "sim_recall_audit" -> LlmPipeline.simRecallAudit,
    "dedup_report"     -> LlmPipeline.dedupReport,
    "sim_topk"         -> LlmPipeline.simTopk,
    "sim_topk_mips"    -> LlmPipeline.simTopkMips,
    "sim_topk_ivf"     -> LlmPipeline.simTopkIvf,
    "sim_index_persist" -> LlmPipeline.simIndexPersist,
    "sim_index_delta"  -> LlmPipeline.simIndexDelta,
    "sim_knn_join"     -> LlmPipeline.simKnnJoin,
    "sim_maxsim"       -> LlmPipeline.simMaxsim,
    "embed_quantize"   -> LlmPipeline.embedQuantize,
    "embed_pq"         -> LlmPipeline.embedPq,
    "sim_topk_pq"      -> LlmPipeline.simTopkPq,
    "dedup_contaminate" -> LlmPipeline.dedupContaminate,
    "text_stats"       -> LlmPipeline.textStats,
    "text_lang"        -> LlmPipeline.textLang,
    "text_quality"     -> LlmPipeline.textQuality,
    "text_curriculum"  -> LlmPipeline.textCurriculum,
    "text_normalize"   -> LlmPipeline.textNormalize,
    "text_repetition"  -> LlmPipeline.textRepetition,
    "text_fingerprint" -> LlmPipeline.textFingerprint,
    "text_tfidf"       -> LlmPipeline.textTfidf,
    "text_unigram_lm"  -> LlmPipeline.textUnigramLm,
    "text_bigram_lm"   -> LlmPipeline.textBigramLm,
    "text_perplexity"  -> LlmPipeline.textPerplexity,
    "text_collocations" -> LlmPipeline.textCollocations,
    "dedup_para"       -> LlmPipeline.dedupPara,
    "embed_centroid"   -> LlmPipeline.embedCentroid,
    "text_winnow"      -> LlmPipeline.textWinnow,
    "dedup_winnow"     -> LlmPipeline.dedupWinnow,
    "dedup_cdc"        -> LlmPipeline.dedupCdc,
    "text_pack"        -> LlmPipeline.textPack,
    "text_chunk"       -> LlmPipeline.textChunk,
    "text_bpe_pairs"   -> LlmPipeline.textBpePairs,
    "text_mixture"     -> LlmPipeline.textMixture,
    "cluster_kmeans"   -> LlmPipeline.clusterKmeans,
    "pipeline_e2e"     -> LlmPipeline.pipelineE2e,
    "multimodal_join"  -> LlmPipeline.multimodalJoin,
    // round-8: statistical testing / drift / LM smoothing / ingest
    "events_survival"   -> Stats.eventsSurvival,
    "agg_mannwhitney"   -> Stats.aggMannWhitney,
    "agg_bootstrap_ci"  -> Stats.aggBootstrapCi,
    "agg_theil_sen"     -> Stats.aggTheilSen,
    "agg_mad"           -> Stats.aggMad,
    "agg_ratio_ci"      -> Stats.aggRatioCi,
    "agg_power_mde"     -> Stats.aggPowerMde,
    "agg_chi2"          -> Stats.aggChi2,
    "text_ks_drift"     -> Stats.textKsDrift,
    "embed_covariance"  -> Stats.embedCovariance,
    "text_kneser_ney"   -> LlmPipeline.textKneserNey,
    "fn_geo"            -> Functions.fnGeo,
    "merge_idempotent"  -> Sources.mergeIdempotent,
    "text_rouge_overlap" -> LlmPipeline.textRougeOverlap,
    "embed_pca_power"   -> Stats.embedPcaPower(),
    "meta_vacuum"       -> Sources.metaVacuum,
    "stream_changelog"  -> Streaming.streamChangelog,
    "events_markov_stationary" -> Stats.eventsMarkovStationary(),
    "embed_isotropy"    -> Stats.embedIsotropy,
    "agg_hhi"           -> Stats.aggHhi,
    "agg_trimmed_mean"  -> Stats.aggTrimmedMean,
    "agg_effect_size"   -> Stats.aggEffectSize,
    "events_hazard"     -> Stats.eventsHazard,
    "agg_tukey_fences"  -> Stats.aggTukeyFences,
    "events_survival_ci" -> Stats.eventsSurvivalCi,
    "agg_spearman"      -> Stats.aggSpearman,
    "agg_cramers_v"     -> Stats.aggCramersV,
    "dedup_minhash_audit" -> LlmPipeline.dedupMinhashAudit,
    "text_shard_manifest" -> LlmPipeline.textShardManifest,
  )

  /** SQL-text front door ([[SqlCatalog]]): runnable `spark.sql` text per
    * SQL-expressible declared query, against catalog temp views of the
    * harness tables — the analogue of the reference's statement entry
    * point (`/root/reference/db.cpp:428`). */
  def queriesSql: Map[String, String] = SqlCatalog.queriesSql

  /** Run a declared query from SQL text (registers the table views). */
  def sql(name: String): (SparkSession, String) => DataFrame =
    SqlCatalog.sql(name)

  /** Multi-statement scripts for the write-roundtrip queries AND the
    * bounded-round connected-components keys — the reference REPL's
    * statement-sequence interface (`/root/reference/db.cpp:549-598`).
    * With [[queriesSql]] this gives every declared key except
    * `meta_vacuum` (a physical file DELETE) a statement-text path
    * (SqlEntrySpec pins script ≡ DataFrame). */
  def queriesScript: Map[String, Seq[String]] = SqlCatalog.queriesScript

  /** Execute a declared query's statement script; returns the last
    * statement's result. */
  def runScript(name: String): (SparkSession, String) => DataFrame =
    SqlCatalog.runScript(name)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys (approx sketches, streaming
    * engine-side semantics) get the driver's weaker rows-only check. */
  def oracleSql: Map[String, String] = oracleMaps.reduce(_ ++ _)

  /** The maps [[oracleSql]] folds, one per module; no key may appear in
    * two of them (SqlEntrySpec checks the sizes add up). */
  private[graft] def oracleMaps: Seq[Map[String, String]] =
    Seq(RelationalOracles.sql, Functions.oracles, Streaming.oracles,
      LlmPipeline.oracles, Multimodal.oracles, Sources.oracles,
      Advanced.oracles, Composite.oracles, Insights.oracles,
      Curation.oracles, Stats.oracles, Selection.oracles,
      Horizon.oracles, Frontier.oracles, Frontier2.oracles,
      Frontier3.oracles, Frontier4.oracles, Frontier5.oracles, Graph.oracles)
}
