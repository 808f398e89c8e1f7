package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** The declared query surface and its oracle SQL (SURVEY.md §7).
  *
  * Every `queries` entry has a DuckDB-runnable mirror in `oracleSql`
  * (same column names, same ordering, same fixed-point arithmetic — see
  * [[Fx]]) unless the operator is not SQL-expressible (ML/streaming), in
  * which case the driver records a rows-only check.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.recommendTop25(spark, "/root/testdata/sf0.001", minCnt = 5)

  /** Shared oracle fragment: the decoded ratings table (F3). */
  private val ratingsSql =
    "SELECT event_id, user_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS song_id, value AS rating FROM events"

  /** A declared query over an operator that returns an unordered
    * relation: the contract, not the operator, applies the total
    * `keys` order the oracle states. The relation is materialized
    * before the sort, so the sort's range sampling reads computed rows
    * instead of re-running the operator's joins.
    */
  private[graft] final class Ordered(val keys: Seq[String],
      build: (SparkSession, String) => DataFrame)
      extends ((SparkSession, String) => DataFrame) {
    def apply(s: SparkSession, d: String): DataFrame = {
      import Fx.FxMaterialize
      build(s, d).materialized.orderBy(keys.head, keys.tail: _*)
    }
  }

  private def ordered(keys: String*)(
      build: (SparkSession, String) => DataFrame): Ordered =
    new Ordered(keys, build)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "json_decode_ratings" -> ((s, d) => Relational.jsonDecodeRatings(s, d)),
    "agg_count_avg" -> ((s, d) => Relational.aggCountAvg(s, d)),
    "recommend_top25" -> ((s, d) => Relational.recommendTop25(s, d)),
    "join_truth_prediction" -> ((s, d) => Relational.joinTruthPrediction(s, d)),
    "rmse_eval" -> ((s, d) => Relational.rmseEval(s, d)),
    "anti_join_unrated" -> ((s, d) => Relational.antiJoinUnrated(s, d)),
    "union_retrain_input" -> ((s, d) => Relational.unionRetrainInput(s, d)),
    "except_intersect_songs" -> ((s, d) => Relational.exceptIntersectSongs(s, d)),
    "distinct_pairs" -> ((s, d) => Relational.distinctPairs(s, d)),
    "drop_duplicates_by_user" -> ((s, d) => Relational.dropDuplicatesByUser(s, d)),
    "filter_project" -> ((s, d) => Relational.filterProject(s, d)),
    "topk25_parts" -> ((s, d) => Relational.topk25Parts(s, d)),
    "top200_songs" -> ((s, d) => Relational.top200Songs(s, d)),
    "pricing_summary" -> ((s, d) => Relational.pricingSummary(s, d)),
    "pricing_rollup" -> ((s, d) => Relational.pricingRollup(s, d)),
    "ntile_quartiles" -> ((s, d) => Relational.ntileQuartiles(s, d)),
    "window_running_sum" -> ((s, d) => Relational.windowRunningSum(s, d)),
    "quantile_rating_levels" -> ((s, d) => Relational.quantileRatingLevels(s, d)),
    "marker_sessions" -> ((s, d) => Relational.markerSessions(s, d)),
    "sessionize" -> ((s, d) => Relational.sessionize(s, d)),
    "wordcount" -> ((s, d) => TextOps.wordcount(s, d)),
    "sentiment_afinn" -> ((s, d) => TextOps.sentimentAfinn(s, d)),
    "sentiment_polarity" -> ((s, d) => TextOps.sentimentPolarity(s, d)),
    "genre_first_token" -> ((s, d) => TextOps.genreFirstToken(s, d)),
    "lang_id" -> ((s, d) => TextOps.langId(s, d)),
    "corpus_clean" -> ((s, d) => TextOps.cleanCorpus(s, d)),
    "corpus_stats" -> ((s, d) => TextOps.corpusStats(s, d)),
    "corpus_funnel" -> ((s, d) => TextOps.corpusFunnel(s, d)),
    "decontaminate" -> ordered("doc_id")(Dedup.decontaminate(_, _)),
    "quality_score" -> ((s, d) => TextOps.qualityScore(s, d)),
    "token_count" -> ((s, d) => TextOps.tokenCount(s, d)),
    "token_count_bpe" -> ((s, d) => TextOps.tokenCountBpe(s, d)),
    "doc_fingerprint" -> ((s, d) => TextOps.docFingerprint(s, d)),
    "pseudo_json_roundtrip" -> ((s, d) =>
      TextOps.pseudoJsonRoundtrip(s, d).orderBy("event_id")),
    "dedup_exact" -> ordered("keeper")(Dedup.exactDedup(_, _)),
    "dedup_ngram_jaccard" ->
      ordered("doc_a", "doc_b")(Dedup.ngramJaccard(_, _)),
    "dedup_minhash_lsh" -> ordered("doc_a", "doc_b")(Dedup.minhashLsh(_, _)),
    "dedup_clusters" -> ordered("doc_id")(Dedup.nearDupClusters(_, _)),
    "dedup_simhash" -> ordered("doc_a", "doc_b")(Dedup.simhash(_, _)),
    "embedding_neardup" ->
      ordered("vec_a", "vec_b")(Dedup.embeddingNearDup(_, _)),
    "embedding_neardup_lsh" ->
      ordered("vec_a", "vec_b")(Dedup.embeddingNearDupLsh(_, _)),
    "cosine_topk" -> ((s, d) => Similarity.cosineTopK(s, d)),
    "mmr_rerank" -> ((s, d) => Similarity.mmrRerank(s, d)),
    "ann_ivf_topk" -> ((s, d) => Similarity.ivfTopK(s, d)),
    "ann_incremental_ivf" -> ((s, d) => Similarity.incrementalIvfTopK(s, d)),
    "streaming_incremental_ivf" -> ((s, d) =>
      graft.streaming.Streams.incrementalIvfQuery(s, d)),
    "ann_ivf_kmeans_topk" -> ((s, d) => Similarity.ivfKmeansTopK(s, d)),
    "ann_srp_topk" -> ((s, d) => Similarity.srpTopK(s, d)),
    "als_recommend_top25" -> ((s, d) => graft.ml.Recommender.alsRecommendTop25(s, d)),
    "als_grid_rmse" -> ((s, d) => graft.ml.Recommender.alsGridRmse(s, d)),
    "als_factors_topk" -> ((s, _) =>
      graft.ml.Recommender.factorsTopK(s, mllibArtifact(s))),
    "streaming_marker_flush" -> ((s, d) => graft.streaming.Streams.markerFlushQuery(s, d)),
    "streaming_recommend_e2e" -> ((s, d) =>
      graft.streaming.Streams.streamingRecommendE2eQuery(s, d)),
    "streaming_windowed_counts" -> ((s, d) => graft.streaming.Streams.windowedCountsQuery(s, d)),
    "streaming_dsv2_source" -> ((s, _) => graft.streaming.Streams.dsv2StreamQuery(s)),
    "streaming_dsv2_pipe" -> ((s, _) => graft.streaming.Streams.dsv2PipeQuery(s)),
    "streaming_table_feed" -> ((s, d) =>
      graft.streaming.Streams.tableFeedQuery(s, d)),
    "dsv2_incremental_read" -> ((s, d) =>
      graft.sources.ManifestV2.incrementalReadQuery(s, d)),
    "pii_scrub" -> ((s, d) => TextOps.piiScrub(s, d)),
    "bucket_join" -> ((s, d) => graft.sources.Bucketing.bucketJoinQuery(s, d)),
    "dsv2_pushdown_scan" -> ((s, _) => graft.sources.RangeV2.pushdownQuery(s)),
    "dsv2_write_roundtrip" -> ((s, d) =>
      graft.sources.ManifestV2.writeRoundtripQuery(s, d)),
    "dsv2_agg_pushdown" -> ((s, _) => graft.sources.RangeV2.aggPushdownQuery(s)),
    "dsv2_runtime_filter" -> ((s, d) =>
      graft.sources.RangeV2.runtimeFilterQuery(s, d)),
    "dsv2_spj_join" -> ((s, _) => graft.sources.RangeV2.spjJoinQuery(s)),
    "dsv2_catalog_sql" -> ((s, d) =>
      graft.sources.GraftCatalog.catalogSqlQuery(s, d)),
    "dsv2_metadata_delete" -> ((s, d) =>
      graft.sources.GraftCatalog.metadataDeleteQuery(s, d)),
    "dsv2_time_travel" -> ((s, d) =>
      graft.sources.GraftCatalog.timeTravelQuery(s, d)),
    "dsv2_merge_upsert" -> ((s, d) =>
      graft.sources.GraftCatalog.mergeUpsertQuery(s, d)),
    "dsv2_update_rewrite" -> ((s, d) =>
      graft.sources.GraftCatalog.updateRewriteQuery(s, d)),
    "dsv2_delete_rewrite" -> ((s, d) =>
      graft.sources.GraftCatalog.deleteRewriteQuery(s, d)),
    "dsv2_bucketed_join" -> ((s, d) =>
      graft.sources.GraftCatalog.bucketedJoinQuery(s, d)),
    "dsv2_compact_table" -> ((s, d) =>
      graft.sources.GraftCatalog.compactTableQuery(s, d)),
    "dsv2_add_column" -> ((s, d) =>
      graft.sources.GraftCatalog.addColumnQuery(s, d)),
    "dsv2_replace_table" -> ((s, d) =>
      graft.sources.GraftCatalog.replaceTableQuery(s, d)),
    "dsv2_check_constraint" -> ((s, d) =>
      graft.sources.GraftCatalog.checkConstraintQuery(s, d)),
    "dsv2_cluster_by" -> ((s, d) =>
      graft.sources.GraftCatalog.clusterByQuery(s, d)),
    "dsv2_expire_snapshots" -> ((s, d) =>
      graft.sources.GraftCatalog.expireSnapshotsQuery(s, d)),
    "dsv2_stats_agg" -> ((s, d) =>
      graft.sources.GraftCatalog.statsAggQuery(s, d)),
    "dsv2_prune_scan" -> ((s, d) =>
      graft.sources.GraftCatalog.pruneScanQuery(s, d)),
    "dsv2_mor_compact" -> ((s, d) =>
      graft.sources.GraftCatalog.morCompactQuery(s, d)),
    "dsv2_rowgroup_scan" -> ((s, d) =>
      graft.sources.ManifestV2.rowGroupScanQuery(s, d)),
    "dsv2_ts_prune" -> ((s, d) =>
      graft.sources.ManifestV2.tsPruneQuery(s, d)),
    "dsv2_hidden_bucket_join" -> ((s, d) =>
      graft.sources.GraftCatalog.hiddenBucketJoinQuery(s, d)),
    "dsv2_days_partition" -> ((s, d) =>
      graft.sources.GraftCatalog.daysPartitionQuery(s, d)),
    "dsv2_overwrite_where" -> ((s, d) =>
      graft.sources.GraftCatalog.overwriteWhereQuery(s, d)),
    "dsv2_dynamic_overwrite" -> ((s, d) =>
      graft.sources.GraftCatalog.dynamicOverwriteQuery(s, d)),
    "dsv2_runtime_file_prune" -> ((s, d) =>
      graft.sources.GraftCatalog.runtimeFilePruneQuery(s, d)),
    "dsv2_partition_evolution" -> ((s, d) =>
      graft.sources.GraftCatalog.partitionEvolutionQuery(s, d)),
    "dsv2_multi_partition" -> ((s, d) =>
      graft.sources.GraftCatalog.multiPartitionQuery(s, d)),
    "dsv2_snapshot_tag" -> ((s, d) =>
      graft.sources.GraftCatalog.snapshotTagQuery(s, d)),
    "dsv2_timestamp_travel" -> ((s, d) =>
      graft.sources.GraftCatalog.timestampTravelQuery(s, d)),
    "dsv2_branch_wap" -> ((s, d) =>
      graft.sources.GraftCatalog.branchWapQuery(s, d)),
    "dsv2_meta_tables" -> ((s, d) =>
      graft.sources.GraftCatalog.metaTablesQuery(s, d)),
    "dsv2_rename_column" -> ((s, d) =>
      graft.sources.GraftCatalog.renameColumnQuery(s, d)),
    "dsv2_drop_column" -> ((s, d) =>
      graft.sources.GraftCatalog.dropColumnQuery(s, d)),
    "dsv2_widen_type" -> ((s, d) =>
      graft.sources.GraftCatalog.widenTypeQuery(s, d)),
    "streaming_wap" -> ((s, d) =>
      graft.sources.GraftCatalog.streamingWapQuery(s, d)),
    "dsv2_branch_travel" -> ((s, d) =>
      graft.sources.GraftCatalog.branchTravelQuery(s, d)),
    "dsv2_rollback" -> ((s, d) =>
      graft.sources.GraftCatalog.rollbackQuery(s, d)),
    "dsv2_branch_rebase" -> ((s, d) =>
      graft.sources.GraftCatalog.branchRebaseQuery(s, d)),
    "dsv2_partitions_meta" -> ((s, d) =>
      graft.sources.GraftCatalog.partitionsMetaQuery(s, d)),
    "dsv2_clone" -> ((s, d) =>
      graft.sources.GraftCatalog.cloneQuery(s, d)),
    "dsv2_tblproperties" -> ((s, d) =>
      graft.sources.GraftCatalog.tblPropertiesQuery(s, d)),
    "dsv2_refs" -> ((s, d) =>
      graft.sources.GraftCatalog.refsViewQuery(s, d)),
    "dsv2_add_column_default" -> ((s, d) =>
      graft.sources.GraftCatalog.addColumnDefaultQuery(s, d)),
    "dsv2_coalesce_deletes" -> ((s, d) =>
      graft.sources.GraftCatalog.coalesceDeletesQuery(s, d)),
    "dsv2_null_guard_delete" -> ((s, d) =>
      graft.sources.GraftCatalog.nullGuardDeleteQuery(s, d)),
    "dsv2_appendonly_feed" -> ((s, d) =>
      graft.sources.GraftCatalog.appendOnlyFeedQuery(s, d)),
    "dsv2_eq_delete" -> ((s, d) =>
      graft.sources.GraftCatalog.eqDeleteQuery(s, d)),
    "dsv2_eq_delete_str" -> ((s, d) =>
      graft.sources.GraftCatalog.eqDeleteStrQuery(s, d)),
    "dsv2_eq_delete_multi" -> ((s, d) =>
      graft.sources.GraftCatalog.eqDeleteMultiQuery(s, d)),
    "dsv2_changefeed" -> ((s, d) =>
      graft.sources.GraftCatalog.changeFeedQuery(s, d)),
    "streaming_changefeed" -> ((s, d) =>
      graft.sources.GraftCatalog.streamingChangeFeedQuery(s, d)),
    "streaming_partitioned_ingest" -> ((s, d) =>
      graft.sources.GraftCatalog.streamingPartitionedIngestQuery(s, d)),
    "streaming_upsert_sink" -> ((s, d) =>
      graft.streaming.Streams.streamingUpsertQuery(s, d)),
    "streaming_upsert_tombstone" -> ((s, d) =>
      graft.streaming.Streams.streamingTombstoneQuery(s, d)),
    "streaming_upsert_string_key" -> ((s, d) =>
      graft.streaming.Streams.streamingUpsertStrQuery(s, d)),
    "skew_salted_join" -> ((s, d) => Skew.saltedJoinQuery(s, d)),
    "asof_join_attribution" -> ((s, d) => Temporal.asofAttributionQuery(s, d)),
    "range_join_nearby" -> ((s, d) => Temporal.nearbyClicksQuery(s, d)),
    "hash_split" -> ((s, d) => TextOps.hashSplit(s, d)),
    "repetition_score" -> ((s, d) => TextOps.repetitionScore(s, d)),
    "tfidf_top_terms" -> ((s, d) => TextOps.tfidfTopTerms(s, d)),
    "streaming_asof_enrich" -> ((s, d) =>
      graft.streaming.TemporalState.streamingAsofQuery(s, d)),
    "label_centroids" -> ((s, d) => Similarity.labelCentroids(s, d)),
    "orc_roundtrip" -> ((s, d) => graft.sources.Sources.orcRoundtrip(s, d)),
    "merge_schema_read" -> ((s, d) => graft.sources.Sources.mergeSchemaRead(s, d)),
    "pivot_event_counts" -> ((s, d) => Relational.pivotEventCounts(s, d)),
    "token_pack" -> ((s, d) => TextOps.tokenPack(s, d)),
    "shard_export" -> ((s, d) => TextOps.shardExport(s, d)),
    "chunk_docs" -> ((s, d) => TextOps.chunkDocs(s, d)),
    "vocab_oov" -> ((s, d) => TextOps.vocabOov(s, d)),
    "media_meta" -> ((s, d) => graft.multimodal.Multimodal.mediaMeta(s, d)),
    "media_frame_sample" -> ((s, d) => graft.multimodal.Multimodal.frameSample(s, d)),
    "media_embed" -> ((s, d) => graft.multimodal.Multimodal.mediaEmbed(s, d)),
    "media_resize" -> ((s, d) => graft.multimodal.Multimodal.mediaResize(s, d)),
    "media_quarantine" -> ((s, d) => graft.multimodal.Multimodal.mediaQuarantine(s, d)),
    "media_phash_dedup" -> ((s, d) =>
      graft.multimodal.Multimodal.mediaPhashDedup(s, d)),
    "audio_resample" -> ((s, d) => graft.multimodal.Multimodal.audioResample(s, d)),
    "csv_roundtrip" -> ((s, d) => graft.sources.Sources.csvRoundtrip(s, d)),
    "json_roundtrip" -> ((s, d) => graft.sources.Sources.jsonRoundtrip(s, d)),
    "partition_prune" -> ((s, d) => graft.sources.Sources.partitionPruneRoundtrip(s, d)),
    "mixture_rebalance" -> ((s, d) => TextOps.mixtureRebalance(s, d)),
    "temperature_mixture" -> ((s, d) => TextOps.temperatureMixture(s, d)),
    "stratified_sample" -> ((s, d) => TextOps.stratifiedSample(s, d)),
    "embedding_quantize" -> ((s, d) => Similarity.quantizeInt8(s, d)),
    "dedup_incremental" ->
      ordered("doc_a", "doc_b")(Dedup.minhashIncremental(_, _)),
    "streaming_join_attribution" -> ((s, d) =>
      graft.streaming.Streams.streamStreamJoinQuery(s, d)),
    "mixture_rebalance_2d" -> ((s, d) => TextOps.mixtureRebalance2d(s, d)),
    "quality_filter_top_p" -> ((s, d) => TextOps.qualityTopP(s, d)),
    "streaming_incremental_minhash" -> ((s, d) =>
      graft.streaming.Streams.incrementalMinhashQuery(s, d)),
    "bm25_topk" -> ((s, d) => Retrieval.bm25TopK(s, d)),
    "funnel_steps" -> ((s, d) => Relational.funnelSteps(s, d)),
    "shipping_priority" -> ((s, d) => Relational.shippingPriority(s, d)),
    "decontaminate_bloom" ->
      ordered("doc_id")(Dedup.decontaminateBloom(_, _)),
    "dup_span_coverage" -> ordered("doc_id")(Dedup.dupSpanCoverage(_, _)),
    "approx_distinct_hll" -> ((s, d) => Sketches.hllDistinct(s, d)),
    "streaming_hll" -> ((s, d) => graft.streaming.Streams.hllStreamQuery(s, d)),
    "streaming_funnel" -> ((s, d) => graft.streaming.Streams.funnelStreamQuery(s, d)),
    "profile_columns" -> ((s, d) => Sketches.profileColumns(s, d)),
    "zorder_key" -> ((s, d) => graft.sources.ZOrder.zorderKey(s, d)),
    "histogram_quantiles" -> ((s, d) => Sketches.histogramQuantiles(s, d)),
    "negative_samples" -> ((s, d) => Retrieval.negativeSamples(s, d)),
    "table_diff" -> ((s, d) => Relational.tableDiff(s, d)),
    "merge_apply" -> ((s, d) => graft.sources.Maintenance.mergeApplyQuery(s, d)),
    "table_fingerprint" -> ((s, d) => graft.sources.Maintenance.tableFingerprint(s, d)),
    "moving_window_features" -> ((s, d) => Relational.movingWindowFeatures(s, d)),
    "ewma_value" -> ((s, d) => Temporal.ewmaValue(s, d)),
    "triangle_counts" -> ((s, d) => Graph.triangleCounts(s, d)),
    "graph_components" -> ((s, d) => Graph.graphComponents(s, d)),
    "daily_activity" -> ((s, d) => Relational.dailyActivity(s, d)),
    "distribution_drift" -> ((s, d) => TextOps.distributionDrift(s, d)),
    "streaming_ewma" -> ((s, d) => graft.streaming.Streams.ewmaStreamQuery(s, d)),
    "streaming_exact_dedup" -> ((s, d) => graft.streaming.Streams.dedupStreamQuery(s, d)),
    "streaming_dedup_watermark" -> ((s, d) =>
      graft.streaming.Streams.dedupWithinWatermarkQuery(s, d)),
    "entity_match" -> ((s, d) => graft.operators.EntityResolution.entityMatch(s, d)),
    "kmv_set_ops" -> ((s, d) => Sketches.kmvSetOps(s, d)),
    "pagerank_corated" -> ((s, d) => Graph.pagerank(s, d)),
    "item_similarity_topk" -> ((s, d) => Graph.itemSimilarityTopK(s, d)),
    "cms_heavy_hitters" -> ((s, d) => Sketches.cmsHeavyHitters(s, d)),
    "sax_motifs" -> ((s, d) => Temporal.saxMotifs(s, d)),
    "leakage_safe_split" -> ((s, d) => TextOps.leakageSafeSplit(s, d)),
    "streaming_cms" -> ((s, d) => graft.streaming.Streams.cmsStreamQuery(s, d)),
    "returned_item_ranking" -> ((s, d) => Relational.returnedItemRanking(s, d)),
    "word_associations" -> ((s, d) => TextOps.wordAssociations(s, d)),
    "compact_roundtrip" -> ((s, d) => graft.sources.Sources.compactRoundtrip(s, d)),
    "streaming_quantiles" -> ((s, d) => graft.streaming.Streams.histStreamQuery(s, d)),
    "cohort_retention" -> ((s, d) => Relational.cohortRetention(s, d)),
    "scd2_dimension" -> ((s, d) => Relational.scd2Dimension(s, d)),
    "topk_per_group" -> ((s, d) => Relational.topkPerGroup(s, d)),
    "event_transitions" -> ((s, d) => Relational.eventTransitions(s, d)),
    "winsorize" -> ((s, d) => Relational.winsorize(s, d)),
    "dq_audit" -> ((s, d) => Audit.dqAudit(s, d)),
    "listagg_sessions" -> ((s, d) => Relational.listaggSessions(s, d)),
    "sql_variables_pipeline" -> ((s, d) => Relational.sqlVariablesQuery(s, d)),
    "sql_scripting_loop" -> ((s, d) => Relational.sqlScriptingQuery(s, d)),
    "collation_group" -> ((s, d) => TextOps.collationGroup(s, d)),
    "forget_user_cascade" -> ((s, d) => Audit.forgetUserCascade(s, d)),
    "t_closeness_audit" -> ((s, d) => Audit.tClosenessAudit(s, d)),
    "benford_audit" -> ((s, d) => Audit.benfordAudit(s, d)),
    "activity_streaks" -> ((s, d) => Relational.activityStreaks(s, d)),
    "growth_accounting" -> ((s, d) => Relational.growthAccounting(s, d)),
    "assoc_rules" -> ((s, d) => Basket.assocRules(s, d)),
    "rolling_distinct_users" -> ((s, d) => Temporal.rollingDistinctUsers(s, d)),
    "gap_fill_ffill" -> ((s, d) => Temporal.gapFillDaily(s, d)),
    "local_supplier_volume" -> ((s, d) => Relational.localSupplierVolume(s, d)),
    "temporal_split_embargo" -> ((s, d) => Relational.temporalSplitEmbargo(s, d)),
    "anomaly_zscore" -> ((s, d) => Temporal.anomalyZscore(s, d)),
    "incremental_agg_merge" -> ((s, d) =>
      graft.sources.Maintenance.incrementalAggMerge(s, d)),
    "streaming_session_window" -> ((s, d) =>
      graft.streaming.Streams.sessionWindowQuery(s, d)),
    "cube_report" -> ((s, d) => Relational.cubeReport(s, d)),
    "supplier_part_variety" -> ((s, d) => Relational.supplierPartVariety(s, d)),
    "corr_moments" -> ((s, d) => Audit.corrMoments(s, d)),
    "open_orders_daily" -> ((s, d) => Temporal.openOrdersDaily(s, d)),
    "streaming_scd2" -> ((s, d) => graft.streaming.Streams.scd2StreamQuery(s, d)),
    "pareto_frontier" -> ((s, d) => Relational.paretoFrontier(s, d)),
    "quantile_normalize" -> ((s, d) => Relational.quantileNormalize(s, d)),
    "label_propagation" -> ((s, d) => Graph.labelPropagation(s, d)),
    "snapshot_publish" -> ((s, d) =>
      graft.sources.Maintenance.snapshotPublishQuery(s, d)),
    "sample_k_per_group" -> ((s, d) => TextOps.sampleKPerGroup(s, d)),
    "forecast_revenue_change" -> ((s, d) => Relational.forecastRevenueChange(s, d)),
    "priority_line_counts" -> ((s, d) => Relational.priorityLineCounts(s, d)),
    "late_order_priority" -> ((s, d) => Relational.lateOrderPriority(s, d)),
    "nation_volume_shipping" -> ((s, d) => Relational.nationVolumeShipping(s, d)),
    "promo_revenue_ratio" -> ((s, d) => Relational.promoRevenueRatio(s, d)),
    "large_volume_orders" -> ((s, d) => Relational.largeVolumeOrders(s, d)),
    "top_supplier_revenue" -> ((s, d) => Relational.topSupplierRevenue(s, d)),
    "small_quantity_revenue" -> ((s, d) => Relational.smallQuantityRevenue(s, d)),
    "waiting_supplier_ranking" -> ((s, d) => Relational.waitingSupplierRanking(s, d)),
    "idle_customer_balance" -> ((s, d) => Relational.idleCustomerBalance(s, d)),
    "nation_market_share" -> ((s, d) => Relational.nationMarketShare(s, d)),
    "customer_order_distribution" -> ((s, d) =>
      Relational.customerOrderDistribution(s, d)),
    "disjunctive_discount_revenue" -> ((s, d) =>
      Relational.disjunctiveDiscountRevenue(s, d)),
    "ann_pq_topk" -> ((s, d) => Similarity.pqTopK(s, d)),
    "boilerplate_remove" -> ((s, d) => TextOps.boilerplateRemove(s, d)),
    "bigram_coverage" -> ((s, d) => TextOps.bigramCoverage(s, d)),
    "median_impute" -> ((s, d) => Relational.medianImpute(s, d)),
    "weighted_sample" -> ((s, d) => TextOps.weightedSample(s, d)),
    "length_bucket_audit" -> ((s, d) => TextOps.lengthBucketAudit(s, d)),
    "cluster_best_keeper" ->
      ordered("cluster_id")(Dedup.clusterBestKeeper(_, _)),
    "zonemap_skip" -> ((s, d) => graft.sources.DataSkipping.zonemapSkip(s, d)),
    "runtime_filter_join" -> ((s, d) => RuntimeFilter.runtimeFilterJoin(s, d)),
    "gopher_quality_filter" -> ((s, d) => TextOps.gopherQualityFilter(s, d)),
    "unigram_surprisal" -> ((s, d) => TextOps.unigramSurprisal(s, d)),
    "text_normalize" -> ((s, d) => TextOps.textNormalize(s, d)),
    "feature_hash" -> ((s, d) => TextOps.featureHash(s, d)),
    "dsir_select" -> ((s, d) => TextOps.dsirSelect(s, d)),
    "target_encode_loo" -> ((s, d) => Relational.targetEncodeLoo(s, d)),
    "k_anonymity_audit" -> ((s, d) => Audit.kAnonymityAudit(s, d)),
    "embedding_covariance" -> ((s, d) => Similarity.embeddingCovariance(s, d)),
    "mad_outliers" -> ((s, d) => Audit.madOutliers(s, d)),
    "poisson_bootstrap" -> ((s, d) => Audit.poissonBootstrap(s, d)),
    "streaming_left_join" -> ((s, d) =>
      graft.streaming.Streams.streamStreamLeftJoinQuery(s, d)),
    "zonemap_incremental" -> ((s, d) =>
      graft.sources.DataSkipping.zonemapIncremental(s, d)),
    "pagerank_personalized" -> ((s, d) => Graph.pagerankPersonalized(s, d)),
    "bloom_file_skip" -> ((s, d) =>
      graft.sources.DataSkipping.bloomFileSkip(s, d)),
    "json_corrupt_recovery" -> ((s, d) =>
      graft.sources.Sources.jsonCorruptRecovery(s, d)),
    "zorder_skip" -> ((s, d) => graft.sources.DataSkipping.zorderSkip(s, d)),
    "position_attribution" -> ((s, d) => Temporal.positionAttribution(s, d)),
    "incremental_join_view" -> ((s, d) =>
      graft.sources.Maintenance.incrementalJoinView(s, d)),
    "binary_classifier_eval" -> ((s, d) => Audit.binaryClassifierEval(s, d)),
    "label_horizon" -> ((s, d) => Temporal.labelHorizon(s, d)),
    "point_in_time_join" -> ((s, d) => Temporal.pointInTimeJoin(s, d)),
    "user_similarity_topk" -> ((s, d) => Graph.userSimilarityTopK(s, d)),
    "streaming_topk_complete" -> ((s, d) =>
      graft.streaming.Streams.topkCompleteQuery(s, d)),
    "semantic_dedup_keeper" ->
      ordered("cluster_id")(Dedup.semanticDedupKeeper(_, _)),
    "trend_slope" -> ((s, d) => Temporal.trendSlope(s, d)),
    "ohlc_bars" -> ((s, d) => Temporal.ohlcBars(s, d)),
    "streaming_anomaly" -> ((s, d) =>
      graft.streaming.Streams.anomalyStreamQuery(s, d)),
    "bitmap_set_ops" -> ((s, d) => Sketches.bitmapSetOps(s, d)),
    "streaming_file_source" -> ((s, d) =>
      graft.streaming.Streams.fileSourceQuery(s, d)),
    "dedup_method_agreement" -> ((s, d) => Dedup.dedupMethodAgreement(s, d)),
    "topn_other_rollup" -> ((s, d) => Relational.topnOtherRollup(s, d)),
    "dup_rate_by_source" -> ordered("source")(Dedup.dupRateBySource(_, _)),
    "streaming_merge_apply" -> ((s, d) =>
      graft.streaming.Streams.mergeApplyStreamQuery(s, d)),
    "ranking_metrics" -> ((s, d) => RankingEval.rankingMetrics(s, d)),
    "hll_daily_merge" -> ((s, d) => Sketches.hllDailyMerge(s, d)),
    "ks_drift" -> ((s, d) => Audit.ksDrift(s, d)),
    "score_lift_table" -> ((s, d) => Audit.scoreLiftTable(s, d)),
    "rrf_fusion" -> ((s, d) => Retrieval.rrfFusion(s, d)),
    "audio_features" -> ((s, d) =>
      graft.multimodal.Multimodal.audioFeatures(s, d)),
    "unpivot_metrics" -> ((s, d) => Relational.unpivotMetrics(s, d)),
    "link_prediction" -> ((s, d) => Graph.linkPrediction(s, d)),
    "crossval_folds" -> ((s, d) => Audit.crossvalFolds(s, d)),
    "bpe_merges" -> ((s, d) => TextOps.bpeMerges(s, d)),
    "bpe_tokenize" -> ((s, d) => TextOps.bpeTokenize(s, d)),
    "rec_coverage" -> ((s, d) => Graph.recCoverage(s, d)),
    "gate_agreement" -> ((s, d) => TextOps.gateAgreement(s, d)),
    "neyman_allocation" -> ((s, d) => Audit.neymanAllocation(s, d)),
    "dpp_join" -> ((s, d) => graft.sources.DataSkipping.dppJoin(s, d)),
    "ann_recall_report" -> ((s, d) => Similarity.annRecallReport(s, d)),
    "binary_file_ingest" -> ((s, d) =>
      graft.multimodal.Multimodal.binaryFileIngest(s, d)),
    "streaming_tws_ttl" -> ((s, d) =>
      graft.streaming.Streams.twsTtlCountsQuery(s, d)),
    "streaming_tws_stats" -> ((s, d) =>
      graft.streaming.Streams.twsRunningStatsQuery(s, d)),
    "dedup_containment" ->
      ordered("doc_small", "doc_large")(Dedup.containmentDedup(_, _)),
    "histogram_daily_merge" -> ((s, d) => Sketches.histogramDailyMerge(s, d)),
    "min_cost_supplier" -> ((s, d) => Relational.minCostSupplier(s, d)),
    "product_profit" -> ((s, d) => Relational.productProfit(s, d)),
    "important_parts" -> ((s, d) => Relational.importantParts(s, d)),
    "dedup_prefix_join" ->
      ordered("doc_a", "doc_b")(Dedup.prefixJaccardJoin(_, _)),
    "dedup_substring_spans" ->
      ordered("doc_a", "doc_b")(Dedup.substringSpans(_, _)),
    "dedup_substring_scrub" -> ordered("doc_id")(Dedup.substringScrub(_, _)),
    "hierarchy_rollup" -> ((s, d) => Graph.hierarchyRollup(s, d)),
    "ab_test_report" -> ((s, d) => Audit.abTestReport(s, d)),
    "video_scene_cuts" -> ((s, d) =>
      graft.multimodal.Multimodal.videoSceneCuts(s, d)),
    "hilbert_key" -> ((s, d) => graft.sources.Hilbert.hilbertKey(s, d)),
    "curve_clustering" -> ((s, d) => graft.sources.Hilbert.curveClustering(s, d)),
    "bigram_surprisal" -> ((s, d) => TextOps.bigramSurprisal(s, d)),
    "interval_overlap_join" -> ((s, d) => Temporal.intervalOverlapJoin(s, d)),
    "xml_roundtrip" -> ((s, d) => graft.sources.Sources.xmlRoundtrip(s, d)),
    "funnel_windowed" -> ((s, d) => Relational.funnelWindowed(s, d)),
    "streaming_tws_timer_sessions" -> ((s, d) =>
      graft.streaming.Streams.twsTimerSessionsQuery(s, d)),
    "variant_decode" -> ((s, d) => Relational.variantDecode(s, d)),
    "multi_distinct_report" -> ((s, d) => Relational.multiDistinctReport(s, d)),
    "twap_value" -> ((s, d) => Relational.twapValue(s, d)),
    "posting_list_stats" -> ((s, d) => Retrieval.postingListStats(s, d)),
    "hll_sliding_window" -> ((s, d) => Sketches.hllSlidingWindow(s, d)),
    "rfm_segments" -> ((s, d) => Relational.rfmSegments(s, d)),
    "streaming_tws_recent_items" -> ((s, d) =>
      graft.streaming.Streams.twsRecentItemsQuery(s, d)),
    "streaming_tws_map_counts" -> ((s, d) =>
      graft.streaming.Streams.twsMapCountsQuery(s, d)),
    "streaming_tws_initial_state" -> ((s, d) =>
      graft.streaming.Streams.twsInitialStateQuery(s, d)),
    "excess_share_suppliers" -> ((s, d) => Relational.excessShareSuppliers(s, d)),
    "range_frame_revenue" -> ((s, d) => Relational.rangeFrameRevenue(s, d)),
    "l_diversity_audit" -> ((s, d) => Audit.lDiversityAudit(s, d)),
    "asof_join_forward" -> ((s, d) => Temporal.asofForwardQuery(s, d)),
    "asof_join_nearest" -> ((s, d) => Temporal.asofNearestQuery(s, d)),
    "rolling_median" -> ((s, d) => Temporal.rollingMedian(s, d)),
    "interpolate_daily" -> ((s, d) => Temporal.interpolateDaily(s, d)),
    "ship_latency_percentiles" -> ((s, d) =>
      Relational.shipLatencyPercentiles(s, d)),
  )

  /** Queries excluded from the timing bench: ALS training dominates
    * wall-clock and measures MLlib, not this engine's operators. They
    * still run in Verify, fully hash-checked against their DuckDB
    * oracles (rank-tagged factor export) like every other query — the
    * exclusion is timing-only.
    */
  val benchExcluded: Set[String] =
    Set("als_recommend_top25", "als_grid_rmse", "streaming_recommend_e2e")

  /** A saved mllib MatrixFactorizationModel in the layout the
    * reference ships (spark_music.py:116's model.save output) — read
    * directly by both the Spark query and the DuckDB oracle for
    * `als_factors_topk`. Constant because the oracle SQL is a static
    * string; built by [[mllibArtifact]] on first use, not at init.
    */
  val MllibArtifactPath = "/tmp/graft_mllib_als"
  private var mllibBuilt = false

  /** [[MllibArtifactPath]], trained and saved once per JVM. */
  def mllibArtifact(spark: SparkSession): String = synchronized {
    if (!mllibBuilt) {
      graft.ml.Recommender.saveMllibModel(spark, MllibArtifactPath)
      mllibBuilt = true
    }
    MllibArtifactPath
  }

  /** Shared oracle fragments for shingle-based dedup: word 3-gram
    * shingles hashed to 60-bit BIGINTs, mirroring Dedup.shingleSet /
    * Dedup.hash60 bit-for-bit (`conv(substr(md5,1,15),16,10)` in Spark
    * == `CAST('0x'||substr(md5,1,15) AS BIGINT)` in DuckDB).
    */
  private def h60(x: String) =
    s"CAST(('0x' || substr(md5($x), 1, 15)) AS BIGINT)"
  private val shingleCtes =
    s"""d AS (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents),
       |sh AS (SELECT DISTINCT doc_id, unnest(ss) AS h FROM (
       |  SELECT doc_id, CASE WHEN len(l) < 3 THEN [${h60("text")}]
       |    ELSE list_transform(generate_series(1, len(l) - 2),
       |           i -> ${h60("array_to_string(l[i:i+2], ' ')")}) END AS ss FROM d)),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       |keep AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) <= ${Dedup.DefaultMaxDf}),
       |shc AS (SELECT sh.doc_id, sh.h FROM sh JOIN keep USING (h)),
       |common AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
       |  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin

  /** Word n-gram shingle CTE for arbitrary n (the n=3 jaccard/minhash
    * CTEs above predate this and stay frozen verbatim).
    */
  private def shingleSqlCte(cte: String, n: Int): String =
    s"""$cte AS (SELECT DISTINCT doc_id, unnest(ss) AS h FROM (
       |  SELECT doc_id, CASE WHEN len(l) < $n THEN [${h60("text")}]
       |    ELSE list_transform(generate_series(1, len(l) - ${n - 1}),
       |           i -> ${h60(s"array_to_string(l[i:i+${n - 1}], ' ')")}) END AS ss
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents)))""".stripMargin

  /** Funnel SQL (chained-min fixpoint) — shared by funnel_steps (whole
    * table) and streaming_funnel (the HarnessFeedCap-bounded feed via
    * `extraWhere`).
    */
  private def funnelSql(extraWhere: String): String = {
    val stages = graft.operators.Relational.FunnelStages
    val ctes = stages.zipWithIndex.map { case (st, i) =>
      val prev = if (i == 0) "" else
        s" JOIN s${i - 1} USING (user_id) WHERE e.tsu > s${i - 1}.t_${stages(i - 1)}"
      s"""s$i AS (SELECT user_id, MIN(tsu) AS t_$st
         |  FROM (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS tsu
         |        FROM events WHERE event_type = '$st'$extraWhere) e$prev
         |  GROUP BY user_id)""".stripMargin
    }.mkString(",\n")
    val tCols = stages.map(st => s"t_$st").mkString(", ")
    val nStages = stages.map(st =>
      s"CASE WHEN t_$st IS NOT NULL THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH u AS (SELECT DISTINCT user_id FROM events
       |  WHERE event_type IN (${stages.map(s => s"'$s'").mkString(", ")})$extraWhere),
       |$ctes
       |SELECT user_id, CAST($nStages AS INTEGER) AS n_stages, $tCols
       |FROM u ${stages.indices.map(i => s"LEFT JOIN s$i USING (user_id)").mkString(" ")}
       |ORDER BY user_id""".stripMargin
  }

  /** Connected components over the minhash pairs as a recursive CTE
    * (no trailing ORDER BY): `reach` enumerates every (node, label)
    * with a path label→node and label < node, so MIN(label) per node
    * is the true component minimum — the genuine fixed point,
    * independent of any round count. The Spark loop iterates min-label
    * propagation (with pointer jumping) to its own DETECTED fixed
    * point, so both sides converge to the same labels with no unroll
    * parity to maintain. WITH RECURSIVE sits inside a derived table
    * because DuckDB does not resolve the pair CTE's own nested WITH
    * under a recursive WITH clause. Shared by dedup_clusters and
    * leakage_safe_split.
    */
  private lazy val dedupClustersSql =
    s"""WITH pairs AS ($minhashPairsSql),
       |verts AS (SELECT doc_a AS id FROM pairs UNION SELECT doc_b FROM pairs),
       |sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs)
       |SELECT node AS doc_id, MIN(label) AS cluster_id FROM (
       |  WITH RECURSIVE reach AS (
       |    SELECT id AS node, id AS label FROM verts
       |    UNION
       |    SELECT s.dst AS node, r.label
       |    FROM reach r JOIN sym s ON s.src = r.node
       |    WHERE r.label < s.dst)
       |  SELECT * FROM reach)
       |GROUP BY node""".stripMargin

  /** Cluster SQL over embedding LSH pairs — the genuine fixed point as
    * a recursive CTE, same shape as [[dedupClustersSql]].
    */
  private lazy val embeddingClustersSql =
    s"""WITH pairs AS ($embeddingLshPairsSql),
       |verts AS (SELECT vec_a AS id FROM pairs UNION SELECT vec_b FROM pairs),
       |sym AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
       |  UNION ALL SELECT vec_b, vec_a FROM pairs)
       |SELECT node AS doc_id, MIN(label) AS cluster_id FROM (
       |  WITH RECURSIVE reach AS (
       |    SELECT id AS node, id AS label FROM verts
       |    UNION
       |    SELECT s.dst AS node, r.label
       |    FROM reach r JOIN sym s ON s.src = r.node
       |    WHERE r.label < s.dst)
       |  SELECT * FROM reach)
       |GROUP BY node""".stripMargin

  /** Best-quality keeper statement over any (doc_id, cluster_id) SQL —
    * shared by cluster_best_keeper (MinHash clusters) and
    * semantic_dedup_keeper (embedding clusters).
    */
  private def keeperSql(clustersSql: String): String =
    s"""WITH cl AS ($clustersSql),
       |q AS (SELECT doc_id,
       |    LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
       |    + CAST(len(list_distinct(l)) AS DOUBLE) / CAST(len(l) AS DOUBLE) * 0.5
       |    + CAST(len(list_filter(l, x -> x IN ${inList(graft.functions.TextFns.stopwordProfiles("en"))})) AS DOUBLE)
       |      / CAST(len(l) AS DOUBLE) * 0.25 AS quality
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents)),
       |m AS (SELECT cl.cluster_id, cl.doc_id, q.quality
       |  FROM cl JOIN q USING (doc_id))
       |SELECT cluster_id, keeper, quality, n_members FROM (
       |  SELECT cluster_id, doc_id AS keeper, quality,
       |    CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members,
       |    ROW_NUMBER() OVER (PARTITION BY cluster_id
       |      ORDER BY quality DESC, doc_id) AS rn
       |  FROM m) WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** Decontamination SQL — shared by decontaminate (broadcast plan) and
    * decontaminate_bloom (Bloom-prefilter + shuffle-verify plan): both
    * compute the same relation by construction.
    */
  private lazy val decontaminateSql =
    s"""WITH ${shingleSqlCte("sh8", 8)},
       |bench AS (SELECT DISTINCT h FROM sh8 WHERE doc_id % 49 = 0)
       |SELECT doc_id, COUNT(*) AS n_contaminated
       |FROM sh8 JOIN bench USING (h)
       |WHERE doc_id % 49 <> 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Token-packing SQL — shared by token_pack and shard_export (the
    * partitioned layout must be row-identical to the packing).
    */
  private val tokenPackSql =
    """SELECT doc_id, n_tokens,
      |  CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard_id
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
      |      ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** MinHash+LSH pair SQL (no trailing ORDER BY) — shared by the
    * dedup_minhash_lsh oracle and, CTE-wrapped, by dedup_clusters.
    */
  private lazy val minhashPairsSql: String = {
    import graft.operators.Dedup.{P, hashParams}
    val sigCols = hashParams.zipWithIndex.map { case ((a, b), j) =>
      s"min(((h % $P) * $a + $b) % $P) AS sig$j"
    }.mkString(", ")
    val bandRows = (0 until 4).map { b =>
      val p = (0 until 4).map(i => s"sig${b * 4 + i}")
      s"SELECT doc_id, $b AS band, ${p(0)} * $P + ${p(1)} AS k1, ${p(2)} * $P + ${p(3)} AS k2 FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH $shingleCtes,
       |sig AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
       |band AS (
       |  $bandRows),
       |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db FROM band x
       |  JOIN band y ON x.band = y.band AND x.k1 = y.k1 AND x.k2 = y.k2 AND x.doc_id < y.doc_id)
       |SELECT cand.da AS doc_a, cand.db AS doc_b,
       |  CAST(c AS DOUBLE) / (x.sz + y.sz - c) AS jaccard
       |FROM cand JOIN common ON cand.da = common.da AND cand.db = common.db
       |JOIN sizes x ON cand.da = x.doc_id JOIN sizes y ON cand.db = y.doc_id""".stripMargin
  }

  /** Shared oracle fragments for vector search (double-cast embeddings
    * with precomputed norms — bit-identical to the Spark double fold).
    */
  private val vecCtes =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e)""".stripMargin

  /** MMR greedy oracle: the k selection rounds UNROLLED (the
    * labelPropagationSql idiom) — round i scores every unselected
    * candidate as 0.5·rel − 0.5·max(sim to the i−1 already-selected)
    * and takes the per-query argmax (ties on vec_id). rel/sim are the
    * same cosine doubles as cosine_topk, so the greedy trajectory is
    * bit-deterministic.
    */
  private lazy val mmrRerankSql: String = {
    val (k, topN) = (5, 20)
    val rounds = (2 to k).map { i =>
      val pre = (1 until i).map(j => s"SELECT * FROM sel$j")
        .mkString(" UNION ALL ")
      s"""pre$i AS ($pre),
         |sc$i AS (SELECT c.query_id, c.neighbor_id,
         |    0.5 * c.rel - 0.5 * MAX(s.s) AS sc
         |  FROM cand c
         |  JOIN msim s ON s.query_id = c.query_id AND s.ca = c.neighbor_id
         |  JOIN pre$i p ON p.query_id = s.query_id AND p.vec_id = s.cb
         |  LEFT JOIN pre$i me
         |    ON me.query_id = c.query_id AND me.vec_id = c.neighbor_id
         |  WHERE me.vec_id IS NULL
         |  GROUP BY c.query_id, c.neighbor_id, c.rel),
         |sel$i AS (SELECT query_id, neighbor_id AS vec_id, $i AS rank,
         |    sc AS mmr FROM (
         |  SELECT query_id, neighbor_id, sc, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY sc DESC, neighbor_id) AS rn
         |  FROM sc$i) t WHERE rn = 1)""".stripMargin
    }
    s"""WITH $vecCtes,
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 8),
       |scored AS (SELECT query_id, a.vec_id AS neighbor_id,
       |    list_inner_product(qv, a.v) / qn / a.nrm AS cos
       |  FROM n a JOIN q ON a.vec_id <> query_id),
       |cand AS (SELECT query_id, neighbor_id, cos AS rel FROM (
       |  SELECT query_id, neighbor_id, cos, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
       |  FROM scored) t WHERE rk <= $topN),
       |msim AS (SELECT x.query_id, x.neighbor_id AS ca, y.neighbor_id AS cb,
       |    list_inner_product(na.v, nb.v) / na.nrm / nb.nrm AS s
       |  FROM cand x JOIN cand y
       |    ON x.query_id = y.query_id AND x.neighbor_id <> y.neighbor_id
       |  JOIN n na ON na.vec_id = x.neighbor_id
       |  JOIN n nb ON nb.vec_id = y.neighbor_id),
       |sel1 AS (SELECT query_id, neighbor_id AS vec_id, 1 AS rank,
       |    0.5 * rel AS mmr FROM (
       |  SELECT query_id, neighbor_id, rel, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rn
       |  FROM cand) t WHERE rn = 1),
       |${rounds.mkString(",\n")}
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, mmr
       |FROM (${(1 to k).map(j => s"SELECT * FROM sel$j").mkString(" UNION ALL ")}) u
       |ORDER BY query_id, rank""".stripMargin
  }

  /** SRP-banded embedding near-dup pair SQL (no trailing ORDER BY) —
    * shared by the embedding_neardup_lsh oracle and, CTE-wrapped, by
    * semantic_dedup_keeper's cluster resolution.
    */
  private lazy val embeddingLshPairsSql: String = {
    import graft.operators.Similarity
    val bandRows = (0 until Similarity.NearDupBands).map { b =>
      val key = (0 until Similarity.NearDupRows).map { i =>
        val lits = Similarity.NearDupPlanes(b * Similarity.NearDupRows + i)
          .mkString("[", ", ", "]")
        s"(CASE WHEN list_inner_product(v, $lits) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $b AS band, $key AS key FROM n"
    }.mkString("\n  UNION ALL ")
    s"""WITH $vecCtes,
       |band AS (
       |  $bandRows),
       |cand AS (SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb FROM band x
       |  JOIN band y ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id)
       |SELECT va AS vec_a, vb AS vec_b,
       |  list_inner_product(a.v, b.v) / a.nrm / b.nrm AS cos
       |FROM cand JOIN n a ON va = a.vec_id JOIN n b ON vb = b.vec_id
       |WHERE list_inner_product(a.v, b.v) / a.nrm / b.nrm >= 0.4""".stripMargin
  }

  /** Shared oracle for the batch and streaming incremental-IVF
    * queries: base-only quantizer + assignment, batch probes, no
    * self-exclusion (batch and base are disjoint by construction).
    */
  private lazy val incrementalIvfSql: String =
    s"""WITH $vecCtes,
       |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n
       |  WHERE vec_id % 250 = 0 AND vec_id >= 8),
       |assigned AS (SELECT cent_id, vec_id, v, nrm FROM (
       |  SELECT n.vec_id, n.v, n.nrm, c.cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY n.vec_id
       |      ORDER BY list_inner_product(c.cv, n.v) / c.cn / n.nrm DESC, c.cent_id) AS arn
       |  FROM n, cents c WHERE n.vec_id >= 8) WHERE arn = 1),
       |probes AS (SELECT query_id, qv, qn, cent_id FROM (
       |  SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qn, c.cent_id, ROW_NUMBER() OVER (
       |      PARTITION BY q.vec_id
       |      ORDER BY list_inner_product(c.cv, q.v) / c.cn / q.nrm DESC, c.cent_id) AS prn
       |  FROM n q, cents c WHERE q.vec_id < 8) WHERE prn <= 2),
       |scored AS (SELECT query_id, a.vec_id AS neighbor_id,
       |    list_inner_product(qv, a.v) / qn / a.nrm AS cos
       |  FROM assigned a JOIN probes p ON a.cent_id = p.cent_id)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos FROM (
       |  SELECT query_id, neighbor_id, cos, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** PQ oracle: per-subspace CTE chain (seed → L2-assign → one Lloyd
    * step → encode → ADC lookup table), unrolled for the same m=4
    * subspaces of 16 dims, centroidEvery=50, iters=1, 8 queries, k=5
    * as [[graft.operators.Similarity.pqTopK]]'s defaults. Everything
    * up to the final cosine divide is exact integer arithmetic in the
    * round(x·1e6) domain, so codes and scores are bit-identical.
    */
  private def pqOracle(m: Int = 4, sd: Int = 16, every: Int = 50,
      nq: Int = 8, k: Int = 5, maxBook: Int = 64): String = {
    def l2(s: String, c: String) =
      s"list_sum(list_transform(generate_series(1, $sd), i -> ($s[i]-$c[i])*($s[i]-$c[i])))"
    val subCtes = (0 until m).map { j =>
      val (lo, hi) = (j * sd + 1, (j + 1) * sd)
      s"""s$j AS (SELECT vec_id, qv[$lo:$hi] AS s FROM q),
         |c0_$j AS (SELECT vec_id AS cent_id, s AS cv FROM s$j
         |  WHERE vec_id % $every = 0 AND vec_id < ${every.toLong * maxBook}),
         |a1_$j AS (SELECT vec_id, s, cent_id FROM (
         |  SELECT t.vec_id, t.s, c.cent_id, ROW_NUMBER() OVER (PARTITION BY t.vec_id
         |    ORDER BY ${l2("t.s", "c.cv")} ASC, c.cent_id) AS rn
         |  FROM s$j t, c0_$j c) WHERE rn = 1),
         |m1_$j AS (SELECT cent_id, i, FLOOR(SUM(x) / COUNT(*)) AS m FROM (
         |  SELECT cent_id, unnest(s) AS x, unnest(range(len(s))) AS i FROM a1_$j)
         |  GROUP BY cent_id, i),
         |c1_$j AS (SELECT cent_id, list(m ORDER BY i) AS cv FROM m1_$j GROUP BY cent_id),
         |a2_$j AS (SELECT vec_id, cent_id AS code$j FROM (
         |  SELECT t.vec_id, c.cent_id, ROW_NUMBER() OVER (PARTITION BY t.vec_id
         |    ORDER BY ${l2("t.s", "c.cv")} ASC, c.cent_id) AS rn
         |  FROM s$j t, c1_$j c) WHERE rn = 1),
         |lut_$j AS (SELECT qq.vec_id AS query_id, c.cent_id AS code$j,
         |    list_sum(list_transform(generate_series(1, $sd), i -> qq.s[i]*c.cv[i])) AS pdot$j,
         |    list_sum(list_transform(generate_series(1, $sd), i -> c.cv[i]*c.cv[i])) AS cn2_$j
         |  FROM s$j qq, c1_$j c WHERE qq.vec_id < $nq)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (1 until m)
      .map(j => s"JOIN a2_$j USING (vec_id)").mkString(" ")
    val lutJoins = (0 until m)
      .map(j => s"JOIN lut_$j l$j ON l$j.query_id = qn.query_id AND l$j.code$j = v.code$j")
      .mkString("\n  ")
    val approx = (0 until m).map(j => s"l$j.pdot$j").mkString(" + ")
    val recon2 = (0 until m).map(j => s"l$j.cn2_$j").mkString(" + ")
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]), x -> round(x * 1000000.0)) AS qv
       |  FROM embeddings),
       |$subCtes,
       |qn AS (SELECT vec_id AS query_id,
       |    list_sum(list_transform(generate_series(1, ${m * sd}), i -> qv[i]*qv[i])) AS qn2
       |  FROM q WHERE vec_id < $nq),
       |scored AS (SELECT qn.query_id, v.vec_id AS neighbor_id,
       |    ($approx) / sqrt(qn.qn2) / sqrt($recon2) AS cos_adc
       |  FROM (SELECT * FROM a2_0 $codeJoins) v
       |  CROSS JOIN qn
       |  $lutJoins
       |  WHERE v.vec_id <> qn.query_id)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos_adc FROM (
       |  SELECT query_id, neighbor_id, cos_adc, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY cos_adc DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB stopword-profile fragments shared by the lang_id oracle. */
  private def inList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Shared language-ID oracle fragments (lang_id + corpus_clean):
    * the per-language hit-count CTE `ls` and the argmax CASE, both
    * generated from the same stopwordProfiles constants as the Spark
    * side.
    */
  private lazy val (langScoreCte, langCaseExpr) = {
    val langs = graft.functions.TextFns.stopwordProfiles.toSeq.sortBy(_._1)
    val scoreCols = langs.map { case (l, ws) =>
      s"SUM(CASE WHEN w IN ${inList(ws)} THEN 1 ELSE 0 END) AS s_$l"
    }.mkString(",\n    ")
    val gr = langs.map { case (l, _) => s"s_$l" }.mkString("GREATEST(", ", ", ")")
    val pick = langs.map { case (l, _) =>
      s"WHEN s_$l = $gr THEN '$l'"
    }.mkString(" ")
    (s"""ls AS (
        |  SELECT doc_id,
        |    $scoreCols
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY doc_id
        |)""".stripMargin,
      s"CASE WHEN $gr = 0 THEN 'und' $pick ELSE 'und' END")
  }
  private val lexJoin =
    s"""FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) d
       |LEFT JOIN ${graft.functions.Afinn.domainSql} lex(w, v) ON d.w = lex.w
       |GROUP BY d.doc_id""".stripMargin

  /** Oracles derived by COMPOSING base entries (wrapping their full
    * published SQL as subqueries), split out so the base map can be
    * referenced during construction.
    */
  private lazy val derivedOracleSql: Map[String, String] = Map(
    // recall@k of each ANN method against the brute-force truth — the
    // four rankings are the bases' own oracle SQL, verbatim
    "ann_recall_report" -> {
      def sub(name: String) =
        s"SELECT query_id, neighbor_id FROM (${oracleSqlBase(name)}) t"
      s"""WITH truth AS (${sub("cosine_topk")}),
         |approx AS (
         |  SELECT 'ivf' AS method, * FROM (${sub("ann_ivf_topk")}) a
         |  UNION ALL
         |  SELECT 'ivf_kmeans', * FROM (${sub("ann_ivf_kmeans_topk")}) b
         |  UNION ALL
         |  SELECT 'pq', * FROM (${sub("ann_pq_topk")}) c
         |  UNION ALL
         |  SELECT 'srp', * FROM (${sub("ann_srp_topk")}) d),
         |hits AS (SELECT method, query_id, CAST(COUNT(*) AS BIGINT) AS h
         |  FROM approx JOIN truth USING (query_id, neighbor_id)
         |  GROUP BY method, query_id),
         |mq AS (SELECT m.method, q.query_id
         |  FROM (SELECT DISTINCT query_id FROM truth) q,
         |    (VALUES ('ivf'), ('ivf_kmeans'), ('pq'), ('srp')) m(method))
         |SELECT mq.method, mq.query_id,
         |  COALESCE(h, 0) AS n_hits,
         |  COALESCE((h * 1000000) // 5, 0) AS recall_ppm
         |FROM mq LEFT JOIN hits
         |  ON mq.method = hits.method AND mq.query_id = hits.query_id
         |ORDER BY mq.method, mq.query_id""".stripMargin
    })

  def oracleSql: Map[String, String] = oracleSqlBase ++ derivedOracleSql

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "json_decode_ratings" ->
      s"$ratingsSql ORDER BY event_id",

    // the mllib scoring rule <uf,pf> over the reference's saved factor
    // parquet; list_inner_product == Spark's double fold bit-for-bit
    // (same pairing as cosine_topk's oracle)
    // post-training pipeline over the factors the query just exported:
    // same most-active-user rule, catalog-minus-rated candidates,
    // cnt >= 5 gate, <uf,pf> scoring (list_inner_product == Spark's
    // double fold bit-for-bit), top 25. Training itself is upstream of
    // the export and not replayed here.
    "als_recommend_top25" ->
      s"""WITH r AS ($ratingsSql),
         |tu AS (SELECT user_id FROM r GROUP BY user_id
         |  ORDER BY COUNT(*) DESC, user_id LIMIT 1),
         |uf AS (SELECT features FROM
         |    read_parquet('${graft.ml.Recommender.TrainedFactorsPath}/user/*.parquet') f
         |  JOIN tu ON f.id = tu.user_id),
         |itf AS (SELECT id, features FROM
         |  read_parquet('${graft.ml.Recommender.TrainedFactorsPath}/item/*.parquet')),
         |counts AS (SELECT song_id, COUNT(*) AS cnt FROM r GROUP BY song_id),
         |rated AS (SELECT DISTINCT song_id FROM r, tu WHERE r.user_id = tu.user_id),
         |cand AS (SELECT c.song_id, c.cnt FROM counts c
         |  LEFT JOIN rated ON c.song_id = rated.song_id
         |  WHERE rated.song_id IS NULL AND c.cnt >= 5),
         |s AS (SELECT cand.song_id AS songId,
         |    list_inner_product(uf.features, i.features) AS prediction, cand.cnt
         |  FROM cand JOIN itf i ON i.id = cand.song_id CROSS JOIN uf)
         |SELECT songId, prediction, cnt
         |FROM s ORDER BY prediction DESC, songId LIMIT 25""".stripMargin,

    // per-rank RMSE entirely from the rank-tagged factor + holdout
    // parquet the query just exported: <uf,pf> via list_inner_product
    // (== Spark's in-order double fold bit-for-bit), squared errors in
    // DECIMAL(18,8) so summation order cannot matter, round(.,6);
    // inner joins replicate coldStartStrategy="drop". Only the fits
    // are upstream of the export and not replayed.
    "als_grid_rmse" -> {
      def rmseCte(split: String) =
        s"""SELECT uf.rank,
           |  ROUND(SQRT(CAST(SUM(CAST(POW(s.rating -
           |      list_inner_product(uf.features, itf.features), 2)
           |    AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*)), 6) AS rmse_$split
           |FROM read_parquet('${graft.ml.Recommender.GridFactorsPath}/$split/*.parquet') s
           |JOIN read_parquet('${graft.ml.Recommender.GridFactorsPath}/user/*.parquet') uf
           |  ON uf.id = s.userId
           |JOIN read_parquet('${graft.ml.Recommender.GridFactorsPath}/item/*.parquet') itf
           |  ON itf.rank = uf.rank AND itf.id = s.songId
           |GROUP BY uf.rank""".stripMargin
      s"""WITH rv AS (${rmseCte("validation")}),
         |rt AS (${rmseCte("test")}),
         |j AS (SELECT rv.rank, rmse_validation, rmse_test
         |  FROM rv JOIN rt ON rv.rank = rt.rank)
         |SELECT rank, rmse_validation, rmse_test,
         |  CAST(CASE WHEN rmse_validation = MIN(rmse_validation) OVER ()
         |    THEN 1 ELSE 0 END AS INTEGER) AS is_best
         |FROM j ORDER BY rank""".stripMargin
    },

    "als_factors_topk" ->
      s"""WITH u AS (SELECT id AS userId FROM
         |    read_parquet('$MllibArtifactPath/data/user/*.parquet')
         |  ORDER BY id LIMIT 20),
         |p AS (SELECT id AS songId, features AS pf FROM
         |  read_parquet('$MllibArtifactPath/data/product/*.parquet')),
         |uf AS (SELECT id, features AS uf FROM
         |  read_parquet('$MllibArtifactPath/data/user/*.parquet')),
         |s AS (SELECT userId, songId, list_inner_product(uf, pf) AS prediction
         |  FROM u JOIN uf ON uf.id = u.userId CROSS JOIN p),
         |r AS (SELECT userId, songId, prediction, ROW_NUMBER() OVER (
         |    PARTITION BY userId ORDER BY prediction DESC, songId) AS rk FROM s)
         |SELECT userId, songId, prediction, CAST(rk AS INTEGER) AS rk
         |FROM r WHERE rk <= 5 ORDER BY userId, rk""".stripMargin,

    "agg_count_avg" ->
      s"""SELECT song_id, COUNT(*) AS cnt, ${Fx.davgSql("rating")} AS avg_rating
         |FROM ($ratingsSql) GROUP BY song_id ORDER BY song_id""".stripMargin,

    "recommend_top25" ->
      s"""WITH per_song AS (
         |  SELECT song_id, COUNT(*) AS cnt, ${Fx.davgSql("rating")} AS avg_rating
         |  FROM ($ratingsSql) GROUP BY song_id HAVING COUNT(*) >= 25
         |)
         |SELECT song_id, p.p_name AS title, cnt, avg_rating
         |FROM per_song JOIN part p ON per_song.song_id = p.p_partkey
         |ORDER BY avg_rating DESC, song_id LIMIT 25""".stripMargin,

    "join_truth_prediction" ->
      s"""WITH r AS ($ratingsSql),
         |pred AS (
         |  SELECT user_id, song_id, ${Fx.davgSql("rating")} AS prediction
         |  FROM r GROUP BY user_id, song_id
         |)
         |SELECT r.event_id, r.user_id, r.song_id, r.rating, pred.prediction
         |FROM r JOIN pred ON r.user_id = pred.user_id AND r.song_id = pred.song_id
         |ORDER BY r.event_id""".stripMargin,

    "rmse_eval" ->
      s"""WITH r AS ($ratingsSql),
         |pred AS (
         |  SELECT song_id, ${Fx.davgSql("rating")} AS prediction
         |  FROM r GROUP BY song_id
         |)
         |SELECT ROUND(SQRT(${Fx.dsumSql("POW(r.rating - pred.prediction, 2)", 8)} / COUNT(*)), 6) AS rmse
         |FROM r JOIN pred ON r.song_id = pred.song_id""".stripMargin,

    "anti_join_unrated" ->
      s"""SELECT p_partkey, p_name FROM part
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM ($ratingsSql) r WHERE r.song_id = part.p_partkey
         |) ORDER BY p_partkey""".stripMargin,

    "union_retrain_input" ->
      s"""WITH r AS (
         |  SELECT event_id, CAST(json_extract_string(props, '$$.k') AS INTEGER) AS song_id, event_type
         |  FROM events
         |)
         |SELECT song_id, COUNT(*) AS cnt FROM (
         |  SELECT * FROM r WHERE event_type <> 'purchase'
         |  UNION ALL
         |  SELECT * FROM r WHERE event_type = 'purchase'
         |) GROUP BY song_id ORDER BY song_id""".stripMargin,

    "except_intersect_songs" ->
      """WITH r AS (SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS song_id, event_type FROM events),
        |browsed AS (SELECT song_id FROM r WHERE event_type <> 'purchase'),
        |bought AS (SELECT song_id FROM r WHERE event_type = 'purchase')
        |SELECT song_id, 'browsed_only' AS relation FROM (SELECT song_id FROM browsed EXCEPT SELECT song_id FROM bought)
        |UNION ALL
        |SELECT song_id, 'both' AS relation FROM (SELECT song_id FROM browsed INTERSECT SELECT song_id FROM bought)
        |ORDER BY song_id, relation""".stripMargin,

    "distinct_pairs" ->
      s"""SELECT DISTINCT user_id, song_id FROM ($ratingsSql)
         |ORDER BY user_id, song_id""".stripMargin,

    "drop_duplicates_by_user" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |) WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "filter_project" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity >= 25 AND l_suppkey <> 3
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin,

    "topk25_parts" ->
      s"""SELECT l_partkey, ${Fx.dsumSql("l_quantity")} AS total_qty, COUNT(*) AS cnt
         |FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 3
         |ORDER BY total_qty DESC, l_partkey LIMIT 25""".stripMargin,

    "top200_songs" ->
      s"""SELECT song_id, ${Fx.dsumSql("rating")} AS total
         |FROM ($ratingsSql) GROUP BY song_id
         |ORDER BY total DESC, song_id LIMIT 200""".stripMargin,

    "pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${Fx.dsumSql("l_quantity")} AS sum_qty,
         |  ${Fx.dsumSql("l_extendedprice")} AS sum_base_price,
         |  CAST(SUM(${Fx.dec2Sql("l_extendedprice")} * (${Fx.oneSql} - ${Fx.rate2Sql("l_discount")})) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM(${Fx.dec2Sql("l_extendedprice")} * (${Fx.oneSql} - ${Fx.rate2Sql("l_discount")}) * (${Fx.oneSql} + ${Fx.rate2Sql("l_tax")})) AS DOUBLE) AS sum_charge,
         |  ${Fx.davgSql("l_quantity")} AS avg_qty,
         |  ${Fx.davgSql("l_extendedprice")} AS avg_price,
         |  ${Fx.davgSql("l_discount", 4)} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "pricing_rollup" ->
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
         |  COALESCE(l_linestatus, 'ALL') AS ls,
         |  ${Fx.dsumSql("l_quantity")} AS sum_qty,
         |  ${Fx.dsumSql("l_extendedprice")} AS sum_base_price,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY rf, ls""".stripMargin,

    "window_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey, l_quantity,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, l_partkey, l_quantity, running_qty""".stripMargin,

    "ntile_quartiles" ->
      """SELECT event_id, user_id, value,
        |  CAST(NTILE(4) OVER (PARTITION BY user_id ORDER BY value, event_id) AS INT) AS quartile
        |FROM events ORDER BY event_id""".stripMargin,

    "quantile_rating_levels" ->
      """WITH qs AS (
        |  SELECT user_id,
        |    quantile_cont(value, 0.2) AS q20, quantile_cont(value, 0.4) AS q40,
        |    quantile_cont(value, 0.6) AS q60, quantile_cont(value, 0.8) AS q80
        |  FROM events GROUP BY user_id
        |)
        |SELECT e.event_id, e.user_id,
        |  CASE WHEN e.value >= q80 THEN 5 WHEN e.value >= q60 THEN 4
        |       WHEN e.value >= q40 THEN 3 WHEN e.value >= q20 THEN 2
        |       ELSE 1 END AS level
        |FROM events e JOIN qs ON e.user_id = qs.user_id
        |ORDER BY e.event_id""".stripMargin,

    "marker_sessions" ->
      """SELECT event_id, user_id, marker_id FROM (
        |  SELECT event_id, user_id,
        |    MIN(CASE WHEN event_type = 'purchase' THEN event_id END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS marker_id
        |  FROM events
        |) WHERE marker_id IS NOT NULL ORDER BY event_id""".stripMargin,

    "sessionize" ->
      """WITH x AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events
        |), f AS (
        |  SELECT user_id, event_id, tsu,
        |    CASE WHEN tsu - LAG(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
        |              > 43200000000 THEN 1 ELSE 0 END AS new_s
        |  FROM x
        |), s AS (
        |  SELECT user_id, tsu,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM f
        |)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(tsu) AS t_start, MAX(tsu) AS t_end
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "wordcount" ->
      """SELECT word, COUNT(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY cnt DESC, word""".stripMargin,

    "sentiment_afinn" ->
      s"""SELECT d.doc_id, CAST(SUM(COALESCE(lex.v, 0)) AS INTEGER) AS sentiment
         |$lexJoin ORDER BY d.doc_id""".stripMargin,

    "sentiment_polarity" ->
      s"""SELECT doc_id, CASE WHEN cnt = 0 THEN 0.0
         |  ELSE CAST(s AS DOUBLE) / cnt / 5.0 END AS polarity
         |FROM (
         |  SELECT d.doc_id, COUNT(lex.v) AS cnt, SUM(lex.v) AS s
         |  $lexJoin
         |) ORDER BY doc_id""".stripMargin,

    "genre_first_token" ->
      """SELECT string_split(p_type, ' ')[1] AS genre, COUNT(*) AS cnt
        |FROM part GROUP BY genre ORDER BY genre""".stripMargin,

    "lang_id" ->
      s"""WITH $langScoreCte
         |SELECT doc_id, $langCaseExpr AS lang_guess
         |FROM ls ORDER BY doc_id""".stripMargin,

    "corpus_clean" ->
      s"""WITH $langScoreCte,
         |lang AS (SELECT doc_id, $langCaseExpr AS lang_guess FROM ls),
         |keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |q AS (SELECT doc_id,
         |  LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
         |  + CAST(len(list_distinct(l)) AS DOUBLE) / CAST(len(l) AS DOUBLE) * 0.5
         |  + CAST(len(list_filter(l, x -> x IN ${inList(graft.functions.TextFns.stopwordProfiles("en"))})) AS DOUBLE)
         |    / CAST(len(l) AS DOUBLE) * 0.25 AS quality,
         |  CAST(len(l) AS INTEGER) AS n_tokens
         |FROM (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents))
         |SELECT q.doc_id, quality, n_tokens
         |FROM q JOIN lang USING (doc_id) JOIN keep USING (doc_id)
         |WHERE lang_guess = 'en' AND quality >= 0.41
         |ORDER BY doc_id""".stripMargin,

    "quality_score" ->
      s"""SELECT doc_id,
         |  LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
         |  + CAST(len(list_distinct(l)) AS DOUBLE) / CAST(len(l) AS DOUBLE) * 0.5
         |  + CAST(len(list_filter(l, x -> x IN ${inList(graft.functions.TextFns.stopwordProfiles("en"))})) AS DOUBLE)
         |    / CAST(len(l) AS DOUBLE) * 0.25 AS quality
         |FROM (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "token_count" ->
      """SELECT doc_id, CAST(len(l) AS INTEGER) AS n_tokens,
        |  CAST(list_sum(list_transform(l, w -> CAST(FLOOR((length(w) + 3) / 4) AS BIGINT))) AS BIGINT) AS n_subwords
        |FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "token_count_bpe" ->
      s"""SELECT doc_id, CAST(len(regexp_extract_all(text,
         |  '${graft.functions.TextFns.BpePattern}')) AS INT) AS n_bpe
         |FROM documents ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id, CASE WHEN len(l) < 5 THEN md5(text)
        |  ELSE list_min(list_transform(generate_series(1, len(l) - 4),
        |         i -> md5(array_to_string(l[i:i+4], ' ')))) END AS fingerprint
        |FROM (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "pseudo_json_roundtrip" ->
      """SELECT event_id, CAST(user_id AS INTEGER) AS userid,
        |  'm' || CAST((event_id % 3) + 1 AS VARCHAR) AS tag,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS songid,
        |  CAST(FLOOR(value) AS INTEGER) AS rating
        |FROM events ORDER BY event_id""".stripMargin,

    // the preprocessing funnel: every stage's oracle fragment composed
    // cumulatively (gopher rules, lang argmax, md5 keeper, exact
    // 3-gram jaccard >= 0.5 pair drop, 8-gram benchmark decontam) --
    // six rows, each a survivor count + token mass
    "corpus_funnel" ->
      s"""WITH $langScoreCte,
         |lang AS (SELECT doc_id, $langCaseExpr AS lang FROM ls),
         |tok AS (SELECT doc_id, md5(text) AS hh,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
         |gw AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |gs AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n,
         |    CAST(list_sum(list_transform(l, x -> len(x))) AS BIGINT) AS chars,
         |    CAST(len(list_distinct(l)) AS BIGINT) AS nd,
         |    CAST(list_max(list_transform(list_distinct(l),
         |      d2 -> len(list_filter(l, x -> x = d2)))) AS BIGINT) AS topc,
         |    CAST(len(list_filter(list_distinct(l),
         |      x -> x IN ${inList(graft.functions.TextFns.stopwordProfiles("en"))})) AS BIGINT) AS dstops
         |  FROM gw),
         |g AS (SELECT doc_id FROM gs
         |  WHERE n >= 20 AND n <= 80 AND chars * 10 >= n * 38
         |    AND chars * 10 <= n * 50 AND topc * 5 <= n
         |    AND nd * 10 >= n * 3 AND dstops >= 2),
         |s1 AS (SELECT tok.* FROM tok JOIN g USING (doc_id)),
         |s2 AS (SELECT s1.* FROM s1 JOIN lang USING (doc_id)
         |  WHERE lang = 'en'),
         |s3 AS (SELECT s2.* FROM s2
         |  JOIN (SELECT MIN(doc_id) AS doc_id FROM s2 GROUP BY hh) k
         |  USING (doc_id)),
         |$shingleCtes,
         |near AS (SELECT DISTINCT db AS doc_id FROM common x
         |  JOIN sizes a ON a.doc_id = x.da
         |  JOIN sizes b ON b.doc_id = x.db
         |  WHERE CAST(c AS DOUBLE) / (a.sz + b.sz - c) >= 0.5),
         |s4 AS (SELECT s3.* FROM s3 LEFT JOIN near USING (doc_id)
         |  WHERE near.doc_id IS NULL),
         |${shingleSqlCte("sh8", 8)},
         |bench AS (SELECT DISTINCT h FROM sh8 WHERE doc_id % 49 = 0),
         |contam AS (SELECT DISTINCT sh8.doc_id FROM sh8
         |  JOIN bench USING (h) WHERE sh8.doc_id % 49 <> 0),
         |s5 AS (SELECT s4.* FROM s4 LEFT JOIN contam USING (doc_id)
         |  WHERE contam.doc_id IS NULL AND s4.doc_id % 49 <> 0)
         |SELECT CAST(0 AS INT) AS stage_ord, '0_raw' AS stage,
         |  COUNT(*) AS n_docs, CAST(COALESCE(SUM(nt), 0) AS BIGINT) AS sum_tokens FROM tok
         |UNION ALL SELECT 1, '1_gopher', COUNT(*), CAST(COALESCE(SUM(nt), 0) AS BIGINT) FROM s1
         |UNION ALL SELECT 2, '2_lang_en', COUNT(*), CAST(COALESCE(SUM(nt), 0) AS BIGINT) FROM s2
         |UNION ALL SELECT 3, '3_exact_dedup', COUNT(*), CAST(COALESCE(SUM(nt), 0) AS BIGINT) FROM s3
         |UNION ALL SELECT 4, '4_near_dedup', COUNT(*), CAST(COALESCE(SUM(nt), 0) AS BIGINT) FROM s4
         |UNION ALL SELECT 5, '5_decontam', COUNT(*), CAST(COALESCE(SUM(nt), 0) AS BIGINT) FROM s5
         |ORDER BY stage_ord""".stripMargin,

    "corpus_stats" ->
      s"""WITH $langScoreCte,
         |lang AS (SELECT doc_id, $langCaseExpr AS lang FROM ls),
         |t AS (SELECT doc_id, len(string_split(text, ' ')) AS nt FROM documents)
         |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS sum_tokens,
         |  CAST(CAST(SUM(nt) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_tokens
         |FROM lang JOIN t USING (doc_id)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "decontaminate" -> decontaminateSql,

    // the Bloom prefilter is lossless after the exact verify join, so
    // the bloom path answers the identical question — one oracle, two
    // independent physical strategies
    "decontaminate_bloom" -> decontaminateSql,

    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keeper""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH $shingleCtes
         |SELECT da AS doc_a, db AS doc_b,
         |  CAST(c AS DOUBLE) / (x.sz + y.sz - c) AS jaccard
         |FROM common JOIN sizes x ON da = x.doc_id JOIN sizes y ON db = y.doc_id
         |WHERE CAST(c AS DOUBLE) / (x.sz + y.sz - c) >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_minhash_lsh" -> s"$minhashPairsSql\nORDER BY doc_a, doc_b",

    // asymmetric containment over the same df-capped inverted index;
    // orientation tie (ca == cb) resolves to doc_a in both engines
    "dedup_containment" ->
      s"""WITH $shingleCtes,
         |scored AS (SELECT da, db, c,
         |    (c * 1000000) // x.sz AS ca, (c * 1000000) // y.sz AS cb
         |  FROM common JOIN sizes x ON da = x.doc_id
         |  JOIN sizes y ON db = y.doc_id)
         |SELECT CASE WHEN ca >= cb THEN da ELSE db END AS doc_small,
         |  CASE WHEN ca >= cb THEN db ELSE da END AS doc_large,
         |  c AS common,
         |  GREATEST(ca, cb) AS containment_ppm,
         |  LEAST(ca, cb) AS reverse_ppm
         |FROM scored
         |WHERE ca >= ${graft.operators.Dedup.ContainmentMinPpm}
         |  OR cb >= ${graft.operators.Dedup.ContainmentMinPpm}
         |ORDER BY doc_small, doc_large""".stripMargin,

    // connected components over the minhash pairs as a recursive CTE:
    // `reach` enumerates every (node, label) with a path label→node
    // and label < node, so MIN(label) per node is the true component
    // minimum — the genuine fixed point, independent of any round
    // count. The Spark loop iterates min-label propagation (with
    // pointer jumping) to its own DETECTED fixed point, so both sides
    // converge to the same labels with no unroll parity to maintain.
    // WITH RECURSIVE sits inside a derived table because DuckDB does
    // not resolve the pair CTE's own nested WITH under a recursive
    // WITH clause.
    "dedup_clusters" -> s"$dedupClustersSql\nORDER BY doc_id",

    "dedup_simhash" -> {
      val bits = Dedup.SimhashBits; val bands = Dedup.SimhashBands
      val bandBits = bits / bands
      val sumCols = ((0 until bits).map(b =>
        s"SUM((h >> $b) & 1) AS p$b") :+ "COUNT(*) AS n").mkString(",\n    ")
      val shExpr = (0 until bits).map(b =>
        s"(CASE WHEN 2 * p$b >= n THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      val bandRows = (0 until bands).map(b =>
        s"SELECT doc_id, $b AS band, (sh >> ${b * bandBits}) & ${(1L << bandBits) - 1} AS key FROM sig")
        .mkString("\n  UNION ALL ")
      s"""WITH toks AS (
         |  SELECT doc_id, ${h60("w")} AS h FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)),
         |bits AS (SELECT doc_id,
         |    $sumCols
         |  FROM toks GROUP BY doc_id),
         |sig AS (SELECT doc_id, $shExpr AS sh FROM bits),
         |band AS (
         |  $bandRows),
         |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db FROM band x
         |  JOIN band y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
         |SELECT da AS doc_a, db AS doc_b,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
         |FROM cand JOIN sig a ON da = a.doc_id JOIN sig b ON db = b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "embedding_neardup" ->
      s"""WITH $vecCtes
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  list_inner_product(a.v, b.v) / a.nrm / b.nrm AS cos
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE list_inner_product(a.v, b.v) / a.nrm / b.nrm >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,

    "embedding_neardup_lsh" -> s"$embeddingLshPairsSql\nORDER BY vec_a, vec_b",

    "mmr_rerank" -> mmrRerankSql,

    "cosine_topk" ->
      s"""WITH $vecCtes,
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 8),
         |scored AS (SELECT query_id, a.vec_id AS neighbor_id,
         |    list_inner_product(qv, a.v) / qn / a.nrm AS cos
         |  FROM n a JOIN q ON a.vec_id <> query_id),
         |r AS (SELECT query_id, neighbor_id, cos, ROW_NUMBER() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // generated from the same frozen TextFns pattern constants as the
    // Spark side; DuckDB needs the explicit 'g' flag Spark implies, and
    // the email pass runs first in both engines ('<EMAIL>' contains no
    // digits, so pass order is visible only through that tag)
    "pii_scrub" -> {
      val em = graft.functions.TextFns.EmailPattern
      val dg = graft.functions.TextFns.LongDigitPattern
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(text, '$em', '<EMAIL>', 'g'),
         |    '$dg', '<NUMBER>', 'g') AS redacted_text,
         |  CAST(len(regexp_extract_all(text, '$em'))
         |    + len(regexp_extract_all(text, '$dg')) AS INT) AS pii_hits
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "bucket_join" ->
      s"""WITH supp AS (
         |  SELECT l_suppkey, ${Fx.dsumSql("l_quantity")} AS supp_qty,
         |    COUNT(*) AS supp_cnt
         |  FROM lineitem GROUP BY l_suppkey
         |)
         |SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, l.l_quantity,
         |  supp.supp_qty, supp.supp_cnt
         |FROM lineitem l JOIN supp USING (l_suppkey)
         |ORDER BY l.l_orderkey, l.l_linenumber, l.l_suppkey, l.l_quantity""".stripMargin,

    "skew_salted_join" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_quantity, p.p_name
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |ORDER BY l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_quantity""".stripMargin,

    // DuckDB's native ASOF JOIN is a genuinely independent
    // implementation of the point-in-time semantics; clicks are
    // pre-deduped per (user, µs) in both engines so the equal-timestamp
    // winner is pinned
    "asof_join_attribution" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsu, value
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT user_id, epoch_us(ts) AS tsu, MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
        |)
        |SELECT p.event_id, p.user_id, p.tsu, p.value,
        |  c.click_id, c.tsu AS click_tsu
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.tsu >= c.tsu
        |ORDER BY p.event_id""".stripMargin,

    // the STREAMING state machine fed one in-trigger-ordered batch
    // computes the identical as-of join, so the same independent DuckDB
    // ASOF oracle checks the stateful implementation too; the event_id
    // cap mirrors the query's bounded harness feed (a no-op at the
    // driver's sf0.01)
    "streaming_asof_enrich" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsu, value
        |  FROM events WHERE event_type = 'purchase' AND event_id < 10000
        |), c AS (
        |  SELECT user_id, epoch_us(ts) AS tsu, MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' AND event_id < 10000
        |  GROUP BY 1, 2
        |)
        |SELECT p.event_id, p.user_id, p.tsu, p.value,
        |  c.click_id, c.tsu AS click_tsu
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.tsu >= c.tsu
        |ORDER BY p.event_id""".stripMargin,

    // the streaming tumbling-window counts, fed one batch + sentinel
    // watermark marches, emit exactly the FINALIZED windows of the
    // capped feed — i.e. a plain hour-bucketed GROUP BY. Bounds are
    // epoch-µs BIGINTs on both sides (hour buckets are unaffected by
    // the feed's ns→ms truncation); the // floor-div returns DOUBLE in
    // DuckDB, hence the CAST (exact: epoch-µs < 2^53)
    // the reference's whole lifecycle replayed downstream of the fit:
    // decode -> stream/history union (= the whole capped feed) ->
    // most-active stream user -> candidates minus rated, cnt >= 5 ->
    // <uf,pf> top-25 from the exported factors -> JSON sink payload.
    // Scores as exact floor-microunits so the payload text is
    // byte-identical; Spark's to_json emits {"k":v,...} with no spaces
    "streaming_recommend_e2e" ->
      s"""WITH f AS (
         |  SELECT event_id, CAST(user_id AS INTEGER) AS userid,
         |    CAST(json_extract_string(props, '$$.k') AS INTEGER) AS songid,
         |    CAST(FLOOR(value) AS INTEGER) AS rating
         |  FROM events WHERE event_id < ${graft.streaming.Streams.HarnessFeedCap}),
         |fresh AS (SELECT * FROM f WHERE event_id % 2 = 0),
         |tu AS (SELECT userid FROM fresh GROUP BY userid
         |  ORDER BY COUNT(*) DESC, userid LIMIT 1),
         |uf AS (SELECT features FROM
         |    read_parquet('${graft.streaming.Streams.E2eFactorsPath}/user/*.parquet') u
         |  JOIN tu ON u.id = tu.userid),
         |itf AS (SELECT id, features FROM
         |  read_parquet('${graft.streaming.Streams.E2eFactorsPath}/item/*.parquet')),
         |counts AS (SELECT songid, COUNT(*) AS cnt FROM f GROUP BY songid),
         |rated AS (SELECT DISTINCT f.songid FROM f, tu WHERE f.userid = tu.userid),
         |cand AS (SELECT c.songid FROM counts c
         |  LEFT JOIN rated ON c.songid = rated.songid
         |  WHERE rated.songid IS NULL AND c.cnt >= 5),
         |s AS (SELECT cand.songid,
         |    list_inner_product(uf.features, i.features) AS prediction
         |  FROM cand JOIN itf i ON i.id = cand.songid CROSS JOIN uf),
         |r AS (SELECT songid,
         |    CAST(FLOOR(prediction * 1000000.0) AS BIGINT) AS score_uppm
         |  FROM s ORDER BY prediction DESC, songid LIMIT 25)
         |SELECT tu.userid, r.songid, r.score_uppm,
         |  '{"userid":' || tu.userid || ',"songid":' || r.songid ||
         |    ',"score_uppm":' || r.score_uppm || '}' AS payload
         |FROM r CROSS JOIN tu ORDER BY songid""".stripMargin,

    // batch mirror of the flatMapGroupsWithState marker buffer: the
    // single-batch, single-partition feed preserves per-user event_id
    // order, so "buffered until the user's next m3 marker" is a pure
    // window computation — emitted iff a marker exists at-or-after the
    // row, flush ordinal = markers strictly before it + 1
    "streaming_marker_flush" ->
      s"""WITH f AS (
         |  SELECT event_id, CAST(user_id AS INTEGER) AS userid,
         |    'm' || CAST((event_id % 3) + 1 AS VARCHAR) AS tag,
         |    CAST(json_extract_string(props, '$$.k') AS INTEGER) AS songid,
         |    CAST(FLOOR(value) AS INTEGER) AS rating
         |  FROM events WHERE event_id < ${graft.streaming.Streams.HarnessFeedCap}),
         |w AS (
         |  SELECT userid, tag, songid, rating,
         |    COUNT(*) FILTER (WHERE tag = 'm3') OVER (
         |      PARTITION BY userid ORDER BY event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS flushes_before,
         |    MAX(CASE WHEN tag = 'm3' THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY userid ORDER BY event_id
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS flushable
         |  FROM f)
         |SELECT userid, tag, songid, rating,
         |  CAST(flushes_before + 1 AS INTEGER) AS flushSeq
         |FROM w WHERE flushable = 1
         |ORDER BY userid, flushSeq, songid, tag, rating""".stripMargin,

    "streaming_windowed_counts" ->
      s"""SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) * 3600000000 AS w_start_us,
         |  CAST(epoch_us(ts) // 3600000000 AS BIGINT) * 3600000000 + 3600000000 AS w_end_us,
         |  event_type, COUNT(*) AS n_events
         |FROM events WHERE event_id < ${graft.streaming.Streams.HarnessFeedCap}
         |  AND event_type <> 'sentinel'
         |GROUP BY 1, 2, 3
         |ORDER BY w_start_us, event_type""".stripMargin,

    "range_join_nearby" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tsu
        |  FROM events WHERE event_type = 'error'
        |), c AS (
        |  SELECT user_id, epoch_us(ts) AS tsu
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT e.event_id, e.user_id, e.tsu, COUNT(c.tsu) AS n_clicks
        |FROM e LEFT JOIN c ON e.user_id = c.user_id
        |  AND c.tsu BETWEEN e.tsu - 300000000 AND e.tsu + 300000000
        |GROUP BY e.event_id, e.user_id, e.tsu
        |ORDER BY e.event_id""".stripMargin,

    "hash_split" ->
      s"""SELECT doc_id, CAST(h % 100 AS INT) AS bucket,
         |  CASE WHEN h % 100 < 80 THEN 'train'
         |       WHEN h % 100 < 90 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |  ${h60("CAST(doc_id AS VARCHAR)")} AS h FROM documents)
         |ORDER BY doc_id""".stripMargin,

    // list slicing l[i:i+2] is inclusive in DuckDB → 3 tokens, matching
    // Spark's slice(t, i, 3); the ratio is one IEEE divide of two exact
    // ints, identical in both engines
    "repetition_score" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(len(l) AS INT) AS total_words,
        |    CASE WHEN len(l) >= 3 THEN list_transform(
        |      generate_series(1, len(l) - 2), i -> array_to_string(l[i:i+2], ' '))
        |    ELSE [] END AS grams
        |  FROM d
        |), tf AS (
        |  SELECT doc_id, MAX(c) AS max_word_tf FROM (
        |    SELECT doc_id, COUNT(*) AS c FROM (
        |      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |    GROUP BY doc_id, w)
        |  GROUP BY doc_id
        |)
        |SELECT g.doc_id, g.total_words, tf.max_word_tf,
        |  CAST(len(grams) AS INT) AS total_3grams,
        |  CAST(len(list_distinct(grams)) AS INT) AS distinct_3grams,
        |  CASE WHEN len(grams) > 0
        |    THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
        |    ELSE 0.0 END AS dup3_frac
        |FROM g JOIN tf USING (doc_id) ORDER BY doc_id""".stripMargin,

    // top-50 vocab by (cnt desc, word); OOV rate = one IEEE divide of
    // exact integer counts
    "vocab_oov" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        |), vocab AS (
        |  SELECT word FROM (SELECT word, COUNT(*) AS cnt FROM w GROUP BY 1)
        |  ORDER BY cnt DESC, word LIMIT 50
        |), d AS (
        |  SELECT w.doc_id, COUNT(*) AS n_tokens,
        |    CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |  FROM w LEFT JOIN vocab v USING (word) GROUP BY w.doc_id
        |)
        |SELECT doc_id, n_tokens, n_oov,
        |  CAST(n_oov AS DOUBLE) / n_tokens AS oov_rate
        |FROM d ORDER BY doc_id""".stripMargin,

    // 16-token windows, 4-token overlap (stride 12), mirrored from the
    // Spark defaults; inclusive list slicing l[a:b] == slice(t, a, 16)
    "chunk_docs" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |c AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(0,
        |      GREATEST(1, CAST(FLOOR((len(l) - 4 + 11) / 12.0) AS INT)) - 1),
        |    i -> struct_pack(chunk_id := i,
        |      chunk := array_to_string(l[i*12+1 : i*12+16], ' '),
        |      n_tokens := LEAST(16, len(l) - i*12)))) AS c
        |  FROM d)
        |SELECT doc_id, CAST(c.chunk_id AS INT) AS chunk_id, c.chunk,
        |  CAST(c.n_tokens AS INT) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // exclusive running token sum div budget; // is DuckDB floor
    // division, equal to Spark's div on these non-negative sums
    "token_pack" -> tokenPackSql,

    // the shard-partitioned parquet layout must preserve the packing
    // row-for-row, so the same SQL is the oracle
    "shard_export" -> tokenPackSql,

    "tfidf_top_terms" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        |), tf AS (
        |  SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2
        |), df AS (
        |  SELECT word, COUNT(*) AS df FROM tf GROUP BY 1
        |), r AS (
        |  SELECT tf.doc_id, tf.word, tf.tf, df.df,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, df.df ASC, tf.word ASC) AS rank
        |  FROM tf JOIN df USING (word)
        |)
        |SELECT doc_id, CAST(rank AS INT) AS rank, word, tf, df
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "csv_roundtrip" ->
      "SELECT * FROM part ORDER BY p_partkey",

    "orc_roundtrip" ->
      "SELECT * FROM part ORDER BY p_partkey",

    // the declared-domain pivot IS this CASE-sum aggregate
    "pivot_event_counts" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // union schema with NULLs where a file generation lacks the column
    "merge_schema_read" ->
      """SELECT p_partkey, 1 AS gen, p_name, CAST(NULL AS INT) AS p_size
        |FROM part
        |UNION ALL
        |SELECT p_partkey, 2 AS gen, CAST(NULL AS VARCHAR), p_size FROM part
        |ORDER BY p_partkey, gen""".stripMargin,

    // fixed-point per-label mean embedding: quantized components sum to
    // exact integers in both engines, floor(sum/count) per dimension,
    // ';'-joined (the compare can't hash arrays)
    "label_centroids" ->
      """WITH q AS (
        |  SELECT label,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> round(x * 1000000.0)) AS qv
        |  FROM embeddings
        |), u AS (
        |  SELECT label, unnest(qv) AS x, unnest(range(len(qv))) AS i FROM q
        |), m AS (
        |  SELECT label, i, CAST(FLOOR(SUM(x) / COUNT(*)) AS BIGINT) AS m,
        |    COUNT(*) AS n
        |  FROM u GROUP BY label, i
        |)
        |SELECT label, MAX(n) AS n_vecs,
        |  array_to_string(list(CAST(m AS VARCHAR) ORDER BY i), ';') AS centroid
        |FROM m GROUP BY label ORDER BY label""".stripMargin,

    "json_roundtrip" ->
      "SELECT * FROM part ORDER BY p_partkey",

    "partition_prune" ->
      """SELECT event_id, user_id, value, event_type FROM events
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin,

    // n_bytes = decoded content size: w*h gray bytes for images,
    // synthetic payload length (32 * reps) for the fallback kinds
    "media_meta" ->
      """SELECT doc_id AS media_id,
        |  ['image','audio','video'][CAST((doc_id % 3) + 1 AS INT)] AS kind,
        |  ['image/png','audio/wav','video/mp4'][CAST((doc_id % 3) + 1 AS INT)] AS mime,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN ((doc_id % 64) + 1) * ((doc_id % 48) + 1)
        |       WHEN doc_id % 3 = 1 THEN 2 * (64 + doc_id % 64)
        |       ELSE 32 * (1 + doc_id % 4) END AS INT) AS n_bytes,
        |  CAST((doc_id % 64) + 1 AS INT) AS width,
        |  CAST((doc_id % 48) + 1 AS INT) AS height
        |FROM documents ORDER BY media_id""".stripMargin,

    "media_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    repeat(md5(text), CAST(1 + doc_id % 4 AS INT)) AS s,
        |    CAST(2 * (1 + doc_id % 4) AS INT) AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2
        |)
        |SELECT media_id, CAST(f AS INT) AS frame_idx,
        |  substring(s, CAST(f AS INT) * 16 + 1, 16) AS frame
        |FROM m, unnest(generate_series(0, n_frames - 1)) AS t(f)
        |WHERE f % 2 = 0 ORDER BY media_id, frame_idx""".stripMargin,

    // The Spark side runs PNG encode -> ImageIO decode -> nearest
    // neighbor -> PNG re-encode -> decode; the oracle reproduces the
    // 4x4 output from the pixel-pattern formula alone, so any codec
    // loss or resample index error hash-mismatches.
    "media_resize" ->
      """WITH img AS (SELECT doc_id AS media_id,
        |    (doc_id % 64) + 1 AS sw, (doc_id % 48) + 1 AS sh
        |  FROM documents WHERE doc_id % 3 = 0),
        |xs AS (SELECT media_id, sw, sh, unnest(range(4)) AS x FROM img),
        |ys AS (SELECT media_id, sw, sh, x, unnest(range(4)) AS y FROM xs),
        |px AS (SELECT media_id, y * 4 + x AS pos,
        |    (media_id * 31 + ((x * sw) // 4) * 7 + ((y * sh) // 4) * 13) % 256 AS p
        |  FROM ys)
        |SELECT media_id, CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
        |  string_agg(CAST(p AS VARCHAR), ';' ORDER BY pos) AS pixels
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin,

    // corrupt-blob gate: truncated sentinels (media_id % 7 = 0) land
    // in quarantine, healthy rows re-prove the decode via the exact
    // pixel-formula sum — so the oracle checks BOTH that the gate
    // caught every corrupt blob and that it never ate a good row
    "media_quarantine" ->
      """WITH img AS (SELECT doc_id AS media_id,
        |    (doc_id % 64) + 1 AS w, (doc_id % 48) + 1 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |okpx AS (SELECT media_id, w, h,
        |    CAST(SUM((media_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS ps
        |  FROM img,
        |    UNNEST(generate_series(0, w - 1)) t1(x),
        |    UNNEST(generate_series(0, h - 1)) t2(y)
        |  WHERE media_id % 7 <> 0
        |  GROUP BY media_id, w, h)
        |SELECT media_id, 'ok' AS status, CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height, ps AS pixel_sum
        |FROM okpx
        |UNION ALL
        |SELECT media_id, 'quarantined' AS status, CAST(NULL AS INT),
        |  CAST(NULL AS INT), CAST(NULL AS BIGINT)
        |FROM img WHERE media_id % 7 = 0
        |ORDER BY media_id""".stripMargin,

    // aHash from the pixel formula: 8x8 nearest downsample, strict
    // compare against the integer-floor mean, bit_or of set bits
    "media_phash_dedup" ->
      """WITH img AS (SELECT doc_id AS media_id,
        |    (doc_id % 64) + 1 AS sw, (doc_id % 48) + 1 AS sh
        |  FROM documents WHERE doc_id % 3 = 0),
        |xs AS (SELECT media_id, sw, sh, unnest(range(8)) AS x FROM img),
        |ys AS (SELECT media_id, sw, sh, x, unnest(range(8)) AS y FROM xs),
        |px AS (SELECT media_id, y * 8 + x AS pos,
        |    (media_id * 31 + ((x * sw) // 8) * 7 + ((y * sh) // 8) * 13) % 256 AS p
        |  FROM ys),
        |m AS (SELECT media_id, SUM(p) // 64 AS mean FROM px GROUP BY media_id),
        |hs AS (SELECT px.media_id,
        |    bit_or(CASE WHEN p > mean AND pos < 32
        |      THEN CAST(1 AS BIGINT) << CAST(pos AS INT) ELSE 0 END) AS phash_lo,
        |    bit_or(CASE WHEN p > mean AND pos >= 32
        |      THEN CAST(1 AS BIGINT) << CAST(pos - 32 AS INT) ELSE 0 END) AS phash_hi
        |  FROM px JOIN m USING (media_id) GROUP BY px.media_id),
        |g AS (SELECT phash_lo, phash_hi, MIN(media_id) AS keeper,
        |    CAST(COUNT(*) AS BIGINT) AS n_copies
        |  FROM hs GROUP BY phash_lo, phash_hi)
        |SELECT media_id, phash_lo, phash_hi, media_id = keeper AS is_keeper,
        |  n_copies
        |FROM hs JOIN g USING (phash_lo, phash_hi) ORDER BY media_id""".stripMargin,

    // The Spark side runs WAV encode -> javax.sound decode -> integer
    // decimation -> WAV re-encode at the halved rate -> decode; the
    // oracle reproduces the decimated sequence from the sample formula
    // alone (sample 2i of the pattern), so codec loss hash-mismatches.
    "audio_resample" ->
      """WITH a AS (SELECT doc_id AS media_id, 64 + (doc_id % 64) AS ns
        |  FROM documents WHERE doc_id % 3 = 1),
        |s AS (SELECT media_id, ns, unnest(range(ns // 2)) AS i FROM a),
        |v AS (SELECT media_id, ns, i,
        |    ((media_id * 7919 + (2 * i) * 104729) % 65536) - 32768 AS v
        |  FROM s)
        |SELECT media_id, CAST(8000 AS INT) AS sample_rate,
        |  CAST(ns // 2 AS INT) AS n_samples,
        |  string_agg(CAST(v AS VARCHAR), ';' ORDER BY i) AS samples
        |FROM v GROUP BY media_id, ns ORDER BY media_id""".stripMargin,

    // Three branches mirroring decodeFeatures' dispatch. Image rows:
    // 16-bin intensity histogram (p // 16) of the deterministic pixel
    // pattern the Spark side recovers via a REAL ImageIO decode.
    // Audio rows: 16-bin amplitude histogram of the sample pattern the
    // Spark side recovers via a REAL javax.sound WAV decode. Video
    // (the only remaining fallback kind): byte histogram of payload =
    // repeat(md5(text), reps); repetition scales every bucket and the
    // L2 norm by the same factor, so the normalized vector equals the
    // histogram of md5(text)'s 32 hex chars (ASCII % 16) alone. All
    // branches quantize to float32 before the 6-decimal print, making
    // the string compare exact.
    "media_embed" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    ['image','audio','video'][CAST((doc_id % 3) + 1 AS INT)] AS kind,
        |    md5(text) AS hsh,
        |    (doc_id % 64) + 1 AS w, (doc_id % 48) + 1 AS h,
        |    CAST(1 + doc_id % 4 AS INT) AS reps
        |  FROM documents),
        |ix AS (SELECT media_id, w, h, unnest(range(w)) AS x FROM m WHERE kind = 'image'),
        |iy AS (SELECT media_id, w, h, x, unnest(range(h)) AS y FROM ix),
        |ih AS (SELECT media_id, ((media_id * 31 + x * 7 + y * 13) % 256) // 16 AS b,
        |    COUNT(*) AS c
        |  FROM iy GROUP BY 1, 2),
        |ibins AS (SELECT media_id, unnest(range(16)) AS b FROM m WHERE kind = 'image'),
        |icnt AS (SELECT ibins.media_id, ibins.b, COALESCE(ih.c, 0) AS c
        |  FROM ibins LEFT JOIN ih ON ibins.media_id = ih.media_id AND ibins.b = ih.b),
        |icl AS (SELECT media_id, list(c ORDER BY b) AS cnt FROM icnt GROUP BY media_id),
        |iout AS (SELECT m.media_id, m.kind, CAST(m.w * m.h AS INT) AS n_bytes, icl.cnt
        |  FROM m JOIN icl USING (media_id)),
        |ax AS (SELECT media_id, 64 + (media_id % 64) AS ns FROM m WHERE kind = 'audio'),
        |aidx AS (SELECT media_id, unnest(range(ns)) AS i FROM ax),
        |ah AS (SELECT media_id, ((media_id * 7919 + i * 104729) % 65536) // 4096 AS b,
        |    COUNT(*) AS c
        |  FROM aidx GROUP BY 1, 2),
        |abins AS (SELECT media_id, unnest(range(16)) AS b FROM ax),
        |acnt AS (SELECT abins.media_id, abins.b, COALESCE(ah.c, 0) AS c
        |  FROM abins LEFT JOIN ah ON abins.media_id = ah.media_id AND abins.b = ah.b),
        |acl AS (SELECT media_id, list(c ORDER BY b) AS cnt FROM acnt GROUP BY media_id),
        |aout AS (SELECT ax.media_id, 'audio' AS kind, CAST(2 * ax.ns AS INT) AS n_bytes, acl.cnt
        |  FROM ax JOIN acl USING (media_id)),
        |fout AS (SELECT media_id, kind, CAST(32 * reps AS INT) AS n_bytes,
        |    list_transform(range(16), b -> len(list_filter(
        |      list_transform(range(32), i -> ascii(substring(hsh, CAST(i + 1 AS INT), 1)) % 16),
        |      c -> c = b))) AS cnt
        |  FROM m WHERE kind = 'video'),
        |u AS (SELECT * FROM iout UNION ALL SELECT * FROM aout UNION ALL SELECT * FROM fout),
        |nrmd AS (
        |  SELECT media_id, kind, n_bytes, cnt,
        |    sqrt(CAST(list_sum(list_transform(cnt, c -> c * c)) AS DOUBLE)) AS nrm
        |  FROM u)
        |SELECT media_id, kind, n_bytes,
        |  array_to_string(list_transform(cnt, c ->
        |    printf('%.6f', CAST(CAST(CAST(c AS DOUBLE) / nrm AS FLOAT) AS DOUBLE))), ';') AS embedding
        |FROM nrmd ORDER BY media_id""".stripMargin,

    "ann_srp_topk" -> {
      val bucket = Similarity.SrpPlanes.zipWithIndex.map { case (p, j) =>
        val lits = p.mkString("[", ", ", "]")
        s"(CASE WHEN list_inner_product(v, $lits) >= 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH $vecCtes,
         |sig AS (SELECT vec_id, v, nrm, $bucket AS bucket FROM n),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket
         |  FROM sig WHERE vec_id < 8),
         |scored AS (SELECT query_id, s.vec_id AS neighbor_id,
         |    list_inner_product(qv, s.v) / qn / s.nrm AS cos
         |  FROM sig s JOIN q ON s.bucket = q.bucket AND s.vec_id <> q.query_id)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos FROM (
         |  SELECT query_id, neighbor_id, cos, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // trained-IVF mirror: the k-means runs in a fixed-point domain
    // (round(x*1e6) integer-valued doubles) where inner products and
    // per-dim sums are exact integers — fold-order-independent — and
    // centroid updates are floor(sum/count), so two unrolled Lloyd
    // iterations land on bit-identical centroids in both engines.
    "ann_ivf_kmeans_topk" -> {
      def sim(a: String, b: String) =
        s"list_inner_product($a, $b) / sqrt(list_inner_product($a, $a)) / sqrt(list_inner_product($b, $b))"
      def assignCte(name: String, cents: String) =
        s"""$name AS (SELECT vec_id, qv, cent_id FROM (
           |  SELECT q.vec_id, q.qv, c.cent_id, ROW_NUMBER() OVER (PARTITION BY q.vec_id
           |    ORDER BY ${sim("q.qv", "c.cv")} DESC, c.cent_id) AS rn
           |  FROM qn q, $cents c) WHERE rn = 1)""".stripMargin
      def stepCtes(a: String, m: String, c: String) =
        s"""$m AS (SELECT cent_id, i, FLOOR(SUM(x) / COUNT(*)) AS m FROM (
           |  SELECT cent_id, unnest(qv) AS x, unnest(range(len(qv))) AS i FROM $a)
           |  GROUP BY cent_id, i),
           |$c AS (SELECT cent_id, list(m ORDER BY i) AS cv FROM $m GROUP BY cent_id)""".stripMargin
      s"""WITH $vecCtes,
         |qn AS (SELECT vec_id, list_transform(v, x -> round(x * 1000000.0)) AS qv FROM e),
         |c0 AS (SELECT vec_id AS cent_id, qv AS cv FROM qn WHERE vec_id % 250 = 0),
         |${assignCte("a1", "c0")},
         |${stepCtes("a1", "m1", "c1")},
         |${assignCte("a2", "c1")},
         |${stepCtes("a2", "m2", "c2")},
         |${assignCte("a3", "c2")},
         |af AS (SELECT a.cent_id, a.vec_id, n.v, n.nrm FROM a3 a JOIN n USING (vec_id)),
         |probes AS (SELECT query_id, cent_id FROM (
         |  SELECT q.vec_id AS query_id, c.cent_id, ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${sim("q.qv", "c.cv")} DESC, c.cent_id) AS prn
         |  FROM qn q, c2 c WHERE q.vec_id < 8) WHERE prn <= 2),
         |scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
         |    list_inner_product(qq.v, a.v) / qq.nrm / a.nrm AS cos
         |  FROM af a JOIN probes p ON a.cent_id = p.cent_id
         |  JOIN n qq ON qq.vec_id = p.query_id
         |  WHERE a.vec_id <> p.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos FROM (
         |  SELECT query_id, neighbor_id, cos, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // day-2 index shape: base-only quantizer + assignment, the new
    // batch probes and scans only its clusters — no self-exclusion
    // (the batch is disjoint from the base by construction)
    "ann_incremental_ivf" -> incrementalIvfSql,

    // streaming day-2 ANN: per-batch probes of the standing index
    // union to exactly the batch incremental-IVF relation
    "streaming_incremental_ivf" -> incrementalIvfSql,

    "ann_ivf_topk" ->
      s"""WITH $vecCtes,
         |cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n WHERE vec_id % 250 = 0),
         |assigned AS (SELECT cent_id, vec_id, v, nrm FROM (
         |  SELECT n.vec_id, n.v, n.nrm, c.cent_id, ROW_NUMBER() OVER (
         |      PARTITION BY n.vec_id
         |      ORDER BY list_inner_product(c.cv, n.v) / c.cn / n.nrm DESC, c.cent_id) AS arn
         |  FROM n, cents c) WHERE arn = 1),
         |probes AS (SELECT query_id, qv, qn, cent_id FROM (
         |  SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qn, c.cent_id, ROW_NUMBER() OVER (
         |      PARTITION BY q.vec_id
         |      ORDER BY list_inner_product(c.cv, q.v) / c.cn / q.nrm DESC, c.cent_id) AS prn
         |  FROM n q, cents c WHERE q.vec_id < 8) WHERE prn <= 2),
         |scored AS (SELECT query_id, a.vec_id AS neighbor_id,
         |    list_inner_product(qv, a.v) / qn / a.nrm AS cos
         |  FROM assigned a JOIN probes p ON a.cent_id = p.cent_id AND a.vec_id <> p.query_id)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos FROM (
         |  SELECT query_id, neighbor_id, cos, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // per-language downsample to the rarest language's count: the keep
    // test h % n_stratum < quota is pure integer arithmetic, so both
    // engines agree exactly; the "mix:" salt decorrelates membership
    // from hash_split's md5 of the bare doc_id
    "mixture_rebalance" ->
      s"""WITH c AS (SELECT lang AS stratum, COUNT(*) AS n_stratum
         |  FROM documents GROUP BY lang),
         |q AS (SELECT MIN(n_stratum) AS quota FROM c),
         |d AS (SELECT doc_id, lang AS stratum FROM documents)
         |SELECT doc_id, stratum, n_stratum, quota
         |FROM d JOIN c USING (stratum) CROSS JOIN q
         |WHERE ${h60("'mix:' || CAST(doc_id AS VARCHAR)")} % n_stratum < quota
         |ORDER BY doc_id""".stripMargin,

    // α=1/2 temperature mixture (XLM-R/mT5): half-corpus budget split
    // by floor(sqrt(n_src)) weights, same salted-hash membership gate;
    // every quota term is exact integer arithmetic in both engines
    "temperature_mixture" ->
      s"""WITH c AS (SELECT source, COUNT(*) AS n_src,
         |    CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w
         |  FROM documents GROUP BY source),
         |t AS (SELECT CAST(SUM(n_src) AS BIGINT) AS n_tot,
         |    CAST(SUM(w) AS BIGINT) AS w_tot FROM c)
         |SELECT doc_id, source, n_src,
         |  LEAST(n_src, ((SELECT n_tot FROM t) // ${graft.operators.TextOps.TmixBudgetDenom})
         |    * w // (SELECT w_tot FROM t)) AS quota,
         |  ${h60("'tmix:' || CAST(doc_id AS VARCHAR)")} % n_src <
         |    LEAST(n_src, ((SELECT n_tot FROM t) // ${graft.operators.TextOps.TmixBudgetDenom})
         |      * w // (SELECT w_tot FROM t)) AS picked
         |FROM documents JOIN c USING (source)
         |ORDER BY doc_id""".stripMargin,

    // same salted hash gate as mixture_rebalance, arbitrary per-stratum
    // integer fractions: en 1/4, de 1/2, default 3/4
    "stratified_sample" ->
      s"""WITH d AS (SELECT doc_id, lang AS stratum,
         |    CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 1 ELSE 3 END AS numer,
         |    CASE lang WHEN 'en' THEN 4 WHEN 'de' THEN 2 ELSE 4 END AS denom
         |  FROM documents)
         |SELECT doc_id, stratum, numer, denom FROM d
         |WHERE ${h60("'samp:' || CAST(doc_id AS VARCHAR)")} % denom < numer
         |ORDER BY doc_id""".stripMargin,

    // int8 codes are floor((x·127)/mx) on exact float→double values —
    // the same IEEE op sequence in both engines; ';'-joined because
    // the compare can't hash arrays
    "embedding_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e)
        |SELECT vec_id, mx AS max_abs,
        |  CASE WHEN mx = 0
        |    THEN array_to_string(list_transform(v, x -> '0'), ';')
        |    ELSE array_to_string(list_transform(v, x ->
        |      CAST(CAST(floor(x * 127 / mx) AS BIGINT) AS VARCHAR)), ';')
        |  END AS codes
        |FROM m ORDER BY vec_id""".stripMargin,

    // an INNER stream-stream join emits each match in the batch that
    // completes it (watermarks only bound state), so the one-batch
    // harness feed emits exactly this time-bounded theta join; the
    // // 1000 floor mirrors the feed's ns→ms truncation
    "streaming_join_attribution" ->
      s"""WITH c AS (SELECT event_id AS click_id, user_id,
         |    CAST(epoch_us(ts) // 1000 AS BIGINT) AS c_ts_ms
         |  FROM events WHERE event_type = 'click' AND event_id < ${graft.streaming.Streams.HarnessFeedCap}),
         |p AS (SELECT event_id AS purchase_id, user_id,
         |    CAST(epoch_us(ts) // 1000 AS BIGINT) AS p_ts_ms
         |  FROM events WHERE event_type = 'purchase' AND event_id < ${graft.streaming.Streams.HarnessFeedCap})
         |SELECT c.click_id, p.purchase_id, c.user_id, c.c_ts_ms, p.p_ts_ms
         |FROM c JOIN p ON c.user_id = p.user_id
         |  AND p.p_ts_ms BETWEEN c.c_ts_ms AND c.c_ts_ms + 1800000
         |ORDER BY click_id, purchase_id""".stripMargin,

    // the incremental detector emits exactly the full detector's pairs
    // that touch the new batch (doc_id % 10 = 0), with identical
    // verified jaccards — the oracle states it as that filter
    "dedup_incremental" ->
      s"""WITH p AS ($minhashPairsSql)
         |SELECT doc_a, doc_b, jaccard FROM p
         |WHERE doc_a % 10 = 0 OR doc_b % 10 = 0
         |ORDER BY doc_a, doc_b""".stripMargin,

    // per-(lang, source) cell counts; each cell's quota is the
    // smallest cell within its language (sources equalized inside each
    // language, languages keep their relative sizes)
    "mixture_rebalance_2d" ->
      s"""WITH c AS (SELECT lang, source, COUNT(*) AS n_cell
         |  FROM documents GROUP BY lang, source),
         |q AS (SELECT lang, source, n_cell,
         |  MIN(n_cell) OVER (PARTITION BY lang) AS quota FROM c)
         |SELECT doc_id, lang, source, n_cell, quota
         |FROM documents JOIN q USING (lang, source)
         |WHERE ${h60("'mix2:' || CAST(doc_id AS VARCHAR)")} % n_cell < quota
         |ORDER BY doc_id""".stripMargin,

    // same score formula as quality_score; percent_rank over a UNIQUE
    // ordering (quality DESC, doc_id) so the kept set is deterministic
    // in both engines
    "quality_filter_top_p" ->
      s"""WITH s AS (SELECT doc_id, lang,
         |  LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
         |  + CAST(len(list_distinct(l)) AS DOUBLE) / CAST(len(l) AS DOUBLE) * 0.5
         |  + CAST(len(list_filter(l, x -> x IN ${inList(graft.functions.TextFns.stopwordProfiles("en"))})) AS DOUBLE)
         |    / CAST(len(l) AS DOUBLE) * 0.25 AS quality
         |  FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS l FROM documents)),
         |r AS (SELECT doc_id, lang, quality, percent_rank()
         |  OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS q_rank FROM s)
         |SELECT doc_id, lang, quality, q_rank FROM r
         |WHERE q_rank <= 0.5
         |ORDER BY doc_id""".stripMargin,

    // the streamed run emits each qualifying pair exactly once (in the
    // batch where its later member arrives), so the accumulated output
    // is the one-shot incremental query — same oracle as
    // dedup_incremental
    "streaming_incremental_minhash" ->
      s"""WITH p AS ($minhashPairsSql)
         |SELECT doc_a, doc_b, jaccard FROM p
         |WHERE doc_a % 10 = 0 OR doc_b % 10 = 0
         |ORDER BY doc_a, doc_b""".stripMargin,

    // generated from the same term list + frozen constants as the Spark
    // plan, so both sides run the identical IEEE op sequence (rational
    // idf — no libm log anywhere)
    "bm25_topk" -> graft.operators.Retrieval.bm25Sql(),

    // chained-min formulation: t_k = MIN(ts) of stage k strictly after
    // t_{k-1}; equals the Spark side's greedy sorted walk by induction
    // (earliest qualifying event never forecloses a later stage)
    "funnel_steps" -> funnelSql(""),

    // the stateful walk is the batch walk folded online (same advance
    // rule, same per-user order), so the streamed final states answer
    // the same chained-min SQL over the fed slice
    "streaming_funnel" -> funnelSql(
      s" AND event_id < ${graft.streaming.Streams.HarnessFeedCap}"),

    // positional 8-grams; a gram is duplicated iff its hash occurs in
    // >= 2 distinct docs; interval union per doc via the LEAD-gap trick
    // (last interval contributes n). Mirrors Dedup.dupSpanCoverageOf.
    "dup_span_coverage" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |g AS (SELECT doc_id, s.pos AS pos, s.h AS h FROM (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 7),
         |    i -> struct_pack(pos := i, h := ${h60("array_to_string(l[i:i+7], ' ')")}))) AS s
         |  FROM toks WHERE len(l) >= 8)),
         |dup AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM g)
         |  GROUP BY h HAVING COUNT(*) >= 2),
         |dp AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
         |cov AS (SELECT doc_id, COUNT(*) AS n_dup_grams,
         |  CAST(SUM(LEAST(gap, 8)) AS BIGINT) AS covered_tokens FROM (
         |    SELECT doc_id, pos, COALESCE(LEAD(pos) OVER (
         |      PARTITION BY doc_id ORDER BY pos) - pos, 8) AS gap FROM dp)
         |  GROUP BY doc_id)
         |SELECT b.doc_id, b.n_tokens,
         |  COALESCE(n_dup_grams, 0) AS n_dup_grams,
         |  COALESCE(covered_tokens, 0) AS covered_tokens,
         |  CAST(COALESCE(covered_tokens, 0) AS DOUBLE) / b.n_tokens AS covered_frac
         |FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER)
         |      AS n_tokens FROM documents) b
         |LEFT JOIN cov USING (doc_id) ORDER BY doc_id""".stripMargin,

    // deterministic HLL: md5-based hash, integer register math, one
    // final IEEE divide — the oracle runs the identical algorithm, so
    // the approximate answer is exactly reproduced (SRP/IVF contract)
    "approx_distinct_hll" -> graft.operators.Sketches.hllSql(),

    // the streamed register state max-merges to exactly the one-shot
    // registers (max is associative/commutative), so the streaming
    // query answers the batch SQL on the fed slice
    "streaming_hll" -> graft.operators.Sketches.hllSql(table =
      s"(SELECT * FROM events WHERE event_id < ${graft.streaming.Streams.HarnessFeedCap})"),

    // streamed EWMA == the batch fold over the capped feed
    "streaming_ewma" -> graft.operators.Temporal.ewmaSqlOver(
      s"(SELECT * FROM events WHERE event_id < ${graft.streaming.Streams.HarnessFeedCap})"),

    // watermarked dropDuplicates over a feed that re-sends every slice:
    // the appended output must equal the distinct relation
    "streaming_exact_dedup" ->
      s"""SELECT event_id, user_id, value FROM events
         |WHERE event_id < ${graft.streaming.Streams.HarnessFeedCap}
         |ORDER BY event_id""".stripMargin,

    // dropDuplicatesWithinWatermark: same distinct relation as the
    // unbounded variant (re-sends arrive inside the delay), but the
    // key state EVICTS at the watermark — bounded-state contract
    "streaming_dedup_watermark" ->
      s"""SELECT event_id, user_id, value FROM events
         |WHERE event_id < ${graft.streaming.Streams.HarnessFeedCap}
         |ORDER BY event_id""".stripMargin,

    // counts are integers, min/max are selection not arithmetic — the
    // one-pass expanded aggregate and the per-column UNION ALL must
    // agree exactly
    "profile_columns" -> graft.operators.Sketches.profileSql(),

    // integer-scaled ranks, floor arithmetic at every step — the five
    // unrolled rounds are bit-identical in both engines
    "pagerank_corated" -> graft.operators.Graph.pagerankSql(),
    // item-item cosine top-k over the same capped co-rating sets
    "item_similarity_topk" -> graft.operators.Graph.itemSimilaritySql(),

    // counters are exact COUNTs on the same affine buckets — the
    // sketch estimate (min over rows) reproduces exactly
    "cms_heavy_hitters" -> graft.operators.Sketches.cmsSql(),

    // counters are additive, so the streamed state equals the
    // one-shot build — same SQL over the fed slice
    "streaming_cms" -> graft.operators.Sketches.cmsSql(table =
      s"(SELECT * FROM events WHERE event_id < ${graft.streaming.Streams.HarnessFeedCap})"),

    // power-of-two symbol widths -> exact symbolization; motifs are
    // the n-gram inverted-index shape applied to time series
    "sax_motifs" -> graft.operators.Temporal.saxMotifsSql(),

    // split keyed on the near-dup cluster representative ("cl:" salt)
    // so whole duplicate groups land on one side of the fence;
    // singletons fall back to their own id
    "leakage_safe_split" ->
      s"""WITH cl AS ($dedupClustersSql)
         |SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS rep,
         |  CAST(${h60("'cl:' || CAST(COALESCE(cl.cluster_id, d.doc_id) AS VARCHAR)")} % 100 AS INTEGER) AS bucket,
         |  CASE WHEN ${h60("'cl:' || CAST(COALESCE(cl.cluster_id, d.doc_id) AS VARCHAR)")} % 100 < 80 THEN 'train'
         |       WHEN ${h60("'cl:' || CAST(COALESCE(cl.cluster_id, d.doc_id) AS VARCHAR)")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (SELECT doc_id FROM documents) d
         |LEFT JOIN cl ON d.doc_id = cl.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // power-of-two bin width (0.5) -> exact binning; integer ceil
    // thresholds -> the same bin picked in both engines
    "histogram_quantiles" -> graft.operators.Sketches.histogramQuantilesSql(),

    // bins are additive, so the streamed state equals the one-shot
    // histogram — same SQL over the fed slice
    "streaming_quantiles" -> graft.operators.Sketches.histogramQuantilesSql(
      table = s"(SELECT * FROM events WHERE event_id < ${graft.streaming.Streams.HarnessFeedCap})"),

    // same md5 hash + salt as the Spark side; anti-join removes drawn
    // items the user actually interacted with
    "negative_samples" -> graft.operators.Retrieval.negativeSamplesSql(),

    // v2 is the same deterministic mutation of documents in both
    // engines (delete %17=3, edit %13=5, append %29=0 at +100000),
    // so the diff needs no second physical table
    "table_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 5 THEN text || ' rev2' ELSE text END AS text
        |  FROM v1 WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM v1 WHERE doc_id % 29 = 0),
        |j AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |    md5(a.text) AS h1, md5(b.text) AS h2
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT doc_id,
        |  CASE WHEN h1 IS NULL THEN 'added'
        |       WHEN h2 IS NULL THEN 'removed'
        |       WHEN h1 <> h2 THEN 'changed' END AS status
        |FROM j WHERE (h1 IS NULL OR h2 IS NULL OR h1 <> h2)
        |ORDER BY doc_id""".stripMargin,

    // the oracle reconstructs the expected post-merge table (v2)
    // directly from documents; the Spark side actually wrote v1 to a
    // partitioned table and merged the change feed into it partition-
    // scoped, so stale/lost/duplicated rows hash-mismatch
    "merge_apply" ->
      s"""SELECT doc_id, CAST(doc_id % ${graft.sources.Maintenance.NumParts} AS INT) AS part, text FROM (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 5 THEN text || ' rev2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + ${graft.operators.Relational.DiffAppendOffset} AS doc_id, text
        |  FROM documents WHERE doc_id % 29 = 0)
        |ORDER BY doc_id""".stripMargin,

    // blocked levenshtein record linkage — integer DP distance is
    // bit-identical across engines; same corruption/blocking/selection
    "entity_match" -> graft.operators.EntityResolution.entityMatchSql(),

    // KMV set-op sketch: pure integer selection (row_number over the
    // shared hash60) until one exact power-of-two division
    "kmv_set_ops" -> {
      val k = graft.operators.Sketches.KmvK
      s"""WITH pairs AS (SELECT DISTINCT event_type, user_id FROM events),
         |h AS (SELECT event_type,
         |    ${h60("'kmv:' || CAST(user_id AS VARCHAR)")} AS h FROM pairs),
         |sk AS (SELECT event_type, h FROM (
         |    SELECT event_type, h, ROW_NUMBER() OVER (
         |      PARTITION BY event_type ORDER BY h) AS rk FROM h)
         |  WHERE rk <= $k),
         |tt AS (SELECT a.event_type AS type_a, b.event_type AS type_b
         |  FROM (SELECT DISTINCT event_type FROM sk) a
         |  JOIN (SELECT DISTINCT event_type FROM sk) b
         |    ON a.event_type < b.event_type),
         |uni AS (SELECT type_a, type_b, h FROM (
         |    SELECT type_a, type_b, h, ROW_NUMBER() OVER (
         |      PARTITION BY type_a, type_b ORDER BY h) AS rk
         |    FROM (SELECT DISTINCT type_a, type_b, h FROM (
         |      SELECT tt.type_a, tt.type_b, s.h FROM tt
         |        JOIN sk s ON s.event_type = tt.type_a
         |      UNION ALL
         |      SELECT tt.type_a, tt.type_b, s.h FROM tt
         |        JOIN sk s ON s.event_type = tt.type_b)))
         |  WHERE rk <= $k),
         |uk AS (SELECT type_a, type_b, COUNT(*) AS ku FROM uni GROUP BY 1, 2),
         |m AS (SELECT u.type_a, u.type_b, COUNT(*) AS kmv_matches
         |  FROM uni u
         |  JOIN sk sa ON sa.event_type = u.type_a AND sa.h = u.h
         |  JOIN sk sb ON sb.event_type = u.type_b AND sb.h = u.h
         |  GROUP BY 1, 2),
         |ex AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |    COUNT(*) AS inter_exact
         |  FROM pairs a JOIN pairs b ON a.user_id = b.user_id
         |    AND a.event_type < b.event_type
         |  GROUP BY 1, 2),
         |sz AS (SELECT event_type, COUNT(*) AS n FROM pairs GROUP BY 1)
         |SELECT tt.type_a, tt.type_b,
         |  COALESCE(m.kmv_matches, 0) AS kmv_matches,
         |  CAST(COALESCE(m.kmv_matches, 0) AS DOUBLE)
         |    / COALESCE(uk.ku, $k) AS jaccard_kmv,
         |  COALESCE(ex.inter_exact, 0) AS inter_exact,
         |  CAST(sa.n + sb.n - COALESCE(ex.inter_exact, 0) AS BIGINT) AS union_exact
         |FROM tt
         |LEFT JOIN m USING (type_a, type_b)
         |LEFT JOIN uk USING (type_a, type_b)
         |LEFT JOIN ex USING (type_a, type_b)
         |JOIN sz sa ON sa.event_type = tt.type_a
         |JOIN sz sb ON sb.event_type = tt.type_b
         |ORDER BY type_a, type_b""".stripMargin
    },

    // exact integer TVD fraction: num = sum |n_sl*N - n_l*N_s|,
    // den = 2*N*N_s — selection + integer products, no libm
    "distribution_drift" ->
      """WITH cells AS (SELECT source, lang, COUNT(*) AS n_sl
        |  FROM documents GROUP BY 1, 2),
        |bs AS (SELECT source, CAST(SUM(n_sl) AS BIGINT) AS n_s FROM cells GROUP BY 1),
        |bl AS (SELECT lang, CAST(SUM(n_sl) AS BIGINT) AS n_l FROM cells GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_sl) AS BIGINT) AS n FROM cells),
        |grid AS (SELECT bs.source, bs.n_s, bl.lang, bl.n_l,
        |    COALESCE(cells.n_sl, 0) AS n_sl
        |  FROM bs CROSS JOIN bl
        |  LEFT JOIN cells ON cells.source = bs.source AND cells.lang = bl.lang)
        |SELECT source,
        |  CAST(SUM(ABS(n_sl * t.n - n_l * n_s)) AS BIGINT) AS drift_num,
        |  CAST(2 * t.n * n_s AS BIGINT) AS drift_den
        |FROM grid CROSS JOIN t
        |GROUP BY source, n_s, t.n ORDER BY source""".stripMargin,

    // integer-cents EWMA fold, seeded with the first element on both
    // sides (list_reduce's seeding == the Spark slice-and-init fold)
    "ewma_value" -> graft.operators.Temporal.ewmaSql,

    // oriented wedge-close enumeration over the SAME capped edge CTEs
    // as pagerank_corated
    "triangle_counts" -> graft.operators.Graph.triangleSql(),
    // components + sizes on the song graph: recursive-reach fixed
    // point vs the engine's detected-fixpoint pointer jumping
    "graph_components" -> graft.operators.Graph.componentsSql(),

    // day index = epoch floor-div in each engine's native epoch unit
    // (nanos here, micros there — same quotient)
    "daily_activity" ->
      s"""SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day_idx,
         |  event_type, COUNT(*) AS n_events, ${Fx.dsumSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY day_idx, event_type""".stripMargin,

    // XOR of 60-bit content hashes per partition: order-independent,
    // overflow-free, identical aggregation in both engines
    "table_fingerprint" ->
      s"""SELECT CAST(doc_id % ${graft.sources.Maintenance.NumParts} AS INT) AS part,
         |  COUNT(*) AS n_rows,
         |  bit_xor(${h60("CAST(doc_id AS VARCHAR) || ':' || text")}) AS xor_fingerprint
         |FROM documents GROUP BY 1 ORDER BY part""".stripMargin,

    // bounded ROWS frame + LAG over the same total (event_id) order;
    // decimal accumulation, first-row delta 0 via COALESCE
    "moving_window_features" ->
      """SELECT event_id, user_id, value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum_3,
        |  CAST(CAST(value AS DECIMAL(18,2)) - COALESCE(
        |    LAG(CAST(value AS DECIMAL(18,2))) OVER (
        |      PARTITION BY user_id ORDER BY event_id),
        |    CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS delta
        |FROM events ORDER BY event_id""".stripMargin,

    // Morton interleave from the same byte-spread tables — pure integer
    // mask/shift/lookup arithmetic, exact in both engines
    "zorder_key" ->
      s"""SELECT l_partkey, l_suppkey,
         |  ${graft.sources.ZOrder.zvalSql("l_partkey", "l_suppkey")} AS zval
         |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
         |ORDER BY zval, l_partkey, l_suppkey""".stripMargin,

    // PMI ORDER is the exact integer ratio N·c_xy/(c1·c2) — the log is
    // monotone, so no libm anywhere; one IEEE divide for the score
    "word_associations" ->
      """WITH w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |vocab AS (SELECT word FROM (
        |  SELECT word, COUNT(*) AS cnt FROM w GROUP BY word
        |  ORDER BY cnt DESC, word LIMIT 50)),
        |vw AS (SELECT w.doc_id, w.word FROM w JOIN vocab USING (word)),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (SELECT word, COUNT(*) AS c FROM vw GROUP BY word),
        |p AS (SELECT x.word AS w1, y.word AS w2, COUNT(*) AS c_xy
        |  FROM vw x JOIN vw y ON x.doc_id = y.doc_id AND x.word < y.word
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT w1, w2, c_xy, s1.c AS c1, s2.c AS c2,
        |  CAST((n.n_docs * c_xy) AS DOUBLE) / (s1.c * s2.c) AS pmi_ratio
        |FROM p JOIN s s1 ON w1 = s1.word JOIN s s2 ON w2 = s2.word CROSS JOIN n
        |ORDER BY pmi_ratio DESC, w1, w2 LIMIT 100""".stripMargin,

    // compaction must be row-preserving: the read-back answers the
    // plain source SELECT
    "compact_roundtrip" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    // Q10 shape; revenue in the exact decimal domain (Fx mirror)
    "returned_item_ranking" ->
      s"""SELECT c_custkey, c_name,
         |  CAST(SUM(${Fx.dec2Sql("l_extendedprice")} * (${Fx.oneSql} - ${Fx.rate2Sql("l_discount")})) AS DOUBLE) AS revenue,
         |  c_acctbal, n_name
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
         |GROUP BY c_custkey, c_name, c_acctbal, n_name
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    // Q3 shape; revenue in the exact decimal domain (Fx mirror)
    "shipping_priority" ->
      s"""SELECT l_orderkey,
         |  CAST(SUM(${Fx.dec2Sql("l_extendedprice")} * (${Fx.oneSql} - ${Fx.rate2Sql("l_discount")})) AS DOUBLE) AS revenue,
         |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1996-06-30 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin,

    // week index is integer floor on the epoch in BOTH engines
    // (Spark: nanos div 604_800e9; DuckDB: epoch_us // 604_800e6)
    "cohort_retention" ->
      """WITH wk AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk
        |  FROM events
        |), f AS (
        |  SELECT user_id, MIN(wk) AS cohort_week FROM wk GROUP BY user_id
        |), act AS (
        |  SELECT cohort_week, wk - cohort_week AS week_offset,
        |    CAST(COUNT(*) AS BIGINT) AS active_users
        |  FROM wk JOIN f USING (user_id) GROUP BY 1, 2
        |)
        |SELECT a.cohort_week, a.week_offset, a.active_users,
        |  s.active_users AS cohort_size
        |FROM act a JOIN act s
        |  ON a.cohort_week = s.cohort_week AND s.week_offset = 0
        |ORDER BY a.cohort_week, a.week_offset""".stripMargin,

    "scd2_dimension" ->
      """WITH x AS (
        |  SELECT user_id, epoch_us(ts) AS tsu, event_id,
        |    event_type AS attr
        |  FROM events
        |), c AS (
        |  SELECT user_id, tsu, event_id, attr FROM (
        |    SELECT *, LAG(attr) OVER (
        |      PARTITION BY user_id ORDER BY tsu, event_id) AS prev
        |    FROM x)
        |  WHERE prev IS NULL OR prev <> attr
        |)
        |SELECT user_id, attr, tsu AS valid_from,
        |  LEAD(tsu) OVER (
        |    PARTITION BY user_id ORDER BY tsu, event_id) AS valid_to,
        |  CAST(ROW_NUMBER() OVER (
        |    PARTITION BY user_id ORDER BY tsu, event_id) AS INTEGER) AS version,
        |  CASE WHEN LEAD(tsu) OVER (
        |    PARTITION BY user_id ORDER BY tsu, event_id) IS NULL
        |    THEN 1 ELSE 0 END AS is_current
        |FROM c ORDER BY user_id, version""".stripMargin,

    // spend in the exact decimal domain (Fx mirror); (spend DESC,
    // c_custkey) is a total order so ranks are engine-identical
    "topk_per_group" ->
      s"""WITH spend AS (
         |  SELECT o_custkey, ${Fx.dsumSql("o_totalprice")} AS spend
         |  FROM orders GROUP BY o_custkey
         |), r AS (
         |  SELECT n.n_name, c.c_custkey, s.spend,
         |    CAST(ROW_NUMBER() OVER (
         |      PARTITION BY n.n_name
         |      ORDER BY s.spend DESC, c.c_custkey) AS INTEGER) AS rk
         |  FROM spend s
         |  JOIN customer c ON s.o_custkey = c.c_custkey
         |  JOIN nation n ON c.c_nationkey = n.n_nationkey
         |)
         |SELECT n_name, c_custkey, spend, rk FROM r WHERE rk <= 3
         |ORDER BY n_name, rk""".stripMargin,

    // LEAD over the same (tsu, event_id) total order; probability is
    // the exact integer floor(cnt·1e6/row-total) — no IEEE division
    "event_transitions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
        |    event_type FROM events),
        |p AS (SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (
        |      PARTITION BY user_id ORDER BY tsu, event_id) AS to_type
        |  FROM e),
        |c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, cnt,
        |  CAST((cnt * 1000000) // SUM(cnt) OVER (PARTITION BY from_type)
        |    AS BIGINT) AS prob_ppm
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    // value-level cumulative histogram; percentile_disc(q) = smallest
    // value with cum >= ceil(q·n); ceil via integer (n·q + 99) // 100;
    // clip is least/greatest selection — every double is an input double
    "winsorize" ->
      """WITH h AS (
        |  SELECT o_orderpriority, o_totalprice, COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2
        |), c AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    SUM(cnt) OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM h
        |), b AS (
        |  SELECT o_orderpriority,
        |    MIN(CASE WHEN cum >= (n * 5 + 99) // 100
        |      THEN o_totalprice END) AS lo,
        |    MIN(CASE WHEN cum >= (n * 95 + 99) // 100
        |      THEN o_totalprice END) AS hi
        |  FROM c GROUP BY 1
        |)
        |SELECT o_orderkey, o.o_orderpriority, o_totalprice,
        |  LEAST(GREATEST(o_totalprice, lo), hi) AS clipped, lo, hi
        |FROM orders o JOIN b ON o.o_orderpriority = b.o_orderpriority
        |ORDER BY o_orderkey""".stripMargin,

    // fixed (check_name, violations) contract; NULL status is its own
    // check, not a domain violation (NOT IN yields NULL, not counted)
    "dq_audit" ->
      """WITH b AS (SELECT COUNT(*) AS n_rows,
        |    COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS nok,
        |    COUNT(DISTINCT o_orderkey) AS dok,
        |    COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END) AS npt,
        |    COUNT(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
        |      THEN 1 END) AS bs,
        |    COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END) AS nod
        |  FROM orders),
        |fk AS (SELECT COUNT(*) AS v FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |    WHERE c.c_custkey = o.o_custkey))
        |SELECT 'bad_status' AS check_name, CAST(bs AS BIGINT) AS violations FROM b
        |UNION ALL SELECT 'dup_orderkey', CAST(n_rows - dok AS BIGINT) FROM b
        |UNION ALL SELECT 'fk_custkey', CAST(v AS BIGINT) FROM fk
        |UNION ALL SELECT 'nonpositive_totalprice', CAST(npt AS BIGINT) FROM b
        |UNION ALL SELECT 'null_orderdate', CAST(nod AS BIGINT) FROM b
        |UNION ALL SELECT 'null_orderkey', CAST(nok AS BIGINT) FROM b
        |ORDER BY check_name""".stripMargin,

    // basket cap mirrors Basket.DefaultMaxItemsPerBasket; rank order is
    // decided by integer conf_ppm + (antecedent, consequent) — the one
    // IEEE divide (lift) never breaks a tie
    "assoc_rules" ->
      s"""WITH it0 AS (SELECT DISTINCT l_orderkey AS basket,
         |    l_partkey AS item FROM lineitem),
         |it AS (SELECT basket, item FROM (
         |  SELECT basket, item, ROW_NUMBER() OVER (
         |    PARTITION BY basket ORDER BY item) AS rn FROM it0)
         |  WHERE rn <= ${Basket.DefaultMaxItemsPerBasket}),
         |n AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM it),
         |s AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS s_item
         |  FROM it GROUP BY item),
         |p AS (SELECT x.item AS a, y.item AS b,
         |    CAST(COUNT(*) AS BIGINT) AS s_ab
         |  FROM it x JOIN it y ON x.basket = y.basket AND x.item < y.item
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |d AS (SELECT a AS antecedent, b AS consequent, s_ab FROM p
         |  UNION ALL SELECT b, a, s_ab FROM p)
         |SELECT antecedent, consequent, s_ab,
         |  sa.s_item AS s_ant, sc.s_item AS s_con,
         |  CAST((s_ab * 1000000) // sa.s_item AS BIGINT) AS conf_ppm,
         |  CAST((n.n_baskets * s_ab) AS DOUBLE) / (sa.s_item * sc.s_item)
         |    AS lift_ratio
         |FROM d JOIN s sa ON d.antecedent = sa.item
         |JOIN s sc ON d.consequent = sc.item CROSS JOIN n
         |ORDER BY conf_ppm DESC, antecedent, consequent
         |LIMIT 100""".stripMargin,

    // grid [min, max] inner-joined on the 7-day window == the explode
    // form (both emit exactly the days with >= 1 event in-window)
    "rolling_distinct_users" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events)
        |SELECT g.window_day,
        |  CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS active_users
        |FROM (SELECT UNNEST(generate_series(
        |    (SELECT MIN(day) FROM d), (SELECT MAX(day) FROM d)))
        |    AS window_day) g
        |JOIN d ON d.day BETWEEN g.window_day - 6 AND g.window_day
        |GROUP BY g.window_day ORDER BY g.window_day""".stripMargin,

    // last event per (user, day) by the (tsu, event_id) total order,
    // per-user day grid, IGNORE NULLS forward fill — carried values are
    // untouched input doubles
    "gap_fill_ffill" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    epoch_us(ts) AS tsu, event_id, value FROM events),
        |dv AS (SELECT user_id, day, value FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, day
        |    ORDER BY tsu DESC, event_id DESC) AS rn FROM e)
        |  WHERE rn = 1),
        |sp AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
        |  FROM dv GROUP BY 1),
        |g AS (SELECT user_id, UNNEST(generate_series(d0, d1)) AS day
        |  FROM sp)
        |SELECT g.user_id, g.day,
        |  LAST_VALUE(dv.value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS filled_value
        |FROM g LEFT JOIN dv
        |  ON g.user_id = dv.user_id AND g.day = dv.day
        |ORDER BY g.user_id, g.day""".stripMargin,

    // Q5 shape; revenue in the exact decimal domain (Fx mirror); the
    // same-nation predicate rides the supplier equi-join in both
    "local_supplier_volume" ->
      s"""SELECT n_name,
         |  CAST(SUM(${Fx.dec2Sql("l_extendedprice")} * (${Fx.oneSql} - ${Fx.rate2Sql("l_discount")})) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,

    // cutoff = floored exact interpolated 70th percentile of epoch-µs
    // (integer input → identical interpolation arithmetic), embargo
    // width shared from Relational.EmbargoUs
    "temporal_split_embargo" ->
      s"""WITH e AS (SELECT event_id, epoch_us(ts) AS tsu FROM events),
         |c AS (SELECT CAST(FLOOR(quantile_cont(tsu, 0.7)) AS BIGINT)
         |    AS cutoff FROM e)
         |SELECT event_id,
         |  CASE WHEN tsu <= cutoff THEN 'train'
         |       WHEN tsu <= cutoff + ${Relational.EmbargoUs} THEN 'embargo'
         |       ELSE 'test' END AS split
         |FROM e CROSS JOIN c
         |ORDER BY event_id""".stripMargin,

    "anomaly_zscore" -> Temporal.anomalyZscoreSql,

    // from-scratch aggregate == the maintained base+delta merge (the
    // algebraic-state contract the query exists to prove)
    "incremental_agg_merge" ->
      s"""WITH c AS (SELECT user_id, event_type, epoch_us(ts) AS tsu,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM events)
         |SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(cents) AS BIGINT) AS cents_sum,
         |  CAST(SUM(cents) // COUNT(*) AS BIGINT) AS avg_cents_floor,
         |  MIN(tsu) AS min_tsu, MAX(tsu) AS max_tsu
         |FROM c GROUP BY user_id, event_type
         |ORDER BY user_id, event_type""".stripMargin,

    // finalized session windows == gaps-and-islands over the same
    // capped feed in epoch-ms (the feed truncates ns → ms exactly as
    // epoch_ms floors); session end = last event + gap by definition.
    // Spark merges a boundary-touching event (diff == gap) into the
    // open session — spec-pinned — so a new island needs diff > gap
    "streaming_session_window" ->
      s"""WITH e AS (SELECT user_id, epoch_ms(ts) AS tms FROM events
         |  WHERE event_id < ${graft.streaming.Streams.HarnessFeedCap}),
         |d AS (SELECT user_id, tms,
         |    CASE WHEN tms - LAG(tms) OVER (PARTITION BY user_id
         |        ORDER BY tms) > ${graft.streaming.Streams.SessionGapMs}
         |      THEN 1 ELSE 0 END AS ns
         |  FROM e),
         |s AS (SELECT user_id, tms,
         |    SUM(ns) OVER (PARTITION BY user_id ORDER BY tms
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM d)
         |SELECT user_id, MIN(tms) AS s_start_ms,
         |  MAX(tms) + ${graft.streaming.Streams.SessionGapMs} AS s_end_ms,
         |  CAST(COUNT(*) AS BIGINT) AS n_events
         |FROM s GROUP BY user_id, sid
         |ORDER BY user_id, s_start_ms""".stripMargin,

    // full 2-D grouping lattice; 'ALL' markers + grouping flags keep
    // the output NULL-free (NULL ordering differs across engines)
    "cube_report" ->
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
         |  COALESCE(o_orderpriority, 'ALL') AS priority,
         |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
         |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  ${Fx.dsumSql("o_totalprice")} AS sum_price
         |FROM orders
         |GROUP BY CUBE (o_orderstatus, o_orderpriority)
         |ORDER BY g_status, g_priority, status, priority""".stripMargin,

    // Q16 shape adapted to the corpus (part-supplier pairs derived
    // from lineitem; blocklist = negative-balance suppliers)
    "supplier_part_variety" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
        |SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ps JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#45' AND p_type <> 'STANDARD'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "corr_moments" -> Audit.corrMomentsSql,
    "open_orders_daily" -> Temporal.openOrdersSql,

    // streamed CLOSED versions == the batch SCD2's non-current rows
    // over the same capped feed (the open version lives in state)
    "streaming_scd2" ->
      s"""WITH x AS (
         |  SELECT user_id, epoch_us(ts) AS tsu, event_id,
         |    event_type AS attr
         |  FROM events WHERE event_id < ${graft.streaming.Streams.HarnessFeedCap}
         |), c AS (
         |  SELECT user_id, tsu, event_id, attr FROM (
         |    SELECT *, LAG(attr) OVER (
         |      PARTITION BY user_id ORDER BY tsu, event_id) AS prev
         |    FROM x)
         |  WHERE prev IS NULL OR prev <> attr
         |), v AS (
         |  SELECT user_id, attr, tsu AS valid_from,
         |    LEAD(tsu) OVER (
         |      PARTITION BY user_id ORDER BY tsu, event_id) AS valid_to,
         |    CAST(ROW_NUMBER() OVER (
         |      PARTITION BY user_id ORDER BY tsu, event_id) AS INTEGER)
         |      AS version
         |  FROM c
         |)
         |SELECT user_id, attr, valid_from, valid_to, version FROM v
         |WHERE valid_to IS NOT NULL
         |ORDER BY user_id, version""".stripMargin,

    // independent NOT EXISTS statement of dominance (the engine uses
    // the distinct-value prefix-min form — two formulations, same rows)
    "pareto_frontier" ->
      """SELECT r.p_partkey, r.p_retailprice, r.p_size
        |FROM part r
        |WHERE NOT EXISTS (SELECT 1 FROM part s
        |  WHERE s.p_retailprice <= r.p_retailprice
        |    AND s.p_size <= r.p_size
        |    AND (s.p_retailprice < r.p_retailprice
        |      OR s.p_size < r.p_size))
        |ORDER BY r.p_partkey""".stripMargin,

    // RANK() is definitionally min-rank == cum - cnt + 1 over the
    // value histogram, which is how the engine computes it
    "quantile_normalize" ->
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |r AS (SELECT event_id, event_type, cents,
        |    RANK() OVER (PARTITION BY event_type ORDER BY cents) AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM e)
        |SELECT event_id, event_type, cents,
        |  CASE WHEN n = 1 THEN 0
        |       ELSE ((rk - 1) * 1000000) // (n - 1) END AS pct_ppm
        |FROM r ORDER BY event_id""".stripMargin,

    "label_propagation" -> Graph.labelPropagationSql(),

    // CURRENT-pointer read == reconstructed v2 (same mutation as
    // merge_apply/table_diff; the isolation property itself is spec'd)
    "snapshot_publish" ->
      s"""SELECT doc_id, text FROM (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 13 = 5 THEN text || ' rev2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 17 <> 3
         |  UNION ALL
         |  SELECT doc_id + ${graft.operators.Relational.DiffAppendOffset} AS doc_id, text
         |  FROM documents WHERE doc_id % 29 = 0)
         |ORDER BY doc_id""".stripMargin,

    // same salted hash order, same (h, doc_id) total order
    "sample_k_per_group" ->
      s"""SELECT lang, source, doc_id, CAST(rn AS INTEGER) AS rn FROM (
         |  SELECT lang, source, doc_id, ROW_NUMBER() OVER (
         |      PARTITION BY lang, source
         |      ORDER BY ${h60("'kpg:' || CAST(doc_id AS VARCHAR)")}, doc_id)
         |    AS rn
         |  FROM documents)
         |WHERE rn <= 5
         |ORDER BY lang, source, rn""".stripMargin,

    // Q6 shape: one scan, three pushed filters, one decimal aggregate
    "forecast_revenue_change" ->
      s"""SELECT CAST(SUM(${Fx.dec2Sql("l_extendedprice")} * ${Fx.rate2Sql("l_discount")}) AS DOUBLE) AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_discount >= 0.05 AND l_discount <= 0.07
         |  AND l_quantity < 24""".stripMargin,

    // Q12 shape adapted to the corpus (l_linestatus for l_shipmode)
    "priority_line_counts" ->
      """SELECT l_linestatus,
        |  CAST(COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 END) AS BIGINT) AS high_line_count,
        |  CAST(COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,

    // Q4 shape: EXISTS-style semi join on key + 60-day skew
    "late_order_priority" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // Q7 shape: nation-pair directed volume by ship year
    "nation_volume_shipping" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
         |  CAST(SUM(${Fx.dec2Sql("l_extendedprice")} * (${Fx.oneSql} - ${Fx.rate2Sql("l_discount")})) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |WHERE sn.n_name IN ('NATION_1', 'NATION_2')
         |  AND cn.n_name IN ('NATION_1', 'NATION_2')
         |  AND sn.n_name <> cn.n_name
         |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY 1, 2, 3
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    // Q14 shape: conditional decimal sums, ratio derived with the same
    // IEEE tree from the two exact decimals
    "promo_revenue_ratio" ->
      s"""SELECT promo_revenue, total_revenue,
         |  100.0 * promo_revenue / total_revenue AS promo_pct
         |FROM (SELECT
         |  CAST(SUM(CASE WHEN p_type = 'PROMO'
         |    THEN ${Fx.dec2Sql("l_extendedprice")} * (${Fx.oneSql} - ${Fx.rate2Sql("l_discount")})
         |    ELSE CAST(0 AS DECIMAL(3,2)) END) AS DOUBLE) AS promo_revenue,
         |  CAST(SUM(${Fx.dec2Sql("l_extendedprice")} * (${Fx.oneSql} - ${Fx.rate2Sql("l_discount")})) AS DOUBLE) AS total_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00')""".stripMargin,

    // Q18 shape: whale orders by HAVING-filtered quantity, top 20
    "large_volume_orders" ->
      s"""WITH big AS (SELECT l_orderkey,
         |    ${Fx.dsumSql("l_quantity")} AS total_qty
         |  FROM lineitem GROUP BY l_orderkey
         |  HAVING ${Fx.dsumSql("l_quantity")} > 250.0)
         |SELECT c_custkey, c_name, o_orderkey,
         |  CAST(o_orderdate AS DATE) AS o_orderdate, total_qty
         |FROM big JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin,

    // Q15 shape: per-supplier interval revenue, winner(s) by exact
    // decimal max (the comparison never leaves the decimal domain)
    "top_supplier_revenue" ->
      s"""WITH rev AS (SELECT l_suppkey,
         |    SUM(${Fx.dec2Sql("l_extendedprice")} * (${Fx.oneSql} - ${Fx.rate2Sql("l_discount")})) AS rev
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE rev = (SELECT MAX(rev) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,

    // Q17 shape: correlated 0.2*avg(qty) threshold cross-multiplied
    // into integer cents so both engines decide rows exactly
    "small_quantity_revenue" ->
      """WITH li AS (SELECT l_partkey,
        |    CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS qty_cents,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#1'),
        |stats AS (SELECT l_partkey AS sp,
        |    CAST(SUM(qty_cents) AS BIGINT) AS qty_sum,
        |    COUNT(*) AS cnt
        |  FROM li GROUP BY 1)
        |SELECT CAST(SUM(price_cents) AS DOUBLE) / 700.0 AS avg_yearly,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM li JOIN stats ON l_partkey = sp
        |WHERE qty_cents * 5 * cnt < qty_sum""".stripMargin,

    // Q21 shape (adapted: late = shipped >60d after order date; one
    // count per (order, supplier) pair): sole late supplier on a
    // finished multi-supplier order
    "waiting_supplier_ranking" ->
      """WITH late AS (SELECT DISTINCT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY),
        |sole AS (SELECT l1.l_orderkey, l1.l_suppkey FROM late l1
        |  WHERE EXISTS (SELECT 1 FROM lineitem l2
        |      WHERE l2.l_orderkey = l1.l_orderkey
        |        AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM late l3
        |      WHERE l3.l_orderkey = l1.l_orderkey
        |        AND l3.l_suppkey <> l1.l_suppkey))
        |SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM sole JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_suppkey, s_name
        |ORDER BY numwait DESC, s_suppkey LIMIT 100""".stripMargin,

    // Q22 shape (adapted: segments play the country-code IN-list,
    // nations the grouping, "idle" = no order since the cutoff —
    // never-ordered is vacuous in this corpus); the avg compare is
    // exact integer cents
    "idle_customer_balance" ->
      """WITH cust AS (SELECT c_custkey, c_nationkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_cents
        |  FROM customer
        |  WHERE c_mktsegment IN ('MACHINERY', 'BUILDING', 'FURNITURE')),
        |stats AS (SELECT CAST(SUM(bal_cents) AS BIGINT) AS pos_sum,
        |    COUNT(*) AS pos_cnt
        |  FROM cust WHERE bal_cents > 0)
        |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(SUM(bal_cents) AS DOUBLE) / 100.0 AS totacctbal
        |FROM cust CROSS JOIN stats
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE bal_cents * pos_cnt > pos_sum
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '2000-07-01 00:00:00')
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    // Q8 shape: regional market share of one nation's suppliers in a
    // part type, by order year; two conditional decimal sums, the
    // share divides the exact decimals with the same IEEE tree
    "nation_market_share" ->
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |  CAST(SUM(CASE WHEN sn.n_name = 'NATION_1'
         |    THEN ${Fx.dec2Sql("l_extendedprice")} * (${Fx.oneSql} - ${Fx.rate2Sql("l_discount")})
         |    ELSE CAST(0 AS DECIMAL(3,2)) END) AS DOUBLE) AS nation_revenue,
         |  CAST(SUM(${Fx.dec2Sql("l_extendedprice")} * (${Fx.oneSql} - ${Fx.rate2Sql("l_discount")})) AS DOUBLE) AS total_revenue,
         |  CAST(SUM(CASE WHEN sn.n_name = 'NATION_1'
         |    THEN ${Fx.dec2Sql("l_extendedprice")} * (${Fx.oneSql} - ${Fx.rate2Sql("l_discount")})
         |    ELSE CAST(0 AS DECIMAL(3,2)) END) AS DOUBLE)
         |    / CAST(SUM(${Fx.dec2Sql("l_extendedprice")} * (${Fx.oneSql} - ${Fx.rate2Sql("l_discount")})) AS DOUBLE) AS mkt_share
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |WHERE p_type = 'ECONOMY'
         |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND o_custkey IN (SELECT c_custkey FROM customer
         |    JOIN nation cn ON c_nationkey = cn.n_nationkey
         |    JOIN region ON cn.n_regionkey = r_regionkey
         |    WHERE r_name = 'AMERICA')
         |GROUP BY 1 ORDER BY o_year""".stripMargin,

    // Q13 shape: order-count histogram over a filtered LEFT join that
    // preserves zero-order customers
    "customer_order_distribution" ->
      """WITH per_cust AS (SELECT o_custkey, COUNT(*) AS cnt
        |  FROM orders
        |  WHERE o_orderpriority NOT IN ('5-LOW', '4-NOT SPECIFIED')
        |  GROUP BY o_custkey)
        |SELECT CAST(COALESCE(cnt, 0) AS BIGINT) AS c_count,
        |  CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
        |GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // Q19 shape: OR-of-conjunctions over the part join; the oracle
    // states the disjunction directly, the Spark plan decomposes it
    // into pushed envelopes + residual — same algebra
    "disjunctive_discount_revenue" ->
      s"""SELECT CAST(SUM(${Fx.dec2Sql("l_extendedprice")} * (${Fx.oneSql} - ${Fx.rate2Sql("l_discount")})) AS DOUBLE) AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
         |    AND l_quantity BETWEEN 1 AND 11)
         |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
         |    AND l_quantity BETWEEN 10 AND 20)
         |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
         |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    // PQ/ADC: per-subspace trained codebooks, table-lookup scoring —
    // the CTE chain unrolls the identical fixed-point training
    "ann_pq_topk" -> pqOracle(),

    // CCNet-style line-level boilerplate removal: "line" = 3-token
    // non-overlapping slice, boilerplate = line in >= 5 distinct docs
    "boilerplate_remove" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |l AS (SELECT doc_id, i AS line_no,
        |    array_to_string(ws[i*3+1:i*3+3], ' ') AS line
        |  FROM w, unnest(range(CAST(ceil(len(ws)/3.0) AS BIGINT))) AS t(i)),
        |b AS (SELECT line FROM l GROUP BY line
        |  HAVING COUNT(DISTINCT doc_id) >= 5),
        |k AS (SELECT doc_id, line_no, line FROM l
        |  WHERE line NOT IN (SELECT line FROM b)),
        |a AS (SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(line, ' ' ORDER BY line_no) AS clean_text
        |  FROM k GROUP BY doc_id),
        |tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY doc_id)
        |SELECT tot.doc_id, COALESCE(a.clean_text, '') AS clean_text,
        |  tot.n_lines, tot.n_lines - COALESCE(a.n_kept, 0) AS n_removed
        |FROM tot LEFT JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin,

    // bigram fluency gate: share of a doc's bigrams inside the top-100
    // corpus bigram vocabulary (ties broken by bigram text)
    "bigram_coverage" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |bg AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS bigram
        |  FROM w, unnest(generate_series(1, len(ws)-1)) AS t(i)
        |  WHERE len(ws) >= 2),
        |v AS (SELECT bigram FROM (SELECT bigram, COUNT(*) AS cnt FROM bg
        |  GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 100))
        |SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CASE WHEN v.bigram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
        |  CAST(SUM(CASE WHEN v.bigram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS coverage
        |FROM bg LEFT JOIN v ON bg.bigram = v.bigram
        |GROUP BY bg.doc_id ORDER BY doc_id""".stripMargin,

    // per-type exact median imputation over hash-gated injected
    // missingness (same salted h60 gate as the sampling family)
    "median_impute" ->
      s"""WITH ev AS (SELECT event_id, event_type, value,
         |    ${h60("'imp:' || CAST(event_id AS VARCHAR)")} % 100 < 10 AS was_missing
         |  FROM events),
         |m AS (SELECT event_type, quantile_cont(value, 0.5) AS median_value
         |  FROM ev WHERE NOT was_missing GROUP BY event_type)
         |SELECT event_id, ev.event_type,
         |  CASE WHEN was_missing THEN median_value ELSE value END AS value_imputed,
         |  was_missing
         |FROM ev JOIN m ON ev.event_type = m.event_type
         |ORDER BY event_id""".stripMargin,

    // length-proportional Bernoulli keep: h % cap < min(n_chars, cap),
    // exact integers, "wsamp:" salt decorrelates from the other gates
    "weighted_sample" ->
      s"""SELECT doc_id, n_chars,
         |  CAST(LEAST(n_chars, 512) AS BIGINT) AS weight
         |FROM documents
         |WHERE ${h60("'wsamp:' || CAST(doc_id AS VARCHAR)")} % 512
         |  < LEAST(n_chars, 512)
         |ORDER BY doc_id""".stripMargin,

    // production keeper policy: per near-dup cluster, the argmax by
    // (quality DESC, doc_id ASC) — quality is the oracle-checked
    // bit-identical double, so the winner is engine-identical
    "cluster_best_keeper" -> keeperSql(dedupClustersSql),

    // the same keeper policy driven by EMBEDDING near-dup clusters
    // (vec_id ≡ doc_id for the embedded subset, stated by the contract)
    "semantic_dedup_keeper" -> keeperSql(embeddingClustersSql),

    // power-of-two padded-batch buckets from the binary digit count —
    // no float log2 near exact powers of two
    "length_bucket_audit" ->
      """WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |b AS (SELECT CASE WHEN nt <= 1 THEN 1
        |    ELSE CAST(1 AS BIGINT) << length(bin(nt - 1)) END AS bucket, nt
        |  FROM d)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(nt) AS BIGINT) AS sum_tokens,
        |  CAST(COUNT(*) * bucket AS BIGINT) AS pad_tokens,
        |  1.0 - CAST(SUM(nt) AS DOUBLE) / (COUNT(*) * bucket) AS waste_frac
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    // zone-map file skipping is lossless by construction, so the oracle
    // is the plain full-scan range filter over the raw events table
    "zonemap_skip" ->
      s"""SELECT event_id, CAST(epoch_us(ts) AS BIGINT) * 1000 AS ts,
         |  user_id, value
         |FROM events
         |WHERE epoch_us(ts) * 1000 >= ${graft.sources.DataSkipping.QueryLoNs}
         |  AND epoch_us(ts) * 1000 < ${graft.sources.DataSkipping.QueryHiNs}
         |ORDER BY event_id""".stripMargin,

    // the Bloom semi-join reduction is lossless (no false negatives;
    // false positives removed by the exact join), so the oracle is the
    // plain fact-dim join
    "runtime_filter_join" ->
      s"""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
         |  CAST(SUM(${Fx.dec2Sql("l_extendedprice")} * (${Fx.oneSql} - ${Fx.rate2Sql("l_discount")})) AS DOUBLE) AS revenue,
         |  CAST(COUNT(*) AS BIGINT) AS n_lines
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT'
         |  AND o_orderdate >= TIMESTAMP '${graft.operators.RuntimeFilter.CutoffTs}'
         |GROUP BY o_orderkey, o_orderdate
         |ORDER BY o_orderkey""".stripMargin,

    // five exact-integer rules + conjunctive keep; thresholds mirror
    // TextOps.gopherQualityFilterOf verbatim
    "gopher_quality_filter" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |s AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n,
         |    CAST(list_sum(list_transform(l, x -> len(x))) AS BIGINT) AS chars,
         |    CAST(len(list_distinct(l)) AS BIGINT) AS nd,
         |    CAST(list_max(list_transform(list_distinct(l),
         |      d -> len(list_filter(l, x -> x = d)))) AS BIGINT) AS topc,
         |    CAST(len(list_filter(list_distinct(l),
         |      x -> x IN ${inList(graft.functions.TextFns.stopwordProfiles("en"))})) AS BIGINT) AS dstops
         |  FROM w)
         |SELECT doc_id, n AS n_words,
         |  (n >= 20 AND n <= 80) AS words_ok,
         |  (chars * 10 >= n * 38 AND chars * 10 <= n * 50) AS mean_len_ok,
         |  (topc * 5 <= n) AS top_word_ok,
         |  (nd * 10 >= n * 3) AS distinct_ok,
         |  (dstops >= 2) AS stopword_ok,
         |  ((n >= 20 AND n <= 80) AND (chars * 10 >= n * 38 AND chars * 10 <= n * 50)
         |    AND (topc * 5 <= n) AND (nd * 10 >= n * 3) AND (dstops >= 2)) AS keep
         |FROM s ORDER BY doc_id""".stripMargin,

    // whole-bit unigram surprisal: floor(log2(total div cnt)) via the
    // binary digit count, OOV words score as singletons
    "unigram_surprisal" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |c AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
         |v AS (SELECT word, cnt FROM c ORDER BY cnt DESC, word
         |  LIMIT ${graft.operators.TextOps.SurprisalVocab}),
         |t AS (SELECT SUM(cnt) AS total FROM c),
         |b AS (SELECT w.doc_id,
         |    length(bin((SELECT total FROM t) // COALESCE(v.cnt, 1))) - 1 AS bits
         |  FROM w LEFT JOIN v USING (word))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(bits) AS BIGINT) AS sum_bits,
         |  CAST(SUM(bits) AS DOUBLE) / COUNT(*) AS mean_bits
         |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // NFC canonicalization: DuckDB's nfc_normalize implements the same
    // Unicode algorithm as java.text.Normalizer; the decomposed suffix
    // is injected by the same salted gate in both engines
    "text_normalize" ->
      s"""WITH r AS (SELECT doc_id,
         |    CASE WHEN ${h60("'nfc:' || CAST(doc_id AS VARCHAR)")}
         |        % ${graft.operators.TextOps.NfcInjectMod}
         |        < ${graft.operators.TextOps.NfcInjectKeep}
         |      THEN text || ' cafe' || chr(769) ELSE text END AS raw
         |  FROM documents)
         |SELECT doc_id, CAST(length(raw) AS INTEGER) AS n_chars_raw,
         |  CAST(length(nfc_normalize(raw)) AS INTEGER) AS n_chars_nfc,
         |  (CAST(length(nfc_normalize(raw)) AS INTEGER)
         |    <> CAST(length(raw) AS INTEGER)) AS changed,
         |  md5(nfc_normalize(raw)) AS norm_md5
         |FROM r ORDER BY doc_id""".stripMargin,

    // DSIR importance resampling (Xie et al. 2023): hashed-ngram
    // target/raw models, whole-bit exact log-ratio weights, and the
    // deterministic top-ceil(N/10) selection — the entire pipeline
    // hash-checked, threshold row and all
    "dsir_select" ->
      s"""WITH w AS (SELECT doc_id, lang,
         |    unnest(string_split(text, ' ')) AS word FROM documents),
         |f AS (SELECT doc_id,
         |    ${h60("'dsir:' || word")} % ${graft.operators.TextOps.DsirBuckets} AS b,
         |    lang FROM w),
         |c AS (SELECT b, COUNT(*) AS r,
         |    COUNT(*) FILTER (WHERE lang = 'en') AS t FROM f GROUP BY b),
         |sb AS (SELECT b,
         |    length(bin((t + 1) * ${graft.operators.TextOps.DsirScale} // (r + 1))) - 1 AS s
         |  FROM c),
         |dw AS (SELECT doc_id, COUNT(*) AS n_feats, SUM(s) AS w_bits
         |  FROM f JOIN sb USING (b) GROUP BY doc_id),
         |k AS (SELECT (COUNT(*) + ${graft.operators.TextOps.DsirKeepDenom} - 1)
         |    // ${graft.operators.TextOps.DsirKeepDenom} AS k FROM documents),
         |rk AS (SELECT doc_id, n_feats, w_bits,
         |    ROW_NUMBER() OVER (ORDER BY w_bits DESC, doc_id) AS rn FROM dw)
         |SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
         |  CAST(w_bits AS BIGINT) AS w_bits,
         |  rn <= (SELECT k FROM k) AS picked
         |FROM rk ORDER BY doc_id""".stripMargin,

    // hashing-trick featurizer: same salted h60 % buckets on both sides
    "feature_hash" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents)
         |SELECT doc_id,
         |  ${h60("'fh:' || word")} % ${graft.operators.TextOps.FeatureHashBuckets} AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |FROM w GROUP BY doc_id, bucket ORDER BY doc_id, bucket""".stripMargin,

    // leave-one-out target mean in exact floor cents; singleton
    // categories encode NULL
    "target_encode_loo" ->
      """WITH ev AS (SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |s AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS cents_sum
        |  FROM ev GROUP BY event_type)
        |SELECT event_id, ev.event_type, cents,
        |  CASE WHEN n > 1 THEN (cents_sum - cents) // (n - 1) END
        |    AS loo_cents_floor
        |FROM ev JOIN s USING (event_type) ORDER BY event_id""".stripMargin,

    // quasi-identifier cell sizes + the segment-level generalization rung
    "k_anonymity_audit" ->
      s"""WITH cells AS (SELECT c_mktsegment, c_nationkey, COUNT(*) AS n
         |  FROM customer GROUP BY c_mktsegment, c_nationkey),
         |seg AS (SELECT c_mktsegment, CAST(SUM(n) AS BIGINT) AS n_generalized
         |  FROM cells GROUP BY c_mktsegment)
         |SELECT c_mktsegment, c_nationkey, n,
         |  (n >= ${graft.operators.Audit.KAnon}) AS k_ok, n_generalized,
         |  (n_generalized >= ${graft.operators.Audit.KAnon}) AS generalized_ok
         |FROM cells JOIN seg USING (c_mktsegment)
         |ORDER BY c_mktsegment, c_nationkey""".stripMargin,

    // exact integer co-moments over the fixed-point quantized leading
    // block; the derived double shares one IEEE expression tree
    "embedding_covariance" -> {
      val d = graft.operators.Similarity.CovBlockDims
      val pairs = for { i <- 0 until d; j <- i until d } yield (i, j)
      val sums =
        (0 until d).map(i => s"CAST(SUM(qv[${i + 1}]) AS BIGINT) AS s_$i") ++
          pairs.map { case (i, j) =>
            s"CAST(SUM(qv[${i + 1}] * qv[${j + 1}]) AS BIGINT) AS p_${i}_$j" }
      val unpivot = pairs.map { case (i, j) =>
        s"SELECT CAST($i AS BIGINT) AS i, CAST($j AS BIGINT) AS j, n, " +
          s"s_$i AS s_i, s_$j AS s_j, p_${i}_$j AS s_ij FROM a"
      }.mkString("\nUNION ALL ")
      s"""WITH q AS (SELECT list_transform(embedding[1:$d],
         |    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS qv
         |  FROM embeddings),
         |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, ${sums.mkString(",\n  ")}
         |  FROM q)
         |SELECT i, j, n, s_i, s_j, s_ij,
         |  CAST(n * s_ij - s_i * s_j AS DOUBLE)
         |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1000000.0) AS cov
         |FROM ($unpivot)
         |ORDER BY i, j""".stripMargin
    },

    // median/MAD in the exact doubled-integer domain; the flag is the
    // cross-multiplied inequality dev2*10000 > 22239*mad4
    "mad_outliers" ->
      s"""WITH ev AS (SELECT event_id, event_type,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM events),
         |m AS (SELECT event_type,
         |    CAST(quantile_cont(cents, 0.5) * 2 AS BIGINT) AS med2
         |  FROM ev GROUP BY event_type),
         |d AS (SELECT event_id, ev.event_type, cents, med2,
         |    abs(2 * cents - med2) AS dev2
         |  FROM ev JOIN m USING (event_type)),
         |md AS (SELECT event_type,
         |    CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
         |  FROM d GROUP BY event_type)
         |SELECT event_id, d.event_type, cents, med2, dev2, mad4,
         |  (dev2 * ${graft.operators.Audit.MadDen}
         |    > ${graft.operators.Audit.MadNum} * mad4) AS is_outlier
         |FROM d JOIN md USING (event_type) ORDER BY event_id""".stripMargin,

    // Binomial(4,1/4) weights from four 2-bit fields of one salted md5;
    // resample means are single exact-integer divisions
    "poisson_bootstrap" -> {
      val h = h60("'boot:' || CAST(r AS VARCHAR) || ':' || CAST(event_id AS VARCHAR)")
      val w = (0 until 4).map(j =>
        s"CASE WHEN (h >> ${2 * j}) & 3 = 0 THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH ev AS (SELECT event_id, event_type,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM events),
         |rx AS (SELECT event_id, event_type, cents, r, $h AS h
         |  FROM ev, LATERAL (SELECT unnest(generate_series(0,
         |    ${graft.operators.Audit.BootResamples - 1})) AS r)),
         |wx AS (SELECT event_type, r, cents, $w AS w FROM rx),
         |mn AS (SELECT event_type, r,
         |    CAST(SUM(w * cents) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)
         |      AS mean_cents
         |  FROM wx GROUP BY event_type, r),
         |rk AS (SELECT event_type, mean_cents,
         |    ROW_NUMBER() OVER (PARTITION BY event_type
         |      ORDER BY mean_cents, r) AS rk,
         |    COUNT(*) OVER (PARTITION BY event_type) AS nr FROM mn),
         |ci AS (SELECT event_type, MIN(mean_cents) AS boot_lo,
         |    MAX(mean_cents) AS boot_hi
         |  FROM rk WHERE rk = 2 OR rk = nr - 1 GROUP BY event_type),
         |f AS (SELECT event_type, COUNT(*) AS n,
         |    CAST(SUM(cents) AS BIGINT) AS cs FROM ev GROUP BY event_type)
         |SELECT ci.event_type, n, cs // n AS mean_floor_cents,
         |  boot_lo, boot_hi
         |FROM ci JOIN f USING (event_type) ORDER BY event_type""".stripMargin
    },

    // left-outer attribution: unconverted clicks carry NULL purchase
    // columns; NULLS FIRST mirrors Spark's ascending null ordering
    "streaming_left_join" ->
      s"""WITH c AS (SELECT event_id AS click_id, user_id,
         |    CAST(epoch_us(ts) // 1000 AS BIGINT) AS c_ts_ms
         |  FROM events WHERE event_type = 'click' AND event_id < ${graft.streaming.Streams.HarnessFeedCap}),
         |p AS (SELECT event_id AS purchase_id, user_id,
         |    CAST(epoch_us(ts) // 1000 AS BIGINT) AS p_ts_ms
         |  FROM events WHERE event_type = 'purchase' AND event_id < ${graft.streaming.Streams.HarnessFeedCap})
         |SELECT c.click_id, p.purchase_id, c.user_id, c.c_ts_ms, p.p_ts_ms
         |FROM c LEFT JOIN p ON c.user_id = p.user_id
         |  AND p.p_ts_ms BETWEEN c.c_ts_ms AND c.c_ts_ms + 1800000
         |ORDER BY click_id, purchase_id NULLS FIRST""".stripMargin,

    // incremental stats maintenance is lossless like the full build:
    // base + delta = all events, so the oracle is the same range filter
    "zonemap_incremental" ->
      s"""SELECT event_id, CAST(epoch_us(ts) AS BIGINT) * 1000 AS ts,
         |  user_id, value
         |FROM events
         |WHERE epoch_us(ts) * 1000 >= ${graft.sources.DataSkipping.QueryLoNs}
         |  AND epoch_us(ts) * 1000 < ${graft.sources.DataSkipping.QueryHiNs}
         |ORDER BY event_id""".stripMargin,

    // random walk with restart to the focus user's seed set, integer
    // rounds unrolled like pagerank_corated's oracle
    "pagerank_personalized" ->
      graft.operators.Graph.pagerankPersonalizedSql(),

    // per-file Bloom point skipping is lossless (no false negatives),
    // so the oracle is the plain IN-list filter
    "bloom_file_skip" ->
      s"""SELECT event_id, CAST(epoch_us(ts) AS BIGINT) * 1000 AS ts,
         |  user_id, value
         |FROM events
         |WHERE event_id IN (${graft.sources.DataSkipping.TargetEventIds.mkString(", ")})
         |ORDER BY event_id""".stripMargin,

    // PERMISSIVE corrupt-record isolation: good rows pass through
    // typed; the quarantine count rides the event_id=-1 sentinel row
    "json_corrupt_recovery" ->
      """SELECT event_id, user_id, value FROM events WHERE event_id % 37 <> 0
        |UNION ALL
        |SELECT -1 AS event_id,
        |  (SELECT COUNT(*) FROM events WHERE event_id % 37 = 0) AS user_id,
        |  NULL AS value
        |ORDER BY event_id""".stripMargin,

    // the z-order layout shapes only WHICH files hold which rows;
    // skipping is lossless, so the oracle is the plain prefix filter
    "zorder_skip" ->
      """SELECT event_id, CAST(epoch_us(ts) AS BIGINT) * 1000 AS ts,
        |  user_id, value
        |FROM events
        |WHERE user_id <= (SELECT MAX(user_id) FROM events) // 8
        |ORDER BY event_id""".stripMargin,

    // U-shaped credit in exact ppm: 40/20/40, middle remainder rides
    // the first touch, per-purchase sum is exactly 1,000,000
    "position_attribution" ->
      s"""WITH ev AS (SELECT event_id, user_id,
         |    CAST(epoch_us(ts) AS BIGINT) AS tsu, event_type FROM events),
         |p AS (SELECT event_id AS purchase_id, user_id, tsu FROM ev
         |  WHERE event_type = 'purchase'),
         |c AS (SELECT event_id AS c_id, user_id, tsu AS c_tsu FROM ev
         |  WHERE event_type = 'click'),
         |pr AS (SELECT purchase_id, c_id, c_tsu,
         |    ROW_NUMBER() OVER (PARTITION BY purchase_id
         |      ORDER BY c_tsu, c_id) AS pos,
         |    COUNT(*) OVER (PARTITION BY purchase_id) AS n_touches
         |  FROM p JOIN c USING (user_id)
         |  WHERE c_tsu < p.tsu
         |    AND c_tsu >= p.tsu - ${graft.operators.Temporal.AttributionWindowUs})
         |SELECT purchase_id, c_id AS click_id, CAST(pos AS INTEGER) AS pos,
         |  n_touches,
         |  CAST(CASE WHEN n_touches = 1 THEN 1000000
         |    WHEN n_touches = 2 THEN 500000
         |    WHEN pos = 1 THEN 400000 + 200000 % (n_touches - 2)
         |    WHEN pos = n_touches THEN 400000
         |    ELSE 200000 // (n_touches - 2) END AS BIGINT) AS credit_ppm
         |FROM pr ORDER BY purchase_id, pos""".stripMargin,

    // the maintained Δ-join view must equal the from-scratch join over
    // the day-2 state (fact delta folded, dim updates applied)
    "incremental_join_view" ->
      s"""WITH dim AS (SELECT c_custkey,
         |    CASE WHEN c_custkey % ${graft.sources.Maintenance.DimUpdateMod} = 0
         |      THEN c_name || ' v2' ELSE c_name END AS c_name,
         |    c_mktsegment FROM customer)
         |SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice,
         |  CAST(o_orderdate AS DATE) AS o_orderdate
         |FROM orders JOIN dim ON o_custkey = c_custkey
         |ORDER BY o_orderkey""".stripMargin,

    // exact Mann-Whitney AUC with midrank ties + integer ppm metrics;
    // the oracle's flat prefix window equals the engine's two-level one
    "binary_classifier_eval" ->
      s"""WITH ev AS (SELECT
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
         |  FROM events),
         |g AS (SELECT cents, COUNT(*) AS cnt, SUM(pos) AS cnt_pos
         |  FROM ev GROUP BY cents),
         |c AS (SELECT cents, cnt, cnt_pos, COALESCE(SUM(cnt) OVER (
         |    ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND 1 PRECEDING), 0) AS cum FROM g),
         |a AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         |    CAST(SUM(cnt_pos) AS BIGINT) AS n_pos,
         |    CAST(SUM(cnt_pos * (cum * 2 + cnt + 1)) AS BIGINT) AS auc2num,
         |    CAST(SUM(CASE WHEN cents >= ${graft.operators.Audit.EvalThresholdCents} THEN cnt_pos ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN cents >= ${graft.operators.Audit.EvalThresholdCents} THEN cnt - cnt_pos ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN cents < ${graft.operators.Audit.EvalThresholdCents} THEN cnt_pos ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN cents < ${graft.operators.Audit.EvalThresholdCents} THEN cnt - cnt_pos ELSE 0 END) AS BIGINT) AS tn
         |  FROM c)
         |SELECT n, n_pos, tp, fp, tn, fn,
         |  tp * 1000000 // (tp + fp) AS precision_ppm,
         |  tp * 1000000 // (tp + fn) AS recall_ppm,
         |  (2 * tp * 1000000) // (2 * tp + fp + fn) AS f1_ppm,
         |  CAST(auc2num - n_pos * (n_pos + 1) AS DOUBLE)
         |    / CAST(n_pos * (n - n_pos) * 2 AS DOUBLE) AS auc
         |FROM a""".stripMargin,

    // leakage-safe horizon label: purchase strictly after the first
    // click and within 7 days; never-clicked users have no anchor row
    "label_horizon" ->
      s"""WITH ev AS (SELECT event_id, user_id,
         |    CAST(epoch_us(ts) AS BIGINT) AS tsu, event_type FROM events),
         |a AS (SELECT user_id, MIN(tsu) AS first_click_tsu FROM ev
         |  WHERE event_type = 'click' GROUP BY user_id),
         |p AS (SELECT user_id, tsu AS p_tsu FROM ev
         |  WHERE event_type = 'purchase')
         |SELECT a.user_id, first_click_tsu,
         |  CAST(MAX(CASE WHEN p_tsu > first_click_tsu
         |    AND p_tsu <= first_click_tsu + ${graft.operators.Temporal.LabelHorizonUs}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS label
         |FROM a LEFT JOIN p USING (user_id)
         |GROUP BY a.user_id, first_click_tsu ORDER BY a.user_id""".stripMargin,

    // two chained ASOF LEFT joins: every feature is as-of the label
    // timestamp, with per-feature staleness
    "point_in_time_join" ->
      """WITH ev AS (SELECT event_id, user_id,
        |    CAST(epoch_us(ts) AS BIGINT) AS tsu, event_type FROM events),
        |l AS (SELECT event_id, user_id, tsu FROM ev
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, tsu, MAX(event_id) AS click_id FROM ev
        |  WHERE event_type = 'click' GROUP BY user_id, tsu),
        |e2 AS (SELECT user_id, tsu, MAX(event_id) AS error_id FROM ev
        |  WHERE event_type = 'error' GROUP BY user_id, tsu)
        |SELECT l.event_id, l.user_id, l.tsu,
        |  c.click_id, c.tsu AS click_tsu, l.tsu - c.tsu AS click_age_us,
        |  e2.error_id, e2.tsu AS error_tsu, l.tsu - e2.tsu AS error_age_us
        |FROM l ASOF LEFT JOIN c
        |    ON l.user_id = c.user_id AND l.tsu >= c.tsu
        |  ASOF LEFT JOIN e2
        |    ON l.user_id = e2.user_id AND l.tsu >= e2.tsu
        |ORDER BY l.event_id""".stripMargin,

    // item-item CF transposed: per-song user cap, exact integer cos²-ppm
    "user_similarity_topk" -> graft.operators.Graph.userSimilaritySql(),

    // Complete-mode leaderboard: the final sink table after the last
    // trigger equals the one-shot aggregate over the whole feed
    "streaming_topk_complete" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
        |  FROM documents WHERE doc_id < 200)
        |SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM w
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 10""".stripMargin,

    // per-group OLS from exact co-moments; slope then intercept through
    // one shared IEEE tree
    "trend_slope" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |h0 AS (SELECT MIN(h) AS v FROM ev),
        |m AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(h - (SELECT v FROM h0)) AS BIGINT) AS sx,
        |    CAST(SUM(cents) AS BIGINT) AS sy,
        |    CAST(SUM((h - (SELECT v FROM h0)) * cents) AS BIGINT) AS sxy,
        |    CAST(SUM((h - (SELECT v FROM h0))
        |      * (h - (SELECT v FROM h0))) AS BIGINT) AS sxx
        |  FROM ev GROUP BY event_type),
        |s AS (SELECT *, CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents_per_hour
        |  FROM m)
        |SELECT event_type, n, sx, sy, sxy, sxx, slope_cents_per_hour,
        |  (CAST(sy AS DOUBLE) - slope_cents_per_hour * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) AS intercept_cents
        |FROM s ORDER BY event_type""".stripMargin,

    // struct-min/max open/close over the total (tsu, event_id) order
    "ohlc_bars" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
        |    CAST(epoch_us(ts) AS BIGINT) AS tsu, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |r AS (SELECT event_type, h, cents,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, h
        |      ORDER BY tsu, event_id) AS rn_a,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, h
        |      ORDER BY tsu DESC, event_id DESC) AS rn_d
        |  FROM ev)
        |SELECT event_type, h,
        |  MAX(CASE WHEN rn_a = 1 THEN cents END) AS open_cents,
        |  MAX(cents) AS high_cents, MIN(cents) AS low_cents,
        |  MAX(CASE WHEN rn_d = 1 THEN cents END) AS close_cents,
        |  CAST(COUNT(*) AS BIGINT) AS volume,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM r GROUP BY event_type, h ORDER BY event_type, h""".stripMargin,

    // the streamed expanding z-score equals the batch expanding-window
    // form: each event judged against all PRIOR events of its user
    "streaming_anomaly" ->
      s"""WITH ev AS (SELECT event_id, user_id,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM events WHERE event_id < ${graft.streaming.Streams.HarnessFeedCap}),
         |w AS (SELECT event_id, user_id, cents,
         |    COUNT(*) OVER pw AS n_prior,
         |    SUM(cents) OVER pw AS s, SUM(cents * cents) OVER pw AS s2
         |  FROM ev WINDOW pw AS (PARTITION BY user_id ORDER BY event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |SELECT event_id, user_id, cents,
         |  CAST(n_prior AS BIGINT) AS n_prior,
         |  (n_prior >= 5 AND (n_prior * cents - s) * (n_prior * cents - s)
         |    > 9 * (n_prior * s2 - s * s)) AS is_anomaly
         |FROM w ORDER BY event_id""".stripMargin,

    // exact bitmap-index set algebra over per-type user bitmaps; the
    // oracle recomputes from the raw distinct sets
    "bitmap_set_ops" ->
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
        |c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM u
        |  GROUP BY event_type),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_intersect
        |  FROM u a JOIN u b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT ca.event_type AS type_a, cb.event_type AS type_b,
        |  ca.n AS n_a, cb.n AS n_b, COALESCE(p.n_intersect, 0) AS n_intersect,
        |  ca.n + cb.n - COALESCE(p.n_intersect, 0) AS n_union
        |FROM c ca JOIN c cb ON ca.event_type < cb.event_type
        |LEFT JOIN p ON p.type_a = ca.event_type AND p.type_b = cb.event_type
        |ORDER BY type_a, type_b""".stripMargin,

    // real file-source streaming drain: final Complete-mode counts
    // equal the one-shot batch aggregate over the landing directory
    "streaming_file_source" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // agreement of the two oracle-checked detectors over the embedded
    // id space, as exact counts + integer-ppm set Jaccard
    "dedup_method_agreement" ->
      s"""WITH lex0 AS ($minhashPairsSql),
         |emb AS ($embeddingLshPairsSql),
         |lex AS (SELECT doc_a, doc_b FROM lex0
         |  WHERE doc_a IN (SELECT vec_id FROM embeddings)
         |    AND doc_b IN (SELECT vec_id FROM embeddings)),
         |e2 AS (SELECT vec_a AS doc_a, vec_b AS doc_b FROM emb),
         |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_both
         |  FROM lex JOIN e2 USING (doc_a, doc_b))
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lex) AS n_lexical,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e2) AS n_semantic,
         |  n_both,
         |  (n_both * 1000000) // ((SELECT COUNT(*) FROM lex)
         |    + (SELECT COUNT(*) FROM e2) - n_both) AS jaccard_ppm
         |FROM b""".stripMargin,

    // bounded dashboard rollup: top-3 users per type + one OTHER row
    "topn_other_rollup" ->
      """WITH pu AS (SELECT event_type, user_id, COUNT(*) AS cnt
        |  FROM events GROUP BY event_type, user_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY cnt DESC, user_id) AS rk FROM pu),
        |t AS (SELECT event_type, CAST(rk AS INTEGER) AS rk,
        |    'user_' || CAST(user_id AS VARCHAR) AS who,
        |    CAST(cnt AS BIGINT) AS cnt, CAST(1 AS BIGINT) AS n_members
        |  FROM r WHERE rk <= 3),
        |o AS (SELECT event_type, 4 AS rk, 'OTHER' AS who,
        |    CAST(SUM(cnt) AS BIGINT) AS cnt,
        |    CAST(COUNT(*) AS BIGINT) AS n_members
        |  FROM r WHERE rk > 3 GROUP BY event_type)
        |SELECT * FROM t UNION ALL SELECT * FROM o
        |ORDER BY event_type, rk""".stripMargin,

    // per-source exact-identity duplicate rate in integer ppm
    "dup_rate_by_source" ->
      """WITH g AS (SELECT source, md5(text) AS h, COUNT(*) AS c
        |  FROM documents GROUP BY source, md5(text))
        |SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_unique,
        |  CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dups,
        |  (CAST(SUM(c) - COUNT(*) AS BIGINT) * 1000000) // CAST(SUM(c) AS BIGINT)
        |    AS dup_rate_ppm
        |FROM g GROUP BY source ORDER BY source""".stripMargin,

    // the CDC stream applies the same mutation the batch merge does
    // (each key in exactly one trigger), so the final table is the
    // same reconstruction
    "streaming_merge_apply" ->
      s"""SELECT doc_id, CAST(doc_id % ${graft.sources.Maintenance.NumParts} AS INT) AS part, text FROM (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 5 THEN text || ' rev2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + ${graft.operators.Relational.DiffAppendOffset} AS doc_id, text
        |  FROM documents WHERE doc_id % 29 = 0)
        |ORDER BY doc_id""".stripMargin,

    // ranked-retrieval eval: identical split gate, identical embedded
    // fixed-point DCG weight literals — every metric an exact integer
    "ranking_metrics" ->
      graft.operators.RankingEval.rankingMetricsSql(),

    // daily HLL sketches max-merged to one estimate per type — the
    // identical register pipeline, day layer included, in both engines
    "hll_daily_merge" ->
      graft.operators.Sketches.hllDailyMergeSql(),

    // exact two-sample KS: integer sup-gap, one final double division
    "ks_drift" ->
      graft.operators.Audit.ksDriftSql(),

    // gains/lift table: ppm rates, bp lift, descending capture prefix
    "score_lift_table" ->
      graft.operators.Audit.scoreLiftTableSql(),

    // hybrid retrieval: cosine + shingle-jaccard rankings fused by
    // integer reciprocal-rank; both rankings mirrored rank-for-rank
    "rrf_fusion" ->
      graft.operators.Retrieval.rrfFusionSql(),

    // windowed DSP features recomputed from the sample FORMULA — a
    // match proves the Spark side's javax.sound decode recovered the
    // encoded PCM16 stream exactly (the audio_resample contract)
    "audio_features" ->
      s"""WITH a AS (SELECT doc_id AS media_id, 64 + (doc_id % 64) AS ns
         |  FROM documents WHERE doc_id % 3 = 1),
         |s AS (SELECT media_id, ns, unnest(range(ns)) AS i FROM a),
         |v AS (SELECT media_id, i // ${graft.multimodal.Multimodal.AudioWindow} AS w,
         |    i % ${graft.multimodal.Multimodal.AudioWindow} AS j,
         |    ((media_id * 7919 + i * 104729) % 65536) - 32768 AS v
         |  FROM s WHERE i < (ns // ${graft.multimodal.Multimodal.AudioWindow}) * ${graft.multimodal.Multimodal.AudioWindow}),
         |z AS (SELECT media_id, w, j, v,
         |    LAG(v) OVER (PARTITION BY media_id, w ORDER BY j) AS pv FROM v)
         |SELECT media_id, CAST(w AS BIGINT) AS w,
         |  CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v >= 0) <> (pv >= 0))
         |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
         |  CAST(MAX(ABS(v)) AS BIGINT) AS peak,
         |  CAST(SUM(v * v) AS BIGINT) AS ssq,
         |  CAST(SUM(v * v) AS BIGINT) // ${graft.multimodal.Multimodal.AudioWindow} AS mean_sq
         |FROM z GROUP BY media_id, w ORDER BY media_id, w""".stripMargin,

    // wide->long melt: UNION ALL mirror of Dataset.unpivot
    "unpivot_metrics" ->
      graft.operators.Relational.unpivotMetricsSql(),

    // common-neighbor Jaccard over the capped wedge space; integer ppm
    "link_prediction" ->
      graft.operators.Graph.linkPredictionSql(),

    // k-fold CV of the train-mean predictor: exact floor means, exact
    // BIGINT squared errors, sqrt/div correctly rounded in both engines
    "crossval_folds" ->
      graft.operators.Audit.crossvalFoldsSql(),

    // BPE training: identical unrolled census -> argmax -> rewrite
    // rounds; the merge table is the checked artifact
    "bpe_merges" ->
      graft.operators.TextOps.bpeMergesSql(),

    // BPE apply: learned vocabulary joined onto per-doc word counts;
    // fertility ppm is one integer division
    "bpe_tokenize" ->
      graft.operators.TextOps.bpeTokenizeSql(),

    // catalog coverage + slot concentration of the item-item rec lists
    "rec_coverage" ->
      graft.operators.Graph.recCoverageSql(),

    // Cohen's kappa between the Gopher bundle and the weighted quality
    // gate: integer confusion cells, one double division for kappa
    "gate_agreement" ->
      graft.operators.TextOps.gateAgreementSql(
        inList(graft.functions.TextFns.stopwordProfiles("en"))),

    // Neyman budget allocation: exact decimal/hugeint variance, one
    // floored sqrt per stratum, integer divisions after
    "neyman_allocation" ->
      graft.operators.Audit.neymanAllocationSql(),

    // dynamic partition pruning: promo-month dim join over the
    // hive-partitioned fact; oracle filters the raw table directly
    "dpp_join" ->
      graft.sources.DataSkipping.dppJoinSql(),

    // DSv2 connector end-to-end: the oracle restates the generator
    // formulas over the pushed id range — a pushdown that dropped or
    // duplicated rows (split-boundary off-by-one, residual filter
    // skipped) hash-mismatches
    "dsv2_pushdown_scan" ->
      """SELECT id, (id * 31) % 1000 AS v_mul
        |FROM range(25000, 30000) t(id)
        |WHERE (id % 97) % 3 = 0 ORDER BY id""".stripMargin,

    // DSv2 MICRO_BATCH_READ end-to-end: the watermark lifecycle over
    // the connector's admission-control batches must finalize exactly
    // the closed-form hour windows of the generated ids — an offset
    // dropped, a batch re-read, or a window flushed early/late all
    // hash-mismatch
    "streaming_dsv2_source" -> graft.streaming.Streams.dsv2StreamSql(),

    // the full connector pipeline (DSv2 stream source -> windowed agg
    // -> DSv2 streaming sink with per-epoch exactly-once commits ->
    // DSv2 read-back) must publish exactly the same finalized windows
    "streaming_dsv2_pipe" -> graft.streaming.Streams.dsv2StreamSql(),

    // DSv2 BATCH_WRITE end-to-end: task commit -> manifest publish ->
    // split-planned read-back must be invisible next to the aggregate
    // stated directly over lineitem
    "dsv2_write_roundtrip" -> graft.sources.ManifestV2.writeRoundtripSql(),

    // DSv2 aggregate pushdown: per-split closed-form partials merged by
    // Spark's final aggregate vs the closed form over the same range
    "dsv2_agg_pushdown" -> graft.sources.RangeV2.aggPushdownSql(),

    // DSv2 runtime filtering (DPP on a V2 source): the join through the
    // split-pruned scan vs the dimension-side closed form
    "dsv2_runtime_filter" -> graft.sources.RangeV2.runtimeFilterSql(),

    // storage-partitioned join: the shuffle-free co-bucketed self-join
    // vs the closed-form bucket-grouped product sum
    "dsv2_spj_join" -> graft.sources.RangeV2.spjJoinSql(),

    // V2 catalog: SQL-only DDL/DML round-trip with V2 functions vs the
    // same algebra stated straight off orders
    "dsv2_catalog_sql" -> graft.sources.GraftCatalog.catalogSqlSql(),

    // metadata-only DELETE decided by in-manifest file stats vs the
    // survivors' closed form
    "dsv2_metadata_delete" -> graft.sources.GraftCatalog.metadataDeleteSql(),

    // VERSION AS OF time travel: the overwritten snapshot and the live
    // one read side by side vs both closed forms
    "dsv2_time_travel" -> graft.sources.GraftCatalog.timeTravelSql(),

    // row-level MERGE INTO (delete/update/insert branches in one
    // statement, copy-on-write) vs the full-outer-join closed form
    "dsv2_merge_upsert" -> graft.sources.GraftCatalog.mergeUpsertSql(),

    // row-level UPDATE through the group-filtered rewrite vs the
    // shifted-bucket closed form
    "dsv2_update_rewrite" -> graft.sources.GraftCatalog.updateRewriteSql(),

    // DELETE too misaligned for any stats box: the copy-on-write
    // fallback vs the odd-key survivors
    "dsv2_delete_rewrite" -> graft.sources.GraftCatalog.deleteRewriteSql(),

    // incremental append-only read (startVersion option): exactly the
    // post-backfill commits vs their closed form
    "dsv2_incremental_read" -> graft.sources.ManifestV2.incrementalReadSql(),

    // PARTITIONED BY tables + storage-partitioned join in pure SQL vs
    // the same join off the base tables
    "dsv2_bucketed_join" -> graft.sources.GraftCatalog.bucketedJoinSql(),

    // CALL graft.system.compact: fragments merged in one atomic swap;
    // the hash covers both the survivors and the accounting row
    "dsv2_compact_table" -> graft.sources.GraftCatalog.compactTableSql(),
    "dsv2_expire_snapshots" -> graft.sources.GraftCatalog.expireSnapshotsSql(),
    "dsv2_stats_agg" -> graft.sources.GraftCatalog.statsAggSql(),
    "dsv2_prune_scan" -> graft.sources.GraftCatalog.pruneScanSql(),
    "dsv2_mor_compact" -> graft.sources.GraftCatalog.morCompactSql(),

    // row-group-granular reads: one split per parquet row group off
    // manifest metadata, chunk-stats group skipping on the range probe
    "dsv2_rowgroup_scan" -> graft.sources.ManifestV2.rowGroupScanSql(),
    "dsv2_ts_prune" -> graft.sources.ManifestV2.tsPruneSql(),
    "dsv2_hidden_bucket_join" ->
      graft.sources.GraftCatalog.hiddenBucketJoinSql(),
    "dsv2_days_partition" -> graft.sources.GraftCatalog.daysPartitionSql(),
    "dsv2_overwrite_where" ->
      graft.sources.GraftCatalog.overwriteWhereSql(),
    "dsv2_dynamic_overwrite" ->
      graft.sources.GraftCatalog.dynamicOverwriteSql(),
    "dsv2_runtime_file_prune" ->
      graft.sources.GraftCatalog.runtimeFilePruneSql(),
    "dsv2_partition_evolution" ->
      graft.sources.GraftCatalog.partitionEvolutionSql(),
    "dsv2_multi_partition" ->
      graft.sources.GraftCatalog.multiPartitionSql(),
    "dsv2_snapshot_tag" -> graft.sources.GraftCatalog.snapshotTagSql(),

    // TIMESTAMP AS OF: monotone commit stamps in the manifest header;
    // both timestamps of a mutating table read side by side
    "dsv2_timestamp_travel" ->
      graft.sources.GraftCatalog.timestampTravelSql(),

    // branches + write-audit-publish: odds staged on a branch
    // (invisible to main), audited, fast-forwarded as one atomic
    // commit; pre-publish main / branch tip / published main compared
    "dsv2_branch_wap" ->
      graft.sources.GraftCatalog.branchWapSql(),

    // metadata tables (t.history / t.files / t.tags / t.branches):
    // the table's own log SELECT-able off manifest headers and refs
    "dsv2_meta_tables" ->
      graft.sources.GraftCatalog.metaTablesSql(),

    // RENAME COLUMN: metadata-only, alias-resolved old footers; both
    // file populations aggregate under the new name
    "dsv2_rename_column" ->
      graft.sources.GraftCatalog.renameColumnSql(),

    // DROP COLUMN: metadata-only; surviving columns aggregate across
    // pre- and post-drop file populations
    "dsv2_drop_column" ->
      graft.sources.GraftCatalog.dropColumnSql(),

    // ALTER COLUMN TYPE widening (INT -> BIGINT): pre-widen INT32
    // files decode through an up-cast, post-widen rows exceed the
    // int range — one aggregate across both populations
    "dsv2_widen_type" ->
      graft.sources.GraftCatalog.widenTypeSql(),

    // streaming write-audit-publish: two epochs stage on a BRANCH of
    // a partitioned table, main is untouched until fast_forward
    "streaming_wap" ->
      graft.sources.GraftCatalog.streamingWapSql(),

    // branch time travel: VERSION AS OF '<branch>@<k>' resolves the
    // branch's OWN chain (0 = fork base), '<branch>' the tip
    "dsv2_branch_travel" ->
      graft.sources.GraftCatalog.branchTravelSql(),

    // snapshot rollback: one metadata commit restores the pre-bad
    // state; bad version stays readable, the feed shows retractions
    "dsv2_rollback" ->
      graft.sources.GraftCatalog.rollbackSql(),

    // cherry-pick: append-only branch published onto a main that
    // advanced since the fork (the case fast_forward refuses)
    "dsv2_branch_rebase" ->
      graft.sources.GraftCatalog.branchRebaseSql(),

    // t.partitions metadata view: per-(era, tuple) file/row/stats
    // rollup across a partition-spec evolution
    "dsv2_partitions_meta" ->
      graft.sources.GraftCatalog.partitionsMetaSql(),

    // zero-copy clone: hard-linked shallow clone; both sides then
    // diverge independently (clone ingests, original deletes)
    "dsv2_clone" ->
      graft.sources.GraftCatalog.cloneSql(),

    // TBLPROPERTIES: versioned definition state — SET/UNSET commit
    // snapshots, rollback restores the era's own property set
    "dsv2_tblproperties" ->
      graft.sources.GraftCatalog.tblPropertiesSql(),

    // t.refs: tags + branches as one metadata view
    "dsv2_refs" ->
      graft.sources.GraftCatalog.refsViewSql(),

    // ADD COLUMN ... DEFAULT: pre-add files serve the existence
    // default from the leaf; inserts omitting the column are filled
    // from the same metadata
    "dsv2_add_column_default" ->
      graft.sources.GraftCatalog.addColumnDefaultSql(),

    // merge-on-read maintenance: two deletes' sidecars coalesce to one
    // per file with exact accounting; survivors hash the merge
    "dsv2_coalesce_deletes" -> graft.sources.GraftCatalog.coalesceDeletesSql(),

    // zone-map null soundness: a DELETE matching every non-null row
    // must leave exactly the NULL rows behind
    "dsv2_null_guard_delete" -> graft.sources.GraftCatalog.nullGuardDeleteSql(),

    // append-only change feed crossing a merge-on-read delete: the
    // opted-in incremental read serves exactly the post-delete insert
    "dsv2_appendonly_feed" -> graft.sources.GraftCatalog.appendOnlyFeedSql(),

    // equality-delete sidecars: a key-list DELETE writes kilobytes and
    // reads nothing; value subtraction composes with position deletes
    "dsv2_eq_delete" -> graft.sources.GraftCatalog.eqDeleteSql(),

    // typed equality deletes, the full Iceberg-v2 shape: STRING keys
    // (no stats box — every file takes the shared sidecar, NULL keys
    // survive) and composite multi-column tuples (the BIGINT component
    // still prunes files through stats boxes)
    "dsv2_eq_delete_str" -> graft.sources.GraftCatalog.eqDeleteStrSql(),
    "dsv2_eq_delete_multi" -> graft.sources.GraftCatalog.eqDeleteMultiSql(),

    // change feed with retractions: appends read back as inserts,
    // positional deletes as full-row retractions, equality deletes as
    // once-emitted per-key markers
    "dsv2_changefeed" -> graft.sources.GraftCatalog.changeFeedSql(),

    // the change feed as a STREAM: commits are offsets, each arrives as
    // one micro-batch of change rows (retractions included)
    "streaming_changefeed" ->
      graft.sources.GraftCatalog.streamingChangeFeedSql(),

    // streaming ingest INTO a (days, bucket) partitioned table through
    // one checkpoint: two epochs land partition-pure behind the replay
    // ledger; the read-back aggregates per hidden day partition
    "streaming_partitioned_ingest" ->
      graft.sources.GraftCatalog.streamingPartitionedIngestSql(),

    // streaming upsert (CDC) sink: per-epoch equality sidecars keep the
    // table at exactly the latest version of every key
    "streaming_upsert_sink" -> graft.streaming.Streams.streamingUpsertSql(),

    // upsert sink delete-tombstone channel: a flagged CDC row kills its
    // key via the epoch sidecar and never lands in a data file
    "streaming_upsert_tombstone" ->
      graft.streaming.Streams.streamingTombstoneSql(),

    // typed upsert keys: the same CDC replay keyed on a STRING column
    // (typed v2 epoch sidecars) must give the identical closed form
    "streaming_upsert_string_key" ->
      graft.streaming.Streams.streamingUpsertStrSql(),

    // additive schema evolution: pre-evolution rows null-fill, later
    // rows carry values — both populations vs the closed form
    "dsv2_add_column" -> graft.sources.GraftCatalog.addColumnSql(),

    // atomic REPLACE TABLE AS SELECT: live table + replaced snapshot
    // read side by side vs both halves' closed forms
    "dsv2_replace_table" -> graft.sources.GraftCatalog.replaceTableSql(),

    // enforced CHECK constraint riding every insert plan vs the
    // constrained load's closed form
    "dsv2_check_constraint" -> graft.sources.GraftCatalog.checkConstraintSql(),

    // CALL graft.system.cluster_by: range-clustering rewrite with the
    // accounting row, vs the table's closed form
    "dsv2_cluster_by" -> graft.sources.GraftCatalog.clusterBySql(),

    // table-as-a-stream: snapshot versions are offsets, commits are
    // micro-batches; the running aggregate vs the whole table
    "streaming_table_feed" -> graft.streaming.Streams.tableFeedSql(),

    // binaryFile ingest: pixel stats recomputed from the pattern
    // formula — proves file write -> binaryFile read -> decode exact
    "binary_file_ingest" ->
      """WITH img AS (SELECT doc_id AS media_id,
        |    (doc_id % 64) + 1 AS w, (doc_id % 48) + 1 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (SELECT media_id, w, h, x, y FROM img,
        |  UNNEST(generate_series(0, w - 1)) t1(x),
        |  UNNEST(generate_series(0, h - 1)) t2(y))
        |SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(SUM((media_id * 31 + x * 7 + y * 13) % 256) AS BIGINT)
        |    AS pixel_sum
        |FROM px GROUP BY media_id, w, h ORDER BY media_id""".stripMargin,

    // transformWithState running stats == the batch aggregate over the
    // same capped feed (exact integers end to end)
    // the oracle IS the one-shot histogram SQL: sum-merged daily bins
    // equal the direct counts algebraically, and the hash match is the
    // mergeability proof (the hll_daily_merge contract, SUM algebra)
    "histogram_daily_merge" ->
      graft.operators.Sketches.histogramQuantilesSql(),

    // TTL witness: emissions are slice-local counts BECAUSE the store
    // evicted every slice-1 value during the inter-batch sleep, so
    // sum(emissions) = the batch count and #emissions = #slices
    // containing the user (feed split at ceil(n/2) by event_id rank).
    // Without the TTL the second emission would double-count slice 1
    // and this hash would break.
    "streaming_tws_ttl" ->
      s"""WITH f AS (SELECT user_id, event_id FROM events
         |  WHERE event_id < ${graft.streaming.Streams.HarnessFeedCap}),
         |n AS (SELECT COUNT(*) AS total FROM f),
         |r AS (SELECT user_id,
         |    ROW_NUMBER() OVER (ORDER BY event_id) AS rk FROM f),
         |s AS (SELECT user_id,
         |    CASE WHEN rk <= CAST(CEIL(total / 2.0) AS BIGINT)
         |      THEN 1 ELSE 2 END AS slice
         |  FROM r CROSS JOIN n)
         |SELECT user_id,
         |  CAST(COUNT(DISTINCT slice) AS BIGINT) AS n_flushes,
         |  CAST(COUNT(*) AS BIGINT) AS n_events
         |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,

    "streaming_tws_stats" ->
      s"""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(SUM(cents) AS BIGINT) AS cents_sum,
         |  CAST(MIN(cents) AS BIGINT) AS min_cents,
         |  CAST(MAX(cents) AS BIGINT) AS max_cents
         |FROM (SELECT user_id,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM events
         |  WHERE event_id < ${graft.streaming.Streams.HarnessFeedCap})
         |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // TPC-H gap-fill analogs (Q2/Q9/Q11 shapes) — decorrelated
    // min-join, multi-way profit join, global-scalar HAVING; exact
    // integer/decimal domains throughout (Relational.scala)
    "min_cost_supplier" -> Relational.minCostSupplierSql(),
    "product_profit" -> Relational.productProfitSql(),
    "important_parts" -> Relational.importantPartsSql(),

    // prefix-filter set-similarity join: the oracle is the SPEC, not
    // the algorithm — brute inverted-index Jaccard with NO prefix
    // filter and NO df cap, so a hash match proves the prefix filter
    // generated a complete candidate set (exactness of AllPairs)
    "dedup_prefix_join" ->
      s"""WITH ${shingleSqlCte("sh", 3)},
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b, common,
         |  (common * 1000000) // (sa.sz + sb.sz - common) AS jaccard_ppm
         |FROM common
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE (common * 1000000) // (sa.sz + sb.sz - common) >= ${graft.operators.Dedup.PrefixTauPpm}
         |ORDER BY doc_a, doc_b""".stripMargin,

    // exact-substring dedup (Lee et al. 2022 shape): the oracle is the
    // brute per-pair recompute of the same anchored gaps-and-islands
    // algebra — every maximal shared run's length, count, and
    // interval-union coverage hash-checked
    "dedup_substring_spans" -> Dedup.substringSpansSql(),

    // the APPLY half: per-doc interval-union scrub of duplicated spans
    // (keep-first), Spark's higher-order-function text rebuild vs the
    // oracle's token-per-row relational reconstruction
    "dedup_substring_scrub" -> Dedup.substringScrubSql(),

    // pointer-doubling hierarchy closure vs a genuine recursive-CTE
    // walk — independent traversal strategies, same rollup
    "hierarchy_rollup" -> Graph.hierarchyRollupSql(),

    // two-proportion z + Wilson bounds from four exact integers
    // (matched IEEE trees; corr_moments determinism contract)
    "ab_test_report" -> Audit.abTestReportSql,

    // Spark 4 ListAgg WITHIN GROUP vs DuckDB ordered string_agg over
    // the same (ts, event_id)-total order and identical prefix cap
    "listagg_sessions" -> Relational.listaggSessionsSql(),

    // session variable + SQL UDF + EXECUTE IMMEDIATE ... USING vs the
    // closed form with variable and UDF inlined
    "sql_variables_pipeline" -> Relational.sqlVariablesSql(),

    // SQL scripting WHILE loop vs its bit-arithmetic closed form
    "sql_scripting_loop" -> Relational.sqlScriptingSql(),

    // UTF8_LCASE-collated grouping vs lower()-keyed grouping — proven
    // equivalent on the asserted ASCII-lowercase token domain
    "collation_group" -> TextOps.collationGroupSql,

    // GDPR cascade: flag-join single-pass report vs three CTE passes;
    // fingerprints are bit_xor of the shared md5-prefix h60 domain
    "forget_user_cascade" -> Audit.forgetUserCascadeSql(h60),

    // t-closeness EMD: integer CDF-difference sum over the band grid,
    // wide products DECIMAL(38)/HUGEINT, gate decided ppm-exact
    "t_closeness_audit" -> Audit.tClosenessAuditSql(),

    // Benford screen: nine literal log10 expectations (they sum to
    // 10^6), chi-square contributions in the exact micro domain
    "benford_audit" -> Audit.benfordAuditSql(),

    // gaps-and-islands via day - row_number() island arithmetic;
    // best-streak tie-break (len DESC, start) is total per user
    "activity_streaks" -> Relational.activityStreaksSql(),

    // lag/lead growth accounting; churn attributed to gap-start + 1 so
    // the identity telescopes to the DAU delta
    "growth_accounting" -> Relational.growthAccountingSql(),

    // window+HOF scene cuts vs a per-byte unnest/self-join
    // reconstruction — independent formulations of the same distances
    "video_scene_cuts" -> graft.multimodal.Multimodal.videoSceneCutsSql(),

    // Hilbert curve: nibble-compiled automaton, identical literal
    // tables in both engines (SpreadTable idiom)
    "hilbert_key" -> graft.sources.Hilbert.hilbertKeySql(),
    "curve_clustering" -> graft.sources.Hilbert.curveClusteringSql(),

    // bigram stupid-backoff code lengths in whole bits; conditional
    // table capped, unigram census full — mirrored exactly
    "bigram_surprisal" -> TextOps.bigramSurprisalSql(),

    // bucket-decomposed interval×interval join with the exactly-once
    // responsibility rule; oracle is the direct theta join
    "interval_overlap_join" -> Temporal.intervalOverlapJoinSql(),

    // Spark 4 built-in XML source round-trip
    "xml_roundtrip" -> "SELECT * FROM part ORDER BY p_partkey",

    // earliest-qualifying funnel with a 24h conversion window: greedy
    // HOF walk vs chained bounded-MIN fixpoint — equivalent by
    // induction, independently formulated
    "funnel_windowed" -> Relational.funnelWindowedSql(),

    // event-time-timer sessionizer == the batch lag-form sessionize
    // over the same capped feed (close-ordered 0-based session ids)
    "streaming_tws_timer_sessions" ->
      s"""WITH x AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events
         |  WHERE event_id < ${graft.streaming.Streams.HarnessFeedCap}
         |), f AS (
         |  SELECT user_id, event_id, tsu,
         |    CASE WHEN tsu - LAG(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
         |              > 43200000000 THEN 1 ELSE 0 END AS new_s
         |  FROM x
         |), s AS (
         |  SELECT user_id, tsu,
         |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsu, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM f
         |)
         |SELECT user_id, session_id, COUNT(*) AS n_events,
         |  CAST(MIN(tsu) AS BIGINT) AS t_start, CAST(MAX(tsu) AS BIGINT) AS t_end
         |FROM s GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,

    // Spark 4 VARIANT parse/extract/schema vs DuckDB JSON extraction
    "variant_decode" -> Relational.variantDecodeSql(),

    // n distinct aggregates in ONE Expand pass (plan-asserted)
    "multi_distinct_report" -> Relational.multiDistinctReportSql(),
    // hold-until-next weighted average; DECIMAL(38)/HUGEINT products,
    // integral div (decimal true-division would round HALF_UP)
    "twap_value" -> Relational.twapValueSql(),
    // Elias-γ-style delta-encoded index size per top term
    "posting_list_stats" -> Retrieval.postingListStatsSql(),

    // 7-day rolling reach from stored daily HLL registers only
    "hll_sliding_window" -> Sketches.hllSlidingWindowSql(),
    // quintiled recency/frequency/monetary segmentation
    "rfm_segments" -> Relational.rfmSegmentsSql(),

    // ListState recent-K items: final emission == batch top-K recency
    "streaming_tws_recent_items" ->
      s"""WITH x AS (SELECT user_id, event_id,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM events WHERE event_id < ${graft.streaming.Streams.HarnessFeedCap}),
         |r AS (SELECT user_id, cents, ROW_NUMBER() OVER (
         |    PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM x)
         |SELECT user_id, string_agg(CAST(cents AS VARCHAR), ',' ORDER BY rn) AS items
         |FROM r WHERE rn <= ${graft.streaming.Streams.RecentK}
         |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // MapState per-kind counters: final counts == batch groupBy
    "streaming_tws_map_counts" ->
      s"""SELECT user_id,
         |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) % 10 AS kind,
         |  CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM events WHERE event_id < ${graft.streaming.Streams.HarnessFeedCap}
         |GROUP BY user_id, kind ORDER BY user_id, kind""".stripMargin,

    // warm-started state (batch snapshot seeds, stream advances) must
    // equal the batch aggregate over the WHOLE feed, restricted to
    // users with a second-half event (Update-mode emission rule)
    "streaming_tws_initial_state" ->
      s"""WITH x AS (SELECT user_id, event_id,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         |  FROM events WHERE event_id < ${graft.streaming.Streams.HarnessFeedCap})
         |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(SUM(cents) AS BIGINT) AS cents_sum
         |FROM x
         |WHERE user_id IN (SELECT user_id FROM x
         |  WHERE event_id >= (SELECT (MAX(event_id) + 1) // 2 FROM x))
         |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Q20 shape: nested aggregate inside an EXISTS semi-join chain
    "excess_share_suppliers" -> Relational.excessShareSuppliersSql(),
    // value-based RANGE frame over the calendar-sized pre-aggregate
    "range_frame_revenue" -> Relational.rangeFrameRevenueSql(),
    // k-anonymity's blind spot: distinct-sensitive-value gate
    "l_diversity_audit" -> Audit.lDiversityAuditSql(),

    // forward / nearest as-of: reversed running window and the
    // two-direction pick; oracles are independent grouped-MIN plans
    // (DuckDB ASOF is backward-only)
    "asof_join_forward" -> Temporal.asofForwardSql(),
    "asof_join_nearest" -> Temporal.asofNearestSql(),

    // bounded-frame exact lower median (sorted-list HOF, no floats)
    "rolling_median" -> Temporal.rollingMedianSql(),
    // straight-line gap fill between bracketing observations; div
    // truncation verified identical on both engines
    "interpolate_daily" -> Temporal.interpolateDailySql(),

    // exact discrete percentiles by rank selection (no interpolation)
    "ship_latency_percentiles" -> Relational.shipLatencyPercentilesSql(),
  )
}
