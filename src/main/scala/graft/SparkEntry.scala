package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{CensusQueries, GeoQueries, GraphQueries, Llm, LlmExtra, MultimodalQueries, Quality, Relational, Scalars, SinkQueries, SourceQueries, StreamingQueries, TimeSeries, UdxQueries}
import graft.oracle.OracleSql

/** Driver contract — see /root/repo/SURVEY.md §2.B (the declared operator
  * inventory) and §7 (build plan). Every implemented operator has an entry
  * in `queries`; every oracle=yes row has the matching DuckDB SQL in
  * `oracleSql` (names and rounding aligned — the driver compare sorts
  * columns by name and hashes values).
  *
  * Cache lifecycle convention: a `queries` entry returns a LAZY frame the
  * caller materializes, so a query whose plan persists an intermediate
  * referenced more than once (dq_sequence_gaps' key table, the DBSCAN
  * grid, the family-shared memo frames) cannot unpersist it before
  * returning —
  * the blocks stay cached and are reclaimed by the block manager's LRU
  * under memory pressure (storage is MEMORY_AND_DISK; eviction is safe,
  * lineage rebuilds). A long-lived session embedding this library calls
  * `releaseCaches()` between query batches for deterministic cache
  * pressure — it drops ONLY graft-owned state, leaving the host's own
  * cached tables alone; `spark.catalog.clearCache()` remains the
  * blunter whole-session alternative. That state lives in two places:
  * the session memo (`operators.SessionMemo`, every family-shared
  * derivation and table schema) and the frame registry
  * (`operators.GraftCaches`). `GraftCaches.persist` is the one call
  * that persists a frame — a memo value's included — and it registers
  * the frame, so release is those two calls and nothing else.
  */
object SparkEntry {

  /** Release every graft-owned persisted frame and shared memo — see
    * the cache-lifecycle convention above. Idempotent; safe on stopped
    * sessions; released frames rebuild from lineage if a held plan
    * re-reads them. */
  def releaseCaches(): Unit = {
    graft.operators.SessionMemo.clear()
    graft.operators.GraftCaches.releaseAll()
  }

  /** Flagship: TPC-H Q5-shaped 6-table star join on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    Relational.joinStarFlagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.B. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // scan / filter / project
    "scan_parquet_project" -> Relational.scanParquetProject _,
    "scan_pushdown_filter" -> Relational.scanPushdownFilter _,
    "scan_observe_metrics" -> Relational.scanObserveMetrics _,
    "cache_shared_scan" -> Relational.cacheSharedScan _,
    "filter_predicates" -> Relational.filterPredicates _,
    "filter_in_like" -> Relational.filterInLike _,
    "project_expressions" -> Relational.projectExpressions _,
    // joins
    "join_inner_hash" -> Relational.joinInnerHash _,
    "join_broadcast" -> Relational.joinBroadcast _,
    "join_left_outer" -> Relational.joinLeftOuter _,
    "join_right_outer" -> Relational.joinRightOuter _,
    "join_shuffle_hash" -> Relational.joinShuffleHash _,
    "join_full_outer" -> Relational.joinFullOuter _,
    "join_semi" -> Relational.joinSemi _,
    "join_anti" -> Relational.joinAnti _,
    "join_cross" -> Relational.joinCross _,
    "join_theta_range" -> Relational.joinThetaRange _,
    "join_asof" -> Relational.joinAsof _,
    "join_asof_native" -> Relational.joinAsofNative _,
    "join_asof_tolerance" -> Relational.joinAsofTolerance _,
    "join_asof_forward" -> Relational.joinAsofForward _,
    "join_asof_nearest" -> Relational.joinAsofNearest _,
    "join_interval_native" -> Relational.joinIntervalNative _,
    "join_multiway" -> Relational.joinMultiway _,
    "join_null_safe" -> Relational.joinNullSafe _,
    "join_skew_salted" -> Relational.joinSkewSalted _,
    "join_bloom_prefilter" -> Relational.joinBloomPrefilter _,
    "join_range_bucket" -> Relational.joinRangeBucket _,
    "join_sort_merge" -> Relational.joinSortMerge _,
    "join_star_flagship" -> Relational.joinStarFlagship _,
    // aggregations
    "agg_hash_groupby" -> Relational.aggHashGroupby _,
    "agg_distinct_count" -> Relational.aggDistinctCount _,
    "agg_multi_distinct" -> Relational.aggMultiDistinct _,
    "agg_approx_distinct" -> Relational.aggApproxDistinct _,
    "agg_grouping_sets" -> Relational.aggGroupingSets _,
    "agg_rollup" -> Relational.aggRollup _,
    "agg_cube" -> Relational.aggCube _,
    "agg_having" -> Relational.aggHaving _,
    "agg_pivot" -> Relational.aggPivot _,
    "agg_pivot_multi" -> Relational.aggPivotMulti _,
    "agg_unpivot" -> Relational.aggUnpivot _,
    "agg_stats" -> Relational.aggStats _,
    "agg_median_percentile" -> Relational.aggMedianPercentile _,
    "agg_approx_percentile" -> Relational.aggApproxPercentile _,
    "agg_corr_covar" -> Relational.aggCorrCovar _,
    "agg_regression" -> Relational.aggRegression _,
    "agg_arg_minmax" -> Relational.aggArgMinmax _,
    "agg_bool_countif" -> Relational.aggBoolCountif _,
    "agg_collect_sorted" -> Relational.aggCollectSorted _,
    "agg_bit_ops" -> Relational.aggBitOps _,
    "agg_count_min_sketch" -> Relational.aggCountMinSketch _,
    "agg_hll_union" -> Relational.aggHllUnion _,
    "agg_hll_intersect" -> Relational.aggHllIntersect _,
    "agg_sample_bottomk" -> Relational.aggSampleBottomk _,
    "agg_bitmap_distinct" -> Relational.aggBitmapDistinct _,
    "agg_mode" -> Relational.aggMode _,
    "agg_string_agg" -> Relational.aggStringAgg _,
    "sql_scalar_subquery" -> Relational.sqlScalarSubquery _,
    "sql_recursive_cte" -> Relational.sqlRecursiveCte _,
    "sql_lateral_join" -> Relational.sqlLateralJoin _,
    "sql_exists_subquery" -> Relational.sqlExistsSubquery _,
    "sql_merge_upsert" -> Relational.sqlMergeUpsert _,
    "sql_session_variable" -> Relational.sqlSessionVariable _,
    "sql_scripting" -> Relational.sqlScripting _,
    "sql_tvf_range" -> Relational.sqlTvfRange _,
    "sql_pipe_syntax" -> Relational.sqlPipeSyntax _,
    "sql_create_function" -> Relational.sqlCreateFunction _,
    // windows
    "window_rank" -> Relational.windowRank _,
    "window_topk_per_group" -> Relational.windowTopkPerGroup _,
    "window_running_sum" -> Relational.windowRunningSum _,
    "window_moving_sum" -> Relational.windowMovingSum _,
    "window_range_frame" -> Relational.windowRangeFrame _,
    "window_lag_lead" -> Relational.windowLagLead _,
    "window_ntile" -> Relational.windowNtile _,
    "window_value_fns" -> Relational.windowValueFns _,
    "window_percent_cume" -> Relational.windowPercentCume _,
    "window_ignore_nulls" -> Relational.windowIgnoreNulls _,
    "window_gaps_islands" -> Relational.windowGapsIslands _,
    "window_distinct_count" -> Relational.windowDistinctCount _,
    "window_range_time" -> Relational.windowRangeTime _,
    "window_share_of_total" -> Relational.windowShareOfTotal _,
    // sort / limit / set
    "sort_multi_null" -> Relational.sortMultiNull _,
    "topk_global" -> Relational.topkGlobal _,
    "set_union" -> Relational.setUnion _,
    "set_intersect" -> Relational.setIntersect _,
    "set_except" -> Relational.setExcept _,
    "set_ops_all" -> Relational.setOpsAll _,
    "set_union_by_name" -> Relational.setUnionByName _,
    // scalar functions
    "fn_string" -> Scalars.fnString _,
    "fn_string_extra" -> Scalars.fnStringExtra _,
    "fn_date" -> Scalars.fnDate _,
    "fn_date_extra" -> Scalars.fnDateExtra _,
    "fn_math" -> Scalars.fnMath _,
    "fn_conditional" -> Scalars.fnConditional _,
    "fn_json" -> Scalars.fnJson _,
    "fn_array" -> Scalars.fnArray _,
    "fn_map" -> Scalars.fnMap _,
    "fn_map_extra" -> Scalars.fnMapExtra _,
    "fn_struct" -> Scalars.fnStruct _,
    "fn_explode_words" -> Scalars.fnExplodeWords _,
    "fn_posexplode" -> Scalars.fnPosexplode _,
    "fn_explode_outer" -> Scalars.fnExplodeOuter _,
    "fn_bitwise" -> Scalars.fnBitwise _,
    "fn_array_extra" -> Scalars.fnArrayExtra _,
    "fn_regexp" -> Scalars.fnRegexp _,
    "fn_interval_arith" -> Scalars.fnIntervalArith _,
    "fn_trig" -> Scalars.fnTrig _,
    "fn_try_arith" -> Scalars.fnTryArith _,
    "fn_try_cast" -> Scalars.fnTryCast _,
    "fn_codec" -> Scalars.fnCodec _,
    "fn_epoch_time" -> Scalars.fnEpochTime _,
    "fn_url" -> Scalars.fnUrl _,
    "fn_json_variant" -> Scalars.fnJsonVariant _,
    "fn_csv_struct" -> Scalars.fnCsvStruct _,
    "fn_xml" -> Scalars.fnXml _,
    "fn_stable_id" -> Scalars.fnStableId _,
    // streaming-shaped (batch forms; streaming twins in graft.streaming)
    "stream_tumbling_count" -> StreamingQueries.streamTumblingCount _,
    "stream_sliding_avg" -> StreamingQueries.streamSlidingAvg _,
    "stream_session_window" -> StreamingQueries.streamSessionWindow _,
    "stream_dedup" -> StreamingQueries.streamDedup _,
    "stream_interval_join" -> StreamingQueries.streamIntervalJoin _,
    "stream_watermark_late" -> StreamingQueries.streamWatermarkLate _,
    "stream_window_topk" -> StreamingQueries.streamWindowTopk _,
    "stream_funnel" -> StreamingQueries.streamFunnel _,
    "stream_left_outer_join" -> StreamingQueries.streamLeftOuterJoin _,
    "stream_tws_user_totals" -> StreamingQueries.streamTwsUserTotals _,
    "stream_cdc_apply" -> StreamingQueries.streamCdcApply _,
    // custom UDX
    "udaf_weighted_avg" -> UdxQueries.udafWeightedAvg _,
    "udtf_ngrams" -> UdxQueries.udtfNgrams _,
    "typed_group_gaps" -> UdxQueries.typedGroupGaps _,
    // LLM pipeline operators
    "llm_dedup_exact" -> Llm.llmDedupExact _,
    "llm_dedup_keep_best" -> Llm.llmDedupKeepBest _,
    "llm_dedup_minhash" -> Llm.llmDedupMinhash _,
    "llm_sim_cosine_topk" -> Llm.llmSimCosineTopk _,
    "llm_text_stats" -> Llm.llmTextStats _,
    "llm_tfidf_top_terms" -> Llm.llmTfidfTopTerms _,
    "llm_multimodal_join" -> Llm.llmMultimodalJoin _,
    // extended dedup family
    "llm_dedup_simhash" -> LlmExtra.llmDedupSimhash _,
    "llm_dedup_ngram_jaccard" -> LlmExtra.llmDedupNgramJaccard _,
    "llm_dedup_embed_cosine" -> LlmExtra.llmDedupEmbedCosine _,
    // similarity-search scale paths
    "llm_sim_lsh_topk" -> LlmExtra.llmSimLshTopk _,
    "llm_sim_ivf_topk" -> LlmExtra.llmSimIvfTopk _,
    // text-analysis family
    "llm_lang_id" -> LlmExtra.llmLangId _,
    "llm_quality_score" -> LlmExtra.llmQualityScore _,
    "llm_token_count" -> LlmExtra.llmTokenCount _,
    "llm_fingerprint" -> LlmExtra.llmFingerprint _,
    "llm_pii_scrub" -> LlmExtra.llmPiiScrub _,
    "llm_pack_sequences" -> LlmExtra.llmPackSequences _,
    "llm_decontaminate" -> LlmExtra.llmDecontaminate _,
    "llm_hash_split" -> LlmExtra.llmHashSplit _,
    "llm_stratified_sample" -> LlmExtra.llmStratifiedSample _,
    "llm_repetition_score" -> LlmExtra.llmRepetitionScore _,
    "llm_dedup_editdist" -> LlmExtra.llmDedupEditdist _,
    "llm_length_histogram" -> LlmExtra.llmLengthHistogram _,
    "llm_normalize_dedup" -> LlmExtra.llmNormalizeDedup _,
    "llm_chunk_split" -> LlmExtra.llmChunkSplit _,
    "llm_domain_mix" -> LlmExtra.llmDomainMix _,
    "llm_vocab_coverage" -> LlmExtra.llmVocabCoverage _,
    "llm_filter_funnel" -> LlmExtra.llmFilterFunnel _,
    "llm_bpe_pair_counts" -> LlmExtra.llmBpePairCounts _,
    "llm_bpe_train" -> LlmExtra.llmBpeTrain _,
    "llm_ngram_novelty" -> LlmExtra.llmNgramNovelty _,
    "llm_semdedup" -> LlmExtra.llmSemdedup _,
    "llm_hash_embedding" -> LlmExtra.llmHashEmbedding _,
    "llm_perplexity_score" -> LlmExtra.llmPerplexityScore _,
    "llm_dedup_url_canonical" -> LlmExtra.llmDedupUrlCanonical _,
    "llm_dedup_components" -> LlmExtra.llmDedupComponents _,
    "llm_embed_centroid" -> LlmExtra.llmEmbedCentroid _,
    // multimodal binary columns
    "mm_binary_features" -> MultimodalQueries.mmBinaryFeatures _,
    "mm_decode_stub" -> MultimodalQueries.mmDecodeStub _,
    "mm_frame_sample" -> MultimodalQueries.mmFrameSample _,
    "mm_token_budget" -> MultimodalQueries.mmTokenBudget _,
    // census ETL (reference §2.A pipeline over the checked-in fixture)
    // + the ACS consumer-side MOE aggregation formula
    "census_moe_agg" -> CensusQueries.censusMoeAgg _,
    "census_moe_ratio" -> CensusQueries.censusMoeRatio _,
    "ingest_census_csv" -> CensusQueries.ingestCensusCsv _,
    // TIGER shapefile decode (SURVEY §2.A A15): native .shp/.dbf codec
    // round-trip, per-file-pair task parallelism
    "ingest_tiger_shapefile" -> CensusQueries.ingestTigerShapefile _,
    // sink: JDBC round-trip (embedded Derby stands in for Postgres —
    // identical DataFrameWriter path; see SinkQueries scaladoc)
    "sink_postgres" -> SinkQueries.sinkPostgres _,
    // interchange-format round-trips: serializer fidelity under the
    // hash gate (see SourceQueries scaladoc)
    "source_json_roundtrip" -> SourceQueries.sourceJsonRoundtrip _,
    "source_orc_roundtrip" -> SourceQueries.sourceOrcRoundtrip _,
    "source_csv_roundtrip" -> SourceQueries.sourceCsvRoundtrip _,
    "source_text_roundtrip" -> SourceQueries.sourceTextRoundtrip _,
    "sink_codec_roundtrip" -> SourceQueries.sinkCodecRoundtrip _,
    "sink_partitioned_parquet" -> SourceQueries.sinkPartitionedParquet _,
    "sink_sorted_runs" -> SourceQueries.sinkSortedRuns _,
    "sink_postgres_copy" -> SinkQueries.sinkPostgresCopy _,
    "llm_dedup_pipeline" -> Llm.llmDedupPipeline _,
    "llm_kmeans_train" -> LlmExtra.llmKmeansTrain _,
    // data-quality / analytics utilities
    "dq_schema_profile" -> Quality.dqSchemaProfile _,
    "dq_anomaly_zscore" -> Quality.dqAnomalyZscore _,
    "dq_fk_orphans" -> Quality.dqFkOrphans _,
    "dq_value_rules" -> Quality.dqValueRules _,
    "event_cohort_retention" -> Quality.eventCohortRetention _,
    "event_cohort_ltv" -> Quality.eventCohortLtv _,
    // graph
    "graph_pagerank" -> GraphQueries.graphPagerank _,
    "graph_pagerank_converged" -> GraphQueries.graphPagerankConverged _,
    "graph_triangle_count" -> GraphQueries.graphTriangleCount _,
    "graph_bfs_hops" -> GraphQueries.graphBfsHops _,
    // time series
    "ts_gap_fill_interpolate" -> TimeSeries.tsGapFillInterpolate _,
    "ts_resample_ohlc" -> TimeSeries.tsResampleOhlc _,
    // LLM quality signal
    "llm_dup_ngram_coverage" -> LlmExtra.llmDupNgramCoverage _,
    // exact weighted quantile
    "agg_weighted_median" -> Relational.aggWeightedMedian _,
    // sketch-then-confirm exact heavy hitters (mergeable Misra-Gries UDAF)
    "agg_heavy_hitters" -> UdxQueries.aggHeavyHitters _,
    // co-located join via bucketed storage (zero query-time exchange)
    "sink_bucketed_join" -> SinkQueries.sinkBucketedJoin _,
    // time series: smoothing / rolling / interval consolidation
    "ts_ewma" -> TimeSeries.tsEwma _,
    "ts_rolling_quantile" -> TimeSeries.tsRollingQuantile _,
    "ts_interval_merge" -> TimeSeries.tsIntervalMerge _,
    // spatial joins via grid bucketing (the TIGER-module shape, A15)
    "geo_grid_distance_join" -> GeoQueries.geoGridDistanceJoin _,
    "geo_bbox_contain" -> GeoQueries.geoBboxContain _,
    // cross-corpus screening + corpus diagnostics
    "llm_dedup_cross_corpus" -> Llm.llmDedupCrossCorpus _,
    "llm_zipf_fit" -> LlmExtra.llmZipfFit _,
    // exact moment arithmetic + algebraic re-aggregation
    "agg_skew_kurtosis" -> Relational.aggSkewKurtosis _,
    "agg_reaggregate_partials" -> Relational.aggReaggregatePartials _,
    // warehouse dimension build
    "dim_scd2_build" -> Quality.dimScd2Build _,
    // multimodal container detection
    "mm_mime_detect" -> MultimodalQueries.mmMimeDetect _,
    "mm_phash_dedup" -> MultimodalQueries.mmPhashDedup _,
    // z-order layout + zone-map readout
    "layout_zorder_zonemap" -> Relational.layoutZorderZonemap _,
    // bounded-state streaming dedup (batch form; twin: StreamOps.dedupBounded)
    "stream_dedup_bounded" -> StreamingQueries.streamDedupBounded _,
    // community detection via synchronous label propagation
    "graph_label_propagation" -> GraphQueries.graphLabelPropagation _,
    // paragraph-level exact dedup (C4/CCNet line-dedup shape)
    "llm_dedup_paragraph" -> LlmExtra.llmDedupParagraph _,
    // parallel + pushed-down JDBC source read
    "source_jdbc_pushdown" -> SourceQueries.sourceJdbcPushdown _,
    // multi-touch attribution (first/last/linear, exact integer credit)
    "event_funnel_attribution" -> Quality.eventFunnelAttribution _,
    "event_attribution_ushape" -> Quality.eventAttributionUshape _,
    // exact discrete percentiles, one window pass
    "agg_percentile_disc" -> Relational.aggPercentileDisc _,
    // geo scalar math + forecast baseline + freshness SLO audit
    "geo_haversine" -> GeoQueries.geoHaversine _,
    "ts_seasonal_naive" -> TimeSeries.tsSeasonalNaive _,
    "dq_freshness" -> Quality.dqFreshness _,
    // ordered time-bounded pattern + containment dedup + drift + degrees
    "event_pattern_funnel" -> Quality.eventPatternFunnel _,
    "llm_dedup_containment" -> LlmExtra.llmDedupContainment _,
    "ts_cusum_changepoint" -> TimeSeries.tsCusumChangepoint _,
    "graph_degree_stats" -> GraphQueries.graphDegreeStats _,
    "graph_components" -> GraphQueries.graphComponents _,
    "llm_semdedup_adaptive" -> LlmExtra.llmSemdedupAdaptive _,
    "llm_split_overlap" -> LlmExtra.llmSplitOverlap _,
    "dq_benford" -> Quality.dqBenford _,
    // round 8: batch sessionization, trend-aware smoothing, tile pyramid,
    // duplicated-span localization, binaryFile multimodal entry path
    "event_sessionize" -> Quality.eventSessionize _,
    "ts_holt_linear" -> TimeSeries.tsHoltLinear _,
    "ts_holt_winters" -> TimeSeries.tsHoltWinters _,
    "ts_alpha_beta_filter" -> TimeSeries.tsAlphaBetaFilter _,
    "geo_tile_rollup" -> GeoQueries.geoTileRollup _,
    "llm_dup_span" -> LlmExtra.llmDupSpan _,
    "source_binaryfile" -> SourceQueries.sourceBinaryfile _,
    "event_rfm" -> Quality.eventRfm _,
    "ts_seasonal_decompose" -> TimeSeries.tsSeasonalDecompose _,
    "graph_jaccard_neighbors" -> GraphQueries.graphJaccardNeighbors _,
    "ts_autocorrelation" -> TimeSeries.tsAutocorrelation _,
    "event_markov_chain" -> Quality.eventMarkovChain _,
    "dq_reconcile_totals" -> Quality.dqReconcileTotals _,
    // round 8 continued: cohort TVD drift, DAU/WAU engagement,
    // interval-concurrency sweep line
    "dq_distribution_drift" -> Quality.dqDistributionDrift _,
    "event_active_users" -> Quality.eventActiveUsers _,
    "event_survival_km" -> Quality.eventSurvivalKm _,
    "ts_interval_sweep" -> TimeSeries.tsIntervalSweep _,
    // bounded k-core peel + lift-ranked collocation mining
    "graph_k_core" -> GraphQueries.graphKCore _,
    "graph_core_decomposition" -> GraphQueries.graphCoreDecomposition _,
    "graph_core_full" -> GraphQueries.graphCoreFull _,
    "llm_pmi_collocations" -> LlmExtra.llmPmiCollocations _,
    // interarrival latency profile, equi-width histogram, grid DBSCAN
    "event_interarrival" -> Quality.eventInterarrival _,
    "agg_histogram" -> Relational.aggHistogram _,
    "geo_grid_dbscan" -> GeoQueries.geoGridDbscan _,
    "geo_knn_join" -> GeoQueries.geoKnnJoin _,
    // snapshot diff, journey paths, GROUP BY ALL surface
    "dim_snapshot_compare" -> Quality.dimSnapshotCompare _,
    "event_top_paths" -> Quality.eventTopPaths _,
    "sql_groupby_all" -> Relational.sqlGroupByAll _,
    // schema evolution read, IQR outlier screen, ROUGE-2 eval
    "source_schema_merge" -> SourceQueries.sourceSchemaMerge _,
    "dq_outlier_iqr" -> Quality.dqOutlierIqr _,
    "llm_rouge_recall" -> LlmExtra.llmRougeRecall _,
    // robust trend + exact apportionment
    "ts_theil_sen" -> TimeSeries.tsTheilSen _,
    "agg_largest_remainder" -> Relational.aggLargestRemainder _,
    // SCD2 point-in-time resolution (the lookup dim_scd2_build exists for)
    "join_scd2_asof" -> Quality.joinScd2Asof _,
    // Lorenz concentration + char-diversity screen
    "event_concentration" -> Quality.eventConcentration _,
    "llm_char_diversity" -> LlmExtra.llmCharDiversity _,
    // WoW growth + 2-D Pareto skyline
    "ts_week_over_week" -> TimeSeries.tsWeekOverWeek _,
    "agg_skyline_2d" -> Relational.aggSkyline2d _,
    // deterministic per-epoch shard shuffle for training loaders
    "llm_epoch_shuffle" -> LlmExtra.llmEpochShuffle _,
    // AES column encryption + IDENTIFIER clause surfaces
    "fn_crypto_roundtrip" -> Scalars.fnCryptoRoundtrip _,
    "fn_collation" -> Scalars.fnCollation _,
    "sql_identifier" -> Scalars.sqlIdentifier _,
    // ViT resize/patch planning over the stub decode
    "mm_resize_plan" -> MultimodalQueries.mmResizePlan _,
    // interpolated quantiles + lifecycle census
    "agg_percentile_cont" -> Relational.aggPercentileCont _,
    "event_lifecycle" -> Quality.eventLifecycle _,
    // hard-negative mining, max drawdown, key-gap audit
    "llm_hard_negatives" -> LlmExtra.llmHardNegatives _,
    "ts_max_drawdown" -> TimeSeries.tsMaxDrawdown _,
    "dq_sequence_gaps" -> Quality.dqSequenceGaps _,
    // LPA quality score + seasonal-strength diagnostic
    "graph_modularity" -> GraphQueries.graphModularity _,
    "ts_seasonal_strength" -> TimeSeries.tsSeasonalStrength _,
    // rolling variance band + JSON corrupt-record quarantine
    "ts_rolling_variance" -> TimeSeries.tsRollingVariance _,
    "source_json_permissive" -> SourceQueries.sourceJsonPermissive _,
    // shard-manifest planning for dataloaders
    "llm_shard_manifest" -> LlmExtra.llmShardManifest _,
    // LTTB decimation, IVF purity, degree-mixing moments
    "ts_lttb_downsample" -> TimeSeries.tsLttbDownsample _,
    "llm_cluster_purity" -> LlmExtra.llmClusterPurity _,
    "graph_degree_mixing" -> GraphQueries.graphDegreeMixing _,
    // corrupt-record quarantine on CSV ingest (PERMISSIVE mode)
    "source_csv_permissive" -> SourceQueries.sourceCsvPermissive _,
    // ACS data-user statistics: reliability class + significance test
    "census_moe_cv" -> CensusQueries.censusMoeCv _,
    "census_moe_sig" -> CensusQueries.censusMoeSig _,
    // temperature-based domain mixture resampling
    "llm_mixture_resample" -> LlmExtra.llmMixtureResample _,
    // TIGER consumers (A15): WKT export (the shp2pgsql emission), a
    // generic ray-cast point-in-polygon join over decoded geometry, and
    // the full tiger2pgsql mirror into live PostgreSQL 15
    "tiger_wkt_export" -> CensusQueries.tigerWktExport _,
    "tiger_point_in_polygon" -> CensusQueries.tigerPointInPolygon _,
    "sink_tiger_postgres" -> CensusQueries.sinkTigerPostgres _,
    // round 10 continued: categorical/distribution hypothesis tests,
    // conversion-lag deciles, Bollinger breakout bands, blob shard
    // packing, HITS importance, landmark-BFS closeness
    "dq_chi_square" -> Quality.dqChiSquare _,
    "dq_ks_test" -> Quality.dqKsTest _,
    "event_conversion_lag" -> Quality.eventConversionLag _,
    "ts_bollinger_breakout" -> TimeSeries.tsBollingerBreakout _,
    "mm_shard_pack" -> MultimodalQueries.mmShardPack _,
    "graph_hits" -> GraphQueries.graphHits _,
    "graph_landmark_distance" -> GraphQueries.graphLandmarkDistance _,
    // BPE tokenizer inference over the trained merge list
    "llm_bpe_encode" -> LlmExtra.llmBpeEncode _,
    // two-proportion z-test with an integer-exact significance verdict
    "event_ab_test" -> Quality.eventAbTest _,
    // banded DTW between the daily view and purchase series
    "ts_dtw_band" -> TimeSeries.tsDtwBand _,
    // lead-lag cross-correlation numerators between the two series
    "ts_lead_lag" -> TimeSeries.tsLeadLag _,
    // rank-sum two-sample test with doubled-midrank exact ties
    "dq_mann_whitney" -> Quality.dqMannWhitney _,
    // md5-seeded deterministic random-walk sampling (DeepWalk shape)
    "graph_random_walk" -> GraphQueries.graphRandomWalk _,
    // p/q-biased second-order walk via integer inverse-CDF sampling
    "graph_node2vec_biased" -> GraphQueries.graphNode2vecBiased _,
    // DTW alignment path by deterministic backtrack over the band DP
    "ts_dtw_path" -> TimeSeries.tsDtwPath _,
    // chi-square goodness-of-fit against the Benford expectation (ppm)
    "dq_benford_gof" -> Quality.dqBenfordGof _,
    // 32-round BPE trained on the part-name ∪ documents word stream
    "llm_bpe_vocab_apply" -> LlmExtra.llmBpeVocabApply _,
    // skip-gram (center, context) pair census over the uniform walks
    "graph_walk_skipgram" -> GraphQueries.graphWalkSkipgram _,
    // the node2vec training corpus: skip-gram pairs over the BIASED walks
    "graph_node2vec_skipgram" -> GraphQueries.graphNode2vecSkipgram _,
    // probe-slice inference under the 32 deep-trained merges
    "llm_bpe_deep_encode" -> LlmExtra.llmBpeDeepEncode _,
    // whole-corpus encoding under the 32 merges: per-lang fertility
    "llm_bpe_corpus_fertility" -> LlmExtra.llmBpeCorpusFertility _,
    // one modularity-gain pass over the LPA communities
    "graph_louvain_one_level" -> GraphQueries.graphLouvainOneLevel _,
    // the sweep applied: exact-integer Q before/after comparison
    "graph_louvain_apply" -> GraphQueries.graphLouvainApply _,
    // ANN evaluation: IVF recall@5 against the brute-force truth
    "llm_sim_recall" -> LlmExtra.llmSimRecall _,
    // Louvain level-1 fixpoint: sweep-until-no-move trace (cap 4)
    "graph_louvain_converged" -> GraphQueries.graphLouvainConverged _,
    "graph_louvain_two_level" -> GraphQueries.graphLouvainTwoLevel _,
    // full Louvain dendrogram: contract + sweep recursion to zero-gain
    "graph_louvain_dendrogram" -> GraphQueries.graphLouvainDendrogram _,
    "graph_betweenness_landmark" -> GraphQueries.graphBetweennessLandmark _,
    // ANN recall CURVE: k ∈ {1,5,10} from one top-10 pass per side
    "llm_sim_recall_at_k" -> LlmExtra.llmSimRecallAtK _,
    // per-node local clustering coefficient, integer micro-units
    "graph_clustering_coeff" -> GraphQueries.graphClusteringCoeff _,
    // Adamic–Adar link prediction over centered wedges, anti-joined edges
    "graph_adamic_adar" -> GraphQueries.graphAdamicAdar _,
    // personalized PageRank: seed-teleport mass, 3 integer rounds
    "graph_ppr" -> GraphQueries.graphPersonalizedPagerank _,
    // PQ/ADC ANN: 4×8 integer codebooks, lookup-table distances
    "llm_sim_pq_topk" -> LlmExtra.llmSimPqTopk _,
    // Laplace bigram LM: train decile → held-out micro-nat NLL per lang
    "llm_bigram_lm" -> LlmExtra.llmBigramLm _,
    // LSH band S-curve: precision/recall per (bands, rows) config
    "llm_minhash_band_tune" -> LlmExtra.llmMinhashBandTune _,
    // vision-batch aspect bucketing: ratio-nearest canvas + pad census
    "mm_aspect_bucket" -> MultimodalQueries.mmAspectBucket _,
    // median/MAD robust outliers in exact micro-units
    "ts_robust_zscore" -> TimeSeries.tsRobustZscore _,
    // per-column Shannon entropy in quantized micro-nats
    "dq_entropy_profile" -> Quality.dqEntropyProfile _,
    // banded matrix-profile discords over the hourly purchase series
    "ts_matrix_profile_discord" -> TimeSeries.tsMatrixProfileDiscord _,
    // IPF raking: 3 alternating integer passes to data-derived controls
    "census_ipf_raking" -> CensusQueries.censusIpfRaking _,
    // 1 Hz shot segmentation over the stubbed video intensity stream
    "mm_video_scene_cut" -> MultimodalQueries.mmVideoSceneCut _,
    "mm_audio_vad_plan" -> MultimodalQueries.mmAudioVadPlan _,
    // PQ quantizer loss: ADC top-5 vs brute-force cosine truth
    "llm_sim_pq_recall" -> LlmExtra.llmSimPqRecall _,
    "llm_sim_hnsw_topk" -> LlmExtra.llmSimHnswTopk _,
    // HNSW budget sweep: (B,R) recall/visited curve over one build
    "llm_sim_hnsw_tune" -> LlmExtra.llmSimHnswTune _,
    "llm_dup_graph_degree" -> LlmExtra.llmDupGraphDegree _,
    "llm_dataset_card" -> LlmExtra.llmDatasetCard _,
    // T5 span-corruption plan: seeded spans, merged islands, pack len
    "llm_span_corruption_plan" -> LlmExtra.llmSpanCorruptionPlan _,
    // generic shoelace area/centroid over decoded TIGER rings
    "tiger_polygon_centroid" -> CensusQueries.tigerPolygonCentroid _,
    // areal-interpolation crosswalk: pop re-allocated by area weight
    "census_areal_interpolation" -> CensusQueries.censusArealInterpolation _,
    "census_dissimilarity" -> CensusQueries.censusDissimilarity _,
    "census_gini" -> CensusQueries.censusGini _,
    "census_location_quotient" -> CensusQueries.censusLocationQuotient _,
    "census_suppression" -> CensusQueries.censusSuppression _,
    // landmark hop histogram + 90th-percentile effective diameter
    "graph_effective_diameter" -> GraphQueries.graphEffectiveDiameter _,
    // Theil's H entropy segregation index, exact micro-nat algebra
    "census_theil" -> CensusQueries.censusTheil _,
    // Moran's I spatial autocorrelation, same-region contiguity weights
    "census_moran_i" -> CensusQueries.censusMoranI _,
    // Hill-MLE + log-log OLS power-law fit of the degree census
    "graph_powerlaw_fit" -> GraphQueries.graphPowerlawFit _,
    // DFT amplitude of the daily order series at the first 8 bins
    "ts_periodogram" -> TimeSeries.tsPeriodogram _,
    // two-stage ANN: 64-bit sign-sketch shortlist → exact cosine rerank
    "llm_sim_rerank" -> LlmExtra.llmSimRerank _,
    // curriculum schedule: difficulty bands + deterministic hash order
    "llm_curriculum_order" -> LlmExtra.llmCurriculumOrder _,
    // CUPED variance-reduced A/B readout over the pre/post user census
    "event_uplift_cuped" -> Quality.eventUpliftCuped _,
    // trailing-window z²>9 rate-spike flags, all-integer inequality
    "event_burst_detect" -> Quality.eventBurstDetect _,
    // per-column distinct/null/dup profile + candidate-key verdict
    "dq_uniqueness_profile" -> Quality.dqUniquenessProfile _,
    // VLM dynamic-tiling plan: 112-px tiles under a 12-tile budget
    "mm_image_tile_plan" -> MultimodalQueries.mmImageTilePlan _,
    // RLHF preference pairs: per-group argmax/argmin by quality score
    "llm_rlhf_pairs" -> LlmExtra.llmRlhfPairs _,
    // referential-containment profile over four candidate FK edges
    "dq_fk_inference" -> Quality.dqFkInference _,
    // segment-standardized rates (direct standardization)
    "census_age_standardize" -> CensusQueries.censusAgeStandardize _,
    // part–supplier bipartite projected onto suppliers, occupancy-capped
    "graph_bipartite_project" -> GraphQueries.graphBipartiteProject _,
    // footer/zone-map read graded against content truth
    "source_parquet_footer" -> SourceQueries.sourceParquetFooter _,
    // Fay BRR replicate-weight variance (the ACS production method)
    "census_replicate_weights" -> CensusQueries.censusReplicateWeights _,
    // disclosure avoidance run to FIXPOINT (round-stamped, converged)
    "census_suppression_fixpoint" -> CensusQueries.censusSuppressionFixpoint _,
    // difference-in-differences over the pre/post user census
    "event_diff_in_diff" -> Quality.eventDiffInDiff _,
    // cumulative daily A/B z² trace with the naive-peeking flag
    "event_cumulative_ab" -> Quality.eventCumulativeAb _,
    // Durbin–Levinson partial autocorrelation to lag 3
    "ts_pacf" -> TimeSeries.tsPacf _,
    // lag-1 Granger readout: R² lift from the lagged click series
    "ts_granger_lag1" -> TimeSeries.tsGrangerLag1 _,
    // DSIR-style hashed-ngram importance selection toward a target slice
    "llm_dsir_select" -> LlmExtra.llmDsirSelect _,
    // XmR individuals/moving-range control chart over daily counts
    "dq_control_chart" -> Quality.dqControlChart _,
    // 7-day median/MAD outlier repair, integer-exact verdicts
    "ts_hampel" -> TimeSeries.tsHampel _,
    // bracket-interpolated median (the published-table census method)
    "census_grouped_median" -> CensusQueries.censusGroupedMedian _,
    // sqrt-temperature sampling schedule per source (alpha = 1/2)
    "llm_mix_temperature" -> LlmExtra.llmMixTemperature _
  )

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables — one entry per query, no exemptions.
    * Round 7 closed the last 4 (agg_approx_distinct,
    * agg_approx_percentile, agg_count_min_sketch, agg_hll_union): the
    * sketch estimates themselves are engine-specific, so the graded
    * output carries exact counts plus boolean VERDICT columns stating
    * each sketch's accuracy contract (est ⊇ exact + eps·N bound for
    * CMS, GK rank bound for approx_percentile, relative-error bands for
    * HLL), which DuckDB mirrors as recomputed exacts + literal TRUE.
    * Raw estimate accuracy stays ScalaTest-checked (OracleExemptSpec).
    * Round 4 moved llm_dedup_minhash / llm_dedup_simhash /
    * llm_fingerprint / llm_sim_lsh_topk (md5-derived hashes/planes),
    * llm_sim_ivf_topk, ingest_census_csv (DuckDB re-ingests the fixture
    * CSVs), stream_watermark_late (batch no-op watermark contract),
    * llm_pack_sequences (next-fit recurrence as a recursive CTE), and
    * the mm_* stubs (decoder now md5-slice arithmetic) under full
    * DuckDB mirrors. */
  def oracleSql: Map[String, String] = OracleSql.sql
}
