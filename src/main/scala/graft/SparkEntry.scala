package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.etl.Pipeline
import graft.queries.{Relational, RelationalOracles}
import graft.ops.{Dedup, Multimodal, OpsOracles, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Channel-KPI analog (SURVEY §7.2-6): broadcast dim chain + multi-key
    * agg + KPI ratios — the reference's showcase shape. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q04ChannelKpi(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary"    -> (Relational.q01PricingSummary _),
    "q02_topk_parts"         -> (Relational.q02TopkParts _),
    "q03_margin_having"      -> (Relational.q03MarginHaving _),
    "q04_channel_kpi"        -> (Relational.q04ChannelKpi _),
    "q05_full_outer_merge"   -> (Relational.q05FullOuterMerge _),
    "q06_fanout_join"        -> (Relational.q06FanoutJoin _),
    "q07_first_order_repeat" -> (Relational.q07FirstOrderRepeat _),
    "q08_retention_scalar"   -> (Relational.q08RetentionScalar _),
    "q09_acctbal_bands"      -> (Relational.q09AcctbalBands _),
    "q10_frequency_bands"    -> (Relational.q10FrequencyBands _),
    "q11_quadrant"           -> (Relational.q11Quadrant _),
    "q12_window_rank"        -> (Relational.q12WindowRank _),
    "q13_running_sum"        -> (Relational.q13RunningSum _),
    "q14_set_ops"            -> (Relational.q14SetOps _),
    "q15_semi_anti"          -> (Relational.q15SemiAnti _),
    "q16_distinct_count"     -> (Relational.q16DistinctCount _),
    "q17_events_filter_agg"  -> (Relational.q17EventsFilterAgg _),
    "q18_date_parts"         -> (Relational.q18DateParts _),
    "q19_regexp_extract"     -> (Relational.q19RegexpExtract _),
    "q20_pnl_summary"        -> (Relational.q20PnlSummary _),
    "q21_weighted_mean"      -> (Relational.q21WeightedMean _),
    "q22_json_extract"       -> (Relational.q22JsonExtract _),
    "q23_two_phase_distinct" -> (Relational.q23TwoPhaseDistinct _),
    "q24_rollup"             -> (Relational.q24Rollup _),
    "q25_pivot"              -> (Relational.q25Pivot _),
    "q26_median"             -> (Relational.q26Median _),
    "q27_salted_join"        -> (Relational.q27SaltedJoin _),
    "q28_cube"               -> (Relational.q28Cube _),
    "q29_range_frame"        -> (Relational.q29RangeFrame _),
    "q30_topk_per_group"     -> (Relational.q30TopkPerGroup _),
    "q31_extreme_values"     -> (Relational.q31ExtremeValues _),
    "q32_grouping_sets"      -> (Relational.q32GroupingSets _),
    "q33_date_spine"         -> (Relational.q33DateSpine _),
    "q34_scd2"               -> (Relational.q34Scd2 _),
    "q35_skew_report"        -> (Relational.q35SkewReport _),
    "q36_column_stats"       -> (Relational.q36ColumnStats _),
    "q37_dq_report"          -> (Relational.q37DqReport _),
    "q38_cohort_retention"   -> (Relational.q38CohortRetention _),
    "q39_funnel"             -> (Relational.q39Funnel _),
    "q40_copurchase"         -> (Relational.q40Copurchase _),
    "q41_peak_concurrency"   -> (Relational.q41PeakConcurrency _),
    "q42_attribution"        -> (Relational.q42Attribution _),
    "q43_assoc_rules"        -> (Relational.q43AssocRules _),
    "q44_anomaly_zscore"     -> (Relational.q44AnomalyZscore _),
    "q45_trend_fit"          -> (Relational.q45TrendFit _),
    "q46_conversion_paths"   -> (Relational.q46ConversionPaths _),
    "q47_ewma_forecast"      -> (Relational.q47EwmaForecast _),
    // LLM-data-pipeline operators (BASELINE.json north-star)
    "t01_token_stats"        -> (TextAnalysis.tokenStats _),
    "t02_quality_score"      -> (TextAnalysis.qualityScore _),
    "t03_lang_stats"         -> (TextAnalysis.langStats _),
    "t04_lang_id"            -> (TextAnalysis.langId _),
    "t05_vocabulary"         -> (TextAnalysis.vocabulary _),
    "t06_idf"                -> (TextAnalysis.idf _),
    "w02_session_counts"     -> (graft.streaming.EventStream.sessionCounts _),
    "d01_exact_dedup"        -> (Dedup.exactDedup _),
    "d02_fingerprint_dedup"  -> (Dedup.fingerprintDedup _),
    "d03_ngram_jaccard"      -> (Dedup.ngramJaccard _),
    "d04_minhash_lsh"        -> (Dedup.minhashLsh _),
    "d05_simhash"            -> (Dedup.simhash _),
    "d06_embedding_neardup"  -> (Similarity.embeddingNearDup _),
    "d07_dedup_apply"        -> (Dedup.dropNearDuplicates _),
    "d08_simhash_neardup"    -> ((s: SparkSession, d: String) => Dedup.simhashNearDup(s, d)),
    "d09_embedding_apply"    -> (Similarity.dropEmbeddingNearDups _),
    "d10_exact_apply"        -> (Dedup.dropExactDuplicates _),
    "d11_simhash64_neardup"  -> ((s: SparkSession, d: String) => Dedup.simhash64NearDup(s, d)),
    "d12_simhash_apply"      -> (Dedup.dropSimhashNearDuplicates _),
    "s01_knn_brute"          -> (Similarity.knnBrute _),
    "s02_ann_ivf"            -> (Similarity.annIvf _),
    "s03_knn_native"         -> (Similarity.knnNative _),
    "s04_knn_autoaccel"      -> (Similarity.knnAutoAccel _),
    "s05_label_centroids"    -> (Similarity.labelCentroids _),
    "s06_ivf_trained"        -> (Similarity.annIvfTrained _),
    "s07_ivf_multiprobe"     -> ((s: SparkSession, d: String) => Similarity.annIvfMultiprobe(s, d)),
    "s08_kmeans_train"       -> ((s: SparkSession, d: String) => Similarity.kmeansCentroids(s, d)),
    "s09_ann_kmeans"         -> (Similarity.annKmeans _),
    "s10_pq_train"           -> (Similarity.pqTrain _),
    "s11_pq_codes"           -> (Similarity.pqCodes _),
    "s12_pq_ann"             -> ((s: SparkSession, d: String) => Similarity.pqAnn(s, d)),
    "s13_ivfpq_ann"          -> ((s: SparkSession, d: String) => Similarity.ivfPqAnn(s, d)),
    "s14_ann_recall"         -> ((s: SparkSession, d: String) => Similarity.annRecallReport(s, d)),
    "s15_index_roundtrip"    -> ((s: SparkSession, d: String) => Similarity.indexRoundTrip(s, d)),
    "s16_incremental_index"  -> ((s: SparkSession, d: String) => Similarity.incrementalIndexAnn(s, d)),
    "s17_index_delete"       -> ((s: SparkSession, d: String) => Similarity.indexDeleteAnn(s, d)),
    "d13_neardup_cells"      -> (Similarity.embeddingNearDupCells _),
    "d18_srp_neardup"        -> (Similarity.srpNearDup _),
    "d14_clean_corpus"       -> (Dedup.cleanCorpus _),
    "d15_containment"        -> (Dedup.containmentNearDup _),
    "d16_dedup_clusters"     -> (Dedup.dedupClusters _),
    "d17_cluster_apply"      -> (Dedup.dropClusteredDuplicates _),
    "d19_incremental_dedup"  -> (Dedup.incrementalDedup _),
    "d22_incremental_neardup"-> (Dedup.incrementalNearDup _),
    "d38_retro_compaction"   -> (Dedup.retroCompaction _),
    "d21_cluster_sizes"      -> (Dedup.clusterSizeHistogram _),
    "d20_minhash_estimate"   -> (Dedup.minhashEstimate _),
    "t07_top_tfidf"          -> (TextAnalysis.topTfidf _),
    "t08_quality_filtered"   -> (TextAnalysis.qualityFiltered _),
    "t09_hash_sample"        -> (TextAnalysis.hashSample _),
    "m01_decoded_meta"       -> (Multimodal.decodedMeta _),
    "m02_format_summary"     -> (Multimodal.formatSummary _),
    "m03_resize_meta"        -> (Multimodal.resizedMeta _),
    "m04_frame_sample"       -> (Multimodal.frameSampled _),
    "m05_media_features"     -> (Multimodal.mediaFeatures _),
    "m06_media_neardup"      -> (Multimodal.mediaNearDup _),
    "m07_media_apply"        -> (Multimodal.dropMediaNearDups _),
    "w01_event_windows"      -> (graft.streaming.EventStream.windowedCountsVerify _),
    "w03_event_dedup"        -> (graft.streaming.EventStream.eventDedupCounts _),
    "w04_stream_join"        -> (graft.streaming.EventStream.purchaseClickPairs _),
    "w05_stream_sink"        -> (graft.streaming.EventStream.streamToWarehouse _),
    "w07_stream_upsert"      -> (graft.streaming.EventStream.streamUpsertLatest _),
    "w08_stream_ingest_dedup"-> ((s: SparkSession, d: String) =>
      graft.streaming.EventStream.runIngestDedupAvailableNow(s, d)),
    "t10_rolling_fingerprint"-> (TextAnalysis.rollingFingerprint _),
    "t11_decontaminate"      -> (TextAnalysis.decontaminate _),
    "t12_decontaminate_apply"-> (TextAnalysis.decontaminateApply _),
    "t13_chunk_tokens"       -> (TextAnalysis.chunkTokens _),
    "t14_stratified_sample"  -> (TextAnalysis.stratifiedSample _),
    "t15_quantile_filter"    -> (TextAnalysis.quantileFiltered _),
    "t16_ngram_repetition"   -> (TextAnalysis.ngramRepetition _),
    "t17_temperature_mix"    -> (TextAnalysis.temperatureMix _),
    "t18_oov_rate"           -> (TextAnalysis.oovRate _),
    "t19_unigram_logprob"    -> (TextAnalysis.unigramLogprob _),
    "t21_bigram_logprob"     -> (TextAnalysis.bigramLogprob _),
    "t22_pii_redact"         -> (TextAnalysis.piiRedact _),
    "t23_sequence_pack"      -> (TextAnalysis.sequencePack _),
    "t24_bpe_merges"         -> (TextAnalysis.bpeMerges _),
    "t25_bpe_encode"         -> (TextAnalysis.bpeEncode _),
    "t56_bpe_batch_merges"   -> (TextAnalysis.bpeBatchMerges _),
    "t57_packing_sweep"      -> (TextAnalysis.packingSweep _),
    "t58_substring_dup"      -> (TextAnalysis.substringDup _),
    "t26_quality_classifier" -> (TextAnalysis.qualityClassifier _),
    "t27_vocab_growth"       -> (TextAnalysis.vocabGrowth _),
    "t20_mixture_report"     -> (TextAnalysis.mixtureReport _),
    "w06_session_stats"      -> (graft.streaming.EventStream.sessionStats _),
    "f03_bucketed_join"      -> (graft.sources.Bucketing.bucketedRevenueByPriority _),
    "f01_jsonl_roundtrip"    -> (graft.sources.JsonlCorpus.roundTrip _),
    // DSv2 generator connector (sfDir ignored — the source generates)
    "f02_synthetic_source"   ->
      ((s: SparkSession, _: String) => graft.sources.gen.SyntheticCorpus.scanQuery(s)),
    "f04_schema_evolution"   -> (graft.sources.SchemaEvolution.roundTrip _),
    "f05_compaction"         ->
      ((s: SparkSession, d: String) => graft.sources.Compaction.compact(s, d)),
    "f06_zorder"             -> (graft.sources.ZOrder.zorderQuery _),
    "f07_orc_roundtrip"      -> (graft.sources.OrcRoundTrip.roundTrip _),
    "f08_shard_export"       ->
      ((s: SparkSession, d: String) => graft.sources.ShardExport.shardExport(s, d)),
    "f09_time_travel"        -> (graft.sources.TimeTravel.timeTravelQuery _),
    "f10_snapshot_expire"    -> (graft.sources.TimeTravel.snapshotExpireQuery _),
    "f11_partition_overwrite" -> (graft.sources.PartitionOverwrite.overwriteQuery _),
    "d23_threshold_sweep"    -> (Dedup.thresholdSweep _),
    "d24_corpus_merge"       -> (Dedup.corpusMerge _),
    "d25_span_neardup"       -> (Dedup.spanNearDup _),
    "d27_drop_provenance"    -> (Dedup.dropProvenance _),
    "d28_cluster_best_keep"  -> (Dedup.clusterBestKeep _),
    "d26_span_apply"         -> (Dedup.spanExcise _),
    "s18_filtered_ann"       ->
      ((s: SparkSession, d: String) => Similarity.filteredAnn(s, d)),
    "s19_index_compact"      ->
      ((s: SparkSession, d: String) => Similarity.indexCompactAnn(s, d)),
    "s20_refined_ann"        ->
      ((s: SparkSession, d: String) => Similarity.refinedAnn(s, d)),
    "s21_hybrid_search"      ->
      ((s: SparkSession, d: String) => Similarity.hybridSearch(s, d)),
    "s22_sq_train"           -> (Similarity.sqTrain _),
    "s23_sq_ann"             ->
      ((s: SparkSession, d: String) => Similarity.sqAnn(s, d)),
    "s24_ivfsq_ann"          ->
      ((s: SparkSession, d: String) => Similarity.ivfSqAnn(s, d)),
    "t28_bloom_decontaminate" -> (TextAnalysis.bloomDecontaminate _),
    "t29_cms_topwords"       -> (TextAnalysis.cmsTopWords _),
    "t30_histogram_quantiles" -> (TextAnalysis.histogramQuantiles _),
    "t31_hll_distinct"       -> (TextAnalysis.hllDistinct _),
    "t32_distribution_drift" -> (TextAnalysis.distributionDrift _),
    "t33_source_quota"       -> (TextAnalysis.sourceQuota _),
    "t34_tokenizer_fertility" -> (TextAnalysis.tokenizerFertility _),
    "t35_hll_merge"          ->
      ((s: SparkSession, d: String) => TextAnalysis.hllMergeReport(s, d)),
    "t36_train_val_test"     -> (TextAnalysis.trainValTestSplit _),
    "t37_contamination_report" -> (TextAnalysis.contaminationReport _),
    "t38_ngram_novelty"      -> (TextAnalysis.ngramNovelty _),
    "t39_zipf_fit"           -> (TextAnalysis.zipfFit _),
    "t40_perplexity_buckets" -> (TextAnalysis.perplexityBuckets _),
    "t41_split_leakage"      -> (TextAnalysis.splitLeakage _),
    "t42_bm25"               -> ((s: SparkSession, d: String) =>
      TextAnalysis.bm25(s, d)),
    "t43_repetition"         -> (TextAnalysis.repetitionReport _),
    "t44_cdc_chunks"         -> (TextAnalysis.cdcChunkStats _),
    "t45_data_card"          -> (TextAnalysis.dataCard _),
    "t46_training_order"     -> (TextAnalysis.trainingOrder _),
    "t47_boilerplate_strip"  -> (TextAnalysis.boilerplateStrip _),
    "t48_dsir_weights"       -> (TextAnalysis.dsirWeights _),
    "q48_session_depth"      -> (Relational.q48SessionDepth _),
    "q49_rfm_segments"       -> (Relational.q49RfmSegments _),
    "q50_event_transitions"  -> (Relational.q50EventTransitions _),
    "q51_ab_test"            -> (Relational.q51AbTest _),
    "q52_unpivot"            -> (Relational.q52Unpivot _),
    "q53_purchase_latency"   -> (Relational.q53PurchaseLatency _),
    "q54_revenue_concentration" -> (Relational.q54RevenueConcentration _),
    "q55_deadline_funnel"    -> (Relational.q55DeadlineFunnel _),
    "f12_snapshot_diff"      -> (graft.sources.TimeTravel.snapshotDiffQuery _),
    "f13_data_skipping"      -> (graft.sources.DataSkipping.skippingQuery _),
    "f14_incremental_agg"    -> (graft.sources.IncrementalAgg.refreshedDailyView _),
    "f15_dynamic_pruning"    -> (graft.sources.DynamicPruning.pruningJoin _),
    "f17_runtime_bloom"      -> (graft.sources.RuntimeBloom.bloomPrunedAgg _),
    "f18_point_lookup"       -> (graft.sources.PointLookup.pointLookup _),
    "f19_bucketed_join"      -> (graft.sources.BucketedJoin.bucketedJoin _),
    "f20_bucketed_join_multifile" ->
      (graft.sources.BucketedJoin.bucketedJoinMultiFile _),
    "f16_corrupt_jsonl"      -> (graft.sources.CorruptJsonl.ingestReport _),
    "g01_graph_rank"         -> (graft.ops.GraphRank.graphRank _),
    "g02_personalized_rank"  -> (graft.ops.GraphRank.personalizedRank _),
    "g03_triangle_count"     -> (graft.ops.GraphRank.triangleCount _),
    "g04_node_similarity"    -> (graft.ops.GraphRank.nodeSimilarity _),
    "g05_bfs_hops"           -> (graft.ops.GraphRank.bfsHops _),
    "g06_component_sizes"    -> ((s: SparkSession, d: String) =>
      graft.ops.GraphRank.componentSizes(s, d)),
    "g07_components_converged" -> (graft.ops.GraphRank.componentSizesConverged _),
    "g08_kcore"              -> (graft.ops.GraphRank.kcore _),
    "g09_lpa_communities"    -> (graft.ops.GraphRank.lpaCommunities _),
    "g10_local_clustering"   -> (graft.ops.GraphRank.localClustering _),
    "g11_random_walks"       -> ((s: SparkSession, d: String) =>
      graft.ops.GraphRank.randomWalks(s, d)),
    "g12_harmonic_centrality" -> (graft.ops.GraphRank.harmonicCentrality _),
    "g13_lpa_modularity"     -> (graft.ops.GraphRank.lpaModularity _),
    "g14_incremental_components" -> (graft.ops.GraphRank.incrementalComponents _),
    "g15_conductance"        -> (graft.ops.GraphRank.lpaConductance _),
    "s25_truncated_ann"      -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.truncatedAnn(s, d)),
    "s26_range_search"       -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.rangeSearch(s, d)),
    "s27_mmr_rerank"         -> (graft.ops.Similarity.mmrRerank _),
    "s28_nprobe_sweep"       -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.nprobeSweep(s, d)),
    "s29_graph_ann"          -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.graphAnn(s, d)),
    "s30_graph_ann_sweep"    -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.graphAnnSweep(s, d)),
    "s33_graph_ann_insert"   -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.graphAnnInsert(s, d)),
    "s35_graph_ann_delete"   -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.graphAnnDeleteServe(s, d)),
    "s36_quant_error"        -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.quantizationError(s, d)),
    "s37_graph_ann_compact"  -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.graphAnnCompactServe(s, d)),
    "s38_tier_recall"        -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.tierRecallReport(s, d)),
    "s39_pq_graph_ann"       -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.pqGraphAnn(s, d)),
    "s40_beam_sweep"         -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.graphAnnBeamSweep(s, d)),
    "s41_filtered_ann"       -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.filteredGraphAnn(s, d)),
    "s42_batched_ann"        -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.batchedGraphAnn(s, d)),
    "s43_merged_shard_ann"   -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.mergedShardAnn(s, d)),
    "s34_graph_ann_serve"    -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.graphAnnServeAfterInsert(s, d)),
    "d29_semdedup"           -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.semDedup(s, d)),
    "d30_lsh_calibration"    -> (Dedup.lshCalibration _),
    "d31_detector_agreement" -> (Dedup.detectorAgreement _),
    "d32_dedup_weights"      -> (Dedup.dedupWeights _),
    "d33_cross_source_matrix" -> (Dedup.crossSourceMatrix _),
    "d34_cluster_coherence"  -> (Dedup.clusterCoherence _),
    "d35_incremental_semdedup" -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.incrementalSemDedup(s, d)),
    "d36_weighted_resample"  -> (Dedup.weightedResample _),
    "d37_semdedup_sweep"     -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.semDedupSweep(s, d)),
    "s31_hard_negatives"     -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.hardNegatives(s, d)),
    "s32_triplet_margins"    -> ((s: SparkSession, d: String) =>
      graft.ops.Similarity.tripletMargins(s, d)),
    "t49_gopher_rules"       -> (TextAnalysis.gopherRules _),
    "t50_distilled_filter"   -> (TextAnalysis.distilledFilter _),
    "t51_perplexity_bands"   -> (TextAnalysis.perplexityBands _),
    "t52_epoch_allocation"   -> (TextAnalysis.epochAllocation _),
    "t53_pipeline_funnel"    -> (TextAnalysis.pipelineFunnel _),
    "t54_filter_pr_curve"    -> (TextAnalysis.distilledPrCurve _),
    "t55_curation_pipeline"  -> ((s: SparkSession, d: String) =>
      TextAnalysis.curationPipeline(s, d)),
    "m10_media_phash"        -> (graft.ops.Multimodal.mediaPerceptualNearDup _),
    "m11_audio_meta"         -> (graft.ops.Multimodal.audioMeta _),
    "m13_audio_energy"       -> (graft.ops.Multimodal.audioEnergy _),
    "m14_audio_resample"     -> (graft.ops.Multimodal.audioResampled _),
    "m15_motion_energy"      -> (graft.ops.Multimodal.motionEnergyTable _),
    "m12_image_stats"        -> (graft.ops.Multimodal.imageStats _),
    "w09_stream_sketch"      -> ((s: SparkSession, d: String) =>
      graft.streaming.EventStream.runStreamCmsAvailableNow(s, d)),
    "w10_session_window"     -> ((s: SparkSession, d: String) =>
      graft.streaming.EventStream.runSessionWindowAvailableNow(s, d)),
    "w11_stream_enrich"      -> ((s: SparkSession, d: String) =>
      graft.streaming.EventStream.runEnrichAvailableNow(s, d)),
    "w12_stream_index"       -> ((s: SparkSession, d: String) =>
      graft.streaming.EventStream.streamBandIndex(s, d)),
    "w13_asof_enrich"        -> ((s: SparkSession, d: String) =>
      graft.streaming.EventStream.runAsOfEnrichAvailableNow(s, d)),
    "w14_stream_observed"    -> ((s: SparkSession, d: String) =>
      graft.streaming.EventStream.runObservedIngest(s, d)),
    "w15_stream_quarantine"  -> ((s: SparkSession, d: String) =>
      graft.streaming.EventStream.streamQuarantine(s, d)),
    "w16_stream_quality_gate" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventStream.streamQualityGate(s, d)),
    "w17_stream_model_score" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventStream.streamModelScore(s, d)),
    "w18_stream_gate_drift"  -> ((s: SparkSession, d: String) =>
      graft.streaming.EventStream.streamGateDrift(s, d)),
    "w19_stream_ingest_ledger" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventStream.streamIngestLedger(s, d)),
    "w20_stream_ann_ingest"  -> ((s: SparkSession, d: String) =>
      graft.streaming.EventStream.streamAnnIngest(s, d)),
    "j01_asof_join"          -> (graft.operators.AsOfJoin.purchaseAsOfClick _),
    "j04_nearest_join"       -> (graft.operators.AsOfJoin.purchaseNearestClick _),
    "j02_range_join"         -> (graft.operators.AsOfJoin.purchaseClickWindow _),
    "j05_interval_join"      -> (graft.operators.IntervalJoin.sessionErrorOverlap _),
    "j06_knn_time_join"      -> ((s: SparkSession, d: String) =>
      graft.operators.AsOfJoin.purchaseKNearestClicks(s, d)),
    "j07_interval_anti_join" -> (graft.operators.IntervalJoin.sessionErrorClean _),
    "j08_interp_join"        -> (graft.operators.AsOfJoin.purchaseInterpClickValue _),
    "j03_fuzzy_join"         -> (graft.operators.FuzzyJoin.docNearMatches _),
    "m08_media_search"       -> (graft.ops.Multimodal.mediaSearch _),
    "m09_media_sq_search"    ->
      ((s: SparkSession, d: String) => graft.ops.Multimodal.mediaSqSearch(s, d)),
    // S2 sink round trip — ref_-prefixed (reads the fixed-size reference
    // CSVs, ignores sfDir) so the bench suite stays sf-parameterized
    "ref_warehouse_roundtrip" -> ((s: SparkSession, _: String) =>
      graft.sources.WarehouseSink.roundTrip(s, Pipeline.rawDir(s))),
  ) ++ refCatalog

  /** The full reference-parity surface (marketing star schema → KPI views →
    * Q0–Q9) run on the reference's raw CSVs; sfDir is ignored. The raw dir
    * is the session's [[graft.etl.Pipeline.rawDir]]: the conf
    * `spark.graft.refRawDir` when set (tests point it at a generated §A
    * corpus), else the reference checkout. Each surface is hash-verified
    * against a self-contained DuckDB oracle that rebuilds the star schema
    * from the reference's raw CSVs ([[graft.etl.RefOracles]]); golden
    * value assertions additionally live in GoldenPipelineSpec.
    * q6_spend_waste ships as its `_active` variant: the reference's literal
    * thresholds legitimately select 0 rows (SURVEY §0.2-7, would trip the
    * driver's rows>0 check), so the driver entry uses fan-out-scaled
    * thresholds that exercise the identical plan shape. Every call lands
    * the star afresh through [[graft.etl.Pipeline.run]] (re-reading the
    * CSVs) — there is no per-session catalog memo, so rewritten files
    * are seen on the next call. */
  private def refCatalog: Map[String, (SparkSession, String) => DataFrame] = {
    val names = Seq("mv_channel_daily", "mv_channel_daily_incr",
      "mv_kpi_channel", "mv_kpi_campaign", "promo_enrichment",
      "q0_pnl", "q1_best_sellers", "q1_top_profit", "q1_top_margin",
      "q2_channel_kpis", "q3_repeat_drivers", "q4_category",
      "q5_hero_products", "q6_spend_waste_active", "q7_retention",
      "q8_demographics", "q9_frequency")
    names.map { n =>
      s"ref_$n" -> ((spark: SparkSession, _: String) => {
        val raw = Pipeline.rawDir(spark)
        Pipeline.queryCatalog(Pipeline.run(spark, raw), raw)(n)()
      })
    }.toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalOracles.sql ++ OpsOracles.sql ++ graft.etl.RefOracles.sql
}
