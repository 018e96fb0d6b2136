package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // B: relational / OLAP core
    "q1_pricing_summary" -> (Relational.q1PricingSummary _),
    "q3_shipping_priority" -> (Relational.q3ShippingPriority _),
    "q5_local_supplier" -> (Relational.q5LocalSupplier _),
    "q_broadcast_dim" -> (Relational.qBroadcastDim _),
    "q_semi_join" -> (Relational.qSemiJoin _),
    "q_anti_join" -> (Relational.qAntiJoin _),
    "q_window_rank" -> (Relational.qWindowRank _),
    "q_rollup" -> (Relational.qRollup _),
    "q_percentiles" -> (Relational.qPercentiles _),
    "q_distinct_agg" -> (Relational.qDistinctAgg _),
    "q_conditional_agg" -> (Relational.qConditionalAgg _),
    "q_union_except" -> (Relational.qUnionExcept _),
    "q_approx_distinct" -> (Relational.qApproxDistinctChecked _),
    "q_approx_percentiles" -> (Relational.qApproxPercentilesChecked _),
    "q_topk_custom" -> (Relational.qTopKCustom _),
    "q_intersect" -> (Relational.qIntersect _),
    "q_datetime" -> (Relational.qDatetime _),
    "q_pivot" -> (Relational.qPivot _),
    // A: telemetry / monitoring (the reference's surface)
    "mon_registry_lookup" -> (Monitoring.registryLookup _),
    "mon_latest_status" -> (Monitoring.latestStatus _),
    "mon_window_sum" -> (Monitoring.windowSum _),
    "mon_window_stats" -> (Monitoring.windowStats _),
    "mon_consecutive_failures" -> (Monitoring.consecutiveFailures _),
    "mon_sessionize" -> (Monitoring.sessionize _),
    "mon_uptime_ratio" -> (Monitoring.uptimeRatio _),
    "mon_alert_windows" -> (Monitoring.alertWindows _),
    "mon_escalation_batch" -> (Monitoring.escalationBatch _),
    "mon_top_error_devices" -> (Monitoring.topErrorDevices _),
    "mon_json_props" -> (Monitoring.jsonProps _),
    "mon_asof_last_success" -> (Monitoring.asofLastSuccess _),
    "mon_ewma" -> ((s: SparkSession, d: String) => Monitoring.ewma(s, d)),
    "mon_zscore_outliers" -> ((s: SparkSession, d: String) =>
      Monitoring.zscoreOutliers(s, d)),
    "mon_seasonal_deviation" -> ((s: SparkSession, d: String) =>
      Monitoring.seasonalDeviation(s, d)),
    "mon_cusum" -> ((s: SparkSession, d: String) => Monitoring.cusum(s, d)),
    "mon_heartbeat_gaps" -> ((s: SparkSession, d: String) =>
      Monitoring.heartbeatGaps(s, d)),
    "mon_never_reported" -> ((s: SparkSession, d: String) =>
      Monitoring.neverReported(s, d)),
    "mon_burn_rate" -> ((s: SparkSession, d: String) =>
      Monitoring.burnRate(s, d)),
    "mon_escalation_windowed" -> (Monitoring.escalationWindowed _),
    "mon_incident_retries" -> ((s: SparkSession, d: String) =>
      Monitoring.incidentRetries(s, d)),
    "mon_value_histogram" -> (Monitoring.valueHistogram _),
    "mon_moving_avg" -> (Monitoring.movingAvg _),
    "mon_rate_of_change" -> (Monitoring.rateOfChange _),
    "mon_incident_context" -> (Monitoring.incidentContext _),
    "mon_top_error_devices_approx" -> ((s: SparkSession, d: String) =>
      Monitoring.topErrorDevicesApprox(s, d)),
    "mon_mttr" -> (Monitoring.mttr _),
    "mon_series_search" -> ((s: SparkSession, d: String) =>
      Monitoring.seriesSearch(s, d)),
    "mon_alarm_verify" -> ((s: SparkSession, d: String) =>
      Monitoring.alarmVerify(s, d)),
    "mon_alarm_verify_report" -> ((s: SparkSession, d: String) =>
      Monitoring.alarmVerifyReport(s, d)),
    "mon_alarm_verify_curve" -> ((s: SparkSession, d: String) =>
      Monitoring.alarmVerifyCurve(s, d)),
    "mon_alarm_verify_tuned" -> ((s: SparkSession, d: String) =>
      Monitoring.alarmVerifyTuned(s, d)),
    "mon_alarm_verify_transfer" -> ((s: SparkSession, d: String) =>
      Monitoring.alarmVerifyTransfer(s, d)),
    "q_string_agg" -> (Relational.qStringAgg _),
    "q_salted_join" -> (Relational.qSaltedJoin _),
    "q_bloom_join" -> (Relational.qBloomJoin _),
    "q_grouping_sets" -> (Relational.qGroupingSets _),
    "q_scalar_subquery" -> (Relational.qScalarSubquery _),
    // C: dedup
    "dedup_exact" -> (Dedup.dedupExact _),
    "dedup_keep_best" -> (Dedup.dedupKeepBest _),
    "dsir_score" -> ((s: SparkSession, d: String) =>
      Curation.dsirScore(s, d)),
    "dsir_select" -> ((s: SparkSession, d: String) =>
      Curation.dsirSelect(s, d)),
    "dedup_minhash_lsh" -> (Dedup.dedupMinhashLsh _),
    "dedup_minhash_indexed" -> (Dedup.dedupMinhashIndexed _),
    "dedup_simhash" -> (Dedup.dedupSimhash _),
    "dedup_simhash_indexed" -> (Dedup.dedupSimhashIndexed _),
    "ngram_jaccard" -> (Dedup.ngramJaccard _),
    "dedup_embedding" -> (Dedup.dedupEmbedding _),
    "dedup_semantic" -> ((s: SparkSession, d: String) => Dedup.dedupSemantic(s, d)),
    "dedup_semantic_fixed" -> ((s: SparkSession, d: String) =>
      Dedup.dedupSemanticFixed(s, d)),
    "dedup_substring" -> (Dedup.dedupSubstring _),
    "dedup_substring_scrub" -> (Dedup.dedupSubstringScrub _),
    "dedup_substring_drop" -> (Dedup.dedupSubstringDrop _),
    // D: similarity search
    "ann_brute_topk" -> ((s: SparkSession, d: String) => Similarity.annBruteTopK(s, d)),
    "ann_radius" -> ((s: SparkSession, d: String) => Similarity.annRadius(s, d)),
    "embed_drift" -> ((s: SparkSession, d: String) => Similarity.embedDrift(s, d)),
    "knn_eval" -> ((s: SparkSession, d: String) => Similarity.knnEval(s, d)),
    "ann_brute_int8" -> ((s: SparkSession, d: String) => Similarity.annBruteInt8(s, d)),
    "ann_lsh" -> ((s: SparkSession, d: String) => Similarity.annLsh(s, d)),
    "ann_ivf" -> ((s: SparkSession, d: String) => Similarity.annIvf(s, d)),
    "ann_pq" -> ((s: SparkSession, d: String) => Similarity.annPq(s, d)),
    "knn_join" -> ((s: SparkSession, d: String) => Similarity.knnJoin(s, d)),
    "vec_norms" -> (Similarity.vecNorms _),
    "ann_recall" -> ((s: SparkSession, d: String) => Similarity.annRecall(s, d)),
    "embed_project" -> ((s: SparkSession, d: String) =>
      Similarity.embedProjectDump(s, d)),
    "ann_projected" -> ((s: SparkSession, d: String) =>
      Similarity.annProjected(s, d)),
    "ann_projected_ivf" -> ((s: SparkSession, d: String) =>
      Similarity.annProjectedIvf(s, d)),
    "ann_recall_curve" -> ((s: SparkSession, d: String) =>
      Similarity.annRecallCurve(s, d)),
    "embed_cluster" -> ((s: SparkSession, d: String) =>
      Similarity.embedCluster(s, d)),
    "ann_filtered" -> ((s: SparkSession, d: String) =>
      Similarity.annFiltered(s, d)),
    "pipeline_embed_search" -> ((s: SparkSession, d: String) =>
      Similarity.pipelineEmbedSearch(s, d)),
    "ann_index_health" -> ((s: SparkSession, d: String) =>
      Similarity.annIndexHealthQuery(s, d)),
    "ann_hybrid" -> ((s: SparkSession, d: String) =>
      Similarity.annHybrid(s, d)),
    "ann_mmr" -> ((s: SparkSession, d: String) =>
      Similarity.annMmr(s, d)),
    "ann_capped" -> ((s: SparkSession, d: String) =>
      Similarity.annCapped(s, d)),
    "mm_thumbnails" -> (Multimodal.mmThumbnails _),
    "mm_training_clips" -> ((s: SparkSession, d: String) =>
      Multimodal.mmTrainingClips(s, d)),
    "knn_graph" -> ((s: SparkSession, d: String) =>
      Similarity.knnGraph(s, d)),
    "knn_graph_ivf" -> ((s: SparkSession, d: String) =>
      Similarity.knnGraphIvf(s, d)),
    "knn_graph_refined" -> ((s: SparkSession, d: String) =>
      Similarity.knnGraphRefined(s, d)),
    "knn_graph_recall" -> ((s: SparkSession, d: String) =>
      Similarity.knnGraphRecall(s, d)),
    "knn_graph_recall_sampled" -> ((s: SparkSession, d: String) =>
      Similarity.knnGraphRecallSampled(s, d)),
    "knn_graph_indexed" -> ((s: SparkSession, d: String) =>
      Similarity.knnGraphIndexed(s, d)),
    "knn_pagerank" -> ((s: SparkSession, d: String) =>
      Similarity.knnPagerank(s, d)),
    "knn_pagerank_ivf" -> ((s: SparkSession, d: String) =>
      Similarity.knnPagerankIvf(s, d)),
    "pagerank_select" -> ((s: SparkSession, d: String) =>
      Similarity.pagerankSelect(s, d)),
    "knn_clusters" -> ((s: SparkSession, d: String) =>
      Similarity.knnClusters(s, d)),
    "knn_clusters_ivf" -> ((s: SparkSession, d: String) =>
      Similarity.knnClustersIvf(s, d)),
    "mm_quality_gate" -> ((s: SparkSession, d: String) =>
      Multimodal.mmQualityGate(s, d)),
    "mm_topk_escalate" -> ((s: SparkSession, d: String) =>
      Multimodal.mmTopkEscalate(s, d)),
    "mm_topk_escalate_recall" -> ((s: SparkSession, d: String) =>
      Multimodal.mmTopkEscalateRecall(s, d)),
    // F: multimodal
    "mm_manifest" -> (Multimodal.mmManifest _),
    "mm_frame_sample" -> (Multimodal.mmFrameSample _),
    "mm_codec_stats" -> (Multimodal.mmCodecStats _),
    "mm_frame_features" -> (Multimodal.mmFrameFeatures _),
    "mm_frame_search" -> ((s: SparkSession, d: String) =>
      Multimodal.mmFrameSearch(s, d)),
    "mm_frame_search_ivf" -> ((s: SparkSession, d: String) =>
      Multimodal.mmFrameSearchIvf(s, d)),
    "mm_resize" -> (Multimodal.mmResize _),
    "mm_scene_cuts" -> (Multimodal.mmSceneCuts _),
    "mm_shots" -> (Multimodal.mmShots _),
    "mm_audio_silence" -> ((s: SparkSession, d: String) =>
      Multimodal.mmAudioSilence(s, d)),
    "mm_dedup_frames" -> (Multimodal.mmDedupFrames _),
    "mm_audio_levels" -> ((s: SparkSession, d: String) =>
      Multimodal.mmAudioLevels(s, d)),
    // A12 batch replay of the streaming state machine (same kernel).
    // ts → epoch micros + consec_fails → BIGINT for the oracle hash
    // (SURVEY §4: never emit raw timestamps; match DuckDB count types).
    "mon_escalation_replay" -> ((s: SparkSession, d: String) =>
      graft.streaming.HealthMonitor.replayBatch(s, d).toDF()
        .select(org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.expr("unix_micros(ts)").as("ts_us"),
          org.apache.spark.sql.functions.col("action"),
          org.apache.spark.sql.functions.col("consec_fails").cast("long")
            .as("consec_fails"))
        .orderBy("user_id", "ts_us", "action")),
    // C+E composition: training-data curation pipeline
    "pipeline_curate" -> (Curation.pipelineCurate _),
    "pipeline_curate_full" -> (Curation.curate _),
    "pipeline_curate_gated" -> ((s: SparkSession, d: String) =>
      Curation.curateGated(s, d)),
    "decontaminate_bloom" -> (Curation.decontamBloomQuery _),
    "pipeline_curate_v2" -> (Curation.pipelineCurateV2 _),
    "decontaminate" -> (Curation.decontamQuery _),
    "decontaminate_fuzzy" -> (Curation.decontamFuzzyQuery _),
    "pack_sequences" -> (Curation.packSequencesQuery _),
    "pack_doc_aware" -> ((s: SparkSession, d: String) =>
      Curation.packDocAwareQuery(s, d)),
    "mix_sample" -> ((s: SparkSession, d: String) =>
      Curation.mixSampleQuery(s, d)),
    "mix_epochs" -> (Curation.mixEpochsQuery _),
    "split_assign" -> (Curation.splitAssignQuery _),
    "lm_buckets" -> ((s: SparkSession, d: String) =>
      Curation.lmBuckets(s, d)),
    "split_leak_audit" -> ((s: SparkSession, d: String) =>
      Curation.splitLeakAudit(s, d)),
    "curate_funnel" -> ((s: SparkSession, d: String) =>
      Curation.curateFunnel(s, d)),
    "q_skew_report" -> ((s: SparkSession, d: String) =>
      Relational.qSkewReport(s, d)),
    "dedup_cluster_stats" -> (Curation.dedupClusterStats _),
    "shuffle_sequences" -> (Curation.shuffleSequencesQuery _),
    "domain_cap" -> (Curation.domainCapQuery _),
    "oversample_rare" -> (Curation.oversampleRareQuery _),
    "contamination_report" -> (Curation.contaminationReportQuery _),
    "text_script_profile" -> (TextAnalysis.textScriptProfile _),
    "text_vocab_coverage" -> ((s: SparkSession, d: String) =>
      TextAnalysis.textVocabCoverage(s, d)),
    "q_asof_join" -> (Joins.asofJoinQuery _),
    "q_range_join" -> (Joins.rangeJoinQuery _),
    "q_corr" -> (Relational.qCorr _),
    "q_unpivot" -> (Relational.qUnpivot _),
    "q_cube" -> (Relational.qCube _),
    "q_exists_corr" -> (Relational.qExistsCorr _),
    "q_funnel" -> ((s: SparkSession, d: String) => Relational.qFunnel(s, d)),
    "q_returned_customers" -> ((s: SparkSession, d: String) =>
      Relational.qReturnedCustomers(s, d)),
    "q_nation_trade" -> (Relational.qNationTrade _),
    "q_market_share" -> (Relational.qMarketShare _),
    "q_value_tiers" -> ((s: SparkSession, d: String) =>
      Relational.qValueTiers(s, d)),
    "q_late_orders" -> (Relational.qLateOrders _),
    "q_promo_share" -> (Relational.qPromoShare _),
    "q_order_count_dist" -> (Relational.qOrderCountDist _),
    "q_large_orders" -> ((s: SparkSession, d: String) =>
      Relational.qLargeOrders(s, d)),
    "q_idle_customers" -> (Relational.qIdleCustomers _),
    "q_min_cost_supplier" -> (Relational.qMinCostSupplier _),
    "q_rfm" -> (Relational.qRfm _),
    "q_product_profit" -> ((s: SparkSession, d: String) =>
      Relational.qProductProfit(s, d)),
    "q_top_supplier" -> (Relational.qTopSupplier _),
    "q_supplier_counts" -> (Relational.qSupplierCounts _),
    "q_small_qty_revenue" -> ((s: SparkSession, d: String) =>
      Relational.qSmallQtyRevenue(s, d)),
    "q_disjunctive_revenue" -> (Relational.qDisjunctiveRevenue _),
    "q_blocking_supplier" -> (Relational.qBlockingSupplier _),
    "text_bpe_pairs" -> ((s: SparkSession, d: String) =>
      TextAnalysis.textBpePairs(s, d)),
    "bpe_train" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpeTrain(s, d)),
    "tokenizer_compare" -> ((s: SparkSession, d: String) =>
      TextAnalysis.tokenizerCompare(s, d)),
    "unigram_train" -> ((s: SparkSession, d: String) =>
      TextAnalysis.unigramTrain(s, d)),
    "unigram_apply" -> ((s: SparkSession, d: String) =>
      TextAnalysis.unigramApply(s, d)),
    "bpe_apply" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpeApply(s, d)),
    "bpe_apply_indexed" -> ((s: SparkSession, d: String) =>
      TextAnalysis.bpeApplyIndexed(s, d)),
    "unigram_apply_indexed" -> ((s: SparkSession, d: String) =>
      TextAnalysis.unigramApplyIndexed(s, d)),
    "tokenizer_profile" -> ((s: SparkSession, d: String) =>
      TextAnalysis.tokenizerProfile(s, d)),
    "pack_bpe" -> ((s: SparkSession, d: String) =>
      Curation.packSequences(Tables.documents(s, d),
        denomination = Denomination.bpe(s, d))),
    "pack_unigram" -> ((s: SparkSession, d: String) =>
      Curation.packSequences(Tables.documents(s, d),
        denomination = Denomination.unigram(s, d))),
    "mix_sample_bpe" -> ((s: SparkSession, d: String) =>
      Curation.mixSampleQuery(s, d, Denomination.bpe(s, d))),
    "budget_select_bpe" -> ((s: SparkSession, d: String) =>
      Curation.budgetSelect(Tables.documents(s, d),
        denomination = Denomination.bpe(s, d))),
    "domain_cap_bpe" -> ((s: SparkSession, d: String) =>
      Curation.domainCapBudget(Tables.documents(s, d),
        denomination = Denomination.bpe(s, d))),
    "embed_cluster_lloyd" -> ((s: SparkSession, d: String) =>
      Similarity.embedClusterLloyd(s, d)),
    "ann_rerank" -> ((s: SparkSession, d: String) =>
      Similarity.annRerank(s, d)),
    "text_zipf" -> ((s: SparkSession, d: String) =>
      TextAnalysis.textZipf(s, d)),
    "text_keywords" -> ((s: SparkSession, d: String) =>
      TextAnalysis.textKeywords(s, d)),
    "text_hapax" -> ((s: SparkSession, d: String) =>
      TextAnalysis.textHapax(s, d)),
    "gram_memorization" -> ((s: SparkSession, d: String) =>
      Curation.gramMemorization(s, d)),
    "quality_classifier" -> ((s: SparkSession, d: String) =>
      Curation.qualityClassifier(s, d)),
    "classifier_report" -> ((s: SparkSession, d: String) =>
      Curation.classifierReport(s, d)),
    "classifier_threshold" -> ((s: SparkSession, d: String) =>
      Curation.classifierThreshold(s, d)),
    "classifier_calibration" -> ((s: SparkSession, d: String) =>
      Curation.classifierCalibration(s, d)),
    "mix_reweight" -> ((s: SparkSession, d: String) =>
      Curation.mixReweight(s, d)),
    "mix_reweight_apply" -> ((s: SparkSession, d: String) =>
      Curation.mixReweightApply(s, d)),
    "mix_reweight_iterate" -> ((s: SparkSession, d: String) =>
      Curation.mixReweightIterate(s, d)),
    "mix_temperature" -> ((s: SparkSession, d: String) =>
      Curation.mixTemperature(s, d)),
    "mix_temperature_apply" -> ((s: SparkSession, d: String) =>
      Curation.mixTemperatureApply(s, d)),
    "mix_anneal" -> ((s: SparkSession, d: String) =>
      Curation.mixAnneal(s, d)),
    "pipeline_curate_norm" -> ((s: SparkSession, d: String) =>
      Curation.pipelineCurateNorm(s, d)),
    "pipeline_curate_predicted" -> ((s: SparkSession, d: String) =>
      Curation.pipelineCuratePredicted(s, d)),
    "pipeline_curate_routed" -> ((s: SparkSession, d: String) =>
      Curation.pipelineCurateRouted(s, d)),
    "pipeline_curate_prod" -> ((s: SparkSession, d: String) =>
      Curation.pipelineCurateProd(s, d)),
    "pipeline_curate_crawl" -> ((s: SparkSession, d: String) =>
      Curation.pipelineCurateCrawl(s, d)),
    "pipeline_curate_crawl_robust" -> ((s: SparkSession, d: String) =>
      Curation.pipelineCurateCrawlRobust(s, d)),
    "pipeline_curate_certified" -> ((s: SparkSession, d: String) =>
      Curation.pipelineCurateCertified(s, d)),
    "curate_predicted_report" -> ((s: SparkSession, d: String) =>
      Curation.curatePredictedReport(s, d)),
    "data_card" -> ((s: SparkSession, d: String) =>
      Curation.dataCard(s, d)),
    "cluster_budget" -> ((s: SparkSession, d: String) =>
      Curation.clusterBudget(s, d)),
    "cluster_sample" -> ((s: SparkSession, d: String) =>
      Curation.clusterSample(s, d)),
    "cluster_sample_frontier" -> ((s: SparkSession, d: String) =>
      Curation.clusterSample(s, d, mode = "frontier")),
    "mix_sample_unigram" -> ((s: SparkSession, d: String) =>
      Curation.mixSampleQuery(s, d, Denomination.unigram(s, d))),
    "budget_select_unigram" -> ((s: SparkSession, d: String) =>
      Curation.budgetSelect(Tables.documents(s, d),
        denomination = Denomination.unigram(s, d))),
    "domain_cap_unigram" -> ((s: SparkSession, d: String) =>
      Curation.domainCapBudget(Tables.documents(s, d),
        denomination = Denomination.unigram(s, d))),
    "gopher_rules" -> ((s: SparkSession, d: String) =>
      Curation.gopherRulesQuery(s, d)),
    "repetition_rules" -> ((s: SparkSession, d: String) =>
      Curation.repetitionRulesQuery(s, d)),
    "curriculum_order" -> ((s: SparkSession, d: String) =>
      Curation.curriculumOrderQuery(s, d)),
    "pack_curriculum" -> ((s: SparkSession, d: String) =>
      Curation.packCurriculumQuery(s, d)),
    "pipeline_massivetext" -> ((s: SparkSession, d: String) =>
      Curation.pipelineMassivetextQuery(s, d)),
    "embed_outliers" -> ((s: SparkSession, d: String) =>
      Similarity.embedOutliers(s, d)),
    "label_propagation" -> ((s: SparkSession, d: String) =>
      Similarity.labelPropagation(s, d)),
    "label_propagation_ivf" -> ((s: SparkSession, d: String) =>
      Similarity.labelPropagationIvf(s, d)),
    "dedup_recall_report" -> ((s: SparkSession, d: String) =>
      Dedup.dedupRecallReport(s, d)),
    "dedup_recall_report_sampled" -> ((s: SparkSession, d: String) =>
      Dedup.dedupRecallReportSampled(s, d)),
    "mm_dedup_media_groups" -> ((s: SparkSession, d: String) =>
      Multimodal.mmDedupMediaGroups(s, d)),
    "tokenizer_fertility" -> ((s: SparkSession, d: String) =>
      TextAnalysis.tokenizerFertility(s, d)),
    "text_ngram_diversity" -> ((s: SparkSession, d: String) =>
      TextAnalysis.textNgramDiversity(s, d)),
    "q_forecast_revenue" -> (Relational.qForecastRevenue _),
    "q_safe_release" -> ((s: SparkSession, d: String) =>
      Relational.qSafeRelease(s, d)),
    "mm_silence_trim" -> ((s: SparkSession, d: String) =>
      Multimodal.mmSilenceTrim(s, d)),
    "mm_loudness_norm" -> ((s: SparkSession, d: String) =>
      Multimodal.mmLoudnessNorm(s, d)),
    "text_lm_score_bigram" -> ((s: SparkSession, d: String) =>
      TextAnalysis.textLmScoreBigram(s, d)),
    "word_cooccurrence" -> ((s: SparkSession, d: String) =>
      TextAnalysis.wordCooccurrence(s, d)),
    // 24h gap / 50% SLO: on the sparse synthetic fleet these split the
    // exhausted verdict (the 12h/95% production defaults read all-true)
    "mon_error_budget" -> ((s: SparkSession, d: String) =>
      Monitoring.errorBudget(s, d, maxGapUs = 86400000000L, slo = 0.5)),
    // same calibrated knobs as A65 so verdicts split on this fleet
    "mon_budget_eta" -> ((s: SparkSession, d: String) =>
      Monitoring.budgetEta(s, d, maxGapUs = 86400000000L, slo = 0.5)),
    "mon_downtime_sla" -> ((s: SparkSession, d: String) =>
      Monitoring.downtimeSla(s, d)),
    "mon_anomaly_ensemble" -> ((s: SparkSession, d: String) =>
      Monitoring.anomalyEnsemble(s, d)),
    "mon_level_shift" -> ((s: SparkSession, d: String) =>
      Monitoring.levelShift(s, d)),
    "shuffle_audit" -> (Curation.shuffleAudit _),
    "length_buckets" -> ((s: SparkSession, d: String) =>
      Curation.lengthBuckets(s, d)),
    "mon_capacity_forecast" -> ((s: SparkSession, d: String) =>
      Monitoring.capacityForecast(s, d)),
    "mon_forecast_accuracy" -> ((s: SparkSession, d: String) =>
      Monitoring.forecastAccuracy(s, d)),
    "mix_report" -> ((s: SparkSession, d: String) =>
      Curation.mixReport(s, d)),
    "shard_manifest" -> ((s: SparkSession, d: String) =>
      Curation.shardManifestQuery(s, d)),
    "pack_report" -> ((s: SparkSession, d: String) =>
      Curation.packReport(s, d)),
    "mm_motion_profile" -> ((s: SparkSession, d: String) =>
      Multimodal.mmMotionProfile(s, d)),
    "mm_av_sync" -> ((s: SparkSession, d: String) =>
      Multimodal.mmAvSync(s, d)),
    "mm_fragment_gaps" -> ((s: SparkSession, d: String) =>
      Multimodal.mmFragmentGaps(s, d)),
    "mm_fragment_loss" -> ((s: SparkSession, d: String) =>
      Multimodal.mmFragmentLoss(s, d)),
    "mm_pack_interleaved" -> ((s: SparkSession, d: String) =>
      Multimodal.mmPackInterleaved(s, d)),
    "mm_pack_report" -> ((s: SparkSession, d: String) =>
      Multimodal.mmPackReport(s, d)),
    "mm_data_card" -> ((s: SparkSession, d: String) =>
      Multimodal.mmDataCard(s, d)),
    "mm_pack_adaptive" -> ((s: SparkSession, d: String) =>
      Multimodal.mmPackAdaptive(s, d, seqLen = 2048)),
    "mm_pack_certified" -> ((s: SparkSession, d: String) =>
      Multimodal.mmPackCertified(s, d)),
    "q_retention_cohorts" -> (Relational.qRetentionCohorts _),
    "mon_status_flaps" -> ((s: SparkSession, d: String) =>
      Monitoring.statusFlaps(s, d)),
    "mon_cross_corr" -> ((s: SparkSession, d: String) =>
      Monitoring.crossCorr(s, d)),
    "mon_cross_corr_anomalies" -> ((s: SparkSession, d: String) =>
      Monitoring.crossCorrAnomalies(s, d)),
    // screening threshold for the driver corpus: the synthetic fleet's
    // strongest co-movers sit near |corr| 0.35-0.57 (production default
    // 0.8 would report an empty-but-honest frame), so the driver row
    // exercises the full pair→component→group path on real edges
    "mon_incident_groups" -> ((s: SparkSession, d: String) =>
      Monitoring.incidentGroups(s, d, corrThreshold = 0.3)),
    "mon_incident_pairs" -> ((s: SparkSession, d: String) =>
      Monitoring.incidentPairs(s, d, corrThreshold = 0.3)),
    "mon_gap_fill" -> ((s: SparkSession, d: String) =>
      Monitoring.gapFill(s, d)),
    "mon_fleet_health" -> ((s: SparkSession, d: String) =>
      Monitoring.fleetHealth(s, d)),
    "mon_gap_fill_linear" -> ((s: SparkSession, d: String) =>
      Monitoring.gapFill(s, d, linear = true)),
    "mon_window_percentiles" -> (Monitoring.windowPercentiles _),
    "mon_window_percentiles_approx" -> ((s: SparkSession, d: String) =>
      Monitoring.windowPercentilesApproxChecked(s, d)),
    "mon_error_pareto" -> ((s: SparkSession, d: String) =>
      Monitoring.errorPareto(s, d)),
    "mon_mad_outliers" -> ((s: SparkSession, d: String) =>
      Monitoring.madOutliers(s, d)),
    "chunk_documents" -> (Curation.chunkDocumentsQuery _),
    "text_bm25" -> ((s: SparkSession, d: String) => TextAnalysis.textBm25(s, d)),
    "q_window_range" -> ((s: SparkSession, d: String) =>
      Relational.qWindowRange(s, d)),
    "q_rolling_dau" -> (Relational.qRollingDau _),
    "q_profile" -> (Relational.qProfile _),
    "q_rolling_dau_approx" -> (Relational.qRollingDauApproxChecked _),
    "q_copurchase" -> ((s: SparkSession, d: String) =>
      Relational.qCopurchase(s, d)),
    "q_top_movers" -> ((s: SparkSession, d: String) =>
      Relational.qTopMovers(s, d)),
    "q_heatmap" -> (Relational.qHeatmap _),
    "q_event_paths" -> ((s: SparkSession, d: String) =>
      Relational.qEventPaths(s, d)),
    "text_compress_ratio" -> (TextAnalysis.compressRatioQuery _),
    "text_entropy" -> (TextAnalysis.textEntropy _),
    "corpus_drift" -> (TextAnalysis.corpusDrift _),
    "langid_confusion" -> (TextAnalysis.langIdConfusion _),
    "lang_classifier" -> ((s: SparkSession, d: String) =>
      TextAnalysis.langClassifier(s, d)),
    "lang_classifier_report" -> ((s: SparkSession, d: String) =>
      TextAnalysis.langClassifierReport(s, d)),
    "lang_classifier_indexed" -> ((s: SparkSession, d: String) =>
      TextAnalysis.langClassifierIndexed(s, d)),
    "lang_classifier_vs_heuristic" -> ((s: SparkSession, d: String) =>
      TextAnalysis.langClassifierVsHeuristic(s, d)),
    "text_html_extract" -> ((s: SparkSession, d: String) =>
      TextAnalysis.htmlExtract(s, d)),
    "html_extract_report" -> ((s: SparkSession, d: String) =>
      TextAnalysis.htmlExtractReport(s, d)),
    "html_extract_robust" -> ((s: SparkSession, d: String) =>
      TextAnalysis.htmlExtractRobust(s, d)),
    "crawl_quarantine_report" -> ((s: SparkSession, d: String) =>
      TextAnalysis.crawlQuarantineReport(s, d)),
    "classifier_serve_indexed" -> ((s: SparkSession, d: String) =>
      Curation.classifierServeIndexed(s, d)),
    "classifier_serve_calibrated" -> ((s: SparkSession, d: String) =>
      Curation.classifierServeCalibratedQuery(s, d)),
    "calibrated_sample" -> ((s: SparkSession, d: String) =>
      Curation.calibratedSample(s, d)),
    "quality_rank_cut" -> (Curation.qualityRankCutQuery _),
    "budget_select" -> (Curation.budgetSelectQuery _),
    "text_readability" -> (TextAnalysis.textReadability _),
    "pipeline_train_mix" -> ((s: SparkSession, d: String) =>
      Curation.pipelineTrainMix(s, d)),
    "pipeline_train_epochs" -> ((s: SparkSession, d: String) =>
      Curation.pipelineTrainEpochs(s, d)),
    // E: text analysis
    "text_tokens" -> (TextAnalysis.textTokens _),
    "text_quality" -> (TextAnalysis.textQuality _),
    "text_code_score" -> (TextAnalysis.textCodeScore _),
    "code_by_source" -> (TextAnalysis.codeBySource _),
    "budget_select_calibrated" -> ((s: SparkSession, d: String) =>
      Curation.budgetSelectCalibrated(s, d)),
    "text_langid" -> (TextAnalysis.textLangId _),
    "text_fingerprint" -> (TextAnalysis.textFingerprint _),
    "word_freq_topk" -> (TextAnalysis.wordFreqTopK _),
    "tfidf_top" -> ((s: SparkSession, d: String) => TextAnalysis.tfIdfTop(s, d)),
    "text_repetition" -> (TextAnalysis.textRepetition _),
    "text_pii_scrub" -> (TextAnalysis.textPiiScrub _),
    "pii_report" -> (TextAnalysis.piiReport _),
    "text_normalize" -> (TextAnalysis.textNormalize _),
    "normalize_impact" -> (TextAnalysis.normalizeImpact _),
    "text_sentiment" -> (TextAnalysis.textSentiment _),
    "sentiment_by_source" -> (TextAnalysis.sentimentBySource _),
    "word_freq_topk_approx" -> ((s: SparkSession, d: String) =>
      TextAnalysis.wordFreqTopKApprox(s, d)),
    "corpus_stats" -> (TextAnalysis.corpusStats _),
    "text_lm_score" -> (TextAnalysis.textLmScore _),
    "boilerplate_frac" -> ((s: SparkSession, d: String) =>
      TextAnalysis.boilerplateFrac(s, d)),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" -> Relational.q1PricingSummarySql,
    "q3_shipping_priority" -> Relational.q3ShippingPrioritySql,
    "q5_local_supplier" -> Relational.q5LocalSupplierSql,
    "q_broadcast_dim" -> Relational.qBroadcastDimSql,
    "q_semi_join" -> Relational.qSemiJoinSql,
    "q_anti_join" -> Relational.qAntiJoinSql,
    "q_window_rank" -> Relational.qWindowRankSql,
    "q_rollup" -> Relational.qRollupSql,
    "q_percentiles" -> Relational.qPercentilesSql,
    "q_distinct_agg" -> Relational.qDistinctAggSql,
    "q_conditional_agg" -> Relational.qConditionalAggSql,
    "q_union_except" -> Relational.qUnionExceptSql,
    "q_topk_custom" -> Relational.qTopKCustomSql,
    "q_intersect" -> Relational.qIntersectSql,
    "q_datetime" -> Relational.qDatetimeSql,
    "q_pivot" -> Relational.qPivotSql,
    "mon_registry_lookup" -> Monitoring.registryLookupSql,
    "mon_latest_status" -> Monitoring.latestStatusSql,
    "mon_window_sum" -> Monitoring.windowSumSql,
    "mon_window_stats" -> Monitoring.windowStatsSql,
    "mon_consecutive_failures" -> Monitoring.consecutiveFailuresSql,
    "mon_sessionize" -> Monitoring.sessionizeSql,
    "mon_uptime_ratio" -> Monitoring.uptimeRatioSql,
    "mon_alert_windows" -> Monitoring.alertWindowsSql,
    "mon_escalation_batch" -> Monitoring.escalationBatchSql,
    "mon_top_error_devices" -> Monitoring.topErrorDevicesSql,
    // A29: hash-gated in its provably-exact regime only (fleet <
    // sketch capacity — precondition pinned in MonitoringSpec)
    "mon_top_error_devices_approx" -> Monitoring.topErrorDevicesApproxSql(),
    "mon_json_props" -> Monitoring.jsonPropsSql,
    "mon_asof_last_success" -> Monitoring.asofLastSuccessSql,
    "mon_ewma" -> Monitoring.ewmaSql,
    "mon_zscore_outliers" -> Monitoring.zscoreOutliersSql,
    "mon_seasonal_deviation" -> Monitoring.seasonalDeviationSql,
    "mon_cusum" -> Monitoring.cusumSql(),
    "mon_heartbeat_gaps" -> Monitoring.heartbeatGapsSql(),
    "mon_never_reported" -> Monitoring.neverReportedSql(),
    "mon_burn_rate" -> Monitoring.burnRateSql(),
    "mon_escalation_windowed" -> Monitoring.escalationWindowedSql,
    "mon_incident_retries" -> Monitoring.incidentRetriesSql,
    "mon_value_histogram" -> Monitoring.valueHistogramSql,
    "mon_moving_avg" -> Monitoring.movingAvgSql,
    "mon_rate_of_change" -> Monitoring.rateOfChangeSql,
    "mon_incident_context" -> Monitoring.incidentContextSql,
    "mon_mttr" -> Monitoring.mttrSql,
    "q_string_agg" -> Relational.qStringAggSql,
    "q_salted_join" -> Relational.qSaltedJoinSql,
    "q_bloom_join" -> Relational.qBloomJoinSql,
    "q_grouping_sets" -> Relational.qGroupingSetsSql,
    "q_scalar_subquery" -> Relational.qScalarSubquerySql,
    "mm_manifest" -> Multimodal.mmManifestSql,
    "mm_codec_stats" -> Multimodal.mmCodecStatsSql,
    "mm_resize" -> Multimodal.mmResizeSql,
    "mm_frame_sample" -> Multimodal.mmFrameSampleSql,
    "mm_frame_features" -> Multimodal.mmFrameFeaturesSql,
    "mm_frame_search" -> Multimodal.mmFrameSearchSql(),
    "mm_scene_cuts" -> Multimodal.mmSceneCutsSql,
    "mm_shots" -> Multimodal.mmShotsSql,
    "mm_audio_silence" -> Multimodal.mmAudioSilenceSql,
    "mm_dedup_frames" -> Multimodal.mmDedupFramesSql,
    "mm_dedup_media_groups" -> Multimodal.mmDedupMediaGroupsSql,
    "mm_audio_levels" -> Multimodal.mmAudioLevelsSql,
    "dedup_exact" -> Dedup.dedupExactSql,
    "dedup_keep_best" -> Dedup.dedupKeepBestSql,
    "dsir_score" -> Curation.dsirScoreSql(),
    "dsir_select" -> Curation.dsirSelectSql(),
    "ngram_jaccard" -> Dedup.ngramJaccardSql,
    "dedup_embedding" -> Dedup.dedupEmbeddingSql,
    "dedup_semantic_fixed" -> Dedup.dedupSemanticFixedSql,
    "dedup_substring" -> Dedup.dedupSubstringSql,
    "dedup_substring_scrub" -> Dedup.dedupSubstringScrubSql,
    "dedup_substring_drop" -> Dedup.dedupSubstringDropSql,
    "ann_brute_topk" -> Similarity.annBruteTopKSql,
    "ann_radius" -> Similarity.annRadiusSql,
    "embed_drift" -> Similarity.embedDriftSql,
    "knn_eval" -> Similarity.knnEvalSql,
    "knn_join" -> Similarity.knnJoinSql,
    "vec_norms" -> Similarity.vecNormsSql,
    "pipeline_curate" -> Curation.pipelineCurateSql,
    "decontaminate" -> Curation.decontamSql,
    // C59 is C12 on a different execution path (bloom prescreen +
    // exact confirm) — same oracle BY DESIGN, hash-pinning the
    // zero-false-negative claim
    "decontaminate_bloom" -> Curation.decontamSql,
    "decontaminate_fuzzy" -> Curation.decontamFuzzySql,
    "pack_sequences" -> Curation.packSequencesSql,
    "mix_sample" -> Curation.mixSampleSql,
    "mix_epochs" -> Curation.mixEpochsSql,
    "split_assign" -> Curation.splitAssignSql(),
    "lm_buckets" -> Curation.lmBucketsSql,
    "split_leak_audit" -> Curation.splitLeakAuditSql(),
    "curate_funnel" -> Curation.curateFunnelSql(),
    "q_skew_report" -> Relational.qSkewReportSql(),
    "dedup_cluster_stats" -> Curation.dedupClusterStatsSql,
    "shuffle_sequences" -> Curation.shuffleSequencesSql,
    "domain_cap" -> Curation.domainCapSql,
    "oversample_rare" -> Curation.oversampleRareSql(),
    "contamination_report" -> Curation.contaminationReportSql,
    "text_script_profile" -> TextAnalysis.textScriptProfileSql,
    "text_vocab_coverage" -> TextAnalysis.textVocabCoverageSql(),
    "q_asof_join" -> Joins.asofJoinSql,
    "q_range_join" -> Joins.rangeJoinSql,
    "q_corr" -> Relational.qCorrSql,
    "q_unpivot" -> Relational.qUnpivotSql,
    "q_cube" -> Relational.qCubeSql,
    "q_exists_corr" -> Relational.qExistsCorrSql,
    "q_funnel" -> Relational.qFunnelSql(),
    "q_retention_cohorts" -> Relational.qRetentionCohortsSql,
    "mon_status_flaps" -> Monitoring.statusFlapsSql(),
    "mon_cross_corr" -> Monitoring.crossCorrSql(),
    "mon_series_search" -> Monitoring.seriesSearchSql(),
    "mon_cross_corr_anomalies" -> Monitoring.crossCorrAnomaliesSql(),
    "mon_incident_pairs" -> Monitoring.incidentPairsSql(corrThreshold = 0.3),
    "mon_budget_eta" ->
      Monitoring.budgetEtaSql(maxGapUs = 86400000000L, slo = 0.5),
    "q_returned_customers" -> Relational.qReturnedCustomersSql,
    "q_nation_trade" -> Relational.qNationTradeSql,
    "q_market_share" -> Relational.qMarketShareSql,
    "q_value_tiers" -> Relational.qValueTiersSql(),
    "q_late_orders" -> Relational.qLateOrdersSql,
    "q_promo_share" -> Relational.qPromoShareSql,
    "q_order_count_dist" -> Relational.qOrderCountDistSql,
    "q_large_orders" -> Relational.qLargeOrdersSql,
    "q_idle_customers" -> Relational.qIdleCustomersSql,
    "q_min_cost_supplier" -> Relational.qMinCostSupplierSql,
    "q_rfm" -> Relational.qRfmSql,
    "q_product_profit" -> Relational.qProductProfitSql,
    "q_top_supplier" -> Relational.qTopSupplierSql,
    "q_supplier_counts" -> Relational.qSupplierCountsSql,
    "q_small_qty_revenue" -> Relational.qSmallQtyRevenueSql,
    "q_disjunctive_revenue" -> Relational.qDisjunctiveRevenueSql,
    "q_blocking_supplier" -> Relational.qBlockingSupplierSql,
    "text_bpe_pairs" -> TextAnalysis.textBpePairsSql(),
    "text_zipf" -> TextAnalysis.textZipfSql(),
    "text_keywords" -> TextAnalysis.textKeywordsSql,
    "text_hapax" -> TextAnalysis.textHapaxSql,
    "gram_memorization" -> Curation.gramMemorizationSql(),
    "gopher_rules" -> Curation.gopherRulesSql(),
    "quality_classifier" -> Curation.qualityClassifierSql(),
    "classifier_report" -> Curation.classifierReportSql(),
    "classifier_threshold" -> Curation.classifierThresholdSql(),
    "classifier_calibration" -> Curation.classifierCalibrationSql(),
    "mix_reweight" -> Curation.mixReweightSql(),
    "mix_reweight_apply" -> Curation.mixReweightApplySql(),
    "mix_temperature" -> Curation.mixTemperatureSql(),
    "pipeline_curate_norm" -> Curation.pipelineCurateNormSql,
    "pipeline_curate_routed" -> Curation.pipelineCurateRoutedSql,
    "data_card" -> Curation.dataCardSql(),
    "mix_temperature_apply" -> Curation.mixTemperatureApplySql(),
    "mix_anneal" -> Curation.mixAnnealSql(),
    "pack_doc_aware" -> Curation.packDocAwareSql(),
    "repetition_rules" -> Curation.repetitionRulesSql(),
    "curriculum_order" -> Curation.curriculumOrderSql(),
    "pack_curriculum" -> Curation.packCurriculumSql(),
    "pipeline_massivetext" -> Curation.pipelineMassivetextSql(),
    "embed_outliers" -> Similarity.embedOutliersSql(),
    "text_ngram_diversity" -> TextAnalysis.textNgramDiversitySql,
    "q_forecast_revenue" -> Relational.qForecastRevenueSql,
    "q_safe_release" -> Relational.qSafeReleaseSql(),
    "mm_silence_trim" -> Multimodal.mmSilenceTrimSql(),
    "mm_loudness_norm" -> Multimodal.mmLoudnessNormSql(),
    "text_lm_score_bigram" -> TextAnalysis.textLmScoreBigramSql(),
    "word_cooccurrence" -> TextAnalysis.wordCooccurrenceSql(),
    "mon_downtime_sla" -> Monitoring.downtimeSlaSql(),
    "mon_error_budget" ->
      Monitoring.errorBudgetSql(maxGapUs = 86400000000L, slo = 0.5),
    "mon_anomaly_ensemble" -> Monitoring.anomalyEnsembleSql(),
    "mon_level_shift" -> Monitoring.levelShiftSql(),
    "shuffle_audit" -> Curation.shuffleAuditSql,
    "length_buckets" -> Curation.lengthBucketsSql(),
    "mon_capacity_forecast" -> Monitoring.capacityForecastSql(),
    "mon_forecast_accuracy" -> Monitoring.forecastAccuracySql(),
    "mix_report" -> Curation.mixReportSql(),
    "pack_report" -> Curation.packReportSql(),
    "mm_motion_profile" -> Multimodal.mmMotionProfileSql,
    "mm_av_sync" -> Multimodal.mmAvSyncSql(),
    "mm_fragment_gaps" -> Multimodal.mmFragmentGapsSql,
    "mm_fragment_loss" -> Multimodal.mmFragmentLossSql,
    "mm_pack_interleaved" -> Multimodal.mmPackInterleavedSql(),
    "mm_pack_report" -> Multimodal.mmPackReportSql(),
    "mm_data_card" -> Multimodal.mmDataCardSql(),
    "mm_pack_adaptive" -> Multimodal.mmPackAdaptiveSql(seqLen = 2048),
    "text_html_extract" -> TextAnalysis.htmlExtractSql,
    "html_extract_robust" -> TextAnalysis.htmlExtractRobustSql,
    "crawl_quarantine_report" -> TextAnalysis.crawlQuarantineReportSql,
    "html_extract_report" -> TextAnalysis.htmlExtractReportSql,
    "mon_gap_fill" -> Monitoring.gapFillSql(),
    "mon_gap_fill_linear" -> Monitoring.gapFillSql(linear = true),
    "mon_fleet_health" -> Monitoring.fleetHealthSql(),
    "mon_window_percentiles" -> Monitoring.windowPercentilesSql,
    "mon_window_percentiles_approx" ->
      Monitoring.windowPercentilesApproxCheckedSql,
    "mon_error_pareto" -> Monitoring.errorParetoSql(),
    "mon_mad_outliers" -> Monitoring.madOutliersSql(),
    "chunk_documents" -> Curation.chunkDocumentsSql,
    "text_bm25" -> TextAnalysis.textBm25Sql,
    "q_window_range" -> Relational.qWindowRangeSql,
    "q_rolling_dau" -> Relational.qRollingDauSql,
    "q_rolling_dau_approx" -> Relational.qRollingDauApproxCheckedSql,
    "q_approx_distinct" -> Relational.qApproxDistinctCheckedSql,
    "q_approx_percentiles" -> Relational.qApproxPercentilesCheckedSql,
    "q_profile" -> Relational.qProfileSql,
    "q_copurchase" -> Relational.qCopurchaseSql,
    "q_top_movers" -> Relational.qTopMoversSql,
    "q_heatmap" -> Relational.qHeatmapSql,
    "ann_filtered" -> Similarity.annFilteredSql,
    "ann_hybrid" -> Similarity.annHybridSql,
    "ann_capped" -> Similarity.annCappedSql,
    "mm_thumbnails" -> Multimodal.mmThumbnailsSql,
    "mm_training_clips" -> Multimodal.mmTrainingClipsSql(),
    "knn_graph" -> Similarity.knnGraphSql,
    "mm_quality_gate" -> Multimodal.mmQualityGateSql(),
    "q_event_paths" -> Relational.qEventPathsSql,
    "text_entropy" -> TextAnalysis.textEntropySql,
    "corpus_drift" -> TextAnalysis.corpusDriftSql,
    "quality_rank_cut" -> Curation.qualityRankCutSql,
    "budget_select" -> Curation.budgetSelectSql,
    "text_readability" -> TextAnalysis.textReadabilitySql,
    "pipeline_train_mix" -> Curation.pipelineTrainMixSql,
    "pipeline_train_epochs" -> Curation.pipelineTrainEpochsSql,
    "boilerplate_frac" -> TextAnalysis.boilerplateFracSql,
    "pipeline_curate_v2" -> Curation.pipelineCurateV2Sql,
    "text_tokens" -> TextAnalysis.textTokensSql,
    "text_quality" -> TextAnalysis.textQualitySql,
    "text_code_score" -> TextAnalysis.textCodeScoreSql,
    "code_by_source" -> TextAnalysis.codeBySourceSql,
    "text_fingerprint" -> TextAnalysis.textFingerprintSql,
    "word_freq_topk" -> TextAnalysis.wordFreqTopKSql,
    "text_repetition" -> TextAnalysis.textRepetitionSql,
    "text_pii_scrub" -> TextAnalysis.textPiiScrubSql,
    "pii_report" -> TextAnalysis.piiReportSql,
    "text_normalize" -> TextAnalysis.textNormalizeSql,
    "normalize_impact" -> TextAnalysis.normalizeImpactSql,
    "text_sentiment" -> TextAnalysis.textSentimentSql,
    "sentiment_by_source" -> TextAnalysis.sentimentBySourceSql,
    "corpus_stats" -> TextAnalysis.corpusStatsSql,
    "tfidf_top" -> TextAnalysis.tfIdfTopSql,
    "text_lm_score" -> TextAnalysis.textLmScoreSql,
    "mon_escalation_replay" -> graft.streaming.HealthMonitor.replaySql,
  )
}
