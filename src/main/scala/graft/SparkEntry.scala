package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2 is declared here as a named query over
  * the driver's parquet tables, with matching ANSI SQL for the DuckDB
  * oracle where expressible. Column names and value representations are
  * normalized on both sides (see operators.Warehouse scaladoc).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's end-to-end pipeline in batch form: dedup → time-bucket
    * → partitioned JSON landing → read back (SURVEY.md §7 minimum slice).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_land_partitioned")(spark, "/root/testdata/sf0.001")

  import Tables._

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- reference surface: landing pipeline + events (S2, S4, A1-A5, P8, T4, F1-F2) ---
    "q_land_partitioned" -> ((s, d) =>
      Landing.landPartitionedJson(events(s, d), col("ts"), Seq("event_id"),
        Scratch.dir("land")).orderBy("y", "m", "d", "h")),
    "q_time_bucket" -> ((s, d) => Events.timeBucketCounts(events(s, d))),
    "q_anomaly_mad" -> ((s, d) => Events.anomalyMad(events(s, d))),
    "q_session_paths" -> ((s, d) => Events.sessionPaths(events(s, d))),
    "q_bucket_first_last" -> ((s, d) => Events.bucketFirstLast(events(s, d))),
    "q_dedup_exact" -> ((s, d) =>
      Landing.dedup(events(s, d).select("user_id", "event_type"),
                    Seq("user_id", "event_type"))
        .orderBy("user_id", "event_type")),
    "q_props_json" -> ((s, d) => Events.propsKDeciles(events(s, d))),
    "q_data_quality" -> ((s, d) => Events.dataQuality(events(s, d))),
    "q_quarantine" -> ((s, d) => Events.quarantineCensus(events(s, d))),
    "q_asof_join" -> ((s, d) => Events.asofPurchaseView(events(s, d))),
    "q_asof_tolerance" -> ((s, d) => Events.asofPurchaseViewTolerance(events(s, d), 30)),
    "q_asof_forward" -> ((s, d) => Events.asofPurchaseNextView(events(s, d))),
    "q_sessionize" -> ((s, d) => Events.sessionize(events(s, d), 30)),
    "q_attribution" -> ((s, d) => Events.lastTouchAttribution(events(s, d))),
    "q_attribution_position" ->
      ((s, d) => Events.positionAttribution(events(s, d))),
    "q_seasonal" -> ((s, d) => Events.seasonalDecompose(events(s, d))),
    "q_cusum" -> ((s, d) => Events.cusumChangepoint(events(s, d))),
    "q_forecast_naive" -> ((s, d) => Events.forecastNaive(events(s, d))),
    "q_conformal" -> ((s, d) => Events.conformalForecast(events(s, d))),
    "q_stream_conformal" ->
      ((s, d) => streaming.StreamOps.streamConformal(s, d)),
    "q_stream_forecast" -> ((s, d) => streaming.StreamOps.streamForecast(s, d)),
    "q_forget" -> ((s, d) => Landing.forgetUsers(events(s, d))),
    "q_stream_forget" -> ((s, d) => streaming.StreamOps.streamForget(s, d)),
    "q_scd2" -> ((s, d) => Events.scd2(events(s, d))),
    "q_scd2_lookup" -> ((s, d) => Events.scd2Lookup(events(s, d))),
    "q_resample_ffill" -> ((s, d) => Events.resampleFfill(events(s, d))),
    "q_resample_interp" -> ((s, d) => Events.resampleInterp(events(s, d))),
    "q_rolling_features" -> ((s, d) => Events.rollingFeatures(events(s, d))),
    "q_winsorize" -> ((s, d) => Events.winsorize(events(s, d))),
    "q_ewma" -> ((s, d) => Events.ewmaSmooth(events(s, d))),
    "q_mv_merge" -> ((s, d) => Events.mvIncremental(s, events(s, d))),
    "q_stream_mv" -> ((s, d) => streaming.StreamOps.streamMv(s, d)),
    "q_mv_retract" -> ((s, d) => Events.mvRetract(events(s, d))),
    "q_stream_mv_retract" -> ((s, d) =>
      streaming.StreamOps.streamMvRetract(s, d)),
    "q_skew_audit" -> ((s, d) => Events.skewAudit(events(s, d))),
    "q_period_over_period" -> ((s, d) =>
      Events.periodOverPeriod(events(s, d))),
    // --- A/B experimentation (the clickstream domain's read-out) ---
    "q_ab_metrics" -> ((s, d) => Experiment.abMetrics(events(s, d))),
    "q_stream_ab" -> ((s, d) => streaming.StreamOps.streamAb(s, d)),
    "q_srm_check" -> ((s, d) => Experiment.srmCheck(events(s, d))),
    "q_ab_sequential" -> ((s, d) => Experiment.abSequential(events(s, d))),
    "q_benford" -> ((s, d) => Pipeline.benfordAudit(events(s, d))),
    "q_acf" -> ((s, d) => Events.autocorrelation(events(s, d))),
    "q_ab_funnel" -> ((s, d) => Experiment.abFunnel(events(s, d))),
    "q_ab_ratio" -> ((s, d) => Experiment.abRatio(events(s, d))),
    "q_ab_segments" -> ((s, d) => Experiment.abSegments(events(s, d))),
    "q_ab_winsorized" -> ((s, d) => Experiment.abWinsorized(events(s, d))),
    "q_ab_power" -> ((s, d) => Experiment.abPower(events(s, d))),
    "q_ltv_cohort" -> ((s, d) => Events.ltvCohorts(events(s, d))),
    "q_survival_km" -> ((s, d) => Events.survivalKm(events(s, d))),
    "q_stream_ltv" -> ((s, d) => streaming.StreamOps.streamLtv(s, d)),
    "q_stream_mv_join" ->
      ((s, d) => streaming.StreamOps.streamMvJoin(s, d)),
    "q_cuped" -> ((s, d) => Experiment.cuped(events(s, d))),
    "q_bradley_terry" -> ((s, d) => Experiment.bradleyTerry(events(s, d))),
    "q_stream_skew" -> ((s, d) => streaming.StreamOps.streamSkewMonitor(s, d)),
    "q_stream_percentiles" -> ((s, d) =>
      streaming.StreamOps.streamPercentiles(s, d)),
    "q_window_tumbling" -> ((s, d) => Events.tumblingCounts(events(s, d), 6)),
    "q_window_sliding" -> ((s, d) => Events.slidingCounts(events(s, d), 12, 6)),
    "q_sliding_distinct" -> ((s, d) => Events.slidingDistinctUsers(events(s, d), 12, 6)),

    // --- warehouse suite (J1-J3, A6, §2.5-2.7) ---
    "q1_pricing_summary" -> ((s, d) => Warehouse.pricingSummary(lineitem(s, d))),
    "q3_shipping_priority" -> ((s, d) =>
      Warehouse.shippingPriority(customer(s, d), orders(s, d), lineitem(s, d), "BUILDING")),
    "q5_local_supplier" -> ((s, d) =>
      Warehouse.localSupplierRevenue(region(s, d), nation(s, d), customer(s, d),
        orders(s, d), lineitem(s, d), supplier(s, d), "EUROPE")),
    "q_join_left_outer" -> ((s, d) => Warehouse.orderLineHistogram(orders(s, d), lineitem(s, d))),
    "q_join_full_outer" -> ((s, d) => Warehouse.dailyOrderShipCounts(orders(s, d), lineitem(s, d))),
    "q10_returned_revenue" -> ((s, d) =>
      Warehouse.returnedRevenue(customer(s, d), orders(s, d), lineitem(s, d))),
    "q_funnel" -> ((s, d) => Events.funnelCounts(events(s, d))),
    "q_funnel_windowed" -> ((s, d) => Events.funnelWindowedCounts(events(s, d), 24)),
    "q_retention" -> ((s, d) => Events.retentionCohorts(events(s, d))),
    "q14_promo_revenue" -> ((s, d) => Warehouse.promoRevenue(lineitem(s, d), part(s, d))),
    "q12_urgent_lines" -> ((s, d) => Warehouse.urgentLineCounts(orders(s, d), lineitem(s, d))),
    "q_bucketed_join" -> ((s, d) =>
      Warehouse.bucketedOrderRevenue(s, orders(s, d), lineitem(s, d))),
    "q_bloom_prune" -> ((s, d) =>
      Warehouse.bloomPruneJoin(orders(s, d), customer(s, d))),
    "q_zorder_scan" -> ((s, d) => Events.zorderScan(s, events(s, d))),
    "q4_priority_exists" -> ((s, d) =>
      Warehouse.priorityExistsCheck(orders(s, d), lineitem(s, d))),
    "q6_forecast_revenue" -> ((s, d) => Warehouse.forecastRevenue(lineitem(s, d))),
    "q13_count_distribution" -> ((s, d) =>
      Warehouse.orderCountDistribution(customer(s, d), orders(s, d))),
    "q22_dormant_value" -> ((s, d) =>
      Warehouse.dormantValue(customer(s, d), orders(s, d))),
    "q7_volume_shipping" -> ((s, d) =>
      Warehouse.volumeShipping(lineitem(s, d), orders(s, d), customer(s, d),
        supplier(s, d), nation(s, d), region(s, d))),
    "q8_market_share" -> ((s, d) =>
      Warehouse.marketShare(lineitem(s, d), orders(s, d), customer(s, d),
        supplier(s, d), nation(s, d), region(s, d), part(s, d))),
    "q15_top_supplier" -> ((s, d) =>
      Warehouse.topSupplier(lineitem(s, d), supplier(s, d))),
    "q17_small_qty" -> ((s, d) => Warehouse.smallQtyRevenue(lineitem(s, d))),
    "q19_brand_promo" -> ((s, d) => Warehouse.brandPromoRevenue(lineitem(s, d), part(s, d))),
    "q18_large_orders" -> ((s, d) => Warehouse.largeOrders(orders(s, d), lineitem(s, d), 250)),
    "q_exists_returns" -> ((s, d) =>
      Warehouse.customersWithReturns(customer(s, d), orders(s, d), lineitem(s, d))),
    "q_join_semi" -> ((s, d) => Warehouse.customersWithOrders(customer(s, d), orders(s, d))),
    "q_join_anti" -> ((s, d) => Warehouse.customersWithoutOrders(customer(s, d), orders(s, d))),
    "q_agg_suite" -> ((s, d) => Warehouse.aggSuite(lineitem(s, d))),
    "q_histogram" -> ((s, d) => Warehouse.valueHistogram(lineitem(s, d))),
    "q_rollup" -> ((s, d) => Warehouse.rollupAcctBal(region(s, d), nation(s, d), customer(s, d))),
    "q_cube" -> ((s, d) => Warehouse.cubeOrders(orders(s, d))),
    "q_grouping_sets" -> ((s, d) => Warehouse.orderGroupingSets(orders(s, d))),
    "q_pivot" -> ((s, d) => Warehouse.statusPriorityPivot(orders(s, d))),
    "q_unpivot" -> ((s, d) => Warehouse.unpivotMetrics(lineitem(s, d))),
    "q_window_topk" -> ((s, d) => Warehouse.topOrdersPerPriority(orders(s, d), 3)),
    "q_window_ranks" -> ((s, d) => Warehouse.orderValueRanks(orders(s, d), 5)),
    "q_window_lag" -> ((s, d) => Warehouse.userEventGaps(events(s, d))),
    "q_window_running" -> ((s, d) => Warehouse.runningValue(events(s, d))),
    "q_window_range" -> ((s, d) => Warehouse.trailingHourValue(events(s, d))),
    "q_topk_global" -> ((s, d) => Warehouse.topOrders(orders(s, d), 100)),
    "q_set_ops" -> ((s, d) => Warehouse.setOpsSummary(customer(s, d), orders(s, d))),
    "q_distinct_agg" -> ((s, d) => Warehouse.distinctBuyers(orders(s, d))),
    // bounded-pass audit forms (round 15): the sketch estimates are
    // engine-specific, so the oracled output carries the exact value +
    // an in_bound flag the DuckDB oracle asserts — the documented error
    // bound is enforced by the hash gate, not just scalatest
    "q_approx_distinct" -> ((s, d) => Warehouse.approxDistinctAudit(orders(s, d))),
    "q_approx_percentiles" -> ((s, d) => Warehouse.approxPercentilesAudit(orders(s, d))),

    // --- text analysis on documents (F9, north-star) ---
    "q_text_terms" -> ((s, d) => TextAnalysis.termStats(documents(s, d), 5)),
    "q_text_tfidf" -> ((s, d) => TextAnalysis.tfidf(documents(s, d), 5)),
    "q_text_quality" -> ((s, d) => TextAnalysis.qualityScore(documents(s, d))),
    "q_quality_topfrac" -> ((s, d) =>
      TextAnalysis.qualityTopFraction(documents(s, d))),
    "q_text_langid" -> ((s, d) => TextAnalysis.langId(documents(s, d))),
    "q_text_tokens" -> ((s, d) => TextAnalysis.tokenCounts(documents(s, d))),
    "q_keywords" -> ((s, d) => TextAnalysis.keywords(documents(s, d))),
    "q_token_fertility" -> ((s, d) => TextAnalysis.tokenFertility(documents(s, d))),
    "q_doc_fingerprint" -> ((s, d) => TextAnalysis.fingerprints(documents(s, d))),
    "q_hash_split" -> ((s, d) => TextAnalysis.hashSplit(documents(s, d))),
    "q_pipeline_e2e" -> ((s, d) => Pipeline.e2e(documents(s, d), 0.5)),
    "q_pipeline_curate" -> ((s, d) => Pipeline.curate(documents(s, d), 0.08)),
    // census and manifest share one memoized pretrainPacked chain per
    // process (pretrainEmit's device) — whichever runs first pays it
    "q_pipeline_pretrain" -> ((s, d) => Pipeline.censusFromPacked(
      Pipeline.pretrainPackedCached(documents(s, d), d))),
    "q_pretrain_manifest" -> ((s, d) => Pipeline.manifestFromPacked(
      Pipeline.pretrainPackedCached(documents(s, d), d), 2048L)),
    "q_seq_packing" -> ((s, d) => TextAnalysis.sequencePacking(documents(s, d), 2048L)),
    "q_span_corrupt" -> ((s, d) => TextAnalysis.spanCorruption(documents(s, d))),
    "q_curriculum" -> ((s, d) => TextAnalysis.curriculumSchedule(documents(s, d))),
    "q_denoise_manifest" -> ((s, d) => TextAnalysis.denoiseManifest(documents(s, d))),
    "q_snapshot_diff" -> ((s, d) => Pipeline.snapshotDiff(documents(s, d))),
    "q_dataset_card" -> ((s, d) => Pipeline.datasetCard(documents(s, d))),
    "q_sketch_jaccard" -> ((s, d) => Pipeline.sketchJaccard(documents(s, d))),
    "q_dist_shift" -> ((s, d) => Pipeline.distShift(documents(s, d))),
    "q_stream_drift" -> ((s, d) => streaming.StreamOps.streamDriftMonitor(s, d)),
    "q_chi2" -> ((s, d) => Pipeline.chi2Independence(documents(s, d))),
    "q_stream_chi2" -> ((s, d) => streaming.StreamOps.streamChi2(s, d)),
    "q_profile" -> ((s, d) => Pipeline.profileTable(lineitem(s, d))),
    // exact distinct tier (opt-in, dimension-sized columns): shares
    // q_profile's oracle verbatim
    "q_stream_profile" -> ((s, d) =>
      streaming.StreamOps.streamProfile(s, d, exactDistincts = true)),
    // default sketch tier: mergeable per-column HLL state; oracled in
    // the bounded-pass audit form (exact moments + a per-column
    // in-bound flag the DuckDB oracle asserts)
    "q_stream_profile_sketch" -> ((s, d) =>
      streaming.StreamOps.streamProfileSketchAudit(s, d)),
    "q_kanon" -> ((s, d) => Pipeline.kAnonymityCensus(customer(s, d))),
    "q_stream_kanon" -> ((s, d) => streaming.StreamOps.streamKanon(s, d)),
    "q_ldiv" -> ((s, d) => Pipeline.lDiversityCensus(customer(s, d))),
    "q_ri_audit" -> ((s, d) => Pipeline.riAudit(lineitem(s, d),
      orders(s, d), part(s, d), supplier(s, d), customer(s, d),
      nation(s, d), region(s, d), events(s, d))),
    "q_fd_audit" -> ((s, d) => Pipeline.fdAudit(lineitem(s, d),
      orders(s, d), part(s, d), customer(s, d), nation(s, d),
      documents(s, d))),
    "q_dp_counts" -> ((s, d) => Pipeline.dpCountRelease(events(s, d))),
    // audit = true: the oracle grades the full clamp-audit shape; the
    // operator's DEFAULT emits only the publishable (type, day, released)
    "q_dp_counts_user" ->
      ((s, d) => Pipeline.dpCountReleaseUser(events(s, d), audit = true)),
    "q_stream_dp" -> ((s, d) => streaming.StreamOps.streamDpRelease(s, d)),
    "q_stream_ri" -> ((s, d) => streaming.StreamOps.streamRiMonitor(s, d)),
    "q_epoch_shuffle" -> ((s, d) => TextAnalysis.epochShuffle(documents(s, d))),
    "q_crossmodal_search" -> ((s, d) =>
      Multimodal.crossModalSearch(documents(s, d), embeddings(s, d))),
    "q_crossmodal_ivfpq" -> ((s, d) => Multimodal.crossModalIvfPq(s, d)),
    "q_pii_redact" -> ((s, d) => TextAnalysis.piiRedactCensus(documents(s, d))),
    "q_bottomk_sample" -> ((s, d) => TextAnalysis.bottomKSample(documents(s, d))),
    "q_weighted_sample" -> ((s, d) => TextAnalysis.weightedSample(documents(s, d))),
    "q_kfold" -> ((s, d) => TextAnalysis.kfoldAssign(documents(s, d))),
    "q_token_entropy" -> ((s, d) => TextAnalysis.tokenEntropy(documents(s, d))),
    "q_label_prop" -> ((s, d) => TextAnalysis.labelPropagation(documents(s, d))),
    "q_stream_pii" -> ((s, d) => streaming.StreamOps.streamPiiCensus(s, d)),
    "q_stream_bottomk" -> ((s, d) => streaming.StreamOps.streamBottomK(s, d)),

    // --- similarity search on embeddings (J5/F10, north-star) ---
    "q_similarity_topk" -> ((s, d) => Similarity.bruteForceTopK(embeddings(s, d), 20, 10)),
    "q_binary_quant" -> ((s, d) => Similarity.binaryQuantize(embeddings(s, d))),
    "q_hamming_search" -> ((s, d) => Similarity.hammingRerankSearch(embeddings(s, d))),
    "q_binary_saved" -> ((s, d) => Similarity.binarySavedRoundtrip(s, d)),
    "q_stream_binary_fresh" ->
      ((s, d) => streaming.StreamOps.streamBinaryFresh(s, d)),
    "q_matryoshka_search" -> ((s, d) => Similarity.matryoshkaSearch(embeddings(s, d))),
    "q_ann_lsh" -> ((s, d) => Similarity.lshAnnTopK(embeddings(s, d), 4, 8, 10)),
    "q_similarity_join" -> ((s, d) => Similarity.cosineJoinBlocked(embeddings(s, d), 0.3)),
    "q_centroids" -> ((s, d) => Similarity.labelCentroids(embeddings(s, d))),
    "q_ivf_assign" -> ((s, d) => Similarity.ivfAssign(embeddings(s, d))),
    "q_cluster_sample" -> ((s, d) =>
      Similarity.clusterBalancedSample(embeddings(s, d))),
    "q_coreset_fps" -> ((s, d) => Similarity.coresetFps(embeddings(s, d), 8)),
    "q_coreset_cover" -> ((s, d) => Similarity.coresetCover(embeddings(s, d), 8)),
    "q_entity_resolve" -> ((s, d) => EntityResolution.resolveParts(part(s, d))),
    "q_entity_canonical" -> ((s, d) => EntityResolution.canonicalParts(part(s, d))),
    "q_ivf_search" -> ((s, d) => Similarity.ivfSearch(embeddings(s, d), 20, 10)),
    "q_ivf_search_n2" -> ((s, d) => Similarity.ivfSearch(embeddings(s, d), 20, 10, nprobe = 2)),
    "q_kmeans_step" -> ((s, d) => Similarity.kmeansStep(embeddings(s, d))),
    "q_kmeans_train" -> ((s, d) => Similarity.kmeansTrain(embeddings(s, d), 3)),
    "q_pca_embed" -> ((s, d) => Similarity.pcaPower(embeddings(s, d), 3)),
    "q_pq_encode" -> ((s, d) => Similarity.pqEncode(embeddings(s, d))),
    "q_pq_search" -> ((s, d) => Similarity.pqSearch(embeddings(s, d), 20, 10)),
    "q_ann_rerank" -> ((s, d) => Similarity.pqRerankSearch(embeddings(s, d), 20, 10, 30)),
    "q_embed_quantize" -> ((s, d) => Similarity.sq8Quantize(embeddings(s, d))),
    "q_sq_search" -> ((s, d) => Similarity.sq8Search(embeddings(s, d), 20, 10)),
    "q_pq_search_trained" -> ((s, d) =>
      Similarity.pqSearch(embeddings(s, d), 20, 10, trainIters = 2)),
    "q_ivf_search_trained" -> ((s, d) =>
      Similarity.ivfSearch(embeddings(s, d), 20, 10, nprobe = 1, trainIters = 2)),
    "q_ivfpq_search" -> ((s, d) =>
      Similarity.ivfPqSearch(embeddings(s, d), 20, 10, nprobe = 2, trainIters = 2)),
    "q_ann_recall_lifecycle" -> ((s, d) => Similarity.annRecallLifecycle(s, d)),
    "q_ann_recall" -> ((s, d) =>
      Similarity.annRecall(embeddings(s, d), 20, 10, nprobe = 2, trainIters = 2)),
    "q_ivfpq_tune" -> ((s, d) => Similarity.ivfPqTuneCensus(embeddings(s, d))),
    "q_ivfpq_rerank" -> ((s, d) =>
      Similarity.ivfPqRerankSearch(embeddings(s, d), 20, 10, m = 30, nprobe = 2, trainIters = 2)),
    "q_ivfpq_residual" -> ((s, d) =>
      Similarity.ivfPqResidualSearch(embeddings(s, d), 20, 10, nprobe = 2, trainIters = 2)),
    "q_rag_e2e" -> ((s, d) => Similarity.ragRetrieve(documents(s, d))),
    "q_doc_embed" -> ((s, d) => Similarity.docEmbeddings(documents(s, d))),
    "q_doc_search" -> ((s, d) => Similarity.docSearch(documents(s, d))),
    "q_doc_ivfpq" -> ((s, d) => Similarity.docIvfPqRoundtrip(s, d)),
    "q_doc_topics" -> ((s, d) => Similarity.docTopics(documents(s, d))),
    "q_bm25_topk" -> ((s, d) => TextAnalysis.bm25TopK(documents(s, d))),
    "q_phrase_topk" -> ((s, d) => TextAnalysis.phraseTopK(documents(s, d))),
    "q_phrase_saved" -> ((s, d) =>
      TextAnalysis.phraseSavedRoundtrip(s, documents(s, d))),
    "q_hybrid_rrf" -> ((s, d) => Similarity.hybridRrf(documents(s, d))),
    "q_diverse_topk" -> ((s, d) => Similarity.diverseTopK(documents(s, d))),
    "q_hybrid_wsum" -> ((s, d) => Similarity.hybridWeighted(documents(s, d))),
    "q_retrieval_eval" -> ((s, d) =>
      Similarity.retrievalEval(documents(s, d), corpusKey = Some(d))),
    "q_retrieval_ndcg" -> ((s, d) =>
      Similarity.retrievalNdcg(documents(s, d), corpusKey = Some(d))),
    "q_hard_negatives" -> ((s, d) => Similarity.hardNegatives(documents(s, d))),
    "q_mmr_topk" -> ((s, d) => Similarity.mmrTopK(documents(s, d))),
    "q_ql_dirichlet" -> ((s, d) => TextAnalysis.qlDirichletTopK(documents(s, d))),
    "q_ce_rerank" -> ((s, d) => Similarity.ceRerank(documents(s, d))),
    "q_maxsim_rerank" -> ((s, d) => Similarity.maxSimRerank(documents(s, d))),
    "q_snippets" -> ((s, d) => TextAnalysis.snippets(documents(s, d))),
    "q_ql_saved" -> ((s, d) =>
      TextAnalysis.qlSavedRoundtrip(s, documents(s, d))),
    "q_hybrid_3way" -> ((s, d) => Similarity.hybridRrf3(documents(s, d))),
    "q_bm25_saved" -> ((s, d) =>
      TextAnalysis.bm25SavedRoundtrip(s, documents(s, d))),
    "q_hybrid_saved" -> ((s, d) =>
      Similarity.hybridSavedRoundtrip(s, documents(s, d))),
    "q_stream_bm25_fresh" -> ((s, d) =>
      graft.streaming.StreamOps.streamBm25Fresh(s, d)),
    "q_stream_scd2" -> ((s, d) => graft.streaming.StreamOps.streamScd2(s, d)),
    "q_hybrid_ivfpq" -> ((s, d) => Similarity.hybridIvfPq(s, d)),
    "q_bm25_prf" -> ((s, d) => TextAnalysis.bm25Prf(documents(s, d))),
    "q_rag_saved" -> ((s, d) => Similarity.ragSavedRoundtrip(documents(s, d))),
    "q_ivfpq_saved" -> ((s, d) => Similarity.ivfPqSavedRoundtrip(s, d)),
    "q_ivfpq_append" -> ((s, d) => Similarity.ivfPqAppendRoundtrip(s, d)),
    "q_ivfpq_delete" -> ((s, d) => Similarity.ivfPqDeleteRoundtrip(s, d)),
    "q_ivfpq_drift" -> ((s, d) => Similarity.ivfPqDriftRoundtrip(s, d)),
    "q_ivfpq_retrain" -> ((s, d) => Similarity.ivfPqRetrainRoundtrip(s, d)),
    "q_ivfpq_saved_rerank" -> ((s, d) => Similarity.ivfPqSavedRerankRoundtrip(s, d)),
    "q_ivfpq_saved_filtered" -> ((s, d) => Similarity.ivfPqSavedFilteredRoundtrip(s, d)),
    "q_rag_docs" -> ((s, d) => Similarity.ragDocRetrieve(documents(s, d))),
    "q_rag_saved_docs" -> ((s, d) => Similarity.ragSavedDocRetrieve(documents(s, d))),
    "q_ivf_search_filtered" -> ((s, d) =>
      Similarity.ivfSearchFiltered(embeddings(s, d), 20, 10,
        org.apache.spark.sql.functions.col("label") % 2 === 0)),
    "q_semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedup(embeddings(s, d), 0.3, trainIters = 2)),
    "q_decontam_semantic" -> ((s, d) =>
      Similarity.semanticDecontam(embeddings(s, d), 0.3, trainIters = 2)),
    "q_ts_parse" -> ((s, d) => Events.tsParseRoundtrip(events(s, d))),
    "q_salted_agg" -> ((s, d) => Events.saltedTypeRevenue(events(s, d), 16)),
    "q_csv_roundtrip" -> ((s, d) => sources.Formats.csvRoundtrip(events(s, d))),
    "q_xml_roundtrip" -> ((s, d) => sources.Formats.xmlRoundtrip(events(s, d))),
    "q_orc_roundtrip" -> ((s, d) => sources.Formats.orcRoundtrip(events(s, d))),
    "q_schema_evolution" -> ((s, d) => sources.Formats.schemaEvolutionCensus(events(s, d))),
    "q_stream_quarantine" -> ((s, d) => streaming.StreamOps.streamQuarantine(s, d)),
    "q_range_join" -> ((s, d) => Events.rangeJoinCounts(events(s, d))),
    "q_json_roundtrip" -> ((s, d) => Events.jsonRoundtrip(events(s, d))),
    "q_redact" -> ((s, d) => Events.redactionStats(events(s, d))),

    // --- near-duplicate detection on documents (north-star dedup) ---
    "q_neardup_jaccard" -> ((s, d) => NearDup.jaccardPairs(documents(s, d), 3, 0.5, 100)),
    "q_neardup_minhash" -> ((s, d) => NearDup.minhashPairs(documents(s, d), 3, 0.5, 100)),
    "q_minhash_estimate" -> ((s, d) => NearDup.minhashEstimates(documents(s, d), 3, 0.5, 100)),
    "q_dedup_simhash" -> ((s, d) => NearDup.simhash(documents(s, d))),
    "q_neardup_simhash" -> ((s, d) => NearDup.simhashPairs(documents(s, d), 3)),
    "q_neardup_components" -> ((s, d) => NearDup.duplicateComponents(documents(s, d), 3)),
    "q_cluster_best" -> ((s, d) => NearDup.clusterRepresentatives(documents(s, d), 3)),
    "q_vocab_coverage" -> ((s, d) => TextAnalysis.vocabCoverage(documents(s, d), 100)),
    "q_neardup_edit" -> ((s, d) => NearDup.editDistancePairs(documents(s, d), 50)),
    "q_substr_dedup" -> ((s, d) => NearDup.substringDedup(documents(s, d), 5)),
    "q_chunk_overlap" -> ((s, d) => TextAnalysis.chunkDocuments(documents(s, d), 64, 48)),
    "q_chunk_dedup" -> ((s, d) => TextAnalysis.chunkDedup(documents(s, d), 64, 48)),
    "q_stratified_sample" -> ((s, d) => TextAnalysis.stratifiedSample(documents(s, d))),
    "q_split_leakage" -> ((s, d) => NearDup.leakageSafeSplit(documents(s, d))),
    "q_decontam" -> ((s, d) => TextAnalysis.decontamination(documents(s, d), 5, 100)),
    "q_decontam_frac" -> ((s, d) =>
      TextAnalysis.decontaminationFraction(documents(s, d), 5, 100, 0.2)),
    "q_vocab" -> ((s, d) => TextAnalysis.vocabulary(documents(s, d), 100)),
    "q_repetition" -> ((s, d) => TextAnalysis.repetitionSignals(documents(s, d))),
    "q_gopher_rules" -> ((s, d) => TextAnalysis.gopherRules(documents(s, d))),
    "q_bpe_merges" -> ((s, d) => TextAnalysis.bpeMerges(documents(s, d), 8)),
    "q_bpe_vocab" -> ((s, d) => TextAnalysis.bpeVocab(documents(s, d), 8)),
    "q_bpe_token_count" -> ((s, d) => TextAnalysis.bpeTokenCount(documents(s, d), 8)),
    "q_bpe_apply" -> ((s, d) => TextAnalysis.bpeApply(documents(s, d), 8)),
    "q_bigram_lm" -> ((s, d) => TextAnalysis.bigramLm(documents(s, d), 5)),
    // model-based curation: train-on-corpus, score-corpus filters
    "q_lm_perplexity" -> ((s, d) => TextAnalysis.lmPerplexity(documents(s, d))),
    "q_nb_quality" -> ((s, d) => TextAnalysis.nbQuality(documents(s, d))),
    "q_nb_eval" -> ((s, d) => TextAnalysis.nbQualityEval(documents(s, d))),
    "q_nb_calibration" -> ((s, d) => TextAnalysis.nbCalibration(documents(s, d))),
    "q_pmi_pairs" -> ((s, d) => TextAnalysis.pmiPairs(documents(s, d))),
    "q_pagerank_terms" -> ((s, d) => TextAnalysis.pagerankTerms(documents(s, d))),
    "q_bfs_hops" -> ((s, d) => TextAnalysis.bfsHops(documents(s, d))),
    "q_triangles" -> ((s, d) => TextAnalysis.triangleCensus(documents(s, d))),
    "q_dsir_weights" -> ((s, d) => TextAnalysis.dsirWeights(documents(s, d))),
    "q_mixture" -> ((s, d) => TextAnalysis.mixtureSample(documents(s, d))),
    "q_mixture_temp" -> ((s, d) =>
      TextAnalysis.mixtureTemperature(documents(s, d))),
    // the SQL surface of the custom codegen'd expressions (§2.10): the
    // simhash fingerprint query written in spark.sql against the
    // registered simhash60 function — same result (and oracle) as the
    // Column-API q_dedup_simhash, proving the registered SQL path end-to-end
    "q_simhash_sql" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      documents(s, d).createOrReplaceTempView("graft_documents_sqlv")
      s.sql("""
        SELECT doc_id, CAST(size(toks) AS BIGINT) AS n_tokens,
               simhash60(transform(toks,
                 t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))) AS simhash
        FROM (SELECT doc_id,
                filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
              FROM graft_documents_sqlv)
        ORDER BY doc_id""")
    }),
    "q_cms_heavy" -> ((s, d) =>
      graft.functions.CountMin.cmsTermCounts(documents(s, d), cmsProbes)),

    // --- streaming (S1/S3/S5/S6, T1-T5, T8): full pipelines executed via
    // Trigger.AvailableNow, results oracle-checked like any batch query ---
    "q_stream_land" -> ((s, d) => streaming.StreamOps.streamLandCounts(s, d)),
    "q_stream_land_dsv2" -> ((s, d) => streaming.StreamOps.streamLandCountsShards(s, d)),
    "q_land_upsert" -> ((s, d) => streaming.StreamOps.streamLandUpsert(s, d)),
    "q_stream_histdedup" -> ((s, d) => streaming.StreamOps.streamHistDedup(s, d)),
    "q_stream_chunks" -> ((s, d) => streaming.StreamOps.streamChunks(s, d)),
    "q_stream_chunk_upsert" -> ((s, d) => streaming.StreamOps.streamChunkUpsert(s, d)),
    "q_stream_chunk_embed" -> ((s, d) => streaming.StreamOps.streamChunkEmbed(s, d)),
    "q_stream_index_append" -> ((s, d) => streaming.StreamOps.streamIndexUpsert(s, d)),
    "q_stream_rag_fresh" -> ((s, d) => streaming.StreamOps.streamRagFresh(s, d)),
    "q_stream_doc_fresh" -> ((s, d) => streaming.StreamOps.streamDocFresh(s, d)),
    "q_stream_sq8" -> ((s, d) => streaming.StreamOps.streamSq8(s, d)),
    "q_stream_cms" -> ((s, d) => streaming.StreamOps.streamCmsHeavy(s, d, cmsProbes)),
    "q_stream_anomaly" -> ((s, d) => streaming.StreamOps.streamAnomalyMad(s, d)),
    "q_stream_phrase_fresh" -> ((s, d) =>
      streaming.StreamOps.streamPhraseFresh(s, d)),
    "q_stream_neardedup" -> ((s, d) => streaming.StreamOps.streamNearDedup(s, d)),
    "q_stream_entity" -> ((s, d) => streaming.StreamOps.streamEntityResolve(s, d)),
    "q_stream_ivf_assign" -> ((s, d) => streaming.StreamOps.streamIvfAssign(s, d)),
    "q_stream_tumbling" -> ((s, d) => streaming.StreamOps.streamTumblingCounts(s, d, 6)),
    "q_stream_sliding" -> ((s, d) => streaming.StreamOps.streamSlidingCounts(s, d, 12, 6)),
    // bounded-pass audit form: the streamed HLL++ estimate is checked
    // against the exact batch twin IN the oracle (in_bound flag)
    "q_stream_sliding_distinct" -> ((s, d) =>
      streaming.StreamOps.streamSlidingDistinctAudit(s, d, 12, 6)),
    "q_stream_ssjoin" -> ((s, d) => streaming.StreamOps.streamIntervalJoin(s, d)),
    "q_stream_ssjoin_outer" -> ((s, d) =>
      streaming.StreamOps.streamIntervalJoinOuter(s, d)),
    "q_stream_ssjoin_full" -> ((s, d) =>
      streaming.StreamOps.streamIntervalJoinOuter(s, d, "fullOuter")),
    "q_stream_session" -> ((s, d) => streaming.StreamOps.streamSessionize(s, d, 30)),
    "q_stream_session_dyn" -> ((s, d) =>
      streaming.StreamOps.streamSessionizeDynamic(s, d)),
    "q_stream_state" -> ((s, d) => streaming.StreamOps.streamUserState(s, d)),
    "q_stream_flatstate" -> ((s, d) => streaming.StreamOps.streamTypeCounts(s, d)),
    "q_stream_segjoin" -> ((s, d) => streaming.StreamOps.streamSegmentRevenue(s, d)),
    "q_land_compact" -> ((s, d) =>
      Landing.landCompactCycle(events(s, d), col("ts"), Seq("event_id"))),
    "q_percentiles" -> ((s, d) => Warehouse.pricePercentiles(orders(s, d))),

    // --- multimodal plumbing (north-star; stub decode, real plumbing) ---
    "q_multimodal_resize" -> ((s, d) =>
      operators.Multimodal.resizeSample(
        operators.Multimodal.mediaFromDocuments(documents(s, d)), 256)),
    "q_multimodal_features" -> ((s, d) =>
      Multimodal.extractFeatures(Multimodal.mediaFromDocuments(documents(s, d)))),
    "q_multimodal_decode" -> ((s, d) =>
      Multimodal.decodeImages(Multimodal.imageMedia(documents(s, d)))),
    "q_multimodal_audio" -> ((s, d) =>
      Multimodal.decodeAudio(Multimodal.audioMedia(documents(s, d)))),
    "q_multimodal_frames" -> ((s, d) =>
      Multimodal.frameCensus(Multimodal.mediaFromDocuments(documents(s, d)), 4, 16)),

    // --- nested schema / flatten / scalar fns (P3, F6, F7, F8) ---
    "q_flatten_nested" -> ((s, d) => Events.flattenedEvents(events(s, d))),
    "q_login_status" -> ((s, d) => Events.loginStatusStats(events(s, d))),
    "q_query_string_map" -> ((s, d) => Events.queryStringStats(events(s, d))),
    "q_array_ops" -> ((s, d) => Events.arrayOpsSummary(events(s, d))),
  )

  /** PRODUCTION-PLAN substitutes for Bench — the principle: BENCH PRICES
    * THE PLAN A DEPLOYMENT RUNS, VERIFY PRICES THE GATE. The four
    * bounded-pass sketch queries' DECLARED forms bundle the correctness
    * gate's EXACT twin (the audit column DuckDB asserts), so timing the
    * declared form charges the gate's cost to the production operator —
    * BENCH_r15 priced q_stream_profile_sketch at 16.8 s, 9.4 s of which
    * was the audit's batch profileTable twin, a 2.2x phantom regression
    * on an unchanged plan. Bench times THESE estimate-only forms (each
    * one the documented "production reads ..." twin of its audit);
    * Verify keeps the audit forms as the oracle gate. Queries absent
    * here bench their declared form unchanged.
    */
  lazy val benchForms: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_profile_sketch" -> ((s, d) =>
      streaming.StreamOps.streamProfile(s, d)),
    "q_stream_sliding_distinct" -> ((s, d) =>
      streaming.StreamOps.streamSlidingDistinct(s, d, 12, 6)),
    "q_approx_distinct" -> ((s, d) =>
      Warehouse.approxDistinctBuyers(orders(s, d))),
    "q_approx_percentiles" -> ((s, d) =>
      Warehouse.approxPricePercentiles(orders(s, d))),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q_land_partitioned" ->
      """SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d, hour(ts) AS h,
        |       count(DISTINCT event_id) AS n_events
        |FROM events GROUP BY 1,2,3,4 ORDER BY y, m, d, h""".stripMargin,
    "q_time_bucket" ->
      """SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d, hour(ts) AS h,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1,2,3,4 ORDER BY y, m, d, h""".stripMargin,
    // robust rate anomaly: per-(type, hour) counts scored by median/MAD
    // z-score — medians interpolate on the integer/0.5 grid (IEEE-exact
    // both engines), rz through the quant6 law, top-3 per type
    "q_anomaly_mad" -> anomalyMadOracleSql,
    // Markov transition census: user-led lead() pairs within the 30-min
    // session gap, conditional p through the quant6 law, global top-20
    "q_session_paths" ->
      """WITH spb AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_ts
        |  FROM events),
        |spt AS (
        |  SELECT event_type AS from_type, to_type FROM spb
        |  WHERE to_type IS NOT NULL
        |    AND epoch_us(to_ts) - epoch_us(ts) <= 1800000000),
        |spc AS (SELECT from_type, to_type, count(*) AS n_trans
        |        FROM spt GROUP BY 1,2),
        |spf AS (SELECT from_type, sum(n_trans) AS n_from FROM spc GROUP BY 1),
        |spr AS (
        |  SELECT c.from_type, c.to_type, c.n_trans,
        |    floor(CAST(c.n_trans AS DOUBLE) / CAST(f.n_from AS DOUBLE)
        |          * 1000000.0 + 0.5) / 1000000.0 AS p,
        |    row_number() OVER (ORDER BY c.n_trans DESC, c.from_type, c.to_type) AS rk
        |  FROM spc c JOIN spf f USING (from_type))
        |SELECT CAST(rk AS BIGINT) AS pair_rank, from_type, to_type,
        |       CAST(n_trans AS BIGINT) AS n_trans, round(p, 6) AS p
        |FROM spr WHERE rk <= 20 ORDER BY pair_rank""".stripMargin,
    // per-batch bucket counts merge additively, so the drained stream
    // census is bit-identical to the batch bucketing — oracle shared
    // verbatim (the q_cms device)
    "q_stream_anomaly" -> anomalyMadOracleSql,
    "q_bucket_first_last" ->
      """SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d, hour(ts) AS h,
        |       min(event_id) AS first_event_id, max(event_id) AS last_event_id,
        |       min(epoch_us(ts)) AS first_ts_us, max(epoch_us(ts)) AS last_ts_us,
        |       count(*) AS n_events
        |FROM events GROUP BY 1,2,3,4 ORDER BY y, m, d, h""".stripMargin,
    "q_dedup_exact" ->
      "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type",
    // Integer-division semantics verified identical cross-engine: Spark
    // DIV (Java long division) and DuckDB 1.0 integer `//` BOTH truncate
    // toward zero (-7 DIV 2 = -7 // 2 = -3), so the decile/day-bucket
    // math here and in q_range_join/q_ts_parse agrees even on negative
    // inputs.
    "q_props_json" ->
      """SELECT CAST(props->>'k' AS BIGINT) // 10 AS k_decile,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1 ORDER BY k_decile""".stripMargin,
    "q_data_quality" ->
      """WITH issues AS (
        |  SELECT event_id, 'value_outlier' AS field_name,
        |         'value above 400' AS issue_details
        |  FROM events WHERE value > 400
        |  UNION ALL
        |  SELECT event_id, 'event_type', 'error event landed in clickstream'
        |  FROM events WHERE event_type = 'error'
        |  UNION ALL
        |  SELECT event_id, 'props', 'props is blank'
        |  FROM events WHERE props IS NULL OR length(props) = 0)
        |SELECT * FROM issues ORDER BY event_id, field_name""".stripMargin,
    // resize plumbing: stride-sampled stand-in payloads (target 256 = 2^8
    // so i*n/256 is exact in doubles), census + content digest
    "q_multimodal_resize" ->
      """WITH img AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents WHERE doc_id % 3 = 0),
        |r AS (
        |  SELECT doc_id, CASE WHEN n <= 256 THEN text
        |    ELSE array_to_string([text[CAST((i*n)//256 AS INT)+1] for i in range(0, 256)], '')
        |    END AS r
        |  FROM img)
        |SELECT 'image' AS media_type, count(*) AS n_docs,
        |       CAST(sum(length(r)) AS BIGINT) AS sum_resized_len,
        |       min(md5(r)) AS min_digest
        |FROM r GROUP BY 1""".stripMargin,
    // full outer: order-day vs ship-day counts, nulls surface both sides
    "q_join_full_outer" ->
      """WITH od AS (SELECT o_orderdate AS day, count(*) AS n_orders FROM orders GROUP BY 1),
        |sd AS (SELECT l_shipdate AS day, count(*) AS n_ships FROM lineitem GROUP BY 1)
        |SELECT strftime(coalesce(od.day, sd.day), '%Y-%m-%d') AS day,
        |       od.n_orders, sd.n_ships
        |FROM od FULL OUTER JOIN sd ON od.day = sd.day
        |ORDER BY day""".stripMargin,
    // quarantine census: corrupt = every 7th event (injected in-plan);
    // parsed rows are exactly the uncorrupted ones (all source props are
    // valid JSON), so the oracle recomputes the split arithmetically
    "q_quarantine" ->
      """SELECT event_type,
        |  CAST(sum(CASE WHEN event_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed,
        |  CAST(sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
        |  CAST(sum(CASE WHEN event_id % 7 <> 0
        |    THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END) AS BIGINT) AS sum_k_parsed
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    // streaming dead-letter split reproduces the same census (the split
    // is deterministic and the sinks partition it losslessly)
    "q_stream_quarantine" ->
      """SELECT event_type,
        |  CAST(sum(CASE WHEN event_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed,
        |  CAST(sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
        |  CAST(sum(CASE WHEN event_id % 7 <> 0
        |    THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END) AS BIGINT) AS sum_k_parsed
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    // mergeSchema census: v1 rows (even ids) carry no value column
    "q_schema_evolution" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_value,
        |  CAST(sum(CASE WHEN event_id % 2 <> 0 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_asof_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |       epoch_us(p.ts) AS purchase_ts_us,
        |       v.event_id AS last_view_id, epoch_us(v.ts) AS last_view_ts_us
        |FROM (SELECT * FROM events WHERE event_type='purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='view') v
        |  ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY purchase_id""".stripMargin,
    // bounded-staleness as-of: matches older than 30 min are nulled
    "q_asof_tolerance" ->
      """WITH a AS (
        |  SELECT p.event_id AS purchase_id, p.user_id,
        |         epoch_us(p.ts) AS purchase_ts_us,
        |         v.event_id AS last_view_id, epoch_us(v.ts) AS last_view_ts_us
        |  FROM (SELECT * FROM events WHERE event_type='purchase') p
        |  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='view') v
        |    ON p.user_id = v.user_id AND v.ts <= p.ts)
        |SELECT purchase_id, user_id, purchase_ts_us,
        |  CASE WHEN last_view_ts_us IS NOT NULL
        |        AND purchase_ts_us - last_view_ts_us <= 1800000000
        |       THEN last_view_id END AS last_view_id,
        |  CASE WHEN last_view_ts_us IS NOT NULL
        |        AND purchase_ts_us - last_view_ts_us <= 1800000000
        |       THEN last_view_ts_us END AS last_view_ts_us
        |FROM a ORDER BY purchase_id""".stripMargin,
    // forward as-of: first view at-or-after each purchase
    "q_asof_forward" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |       epoch_us(p.ts) AS purchase_ts_us,
        |       v.event_id AS next_view_id, epoch_us(v.ts) AS next_view_ts_us
        |FROM (SELECT * FROM events WHERE event_type='purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='view') v
        |  ON p.user_id = v.user_id AND v.ts >= p.ts
        |ORDER BY purchase_id""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |                 THEN 1 ELSE 0 END AS new_session FROM e),
        |numbered AS (
        |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM flagged)
        |SELECT user_id, session_no, min(us) AS session_start_us,
        |       max(us) AS session_end_us, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM numbered GROUP BY 1,2 ORDER BY user_id, session_no""".stripMargin,
    "q_scd2" -> scd2OracleSql,
    // incremental CDC maintenance must equal the one-shot batch build —
    // the drained store shares q_scd2's oracle verbatim
    "q_stream_scd2" -> scd2OracleSql,
    "q_scd2_lookup" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |ch AS (SELECT * FROM e WHERE prev_type IS NULL OR prev_type <> event_type),
        |v AS (
        |  SELECT user_id, event_type AS state,
        |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS version_no,
        |         us AS valid_from_us,
        |         lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to_us
        |  FROM ch),
        |f AS (
        |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS purchase_ts_us,
        |         epoch_us(ts) - 3600000000 AS asof_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT f.purchase_id, f.user_id, f.purchase_ts_us,
        |       v.state AS prior_state, v.version_no AS prior_version_no
        |FROM f LEFT JOIN v
        |  ON f.user_id = v.user_id AND v.valid_from_us <= f.asof_us
        |     AND (v.valid_to_us IS NULL OR v.valid_to_us > f.asof_us)
        |ORDER BY purchase_id""".stripMargin,
    "q_mv_merge" -> mvOracleSql,
    // period-over-period: lag-7 over the day census, NULL baseline
    // when the week-ago day is absent
    "q_period_over_period" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(extract(day FROM ts) AS INT) AS day,
        |         count(*) AS n_events,
        |         sum(CAST(value AS DECIMAL(18,2))) AS sv
        |  FROM events GROUP BY 1,2),
        |lagged AS (
        |  SELECT event_type, day, n_events, sv,
        |         lag(day, 7) OVER (PARTITION BY event_type ORDER BY day)
        |           AS prev_day,
        |         lag(sv, 7) OVER (PARTITION BY event_type ORDER BY day)
        |           AS prev_sv
        |  FROM daily)
        |SELECT event_type, day, n_events, CAST(sv AS DOUBLE) AS sum_value,
        |  CASE WHEN prev_day = day - 7 THEN CAST(prev_sv AS DOUBLE) END
        |    AS prev_sum_value,
        |  round(CASE WHEN prev_day = day - 7
        |        THEN CAST(sv - prev_sv AS DOUBLE)
        |             / CAST(prev_sv AS DOUBLE) * 100.0 END, 6)
        |    AS pct_change
        |FROM lagged ORDER BY event_type, day""".stripMargin,
    // A/B read-out: hash-assigned variants, per-user conversion/revenue,
    // two-proportion z + Welch t (squares quant6'd then DECIMAL-summed;
    // every statistic a fixed IEEE chain mirrored op-for-op)
    "q_ab_metrics" -> abOracleSql,
    // drained per-user partials merge additively into the one-shot
    // per-user frame -> same read-out, oracle shared verbatim
    "q_stream_ab" -> abOracleSql,
    // always-valid sequential monitoring: day-prefix cumulative counts
    // from first-event/first-conversion days, mSPRT Lambda through the
    // quant6 transcendental law (exp arg clamped at 700), p = 1/cummax;
    // tau^2 written as 0.1*0.1 in DOUBLE (1 ulp off the literal 0.01)
    "q_ab_sequential" ->
      """WITH squ AS (
        |  SELECT user_id,
        |    min(strftime(ts, '%Y-%m-%d')) AS first_day,
        |    min(CASE WHEN event_type = 'purchase' AND value >= 150.0
        |        THEN strftime(ts, '%Y-%m-%d') END) AS first_conv_day
        |  FROM events GROUP BY user_id),
        |sqv AS (
        |  SELECT CASE WHEN ('0x' || substr(md5('exp1' || '|' ||
        |             CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT
        |             % 2 = 0
        |         THEN 'control' ELSE 'treatment' END AS variant,
        |         first_day, first_conv_day
        |  FROM squ),
        |sqd AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day FROM events),
        |sqg AS (SELECT day, variant FROM sqd CROSS JOIN
        |          (SELECT 'control' AS variant
        |           UNION ALL SELECT 'treatment')),
        |squn AS (SELECT variant, first_day AS day, count(*) AS n_new_users
        |         FROM sqv GROUP BY 1,2),
        |sqcn AS (SELECT variant, first_conv_day AS day,
        |                count(*) AS n_new_conv
        |         FROM sqv WHERE first_conv_day IS NOT NULL GROUP BY 1,2),
        |sqcum AS (
        |  SELECT g.variant, g.day,
        |    sum(coalesce(u.n_new_users, 0)) OVER (PARTITION BY g.variant
        |      ORDER BY g.day ROWS UNBOUNDED PRECEDING) AS cu,
        |    sum(coalesce(c.n_new_conv, 0)) OVER (PARTITION BY g.variant
        |      ORDER BY g.day ROWS UNBOUNDED PRECEDING) AS cc
        |  FROM sqg g
        |  LEFT JOIN squn u ON u.variant = g.variant AND u.day = g.day
        |  LEFT JOIN sqcn c ON c.variant = g.variant AND c.day = g.day),
        |sqw AS (
        |  SELECT day,
        |    CAST(max(CASE WHEN variant = 'control' THEN cu END) AS BIGINT)
        |      AS n_c,
        |    CAST(max(CASE WHEN variant = 'treatment' THEN cu END) AS BIGINT)
        |      AS n_t,
        |    CAST(max(CASE WHEN variant = 'control' THEN cc END) AS BIGINT)
        |      AS conv_c,
        |    CAST(max(CASE WHEN variant = 'treatment' THEN cc END) AS BIGINT)
        |      AS conv_t
        |  FROM sqcum GROUP BY day),
        |sqx AS (
        |  SELECT day, n_c, n_t, conv_c, conv_t,
        |    CAST(conv_c + conv_t AS DOUBLE)
        |      / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)) AS pp,
        |    CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |      - CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS theta,
        |    CAST(0.1 AS DOUBLE) * CAST(0.1 AS DOUBLE) AS tau2
        |  FROM sqw),
        |sqs AS (
        |  SELECT day, n_c, n_t, conv_c, conv_t,
        |    CASE WHEN n_c > 0 AND n_t > 0 AND pp > 0.0 AND pp < 1.0
        |      THEN floor(theta / sqrt(pp * (1.0 - pp)
        |             * (1.0 / CAST(n_c AS DOUBLE)
        |                + 1.0 / CAST(n_t AS DOUBLE)))
        |           * 1000000.0 + 0.5) / 1000000.0 END AS z,
        |    CASE WHEN n_c > 0 AND n_t > 0 AND pp > 0.0 AND pp < 1.0
        |      THEN floor(sqrt((pp * (1.0 - pp)
        |              * (1.0 / CAST(n_c AS DOUBLE)
        |                 + 1.0 / CAST(n_t AS DOUBLE)))
        |             / ((pp * (1.0 - pp)
        |              * (1.0 / CAST(n_c AS DOUBLE)
        |                 + 1.0 / CAST(n_t AS DOUBLE))) + tau2))
        |        * exp(least(theta * theta * tau2
        |             / (2.0 * (pp * (1.0 - pp)
        |                * (1.0 / CAST(n_c AS DOUBLE)
        |                   + 1.0 / CAST(n_t AS DOUBLE)))
        |               * ((pp * (1.0 - pp)
        |                * (1.0 / CAST(n_c AS DOUBLE)
        |                   + 1.0 / CAST(n_t AS DOUBLE))) + tau2)),
        |             CAST(700.0 AS DOUBLE)))
        |        * 1000000.0 + 0.5) / 1000000.0 END AS lambda
        |  FROM sqx),
        |sqr AS (
        |  SELECT *, max(lambda) OVER (ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS lmax
        |  FROM sqs)
        |SELECT day, n_c, n_t, conv_c, conv_t, z, lambda,
        |  round(least(1.0 / lmax, 1.0), 6) AS p_always_valid,
        |  CAST(least(1.0 / lmax, 1.0) < 0.05 AS INT) AS decided
        |FROM sqr ORDER BY day""".stripMargin,
    // SRM guardrail: chi-square goodness-of-fit of the variant user
    // split against 50/50, flagged at the df=1 95% critical value
    "q_srm_check" ->
      """WITH su AS (SELECT DISTINCT user_id FROM events),
        |sv AS (
        |  SELECT CASE WHEN ('0x' || substr(md5('exp1' || '|' ||
        |             CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT
        |             % 2 = 0
        |         THEN 'control' ELSE 'treatment' END AS variant
        |  FROM su),
        |pv AS (SELECT variant, count(*) AS n_users FROM sv GROUP BY 1),
        |tot AS (SELECT sum(n_users) AS n_total FROM pv),
        |rws AS (
        |  SELECT variant, n_users,
        |    CAST(n_total AS DOUBLE) / 2.0 AS expected,
        |    floor((CAST(n_users AS DOUBLE) - CAST(n_total AS DOUBLE) / 2.0)
        |          * (CAST(n_users AS DOUBLE) - CAST(n_total AS DOUBLE) / 2.0)
        |          / (CAST(n_total AS DOUBLE) / 2.0) * 1000000.0 + 0.5)
        |      / 1000000.0 AS contribution
        |  FROM pv CROSS JOIN tot),
        |chi AS (
        |  SELECT CAST(sum(CAST(contribution AS DECIMAL(18,6))) AS DOUBLE)
        |    AS chi2_total
        |  FROM rws)
        |SELECT variant, CAST(n_users AS BIGINT) AS n_users,
        |  round(expected, 6) AS expected,
        |  round(contribution, 6) AS contribution,
        |  round(chi2_total, 6) AS chi2_total,
        |  CAST(chi2_total > 3.841459 AS INT) AS srm_flag
        |FROM rws CROSS JOIN chi ORDER BY variant""".stripMargin,
    // CUPED: theta = cov(x,y)/var(x) pooled, x̄ and theta quant6'd
    // BEFORE the per-user adjustment, adjusted values re-quantized
    "q_cuped" ->
      """WITH cu0 AS (
        |  SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase'
        |             AND ts < TIMESTAMP '2024-01-16 00:00:00'
        |        THEN CAST(value AS DECIMAL(18,2))
        |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS x0,
        |    sum(CASE WHEN event_type = 'purchase'
        |             AND ts >= TIMESTAMP '2024-01-16 00:00:00'
        |        THEN CAST(value AS DECIMAL(18,2))
        |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS y0
        |  FROM events GROUP BY user_id),
        |cu AS (
        |  SELECT user_id,
        |    CASE WHEN ('0x' || substr(md5('exp1' || '|' ||
        |           CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT
        |           % 2 = 0
        |         THEN 'control' ELSE 'treatment' END AS variant,
        |    CAST(x0 AS DOUBLE) AS x, CAST(y0 AS DOUBLE) AS y
        |  FROM cu0),
        |mom AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(floor(x * y * 1000000.0 + 0.5) / 1000000.0
        |      AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(floor(x * x * 1000000.0 + 0.5) / 1000000.0
        |      AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        |  FROM cu),
        |par AS (
        |  SELECT
        |    floor(sx / CAST(n AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |      AS xbar,
        |    floor((CASE WHEN sxx - sx * sx / CAST(n AS DOUBLE) > 0
        |           THEN (sxy - sx * sy / CAST(n AS DOUBLE))
        |                / (sxx - sx * sx / CAST(n AS DOUBLE))
        |           ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS theta
        |  FROM mom),
        |adj AS (
        |  SELECT variant,
        |    y,
        |    floor((y - theta * (x - xbar)) * 1000000.0 + 0.5) / 1000000.0
        |      AS y_adj,
        |    floor(y * y * 1000000.0 + 0.5) / 1000000.0 AS y_sq,
        |    theta
        |  FROM cu CROSS JOIN par),
        |adj2 AS (
        |  SELECT variant, y, y_adj, y_sq, theta,
        |    floor(y_adj * y_adj * 1000000.0 + 0.5) / 1000000.0 AS ya_sq
        |  FROM adj),
        |agg AS (
        |  SELECT variant, count(*) AS n_users, max(theta) AS th,
        |    CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS syv,
        |    CAST(sum(CAST(y_adj AS DECIMAL(18,6))) AS DOUBLE) AS sya,
        |    CAST(sum(CAST(y_sq AS DECIMAL(38,6))) AS DOUBLE) AS sq,
        |    CAST(sum(CAST(ya_sq AS DECIMAL(38,6))) AS DOUBLE) AS sqa
        |  FROM adj2 GROUP BY variant)
        |SELECT variant, CAST(n_users AS BIGINT) AS n_users,
        |  round(th, 6) AS theta,
        |  round(syv / CAST(n_users AS DOUBLE), 6) AS mean_rev,
        |  round(sya / CAST(n_users AS DOUBLE), 6) AS mean_rev_adj,
        |  round(CASE WHEN n_users > 1
        |        THEN (sq - syv * syv / CAST(n_users AS DOUBLE))
        |        / (CAST(n_users AS DOUBLE) - 1.0) END, 6) AS var_rev,
        |  round(CASE WHEN n_users > 1
        |        THEN (sqa - sya * sya / CAST(n_users AS DOUBLE))
        |        / (CAST(n_users AS DOUBLE) - 1.0) END, 6) AS var_rev_adj,
        |  round(CASE WHEN n_users > 1
        |             AND (sq - syv * syv / CAST(n_users AS DOUBLE))
        |                 / (CAST(n_users AS DOUBLE) - 1.0) > 0.0
        |        THEN 1.0 -
        |    ((sqa - sya * sya / CAST(n_users AS DOUBLE))
        |       / (CAST(n_users AS DOUBLE) - 1.0))
        |    / ((sq - syv * syv / CAST(n_users AS DOUBLE))
        |       / (CAST(n_users AS DOUBLE) - 1.0)) END, 6) AS var_reduction
        |FROM agg ORDER BY variant""".stripMargin,
    // per audited key: group-size census + heavy-key count + skew flag
    "q_skew_audit" -> skewOracleSql,
    // additive key counts: the streaming monitor's drained merge is
    // exactly the batch group table - oracle shared verbatim
    "q_stream_skew" -> skewOracleSql,
    // streaming histogram-quantiles: the fixed-bin estimator is fully
    // deterministic, so the SQL twin recomputes the same binned
    // interpolation from raw events (bin counts are additive - however
    // history was batched, the merged census is this census)
    "q_stream_percentiles" ->
      """WITH b AS (
        |  SELECT event_type,
        |         least(CAST(floor(value / 4.0) AS BIGINT), 127) AS bin,
        |         count(*) AS n
        |  FROM events GROUP BY 1,2),
        |c AS (
        |  SELECT event_type, bin, n,
        |         sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum
        |  FROM b),
        |t AS (SELECT event_type, sum(n) AS n_tot FROM b GROUP BY 1),
        |x AS (
        |  SELECT c.event_type, p.p, c.bin, c.n,
        |         CAST(c.cum - c.n AS DOUBLE) AS cum_before,
        |         p.p * CAST(t.n_tot AS DOUBLE) AS target,
        |         row_number() OVER (PARTITION BY c.event_type, p.p
        |                            ORDER BY c.bin) AS rk
        |  FROM c JOIN t USING (event_type)
        |  CROSS JOIN (VALUES (0.5), (0.95), (0.99)) AS p(p)
        |  WHERE CAST(c.cum AS DOUBLE) >= p.p * CAST(t.n_tot AS DOUBLE))
        |SELECT event_type, p,
        |       round(CAST(bin AS DOUBLE) * 4.0 +
        |             4.0 * (target - cum_before) / CAST(n AS DOUBLE), 6)
        |         AS est
        |FROM x WHERE rk = 1 ORDER BY event_type, p""".stripMargin,
    // retract-stream invariant: signed deltas (insert/retract/reinsert)
    // must land on the one-shot GROUP BY over the CORRECTED history -
    // shared verbatim with the streaming CDC maintainer
    "q_mv_retract" -> mvRetractOracleSql,
    "q_stream_mv_retract" -> mvRetractOracleSql,
    // the streaming maintainer's drained partials must merge to the
    // same view one batch refresh cycle produces — oracle shared
    // verbatim (the q_stream_profile device)
    "q_stream_mv" -> mvOracleSql,
    "q_resample_ffill" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, value FROM events),
        |obs AS (
        |  SELECT user_id, slot, value AS v FROM (
        |    SELECT user_id, us // 3600000000 AS slot, value,
        |           row_number() OVER (PARTITION BY user_id, us // 3600000000
        |                              ORDER BY us DESC, event_id DESC) AS rk
        |    FROM e) WHERE rk = 1),
        |sp AS (SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS slot FROM sp),
        |j AS (SELECT g.user_id, g.slot, o.v FROM grid g
        |      LEFT JOIN obs o ON g.user_id = o.user_id AND g.slot = o.slot)
        |SELECT user_id, slot * 3600000000 AS slot_us,
        |       last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY slot
        |                                        ROWS UNBOUNDED PRECEDING) AS value_ffill,
        |       CAST(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_observed
        |FROM j ORDER BY user_id, slot_us""".stripMargin,
    "q_resample_interp" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, value FROM events),
        |obs AS (
        |  SELECT user_id, slot, value AS v FROM (
        |    SELECT user_id, us // 3600000000 AS slot, value,
        |           row_number() OVER (PARTITION BY user_id, us // 3600000000
        |                              ORDER BY us DESC, event_id DESC) AS rk
        |    FROM e) WHERE rk = 1),
        |sp AS (SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS slot FROM sp),
        |j AS (SELECT g.user_id, g.slot, o.v FROM grid g
        |      LEFT JOIN obs o ON g.user_id = o.user_id AND g.slot = o.slot),
        |wn AS (
        |  SELECT user_id, slot, v,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY slot
        |      ROWS UNBOUNDED PRECEDING) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN slot END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY slot
        |            ROWS UNBOUNDED PRECEDING) AS ps,
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY slot
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN slot END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY slot
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ns
        |  FROM j)
        |SELECT user_id, slot * 3600000000 AS slot_us,
        |       floor((CASE WHEN v IS NOT NULL THEN v
        |              ELSE pv + (nv - pv) * (CAST(slot - ps AS DOUBLE)
        |                                     / CAST(ns - ps AS DOUBLE)) END)
        |             * 1000000.0 + 0.5) / 1000000.0 AS value_interp,
        |       CAST(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_observed
        |FROM wn ORDER BY user_id, slot_us""".stripMargin,
    "q_rolling_features" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, value FROM events),
        |obs AS (
        |  SELECT user_id, slot, value AS v FROM (
        |    SELECT user_id, us // 3600000000 AS slot, value,
        |           row_number() OVER (PARTITION BY user_id, us // 3600000000
        |                              ORDER BY us DESC, event_id DESC) AS rk
        |    FROM e) WHERE rk = 1),
        |sp AS (SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS slot FROM sp),
        |j AS (SELECT g.user_id, g.slot, o.v FROM grid g
        |      LEFT JOIN obs o ON g.user_id = o.user_id AND g.slot = o.slot),
        |g2 AS (
        |  SELECT user_id, slot * 3600000000 AS slot_us,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY slot
        |      ROWS UNBOUNDED PRECEDING) AS value_ffill,
        |    CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS is_observed
        |  FROM j),
        |b AS (SELECT user_id, slot_us,
        |        CAST(floor(value_ffill * 1000000.0 + 0.5) AS BIGINT) AS v_us,
        |        is_observed
        |      FROM g2)
        |SELECT user_id, slot_us,
        |  floor(CAST(sum(v_us) OVER w AS DOUBLE)
        |        / (count(*) OVER w * 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS ma,
        |  CAST(min(v_us) OVER w AS DOUBLE) / 1000000.0 AS min_v,
        |  CAST(max(v_us) OVER w AS DOUBLE) / 1000000.0 AS max_v,
        |  CAST(sum(is_observed) OVER w AS BIGINT) AS n_obs
        |FROM b
        |WINDOW w AS (PARTITION BY user_id ORDER BY slot_us
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, slot_us""".stripMargin,
    "q_winsorize" ->
      """WITH pct AS (
        |  SELECT event_type, quantile_cont(value, 0.05) AS p05,
        |         quantile_cont(value, 0.95) AS p95
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT e.event_type, e.value, p.p05, p.p95,
        |         CASE WHEN e.value < p.p05 THEN p.p05
        |              WHEN e.value > p.p95 THEN p.p95
        |              ELSE e.value END AS clipped
        |  FROM events e JOIN pct p USING (event_type))
        |SELECT event_type, count(*) AS n_events,
        |       CAST(sum(CASE WHEN value < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        |       CAST(sum(CASE WHEN value > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
        |       CAST(sum(CAST(floor(clipped * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |         / 1000000.0 AS sum_clipped,
        |       min(p05) AS p05, min(p95) AS p95
        |FROM c GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_ewma" -> ewmaOracleSql(8),
    // last-touch attribution: user-led sessionization (the q_sessionize
    // gap law), running last non-purchase touch per session, empty
    // preceding frame → 'direct'
    // U-shaped multi-touch: first/last 40%, middles share 20%; the
    // touch-position windows key on the purchase id
    "q_attribution_position" ->
      """WITH pe AS (SELECT user_id, event_id, event_type, value,
        |                   epoch_us(ts) AS us FROM events),
        |psn AS (
        |  SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000
        |                   OR lag(us) OVER w IS NULL
        |            THEN 1 ELSE 0 END AS new_session
        |  FROM pe WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |pses AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM psn),
        |pp AS (SELECT user_id, session_no, event_id AS p_eid, us AS p_us,
        |              value AS p_val
        |       FROM pses WHERE event_type = 'purchase'),
        |pt AS (SELECT user_id AS t_uid, session_no AS t_sno,
        |              event_id AS t_eid, us AS t_us, event_type AS t_type
        |       FROM pses WHERE event_type <> 'purchase'),
        |pj AS (
        |  SELECT pp.p_eid, pp.p_val, pt.t_eid, pt.t_us, pt.t_type
        |  FROM pp LEFT JOIN pt
        |    ON pp.user_id = pt.t_uid AND pp.session_no = pt.t_sno
        |       AND (pt.t_us < pp.p_us
        |            OR (pt.t_us = pp.p_us AND pt.t_eid < pp.p_eid))),
        |pk AS (
        |  SELECT *, row_number() OVER (PARTITION BY p_eid
        |              ORDER BY t_us, t_eid) AS rk,
        |         count(*) OVER (PARTITION BY p_eid) AS n
        |  FROM pj),
        |pc AS (
        |  SELECT coalesce(t_type, 'direct') AS attributed,
        |    CASE WHEN t_eid IS NULL OR n = 1 THEN 1.0
        |         WHEN rk = 1 OR rk = n THEN
        |           CASE WHEN n = 2 THEN 0.5 ELSE 0.4 END
        |         ELSE floor(0.2 / CAST(n - 2 AS DOUBLE) * 1000000.0 + 0.5)
        |              / 1000000.0 END AS credit,
        |    p_val
        |  FROM pk),
        |pcq AS (
        |  SELECT attributed, credit,
        |    floor(credit * p_val * 1000000.0 + 0.5) / 1000000.0 AS credited
        |  FROM pc)
        |SELECT attributed, count(*) AS n_credits,
        |  CAST(sum(CAST(credit AS DECIMAL(18,6))) AS DOUBLE) AS credit_mass,
        |  CAST(sum(CAST(credited AS DECIMAL(18,6))) AS DOUBLE)
        |    AS credited_value
        |FROM pcq GROUP BY 1 ORDER BY attributed""".stripMargin,
    "q_attribution" ->
      """WITH ae AS (SELECT user_id, event_id, event_type, value,
        |                   epoch_us(ts) AS us FROM events),
        |asn AS (
        |  SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000
        |                   OR lag(us) OVER w IS NULL
        |            THEN 1 ELSE 0 END AS new_session
        |  FROM ae WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |ases AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM asn),
        |atrb AS (
        |  SELECT *, last_value(CASE WHEN event_type <> 'purchase'
        |                       THEN event_type END IGNORE NULLS)
        |    OVER (PARTITION BY user_id, session_no ORDER BY us, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM ases)
        |SELECT coalesce(touch, 'direct') AS attributed,
        |       count(*) AS n_purchases,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |         AS attributed_value
        |FROM atrb WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY attributed""".stripMargin,
    // seasonal decomposition: hour-of-day means (quant6 — they feed the
    // residuals), squared residuals quantized then DECIMAL-summed
    "q_seasonal" ->
      """WITH sb AS (
        |  SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hod, value
        |  FROM events),
        |sm AS (
        |  SELECT event_type, hod, count(*) AS n_events,
        |    floor(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |          * 1000000.0 + 0.5) / 1000000.0 AS seasonal_mean
        |  FROM sb GROUP BY 1,2)
        |SELECT b.event_type, b.hod, CAST(min(s.n_events) AS BIGINT) AS n_events,
        |  min(s.seasonal_mean) AS seasonal_mean,
        |  round(CAST(sum(CAST(floor((b.value - s.seasonal_mean)
        |          * (b.value - s.seasonal_mean) * 1000000.0 + 0.5)
        |          / 1000000.0 AS DECIMAL(18,6))) AS DOUBLE)
        |        / min(s.n_events), 6) AS resid_var
        |FROM sb b JOIN sm s USING (event_type, hod)
        |GROUP BY 1,2 ORDER BY event_type, hod""".stripMargin,
    // CUSUM changepoint: scaled integer deviation D_t = T·cum_t − t·S
    // (exact — the /T happens once at display); argmax ties → min hour
    "q_cusum" ->
      """WITH cuh AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, count(*) AS x
        |  FROM events GROUP BY 1,2),
        |cup AS (
        |  SELECT event_type, hr, x,
        |    row_number() OVER w AS t_idx, sum(x) OVER w AS cum
        |  FROM cuh WINDOW w AS (PARTITION BY event_type ORDER BY hr)),
        |cut AS (SELECT event_type, count(*) AS n_hours, sum(x) AS n_events
        |        FROM cuh GROUP BY 1),
        |cud AS (
        |  SELECT p.event_type, p.hr, t.n_hours, t.n_events,
        |         t.n_hours * p.cum - p.t_idx * t.n_events AS d
        |  FROM cup p JOIN cut t USING (event_type)),
        |cum2 AS (SELECT event_type, max(abs(d)) AS absd FROM cud GROUP BY 1)
        |SELECT d.event_type, CAST(min(d.n_hours) AS BIGINT) AS n_hours,
        |  CAST(min(d.n_events) AS BIGINT) AS n_events,
        |  CAST(min(d.hr) AS BIGINT) AS cp_hr,
        |  CAST(arg_min(CASE WHEN d.d > 0 THEN 1 WHEN d.d < 0 THEN -1
        |                    ELSE 0 END, d.hr) AS INT) AS cp_sign,
        |  round(CAST(min(m.absd) AS DOUBLE) / min(d.n_hours), 6) AS cusum_abs
        |FROM cud d JOIN cum2 m
        |     ON m.event_type = d.event_type AND abs(d.d) = m.absd
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_window_tumbling" ->
      """SELECT (epoch_us(ts) // 21600000000) * 21600 AS window_start_s, event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY window_start_s, event_type""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))*(1-CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_qty,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1,2 ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q10_returned_revenue" ->
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))*(1-CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1,2 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    // cohort = first-activity day; n_users returning at each day offset
    "q_retention" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |       count(DISTINCT user_id) AS n_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1,2 ORDER BY cohort_day, day_offset""".stripMargin,
    // ordered conversion funnel: stage k+1 counts only events strictly
    // after the user's stage-k completion time
    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND us > t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > t2 GROUP BY 1)
        |SELECT '1_view' AS stage, count(*) AS n_users FROM s1
        |UNION ALL SELECT '2_click', count(*) FROM s2
        |UNION ALL SELECT '3_purchase', count(*) FROM s3
        |ORDER BY stage""".stripMargin,
    // 24-hour conversion window: stage k+1 within maxLag of stage k
    "q_funnel_windowed" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND us > t1 AND us <= t1 + 86400000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > t2 AND us <= t2 + 86400000000 GROUP BY 1)
        |SELECT '1_view' AS stage, count(*) AS n_users FROM s1
        |UNION ALL SELECT '2_click', count(*) FROM s2
        |UNION ALL SELECT '3_purchase', count(*) FROM s3
        |ORDER BY stage""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))*(1-CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1,2 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))*(1-CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |  JOIN customer ON c_nationkey = n_nationkey
        |  JOIN orders ON o_custkey = c_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'EUROPE'
        |GROUP BY 1 ORDER BY n_name""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2))*(1-CAST(l_discount AS DECIMAL(18,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))*(1-CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
        |    6) AS promo_pct,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))*(1-CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_rev,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY ship_month""".stripMargin,
    // the z-ordered layout changes which row-groups a scan touches,
    // never the values — plain filtered aggregate over the raw table
    "q_zorder_scan" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id <= 7 AND extract(day FROM ts) BETWEEN 8 AND 14
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    // bucketing changes the plan (co-located, shuffle-free join), not the
    // values — the oracle is the ordinary join over the raw tables
    "q_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))*(1-CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q12_urgent_lines" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "q4_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |               * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24""".stripMargin,
    "q13_count_distribution" ->
      """WITH per AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT OUTER JOIN orders o
        |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM per GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q22_dormant_value" ->
      """WITH t AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)/count(*)
        |           AS avg_bal
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, count(*) AS numcust,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer c, t
        |WHERE c.c_acctbal > t.avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= '2000-01-01')
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT r1.r_name AS cust_region, r2.r_name AS supp_region,
        |       year(o.o_orderdate) AS o_year,
        |       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS volume,
        |       count(*) AS n_lines
        |FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        |  JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        |  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |WHERE r1.r_name <> r2.r_name
        |GROUP BY 1,2,3 ORDER BY cust_region, supp_region, o_year""".stripMargin,
    "q8_market_share" ->
      """SELECT year(o.o_orderdate) AS o_year,
        |  round(CAST(sum(CASE WHEN r2.r_name = 'EUROPE'
        |      THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
        |             * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |             * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE),
        |    6) AS mkt_share,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |         * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_rev,
        |  count(*) AS n_lines
        |FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        |  JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        |  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |WHERE r1.r_name = 'EUROPE' AND p.p_type = 'ECONOMY'
        |GROUP BY 1 ORDER BY o_year""".stripMargin,
    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
        |FROM revenue r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        |WHERE r.total_rev = (SELECT max(total_rev) FROM revenue)
        |ORDER BY s.s_suppkey""".stripMargin,
    "q19_brand_promo" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey AND (
        |  (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 20) OR
        |  (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |    AND l_quantity BETWEEN 10 AND 35))""".stripMargin,
    "q17_small_qty" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |         AS avg_yearly,
        |       count(*) AS n_lines
        |FROM lineitem l1
        |WHERE l_quantity < (SELECT 0.5 * (CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
        |                                       AS DOUBLE) / count(*))
        |                    FROM lineitem l2
        |                    WHERE l2.l_partkey = l1.l_partkey)""".stripMargin,
    "q18_large_orders" ->
      """SELECT o.o_orderkey, o.o_custkey,
        |       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                       GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |GROUP BY o.o_orderkey, o.o_custkey
        |ORDER BY o.o_orderkey""".stripMargin,
    "q_exists_returns" ->
      """SELECT c_nationkey, count(*) AS n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o JOIN lineitem l
        |                ON o.o_orderkey = l.l_orderkey
        |              WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_join_left_outer" ->
      """SELECT n_lines, count(*) AS n_orders FROM (
        |  SELECT o_orderkey, count(l_orderkey) AS n_lines
        |  FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY n_lines""".stripMargin,
    "q_join_semi" ->
      """SELECT c_nationkey, count(*) AS n_customers FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |GROUP BY 1 ORDER BY c_nationkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    "q_agg_suite" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_price,
        |  min(strftime(l_shipdate, '%Y-%m-%d')) AS first_ship,
        |  max(strftime(l_shipdate, '%Y-%m-%d')) AS last_ship
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    // equi-width histogram: width/edges are IEEE arithmetic on exact
    // min/max, the top cell is closed via least(), only observed
    // buckets emit
    "q_histogram" ->
      """WITH s1 AS (SELECT CAST(min(l_extendedprice) AS DOUBLE) AS lo,
        |                   CAST(max(l_extendedprice) AS DOUBLE) AS hi
        |            FROM lineitem),
        |c1 AS (
        |  SELECT CASE WHEN hi = lo THEN 0
        |         ELSE least(floor((CAST(l_extendedprice AS DOUBLE) - lo)
        |           / ((hi - lo) / 16.0)), 15) END AS bucket,
        |         lo, (hi - lo) / 16.0 AS w, count(*) AS n_rows
        |  FROM lineitem CROSS JOIN s1 GROUP BY 1,2,3),
        |s2 AS (SELECT CAST(min(l_quantity) AS DOUBLE) AS lo,
        |              CAST(max(l_quantity) AS DOUBLE) AS hi
        |       FROM lineitem),
        |c2 AS (
        |  SELECT CASE WHEN hi = lo THEN 0
        |         ELSE least(floor((CAST(l_quantity AS DOUBLE) - lo)
        |           / ((hi - lo) / 16.0)), 15) END AS bucket,
        |         lo, (hi - lo) / 16.0 AS w, count(*) AS n_rows
        |  FROM lineitem CROSS JOIN s2 GROUP BY 1,2,3)
        |SELECT col_name, bucket, lo_edge, hi_edge, n_rows FROM (
        |  SELECT 'l_extendedprice' AS col_name, CAST(bucket AS BIGINT) AS bucket,
        |         round(lo + bucket * w, 6) AS lo_edge,
        |         round(lo + (bucket + 1) * w, 6) AS hi_edge, n_rows
        |  FROM c1
        |  UNION ALL
        |  SELECT 'l_quantity', CAST(bucket AS BIGINT),
        |         round(lo + bucket * w, 6),
        |         round(lo + (bucket + 1) * w, 6), n_rows
        |  FROM c2)
        |ORDER BY col_name, bucket""".stripMargin,
    "q_rollup" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
        |  count(*) AS n_customers, GROUPING(r_name, n_name) AS lvl
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY lvl, r_name, n_name""".stripMargin,
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  GROUPING(o_orderstatus, o_orderpriority) AS lvl
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY lvl, o_orderstatus, o_orderpriority""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  GROUPING(o_orderstatus, o_orderpriority) AS lvl
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), (o_orderpriority))
        |ORDER BY lvl, o_orderstatus, o_orderpriority""".stripMargin,
    "q_pivot" ->
      """SELECT o_orderstatus,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p_urgent,
        |  CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p_high,
        |  CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p_medium,
        |  CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p_notspec,
        |  CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p_low
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    "q_unpivot" ->
      """WITH a AS (
        |  SELECT l_returnflag,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
        |UNION ALL
        |SELECT l_returnflag, 'sum_price', sum_price FROM a
        |UNION ALL
        |SELECT l_returnflag, 'sum_disc', sum_disc FROM a
        |ORDER BY l_returnflag, metric""".stripMargin,
    "q_kmeans_step" ->
      """WITH ex AS (
        |  SELECT label,
        |    unnest([{'dim': i-1, 'val': embedding[i]} for i in range(1, len(embedding)+1)],
        |           recursive := true)
        |  FROM embeddings),
        |cent AS (
        |  SELECT label AS clabel, list(mean_val ORDER BY dim) AS c
        |  FROM (SELECT label, dim,
        |          CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
        |        FROM ex GROUP BY 1,2)
        |  GROUP BY 1),
        |scored AS (
        |  SELECT e.vec_id, c.clabel,
        |         -2.0 * list_dot_product(e.embedding::DOUBLE[], c.c)
        |           + list_dot_product(c.c, c.c) AS s
        |  FROM embeddings e CROSS JOIN cent c),
        |assigned AS (
        |  SELECT vec_id, clabel AS assigned FROM (
        |    SELECT vec_id, clabel,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY s, clabel) AS rk
        |    FROM scored) WHERE rk = 1),
        |newex AS (
        |  SELECT a.assigned,
        |    unnest([{'dim': i-1, 'val': e.embedding[i]} for i in range(1, len(e.embedding)+1)],
        |           recursive := true)
        |  FROM embeddings e JOIN assigned a USING (vec_id))
        |SELECT assigned, CAST(dim AS INT) AS dim,
        |       CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
        |FROM newex GROUP BY 1,2 ORDER BY assigned, dim""".stripMargin,
    // the composed pipeline: quality >= 0.5 → exact-dup drop (min doc_id
    // per fingerprint survives) → simhash hamming<=3 near-dup drop (higher
    // id of each pair) → md5-mod-100 split → per-split token totals. Each
    // CTE block is the same SQL as the stage's standalone oracle
    // (q_text_quality / q_doc_fingerprint / q_neardup_simhash /
    // q_hash_split / q_text_tokens), chained.
    "q_pipeline_e2e" ->
      """WITH tq AS (
        |  SELECT doc_id,
        |    round(0.4*(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0.0 END)
        |        + 0.3*(CASE WHEN n_chars_txt > 0 THEN CAST(n_alnum AS DOUBLE)/n_chars_txt ELSE 0.0 END)
        |        + 0.3*(CAST(least(n_tokens, 100) AS DOUBLE)/100.0), 6) AS quality_score
        |  FROM (
        |    SELECT doc_id, len(toks) AS n_tokens, n_chars_txt, n_alnum,
        |      len(list_filter(toks, t -> t IN ('the','a','of','and','in','to','is'))) AS n_stop
        |    FROM (
        |      SELECT doc_id,
        |        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks,
        |        length(text) AS n_chars_txt,
        |        length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_alnum
        |      FROM documents))),
        |keepq AS (
        |  SELECT d.doc_id, d.text FROM documents d JOIN tq USING (doc_id)
        |  WHERE tq.quality_score >= 0.5),
        |fp AS (
        |  SELECT doc_id,
        |    CASE WHEN len(sh) > 0 THEN list_min(list_transform(sh, s -> md5(s))) ELSE NULL END AS fingerprint
        |  FROM (
        |    SELECT doc_id, CASE WHEN len(toks) >= 4
        |      THEN [array_to_string(toks[i:i+3], ' ') for i in range(1, len(toks)-2)]
        |      ELSE [] END AS sh
        |    FROM (SELECT doc_id,
        |            list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |          FROM keepq))),
        |exdrop AS (
        |  SELECT DISTINCT f1.doc_id FROM fp f1 JOIN fp f2
        |    ON f1.fingerprint = f2.fingerprint AND f2.doc_id < f1.doc_id),
        |keepd AS (
        |  SELECT doc_id, text FROM keepq
        |  WHERE doc_id NOT IN (SELECT doc_id FROM exdrop)),
        |sfp AS (
        |  SELECT doc_id,
        |    CAST(list_sum([CASE WHEN list_sum([((h >> j) & 1)*2 - 1 for h in hs]) > 0
        |         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
        |         for j in range(0, 60)]) AS BIGINT) AS simhash
        |  FROM (
        |    SELECT doc_id,
        |      [CAST(('0x' || substr(md5(t),1,15))::UBIGINT AS BIGINT) for t in
        |        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')] AS hs
        |    FROM keepd)),
        |banded AS (
        |  SELECT doc_id, simhash, b AS band, (simhash >> (b*15)) % 32768 AS band_key
        |  FROM sfp, unnest(range(0, 4)) AS t(b)),
        |nddrop AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |keepnd AS (
        |  SELECT doc_id, text FROM keepd
        |  WHERE doc_id NOT IN (SELECT doc_id FROM nddrop)),
        |sp AS (
        |  SELECT CASE
        |    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT::BIGINT % 100 < 80 THEN 'train'
        |    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT::BIGINT % 100 < 90 THEN 'valid'
        |    ELSE 'test' END AS split, lower(text) AS lt
        |  FROM keepnd)
        |SELECT split, count(*) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(lt), '\s+'))) AS BIGINT) AS ws_tokens,
        |  CAST(sum(len(regexp_extract_all(lt, '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS bpe_tokens
        |FROM sp GROUP BY 1 ORDER BY split""".stripMargin,
    // curation pipeline: gopher gates -> repetition cutoff -> duplicate
    // clusters over survivors with best-quality representative kept ->
    // per-lang census. Each CTE block mirrors its standalone oracle.
    "q_pipeline_curate" ->
      ("WITH RECURSIVE " + curateChainFrag +
        """
          |SELECT lang, count(*) AS n_docs,
          |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS bpe_tokens
          |FROM final GROUP BY 1 ORDER BY lang""".stripMargin),
    "q_pipeline_pretrain" -> pretrainOracleSql(2048L),
    "q_pretrain_manifest" -> pretrainManifestOracleSql(2048L),
    // PQ code census: two independent argmin assignments on the vector
    // halves against each half's label-centroid sub-codebook
    "q_pq_encode" ->
      """WITH sp AS (
        |  SELECT vec_id, label,
        |    (embedding::DOUBLE[])[1:len(embedding)//2] AS e1,
        |    (embedding::DOUBLE[])[len(embedding)//2+1:len(embedding)] AS e2
        |  FROM embeddings),
        |ex1 AS (
        |  SELECT label,
        |    unnest([{'dim': i-1, 'val': e1[i]} for i in range(1, len(e1)+1)],
        |           recursive := true)
        |  FROM sp),
        |cb1 AS (
        |  SELECT label AS clabel, list(mean_val ORDER BY dim) AS c
        |  FROM (SELECT label, dim,
        |          CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
        |        FROM ex1 GROUP BY 1,2)
        |  GROUP BY 1),
        |s1 AS (
        |  SELECT sp.vec_id, c.clabel,
        |         -2.0 * list_dot_product(sp.e1, c.c) + list_dot_product(c.c, c.c) AS s
        |  FROM sp CROSS JOIN cb1 c),
        |a1 AS (
        |  SELECT vec_id, clabel AS code1 FROM (
        |    SELECT vec_id, clabel,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY s, clabel) AS rk
        |    FROM s1) WHERE rk = 1),
        |ex2 AS (
        |  SELECT label,
        |    unnest([{'dim': i-1, 'val': e2[i]} for i in range(1, len(e2)+1)],
        |           recursive := true)
        |  FROM sp),
        |cb2 AS (
        |  SELECT label AS clabel, list(mean_val ORDER BY dim) AS c
        |  FROM (SELECT label, dim,
        |          CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
        |        FROM ex2 GROUP BY 1,2)
        |  GROUP BY 1),
        |s2 AS (
        |  SELECT sp.vec_id, c.clabel,
        |         -2.0 * list_dot_product(sp.e2, c.c) + list_dot_product(c.c, c.c) AS s
        |  FROM sp CROSS JOIN cb2 c),
        |a2 AS (
        |  SELECT vec_id, clabel AS code2 FROM (
        |    SELECT vec_id, clabel,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY s, clabel) AS rk
        |    FROM s2) WHERE rk = 1)
        |SELECT a1.code1, a2.code2, count(*) AS n_vectors
        |FROM a1 JOIN a2 USING (vec_id)
        |GROUP BY 1,2 ORDER BY code1, code2""".stripMargin,
    // PQ-ADC search: per-query exact half-distance lookup tables indexed
    // by each candidate's code pair; est = d1(code1) + d2(code2), ranked
    // ascending with vec_id tiebreak — the same grouping of additions as
    // the Spark side, so estimates are IEEE-exact
    "q_pq_search" -> (pqAdcRankedSql +
      """
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
        |       round(est, 6) AS est_d2
        |FROM ranked WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin),
    "q_ann_rerank" -> annRerankOracleSql(30),
    "q_kmeans_train" -> kmeansTrainOracleSql(3),
    "q_ivf_search_trained" -> ivfTrainedOracleSql(2),
    "q_semantic_dedup" -> semanticDedupOracleSql(2, 0.3),
    "q_decontam_semantic" -> semanticDecontamOracleSql(2, 0.3),
    "q_ivfpq_search" -> ivfPqOracleSql(2, 2),
    "q_ann_recall" -> annRecallOracleSql(2, 2),
    "q_ivfpq_tune" -> ivfPqTuneOracleSql(2, Seq(1, 2, 4), 20L, 10, 30),
    // recall graded AFTER append+delete+compact, truth over the live
    // corpus — the lifecycle-bug detector
    "q_ann_recall_lifecycle" -> annRecallLifecycleOracleSql(2, 2, 100L),
    // the saved-index round-trip must reproduce the inline search bit
    // for bit (parquet round-trips doubles exactly) — strongest possible
    // persistence check, so it shares the oracle verbatim
    "q_ivfpq_saved" -> ivfPqOracleSql(2, 2),
    "q_ivfpq_append" -> ivfPqAppendOracleSql(2, 2, 100L, 20L, 10),
    "q_ivfpq_delete" -> ivfPqDeleteOracleSql(2, 2),
    // drift census: frozen codebooks from the old slice, per-generation
    // quant6 distortion means in exact DECIMAL
    "q_ivfpq_drift" -> ivfPqDriftOracleSql(2, 100L),
    // retrain = fresh quantizers over exactly the live corpus: the
    // shared ranked chain with emb_live as BOTH training and serving set
    "q_ivfpq_retrain" -> ivfPqRetrainOracleSql(2, 2),
    "q_ivfpq_rerank" -> ivfPqRerankOracleSql(2, 2, 30),
    "q_ivfpq_saved_rerank" -> ivfPqRerankOracleSql(2, 2, 30),
    "q_ivfpq_saved_filtered" -> ivfPqFilteredRerankOracleSql(2, 2, 30),
    "q_ivfpq_residual" -> ivfPqResidualOracleSql(2, 2),
    "q_rag_e2e" -> ragOracleSql(2, 2, 15, 5, 64, 48, 8, 8, 10),
    // the from-artifacts RAG serve is value-identical to the inline
    // chain — the strongest round-trip check, same oracle verbatim
    "q_rag_saved" -> ragOracleSql(2, 2, 15, 5, 64, 48, 8, 8, 10),
    "q_rag_docs" -> ragDocsOracleSql(2, 2, 15, 5, 64, 48, 8, 8, 10),
    // from-artifacts chunk hits are value-identical to inline, so the
    // parent-document collapse shares q_rag_docs' oracle
    "q_rag_saved_docs" -> ragDocsOracleSql(2, 2, 15, 5, 64, 48, 8, 8, 10),
    // filtered search: candidates restricted to even labels BEFORE the
    // top-k (filter-then-rank); queries unfiltered
    "q_ivf_search_filtered" ->
      """WITH ex AS (
        |  SELECT label,
        |    unnest([{'dim': i-1, 'val': embedding[i]} for i in range(1, len(embedding)+1)],
        |           recursive := true)
        |  FROM embeddings),
        |cent AS (
        |  SELECT label AS clabel, list(mean_val ORDER BY dim) AS c
        |  FROM (SELECT label, dim,
        |          CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
        |        FROM ex GROUP BY 1,2)
        |  GROUP BY 1),
        |scored AS (
        |  SELECT e.vec_id, c.clabel,
        |         -2.0 * list_dot_product(e.embedding::DOUBLE[], c.c)
        |           + list_dot_product(c.c, c.c) AS s
        |  FROM embeddings e CROSS JOIN cent c),
        |assignrk AS (
        |  SELECT vec_id, clabel,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY s, clabel) AS rk
        |  FROM scored),
        |b AS (
        |  SELECT e.vec_id, e.label, a.clabel AS assigned, e.embedding::DOUBLE[] AS emb,
        |         sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS nrm
        |  FROM embeddings e JOIN (SELECT vec_id, clabel FROM assignrk WHERE rk = 1) a
        |    USING (vec_id)),
        |q AS (SELECT vec_id AS query_id, assigned, emb AS q_emb, nrm AS q_nrm
        |      FROM b WHERE vec_id < 20),
        |pairs AS (
        |  SELECT q.query_id, b.vec_id AS neighbor_id,
        |         list_dot_product(b.emb, q.q_emb) / (b.nrm * q.q_nrm) AS sim
        |  FROM b JOIN q ON b.assigned = q.assigned AND b.vec_id <> q.query_id
        |  WHERE b.label % 2 = 0),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
        |  FROM pairs)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, round(sim, 6) AS sim
        |FROM ranked WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin,
    "q_pq_search_trained" -> pqTrainedOracleSql(2),
    "q_bpe_merges" -> bpeOracleSql(8),
    "q_bpe_vocab" -> bpeVocabOracleSql(8),
    "q_bpe_token_count" -> bpeTokenCountOracleSql(8),
    "q_bpe_apply" -> bpeApplyOracleSql(8),
    // offset-based first-fit packing: bin = tokens-before DIV budget over
    // a per-lang running count in doc_id order (see sequencePacking docs)
    "q_seq_packing" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |         x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT lang, n_tok,
        |    coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT lang, CAST(cum_before // 2048 AS BIGINT) AS bin, count(*) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
        |       max(n_tok) AS max_doc_tokens
        |FROM c GROUP BY 1,2 ORDER BY lang, bin""".stripMargin,
    // snapshot diff: full-outer content-hash compare of two derived
    // snapshots (A lacks %7=0 → added; B lacks %11=0 → removed; B
    // revises %5=0 → changed) — census per lang with char-mass deltas,
    // all integer/md5
    "q_snapshot_diff" ->
      """WITH sda AS (
        |  SELECT doc_id, lang, md5(text) AS h,
        |         CAST(length(text) AS BIGINT) AS nc
        |  FROM documents WHERE doc_id % 7 <> 0),
        |sdb AS (
        |  SELECT doc_id, lang,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END) AS h,
        |    CAST(length(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END) AS BIGINT) AS nc
        |  FROM documents WHERE doc_id % 11 <> 0),
        |sdj AS (
        |  SELECT
        |    CASE WHEN a.h IS NULL THEN 'added'
        |         WHEN b.h IS NULL THEN 'removed'
        |         WHEN a.h <> b.h THEN 'changed' ELSE 'unchanged' END AS change_type,
        |    coalesce(b.lang, a.lang) AS lang,
        |    coalesce(b.nc, 0) - coalesce(a.nc, 0) AS dnc
        |  FROM sda a FULL OUTER JOIN sdb b USING (doc_id))
        |SELECT change_type, lang, count(*) AS n_docs,
        |       CAST(sum(dnc) AS BIGINT) AS delta_chars
        |FROM sdj GROUP BY 1,2 ORDER BY change_type, lang""".stripMargin,
    // dataset card: one-pass corpus/lang/source census, exact BIGINTs only
    "q_dataset_card" ->
      """WITH dcb AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |         t -> t <> '')) AS BIGINT) AS n_tok,
        |    md5(text) AS h
        |  FROM documents),
        |dcc AS (
        |  SELECT count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |         CAST(sum(n_chars) AS BIGINT) AS nch,
        |         count(DISTINCT lang) AS n_langs,
        |         count(DISTINCT source) AS n_sources,
        |         max(n_tok) AS max_doc_tokens,
        |         CAST(sum(CASE WHEN n_tok = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_docs
        |  FROM dcb),
        |dcr AS (
        |  SELECT 'corpus' AS section, 'n_docs' AS card_key, n_docs AS value FROM dcc
        |  UNION ALL SELECT 'corpus', 'n_tokens', n_tokens FROM dcc
        |  UNION ALL SELECT 'corpus', 'n_chars', nch FROM dcc
        |  UNION ALL SELECT 'corpus', 'n_langs', n_langs FROM dcc
        |  UNION ALL SELECT 'corpus', 'n_sources', n_sources FROM dcc
        |  UNION ALL SELECT 'corpus', 'max_doc_tokens', max_doc_tokens FROM dcc
        |  UNION ALL SELECT 'corpus', 'n_empty_docs', n_empty_docs FROM dcc
        |  UNION ALL SELECT 'corpus', 'n_dup_content_docs',
        |    CAST(coalesce((SELECT sum(n) FROM
        |      (SELECT count(*) AS n FROM dcb GROUP BY h) t WHERE n > 1), 0) AS BIGINT)
        |  UNION ALL SELECT 'lang', lang, count(*) FROM dcb GROUP BY lang
        |  UNION ALL SELECT 'source', source, count(*) FROM dcb GROUP BY source)
        |SELECT section, card_key, CAST(value AS BIGINT) AS value
        |FROM dcr ORDER BY section, card_key""".stripMargin,
    // sketch-estimated snapshot overlap: bottom-64 of the union's
    // content hashes vs the exact Jaccard from the same flags frame
    "q_sketch_jaccard" ->
      """WITH sja AS (SELECT DISTINCT md5(text) AS h FROM documents
        |             WHERE doc_id % 7 <> 0),
        |sjb AS (SELECT DISTINCT md5(CASE WHEN doc_id % 5 = 0
        |          THEN text || ' rev2' ELSE text END) AS h
        |        FROM documents WHERE doc_id % 11 <> 0),
        |sjf AS (
        |  SELECT coalesce(a.h, b.h) AS h,
        |         CASE WHEN a.h IS NOT NULL THEN 1 ELSE 0 END AS in_a,
        |         CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END AS in_b
        |  FROM sja a FULL OUTER JOIN sjb b ON a.h = b.h),
        |sjs AS (SELECT * FROM sjf ORDER BY h LIMIT 64),
        |sje AS (SELECT count(*) AS sketch_size,
        |          sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS n_both
        |        FROM sjs),
        |sjx AS (SELECT count(*) AS n_union,
        |          sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS n_inter
        |        FROM sjf)
        |SELECT CAST(64 AS BIGINT) AS k, CAST(n_union AS BIGINT) AS n_union,
        |       round(CAST(n_both AS DOUBLE) / sketch_size, 6) AS jaccard_est,
        |       round(CAST(n_inter AS DOUBLE) / n_union, 6) AS jaccard_exact
        |FROM sje CROSS JOIN sjx""".stripMargin,
    // PII scrub census: doc_id-keyed plants (email %3, IPv4 %5, phone %7)
    // make every class appear; patterns are the shared java-regex ∩ RE2
    // literals (TextAnalysis.EmailRe/Ipv4Re/PhoneRe); counts are
    // non-overlapping match counts, lengths exact integers. Shared
    // VERBATIM by the streaming twin (additive per-batch census merge).
    "q_pii_redact" -> piiRedactOracleSql,
    "q_stream_pii" -> piiRedactOracleSql,
    // bottom-k coordinated sample: k smallest content hashes per lang,
    // doc_id tie-break — rand()-free, engine-stable. Shared VERBATIM by
    // the streaming sketch-merge twin (bottom-k is mergeable).
    "q_bottomk_sample" -> bottomkOracleSql,
    "q_stream_bottomk" -> bottomkOracleSql,
    // k-fold: content-hash routing (the md5-mod law on text) so exact
    // duplicates co-fold; census is one scan + agg
    "q_kfold" ->
      """WITH kf AS (
        |  SELECT ('0x' || substr(md5(text),1,15))::UBIGINT::BIGINT % 5 AS fold,
        |         lang, md5(text) AS h, n_chars
        |  FROM documents)
        |SELECT fold, lang, count(*) AS n_docs,
        |       count(DISTINCT h) AS n_contents,
        |       CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM kf GROUP BY 1,2 ORDER BY fold, lang""".stripMargin,
    // distribution shift: Laplace-smoothed unigram KL/JS between the
    // snapshotDiff slices — per-term ln() contributions through the
    // quant6 law into DECIMAL(18,6) sums (the PMI discipline)
    "q_dist_shift" -> distShiftOracleSql,
    // streaming drift monitor: per-batch tf censuses merge additively
    // into the batch tf table, divergence through the SAME core —
    // the batch oracle shared verbatim
    "q_stream_drift" -> distShiftOracleSql,
    // chi-square independence: expected counts quant6'd once, the
    // contribution squares/divides the quantized value; zero cells kept
    "q_chi2" -> chi2OracleSql,
    "q_stream_chi2" -> chi2OracleSql,
    // column profiling: one wide agg over one scan, unpivoted — exact
    // counts/min/max, means divide exact sums (long / DECIMAL(18,2))
    "q_profile" -> profileOracleSql,
    // streaming profile: moment rows merge (sum, min, max, sum) exactly,
    // distincts merge by set union — the batch oracle shared verbatim
    "q_stream_profile" -> profileOracleSql,
    // seasonal-naive forecast backtest: forecast = exclusive prefix mean
    // of the same (type, hod) slot (prior-data-only by construction);
    // forecast and each error term through quant6, DECIMAL sums
    "q_forecast_naive" -> forecastOracleSql,
    // split-conformal intervals on the same backtest: integer 4/5 split,
    // pooled order-statistic q̂ (⌈(n+1)·9/10⌉-th smallest, ties on
    // (hod, hr)), coverage census — all integer/quant6 arithmetic
    "q_conformal" -> conformalOracleSql,
    // streaming conformal: per-batch hourly counts merge additively into
    // the batch hourly table — the batch oracle shared verbatim
    "q_stream_conformal" -> conformalOracleSql,
    // Bradley-Terry preference strengths: exact-decimal per-user sums
    // decide contests, 3 unrolled MM iterations of quant6 terms with
    // decimal-summed denominators and normalizers
    "q_bradley_terry" -> bradleyTerryOracleSql(3),
    // Bloom-pruned semi-join: same two multiplicative hashes and 62-bit
    // word packing; the oracle joins the word CTE where Spark broadcasts
    // a map — representation differs, every census number matches
    "q_bloom_prune" -> bloomPruneOracleSql,
    // PCA power iteration: same centered one-pass covariance action,
    // list_dot_product = vec_dot's strict fold, quant6/decimal per-dim
    // accumulation, same largest-|component|-positive sign law
    "q_pca_embed" -> pcaOracleSql(3),
    // streaming forecast: per-batch hourly counts merge additively into
    // the batch hourly table — the batch oracle shared verbatim
    "q_stream_forecast" -> forecastOracleSql,
    // right-to-be-forgotten: the census is read back from the
    // post-erasure store, so the oracle match proves the STORAGE state —
    // erasure complete (no victim survived) and exact (no bystander lost)
    "q_forget" -> forgetOracleSql,
    // deletion queue: victim batches applied incrementally must leave
    // exactly the store a bulk erasure leaves — oracle shared verbatim
    "q_stream_forget" -> forgetOracleSql,
    // k-anonymity: equivalence classes on the QI tuple, banded by size;
    // the balance bucket is one IEEE divide + floor
    "q_kanon" -> kanonOracleSql,
    "q_stream_kanon" -> kanonOracleSql,
    "q_ldiv" ->
      """WITH ldc AS (
        |  SELECT c_nationkey,
        |         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
        |         count(DISTINCT c_mktsegment) AS l, count(*) AS n_in_class
        |  FROM customer GROUP BY 1,2),
        |ldb AS (
        |  SELECT CASE WHEN l = 1 THEN '1 (homogeneous)' WHEN l = 2 THEN '2'
        |              WHEN l <= 4 THEN '3-4' ELSE '5 (diverse)' END AS band,
        |         l, n_in_class
        |  FROM ldc),
        |ldt AS (SELECT CAST(sum(n_in_class) AS DOUBLE) AS n_total FROM ldb)
        |SELECT band, CAST(count(*) AS BIGINT) AS n_classes,
        |       CAST(sum(n_in_class) AS BIGINT) AS n_rows,
        |       CAST(min(l) AS BIGINT) AS min_l, CAST(max(l) AS BIGINT) AS max_l,
        |       round(CAST(sum(n_in_class) AS DOUBLE) / min(n_total), 6) AS row_share
        |FROM ldb CROSS JOIN ldt
        |GROUP BY band ORDER BY min_l""".stripMargin,
    "q_ri_audit" -> Seq(
      riOracleOne("customer.c_nationkey -> nation", "customer",
        "c_nationkey", "nation", "n_nationkey"),
      riOracleOne("events.user_id -> customer", "events", "user_id",
        "customer", "c_custkey"),
      riOracleOne("lineitem.l_orderkey -> orders", "lineitem",
        "l_orderkey", "orders", "o_orderkey"),
      riOracleOne("lineitem.l_partkey -> part", "lineitem", "l_partkey",
        "part", "p_partkey"),
      riOracleOne("lineitem.l_suppkey -> supplier", "lineitem",
        "l_suppkey", "supplier", "s_suppkey"),
      riOracleOne("nation.n_regionkey -> region", "nation", "n_regionkey",
        "region", "r_regionkey"),
      riOracleOne("orders.o_custkey -> customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      riOracleOne("supplier.s_nationkey -> nation", "supplier",
        "s_nationkey", "nation", "n_nationkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY constraint_name"),
    // the streaming monitor is the batch audit's events edge — the
    // same per-constraint oracle fragment verbatim, so the at-ingest
    // census can never drift from the nightly audit
    "q_stream_ri" -> riOracleOne("events.user_id -> customer", "events",
      "user_id", "customer", "c_custkey"),
    // the projection head is closed-form, the stand-in payloads are pure
    // ASCII (the q_multimodal_features trick), and both engines build the
    // projected vector component-by-component in the same order, so the
    // whole media->features->head->cosine chain is oracle-reproducible
    "q_crossmodal_search" ->
      ("WITH " + crossmodalQueryFrag(5) +
        """,
        |cmp AS (
        |  SELECT q.query_id, b.vec_id AS neighbor_id,
        |         list_dot_product(q.q_emb, b.emb) / (b.nrm * q.q_nrm) AS sim
        |  FROM cmb b, cmqn q),
        |cmr AS (
        |  SELECT query_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY sim DESC, neighbor_id) AS rk
        |  FROM cmp)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
        |       round(sim, 6) AS sim
        |FROM cmr WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin),
    // cross-modal graduation: the SAME projected queries served from
    // the IVF-PQ index over the embeddings table (index side + ext-q
    // ADC chain shared verbatim), cosine-re-ranked on the shortlist
    "q_crossmodal_ivfpq" ->
      ("WITH " + crossmodalQueryFrag(5) + ",\n" +
        ivfPqIndexSideFrag(2, "embeddings") +
        ivfPqRankedExtQFrag(2, 6, "cmqn") +
        """,
        |xsh AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= 200),
        |xre AS (
        |  SELECT s.query_id, s.neighbor_id,
        |         list_dot_product(q.q_emb, b.emb) / (b.nrm * q.q_nrm) AS sim
        |  FROM xsh s
        |    JOIN cmb b ON b.vec_id = s.neighbor_id
        |    JOIN cmqn q ON q.query_id = s.query_id),
        |xrk AS (
        |  SELECT query_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY sim DESC, neighbor_id) AS rk
        |  FROM xre)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
        |       round(sim, 6) AS sim
        |FROM xrk WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin),
    // incremental join-view maintenance: accumulated per-batch delta
    // joins must union to exactly the one-shot join
    "q_stream_mv_join" ->
      """SELECT o.o_orderkey, CAST(l.l_linenumber AS INT) AS lnum,
        |  strftime(o.o_orderdate, '%Y-%m-%d') AS odate,
        |  CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |ORDER BY o.o_orderkey, lnum, price""".stripMargin,
    // winsorized metric: pooled exact-interpolated p95 clip, clipped
    // values + squares quant6'd then DECIMAL-summed, Welch t mirrored
    "q_ab_winsorized" ->
      """WITH awu AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |             THEN CAST(value AS DECIMAL(18,2))
        |             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_d
        |  FROM events GROUP BY user_id),
        |awv AS (
        |  SELECT CASE WHEN ('0x' || substr(md5('exp1' || '|' ||
        |             CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT
        |             % 2 = 0
        |         THEN 'control' ELSE 'treatment' END AS variant, rev_d
        |  FROM awu),
        |awb AS (SELECT quantile_cont(rev_d, 0.95) AS clip_hi FROM awv),
        |awc AS (
        |  SELECT variant, rev_d, clip_hi,
        |    CASE WHEN rev_d > clip_hi THEN clip_hi ELSE rev_d END AS w
        |  FROM awv CROSS JOIN awb),
        |awm AS (
        |  SELECT variant, count(*) AS n,
        |    CAST(sum(CASE WHEN rev_d > clip_hi THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_clip,
        |    CAST(sum(CAST(floor(w * 1000000.0 + 0.5) / 1000000.0
        |      AS DECIMAL(18,6))) AS DOUBLE) AS sw,
        |    CAST(sum(CAST(floor(w * w * 1000000.0 + 0.5) / 1000000.0
        |      AS DECIMAL(38,6))) AS DOUBLE) AS swsq,
        |    min(clip_hi) AS clip_hi
        |  FROM awc GROUP BY 1),
        |aww AS (
        |  SELECT
        |    max(CASE WHEN variant = 'control' THEN n END) AS n_c,
        |    max(CASE WHEN variant = 'treatment' THEN n END) AS n_t,
        |    max(CASE WHEN variant = 'control' THEN n_clip END) AS n_clip_c,
        |    max(CASE WHEN variant = 'treatment' THEN n_clip END) AS n_clip_t,
        |    max(CASE WHEN variant = 'control' THEN sw END) AS sw_c,
        |    max(CASE WHEN variant = 'treatment' THEN sw END) AS sw_t,
        |    max(CASE WHEN variant = 'control' THEN swsq END) AS sq_c,
        |    max(CASE WHEN variant = 'treatment' THEN swsq END) AS sq_t,
        |    max(clip_hi) AS clip_hi
        |  FROM awm)
        |SELECT CAST(n_c AS BIGINT) AS n_c, CAST(n_t AS BIGINT) AS n_t,
        |  round(clip_hi, 6) AS clip_hi,
        |  n_clip_c, n_clip_t,
        |  round(sw_c / CAST(n_c AS DOUBLE), 6) AS mean_w_c,
        |  round(sw_t / CAST(n_t AS DOUBLE), 6) AS mean_w_t,
        |  round(CASE WHEN CAST(n_c AS DOUBLE) > 1.0
        |           AND CAST(n_t AS DOUBLE) > 1.0
        |           AND (sq_t - sw_t * sw_t / CAST(n_t AS DOUBLE))
        |             / (CAST(n_t AS DOUBLE) - 1.0) / CAST(n_t AS DOUBLE)
        |           + (sq_c - sw_c * sw_c / CAST(n_c AS DOUBLE))
        |             / (CAST(n_c AS DOUBLE) - 1.0) / CAST(n_c AS DOUBLE)
        |           > 0.0
        |    THEN (sw_t / CAST(n_t AS DOUBLE) - sw_c / CAST(n_c AS DOUBLE))
        |      / sqrt((sq_t - sw_t * sw_t / CAST(n_t AS DOUBLE))
        |               / (CAST(n_t AS DOUBLE) - 1.0) / CAST(n_t AS DOUBLE)
        |             + (sq_c - sw_c * sw_c / CAST(n_c AS DOUBLE))
        |               / (CAST(n_c AS DOUBLE) - 1.0) / CAST(n_c AS DOUBLE))
        |    END, 6) AS t_wins
        |FROM aww""".stripMargin,
    // heterogeneous effects: equal-count activity terciles by
    // (n_events, user_id) rank, per-segment two-proportion z
    "q_ab_segments" ->
      """WITH sgu AS (
        |  SELECT user_id, count(*) AS n_events,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase'
        |                       AND value >= 150.0 THEN 1
        |                  ELSE 0 END) > 0 THEN 1 ELSE 0 END AS converted
        |  FROM events GROUP BY user_id),
        |sgv AS (
        |  SELECT user_id, n_events, converted,
        |    CASE WHEN ('0x' || substr(md5('exp1' || '|' ||
        |           CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT
        |           % 2 = 0
        |         THEN 'control' ELSE 'treatment' END AS variant,
        |    row_number() OVER (ORDER BY n_events, user_id) AS ark
        |  FROM sgu),
        |sgn AS (SELECT count(*) AS n FROM sgv),
        |sgc AS (
        |  SELECT CAST((3 * (ark - 1)) // n + 1 AS INT) AS segment,
        |         variant, count(*) AS n_users,
        |         sum(converted) AS n_conv
        |  FROM sgv CROSS JOIN sgn GROUP BY 1, 2),
        |sgw AS (
        |  SELECT segment,
        |    coalesce(max(CASE WHEN variant = 'control' THEN n_users END), 0)
        |      AS n_c,
        |    coalesce(max(CASE WHEN variant = 'treatment' THEN n_users END), 0)
        |      AS n_t,
        |    coalesce(max(CASE WHEN variant = 'control' THEN n_conv END), 0)
        |      AS conv_c,
        |    coalesce(max(CASE WHEN variant = 'treatment' THEN n_conv END), 0)
        |      AS conv_t
        |  FROM sgc GROUP BY 1)
        |SELECT segment, CAST(n_c AS BIGINT) AS n_c,
        |  CAST(n_t AS BIGINT) AS n_t,
        |  CAST(conv_c AS BIGINT) AS conv_c, CAST(conv_t AS BIGINT) AS conv_t,
        |  round(CASE WHEN n_c > 0
        |        THEN CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE) END, 6)
        |    AS rate_c,
        |  round(CASE WHEN n_t > 0
        |        THEN CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE) END, 6)
        |    AS rate_t,
        |  round(CASE WHEN n_c > 0 AND n_t > 0
        |         AND CAST(conv_c + conv_t AS DOUBLE)
        |             / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)) > 0.0
        |         AND CAST(conv_c + conv_t AS DOUBLE)
        |             / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)) < 1.0
        |    THEN (CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |          - CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE))
        |      / sqrt(CAST(conv_c + conv_t AS DOUBLE)
        |               / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE))
        |             * (1.0 - CAST(conv_c + conv_t AS DOUBLE)
        |                 / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)))
        |             * (1.0 / CAST(n_c AS DOUBLE)
        |                + 1.0 / CAST(n_t AS DOUBLE))) END, 6) AS z
        |FROM sgw ORDER BY segment""".stripMargin,
    // delta-method ratio metric: per-user (sessions, revenue) moments,
    // var(R) = (varY - 2R covXY + R^2 varX)/(n xbar^2); R and var(R)
    // quant6'd before the z
    "q_ab_ratio" ->
      """WITH are AS (SELECT user_id, event_id, event_type, value,
        |                    epoch_us(ts) AS us FROM events),
        |ars AS (
        |  SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000
        |                   OR lag(us) OVER w IS NULL
        |            THEN 1 ELSE 0 END AS new_session
        |  FROM are WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |aru AS (
        |  SELECT user_id, CAST(sum(new_session) AS DOUBLE) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |             THEN CAST(value AS DECIMAL(18,2))
        |             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS y
        |  FROM ars GROUP BY user_id),
        |arv AS (
        |  SELECT CASE WHEN ('0x' || substr(md5('exp1' || '|' ||
        |             CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT
        |             % 2 = 0
        |         THEN 'control' ELSE 'treatment' END AS variant, x, y
        |  FROM aru),
        |arm AS (
        |  SELECT variant, count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(floor(x * x * 1000000.0 + 0.5) / 1000000.0
        |      AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(floor(y * y * 1000000.0 + 0.5) / 1000000.0
        |      AS DECIMAL(38,6))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(floor(x * y * 1000000.0 + 0.5) / 1000000.0
        |      AS DECIMAL(38,6))) AS DOUBLE) AS sxy
        |  FROM arv GROUP BY 1),
        |arc AS (
        |  SELECT variant, n,
        |    round(sy / sx, 6) AS rps,
        |    floor(sy / sx * 1000000.0 + 0.5) / 1000000.0 AS r_q,
        |    floor((((syy - sy * sy / CAST(n AS DOUBLE))
        |             / (CAST(n AS DOUBLE) - 1.0)
        |           - 2.0 * (sy / sx)
        |             * ((sxy - sx * sy / CAST(n AS DOUBLE))
        |                / (CAST(n AS DOUBLE) - 1.0))
        |           + (sy / sx) * (sy / sx)
        |             * ((sxx - sx * sx / CAST(n AS DOUBLE))
        |                / (CAST(n AS DOUBLE) - 1.0)))
        |          / (CAST(n AS DOUBLE) * (sx / CAST(n AS DOUBLE))
        |             * (sx / CAST(n AS DOUBLE))))
        |          * 1000000.0 + 0.5) / 1000000.0 AS vr_q
        |  FROM arm)
        |SELECT
        |  CAST(max(CASE WHEN variant = 'control' THEN n END) AS BIGINT)
        |    AS n_c,
        |  CAST(max(CASE WHEN variant = 'treatment' THEN n END) AS BIGINT)
        |    AS n_t,
        |  max(CASE WHEN variant = 'control' THEN rps END) AS rps_c,
        |  max(CASE WHEN variant = 'treatment' THEN rps END) AS rps_t,
        |  round(CASE WHEN max(CASE WHEN variant = 'control' THEN vr_q END)
        |           + max(CASE WHEN variant = 'treatment' THEN vr_q END) > 0.0
        |    THEN (max(CASE WHEN variant = 'treatment' THEN r_q END)
        |          - max(CASE WHEN variant = 'control' THEN r_q END))
        |      / sqrt(max(CASE WHEN variant = 'control' THEN vr_q END)
        |             + max(CASE WHEN variant = 'treatment' THEN vr_q END))
        |    END, 6) AS z_ratio
        |FROM arc""".stripMargin,
    // per-variant ordered funnel + per-transition two-proportion z
    "q_ab_funnel" ->
      """WITH fe AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |            FROM events),
        |fu AS (
        |  SELECT DISTINCT user_id FROM fe),
        |fv AS (
        |  SELECT user_id,
        |    CASE WHEN ('0x' || substr(md5('exp1' || '|' ||
        |           CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT
        |           % 2 = 0
        |         THEN 'control' ELSE 'treatment' END AS variant
        |  FROM fu),
        |fs1 AS (SELECT user_id, min(us) AS t1 FROM fe
        |        WHERE event_type = 'view' GROUP BY 1),
        |fs2 AS (SELECT e.user_id, min(e.us) AS t2
        |        FROM fe e JOIN fs1 s ON e.user_id = s.user_id
        |        WHERE e.event_type = 'click' AND e.us > s.t1 GROUP BY 1),
        |fs3 AS (SELECT e.user_id, min(e.us) AS t3
        |        FROM fe e JOIN fs2 s ON e.user_id = s.user_id
        |        WHERE e.event_type = 'purchase' AND e.us > s.t2 GROUP BY 1),
        |ff AS (
        |  SELECT v.variant, count(*) AS n0,
        |    CAST(sum(CASE WHEN s1.user_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN s2.user_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN s3.user_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n3
        |  FROM fv v
        |  LEFT JOIN fs1 s1 ON v.user_id = s1.user_id
        |  LEFT JOIN fs2 s2 ON v.user_id = s2.user_id
        |  LEFT JOIN fs3 s3 ON v.user_id = s3.user_id
        |  GROUP BY 1),
        |fst AS (
        |  SELECT variant, stage, base, conv FROM (
        |    SELECT variant, '1_view' AS stage, n0 AS base, n1 AS conv FROM ff
        |    UNION ALL
        |    SELECT variant, '2_click', n1, n2 FROM ff
        |    UNION ALL
        |    SELECT variant, '3_purchase', n2, n3 FROM ff)),
        |fw AS (
        |  SELECT stage,
        |    max(CASE WHEN variant = 'control' THEN base END) AS base_c,
        |    max(CASE WHEN variant = 'control' THEN conv END) AS conv_c,
        |    max(CASE WHEN variant = 'treatment' THEN base END) AS base_t,
        |    max(CASE WHEN variant = 'treatment' THEN conv END) AS conv_t
        |  FROM fst GROUP BY 1)
        |SELECT stage, CAST(base_c AS BIGINT) AS base_c,
        |  CAST(conv_c AS BIGINT) AS conv_c,
        |  round(CASE WHEN base_c > 0
        |        THEN CAST(conv_c AS DOUBLE) / CAST(base_c AS DOUBLE) END, 6)
        |    AS rate_c,
        |  CAST(base_t AS BIGINT) AS base_t,
        |  CAST(conv_t AS BIGINT) AS conv_t,
        |  round(CASE WHEN base_t > 0
        |        THEN CAST(conv_t AS DOUBLE) / CAST(base_t AS DOUBLE) END, 6)
        |    AS rate_t,
        |  round(CASE WHEN base_c > 0 AND base_t > 0
        |         AND CAST(conv_c + conv_t AS DOUBLE)
        |             / (CAST(base_c AS DOUBLE) + CAST(base_t AS DOUBLE)) > 0.0
        |         AND CAST(conv_c + conv_t AS DOUBLE)
        |             / (CAST(base_c AS DOUBLE) + CAST(base_t AS DOUBLE)) < 1.0
        |    THEN (CAST(conv_t AS DOUBLE) / CAST(base_t AS DOUBLE)
        |          - CAST(conv_c AS DOUBLE) / CAST(base_c AS DOUBLE))
        |      / sqrt(CAST(conv_c + conv_t AS DOUBLE)
        |               / (CAST(base_c AS DOUBLE) + CAST(base_t AS DOUBLE))
        |             * (1.0 - CAST(conv_c + conv_t AS DOUBLE)
        |                 / (CAST(base_c AS DOUBLE) + CAST(base_t AS DOUBLE)))
        |             * (1.0 / CAST(base_c AS DOUBLE)
        |                + 1.0 / CAST(base_t AS DOUBLE))) END, 6) AS z
        |FROM fw ORDER BY stage""".stripMargin,
    // MDE at alpha=0.05 two-sided, 80% power; z constants as exact
    // double literals
    "q_ab_power" ->
      """WITH pwu AS (
        |  SELECT user_id,
        |    CASE WHEN ('0x' || substr(md5('exp1' || '|' ||
        |           CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT
        |           % 2 = 0
        |         THEN 'control' ELSE 'treatment' END AS variant,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase'
        |                       AND value >= 150.0 THEN 1
        |                  ELSE 0 END) > 0 THEN 1 ELSE 0 END AS converted
        |  FROM events GROUP BY user_id),
        |pwv AS (SELECT variant, count(*) AS n_users,
        |               sum(converted) AS n_conv
        |        FROM pwu GROUP BY 1),
        |pww AS (
        |  SELECT
        |    max(CASE WHEN variant = 'control' THEN n_users END) AS n_c,
        |    max(CASE WHEN variant = 'treatment' THEN n_users END) AS n_t,
        |    max(CASE WHEN variant = 'control' THEN n_conv END) AS conv_c,
        |    max(CASE WHEN variant = 'treatment' THEN n_conv END) AS conv_t
        |  FROM pwv)
        |SELECT CAST(n_c AS BIGINT) AS n_c, CAST(n_t AS BIGINT) AS n_t,
        |  round(CAST(conv_c + conv_t AS DOUBLE)
        |        / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)), 6) AS p_pool,
        |  round(CASE WHEN n_c > 0 AND n_t > 0
        |         AND CAST(conv_c + conv_t AS DOUBLE)
        |             / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)) > 0.0
        |         AND CAST(conv_c + conv_t AS DOUBLE)
        |             / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)) < 1.0
        |    THEN (1.959964 + 0.841621)
        |      * sqrt(CAST(conv_c + conv_t AS DOUBLE)
        |               / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE))
        |             * (1.0 - CAST(conv_c + conv_t AS DOUBLE)
        |                 / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)))
        |             * (1.0 / CAST(n_c AS DOUBLE)
        |                + 1.0 / CAST(n_t AS DOUBLE))) END, 6) AS mde_abs,
        |  round(CASE WHEN n_c > 0 AND n_t > 0
        |         AND CAST(conv_c + conv_t AS DOUBLE)
        |             / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)) > 0.0
        |         AND CAST(conv_c + conv_t AS DOUBLE)
        |             / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)) < 1.0
        |    THEN (1.959964 + 0.841621)
        |      * sqrt(CAST(conv_c + conv_t AS DOUBLE)
        |               / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE))
        |             * (1.0 - CAST(conv_c + conv_t AS DOUBLE)
        |                 / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)))
        |             * (1.0 / CAST(n_c AS DOUBLE)
        |                + 1.0 / CAST(n_t AS DOUBLE)))
        |      / (CAST(conv_c + conv_t AS DOUBLE)
        |         / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE))) END, 6)
        |    AS mde_rel
        |FROM pww""".stripMargin,
    // cohort LTV: DECIMAL revenue end-to-end, census-row windows only
    "q_ltv_cohort" -> ltvOracleSql,
    // Kaplan-Meier: integer durations/exits; hazard terms via the
    // quant6-ln device, DECIMAL(18,6) running sum, one exp at emission
    // (the q_ab_sequential cross-engine law)
    "q_survival_km" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |fu AS (SELECT user_id, min(us) AS first_us, max(us) AS last_us
        |       FROM e GROUP BY user_id),
        |fe AS (SELECT user_id, event_type AS cohort FROM (
        |         SELECT user_id, event_type,
        |                row_number() OVER (PARTITION BY user_id
        |                  ORDER BY us, event_id) AS rn
        |         FROM e) WHERE rn = 1),
        |h AS (SELECT max(us) AS horizon FROM e),
        |pu AS (
        |  SELECT fe.cohort,
        |         (f.last_us - f.first_us) // 86400000000 AS t_days,
        |         CASE WHEN h.horizon - f.last_us >= 1 * 86400000000
        |              THEN 1 ELSE 0 END AS churn
        |  FROM fu f JOIN fe ON fe.user_id = f.user_id CROSS JOIN h),
        |cells AS (
        |  SELECT cohort, t_days,
        |         CAST(sum(churn) AS BIGINT) AS n_event,
        |         CAST(sum(1 - churn) AS BIGINT) AS n_censor,
        |         CAST(count(*) AS BIGINT) AS n_exit
        |  FROM pu GROUP BY cohort, t_days),
        |sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_total
        |          FROM pu GROUP BY cohort),
        |rk AS (
        |  SELECT c.cohort, c.t_days, c.n_event, c.n_censor,
        |         CAST(s.n_total - coalesce(sum(c.n_exit) OVER (
        |           PARTITION BY c.cohort ORDER BY c.t_days
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS n_risk
        |  FROM cells c JOIN sizes s ON s.cohort = c.cohort),
        |t AS (
        |  SELECT *,
        |    CASE WHEN n_event < n_risk THEN
        |      floor(ln(1.0 - CAST(n_event AS DOUBLE)
        |                     / CAST(n_risk AS DOUBLE))
        |            * 1000000.0 + 0.5) / 1000000.0 END AS term,
        |    max(CASE WHEN n_event = n_risk THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY cohort ORDER BY t_days
        |      ROWS UNBOUNDED PRECEDING) AS dead
        |  FROM rk),
        |cum AS (
        |  SELECT *, sum(CAST(term AS DECIMAL(18,6))) OVER (
        |    PARTITION BY cohort ORDER BY t_days
        |    ROWS UNBOUNDED PRECEDING) AS cum_ln
        |  FROM t)
        |SELECT cohort, t_days, n_risk, n_event, n_censor,
        |  CASE WHEN dead = 1 THEN 0.0
        |       ELSE floor(exp(coalesce(CAST(cum_ln AS DOUBLE), 0.0))
        |                  * 1000000.0 + 0.5) / 1000000.0 END AS survival
        |FROM cum ORDER BY cohort, t_days""".stripMargin,
    // drained user-day partials merge additively -> same assembly,
    // oracle shared verbatim
    "q_stream_ltv" -> ltvOracleSql,
    // ACF over the dense zero-filled hourly census: mean through
    // quant6, deviation products quant6'd then DECIMAL-summed, lag
    // pairs via a dense-grid self-join (DuckDB lag needs a constant
    // offset; the dense grid makes the two formulations identical)
    "q_acf" ->
      """WITH acb AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |         count(*) AS x
        |  FROM events GROUP BY 1,2),
        |acg AS (
        |  SELECT event_type, unnest(range(h0, h1 + 1)) AS hr
        |  FROM (SELECT event_type, min(hr) AS h0, max(hr) AS h1
        |        FROM acb GROUP BY 1)),
        |acd AS (
        |  SELECT g.event_type, g.hr, coalesce(b.x, 0) AS x
        |  FROM acg g LEFT JOIN acb b
        |    ON g.event_type = b.event_type AND g.hr = b.hr),
        |acs AS (
        |  SELECT event_type, count(*) AS n_hours,
        |    floor(CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |          * 1000000.0 + 0.5) / 1000000.0 AS xbar
        |  FROM acd GROUP BY 1),
        |acv AS (
        |  SELECT d.event_type, d.hr, CAST(d.x AS DOUBLE) - s.xbar AS dv
        |  FROM acd d JOIN acs s ON d.event_type = s.event_type),
        |aden AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(floor(dv * dv * 1000000.0 + 0.5) / 1000000.0
        |      AS DECIMAL(38,6))) AS DOUBLE) AS den
        |  FROM acv GROUP BY 1),
        |acl AS (SELECT unnest(range(1, 13)) AS lg),
        |acp AS (
        |  SELECT a.event_type, l.lg,
        |    CAST(sum(CAST(floor(a.dv * b.dv * 1000000.0 + 0.5) / 1000000.0
        |      AS DECIMAL(38,6))) AS DOUBLE) AS num
        |  FROM acv a CROSS JOIN acl l
        |  JOIN acv b ON b.event_type = a.event_type AND b.hr = a.hr - l.lg
        |  GROUP BY 1,2)
        |SELECT p.event_type, CAST(p.lg AS INT) AS lag,
        |  CAST(s.n_hours AS BIGINT) AS n_hours,
        |  round(CASE WHEN d.den > 0.0 THEN p.num / d.den END, 6) AS acf
        |FROM acp p JOIN aden d ON p.event_type = d.event_type
        |JOIN acs s ON p.event_type = s.event_type
        |ORDER BY p.event_type, lag""".stripMargin,
    // Benford first-digit audit: digit from EXACT integer cents (never
    // log10), expectations through the quant6 ln law, q_chi2 discipline
    "q_benford" ->
      """WITH bfd0 AS (
        |  SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |bfd1 AS (
        |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM bfd0 WHERE cents > 0),
        |bfdo AS (SELECT digit, count(*) AS n_obs FROM bfd1 GROUP BY 1),
        |bfd AS (
        |  SELECT CAST(sp.digit AS INT) AS digit,
        |         CAST(coalesce(bfdo.n_obs, 0) AS BIGINT) AS n_obs
        |  FROM generate_series(1, 9) AS sp(digit)
        |  LEFT JOIN bfdo ON bfdo.digit = sp.digit),
        |bft AS (SELECT sum(n_obs) AS n_total FROM bfd),
        |bfr AS (
        |  SELECT digit, n_obs, n_total,
        |    floor(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)
        |          * 1000000.0 + 0.5) / 1000000.0 AS p_benford
        |  FROM bfd CROSS JOIN bft),
        |bfx AS (
        |  SELECT *, CAST(n_total AS DOUBLE) * p_benford AS expected
        |  FROM bfr),
        |bfc AS (
        |  SELECT *,
        |    floor((CAST(n_obs AS DOUBLE) - expected)
        |          * (CAST(n_obs AS DOUBLE) - expected) / expected
        |          * 1000000.0 + 0.5) / 1000000.0 AS contribution
        |  FROM bfx),
        |bfs AS (
        |  SELECT CAST(sum(CAST(contribution AS DECIMAL(18,6))) AS DOUBLE)
        |    AS chi2_total
        |  FROM bfc)
        |SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
        |  round(CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS share,
        |  p_benford,
        |  round(expected, 6) AS n_expected,
        |  round(contribution, 6) AS contribution,
        |  round(chi2_total, 6) AS chi2_total,
        |  CAST(chi2_total > 15.507 AS INT) AS deviates
        |FROM bfc CROSS JOIN bfs ORDER BY digit""".stripMargin,
    "q_dp_counts" -> dpOracleSql,
    // the streaming release's drained cell counts merge additively into
    // the same histogram the batch release noises — oracle shared
    // verbatim (noise is drawn once per cell at release time on both)
    "q_stream_dp" -> dpOracleSql,
    // user-level DP: contribution clamp (lowest `cap` event_ids per
    // user), Laplace b = cap/eps salted "user|", cap census broadcast
    "q_dp_counts_user" ->
      """WITH dpu AS (
        |  SELECT user_id, event_id, event_type,
        |         strftime(ts, '%Y-%m-%d') AS day
        |  FROM events),
        |dpk AS (
        |  SELECT event_type, day FROM (
        |    SELECT event_type, day,
        |           row_number() OVER (PARTITION BY user_id
        |                              ORDER BY event_id) AS rn
        |    FROM dpu) WHERE rn <= 4),
        |dpb AS (SELECT event_type, day, count(*) AS n_true
        |        FROM dpu GROUP BY 1,2),
        |dpcl AS (SELECT event_type, day, count(*) AS n_clamped
        |         FROM dpk GROUP BY 1,2),
        |dpcc AS (
        |  SELECT CAST(sum(CASE WHEN nu > 4 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_capped_users,
        |         CAST(sum(greatest(nu - 4, 0)) AS BIGINT) AS n_clipped_rows
        |  FROM (SELECT user_id, count(*) AS nu FROM dpu GROUP BY 1)),
        |dpj AS (
        |  SELECT b.event_type, b.day, b.n_true,
        |         coalesce(c.n_clamped, 0) AS n_clamped,
        |    least(CAST(('0x' || substr(md5('user' || '|' || b.event_type
        |           || '|' || b.day), 1, 15))
        |         ::UBIGINT::BIGINT + 1 AS DOUBLE)
        |      / 1152921504606846976.0, 0.999999999) AS u
        |  FROM dpb b LEFT JOIN dpcl c
        |    ON b.event_type = c.event_type AND b.day = c.day),
        |dpun AS (
        |  SELECT event_type, day, n_true, n_clamped,
        |    floor((CASE WHEN u < 0.5 THEN 4.0 * ln(2.0 * u)
        |           ELSE -4.0 * ln(2.0 * (1.0 - u)) END) * 1000000.0 + 0.5)
        |      / 1000000.0 AS noise
        |  FROM dpj)
        |SELECT event_type, day, n_true, n_clamped, noise,
        |  CAST(greatest(0.0, floor(n_clamped + noise + 0.5)) AS BIGINT)
        |    AS n_released,
        |  cc.n_capped_users, cc.n_clipped_rows
        |FROM dpun CROSS JOIN dpcc cc
        |ORDER BY event_type, day""".stripMargin,
    "q_epoch_shuffle" ->
      """WITH esh AS (
        |  SELECT doc_id, e.epoch,
        |    ('0x' || substr(md5(doc_id || ':' || e.epoch), 1, 15))
        |      ::UBIGINT::BIGINT AS h
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(range(3)) AS epoch) e)
        |SELECT CAST(epoch AS INT) AS epoch,
        |  CAST(h % 8 AS BIGINT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY epoch, h % 8
        |       ORDER BY h, doc_id) AS BIGINT) AS pos,
        |  doc_id, h AS shuffle_key
        |FROM esh ORDER BY epoch, shard, pos""".stripMargin,
    "q_fd_audit" -> {
      val one = (table: String, lhs: Seq[String], rhs: String) => {
        val lhsList = lhs.mkString(", ")
        s"""SELECT '${lhs.mkString(",")}' AS fd_lhs, '$rhs' AS fd_rhs,
           |  CAST(sum(_tot) AS BIGINT) AS n_rows,
           |  CAST(count(*) AS BIGINT) AS n_lhs_classes,
           |  CAST(sum(_tot) - sum(_keep) AS BIGINT) AS n_violations,
           |  floor(CAST(sum(_keep) AS DOUBLE) / sum(_tot) * 1000000.0 + 0.5)
           |    / 1000000.0 AS confidence,
           |  CAST(CASE WHEN sum(_keep) = sum(_tot) THEN 1 ELSE 0 END
           |       AS INT) AS holds
           |FROM (
           |  SELECT $lhsList, max(_c) AS _keep, sum(_c) AS _tot
           |  FROM (SELECT $lhsList, $rhs, count(*) AS _c FROM $table
           |        GROUP BY ALL)
           |  GROUP BY ALL)""".stripMargin
      }
      Seq(
        one("customer", Seq("c_nationkey"), "c_mktsegment"),
        one("documents", Seq("source"), "lang"),
        one("lineitem", Seq("l_orderkey", "l_linenumber"), "l_quantity"),
        one("nation", Seq("n_nationkey"), "n_name"),
        one("orders", Seq("o_orderdate"), "o_orderstatus"),
        one("part", Seq("p_name"), "p_brand"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY fd_lhs, fd_rhs")
    },
    // weighted coordinated sample: exponential race −ln(u)/w with
    // hash-uniform u — the long add happens BEFORE the double cast on
    // both sides (near 2^60 doubles are 128 apart); −ln through quant6
    "q_weighted_sample" ->
      """WITH wsb AS (
        |  SELECT doc_id, lang, greatest(n_chars, 1) AS w,
        |    ('0x' || substr(md5(text),1,15))::UBIGINT::BIGINT AS h
        |  FROM documents),
        |wss AS (
        |  SELECT doc_id, lang, w,
        |    floor(-ln(CAST(h + 1 AS DOUBLE) / 1152921504606846976.0)
        |      * 1000000.0 + 0.5) / 1000000.0 AS neg_log_u
        |  FROM wsb),
        |wsr AS (
        |  SELECT lang, doc_id, w, neg_log_u,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY neg_log_u / w, doc_id) AS rk
        |  FROM wss)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id,
        |       CAST(w AS BIGINT) AS n_chars, round(neg_log_u, 6) AS neg_log_u
        |FROM wsr WHERE rk <= 50 ORDER BY lang, rk""".stripMargin,
    // token entropy: per-term surprisal contributions through the quant6
    // law into per-doc DECIMAL(18,6) sums; census compares/divides the
    // exact sums
    "q_token_entropy" ->
      """WITH teb AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |           x -> x <> '')) AS t
        |  FROM documents),
        |tetf AS (SELECT doc_id, lang, t, count(*) AS tf FROM teb GROUP BY 1,2,3),
        |ten AS (SELECT doc_id, lang, tf,
        |          sum(tf) OVER (PARTITION BY doc_id) AS n
        |        FROM tetf),
        |tec AS (
        |  SELECT doc_id, lang,
        |    sum(CAST(floor(CAST(tf AS DOUBLE) / n * ln(CAST(n AS DOUBLE) / tf)
        |        * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6))) AS entropy
        |  FROM ten GROUP BY 1,2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sum(entropy) AS DOUBLE) / count(*), 6) AS avg_entropy,
        |  CAST(sum(CASE WHEN entropy < 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  round(CAST(max(entropy) AS DOUBLE), 6) AS max_entropy
        |FROM tec GROUP BY 1 ORDER BY 1""".stripMargin,
    // label propagation: 2 synchronous unrolled rounds over the pmi
    // co-occurrence graph — mode vote with (count DESC, label) tie-break
    "q_label_prop" ->
      """WITH lpb AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents),
        |lpt AS MATERIALIZED (
        |  SELECT doc_id, pos, toks[pos] AS t FROM (
        |    SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS pos
        |    FROM lpb)),
        |lpe AS MATERIALIZED (
        |  SELECT least(a.t, b.t) AS t1, greatest(a.t, b.t) AS t2
        |  FROM lpt a JOIN lpt b ON a.doc_id = b.doc_id
        |       AND b.pos > a.pos AND b.pos <= a.pos + 4 AND a.t <> b.t
        |  GROUP BY 1,2 HAVING count(*) >= 5),
        |lpd AS MATERIALIZED (
        |  SELECT t1 AS src, t2 AS dst FROM lpe
        |  UNION ALL SELECT t2, t1 FROM lpe),
        |lp0 AS (SELECT DISTINCT src AS t, src AS lab FROM lpd),
        |lpc1 AS (SELECT e.src, l.lab, count(*) AS c
        |         FROM lpd e JOIN lp0 l ON l.t = e.dst GROUP BY 1,2),
        |lp1 AS (SELECT src AS t, lab FROM (
        |          SELECT src, lab,
        |            row_number() OVER (PARTITION BY src
        |                               ORDER BY c DESC, lab) AS rk
        |          FROM lpc1) WHERE rk = 1),
        |lpc2 AS (SELECT e.src, l.lab, count(*) AS c
        |         FROM lpd e JOIN lp1 l ON l.t = e.dst GROUP BY 1,2),
        |lp2 AS (SELECT src AS t, lab FROM (
        |          SELECT src, lab,
        |            row_number() OVER (PARTITION BY src
        |                               ORDER BY c DESC, lab) AS rk
        |          FROM lpc2) WHERE rk = 1),
        |lpg AS (SELECT lab AS community, count(*) AS n_terms
        |        FROM lp2 GROUP BY 1),
        |lpr AS (SELECT *, row_number() OVER (ORDER BY n_terms DESC, community)
        |          AS rank FROM lpg)
        |SELECT CAST(rank AS BIGINT) AS rank, community,
        |       CAST(n_terms AS BIGINT) AS n_terms
        |FROM lpr WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // curriculum schedule: quality-ranked docs cut into 4 equal phases —
    // composite through the quant6 law (it feeds ordering + the mean),
    // phase = (4·(rk−1)) DIV N, DECIMAL means
    "q_curriculum" ->
      """WITH cqb AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks,
        |    length(text) AS n_chars_txt,
        |    length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_alnum
        |  FROM documents),
        |cqs AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
        |    floor((0.4*(CASE WHEN len(toks) > 0
        |             THEN CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','in','to','is'))) AS DOUBLE)/len(toks)
        |             ELSE 0.0 END)
        |        + 0.3*(CASE WHEN n_chars_txt > 0
        |             THEN CAST(n_alnum AS DOUBLE)/n_chars_txt ELSE 0.0 END)
        |        + 0.3*(CAST(least(len(toks), 100) AS DOUBLE)/100.0))
        |      * 1000000.0 + 0.5) / 1000000.0 AS q
        |  FROM cqb),
        |cqn AS (SELECT count(*) AS n_all FROM cqs),
        |cqr AS (SELECT *, row_number() OVER (ORDER BY q DESC, doc_id) AS rk
        |        FROM cqs)
        |SELECT CAST((4 * (rk - 1)) // n_all + 1 AS BIGINT) AS phase,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS phase_tokens,
        |       round(min(q), 6) AS q_min,
        |       round(CAST(sum(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS q_mean,
        |       round(max(q), 6) AS q_max
        |FROM cqr CROSS JOIN cqn
        |GROUP BY 1 ORDER BY phase""".stripMargin,
    // T5 span corruption: md5-selected span starts, spanLen-token mask
    // window, maximal masked runs via gaps-and-islands — pure integer
    // logic, target text reassembled in pos order
    "q_span_corrupt" ->
      ("WITH " + spanChainFrag +
        """
          |SELECT doc_id,
          |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_tok)
          |            AS BIGINT) AS span_ord,
          |       start_tok, n_tok, target_text
          |FROM scsp ORDER BY doc_id, span_ord""".stripMargin),
    // encoder-decoder manifest: span census → T5 length law (input =
    // n_tok − n_masked + n_spans sentinels) → per-lang offset packing
    // on the input length — the span chain shared verbatim
    "q_denoise_manifest" ->
      ("WITH " + spanChainFrag +
        """,
          |dnc AS (SELECT doc_id, count(*) AS n_spans,
          |               CAST(sum(n_tok) AS BIGINT) AS n_masked
          |        FROM scsp GROUP BY 1),
          |dnb AS (
          |  SELECT doc_id, lang,
          |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
          |         t -> t <> '')) AS BIGINT) AS n_tok
          |  FROM documents),
          |dnd AS (
          |  SELECT b.doc_id, b.lang, b.n_tok,
          |    b.n_tok - coalesce(c.n_masked, 0) + coalesce(c.n_spans, 0) AS input_len,
          |    coalesce(c.n_masked, 0) + coalesce(c.n_spans, 0) AS target_len
          |  FROM dnb b LEFT JOIN dnc c USING (doc_id)),
          |dnp AS (
          |  SELECT lang, input_len, target_len,
          |    coalesce(sum(input_len) OVER (PARTITION BY lang ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
          |  FROM dnd)
          |SELECT lang, CAST(cum_before // 2048 AS BIGINT) AS bin,
          |       count(*) AS n_docs,
          |       CAST(sum(input_len) AS BIGINT) AS bin_input_tokens,
          |       CAST(sum(target_len) AS BIGINT) AS bin_target_tokens,
          |       CAST(max(input_len) AS BIGINT) AS max_input_tokens
          |FROM dnp GROUP BY 1,2 ORDER BY lang, bin""".stripMargin),
    "q_chunk_overlap" -> chunkOverlapOracleSql,
    // chunks are doc-local, so the drained micro-batch union is
    // bit-identical to the batch chunker — same oracle (the q_cms device)
    "q_stream_chunks" -> chunkOverlapOracleSql,
    // post-upsert store census: the revision batch's chunks REPLACED the
    // originals (every 10th doc reports revised counts), and each doc's
    // dup flags reflect the accumulated store at its insert time — for
    // range-staged batches "earlier batch" is (doc_id - lo) // span, and
    // the revision batch (last) saw every original
    "q_stream_chunk_upsert" -> chunkUpsertOracleSql(3, 64, 48),
    // streamed maintenance must equal the one-shot batch append: same
    // frozen-codebook oracle as q_ivfpq_append
    "q_stream_index_append" -> ivfPqAppendOracleSql(2, 2, 100L, 20L, 10),
    // doc-tier freshness: the frozen-codebook chain over the pooled
    // doc-vector CTE — the drained stream equals a one-shot frozen
    // build over every pooled vector
    "q_stream_doc_fresh" ->
      ("WITH " + chunkEmbFrag(64, 48, 8, 8) + ",\n" + docVecFrag(8) + ",\n" +
        ivfPqFrozenChainFrag(2, 2, 100L, 10L, "", "demb") +
        """
          |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
          |       round(est, 6) AS est_d2
          |FROM ranked WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin),
    "q_stream_rag_fresh" ->
      ragFrozenOracleSql(2, 2, 15, 5, 64, 48, 8, 8, 10, 100L),
    // streaming chunk→embed→assign ingest is stateless per document, so
    // the drained census is bit-identical to the batch chunk-embedding
    // assignment the standalone SQL rebuilds
    "q_stream_chunk_embed" -> chunkAssignOracleSql(64, 48, 8, 8),
    // mean-pooled doc embedding, one row per (doc, dim); DECIMAL-exact
    // per-dimension sums so pooling is order-independent cross-engine
    "q_doc_embed" ->
      ("WITH " + chunkEmbFrag(64, 48, 8, 8) +
        """,
          |px AS (
          |  SELECT vec_id // 1000000 AS pdoc,
          |    unnest([{'dim': i-1, 'v': embedding[i]}
          |            for i in range(1, len(embedding)+1)], recursive := true)
          |  FROM cemb)
          |SELECT pdoc AS doc_id, CAST(dim AS INT) AS dim,
          |       count(*) AS n_chunks,
          |       floor(CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(*) * 1000000.0 + 0.5) / 1000000.0 AS mean_v
          |FROM px GROUP BY 1,2 ORDER BY doc_id, dim""".stripMargin),
    // doc-level cosine retrieval over the pooled vectors: dot products
    // and norms in exact DECIMAL, division/sqrt as single IEEE ops
    "q_doc_search" ->
      ("WITH " + chunkEmbFrag(64, 48, 8, 8) + ",\n" + docSearchFrag(10L) +
        """
          |SELECT query_id, CAST(rk AS BIGINT) AS rank, cand_id AS neighbor_id,
          |       round(sim, 6) AS sim
          |FROM drk WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin),
    // diversified retrieval: the vector top-20 pool capped at 2 per
    // candidate language, re-ranked by original similarity order — the
    // pool chain is docSearchFrag verbatim, diversity is list-sized
    "q_diverse_topk" ->
      ("WITH " + chunkEmbFrag(64, 48, 8, 8) + ",\n" + docSearchFrag(10L) +
        """,
          |dpool AS (SELECT query_id, cand_id, sim, rk FROM drk WHERE rk <= 20),
          |dpl AS (SELECT p.query_id, p.cand_id, p.sim, p.rk, d.lang
          |        FROM dpool p JOIN documents d ON d.doc_id = p.cand_id),
          |dlr AS (SELECT *, row_number() OVER (PARTITION BY query_id, lang ORDER BY rk) AS lang_rk
          |        FROM dpl),
          |dfr AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rk) AS frk
          |        FROM dlr WHERE lang_rk <= 2)
          |SELECT query_id, CAST(frk AS BIGINT) AS rank, cand_id AS neighbor_id,
          |       lang, round(sim, 6) AS sim
          |FROM dfr WHERE frk <= 5 ORDER BY query_id, rank""".stripMargin),
    // BM25 lexical retrieval: idf through the quant6 ln law, per-term
    // weights quantized and DECIMAL-summed so accumulation order cannot
    // perturb scores cross-engine
    "q_bm25_topk" ->
      ("WITH " + bm25Frag(10L, 1.2, 0.75) +
        """
          |SELECT query_id, CAST(rk AS BIGINT) AS rank, cand_id AS neighbor_id,
          |       round(bm25, 6) AS bm25
          |FROM brk WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin),
    // hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    // top-10 and the pooled-vector cosine top-10 — both ranked chains
    // shared verbatim with their standalone queries
    "q_hybrid_rrf" ->
      ("WITH " + chunkEmbFrag(64, 48, 8, 8) + ",\n" + docSearchFrag(10L) +
        ",\n" + bm25Frag(10L, 1.2, 0.75) + rrfSuffixSql(10, 5, "60.0")),
    // deployed serves: build-then-serve-from-artifacts must be
    // value-identical to inline, so each shares its inline twin's
    // oracle VERBATIM — any drift (a duplicated posting, a re-pooled
    // vector) breaks the hash
    "q_bm25_saved" ->
      ("WITH " + bm25Frag(10L, 1.2, 0.75) +
        """
          |SELECT query_id, CAST(rk AS BIGINT) AS rank, cand_id AS neighbor_id,
          |       round(bm25, 6) AS bm25
          |FROM brk WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin),
    // pseudo-relevance feedback: first-pass top-3 docs donate their two
    // strongest unseen terms (Σtf·idf) at weight 0.5, second pass
    // rescores — the bm25Frag chain shared verbatim as the first pass
    "q_bm25_prf" ->
      ("WITH " + bm25Frag(10L, 1.2, 0.75) + ",\n" + prfChainFrag(10L) +
        """
          |SELECT query_id, CAST(rk AS BIGINT) AS rank, cand_id AS neighbor_id,
          |       round(s, 6) AS prf
          |FROM prk WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin),
    // streamed posting-store maintenance must equal the one-shot inline
    // BM25 — re-delivered docs REPLACE their postings, so the drained
    // serve shares q_bm25_topk's oracle verbatim
    "q_stream_bm25_fresh" ->
      ("WITH " + bm25Frag(10L, 1.2, 0.75) +
        """
          |SELECT query_id, CAST(rk AS BIGINT) AS rank, cand_id AS neighbor_id,
          |       round(bm25, 6) AS bm25
          |FROM brk WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin),
    "q_hybrid_saved" ->
      ("WITH " + chunkEmbFrag(64, 48, 8, 8) + ",\n" + docSearchFrag(10L) +
        ",\n" + bm25Frag(10L, 1.2, 0.75) + rrfSuffixSql(10, 5, "60.0")),
    // weighted-sum hybrid: per-query min-max normalization of each
    // tier's quantized top-10 scores, convex fusion 0.3·lex + 0.7·vec
    "q_hybrid_wsum" ->
      ("WITH " + chunkEmbFrag(64, 48, 8, 8) + ",\n" + docSearchFrag(10L) +
        ",\n" + bm25Frag(10L, 1.2, 0.75) + ",\n" + wsumChainFrag(10) +
        """
          |SELECT query_id, CAST(rk AS BIGINT) AS rank, cand_id AS neighbor_id,
          |       round(s, 6) AS wsum
          |FROM wrk WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin),
    // retrieval eval: recall@10 / MRR@10 per tier vs exact-cosine
    // truth — all five ranked chains shared verbatim with their
    // standalone queries; per-query metrics quantized then
    // DECIMAL-summed so the across-queries mean is order-independent
    "q_retrieval_eval" ->
      ("WITH " + chunkEmbFrag(64, 48, 8, 8) + ",\n" + docSearchFrag(10L) +
        ",\n" + bm25Frag(10L, 1.2, 0.75) + ",\n" + rrfChainFrag(10, "60.0") +
        ",\n" + prfChainFrag(10L) + ",\n" + wsumChainFrag(10) +
        ",\n" + qlChainFrag(10L) + ",\n" + rrf3ChainFrag(10, "60.0") +
        ",\n" + maxsimChainFrag(20) +
        ",\n" + tiersUnionFrag(10) +
        """,
          |etruth AS (SELECT query_id, cand_id FROM drk WHERE rk <= 5),
          |epq AS (
          |  SELECT r.system, r.query_id,
          |         sum(CASE WHEN t.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS hits,
          |         min(CASE WHEN t.cand_id IS NOT NULL THEN r.rk END) AS first_rank
          |  FROM eret r LEFT JOIN etruth t
          |    ON t.query_id = r.query_id AND t.cand_id = r.cand_id
          |  GROUP BY 1,2),
          |epm AS (
          |  SELECT system,
          |         round(CAST(hits AS DOUBLE) / 5.0, 6) AS recall,
          |         round(COALESCE(1.0 / CAST(first_rank AS DOUBLE), 0.0), 6) AS rr
          |  FROM epq)
          |SELECT system, count(*) AS n_queries,
          |       round(CAST(sum(CAST(recall AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_recall,
          |       round(CAST(sum(CAST(rr AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mrr
          |FROM epm GROUP BY 1 ORDER BY system""".stripMargin),
    // graded-relevance nDCG@10 over the SAME eight ranked lists as
    // q_retrieval_eval (tiersUnionFrag shared verbatim): truth grades
    // 5..1 from the exact-cosine top-5, DCG terms through the quant6 ln
    // law, per-query sums as DECIMAL
    "q_retrieval_ndcg" ->
      ("WITH " + chunkEmbFrag(64, 48, 8, 8) + ",\n" + docSearchFrag(10L) +
        ",\n" + bm25Frag(10L, 1.2, 0.75) + ",\n" + rrfChainFrag(10, "60.0") +
        ",\n" + prfChainFrag(10L) + ",\n" + wsumChainFrag(10) +
        ",\n" + qlChainFrag(10L) + ",\n" + rrf3ChainFrag(10, "60.0") +
        ",\n" + maxsimChainFrag(20) + ",\n" + tiersUnionFrag(10) +
        """,
          |ntru AS (SELECT query_id, cand_id, CAST(6 - rk AS DOUBLE) AS rel,
          |                rk AS truth_rank
          |         FROM drk WHERE rk <= 5),
          |nidcg AS (
          |  SELECT query_id,
          |    CAST(sum(CAST(floor(rel * ln(2.0) / ln(CAST(truth_rank AS DOUBLE) + 1.0)
          |                        * 1000000.0 + 0.5) / 1000000.0
          |             AS DECIMAL(18,6))) AS DOUBLE) AS idcg
          |  FROM ntru GROUP BY 1),
          |ndcgq AS (
          |  SELECT r.system, r.query_id,
          |    CAST(sum(CAST(coalesce(
          |           floor(t.rel * ln(2.0) / ln(CAST(r.rk AS DOUBLE) + 1.0)
          |                 * 1000000.0 + 0.5) / 1000000.0, 0.0)
          |         AS DECIMAL(18,6))) AS DOUBLE) AS dcg
          |  FROM eret r LEFT JOIN ntru t
          |    ON t.query_id = r.query_id AND t.cand_id = r.cand_id
          |  GROUP BY 1,2),
          |ndcgn AS (
          |  SELECT d.system,
          |         floor(d.dcg / i.idcg * 1000000.0 + 0.5) / 1000000.0 AS ndcg
          |  FROM ndcgq d JOIN nidcg i USING (query_id))
          |SELECT system, count(*) AS n_queries,
          |       floor(CAST(sum(CAST(ndcg AS DECIMAL(18,6))) AS DOUBLE)
          |             / count(*) * 1000000.0 + 0.5) / 1000000.0 AS mean_ndcg
          |FROM ndcgn GROUP BY 1 ORDER BY system""".stripMargin),
    // hard-negative mining: positive = vector rank-1, negatives = the
    // BM25-top docs OUTSIDE the vector top-5 (lexically close,
    // semantically far) — both ranked chains shared verbatim
    "q_hard_negatives" ->
      ("WITH " + chunkEmbFrag(64, 48, 8, 8) + ",\n" + docSearchFrag(10L) +
        ",\n" + bm25Frag(10L, 1.2, 0.75) +
        """,
          |hpos AS (SELECT query_id, cand_id AS pos_id FROM drk WHERE rk = 1),
          |hvt AS (SELECT query_id, cand_id FROM drk WHERE rk <= 5),
          |hneg AS (
          |  SELECT b.query_id, b.cand_id, b.bm25,
          |         row_number() OVER (PARTITION BY b.query_id ORDER BY b.rk) AS neg_rank
          |  FROM brk b
          |  LEFT JOIN hvt v ON v.query_id = b.query_id AND v.cand_id = b.cand_id
          |  WHERE b.rk <= 10 AND v.cand_id IS NULL)
          |SELECT n.query_id, p.pos_id, CAST(n.neg_rank AS BIGINT) AS neg_rank,
          |       n.cand_id AS neg_id, round(n.bm25, 6) AS bm25
          |FROM hneg n JOIN hpos p USING (query_id)
          |WHERE n.neg_rank <= 3 ORDER BY query_id, neg_rank""".stripMargin),
    // greedy MMR re-rank over the vector top-8 pool: k−1 chained
    // selection steps, each argmax(λ·rel − (1−λ)·max pairwise sim to
    // the selected set) with the (score DESC, cand_id) tie-break; all
    // similarity values are the DECIMAL-dot/exact-norm chain, so the
    // greedy trajectory is bit-identical cross-engine
    "q_mmr_topk" ->
      ("WITH " + chunkEmbFrag(64, 48, 8, 8) + ",\n" + docSearchFrag(10L) +
        ",\n" + mmrChainFrag(4, 8, "0.7", "0.3") +
        """
          |SELECT query_id, CAST(step AS BIGINT) AS rank,
          |       cand_id AS neighbor_id, round(score, 6) AS mmr
          |FROM mall4 ORDER BY query_id, rank""".stripMargin),
    // query-likelihood retrieval (Dirichlet μ=100): matched-term part
    // Σ qtf·ln(1 + tf·|C|/(μ·ctf)) + doc part |q|·ln(μ/(dl+μ)); every
    // ln quantized, products quantized, DECIMAL accumulation
    "q_ql_dirichlet" -> qlTopKOracleSql,
    // QL served from the SAME posting store BM25 serves from: one
    // lexical artifact, many scoring models — shares the inline oracle
    // VERBATIM (any store-side posting drift breaks both hashes)
    "q_ql_saved" -> qlTopKOracleSql,
    // three-way RRF: BM25 + QL + vector lists fused Σ 1/(60+rank);
    // variable-arity contributions quantized then DECIMAL-summed
    "q_hybrid_3way" ->
      ("WITH " + chunkEmbFrag(64, 48, 8, 8) + ",\n" + docSearchFrag(10L) +
        ",\n" + bm25Frag(10L, 1.2, 0.75) + ",\n" + qlChainFrag(10L) +
        ",\n" + rrf3ChainFrag(10, "60.0") +
        """
          |SELECT query_id, CAST(rk AS BIGINT) AS rank, cand_id AS neighbor_id,
          |       round(s, 6) AS rrf3
          |FROM t3rk WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin),
    // cross-encoder re-rank: hybrid top-10 re-scored by the
    // deterministic pair-scorer stand-in (md5 of the two text digests
    // mod 1000001, scaled) — the hybrid chain shared verbatim, the
    // re-rank list-sized
    "q_ce_rerank" ->
      ("WITH " + chunkEmbFrag(64, 48, 8, 8) + ",\n" + docSearchFrag(10L) +
        ",\n" + bm25Frag(10L, 1.2, 0.75) + ",\n" + rrfChainFrag(10, "60.0") +
        """,
          |cel AS (SELECT query_id, cand_id FROM frk WHERE rk <= 10),
          |cth AS (SELECT doc_id, md5(text) AS h FROM documents),
          |cesc AS (
          |  SELECT l.query_id, l.cand_id,
          |    CAST((('0x' || substr(md5(qh.h || ':' || ch.h), 1, 15))::UBIGINT::BIGINT
          |          % 1000001) AS DOUBLE) / 1000000.0 AS s
          |  FROM cel l JOIN cth qh ON qh.doc_id = l.query_id
          |       JOIN cth ch ON ch.doc_id = l.cand_id),
          |cerk AS (SELECT query_id, cand_id, s,
          |         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, cand_id) AS rk
          |         FROM cesc)
          |SELECT query_id, CAST(rk AS BIGINT) AS rank, cand_id AS neighbor_id,
          |       round(s, 6) AS ce
          |FROM cerk WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin),
    // exact-phrase retrieval: each query's leading bigram intersected
    // through positional postings (pos+1 adjacency), ranked by
    // occurrence count — pure integer arithmetic
    "q_phrase_topk" -> phraseOracleSql,
    // the from-files positional serve is value-identical to inline —
    // oracle shared verbatim (the q_bm25_saved contract with positions)
    "q_phrase_saved" -> phraseOracleSql,
    // live-maintained positional store serves identically — the
    // replace-not-duplicate upsert is what the shared hash exercises
    "q_stream_phrase_fresh" -> phraseOracleSql,
    // late interaction (ColBERT-style): BM25 top-10 shortlist re-scored
    // by MaxSim over hash-derived per-term embeddings — the bm25 chain
    // shared verbatim; cosines through the quant6 law, MaxSim sum as
    // DECIMAL
    "q_maxsim_rerank" ->
      ("WITH " + bm25Frag(10L, 1.2, 0.75) + ",\n" + maxsimChainFrag(10) +
        """
          |SELECT query_id, CAST(rk AS BIGINT) AS rank, cand_id AS neighbor_id,
          |       round(s, 6) AS maxsim
          |FROM msrk WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin),
    // snippet extraction: per BM25 hit, the best 16-token window by
    // distinct-query-term coverage (stride-8 windows cover every
    // position; tie → earliest) — the bm25 chain shared verbatim
    "q_snippets" ->
      ("WITH " + bm25Frag(10L, 1.2, 0.75) +
        """,
          |shits AS (SELECT query_id, rk, cand_id AS doc_id FROM brk WHERE rk <= 3),
          |sqt AS (SELECT DISTINCT doc_id AS q_id, term FROM btf WHERE doc_id < 10),
          |stoks AS (
          |  SELECT h.query_id, h.rk, d.doc_id,
          |    list_filter(string_split_regex(lower(d.text), '[^a-z0-9]+'),
          |                t -> t <> '') AS toks
          |  FROM shits h JOIN documents d ON d.doc_id = h.doc_id),
          |swin AS (
          |  SELECT query_id, rk, doc_id, toks,
          |         unnest(range(0, len(toks), 8)) AS start
          |  FROM stoks),
          |swt AS (
          |  SELECT query_id, rk, doc_id, start,
          |    least(16, len(toks) - start) AS n_tok,
          |    unnest(list_distinct(toks[start+1 : start+least(16, len(toks)-start)])) AS term
          |  FROM swin),
          |smt AS (
          |  SELECT w.query_id, w.rk, w.doc_id, w.start, w.n_tok,
          |         count(DISTINCT w.term) AS n_matched
          |  FROM swt w JOIN sqt q ON q.q_id = w.query_id AND q.term = w.term
          |  GROUP BY 1,2,3,4,5),
          |sbest AS (SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
          |                    ORDER BY n_matched DESC, start) AS brn
          |          FROM smt)
          |SELECT query_id, CAST(rk AS BIGINT) AS rank, doc_id,
          |       CAST(start AS BIGINT) AS start_tok, CAST(n_tok AS BIGINT) AS n_tok,
          |       CAST(n_matched AS BIGINT) AS n_matched
          |FROM sbest WHERE brn = 1 ORDER BY query_id, rank""".stripMargin),
    // doc-tier ANN graduation: the q_doc_embed pooled vectors served
    // through the SHARED ivfPqRankedFrag chain — brute force and index
    // retrieve over the same vectors, so the tiers can never drift
    "q_doc_ivfpq" ->
      ("WITH " + chunkEmbFrag(64, 48, 8, 8) + ",\n" + docVecFrag(8) + ",\n" +
        ivfPqRankedFrag(2, 2, "demb", 10L) +
        rerankSuffixSql(15, "demb", 5)),
    // corpus topic map: trained Lloyd clusters over pooled doc vectors,
    // labeled by cluster-level rational tf·(N/df) top terms — the
    // kmeans chain and the posting stats shared verbatim
    "q_doc_topics" ->
      ("WITH " + chunkEmbFrag(64, 48, 8, 8) + ",\n" + docVecFrag(8) + ",\n" +
        kmeansCentChainFrag(2, "demb", "dt") + ",\n" +
        bm25Frag(10L, 1.2, 0.75) +
        """,
          |dtsc AS (
          |  SELECT e.vec_id, c.clabel,
          |    -2.0 * list_dot_product(e.embedding::DOUBLE[], c.c)
          |      + list_dot_product(c.c, c.c) AS s
          |  FROM demb e CROSS JOIN dtcent2 c),
          |dta AS (
          |  SELECT vec_id AS doc_id, clabel AS cluster FROM (
          |    SELECT vec_id, clabel,
          |           row_number() OVER (PARTITION BY vec_id ORDER BY s, clabel) AS rk
          |    FROM dtsc) WHERE rk = 1),
          |dtn AS (SELECT cluster, count(*) AS n_docs FROM dta GROUP BY 1),
          |dtf AS (SELECT a.cluster, t.term, CAST(sum(t.tf) AS DOUBLE) AS stf
          |        FROM btf t JOIN dta a ON a.doc_id = t.doc_id GROUP BY 1,2),
          |dtww AS (SELECT w.cluster, w.term,
          |                w.stf * bst.n_docs / CAST(d.df AS DOUBLE) AS wt
          |         FROM dtf w JOIN bdfr d USING (term) CROSS JOIN bst),
          |dtr AS (SELECT *, row_number() OVER (PARTITION BY cluster
          |               ORDER BY wt DESC, term) AS trk
          |        FROM dtww)
          |SELECT r.cluster, n.n_docs, CAST(r.trk AS BIGINT) AS term_rank, r.term,
          |       floor(r.wt * 1000000.0 + 0.5) / 1000000.0 AS weight
          |FROM dtr r JOIN dtn n USING (cluster)
          |WHERE r.trk <= 3 ORDER BY cluster, term_rank""".stripMargin),
    // hybrid at index scale: BM25 fused with the doc-tier IVF-PQ
    // rerank serve — the ADC chain, the exact re-rank, and the BM25
    // chain all shared verbatim with their standalone queries
    "q_hybrid_ivfpq" ->
      ("WITH " + chunkEmbFrag(64, 48, 8, 8) + ",\n" + docVecFrag(8) + ",\n" +
        ivfPqRankedFrag(2, 2, "demb", 10L) + ",\n" +
        rerankChainFrag(15, "demb") + ",\n" + bm25Frag(10L, 1.2, 0.75) +
        rrfSuffixSqlFrom(10, 5, "60.0", "rr", "neighbor_id")),
    // chunk-level dedup: a chunk is duplicated iff its hash spans >= 2
    // distinct documents; per-doc census of shared-chunk mass
    "q_chunk_dedup" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents),
        |b2 AS (SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) > 0),
        |st AS (SELECT doc_id, toks, n, unnest(range(0, n, 48)) AS start FROM b2),
        |ch AS (
        |  SELECT doc_id,
        |    md5(array_to_string(toks[start+1 : start + least(64, n - start)], ' '))
        |      AS chunk_hash
        |  FROM st),
        |dup AS (
        |  SELECT chunk_hash FROM ch
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |per AS (
        |  SELECT ch.doc_id, count(*) AS n_dup_chunks
        |  FROM ch JOIN dup USING (chunk_hash) GROUP BY 1),
        |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY 1)
        |SELECT tot.doc_id, CAST(tot.n_chunks AS BIGINT) AS n_chunks,
        |  CAST(coalesce(per.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
        |  round(coalesce(per.n_dup_chunks, 0) / tot.n_chunks, 6) AS dup_chunk_frac
        |FROM tot LEFT JOIN per ON tot.doc_id = per.doc_id
        |ORDER BY tot.doc_id""".stripMargin,
    "q_hash_split" ->
      """WITH b AS (
        |  SELECT CASE
        |    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT::BIGINT % 100 < 80 THEN 'train'
        |    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT::BIGINT % 100 < 90 THEN 'valid'
        |    ELSE 'test' END AS split,
        |    length(text) AS n_chars_doc, lang
        |  FROM documents)
        |SELECT split, count(*) AS n_docs,
        |       CAST(sum(n_chars_doc) AS BIGINT) AS n_chars,
        |       count(DISTINCT lang) AS n_langs
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin,
    "q_window_topk" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |           ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin,
    // the full rank-function family over one total-ordered window
    "q_window_ranks" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rk, dense_rk,
        |       pct_rank, cume, quartile FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER w AS rk,
        |         dense_rank() OVER w AS dense_rk,
        |         round(percent_rank() OVER w, 6) AS pct_rank,
        |         round(cume_dist() OVER w, 6) AS cume,
        |         CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority
        |               ORDER BY o_totalprice DESC, o_orderkey))
        |WHERE rk <= 5 ORDER BY o_orderpriority, rk""".stripMargin,
    "q_window_lag" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT user_id, count(gap_us) AS n_gaps,
        |       CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
        |       max(gap_us) AS max_gap_us
        |FROM g GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q_window_running" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
        |FROM events ORDER BY event_id""".stripMargin,
    "q_window_range" ->
      """WITH e AS (SELECT event_id, user_id, value, epoch_us(ts) AS us FROM events)
        |SELECT event_id, user_id,
        |  count(*) OVER w AS n_hour,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_value_hour
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_topk_global" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q_set_ops" ->
      """WITH building AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment='BUILDING'),
        |     buyers AS (SELECT DISTINCT o_custkey AS k FROM orders)
        |SELECT 'except' AS op, count(*) AS n FROM (SELECT k FROM building EXCEPT SELECT k FROM buyers)
        |UNION ALL
        |SELECT 'intersect', count(*) FROM (SELECT k FROM building INTERSECT SELECT k FROM buyers)
        |UNION ALL
        |SELECT 'union', count(*) FROM (SELECT k FROM building UNION SELECT k FROM buyers)
        |ORDER BY op""".stripMargin,
    "q_distinct_agg" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_buyers,
        |       count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    "q_window_sliding" ->
      """WITH e AS (
        |  SELECT (epoch_us(ts) // 21600000000) * 21600 AS w1, event_type, value
        |  FROM events),
        |ex AS (
        |  SELECT w1 AS window_start_s, event_type, value FROM e
        |  UNION ALL
        |  SELECT w1 - 21600, event_type, value FROM e)
        |SELECT window_start_s, event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM ex GROUP BY 1,2 ORDER BY window_start_s, event_type""".stripMargin,
    // windowed DAU: distinct users per sliding pane
    "q_sliding_distinct" ->
      """WITH e AS (
        |  SELECT (epoch_us(ts) // 21600000000) * 21600 AS w1, user_id
        |  FROM events),
        |ex AS (
        |  SELECT w1 AS window_start_s, user_id FROM e
        |  UNION ALL
        |  SELECT w1 - 21600, user_id FROM e)
        |SELECT window_start_s, count(DISTINCT user_id) AS n_users,
        |       count(*) AS n_events
        |FROM ex GROUP BY 1 ORDER BY window_start_s""".stripMargin,
    "q_text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |           t -> t <> '')) AS term
        |  FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT lang, term, count(*) AS tf, count(DISTINCT doc_id) AS df,
        |       round(CAST(count(*) AS DOUBLE) * (SELECT n_docs FROM n)
        |             / count(DISTINCT doc_id), 6) AS tfidf_rational
        |FROM toks GROUP BY 1,2 HAVING count(*) >= 5
        |ORDER BY lang, term""".stripMargin,
    "q_text_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |           t -> t <> '')) AS term
        |  FROM documents)
        |SELECT lang, term, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM toks GROUP BY 1,2 HAVING count(*) >= 5
        |ORDER BY lang, term""".stripMargin,
    "q_text_quality" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks,
        |    length(text) AS n_chars_txt,
        |    length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_alnum
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, len(toks) AS n_tokens, n_chars_txt, n_alnum,
        |    len(list_filter(toks, t -> t IN ('the','a','of','and','in','to','is'))) AS n_stop,
        |    coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS sum_len
        |  FROM base)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  round(CASE WHEN n_tokens > 0 THEN CAST(sum_len AS DOUBLE)/n_tokens ELSE 0.0 END, 6) AS avg_token_len,
        |  round(CASE WHEN n_chars_txt > 0 THEN CAST(n_alnum AS DOUBLE)/n_chars_txt ELSE 0.0 END, 6) AS alnum_ratio,
        |  round(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0.0 END, 6) AS stop_ratio,
        |  round(0.4*(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0.0 END)
        |      + 0.3*(CASE WHEN n_chars_txt > 0 THEN CAST(n_alnum AS DOUBLE)/n_chars_txt ELSE 0.0 END)
        |      + 0.3*(CAST(least(n_tokens, 100) AS DOUBLE)/100.0), 6) AS quality_score
        |FROM scored ORDER BY doc_id""".stripMargin,
    // per-lang top fifth by the composite score; keep = 5·rk ≤ n+4
    // (exact ⌈n/5⌉ in integer arithmetic, shared with the Spark plan)
    "q_quality_topfrac" ->
      """WITH base AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks,
        |    length(text) AS n_chars_txt,
        |    length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS n_alnum
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang, len(toks) AS n_tokens, n_chars_txt, n_alnum,
        |    len(list_filter(toks, t -> t IN ('the','a','of','and','in','to','is'))) AS n_stop
        |  FROM base),
        |q AS (
        |  SELECT doc_id, lang,
        |    round(0.4*(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0.0 END)
        |        + 0.3*(CASE WHEN n_chars_txt > 0 THEN CAST(n_alnum AS DOUBLE)/n_chars_txt ELSE 0.0 END)
        |        + 0.3*(CAST(least(n_tokens, 100) AS DOUBLE)/100.0), 6) AS quality_score
        |  FROM s),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY quality_score DESC, doc_id) AS rk,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM q)
        |SELECT lang, CAST(rk AS BIGINT) AS rank, doc_id, quality_score
        |FROM r WHERE rk * 5 <= n + 4
        |ORDER BY lang, rank""".stripMargin,
    "q_text_langid" ->
      """WITH base AS (
        |  SELECT lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents),
        |scored AS (
        |  SELECT lang,
        |    len(list_filter(toks, t -> t IN ('der','die','das','und','zu','ist','nicht'))) AS s_de,
        |    len(list_filter(toks, t -> t IN ('the','a','of','and','to','is','not'))) AS s_en,
        |    len(list_filter(toks, t -> t IN ('el','la','de','y','que','es','no'))) AS s_es
        |  FROM base)
        |SELECT lang AS actual_lang,
        |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de > 0 THEN 'de'
        |       WHEN s_en >= s_es AND s_en > 0 THEN 'en'
        |       WHEN s_es > 0 THEN 'es' ELSE 'und' END AS predicted_lang,
        |  count(*) AS n_docs
        |FROM scored GROUP BY 1,2 ORDER BY actual_lang, predicted_lang""".stripMargin,
    "q_text_tokens" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT) AS ws_tokens,
        |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS bpe_tokens
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,
    // per-doc keyword extraction: log-free tf·(N/df) weight (one
    // multiply one divide on integers — IEEE-exact), (w DESC, term)
    // tie-break; doc_id-led window, corpus-cardinality parallel
    "q_keywords" ->
      """WITH ktok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |           t -> t <> '')) AS term
        |  FROM documents),
        |ktf AS (SELECT doc_id, term, count(*) AS tf FROM ktok GROUP BY 1,2),
        |kdf AS (SELECT term, count(*) AS df FROM ktf GROUP BY 1),
        |kn AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |kw AS (SELECT t.doc_id, t.term,
        |         CAST(t.tf AS DOUBLE) * kn.n_docs / CAST(d.df AS DOUBLE) AS w
        |       FROM ktf t JOIN kdf d USING (term) CROSS JOIN kn),
        |krk AS (SELECT doc_id, term, w,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, term) AS rk
        |        FROM kw)
        |SELECT doc_id, CAST(rk AS BIGINT) AS kw_rank, term, round(w, 6) AS weight
        |FROM krk WHERE rk <= 3 ORDER BY doc_id, kw_rank""".stripMargin,
    // tokenizer fertility per language: Σbpe/Σws as one IEEE division
    // on exact integer sums — the multilingual tokenizer-fairness metric
    "q_token_fertility" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT) AS ws_tokens,
        |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS bpe_tokens,
        |  round(CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS DOUBLE)
        |        / CAST(sum(len(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE), 6) AS fertility
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,
    "q_doc_fingerprint" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 4
        |         THEN [array_to_string(toks[i:i+3], ' ') for i in range(1, len(toks)-2)]
        |         ELSE [] END AS sh
        |  FROM base)
        |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
        |  CASE WHEN len(sh) > 0 THEN list_min(list_transform(sh, s -> md5(s))) ELSE NULL END AS fingerprint
        |FROM sh ORDER BY doc_id""".stripMargin,
    // streaming dedup vs the accumulated store: batches arrive in doc_id
    // range order and within-batch ties keep the lowest doc_id, so the
    // survivor set is exactly min-doc_id-per-fingerprint (null
    // fingerprints — too few tokens to shingle — always pass through)
    "q_stream_histdedup" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 4
        |         THEN [array_to_string(toks[i:i+3], ' ') for i in range(1, len(toks)-2)]
        |         ELSE [] END AS sh
        |  FROM base),
        |fp AS (
        |  SELECT doc_id,
        |    CASE WHEN len(sh) > 0 THEN list_min(list_transform(sh, s -> md5(s))) ELSE NULL END AS fingerprint
        |  FROM sh),
        |sel AS (
        |  SELECT doc_id, fingerprint,
        |         min(doc_id) OVER (PARTITION BY fingerprint) AS mn
        |  FROM fp)
        |SELECT doc_id, fingerprint FROM sel
        |WHERE fingerprint IS NULL OR doc_id = mn
        |ORDER BY doc_id""".stripMargin,
    // streaming near-dup vs the accumulated simhash index: a doc is
    // dropped iff some EARLIER-batch doc is within hamming 3 (banding is
    // exact for <=3); batch = contiguous doc_id range, derivable in SQL
    // drained incremental linkage ≡ batch resolution on the full catalog
    // (verbatim-share of the q_entity_resolve chain, minus block_key —
    // the q_stream_scd2 device): envelope ⋈ final-generation entity map
    "q_stream_entity" -> streamEntityOracleSql(0.8),
    "q_stream_neardedup" ->
      """WITH sfp AS (
        |  SELECT doc_id,
        |    CAST(list_sum([CASE WHEN list_sum([((h >> j) & 1)*2 - 1 for h in hs]) > 0
        |         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
        |         for j in range(0, 60)]) AS BIGINT) AS simhash
        |  FROM (
        |    SELECT doc_id,
        |      [CAST(('0x' || substr(md5(t),1,15))::UBIGINT AS BIGINT) for t in
        |        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')] AS hs
        |    FROM documents)),
        |bounds AS (
        |  SELECT min(doc_id) AS lo,
        |         CAST((max(doc_id) - min(doc_id) + 3) // 3 AS BIGINT) AS span
        |  FROM documents),
        |bat AS (
        |  SELECT doc_id, simhash,
        |         CAST((doc_id - (SELECT lo FROM bounds)) // (SELECT span FROM bounds) AS BIGINT) AS b
        |  FROM sfp),
        |banded AS (
        |  SELECT doc_id, simhash, b, band, (simhash >> (band*15)) % 32768 AS band_key
        |  FROM bat, unnest(range(0, 4)) AS t(band)),
        |drops AS (
        |  SELECT DISTINCT y.doc_id
        |  FROM banded x JOIN banded y
        |    ON x.band = y.band AND x.band_key = y.band_key AND x.b < y.b
        |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3)
        |SELECT doc_id, simhash FROM sfp
        |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
        |ORDER BY doc_id""".stripMargin,
    "q_similarity_topk" ->
      """WITH b AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm FROM b WHERE vec_id < 20),
        |pairs AS (
        |  SELECT q.query_id, b.vec_id AS neighbor_id,
        |         list_dot_product(q.q_emb, b.emb) / (b.nrm * q.q_nrm) AS sim
        |  FROM b, q WHERE b.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
        |  FROM pairs)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, round(sim, 6) AS sim
        |FROM ranked WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin,
    // sign-bit binary quantization: two 32-bit packed halves (one
    // 64-bit word would overflow SIGNED addition, which DuckDB rejects)
    "q_binary_quant" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |c AS (SELECT vec_id,
        |  CAST(list_sum([CASE WHEN e[i] > 0 THEN 1::BIGINT << (i-1)
        |                 ELSE 0 END for i in range(1,33)]) AS BIGINT) AS code_lo,
        |  CAST(list_sum([CASE WHEN e[i] > 0 THEN 1::BIGINT << (i-33)
        |                 ELSE 0 END for i in range(33,65)]) AS BIGINT) AS code_hi
        |  FROM v)
        |SELECT vec_id, code_lo, code_hi,
        |  CAST(bit_count(code_lo) + bit_count(code_hi) AS BIGINT) AS n_bits
        |FROM c ORDER BY vec_id""".stripMargin,
    // two-stage binary serve: XOR-popcount Hamming shortlist (ham asc,
    // id asc — the TopKAgg total order) -> exact cosine re-rank
    "q_hamming_search" -> hammingOracleSql,
    // serve-from-saved-codes and streamed upsert maintenance are
    // value-identical to the inline serve -> oracle shared verbatim
    "q_binary_saved" -> hammingOracleSql,
    "q_stream_binary_fresh" -> hammingOracleSql,
    // Matryoshka prefix-dim serve: cosine on the first 16 components
    // bounds the shortlist, full-dim cosine re-ranks it
    "q_matryoshka_search" ->
      """WITH b AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |         sqrt(list_dot_product(embedding::DOUBLE[],
        |                               embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |p AS (SELECT vec_id, emb, nrm, emb[1:16] AS pre,
        |        sqrt(list_dot_product(emb[1:16], emb[1:16])) AS pnrm
        |      FROM b),
        |qp AS (SELECT vec_id AS query_id, pre AS q_pre, pnrm AS q_pnrm
        |       FROM p WHERE vec_id < 20 AND pnrm > 0),
        |ps AS (
        |  SELECT qp.query_id, p.vec_id AS neighbor_id,
        |         list_dot_product(p.pre, qp.q_pre)
        |           / (p.pnrm * qp.q_pnrm) AS psim
        |  FROM p, qp WHERE p.vec_id <> qp.query_id AND p.pnrm > 0),
        |sl AS (
        |  SELECT query_id, neighbor_id,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY psim DESC, neighbor_id) AS rk
        |  FROM ps),
        |qq AS (SELECT vec_id AS qid, emb AS q_emb, nrm AS q_nrm
        |       FROM b WHERE vec_id < 20),
        |re AS (
        |  SELECT s.query_id, s.neighbor_id,
        |         list_dot_product(b.emb, qq.q_emb) / (b.nrm * qq.q_nrm) AS sim
        |  FROM sl s JOIN b ON s.neighbor_id = b.vec_id
        |            JOIN qq ON s.query_id = qq.qid
        |  WHERE s.rk <= 50),
        |rr AS (
        |  SELECT query_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY sim DESC, neighbor_id) AS rk
        |  FROM re)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
        |       round(sim, 6) AS sim
        |FROM rr WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin,
    "q_embed_quantize" -> sq8CensusOracleSql,
    // per-vector census is stateless, so the drained micro-batch union is
    // bit-identical to the batch census — same oracle (the q_cms device)
    "q_stream_sq8" -> sq8CensusOracleSql,
    "q_sq_search" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |s AS (SELECT vec_id, e,
        |        list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
        |      FROM v),
        |r AS (SELECT vec_id, e,
        |        [CASE WHEN scale > 0
        |              THEN floor(e[i] / scale + 0.5) * scale
        |              ELSE 0.0 END for i in range(1, len(e)+1)] AS recon
        |      FROM s),
        |b AS (SELECT vec_id, e, recon,
        |        sqrt(list_dot_product(e, e)) AS nrm_e,
        |        sqrt(list_dot_product(recon, recon)) AS nrm_r
        |      FROM r),
        |q AS (SELECT vec_id AS query_id, e AS q_emb, nrm_e AS q_nrm
        |      FROM b WHERE vec_id < 20),
        |pairs AS (
        |  SELECT q.query_id, b.vec_id AS neighbor_id,
        |         list_dot_product(b.recon, q.q_emb) / (b.nrm_r * q.q_nrm) AS sim
        |  FROM b, q WHERE b.vec_id <> q.query_id AND b.nrm_r > 0),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
        |  FROM pairs)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, round(sim, 6) AS sim
        |FROM ranked WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin,
    "q_similarity_join" ->
      """WITH b AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
        |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings)
        |SELECT a.label, a.vec_id AS a_id, c.vec_id AS b_id,
        |       round(list_dot_product(a.emb, c.emb) / (a.nrm * c.nrm), 6) AS sim
        |FROM b a JOIN b c ON a.label = c.label AND a.vec_id < c.vec_id
        |WHERE list_dot_product(a.emb, c.emb) / (a.nrm * c.nrm) >= 0.3
        |ORDER BY a_id, b_id""".stripMargin,
    "q_centroids" ->
      """WITH ex AS (
        |  SELECT label,
        |    unnest([{'dim': i-1, 'val': embedding[i]} for i in range(1, len(embedding)+1)],
        |           recursive := true)
        |  FROM embeddings)
        |SELECT label, CAST(dim AS INT) AS dim,
        |       CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
        |FROM ex GROUP BY 1,2 ORDER BY label, dim""".stripMargin,
    "q_stream_land" ->
      """SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d, hour(ts) AS h,
        |       count(DISTINCT event_id) AS n_events
        |FROM events GROUP BY 1,2,3,4 ORDER BY y, m, d, h""".stripMargin,
    // the DSv2 graft-shards source must land EXACTLY the events the file
    // stand-in lands — oracle shared verbatim with q_stream_land
    "q_stream_land_dsv2" ->
      """SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d, hour(ts) AS h,
        |       count(DISTINCT event_id) AS n_events
        |FROM events GROUP BY 1,2,3,4 ORDER BY y, m, d, h""".stripMargin,
    // post-upsert state: every 10th event replaced (not appended) by its
    // correction — counts match the raw corpus, corrected flags and the
    // +1000 value shift land exactly
    "q_land_upsert" ->
      """WITH merged AS (
        |  SELECT event_id, ts,
        |    CASE WHEN event_id % 10 = 0 THEN value + 1000.0 ELSE value END AS value,
        |    CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS corrected
        |  FROM events)
        |SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d,
        |       count(*) AS n_events,
        |       CAST(sum(corrected) AS BIGINT) AS n_corrected,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM merged GROUP BY 1,2,3 ORDER BY y, m, d""".stripMargin,
    "q_stream_tumbling" ->
      """SELECT (epoch_us(ts) // 21600000000) * 21600 AS window_start_s, event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY window_start_s, event_type""".stripMargin,
    // the streaming sliding twin shares the batch q_window_sliding frame:
    // each event belongs to width/slide = 2 overlapping 12h windows
    "q_stream_sliding" ->
      """WITH e AS (
        |  SELECT (epoch_us(ts) // 21600000000) * 21600 AS w1, event_type, value
        |  FROM events),
        |ex AS (
        |  SELECT w1 AS window_start_s, event_type, value FROM e
        |  UNION ALL
        |  SELECT w1 - 21600, event_type, value FROM e)
        |SELECT window_start_s, event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM ex GROUP BY 1,2 ORDER BY window_start_s, event_type""".stripMargin,
    // stream-stream interval join: purchases × same-user views within the
    // trailing hour — the static frame is a plain self-join with the same
    // time-range predicate (micros arithmetic, both engines exact)
    "q_stream_ssjoin" ->
      """SELECT p.event_id AS p_id, v.event_id AS v_id,
        |       epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
        |FROM events p JOIN events v
        |  ON p.user_id = v.user_id
        | AND p.event_type = 'purchase' AND v.event_type = 'view'
        | AND epoch_us(v.ts) >= epoch_us(p.ts) - 3600000000
        | AND epoch_us(v.ts) <= epoch_us(p.ts)
        |ORDER BY p_id, v_id""".stripMargin,
    // both sides' unmatched rows surface with −1 ids; the batch full
    // join is the drained stream's twin
    "q_stream_ssjoin_full" ->
      """SELECT CAST(coalesce(p.event_id, -1) AS BIGINT) AS p_id,
        |       CAST(coalesce(v.event_id, -1) AS BIGINT) AS v_id,
        |       CAST(coalesce(epoch_us(p.ts) - epoch_us(v.ts), -1) AS BIGINT) AS lag_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id
        | AND epoch_us(v.ts) >= epoch_us(p.ts) - 3600000000
        | AND epoch_us(v.ts) <= epoch_us(p.ts)
        |ORDER BY p_id, v_id""".stripMargin,
    // unmatched purchases surface with v_id = −1 (the watermark-flushed
    // outer rows); the batch left join is the drained stream's twin
    "q_stream_ssjoin_outer" ->
      """SELECT p.event_id AS p_id,
        |       CAST(coalesce(v.event_id, -1) AS BIGINT) AS v_id,
        |       CAST(coalesce(epoch_us(p.ts) - epoch_us(v.ts), -1) AS BIGINT) AS lag_us
        |FROM events p LEFT JOIN events v
        |  ON p.user_id = v.user_id
        | AND v.event_type = 'view'
        | AND epoch_us(v.ts) >= epoch_us(p.ts) - 3600000000
        | AND epoch_us(v.ts) <= epoch_us(p.ts)
        |WHERE p.event_type = 'purchase'
        |ORDER BY p_id, v_id""".stripMargin,
    // session_window treats an event at exactly start+gap as a NEW session
    // (half-open interval), hence >= in the gap predicate below — the batch
    // q_sessionize uses > with lag(), a deliberate boundary-semantics pair.
    "q_stream_session" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
        |                 THEN 1 ELSE 0 END AS new_session FROM e),
        |numbered AS (
        |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM flagged)
        |SELECT user_id, min(us) AS session_start_us, max(us) AS session_end_us,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM numbered GROUP BY user_id, session_no
        |ORDER BY user_id, session_start_us""".stripMargin,
    // dynamic gap = per-event interval [ts, ts+gap(type)); sessions are
    // the MERGED intervals, so the twin is a running-max (cummax)
    // gaps-and-islands, not a lag() check — a later short-gap event can
    // sit inside an earlier purchase's 60-minute extension
    "q_stream_session_dyn" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |         epoch_us(ts) + CASE WHEN event_type = 'purchase'
        |                             THEN 3600000000 ELSE 1800000000 END AS en
        |  FROM events),
        |o AS (
        |  SELECT *, max(en) OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_en
        |  FROM e),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_max_en IS NULL OR us >= prev_max_en
        |                 THEN 1 ELSE 0 END AS new_session FROM o),
        |numbered AS (
        |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM flagged)
        |SELECT user_id, min(us) AS session_start_us, max(en) AS session_end_us,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM numbered GROUP BY user_id, session_no
        |ORDER BY user_id, session_start_us""".stripMargin,
    // text is pure ASCII, so byte values == ascii codes — the oracle
    // reproduces the stub decoder's byte math from the characters
    "q_multimodal_features" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(list_sum([ascii(c) for c in string_split(text, '')]) AS DOUBLE)
        |    / strlen(text) AS f_mean,
        |  CAST(list_max([ascii(c) for c in string_split(text, '')])
        |     - list_min([ascii(c) for c in string_split(text, '')]) AS INT) AS f_range,
        |  CAST(strlen(text) % 256 AS INT) AS f_mod
        |FROM documents ORDER BY doc_id""".stripMargin,
    // REAL decode round trip: Spark encodes deterministic grayscale PNGs
    // (pixel = (doc_id*31 + x*7 + y*13) % 256) and decodes them back with
    // javax.imageio; PNG is lossless, so the oracle recomputes the decoded
    // statistics in closed form from doc_id — a decode bug (wrong raster
    // band, truncated read, lossy path) breaks the hash
    "q_multimodal_decode" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |         CAST(doc_id % 13 + 4 AS INT) AS width,
        |         CAST(doc_id % 11 + 4 AS INT) AS height
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, width, height,
        |    [ (doc_id*31 + (i % width)*7 + (i // width)*13) % 256
        |      for i in range(0, width*height) ] AS ps
        |  FROM dims)
        |SELECT doc_id, width, height,
        |       CAST(width AS BIGINT) * height AS n_pixels,
        |       CAST(list_sum(ps) AS BIGINT) AS pixel_sum,
        |       CAST(list_min(ps) AS INT) AS pixel_min,
        |       CAST(list_max(ps) AS INT) AS pixel_max,
        |       CAST(list_sum(ps) AS DOUBLE) / (width * height) AS pixel_mean
        |FROM px ORDER BY doc_id""".stripMargin,
    // REAL audio decode round trip: hand-written RIFF/WAVE PCM containers
    // (sample = closed-form function of doc_id, i) parsed back with
    // javax.sound; PCM is lossless, so the oracle recomputes the decoded
    // sample statistics from doc_id alone
    "q_multimodal_audio" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id % 100 + 50 AS BIGINT) AS n FROM documents),
        |s AS (
        |  SELECT doc_id, n,
        |    [ (doc_id*37 + i*11) % 65536 - 32768 for i in range(0, n) ] AS ss
        |  FROM d)
        |SELECT doc_id, CAST(16000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
        |       n AS n_samples,
        |       CAST(list_sum(ss) AS BIGINT) AS sample_sum,
        |       CAST(list_min(ss) AS INT) AS sample_min,
        |       CAST(list_max(ss) AS INT) AS sample_max
        |FROM s ORDER BY doc_id""".stripMargin,
    // frame sampling census: evenly-spaced 16-byte slices of the video
    // payloads; ASCII stand-in text makes the slices reproducible with
    // substring arithmetic (integer // matches Spark's cast-truncate on
    // the non-negative offsets)
    "q_multimodal_frames" ->
      """WITH v AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT doc_id,
        |    [substring(text, CAST((i * greatest(n - 16, 0)) // 3 AS INT) + 1, 16)
        |     for i in range(0, 4)] AS fr
        |  FROM v)
        |SELECT doc_id, CAST(len(fr) AS BIGINT) AS n_frames,
        |       CAST(length(array_to_string(fr, '')) AS BIGINT) AS n_frame_bytes,
        |       md5(array_to_string(fr, '')) AS digest
        |FROM f ORDER BY doc_id""".stripMargin,
    "q_land_compact" ->
      """SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d,
        |       count(DISTINCT event_id) AS n_events
        |FROM events GROUP BY 1,2,3 ORDER BY y, m, d""".stripMargin,
    "q_percentiles" ->
      """SELECT o_orderstatus,
        |       quantile_cont(o_totalprice, 0.5) AS p50,
        |       quantile_cont(o_totalprice, 0.9) AS p90,
        |       quantile_cont(o_totalprice, 0.99) AS p99,
        |       count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    "q_stream_segjoin" ->
      """SELECT user_id % 5 AS segment, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY segment""".stripMargin,
    "q_stream_flatstate" ->
      """SELECT user_id, event_type, count(*) AS n_events
        |FROM events GROUP BY 1,2 ORDER BY user_id, event_type""".stripMargin,
    "q_stream_state" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  max(epoch_us(ts)) AS last_us
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q_flatten_nested" ->
      """SELECT event_id,
        |  'sess-' || user_id AS visit_tealium_session_id,
        |  CASE WHEN user_id % 3 = 0 THEN 'guest'
        |       ELSE 'logged in:u' || user_id END AS visit_login_status,
        |  CASE WHEN user_id % 3 = 0 THEN NULL
        |       ELSE CAST(user_id AS VARCHAR) END AS visit_device_user_user_id,
        |  CASE WHEN user_id % 3 = 0 THEN NULL
        |       ELSE 'w' || user_id END AS visit_device_user_websphere_id,
        |  '/page/' || event_type AS pageview_page_url
        |FROM events ORDER BY event_id""".stripMargin,
    "q_login_status" ->
      """WITH s AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN 'guest' ELSE 'logged in' END AS status,
        |         CASE WHEN user_id % 3 = 0 THEN NULL ELSE 'w' || user_id END AS ws_id
        |  FROM events)
        |SELECT status, count(*) AS n_events, count(DISTINCT ws_id) AS n_users
        |FROM s GROUP BY 1 ORDER BY status""".stripMargin,
    // decoded_ref reproduces url_decode('p%2Fq+' || event_type):
    // %2F → '/', '+' → ' ' under x-www-form-urlencoded semantics
    "q_query_string_map" ->
      """SELECT event_type AS et, count(*) AS n_events,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_purchase_tagged,
        |  count(DISTINCT user_id) AS n_uids,
        |  min('p/q ' || event_type) AS decoded_ref
        |FROM events GROUP BY 1 ORDER BY et""".stripMargin,
    "q_ivf_assign" -> ivfAssignOracleSql,
    // streaming ingest assigns against the SAME codebook with the same
    // argmin/tie-break — the census is bit-identical to the batch one
    "q_stream_ivf_assign" -> ivfAssignOracleSql,
    "q_cluster_sample" -> clusterSampleOracleSql,
    // greedy k-center: k−1 unrolled argmax/update steps (the
    // pca/bradley-terry iteration-unroll device); d² terms through
    // list_dot_product = vec_dot's strict fold in the same association
    // order, so the per-round argmax compares identical doubles
    "q_coreset_fps" -> coresetFpsOracleSql(8),
    // same selection chain + quant6-before-argmin assignment census;
    // DECIMAL-exact mean through the quant6 floor law
    "q_coreset_cover" -> coresetCoverOracleSql(8),
    // signature-level resolution: structured candidate equi-joins +
    // prefix-pair blocking + recursive min-reach components; the chain
    // fragment and its θ-derived constants come from ErParams, shared
    // with the Spark side (EntityResolution.oracleChainFrag)
    "q_entity_resolve" -> entityResolveOracleSql(0.8),
    // same resolution chain + survivorship census (argmax by price
    // desc, key asc via row_number)
    "q_entity_canonical" -> entityCanonicalOracleSql(0.8),
    "q_ivf_search" ->
      """WITH ex AS (
        |  SELECT label,
        |    unnest([{'dim': i-1, 'val': embedding[i]} for i in range(1, len(embedding)+1)],
        |           recursive := true)
        |  FROM embeddings),
        |cent AS (
        |  SELECT label AS clabel, list(mean_val ORDER BY dim) AS c
        |  FROM (SELECT label, dim,
        |          CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
        |        FROM ex GROUP BY 1,2)
        |  GROUP BY 1),
        |scored AS (
        |  SELECT e.vec_id, c.clabel,
        |         -2.0 * list_dot_product(e.embedding::DOUBLE[], c.c)
        |           + list_dot_product(c.c, c.c) AS s
        |  FROM embeddings e CROSS JOIN cent c),
        |assignrk AS (
        |  SELECT vec_id, clabel,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY s, clabel) AS rk
        |  FROM scored),
        |b AS (
        |  SELECT e.vec_id, a.clabel AS assigned, e.embedding::DOUBLE[] AS emb,
        |         sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS nrm
        |  FROM embeddings e JOIN (SELECT vec_id, clabel FROM assignrk WHERE rk = 1) a
        |    USING (vec_id)),
        |q AS (SELECT vec_id AS query_id, assigned, emb AS q_emb, nrm AS q_nrm
        |      FROM b WHERE vec_id < 20),
        |pairs AS (
        |  SELECT q.query_id, b.vec_id AS neighbor_id,
        |         list_dot_product(b.emb, q.q_emb) / (b.nrm * q.q_nrm) AS sim
        |  FROM b JOIN q ON b.assigned = q.assigned AND b.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
        |  FROM pairs)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, round(sim, 6) AS sim
        |FROM ranked WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin,
    "q_ts_parse" ->
      """WITH t AS (SELECT make_timestamp((epoch_us(ts) // 1000) * 1000) AS p FROM events)
        |SELECT year(p) AS y, month(p) AS m, day(p) AS d, hour(p) AS h,
        |       count(*) AS n_events,
        |       min(epoch_us(p)) AS first_us, max(epoch_us(p)) AS last_us
        |FROM t GROUP BY 1,2,3,4 ORDER BY y, m, d, h""".stripMargin,
    "q_range_join" ->
      """WITH b AS (SELECT epoch_us(ts) AS us, value FROM events),
        |m AS (SELECT min((us // 86400000000) * 86400000000) AS min_day FROM b),
        |iv AS (
        |  SELECT k AS interval_id,
        |         min_day + k * 43200000000 AS start_us,
        |         min_day + k * 43200000000 + 129600000000 AS end_us
        |  FROM m, unnest(range(0, 60)) AS t(k))
        |SELECT interval_id, count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM iv JOIN b ON b.us >= iv.start_us AND b.us < iv.end_us
        |GROUP BY 1 ORDER BY interval_id""".stripMargin,
    "q_csv_roundtrip" ->
      """SELECT event_type, count(*) AS n_events,
        |       count(DISTINCT event_id) AS n_ids,
        |       min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    // lossless round-trip ⇒ the XML census equals the CSV census —
    // both oracles read the ORIGINAL events table
    "q_xml_roundtrip" ->
      """SELECT event_type, count(*) AS n_events,
        |       count(DISTINCT event_id) AS n_ids,
        |       min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_orc_roundtrip" ->
      """SELECT event_type, count(*) AS n_events,
        |       min(epoch_us(ts)) AS first_us,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_salted_agg" ->
      """SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_json_roundtrip" ->
      """SELECT event_type, count(*) AS n_events,
        |       count(DISTINCT event_id) AS n_ids,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_redact" ->
      """WITH c AS (
        |  SELECT event_type,
        |    'reach user' || user_id || ' at u' || user_id ||
        |      '@example.com or ref ' || event_id AS contact
        |  FROM events),
        |r AS (
        |  SELECT event_type,
        |    len(regexp_extract_all(contact, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_email,
        |    len(regexp_extract_all(contact, '[0-9]{4,}')) AS n_num,
        |    regexp_replace(regexp_replace(contact,
        |      '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'),
        |      '[0-9]{4,}', '<num>', 'g') AS redacted
        |  FROM c)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(n_email) AS BIGINT) AS n_emails,
        |  CAST(sum(n_num) AS BIGINT) AS n_nums,
        |  CAST(sum(length(redacted)) AS BIGINT) AS n_chars_redacted
        |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_cms_heavy" -> cmsOracleSql,
    // the streaming form aggregates the SAME seeded mergeable sketch
    // across micro-batches — associative merge ⇒ identical matrix ⇒ the
    // batch oracle applies verbatim
    "q_stream_cms" -> cmsOracleSql,
    "q_array_ops" ->
      """WITH b AS (
        |  SELECT event_type,
        |    list_sort(list_distinct(['raw_event', 'page_view', event_type,
        |                             'raw_event', 'audited'])) AS tags
        |  FROM events)
        |SELECT (event_type = 'purchase') AS has_purchase, count(*) AS n_events,
        |  CAST(sum(len(tags)) AS BIGINT) AS sum_tags,
        |  CAST(min(list_position(tags, 'audited')) AS BIGINT) AS min_audit_pos,
        |  count(*) AS n_all_nonempty,
        |  CAST(sum(6) AS BIGINT) AS sum_qs_flat
        |FROM b GROUP BY 1 ORDER BY has_purchase""".stripMargin,
    "q_neardup_jaccard" -> neardupOracleSql,
    // MinHash+LSH candidates are verified with the exact jaccard, and at
    // this threshold band recall is ~1 (1-(1-t^rows)^bands), so the sketch
    // path reproduces the exact result — it shares the exact oracle, which
    // is precisely the property a sketch-based dedup must be graded on.
    "q_neardup_minhash" -> neardupOracleSql,
    "q_minhash_estimate" -> minhashEstOracleSql,
    "q_dedup_simhash" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents),
        |hashed AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    [CAST(('0x' || substr(md5(t),1,15))::UBIGINT AS BIGINT) for t in toks] AS hs
        |  FROM base)
        |SELECT doc_id, n_tokens,
        |  CAST(list_sum([CASE WHEN list_sum([((h >> j) & 1)*2 - 1 for h in hs]) > 0
        |       THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
        |       for j in range(0, 60)]) AS BIGINT) AS simhash
        |FROM hashed ORDER BY doc_id""".stripMargin,
    // the spark.sql-surface twin computes the SAME fingerprints — it
    // shares q_dedup_simhash's oracle verbatim
    "q_simhash_sql" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents),
        |hashed AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    [CAST(('0x' || substr(md5(t),1,15))::UBIGINT AS BIGINT) for t in toks] AS hs
        |  FROM base)
        |SELECT doc_id, n_tokens,
        |  CAST(list_sum([CASE WHEN list_sum([((h >> j) & 1)*2 - 1 for h in hs]) > 0
        |       THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
        |       for j in range(0, 60)]) AS BIGINT) AS simhash
        |FROM hashed ORDER BY doc_id""".stripMargin,
    // SimHash hamming-≤3 pairs: rebuild the 60-bit fingerprint in SQL
    // (same construction as q_dedup_simhash), split into 4×15-bit bands,
    // band-equality self-join, verify with bit_count(xor) — the full
    // pigeonhole operator is ANSI-expressible.
    "q_neardup_simhash" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents),
        |hashed AS (
        |  SELECT doc_id,
        |    [CAST(('0x' || substr(md5(t),1,15))::UBIGINT AS BIGINT) for t in toks] AS hs
        |  FROM base),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(list_sum([CASE WHEN list_sum([((h >> j) & 1)*2 - 1 for h in hs]) > 0
        |         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
        |         for j in range(0, 60)]) AS BIGINT) AS simhash
        |  FROM hashed),
        |banded AS (
        |  SELECT doc_id, simhash, b AS band, (simhash >> (b*15)) % 32768 AS band_key
        |  FROM fp, unnest(range(0, 4)) AS t(b)),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |         a.simhash AS sh_a, b.simhash AS sh_b
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
        |SELECT a_id, b_id, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
        |FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,
    // eval-split docs sharing 5-gram shingles (df<=100) with train docs,
    // under the same md5-mod-100 split routing as q_hash_split
    "q_decontam" ->
      """WITH docs AS (
        |  SELECT doc_id, text,
        |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT::BIGINT % 100 < 80 THEN 'train'
        |         WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT::BIGINT % 100 < 90 THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, split,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM docs),
        |shs AS (
        |  SELECT doc_id, split, list_distinct(CASE WHEN len(toks) >= 5
        |    THEN [array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks)-3)]
        |    ELSE [] END) AS sh FROM toks),
        |ex AS (SELECT doc_id, split, unnest(sh) AS s FROM shs),
        |ok AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 100),
        |pruned AS (SELECT ex.doc_id, ex.split, ex.s FROM ex JOIN ok USING (s)),
        |tr AS (SELECT s, doc_id AS train_doc FROM pruned WHERE split = 'train'),
        |ev AS (SELECT s, split, doc_id AS eval_doc FROM pruned WHERE split <> 'train')
        |SELECT ev.split, ev.eval_doc, count(DISTINCT ev.s) AS n_shared_ngrams,
        |       count(DISTINCT tr.train_doc) AS n_train_docs
        |FROM ev JOIN tr USING (s)
        |GROUP BY 1,2 ORDER BY split, eval_doc""".stripMargin,
    // exact substring dedup (Lee et al. 2022): positional 5-grams, a gram
    // is duplicated when seen in >=2 distinct docs, covers merge by
    // gaps-and-islands (new span when start gap > k) into maximal spans.
    // Oracle positions are 1-based vs Spark's 0-based posexplode — only
    // gaps and lengths reach the output, which are offset-invariant.
    "q_substr_dedup" ->
      """WITH base AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents),
        |pos AS MATERIALIZED (
        |  SELECT doc_id,
        |    unnest([{'p': i, 'g': array_to_string(toks[i:i+4], ' ')}
        |            for i in range(1, len(toks)-3)], recursive := true)
        |  FROM base WHERE len(toks) >= 5),
        |dup AS (SELECT g FROM pos GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |dp AS (SELECT pos.doc_id, pos.p FROM pos JOIN dup USING (g)),
        |flg AS (
        |  SELECT doc_id, p,
        |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 5
        |         THEN 1 ELSE 0 END AS newisl
        |  FROM dp),
        |isl AS (
        |  SELECT doc_id, p,
        |    sum(newisl) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS UNBOUNDED PRECEDING) AS isl
        |  FROM flg),
        |spans AS (SELECT doc_id, isl, min(p) AS sp, max(p) + 4 AS ep
        |          FROM isl GROUP BY 1, 2),
        |per AS (
        |  SELECT doc_id, count(*) AS n_dup_spans,
        |    CAST(sum(ep - sp + 1) AS BIGINT) AS dup_tokens,
        |    CAST(max(ep - sp + 1) AS BIGINT) AS max_span
        |  FROM spans GROUP BY 1)
        |SELECT b.doc_id, CAST(len(b.toks) AS BIGINT) AS n_tokens,
        |  coalesce(per.n_dup_spans, 0) AS n_dup_spans,
        |  coalesce(per.dup_tokens, 0) AS dup_tokens,
        |  coalesce(per.max_span, 0) AS max_span,
        |  round(CASE WHEN len(b.toks) > 0
        |    THEN CAST(coalesce(per.dup_tokens, 0) AS DOUBLE) / len(b.toks)
        |    ELSE 0.0 END, 6) AS dup_frac
        |FROM base b LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin,
    // contaminated-fraction form: n_shared over the eval doc's FULL
    // distinct-shingle count (pre-cutoff), thresholded at tau=0.2
    "q_decontam_frac" ->
      """WITH docs AS (
        |  SELECT doc_id, text,
        |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT::BIGINT % 100 < 80 THEN 'train'
        |         WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT::BIGINT % 100 < 90 THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, split,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM docs),
        |shs AS (
        |  SELECT doc_id, split, list_distinct(CASE WHEN len(toks) >= 5
        |    THEN [array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks)-3)]
        |    ELSE [] END) AS sh FROM toks),
        |ex AS (SELECT doc_id, split, unnest(sh) AS s FROM shs),
        |sizes AS (SELECT doc_id AS eval_doc, count(*) AS n_shingles
        |          FROM ex WHERE split <> 'train' GROUP BY 1),
        |ok AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 100),
        |pruned AS (SELECT ex.doc_id, ex.split, ex.s FROM ex JOIN ok USING (s)),
        |tr AS (SELECT s, doc_id AS train_doc FROM pruned WHERE split = 'train'),
        |ev AS (SELECT s, split, doc_id AS eval_doc FROM pruned WHERE split <> 'train'),
        |shared AS (
        |  SELECT ev.split, ev.eval_doc, count(DISTINCT ev.s) AS n_shared_ngrams
        |  FROM ev JOIN tr USING (s) GROUP BY 1,2)
        |SELECT sh.split, sh.eval_doc, sz.n_shingles, sh.n_shared_ngrams,
        |       round(CAST(sh.n_shared_ngrams AS DOUBLE)/sz.n_shingles, 6) AS contaminated_frac
        |FROM shared sh JOIN sizes sz USING (eval_doc)
        |WHERE CAST(sh.n_shared_ngrams AS DOUBLE)/sz.n_shingles >= 0.2
        |ORDER BY split, eval_doc""".stripMargin,
    // bigram conditional counts: denominator over ALL w1-starts before the
    // min-count filter, probability as an exact rational (no log)
    "q_bigram_lm" ->
      """WITH base AS (
        |  SELECT lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT lang,
        |    unnest([{'w1': toks[i], 'w2': toks[i+1]} for i in range(1, len(toks))],
        |           recursive := true)
        |  FROM base WHERE len(toks) >= 2),
        |c AS (SELECT lang, w1, w2, count(*) AS n FROM bg GROUP BY 1,2,3),
        |t AS (SELECT lang, w1, CAST(sum(n) AS BIGINT) AS n_w1 FROM c GROUP BY 1,2)
        |SELECT c.lang, c.w1, c.w2, c.n, t.n_w1,
        |       round(CAST(c.n AS DOUBLE)/t.n_w1, 6) AS p_cond
        |FROM c JOIN t USING (lang, w1) WHERE c.n >= 5
        |ORDER BY lang, w1, w2""".stripMargin,
    // CCNet perplexity filter: per-lang Laplace bigram LM trained on the
    // h<80 split, eval docs scored by mean surprisal. round(-ln(x),6) is
    // the cross-engine determinism device (see TextAnalysis.surprisal6)
    "q_lm_perplexity" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT::BIGINT % 100 AS h,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents),
        |bg AS MATERIALIZED (
        |  SELECT doc_id, lang, h,
        |    unnest([{'w1': toks[i], 'w2': toks[i+1]} for i in range(1, len(toks))],
        |           recursive := true)
        |  FROM d WHERE len(toks) >= 2),
        |n12 AS (SELECT lang, w1, w2, count(*) AS n12 FROM bg WHERE h < 80 GROUP BY 1,2,3),
        |n1 AS (SELECT lang, w1, CAST(sum(n12) AS BIGINT) AS n1 FROM n12 GROUP BY 1,2),
        |v AS (SELECT lang, count(DISTINCT w2) AS v FROM bg WHERE h < 80 GROUP BY 1),
        |sc AS (
        |  SELECT e.doc_id, e.lang,
        |    CAST(round(-ln((coalesce(n12.n12, 0) + 1)::DOUBLE /
        |                   (coalesce(n1.n1, 0) + v.v)::DOUBLE), 6) AS DECIMAL(18,6)) AS s
        |  FROM bg e
        |  LEFT JOIN n12 ON e.lang = n12.lang AND e.w1 = n12.w1 AND e.w2 = n12.w2
        |  LEFT JOIN n1 ON e.lang = n1.lang AND e.w1 = n1.w1
        |  JOIN v ON e.lang = v.lang
        |  WHERE e.h >= 80)
        |SELECT doc_id, lang, count(*) AS n_bigrams,
        |       round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS cross_entropy,
        |       CAST(round(CAST(sum(s) AS DOUBLE) / count(*), 6) <= 8.0 AS INT) AS keep
        |FROM sc GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,
    // Naive Bayes quality classifier: Gopher-gate labels on the train
    // split, token-count model, eval docs classified by smaller NLL
    "q_nb_quality" -> (nbChainSql +
      """
        |SELECT doc_id, n_tokens,
        |  round(CAST(pri.prior_pass AS DOUBLE) + CAST(lp AS DOUBLE), 6) AS nll_pass,
        |  round(CAST(pri.prior_fail AS DOUBLE) + CAST(lf AS DOUBLE), 6) AS nll_fail,
        |  CAST(round(CAST(pri.prior_pass AS DOUBLE) + CAST(lp AS DOUBLE), 6)
        |    <= round(CAST(pri.prior_fail AS DOUBLE) + CAST(lf AS DOUBLE), 6) AS INT) AS predicted_pass
        |FROM agg CROSS JOIN pri ORDER BY doc_id""".stripMargin),
    // held-out confusion census: the classifier's predictions vs the
    // Gopher-rule labels on the h >= 80 slice the model never saw
    "q_nb_eval" -> (nbChainSql +
      """,
        |pred AS (
        |  SELECT agg.doc_id,
        |    CAST(round(CAST(pri.prior_pass AS DOUBLE) + CAST(lp AS DOUBLE), 6)
        |      <= round(CAST(pri.prior_fail AS DOUBLE) + CAST(lf AS DOUBLE), 6) AS INT) AS predicted_pass
        |  FROM agg CROSS JOIN pri)
        |SELECT l.pass AS rule_pass, p.predicted_pass, count(*) AS n_docs
        |FROM pred p JOIN lab l USING (doc_id)
        |GROUP BY 1,2 ORDER BY rule_pass, predicted_pass""".stripMargin),
    // NB calibration: held-out docs ranked by classifier margin
    // (difference of round-6 doubles — exact), cut into 10 equal rank
    // bins (integer DIV), per-bin empirical rule-pass rate
    "q_nb_calibration" -> (nbChainSql +
      """,
        |cmg AS (
        |  SELECT agg.doc_id,
        |    round(CAST(pri.prior_fail AS DOUBLE) + CAST(lf AS DOUBLE), 6)
        |      - round(CAST(pri.prior_pass AS DOUBLE) + CAST(lp AS DOUBLE), 6) AS margin,
        |    CAST(round(CAST(pri.prior_pass AS DOUBLE) + CAST(lp AS DOUBLE), 6)
        |      <= round(CAST(pri.prior_fail AS DOUBLE) + CAST(lf AS DOUBLE), 6) AS INT) AS predicted_pass
        |  FROM agg CROSS JOIN pri),
        |crk AS (
        |  SELECT c.doc_id, c.margin, c.predicted_pass, l.pass AS rule_pass,
        |         row_number() OVER (ORDER BY c.margin DESC, c.doc_id) AS mrk,
        |         count(*) OVER () AS n
        |  FROM cmg c JOIN lab l USING (doc_id)),
        |cbin AS (SELECT *, ((10 * (mrk - 1)) // n) + 1 AS bin FROM crk)
        |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
        |       CAST(sum(rule_pass) AS BIGINT) AS n_rule_pass,
        |       CAST(sum(predicted_pass) AS BIGINT) AS n_pred_pass,
        |       round(min(margin), 6) AS min_margin,
        |       round(CAST(sum(rule_pass) AS DOUBLE) / count(*), 6) AS rule_pass_rate
        |FROM cbin GROUP BY 1 ORDER BY bin""".stripMargin),
    // PMI co-occurrence: window-4 positional pairs, unordered keys,
    // count cutoff 5, every probability a ratio of integer counts, the
    // one ln quantized; global top-50 by (pmi DESC, t1, t2)
    "q_pmi_pairs" ->
      """WITH pbase AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents),
        |ptp AS MATERIALIZED (
        |  SELECT doc_id, pos, toks[pos] AS t FROM (
        |    SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS pos
        |    FROM pbase)),
        |puni AS (SELECT t, count(*) AS n FROM ptp GROUP BY 1),
        |pnu AS (SELECT CAST(count(*) AS DOUBLE) AS nu FROM ptp),
        |ppair AS (
        |  SELECT least(a.t, b.t) AS t1, greatest(a.t, b.t) AS t2,
        |         count(*) AS n_ab
        |  FROM ptp a JOIN ptp b ON a.doc_id = b.doc_id
        |       AND b.pos > a.pos AND b.pos <= a.pos + 4
        |  GROUP BY 1,2),
        |pnp AS (SELECT CAST(sum(n_ab) AS DOUBLE) AS np FROM ppair),
        |psc AS (
        |  SELECT p.t1, p.t2, p.n_ab,
        |    floor(ln( (CAST(p.n_ab AS DOUBLE) / pnp.np) /
        |              ((CAST(u1.n AS DOUBLE) / pnu.nu)
        |               * (CAST(u2.n AS DOUBLE) / pnu.nu)) )
        |          * 1000000.0 + 0.5) / 1000000.0 AS pmi
        |  FROM ppair p JOIN puni u1 ON u1.t = p.t1
        |       JOIN puni u2 ON u2.t = p.t2
        |  CROSS JOIN pnu CROSS JOIN pnp
        |  WHERE p.n_ab >= 5),
        |prk2 AS (SELECT *, row_number() OVER (ORDER BY pmi DESC, t1, t2) AS rk
        |         FROM psc)
        |SELECT CAST(rk AS BIGINT) AS pair_rank, t1, t2,
        |       CAST(n_ab AS BIGINT) AS n_ab, round(pmi, 6) AS pmi
        |FROM prk2 WHERE rk <= 50 ORDER BY pair_rank""".stripMargin,
    // PageRank over the co-occurrence graph: unrolled power iteration —
    // contributions through the quant6 law, per-node DECIMAL sums,
    // damped update re-quantized each step (the SQL twin of
    // TextAnalysis.pagerankTerms' localCheckpoint loop)
    "q_pagerank_terms" -> pagerankOracleSql(4, 5L, 3, 20),
    // BFS min-hop from the max-count seed term over the same edges;
    // frontier rounds exclude everything already reached
    "q_bfs_hops" -> bfsOracleSql(4, 5L, 20),
    // triangle census: degree-ordered orientation — each triangle closes
    // at its lowest-(deg, name) vertex exactly once; corners unioned for
    // per-node counts; cc is one integer ratio
    "q_triangles" ->
      """WITH trb AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS toks
        |  FROM documents),
        |trt AS MATERIALIZED (
        |  SELECT doc_id, pos, toks[pos] AS t FROM (
        |    SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS pos
        |    FROM trb)),
        |tre AS MATERIALIZED (
        |  SELECT least(a.t, b.t) AS t1, greatest(a.t, b.t) AS t2
        |  FROM trt a JOIN trt b ON a.doc_id = b.doc_id
        |       AND b.pos > a.pos AND b.pos <= a.pos + 4 AND a.t <> b.t
        |  GROUP BY 1,2 HAVING count(*) >= 5),
        |trd AS MATERIALIZED (
        |  SELECT t, count(*) AS deg FROM (
        |    SELECT t1 AS t FROM tre UNION ALL SELECT t2 FROM tre)
        |  GROUP BY 1),
        |tro AS MATERIALIZED (
        |  SELECT CASE WHEN d1 <= d2 THEN t1 ELSE t2 END AS src,
        |         CASE WHEN d1 <= d2 THEN t2 ELSE t1 END AS dst
        |  FROM (SELECT e.t1, e.t2, da.deg AS d1, db.deg AS d2
        |        FROM tre e JOIN trd da ON da.t = e.t1
        |             JOIN trd db ON db.t = e.t2)),
        |trtri AS (
        |  SELECT x.src AS u, x.dst AS v, y.dst AS w
        |  FROM tro x JOIN tro y ON x.src = y.src AND x.dst < y.dst
        |       JOIN tre ON tre.t1 = x.dst AND tre.t2 = y.dst),
        |trc AS (
        |  SELECT t, count(*) AS n_tri FROM (
        |    SELECT u AS t FROM trtri UNION ALL SELECT v FROM trtri
        |    UNION ALL SELECT w FROM trtri)
        |  GROUP BY 1),
        |trf AS (
        |  SELECT c.t AS term, c.n_tri, d.deg,
        |         round(2.0 * c.n_tri / CAST(d.deg * (d.deg - 1) AS DOUBLE), 6)
        |           AS local_cc,
        |         row_number() OVER (ORDER BY c.n_tri DESC, c.t) AS rk
        |  FROM trc c JOIN trd d ON d.t = c.t)
        |SELECT CAST(rk AS BIGINT) AS rank, term, CAST(n_tri AS BIGINT) AS n_tri,
        |       CAST(deg AS BIGINT) AS deg, local_cc
        |FROM trf WHERE rk <= 20 ORDER BY rank""".stripMargin,
    // DSIR importance weights: hashed unigram+bigram features, target =
    // Gopher-pass train docs, raw = all train docs; weight = sum of
    // surprisal differences; top-100 by (weight, doc_id) selected
    "q_dsir_weights" ->
      """WITH base AS MATERIALIZED (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT::BIGINT % 100 AS h,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents),
        |lab AS MATERIALIZED (
        |  SELECT doc_id, h, toks,
        |    CAST(len(toks) >= 20 AND len(toks) <= 100000
        |      AND (CASE WHEN len(toks) > 0
        |             THEN CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks)
        |             ELSE 0.0 END) BETWEEN 3.0 AND 10.0
        |      AND len(toks) > 0
        |      AND CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
        |          / len(toks) <= 0.1
        |      AND len(list_filter(toks, t -> t IN ('the','a','of','and','in','to','is'))) >= 2
        |      AS INT) AS pass
        |  FROM base),
        |f AS MATERIALIZED (
        |  SELECT doc_id, h, pass,
        |    ('0x' || substr(md5(u.f),1,15))::UBIGINT::BIGINT % 1024 AS b
        |  FROM lab, unnest(list_concat(toks,
        |    [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))])) u(f)),
        |raw AS (SELECT b, count(*) AS n_raw FROM f WHERE h < 80 GROUP BY 1),
        |tgt AS (SELECT b, count(*) AS n_tgt FROM f WHERE h < 80 AND pass = 1 GROUP BY 1),
        |t AS (SELECT count(*) AS tot_raw, CAST(sum(pass) AS BIGINT) AS tot_tgt
        |      FROM f WHERE h < 80),
        |sc AS (
        |  SELECT ff.doc_id,
        |    CAST(round(-ln((coalesce(r.n_raw, 0) + 1)::DOUBLE /
        |                   (t.tot_raw + 1024)::DOUBLE), 6) AS DECIMAL(18,6)) AS s_raw,
        |    CAST(round(-ln((coalesce(g.n_tgt, 0) + 1)::DOUBLE /
        |                   (t.tot_tgt + 1024)::DOUBLE), 6) AS DECIMAL(18,6)) AS s_tgt
        |  FROM f ff LEFT JOIN raw r ON ff.b = r.b
        |            LEFT JOIN tgt g ON ff.b = g.b CROSS JOIN t),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_feats,
        |    CAST(sum(s_raw) - sum(s_tgt) AS DOUBLE) AS log_ratio
        |  FROM sc GROUP BY 1)
        |SELECT doc_id, n_feats, log_ratio,
        |  CAST(row_number() OVER (ORDER BY log_ratio DESC, doc_id) AS BIGINT) AS w_rank,
        |  CAST(row_number() OVER (ORDER BY log_ratio DESC, doc_id) <= 100 AS INT) AS selected
        |FROM agg ORDER BY doc_id""".stripMargin,
    // data-mixture sampling: per-source token budgets (mixture rates over
    // the source's token mass) filled by DSIR weight rank, offset-based
    // first-fit — same DSIR scoring chain as q_dsir_weights
    "q_mixture" ->
      ("WITH " + mixtureChainFrag("documents") +
        """
          |SELECT doc_id, source, n_tok, log_ratio, dom_rank,
          |       CAST(budget AS BIGINT) AS budget,
          |       CAST(cum_before < budget AS INT) AS selected
          |FROM rnk ORDER BY doc_id""".stripMargin),
    // α = 0.5 temperature resampling: same chain, budgets ∝ ⌊√n_d⌋ of a
    // global total DIV 2 — integer-exact, see temperatureBudSql
    "q_mixture_temp" ->
      ("WITH " + mixtureChainFrag("documents", temperatureBudSql) +
        """
          |SELECT doc_id, source, n_tok, log_ratio, dom_rank,
          |       CAST(budget AS BIGINT) AS budget,
          |       CAST(cum_before < budget AS INT) AS selected
          |FROM rnk ORDER BY doc_id""".stripMargin),
    // intra-doc repetition signals: top-bigram mass fraction, duplicated-
    // trigram mass fraction, distinct-token ratio (exact rationals)
    "q_repetition" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
        |  FROM base),
        |g2 AS (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
        |    THEN [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]
        |    ELSE [] END) AS g FROM base),
        |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1,2),
        |s2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n2, max(c) AS max2
        |       FROM c2 GROUP BY 1),
        |g3 AS (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
        |    THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
        |    ELSE [] END) AS g FROM base),
        |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1,2),
        |s3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n3,
        |       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup3
        |       FROM c3 GROUP BY 1)
        |SELECT tk.doc_id, tk.n_tokens,
        |  round(CASE WHEN tk.n_tokens > 0
        |    THEN CAST(tk.n_distinct AS DOUBLE) / tk.n_tokens ELSE 0.0 END, 6) AS distinct_ratio,
        |  round(CASE WHEN coalesce(s2.n2, 0) > 0
        |    THEN CAST(s2.max2 AS DOUBLE) / s2.n2 ELSE 0.0 END, 6) AS top_bigram_frac,
        |  round(CASE WHEN coalesce(s3.n3, 0) > 0
        |    THEN CAST(s3.dup3 AS DOUBLE) / s3.n3 ELSE 0.0 END, 6) AS dup_trigram_frac
        |FROM tk LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // Gopher-style boolean gates + conjunctive pass flag
    "q_gopher_rules" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CASE WHEN len(toks) > 0
        |      THEN CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks)
        |      ELSE 0.0 END AS mean_wlen,
        |    CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_symbols,
        |    CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','in','to','is'))) AS BIGINT) AS n_stop
        |  FROM base)
        |SELECT doc_id,
        |  CAST(n_words >= 20 AND n_words <= 100000 AS INT) AS ok_word_count,
        |  CAST(mean_wlen >= 3.0 AND mean_wlen <= 10.0 AS INT) AS ok_mean_word_len,
        |  CAST(n_words > 0 AND CAST(n_symbols AS DOUBLE) / n_words <= 0.1 AS INT) AS ok_symbol_ratio,
        |  CAST(n_stop >= 2 AS INT) AS ok_stopwords,
        |  CAST(n_words >= 20 AND n_words <= 100000
        |    AND mean_wlen >= 3.0 AND mean_wlen <= 10.0
        |    AND n_words > 0 AND CAST(n_symbols AS DOUBLE) / n_words <= 0.1
        |    AND n_stop >= 2 AS INT) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,
    // top-100 corpus terms with contiguous ids in (freq desc, term) order
    "q_vocab" ->
      """WITH t AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |         x -> x <> '')) AS term
        |  FROM documents),
        |c AS (SELECT term, count(*) AS freq FROM t GROUP BY 1),
        |top AS (SELECT term, freq FROM c ORDER BY freq DESC, term LIMIT 100)
        |SELECT CAST(row_number() OVER (ORDER BY freq DESC, term) - 1 AS BIGINT) AS token_id,
        |       term, freq
        |FROM top ORDER BY token_id""".stripMargin,
    // simhash band candidates re-scored with exact character-level
    // Levenshtein (identical edit-distance semantics in both engines)
    "q_neardup_edit" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents),
        |hashed AS (
        |  SELECT doc_id,
        |    [CAST(('0x' || substr(md5(t),1,15))::UBIGINT AS BIGINT) for t in toks] AS hs
        |  FROM base),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(list_sum([CASE WHEN list_sum([((h >> j) & 1)*2 - 1 for h in hs]) > 0
        |         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
        |         for j in range(0, 60)]) AS BIGINT) AS simhash
        |  FROM hashed),
        |banded AS (
        |  SELECT doc_id, simhash, b AS band, (simhash >> (b*15)) % 32768 AS band_key
        |  FROM fp, unnest(range(0, 4)) AS t(b)),
        |prs AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
        |SELECT p.a_id, p.b_id,
        |       CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
        |FROM prs p JOIN documents da ON da.doc_id = p.a_id
        |  JOIN documents db ON db.doc_id = p.b_id
        |WHERE levenshtein(da.text, db.text) <= 50
        |ORDER BY a_id, b_id""".stripMargin,
    // per-lang hash-routed sampling rates: en 500/1000, de 200/1000,
    // default 100/1000 — same md5-mod routing as q_hash_split
    "q_stratified_sample" ->
      """WITH b AS (
        |  SELECT lang, text,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT::BIGINT % 1000 AS h
        |  FROM documents),
        |k AS (
        |  SELECT lang, text,
        |    CASE WHEN h < (CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 200 ELSE 100 END)
        |         THEN 1 ELSE 0 END AS keep
        |  FROM b)
        |SELECT lang, count(*) AS n_docs, CAST(sum(keep) AS BIGINT) AS n_sampled,
        |       CAST(sum(CASE WHEN keep = 1 THEN length(text) ELSE 0 END) AS BIGINT) AS sampled_chars
        |FROM k GROUP BY 1 ORDER BY lang""".stripMargin,
    // leakage-safe split audit: simhash pairs + components as in
    // q_neardup_components, docs routed by md5-mod-100 of doc_id (naive)
    // vs cluster_id (safe); per safe-split census + straddling-pair
    // counts under both routings (each straddler counts toward both its
    // splits; leak_safe derives to 0 independently in both engines)
    "q_split_leakage" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents),
        |hashed AS (
        |  SELECT doc_id,
        |    [CAST(('0x' || substr(md5(t),1,15))::UBIGINT AS BIGINT) for t in toks] AS hs
        |  FROM base),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(list_sum([CASE WHEN list_sum([((h >> j) & 1)*2 - 1 for h in hs]) > 0
        |         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
        |         for j in range(0, 60)]) AS BIGINT) AS simhash
        |  FROM hashed),
        |banded AS (
        |  SELECT doc_id, simhash, b AS band, (simhash >> (b*15)) % 32768 AS band_key
        |  FROM fp, unnest(range(0, 4)) AS t(b)),
        |prs AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |edges AS (
        |  SELECT a_id AS s, b_id AS d FROM prs
        |  UNION ALL
        |  SELECT b_id, a_id FROM prs),
        |reach(s, d) AS (
        |  SELECT s, d FROM edges
        |  UNION
        |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        |comp AS (
        |  SELECT s AS doc_id, least(s, min(d)) AS cluster_id
        |  FROM reach GROUP BY s),
        |docs AS (
        |  SELECT d.doc_id, length(d.text) AS n_chars_doc,
        |    coalesce(c.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN comp c USING (doc_id)),
        |sp AS (
        |  SELECT doc_id, cluster_id, n_chars_doc,
        |    CASE WHEN nh < 80 THEN 'train' WHEN nh < 90 THEN 'valid'
        |         ELSE 'test' END AS nsplit,
        |    CASE WHEN ch < 80 THEN 'train' WHEN ch < 90 THEN 'valid'
        |         ELSE 'test' END AS csplit
        |  FROM (SELECT *,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT::BIGINT % 100 AS nh,
        |    ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)),1,15))::UBIGINT::BIGINT % 100 AS ch
        |    FROM docs)),
        |census AS (
        |  SELECT csplit AS split, count(*) AS n_docs,
        |    count(DISTINCT cluster_id) AS n_clusters,
        |    CAST(sum(n_chars_doc) AS BIGINT) AS n_chars
        |  FROM sp GROUP BY 1),
        |pj AS (
        |  SELECT a.nsplit AS a_ns, a.csplit AS a_cs, b.nsplit AS b_ns, b.csplit AS b_cs
        |  FROM prs p JOIN sp a ON p.a_id = a.doc_id JOIN sp b ON p.b_id = b.doc_id),
        |ln AS (SELECT split, count(*) AS leak_naive FROM (
        |    SELECT a_ns AS split FROM pj WHERE a_ns <> b_ns
        |    UNION ALL SELECT b_ns FROM pj WHERE a_ns <> b_ns) GROUP BY 1),
        |ls AS (SELECT split, count(*) AS leak_safe FROM (
        |    SELECT a_cs AS split FROM pj WHERE a_cs <> b_cs
        |    UNION ALL SELECT b_cs FROM pj WHERE a_cs <> b_cs) GROUP BY 1)
        |SELECT c.split, c.n_docs, c.n_clusters, c.n_chars,
        |  coalesce(ln.leak_naive, CAST(0 AS BIGINT)) AS leak_naive,
        |  coalesce(ls.leak_safe, CAST(0 AS BIGINT)) AS leak_safe
        |FROM census c LEFT JOIN ln USING (split) LEFT JOIN ls USING (split)
        |ORDER BY split""".stripMargin,
    // connected components over the simhash near-dup graph: pairs CTE as
    // in q_neardup_simhash, then a recursive transitive closure; cluster
    // id = min reachable doc_id — the same fixpoint the Spark label
    // propagation converges to.
    "q_neardup_components" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents),
        |hashed AS (
        |  SELECT doc_id,
        |    [CAST(('0x' || substr(md5(t),1,15))::UBIGINT AS BIGINT) for t in toks] AS hs
        |  FROM base),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(list_sum([CASE WHEN list_sum([((h >> j) & 1)*2 - 1 for h in hs]) > 0
        |         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
        |         for j in range(0, 60)]) AS BIGINT) AS simhash
        |  FROM hashed),
        |banded AS (
        |  SELECT doc_id, simhash, b AS band, (simhash >> (b*15)) % 32768 AS band_key
        |  FROM fp, unnest(range(0, 4)) AS t(b)),
        |prs AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |edges AS (
        |  SELECT a_id AS s, b_id AS d FROM prs
        |  UNION ALL
        |  SELECT b_id, a_id FROM prs),
        |reach(s, d) AS (
        |  SELECT s, d FROM edges
        |  UNION
        |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
        |SELECT s AS doc_id, least(s, min(d)) AS cluster_id
        |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin,
    // best-quality member per duplicate cluster: the components fixpoint
    // joined to the quality score, argmax (quality desc, doc_id)
    "q_cluster_best" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |  FROM documents),
        |hashed AS (
        |  SELECT doc_id,
        |    [CAST(('0x' || substr(md5(t),1,15))::UBIGINT AS BIGINT) for t in toks] AS hs
        |  FROM base),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(list_sum([CASE WHEN list_sum([((h >> j) & 1)*2 - 1 for h in hs]) > 0
        |         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
        |         for j in range(0, 60)]) AS BIGINT) AS simhash
        |  FROM hashed),
        |banded AS (
        |  SELECT doc_id, simhash, b AS band, (simhash >> (b*15)) % 32768 AS band_key
        |  FROM fp, unnest(range(0, 4)) AS t(b)),
        |prs AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |edges AS (
        |  SELECT a_id AS s, b_id AS d FROM prs
        |  UNION ALL
        |  SELECT b_id, a_id FROM prs),
        |reach(s, d) AS (
        |  SELECT s, d FROM edges
        |  UNION
        |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        |comp AS (
        |  SELECT s AS doc_id, least(s, min(d)) AS cluster_id
        |  FROM reach GROUP BY s),
        |qual AS (
        |  SELECT doc_id,
        |    round(0.4*(CASE WHEN len(toks) > 0
        |        THEN CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','in','to','is'))) AS DOUBLE)/len(toks) ELSE 0.0 END)
        |      + 0.3*(CASE WHEN length(text) > 0
        |        THEN CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)/length(text) ELSE 0.0 END)
        |      + 0.3*(CAST(least(len(toks), 100) AS DOUBLE)/100.0), 6) AS quality_score
        |  FROM (SELECT doc_id, text,
        |          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
        |        FROM documents)),
        |ranked AS (
        |  SELECT comp.cluster_id, comp.doc_id, qual.quality_score,
        |         row_number() OVER (PARTITION BY comp.cluster_id
        |           ORDER BY qual.quality_score DESC, comp.doc_id) AS rk,
        |         count(*) OVER (PARTITION BY comp.cluster_id) AS n_members
        |  FROM comp JOIN qual USING (doc_id))
        |SELECT cluster_id, doc_id AS best_doc, quality_score AS best_quality,
        |       CAST(n_members AS BIGINT) AS n_members
        |FROM ranked WHERE rk = 1 ORDER BY cluster_id""".stripMargin,
    // per-doc fraction of tokens inside the top-100 vocabulary (OOV audit)
    "q_vocab_coverage" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
        |  FROM documents),
        |c AS (SELECT term, count(*) AS freq FROM t GROUP BY 1),
        |top AS (SELECT term FROM c ORDER BY freq DESC, term LIMIT 100),
        |j AS (
        |  SELECT t.doc_id, CASE WHEN top.term IS NOT NULL THEN 1 ELSE 0 END AS iv
        |  FROM t LEFT JOIN top USING (term))
        |SELECT doc_id, count(*) AS n_tokens, CAST(sum(iv) AS BIGINT) AS n_in_vocab,
        |       round(CAST(sum(iv) AS DOUBLE)/count(*), 6) AS coverage
        |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // IVF search probing the 2 nearest cells: same construction as
    // q_ivf_search, with the probe list widened to rk <= 2 (candidates
    // stay unique per query — each vector lives in exactly one cell).
    "q_ivf_search_n2" ->
      """WITH ex AS (
        |  SELECT label,
        |    unnest([{'dim': i-1, 'val': embedding[i]} for i in range(1, len(embedding)+1)],
        |           recursive := true)
        |  FROM embeddings),
        |cent AS (
        |  SELECT label AS clabel, list(mean_val ORDER BY dim) AS c
        |  FROM (SELECT label, dim,
        |          CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
        |        FROM ex GROUP BY 1,2)
        |  GROUP BY 1),
        |scored AS (
        |  SELECT e.vec_id, c.clabel,
        |         -2.0 * list_dot_product(e.embedding::DOUBLE[], c.c)
        |           + list_dot_product(c.c, c.c) AS s
        |  FROM embeddings e CROSS JOIN cent c),
        |assignrk AS (
        |  SELECT vec_id, clabel,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY s, clabel) AS rk
        |  FROM scored),
        |b AS (
        |  SELECT e.vec_id, a.clabel AS assigned, e.embedding::DOUBLE[] AS emb,
        |         sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS nrm
        |  FROM embeddings e JOIN (SELECT vec_id, clabel FROM assignrk WHERE rk = 1) a
        |    USING (vec_id)),
        |probes AS (
        |  SELECT vec_id AS query_id, clabel AS assigned FROM assignrk
        |  WHERE rk <= 2 AND vec_id < 20),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm FROM b WHERE vec_id < 20),
        |pairs AS (
        |  SELECT p.query_id, b.vec_id AS neighbor_id,
        |         list_dot_product(b.emb, q.q_emb) / (b.nrm * q.q_nrm) AS sim
        |  FROM b JOIN probes p ON b.assigned = p.assigned AND b.vec_id <> p.query_id
        |         JOIN q ON q.query_id = p.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
        |  FROM pairs)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, round(sim, 6) AS sim
        |FROM ranked WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin,
    // q_ann_lsh IS oracled (round 14): the seeded hyperplanes are
    // driver-side constants, so they inline into the SQL as literal
    // arrays — the bucket is a sign test on the same left-to-right
    // list_dot_product the q_similarity_topk oracle already proves
    // cross-engine-exact. Built by [[lshOracleSql]] below (generated:
    // 4 tables x 8 planes x 64 dims of literals).
    "q_ann_lsh" -> lshOracleSql,
    // BOUNDED-PASS oracles (round 15 — the former rows-only sketch set):
    // sketch estimates are engine-specific, so each query's output
    // carries the EXACT value (cross-engine) plus an in_bound flag
    // computed on the Spark side from the estimate; the oracle asserts
    // the flag = 1, so the documented error bound is enforced by the
    // hash gate itself — a drifting sketch fails CORRECTNESS, not just
    // a scalatest.
    "q_approx_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_buyers,
        |       count(*) AS n_orders, CAST(1 AS BIGINT) AS in_bound
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    "q_approx_percentiles" ->
      """SELECT o_orderstatus,
        |       quantile_cont(o_totalprice, 0.5) AS p50,
        |       quantile_cont(o_totalprice, 0.9) AS p90,
        |       quantile_cont(o_totalprice, 0.99) AS p99,
        |       count(*) AS n_orders, CAST(1 AS BIGINT) AS in_bound
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    "q_stream_sliding_distinct" ->
      """WITH e AS (
        |  SELECT (epoch_us(ts) // 21600000000) * 21600 AS w1, user_id
        |  FROM events),
        |ex AS (
        |  SELECT w1 AS window_start_s, user_id FROM e
        |  UNION ALL
        |  SELECT w1 - 21600, user_id FROM e)
        |SELECT window_start_s, count(DISTINCT user_id) AS n_users,
        |       count(*) AS n_events, CAST(1 AS BIGINT) AS in_bound
        |FROM ex GROUP BY 1 ORDER BY window_start_s""".stripMargin,
    // the profile oracle with the n_distinct value replaced by the
    // asserted in-bound literal (generated from profileOracleSql so the
    // exact columns can never drift between the two)
    "q_stream_profile_sketch" -> profileSketchOracleSql
  )

  /** q_stream_profile_sketch's oracle, GENERATED from
    * [[profileOracleSql]]: every exact column is shared verbatim; the
    * per-row n_distinct value (`CAST(xx_d AS BIGINT)`) becomes the
    * asserted literal `CAST(1 AS BIGINT) AS n_distinct_in_bound`. */
  private def profileSketchOracleSql: String =
    profileOracleSql
      .replace("CAST(ok_d AS BIGINT) AS n_distinct",
               "CAST(1 AS BIGINT) AS n_distinct_in_bound")
      .replaceAll("""CAST\(\w+_d AS BIGINT\)""", "CAST(1 AS BIGINT)")

  /** The q_ann_lsh oracle, GENERATED: [[graft.operators.Similarity
    * .hyperplanes]](4, 8, 64, seed=42) — the exact driver-side constants
    * the Spark plan inlines — are printed as DuckDB literal arrays
    * (Double.toString is round-trip exact, so DuckDB parses the
    * identical double). Bucket bit j of table t is a sign test on
    * list_dot_product(emb, hp[t][j]); both engines accumulate the dot
    * left-to-right over the same doubles, so the sign — and therefore
    * the candidate set — cannot diverge. Scoring/rank/tie-break then
    * follow the q_similarity_topk oracle verbatim. dim=64 is the
    * embeddings schema constant at every driver SF (TESTDATA.md); the
    * Spark side derives it from the table, so a dim change would fail
    * here loudly as a hash mismatch, not silently.
    */
  private def lshOracleSql: String = {
    val hps = graft.operators.Similarity.hyperplanes(4, 8, 64, 42L)
    def arr(hp: Seq[Double]): String = hp.mkString("[", ", ", "]")
    val cellSelects = hps.zipWithIndex.map { case (table, t) =>
      val bits = table.zipWithIndex.map { case (hp, j) =>
        s"(CASE WHEN list_dot_product(emb, ${arr(hp)}) > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"  SELECT vec_id, $t AS tbl, $bits AS bucket FROM b"
    }.mkString("\n  UNION ALL\n")
    s"""WITH b AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |cells AS (
       |$cellSelects),
       |pairs AS (
       |  SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS cand_id
       |  FROM cells a JOIN cells c ON a.tbl = c.tbl AND a.bucket = c.bucket
       |  WHERE a.vec_id <> c.vec_id),
       |scored AS (
       |  SELECT p.query_id, p.cand_id,
       |         list_dot_product(qa.emb, ca.emb) / (qa.nrm * ca.nrm) AS sim
       |  FROM pairs p JOIN b qa ON qa.vec_id = p.query_id
       |               JOIN b ca ON ca.vec_id = p.cand_id),
       |ranked AS (
       |  SELECT query_id, cand_id, sim,
       |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rk
       |  FROM scored)
       |SELECT query_id, CAST(rk AS BIGINT) AS rank, cand_id AS neighbor_id,
       |       round(sim, 6) AS sim
       |FROM ranked WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** Probe terms for the Count-Min heavy-term audit (common corpus words
    * plus one guaranteed-absent term).
    */
  val cmsProbes: Seq[String] = Seq(
    "the", "data", "spark", "table", "row", "query", "window", "batch",
    "stream", "zzzabsentterm")

  /** CTE chain for `iters` Lloyd iterations of k-means: cent0 = the
    * label centroids, then for each i: score against cent(i-1), argmin-
    * assign (ties to lowest cell, matching the Spark min-struct), recompute
    * decimal-exact means, rebuild cent(i). Mirrors Similarity.kmeansTrain
    * iteration for iteration, so the trained codebook hash-matches.
    */
  /** The k-means CTE chain as a composable fragment (no leading WITH):
    * `src` is the (vec_id, label, embedding) table expression to train
    * over, `p` prefixes every CTE name so several chains can coexist in
    * one statement (the trained-PQ oracle runs one per vector half).
    */
  /** CTEs scb..scsp: T5 span-corruption span extraction (md5-selected
    * starts, 3-token mask window, maximal runs via gaps-and-islands) —
    * the SQL twin of TextAnalysis.spanCorruptionUnordered. Shared by
    * q_span_corrupt and q_denoise_manifest.
    */
  private def spanChainFrag: String =
    """scb AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                t -> t <> '') AS toks
      |  FROM documents),
      |sct AS (
      |  SELECT doc_id,
      |    unnest([{'pos': i-1, 'tok': toks[i]}
      |            for i in range(1, len(toks)+1)], recursive := true)
      |  FROM scb),
      |scs AS (
      |  SELECT doc_id, pos, tok,
      |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
      |                CAST(pos AS VARCHAR)),1,15))::UBIGINT::BIGINT % 20 = 0
      |         THEN 1 ELSE 0 END AS selp
      |  FROM sct),
      |scm AS (
      |  SELECT *, max(selp) OVER (PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 1 AS m
      |  FROM scs),
      |sci AS (
      |  SELECT doc_id, pos, tok,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM scm WHERE m),
      |scsp AS (
      |  SELECT doc_id, grp, CAST(min(pos) AS BIGINT) AS start_tok,
      |         count(*) AS n_tok,
      |         string_agg(tok, ' ' ORDER BY pos) AS target_text
      |  FROM sci GROUP BY 1,2)""".stripMargin

  /** Exact-phrase retrieval via positional-posting intersection —
    * shared verbatim by q_phrase_topk (inline) and q_phrase_saved
    * (from-files serve).
    */
  private def phraseOracleSql: String =
    """WITH phb AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                t -> t <> '') AS toks
      |  FROM documents),
      |pht AS MATERIALIZED (
      |  SELECT doc_id, pos, toks[pos] AS term FROM (
      |    SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS pos
      |    FROM phb)),
      |phq AS (SELECT doc_id AS query_id, toks[1] AS w1, toks[2] AS w2
      |        FROM phb WHERE doc_id < 10 AND len(toks) >= 2),
      |phocc AS (
      |  SELECT q.query_id, a.doc_id, count(*) AS n_phrase
      |  FROM phq q JOIN pht a ON a.term = q.w1
      |       JOIN pht b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      |                 AND b.term = q.w2
      |  WHERE a.doc_id <> q.query_id
      |  GROUP BY 1,2),
      |phrk AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |                ORDER BY n_phrase DESC, doc_id) AS rk
      |         FROM phocc)
      |SELECT query_id, CAST(rk AS BIGINT) AS rank, doc_id AS neighbor_id,
      |       CAST(n_phrase AS BIGINT) AS n_phrase
      |FROM phrk WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin

  /** Robust median/MAD rate-anomaly census — shared verbatim by
    * q_anomaly_mad (batch) and q_stream_anomaly (drained per-batch
    * counts merge additively to the same bucket table).
    */
  private def anomalyMadOracleSql: String =
    """WITH amc AS (
      |  SELECT event_type, year(ts) AS y, month(ts) AS m, day(ts) AS d,
      |         hour(ts) AS h, count(*) AS n_events
      |  FROM events GROUP BY 1,2,3,4,5),
      |amm AS (SELECT event_type,
      |        floor(median(CAST(n_events AS DOUBLE)) * 1000000.0 + 0.5)
      |          / 1000000.0 AS med
      |        FROM amc GROUP BY 1),
      |amd AS (SELECT c.*, m.med,
      |               abs(CAST(c.n_events AS DOUBLE) - m.med) AS ad
      |        FROM amc c JOIN amm m USING (event_type)),
      |ama AS (SELECT event_type,
      |        floor(median(ad) * 1000000.0 + 0.5) / 1000000.0 AS mad
      |        FROM amd GROUP BY 1),
      |amr AS (SELECT d.event_type, d.y, d.m, d.d, d.h, d.n_events, d.med,
      |               a.mad,
      |               floor((CAST(d.n_events AS DOUBLE) - d.med)
      |                     / (1.4826 * a.mad) * 1000000.0 + 0.5)
      |                 / 1000000.0 AS rz
      |        FROM amd d JOIN ama a USING (event_type) WHERE a.mad > 0),
      |amk AS (SELECT *, row_number() OVER (PARTITION BY event_type
      |               ORDER BY abs(rz) DESC, y, m, d, h) AS rk
      |        FROM amr)
      |SELECT event_type, CAST(rk AS BIGINT) AS rk, y, m, d, h, n_events,
      |       round(med, 6) AS med, round(mad, 6) AS mad, round(rz, 6) AS rz,
      |       abs(rz) > 3.0 AS is_anomaly
      |FROM amk WHERE rk <= 3 ORDER BY event_type, rk""".stripMargin

  /** CTE eret: the eight-tier ranked-list union (the SQL twin of
    * Similarity.retrievalTiers). Requires brk/drk/frk/prk/wrk/qlrk/
    * t3rk/msrk in scope. Shared by q_retrieval_eval and
    * q_retrieval_ndcg so both censuses grade identical lists.
    */
  private def tiersUnionFrag(k: Int): String =
    s"""eret AS (
       |  SELECT 'bm25' AS system, query_id, cand_id, rk FROM brk WHERE rk <= $k
       |  UNION ALL
       |  SELECT 'vector' AS system, query_id, cand_id, rk FROM drk WHERE rk <= $k
       |  UNION ALL
       |  SELECT 'hybrid' AS system, query_id, cand_id, rk FROM frk WHERE rk <= $k
       |  UNION ALL
       |  SELECT 'bm25_prf' AS system, query_id, cand_id, rk FROM prk WHERE rk <= $k
       |  UNION ALL
       |  SELECT 'hybrid_wsum' AS system, query_id, cand_id, rk FROM wrk WHERE rk <= $k
       |  UNION ALL
       |  SELECT 'ql' AS system, query_id, cand_id, rk FROM qlrk WHERE rk <= $k
       |  UNION ALL
       |  SELECT 'hybrid_3way' AS system, query_id, cand_id, rk FROM t3rk WHERE rk <= $k
       |  UNION ALL
       |  SELECT 'maxsim' AS system, query_id, cand_id, rk FROM msrk WHERE rk <= $k)""".stripMargin

  /** CTEs msl..msrk: late-interaction MaxSim re-scoring of the BM25
    * top-`m` shortlist over hash-derived per-term embeddings — the SQL
    * twin of Similarity.maxSimRerank, ranked in `msrk`. Requires
    * bm25Frag's btf/brk in scope. Shared by q_maxsim_rerank and
    * q_retrieval_eval's maxsim arm.
    */
  private def maxsimChainFrag(m: Int): String =
    s"""msl AS (SELECT query_id, cand_id FROM brk WHERE rk <= $m),
       |msqt AS (SELECT DISTINCT doc_id AS query_id, term FROM btf WHERE doc_id < 10),
       |msdt AS (SELECT s.query_id, s.cand_id, t.term
       |         FROM msl s JOIN btf t ON t.doc_id = s.cand_id),
       |msv AS (
       |  SELECT term,
       |    [CAST(('0x' || substr(md5(term || ':' || CAST(j AS VARCHAR)),1,15))::UBIGINT::BIGINT
       |          % 2000001 - 1000000 AS DOUBLE) / 1000000.0
       |     for j in range(0, 8)] AS e
       |  FROM (SELECT DISTINCT term FROM
       |        (SELECT term FROM msqt UNION ALL SELECT term FROM msdt))),
       |msn AS (SELECT term, e, sqrt(list_dot_product(e, e)) AS nrm FROM msv),
       |msp AS (
       |  SELECT d.query_id, d.cand_id, q.term AS q_term,
       |    floor(list_dot_product(qe.e, de.e) / (qe.nrm * de.nrm)
       |          * 1000000.0 + 0.5) / 1000000.0 AS c
       |  FROM msdt d JOIN msqt q ON q.query_id = d.query_id
       |       JOIN msn qe ON qe.term = q.term
       |       JOIN msn de ON de.term = d.term),
       |msm AS (SELECT query_id, cand_id, q_term, max(c) AS mx
       |        FROM msp GROUP BY 1,2,3),
       |mss AS (SELECT query_id, cand_id,
       |               CAST(sum(CAST(mx AS DECIMAL(18,6))) AS DOUBLE) AS s
       |        FROM msm GROUP BY 1,2),
       |msrk AS (SELECT query_id, cand_id, s,
       |         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, cand_id) AS rk
       |         FROM mss)""".stripMargin

  /** Unrolled power-iteration PageRank over the co-occurrence graph —
    * the SQL twin of TextAnalysis.pagerankTerms. Each step: per-edge
    * contribution r/deg through the quant6 law, DECIMAL(18,6) per-node
    * sum, damped update 0.15/N + 0.85·Σ re-quantized.
    */
  // PII census oracle — shared verbatim by q_pii_redact and the
  // streaming scrub-at-ingest twin q_stream_pii (every column is a
  // per-document sum, so the per-batch census merges additively)
  private val piiRedactOracleSql: String =
    """WITH pii AS (
      |  SELECT doc_id, lang,
      |    text ||
      |    CASE WHEN doc_id % 3 = 0 THEN ' contact user'
      |         || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN ' host 10.'
      |         || CAST(doc_id % 200 AS VARCHAR) || '.0.1' ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0 THEN ' tel +1-555-'
      |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
      |    AS ptext
      |  FROM documents),
      |pic AS (
      |  SELECT lang, ptext,
      |    len(regexp_extract_all(ptext,
      |        '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_em,
      |    len(regexp_extract_all(ptext,
      |        '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b')) AS n_ip,
      |    len(regexp_extract_all(ptext,
      |        '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS n_ph,
      |    regexp_replace(regexp_replace(regexp_replace(ptext,
      |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      |      '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b', '<IP>', 'g'),
      |      '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS red
      |  FROM pii)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN n_em > 0 OR n_ip > 0 OR n_ph > 0
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_pii,
      |  CAST(sum(n_em) AS BIGINT) AS n_emails,
      |  CAST(sum(n_ip) AS BIGINT) AS n_ips,
      |  CAST(sum(n_ph) AS BIGINT) AS n_phones,
      |  CAST(sum(length(ptext) - length(red)) AS BIGINT) AS chars_redacted
      |FROM pic GROUP BY 1 ORDER BY lang""".stripMargin

  // bottom-k sample oracle — shared verbatim by q_bottomk_sample and
  // the streaming sketch-merge twin q_stream_bottomk (bottom-k of a
  // union = bottom-k of the per-part bottom-k's)
  /** The seeded Laplace release over the (event_type, day) histogram,
    * shared verbatim by q_dp_counts (batch) and q_stream_dp (drained
    * additive cell counts, noise at release time).
    */
  private val hammingOracleSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |c AS (SELECT vec_id,
      |  CAST(list_sum([CASE WHEN e[i] > 0 THEN 1::BIGINT << (i-1)
      |                 ELSE 0 END for i in range(1,33)]) AS BIGINT) AS code_lo,
      |  CAST(list_sum([CASE WHEN e[i] > 0 THEN 1::BIGINT << (i-33)
      |                 ELSE 0 END for i in range(33,65)]) AS BIGINT) AS code_hi
      |  FROM v),
      |hq AS (SELECT vec_id AS query_id, code_lo AS q_lo, code_hi AS q_hi
      |       FROM c WHERE vec_id < 20),
      |ham AS (
      |  SELECT hq.query_id, c.vec_id AS neighbor_id,
      |         bit_count(xor(c.code_lo, hq.q_lo))
      |           + bit_count(xor(c.code_hi, hq.q_hi)) AS ham
      |  FROM c, hq WHERE c.vec_id <> hq.query_id),
      |sl AS (
      |  SELECT query_id, neighbor_id,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY ham, neighbor_id) AS rk
      |  FROM ham),
      |b AS (SELECT vec_id, e,
      |        sqrt(list_dot_product(e, e)) AS nrm FROM v),
      |qq AS (SELECT vec_id AS qid, e AS q_emb, nrm AS q_nrm
      |       FROM b WHERE vec_id < 20),
      |re AS (
      |  SELECT s.query_id, s.neighbor_id,
      |         list_dot_product(b.e, qq.q_emb) / (b.nrm * qq.q_nrm) AS sim
      |  FROM sl s JOIN b ON s.neighbor_id = b.vec_id
      |            JOIN qq ON s.query_id = qq.qid
      |  WHERE s.rk <= 50),
      |rr AS (
      |  SELECT query_id, neighbor_id, sim,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY sim DESC, neighbor_id) AS rk
      |  FROM re)
      |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
      |       round(sim, 6) AS sim
      |FROM rr WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin

  private val ltvOracleSql: String =
    """WITH le AS (
      |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, event_type,
      |         value
      |  FROM events),
      |lc AS (SELECT user_id, min(day) AS cohort_day FROM le GROUP BY 1),
      |ls AS (SELECT cohort_day, count(*) AS cohort_size FROM lc
      |       GROUP BY 1),
      |ld AS (
      |  SELECT c.cohort_day,
      |    date_diff('day', CAST(c.cohort_day AS DATE),
      |              CAST(e.day AS DATE)) AS age,
      |    count(DISTINCT e.user_id) AS n_active,
      |    sum(CASE WHEN e.event_type = 'purchase'
      |        THEN CAST(e.value AS DECIMAL(18,2))
      |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS revenue
      |  FROM le e JOIN lc c ON e.user_id = c.user_id
      |  GROUP BY 1,2),
      |lw AS (
      |  SELECT *, sum(revenue) OVER (PARTITION BY cohort_day ORDER BY age
      |    ROWS UNBOUNDED PRECEDING) AS cum_revenue
      |  FROM ld)
      |SELECT l.cohort_day, CAST(l.age AS INT) AS age,
      |  CAST(l.n_active AS BIGINT) AS n_active,
      |  CAST(l.revenue AS DOUBLE) AS revenue,
      |  CAST(l.cum_revenue AS DOUBLE) AS cum_revenue,
      |  round(CAST(l.cum_revenue AS DOUBLE)
      |        / CAST(s.cohort_size AS DOUBLE), 6) AS ltv
      |FROM lw l JOIN ls s ON l.cohort_day = s.cohort_day
      |ORDER BY l.cohort_day, age""".stripMargin

  private val abOracleSql: String =
    """WITH abu AS (
      |  SELECT user_id,
      |    CASE WHEN ('0x' || substr(md5('exp1' || '|' ||
      |           CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT
      |           % 2 = 0
      |         THEN 'control' ELSE 'treatment' END AS variant,
      |    CASE WHEN sum(CASE WHEN event_type = 'purchase'
      |                       AND value >= 150.0 THEN 1
      |                  ELSE 0 END) > 0 THEN 1 ELSE 0 END AS converted,
      |    sum(CASE WHEN event_type = 'purchase'
      |        THEN CAST(value AS DECIMAL(18,2))
      |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS revenue
      |  FROM events GROUP BY user_id),
      |pv AS (
      |  SELECT variant, count(*) AS n_users, sum(converted) AS n_conv,
      |    sum(revenue) AS sum_rev,
      |    sum(CAST(floor(CAST(revenue AS DOUBLE) * CAST(revenue AS DOUBLE)
      |          * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(38,6)))
      |      AS sum_rev_sq
      |  FROM abu GROUP BY variant),
      |w AS (
      |  SELECT
      |    max(CASE WHEN variant = 'control' THEN n_users END) AS n_c,
      |    max(CASE WHEN variant = 'treatment' THEN n_users END) AS n_t,
      |    max(CASE WHEN variant = 'control' THEN n_conv END) AS conv_c,
      |    max(CASE WHEN variant = 'treatment' THEN n_conv END) AS conv_t,
      |    CAST(max(CASE WHEN variant = 'control' THEN sum_rev END)
      |      AS DOUBLE) AS sr_c,
      |    CAST(max(CASE WHEN variant = 'treatment' THEN sum_rev END)
      |      AS DOUBLE) AS sr_t,
      |    CAST(max(CASE WHEN variant = 'control' THEN sum_rev_sq END)
      |      AS DOUBLE) AS sq_c,
      |    CAST(max(CASE WHEN variant = 'treatment' THEN sum_rev_sq END)
      |      AS DOUBLE) AS sq_t
      |  FROM pv)
      |SELECT CAST(n_c AS BIGINT) AS n_c, CAST(n_t AS BIGINT) AS n_t,
      |  CAST(conv_c AS BIGINT) AS conv_c, CAST(conv_t AS BIGINT) AS conv_t,
      |  round(CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6)
      |    AS conv_rate_c,
      |  round(CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE), 6)
      |    AS conv_rate_t,
      |  round(CASE WHEN CAST(conv_c + conv_t AS DOUBLE)
      |                  / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)) > 0.0
      |             AND CAST(conv_c + conv_t AS DOUBLE)
      |                  / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)) < 1.0
      |        THEN (CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE)
      |         - CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE))
      |    / sqrt(CAST(conv_c + conv_t AS DOUBLE)
      |             / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE))
      |           * (1.0 - CAST(conv_c + conv_t AS DOUBLE)
      |                    / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)))
      |           * (1.0 / CAST(n_c AS DOUBLE)
      |              + 1.0 / CAST(n_t AS DOUBLE))) END, 6) AS z_conv,
      |  round(sr_c / CAST(n_c AS DOUBLE), 6) AS mean_rev_c,
      |  round(sr_t / CAST(n_t AS DOUBLE), 6) AS mean_rev_t,
      |  round(CASE WHEN CAST(n_c AS DOUBLE) > 1.0
      |        THEN (sq_c - sr_c * sr_c / CAST(n_c AS DOUBLE))
      |        / (CAST(n_c AS DOUBLE) - 1.0) END, 6) AS var_rev_c,
      |  round(CASE WHEN CAST(n_t AS DOUBLE) > 1.0
      |        THEN (sq_t - sr_t * sr_t / CAST(n_t AS DOUBLE))
      |        / (CAST(n_t AS DOUBLE) - 1.0) END, 6) AS var_rev_t,
      |  round(CASE WHEN CAST(n_c AS DOUBLE) > 1.0
      |             AND CAST(n_t AS DOUBLE) > 1.0
      |             AND (sq_t - sr_t * sr_t / CAST(n_t AS DOUBLE))
      |             / (CAST(n_t AS DOUBLE) - 1.0) / CAST(n_t AS DOUBLE)
      |           + (sq_c - sr_c * sr_c / CAST(n_c AS DOUBLE))
      |             / (CAST(n_c AS DOUBLE) - 1.0) / CAST(n_c AS DOUBLE) > 0.0
      |        THEN (sr_t / CAST(n_t AS DOUBLE) - sr_c / CAST(n_c AS DOUBLE))
      |    / sqrt((sq_t - sr_t * sr_t / CAST(n_t AS DOUBLE))
      |             / (CAST(n_t AS DOUBLE) - 1.0) / CAST(n_t AS DOUBLE)
      |           + (sq_c - sr_c * sr_c / CAST(n_c AS DOUBLE))
      |             / (CAST(n_c AS DOUBLE) - 1.0) / CAST(n_c AS DOUBLE)) END,
      |    6) AS t_rev
      |FROM w""".stripMargin

  private val dpOracleSql: String =
    """WITH dpc AS (
      |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
      |         count(*) AS n_true
      |  FROM events GROUP BY 1,2),
      |dph AS (
      |  SELECT event_type, day, n_true,
      |    least(CAST(('0x' || substr(md5(event_type || '|' || day), 1, 15))
      |         ::UBIGINT::BIGINT + 1 AS DOUBLE)
      |      / 1152921504606846976.0, 0.999999999) AS u
      |  FROM dpc),
      |dpn AS (
      |  SELECT event_type, day, n_true,
      |    floor((CASE WHEN u < 0.5 THEN 1.0 * ln(2.0 * u)
      |           ELSE -1.0 * ln(2.0 * (1.0 - u)) END) * 1000000.0 + 0.5)
      |      / 1000000.0 AS noise
      |  FROM dph)
      |SELECT event_type, day, n_true, noise,
      |  CAST(greatest(0.0, floor(n_true + noise + 0.5)) AS BIGINT)
      |    AS n_released
      |FROM dpn ORDER BY event_type, day""".stripMargin

  /** The join-key skew census, shared verbatim by q_skew_audit (batch)
    * and q_stream_skew (drained additive key counts): group-size
    * census + heavy-key count + skew flag per audited column.
    */
  private val skewOracleSql: String =
    """WITH g1 AS (SELECT event_type AS k, count(*) AS n
      |            FROM events GROUP BY 1),
      |t1 AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
      |              count(*) AS n_keys, max(n) AS max_group FROM g1),
      |h1 AS (SELECT count(*) AS n_heavy_10x FROM g1 CROSS JOIN t1
      |       WHERE CAST(n AS DOUBLE) >
      |             10.0 * CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)),
      |g2 AS (SELECT user_id AS k, count(*) AS n
      |            FROM events GROUP BY 1),
      |t2 AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
      |              count(*) AS n_keys, max(n) AS max_group FROM g2),
      |h2 AS (SELECT count(*) AS n_heavy_10x FROM g2 CROSS JOIN t2
      |       WHERE CAST(n AS DOUBLE) >
      |             10.0 * CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE))
      |SELECT 'event_type' AS key_col, n_rows, n_keys, max_group,
      |  round(CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE), 6)
      |    AS avg_group,
      |  round(CAST(max_group AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
      |    AS top_share,
      |  n_heavy_10x,
      |  CAST(CAST(max_group AS DOUBLE) >
      |       10.0 * CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)
      |       AS INT) AS is_skewed
      |FROM t1 CROSS JOIN h1
      |UNION ALL
      |SELECT 'user_id', n_rows, n_keys, max_group,
      |  round(CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE), 6),
      |  round(CAST(max_group AS DOUBLE) / CAST(n_rows AS DOUBLE), 6),
      |  n_heavy_10x,
      |  CAST(CAST(max_group AS DOUBLE) >
      |       10.0 * CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)
      |       AS INT)
      |FROM t2 CROSS JOIN h2
      |ORDER BY key_col""".stripMargin

  /** The retract-stream invariant, shared verbatim by q_mv_retract
    * (batch change stream) and q_stream_mv_retract (per-batch signed
    * delta partials): the merged view equals the one-shot GROUP BY
    * over the CORRECTED history.
    */
  private val mvRetractOracleSql: String =
    """SELECT event_type, CAST(extract(day FROM ts) AS INT) AS day,
      |       count(*) AS n_events,
      |       CAST(sum(CASE WHEN event_id % 10 = 0
      |                THEN CAST(value AS DECIMAL(18,2))
      |                     + CAST(5.00 AS DECIMAL(18,2))
      |                ELSE CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
      |         AS sum_value
      |FROM events GROUP BY 1,2 ORDER BY event_type, day""".stripMargin

  /** The incremental-MV invariant, shared verbatim by q_mv_merge (batch
    * refresh cycle) and q_stream_mv (at-ingest maintenance): however
    * history was batched, the served view equals the one-shot GROUP BY
    * over all of it.
    */
  private val mvOracleSql: String =
    """SELECT event_type, CAST(extract(day FROM ts) AS INT) AS day,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1,2 ORDER BY event_type, day""".stripMargin

  private val profileOracleSql: String =
      """WITH pw AS (
        |  SELECT count(*) AS n,
        |    count(l_orderkey) AS ok_c,
        |    count(DISTINCT l_orderkey) AS ok_d,
        |    CAST(min(l_orderkey) AS DOUBLE) AS ok_mn,
        |    CAST(max(l_orderkey) AS DOUBLE) AS ok_mx,
        |    CAST(sum(l_orderkey) AS DOUBLE) AS ok_sm,
        |    count(l_partkey) AS pk_c,
        |    count(DISTINCT l_partkey) AS pk_d,
        |    CAST(min(l_partkey) AS DOUBLE) AS pk_mn,
        |    CAST(max(l_partkey) AS DOUBLE) AS pk_mx,
        |    CAST(sum(l_partkey) AS DOUBLE) AS pk_sm,
        |    count(l_suppkey) AS sk_c,
        |    count(DISTINCT l_suppkey) AS sk_d,
        |    CAST(min(l_suppkey) AS DOUBLE) AS sk_mn,
        |    CAST(max(l_suppkey) AS DOUBLE) AS sk_mx,
        |    CAST(sum(l_suppkey) AS DOUBLE) AS sk_sm,
        |    count(l_linenumber) AS li_c,
        |    count(DISTINCT l_linenumber) AS li_d,
        |    CAST(min(l_linenumber) AS DOUBLE) AS li_mn,
        |    CAST(max(l_linenumber) AS DOUBLE) AS li_mx,
        |    CAST(sum(l_linenumber) AS DOUBLE) AS li_sm,
        |    count(l_quantity) AS qt_c,
        |    count(DISTINCT l_quantity) AS qt_d,
        |    CAST(min(l_quantity) AS DOUBLE) AS qt_mn,
        |    CAST(max(l_quantity) AS DOUBLE) AS qt_mx,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qt_sm,
        |    count(l_extendedprice) AS ep_c,
        |    count(DISTINCT l_extendedprice) AS ep_d,
        |    CAST(min(l_extendedprice) AS DOUBLE) AS ep_mn,
        |    CAST(max(l_extendedprice) AS DOUBLE) AS ep_mx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ep_sm,
        |    count(l_discount) AS di_c,
        |    count(DISTINCT l_discount) AS di_d,
        |    CAST(min(l_discount) AS DOUBLE) AS di_mn,
        |    CAST(max(l_discount) AS DOUBLE) AS di_mx,
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS di_sm,
        |    count(l_tax) AS tx_c,
        |    count(DISTINCT l_tax) AS tx_d,
        |    CAST(min(l_tax) AS DOUBLE) AS tx_mn,
        |    CAST(max(l_tax) AS DOUBLE) AS tx_mx,
        |    CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS tx_sm,
        |    count(l_returnflag) AS rf_c,
        |    count(DISTINCT l_returnflag) AS rf_d,
        |    CAST(min(length(l_returnflag)) AS BIGINT) AS rf_ln,
        |    CAST(max(length(l_returnflag)) AS BIGINT) AS rf_lx,
        |    count(l_linestatus) AS ls_c,
        |    count(DISTINCT l_linestatus) AS ls_d,
        |    CAST(min(length(l_linestatus)) AS BIGINT) AS ls_ln,
        |    CAST(max(length(l_linestatus)) AS BIGINT) AS ls_lx,
        |    count(l_shipdate) AS sd_c,
        |    count(DISTINCT l_shipdate) AS sd_d,
        |    CAST(min(epoch_us(l_shipdate) // 1000000) AS DOUBLE) AS sd_mn,
        |    CAST(max(epoch_us(l_shipdate) // 1000000) AS DOUBLE) AS sd_mx
        |  FROM lineitem)
        |SELECT 'l_orderkey' AS col_name, CAST(n AS BIGINT) AS n_rows, CAST(n - ok_c AS BIGINT) AS n_nulls, CAST(ok_d AS BIGINT) AS n_distinct, ok_mn AS min_num, ok_mx AS max_num, round(ok_sm / ok_c, 6) AS avg_num, CAST(NULL AS BIGINT) AS min_len, CAST(NULL AS BIGINT) AS max_len FROM pw
        |UNION ALL SELECT 'l_partkey', CAST(n AS BIGINT), CAST(n - pk_c AS BIGINT), CAST(pk_d AS BIGINT), pk_mn, pk_mx, round(pk_sm / pk_c, 6), NULL, NULL FROM pw
        |UNION ALL SELECT 'l_suppkey', CAST(n AS BIGINT), CAST(n - sk_c AS BIGINT), CAST(sk_d AS BIGINT), sk_mn, sk_mx, round(sk_sm / sk_c, 6), NULL, NULL FROM pw
        |UNION ALL SELECT 'l_linenumber', CAST(n AS BIGINT), CAST(n - li_c AS BIGINT), CAST(li_d AS BIGINT), li_mn, li_mx, round(li_sm / li_c, 6), NULL, NULL FROM pw
        |UNION ALL SELECT 'l_quantity', CAST(n AS BIGINT), CAST(n - qt_c AS BIGINT), CAST(qt_d AS BIGINT), qt_mn, qt_mx, round(qt_sm / qt_c, 6), NULL, NULL FROM pw
        |UNION ALL SELECT 'l_extendedprice', CAST(n AS BIGINT), CAST(n - ep_c AS BIGINT), CAST(ep_d AS BIGINT), ep_mn, ep_mx, round(ep_sm / ep_c, 6), NULL, NULL FROM pw
        |UNION ALL SELECT 'l_discount', CAST(n AS BIGINT), CAST(n - di_c AS BIGINT), CAST(di_d AS BIGINT), di_mn, di_mx, round(di_sm / di_c, 6), NULL, NULL FROM pw
        |UNION ALL SELECT 'l_tax', CAST(n AS BIGINT), CAST(n - tx_c AS BIGINT), CAST(tx_d AS BIGINT), tx_mn, tx_mx, round(tx_sm / tx_c, 6), NULL, NULL FROM pw
        |UNION ALL SELECT 'l_returnflag', CAST(n AS BIGINT), CAST(n - rf_c AS BIGINT), CAST(rf_d AS BIGINT), NULL, NULL, NULL, rf_ln, rf_lx FROM pw
        |UNION ALL SELECT 'l_linestatus', CAST(n AS BIGINT), CAST(n - ls_c AS BIGINT), CAST(ls_d AS BIGINT), NULL, NULL, NULL, ls_ln, ls_lx FROM pw
        |UNION ALL SELECT 'l_shipdate', CAST(n AS BIGINT), CAST(n - sd_c AS BIGINT), CAST(sd_d AS BIGINT), sd_mn, sd_mx, NULL, NULL, NULL FROM pw
        |ORDER BY col_name""".stripMargin

  /** One referential-integrity constraint's oracle census — shared by
    * q_ri_audit (all 8 edges) and q_stream_ri (the events edge) so the
    * streaming monitor's gate is literally the batch audit's.
    */
  private def riOracleOne(name: String, child: String, fk: String,
      parent: String, pk: String): String =
    s"""SELECT '$name' AS constraint_name,
       |  count(*) AS n_child,
       |  CAST(coalesce(sum(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END), 0)
       |       AS BIGINT) AS n_orphan,
       |  CAST(count(DISTINCT CASE WHEN p.$pk IS NULL THEN ch.$fk END)
       |       AS BIGINT) AS n_orphan_keys,
       |  CAST(CASE WHEN coalesce(sum(CASE WHEN p.$pk IS NULL THEN 1
       |       ELSE 0 END), 0) = 0 THEN 1 ELSE 0 END AS INT) AS is_ok
       |FROM $child ch LEFT JOIN $parent p ON ch.$fk = p.$pk""".stripMargin

  private val chi2OracleSql: String =
    """WITH c2o AS (
      |  SELECT lang, source, count(*) AS n_obs FROM documents GROUP BY 1,2),
      |c2r AS (SELECT lang, sum(n_obs) AS rl FROM c2o GROUP BY 1),
      |c2c AS (SELECT source, sum(n_obs) AS cs FROM c2o GROUP BY 1),
      |c2n AS (SELECT CAST(sum(n_obs) AS DOUBLE) AS nn FROM c2o),
      |c2x AS (
      |  SELECT r.lang, c.source, r.rl, c.cs, n.nn,
      |         coalesce(o.n_obs, 0) AS n_obs
      |  FROM c2r r CROSS JOIN c2c c CROSS JOIN c2n n
      |  LEFT JOIN c2o o ON o.lang = r.lang AND o.source = c.source),
      |c2e AS (
      |  SELECT lang, source, n_obs,
      |    floor(CAST(rl * cs AS DOUBLE) / nn * 1000000.0 + 0.5)
      |      / 1000000.0 AS expected
      |  FROM c2x)
      |SELECT lang, source, CAST(n_obs AS BIGINT) AS n_obs, expected,
      |  floor((n_obs - expected) * (n_obs - expected) / expected
      |        * 1000000.0 + 0.5) / 1000000.0 AS contrib
      |FROM c2e ORDER BY lang, source""".stripMargin

  private val kanonOracleSql: String =
    """WITH kac AS (
      |  SELECT c_nationkey, c_mktsegment,
      |         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
      |         count(*) AS k
      |  FROM customer GROUP BY 1,2,3),
      |kab AS (
      |  SELECT CASE WHEN k = 1 THEN '1 (unique)' WHEN k <= 4 THEN '2-4'
      |              WHEN k <= 9 THEN '5-9' ELSE '10+' END AS band, k
      |  FROM kac),
      |kat AS (SELECT CAST(sum(k) AS DOUBLE) AS n_total FROM kab)
      |SELECT band, CAST(count(*) AS BIGINT) AS n_classes,
      |       CAST(sum(k) AS BIGINT) AS n_rows,
      |       CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k,
      |       round(CAST(sum(k) AS DOUBLE) / min(n_total), 6) AS row_share
      |FROM kab CROSS JOIN kat
      |GROUP BY band ORDER BY min_k""".stripMargin

  private val forgetOracleSql: String =
    """SELECT event_type, count(*) AS n_before,
      |  CAST(sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_removed,
      |  CAST(count(*) - sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_after
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  private val forecastOracleSql: String =
    """WITH fnh AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, count(*) AS x
      |  FROM events GROUP BY 1,2),
      |fnp AS (
      |  SELECT event_type, x,
      |    row_number() OVER w AS t_idx,
      |    coalesce(sum(x) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
      |                          AND 1 PRECEDING), 0) AS cumprev
      |  FROM fnh
      |  WINDOW w AS (PARTITION BY event_type, hr % 24 ORDER BY hr)),
      |fnf AS (
      |  SELECT event_type, x,
      |    floor(CAST(cumprev AS DOUBLE) / (t_idx - 1)
      |          * 1000000.0 + 0.5) / 1000000.0 AS f
      |  FROM fnp WHERE t_idx > 1),
      |fne AS (
      |  SELECT event_type,
      |    CAST(floor(abs(x - f) / x * 1000000.0 + 0.5) / 1000000.0
      |         AS DECIMAL(18,6)) AS ape,
      |    CAST(floor(abs(x - f) * 1000000.0 + 0.5) / 1000000.0
      |         AS DECIMAL(18,6)) AS ae
      |  FROM fnf)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_backtests,
      |  round(CAST(sum(ape) AS DOUBLE) / count(*), 6) AS mape,
      |  round(CAST(sum(ae) AS DOUBLE) / count(*), 6) AS mae
      |FROM fne GROUP BY 1 ORDER BY 1""".stripMargin

  private val conformalOracleSql: String =
    """WITH cfh AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr, count(*) AS x
      |  FROM events GROUP BY 1,2),
      |cfp AS (
      |  SELECT event_type, hr % 24 AS hod, hr, x,
      |    row_number() OVER w AS t_idx,
      |    coalesce(sum(x) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
      |                          AND 1 PRECEDING), 0) AS cumprev
      |  FROM cfh
      |  WINDOW w AS (PARTITION BY event_type, hr % 24 ORDER BY hr)),
      |cfa AS (
      |  SELECT event_type, hod, hr, t_idx - 1 AS bt_idx,
      |    floor(abs(x - floor(CAST(cumprev AS DOUBLE) / (t_idx - 1)
      |                        * 1000000.0 + 0.5) / 1000000.0)
      |          * 1000000.0 + 0.5) / 1000000.0 AS ae
      |  FROM cfp WHERE t_idx > 1),
      |cfn AS (SELECT event_type, hod, count(*) AS bt_n FROM cfa GROUP BY 1,2),
      |cfs AS (
      |  SELECT a.*, (a.bt_idx <= (n.bt_n * 4) // 5) AS is_cal
      |  FROM cfa a JOIN cfn n USING (event_type, hod)),
      |cfcn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal
      |         FROM cfs WHERE is_cal GROUP BY 1),
      |cfq AS (
      |  SELECT event_type, n_cal, ae AS qhat FROM (
      |    SELECT s.event_type, c.n_cal, s.ae,
      |      row_number() OVER (PARTITION BY s.event_type
      |                         ORDER BY s.ae, s.hod, s.hr) AS rk
      |    FROM cfs s JOIN cfcn c USING (event_type) WHERE s.is_cal)
      |  WHERE rk = least(((n_cal + 1) * 9 + 9) // 10, n_cal))
      |SELECT s.event_type, min(q.n_cal) AS n_cal,
      |  CAST(count(*) AS BIGINT) AS n_test, min(q.qhat) AS qhat,
      |  CAST(sum(CASE WHEN s.ae <= q.qhat THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_covered,
      |  round(CAST(sum(CASE WHEN s.ae <= q.qhat THEN 1 ELSE 0 END)
      |             AS DOUBLE) / count(*), 6) AS coverage
      |FROM cfs s JOIN cfq q USING (event_type)
      |WHERE NOT s.is_cal
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private def bradleyTerryOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      val prev = if (i == 1) "btp0" else s"btp${i - 1}"
      s"""btd$i AS (
         |  SELECT e.i, CAST(sum(CAST(floor(CAST(e.n AS DOUBLE)
         |    / (pi.p + pj.p) * 1000000.0 + 0.5) / 1000000.0
         |    AS DECIMAL(18,6))) AS DOUBLE) AS den
         |  FROM bte e JOIN $prev pi ON pi.i = e.i
         |       JOIN $prev pj ON pj.i = e.j
         |  GROUP BY 1),
         |btr$i AS (
         |  SELECT w.i, greatest(floor(CAST(w.wins AS DOUBLE) / d.den
         |    * 1000000.0 + 0.5) / 1000000.0, 0.000001) AS praw
         |  FROM btw w JOIN btd$i d ON d.i = w.i),
         |bts$i AS (SELECT CAST(sum(CAST(praw AS DECIMAL(18,6))) AS DOUBLE)
         |          AS s FROM btr$i),
         |btp$i AS (SELECT i, floor(praw / s * 1000000.0 + 0.5) / 1000000.0
         |          AS p FROM btr$i CROSS JOIN bts$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH btu AS (
       |  SELECT user_id, event_type, sum(CAST(value AS DECIMAL(18,2))) AS sv
       |  FROM events GROUP BY 1,2),
       |btc AS (
       |  SELECT a.event_type AS i, b.event_type AS j,
       |    CASE WHEN a.sv > b.sv THEN 1 ELSE 0 END AS awin
       |  FROM btu a JOIN btu b ON a.user_id = b.user_id
       |    AND a.event_type < b.event_type AND a.sv <> b.sv),
       |btp AS (SELECT i, j, count(*) AS n,
       |        CAST(sum(awin) AS BIGINT) AS wi FROM btc GROUP BY 1,2),
       |bte AS (SELECT i, j, n, wi AS w FROM btp
       |        UNION ALL SELECT j, i, n, n - wi FROM btp),
       |btw AS (SELECT i, CAST(sum(n) AS BIGINT) AS contests,
       |        CAST(sum(w) AS BIGINT) AS wins FROM bte GROUP BY 1),
       |btk AS (SELECT count(*) AS k FROM btw),
       |btp0 AS (SELECT i, floor(1.0 / k * 1000000.0 + 0.5) / 1000000.0 AS p
       |         FROM btw CROSS JOIN btk),
       |$steps
       |SELECT CAST(row_number() OVER (ORDER BY round(p.p, 6) DESC, w.i)
       |       AS BIGINT) AS rank,
       |  w.i AS event_type, w.contests, w.wins, round(p.p, 6) AS bt_score
       |FROM btw w JOIN btp$iters p ON p.i = w.i
       |ORDER BY rank""".stripMargin
  }

  private val bloomPruneOracleSql: String = {
    // the bitmap-reduction primes come from the SAME derivation the Scala
    // side runs (Warehouse.bloomPrimes), so a non-default mBits could
    // never silently diverge the twin from hardcoded literals; fpp_est
    // divides by the per-hash probe ranges p1/p2 (matching bloomPruneJoin)
    val (p1, p2) = operators.Warehouse.bloomPrimes(1 << 16)
    s"""WITH bpk AS (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
      |bpr AS (
      |  SELECT c_custkey % 2147483647 AS r1, c_custkey % 2147483629 AS r2
      |  FROM bpk),
      |bph AS (
      |  SELECT ((r1 * r1 % 2147483647) * 48271 + r1 * 11 + 3)
      |    % 2147483647 % $p1 AS h FROM bpr
      |  UNION ALL
      |  SELECT ((r2 * r2 % 2147483629) * 16807 + r2 * 23 + 7)
      |    % 2147483629 % $p2 FROM bpr),
      |bpw AS (SELECT h // 62 AS w,
      |        bit_or(1::BIGINT << CAST(h % 62 AS INT)) AS bits
      |        FROM bph GROUP BY 1),
      |bpm AS (SELECT CAST(sum(bit_count(bits)) AS BIGINT) AS bits_set
      |        FROM bpw),
      |bpo AS (
      |  SELECT o_custkey, o_orderpriority, o_totalprice,
      |    (((o_custkey % 2147483647) * (o_custkey % 2147483647)
      |        % 2147483647) * 48271
      |      + (o_custkey % 2147483647) * 11 + 3)
      |      % 2147483647 % $p1 AS h1,
      |    (((o_custkey % 2147483629) * (o_custkey % 2147483629)
      |        % 2147483629) * 16807
      |      + (o_custkey % 2147483629) * 23 + 7)
      |      % 2147483629 % $p2 AS h2
      |  FROM orders),
      |bpc AS (
      |  SELECT o.*, k.c_custkey AS mk
      |  FROM bpo o
      |  JOIN bpw w1 ON w1.w = o.h1 // 62
      |    AND ((w1.bits >> CAST(o.h1 % 62 AS INT)) & 1) = 1
      |  JOIN bpw w2 ON w2.w = o.h2 // 62
      |    AND ((w2.bits >> CAST(o.h2 % 62 AS INT)) & 1) = 1
      |  LEFT JOIN bpk k ON k.c_custkey = o.o_custkey)
      |SELECT o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_candidates,
      |  CAST(count(mk) AS BIGINT) AS n_matched,
      |  CAST(count(*) - count(mk) AS BIGINT) AS n_false_pos,
      |  coalesce(CAST(sum(CASE WHEN mk IS NOT NULL
      |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0)
      |    AS matched_revenue,
      |  min(m.bits_set) AS bits_set,
      |  round((CAST(min(m.bits_set) AS DOUBLE) / $p1)
      |        * (CAST(min(m.bits_set) AS DOUBLE) / $p2), 6) AS fpp_est
      |FROM bpc CROSS JOIN bpm m
      |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private def coresetD2Sql(v: String, s: String): String =
    s"list_dot_product($v, $v) - 2.0 * list_dot_product($v, $s) " +
      s"+ list_dot_product($s, $s)"

  /** The FPS selection WITH-chain (cfe base + cfs0 seed + k−1 unrolled
    * argmax/update steps) — shared by the q_coreset_fps twin and the
    * q_coreset_cover census built on the same selection.
    */
  private def coresetFpsChainFrag(k: Int): String = {
    val steps = (1 until k).map { i =>
      val src = if (i == 1) "cfe" else s"cfm${i - 1}"
      val sel = s"cfs${i - 1}"
      val mind =
        if (i == 1) s"${coresetD2Sql("f.e", "s.e")} AS mind"
        else s"least(f.mind, ${coresetD2Sql("f.e", "s.e")}) AS mind"
      s"""cfm$i AS (SELECT f.vec_id, f.e, $mind
         |  FROM $src f CROSS JOIN $sel s WHERE f.vec_id <> s.vec_id),
         |cfs$i AS (SELECT vec_id, e, mind FROM cfm$i
         |  ORDER BY mind DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    s"""cfe AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |cfs0 AS (SELECT vec_id, e FROM cfe ORDER BY vec_id LIMIT 1),
       |$steps""".stripMargin
  }

  /** q_coreset_fps twin: seed = lowest vec_id, then k−1 unrolled rounds
    * of (argmax of min-d², ties to lowest id) + min-d² update against
    * the new pick — cfm_i is the candidate frame after round i's
    * removal, cfs_i the round-i selection. d² = e·e − 2·e·s + s·s in
    * the exact association order the Spark side uses.
    */
  private def coresetFpsOracleSql(k: Int): String = {
    val emits = (1 until k).map { i =>
      s"""UNION ALL SELECT $i, vec_id,
         |  floor(mind * 1000000.0 + 0.5) / 1000000.0 FROM cfs$i""".stripMargin
    }.mkString("\n")
    s"""WITH ${coresetFpsChainFrag(k)}
       |SELECT CAST(round AS INTEGER) AS round, vec_id, radius FROM (
       |SELECT 0 AS round, vec_id, CAST(0.0 AS DOUBLE) AS radius FROM cfs0
       |$emits
       |) ORDER BY round""".stripMargin
  }

  /** q_coreset_cover twin: the SAME selection chain, then every corpus
    * vector scored against all k centers (quant6 d² — quantized BEFORE
    * the argmin so both engines tie-break on identical values, ties to
    * the lowest center id), per-center census with the DECIMAL-exact
    * mean law.
    */
  private def coresetCoverOracleSql(k: Int): String = {
    val centers = (0 until k).map(i =>
      s"SELECT vec_id, e FROM cfs$i").mkString("\nUNION ALL ")
    s"""WITH ${coresetFpsChainFrag(k)},
       |cctr AS ($centers),
       |cscore AS (
       |  SELECT f.vec_id,
       |    floor((${coresetD2Sql("f.e", "c.e")}) * 1000000.0 + 0.5)
       |      / 1000000.0 AS d,
       |    c.vec_id AS cid
       |  FROM cfe f CROSS JOIN cctr c),
       |cbest AS (
       |  SELECT vec_id, d, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |  FROM cscore)
       |SELECT cid AS center_id, CAST(count(*) AS BIGINT) AS n_assigned,
       |  floor(CAST(sum(CAST(d AS DECIMAL(28,6))) AS DOUBLE) / count(*)
       |    * 1000000.0 + 0.5) / 1000000.0 AS mean_d2,
       |  max(d) AS max_d2
       |FROM cbest WHERE rn = 1
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private def entityResolveOracleSql(threshold: Double): String =
    s"""WITH RECURSIVE ${operators.EntityResolution.oracleChainFrag(threshold)}
       |SELECT p_partkey, block_key, entity_id
       |FROM resolved ORDER BY p_partkey""".stripMargin

  private def streamEntityOracleSql(threshold: Double): String =
    s"""WITH RECURSIVE ${operators.EntityResolution.oracleChainFrag(threshold)}
       |SELECT p_partkey, entity_id
       |FROM resolved ORDER BY p_partkey""".stripMargin

  private def entityCanonicalOracleSql(threshold: Double): String =
    s"""WITH RECURSIVE ${operators.EntityResolution.oracleChainFrag(threshold)},
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY entity_id
       |    ORDER BY p_retailprice DESC, p_partkey) AS rk
       |  FROM resolved)
       |SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands,
       |  CAST(count(DISTINCT p_type) AS BIGINT) AS n_types,
       |  min(p_retailprice) AS price_min, max(p_retailprice) AS price_max,
       |  max(CASE WHEN rk = 1 THEN p_partkey END) AS canonical_key,
       |  max(CASE WHEN rk = 1 THEN p_name END) AS canonical_name
       |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin

  private def pcaOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      val prev = if (i == 1) "pcv0" else s"pcv${i - 1}"
      s"""pcva$i AS (SELECT list(v ORDER BY dim) AS v FROM $prev),
         |pcs$i AS (SELECT xc, list_dot_product(xc, v) AS s
         |          FROM pcbase CROSS JOIN pcva$i),
         |pcux$i AS (SELECT s,
         |  unnest([{'dim': i-1, 'val': xc[i]}
         |          for i in range(1, len(xc)+1)], recursive := true)
         |  FROM pcs$i),
         |pcu$i AS (SELECT dim,
         |  CAST(sum(CAST(floor(val * s * 1000000.0 + 0.5) / 1000000.0
         |    AS DECIMAL(28,6))) AS DOUBLE) AS u
         |  FROM pcux$i GROUP BY 1),
         |pcn$i AS (SELECT sqrt(CAST(sum(CAST(floor(u * u * 1000000.0 + 0.5)
         |    / 1000000.0 AS DECIMAL(38,6))) AS DOUBLE)) AS nrm
         |  FROM pcu$i),
         |pcv$i AS (SELECT dim, floor(u / nrm * 1000000.0 + 0.5) / 1000000.0
         |  AS v FROM pcu$i CROSS JOIN pcn$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH pcex AS (
       |  SELECT unnest([{'dim': i-1, 'val': embedding[i]}
       |                 for i in range(1, len(embedding)+1)],
       |                recursive := true)
       |  FROM embeddings),
       |pcmu AS (
       |  SELECT dim,
       |    floor(CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5)
       |      / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE) / count(*)
       |      * 1000000.0 + 0.5) / 1000000.0 AS mu
       |  FROM pcex GROUP BY 1),
       |pcmv AS (SELECT list(mu ORDER BY dim) AS mu FROM pcmu),
       |pcbase AS (
       |  SELECT list_transform(range(1, len(embedding)+1),
       |           i -> embedding[i]::DOUBLE - mu[i]) AS xc
       |  FROM embeddings CROSS JOIN pcmv),
       |pcd AS (SELECT count(*) AS d FROM pcmu),
       |pcv0 AS (SELECT dim, floor(1.0 / sqrt(d) * 1000000.0 + 0.5)
       |         / 1000000.0 AS v FROM pcmu CROSS JOIN pcd),
       |$steps,
       |pcma AS (SELECT max(abs(v)) AS ma FROM pcv$iters),
       |pcsg AS (SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS sgn
       |         FROM pcv$iters CROSS JOIN pcma WHERE abs(v) = ma
       |         ORDER BY dim LIMIT 1)
       |SELECT CAST(dim AS INT) AS dim,
       |  floor(sgn * v * 1000000.0 + 0.5) / 1000000.0 AS loading
       |FROM pcv$iters CROSS JOIN pcsg ORDER BY dim""".stripMargin
  }

  private val distShiftOracleSql: String =
      """WITH dsa AS (SELECT lang, text FROM documents WHERE doc_id % 7 <> 0),
        |dsb AS (SELECT lang, CASE WHEN doc_id % 5 = 0 THEN text || ' rev2'
        |               ELSE text END AS text
        |        FROM documents WHERE doc_id % 11 <> 0),
        |dfa AS (
        |  SELECT lang, t, count(*) AS tfa FROM (
        |    SELECT lang, unnest(list_filter(
        |      string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '')) AS t FROM dsa)
        |  GROUP BY 1,2),
        |dfb AS (
        |  SELECT lang, t, count(*) AS tfb FROM (
        |    SELECT lang, unnest(list_filter(
        |      string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '')) AS t FROM dsb)
        |  GROUP BY 1,2),
        |dsj AS (
        |  SELECT coalesce(a.lang, b.lang) AS lang, coalesce(a.t, b.t) AS t,
        |         coalesce(a.tfa, 0) AS tfa, coalesce(b.tfb, 0) AS tfb
        |  FROM dfa a FULL OUTER JOIN dfb b ON a.lang = b.lang AND a.t = b.t),
        |dstt AS (SELECT lang, sum(tfa) AS na, sum(tfb) AS nb,
        |                count(*) AS v
        |         FROM dsj GROUP BY 1),
        |dsp AS (
        |  SELECT j.lang,
        |    CAST(j.tfa + 1 AS DOUBLE) / CAST(t.na + t.v AS DOUBLE) AS pa,
        |    CAST(j.tfb + 1 AS DOUBLE) / CAST(t.nb + t.v AS DOUBLE) AS pb
        |  FROM dsj j JOIN dstt t USING (lang)),
        |dsc AS (
        |  SELECT lang,
        |    floor(pa * ln(pa / pb) * 1000000.0 + 0.5) / 1000000.0 AS c_ab,
        |    floor(pb * ln(pb / pa) * 1000000.0 + 0.5) / 1000000.0 AS c_ba,
        |    floor((pa * ln(pa / ((pa + pb) / 2.0)) / 2.0
        |         + pb * ln(pb / ((pa + pb) / 2.0)) / 2.0)
        |          * 1000000.0 + 0.5) / 1000000.0 AS c_js
        |  FROM dsp)
        |SELECT c.lang, CAST(min(t.v) AS BIGINT) AS n_terms,
        |  CAST(min(t.na) AS BIGINT) AS n_tokens_a,
        |  CAST(min(t.nb) AS BIGINT) AS n_tokens_b,
        |  round(CAST(sum(CAST(c.c_ab AS DECIMAL(18,6))) AS DOUBLE), 6) AS kl_ab,
        |  round(CAST(sum(CAST(c.c_ba AS DECIMAL(18,6))) AS DOUBLE), 6) AS kl_ba,
        |  round(CAST(sum(CAST(c.c_js AS DECIMAL(18,6))) AS DOUBLE), 6) AS js
        |FROM dsc c JOIN dstt t USING (lang)
        |GROUP BY 1 ORDER BY 1""".stripMargin

  private val bottomkOracleSql: String =
    """WITH bks AS (
      |  SELECT lang, doc_id, md5(text) AS h,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY md5(text), doc_id) AS rk
      |  FROM documents)
      |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, h
      |FROM bks WHERE rk <= 50 ORDER BY lang, rk""".stripMargin

  // EWMA twin: the ffill-grid CTE, then span lag terms — each weighted
  // product and each present weight through the quant6 law, accumulated
  // as DECIMAL(18,6) (the order-exact sum), one final division (the SQL
  // mirror of Events.ewmaSmooth; weights are exact dyadic-decimal
  // literals from Events.ewmaWeights)
  private def ewmaOracleSql(span: Int): String = {
    val wts = Events.ewmaWeights(span)
    def lagOf(i: Int) = if (i == 0) "v_us" else s"lag(v_us, $i) OVER w"
    // weights cast to DOUBLE up front — DuckDB parses the bare decimal
    // literal as DECIMAL and overflows the fixed-point multiply
    val num = (0 until span).map { i =>
      s"""CAST(CASE WHEN ${lagOf(i)} IS NOT NULL THEN
         |  floor(CAST(${wts(i)} AS DOUBLE) * CAST(${lagOf(i)} AS DOUBLE)
         |        / 1000000.0 * 1000000.0 + 0.5) / 1000000.0
         |  ELSE 0.0 END AS DECIMAL(18,6))""".stripMargin
    }.mkString("\n + ")
    val den = (0 until span).map { i =>
      s"""CAST(CASE WHEN ${lagOf(i)} IS NOT NULL THEN
         |  floor(CAST(${wts(i)} AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         |  ELSE 0.0 END AS DECIMAL(18,6))""".stripMargin
    }.mkString("\n + ")
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, value FROM events),
       |obs AS (
       |  SELECT user_id, slot, value AS v FROM (
       |    SELECT user_id, us // 3600000000 AS slot, value,
       |           row_number() OVER (PARTITION BY user_id, us // 3600000000
       |                              ORDER BY us DESC, event_id DESC) AS rk
       |    FROM e) WHERE rk = 1),
       |sp AS (SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM obs GROUP BY 1),
       |grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS slot FROM sp),
       |j AS (SELECT g.user_id, g.slot, o.v FROM grid g
       |      LEFT JOIN obs o ON g.user_id = o.user_id AND g.slot = o.slot),
       |g2 AS (
       |  SELECT user_id, slot * 3600000000 AS slot_us,
       |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY slot
       |                                     ROWS UNBOUNDED PRECEDING) AS value_ffill
       |  FROM j),
       |b AS (SELECT user_id, slot_us, value_ffill,
       |        CAST(floor(value_ffill * 1000000.0 + 0.5) AS BIGINT) AS v_us
       |      FROM g2)
       |SELECT user_id, slot_us, value_ffill,
       |  round(CAST(($num) AS DOUBLE) / CAST(($den) AS DOUBLE), 6) AS ewma
       |FROM b
       |WINDOW w AS (PARTITION BY user_id ORDER BY slot_us)
       |ORDER BY user_id, slot_us""".stripMargin
  }

  /** Generated BFS oracle: the pagerank edge chain + a RECURSIVE
    * min-hop walk bounded at `hopBudget`, plus the explicit
    * hop = -1 emission for graph nodes the walk never reaches —
    * mirroring the operator's iterate-until-empty-frontier semantics.
    */
  private def bfsOracleSql(window: Int, minCount: Long,
                           hopBudget: Int): String =
    s"""WITH RECURSIVE bfb AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |                t -> t <> '') AS toks
       |  FROM documents),
       |bft AS MATERIALIZED (
       |  SELECT doc_id, pos, toks[pos] AS t FROM (
       |    SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS pos
       |    FROM bfb)),
       |bfu AS (
       |  SELECT least(a.t, b.t) AS t1, greatest(a.t, b.t) AS t2,
       |         count(*) AS n_ab
       |  FROM bft a JOIN bft b ON a.doc_id = b.doc_id AND b.pos > a.pos
       |       AND b.pos <= a.pos + $window AND a.t <> b.t
       |  GROUP BY 1,2 HAVING count(*) >= $minCount),
       |bfe AS MATERIALIZED (SELECT t1 AS src, t2 AS dst FROM bfu
       |       UNION ALL SELECT t2 AS src, t1 AS dst FROM bfu),
       |bfh0 AS MATERIALIZED (
       |  SELECT t AS term, 0 AS hop FROM (
       |    SELECT t, count(*) AS n FROM bft GROUP BY 1
       |    ORDER BY n DESC, t LIMIT 1)),
       |bfr(term, hop) AS (
       |  SELECT term, hop FROM bfh0
       |  UNION
       |  SELECT e.dst, r.hop + 1
       |  FROM bfr r JOIN bfe e ON e.src = r.term
       |  WHERE r.hop < $hopBudget),
       |bfm AS MATERIALIZED (
       |  SELECT term, min(hop) AS hop FROM bfr GROUP BY 1),
       |bfx AS (
       |  SELECT term, -1 AS hop FROM (SELECT DISTINCT src AS term FROM bfe)
       |  WHERE term NOT IN (SELECT term FROM bfm))
       |SELECT CAST(hop AS INT) AS hop, term
       |FROM (SELECT term, hop FROM bfm UNION ALL SELECT term, hop FROM bfx)
       |ORDER BY hop, term""".stripMargin

  private def pagerankOracleSql(window: Int, minCount: Long, iters: Int,
                                topK: Int): String = {
    val steps = (1 to iters).map { i =>
      val prev = if (i == 1) "pr0" else s"pr${i - 1}"
      s"""prc$i AS (
         |  SELECT e.dst AS t,
         |    CAST(sum(CAST(floor(r.r / CAST(d.deg AS DOUBLE) * 1000000.0 + 0.5)
         |                  / 1000000.0 AS DECIMAL(18,6))) AS DOUBLE) AS cs
         |  FROM pre e JOIN $prev r ON r.t = e.src JOIN prd d ON d.src = e.src
         |  GROUP BY 1),
         |pr$i AS (
         |  SELECT d.src AS t,
         |    floor((0.15 / prn.n + 0.85 * coalesce(c.cs, 0.0)) * 1000000.0 + 0.5)
         |      / 1000000.0 AS r
         |  FROM prd d CROSS JOIN prn LEFT JOIN prc$i c ON c.t = d.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH prb AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |                t -> t <> '') AS toks
       |  FROM documents),
       |prt AS MATERIALIZED (
       |  SELECT doc_id, pos, toks[pos] AS t FROM (
       |    SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS pos
       |    FROM prb)),
       |pru AS (
       |  SELECT least(a.t, b.t) AS t1, greatest(a.t, b.t) AS t2,
       |         count(*) AS n_ab
       |  FROM prt a JOIN prt b ON a.doc_id = b.doc_id AND b.pos > a.pos
       |       AND b.pos <= a.pos + $window AND a.t <> b.t
       |  GROUP BY 1,2 HAVING count(*) >= $minCount),
       |pre AS MATERIALIZED (SELECT t1 AS src, t2 AS dst FROM pru
       |       UNION ALL SELECT t2 AS src, t1 AS dst FROM pru),
       |prd AS MATERIALIZED (SELECT src, count(*) AS deg FROM pre GROUP BY 1),
       |prn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM prd),
       |pr0 AS (SELECT src AS t,
       |               floor(1.0 / prn.n * 1000000.0 + 0.5) / 1000000.0 AS r
       |        FROM prd CROSS JOIN prn),
       |$steps,
       |prfin AS (SELECT *, row_number() OVER (ORDER BY r DESC, t) AS rk
       |          FROM pr$iters)
       |SELECT CAST(rk AS BIGINT) AS rank, t AS term, round(r, 6) AS pagerank
       |FROM prfin WHERE rk <= $topK ORDER BY rank""".stripMargin
  }

  private def kmeansCentChainFrag(iters: Int, src: String, p: String): String = {
    val head =
      s"""${p}ex AS (
         |  SELECT label,
         |    unnest([{'dim': i-1, 'val': embedding[i]} for i in range(1, len(embedding)+1)],
         |           recursive := true)
         |  FROM $src),
         |${p}cent0 AS (
         |  SELECT label AS clabel, list(mean_val ORDER BY dim) AS c
         |  FROM (SELECT label, dim,
         |          CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
         |        FROM ${p}ex GROUP BY 1,2)
         |  GROUP BY 1)""".stripMargin
    val steps = (1 to iters).map { i =>
      s""",
         |${p}scored$i AS (
         |  SELECT e.vec_id, c.clabel,
         |         -2.0 * list_dot_product(e.embedding::DOUBLE[], c.c)
         |           + list_dot_product(c.c, c.c) AS s
         |  FROM $src e CROSS JOIN ${p}cent${i - 1} c),
         |${p}assigned$i AS (
         |  SELECT vec_id, clabel AS assigned FROM (
         |    SELECT vec_id, clabel,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY s, clabel) AS rk
         |    FROM ${p}scored$i) WHERE rk = 1),
         |${p}mex$i AS (
         |  SELECT a.assigned,
         |    unnest([{'dim': i-1, 'val': e.embedding[i]} for i in range(1, len(e.embedding)+1)],
         |           recursive := true)
         |  FROM $src e JOIN ${p}assigned$i a USING (vec_id)),
         |${p}means$i AS (
         |  SELECT assigned, dim,
         |         CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
         |  FROM ${p}mex$i GROUP BY 1,2),
         |${p}cent$i AS (
         |  SELECT assigned AS clabel, list(mean_val ORDER BY dim) AS c
         |  FROM ${p}means$i GROUP BY 1)""".stripMargin
    }.mkString
    head + steps
  }

  private def kmeansCentChain(iters: Int): String =
    "WITH " + kmeansCentChainFrag(iters, "embeddings", "")

  /** k-means trained for `iters` iterations: the final per-cell means. */
  private def kmeansTrainOracleSql(iters: Int): String =
    kmeansCentChain(iters) +
      s"""
         |SELECT assigned, CAST(dim AS INT) AS dim, mean_val
         |FROM means$iters ORDER BY assigned, dim""".stripMargin

  /** IVF search (nprobe=1) on the codebook after `iters` k-means
    * iterations — same search SQL as q_ivf_search, indexing cent$iters.
    */
  private def ivfTrainedOracleSql(iters: Int): String =
    kmeansCentChain(iters) +
      s""",
         |scoredq AS (
         |  SELECT e.vec_id, c.clabel,
         |         -2.0 * list_dot_product(e.embedding::DOUBLE[], c.c)
         |           + list_dot_product(c.c, c.c) AS s
         |  FROM embeddings e CROSS JOIN cent$iters c),
         |assignrk AS (
         |  SELECT vec_id, clabel,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY s, clabel) AS rk
         |  FROM scoredq),
         |b AS (
         |  SELECT e.vec_id, a.clabel AS assigned, e.embedding::DOUBLE[] AS emb,
         |         sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS nrm
         |  FROM embeddings e JOIN (SELECT vec_id, clabel FROM assignrk WHERE rk = 1) a
         |    USING (vec_id)),
         |q AS (SELECT vec_id AS query_id, assigned, emb AS q_emb, nrm AS q_nrm
         |      FROM b WHERE vec_id < 20),
         |pairs AS (
         |  SELECT q.query_id, b.vec_id AS neighbor_id,
         |         list_dot_product(b.emb, q.q_emb) / (b.nrm * q.q_nrm) AS sim
         |  FROM b JOIN q ON b.assigned = q.assigned AND b.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
         |  FROM pairs)
         |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, round(sim, 6) AS sim
         |FROM ranked WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin

  /** SemDeDup oracle: same trained codebook as the IVF oracles, then the
    * within-cell cosine pairs and the centroid-closest retention rule.
    * d2 = |v|² + s reproduces Spark's exact addition grouping (s is the
    * assignment score -2v·c+|c|², one value on both sides).
    */
  private def semanticDedupOracleSql(iters: Int, tau: Double): String =
    kmeansCentChain(iters) +
      s""",
         |scoredq AS (
         |  SELECT e.vec_id, c.clabel,
         |         -2.0 * list_dot_product(e.embedding::DOUBLE[], c.c)
         |           + list_dot_product(c.c, c.c) AS s
         |  FROM embeddings e CROSS JOIN cent$iters c),
         |assignrk AS (
         |  SELECT vec_id, clabel, s,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY s, clabel) AS rk
         |  FROM scoredq),
         |b AS (
         |  SELECT e.vec_id, a.clabel AS cell, e.embedding::DOUBLE[] AS emb,
         |         sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS nrm,
         |         list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) + a.s AS d2
         |  FROM embeddings e
         |  JOIN (SELECT vec_id, clabel, s FROM assignrk WHERE rk = 1) a USING (vec_id)),
         |qual AS (
         |  SELECT x.cell, x.vec_id AS a_id, y.vec_id AS b_id,
         |         x.d2 AS a_d2, y.d2 AS b_d2
         |  FROM b x JOIN b y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  WHERE list_dot_product(x.emb, y.emb) / (x.nrm * y.nrm) >= $tau),
         |sym AS (
         |  SELECT a_id AS vec_id, a_d2 AS my_d2, b_id AS nbr_id, b_d2 AS nbr_d2 FROM qual
         |  UNION ALL
         |  SELECT b_id, b_d2, a_id, a_d2 FROM qual),
         |agg AS (
         |  SELECT vec_id, count(*) AS n_near,
         |    max(CASE WHEN nbr_d2 < my_d2 OR (nbr_d2 = my_d2 AND nbr_id < vec_id)
         |        THEN 1 ELSE 0 END) AS dropped
         |  FROM sym GROUP BY 1)
         |SELECT b.vec_id, b.cell, round(b.d2, 6) AS d2,
         |  coalesce(agg.n_near, 0) AS n_near,
         |  CAST(1 - coalesce(agg.dropped, 0) AS INT) AS kept
         |FROM b LEFT JOIN agg USING (vec_id) ORDER BY vec_id""".stripMargin

  /** q_decontam_semantic: the SemDeDup cell chain with the md5 split
    * law, train×eval pairs within cells only, contaminated-eval census.
    */
  private def semanticDecontamOracleSql(iters: Int, tau: Double): String =
    kmeansCentChain(iters) +
      s""",
         |scoredq AS (
         |  SELECT e.vec_id, c.clabel,
         |         -2.0 * list_dot_product(e.embedding::DOUBLE[], c.c)
         |           + list_dot_product(c.c, c.c) AS s
         |  FROM embeddings e CROSS JOIN cent$iters c),
         |assignrk AS (
         |  SELECT vec_id, clabel,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY s, clabel) AS rk
         |  FROM scoredq),
         |bs AS (
         |  SELECT e.vec_id, a.clabel AS cell, e.embedding::DOUBLE[] AS emb,
         |         sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS nrm,
         |         CASE WHEN ('0x' || substr(md5(CAST(e.vec_id AS VARCHAR)), 1, 15))
         |                     ::UBIGINT::BIGINT % 100 < 80 THEN 'train'
         |              WHEN ('0x' || substr(md5(CAST(e.vec_id AS VARCHAR)), 1, 15))
         |                     ::UBIGINT::BIGINT % 100 < 90 THEN 'valid'
         |              ELSE 'test' END AS split
         |  FROM embeddings e
         |  JOIN (SELECT vec_id, clabel FROM assignrk WHERE rk = 1) a USING (vec_id)),
         |dpairs AS (
         |  SELECT e.split, e.vec_id,
         |         list_dot_product(e.emb, t.emb) / (e.nrm * t.nrm) AS sim
         |  FROM bs e JOIN bs t ON e.cell = t.cell
         |  WHERE e.split <> 'train' AND t.split = 'train')
         |SELECT split, vec_id, CAST(count(*) AS BIGINT) AS n_near_train,
         |       round(max(sim), 6) AS max_sim
         |FROM dpairs WHERE sim >= $tau
         |GROUP BY 1,2 ORDER BY split, vec_id""".stripMargin

  /** The coarse-assignment CTE chain (exact centroids → scores →
    * per-vector argmin) — shared by q_ivf_assign / q_stream_ivf_assign
    * and q_cluster_sample, which ranks within the assigned cells.
    */
  private val ivfAssignCtes: String =
    """WITH ex AS (
      |  SELECT label,
      |    unnest([{'dim': i-1, 'val': embedding[i]} for i in range(1, len(embedding)+1)],
      |           recursive := true)
      |  FROM embeddings),
      |cent AS (
      |  SELECT label AS clabel, list(mean_val ORDER BY dim) AS c
      |  FROM (SELECT label, dim,
      |          CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
      |        FROM ex GROUP BY 1,2)
      |  GROUP BY 1),
      |scored AS (
      |  SELECT e.vec_id, e.label, c.clabel,
      |         -2.0 * list_dot_product(e.embedding::DOUBLE[], c.c)
      |           + list_dot_product(c.c, c.c) AS s
      |  FROM embeddings e CROSS JOIN cent c),
      |best AS (
      |  SELECT vec_id, label, clabel,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY s, clabel) AS rk
      |  FROM scored)""".stripMargin

  private val ivfAssignOracleSql: String = ivfAssignCtes + "\n" +
    """SELECT label, clabel AS assigned, count(*) AS n_vectors
      |FROM best WHERE rk = 1 GROUP BY 1,2 ORDER BY label, assigned""".stripMargin

  private val clusterSampleOracleSql: String = ivfAssignCtes + ",\n" +
    """asg AS (
      |  SELECT vec_id, clabel AS assigned,
      |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)),1,15))::UBIGINT
      |      AS BIGINT) AS h
      |  FROM best WHERE rk = 1),
      |sz AS (SELECT assigned, count(*) AS n_cell FROM asg GROUP BY 1),
      |rkd AS (
      |  SELECT assigned, vec_id, h,
      |         row_number() OVER (PARTITION BY assigned ORDER BY h, vec_id)
      |           AS rk
      |  FROM asg)
      |SELECT r.assigned, CAST(r.rk AS BIGINT) AS rk, r.vec_id, r.h,
      |       s.n_cell
      |FROM rkd r JOIN sz s USING (assigned)
      |WHERE r.rk <= 40 ORDER BY assigned, rk""".stripMargin

  /** BPE merge-loop oracle: the same greedy spec as
    * TextAnalysis.bpeMerges, iterated as a generated CTE chain (like
    * kmeansCentChain). The merge step is expressed with windows instead
    * of a fold — within a run of consecutive matching positions (possible
    * only when t1 = t2), greedy left-to-right keeps exactly the
    * even-offset positions, so run-parity == the Spark fold. words$i and
    * top$i are MATERIALIZED: each is referenced twice per step and DuckDB
    * would otherwise inline the chain exponentially.
    */
  private def bpeOracleSql(iters: Int): String =
    bpeChainSql(iters) + "\nSELECT * FROM (\n" + (1 to iters).map { i =>
      s"SELECT CAST($i AS BIGINT) AS step, t1, t2, c AS pair_count FROM top$i"
    }.mkString("\nUNION ALL ") + ") ORDER BY step"

  /** Post-merge subword census over the chain's final words state. */
  private def bpeVocabOracleSql(iters: Int): String =
    bpeChainSql(iters) +
      s"""
         |SELECT tok AS token, CAST(sum(freq) AS BIGINT) AS freq,
         |       count(DISTINCT word) AS n_words
         |FROM (SELECT word, freq, unnest(toks) AS tok FROM words$iters)
         |GROUP BY 1 ORDER BY token""".stripMargin

  /** Corpus subword-token accounting under the trained merges. */
  private def bpeTokenCountOracleSql(iters: Int): String =
    bpeChainSql(iters) +
      s""",
         |wl AS (SELECT word, CAST(len(toks) AS BIGINT) AS n_sub FROM words$iters),
         |t AS (
         |  SELECT lang,
         |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS word
         |  FROM documents)
         |SELECT lang, count(*) AS n_words,
         |       CAST(sum(n_sub) AS BIGINT) AS n_subword_tokens
         |FROM t JOIN wl USING (word)
         |GROUP BY 1 ORDER BY lang""".stripMargin

  /** One merge-step application: `prev` words + the (t1, t2) in `top`
    * → `out` words, greedy left-to-right via run-parity windows (within
    * a run of consecutive matching positions — possible only when
    * t1 = t2 — greedy keeps exactly the even offsets, == the Spark
    * fold). Shared by the TRAINING chain and the APPLY chain so the
    * merge semantics can never drift between them.
    *
    * An EMPTY `top` (pair budget exhausted before k merges) fails
    * LOUDLY via error() instead of NULL-no-op'ing the remaining steps —
    * mirroring the Spark trainer's require() (TextAnalysis.bpeChain), so
    * both engines fail the same way on a degenerate corpus instead of
    * silently diverging (the train-split chain behind q_bpe_apply has a
    * smaller pair budget than the full corpus).
    */
  private def bpeMergeStepSql(prev: String, top: String, mrg: String,
                              out: String): String =
    s""",
       |$mrg AS (
       |  SELECT word, freq, pos, tok, nxt,
       |         CASE WHEN mt = 1 AND (pos - min(pos) OVER (PARTITION BY word, grp)) % 2 = 0
       |              THEN 1 ELSE 0 END AS do_merge
       |  FROM (
       |    SELECT word, freq, pos, tok, nxt, mt,
       |           CASE WHEN mt = 1 THEN pos - row_number() OVER (PARTITION BY word, mt ORDER BY pos)
       |                ELSE NULL END AS grp
       |    FROM (
       |      SELECT word, freq, pos, tok,
       |             lead(tok) OVER (PARTITION BY word ORDER BY pos) AS nxt,
       |             CASE WHEN tok = (SELECT coalesce(max(t1),
       |                     error('BPE: pair budget exhausted before k merges')) FROM $top)
       |                   AND lead(tok) OVER (PARTITION BY word ORDER BY pos) = (SELECT coalesce(max(t2),
       |                     error('BPE: pair budget exhausted before k merges')) FROM $top)
       |                  THEN 1 ELSE 0 END AS mt
       |      FROM (SELECT word, freq,
       |              unnest([{'pos': j, 'tok': toks[j]} for j in range(1, len(toks)+1)],
       |                     recursive := true)
       |            FROM $prev)))),
       |$out AS MATERIALIZED (
       |  SELECT word, freq, list(otok ORDER BY pos) AS toks FROM (
       |    SELECT word, freq, pos,
       |           CASE WHEN do_merge = 1 THEN tok || nxt ELSE tok END AS otok,
       |           lag(do_merge) OVER (PARTITION BY word ORDER BY pos) AS dropped
       |    FROM $mrg)
       |  WHERE coalesce(dropped, 0) = 0
       |  GROUP BY 1, 2)""".stripMargin

  /** Word census with char-split symbol state over `documents$where`,
    * named `${pfx}0` — the start state of both chains.
    */
  private def bpeWordsSql(pfx: String, where: String, withKw: String): String =
    s"""$withKw w_$pfx AS (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS word
       |    FROM documents$where) GROUP BY 1),
       |${pfx}0 AS MATERIALIZED (
       |  SELECT word, freq, [word[i] for i in range(1, len(word)+1)] AS toks FROM w_$pfx)""".stripMargin

  /** Train → apply oracle: the merge chain trained on the md5-routed
    * train split (same routing as q_hash_split), then each top$i merge
    * REPLAYED over the held-out split's words — eval words carry OOV
    * material by construction, so this checks segmentation via the
    * merge table, not vocabulary lookup.
    */
  private def bpeApplyOracleSql(iters: Int): String = {
    val trainPred =
      "('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT::BIGINT % 100 < 80"
    bpeChainSql(iters, s" WHERE $trainPred") +
      "," + bpeWordsSql("ew", s" WHERE NOT ($trainPred)", "").stripPrefix(" ") +
      (1 to iters).map { i =>
        bpeMergeStepSql(s"ew${i - 1}", s"top$i", s"amrg$i", s"ew$i")
      }.mkString +
      s"""
         |SELECT word, CAST(freq AS BIGINT) AS freq,
         |       CAST(len(toks) AS BIGINT) AS n_sub,
         |       array_to_string(toks, '|') AS segmentation
         |FROM ew$iters ORDER BY word""".stripMargin
  }

  private def bpeChainSql(iters: Int, where: String = ""): String = {
    val steps = (1 to iters).map { i =>
      s""",
         |pairs$i AS (
         |  SELECT t1, t2, CAST(sum(freq) AS BIGINT) AS c FROM (
         |    SELECT freq,
         |      unnest([{'t1': toks[j], 't2': toks[j+1]} for j in range(1, len(toks))],
         |             recursive := true)
         |    FROM words${i - 1} WHERE len(toks) >= 2)
         |  GROUP BY 1,2),
         |top$i AS MATERIALIZED (SELECT t1, t2, c FROM pairs$i ORDER BY c DESC, t1, t2 LIMIT 1)""".stripMargin +
        bpeMergeStepSql(s"words${i - 1}", s"top$i", s"mrg$i", s"words$i")
    }.mkString
    bpeWordsSql("words", where, "WITH") + steps
  }

  /** IVF-PQ composed search: the coarse side is the cent$iters codebook
    * from the same k-means CTE chain as q_ivf_search_trained (cells at
    * rk=1, probes at rk<=nprobe from ONE ranked assignment); the fine
    * side is the PQ code/lookup CTEs of q_pq_search verbatim; candidates
    * are the probed cells' members only, ADC-scored and ranked.
    */
  /** SQ8 census: per-element zero-scale guard inside the comprehension
    * mirrors sq8Base's transform-with-when exactly. Shared verbatim by
    * the batch (q_embed_quantize) and streaming-ingest (q_stream_sq8)
    * forms.
    */
  private def sq8CensusOracleSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |s AS (SELECT vec_id, e,
      |        list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      |      FROM v),
      |q AS (SELECT vec_id, e, scale,
      |        [CASE WHEN scale > 0
      |              THEN CAST(floor(e[i] / scale + 0.5) AS BIGINT)
      |              ELSE 0 END for i in range(1, len(e)+1)] AS codes
      |      FROM s),
      |r AS (SELECT vec_id, e, scale, codes,
      |        [e[i] - codes[i] * scale for i in range(1, len(e)+1)] AS res
      |      FROM q)
      |SELECT vec_id, CAST(len(e) AS BIGINT) AS n_dims,
      |  round(scale, 6) AS scale,
      |  CAST(list_sum(codes) AS BIGINT) AS sum_code,
      |  CAST(len(list_filter(codes, c -> abs(c) = 127)) AS BIGINT) AS n_sat,
      |  round(sqrt(list_dot_product(res, res)), 6) AS l2_err
      |FROM r ORDER BY vec_id""".stripMargin

  /** Sliding-window chunking: starts at 0, stride, 2*stride, ... while
    * start < n_tok; tail chunks shorter than `size` are emitted (the
    * RAG-prep contract chunkDocuments documents). Shared verbatim by the
    * batch (q_chunk_overlap) and streaming (q_stream_chunks) forms.
    */
  private def chunkOverlapOracleSql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                t -> t <> '') AS toks
      |  FROM documents),
      |b2 AS (SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) > 0),
      |st AS (SELECT doc_id, toks, n, unnest(range(0, n, 48)) AS start FROM b2)
      |SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_id,
      |  CAST(start AS BIGINT) AS start_tok,
      |  CAST(least(64, n - start) AS BIGINT) AS n_tok,
      |  md5(array_to_string(toks[start+1 : start + least(64, n - start)], ' '))
      |    AS chunk_hash
      |FROM st ORDER BY doc_id, chunk_id""".stripMargin

  /** CTEs mxbase..rnk of the data-mixture chain: DSIR scoring over the
    * RAW corpus (hashed features, 80% sample, gate-passers as target),
    * then per-source budgets and the (weight desc, doc_id) selection
    * order over the rows of `memberSrc` — `documents` for q_mixture,
    * the curated `final` for q_pipeline_pretrain (scores stay trained on
    * the raw distribution; membership and budgets are the curated
    * corpus's). Shared so the two selections can never drift.
    */
  /** q_mixture_temp's budget tail: α = 0.5 temperature resampling in
    * integer-exact arithmetic — w_d = ⌊√n_d⌋, T = total DIV 2,
    * budget_d = (T·w_d) DIV Σw (mirrors mixtureTemperature verbatim).
    */
  private val temperatureBudSql: String =
    """srct AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS src_tok FROM mix GROUP BY 1),
      |srcw AS (SELECT source, src_tok,
      |         CAST(floor(sqrt(CAST(src_tok AS DOUBLE))) AS BIGINT) AS w FROM srct),
      |grand AS (SELECT CAST(sum(src_tok) AS BIGINT) AS tot,
      |          CAST(sum(w) AS BIGINT) AS wsum FROM srcw),
      |bud AS (
      |  SELECT m.*, ((grand.tot // 2) * srcw.w) // grand.wsum AS budget
      |  FROM mix m JOIN srcw USING (source) CROSS JOIN grand),""".stripMargin

  private def mixtureChainFrag(memberSrc: String,
                               budOverride: String = ""): String = {
    val bud = if (budOverride.nonEmpty) budOverride else
      """bud AS (
        |  SELECT *, sum(n_tok) OVER (PARTITION BY source) * rate_pm // 1000 AS budget
        |  FROM mix),""".stripMargin
    s"""mxbase AS MATERIALIZED (
       |  SELECT doc_id, text,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT::BIGINT % 100 AS h,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
       |  FROM documents),
       |lab AS MATERIALIZED (
       |  SELECT doc_id, h, toks,
       |    CAST(len(toks) >= 20 AND len(toks) <= 100000
       |      AND (CASE WHEN len(toks) > 0
       |             THEN CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks)
       |             ELSE 0.0 END) BETWEEN 3.0 AND 10.0
       |      AND len(toks) > 0
       |      AND CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
       |          / len(toks) <= 0.1
       |      AND len(list_filter(toks, t -> t IN ('the','a','of','and','in','to','is'))) >= 2
       |      AS INT) AS pass
       |  FROM mxbase),
       |f AS MATERIALIZED (
       |  SELECT doc_id, h, pass,
       |    ('0x' || substr(md5(u.f),1,15))::UBIGINT::BIGINT % 1024 AS b
       |  FROM lab, unnest(list_concat(toks,
       |    [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))])) u(f)),
       |raw AS (SELECT b, count(*) AS n_raw FROM f WHERE h < 80 GROUP BY 1),
       |tgt AS (SELECT b, count(*) AS n_tgt FROM f WHERE h < 80 AND pass = 1 GROUP BY 1),
       |t AS (SELECT count(*) AS tot_raw, CAST(sum(pass) AS BIGINT) AS tot_tgt
       |      FROM f WHERE h < 80),
       |sc AS (
       |  SELECT ff.doc_id,
       |    CAST(round(-ln((coalesce(r.n_raw, 0) + 1)::DOUBLE /
       |                   (t.tot_raw + 1024)::DOUBLE), 6) AS DECIMAL(18,6)) AS s_raw,
       |    CAST(round(-ln((coalesce(g.n_tgt, 0) + 1)::DOUBLE /
       |                   (t.tot_tgt + 1024)::DOUBLE), 6) AS DECIMAL(18,6)) AS s_tgt
       |  FROM f ff LEFT JOIN raw r ON ff.b = r.b
       |            LEFT JOIN tgt g ON ff.b = g.b CROSS JOIN t),
       |agg AS (
       |  SELECT doc_id, CAST(sum(s_raw) - sum(s_tgt) AS DOUBLE) AS log_ratio
       |  FROM sc GROUP BY 1),
       |mix AS (
       |  SELECT b.doc_id, d.source, CAST(len(b.toks) AS BIGINT) AS n_tok, a.log_ratio,
       |    CASE WHEN d.source = 'src0' THEN 500
       |         WHEN d.source = 'src1' THEN 200 ELSE 300 END AS rate_pm
       |  FROM mxbase b JOIN $memberSrc d USING (doc_id) JOIN agg a USING (doc_id)),
       |$bud
       |rnk AS (
       |  SELECT *, CAST(row_number() OVER w AS BIGINT) AS dom_rank,
       |    coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY log_ratio DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM bud
       |  WINDOW w AS (PARTITION BY source ORDER BY log_ratio DESC, doc_id))""".stripMargin
  }

  /** q_pipeline_pretrain: the full corpus build — curate (stages 1-3) →
    * mixture selection within the curated membership (scores from the
    * raw corpus) → md5-mod-100 80/10/10 split → offset first-fit packing
    * per (split, lang) → per-(split, lang) sequence/doc/token census.
    */
  private def pretrainOracleSql(budget: Long): String =
    pretrainPackedFrag +
      s"""
         |SELECT split, lang, count(DISTINCT cb // $budget) AS n_bins,
         |       count(*) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS tokens
         |FROM packed GROUP BY 1,2 ORDER BY split, lang""".stripMargin

  /** q_pretrain_manifest: the packed chain projected to the training-
    * consumable rows — (split, lang, bin, bin_offset, doc_id, n_tok).
    */
  private def pretrainManifestOracleSql(budget: Long): String =
    pretrainPackedFrag +
      s"""
         |SELECT split, lang, CAST(cb // $budget AS BIGINT) AS bin,
         |       CAST(cb % $budget AS BIGINT) AS bin_offset, doc_id, n_tok
         |FROM packed ORDER BY doc_id""".stripMargin

  /** The pretrain chain through packing — curate, mixture selection,
    * split, and the per-(split, lang) exclusive token prefix `cb` —
    * shared by the census (q_pipeline_pretrain) and the manifest
    * (q_pretrain_manifest) so the two can never drift.
    */
  private def pretrainPackedFrag: String =
    "WITH RECURSIVE " + curateChainFrag + ",\n" +
      mixtureChainFrag("final") +
      s""",
         |sel AS (SELECT doc_id FROM rnk WHERE cum_before < budget),
         |pd AS (
         |  SELECT f2.doc_id, f2.lang, CAST(len(f2.toks) AS BIGINT) AS n_tok,
         |    ('0x' || substr(md5(CAST(f2.doc_id AS VARCHAR)),1,15))::UBIGINT::BIGINT % 100 AS sh
         |  FROM final f2 JOIN sel USING (doc_id)),
         |spl AS (
         |  SELECT doc_id, lang, n_tok,
         |    CASE WHEN sh < 80 THEN 'train' WHEN sh < 90 THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM pd),
         |packed AS (
         |  SELECT split, lang, doc_id, n_tok,
         |    coalesce(sum(n_tok) OVER (PARTITION BY split, lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |  FROM spl)""".stripMargin

  /** CTEs base..final of the curation chain (q_pipeline_curate stages
    * 1-3: Gopher gates → repetition cutoff → best-copy-per-cluster) over
    * `documents`, ending in final(doc_id, lang, source, text, toks) —
    * shared by q_pipeline_curate's census and q_pipeline_pretrain's
    * composition so the two can never drift. Callers must open with
    * WITH RECURSIVE (the reach CTE).
    */
  private def curateChainFrag: String =
    """base AS (
      |  SELECT doc_id, text, lang, source,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_words,
      |    CASE WHEN len(toks) > 0
      |      THEN CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks)
      |      ELSE 0.0 END AS mean_wlen,
      |    CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_symbols,
      |    CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','in','to','is'))) AS BIGINT) AS n_stop
      |  FROM base),
      |gat AS (
      |  SELECT doc_id FROM m
      |  WHERE n_words >= 20 AND n_words <= 100000
      |    AND mean_wlen >= 3.0 AND mean_wlen <= 10.0
      |    AND n_words > 0 AND CAST(n_symbols AS DOUBLE) / n_words <= 0.1
      |    AND n_stop >= 2),
      |g2 AS (
      |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
      |    THEN [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]
      |    ELSE [] END) AS g FROM base),
      |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1,2),
      |s2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n2, max(c) AS max2
      |       FROM c2 GROUP BY 1),
      |repok AS (
      |  SELECT b.doc_id FROM base b LEFT JOIN s2 USING (doc_id)
      |  WHERE round(CASE WHEN coalesce(s2.n2, 0) > 0
      |    THEN CAST(s2.max2 AS DOUBLE) / s2.n2 ELSE 0.0 END, 6) <= 0.08),
      |kept AS (
      |  SELECT b.doc_id, b.text, b.lang, b.source, b.toks FROM base b
      |  JOIN gat USING (doc_id) JOIN repok USING (doc_id)),
      |hashed AS (
      |  SELECT doc_id,
      |    [CAST(('0x' || substr(md5(t),1,15))::UBIGINT AS BIGINT) for t in toks] AS hs
      |  FROM kept),
      |fp AS (
      |  SELECT doc_id,
      |    CAST(list_sum([CASE WHEN list_sum([((h >> j) & 1)*2 - 1 for h in hs]) > 0
      |         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
      |         for j in range(0, 60)]) AS BIGINT) AS simhash
      |  FROM hashed),
      |banded AS (
      |  SELECT doc_id, simhash, b AS band, (simhash >> (b*15)) % 32768 AS band_key
      |  FROM fp, unnest(range(0, 4)) AS t(b)),
      |prs AS (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      |edges AS (
      |  SELECT a_id AS s, b_id AS d FROM prs
      |  UNION ALL
      |  SELECT b_id, a_id FROM prs),
      |reach(s, d) AS (
      |  SELECT s, d FROM edges
      |  UNION
      |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
      |comp AS (
      |  SELECT s AS doc_id, least(s, min(d)) AS cluster_id
      |  FROM reach GROUP BY s),
      |qual AS (
      |  SELECT doc_id,
      |    round(0.4*(CASE WHEN len(toks) > 0
      |        THEN CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','in','to','is'))) AS DOUBLE)/len(toks) ELSE 0.0 END)
      |      + 0.3*(CASE WHEN length(text) > 0
      |        THEN CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)/length(text) ELSE 0.0 END)
      |      + 0.3*(CAST(least(len(toks), 100) AS DOUBLE)/100.0), 6) AS quality_score
      |  FROM kept),
      |best AS (
      |  SELECT doc_id FROM (
      |    SELECT comp.doc_id,
      |           row_number() OVER (PARTITION BY comp.cluster_id
      |             ORDER BY qual.quality_score DESC, comp.doc_id) AS rk
      |    FROM comp JOIN qual USING (doc_id)) WHERE rk = 1),
      |final AS (
      |  SELECT k.doc_id, k.lang, k.source, k.text, k.toks FROM kept k
      |  WHERE k.doc_id NOT IN (SELECT doc_id FROM comp)
      |  UNION ALL
      |  SELECT k.doc_id, k.lang, k.source, k.text, k.toks FROM kept k JOIN best USING (doc_id))""".stripMargin

  /** q_stream_chunk_upsert: the final chunk-store state rebuilt in SQL.
    * Final text per doc = doubled for every 10th (the revision batch);
    * a final chunk's dup-at-insert flag is TRUE iff its hash exists
    * among the ORIGINAL chunks of a different document from an earlier
    * batch — batch(d) = (d - lo) // span per the stageRanges law, and
    * the revision batch (last) saw every original doc's chunks.
    */
  private def chunkUpsertOracleSql(nBatches: Int, size: Int,
                                   stride: Int): String =
    s"""WITH spn AS (
       |  SELECT min(doc_id) AS lo,
       |         (max(doc_id) - min(doc_id) + $nBatches) // $nBatches AS span
       |  FROM documents),
       |corpus AS (
       |  SELECT doc_id, text AS otext,
       |    CASE WHEN doc_id % 10 = 0 THEN text || ' ' || text ELSE text END AS ftext
       |  FROM documents),
       |ob AS (SELECT doc_id, list_filter(string_split_regex(lower(otext), '[^a-z0-9]+'),
       |                t -> t <> '') AS toks FROM corpus),
       |ob2 AS (SELECT doc_id, toks, len(toks) AS n FROM ob WHERE len(toks) > 0),
       |ost AS (SELECT doc_id, toks, n, unnest(range(0, n, $stride)) AS start FROM ob2),
       |och AS (
       |  SELECT doc_id,
       |    md5(array_to_string(toks[start+1 : start + least($size, n - start)], ' ')) AS chunk_hash
       |  FROM ost),
       |fb AS (SELECT doc_id, list_filter(string_split_regex(lower(ftext), '[^a-z0-9]+'),
       |                t -> t <> '') AS toks FROM corpus),
       |fb2 AS (SELECT doc_id, toks, len(toks) AS n FROM fb WHERE len(toks) > 0),
       |fst AS (SELECT doc_id, toks, n, unnest(range(0, n, $stride)) AS start FROM fb2),
       |fch AS (
       |  SELECT doc_id, CAST(start // $stride AS BIGINT) AS chunk_id,
       |    CAST(least($size, n - start) AS BIGINT) AS n_tok,
       |    md5(array_to_string(toks[start+1 : start + least($size, n - start)], ' ')) AS chunk_hash
       |  FROM fst),
       |flag AS (
       |  SELECT f.doc_id, f.chunk_id, f.n_tok,
       |    CASE WHEN EXISTS (
       |      SELECT 1 FROM och o, spn
       |      WHERE o.chunk_hash = f.chunk_hash AND o.doc_id <> f.doc_id
       |        AND (f.doc_id % 10 = 0
       |             OR (o.doc_id - spn.lo) // spn.span < (f.doc_id - spn.lo) // spn.span))
       |    THEN 1 ELSE 0 END AS dup_store
       |  FROM fch f)
       |SELECT doc_id, count(*) AS n_chunks,
       |       CAST(sum(n_tok) AS BIGINT) AS n_tok_total,
       |       CAST(sum(dup_store) AS BIGINT) AS n_dup_store,
       |       CAST(doc_id % 10 = 0 AS INT) AS revised
       |FROM flag GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The q_pq_search WITH-chain (untrained label-centroid sub-codebooks,
    * PQ codes, per-query ADC lookups, estimated distances, and the
    * (est, neighbor_id) ranking) — shared by q_pq_search's emission and
    * q_ann_rerank's shortlist so the two can never drift.
    */
  private def pqAdcRankedSql: String =
    """WITH sp AS (
      |  SELECT vec_id, label,
      |    (embedding::DOUBLE[])[1:len(embedding)//2] AS e1,
      |    (embedding::DOUBLE[])[len(embedding)//2+1:len(embedding)] AS e2
      |  FROM embeddings),
      |ex1 AS (
      |  SELECT label,
      |    unnest([{'dim': i-1, 'val': e1[i]} for i in range(1, len(e1)+1)],
      |           recursive := true)
      |  FROM sp),
      |cb1 AS (
      |  SELECT label AS clabel, list(mean_val ORDER BY dim) AS c
      |  FROM (SELECT label, dim,
      |          CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
      |        FROM ex1 GROUP BY 1,2)
      |  GROUP BY 1),
      |ex2 AS (
      |  SELECT label,
      |    unnest([{'dim': i-1, 'val': e2[i]} for i in range(1, len(e2)+1)],
      |           recursive := true)
      |  FROM sp),
      |cb2 AS (
      |  SELECT label AS clabel, list(mean_val ORDER BY dim) AS c
      |  FROM (SELECT label, dim,
      |          CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
      |        FROM ex2 GROUP BY 1,2)
      |  GROUP BY 1),
      |a1 AS (
      |  SELECT vec_id, clabel AS code1 FROM (
      |    SELECT sp.vec_id, c.clabel,
      |           row_number() OVER (PARTITION BY sp.vec_id ORDER BY
      |             -2.0 * list_dot_product(sp.e1, c.c) + list_dot_product(c.c, c.c),
      |             c.clabel) AS rk
      |    FROM sp CROSS JOIN cb1 c) WHERE rk = 1),
      |a2 AS (
      |  SELECT vec_id, clabel AS code2 FROM (
      |    SELECT sp.vec_id, c.clabel,
      |           row_number() OVER (PARTITION BY sp.vec_id ORDER BY
      |             -2.0 * list_dot_product(sp.e2, c.c) + list_dot_product(c.c, c.c),
      |             c.clabel) AS rk
      |    FROM sp CROSS JOIN cb2 c) WHERE rk = 1),
      |codes AS (SELECT vec_id, code1, code2 FROM a1 JOIN a2 USING (vec_id)),
      |d1 AS (
      |  SELECT sp.vec_id AS query_id, c.clabel AS c1,
      |         list_dot_product(sp.e1, sp.e1)
      |           + (-2.0 * list_dot_product(sp.e1, c.c) + list_dot_product(c.c, c.c)) AS d1
      |  FROM sp CROSS JOIN cb1 c WHERE sp.vec_id < 20),
      |d2 AS (
      |  SELECT sp.vec_id AS query_id, c.clabel AS c2,
      |         list_dot_product(sp.e2, sp.e2)
      |           + (-2.0 * list_dot_product(sp.e2, c.c) + list_dot_product(c.c, c.c)) AS d2
      |  FROM sp CROSS JOIN cb2 c WHERE sp.vec_id < 20),
      |est AS (
      |  SELECT d1.query_id, codes.vec_id AS neighbor_id, d1.d1 + d2.d2 AS est
      |  FROM codes
      |    JOIN d1 ON codes.code1 = d1.c1
      |    JOIN d2 ON codes.code2 = d2.c2 AND d1.query_id = d2.query_id
      |  WHERE codes.vec_id <> d1.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, est,
      |         row_number() OVER (PARTITION BY query_id ORDER BY est, neighbor_id) AS rk
      |  FROM est)""".stripMargin

  /** Two-stage re-rank: the PQ-ADC top-`m` shortlist re-ordered by exact
    * squared L2 from the raw vectors — expression grouping
    * (|q|² − 2 q·v) + |v|² mirrors Similarity.pqRerankSearch exactly.
    */
  private def annRerankOracleSql(m: Int): String =
    pqAdcRankedSql + rerankSuffixSql(m)

  private def ivfPqOracleSql(iters: Int, nprobe: Int,
                             candPred: String = ""): String =
    ivfPqRankedSql(iters, nprobe, candPred) +
      """
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
        |       round(est, 6) AS est_d2
        |FROM ranked WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin

  /** q_ivfpq_delete: the inline chain over embeddings-minus-deleted —
    * the SQL twin of the serve path's tombstone anti-join (the deleted
    * slice is Similarity.ivfPqDeleteRoundtrip's vec_id % 10 = 3 outside
    * the query set).
    */
  /** The NB quality-classifier chain through the per-doc held-out score
    * CTE `agg` (+ `lab` with the rule labels and `pri` priors in scope)
    * — shared by q_nb_quality's per-doc emission and q_nb_eval's
    * confusion census so the two can never drift.
    */
  private val nbChainSql: String =
    """WITH base AS MATERIALIZED (
      |  SELECT doc_id, text,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT::BIGINT % 100 AS h,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
      |  FROM documents),
      |lab AS MATERIALIZED (
      |  SELECT doc_id, h, toks,
      |    CAST(len(toks) >= 20 AND len(toks) <= 100000
      |      AND (CASE WHEN len(toks) > 0
      |             THEN CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks)
      |             ELSE 0.0 END) BETWEEN 3.0 AND 10.0
      |      AND len(toks) > 0
      |      AND CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
      |          / len(toks) <= 0.1
      |      AND len(list_filter(toks, t -> t IN ('the','a','of','and','in','to','is'))) >= 2
      |      AS INT) AS pass
      |  FROM base),
      |tok AS MATERIALIZED (SELECT doc_id, h, pass, unnest(toks) AS t FROM lab),
      |model AS (
      |  SELECT t, CAST(sum(pass) AS BIGINT) AS n_pass,
      |         CAST(sum(1 - pass) AS BIGINT) AS n_fail
      |  FROM tok WHERE h < 80 GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_pass) AS BIGINT) AS tot_pass,
      |               CAST(sum(n_fail) AS BIGINT) AS tot_fail, count(*) AS v FROM model),
      |pri AS (SELECT
      |    CAST(round(-ln(sum(pass)::DOUBLE / count(*)), 6) AS DECIMAL(18,6)) AS prior_pass,
      |    CAST(round(-ln(sum(1 - pass)::DOUBLE / count(*)), 6) AS DECIMAL(18,6)) AS prior_fail
      |  FROM lab WHERE h < 80),
      |sc AS (
      |  SELECT e.doc_id,
      |    CAST(round(-ln((coalesce(m.n_pass, 0) + 1)::DOUBLE /
      |                   (tot.tot_pass + tot.v)::DOUBLE), 6) AS DECIMAL(18,6)) AS s_pass,
      |    CAST(round(-ln((coalesce(m.n_fail, 0) + 1)::DOUBLE /
      |                   (tot.tot_fail + tot.v)::DOUBLE), 6) AS DECIMAL(18,6)) AS s_fail
      |  FROM tok e LEFT JOIN model m ON e.t = m.t CROSS JOIN tot
      |  WHERE e.h >= 80),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_tokens, sum(s_pass) AS lp, sum(s_fail) AS lf
      |  FROM sc GROUP BY 1)""".stripMargin

  /** q_ann_recall: recall@10 of the ADC chain against brute-force exact
    * L2 ground truth — `ranked` is the ivfPqRankedFrag chain verbatim
    * (the indexed search under evaluation), `truth` the full pairwise d2
    * ranking with the suite's (d2, neighbor_id) tie-break, `hits` the
    * per-query overlap.
    */
  private def annRecallOracleSql(iters: Int, nprobe: Int): String =
    ivfPqRankedSql(iters, nprobe) +
      """,
        |ann AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= 10),
        |exd AS (
        |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
        |         (list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
        |            - 2.0 * list_dot_product(q.embedding::DOUBLE[], v.embedding::DOUBLE[]))
        |           + list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]) AS d2
        |  FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
        |  WHERE q.vec_id < 20),
        |exr AS (
        |  SELECT query_id, neighbor_id,
        |         row_number() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rk
        |  FROM exd),
        |truth AS (SELECT query_id, neighbor_id FROM exr WHERE rk <= 10),
        |hits AS (
        |  SELECT t.query_id, count(a.neighbor_id) AS n_hit
        |  FROM truth t LEFT JOIN ann a
        |    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
        |  GROUP BY 1)
        |SELECT query_id, CAST(n_hit AS BIGINT) AS n_hit,
        |       round(n_hit / 10.0, 6) AS recall
        |FROM hits ORDER BY query_id""".stripMargin

  /** q_ivfpq_tune: one shared index-side chain, candidates carry their
    * cell's probe rank `pr`, and each nprobe setting's ranked list is a
    * rank over the pr ≤ np slice — per query, the candidates from the
    * top-np cells with the same ADC estimates, so the per-setting lists
    * are value-identical to running the serve at that nprobe.
    */
  private def ivfPqTuneOracleSql(iters: Int, nprobes: Seq[Int], nq: Long,
                                 k: Int, m: Int): String =
    "WITH " + ivfPqIndexSideFrag(iters, "embeddings") +
      s""",
         |probesa AS (
         |  SELECT vec_id AS query_id, clabel AS pcell, rk AS pr
         |  FROM assignrk WHERE vec_id < $nq AND rk <= ${nprobes.max}),
         |d1 AS (
         |  SELECT sp.vec_id AS query_id, c.clabel AS c1,
         |         list_dot_product(sp.e1, sp.e1)
         |           + (-2.0 * list_dot_product(sp.e1, c.c) + list_dot_product(c.c, c.c)) AS d1
         |  FROM sp CROSS JOIN cb1 c WHERE sp.vec_id < $nq),
         |d2 AS (
         |  SELECT sp.vec_id AS query_id, c.clabel AS c2,
         |         list_dot_product(sp.e2, sp.e2)
         |           + (-2.0 * list_dot_product(sp.e2, c.c) + list_dot_product(c.c, c.c)) AS d2
         |  FROM sp CROSS JOIN cb2 c WHERE sp.vec_id < $nq),
         |canda AS (
         |  SELECT p.query_id, c.vec_id, p.pr
         |  FROM cells c JOIN probesa p ON c.cell = p.pcell
         |  WHERE c.vec_id <> p.query_id),
         |esta AS (
         |  SELECT canda.query_id, canda.vec_id AS neighbor_id, canda.pr,
         |         d1.d1 + d2.d2 AS est
         |  FROM canda
         |    JOIN codes ON codes.vec_id = canda.vec_id
         |    JOIN d1 ON codes.code1 = d1.c1 AND d1.query_id = canda.query_id
         |    JOIN d2 ON codes.code2 = d2.c2 AND d2.query_id = canda.query_id),
         |exd AS (
         |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         |         (list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
         |            - 2.0 * list_dot_product(q.embedding::DOUBLE[], v.embedding::DOUBLE[]))
         |           + list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]) AS d2
         |  FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
         |  WHERE q.vec_id < $nq),
         |exr AS (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rk
         |  FROM exd),
         |truth AS (SELECT query_id, neighbor_id FROM exr WHERE rk <= $k),
         |""".stripMargin +
      nprobes.map { np =>
        s"""srt$np AS (
           |  SELECT query_id, neighbor_id,
           |         row_number() OVER (PARTITION BY query_id
           |                            ORDER BY est, neighbor_id) AS rk
           |  FROM esta WHERE pr <= $np),
           |ann$np AS (
           |  SELECT query_id, neighbor_id FROM srt$np WHERE rk <= $k),
           |annr$np AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT s.query_id, s.neighbor_id,
           |           row_number() OVER (PARTITION BY s.query_id
           |                              ORDER BY x.d2, s.neighbor_id) AS rrk
           |    FROM srt$np s JOIN exd x
           |      ON x.query_id = s.query_id AND x.neighbor_id = s.neighbor_id
           |    WHERE s.rk <= $m) WHERE rrk <= $k),
           |cen$np AS (
           |  SELECT $np AS nprobe, 'adc' AS serve,
           |         CAST(count(*) AS BIGINT) AS n_queries,
           |         round(sum(n_hit) / (count(*) * $k * 1.0), 6) AS mean_recall,
           |         round(min(n_hit) / ($k * 1.0), 6) AS min_recall
           |  FROM (SELECT t.query_id, count(a.neighbor_id) AS n_hit
           |        FROM truth t LEFT JOIN ann$np a
           |          ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
           |        GROUP BY 1)),
           |cenr$np AS (
           |  SELECT $np AS nprobe, 'adc_rerank' AS serve,
           |         CAST(count(*) AS BIGINT) AS n_queries,
           |         round(sum(n_hit) / (count(*) * $k * 1.0), 6) AS mean_recall,
           |         round(min(n_hit) / ($k * 1.0), 6) AS min_recall
           |  FROM (SELECT t.query_id, count(a.neighbor_id) AS n_hit
           |        FROM truth t LEFT JOIN annr$np a
           |          ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
           |        GROUP BY 1))""".stripMargin
      }.mkString(",\n") + "\n" +
      nprobes.map(np => s"SELECT * FROM cen$np UNION ALL SELECT * FROM cenr$np")
        .mkString(" UNION ALL ") +
      " ORDER BY nprobe, serve"

  private def ivfPqDeleteOracleSql(iters: Int, nprobe: Int): String =
    ivfPqOracleSql(iters, nprobe,
      " AND NOT (c.vec_id % 10 = 3 AND c.vec_id >= 20)")

  /** q_ivfpq_drift: the per-generation assignment-distortion census —
    * codebooks from the old (vec_id >= splitId) slice, every vector
    * assigned by the frozen-codebook argmin, per-row d² quantized and
    * averaged in exact DECIMAL per generation (gen 1 = the appended
    * slice). The SQL twin of Similarity.indexDrift over the
    * build-then-append index.
    */
  private def ivfPqDriftOracleSql(iters: Int, splitId: Long): String =
    s"""WITH emb_old AS (SELECT * FROM embeddings WHERE vec_id >= $splitId),
       |""".stripMargin +
      kmeansCentChainFrag(iters, "emb_old", "") +
      s""",
         |dsq AS (
         |  SELECT e.vec_id, c.clabel,
         |         -2.0 * list_dot_product(e.embedding::DOUBLE[], c.c)
         |           + list_dot_product(c.c, c.c) AS s
         |  FROM embeddings e CROSS JOIN cent$iters c),
         |dasg AS (
         |  SELECT vec_id, clabel FROM (
         |    SELECT vec_id, clabel,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY s, clabel) AS rk
         |    FROM dsq) WHERE rk = 1),
         |dd AS (
         |  SELECT CAST(CASE WHEN e.vec_id < $splitId THEN 1 ELSE 0 END AS BIGINT) AS gen,
         |         floor((list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
         |                + (-2.0 * list_dot_product(e.embedding::DOUBLE[], c.c)
         |                   + list_dot_product(c.c, c.c))) * 1000000.0 + 0.5) / 1000000.0 AS d2
         |  FROM embeddings e
         |    JOIN dasg a ON a.vec_id = e.vec_id
         |    JOIN cent$iters c ON c.clabel = a.clabel)
         |SELECT gen, count(*) AS n_vecs,
         |       floor(CAST(sum(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE) / count(*) * 1000000.0 + 0.5) / 1000000.0 AS mean_d2
         |FROM dd GROUP BY 1 ORDER BY gen""".stripMargin

  /** q_ivfpq_retrain: after the full lifecycle (build on the old slice,
    * frozen append, tombstone delete, retrain over the live corpus) the
    * serve must equal the inline chain trained on exactly the live
    * corpus — emb_live is both the training and the serving set.
    */
  private def ivfPqRetrainOracleSql(iters: Int, nprobe: Int): String =
    s"""WITH emb_live AS (
       |  SELECT * FROM embeddings
       |  WHERE NOT (vec_id % 10 = 3 AND vec_id >= 20)),
       |""".stripMargin +
      ivfPqRankedFrag(iters, nprobe, "emb_live", 20L) +
      """
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
        |       round(est, 6) AS est_d2
        |FROM ranked WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin

  /** q_ivfpq_saved_filtered: the re-rank chain with the metadata
    * predicate (even labels) bounding the candidate set — the SQL twin
    * of the serve path's allowed-id semi-join.
    */
  private def ivfPqFilteredRerankOracleSql(iters: Int, nprobe: Int,
                                           m: Int): String =
    ivfPqRerankOracleSql(iters, nprobe, m,
      " AND EXISTS (SELECT 1 FROM embeddings me" +
        " WHERE me.vec_id = c.vec_id AND me.label % 2 = 0)")

  /** Exact re-rank tail shared by q_ann_rerank, q_ivfpq_rerank and the
    * doc-tier graduation: the top-m of a `ranked` CTE re-ordered by true
    * squared L2 from the raw vectors in `src`, grouping
    * (|q|² − 2 q·v) + |v|² mirroring exactRerank.
    */
  /** CTEs rcand..rr: exact re-rank of the ADC shortlist `ranked` —
    * shared by the rerank serves and q_hybrid_ivfpq's vector side.
    */
  private def rerankChainFrag(m: Int, src: String): String =
    s"""rcand AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= $m),
       |rexact AS (
       |  SELECT rcand.query_id, rcand.neighbor_id,
       |         (list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
       |            - 2.0 * list_dot_product(q.embedding::DOUBLE[], v.embedding::DOUBLE[]))
       |           + list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]) AS d2
       |  FROM rcand
       |    JOIN $src q ON q.vec_id = rcand.query_id
       |    JOIN $src v ON v.vec_id = rcand.neighbor_id),
       |rr AS (
       |  SELECT query_id, neighbor_id, d2,
       |         row_number() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rk
       |  FROM rexact)""".stripMargin

  private def rerankSuffixSql(m: Int, src: String = "embeddings",
                              k: Int = 10): String =
    ",\n" + rerankChainFrag(m, src) +
    s"""
       |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, round(d2, 6) AS d2
       |FROM rr WHERE rk <= $k ORDER BY query_id, rank""".stripMargin

  private def ivfPqRerankOracleSql(iters: Int, nprobe: Int, m: Int,
                                   candPred: String = ""): String =
    ivfPqRankedSql(iters, nprobe, candPred) + rerankSuffixSql(m)

  /** q_ivfpq_append: frozen-codebook incremental semantics — the coarse
    * codebook chain and both PQ sub-codebooks train on the vec_id >=
    * splitId slice ONLY (emb_old / spo), while cells, codes, probes, and
    * candidates cover the full corpus. Everything else is the
    * ivfPqRankedFrag chain verbatim.
    */
  private def ivfPqAppendOracleSql(iters: Int, nprobe: Int, splitId: Long,
                                   nq: Long, k: Int): String =
    ivfPqFrozenChainSql(iters, nprobe, splitId, nq) +
      s"""
         |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
         |       round(est, 6) AS est_d2
         |FROM ranked WHERE rk <= $k ORDER BY query_id, rank""".stripMargin

  /** The frozen-codebook WITH-chain through `ranked` — quantizers from
    * the vec_id >= splitId slice only, cells/codes/probes/candidates
    * over the full corpus; `candPred` injects the tombstone predicate
    * for the lifecycle queries. Shared by q_ivfpq_append,
    * q_stream_index_append and q_ann_recall_lifecycle.
    */
  private def ivfPqFrozenChainSql(iters: Int, nprobe: Int, splitId: Long,
                                  nq: Long, candPred: String = ""): String =
    "WITH " + ivfPqFrozenChainFrag(iters, nprobe, splitId, nq, candPred,
      "embeddings")

  /** [[ivfPqFrozenChainSql]] with the source relation as a parameter —
    * q_stream_doc_fresh reuses the chain verbatim over the pooled
    * doc-vector CTE (`demb`), the frozen-codebook device one tier up.
    */
  private def ivfPqFrozenChainFrag(iters: Int, nprobe: Int, splitId: Long,
                                   nq: Long, candPred: String,
                                   src: String): String =
    s"""emb_old AS (SELECT * FROM $src WHERE vec_id >= $splitId),
       |""".stripMargin +
      kmeansCentChainFrag(iters, "emb_old", "") +
      s""",
         |sp AS (
         |  SELECT vec_id, label,
         |    (embedding::DOUBLE[])[1:len(embedding)//2] AS e1,
         |    (embedding::DOUBLE[])[len(embedding)//2+1:len(embedding)] AS e2
         |  FROM $src),
         |spo AS (SELECT sp.* FROM sp WHERE sp.vec_id >= $splitId),
         |ex1 AS (
         |  SELECT label,
         |    unnest([{'dim': i-1, 'val': e1[i]} for i in range(1, len(e1)+1)],
         |           recursive := true)
         |  FROM spo),
         |cb1 AS (
         |  SELECT label AS clabel, list(mean_val ORDER BY dim) AS c
         |  FROM (SELECT label, dim,
         |          CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
         |        FROM ex1 GROUP BY 1,2)
         |  GROUP BY 1),
         |ex2 AS (
         |  SELECT label,
         |    unnest([{'dim': i-1, 'val': e2[i]} for i in range(1, len(e2)+1)],
         |           recursive := true)
         |  FROM spo),
         |cb2 AS (
         |  SELECT label AS clabel, list(mean_val ORDER BY dim) AS c
         |  FROM (SELECT label, dim,
         |          CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
         |        FROM ex2 GROUP BY 1,2)
         |  GROUP BY 1),
         |a1 AS (
         |  SELECT vec_id, clabel AS code1 FROM (
         |    SELECT sp.vec_id, c.clabel,
         |           row_number() OVER (PARTITION BY sp.vec_id ORDER BY
         |             -2.0 * list_dot_product(sp.e1, c.c) + list_dot_product(c.c, c.c),
         |             c.clabel) AS rk
         |    FROM sp CROSS JOIN cb1 c) WHERE rk = 1),
         |a2 AS (
         |  SELECT vec_id, clabel AS code2 FROM (
         |    SELECT sp.vec_id, c.clabel,
         |           row_number() OVER (PARTITION BY sp.vec_id ORDER BY
         |             -2.0 * list_dot_product(sp.e2, c.c) + list_dot_product(c.c, c.c),
         |             c.clabel) AS rk
         |    FROM sp CROSS JOIN cb2 c) WHERE rk = 1),
         |codes AS (SELECT vec_id, code1, code2 FROM a1 JOIN a2 USING (vec_id)),
         |scoredq AS (
         |  SELECT e.vec_id, c.clabel,
         |         -2.0 * list_dot_product(e.embedding::DOUBLE[], c.c)
         |           + list_dot_product(c.c, c.c) AS s
         |  FROM $src e CROSS JOIN cent$iters c),
         |assignrk AS (
         |  SELECT vec_id, clabel,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY s, clabel) AS rk
         |  FROM scoredq),
         |cells AS (SELECT vec_id, clabel AS cell FROM assignrk WHERE rk = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, clabel AS pcell
         |  FROM assignrk WHERE vec_id < $nq AND rk <= $nprobe),
         |d1 AS (
         |  SELECT sp.vec_id AS query_id, c.clabel AS c1,
         |         list_dot_product(sp.e1, sp.e1)
         |           + (-2.0 * list_dot_product(sp.e1, c.c) + list_dot_product(c.c, c.c)) AS d1
         |  FROM sp CROSS JOIN cb1 c WHERE sp.vec_id < $nq),
         |d2 AS (
         |  SELECT sp.vec_id AS query_id, c.clabel AS c2,
         |         list_dot_product(sp.e2, sp.e2)
         |           + (-2.0 * list_dot_product(sp.e2, c.c) + list_dot_product(c.c, c.c)) AS d2
         |  FROM sp CROSS JOIN cb2 c WHERE sp.vec_id < $nq),
         |cand AS (
         |  SELECT p.query_id, c.vec_id
         |  FROM cells c JOIN probes p ON c.cell = p.pcell
         |  WHERE c.vec_id <> p.query_id$candPred),
         |est AS (
         |  SELECT cand.query_id, cand.vec_id AS neighbor_id, d1.d1 + d2.d2 AS est
         |  FROM cand
         |    JOIN codes ON codes.vec_id = cand.vec_id
         |    JOIN d1 ON codes.code1 = d1.c1 AND d1.query_id = cand.query_id
         |    JOIN d2 ON codes.code2 = d2.c2 AND d2.query_id = cand.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, est,
         |         row_number() OVER (PARTITION BY query_id ORDER BY est, neighbor_id) AS rk
         |  FROM est)""".stripMargin

  /** q_ann_recall_lifecycle: the frozen-codebook chain with the
    * tombstone predicate, served to rank 10, graded against exact-L2
    * ground truth over the LIVE corpus — annRecallOracleSql's census
    * with `live` in place of `embeddings` on the truth side.
    */
  private def annRecallLifecycleOracleSql(iters: Int, nprobe: Int,
                                          splitId: Long): String =
    ivfPqFrozenChainSql(iters, nprobe, splitId, 20L,
      s" AND NOT (c.vec_id % 10 = 3 AND c.vec_id >= 20 AND c.vec_id < $splitId)") +
      s""",
         |live AS (
         |  SELECT * FROM embeddings
         |  WHERE NOT (vec_id % 10 = 3 AND vec_id >= 20 AND vec_id < $splitId)),
         |ann AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= 10),
         |exd AS (
         |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         |         (list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])
         |            - 2.0 * list_dot_product(q.embedding::DOUBLE[], v.embedding::DOUBLE[]))
         |           + list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]) AS d2
         |  FROM live q JOIN live v ON v.vec_id <> q.vec_id
         |  WHERE q.vec_id < 20),
         |exr AS (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rk
         |  FROM exd),
         |truth AS (SELECT query_id, neighbor_id FROM exr WHERE rk <= 10),
         |hits AS (
         |  SELECT t.query_id, count(a.neighbor_id) AS n_hit
         |  FROM truth t LEFT JOIN ann a
         |    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |  GROUP BY 1)
         |SELECT query_id, CAST(n_hit AS BIGINT) AS n_hit,
         |       round(n_hit / 10.0, 6) AS recall
         |FROM hits ORDER BY query_id""".stripMargin

  /** q_rag_e2e: the chunking CTEs (chunkOverlapOracleSql's chain,
    * parameterized), a hash-derived per-chunk embedding (md5-of-
    * chunk_hash per component scaled to [-1,1] at 6 decimals — the same
    * arithmetic Similarity.ragRetrieve runs), then the SHARED
    * [[ivfPqRankedFrag]] serving chain over the chunk corpus and an
    * exact re-rank whose final select joins back to the chunk table for
    * (doc_id, chunk_id, start_tok, n_tok) provenance.
    */
  /** CTEs chbase..cemb: the chunk table plus the hash-derived chunk
    * embeddings — the SQL twin of Similarity.chunkEmbeddings, shared by
    * q_rag_e2e and q_stream_chunk_embed.
    */
  private def chunkEmbFrag(size: Int, stride: Int, dims: Int,
                           nLabels: Int): String =
    s"""chbase AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |                t -> t <> '') AS toks
       |  FROM documents),
       |chb2 AS (SELECT doc_id, toks, len(toks) AS n FROM chbase WHERE len(toks) > 0),
       |chst AS (SELECT doc_id, toks, n, unnest(range(0, n, $stride)) AS start FROM chb2),
       |chunks AS (
       |  SELECT doc_id, CAST(start // $stride AS BIGINT) AS chunk_id,
       |    CAST(start AS BIGINT) AS start_tok,
       |    CAST(least($size, n - start) AS BIGINT) AS n_tok,
       |    md5(array_to_string(toks[start+1 : start + least($size, n - start)], ' ')) AS chunk_hash
       |  FROM chst),
       |cemb AS (
       |  SELECT doc_id * 1000000 + chunk_id AS vec_id,
       |    CAST(('0x' || substr(md5(chunk_hash),1,15))::UBIGINT::BIGINT % $nLabels AS INT) AS label,
       |    [CAST(('0x' || substr(md5(chunk_hash || ':' || CAST(j AS VARCHAR)),1,15))::UBIGINT::BIGINT % 2000001 - 1000000 AS DOUBLE) / 1000000.0
       |     for j in range(0, $dims)] AS embedding,
       |    doc_id, chunk_id, start_tok, n_tok
       |  FROM chunks)""".stripMargin

  /** CTEs dpx..demb: q_doc_embed's DECIMAL-exact mean pooling over the
    * `cemb` chunk embeddings, re-assembled into the (vec_id, label,
    * embedding) shape [[ivfPqRankedFrag]] consumes — the SQL twin of
    * Similarity.docVectors. Requires chunkEmbFrag's CTEs in scope.
    */
  private def docVecFrag(nLabels: Int): String =
    s"""dpx AS (
       |  SELECT vec_id // 1000000 AS pdoc,
       |    unnest([{'dim': i-1, 'v': embedding[i]}
       |            for i in range(1, len(embedding)+1)], recursive := true)
       |  FROM cemb),
       |dpm AS (
       |  SELECT pdoc AS doc_id, dim,
       |    floor(CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(*) * 1000000.0 + 0.5) / 1000000.0 AS v
       |  FROM dpx GROUP BY 1,2),
       |demb AS (
       |  SELECT doc_id AS vec_id, CAST(doc_id % $nLabels AS INT) AS label,
       |         list(v ORDER BY dim) AS embedding
       |  FROM dpm GROUP BY doc_id)""".stripMargin

  /** CTEs px..drk: the pooled-vector cosine retrieval chain (q_doc_
    * search), ranked in `drk` — the SQL twin of Similarity.docSearch,
    * shared verbatim by q_doc_search and q_hybrid_rrf's vector side.
    * Requires chunkEmbFrag's CTEs in scope.
    */
  private def docSearchFrag(nq: Long): String =
    s"""px AS (
       |  SELECT vec_id // 1000000 AS pdoc,
       |    unnest([{'dim': i-1, 'v': embedding[i]}
       |            for i in range(1, len(embedding)+1)], recursive := true)
       |  FROM cemb),
       |dm AS (
       |  SELECT pdoc AS doc_id, dim,
       |    CAST(floor(CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / count(*) * 1000000.0 + 0.5) / 1000000.0
       |         AS DECIMAL(18,6)) AS v
       |  FROM px GROUP BY 1,2),
       |nr AS (SELECT doc_id, sqrt(CAST(sum(v*v) AS DOUBLE)) AS nrm FROM dm GROUP BY 1),
       |dots AS (
       |  SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
       |         CAST(sum(c.v * q.v) AS DOUBLE) AS dot
       |  FROM dm c JOIN dm q ON c.dim = q.dim
       |  WHERE q.doc_id < $nq AND c.doc_id <> q.doc_id
       |  GROUP BY 1,2),
       |dsc AS (
       |  SELECT d.query_id, d.cand_id, d.dot / (n1.nrm * n2.nrm) AS sim
       |  FROM dots d JOIN nr n1 ON n1.doc_id = d.query_id
       |              JOIN nr n2 ON n2.doc_id = d.cand_id
       |  WHERE n1.nrm > 0 AND n2.nrm > 0),
       |drk AS (
       |  SELECT query_id, cand_id, sim,
       |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rk
       |  FROM dsc)""".stripMargin

  /** CTEs pfb..prk: pseudo-relevance-feedback expansion + second-pass
    * rescore over the bm25Frag chain — the SQL twin of
    * TextAnalysis.bm25Prf, shared by q_bm25_prf and q_retrieval_eval's
    * prf arm. Requires bm25Frag's CTEs in scope.
    */
  private def prfChainFrag(nq: Long): String =
    s"""pfb AS (SELECT query_id, cand_id AS fb_doc FROM brk WHERE rk <= 3),
       |pgidf AS (SELECT term,
       |    floor(ln((bst.n_docs - CAST(bdfr.df AS DOUBLE) + 0.5)
       |             / (CAST(bdfr.df AS DOUBLE) + 0.5) + 1.0)
       |          * 1000000.0 + 0.5) / 1000000.0 AS idf
       |  FROM bdfr CROSS JOIN bst),
       |pexq AS (
       |  SELECT e.query_id, e.term, e.fbtf, e.idf FROM (
       |    SELECT f.query_id, t.term, sum(t.tf) AS fbtf, max(g.idf) AS idf
       |    FROM pfb f JOIN btf t ON t.doc_id = f.fb_doc
       |         JOIN pgidf g ON g.term = t.term
       |    GROUP BY 1,2) e
       |  LEFT JOIN (SELECT doc_id AS query_id, term FROM btf WHERE doc_id < $nq) q
       |    ON q.query_id = e.query_id AND q.term = e.term
       |  WHERE q.term IS NULL),
       |pexp AS (SELECT query_id, term, idf, 0.5 AS wq FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY fbtf * idf DESC, term) AS trk
       |    FROM pexq) WHERE trk <= 2),
       |pqall AS (
       |  SELECT q.doc_id AS query_id, q.term, g.idf, 1.0 AS wq
       |  FROM btf q JOIN pgidf g ON g.term = q.term WHERE q.doc_id < $nq
       |  UNION ALL SELECT query_id, term, idf, wq FROM pexp),
       |ppw AS (
       |  SELECT qa.query_id, btf.doc_id,
       |    floor(qa.wq * qa.idf * (CAST(btf.tf AS DOUBLE) * (1.2 + 1.0))
       |          / (CAST(btf.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75
       |             * (CAST(bdl.dl AS DOUBLE) / bst.avgdl)))
       |          * 1000000.0 + 0.5) / 1000000.0 AS w
       |  FROM btf JOIN bdl USING (doc_id) CROSS JOIN bst
       |       JOIN pqall qa ON qa.term = btf.term
       |  WHERE btf.doc_id <> qa.query_id),
       |psc AS (SELECT query_id, doc_id AS cand_id,
       |               CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS s
       |        FROM ppw GROUP BY 1,2),
       |prk AS (SELECT query_id, cand_id, s,
       |        row_number() OVER (PARTITION BY query_id ORDER BY s DESC, cand_id) AS rk
       |        FROM psc)""".stripMargin

  /** CTEs wlx..wrk: per-query min-max normalization + convex fusion of
    * the two quantized top-m lists — the SQL twin of
    * Similarity.hybridWeighted, shared by q_hybrid_wsum and
    * q_retrieval_eval's wsum arm. Requires brk and drk in scope.
    */
  private def wsumChainFrag(m: Int): String =
    s"""wlx AS (SELECT query_id, cand_id, round(bm25, 6) AS s FROM brk WHERE rk <= $m),
       |wvx AS (SELECT query_id, cand_id, round(sim, 6) AS s FROM drk WHERE rk <= $m),
       |wlm AS (SELECT query_id, min(s) AS lo, max(s) AS hi FROM wlx GROUP BY 1),
       |wvm AS (SELECT query_id, min(s) AS lo, max(s) AS hi FROM wvx GROUP BY 1),
       |wln AS (SELECT l.query_id, l.cand_id,
       |               CASE WHEN m.hi = m.lo THEN 1.0
       |                    ELSE (l.s - m.lo) / (m.hi - m.lo) END AS lnorm
       |        FROM wlx l JOIN wlm m USING (query_id)),
       |wvn AS (SELECT v.query_id, v.cand_id,
       |               CASE WHEN m.hi = m.lo THEN 1.0
       |                    ELSE (v.s - m.lo) / (m.hi - m.lo) END AS vnorm
       |        FROM wvx v JOIN wvm m USING (query_id)),
       |wfus AS (
       |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
       |         coalesce(l.cand_id, v.cand_id) AS cand_id,
       |         0.3 * COALESCE(l.lnorm, 0.0) + 0.7 * COALESCE(v.vnorm, 0.0) AS s
       |  FROM wln l FULL OUTER JOIN wvn v
       |    ON l.query_id = v.query_id AND l.cand_id = v.cand_id),
       |wrk AS (
       |  SELECT query_id, cand_id, s,
       |         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, cand_id) AS rk
       |  FROM wfus)""".stripMargin

  /** The SCD2 build in SQL — shared verbatim by q_scd2 (one-shot
    * batch) and q_stream_scd2 (incremental CDC maintenance): the
    * streamed store must equal the batch build exactly.
    */
  private def scd2OracleSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |ch AS (SELECT * FROM e WHERE prev_type IS NULL OR prev_type <> event_type),
      |v AS (
      |  SELECT user_id, event_type AS state,
      |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS version_no,
      |         us AS valid_from_us,
      |         lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to_us
      |  FROM ch)
      |SELECT user_id, state, version_no, valid_from_us, valid_to_us,
      |       CAST(CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
      |FROM v ORDER BY user_id, version_no""".stripMargin

  /** CTEs btok..brk: the Okapi BM25 lexical retrieval chain
    * (q_bm25_topk), ranked in `brk` — the SQL twin of
    * TextAnalysis.bm25TopK, shared verbatim by q_bm25_topk and
    * q_hybrid_rrf's lexical side. idf goes through the quant6 law
    * right after ln; each per-term weight is a fixed-order IEEE chain
    * on quantized inputs, quantized again, then DECIMAL-summed.
    */
  private def bm25Frag(nq: Long, k1: Double, b: Double): String =
    s"""btok AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |           t -> t <> '')) AS term
       |  FROM documents),
       |btf AS (SELECT doc_id, term, count(*) AS tf FROM btok GROUP BY 1,2),
       |bdl AS (SELECT doc_id, count(*) AS dl FROM btok GROUP BY 1),
       |bst AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |               CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |        FROM bdl),
       |bdfr AS (SELECT term, count(*) AS df FROM btf GROUP BY 1),
       |bqt AS (
       |  SELECT btf.doc_id AS q_id, btf.term,
       |         floor(ln((bst.n_docs - CAST(bdfr.df AS DOUBLE) + 0.5)
       |                  / (CAST(bdfr.df AS DOUBLE) + 0.5) + 1.0)
       |               * 1000000.0 + 0.5) / 1000000.0 AS idf
       |  FROM btf JOIN bdfr USING (term) CROSS JOIN bst
       |  WHERE btf.doc_id < $nq),
       |bw AS (
       |  SELECT bqt.q_id, btf.doc_id,
       |         floor(bqt.idf * (CAST(btf.tf AS DOUBLE) * ($k1 + 1.0))
       |               / (CAST(btf.tf AS DOUBLE) + $k1 * ((1.0 - $b) + $b
       |                  * (CAST(bdl.dl AS DOUBLE) / bst.avgdl)))
       |               * 1000000.0 + 0.5) / 1000000.0 AS w
       |  FROM btf JOIN bdl USING (doc_id) CROSS JOIN bst
       |       JOIN bqt ON bqt.term = btf.term
       |  WHERE btf.doc_id <> bqt.q_id),
       |bsc AS (SELECT q_id AS query_id, doc_id AS cand_id,
       |               CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS bm25
       |        FROM bw GROUP BY 1,2),
       |brk AS (
       |  SELECT query_id, cand_id, bm25,
       |         row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, cand_id) AS rk
       |  FROM bsc)""".stripMargin

  /** CTEs qctf..qlrk: the Dirichlet query-likelihood chain (the SQL
    * twin of TextAnalysis.qlFromPostings), ranked in `qlrk`. Requires
    * bm25Frag's btf/bdl in scope. Shared by q_ql_dirichlet, q_ql_saved
    * (verbatim — the posting store serves both scoring models),
    * q_hybrid_3way, and q_retrieval_eval's ql arm.
    */
  private def qlChainFrag(nq: Long, mu: String = "100.0"): String =
    s"""qctf AS (SELECT term, sum(tf) AS ctf FROM btf GROUP BY 1),
       |qcc AS (SELECT CAST(sum(tf) AS DOUBLE) AS c FROM btf),
       |qqt AS (SELECT doc_id AS q_id, term, tf AS qtf FROM btf WHERE doc_id < $nq),
       |qqlen AS (SELECT q_id, sum(qtf) AS qlen FROM qqt GROUP BY 1),
       |qw AS (
       |  SELECT qqt.q_id, btf.doc_id,
       |    floor(CAST(qqt.qtf AS DOUBLE) *
       |      (floor(ln(1.0 + CAST(btf.tf AS DOUBLE) * qcc.c
       |                / ($mu * CAST(qctf.ctf AS DOUBLE))) * 1000000.0 + 0.5)
       |       / 1000000.0)
       |      * 1000000.0 + 0.5) / 1000000.0 AS w
       |  FROM btf JOIN qqt USING (term) JOIN qctf USING (term) CROSS JOIN qcc
       |  WHERE btf.doc_id <> qqt.q_id),
       |qmt AS (SELECT q_id, doc_id, CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS sw
       |        FROM qw GROUP BY 1,2),
       |qsc AS (
       |  SELECT m.q_id AS query_id, m.doc_id AS cand_id,
       |    m.sw + floor(CAST(l.qlen AS DOUBLE) *
       |      (floor(ln($mu / (CAST(d.dl AS DOUBLE) + $mu)) * 1000000.0 + 0.5)
       |       / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS s
       |  FROM qmt m JOIN bdl d ON d.doc_id = m.doc_id
       |       JOIN qqlen l ON l.q_id = m.q_id),
       |qlrk AS (SELECT query_id, cand_id, s,
       |         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, cand_id) AS rk
       |         FROM qsc)""".stripMargin

  private def qlTopKOracleSql: String =
    "WITH " + bm25Frag(10L, 1.2, 0.75) + ",\n" + qlChainFrag(10L) +
      """
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, cand_id AS neighbor_id,
        |       round(s, 6) AS ql
        |FROM qlrk WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin

  /** CTEs t3u..t3rk: three-list reciprocal-rank fusion over brk
    * (BM25), qlrk (query likelihood), and drk (vector) — each
    * 1/(c+rank) term quantized then DECIMAL-summed because the
    * per-candidate contribution count varies (no fixed addition order
    * exists). The SQL twin of Similarity.hybridRrf3.
    */
  private def rrf3ChainFrag(m: Int, c: String): String =
    s"""t3u AS (
       |  SELECT query_id, cand_id, rk FROM brk WHERE rk <= $m
       |  UNION ALL SELECT query_id, cand_id, rk FROM qlrk WHERE rk <= $m
       |  UNION ALL SELECT query_id, cand_id, rk FROM drk WHERE rk <= $m),
       |t3f AS (
       |  SELECT query_id, cand_id,
       |    CAST(sum(CAST(floor(1.0 / ($c + CAST(rk AS DOUBLE))
       |                        * 1000000.0 + 0.5) / 1000000.0
       |             AS DECIMAL(18,6))) AS DOUBLE) AS s
       |  FROM t3u GROUP BY 1,2),
       |t3rk AS (
       |  SELECT query_id, cand_id, s,
       |         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, cand_id) AS rk
       |  FROM t3f)""".stripMargin

  /** CTEs mpool..mall{k}: the greedy MMR selection chain over the
    * vector pool (q_mmr_topk) — the SQL twin of Similarity.mmrTopK.
    * Requires docSearchFrag's `dm`, `nr`, `drk` in scope. `lam` and
    * `penal` are passed as SQL text so the literals parse identically
    * in both engines (penal is 1−λ as its OWN literal — `1.0 - 0.7`
    * is not the double `0.3`). Steps 2..k are generated CTE pairs:
    * candidates = pool minus selected, penalty = max pairwise cosine
    * to the selected set, argmax via row_number (mmr DESC, cand_id).
    */
  private def mmrChainFrag(k: Int, m: Int, lam: String,
                           penal: String): String = {
    val head =
      s"""mpool AS (SELECT query_id, cand_id, sim AS rel FROM drk WHERE rk <= $m),
         |mpv AS (SELECT p.query_id, p.cand_id, d.dim, d.v
         |        FROM mpool p JOIN dm d ON d.doc_id = p.cand_id),
         |mpair AS (
         |  SELECT a.query_id, a.cand_id AS a_id, b.cand_id AS b_id,
         |         CAST(sum(a.v * b.v) AS DOUBLE) / (na.nrm * nb.nrm) AS psim
         |  FROM mpv a JOIN mpv b ON a.query_id = b.query_id AND a.dim = b.dim
         |       AND a.cand_id <> b.cand_id
         |  JOIN nr na ON na.doc_id = a.cand_id
         |  JOIN nr nb ON nb.doc_id = b.cand_id
         |  GROUP BY a.query_id, a.cand_id, b.cand_id, na.nrm, nb.nrm),
         |msel1 AS (
         |  SELECT query_id, cand_id, rel AS score, 1 AS step FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rn
         |    FROM mpool) WHERE rn = 1),
         |mall1 AS (SELECT * FROM msel1)""".stripMargin
    val steps = (2 to k).map { i =>
      s"""mcand$i AS (
         |  SELECT p.query_id, p.cand_id,
         |         $lam * p.rel - $penal * max(pp.psim) AS mmr
         |  FROM mpool p
         |  LEFT JOIN mall${i - 1} x ON x.query_id = p.query_id AND x.cand_id = p.cand_id
         |  JOIN mpair pp ON pp.query_id = p.query_id AND pp.a_id = p.cand_id
         |  JOIN mall${i - 1} s ON s.query_id = pp.query_id AND s.cand_id = pp.b_id
         |  WHERE x.cand_id IS NULL
         |  GROUP BY p.query_id, p.cand_id, p.rel),
         |msel$i AS (
         |  SELECT query_id, cand_id, mmr AS score, $i AS step FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, cand_id) AS rn
         |    FROM mcand$i) WHERE rn = 1),
         |mall$i AS (SELECT * FROM mall${i - 1} UNION ALL SELECT * FROM msel$i)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** CTEs lexm..frk: reciprocal-rank fusion over `brk` (lexical) and
    * `drk` (vector): Σ 1/(c + rank) across the two top-m lists,
    * re-ranked in `frk` — the SQL twin of Similarity.hybridRrf,
    * shared by q_hybrid_rrf and q_retrieval_eval's hybrid arm. `c` is
    * passed as SQL text so the literal parses identically in both
    * engines.
    */
  private def rrfChainFrag(m: Int, c: String, vecSrc: String = "drk",
                           vecId: String = "cand_id"): String =
    s"""lexm AS (SELECT query_id, cand_id, rk FROM brk WHERE rk <= $m),
       |vecm AS (SELECT query_id, $vecId AS cand_id, rk FROM $vecSrc WHERE rk <= $m),
       |fus AS (
       |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
       |         coalesce(l.cand_id, v.cand_id) AS cand_id,
       |         (CASE WHEN l.rk IS NULL THEN 0.0
       |               ELSE 1.0 / ($c + CAST(l.rk AS DOUBLE)) END)
       |         + (CASE WHEN v.rk IS NULL THEN 0.0
       |                 ELSE 1.0 / ($c + CAST(v.rk AS DOUBLE)) END) AS s
       |  FROM lexm l FULL OUTER JOIN vecm v
       |    ON l.query_id = v.query_id AND l.cand_id = v.cand_id),
       |frk AS (
       |  SELECT query_id, cand_id, s,
       |         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, cand_id) AS rk
       |  FROM fus)""".stripMargin

  private def rrfSuffixSql(m: Int, k: Int, c: String): String =
    rrfSuffixSqlFrom(m, k, c, "drk", "cand_id")

  private def rrfSuffixSqlFrom(m: Int, k: Int, c: String, vecSrc: String,
                               vecId: String): String =
    ",\n" + rrfChainFrag(m, c, vecSrc, vecId) +
    s"""
       |SELECT query_id, CAST(rk AS BIGINT) AS rank, cand_id AS neighbor_id,
       |       round(s, 6) AS rrf
       |FROM frk WHERE rk <= $k ORDER BY query_id, rank""".stripMargin

  /** q_stream_chunk_embed: the ingest-side census rebuilt standalone —
    * chunk embeddings, their label-centroid coarse codebook (the same
    * cent0 the batch coarseCodebook computes), per-chunk argmin with the
    * (score, clabel) tie-break, per-(label, cell) counts.
    */
  private def chunkAssignOracleSql(size: Int, stride: Int, dims: Int,
                                   nLabels: Int): String =
    "WITH " + chunkEmbFrag(size, stride, dims, nLabels) + ",\n" +
      kmeansCentChainFrag(0, "cemb", "") +
      """,
        |scoredq AS (
        |  SELECT e.vec_id, e.label, c.clabel,
        |         -2.0 * list_dot_product(e.embedding::DOUBLE[], c.c)
        |           + list_dot_product(c.c, c.c) AS s
        |  FROM cemb e CROSS JOIN cent0 c),
        |assigned AS (
        |  SELECT vec_id, label, clabel AS assigned FROM (
        |    SELECT vec_id, label, clabel,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY s, clabel) AS rk
        |    FROM scoredq) WHERE rk = 1)
        |SELECT label, assigned, count(*) AS n_chunks
        |FROM assigned GROUP BY 1,2 ORDER BY label, assigned""".stripMargin

  /** The rag chain through the exact-re-rank CTE `rr` — shared by the
    * chunk-level emission (q_rag_e2e) and the parent-document collapse
    * (q_rag_docs).
    */
  private def ragRankedChainSql(iters: Int, nprobe: Int, m: Int,
                                size: Int, stride: Int, dims: Int,
                                nLabels: Int, nQueryDocs: Int): String =
    "WITH " + chunkEmbFrag(size, stride, dims, nLabels) + ",\n" +
      ivfPqRankedFrag(iters, nprobe, "cemb", nQueryDocs * 1000000L) +
      s""",
         |rcand AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= $m),
         |rexact AS (
         |  SELECT rcand.query_id, rcand.neighbor_id,
         |         (list_dot_product(q.embedding, q.embedding)
         |            - 2.0 * list_dot_product(q.embedding, v.embedding))
         |           + list_dot_product(v.embedding, v.embedding) AS d2
         |  FROM rcand
         |    JOIN cemb q ON q.vec_id = rcand.query_id
         |    JOIN cemb v ON v.vec_id = rcand.neighbor_id),
         |rr AS (
         |  SELECT query_id, neighbor_id, d2,
         |         row_number() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rk
         |  FROM rexact)""".stripMargin

  private def ragOracleSql(iters: Int, nprobe: Int, m: Int, k: Int,
                           size: Int, stride: Int, dims: Int,
                           nLabels: Int, nQueryDocs: Int): String =
    ragRankedChainSql(iters, nprobe, m, size, stride, dims, nLabels,
      nQueryDocs) +
      s"""
         |SELECT rr.query_id // 1000000 AS q_doc_id, rr.query_id % 1000000 AS q_chunk_id,
         |       CAST(rr.rk AS BIGINT) AS rank, c.doc_id, c.chunk_id,
         |       c.start_tok, c.n_tok, round(rr.d2, 6) AS d2
         |FROM rr JOIN cemb c ON c.vec_id = rr.neighbor_id
         |WHERE rr.rk <= $k ORDER BY q_doc_id, q_chunk_id, rank""".stripMargin

  /** q_rag_docs: the chunk hits collapsed to parent documents — best
    * chunk distance per (query, doc), chunk-hit corroboration count,
    * per-query doc rank by (best_d2, doc_id).
    */
  private def ragDocsOracleSql(iters: Int, nprobe: Int, m: Int, k: Int,
                               size: Int, stride: Int, dims: Int,
                               nLabels: Int, nQueryDocs: Int): String =
    ragRankedChainSql(iters, nprobe, m, size, stride, dims, nLabels,
      nQueryDocs) +
      s""",
         |hits AS (
         |  SELECT rr.query_id // 1000000 AS q_doc_id,
         |         rr.query_id % 1000000 AS q_chunk_id,
         |         c.doc_id, round(rr.d2, 6) AS d2
         |  FROM rr JOIN cemb c ON c.vec_id = rr.neighbor_id
         |  WHERE rr.rk <= $k),
         |byd AS (
         |  SELECT q_doc_id, q_chunk_id, doc_id,
         |         min(d2) AS best_d2, count(*) AS n_chunk_hits
         |  FROM hits GROUP BY 1,2,3)
         |SELECT q_doc_id, q_chunk_id, doc_id, best_d2,
         |       CAST(n_chunk_hits AS BIGINT) AS n_chunk_hits,
         |       CAST(row_number() OVER (PARTITION BY q_doc_id, q_chunk_id
         |         ORDER BY best_d2, doc_id) AS BIGINT) AS doc_rank
         |FROM byd ORDER BY q_doc_id, q_chunk_id, doc_rank""".stripMargin

  /** q_stream_rag_fresh: the RAG chain with FROZEN-codebook semantics —
    * coarse codebook and both PQ sub-codebooks trained ONLY on the
    * historical chunk slice (vec_id >= splitDoc·10⁶), while codes,
    * cells, probes, and candidates cover every chunk (the streamed docs
    * included). The q_ivfpq_append device lifted to the chunk corpus,
    * with q_rag_e2e's re-rank + provenance tail.
    */
  private def ragFrozenOracleSql(iters: Int, nprobe: Int, m: Int, k: Int,
                                 size: Int, stride: Int, dims: Int,
                                 nLabels: Int, nQueryDocs: Int,
                                 splitDoc: Long): String = {
    val nq = nQueryDocs * 1000000L
    val splitVec = splitDoc * 1000000L
    "WITH " + chunkEmbFrag(size, stride, dims, nLabels) +
      s""",
         |cembold AS (SELECT * FROM cemb WHERE vec_id >= $splitVec),
         |""".stripMargin +
      kmeansCentChainFrag(iters, "cembold", "") +
      s""",
         |sp AS (
         |  SELECT vec_id, label,
         |    (embedding::DOUBLE[])[1:len(embedding)//2] AS e1,
         |    (embedding::DOUBLE[])[len(embedding)//2+1:len(embedding)] AS e2
         |  FROM cemb),
         |spo AS (SELECT sp.* FROM sp WHERE sp.vec_id >= $splitVec),
         |ex1 AS (
         |  SELECT label,
         |    unnest([{'dim': i-1, 'val': e1[i]} for i in range(1, len(e1)+1)],
         |           recursive := true)
         |  FROM spo),
         |cb1 AS (
         |  SELECT label AS clabel, list(mean_val ORDER BY dim) AS c
         |  FROM (SELECT label, dim,
         |          CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
         |        FROM ex1 GROUP BY 1,2)
         |  GROUP BY 1),
         |ex2 AS (
         |  SELECT label,
         |    unnest([{'dim': i-1, 'val': e2[i]} for i in range(1, len(e2)+1)],
         |           recursive := true)
         |  FROM spo),
         |cb2 AS (
         |  SELECT label AS clabel, list(mean_val ORDER BY dim) AS c
         |  FROM (SELECT label, dim,
         |          CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
         |        FROM ex2 GROUP BY 1,2)
         |  GROUP BY 1),
         |a1 AS (
         |  SELECT vec_id, clabel AS code1 FROM (
         |    SELECT sp.vec_id, c.clabel,
         |           row_number() OVER (PARTITION BY sp.vec_id ORDER BY
         |             -2.0 * list_dot_product(sp.e1, c.c) + list_dot_product(c.c, c.c),
         |             c.clabel) AS rk
         |    FROM sp CROSS JOIN cb1 c) WHERE rk = 1),
         |a2 AS (
         |  SELECT vec_id, clabel AS code2 FROM (
         |    SELECT sp.vec_id, c.clabel,
         |           row_number() OVER (PARTITION BY sp.vec_id ORDER BY
         |             -2.0 * list_dot_product(sp.e2, c.c) + list_dot_product(c.c, c.c),
         |             c.clabel) AS rk
         |    FROM sp CROSS JOIN cb2 c) WHERE rk = 1),
         |codes AS (SELECT vec_id, code1, code2 FROM a1 JOIN a2 USING (vec_id)),
         |scoredq AS (
         |  SELECT e.vec_id, c.clabel,
         |         -2.0 * list_dot_product(e.embedding::DOUBLE[], c.c)
         |           + list_dot_product(c.c, c.c) AS s
         |  FROM cemb e CROSS JOIN cent$iters c),
         |assignrk AS (
         |  SELECT vec_id, clabel,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY s, clabel) AS rk
         |  FROM scoredq),
         |cells AS (SELECT vec_id, clabel AS cell FROM assignrk WHERE rk = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, clabel AS pcell
         |  FROM assignrk WHERE vec_id < $nq AND rk <= $nprobe),
         |d1 AS (
         |  SELECT sp.vec_id AS query_id, c.clabel AS c1,
         |         list_dot_product(sp.e1, sp.e1)
         |           + (-2.0 * list_dot_product(sp.e1, c.c) + list_dot_product(c.c, c.c)) AS d1
         |  FROM sp CROSS JOIN cb1 c WHERE sp.vec_id < $nq),
         |d2 AS (
         |  SELECT sp.vec_id AS query_id, c.clabel AS c2,
         |         list_dot_product(sp.e2, sp.e2)
         |           + (-2.0 * list_dot_product(sp.e2, c.c) + list_dot_product(c.c, c.c)) AS d2
         |  FROM sp CROSS JOIN cb2 c WHERE sp.vec_id < $nq),
         |cand AS (
         |  SELECT p.query_id, c.vec_id
         |  FROM cells c JOIN probes p ON c.cell = p.pcell
         |  WHERE c.vec_id <> p.query_id),
         |est AS (
         |  SELECT cand.query_id, cand.vec_id AS neighbor_id, d1.d1 + d2.d2 AS est
         |  FROM cand
         |    JOIN codes ON codes.vec_id = cand.vec_id
         |    JOIN d1 ON codes.code1 = d1.c1 AND d1.query_id = cand.query_id
         |    JOIN d2 ON codes.code2 = d2.c2 AND d2.query_id = cand.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, est,
         |         row_number() OVER (PARTITION BY query_id ORDER BY est, neighbor_id) AS rk
         |  FROM est),
         |rcand AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= $m),
         |rexact AS (
         |  SELECT rcand.query_id, rcand.neighbor_id,
         |         (list_dot_product(q.embedding, q.embedding)
         |            - 2.0 * list_dot_product(q.embedding, v.embedding))
         |           + list_dot_product(v.embedding, v.embedding) AS d2
         |  FROM rcand
         |    JOIN cemb q ON q.vec_id = rcand.query_id
         |    JOIN cemb v ON v.vec_id = rcand.neighbor_id),
         |rr AS (
         |  SELECT query_id, neighbor_id, d2,
         |         row_number() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rk
         |  FROM rexact)
         |SELECT rr.query_id // 1000000 AS q_doc_id, rr.query_id % 1000000 AS q_chunk_id,
         |       CAST(rr.rk AS BIGINT) AS rank, c.doc_id, c.chunk_id,
         |       c.start_tok, c.n_tok, round(rr.d2, 6) AS d2
         |FROM rr JOIN cemb c ON c.vec_id = rr.neighbor_id
         |WHERE rr.rk <= $k ORDER BY q_doc_id, q_chunk_id, rank""".stripMargin
  }

  /** The q_ivfpq_search WITH-chain through its (est, neighbor_id)
    * ranking — shared by the emission and the re-rank shortlist.
    * `candPred` injects an extra candidate-set predicate (the SQL twin
    * of the serve path's tombstone anti-join / metadata semi-join).
    */
  private def ivfPqRankedSql(iters: Int, nprobe: Int,
                             candPred: String = ""): String =
    "WITH " + ivfPqRankedFrag(iters, nprobe, "embeddings", 20L, candPred)

  /** [[ivfPqRankedSql]]'s chain with the source relation and the
    * query-id bound as parameters — reused verbatim by q_rag_e2e over
    * the chunk-embedding CTE, so the serving chain and the RAG chain
    * can never drift.
    */
  /** Cross-modal query CTEs: media features (the ASCII stand-in
    * payloads) through the closed-form alignment head into projected
    * query vectors with norms (`cmqn`), plus the embedding corpus with
    * norms (`cmb`) — shared verbatim by q_crossmodal_search (brute
    * cosine) and q_crossmodal_ivfpq (saved-index serve), so the two
    * tiers rank the same queries against the same corpus.
    */
  private def crossmodalQueryFrag(nQueries: Int): String =
    s"""cmf AS (
       |  SELECT doc_id,
       |    CAST(list_sum([ascii(c) for c in string_split(text, '')])
       |         AS DOUBLE) / strlen(text) AS f_mean,
       |    CAST(list_max([ascii(c) for c in string_split(text, '')])
       |       - list_min([ascii(c) for c in string_split(text, '')])
       |         AS DOUBLE) AS f_range,
       |    CAST(strlen(text) % 256 AS DOUBLE) AS f_mod
       |  FROM documents WHERE doc_id < $nQueries),
       |cmq AS (
       |  SELECT doc_id AS query_id,
       |    [ f_mean * (((( 0*31 + j*17) % 13) - 6) / 6.0)
       |      + f_range * (((( 1*31 + j*17) % 13) - 6) / 6.0)
       |      + f_mod * (((( 2*31 + j*17) % 13) - 6) / 6.0)
       |      for j in range(0, 64) ] AS q_emb
       |  FROM cmf),
       |cmqn AS (SELECT query_id, q_emb,
       |         sqrt(list_dot_product(q_emb, q_emb)) AS q_nrm FROM cmq),
       |cmb AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
       |        sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
       |          AS nrm
       |        FROM embeddings)""".stripMargin

  /** The query-independent half of the IVF-PQ oracle chain — coarse
    * codebook training, vector halves, sub-codebooks, PQ codes, and
    * cell assignment — shared verbatim by [[ivfPqRankedFrag]] (queries
    * drawn from the indexed vectors) and [[ivfPqRankedExtQFrag]]
    * (external query vectors, e.g. the cross-modal projection).
    */
  private def ivfPqIndexSideFrag(iters: Int, src: String): String =
    kmeansCentChainFrag(iters, src, "") +
      s""",
         |sp AS (
         |  SELECT vec_id, label,
         |    (embedding::DOUBLE[])[1:len(embedding)//2] AS e1,
         |    (embedding::DOUBLE[])[len(embedding)//2+1:len(embedding)] AS e2
         |  FROM $src),
         |ex1 AS (
         |  SELECT label,
         |    unnest([{'dim': i-1, 'val': e1[i]} for i in range(1, len(e1)+1)],
         |           recursive := true)
         |  FROM sp),
         |cb1 AS (
         |  SELECT label AS clabel, list(mean_val ORDER BY dim) AS c
         |  FROM (SELECT label, dim,
         |          CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
         |        FROM ex1 GROUP BY 1,2)
         |  GROUP BY 1),
         |ex2 AS (
         |  SELECT label,
         |    unnest([{'dim': i-1, 'val': e2[i]} for i in range(1, len(e2)+1)],
         |           recursive := true)
         |  FROM sp),
         |cb2 AS (
         |  SELECT label AS clabel, list(mean_val ORDER BY dim) AS c
         |  FROM (SELECT label, dim,
         |          CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
         |        FROM ex2 GROUP BY 1,2)
         |  GROUP BY 1),
         |a1 AS (
         |  SELECT vec_id, clabel AS code1 FROM (
         |    SELECT sp.vec_id, c.clabel,
         |           row_number() OVER (PARTITION BY sp.vec_id ORDER BY
         |             -2.0 * list_dot_product(sp.e1, c.c) + list_dot_product(c.c, c.c),
         |             c.clabel) AS rk
         |    FROM sp CROSS JOIN cb1 c) WHERE rk = 1),
         |a2 AS (
         |  SELECT vec_id, clabel AS code2 FROM (
         |    SELECT sp.vec_id, c.clabel,
         |           row_number() OVER (PARTITION BY sp.vec_id ORDER BY
         |             -2.0 * list_dot_product(sp.e2, c.c) + list_dot_product(c.c, c.c),
         |             c.clabel) AS rk
         |    FROM sp CROSS JOIN cb2 c) WHERE rk = 1),
         |codes AS (SELECT vec_id, code1, code2 FROM a1 JOIN a2 USING (vec_id)),
         |scoredq AS (
         |  SELECT e.vec_id, c.clabel,
         |         -2.0 * list_dot_product(e.embedding::DOUBLE[], c.c)
         |           + list_dot_product(c.c, c.c) AS s
         |  FROM $src e CROSS JOIN cent$iters c),
         |assignrk AS (
         |  SELECT vec_id, clabel,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY s, clabel) AS rk
         |  FROM scoredq),
         |cells AS (SELECT vec_id, clabel AS cell FROM assignrk WHERE rk = 1)""".stripMargin

  private def ivfPqRankedFrag(iters: Int, nprobe: Int, src: String,
                              nq: Long, candPred: String = ""): String =
    ivfPqIndexSideFrag(iters, src) +
      s""",
         |probes AS (
         |  SELECT vec_id AS query_id, clabel AS pcell
         |  FROM assignrk WHERE vec_id < $nq AND rk <= $nprobe),
         |d1 AS (
         |  SELECT sp.vec_id AS query_id, c.clabel AS c1,
         |         list_dot_product(sp.e1, sp.e1)
         |           + (-2.0 * list_dot_product(sp.e1, c.c) + list_dot_product(c.c, c.c)) AS d1
         |  FROM sp CROSS JOIN cb1 c WHERE sp.vec_id < $nq),
         |d2 AS (
         |  SELECT sp.vec_id AS query_id, c.clabel AS c2,
         |         list_dot_product(sp.e2, sp.e2)
         |           + (-2.0 * list_dot_product(sp.e2, c.c) + list_dot_product(c.c, c.c)) AS d2
         |  FROM sp CROSS JOIN cb2 c WHERE sp.vec_id < $nq),
         |cand AS (
         |  SELECT p.query_id, c.vec_id
         |  FROM cells c JOIN probes p ON c.cell = p.pcell
         |  WHERE c.vec_id <> p.query_id$candPred),
         |est AS (
         |  SELECT cand.query_id, cand.vec_id AS neighbor_id, d1.d1 + d2.d2 AS est
         |  FROM cand
         |    JOIN codes ON codes.vec_id = cand.vec_id
         |    JOIN d1 ON codes.code1 = d1.c1 AND d1.query_id = cand.query_id
         |    JOIN d2 ON codes.code2 = d2.c2 AND d2.query_id = cand.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, est,
         |         row_number() OVER (PARTITION BY query_id ORDER BY est, neighbor_id) AS rk
         |  FROM est)""".stripMargin

  /** The external-query half of the IVF-PQ oracle chain: queries come
    * from `qRel` (query_id, q_emb DOUBLE[]) instead of the indexed
    * vectors — probes rank the trained coarse codebook, ADC tables come
    * from the query halves, and there is no self-exclusion (external
    * ids never collide with vec_ids; the Spark side guarantees that
    * with an id offset). Same est/ranked emission as
    * [[ivfPqRankedFrag]] so downstream suffixes compose unchanged.
    */
  private def ivfPqRankedExtQFrag(iters: Int, nprobe: Int,
                                  qRel: String): String =
    s""",
       |qsp AS (
       |  SELECT query_id, q_emb,
       |    q_emb[1:len(q_emb)//2] AS q1,
       |    q_emb[len(q_emb)//2+1:len(q_emb)] AS q2
       |  FROM $qRel),
       |probes AS (
       |  SELECT query_id, clabel AS pcell FROM (
       |    SELECT q.query_id, c.clabel,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY
       |             -2.0 * list_dot_product(q.q_emb, c.c) + list_dot_product(c.c, c.c),
       |             c.clabel) AS rk
       |    FROM qsp q CROSS JOIN cent$iters c) WHERE rk <= $nprobe),
       |d1 AS (
       |  SELECT q.query_id, c.clabel AS c1,
       |         list_dot_product(q.q1, q.q1)
       |           + (-2.0 * list_dot_product(q.q1, c.c) + list_dot_product(c.c, c.c)) AS d1
       |  FROM qsp q CROSS JOIN cb1 c),
       |d2 AS (
       |  SELECT q.query_id, c.clabel AS c2,
       |         list_dot_product(q.q2, q.q2)
       |           + (-2.0 * list_dot_product(q.q2, c.c) + list_dot_product(c.c, c.c)) AS d2
       |  FROM qsp q CROSS JOIN cb2 c),
       |cand AS (
       |  SELECT p.query_id, c.vec_id
       |  FROM cells c JOIN probes p ON c.cell = p.pcell),
       |est AS (
       |  SELECT cand.query_id, cand.vec_id AS neighbor_id, d1.d1 + d2.d2 AS est
       |  FROM cand
       |    JOIN codes ON codes.vec_id = cand.vec_id
       |    JOIN d1 ON codes.code1 = d1.c1 AND d1.query_id = cand.query_id
       |    JOIN d2 ON codes.code2 = d2.c2 AND d2.query_id = cand.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, est,
       |         row_number() OVER (PARTITION BY query_id ORDER BY est, neighbor_id) AS rk
       |  FROM est)""".stripMargin

  /** PQ-ADC search with TRAINED sub-codebooks: one k-means CTE chain per
    * vector half (prefixes h1/h2), then the same code/lookup/rank SQL as
    * q_pq_search against the iterated sub-codebooks.
    */
  private def pqTrainedOracleSql(iters: Int): String =
    s"""WITH sp AS (
       |  SELECT vec_id, label,
       |    (embedding::DOUBLE[])[1:len(embedding)//2] AS e1,
       |    (embedding::DOUBLE[])[len(embedding)//2+1:len(embedding)] AS e2
       |  FROM embeddings),
       |sp1 AS (SELECT vec_id, label, e1 AS embedding FROM sp),
       |sp2 AS (SELECT vec_id, label, e2 AS embedding FROM sp),
       |""".stripMargin +
      kmeansCentChainFrag(iters, "sp1", "h1") + ",\n" +
      kmeansCentChainFrag(iters, "sp2", "h2") +
      s""",
         |a1 AS (
         |  SELECT vec_id, clabel AS code1 FROM (
         |    SELECT sp.vec_id, c.clabel,
         |           row_number() OVER (PARTITION BY sp.vec_id ORDER BY
         |             -2.0 * list_dot_product(sp.e1, c.c) + list_dot_product(c.c, c.c),
         |             c.clabel) AS rk
         |    FROM sp CROSS JOIN h1cent$iters c) WHERE rk = 1),
         |a2 AS (
         |  SELECT vec_id, clabel AS code2 FROM (
         |    SELECT sp.vec_id, c.clabel,
         |           row_number() OVER (PARTITION BY sp.vec_id ORDER BY
         |             -2.0 * list_dot_product(sp.e2, c.c) + list_dot_product(c.c, c.c),
         |             c.clabel) AS rk
         |    FROM sp CROSS JOIN h2cent$iters c) WHERE rk = 1),
         |codes AS (SELECT vec_id, code1, code2 FROM a1 JOIN a2 USING (vec_id)),
         |d1 AS (
         |  SELECT sp.vec_id AS query_id, c.clabel AS c1,
         |         list_dot_product(sp.e1, sp.e1)
         |           + (-2.0 * list_dot_product(sp.e1, c.c) + list_dot_product(c.c, c.c)) AS d1
         |  FROM sp CROSS JOIN h1cent$iters c WHERE sp.vec_id < 20),
         |d2 AS (
         |  SELECT sp.vec_id AS query_id, c.clabel AS c2,
         |         list_dot_product(sp.e2, sp.e2)
         |           + (-2.0 * list_dot_product(sp.e2, c.c) + list_dot_product(c.c, c.c)) AS d2
         |  FROM sp CROSS JOIN h2cent$iters c WHERE sp.vec_id < 20),
         |est AS (
         |  SELECT d1.query_id, codes.vec_id AS neighbor_id, d1.d1 + d2.d2 AS est
         |  FROM codes
         |    JOIN d1 ON codes.code1 = d1.c1
         |    JOIN d2 ON codes.code2 = d2.c2 AND d1.query_id = d2.query_id
         |  WHERE codes.vec_id <> d1.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, est,
         |         row_number() OVER (PARTITION BY query_id ORDER BY est, neighbor_id) AS rk
         |  FROM est)
         |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
         |       round(est, 6) AS est_d2
         |FROM ranked WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin

  /** Residual IVF-PQ (IVFADC proper): PQ codes over v - c(v) residuals;
    * per-(query, probed cell) lookup tables because the query's residual
    * differs per probed cell. Same cent$iters chain; sub-codebooks are
    * label means of the residual halves.
    */
  private def ivfPqResidualOracleSql(iters: Int, nprobe: Int): String =
    kmeansCentChain(iters) +
      s""",
         |scoredq AS (
         |  SELECT e.vec_id, c.clabel,
         |         -2.0 * list_dot_product(e.embedding::DOUBLE[], c.c)
         |           + list_dot_product(c.c, c.c) AS s
         |  FROM embeddings e CROSS JOIN cent$iters c),
         |assignrk AS (
         |  SELECT vec_id, clabel,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY s, clabel) AS rk
         |  FROM scoredq),
         |cells AS (SELECT vec_id, clabel AS cell FROM assignrk WHERE rk = 1),
         |rs AS (
         |  SELECT e.vec_id, e.label, cl.cell,
         |         [floor(((e.embedding::DOUBLE[])[i] - c.c[i]) * 1000000.0 + 0.5) / 1000000.0 for i in range(1, len(c.c)+1)] AS r
         |  FROM embeddings e JOIN cells cl USING (vec_id)
         |       JOIN cent$iters c ON cl.cell = c.clabel),
         |sp AS (
         |  SELECT vec_id, label, cell,
         |    r[1:len(r)//2] AS e1, r[len(r)//2+1:len(r)] AS e2
         |  FROM rs),
         |ex1 AS (
         |  SELECT label,
         |    unnest([{'dim': i-1, 'val': e1[i]} for i in range(1, len(e1)+1)],
         |           recursive := true)
         |  FROM sp),
         |cb1 AS (
         |  SELECT label AS clabel, list(mean_val ORDER BY dim) AS c
         |  FROM (SELECT label, dim,
         |          CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
         |        FROM ex1 GROUP BY 1,2)
         |  GROUP BY 1),
         |ex2 AS (
         |  SELECT label,
         |    unnest([{'dim': i-1, 'val': e2[i]} for i in range(1, len(e2)+1)],
         |           recursive := true)
         |  FROM sp),
         |cb2 AS (
         |  SELECT label AS clabel, list(mean_val ORDER BY dim) AS c
         |  FROM (SELECT label, dim,
         |          CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,9))) AS DOUBLE)/count(*) AS mean_val
         |        FROM ex2 GROUP BY 1,2)
         |  GROUP BY 1),
         |a1 AS (
         |  SELECT vec_id, clabel AS code1 FROM (
         |    SELECT sp.vec_id, c.clabel,
         |           row_number() OVER (PARTITION BY sp.vec_id ORDER BY
         |             -2.0 * list_dot_product(sp.e1, c.c) + list_dot_product(c.c, c.c),
         |             c.clabel) AS rk
         |    FROM sp CROSS JOIN cb1 c) WHERE rk = 1),
         |a2 AS (
         |  SELECT vec_id, clabel AS code2 FROM (
         |    SELECT sp.vec_id, c.clabel,
         |           row_number() OVER (PARTITION BY sp.vec_id ORDER BY
         |             -2.0 * list_dot_product(sp.e2, c.c) + list_dot_product(c.c, c.c),
         |             c.clabel) AS rk
         |    FROM sp CROSS JOIN cb2 c) WHERE rk = 1),
         |codes AS (SELECT vec_id, code1, code2 FROM a1 JOIN a2 USING (vec_id)),
         |probes AS (
         |  SELECT vec_id AS query_id, clabel AS pcell
         |  FROM assignrk WHERE vec_id < 20 AND rk <= $nprobe),
         |qr AS (
         |  SELECT p.query_id, p.pcell,
         |         [floor(((e.embedding::DOUBLE[])[i] - c.c[i]) * 1000000.0 + 0.5) / 1000000.0 for i in range(1, len(c.c)+1)] AS qr
         |  FROM probes p JOIN embeddings e ON e.vec_id = p.query_id
         |       JOIN cent$iters c ON p.pcell = c.clabel),
         |qsp AS (
         |  SELECT query_id, pcell,
         |    qr[1:len(qr)//2] AS q1, qr[len(qr)//2+1:len(qr)] AS q2
         |  FROM qr),
         |d1 AS (
         |  SELECT q.query_id, q.pcell, c.clabel AS c1,
         |         list_dot_product(q.q1, q.q1)
         |           + (-2.0 * list_dot_product(q.q1, c.c) + list_dot_product(c.c, c.c)) AS d1
         |  FROM qsp q CROSS JOIN cb1 c),
         |d2 AS (
         |  SELECT q.query_id, q.pcell, c.clabel AS c2,
         |         list_dot_product(q.q2, q.q2)
         |           + (-2.0 * list_dot_product(q.q2, c.c) + list_dot_product(c.c, c.c)) AS d2
         |  FROM qsp q CROSS JOIN cb2 c),
         |cand AS (
         |  SELECT p.query_id, cl.vec_id, cl.cell
         |  FROM cells cl JOIN probes p ON cl.cell = p.pcell
         |  WHERE cl.vec_id <> p.query_id),
         |est AS (
         |  SELECT cand.query_id, cand.vec_id AS neighbor_id, d1.d1 + d2.d2 AS est
         |  FROM cand
         |    JOIN codes ON codes.vec_id = cand.vec_id
         |    JOIN d1 ON d1.query_id = cand.query_id AND d1.pcell = cand.cell
         |           AND codes.code1 = d1.c1
         |    JOIN d2 ON d2.query_id = cand.query_id AND d2.pcell = cand.cell
         |           AND codes.code2 = d2.c2),
         |ranked AS (
         |  SELECT query_id, neighbor_id, est,
         |         row_number() OVER (PARTITION BY query_id ORDER BY est, neighbor_id) AS rk
         |  FROM est)
         |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
         |       round(est, 6) AS est_d2
         |FROM ranked WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin

  /** Count-Min oracle: rebuilds the sketch matrix and the probe estimates
    * in SQL from the same seeded hash params as the Aggregator.
    */
  private def cmsOracleSql: String = {
    import graft.functions.CountMin.{params, P, Width}
    val ps = params(42L)
    val cmsRows = ps.zipWithIndex.map { case ((a, b), i) =>
      s"SELECT $i AS d, ((($a * (hv % $P) + $b) % $P) % $Width) AS bucket, count(*) AS c FROM h GROUP BY 2"
    }.mkString("\n  UNION ALL\n  ")
    val probeRows = ps.zipWithIndex.map { case ((a, b), i) =>
      s"SELECT term, $i AS d, ((($a * (hv % $P) + $b) % $P) % $Width) AS bucket FROM ph"
    }.mkString("\n  UNION ALL\n  ")
    val probeVals = cmsProbes.map(t => s"('$t')").mkString(", ")
    s"""WITH toks AS (
       |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
       |  FROM documents),
       |h AS (SELECT term, CAST(('0x' || substr(md5(term),1,15))::UBIGINT AS BIGINT) AS hv FROM toks),
       |cms AS (
       |  $cmsRows),
       |probe(term) AS (VALUES $probeVals),
       |ph AS (SELECT term, CAST(('0x' || substr(md5(term),1,15))::UBIGINT AS BIGINT) AS hv FROM probe),
       |pb AS (
       |  $probeRows),
       |est AS (
       |  SELECT pb.term, min(coalesce(c.c, 0)) AS cms_estimate
       |  FROM pb LEFT JOIN cms c ON c.d = pb.d AND c.bucket = pb.bucket
       |  GROUP BY 1),
       |ex AS (SELECT term, count(*) AS exact_count FROM toks GROUP BY 1)
       |SELECT est.term, est.cms_estimate,
       |       coalesce(ex.exact_count, 0) AS exact_count
       |FROM est LEFT JOIN ex USING (term) ORDER BY term""".stripMargin
  }

  /** MinHash-estimator oracle: rebuilds all 64 signature components in
    * SQL from the same seeded universal-hash params as the Spark
    * expression (the CMS-style full sketch rebuild), then compares the
    * equal-component fraction against the exact pruned-set Jaccard on
    * the exact pair list.
    */
  private def minhashEstOracleSql: String = {
    import graft.operators.NearDup.{minhashParams, MinhashP}
    val ps = minhashParams(64, 42L)
    val paramVals = ps.zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
       |  FROM documents),
       |shs AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
       |    THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
       |    ELSE [] END) AS sh FROM toks),
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM shs),
       |ok AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 100),
       |pruned AS (SELECT ex.doc_id, ex.s FROM ex JOIN ok USING (s)),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM pruned GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
       |  FROM pruned a JOIN pruned b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1,2),
       |pairs AS (
       |  SELECT a_id, b_id,
       |         round(CAST(n_inter AS DOUBLE)/(sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
       |  FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
       |  WHERE CAST(n_inter AS DOUBLE)/(sa.n_sh + sb.n_sh - n_inter) >= 0.5),
       |hv AS (SELECT doc_id, CAST(('0x' || substr(md5(s),1,15))::UBIGINT AS BIGINT) AS h
       |       FROM pruned),
       |params(i, a, b) AS (VALUES $paramVals),
       |sig AS (
       |  SELECT hv.doc_id, p.i, min((p.a * (hv.h % $MinhashP) + p.b) % $MinhashP) AS s
       |  FROM hv CROSS JOIN params p GROUP BY 1, 2),
       |mm AS (
       |  SELECT pr.a_id, pr.b_id, pr.jaccard,
       |         CAST(sum(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) AS BIGINT) AS n_eq
       |  FROM pairs pr JOIN sig sa ON sa.doc_id = pr.a_id
       |       JOIN sig sb ON sb.doc_id = pr.b_id AND sa.i = sb.i
       |  GROUP BY 1,2,3)
       |SELECT a_id, b_id, round(CAST(n_eq AS DOUBLE)/64, 6) AS est_jaccard, jaccard
       |FROM mm ORDER BY a_id, b_id""".stripMargin
  }

  /** Exact pruned-shingle Jaccard pairs — shared by the exact and the
    * MinHash queries (see q_neardup_minhash note above).
    */
  private val neardupOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
      |  FROM documents),
      |shs AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
      |    THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
      |    ELSE [] END) AS sh FROM toks),
      |ex AS (SELECT doc_id, unnest(sh) AS s FROM shs),
      |ok AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 100),
      |pruned AS (SELECT ex.doc_id, ex.s FROM ex JOIN ok USING (s)),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM pruned GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
      |  FROM pruned a JOIN pruned b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1,2)
      |SELECT a_id, b_id, n_inter,
      |       round(CAST(n_inter AS DOUBLE)/(sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
      |FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
      |WHERE CAST(n_inter AS DOUBLE)/(sa.n_sh + sb.n_sh - n_inter) >= 0.5
      |ORDER BY a_id, b_id""".stripMargin
}
