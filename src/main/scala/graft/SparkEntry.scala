package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AsofJoin, BeatMetrics, Dedup, Envelopes, Graph,
  Multimodal, PeakDetect, Pipeline, Relational, Similarity, Sketches,
  Smoothing, TextAnalysis}
import graft.sources.SignalFixture

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Signal queries (q1..q10) run over the committed deterministic fixture
  * at /root/repo/fixtures (both engines read the same Parquet bits;
  * FIXTURES.md §A); relational queries (q11+) read the driver testdata
  * under the sfDir argument.
  */
object SparkEntry {

  private def sig(s: SparkSession): DataFrame = SignalFixture.signal(s)

  /** Process-level memo of the signal spine (round-17 optimization,
    * the Graph.lpMemo / edgeMemo discipline): enriched + detected are
    * pure functions of the committed fixture bits, every signal/beat
    * query (q1–q10, q229–q276 — ~60 of the declared surface) rebuilds
    * the identical lineage, and the old lazy `.cache()` had two
    * measured costs: (a) multi-branch consumers (q8's spine + peaks cogroup,
    * q240's four component joins) race the first materialization and
    * recompute the spine per branch; (b) nothing survives the bench's
    * between-query `clearCache()`, so all ~60 queries re-derived it.
    * The memoized value is an EAGER localCheckpoint keyed on (session,
    * stage, fixture fingerprint); the memo owns the blocks, LRU-evicts
    * with explicit release, and a fingerprint failure bypasses to the
    * old cached-plan path (never memoize under an error-derived key).
    */
  private val spineMemo =
    new graft.operators.GraftMemo[(String, String, Long), DataFrame](
      cap = 4, release = graft.operators.CheckpointBlocks.release,
      dead = df => df.sparkSession.sparkContext.isStopped)

  /** Test hook: drop memoized spine tables, releasing their blocks. */
  private[graft] def clearSpineMemo(): Unit = spineMemo.clear()

  /** Smooth + envelopes + diastolic, the shared spine of q1..q9 (the
    * compute-once EnrichedFrame of SURVEY §3.3 — the reference
    * recomputes this 4× per analysis, §4.1), memoized per session +
    * fixture fingerprint (see [[spineMemo]]).
    */
  private def enriched(s: SparkSession): DataFrame =
    graft.operators.MemoKey.fingerprint(s, SignalFixture.signalPath) match {
      case None =>
        Envelopes.withEnvelopes(Smoothing.withSmooth(sig(s))).cache()
      case Some(fp) =>
        spineMemo.get((graft.operators.MemoKey.session(s), "enriched", fp))(
          Envelopes.withEnvelopes(Smoothing.withSmooth(sig(s)))
            .localCheckpoint())
    }

  /** Detected peaks off the memoized spine — the find_peaks kernel
    * runs once per channel, and q7b/q8/q8b/q9 + the q229–q276 family
    * all consume the identical lineage (see [[spineMemo]]).
    */
  private def detected(s: SparkSession): DataFrame =
    graft.operators.MemoKey.fingerprint(s, SignalFixture.signalPath) match {
      case None => PeakDetect.detectPeaks(enriched(s)).toDF().cache()
      case Some(fp) =>
        spineMemo.get((graft.operators.MemoKey.session(s), "detected", fp))(
          PeakDetect.detectPeaks(enriched(s)).toDF().localCheckpoint())
    }

  /** Per-beat metrics off the full detection pipeline. Markers only
    * where consumed (q8b): the marker values come out of the same
    * per-channel metrics kernel, so the flag only trims unused output
    * columns.
    */
  private def beatMetrics(s: SparkSession, markers: Boolean = false): DataFrame =
    BeatMetrics.metrics(enriched(s), detected(s), markers = markers)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The channel summary exercises the whole engine end to
    * end: smooth → envelopes → diastolic → find_peaks port → beat
    * metrics → aggregate.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q9_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * CONSUME-ONCE CONTRACT (round-17 ADVICE, documented at the
    * boundary): several queries return DataFrames riding ADOPTED
    * localCheckpoint blocks ([[graft.operators.CheckpointOrphans]]) —
    * the blocks are released after the FIRST successful action over
    * the returned plan. The driver, Bench and Verify all run exactly
    * one action per returned frame (a noop write or one dump), which
    * is the contract these entries are built for; a library caller
    * needing multiple actions (e.g. count() then collect()) over one
    * returned frame must `.persist()` or checkpoint its own copy
    * first. Affected today: the hits/LSH/ANN/clustering families and
    * every eager-checkpoint conversion listed in OPTIMIZATION_r17/18.
    *
    * SCALE-SAFETY NOTE (round-17 verdict #6): the memo/checkpoint
    * layer (spineMemo here, Graph.lpMemo/edgeMemo, the adopted
    * orphans) uses `localCheckpoint` — non-replicated, lineage-
    * truncated executor blocks. That is the right trade in this
    * harness (local[N]: the "executor" is the driver process, blocks
    * cannot be "lost" short of process death). On a real cluster an
    * executor loss would make a consume-once checkpoint unrecoverable
    * mid-query; a production deployment should flip these to
    * reliable `checkpoint()` (HDFS/object-store backed) or
    * `persist(MEMORY_AND_DISK_2)` behind the same GraftMemo key
    * discipline — a storage-level knob, not a plan-shape change.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_smooth" -> ((s, _) =>
      Smoothing.withSmooth(sig(s))
        .select("experiment_id", "channel", "sample_idx", "y_smooth")),
    "q2_baseline" -> ((s, _) =>
      enriched(s).select("experiment_id", "channel", "sample_idx", "baseline")),
    "q3_ceiling" -> ((s, _) =>
      enriched(s).select("experiment_id", "channel", "sample_idx", "ceiling")),
    "q4_diastolic" -> ((s, _) =>
      enriched(s).select("experiment_id", "channel", "sample_idx", "diastolic")),
    "q5_candidates" -> ((s, _) =>
      PeakDetect.candidates(Smoothing.withSmooth(sig(s)))
        .select("experiment_id", "channel", "sample_idx")),
    "q6_gate" -> ((s, _) =>
      PeakDetect.gated(enriched(s))
        .select("experiment_id", "channel", "sample_idx")),
    "q7a_prominence" -> ((s, _) =>
      PeakDetect.candidateProminences(Smoothing.withSmooth(sig(s)))),
    "q7b_peaks" -> ((s, _) => detected(s)),
    "q8_metrics" -> ((s, _) =>
      beatMetrics(s).select("experiment_id", "channel", "peak_idx",
        "force", "time_to_peak", "time_to_relaxation", "duration")),
    "q8b_markers" -> ((s, _) =>
      beatMetrics(s, markers = true)
        .select("experiment_id", "channel", "peak_idx",
          "time_to_peak", "ttp_t", "ttp_y",
          "time_to_relaxation", "ttr_t", "ttr_y")),
    "q9_summary" -> ((s, _) =>
      BeatMetrics.summary(enriched(s), beatMetrics(s))),
    "q10_stim" -> ((s, _) =>
      PeakDetect.stimPeaks(
        PeakDetect.rescaleStim(sig(s), SignalFixture.stim(s)))),
    "q11_revenue_by_nation" -> Relational.revenueByNation _,
    "q11b_supplier_revenue" -> Relational.supplierRevenue _,
    "q12_topk_parts" -> ((s, dir) => Relational.topPartsByBrand(s, dir)),
    "q13_events_daily" -> Relational.eventsDaily _,
    "q14_token_stats" -> TextAnalysis.tokenStats _,
    "q14b_tfidf" -> ((s, dir) => TextAnalysis.tfIdfTopTerms(s, dir)),
    "q15_dedup_exact" -> TextAnalysis.dedupExact _,
    "q15b_near_dup" -> TextAnalysis.nearDupCandidates _,
    "q15c_minhash_lsh" -> Dedup.minhashLsh _,
    "q15d_simhash" -> ((s, dir) => Dedup.simhashPairs(s, dir)),
    "q15e_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccard(s, dir)),
    "q16_cosine_topk" -> ((s, dir) => Similarity.bruteForceTopK(s, dir)),
    "q16b_lsh_neardup" -> ((s, dir) => Similarity.lshNearDup(s, dir)),
    "q16c_ivf_topk" -> ((s, dir) => Similarity.ivfTopK(s, dir)),
    "q17_lang_id" -> TextAnalysis.langId _,
    "q18_quality" -> TextAnalysis.qualityScore _,
    "q18b_gopher" -> ((s, dir) => TextAnalysis.gopherRules(s, dir)),
    "q19_bpe_tokens" -> TextAnalysis.bpeTokenStats _,
    "q20_fingerprints" -> ((s, dir) => TextAnalysis.fingerprints(s, dir)),
    "q21_media_meta" -> Multimodal.mediaMeta _,
    "q21b_frames" -> Multimodal.frameSamples _,
    "q22_stream_smooth" -> ((s, _) =>
      graft.streaming.StreamingOps.streamSmoothFixture(s)),
    "q23_asof_prev_click" -> AsofJoin.prevClick _,
    "q24_sessions" -> ((s, dir) => Relational.sessionRollup(s, dir)),
    "q25_stream_envelopes" -> ((s, _) =>
      graft.streaming.StreamingOps.streamEnvelopesFixture(s)),
    "q26_kmv_distinct" -> ((s, dir) => Pipeline.kmvDistinctTokens(s, dir)),
    "q27_hash_split" -> ((s, dir) => Pipeline.hashSplit(s, dir)),
    "q28_pii_mask" -> Pipeline.piiMask _,
    "q29_domain_mix" -> Pipeline.domainMix _,
    "q30_label_centroids" -> Similarity.labelCentroids _,
    "q31_dedup_lines" -> TextAnalysis.dedupLines _,
    "q32_percentiles" -> Relational.valuePercentiles _,
    "q33_stream_kmv" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamKmvFixture(s, dir)),
    "q34_rollup" -> Relational.pricingRollup _,
    "q34b_cube" -> Relational.eventsCube _,
    "q35_decontaminate" -> ((s, dir) => Pipeline.decontaminate(s, dir)),
    "q36_quality_sample" -> ((s, dir) => Pipeline.qualitySample(s, dir)),
    "q37_pack" -> ((s, dir) => Pipeline.packSequences(s, dir)),
    "q38_dup_clusters" -> ((s, dir) => Dedup.dupClusters(s, dir)),
    "q39_shards" -> ((s, dir) => Pipeline.shardSummary(s, dir)),
    "q40_heavy_hitters" -> ((s, dir) => Pipeline.heavyHitters(s, dir)),
    "q41_group_sample" -> ((s, dir) => Pipeline.groupSample(s, dir)),
    "q42_reconcile" -> Relational.activityReconcile _,
    "q23b_next_click" -> AsofJoin.nextClick _,
    "q21c_resize" -> ((s, dir) => Multimodal.resizeSamples(s, dir)),
    "q43_token_spectrum" -> TextAnalysis.tokenSpectrum _,
    "q44_range_join" -> ((s, dir) => Relational.followerCounts(s, dir)),
    "q45_semantic_dedup" -> ((s, dir) => Similarity.semanticDedup(s, dir)),
    "q46_stratified_split" -> ((s, dir) => Pipeline.stratifiedSplit(s, dir)),
    "q47_rate_spikes" -> ((s, dir) => Relational.rateSpikes(s, dir)),
    "q48_token_rarity" -> ((s, dir) => TextAnalysis.tokenRarity(s, dir)),
    "q49_quantized_topk" -> ((s, dir) => Similarity.quantizedTopK(s, dir)),
    "q50_stream_sliding" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamSlidingFixture(s, dir)),
    "q51_bm25" -> ((s, dir) => TextAnalysis.bm25(s, dir)),
    "q52_curate" -> ((s, dir) => Pipeline.curate(s, dir)),
    "q53_top_bigrams" -> ((s, dir) => TextAnalysis.topBigrams(s, dir)),
    "q54_quant_fidelity" -> ((s, dir) => Similarity.quantFidelity(s, dir)),
    "q55_cdc_latest" -> Relational.latestState _,
    "q56_zorder" -> ((s, dir) => Relational.zorderLayout(s, dir)),
    "q57_bigram_lm" -> TextAnalysis.bigramLm _,
    "q58_stream_interval" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamIntervalFixture(s, dir)),
    "q59_orc_roundtrip" -> graft.sources.GenericSources.orcRoundtripSummary _,
    "q60_salted_segments" -> ((s, dir) =>
      Relational.saltedSegmentActivity(s, dir)),
    "q61_pq_topk" -> ((s, dir) => Similarity.pqTopK(s, dir)),
    "q62_stream_dedup" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamDedupFixture(s, dir)),
    "q63_ffill" -> Relational.forwardFill _,
    "q64_pivot" -> Relational.pivotCounts _,
    "q64b_unpivot" -> Relational.unpivotCounts _,
    "q65_rank_funcs" -> Relational.rankFunctions _,
    "q66_scd2" -> Relational.scd2Intervals _,
    "q67_histogram" -> ((s, dir) => Relational.valueHistogram(s, dir)),
    "q68_moments" -> Relational.momentStats _,
    "q69_concurrency" -> ((s, dir) => Relational.peakConcurrency(s, dir)),
    "q70_edit_dist" -> ((s, dir) => Dedup.editDistancePairs(s, dir)),
    "q71_vocab_oov" -> ((s, dir) => TextAnalysis.vocabOov(s, dir)),
    "q72_stream_sessions" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamSessionFixture(s, dir)),
    "q73_user_growth" -> Relational.userGrowth _,
    "q74_funnel" -> Relational.funnel _,
    "q75_retention" -> Relational.retentionCohorts _,
    "q76_mixture" -> ((s, dir) => TextAnalysis.sourceMixture(s, dir)),
    "q77_winsorized" -> Relational.winsorizedStats _,
    "q78_skyline" -> ((s, dir) => TextAnalysis.skyline(s, dir)),
    "q79_pagerank" -> ((s, dir) => Graph.pageRank(s, dir)),
    "q80_streaks" -> Relational.activityStreaks _,
    "q81_mad" -> Relational.madStats _,
    "q82_source_jaccard" -> TextAnalysis.sourceJaccard _,
    "q83_qgram_join" -> ((s, dir) => Dedup.qgramEditJoin(s, dir)),
    "q84_kmv_setops" -> ((s, dir) => Relational.kmvSetOps(s, dir)),
    "q85_debounce" -> ((s, dir) => Relational.debounce(s, dir)),
    "q86_chisq" -> Relational.chiSquareCells _,
    "q87_zscore" -> Relational.zscore _,
    "q88_stream_funnel" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamFunnelFixture(s, dir)),
    "q89_stream_moments" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamMomentsFixture(s, dir)),
    "q90_ann_recall" -> ((s, dir) => Similarity.annRecall(s, dir)),
    "q91_grouping_sets" -> Relational.groupingSetsCounts _,
    "q92_asof_tolerance" -> ((s, dir) => AsofJoin.prevClickWithin(s, dir)),
    "q93_column_stats" -> Relational.columnStats _,
    "q93b_column_stats_kmv" -> ((s, dir) => Relational.columnStatsKmv(s, dir)),
    "q94_equidepth" -> ((s, dir) => Relational.equiDepthHistogram(s, dir)),
    "q107_cmsketch" -> ((s, dir) => Sketches.cmFrequency(s, dir)),
    "q108_bloom_prune" -> ((s, dir) => Sketches.bloomPruneAudit(s, dir)),
    "q109_dup_spans" -> ((s, dir) => Dedup.dupSpans(s, dir)),
    "q110_kmeans" -> ((s, dir) => Similarity.kmeans(s, dir)),
    "q111_sketch_quantiles" -> ((s, dir) => Sketches.sketchQuantiles(s, dir)),
    "q112_stream_heavy" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamHeavyFixture(s, dir)),
    "q95_dim_stats" -> Similarity.dimStats _,
    "q96_cooccurrence" -> ((s, dir) => Relational.typeCooccurrence(s, dir)),
    "q97_conversion_latency" -> Relational.conversionLatency _,
    "q98_share_of_parent" -> Relational.shareOfParent _,
    "q99_session_paths" -> ((s, dir) => Relational.sessionPaths(s, dir)),
    "q100_dataset_card" -> TextAnalysis.datasetCard _,
    "q101_stream_histogram" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamHistogramFixture(s, dir)),
    "q102_stream_latest" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamLatestFixture(s, dir)),
    "q103_wow" -> Relational.weekOverWeek _,
    "q104_pareto" -> Relational.paretoConcentration _,
    "q105_interpolate" -> Relational.linearInterpolate _,
    "q106_dedup_decisions" -> ((s, dir) => Dedup.dedupDecisions(s, dir)),
    "q113_triangles" -> ((s, dir) => Graph.triangleCounts(s, dir)),
    "q114_ols" -> Relational.olsRegression _,
    "q115_rrf" -> ((s, dir) => TextAnalysis.rrfFusion(s, dir)),
    "q116_stream_enrich" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamEnrichFixture(s, dir)),
    "q117_mad_anomalies" -> ((s, dir) => Relational.madAnomalies(s, dir)),
    "q118_jw_linkage" -> ((s, dir) => Dedup.jwVocabLinkage(s, dir)),
    "q119_partitioned_roundtrip" -> ((s, dir) =>
      graft.sources.GenericSources.partitionedRoundtripSummary(s, dir)),
    "q120_pmi" -> ((s, dir) => TextAnalysis.pmiCollocations(s, dir)),
    "q121_containment" -> ((s, dir) => Dedup.shingleContainment(s, dir)),
    "q122_bpe_pairs" -> ((s, dir) => TextAnalysis.bpePairCandidates(s, dir)),
    "q123_stream_outer" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamIntervalOuterFixture(s, dir)),
    "q124_ohlc" -> Relational.ohlcResample _,
    "q125_fit_transform" -> ((s, dir) => Pipeline.fitTransform(s, dir)),
    "q126_lp_communities" -> ((s, dir) => Graph.lpCommunities(s, dir)),
    "q127_silhouette" -> ((s, dir) => Similarity.silhouette(s, dir)),
    "q128_stream_wkmv" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamWindowedKmvFixture(s, dir)),
    "q129_attribution" -> Relational.touchAttribution _,
    "q130_two_hop" -> ((s, dir) => Graph.twoHopCounts(s, dir)),
    "q131_active_time" -> ((s, dir) => Relational.activeTime(s, dir)),
    "q132_vocab_coverage" -> ((s, dir) => TextAnalysis.vocabCoverage(s, dir)),
    "q133_stream_wheavy" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamWindowedHeavyFixture(s, dir)),
    "q134_source_drift" -> ((s, dir) => TextAnalysis.sourceDrift(s, dir)),
    "q135_constraint_audit" -> Relational.constraintAudit _,
    "q136_dominant_supplier" -> Relational.dominantSupplierShare _,
    "q137_signal_autocorr" -> ((s, _) => Relational.signalAutocorr(s)),
    "q138_prefix_recall" -> ((s, dir) => Similarity.prefixRecall(s, dir)),
    "q139_media_dedup" -> Multimodal.mediaDedup _,
    "q140_setops" -> Relational.eventSetOps _,
    "q141_transitions" -> Relational.eventTransitions _,
    "q142_twap" -> Relational.twapByType _,
    "q143_bfs_hops" -> ((s, dir) => Graph.bfsHops(s, dir)),
    "q144_gini" -> TextAnalysis.giniDiversity _,
    "q145_priority_sample" -> ((s, dir) => Pipeline.prioritySample(s, dir)),
    "q146_phrase_search" -> ((s, dir) => TextAnalysis.phraseSearch(s, dir)),
    "q147_cusum" -> ((s, _) => Relational.signalCusum(s)),
    "q148_lag_features" -> Relational.lagFeatures _,
    "q149_stream_asof" -> graft.streaming.StreamingOps.streamAsofFixture _,
    "q150_setops_all" -> Relational.eventSetOpsAll _,
    "q151_stratified_priority" -> ((s, dir) => Pipeline.stratifiedPrioritySample(s, dir)),
    "q152_stage_latency" -> Relational.stageLatency _,
    "q153_session_depth" -> ((s, dir) => Relational.sessionDepth(s, dir)),
    "q154_edit_dist_rule" -> ((s, dir) => Dedup.editDistancePairsAuto(s, dir)),
    "q155_event_pivot" -> Relational.eventPivot _,
    "q156_unpivot_metrics" -> Relational.lineitemUnpivot _,
    "q157_spend_quartiles" -> Relational.spendQuartiles _,
    "q158_dsir_weights" -> ((s, dir) => Pipeline.dsirWeights(s, dir)),
    "q159_recursive_reach" -> ((s, dir) => Graph.recursiveReach(s, dir)),
    "q160_lateral_topn" -> ((s, dir) => Relational.lateralTopSpenders(s, dir)),
    "q161_asof_native" -> AsofJoin.prevClickNative _,
    "q162_embed_cov" -> ((s, dir) => Similarity.embedCovariance(s, dir)),
    "q163_kcore" -> ((s, dir) => Graph.kCore(s, dir)),
    "q164_bm25_topk" -> ((s, dir) => TextAnalysis.bm25Retrieval(s, dir)),
    "q165_waterfill" -> ((s, dir) => Pipeline.budgetWaterfill(s, dir)),
    "q166_topk_agg" -> ((s, dir) => Relational.topCustomersAgg(s, dir)),
    "q167_canonical_docs" -> ((s, dir) => Dedup.canonicalDocs(s, dir)),
    "q168_rater_kappa" -> ((s, dir) => TextAnalysis.raterAgreement(s, dir)),
    "q169_recency_value" -> Relational.recencyValue _,
    "q170_dpp_rollup" -> ((s, dir) =>
      graft.sources.GenericSources.dppRollup(s, dir)),
    "q171_rolling_median" -> ((s, _) => Smoothing.rollingMedian(sig(s))),
    "q172_stream_fullouter" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamIntervalFullOuterFixture(s, dir)),
    "q173_bootstrap_ci" -> ((s, dir) => Relational.bootstrapCi(s, dir)),
    "q174_ab_welch" -> Relational.abWelch _,
    "q175_chunking" -> ((s, dir) => TextAnalysis.chunkDocs(s, dir)),
    "q176_scene_cuts" -> ((s, dir) => Multimodal.sceneCuts(s, dir)),
    "q177_phash_bands" -> ((s, dir) => Multimodal.phashBands(s, dir)),
    "q178_power_iter" -> ((s, dir) => Similarity.powerIteration(s, dir)),
    "q179_link_pred" -> ((s, dir) => Graph.linkPrediction(s, dir)),
    "q180_label_margin" -> ((s, dir) => Similarity.labelMargins(s, dir)),
    "q181_ewma" -> ((s, _) => Smoothing.ewma(sig(s))),
    "q182_lsh_tuning" -> ((s, dir) => Dedup.lshTuning(s, dir)),
    "q183_hits" -> ((s, dir) => Graph.hits(s, dir)),
    "q184_mann_whitney" -> Relational.mannWhitney _,
    "q185_benford" -> Relational.benfordAudit _,
    "q186_speech_segments" -> ((s, dir) => Multimodal.speechSegments(s, dir)),
    "q187_transitions" -> Relational.transitionMining _,
    "q188_gini" -> Relational.giniConcentration _,
    "q189_drift" -> ((s, dir) => Relational.driftAudit(s, dir)),
    "q190_lang_confusion" -> TextAnalysis.langConfusion _,
    "q191_epoch_shuffle" -> ((s, dir) => Pipeline.epochShuffle(s, dir)),
    "q192_negative_sample" -> ((s, dir) => Pipeline.negativeSample(s, dir)),
    "q193_nucleus" -> ((s, dir) => Pipeline.nucleusSelect(s, dir)),
    "q194_skew_advisor" -> ((s, dir) => Relational.skewAdvisor(s, dir)),
    "q195_loudness" -> ((s, dir) => Multimodal.loudnessStats(s, dir)),
    "q196_anisotropy" -> Similarity.anisotropy _,
    "q197_stream_tws" -> ((s, dir) =>
      graft.streaming.StreamingOps.userProfileFixture(s, dir)),
    "q198_stream_chained" -> ((s, dir) =>
      graft.streaming.StreamingOps.chainedWindowsFixture(s, dir)),
    "q199_stream_dedup_wm" -> ((s, dir) =>
      graft.streaming.StreamingOps.dedupWithinWatermarkFixture(s, dir)),
    "q200_retrieval_eval" -> ((s, dir) => TextAnalysis.retrievalEval(s, dir)),
    "q201_ltv_cohorts" -> Relational.ltvCohorts _,
    "q202_purge_audit" -> ((s, dir) => Relational.purgeAudit(s, dir)),
    "q203_hoeffding" -> ((s, dir) => Relational.hoeffdingAudit(s, dir)),
    "q204_incremental_dedup" -> ((s, dir) => Dedup.incrementalDedup(s, dir)),
    "q205_text_roundtrip" -> ((s, dir) =>
      graft.sources.GenericSources.textRoundtripSummary(s, dir)),
    "q206_binary_files" -> ((s, dir) =>
      graft.sources.GenericSources.binaryFilesSummary(s, dir)),
    "q207_scd2_compact" -> Relational.scd2Dimension _,
    "q208_sorted_neighborhood" -> ((s, dir) => Dedup.sortedNeighborhood(s, dir)),
    "q209_ks_test" -> Relational.ksTest _,
    "q210_forecast_skill" -> ((s, dir) => Relational.forecastSkill(s, dir)),
    "q211_calibration" -> ((s, dir) => TextAnalysis.calibrationBins(s, dir)),
    "q212_fleiss" -> ((s, dir) => TextAnalysis.fleissKappa(s, dir)),
    "q213_pca2" -> ((s, dir) => Similarity.pcaTop2(s, dir)),
    "q214_blocking_recall" -> ((s, dir) => Dedup.blockingRecall(s, dir)),
    "q215_churn_hazard" -> ((s, dir) => Relational.churnHazard(s, dir)),
    "q216_seasonality" -> Relational.seasonalityStrength _,
    "q217_assortativity" -> ((s, dir) => Graph.assortativity(s, dir)),
    "q218_median_ci" -> ((s, dir) => Relational.medianCi(s, dir)),
    "q219_rfm" -> Relational.rfmSegments _,
    "q220_burstiness" -> Relational.burstiness _,
    "q221_simpson" -> TextAnalysis.simpsonDiversity _,
    "q222_snapshot_diff" -> Relational.snapshotDiff _,
    "q223_modularity" -> ((s, dir) => Graph.modularity(s, dir)),
    "q224_weighted_jaccard" -> TextAnalysis.weightedSourceJaccard _,
    "q225_absorption" -> ((s, dir) => Relational.absorptionProb(s, dir)),
    "q226_transitivity" -> ((s, dir) => Graph.transitivity(s, dir)),
    "q227_freshness" -> Relational.freshnessSlo _,
    "q228_knn_labels" -> ((s, dir) => Similarity.knnLabelEval(s, dir)),
    "q229_hrv" -> ((s, _) => BeatMetrics.hrv(detected(s))),
    "q230_stim_latency" -> ((s, _) =>
      BeatMetrics.stimLatency(
        PeakDetect.stimPeaks(
          PeakDetect.rescaleStim(sig(s), SignalFixture.stim(s))),
        detected(s))),
    "q231_restitution" -> ((s, _) => BeatMetrics.restitution(beatMetrics(s))),
    "q232_alternans" -> ((s, _) => BeatMetrics.alternans(beatMetrics(s))),
    "q233_baseline_drift" -> ((s, _) => BeatMetrics.baselineDrift(enriched(s))),
    "q234_poincare" -> ((s, _) => BeatMetrics.poincare(detected(s))),
    "q235_dfdt" -> ((s, _) => BeatMetrics.dfdt(enriched(s), detected(s))),
    "q236_beat_template" -> ((s, _) =>
      BeatMetrics.beatTemplateCorr(enriched(s), detected(s))),
    "q237_relaxation" -> ((s, _) =>
      BeatMetrics.relaxationTimes(enriched(s), beatMetrics(s))),
    "q238_band_power" -> ((s, _) => BeatMetrics.bandPower(detected(s))),
    "q239_fti" -> ((s, _) =>
      BeatMetrics.forceTimeIntegral(enriched(s), detected(s))),
    "q240_beat_anomaly" -> ((s, _) =>
      BeatMetrics.beatAnomaly(enriched(s), detected(s), beatMetrics(s))),
    "q241_smooth_snr" -> ((s, _) =>
      Smoothing.smoothingSnr(Smoothing.withSmooth(sig(s)))),
    "q242_synchrony" -> ((s, _) => BeatMetrics.channelSynchrony(enriched(s))),
    "q243_entrainment" -> ((s, _) =>
      BeatMetrics.entrainment(
        PeakDetect.stimPeaks(
          PeakDetect.rescaleStim(sig(s), SignalFixture.stim(s))),
        detected(s))),
    "q244_windowed_band_power" -> ((s, _) =>
      BeatMetrics.windowedBandPower(detected(s))),
    "q245_fv_loop" -> ((s, _) =>
      BeatMetrics.forceVelocityLoop(enriched(s), detected(s))),
    "q246_sampen" -> ((s, _) => BeatMetrics.sampleEntropy(detected(s))),
    "q247_mse" -> ((s, _) => BeatMetrics.multiscaleEntropy(detected(s))),
    "q248_hti" -> ((s, _) => BeatMetrics.triangularIndex(detected(s))),
    "q249_dfa" -> ((s, _) => BeatMetrics.dfa(Smoothing.withSmooth(sig(s)))),
    "q250_coherence" -> ((s, _) => {
      val rescaled = PeakDetect.rescaleStim(sig(s), SignalFixture.stim(s))
      BeatMetrics.stimCoherence(Smoothing.withSmooth(sig(s)), rescaled,
        PeakDetect.stimPeaks(rescaled))
    }),
    "q251_fragmentation" -> ((s, _) =>
      BeatMetrics.fragmentation(detected(s))),
    "q252_lagged_xcorr" -> ((s, _) =>
      BeatMetrics.laggedXcorr(Smoothing.withSmooth(sig(s)))),
    "q253_morphology_band" -> ((s, _) =>
      BeatMetrics.morphologyBand(enriched(s), detected(s))),
    "q254_apen" -> ((s, _) => BeatMetrics.approximateEntropy(detected(s))),
    "q255_residual_sqi" -> ((s, _) =>
      BeatMetrics.residualSqi(Smoothing.withSmooth(sig(s)))),
    "q256_force_acf" -> ((s, _) => BeatMetrics.forceAutocorr(beatMetrics(s))),
    "q257_turning_points" -> ((s, _) =>
      BeatMetrics.turningPoints(detected(s))),
    "q258_pacing_transfer" -> ((s, _) => {
      val rescaled = PeakDetect.rescaleStim(sig(s), SignalFixture.stim(s))
      BeatMetrics.pacingTransfer(Smoothing.withSmooth(sig(s)), rescaled,
        PeakDetect.stimPeaks(rescaled))
    }),
    "q259_hjorth" -> ((s, _) =>
      BeatMetrics.hjorth(Smoothing.withSmooth(sig(s)))),
    "q260_mann_kendall" -> ((s, _) =>
      BeatMetrics.mannKendall(beatMetrics(s))),
    "q261_rr_entropy" -> ((s, _) => BeatMetrics.rrEntropy(detected(s))),
    "q262_symbolic" -> ((s, _) =>
      BeatMetrics.symbolicDynamics(detected(s))),
    "q263_prsa" -> ((s, _) => BeatMetrics.prsa(detected(s))),
    "q264_higuchi" -> ((s, _) =>
      BeatMetrics.higuchiFd(Smoothing.withSmooth(sig(s)))),
    "q265_rqa" -> ((s, _) => BeatMetrics.rqa(detected(s))),
    "q266_sef" -> ((s, _) => BeatMetrics.spectralEdge(detected(s))),
    "q267_tinn" -> ((s, _) => BeatMetrics.tinn(detected(s))),
    "q268_rr_mi" -> ((s, _) => BeatMetrics.rrMutualInfo(detected(s))),
    "q269_rr_stationarity" -> ((s, _) =>
      BeatMetrics.rrStationaritySplit(detected(s))),
    "q270_beat_morph" -> ((s, _) =>
      BeatMetrics.beatMorphClasses(enriched(s), detected(s))),
    "q271_poincare_asym" -> ((s, _) =>
      BeatMetrics.poincareAsymmetry(detected(s))),
    "q272_katz_fd" -> ((s, _) =>
      BeatMetrics.katzFd(Smoothing.withSmooth(sig(s)))),
    "q273_rr_dfa" -> ((s, _) => BeatMetrics.rrDfa(detected(s))),
    "q274_hrt" -> ((s, _) => BeatMetrics.heartRateTurbulence(detected(s))),
    "q275_rr_xcorr" -> ((s, _) => BeatMetrics.rrCrossCorrelation(detected(s))),
    "q276_segmental_hrv" -> ((s, _) => BeatMetrics.segmentalHrv(detected(s))),
    "q277_bpe_train" -> ((s, dir) => TextAnalysis.bpeTrain(s, dir)),
    "q278_span_scrub" -> ((s, dir) => Dedup.spanScrub(s, dir)),
    "q279_bpe_encode" -> ((s, dir) => TextAnalysis.bpeEncode(s, dir)),
    "q280_coreset" -> ((s, dir) => Similarity.coreset(s, dir)),
    "q281_coreset_assign" -> ((s, dir) => Similarity.coresetAssign(s, dir)),
    "q282_span_scrub_ingest" -> ((s, dir) => Dedup.spanScrubIngest(s, dir)),
    "q283_bpe_frozen" -> ((s, dir) => TextAnalysis.bpeEncodeFrozen(s, dir)),
    "q284_pii_redact" -> ((s, dir) => TextAnalysis.piiRedact(s, dir)),
    "q285_span_index_rt" -> ((s, dir) => Dedup.spanIndexRoundTrip(s, dir)),
    "q286_span_index_refresh" -> ((s, dir) => Dedup.spanIndexRefresh(s, dir)),
    "q287_bpe_artifact_rt" -> ((s, dir) => TextAnalysis.bpeEncodeFromArtifact(s, dir)),
    "q288_span_scrub_day2" -> ((s, dir) => Dedup.spanScrubDayTwo(s, dir)),
    "q289_span_index_compact" -> ((s, dir) => Dedup.spanScrubCompacted(s, dir)),
    "q290_span_index_purge" -> ((s, dir) => Dedup.spanIndexPurge(s, dir)),
    "q291_stream_span_scrub" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamSpanScrubFixture(s, dir)),
    "q292_pq_artifact_rt" -> ((s, dir) => Similarity.pqTopKFromArtifact(s, dir)),
    "q293_coreset_incr" -> ((s, dir) => Similarity.coresetIncremental(s, dir)),
    "q294_ivf_artifact_rt" -> ((s, dir) => Similarity.ivfTopKFromArtifact(s, dir)),
    "q295_stream_index_refresh" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamSpanIndexRefreshFixture(s, dir)),
    "q296_ivf_postings_rt" -> ((s, dir) =>
      Similarity.ivfPostingsRoundTrip(s, dir)),
    "q297_ivf_postings_refresh" -> ((s, dir) =>
      Similarity.ivfPostingsRefresh(s, dir)),
    "q298_ivf_day2_search" -> ((s, dir) => Similarity.ivfDayTwoSearch(s, dir)),
    "q299_ivf_postings_compact" -> ((s, dir) =>
      Similarity.ivfPostingsCompact(s, dir)),
    "q300_ivf_postings_purge" -> ((s, dir) =>
      Similarity.ivfPostingsPurge(s, dir)),
    "q301_stream_ann_ingest" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamIvfIngestFixture(s, dir)),
    "q302_pq_frozen_encode" -> ((s, dir) => Similarity.pqFrozenEncode(s, dir)),
    "q303_span_manifest_scrub" -> ((s, dir) =>
      Dedup.spanScrubViaManifest(s, dir)),
    "q304_ivf_manifest_search" -> ((s, dir) =>
      Similarity.ivfManifestSearch(s, dir)),
    "q305_quantizer_drift" -> ((s, dir) => Similarity.quantizerDrift(s, dir)),
    "q306_ivf_retrain_switch" -> ((s, dir) =>
      Similarity.ivfRetrainSwitch(s, dir)),
    "q307_ivf_generation_gc" -> ((s, dir) =>
      Similarity.ivfGenerationGc(s, dir)),
    "q308_ivf_time_travel" -> ((s, dir) => Similarity.ivfTimeTravel(s, dir)),
    "q309_incremental_clusters" -> ((s, dir) =>
      Dedup.incrementalClusters(s, dir)),
    "q310_lsh_sig_refresh" -> ((s, dir) => Dedup.lshSigRefresh(s, dir)),
    "q311_stream_manifest_refresh" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamManifestRefreshFixture(s, dir)),
    "q312_stream_drift" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamDriftFixture(s, dir)),
    "q313_lsh_sig_compact" -> ((s, dir) =>
      Dedup.incrementalClustersCompacted(s, dir)),
    "q314_lsh_sig_purge" -> ((s, dir) => Dedup.lshSigPurge(s, dir)),
    "q315_lsh_sig_manifest" -> ((s, dir) =>
      Dedup.incrementalClustersViaManifest(s, dir)),
    "q316_pq_codebook_drift" -> ((s, dir) =>
      Similarity.pqCodebookDrift(s, dir)),
    "q317_pq_retrain_switch" -> ((s, dir) =>
      Similarity.pqRetrainSwitch(s, dir)),
    "q318_lifecycle_soak" -> ((s, dir) =>
      Similarity.ivfLifecycleSoak(s, dir)),
    "q319_stream_retention" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamRetentionFixture(s, dir)),
    "q320_span_time_travel" -> ((s, dir) =>
      Dedup.spanScrubTimeTravel(s, dir)),
    "q321_pq_time_travel" -> ((s, dir) => Similarity.pqTimeTravel(s, dir)),
    "q322_stream_sig_refresh" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamSigRefreshFixture(s, dir)),
    "q323_orphan_sweep" -> ((s, dir) =>
      Dedup.spanScrubOrphanSweep(s, dir)),
    "q324_sig_time_travel" -> ((s, dir) =>
      Dedup.incrementalClustersTimeTravel(s, dir)),
    "q325_span_soak" -> ((s, dir) => Dedup.spanLifecycleSoak(s, dir)),
    "q326_sig_soak" -> ((s, dir) => Dedup.sigLifecycleSoak(s, dir)),
    "q327_stream_sig_retention" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamSigRetentionFixture(s, dir)),
    "q328_stream_ann_retention" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamAnnRetentionFixture(s, dir)),
    "q329_ivfpq_search" -> ((s, dir) => Similarity.ivfPqSearch(s, dir)),
    "q330_lifecycle_recall" -> ((s, dir) =>
      Similarity.lifecycleRecall(s, dir)),
    "q331_span_soak_trigger" -> ((s, dir) => Dedup.spanSoakTriggered(s, dir)),
    "q332_ivfpq_recall" -> ((s, dir) => Similarity.ivfPqRecall(s, dir)),
    "q333_ivfpq_day2_search" -> ((s, dir) =>
      Similarity.ivfPqDayTwoSearch(s, dir)),
    "q334_ivfpq_compact" -> ((s, dir) => Similarity.ivfPqCompact(s, dir)),
    "q335_ivfpq_time_travel" -> ((s, dir) =>
      Similarity.ivfPqTimeTravel(s, dir)),
    "q336_ivfpq_soak" -> ((s, dir) => Similarity.ivfPqLifecycleSoak(s, dir)),
    "q337_ivfpq_purge" -> ((s, dir) => Similarity.ivfPqPurge(s, dir)),
    "q338_stream_ivfpq_ingest" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamIvfPqIngestFixture(s, dir)),
    "q339_stream_trigger_retention" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamAnnTriggerFixture(s, dir)),
    "q340_ivfpq_quantizer_retrain" -> ((s, dir) =>
      Similarity.ivfPqQuantizerRetrain(s, dir)),
    "q341_stream_ivfpq_retention" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamIvfPqRetentionFixture(s, dir)),
    "q342_ivfpq_orphan_sweep" -> ((s, dir) =>
      Similarity.ivfPqOrphanSweep(s, dir)),
    "q343_ivfpq_retrain_recall" -> ((s, dir) =>
      Similarity.ivfPqRetrainRecall(s, dir))
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q1_smooth" -> OracleSql.q1Smooth(),
    "q2_baseline" -> OracleSql.qEnriched("baseline"),
    "q3_ceiling" -> OracleSql.qEnriched("ceiling"),
    "q4_diastolic" -> OracleSql.qEnriched("diastolic"),
    "q5_candidates" -> OracleSql.q5Candidates,
    "q6_gate" -> OracleSql.q6Gate(),
    "q7a_prominence" -> OracleSql.q7aProminence(),
    "q7b_peaks" -> OracleSql.q7bPeaks(),
    "q8_metrics" -> OracleSql.q8Metrics(),
    "q8b_markers" -> OracleSql.q8bMarkers(),
    "q9_summary" -> OracleSql.q9Summary(),
    "q10_stim" -> OracleSql.q10Stim,
    "q11_revenue_by_nation" -> OracleSql.q11Revenue,
    "q11b_supplier_revenue" -> OracleSql.q11bSupplierRevenue,
    "q12_topk_parts" -> OracleSql.q12TopParts(),
    "q13_events_daily" -> OracleSql.q13EventsDaily,
    "q14_token_stats" -> OracleSql.q14Tokens,
    "q14b_tfidf" -> OracleSql.q14bTfIdf(),
    "q15_dedup_exact" -> OracleSql.q15Dedup,
    "q15b_near_dup" -> OracleSql.q15bNearDup,
    "q15c_minhash_lsh" -> OracleSql.q15cMinhash,
    "q15d_simhash" -> OracleSql.q15dSimhash(),
    "q15e_ngram_jaccard" -> OracleSql.q15eNgramJaccard(),
    "q16_cosine_topk" -> OracleSql.q16CosineTopK(),
    "q16b_lsh_neardup" -> OracleSql.q16bLshNearDup(),
    "q16c_ivf_topk" -> OracleSql.q16cIvfTopK(),
    "q17_lang_id" -> OracleSql.q17LangId,
    "q18_quality" -> OracleSql.q18Quality,
    "q18b_gopher" -> OracleSql.q18bGopher(),
    "q19_bpe_tokens" -> OracleSql.q19BpeTokens,
    "q20_fingerprints" -> OracleSql.q20Fingerprints(),
    "q21_media_meta" -> OracleSql.q21MediaMeta(),
    "q21b_frames" -> OracleSql.q21bFrames(),
    "q22_stream_smooth" -> OracleSql.q22StreamSmooth(),
    "q23_asof_prev_click" -> OracleSql.q23AsofPrevClick,
    "q24_sessions" -> OracleSql.q24Sessions(),
    "q25_stream_envelopes" -> OracleSql.q25StreamEnvelopes,
    "q26_kmv_distinct" -> OracleSql.q26Kmv(),
    "q27_hash_split" -> OracleSql.q27HashSplit(),
    "q28_pii_mask" -> OracleSql.q28PiiMask,
    "q29_domain_mix" -> OracleSql.q29DomainMix,
    "q30_label_centroids" -> OracleSql.q30LabelCentroids(),
    "q31_dedup_lines" -> OracleSql.q31DedupLines,
    "q32_percentiles" -> OracleSql.q32Percentiles,
    // q33 converges to the batch sketch — same oracle as q26
    "q33_stream_kmv" -> OracleSql.q26Kmv(),
    "q34_rollup" -> OracleSql.q34Rollup,
    "q34b_cube" -> OracleSql.q34bCube,
    "q35_decontaminate" -> OracleSql.q35Decontaminate(),
    "q36_quality_sample" -> OracleSql.q36QualitySample(),
    "q37_pack" -> OracleSql.q37Pack(),
    "q38_dup_clusters" -> OracleSql.q38DupClusters(),
    "q39_shards" -> OracleSql.q39Shards(),
    "q40_heavy_hitters" -> OracleSql.q40HeavyHitters(),
    "q41_group_sample" -> OracleSql.q41GroupSample(),
    "q42_reconcile" -> OracleSql.q42Reconcile,
    "q23b_next_click" -> OracleSql.q23bAsofNextClick,
    "q21c_resize" -> OracleSql.q21cResize(),
    "q43_token_spectrum" -> OracleSql.q43TokenSpectrum,
    "q44_range_join" -> OracleSql.q44FollowerCounts(),
    "q45_semantic_dedup" -> OracleSql.q45SemanticDedup(),
    "q46_stratified_split" -> OracleSql.q46StratifiedSplit(),
    "q47_rate_spikes" -> OracleSql.q47RateSpikes(),
    "q48_token_rarity" -> OracleSql.q48TokenRarity(),
    "q49_quantized_topk" -> OracleSql.q49QuantizedTopK(),
    "q50_stream_sliding" -> OracleSql.q50SlidingCounts(),
    "q51_bm25" -> OracleSql.q51Bm25(),
    "q52_curate" -> OracleSql.q52Curate(),
    "q53_top_bigrams" -> OracleSql.q53TopBigrams(),
    "q54_quant_fidelity" -> OracleSql.q54QuantFidelity(),
    "q55_cdc_latest" -> OracleSql.q55LatestState,
    "q56_zorder" -> OracleSql.q56Zorder(),
    "q57_bigram_lm" -> OracleSql.q57BigramLm,
    "q58_stream_interval" -> OracleSql.q58StreamInterval(),
    "q59_orc_roundtrip" -> OracleSql.q59OrcRoundtrip,
    "q60_salted_segments" -> OracleSql.q60SaltedSegments,
    "q61_pq_topk" -> OracleSql.q61PqTopK(),
    "q62_stream_dedup" -> OracleSql.q62StreamDedup,
    "q63_ffill" -> OracleSql.q63ForwardFill,
    "q64_pivot" -> OracleSql.q64Pivot,
    "q64b_unpivot" -> OracleSql.q64bUnpivot,
    "q65_rank_funcs" -> OracleSql.q65RankFunctions,
    "q66_scd2" -> OracleSql.q66Scd2,
    "q67_histogram" -> OracleSql.q67Histogram(),
    "q68_moments" -> OracleSql.q68MomentStats,
    "q69_concurrency" -> OracleSql.q69PeakConcurrency(),
    "q70_edit_dist" -> OracleSql.q70EditDistance(),
    "q71_vocab_oov" -> OracleSql.q71VocabOov(),
    // streaming sessions flush to exactly the batch q24 result
    "q72_stream_sessions" -> OracleSql.q24Sessions(),
    "q73_user_growth" -> OracleSql.q73UserGrowth,
    "q74_funnel" -> OracleSql.q74Funnel,
    "q75_retention" -> OracleSql.q75Retention,
    "q76_mixture" -> OracleSql.q76SourceMixture(),
    "q77_winsorized" -> OracleSql.q77Winsorized,
    "q78_skyline" -> OracleSql.q78Skyline,
    "q79_pagerank" -> OracleSql.q79PageRank(),
    "q80_streaks" -> OracleSql.q80Streaks,
    "q81_mad" -> OracleSql.q81Mad,
    "q82_source_jaccard" -> OracleSql.q82SourceJaccard,
    "q83_qgram_join" -> OracleSql.q83QgramJoin(),
    "q84_kmv_setops" -> OracleSql.q84KmvSetOps(),
    "q85_debounce" -> OracleSql.q85Debounce(),
    "q86_chisq" -> OracleSql.q86ChiSquare,
    "q87_zscore" -> OracleSql.q87Zscore,
    // the stream funnel state machine must equal batch q74 exactly
    "q88_stream_funnel" -> OracleSql.q74Funnel,
    // exact-decimal stream state must equal batch q68 exactly
    "q89_stream_moments" -> OracleSql.q68MomentStats,
    "q90_ann_recall" -> OracleSql.q90AnnRecall(),
    "q91_grouping_sets" -> OracleSql.q91GroupingSets,
    "q92_asof_tolerance" -> OracleSql.q92AsofTolerance(),
    "q93_column_stats" -> OracleSql.q93ColumnStats,
    "q93b_column_stats_kmv" -> OracleSql.q93bColumnStatsKmv(),
    "q107_cmsketch" -> OracleSql.q107CmSketch(),
    "q108_bloom_prune" -> OracleSql.q108BloomPrune(),
    "q109_dup_spans" -> OracleSql.q109DupSpans(),
    "q110_kmeans" -> OracleSql.q110Kmeans(),
    "q111_sketch_quantiles" -> OracleSql.q111SketchQuantiles(),
    // q112 converges to the batch sketch — same oracle as q40
    "q112_stream_heavy" -> OracleSql.q40HeavyHitters(),
    "q94_equidepth" -> OracleSql.q94EquiDepth(),
    "q95_dim_stats" -> OracleSql.q95DimStats(),
    "q96_cooccurrence" -> OracleSql.q96Cooccurrence(),
    "q97_conversion_latency" -> OracleSql.q97ConversionLatency,
    "q98_share_of_parent" -> OracleSql.q98ShareOfParent,
    "q99_session_paths" -> OracleSql.q99SessionPaths(),
    "q100_dataset_card" -> OracleSql.q100DatasetCard,
    // monotone streaming histogram flushes to exactly the batch q67
    "q101_stream_histogram" -> OracleSql.q67Histogram(),
    // monotone struct-max stream state equals the batch q55 snapshot
    "q102_stream_latest" -> OracleSql.q55LatestState,
    "q103_wow" -> OracleSql.q103WeekOverWeek,
    "q104_pareto" -> OracleSql.q104Pareto,
    "q105_interpolate" -> OracleSql.q105Interpolate,
    "q106_dedup_decisions" -> OracleSql.q106DedupDecisions(),
    "q113_triangles" -> OracleSql.q113Triangles(),
    "q114_ols" -> OracleSql.q114Ols,
    "q115_rrf" -> OracleSql.q115Rrf(),
    "q116_stream_enrich" -> OracleSql.q116StreamEnrich,
    "q117_mad_anomalies" -> OracleSql.q117MadAnomalies(),
    "q118_jw_linkage" -> OracleSql.q118JwLinkage(),
    "q119_partitioned_roundtrip" -> OracleSql.q119PartitionedRoundtrip(),
    "q120_pmi" -> OracleSql.q120Pmi(),
    "q121_containment" -> OracleSql.q121Containment(),
    "q122_bpe_pairs" -> OracleSql.q122BpePairs(),
    "q123_stream_outer" -> OracleSql.q123StreamIntervalOuter(),
    "q124_ohlc" -> OracleSql.q124Ohlc,
    "q125_fit_transform" -> OracleSql.q125FitTransform(),
    "q126_lp_communities" -> OracleSql.q126LpCommunities(),
    "q127_silhouette" -> OracleSql.q127Silhouette(),
    "q128_stream_wkmv" -> OracleSql.q128WindowedKmv(),
    "q129_attribution" -> OracleSql.q129Attribution,
    "q130_two_hop" -> OracleSql.q130TwoHop(),
    "q131_active_time" -> OracleSql.q131ActiveTime(),
    "q132_vocab_coverage" -> OracleSql.q132VocabCoverage(),
    "q133_stream_wheavy" -> OracleSql.q133WindowedHeavy(),
    "q134_source_drift" -> OracleSql.q134SourceDrift(),
    "q135_constraint_audit" -> OracleSql.q135ConstraintAudit,
    "q136_dominant_supplier" -> OracleSql.q136DominantSupplier,
    "q137_signal_autocorr" -> OracleSql.q137SignalAutocorr,
    "q138_prefix_recall" -> OracleSql.q138PrefixRecall(),
    "q139_media_dedup" -> OracleSql.q139MediaDedup,
    "q140_setops" -> OracleSql.q140EventSetOps,
    "q141_transitions" -> OracleSql.q141EventTransitions,
    "q142_twap" -> OracleSql.q142Twap,
    "q143_bfs_hops" -> OracleSql.q143BfsHops(),
    "q144_gini" -> OracleSql.q144GiniDiversity,
    "q145_priority_sample" -> OracleSql.q145PrioritySample(),
    "q146_phrase_search" -> OracleSql.q146PhraseSearch(),
    "q147_cusum" -> OracleSql.q147SignalCusum,
    "q148_lag_features" -> OracleSql.q148LagFeatures,
    "q149_stream_asof" -> OracleSql.q23AsofPrevClick,
    "q150_setops_all" -> OracleSql.q150EventSetOpsAll,
    "q151_stratified_priority" -> OracleSql.q151StratifiedPriority(),
    "q152_stage_latency" -> OracleSql.q152StageLatency,
    "q153_session_depth" -> OracleSql.q153SessionDepth(),
    "q154_edit_dist_rule" -> OracleSql.q154EditDistanceRule(),
    "q155_event_pivot" -> OracleSql.q155EventPivot,
    "q156_unpivot_metrics" -> OracleSql.q156LineitemUnpivot,
    "q157_spend_quartiles" -> OracleSql.q157SpendQuartiles,
    "q158_dsir_weights" -> OracleSql.q158DsirWeights(),
    "q159_recursive_reach" -> OracleSql.q159RecursiveReach(),
    "q160_lateral_topn" -> OracleSql.q160LateralTopSpenders(),
    "q161_asof_native" -> OracleSql.q23AsofPrevClick,
    "q162_embed_cov" -> OracleSql.q162EmbedCovariance(),
    "q163_kcore" -> OracleSql.q163KCore(),
    "q164_bm25_topk" -> OracleSql.q164Bm25Retrieval(),
    "q165_waterfill" -> OracleSql.q165Waterfill,
    "q166_topk_agg" -> OracleSql.q166TopCustomers(),
    "q167_canonical_docs" -> OracleSql.q167CanonicalDocs(),
    "q168_rater_kappa" -> OracleSql.q168RaterAgreement(),
    "q169_recency_value" -> OracleSql.q169RecencyValue,
    "q170_dpp_rollup" -> OracleSql.q170DppRollup,
    "q171_rolling_median" -> OracleSql.q171RollingMedian(),
    "q172_stream_fullouter" -> OracleSql.q172StreamIntervalFullOuter(),
    "q173_bootstrap_ci" -> OracleSql.q173BootstrapCi(),
    "q174_ab_welch" -> OracleSql.q174AbWelch,
    "q175_chunking" -> OracleSql.q175ChunkDocs(),
    "q176_scene_cuts" -> OracleSql.q176SceneCuts(),
    "q177_phash_bands" -> OracleSql.q177PhashBands(),
    "q178_power_iter" -> OracleSql.q178PowerIteration(),
    "q179_link_pred" -> OracleSql.q179LinkPrediction(),
    "q180_label_margin" -> OracleSql.q180LabelMargins(),
    "q181_ewma" -> OracleSql.q181Ewma(),
    "q182_lsh_tuning" -> OracleSql.q182LshTuning(),
    "q183_hits" -> OracleSql.q183Hits(),
    "q184_mann_whitney" -> OracleSql.q184MannWhitney,
    "q185_benford" -> OracleSql.q185Benford(),
    "q186_speech_segments" -> OracleSql.q186SpeechSegments(),
    "q187_transitions" -> OracleSql.q187Transitions(),
    "q188_gini" -> OracleSql.q188Gini(),
    "q189_drift" -> OracleSql.q189Drift(),
    "q190_lang_confusion" -> OracleSql.q190LangConfusion(),
    "q191_epoch_shuffle" -> OracleSql.q191EpochShuffle(),
    "q192_negative_sample" -> OracleSql.q192NegativeSample(),
    "q193_nucleus" -> OracleSql.q193Nucleus(),
    "q194_skew_advisor" -> OracleSql.q194SkewAdvisor(),
    "q195_loudness" -> OracleSql.q195Loudness(),
    "q196_anisotropy" -> OracleSql.q196Anisotropy(),
    "q197_stream_tws" -> OracleSql.q197StreamTws(),
    "q198_stream_chained" -> OracleSql.q198ChainedWindows(),
    "q199_stream_dedup_wm" -> OracleSql.q199DedupWithinWatermark(),
    "q200_retrieval_eval" -> OracleSql.q200RetrievalEval(),
    "q201_ltv_cohorts" -> OracleSql.q201LtvCohorts(),
    "q202_purge_audit" -> OracleSql.q202PurgeAudit(),
    "q203_hoeffding" -> OracleSql.q203Hoeffding(),
    "q204_incremental_dedup" -> OracleSql.q204IncrementalDedup(),
    "q205_text_roundtrip" -> OracleSql.q205TextRoundtrip(),
    "q206_binary_files" -> OracleSql.q206BinaryFiles(),
    "q207_scd2_compact" -> OracleSql.q207Scd2(),
    "q208_sorted_neighborhood" -> OracleSql.q208SortedNeighborhood(),
    "q209_ks_test" -> OracleSql.q209KsTest(),
    "q210_forecast_skill" -> OracleSql.q210ForecastSkill(),
    "q211_calibration" -> OracleSql.q211CalibrationBins(),
    "q212_fleiss" -> OracleSql.q212FleissKappa(),
    "q213_pca2" -> OracleSql.q213Pca2(),
    "q214_blocking_recall" -> OracleSql.q214BlockingRecall(),
    "q215_churn_hazard" -> OracleSql.q215ChurnHazard(),
    "q216_seasonality" -> OracleSql.q216SeasonalityStrength(),
    "q217_assortativity" -> OracleSql.q217Assortativity(),
    "q218_median_ci" -> OracleSql.q218MedianCi(),
    "q219_rfm" -> OracleSql.q219RfmSegments(),
    "q220_burstiness" -> OracleSql.q220Burstiness(),
    "q221_simpson" -> OracleSql.q221SimpsonDiversity(),
    "q222_snapshot_diff" -> OracleSql.q222SnapshotDiff(),
    "q223_modularity" -> OracleSql.q223Modularity(),
    "q224_weighted_jaccard" -> OracleSql.q224WeightedSourceJaccard(),
    "q225_absorption" -> OracleSql.q225AbsorptionProb(),
    "q226_transitivity" -> OracleSql.q226Transitivity(),
    "q227_freshness" -> OracleSql.q227FreshnessSlo(),
    "q228_knn_labels" -> OracleSql.q228KnnLabelEval(),
    "q229_hrv" -> OracleSql.q229Hrv(),
    "q230_stim_latency" -> OracleSql.q230StimLatency(),
    "q231_restitution" -> OracleSql.q231Restitution(),
    "q232_alternans" -> OracleSql.q232Alternans(),
    "q233_baseline_drift" -> OracleSql.q233BaselineDrift(),
    "q234_poincare" -> OracleSql.q234Poincare(),
    "q235_dfdt" -> OracleSql.q235Dfdt(),
    "q236_beat_template" -> OracleSql.q236BeatTemplate(),
    "q237_relaxation" -> OracleSql.q237Relaxation(),
    "q238_band_power" -> OracleSql.q238BandPower(),
    "q239_fti" -> OracleSql.q239Fti(),
    "q240_beat_anomaly" -> OracleSql.q240BeatAnomaly(),
    "q241_smooth_snr" -> OracleSql.q241SmoothSnr(),
    "q242_synchrony" -> OracleSql.q242Synchrony(),
    "q243_entrainment" -> OracleSql.q243Entrainment(),
    "q244_windowed_band_power" -> OracleSql.q244WindowedBandPower(),
    "q245_fv_loop" -> OracleSql.q245FvLoop(),
    "q246_sampen" -> OracleSql.q246SampleEntropy(),
    "q247_mse" -> OracleSql.q247MultiscaleEntropy(),
    "q248_hti" -> OracleSql.q248Hti(),
    "q249_dfa" -> OracleSql.q249Dfa(),
    "q250_coherence" -> OracleSql.q250Coherence(),
    "q251_fragmentation" -> OracleSql.q251Fragmentation(),
    "q252_lagged_xcorr" -> OracleSql.q252LaggedXcorr(),
    "q253_morphology_band" -> OracleSql.q253MorphologyBand(),
    "q254_apen" -> OracleSql.q254Apen(),
    "q255_residual_sqi" -> OracleSql.q255ResidualSqi(),
    "q256_force_acf" -> OracleSql.q256ForceAutocorr(),
    "q257_turning_points" -> OracleSql.q257TurningPoints(),
    "q258_pacing_transfer" -> OracleSql.q258PacingTransfer(),
    "q259_hjorth" -> OracleSql.q259Hjorth(),
    "q260_mann_kendall" -> OracleSql.q260MannKendall(),
    "q261_rr_entropy" -> OracleSql.q261RrEntropy(),
    "q262_symbolic" -> OracleSql.q262SymbolicDynamics(),
    "q263_prsa" -> OracleSql.q263Prsa(),
    "q264_higuchi" -> OracleSql.q264HiguchiFd(),
    "q265_rqa" -> OracleSql.q265Rqa(),
    "q266_sef" -> OracleSql.q266SpectralEdge(),
    "q267_tinn" -> OracleSql.q267Tinn(),
    "q268_rr_mi" -> OracleSql.q268RrMutualInfo(),
    "q269_rr_stationarity" -> OracleSql.q269RrStationarity(),
    "q270_beat_morph" -> OracleSql.q270BeatMorphClasses(),
    "q271_poincare_asym" -> OracleSql.q271PoincareAsymmetry(),
    "q272_katz_fd" -> OracleSql.q272KatzFd(),
    "q273_rr_dfa" -> OracleSql.q273RrDfa(),
    "q274_hrt" -> OracleSql.q274Hrt(),
    "q275_rr_xcorr" -> OracleSql.q275RrCrossCorr(),
    "q276_segmental_hrv" -> OracleSql.q276SegmentalHrv(),
    "q277_bpe_train" -> OracleSql.q277BpeTrain(),
    "q278_span_scrub" -> OracleSql.q278SpanScrub(),
    "q279_bpe_encode" -> OracleSql.q279BpeEncode(),
    "q280_coreset" -> OracleSql.q280Coreset(),
    "q281_coreset_assign" -> OracleSql.q281CoresetAssign(),
    "q282_span_scrub_ingest" -> OracleSql.q282SpanScrubIngest(),
    "q283_bpe_frozen" -> OracleSql.q283BpeEncodeFrozen(),
    "q284_pii_redact" -> OracleSql.q284PiiRedact(),
    // round-trip identity: the persisted-index scrub must equal the
    // inline-index scrub, so q285 shares q282's oracle SQL
    "q285_span_index_rt" -> OracleSql.q282SpanScrubIngest(),
    "q286_span_index_refresh" -> OracleSql.q286SpanIndexRefresh(),
    // round-trip identity: encoding from the persisted merge table
    // must equal the in-memory frozen encode, so q287 shares q283's
    // oracle SQL (the q285/q282 precedent)
    "q287_bpe_artifact_rt" -> OracleSql.q283BpeEncodeFrozen(),
    "q288_span_scrub_day2" -> OracleSql.q288SpanScrubDayTwo(),
    // compaction changes LAYOUT, never content: the post-compaction
    // day-2 scrub must be hash-identical to q288, so q289 shares its
    // oracle SQL (the q285/q282 precedent)
    "q289_span_index_compact" -> OracleSql.q288SpanScrubDayTwo(),
    "q290_span_index_purge" -> OracleSql.q290SpanIndexPurge(),
    // batch ≡ stream: the streaming scrub against the persisted index
    // must reproduce the q282/q285 batch scrub exactly, so q291 shares
    // their oracle SQL (the q58/q62 equality discipline)
    "q291_stream_span_scrub" -> OracleSql.q282SpanScrubIngest(),
    // the search FROM the persisted codebook artifact must equal the
    // inline q61 search, so q292 shares its oracle SQL
    "q292_pq_artifact_rt" -> OracleSql.q61PqTopK(),
    "q293_coreset_incr" -> OracleSql.q293CoresetIncremental(),
    // the search FROM the persisted coarse quantizer must equal the
    // inline q16c search, so q294 shares its oracle SQL
    "q294_ivf_artifact_rt" -> OracleSql.q16cIvfTopK(),
    // stream ≡ batch for index MAINTENANCE: the per-batch delta chain
    // must refresh the index to exactly the batch q286 state, so q295
    // shares its oracle SQL
    "q295_stream_index_refresh" -> OracleSql.q286SpanIndexRefresh(),
    // the search FROM the persisted postings generation must equal the
    // inline q16c search, so q296 shares its oracle SQL
    "q296_ivf_postings_rt" -> OracleSql.q16cIvfTopK(),
    "q297_ivf_postings_refresh" -> OracleSql.q297IvfPostingsRefresh(),
    "q298_ivf_day2_search" -> OracleSql.q298IvfDayTwoSearch(),
    // compaction changes LAYOUT, never content: the post-compaction
    // day-2 search must be hash-identical to q298, so q299 shares its
    // oracle SQL (the q289 precedent on the ANN side)
    "q299_ivf_postings_compact" -> OracleSql.q298IvfDayTwoSearch(),
    "q300_ivf_postings_purge" -> OracleSql.q300IvfPostingsPurge(),
    // stream ≡ batch for ANN index maintenance: the per-batch delta
    // chain must refresh the postings to exactly the batch q297 state,
    // so q301 shares its oracle SQL (the q295 discipline)
    "q301_stream_ann_ingest" -> OracleSql.q297IvfPostingsRefresh(),
    "q302_pq_frozen_encode" -> OracleSql.q302PqFrozenEncode(),
    // the manifest switch changes WHICH dirs a reader scans, never
    // content: q303's post-compaction scrub must equal q288's, and
    // q304's manifest-resolved day-2 search must equal q298's
    "q303_span_manifest_scrub" -> OracleSql.q288SpanScrubDayTwo(),
    "q304_ivf_manifest_search" -> OracleSql.q298IvfDayTwoSearch(),
    "q305_quantizer_drift" -> OracleSql.q305QuantizerDrift(),
    // retraining on the full corpus IS the q16c quantizer, and the
    // rebuilt postings cover the full corpus — so the post-switch
    // search must equal inline q16c exactly
    "q306_ivf_retrain_switch" -> OracleSql.q16cIvfTopK(),
    // GC deletes only manifest-retired generations: the post-GC day-2
    // search must still equal q298's
    "q307_ivf_generation_gc" -> OracleSql.q298IvfDayTwoSearch(),
    "q308_ivf_time_travel" -> OracleSql.q308IvfTimeTravel(),
    // the incremental day-2 clustering must equal the full recompute
    // EXACTLY (contraction preserves connectivity; min-labels are
    // canonical), so q309 shares q38's oracle
    "q309_incremental_clusters" -> OracleSql.q38DupClusters(),
    "q310_lsh_sig_refresh" -> OracleSql.q310LshSigRefresh(),
    // stream ≡ batch for MANIFEST-mediated index maintenance: the
    // per-batch resolve → delta → commit chain must refresh the index
    // to exactly the batch q286 state, so q311 shares its oracle
    "q311_stream_manifest_refresh" -> OracleSql.q286SpanIndexRefresh(),
    // stream ≡ batch for the drift AUDIT: per-batch decimal partials
    // fold to exactly the batch q305 aggregate, so q312 shares its
    // oracle
    "q312_stream_drift" -> OracleSql.q305QuantizerDrift(),
    // compaction changes LAYOUT, never content: the day-2 clustering
    // over the compacted (q313) / manifest-resolved (q315) signature
    // index must equal the full q38 recompute, like q309
    "q313_lsh_sig_compact" -> OracleSql.q38DupClusters(),
    "q314_lsh_sig_purge" -> OracleSql.q314LshSigPurge(),
    "q315_lsh_sig_manifest" -> OracleSql.q38DupClusters(),
    "q316_pq_codebook_drift" -> OracleSql.q316PqCodebookDrift(),
    // the atomic switch must land exactly the retrained codebook: the
    // post-switch encode equals a fresh inline encode whose codewords
    // come from the FULL corpus (same chain, cbFrom = 'e')
    "q317_pq_retrain_switch" -> OracleSql.q302PqFrozenEncode(cbFrom = "e"),
    // three daily deltas union to exactly q298's incoming stratum, so
    // the post-soak search shares q298's oracle — a slice dropped by a
    // refresh, leaked by a compaction, or deleted by an over-eager GC
    // breaks the compare
    "q318_lifecycle_soak" -> OracleSql.q298IvfDayTwoSearch(),
    // stream ≡ batch survives RETENTION: per-batch GC deletes earlier
    // generations mid-stream, yet the final resolved index must still
    // audit to exactly the batch q286 state (q311's oracle) — the
    // reader-vs-GC race pinned at fixture scale
    "q319_stream_retention" -> OracleSql.q286SpanIndexRefresh(),
    // time travel to the pre-day-1 snapshot: the probed index is the
    // EXISTING stratum's hashes only (day-1 novel hashes excluded), so
    // a resolveAt that leaked the delta generation breaks the compare
    "q320_span_time_travel" ->
      OracleSql.q288SpanScrubDayTwo(idxPred = "m NOT IN (0, 1)"),
    // time travel to the pre-retrain snapshot: the encode must equal
    // the inline FROZEN-codebook encode (q302's oracle) even though
    // the latest manifest now names the retrained generation
    "q321_pq_time_travel" -> OracleSql.q302PqFrozenEncode(),
    // stream ≡ batch for signature-index maintenance: the per-batch
    // delta generations must refresh the index to exactly the batch
    // q310 state, so q322 shares its oracle
    "q322_stream_sig_refresh" -> OracleSql.q310LshSigRefresh(),
    // the scrub after the orphan sweep must still see the COMPLETE
    // committed index (base ∪ delta = q288's state): a sweep that
    // deleted a live generation drops index hashes and un-cuts day-2
    // spans, breaking the compare; the planted orphans are invisible
    // to the oracle because they never held novel content
    "q323_orphan_sweep" -> OracleSql.q288SpanScrubDayTwo(),
    // time travel to the pre-OPTIMIZE snapshot: compaction is
    // layout-only, so the base ∪ delta snapshot must cluster
    // identically to the full q38 recompute (q309/q313/q315's shared
    // oracle); the only-pre-compaction-generations proof is the plan
    // pin (duplicated signature generations are distinct()-absorbed)
    "q324_sig_time_travel" -> OracleSql.q38DupClusters(),
    // three refresh→compact→retire days on one span root: each day-1
    // hash enters the index on the first day a slice carries it and
    // never leaves, so the final resolved content is exactly q288's
    // base ∪ delta — the scrub shares its oracle, and a slice dropped
    // by a refresh, leaked by a compaction, or deleted by an
    // over-eager GC breaks the compare
    "q325_span_soak" -> OracleSql.q288SpanScrubDayTwo(),
    // three ingest days on the signature root: the daily slices union
    // to exactly q309's existing-signature set, so the post-soak
    // incremental clustering must equal the full q38 recompute
    // (q309/q313/q315/q324's shared oracle)
    "q326_sig_soak" -> OracleSql.q38DupClusters(),
    // stream ≡ batch survives RETENTION on the signature family:
    // per-batch GC deletes earlier generations (including the base)
    // mid-stream, yet the final resolved index must still audit to
    // exactly the batch q310 state (q322's shared oracle)
    "q327_stream_sig_retention" -> OracleSql.q310LshSigRefresh(),
    // stream ≡ batch survives RETENTION on the postings family: the
    // per-batch deltas union to exactly the incoming stratum, and the
    // post-stream search over the resolved (compacted, GC-survived)
    // set must equal the batch day-2 search (q298's shared oracle)
    "q328_stream_ann_retention" -> OracleSql.q298IvfDayTwoSearch(),
    // the composite switch must serve the RETRAINED codebook with the
    // postings coded under it — the oracle restates the ADC search
    // inline under the full-corpus codebook, so a stale or
    // mixed-version read breaks the compare
    "q329_ivfpq_search" -> OracleSql.q329IvfPqSearch(),
    // recall of the lifecycle-SERVED index against full-corpus brute
    // force: the soak leaves the served state exactly equal to the
    // q298 search, so the oracle is q90's tail over that approx side
    "q330_lifecycle_recall" -> OracleSql.q330LifecycleRecall(),
    // compaction CADENCE changes layout and cost timing, never
    // content: the triggered soak's final scrub shares q325's oracle
    "q331_span_soak_trigger" -> OracleSql.q288SpanScrubDayTwo(),
    // recall of the COMPOSITE coded index against exact cosine truth —
    // q90's tail with the approx side swapped to the q329 ADC search
    "q332_ivfpq_recall" -> OracleSql.q332IvfPqRecall(),
    // day-2 composite search: base ∪ coded delta under the FROZEN
    // codebook — the inline ADC restatement with cbFrom = 'ex'
    "q333_ivfpq_day2_search" -> OracleSql.q329IvfPqSearch(cbFrom = "ex"),
    // folding codes never retrains them: the compacted search must be
    // hash-identical to q333's, so q334 shares its oracle
    "q334_ivfpq_compact" -> OracleSql.q329IvfPqSearch(cbFrom = "ex"),
    // resolvePartsAt pinned to v1 serves yesterday's codebook WITH
    // yesterday's codes — the v1 postings ARE the corpus coded under
    // the frozen codebook, so q335 shares q333's oracle while the
    // latest read (q329) produces the retrained search
    "q335_ivfpq_time_travel" -> OracleSql.q329IvfPqSearch(cbFrom = "ex"),
    // three coded daily deltas union to exactly the incoming stratum,
    // so the post-soak composite search equals the frozen day-2 search
    // — a slice dropped by a refresh, leaked by a compaction, a GC'd
    // live generation, or a vanished shared codebook all break it
    "q336_ivfpq_soak" -> OracleSql.q329IvfPqSearch(cbFrom = "ex"),
    // purging coded rows never changes list membership or counts, so
    // the composite purge audit shares q300's raw-table oracle
    "q337_ivfpq_purge" -> OracleSql.q300IvfPostingsPurge(),
    // stream ≡ batch on the composite family: the coded micro-batch
    // deltas union to exactly the incoming stratum and counts are
    // code-independent, so the resolved audit shares q297's oracle
    "q338_stream_ivfpq_ingest" -> OracleSql.q297IvfPostingsRefresh(),
    // the q328 retention stream on the q331 trigger cadence: folding
    // only when the live set exceeds maxGens changes layout and cost
    // timing, never content — the final search still equals the batch
    // day-2 search
    "q339_stream_trigger_retention" -> OracleSql.q298IvfDayTwoSearch(),
    // the quantizer retrain: the q329 ADC restatement with BOTH the
    // codebook retrained on the full corpus AND the centroid seed
    // window shifted past the day-1 seeds (retrainedCentroids) — every
    // vector re-lists and every probe re-routes, so a stale quantizer,
    // a mixed-version triple, or a re-list bug all break the compare
    "q340_ivfpq_quantizer_retrain" -> OracleSql.q329IvfPqSearch(
      cbFrom = "e", centFrom = "e", centOffset = 8),
    // composite GC-under-stream: the coded micro-batch deltas union to
    // exactly the incoming stratum and trigger-fold + retire change
    // layout, never content — the final search over the resolved
    // composite equals the batch day-2 composite search (q333's
    // oracle); a GC'd live generation or a vanished shared codebook
    // breaks it
    "q341_stream_ivfpq_retention" -> OracleSql.q329IvfPqSearch(
      cbFrom = "ex"),
    // orphan sweep on a composite root: the sweep deleted NOTHING a
    // committed manifest references, so the post-sweep search over the
    // resolved composite (base ∪ delta under the frozen pair) still
    // equals the inline frozen-pair ADC restatement — a swept live
    // coded generation drops candidates, a swept live codebook leaves
    // codes undecodable; either breaks the compare
    "q342_ivfpq_orphan_sweep" -> OracleSql.q329IvfPqSearch(
      cbFrom = "ex"),
    // q332's certification pointed at the retrained index q340 serves
    // — the go/no-go gate a pipeline runs after every retrain
    "q343_ivfpq_retrain_recall" -> OracleSql.q343RetrainRecall()
  )
}
