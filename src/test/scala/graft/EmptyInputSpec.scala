package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Day-one totality (round 7): every corpus operator must return an EMPTY
  * result — not throw — on an empty input table. A real pipeline hits this
  * constantly (first run of an ingest source, an empty daily partition, a
  * filter that drained a batch), and a driver-side assumption (a head() on
  * stats, a quantizer sample, a non-guarded aggregate) is exactly the kind
  * of bug that only fires in production's empty corner.
  */
class EmptyInputSpec extends AnyFunSuite {
  import SparkTestSession._

  private def emptyDocs: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType),
        StructField("source", StringType),
        StructField("n_chars", LongType))))

  private def emptyEmb: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", StringType))))

  test("document/curation/dedup operators are total on an empty corpus") {
    val d = emptyDocs
    val ops: Seq[(String, DataFrame)] = Seq(
      "text_stats" -> TextOps.textStats(d),
      "text_quality" -> TextOps.textQuality(d),
      "lang_id" -> TextOps.langId(d),
      "token_count" -> TextOps.tokenCount(d),
      "doc_fingerprint" -> TextOps.docFingerprint(d),
      "dedup_exact" -> TextOps.dedupExact(d),
      "corpus_filter" -> TextOps.corpusFilter(d),
      "corpus_split" -> TextOps.corpusSplit(d),
      "ngram_jaccard" -> Dedup.ngramJaccardPairs(d),
      "dedup_containment" -> Dedup.containmentPairs(d),
      "dedup_containment_incremental" -> Dedup.containmentIncremental(d),
      "pair_index_plan" -> PairIndexPlan.pairIndexPlan(d),
      "dedup_containment_clusters" -> Dedup.containmentClusters(d),
      "ngram_jaccard_salted" -> Dedup.ngramJaccardPairs(d, saltCandidates = Some(4)),
      "dedup_clusters" -> Dedup.dedupClusters(d),
      "dedup_cluster_keep_best" -> Dedup.dedupClusterKeepBest(d),
      "corpus_sample" -> Sampling.corpusSample(d),
      "dedup_clusters_lsh" -> Dedup.dedupClustersLsh(d),
      "dedup_incremental" -> Dedup.dedupIncremental(d),
      "dedup_incremental_noBcast" -> Dedup.dedupIncremental(d, broadcastBatch = false),
      "dedup_incremental_lsh" -> Dedup.dedupIncrementalLsh(d),
      // round 9: the df-banded hybrid (both code paths — the empty corpus
      // exercises the no-hot fast path; a banded synthetic would need data)
      "dedup_prefix_hybrid" -> PrefixJoin.hybridJaccardPairs(d),
      "prefix_band_plan" -> BandPlan.prefixBandPlan(d),
      "minhash_band_plan" -> MinhashBandPlan.minhashBandPlan(d),
      "freq_sketch" -> FreqSketch.freqSketch(d),
      "pareto_front" -> ParetoFront.paretoFront(d),
      "source_pagerank" -> SourceRank.sourcePagerank(d),
      // round 10: the commit-log gate query builds a real on-disk table —
      // an all-empty-appends script must still run every verb and answer
      "commitlog_read_at" -> CommitLogRead.commitLogReadQ(d),
      "distinct_diff_sketch" -> ThetaDiff.thetaDiff(d, d),
      "quantile_sketch" -> QuantileSketch.quantileSketch(d),
      "paragraph_dedup" -> ParagraphDedup.paragraphDedup(d),
      "winnow_fingerprint" -> Winnow.winnowFingerprint(d),
      "vocab_coverage" -> VocabCoverage.vocabCoverage(d),
      "winnow_overlap" -> Winnow.winnowOverlap(d),
      "paragraph_dedup_incremental" -> ParagraphDedup.paragraphIncremental(d),
      "minhash_lsh" -> Lsh.minhashLshPairs(d),
      "simhash" -> Lsh.simhashPairs(d),
      "contamination_check" -> Curation.contaminationCheck(d),
      "doc_novelty" -> Curation.docNovelty(d),
      "ngram_repetition" -> Curation.ngramRepetition(d),
      "quality_select" -> Curation.qualitySelect(d),
      "quality_select_window" -> Curation.qualitySelectWindow(d),
      "token_budget_pack" -> Curation.tokenBudgetPack(d),
      "token_budget_pack_range" -> Curation.tokenBudgetPackRange(d),
      "tfidf_topterms" -> Curation.tfidfTopTerms(d),
      "corpus_report" -> Curation.corpusReport(d),
      // round-8 second half: the training-handoff family + per-doc gates
      "vocab_build" -> Vocab.vocabBuild(d),
      "corpus_shuffle" -> CorpusShuffle.corpusShuffle(d),
      "context_pack" -> ContextPack.contextPack(d),
      "context_window_docs" -> ContextPack.contextWindowDocs(d),
      "corpus_diff" -> CorpusDiff.corpusDiff(d, d),
      "mixture_plan" -> MixturePlan.mixturePlan(d),
      "doc_chunk" -> DocChunk.docChunk(d),
      "source_overlap" -> SourceOverlap.sourceOverlap(d),
      "dup_passages" -> DupPassages.dupPassages(d),
      "shard_manifest" -> ShardManifest.shardManifest(d),
      "tokenize_ids" -> TokenizeIds.tokenizeIds(d),
      "token_histogram" -> TokenHistogram.tokenHistogram(d),
      "line_filter" -> LineFilter.lineFilter(d),
      "url_domain_filter" -> UrlFilter.urlDomainFilter(d),
      // round-8 continuation
      "dup_span_merge" -> DupSpans.dupSpanMerge(d),
      "paragraph_clean" -> ParagraphClean.paragraphClean(d),
      "lang_mix" -> LangMix.langMix(d),
      "bigram_pmi" -> Collocations.bigramPmi(d),
      "html_clean" -> HtmlClean.htmlClean(d),
      "split_leakage" -> SplitLeakage.splitLeakage(d),
      "lm_score" -> LmScore.lmScore(d),
      "char_diversity" -> CharDiversity.charDiversity(d),
      "length_quantiles" -> LengthQuantiles.lengthQuantiles(d),
      "filter_agreement" -> FilterAgreement.filterAgreement(d),
      "lexicon_score" -> Lexicon.lexiconScore(d),
      "readability" -> Readability.readability(d),
      // round-8 continuation (3rd session)
      "vocab_drift" -> VocabDrift.vocabDrift(d, d),
      "source_divergence" -> SourceDivergence.sourceDivergence(d),
      "topic_classify" -> TopicClassify.topicClassify(d),
      "quality_ensemble" -> QualityEnsemble.qualityEnsemble(d),
      "sample_quota" -> SampleQuota.sampleQuota(d),
      "lang_confusion" -> LangConfusion.langConfusion(d),
      "cdc_apply" -> Cdc.cdcApply(d, Cdc.changeBatch(d)),
      "snapshot_at" -> Cdc.snapshotAt(Cdc.changeLog(d), Cdc.AsOfVersion),
      "span_quality" -> SpanQuality.spanQuality(d),
      "dedup_degree" -> DedupDegree.dedupDegree(d),
      "topic_mix" -> TopicMix.topicMix(d),
      // round-8 continuation (4th session)
      "skipgram_cooccur" -> Skipgram.skipgramCooccur(d),
      "dedup_weights" -> DedupWeights.dedupWeights(d),
      "profile_drift" -> ProfileDrift.profileDrift(d),
      // round-8 continuation (5th session)
      "tokenizer_fertility" -> TokenizerFertility.tokenizerFertility(d),
      "dedup_threshold_sweep" -> ThresholdSweep.dedupThresholdSweep(d),
      "vocab_growth_curve" -> VocabGrowth.vocabGrowthCurve(d),
      "source_dup_rate" -> SourceDupRate.sourceDupRate(d),
      "vacuum_plan" -> VacuumPlan.vacuumPlan(Cdc.changeLog(d)),
      // round 10 (closing session); dedup_triangles and join_size_estimate
      // emit 1-row summaries on empty input by design — their own specs
      // pin the all-zero row, so they are not in this n==0 list
      "incremental_view_maintain" -> Ivm.incrementalViewMaintainQ(d),
      "bm25_rank" -> Bm25.bm25Rank(d),
      "k_anonymity_audit" -> KAnonymity.kAnonymityAudit(d),
      "orc_roundtrip" -> OrcRoundtrip.orcRoundtripQ(d),
      // round 12
      "dedup_substring" -> SubstringDedup.substringDedup(d),
      "substring_clean" -> SubstringDedup.substringClean(d),
      "substring_incremental" -> SubstringDedup.substringIncremental(d),
      "pair_index_delta" -> Dedup.pairIndexDelta(d),
      "l_diversity_audit" -> LDiversity.lDiversityAudit(d),
      "t_closeness_audit" -> TCloseness.tClosenessAudit(d),
      "partition_plan" -> PartitionPlan.partitionPlan(d),
      "zipf_check" -> ZipfCheck.zipfCheck(d),
      "acf_daily" -> Acf.acfDaily(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("event_type", StringType),
            StructField("ts", TimestampType))))),
      "ewma_daily" -> Ewma.ewmaDaily(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("event_type", StringType),
            StructField("ts", TimestampType))))),
      "transition_stationary" -> MarkovStationary.transitionStationary(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("user_id", LongType),
            StructField("event_id", LongType),
            StructField("event_type", StringType),
            StructField("ts", TimestampType))))),
      "event_burstiness" -> Burstiness.eventBurstiness(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("event_type", StringType),
            StructField("ts", TimestampType))))),
      "event_gaps" -> EventGaps.eventGaps(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("event_type", StringType),
            StructField("ts", TimestampType))))),
      "change_point_k" -> ChangePoint.changePointK(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("event_type", StringType),
            StructField("ts", TimestampType))))),
      "change_point_2" -> ChangePoint.changePoint2(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("event_type", StringType),
            StructField("ts", TimestampType))))),
      "pair_index" -> Dedup.pairIndex(d),
      "threshold_sweep_from_index" ->
        ThresholdSweep.dedupThresholdSweepFromIndex(Dedup.pairIndex(d)),
      // round 14: the store-backed twins (indexFor serves an empty mine
      // directly — the no-store day-one path) + the rename/drop script
      "dedup_ngram_jaccard_indexed" -> PairIndexStore.ngramJaccardIndexedQ(d),
      "dedup_cluster_indexed" -> PairIndexStore.dedupClusterIndexedQ(d),
      "dedup_threshold_sweep_indexed" -> PairIndexStore.dedupThresholdSweepIndexedQ(d),
      "split_leakage_indexed" -> PairIndexStore.splitLeakageIndexedQ(d),
      "commitlog_rename" -> CommitLogRead.commitLogRenameQ(d),
      "commitlog_delete" -> CommitLogRead.commitLogDeleteQ(d),
      "commitlog_update" -> CommitLogRead.commitLogUpdateQ(d),
      "commitlog_vacuum" -> CommitLogRead.commitLogVacuumQ(d),
      // round 15: timestamp resolution, data skipping, and the clone
      // fork all run their scripts on zero-row appends
      "commitlog_read_at_ts" -> CommitLogRead.commitLogReadAtTsQ(d),
      "commitlog_skipping" -> CommitLogRead.commitLogSkippingQ(d),
      "commitlog_clone" -> CommitLogRead.commitLogCloneQ(d),
      // round 17: the constraint script short-circuits on a day-one
      // corpus (nothing to validate, nothing to reject), and the DV
      // update has nothing to match
      "commitlog_constraint" -> CommitLogRead.commitLogConstraintQ(d),
      "commitlog_update_dv" -> CommitLogRead.commitLogUpdateDvQ(d),
      "commitlog_zorder" -> CommitLogRead.commitLogZorderQ(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("user_id", LongType),
            StructField("ts", TimestampType))))),
      "cusum_alarm" -> Cusum.cusumAlarm(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("event_type", StringType),
            StructField("ts", TimestampType))))),
      "seasonal_decompose" -> SeasonalDecompose.seasonalDecompose(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("event_type", StringType),
            StructField("ts", TimestampType))))),
      "seasonal_anomaly" -> SeasonalAnomaly.seasonalAnomaly(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("event_type", StringType),
            StructField("ts", TimestampType))))),
      "seasonal_forecast" -> SeasonalAnomaly.seasonalForecast(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("event_type", StringType),
            StructField("ts", TimestampType))))),
      "xcorr_daily" -> Xcorr.xcorrDaily(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("event_type", StringType),
            StructField("ts", TimestampType))))),
      "forecast_backtest" -> ForecastBacktest.forecastBacktest(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("event_type", StringType),
            StructField("ts", TimestampType))))),
      "forecast_planned" -> ForecastBacktest.forecastPlanned(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("event_type", StringType),
            StructField("ts", TimestampType))))),
      "forecast_interval" -> ForecastBacktest.forecastInterval(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("event_type", StringType),
            StructField("ts", TimestampType))))),
      "seasonal_strength" -> SeasonalAnomaly.seasonalStrength(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("event_type", StringType),
            StructField("ts", TimestampType))))))
    ops.foreach { case (name, df) =>
      val n = try df.count() catch {
        case e: Throwable => fail(s"$name threw on empty corpus: $e")
      }
      assert(n == 0, s"$name returned $n rows on an empty corpus")
    }
  }

  test("header decoders are total on an empty binaries frame") {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("file", StringType),
        StructField("content", BinaryType),
        StructField("byte_len", LongType))))
    val ops: Seq[(String, DataFrame)] = Seq(
      "image_header_decode" -> ImageHeaders.decodeHeaders(empty),
      "audio_header_decode" -> AudioHeaders.decodeAudioHeaders(empty),
      "video_header_decode" -> VideoHeaders.decodeVideoHeaders(empty))
    ops.foreach { case (name, df) =>
      val n = try df.count() catch {
        case e: Throwable => fail(s"$name threw on empty binaries: $e")
      }
      assert(n == 0, s"$name returned $n rows on empty binaries")
    }
  }

  test("event-stream operators are total on an empty events frame") {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType))))
    val ops: Seq[(String, DataFrame)] = Seq(
      "event_funnel" -> Funnel.eventFunnel(empty),
      "event_outlier_mad" -> RobustOutlier.eventOutlierMad(empty),
      "event_retention" -> Retention.eventRetention(empty),
      "channel_correlation" -> ChannelCorr.channelCorrelation(empty),
      // round-8 continuation (3rd session)
      "event_series" -> EventSeries.eventSeries(empty),
      "event_transitions" -> EventTransitions.eventTransitions(empty),
      "event_trend" -> EventTrend.eventTrend(EventSeries.eventSeries(empty)),
      "twap" -> Twap.twap(empty),
      "interval_join" -> IntervalJoin.intervalJoin(empty),
      // round-8 continuation (4th session)
      "rolling_active_users" -> RollingActives.rollingActives(empty),
      "event_decay_score" -> DecayScore.eventDecayScore(empty),
      "assoc_rules" -> AssocRules.assocRules(empty),
      "event_interarrival" -> Interarrival.eventInterarrival(empty),
      "rate_spike" -> RateSpike.rateSpike(empty),
      "robust_trend" -> RobustTrend.robustTrend(empty),
      "change_point" -> ChangePoint.changePoint(empty),
      "session_concurrency" -> SessionConcurrency.sessionConcurrency(empty),
      "user_ltv" -> UserLtv.userLtv(empty),
      "attribution_lasttouch" -> Attribution.attributionLastTouch(empty),
      // round-8 continuation (5th session)
      "concentration_report" -> Concentration.concentrationReport(empty),
      "zone_map_prune" -> ZoneMapPrune.zoneMapPrune(empty),
      "session_gap_sweep" -> SessionGapSweep.sessionGapSweep(empty),
      "cohort_ltv" -> CohortLtv.cohortLtv(empty),
      "event_dedup_report" -> EventDedup.eventDedupReport(empty),
      "late_arrival_audit" -> LateArrival.lateArrivalAudit(empty),
      "growth_accounting" -> GrowthAccounting.growthAccounting(empty),
      "activity_streaks" -> ActivityStreaks.activityStreaks(empty),
      "audience_overlap" -> AudienceOverlap.audienceOverlap(empty),
      "attribution_positional" -> PositionalAttribution.attributionPositional(empty))
    ops.foreach { case (name, df) =>
      val n = try df.count() catch {
        case e: Throwable => fail(s"$name threw on empty events: $e")
      }
      assert(n == 0, s"$name returned $n rows on empty events")
    }
  }

  test("profiling/relational round-8c4 operators are total on empty tables") {
    val emptyLineitem = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType),
        StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType),
        StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType),
        StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampType))))
    val emptyOrders = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType),
        StructField("o_orderpriority", StringType))))
    val ops: Seq[(String, DataFrame)] = Seq(
      "equidepth_hist" -> EquidepthHist.equidepthHist(emptyLineitem),
      "equidepth_hist_range" -> EquidepthHist.equidepthHistRange(emptyLineitem),
      "column_outliers" -> ColumnOutliers.columnOutliers(emptyLineitem),
      "q4_late_exists" -> LateExists.q4LateExists(emptyOrders, emptyLineitem),
      // round-8 continuation (5th session)
      "q15_top_supplier" -> TopSupplier.topSupplier(emptyLineitem,
        Tables.supplier(spark, sf)),
      "cube_agg" -> CubeAgg.cubeAgg(emptyLineitem),
      "grouping_sets_agg" -> GroupingSetsAgg.groupingSetsAgg(emptyLineitem),
      "q18_large_orders" -> LargeOrders.q18LargeOrders(emptyLineitem,
        emptyOrders, Tables.customer(spark, sf)),
      "salting_plan" -> SaltingPlan.saltingPlan(emptyLineitem,
        org.apache.spark.sql.functions.col("l_orderkey")))
    ops.foreach { case (name, df) =>
      val n = try df.count() catch {
        case e: Throwable => fail(s"$name threw on empty input: $e")
      }
      assert(n == 0, s"$name returned $n rows on empty input")
    }
  }

  test("embedding operators are total on an empty table") {
    val e = emptyEmb
    val ops: Seq[(String, DataFrame)] = Seq(
      "knn_cosine_brute" -> Similarity.knnCosineBrute(e),
      "knn_mutual" -> KnnMutual.knnMutual(e),
      "knn_mutual_clusters" -> KnnMutual.knnMutualClusters(e),
      "knn_mutual_lsh" -> KnnMutual.knnMutualLsh(e),
      "knn_mutual_clusters_lsh" -> KnnMutual.knnMutualClustersLsh(e),
      "knn_mutual_lsh_store" -> PairIndexStore.knnMutualLshStoreQ(e),
      "knn_mutual_clusters_lsh_store" ->
        PairIndexStore.knnMutualClustersLshStoreQ(e),
      // round 15: the geometry advisor emits ZERO arms on an empty corpus
      // (nothing to advise) and both planned consumers fall back to the
      // exact operators through the no-recommendation path
      "lsh_geometry_plan" -> LshGeometryPlan.lshGeometryPlanQ(e),
      "knn_mutual_planned" -> LshGeometryPlan.knnMutualPlannedQ(e),
      "embedding_dedup_planned" -> LshGeometryPlan.embeddingDedupPlannedQ(e),
      "knn_cosine_planned" -> LshGeometryPlan.knnCosinePlannedQ(e),
      "embedding_dedup" -> Similarity.embeddingDedup(e),
      "embedding_dedup_incremental" -> Similarity.embeddingDedupIncremental(e),
      "embedding_dedup_incremental_lsh" ->
        graft.operators.Lsh.embeddingDedupIncrementalLsh(e),
      "embedding_cluster" -> Similarity.embeddingClusters(e),
      "embedding_cluster_incremental" -> Similarity.embeddingClustersIncremental(e),
      "embedding_cluster_incremental_store" ->
        PairIndexStore.embeddingClusterIncrementalStoreQ(e),
      // round 9
      "embedding_cluster_lsh" -> Similarity.embeddingClustersLsh(e),
      "semantic_keep_best" -> SemanticKeepBest.semanticKeepBest(e),
      "knn_cosine_lsh" -> Lsh.knnCosineLsh(e),
      "embedding_dedup_lsh" -> Lsh.embeddingDedupLsh(e),
      // the driver-side quantizer yields zero centroids on an empty corpus
      // (a NON-empty corpus smaller than k stays a loud config error)
      "knn_cosine_ivf" -> Ivf.knnCosineIvf(e),
      // round-8 continuation (4th session)
      "knn_label_purity" -> KnnPurity.knnLabelPurity(e),
      // round-8 continuation (5th session)
      "embedding_profile" -> EmbeddingProfile.embeddingProfile(e),
      "embedding_principal" -> EmbeddingPrincipal.embeddingPrincipal(e),
      "embedding_quantize_audit" -> EmbeddingQuantize.embeddingQuantizeAudit(e))
    ops.foreach { case (name, df) =>
      val n = try df.count() catch {
        case ex: Throwable => fail(s"$name threw on empty embeddings: $ex")
      }
      assert(n == 0, s"$name returned $n rows on empty embeddings")
    }
  }
}
