package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see SURVEY.md §2 for the operator inventory.
  *
  * Every implemented operator has a `queries` entry; SQL-expressible ones
  * also have a DuckDB `oracleSql` twin with identical column aliases,
  * rounding and ORDER BY (SURVEY.md §6).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(Tables.lineitem(spark, "/root/testdata/sf0.001"))

  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    // §B core relational
    "q1_agg" -> ((s, d) => Relational.q1Agg(Tables.lineitem(s, d))),
    "q3_topk" -> ((s, d) =>
      Relational.q3TopK(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q5_multijoin" -> ((s, d) =>
      Relational.q5MultiJoin(Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d), Tables.supplier(s, d))),
    "window_topk_per_group" -> ((s, d) => Relational.windowTopKPerGroup(Tables.orders(s, d))),
    // correlated-aggregate predicate (TPC-H Q17 class) in decorrelated
    // form: per-part avg computed once, joined back, integer threshold
    // Q18 shape: HAVING on a child aggregate driving the parent join
    // (aggregate-then-join, never re-aggregated per probe)
    "q18_large_orders" -> ((s, d) =>
      LargeOrders.q18LargeOrdersQ(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d))),
    // Q13 shape: per-customer order-count DISTRIBUTION incl. the zero
    // bucket — orders collapsed per custkey, LEFT join from customer,
    // histogram (the outer-join-then-histogram decorrelation)
    "q13_cust_dist" -> ((s, d) =>
      CustDistribution.q13CustDistQ(Tables.customer(s, d), Tables.orders(s, d))),
    // Q22 shape: scalar-aggregate balance threshold (integer cross-
    // multiplied, no division) feeding an anti join on order existence
    "q22_no_order_custs" -> ((s, d) =>
      CustDistribution.q22NoOrderCustsQ(Tables.customer(s, d), Tables.orders(s, d))),
    // Q7 shape: directed nation-pair × ship-year trade matrix; one
    // fact-fact orderkey join, every dim leg broadcast
    "q7_trade_volume" -> ((s, d) =>
      TradeVolume.q7TradeVolumeQ(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    // Q10 shape: returned-item exposure top-K — flag filter pushed to the
    // scan, reduced fact sides joined, TakeOrderedAndProject
    "q10_returned_topk" -> ((s, d) =>
      ReturnedItems.q10ReturnedTopKQ(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d))),
    // Q14 shape: promo share per ship month — dim attribute decides the
    // numerator as a map-side flag on the broadcast join
    "q14_promo_share" -> ((s, d) =>
      PromoShare.q14PromoShareQ(Tables.lineitem(s, d), Tables.part(s, d))),
    // Q19 shape: OR-of-ANDs residual on one hash join (never a nested
    // loop / three scans); per-branch masses
    "q19_disjunctive" -> ((s, d) =>
      DisjunctiveJoin.q19DisjunctiveQ(Tables.lineitem(s, d), Tables.part(s, d))),
    // Q15 shape: max-over-aggregate, decorrelated (1-row max fact joined
    // back); exact-cents max equality, integer-µs ship window
    "q15_top_supplier" -> ((s, d) =>
      TopSupplier.topSupplierQ(Tables.lineitem(s, d), Tables.supplier(s, d))),
    // round 10: the remaining decorrelation classics, adapted to this
    // schema with their plan shapes intact (operators/TpchGaps.scala)
    "q2_min_cost_supplier" -> ((s, d) => TpchGaps.q2MinCostSupplier(
      Tables.lineitem(s, d), Tables.part(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "q8_market_share" -> ((s, d) => TpchGaps.q8MarketShare(
      Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
      Tables.orders(s, d), Tables.lineitem(s, d), Tables.supplier(s, d), Tables.part(s, d))),
    "q9_product_profit" -> ((s, d) => TpchGaps.q9ProductProfit(
      Tables.lineitem(s, d), Tables.orders(s, d), Tables.part(s, d),
      Tables.supplier(s, d), Tables.nation(s, d))),
    "q11_important_parts" -> ((s, d) => TpchGaps.q11ImportantParts(Tables.lineitem(s, d))),
    "q12_ship_delay" -> ((s, d) => TpchGaps.q12ShipDelay(
      Tables.lineitem(s, d), Tables.orders(s, d))),
    "q16_supplier_variety" -> ((s, d) => TpchGaps.q16SupplierVariety(
      Tables.lineitem(s, d), Tables.part(s, d))),
    "q21_sole_delay" -> ((s, d) => TpchGaps.q21SoleDelay(
      Tables.lineitem(s, d), Tables.supplier(s, d))),
    // theta-sampled join-cardinality estimate: sizes lineitem ⋈ orders
    // without executing it (map-side key sample, per-key count frames,
    // HT scale-up — the broadcast-vs-shuffle decision input)
    "join_size_estimate" -> ((s, d) =>
      JoinEstimate.joinSizeEstimateQ(Tables.lineitem(s, d), Tables.orders(s, d))),
    // Q6: the pushdown classic — all three predicates reach the scan
    // (midpoint double literals for the discount band, no round() in
    // the filter); one partial agg, one row out
    "q6_forecast_revenue" -> ((s, d) => TpchGaps.q6ForecastRevenue(Tables.lineitem(s, d))),
    // Q20: nested-subquery classic — strict-majority suppliers per
    // filtered part (window decorrelation; oracle keeps the correlated
    // IN + scalar-subquery form)
    "q20_part_promotion" -> ((s, d) => TpchGaps.q20PartPromotion(
      Tables.lineitem(s, d), Tables.part(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "q17_avg_filter" -> ((s, d) =>
      AvgFilter.q17AvgFilter(Tables.lineitem(s, d), Tables.part(s, d))),
    // join-key skew diagnostic: top-K heaviest keys + hot verdicts —
    // the input that feeds Skew.saltedJoinHot's hot-key list
    "key_skew_report" -> ((s, d) => KeySkew.keySkewReportQ(Tables.lineitem(s, d))),
    // …and its output side: per-hot-key salt factors (the saltedJoinHot
    // input contract; ceiling-div over the shared hot rule)
    "salting_plan" -> ((s, d) => SaltingPlan.saltingPlanQ(Tables.lineitem(s, d))),
    // Bloom pre-filter price list: exact key cardinalities × fpp grid,
    // constants precomputed (no ln in engine expressions)
    "bloom_sizing_report" -> ((s, d) =>
      BloomSizing.bloomSizingReportQ(Tables.lineitem(s, d), Tables.orders(s, d))),
    // arrival-time data-quality profile: per-column rows/nulls/distincts
    // /min/max in ONE scan via inline stack unpivot
    "table_profile" -> ((s, d) => TableProfile.tableProfileQ(Tables.lineitem(s, d))),
    // …and the cross-table audit: orphan counts per FK edge of the star
    // (exact anti joins; lakes have no FK enforcement)
    "ref_integrity" -> ((s, d) => RefIntegrity.refIntegrity(
      Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d),
      Tables.part(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    // …and the mirror direction: parents no child references (childless
    // rate per edge — distinct child keys before the anti join)
    "coverage_audit" -> ((s, d) => CoverageAudit.coverageAudit(
      Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d),
      Tables.part(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    // round 8 (continuation 4): the ANALYZE-stats equi-depth boundary
    // vector (rank-selected exact cents + tie-closed cumulative counts)
    // and the per-column Tukey-fence outlier screen (doubled-integer
    // 1.5*IQR fences, two-pass by the qualitySelect precedent)
    "equidepth_hist" -> ((s, d) => EquidepthHist.equidepthHistQ(Tables.lineitem(s, d))),
    "column_outliers" -> ((s, d) => ColumnOutliers.columnOutliersQ(Tables.lineitem(s, d))),
    // …and the marketing rollup: RFM quartile segmentation of customers
    "rfm_segment" -> ((s, d) => RfmSegment.rfmSegmentQ(Tables.orders(s, d))),
    "rollup_agg" -> ((s, d) => Relational.rollupAgg(Tables.lineitem(s, d))),
    // …and the full 2^3 CUBE sibling: one scan → Expand(8) → one agg
    "cube_agg" -> ((s, d) => CubeAgg.cubeAggQ(Tables.lineitem(s, d))),
    "grouping_sets_agg" -> ((s, d) => GroupingSetsAgg.groupingSetsAggQ(Tables.lineitem(s, d))),
    "partition_plan" -> ((s, d) => PartitionPlan.partitionPlanQ(Tables.documents(s, d))),
    "zipf_check" -> ((s, d) => ZipfCheck.zipfCheckQ(Tables.documents(s, d))),
    // round 8 (continuation 4): TPC-H Q4 shape — correlated cross-table
    // EXISTS decorrelated to a hash semi join with a residual date compare
    "q4_late_exists" -> ((s, d) =>
      LateExists.q4LateExistsQ(Tables.orders(s, d), Tables.lineitem(s, d))),
    // …and the fulfillment-SLA readout: order-to-first-ship latency
    // quantiles per priority (signed-factored day division)
    "ship_latency" -> ((s, d) =>
      ShipLatency.shipLatencyQ(Tables.orders(s, d), Tables.lineitem(s, d))),
    "semi_anti_join" -> ((s, d) =>
      Relational.semiAntiJoin(Tables.customer(s, d), Tables.orders(s, d))),
    "incremental_new_keys" -> ((s, d) =>
      Relational.incrementalNewKeys(Tables.part(s, d), Tables.lineitem(s, d))),
    "json_extract" -> ((s, d) => Relational.jsonExtract(Tables.events(s, d))),
    "streaming_window_agg" -> ((s, d) => Relational.streamingWindowAgg(Tables.events(s, d))),
    // §A signal pipeline
    "csv_ingest" -> ((s, _) => CsvIngest.csvIngestQ(s)),
    // round 7: JSONL document ingest — explicit schema (no inference
    // pass), PERMISSIVE corrupt-line handling, nested-meta flatten
    "jsonl_ingest" -> ((s, _) => JsonlIngest.jsonlIngestQ(s)),
    // ORC round-trip: corpus → on-disk ORC → read-back row identity
    // (the other native columnar format; DuckDB checks vs the parquet)
    "orc_roundtrip" -> ((s, d) => OrcRoundtrip.orcRoundtripQ(Tables.documents(s, d))),
    "bronze_ingest" -> ((s, d) => SignalOps.bronzeIngestQ(Tables.events(s, d))),
    "silver_zscore" -> ((s, d) => SignalOps.silverZscoreQ(Tables.events(s, d))),
    "gold_trial_stats" -> ((s, d) => SignalOps.goldTrialStatsQ(Tables.events(s, d))),
    "gold_epoch_features" -> ((s, d) => SignalOps.goldEpochFeaturesQ(Tables.events(s, d))),
    "hjorth_features" -> ((s, d) => SignalOps.hjorthFeaturesQ(Tables.events(s, d))),
    "qc_report" -> ((s, d) => SignalOps.qcReportQ(Tables.events(s, d))),
    "feature_wide" -> ((s, d) => SignalOps.featureWideQ(Tables.events(s, d))),
    "feature_unpivot" -> ((s, d) => SignalOps.featureUnpivotQ(Tables.events(s, d))),
    "signal_fir_bandpass" -> ((s, d) => SignalOps.firBandpassQ(Tables.events(s, d))),
    // round 10: the reference's cross-modal train/eval (test_train.py:66-113)
    // engine-side — closed-form ridge (exact integer Gram sums, shared-text
    // 3x3 adjugate solve) from trial features to a fixed-gallery embedding,
    // plus the cosine top-1 retrieval readout
    "embedding_regression" -> ((s, d) =>
      EmbeddingRegression.embeddingRegressionQ(Tables.events(s, d))),
    "retrieval_eval" -> ((s, d) =>
      EmbeddingRegression.retrievalEvalQ(Tables.events(s, d))),
    // §C text
    "text_stats" -> ((s, d) => TextOps.textStatsQ(Tables.documents(s, d))),
    "text_quality" -> ((s, d) => TextOps.textQualityQ(Tables.documents(s, d))),
    "lang_id" -> ((s, d) => TextOps.langIdQ(Tables.documents(s, d))),
    "token_count" -> ((s, d) => TextOps.tokenCountQ(Tables.documents(s, d))),
    "doc_fingerprint" -> ((s, d) => TextOps.docFingerprintQ(Tables.documents(s, d))),
    "dedup_exact" -> ((s, d) => TextOps.dedupExactQ(Tables.documents(s, d))),
    // round 8 (continuation 4): where does duplication hide — distinct
    // counts under successive normalization levels, one pass
    "normalization_funnel" -> ((s, d) => NormalizationFunnel.normalizationFunnelQ(Tables.documents(s, d))),
    // round 4: composed quality+lang+dedup admission verdict, one pass +
    // one fingerprint shuffle
    "corpus_filter" -> ((s, d) => TextOps.corpusFilterQ(Tables.documents(s, d))),
    // §C near-dup + similarity
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardQ(Tables.documents(s, d))),
    // τ-dial calibration: pair volume at every candidate cut from ONE
    // pass over the raw pair stream (integer cross-product predicates)
    "dedup_threshold_sweep" -> ((s, d) =>
      ThresholdSweep.dedupThresholdSweepQ(Tables.documents(s, d))),
    // df-banded hybrid twin: identical output (spec-pinned). Cold
    // shingles keep the plain inverted index; hot shingles go through
    // the PPJoin prefix filter restricted to hot-heavy docs — plain-form
    // cost on diffuse corpora, prefix-form win where hot shingles carry
    // Σ df² (the r8 91 s pure-prefix price at gate shape is gone)
    "dedup_prefix" -> ((s, d) => PrefixJoin.hybridJaccardQ(Tables.documents(s, d))),
    // round 10: the hybrid's band dial derived from the observed shingle-df
    // distribution (report + plan in one frame, salting_plan pattern)
    "prefix_band_plan" -> ((s, d) => BandPlan.prefixBandPlanQ(Tables.documents(s, d))),
    // round 14: the minhash S-curve banding advisor (bands×rows of the
    // K=32 signature scored against the corpus's own near-dup pairs)
    "minhash_band_plan" -> ((s, d) =>
      PairIndexStore.minhashBandPlanStoreQ(Tables.documents(s, d))),
    "knn_cosine_brute" -> ((s, d) => Similarity.knnCosineBruteQ(Tables.embeddings(s, d))),
    "knn_mutual" -> ((s, d) => KnnMutual.knnMutualQ(Tables.embeddings(s, d))),
    "knn_mutual_clusters" -> ((s, d) => KnnMutual.knnMutualClustersQ(Tables.embeddings(s, d))),
    // round 14: the sub-quadratic candidate-path twins (hyperplane-bucket
    // candidates + exact rerank; recall-1 width spec-pinned — the #36
    // promotion pattern, sharing the exact operators' oracles)
    // round 14 close: both mutual-LSH queries consume ONE stored pair
    // mine (the pair stage is their whole cost and is deterministic per
    // (content, geometry) — the tau=0 store economics); inline miners
    // kept and spec-pinned row-identical (AnnOracleSpec)
    "knn_mutual_lsh" -> ((s, d) =>
      PairIndexStore.knnMutualLshStoreQ(Tables.embeddings(s, d))),
    "knn_mutual_clusters_lsh" -> ((s, d) =>
      PairIndexStore.knnMutualClustersLshStoreQ(Tables.embeddings(s, d))),
    // round 15: the hyperplane-LSH GEOMETRY advisor (the r14 weak
    // finding closed) — (bits, mp) per family from the corpus count +
    // the sampled k-th-neighbor cosine floor, integer-ppm S-curve
    // certificates (exact-rational p lower bound, no transcendentals),
    // cost model vs brute in milli-rows; recommends BRUTE below the
    // measured crossover (the honest gate-size answer)
    "lsh_geometry_plan" -> ((s, d) =>
      LshGeometryPlan.lshGeometryPlanQ(Tables.embeddings(s, d))),
    // …and its planned consumers (the hybridJaccardPlanned pattern):
    // exact oracles either way — at gate SFs the plan says brute, the
    // LSH arm is spec-pinned on a planted replica corpus and measured
    // at 10x (PERF.md "Round-15: the LSH geometry advisor")
    "knn_mutual_planned" -> ((s, d) =>
      LshGeometryPlan.knnMutualPlannedQ(Tables.embeddings(s, d))),
    "embedding_dedup_planned" -> ((s, d) =>
      LshGeometryPlan.embeddingDedupPlannedQ(Tables.embeddings(s, d))),
    "knn_cosine_planned" -> ((s, d) =>
      LshGeometryPlan.knnCosinePlannedQ(Tables.embeddings(s, d))),
    // round 10: top principal axis via integer power iteration — the
    // iterative fixed point over vectors (pagerank's dims-for-nodes twin)
    "embedding_principal" -> ((s, d) =>
      EmbeddingPrincipal.embeddingPrincipalQ(Tables.embeddings(s, d))),
    "hard_negative_mine" -> ((s, d) => HardNegative.hardNegativesQ(Tables.embeddings(s, d))),
    "embedding_dedup" -> ((s, d) => Similarity.embeddingDedupQ(Tables.embeddings(s, d))),
    // round 8 (closing): the embedding-side incremental admission — batch
    // vectors vs the existing corpus only, the text family's economics
    "embedding_dedup_incremental" -> ((s, d) =>
      Similarity.embeddingDedupIncrementalQ(Tables.embeddings(s, d))),
    // round 14: the bucket-probe twin — corpus index precomputed, batch
    // probes multi-probe keys; completes the incremental matrix cell
    "embedding_dedup_incremental_lsh" -> ((s, d) =>
      Lsh.embeddingDedupIncrementalLshQ(Tables.embeddings(s, d))),
    // round 8: semantic CC — the embedding-side twin of dedup_cluster
    "embedding_cluster" -> ((s, d) =>
      Similarity.embeddingClustersQ(Tables.embeddings(s, d))),
    // round 9: its LSH twin — hyperplane-bucket pair stage (Σ bucket²),
    // same CC; components need connectivity, not every edge, and at the
    // gate probe width the labeling is identical (AnnOracleSpec) so it
    // shares the exact closure oracle (the #38→#39 argument)
    "embedding_cluster_lsh" -> ((s, d) =>
      Similarity.embeddingClustersLshQ(Tables.embeddings(s, d))),
    // round 14: the LAST incremental-matrix cell — semantic LABEL
    // maintenance via the super-vertex merge (#250's argument on the
    // embedding side); shares the FULL clustering's oracle, so the gate
    // proves the merge reproduces the from-scratch labels. Registered
    // form reads yesterday's corpus labels from the fingerprint-keyed
    // store (the #250 ladder) — only the batch-touching pairs mine live
    "embedding_cluster_incremental" -> ((s, d) =>
      PairIndexStore.embeddingClusterIncrementalStoreQ(Tables.embeddings(s, d))),
    // §B event analytics
    "sessionize" -> ((s, d) => Sessionize.sessionizeQ(Tables.events(s, d))),
    // native twin: Catalyst's own SessionWindow node, projected back to
    // the same contract (gap passed verbatim — session_window's inclusive
    // end IS the hand-rolled '> gap' split; spec-pinned identical)
    "sessionize_native" -> ((s, d) => Sessionize.sessionizeNativeQ(Tables.events(s, d))),
    // gap-dial sensitivity: session counts at each candidate gap in ONE
    // window pass (360-min row cross-derives against sessionize by spec)
    "session_gap_sweep" -> ((s, d) =>
      SessionGapSweep.sessionGapSweepQ(Tables.events(s, d))),
    // …per-hour live-session/user load curve (span-to-bucket explode) and
    // the per-user customer-360 lifetime rollup
    "session_concurrency" -> ((s, d) => SessionConcurrency.sessionConcurrencyQ(Tables.events(s, d))),
    "user_ltv" -> ((s, d) => UserLtv.userLtvQ(Tables.events(s, d))),
    // per-type value concentration: top-1%/10% user shares + exact Gini
    // over the ppm-quantized per-user mass distribution
    "concentration_report" -> ((s, d) =>
      Concentration.concentrationReportQ(Tables.events(s, d))),
    // round 8 cont.: strict-sequence conversion funnel (view→click→purchase),
    // chained conditional-min windows over one user_id exchange
    "event_funnel" -> ((s, d) => Funnel.eventFunnelQ(Tables.events(s, d))),
    // …and how LONG each hop takes: per-transition latency quantiles
    // (rank-selected exact µs) over converting users
    "funnel_latency" -> ((s, d) => FunnelLatency.funnelLatencyQ(Tables.events(s, d))),
    // round 8 cont.: robust median/MAD outlier screen (integer half/quarter-
    // cent domain, pure-integer gate), the breakdown-resistant silver twin
    "event_outlier_mad" -> ((s, d) => RobustOutlier.eventOutlierMadQ(Tables.events(s, d))),
    // …and the tail-bounding silver treatment: exact p1/p99 winsorization
    // report per type (clip counts + raw-vs-clamped mass)
    "winsorize" -> ((s, d) => Winsorize.winsorizeQ(Tables.events(s, d))),
    // …and the numeric-drift monitor: per-type TV distance between the
    // value distributions of the stream's two time halves (integer ppm)
    "value_drift" -> ((s, d) => ValueDrift.valueDriftQ(Tables.events(s, d))),
    // round 8 cont.: signup-day cohort retention matrix (integer day algebra,
    // distinct-before-join, conditional-sum rollup)
    "event_retention" -> ((s, d) => Retention.eventRetentionQ(Tables.events(s, d))),
    // …and its value twin: cumulative cohort LTV at the same offsets
    "cohort_ltv" -> ((s, d) => CohortLtv.cohortLtvQ(Tables.events(s, d))),
    // day-over-day DAU ledger: new/retained/resurrected/churned with
    // the balance identity spec-pinned
    "growth_accounting" -> ((s, d) =>
      GrowthAccounting.growthAccountingQ(Tables.events(s, d))),
    // consecutive-day gaps-and-islands: streak-length distribution +
    // personal-best mass
    "activity_streaks" -> ((s, d) =>
      ActivityStreaks.activityStreaksQ(Tables.events(s, d))),
    "zorder_plan" -> ((s, d) => ZOrder.zorderPlanQ(Tables.events(s, d))),
    // …and its consumer: per-probe bucket pruning + scan-waste audit
    // over the zone maps (probes derive from the corpus' own stats)
    "zone_map_prune" -> ((s, d) => ZoneMapPrune.zoneMapPruneQ(Tables.events(s, d))),
    "contribution_cap" -> ((s, d) => ContributionCap.contributionCapQ(Tables.events(s, d))),
    "session_path" -> ((s, d) => SessionPath.sessionPathsQ(Tables.events(s, d))),
    // …and time DENSIFICATION: dense per-(user, day) activity matrix
    // with explicit zero rows for silent days (sequence/generate_series)
    "event_series" -> ((s, d) => EventSeries.eventSeriesQ(Tables.events(s, d))),
    // …and PATH analytics: the empirical first-order Markov transition
    // matrix over per-user streams, with a _start entry state
    "event_transitions" -> ((s, d) => EventTransitions.eventTransitionsQ(Tables.events(s, d))),
    // …and its conformance twin: observed transitions judged against a
    // declared (broadcast data-table) process model
    "transition_conformance" -> ((s, d) => Conformance.transitionConformanceQ(Tables.events(s, d))),
    // …and the densified series' consumer: 7-day RANGE-frame trailing
    // activity + week-over-week delta + churn-risk verdict
    "event_trend" -> ((s, d) => EventTrend.eventTrendQ(Tables.events(s, d))),
    // bucketed interval-containment join (the range-join scale pattern:
    // equi key on (user, time-bucket) + residual filter, no nested loop)
    "interval_join" -> ((s, d) => IntervalJoin.intervalJoinQ(Tables.events(s, d))),
    // exact step-function time integral (plain means are wrong on
    // irregular streams) — the trend family's integral sibling
    "twap" -> ((s, d) => Twap.twapQ(Tables.events(s, d))),
    // weekly-cycle fold: (day-of-week x hour) load matrix in pure
    // integer-µs time math (no engine date functions)
    "event_seasonality" -> ((s, d) => Seasonality.eventSeasonalityQ(Tables.events(s, d))),
    // round 8 cont.: per-trial cross-channel Pearson matrix from exact
    // integer-cents sufficient statistics
    "channel_correlation" -> ((s, d) => ChannelCorr.channelCorrelationQ(Tables.events(s, d))),
    // round 8 (continuation 4): exact DAU + trailing-7-day WAU per day —
    // the inverted-window form of sliding-distinct (no frame-DISTINCT
    // exists); and the dyadic-half-life recency-weighted value score
    "rolling_active_users" -> ((s, d) => RollingActives.rollingActivesQ(Tables.events(s, d))),
    "event_decay_score" -> ((s, d) => DecayScore.eventDecayScoreQ(Tables.events(s, d))),
    // …and the basket view of sessions: unordered event-type pair
    // support/confidence/lift (SessionPath is the ordered twin)
    "assoc_rules" -> ((s, d) => AssocRules.assocRulesQ(Tables.events(s, d))),
    // user-set overlap matrix between types (people, not sessions):
    // distinct-first, catalog-bounded pair generation
    "audience_overlap" -> ((s, d) =>
      AudienceOverlap.audienceOverlapQ(Tables.events(s, d))),
    // …and the cadence readout: power-of-two inter-arrival histogram per
    // type (what calibrates the sessionize gap), plus the ops-monitoring
    // daily spike/drop verdicts vs a trailing integer baseline
    "event_interarrival" -> ((s, d) => Interarrival.eventInterarrivalQ(Tables.events(s, d))),
    // at-least-once delivery repair: content-key dedup verdict per type
    "event_dedup_report" -> ((s, d) => EventDedup.eventDedupReportQ(Tables.events(s, d))),
    // out-of-order audit vs the per-user arrival high-watermark — the
    // watermark-sizing diagnostic behind the streaming twins' contracts
    "late_arrival_audit" -> ((s, d) => LateArrival.lateArrivalAuditQ(Tables.events(s, d))),
    "rate_spike" -> ((s, d) => RateSpike.rateSpikeQ(Tables.events(s, d))),
    // Theil–Sen robust trend: median pairwise slope per type — one
    // data-volume agg, then horizon²-bounded pair/median stages
    "robust_trend" -> ((s, d) => RobustTrend.robustTrendQ(Tables.events(s, d))),
    // exact-integer CUSUM level-shift argmax per type (the step
    // question robust_trend's drift and rate_spike's days leave open)
    "change_point" -> ((s, d) => ChangePoint.changePointQ(Tables.events(s, d))),
    "change_point_2" -> ((s, d) => ChangePoint.changePoint2Q(Tables.events(s, d))),
    "change_point_k" -> ((s, d) => ChangePoint.changePointKQ(Tables.events(s, d))),
    "acf_daily" -> ((s, d) => Acf.acfDailyQ(Tables.events(s, d))),
    // round 14 (late): the pairwise completion of acf — lead/lag
    // cross-correlation between type pairs on the global day clock
    "xcorr_daily" -> ((s, d) => Xcorr.xcorrDailyQ(Tables.events(s, d))),
    // round 14: truncated-kernel integer EWMA — the smoothed level
    // between rate_spike's trailing mean and change_point's shifts
    "ewma_daily" -> ((s, d) => Ewma.ewmaDailyQ(Tables.events(s, d))),
    // …and the ONLINE sequential detector: CUSUM via the exact
    // reflection identity (two chained windows, no recursion) — catches
    // sustained drifts change_point reads retrospectively
    "cusum_alarm" -> ((s, d) => Cusum.cusumAlarmQ(Tables.events(s, d))),
    // …and the classical additive decomposition: per-day trend/seasonal/
    // residual with the exact reconstruction identity x·1000 = t+s+r
    "seasonal_decompose" -> ((s, d) =>
      SeasonalDecompose.seasonalDecomposeQ(Tables.events(s, d))),
    // round 15: the robust gate ON the residual — calendar-violation
    // anomalies a raw daily-count MAD is structurally blind to
    // (spec-pinned on a planted weekend violation)
    "seasonal_anomaly" -> ((s, d) =>
      SeasonalAnomaly.seasonalAnomalyQ(Tables.events(s, d))),
    // round 15: the family's first FORWARD surface — seasonal-naive
    // forecast (last trend level + dow seasonal), the baseline any
    // fancier model must beat
    "seasonal_forecast" -> ((s, d) =>
      SeasonalAnomaly.seasonalForecastQ(Tables.events(s, d))),
    // round 16: the forecast's ACCURACY surface — rolling-origin
    // backtest (re-fit on each prefix, no leak), integer-milli MAE per
    // (type, horizon) + the skill ratio vs the level-only naive
    "forecast_backtest" -> ((s, d) =>
      ForecastBacktest.forecastBacktestQ(Tables.events(s, d))),
    // round 16: the backtest's planned consumer — per type, ship the
    // seasonal model only where its own rolling-origin evidence beats
    // the naive (the advisor→consumer pattern, series edition)
    "forecast_planned" -> ((s, d) =>
      ForecastBacktest.forecastPlannedQ(Tables.events(s, d))),
    // round 17: the forward forecast with UNCERTAINTY — empirical
    // prediction intervals from the backtest's signed rolling-origin
    // residuals, rank-selected 10/90 percentiles per (type, horizon)
    "forecast_interval" -> ((s, d) =>
      ForecastBacktest.forecastIntervalQ(Tables.events(s, d))),
    // round 16: the Hyndman STL strength diagnostics — is a series
    // trend-dominated, calendar-dominated, or noise? exact integer
    // variance stats over the decompose components, one guarded ratio
    "seasonal_strength" -> ((s, d) =>
      SeasonalAnomaly.seasonalStrengthQ(Tables.events(s, d))),
    "event_burstiness" -> ((s, d) => Burstiness.eventBurstinessQ(Tables.events(s, d))),
    "transition_stationary" -> ((s, d) => MarkovStationary.transitionStationaryQ(Tables.events(s, d))),
    "event_gaps" -> ((s, d) => EventGaps.eventGapsQ(Tables.events(s, d))),
    "asof_join" -> ((s, d) => Sessionize.asofJoinQ(Tables.events(s, d))),
    // …and its business twin: last-touch conversion attribution (LOCF
    // carries the touch TYPE; explicit _none channel for cold purchases)
    // …and the U-shaped multi-touch model: 40/20/40 integer credits with
    // EXACT conservation (remainder to the last touch, spec-pinned)
    "attribution_positional" -> ((s, d) =>
      PositionalAttribution.attributionPositionalQ(Tables.events(s, d))),
    "attribution_lasttouch" -> ((s, d) => Attribution.attributionLastTouchQ(Tables.events(s, d))),
    // rows-only operators (engine-specific hashes/models — spec-gated)
    "dedup_minhash_lsh" -> ((s, d) => Lsh.minhashLshQ(Tables.documents(s, d))),
    // duplication TOPOLOGY: degree histogram of the near-dup pair graph
    // (the one-page readout that picks the salting/maxDf dials)
    "dedup_degree" -> ((s, d) => DedupDegree.dedupDegreeQ(Tables.documents(s, d))),
    // triangle census of the same pair graph: degree-ordered orientation
    // (each triangle counted once, out-degree O(√m)); oracle counts via
    // the naive ordered 3-way self-join — agreement proves the identity
    "dedup_triangles" -> ((s, d) => Triangles.dedupTrianglesQ(Tables.documents(s, d))),
    // …attributed to the mixture axis: per-source dup-doc rate with
    // within/cross-source partner split
    "source_dup_rate" -> ((s, d) => SourceDupRate.sourceDupRateQ(Tables.documents(s, d))),
    "dedup_simhash" -> ((s, d) => Lsh.simhashQ(Tables.documents(s, d))),
    // oracled since round 4: multiProbe=MultiProbeGate makes LSH == brute
    // on the gate corpus (AnnOracleSpec), so the brute SQL is its oracle
    "knn_cosine_lsh" -> ((s, d) => Lsh.knnCosineLshQ(Tables.embeddings(s, d))),
    "signal_iir_filtfilt" -> ((s, d) => Iir.iirFiltfiltQ(Tables.events(s, d))),
    "ml_train_predict" -> ((s, d) => MlPipeline.mlTrainPredictQ(Tables.events(s, d))),
    "ml_metrics" -> ((s, d) => MlPipeline.mlMetricsQ(Tables.events(s, d))),
    "multimodal_meta" -> ((s, d) => Multimodal.multimodalMetaQ(Tables.documents(s, d))),
    "multimodal_decode" -> ((s, d) => Multimodal.multimodalDecodeQ(Tables.documents(s, d))),
    // round 8: REAL format-header decode — PNG IHDR + JPEG SOF segment
    // walk as pure byte-arithmetic expressions over committed fixtures,
    // and the RIFF/WAVE chunk-walk sibling for audio
    // magic-byte dispatch in front of the three decoder families:
    // container + media class from prefix bytes alone (O(prefix)/blob)
    "media_sniff" -> ((s, _) => MediaSniff.mediaSniffQ(s)),
    "image_header_decode" -> ((s, _) => ImageHeaders.imageHeaderDecodeQ(s)),
    "audio_header_decode" -> ((s, _) => AudioHeaders.audioHeaderDecodeQ(s)),
    "video_header_decode" -> ((s, _) => VideoHeaders.videoHeaderDecodeQ(s)),
    // round 8: PII detect + redact (emails / IPv4 / phones) — the
    // pre-release scrub pass, over a committed PII-planting fixture
    "pii_redact" -> ((s, _) => PiiRedact.piiRedactQ(s)),
    // release-side privacy audit: quasi-id equivalence-class census,
    // per-stratum below-k rollup (one map-combinable groupBy, no joins)
    "k_anonymity_audit" -> ((s, d) => KAnonymity.kAnonymityAuditQ(Tables.documents(s, d))),
    // beyond the SURVEY §2 inventory: second scale paths for similarity
    "embedding_dedup_lsh" -> ((s, d) => Lsh.embeddingDedupLshQ(Tables.embeddings(s, d))),
    "knn_cosine_ivf" -> ((s, d) => Ivf.knnCosineIvfQ(Tables.embeddings(s, d))),
    "dedup_cluster" -> ((s, d) => Dedup.dedupClustersQ(Tables.documents(s, d))),
    // round 14: incremental CC maintenance — old components merge
    // through batch-touching pairs only; oracle = the FULL clustering
    // (agreement proves the merge reproduces the from-scratch answer)
    "dedup_cluster_incremental" -> ((s, d) =>
      PairIndexStore.dedupClusterIncrementalStoreQ(Tables.documents(s, d))),
    // round 4: the full scale-path dedup pipeline (LSH candidates → verify
    // → CC); same closure oracle, valid because LSH == exact pair set on
    // the gate corpus (spec-pinned)
    "dedup_cluster_lsh" -> ((s, d) => Dedup.dedupClustersLshQ(Tables.documents(s, d))),
    // round 6: per-batch admission against the existing corpus — the
    // incremental form of near-dup dedup (|batch|×df cost, not Σ df²)
    "dedup_incremental" -> ((s, d) => Dedup.dedupIncrementalQ(Tables.documents(s, d))),
    // …and its shipping-scale twin: corpus side as a precomputable LSH
    // bucket index the batch probes (shares the exact form's oracle —
    // spec-pinned row equality on the gate corpus)
    "dedup_incremental_lsh" -> ((s, d) => Dedup.dedupIncrementalLshQ(Tables.documents(s, d))),
    // round 6: leakage-safe train/val/test assignment, keyed on the dedup
    // fingerprint so exact duplicates can never straddle splits
    "corpus_split" -> ((s, d) => TextOps.corpusSplitQ(Tables.documents(s, d))),
    // round 8 (continuation 4): soft dedup — per-member 1/cluster-size
    // sampling weight in ppm (down-weight copies instead of dropping)
    "dedup_weights" -> ((s, d) => DedupWeights.dedupWeightsQ(Tables.documents(s, d))),
    // round 8 cont.: cross-split near-dup leakage audit — Jaccard ≥ τ
    // pairs straddling the split assignment (exact dups can't, near-dups can)
    "split_leakage" -> ((s, d) => SplitLeakage.splitLeakageQ(Tables.documents(s, d))),
    // …and the REPAIR pass the audit feeds: whole near-dup clusters
    // reassigned to their canonical's split (moved rows = the leakage)
    "split_repair" -> ((s, d) => SplitRepair.splitRepairQ(Tables.documents(s, d))),
    // round 8 cont.: corpus-trained bigram-LM likelihood score (CCNet-style
    // model-based quality signal, integer ppm weights)
    "lm_score" -> ((s, d) => LmScore.lmScoreQ(Tables.documents(s, d))),
    // …and WHERE a doc goes bad: worst fixed-token window per doc under
    // the same bigram model (sub-document quality localization)
    "span_quality" -> ((s, d) => SpanQuality.spanQualityQ(Tables.documents(s, d))),
    // round 8 cont.: the deployment form — model trained on the corpus
    // partition, scoring the arriving batch (no self-inflation)
    "lm_score_incremental" -> ((s, d) => LmScore.lmScoreIncrementalQ(Tables.documents(s, d))),
    // round 8 cont.: heuristic-vs-LM filter contingency with a histogram-
    // rank-selected integer quartile threshold
    "filter_agreement" -> ((s, d) => FilterAgreement.filterAgreementQ(Tables.documents(s, d))),
    // round 8 cont.: word-granularity lexicon gate (C4-badwords class) and
    // Flesch-Kincaid readability — both zero-exchange map passes
    "lexicon_score" -> ((s, d) => Lexicon.lexiconScoreQ(Tables.documents(s, d))),
    // …and the data-driven taxonomy sibling: per-doc domain label from a
    // broadcast (topic, word, weight) lexicon table, argmax with ties
    "topic_classify" -> ((s, d) => TopicClassify.topicClassifyQ(Tables.documents(s, d))),
    // declared-vs-predicted language audit: confusion matrix with row
    // ppm shares (oracle nests langIdSql verbatim)
    "lang_confusion" -> ((s, d) => LangConfusion.langConfusionQ(Tables.documents(s, d))),
    // the labeler's readout: measured source x topic mixture matrix
    // (doc counts, token mass, within-source ppm)
    "topic_mix" -> ((s, d) => TopicMix.topicMixQ(Tables.documents(s, d))),
    // …and the cTF-IDF readout: top-K class-characteristic terms per
    // topic by exact-cross-product lift
    "topic_terms" -> ((s, d) => TopicTerms.topicTermsQ(Tables.documents(s, d))),
    "readability" -> ((s, d) => Readability.readabilityQ(Tables.documents(s, d))),
    // round 8 cont.: SemDeDup canonical choice — keep the centroid-closest
    // member of each semantic cluster (rounded rank key)
    "semantic_keep_best" -> ((s, d) => SemanticKeepBest.semanticKeepBestQ(Tables.embeddings(s, d))),
    // round 8 cont.: char-level Simpson collision index (gibberish gate,
    // zero-exchange run-length fold, all-integer)
    "char_diversity" -> ((s, d) => CharDiversity.charDiversityQ(Tables.documents(s, d))),
    // round 8 cont.: exact rank-selected per-source token-length quantiles
    "length_quantiles" -> ((s, d) => LengthQuantiles.lengthQuantilesQ(Tables.documents(s, d))),
    // sampled-quantile sketch twin: fp-hash-θ sample + the same exact
    // rank selection — engine-neutral (sql-oracled, unlike t-digest),
    // 3σ RANK guarantee spec-pinned; the per-source sort shrinks by 1/p
    "quantile_sketch" -> ((s, d) => QuantileSketch.quantileSketchQ(Tables.documents(s, d))),
    // round 10: the heavy-hitters member of the sketch family — per-source
    // top-K terms by document frequency estimated over the θ doc sample
    "freq_sketch" -> ((s, d) => FreqSketch.freqSketchQ(Tables.documents(s, d))),
    // round 10: per-source (quality, length) skyline — one sorted window
    // pass; the oracle keeps the definitional quadratic NOT EXISTS
    "pareto_front" -> ((s, d) => ParetoFront.paretoFrontQ(Tables.documents(s, d))),
    // round 10: weighted PageRank over the shared-shingle source graph —
    // iterative mass propagation, exact-integer recurrence on both engines
    "source_pagerank" -> ((s, d) => SourceRank.sourcePagerankQ(Tables.documents(s, d))),
    // round 10: DLT/Deequ-style declarative data-quality contract —
    // fixed rule set, one scan, exact integer pass rates
    "expectations_report" -> ((s, d) =>
      Expectations.expectationsReportQ(Tables.documents(s, d))),
    // round 8: sub-document dedup — fixed-token-window paragraphs,
    // per-window duplicate-of-earlier verdicts, per-doc dup-fraction gate
    "paragraph_dedup" -> ((s, d) => ParagraphDedup.paragraphDedupQ(Tables.documents(s, d))),
    // round 8: deterministic stratified downsampling (mixture reweighting)
    // and quality-aware canonical choice for near-dup clusters
    "corpus_sample" -> ((s, d) => Sampling.corpusSampleQ(Tables.documents(s, d))),
    "dedup_cluster_keep_best" -> ((s, d) => Dedup.dedupClusterKeepBestQ(Tables.documents(s, d))),
    // …and its per-batch admission twin: batch windows probe the existing
    // corpus's paragraph-fingerprint index (dedup_incremental economics)
    "paragraph_dedup_incremental" -> ((s, d) => ParagraphDedup.paragraphIncrementalQ(Tables.documents(s, d))),
    // round 6 (second half): corpus CURATION — eval-set decontamination
    // (broadcast benchmark n-gram probe), Gopher-style intra-doc repetition
    // gates (pure map pass), stratified quantile quality selection, and
    // deterministic token-budget mixture packing
    "contamination_check" -> ((s, d) => Curation.contaminationCheckQ(Tables.documents(s, d))),
    // round 7: per-doc marginal novelty (dataset-decay / dedup-pressure
    // signal) over the persisted-index two-aggregation shape
    "doc_novelty" -> ((s, d) => Curation.docNoveltyQ(Tables.documents(s, d))),
    "doc_ngram_repetition" -> ((s, d) => Curation.ngramRepetitionQ(Tables.documents(s, d))),
    "quality_select" -> ((s, d) => Curation.qualitySelectQ(Tables.documents(s, d))),
    // …and the rank-fusion sibling: Borda sum of three integer signal
    // ranks per stratum, keep gate on the fused rank (no calibration)
    "quality_ensemble" -> ((s, d) => QualityEnsemble.qualityEnsembleQ(Tables.documents(s, d))),
    // exact-COUNT stratified sampling (the eval-set builder): rank cut
    // on the content-keyed sample key, rank <= per-stratum quota
    "sample_quota" -> ((s, d) => SampleQuota.sampleQuotaQ(Tables.documents(s, d))),
    "token_budget_pack" -> ((s, d) => Curation.tokenBudgetPackQ(Tables.documents(s, d))),
    // round 7: the giant-source scale form of the prefix pack (range
    // partition + per-partition totals + broadcast offsets) — registered
    // like dedup_incremental_lsh: shares the window form's oracle, valid
    // via the spec-pinned row identity at several partition counts
    "token_budget_pack_range" -> ((s, d) => Curation.tokenBudgetPackRangeQ(Tables.documents(s, d))),
    // round 6 (second half, cont.): term salience + per-source health rollup
    "tfidf_topterms" -> ((s, d) => Curation.tfidfTopTermsQ(Tables.documents(s, d))),
    "corpus_report" -> ((s, d) => Curation.corpusReportQ(Tables.documents(s, d))),
    // round 8 (second half): tokenizer-prep vocabulary (unigram+bigram
    // tf/df/rank) and the deterministic training-order shuffle + shard
    // assignment (content-keyed, like corpus_split/corpus_sample)
    "vocab_build" -> ((s, d) => Vocab.vocabBuildQ(Tables.documents(s, d))),
    // round 8: coverage curve over the unigram inventory — the OOV-rate
    // signal that sizes the vocabulary before tokenize_ids commits
    "vocab_coverage" -> ((s, d) => VocabCoverage.vocabCoverageQ(Tables.documents(s, d))),
    // …and the corpus' own growth law: Heaps curve via min-doc-per-term
    // (one pass turns every prefix distinct-count into a conditional)
    "vocab_growth_curve" -> ((s, d) =>
      VocabGrowth.vocabGrowthCurveQ(Tables.documents(s, d))),
    "corpus_shuffle" -> ((s, d) => CorpusShuffle.corpusShuffleQ(Tables.documents(s, d))),
    // round 8 (second half): C4-style line-level cleaning — per-line
    // structural gates + cleaned-text reassembly, over a committed
    // multi-line fixture (corpus tables have no line structure)
    "line_filter" -> ((s, _) => LineFilter.lineFilterQ(s)),
    // …and the URL/domain provenance gate (blocklist + link density),
    // over a committed URL-planting fixture
    "url_domain_filter" -> ((s, _) => UrlFilter.urlDomainFilterQ(s)),
    // …and the per-source token-length histogram (sequence-length
    // planning signal; integer-exact power-of-two buckets)
    "token_histogram" -> ((s, d) => TokenHistogram.tokenHistogramQ(Tables.documents(s, d))),
    // …and training-window formation/provenance: global token offsets
    // over the shuffled order, each doc mapped to the fixed-size context
    // windows it feeds (tokenBudgetPackRange's offset algebra per shard)
    "context_pack" -> ((s, d) => ContextPack.contextPackQ(Tables.documents(s, d))),
    // …and its reverse index: per context window, the contributing docs
    // (the provenance table attribution/memorization audits join against)
    "context_window_docs" -> ((s, d) => ContextPack.contextWindowDocsQ(Tables.documents(s, d))),
    // round 8 (second half): corpus version diff — added/removed/changed/
    // unchanged by content fingerprint, the reprocess-only-the-delta
    // primitive (deterministic synthetic old/new snapshots)
    "corpus_diff" -> ((s, d) => CorpusDiff.corpusDiffQ(Tables.documents(s, d))),
    // …and its distribution-shape sibling: how the unigram distribution
    // moved between versions (new/dropped terms + top ppm movers)
    "vocab_drift" -> ((s, d) => VocabDrift.vocabDriftQ(Tables.documents(s, d))),
    // theta-sketch twin of the snapshot-diff family: fp-prefix-θ sampled
    // distinct content sets, set algebra exact on the samples, estimates
    // integer multiples of 1/p — one sampled pass, mergeable registers
    "distinct_diff_sketch" -> ((s, d) => ThetaDiff.thetaDiffQ(Tables.documents(s, d))),
    // …and the table-shape drift row: per-source profile of both
    // versions side by side (doc/char/lang deltas, full-outer on source)
    "profile_drift" -> ((s, d) => ProfileDrift.profileDriftQ(Tables.documents(s, d))),
    // Delta-semantics stand-ins (no Delta jars offline): MERGE INTO as a
    // key-keyed fingerprint join, VERSION AS OF as a log-window query
    "cdc_apply" -> ((s, d) => Cdc.cdcApplyQ(Tables.documents(s, d))),
    "snapshot_at" -> ((s, d) => Cdc.snapshotAtQ(Tables.documents(s, d))),
    // incremental view maintenance: per-source agg view refreshed by
    // δ(batch) + batch-sized before-image probe — never a base rescan;
    // oracle recomputes the post-batch state directly
    "incremental_view_maintain" -> ((s, d) =>
      Ivm.incrementalViewMaintainQ(Tables.documents(s, d))),
    // …and the maintenance side: what a VACUUM could remove per version
    // under latest-per-key + time-travel-window retention
    "vacuum_plan" -> ((s, d) => VacuumPlan.vacuumPlanQ(Tables.documents(s, d))),
    "scd2_build" -> ((s, d) => Cdc.scd2BuildQ(Tables.documents(s, d))),
    // round 10: the STORAGE protocol itself in the gate — a real on-disk
    // commit-log table built from the corpus (append/replace/checkpoint/
    // restore/optimize), every version's read-at answers oracled directly
    "commitlog_read_at" -> ((s, d) =>
      CommitLogRead.commitLogReadQ(Tables.documents(s, d))),
    // round 10: DESCRIBE HISTORY over the same verb-script table — verbs
    // derived from the LOG's action shapes, row counts from pruned reads
    "commitlog_history" -> ((s, d) =>
      CommitLogRead.commitLogHistoryQ(Tables.documents(s, d))),
    // round 13: the incremental SOURCE + schema evolution in the gate —
    // exactly-once cursor pulls across an ADD COLUMN, old+new writers
    "commitlog_incremental" -> ((s, d) =>
      CommitLogRead.commitLogIncrementalQ(Tables.documents(s, d))),
    // round 14: the NON-widening evolution verbs in the gate — RENAME +
    // DROP COLUMN as copy-on-write + metadata commits, every version
    // read under its own schema
    "commitlog_rename" -> ((s, d) =>
      CommitLogRead.commitLogRenameQ(Tables.documents(s, d))),
    // round 14: FILE-GRANULAR DELETE through the log — only files
    // containing matching rows are rewritten (granularity require'd
    // in-query; values DuckDB-checked)
    "commitlog_delete" -> ((s, d) =>
      CommitLogRead.commitLogDeleteQ(Tables.documents(s, d))),
    // …and UPDATE WHERE ... SET, the last DML verb: same file-granular
    // copy-on-write, SET applied to matching rows only, schema
    // preservation require'd
    "commitlog_update" -> ((s, d) =>
      CommitLogRead.commitLogUpdateQ(Tables.documents(s, d))),
    // …and the ZOrder advisor loop CLOSED: the advisor's own Morton key
    // drives a real clustered OPTIMIZE, the layout claim measured on
    // the actual files (require'd in-query; values DuckDB-checked)
    "commitlog_zorder" -> ((s, d) =>
      CommitLogRead.commitLogZorderQ(Tables.events(s, d))),
    // round 14 (late): retention vacuum with both horizon sides proved
    // on disk — swept files gone, pre-horizon read fails loudly, the
    // retained head survives byte-for-byte (values DuckDB-checked)
    "commitlog_vacuum" -> ((s, d) =>
      CommitLogRead.commitLogVacuumQ(Tables.documents(s, d))),
    // round 15: TIMESTAMP AS OF — commit timestamps recorded IN the
    // action lines, monotonized resolution (the out-of-order commit is
    // part of the script, so the contract itself is DuckDB-checked)
    "commitlog_read_at_ts" -> ((s, d) =>
      CommitLogRead.commitLogReadAtTsQ(Tables.documents(s, d))),
    // round 15: DATA-SKIPPING file stats — per-file min/max committed in
    // the add actions, a selective range read pruned on the ACTUAL file
    // census (require'd in-query, incl. stats folding through a
    // checkpoint); values DuckDB-checked
    "commitlog_skipping" -> ((s, d) =>
      CommitLogRead.commitLogSkippingQ(Tables.documents(s, d))),
    // round 16: TIMESTAMP data skipping — per-file ts min/max as integer
    // epoch-micros in the add actions; a time-band read over the
    // time-clustered events layout prunes on integer compares (census
    // require'd in-query incl. checkpoint folding; values DuckDB-checked)
    "commitlog_skipping_ts" -> ((s, d) =>
      CommitLogRead.commitLogSkippingTsQ(Tables.events(s, d))),
    // round 16: DELETION VECTORS — merge-on-read DELETE: a scattered
    // delete attaches position sidecars instead of rewriting files
    // (zero data files moved, require'd on the actual directory);
    // OPTIMIZE rebases them away (require'd); values DuckDB-checked
    "commitlog_dv" -> ((s, d) =>
      CommitLogRead.commitLogDvQ(Tables.documents(s, d))),
    // round 16: the CHANGE DATA FEED in the gate — derived row-level
    // changes across append/update/DV-delete commits, ops DuckDB-checked
    "commitlog_cdf" -> ((s, d) =>
      CommitLogRead.commitLogCdfQ(Tables.documents(s, d))),
    // round 15: SHALLOW CLONE — zero-copy snapshot fork via external
    // file references (zero data files require'd at clone time), both
    // sides diverging independently; vacuum never touches external refs
    "commitlog_clone" -> ((s, d) =>
      CommitLogRead.commitLogCloneQ(Tables.documents(s, d))),
    // round 17: MERGE-ON-READ UPDATE — matched rows DV'd in place, the
    // updated images appended, one commit; zero data files rewritten
    // (require'd on the actual directory), OPTIMIZE rebases (require'd)
    "commitlog_update_dv" -> ((s, d) =>
      CommitLogRead.commitLogUpdateDvQ(Tables.documents(s, d))),
    // round 17: WRITE-TIME CHECK CONSTRAINTS — add/enforce/drop through
    // the log: existing rows validate on ADD, a violating append is
    // rejected before anything stages (require'd), the drop re-opens
    // the gate; visible row sets DuckDB-checked
    "commitlog_constraint" -> ((s, d) =>
      CommitLogRead.commitLogConstraintQ(Tables.documents(s, d))),
    // round 17: MERGE INTO as a first-class file-granular verb — matched
    // rows take the source image, unmatched insert, one commit; v1's
    // match-free files require'd untouched on disk
    "commitlog_merge" -> ((s, d) =>
      CommitLogRead.commitLogMergeQ(Tables.documents(s, d))),
    // round 17: Hive/Delta partition layout — value-pure files make
    // equality pruning EXACT through the existing stats machinery;
    // census cut + zero-residual + checkpoint stability require'd
    "commitlog_partition" -> ((s, d) =>
      CommitLogRead.commitLogPartitionQ(Tables.documents(s, d))),
    // round 17: GENERATED ALWAYS AS — writers omit the derived column
    // (materialized) or must agree with it (loud reject, require'd);
    // the canonical derived-partition-column use drives exact pruning
    "commitlog_gencol" -> ((s, d) =>
      CommitLogRead.commitLogGencolQ(Tables.documents(s, d))),
    // round 17: OPTIMIZE ... WHERE — the hot partition's small-file
    // debt pays down without touching the cold 99% (both sides
    // require'd on the actual directory)
    "commitlog_optimize_where" -> ((s, d) =>
      CommitLogRead.commitLogOptimizeWhereQ(Tables.documents(s, d))),
    // …and mixture compilation: target per-mille weights + global token
    // budget → per-doc replication plan (full epochs + deterministic
    // partial-pass admission), all-integer
    "mixture_plan" -> ((s, d) => MixturePlan.mixturePlanQ(Tables.documents(s, d))),
    // …and retrieval-side chunking: overlapping fixed-token windows per
    // doc (stride < window), map + inline generator, zero exchanges
    "doc_chunk" -> ((s, d) => DocChunk.docChunkQ(Tables.documents(s, d))),
    // round 8: MOSS winnowing — position-localized overlap fingerprints
    "winnow_fingerprint" -> ((s, d) => Winnow.winnowFingerprintQ(Tables.documents(s, d))),
    // round 8: containment pairs over the winnow index — the clone report
    "winnow_overlap" -> ((s, d) => Winnow.winnowOverlapQ(Tables.documents(s, d))),
    // round 8: aligned match spans — WHERE the shared runs sit (MOSS report)
    "winnow_align" -> ((s, d) => Winnow.winnowAlignQ(Tables.documents(s, d))),
    // …and the dataset-granularity dedup-pressure matrix: exact pairwise
    // cross-source shingle Jaccard over distinct (source, shingle)
    "source_overlap" -> ((s, d) => SourceOverlap.sourceOverlapQ(Tables.documents(s, d))),
    // …and how DIFFERENT each source's language is: exact ppm-domain
    // total-variation distance vs the corpus distribution + top mover
    "source_divergence" -> ((s, d) => SourceDivergence.sourceDivergenceQ(Tables.documents(s, d))),
    // …and the boilerplate audit (top-K cross-doc duplicated windows,
    // TakeOrderedAndProject — no global sort) + the per-shard training
    // manifest (counts, token mass, key range, ordered-id checksum)
    "dup_passages" -> ((s, d) => DupPassages.dupPassagesQ(Tables.documents(s, d))),
    "shard_manifest" -> ((s, d) => ShardManifest.shardManifestQ(Tables.documents(s, d))),
    // …and the OPTIMIZE planner over it: shards → ~equal-mass output
    // file groups (prefix-sum div data-derived target; tiny-frame window)
    "compaction_plan" -> ((s, d) => CompactionPlan.compactionPlanQ(Tables.documents(s, d))),
    // …and vocabulary APPLICATION: every token position mapped to its
    // learned vocab id (UNK=-1) via one broadcast join of the K-row vocab
    "tokenize_ids" -> ((s, d) => TokenizeIds.tokenizeIdsQ(Tables.documents(s, d))),
    // …and its per-source eval: token volume, UNK rate, chars-per-token
    // fertility — the numbers a vocab swap is judged by
    "tokenizer_fertility" -> ((s, d) =>
      TokenizerFertility.tokenizerFertilityQ(Tables.documents(s, d))),
    // round 8 (continuation): maximal duplicate-span merge — adjacent
    // duplicated windows fused into surgical-removal extents (islands)
    "dup_span_merge" -> ((s, d) => DupSpans.dupSpanMergeQ(Tables.documents(s, d))),
    "dedup_substring" -> ((s, d) => SubstringDedup.substringDedupQ(Tables.documents(s, d))),
    "pair_index_delta" -> ((s, d) => Dedup.pairIndexDeltaQ(Tables.documents(s, d))),
    // round 14: the persisted-pair-index twins — each consumes the
    // fingerprint-guarded on-disk τ=0 index (mined once per corpus),
    // row-identical to its inline twin, sharing that twin's oracle; the
    // gate now checks the mine-once-consume-many form a 100 TB
    // deployment actually runs (PairIndexStore)
    "dedup_ngram_jaccard_indexed" -> ((s, d) =>
      PairIndexStore.ngramJaccardIndexedQ(Tables.documents(s, d))),
    "dedup_cluster_indexed" -> ((s, d) =>
      PairIndexStore.dedupClusterIndexedQ(Tables.documents(s, d))),
    "dedup_cluster_keep_best_indexed" -> ((s, d) =>
      PairIndexStore.dedupClusterKeepBestIndexedQ(Tables.documents(s, d))),
    "dedup_threshold_sweep_indexed" -> ((s, d) =>
      PairIndexStore.dedupThresholdSweepIndexedQ(Tables.documents(s, d))),
    "split_leakage_indexed" -> ((s, d) =>
      PairIndexStore.splitLeakageIndexedQ(Tables.documents(s, d))),
    "source_dup_rate_indexed" -> ((s, d) =>
      PairIndexStore.sourceDupRateIndexedQ(Tables.documents(s, d))),
    // round 17: the ASYMMETRIC similarity algebra — containment
    // C = inter/min(n1,n2) catches near-supersets Jaccard is blind to
    // (doc-in-doc embeddings); a pure map over the same τ=0 stats, so
    // the indexed twin rides the persisted mine at zero extra cost
    "dedup_containment" -> ((s, d) =>
      Dedup.containmentQ(Tables.documents(s, d))),
    "dedup_containment_indexed" -> ((s, d) =>
      PairIndexStore.containmentIndexedQ(Tables.documents(s, d))),
    "dedup_containment_incremental" -> ((s, d) =>
      Dedup.containmentIncrementalQ(Tables.documents(s, d))),
    // round 17: boilerplate-FAMILY clusters — CC over the containment
    // graph through the persisted mine (doc-in-doc chains collapse;
    // a Jaccard clustering leaves them singletons, spec-pinned)
    "dedup_containment_clusters" -> ((s, d) =>
      PairIndexStore.containmentClustersIndexedQ(Tables.documents(s, d))),
    // round 17: the indexed-twin family's amortization advisor — exact
    // integer candidate-row cost model from the df histogram; when does
    // the persisted pair index pay for its build?
    "pair_index_plan" -> ((s, d) =>
      PairIndexPlan.pairIndexPlanQ(Tables.documents(s, d))),
    "l_diversity_audit" -> ((s, d) => LDiversity.lDiversityAuditQ(Tables.documents(s, d))),
    "t_closeness_audit" -> ((s, d) => TCloseness.tClosenessAuditQ(Tables.documents(s, d))),
    "substring_clean" -> ((s, d) => SubstringDedup.substringCleanQ(Tables.documents(s, d))),
    "substring_incremental" -> ((s, d) => SubstringDedup.substringIncrementalQ(Tables.documents(s, d))),
    // …and window-granularity language composition: the mixed-document
    // detector the whole-doc lang_id label needs as a trust gate
    "lang_mix" -> ((s, d) => LangMix.langMixQ(Tables.documents(s, d))),
    // …and the removal pass itself: duplicated windows excised, survivors
    // rejoined — verdict side shuffles integer indices only, text is
    // re-windowed map-side on the doc spine
    "paragraph_clean" -> ((s, d) => ParagraphClean.paragraphCleanQ(Tables.documents(s, d))),
    // …and collocation mining: top-K adjacent pairs by PMI, ranked via the
    // monotone lift ratio so both engines stay in exact integer products
    "bigram_pmi" -> ((s, d) => Collocations.bigramPmiQ(Tables.documents(s, d))),
    // round 8 (continuation 4): the word2vec-window sibling — top-K
    // within-±3-token co-occurrence pairs by lift, map-side generation
    "skipgram_cooccur" -> ((s, d) => Skipgram.skipgramCooccurQ(Tables.documents(s, d))),
    // …and the ingestion-side HTML extraction pass (committed fixture —
    // the corpus tables are bare word streams): block removal, tag strip,
    // entity decode, text-mass gate
    "html_clean" -> ((s, _) => HtmlClean.htmlCleanQ(s)),
    // round 8 (continuation 2): ranked document RETRIEVAL — fixed
    // multi-term query scored by quantized-integer tf·idf, top-K cut
    "keyword_search" -> ((s, d) => KeywordSearch.keywordSearchQ(Tables.documents(s, d))),
    // …and the Okapi upgrade: integer-quantized BM25 (tf saturation +
    // length normalization; one shared div-formula text both engines)
    "bm25_rank" -> ((s, d) => Bm25.bm25RankQ(Tables.documents(s, d))),
    // …and canonical-URL resolution: the same-resource-many-spellings
    // rollup (case/utm/fragment/trailing-slash variants, fixture-planted)
    "url_canonicalize" -> ((s, _) => UrlCanon.urlCanonicalizeQ(s)),
    // …and the third dedup-verification metric: character-level
    // Levenshtein similarity over rare-4-gram candidates
    "dedup_editdistance" -> ((s, d) => EditDistance.editDistanceQ(Tables.documents(s, d))),
    // …and semantic outlier scoring: per-label quantized-integer centroid,
    // bottom-K cosine flag (the off-distribution tail, not the dup tail)
    "embedding_outlier" -> ((s, d) => EmbeddingOutlier.embeddingOutliersQ(Tables.embeddings(s, d))),
    // round 8 (continuation 4): the embedding-quality eval — per-label
    // kNN purity over the exact brute neighbor sets (oracle nests them)
    "knn_label_purity" -> ((s, d) => KnnPurity.knnLabelPurityQ(Tables.embeddings(s, d))),
    // …and its change-monitor sibling: per-label centroid cosine between
    // two cohorts (integer-centroid discipline, NULL = vanished label)
    "embedding_drift" -> ((s, d) => EmbeddingDrift.embeddingDriftQ(Tables.embeddings(s, d))),
    // per-label vector-column arrival profile: dims, zero norms, norm²/
    // component ranges (µ-unit extrema, milli-unit corpus sums)
    // int8 PTQ error audit: sign-free integer quantize→dequantize→error
    "embedding_quantize_audit" -> ((s, d) =>
      EmbeddingQuantize.embeddingQuantizeAuditQ(Tables.embeddings(s, d))),
    "embedding_profile" -> ((s, d) =>
      EmbeddingProfile.embeddingProfileQ(Tables.embeddings(s, d))),
    // …and subword tokenizer TRAINING: the BPE merge table learned on the
    // vocabulary-sized word-frequency frame (rows-only — iterative argmax
    // has no SQL twin; BpeTrainSpec pins an independent Scala BPE)
    "bpe_train" -> ((s, d) => BpeTrain.bpeTrainQ(s, Tables.documents(s, d))),
    // …and its deploy side: the committed merge table applied as chained
    // replace() over wrapped symbol strings — per-doc subword fertility
    "bpe_encode" -> ((s, d) => BpeEncode.bpeEncodeQ(Tables.documents(s, d))),
    // …and the per-source distinct inventory (vocabulary richness +
    // duplication factor); exact contract here, HLL twin spec-measured
    "cardinality_report" -> ((s, d) => CardinalityReport.cardinalityReportQ(Tables.documents(s, d))),
    // …and the composed end-to-end recipe: admission gates → window
    // surgery over the admitted set → per-source delivery report, every
    // stage an already-oracled operator (compositional correctness pin)
    "curation_pipeline" -> ((s, d) => Pipeline.curationPipelineQ(Tables.documents(s, d))),
  )

  def oracleSql: Map[String, String] = Map(
    "q1_agg" -> Relational.q1AggSql,
    "q3_topk" -> Relational.q3TopKSql,
    "q5_multijoin" -> Relational.q5MultiJoinSql,
    "window_topk_per_group" -> Relational.windowTopKPerGroupSql,
    "rollup_agg" -> Relational.rollupAggSql,
    "cube_agg" -> CubeAgg.cubeAggSql,
    "grouping_sets_agg" -> GroupingSetsAgg.groupingSetsAggSql,
    "partition_plan" -> PartitionPlan.partitionPlanSql,
    "zipf_check" -> ZipfCheck.zipfCheckSql,
    "semi_anti_join" -> Relational.semiAntiJoinSql,
    "incremental_new_keys" -> Relational.incrementalNewKeysSql,
    "json_extract" -> Relational.jsonExtractSql,
    "streaming_window_agg" -> Relational.streamingWindowAggSql,
    "csv_ingest" -> CsvIngest.csvIngestSql,
    "jsonl_ingest" -> JsonlIngest.jsonlIngestSql,
    "orc_roundtrip" -> OrcRoundtrip.orcRoundtripSql,
    "bronze_ingest" -> SignalOps.bronzeIngestSql,
    "silver_zscore" -> SignalOps.silverZscoreSql,
    "gold_trial_stats" -> SignalOps.goldTrialStatsSql,
    "gold_epoch_features" -> SignalOps.goldEpochFeaturesSql,
    "hjorth_features" -> SignalOps.hjorthFeaturesSql,
    "qc_report" -> SignalOps.qcReportSql,
    "feature_wide" -> SignalOps.featureWideSql,
    "feature_unpivot" -> SignalOps.featureUnpivotSql,
    "signal_fir_bandpass" -> SignalOps.firBandpassSql,
    "embedding_regression" -> EmbeddingRegression.embeddingRegressionSql,
    "retrieval_eval" -> EmbeddingRegression.retrievalEvalSql,
    "text_stats" -> TextOps.textStatsSql,
    "text_quality" -> TextOps.textQualitySql,
    "lang_id" -> TextOps.langIdSql,
    "token_count" -> TextOps.tokenCountSql,
    "doc_fingerprint" -> TextOps.docFingerprintSql,
    "dedup_exact" -> TextOps.dedupExactSql,
    "corpus_filter" -> TextOps.corpusFilterSql,
    "dedup_ngram_jaccard" -> Dedup.ngramJaccardSql,
    "dedup_threshold_sweep" -> ThresholdSweep.dedupThresholdSweepSql,
    "dedup_prefix" -> Dedup.ngramJaccardSql,
    "prefix_band_plan" -> BandPlan.prefixBandPlanSql,
    "minhash_band_plan" -> MinhashBandPlan.minhashBandPlanSql,
    "knn_cosine_brute" -> Similarity.knnCosineBruteSql,
    "knn_mutual" -> KnnMutual.knnMutualSql,
    "knn_mutual_clusters" -> KnnMutual.knnMutualClustersSql,
    // valid at MutualProbeGate — AnnOracleSpec pins full-row equality
    "knn_mutual_lsh" -> KnnMutual.knnMutualSql,
    "knn_mutual_clusters_lsh" -> KnnMutual.knnMutualClustersSql,
    "lsh_geometry_plan" -> LshGeometryPlan.lshGeometryPlanSql,
    "knn_mutual_planned" -> LshGeometryPlan.knnMutualPlannedSql,
    "embedding_dedup_planned" -> LshGeometryPlan.embeddingDedupPlannedSql,
    "knn_cosine_planned" -> LshGeometryPlan.knnCosinePlannedSql,
    "embedding_principal" -> EmbeddingPrincipal.embeddingPrincipalSql,
    "hard_negative_mine" -> HardNegative.hardNegativesSql,
    "embedding_dedup" -> Similarity.embeddingDedupSql,
    "embedding_dedup_incremental" -> Similarity.embeddingDedupIncrementalSql,
    "embedding_dedup_incremental_lsh" -> Lsh.embeddingDedupIncrementalLshSql,
    "embedding_cluster" -> Similarity.embeddingClustersSql,
    "embedding_cluster_lsh" -> Similarity.embeddingClustersSql,
    "embedding_cluster_incremental" -> Similarity.embeddingClustersSql,
    "sessionize" -> Sessionize.sessionizeSql,
    "sessionize_native" -> Sessionize.sessionizeSql,
    "session_gap_sweep" -> SessionGapSweep.sessionGapSweepSql,
    "event_funnel" -> Funnel.eventFunnelSql,
    "funnel_latency" -> FunnelLatency.funnelLatencySql,
    "event_outlier_mad" -> RobustOutlier.eventOutlierMadSql,
    "event_retention" -> Retention.eventRetentionSql,
    "cohort_ltv" -> CohortLtv.cohortLtvSql,
    "growth_accounting" -> GrowthAccounting.growthAccountingSql,
    "activity_streaks" -> ActivityStreaks.activityStreaksSql,
    "zorder_plan" -> ZOrder.zorderPlanSql,
    "zone_map_prune" -> ZoneMapPrune.zoneMapPruneSql,
    "q7_trade_volume" -> TradeVolume.q7TradeVolumeSql,
    "contribution_cap" -> ContributionCap.contributionCapSql,
    "session_path" -> SessionPath.sessionPathSql,
    "event_series" -> EventSeries.eventSeriesSql,
    "event_transitions" -> EventTransitions.eventTransitionsSql,
    "event_trend" -> EventTrend.eventTrendSql,
    "interval_join" -> IntervalJoin.intervalJoinSql,
    "twap" -> Twap.twapSql,
    "event_seasonality" -> Seasonality.eventSeasonalitySql,
    "topic_mix" -> TopicMix.topicMixSql,
    "lang_confusion" -> LangConfusion.langConfusionSql,
    "channel_correlation" -> ChannelCorr.channelCorrelationSql,
    "asof_join" -> Sessionize.asofJoinSql,
    "multimodal_meta" -> Multimodal.multimodalMetaSql,
    "multimodal_decode" -> Multimodal.multimodalDecodeSql,
    "image_header_decode" -> ImageHeaders.imageHeaderDecodeSql,
    "media_sniff" -> MediaSniff.mediaSniffSql,
    "audio_header_decode" -> AudioHeaders.audioHeaderDecodeSql,
    "video_header_decode" -> VideoHeaders.videoHeaderDecodeSql,
    "pii_redact" -> PiiRedact.piiRedactSql,
    "k_anonymity_audit" -> KAnonymity.kAnonymityAuditSql,
    "dedup_minhash_lsh" -> Lsh.minhashLshSql,
    "dedup_degree" -> DedupDegree.dedupDegreeSql,
    "dedup_triangles" -> Triangles.dedupTrianglesSql,
    "source_dup_rate" -> SourceDupRate.sourceDupRateSql,
    "knn_cosine_lsh" -> Lsh.knnCosineLshSql,
    // round 9: promoted — the id-only join-back made the recall-1 probe
    // width economical (116 s → ~6 s at sf0.1), so the exact twin's SQL
    // is now a valid AND affordable oracle (AnnOracleSpec row equality)
    "embedding_dedup_lsh" -> Lsh.embeddingDedupLshSql,
    "dedup_cluster" -> Dedup.dedupClustersSql,
    "dedup_cluster_lsh" -> Dedup.dedupClustersSql,
    "dedup_cluster_incremental" -> Dedup.dedupClustersSql,
    "dedup_incremental" -> Dedup.dedupIncrementalSql,
    "dedup_incremental_lsh" -> Dedup.dedupIncrementalSql,
    "corpus_split" -> TextOps.corpusSplitSql,
    "split_leakage" -> SplitLeakage.splitLeakageSql,
    "lm_score" -> LmScore.lmScoreSql,
    "span_quality" -> SpanQuality.spanQualitySql,
    "lm_score_incremental" -> LmScore.lmScoreIncrementalSql,
    "filter_agreement" -> FilterAgreement.filterAgreementSql,
    "lexicon_score" -> Lexicon.lexiconScoreSql,
    "topic_classify" -> TopicClassify.topicClassifySql,
    "readability" -> Readability.readabilitySql,
    "semantic_keep_best" -> SemanticKeepBest.semanticKeepBestSql,
    "char_diversity" -> CharDiversity.charDiversitySql,
    "length_quantiles" -> LengthQuantiles.lengthQuantilesSql,
    "quantile_sketch" -> QuantileSketch.quantileSketchSql,
    "freq_sketch" -> FreqSketch.freqSketchSql,
    "pareto_front" -> ParetoFront.paretoFrontSql,
    "source_pagerank" -> SourceRank.sourcePagerankSql,
    "expectations_report" -> Expectations.expectationsReportSql,
    "paragraph_dedup" -> ParagraphDedup.paragraphDedupSql,
    "corpus_sample" -> Sampling.corpusSampleSql,
    "dedup_cluster_keep_best" -> Dedup.dedupClusterKeepBestSql,
    "paragraph_dedup_incremental" -> ParagraphDedup.paragraphIncrementalSql,
    "contamination_check" -> Curation.contaminationCheckSql,
    "doc_novelty" -> Curation.docNoveltySql,
    "doc_ngram_repetition" -> Curation.ngramRepetitionSql,
    "quality_select" -> Curation.qualitySelectSql,
    "quality_ensemble" -> QualityEnsemble.qualityEnsembleSql,
    "q10_returned_topk" -> ReturnedItems.q10ReturnedTopKSql,
    "q14_promo_share" -> PromoShare.q14PromoShareSql,
    "q19_disjunctive" -> DisjunctiveJoin.q19DisjunctiveSql,
    "q15_top_supplier" -> TopSupplier.topSupplierSql,
    "q2_min_cost_supplier" -> TpchGaps.q2MinCostSupplierSql,
    "q8_market_share" -> TpchGaps.q8MarketShareSql,
    "q9_product_profit" -> TpchGaps.q9ProductProfitSql,
    "q11_important_parts" -> TpchGaps.q11ImportantPartsSql,
    "q12_ship_delay" -> TpchGaps.q12ShipDelaySql,
    "q16_supplier_variety" -> TpchGaps.q16SupplierVarietySql,
    "q21_sole_delay" -> TpchGaps.q21SoleDelaySql,
    "q6_forecast_revenue" -> TpchGaps.q6ForecastRevenueSql,
    "join_size_estimate" -> JoinEstimate.joinSizeEstimateSql,
    "bm25_rank" -> Bm25.bm25RankSql,
    "q20_part_promotion" -> TpchGaps.q20PartPromotionSql,
    "q18_large_orders" -> LargeOrders.q18LargeOrdersSql,
    "q13_cust_dist" -> CustDistribution.q13CustDistSql,
    "q22_no_order_custs" -> CustDistribution.q22NoOrderCustsSql,
    "q17_avg_filter" -> AvgFilter.q17AvgFilterSql,
    "key_skew_report" -> KeySkew.keySkewReportSql,
    "salting_plan" -> SaltingPlan.saltingPlanSql,
    "bloom_sizing_report" -> BloomSizing.bloomSizingReportSql,
    "table_profile" -> TableProfile.tableProfileSql,
    "ref_integrity" -> RefIntegrity.refIntegritySql,
    "coverage_audit" -> CoverageAudit.coverageAuditSql,
    "sample_quota" -> SampleQuota.sampleQuotaSql,
    "token_budget_pack" -> Curation.tokenBudgetPackSql,
    "token_budget_pack_range" -> Curation.tokenBudgetPackSql,
    "tfidf_topterms" -> Curation.tfidfTopTermsSql,
    "corpus_report" -> Curation.corpusReportSql,
    "vocab_build" -> Vocab.vocabBuildSql,
    "vocab_coverage" -> VocabCoverage.vocabCoverageSql,
    "vocab_growth_curve" -> VocabGrowth.vocabGrowthCurveSql,
    "corpus_shuffle" -> CorpusShuffle.corpusShuffleSql,
    "line_filter" -> LineFilter.lineFilterSql,
    "url_domain_filter" -> UrlFilter.urlDomainFilterSql,
    "token_histogram" -> TokenHistogram.tokenHistogramSql,
    "context_pack" -> ContextPack.contextPackSql,
    "context_window_docs" -> ContextPack.contextWindowDocsSql,
    "corpus_diff" -> CorpusDiff.corpusDiffSql,
    "vocab_drift" -> VocabDrift.vocabDriftSql,
    "distinct_diff_sketch" -> ThetaDiff.thetaDiffSql,
    "cdc_apply" -> Cdc.cdcApplySql,
    "snapshot_at" -> Cdc.snapshotAtSql,
    "incremental_view_maintain" -> Ivm.incrementalViewMaintainSql,
    "vacuum_plan" -> VacuumPlan.vacuumPlanSql,
    "scd2_build" -> Cdc.scd2BuildSql,
    "commitlog_read_at" -> CommitLogRead.commitLogReadSql,
    "commitlog_history" -> CommitLogRead.commitLogHistorySql,
    "commitlog_incremental" -> CommitLogRead.commitLogIncrementalSql,
    "commitlog_rename" -> CommitLogRead.commitLogRenameSql,
    "commitlog_delete" -> CommitLogRead.commitLogDeleteSql,
    "commitlog_update" -> CommitLogRead.commitLogUpdateSql,
    "commitlog_zorder" -> CommitLogRead.commitLogZorderSql,
    "commitlog_vacuum" -> CommitLogRead.commitLogVacuumSql,
    "commitlog_read_at_ts" -> CommitLogRead.commitLogReadAtTsSql,
    "commitlog_skipping" -> CommitLogRead.commitLogSkippingSql,
    "commitlog_skipping_ts" -> CommitLogRead.commitLogSkippingTsSql,
    "commitlog_dv" -> CommitLogRead.commitLogDvSql,
    "commitlog_cdf" -> CommitLogRead.commitLogCdfSql,
    "commitlog_clone" -> CommitLogRead.commitLogCloneSql,
    "commitlog_constraint" -> CommitLogRead.commitLogConstraintSql,
    "commitlog_merge" -> CommitLogRead.commitLogMergeSql,
    "commitlog_partition" -> CommitLogRead.commitLogPartitionSql,
    "commitlog_gencol" -> CommitLogRead.commitLogGencolSql,
    "commitlog_optimize_where" -> CommitLogRead.commitLogOptimizeWhereSql,
    "commitlog_update_dv" -> CommitLogRead.commitLogUpdateDvSql,
    "mixture_plan" -> MixturePlan.mixturePlanSql,
    "doc_chunk" -> DocChunk.docChunkSql,
    "winnow_fingerprint" -> Winnow.winnowFingerprintSql,
    "winnow_overlap" -> Winnow.winnowOverlapSql,
    "winnow_align" -> Winnow.winnowAlignSql,
    "source_overlap" -> SourceOverlap.sourceOverlapSql,
    "source_divergence" -> SourceDivergence.sourceDivergenceSql,
    "dup_passages" -> DupPassages.dupPassagesSql,
    "shard_manifest" -> ShardManifest.shardManifestSql,
    "compaction_plan" -> CompactionPlan.compactionPlanSql,
    "tokenize_ids" -> TokenizeIds.tokenizeIdsSql,
    "tokenizer_fertility" -> TokenizerFertility.tokenizerFertilitySql,
    "dup_span_merge" -> DupSpans.dupSpanMergeSql,
    "dedup_substring" -> SubstringDedup.substringDedupSql,
    "pair_index_delta" -> Dedup.pairIndexDeltaSql,
    // the indexed twins are row-identical to their inline forms by
    // construction (InfraSpec pins it) — same oracles verbatim
    "dedup_ngram_jaccard_indexed" -> Dedup.ngramJaccardSql,
    "dedup_containment" -> Dedup.containmentSql,
    "dedup_containment_indexed" -> Dedup.containmentSql,
    "dedup_containment_incremental" -> Dedup.containmentIncrementalSql,
    "pair_index_plan" -> PairIndexPlan.pairIndexPlanSql,
    "dedup_containment_clusters" -> Dedup.containmentClustersSql,
    "dedup_cluster_indexed" -> Dedup.dedupClustersSql,
    "dedup_cluster_keep_best_indexed" -> Dedup.dedupClusterKeepBestSql,
    "dedup_threshold_sweep_indexed" -> ThresholdSweep.dedupThresholdSweepSql,
    "split_leakage_indexed" -> SplitLeakage.splitLeakageSql,
    "source_dup_rate_indexed" -> SourceDupRate.sourceDupRateSql,
    "l_diversity_audit" -> LDiversity.lDiversityAuditSql,
    "t_closeness_audit" -> TCloseness.tClosenessAuditSql,
    "substring_clean" -> SubstringDedup.substringCleanSql,
    "substring_incremental" -> SubstringDedup.substringIncrementalSql,
    "lang_mix" -> LangMix.langMixSql,
    "paragraph_clean" -> ParagraphClean.paragraphCleanSql,
    "bigram_pmi" -> Collocations.bigramPmiSql,
    "skipgram_cooccur" -> Skipgram.skipgramCooccurSql,
    "rolling_active_users" -> RollingActives.rollingActivesSql,
    "event_decay_score" -> DecayScore.eventDecayScoreSql,
    "assoc_rules" -> AssocRules.assocRulesSql,
    "audience_overlap" -> AudienceOverlap.audienceOverlapSql,
    "event_interarrival" -> Interarrival.eventInterarrivalSql,
    "event_dedup_report" -> EventDedup.eventDedupReportSql,
    "late_arrival_audit" -> LateArrival.lateArrivalAuditSql,
    "rate_spike" -> RateSpike.rateSpikeSql,
    "robust_trend" -> RobustTrend.robustTrendSql,
    "change_point" -> ChangePoint.changePointSql,
    "change_point_2" -> ChangePoint.changePoint2Sql,
    "change_point_k" -> ChangePoint.changePointKSql,
    "acf_daily" -> Acf.acfDailySql,
    "ewma_daily" -> Ewma.ewmaDailySql,
    "cusum_alarm" -> Cusum.cusumAlarmSql,
    "xcorr_daily" -> Xcorr.xcorrDailySql,
    "seasonal_decompose" -> SeasonalDecompose.seasonalDecomposeSql,
    "seasonal_anomaly" -> SeasonalAnomaly.seasonalAnomalySql,
    "seasonal_forecast" -> SeasonalAnomaly.seasonalForecastSql,
    "forecast_backtest" -> ForecastBacktest.forecastBacktestSql,
    "forecast_planned" -> ForecastBacktest.forecastPlannedSql,
    "forecast_interval" -> ForecastBacktest.forecastIntervalSql,
    "seasonal_strength" -> SeasonalAnomaly.seasonalStrengthSql,
    "event_burstiness" -> Burstiness.eventBurstinessSql,
    "transition_stationary" -> MarkovStationary.transitionStationarySql,
    "event_gaps" -> EventGaps.eventGapsSql,
    "dedup_weights" -> DedupWeights.dedupWeightsSql,
    "q4_late_exists" -> LateExists.q4LateExistsSql,
    "equidepth_hist" -> EquidepthHist.equidepthHistSql,
    "rfm_segment" -> RfmSegment.rfmSegmentSql,
    "topic_terms" -> TopicTerms.topicTermsSql,
    "value_drift" -> ValueDrift.valueDriftSql,
    "normalization_funnel" -> NormalizationFunnel.normalizationFunnelSql,
    "ship_latency" -> ShipLatency.shipLatencySql,
    "transition_conformance" -> Conformance.transitionConformanceSql,
    "embedding_drift" -> EmbeddingDrift.embeddingDriftSql,
    "embedding_profile" -> EmbeddingProfile.embeddingProfileSql,
    "embedding_quantize_audit" -> EmbeddingQuantize.embeddingQuantizeAuditSql,
    "concentration_report" -> Concentration.concentrationReportSql,
    "split_repair" -> SplitRepair.splitRepairSql,
    "winsorize" -> Winsorize.winsorizeSql,
    "column_outliers" -> ColumnOutliers.columnOutliersSql,
    "profile_drift" -> ProfileDrift.profileDriftSql,
    "session_concurrency" -> SessionConcurrency.sessionConcurrencySql,
    "user_ltv" -> UserLtv.userLtvSql,
    "knn_label_purity" -> KnnPurity.knnLabelPuritySql,
    "attribution_lasttouch" -> Attribution.attributionLastTouchSql,
    "attribution_positional" -> PositionalAttribution.attributionPositionalSql,
    "html_clean" -> HtmlClean.htmlCleanSql,
    "keyword_search" -> KeywordSearch.keywordSearchSql,
    "url_canonicalize" -> UrlCanon.urlCanonicalizeSql,
    "dedup_editdistance" -> EditDistance.editDistanceSql,
    "embedding_outlier" -> EmbeddingOutlier.embeddingOutliersSql,
    "bpe_encode" -> BpeEncode.bpeEncodeSql,
    "cardinality_report" -> CardinalityReport.cardinalityReportSql,
    "curation_pipeline" -> Pipeline.curationPipelineSql,
  )
}
