package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.etl.{Combine, Format}
import graft.serve.{CohortQueries, FinanceQueries, LensQueries, MoreQueries}
import graft.functions.{Sentiment, TextFunctions}
import graft.operators.{AsOfJoin, Dedup, Forecast, Multimodal, Sessionize, Similarity}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY §2 is a named entry in `registry`: a DataFrame
  * program plus (when SQL-expressible) the equivalent DuckDB oracle SQL over
  * the same parquet tables. Column names are aliased identically on both
  * sides (the driver's compare sorts columns by name before hashing).
  *
  * Determinism rules used throughout:
  *  - aggregated/derived doubles are `round(_, 6)` on both sides (FP
  *    summation order differs between engines);
  *  - temporal outputs are rendered as strings with matching patterns
  *    (`date_format` ↔ `strftime`);
  *  - every top-k/limit query carries a total-order tiebreak.
  */
object SparkEntry {

  type Q = (SparkSession, String) => DataFrame

  /** (name, query, oracle SQL — None ⇒ driver does a rows-only check). */
  private val registry: Seq[(String, Q, Option[String])] = Seq(
    // §3.2 flagship: scan+agg+2 left joins+derived arithmetic+projection
    ("q_flagship_enriched", Combine.enrichedOrders _, Some(Combine.enrichedOrdersSql)),
    // §2.4 aggregations
    ("q_agg_multi", LensQueries.aggMulti _, Some(LensQueries.aggMultiSql)),
    ("q_date_histogram_avg", LensQueries.dateHistogramAvg _, Some(LensQueries.dateHistogramAvgSql)),
    ("q_count_by_label", LensQueries.countByLabel _, Some(LensQueries.countByLabelSql)),
    ("q_date_histogram_auto", LensQueries.dateHistogramAuto _, Some(LensQueries.dateHistogramAutoSql)),
    ("q_min_by_group", LensQueries.minByGroup _, Some(LensQueries.minByGroupSql)),
    ("q_cardinality", LensQueries.cardinality _, Some(LensQueries.cardinalitySql)),
    // r15: registered form is the verified frame (exact distinct + 3σ
    // certification) — hash-oracled; raw estimates stay HllSpec-pinned
    ("q_cardinality_approx", LensQueries.cardinalityApproxVerified _,
      Some(LensQueries.cardinalityApproxVerifiedSql)),
    // r15: verified frame for graft's own sketch (exact + 3σ flag)
    ("q_cardinality_hll", LensQueries.cardinalityHllVerified _,
      Some(LensQueries.cardinalityHllVerifiedSql)),
    // §2.3 joins
    ("q_join_dims", LensQueries.joinDims _, Some(LensQueries.joinDimsSql)),
    ("q_join_fact_agg", LensQueries.joinFactAgg _, Some(LensQueries.joinFactAggSql)),
    // §2.2 filters/projections
    ("q_filter_range_project", LensQueries.filterRangeProject _, Some(LensQueries.filterRangeProjectSql)),
    ("q_project_cast", LensQueries.projectCast _, Some(LensQueries.projectCastSql)),
    // §2.5 windows
    ("q_last_value_per_key", LensQueries.lastValuePerKey _, Some(LensQueries.lastValuePerKeySql)),
    ("q_differences_daily", LensQueries.differencesDaily _, Some(LensQueries.differencesDailySql)),
    ("q_pct_change_daily", LensQueries.pctChangeDaily _, Some(LensQueries.pctChangeDailySql)),
    // the Detail_cours dashboard read path composed end-to-end: drill-down
    // filter → date_histogram → last_value → differences → pct-change
    ("q_lens_dashboard",
      ((s: SparkSession, d: String) => LensQueries.lensDashboard(s, d)): Q,
      Some(LensQueries.lensDashboardSql)),
    ("q_tail_n_per_key", LensQueries.tailNPerKey _, Some(LensQueries.tailNPerKeySql)),
    // same semantics, bounded-heap physics (map-side combinable aggregate) —
    // verified against the identical window oracle
    ("q_tail_n_heap",
      ((s: SparkSession, d: String) => graft.operators.TopK.tailKHeap(s, d)): Q,
      Some(LensQueries.tailNPerKeySql)),
    // §2.6 sorts / top-k
    ("q_topk_by_metric", LensQueries.topKByMetric _, Some(LensQueries.topKByMetricSql)),
    ("q_terms_other_bucket", LensQueries.termsOtherBucket _, Some(LensQueries.termsOtherBucketSql)),
    ("q_sort_latest", LensQueries.sortLatest _, Some(LensQueries.sortLatestSql)),
    // §2.7 set ops
    ("q_union_labeled", LensQueries.unionLabeled _, Some(LensQueries.unionLabeledSql)),
    ("q_distinct_pairs", LensQueries.distinctPairs _, Some(LensQueries.distinctPairsSql)),
    // §2.5 W1 date histogram with empty-bucket padding
    ("q_date_spine_padded", LensQueries.dateSpinePadded _, Some(LensQueries.dateSpinePaddedSql)),
    // §2.8 scalar functions
    ("q_case_threshold_label", LensQueries.caseThresholdLabel _, Some(LensQueries.caseThresholdLabelSql)),
    ("q_scalar_datetime", LensQueries.scalarDatetime _, Some(LensQueries.scalarDatetimeSql)),
    ("q_business_days", LensQueries.businessDays _, Some(LensQueries.businessDaysSql)),
    // batch 2: wide agg battery, nested terms, join variants, windows
    ("q_agg_battery", MoreQueries.aggBattery _, Some(MoreQueries.aggBatterySql)),
    ("q_nested_terms", MoreQueries.nestedTerms _, Some(MoreQueries.nestedTermsSql)),
    ("q_semi_anti_join", MoreQueries.semiAntiJoin _, Some(MoreQueries.semiAntiJoinSql)),
    ("q_recent_window_avg", MoreQueries.recentWindowAvg _, Some(MoreQueries.recentWindowAvgSql)),
    ("q_month_ranges", MoreQueries.monthRanges _, Some(MoreQueries.monthRangesSql)),
    ("q_ranked_within_group", MoreQueries.rankedWithinGroup _, Some(MoreQueries.rankedWithinGroupSql)),
    ("q_exists_null_fill", MoreQueries.existsNullFill _, Some(MoreQueries.existsNullFillSql)),
    ("q_unix_roundtrip", MoreQueries.unixRoundtrip _, Some(MoreQueries.unixRoundtripSql)),
    ("q_revenue_per_nation", MoreQueries.revenuePerNation _, Some(MoreQueries.revenuePerNationSql)),
    ("q_sql_api", MoreQueries.sqlApiQuery _, Some(MoreQueries.sqlApiQuerySql)),
    ("q_rollup_battery", MoreQueries.rollupBattery _, Some(MoreQueries.rollupBatterySql)),
    ("q_cube_battery", MoreQueries.cubeBattery _, Some(MoreQueries.cubeBatterySql)),
    ("q_percentiles", MoreQueries.percentilesQuery _, Some(MoreQueries.percentilesQuerySql)),
    // r15: verified frame (exact percentiles + GK rank-error flags)
    ("q_percentiles_approx", graft.operators.Invariants.percentileApproxVerified _,
      Some(graft.operators.Invariants.percentileApproxVerifiedSql)),
    ("q_pivot_daily", MoreQueries.pivotDaily _, Some(MoreQueries.pivotDailySql)),
    ("q_range_join", graft.operators.RangeJoin.eventsInSessions _,
      Some(graft.operators.RangeJoin.eventsInSessionsSql)),
    // same operator written DECLARATIVELY — the BinnedRangeJoinRule
    // optimizer rule turns the would-be nested-loop into a binned hash join
    ("q_range_join_auto", graft.operators.RangeJoin.eventsInDayWindows _,
      Some(graft.operators.RangeJoin.eventsInDayWindowsSql)),
    ("q_bpe_token_count", TextFunctions.bpeCountQuery _, Some(TextFunctions.bpeCountQuerySql)),
    // custom whole-operator semantics: as-of join + sessionization
    ("q_asof_join", AsOfJoin.asofQuery _, Some(AsOfJoin.asofQuerySql)),
    // identical semantics through the custom physical operator
    // (AsOfJoinPlan → AsOfJoinStrategy → AsOfJoinExec) — same ASOF oracle
    ("q_asof_native", AsOfJoin.asofQueryNative _, Some(AsOfJoin.asofQuerySql)),
    // forward direction — DuckDB ASOF on negated time is the oracle
    ("q_asof_forward", AsOfJoin.asofQueryForward _, Some(AsOfJoin.asofQueryForwardSql)),
    ("q_sessionize", Sessionize.sessions _, Some(Sessionize.sessionsSql)),
    // sessions → autoregressive (input, target) next-event training pairs
    ("q_session_pairs", Sessionize.trainingPairs _, Some(Sessionize.trainingPairsSql)),
    // first-order Markov P(next|prev) over the within-session pairs —
    // the baseline model the training pairs feed
    ("q_transition_matrix", Sessionize.transitionMatrix _,
      Some(Sessionize.transitionMatrixSql)),
    // ANALYZE-style one-pass column profiler (exact distincts; Scaladoc
    // documents the approx_count_distinct swap that kills the Expand at
    // 100 TB)
    ("q_profile_table",
      ((s: SparkSession, d: String) => graft.operators.Profile.profileLineitem(s, d)): Q,
      Some(graft.operators.Profile.profileLineitemSql)),
    // the 100 TB swap made executable: HLL++ distincts, Expand-free plan
    // (ProfileSpec pins no-Expand on the raw sketch frame + the 3σ
    // bracket). Since r16 the REGISTERED form is the verified frame —
    // exact columns re-derived by the oracle, the sketch certified by a
    // genuinely-computed 3σ flag (the q_cardinality_approx pattern)
    ("q_profile_table_approx",
      ((s: SparkSession, d: String) => graft.operators.Profile.profileLineitemApproxVerified(s, d)): Q,
      Some(graft.operators.Profile.profileLineitemApproxVerifiedSql)),
    // text analysis (LLM-pipeline operators)
    ("q_quality_metrics", TextFunctions.qualityQuery _, Some(TextFunctions.qualityQuerySql)),
    ("q_redact_pii", TextFunctions.redactQuery _, Some(TextFunctions.redactQuerySql)),
    ("q_repetition_metrics", TextFunctions.repetitionQuery _, Some(TextFunctions.repetitionQuerySql)),
    ("q_mixture_weights", graft.operators.Curation.mixtureWeights _,
      Some(graft.operators.Curation.mixtureWeightsSql)),
    // temperature-scaled (τ=0.5) char-mass mixture — the tail-upsampling
    // rebalance rule; boost = per-source duplication factor
    ("q_mixture_temperature",
      ((s: SparkSession, d: String) => graft.operators.Curation.mixtureTemperature(s, d)): Q,
      Some(graft.operators.Curation.mixtureTemperatureSql())),
    // DSIR importance resampling (Xie et al. 2023): hashed-n-gram LM ratio
    // weights against a target corpus, deterministic top-fraction selection
    ("q_dsir_weights",
      ((s: SparkSession, d: String) => graft.operators.Curation.dsirWeights(s, d)): Q,
      Some(graft.operators.Curation.dsirWeightsSql())),
    ("q_token_stats", TextFunctions.tokenStatsQuery _, Some(TextFunctions.tokenStatsQuerySql)),
    // per-source type-token ratio + Guiraud index — the boilerplate signal
    ("q_lex_diversity", TextFunctions.lexicalDiversity _,
      Some(TextFunctions.lexicalDiversitySql)),
    // Flesch reading-ease gate per language (vowel-group syllable proxy)
    ("q_readability", TextFunctions.readability _,
      Some(TextFunctions.readabilitySql)),
    // shuffle-key skew pre-flight audit (max share, p99, skew factor)
    ("q_key_skew", graft.operators.Profile.keySkew _,
      Some(graft.operators.Profile.keySkewSql)),
    // RefinedWeb-style source/domain gating: rank sources by quality − dup rate
    ("q_source_reputation",
      ((s: SparkSession, d: String) => graft.operators.Curation.sourceReputation(s, d)): Q,
      Some(graft.operators.Curation.sourceReputationSql())),
    ("q_lang_id", TextFunctions.langIdQuery _, Some(TextFunctions.langIdQuerySql)),
    // perplexity-proxy LM filter (char-bigram model, decimal-exact sums)
    ("q_lm_score", graft.operators.LmScore.bigramScores _,
      Some(graft.operators.LmScore.bigramScoresSql)),
    // token-trigram stupid-backoff LM (Brants et al. 2007) — the KenLM-shaped
    // quality filter: count-cutoff pruned model, backoff chain, decimal-exact
    // per-doc means; all three legs fully hash-oracled
    ("q_ngram_lm_score", graft.operators.NgramLm.scoreQuery _,
      Some(graft.operators.NgramLm.scoreQuerySql)),
    ("q_ngram_lm_model", graft.operators.NgramLm.modelQuery _,
      Some(graft.operators.NgramLm.modelQuerySql)),
    // scoring against the PERSISTED count tables (TxTable) — stored ≡
    // inline proven by carrying the IDENTICAL oracle
    ("q_ngram_lm_stored", graft.operators.NgramLm.scoreStoredQuery _,
      Some(graft.operators.NgramLm.scoreQuerySql)),
    ("q_ngram_lm_gate", graft.operators.NgramLm.gateQuery _,
      Some(graft.operators.NgramLm.gateQuerySql)),
    // curriculum-learning prep composed on the LM scores: exact type-1
    // quartile cuts from a bounded distinct-score CDF (never a per-doc
    // window), easy→hard bucket plan fully oracled
    ("q_curriculum_plan", graft.operators.Curation.curriculumPlan _,
      Some(graft.operators.Curation.curriculumPlanSql)),
    ("q_fingerprint", TextFunctions.fingerprintQuery _,
      Some(TextFunctions.fingerprintQuerySql)),
    ("q_winnow_fingerprint", TextFunctions.winnowQuery _,
      Some(TextFunctions.winnowQuerySql)),
    // sentiment (UD1/UD2)
    ("q_sentiment", Sentiment.sentimentQuery _, Some(Sentiment.sentimentQuerySql)),
    ("q_sentiment_distribution", Sentiment.sentimentDistributionQuery _,
      Some(Sentiment.sentimentDistributionQuerySql)),
    // corpus curation (composed pipeline + tf-idf reporting)
    ("q_dedup_clusters", graft.operators.Curation.dupClusters _,
      Some(graft.operators.Curation.dupClustersSql)),
    ("q_corpus_curate",
      ((s: SparkSession, d: String) => graft.operators.Curation.curate(s, d)): Q,
      Some(graft.operators.Curation.curateSql)),
    ("q_keyword_search",
      ((s: SparkSession, d: String) => TextFunctions.keywordSearch(s, d)): Q,
      Some(TextFunctions.keywordSearchSql())),
    ("q_text_search_scored",
      ((s: SparkSession, d: String) => TextFunctions.textSearchScored(s, d)): Q,
      Some(TextFunctions.textSearchScoredSql())),
    // ES text-mapping analyzer chain: stop words + Porter stemming
    ("q_search_analyzed",
      ((s: SparkSession, d: String) => graft.functions.Analyzer.searchAnalyzed(s, d)): Q,
      Some(graft.functions.Analyzer.searchAnalyzedSql())),
    ("q_porter_stems", graft.functions.Analyzer.porterExamplesQuery _,
      Some(graft.functions.Analyzer.porterExamplesSql)),
    ("q_modality_agreement", graft.operators.Curation.modalityAgreement _,
      Some(graft.operators.Curation.modalityAgreementSql)),
    ("q_modality_agreement_lsh", graft.operators.Curation.modalityAgreementLsh _,
      Some(graft.operators.Curation.modalityAgreementLshSql)),
    ("q_split_assign", graft.operators.Curation.splitAssign(_, _, 42),
      Some(graft.operators.Curation.splitAssignSql())),
    ("q_split_summary", graft.operators.Curation.splitSummary _,
      Some(graft.operators.Curation.splitSummarySql())),
    // statistical-invariant twins: the approx/hash-dependent operators
    // rephrased as the bound their guarantee promises → hash-oracle-checkable
    ("q_split_bounds", graft.operators.Invariants.splitBounds _,
      Some(graft.operators.Invariants.splitBoundsSql)),
    ("q_cardinality_bounds", graft.operators.Invariants.cardinalityBounds _,
      Some(graft.operators.Invariants.cardinalityBoundsSql)),
    ("q_percentile_bounds", graft.operators.Invariants.percentileBounds _,
      Some(graft.operators.Invariants.percentileBoundsSql)),
    ("q_ivf_train_monotone", graft.operators.Invariants.ivfTrainMonotone _,
      Some(graft.operators.Invariants.ivfTrainMonotoneSql())),
    ("q_forecast_bounds", graft.operators.Invariants.forecastBounds _,
      Some(graft.operators.Invariants.forecastBoundsSql)),
    ("q_minhash_recall", graft.operators.Invariants.minhashRecall _,
      Some(graft.operators.Invariants.minhashRecallSql)),
    ("q_minhash_precision", graft.operators.Invariants.minhashPrecision _,
      Some(graft.operators.Invariants.minhashPrecisionSql)),
    ("q_incremental_consistency", graft.operators.Invariants.incrementalConsistency _,
      Some(graft.operators.Invariants.incrementalConsistencySql)),
    ("q_cluster_invariants", graft.operators.Invariants.clusterInvariants _,
      Some(graft.operators.Invariants.clusterInvariantsSql)),
    ("q_curate_invariants", graft.operators.Invariants.curateInvariants _,
      Some(graft.operators.Invariants.curateInvariantsSql)),
    ("q_mg_guarantee",
      ((s: SparkSession, d: String) => graft.operators.Sketches.mgGuarantee(s, d)): Q,
      Some(graft.operators.Sketches.mgGuaranteeSql())),
    // count-min point queries (the third sketch: HLL distinct, MG heavy,
    // CMS how-often) — estimates rows-only, the guarantee twin oracled
    // r15: verified frame (exact counts + both CMS certifications)
    ("q_cms_estimates",
      ((s: SparkSession, d: String) => graft.operators.Sketches.cmsVerified(s, d)): Q,
      Some(graft.operators.Sketches.cmsVerifiedSql())),
    ("q_cms_guarantee",
      ((s: SparkSession, d: String) => graft.operators.Sketches.cmsGuarantee(s, d)): Q,
      Some(graft.operators.Sketches.cmsGuaranteeSql())),
    // AMS sign-sketch join-size estimation (the fourth sketch: how big is
    // this JOIN) — estimates rows-only next to their exact twin; the
    // guarantee leg (exact size SQL-re-derived, CMS never-undercount, AMS
    // 8σ/√width band) hash-oracled
    // r15: the estimate+guarantee collapse — one oracled frame carrying
    // input cardinalities, the exact size, and both sketch certifications
    ("q_join_estimate",
      ((s: SparkSession, d: String) => graft.operators.Sketches.joinEstimateVerified(s, d)): Q,
      Some(graft.operators.Sketches.joinEstimateVerifiedSql)),
    ("q_join_estimate_guarantee",
      ((s: SparkSession, d: String) => graft.operators.Sketches.joinEstimateGuarantee(s, d)): Q,
      Some(graft.operators.Sketches.joinEstimateGuaranteeSql)),
    // model-based quality gate (CCNet/LLaMA/DCLM-style learned filter):
    // distributed logistic GD over the oracled hashed-text embeddings with
    // teacher labels from the oracled quality rule — stats and the scored
    // gate rows-only, the descent-lemma convergence invariant oracled
    ("q_quality_train",
      ((s: SparkSession, d: String) => graft.operators.Classifier.qualityTrain(s, d)): Q, None),
    ("q_quality_train_monotone", graft.operators.Invariants.qualityTrainMonotone _,
      Some(graft.operators.Invariants.qualityTrainMonotoneSql())),
    // r18: verified-frame oracle (the q_ann_pq_trained / q_format_combine
    // precedent) — the gate publishes its trained 65-double vector and the
    // oracle re-derives every sigmoid score + keep bit + teacher bit in
    // DuckDB over the bit-exact hashed features; only the GD loop itself
    // stays declared (q_quality_train, bracketed by _monotone)
    ("q_quality_gate",
      ((s: SparkSession, d: String) => graft.operators.Classifier.qualityGate(s, d)): Q,
      Some(graft.operators.Classifier.qualityGateOracleSql("full"))),
    // the production split: train on the oracled stratified quarter (60
    // passes = the full-batch row-touch budget), score corpus-wide —
    // same verified-frame oracle over the sampled-trained weights
    ("q_quality_gate_sampled",
      ((s: SparkSession, d: String) => graft.operators.Classifier.qualityGateSampled(s, d)): Q,
      Some(graft.operators.Classifier.qualityGateOracleSql("sampled"))),
    ("q_pack_bounds",
      ((s: SparkSession, d: String) => graft.operators.Packing.packBounds(s, d)): Q,
      Some(graft.operators.Packing.packBoundsSql)),
    // exact-allocation stratified sampling: full-strength count oracle
    ("q_stratified_sample",
      ((s: SparkSession, d: String) => graft.operators.Sampling.stratifiedSummary(s, d)): Q,
      Some(graft.operators.Sampling.stratifiedSummarySql())),
    // the mega-stratum two-phase form — quantile-bracketed exact refine,
    // identical membership, so the IDENTICAL summary oracle proves it
    ("q_stratified_twophase",
      ((s: SparkSession, d: String) => graft.operators.Sampling.stratifiedSummaryTwoPhase(s, d)): Q,
      Some(graft.operators.Sampling.stratifiedSummarySql())),
    // cluster-BALANCED sampling (topic debias for data mixing): equal
    // per-embedding-cluster budgets — membership rows-only, the allocation
    // oracled with the clusters themselves re-derived in SQL
    // r15: membership itself is hash-oracled (portable rank hash; the
    // oracle re-derives clusters AND the per-cluster k-smallest set)
    ("q_cluster_sample",
      ((s: SparkSession, d: String) => graft.operators.Sampling.clusterBalancedSample(s, d)): Q,
      Some(graft.operators.Sampling.clusterBalancedSampleSql())),
    ("q_cluster_sample_summary",
      ((s: SparkSession, d: String) => graft.operators.Sampling.clusterBalancedSummary(s, d)): Q,
      Some(graft.operators.Sampling.clusterBalancedSummarySql())),
    // budget-capped per-LANGUAGE sampling (metadata strata — eval-set
    // draws and mixture caps): same bounded-heap kernel, fully-oracled
    // allocation; the streaming twin (StreamSample) is pinned streamed ≡
    // batch row-for-row against this sampler
    ("q_budget_sample",
      ((s: SparkSession, d: String) => graft.operators.Sampling.budgetSample(s, d)): Q,
      Some(graft.operators.Sampling.budgetSampleSql())),
    ("q_budget_sample_summary",
      ((s: SparkSession, d: String) => graft.operators.Sampling.budgetSampleSummary(s, d)): Q,
      Some(graft.operators.Sampling.budgetSampleSummarySql())),
    // Efraimidis-Spirakis weighted sampling without replacement — the only
    // sampler with MEMBERSHIP fully hash-oracled (portable polynomial hash
    // → identical u^(1/w) ranks in DuckDB); share audit oracled too
    ("q_weighted_sample",
      ((s: SparkSession, d: String) => graft.operators.Sampling.weightedSample(s, d)): Q,
      Some(graft.operators.Sampling.weightedSampleSql())),
    ("q_weighted_share",
      ((s: SparkSession, d: String) => graft.operators.Sampling.weightedShare(s, d)): Q,
      Some(graft.operators.Sampling.weightedShareSql())),
    // one-pass embedding QA: z-scored cosine to own label centroid —
    // decimal-exact moments, so mean/sd/z hash-oracle exactly
    ("q_embed_outliers",
      ((s: SparkSession, d: String) => Similarity.centroidOutliers(s, d)): Q,
      Some(Similarity.centroidOutliersSql())),
    ("q_embed_outlier_stats",
      ((s: SparkSession, d: String) => Similarity.centroidOutlierStats(s, d)): Q,
      Some(Similarity.centroidOutlierStatsSql())),
    // RAG passage retrieval composed end-to-end (chunk → embed → cosine
    // top-k → provenance), every stage re-derived by the oracle
    ("q_rag_retrieve",
      ((s: SparkSession, d: String) => graft.operators.Rag.ragRetrieve(s, d)): Q,
      Some(graft.operators.Rag.ragRetrieveSql())),
    // retrieval against the TxTable-PERSISTED chunk index (writeChunkIndex,
    // incremental appendChunkIndex keyed chunk_id) — stored ≡ inline proven
    // by carrying the IDENTICAL oracle
    ("q_rag_retrieve_stored",
      ((s: SparkSession, d: String) => graft.operators.Rag.ragRetrieveStored(s, d)): Q,
      Some(graft.operators.Rag.ragRetrieveSql())),
    // MMR diversity re-rank over the same retrieval: greedy λ·rel −
    // (1−λ)·max-sim-to-chosen on the top-20 pool, oracled by unrolling
    // the greedy as chained CTE steps
    ("q_rag_mmr",
      ((s: SparkSession, d: String) => graft.operators.Rag.mmrRetrieve(s, d)): Q,
      Some(graft.operators.Rag.mmrRetrieveSql())),
    // standing pool-cap exposure audit: a negative bound_gap names the
    // query where the top-20 pool could have cost MMR quality
    ("q_mmr_pool_exposure",
      ((s: SparkSession, d: String) => graft.operators.Rag.mmrPoolExposure(s, d)): Q,
      Some(graft.operators.Rag.mmrPoolExposureSql())),
    // codegen'd Morton key, recomputed bit-by-bit by the oracle
    ("q_zorder_values", graft.operators.Layout.zorderValues _,
      Some(graft.operators.Layout.zorderValuesSql)),
    // seeded training-order shuffle + token-budget shard assignment: the
    // global prefix sum done as bucketed two-phase (no one-task window);
    // the oracle recomputes the permutation and running total globally
    ("q_corpus_shuffle",
      ((s: SparkSession, d: String) => graft.operators.Layout.shuffleShards(s, d)): Q,
      Some(graft.operators.Layout.shuffleShardsSql())),
    // the growing-lake form: frozen prefix (even ids) keeps its original
    // assignment bit-for-bit, the new batch appends at the next shard
    // boundary — old shard files are never reopened
    ("q_corpus_shuffle_incremental",
      ((s: SparkSession, d: String) => graft.operators.Layout.shuffleShardsIncremental(s, d)): Q,
      Some(graft.operators.Layout.shuffleShardsIncrementalSql())),
    // bloom-prefiltered semi join — output is the exact semi join
    ("q_bloom_semi_join",
      ((s: SparkSession, d: String) => graft.operators.Pruning.bloomSemiJoin(s, d)): Q,
      Some(graft.operators.Pruning.bloomSemiJoinSql())),
    // r15: exact-Jaccard pair source + portable-hash splits ⇒ the whole
    // straddle audit is SQL-re-derivable
    ("q_split_contamination", graft.operators.Curation.splitContamination(_, _, 42),
      Some(graft.operators.Curation.splitContaminationSql(42))),
    // the composed flagship: source gate → exact dedup → quality gate →
    // decontamination, reported as a verified funnel
    ("q_curation_pipeline",
      ((s: SparkSession, d: String) => graft.operators.Curation.curationPipeline(s, d)): Q,
      Some(graft.operators.Curation.curationPipelineSql())),
    // token-budget epoch plan over the kept sources (sampling rates + epochs)
    ("q_epoch_plan",
      ((s: SparkSession, d: String) => graft.operators.Curation.epochPlan(s, d)): Q,
      Some(graft.operators.Curation.epochPlanSql())),
    // GPT-3-style benchmark decontamination: word-13-gram overlap vs eval splits
    ("q_decontaminate",
      ((s: SparkSession, d: String) => graft.operators.Curation.decontaminate(s, d)): Q,
      Some(graft.operators.Curation.decontaminateSql())),
    // the embedding-space twin (paraphrase leakage): train docs probed by
    // the EVAL suite through the shared IVF layout — worst eval neighbor
    // + hit count per flagged train doc, hash-oracled end to end
    ("q_decontaminate_semantic",
      ((s: SparkSession, d: String) => graft.operators.Curation.decontaminateSemantic(s, d)): Q,
      Some(graft.operators.Curation.decontaminateSemanticSql())),
    // BPE vocabulary training (Sennrich et al. 2016): merges trained on the
    // word-frequency table; r17: the WHOLE 20-round merge loop is replayed
    // by the oracle as an unrolled chained CTE (argmax + greedy merge per
    // stage), upgrading train from rows-only to full rank/pair/count hashes
    ("q_bpe_train",
      ((s: SparkSession, d: String) => graft.operators.BpeTrain.train(s, d)): Q,
      Some(graft.operators.BpeTrain.trainSql())),
    ("q_bpe_first_merge",
      ((s: SparkSession, d: String) => graft.operators.BpeTrain.firstMerge(s, d)): Q,
      Some(graft.operators.BpeTrain.firstMergeSql)),
    // BPE APPLICATION (the tokenize step): per-doc real token bill under the
    // trained merge table — broadcast merges, zero-shuffle row-local encode
    // r17: fully oracled — DuckDB re-derives every doc's token stream from
    // the training replay (train's final word states ARE the corpus encode)
    ("q_bpe_encode",
      ((s: SparkSession, d: String) => graft.operators.BpeEncode.encodeQuery(s, d)): Q,
      Some(graft.operators.BpeEncode.encodeSql())),
    // hash-oracled roundtrip twin: the encoded stream re-assembles to the
    // normalized text byte-for-byte (DuckDB recomputes the md5 from raw text)
    ("q_bpe_encode_roundtrip",
      ((s: SparkSession, d: String) => graft.operators.BpeEncode.roundtripQuery(s, d)): Q,
      Some(graft.operators.BpeEncode.roundtripSql)),
    // sliding token-window chunking with tail anchoring (context-window prep)
    ("q_chunk_documents",
      ((s: SparkSession, d: String) => graft.operators.Packing.chunkDocuments(s, d)): Q,
      Some(graft.operators.Packing.chunkDocumentsSql())),
    // the same chunk kernel on the REAL BPE token bill — r17: fully oracled
    // (the replayed encode's token stream through the shared chunk SQL tail)
    ("q_chunk_bpe",
      ((s: SparkSession, d: String) => graft.operators.Packing.chunkDocumentsBpe(s, d)): Q,
      Some(graft.operators.Packing.chunkDocumentsBpeSql())),
    ("q_pack_sequences",
      ((s: SparkSession, d: String) => graft.operators.Packing.packContiguous(s, d)): Q,
      Some(graft.operators.Packing.packContiguousSql())),
    ("q_pack_nextfit",
      ((s: SparkSession, d: String) => graft.operators.Packing.packNextFit(s, d)): Q,
      Some(graft.operators.Packing.packNextFitSql())),
    // quartile length bucketing + per-bucket padding-waste audit
    ("q_length_buckets", graft.operators.Packing.lengthBuckets _,
      Some(graft.operators.Packing.lengthBucketsSql)),
    // r15: verified frame (MG candidates exact-recounted, ranked) —
    // an MG summary missing a guaranteed-heavy term loses a row ⇒ mismatch
    ("q_heavy_hitters",
      ((s: SparkSession, d: String) => graft.operators.Sketches.heavyTermsVerified(s, d)): Q,
      Some(graft.operators.Sketches.heavyTermsVerifiedSql())),
    ("q_heavy_hitters_exact",
      ((s: SparkSession, d: String) => graft.operators.Sketches.heavyTermsExact(s, d)): Q,
      Some(graft.operators.Sketches.heavyTermsExactSql())),
    ("q_tfidf_top_terms",
      ((s: SparkSession, d: String) => graft.operators.Curation.tfidfTopTerms(s, d)): Q,
      Some(graft.operators.Curation.tfidfTopTermsSql)),
    // dedup family
    ("q_dedup_exact", Dedup.exact _, Some(Dedup.exactSql)),
    ("q_dedup_minhash", Dedup.minhashSummary _, Some(Dedup.minhashSummarySql)),
    ("q_dedup_minhash_pairs", Dedup.minhashNearDups _, Some(Dedup.minhashPairsSql)),
    ("q_dedup_simhash", Dedup.simhashSummary _, Some(Dedup.simhashSummarySql)),
    ("q_simhash_pairs",
      ((s: SparkSession, d: String) => Dedup.simhashNearDups(s, d)): Q,
      Some(Dedup.simhashNearDupsSql)),
    ("q_dedup_incremental", Dedup.minhashNearDupsIncremental _, Some(Dedup.minhashIncrementalSql)),
    ("q_dedup_ngram_jaccard",
      ((s: SparkSession, d: String) => Dedup.ngramJaccardPairs(s, d)): Q,
      Some(Dedup.ngramJaccardPairsSql)),
    // the df-cap recall trade quantified per doc ("no silent caps"): which
    // docs could even be part of a threshold pair the capped index misses
    ("q_ngram_cap_exposure",
      ((s: SparkSession, d: String) => Dedup.ngramCapExposure(s, d)): Q,
      Some(Dedup.ngramCapExposureSql())),
    // CC over the EXACT Jaccard pair graph: the hash-oracled pin of the
    // label-propagation kernel q_dedup_clusters runs on the LSH graph
    // (recursive-CTE transitive closure on the oracle side)
    ("q_dedup_components", graft.operators.Curation.jaccardComponents _,
      Some(graft.operators.Curation.jaccardComponentsSql)),
    // soft dedup: weight 1/|component| instead of dropping — inherits the
    // oracled component assignment
    ("q_dedup_soft_weights", graft.operators.Curation.softDedupWeights _,
      Some(graft.operators.Curation.softDedupWeightsSql)),
    // RefinedWeb-style per-source quota: ≤ cap docs per source, best
    // quality first, via the bounded-heap top-k (sources are the classic
    // mega-stratum — never a per-source window sort)
    ("q_domain_cap",
      ((s: SparkSession, d: String) => graft.operators.Curation.domainCap(s, d)): Q,
      Some(graft.operators.Curation.domainCapSql())),
    // PSI drift audit between the train/val splits: train-quartile cuts,
    // per-bucket (p_t − p_v)·ln(p_t/p_v)
    ("q_split_drift",
      ((s: SparkSession, d: String) => graft.operators.Curation.splitDrift(s, d)): Q,
      Some(graft.operators.Curation.splitDriftSql())),
    // exact duplicated-span detection (substring-level dedup primitive) —
    // memoized: the scrub consumes the same span table (per-ingest artifact)
    ("q_dedup_spans",
      ((s: SparkSession, d: String) => Dedup.duplicateSpansMemo(s, d)): Q,
      Some(Dedup.duplicateSpansSql)),
    // same spans through the salted anchor join (skew fallback) — the
    // IDENTICAL oracle proves salting is semantics-preserving
    ("q_dedup_spans_salted",
      ((s: SparkSession, d: String) => Dedup.duplicateSpans(s, d, saltFactor = 4)): Q,
      Some(Dedup.duplicateSpansSql)),
    // spans applied: larger-id doc loses the shared range (md5-closed oracle)
    ("q_dedup_scrub",
      ((s: SparkSession, d: String) => Dedup.scrubSpans(s, d)): Q,
      Some(Dedup.scrubSpansSql)),
    // similarity search
    ("q_ann_bruteforce",
      ((s: SparkSession, d: String) => Similarity.bruteForceTopK(s, d)): Q,
      Some(Similarity.bruteForceTopKSql)),
    // embedding-space training-set audits: hard negatives + kNN label noise
    ("q_hard_negatives",
      ((s: SparkSession, d: String) => Similarity.hardNegatives(s, d)): Q,
      Some(Similarity.hardNegativesSql())),
    ("q_label_noise",
      ((s: SparkSession, d: String) => Similarity.labelNoiseKnn(s, d)): Q,
      Some(Similarity.labelNoiseKnnSql())),
    ("q_ann_lsh",
      ((s: SparkSession, d: String) => Similarity.lshTopK(s, d)): Q,
      Some(Similarity.lshTopKSql())),
    ("q_ann_ivf",
      ((s: SparkSession, d: String) => Similarity.ivfTopK(s, d)): Q,
      Some(Similarity.ivfTopKSql())),
    // the memory tier: int8 codes ranked by integer dot, exact re-rank of
    // the survivors — fully hash-oracled two-stage search
    ("q_ann_quantized",
      ((s: SparkSession, d: String) => Similarity.quantizedTopK(s, d)): Q,
      Some(Similarity.quantizedTopKSql())),
    // its approximation audit: per-query hit count vs the exact top-k
    ("q_quantized_recall",
      ((s: SparkSession, d: String) => Similarity.quantizedRecall(s, d)): Q,
      Some(Similarity.quantizedRecallSql())),
    // the dimension tier: seedless md5-parity Rademacher projection
    // (JL / Achlioptas) to 32 dims, rounded-cosine stage-1 ranking in
    // the projected space, exact float re-rank — matrix, projection and
    // both rankings all re-derived in DuckDB, so the chain is
    // hash-oracled end to end; q_rp_project anchors the raw coordinates
    ("q_rp_project",
      ((s: SparkSession, d: String) => Similarity.rpProjectQuery(s, d)): Q,
      Some(Similarity.rpProjectQuerySql())),
    ("q_ann_rp",
      ((s: SparkSession, d: String) => Similarity.rpTopK(s, d)): Q,
      Some(Similarity.rpTopKSql())),
    // its approximation audit: per-query hit count vs the exact top-k
    ("q_rp_recall",
      ((s: SparkSession, d: String) => Similarity.rpRecall(s, d)): Q,
      Some(Similarity.rpRecallSql())),
    // product quantization (Jégou et al. 2011): label-seeded per-subspace
    // codebooks, ADC lookup-table ranking, exact re-rank — the 4-byte/vector
    // tier, hash-oracled end to end like the int8 chain
    ("q_ann_pq",
      ((s: SparkSession, d: String) => Similarity.pqTopK(s, d)): Q,
      Some(Similarity.pqTopKSql())),
    ("q_pq_recall",
      ((s: SparkSession, d: String) => Similarity.pqRecall(s, d)): Q,
      Some(Similarity.pqRecallSql())),
    // the persisted-index form: codebooks + codes read back from TxTable,
    // zero index-side re-encode; IDENTICAL output to q_ann_pq, so it
    // carries the SAME oracle (the q_semantic_probe_stored pattern)
    ("q_ann_pq_stored",
      ((s: SparkSession, d: String) => Similarity.pqStoredQuery(s, d)): Q,
      Some(Similarity.pqTopKSql())),
    // per-subspace Lloyd refinement of the product quantizer (the ivfTrain
    // upgrade path, run in every subspace at once): stats are rows-only,
    // the convergence invariant is oracled, the trained search shape-mirrors
    // the hash-oracled seeded chain
    ("q_pq_train",
      ((s: SparkSession, d: String) => Similarity.pqTrain(s, d)): Q, None),
    ("q_pq_train_monotone", graft.operators.Invariants.pqTrainMonotone _,
      Some(graft.operators.Invariants.pqTrainMonotoneSql())),
    // r16: the verified frame — exact ground truth re-derived by the
    // oracle, the trained search certified by a genuinely-computed
    // recall@k floor (Lloyd float codebooks stay non-SQL by nature)
    ("q_ann_pq_trained",
      ((s: SparkSession, d: String) => Similarity.pqTopKTrainedVerified(s, d)): Q,
      Some(Similarity.pqTopKTrainedVerifiedSql)),
    ("q_ivf_assign", Similarity.ivfAssign _, Some(Similarity.ivfAssignSql)),
    ("q_ivf_train",
      ((s: SparkSession, d: String) => Similarity.ivfTrain(s, d)): Q, None),
    ("q_embed_neardup",
      ((s: SparkSession, d: String) => Similarity.embeddingNearDupSummary(s, d)): Q,
      Some(Similarity.embeddingNearDupSummarySql)),
    // SemDeDup: cell-scoped pair graph (candidates within probed IVF cells,
    // the Abbas et al. within-cluster construction) → CC → representative
    ("q_semantic_dedup",
      ((s: SparkSession, d: String) => Similarity.semanticDedup(s, d)): Q,
      Some(Similarity.semanticDedupSql())),
    // adaptive-k scoping: k = ceil(sqrt(N)) strided seeds, so the pair
    // sweep is Theta(N^1.5) in N alone — closes the fixed-k caveat
    ("q_semantic_dedup_adaptive",
      ((s: SparkSession, d: String) => Similarity.semanticDedupAdaptive(s, d)): Q,
      Some(Similarity.semanticDedupAdaptiveSql())),
    // truth twin over the full N×N tile-grid pair graph
    ("q_semantic_dedup_exact",
      ((s: SparkSession, d: String) => Similarity.semanticDedupExact(s, d)): Q,
      Some(Similarity.semanticDedupExactSql())),
    // recall contract of the cell scoping vs the exact pair graph
    ("q_semantic_recall",
      ((s: SparkSession, d: String) => Similarity.semanticCellRecall(s, d)): Q,
      Some(Similarity.semanticCellRecallSql())),
    // text-native feature-hash embeddings + composed text→embed→near-dup
    ("q_embed_text", graft.operators.TextEmbed.embedQuery _,
      Some(graft.operators.TextEmbed.embedQuerySql)),
    ("q_embed_text_topk",
      ((s: SparkSession, d: String) => graft.operators.TextEmbed.textNearDupTopK(s, d)): Q,
      Some(graft.operators.TextEmbed.textNearDupTopKSql())),
    // the same embeddings through the GENERALIZED LSH tier (sub-linear path)
    ("q_embed_text_lsh",
      ((s: SparkSession, d: String) => graft.operators.TextEmbed.textLshTopK(s, d)): Q,
      Some(graft.operators.TextEmbed.textLshTopKSql())),
    // and through the GENERALIZED IVF tier (lang seeds the quantizer)
    ("q_embed_text_ivf",
      ((s: SparkSession, d: String) => graft.operators.TextEmbed.textIvfTopK(s, d)): Q,
      Some(graft.operators.TextEmbed.textIvfTopKSql())),
    ("q_embed_text_quantized",
      ((s: SparkSession, d: String) => graft.operators.TextEmbed.textQuantizedTopK(s, d)): Q,
      Some(graft.operators.TextEmbed.textQuantizedTopKSql())),
    ("q_embed_text_pq",
      ((s: SparkSession, d: String) => graft.operators.TextEmbed.textPqTopK(s, d)): Q,
      Some(graft.operators.TextEmbed.textPqTopKSql())),
    // incremental semantic dedup: new odd-id batch probed against the
    // stored even-id IVF layout — fully deterministic, hash-oracled
    ("q_semantic_probe",
      ((s: SparkSession, d: String) => graft.operators.Similarity.semanticProbe(s, d)): Q,
      Some(graft.operators.Similarity.semanticProbeSql())),
    // the same probe against the PERSISTED TxTable index layout (centroids
    // + cell assignments written once, probed without index-side recompute)
    // — the IDENTICAL oracle proves stored ≡ in-memory
    ("q_semantic_probe_stored",
      graft.operators.Similarity.semanticProbeStoredQuery _,
      Some(graft.operators.Similarity.semanticProbeSql())),
    // forecast (UD3)
    ("q_forecast", Forecast.forecastQuery _, None),
    // ETL pipeline end-to-end (S1 multiLine JSON scan → format → combine);
    // r17: fully oracled — DuckDB read_json ingests the SAME fixture files
    ("q_format_combine", Format.fixturePipelineQuery _,
      Some(Format.fixtureCombineSql)),
    ("q_format_combine_summary", Format.fixtureSummaryQuery _,
      Some(Format.fixtureSummarySql)),
    // the WHOLE reference DAG (ingest→format→combine→predict→index) run by
    // graft.etl.Pipeline, summarized from its serving tables
    ("q_pipeline_serving", graft.etl.Pipeline.servingSummaryQuery _,
      Some(graft.etl.Pipeline.servingSummarySql)),
    // TxTable change feed (Delta-CDF semantics) over a deterministic
    // two-commit table built from orders — the expected feed is
    // recomputed straight from the source parquet by the oracle
    ("q_table_changes", graft.serve.ChangeFeed.tableChangesQuery _,
      Some(graft.serve.ChangeFeed.tableChangesSql)),
    // incremental materialized-view maintenance over that feed: the view
    // is built at v0 and maintained to v1 through the CHANGES alone; the
    // oracle recomputes the v1 aggregate from source — hash equality
    // proves delta-apply ≡ full rebuild (decimal-exact sums)
    ("q_view_maintenance", graft.serve.ChangeFeed.viewMaintenanceQuery _,
      Some(graft.serve.ChangeFeed.viewMaintenanceSql)),
    // explicit time-travel reads: the same aggregate at both pinned
    // versions, each snapshot exactly derivable from orders
    ("q_time_travel", graft.serve.ChangeFeed.timeTravelQuery _,
      Some(graft.serve.ChangeFeed.timeTravelSql)),
    // market-analytics battery: the indicator set over the daily close
    // series (rolling vol, index beta/alpha, drawdown, Bollinger, SMA
    // crossover, RSI) — all window arithmetic on the day-level aggregate,
    // fully hash-oracled
    ("q_ohlc_bars", FinanceQueries.ohlcBars _, Some(FinanceQueries.ohlcBarsSql)),
    ("q_ohlc_weekly", FinanceQueries.ohlcWeekly _, Some(FinanceQueries.ohlcWeeklySql)),
    ("q_ohlc_unpivot", FinanceQueries.ohlcUnpivot _, Some(FinanceQueries.ohlcUnpivotSql)),
    // the composed end-of-day report: every indicator on one daily frame
    ("q_fin_daily_report", FinanceQueries.dailyReport _,
      Some(FinanceQueries.dailyReportSql)),
    ("q_fin_volatility", FinanceQueries.volatility _, Some(FinanceQueries.volatilitySql)),
    ("q_fin_beta", FinanceQueries.betaMarket _, Some(FinanceQueries.betaMarketSql)),
    ("q_fin_drawdown", FinanceQueries.maxDrawdown _, Some(FinanceQueries.maxDrawdownSql)),
    ("q_fin_bollinger", FinanceQueries.bollingerBreach _, Some(FinanceQueries.bollingerBreachSql)),
    ("q_fin_sma_cross", FinanceQueries.smaCrossover _, Some(FinanceQueries.smaCrossoverSql)),
    ("q_fin_rsi", FinanceQueries.rsi _, Some(FinanceQueries.rsiSql)),
    ("q_fin_corr_matrix", FinanceQueries.corrMatrix _, Some(FinanceQueries.corrMatrixSql)),
    ("q_fin_anomaly", FinanceQueries.madAnomalies _, Some(FinanceQueries.madAnomaliesSql)),
    ("q_fin_underwater", FinanceQueries.underwaterStreaks _,
      Some(FinanceQueries.underwaterStreaksSql)),
    ("q_fin_var", FinanceQueries.valueAtRisk _, Some(FinanceQueries.valueAtRiskSql)),
    ("q_fin_autocorr", FinanceQueries.autocorr _, Some(FinanceQueries.autocorrSql)),
    ("q_fin_winsorized", FinanceQueries.winsorized _, Some(FinanceQueries.winsorizedSql)),
    ("q_fin_sharpe", FinanceQueries.sharpeSortino _, Some(FinanceQueries.sharpeSortinoSql)),
    // per-user activity power-law histogram (log2 bands) — key_skew's twin
    ("q_activity_histogram", CohortQueries.activityHistogram _,
      Some(CohortQueries.activityHistogramSql)),
    ("q_fin_moments", FinanceQueries.momentsBattery _, Some(FinanceQueries.momentsBatterySql)),
    ("q_turnover_hhi", FinanceQueries.turnoverHhi _, Some(FinanceQueries.turnoverHhiSql)),
    ("q_dow_seasonality", FinanceQueries.dowSeasonality _, Some(FinanceQueries.dowSeasonalitySql)),
    ("q_value_histogram", FinanceQueries.valueHistogram _, Some(FinanceQueries.valueHistogramSql)),
    // behavior analytics: cohort retention grid + ordered conversion
    // funnel — aggregate/join plans, no window over raw events
    ("q_cohort_retention", CohortQueries.cohortRetention _,
      Some(CohortQueries.cohortRetentionSql)),
    ("q_event_funnel", CohortQueries.eventFunnel _,
      Some(CohortQueries.eventFunnelSql)),
    // TPC-H Q3 shape: broadcast segment filter + grouped revenue + top-k
    ("q_ship_priority", MoreQueries.shipPriority _, Some(MoreQueries.shipPrioritySql)),
    // INTERSECT/EXCEPT distinct set semantics (completes §2.7 set ops)
    ("q_intersect_except", CohortQueries.intersectExcept _,
      Some(CohortQueries.intersectExceptSql)),
    // query-time JSON path extraction over the semi-structured props col
    ("q_json_extract", CohortQueries.jsonExtract _,
      Some(CohortQueries.jsonExtractSql)),
    // the full ranking-function family (rank/dense/percent/cume/ntile)
    ("q_rank_battery", CohortQueries.rankBattery _,
      Some(CohortQueries.rankBatterySql)),
    // GROUPING SETS + GROUPING() — completes the ROLLUP/CUBE trio; the
    // SAME SQL text runs on both engines
    ("q_grouping_sets", CohortQueries.groupingSets _,
      Some(CohortQueries.groupingSetsSql)),
    // correlated LATERAL top-k — the same SQL text on both engines
    ("q_lateral_topk", CohortQueries.lateralTopK _,
      Some(CohortQueries.lateralTopKSql)),
    // multimodal plumbing
    ("q_media_features", Multimodal.featuresQuery _, Some(Multimodal.featuresQuerySql)),
    ("q_media_frames",
      ((s: SparkSession, d: String) => Multimodal.frameSample(s, d)): Q,
      Some(Multimodal.frameSampleSql)),
    ("q_media_summary", Multimodal.mediaSummary _, Some(Multimodal.mediaSummarySql)),
    ("q_media_resize",
      ((s: SparkSession, d: String) => Multimodal.resize(s, d)): Q,
      Some(Multimodal.resizeSql)),
  )

  /** The Θ(N²)-by-contract verification twins: exact all-pairs sweeps kept
    * deliberately to bracket the sub-quadratic primaries (cell-scoped
    * SemDeDup, banded LSH). Bench buckets them into `total_truth_twins`,
    * out of the headline `total_linear` — their cost grows quadratically
    * with bench SF BY DESIGN, so inside one total they would swamp the
    * linear fleet as SF grows and mask real regressions there.
    * Membership = every registered query whose contract requires the full
    * N×N embedding sweep (`Similarity.embeddingPairs` / `blockGrid`). */
  val truthTwins: Set[String] = Set(
    "q_semantic_dedup_exact", // CC over the full N×N tile-grid pair graph
    "q_modality_agreement",   // exact×exact pair-set agreement (both sweeps)
    "q_embed_neardup",        // exact top-1 neighbor, full N×N tile grid
    "q_semantic_recall")      // recall vs the exact pair list (needs the sweep)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Combine.enrichedOrders(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Q] =
    registry.map { case (n, f, _) => n -> f }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case (n, _, Some(s)) => n -> s }.toMap
}
