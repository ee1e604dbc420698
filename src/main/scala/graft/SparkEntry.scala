package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/**
 * Driver contract: `queries` is the operator inventory (one entry per
 * SURVEY.md §2 row), `oracleSql` the DuckDB-equivalent SQL for the
 * hash-compare correctness gate. Aliases MUST match between the two.
 */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The
    * product's core path: per-pair Firth association on the derived
    * cohort (the reference's default model). */
  def entry(spark: SparkSession): DataFrame =
    Mas.a04AssocFirth(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a01_assoc_linear" -> (Mas.a01AssocLinear _),
    "a02_assoc_linear_cov" -> (Mas.a02AssocLinearCov _),
    "a11_assoc_linear_cov2" -> (Mas.a11AssocLinearCov2 _),
    "a13_assoc_interaction" -> (Mas.a13AssocInteraction _),
    "a14_assoc_wls" -> (Mas.a14AssocWls _),
    "a15_assoc_poisson" -> (Mas.a15AssocPoisson _),
    "a18_assoc_negbin" -> (Mas.a18AssocNegbin _),
    "a19_logrank" -> (Mas.a19Logrank _),
    "a20_assoc_ordinal" -> (Mas.a20AssocOrdinal _),
    "a23_cox_ph" -> (Mas.a23CoxPh _),
    "a24_assoc_ordinal4" -> (Mas.a24AssocOrdinal4 _),
    "a25_cox_ph_cov" -> (Mas.a25CoxPhCov _),
    "a32_cox_ph_efron" -> (Mas.a32CoxPhEfron _),
    "a33_cox_ph_covq" -> (Mas.a33CoxPhCovq _),
    "a36_cox_ph_cov2" -> (Mas.a36CoxPhCov2 _),
    "a37_screen_firth" -> (Mas.a37ScreenFirth _),
    "a38_poisson_offset" -> (Mas.a38PoissonOffset _),
    "a39_fisher_exact" -> (Mas.a39FisherExact _),
    "a40_mcnemar_exact" -> (Mas.a40McnemarExact _),
    "a41_auc" -> (Mas.a41Auc _),
    "a42_hl_calibration" -> (Mas.a42HlCalibration _),
    "a43_brier" -> (Mas.a43Brier _),
    "a26_kaplan_meier" -> (Mas.a26KaplanMeier _),
    "a44_aalen_johansen" -> (Mas.a44AalenJohansen _),
    "a27_matched_pairs" -> (Mas.a27MatchedPairs _),
    "a28_trend_test" -> (Mas.a28TrendTest _),
    "a29_hwe" -> (Mas.a29Hwe _),
    "a30_breslow_day" -> (Mas.a30BreslowDay _),
    "m10_ppm_resize" -> (Multimodal.m10PpmResize _),
    "a31_ks_drift" -> (Mas.a31KsDrift _),
    "t19_gopher_gate" -> (TextOps.t19GopherGate _),
    "t20_repetition_gate" -> (TextOps.t20RepetitionGate _),
    "a21_score_screen" -> (Mas.a21ScoreScreen _),
    "a45_score_screen_linear" -> (Mas.a45ScoreScreenLinear _),
    "a46_mann_whitney" -> (Mas.a46MannWhitney _),
    "a47_wilcoxon_signed" -> (Mas.a47WilcoxonSignedRank _),
    "a48_kruskal_wallis" -> (Mas.a48KruskalWallis _),
    "a49_spearman" -> (Mas.a49Spearman _),
    "a50_friedman" -> (Mas.a50Friedman _),
    "a51_cochran_q" -> (Mas.a51CochranQ _),
    "a22_prs" -> (Mas.a22Prs _),
    "a16_cmh" -> (Mas.a16Cmh _),
    "a03_assoc_logistic" -> (Mas.a03AssocLogistic _),
    "a04_assoc_firth" -> (Mas.a04AssocFirth _),
    "a05_case_counts" -> (Mas.a05CaseCounts _),
    "a06_validation_skip" -> (Mas.a06ValidationSkip _),
    "a07_flipwas" -> (Mas.a07Flipwas _),
    "a08_pipeline_logt" -> (Mas.a08PipelineLogt _),
    "a09_pipeline_rint" -> (Mas.a09PipelineRint _),
    "a12_pipeline_categorical" -> (Mas.a12PipelineCategorical _),
    // a10/a17 named the gram IRLS, which is gone: they run a03/a04's
    // column-block fits, at the same tolerances, against their own oracles
    "a10_assoc_logistic_gram" -> (Mas.a03AssocLogistic _),
    "a17_assoc_firth_gram" -> (Mas.a04AssocFirth _),
    "t13_bpe_tokens" -> (TextOps.t13BpeTokens _),
    "t24_tokenizer_fertility" -> (TextOps.t24TokenizerFertility _),
    "t21_zipf_slope" -> (TextOps.t21ZipfSlope _),
    "t14_line_stats" -> (TextOps.t14LineStats _),
    "t15_bigram_logprob" -> (TextOps.t15BigramLogprob _),
    "t16_topk_cms" -> (TextOps.t16TopkCms _),
    "s05_phecode_annotate" -> (Mas.s05PhecodeAnnotate _),
    "p01_select_index" -> (Preprocess.p01SelectIndex _),
    "p02_sex_filter" -> (Preprocess.p02SexFilter _),
    "p03_fill_mean" -> (Preprocess.p03FillMean _),
    "p04_fill_forward" -> (Preprocess.p04FillForward _),
    "p05_drop_constant" -> (Preprocess.p05DropConstant _),
    "p06_onehot" -> (Preprocess.p06OneHot _),
    "p07_scale_standard" -> (Preprocess.p07ScaleStandard _),
    "p08_rint" -> (Preprocess.p08Rint _),
    "p09_log_transform" -> (Preprocess.p09LogTransform _),
    "p10_scale_minmax" -> (Preprocess.p10ScaleMinmax _),
    "p11_quantiles" -> (Preprocess.p11Quantiles _),
    "p12_clip" -> (Preprocess.p12Clip _),
    "p13_scale_robust" -> (Preprocess.p13ScaleRobust _),
    "p14_missingness" -> (Preprocess.p14Missingness _),
    "p15_quantile_bin" -> (Preprocess.p15QuantileBin _),
    "p16_yeo_johnson" -> (Preprocess.p16YeoJohnson _),
    "p17_corr_matrix" -> (Preprocess.p17CorrMatrix _),
    "p18_vif" -> (Preprocess.p18Vif _),
    "p19_woe" -> (Preprocess.p19Woe _),
    "p20_target_encode" -> (Preprocess.p20TargetEncode _),
    "p21_vif5" -> (Preprocess.p21Vif5 _),
    "p22_date_features" -> (Preprocess.p22DateFeatures _),
    "p23_spline_basis" -> (Preprocess.p23SplineBasis _),
    "p24_pca_top" -> (Preprocess.p24PcaTop _),
    "p25_quantile_normalize" -> (Preprocess.p25QuantileNormalize _),
    "g07_bfs" -> (graft.operators.Graph.g07BfsHops _),
    "c11_dedup_mixture" -> (graft.operators.Dedup.c11DedupMixture _),
    "c14_leakage_split" -> (graft.operators.Dedup.c14LeakageSplit _),
    "c15_pipeline_report" -> (graft.operators.Dedup.c15PipelineReport _),
    "d19_jaccard_hist" -> (graft.operators.Dedup.d19JaccardHist _),
    "d20_lsh_calibration" -> (graft.operators.Dedup.d20LshCalibration _),
    "a34_logrank3" -> (Mas.a34Logrank3 _),
    "a35_clogit" -> (Mas.a35Clogit _),
    "s01_bonferroni" -> (Postprocess.s01Bonferroni _),
    "s02_bh_fdr" -> (Postprocess.s02BhFdr _),
    "s03_annotate" -> (Postprocess.s03Annotate _),
    "s04_sort_output" -> (Postprocess.s04SortOutput _),
    "s06_lambda_gc" -> (Postprocess.s06LambdaGc _),
    "s07_qq_expected" -> (Postprocess.s07QqExpected _),
    "s08_qvalues" -> (Postprocess.s08Qvalues _),
    "s15_weighted_bh" -> (Postprocess.s15WeightedBh _),
    "s16_group_fdr" -> (Postprocess.s16GroupFdr _),
    "s17_top_hits" -> (Postprocess.s17TopHits _),
    "s09_meta_analysis" -> (Postprocess.s09MetaAnalysis _),
    "s18_random_effects" -> (Postprocess.s18RandomEffects _),
    "s19_by_fdr" -> (Postprocess.s19ByFdr _),
    "s10_clump" -> (Postprocess.s10Clump _),
    "s11_icd_phecode" -> (Mas.s11IcdPhecode _),
    "s12_manhattan" -> (Postprocess.s12Manhattan _),
    "s13_gc_correct" -> (Postprocess.s13GcCorrect _),
    "d01_dedup_exact" -> (Dedup.d01DedupExact _),
    "d12_para_dedup" -> (Dedup.d12ParaDedup _),
    "d13_dup_spans" -> (Dedup.d13DupSpans _),
    "d21_exact_substrings" -> (Dedup.d21ExactSubstrings _),
    "d15_line_dedup" -> (Dedup.d15LineDedup _),
    "d02_dedup_ngram" -> (Dedup.d02DedupNgram _),
    "d03_dedup_minhash" -> (Dedup.d03DedupMinhash _),
    "d04_dedup_simhash" -> (Dedup.d04DedupSimhash _),
    "d05_dedup_embedding" -> (Dedup.d05DedupEmbedding _),
    "d05b_dedup_embedding_lsh" -> (Dedup.d05bDedupEmbeddingLsh _),
    "d06_dedup_components" -> (Dedup.d06DedupComponents _),
    "d17_dedup_keep" -> (Dedup.d17DedupKeep _),
    "d18_incremental_dedup" -> (Dedup.d18IncrementalDedup _),
    "d07_contamination" -> (Dedup.d07Contamination _),
    "d16_fuzzy_contamination" -> (Dedup.d16FuzzyContamination _),
    "d14_bloom_contamination" -> (Dedup.d14BloomContamination _),
    "d08_url_dedup" -> (Dedup.d08UrlDedup _),
    "d09_dup_shingles" -> (Dedup.d09DupShingles _),
    "d10_semdedup" -> (Similarity.d10SemDedup _),
    "d11_containment" -> (Dedup.d11Containment _),
    "n01_knn_brute" -> (Similarity.n01KnnBrute _),
    "n07_knn_classify" -> (Similarity.n07KnnClassify _),
    "n10_sq8_knn" -> (Similarity.n10Sq8Knn _),
    "n12_mips" -> (Similarity.n12Mips _),
    "n13_ivf_rerank" -> (Similarity.n13IvfRerank _),
    "n02_ann_lsh" -> (Similarity.n02AnnLsh _),
    "n08_ann_recall" -> (Similarity.n08AnnRecall _),
    "n09_pca_power" -> (Similarity.n09PcaPower _),
    "n03_ann_ivf" -> (Similarity.n03AnnIvf _),
    "n11_kmeans" -> (Similarity.n11Kmeans _),
    "n06_ann_ivfpq" -> (Similarity.n06AnnIvfPq _),
    "n14_silhouette" -> (Similarity.n14Silhouette _),
    "n04_label_centroids" -> (Similarity.n04LabelCentroids _),
    "n05_radius_search" -> (Similarity.n05RadiusSearch _),
    "t01_langid" -> (TextOps.t01LangId _),
    "t02_quality" -> (TextOps.t02Quality _),
    "t03_tokens" -> (TextOps.t03Tokens _),
    "t04_fingerprint" -> (TextOps.t04Fingerprint _),
    "m01_multimodal" -> (Multimodal.m01Multimodal _),
    "m02_chunk" -> (Multimodal.m02Chunk _),
    "m03_frame_sample" -> (Multimodal.m03FrameSample _),
    "m04_media_stats" -> (Multimodal.m04MediaStats _),
    "m05_wav_header" -> (Multimodal.m05WavHeader _),
    "m06_mp4_header" -> (Multimodal.m06Mp4Header _),
    "m07_ppm_pixels" -> (Multimodal.m07PpmPixels _),
    "m11_ppm_channel_stats" -> (Multimodal.m11PpmChannelStats _),
    "m12_ppm_otsu" -> (Multimodal.m12PpmOtsu _),
    "m13_bmp_pixels" -> (Multimodal.m13BmpPixels _),
    "m18_jpeg_header" -> (Multimodal.m18JpegHeader _),
    "m19_png_header" -> (Multimodal.m19PngHeader _),
    "m20_gif_header" -> (Multimodal.m20GifHeader _),
    "m21_zip_index" -> (Multimodal.m21ZipIndex _),
    "m22_srt_cues" -> (Multimodal.m22SrtCues _),
    "m14_tar_index" -> (Multimodal.m14TarIndex _),
    "m08_phash_dedup" -> (Multimodal.m08PhashDedup _),
    "m09_pcm_stats" -> (Multimodal.m09PcmStats _),
    "q01_agg" -> (Relational.q01Agg _),
    "q02_filter_project" -> (Relational.q02FilterProject _),
    "q03_join" -> (Relational.q03Join _),
    "q04_topk" -> (Relational.q04TopK _),
    "q05_window" -> (Relational.q05Window _),
    "q06_semijoin" -> (Relational.q06SemiJoin _),
    "q07_rollup" -> (Relational.q07Rollup _),
    "q08_pivot" -> (Relational.q08Pivot _),
    "q09_skew_join" -> (Relational.q09SkewJoin _),
    "q10_cube" -> (Relational.q10Cube _),
    "q11_latest_by_key" -> (Relational.q11LatestByKey _),
    "q12_scd2" -> (Relational.q12Scd2 _),
    "q20_time_travel" -> (Relational.q20TimeTravel _),
    "q13_json" -> (Relational.q13Json _),
    "q14_merge_upsert" -> (Relational.q14MergeUpsert _),
    "q15_hll_distinct" -> (Relational.q15HllDistinct _),
    "q16_grouping_sets" -> (Relational.q16GroupingSets _),
    "q17_hist_quantiles" -> (Relational.q17HistQuantiles _),
    "q18_partial_merge" -> (Relational.q18PartialMerge _),
    "q19_snapshot_diff" -> (Relational.q19SnapshotDiff _),
    "e12_transitions" -> (Relational.e12Transitions _),
    "e29_cdc_apply" -> (Relational.e29CdcApply _),
    "e30_lateness_profile" -> (Relational.e30LatenessProfile _),
    "e31_watermark_choice" -> (Relational.e31WatermarkChoice _),
    "q21_profile_stats" -> (Relational.q21ProfileStats _),
    "s20_stouffer" -> (Postprocess.s20Stouffer _),
    "d22_source_overlap" -> (Dedup.d22SourceOverlap _),
    "e01_sessionize" -> (Relational.e01Sessionize _),
    "e07_retention" -> (Relational.e07Retention _),
    "e06_funnel" -> (Relational.e06Funnel _),
    "e02_stream_window" -> (Relational.e02StreamWindow _),
    "e25_hopping_window" -> (Relational.e25HoppingWindow _),
    "e05_session_window" -> (Relational.e05SessionWindow _),
    "e08_attribution" -> (Relational.e08Attribution _),
    "e09_windowed_topk" -> (Relational.e09WindowedTopK _),
    "e14_burst" -> (Relational.e14Burst _),
    "e10_stream_para_dedup" -> (graft.streaming.StreamingOps.e10StreamParaDedup _),
    "e11_stream_window_gate" -> (graft.streaming.StreamingOps.e11StreamWindowAgg _),
    "e13_stream_join_gate" -> (graft.streaming.StreamingOps.e13StreamJoinGate _),
    "e15_stream_session_gate" -> (graft.streaming.StreamingOps.e15StreamSessionGate _),
    "e16_stream_static_gate" -> (graft.streaming.StreamingOps.e16StreamStaticGate _),
    "e17_stream_file_gate" -> (graft.streaming.StreamingOps.e17StreamFileGate _),
    "e18_stream_rocksdb_gate" -> (graft.streaming.StreamingOps.e18StreamRocksdbGate _),
    "e19_stream_ingest_gate" -> (graft.streaming.StreamingOps.e19StreamIncrementalGate _),
    "e22_stream_ttl_gate" -> (graft.streaming.StreamingOps.e22StreamTtlGate _),
    "e24_stream_late_gate" -> (graft.streaming.StreamingOps.e24StreamLateGate _),
    "e27_stream_hop_gate" -> (graft.streaming.StreamingOps.e27StreamHopGate _),
    "m15_pcm_resample" -> (Multimodal.m15PcmResample _),
    "m16_ppm_patchify" -> (Multimodal.m16PpmPatchify _),
    "m17_pcm_segments" -> (Multimodal.m17PcmSegments _),
    "e20_asof_forward" -> (Joins.e20AsofForward _),
    "e21_asof_nearest" -> (Joins.e21AsofNearest _),
    "e23_resample_ffill" -> (Joins.e23ResampleFfill _),
    "e28_resample_interp" -> (Joins.e28ResampleInterp _),
    "g01_pagerank" -> (Graph.g01Pagerank _),
    "g10_ppr" -> (Graph.g10Ppr _),
    "g11_adamic_adar" -> (Graph.g11AdamicAdar _),
    "g02_triangles" -> (Graph.g02Triangles _),
    "g03_label_prop" -> (Graph.g03LabelProp _),
    "g04_link_predict" -> (Graph.g04LinkPredict _),
    "g05_assortativity" -> (Graph.g05Assortativity _),
    "g06_kcore" -> (Graph.g06Kcore _),
    "g08_clustering_coeff" -> (Graph.g08ClusteringCoeff _),
    "g09_degree_hist" -> (Graph.g09DegreeHist _),
    "t17_readability" -> (TextOps.t17Readability _),
    "e03_asof_join" -> (Joins.e03AsofJoin _),
    "e26_asof_tolerance" -> (Joins.e26AsofTolerance _),
    "e04_range_join" -> (Joins.e04RangeJoin _),
    "c01_sample_stratified" -> (Corpus.c01SampleStratified _),
    "c02_shard_pack" -> (Corpus.c02ShardPack _),
    "c06_pack_tokens" -> (Corpus.c06PackTokens _),
    "c07_token_budget" -> (Corpus.c07TokenBudget _),
    "c08_mixture_weights" -> (Corpus.c08MixtureWeights _),
    "c09_repeat_epochs" -> (Corpus.c09RepeatEpochs _),
    "c10_dataset_card" -> (Corpus.c10DatasetCard _),
    "c03_split" -> (Corpus.c03Split _),
    "c04_mixture_sample" -> (Corpus.c04MixtureSample _),
    "c05_weighted_sample" -> (Corpus.c05WeightedSample _),
    "t05_topk_ngrams" -> (TextOps.t05TopkNgrams _),
    "t06_bm25" -> (TextOps.t06Bm25 _),
    "t07_pii" -> (TextOps.t07Pii _),
    "t08_repetition" -> (TextOps.t08Repetition _),
    "t09_char_entropy" -> (TextOps.t09CharEntropy _),
    "t10_tfidf_keywords" -> (TextOps.t10TfidfKeywords _),
    "t11_unigram_logprob" -> (TextOps.t11UnigramLogprob _),
    "t12_char_entropy_agg" -> (TextOps.t12CharEntropyAgg _),
    "t18_dsir" -> (TextOps.t18Dsir _),
    "t22_feature_hash" -> (TextOps.t22FeatureHash _),
    "t23_pmi_pairs" -> (TextOps.t23PmiPairs _),
    "c12_curriculum" -> (Corpus.c12Curriculum _),
    "c16_interleave" -> (Corpus.c16Interleave _),
    "c13_shard_manifest" -> (Corpus.c13ShardManifest _),
  )

  def oracleSql: Map[String, String] =
    Mas.oracleSql ++ Preprocess.oracleSql ++ Postprocess.oracleSql ++ Dedup.oracleSql ++
      TextOps.oracleSql ++ Similarity.oracleSql ++ Multimodal.oracleSql ++
      Joins.oracleSql ++ Corpus.oracleSql ++ Graph.oracleSql ++ Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q02_filter_project" ->
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1994-01-01'
        |  AND l_shipdate < TIMESTAMP '1995-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
    "q03_join" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q04_topk" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q05_window" ->
      """WITH w AS (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |    row_number() OVER win AS rn,
        |    round(sum(l_quantity) OVER (win ROWS UNBOUNDED PRECEDING), 4) AS running_qty
        |  FROM lineitem
        |  WINDOW win AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
        |) SELECT * FROM w WHERE rn <= 5 ORDER BY l_suppkey, rn""".stripMargin,
    "q06_semijoin" ->
      """SELECT c_custkey,
        |  (c_custkey IN (SELECT o_custkey FROM orders)) AS has_orders
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q07_rollup" ->
      """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END
        |    AS l_returnflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END
        |    AS l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin,
    "q08_pivot" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS order_year,
        |  round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 4) AS urgent,
        |  round(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 4) AS high,
        |  round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 4) AS medium,
        |  round(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 4) AS notspec,
        |  round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 4) AS low
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_cube" ->
      """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END
        |    AS l_returnflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END
        |    AS l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin,
    "q11_latest_by_key" ->
      """WITH ev AS (
        |  SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events
        |), r AS (
        |  SELECT user_id, event_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM ev
        |)
        |SELECT user_id, event_id, ts, value FROM r WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "q12_scd2" ->
      """WITH ev AS (
        |  SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events
        |)
        |SELECT user_id, event_id, value, ts AS valid_from,
        |  coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |    TIMESTAMP '2100-01-01 00:00:00') AS valid_to,
        |  (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
        |    AS is_current
        |FROM ev ORDER BY user_id, valid_from, event_id""".stripMargin,
    // q20: the q12 interval chain filtered to containment of the
    // exact integer-µs span midpoint — i64 comparisons end to end
    "q20_time_travel" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events
        |), t AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS t_us FROM ev
        |), s AS (
        |  SELECT user_id, event_id, value, ts AS valid_from,
        |    coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |      TIMESTAMP '2100-01-01 00:00:00') AS valid_to
        |  FROM ev
        |)
        |SELECT s.user_id, s.event_id, s.value,
        |  CAST(t.t_us - epoch_us(s.valid_from) AS BIGINT) AS age_us
        |FROM s, t
        |WHERE epoch_us(s.valid_from) <= t.t_us AND epoch_us(s.valid_to) > t.t_us
        |ORDER BY s.user_id""".stripMargin,
    // full HLL replay: same xor-fold/LCG hashes, same lowest-set-bit
    // rho, same register max, same bias constant and small-range
    // correction — Σ2^(-M_j) is exact binary-fraction arithmetic, so
    // the register sum is order-independent in BOTH engines
    "q15_hll_distinct" ->
      s"""WITH h AS (
         |  SELECT event_type,
         |    ((xor(user_id, user_id >> 31) % 1000000007) * 2654435761) % 1000000007 AS base
         |  FROM events
         |), hw AS (
         |  SELECT event_type, ((base * base) % 1000000007) % 256 AS j,
         |    (((((base * 1103515245 + 12345) % 1000000007)
         |       * ((base * 1103515245 + 12345) % 1000000007)) % 1000000007))
         |      % ${1L << 22} AS w
         |  FROM h
         |), regs AS (
         |  SELECT event_type, j,
         |    max(CASE WHEN w = 0 THEN 23.0
         |      ELSE 1.0 + floor(log2(CAST(w & -w AS DOUBLE))) END) AS mj
         |  FROM hw GROUP BY 1, 2
         |), agg AS (
         |  SELECT event_type, sum(power(2.0, -mj)) AS s_present,
         |    count(*) AS present
         |  FROM regs GROUP BY 1
         |)
         |SELECT event_type,
         |  round(CASE WHEN CAST(${graft.operators.Relational.HllAlpha} AS DOUBLE) * 256 * 256
         |      / (s_present + (256 - present)) <= 2.5 * 256 AND present < 256
         |    THEN 256.0 * ln(256.0 / (256 - present))
         |    ELSE CAST(${graft.operators.Relational.HllAlpha} AS DOUBLE) * 256 * 256
         |      / (s_present + (256 - present)) END, 4) + 0 AS hll_distinct,
         |  CAST(256 - present AS BIGINT) AS empty_registers
         |FROM agg ORDER BY event_type""".stripMargin,
    "q16_grouping_sets" ->
      """WITH li AS (
        |  SELECT *, CAST(year(l_shipdate) AS VARCHAR) AS ship_year FROM lineitem
        |)
        |SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  coalesce(ship_year, 'ALL') AS ship_year,
        |  round(sum(l_quantity), 4) AS sum_qty, count(*) AS n_rows
        |FROM li
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (ship_year), ())
        |ORDER BY 1, 2, 3""".stripMargin,
    // q17: bin index, width, and interpolation mirror the Spark
    // expressions operand-for-operand; cum runs over <=256 rows per
    // group; p cast to DOUBLE so the literal never lands as DECIMAL
    "q17_hist_quantiles" ->
      """WITH src AS (
        |  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS x
        |  FROM lineitem
        |), stats AS (
        |  SELECT g, min(x) AS mn, max(x) AS mx,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM src GROUP BY g
        |), binned AS (
        |  SELECT src.g,
        |    CASE WHEN s.mx = s.mn THEN 0
        |      ELSE least(CAST(floor((src.x - s.mn)
        |        / ((s.mx - s.mn) / 256.0)) AS BIGINT), 255) END AS bin,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM src JOIN stats s ON src.g = s.g
        |  GROUP BY 1, 2
        |), cum AS (
        |  SELECT g, bin, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY g ORDER BY bin) AS BIGINT) AS cum
        |  FROM binned
        |), targets AS (
        |  SELECT g, n_rows, mn, mx, CAST(p AS DOUBLE) AS p,
        |    CAST(ceil(CAST(p AS DOUBLE) * n_rows) AS BIGINT) AS r
        |  FROM stats, (SELECT unnest([0.5, 0.9, 0.99]) AS p)
        |), pick AS (
        |  SELECT c.g, t.p, t.r, t.n_rows, t.mn, t.mx,
        |    c.bin, c.cum - c.cnt AS cum_prev, c.cnt,
        |    row_number() OVER (PARTITION BY c.g, t.p ORDER BY c.bin) AS rn
        |  FROM cum c JOIN targets t ON c.g = t.g
        |  WHERE c.cum >= t.r
        |)
        |SELECT g AS l_returnflag, p, n_rows,
        |  round(CASE WHEN mx = mn THEN mn
        |    ELSE mn + ((mx - mn) / 256.0)
        |      * (bin + (r - cum_prev) / cnt) END, 4) + 0 AS q_est
        |FROM pick WHERE rn = 1
        |ORDER BY l_returnflag, p""".stripMargin,
    "q18_partial_merge" ->
      """WITH a AS (
        |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt_a,
        |    sum(l_quantity) AS s_qty_a, min(l_quantity) AS mn_a,
        |    max(l_quantity) AS mx_a, sum(l_extendedprice) AS s_price_a
        |  FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1
        |), b AS (
        |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt_b,
        |    sum(l_quantity) AS s_qty_b, min(l_quantity) AS mn_b,
        |    max(l_quantity) AS mx_b, sum(l_extendedprice) AS s_price_b
        |  FROM lineitem WHERE l_orderkey % 2 = 1 GROUP BY 1
        |), m AS (
        |  SELECT coalesce(a.l_suppkey, b.l_suppkey) AS l_suppkey,
        |    coalesce(cnt_a, CAST(0 AS BIGINT))
        |      + coalesce(cnt_b, CAST(0 AS BIGINT)) AS cnt,
        |    coalesce(s_qty_a, 0.0) + coalesce(s_qty_b, 0.0) AS s_qty,
        |    least(mn_a, mn_b) AS mn_qty, greatest(mx_a, mx_b) AS mx_qty,
        |    coalesce(s_price_a, 0.0) + coalesce(s_price_b, 0.0) AS s_price
        |  FROM a FULL OUTER JOIN b ON a.l_suppkey = b.l_suppkey
        |)
        |SELECT l_suppkey, cnt, round(s_qty, 4) AS s_qty, mn_qty, mx_qty,
        |  round(s_qty / cnt, 4) AS avg_qty, round(s_price, 4) AS s_price
        |FROM m ORDER BY l_suppkey""".stripMargin,
    "q19_snapshot_diff" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_totalprice AS price1
        |  FROM orders WHERE o_orderkey % 11 <> 0
        |), v2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
        |      ELSE o_totalprice END AS price2
        |  FROM orders WHERE o_orderkey % 13 <> 0
        |), m AS (
        |  SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
        |    price1, price2,
        |    CASE WHEN price1 IS NULL THEN 'added'
        |      WHEN price2 IS NULL THEN 'deleted'
        |      WHEN price1 <> price2 THEN 'changed'
        |      ELSE 'unchanged' END AS status
        |  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
        |)
        |SELECT o_orderkey, status, round(price1, 4) AS price1,
        |  round(price2, 4) AS price2
        |FROM m WHERE status <> 'unchanged' ORDER BY o_orderkey""".stripMargin,
    "e12_transitions" ->
      """WITH ev AS (
        |  SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events
        |), seqd AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS to_type
        |  FROM ev
        |), c AS (
        |  SELECT from_type, to_type, count(*) AS n FROM seqd
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, n,
        |  round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 4) + 0 AS prob
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    // e29: window replay of the CDC state machine — live-before is the
    // last boundary op (signup/error) strictly before the row; applied
    // vs anomaly classification and the final (liveness, value) both
    // derive from IGNORE NULLS running windows over the same order
    "e29_cdc_apply" ->
      """WITH e AS (
        |  SELECT user_id AS k, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
        |    event_id, event_type AS et, value
        |  FROM events
        |), w AS (
        |  SELECT *,
        |    LAST_VALUE(CASE WHEN et IN ('signup','error') THEN et END IGNORE NULLS)
        |      OVER (PARTITION BY k ORDER BY tsu, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lb
        |  FROM e
        |), cls AS (
        |  SELECT k, tsu, event_id, et, value,
        |    CASE WHEN et = 'signup' THEN 'ins'
        |         WHEN et = 'error' THEN
        |           CASE WHEN coalesce(lb,'x') = 'signup' THEN 'del' ELSE 'anom' END
        |         WHEN et IN ('click','view','purchase') THEN
        |           CASE WHEN coalesce(lb,'x') = 'signup' THEN 'upd' ELSE 'anom' END
        |         ELSE 'unk'
        |    END AS act
        |  FROM w
        |), w2 AS (
        |  SELECT *,
        |    LAST_VALUE(CASE WHEN et IN ('signup','error') THEN et END IGNORE NULLS)
        |      OVER win AS lbi,
        |    LAST_VALUE(CASE WHEN act IN ('ins','upd') THEN struct_pack(v := value)
        |      END IGNORE NULLS) OVER win AS lv,
        |    row_number() OVER (PARTITION BY k ORDER BY tsu DESC, event_id DESC) AS rn
        |  FROM cls
        |  WINDOW win AS (PARTITION BY k ORDER BY tsu, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), agg AS (
        |  SELECT k,
        |    CAST(sum(CASE WHEN act='ins' THEN 1 ELSE 0 END) AS BIGINT) AS n_ins,
        |    CAST(sum(CASE WHEN act='upd' THEN 1 ELSE 0 END) AS BIGINT) AS n_upd,
        |    CAST(sum(CASE WHEN act='del' THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
        |    CAST(sum(CASE WHEN act='anom' THEN 1 ELSE 0 END) AS BIGINT) AS n_anom,
        |    CAST(sum(CASE WHEN act='unk' THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown,
        |    CAST(max(tsu) AS BIGINT) AS last_ts_us
        |  FROM cls GROUP BY k
        |)
        |SELECT a.k AS user_id,
        |  coalesce(f.lbi,'x') = 'signup' AS final_live,
        |  CASE WHEN coalesce(f.lbi,'x') = 'signup' THEN f.lv.v END AS final_value,
        |  a.n_ins, a.n_upd, a.n_del, a.n_anom, a.n_unknown, a.last_ts_us
        |FROM agg a JOIN (SELECT * FROM w2 WHERE rn = 1) f ON a.k = f.k
        |ORDER BY user_id""".stripMargin,
    // e30: the ±300 s hash-jittered arrival (Corpus.hashBucket's
    // closed form inlined), running stream-global watermark over the
    // arrival order, minute-binned lateness histogram per type
    "e30_lateness_profile" ->
      """WITH e AS (
        |  SELECT event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
        |    epoch_us(CAST(ts AS TIMESTAMP)) +
        |      (((xor(event_id, event_id >> 31) % 1000000007) * 2654435761)
        |        % 1000000007 % 601 - 300) * 1000000 AS arr
        |  FROM events
        |), w AS (
        |  SELECT event_type, tsu,
        |    max(tsu) OVER (ORDER BY arr, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
        |  FROM e
        |), l AS (
        |  SELECT event_type,
        |    greatest(CAST(0 AS BIGINT), coalesce(wm - tsu, 0)) // 1000000 AS late_sec
        |  FROM w
        |)
        |SELECT event_type, CAST(late_sec // 60 AS INT) AS late_bin,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(max(late_sec) AS BIGINT) AS max_late_sec
        |FROM l GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // e31: same jitter + watermark window as e30, then INTEGER-rank
    // quantile selection (cum·den ≥ num·n) over the per-type counts
    "e31_watermark_choice" ->
      """WITH e AS (
        |  SELECT event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
        |    epoch_us(CAST(ts AS TIMESTAMP)) +
        |      (((xor(event_id, event_id >> 31) % 1000000007) * 2654435761)
        |        % 1000000007 % 601 - 300) * 1000000 AS arr
        |  FROM events
        |), w AS (
        |  SELECT event_type, tsu,
        |    max(tsu) OVER (ORDER BY arr, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
        |  FROM e
        |), l AS (
        |  SELECT event_type,
        |    greatest(CAST(0 AS BIGINT), coalesce(wm - tsu, 0)) // 1000000 AS late_sec
        |  FROM w
        |), c AS (
        |  SELECT event_type, late_sec, CAST(count(*) AS BIGINT) AS c
        |  FROM l GROUP BY 1, 2
        |), cu AS (
        |  SELECT *, sum(c) OVER (PARTITION BY event_type ORDER BY late_sec
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM c
        |)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
        |  round(sum(CASE WHEN late_sec > 0 THEN c ELSE 0 END) * 1.0 / max(n), 4)
        |    + 0 AS share_late,
        |  CAST(min(CASE WHEN cum * 2 >= n THEN late_sec END) AS BIGINT) AS p50_sec,
        |  CAST(min(CASE WHEN cum * 100 >= n * 99 THEN late_sec END) AS BIGINT) AS p99_sec,
        |  CAST(min(CASE WHEN cum * 1000 >= n * 999 THEN late_sec END) AS BIGINT) AS p999_sec,
        |  CAST(max(late_sec) AS BIGINT) AS max_sec
        |FROM cu GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q21: moments on the 1e-2 integer lattice as HUGEINT sums —
    // order-independent like Spark's DECIMAL(38,0) — ONE double
    // conversion per aggregate before the mean/std formulas
    "q21_profile_stats" ->
      """WITH m AS (
        |  SELECT 'l_quantity' AS "column", CAST(l_quantity AS DOUBLE) AS x FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem
        |), a AS (
        |  SELECT "column", CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(x) AS BIGINT) AS n_nonnull,
        |    sum(CAST(round(x * 100) AS HUGEINT)) AS s1,
        |    sum(CAST(round(x * 100) AS HUGEINT) * CAST(round(x * 100) AS HUGEINT)) AS s2,
        |    min(CAST(round(x * 100) AS HUGEINT)) AS qmin,
        |    max(CAST(round(x * 100) AS HUGEINT)) AS qmax
        |  FROM m GROUP BY 1
        |)
        |SELECT "column", n_rows, CAST(n_rows - n_nonnull AS BIGINT) AS n_null,
        |  round(CAST(s1 AS DOUBLE) / 100.0 / n_nonnull, 4) + 0 AS mean,
        |  round(sqrt((CAST(s2 AS DOUBLE) * n_nonnull
        |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |    / (CAST(n_nonnull AS DOUBLE) * (n_nonnull - 1))) / 100.0, 4) + 0 AS std,
        |  round(CAST(qmin AS DOUBLE) / 100.0, 4) + 0 AS "min",
        |  round(CAST(qmax AS DOUBLE) / 100.0, 4) + 0 AS "max"
        |FROM a ORDER BY "column"""".stripMargin,
    "q13_json" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS INT) AS k
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n,
        |  round(avg(k), 4) + 0 AS avg_k, max(k) AS max_k,
        |  CAST(sum(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q14_merge_upsert" ->
      """WITH ev AS (
        |  SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events
        |), b AS (
        |  SELECT user_id, event_id, ts, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev WHERE event_id < 5000) WHERE rn = 1
        |), d AS (
        |  SELECT user_id, event_id, ts, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev WHERE event_id >= 5000) WHERE rn = 1
        |)
        |SELECT coalesce(d.user_id, b.user_id) AS user_id,
        |  coalesce(d.event_id, b.event_id) AS event_id,
        |  coalesce(d.ts, b.ts) AS ts,
        |  coalesce(d.value, b.value) AS value,
        |  d.event_id IS NOT NULL AS updated
        |FROM b FULL OUTER JOIN d ON b.user_id = d.user_id
        |ORDER BY user_id""".stripMargin,
    "e07_retention" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS week
        |  FROM events
        |), c AS (
        |  SELECT user_id, week,
        |    min(week) OVER (PARTITION BY user_id) AS cohort_week
        |  FROM ev
        |), r AS (
        |  SELECT cohort_week, week - cohort_week AS week_offset,
        |    count(DISTINCT user_id) AS n_users
        |  FROM c GROUP BY 1, 2
        |), b AS (
        |  SELECT cohort_week, n_users AS cohort_size FROM r WHERE week_offset = 0
        |)
        |SELECT r.cohort_week, r.week_offset, r.n_users, b.cohort_size,
        |  round(r.n_users * 1.0 / b.cohort_size, 4) + 0 AS retention_pct
        |FROM r JOIN b USING (cohort_week)
        |ORDER BY r.cohort_week, r.week_offset""".stripMargin,
    "e06_funnel" ->
      """WITH ev AS (
        |  SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events
        |), w1 AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
        |    OVER (PARTITION BY user_id) AS first_view FROM ev
        |), w2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts >= first_view THEN ts END)
        |    OVER (PARTITION BY user_id) AS first_click FROM w1
        |), w3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= first_click THEN ts END)
        |    OVER (PARTITION BY user_id) AS first_purchase FROM w2
        |)
        |SELECT user_id,
        |  max(CASE WHEN first_purchase IS NOT NULL THEN 3
        |    WHEN first_click IS NOT NULL THEN 2
        |    WHEN first_view IS NOT NULL THEN 1 ELSE 0 END) AS funnel_stage,
        |  min(first_view) AS first_view
        |FROM w3 GROUP BY user_id ORDER BY user_id""".stripMargin,
    // plain join: q09's salting must be result-invisible
    "q09_skew_join" ->
      """SELECT c.c_mktsegment, count(*) AS n_events,
        |  round(sum(e.value), 4) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "e01_sessionize" ->
      """WITH ev AS (
        |  SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events
        |), g AS (
        |  SELECT user_id, ts, event_id, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM ev
        |), s AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR epoch(ts) - epoch(prev_ts) > 1800.0 THEN 1 ELSE 0 END AS flag
        |  FROM g
        |), t AS (
        |  SELECT *, CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM s
        |) SELECT user_id, session_id, count(*) AS n_events,
        |    round(sum(value), 4) AS session_value
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same session derivation as e01; session identity surfaces as its
    // first event time (= Spark's session_window.start)
    "e05_session_window" ->
      """WITH ev AS (
        |  SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events
        |), g AS (
        |  SELECT user_id, ts, event_id, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM ev
        |), s AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR epoch(ts) - epoch(prev_ts) > 1800.0 THEN 1 ELSE 0 END AS flag
        |  FROM g
        |), t AS (
        |  SELECT *, CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM s
        |) SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
        |    round(sum(value), 4) AS session_value
        |FROM t GROUP BY user_id, session_id ORDER BY 1, 2""".stripMargin,
    "e08_attribution" ->
      """WITH ev AS (
        |  SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events
        |), w AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS last_click_ts
        |  FROM ev
        |), p AS (
        |  SELECT event_id, user_id, ts AS purchase_ts, last_click_ts,
        |    epoch(ts) - epoch(last_click_ts) AS lag_sec,
        |    last_click_ts IS NOT NULL
        |      AND epoch(ts) - epoch(last_click_ts) <= 3600 AS attributed
        |  FROM w WHERE event_type = 'purchase'
        |)
        |SELECT event_id, user_id, purchase_ts,
        |  CASE WHEN attributed THEN round(lag_sec, 4) END AS lag_sec,
        |  attributed
        |FROM p ORDER BY event_id""".stripMargin,
    "e02_stream_window" ->
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
        |  event_type, count(*) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // e27: the streaming hop gate lands exactly e25's batch answer
    "e27_stream_hop_gate" ->
      """WITH ev AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value
        |  FROM events
        |), x AS (
        |  SELECT make_timestamp((us // 900000000) * 900000000
        |      - k * 900000000) AS window_start,
        |    event_type, value
        |  FROM ev, unnest(generate_series(0, 3)) AS t(k)
        |)
        |SELECT window_start, event_type, count(*) AS n,
        |  round(sum(value), 4) AS total_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // e25: each event covers exactly hop/slide = 4 windows whose
    // starts are the slide-grid truncation minus k slides, k = 0..3
    // (ts − start_k ∈ [15k, 15(k+1)) min < 1 h by construction)
    "e25_hopping_window" ->
      """WITH ev AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value
        |  FROM events
        |), x AS (
        |  SELECT make_timestamp((us // 900000000) * 900000000
        |      - k * 900000000) AS window_start,
        |    event_type, value
        |  FROM ev, unnest(generate_series(0, 3)) AS t(k)
        |)
        |SELECT window_start, event_type, count(*) AS n,
        |  round(sum(value), 4) AS total_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // e14: integer moments per type over the bounded window-count
    // table; mean/variance/z written with the SAME operand order as
    // the Spark expression so the doubles are bit-identical, and the
    // UNROUNDED z feeds the threshold in both engines
    "e14_burst" ->
      """WITH cnt AS (
        |  SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
        |    AS window_start, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), stats AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS nw,
        |    CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2
        |  FROM cnt GROUP BY event_type
        |)
        |SELECT c.event_type, c.window_start, c.n,
        |  round(s.s1 / s.nw, 4) + 0 AS mean_n,
        |  round((c.n - s.s1 / s.nw)
        |    / sqrt(s.s2 / s.nw - (s.s1 / s.nw) * (s.s1 / s.nw)), 4) + 0 AS z
        |FROM cnt c JOIN stats s ON c.event_type = s.event_type
        |WHERE s.s2 / s.nw - (s.s1 / s.nw) * (s.s1 / s.nw) > 0
        |  AND (c.n - s.s1 / s.nw)
        |    / sqrt(s.s2 / s.nw - (s.s1 / s.nw) * (s.s1 / s.nw)) > 2.0
        |ORDER BY c.event_type, c.window_start""".stripMargin,
    // e16: the stream-static tagging must reproduce the batch
    // contamination exactly — same oracle as d07 by design
    "e16_stream_static_gate" -> graft.operators.Dedup.oracleSql("d07_contamination"),
    // e19: the streaming ingest-dedup gate must reproduce the batch
    // incremental keep decision exactly — same oracle as d18 by design
    "e19_stream_ingest_gate" -> graft.operators.Dedup.oracleSql("d18_incremental_dedup"),
    // e22: the TTL gate's closed-form keep set — one primary per key
    // per epoch (within-epoch dup dropped while state is provably
    // alive, cross-epoch re-arrival admitted after provable eviction)
    // plus the watermark sentinel; a global-dedup engine would emit
    // half these rows and hash-fail
    "e22_stream_ttl_gate" ->
      """WITH d AS (
        |  SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS h
        |  FROM documents WHERE doc_id < 50
        |)
        |SELECT doc_id AS key, CAST(4000 + 2 * doc_id AS BIGINT) AS ts_sec, h FROM d
        |UNION ALL
        |SELECT doc_id AS key, CAST(14000 + 2 * doc_id AS BIGINT) AS ts_sec, h FROM d
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT) AS key, CAST(9000 AS BIGINT) AS ts_sec,
        |  'sentinel' AS h
        |ORDER BY key, ts_sec""".stripMargin,
    // e24: closed-form batch aggregate over on-time + frontier rows
    // ONLY — the late duplicates contribute nothing; an engine that
    // admits them doubles the first two windows and hash-fails
    "e24_stream_late_gate" ->
      """WITH dd AS (
        |  SELECT doc_id AS d FROM documents WHERE doc_id < 60
        |), ev AS (
        |  SELECT 'x' AS event_type,
        |    make_timestamp((3600000000 + 120000 * d) * 1000) AS ts,
        |    CAST(d AS DOUBLE) AS value
        |  FROM dd
        |  UNION ALL
        |  SELECT 'y',
        |    make_timestamp((3600000000 + 352800000 + 120000 * d) * 1000),
        |    CAST(d AS DOUBLE)
        |  FROM dd WHERE d < 30
        |)
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 4) AS total_value
        |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // e17: the FILE-sink emission path must land the same rows the
    // memory-sink gate (e11) proves — same oracle as e11/e02 by design
    "e17_stream_file_gate" ->
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
        |  event_type, count(*) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // e18: e11's pipeline on the ROCKSDB state store provider — the
    // production out-of-heap state backend must land the identical
    // sink; same oracle as e11/e02 by design
    "e18_stream_rocksdb_gate" ->
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
        |  event_type, count(*) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // e11: the STREAMING state machinery must reproduce the batch
    // aggregate exactly — same oracle as e02 by design
    "e11_stream_window_gate" ->
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
        |  event_type, count(*) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // e15: the flatMapGroupsWithState sessionizer floors event time
    // to seconds, so the gap rule runs on floor(epoch(ts)); ms-ties
    // share a floored second and can't split a session either way
    "e15_stream_session_gate" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS fs, value
        |  FROM events
        |), g AS (
        |  SELECT user_id, ts, fs, value,
        |    CASE WHEN lag(fs) OVER w IS NULL
        |      OR fs - lag(fs) OVER w > 1800 THEN 1 ELSE 0 END AS brk
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), s AS (
        |  SELECT user_id, fs, value,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM g
        |)
        |SELECT user_id, min(fs) AS session_start,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 4) AS session_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    // e13: the streaming two-sided join state must reproduce the
    // batch range join exactly — boundary-inclusive on both ends
    "e13_stream_join_gate" ->
      """WITH ev AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
        |  FROM events
        |), i AS (
        |  SELECT event_id AS imp_id, ts AS imp_ts, user_id
        |  FROM ev WHERE event_type = 'view' AND user_id % 3 = 0
        |), c AS (
        |  SELECT event_id AS click_id, ts AS click_ts, user_id
        |  FROM ev WHERE event_type = 'click' AND user_id % 3 = 0
        |)
        |SELECT i.imp_id, c.click_id, i.user_id, i.imp_ts, c.click_ts
        |FROM i JOIN c ON i.user_id = c.user_id
        |  AND c.click_ts >= i.imp_ts
        |  AND c.click_ts <= i.imp_ts + INTERVAL 240 MINUTE
        |ORDER BY imp_id, click_id""".stripMargin,
    // 6h buckets floor from the epoch origin exactly like Spark's
    // window(); DuckDB's // on DOUBLE is TRUE division, so the floor
    // must be explicit
    "e09_windowed_topk" ->
      """WITH b AS (
        |  SELECT CAST(to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 21600)
        |    AS BIGINT) * 21600) AS TIMESTAMP) AS window_start, event_type
        |  FROM events
        |), c AS (
        |  SELECT window_start, event_type, count(*) AS n FROM b GROUP BY 1, 2
        |), r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY window_start ORDER BY n DESC, event_type) AS rnk
        |  FROM c
        |)
        |SELECT window_start, CAST(rnk AS INT) AS rnk, event_type,
        |  CAST(n AS BIGINT) AS n
        |FROM r WHERE rnk <= 3 ORDER BY window_start, rnk""".stripMargin,
  )
}
