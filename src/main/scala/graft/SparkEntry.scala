package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{CycleAudit, GraphIter, GraphOps, Louvain, Relational}
import graft.functions.TextFuncs
import graft.dedup.Dedup
import graft.multimodal.Media
import graft.similarity.Ann
import graft.streaming.Events

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q2JoinAgg(spark, "/root/testdata/sf0.001")

  /** The key check of `Bench`, `Verify` and `RunOne`, run before their
    * session starts: fails, naming them, on any of `keys` that is not a
    * query. `source` says where the keys came from.
    */
  def requireKnown(keys: Iterable[String], source: String): Unit = {
    val unknown = keys.toSet -- queries.keySet
    require(unknown.isEmpty, s"$source has unknown keys: ${unknown.toSeq.sorted.mkString(",")}")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A. relational core
    "q1_pricing_agg"     -> Relational.q1PricingAgg _,
    "q2_join_agg"        -> Relational.q2JoinAgg _,
    "q2b_bucketed"       -> Relational.q2bBucketed _,
    "q3_topk"            -> Relational.q3TopK _,
    "q4_window_latest"   -> Relational.q4WindowLatest _,
    "q5_semi_join"       -> Relational.q5SemiJoin _,
    "q6_anti_join"       -> Relational.q6AntiJoin _,
    "q7_hierarchy_rollup" -> Relational.q7HierarchyRollup _,
    "q8_conditional_agg" -> Relational.q8ConditionalAgg _,
    "q9_multi_join"      -> Relational.q9MultiJoin _,
    "q10_running_window" -> Relational.q10RunningWindow _,
    "q11_cube"           -> Relational.q11Cube _,
    "q12_multi_distinct" -> Relational.q12MultiDistinct _,
    "q13_rollup_distinct" -> operators.ExactRollup.q13RollupDistinct _,
    "q14_column_profile" -> Relational.q14ColumnProfile _,
    "q15_auto_distinct"  -> Relational.q15AutoDistinct _,
    "q16_skew_probe"     -> Relational.q16SkewProbe _,
    "q17_histogram_quantiles" -> operators.HistogramQuantiles.q17HistogramQuantiles _,
    "q18_cohort_setops"  -> operators.ExactRollup.q18CohortSetops _,
    "q19_delta_agg"      -> Relational.q19DeltaAgg _,
    "q20_adaptive_distinct" -> operators.AdaptiveRollup.q20AdaptiveDistinct _,
    "q21_incremental_quantiles" -> operators.HistogramQuantiles.q21IncrementalQuantiles _,
    "q22_pivot"          -> Relational.q22Pivot _,
    "q23_routed_join"    -> ((s: SparkSession, d: String) => Relational.q23RoutedJoin(s, d)),
    "q24_rollup_rewrite" -> ((s: SparkSession, d: String) => operators.RollupRewrite.q24RollupRewrite(s, d)),
    "q25_grouping_sets"  -> Relational.q25GroupingSets _,
    "q26_rollup_rewrite_agg" -> ((s: SparkSession, d: String) => operators.RollupRewrite.q26RollupRewriteAgg(s, d)),
    "q27_rollup_rewrite_sum" -> ((s: SparkSession, d: String) => operators.RollupRewrite.q27RollupRewriteSum(s, d)),
    "q28_rollup_incremental" -> ((s: SparkSession, d: String) => operators.RollupRewrite.q28RollupIncremental(s, d)),
    // B. graph
    "g1_same_group_pairs" -> ((s: SparkSession, d: String) => GraphOps.g1SameGroupPairs(s, d)),
    "g1b_current_pairs"  -> GraphOps.g1bCurrentPairs _,
    "g2_overlap_pairs"   -> GraphOps.g2OverlapPairs _,
    "g2b_open_overlap"   -> GraphOps.g2bOpenOverlapPairs _,
    "g3_degree"          -> GraphOps.g3Degree _,
    "g4_two_hop"         -> GraphOps.g4TwoHop _,
    "g5_connected_components" -> GraphIter.g5ConnectedComponents _,
    "g6_pagerank"        -> GraphIter.g6PageRank _,
    "g7_triangle_count"  -> GraphIter.g7TriangleCount _,
    "g8_hierarchy_paths" -> GraphOps.g8HierarchyPaths _,
    "g9_shortest_paths"  -> ((s: SparkSession, d: String) => GraphIter.g9ShortestPaths(s, d)),
    "g10_label_propagation" -> GraphIter.g10LabelPropagation _,
    "g11_news_copairs"   -> GraphOps.g11NewsCopairs _,
    "g12_kcore"          -> ((s: SparkSession, d: String) => GraphIter.g12KCore(s, d)),
    "g13_node_similarity" -> ((s: SparkSession, d: String) => GraphOps.g13NodeSimilarity(s, d)),
    "g14_personalized_pagerank" -> ((s: SparkSession, d: String) => GraphIter.g14PersonalizedPagerank(s, d)),
    "g15_incremental_cc" -> ((s: SparkSession, d: String) => GraphIter.g15IncrementalCC(s, d)),
    "g16_closeness"      -> ((s: SparkSession, d: String) => GraphIter.g16Closeness(s, d)),
    "g17_harmonic"       -> ((s: SparkSession, d: String) => GraphIter.g17Harmonic(s, d)),
    "g18_clustering_coeff" -> GraphIter.g18ClusteringCoeff _,
    "g19_butterfly_count" -> ((s: SparkSession, d: String) => GraphOps.g19ButterflyCount(s, d)),
    "g20_link_prediction" -> ((s: SparkSession, d: String) => GraphOps.g20LinkPrediction(s, d)),
    "g21_temporal_reach" -> ((s: SparkSession, d: String) => GraphIter.g21TemporalReach(s, d)),
    "g22_weighted_paths" -> ((s: SparkSession, d: String) => GraphIter.g22WeightedPaths(s, d)),
    "g23_louvain"        -> Louvain.g23Louvain _,
    "g30_weighted_louvain" -> Louvain.g30WeightedLouvain _,
    "g24_betweenness"    -> ((s: SparkSession, d: String) => GraphIter.g24Betweenness(s, d)),
    "g25_random_walks"   -> ((s: SparkSession, d: String) => GraphIter.g25RandomWalks(s, d)),
    "g26_node2vec_walks" -> ((s: SparkSession, d: String) => GraphIter.g26Node2vecWalks(s, d)),
    "g27_cycle_audit"    -> CycleAudit.g27CycleAudit _,
    "g28_walk_cooc"      -> ((s: SparkSession, d: String) => GraphIter.g28WalkCooc(s, d)),
    "g29_scc"            -> CycleAudit.g29Scc _,
    // C. dedup
    "d1_exact_dedup"     -> Dedup.d1ExactDedup _,
    "d2_ngram_jaccard"   -> ((s: SparkSession, d: String) => Dedup.d2NgramJaccard(s, d)),
    "d3_minhash_lsh"     -> ((s: SparkSession, d: String) => Dedup.d3MinHashLsh(s, d)),
    "d4_simhash"         -> Dedup.d4SimHash _,
    "d6_dedup_resolve"   -> ((s: SparkSession, d: String) => Dedup.d6DedupResolve(s, d)),
    "d11_dedup_report"   -> ((s: SparkSession, d: String) => Dedup.d11DedupReport(s, d)),
    "d12_containment"    -> ((s: SparkSession, d: String) => Dedup.d12Containment(s, d)),
    "d13_fuzzy_pairs"    -> ((s: SparkSession, d: String) => Dedup.d13FuzzyPairs(s, d)),
    "d14_substring_spans" -> ((s: SparkSession, d: String) => Dedup.d14SubstringSpans(s, d)),
    "d15_chunk_neardup"  -> ((s: SparkSession, d: String) => Dedup.d15ChunkNearDup(s, d)),
    "d16_bloom_prefilter" -> ((s: SparkSession, d: String) => Dedup.d16BloomPrefilter(s, d)),
    "d17_strip_spans"    -> ((s: SparkSession, d: String) => Dedup.d17StripSpans(s, d)),
    "d18_winnow_fingerprints" -> ((s: SparkSession, d: String) => Dedup.d18WinnowFingerprints(s, d)),
    "d7_incremental_dedup" -> ((s: SparkSession, d: String) => Dedup.d7IncrementalDedup(s, d)),
    "d8_decontaminate"   -> ((s: SparkSession, d: String) => Dedup.d8Decontaminate(s, d)),
    "d9_simhash_pairs"   -> ((s: SparkSession, d: String) => Dedup.d9SimhashPairs(s, d)),
    "d5_embedding_dedup" -> ((s: SparkSession, d: String) => Ann.d5EmbeddingDedup(s, d)),
    "d10_semantic_dedup" -> ((s: SparkSession, d: String) => Ann.d10SemanticDedup(s, d)),
    // D. similarity
    "s1_cosine_topk"     -> ((s: SparkSession, d: String) => Ann.s1CosineTopK(s, d)),
    "s2_lsh_ann"         -> ((s: SparkSession, d: String) => Ann.s2LshAnn(s, d)),
    "s3_centroid_ivf"    -> ((s: SparkSession, d: String) => Ann.s3CentroidIvf(s, d)),
    "s4_knn_join"        -> ((s: SparkSession, d: String) => Ann.s4KnnJoin(s, d)),
    "s5_range_search"    -> ((s: SparkSession, d: String) => Ann.s5RangeSearch(s, d)),
    "s6_kmeans_cluster"  -> ((s: SparkSession, d: String) => similarity.Cluster.s6KmeansCluster(s, d)),
    "s7_pq_search"       -> ((s: SparkSession, d: String) => similarity.Pq.s7PqSearch(s, d)),
    "s8_bm25_topk"       -> ((s: SparkSession, d: String) => functions.Retrieval.s8Bm25TopK(s, d)),
    "s9_ann_auto"        -> ((s: SparkSession, d: String) => Ann.s9AnnAuto(s, d)),
    "s10_ivfpq"          -> ((s: SparkSession, d: String) => similarity.IvfPq.s10IvfPq(s, d)),
    "s11_bm25_indexed"   -> ((s: SparkSession, d: String) => functions.TermIndex.s11Bm25Indexed(s, d)),
    "s12_hybrid_rrf"     -> ((s: SparkSession, d: String) => functions.Hybrid.s12HybridRrf(s, d)),
    "s13_mmr_rerank"     -> ((s: SparkSession, d: String) => similarity.Mmr.s13MmrRerank(s, d)),
    "s14_filtered_ann"   -> ((s: SparkSession, d: String) => Ann.s14FilteredAnn(s, d)),
    "s15_filtered_ivf"   -> ((s: SparkSession, d: String) => Ann.s15FilteredIvf(s, d)),
    "s16_sq8_search"     -> ((s: SparkSession, d: String) => similarity.Sq.s16Sq8Search(s, d)),
    "s17_binary_search"  -> ((s: SparkSession, d: String) => similarity.Bq.s17BinarySearch(s, d)),
    // G. multimodal
    "m1_media_meta"      -> Media.m1MediaMeta _,
    "m2_frame_sample"    -> ((s: SparkSession, d: String) => Media.m2FrameSample(s, d)),
    "m3_resize"          -> ((s: SparkSession, d: String) => Media.m3Resize(s, d)),
    "m4_byte_stats"      -> Media.m4ByteStats _,
    "m5_phash"           -> Media.m5Phash _,
    "m6_phash_pairs"     -> ((s: SparkSession, d: String) => Media.m6PhashPairs(s, d)),
    "m7_media_resolve"   -> Media.m7MediaResolve _,
    "m8_crossmodal_resolve" -> ((s: SparkSession, d: String) => Media.m8CrossModalResolve(s, d)),
    "m9_incremental_media_dedup" -> ((s: SparkSession, d: String) => Media.m9IncrementalMediaDedup(s, d)),
    "m10_byte_drift"     -> ((s: SparkSession, d: String) => Media.m10ByteDrift(s, d)),
    "m11_ppm_decode"     -> Media.m11PpmDecode _,
    "m12_frame_neardup"  -> ((s: SparkSession, d: String) => Media.m12FrameNearDup(s, d)),
    // E. text
    "t1_token_count"     -> TextFuncs.t1TokenCount _,
    "t2_lang_id"         -> TextFuncs.t2LangId _,
    "t3_quality_score"   -> TextFuncs.t3QualityScore _,
    "t4_fingerprint"     -> TextFuncs.t4Fingerprint _,
    "t5_field_extract"   -> TextFuncs.t5FieldExtract _,
    "t6_validate"        -> TextFuncs.t6Validate _,
    "t7_text_clean"      -> TextFuncs.t7TextClean _,
    "t8_pii_mask"        -> TextFuncs.t8PiiMask _,
    "t9_ngram_freq"      -> ((s: SparkSession, d: String) => TextFuncs.t9NgramFreq(s, d)),
    "t10_entity_extract" -> TextFuncs.t10EntityExtract _,
    "t11_bpe_tokens"     -> TextFuncs.t11BpeTokens _,
    "t12_corpus_stats"   -> TextFuncs.t12CorpusStats _,
    "t13_stratified_sample" -> ((s: SparkSession, d: String) => TextFuncs.t13StratifiedSample(s, d)),
    "t14_repetition"     -> TextFuncs.t14Repetition _,
    "t15_domain_stats"   -> TextFuncs.t15DomainStats _,
    "t17_weighted_sample" -> TextFuncs.t17WeightedSample _,
    "t16_seq_pack"       -> ((s: SparkSession, d: String) => TextFuncs.t16SeqPack(s, d)),
    "t18_cost_accounting" -> ((s: SparkSession, d: String) => TextFuncs.t18CostAccounting(s, d)),
    "t19_gram_lm_score"  -> ((s: SparkSession, d: String) => TextFuncs.t19GramLmScore(s, d)),
    "t20_tfidf_terms"    -> ((s: SparkSession, d: String) => TextFuncs.t20TfidfTerms(s, d)),
    "t21_hash_split"     -> TextFuncs.t21HashSplit _,
    "t22_curation_verdict" -> TextFuncs.t22CurationVerdict _,
    "t23_cluster_balance" -> ((s: SparkSession, d: String) => similarity.Cluster.t23ClusterBalance(s, d)),
    "t24_drift_terms"    -> ((s: SparkSession, d: String) => TextFuncs.t24DriftTerms(s, d)),
    "t25_lm_buckets"     -> TextFuncs.t25LmBuckets _,
    "t26_mix_plan"       -> TextFuncs.t26MixPlan _,
    "t27_curation_pipeline" -> functions.CurationPipeline.t27CurationPipeline _,
    "t29_split_leakage"  -> ((s: SparkSession, d: String) => functions.CurationPipeline.t29SplitLeakage(s, d)),
    "t30_heavy_hitters"  -> ((s: SparkSession, d: String) => functions.Frequent.t30HeavyHitters(s, d)),
    "t31_bpe_train"      -> ((s: SparkSession, d: String) => functions.Bpe.t31BpeTrain(s, d)),
    "t32_bpe_encode"     -> ((s: SparkSession, d: String) => functions.Bpe.t32BpeEncode(s, d)),
    "t33_pack_bpe"       -> ((s: SparkSession, d: String) => functions.Bpe.t33PackBpe(s, d)),
    "t34_mix_bpe"        -> ((s: SparkSession, d: String) => functions.Bpe.t34MixBpe(s, d)),
    "t35_tokenizer_fertility" -> ((s: SparkSession, d: String) => functions.Bpe.t35TokenizerFertility(s, d)),
    "h6_fk_audit"        -> sources.Upsert.h6FkAudit _,
    "h7_avro_interchange" -> sources.Formats.h7AvroInterchange _,
    "h8_dynamic_overwrite" -> sources.Formats.h8DynamicOverwrite _,
    // F. events
    "e1_tumbling_agg"    -> Events.e1TumblingAgg _,
    "e2_sessionize"      -> Events.e2Sessionize _,
    "e3_stream_dedup"    -> Events.e3StreamDedup _,
    "e4_funnel"          -> Events.e4Funnel _,
    "e5_asof_join"       -> Events.e5AsofJoin _,
    "e6_interval_join"   -> Events.e6IntervalJoin _,
    "e7_threshold_anomaly" -> Events.e7ThresholdAnomaly _,
    "e8_retention_cohorts" -> Events.e8RetentionCohorts _,
    "e9_window_topk"     -> ((s: SparkSession, d: String) => Events.e9WindowTopk(s, d)),
    "e10_sliding_agg"    -> ((s: SparkSession, d: String) => Events.e10SlidingAgg(s, d)),
    "e11_disorder_probe" -> ((s: SparkSession, d: String) => Events.e11DisorderProbe(s, d)),
    "e12_changelog_compact" -> Events.e12ChangelogCompact _,
    "e13_path_analysis"  -> ((s: SparkSession, d: String) => Events.e13PathAnalysis(s, d)),
    // H. sources / maintenance
    "h1_upsert_dim"      -> ((s: SparkSession, d: String) => sources.Upsert.h1UpsertDim(s, d)),
    "h2_scd2_dim"        -> ((s: SparkSession, d: String) => sources.Upsert.h2Scd2Dim(s, d)),
    "h3_snapshot_diff"   -> ((s: SparkSession, d: String) => sources.Upsert.h3SnapshotDiff(s, d)),
    "h4_scd_asof_join"   -> ((s: SparkSession, d: String) => sources.Upsert.h4ScdAsofJoin(s, d)),
    "h5_zorder_key"      -> ((s: SparkSession, d: String) => sources.Layout.h5ZorderKey(s, d)),
    "h9_manifest_prune"  -> ((s: SparkSession, d: String) => sources.Manifest.h9ManifestPrune(s, d)),
    "h10_time_travel"    -> ((s: SparkSession, d: String) => sources.Snapshots.h10TimeTravel(s, d)),
    "h11_incremental_read" -> ((s: SparkSession, d: String) => sources.Snapshots.h11IncrementalRead(s, d)),
    "h12_stats_prune"    -> ((s: SparkSession, d: String) => sources.Snapshots.h12StatsPrune(s, d)),
    "h13_merge_into"     -> ((s: SparkSession, d: String) => sources.Snapshots.h13MergeInto(s, d)),
    "h14_schema_evolution" -> ((s: SparkSession, d: String) => sources.Snapshots.h14SchemaEvolution(s, d)),
    "h15_mor_delete"     -> ((s: SparkSession, d: String) => sources.Snapshots.h15MorDelete(s, d)),
    "t28_shuffle_export" -> ((s: SparkSession, d: String) => functions.Export.t28ShuffleExport(s, d))
  )

  /** s13's oracle: the full greedy MMR selection unrolled — step t keeps
    * cand minus the selected union, scores `0.5·rel − 0.5·max sim to
    * selected`, and picks the (score desc, cid asc) argmax. Generated
    * because steps 2..5 are structurally identical (the s7 codebook-chain
    * pattern).
    */
  /** The g27/g29 crafted hierarchy fixture (acyclic customer→nation→
    * region pointers + supplier decade rings + part tree-tails), as the
    * body of an `edges(child, parent)` CTE shared by both oracles.
    */
  private val hierFixtureSql: String =
    """  SELECT 'c_' || c_custkey AS child, n_name AS parent
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  UNION ALL
      |  SELECT n_name AS child, r_name AS parent
      |  FROM nation JOIN region ON n_regionkey = r_regionkey
      |  UNION ALL
      |  SELECT 's_' || s_suppkey AS child,
      |    's_' || coalesce(
      |      lead(s_suppkey) OVER (PARTITION BY (s_suppkey - 1) // 10 ORDER BY s_suppkey),
      |      min(s_suppkey) OVER (PARTITION BY (s_suppkey - 1) // 10)) AS parent
      |  FROM supplier
      |  UNION ALL
      |  SELECT 'p_' || p_partkey AS child,
      |    's_' || ((p_partkey % 100) + 1) AS parent
      |  FROM part""".stripMargin

  /** The g25 deterministic-walk corpus as generated per-hop CTEs,
    * ending in `dec (walker, step, node)` with decoded display ids —
    * shared by the g25 gate and its g28 co-occurrence consumer so both
    * oracles recompute the IDENTICAL walks.
    */
  private val g25CorpusCte: String = {
    val hops = (1 to 4).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT w.walker, adj.dst AS node
         |  FROM w${t - 1} w JOIN adj ON w.node = adj.src
         |   AND adj.idx = ((w.walker % 1048573) * 31 + $t * 7 +
         |                  (adj.src % 1048573) * 13) % adj.deg)""".stripMargin
    }.mkString(",\n")
    val union = (0 to 4).map { t =>
      s"SELECT walker, CAST($t AS BIGINT) AS step, node FROM w$t"
    }.mkString("\n  UNION ALL ")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS MATERIALIZED (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |adj AS MATERIALIZED (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
       |    count(*) OVER (PARTITION BY src) AS deg
       |  FROM e),
       |w0 AS (SELECT s_suppkey * 2 + 1 AS walker, s_suppkey * 2 + 1 AS node
       |       FROM supplier WHERE s_suppkey < 16),
       |$hops,
       |allw AS (
       |  $union),
       |dec AS MATERIALIZED (
       |  SELECT
       |    CASE WHEN walker % 2 = 0 THEN 'c_' || CAST(walker // 2 AS VARCHAR)
       |         ELSE 's_' || CAST(walker // 2 AS VARCHAR) END AS walker,
       |    step,
       |    CASE WHEN node % 2 = 0 THEN 'c_' || CAST(node // 2 AS VARCHAR)
       |         ELSE 's_' || CAST(node // 2 AS VARCHAR) END AS node
       |  FROM allw)""".stripMargin
  }

  /** t31's oracle: the BPE training loop unrolled — per round one
    * pair-count CTE, the deterministic best pick, and the islands-idiom
    * greedy merge, all re-derived in SQL (no value is injected from the
    * Spark side; ties break (cnt desc, pair asc) on both engines).
    */
  private val bpeRounds = 6

  /** The shared t31/t32 training CTE chain: vocab, seq0, and per round
    * the pair-count, deterministic best pick and islands merge —
    * ending with `best1..bestN` available to downstream CTEs.
    */
  private val bpeTrainCtes: String = {
    val rounds = bpeRounds
    val roundCtes = (1 to rounds).map { i =>
      s"""pc$i AS MATERIALIZED (
         |  SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT word, freq, sym AS l,
         |      lead(sym) OVER (PARTITION BY word ORDER BY pos) AS r
         |    FROM seq${i - 1})
         |  WHERE r IS NOT NULL GROUP BY l, r),
         |best$i AS MATERIALIZED (
         |  SELECT l, r, cnt FROM pc$i ORDER BY cnt DESC, l, r LIMIT 1),
         |m$i AS (
         |  SELECT word, freq, pos, sym,
         |    CASE WHEN sym = (SELECT l FROM best$i) AND
         |      lead(sym) OVER (PARTITION BY word ORDER BY pos) = (SELECT r FROM best$i)
         |    THEN 1 ELSE 0 END AS mt
         |  FROM seq${i - 1}),
         |isl$i AS (
         |  SELECT *, CASE WHEN mt = 1 THEN pos -
         |    ROW_NUMBER() OVER (PARTITION BY word, mt ORDER BY pos) END AS island
         |  FROM m$i),
         |sel$i AS (
         |  SELECT *, CASE WHEN mt = 1 AND
         |    ROW_NUMBER() OVER (PARTITION BY word, island ORDER BY pos) % 2 = 1
         |  THEN 1 ELSE 0 END AS chosen FROM isl$i),
         |seq$i AS MATERIALIZED (
         |  SELECT word, freq,
         |    ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
         |    CASE WHEN chosen = 1 THEN sym || (SELECT r FROM best$i) ELSE sym END AS sym
         |  FROM (SELECT *, COALESCE(lag(chosen) OVER (PARTITION BY word ORDER BY pos), 0)
         |          AS consumed FROM sel$i)
         |  WHERE consumed = 0)""".stripMargin
    }.mkString(",\n")
    s"""tok AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents),
       |vocab AS MATERIALIZED (
       |  SELECT word, COUNT(*) AS freq FROM tok
       |  WHERE length(word) BETWEEN 2 AND 12
       |  GROUP BY word ORDER BY freq DESC, word LIMIT 500),
       |ps(p) AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10),(11),(12))),
       |seq0 AS MATERIALIZED (
       |  SELECT word, freq, p AS pos, substr(word, p, 1) AS sym
       |  FROM vocab JOIN ps ON p <= length(word)),
       |$roundCtes""".stripMargin
  }

  private val t31OracleSql: String = {
    val union = (1 to bpeRounds).map { i =>
      s"SELECT $i AS round, l AS lhs, r AS rhs, cnt AS pair_cnt FROM best$i"
    }.mkString("\n  UNION ALL ")
    s"""WITH $bpeTrainCtes
       |SELECT round, lhs, rhs, pair_cnt FROM (
       |  $union)
       |ORDER BY round""".stripMargin
  }

  /** The shared t32/t33/t34 ENCODE CTE chain (appended after
    * [[bpeTrainCtes]]): per learned merge one islands-idiom pass over
    * the DISTINCT corpus word table, ending with `agg` =
    * (doc_id, n_words, n_bpe_tokens) available to downstream CTEs.
    */
  private val bpeEncodeCtes: String = {
    val encodeCtes = (1 to bpeRounds).map { i =>
      s"""wm$i AS (
         |  SELECT word, pos, sym,
         |    CASE WHEN sym = (SELECT l FROM best$i) AND
         |      lead(sym) OVER (PARTITION BY word ORDER BY pos) = (SELECT r FROM best$i)
         |    THEN 1 ELSE 0 END AS mt
         |  FROM wseq${i - 1}),
         |wisl$i AS (
         |  SELECT *, CASE WHEN mt = 1 THEN pos -
         |    ROW_NUMBER() OVER (PARTITION BY word, mt ORDER BY pos) END AS island
         |  FROM wm$i),
         |wsel$i AS (
         |  SELECT *, CASE WHEN mt = 1 AND
         |    ROW_NUMBER() OVER (PARTITION BY word, island ORDER BY pos) % 2 = 1
         |  THEN 1 ELSE 0 END AS chosen FROM wisl$i),
         |wseq$i AS MATERIALIZED (
         |  SELECT word,
         |    ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
         |    CASE WHEN chosen = 1 THEN sym || (SELECT r FROM best$i) ELSE sym END AS sym
         |  FROM (SELECT *, COALESCE(lag(chosen) OVER (PARTITION BY word ORDER BY pos), 0)
         |          AS consumed FROM wsel$i)
         |  WHERE consumed = 0)""".stripMargin
    }.mkString(",\n")
    s"""docw AS MATERIALIZED (
       |  SELECT doc_id, word, COUNT(*) AS occ FROM (
       |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |    FROM documents)
       |  WHERE length(word) BETWEEN 2 AND 12
       |  GROUP BY doc_id, word),
       |wseq0 AS MATERIALIZED (
       |  SELECT word, p AS pos, substr(word, p, 1) AS sym
       |  FROM (SELECT DISTINCT word FROM docw) dw JOIN ps ON p <= length(word)),
       |$encodeCtes,
       |enc AS (SELECT word, COUNT(*) AS n_pieces FROM wseq$bpeRounds GROUP BY word),
       |agg AS (
       |  SELECT doc_id, SUM(occ) AS n_words, SUM(occ * n_pieces) AS n_bpe_tokens
       |  FROM docw JOIN enc USING (word) GROUP BY doc_id)""".stripMargin
  }

  /** t32's oracle: the t31 training chain (merge table re-derived, not
    * injected) followed by the encode chain, then the per-document
    * occurrence join.
    */
  private val t32OracleSql: String =
    s"""WITH $bpeTrainCtes,
       |$bpeEncodeCtes
       |SELECT d.doc_id,
       |  CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(COALESCE(a.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
       |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** t33's oracle: the full train+encode chain, then t16's packing
    * running sum billed by n_bpe_tokens instead of whitespace counts.
    */
  private val t33OracleSql: String =
    s"""WITH $bpeTrainCtes,
       |$bpeEncodeCtes,
       |tk AS (
       |  SELECT d.doc_id, CAST(COALESCE(a.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
       |  FROM documents d LEFT JOIN agg a USING (doc_id)),
       |c AS (
       |  SELECT doc_id, n_bpe_tokens,
       |    sum(n_bpe_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_bpe_tokens AS st
       |  FROM tk)
       |SELECT doc_id, n_bpe_tokens,
       |  CAST(st // 2048 AS BIGINT) AS seq_id,
       |  CAST(st % 2048 AS BIGINT) AS seq_offset
       |FROM c ORDER BY doc_id""".stripMargin

  /** t34's oracle: the full train+encode chain, then t26's closed-form
    * water-filling with availability billed by n_bpe_tokens per source.
    */
  private val t34OracleSql: String =
    s"""WITH $bpeTrainCtes,
       |$bpeEncodeCtes,
       |avail AS (
       |  SELECT d.source, CAST(SUM(COALESCE(a.n_bpe_tokens, 0)) AS BIGINT) AS a,
       |    CAST(length(d.source) % 3 + 1 AS BIGINT) AS w
       |  FROM documents d LEFT JOIN agg a USING (doc_id) GROUP BY d.source),
       |tot AS (SELECT sum(a) AS ta, sum(w) AS tw, sum(a) * 9 // 10 AS b FROM avail),
       |s AS (
       |  SELECT source, a, w,
       |    sum(a) OVER (ORDER BY a * 1.0 / w, source) AS ap,
       |    sum(w) OVER (ORDER BY a * 1.0 / w, source) AS wp,
       |    row_number() OVER (ORDER BY a * 1.0 / w, source) AS rk
       |  FROM avail),
       |kk AS (SELECT coalesce(max(rk), 0) AS k FROM s, tot
       |       WHERE a * (tw - wp + w) <= (b - ap + a) * w),
       |fin AS (SELECT coalesce((SELECT ap FROM s, kk WHERE rk = k), 0) AS ak,
       |               coalesce((SELECT wp FROM s, kk WHERE rk = k), 0) AS wk)
       |SELECT s.source, s.a AS avail_tokens, s.w AS weight,
       |  CAST(CASE WHEN s.rk <= kk.k THEN s.a
       |       ELSE (tot.b - fin.ak) * s.w // (tot.tw - fin.wk) END AS BIGINT) AS take_tokens,
       |  CAST(CASE WHEN s.rk <= kk.k THEN 1 ELSE 0 END AS BIGINT) AS capped
       |FROM s, kk, fin, tot ORDER BY s.source""".stripMargin

  /** t35's oracle: the train+encode chain, per-doc word/char/piece
    * sums, then the (lang, source) fold with integer-micro fertility
    * and compression ratios — `//` and Spark's `DIV` agree on the
    * non-negative operands both engines see.
    */
  private val t35OracleSql: String =
    s"""WITH $bpeTrainCtes,
       |$bpeEncodeCtes,
       |dstat AS (
       |  SELECT doc_id, SUM(occ) AS dw, SUM(occ * length(word)) AS dc,
       |    SUM(occ * n_pieces) AS dt
       |  FROM docw JOIN enc USING (word) GROUP BY doc_id)
       |SELECT d.lang, d.source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COALESCE(SUM(s.dw), 0) AS BIGINT) AS n_words,
       |  CAST(COALESCE(SUM(s.dc), 0) AS BIGINT) AS n_word_chars,
       |  CAST(COALESCE(SUM(s.dt), 0) AS BIGINT) AS n_bpe_tokens,
       |  CAST(CASE WHEN COALESCE(SUM(s.dw), 0) > 0
       |       THEN COALESCE(SUM(s.dt), 0) * 1000000 // SUM(s.dw)
       |       ELSE 0 END AS BIGINT) AS fertility_micro,
       |  CAST(CASE WHEN COALESCE(SUM(s.dt), 0) > 0
       |       THEN COALESCE(SUM(s.dc), 0) * 1000000 // SUM(s.dt)
       |       ELSE 0 END AS BIGINT) AS chars_per_token_micro
       |FROM documents d LEFT JOIN dstat s USING (doc_id)
       |GROUP BY d.lang, d.source""".stripMargin

  /** The unrolled deterministic-Louvain CTE chain shared by g23 and g30
    * — the same parity-gated integer local-move algebra as
    * operators.Louvain, one generated CTE block per round, the community
    * contraction, two level-2 rounds, and the fold + min-member
    * canonicalization; parameterized by the weighted base-edge SQL
    * (`e0Sql`: SELECT src, dst, w). (SELECT SUM(w) FROM e) is 2m
    * throughout — the contraction preserves total weight. Ends with
    * `fold(node, com)` and `canon(com, community)` for the caller's
    * final SELECT.
    */
  private def louvainChainCtes(e0Sql: String): String = {
    def round(i: Int, prev: String, e: String, k: String, parity: Int): String =
      s"""cd$i AS MATERIALIZED (SELECT com, SUM(k) AS cd FROM $prev JOIN $k USING (node) GROUP BY com),
         |kic$i AS MATERIALIZED (
         |  SELECT e.src AS node, l.com AS c, SUM(e.w) AS kic
         |  FROM $e e JOIN $prev l ON e.dst = l.node WHERE e.src <> e.dst GROUP BY 1, 2),
         |best$i AS MATERIALIZED (
         |  SELECT node, c AS bc, score AS bscore FROM (
         |    SELECT q.*, row_number() OVER (PARTITION BY node ORDER BY score DESC, c ASC) AS rn
         |    FROM (
         |      SELECT kic.node, kic.c,
         |        (SELECT SUM(w) FROM e) * kic.kic -
         |          k.k * (cd.cd - CASE WHEN l.com = kic.c THEN k.k ELSE CAST(0 AS BIGINT) END) AS score
         |      FROM kic$i kic
         |      JOIN $k k ON k.node = kic.node
         |      JOIN $prev l ON l.node = kic.node
         |      JOIN cd$i cd ON cd.com = kic.c) q) WHERE rn = 1),
         |stay$i AS MATERIALIZED (
         |  SELECT l.node, l.com,
         |    (SELECT SUM(w) FROM e) * COALESCE(kic.kic, CAST(0 AS BIGINT)) -
         |      k.k * (cd.cd - k.k) AS sscore
         |  FROM $prev l JOIN $k k ON k.node = l.node JOIN cd$i cd ON cd.com = l.com
         |  LEFT JOIN kic$i kic ON kic.node = l.node AND kic.c = l.com),
         |l$i AS MATERIALIZED (
         |  SELECT s.node,
         |    CASE WHEN s.node % 2 = $parity AND b.bscore > s.sscore THEN b.bc ELSE s.com END AS com
         |  FROM stay$i s LEFT JOIN best$i b ON b.node = s.node)""".stripMargin
    val l1rounds = (1 to 4).map(i => round(i, s"l${i - 1}", "e", "k", i % 2)).mkString(",\n")
    val l2rounds = Seq(
      round(5, "l20", "e2", "k2", 1),
      round(6, "l5", "e2", "k2", 0)).mkString(",\n")
    s"""e0 AS MATERIALIZED (
       |  $e0Sql),
       |e AS MATERIALIZED (SELECT src, dst, w FROM e0 UNION ALL SELECT dst, src, w FROM e0),
       |k AS MATERIALIZED (SELECT src AS node, SUM(w) AS k FROM e GROUP BY 1),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS com FROM e),
       |$l1rounds,
       |e2 AS MATERIALIZED (
       |  SELECT ls.com AS src, ld.com AS dst, SUM(e.w) AS w
       |  FROM e JOIN l4 ls ON e.src = ls.node JOIN l4 ld ON e.dst = ld.node
       |  GROUP BY 1, 2),
       |k2 AS MATERIALIZED (SELECT src AS node, SUM(w) AS k FROM e2 GROUP BY 1),
       |l20 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS com FROM e2),
       |$l2rounds,
       |fold AS MATERIALIZED (
       |  SELECT l4.node, COALESCE(r.com, l4.com) AS com
       |  FROM l4 LEFT JOIN l6 r ON r.node = l4.com),
       |canon AS MATERIALIZED (SELECT com, MIN(node) AS community FROM fold GROUP BY com)""".stripMargin
  }

  private val s13OracleSql: String = {
    val steps = (2 to 5).map { t =>
      s"""rem$t AS (
         |  SELECT c.* FROM cand c
         |  WHERE NOT EXISTS (SELECT 1 FROM selu${t - 1} s
         |                    WHERE s.query_id = c.query_id AND s.cid = c.cid)),
         |sc$t AS (
         |  SELECT r.query_id, r.cid,
         |    0.5 * any_value(r.rel) - 0.5 * max(list_cosine_similarity(r.e, s.e)) AS score
         |  FROM rem$t r JOIN selu${t - 1} s USING (query_id)
         |  GROUP BY r.query_id, r.cid),
         |sel$t AS (
         |  SELECT query_id, cid, e FROM (
         |    SELECT c.query_id, c.cid, c.e,
         |      row_number() OVER (PARTITION BY c.query_id ORDER BY sc.score DESC, c.cid) AS rn
         |    FROM sc$t sc JOIN cand c ON sc.query_id = c.query_id AND sc.cid = c.cid)
         |  WHERE rn = 1),
         |selu$t AS (SELECT * FROM selu${t - 1} UNION ALL SELECT * FROM sel$t)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to 5).map(t =>
      s"SELECT query_id, CAST($t AS INTEGER) AS rank, cid AS neighbor_id FROM sel$t")
      .mkString("\nUNION ALL ")
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
       |n AS (
       |  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |scored AS (
       |  SELECT query_id, cid, e, list_cosine_similarity(qe, e) AS rel
       |  FROM q CROSS JOIN n WHERE query_id <> cid),
       |cand AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cid) AS rk
       |    FROM scored) WHERE rk <= 10),
       |sel1 AS (SELECT query_id, cid, e FROM cand WHERE rk = 1),
       |selu1 AS (SELECT * FROM sel1),
       |$steps
       |$finals
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Shared t19 LM-score CTE chain, ending in `lm(doc_id, n_bigrams,
    * lm_micro)` — reused by the t25 bucketing oracle.
    */
  private val t19Ctes: String =
    """docs AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |uni AS (
      |  SELECT w, count(*) AS c1
      |  FROM (SELECT unnest(toks) AS w FROM docs) GROUP BY 1),
      |v AS (SELECT count(*) AS vocab FROM uni),
      |bg AS (
      |  SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
      |    unnest(toks[2:len(toks)]) AS w2
      |  FROM docs),
      |bc AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
      |sc AS (
      |  SELECT bg.doc_id, ((bc.c2 + 1) * 1000000) // (u.c1 + v.vocab) AS p_micro
      |  FROM bg JOIN bc USING (w1, w2) JOIN uni u ON bg.w1 = u.w CROSS JOIN v),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_bigrams, sum(p_micro) AS sum_p
      |  FROM sc GROUP BY 1),
      |lm AS (
      |  SELECT d.doc_id, CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |    CAST(a.sum_p // a.n_bigrams AS BIGINT) AS lm_micro
      |  FROM docs d LEFT JOIN agg a USING (doc_id))""".stripMargin

  /** DuckDB CTE chain mirroring [[graft.similarity.Cluster]]'s exact
    * integer k-means (k=8, 2 Lloyd refinements): quantize → assign →
    * integer sum update (twice) → final assign `a2f`. Every step is exact
    * integer arithmetic except the single correctly-rounded D/n² double
    * division, so Spark and DuckDB agree bit-for-bit.
    */
  private val kmeansCtes: String = {
    val dim = 64
    val cap = graft.similarity.Cluster.TrainCap
    val dist = (1 to dim)
      .map(i => s"(c.n*q.qv[$i]-c.s[$i])*(c.n*q.qv[$i]-c.s[$i])")
      .mkString(" + ")
    val sums = (1 to dim).map(i => s"CAST(SUM(qv[$i]) AS BIGINT)").mkString("[", ", ", "]")
    // Lloyd refinements (a1/a2) run over the deterministic md5-ordered
    // training sample qtr (Cluster.trainingSample); the FINAL assignment
    // a2f covers the whole corpus — exactly trainExact + assignFrozen.
    def assignCte(name: String, cPrev: String, src: String): String =
      s"""$name AS (SELECT vec_id, cell, qv FROM (
         |  SELECT q.vec_id, c.cell, q.qv,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      CAST($dist AS DOUBLE)/CAST(c.n*c.n AS DOUBLE), c.cell) AS rn
         |  FROM $src q CROSS JOIN $cPrev c) WHERE rn = 1)""".stripMargin
    def updateCte(name: String, aPrev: String, cPrev: String): String =
      s"""${name}u AS (SELECT cell, $sums AS s, COUNT(*) AS n FROM $aPrev GROUP BY cell),
         |$name AS (SELECT $cPrev.cell, COALESCE(${name}u.s, $cPrev.s) AS s,
         |            COALESCE(${name}u.n, $cPrev.n) AS n
         |          FROM $cPrev LEFT JOIN ${name}u USING (cell))""".stripMargin
    s"""WITH q AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x*512 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |qtr AS (SELECT vec_id, qv FROM q
       |        ORDER BY md5('ktrain:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $cap),
       |c0 AS (SELECT vec_id AS cell, qv AS s, CAST(1 AS BIGINT) AS n FROM q ORDER BY vec_id LIMIT 8),
       |${assignCte("a1", "c0", "qtr")},
       |${updateCte("c1", "a1", "c0")},
       |${assignCte("a2", "c1", "qtr")},
       |${updateCte("c2", "a2", "c1")},
       |${assignCte("a2f", "c2", "q")}""".stripMargin
  }

  /** DuckDB re-derivation of [[graft.similarity.Pq]]: per-subspace exact
    * integer k-means (k=64, 2 refinements) over sliced quantized vectors,
    * half-up rounding to integer codebooks
    * (`(2·(s+512·n)+n) // (2·n) − 512`, numerator non-negative so floor ≡
    * truncate), integer argmin encoding, pure-integer ADC scoring — the
    * whole PQ pipeline re-derived so Spark and DuckDB agree bit-for-bit.
    */
  /** Exact integer BM25 re-derivation, shared by the recompute form (s8)
    * and the persisted-index form (s11) — identical output contract, so
    * one oracle pins both: the index is storage, never semantics.
    */
  private val bm25Ctes: String =
    """WITH tok AS (
      |  SELECT doc_id, t.token
      |  FROM documents, unnest(string_split(text, ' ')) AS t(token)
      |  WHERE length(t.token) >= 5),
      |tf AS (SELECT token, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      |dfs AS (SELECT token, count(*) AS df, sum(tf) AS cnt FROM tf GROUP BY 1),
      |sc AS (SELECT (SELECT count(*) FROM documents) AS n,
      |              (SELECT sum(dl) FROM dl) AS tl),
      |scm AS (SELECT n, tl, tl * 1000 // n AS avgdl_milli FROM sc),
      |ranked AS (
      |  SELECT token, df, row_number() OVER (ORDER BY cnt DESC, token) AS rn
      |  FROM dfs QUALIFY rn <= 8),
      |qt AS (SELECT CAST((rn - 1) // 2 AS BIGINT) AS qid, token, df FROM ranked),
      |scored AS (
      |  SELECT qt.qid, tf.doc_id,
      |    sum(((2 * (scm.n - qt.df) + 1) * 1000 // (2 * qt.df + 1))
      |        * (22000000 * tf.tf //
      |           (10000 * tf.tf + 3000 + 9 * (dl.dl * 1000000 // scm.avgdl_milli)))
      |        // 1000) AS score_micro,
      |    count(*) AS n_terms
      |  FROM tf
      |  JOIN qt USING (token)
      |  JOIN dl USING (doc_id)
      |  CROSS JOIN scm
      |  GROUP BY 1, 2)""".stripMargin

  private val bm25Sql: String =
    s"""$bm25Ctes
      |SELECT qid, doc_id, CAST(score_micro AS BIGINT) AS score_micro,
      |  CAST(n_terms AS BIGINT) AS n_terms, CAST(rnk AS BIGINT) AS rnk
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY qid ORDER BY score_micro DESC, doc_id) AS rnk
      |      FROM scored)
      |WHERE rnk <= 5
      |ORDER BY qid, rnk""".stripMargin

  /** s12's oracle re-derives BOTH legs (the bm25 chain above at kLeg=10
    * plus the s1-shaped cosine ranking) and fuses by exact integer RRF —
    * rank algebra only, so the fused scores are engine-independent.
    */
  private val hybridRrfSql: String =
    s"""$bm25Ctes,
      |lexr AS (
      |  SELECT qid, doc_id, rnk AS r FROM (
      |    SELECT qid, doc_id, row_number() OVER (
      |      PARTITION BY qid ORDER BY score_micro DESC, doc_id) AS rnk
      |    FROM scored)
      |  WHERE rnk <= 10),
      |sq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
      |       FROM embeddings WHERE vec_id < 4),
      |sco AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS ne
      |        FROM embeddings),
      |semscored AS (
      |  SELECT qid, doc_id, list_cosine_similarity(qe, ne) AS sim
      |  FROM sq CROSS JOIN sco),
      |semr AS (
      |  SELECT qid, doc_id, rnk AS r FROM (
      |    SELECT qid, doc_id, row_number() OVER (
      |      PARTITION BY qid ORDER BY sim DESC, doc_id) AS rnk
      |    FROM semscored)
      |  WHERE rnk <= 10),
      |legs AS (SELECT * FROM lexr UNION ALL SELECT * FROM semr),
      |fused AS (
      |  SELECT qid, doc_id,
      |    CAST(sum(1000000 // (60 + r)) AS BIGINT) AS rrf_micro,
      |    CAST(count(*) AS BIGINT) AS n_legs
      |  FROM legs GROUP BY 1, 2)
      |SELECT qid, doc_id, rrf_micro, n_legs, CAST(rnk AS BIGINT) AS rnk
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY qid ORDER BY rrf_micro DESC, doc_id) AS rnk
      |      FROM fused)
      |WHERE rnk <= 10
      |ORDER BY qid, rnk""".stripMargin

  private val pqCtes: String = {
    val subDim = 8
    val m = 8
    val k = 64
    def trainDist(q: String, c: String): String = (1 to subDim)
      .map(i => s"($c.n*$q.qv[$i]-$c.s[$i])*($c.n*$q.qv[$i]-$c.s[$i])")
      .mkString(" + ")
    def intDist(v: String, r: String): String = (1 to subDim)
      .map(i => s"($v.qv[$i]-$r.c[$i])*($v.qv[$i]-$r.c[$i])")
      .mkString(" + ")
    val sums = (1 to subDim).map(i => s"CAST(SUM(qv[$i]) AS BIGINT)").mkString("[", ", ", "]")
    def subspace(s: Int): String = {
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      // MATERIALIZED throughout: DuckDB inlines plain CTEs at every use
      // site, and 8 subspace chains × (enc + qd) references would re-expand
      // the whole training chain 16× — planning alone takes minutes. Each
      // relation here is tiny (≤ corpus × k rows), so materializing is free.
      // Lloyd refinements run over the sampled subspace slice ts$s
      // (Cluster.trainingSample sliced per subspace); init (c0x) comes
      // from the full corpus's first-k subvectors, and encode/query
      // CTEs cover the whole corpus — exactly trainCodebooksOn.
      def assignCte(name: String, cPrev: String): String =
        s"""$name AS MATERIALIZED (SELECT vec_id, cell, qv FROM (
           |  SELECT q.vec_id, c.cell, q.qv,
           |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |      CAST(${trainDist("q", "c")} AS DOUBLE)/CAST(c.n*c.n AS DOUBLE), c.cell) AS rn
           |  FROM ts$s q CROSS JOIN $cPrev c) WHERE rn = 1)""".stripMargin
      def updateCte(name: String, aPrev: String, cPrev: String): String =
        s"""${name}u AS MATERIALIZED (SELECT cell, $sums AS s, COUNT(*) AS n FROM $aPrev GROUP BY cell),
           |$name AS MATERIALIZED (SELECT $cPrev.cell, COALESCE(${name}u.s, $cPrev.s) AS s,
           |            COALESCE(${name}u.n, $cPrev.n) AS n
           |          FROM $cPrev LEFT JOIN ${name}u USING (cell))""".stripMargin
      s"""qs$s AS MATERIALIZED (SELECT vec_id, qv[$lo:$hi] AS qv FROM qz),
         |ts$s AS MATERIALIZED (SELECT vec_id, qv[$lo:$hi] AS qv FROM qztr),
         |c0x$s AS MATERIALIZED (SELECT vec_id AS cell, qv AS s, CAST(1 AS BIGINT) AS n FROM qs$s ORDER BY vec_id LIMIT $k),
         |${assignCte(s"a1x$s", s"c0x$s")},
         |${updateCte(s"c1x$s", s"a1x$s", s"c0x$s")},
         |${assignCte(s"a2x$s", s"c1x$s")},
         |${updateCte(s"c2x$s", s"a2x$s", s"c1x$s")},
         |rc$s AS MATERIALIZED (SELECT cell, list_transform(s, v -> (2*(v + 512*n) + n) // (2*n) - 512) AS c FROM c2x$s),
         |encx$s AS MATERIALIZED (SELECT vec_id, cell AS code FROM (
         |  SELECT v.vec_id, r.cell,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY ${intDist("v", "r")}, r.cell) AS rn
         |  FROM qs$s v CROSS JOIN rc$s r) WHERE rn = 1),
         |qdx$s AS MATERIALIZED (SELECT v.vec_id AS query_id, r.cell AS code, CAST(${intDist("v", "r")} AS BIGINT) AS d
         |  FROM qs$s v CROSS JOIN rc$s r WHERE v.vec_id < 10)""".stripMargin
    }
    s"""WITH qz AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x*512 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |qztr AS MATERIALIZED (SELECT vec_id, qv FROM qz
       |  ORDER BY md5('ktrain:' || CAST(vec_id AS VARCHAR)), vec_id
       |  LIMIT ${graft.similarity.Cluster.TrainCap}),
       |${(0 until m).map(subspace).mkString(",\n")}""".stripMargin
  }

  /** Shared CTE chain re-deriving g7's ordered co-purchase edge list and
    * per-node triangle counts — consumed by the g7 and g18 oracles.
    */
  private val triangleCtes: String =
    """WITH os0 AS (SELECT DISTINCT l_orderkey AS okey, l_suppkey AS s FROM lineitem),
      |os AS (SELECT okey, s, s_nationkey AS nat FROM os0 JOIN supplier ON s = s_suppkey),
      |e AS (SELECT DISTINCT x.s AS a, y.s AS b
      |      FROM os x JOIN os y ON x.okey = y.okey AND x.nat = y.nat AND x.s < y.s),
      |tri AS (
      |  SELECT e1.a, e1.b, e2.b AS c
      |  FROM e e1 JOIN e e2 ON e1.b = e2.a
      |  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)),
      |pn AS (
      |  SELECT s, count(*) AS n FROM (
      |    SELECT a AS s FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
      |  GROUP BY s)""".stripMargin

  /** Shared CTE chain re-deriving [[graft.dedup.Dedup.d14SubstringSpans]]'s
    * covered-window islands (word 8-grams in ≥2 docs, merged into maximal
    * spans) — consumed by both the d14 oracle and d17's strip oracle.
    */
  private val spanCtes: String =
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |wf AS (SELECT doc_id, w FROM words WHERE len(w) >= 8),
      |grams AS (
      |  SELECT doc_id, p, array_to_string(w[p:p+7], ' ') AS g
      |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS p FROM wf)),
      |dup AS (SELECT g FROM grams GROUP BY g HAVING min(doc_id) < max(doc_id)),
      |cov AS (SELECT doc_id, p AS s, p + 7 AS e FROM grams WHERE g IN (SELECT g FROM dup)),
      |isl AS (
      |  SELECT doc_id, s, e,
      |    CASE WHEN s > max(e) OVER (PARTITION BY doc_id ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1 THEN 1 ELSE 0 END AS brk
      |  FROM cov),
      |grp AS (SELECT doc_id, s, e, sum(brk) OVER (PARTITION BY doc_id ORDER BY s) AS gid FROM isl)""".stripMargin

  /** DuckDB re-derivation of [[graft.sources.Layout.zValue]]'s 21-bit
    * interleave — generated shift/mask terms, pure integer.
    */
  private val zvalTerms: String =
    (0 until 21).map { i =>
      s"((((user_id >> $i) & 1) << ${2 * i}) | (((day >> $i) & 1) << ${2 * i + 1}))"
    }.mkString(" | ")

  private val decPrice =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"

  /** DuckDB hex payload of the synthesized media blob (m1/m2): magic bytes
    * by doc_id mod 3, body = UTF-8 text. Mirrors [[graft.multimodal.Media.payload]].
    */
  private val mediaHex =
    """hex((CASE WHEN doc_id % 3 = 0 THEN unhex('89504E470D0A1A0A')
      |          WHEN doc_id % 3 = 1 THEN unhex('FFD8FFE0')
      |          ELSE unhex('52494646') END) || encode(text))""".stripMargin

  /** Shared CTE of the m5/m6 oracles: parse payload hex to a byte list,
    * regroup bytes into the 60 proportional blocks (`j*60 DIV n`), set
    * bit b iff block mean > global mean by exact cross-multiplication —
    * mirrors [[org.apache.spark.sql.graft.BlockAvgHashKernel]]; yields
    * relation `fb` (doc_id, phash, band0..band3).
    */
  /** The BlockAvgHash60 re-derivation chain (bytes → 60 block means vs
    * global mean → fingerprint + bands), parametrized by the source
    * relation (must provide `doc_id, hx`) so the whole-payload oracles
    * (m5/m6/m7/m8) and the frame-sliced one (m12) share one definition.
    */
  private def phashChainFrom(rel: String): String =
    s"""b AS (
       |  SELECT doc_id,
       |    list_transform(range(0, length(hx) // 2), i ->
       |      (strpos('0123456789ABCDEF', substr(hx, CAST(i * 2 + 1 AS INTEGER), 1)) - 1) * 16 +
       |      (strpos('0123456789ABCDEF', substr(hx, CAST(i * 2 + 2 AS INTEGER), 1)) - 1)) AS bytes
       |  FROM $rel),
       |u AS (
       |  SELECT doc_id, len(bytes) AS n, CAST(list_sum(bytes) AS BIGINT) AS s,
       |    unnest(list_transform(range(0, len(bytes)), j ->
       |      {'blk': j * 60 // len(bytes), 'v': bytes[CAST(j + 1 AS INTEGER)]})) AS e
       |  FROM b),
       |g AS (
       |  SELECT doc_id, e.blk AS blk, CAST(sum(e.v) AS BIGINT) AS bs, count(*) AS bc,
       |    max(n) AS n, max(s) AS s
       |  FROM u GROUP BY doc_id, e.blk),
       |f AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN bs * n > s * bc
       |      THEN (CAST(1 AS BIGINT) << CAST(blk AS INTEGER)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS phash
       |  FROM g GROUP BY doc_id),
       |fb AS (SELECT doc_id, phash,
       |  CAST((phash >> 0) & 32767 AS BIGINT) AS band0,
       |  CAST((phash >> 15) & 32767 AS BIGINT) AS band1,
       |  CAST((phash >> 30) & 32767 AS BIGINT) AS band2,
       |  CAST((phash >> 45) & 32767 AS BIGINT) AS band3 FROM f)""".stripMargin

  private def phashCte: String =
    s"""WITH p AS (SELECT doc_id, $mediaHex AS hx FROM documents),
       |${phashChainFrom("p")}""".stripMargin

  /** m12's oracle: the same BlockAvgHash60 chain over FRAME slices —
    * 64-byte frame every 256 bytes (m2's sampling), frame key packed
    * doc_id·2²⁰ + frame_no, cross-media banded pairs at hamming ≤ 6.
    */
  private def m12OracleSql: String =
    s"""WITH p0 AS (SELECT doc_id, $mediaHex AS hx FROM documents),
       |p1 AS (SELECT doc_id, hx, length(hx) // 2 AS n FROM p0),
       |fr AS (
       |  SELECT doc_id * 1048576 + off // 256 AS doc_id,
       |    substr(hx, CAST(off * 2 + 1 AS INTEGER), 128) AS hx
       |  FROM p1, LATERAL (SELECT unnest(range(0, greatest(n - 64, 0) + 1, 256)) AS off)),
       |${phashChainFrom("fr")}
       |SELECT a.doc_id // 1048576 AS media_id1, a.doc_id % 1048576 AS frame1,
       |  b.doc_id // 1048576 AS media_id2, b.doc_id % 1048576 AS frame2,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
       |FROM fb a JOIN fb b ON a.doc_id < b.doc_id
       |WHERE (a.band0 = b.band0 OR a.band1 = b.band1 OR a.band2 = b.band2 OR a.band3 = b.band3)
       |  AND bit_count(xor(a.phash, b.phash)) <= 6
       |  AND a.doc_id // 1048576 <> b.doc_id // 1048576
       |ORDER BY media_id1, frame1, media_id2, frame2""".stripMargin

  /** Shared fingerprint CTE chain of the d4/d9 oracles: parse the first
    * 15 hex chars of md5(gram) as a 60-bit int (list_reduce polynomial
    * eval — DuckDB has no hex→int cast), vote each bit ±1 over the gram
    * list, fold sign bits into the fingerprint. Mirrors
    * [[graft.dedup.Dedup.d4SimHash]] exactly; yields relation `fb`
    * (doc_id, simhash, band0..band3).
    */
  private def simhashCte: String = {
    val hexParse =
      "list_reduce(list_transform(range(1, 16), i -> strpos('0123456789abcdef', substr(md5(s), CAST(i AS INTEGER), 1)) - 1), (a, b) -> a * 16 + b)"
    val bitVotes = (0 until 60).map(i =>
      s"CAST(list_sum(list_transform(hs, h -> CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END)) AS BIGINT) AS b$i")
      .mkString(",\n    ")
    val fp = (0 until 60).map(i =>
      s"(CASE WHEN b$i >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, length(text) - 3), i -> substr(text, CAST(i AS INTEGER), 5))) AS g
       |  FROM documents WHERE length(text) >= 5),
       |hx AS (SELECT doc_id, list_transform(g, s -> $hexParse) AS hs FROM sh),
       |bits AS (SELECT doc_id,
       |    $bitVotes
       |  FROM hx),
       |f AS (SELECT doc_id, $fp AS simhash FROM bits),
       |fb AS (SELECT doc_id, CAST(simhash AS BIGINT) AS simhash,
       |  CAST((simhash >> 0) & 32767 AS BIGINT) AS band0,
       |  CAST((simhash >> 15) & 32767 AS BIGINT) AS band1,
       |  CAST((simhash >> 30) & 32767 AS BIGINT) AS band2,
       |  CAST((simhash >> 45) & 32767 AS BIGINT) AS band3 FROM f)""".stripMargin
  }

  /** Generated m8 oracle — mirrors
    * [[graft.multimodal.Media.m8CrossModalResolve]]: candidates from the
    * union of the perceptual-band tier (phash) and the SimHash-band tier
    * (caption text), verified on BOTH hamming predicates, then recursive
    * connected components with min-id canonical. The phash CTE chain is
    * renamed (m-prefix) so it can share one WITH clause with the simhash
    * chain (both natively yield a relation `fb`).
    */
  private def m8OracleSql: String = {
    val mPhash = Seq("fb", "f", "p", "b", "u", "g")
      .foldLeft(phashCte)((s, n) => s.replaceAll(s"\\b$n\\b", s"m_$n"))
    s"""${mPhash.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |${simhashCte.stripPrefix("WITH ")},
       |cand AS (
       |  SELECT a.doc_id AS ida, b.doc_id AS idb
       |  FROM m_fb a JOIN m_fb b ON a.doc_id < b.doc_id
       |  WHERE (a.band0 = b.band0 OR a.band1 = b.band1 OR
       |         a.band2 = b.band2 OR a.band3 = b.band3)
       |    AND bit_count(xor(a.phash, b.phash)) <= 15
       |  UNION
       |  SELECT a.doc_id, b.doc_id
       |  FROM fb a JOIN fb b ON a.doc_id < b.doc_id
       |  WHERE (a.band0 = b.band0 OR a.band1 = b.band1 OR
       |         a.band2 = b.band2 OR a.band3 = b.band3)
       |    AND bit_count(xor(a.simhash, b.simhash)) <= 15),
       |ver AS (
       |  SELECT c.ida AS a, c.idb AS b FROM cand c
       |  JOIN m_fb ma ON ma.doc_id = c.ida JOIN m_fb mb ON mb.doc_id = c.idb
       |  JOIN fb ta ON ta.doc_id = c.ida JOIN fb tb ON tb.doc_id = c.idb
       |  WHERE bit_count(xor(ma.phash, mb.phash)) <= 15
       |    AND bit_count(xor(ta.simhash, tb.simhash)) <= 15),
       |edges AS (SELECT a, b FROM ver UNION SELECT b, a FROM ver),
       |reach AS (
       |  SELECT a AS node, b AS reachable FROM edges
       |  UNION
       |  SELECT r.node, e.b FROM reach r JOIN edges e ON r.reachable = e.a),
       |comp AS (
       |  SELECT node, least(node, min(reachable)) AS canonical
       |  FROM reach GROUP BY node)
       |SELECT d.doc_id,
       |  coalesce(c.canonical, d.doc_id) AS canonical_id,
       |  CAST(d.doc_id = coalesce(c.canonical, d.doc_id) AS INTEGER) AS is_kept
       |FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
       |ORDER BY d.doc_id""".stripMargin
  }

  private def d4OracleSql: String =
    s"""$simhashCte
       |SELECT doc_id, simhash, band0, band1, band2, band3
       |FROM fb ORDER BY doc_id""".stripMargin

  /** Generated d9 oracle: banded SimHash candidate pairs verified by
    * exact Hamming distance. Mirrors [[graft.dedup.Dedup.d9SimhashPairs]].
    */
  private def d9OracleSql: String =
    s"""$simhashCte
       |SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM fb a JOIN fb b ON a.doc_id < b.doc_id
       |WHERE (a.band0 = b.band0 OR a.band1 = b.band1 OR a.band2 = b.band2 OR a.band3 = b.band3)
       |  AND bit_count(xor(a.simhash, b.simhash)) <= 15
       |ORDER BY doc_id1, doc_id2""".stripMargin

  /** Generated g6 oracle: 10 unrolled fixed-point power-iteration steps.
    * All-integer arithmetic (floor divisions, micro-units) makes the
    * recurrence aggregation-order-independent, hence portably exact —
    * mirrors [[graft.operators.GraphIter.pageRankMicro]].
    */
  private def g6OracleSql: String = {
    val steps = (1 to 10).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node, 150000 + (85 * sum(r${i - 1}.rank // deg.deg)) // 100 AS rank
         |  FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node JOIN deg ON e.src = deg.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT 'c_' || o_custkey AS src, 's_' || l_suppkey AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
       |$steps
       |SELECT node, CAST(rank AS BIGINT) AS rank_micro FROM r10 ORDER BY node""".stripMargin
  }

  /** Generated g10 oracle: 4 unrolled synchronous label-propagation
    * steps. The argmax tie-break (count desc, label asc) is realized as a
    * row_number pick — deterministic, hence portably exact; mirrors
    * [[graft.operators.GraphIter.labelPropagation]].
    */
  /** Generated g14 oracle: 6 unrolled personalized-PageRank steps —
    * per-step flow aggregate then a UNION ALL of the seed restart base,
    * mirroring [[graft.operators.GraphIter.personalizedPageRankMicro]]'s
    * exact integer arithmetic.
    */
  private def g14OracleSql: String = {
    val steps = (1 to 6).map { i =>
      s"""f$i AS (
         |  SELECT e.dst AS node, (85 * sum(r${i - 1}.rank // deg.deg)) // 100 AS v
         |  FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node JOIN deg ON e.src = deg.src
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT node, CAST(sum(v) AS BIGINT) AS rank FROM (
         |    SELECT node, v FROM f$i
         |    UNION ALL SELECT node, CAST(150000 AS BIGINT) AS v FROM seeds)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |seeds AS (
       |  SELECT c_custkey * 2 AS node FROM customer WHERE c_custkey % 100 = 0),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM seeds),
       |$steps
       |SELECT
       |  CASE WHEN node % 2 = 0 THEN 'c_' || CAST(node // 2 AS VARCHAR)
       |       ELSE 's_' || CAST(node // 2 AS VARCHAR) END AS node,
       |  rank AS rank_micro
       |FROM r6 ORDER BY node""".stripMargin
  }

  private def g10OracleSql: String = {
    val steps = (1 to 4).map { i =>
      s"""l$i AS (
         |  SELECT node, label FROM (
         |    SELECT e.dst AS node, l${i - 1}.label AS label,
         |      row_number() OVER (PARTITION BY e.dst
         |        ORDER BY count(*) DESC, l${i - 1}.label ASC) AS rn
         |    FROM e JOIN l${i - 1} ON e.src = l${i - 1}.node
         |    GROUP BY e.dst, l${i - 1}.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |$steps
       |SELECT
       |  CASE WHEN node % 2 = 0 THEN 'c_' || CAST(node // 2 AS VARCHAR)
       |       ELSE 's_' || CAST(node // 2 AS VARCHAR) END AS node,
       |  CASE WHEN label % 2 = 0 THEN 'c_' || CAST(label // 2 AS VARCHAR)
       |       ELSE 's_' || CAST(label // 2 AS VARCHAR) END AS label
       |FROM l4 ORDER BY node""".stripMargin
  }

  /** DuckDB-dialect oracle SQL per query key; bare table names resolve to
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] = Map(
    "g6_pagerank" -> g6OracleSql,
    "g14_personalized_pagerank" -> g14OracleSql,
    "g15_incremental_cc" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |reach AS (
        |  SELECT src AS node, src AS r FROM e
        |  UNION
        |  SELECT reach.node, e.dst AS r FROM reach JOIN e ON reach.r = e.src),
        |cc AS (SELECT node, min(r) AS label FROM reach GROUP BY node)
        |SELECT
        |  CASE WHEN node % 2 = 0 THEN 'c_' || CAST(node // 2 AS VARCHAR)
        |       ELSE 's_' || CAST(node // 2 AS VARCHAR) END AS node,
        |  CASE WHEN label % 2 = 0 THEN 'c_' || CAST(label // 2 AS VARCHAR)
        |       ELSE 's_' || CAST(label // 2 AS VARCHAR) END AS component
        |FROM cc ORDER BY node""".stripMargin,
    "g10_label_propagation" -> g10OracleSql,
    "e9_window_topk" ->
      """WITH c AS (
        |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
        |    user_id, count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT hour_ts, user_id, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(row_number() OVER (PARTITION BY hour_ts
        |    ORDER BY cnt DESC, user_id) AS BIGINT) AS rank
        |FROM c
        |QUALIFY rank <= 3
        |ORDER BY hour_ts, rank""".stripMargin,
    "g13_node_similarity" ->
      """WITH e AS (
        |  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |deg AS (SELECT s, count(*) AS d FROM e GROUP BY 1),
        |hubs AS (SELECT c FROM e GROUP BY c HAVING count(*) > 50),
        |pe AS (SELECT s, c FROM e WHERE c NOT IN (SELECT c FROM hubs)),
        |com AS (
        |  SELECT a.s AS s1, b.s AS s2, count(*) AS common
        |  FROM pe a JOIN pe b ON a.c = b.c AND a.s < b.s GROUP BY 1, 2),
        |sym AS (SELECT s1, s2, common FROM com
        |        UNION ALL SELECT s2, s1, common FROM com),
        |sc AS (
        |  SELECT sym.s1, sym.s2, sym.common,
        |    (sym.common * 1000000) // (d1.d + d2.d - sym.common) AS jaccard_micro
        |  FROM sym JOIN deg d1 ON sym.s1 = d1.s JOIN deg d2 ON sym.s2 = d2.s)
        |SELECT s1 AS node, s2 AS neighbor, CAST(common AS BIGINT) AS common,
        |  CAST(jaccard_micro AS BIGINT) AS jaccard_micro,
        |  CAST(row_number() OVER (PARTITION BY s1
        |    ORDER BY jaccard_micro DESC, s2) AS BIGINT) AS rank
        |FROM sc
        |QUALIFY rank <= 5
        |ORDER BY node, rank""".stripMargin,
    // g21: the three foremost-arrival relaxations unrolled — each hop
    // admits only edges with d >= the relayed arrival and folds by min.
    "g21_temporal_reach" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s,
        |    CAST(epoch(l_shipdate) AS BIGINT) // 86400 AS d
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |seeds AS (
        |  SELECT c_custkey AS c, CAST(0 AS BIGINT) AS arr FROM customer
        |  WHERE c_custkey % 500 = 0),
        |s1 AS (
        |  SELECT e.s, min(e.d) AS arr FROM e JOIN seeds ON e.c = seeds.c
        |  WHERE e.d >= seeds.arr GROUP BY e.s),
        |c2 AS (
        |  SELECT c, min(arr) AS arr FROM (
        |    SELECT e.c, min(e.d) AS arr FROM e JOIN s1 ON e.s = s1.s
        |    WHERE e.d >= s1.arr GROUP BY e.c
        |    UNION ALL SELECT c, arr FROM seeds) GROUP BY c),
        |s2 AS (
        |  SELECT s, min(arr) AS arr FROM (
        |    SELECT e.s, min(e.d) AS arr FROM e JOIN c2 ON e.c = c2.c
        |    WHERE e.d >= c2.arr GROUP BY e.s
        |    UNION ALL SELECT s, arr FROM s1) GROUP BY s)
        |SELECT side, node_id, foremost_day FROM (
        |  SELECT 'customer' AS side, c AS node_id, arr AS foremost_day FROM c2
        |  UNION ALL SELECT 'supplier', s, arr FROM s2)
        |ORDER BY side, node_id""".stripMargin,
    "g20_link_prediction" ->
      """WITH e AS (
        |  SELECT DISTINCT l_suppkey AS s, o_custkey AS c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |cd AS (SELECT c, count(*) AS cd FROM e GROUP BY 1),
        |pe AS (SELECT s, e.c, cd FROM e JOIN cd ON e.c = cd.c WHERE cd <= 50),
        |com AS (
        |  SELECT a.s AS s1, b.s AS s2,
        |    sum(1000000000 // a.cd) AS ra_nano, count(*) AS common
        |  FROM pe a JOIN pe b ON a.c = b.c AND a.s < b.s GROUP BY 1, 2),
        |sym AS (SELECT s1, s2, ra_nano, common FROM com
        |        UNION ALL SELECT s2, s1, ra_nano, common FROM com)
        |SELECT s1 AS node, s2 AS neighbor, CAST(common AS BIGINT) AS common,
        |  CAST(ra_nano AS BIGINT) AS ra_nano,
        |  CAST(row_number() OVER (PARTITION BY s1
        |    ORDER BY ra_nano DESC, s2) AS BIGINT) AS rank
        |FROM sym
        |QUALIFY rank <= 5
        |ORDER BY node, rank""".stripMargin,
    "g12_kcore" ->
      """WITH eu AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e0 AS (SELECT src, dst FROM eu UNION SELECT dst, src FROM eu),
        |k1 AS (SELECT src FROM e0 GROUP BY 1 HAVING count(*) >= 20),
        |e1 AS (SELECT e.src, e.dst FROM e0 e
        |       JOIN k1 a ON e.src = a.src JOIN k1 b ON e.dst = b.src),
        |k2 AS (SELECT src FROM e1 GROUP BY 1 HAVING count(*) >= 20),
        |e2 AS (SELECT e.src, e.dst FROM e1 e
        |       JOIN k2 a ON e.src = a.src JOIN k2 b ON e.dst = b.src),
        |k3 AS (SELECT src FROM e2 GROUP BY 1 HAVING count(*) >= 20),
        |e3 AS (SELECT e.src, e.dst FROM e2 e
        |       JOIN k3 a ON e.src = a.src JOIN k3 b ON e.dst = b.src),
        |k4 AS (SELECT src FROM e3 GROUP BY 1 HAVING count(*) >= 20),
        |e4 AS (SELECT e.src, e.dst FROM e3 e
        |       JOIN k4 a ON e.src = a.src JOIN k4 b ON e.dst = b.src)
        |SELECT CASE WHEN src % 2 = 0 THEN 'c_' || CAST(src // 2 AS VARCHAR)
        |            ELSE 's_' || CAST(src // 2 AS VARCHAR) END AS node,
        |  CAST(count(*) AS BIGINT) AS deg
        |FROM e4 GROUP BY 1 ORDER BY node""".stripMargin,
    "q1_pricing_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  count(*) AS cnt,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         |  CAST(sum($decPrice) AS DOUBLE) AS sum_disc_price,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
         |FROM lineitem WHERE l_quantity < 45
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join_agg" ->
      s"""SELECT n_name,
         |  CAST(sum($decPrice) AS DOUBLE) AS revenue,
         |  count(DISTINCT o_orderkey) AS n_orders
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // Same result as q2 — the variant differs only in storage layout.
    "q2b_bucketed" ->
      s"""SELECT n_name,
         |  CAST(sum($decPrice) AS DOUBLE) AS revenue,
         |  count(DISTINCT o_orderkey) AS n_orders
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q3_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q4_window_latest" ->
      """SELECT o_custkey, o_orderkey AS latest_orderkey, o_orderdate AS latest_orderdate
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q5_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "q6_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q7_hierarchy_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region_name, coalesce(n_name, 'ALL') AS nation_name,
        |  count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region_name, nation_name""".stripMargin,
    "q8_conditional_agg" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending,
        |  count(*) AS n_total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q9_multi_join" ->
      """SELECT p_brand,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(DISTINCT s_suppkey) AS n_suppliers
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q10_running_window" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q11_cube" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS mktsegment,
        |  coalesce(o_orderstatus, 'ALL') AS orderstatus,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY CUBE(c_mktsegment, o_orderstatus)
        |ORDER BY mktsegment, orderstatus""".stripMargin,
    "q25_grouping_sets" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS mktsegment,
        |  coalesce(o_orderstatus, 'ALL') AS orderstatus,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY GROUPING SETS ((c_mktsegment, o_orderstatus), (c_mktsegment), ())
        |ORDER BY mktsegment, orderstatus""".stripMargin,
    "q12_multi_distinct" ->
      """SELECT l_returnflag, l_linestatus,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q13_rollup_distinct" ->
      """WITH d AS (
        |  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
        |    event_type, user_id
        |  FROM events),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM d)
        |SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM d, b
        |WHERE day BETWEEN lo + (hi - lo) // 4 AND hi - (hi - lo) // 4
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // q24: the MV-rewritten plan must agree with count(DISTINCT) over
    // raw rows — same range convention as q13 (the rewrite changes the
    // PLAN, never the answer, and the gate is exactly that claim).
    "q24_rollup_rewrite" ->
      """WITH d AS (
        |  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
        |    event_type, user_id
        |  FROM events),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM d)
        |SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM d, b
        |WHERE day BETWEEN lo + (hi - lo) // 4 AND hi - (hi - lo) // 4
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q26_rollup_rewrite_agg" ->
      """WITH d AS (
        |  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
        |    event_type, user_id
        |  FROM events),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM d)
        |SELECT event_type,
        |  count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM d, b
        |WHERE day BETWEEN lo + (hi - lo) // 4 AND hi - (hi - lo) // 4
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // q27: the SUM shape — floor(value·1000) is exact integer milli
    // units on both engines (IEEE double product, floor, then integer
    // accumulation), so the cell-store re-aggregation the rewrite
    // substitutes must match bit for bit.
    "q27_rollup_rewrite_sum" ->
      """WITH d AS (
        |  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
        |    event_type, user_id, value
        |  FROM events),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM d)
        |SELECT event_type,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_value_milli,
        |  count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM d, b
        |WHERE day BETWEEN lo + (hi - lo) // 4 AND hi - (hi - lo) // 4
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // q28: the SAME stat block as q27, but the registered store was
    // built incrementally (first-half build + appendDelta fold of the
    // rest). The oracle recomputes from ALL raw rows — a fold that
    // loses, double-counts, or mis-merges any cell hash-mismatches.
    "q28_rollup_incremental" ->
      """WITH d AS (
        |  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
        |    event_type, user_id, value
        |  FROM events),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM d)
        |SELECT event_type,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_value_milli,
        |  count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM d, b
        |WHERE day BETWEEN lo + (hi - lo) // 4 AND hi - (hi - lo) // 4
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q20_adaptive_distinct" ->
      """WITH d AS (
        |  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
        |    event_type, user_id
        |  FROM events),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM d)
        |SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users
        |FROM d, b
        |WHERE day BETWEEN lo + (hi - lo) // 4 AND hi - (hi - lo) // 4
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // The oracle computes quantiles over the FULL table: matching it
    // proves the stored-cells + delta-batch fold is identical to a
    // rebuild from all history, end to end through the quantile windows.
    "q21_incremental_quantiles" ->
      """WITH a AS (
        |  SELECT l_returnflag,
        |    quantile_disc(CAST(l_quantity AS BIGINT), [0.25, 0.5, 0.75, 0.95]) AS vs
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST([25, 50, 75, 95][i] AS INTEGER) AS p,
        |  CAST(vs[i] AS BIGINT) AS value
        |FROM a CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS i)
        |ORDER BY l_returnflag, p""".stripMargin,
    // t30: exact heavy hitters — the oracle is the NAIVE exact top-k
    // (domain-sized aggregate), route-blind; k=10 < the distinct ≥5-char
    // vocabulary so the engine's CERTIFIED sketch→recount route answers
    // here and must be bit-identical to the exact aggregate.
    "t30_heavy_hitters" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE length(token) >= 5
        |GROUP BY token
        |ORDER BY n DESC, token
        |LIMIT 10""".stripMargin,
    "t31_bpe_train" -> t31OracleSql,
    "t32_bpe_encode" -> t32OracleSql,
    "t33_pack_bpe" -> t33OracleSql,
    "t34_mix_bpe" -> t34OracleSql,
    "t35_tokenizer_fertility" -> t35OracleSql,
    // t29: cross-split near-dup leakage — t21's md5 split re-derived
    // (the t21 oracle's nibble fold) joined onto the exact ≥0.8 pair
    // set (sound stand-in for the banded path, the d3 argument),
    // canonicalized by pipeline rank (train < val < test).
    "t29_split_leakage" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, length(text) - 3), i -> substr(text, CAST(i AS INTEGER), 5))) AS g
        |  FROM documents WHERE length(text) >= 5),
        |p AS (
        |  SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.g, b.g)) * 1.0 / len(list_distinct(list_concat(a.g, b.g))) >= 0.8),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN u < 800 THEN 'train' WHEN u < 900 THEN 'val' ELSE 'test' END AS split,
        |    CASE WHEN u < 800 THEN 0 WHEN u < 900 THEN 1 ELSE 2 END AS rk
        |  FROM (SELECT doc_id, list_reduce(list_transform(range(1, 13),
        |    i -> strpos('0123456789abcdef', substr(md5(text), CAST(i AS INTEGER), 1)) - 1),
        |    (a, b) -> a * 16 + b) % 1000 AS u FROM documents)),
        |j AS (
        |  SELECT CASE WHEN s1.rk <= s2.rk THEN s1.split ELSE s2.split END AS split_early,
        |         CASE WHEN s1.rk <= s2.rk THEN s2.split ELSE s1.split END AS split_late,
        |         CASE WHEN s1.rk <= s2.rk THEN p.doc_id2 ELSE p.doc_id1 END AS late_doc
        |  FROM p JOIN sp s1 ON p.doc_id1 = s1.doc_id JOIN sp s2 ON p.doc_id2 = s2.doc_id
        |  WHERE s1.split <> s2.split)
        |SELECT split_early, split_late, count(*) AS n_pairs, count(DISTINCT late_doc) AS n_leaked_docs
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // t27: the staged attrition CASE re-derived end to end — t22's keep
    // verdict, keep-min exact dedup, the EXACT near-dup join over stage-2
    // survivors (sound stand-in for the banded path: recall 1 − 5e-8 at
    // the 0.8 threshold, the d3 argument), and d8's 7-gram holdout
    // screen over stage-3 survivors. Stage sets must match the Spark
    // side's sequential semantics exactly or the counts drift.
    "t27_curation_pipeline" ->
      """WITH corpus AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
        |f AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    length(text) AS n_chars FROM corpus),
        |h AS (SELECT doc_id,
        |    len(regexp_extract_all(text, '\b(the|and|of)\b')) AS hits_en,
        |    len(regexp_extract_all(text, '\b(der|die|das|und)\b')) AS hits_de,
        |    len(regexp_extract_all(text, '\b(el|los|las|una)\b')) AS hits_es,
        |    len(regexp_extract_all(text, '\b(le|les|une|est)\b')) AS hits_fr,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS hits_zh
        |  FROM corpus),
        |b AS (SELECT doc_id, hits_en, hits_de, hits_es, hits_fr, hits_zh,
        |  greatest(hits_en, hits_de, hits_es, hits_fr, hits_zh) AS best FROM h),
        |lang AS (SELECT doc_id,
        |  CASE WHEN best > 0 AND hits_en = best THEN 'en'
        |       WHEN best > 0 AND hits_de = best THEN 'de'
        |       WHEN best > 0 AND hits_es = best THEN 'es'
        |       WHEN best > 0 AND hits_fr = best THEN 'fr'
        |       WHEN best > 0 AND hits_zh = best THEN 'zh'
        |       ELSE 'und' END AS pred_lang FROM b),
        |toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM corpus WHERE length(trim(text)) > 0),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w),
        |st AS (SELECT doc_id, sum(c) AS n_words, count(*) AS nd, max(c) AS best FROM wc GROUP BY doc_id),
        |rep AS (SELECT doc_id,
        |  CAST(best * 1000000 // n_words >= 100000
        |    OR (n_words - nd) * 1000000 // n_words >= 600000 AS INTEGER) AS repetition_flag
        |  FROM st),
        |keepf AS MATERIALIZED (SELECT f.doc_id,
        |  CASE WHEN (f.n_chars >= 100 AND f.n_chars <= 20000 AND f.n_tokens >= 20)
        |        AND coalesce(r.repetition_flag, 0) = 0 AND l.pred_lang <> 'und'
        |       THEN 1 ELSE 0 END AS keep
        |  FROM f JOIN lang l USING (doc_id) LEFT JOIN rep r USING (doc_id)),
        |q1 AS MATERIALIZED (SELECT c.doc_id, c.text FROM corpus c JOIN keepf k USING (doc_id) WHERE k.keep = 1),
        |ex AS MATERIALIZED (SELECT doc_id, text,
        |  min(doc_id) OVER (PARTITION BY md5(text)) AS min_id FROM q1),
        |s2 AS MATERIALIZED (SELECT doc_id, text FROM ex WHERE doc_id = min_id),
        |sh AS MATERIALIZED (SELECT doc_id,
        |    list_distinct(list_transform(range(1, length(text) - 3), i -> substr(text, CAST(i AS INTEGER), 5))) AS g
        |  FROM s2 WHERE length(text) >= 5),
        |nd3 AS MATERIALIZED (SELECT DISTINCT b.doc_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.g, b.g)) * 1.0 / len(list_distinct(list_concat(a.g, b.g))) >= 0.8),
        |s3 AS MATERIALIZED (SELECT doc_id, text FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM nd3)),
        |eg AS MATERIALIZED (SELECT DISTINCT unnest(list_distinct(list_transform(range(1, length(text) - 5), i -> substr(text, CAST(i AS INTEGER), 7)))) AS g
        |  FROM documents WHERE doc_id % 97 = 0 AND length(text) >= 7),
        |tg AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, length(text) - 5), i -> substr(text, CAST(i AS INTEGER), 7)))) AS g
        |  FROM s3 WHERE length(text) >= 7),
        |hsh AS (SELECT doc_id, count(*) AS shared FROM tg JOIN eg USING (g) GROUP BY doc_id),
        |tot AS (SELECT doc_id,
        |    len(list_distinct(list_transform(range(1, length(text) - 5), i -> substr(text, CAST(i AS INTEGER), 7)))) AS n_grams
        |  FROM s3 WHERE length(text) >= 7),
        |nd4 AS MATERIALIZED (SELECT t.doc_id FROM tot t JOIN hsh h2 ON t.doc_id = h2.doc_id
        |  WHERE h2.shared * 1000000 // t.n_grams >= 500000),
        |labels AS (
        |  SELECT c.doc_id,
        |    CASE WHEN k.keep = 0 THEN 1
        |         WHEN c.doc_id IN (SELECT doc_id FROM ex WHERE doc_id <> min_id) THEN 2
        |         WHEN c.doc_id IN (SELECT doc_id FROM nd3) THEN 3
        |         WHEN c.doc_id IN (SELECT doc_id FROM nd4) THEN 4
        |         ELSE 5 END AS stage_no
        |  FROM corpus c JOIN keepf k USING (doc_id))
        |SELECT CAST(stage_no AS BIGINT) AS stage_no,
        |  CASE stage_no WHEN 1 THEN 'quality' WHEN 2 THEN 'exact_dup' WHEN 3 THEN 'near_dup'
        |       WHEN 4 THEN 'contaminated' ELSE 'kept' END AS stage,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM labels GROUP BY stage_no ORDER BY stage_no""".stripMargin,
    "t26_mix_plan" ->
      """WITH avail AS (
        |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS a,
        |    CAST(length(source) % 3 + 1 AS BIGINT) AS w
        |  FROM documents GROUP BY source),
        |tot AS (SELECT sum(a) AS ta, sum(w) AS tw, sum(a) * 9 // 10 AS b FROM avail),
        |s AS (
        |  SELECT source, a, w,
        |    sum(a) OVER (ORDER BY a * 1.0 / w, source) AS ap,
        |    sum(w) OVER (ORDER BY a * 1.0 / w, source) AS wp,
        |    row_number() OVER (ORDER BY a * 1.0 / w, source) AS rk
        |  FROM avail),
        |kk AS (SELECT coalesce(max(rk), 0) AS k FROM s, tot
        |       WHERE a * (tw - wp + w) <= (b - ap + a) * w),
        |fin AS (SELECT coalesce((SELECT ap FROM s, kk WHERE rk = k), 0) AS ak,
        |               coalesce((SELECT wp FROM s, kk WHERE rk = k), 0) AS wk)
        |SELECT s.source, s.a AS avail_tokens, s.w AS weight,
        |  CAST(CASE WHEN s.rk <= kk.k THEN s.a
        |       ELSE (tot.b - fin.ak) * s.w // (tot.tw - fin.wk) END AS BIGINT) AS take_tokens,
        |  CAST(CASE WHEN s.rk <= kk.k THEN 1 ELSE 0 END AS BIGINT) AS capped
        |FROM s, kk, fin, tot ORDER BY s.source""".stripMargin,
    "q19_delta_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
        |FROM lineitem WHERE l_quantity < 45
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q18_cohort_setops" ->
      """WITH d AS (
        |  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
        |    event_type, user_id
        |  FROM events),
        |bnd AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
        |m AS (SELECT lo + (hi - lo) // 2 AS mid FROM bnd),
        |ca AS (SELECT DISTINCT event_type, user_id FROM d, m WHERE day < mid),
        |cb AS (SELECT DISTINCT event_type, user_id FROM d, m WHERE day >= mid),
        |et AS (SELECT DISTINCT event_type FROM d),
        |na AS (SELECT event_type, count(*) AS n FROM ca GROUP BY event_type),
        |nb AS (SELECT event_type, count(*) AS n FROM cb GROUP BY event_type),
        |nr AS (SELECT event_type, count(*) AS n
        |       FROM (SELECT event_type, user_id FROM ca INTERSECT SELECT event_type, user_id FROM cb)
        |       GROUP BY event_type)
        |SELECT et.event_type,
        |  CAST(coalesce(na.n, 0) AS BIGINT) AS n_users_a,
        |  CAST(coalesce(nb.n, 0) AS BIGINT) AS n_users_b,
        |  CAST(coalesce(nr.n, 0) AS BIGINT) AS returning_users,
        |  CAST(coalesce(na.n, 0) - coalesce(nr.n, 0) AS BIGINT) AS churned_users,
        |  CAST(coalesce(nb.n, 0) - coalesce(nr.n, 0) AS BIGINT) AS new_users
        |FROM et
        |LEFT JOIN na USING (event_type)
        |LEFT JOIN nb USING (event_type)
        |LEFT JOIN nr USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "q15_auto_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q17_histogram_quantiles" ->
      """WITH a AS (
        |  SELECT l_returnflag,
        |    quantile_disc(CAST(l_quantity AS BIGINT), [0.25, 0.5, 0.75, 0.95]) AS vs
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST([25, 50, 75, 95][i] AS INTEGER) AS p,
        |  CAST(vs[i] AS BIGINT) AS value
        |FROM a CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS i)
        |ORDER BY l_returnflag, p""".stripMargin,
    "q16_skew_probe" -> {
      def probe(rel: String, key: String): String =
        s"""SELECT '$rel' AS relation, '$key' AS key,
           |  CAST(length(bin(sz)) - 1 AS BIGINT) AS bucket_log2,
           |  CAST(count(*) AS BIGINT) AS n_groups,
           |  CAST(sum(sz) AS BIGINT) AS n_rows,
           |  CAST(max(sz) AS BIGINT) AS max_group
           |FROM (SELECT $key, count(*) AS sz FROM $rel GROUP BY $key)
           |GROUP BY 1, 2, 3""".stripMargin
      s"""${probe("lineitem", "l_orderkey")}
         |UNION ALL
         |${probe("lineitem", "l_suppkey")}
         |UNION ALL
         |${probe("documents", "lang")}
         |ORDER BY relation, key, bucket_log2""".stripMargin
    },
    "m9_incremental_media_dedup" ->
      s"""$phashCte,
         |inc AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1),
         |ex AS (SELECT a.doc_id, min(b.doc_id) AS exact_dup_of
         |  FROM p a JOIN p b ON a.hx = b.hx AND b.doc_id % 2 = 0
         |  WHERE a.doc_id % 2 = 1 GROUP BY a.doc_id),
         |nr AS (SELECT a.doc_id, min(b.doc_id) AS near_dup_of
         |  FROM fb a JOIN fb b ON b.doc_id % 2 = 0
         |    AND (a.band0 = b.band0 OR a.band1 = b.band1 OR
         |         a.band2 = b.band2 OR a.band3 = b.band3)
         |    AND bit_count(xor(a.phash, b.phash)) <= 15
         |  WHERE a.doc_id % 2 = 1 GROUP BY a.doc_id)
         |SELECT i.doc_id,
         |  CASE WHEN e.exact_dup_of IS NOT NULL THEN 'exact'
         |       WHEN n.near_dup_of IS NOT NULL THEN 'near'
         |       ELSE 'new' END AS status,
         |  coalesce(e.exact_dup_of, n.near_dup_of) AS dup_of
         |FROM inc i LEFT JOIN ex e ON i.doc_id = e.doc_id
         |  LEFT JOIN nr n ON i.doc_id = n.doc_id
         |ORDER BY i.doc_id""".stripMargin,
    "q14_column_profile" ->
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .map(c =>
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
             |  count(*) - count($c) AS n_nulls,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM orders""".stripMargin)
        .mkString("SELECT col_name, n_rows, n_nulls, n_distinct FROM (\n",
          "\nUNION ALL\n", "\n) ORDER BY col_name"),
    "t17_weighted_sample" ->
      """SELECT doc_id, source,
        |  list_reduce(list_transform(range(1, 13),
        |    i -> strpos('0123456789abcdef', substr(md5(text), CAST(i AS INTEGER), 1)) - 1),
        |    (a, b) -> a * 16 + b) % 1000 AS u_milli,
        |  200 + list_reduce(list_transform(range(1, 9),
        |    i -> strpos('0123456789abcdef', substr(md5(source), CAST(i AS INTEGER), 1)) - 1),
        |    (a, b) -> a * 16 + b) % 600 AS w_milli,
        |  CAST(list_reduce(list_transform(range(1, 13),
        |    i -> strpos('0123456789abcdef', substr(md5(text), CAST(i AS INTEGER), 1)) - 1),
        |    (a, b) -> a * 16 + b) % 1000
        |    < 200 + list_reduce(list_transform(range(1, 9),
        |    i -> strpos('0123456789abcdef', substr(md5(source), CAST(i AS INTEGER), 1)) - 1),
        |    (a, b) -> a * 16 + b) % 600 AS INTEGER) AS kept
        |FROM documents ORDER BY doc_id""".stripMargin,
    "g1_same_group_pairs" ->
      """SELECT n_name AS nation_name, a.c_custkey AS custkey1, b.c_custkey AS custkey2
        |FROM customer a
        |JOIN customer b ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |JOIN nation ON a.c_nationkey = n_nationkey
        |ORDER BY nation_name, custkey1, custkey2""".stripMargin,
    "g1b_current_pairs" ->
      """WITH horizon AS (SELECT max(l_shipdate) AS h FROM lineitem),
        |cur AS (
        |  SELECT s_suppkey, n_name,
        |    CASE (s_suppkey % 3) WHEN 0 THEN 'junior' WHEN 1 THEN 'mid' ELSE 'senior' END AS position
        |  FROM (SELECT l_suppkey, max(l_shipdate) AS end_d FROM lineitem GROUP BY l_suppkey) st
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  CROSS JOIN horizon
        |  WHERE end_d >= h - INTERVAL 90 DAY)
        |SELECT a.n_name AS workplace, a.s_suppkey AS suppkey1, a.position AS position1,
        |  b.s_suppkey AS suppkey2, b.position AS position2, 'till now' AS overlap_period
        |FROM cur a JOIN cur b ON a.n_name = b.n_name AND a.s_suppkey < b.s_suppkey
        |ORDER BY workplace, suppkey1, suppkey2""".stripMargin,
    "g2_overlap_pairs" ->
      """WITH stints AS (
        |  SELECT l_suppkey, min(l_shipdate) AS start_d, max(l_shipdate) AS end_d
        |  FROM lineitem GROUP BY l_suppkey
        |), s AS (
        |  SELECT l_suppkey AS suppkey, n_name, start_d, end_d
        |  FROM stints JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey
        |)
        |SELECT a.n_name AS nation_name, a.suppkey AS suppkey1, b.suppkey AS suppkey2,
        |  greatest(a.start_d, b.start_d) AS overlap_start,
        |  least(a.end_d, b.end_d) AS overlap_end
        |FROM s a JOIN s b ON a.n_name = b.n_name AND a.suppkey < b.suppkey
        |WHERE a.start_d <= b.end_d AND b.start_d <= a.end_d
        |ORDER BY nation_name, suppkey1, suppkey2""".stripMargin,
    "g2b_open_overlap" ->
      """WITH r AS (
        |  SELECT l_suppkey, min(l_shipdate) AS start_d, max(l_shipdate) AS end_d
        |  FROM lineitem GROUP BY l_suppkey
        |), st AS (
        |  SELECT s_suppkey, n_name,
        |    CASE WHEN s_suppkey % 13 <> 0 THEN year(start_d) END AS sy,
        |    CASE WHEN s_suppkey % 5 <> 0 THEN month(start_d) END AS sm,
        |    CASE WHEN s_suppkey % 7 <> 0 THEN year(end_d) END AS ey,
        |    CASE WHEN s_suppkey % 3 <> 0 THEN month(end_d) END AS em
        |  FROM r JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey
        |), p AS (
        |  SELECT a.n_name AS nation_name, a.s_suppkey AS suppkey1, b.s_suppkey AS suppkey2,
        |    a.sy AS sy1, a.sm AS sm1, a.ey AS ey1, a.em AS em1,
        |    b.sy AS sy2, b.sm AS sm2, b.ey AS ey2, b.em AS em2
        |  FROM st a JOIN st b ON a.n_name = b.n_name AND a.s_suppkey < b.s_suppkey
        |), ann AS (
        |  SELECT nation_name, suppkey1, suppkey2,
        |    CASE WHEN sy1 IS NOT NULL AND ey1 IS NOT NULL AND sy2 IS NOT NULL AND ey2 IS NOT NULL
        |      THEN (sy1*12 + coalesce(sm1,1)) <= (ey2*12 + coalesce(em2,12))
        |       AND (sy2*12 + coalesce(sm2,1)) <= (ey1*12 + coalesce(em1,12))
        |      ELSE false END AS ast,
        |    CASE WHEN sy1 IS NOT NULL AND sy2 IS NOT NULL THEN greatest(sy1, sy2) END AS osy,
        |    CASE WHEN sy1 IS NOT NULL AND sy2 IS NOT NULL AND sy1 = sy2 AND sm1 IS NOT NULL AND sm2 IS NOT NULL THEN greatest(sm1, sm2)
        |         WHEN sy1 IS NOT NULL AND sy2 IS NOT NULL AND sy1 > sy2 THEN coalesce(sm1, 1)
        |         WHEN sy1 IS NOT NULL AND sy2 IS NOT NULL AND sy2 > sy1 THEN coalesce(sm2, 1) END AS osm,
        |    CASE WHEN ey1 IS NOT NULL AND ey2 IS NOT NULL THEN least(ey1, ey2) END AS oey,
        |    CASE WHEN ey1 IS NOT NULL AND ey2 IS NOT NULL AND ey1 = ey2 AND em1 IS NOT NULL AND em2 IS NOT NULL THEN least(em1, em2)
        |         WHEN ey1 IS NOT NULL AND ey2 IS NOT NULL AND ey1 < ey2 THEN coalesce(em1, 12)
        |         WHEN ey1 IS NOT NULL AND ey2 IS NOT NULL AND ey2 < ey1 THEN coalesce(em2, 12) END AS oem
        |  FROM p)
        |SELECT nation_name, suppkey1, suppkey2, CAST(ast AS INTEGER) AS at_same_time,
        |  CASE WHEN ast THEN CAST(osy AS VARCHAR) || '.' || lpad(CAST(osm AS VARCHAR), 2, '0')
        |    || '-' || CAST(oey AS VARCHAR) || '.' || lpad(CAST(oem AS VARCHAR), 2, '0') END AS overlap_period
        |FROM ann ORDER BY nation_name, suppkey1, suppkey2""".stripMargin,
    "g3_degree" ->
      """SELECT custkey, count(*) AS degree FROM (
        |  SELECT DISTINCT o_custkey AS custkey, l_suppkey AS suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |GROUP BY custkey ORDER BY custkey""".stripMargin,
    "g4_two_hop" ->
      """WITH edges AS (
        |  SELECT DISTINCT o_custkey AS custkey, l_suppkey AS suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT custkey, count(*) AS n_two_hop FROM (
        |  SELECT DISTINCT a.custkey, b.custkey AS other
        |  FROM edges a JOIN edges b ON a.suppkey = b.suppkey
        |  WHERE a.custkey <> b.custkey)
        |GROUP BY custkey ORDER BY custkey""".stripMargin,
    "g8_hierarchy_paths" ->
      """WITH RECURSIVE edges AS (
        |  SELECT 'c_' || c_custkey AS child, n_name AS parent
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL
        |  SELECT n_name AS child, r_name AS parent
        |  FROM nation JOIN region ON n_regionkey = r_regionkey
        |), anc AS (
        |  SELECT child AS node, parent AS ancestor, 1 AS depth, parent || '/' || child AS path
        |  FROM edges
        |  UNION ALL
        |  SELECT anc.node, e.parent, anc.depth + 1, e.parent || '/' || anc.path
        |  FROM anc JOIN edges e ON anc.ancestor = e.child
        |)
        |SELECT node, ancestor, depth, path FROM anc ORDER BY node, depth, ancestor""".stripMargin,
    // g27: the oracle re-derives the crafted cyclic+acyclic hierarchy and
    // detects cycles the recursive way — walk parent pointers ≤ 64 steps
    // from every node; a walk that returns to its start is a cycle, and
    // the min id along the returning walk is the ring's canonical label.
    "g27_cycle_audit" ->
      s"""WITH RECURSIVE edges AS (
        |$hierFixtureSql
        |), walk(start, cur, mn, d) AS (
        |  SELECT child, parent, LEAST(child, parent), 1 FROM edges
        |  UNION ALL
        |  SELECT w.start, e.parent, LEAST(w.mn, e.parent), w.d + 1
        |  FROM walk w JOIN edges e ON e.child = w.cur WHERE w.d < 64
        |)
        |SELECT node, cycle_id FROM (
        |  SELECT start AS node, MIN(CASE WHEN cur = start THEN mn END) AS cycle_id
        |  FROM walk GROUP BY start)
        |WHERE cycle_id IS NOT NULL
        |ORDER BY node""".stripMargin,
    // g29: ground-truth SCC from the full recursive closure — node w is
    // in v's SCC iff each reaches the other; the label is the mutual
    // set's minimum (which always includes the node itself).
    "g29_scc" ->
      s"""WITH RECURSIVE edges AS (
        |$hierFixtureSql
        |), nodes AS (
        |  SELECT DISTINCT child AS n FROM edges
        |  UNION SELECT DISTINCT parent FROM edges
        |), reach(a, b) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT r.a, e.parent FROM reach r JOIN edges e ON e.child = r.b
        |)
        |SELECT r1.a AS node, MIN(r1.b) AS scc_id
        |FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
        |GROUP BY r1.a
        |ORDER BY node""".stripMargin,
    "g11_news_copairs" ->
      """WITH j AS (
        |  SELECT event_id,
        |    '{"leader":{"name":"u' || user_id ||
        |    '"},"accompanying_persons":[{"name":"a' ||
        |      (CAST(json_extract_string(props, '$.k') AS BIGINT) % 12) ||
        |    '"}],"targets":[{"name":"t' || event_type ||
        |    '","type":"person"},{"name":"org' || event_type ||
        |    '","type":"org"}]}' AS doc
        |  FROM events),
        |s AS (
        |  SELECT event_id, json_transform(doc,
        |    '{"leader":{"name":"VARCHAR"},"accompanying_persons":[{"name":"VARCHAR"}],"targets":[{"name":"VARCHAR","type":"VARCHAR"}]}') AS t
        |  FROM j),
        |m AS (
        |  SELECT DISTINCT event_id, person FROM (
        |    SELECT event_id, t.leader.name AS person FROM s
        |    UNION ALL
        |    SELECT event_id, unnest(list_transform(t.accompanying_persons, x -> x.name)) AS person FROM s
        |    UNION ALL
        |    SELECT event_id, unnest(list_transform(list_filter(t.targets, x -> x.type = 'person'), x -> x.name)) AS person FROM s))
        |SELECT a.person AS person1, b.person AS person2, count(*) AS n_items
        |FROM m a JOIN m b USING (event_id)
        |WHERE a.person < b.person
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "g5_connected_components" ->
      """WITH nodes AS (
        |  SELECT 'c_' || c_custkey AS node, r_name AS root
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        |  UNION ALL
        |  SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
        |  UNION ALL
        |  SELECT r_name, r_name FROM region
        |)
        |SELECT node, min(node) OVER (PARTITION BY root) AS component
        |FROM nodes ORDER BY node""".stripMargin,
    "g7_triangle_count" ->
      s"""$triangleCtes
        |SELECT s_suppkey AS suppkey, CAST(coalesce(n, 0) AS BIGINT) AS n_triangles
        |FROM supplier LEFT JOIN pn ON s_suppkey = pn.s
        |ORDER BY suppkey""".stripMargin,
    "g19_butterfly_count" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |w AS (SELECT e1.s AS s1, e2.s AS s2, count(*) AS w
        |      FROM e e1 JOIN e e2 ON e1.c = e2.c AND e1.s < e2.s GROUP BY 1, 2),
        |b AS (SELECT s1, s2, w * (w - 1) // 2 AS bf FROM w WHERE w >= 2),
        |pn AS (SELECT s, sum(bf) AS n
        |       FROM (SELECT s1 AS s, bf FROM b UNION ALL SELECT s2, bf FROM b) GROUP BY s)
        |SELECT s_suppkey AS suppkey, CAST(coalesce(n, 0) AS BIGINT) AS n_butterflies
        |FROM supplier LEFT JOIN pn ON s_suppkey = pn.s
        |ORDER BY suppkey""".stripMargin,
    "g18_clustering_coeff" ->
      s"""$triangleCtes,
        |deg AS (SELECT s, count(*) AS d
        |        FROM (SELECT a AS s FROM e UNION ALL SELECT b FROM e) GROUP BY s)
        |SELECT s_suppkey AS suppkey,
        |  CAST(coalesce(d, 0) AS BIGINT) AS deg,
        |  CAST(coalesce(n, 0) AS BIGINT) AS n_triangles,
        |  CAST(CASE WHEN coalesce(d, 0) >= 2
        |    THEN (2 * coalesce(n, 0) * 1000000) // (d * (d - 1)) ELSE 0 END AS BIGINT) AS cc_micro
        |FROM supplier LEFT JOIN pn ON s_suppkey = pn.s LEFT JOIN deg ON s_suppkey = deg.s
        |ORDER BY suppkey""".stripMargin,
    "d3_minhash_lsh" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, length(text) - 3), i -> substr(text, CAST(i AS INTEGER), 5))) AS g
        |  FROM documents WHERE length(text) >= 5),
        |p AS (
        |  SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
        |    len(list_intersect(a.g, b.g)) * 1.0 / len(list_distinct(list_concat(a.g, b.g))) AS jac
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT doc_id1, doc_id2, CAST(floor(jac * 1000000.0) AS BIGINT) AS jaccard_micro
        |FROM p WHERE jac >= 0.8 ORDER BY doc_id1, doc_id2""".stripMargin,
    // d18: the full winnowing selection re-derived — positional 8-gram
    // md5-fold hashes, 4-wide window minima (the count(*) = 4 guard keeps
    // only full windows), distinct fingerprints, the df <= 50 stop-key
    // filter, and the pair rollup.
    "d18_winnow_fingerprints" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS w FROM documents
        |  WHERE len(regexp_split_to_array(text, '\s+')) >= 11),
        |g AS (
        |  SELECT doc_id, i,
        |    list_reduce(list_transform(range(1, 16),
        |      n -> strpos('0123456789abcdef', substr(md5(array_to_string(w[i:i+7], ' ')), CAST(n AS INTEGER), 1)) - 1),
        |      (a, b) -> a * 16 + b) AS h
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(w) - 6)) AS i)),
        |wm AS (
        |  SELECT a.doc_id, a.i AS j, min(b.h) AS mh
        |  FROM g a JOIN g b ON a.doc_id = b.doc_id AND b.i BETWEEN a.i AND a.i + 3
        |  GROUP BY a.doc_id, a.i
        |  HAVING count(*) = 4),
        |fp AS (SELECT DISTINCT doc_id, mh AS h FROM wm),
        |keep AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 50),
        |fpc AS (SELECT fp.doc_id, fp.h FROM fp JOIN keep USING (h))
        |SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, count(*) AS n_shared
        |FROM fpc a JOIN fpc b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "d4_simhash" -> d4OracleSql,
    "d9_simhash_pairs" -> d9OracleSql,
    "d6_dedup_resolve" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, length(text) - 3), i -> substr(text, CAST(i AS INTEGER), 5))) AS g
        |  FROM documents WHERE length(text) >= 5),
        |p AS (
        |  SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.g, b.g)) * 1.0 / len(list_distinct(list_concat(a.g, b.g))) >= 0.8),
        |edges AS (
        |  SELECT doc_id1 AS a, doc_id2 AS b FROM p
        |  UNION SELECT doc_id2, doc_id1 FROM p),
        |reach AS (
        |  SELECT a AS node, b AS reachable FROM edges
        |  UNION
        |  SELECT r.node, e.b FROM reach r JOIN edges e ON r.reachable = e.a),
        |comp AS (
        |  SELECT node, least(node, min(reachable)) AS canonical FROM reach GROUP BY node)
        |SELECT d.doc_id,
        |  coalesce(c.canonical, d.doc_id) AS canonical_id,
        |  CAST(d.doc_id = coalesce(c.canonical, d.doc_id) AS INTEGER) AS is_kept
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        |ORDER BY d.doc_id""".stripMargin,
    "d13_fuzzy_pairs" ->
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part)
        |SELECT a.name AS name1, b.name AS name2,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM n a JOIN n b ON a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 1
        |ORDER BY name1, name2""".stripMargin,
    "d14_substring_spans" ->
      s"""$spanCtes
        |SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
        |  CAST(max(e) - min(s) + 1 AS BIGINT) AS span_tokens
        |FROM grp GROUP BY doc_id, gid ORDER BY doc_id, span_start""".stripMargin,
    "d16_bloom_prefilter" ->
      """WITH inc AS (
        |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS h
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, md5(text || ' v2') FROM documents WHERE doc_id % 3 = 1),
        |ex AS (SELECT md5(text) AS h, min(doc_id) AS ex_id FROM documents GROUP BY h)
        |SELECT inc.doc_id,
        |  CASE WHEN ex.ex_id IS NULL THEN 'new' ELSE 'dup' END AS status,
        |  ex.ex_id AS dup_of
        |FROM inc LEFT JOIN ex USING (h) ORDER BY doc_id""".stripMargin,
    "d17_strip_spans" ->
      s"""$spanCtes,
        |spans AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM grp GROUP BY doc_id, gid),
        |tok AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM words),
        |keep AS (
        |  SELECT t.doc_id, t.i, t.w[t.i] AS wd FROM tok t
        |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |    WHERE sp.doc_id = t.doc_id AND t.i BETWEEN sp.s AND sp.e))
        |SELECT words.doc_id, CAST(len(words.w) AS BIGINT) AS n_tokens,
        |  CAST(len(words.w) - count(keep.i) AS BIGINT) AS removed_tokens,
        |  coalesce(string_agg(keep.wd, ' ' ORDER BY keep.i), '') AS clean_text
        |FROM words LEFT JOIN keep ON keep.doc_id = words.doc_id
        |GROUP BY words.doc_id, len(words.w) ORDER BY words.doc_id""".stripMargin,
    "d15_chunk_neardup" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE length(text) >= 5),
        |ch0 AS (SELECT doc_id, unnest(generate_series(0, (len(w)-1)//32)) AS cn, w FROM words),
        |ch AS (SELECT doc_id, cn, array_to_string(w[cn*32+1 : cn*32+32], ' ') AS ct FROM ch0),
        |sh AS (SELECT doc_id, cn,
        |    list_distinct(list_transform(range(1, length(ct) - 3), i -> substr(ct, CAST(i AS INTEGER), 5))) AS g
        |  FROM ch WHERE length(ct) >= 5),
        |p AS (SELECT a.doc_id AS doc_id1, a.cn AS chunk1, b.doc_id AS doc_id2, b.cn AS chunk2,
        |    len(list_intersect(a.g, b.g)) * 1.0 / len(list_distinct(list_concat(a.g, b.g))) AS jac
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT doc_id1, CAST(chunk1 AS BIGINT) AS chunk1,
        |  doc_id2, CAST(chunk2 AS BIGINT) AS chunk2,
        |  CAST(floor(jac * 1000000.0) AS BIGINT) AS jaccard_micro
        |FROM p WHERE jac >= 0.8
        |ORDER BY doc_id1, chunk1, doc_id2, chunk2""".stripMargin,
    "d12_containment" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, length(text) - 3),
        |      i -> substr(text, CAST(i AS INTEGER), 5)))) AS g
        |  FROM documents WHERE length(text) >= 5),
        |df AS (SELECT g, count(*) AS df FROM g GROUP BY 1),
        |pg AS (SELECT doc_id, g.g FROM g JOIN df USING (g) WHERE df.df <= 64),
        |na AS (SELECT doc_id, count(*) AS n_grams_a FROM pg GROUP BY 1),
        |sh AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM pg a JOIN pg b ON a.g = b.g AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT sh.id_a, sh.id_b, CAST(sh.shared AS BIGINT) AS shared,
        |  CAST(na.n_grams_a AS BIGINT) AS n_grams_a,
        |  CAST(sh.shared * 1000000 // na.n_grams_a AS BIGINT) AS containment_micro
        |FROM sh JOIN na ON sh.id_a = na.doc_id
        |WHERE sh.shared * 1000000 // na.n_grams_a >= 800000
        |ORDER BY id_a, id_b""".stripMargin,
    "d11_dedup_report" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, length(text) - 3), i -> substr(text, CAST(i AS INTEGER), 5))) AS g
        |  FROM documents WHERE length(text) >= 5),
        |p AS (
        |  SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.g, b.g)) * 1.0 / len(list_distinct(list_concat(a.g, b.g))) >= 0.8),
        |edges AS (
        |  SELECT doc_id1 AS a, doc_id2 AS b FROM p
        |  UNION SELECT doc_id2, doc_id1 FROM p),
        |reach AS (
        |  SELECT a AS node, b AS reachable FROM edges
        |  UNION
        |  SELECT r.node, e.b FROM reach r JOIN edges e ON r.reachable = e.a),
        |comp AS (
        |  SELECT node, least(node, min(reachable)) AS canonical FROM reach GROUP BY node),
        |res AS (
        |  SELECT d.doc_id, coalesce(c.canonical, d.doc_id) AS canonical_id
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
        |cl AS (SELECT canonical_id, count(*) AS cluster_size FROM res GROUP BY canonical_id)
        |SELECT cluster_size, count(*) AS n_clusters,
        |  count(*) * cluster_size AS n_docs
        |FROM cl GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    "d7_incremental_dedup" ->
      """WITH inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
        |ex AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |exact AS (
        |  SELECT i.doc_id, min(e.doc_id) AS exact_dup_of
        |  FROM inc i JOIN ex e ON md5(i.text) = md5(e.text)
        |  GROUP BY i.doc_id),
        |shi AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, length(text) - 3), j -> substr(text, CAST(j AS INTEGER), 5))) AS g
        |  FROM inc WHERE length(text) >= 5),
        |she AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, length(text) - 3), j -> substr(text, CAST(j AS INTEGER), 5))) AS g
        |  FROM ex WHERE length(text) >= 5),
        |near AS (
        |  SELECT i.doc_id, min(e.doc_id) AS near_dup_of
        |  FROM shi i JOIN she e
        |    ON len(list_intersect(i.g, e.g)) * 1.0 / len(list_distinct(list_concat(i.g, e.g))) >= 0.8
        |  GROUP BY i.doc_id)
        |SELECT i.doc_id,
        |  CASE WHEN x.exact_dup_of IS NOT NULL THEN 'exact'
        |       WHEN n.near_dup_of IS NOT NULL THEN 'near'
        |       ELSE 'new' END AS status,
        |  coalesce(x.exact_dup_of, n.near_dup_of) AS dup_of
        |FROM inc i
        |LEFT JOIN exact x ON i.doc_id = x.doc_id
        |LEFT JOIN near n ON i.doc_id = n.doc_id
        |ORDER BY i.doc_id""".stripMargin,
    "d8_decontaminate" ->
      """WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0 AND length(text) >= 7),
        |tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0 AND length(text) >= 7),
        |eg AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, length(text) - 5), i -> substr(text, CAST(i AS INTEGER), 7)))) AS g
        |  FROM ev),
        |tg AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, length(text) - 5), i -> substr(text, CAST(i AS INTEGER), 7)))) AS g
        |  FROM tr),
        |h AS (SELECT doc_id, count(*) AS shared FROM tg JOIN eg USING (g) GROUP BY doc_id),
        |tot AS (
        |  SELECT doc_id,
        |    len(list_distinct(list_transform(range(1, length(text) - 5), i -> substr(text, CAST(i AS INTEGER), 7)))) AS n_grams
        |  FROM tr)
        |SELECT t.doc_id,
        |  CAST(t.n_grams AS BIGINT) AS n_grams,
        |  CAST(coalesce(h.shared, 0) AS BIGINT) AS n_shared_grams,
        |  CAST(coalesce(h.shared, 0) * 1000000 // t.n_grams AS BIGINT) AS share_ratio_micro,
        |  CAST(coalesce(h.shared, 0) * 1000000 // t.n_grams >= 500000 AS INTEGER) AS is_contaminated
        |FROM tot t LEFT JOIN h ON t.doc_id = h.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "s2_lsh_ann" ->
      """WITH hp AS (SELECT vec_id AS h_id, CAST(embedding AS DOUBLE[]) AS he FROM embeddings WHERE vec_id < 4),
        |bk AS (
        |  SELECT e.vec_id,
        |    CAST(sum(CASE WHEN list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), he) >= 0
        |      THEN (CAST(1 AS BIGINT) << h_id) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM embeddings e CROSS JOIN hp GROUP BY e.vec_id),
        |b AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, bucket
        |      FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id),
        |q AS (SELECT vec_id AS query_id, emb AS qe, bucket FROM b WHERE vec_id < 10),
        |s AS (SELECT query_id, b.vec_id AS neighbor_id, list_cosine_similarity(qe, b.emb) AS sim
        |      FROM q JOIN b USING (bucket) WHERE b.vec_id <> query_id),
        |r AS (SELECT query_id, neighbor_id,
        |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin,
    "s3_centroid_ivf" ->
      """WITH ct AS (SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings WHERE vec_id < 8),
        |asg AS (
        |  SELECT vec_id, emb, cell FROM (
        |    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, ct.cent_id AS cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), ce) DESC, ct.cent_id) AS arn
        |    FROM embeddings e CROSS JOIN ct)
        |  WHERE arn = 1),
        |q AS (SELECT vec_id AS query_id, emb AS qe, cell FROM asg WHERE vec_id < 10),
        |s AS (SELECT query_id, a.vec_id AS neighbor_id, list_cosine_similarity(qe, a.emb) AS sim
        |      FROM q JOIN asg a USING (cell) WHERE a.vec_id <> query_id),
        |r AS (SELECT query_id, neighbor_id,
        |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin,
    "s4_knn_join" ->
      """WITH hp AS (SELECT vec_id AS h_id, CAST(embedding AS DOUBLE[]) AS he FROM embeddings WHERE vec_id < 4),
        |bk AS (
        |  SELECT e.vec_id,
        |    CAST(sum(CASE WHEN list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), he) >= 0
        |      THEN (CAST(1 AS BIGINT) << h_id) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM embeddings e CROSS JOIN hp GROUP BY e.vec_id),
        |b AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, bucket
        |      FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id),
        |s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |        list_cosine_similarity(a.emb, b.emb) AS sim
        |      FROM b a JOIN b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        |r AS (SELECT query_id, neighbor_id,
        |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin,
    "t24_drift_terms" ->
      """WITH tm AS (
        |  SELECT length(source) = 4 AS is_a,
        |    unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
        |  FROM documents),
        |c AS (SELECT term,
        |        CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
        |        CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
        |      FROM tm GROUP BY term),
        |t AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS tot_a,
        |             CAST(SUM(cnt_b) AS BIGINT) AS tot_b FROM c)
        |SELECT term, cnt_a, cnt_b,
        |  CAST(cnt_a*tot_b - cnt_b*tot_a AS BIGINT) AS drift
        |FROM c CROSS JOIN t
        |ORDER BY abs(drift) DESC, term LIMIT 20""".stripMargin,
    "s6_kmeans_cluster" ->
      s"""$kmeansCtes
         |SELECT vec_id, cell AS cluster FROM a2f ORDER BY vec_id""".stripMargin,
    "s8_bm25_topk" -> bm25Sql,
    // s11 answers the SAME question from the persisted bucketed index
    // (TermIndex) — identical output contract, so the oracle is shared:
    // matching it proves the index layout is storage, never semantics.
    "s11_bm25_indexed" -> bm25Sql,
    "s12_hybrid_rrf" -> hybridRrfSql,
    "q22_pivot" ->
      """SELECT n_name,
        |  CAST(coalesce(sum(CASE WHEN l_returnflag = 'A'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS a_qty,
        |  CAST(coalesce(sum(CASE WHEN l_returnflag = 'N'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS n_qty,
        |  CAST(coalesce(sum(CASE WHEN l_returnflag = 'R'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS r_qty
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "e12_changelog_compact" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |    CAST(floor(value * 1000) AS BIGINT) AS value_milli
        |  FROM events),
        |w AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, event_id AS last_event_id, ts_us AS last_ts_us,
        |  event_type AS last_type, value_milli AS last_value_milli
        |FROM w WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "q23_routed_join" ->
      s"""SELECT o_orderpriority,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum($decPrice) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
         |  AND o_orderdate < TIMESTAMP '1995-07-01'
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    "h9_manifest_prune" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // h10: each snapshot's answer re-derived from the raw table with the
    // same integer day cuts the staged commits used — the gate fails if
    // any historical version reads back anything but the data it held at
    // commit time.
    "h10_time_travel" ->
      """WITH d AS (
        |  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
        |    event_type
        |  FROM events),
        |b AS (SELECT min(day) + (max(day) - min(day)) // 3 AS cut1,
        |             min(day) + 2 * (max(day) - min(day)) // 3 AS cut2 FROM d),
        |v AS (
        |  SELECT 1 AS version, event_type FROM d, b WHERE day <= cut1
        |  UNION ALL SELECT 2, event_type FROM d, b WHERE day <= cut2
        |  UNION ALL SELECT 3, event_type FROM d, b)
        |SELECT CAST(version AS BIGINT) AS version, event_type,
        |  count(*) AS n_events
        |FROM v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // h11: the delta between snapshots v1 and v3 == raw rows past the
    // first day cut (batches 2+3 of the staged commits).
    "h11_incremental_read" ->
      """WITH d AS (
        |  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
        |    event_type
        |  FROM events),
        |b AS (SELECT min(day) + (max(day) - min(day)) // 3 AS cut1 FROM d)
        |SELECT event_type, count(*) AS n_events, min(day) AS first_day
        |FROM d, b WHERE day > cut1
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // h12: the pruned-scan answer == the last day window from raw rows —
    // the gate fails if manifest pruning drops or duplicates a file.
    "h12_stats_prune" ->
      """WITH d AS (
        |  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
        |    event_type
        |  FROM events),
        |b AS (SELECT min(day) + 2 * (max(day) - min(day)) // 3 AS cut2 FROM d)
        |SELECT event_type, count(*) AS n_events,
        |  min(day) AS first_day, max(day) AS last_day
        |FROM d, b WHERE day > cut2
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // h13: the expected post-MERGE table state rebuilt with set algebra
    // over the raw rows — updates re-typed, inserts appended, deletes and
    // matched originals removed; the sum-of-ids checksum makes the hash
    // sensitive to exact row membership, not just counts.
    "h13_merge_into" ->
      """WITH d AS (
        |  SELECT event_id, event_type,
        |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |mx AS (SELECT max(event_id) AS mid, min(day) AS lo FROM d),
        |upd AS (SELECT event_id, 'merged' AS event_type, day FROM d
        |        WHERE event_id % 97 = 0),
        |ins AS (SELECT mid + g AS event_id, 'inserted' AS event_type,
        |          lo AS day
        |        FROM mx, generate_series(1, 500) AS t(g)),
        |delk AS (SELECT event_id FROM d
        |         WHERE event_id % 89 = 0 AND event_id % 97 <> 0),
        |srckeys AS (SELECT event_id FROM upd
        |            UNION ALL SELECT event_id FROM ins
        |            UNION ALL SELECT event_id FROM delk),
        |kept AS (SELECT * FROM d
        |         WHERE event_id NOT IN (SELECT event_id FROM srckeys)),
        |fin AS (SELECT * FROM kept UNION ALL SELECT * FROM upd
        |        UNION ALL SELECT * FROM ins)
        |SELECT event_type, count(*) AS n_events, min(day) AS first_day,
        |  max(day) AS last_day, CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM fin GROUP BY event_type ORDER BY event_type""".stripMargin,
    // h15: the surviving rows recomputed from raw — both accumulated
    // delete sets must apply exactly through the merge-on-read path.
    "h15_mor_delete" ->
      """WITH d AS (
        |  SELECT event_id, event_type,
        |    CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day
        |  FROM events)
        |SELECT event_type, count(*) AS n_events, min(day) AS first_day,
        |  max(day) AS last_day, CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM d WHERE event_id % 37 <> 0 AND event_id % 41 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // h14: the post-evolution table state recomputed from raw rows — the
    // even half contributes 0 to the new column's sum (those files
    // predate the column; the mergeSchema read surfaces NULL there).
    "h14_schema_evolution" ->
      """WITH d AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 1000) AS BIGINT) AS value_milli
        |  FROM events)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN event_id % 2 <> 0 THEN value_milli ELSE 0 END)
        |    AS BIGINT) AS sum_value_milli
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    "e13_path_analysis" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |p AS (
        |  SELECT user_id,
        |    array_to_string((list(event_type ORDER BY ts_us, event_id))[1:8],
        |      '>') AS path
        |  FROM ev GROUP BY user_id)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_users
        |FROM p GROUP BY path
        |ORDER BY n_users DESC, path
        |LIMIT 20""".stripMargin,
    "t28_shuffle_export" ->
      """SELECT doc_id, shard, h, CAST(pos AS BIGINT) AS pos FROM (
        |  SELECT doc_id, h, substr(h, 1, 1) AS shard,
        |    row_number() OVER (
        |      PARTITION BY substr(h, 1, 1) ORDER BY h, doc_id) AS pos
        |  FROM (SELECT doc_id,
        |          md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS h
        |        FROM documents))
        |ORDER BY shard, pos""".stripMargin,
    "s7_pq_search" -> {
      val encJoins = (1 until 8).map(s => s"JOIN encx$s e$s USING (vec_id)").mkString("\n    ")
      val qdJoins = (1 until 8)
        .map(s => s"JOIN qdx$s q$s ON q$s.query_id = q0.query_id AND q$s.code = e$s.code")
        .mkString("\n    ")
      val adcSum = (0 until 8).map(s => s"q$s.d").mkString(" + ")
      val exact = (1 to 64).map(i => s"(qq.qv[$i]-nv.qv[$i])*(qq.qv[$i]-nv.qv[$i])").mkString(" + ")
      s"""$pqCtes,
         |sl AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q0.query_id, e0.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q0.query_id
         |        ORDER BY $adcSum, e0.vec_id) AS arn
         |    FROM encx0 e0
         |    $encJoins
         |    JOIN qdx0 q0 ON q0.code = e0.code
         |    $qdJoins
         |    WHERE e0.vec_id <> q0.query_id)
         |  WHERE arn <= 100),
         |rr AS (
         |  SELECT sl.query_id, sl.neighbor_id, CAST($exact AS BIGINT) AS dist
         |  FROM sl JOIN qz nv ON nv.vec_id = sl.neighbor_id
         |          JOIN qz qq ON qq.vec_id = sl.query_id)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, dist FROM (
         |  SELECT query_id, neighbor_id, dist,
         |    row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
         |  FROM rr)
         |WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin
    },
    // s10: the s7 re-derivation EXTENDED by the coarse tier — the same
    // PQ chains ($pqCtes), plus the 64-dim exact k-means over qz (the
    // kmeansCtes recurrence re-based on the shared qz), a per-query
    // nProbe=2 probe set, and a cell equijoin pruning the shortlist's
    // candidate set before ADC ranking. Refine is s7's exact stage.
    "s10_ivfpq" -> {
      val encJoins = (1 until 8).map(s => s"JOIN encx$s e$s USING (vec_id)").mkString("\n    ")
      val qdJoins = (1 until 8)
        .map(s => s"JOIN qdx$s q$s ON q$s.query_id = q0.query_id AND q$s.code = e$s.code")
        .mkString("\n    ")
      val adcSum = (0 until 8).map(s => s"q$s.d").mkString(" + ")
      val exact = (1 to 64).map(i => s"(qq.qv[$i]-nv.qv[$i])*(qq.qv[$i]-nv.qv[$i])").mkString(" + ")
      val gDist = (1 to 64)
        .map(i => s"(c.n*q.qv[$i]-c.s[$i])*(c.n*q.qv[$i]-c.s[$i])")
        .mkString(" + ")
      val gSums = (1 to 64).map(i => s"CAST(SUM(qv[$i]) AS BIGINT)").mkString("[", ", ", "]")
      // Coarse Lloyd refinements (ag1/ag2) train over the shared sampled
      // qztr; the full-corpus assignment (agf) and the query probe run
      // over qz — exactly trainExactOn on the shared sample.
      def gAssign(name: String, cPrev: String, src: String, filter: String, rnBound: String): String =
        s"""$name AS MATERIALIZED (SELECT vec_id, cell FROM (
           |  SELECT q.vec_id, c.cell,
           |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |      CAST($gDist AS DOUBLE)/CAST(c.n*c.n AS DOUBLE), c.cell) AS rn
           |  FROM $src q CROSS JOIN $cPrev c$filter) WHERE rn $rnBound)""".stripMargin
      def gUpdate(name: String, aPrev: String, cPrev: String): String =
        s"""${name}u AS MATERIALIZED (SELECT cell, $gSums AS s, COUNT(*) AS n
           |  FROM $aPrev JOIN qz USING (vec_id) GROUP BY cell),
           |$name AS MATERIALIZED (SELECT $cPrev.cell, COALESCE(${name}u.s, $cPrev.s) AS s,
           |            COALESCE(${name}u.n, $cPrev.n) AS n
           |          FROM $cPrev LEFT JOIN ${name}u USING (cell))""".stripMargin
      s"""$pqCtes,
         |cg0 AS MATERIALIZED (SELECT vec_id AS cell, qv AS s, CAST(1 AS BIGINT) AS n FROM qz ORDER BY vec_id LIMIT 8),
         |${gAssign("ag1", "cg0", "qztr", "", "= 1")},
         |${gUpdate("cg1", "ag1", "cg0")},
         |${gAssign("ag2", "cg1", "qztr", "", "= 1")},
         |${gUpdate("cg2", "ag2", "cg1")},
         |${gAssign("agf", "cg2", "qz", "", "= 1")},
         |${gAssign("probe", "cg2", "qz", " WHERE q.vec_id < 10", "<= 2")},
         |sl AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q0.query_id, e0.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q0.query_id
         |        ORDER BY $adcSum, e0.vec_id) AS arn
         |    FROM encx0 e0
         |    $encJoins
         |    JOIN agf ON agf.vec_id = e0.vec_id
         |    JOIN probe p ON p.cell = agf.cell
         |    JOIN qdx0 q0 ON q0.query_id = p.vec_id AND q0.code = e0.code
         |    $qdJoins
         |    WHERE e0.vec_id <> q0.query_id)
         |  WHERE arn <= 100),
         |rr AS (
         |  SELECT sl.query_id, sl.neighbor_id, CAST($exact AS BIGINT) AS dist
         |  FROM sl JOIN qz nv ON nv.vec_id = sl.neighbor_id
         |          JOIN qz qq ON qq.vec_id = sl.query_id)
         |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, dist FROM (
         |  SELECT query_id, neighbor_id, dist,
         |    row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
         |  FROM rr)
         |WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin
    },
    "t23_cluster_balance" ->
      s"""$kmeansCtes,
         |rk AS (SELECT cell AS cluster, vec_id,
         |         row_number() OVER (PARTITION BY cell
         |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |       FROM a2f)
         |SELECT cluster, vec_id FROM rk WHERE rn <= 20 ORDER BY cluster, vec_id""".stripMargin,
    "m1_media_meta" ->
      s"""WITH p AS (SELECT doc_id, $mediaHex AS hx FROM documents)
         |SELECT doc_id, CAST(length(hx) // 2 AS BIGINT) AS n_bytes,
         |  CASE WHEN hx LIKE '89504E47%' THEN 'image/png'
         |       WHEN hx LIKE 'FFD8FF%' THEN 'image/jpeg'
         |       WHEN hx LIKE '52494646%' THEN 'audio/wav'
         |       ELSE 'application/octet-stream' END AS media_type,
         |  md5(hx) AS content_hash
         |FROM p ORDER BY doc_id""".stripMargin,
    "m2_frame_sample" ->
      s"""WITH p AS (SELECT doc_id, $mediaHex AS hx FROM documents),
         |o AS (SELECT doc_id, hx, length(hx) // 2 AS n_bytes FROM p),
         |f AS (
         |  SELECT doc_id, hx,
         |    unnest(generate_series(0, CAST(greatest(n_bytes - 64, 0) AS BIGINT), 256)) AS frame_offset
         |  FROM o)
         |SELECT doc_id,
         |  CAST(frame_offset // 256 AS BIGINT) AS frame_no,
         |  CAST(frame_offset AS BIGINT) AS frame_offset,
         |  md5(substr(hx, CAST(frame_offset * 2 + 1 AS INTEGER), 128)) AS frame_hash
         |FROM f ORDER BY doc_id, frame_no""".stripMargin,
    // m3: the 2× box-filter thumbnail re-derived byte by byte — the 4×2
    // P6 raster (byte j = (d·31+j·7) mod 256) pools into 2×1 output
    // pixels, each channel the floor mean of its 2×2 block; corrupt
    // classes (mod 7 truncation, mod 13 bad magic) report ok=0 with the
    // empty-output hash.
    "m3_resize" -> {
      def b(j: Int) = s"((doc_id * 31 + ${j * 7}) % 256)"
      val bytes = for (op <- 0 to 1; c <- 0 to 2) yield {
        val base = if (op == 0) Seq(0, 3, 12, 15) else Seq(6, 9, 18, 21)
        s"(${base.map(x => b(x + c)).mkString(" + ")}) // 4"
      }
      val rhx = bytes.map(e => s"lpad(hex(CAST($e AS INTEGER)), 2, '0')")
        .mkString(" || ")
      s"""WITH v AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 OR doc_id % 13 = 0 THEN 0 ELSE 1 END AS okf,
         |    $rhx AS rhx
         |  FROM documents)
         |SELECT doc_id, CAST(okf AS BIGINT) AS ok,
         |  CAST(okf * 4 AS BIGINT) AS width, CAST(okf * 2 AS BIGINT) AS height,
         |  CAST(okf * 2 AS BIGINT) AS out_width, CAST(okf AS BIGINT) AS out_height,
         |  CAST(okf * 6 AS BIGINT) AS resized_bytes,
         |  CASE WHEN okf = 1 THEN md5(rhx) ELSE md5('') END AS resized_hash
         |FROM v ORDER BY doc_id""".stripMargin
    },
    "m11_ppm_decode" ->
      """WITH j AS (SELECT unnest(generate_series(0, 23)) AS j),
        |m AS (
        |  SELECT d.doc_id,
        |    sum(CASE WHEN j.j % 3 = 0 THEN (d.doc_id * 31 + j.j * 7) % 256 ELSE 0 END) AS sr,
        |    sum(CASE WHEN j.j % 3 = 1 THEN (d.doc_id * 31 + j.j * 7) % 256 ELSE 0 END) AS sg,
        |    sum(CASE WHEN j.j % 3 = 2 THEN (d.doc_id * 31 + j.j * 7) % 256 ELSE 0 END) AS sb
        |  FROM documents d, j GROUP BY d.doc_id),
        |v AS (SELECT doc_id, sr, sg, sb,
        |    CASE WHEN doc_id % 7 = 0 THEN 0 WHEN doc_id % 13 = 0 THEN 0 ELSE 1 END AS okf
        |  FROM m)
        |SELECT doc_id,
        |  CAST(okf AS BIGINT) AS ok,
        |  CASE WHEN doc_id % 7 = 0 THEN 'short_payload'
        |       WHEN doc_id % 13 = 0 THEN 'bad_magic' ELSE 'ok' END AS reason,
        |  CAST(okf * 4 AS BIGINT) AS width,
        |  CAST(okf * 2 AS BIGINT) AS height,
        |  CAST(okf * (sr * 1000 // 8) AS BIGINT) AS mean_r_milli,
        |  CAST(okf * (sg * 1000 // 8) AS BIGINT) AS mean_g_milli,
        |  CAST(okf * (sb * 1000 // 8) AS BIGINT) AS mean_b_milli
        |FROM v ORDER BY doc_id""".stripMargin,
    "m10_byte_drift" ->
      s"""WITH p AS (SELECT doc_id, $mediaHex AS hx FROM documents),
         |bb AS (
         |  SELECT doc_id % 2 AS slice,
         |    unnest(list_transform(range(0, length(hx) // 2), i ->
         |      (strpos('0123456789ABCDEF', substr(hx, CAST(i * 2 + 1 AS INTEGER), 1)) - 1) * 16 +
         |      (strpos('0123456789ABCDEF', substr(hx, CAST(i * 2 + 2 AS INTEGER), 1)) - 1))) AS byte
         |  FROM p),
         |c AS (
         |  SELECT byte,
         |    sum(CASE WHEN slice = 0 THEN 1 ELSE 0 END) AS cnt_a,
         |    sum(CASE WHEN slice = 1 THEN 1 ELSE 0 END) AS cnt_b
         |  FROM bb GROUP BY byte),
         |tot AS (SELECT sum(cnt_a) AS ta, sum(cnt_b) AS tb FROM c)
         |SELECT CAST(byte AS BIGINT) AS byte,
         |  CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b,
         |  CAST(cnt_a * tb - cnt_b * ta AS BIGINT) AS drift
         |FROM c, tot
         |ORDER BY abs(cnt_a * tb - cnt_b * ta) DESC, byte LIMIT 32""".stripMargin,
    "m4_byte_stats" ->
      s"""WITH p AS (SELECT doc_id, $mediaHex AS hx FROM documents),
         |b AS (
         |  SELECT doc_id,
         |    list_transform(range(0, length(hx) // 2), i ->
         |      (strpos('0123456789ABCDEF', substr(hx, CAST(i * 2 + 1 AS INTEGER), 1)) - 1) * 16 +
         |      (strpos('0123456789ABCDEF', substr(hx, CAST(i * 2 + 2 AS INTEGER), 1)) - 1)) AS bytes
         |  FROM p)
         |SELECT doc_id,
         |  CAST(len(bytes) AS BIGINT) AS n_bytes,
         |  CAST(CAST(list_sum(bytes) AS BIGINT) * 1000 // len(bytes) AS BIGINT) AS mean_byte_milli,
         |  CAST(len(list_distinct(bytes)) AS BIGINT) AS n_distinct_bytes,
         |  CAST(CAST(len(list_filter(bytes, v -> v >= 128)) AS BIGINT) * 1000000 // len(bytes) AS BIGINT) AS high_byte_ratio_micro
         |FROM b ORDER BY doc_id""".stripMargin,
    "m5_phash" ->
      s"""$phashCte
         |SELECT doc_id, phash, band0, band1, band2, band3
         |FROM fb ORDER BY doc_id""".stripMargin,
    "m6_phash_pairs" ->
      s"""$phashCte
         |SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
         |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
         |FROM fb a JOIN fb b ON a.doc_id < b.doc_id
         |WHERE (a.band0 = b.band0 OR a.band1 = b.band1 OR a.band2 = b.band2 OR a.band3 = b.band3)
         |  AND bit_count(xor(a.phash, b.phash)) <= 15
         |ORDER BY doc_id1, doc_id2""".stripMargin,
    "m7_media_resolve" ->
      s"""${phashCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |pr AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM fb a JOIN fb b ON a.doc_id < b.doc_id
         |  WHERE (a.band0 = b.band0 OR a.band1 = b.band1 OR
         |         a.band2 = b.band2 OR a.band3 = b.band3)
         |    AND bit_count(xor(a.phash, b.phash)) <= 15),
         |edges AS (SELECT a, b FROM pr UNION SELECT b, a FROM pr),
         |reach AS (
         |  SELECT a AS node, b AS reachable FROM edges
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN edges e ON r.reachable = e.a),
         |comp AS (
         |  SELECT node, least(node, min(reachable)) AS canonical
         |  FROM reach GROUP BY node)
         |SELECT d.doc_id,
         |  coalesce(c.canonical, d.doc_id) AS canonical_id,
         |  CAST(d.doc_id = coalesce(c.canonical, d.doc_id) AS INTEGER) AS is_kept
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
         |ORDER BY d.doc_id""".stripMargin,
    "m8_crossmodal_resolve" -> m8OracleSql,
    "m12_frame_neardup" -> m12OracleSql,
    "e2_sessionize" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts FROM events),
        |x AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM ev),
        |y AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN prev_ts IS NULL OR ts - prev_ts > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM x),
        |z AS (
        |  SELECT user_id, ts,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_no
        |  FROM y)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |  min(ts) AS session_start, max(ts) AS session_end, count(*) AS n_events
        |FROM z GROUP BY user_id, session_no ORDER BY user_id, session_no""".stripMargin,
    "d1_exact_dedup" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_cnt
        |FROM documents GROUP BY md5(text) ORDER BY text_hash""".stripMargin,
    "d2_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, length(text) - 3), i -> substr(text, CAST(i AS INTEGER), 5))) AS g
        |  FROM documents WHERE length(text) >= 5),
        |p AS (
        |  SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
        |    len(list_intersect(a.g, b.g)) * 1.0 / len(list_distinct(list_concat(a.g, b.g))) AS jac
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT doc_id1, doc_id2, CAST(floor(jac * 1000000.0) AS BIGINT) AS jaccard_micro
        |FROM p WHERE jac >= 0.8 ORDER BY doc_id1, doc_id2""".stripMargin,
    "d5_embedding_dedup" ->
      """SELECT a.vec_id AS vec_id1, b.vec_id AS vec_id2
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4
        |ORDER BY vec_id1, vec_id2""".stripMargin,
    "s5_range_search" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (
        |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ne
        |  FROM embeddings)
        |SELECT query_id, neighbor_id
        |FROM q CROSS JOIN c
        |WHERE query_id <> neighbor_id
        |  AND list_cosine_similarity(qe, ne) >= 0.35
        |ORDER BY query_id, neighbor_id""".stripMargin,
    "s13_mmr_rerank" -> s13OracleSql,
    // s14: the pre-filtered ranking re-derived — the predicate joins in
    // BEFORE any similarity computes, exactly as the Spark plan orders it.
    "s14_filtered_ann" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
        |c AS (
        |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ne
        |  FROM embeddings JOIN documents ON vec_id = doc_id
        |  WHERE lang = 'en'),
        |scored AS (
        |  SELECT query_id, neighbor_id, list_cosine_similarity(qe, ne) AS sim
        |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
        |r AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM scored)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin,
    // s16: SQ8 end to end — per-dim corpus bounds, 8-bit codes, the
    // PURE-INTEGER symmetric shortlist (bit-identical by construction),
    // exact cosine refine. round() precedes the BIGINT cast on both
    // engines (DuckDB CAST rounds where Spark truncates — the cast only
    // ever sees round()'s integral doubles).
    // s17: binary quantization end to end — per-dim MIDRANGE thresholds
    // from exact min/max (order-independent, unlike a mean), 1-bit sign
    // codes, integer Hamming shortlist (Σ(q−n)² over bits), exact
    // cosine refine. Same re-derivation shape as s16.
    "s17_binary_search" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |x AS (SELECT vec_id, unnest(generate_series(1, len(emb))) AS d, unnest(emb) AS v FROM e),
        |b AS (SELECT d, (min(v) + max(v)) / 2.0 AS mid FROM x GROUP BY d),
        |xc AS (
        |  SELECT vec_id, x.d,
        |    CASE WHEN v > mid THEN 1 ELSE 0 END AS code
        |  FROM x JOIN b USING (d)),
        |s AS (
        |  SELECT qx.vec_id AS query_id, nx.vec_id AS neighbor_id,
        |    sum((qx.code - nx.code) * (qx.code - nx.code)) AS dist
        |  FROM xc qx JOIN xc nx USING (d)
        |  WHERE qx.vec_id < 10 AND nx.vec_id <> qx.vec_id
        |  GROUP BY 1, 2),
        |sl AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS srn
        |  FROM s),
        |r AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY list_cosine_similarity(qe.emb, ne.emb) DESC, neighbor_id) AS rnk
        |  FROM sl JOIN e qe ON qe.vec_id = query_id JOIN e ne ON ne.vec_id = neighbor_id
        |  WHERE srn <= 100)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin,
    "s16_sq8_search" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |x AS (SELECT vec_id, unnest(generate_series(1, len(emb))) AS d, unnest(emb) AS v FROM e),
        |b AS (SELECT d, min(v) AS lo, max(v) AS hi FROM x GROUP BY d),
        |xc AS (
        |  SELECT vec_id, x.d,
        |    CASE WHEN hi = lo THEN 0
        |         ELSE CAST(least(greatest(round((v - lo) * 255.0 / (hi - lo)), 0), 255) AS BIGINT)
        |    END AS code
        |  FROM x JOIN b USING (d)),
        |s AS (
        |  SELECT qx.vec_id AS query_id, nx.vec_id AS neighbor_id,
        |    sum((qx.code - nx.code) * (qx.code - nx.code)) AS dist2
        |  FROM xc qx JOIN xc nx USING (d)
        |  WHERE qx.vec_id < 10 AND nx.vec_id <> qx.vec_id
        |  GROUP BY 1, 2),
        |sl AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY dist2, neighbor_id) AS srn
        |  FROM s),
        |r AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY list_cosine_similarity(qe.emb, ne.emb) DESC, neighbor_id) AS rnk
        |  FROM sl JOIN e qe ON qe.vec_id = query_id JOIN e ne ON ne.vec_id = neighbor_id
        |  WHERE srn <= 40)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin,
    // s15: s3's fixed-seed assignment re-derived, queries probing their
    // two best cells, the lang filter applied to the ASSIGNED corpus
    // before scoring — the filtered-IVF composition end to end.
    "s15_filtered_ivf" ->
      """WITH ct AS (SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings WHERE vec_id < 8),
        |rk AS (
        |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, ct.cent_id AS cell,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), ce) DESC, ct.cent_id) AS arn
        |  FROM embeddings e CROSS JOIN ct),
        |alw AS (
        |  SELECT vec_id, emb, cell FROM rk JOIN documents ON vec_id = doc_id
        |  WHERE arn = 1 AND lang = 'en'),
        |q AS (SELECT vec_id AS query_id, emb AS qe, cell FROM rk WHERE vec_id < 10 AND arn <= 2),
        |s AS (SELECT query_id, a.vec_id AS neighbor_id, list_cosine_similarity(qe, a.emb) AS sim
        |      FROM q JOIN alw a USING (cell) WHERE a.vec_id <> query_id),
        |r AS (SELECT query_id, neighbor_id,
        |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin,
    "s1_cosine_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
        |c AS (
        |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ne FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id, list_cosine_similarity(qe, ne) AS sim
        |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
        |r AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM scored)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin,
    // s9 routes to the exact tier at every driver scale (the corpus sits
    // far inside exactScanLimit), so the exact top-k oracle checks the
    // whole probe→route→scan path; the forced IVF escalation is
    // spec-covered with a recall floor instead (an exact oracle cannot
    // follow an approximate answer).
    "s9_ann_auto" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
        |c AS (
        |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ne FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id, list_cosine_similarity(qe, ne) AS sim
        |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
        |r AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM scored)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin,
    "t1_token_count" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_computed,
        |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS n_nonspace_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t2_lang_id" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '\b(the|and|of)\b')) AS hits_en,
        |    len(regexp_extract_all(text, '\b(der|die|das|und)\b')) AS hits_de,
        |    len(regexp_extract_all(text, '\b(el|los|las|una)\b')) AS hits_es,
        |    len(regexp_extract_all(text, '\b(le|les|une|est)\b')) AS hits_fr,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS hits_zh
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, hits_en, hits_de, hits_es, hits_fr, hits_zh,
        |    greatest(hits_en, hits_de, hits_es, hits_fr, hits_zh) AS best
        |  FROM h)
        |SELECT doc_id,
        |  CASE WHEN best > 0 AND hits_en = best THEN 'en'
        |       WHEN best > 0 AND hits_de = best THEN 'de'
        |       WHEN best > 0 AND hits_es = best THEN 'es'
        |       WHEN best > 0 AND hits_fr = best THEN 'fr'
        |       WHEN best > 0 AND hits_zh = best THEN 'zh'
        |       ELSE 'und' END AS pred_lang
        |FROM b ORDER BY doc_id""".stripMargin,
    "t3_quality_score" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    len(regexp_extract_all(text, '[.,!?;:]')) AS punct,
        |    len(regexp_extract_all(text, '\b(the|a|and|of|to)\b')) AS stop,
        |    length(text) AS n_chars
        |  FROM documents)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CASE WHEN n_chars = 0 THEN 0
        |       ELSE CAST(floor(punct * 1000000.0 / n_chars) AS BIGINT) END AS punct_ratio_micro,
        |  CASE WHEN n_tokens = 0 THEN 0
        |       ELSE CAST(floor(stop * 1000000.0 / n_tokens) AS BIGINT) END AS stopword_ratio_micro,
        |  CAST(n_chars >= 100 AND n_chars <= 20000 AND n_tokens >= 20 AS INTEGER) AS quality_ok
        |FROM f ORDER BY doc_id""".stripMargin,
    "t4_fingerprint" ->
      """SELECT doc_id, md5(text) AS fingerprint, substr(md5(text), 1, 4) AS band
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t5_field_extract" ->
      """SELECT event_id, CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS BIGINT) AS prop_k
        |FROM events ORDER BY event_id""".stripMargin,
    "t6_validate" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_computed,
        |  CAST(length(text) >= 200 AND text NOT LIKE '%error%' AND text NOT LIKE '%verify%' AS INTEGER) AS is_valid
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t7_text_clean" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS clean_hash,
        |  CAST(length(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_clean
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t8_pii_mask" ->
      """SELECT doc_id,
        |  md5(regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g')) AS masked_hash,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t9_ngram_freq" ->
      """WITH toks AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |bg AS (
        |  SELECT unnest(list_transform(range(1, len(t)),
        |    i -> t[CAST(i AS INTEGER)] || ' ' || t[CAST(i + 1 AS INTEGER)])) AS bigram
        |  FROM toks)
        |SELECT bigram, count(*) AS cnt FROM bg
        |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 100""".stripMargin,
    "t10_entity_extract" ->
      """WITH docs AS (
        |  SELECT event_id,
        |    '{"person":"u' || CAST(user_id AS VARCHAR) || '","event":"' || event_type ||
        |    '","meta":' || props ||
        |    ',"targets":["' || event_type || '","u' || CAST(user_id AS VARCHAR) ||
        |    '"],"score":' || CAST(value AS VARCHAR) || '}' AS doc
        |  FROM events)
        |SELECT event_id,
        |  json_extract_string(doc, '$.person') AS person,
        |  json_extract_string(doc, '$.event') AS event,
        |  CAST(json_extract_string(doc, '$.meta.k') AS BIGINT) AS prop_k,
        |  CAST(json_array_length(doc, '$.targets') AS BIGINT) AS n_targets,
        |  json_extract_string(doc, '$.targets[0]') AS target1,
        |  CAST(json_extract_string(doc, '$.score') AS DOUBLE) AS score
        |FROM docs ORDER BY event_id""".stripMargin,
    "t11_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+')) AS BIGINT) AS n_pieces,
        |  CAST(len(list_filter(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+'), p -> NOT regexp_matches(p, '^\s+$'))) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t12_corpus_stats" ->
      """WITH r AS (
        |  SELECT lang, n_chars, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang,
        |  CAST(max(n) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) * 1000 // max(n) AS BIGINT) AS mean_chars_milli,
        |  CAST(max(CASE WHEN rn = ceil(n * 0.5) THEN n_chars END) AS BIGINT) AS p50_chars,
        |  CAST(max(CASE WHEN rn = ceil(n * 0.95) THEN n_chars END) AS BIGINT) AS p95_chars
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    "t13_stratified_sample" ->
      """SELECT doc_id, lang, CAST(sample_rank AS BIGINT) AS sample_rank FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 50 ORDER BY doc_id""".stripMargin,
    "e1_tumbling_agg" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts, event_type,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_value_milli
        |FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin,
    "e10_sliding_agg" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) // 900000000 AS q, event_type,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm
        |  FROM events),
        |x AS (
        |  SELECT unnest(generate_series((q - 3) * 900, q * 900, 900)) AS win_start,
        |    event_type, vm
        |  FROM e)
        |SELECT win_start, event_type, count(*) AS cnt,
        |  CAST(sum(vm) AS BIGINT) AS sum_value_milli
        |FROM x GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "e4_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
        |v AS (SELECT user_id, min(tsu) AS t_view FROM ev WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(tsu) AS t_click FROM ev e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.tsu > v.t_view GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(tsu) AS t_purchase FROM ev e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.tsu > c.t_click GROUP BY e.user_id),
        |u AS (SELECT DISTINCT user_id FROM ev)
        |SELECT u.user_id, v.t_view, c.t_click, p.t_purchase,
        |  CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
        |            WHEN c.t_click IS NOT NULL THEN 2
        |            WHEN v.t_view IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS funnel_depth
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY u.user_id""".stripMargin,
    "e3_stream_dedup" ->
      """SELECT user_id, event_type, event_id AS first_event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "e5_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu FROM events),
        |w AS (
        |  SELECT event_id, user_id, event_type, tsu,
        |    max(CASE WHEN event_type = 'click' THEN tsu END) OVER (
        |      PARTITION BY user_id ORDER BY tsu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
        |  FROM ev)
        |SELECT event_id, user_id, tsu AS purchase_us, last_click_us,
        |  CAST(last_click_us IS NOT NULL AS INTEGER) AS attributed
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "e6_interval_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu FROM events),
        |c AS (SELECT event_id AS click_id, user_id, tsu AS click_us FROM ev WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, tsu AS purchase_us FROM ev WHERE event_type = 'purchase')
        |SELECT click_id, purchase_id, user_id, purchase_us - click_us AS lag_us
        |FROM c JOIN p USING (user_id)
        |WHERE purchase_us > click_us AND purchase_us <= click_us + 1800000000
        |ORDER BY click_id, purchase_id""".stripMargin,
    "t14_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w),
        |st AS (SELECT doc_id, sum(c) AS n_words, count(*) AS nd, max(c) AS best
        |       FROM wc GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(n_words AS BIGINT) AS n_words,
        |  CAST(nd AS BIGINT) AS n_distinct_words,
        |  CAST((n_words - nd) * 1000000 // n_words AS BIGINT) AS dup_word_ratio_micro,
        |  CAST(best AS BIGINT) AS top_word_count,
        |  CAST(best * 1000000 // n_words AS BIGINT) AS top_share_micro,
        |  CAST(best * 1000000 // n_words >= 100000
        |    OR (n_words - nd) * 1000000 // n_words >= 600000 AS INTEGER) AS repetition_flag
        |FROM st ORDER BY doc_id""".stripMargin,
    "t15_domain_stats" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) * 1000 // count(*) AS BIGINT) AS mean_chars_milli,
        |  count(DISTINCT lang) AS n_langs,
        |  count(DISTINCT md5(text)) AS n_unique_texts,
        |  CAST((count(*) - count(DISTINCT md5(text))) * 1000000 // count(*) AS BIGINT) AS dup_ratio_micro
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "t16_seq_pack" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS st
        |  FROM tk)
        |SELECT doc_id, n_tokens,
        |  CAST(st // 2048 AS BIGINT) AS seq_id,
        |  CAST(st % 2048 AS BIGINT) AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    "e8_retention_cohorts" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS hour FROM events),
        |c AS (SELECT user_id, min(hour) AS cohort_hour FROM ev GROUP BY user_id),
        |a AS (
        |  SELECT DISTINCT ev.user_id, c.cohort_hour, ev.hour - c.cohort_hour AS hours_since
        |  FROM ev JOIN c ON ev.user_id = c.user_id)
        |SELECT cohort_hour, hours_since, count(DISTINCT user_id) AS n_active
        |FROM a GROUP BY cohort_hour, hours_since
        |ORDER BY cohort_hour, hours_since""".stripMargin,
    "t18_cost_accounting" ->
      """WITH calls AS (
        |  SELECT 'gpt-' || event_type AS model,
        |    epoch_us(ts) // 86400000000 AS day_idx,
        |    CAST(floor(value * 10) AS BIGINT) + 100 AS prompt_tokens,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS cached_tokens,
        |    CAST(floor(value * 3) AS BIGINT) AS output_tokens
        |  FROM events),
        |pc AS (
        |  SELECT model, day_idx,
        |    prompt_tokens - cached_tokens AS input_tokens, cached_tokens, output_tokens,
        |    ((prompt_tokens - cached_tokens) * 2500000) // 1000000
        |      + (cached_tokens * 1250000) // 1000000
        |      + (output_tokens * 10000000) // 1000000 AS cost_micro
        |  FROM calls),
        |d AS (
        |  SELECT model, day_idx, count(*) AS n_calls,
        |    CAST(sum(input_tokens) AS BIGINT) AS input_tokens,
        |    CAST(sum(cached_tokens) AS BIGINT) AS cached_tokens,
        |    CAST(sum(output_tokens) AS BIGINT) AS output_tokens,
        |    CAST(sum(cost_micro) AS BIGINT) AS cost_micro
        |  FROM pc GROUP BY 1, 2),
        |r AS (
        |  SELECT *, CAST(sum(cost_micro) OVER (
        |    PARTITION BY model ORDER BY day_idx ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum_cost_micro
        |  FROM d)
        |SELECT model, day_idx, n_calls, input_tokens, cached_tokens, output_tokens,
        |  cost_micro, cum_cost_micro,
        |  CAST(cum_cost_micro >= 2000000 AS INTEGER) AS limit_reached
        |FROM r ORDER BY model, day_idx""".stripMargin,
    "e7_threshold_anomaly" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, CAST(floor(value * 1000) AS BIGINT) AS value_milli
        |  FROM events),
        |r AS (
        |  SELECT event_id, event_type, value_milli,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value_milli, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM ev),
        |thr AS (SELECT event_type, value_milli AS p99_milli FROM r WHERE rn = ceil(n * 0.99))
        |SELECT e.event_id, e.event_type, e.value_milli, t.p99_milli
        |FROM ev e JOIN thr t USING (event_type)
        |WHERE e.value_milli > t.p99_milli
        |ORDER BY e.event_id""".stripMargin,
    "g17_harmonic" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |bfs AS (
        |  SELECT s_suppkey * 2 + 1 AS lm, s_suppkey * 2 + 1 AS node, 0 AS dist
        |  FROM supplier WHERE s_suppkey < 4
        |  UNION
        |  SELECT bfs.lm, e.dst AS node, bfs.dist + 1 AS dist
        |  FROM bfs JOIN e ON bfs.node = e.src WHERE bfs.dist < 6),
        |m AS (SELECT lm, node, min(dist) AS dist FROM bfs GROUP BY lm, node)
        |SELECT CASE WHEN node % 2 = 0 THEN 'c_' || CAST(node // 2 AS VARCHAR)
        |            ELSE 's_' || CAST(node // 2 AS VARCHAR) END AS node,
        |  CAST(sum(1000000 // dist) AS BIGINT) AS h_micro
        |FROM m WHERE dist > 0 GROUP BY 1 ORDER BY node""".stripMargin,
    "g16_closeness" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |bfs AS (
        |  SELECT s_suppkey * 2 + 1 AS lm, s_suppkey * 2 + 1 AS node, 0 AS dist
        |  FROM supplier WHERE s_suppkey < 4
        |  UNION
        |  SELECT bfs.lm, e.dst AS node, bfs.dist + 1 AS dist
        |  FROM bfs JOIN e ON bfs.node = e.src WHERE bfs.dist < 6),
        |m AS (SELECT lm, node, min(dist) AS dist FROM bfs GROUP BY lm, node)
        |SELECT CASE WHEN node % 2 = 0 THEN 'c_' || CAST(node // 2 AS VARCHAR)
        |            ELSE 's_' || CAST(node // 2 AS VARCHAR) END AS node,
        |  CAST(count(*) AS BIGINT) AS n_reached,
        |  CAST(sum(dist) AS BIGINT) AS sum_dist
        |FROM m GROUP BY 1 ORDER BY node""".stripMargin,
    "g9_shortest_paths" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |bfs AS (
        |  SELECT s_suppkey * 2 + 1 AS node, 0 AS dist FROM supplier WHERE s_suppkey < 5
        |  UNION
        |  SELECT e.dst AS node, bfs.dist + 1 AS dist
        |  FROM bfs JOIN e ON bfs.node = e.src WHERE bfs.dist < 6),
        |m AS (SELECT node, min(dist) AS dist FROM bfs GROUP BY node)
        |SELECT CASE WHEN node % 2 = 0 THEN 'c_' || CAST(node // 2 AS VARCHAR)
        |            ELSE 's_' || CAST(node // 2 AS VARCHAR) END AS node,
        |  CAST(dist AS BIGINT) AS dist
        |FROM m ORDER BY node""".stripMargin,
    // g22: the same unrolled-relaxation shape as g9's BFS oracle, but the
    // recursion carries the accumulated WEIGHT instead of the hop count —
    // min over all ≤6-edge walks of the summed edge weights (the bounded-
    // round Bellman-Ford semantics the Spark side computes). The state
    // space stays tiny because weights are small integers: distinct
    // (node, dist, r) triples are bounded by V × 43 × 7.
    "g22_weighted_paths" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
        |    GREATEST(1, 8 - CAST(count(DISTINCT l_orderkey) AS BIGINT)) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |e AS (SELECT src, dst, w FROM e0 UNION SELECT dst, src, w FROM e0),
        |relax AS (
        |  SELECT s_suppkey * 2 + 1 AS node, CAST(0 AS BIGINT) AS dist, 0 AS r
        |  FROM supplier WHERE s_suppkey < 5
        |  UNION
        |  SELECT e.dst AS node, relax.dist + e.w AS dist, relax.r + 1 AS r
        |  FROM relax JOIN e ON relax.node = e.src WHERE relax.r < 6),
        |m AS (SELECT node, min(dist) AS dist FROM relax GROUP BY node)
        |SELECT CASE WHEN node % 2 = 0 THEN 'c_' || CAST(node // 2 AS VARCHAR)
        |            ELSE 's_' || CAST(node // 2 AS VARCHAR) END AS node,
        |  CAST(dist AS BIGINT) AS dist
        |FROM m ORDER BY node""".stripMargin,
    // g24: Brandes' two phases unrolled for the fixed horizon (3): BFS
    // min-distances, per-layer path counts σ, then backward dependency
    // accumulation in the SAME integer micro-unit fixed point as the
    // Spark side (per-term DIV, order-independent integer sums).
    "g24_betweenness" ->
      """WITH RECURSIVE e0 AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |pv AS MATERIALIZED (SELECT s_suppkey * 2 + 1 AS lm FROM supplier WHERE s_suppkey < 3),
        |r AS (
        |  SELECT lm, lm AS node, 0 AS dist FROM pv
        |  UNION
        |  SELECT r.lm, e.dst AS node, r.dist + 1 AS dist
        |  FROM r JOIN e ON r.node = e.src WHERE r.dist < 3),
        |bfs AS MATERIALIZED (SELECT lm, node, min(dist) AS dist FROM r GROUP BY 1, 2),
        |s0 AS MATERIALIZED (SELECT lm, lm AS node, CAST(1 AS BIGINT) AS sig FROM pv),
        |s1 AS MATERIALIZED (
        |  SELECT s0.lm, e.dst AS node, SUM(s0.sig) AS sig
        |  FROM s0 JOIN e ON s0.node = e.src
        |  JOIN bfs b ON b.lm = s0.lm AND b.node = e.dst AND b.dist = 1
        |  GROUP BY 1, 2),
        |s2 AS MATERIALIZED (
        |  SELECT s1.lm, e.dst AS node, SUM(s1.sig) AS sig
        |  FROM s1 JOIN e ON s1.node = e.src
        |  JOIN bfs b ON b.lm = s1.lm AND b.node = e.dst AND b.dist = 2
        |  GROUP BY 1, 2),
        |s3 AS MATERIALIZED (
        |  SELECT s2.lm, e.dst AS node, SUM(s2.sig) AS sig
        |  FROM s2 JOIN e ON s2.node = e.src
        |  JOIN bfs b ON b.lm = s2.lm AND b.node = e.dst AND b.dist = 3
        |  GROUP BY 1, 2),
        |del2 AS MATERIALIZED (
        |  SELECT s2.lm, s2.node, SUM(s2.sig * (1000000 + 0) // s3.sig) AS delta
        |  FROM s2 JOIN e ON s2.node = e.src
        |  JOIN s3 ON s3.lm = s2.lm AND s3.node = e.dst
        |  GROUP BY 1, 2),
        |del1 AS MATERIALIZED (
        |  SELECT s1.lm, s1.node,
        |    SUM(s1.sig * (1000000 + COALESCE(d2.delta, 0)) // s2.sig) AS delta
        |  FROM s1 JOIN e ON s1.node = e.src
        |  JOIN s2 ON s2.lm = s1.lm AND s2.node = e.dst
        |  LEFT JOIN del2 d2 ON d2.lm = s2.lm AND d2.node = s2.node
        |  GROUP BY 1, 2),
        |bc AS (
        |  SELECT node, SUM(delta) AS bc_micro
        |  FROM (SELECT * FROM del1 UNION ALL SELECT * FROM del2)
        |  GROUP BY node HAVING SUM(delta) > 0)
        |SELECT
        |  CASE WHEN node % 2 = 0 THEN 'c_' || CAST(node // 2 AS VARCHAR)
        |       ELSE 's_' || CAST(node // 2 AS VARCHAR) END AS node,
        |  CAST(bc_micro AS BIGINT) AS bc_micro
        |FROM bc ORDER BY node""".stripMargin,
    // g25: the deterministic walks recomputed step by step — the same
    // dst-ordered adjacency indexing and integer mixer as the Spark
    // side, one generated CTE per hop.
    "g25_random_walks" ->
      s"""$g25CorpusCte
         |SELECT walker, step, node FROM dec ORDER BY 1, 2, 3""".stripMargin,
    // g28: the walk-corpus consumer — skip-gram pairs (≤ 2 steps apart
    // on the same walk) over the SAME generated walk CTEs as g25, with
    // the exact-integer lift (cnt·N/(c_a·c_b) in micro-units, the
    // two-step quotient/remainder expansion on both engines).
    "g28_walk_cooc" ->
      s"""$g25CorpusCte,
         |pairs AS (
         |  SELECT LEAST(a.node, b.node) AS node1, GREATEST(a.node, b.node) AS node2
         |  FROM dec a JOIN dec b ON a.walker = b.walker
         |   AND b.step - a.step BETWEEN 1 AND 2),
         |agg AS (SELECT node1, node2, COUNT(*) AS cnt FROM pairs GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM agg),
         |occ AS (
         |  SELECT node, CAST(SUM(cnt) AS BIGINT) AS c FROM (
         |    SELECT node1 AS node, cnt FROM agg
         |    UNION ALL SELECT node2 AS node, cnt FROM agg)
         |  GROUP BY node)
         |SELECT agg.node1, agg.node2, agg.cnt,
         |  CAST((agg.cnt * tot.n // (ca.c * cb.c)) * 1000000 +
         |    ((agg.cnt * tot.n) % (ca.c * cb.c)) * 1000000 // (ca.c * cb.c)
         |    AS BIGINT) AS lift_micro
         |FROM agg
         |JOIN occ ca ON ca.node = agg.node1
         |JOIN occ cb ON cb.node = agg.node2
         |CROSS JOIN tot
         |ORDER BY 1, 2""".stripMargin,
    // g26: the biased walks recomputed hop by hop — per candidate the
    // same return/common/far integer weights (1/4/2), the same
    // dst-ordered cumulative pick against the mixer, one generated CTE
    // per hop carrying (walker, prev, node).
    "g26_node2vec_walks" -> {
      def mix(t: Int) =
        s"((walker % 1048573) * 31 + $t * 7 + (src % 1048573) * 13)"
      val hops = (1 to 3).map { t =>
        s"""w$t AS MATERIALIZED (
           |  SELECT walker, src AS prev, dst AS node FROM (
           |    SELECT c.*,
           |      SUM(wgt) OVER (PARTITION BY walker ORDER BY dst) AS cum,
           |      SUM(wgt) OVER (PARTITION BY walker) AS tot
           |    FROM (
           |      SELECT w.walker, w.prev, a.src, a.dst,
           |        CASE WHEN a.dst = w.prev THEN 1
           |             WHEN EXISTS (SELECT 1 FROM e x
           |                          WHERE x.src = w.prev AND x.dst = a.dst) THEN 4
           |             ELSE 2 END AS wgt
           |      FROM w${t - 1} w JOIN e a ON w.node = a.src) c)
           |  WHERE cum - wgt <= ${mix(t)} % tot
           |    AND ${mix(t)} % tot < cum)""".stripMargin
      }.mkString(",\n")
      val union = (0 to 3).map { t =>
        s"SELECT walker, CAST($t AS BIGINT) AS step, node FROM w$t"
      }.mkString("\n  UNION ALL ")
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS MATERIALIZED (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |w0 AS (SELECT s_suppkey * 2 + 1 AS walker,
         |         s_suppkey * 2 + 1 AS prev, s_suppkey * 2 + 1 AS node
         |       FROM supplier WHERE s_suppkey < 8),
         |$hops,
         |allw AS (
         |  $union)
         |SELECT
         |  CASE WHEN walker % 2 = 0 THEN 'c_' || CAST(walker // 2 AS VARCHAR)
         |       ELSE 's_' || CAST(walker // 2 AS VARCHAR) END AS walker,
         |  step,
         |  CASE WHEN node % 2 = 0 THEN 'c_' || CAST(node // 2 AS VARCHAR)
         |       ELSE 's_' || CAST(node // 2 AS VARCHAR) END AS node
         |FROM allw ORDER BY 1, 2, 3""".stripMargin
    },
    // g23: deterministic Louvain, unrolled — the same parity-gated
    // integer local-move algebra as operators.Louvain, one generated CTE
    // chain per round (the rounds are mechanical), then the community
    // contraction, two level-2 rounds, and the fold + min-member
    // canonicalization. (SELECT SUM(w) FROM e) is 2m throughout — the
    // contraction preserves total weight.
    "g23_louvain" -> s"""WITH ${louvainChainCtes(
      """SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
        |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2""".stripMargin)}
      |SELECT
      |  CASE WHEN f.node % 2 = 0 THEN 'c_' || CAST(f.node // 2 AS VARCHAR)
      |       ELSE 's_' || CAST(f.node // 2 AS VARCHAR) END AS node,
      |  CASE WHEN c.community % 2 = 0 THEN 'c_' || CAST(c.community // 2 AS VARCHAR)
      |       ELSE 's_' || CAST(c.community // 2 AS VARCHAR) END AS community
      |FROM fold f JOIN canon c ON c.com = f.com
      |ORDER BY node""".stripMargin,
    // g30: the same unrolled Louvain chain on MONTHS-OF-OVERLAP weights
    // (distinct trading months per pair — the reference's tie-strength
    // semantics), finished by the community-stats algebra: volume from
    // the weighted-degree table, internal mass from the intra-community
    // edge filter, conductance via the exact two-step integer expansion.
    "g30_weighted_louvain" -> s"""WITH ${louvainChainCtes(
      """SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
        |    CAST(count(DISTINCT year(o_orderdate) * 12 + month(o_orderdate)) AS BIGINT) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2""".stripMargin)},
      |lab AS MATERIALIZED (
      |  SELECT f.node, c.community AS com FROM fold f JOIN canon c ON c.com = f.com),
      |vol AS MATERIALIZED (
      |  SELECT l.com, CAST(SUM(k.k) AS BIGINT) AS vol, COUNT(*) AS n_nodes
      |  FROM lab l JOIN k ON k.node = l.node GROUP BY 1),
      |inc AS MATERIALIZED (
      |  SELECT ls.com, CAST(SUM(e.w) AS BIGINT) AS in_sym
      |  FROM e JOIN lab ls ON e.src = ls.node JOIN lab ld ON e.dst = ld.node
      |  WHERE ls.com = ld.com GROUP BY 1),
      |stats AS (
      |  SELECT v.com, v.n_nodes, v.vol,
      |    COALESCE(i.in_sym, CAST(0 AS BIGINT)) AS in_sym,
      |    v.vol - COALESCE(i.in_sym, CAST(0 AS BIGINT)) AS cut,
      |    least(v.vol, (SELECT CAST(SUM(w) AS BIGINT) FROM e) - v.vol) AS dn
      |  FROM vol v LEFT JOIN inc i ON i.com = v.com)
      |SELECT
      |  CASE WHEN com % 2 = 0 THEN 'c_' || CAST(com // 2 AS VARCHAR)
      |       ELSE 's_' || CAST(com // 2 AS VARCHAR) END AS community,
      |  n_nodes, vol, in_sym, cut,
      |  CASE WHEN dn = 0 THEN CAST(0 AS BIGINT)
      |       ELSE CAST((cut // dn) * 1000000 + (cut % dn) * 1000000 // dn AS BIGINT)
      |  END AS conductance_micro
      |FROM stats""".stripMargin,
    "d10_semantic_dedup" ->
      """WITH ct AS (SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS ce
        |            FROM embeddings WHERE vec_id < 8),
        |asg AS (
        |  SELECT vec_id, emb, cell FROM (
        |    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, ct.cent_id AS cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), ce) DESC, ct.cent_id) AS arn
        |    FROM embeddings e CROSS JOIN ct)
        |  WHERE arn = 1),
        |dups AS (
        |  SELECT a.vec_id, min(b.vec_id) AS dup_of
        |  FROM asg a JOIN asg b ON a.cell = b.cell AND b.vec_id < a.vec_id
        |  WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4
        |  GROUP BY a.vec_id)
        |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell, d.dup_of,
        |  CAST(d.dup_of IS NOT NULL AS INTEGER) AS is_dup
        |FROM asg a LEFT JOIN dups d ON a.vec_id = d.vec_id
        |ORDER BY a.vec_id""".stripMargin,
    "e11_disorder_probe" ->
      """WITH e AS (
        |  SELECT event_id, event_type, epoch_ns(ts) AS t,
        |    (event_id + list_reduce(list_transform(range(1, 13),
        |       i -> strpos('0123456789abcdef',
        |              substr(md5(CAST(event_id AS VARCHAR)), CAST(i AS INTEGER), 1)) - 1),
        |       (a, b) -> a * 16 + b) % 2001) // 1000 AS b
        |  FROM events),
        |bm AS (SELECT b, max(t) AS mt FROM e GROUP BY b),
        |pm AS (SELECT b, max(mt) OVER (ORDER BY b
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev FROM bm),
        |l AS (
        |  SELECT e.event_type,
        |    CASE WHEN pm.prev IS NOT NULL AND pm.prev > e.t THEN pm.prev - e.t ELSE 0 END AS late
        |  FROM e JOIN pm USING (b))
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(sum(CASE WHEN late > 0 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS late_ppm,
        |  CAST(max(late) // 1000000 AS BIGINT) AS max_late_ms
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,
    "h6_fk_audit" -> {
      def one(name: String, childSel: String, parentSel: String): String =
        s"""SELECT '$name' AS relationship,
           |  count(*) AS n_child,
           |  CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
           |  CAST(count(DISTINCT CASE WHEN p.k IS NULL THEN c.k END) AS BIGINT) AS n_orphan_keys
           |FROM ($childSel) c LEFT JOIN (SELECT DISTINCT k FROM ($parentSel)) p ON c.k = p.k""".stripMargin
      Seq(
        one("lineitem->orders", "SELECT l_orderkey AS k FROM lineitem",
          "SELECT o_orderkey AS k FROM orders"),
        one("lineitem->part", "SELECT l_partkey AS k FROM lineitem",
          "SELECT p_partkey AS k FROM part"),
        one("lineitem->supplier", "SELECT l_suppkey AS k FROM lineitem",
          "SELECT s_suppkey AS k FROM supplier"),
        one("orders->customer", "SELECT o_custkey AS k FROM orders",
          "SELECT c_custkey AS k FROM customer WHERE c_custkey % 50 <> 0"),
        one("customer->nation", "SELECT c_nationkey AS k FROM customer",
          "SELECT n_nationkey AS k FROM nation"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY relationship")
    },
    "h1_upsert_dim" ->
      """WITH spend AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY 1),
        |existing AS (
        |  SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS acctbal,
        |    CAST(0 AS BIGINT) AS version
        |  FROM customer),
        |incoming AS (
        |  SELECT c_custkey AS custkey, c_name AS name,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) + spend AS DOUBLE) AS acctbal,
        |    CAST(1 AS BIGINT) AS version
        |  FROM customer JOIN spend ON c_custkey = o_custkey),
        |unioned AS (
        |  SELECT * FROM existing UNION ALL SELECT * FROM incoming)
        |SELECT custkey, name, acctbal, version
        |FROM unioned
        |QUALIFY row_number() OVER (PARTITION BY custkey ORDER BY version DESC) = 1
        |ORDER BY custkey""".stripMargin,
    "h7_avro_interchange" ->
      """SELECT lang, source,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len
        |FROM documents
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,
    // h8: the oracle computes the corrected aggregate from the RAW
    // table; matching it proves the dynamic overwrite replaced exactly
    // the republished partition (no doubled rows, no dropped siblings).
    "h8_dynamic_overwrite" ->
      """WITH d AS (
        |  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
        |    event_type, user_id
        |  FROM events),
        |b AS (SELECT min(day) + (max(day) - min(day)) // 2 AS mid FROM d)
        |SELECT day, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(user_id) AS BIGINT) AS sum_users
        |FROM d, b
        |WHERE NOT (day = mid AND event_type = 'click')
        |GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin,
    "h2_scd2_dim" ->
      """WITH spend AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY 1),
        |existing AS (
        |  SELECT c_custkey AS custkey, c_name AS name, c_acctbal AS acctbal,
        |    CAST(0 AS BIGINT) AS version
        |  FROM customer),
        |incoming AS (
        |  SELECT c_custkey AS custkey, c_name AS name,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) + spend AS DOUBLE) AS acctbal,
        |    CAST(1 AS BIGINT) AS version
        |  FROM customer JOIN spend ON c_custkey = o_custkey),
        |hist AS (SELECT * FROM existing UNION ALL SELECT * FROM incoming)
        |SELECT custkey, name, acctbal, version,
        |  lead(version) OVER (PARTITION BY custkey ORDER BY version) AS valid_to,
        |  CAST(lead(version) OVER (PARTITION BY custkey ORDER BY version) IS NULL
        |    AS INTEGER) AS is_current
        |FROM hist
        |ORDER BY custkey, version""".stripMargin,
    "h5_zorder_key" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, epoch_us(ts) // 86400000000 AS day FROM events)
         |SELECT event_id, user_id, day,
         |  CAST($zvalTerms AS BIGINT) AS zval
         |FROM e ORDER BY event_id""".stripMargin,
    "h4_scd_asof_join" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    o_totalprice
        |  FROM orders),
        |dim AS (
        |  SELECT custkey, yr,
        |    CASE WHEN s < 100000 THEN 1 WHEN s < 300000 THEN 2
        |         WHEN s < 500000 THEN 3 ELSE 4 END AS tier
        |  FROM (SELECT o_custkey AS custkey, yr,
        |          sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
        |        FROM o WHERE yr % 2 = 0 GROUP BY 1, 2)),
        |j AS (
        |  SELECT o.o_orderkey AS orderkey, o.o_custkey AS custkey, o.yr AS year,
        |    d.tier,
        |    row_number() OVER (PARTITION BY o.o_orderkey ORDER BY d.yr DESC) AS rn
        |  FROM o LEFT JOIN dim d ON o.o_custkey = d.custkey AND d.yr <= o.yr)
        |SELECT orderkey, custkey, year, CAST(tier AS BIGINT) AS tier
        |FROM j WHERE rn = 1 ORDER BY orderkey""".stripMargin,
    "h3_snapshot_diff" ->
      """WITH a AS (
        |  SELECT o_custkey AS custkey, count(*) AS n_orders,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders
        |  WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1998-01-01'
        |  GROUP BY 1),
        |b AS (
        |  SELECT o_custkey AS custkey, count(*) AS n_orders,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders
        |  WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1999-01-01'
        |  GROUP BY 1)
        |SELECT coalesce(a.custkey, b.custkey) AS custkey,
        |  CASE WHEN a.custkey IS NULL THEN 'insert'
        |       WHEN b.custkey IS NULL THEN 'delete'
        |       WHEN a.n_orders IS DISTINCT FROM b.n_orders
        |         OR a.spend IS DISTINCT FROM b.spend THEN 'update' END AS change,
        |  a.n_orders AS old_n_orders, b.n_orders AS new_n_orders,
        |  CAST(a.spend AS DOUBLE) AS old_spend, CAST(b.spend AS DOUBLE) AS new_spend
        |FROM a FULL OUTER JOIN b ON a.custkey = b.custkey
        |WHERE a.custkey IS NULL OR b.custkey IS NULL
        |   OR a.n_orders IS DISTINCT FROM b.n_orders
        |   OR a.spend IS DISTINCT FROM b.spend
        |ORDER BY custkey""".stripMargin,
    "t19_gram_lm_score" ->
      s"""WITH $t19Ctes
         |SELECT doc_id, n_bigrams, lm_micro FROM lm ORDER BY doc_id""".stripMargin,
    "t25_lm_buckets" ->
      s"""WITH $t19Ctes,
         |scored AS (
         |  SELECT dd.doc_id, dd.lang, lm.lm_micro
         |  FROM documents dd JOIN lm USING (doc_id)),
         |hist AS (SELECT lang, lm_micro, count(*) AS c FROM scored
         |         WHERE lm_micro IS NOT NULL GROUP BY 1, 2),
         |cum AS (SELECT lang, lm_micro,
         |          sum(c) OVER (PARTITION BY lang ORDER BY lm_micro) AS cum,
         |          sum(c) OVER (PARTITION BY lang) AS n FROM hist),
         |b AS (SELECT lang,
         |        min(CASE WHEN cum >= (33*n+99)//100 THEN lm_micro END) AS v33,
         |        min(CASE WHEN cum >= (67*n+99)//100 THEN lm_micro END) AS v67
         |      FROM cum GROUP BY lang)
         |SELECT s.doc_id, s.lang, s.lm_micro,
         |  CASE WHEN s.lm_micro > b.v67 THEN 'head'
         |       WHEN s.lm_micro > b.v33 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM scored s JOIN b USING (lang) ORDER BY s.doc_id""".stripMargin,
    "t21_hash_split" ->
      """SELECT doc_id,
        |  list_reduce(list_transform(range(1, 13),
        |    i -> strpos('0123456789abcdef', substr(md5(text), CAST(i AS INTEGER), 1)) - 1),
        |    (a, b) -> a * 16 + b) % 1000 AS u_milli,
        |  CASE WHEN list_reduce(list_transform(range(1, 13),
        |    i -> strpos('0123456789abcdef', substr(md5(text), CAST(i AS INTEGER), 1)) - 1),
        |    (a, b) -> a * 16 + b) % 1000 < 800 THEN 'train'
        |    WHEN list_reduce(list_transform(range(1, 13),
        |    i -> strpos('0123456789abcdef', substr(md5(text), CAST(i AS INTEGER), 1)) - 1),
        |    (a, b) -> a * 16 + b) % 1000 < 900 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t22_curation_verdict" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    length(text) AS n_chars FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '\b(the|and|of)\b')) AS hits_en,
        |    len(regexp_extract_all(text, '\b(der|die|das|und)\b')) AS hits_de,
        |    len(regexp_extract_all(text, '\b(el|los|las|una)\b')) AS hits_es,
        |    len(regexp_extract_all(text, '\b(le|les|une|est)\b')) AS hits_fr,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS hits_zh
        |  FROM documents),
        |b AS (SELECT doc_id, hits_en, hits_de, hits_es, hits_fr, hits_zh,
        |  greatest(hits_en, hits_de, hits_es, hits_fr, hits_zh) AS best FROM h),
        |lang AS (SELECT doc_id,
        |  CASE WHEN best > 0 AND hits_en = best THEN 'en'
        |       WHEN best > 0 AND hits_de = best THEN 'de'
        |       WHEN best > 0 AND hits_es = best THEN 'es'
        |       WHEN best > 0 AND hits_fr = best THEN 'fr'
        |       WHEN best > 0 AND hits_zh = best THEN 'zh'
        |       ELSE 'und' END AS pred_lang FROM b),
        |toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w),
        |st AS (SELECT doc_id, sum(c) AS n_words, count(*) AS nd, max(c) AS best FROM wc GROUP BY doc_id),
        |rep AS (SELECT doc_id,
        |  CAST(best * 1000000 // n_words >= 100000
        |    OR (n_words - nd) * 1000000 // n_words >= 600000 AS INTEGER) AS repetition_flag
        |  FROM st)
        |SELECT f.doc_id, l.pred_lang, CAST(f.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(f.n_chars >= 100 AND f.n_chars <= 20000 AND f.n_tokens >= 20 AS INTEGER) AS quality_ok,
        |  coalesce(r.repetition_flag, 0) AS repetition_flag,
        |  CAST(l.pred_lang <> 'und' AS INTEGER) AS lang_ok,
        |  CAST((f.n_chars >= 100 AND f.n_chars <= 20000 AND f.n_tokens >= 20)
        |    AND coalesce(r.repetition_flag, 0) = 0 AND l.pred_lang <> 'und' AS INTEGER) AS keep,
        |  concat_ws(',',
        |    CASE WHEN NOT (f.n_chars >= 100 AND f.n_chars <= 20000 AND f.n_tokens >= 20) THEN 'quality' END,
        |    CASE WHEN coalesce(r.repetition_flag, 0) = 1 THEN 'repetition' END,
        |    CASE WHEN l.pred_lang = 'und' THEN 'lang' END) AS reasons
        |FROM f JOIN lang l USING (doc_id) LEFT JOIN rep r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "t20_tfidf_terms" ->
      """WITH docs AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |tfa AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS term FROM docs) GROUP BY 1, 2),
        |dfa AS (SELECT term, count(*) AS df FROM tfa GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT tfa.doc_id, tfa.term, tfa.tf, dfa.df,
        |    tfa.tf * ((n.n_docs * 1000000) // dfa.df) AS score_micro
        |  FROM tfa JOIN dfa USING (term) CROSS JOIN n)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  CAST(score_micro AS BIGINT) AS score_micro,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score_micro DESC, term) AS BIGINT) AS rank
        |FROM sc
        |QUALIFY rank <= 3
        |ORDER BY doc_id, rank""".stripMargin
  )
}
