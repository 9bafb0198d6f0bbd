package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names (SURVEY §2 inventory) to DataFrame builders
  * over a scale-factor directory; `oracleSql` carries the DuckDB-equivalent
  * SQL for the driver's hash-match harness. Column names and row order are
  * kept identical on both sides.
  */
object SparkEntry {
  import graft.operators.{Relational, RouterOps, ScaleOps, TextOps}
  import graft.multimodal.Multimodal
  import graft.query.Retrieval
  import graft.streaming.Events

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full reference dataflow: clean → passage-split → embed → cosine
    * retrieve with over-fetch + threshold cascade → lexical re-rank →
    * token-budget context packing.
    */
  def entry(spark: SparkSession): DataFrame =
    Retrieval.flagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg"              -> Relational.q1Agg _,
    "q2_filter_proj"      -> Relational.q2FilterProj _,
    "q3_join_agg"         -> Relational.q3JoinAgg _,
    "q4_topk_window"      -> Relational.q4TopkWindow _,
    "q5_semi_join"        -> Relational.q5SemiJoin _,
    "q6_anti_join"        -> Relational.q6AntiJoin _,
    "q7_distinct"         -> Relational.q7Distinct _,
    "q8_union"            -> Relational.q8Union _,
    "q9_running_sum"      -> Relational.q9RunningSum _,
    "q10_cascade"         -> Relational.q10Cascade _,
    "q11_latest_partition" -> Relational.q11LatestPartition _,
    "q12_group_stats"     -> Relational.q12GroupStats _,
    "q13_clean_text"      -> TextOps.q13CleanText _,
    "q14_token_stats"     -> TextOps.q14TokenStats _,
    "q15_lang_id"         -> TextOps.q15LangId _,
    "q16_quality"         -> TextOps.q16Quality _,
    "q17_fingerprint"     -> TextOps.q17Fingerprint _,
    "q18_passages"        -> TextOps.q18Passages _,
    "q19_word_chunks"     -> TextOps.q19WordChunks _,
    "q20_pmcid_norm"      -> TextOps.q20PmcidNorm _,
    "q21_citations"       -> TextOps.q21Citations _,
    "q22_bullet_dedup"    -> TextOps.q22BulletDedup _,
    "q23_dedup_exact"     -> ScaleOps.q23DedupExact _,
    "q24_ngram_jaccard"   -> ScaleOps.q24NgramJaccard _,
    "q25_minhash_lsh"     -> ScaleOps.q25MinhashLsh _,
    "q26_simhash"         -> ScaleOps.q26Simhash _,
    "q27_embed_neardup"   -> ScaleOps.q27EmbedNeardup _,
    "q28_knn_brute"       -> ScaleOps.q28KnnBrute _,
    "q29_knn_ivf"         -> ScaleOps.q29KnnIvf _,
    "q30_recall_at_k"     -> ScaleOps.q30RecallAtK _,
    "q31_threshold_cascade" -> ScaleOps.q31ThresholdCascade _,
    "q32_pack_context"    -> ScaleOps.q32PackContext _,
    "q33_tumbling_window" -> Events.q33Tumbling _,
    "q34_sliding_window"  -> Events.q34Sliding _,
    "q35_sessionize"      -> Events.q35Sessions _,
    "q36_dedup_events"    -> Events.q36DedupEvents _,
    "q37_media_pipeline"  -> Multimodal.q37MediaPipeline _,
    "q38_retrieval"       -> ((s: SparkSession, dir: String) => Retrieval.flagship(s, dir)),
    "q39_postprocess"     -> TextOps.q39PostProcess _,
    "q40_train_filter"    -> TextOps.q40TrainFilter _,
    "q41_month_query"     -> TextOps.q41MonthQuery _,
    "q42_rerank"          -> TextOps.q42Rerank _,
    "q43_sentence_chunks" -> TextOps.q43SentenceChunks _,
    "q44_xml_abstract"    -> TextOps.q44XmlAbstract _,
    "q45_body_cascade"    -> TextOps.q45BodyCascade _,
    "q46_json_props"      -> Events.q46JsonProps _,
    "q47_salted_agg"      -> Events.q47SaltedAgg _,
    "q48_topk_aggregate"  -> ScaleOps.q48TopkAggregate _,
    "q49_prompt_clamp"    -> TextOps.q49PromptClamp _,
    "q50_asof_join"       -> Events.q50AsofJoin _,
    "q51_intent_route"    -> RouterOps.q51IntentRoute _,
    "q52_unhelpful"       -> RouterOps.q52Unhelpful _,
    "q53_bullet_clean"    -> RouterOps.q53BulletClean _,
    "q54_bullet_verify"   -> RouterOps.q54BulletVerify _,
    "q55_word_cap"        -> ((s: SparkSession, dir: String) => RouterOps.q55WordCap(s, dir)),
    "q56_sentence_dedup"  -> RouterOps.q56SentenceDedup _,
    "q57_pmc_body"        -> TextOps.q57PmcBody _,
    // no oracle: page-artifact strip is a fixpoint loop (not SQL);
    // composition pinned end-to-end by TextOpsSpec
    "q58_pdf_passages"    -> TextOps.q58PdfPassages _,
    "q59_train_split"     -> TextOps.q59TrainSplit _,
    "q60_uid_map"         -> TextOps.q60UidMap _,
    "q61_unicode_fold"    -> TextOps.q61UnicodeFold _,
    // no oracle: embeddings come from the Scala hashing embedder (not SQL);
    // equality with the exact all-pairs scan is pinned by VectorOpsSpec
    "q62_lsh_neardup"     -> ScaleOps.q62LshNeardup _,
    "q63_asof_custom"     -> Events.q63AsofCustom _,
    "q64_json_chunks"     -> TextOps.q64JsonChunks _,
    "q65_doi_pdf_lookup"  -> Relational.q65DoiPdfLookup _,
    "q66_corpus_merge"    -> Relational.q66CorpusMerge _,
    "q67_curation"        -> ScaleOps.q67Curation _,
    "q68_sketch_profile"  -> ScaleOps.q68SketchProfile _,
    "q69_bucketed_neardup" -> ScaleOps.q69BucketedNeardup _,
    "q70_stream_asof"     -> Events.q70StreamAsof _,
    "q71_partition_prune" -> graft.pipeline.Ingest.q71PartitionPrune _,
    "q72_chunk_json_files" -> graft.pipeline.Ingest.q72ChunkJsonFiles _,
    "q73_repetition_stats" -> TextOps.q73RepetitionStats _,
    "q74_tfidf"            -> TextOps.q74Tfidf _,
    "q75_cohort_retention" -> Events.q75CohortRetention _,
    "q76_funnel"           -> Events.q76Funnel _,
    "q77_pivot"            -> Events.q77Pivot _,
    "q78_rollup"           -> Events.q78Rollup _,
    "q79_moving_avg"       -> Events.q79MovingAvg _,
    "q80_user_deciles"     -> Events.q80UserDeciles _,
    "q81_value_hour_corr"  -> Events.q81ValueHourCorr _,
    "q82_bigram_topk"      -> TextOps.q82BigramTopk _,
    "q83_bm25"             -> TextOps.q83Bm25 _,
    "q84_rrf_fusion"       -> TextOps.q84RrfFusion _,
    "q85_line_dedup"       -> ScaleOps.q85LineDedup _,
    "q86_sketch_merge"     -> ScaleOps.q86SketchMerge _,
    "q87_decontaminate"    -> ScaleOps.q87Decontaminate _,
    "q88_pack_sequences"   -> ScaleOps.q88PackSequences _,
    "q89_keeper_dedup"     -> ScaleOps.q89KeeperDedup _,
    "q90_quality_cutoff"   -> ScaleOps.q90QualityCutoff _,
    "q91_source_mixture"   -> ScaleOps.q91SourceMixture _,
    "q92_incremental_dedup" -> ScaleOps.q92IncrementalDedup _,
    "q93_rank_metrics"     -> ScaleOps.q93RankMetrics _,
    "q94_ngram_diversity"  -> TextOps.q94NgramDiversity _,
    "q95_hard_negatives"   -> ScaleOps.q95HardNegatives _,
    "q96_length_histogram" -> ScaleOps.q96LengthHistogram _,
    // no oracle: zlib deflate is not SQL-expressible; semantics pinned
    // by TextAnalysisSpec (repetition compresses tighter, bounds,
    // determinism)
    "q97_compression_ratio" -> TextOps.q97CompressionRatio _,
    "q98_curation_pipeline" -> ScaleOps.q98CurationPipeline _,
    "q99_column_profile"   -> ScaleOps.q99ColumnProfile _,
    "q100_stream_lake_filter" -> Events.q100StreamLakeFilter _,
    "q101_pii_mask"        -> graft.operators.Privacy.q101PiiMask _,
    "q102_heavy_hitters"   -> TextOps.q102HeavyHitters _,
    "q103_lm_perplexity"   -> TextOps.q103LmPerplexity _,
    "q104_dedup_clusters"  -> graft.operators.Graph.q104DedupClusters _,
    "q105_cluster_keepers" -> graft.operators.Graph.q105ClusterKeepers _,
    "q106_stream_heavy_hitters" -> Events.q106StreamHeavyHitters _,
    "q107_corpus_shuffle"  -> ScaleOps.q107CorpusShuffle _,
    "q108_weighted_sample" -> ScaleOps.q108WeightedSample _,
    "q109_gopher_rules"    -> TextOps.q109GopherRules _,
    "q110_corpus_drift"    -> TextOps.q110CorpusDrift _,
    "q111_sorted_neighborhood" -> ScaleOps.q111SortedNeighborhood _,
    // no oracle: BPE training is iterative argmax-dependent rewriting
    // (not SQL-expressible); pinned by TextOpsSpec equality with an
    // independent local reference implementation
    "q112_bpe_train"       -> TextOps.q112BpeTrain _,
    "q113_gap_fill"        -> Events.q113GapFill _,
    "q114_forward_fill"    -> Events.q114ForwardFill _,
    "q115_bloom_prefilter" -> ScaleOps.q115BloomPrefilter _,
    "q116_dup_spans"       -> ScaleOps.q116DupSpans _,
    "q117_span_removal"    -> ScaleOps.q117SpanRemoval _,
    "q118_stratified_sample" -> ScaleOps.q118StratifiedSample _,
    "q119_interval_join"   -> Events.q119IntervalJoin _,
    // no oracle: the merge table is the product of q112's iterative
    // argmax training; segmentation pinned train-identical by TextOpsSpec
    "q120_bpe_encode"      -> TextOps.q120BpeEncode _,
    "q121_kmeans"          -> ScaleOps.q121Kmeans _,
    "q122_changepoint"     -> Events.q122Changepoint _,
    "q123_scd2"            -> Events.q123Scd2 _,
    "q124_ivf_e2e"         -> ScaleOps.q124IvfE2e _,
    "q125_pagerank"        -> graft.operators.Graph.q125PageRank _,
    "q126_snapshot_diff"   -> Events.q126SnapshotDiff _,
    "q127_quality_normalize" -> ScaleOps.q127QualityNormalize _,
    "q128_data_contract"   -> Relational.q128DataContract _,
    "q129_int8_ann"        -> ScaleOps.q129Int8Ann _,
    "q130_two_stage"       -> ScaleOps.q130TwoStage _,
    "q131_event_paths"     -> Events.q131EventPaths _,
    "q132_iqr_outliers"    -> Events.q132IqrOutliers _,
    "q133_token_budget"    -> ScaleOps.q133TokenBudget _,
    "q134_lineage"         -> graft.plans.Lineage.q134Lineage _,
    "q135_scd2_asof"       -> Events.q135Scd2Asof _,
    "q136_cube"            -> Events.q136Cube _,
    "q137_survival"        -> Events.q137Survival _,
    "q138_gap_histogram"   -> Events.q138GapHistogram _,
    "q139_regime_agreement" -> ScaleOps.q139RegimeAgreement _,
    "q140_lateness_audit"  -> Events.q140LatenessAudit _,
    "q141_media_dedup"     -> graft.multimodal.Multimodal.q141MediaDedup _,
    "q142_ann_tradeoff"    -> ScaleOps.q142AnnTradeoff _,
    "q143_ab_funnel"       -> Events.q143AbFunnel _,
    "q144_attribution"     -> Events.q144Attribution _,
    // no oracle: the FNV-1a simhash signature UDF is not SQL-expressible;
    // DedupSpec pins the exact metric rows (recall_bp == 10000)
    "q145_simhash_recall"  -> ScaleOps.q145SimhashRecall _,
    "q146_semantic_dedup"  -> ScaleOps.q146SemanticDedup _,
    "q147_dsir_weights"    -> ScaleOps.q147DsirWeights _,
    "q148_ccnet_buckets"   -> TextOps.q148CcnetBuckets _,
    "q149_contamination_matrix" -> ScaleOps.q149ContaminationMatrix _,
    "q150_l_diversity"     -> graft.operators.Privacy.q150LDiversity _,
    "q151_unimax_mixture"  -> ScaleOps.q151UnimaxMixture _,
    "q152_corpus_datasheet" -> ScaleOps.q152CorpusDatasheet _,
    "q153_compaction_plan" -> graft.operators.LakeLayout.q153CompactionPlan _,
    "q154_zorder_layout"   -> graft.operators.LakeLayout.q154ZorderLayout _,
    "q155_skew_report"     -> graft.operators.Planning.q155SkewReport _,
    "q156_join_cardinality" -> graft.operators.Planning.q156JoinCardinality _,
    "q157_ndv_autoapprox"  -> graft.plans.ApproxDistinct.q157NdvAutoApprox _,
    "q158_simhash128"      -> ScaleOps.q158Simhash128 _,
    "q159_percentile_autoapprox" -> graft.plans.ApproxPercentile.q159PercentileAutoApprox _,
    "q160_length_batches"  -> ((s: SparkSession, d: String) => ScaleOps.q160LengthBatches(s, d)),
    "q161_temperature_mixture" -> ScaleOps.q161TemperatureMixture _,
    "q162_cdc_apply"       -> ScaleOps.q162CdcApply _,
    "q163_edit_neardup"    -> ScaleOps.q163EditNeardup _,
    "q164_pmi_collocations" -> ((s: SparkSession, d: String) => TextOps.q164PmiCollocations(s, d)),
    "q165_containment_pairs" -> ScaleOps.q165ContainmentPairs _,
    "q166_edit_neardup_dual" -> ScaleOps.q166EditNeardupDual _,
    "q167_ngram_novelty"     -> graft.operators.CurationOps.q167NgramNovelty _,
    "q168_hapax_contributors" -> graft.operators.CurationOps.q168HapaxContributors _,
    "q169_term_salience"     -> graft.operators.CurationOps.q169TermSalience _,
    "q170_vocab_coverage"    -> graft.operators.CurationOps.q170VocabCoverage _,
    "q171_shingle_df_histogram" -> graft.operators.CurationOps.q171ShingleDfHistogram _,
    "q172_pq_ann"            -> graft.vector.Pq.q172PqAnn _,
    "q173_triangle_count"    -> graft.operators.Graph.q173TriangleCount _,
    "q174_assoc_rules"       -> graft.operators.Associations.q174AssocRules _,
    "q175_pq_two_stage"      -> graft.vector.Pq.q175PqTwoStage _,
    "q176_weighted_jaccard"  -> ScaleOps.q176WeightedJaccard _,
    "q177_zipf_fit"          -> graft.operators.CurationOps.q177ZipfFit _,
    "q178_mixture_reweight"  -> graft.operators.CurationOps.q178MixtureReweight _,
    "q179_mmr_rerank"        -> ScaleOps.q179MmrRerank _,
    "q180_kcore"             -> graft.operators.Graph.q180KCore _,
    "q181_month_rebuild"     -> graft.pipeline.Ingest.q181MonthRebuild _,
    "q182_pq_recall_audit"   -> graft.vector.Pq.q182PqRecallAudit _,
    "q183_ivfpq"             -> graft.vector.Pq.q183IvfPq _,
    "q184_ridge_quality"     -> graft.operators.Regression.q184RidgeQuality _,
    "q185_dedup_yield_curve" -> ScaleOps.q185DedupYieldCurve _,
    "q186_cms_audit"         -> TextOps.q186CmsAudit _,
    "q187_source_similarity" -> ScaleOps.q187SourceSimilarity _,
    "q188_vocab_concentration" -> TextOps.q188VocabConcentration _,
    "q189_cross_source_dups" -> ScaleOps.q189CrossSourceDups _,
    "q190_bloom_decontam"    -> ScaleOps.q190BloomDecontam _,
    "q191_semdedup"          -> ScaleOps.q191SemDedup _,
    "q192_partition_histogram" -> graft.operators.Planning.q192PartitionHistogram _,
    "q193_vocab_minhash"     -> TextOps.q193VocabMinhashOverlap _,
    "q194_spectral_power"    -> graft.vector.Spectral.q194SpectralPower _,
    "q195_exact_median"      -> graft.operators.Quantiles.q195ExactMedian _,
    "q196_transition_matrix" -> Events.q196TransitionMatrix _,
    "q197_cms_stream"        -> Events.q197CmsStream _,
    "q198_mad_outliers"      -> graft.operators.Quantiles.q198MadOutliers _,
    "q199_zonemap_prune"     -> graft.operators.LakeLayout.q199ZonemapPrune _,
    // q200-q204 (round-12 verdict item 5): replica-0 stratum twins of
    // the five operators whose FULL sf10 oracles are CTE-infeasible —
    // identical to their parents on the driver fixtures (every id is
    // below ReplicaZeroBound there; StratumSpec asserts equality), and
    // the hash-checkable original-sf0.1 slice on the ScaleUp fixtures.
    "q200_containment_stratum" -> ScaleOps.q200ContainmentStratum _,
    "q201_triangle_stratum"    -> graft.operators.Graph.q201TriangleStratum _,
    "q202_ivfpq_stratum"       -> graft.vector.Pq.q202IvfPqStratum _,
    "q203_yield_stratum"       -> ScaleOps.q203YieldStratum _,
    "q204_semdedup_stratum"    -> ScaleOps.q204SemdedupStratum _,
  )

  /** The catalog sorted by name; with `SPARK_GRAFT_ONLY=qA,qB` set, just
    * those entries (the dev-loop subset of Verify, Bench and PlanAudit).
    * A name that is not in the catalog fails, so a typo cannot turn a
    * run into a green pass over zero queries.
    */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries.toSeq.sortBy(_._1)
    only.fold(all) { list =>
      val names = list.split(",").map(_.trim).toSet
      val unknown = names -- queries.keySet
      require(unknown.isEmpty, "SPARK_GRAFT_ONLY names queries not in the catalog: " +
        unknown.toSeq.sorted.map(n => s"'$n'").mkString(", "))
      all.filter { case (name, _) => names(name) }
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = {
    // q182 reuses q175's ENTIRE oracle CTE chain (same unrolled PQ
    // trainer, same codebooks/LUT/ADC math, same split) and replaces
    // only the final top-5 projection with the recall-audit tail, so
    // the two oracles can never drift apart. The splice point is the
    // chain's single final SELECT.
    val pqChain = baseOracleSql("q175_pq_two_stage")
      .split("(?m)^\\s*SELECT qid AS query_id")(0)
    // q200-q204 derive from their parents' ORACLES too (same no-drift
    // argument as q182): the stratum oracle is the parent CTE with the
    // replica-0 predicate injected at its single table-scan site. Each
    // parent SQL references its source table exactly once, and the
    // require below makes a silent non-injection (e.g. after a parent
    // rewrite) a loud construction failure, not a weakened oracle.
    val all = baseOracleSql ++ continuationOracleSql
    def stratum(parent: String): String = {
      val sql = all(parent)
      val s = sql
        .replace("FROM documents)", "FROM documents WHERE doc_id < 100000000)")
        .replace("FROM embeddings)", "FROM embeddings WHERE vec_id < 100000000)")
      require(s != sql, s"stratum injection found no table-scan site in $parent's oracle")
      s
    }
    all +
      ("q200_containment_stratum" -> stratum("q165_containment_pairs")) +
      ("q201_triangle_stratum" -> stratum("q173_triangle_count")) +
      ("q202_ivfpq_stratum" -> stratum("q183_ivfpq")) +
      ("q203_yield_stratum" -> stratum("q185_dedup_yield_curve")) +
      ("q204_semdedup_stratum" -> stratum("q191_semdedup")) +
      ("q182_pq_recall_audit" -> (pqChain +
      """, two AS (SELECT qid, nid FROM r WHERE rank <= 5),
         adc AS (SELECT qid, nid FROM (
                  SELECT qid, nid, row_number() OVER (PARTITION BY qid
                    ORDER BY floor(t / 1000.0 + 0.5) / 10000.0 DESC, nid ASC) AS rk FROM sc) t5
                WHERE rk <= 5),
         bf AS (SELECT qid, nid FROM (
                  SELECT qv.id AS qid, cv.id AS nid,
                    row_number() OVER (PARTITION BY qv.id ORDER BY
                      round(list_dot_product(qv.fv, cv.fv) /
                        (sqrt(list_dot_product(qv.fv, qv.fv)) * sqrt(list_dot_product(cv.fv, cv.fv))), 4) DESC,
                      cv.id ASC) AS rk
                  FROM v qv, v cv WHERE qv.id < 10 AND cv.id >= 10) t6
                WHERE rk <= 5),
         m AS (SELECT 'exact' AS method, qid, nid FROM bf
               UNION ALL SELECT 'pq_adc' AS method, qid, nid FROM adc
               UNION ALL SELECT 'pq_two_stage' AS method, qid, nid FROM two),
         au AS (SELECT m.method, count(*) AS n_pairs,
                  CAST(sum(CASE WHEN h.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
                FROM m LEFT JOIN bf h ON m.qid = h.qid AND m.nid = h.nid
                GROUP BY m.method)
         SELECT method, n_pairs, n_hits, (n_hits * 10000) // n_pairs AS recall_bp
         FROM au ORDER BY method"""))
  }

  private def baseOracleSql: Map[String, String] = Map(
    // Literal VALUES pins (q134's technique) for the nine queries whose
    // semantics DuckDB cannot recompute — JVM/xxhash64 hashing, BPE's
    // sequential merge loop, deflate, fixpoint text folds. The expected
    // sf0.01 output is pinned verbatim so the driver's hard gate covers
    // the full catalog instead of recording rows-only checks. See
    // OraclePins for provenance and the regeneration recipe.
    "q26_simhash"           -> OraclePins.pin26,
    // NDV dashboard through the opt-in count(DISTINCT)->HLL++ optimizer
    // rule: the sketch values are Spark-deterministic, DuckDB cannot
    // recompute them -> literal pin (exact n_rows rides along)
    "q157_ndv_autoapprox"   -> OraclePins.pin157,
    // 128-bit simhash: JVM-hash-specific like q26 -> literal pin
    "q158_simhash128"       -> OraclePins.pin158,
    // latency dashboard through the opt-in percentile->GK-sketch rule:
    // Spark-deterministic at the gate scale (groups < sketch accuracy),
    // not recomputable in DuckDB -> literal pin
    "q159_percentile_autoapprox" -> OraclePins.pin159,
    // iterate-to-fixpoint peeling: a recursive CTE cannot aggregate
    // over its own recursive relation, so the 3-core is pinned
    // (KCoreSpec carries the sequential-peel equality + fixpoint
    // invariants that make the pin trustworthy)
    "q180_kcore"            -> OraclePins.pin180,
    "q38_retrieval"         -> OraclePins.pin38,
    "q43_sentence_chunks"   -> OraclePins.pin43,
    "q58_pdf_passages"      -> OraclePins.pin58,
    "q62_lsh_neardup"       -> OraclePins.pin62,
    "q97_compression_ratio" -> OraclePins.pin97,
    "q112_bpe_train"        -> OraclePins.pin112,
    "q120_bpe_encode"       -> OraclePins.pin120,
    "q145_simhash_recall"   -> OraclePins.pin145,
    // per-source length-sorted vs arrival batching with exact padding
    // waste; ties break on doc_id in both engines
    "q160_length_batches" ->
      """WITH d AS (SELECT doc_id, source,
           CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS BIGINT) AS n_tokens
           FROM documents),
         s AS (SELECT 'length_sorted' AS policy, source,
             CAST(floor((row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) - 1) / 64.0) AS BIGINT) AS batch_id,
             n_tokens FROM d),
         a AS (SELECT 'arrival' AS policy, source,
             CAST(floor((row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1) / 64.0) AS BIGINT) AS batch_id,
             n_tokens FROM d),
         u AS (SELECT * FROM s UNION ALL SELECT * FROM a)
         SELECT policy, source, batch_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           max(n_tokens) AS max_tokens,
           CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS padding_waste
         FROM u GROUP BY policy, source, batch_id
         ORDER BY policy, source, batch_id""",
    // temperature (T=2) language mixture: weight = floor(sqrt(n)*1e6)
    // (IEEE sqrt is correctly rounded -> bit-identical cross-engine),
    // largest-remainder split over integers, ties by lang
    "q161_temperature_mixture" ->
      """WITH d AS (SELECT lang,
           CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS BIGINT) AS t
           FROM documents),
         l AS (SELECT lang, CAST(sum(t) AS BIGINT) AS n_tokens FROM d GROUP BY lang),
         w AS (SELECT lang, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT) AS weight
             FROM l),
         s AS (SELECT *, CAST(sum(weight) OVER () AS BIGINT) AS w_sum,
             CAST(sum(n_tokens) OVER () AS BIGINT) // 2 AS budget FROM w),
         b AS (SELECT *, CAST((budget * weight) // w_sum AS BIGINT) AS base,
             CAST(budget * weight - ((budget * weight) // w_sum) * w_sum AS BIGINT) AS rem
             FROM s),
         r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang ASC) AS rk,
             CAST(budget - sum(base) OVER () AS BIGINT) AS leftover FROM b),
         f AS (SELECT lang, n_tokens, weight,
             CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens
             FROM r)
         SELECT lang, n_tokens, weight, alloc_tokens,
           CAST((alloc_tokens * 10000) // (SELECT CAST(sum(alloc_tokens) AS BIGINT) FROM f) AS BIGINT) AS share_bp
         FROM f ORDER BY lang""",
    // CDC apply: last change per user in (ts, event_id) order; error =
    // delete (absent unless a later upsert resurrects); value verbatim
    "q162_cdc_apply" ->
      """WITH ch AS (SELECT user_id, event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS tss,
           CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
           value
           FROM events WHERE event_type IN ('signup', 'purchase', 'error')),
         r AS (SELECT *,
             row_number() OVER (PARTITION BY user_id ORDER BY tss DESC, event_id DESC) AS rk,
             CAST(count(CASE WHEN op = 'U' THEN 1 END) OVER (PARTITION BY user_id) AS BIGINT) AS n_upserts,
             CAST(count(CASE WHEN op = 'D' THEN 1 END) OVER (PARTITION BY user_id) AS BIGINT) AS n_deletes
           FROM ch)
         SELECT user_id, value AS cur_value, tss AS since_tss,
           n_upserts, n_deletes, n_deletes > 0 AS survived_delete
         FROM r WHERE rk = 1 AND op = 'U'
         ORDER BY user_id""",
    // blocked edit-distance fuzzy dedup: first-3-tokens block (size cap
    // 64), exact levenshtein <= 20 over 120-char heads (integer metric —
    // bit-exact cross-engine)
    "q163_edit_neardup" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws,
           substr(trim(text), 1, 120) AS head FROM documents),
         k AS (SELECT doc_id, head, ws[1] || ' ' || ws[2] || ' ' || ws[3] AS blk
               FROM d WHERE len(ws) >= 3),
         c AS (SELECT blk, count(*) AS n FROM k GROUP BY blk),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(levenshtein(a.head, b.head) AS BIGINT) AS lev
               FROM k a JOIN k b ON a.blk = b.blk AND a.doc_id < b.doc_id
               JOIN c ON c.blk = a.blk
               WHERE c.n <= 64)
         SELECT doc_a, doc_b, lev FROM p WHERE lev <= 20
         ORDER BY doc_a, doc_b""",
    // two-pass blocked edit dedup: first-3-tokens UNION last-3-tokens
    // (UNION dedups the full (doc_a, doc_b, lev) row, mirroring the
    // Spark side's distinct — lev is deterministic per pair)
    "q166_edit_neardup_dual" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws,
           substr(trim(text), 1, 120) AS head FROM documents),
         k1 AS (SELECT doc_id, head, ws[1] || ' ' || ws[2] || ' ' || ws[3] AS blk
                FROM d WHERE len(ws) >= 3),
         k2 AS (SELECT doc_id, head,
                  ws[len(ws)-2] || ' ' || ws[len(ws)-1] || ' ' || ws[len(ws)] AS blk
                FROM d WHERE len(ws) >= 3),
         c1 AS (SELECT blk, count(*) AS n FROM k1 GROUP BY blk),
         c2 AS (SELECT blk, count(*) AS n FROM k2 GROUP BY blk),
         p1 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(levenshtein(a.head, b.head) AS BIGINT) AS lev
                FROM k1 a JOIN k1 b ON a.blk = b.blk AND a.doc_id < b.doc_id
                JOIN c1 ON c1.blk = a.blk WHERE c1.n <= 64),
         p2 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(levenshtein(a.head, b.head) AS BIGINT) AS lev
                FROM k2 a JOIN k2 b ON a.blk = b.blk AND a.doc_id < b.doc_id
                JOIN c2 ON c2.blk = a.blk WHERE c2.n <= 64),
         u AS (SELECT * FROM p1 WHERE lev <= 20
               UNION
               SELECT * FROM p2 WHERE lev <= 20)
         SELECT doc_a, doc_b, lev FROM u ORDER BY doc_a, doc_b""",
    // first-occurrence 3-gram novelty: both engines build shingles from
    // the SAME \S+-run token stream; novelty_bp through the identical
    // IEEE double tree (mult then div, floor)
    "q167_ngram_novelty" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                  unnest([array_to_string(ws[i:i+2], ' ')
                          for i in generate_series(1, len(ws)-2)]) AS s
                FROM t WHERE len(ws) >= 3),
         own AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s)
         SELECT sh.doc_id,
           CAST(sum(CASE WHEN own.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel,
           CAST(count(*) AS BIGINT) AS total,
           CAST(floor(CAST(sum(CASE WHEN own.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             * 10000.0 / CAST(count(*) AS DOUBLE)) AS BIGINT) AS novelty_bp
         FROM sh JOIN own ON sh.s = own.s
         GROUP BY sh.doc_id ORDER BY sh.doc_id""",
    // corpus-hapax (df = 1) vocabulary contribution per document
    "q168_hapax_contributors" ->
      """WITH toks AS (SELECT DISTINCT doc_id,
                  unnest(regexp_extract_all(text, '\S+')) AS w FROM documents),
         dfs AS (SELECT w, count(*) AS dfc FROM toks GROUP BY w)
         SELECT toks.doc_id,
           CAST(sum(CASE WHEN dfs.dfc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(floor(CAST(sum(CASE WHEN dfs.dfc = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             * 10000.0 / CAST(count(*) AS DOUBLE)) AS BIGINT) AS hapax_bp
         FROM toks JOIN dfs ON toks.w = dfs.w
         GROUP BY toks.doc_id ORDER BY toks.doc_id""",
    // top-3 lift-salient terms per doc: salience = floor(((tf*1e4)*N)/df)
    // through the identical double tree; ties (salience desc, w asc)
    "q169_term_salience" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS w
                FROM documents),
         tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY doc_id, w),
         dfs AS (SELECT w, CAST(count(*) AS BIGINT) AS df_docs FROM tf GROUP BY w),
         n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
         sc AS (SELECT tf.doc_id, tf.w, tf.tf, dfs.df_docs,
                  CAST(floor(CAST(tf.tf AS DOUBLE) * 10000.0 * CAST(n.n_docs AS DOUBLE)
                    / CAST(dfs.df_docs AS DOUBLE)) AS BIGINT) AS salience
                FROM tf JOIN dfs ON tf.w = dfs.w, n),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY salience DESC, w ASC) AS BIGINT) AS rk FROM sc)
         SELECT doc_id, w, tf, df_docs, salience, rk FROM r
         WHERE rk <= 3 ORDER BY doc_id, rk""",
    // vocabulary coverage curve: per threshold t, vocab size (count>=t)
    // and occurrence-weighted OOV mass; oov_bp via the identical tree
    "q170_vocab_coverage" ->
      """WITH c AS (SELECT w, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT unnest(regexp_extract_all(text, '\S+')) AS w
                      FROM documents) GROUP BY w),
         g AS (SELECT unnest([CAST(2 AS BIGINT), CAST(5 AS BIGINT),
                              CAST(10 AS BIGINT), CAST(100 AS BIGINT)]) AS t)
         SELECT t,
           CAST(sum(CASE WHEN c.c >= g.t THEN 1 ELSE 0 END) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN c.c < g.t THEN c.c ELSE 0 END) AS BIGINT) AS oov_occ,
           CAST(sum(c.c) AS BIGINT) AS total_occ,
           CAST(floor(CAST(sum(CASE WHEN c.c < g.t THEN c.c ELSE 0 END) AS DOUBLE)
             * 10000.0 / CAST(sum(c.c) AS DOUBLE)) AS BIGINT) AS oov_bp
         FROM c CROSS JOIN g GROUP BY t ORDER BY t""",
    // shingle df histogram in power-of-two buckets: bucket =
    // bit-length(df)-1, exact integer semantics in both engines (binary
    // string length, no floating log2)
    "q171_shingle_df_histogram" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                  unnest([array_to_string(ws[i:i+2], ' ')
                          for i in generate_series(1, len(ws)-2)]) AS s
                FROM t WHERE len(ws) >= 3),
         dfs AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY s)
         SELECT CAST(length(format('{:b}', df)) - 1 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(df) AS BIGINT) AS occurrences
         FROM dfs GROUP BY 1 ORDER BY bucket""",
    // bigram collocation lift: score = floor(lift*1e4) via the SAME IEEE
    // double expression tree as the Spark side (division/multiplication
    // are correctly rounded -> bit-identical; no transcendental ln)
    "q164_pmi_collocations" ->
      """WITH t AS (SELECT regexp_extract_all(text, '\S+') AS ws FROM documents),
         uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT unnest(ws) AS w FROM t) GROUP BY w),
         bi AS (SELECT unnest([ws[i] || ' ' || ws[i+1]
                               for i in generate_series(1, len(ws)-1)]) AS bg
                FROM t WHERE len(ws) >= 2),
         bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_ab FROM bi GROUP BY bg),
         tot AS (SELECT CAST(sum(c) AS DOUBLE) AS uni_total FROM uc),
         btot AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS bi_total FROM bc),
         sc AS (SELECT bg AS bigram, c_ab, a.c AS c_a, b.c AS c_b,
                  CAST(floor(((CAST(c_ab AS DOUBLE) / bi_total) /
                    ((CAST(a.c AS DOUBLE) / uni_total) *
                     (CAST(b.c AS DOUBLE) / uni_total))) * 10000.0) AS BIGINT) AS lift_4dp
                FROM bc
                JOIN uc a ON split_part(bg, ' ', 1) = a.w
                JOIN uc b ON split_part(bg, ' ', 2) = b.w, tot, btot
                WHERE c_ab >= 5),
         r AS (SELECT *, CAST(row_number() OVER (ORDER BY lift_4dp DESC, bigram ASC) AS BIGINT) AS rk
               FROM sc)
         SELECT bigram, c_ab, c_a, c_b, lift_4dp, rk FROM r WHERE rk <= 50
         ORDER BY rk""",
    // directional shingle containment |A∩B|/|A| >= 0.9 (both qualifying
    // directions emitted); q24's shingle/rounding discipline
    "q165_containment_pairs" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                      for i in generate_series(1, len(ws)-2)]) END AS s
                FROM w),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 4) AS containment
               FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
               WHERE len(a.s) > 0 AND len(b.s) > 0)
         SELECT doc_a, doc_b, containment FROM p WHERE containment >= 0.9
         ORDER BY doc_a, doc_b""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         sum(l_quantity) AS sum_qty,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_revenue,
         round(avg(l_discount), 6) AS avg_disc,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q2_filter_proj" ->
      """SELECT l_orderkey, l_linenumber,
         floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) / 100.0 AS net_price
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-02-01'
           AND l_discount > 0.05 AND l_quantity < 10.0
         ORDER BY l_orderkey, l_linenumber""",
    "q3_join_agg" ->
      """SELECT n_name,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "q4_topk_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
           FROM orders) WHERE rk <= 3
         ORDER BY o_custkey, rk""",
    "q5_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
         round(sum(c_acctbal), 2) AS total_bal
         FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q6_anti_join" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q7_distinct" ->
      """SELECT DISTINCT l_suppkey, l_returnflag FROM lineitem
         ORDER BY l_suppkey, l_returnflag""",
    "q8_union" ->
      """SELECT kind, nationkey, count(*) AS n, round(sum(acctbal), 2) AS bal FROM (
           SELECT c_name AS name, c_acctbal AS acctbal, c_nationkey AS nationkey,
                  'customer' AS kind FROM customer
           UNION ALL
           SELECT s_name, s_acctbal, s_nationkey, 'supplier' FROM supplier)
         GROUP BY kind, nationkey ORDER BY kind, nationkey""",
    "q9_running_sum" ->
      """SELECT o_custkey, o_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate ASC, o_orderkey ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q10_cascade" ->
      """SELECT CASE WHEN n_chars >= 400 THEN 'FULL'
                     WHEN n_chars >= 200 THEN 'ABSTRACT'
                     ELSE 'NONE' END AS section,
         count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY 1 ORDER BY section""",
    "q11_latest_partition" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
         FROM events
         WHERE date_trunc('month', ts) =
               (SELECT max(date_trunc('month', ts)) FROM events)
         GROUP BY event_type ORDER BY event_type""",
    "q12_group_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
         round(avg(n_chars), 4) AS avg_chars,
         CAST(max(n_chars) AS BIGINT) AS max_chars
         FROM documents GROUP BY lang, source ORDER BY lang, source""",
    "q13_clean_text" ->
      """SELECT doc_id, trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(
                               '<p>Intro</p> [12] ' || text || '!!! (Smith et al., 2020a) (fig 3) end-' || chr(10) || 'note' || chr(10) || 'Figure 2 spurious caption' || chr(10) || 'more text' || chr(10) || 'References' || chr(10) || '[99] dropped tail',
                               '<[^>]+>', ' ', 'g'),
                             '[\x00-\x08\x0b\x0c\x0e-\x1f]', ' ', 'g'),
                           '([!?.,;:]){2,}', '\1', 'g'),
                         '\[[^\]]{1,20}\]', ' ', 'g'),
                       '\([A-Z][A-Za-z]+ et al\.?,? ?\d{4}[a-z]?\)', ' ', 'g'),
                     '(?i)\((?:fig(?:ure)?\.? ?\d+[a-z]?)\)', ' ', 'g'),
                   '(?im)^(?:figure|table)\s+\d+[^\n]*$', ' ', 'g'),
                 '(?is)\n\s*(?:references|bibliography)\b.*$', ''),
               '(?is)\n\s*(?:methods|materials and methods|acknowledg(?:e)?ments?|funding|conflicts? of interest)\b.*$', ''),
             '(\w+)-\s*\n\s*(\w+)', '\1\2', 'g'),
           '\s+', ' ', 'g')) AS clean
         FROM documents ORDER BY doc_id""",
    "q14_token_stats" ->
      """SELECT doc_id,
         CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
         FROM documents ORDER BY doc_id""",
    "q15_lang_id" ->
      """WITH s AS (SELECT doc_id,
           len(regexp_extract_all(text, '\b(the|and|of|to|in|is|that|for|with)\b')) AS en,
           len(regexp_extract_all(text, '\b(der|die|das|und|nicht|ein|ist|mit)\b')) AS de,
           len(regexp_extract_all(text, '\b(el|la|los|las|que|por|para|con)\b')) AS es,
           len(regexp_extract_all(text, '\b(le|les|des|une|est|dans|pour|avec)\b')) AS fr,
           len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh
         FROM documents)
         SELECT doc_id, CASE
           WHEN greatest(en,de,es,fr,zh) = 0 THEN 'und'
           WHEN en = greatest(en,de,es,fr,zh) THEN 'en'
           WHEN de = greatest(en,de,es,fr,zh) THEN 'de'
           WHEN es = greatest(en,de,es,fr,zh) THEN 'es'
           WHEN fr = greatest(en,de,es,fr,zh) THEN 'fr'
           ELSE 'zh' END AS lang_pred
         FROM s ORDER BY doc_id""",
    "q16_quality" ->
      """WITH s AS (SELECT doc_id,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS DOUBLE) AS n_words,
           CAST(length(regexp_replace(text, '[^!?.,;:]', '', 'g')) AS DOUBLE) AS n_punct,
           CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|a|is|that)\b')) AS DOUBLE) AS n_stop
         FROM documents)
         SELECT doc_id, floor((
           least(n_chars / 500.0, 1.0)
           + (1.0 - least(n_punct / greatest(n_words, 1.0) * 2.0, 1.0))
           + least(n_stop / greatest(n_words, 1.0) * 5.0, 1.0)
           + CASE WHEN n_chars / greatest(n_words, 1.0) >= 3.0
                   AND n_chars / greatest(n_words, 1.0) <= 10.0 THEN 1.0 ELSE 0.5 END
           ) / 4.0 * 10000.0 + 0.5) / 10000.0 AS quality
         FROM s ORDER BY doc_id""",
    "q17_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
         FROM documents ORDER BY doc_id""",
    "q18_passages" ->
      """WITH w AS (SELECT doc_id, text,
           unnest(generate_series(0, greatest(CAST(floor((length(text)-1)/250) AS BIGINT), 0))) AS i
         FROM documents),
         p AS (SELECT doc_id, i, trim(substr(text, CAST(i*250+1 AS BIGINT), 300)) AS passage
               FROM w)
         SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INT) AS passage_id,
           passage
         FROM p WHERE passage <> ''
         ORDER BY doc_id, passage_id""",
    "q19_word_chunks" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words FROM documents),
         c AS (SELECT doc_id,
                 unnest(generate_series(0, greatest(CAST(ceil(len(words)/100.0) AS BIGINT), 1) - 1)) AS i,
                 words
               FROM w),
         x AS (SELECT doc_id, i,
                 array_to_string(list_slice(words, CAST(i*100+1 AS BIGINT), CAST(i*100+100 AS BIGINT)), ' ') AS chunk
               FROM c)
         SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INT) AS chunk_id,
           chunk
         FROM x WHERE chunk <> ''
         ORDER BY doc_id, chunk_id""",
    "q20_pmcid_norm" ->
      """WITH r AS (SELECT doc_id, CASE
           WHEN doc_id % 3 = 0 THEN 'pmc-id: PMC' || doc_id || '; PMC999'
           WHEN doc_id % 3 = 1 THEN '  ' || doc_id || ' ;PMC888'
           ELSE 'PMC' || doc_id END AS raw_pmcid
         FROM documents),
         n AS (SELECT doc_id,
           trim(string_split(regexp_replace(raw_pmcid, '(?i)^\s*pmc-?id:?\s*', ''), ';')[1]) AS first
         FROM r)
         SELECT doc_id,
           CASE WHEN first = '' THEN NULL
                ELSE 'PMC' || regexp_replace(first, '(?i)^PMC', '') END AS pmcid
         FROM n ORDER BY doc_id""",
    "q21_citations" ->
      """SELECT doc_id,
         'PMID: ' || doc_id || ' | DOI: 10.1000/j.' || doc_id AS citations
         FROM documents ORDER BY doc_id""",
    "q22_bullet_dedup" ->
      """WITH keyed AS (SELECT source, doc_id,
           substr(regexp_replace(lower(text), '[^a-z]', '', 'g'), 1, 60) AS k
         FROM documents),
         dedup AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY doc_id) AS rk FROM keyed),
         capped AS (SELECT source, doc_id, k,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rs
           FROM dedup WHERE rk = 1)
         SELECT source, doc_id, k FROM capped WHERE rs <= 10
         ORDER BY source, doc_id""",
    "q23_dedup_exact" ->
      """WITH f AS (SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp
         FROM documents)
         SELECT fp, count(*) AS n_docs, min(doc_id) AS keeper
         FROM f GROUP BY fp HAVING count(*) > 1 ORDER BY fp""",
    "q24_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                      for i in generate_series(1, len(ws)-2)]) END AS s
                FROM w),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                       / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
               FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.8
         ORDER BY doc_a, doc_b""",
    "q25_minhash_lsh" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                      for i in generate_series(1, len(ws)-2)]) END AS s
                FROM w),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                       / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
               FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.8
         ORDER BY doc_a, doc_b""",
    "q27_embed_neardup" ->
      """WITH s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) AS cos
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, cos FROM s WHERE cos >= 0.45 ORDER BY id_a, id_b""",
    "q28_knn_brute" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS nid, embedding AS cv FROM embeddings WHERE vec_id >= 10),
         s AS (SELECT qid, nid,
           round(list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[])))), 4) AS score
           FROM q, c),
         r AS (SELECT qid, nid, score,
                 row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank
               FROM s)
         SELECT qid AS query_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, score
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "q29_knn_ivf" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv, label FROM embeddings WHERE vec_id >= 10),
         ci AS (SELECT label, unnest(generate_series(1, 64)) AS i, cv FROM c),
         cent AS (SELECT label, i, avg(cv[i]) AS m FROM ci GROUP BY label, i),
         centv AS (SELECT label, list(m ORDER BY i) AS ce FROM cent GROUP BY label),
         probe AS (SELECT qid, label, qv FROM (
             SELECT q.qid, centv.label, q.qv,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 round(list_dot_product(q.qv, centv.ce) /
                   (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(centv.ce, centv.ce))), 4) DESC,
                 centv.label ASC) AS pr
             FROM q, centv) WHERE pr <= 2),
         s AS (SELECT probe.qid, c.nid,
             round(list_dot_product(probe.qv, c.cv) /
               (sqrt(list_dot_product(probe.qv, probe.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 4) AS score
           FROM probe JOIN c ON c.label = probe.label),
         r AS (SELECT qid, nid, score,
                 row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank FROM s)
         SELECT qid AS query_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, score
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "q30_recall_at_k" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS expected FROM embeddings WHERE vec_id < 20),
         c AS (SELECT vec_id AS nid, embedding AS cv, label AS nl FROM embeddings WHERE vec_id >= 20),
         s AS (SELECT qid, expected, nid, nl,
           round(list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[])))), 4) AS score
           FROM q, c),
         r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank FROM s),
         h AS (SELECT qid, max(CASE WHEN nl = expected THEN 1 ELSE 0 END) AS hit
               FROM r WHERE rank <= 10 GROUP BY qid)
         SELECT round(avg(hit), 4) AS recall FROM h""",
    "q31_threshold_cascade" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS nid, embedding AS cv FROM embeddings WHERE vec_id >= 10),
         s AS (SELECT qid AS query_id, nid AS neighbor_id,
           round(list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[])))), 4) AS cos
           FROM q, c),
         high AS (SELECT query_id, neighbor_id, cos, 1 AS tier FROM s WHERE cos >= 0.45),
         low AS (SELECT query_id, neighbor_id, cos, 2 AS tier FROM s WHERE cos >= 0.30
                 AND query_id NOT IN (SELECT DISTINCT query_id FROM high))
         SELECT query_id, neighbor_id, cos, tier
         FROM (SELECT * FROM high UNION ALL SELECT * FROM low)
         ORDER BY query_id, neighbor_id""",
    "q32_pack_context" ->
      """WITH t AS (SELECT lang, doc_id, n_chars,
           CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS BIGINT) AS n_tokens
         FROM documents),
         r AS (SELECT lang, doc_id, n_tokens,
           CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_tokens
           FROM t)
         SELECT lang, doc_id, n_tokens, run_tokens FROM r WHERE run_tokens <= 800
         ORDER BY lang, doc_id""",
    "q33_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS wstart, event_type,
         count(*) AS n, round(sum(value), 2) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""",
    "q34_sliding_window" ->
      """WITH x AS (SELECT
           unnest([time_bucket(INTERVAL '30 minutes', ts),
                   time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS wstart,
           event_type, value
         FROM events)
         SELECT wstart, event_type, count(*) AS n, round(sum(value), 2) AS total_value
         FROM x GROUP BY 1, 2 ORDER BY wstart, event_type""",
    "q35_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tss, value FROM events),
         l AS (SELECT *, lag(tss) OVER (PARTITION BY user_id ORDER BY tss, event_id) AS prev FROM e),
         f AS (SELECT *, CASE WHEN prev IS NULL OR tss - prev > 1800 THEN 1 ELSE 0 END AS ns FROM l),
         s AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY tss, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM f)
         SELECT user_id, session_id, count(*) AS n_events,
           min(tss) AS session_start_s, max(tss) AS session_end_s,
           round(sum(value), 2) AS total_value
         FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""",
    "q36_dedup_events" ->
      """WITH r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type, value
                      ORDER BY event_id) AS rk FROM events)
         SELECT event_id, user_id, event_type, value FROM r WHERE rk = 1
         ORDER BY event_id""",
    "q37_media_pipeline" ->
      """WITH m AS (SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
           text, octet_length(encode(text)) AS n_bytes,
           CASE WHEN length(text) > 0 THEN ascii(substr(text, 1, 1)) ELSE 0 END AS first
         FROM documents),
         d AS (SELECT doc_id, media_type, n_bytes,
           64 + n_bytes % 512 AS width,
           64 + (first % 128) * 2 AS height,
           CASE WHEN media_type = 'video' THEN 1 + n_bytes % 30 ELSE 1 END AS n_frames,
           CASE WHEN media_type = 'audio' THEN n_bytes / 1000.0 ELSE 0.0 END AS duration_s,
           md5(text) AS content_hash
         FROM m)
         SELECT doc_id, media_type, CAST(n_bytes AS INT) AS n_bytes,
           CAST(width AS INT) AS width, CAST(height AS INT) AS height,
           CAST(n_frames AS INT) AS n_frames,
           round(duration_s, 3) AS duration_s,
           CAST(floor(width * least(256, greatest(width, height)) / greatest(width, height)) AS INT) AS out_w,
           CAST(floor(height * least(256, greatest(width, height)) / greatest(width, height)) AS INT) AS out_h,
           CASE WHEN media_type = 'video' THEN CAST((n_frames - 1) // 5 AS INT) + 1 ELSE 0 END AS n_sampled,
           content_hash
         FROM d ORDER BY doc_id""",
    "q39_postprocess" ->
      """WITH g AS (SELECT doc_id,
           '<pad> ' || substr(text, 1, 120) || '. tail fragment witho' || ' </s>' ||
             chr(10) || 'Acknowledgments' || chr(10) || 'thanks to' AS gen
         FROM documents),
         s1 AS (SELECT doc_id,
           replace(replace(replace(replace(replace(gen, '<pad>', ' '), '</s>', ' '),
             '<s>', ' '), '<unk>', ' '), '###', ' ') AS t FROM g),
         s2 AS (SELECT doc_id, regexp_replace(t,
           '(?is)\n\s*(?:acknowledg(?:e)?ments?|funding|references)\b.*$', '') AS t FROM s1),
         s3 AS (SELECT doc_id,
           CASE WHEN regexp_extract(t, '(?s)^(.*[.!?])', 1) = '' THEN t
                ELSE regexp_extract(t, '(?s)^(.*[.!?])', 1) END AS t FROM s2)
         SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS answer
         FROM s3 ORDER BY doc_id""",
    "q40_train_filter" ->
      """WITH r AS (SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN text END AS text_field,
           CASE WHEN doc_id % 3 = 1 THEN 'summarize doc ' || doc_id END AS instruction,
           CASE WHEN doc_id % 3 = 1 THEN substr(text, 1, 60) END AS output
         FROM documents)
         SELECT doc_id,
           CASE WHEN text_field IS NOT NULL THEN 'text' ELSE 'instruction' END AS record_type,
           coalesce(text_field, '### Instruction:' || chr(10) || instruction ||
             chr(10) || '### Response:' || chr(10) || output) AS to_text
         FROM r
         WHERE text_field IS NOT NULL OR (instruction IS NOT NULL AND output IS NOT NULL)
         ORDER BY doc_id""",
    "q41_month_query" ->
      """WITH m AS (SELECT DISTINCT CAST(date_trunc('month', ts) AS DATE) AS mon FROM events),
         q AS (SELECT mon,
           '"' || strftime(mon, '%Y/%m') || '/01"[PDAT] : "' ||
             strftime(last_day(mon), '%Y/%m/%d') || '"[PDAT] AND hasabstract[text]' AS query_str
         FROM m)
         SELECT CAST(mon AS VARCHAR) AS mon, query_str,
           regexp_extract(query_str, '"(\d{4})/(\d{2})/01"\[PDAT\]', 1) AS year_back,
           regexp_extract(query_str, '"(\d{4})/(\d{2})/01"\[PDAT\]', 2) AS month_back
         FROM q ORDER BY mon""",
    "q42_rerank" ->
      """WITH q AS (SELECT doc_id AS query_id, regexp_split_to_array(trim(text), '\s+') AS qw
           FROM documents WHERE doc_id < 5),
         c AS (SELECT doc_id AS cand_id, regexp_split_to_array(trim(text), '\s+') AS cw
           FROM documents WHERE doc_id >= 5 AND doc_id < 105),
         s AS (SELECT query_id, cand_id,
             round(CAST(len(list_intersect(qw, cw)) AS DOUBLE) / len(qw), 4) AS re_score
           FROM q, c),
         r AS (SELECT query_id, cand_id, re_score,
             row_number() OVER (PARTITION BY query_id ORDER BY re_score DESC, cand_id ASC) AS rank
           FROM s)
         SELECT query_id, CAST(rank AS INT) AS rank, cand_id, re_score
         FROM r WHERE rank <= 3 ORDER BY query_id, rank""",
    "q44_xml_abstract" ->
      """SELECT doc_id, 'T' || doc_id AS title,
         trim(substr(text, 1, 20)) || ' ' || trim(substr(text, 21, 20)) AS abstract
         FROM documents ORDER BY doc_id""",
    "q45_body_cascade" ->
      """WITH c AS (SELECT doc_id,
           CASE WHEN doc_id % 4 = 0 THEN 'full ' || text END AS full_text,
           CASE WHEN doc_id % 4 = 1 THEN 'pdf ' || substr(text, 1, 50) END AS pdf_text,
           CASE WHEN doc_id % 4 < 3 THEN 'abs ' || substr(text, 1, 30) END AS abstract
         FROM documents)
         SELECT doc_id,
           CASE WHEN full_text IS NOT NULL THEN 'FULL'
                WHEN pdf_text IS NOT NULL THEN 'PDF'
                WHEN abstract IS NOT NULL THEN 'ABSTRACT'
                ELSE 'NONE' END AS section,
           coalesce(full_text, pdf_text, abstract) AS body
         FROM c ORDER BY doc_id""",
    "q46_json_props" ->
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
         CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q47_salted_agg" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q48_topk_aggregate" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS nid, embedding AS cv FROM embeddings WHERE vec_id >= 10),
         s AS (SELECT qid, nid,
           round(list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[])))), 4) AS score
           FROM q, c),
         r AS (SELECT qid, nid, score,
                 row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank
               FROM s)
         SELECT qid AS query_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, score
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "q49_prompt_clamp" ->
      """WITH w AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS words
         FROM documents)
         SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens,
           '### System:' || chr(10) || 'Answer from the context.' || chr(10) ||
           '### Context:' || chr(10) ||
           CASE WHEN len(words) <= 64 THEN trim(text)
                ELSE array_to_string(words[-64:], ' ') END ||
           chr(10) || '### User:' || chr(10) || 'what about doc ' || doc_id ||
           '?' || chr(10) || '### Assistant:' || chr(10) || chr(8226) || ' ' AS prompt
         FROM w ORDER BY doc_id""",
    "q50_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS tss FROM events),
         p AS (SELECT event_id AS purchase_id, user_id, tss AS p_tss
               FROM e WHERE event_type = 'purchase'),
         s AS (SELECT event_id AS signup_id, user_id, tss AS s_tss
               FROM e WHERE event_type = 'signup'),
         j AS (SELECT p.purchase_id, p.user_id, p.p_tss, s.signup_id, s.s_tss,
             row_number() OVER (PARTITION BY p.purchase_id
               ORDER BY s.s_tss DESC NULLS LAST, s.signup_id DESC NULLS LAST) AS rk
           FROM p LEFT JOIN s
             ON p.user_id = s.user_id AND s.s_tss <= p.p_tss)
         SELECT purchase_id, user_id, p_tss, signup_id, s_tss
         FROM j WHERE rk = 1 ORDER BY purchase_id""",
    // identical semantics to q50, executed by the custom Catalyst
    // sort-merge as-of operator — same oracle SQL by construction
    "q63_asof_custom" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS tss FROM events),
         p AS (SELECT event_id AS purchase_id, user_id, tss AS p_tss
               FROM e WHERE event_type = 'purchase'),
         s AS (SELECT event_id AS signup_id, user_id, tss AS s_tss
               FROM e WHERE event_type = 'signup'),
         j AS (SELECT p.purchase_id, p.user_id, p.p_tss, s.signup_id, s.s_tss,
             row_number() OVER (PARTITION BY p.purchase_id
               ORDER BY s.s_tss DESC NULLS LAST, s.signup_id DESC NULLS LAST) AS rk
           FROM p LEFT JOIN s
             ON p.user_id = s.user_id AND s.s_tss <= p.p_tss)
         SELECT purchase_id, user_id, p_tss, signup_id, s_tss
         FROM j WHERE rk = 1 ORDER BY purchase_id""",
    "q51_intent_route" ->
      """WITH u AS (SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN 'hey, quick question about doc ' || doc_id
                WHEN doc_id % 5 = 1 THEN 'Thanks a lot, appreciate it!'
                WHEN doc_id % 5 = 2 THEN 'ok goodbye, talk later'
                WHEN doc_id % 5 = 3 THEN 'Good morning! what does doc ' || doc_id || ' say?'
                ELSE 'what is the mechanism described in doc ' || doc_id || '?' END AS utterance
           FROM documents),
         r AS (SELECT doc_id, utterance,
           CASE WHEN regexp_matches(utterance, '\b(hi|hello|hey|howdy|greetings|good\s+(morning|afternoon|evening))\b', 'i') THEN 'greet'
                WHEN regexp_matches(utterance, '\b(thanks?|thank you|appreciate(?:\s+it)?)\b', 'i') THEN 'thank'
                WHEN regexp_matches(utterance, '\b(bye|goodbye|see you|later|take care)\b', 'i') THEN 'bye'
                ELSE 'rag' END AS route FROM u)
         SELECT doc_id, utterance, route,
           CASE route WHEN 'greet' THEN 'Hello — I’m Nicole. How can I assist you today?'
                      WHEN 'thank' THEN 'You’re very welcome!'
                      WHEN 'bye' THEN 'Good‑bye for now; come back any time.' END AS reply
         FROM r ORDER BY doc_id""",
    "q52_unhelpful" ->
      """WITH a AS (SELECT doc_id,
           CASE WHEN doc_id % 6 = 0 THEN 'No.'
                WHEN doc_id % 6 = 1 THEN 'I’m not sure about that, sorry.'
                WHEN doc_id % 6 = 2 THEN 'There is insufficient evidence to answer.'
                WHEN doc_id % 6 = 3 THEN 'I am not sure — the context does not say.'
                ELSE 'The answer is described in ' || text END AS answer
           FROM documents)
         SELECT doc_id, answer,
           (CASE WHEN len(trim(answer)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(answer), '\S+')) END < 3
            OR contains(lower(answer), 'i’m not sure')
            OR contains(lower(answer), 'i am not sure')
            OR contains(lower(answer), 'insufficient evidence')) AS unhelpful
         FROM a ORDER BY doc_id""",
    "q53_bullet_clean" ->
      """WITH raw AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN '### Response' || chr(10) || 'Assistant: nothing here' || chr(10) || '   '
           ELSE '• Finding one for doc ' || doc_id || chr(10) ||
             '2. finding one for doc ' || doc_id || '!' || chr(10) ||
             '### Response' || chr(10) ||
             'Assistant: leaked dialogue line' || chr(10) ||
             '- Second point (an example) for doc ' || doc_id || chr(10) ||
             '* second point for doc ' || doc_id || chr(10) ||
             '   ' || chr(10) ||
             '**No matching evidence for this query' || chr(10) ||
             substr(text, 1, 40) END AS raw
           FROM documents),
         ln AS (SELECT doc_id,
             generate_subscripts(string_split(raw, chr(10)), 1) AS pos,
             trim(regexp_replace(unnest(string_split(raw, chr(10))), '^[\s•*\-0-9.]+', '')) AS clean
           FROM raw),
         flt AS (SELECT doc_id, pos, clean,
             substr(regexp_replace(lower(regexp_replace(clean, '\([^)]*\)', '', 'g')), '[^a-z]', '', 'g'), 1, 60) AS key
           FROM ln
           WHERE clean <> ''
             AND NOT starts_with(lower(clean), '**no matching evidence')
             AND NOT starts_with(lower(clean), '###')
             AND NOT regexp_matches(clean, '^(you|assistant):', 'i')),
         dd AS (SELECT doc_id, pos, clean,
             row_number() OVER (PARTITION BY doc_id, key ORDER BY pos) AS rk
           FROM flt),
         cap AS (SELECT doc_id, pos, clean,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
           FROM dd WHERE rk = 1),
         agg AS (SELECT doc_id, string_agg('• ' || clean, chr(10) ORDER BY pos) AS b
           FROM cap WHERE rn <= 10 GROUP BY doc_id)
         SELECT d.doc_id, coalesce(a.b, 'Insufficient evidence.') AS bullets
         FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""",
    "q54_bullet_verify" ->
      """WITH b AS (SELECT doc_id, lower(text) AS context,
           unnest([trim(substr(text, 1, 50)),
                   trim(substr(text, 1, 30)) || ' novelword anotherone',
                   'completely unrelated fabricated claim here']) AS bullet
           FROM documents),
         m AS (SELECT doc_id, context, bullet,
           len(list_filter(list_distinct(regexp_split_to_array(lower(bullet), '\s+')),
               w -> NOT list_contains(regexp_split_to_array(context, '\s+'), w))) AS missing
           FROM b)
         SELECT doc_id, bullet, missing FROM m
         WHERE contains(context, lower(bullet)) OR missing <= 2
         ORDER BY doc_id, bullet""",
    "q55_word_cap" ->
      """WITH w AS (SELECT doc_id, text,
           regexp_split_to_array(trim(text), '\s+') AS words FROM documents)
         SELECT doc_id,
           CASE WHEN len(words) <= 60 THEN trim(text)
                ELSE array_to_string(words[1:60], ' ') || '…' END AS capped,
           len(words) AS n_words
         FROM w ORDER BY doc_id""",
    "q56_sentence_dedup" ->
      """WITH g AS (SELECT doc_id,
           trim(substr(text, 1, 35)) || '.' AS s1,
           trim(substr(text, 36, 30)) || '.' AS s2,
           'Doc ' || doc_id || ' repeats itself.' AS s3
           FROM documents),
         l AS (SELECT doc_id,
           regexp_replace(concat_ws(' ', s1, s2, s1, s3, s2, s3), '(\.)\s+', '\1' || chr(1), 'g') AS marked
           FROM g),
         p AS (SELECT doc_id,
             generate_subscripts(string_split(marked, chr(1)), 1) AS pos,
             unnest(string_split(marked, chr(1))) AS sent
           FROM l),
         f AS (SELECT doc_id, pos, sent,
             row_number() OVER (PARTITION BY doc_id, sent ORDER BY pos) AS rk
           FROM p WHERE sent <> '')
         SELECT doc_id, string_agg(sent, ' ' ORDER BY pos) AS deduped
         FROM f WHERE rk = 1 GROUP BY doc_id ORDER BY doc_id""",
    "q57_pmc_body" ->
      """SELECT doc_id,
           array_to_string(list_filter(
             [trim(substr(text, 1, 40)), trim(substr(text, 41, 40)), trim(substr(text, 81, 40))],
             p -> trim(p) <> ''), chr(10) || chr(10)) AS body_text
         FROM documents ORDER BY doc_id""",
    "q59_train_split" ->
      """SELECT doc_id, source,
           CASE WHEN strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) <= 13
                THEN 'train' ELSE 'holdout' END AS split
         FROM documents ORDER BY doc_id""",
    "q60_uid_map" ->
      """SELECT doc_id,
           'PMC' || (doc_id + 7) AS pmcid,
           '10.1000/doc.' || doc_id AS doi,
           CAST(doc_id AS VARCHAR) AS pubmed_uid
         FROM documents ORDER BY doc_id""",
    "q61_unicode_fold" ->
      """SELECT doc_id,
           '"' || trim(substr(text, 1, 30)) || '" - cafe resume...' AS folded
         FROM documents ORDER BY doc_id""",
    "q64_json_chunks" ->
      """WITH c AS (SELECT doc_id,
           unnest([trim(substr(text, 1, 60)), trim(substr(text, 61, 60)),
                   trim(substr(text, 121, 60))]) AS chunk,
           generate_subscripts([trim(substr(text, 1, 60)), trim(substr(text, 61, 60)),
                   trim(substr(text, 121, 60))], 1) - 1 AS chunk_id
           FROM documents)
         SELECT doc_id, chunk_id, chunk FROM c WHERE chunk <> ''
         ORDER BY doc_id, chunk_id""",
    "q65_doi_pdf_lookup" ->
      """WITH a AS (SELECT doc_id, '10.1000/doc.' || doc_id AS doi FROM documents),
         m AS (SELECT '10.1000/doc.' || doc_id AS doi,
                 'https://oa.example.org/' || doc_id || '.pdf' AS pdf_url
               FROM documents WHERE doc_id % 3 <> 0)
         SELECT a.doc_id, a.doi, m.pdf_url, m.pdf_url IS NOT NULL AS has_pdf
         FROM a LEFT JOIN m USING (doi) ORDER BY doc_id""",
    "q66_corpus_merge" ->
      """SELECT doc_id, 'corpus' AS record_type, text AS to_text
         FROM documents
         WHERE strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) <= 13
         UNION ALL
         SELECT doc_id, 'instruction' AS record_type,
           '### Instruction:' || chr(10) || 'summarize doc ' || doc_id ||
           chr(10) || '### Response:' || chr(10) || substr(text, 1, 60) AS to_text
         FROM documents WHERE doc_id % 3 = 1
         ORDER BY record_type, doc_id""",
    "q67_curation" ->
      """WITH s AS (SELECT doc_id, text,
           len(regexp_extract_all(text, '\b(the|and|of|to|in|is|that|for|with)\b')) AS en,
           len(regexp_extract_all(text, '\b(der|die|das|und|nicht|ein|ist|mit)\b')) AS de,
           len(regexp_extract_all(text, '\b(el|la|los|las|que|por|para|con)\b')) AS es,
           len(regexp_extract_all(text, '\b(le|les|des|une|est|dans|pour|avec)\b')) AS fr,
           len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh
         FROM documents),
         l AS (SELECT doc_id, text, CASE
           WHEN greatest(en,de,es,fr,zh) = 0 THEN 'und'
           WHEN en = greatest(en,de,es,fr,zh) THEN 'en'
           WHEN de = greatest(en,de,es,fr,zh) THEN 'de'
           WHEN es = greatest(en,de,es,fr,zh) THEN 'es'
           WHEN fr = greatest(en,de,es,fr,zh) THEN 'fr'
           ELSE 'zh' END AS lang_pred FROM s),
         qs AS (SELECT doc_id,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS DOUBLE) AS n_words,
           CAST(length(regexp_replace(text, '[^!?.,;:]', '', 'g')) AS DOUBLE) AS n_punct,
           CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|a|is|that)\b')) AS DOUBLE) AS n_stop
         FROM documents),
         q AS (SELECT doc_id, floor((
           least(n_chars / 500.0, 1.0)
           + (1.0 - least(n_punct / greatest(n_words, 1.0) * 2.0, 1.0))
           + least(n_stop / greatest(n_words, 1.0) * 5.0, 1.0)
           + CASE WHEN n_chars / greatest(n_words, 1.0) >= 3.0
                   AND n_chars / greatest(n_words, 1.0) <= 10.0 THEN 1.0 ELSE 0.5 END
           ) / 4.0 * 10000.0 + 0.5) / 10000.0 AS quality FROM qs),
         f AS (SELECT l.doc_id, l.lang_pred, q.quality,
           md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(l.text), '\s+'))), ' ')) AS fp
         FROM l JOIN q USING (doc_id)
         WHERE l.lang_pred = 'en' AND q.quality >= 0.5),
         k AS (SELECT doc_id, lang_pred, quality,
           row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk FROM f)
         SELECT doc_id, lang_pred, quality,
           CASE WHEN strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) <= 13
                THEN 'train' ELSE 'holdout' END AS split
         FROM k WHERE rk = 1 ORDER BY doc_id""",
    // sketch tolerance check expressed in the exact-hash harness: the
    // oracle pins the EXACT count/ndv/percentiles; the *_ok booleans are
    // computed Spark-side (|sketch − exact| within tolerance) and must
    // equal the oracle's literal TRUEs — a drifted sketch turns the row red
    "q68_sketch_profile" ->
      """SELECT count(*) AS n_docs,
         count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS ndv_exact,
         TRUE AS hll_ok,
         round(quantile_cont(CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS BIGINT), 0.5), 4) AS p50_tokens,
         round(quantile_cont(CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS BIGINT), 0.9), 4) AS p90_tokens,
         TRUE AS p50_ok, TRUE AS p90_ok
         FROM documents""",
    // k = ceil(sqrt(N)) clusters learned by the q124 kmeans unroll
    // (seeds = k lowest ids, 3 Lloyd rounds, 6-dp-rounded distances,
    // 9-dp-rounded recenters), then mirrors VectorOps.ivfAssign exactly:
    // per-cluster mean centroids, probe = 2 nearest by rounded cosine
    // (ties by cluster), pairs sharing any probed centroid, exact-cosine
    // verify at the rounded threshold
    "q69_bucketed_neardup" ->
      """WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         seeds AS (SELECT CAST(row_number() OVER (ORDER BY id) AS INT) - 1 AS cl, vec AS centroid
                   FROM (SELECT id, vec FROM v ORDER BY id
                         LIMIT (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM v)) s),
         d1 AS (SELECT v.id, v.vec, c.cl,
                 floor((list_dot_product(v.vec, v.vec) - 2*list_dot_product(v.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, seeds c),
         a1 AS (SELECT id, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM d1) t
                WHERE rk = 1),
         c1 AS (SELECT cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT cl, unnest(vec) AS x, unnest(generate_series(1, len(vec))) AS pos FROM a1) u
                  GROUP BY cl, pos) g GROUP BY cl),
         d2_ AS (SELECT v.id, v.vec, c.cl,
                 floor((list_dot_product(v.vec, v.vec) - 2*list_dot_product(v.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, c1 c),
         a2 AS (SELECT id, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM d2_) t
                WHERE rk = 1),
         c2 AS (SELECT cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT cl, unnest(vec) AS x, unnest(generate_series(1, len(vec))) AS pos FROM a2) u
                  GROUP BY cl, pos) g GROUP BY cl),
         d3 AS (SELECT v.id, v.vec, c.cl,
                 floor((list_dot_product(v.vec, v.vec) - 2*list_dot_product(v.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, c2 c),
         a3 AS (SELECT id, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM d3) t
                WHERE rk = 1),
         c3 AS (SELECT cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT cl, unnest(vec) AS x, unnest(generate_series(1, len(vec))) AS pos FROM a3) u
                  GROUP BY cl, pos) g GROUP BY cl),
         df_ AS (SELECT v.id, v.vec, c.cl,
                 floor((list_dot_product(v.vec, v.vec) - 2*list_dot_product(v.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, c3 c),
         af AS (SELECT id, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM df_) t
                WHERE rk = 1),
         ci AS (SELECT cl, unnest(generate_series(1, 64)) AS i, vec FROM af),
         cent AS (SELECT cl, i, avg(vec[i]) AS m FROM ci GROUP BY cl, i),
         centv AS (SELECT cl, list(m ORDER BY i) AS ce FROM cent GROUP BY cl),
         probe AS (SELECT id, cl, vec FROM (
             SELECT v.id, centv.cl, v.vec,
               row_number() OVER (PARTITION BY v.id ORDER BY
                 round(list_dot_product(v.vec, centv.ce) /
                   (sqrt(list_dot_product(v.vec, v.vec)) * sqrt(list_dot_product(centv.ce, centv.ce))), 4) DESC,
                 centv.cl ASC) AS pr
             FROM v, centv) WHERE pr <= 2),
         pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
             FROM probe a JOIN probe b ON a.cl = b.cl AND a.id < b.id),
         s AS (SELECT id_a, id_b,
             round(list_dot_product(va.vec, vb.vec) /
               (sqrt(list_dot_product(va.vec, va.vec)) * sqrt(list_dot_product(vb.vec, vb.vec))), 4) AS cos
           FROM pairs JOIN v va ON va.id = id_a JOIN v vb ON vb.id = id_b)
         SELECT id_a, id_b, cos FROM s WHERE cos >= 0.45 ORDER BY id_a, id_b""",
    // the streaming twin is an INNER range join (7-day lookback) + per-
    // purchase latest signup; purchases without an in-range signup drop out
    "q70_stream_asof" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS tss FROM events),
         p AS (SELECT event_id AS purchase_id, user_id, tss AS p_tss
               FROM e WHERE event_type = 'purchase'),
         s AS (SELECT event_id AS signup_id, user_id, tss AS s_tss
               FROM e WHERE event_type = 'signup'),
         j AS (SELECT p.purchase_id, p.user_id, p.p_tss, s.signup_id, s.s_tss,
             row_number() OVER (PARTITION BY p.purchase_id
               ORDER BY s.s_tss DESC, s.signup_id DESC) AS rk
           FROM p JOIN s
             ON p.user_id = s.user_id AND s.s_tss <= p.p_tss
                AND s.s_tss >= p.p_tss - 604800)
         SELECT purchase_id, user_id, p_tss, signup_id, s_tss
         FROM j WHERE rk = 1 ORDER BY purchase_id""",
    // the pruned read of the day-partitioned lake must equal a min-day
    // filter over the source table
    "q71_partition_prune" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
         FROM events
         WHERE CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE)) FROM events)
         GROUP BY event_type ORDER BY event_type""",
    // the Spark side round-trips through the one-record-per-file JSON
    // sink; content preservation means the read-back equals the records
    // computed directly
    "q72_chunk_json_files" ->
      """WITH w AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS words
               FROM documents),
         c AS (SELECT doc_id, source,
                 unnest(generate_series(0, greatest(CAST(ceil(len(words)/100.0) AS BIGINT), 1) - 1)) AS i,
                 words
               FROM w),
         x AS (SELECT doc_id, source, i,
                 array_to_string(list_slice(words, CAST(i*100+1 AS BIGINT), CAST(i*100+100 AS BIGINT)), ' ') AS chunk
               FROM c),
         y AS (SELECT doc_id, source,
                 row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS ci,
                 chunk
               FROM x WHERE chunk <> '')
         SELECT doc_id || '_' || ci AS id, source AS title, chunk
         FROM y ORDER BY id""",
    // flags apply to the floor-rounded fractions on both sides (engine-
    // identical IEEE arithmetic; see the round-2 rounding-boundary note)
    "q73_repetition_stats" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
               FROM documents),
         wf AS (SELECT doc_id, w, count(*) AS c FROM w WHERE w <> '' GROUP BY doc_id, w),
         s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
                 CAST(count(*) AS BIGINT) AS n_distinct, CAST(max(c) AS BIGINT) AS top_c
               FROM wf GROUP BY doc_id),
         r AS (SELECT doc_id, n_words,
                 floor((1.0 - n_distinct*1.0/n_words)*10000.0 + 0.5)/10000.0 AS dup_word_frac,
                 floor((top_c*1.0/n_words)*10000.0 + 0.5)/10000.0 AS top_word_frac
               FROM s)
         SELECT doc_id, n_words, dup_word_frac, top_word_frac,
           (dup_word_frac > 0.3 OR top_word_frac > 0.1) AS flagged
         FROM r ORDER BY doc_id""",
    // ranking on the floor-rounded score, ties on term — same total
    // order both engines (ln is IEEE double in both)
    "q74_tfidf" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
               FROM documents),
         w2 AS (SELECT doc_id, w FROM w WHERE w <> ''),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM w2 GROUP BY doc_id, w),
         df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         n AS (SELECT count(DISTINCT doc_id) AS n FROM w2),
         x AS (SELECT tf.doc_id, tf.w,
                 CAST(tf.tf AS BIGINT) AS tf,
                 floor(tf.tf * ln(n.n * 1.0 / df.df) * 10000.0 + 0.5)/10000.0 AS tfidf
               FROM tf, df, n WHERE tf.w = df.w),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w ASC) AS rk
               FROM x)
         SELECT doc_id, CAST(rk AS INT) AS rank, w AS term, tf, tfidf
         FROM r WHERE rk <= 5 ORDER BY doc_id, rank""",
    // week truncation lands on Monday in both engines; offsets are exact
    // multiples of 7 days so the division is integral
    "q75_cohort_retention" ->
      """WITH e AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
         f AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id),
         a AS (SELECT DISTINCT user_id, wk FROM e)
         SELECT strftime(f.cohort_wk, '%Y-%m-%d') AS cohort_wk,
           CAST(date_diff('day', f.cohort_wk, a.wk)/7 AS INT) AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
         FROM a JOIN f ON a.user_id = f.user_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q76_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS tss FROM events),
         s1 AS (SELECT user_id, min(tss) AS t1 FROM e
                WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.tss) AS t2 FROM e
                JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.tss >= s1.t1 GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.tss) AS t3 FROM e
                JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.tss >= s2.t2 GROUP BY e.user_id)
         SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_view_users,
                CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_click_users,
                CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_purchase_users""",
    "q77_pivot" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
         FROM events GROUP BY day ORDER BY day""",
    // 'ALL' labels instead of NULL keep the total ORDER BY identical
    // across engines (Spark: nulls first; DuckDB: nulls last)
    "q78_rollup" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(strftime(CAST(ts AS DATE), '%Y-%m-%d'), 'ALL') AS day,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total_value
         FROM events
         GROUP BY ROLLUP(event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d'))
         ORDER BY 1, 2""",
    "q79_moving_avg" ->
      """WITH d AS (SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, sum(value) AS rev
               FROM events WHERE event_type = 'purchase' GROUP BY 1),
         m AS (SELECT day, rev,
                 avg(rev) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS rev7
               FROM d)
         SELECT day, floor(rev*100.0 + 0.5)/100.0 AS revenue,
           floor(rev7*100.0 + 0.5)/100.0 AS revenue_ma7
         FROM m ORDER BY day""",
    // total order (rounded spend desc, user_id) makes ntile buckets
    // deterministic and engine-identical
    "q80_user_deciles" ->
      """WITH s AS (SELECT user_id, floor(sum(value)*100.0 + 0.5)/100.0 AS spend
               FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         t AS (SELECT user_id, spend,
                 ntile(10) OVER (ORDER BY spend DESC, user_id ASC) AS decile FROM s)
         SELECT CAST(decile AS INT) AS decile, CAST(count(*) AS BIGINT) AS n_users,
           min(spend) AS min_spend, max(spend) AS max_spend
         FROM t GROUP BY decile ORDER BY decile""",
    // correlation from algebraic sums with the identical closed formula
    // (not the engine corr() aggregate) — implementation-order-proof
    "q81_value_hour_corr" ->
      """WITH e AS (SELECT event_type,
           CAST(extract(hour FROM ts) AS DOUBLE) AS x, value AS y FROM events),
         s AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
                 sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
                 sum(x*x) AS sxx, sum(y*y) AS syy
               FROM e GROUP BY event_type)
         SELECT event_type, CAST(n AS BIGINT) AS n_events,
           floor((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)) * 10000.0 + 0.5)/10000.0
             AS corr_hour_value
         FROM s ORDER BY event_type""",
    "q82_bigram_topk" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
               FROM documents),
         s AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-1)) AS i
               FROM w WHERE len(ws) > 1),
         b AS (SELECT ws[i] || ' ' || ws[i+1] AS bigram FROM s)
         SELECT bigram, CAST(count(*) AS BIGINT) AS n
         FROM b GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20""",
    // identical closed BM25 formula both sides; integral count sums are
    // exact doubles, so only ln and the <=3-term sum carry float noise
    "q83_bm25" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
               FROM documents),
         w2 AS (SELECT doc_id, w FROM w WHERE w <> ''),
         dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM w2 GROUP BY doc_id),
         st AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n FROM dl),
         tf AS (SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf FROM w2
                WHERE w IN ('table', 'query', 'spark') GROUP BY doc_id, w),
         df AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w),
         s AS (SELECT tf.doc_id,
                 ln((st.n - df.df + 0.5)/(df.df + 0.5) + 1.0) * tf.tf * 2.2 /
                   (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS s
               FROM tf JOIN df ON tf.w = df.w JOIN dl ON tf.doc_id = dl.doc_id, st)
         SELECT doc_id, floor(sum(s)*10000.0 + 0.5)/10000.0 AS bm25
         FROM s GROUP BY doc_id ORDER BY bm25 DESC, doc_id ASC LIMIT 10""",
    // RRF terms 1/(rank+60) are exact doubles off integer ranks — the
    // fused score needs no rounding to be engine-identical
    "q84_rrf_fusion" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
               FROM documents),
         w2 AS (SELECT doc_id, w FROM w WHERE w <> ''),
         dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM w2 GROUP BY doc_id),
         st AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n FROM dl),
         tf AS (SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf FROM w2
                WHERE w IN ('table', 'query', 'spark') GROUP BY doc_id, w),
         df AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w),
         bs AS (SELECT tf.doc_id,
                 ln((st.n - df.df + 0.5)/(df.df + 0.5) + 1.0) * tf.tf * 2.2 /
                   (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS s
               FROM tf JOIN df ON tf.w = df.w JOIN dl ON tf.doc_id = dl.doc_id, st),
         bm AS (SELECT doc_id, floor(sum(s)*10000.0 + 0.5)/10000.0 AS bm25
                FROM bs GROUP BY doc_id),
         a AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS ra
               FROM bm QUALIFY ra <= 50),
         ti AS (SELECT tf.doc_id,
                 floor(sum(tf.tf * ln(st.n / df.df)) * 10000.0 + 0.5)/10000.0 AS tfidf
               FROM tf JOIN df ON tf.w = df.w, st GROUP BY tf.doc_id),
         b AS (SELECT doc_id, row_number() OVER (ORDER BY tfidf DESC, doc_id ASC) AS rb
               FROM ti QUALIFY rb <= 50)
         SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
           coalesce(1.0/(a.ra + 60.0), 0.0) + coalesce(1.0/(b.rb + 60.0), 0.0) AS rrf
         FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
         ORDER BY rrf DESC, doc_id ASC LIMIT 10""",
    // C4-style line dedup over fixed 10-word lines (q19's chunk grid):
    // global first-occurrence keep, per-doc reassembly
    "q85_line_dedup" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         c AS (SELECT doc_id,
                 unnest(generate_series(0, greatest(CAST(ceil(len(ws)/10.0) AS BIGINT), 1) - 1)) AS i,
                 ws FROM w),
         x AS (SELECT doc_id, i,
                 array_to_string(list_slice(ws, CAST(i*10+1 AS BIGINT), CAST(i*10+10 AS BIGINT)), ' ') AS line
               FROM c),
         l AS (SELECT doc_id, i, line FROM x WHERE line <> ''),
         r AS (SELECT *, row_number() OVER (PARTITION BY line ORDER BY doc_id, i) AS rk FROM l),
         t AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM l GROUP BY doc_id),
         k AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                 array_to_string(list(line ORDER BY i), ' ') AS kept_text
               FROM r WHERE rk = 1 GROUP BY doc_id)
         SELECT k.doc_id, k.n_kept, t.n_lines - k.n_kept AS n_dropped, k.kept_text
         FROM k JOIN t ON k.doc_id = t.doc_id
         ORDER BY k.doc_id""",
    // exact anchors hash-checked; the sketch estimates (incl. the merged
    // union) are tolerance booleans, as in q68
    "q86_sketch_merge" ->
      """WITH d AS (SELECT lang,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp FROM documents)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT fp) AS BIGINT) AS ndv_exact, TRUE AS hll_ok
         FROM d GROUP BY lang
         UNION ALL
         SELECT 'ALL', CAST(count(*) AS BIGINT), CAST(count(DISTINCT fp) AS BIGINT), TRUE
         FROM d
         ORDER BY lang""",
    // eval slice = doc_id % 97 == 0; 4-word shingles (calibrated: 8
    // contaminated docs at sf0.01 — overlap is sparse but non-empty)
    "q87_decontaminate" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                  unnest([array_to_string(ws[i:i+3], ' ') for i in generate_series(1, len(ws)-3)]) AS s
                FROM w WHERE len(ws) >= 4),
         ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
         SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         FROM sh JOIN ev ON sh.s = ev.s
         WHERE sh.doc_id % 97 <> 0
         GROUP BY sh.doc_id ORDER BY sh.doc_id""",
    "q88_pack_sequences" ->
      """WITH d AS (SELECT doc_id, source,
           CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS BIGINT) AS n_tokens
         FROM documents),
         s AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_tok
               FROM d)
         SELECT source, CAST(floor(start_tok / 512.0) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         FROM s GROUP BY source, bin ORDER BY source, bin""",
    // q23's clusters resolved keep-best (most tokens, tie → lowest id)
    "q89_keeper_dedup" ->
      """WITH f AS (SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp,
           CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS BIGINT) AS n_tokens
         FROM documents),
         r AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY n_tokens DESC, doc_id ASC) AS rk,
                 CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_docs FROM f)
         SELECT fp, doc_id AS keeper, n_docs, n_tokens AS keeper_tokens
         FROM r WHERE rk = 1 AND n_docs > 1 ORDER BY fp""",
    // corpus-relative quality gate: keep docs at/above the global p25;
    // quality + threshold both floor-rounded to 4 dp (engine-parity rule)
    "q90_quality_cutoff" ->
      """WITH s AS (SELECT doc_id,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS DOUBLE) AS n_words,
           CAST(length(regexp_replace(text, '[^!?.,;:]', '', 'g')) AS DOUBLE) AS n_punct,
           CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|a|is|that)\b')) AS DOUBLE) AS n_stop
         FROM documents),
         q AS (SELECT doc_id, floor((
           least(n_chars / 500.0, 1.0)
           + (1.0 - least(n_punct / greatest(n_words, 1.0) * 2.0, 1.0))
           + least(n_stop / greatest(n_words, 1.0) * 5.0, 1.0)
           + CASE WHEN n_chars / greatest(n_words, 1.0) >= 3.0
                   AND n_chars / greatest(n_words, 1.0) <= 10.0 THEN 1.0 ELSE 0.5 END
           ) / 4.0 * 10000.0 + 0.5) / 10000.0 AS quality FROM s),
         t AS (SELECT floor(quantile_cont(quality, 0.25) * 10000.0 + 0.5) / 10000.0 AS p25 FROM q)
         SELECT q.doc_id, q.quality, t.p25
         FROM q, t WHERE q.quality >= t.p25
         ORDER BY q.doc_id""",
    // deterministic md5-bucket mixture (16ths per source); DuckDB hex
    // digit via strpos-1 ↔ Spark conv(hex,16,10)
    "q91_source_mixture" ->
      """SELECT doc_id, source FROM documents
         WHERE strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 <
           CASE source WHEN 'src0' THEN 16 WHEN 'src1' THEN 12
                       WHEN 'src2' THEN 8 WHEN 'src3' THEN 4 ELSE 2 END
         ORDER BY doc_id""",
    // new batch (top 20% of doc_id) deduped against the lake's fp index
    // (anti-join) and then within itself (first-occurrence window)
    "q92_incremental_dedup" ->
      """WITH c AS (SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS cut FROM documents),
         f AS (SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp
         FROM documents),
         lake AS (SELECT DISTINCT fp FROM f, c WHERE f.doc_id <= c.cut),
         batch AS (SELECT f.doc_id, f.fp FROM f, c WHERE f.doc_id > c.cut),
         fresh AS (SELECT * FROM batch WHERE fp NOT IN (SELECT fp FROM lake)),
         r AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk FROM fresh)
         SELECT doc_id, fp FROM r WHERE rk = 1 ORDER BY doc_id""",
    // MRR/nDCG@10 with binary same-label relevance; IDCG truncated at
    // min(relevant-in-corpus, 10); ranks off the 4-dp-rounded cosine
    // (identical ordering both engines, as q28/q30)
    "q93_rank_metrics" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS expected FROM embeddings WHERE vec_id < 20),
         c AS (SELECT vec_id AS nid, embedding AS cv, label AS nl FROM embeddings WHERE vec_id >= 20),
         s AS (SELECT qid, expected, nid, nl,
           round(list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[])))), 4) AS score
           FROM q, c),
         r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank FROM s),
         t AS (SELECT * FROM r WHERE rank <= 10),
         lc AS (SELECT nl AS expected, count(*) AS n_rel FROM c GROUP BY nl),
         pq AS (SELECT qid, expected,
                 max(CASE WHEN nl = expected THEN 1.0/rank ELSE 0.0 END) AS rr,
                 sum(CASE WHEN nl = expected THEN 1.0/(ln(rank + 1.0)/ln(2.0)) ELSE 0.0 END) AS dcg
               FROM t GROUP BY qid, expected),
         i AS (SELECT pq.qid, pq.rr, pq.dcg,
                 list_sum([1.0/(ln(g + 1.0)/ln(2.0))
                           for g in generate_series(1, CAST(least(lc.n_rel, 10) AS BIGINT))]) AS idcg
               FROM pq JOIN lc ON pq.expected = lc.expected)
         SELECT qid AS query_id,
           floor(rr * 10000.0 + 0.5)/10000.0 AS rr,
           floor(CASE WHEN idcg > 0 THEN dcg/idcg ELSE 0.0 END * 10000.0 + 0.5)/10000.0 AS ndcg
         FROM i ORDER BY query_id""",
    // per-source bigram type-token ratio (q82's pair formation)
    "q94_ngram_diversity" ->
      """WITH w AS (SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
               FROM documents),
         b AS (SELECT source, ws[i] || ' ' || ws[i+1] AS bigram
               FROM (SELECT source, ws, unnest(generate_series(1, len(ws)-1)) AS i
                     FROM w WHERE len(ws) > 1))
         SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(count(DISTINCT bigram) AS BIGINT) AS n_distinct,
           floor(CAST(count(DISTINCT bigram) AS DOUBLE) / count(*) * 10000.0 + 0.5)/10000.0 AS diversity
         FROM b GROUP BY source ORDER BY source""",
    // q28's shape with the relevance filter BEFORE the window: rank is
    // over wrong-label negatives only
    "q95_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS expected FROM embeddings WHERE vec_id < 20),
         c AS (SELECT vec_id AS nid, embedding AS cv, label AS nl FROM embeddings WHERE vec_id >= 20),
         s AS (SELECT qid, nid,
           round(list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[])))), 4) AS score
           FROM q, c WHERE nl <> expected),
         r AS (SELECT qid, nid, score,
                 row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank
               FROM s)
         SELECT qid AS query_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, score
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    // bucket = floor(log2(n_tokens)) via exact bit logic (length of the
    // binary repr minus 1): ln(64)/ln(2) sits an ulp under 6.0
    "q96_length_histogram" ->
      """WITH d AS (SELECT source,
           CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS BIGINT) AS n_tokens
         FROM documents)
         SELECT source, CAST(length(bin(n_tokens)) - 1 AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs
         FROM d GROUP BY source, bucket ORDER BY source, bucket""",
    // the full pipeline composition: q91 mixture (eval excluded) → q16
    // quality floor → q85 line dedup → q23 exact dedup on kept_text →
    // q87 decontamination vs the raw eval slice → q88 packing
    "q98_curation_pipeline" ->
      """WITH base AS (
           SELECT doc_id, source, text FROM documents
           WHERE doc_id % 97 <> 0
             AND strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 <
                 CASE source WHEN 'src0' THEN 16 WHEN 'src1' THEN 12
                             WHEN 'src2' THEN 8 WHEN 'src3' THEN 4 ELSE 2 END),
         qs AS (SELECT doc_id,
                  CAST(length(text) AS DOUBLE) AS n_chars,
                  CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS DOUBLE) AS n_words,
                  CAST(length(regexp_replace(text, '[^!?.,;:]', '', 'g')) AS DOUBLE) AS n_punct,
                  CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|a|is|that)\b')) AS DOUBLE) AS n_stop
                FROM base),
         ql AS (SELECT doc_id, floor((
                  least(n_chars / 500.0, 1.0)
                  + (1.0 - least(n_punct / greatest(n_words, 1.0) * 2.0, 1.0))
                  + least(n_stop / greatest(n_words, 1.0) * 5.0, 1.0)
                  + CASE WHEN n_chars / greatest(n_words, 1.0) >= 3.0
                          AND n_chars / greatest(n_words, 1.0) <= 10.0 THEN 1.0 ELSE 0.5 END
                  ) / 4.0 * 10000.0 + 0.5) / 10000.0 AS quality FROM qs),
         sampled AS (SELECT base.doc_id, base.source, base.text
                     FROM base JOIN ql USING (doc_id) WHERE ql.quality >= 0.5),
         w AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS ws FROM sampled),
         c AS (SELECT doc_id, source,
                 unnest(generate_series(0, greatest(CAST(ceil(len(ws)/10.0) AS BIGINT), 1) - 1)) AS i,
                 ws FROM w),
         x AS (SELECT doc_id, source, i,
                 array_to_string(list_slice(ws, CAST(i*10+1 AS BIGINT), CAST(i*10+10 AS BIGINT)), ' ') AS line
               FROM c),
         l AS (SELECT * FROM x WHERE line <> ''),
         r AS (SELECT *, row_number() OVER (PARTITION BY line ORDER BY doc_id, i) AS rk FROM l),
         k AS (SELECT doc_id, source, array_to_string(list(line ORDER BY i), ' ') AS kept_text
               FROM r WHERE rk = 1 GROUP BY doc_id, source),
         f AS (SELECT *, md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(kept_text), '\s+'))), ' ')) AS fp FROM k),
         e AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk2 FROM f),
         ed AS (SELECT doc_id, source, kept_text FROM e WHERE rk2 = 1),
         evw AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws FROM documents WHERE doc_id % 97 = 0),
         ev AS (SELECT DISTINCT unnest([array_to_string(ws[i:i+3], ' ') for i in generate_series(1, len(ws)-3)]) AS s
                FROM evw WHERE len(ws) >= 4),
         tw AS (SELECT doc_id, regexp_split_to_array(trim(kept_text), '\s+') AS ws2 FROM ed),
         tsh AS (SELECT DISTINCT doc_id,
                   unnest([array_to_string(ws2[i:i+3], ' ') for i in generate_series(1, len(ws2)-3)]) AS s
                 FROM tw WHERE len(ws2) >= 4),
         cont AS (SELECT DISTINCT tsh.doc_id FROM tsh JOIN ev ON tsh.s = ev.s),
         clean AS (SELECT ed.doc_id, ed.source, ed.kept_text FROM ed
                   WHERE ed.doc_id NOT IN (SELECT doc_id FROM cont)),
         d AS (SELECT doc_id, source,
                 CAST(CASE WHEN len(trim(kept_text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(kept_text), '\S+')) END AS BIGINT) AS n_tokens
               FROM clean),
         sums AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_tok
                  FROM d)
         SELECT source, CAST(floor(start_tok / 512.0) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         FROM sums GROUP BY source, bin ORDER BY source, bin""",
    // melt -> one group-by: ndv on each engine's own (injective) string
    // form, so counts agree even where float formatting differs
    "q99_column_profile" ->
      """WITH m AS (
           SELECT 'o_orderkey' AS col_name, CAST(o_orderkey AS VARCHAR) AS v FROM orders
           UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
           UNION ALL SELECT 'o_orderstatus', CAST(o_orderstatus AS VARCHAR) FROM orders
           UNION ALL SELECT 'o_totalprice', CAST(o_totalprice AS VARCHAR) FROM orders
           UNION ALL SELECT 'o_orderdate', CAST(o_orderdate AS VARCHAR) FROM orders
           UNION ALL SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders)
         SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT v) AS BIGINT) AS ndv
         FROM m GROUP BY col_name ORDER BY col_name""",
    // the streamed lake filter is exactly the batch anti-join (no
    // within-stream dedup — q92 owns that; see Events.q100StreamLakeFilter)
    "q100_stream_lake_filter" ->
      """WITH c AS (SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS cut FROM documents),
         f AS (SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp
         FROM documents),
         lake AS (SELECT DISTINCT fp FROM f, c WHERE f.doc_id <= c.cut),
         batch AS (SELECT f.doc_id, f.fp FROM f, c WHERE f.doc_id > c.cut)
         SELECT doc_id, fp FROM batch WHERE fp NOT IN (SELECT fp FROM lake)
         ORDER BY doc_id""",
    // md5 over identical UTF-8 bytes both sides; floor on IEEE doubles
    // handles negative balances identically
    "q101_pii_mask" ->
      """WITH p AS (SELECT c_custkey,
             md5('graft-pepper:' || c_name) AS name_token,
             CAST(floor(c_acctbal / 1000.0) * 1000.0 AS BIGINT) AS balance_band,
             c_mktsegment AS segment
           FROM customer),
         s AS (SELECT segment, balance_band, count(*) AS k_anon
               FROM p GROUP BY segment, balance_band)
         SELECT p.c_custkey, p.name_token, p.segment, p.balance_band,
           s.k_anon, s.k_anon < 10 AS suppress
         FROM p JOIN s USING (segment, balance_band)
         ORDER BY p.c_custkey""",
    // the sketch side is merge-order dependent, so only the MG guarantee
    // booleans appear in the output — deterministically TRUE for any
    // correct summary (integer arithmetic, no float tolerance); the
    // anchors are the exact top-10
    "q102_heavy_hitters" ->
      """WITH w AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
               FROM documents),
         f AS (SELECT w, count(*) AS cnt FROM w WHERE w <> '' GROUP BY w),
         t AS (SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w ASC) AS rank
               FROM f)
         SELECT CAST(rank AS INT) AS rank, w AS word, cnt, TRUE AS mg_ok
         FROM t WHERE rank <= 10 ORDER BY rank""",
    // self-scored corpus LM: every doc bigram is in the model, so the
    // inner join loses nothing; exp runs on the identical floor-rounded
    // mean in both engines
    "q103_lm_perplexity" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
               FROM documents),
         b AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
               FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-1)) AS i
                     FROM w WHERE len(ws) > 1)),
         lm AS (SELECT bg, -ln(count(*) * 1.0 /
                  (sum(count(*)) OVER (PARTITION BY split_part(bg, ' ', 1)))) AS nll
                FROM b GROUP BY bg),
         d AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                 floor(avg(lm.nll) * 10000.0 + 0.5) / 10000.0 AS avg_nll
               FROM b JOIN lm USING (bg) GROUP BY b.doc_id)
         SELECT doc_id, n_bigrams, avg_nll,
           floor(exp(avg_nll) * 10000.0 + 0.5) / 10000.0 AS ppl
         FROM d ORDER BY doc_id""",
    // transitive closure as a recursive CTE: reach(v,u) saturates to all
    // reachable pairs (components are df-capped, so tiny); root = least
    // id reachable. Edge set mirrors Graph.q104DedupClusters exactly.
    "q104_dedup_clusters" ->
      """WITH RECURSIVE
         w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents),
         l AS (SELECT DISTINCT doc_id, array_to_string(ws[5*i+1 : 5*i+5], ' ') AS line
               FROM (SELECT doc_id, ws, unnest(generate_series(0,
                       CAST(ceil(len(ws)*1.0/5) AS INT) - 1)) AS i FROM w)
               WHERE array_to_string(ws[5*i+1 : 5*i+5], ' ') <> ''),
         df AS (SELECT line, count(*) AS c FROM l GROUP BY line),
         e0 AS (SELECT DISTINCT l1.doc_id AS a, l2.doc_id AS b
                FROM l l1 JOIN l l2 USING (line) JOIN df USING (line)
                WHERE df.c BETWEEN 2 AND 5 AND l1.doc_id < l2.doc_id),
         e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
         reach(v, u) AS (SELECT a, b FROM e
                         UNION
                         SELECT reach.v, e.b FROM reach JOIN e ON reach.u = e.a),
         r AS (SELECT v AS doc_id, least(v, min(u)) AS root FROM reach GROUP BY v),
         s AS (SELECT root, count(*) AS cluster_size FROM r GROUP BY root)
         SELECT r.doc_id, r.root, s.cluster_size
         FROM r JOIN s USING (root) ORDER BY r.doc_id""",
    // q104's closure, then per-cluster keeper = argmax tokens (ties →
    // min doc_id; q89's rule over transitive clusters)
    "q105_cluster_keepers" ->
      """WITH RECURSIVE
         w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents),
         l AS (SELECT DISTINCT doc_id, array_to_string(ws[5*i+1 : 5*i+5], ' ') AS line
               FROM (SELECT doc_id, ws, unnest(generate_series(0,
                       CAST(ceil(len(ws)*1.0/5) AS INT) - 1)) AS i FROM w)
               WHERE array_to_string(ws[5*i+1 : 5*i+5], ' ') <> ''),
         df AS (SELECT line, count(*) AS c FROM l GROUP BY line),
         e0 AS (SELECT DISTINCT l1.doc_id AS a, l2.doc_id AS b
                FROM l l1 JOIN l l2 USING (line) JOIN df USING (line)
                WHERE df.c BETWEEN 2 AND 5 AND l1.doc_id < l2.doc_id),
         e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
         reach(v, u) AS (SELECT a, b FROM e
                         UNION
                         SELECT reach.v, e.b FROM reach JOIN e ON reach.u = e.a),
         r AS (SELECT v AS doc_id, least(v, min(u)) AS root FROM reach GROUP BY v),
         t AS (SELECT r.doc_id, r.root,
                 CAST(len(w.ws) AS BIGINT) AS n_tokens
               FROM r JOIN w USING (doc_id)),
         rk AS (SELECT *, row_number() OVER (PARTITION BY root
                  ORDER BY n_tokens DESC, doc_id ASC) AS rn FROM t),
         agg AS (SELECT root, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
                 FROM t GROUP BY root)
         SELECT agg.root, agg.n_docs, rk.doc_id AS keeper,
           rk.n_tokens AS keeper_tokens,
           agg.total_tokens - rk.n_tokens AS dropped_tokens
         FROM agg JOIN rk ON agg.root = rk.root AND rk.rn = 1
         ORDER BY agg.root""",
    // q102's oracle verbatim: the streamed MG state must satisfy the
    // same (per-bucket, tighter) guarantee against the same exact
    // anchors, whatever arrival order the stream delivered
    "q106_stream_heavy_hitters" ->
      """WITH w AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
               FROM documents),
         f AS (SELECT w, count(*) AS cnt FROM w WHERE w <> '' GROUP BY w),
         t AS (SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w ASC) AS rank
               FROM f)
         SELECT CAST(rank AS INT) AS rank, w AS word, cnt, TRUE AS mg_ok
         FROM t WHERE rank <= 10 ORDER BY rank""",
    // identical md5-derived shard + order on both sides; pos is the
    // per-shard window rank
    "q107_corpus_shuffle" ->
      """WITH k AS (SELECT doc_id,
             md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS skey
           FROM documents),
         s AS (SELECT doc_id, skey,
             CAST(concat('0x', substr(skey, 1, 2)) AS INTEGER) % 8 AS shard
           FROM k)
         SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS INT) AS pos,
           skey
         FROM s ORDER BY shard, pos""",
    // the coin is exact (60-bit integer / 2^60) and keep_prob is a plain
    // product of the 4-dp quality — both engines decide every row
    // identically; only the DISPLAYED keep_prob is rounded
    "q108_weighted_sample" ->
      """WITH s AS (SELECT doc_id,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS DOUBLE) AS n_words,
           CAST(length(regexp_replace(text, '[^!?.,;:]', '', 'g')) AS DOUBLE) AS n_punct,
           CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|a|is|that)\b')) AS DOUBLE) AS n_stop
         FROM documents),
         q AS (SELECT doc_id, floor((
           least(n_chars / 500.0, 1.0)
           + (1.0 - least(n_punct / greatest(n_words, 1.0) * 2.0, 1.0))
           + least(n_stop / greatest(n_words, 1.0) * 5.0, 1.0)
           + CASE WHEN n_chars / greatest(n_words, 1.0) >= 3.0
                   AND n_chars / greatest(n_words, 1.0) <= 10.0 THEN 1.0 ELSE 0.5 END
           ) / 4.0 * 10000.0 + 0.5) / 10000.0 AS quality
         FROM s),
         c AS (SELECT doc_id, quality,
             quality * quality * quality * quality AS keep_prob,
             CAST(CAST(concat('0x', substr(
               md5('sample7:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
               / 1152921504606846976.0 AS u
           FROM q)
         SELECT doc_id, quality,
           floor(keep_prob * 10000.0 + 0.5) / 10000.0 AS keep_prob
         FROM c WHERE u < keep_prob ORDER BY doc_id""",
    // every rule is an exact integer ratio compared in IEEE doubles —
    // identical booleans both engines, no rounding needed
    "q109_gopher_rules" ->
      """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
               FROM documents),
         w2 AS (SELECT doc_id, w FROM w WHERE w <> ''),
         wf AS (SELECT doc_id, w, count(*) AS c FROM w2 GROUP BY doc_id, w),
         s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
                 CAST(count(*) AS BIGINT) AS n_distinct,
                 CAST(max(c) AS BIGINT) AS top_c,
                 CAST(sum(CASE WHEN w IN ('the','a','and','of','to','in','is','that','for','with')
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_types,
                 CAST(sum(CASE WHEN regexp_matches(w, '[a-z]') THEN c ELSE 0 END) AS BIGINT) AS n_alpha
               FROM wf GROUP BY doc_id),
         d AS (SELECT doc_id,
                 CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS n_chars
               FROM documents)
         SELECT s.doc_id, s.n_words,
           s.n_words BETWEEN 50 AND 100000 AS r_len,
           (d.n_chars / s.n_words >= 3.0 AND d.n_chars / s.n_words <= 10.0) AS r_word_len,
           s.n_alpha * 1.0 / s.n_words >= 0.8 AS r_alpha,
           s.n_stop_types >= 2 AS r_stopwords,
           (1.0 - s.n_distinct * 1.0 / s.n_words) <= 0.5 AS r_dup_words,
           s.top_c * 1.0 / s.n_words <= 0.1 AS r_top_word,
           (s.n_words BETWEEN 50 AND 100000
            AND d.n_chars / s.n_words >= 3.0 AND d.n_chars / s.n_words <= 10.0
            AND s.n_alpha * 1.0 / s.n_words >= 0.8
            AND s.n_stop_types >= 2
            AND (1.0 - s.n_distinct * 1.0 / s.n_words) <= 0.5
            AND s.top_c * 1.0 / s.n_words <= 0.1) AS pass
         FROM s JOIN d USING (doc_id) ORDER BY s.doc_id""",
    // probabilities are exact count ratios; ln/sums carry the usual
    // sub-ulp float noise, absorbed by the 1e-6 floor-rounding
    "q110_corpus_drift" ->
      """WITH w AS (SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
               FROM documents WHERE source IN ('src0', 'src1')),
         w2 AS (SELECT source, w FROM w WHERE w <> ''),
         da AS (SELECT w, count(*) AS c FROM w2 WHERE source = 'src0' GROUP BY w),
         db AS (SELECT w, count(*) AS c FROM w2 WHERE source = 'src1' GROUP BY w),
         pa AS (SELECT w, c * 1.0 / CAST((SELECT sum(c) FROM da) AS DOUBLE) AS pa FROM da),
         pb AS (SELECT w, c * 1.0 / CAST((SELECT sum(c) FROM db) AS DOUBLE) AS pb FROM db),
         j AS (SELECT w, coalesce(pa, 0.0) AS pa, coalesce(pb, 0.0) AS pb
               FROM pa FULL OUTER JOIN pb USING (w)),
         t AS (SELECT w, pa, pb,
                 (CASE WHEN pa > 0.0 THEN pa * ln(pa / ((pa + pb) / 2.0)) ELSE 0.0 END
                  + CASE WHEN pb > 0.0 THEN pb * ln(pb / ((pa + pb) / 2.0)) ELSE 0.0 END) / 2.0 AS contrib
               FROM j),
         js AS (SELECT floor(sum(contrib) * 1000000.0 + 0.5) / 1000000.0 AS js FROM t)
         SELECT t.w AS word,
           floor(t.pa * 1000000.0 + 0.5) / 1000000.0 AS p_a,
           floor(t.pb * 1000000.0 + 0.5) / 1000000.0 AS p_b,
           floor(abs(t.pa - t.pb) * 1000000.0 + 0.5) / 1000000.0 AS abs_diff,
           js.js AS js_divergence
         FROM t, js ORDER BY abs_diff DESC, word ASC LIMIT 10""",
    // identical block/sort/window logic both sides — SNM's windowed
    // recall restriction is part of the contract, not a silent loss
    "q111_sorted_neighborhood" ->
      """WITH d AS (SELECT doc_id,
             list_sort(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS ws
           FROM documents),
         k AS (SELECT doc_id, ws, array_to_string(ws, ' ') AS key FROM d
               WHERE array_to_string(ws, ' ') <> ''),
         r AS (SELECT doc_id, ws, key, split_part(key, ' ', 1) AS blk,
                 row_number() OVER (PARTITION BY split_part(key, ' ', 1)
                   ORDER BY key, doc_id) AS rk
               FROM k),
         p AS (SELECT r1.doc_id AS a, r2.doc_id AS b,
                 floor(len(list_intersect(r1.ws, r2.ws)) * 1.0 /
                   len(list_distinct(list_concat(r1.ws, r2.ws))) * 10000.0 + 0.5)
                   / 10000.0 AS jaccard
               FROM r r1 JOIN r r2
                 ON r1.blk = r2.blk AND r2.rk - r1.rk BETWEEN 1 AND 2)
         SELECT a, b, jaccard FROM p WHERE jaccard >= 0.8 ORDER BY a, b""",
    // grid = types x generate_series over the observed day span; sparse
    // daily aggregate left-joins in, zeros where nothing happened
    "q113_gap_fill" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total_value
           FROM events GROUP BY event_type, CAST(ts AS DATE)),
         b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
         g AS (SELECT t.event_type, dd.day
               FROM (SELECT DISTINCT event_type FROM d) t,
                    (SELECT unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY))::DATE AS day
                     FROM b) dd)
         SELECT g.event_type, strftime(g.day, '%Y-%m-%d') AS day,
           coalesce(d.n, 0) AS n, coalesce(d.total_value, 0.0) AS total_value
         FROM g LEFT JOIN d ON g.event_type = d.event_type AND g.day = d.day
         ORDER BY g.event_type, day""",
    // whole-second ordering + event_id tiebreak (q35's convention);
    // last_value IGNORE NULLS over the running frame is LOCF in both
    "q114_forward_fill" ->
      """WITH e AS (SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS tss, event_type,
             CASE WHEN event_type = 'purchase' THEN round(value, 2) END AS pv
           FROM events)
         SELECT event_id, user_id, tss, event_type,
           last_value(pv IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY tss, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
         FROM e ORDER BY event_id""",
    // exact semantics of q92 — the Bloom prefilter only prunes lake rows
    // provably absent from the batch, so the oracle is q92's
    "q115_bloom_prefilter" ->
      """WITH c AS (SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS cut FROM documents),
         f AS (SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp
         FROM documents),
         lake AS (SELECT DISTINCT fp FROM f, c WHERE f.doc_id <= c.cut),
         batch AS (SELECT f.doc_id, f.fp FROM f, c WHERE f.doc_id > c.cut),
         fresh AS (SELECT * FROM batch WHERE fp NOT IN (SELECT fp FROM lake)),
         r AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk FROM fresh)
         SELECT doc_id, fp FROM r WHERE rk = 1 ORDER BY doc_id""",
    // word-5-gram positions duplicated anywhere in the corpus, merged
    // per doc into maximal spans (starts p<q touch iff q-p <= 5);
    // integer arithmetic end to end
    "q116_dup_spans" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         p AS (SELECT doc_id,
                 unnest(generate_series(1, len(ws)-4)) AS pos,
                 unnest([array_to_string(ws[i:i+4], ' ') for i in generate_series(1, len(ws)-4)]) AS s
               FROM w WHERE len(ws) >= 5),
         dup AS (SELECT s FROM p GROUP BY s HAVING count(*) >= 2),
         m AS (SELECT p.doc_id, p.pos FROM p JOIN dup USING (s)),
         b AS (SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
                      THEN 0 ELSE 1 END AS brk
               FROM m),
         i AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM b)
         SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end,
           CAST(count(*) AS BIGINT) AS n_shingles
         FROM i GROUP BY doc_id, island ORDER BY doc_id, span_start""",
    // q116's spans re-applied: drop covered word positions, reassemble
    // the survivors in order, report salvage accounting
    "q117_span_removal" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         p AS (SELECT doc_id,
                 unnest(generate_series(1, len(ws)-4)) AS pos,
                 unnest([array_to_string(ws[i:i+4], ' ') for i in generate_series(1, len(ws)-4)]) AS s
               FROM w WHERE len(ws) >= 5),
         dup AS (SELECT s FROM p GROUP BY s HAVING count(*) >= 2),
         m AS (SELECT p.doc_id, p.pos FROM p JOIN dup USING (s)),
         b AS (SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
                      THEN 0 ELSE 1 END AS brk
               FROM m),
         i AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM b),
         spans AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end
                   FROM i GROUP BY doc_id, island),
         words AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos,
                     unnest(ws) AS word FROM w),
         cov AS (SELECT wd.doc_id, wd.pos, wd.word,
                  EXISTS (SELECT 1 FROM spans s WHERE s.doc_id = wd.doc_id
                          AND wd.pos BETWEEN s.span_start AND s.span_end) AS covered
                 FROM words wd)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           coalesce(string_agg(CASE WHEN NOT covered THEN word END, ' ' ORDER BY pos), '') AS kept_text
         FROM cov GROUP BY doc_id HAVING n_dropped > 0 ORDER BY doc_id""",
    // seeded md5 order makes the exact-k stratified sample reproducible
    // row-by-row in both engines
    "q118_stratified_sample" ->
      """WITH c AS (SELECT doc_id, source,
             md5('strat9:' || CAST(doc_id AS VARCHAR)) AS coin FROM documents),
         r AS (SELECT source, doc_id,
             CAST(row_number() OVER (PARTITION BY source ORDER BY coin, doc_id) AS INT) AS rk
           FROM c)
         SELECT source, rk, doc_id FROM r WHERE rk <= 40 ORDER BY source, rk""",
    // unkeyed interval join: the bucketization is invisible to the
    // result, so the oracle is the plain non-equi containment join;
    // whole-second tss (q114's convention), [start, end) windows
    "q119_interval_join" ->
      """WITH e AS (SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS tss, event_type, value
           FROM events),
         w AS (SELECT event_id AS window_id, tss - 1800 AS w_start, tss + 1800 AS w_end
               FROM e WHERE event_type = 'purchase'
               ORDER BY value DESC, event_id ASC LIMIT 5)
         SELECT w.window_id, w.w_start, w.w_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
           round(sum(e.value), 2) AS total_value
         FROM w JOIN e ON e.tss >= w.w_start AND e.tss < w.w_end
         GROUP BY w.window_id, w.w_start, w.w_end
         ORDER BY window_id""",
    // three unrolled Lloyd rounds with the Scala side's exact rounding
    // discipline: 6 dp squared-L2 before each argmin (ties on cl), 9 dp
    // centroid components after each update — identical assignment
    // sequence in both engines, so the hash-match is exact
    "q121_kmeans" ->
      """WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         seeds AS (SELECT CAST(row_number() OVER (ORDER BY id) AS INT) - 1 AS cl, vec AS centroid
                   FROM (SELECT id, vec FROM v ORDER BY id LIMIT 8) s),
         d1 AS (SELECT v.id, v.vec, c.cl,
                 floor((list_dot_product(v.vec, v.vec) - 2*list_dot_product(v.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, seeds c),
         a1 AS (SELECT id, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM d1) t
                WHERE rk = 1),
         c1 AS (SELECT cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT cl, unnest(vec) AS x, unnest(generate_series(1, len(vec))) AS pos FROM a1) u
                  GROUP BY cl, pos) g GROUP BY cl),
         d2_ AS (SELECT v.id, v.vec, c.cl,
                 floor((list_dot_product(v.vec, v.vec) - 2*list_dot_product(v.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, c1 c),
         a2 AS (SELECT id, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM d2_) t
                WHERE rk = 1),
         c2 AS (SELECT cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT cl, unnest(vec) AS x, unnest(generate_series(1, len(vec))) AS pos FROM a2) u
                  GROUP BY cl, pos) g GROUP BY cl),
         d3 AS (SELECT v.id, v.vec, c.cl,
                 floor((list_dot_product(v.vec, v.vec) - 2*list_dot_product(v.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, c2 c),
         a3 AS (SELECT id, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM d3) t
                WHERE rk = 1),
         c3 AS (SELECT cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT cl, unnest(vec) AS x, unnest(generate_series(1, len(vec))) AS pos FROM a3) u
                  GROUP BY cl, pos) g GROUP BY cl),
         df_ AS (SELECT v.id, c.cl,
                 floor((list_dot_product(v.vec, v.vec) - 2*list_dot_product(v.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, c3 c),
         af AS (SELECT id, cl, d2 FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM df_) t
                WHERE rk = 1)
         SELECT cl, CAST(count(*) AS BIGINT) AS n_vecs, round(sum(d2), 4) AS inertia
         FROM af GROUP BY cl ORDER BY cl""",
    // integer-exact scaled CUSUM: S_d = D*cumsum_d - d*T, peak |S| wins
    // (earliest day on ties) — BIGINT end to end
    "q122_changepoint" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY event_type, CAST(ts AS DATE)),
         scored AS (SELECT event_type, day,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS d_idx,
             sum(c) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
             sum(c) OVER (PARTITION BY event_type) AS total
           FROM daily),
         s AS (SELECT event_type, day, n_days, total,
             n_days * cum - d_idx * total AS sv
           FROM scored),
         r AS (SELECT *, row_number() OVER (PARTITION BY event_type
               ORDER BY abs(sv) DESC, day ASC) AS rk FROM s)
         SELECT event_type, strftime(day, '%Y-%m-%d') AS cp_day,
           CAST(abs(sv) AS BIGINT) AS peak_scaled_cusum,
           n_days, CAST(total AS BIGINT) AS total
         FROM r WHERE rk = 1 ORDER BY event_type""",
    // SCD2 versioned history: lead() closes each validity range, the
    // open row carries a null valid_to and the current flag
    "q123_scd2" ->
      """WITH p AS (SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS tss, round(value, 2) AS value
           FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY tss, event_id) AS INT) AS version,
             value, tss AS valid_from,
             lead(tss) OVER (PARTITION BY user_id ORDER BY tss, event_id) AS valid_to
           FROM p)
         SELECT user_id, version, value, valid_from, valid_to,
           valid_to IS NULL AS is_current
         FROM v ORDER BY user_id, version""",
    // q121's kmeans CTE chain spliced into q29's probe chain: the
    // corpus labels are the LEARNED final assignment, then probe 2 of 8
    // and exact-cosine the probed clusters' members
    "q124_ivf_e2e" ->
      """WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         seeds AS (SELECT CAST(row_number() OVER (ORDER BY id) AS INT) - 1 AS cl, vec AS centroid
                   FROM (SELECT id, vec FROM v ORDER BY id LIMIT 8) s),
         d1 AS (SELECT v.id, v.vec, c.cl,
                 floor((list_dot_product(v.vec, v.vec) - 2*list_dot_product(v.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, seeds c),
         a1 AS (SELECT id, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM d1) t
                WHERE rk = 1),
         c1 AS (SELECT cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT cl, unnest(vec) AS x, unnest(generate_series(1, len(vec))) AS pos FROM a1) u
                  GROUP BY cl, pos) g GROUP BY cl),
         d2_ AS (SELECT v.id, v.vec, c.cl,
                 floor((list_dot_product(v.vec, v.vec) - 2*list_dot_product(v.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, c1 c),
         a2 AS (SELECT id, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM d2_) t
                WHERE rk = 1),
         c2 AS (SELECT cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT cl, unnest(vec) AS x, unnest(generate_series(1, len(vec))) AS pos FROM a2) u
                  GROUP BY cl, pos) g GROUP BY cl),
         d3 AS (SELECT v.id, v.vec, c.cl,
                 floor((list_dot_product(v.vec, v.vec) - 2*list_dot_product(v.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, c2 c),
         a3 AS (SELECT id, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM d3) t
                WHERE rk = 1),
         c3 AS (SELECT cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT cl, unnest(vec) AS x, unnest(generate_series(1, len(vec))) AS pos FROM a3) u
                  GROUP BY cl, pos) g GROUP BY cl),
         df_ AS (SELECT v.id, v.vec, c.cl,
                 floor((list_dot_product(v.vec, v.vec) - 2*list_dot_product(v.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, c3 c),
         af AS (SELECT id, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM df_) t
                WHERE rk = 1),
         q AS (SELECT id AS qid, vec AS qv FROM af WHERE id < 10),
         c AS (SELECT id AS nid, vec AS cv, cl FROM af WHERE id >= 10),
         ci AS (SELECT cl, unnest(generate_series(1, 64)) AS i, cv FROM c),
         cent AS (SELECT cl, i, avg(cv[i]) AS m FROM ci GROUP BY cl, i),
         centv AS (SELECT cl, list(m ORDER BY i) AS ce FROM cent GROUP BY cl),
         probe AS (SELECT qid, cl, qv FROM (
             SELECT q.qid, centv.cl, q.qv,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 round(list_dot_product(q.qv, centv.ce) /
                   (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(centv.ce, centv.ce))), 4) DESC,
                 centv.cl ASC) AS pr
             FROM q, centv) p WHERE pr <= 2),
         s AS (SELECT probe.qid, c.nid,
             round(list_dot_product(probe.qv, c.cv) /
               (sqrt(list_dot_product(probe.qv, probe.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 4) AS score
           FROM probe JOIN c ON c.cl = probe.cl),
         r AS (SELECT qid, nid, score,
                 row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank FROM s)
         SELECT qid AS query_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, score
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    // q104's shared-line edge graph + 3 unrolled PageRank rounds; all
    // float ops CAST to DOUBLE (DuckDB decimal literals would otherwise
    // diverge from Spark's double arithmetic), ranks rounded to 9 dp
    // after each update — the same discipline as q121's kmeans
    "q125_pagerank" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents),
         l AS (SELECT DISTINCT doc_id, array_to_string(ws[5*i+1 : 5*i+5], ' ') AS line
               FROM (SELECT doc_id, ws, unnest(generate_series(0,
                       CAST(ceil(len(ws)*1.0/5) AS INT) - 1)) AS i FROM w) t
               WHERE array_to_string(ws[5*i+1 : 5*i+5], ' ') <> ''),
         df AS (SELECT line, count(*) AS c FROM l GROUP BY line),
         e0 AS (SELECT DISTINCT l1.doc_id AS a, l2.doc_id AS b
                FROM l l1 JOIN l l2 USING (line) JOIN df USING (line)
                WHERE df.c BETWEEN 2 AND 5 AND l1.doc_id < l2.doc_id),
         e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
         deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY a),
         nv AS (SELECT count(*) AS n FROM deg),
         r0 AS (SELECT v, 1.0::DOUBLE / (SELECT n FROM nv) AS pr FROM deg),
         r1 AS (SELECT d.v, floor(((1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nv)
                  + 0.85::DOUBLE * coalesce(i.inflow, 0.0::DOUBLE)) * 1000000000.0 + 0.5) / 1000000000.0 AS pr
                FROM deg d LEFT JOIN (
                  SELECT e.b AS v, sum(r.pr / dd.deg) AS inflow
                  FROM e JOIN r0 r ON r.v = e.a JOIN deg dd ON dd.v = e.a
                  GROUP BY e.b) i ON i.v = d.v),
         r2 AS (SELECT d.v, floor(((1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nv)
                  + 0.85::DOUBLE * coalesce(i.inflow, 0.0::DOUBLE)) * 1000000000.0 + 0.5) / 1000000000.0 AS pr
                FROM deg d LEFT JOIN (
                  SELECT e.b AS v, sum(r.pr / dd.deg) AS inflow
                  FROM e JOIN r1 r ON r.v = e.a JOIN deg dd ON dd.v = e.a
                  GROUP BY e.b) i ON i.v = d.v),
         r3 AS (SELECT d.v, floor(((1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nv)
                  + 0.85::DOUBLE * coalesce(i.inflow, 0.0::DOUBLE)) * 1000000000.0 + 0.5) / 1000000000.0 AS pr
                FROM deg d LEFT JOIN (
                  SELECT e.b AS v, sum(r.pr / dd.deg) AS inflow
                  FROM e JOIN r2 r ON r.v = e.a JOIN deg dd ON dd.v = e.a
                  GROUP BY e.b) i ON i.v = d.v)
         SELECT r3.v AS doc_id, deg.deg, r3.pr
         FROM r3 JOIN deg ON deg.v = r3.v
         ORDER BY r3.pr DESC, doc_id ASC LIMIT 20""",
    // overlapping-window snapshots full-outer joined on the key;
    // integer day offsets via `//` (double->int CAST rounds in DuckDB)
    "q126_snapshot_diff" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
         b AS (SELECT min(day) AS d0, max(day) AS d1,
                 date_diff('day', min(day), max(day)) AS span FROM e),
         sa AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_a,
                  CAST(count(DISTINCT day) AS BIGINT) AS days_a
                FROM e, b WHERE day <= d0 + CAST((span * 4) // 5 AS INTEGER) GROUP BY user_id),
         sb AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_b,
                  CAST(count(DISTINCT day) AS BIGINT) AS days_b
                FROM e, b WHERE day >= d0 + CAST(span // 5 AS INTEGER) GROUP BY user_id)
         SELECT coalesce(sa.user_id, sb.user_id) AS user_id,
           CASE WHEN sa.user_id IS NULL THEN 'added'
                WHEN sb.user_id IS NULL THEN 'removed'
                WHEN sa.n_a = sb.n_b AND sa.days_a = sb.days_b THEN 'unchanged'
                ELSE 'changed' END AS status,
           coalesce(sa.n_a, 0) AS n_a, coalesce(sb.n_b, 0) AS n_b
         FROM sa FULL OUTER JOIN sb ON sa.user_id = sb.user_id
         ORDER BY user_id""",
    // percent_rank over the 4dp-rounded q16 quality, per source; the
    // only float op past the rounded score is (rank-1)/(n-1), at 6 dp
    "q127_quality_normalize" ->
      """WITH s AS (SELECT doc_id, source,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS DOUBLE) AS n_words,
           CAST(length(regexp_replace(text, '[^!?.,;:]', '', 'g')) AS DOUBLE) AS n_punct,
           CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|a|is|that)\b')) AS DOUBLE) AS n_stop
         FROM documents),
         q AS (SELECT doc_id, source, floor((
           least(n_chars / 500.0, 1.0)
           + (1.0 - least(n_punct / greatest(n_words, 1.0) * 2.0, 1.0))
           + least(n_stop / greatest(n_words, 1.0) * 5.0, 1.0)
           + CASE WHEN n_chars / greatest(n_words, 1.0) >= 3.0
                   AND n_chars / greatest(n_words, 1.0) <= 10.0 THEN 1.0 ELSE 0.5 END
           ) / 4.0 * 10000.0 + 0.5) / 10000.0 AS quality
         FROM s)
         SELECT doc_id, source, quality,
           round(percent_rank() OVER (PARTITION BY source ORDER BY quality ASC), 6) AS pctl
         FROM q ORDER BY doc_id""",
    // one row per contract check: uniqueness, nulls, FK integrity,
    // domain sanity — integer violation counts
    "q128_data_contract" ->
      """WITH checks AS (
           SELECT 'customer' AS table_name, 'unique_c_custkey' AS check_name,
             CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) AS n_violations FROM customer
           UNION ALL SELECT 'customer', 'nonneg_acctbal_nulls',
             CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer
           UNION ALL SELECT 'orders', 'unique_o_orderkey',
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
           UNION ALL SELECT 'orders', 'positive_totalprice',
             CAST(sum(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) FROM orders
           UNION ALL SELECT 'lineitem', 'positive_quantity',
             CAST(sum(CASE WHEN l_quantity <= 0.0 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
           UNION ALL SELECT 'lineitem', 'discount_in_unit_range',
             CAST(sum(CASE WHEN l_discount < 0.0 OR l_discount > 1.0 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
           UNION ALL SELECT 'documents', 'unique_doc_id',
             CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) FROM documents
           UNION ALL SELECT 'documents', 'nonempty_text',
             CAST(sum(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 1 ELSE 0 END) AS BIGINT) FROM documents
           UNION ALL SELECT 'orders', 'fk_o_custkey_customer',
             CAST(count(*) AS BIGINT) FROM orders
             WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
           UNION ALL SELECT 'lineitem', 'fk_l_orderkey_orders',
             CAST(count(*) AS BIGINT) FROM lineitem
             WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
         SELECT table_name, check_name, n_violations, n_violations = 0 AS pass
         FROM checks ORDER BY table_name, check_name""",
    // int8 quantization: scale = max|x|/127, components floor(x/s+0.5)
    // (half-up in both engines; round() is half-even); the quantized
    // dot product is integer-exact, only the scale products are float
    "q129_int8_ann" ->
      """WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         qz AS (SELECT vec_id, list_max(list_transform(v, x -> abs(x))) / 127.0 AS s, v FROM raw),
         qq AS (SELECT vec_id, s,
                 CASE WHEN s = 0 THEN list_transform(v, x -> 0.0::DOUBLE)
                      ELSE list_transform(v, x -> floor(x / s + 0.5)) END AS qv
                FROM qz),
         q AS (SELECT vec_id AS qid, qv AS qa, s AS sa FROM qq WHERE vec_id < 10),
         c AS (SELECT vec_id AS nid, qv AS qb, s AS sb FROM qq WHERE vec_id >= 10),
         sc AS (SELECT qid, nid,
                 floor(list_dot_product(qa, qb) * sa * sb * 10000.0 + 0.5) / 10000.0 AS qscore FROM q, c),
         r AS (SELECT qid, nid, qscore,
                 row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, nid ASC) AS rank
               FROM sc)
         SELECT qid AS query_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, qscore
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    // stage 1 = q129's quantized scoring, shortlist 20; stage 2 = exact
    // cosine over ONLY the shortlist, re-ranked to top-5
    "q130_two_stage" ->
      """WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         qz AS (SELECT vec_id, list_max(list_transform(v, x -> abs(x))) / 127.0 AS s, v FROM raw),
         qq AS (SELECT vec_id, s, v,
                 CASE WHEN s = 0 THEN list_transform(v, x -> 0.0::DOUBLE)
                      ELSE list_transform(v, x -> floor(x / s + 0.5)) END AS qv
                FROM qz),
         q AS (SELECT vec_id AS qid, qv AS qa, s AS sa, v AS qvf FROM qq WHERE vec_id < 10),
         c AS (SELECT vec_id AS nid, qv AS qb, s AS sb, v AS cvf FROM qq WHERE vec_id >= 10),
         sc AS (SELECT qid, nid,
                 floor(list_dot_product(qa, qb) * sa * sb * 10000.0 + 0.5) / 10000.0 AS qscore FROM q, c),
         shortlist AS (SELECT qid, nid FROM (
                 SELECT qid, nid, row_number() OVER (PARTITION BY qid
                   ORDER BY qscore DESC, nid ASC) AS rank FROM sc) t
               WHERE rank <= 20),
         ex AS (SELECT s.qid, s.nid,
                 round(list_dot_product(q.qvf, c.cvf) /
                   (sqrt(list_dot_product(q.qvf, q.qvf)) * sqrt(list_dot_product(c.cvf, c.cvf))), 4) AS score
                FROM shortlist s JOIN q ON q.qid = s.qid JOIN c ON c.nid = s.nid),
         r AS (SELECT qid, nid, score,
                 row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank
               FROM ex)
         SELECT qid AS query_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, score
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    // q35's sessionization + two leads inside each session = every
    // consecutive 3-step path; global count, top-10
    "q131_event_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS tss FROM events),
         s AS (SELECT *, CASE WHEN prev IS NULL OR tss - prev > 1800 THEN 1 ELSE 0 END AS ns
               FROM (SELECT *, lag(tss) OVER (PARTITION BY user_id ORDER BY tss, event_id) AS prev
                     FROM e) t),
         g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY tss, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM s),
         p AS (SELECT event_type || '>' || lead(event_type, 1) OVER w
                 || '>' || lead(event_type, 2) OVER w AS path,
                 lead(event_type, 2) OVER w AS s3
               FROM g WINDOW w AS (PARTITION BY user_id, session_id ORDER BY tss, event_id))
         SELECT path, CAST(count(*) AS BIGINT) AS n FROM p WHERE s3 IS NOT NULL
         GROUP BY path ORDER BY n DESC, path ASC LIMIT 10""",
    // integer-rank quartiles (value at rank ceil(p*n)) — interpolation
    // formulas are where engines diverge, rank selection cannot
    "q132_iqr_outliers" ->
      """WITH r AS (SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM events),
         q AS (SELECT event_type,
             max(CASE WHEN rn = CAST(ceil(n * 0.25::DOUBLE) AS BIGINT) THEN value END) AS q1,
             max(CASE WHEN rn = CAST(ceil(n * 0.75::DOUBLE) AS BIGINT) THEN value END) AS q3,
             CAST(max(n) AS BIGINT) AS n_events
           FROM r GROUP BY event_type)
         SELECT r.event_type, q.n_events, round(q.q1, 4) AS q1, round(q.q3, 4) AS q3,
           CAST(sum(CASE WHEN r.value < q.q1 - 1.5*(q.q3 - q.q1)
                          OR r.value > q.q3 + 1.5*(q.q3 - q.q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM r JOIN q USING (event_type)
         GROUP BY r.event_type, q.n_events, q.q1, q.q3
         ORDER BY event_type""",
    // the exact deterministic q91 sample per source + ceil-division
    // epoch count; integer arithmetic to the last step
    "q133_token_budget" ->
      """WITH d AS (SELECT source,
             CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS BIGINT) AS n_tokens,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) AS INTEGER) AS bucket,
             CASE source WHEN 'src0' THEN 16 WHEN 'src1' THEN 12
                         WHEN 'src2' THEN 8 WHEN 'src3' THEN 4 ELSE 2 END AS rate
           FROM documents)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens,
           CAST(sum(CASE WHEN bucket < rate THEN n_tokens ELSE 0 END) AS BIGINT) AS epoch_tokens,
           CASE WHEN sum(CASE WHEN bucket < rate THEN n_tokens ELSE 0 END) = 0 THEN NULL
                ELSE CAST(ceil(1000000.0::DOUBLE / sum(CASE WHEN bucket < rate THEN n_tokens ELSE 0 END)) AS BIGINT) END AS epochs_for_1m
         FROM d GROUP BY source ORDER BY source""",
    // the lineage walk's expected report for q3 — pinned literally so a
    // regression in the Catalyst walk turns the row red
    "q134_lineage" ->
      """SELECT * FROM (VALUES
           ('n_items', ''),
           ('n_name', 'nation.n_name'),
           ('revenue', 'lineitem.l_discount'),
           ('revenue', 'lineitem.l_extendedprice'))
         AS t(out_col, src_col)
         ORDER BY out_col, src_col""",
    // q123's history + integer-rank median t + the AS-OF range predicate
    "q135_scd2_asof" ->
      """WITH p AS (SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS tss, round(value, 2) AS value
           FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY tss, event_id) AS INT) AS version,
             value, tss AS valid_from,
             lead(tss) OVER (PARTITION BY user_id ORDER BY tss, event_id) AS valid_to
           FROM p),
         n AS (SELECT count(*) AS n FROM v),
         t AS (SELECT valid_from AS t FROM (
                 SELECT valid_from, row_number() OVER (ORDER BY valid_from, user_id, version) AS rn
                 FROM v) x, n
               WHERE rn = CAST(ceil(n * 0.5::DOUBLE) AS BIGINT))
         SELECT v.user_id, v.version, v.value, v.valid_from, t.t AS as_of
         FROM v, t
         WHERE v.valid_from <= t.t AND (v.valid_to IS NULL OR v.valid_to > t.t)
         ORDER BY user_id""",
    // all four grouping sets in one pass; null keys labeled ALL
    "q136_cube" ->
      """WITH e AS (SELECT event_type, strftime(ts, '%a') AS dow, value FROM events)
         SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(dow, 'ALL') AS dow,
           CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total_value
         FROM e GROUP BY CUBE (event_type, dow)
         ORDER BY event_type, dow""",
    // survivors at day d = users with tenure >= d: reverse cumulative
    // sum over the integer tenure histogram; curve in integer basis
    // points (float-free output contract, q139/q143 discipline)
    "q137_survival" ->
      """WITH t AS (SELECT user_id,
             date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) AS tenure_days
           FROM events GROUP BY user_id),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM t),
         h AS (SELECT CAST(tenure_days AS INT) AS tenure_days,
                 CAST(count(*) AS BIGINT) AS n_ending
               FROM t GROUP BY tenure_days),
         s AS (SELECT h.tenure_days,
                 CAST(n.n_users - coalesce(sum(h.n_ending) OVER (ORDER BY h.tenure_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_surviving,
                 n.n_users FROM h, n)
         SELECT tenure_days, n_surviving,
           CAST(n_surviving * 10000 // n_users AS BIGINT) AS survival_bp
         FROM s ORDER BY tenure_days""",
    // integer minute gaps in power-of-two buckets (exact bit-length
    // log2, q96's rule); bucket -1 = same-minute
    "q138_gap_histogram" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS tss FROM events),
         g AS (SELECT event_type,
                 (tss - lag(tss) OVER (PARTITION BY user_id, event_type
                    ORDER BY tss, event_id)) // 60 AS gap_min
               FROM e),
         b AS (SELECT event_type,
                 CASE WHEN gap_min <= 0 THEN -1
                      ELSE CAST(length(bin(gap_min)) - 1 AS INT) END AS bucket
               FROM g WHERE gap_min IS NOT NULL)
         SELECT event_type, CAST(bucket AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_gaps
         FROM b GROUP BY event_type, bucket ORDER BY event_type, bucket""",
    // exact-fingerprint pairs vs q111's sorted-neighborhood pairs:
    // cardinalities, overlap, and integer basis-point pair-set Jaccard
    "q139_regime_agreement" ->
      """WITH f AS (SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp
           FROM documents),
         ep AS (SELECT x.doc_id AS a, y.doc_id AS b
                FROM f x JOIN f y ON x.fp = y.fp AND x.doc_id < y.doc_id),
         d AS (SELECT doc_id,
             list_sort(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS ws
           FROM documents),
         k AS (SELECT doc_id, ws, array_to_string(ws, ' ') AS key FROM d
               WHERE array_to_string(ws, ' ') <> ''),
         r AS (SELECT doc_id, ws, key, split_part(key, ' ', 1) AS blk,
                 row_number() OVER (PARTITION BY split_part(key, ' ', 1)
                   ORDER BY key, doc_id) AS rk
               FROM k),
         sp AS (SELECT a, b FROM (
                 SELECT r1.doc_id AS a, r2.doc_id AS b,
                   floor(len(list_intersect(r1.ws, r2.ws)) * 1.0 /
                     len(list_distinct(list_concat(r1.ws, r2.ws))) * 10000.0 + 0.5)
                     / 10000.0 AS jaccard
                 FROM r r1 JOIN r r2
                   ON r1.blk = r2.blk AND r2.rk - r1.rk BETWEEN 1 AND 2) t
                WHERE jaccard >= 0.8),
         bth AS (SELECT ep.a, ep.b FROM ep JOIN sp ON ep.a = sp.a AND ep.b = sp.b),
         c AS (SELECT (SELECT count(*) FROM ep) AS ne,
                      (SELECT count(*) FROM sp) AS ns,
                      (SELECT count(*) FROM bth) AS nb)
         SELECT metric, CAST(n AS BIGINT) AS n FROM (
           SELECT 'both' AS metric, nb AS n FROM c
           UNION ALL SELECT 'exact_only', ne - nb FROM c
           UNION ALL SELECT 'exact_pairs', ne FROM c
           UNION ALL SELECT 'snm_only', ns - nb FROM c
           UNION ALL SELECT 'snm_pairs', ns FROM c
           UNION ALL SELECT 'agreement_bp',
             CASE WHEN ne + ns - nb = 0 THEN 0
                  ELSE nb * 10000 // (ne + ns - nb) END FROM c) u
         ORDER BY metric""",
    // lateness vs the running event-time frontier in ingest (event_id)
    // order; integer minutes and basis points throughout
    "q140_lateness_audit" ->
      """WITH e AS (SELECT event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS tss FROM events),
         f AS (SELECT event_type,
                 (max(tss) OVER (ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tss) // 60
                   AS late_min
               FROM e)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN late_min > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           CAST(max(late_min) AS BIGINT) AS max_late_min,
           CAST(sum(CASE WHEN late_min <= 60 THEN 1 ELSE 0 END) * 10000
             // count(*) AS BIGINT) AS admitted_1h_bp
         FROM f GROUP BY event_type ORDER BY event_type""",
    // the stub decoder's content hash is a true md5 of the payload
    // bytes, so the dedup THROUGH the decode path is SQL-mirrored
    "q141_media_dedup" ->
      """WITH m AS (SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS media_type,
             md5(text) AS content_hash,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
           FROM documents)
         , g AS (SELECT media_type, content_hash,
             CAST(count(*) AS BIGINT) AS n_copies,
             CAST(sum(n_bytes) AS BIGINT) AS bytes_total
           FROM m GROUP BY media_type, content_hash)
         SELECT media_type,
           CAST(sum(n_copies) AS BIGINT) AS n_items,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
           CAST(sum(bytes_total - bytes_total // n_copies) AS BIGINT) AS bytes_reclaimable
         FROM g GROUP BY media_type ORDER BY media_type""",
    // all four retrieval chains (q28 exact, q29 ivf, q129 int8, q130
    // two-stage) spliced into one audit; recall in integer basis points
    "q142_ann_tradeoff" ->
      """WITH eq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10),
         ec AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings WHERE vec_id >= 10),
         es AS (SELECT qid, nid,
           round(list_dot_product(eq.qv, ec.cv)
             / (sqrt(list_dot_product(eq.qv, eq.qv)) * sqrt(list_dot_product(ec.cv, ec.cv))), 4) AS score
           FROM eq, ec),
         er AS (SELECT qid, nid,
                 row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank
               FROM es),
         ep AS (SELECT qid, nid FROM er WHERE rank <= 5),
         ic AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv, label FROM embeddings WHERE vec_id >= 10),
         ici AS (SELECT label, unnest(generate_series(1, 64)) AS i, cv FROM ic),
         icent AS (SELECT label, i, avg(cv[i]) AS m FROM ici GROUP BY label, i),
         icentv AS (SELECT label, list(m ORDER BY i) AS ce FROM icent GROUP BY label),
         iprobe AS (SELECT qid, label, qv FROM (
             SELECT eq.qid, icentv.label, eq.qv,
               row_number() OVER (PARTITION BY eq.qid ORDER BY
                 round(list_dot_product(eq.qv, icentv.ce) /
                   (sqrt(list_dot_product(eq.qv, eq.qv)) * sqrt(list_dot_product(icentv.ce, icentv.ce))), 4) DESC,
                 icentv.label ASC) AS pr
             FROM eq, icentv) x WHERE pr <= 2),
         isc AS (SELECT iprobe.qid, ic.nid,
             round(list_dot_product(iprobe.qv, ic.cv) /
               (sqrt(list_dot_product(iprobe.qv, iprobe.qv)) * sqrt(list_dot_product(ic.cv, ic.cv))), 4) AS score
           FROM iprobe JOIN ic ON ic.label = iprobe.label),
         ir AS (SELECT qid, nid,
                 row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank FROM isc),
         ip AS (SELECT qid, nid FROM ir WHERE rank <= 5),
         zraw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         zqz AS (SELECT vec_id, list_max(list_transform(v, x -> abs(x))) / 127.0 AS s, v FROM zraw),
         zqq AS (SELECT vec_id, s, v,
                 CASE WHEN s = 0 THEN list_transform(v, x -> 0.0::DOUBLE)
                      ELSE list_transform(v, x -> floor(x / s + 0.5)) END AS qv
                FROM zqz),
         zq AS (SELECT vec_id AS qid, qv AS qa, s AS sa, v AS qvf FROM zqq WHERE vec_id < 10),
         zc AS (SELECT vec_id AS nid, qv AS qb, s AS sb, v AS cvf FROM zqq WHERE vec_id >= 10),
         zsc AS (SELECT qid, nid,
                 floor(list_dot_product(qa, qb) * sa * sb * 10000.0 + 0.5) / 10000.0 AS qscore FROM zq, zc),
         zr AS (SELECT qid, nid,
                 row_number() OVER (PARTITION BY qid ORDER BY qscore DESC, nid ASC) AS rank
               FROM zsc),
         zp AS (SELECT qid, nid FROM zr WHERE rank <= 5),
         tshort AS (SELECT qid, nid FROM zr WHERE rank <= 20),
         tex AS (SELECT s.qid, s.nid,
                 round(list_dot_product(q.qvf, c.cvf) /
                   (sqrt(list_dot_product(q.qvf, q.qvf)) * sqrt(list_dot_product(c.cvf, c.cvf))), 4) AS score
                FROM tshort s JOIN zq q ON q.qid = s.qid JOIN zc c ON c.nid = s.nid),
         tr AS (SELECT qid, nid,
                 row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank FROM tex),
         tp AS (SELECT qid, nid FROM tr WHERE rank <= 5),
         metrics AS (
           SELECT 'exact' AS method,
             (SELECT count(*) FROM ep) AS n_pairs,
             (SELECT count(*) FROM ep) AS n_hits
           UNION ALL SELECT 'int8',
             (SELECT count(*) FROM zp),
             (SELECT count(*) FROM zp JOIN ep ON zp.qid = ep.qid AND zp.nid = ep.nid)
           UNION ALL SELECT 'ivf',
             (SELECT count(*) FROM ip),
             (SELECT count(*) FROM ip JOIN ep ON ip.qid = ep.qid AND ip.nid = ep.nid)
           UNION ALL SELECT 'two_stage',
             (SELECT count(*) FROM tp),
             (SELECT count(*) FROM tp JOIN ep ON tp.qid = ep.qid AND tp.nid = ep.nid))
         SELECT method, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST(CASE WHEN n_pairs = 0 THEN 0
                     ELSE n_hits * 10000 // n_pairs END AS BIGINT) AS recall_bp
         FROM metrics ORDER BY method""",
    // q76's staged-min funnel per md5 arm; a dense step x arm grid so a
    // zero-conversion cell reads as 0, not a missing row
    "q143_ab_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS tss,
             CASE WHEN CAST(concat('0x', substr(md5('ab1:' || CAST(user_id AS VARCHAR)), 1, 1)) AS INTEGER) % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm
           FROM events),
         sz AS (SELECT arm, CAST(count(DISTINCT user_id) AS BIGINT) AS arm_size
                FROM e GROUP BY arm),
         s1 AS (SELECT arm, user_id, min(tss) AS t1 FROM e
                WHERE event_type = 'view' GROUP BY arm, user_id),
         s2 AS (SELECT e.arm, e.user_id, min(e.tss) AS t2 FROM e
                JOIN s1 ON e.user_id = s1.user_id AND e.arm = s1.arm
                WHERE e.event_type = 'click' AND e.tss >= s1.t1
                GROUP BY e.arm, e.user_id),
         s3 AS (SELECT e.arm, e.user_id, min(e.tss) AS t3 FROM e
                JOIN s2 ON e.user_id = s2.user_id AND e.arm = s2.arm
                WHERE e.event_type = 'purchase' AND e.tss >= s2.t2
                GROUP BY e.arm, e.user_id),
         c0 AS (SELECT 'view' AS step, arm, count(*) AS n FROM s1 GROUP BY arm
                UNION ALL SELECT 'click', arm, count(*) FROM s2 GROUP BY arm
                UNION ALL SELECT 'purchase', arm, count(*) FROM s3 GROUP BY arm),
         grid AS (SELECT step, arm FROM (SELECT unnest(['view', 'click', 'purchase']) AS step) s, sz)
         SELECT grid.step, grid.arm,
           CAST(coalesce(c0.n, 0) AS BIGINT) AS n_users,
           sz.arm_size,
           CAST(coalesce(c0.n, 0) * 10000 // sz.arm_size AS BIGINT) AS cvr_bp
         FROM grid
         JOIN sz ON sz.arm = grid.arm
         LEFT JOIN c0 ON c0.step = grid.step AND c0.arm = grid.arm
         ORDER BY grid.step, grid.arm""",
    // dyadic decay credits: value / 2^(rank-1) is an exact power-of-two
    // scaling of the rounded value — no weighted sum, no drift
    "q144_attribution" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS tss, value FROM events),
         p AS (SELECT event_id AS purchase_id, user_id, tss AS p_tss,
                 round(value, 2) AS value
               FROM e WHERE event_type = 'purchase'),
         v AS (SELECT event_id AS view_id, user_id AS v_user, tss AS v_tss
               FROM e WHERE event_type = 'view'),
         j AS (SELECT p.purchase_id, v.view_id, p.value,
                 row_number() OVER (PARTITION BY p.purchase_id
                   ORDER BY v.v_tss DESC, v.view_id ASC) AS touch_rank
               FROM p JOIN v ON p.user_id = v.v_user
                 AND v.v_tss < p.p_tss AND v.v_tss >= p.p_tss - 3600)
         SELECT purchase_id, view_id, CAST(touch_rank AS INT) AS touch_rank,
           round(value / pow(2.0::DOUBLE, touch_rank - 1), 4) AS credit
         FROM j ORDER BY purchase_id, touch_rank""",
    // q121's 3-round kmeans CTE chain (identical rounding discipline),
    // final assignment KEEPS vec; then within-cluster pairwise cosine
    // >= 0.45 and the SemDeDup duel: the member closer to its centroid
    // (smaller 6-dp d2, ties -> larger id) loses. Integer counts only.
    "q146_semantic_dedup" ->
      """WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         seeds AS (SELECT CAST(row_number() OVER (ORDER BY id) AS INT) - 1 AS cl, vec AS centroid
                   FROM (SELECT id, vec FROM v ORDER BY id LIMIT 8) s),
         d1 AS (SELECT v.id, v.vec, c.cl,
                 floor((list_dot_product(v.vec, v.vec) - 2*list_dot_product(v.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, seeds c),
         a1 AS (SELECT id, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM d1) t
                WHERE rk = 1),
         c1 AS (SELECT cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT cl, unnest(vec) AS x, unnest(generate_series(1, len(vec))) AS pos FROM a1) u
                  GROUP BY cl, pos) g GROUP BY cl),
         d2_ AS (SELECT v.id, v.vec, c.cl,
                 floor((list_dot_product(v.vec, v.vec) - 2*list_dot_product(v.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, c1 c),
         a2 AS (SELECT id, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM d2_) t
                WHERE rk = 1),
         c2 AS (SELECT cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT cl, unnest(vec) AS x, unnest(generate_series(1, len(vec))) AS pos FROM a2) u
                  GROUP BY cl, pos) g GROUP BY cl),
         d3 AS (SELECT v.id, v.vec, c.cl,
                 floor((list_dot_product(v.vec, v.vec) - 2*list_dot_product(v.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, c2 c),
         a3 AS (SELECT id, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM d3) t
                WHERE rk = 1),
         c3 AS (SELECT cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT cl, unnest(vec) AS x, unnest(generate_series(1, len(vec))) AS pos FROM a3) u
                  GROUP BY cl, pos) g GROUP BY cl),
         df_ AS (SELECT v.id, v.vec, c.cl,
                 floor((list_dot_product(v.vec, v.vec) - 2*list_dot_product(v.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, c3 c),
         af AS (SELECT id, vec, cl, d2 FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM df_) t
                WHERE rk = 1),
         m AS (SELECT id, vec, cl, d2,
                 sqrt(list_dot_product(vec, vec)) AS nv FROM af),
         p AS (SELECT a.cl AS cl, a.id AS id_a, b.id AS id_b,
                 a.d2 AS d2_a, b.d2 AS d2_b,
                 CASE WHEN a.nv * b.nv = 0 THEN 0.0
                      ELSE round(list_dot_product(a.vec, b.vec) / (a.nv * b.nv), 4) END AS cos
               FROM m a JOIN m b ON a.cl = b.cl AND a.id < b.id),
         d AS (SELECT * FROM p WHERE cos >= 0.45),
         l AS (SELECT DISTINCT cl,
                 CASE WHEN d2_a > d2_b OR (d2_a = d2_b AND id_a < id_b)
                      THEN id_b ELSE id_a END AS id FROM d),
         mem AS (SELECT cl, CAST(count(*) AS BIGINT) AS n_members FROM m GROUP BY cl),
         dp AS (SELECT cl, CAST(count(*) AS BIGINT) AS n_dup_pairs FROM d GROUP BY cl),
         dr AS (SELECT cl, CAST(count(*) AS BIGINT) AS n_dropped FROM l GROUP BY cl)
         SELECT mem.cl, mem.n_members,
           COALESCE(dp.n_dup_pairs, CAST(0 AS BIGINT)) AS n_dup_pairs,
           COALESCE(dr.n_dropped, CAST(0 AS BIGINT)) AS n_dropped
         FROM mem LEFT JOIN dp ON mem.cl = dp.cl LEFT JOIN dr ON mem.cl = dr.cl
         ORDER BY mem.cl""",
    // hashed-unigram target-vs-raw frequency ratio, cross-multiplied in
    // exact integer arithmetic (HUGEINT here, DECIMAL(38,0) in Spark) --
    // no logs, no float division anywhere near the hash
    "q147_dsir_weights" ->
      """WITH w AS (SELECT doc_id, source,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
           FROM documents),
         wb AS (SELECT doc_id, source,
             CAST(concat('0x', substr(md5(w), 1, 4)) AS BIGINT) % 64 AS b
           FROM w),
         model AS (SELECT b,
             CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
             CAST(sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS nq
           FROM wb GROUP BY b),
         t AS (SELECT CAST(sum(nt) + 64 AS HUGEINT) AS st,
                      CAST(sum(nq) + 64 AS HUGEINT) AS sq FROM model),
         pd AS (SELECT doc_id, source, b, CAST(count(*) AS BIGINT) AS c
                FROM wb GROUP BY doc_id, source, b),
         agg AS (SELECT doc_id, source,
             CAST(sum(CAST(c AS HUGEINT) * (nt + 1)) AS HUGEINT) AS num0,
             CAST(sum(CAST(c AS HUGEINT) * (nq + 1)) AS HUGEINT) AS den0,
             CAST(sum(c) AS BIGINT) AS n_words
           FROM pd JOIN model USING (b) GROUP BY doc_id, source)
         SELECT doc_id, source, n_words,
           CAST((10000 * num0 * sq) // (den0 * st) AS BIGINT) AS score_bp
         FROM agg, t
         ORDER BY score_bp DESC, doc_id ASC LIMIT 20""",
    // q103's bigram-LM ppl (identical CTE + 4-dp floor rounding, here
    // kept as the e4 integer), then per-source thirds by (ppl, doc_id)
    // rank — integer boundary math, CCNet's head/middle/tail
    "q148_ccnet_buckets" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
               FROM documents),
         b AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
               FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-1)) AS i
                     FROM w WHERE len(ws) > 1)),
         lm AS (SELECT bg, -ln(count(*) * 1.0 /
                  (sum(count(*)) OVER (PARTITION BY split_part(bg, ' ', 1)))) AS nll
                FROM b GROUP BY bg),
         d AS (SELECT b.doc_id,
                 floor(avg(lm.nll) * 10000.0 + 0.5) / 10000.0 AS avg_nll
               FROM b JOIN lm USING (bg) GROUP BY b.doc_id),
         ppl AS (SELECT doc_id,
                 CAST(floor(floor(exp(avg_nll) * 10000.0 + 0.5) / 10000.0
                            * 10000.0 + 0.5) AS BIGINT) AS ppl_e4
               FROM d),
         docs AS (SELECT doc_id, source,
                 CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS BIGINT) AS n_tokens
               FROM documents),
         r AS (SELECT docs.doc_id, docs.source, docs.n_tokens, ppl.ppl_e4,
                 row_number() OVER (PARTITION BY docs.source
                   ORDER BY ppl.ppl_e4 ASC, docs.doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY docs.source) AS n_src
               FROM docs JOIN ppl USING (doc_id))
         SELECT source,
           CASE WHEN rn * 3 <= n_src THEN 'head'
                WHEN rn * 3 <= n_src * 2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           min(ppl_e4) AS min_ppl_e4, max(ppl_e4) AS max_ppl_e4
         FROM r GROUP BY source, bucket ORDER BY source, bucket""",
    // per-doc DISTINCT 4-gram shingles joined to the DISTINCT
    // (shingle, source) set: docs of src_a sharing any shingle with
    // src_b, counted per ordered pair
    "q149_contamination_matrix" ->
      """WITH w AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents),
         sh AS (SELECT DISTINCT doc_id, source, array_to_string(ws[i:i+3], ' ') AS s
                FROM (SELECT doc_id, source, ws,
                        unnest(generate_series(1, len(ws)-3)) AS i
                      FROM w WHERE len(ws) >= 4)),
         ss AS (SELECT DISTINCT s, source AS src_b FROM sh),
         m AS (SELECT DISTINCT sh.doc_id, sh.source AS src_a, ss.src_b
               FROM sh JOIN ss ON sh.s = ss.s AND sh.source <> ss.src_b)
         SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_docs
         FROM m GROUP BY src_a, src_b ORDER BY src_a, src_b""",
    // q101's generalization grid with the sensitive nation column:
    // per class, size k, distinct sensitive values l, majority share
    // in integer bp; flag l < 3
    "q150_l_diversity" ->
      """WITH g AS (SELECT c_mktsegment AS segment,
             CAST(floor(c_acctbal / 1000.0) * 1000.0 AS BIGINT) AS balance_band,
             c_nationkey
           FROM customer),
         pv AS (SELECT segment, balance_band, c_nationkey,
             CAST(count(*) AS BIGINT) AS c
           FROM g GROUP BY segment, balance_band, c_nationkey)
         SELECT segment, balance_band,
           CAST(sum(c) AS BIGINT) AS k_anon,
           CAST(count(*) AS BIGINT) AS l_div,
           CAST(max(c) * 10000 // sum(c) AS BIGINT) AS majority_bp,
           count(*) < 3 AS flag
         FROM pv GROUP BY segment, balance_band
         ORDER BY segment, balance_band""",
    // UniMax greedy as a recursive CTE: languages by ascending capped
    // capacity; each takes min(cap, rem // langs_left). Pure integers.
    "q151_unimax_mixture" ->
      """WITH RECURSIVE
         ls0 AS (SELECT lang,
             CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END) AS BIGINT) AS n_tokens
           FROM documents GROUP BY lang),
         ls AS (SELECT lang, n_tokens, 1 * n_tokens AS cap,
             CAST(row_number() OVER (ORDER BY 1 * n_tokens, lang) AS BIGINT) AS i,
             CAST(count(*) OVER () AS BIGINT) AS nl
           FROM ls0),
         b AS (SELECT CAST(sum(n_tokens) * 8 // 10 AS BIGINT) AS budget FROM ls0),
         alloc(i, rem, lang, n_tokens, cap, a) AS (
           SELECT CAST(0 AS BIGINT), budget, CAST(NULL AS VARCHAR),
                  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
           FROM b
           UNION ALL
           SELECT ls.i,
             alloc.rem - least(ls.cap, alloc.rem // (ls.nl - ls.i + 1)),
             ls.lang, ls.n_tokens, ls.cap,
             least(ls.cap, alloc.rem // (ls.nl - ls.i + 1))
           FROM alloc JOIN ls ON ls.i = alloc.i + 1)
         SELECT lang, n_tokens, cap AS cap_tokens, a AS alloc_tokens,
           CAST(a * 10000 // n_tokens AS BIGINT) AS epochs_bp,
           a = cap AS capped
         FROM alloc WHERE i > 0 ORDER BY lang""",
    // per-source datasheet: q23's corpus-wide fingerprint, q87's
    // eval-shingle contamination, q16's rounded quality — shares as
    // integer bp over the source's doc count
    "q152_corpus_datasheet" ->
      """WITH base0 AS (SELECT source, doc_id, lang,
             CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS BIGINT) AS t,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS DOUBLE) AS n_words,
             CAST(length(regexp_replace(text, '[^!?.,;:]', '', 'g')) AS DOUBLE) AS n_punct,
             CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|a|is|that)\b')) AS DOUBLE) AS n_stop
           FROM documents),
         base AS (SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(t) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(sum(CASE WHEN floor((
               least(n_chars / 500.0, 1.0)
               + (1.0 - least(n_punct / greatest(n_words, 1.0) * 2.0, 1.0))
               + least(n_stop / greatest(n_words, 1.0) * 5.0, 1.0)
               + CASE WHEN n_chars / greatest(n_words, 1.0) >= 3.0
                       AND n_chars / greatest(n_words, 1.0) <= 10.0 THEN 1.0 ELSE 0.5 END
               ) / 4.0 * 10000.0 + 0.5) / 10000.0 >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
           FROM base0 GROUP BY source),
         f AS (SELECT doc_id, source,
             md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp
           FROM documents),
         dupfp AS (SELECT fp FROM f GROUP BY fp HAVING count(*) >= 2),
         nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_dup
                FROM f JOIN dupfp USING (fp) GROUP BY source),
         w AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         sh AS (SELECT DISTINCT doc_id, source,
                  unnest([array_to_string(ws[i:i+3], ' ') for i in generate_series(1, len(ws)-3)]) AS s
                FROM w WHERE len(ws) >= 4),
         ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
         cont AS (SELECT DISTINCT sh.doc_id, sh.source
                  FROM sh JOIN ev ON sh.s = ev.s WHERE sh.doc_id % 97 <> 0),
         nc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_cont
                FROM cont GROUP BY source)
         SELECT base.source, n_docs, n_tokens,
           CAST(n_tokens // n_docs AS BIGINT) AS mean_tokens, n_langs,
           CAST(coalesce(n_dup, 0) * 10000 // n_docs AS BIGINT) AS dup_bp,
           CAST(coalesce(n_cont, 0) * 10000 // n_docs AS BIGINT) AS contaminated_bp,
           CAST(n_quality * 10000 // n_docs AS BIGINT) AS quality_pass_bp
         FROM base
         LEFT JOIN nd ON base.source = nd.source
         LEFT JOIN nc ON base.source = nc.source
         ORDER BY base.source""",
    // lake compaction grouping: size-desc running-sum binning per source
    // partition over the modulus-derived file manifest
    "q153_compaction_plan" ->
      """WITH manifest AS (
           SELECT source, doc_id % 64 AS file_id, CAST(SUM(n_chars) AS BIGINT) AS bytes
           FROM documents GROUP BY 1, 2),
         cum AS (
           SELECT source, bytes,
             CAST(COALESCE(SUM(bytes) OVER (PARTITION BY source
               ORDER BY bytes DESC, file_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
           FROM manifest)
         SELECT source, CAST(cum_before // 16384 AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS bin_bytes
         FROM cum GROUP BY 1, 2 ORDER BY source, bin""",
    // z-order vs row-major layout quality: per-file min/max spans of the
    // 256x256 (user bucket x epoch-hour bucket) grid; the Morton
    // interleave is the same 16-term shift/mask arithmetic both engines
    // evaluate exactly on BIGINTs
    "q154_zorder_layout" ->
      """WITH coords AS (
           SELECT user_id % 256 AS x,
             ((CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 256) AS y
           FROM events),
         z AS (
           SELECT x, y,
             (((x >> 0) & 1) << 0) + (((y >> 0) & 1) << 1) +
             (((x >> 1) & 1) << 2) + (((y >> 1) & 1) << 3) +
             (((x >> 2) & 1) << 4) + (((y >> 2) & 1) << 5) +
             (((x >> 3) & 1) << 6) + (((y >> 3) & 1) << 7) +
             (((x >> 4) & 1) << 8) + (((y >> 4) & 1) << 9) +
             (((x >> 5) & 1) << 10) + (((y >> 5) & 1) << 11) +
             (((x >> 6) & 1) << 12) + (((y >> 6) & 1) << 13) +
             (((x >> 7) & 1) << 14) + (((y >> 7) & 1) << 15) AS zv
           FROM coords),
         files AS (
           SELECT 'zorder' AS layout, zv // 1024 AS f, x, y FROM z
           UNION ALL
           SELECT 'rowmajor' AS layout, (x * 256 + y) // 1024 AS f, x, y FROM z),
         pf AS (
           SELECT layout, f, MIN(x) AS min_x, MAX(x) AS max_x,
             MIN(y) AS min_y, MAX(y) AS max_y
           FROM files GROUP BY 1, 2)
         SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(max_x - min_x + 1) AS BIGINT) AS sum_x_span,
           CAST(SUM(max_y - min_y + 1) AS BIGINT) AS sum_y_span
         FROM pf GROUP BY layout ORDER BY layout""",
    // shuffle pre-flight: hot-key stats per candidate key, exact integer
    // arithmetic, 4x-mean salting rule (the fix it triggers is q47)
    "q155_skew_report" ->
      """WITH ek AS (SELECT CAST(event_type AS VARCHAR) AS key, COUNT(*) AS cnt
             FROM events GROUP BY 1),
         uk AS (SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS cnt
             FROM events GROUP BY 1),
         stats AS (
           SELECT 'event_type' AS key_col, COUNT(*) AS n_keys,
             SUM(cnt) AS n_rows, MAX(cnt) AS max_cnt FROM ek
           UNION ALL
           SELECT 'user_id', COUNT(*), SUM(cnt), MAX(cnt) FROM uk)
         SELECT key_col, CAST(n_keys AS BIGINT) AS n_keys,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(max_cnt AS BIGINT) AS max_cnt,
           CAST(max_cnt * 10000 // greatest(n_rows, 1) AS BIGINT) AS top_share_bp,
           CAST(max_cnt * 100 // greatest(n_rows // greatest(n_keys, 1), 1) AS BIGINT) AS skew_x100,
           (max_cnt * 100 // greatest(n_rows // greatest(n_keys, 1), 1)) >= 400 AS salt_recommended
         FROM stats ORDER BY key_col""",
    // pre-flight equi-join cardinality from per-key count tables:
    // sum(na*nb) over matching keys, never the join itself
    "q156_join_cardinality" ->
      """WITH j1 AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_matching_keys,
             CAST(COALESCE(SUM(na * nb), 0) AS BIGINT) AS est_rows
           FROM (SELECT o_orderkey AS k, COUNT(*) AS na FROM orders GROUP BY 1) a
           JOIN (SELECT l_orderkey AS k, COUNT(*) AS nb FROM lineitem GROUP BY 1) b USING (k)),
         j2 AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_matching_keys,
             CAST(COALESCE(SUM(na * nb), 0) AS BIGINT) AS est_rows
           FROM (SELECT c_custkey AS k, COUNT(*) AS na FROM customer GROUP BY 1) a
           JOIN (SELECT o_custkey AS k, COUNT(*) AS nb FROM orders GROUP BY 1) b USING (k)),
         j3 AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_matching_keys,
             CAST(COALESCE(SUM(na * nb), 0) AS BIGINT) AS est_rows
           FROM (SELECT user_id AS k, COUNT(*) AS na FROM events
                 WHERE event_type = 'purchase' GROUP BY 1) a
           JOIN (SELECT user_id AS k, COUNT(*) AS nb FROM events
                 WHERE event_type = 'signup' GROUP BY 1) b USING (k))
         SELECT 'customer_orders' AS join_name, n_matching_keys, est_rows FROM j2
         UNION ALL
         SELECT 'orders_lineitem', n_matching_keys, est_rows FROM j1
         UNION ALL
         SELECT 'purchases_signups', n_matching_keys, est_rows FROM j3
         ORDER BY join_name""",
    // PQ ADC top-5: two unrolled Lloyd rounds PER SUBSPACE (q121's
    // rounding discipline — 6 dp argmin, 9 dp recenters, first-k-by-id
    // seeds), codes = final argmin, LUT partials floor(dot*1e7+0.5) as
    // BIGINT so the subspace sum is integer-exact, score = 4 dp halfUp
    "q172_pq_ann" ->
      """WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS fv FROM embeddings),
         ss AS (SELECT unnest(generate_series(0, 3)) AS s),
         sub AS (SELECT id, s, fv[16*s+1 : 16*s+16] AS vec FROM v, ss),
         sd AS (SELECT id, s, vec, row_number() OVER (PARTITION BY s ORDER BY id) AS rn FROM sub),
         seeds AS (SELECT s, CAST(rn - 1 AS INT) AS cl, vec AS centroid FROM sd WHERE rn <= 8),
         d1 AS (SELECT sub.id, sub.s, sub.vec, c.cl,
                 floor((list_dot_product(sub.vec, sub.vec) - 2*list_dot_product(sub.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM sub JOIN seeds c USING (s)),
         a1 AS (SELECT id, s, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id, s ORDER BY d2, cl) AS rk FROM d1) t
                WHERE rk = 1),
         c1 AS (SELECT s, cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT s, cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT s, cl, unnest(vec) AS x, unnest(generate_series(1, len(vec))) AS pos FROM a1) u
                  GROUP BY s, cl, pos) g GROUP BY s, cl),
         d2_ AS (SELECT sub.id, sub.s, sub.vec, c.cl,
                 floor((list_dot_product(sub.vec, sub.vec) - 2*list_dot_product(sub.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM sub JOIN c1 c USING (s)),
         a2 AS (SELECT id, s, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id, s ORDER BY d2, cl) AS rk FROM d2_) t
                WHERE rk = 1),
         c2 AS (SELECT s, cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT s, cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT s, cl, unnest(vec) AS x, unnest(generate_series(1, len(vec))) AS pos FROM a2) u
                  GROUP BY s, cl, pos) g GROUP BY s, cl),
         dc AS (SELECT sub.id, sub.s, c.cl,
                 floor((list_dot_product(sub.vec, sub.vec) - 2*list_dot_product(sub.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM sub JOIN c2 c USING (s) WHERE sub.id >= 10),
         codes AS (SELECT id, s, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id, s ORDER BY d2, cl) AS rk FROM dc) t
                WHERE rk = 1),
         q AS (SELECT id AS qid, s, vec FROM sub WHERE id < 10),
         lut AS (SELECT q.qid, q.s, c2.cl,
                  CAST(floor(list_dot_product(q.vec, c2.centroid) * 10000000.0 + 0.5) AS BIGINT) AS p
                 FROM q JOIN c2 ON c2.s = q.s),
         sc AS (SELECT lut.qid, codes.id AS nid, CAST(sum(lut.p) AS BIGINT) AS t
                FROM codes JOIN lut ON lut.s = codes.s AND lut.cl = codes.cl
                GROUP BY lut.qid, codes.id),
         r AS (SELECT qid, nid, floor(t / 1000.0 + 0.5) / 10000.0 AS qscore,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY floor(t / 1000.0 + 0.5) / 10000.0 DESC, nid ASC) AS rank
               FROM sc)
         SELECT qid AS query_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, qscore
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    // degree-ordered triangle enumeration over q104's shared-line dup
    // graph: orient by (degree, id), wedges from the tail, close
    // against the oriented set; per-vertex participation counts
    "q173_triangle_count" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
               FROM documents),
         l AS (SELECT DISTINCT doc_id, array_to_string(ws[5*i+1 : 5*i+5], ' ') AS line
               FROM (SELECT doc_id, ws, unnest(generate_series(0,
                       CAST(ceil(len(ws)*1.0/5) AS INT) - 1)) AS i FROM w)
               WHERE array_to_string(ws[5*i+1 : 5*i+5], ' ') <> ''),
         df AS (SELECT line, count(*) AS c FROM l GROUP BY line),
         e0 AS (SELECT DISTINCT l1.doc_id AS a, l2.doc_id AS b
                FROM l l1 JOIN l l2 USING (line) JOIN df USING (line)
                WHERE df.c BETWEEN 2 AND 5 AND l1.doc_id < l2.doc_id),
         e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
         deg AS (SELECT a AS v, count(*) AS d FROM e GROUP BY a),
         o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b) THEN e0.a ELSE e0.b END AS u,
                      CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b) THEN e0.b ELSE e0.a END AS w
               FROM e0 JOIN deg da ON da.v = e0.a JOIN deg db ON db.v = e0.b),
         od AS (SELECT o.u, o.w, deg.d AS dw FROM o JOIN deg ON deg.v = o.w),
         wd AS (SELECT a.u AS x, a.w AS y, b.w AS z
                FROM od a JOIN od b ON a.u = b.u
                  AND (a.dw < b.dw OR (a.dw = b.dw AND a.w < b.w))),
         tri AS (SELECT x, y, z FROM wd JOIN o ON o.u = wd.y AND o.w = wd.z)
         SELECT v AS doc_id, CAST(count(*) AS BIGINT) AS n_triangles
         FROM (SELECT x AS v FROM tri UNION ALL SELECT y AS v FROM tri
               UNION ALL SELECT z AS v FROM tri)
         GROUP BY v ORDER BY doc_id""",
    // a-priori pair rules: frequent-item prune before pair generation,
    // metrics from integer counts in a fixed division association,
    // min-confidence on the unrounded ratio
    "q174_assoc_rules" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS basket, p_brand AS item
                FROM lineitem JOIN part ON p_partkey = l_partkey),
         n AS (SELECT count(DISTINCT basket) AS nb FROM bi),
         fi AS (SELECT item, count(*) AS n_item FROM bi GROUP BY item
                -- DOUBLE*DOUBLE: same IEEE product as Spark's
                -- lit(nb * minItemSupport); a DECIMAL threshold here is
                -- exact and disagrees at boundaries (round-10 ADVICE)
                HAVING count(*) >= CAST((SELECT nb FROM n) AS DOUBLE) * CAST(0.05 AS DOUBLE)),
         bif AS (SELECT bi.basket, bi.item FROM bi JOIN fi USING (item)),
         pr AS (SELECT a.item AS x, b.item AS y, count(*) AS n_both
                FROM bif a JOIN bif b ON a.basket = b.basket AND a.item < b.item
                GROUP BY a.item, b.item
                HAVING count(*) >= CAST((SELECT nb FROM n) AS DOUBLE) * CAST(0.022 AS DOUBLE)),
         r0 AS (SELECT x AS antecedent, y AS consequent, n_both FROM pr
                UNION ALL SELECT y, x, n_both FROM pr),
         r AS (SELECT r0.antecedent, r0.consequent, r0.n_both,
                 fa.n_item AS n_a, fc.n_item AS n_c, (SELECT nb FROM n) AS nb
               FROM r0 JOIN fi fa ON fa.item = r0.antecedent
                       JOIN fi fc ON fc.item = r0.consequent)
         SELECT antecedent, consequent, CAST(n_both AS BIGINT) AS n_both,
           floor(CAST(n_both AS DOUBLE) / nb * 1000000.0 + 0.5) / 1000000.0 AS support,
           floor(CAST(n_both AS DOUBLE) / n_a * 1000000.0 + 0.5) / 1000000.0 AS confidence,
           floor(CAST(n_both AS DOUBLE) * nb / (CAST(n_a AS DOUBLE) * n_c) * 1000000.0 + 0.5) / 1000000.0 AS lift
         FROM r
         WHERE CAST(n_both AS DOUBLE) / n_a >= 0.158
         ORDER BY antecedent, consequent""",
    // q172's full ADC chain (same codebooks/LUT/integer-sum math), then
    // shortlist-50 per query and exact-cosine re-rank among the
    // shortlisted float vectors (q130's stage-2 math)
    "q175_pq_two_stage" ->
      """WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS fv FROM embeddings),
         ss AS (SELECT unnest(generate_series(0, 3)) AS s),
         sub AS (SELECT id, s, fv[16*s+1 : 16*s+16] AS vec FROM v, ss),
         sd AS (SELECT id, s, vec, row_number() OVER (PARTITION BY s ORDER BY id) AS rn FROM sub),
         seeds AS (SELECT s, CAST(rn - 1 AS INT) AS cl, vec AS centroid FROM sd WHERE rn <= 8),
         d1 AS (SELECT sub.id, sub.s, sub.vec, c.cl,
                 floor((list_dot_product(sub.vec, sub.vec) - 2*list_dot_product(sub.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM sub JOIN seeds c USING (s)),
         a1 AS (SELECT id, s, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id, s ORDER BY d2, cl) AS rk FROM d1) t
                WHERE rk = 1),
         c1 AS (SELECT s, cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT s, cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT s, cl, unnest(vec) AS x, unnest(generate_series(1, len(vec))) AS pos FROM a1) u
                  GROUP BY s, cl, pos) g GROUP BY s, cl),
         d2_ AS (SELECT sub.id, sub.s, sub.vec, c.cl,
                 floor((list_dot_product(sub.vec, sub.vec) - 2*list_dot_product(sub.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM sub JOIN c1 c USING (s)),
         a2 AS (SELECT id, s, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id, s ORDER BY d2, cl) AS rk FROM d2_) t
                WHERE rk = 1),
         c2 AS (SELECT s, cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT s, cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT s, cl, unnest(vec) AS x, unnest(generate_series(1, len(vec))) AS pos FROM a2) u
                  GROUP BY s, cl, pos) g GROUP BY s, cl),
         dc AS (SELECT sub.id, sub.s, c.cl,
                 floor((list_dot_product(sub.vec, sub.vec) - 2*list_dot_product(sub.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM sub JOIN c2 c USING (s) WHERE sub.id >= 10),
         codes AS (SELECT id, s, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id, s ORDER BY d2, cl) AS rk FROM dc) t
                WHERE rk = 1),
         q AS (SELECT id AS qid, s, vec FROM sub WHERE id < 10),
         lut AS (SELECT q.qid, q.s, c2.cl,
                  CAST(floor(list_dot_product(q.vec, c2.centroid) * 10000000.0 + 0.5) AS BIGINT) AS p
                 FROM q JOIN c2 ON c2.s = q.s),
         sc AS (SELECT lut.qid, codes.id AS nid, CAST(sum(lut.p) AS BIGINT) AS t
                FROM codes JOIN lut ON lut.s = codes.s AND lut.cl = codes.cl
                GROUP BY lut.qid, codes.id),
         sl AS (SELECT qid, nid FROM (
                 SELECT qid, nid, row_number() OVER (PARTITION BY qid
                   ORDER BY floor(t / 1000.0 + 0.5) / 10000.0 DESC, nid ASC) AS rk FROM sc) t2
               WHERE rk <= 50),
         ex AS (SELECT sl.qid, sl.nid,
                 round(list_dot_product(qv.fv, cv.fv) /
                   (sqrt(list_dot_product(qv.fv, qv.fv)) * sqrt(list_dot_product(cv.fv, cv.fv))), 4) AS score
                FROM sl JOIN v qv ON qv.id = sl.qid JOIN v cv ON cv.id = sl.nid),
         r AS (SELECT qid, nid, score,
                 row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank
               FROM ex)
         SELECT qid AS query_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, score
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    // q176: TF-weighted 3-gram Jaccard over the df≤64-capped gram space;
    // all-integer until the final 4-dp ratio
    "q176_weighted_jaccard" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         g AS (SELECT doc_id, unnest(CASE WHEN len(ws) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        for i in generate_series(1, len(ws)-2)] END) AS gr
               FROM w),
         tf AS (SELECT doc_id, gr, CAST(count(*) AS BIGINT) AS tf FROM g GROUP BY 1, 2),
         keep AS (SELECT gr FROM tf GROUP BY gr HAVING count(*) <= 64),
         c AS (SELECT tf.doc_id, tf.gr, tf.tf FROM tf JOIN keep USING (gr)),
         tot AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tot FROM c GROUP BY 1),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS smin
                FROM c a JOIN c b USING (gr) WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2),
         r AS (SELECT pr.doc_a, pr.doc_b, pr.smin,
                 round(CAST(pr.smin AS DOUBLE) /
                   CAST(ta.tot + tb.tot - pr.smin AS DOUBLE), 4) AS wjacc
               FROM pr JOIN tot ta ON ta.doc_id = pr.doc_a
                       JOIN tot tb ON tb.doc_id = pr.doc_b)
         SELECT doc_a, doc_b, smin, wjacc FROM r WHERE wjacc >= 0.5
         ORDER BY doc_a, doc_b""",
    // q177: per-source Zipf least squares on 6-dp-scaled integer ln
    // values; slope/intercept evaluated with the same double expression
    // tree as the Spark side (casts FIRST — integer n*sxy overflows)
    "q177_zipf_fit" ->
      """WITH tok AS (SELECT source, unnest(regexp_extract_all(text, '\S+')) AS w FROM documents),
         c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
         r AS (SELECT source, c,
                 row_number() OVER (PARTITION BY source ORDER BY c DESC, w ASC) AS rank
               FROM c),
         p AS (SELECT source,
                 CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS x,
                 CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS y
               FROM r WHERE rank <= 200),
         s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_ranked,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
               FROM p GROUP BY 1),
         f AS (SELECT source, n_ranked,
                 (CAST(n_ranked AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n_ranked AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_raw,
                 sx, sy
               FROM s)
         SELECT source, n_ranked,
           floor(slope_raw * 1000000.0 + 0.5) / 1000000.0 AS slope,
           floor((CAST(sy AS DOUBLE) / CAST(n_ranked AS DOUBLE)
                  - slope_raw * CAST(sx AS DOUBLE) / CAST(n_ranked AS DOUBLE)) / 1000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS intercept
         FROM f ORDER BY source""",
    // q178: one DoReMi-style reweight step — per-token KL contributions
    // as 9-dp integers (order-free Σ), weights normalized over 12-dp
    // integer raws (a float Σ across sources is order-dependent)
    "q178_mixture_reweight" ->
      """WITH tok AS (SELECT source, unnest(regexp_extract_all(text, '\S+')) AS w FROM documents),
         sw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS csw FROM tok GROUP BY 1, 2),
         cw AS (SELECT w, CAST(sum(csw) AS BIGINT) AS cww FROM sw GROUP BY 1),
         ts AS (SELECT source, CAST(sum(csw) AS BIGINT) AS t_s FROM sw GROUP BY 1),
         tt AS (SELECT CAST(sum(t_s) AS BIGINT) AS t FROM ts),
         kl AS (SELECT sw.source, any_value(ts.t_s) AS t_s, any_value(tt.t) AS t,
                  CAST(sum(CAST(floor(
                    (CAST(csw AS DOUBLE) / CAST(ts.t_s AS DOUBLE)) *
                    ln((CAST(csw AS DOUBLE) / CAST(ts.t_s AS DOUBLE))
                       / (CAST(cww AS DOUBLE) / CAST(tt.t AS DOUBLE)))
                    * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS kl9
                FROM sw JOIN cw USING (w) JOIN ts USING (source), tt
                GROUP BY sw.source),
         r AS (SELECT source, t_s, CAST(kl9 AS DOUBLE) / 1000000000.0 AS kl,
                 CAST(floor((CAST(t_s AS DOUBLE) / CAST(t AS DOUBLE))
                   * exp(1.0 * (CAST(kl9 AS DOUBLE) / 1000000000.0))
                   * 1000000000000.0 + 0.5) AS BIGINT) AS raw12
               FROM kl),
         z AS (SELECT CAST(sum(raw12) AS BIGINT) AS z FROM r)
         SELECT source, t_s AS n_tokens,
           floor(kl * 1000000.0 + 0.5) / 1000000.0 AS kl_div,
           CAST(floor(CAST(raw12 AS DOUBLE) / CAST(z.z AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS weight_bp
         FROM r, z ORDER BY source""",
    // q179: MMR greedy as a recursive CTE — step 1 = pure top-1 rel
    // (empty picked set, penalty 0); each later step picks argmax of
    // floor((0.7·rel − (1.0−0.7)·max_sim_to_picked)·10⁴+0.5)/10⁴ with
    // ties to the lowest id ((1.0−0.7) spelled as the SAME IEEE
    // subtraction the Spark side performs)
    "q179_mmr_rerank" ->
      """WITH RECURSIVE
         q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings WHERE vec_id >= 10),
         s AS (SELECT qid, nid, cv,
                 round(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS rel
               FROM q, c),
         cand AS (SELECT qid, nid, cv, rel FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid ASC) AS rk FROM s) t
            WHERE rk <= 20),
         sim AS (SELECT a.qid, a.nid AS ida, b.nid AS idb,
                   round(list_dot_product(a.cv, b.cv)
                     / (sqrt(list_dot_product(a.cv, a.cv)) * sqrt(list_dot_product(b.cv, b.cv))), 4) AS s
                 FROM cand a JOIN cand b ON a.qid = b.qid AND a.nid <> b.nid),
         r AS (
           SELECT qid, 1 AS step, [nid] AS picked, nid,
             floor((0.7 * rel) * 10000.0 + 0.5) / 10000.0 AS mmr
           FROM (SELECT qid, nid, rel,
                   row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid ASC) AS rk FROM cand) t
           WHERE rk = 1
           UNION ALL
           SELECT r.qid, r.step + 1, list_append(r.picked, t.nid), t.nid, t.mmr
           FROM r, LATERAL (
             SELECT x.nid, x.mmr FROM (
               SELECT c2.nid,
                 -- (1.0 − 0.7) must be the IEEE DOUBLE subtraction the
                 -- Spark side performs (0.30000000000000004), not
                 -- DuckDB's exact DECIMAL 0.3 (q174's literal trap)
                 floor((0.7 * c2.rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) *
                   (SELECT max(sim.s) FROM sim
                    WHERE sim.qid = r.qid AND sim.ida = c2.nid AND list_contains(r.picked, sim.idb)))
                   * 10000.0 + 0.5) / 10000.0 AS mmr
               FROM cand c2 WHERE c2.qid = r.qid AND NOT list_contains(r.picked, c2.nid)
             ) x ORDER BY x.mmr DESC, x.nid ASC LIMIT 1
           ) t
           WHERE r.step < 5
         )
         SELECT qid AS query_id, CAST(step AS INT) AS rank, nid AS neighbor_id, mmr AS mmr_score
         FROM r ORDER BY query_id, rank""",
    // q181: per-month incremental rebuild accounting — q92's lake/batch
    // convention (80% doc_id high-watermark, same fp expression), with
    // the per-source ingest report and fp-index sizes; all-integer
    // arithmetic, keeper = min doc_id per new fingerprint
    "q181_month_rebuild" ->
      """WITH c AS (SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS cut FROM documents),
         f AS (SELECT doc_id, source,
           md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp
         FROM documents),
         lake AS (SELECT DISTINCT fp FROM f, c WHERE f.doc_id <= c.cut),
         batch AS (SELECT f.doc_id, f.source, f.fp FROM f, c WHERE f.doc_id > c.cut),
         fresh AS (SELECT * FROM batch WHERE fp NOT IN (SELECT fp FROM lake)),
         kept AS (SELECT fp, min(doc_id) AS doc_id FROM fresh GROUP BY fp),
         keptsrc AS (SELECT b.source FROM kept k JOIN fresh b ON k.fp = b.fp AND k.doc_id = b.doc_id),
         raws AS (SELECT source, count(*) AS n_raw FROM batch GROUP BY source),
         ing AS (SELECT source, count(*) AS n_ingested FROM keptsrc GROUP BY source),
         ib AS (SELECT count(*) AS idx_before FROM lake),
         nn AS (SELECT count(*) AS n_new FROM kept)
         SELECT raws.source, raws.n_raw,
           CAST(coalesce(ing.n_ingested, 0) AS BIGINT) AS n_ingested,
           raws.n_raw - CAST(coalesce(ing.n_ingested, 0) AS BIGINT) AS n_dropped,
           ib.idx_before, ib.idx_before + nn.n_new AS idx_after
         FROM raws LEFT JOIN ing ON raws.source = ing.source, ib, nn
         ORDER BY raws.source""",
    // q183: IVF-PQ — unrolled whole-vector coarse Lloyd (2 rounds, k=4,
    // q121's rounding discipline), residuals vs the assigned coarse
    // centroid (exact IEEE subtraction of 9-dp components), then the
    // q172 residual-PQ chain; probe = top-2 coarse cells by 6-dp d2
    // (ties on cl); score = qc + Σ LUT as integer-exact BIGINTs where
    // qc = floor(q·c·1e7+0.5) and LUT partials use the FULL query
    // subvectors; qscore = floor(t/1000+0.5)/1e4
    "q183_ivfpq" ->
      """WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS fv FROM embeddings),
         cseeds AS (SELECT CAST(row_number() OVER (ORDER BY id) AS INT) - 1 AS cl, fv AS centroid
                    FROM (SELECT id, fv FROM v ORDER BY id LIMIT 4) s),
         cd1 AS (SELECT v.id, v.fv, c.cl,
                 floor((list_dot_product(v.fv, v.fv) - 2*list_dot_product(v.fv, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, cseeds c),
         ca1 AS (SELECT id, fv, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM cd1) t
                WHERE rk = 1),
         cc1 AS (SELECT cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT cl, unnest(fv) AS x, unnest(generate_series(1, len(fv))) AS pos FROM ca1) u
                  GROUP BY cl, pos) g GROUP BY cl),
         cd2 AS (SELECT v.id, v.fv, c.cl,
                 floor((list_dot_product(v.fv, v.fv) - 2*list_dot_product(v.fv, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, cc1 c),
         ca2 AS (SELECT id, fv, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM cd2) t
                WHERE rk = 1),
         cc2 AS (SELECT cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT cl, unnest(fv) AS x, unnest(generate_series(1, len(fv))) AS pos FROM ca2) u
                  GROUP BY cl, pos) g GROUP BY cl),
         cdf AS (SELECT v.id, v.fv, c.cl, c.centroid,
                 floor((list_dot_product(v.fv, v.fv) - 2*list_dot_product(v.fv, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM v, cc2 c),
         caf AS (SELECT id, fv, cl, centroid FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rk FROM cdf) t
                WHERE rk = 1),
         res0 AS (SELECT id, cl AS ccl, pos, x - centroid[pos] AS rx FROM (
                  SELECT id, cl, centroid, unnest(fv) AS x,
                    unnest(generate_series(1, len(fv))) AS pos FROM caf) u),
         res AS (SELECT id, ccl, list(rx ORDER BY pos) AS rv FROM res0 GROUP BY id, ccl),
         ss AS (SELECT unnest(generate_series(0, 3)) AS s),
         sub AS (SELECT id, s, rv[16*s+1 : 16*s+16] AS vec FROM res, ss),
         sd AS (SELECT id, s, vec, row_number() OVER (PARTITION BY s ORDER BY id) AS rn FROM sub),
         pseeds AS (SELECT s, CAST(rn - 1 AS INT) AS cl, vec AS centroid FROM sd WHERE rn <= 8),
         pd1 AS (SELECT sub.id, sub.s, sub.vec, c.cl,
                 floor((list_dot_product(sub.vec, sub.vec) - 2*list_dot_product(sub.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM sub JOIN pseeds c USING (s)),
         pa1 AS (SELECT id, s, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id, s ORDER BY d2, cl) AS rk FROM pd1) t
                WHERE rk = 1),
         pc1 AS (SELECT s, cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT s, cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT s, cl, unnest(vec) AS x, unnest(generate_series(1, len(vec))) AS pos FROM pa1) u
                  GROUP BY s, cl, pos) g GROUP BY s, cl),
         pd2 AS (SELECT sub.id, sub.s, sub.vec, c.cl,
                 floor((list_dot_product(sub.vec, sub.vec) - 2*list_dot_product(sub.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM sub JOIN pc1 c USING (s)),
         pa2 AS (SELECT id, s, vec, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id, s ORDER BY d2, cl) AS rk FROM pd2) t
                WHERE rk = 1),
         pc2 AS (SELECT s, cl, list(m ORDER BY pos) AS centroid FROM (
                  SELECT s, cl, pos, floor(avg(x) * 1000000000.0 + 0.5) / 1000000000.0 AS m FROM (
                    SELECT s, cl, unnest(vec) AS x, unnest(generate_series(1, len(vec))) AS pos FROM pa2) u
                  GROUP BY s, cl, pos) g GROUP BY s, cl),
         pdc AS (SELECT sub.id, sub.s, c.cl,
                 floor((list_dot_product(sub.vec, sub.vec) - 2*list_dot_product(sub.vec, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2
                FROM sub JOIN pc2 c USING (s) WHERE sub.id >= 10),
         codes AS (SELECT id, s, cl FROM (
                  SELECT *, row_number() OVER (PARTITION BY id, s ORDER BY d2, cl) AS rk FROM pdc) t
                WHERE rk = 1),
         qp AS (SELECT v.id AS qid, c.cl,
                 floor((list_dot_product(v.fv, v.fv) - 2*list_dot_product(v.fv, c.centroid)
                       + list_dot_product(c.centroid, c.centroid)) * 1000000.0 + 0.5) / 1000000.0 AS d2,
                 CAST(floor(list_dot_product(v.fv, c.centroid) * 10000000.0 + 0.5) AS BIGINT) AS qc
                FROM v, cc2 c WHERE v.id < 10),
         pr AS (SELECT qid, cl, qc FROM (
                  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, cl) AS rk FROM qp) t
                WHERE rk <= 2),
         qsub AS (SELECT id AS qid, s, fv[16*s+1 : 16*s+16] AS vec FROM v, ss WHERE id < 10),
         lut AS (SELECT q.qid, q.s, c.cl,
                  CAST(floor(list_dot_product(q.vec, c.centroid) * 10000000.0 + 0.5) AS BIGINT) AS p
                 FROM qsub q JOIN pc2 c USING (s)),
         cellc AS (SELECT id, ccl FROM res WHERE id >= 10),
         sc AS (SELECT pr.qid, cellc.id AS nid, CAST(pr.qc + sum(lut.p) AS BIGINT) AS t
                FROM cellc JOIN pr ON pr.cl = cellc.ccl
                JOIN codes ON codes.id = cellc.id
                JOIN lut ON lut.qid = pr.qid AND lut.s = codes.s AND lut.cl = codes.cl
                GROUP BY pr.qid, cellc.id, pr.qc),
         r AS (SELECT qid, nid, floor(t / 1000.0 + 0.5) / 10000.0 AS qscore,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY floor(t / 1000.0 + 0.5) / 10000.0 DESC, nid ASC) AS rank
               FROM sc)
         SELECT qid AS query_id, CAST(rank AS INT) AS rank, nid AS neighbor_id, qscore
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    // q184: closed-form ridge (normal equations) fitting the q16
    // quality score (bp) from token + punctuation counts — Gram sums
    // as exact BIGINTs (order-free), then the FIXED-order 3×3 Cramer
    // expansion over doubles (token-for-token the Scala expression, so
    // the IEEE determinants are bit-identical), weights halfUp 9 dp,
    // pred = floor(w·x + 0.5) as BIGINT
    "q184_ridge_quality" ->
      """WITH s AS (SELECT doc_id,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(CASE WHEN len(trim(text)) = 0 THEN 1 ELSE len(regexp_extract_all(trim(text), '\S+')) END AS DOUBLE) AS n_words,
           CAST(length(regexp_replace(text, '[^!?.,;:]', '', 'g')) AS DOUBLE) AS n_punct,
           CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|a|is|that)\b')) AS DOUBLE) AS n_stop
         FROM documents),
         q AS (SELECT doc_id, n_words, n_punct, floor((
           least(n_chars / 500.0, 1.0)
           + (1.0 - least(n_punct / greatest(n_words, 1.0) * 2.0, 1.0))
           + least(n_stop / greatest(n_words, 1.0) * 5.0, 1.0)
           + CASE WHEN n_chars / greatest(n_words, 1.0) >= 3.0
                   AND n_chars / greatest(n_words, 1.0) <= 10.0 THEN 1.0 ELSE 0.5 END
           ) / 4.0 * 10000.0 + 0.5) / 10000.0 AS quality
         FROM s),
         f AS (SELECT doc_id, CAST(n_words AS BIGINT) AS x1, CAST(n_punct AS BIGINT) AS x2,
                 CAST(floor(quality * 10000.0 + 0.5) AS BIGINT) AS y
               FROM q),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
                 CAST(sum(x1*x1) AS BIGINT) AS s11, CAST(sum(x1*x2) AS BIGINT) AS s12,
                 CAST(sum(x2*x2) AS BIGINT) AS s22,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x1*y) AS BIGINT) AS s1y, CAST(sum(x2*y) AS BIGINT) AS s2y
               FROM f),
         gd AS (SELECT CAST(n AS DOUBLE) AS n,
                 CAST(sx1 AS DOUBLE) AS sx1, CAST(sx2 AS DOUBLE) AS sx2,
                 CAST(s11 AS DOUBLE) + 1000.0 AS a22, CAST(s12 AS DOUBLE) AS s12,
                 CAST(s22 AS DOUBLE) + 1000.0 AS a33,
                 CAST(sy AS DOUBLE) AS sy,
                 CAST(s1y AS DOUBLE) AS s1y, CAST(s2y AS DOUBLE) AS s2y
               FROM g),
         dets AS (SELECT
             n * (a22 * a33 - s12 * s12) - sx1 * (sx1 * a33 - s12 * sx2) + sx2 * (sx1 * s12 - a22 * sx2) AS det,
             sy * (a22 * a33 - s12 * s12) - sx1 * (s1y * a33 - s12 * s2y) + sx2 * (s1y * s12 - a22 * s2y) AS det0,
             n * (s1y * a33 - s12 * s2y) - sy * (sx1 * a33 - s12 * sx2) + sx2 * (sx1 * s2y - s1y * sx2) AS det1,
             n * (a22 * s2y - s1y * s12) - sx1 * (sx1 * s2y - s1y * sx2) + sy * (sx1 * s12 - a22 * sx2) AS det2
           FROM gd),
         wts AS (SELECT
             floor(det0 / det * 1000000000.0 + 0.5) / 1000000000.0 AS w0,
             floor(det1 / det * 1000000000.0 + 0.5) / 1000000000.0 AS w1,
             floor(det2 / det * 1000000000.0 + 0.5) / 1000000000.0 AS w2
           FROM dets)
         SELECT f.doc_id, f.x1 AS n_words, f.x2 AS n_punct, f.y AS quality_bp,
           CAST(floor(w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + 0.5) AS BIGINT) AS pred_bp,
           f.y - CAST(floor(w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + 0.5) AS BIGINT) AS resid_bp
         FROM f, wts w ORDER BY f.doc_id""",
    // q185: τ-sweep yield curve over q24's exact-Jaccard pairs —
    // all-pairs oracle (the Spark side's df-capped index is
    // candidate-exact, same contract as q24), thresholds in basis
    // points, dropped = distinct doc_b (min-id keeper at pair grain),
    // zero-rows kept via left join
    "q185_dedup_yield_curve" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                      for i in generate_series(1, len(ws)-2)]) END AS s
                FROM w),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                       / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS jaccard
               FROM sh a JOIN sh b ON a.doc_id < b.doc_id
               WHERE len(a.s) > 0 AND len(b.s) > 0),
         t AS (SELECT unnest([5000, 6000, 7000, 8000, 9000]) AS tau_bp),
         sel AS (SELECT t.tau_bp, p.doc_a, p.doc_b FROM p JOIN t
                 ON p.jaccard >= CAST(t.tau_bp AS DOUBLE) / 10000.0),
         st AS (SELECT tau_bp, count(*) AS n_pairs,
                  count(DISTINCT doc_b) AS n_docs_dropped
                FROM sel GROUP BY tau_bp)
         SELECT CAST(t.tau_bp AS INT) AS tau_bp,
           CAST(coalesce(st.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(st.n_docs_dropped, 0) AS BIGINT) AS n_docs_dropped
         FROM t LEFT JOIN st USING (tau_bp) ORDER BY tau_bp""",
    // q186: Count-Min accuracy audit — sketch = d=4 × w=256 bucket
    // counts (md5 hex pair → 0..255, the established md5 idiom; Spark
    // spells it conv(substr(md5,1,2),16,10), value-identical), exact
    // top-20 by q102's conventions, estimate = min over the 4 rows
    "q186_cms_audit" ->
      """WITH w AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
               FROM documents),
         f AS (SELECT w, count(*) AS cnt FROM w WHERE w <> '' GROUP BY w),
         js AS (SELECT unnest([1, 2, 3, 4]) AS j),
         fb AS (SELECT f.w, f.cnt, js.j,
                  (strpos('0123456789abcdef', substr(md5('cms' || CAST(js.j AS VARCHAR) || ':' || f.w), 1, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(md5('cms' || CAST(js.j AS VARCHAR) || ':' || f.w), 2, 1)) - 1) AS b
                FROM f, js),
         sk AS (SELECT j, b, CAST(sum(cnt) AS BIGINT) AS c FROM fb GROUP BY j, b),
         t AS (SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w ASC) AS rank
               FROM f),
         top AS (SELECT * FROM t WHERE rank <= 20),
         est AS (SELECT top.rank, top.w, top.cnt, min(sk.c) AS cms_est
                 FROM top JOIN fb ON fb.w = top.w
                          JOIN sk ON sk.j = fb.j AND sk.b = fb.b
                 GROUP BY top.rank, top.w, top.cnt)
         SELECT CAST(rank AS INT) AS rank, w AS word, cnt,
           cms_est, cms_est - cnt AS overcount
         FROM est ORDER BY rank""",
    // q187: per-source mean-embedding cosine matrix — centroids are
    // EXACT (float-sourced double sums), cosine = q28's round-4
    // spelling over list_dot_product, unordered pairs by source name
    "q187_source_similarity" ->
      """WITH e AS (SELECT d.source AS g, CAST(e.embedding AS DOUBLE[]) AS fv
                FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
         u AS (SELECT g, unnest(fv) AS x, unnest(generate_series(1, len(fv))) AS pos FROM e),
         m AS (SELECT g, pos, avg(x) AS m FROM u GROUP BY g, pos),
         c AS (SELECT g, list(m ORDER BY pos) AS c FROM m GROUP BY g)
         SELECT a.g AS source_a, b.g AS source_b,
           round(list_dot_product(a.c, b.c)
             / (sqrt(list_dot_product(a.c, a.c)) * sqrt(list_dot_product(b.c, b.c))), 4) AS cos_sim
         FROM c a JOIN c b ON a.g < b.g
         ORDER BY source_a, source_b""",
    // q188: per-source Herfindahl + TTR over q102's token convention —
    // all-BIGINT (counts, squares, ×10⁴ floor-div), order-free
    "q188_vocab_concentration" ->
      """WITH w AS (SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
               FROM documents),
         c AS (SELECT source, w, count(*) AS c FROM w WHERE w <> '' GROUP BY source, w),
         s AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                 CAST(count(*) AS BIGINT) AS n_types,
                 CAST(sum(c*c) AS BIGINT) AS sum_c2
               FROM c GROUP BY source)
         SELECT source, n_tokens, n_types,
           (sum_c2 * 10000) // (n_tokens * n_tokens) AS herfindahl_bp,
           (n_types * 10000) // n_tokens AS ttr_bp
         FROM s ORDER BY source""",
    // q189: cross-source exact-dup matrix over the q23 canonical
    // fingerprint — shared-fp count + implied doc-pair count via the
    // integer cross-multiply (no pair enumeration)
    "q189_cross_source_dups" ->
      """WITH f AS (SELECT source,
           md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fp
         FROM documents),
         c AS (SELECT fp, source, count(*) AS c FROM f GROUP BY fp, source)
         SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_fps,
           CAST(sum(a.c * b.c) AS BIGINT) AS n_doc_pairs
         FROM c a JOIN c b ON a.fp = b.fp AND a.source < b.source
         GROUP BY a.source, b.source
         ORDER BY source_a, source_b""",
    // q190: bloom decontamination audit — bit positions from the
    // ('0x'||substr(md5('bl{j}:'||g),1,5))::BIGINT idiom (Spark spells
    // it conv(substr(md5,1,5),16,10), value-identical); a doc n-gram is
    // a bloom hit iff ALL THREE positions land in the benchmark's
    // position set — the relational statement of "all bits set"
    "q190_bloom_decontam" ->
      """WITH w AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
         sh AS (SELECT doc_id, source, CASE WHEN len(ws) < 5 THEN CAST([] AS VARCHAR[])
                  ELSE list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
                                      for i in generate_series(1, len(ws)-4)]) END AS s
                FROM w),
         bg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE source = 'src0'),
         bp AS (SELECT DISTINCT ('0x' || substr(md5('bl' || CAST(j AS VARCHAR) || ':' || g), 1, 5))::BIGINT % 1048576 AS p
                FROM bg, generate_series(1, 3) t(j)),
         cg AS (SELECT doc_id, source, CAST(len(s) AS BIGINT) AS n_ngrams, unnest(s) AS g
                FROM sh WHERE source <> 'src0'),
         h AS (SELECT doc_id, source, n_ngrams,
                 (('0x' || substr(md5('bl1:' || g), 1, 5))::BIGINT % 1048576 IN (SELECT p FROM bp)
              AND ('0x' || substr(md5('bl2:' || g), 1, 5))::BIGINT % 1048576 IN (SELECT p FROM bp)
              AND ('0x' || substr(md5('bl3:' || g), 1, 5))::BIGINT % 1048576 IN (SELECT p FROM bp)) AS hit,
                 g IN (SELECT g FROM bg) AS ex
               FROM cg)
         SELECT doc_id, source, n_ngrams,
           CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
           CAST(sum(CASE WHEN ex THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hits
         FROM h GROUP BY doc_id, source, n_ngrams
         HAVING sum(CASE WHEN hit THEN 1 ELSE 0 END) > 0
         ORDER BY doc_id""",
    // q191: SemDeDup — label-mean centroids + nearest-centroid
    // assignment are q29's proven chain; the within-cluster pair scan
    // uses q28's round-4 cosine spelling, keeper = argmax cos then min
    // id (the min(struct) aggregate's order, replayed as row_number)
    "q191_semdedup" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ci AS (SELECT label, unnest(generate_series(1, 64)) AS i, v FROM e),
         cent AS (SELECT label, i, avg(v[i]) AS m FROM ci GROUP BY label, i),
         centv AS (SELECT label, list(m ORDER BY i) AS ce FROM cent GROUP BY label),
         asg AS (SELECT vec_id, v, label AS cl FROM (
             SELECT e.vec_id, e.v, centv.label,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 round(list_dot_product(e.v, centv.ce) /
                   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(centv.ce, centv.ce))), 4) DESC,
                 centv.label ASC) AS pr
             FROM e, centv) WHERE pr = 1),
         p AS (SELECT a.cl, a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
               FROM asg a JOIN asg b ON a.cl = b.cl AND a.vec_id < b.vec_id),
         f AS (SELECT cl, id_a, id_b, CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_bp
               FROM p WHERE cos >= 0.35),
         r AS (SELECT cl, id_b, id_a, cos_bp,
                 row_number() OVER (PARTITION BY cl, id_b ORDER BY cos_bp DESC, id_a ASC) AS rk,
                 count(*) OVER (PARTITION BY cl, id_b) AS n
               FROM f)
         SELECT CAST(cl AS INT) AS cluster, id_b AS dropped_id, id_a AS keeper_id,
           CAST(n AS BIGINT) AS n_dups, cos_bp AS best_cos_bp
         FROM r WHERE rk = 1 ORDER BY dropped_id""",
    // q192: hash-partition imbalance at P=32 over the documents table's
    // candidate shuffle keys; buckets via the 4-hex-char md5 idiom,
    // fp = q23/q189's canonical fingerprint spelling
    "q192_partition_histogram" ->
      """WITH k AS (
           SELECT 'fp' AS kname,
             md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))), ' ')) AS kval
           FROM documents
           UNION ALL SELECT 'lang', lang FROM documents
           UNION ALL SELECT 'source', source FROM documents),
         c AS (SELECT kname, kval, count(*) AS c FROM k GROUP BY kname, kval),
         b AS (SELECT kname, ('0x' || substr(md5(kval), 1, 4))::BIGINT % 32 AS b, sum(c) AS bc
               FROM c GROUP BY kname, b),
         s1 AS (SELECT kname, CAST(sum(c) AS BIGINT) AS n_rows,
                  CAST(count(*) AS BIGINT) AS n_keys, CAST(max(c) AS BIGINT) AS top_key_rows
                FROM c GROUP BY kname),
         s2 AS (SELECT kname, CAST(max(bc) AS BIGINT) AS max_bucket_rows FROM b GROUP BY kname)
         SELECT s1.kname AS key_col, n_rows, n_keys, top_key_rows, max_bucket_rows,
           max_bucket_rows * 32 * 10000 // greatest(n_rows, 1) AS imbalance_bp,
           top_key_rows * 10000 // greatest(n_rows, 1) AS top_key_share_bp
         FROM s1 JOIN s2 USING (kname) ORDER BY key_col""",
    // q193: source-vocabulary MinHash-64 overlap audit — tokens follow
    // the q102/q188 convention; signature slot j = min over the vocab of
    // the 12-hex-char md5 value (48 bits), estimate = matching slots/64
    "q193_vocab_minhash" ->
      """WITH w AS (SELECT source AS g, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
               FROM documents),
         v AS (SELECT DISTINCT g, w FROM w WHERE w <> ''),
         sz AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY g),
         ix AS (SELECT a.g AS ga, b.g AS gb, CAST(count(*) AS BIGINT) AS n_inter
                FROM v a JOIN v b ON a.w = b.w AND a.g < b.g GROUP BY a.g, b.g),
         mh AS (SELECT g, j, min(('0x' || substr(md5('mh' || CAST(j AS VARCHAR) || ':' || w), 1, 12))::BIGINT) AS m
                FROM v, generate_series(1, 64) t(j) GROUP BY g, j),
         mm AS (SELECT a.g AS ga, b.g AS gb,
                  CAST(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT) AS matches
                FROM mh a JOIN mh b ON a.j = b.j AND a.g < b.g GROUP BY a.g, b.g),
         p AS (SELECT a.g AS ga, b.g AS gb, a.n AS n_a, b.n AS n_b
               FROM sz a JOIN sz b ON a.g < b.g)
         SELECT ga AS source_a, gb AS source_b, n_a, n_b,
           coalesce(ix.n_inter, 0) AS n_inter,
           coalesce(ix.n_inter, 0) * 10000 // greatest(n_a + n_b - coalesce(ix.n_inter, 0), 1) AS exact_j_bp,
           coalesce(mm.matches, 0) * 10000 // 64 AS est_j_bp,
           coalesce(mm.matches, 0) * 10000 // 64
             - coalesce(ix.n_inter, 0) * 10000 // greatest(n_a + n_b - coalesce(ix.n_inter, 0), 1) AS err_bp
         FROM p LEFT JOIN ix USING (ga, gb) LEFT JOIN mm USING (ga, gb)
         ORDER BY source_a, source_b""",
    // q194: exact-integer Gram + fixed-point power iteration, every step
    // replayed (12 unrolled w/m/v CTE triples built by q194OracleSteps;
    // truncating // matches BigInt division toward zero)
    "q194_spectral_power" ->
      (s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS fv FROM embeddings),
         q AS (SELECT [CAST(floor(fv[i] * 1000 + 0.5) AS BIGINT) for i in generate_series(1, 16)] AS q FROM e),
         g AS MATERIALIZED (SELECT i, j, CAST(sum(q[i] * q[j]) AS HUGEINT) AS g
               FROM q, generate_series(1, 16) t1(i), generate_series(1, 16) t2(j)
               GROUP BY i, j),
         v0 AS (SELECT unnest(generate_series(1, 16)) AS i, CAST(10000 AS HUGEINT) AS v),
         """ + q194OracleSteps(12) + """
         ray AS (SELECT (SELECT sum(g.g * a.v * b.v) FROM g JOIN v12 a ON g.i = a.i JOIN v12 b ON g.j = b.i)
                   // greatest((SELECT sum(v * v) FROM v12), 1) AS r)
         SELECT CAST(d.i AS INT) AS pos, CAST(d.g AS BIGINT) AS g_diag,
           CAST(v12.v AS BIGINT) AS loading_fp, CAST(ray.r AS BIGINT) AS rayleigh_fp
         FROM g d JOIN v12 ON v12.i = d.i CROSS JOIN ray
         WHERE d.i = d.j ORDER BY pos"""),
  )

  /** q195–q197 oracles (appended via ++ to keep the literal map below
    * the 254-entry tuple arity ceiling well in the future — and because
    * q195's oracle is the DEFINITIONAL order statistic the radix path
    * must equal, worth calling out):
    */
  private def continuationOracleSql: Map[String, String] = Map(
    // q195: the k-th smallest scaled value per group, stated as the
    // definition (row_number over a full sort) — the radix-select
    // result must hash-match the definitional order statistic. The
    // WHERE mirrors the engine's up-front null drop (round-13 ADVICE):
    // n counts NON-NULL values and all-null groups emit no row, on
    // null-bearing data as well as on the (null-free) fixtures.
    "q195_exact_median" ->
      """WITH e AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS sv FROM events
                    WHERE value IS NOT NULL),
         n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY event_type),
         r AS (SELECT event_type, sv,
                 row_number() OVER (PARTITION BY event_type ORDER BY sv) AS rn
               FROM e)
         SELECT r.event_type, n.n, (n.n + 1) // 2 AS k, r.sv AS median_scaled
         FROM r JOIN n USING (event_type) WHERE r.rn = (n.n + 1) // 2
         ORDER BY event_type""",
    // q196: per-user lead() transitions, row-conditional probability bp
    "q196_transition_matrix" ->
      """WITH t AS (SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
               FROM events),
         c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
               FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
         s AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM c GROUP BY from_type)
         SELECT c.from_type, c.to_type, c.n, c.n * 10000 // s.n_from AS p_bp
         FROM c JOIN s USING (from_type) ORDER BY from_type, to_type""",
    // q197: the streaming-maintained CMS must equal the batch sketch —
    // q186's sk CTE verbatim (the '0x' spelling of the same md5 pair)
    "q197_cms_stream" ->
      """WITH w AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
               FROM documents),
         f AS (SELECT w FROM w WHERE w <> ''),
         js AS (SELECT unnest([1, 2, 3, 4]) AS j),
         fb AS (SELECT js.j,
                  ('0x' || substr(md5('cms' || CAST(js.j AS VARCHAR) || ':' || f.w), 1, 2))::BIGINT AS b
                FROM f, js)
         SELECT CAST(j AS INT) AS j, CAST(b AS INT) AS b, CAST(count(*) AS BIGINT) AS c
         FROM fb GROUP BY j, b ORDER BY j, b""",
    // q198: median and MAD stated definitionally (two nested row_number
    // order statistics), fences at median ± 5·max(MAD, 1). Same null
    // filter as q195: the engine drops null values before counting.
    "q198_mad_outliers" ->
      """WITH e AS (SELECT event_type AS g, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events
                    WHERE value IS NOT NULL),
         n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY g),
         r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM e),
         med AS (SELECT r.g, n.n, r.v AS median_scaled
                 FROM r JOIN n USING (g) WHERE r.rn = (n.n + 1) // 2),
         d AS (SELECT e.g, abs(e.v - med.median_scaled) AS dv FROM e JOIN med USING (g)),
         rd AS (SELECT g, dv, row_number() OVER (PARTITION BY g ORDER BY dv) AS rn FROM d),
         mad AS (SELECT rd.g, rd.dv AS mad_scaled
                 FROM rd JOIN n USING (g) WHERE rd.rn = (n.n + 1) // 2),
         f AS (SELECT med.g, med.n, med.median_scaled, mad.mad_scaled,
                 5 * greatest(mad.mad_scaled, 1) AS fence
               FROM med JOIN mad USING (g)),
         o AS (SELECT f.g, CAST(sum(CASE WHEN abs(e.v - f.median_scaled) > f.fence
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
               FROM e JOIN f USING (g) GROUP BY f.g)
         SELECT f.g AS event_type, f.n, f.median_scaled, f.mad_scaled,
           o.n_outliers, o.n_outliers * 10000 // f.n AS outlier_bp
         FROM f JOIN o USING (g) ORDER BY event_type""",
    // q199: zone-map pruning under the arrival vs value-clustered file
    // cuts — per file min/max/rows/matches, then the read decision
    "q199_zonemap_prune" ->
      """WITH l AS (
           SELECT 'arrival' AS layout, doc_id // 64 AS file_id, n_chars AS v FROM documents
           UNION ALL
           SELECT 'clustered', n_chars // 32, n_chars FROM documents),
         pf AS (SELECT layout, file_id, CAST(count(*) AS BIGINT) AS nr,
                  min(v) AS min_v, max(v) AS max_v,
                  CAST(sum(CASE WHEN v BETWEEN 220 AND 260 THEN 1 ELSE 0 END) AS BIGINT) AS n_match
                FROM l GROUP BY layout, file_id),
         ag AS (SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
                  CAST(sum(CASE WHEN max_v >= 220 AND min_v <= 260 THEN 1 ELSE 0 END) AS BIGINT) AS files_read,
                  CAST(sum(CASE WHEN max_v >= 220 AND min_v <= 260 THEN nr ELSE 0 END) AS BIGINT) AS rows_scanned,
                  CAST(sum(n_match) AS BIGINT) AS rows_matched
                FROM pf GROUP BY layout)
         SELECT layout, n_files, files_read, rows_scanned, rows_matched,
           (n_files - files_read) * 10000 // greatest(n_files, 1) AS prune_bp,
           rows_scanned * 100 // greatest(rows_matched, 1) AS amplification_x100
         FROM ag ORDER BY layout""",
  )

  /** The unrolled fixed-point power-iteration CTE triples for q194's
    * oracle: step t computes w_t = G·v_{t-1}, m_t = max|w_t| (≥1), and
    * v_t = (w_t · 10⁴) // m_t — the exact statements Spectral
    * .powerIteration executes in BigInt.
    */
  private def q194OracleSteps(iters: Int): String =
    (1 to iters).map { t =>
      s"""w$t AS MATERIALIZED (SELECT g.i, sum(g.g * v${t - 1}.v) AS w FROM g JOIN v${t - 1} ON g.j = v${t - 1}.i GROUP BY g.i),
         m$t AS (SELECT greatest(max(abs(w)), 1) AS m FROM w$t),
         v$t AS MATERIALIZED (SELECT i, (w * 10000) // m AS v FROM w$t, m$t),"""
    }.mkString("\n         ")
}
