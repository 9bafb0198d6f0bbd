package graft.operators

import graft.Tables
import graft.dedup.Dedup
import graft.functions.TopKAggregator
import graft.text.TextAnalysis
import graft.vector.VectorOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators at corpus scale: dedup families,
  * similarity search, recall gate, threshold cascade, context packing.
  */
object ScaleOps {

  /** Exact/canonical dedup groups (same word set ⇒ same fingerprint). */
  def q23DedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDupGroups(
      Tables.documents(spark, dir), "doc_id",
      Dedup.canonicalFingerprint(col("text")))

  /** Exact word-3-gram Jaccard near-dup pairs (inverted shingle index). */
  def q24NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(Tables.documents(spark, dir), "doc_id", "text", 3, 0.8)

  /** q185: the τ-sweep datasheet over the q24 pair machinery — pair
    * counts and keeper-rule doc drops at 0.50/0.60/0.70/0.80/0.90,
    * from ONE candidate+verify pass at τ=0.50.
    */
  def q185DedupYieldCurve(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupYieldCurve(Tables.documents(spark, dir), "doc_id", "text")

  /** q189: cross-source exact-duplicate matrix — q187's centroid view
    * answers "which source pairs are semantically close"; this answers
    * the exact-dup half with the q23 canonical fingerprint: per source
    * pair, how many fingerprints collide and how many document PAIRS
    * that implies (Σ over shared fps of cnt_a·cnt_b — the integer
    * cross-multiply, no pair enumeration). Mirror feeds show up as a
    * hot row here before any pairwise dedup is paid. Scale: one
    * (fp, source) groupBy (map-side combine), then a self-join keyed
    * on fp whose per-key expansion is bounded by |sources|²; the
    * corpus-growing side is PINNED shuffle-hash (no AQE broadcast
    * flips at any scale).
    */
  def q189CrossSourceDups(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(spark, dir)
      .select(col("source"), Dedup.canonicalFingerprint(col("text")).as("fp"))
      .groupBy("fp", "source").agg(count(lit(1)).as("c"))
    val a = cnt.select(col("fp"), col("source").as("source_a"), col("c").as("ca"))
    val b = cnt.select(col("fp"), col("source").as("source_b"), col("c").as("cb"))
    a.join(b.hint("shuffle_hash"), Seq("fp"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_fps"),
        sum(col("ca") * col("cb")).as("n_doc_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** q190: Bloom-filter decontamination audit — flag corpus documents
    * sharing word-5-grams with the src0 "benchmark" feed via a 2²⁰-bit
    * k=3 broadcast bloom (the production path: no benchmark join on
    * the corpus side), with the exact-join truth kept in-row as the
    * audit column. See [[graft.dedup.Bloom]] for the mergeable-bitset
    * scale contract and the FP math.
    */
  def q190BloomDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.widen(Tables.documents(spark, dir))
    graft.dedup.Bloom.bloomDecontam(
      docs.filter(col("source") =!= "src0"), "doc_id", "text",
      docs.filter(col("source") === "src0"), "text",
      n = 5, keep = Seq("source"))
      .select(col("doc_id"), col("source"), col("n_ngrams"),
        col("n_bloom_hits"), col("n_exact_hits"))
      .orderBy("doc_id")
  }

  /** q191: SemDeDup — semantic near-dup removal scoped to embedding
    * clusters (label-mean centroid assignment, the q29 cluster model;
    * production swaps in a kmeansAssign codebook at k≈√N). τ = 0.35 on
    * the isotropic fixture ≈ the 99.9th within-cluster percentile, so
    * drops are the genuinely-entangled tail, not half the corpus.
    */
  def q191SemDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.widen(Tables.embeddings(spark, dir))
    VectorOps.semDedup(
      VectorOps.ivfAssign(e, "vec_id", "embedding", "label", 1), 0.35)
  }

  /** q200/q203/q204 (round-12 verdict item 5): replica-0 stratum twins
    * of the three pair-quadratic operators whose full sf10 oracles are
    * CTE-infeasible (q165's all-pairs containment, q185's all-pairs
    * τ-sweep, q191's 2e9-pair within-cluster scan). Each runs the SAME
    * operator body over `id < Tables.ReplicaZeroBound` — on the driver
    * fixtures that is the whole table (stratum ≡ parent, asserted by
    * StratumSpec), on the ScaleUp fixtures it is exactly the original
    * sf0.1 rows, where the DuckDB replay is feasible (measured at
    * /tmp/sf10: 116 s / 22 s / 1 s) — converting the five families'
    * sf10 property evidence into hash evidence. The filter is a plain
    * parquet-pushed predicate; everything downstream is the parent's
    * plan.
    */
  def q200ContainmentStratum(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(
      Tables.documents(spark, dir).filter(col("doc_id") < Tables.ReplicaZeroBound),
      "doc_id", "text", 3, 0.9)

  def q203YieldStratum(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupYieldCurve(
      Tables.documents(spark, dir).filter(col("doc_id") < Tables.ReplicaZeroBound),
      "doc_id", "text")

  def q204SemdedupStratum(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.widen(Tables.embeddings(spark, dir))
      .filter(col("vec_id") < Tables.ReplicaZeroBound)
    VectorOps.semDedup(
      VectorOps.ivfAssign(e, "vec_id", "embedding", "label", 1), 0.35)
  }

  /** q187: per-source mean-embedding cosine matrix — which source
    * pairs run semantically hot (mirror/overlap feeds) before paying
    * document-grain near-dup across them. The doc→source join is the
    * only corpus-width stage; everything after operates on |sources|
    * rows.
    */
  def q187SourceSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val e = Tables.embeddings(spark, dir)
    VectorOps.centroidSimilarityMatrix(
      e.join(d, e("vec_id") === d("doc_id"))
        .select(col("source"), col("embedding")),
      "source", "embedding")
      .select(col("group_a").as("source_a"), col("group_b").as("source_b"),
        col("cos_sim"))
  }

  /** MinHash+LSH candidates verified with exact Jaccard — equals q24
    * whenever LSH recall holds (per-pair miss ~2.2e-4 at the j = 0.8
    * boundary, ~3e-8 by j ≥ 0.9 — see Dedup.minhashLshPairs), hence
    * shares its oracle.
    */
  def q25MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text")

  /** SimHash banded near-dup pairs (hash-specific — ScalaTest-verified). */
  def q26Simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, dir), "doc_id", "text")

  /** 128-bit SimHash banded near-dup pairs — q26's scale path (2³²
    * buckets/chunk; see Dedup.simhash128Pairs for the collision math).
    */
  def q158Simhash128(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash128Pairs(Tables.documents(spark, dir), "doc_id", "text")

  /** Blocked edit-distance fuzzy dedup: first-3-tokens blocking (block
    * size capped at 64 — the df-cap analog), exact levenshtein ≤ 20 over
    * 120-char heads. See Dedup.editBlockedPairs for the recall contract.
    */
  def q163EditNeardup(spark: SparkSession, dir: String): DataFrame =
    Dedup.editBlockedPairs(Tables.documents(spark, dir), "doc_id", "text")

  /** Two-pass blocked edit-distance dedup (round-9 verdict item 4):
    * first-3-tokens pass UNION last-3-tokens pass, closing the
    * single-key recall gap for head-edited near-dups. Strict superset
    * of q163 by construction (EditDualSpec pins it on a head-edited
    * fixture).
    */
  def q166EditNeardupDual(spark: SparkSession, dir: String): DataFrame =
    Dedup.editBlockedPairsDual(Tables.documents(spark, dir), "doc_id", "text")

  /** Directional shingle-containment near-dups ≥ 0.9 (quotes / excerpts /
    * subset docs — pairs symmetric Jaccard dilutes below threshold). See
    * Dedup.containmentPairs.
    */
  def q165ContainmentPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(spark, dir), "doc_id", "text", 3, 0.9)

  /** TF-weighted 3-gram Jaccard near-dups ≥ 0.5 over the df-capped gram
    * space (multiplicity-aware — repeated boilerplate no longer
    * saturates the set measure). See Dedup.weightedJaccardPairs.
    */
  def q176WeightedJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.weightedJaccardPairs(Tables.documents(spark, dir), "doc_id", "text")

  /** MMR-diversified top-5 from the exact top-20 (λ=0.7) over the
    * q28 query/corpus split. See VectorOps.mmrRerank.
    */
  def q179MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    VectorOps.mmrRerank(e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
      "vec_id", "vec_id", "embedding", 20, 5, 0.7)
  }

  /** Embedding-cosine near-dup pairs ≥ 0.45 (threshold calibrated to the
    * fixture's cosine distribution; reference's 0.75/0.95 bands are empty
    * on the synthetic vectors), via the BLOCKED exact all-pairs scan
    * (`VectorOps.nearDupPairsBlocked`) — EXACT at any τ.
    *
    * Why not a recall-approximate candidate scheme: τ = 0.45 sits at the
    * noise floor of these near-isotropic vectors, where no sublinear
    * method keeps exact recall (measured: IVF probe-4 still misses
    * qualifying pairs at sf0.1 and prunes only 8%; sign-LSH needs ~300
    * 16-bit bands for 99% recall while 60%+ of random pairs collide
    * anyway — and a 10x-rehearsal threshold sweep showed a projection
    * band join prunes almost nothing at ANY τ ≤ 0.95 in 384 dims, where
    * the exact-recall bucket width exceeds the projected data spread).
    * The quadratic is intrinsic; what the implementation controls is its
    * DISTRIBUTION SHAPE, and the blocked form gets it right: B² bounded
    * tasks, O(N·B) data movement, tight primitive scoring loops —
    * 75 s → ~3 s at the 10x rehearsal for identical output. Approximate
    * scale paths for real thresholds remain `q62_lsh_neardup`
    * (VectorOps.signLshNearDup) and `nearDupPairsBucketedDriven`
    * (cluster structure); VectorOpsSpec's crossJoin reference is the
    * equality baseline.
    */
  def q27EmbedNeardup(spark: SparkSession, dir: String): DataFrame =
    VectorOps.nearDupPairsBlocked(Tables.embeddings(spark, dir), "vec_id", "embedding", 0.45)

  /** Sign-LSH near-dup over hash-embedded documents at τ = 0.95 — the
    * banded candidate generation + exact-verify shape that scales
    * (bounded buckets, no crossJoin). No SQL oracle (embeddings are
    * produced by the Scala embedder); equality with the brute-force scan
    * is pinned by VectorOpsSpec.
    */
  def q62LshNeardup(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.embed.Embedder.withEmbedding(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), "text", "vec")
    VectorOps.signLshNearDup(emb, "doc_id", "vec", 0.95)
  }

  /** Brute-force exact cosine top-5 for the first 10 vectors as queries. */
  def q28KnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    VectorOps.knnBrute(
      e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
      "vec_id", "vec_id", "embedding", 5)
      .orderBy("query_id", "rank")
  }

  /** IVF-pruned ANN over the labeled clusters, probe 2 of 10. */
  def q29KnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    VectorOps.knnIvf(
      e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
      "vec_id", "vec_id", "embedding", "label", 5)
      .orderBy("query_id", "rank")
  }

  /** recall@10 with expected-label membership (reference quality gate). */
  def q30RecallAtK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    VectorOps.recallAtK(
      e.filter(col("vec_id") < 20), e.filter(col("vec_id") >= 20),
      "vec_id", "vec_id", "embedding", "label", 10)
  }

  /** MRR/nDCG@10 retrieval eval — the rank-quality twin of q30's
    * recall gate (a pipeline that gates on recall alone ships rank
    * regressions silently; production gates track all three).
    */
  def q93RankMetrics(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    VectorOps.rankMetrics(
      e.filter(col("vec_id") < 20), e.filter(col("vec_id") >= 20),
      "vec_id", "vec_id", "embedding", "label", 10)
  }

  /** Hard-negative mining (top-5 wrong-label by cosine) for the same
    * query/corpus split as q28/q30/q93 — the training-data face of the
    * retrieval stack.
    */
  def q95HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    VectorOps.hardNegatives(
      e.filter(col("vec_id") < 20), e.filter(col("vec_id") >= 20),
      "vec_id", "vec_id", "embedding", "label", 5)
  }

  /** Per-source token-length histogram in power-of-two buckets — the
    * length-distribution profile every ingest monitors (a source whose
    * mass shifts buckets between batches changed its upstream). Bucket
    * = floor(log2(n_tokens)) computed EXACTLY as length(bin(n)) - 1 —
    * integer bit logic, engine-identical, where ln(x)/ln(2) would sit
    * an ulp below 6.0 at exactly 64 tokens. One partial-aggregable
    * group-by.
    */
  def q96LengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        (length(bin(TextAnalysis.tokenCount(col("text")).cast("long"))) - 1)
          .cast("int").as("bucket"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "bucket")

  /** Widening threshold cascade 0.45 → 0.30 (reference main.py:374-381). */
  def q31ThresholdCascade(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    VectorOps.thresholdCascade(
      e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
      "vec_id", "vec_id", "embedding", 0.45, 0.30)
  }

  /** Brute-force top-k through the bounded TopK aggregator: q28's
    * `knnBrute` — kept as its own catalog row, so the two share an oracle.
    */
  def q48TopkAggregate(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    VectorOps.knnBrute(
      e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
      "vec_id", "vec_id", "embedding", 5)
      .orderBy("query_id", "rank")
  }

  /** End-to-end training-data curation DAG (the C4/RefinedWeb recipe over
    * this library's own operators): language-ID filter → quality-score
    * floor → canonical-fingerprint exact dedup (keep lowest doc_id) →
    * deterministic train/holdout split. Each stage is an operator already
    * oracle-verified in isolation (q15, q16, q23, q59); this query pins
    * the COMPOSITION. One narrow scan-stage pipeline until the dedup
    * group-by — the only shuffle before the presentation sort.
    */
  def q67Curation(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"),
        TextAnalysis.langId(col("text")).as("lang_pred"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .filter(col("lang_pred") === "en" && col("quality") >= 0.5)
      .withColumn("fp", Dedup.canonicalFingerprint(col("text")))
    val keeper = Window.partitionBy("fp").orderBy("doc_id")
    scored
      .withColumn("rk", row_number().over(keeper))
      .filter(col("rk") === 1)
      .withColumn("bucket",
        conv(substring(md5(col("doc_id").cast("string")), 1, 1), 16, 10).cast("int"))
      .select(col("doc_id"), col("lang_pred"), col("quality"),
        when(col("bucket") <= 12, "train").otherwise("holdout").as("split"))
      .orderBy("doc_id")
  }

  /** Corpus profiling with mergeable sketches (the routine first pass of
    * any training-data pipeline): HLL distinct fingerprints + quantile
    * sketch over per-doc token counts — one narrow scan, partial sketches
    * merge at the single reduce, no row ever shuffles. The EXACT ndv /
    * exact percentiles computed alongside are the verification anchor:
    * the output carries the exact values (oracle hash-checks them) plus
    * `*_ok` booleans asserting each sketch landed within tolerance
    * (±5% ndv; ±max(5%, 1 token) quantile) — so the driver's exact-hash
    * harness becomes a tolerance check on the sketches. At 100 TB only
    * the sketch half runs; the exact half is what this fixture-scale
    * gate is for.
    */
  def q68SketchProfile(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(
      md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"),
      graft.text.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    d.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("ndv_exact"),
        approx_count_distinct(col("fp"), 0.02).as("hll"),
        expr("percentile(n_tokens, 0.5D)").as("p50e"),
        expr("percentile(n_tokens, 0.9D)").as("p90e"),
        percentile_approx(col("n_tokens"), lit(0.5), lit(100)).as("p50a"),
        percentile_approx(col("n_tokens"), lit(0.9), lit(100)).as("p90a"))
      .select(
        col("n_docs"), col("ndv_exact"),
        (abs(col("hll") - col("ndv_exact"))
          <= col("ndv_exact").cast("double") * 0.05).as("hll_ok"),
        round(col("p50e"), 4).as("p50_tokens"),
        round(col("p90e"), 4).as("p90_tokens"),
        (abs(col("p50a").cast("double") - col("p50e"))
          <= greatest(col("p50e") * 0.05, lit(1.0))).as("p50_ok"),
        (abs(col("p90a").cast("double") - col("p90e"))
          <= greatest(col("p90e") * 0.05, lit(1.0))).as("p90_ok"))
  }

  /** IVF-bucketed embedding near-dup (the third dedup regime: threshold
    * sits inside genuine cluster structure): candidates = pairs sharing
    * one of their 2 nearest centroids, then exact-cosine verify. The
    * oracle mirrors the probe logic exactly, so recall restriction is
    * part of the contract, not a silent loss — cf. q27 (exact reference
    * scan) and q62 (sign-LSH for cluster-free corpora).
    *
    * The cluster count is DERIVED from corpus size — k = ⌈√N⌉ learned
    * by kmeansFit (3 Lloyd rounds, q124's trainer) — instead of taken
    * from the fixture's fixed label column. That executes the k ∝ √N
    * discipline the earlier registration only documented: with fixed
    * labels, in-cluster pair count grows quadratically as rows grow
    * (measured 11.2× wall at the 10× rehearsal — the fixture has no
    * more clusters to give); with k ∝ √N the expected bucket size stays
    * ~√N and per-probe pair work is ~N·√N-bounded at any scale. Both
    * the kmeans rounds (argmin over driver-held centroids, one shuffle
    * per recenter) and the bucket verify remain fully oracle-mirrored —
    * the DuckDB side unrolls the same 3 rounds with LIMIT-computed k.
    *
    * The fit is SPLIT from the assignment (round-8 verdict item 1): the
    * TRAINING runs once per table directory — the Lloyd loop, the
    * kmeans labeling, and the per-label IVF mean centroids — and the
    * resulting centroid array (the model artifact, k×dim doubles on the
    * driver) is memoized in `q69ModelCache`; every further invocation
    * probes those centroids directly (`nearDupPairsBucketedDriven`) —
    * no count, no Lloyd rounds, no kmeans re-assignment, no N×k window.
    * That is what a production pipeline does: centroids persist as a
    * model artifact; queries probe. The probe semantics are equal by
    * construction AND by spec (IvfAssignDrivenSpec: driven ≡ window
    * form row-for-row on live fixtures). Cache contract: keyed on the
    * literal `dir` string; if the data under a dir changes, call
    * `q69InvalidateCentroids()`. The map is a ConcurrentHashMap and the
    * cached arrays are never mutated, so concurrent catalog streams
    * share one fit safely (computeIfAbsent makes racing first-callers
    * block on a single training run).
    */
  private val q69ModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Array[Double])]]()

  /** Drop all memoized q69 centroid fits (call after rewriting fixture
    * data in place; tests across distinct dirs never need it). */
  def q69InvalidateCentroids(): Unit = q69ModelCache.clear()

  def q69BucketedNeardup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val ivfCent = q69ModelCache.computeIfAbsent(dir, _ => {
      val n = e.count() // one bounded-scalar job, paid once per dir
      val k = math.ceil(math.sqrt(n.toDouble)).toInt
      val kc = VectorOps.kmeansTrain(Tables.widen(e), "vec_id", "embedding", k, 3)
      val fitted = VectorOps.kmeansAssign(Tables.widen(e), "vec_id", "embedding", kc)
        .select(col("id").as("vec_id"), col("cl"))
      VectorOps.ivfCentroids(e.join(fitted, "vec_id"), "vec_id", "embedding", "cl")
    })
    VectorOps.nearDupPairsBucketedDriven(e, "vec_id", "embedding", ivfCent, 0.45)
  }

  /** C4-style cross-document line dedup: a "line" occurring in more than
    * one place is kept only at its first occurrence (min doc_id, then
    * position); each document is reassembled from its surviving lines.
    * The fixture has no newline structure, so lines are fixed 10-word
    * windows (q19's chunker) — the semantics (global first-occurrence
    * dedup + reassembly, dropping documents left empty) are the C4
    * boilerplate-removal pass verbatim. 100 TB shape: each line's
    * winner is a map-side partially aggregated argmin on the line text
    * (a hot boilerplate line ships one partial per map task, not every
    * copy; pinned on a hot-line fixture in ScaleOpsSpec); reassembly is
    * a narrow per-doc aggregation.
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                lineWords: Int, carry: Seq[String] = Nil): DataFrame = {
    val lines = docs
      .select(col(idCol) +: carry.map(col) :+
        posexplode(graft.text.Chunker.wordChunks(col(textCol), lineWords)): _*)
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "line")
    // first-owner via groupBy(min(struct)) + join back, NOT a
    // line-partitioned window: a hot boilerplate line ("all rights
    // reserved") appears in billions of docs at web scale, and a window
    // would funnel every copy through one reducer with no partial
    // aggregation (the exact shape C4's own dedup exists to handle).
    // min(struct(id, i)) ≡ the (id, i)-ordered first row; the groupBy
    // partial-aggregates map-side and the join back on the line key is
    // AQE skew-splittable. collect_list skips the nulls the when()
    // leaves for dropped lines.
    val winner = lines.groupBy("line")
      .agg(min(struct(col(idCol), col("i"))).as("win"))
    lines.join(winner, Seq("line"))
      .withColumn("kept", struct(col(idCol), col("i")) === col("win"))
      .groupBy(idCol, carry: _*)
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"), struct(col("i"), col("line"))))),
            x => x.getField("line")), " ").as("kept_text"))
      .filter(col("n_kept") > 0)
      .select(col(idCol) +: carry.map(col) :+ col("n_kept") :+
        (col("n_lines") - col("n_kept")).as("n_dropped") :+ col("kept_text"): _*)
      .orderBy(idCol)
  }

  def q85LineDedup(spark: SparkSession, dir: String): DataFrame =
    lineDedup(Tables.documents(spark, dir), "doc_id", "text", 10)

  /** Partial-sketch merge across groups — the algebra that makes sketches
    * the 100 TB profiling tool: per-lang HLL sketches are built in one
    * pass (each a mergeable partial, exactly what every executor would
    * hold), then `hll_union_agg` merges the GROUP sketches into the
    * global estimate — no second scan of the data. Output: one row per
    * lang plus an 'ALL' row from the merged union. Exact ndv computed
    * alongside is the verification anchor (oracle hash-checks it); the
    * `hll_ok` boolean asserts each sketch — including the merged one —
    * landed within ±max(5%, 2). At 100 TB only the sketch half runs.
    */
  def q86SketchMerge(spark: SparkSession, dir: String): DataFrame = {
    val tol = (est: Column, exact: Column) =>
      abs(est.cast("double") - exact.cast("double")) <=
        greatest(exact.cast("double") * 0.05, lit(2.0))
    val d = Tables.documents(spark, dir).select(col("lang"),
      md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))
    // |langs|-row sketch table, materialized EAGERLY: it feeds both the
    // per-lang rows and the union-merge, and leaving it as a shared
    // lazy subtree made the final plan depend on whether AQE's runtime
    // exchange reuse won the race between the two consumers (codegen
    // span count flapped 7↔6 in full-catalog audits — the q24/q103
    // order-dependence class, reuse-timing flavor). Checkpointing the
    // metadata-sized table is also the honest 100 TB shape: the corpus
    // pass happens once, both consumers read |langs| rows.
    val per = d.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("fp")).as("ndv_exact"),
      hll_sketch_agg(col("fp"), lit(12)).as("sk"))
      .localCheckpoint(true)
    val langRows = per.select(col("lang"), col("n_docs"), col("ndv_exact"),
      tol(hll_sketch_estimate(col("sk")), col("ndv_exact")).as("hll_ok"))
    val allRow = d.agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("ndv_exact"))
      .crossJoin(per.agg(hll_union_agg(col("sk")).as("usk"))
        .select(hll_sketch_estimate(col("usk")).as("est")))
      .select(lit("ALL").as("lang"), col("n_docs"), col("ndv_exact"),
        tol(col("est"), col("ndv_exact")).as("hll_ok"))
    langRows.unionByName(allRow).orderBy("lang")
  }

  /** Benchmark decontamination — the train-set hygiene pass every LLM
    * pipeline runs: flag training documents sharing any word 4-gram with
    * the held-out eval set (stand-in: doc_id % 97 == 0, the way a
    * benchmark suite is a tiny fixed slice of doc space). The eval
    * shingle set is DISTINCT'd and broadcast — eval suites are ~10⁵
    * shingles even for big benchmarks, so at 100 TB the corpus side
    * stays shuffle-free: one narrow scan probing a broadcast hash set,
    * then the per-doc count aggregation. Output: contaminated doc_id +
    * how many distinct shingles it shares.
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    isEval: Column, n: Int): DataFrame = {
    val ev = docs.filter(isEval)
      .select(explode(Dedup.wordShingles(col(textCol), n)).as("s")).distinct()
    // (id, s) is already distinct: wordShingles dedups per doc.
    // widen: the per-row shingle UDF must not run on the fixture's
    // single input split (Tables.widen is a no-op on well-split input)
    Tables.widen(docs.filter(!isEval))
      .select(col(idCol), explode(Dedup.wordShingles(col(textCol), n)).as("s"))
      .join(broadcast(ev), "s")
      .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
      .orderBy(idCol)
  }

  def q87Decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminate(Tables.documents(spark, dir), "doc_id", "text",
      col("doc_id") % 97 === 0, 4)

  /** Training sequence packing, concat-and-chunk form: within each shard
    * (source), documents are laid head-to-tail in doc_id order and cut
    * into 512-token bins — a document belongs to the bin its first token
    * lands in. Per-shard windows, NOT a global sort: that is how packing
    * actually runs at 100 TB (each shard packs independently; bin ids
    * are (shard, bin)), so the running sum never needs a single-
    * partition exchange. Output: per-bin document count and token mass.
    */
  /** Core packing: expects (shard, id, n_tokens) columns. */
  def packSequences(d: DataFrame, shard: String, id: String,
                    tokens: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(shard).orderBy(id)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("start_tok", sum(tokens).over(w) - col(tokens))
      .withColumn("bin", floor(col("start_tok") / budget.toDouble).cast("long"))
      .groupBy(shard, "bin")
      .agg(count(lit(1)).as("n_docs"), sum(tokens).as("sum_tokens"))
      .orderBy(shard, "bin")
  }

  def q88PackSequences(spark: SparkSession, dir: String): DataFrame =
    packSequences(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
      "source", "doc_id", "n_tokens", 512L)

  /** Keep-best dedup: exact-duplicate clusters (q23's canonical
    * fingerprint) resolved by quality, not arrival — the keeper is the
    * member with the MOST tokens (tie → lowest doc_id), which is what
    * production dedup does (keep the richest copy, drop truncated
    * variants). Same single group-shuffle shape as q23; the per-cluster
    * argmax is a bounded-state window over the fingerprint partition.
    */
  def keeperDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val d = docs.select(col(idCol),
      Dedup.canonicalFingerprint(col(textCol)).as("fp"),
      graft.text.TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    // argmax via ONE map-side-combined aggregate, not an fp-partitioned
    // window: a mass-duplicated page makes its fingerprint a hot key at
    // web scale. min(struct(−n_tokens, id)) ≡ the (n_tokens desc,
    // id asc) first row; strictly fewer exchanges than the window form
    // (no join either).
    d.groupBy("fp")
      .agg(count(lit(1)).as("n_docs"),
        min(struct((-col("n_tokens")).as("neg"), col(idCol).as("kid"))).as("win"))
      .filter(col("n_docs") > 1)
      .select(col("fp"), col("win.kid").as("keeper"), col("n_docs"),
        (-col("win.neg")).as("keeper_tokens"))
      .orderBy("fp")
  }

  def q89KeeperDedup(spark: SparkSession, dir: String): DataFrame =
    keeperDedup(Tables.documents(spark, dir), "doc_id", "text")

  /** Quality filtering by GLOBAL percentile — the corpus-relative form
    * of q16/q67's fixed-threshold filter (real pipelines cut the bottom
    * quartile of the corpus, not an absolute score, so the threshold
    * must be computed from the data). One narrow scan computes scores;
    * the p25 scalar reduces to the driver and re-broadcasts (a
    * 1-row crossJoin — free at any scale); the filter is then a second
    * narrow pass. At 100 TB the exact percentile becomes
    * percentile_approx (q68 demonstrates the sketch-vs-exact tolerance
    * gate for precisely this swap). Threshold floor-rounded to 4 dp on
    * both sides per the engine-parity rounding rule.
    */
  def q90QualityCutoff(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
    val thr = d.agg(
      (floor(expr("percentile(quality, 0.25D)") * 10000.0 + 0.5) / 10000.0).as("p25"))
    d.crossJoin(broadcast(thr))
      .filter(col("quality") >= col("p25"))
      .select(col("doc_id"), col("quality"), col("p25"))
      .orderBy("doc_id")
  }

  /** Deterministic source-mixture sampling — the data-mixing op every
    * training run starts with: keep a per-source fraction (in 16ths,
    * e.g. src0 16/16 … src4 2/16) chosen by an md5 bucket of doc_id, so
    * the sample is reproducible row-by-row (re-runs, resumes, and audit
    * all see the same subset — why mixtures are hashed, never rand()).
    * Pure narrow filter in the scan stage: no shuffle, no state, and at
    * 100 TB the bucket predicate pushes into the scan like any other.
    */
  def q91SourceMixture(spark: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 1), 16, 10)
      .cast("int")
    val rate = when(col("source") === "src0", 16)
      .when(col("source") === "src1", 12)
      .when(col("source") === "src2", 8)
      .when(col("source") === "src3", 4)
      .otherwise(2)
    Tables.documents(spark, dir)
      .filter(bucket < rate)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  /** Incremental dedup — the form dedup actually takes on a live lake:
    * a NEW batch is cleaned against the EXISTING corpus's fingerprint
    * index plus itself, never re-deduping the whole lake. Three parts,
    * each already the scale-correct primitive: (a) anti-join the batch
    * against the lake's fp index (at 100 TB that index is a bucketed
    * table co-partitioned with this join — BucketingSpec pins the
    * no-Exchange plan for exactly this; here it shuffle-joins), (b)
    * first-occurrence keep WITHIN the batch (q23's window), (c) the
    * survivors are what appends. Stand-in split: lake = doc_id < 80%
    * boundary, batch = the rest.
    */
  def incrementalDedup(batch: DataFrame, lakeFps: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val fped = batch.select(col(idCol),
      Dedup.canonicalFingerprint(col(textCol)).as("fp"))
    val fresh = fped.join(lakeFps, Seq("fp"), "left_anti")
    // min(id) per fingerprint — one map-side-combined aggregate instead
    // of an fp-partitioned first-row window (hot-fp safety, q89's rule)
    fresh.groupBy("fp").agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col("fp"))
      .orderBy(idCol)
  }

  def q92IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the 80% boundary is a scalar agg broadcast back (q90's pattern)
    val cut = docs.agg(floor(max("doc_id") * 0.8).cast("long").as("cut"))
    val withCut = docs.crossJoin(broadcast(cut))
    val lakeFps = withCut.filter(col("doc_id") <= col("cut"))
      .select(Dedup.canonicalFingerprint(col("text")).as("fp")).distinct()
    incrementalDedup(withCut.filter(col("doc_id") > col("cut")),
      lakeFps, "doc_id", "text")
  }

  /** The full modern training-data pipeline as ONE declarative plan —
    * the composition a 100 TB curation run actually executes, each
    * stage an operator already oracle-verified in isolation:
    * mixture sample (q91's md5 16ths, eval slice excluded) → quality
    * floor (q16's score ≥ 0.5) → cross-doc line dedup with reassembly
    * (q85) → exact dedup first-keep on the deduped text (q23) →
    * decontaminate against the raw eval slice's 4-gram shingles (q87)
    * → pack into 512-token bins per source (q88). Catalyst sees the
    * whole thing at once: the first three predicates all run in the
    * scan stage, and the only wide operations are the ones the
    * operators themselves own (line window, fp window, broadcast
    * shingle probe, per-shard pack windows). Output: the per-bin
    * manifest a trainer would consume.
    */
  def q98CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 1), 16, 10)
      .cast("int")
    val rate = when(col("source") === "src0", 16)
      .when(col("source") === "src1", 12)
      .when(col("source") === "src2", 8)
      .when(col("source") === "src3", 4)
      .otherwise(2)
    val isEval = col("doc_id") % 97 === 0
    // 1+2: mixture sample, eval excluded, quality floor — all narrow
    val sampled = docs.filter(!isEval && bucket < rate &&
      TextAnalysis.qualityScore(col("text")) >= 0.5)
    // 3: cross-doc line dedup, source carried through the reassembly
    val lineDeduped = lineDedup(sampled, "doc_id", "text", 10, carry = Seq("source"))
    // 4: exact dedup (first occurrence) on the REASSEMBLED text
    val fpw = Window.partitionBy("fp").orderBy("doc_id")
    val exactDeduped = lineDeduped
      .withColumn("fp", Dedup.canonicalFingerprint(col("kept_text")))
      .withColumn("rk", row_number().over(fpw))
      .filter(col("rk") === 1)
    // 5: drop docs sharing any 4-gram with the raw eval slice
    val evalShingles = docs.filter(isEval)
      .select(explode(Dedup.wordShingles(col("text"), 4)).as("s")).distinct()
    val contaminated = exactDeduped
      .select(col("doc_id"), explode(Dedup.wordShingles(col("kept_text"), 4)).as("s"))
      .join(broadcast(evalShingles), "s")
      .select("doc_id").distinct()
    val clean = exactDeduped.join(contaminated, Seq("doc_id"), "left_anti")
    // 6: pack the survivors into 512-token bins per source
    packSequences(
      clean.select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("kept_text")).cast("long").as("n_tokens")),
      "source", "doc_id", "n_tokens", 512L)
  }

  /** One-pass column profiler — the data-quality sweep run before any
    * table joins a pipeline: per column, row/null counts and exact ndv.
    * The table is MELTED (explode of (col_name, value-as-string)
    * structs) so one scan and one group-by profile every column —
    * the per-column-query alternative scans the table once per column.
    * ndv counts are computed on each engine's own string form, which is
    * injective per engine, so the COUNTS agree even where float
    * formatting differs. At 100 TB swap countDistinct for the HLL
    * sketch under q68/q86's tolerance gate; the melt shape is unchanged.
    */
  def q99ColumnProfile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    Tables(spark, dir, "orders")
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("v"))): _*)).as("kv"))
      .select(col("kv.col_name").as("col_name"), col("kv.v").as("v"))
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col("v")).as("ndv"))
      .orderBy("col_name")
  }

  /** Deterministic epoch shuffle into training shards — the global
    * reshuffle a pre-training run does per epoch. The shuffle key is
    * md5(epoch_seed : doc_id): shard assignment AND within-shard order
    * both derive from it, so the epoch is fully reproducible from the
    * seed alone and changes completely when the seed does. Scale shape:
    * NO global sort — the only exchange is the per-shard window
    * (partition by shard), and within-shard ordering is each reducer's
    * local sort; at 100 TB shard count rises with the cluster, the
    * pattern is unchanged.
    */
  def q107CorpusShuffle(spark: SparkSession, dir: String): DataFrame = {
    val nShards = 8
    val skey = md5(concat(lit("epoch0:"), col("doc_id").cast("string")).cast("binary"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), skey.as("skey"))
      .withColumn("shard",
        pmod(conv(substring(col("skey"), 1, 2), 16, 10).cast("int"), lit(nShards)))
      .withColumn("pos",
        row_number().over(Window.partitionBy("shard").orderBy("skey", "doc_id")))
      .select("doc_id", "shard", "pos", "skey")
      .orderBy("shard", "pos")
  }

  /** Quality-weighted sampling (the FineWeb-style retention curve):
    * keep a document with probability quality⁴ — acceptance rises
    * steeply with the q16 score instead of a hard cutoff (q90), so
    * borderline text is thinned, not guillotined. The coin is
    * md5-derived (top 60 bits / 2⁶⁰): exact integer-over-power-of-two
    * division, so both engines compute the identical double and the
    * SAME sample — reproducible, re-runnable, and seedable per epoch.
    * quality⁴ is plain multiplication (pow() differs by ulps across
    * libm builds; products do not). Pure scan-stage expressions.
    */
  def q108WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val u = (conv(substring(
        md5(concat(lit("sample7:"), col("doc_id").cast("string")).cast("binary")),
        1, 15), 16, 10).cast("long").cast("double") / lit(math.pow(2, 60)))
    val q = col("quality")
    Tables.documents(spark, dir)
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("keep_prob", q * q * q * q)
      .withColumn("u", u)
      .filter(col("u") < col("keep_prob"))
      .select(col("doc_id"), col("quality"),
        (floor(col("keep_prob") * 10000.0 + 0.5) / 10000.0).as("keep_prob"))
      .orderBy("doc_id")
  }

  /** Sorted-neighborhood near-dup candidates (the Hernández–Stolfo SNM
    * merge/purge pass) — the sixth dedup regime, SORT-based where
    * q24/q25/q62/q69 are index/bucket-based: records sort by a canonical
    * blocking key (here the sorted-distinct-word string) and only rows
    * within a w-row window of the sorted order become candidates, then
    * exact Jaccard verifies. Scale shape: blocks (first key word) bound
    * the sort, and the window OFFSET is part of the equi-join key — each
    * row explodes into w probes (rk+1..rk+w) that hash-join on
    * (blk, rank), so candidate fan-out is exactly w per row at the JOIN,
    * not just after a post-join filter (a blk-only join materializes
    * |block|² intermediate rows first — measured 45 s vs 3 s at the 10x
    * rehearsal scale, where the hottest first-word block holds thousands
    * of docs). No inverted index materialized. Like q69, the window's recall
    * restriction is CONTRACTUAL: the oracle mirrors the exact same
    * block/sort/window logic, so a pair whose keys diverge early is
    * excluded identically on both sides (SNM's documented tradeoff).
    */
  def q111SortedNeighborhood(spark: SparkSession, dir: String): DataFrame = {
    val w = 2
    val ws = array_sort(array_distinct(split(lower(trim(col("text"))), "\\s+")))
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), ws.as("ws"))
      .withColumn("key", array_join(col("ws"), " "))
      .filter(col("key") =!= "")
      .withColumn("blk", substring_index(col("key"), " ", 1))
    val ranked = keyed.withColumn("rk",
      row_number().over(Window.partitionBy("blk").orderBy("key", "doc_id")))
    val left = ranked.select(col("blk"), col("rk"), col("doc_id").as("a"), col("ws").as("wa"))
      .withColumn("rkb", explode(array((1 to w).map(j => col("rk") + lit(j)): _*)))
    val right = ranked.select(col("blk"), col("rk").as("rkb"),
      col("doc_id").as("b"), col("ws").as("wb"))
    left.join(right, Seq("blk", "rkb"))
      .withColumn("jaccard",
        floor(size(array_intersect(col("wa"), col("wb"))).cast("double") /
          size(array_union(col("wa"), col("wb"))) * 10000.0 + 0.5) / 10000.0)
      .filter(col("jaccard") >= 0.8)
      .select(col("a"), col("b"), col("jaccard"))
      .orderBy("a", "b")
  }

  /** Bloom-prefiltered incremental dedup — q92's EXACT semantics with
    * the access pattern a 100 TB lake demands. q92 shuffle-joins the new
    * batch against the full lake fingerprint index; here the SMALL side
    * (the batch) is summarized into a Bloom filter on the driver and
    * shipped to the lake scan as a narrow membership predicate, so the
    * lake index emits only fps that MIGHT be in the batch (~|batch∩lake|
    * plus fpp·|lake| false positives) instead of all of them. That
    * survivor set is broadcast, turning the anti-join into a
    * broadcast anti-join — the 100 TB lake index is never shuffled at
    * all. The result is exact: a lake fp rejected by the Bloom filter is
    * provably absent from the batch, so dropping it cannot change the
    * anti-join; false positives merely ride into the exact join and
    * fail to match. Same oracle as q92.
    */
  def q115BloomPrefilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cut = docs.agg(floor(max("doc_id") * 0.8).cast("long").as("cut"))
    val withCut = docs.crossJoin(broadcast(cut))
    val batch = withCut.filter(col("doc_id") > col("cut"))
      .select(col("doc_id"), Dedup.canonicalFingerprint(col("text")).as("fp"))
    // the batch is the small, known-size side (an ingest increment); its
    // cardinality is one narrow count — in production it's the ingest
    // manifest's row count, not a job
    val n = math.max(batch.count(), 1L)
    val bloom = batch.stat.bloomFilter("fp", n, 0.01)
    val bloomB = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((fp: String) => fp != null && bloomB.value.mightContain(fp))
    val lakeHits = withCut.filter(col("doc_id") <= col("cut"))
      .select(Dedup.canonicalFingerprint(col("text")).as("fp"))
      .filter(mightContain(col("fp")))
      .distinct()
    val fresh = batch.join(broadcast(lakeHits), Seq("fp"), "left_anti")
    val first = Window.partitionBy("fp").orderBy("doc_id")
    fresh.withColumn("rk", row_number().over(first))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("fp"))
      .orderBy("doc_id")
  }

  /** Exact duplicated-substring spans — the substring-level exact dedup
    * of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"), which removes verbatim repeated passages rather
    * than whole documents. Suffix arrays don't distribute; the
    * equivalent bounded form does: a word 5-gram occurring ≥ 2 times
    * anywhere in the corpus (cross-doc OR within-doc) marks its
    * positions duplicated, and per doc the marked positions merge into
    * maximal spans (two shingle starts p < q overlap or touch iff
    * q − p ≤ k). Shingling is one tight-loop UDF per document
    * (`Dedup.positionedShingles` — the native `transform(sequence(...))`
    * chain is CodegenFallback interpreted per element, measured ~20×
    * slower at 260k shingles, see Dedup.scala); the ONE wide op is the
    * occurrence count group-by, exactly q24's inverted-index
    * discipline; the islands pass is a per-doc window. Integer
    * positions only — no rounding surface anywhere.
    */
  def q116DupSpans(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val positioned = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.dedup.Dedup.positionedShingles(col("text"), k)).as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"), col("e.s").as("s"))
    val dupShingles = positioned.groupBy("s")
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select("s")
    val marked = positioned.join(dupShingles, "s")
    val ord = Window.partitionBy("doc_id").orderBy("pos")
    val run = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(ord) <= k, 0).otherwise(1))
      .withColumn("island", sum("brk").over(run))
      .groupBy(col("doc_id"), col("island"))
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + (k - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_shingles"))
      .select("doc_id", "span_start", "span_end", "n_shingles")
      .orderBy("doc_id", "span_start")
  }

  /** Span removal — the second half of substring dedup: drop every word
    * position covered by a q116 span and reassemble the surviving text.
    * The positions⟖spans overlap join is keyed on doc_id (spans per doc
    * are few), so at 100 TB it's a co-keyed join plus a per-row range
    * test — no non-equi blow-up; reassembly is one per-doc sort inside
    * the collect_list agg. Emits per-doc salvage accounting a curation
    * run logs: words kept/dropped and the cleaned text.
    */
  def q117SpanRemoval(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val spans = q116DupSpans(spark, dir)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    val ws = split(trim(col("text")), "\\s+")
    val positioned = Tables.documents(spark, dir)
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("p0", "word")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("word"))
    positioned.join(spans, Seq("doc_id"), "left_outer")
      .withColumn("covered", coalesce(exists(col("spans"),
        sp => col("pos").between(sp("span_start"), sp("span_end"))), lit(false)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(when(col("covered"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(array_sort(collect_list(
          when(!col("covered"), struct(col("pos"), col("word"))))),
          e => e("word")), " ").as("kept_text"))
      .filter(col("n_dropped") > 0)
      .select("doc_id", "n_words", "n_dropped", "kept_text")
      .orderBy("doc_id")
  }

  /** Exact-k stratified sample — k docs per source, chosen by a seeded
    * md5 order so the sample is reproducible row-by-row (q91 keeps a
    * FRACTION per stratum; audits and eval sets need an exact COUNT).
    * The rank-≤-k filter is the shape Catalyst rewrites with
    * WindowGroupLimit: each input partition keeps only its own top-k
    * BEFORE the exchange, so the shuffle carries ≤ k·partitions rows
    * per stratum however large the corpus — the plan-level reason this
    * survives 100 TB (PlanShapeSpec pins the node's presence).
    */
  def q118StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val kPer = 40
    val coin = md5(concat(lit("strat9:"), col("doc_id").cast("string")))
    val w = Window.partitionBy("source").orderBy(col("coin"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), coin.as("coin"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= kPer)
      .select(col("source"), col("rk"), col("doc_id"))
      .orderBy("source", "rk")
  }

  /** k-means fit over the embeddings table (k=8, 3 Lloyd rounds) —
    * cluster cardinalities and within-cluster inertia, the training
    * step the IVF family (q29/q69) takes as given. The DuckDB oracle
    * unrolls the identical three rounds with the identical rounding
    * discipline (6 dp distances before argmin, 9 dp centroid
    * components), so both engines walk the same assignment sequence —
    * an iterative ML loop held to the same hash-match bar as the
    * relational queries.
    */
  def q121Kmeans(spark: SparkSession, dir: String): DataFrame =
    VectorOps.kmeansFit(Tables.widen(Tables.embeddings(spark, dir)),
      "vec_id", "embedding", 8, 3)
      .groupBy("cl")
      .agg(count(lit(1)).as("n_vecs"), round(sum("d2"), 4).as("inertia"))
      .orderBy("cl")

  /** IVF ANN end to end with LEARNED centroids — q121's k-means fit
    * feeding q29's probe-and-score, no given labels anywhere: fit on
    * the full table, label the corpus with the final assignment, probe
    * 2 of 8 learned clusters, exact-cosine the members. The composition
    * every self-contained vector index actually runs at build+query
    * time; oracle = the kmeans CTE chain spliced into the q29 probe
    * chain, so the whole trained index is hash-checked.
    */
  def q124IvfE2e(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val fitted = VectorOps.kmeansFit(Tables.widen(e), "vec_id", "embedding", 8, 3)
      .select(col("id").as("vec_id"), col("cl"))
    val labeled = e.join(fitted, "vec_id")
    VectorOps.knnIvf(
      labeled.filter(col("vec_id") < 10), labeled.filter(col("vec_id") >= 10),
      "vec_id", "vec_id", "embedding", "cl", 5)
      .orderBy("query_id", "rank")
  }

  /** Corpus-relative quality normalization — percent-rank of the q16
    * quality score WITHIN each source, the cross-source calibration a
    * mixed corpus needs before one global threshold means anything
    * (a 0.6 from a clean source and a 0.6 from a noisy one are not the
    * same signal; their per-source ranks are). percent_rank is
    * rank-based, so it needs no distributional assumption and is exact:
    * the only float is the final (rank-1)/(n-1) division, rounded to
    * 6 dp. One window per source partition — a single exchange keyed by
    * source; ties (equal scores) share a rank in both engines by
    * definition of percent_rank.
    */
  def q127QualityNormalize(spark: SparkSession, dir: String): DataFrame = {
    // rank on the 4 dp-ROUNDED score (q16's published form): ranking on
    // raw doubles would let a final-ulp difference reorder two docs
    val pr = Window.partitionBy("source").orderBy(col("quality").asc)
    Tables.documents(spark, dir)
      .withColumn("quality",
        floor(TextAnalysis.qualityScore(col("text")) * 10000.0 + 0.5) / 10000.0)
      .withColumn("pctl", round(percent_rank().over(pr), 6))
      .select(col("doc_id"), col("source"), col("quality"), col("pctl"))
      .orderBy("doc_id")
  }

  /** int8-quantized brute-force top-5 (q28's split): the quantized dot
    * product folds small integers exactly, so both engines agree to the
    * bit — see VectorOps.quantizeInt8.
    */
  def q129Int8Ann(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    VectorOps.knnQuantized(
      e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
      "vec_id", "vec_id", "embedding", 5)
      .orderBy("query_id", "rank")
  }

  /** Two-stage retrieval over the same split: quantized shortlist of 20,
    * exact-cosine re-rank to top-5 — the serving pattern at scale.
    */
  def q130TwoStage(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    VectorOps.twoStageRetrieve(
      e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
      "vec_id", "vec_id", "embedding", 5, 20)
      .orderBy("query_id", "rank")
  }

  /** Token-budget epoch planner — the table every training run starts
    * with: per source, what the corpus holds, what one epoch of the
    * q91 mixture actually samples (the EXACT deterministic md5 sample,
    * not the expectation), and how many epochs reach a 1M-token budget
    * share. Pure integer arithmetic to the division, which is a
    * ceil over integers both engines spell identically. One scan.
    */
  def q133TokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 1), 16, 10)
      .cast("int")
    val rate = when(col("source") === "src0", 16)
      .when(col("source") === "src1", 12)
      .when(col("source") === "src2", 8)
      .when(col("source") === "src3", 4)
      .otherwise(2)
    Tables.documents(spark, dir)
      .withColumn("n_tokens", graft.text.TextAnalysis.tokenCount(col("text")).cast("long"))
      .withColumn("sampled", bucket < rate)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("corpus_tokens"),
        sum(when(col("sampled"), col("n_tokens")).otherwise(0L)).as("epoch_tokens"))
      // a source can sample ZERO tokens (rate 2/16 over few docs) — an
      // honest planner reports "unreachable" (null), not a crash
      .withColumn("epochs_for_1m",
        when(col("epoch_tokens") === 0L, lit(null))
          .otherwise(ceil(lit(1000000.0) / col("epoch_tokens")).cast("long")))
      .orderBy("source")
  }

  /** Dedup-regime agreement audit — do two independent dedup regimes
    * find the same pairs? The measurement a curation team runs before
    * trusting a cheaper regime: exact canonical-fingerprint pairs vs
    * the sorted-neighborhood (q111) pairs, reported as set cardinalities
    * plus overlap and an integer-basis-point agreement (Jaccard of the
    * PAIR SETS — floor division, no float). Both pair sets are already
    * bounded by their regimes' own discipline; the audit is ONE lazy
    * plan — a full-outer join of the flagged pair sets, a single
    * aggregation, metrics unpivoted from the one agg row (q143's
    * no-serial-driver-actions lesson applied to its audit neighbors).
    */
  def q139RegimeAgreement(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.documents(spark, dir)
      .select(col("doc_id"), Dedup.canonicalFingerprint(col("text")).as("fp"))
    val exact = fp.as("x").join(fp.as("y"), col("x.fp") === col("y.fp") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    val snm = q111SortedNeighborhood(spark, dir).select("a", "b")
    // coalesce around the sums: an agg over ZERO joined rows yields null
    // sums, and the honest report for empty regimes is all-zero metrics
    exact.withColumn("in_e", lit(1L))
      .join(snm.withColumn("in_s", lit(1L)), Seq("a", "b"), "full_outer")
      .agg(
        coalesce(sum(coalesce(col("in_e"), lit(0L))), lit(0L)).as("ne"),
        coalesce(sum(coalesce(col("in_s"), lit(0L))), lit(0L)).as("ns"),
        coalesce(sum(col("in_e") * col("in_s")), lit(0L)).as("nb"))
      .select(explode(array(
        struct(lit("agreement_bp").as("metric"),
          when(col("ne") + col("ns") - col("nb") === 0L, lit(0L))
            .otherwise(expr("nb * 10000 div (ne + ns - nb)")).as("n")),
        struct(lit("both").as("metric"), col("nb").as("n")),
        struct(lit("exact_only").as("metric"), (col("ne") - col("nb")).as("n")),
        struct(lit("exact_pairs").as("metric"), col("ne").as("n")),
        struct(lit("snm_only").as("metric"), (col("ns") - col("nb")).as("n")),
        struct(lit("snm_pairs").as("metric"), col("ns").as("n")))).as("m"))
      .select(col("m.metric").as("metric"), col("m.n").as("n"))
      .orderBy("metric")
  }

  /** ANN method-comparison audit — the capstone measurement over the
    * retrieval family: recall of every approximate method against the
    * exact scan, as one table (integer basis points, floor division).
    * This is the table that justifies shipping an index: a method with
    * no measured recall line is a rumor. The four chains union under a
    * method label and left-join the exact truth set ONCE — the audit is
    * one plan whose only driver action before it runs is the IVF
    * method's bounded k×dim centroid collect (`knnIvf` runs it when
    * q29 builds its frame); every heavy computation is the
    * methods themselves, each already scale-shaped and oracle-checked.
    * A literal method grid re-joins the aggregate so a method that
    * returned zero pairs still reports an (honest, all-zero) row
    * instead of vanishing.
    */
  def q142AnnTradeoff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def pairs(df: DataFrame) = df.select(col("query_id"), col("neighbor_id"))
    val exact = pairs(q28KnnBrute(spark, dir))
    val methods = Seq(
      ("exact", exact),
      ("int8", pairs(q129Int8Ann(spark, dir))),
      ("ivf", pairs(q29KnnIvf(spark, dir))),
      ("two_stage", pairs(q130TwoStage(spark, dir))))
    val labeled = methods
      .map { case (name, p) => p.withColumn("method", lit(name)) }
      .reduce(_.unionByName(_))
    val agg = labeled
      .join(exact.withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy("method")
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
    methods.map(_._1).toDF("method")
      .join(agg, Seq("method"), "left_outer")
      .select(col("method"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_bp",
        when(col("n_pairs") === 0L, lit(0L))
          .otherwise(expr("n_hits * 10000 div n_pairs")))
      .orderBy("method")
  }

  /** SimHash self-audit — q142's discipline applied to the one index
    * family that had no recall line: the banded+probed candidate
    * generator (q26) measured against the brute-force hamming scan over
    * the same 64-bit signatures. The pigeonhole construction (4×16-bit
    * chunks + single-bit probes) guarantees recall 10000 bp at
    * maxDist 7 — this query EXECUTES that claim instead of asserting it
    * in prose. Brute force touches 8-byte signatures only (never text):
    * an O(n²) signature scan is the right audit anchor while the banded
    * path stays the production path. ONE lazy plan (full-outer join of
    * the flagged pair sets → single aggregation → unpivot), not serial
    * per-metric counts. No SQL oracle (the FNV-1a signature UDF is not
    * SQL-expressible); DedupSpec pins the exact metric values including
    * recall_bp == 10000.
    */
  def q145SimhashRecall(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sig = Dedup.simhashSignatures(docs, "doc_id", "text")
    val banded = Dedup.simhashPairs(docs, "doc_id", "text")
      .select(col("doc_a"), col("doc_b"))
    // blocked exact scan (packed primitive signatures, B² constant-size
    // tasks) instead of a theta-join: identical pair set, measured
    // 607 s → see PROGRESS round 8 at the 100× rehearsal
    val exact = Dedup.hammingPairsBlocked(sig, "id", "simhash", 7)
    banded.withColumn("in_b", lit(1L))
      .join(exact.withColumn("in_e", lit(1L)), Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        coalesce(sum(coalesce(col("in_b"), lit(0L))), lit(0L)).as("nb"),
        coalesce(sum(coalesce(col("in_e"), lit(0L))), lit(0L)).as("ne"),
        coalesce(sum(col("in_b") * col("in_e")), lit(0L)).as("nh"))
      .select(explode(array(
        struct(lit("banded_pairs").as("metric"), col("nb").as("n")),
        struct(lit("exact_pairs").as("metric"), col("ne").as("n")),
        struct(lit("hits").as("metric"), col("nh").as("n")),
        struct(lit("recall_bp").as("metric"),
          when(col("ne") === 0L, lit(0L))
            .otherwise(expr("nh * 10000 div ne")).as("n")))).as("m"))
      .select(col("m.metric").as("metric"), col("m.n").as("n"))
      .orderBy("metric")
  }

  /** Greedy token-budget context packing (reference main.py:355-363):
    * per lang, best-first by (n_chars desc, doc_id), keep the prefix whose
    * running token count stays ≤ 800.
    */
  def q32PackContext(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      // tokenCount ≥ 1 by contract (empty text counts 1 — the oracle's
      // CASE mirrors it), so every doc consumes ≥ 1 of the 800-token
      // budget; the defensive filter pins the pool-prune precondition
      .filter(col("n_tokens") >= 1)
    // LOSSLESS pool prune: best-first position p has running Σ ≥ p, so
    // a row past position 800 can never satisfy Σ ≤ 800 — only the
    // topK(800) by (n_chars desc, doc_id asc) per lang are candidates.
    // The former unbounded window ran the running sum over EVERY doc of
    // a lang (one reducer per lang at corpus scale); it now sees ≤ 800
    // rows per partition by construction.
    val pool = TopKAggregator.ranked(d.withColumn("score", col("n_chars").cast("double")),
        Seq("lang"), "score", "doc_id", 800)
      .select("lang", "doc_id")
    val w = Window.partitionBy("lang")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.join(pool, Seq("lang", "doc_id"))
      .withColumn("run_tokens", sum("n_tokens").over(w))
      .filter(col("run_tokens") <= 800)
      .select("lang", "doc_id", "n_tokens", "run_tokens")
      .orderBy("lang", "doc_id")
  }

  /** Semantic dedup, SemDeDup-shaped (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the LEARNED
    * k-means fit (q121's trainer — no given labels), score cosine
    * similarity only WITHIN clusters, and prune each semantic-duplicate
    * pair keeping the member FARTHEST from its centroid (the paper's
    * keep-low-centroid-similarity rule: the far member is the less
    * redundant representative). A member is dropped iff some same-
    * cluster duplicate beats it on (d2 desc, id asc) — so at least one
    * side of every pair survives and the argmax of every transitive
    * duplicate group always survives. Reported per cluster: members,
    * duplicate pairs, drops — integers only.
    *
    * 100 TB shape — this is exactly why SemDeDup clusters first: the
    * O(n²) cosine matrix becomes Σ(cluster²), and k grows with the
    * corpus (the paper uses 50k clusters for LAION) so per-cluster
    * candidate sets stay bounded; the pairwise join shuffles on the
    * cluster id, the same key the assignment already partitioned by.
    * Distances d2 arrive 6-dp-rounded from kmeansFit and cosines are
    * 4-dp-rounded (cosinePre), so the duel outcomes — and therefore the
    * drop set — are decided identically by Spark and the DuckDB oracle
    * (which replays the identical 3-round fit as q121's CTE chain).
    */
  def semanticDedup(vecs: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int, threshold: Double): DataFrame = {
    val fitted = VectorOps.kmeansFit(vecs, idCol, vecCol, k, iters)
    // the assignment join feeds THREE consumers (both pairwise sides +
    // the membership counts); checkpoint it once so the scan + argmin
    // UDF run once, not three times — the same materialize-the-
    // assignments step SemDeDup itself performs before its pairwise
    // pass. Bounded: one (vec, cl, d2) row per corpus vector.
    val m = vecs
      .select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .withColumn("nv", VectorOps.l2Norm(col("vec")))
      .join(fitted, "id")
      .localCheckpoint()
    val pairs = m.as("a")
      .join(m.as("b"),
        col("a.cl") === col("b.cl") && col("a.id") < col("b.id"))
      .select(col("a.cl").as("cl"),
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.d2").as("d2_a"), col("b.d2").as("d2_b"),
        VectorOps.cosinePre(col("a.vec"), col("b.vec"),
          col("a.nv"), col("b.nv")).as("cos"))
      .filter(col("cos") >= threshold)
    val losers = pairs
      .select(col("cl"),
        when(col("d2_a") > col("d2_b") ||
            (col("d2_a") === col("d2_b") && col("id_a") < col("id_b")),
          col("id_b")).otherwise(col("id_a")).as("id"))
      .distinct()
    m.groupBy("cl").agg(count(lit(1)).as("n_members"))
      .join(pairs.groupBy("cl").agg(count(lit(1)).as("n_dup_pairs")),
        Seq("cl"), "left_outer")
      .join(losers.groupBy("cl").agg(count(lit(1)).as("n_dropped")),
        Seq("cl"), "left_outer")
      .select(col("cl"), col("n_members"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      .orderBy("cl")
  }

  def q146SemanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedup(Tables.widen(Tables.embeddings(spark, dir)),
      "vec_id", "embedding", 8, 3, 0.45)

  /** DSIR-shaped importance weights (Xie et al. 2023, arXiv:2302.03169,
    * "Data Selection for Language Models via Importance Resampling"):
    * hashed-unigram bag-of-words models for a target domain (src0) vs
    * the rest of the pool, and per document an importance score = ratio
    * of its add-1-smoothed target likelihood to its raw likelihood —
    * the signal DSIR resamples by to tilt a raw corpus toward a target
    * distribution. The float-free spelling: instead of Σc·(log p−log q)
    * (cross-engine libm exposure), the ratio of the two per-document
    * expected frequencies is cross-multiplied in DECIMAL(38,0) and
    * emitted as integer basis points — identical in both engines.
    *
    * 100 TB shape: the "language models" are a 64-row bucket table (2¹⁶
    * buckets in a real run — still broadcastable by construction; that
    * boundedness is DSIR's own design point), so scoring is one narrow
    * word-explode → per-(doc,bucket) map-side-combinable count → a
    * broadcast join against the model → one per-doc aggregation. No
    * shuffle ever carries more than (doc, bucket, count) rows.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  sourceCol: String, target: String,
                  buckets: Int): DataFrame = {
    val words = docs
      .select(col(idCol), col(sourceCol).as("source"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .withColumn("b",
        conv(substring(md5(col("w")), 1, 4), 16, 10).cast("long") % buckets)
    val model = words.groupBy("b").agg(
      sum(when(col("source") === target, 1L).otherwise(0L)).as("nt"),
      sum(when(col("source") =!= target, 1L).otherwise(0L)).as("nq"))
    val smoothTotals = model.agg(
      (sum("nt") + lit(buckets.toLong)).cast("decimal(38,0)").as("st"),
      (sum("nq") + lit(buckets.toLong)).cast("decimal(38,0)").as("sq"))
    words.groupBy(col(idCol), col("source"), col("b"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(model), "b")
      .groupBy(col(idCol), col("source"))
      .agg(
        sum((col("c") * (col("nt") + lit(1L))).cast("decimal(38,0)")).as("num0"),
        sum((col("c") * (col("nq") + lit(1L))).cast("decimal(38,0)")).as("den0"),
        sum("c").as("n_words"))
      .crossJoin(broadcast(smoothTotals))
      .withColumn("score_bp",
        expr("CAST((CAST(10000 AS DECIMAL(38,0)) * num0 * sq) DIV (den0 * st) AS BIGINT)"))
      .select(col(idCol), col("source"), col("n_words"), col("score_bp"))
  }

  def q147DsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeights(Tables.documents(spark, dir),
      "doc_id", "text", "source", "src0", 64)
      .orderBy(col("score_bp").desc, col("doc_id").asc)
      .limit(20)

  /** Cross-source contamination matrix — the corpus-wide generalization
    * of q87's one-eval-set decontamination, the audit table the C4
    * analysis (Dodge et al. 2021, arXiv:2104.08758 §5) and the GPT-3
    * appendix-C methodology report: for every ordered source pair
    * (a, b), how many of a's documents share at least one word n-gram
    * with ANY document of b. Reading a row: "n_docs of src_a would be
    * flagged if src_b were the eval set".
    *
    * 100 TB shape: the corpus-sized side is the per-doc DISTINCT
    * shingle list; the right side collapses to DISTINCT (shingle,
    * source) — so the shingle-keyed join's fan-out per row is bounded
    * by the SOURCE count (dozens), not by shingle document frequency.
    * No df-cap needed: a hub shingle appearing in a million docs still
    * contributes at most |sources| rows to the probe side. Two
    * shuffles total (the source-set distinct, the doc-pair distinct);
    * the final matrix is |sources|² — driver-trivial forever. Exact
    * integer counts, no sampling, no floats.
    */
  def contaminationMatrix(docs: DataFrame, idCol: String, textCol: String,
                          sourceCol: String, n: Int): DataFrame = {
    // Dedup.wordShingles (tight-loop UDF, per-doc distinct) — not the
    // transform/slice HOF spelling, which is CodegenFallback (see the
    // wordShingles doc); widen for the same single-split reason as
    // decontaminate
    val sh = Tables.widen(docs)
      .select(col(idCol).as("id"), col(sourceCol).as("source"),
        explode(Dedup.wordShingles(col(textCol), n)).as("s"))
    val srcOfShingle = sh.select(col("s"), col("source").as("src_b")).distinct()
    sh.join(srcOfShingle, "s")
      .filter(col("source") =!= col("src_b"))
      .select(col("id"), col("source").as("src_a"), col("src_b"))
      .distinct()
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("src_a", "src_b")
  }

  def q149ContaminationMatrix(spark: SparkSession, dir: String): DataFrame =
    contaminationMatrix(Tables.documents(spark, dir),
      "doc_id", "text", "source", 4)

  /** UniMax language-sampling allocation (Chung et al. 2023,
    * arXiv:2304.09151): distribute a token budget across languages as
    * uniformly as possible subject to a per-language epoch cap —
    * fairer than temperature sampling and free of its pow() tuning.
    * The paper's greedy, exactly: visit languages by ascending capped
    * capacity (cap·n_l); each takes min(its cap, ⌊remaining budget /
    * languages remaining⌋), so leftover from capped low-resource
    * languages redistributes evenly among the rest. Every step is
    * integer — no pow, no float anywhere, ties broken by language
    * code — so both engines compute the identical allocation.
    *
    * 100 TB shape: the corpus contributes ONE map-side-combinable
    * per-language token count; the greedy then runs driver-side over
    * the LANGUAGE table — bounded by construction (the same accepted
    * class as the BPE merge table and kmeans centroids: ~10²–10³ rows
    * whatever the corpus size) — and its result IS the output.
    * Emits per language: corpus tokens, cap, allocation, realized
    * epochs in basis points, and whether the cap bound.
    */
  def unimaxAllocation(langTokens: Seq[(String, Long)], epochCap: Long,
                       budget: Long): Seq[(String, Long, Long, Long, Long, Boolean)] = {
    val byCap = langTokens.map { case (l, n) => (l, n, epochCap * n) }
      .sortBy { case (l, _, cap) => (cap, l) }
    var rem = budget
    byCap.zipWithIndex.map { case ((lang, n, cap), i) =>
      val share = rem / (byCap.length - i)
      val alloc = math.min(cap, share)
      rem -= alloc
      (lang, n, cap, alloc, alloc * 10000L / n, alloc == cap)
    }
  }

  /** Per-source corpus datasheet — the release-accompanying summary
    * table of "Datasheets for Datasets" (Gebru et al. 2021) as WIMBD
    * computes it at corpus scale (Elazar et al. 2024, "What's In My
    * Big Data?"): for every source, size (docs/tokens/mean), language
    * breadth, exact-duplicate share, eval-contamination share, and
    * quality-pass share — each share in integer basis points. Nothing
    * new is invented: the duplicate flag is q23's corpus-wide
    * canonical fingerprint, contamination is q87's broadcast
    * eval-shingle probe, quality is q16's rounded surface score —
    * the datasheet's value is that the release ships ONE table built
    * from the same signals the pipeline filters on.
    *
    * 100 TB shape: four independent per-source aggregates (each one
    * partial-agg shuffle bounded by |sources| or |fingerprints|),
    * joined on the tiny source key. The quality threshold compares the
    * ROUNDED score (4-dp floor, identical in both engines), so the
    * pass count is deterministic cross-engine.
    */
  def q152CorpusDatasheet(spark: SparkSession, dir: String): DataFrame =
    corpusDatasheet(Tables.documents(spark, dir))

  /** Core over any (doc_id, source, lang, text) frame — see q152. */
  def corpusDatasheet(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("source"), col("doc_id"), col("lang"),
        graft.text.TextAnalysis.tokenCount(col("text")).cast("long").as("t"),
        (TextAnalysis.qualityScore(col("text")) >= 0.5).as("q"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("t").as("n_tokens"),
        countDistinct("lang").as("n_langs"),
        sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"))
    val fps = docs.select(col("doc_id"), col("source"),
      Dedup.canonicalFingerprint(col("text")).as("fp"))
    val dupFps = fps.groupBy("fp").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("fp")
    val dupPerSource = fps.join(dupFps, "fp")
      .groupBy("source").agg(count(lit(1)).as("n_dup"))
    val contPerSource = docs
      .join(decontaminate(docs, "doc_id", "text",
        col("doc_id") % 97 === 0, 4).select("doc_id"), "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n_cont"))
    base
      .join(dupPerSource, Seq("source"), "left_outer")
      .join(contPerSource, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("n_tokens div n_docs").as("mean_tokens"), col("n_langs"),
        expr("coalesce(n_dup, 0L) * 10000L div n_docs").as("dup_bp"),
        expr("coalesce(n_cont, 0L) * 10000L div n_docs").as("contaminated_bp"),
        expr("n_quality * 10000L div n_docs").as("quality_pass_bp"))
      .orderBy("source")
  }

  def q151UnimaxMixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val langTokens = Tables.documents(spark, dir)
      .select(col("lang"),
        graft.text.TextAnalysis.tokenCount(col("text")).cast("long").as("t"))
      .groupBy("lang").agg(sum("t").as("n_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val budget = langTokens.map(_._2).sum * 8L / 10L
    unimaxAllocation(langTokens, epochCap = 1L, budget = budget)
      .toDF("lang", "n_tokens", "cap_tokens", "alloc_tokens",
        "epochs_bp", "capped")
      .orderBy("lang")
  }

  /** Temperature-scaled language-sampling allocation (q161) — the other
    * standard mixture knob next to UniMax (q151): sampling weight
    * ∝ n_l^(1/T), which up-weights low-resource languages smoothly
    * instead of epoch-capping them (mC4 / XLM-R's alpha-sampling with
    * alpha = 1/T). Registered at T = 2 — i.e. weight = √n_l — because
    * IEEE-754 sqrt is CORRECTLY ROUNDED and therefore bit-identical in
    * Spark and DuckDB, where a general pow(n, 0.3) differs in the last
    * ulp between libms and would make an exact-hash oracle a coin flip.
    * The weights enter an integer basis (⌊√n · 10⁶⌋) and the split is
    * largest-remainder over integers — B·w div W per language, leftover
    * tokens to the largest remainders (ties by lang) — so every engine
    * computes the identical allocation with no float accumulation
    * anywhere. Bounded state: one row per language.
    *
    * Overflow bound, stated: B·w must fit a long — good through the
    * 100× rehearsal (≈6·10¹⁷); a 100 TB corpus scales the basis down
    * (or moves to DECIMAL), same algebra.
    */
  def q161TemperatureMixture(spark: SparkSession, dir: String): DataFrame = {
    val lang = Tables.documents(spark, dir)
      .select(col("lang"),
        graft.text.TextAnalysis.tokenCount(col("text")).cast("long").as("t"))
      .groupBy("lang").agg(sum("t").as("n_tokens"))
      .withColumn("w", floor(sqrt(col("n_tokens").cast("double")) * 1e6).cast("long"))
    val wAll = Window.partitionBy()
    val ranked = lang
      .withColumn("w_sum", sum("w").over(wAll))
      // integer `div` throughout: double division would round above 2^53
      .withColumn("budget", expr("sum(n_tokens) OVER () div 2"))
      .withColumn("base", expr("(budget * w) div w_sum"))
      .withColumn("rem", col("budget") * col("w") - col("base") * col("w_sum"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("lang").asc)))
      .withColumn("leftover", col("budget") - sum("base").over(wAll))
    ranked
      .select(col("lang"), col("n_tokens"), col("w").as("weight"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc_tokens"))
      .withColumn("share_bp",
        expr("(alloc_tokens * 10000) div (sum(alloc_tokens) OVER ())"))
      .orderBy("lang")
  }

  /** CDC apply (q162) — materialize the CURRENT table from an ordered
    * change stream with upserts AND deletes, the mutation-apply half of
    * the lakehouse story next to SCD2 history (q123) and as-of reads
    * (q135). The events table is read as a change stream per user:
    * signup/purchase upsert the user's value, error deletes the row; a
    * later upsert after a delete resurrects it (flagged). Final state
    * per key = the last change in (ts, event_id) order — delete ⇒
    * absent, upsert ⇒ its value verbatim (NO arithmetic on the value,
    * so the double passes through both engines bit-identically).
    *
    * Scale shape: ONE exchange keyed by user — the ordering window and
    * the per-user change counts share the same partitioning, so the
    * audit columns are free; state per key is one row. Hot-key
    * discipline is the usual salting escape hatch (q47); change streams
    * key on entity ids, which are rarely zipf-extreme.
    */
  /** Core CDC apply over a prepared change stream with columns
    * (user_id, event_id, tss, op ∈ {U, D}, value).
    */
  def cdcApply(changes: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy(col("tss").desc, col("event_id").desc)
    val wAll = Window.partitionBy("user_id")
    changes.withColumn("rk", row_number().over(wOrd))
      .withColumn("n_upserts", count(when(col("op") === "U", 1)).over(wAll))
      .withColumn("n_deletes", count(when(col("op") === "D", 1)).over(wAll))
      .filter(col("rk") === 1 && col("op") === "U")
      .select(col("user_id"), col("value").as("cur_value"),
        col("tss").as("since_tss"), col("n_upserts"), col("n_deletes"),
        (col("n_deletes") > 0).as("survived_delete"))
      .orderBy("user_id")
  }

  def q162CdcApply(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    cdcApply(ev
      .filter(col("event_type").isin("signup", "purchase", "error"))
      .select(col("user_id"), col("event_id"),
        Tables.tsEpochSeconds(ev).cast("long").as("tss"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        col("value")))
  }

  /** Length-grouped training-batch packing (q160) — the padding-waste
    * minimizer every LLM training pipeline runs between data prep and
    * the trainer: a batch pads every sequence to its longest member, so
    * batching ARRIVAL-ordered documents wastes compute proportional to
    * within-batch length variance, while batching LENGTH-sorted
    * documents makes batches near-homogeneous (the "sorted batching" /
    * bucketing trick). Both policies are materialized per batch with
    * their exact waste (n_docs·max_len − Σlen) so the saving is an
    * auditable number, not a claim.
    *
    * Scale shape: batches are built WITHIN each source shard —
    * `row_number` over (source) partitions, ONE hash exchange, no
    * global sort — exactly how a sharded corpus batches in production
    * (a global order would serialize the corpus through one window
    * task). Deterministic: ties break on doc_id in both engines.
    */
  def q160LengthBatches(spark: SparkSession, dir: String,
                        batchSize: Int = 64): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        graft.text.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    def policy(name: String, w: org.apache.spark.sql.expressions.WindowSpec) = docs
      .withColumn("batch_id",
        floor((row_number().over(w) - 1).cast("double") / batchSize).cast("long"))
      .groupBy("source", "batch_id")
      .agg(count(lit(1)).as("n_docs"), max("n_tokens").as("max_tokens"),
        sum("n_tokens").as("sum_tokens"))
      .select(lit(name).as("policy"), col("source"), col("batch_id"),
        col("n_docs"), col("max_tokens"),
        (col("n_docs") * col("max_tokens") - col("sum_tokens")).as("padding_waste"))
    val sorted = policy("length_sorted",
      Window.partitionBy("source").orderBy(col("n_tokens").asc, col("doc_id").asc))
    val arrival = policy("arrival",
      Window.partitionBy("source").orderBy(col("doc_id").asc))
    sorted.unionAll(arrival).orderBy("policy", "source", "batch_id")
  }
}
