package graft.vector

import graft.functions.{DotProduct, VecKernels}
import graft.functions.TopKAggregator.ranked
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.PlanShim
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Vector similarity operators (SURVEY §2.6/§2.10): cosine scoring, exact
  * brute-force top-k, IVF-style cluster-pruned ANN, recall@k, threshold
  * cascades.
  *
  * Scoring uses the codegen'd `DotProduct` expression (tight primitive
  * loop; the interpreted `zip_with`+`aggregate` form was ~50× slower on
  * all-pairs joins) and every operator precomputes per-vector L2 norms
  * ONCE per side before the join — the norm is O(dim) work that must not
  * be repeated per pair. The arithmetic (sequential double fold, then
  * dot/(na·nb), then round) is kept bit-identical to the DuckDB oracle.
  *
  * Scale notes (100 TB): the brute-force path broadcasts the QUERY side
  * and streams the corpus — one narrow pass, no corpus shuffle; the
  * bounded top-k shuffles only ≤ k (score, id) pairs per (partition,
  * query), never vectors. The
  * IVF path prunes the corpus to the probed clusters before scoring —
  * the standard trade at billion-vector scale; LSH bucketing (see
  * Dedup.scala) is the alternative when no cluster structure exists.
  */
/** kmeansFit's per-vector assignment: nearest cluster id + rounded
  * squared distance (top-level so the UDF return-type encoder derives).
  */
case class BestAssign(cl: Int, d2: Double)

object VectorOps {

  /** dot(a, b) in double precision, sequential order (IEEE-reproducible). */
  def dot(a: Column, b: Column): Column = DotProduct(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, rounded to 4 decimals. Thresholds are applied to
    * the ROUNDED value everywhere so Spark and the oracle agree even if
    * their float-accumulation order ever differs by an ulp.
    *
    * Zero-norm vectors (a text with no tokens can hash-embed to the zero
    * vector) score 0.0 instead of tripping Spark 4's ANSI DIVIDE_BY_ZERO —
    * "no shared direction" is the correct similarity for an empty document.
    */
  def cosine(a: Column, b: Column): Column =
    cosinePre(a, b, l2Norm(a), l2Norm(b))

  def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na * nb === 0, lit(0.0))
      .otherwise(round(dot(a, b) / (na * nb), 4))

  /** Group-centroid cosine matrix — the corpus-level redundancy
    * datasheet: mean embedding per group (source, snapshot, shard …),
    * then every unordered group pair's cosine. Two sources whose
    * centroids run hot are candidate overlap/mirror feeds worth a
    * targeted dedup pass BEFORE paying document-grain near-dup over
    * their cross product. Scale: the corpus collapses to |groups|
    * rows in one posexplode aggregate (map-side combined; the mean is
    * EXACT — float-sourced doubles sum without rounding at any
    * realistic group size, the `ivfCentroids` argument — so both
    * engines hold identical centroids); the pair join is |groups|²
    * over a constant equi-key (hash join, NOT a nested-loop cartesian
    * — plan-audit clean) with the `<` ordering as the join residual.
    */
  def centroidSimilarityMatrix(df: DataFrame, groupCol: String,
                               vecCol: String): DataFrame = {
    val cent = df
      .select(col(groupCol).as("g"), posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
      .groupBy("g", "pos").agg(avg("x").as("m"))
      .groupBy("g").agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("g"), transform(col("pm"), p => p.getField("m")).as("c"))
      .withColumn("n", l2Norm(col("c")))
    // distinct constant key names per side: joining cent to itself on a
    // SHARED lit(1) column dedups to the same attribute id and Spark
    // warns the equi predicate is trivially true — distinct attributes
    // keep the hash-join key (and the audit's nlj=0) explicit
    val a = cent.select(lit(1).as("ka"), col("g").as("group_a"), col("c").as("ca"), col("n").as("na"))
    val b = cent.select(lit(1).as("kb"), col("g").as("group_b"), col("c").as("cb"), col("n").as("nb"))
    a.join(b, col("ka") === col("kb") && col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        cosinePre(col("ca"), col("cb"), col("na"), col("nb")).as("cos_sim"))
      .orderBy("group_a", "group_b")
  }

  /** Exact all-pairs near-dup ≥ threshold via BLOCKED pair enumeration —
    * the right distribution shape for intrinsically quadratic work.
    *
    * The rehearsal measurement that motivates this: at 10x scale the
    * row-level forms (crossJoin, and a triangle-inequality projection
    * band join at any τ ≤ 0.95) spend their time materializing two
    * 384-float vectors per CANDIDATE ROW — ~200M join rows × ~3 KB ≈
    * 600 GB in flight for ~77 Gflop of actual arithmetic (measured
    * 62–75 s at 20k vectors, where the flops alone are ~2 s of CPU).
    * Banding cannot help in high dimension: exact recall forces bucket
    * width w = √(2−2τ), while a unit projection of near-isotropic d-dim
    * unit vectors spreads only ~4/√d — w exceeds the data spread for
    * every τ below ~1−8/d (τ ≈ 0.98 at d = 384), so a threshold sweep
    * of the band join pruned almost nothing even at τ = 0.95.
    *
    * Blocked form (`Dedup.blockedPairScan`): vectors hash into
    * ⌈n/blockRows⌉ fixed-size blocks, each packed into ONE row; the
    * B(B+1)/2 unordered block PAIRS become the unit of work — a
    * distributed grid (bounded: B² ≪ n²) equi-joined to the packed
    * blocks twice, so the plan is two hash joins, not a cartesian. Each
    * task unpacks its two blocks to primitive arrays once and runs the
    * O(blockRows²·d) scoring in a tight loop — every vector is shipped
    * O(B) times total instead of O(n), and the quadratic becomes B²
    * constant-size tasks that a 1000-executor cluster schedules
    * perfectly (measured at the 10x rehearsal, 20k vectors: 72.7 s
    * banded → 8.4 s blocked for identical output — with ~100× the
    * qualifying pairs of sf0.1, wall grew only 6.7×). Arithmetic is
    * [[cosinePre]]'s through `VecKernels` (`dot` over the float blocks,
    * `round4`), threshold on the rounded value. Zero-norm vectors score
    * 0.0 and are pruned up front (threshold must be positive).
    *
    * Scale boundary, stated honestly: blocking makes the quadratic
    * EFFICIENT, not sublinear — at 10⁶ vectors it is ~10¹² dots
    * (feasible as ~60k block-pair tasks); beyond that no exact method
    * is feasible and the approximate paths (signLshNearDup,
    * nearDupPairsBucketedDriven, SemDeDup) are the answer. The block grid is
    * capped accordingly (2048 blocks).
    */
  def nearDupPairsBlocked(vecs: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, blockRows: Int = 2048): DataFrame = {
    require(threshold > 0, "blocked near-dup needs a positive cosine threshold")
    val v = vecs.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("vec"))
      .withColumn("nv", l2Norm(col("vec")))
      .filter(col("nv") > 0)
    def offsets(lens: Array[Int]): Array[Int] = {
      val off = new Array[Int](lens.length)
      var i = 1
      while (i < lens.length) { off(i) = off(i - 1) + lens(i - 1); i += 1 }
      off
    }
    // FLAT primitive block layout: ids/norms/lengths as parallel arrays,
    // all vectors of a block concatenated into ONE float array — the
    // array-of-struct-of-array layout this replaced paid ~m·d boxed
    // Floats + m Row allocations per task side. Per-row lengths ride
    // along so ragged vectors keep DotProduct's min-length contract.
    graft.dedup.Dedup.blockedPairScan[(Array[Long], Array[Double], Array[Int], Array[Float]),
                                      (Long, Long, Double)](
      v, blockRows, maxBlocks = 2048,
      (n, nBlocks) => s"$n vectors → $nBlocks blocks → ${nBlocks.toLong * nBlocks / 2} " +
        "block pairs: an exact all-pairs scan at this scale is no longer the right " +
        "primitive — use signLshNearDup / nearDupPairsBucketedDriven",
      bc => Seq(transform(bc, s => s.getField("id")),
        transform(bc, s => s.getField("nv")),
        transform(bc, s => size(s.getField("vec"))),
        flatten(transform(bc, s => s.getField("vec")))),
      Seq("id_a", "id_b", "cos")) { case ((ia, na, la, fa), (ib, nb, lb, fb), same) =>
      val offA = offsets(la)
      val offB = offsets(lb)
      val out = Seq.newBuilder[(Long, Long, Double)]
      var i = 0
      while (i < ia.length) {
        val sa = offA(i)
        var j = if (same) i + 1 else 0
        while (j < ib.length) {
          val raw = VecKernels.dot(fa, sa, fb, offB(j), math.min(la(i), lb(j))) /
            (na(i) * nb(j))
          // round4's decimal HALF_UP rounding (BigDecimal.valueOf goes
          // through Double.toString) costs ~150 ns — paid on ALL ~N²/2
          // pairs it dominated the scan (36 s vs 6 s at the rehearsal
          // scale). Only values within the 4-dp rounding slack of the
          // threshold can round up across it, so a cheap float compare
          // skips the decimal machinery for the overwhelming majority
          // of (sub-threshold) pairs; survivors still get the
          // bit-identical rounding before the real test.
          if (raw >= threshold - 1e-4 && ia(i) != ib(j)) {
            val c = VecKernels.round4(raw)
            if (c >= threshold) {
              out += (if (ia(i) < ib(j)) (ia(i), ib(j), c) else (ib(j), ia(i), c))
            }
          }
          j += 1
        }
        i += 1
      }
      out.result()
    }.orderBy("id_a", "id_b")
  }

  /** IVF assignment: each vector joins its `nProbe` nearest cluster
    * centroids, the per-label means `ivfCentroids` collects (labels are
    * integer cluster ids). Returns (id, vec, nv, cl:int) with one row per
    * (vector, probed cluster).
    */
  def ivfAssign(vecs: DataFrame, idCol: String, vecCol: String,
                labelCol: String, nProbe: Int): DataFrame =
    ivfAssignDriven(vecs, idCol, vecCol, ivfCentroids(vecs, idCol, vecCol, labelCol), nProbe)

  /** The per-label mean centroids, collected to the driver as a reusable
    * model artifact: (cl, centroid), ascending cl — the element-wise mean
    * over the exploded (label, pos, value) cells, positions in order.
    * Summing float-sourced doubles is exact far past any realistic
    * cluster size, so the means are order-independent and bit-stable.
    * One bounded k×dim collect: driver-trivial at the k≈√N regime.
    */
  def ivfCentroids(vecs: DataFrame, idCol: String, vecCol: String,
                   labelCol: String): Array[(Int, Array[Double])] =
    vecs.select(col(labelCol).cast("int").as("cl"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("cl", "pos").agg(avg("v").as("m"))
      .groupBy("cl").agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Row](1).map(_.getDouble(1)).toArray))
      .sortBy(_._1)

  /** `ivfAssign` under ALREADY-TRAINED driver-held centroids (q69's warm
    * path, where the fit is memoized per table). Output schema
    * (id, vec, nv, cl:int); see [[probe]] for the selection rule.
    */
  def ivfAssignDriven(vecs: DataFrame, idCol: String, vecCol: String,
                      cent: Array[(Int, Array[Double])], nProbe: Int): DataFrame =
    probe(normed(vecs.select(col(idCol).as("id"), col(vecCol).as("vec")), "vec", "nv"),
      cent, nProbe)

  /** The one IVF probe, of `ivfAssign`, `ivfAssignDriven` and `knnIvf`:
    * each row of the normed `side` (key, vector, norm) gets `cl`, one row
    * per probed cluster — the `nProbe` centroids of `cent` with the
    * highest 4-dp-ROUNDED cosine, ties to the lower cluster id. A
    * tight-loop top-nProbe UDF over the broadcast centroid array and a
    * posexplode: no N×k row expansion, no per-key window (the window form
    * was 0.74 s of q69's 1.15 s warm wall at sf0.1). Each score is
    * `VecKernels.cosine4` over `VecKernels.dot` in the vector's own
    * element type (a double vector is never narrowed to float), with
    * ncent = √(c·c) from `selfDots` — [[cosinePre]]'s arithmetic.
    */
  private def probe(side: DataFrame, cent: Array[(Int, Array[Double])],
                    nProbe: Int): DataFrame = {
    val Array(_, vec, norm) = side.columns
    val cs = cent.map(_._2)
    val bc = side.sparkSession.sparkContext.broadcast(
      (cent.map(_._1), cs, VecKernels.selfDots(cs).map(math.sqrt)))
    val top = (nv: Double, dot: Array[Double] => Double) => {
      val (bCls, bCs, bNcs) = bc.value
      val scores = Array.tabulate(bCs.length)(j => VecKernels.cosine4(dot(bCs(j)), nv * bNcs(j)))
      // cls arrive ascending, so a stable sort on -score alone keeps the
      // cl tie-break
      scores.indices.sortBy(j => -scores(j)).take(nProbe).map(bCls(_)).toArray
    }
    val probes = side.schema(vec).dataType match {
      case ArrayType(FloatType, _) =>
        udf((v: Array[Float], nv: Double) =>
          top(nv, c => VecKernels.dot(v, c, math.min(v.length, c.length))))
          .apply(col(vec), col(norm))
      case _ =>
        udf((v: Array[Double], nv: Double) =>
          top(nv, c => VecKernels.dot(v, 0, c, 0, math.min(v.length, c.length))))
          .apply(col(vec).cast("array<double>"), col(norm))
    }
    side.withColumn("cl", explode(probes))
  }

  /** Distributed k-means (Lloyd's) — the trainer behind the IVF index
    * (`knnIvf`/`ivfAssign` consume given cluster labels; this is where
    * those labels come from when nobody hands them to you). The k
    * centroids (k×dim doubles — trivially driver-safe for any sane k)
    * are collected into array LITERALS each round, so assignment is a
    * single codegen'd projection: each row evaluates k rounded squared
    * distances and takes `least` over (d2, cl) structs — no N×k row
    * expansion, no per-id window, ZERO exchanges between the scan and
    * the re-centering group-by. Per Lloyd round the only shuffle is the
    * posexplode re-center itself, independent of corpus size.
    * Determinism across engines: distances are squared-L2 composed from
    * sequential-fold dot products rounded to 6 dp BEFORE the argmin
    * (struct-least ties break on cluster id), and updated centroid
    * components round to 9 dp — so Spark and the DuckDB oracle converge
    * through identical assignments every round regardless of their
    * aggregation orders. Seeds: the k lowest-id vectors (deterministic;
    * smarter seeding composes in front). An emptied cluster drops out
    * in both engines identically. Roundings use `Rounding.halfUp`, the
    * floor spelling — round() itself is a cross-engine flake surface
    * on boundary values, fatal in a loop where one flipped assignment
    * cascades through every later round.
    *
    * Returns (id, cl, d2): each vector's final cluster and its rounded
    * squared distance under the final centroids.
    *
    * `kmeansFit` = `kmeansTrain` (the Lloyd loop, producing the model
    * artifact: k centroids on the driver) followed by `kmeansAssign`
    * (one narrow labeling job under those centroids). They are public
    * separately because a production pipeline persists the centroids
    * and re-assigns many times per fit — re-training inside every
    * invocation of a registered query doubled q69's bench wall before
    * the split (round-8 verdict finding #1).
    */
  def kmeansFit(vecs: DataFrame, idCol: String, vecCol: String,
                k: Int, iters: Int): DataFrame =
    kmeansAssign(vecs, idCol, vecCol, kmeansTrain(vecs, idCol, vecCol, k, iters))

  /** Shared projection: (id, vec as array<double>, vv = dot(vec,vec)) —
    * vv is shared by all k distance evaluations, compute it once. */
  private def kmeansProj(vecs: DataFrame, idCol: String, vecCol: String): DataFrame =
    vecs.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
      .withColumn("vv", dot(col("vec"), col("vec")))

  /** The Lloyd training loop alone: returns the model artifact — the
    * final (clusterId, centroid) array, driver-held. Centroid memory is
    * k×dim doubles: at the k=⌈√N⌉ regime q69 runs (k≈1800 at the 100×
    * rehearsal, dim 384) that is ~5.5 MB — still driver-trivial, but no
    * longer the "k≤8" footnote the original comment assumed; the array
    * re-enters each round's plan through an explicit SparkContext
    * broadcast (one torrent transfer per round, not a per-task closure
    * payload). Determinism contract identical to `kmeansFit`'s doc.
    */
  def kmeansTrain(vecs: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int): Array[(Int, Vector[Double])] = {
    // Argmin as ONE closure-capturing UDF, not a least() tree over k
    // typedLit centroid arrays: the literal form re-analyzes and
    // re-Janino-compiles a ~k×dim-literal expression EVERY round
    // (fresh literals defeat the codegen cache), which at k=8, dim=384
    // made the whole query fixed-overhead-bound — 2.5 s at sf0.001 and
    // sf0.1 alike. The UDF's generated wrapper is identical across
    // rounds (cache hit); its math is the expression form's, through
    // `VecKernels.nearest` (DotProduct's fold, halfUp's 6-dp spelling,
    // the (d2 asc, cl asc) tie-break of the former least() over structs).
    // Array[Double] params deserialize to primitive arrays — no boxing.
    // Centroids live on the driver between rounds (k×dim doubles — at
    // the k=⌈√N⌉ regime ~5.5 MB at the 100× rehearsal, still trivially
    // driver-safe) and re-enter each round's plan through an EXPLICIT
    // broadcast (one torrent transfer per round per executor, instead
    // of a k×dim closure payload re-serialized into the task binary),
    // so a Lloyd round is ONE job whose plan references only `v`: no
    // per-round lineage growth, no checkpoint, no window.
    val spark = vecs.sparkSession
    def best(cRows: Array[(Int, Vector[Double])]): Column =
      bestAssign(spark, cRows)
    // the recenter aggregation's output is bounded by k×dim rows
    // (≤3072 here) — 32 shuffle partitions on a bounded agg is pure
    // task overhead per round (q70's state-partition rule, batch form),
    // so the rounds plan in a child session with 8
    val v = PlanShim.withConfs(kmeansProj(vecs, idCol, vecCol),
      "spark.sql.shuffle.partitions" -> "8")
    var cent: Array[(Int, Vector[Double])] =
      v.orderBy("id").limit(k).select(col("vec")).collect()
        .map(_.getAs[Seq[Double]]("vec").toVector).zipWithIndex
        .map { case (c, i) => (i, c) }
    for (_ <- 1 to iters) {
      val assigned = v.withColumn("b", best(cent))
        .select(col("id"), col("vec"), col("b.cl").as("cl"))
      cent = assigned
        .select(col("cl"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy("cl", "pos")
        .agg(graft.functions.Rounding.halfUp(avg("x"), 9).as("m"))
        .groupBy("cl").agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cl"), transform(col("pm"), p => p.getField("m")).as("centroid"))
        .collect()
        .map(r => (r.getAs[Int]("cl"), r.getAs[Seq[Double]]("centroid").toVector))
        .sortBy(_._1)
    }
    cent
  }

  /** Label a vector table under an already-trained centroid array (the
    * artifact `kmeansTrain` returns): one narrow projection — no count,
    * no Lloyd rounds, no shuffle. Returns (id, cl, d2) exactly as
    * `kmeansFit` does; `kmeansAssign(v, id, vec, kmeansTrain(v, id,
    * vec, k, it))` ≡ `kmeansFit(v, id, vec, k, it)` row-for-row (the
    * assignment math is the same `bestAssign` UDF).
    */
  def kmeansAssign(vecs: DataFrame, idCol: String, vecCol: String,
                   centroids: Array[(Int, Vector[Double])]): DataFrame = {
    val v = kmeansProj(vecs, idCol, vecCol)
    v.withColumn("b", bestAssign(vecs.sparkSession, centroids))
      .select(col("id"), col("b.cl").as("cl"), col("b.d2").as("d2"))
  }

  /** The argmin column shared by train and assign: `VecKernels.nearest`
    * and the winner's `sqDist6`. The centroid array ships via
    * SparkContext broadcast; the UDF closure captures only the
    * broadcast handle.
    */
  private def bestAssign(spark: SparkSession,
                         cRows: Array[(Int, Vector[Double])]): Column = {
    val cls = cRows.map(_._1)
    val cs = cRows.map(_._2.toArray)
    val bc = spark.sparkContext.broadcast((cls, cs, VecKernels.selfDots(cs)))
    val f = udf { (vec: Array[Double], vv: Double) =>
      val (bCls, bCs, bCcs) = bc.value
      val j = VecKernels.nearest(vec, 0, vv, bCls, bCs, bCcs)
      val c = bCs(j)
      BestAssign(bCls(j), VecKernels.sqDist6(vv, VecKernels.dot(vec, 0, c, 0, c.length), bCcs(j)))
    }
    f(col("vec"), col("vv"))
  }

  /** Symmetric int8 quantization of a vector column: per-vector scale
    * max|x|/127, components round(x/scale) via floor(x+0.5) (identical
    * half-up in both engines; round() half-even would not be). The
    * quantized components are stored as SMALL INTEGERS IN DOUBLES so
    * the codegen'd DotProduct folds them exactly — products ≤ 127² over
    * any realistic dim stay far under 2⁵³, so the quantized dot product
    * has NO accumulation drift at all: the only float ops left are the
    * two scale multiplications. This is the billion-vector memory/SIMD
    * trade (4× smaller vectors, integer arithmetic) with bit-exact
    * cross-engine scores. A zero vector quantizes to zeros with scale 0.
    */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val scale = aggregate(transform(v, x => abs(x)), lit(0.0),
      (acc, x) => greatest(acc, x)) / lit(127.0)
    df.withColumn("q_scale", scale)
      .withColumn("qvec",
        when(col("q_scale") === 0.0, transform(v, _ => lit(0.0)))
          .otherwise(transform(v, x => floor(x / col("q_scale") + 0.5))))
  }

  /** Top-k by quantized score: score = intdot(qa, qb)·scale_a·scale_b,
    * rounded to 4 dp. The corpus is 4× smaller in flight and the inner
    * loop is exact integer folding.
    */
  def knnQuantized(queries: DataFrame, corpus: DataFrame, qId: String,
                   cId: String, vecCol: String, k: Int): DataFrame = {
    val q = quantizeInt8(queries, vecCol)
      .select(col(qId).as("query_id"), col("qvec").as("qa"), col("q_scale").as("sa"))
    val c = quantizeInt8(corpus, vecCol)
      .select(col(cId).cast("long").as("neighbor_id"), col("qvec").as("qb"), col("q_scale").as("sb"))
    // bounded top-k, not a full-corpus-per-query window (q172's lesson)
    ranked(broadcast(q).crossJoin(c)
      .withColumn("qscore", graft.functions.Rounding.halfUp(
        dot(col("qa"), col("qb")) * col("sa") * col("sb"), 4)),
      Seq("query_id"), "qscore", "neighbor_id", k)
  }

  /** Two-stage retrieval — the production serving pattern: a cheap
    * quantized pass shortlists `shortlist` candidates per query, then
    * ONLY those re-rank under the exact full-precision cosine. At
    * billion-vector scale stage 1 touches int8 vectors (4× less memory
    * bandwidth) and stage 2 touches `shortlist` full vectors per query
    * instead of the corpus.
    */
  def twoStageRetrieve(queries: DataFrame, corpus: DataFrame, qId: String,
                       cId: String, vecCol: String, k: Int,
                       shortlist: Int): DataFrame =
    rerankExact(knnQuantized(queries, corpus, qId, cId, vecCol, shortlist),
      queries, corpus, qId, cId, vecCol, k)

  /** Stage 2 of the shortlist retrievers (`twoStageRetrieve`,
    * `Pq.pqShortlistRerank`): the exact cosine (`cosinePre`, 4 dp) of
    * each (query_id, neighbor_id) pair of stage 1's ranked `short`,
    * ranked top-k as (query_id, rank, neighbor_id, score). Only the
    * shortlist's |queries|·shortlist rows fetch float vectors; the bounded
    * aggregator keeps ≤ k of them per (partition, query).
    */
  private[vector] def rerankExact(short: DataFrame, queries: DataFrame,
                                  corpus: DataFrame, qId: String, cId: String,
                                  vecCol: String, k: Int): DataFrame = {
    val q = normed(queries.select(col(qId).cast("long").as("query_id"), col(vecCol).as("qv")),
      "qv", "nq")
    val c = normed(corpusSide(corpus, cId, vecCol), "cv", "nc")
    ranked(short.select("query_id", "neighbor_id")
      .join(broadcast(q), "query_id").join(c, "neighbor_id")
      .withColumn("score", cosinePre(col("qv"), col("cv"), col("nq"), col("nc"))),
      Seq("query_id"), "score", "neighbor_id", k)
  }

  /** Maximal-marginal-relevance diversified re-rank — the classic RAG
    * passage-selection step: from each query's exact top-`kCand`
    * cosine candidates, greedily pick `k` where pick i maximizes
    * λ·rel − (1−λ)·max_{j∈picked} sim(i, j) (ties → lowest id). The
    * first pick has an empty picked set (penalty 0, i.e. pure top-1
    * relevance); sims may be negative and the TRUE max is used (a
    * negative max-sim raises the score — the standard formula).
    *
    * Determinism contract (vs the recursive-CTE DuckDB oracle): rel =
    * knnBrute's 4-dp HALF_UP cosine; pairwise sims `VecKernels.cosine4`
    * (matches both engines' round()); each step score =
    * floor((λ·rel − (1−λ)·maxsim)·10⁴ + 0.5)/10⁴ with the SAME IEEE
    * (1.0 − λ) product both engines.
    *
    * Scale: stage 1 is knnBrute's bounded-aggregator top-kCand (only
    * |queries|·kCand rows shuffle); the greedy runs per query over a
    * kCand-element array in one UDF call — O(kCand·k) sims per query,
    * driver never involved, corpus never re-shuffled (candidate vectors
    * arrive via one keyed join on the shortlist ids).
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, qId: String,
                cId: String, vecCol: String, kCand: Int, k: Int,
                lambda: Double): DataFrame = {
    val mu = 1.0 - lambda // bind ONCE so both engines multiply the same double
    val cand = knnBrute(queries, corpus, qId, cId, vecCol, kCand)
      .select(col("query_id"), col("neighbor_id"), col("score"))
    val cvec = corpus.select(col(cId).cast("long").as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val packed = cand.join(cvec, Seq("neighbor_id"))
      .groupBy("query_id")
      .agg(collect_list(struct(col("neighbor_id"), col("score"), col("cv"))).as("cands"))
    val kSel = k
    val sel = udf { (cands: Seq[org.apache.spark.sql.Row]) =>
      val n = cands.length
      val ids = new Array[Long](n)
      val rel = new Array[Double](n)
      val vs = new Array[Array[Double]](n)
      var i0 = 0
      while (i0 < n) {
        val r = cands(i0)
        ids(i0) = r.getLong(0); rel(i0) = r.getDouble(1)
        vs(i0) = r.getSeq[Double](2).toArray
        i0 += 1
      }
      val norms = VecKernels.selfDots(vs).map(math.sqrt)
      def sim(i: Int, j: Int): Double =
        VecKernels.cosine4(VecKernels.dot(vs(i), 0, vs(j), 0, vs(i).length),
          norms(i) * norms(j))
      val picked = Array.newBuilder[(Int, Long, Double)]
      val taken = new Array[Boolean](n)
      // max sim to the picked set; NegativeInfinity = empty set → penalty 0
      val maxSim = Array.fill(n)(Double.NegativeInfinity)
      var step = 1
      val limit = math.min(kSel, n)
      while (step <= limit) {
        var bi = -1; var bs = Double.NegativeInfinity; var bid = Long.MaxValue
        var i = 0
        while (i < n) {
          if (!taken(i)) {
            val pen = if (maxSim(i) == Double.NegativeInfinity) 0.0 else maxSim(i)
            val s = math.floor((lambda * rel(i) - mu * pen) * 10000.0 + 0.5) / 10000.0
            if (s > bs || (s == bs && ids(i) < bid)) { bi = i; bs = s; bid = ids(i) }
          }
          i += 1
        }
        picked += ((step, ids(bi), bs))
        taken(bi) = true
        var j = 0
        while (j < n) {
          if (!taken(j)) {
            val s2 = sim(j, bi)
            if (s2 > maxSim(j)) maxSim(j) = s2
          }
          j += 1
        }
        step += 1
      }
      picked.result().toSeq
    }
    packed.select(col("query_id"), explode(sel(col("cands"))).as("p"))
      .select(col("query_id"), col("p._1").cast("int").as("rank"),
        col("p._2").as("neighbor_id"), col("p._3").as("mmr_score"))
      .orderBy("query_id", "rank")
  }

  /** Embedding near-dup pairs ≥ threshold with IVF-bucketed candidate
    * generation under driver-held centroids (the `ivfCentroids`
    * artifact): each vector probes its `nProbe` nearest centroids
    * (`ivfAssignDriven`), only pairs sharing a probed cluster are scored,
    * and each is verified with exact cosine — the crossJoin never
    * happens. Recall is structural, not guaranteed: a qualifying pair
    * whose members probe disjoint centroid sets is lost. Right when the
    * threshold sits inside genuine cluster structure; see
    * `signLshNearDup` for the cluster-free alternative. q69's path.
    */
  def nearDupPairsBucketedDriven(vecs: DataFrame, idCol: String, vecCol: String,
                                 cent: Array[(Int, Array[Double])],
                                 threshold: Double, nProbe: Int = 2): DataFrame = {
    val assigned = ivfAssignDriven(vecs, idCol, vecCol, cent, nProbe)
    assigned.as("a").join(assigned.as("b"), "cl")
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosinePre(col("a.vec"), col("b.vec"), col("a.nv"), col("b.nv")).as("cos"))
      .distinct() // a pair sharing both probed clusters appears twice
      .filter(col("cos") >= threshold)
      .orderBy("id_a", "id_b")
  }

  /** sign-LSH's one operating point: 160 bands of 32 sign bits, planes
    * seeded from 7 (see `signLshNearDup` for the S-curve it buys). */
  private final val LshBands = 160
  private final val LshBandBits = 32
  private final val LshSeed = 7L

  /** Fast-JL sign projections (Ailon–Chazelle 2006, structured-spinner
    * form): instead of nProj dense ±1 hyperplanes (O(nProj·dim) mults
    * per vector), each power-of-two block of projections is
    * H·D₂·H·D₁·x — two deterministic ±1 diagonals and two in-place
    * Walsh–Hadamard passes, O(block·log block) ADDS for a whole block
    * of sign projections at once. At the registered operating point
    * (160 bands × 32 bits over 384-d vectors = 10 blocks of 512) that
    * is ~25× less arithmetic than the dense matrix the previous
    * implementation multiplied — and the 100× rehearsal measured the
    * signature stage as q62's dominant cost. The rows of H·D are
    * orthogonal within a block, which for sign-LSH banding is at least
    * as good as iid Rademacher rows (collisions follow the same
    * 1−θ/π law; orthogonality only removes redundant bits), and the
    * dense input here (bag-of-tokens embeddings) is exactly the case
    * where one diagonal+Hadamard pass already mixes well — two passes
    * are used for margin. Everything derives from `LshSeed`, so every
    * executor computes identical signatures; per-executor state is two
    * tiny diagonal arrays per block, never an nProj×dim matrix.
    */
  private final class SignPlanes extends Serializable {
    private val nProj = LshBands * LshBandBits
    @transient @volatile private var diags: Array[Array[Float]] = _
    private def mix64(z0: Long): Long = graft.functions.SplitMix.mix64(z0)
    // in-place Walsh–Hadamard transform (unnormalized — signs are scale-
    // invariant, so the 1/√n factor is dropped)
    private def fht(a: Array[Float]): Unit = {
      val n = a.length
      var h = 1
      while (h < n) {
        var i = 0
        while (i < n) {
          var j = i
          while (j < i + h) {
            val x = a(j); val y = a(j + h)
            a(j) = x + y; a(j + h) = x - y
            j += 1
          }
          i += 2 * h
        }
        h <<= 1
      }
    }
    // the ±1 diagonals, built once per executor PER BLOCK SIZE: index
    // [2·block + pass]. The cache is keyed on the block size (nBlocks is
    // a function of block for a fixed nProj), so a later call with a
    // vector whose dim maps to a different power-of-two block rebuilds
    // instead of indexing stale shorter arrays out of bounds (or
    // silently emitting wrong signatures for a smaller block).
    private def diagonals(block: Int, nBlocks: Int): Array[Array[Float]] = {
      def ok(d: Array[Array[Float]]): Boolean =
        d != null && d.length == nBlocks * 2 && d(0).length == block
      val cur = diags
      if (ok(cur)) cur
      else synchronized {
        val c2 = diags
        if (ok(c2)) c2
        else {
          val d = Array.ofDim[Array[Float]](nBlocks * 2)
          var b = 0
          while (b < nBlocks * 2) {
            d(b) = Array.tabulate(block)(i =>
              if ((mix64(LshSeed * 0x9E3779B9L + b.toLong * 1000003L + i) & 1L) == 0L) 1f
              else -1f)
            b += 1
          }
          diags = d
          d
        }
      }
    }
    def bandSigs(v: Seq[Float]): Array[Long] = {
      val vec = v.toArray
      val dim = vec.length
      var block = 1
      while (block < dim) block <<= 1
      val nBlocks = (nProj + block - 1) / block
      val dg = diagonals(block, nBlocks)
      val sigs = new Array[Long](LshBands)
      val buf = new Array[Float](block)
      var b = 0
      var proj = 0
      while (b < nBlocks) {
        val d1 = dg(2 * b); val d2 = dg(2 * b + 1)
        var i = 0
        while (i < block) {
          buf(i) = if (i < dim) d1(i) * vec(i) else 0f
          i += 1
        }
        fht(buf)
        i = 0
        while (i < block) { buf(i) *= d2(i); i += 1 }
        fht(buf)
        var j = 0
        while (j < block && proj < nProj) {
          if (buf(j) > 0) sigs(proj / LshBandBits) |= (1L << (proj % LshBandBits))
          proj += 1
          j += 1
        }
        b += 1
      }
      sigs
    }
  }

  /** Embedding near-dup pairs ≥ threshold via random-hyperplane sign LSH
    * + exact cosine verify. Each vector gets 160 band signatures of 32
    * sign bits; pairs colliding on any band are verified exactly, so
    * precision is 1.0 and recall is the LSH S-curve:
    * P(per-band collision) = (1 − θ/π)^32 with θ = arccos(cos).
    * Wide bands make the curve STEEP, which is what lets the verify set
    * stay small when the corpus has heavy just-below-threshold mass: at
    * 32-bit bands, p(0.95) = 0.041 vs p(0.80) = 6.6e-4 — so 160 bands
    * recall τ = 0.95 pairs w.p. ≥ 0.9987 (≥ 1−1e-4 at the planted
    * near-dups' cos ≥ 0.96) while only ~10% of the cos-0.8 background
    * ever reaches verification and random pairs essentially never do.
    * 2^32 bucket values per band keep occupancy bounded as n grows.
    *
    * This is the 100 TB near-dup path for REALISTIC thresholds (≥ ~0.8).
    * Measured on the synthetic `embeddings` fixture at τ = 0.45: no
    * scheme prunes there — the ≥ 0.45 graph over near-isotropic vectors
    * is noise (IVF probe-4 still misses pairs at sf0.1; sign-LSH needs
    * ~300 bands for 99% recall while 60%+ of random pairs collide), which
    * is why `q27` keeps the exact scan and this operator is registered
    * against hash-embedded documents at τ = 0.95.
    *
    * Signatures hash the vector as floats (a hash only picks candidates);
    * the verify scores every candidate in the input's own element type.
    */
  def signLshNearDup(vecs: DataFrame, idCol: String, vecCol: String,
                     threshold: Double): DataFrame = {
    require(threshold > 0, "sign-LSH near-dup needs a positive cosine threshold")
    val sp = new SignPlanes
    val sigUdf = udf((v: Seq[Float]) => sp.bandSigs(v))
    // zero-norm vectors score cosine 0.0 against everything, so at a
    // positive threshold dropping them up front is output-identical —
    // and they are the one class that shares IDENTICAL signatures in
    // every band (all sign bits 0), i.e. the guaranteed giant join
    // bucket on a corpus with many empty documents. `v` feeds the band
    // self-join and both verify sides unmaterialized: an eager local
    // checkpoint of it measured no faster on q62 (sf0.1, 4 cores, median
    // of 5: 1,438 vs 1,437 ms) and cost one more job.
    val v = graft.Tables.widen(vecs.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .withColumn("nv", l2Norm(col("vec")))
      .filter(col("nv") > 0)
    // candidate generation stays a band-table SELF-JOIN by measurement:
    // the tempting one-shuffle alternative — groupBy (band, sig) +
    // collect_list + per-bucket pair expansion, q24's pattern — was
    // built and benchmarked at the 100× rehearsal and lost 120 s vs
    // 65 s: with 2³² sig values per band the 32M-row exploded table is
    // ~all singleton keys, and 32M one-element aggregation buffers cost
    // far more than the join's second shuffle of primitive rows. The
    // bucket pattern wins when buckets are DENSE (q24's capped-df
    // shingle index); here density is exactly what the wide signatures
    // are designed to prevent. Round-9 re-shaping of the join itself
    // (measured at the 100× rehearsal, 500k docs, numbers per stage):
    //  - (band, sig) packs into ONE long key (band·2³² + sig — exact
    //    for 32-bit sigs): single-long shuffle/compare, 29.9 → 21.6 s
    //    for the candidate stage;
    //  - a shuffle_hash hint was measured ~13% faster (18.4 → 16.1 s)
    //    but REVERTED: the SHJ build side cannot spill, and under the
    //    memory pressure of a full catalog run it failed outright with
    //    "Can't acquire ... bytes to build hash relation" — a
    //    sorted-merge join that spills beats a hash join that dies.
    val banded = v
      .select(col("id"), posexplode(sigUdf(col("vec").cast("array<float>"))).as(Seq("band", "sig")))
      .select(col("id"), (col("band").cast("long") * 4294967296L + col("sig")).as("key"))
    // verify: two joins fetch both vectors for every RAW collision,
    // and only the qualifying pairs are distinct-ed (a near-identical
    // pair collides in many bands; cosine is deterministic per pair, so
    // verify-then-distinct equals distinct-then-verify). Raw collisions
    // carry little duplication (274,690 raw vs 239,144 distinct at
    // sf0.1), and verifying them first keeps the cosines in the
    // band-join stage's tasks: a candidate distinct first is only id
    // pairs, which AQE coalesces into ONE partition, and every cosine
    // then ran in one task (q62 at sf0.1, 4 cores: 1,906 vs 1,437 ms
    // median of 5). The joins are SQL joins, so the planner broadcasts
    // a small corpus and shuffles a large one; no driver collect.
    val va = v.select(col("id").as("id_a"), col("vec").as("va"), col("nv").as("na"))
    val vb = v.select(col("id").as("id_b"), col("vec").as("vb"), col("nv").as("nb"))
    banded.as("a").join(banded.as("b"), "key")
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .join(va, "id_a")
      .join(vb, "id_b")
      .withColumn("cos", cosinePre(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** One side of an exact cosine score: `side` plus the L2 norm of its
    * `vec` column as `norm`, computed once per row of the side — never
    * once per scored pair.
    */
  private def normed(side: DataFrame, vec: String, norm: String): DataFrame =
    side.withColumn(norm, l2Norm(col(vec)))

  /** Exact cosine score of every (query, corpus) row pair: the one
    * scoring step of knnBrute, recallAtK, rankMetrics, hardNegatives,
    * thresholdCascade and `Retrieval.retrieve`. Both sides arrive
    * projected to their key, vector and carried columns; each is normed
    * once (`nq`, `nc`), the query side is broadcast and the corpus
    * streams past it, and `score` is [[cosinePre]] of the two vectors.
    */
  private[graft] def exactScores(q: DataFrame, c: DataFrame, qVec: String = "qv",
                                 cVec: String = "cv", score: String = "score"): DataFrame =
    broadcast(normed(q, qVec, "nq")).crossJoin(normed(c, cVec, "nc"))
      .withColumn(score, cosinePre(col(qVec), col(cVec), col("nq"), col("nc")))

  /** (query_id, qv, carry…): the query side of the exact scorer. */
  private def querySide(queries: DataFrame, qId: String, vecCol: String,
                        carry: Column*): DataFrame =
    queries.select(col(qId).as("query_id") +: col(vecCol).as("qv") +: carry: _*)

  /** (neighbor_id as BIGINT, cv, carry…): the corpus side of the exact scorer. */
  private def corpusSide(corpus: DataFrame, cId: String, vecCol: String,
                         carry: Column*): DataFrame =
    corpus.select(col(cId).cast("long").as("neighbor_id") +: col(vecCol).as("cv") +: carry: _*)

  /** Exact brute-force top-k: broadcast queries × corpus, bounded
    * top-k. Ties broken by neighbor id for determinism.
    */
  def knnBrute(queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
               vecCol: String, k: Int): DataFrame =
    // bounded top-k (q172's lesson applied to the baseline): no scored
    // corpus of a query ever funnels through one reducer
    ranked(exactScores(querySide(queries, qId, vecCol), corpusSide(corpus, cId, vecCol)),
      Seq("query_id"), "score", "neighbor_id", k)

  /** IVF-style ANN: centroids = per-cluster mean vector (`ivfCentroids`,
    * collected at call time); each query probes the `nProbe` nearest
    * centroids through `ivfAssign`'s probe and scores only those
    * clusters' members. The labeled fixture supplies the clustering; in
    * production the labels come from `kmeansAssign` at index-build time.
    */
  def knnIvf(queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
             vecCol: String, labelCol: String, k: Int, nProbe: Int = 2): DataFrame = {
    val probed = probe(normed(querySide(queries, qId, vecCol), "qv", "nq"),
      ivfCentroids(corpus, cId, vecCol, labelCol), nProbe)
    val c = normed(corpusSide(corpus, cId, vecCol, col(labelCol).as("cl")), "cv", "nc")
    // the probed-members pool is nProbe·N/k rows per query — bounded
    // relative to the corpus but still too big for one reducer at 10⁹
    // vectors; the typed aggregator keeps it ≤ k map-side entries
    ranked(probed.join(c, "cl")
      .withColumn("score", cosinePre(col("qv"), col("cv"), col("nq"), col("nc"))),
      Seq("query_id"), "score", "neighbor_id", k)
  }

  /** The labeled exact top-k under recallAtK and rankMetrics: per query
    * (its label as `expected`), the k highest-cosine corpus items, each
    * with `rel` = 1.0 when its label equals `expected`, else 0.0.
    * Returns (query_id, expected, rank, neighbor_id, rel); the corpus
    * labels re-join on the |queries|·k survivors only.
    */
  private def labeledTopK(queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
                          vecCol: String, labelCol: String, k: Int): DataFrame = {
    val c = corpusSide(corpus, cId, vecCol, col(labelCol).as("nl"))
    ranked(exactScores(querySide(queries, qId, vecCol, col(labelCol).as("expected")), c),
      Seq("query_id", "expected"), "score", "neighbor_id", k)
      .join(c.select(col("neighbor_id"), col("nl")), Seq("neighbor_id"))
      .select(col("query_id"), col("expected"), col("rank"), col("neighbor_id"),
        when(col("nl") === col("expected"), 1.0).otherwise(0.0).as("rel"))
  }

  /** recall@k with an expected-label membership test (mirror of the
    * reference's recall@10 gate, eval_snapshot.py:91-108): the average
    * over queries of whether any of the k nearest shares the label.
    */
  def recallAtK(queries: DataFrame, corpus: DataFrame, qId: String, cId: String,
                vecCol: String, labelCol: String, k: Int): DataFrame =
    labeledTopK(queries, corpus, qId, cId, vecCol, labelCol, k)
      .groupBy("query_id").agg(max("rel").as("hit"))
      .agg(round(avg("hit"), 4).as("recall"))

  /** Per-query rank metrics over exact cosine top-k with binary
    * same-label relevance: reciprocal rank of the first relevant hit
    * (MRR's per-query term) and nDCG@k with the ideal DCG truncated at
    * min(relevant-in-corpus, k). Same shape as recallAtK — queries
    * broadcast, corpus never shuffles, the bounded top-k ships only
    * ≤ k (score, id) pairs per (partition, query) — plus a tiny per-label count agg broadcast
    * back for the IDCG denominator. The ≤k-element IDCG sum runs
    * through an `aggregate` HOF: interpreted, but over at most k
    * elements per QUERY (not per corpus row), so it never touches the
    * hot path.
    */
  def rankMetrics(queries: DataFrame, corpus: DataFrame, qId: String,
                  cId: String, vecCol: String, labelCol: String,
                  k: Int): DataFrame = {
    val ln2 = math.log(2.0)
    val perQ = labeledTopK(queries, corpus, qId, cId, vecCol, labelCol, k)
      .groupBy("query_id", "expected")
      .agg(
        max(col("rel") / col("rank")).as("rr"),
        sum(col("rel") / (log(col("rank").cast("double") + 1.0) / ln2)).as("dcg"))
    val labCounts = corpus.select(col(labelCol).as("nl")).groupBy(col("nl").as("expected"))
      .agg(count(lit(1)).as("n_rel"))
    perQ.join(broadcast(labCounts), "expected")
      .withColumn("m", least(col("n_rel"), lit(k)).cast("int"))
      .withColumn("idcg",
        when(col("m") >= 1,
          aggregate(sequence(lit(1), col("m")), lit(0.0),
            (acc, r) => acc + lit(1.0) / (log(r.cast("double") + 1.0) / ln2)))
          .otherwise(lit(0.0)))
      .select(col("query_id"),
        (floor(col("rr") * 10000.0 + 0.5) / 10000.0).as("rr"),
        (floor(when(col("idcg") > 0.0, col("dcg") / col("idcg")).otherwise(0.0)
          * 10000.0 + 0.5) / 10000.0).as("ndcg"))
      .orderBy("query_id")
  }

  /** Hard-negative mining for contrastive retrieval training: per
    * query, the top-k highest-cosine corpus items whose label DIFFERS —
    * the negatives that actually teach a ranker (random negatives are
    * trivially separable; the hard ones sit just under the decision
    * boundary). Identical shape to knnBrute with the relevance filter
    * applied BEFORE the top-k, so the rank is over negatives only.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, qId: String,
                    cId: String, vecCol: String, labelCol: String,
                    k: Int): DataFrame =
    // relevance filter BEFORE the bounded top-k, so the rank is over
    // negatives only — same semantics as the former window form
    ranked(exactScores(querySide(queries, qId, vecCol, col(labelCol).as("expected")),
        corpusSide(corpus, cId, vecCol, col(labelCol).as("nl")))
      .filter(col("nl") =!= col("expected")),
      Seq("query_id"), "score", "neighbor_id", k)
      .orderBy("query_id", "rank")

  /** Widening threshold cascade (reference main.py:374-381): primary
    * threshold, and only queries with zero primary hits fall back to the
    * lower tier. Two passes over the full query×corpus scores: the first
    * takes each query's max score, the second re-scores every pair and
    * keeps the tier its query's max selects (≥ tHigh when the max
    * reaches tHigh, else ≥ tLow).
    */
  def thresholdCascade(queries: DataFrame, corpus: DataFrame, qId: String,
                       cId: String, vecCol: String,
                       tHigh: Double, tLow: Double): DataFrame = {
    // two narrow corpus passes, ZERO wide shuffle: the former
    // max().over(partitionBy(query_id)) put every scored corpus row of
    // a query through one reducer. Pass 1 reduces the per-query max
    // with map-side combine (|queries| rows out); pass 2 re-scores and
    // filters against the broadcast maxima. Re-scoring is a narrow
    // scan-stage recompute — cheaper at scale than one hot reducer.
    // The neighbor id keeps the corpus's own type here.
    val scored = exactScores(querySide(queries, qId, vecCol),
      corpus.select(col(cId).as("neighbor_id"), col(vecCol).as("cv")), score = "cos")
    val qmax = scored.groupBy("query_id").agg(max("cos").as("qmax"))
    scored.join(broadcast(qmax), Seq("query_id"))
      .filter((col("qmax") >= tHigh && col("cos") >= tHigh) ||
              (col("qmax") <  tHigh && col("cos") >= tLow))
      .withColumn("tier", when(col("qmax") >= tHigh, lit(1)).otherwise(lit(2)))
      .select("query_id", "neighbor_id", "cos", "tier")
      .orderBy("query_id", "neighbor_id")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup at
    * corpus scale = cluster the embedding space, then pay pairwise
    * cosine ONLY within clusters — the cluster key turns the quadratic
    * all-pairs into a keyed self-join whose per-key expansion is
    * bounded by cluster size. Input is any (id, vec, nv, cl) assignment
    * frame (`ivfAssign` output — label-mean centroids for the catalog
    * row, `kmeansAssign` for a trained codebook); a document is DROPPED
    * when some earlier same-cluster document sits at cosine ≥ tau, and
    * the reported keeper is the argmax-cosine earliest such document
    * (min(struct) aggregate — no window over a possibly-hot cluster).
    *
    * Scale contract: cluster count must grow with the corpus (the
    * k≈√N regime of `kmeansTrain`, or a per-cluster size cap with
    * re-splitting) so per-cluster pair work stays bounded — with
    * cluster size ≤ B the join expands to ≤ N·B/2 rows, linear in N
    * at fixed B. The self-join is PINNED shuffle-hash: both sides are
    * corpus-growing, so an AQE broadcast flip would be a lie at scale.
    *
    * Output: (cluster, dropped_id, keeper_id, n_dups, best_cos_bp).
    */
  def semDedup(assigned: DataFrame, tau: Double): DataFrame = {
    val a = assigned.select(col("cl"), col("id").as("id_a"),
      col("vec").as("va"), col("nv").as("na"))
    val b = assigned.select(col("cl"), col("id").as("id_b"),
      col("vec").as("vb"), col("nv").as("nb"))
    a.join(b.hint("shuffle_hash"), Seq("cl"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosinePre(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos") >= tau)
      // round-4 cosine ×10⁴ is integer-valued; floor(+0.5) recovers the
      // exact basis points (the q191 oracle's spelling, digit-identical)
      .withColumn("cos_bp", floor(col("cos") * 10000 + 0.5).cast("long"))
      .groupBy(col("cl"), col("id_b"))
      .agg(count(lit(1)).as("n_dups"),
        min(struct((lit(10000L) - col("cos_bp")).as("neg"),
          col("id_a").as("a"))).as("best"))
      .select(col("cl").cast("int").as("cluster"),
        col("id_b").as("dropped_id"),
        col("best.a").as("keeper_id"),
        col("n_dups"),
        (lit(10000L) - col("best.neg")).as("best_cos_bp"))
      .orderBy("dropped_id")
  }
}
