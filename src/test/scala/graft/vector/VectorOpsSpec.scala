package graft.vector

import graft.{SparkSpec, Tables}
import graft.functions.TopKAggregator
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class VectorOpsSpec extends SparkSpec {

  private lazy val e = Tables.embeddings(spark, sfDir)
  private lazy val queries = e.filter(col("vec_id") < 10)
  private lazy val corpus = e.filter(col("vec_id") >= 10)

  test("rank metrics: rr is first-relevant reciprocal rank, ndcg matches hand computation") {
    import spark.implicits._
    val q = Seq((0L, Array(1f, 0f), "A")).toDF("vec_id", "embedding", "label")
    val c = Seq(
      (10L, Array(1f, 0f), "A"),     // cos 1.0     rank 1, relevant
      (11L, Array(0.9f, 0.1f), "B"), // cos ~0.9939 rank 2
      (12L, Array(0.5f, 0.5f), "A")  // cos ~0.7071 rank 3, relevant
    ).toDF("vec_id", "embedding", "label")
    val out = VectorOps.rankMetrics(q, c, "vec_id", "vec_id", "embedding", "label", 10)
      .collect()
    assert(out.length == 1)
    assert(out(0).getAs[Double]("rr") == 1.0)
    // dcg = 1/log2(2) + 1/log2(4); idcg over n_rel=2 = 1/log2(2) + 1/log2(3)
    val dcg = 1.0 + 1.0 / 2.0
    val idcg = 1.0 + 1.0 / (math.log(3.0) / math.log(2.0))
    val expected = math.floor(dcg / idcg * 10000.0 + 0.5) / 10000.0
    assert(out(0).getAs[Double]("ndcg") == expected)
  }

  test("rank metrics equal brute-force recomputation on random labeled sets") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      def vec() = Array.fill(8)(rnd.nextFloat() * 2f - 1f)
      val qs = (0L until 5L).map(i => (i, vec(), s"L${rnd.nextInt(3)}"))
      val cs = (100L until 140L).map(i => (i, vec(), s"L${rnd.nextInt(3)}"))
      val out = VectorOps.rankMetrics(
          qs.toDF("vec_id", "embedding", "label"),
          cs.toDF("vec_id", "embedding", "label"),
          "vec_id", "vec_id", "embedding", "label", 10)
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      // brute force with the SAME rounded-cosine rank rule
      def cos(a: Array[Float], b: Array[Float]): Double = {
        val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
        val na = math.sqrt(a.map(x => x.toDouble * x).sum)
        val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
        if (na * nb == 0) 0.0
        else BigDecimal(dot / (na * nb)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val log2 = (x: Double) => math.log(x) / math.log(2.0)
      qs.foreach { case (qid, qv, ql) =>
        val ranked = cs.map { case (cid, cv, cl) => (cid, cos(qv, cv), cl) }
          .sortBy { case (cid, s, _) => (-s, cid) }.take(10)
        val rels = ranked.zipWithIndex.collect { case (((_, _, cl)), i) if cl == ql => i + 1 }
        val rr = if (rels.isEmpty) 0.0 else 1.0 / rels.head
        val dcg = rels.map(r => 1.0 / log2(r + 1.0)).sum
        val nRel = cs.count(_._3 == ql)
        val idcg = (1 to math.min(nRel, 10)).map(r => 1.0 / log2(r + 1.0)).sum
        val ndcg = if (idcg > 0) dcg / idcg else 0.0
        def fl(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
        assert(out(qid) == ((fl(rr), fl(ndcg))),
          s"seed=$seed qid=$qid: ${out(qid)} vs (${fl(rr)}, ${fl(ndcg)})")
      }
    }
  }

  test("brute-force knn: k rows per query, scores non-increasing") {
    val res = VectorOps.knnBrute(queries, corpus, "vec_id", "vec_id", "embedding", 5)
      .collect().groupBy(_.getAs[Long]("query_id"))
    assert(res.size == 10)
    res.values.foreach { rows =>
      assert(rows.length == 5)
      val scores = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF ANN: neighbors come only from probed clusters, recall >= 0.25") {
    val brute = VectorOps.knnBrute(queries, corpus, "vec_id", "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = VectorOps.knnIvf(queries, corpus, "vec_id", "vec_id", "embedding", "label", 5)
    val ivfPairs = ivf.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // per-query: at most 2 distinct neighbor clusters (nProbe = 2)
    val labels = corpus.select(col("vec_id").as("neighbor_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    ivfPairs.groupBy(_._1).values.foreach { ps =>
      assert(ps.map(p => labels(p._2)).size <= 2 * 5) // sanity
      assert(ps.map(p => labels(p._2)).toSet.size <= 2, "IVF leaked unprobed clusters")
    }
    // fixture labels are weak clusters: numpy cross-check gives 0.34 at
    // nProbe=2 (0.6 even at 5/10) — assert the honest floor
    val recall = brute.intersect(ivfPairs).size.toDouble / brute.size
    assert(recall >= 0.25, s"IVF recall $recall")
  }

  test("sign-LSH near-dup equals the exact all-pairs scan at t=0.95 over embedded docs") {
    val docs = graft.Tables.documents(spark, sfDir)
    val emb = graft.embed.Embedder.withEmbedding(
      docs.select(col("doc_id"), col("text")), "text", "vec").cache()
    val exact = VectorReference.nearDupPairs(emb, "doc_id", "vec", 0.95).collect().toSeq
    val lsh = VectorOps.signLshNearDup(emb, "doc_id", "vec", 0.95).collect().toSeq
    assert(exact.nonEmpty)
    assert(lsh == exact, "sign-LSH + exact verify must reproduce the brute-force pairs")
    // τ = 0.80: a far denser candidate set, where LSH recall is no longer
    // near-certain; every emitted pair must still be exact, and emitted once
    val exact80 = VectorReference.nearDupPairs(emb, "doc_id", "vec", 0.80).collect().toSet
    val lsh80 = VectorOps.signLshNearDup(emb, "doc_id", "vec", 0.80).collect().toSeq
    assert(lsh80.size > lsh.size, s"suspiciously small pair set at τ=0.80: ${lsh80.size}")
    assert(lsh80.map(r => (r.getLong(0), r.getLong(1))).distinct.size == lsh80.size,
      "a pair was emitted twice at τ=0.80")
    assert(lsh80.toSet.subsetOf(exact80), s"non-exact pairs: ${(lsh80.toSet -- exact80).take(5)}")
    // an INT id column and a double-native vector column
    val narrowId = emb.select(col("doc_id").cast("int").as("doc_id"),
      col("vec").cast("array<double>").as("vec"))
    val exactInt = VectorReference.nearDupPairs(narrowId, "doc_id", "vec", 0.95).collect().toSeq
    assert(exactInt.size == exact.size)
    assert(VectorOps.signLshNearDup(narrowId, "doc_id", "vec", 0.95).collect().toSeq == exactInt,
      "sign-LSH over an INT id and double vectors must reproduce the brute-force pairs")
  }

  test("sign-LSH near-dup leaves no CacheManager entry behind") {
    val docs = graft.Tables.documents(spark, sfDir)
    val emb = graft.embed.Embedder.withEmbedding(
      docs.select(col("doc_id"), col("text")), "text", "vec")
    val entries = () => org.apache.spark.sql.graftshim.CacheShim.entries(spark)
    val before = entries()
    assert(VectorOps.signLshNearDup(emb, "doc_id", "vec", 0.95).count() > 0)
    assert(entries() == before, s"${entries() - before} entries left by one call")
    // the blocked exact scan, on success and on its too-many-blocks throw
    assert(VectorOps.nearDupPairsBlocked(emb, "doc_id", "vec", 0.95, blockRows = 7).count() > 0)
    assert(entries() == before, s"${entries() - before} entries left by nearDupPairsBlocked")
    import spark.implicits._
    val tooMany = (0L to 2048L).map(i => (i, Array(1f, i.toFloat))).toDF("id", "vec")
    intercept[IllegalArgumentException] {
      VectorOps.nearDupPairsBlocked(tooMany, "id", "vec", 0.9, blockRows = 1)
    }
    assert(entries() == before, s"${entries() - before} entries left by a refused nearDupPairsBlocked")
  }

  test("bucketed near-dup is exact when the threshold sits inside cluster structure") {
    import spark.implicits._
    // two tight clusters around orthogonal axes + small deterministic noise
    val vecs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(10f, 0f, 0f, 1f) else Array(0f, 10f, 1f, 0f)
      val v = base.clone(); v(2 + (i % 2)) += (i % 5) * 0.1f
      (i.toLong, v, i % 2)
    }.toDF("id", "vec", "label")
    val exact = VectorReference.nearDupPairs(vecs, "id", "vec", 0.9).collect().toSeq
    val bucketed = VectorOps.nearDupPairsBucketedDriven(vecs, "id", "vec",
      VectorOps.ivfCentroids(vecs, "id", "vec", "label"), 0.9).collect().toSeq
    assert(exact.nonEmpty)
    assert(bucketed == exact)
    // and the candidate set is genuinely pruned: only same-cluster pairs met
    val assigned = VectorOps.ivfAssign(vecs, "id", "vec", "label", 1)
    val cands = assigned.as("a").join(assigned.as("b"), "cl")
      .filter(col("a.id") < col("b.id")).count()
    assert(cands < 20L * 19 / 2, s"bucketing must prune cross-cluster pairs, got $cands")
  }

  test("blocked near-dup equals the exact all-pairs scan with no cartesian plan") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    for (t <- Seq(0.45, 0.8)) {
      val exact = VectorReference.nearDupPairs(emb, "vec_id", "embedding", t).collect().toSeq
      // blockRows smaller than the fixture so same-block AND cross-block
      // pair paths are both exercised
      val blocked = VectorOps.nearDupPairsBlocked(emb, "vec_id", "embedding", t, blockRows = 7)
      assert(blocked.collect().toSeq == exact,
        s"blocked all-pairs scan must be exact at t=$t")
      val plan = blocked.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
        s"blocked plan must join the driver-built grid, not a product join:\n$plan")
    }
    // zero-norm vectors are pruned, not divide-by-zero'd
    import spark.implicits._
    val withZero = Seq((1L, Array(0f, 0f, 0f, 0f)), (2L, Array(1f, 0f, 0f, 0f)),
      (3L, Array(1f, 0.01f, 0f, 0f))).toDF("vec_id", "embedding")
    val pairs = VectorOps.nearDupPairsBlocked(withZero, "vec_id", "embedding", 0.9)
      .collect().toSeq
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))) == Seq((2L, 3L)))
  }

  test("cosine: zero-norm side scores 0.0 instead of ANSI divide-by-zero") {
    import spark.implicits._
    val df = Seq(
      (Array(0f, 0f, 0f), Array(1f, 2f, 2f)),
      (Array(3f, 4f, 0f), Array(3f, 4f, 0f))).toDF("a", "b")
    val out = df.select(VectorOps.cosine(col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0))
    assert(out.toSeq == Seq(0.0, 1.0))
  }

  test("threshold cascade: tier-2 only for queries with no tier-1 hits") {
    val res = VectorOps.thresholdCascade(queries, corpus, "vec_id", "vec_id",
      "embedding", 0.45, 0.30).collect()
    val byQ = res.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rows =>
      val tiers = rows.map(_.getAs[Int]("tier")).toSet
      assert(tiers.size == 1, "a query must not mix tiers")
    }
  }

  /** The reference `ranked` must equal: a row_number window over the
    * group, ordered (score desc, id asc), cut at k — collected in
    * (by…, rank) order.
    */
  private def windowTopK(df: DataFrame, by: Seq[String], score: String,
                         id: String, k: Int): Seq[Row] = {
    val w = Window.partitionBy(by.map(col): _*).orderBy(col(score).desc, col(id).asc)
    df.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(by.map(col) ++ Seq(col("rank"), col(id), col(score)): _*)
      .orderBy((by :+ "rank").map(col): _*).collect().toSeq
  }

  private def rankedTopK(df: DataFrame, by: Seq[String], score: String,
                         id: String, k: Int): Seq[Row] =
    TopKAggregator.ranked(df, by, score, id, k)
      .orderBy((by :+ "rank").map(col): _*).collect().toSeq

  test("TopK aggregator equals the window top-k exactly") {
    // ranked vs the row_number reference on tied, NaN and signed-zero
    // scores, per group and global, k below and above the group sizes
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val scores = Array(1.0, 0.5, 0.0, -0.0, Double.NaN, -1.0)
    // group 0: 40 rows over 6 score values (many ties), group 1: 12,
    // group 2: 3 rows (fewer than every k ≥ 3 below)
    val rows = Seq(0 -> 40, 1 -> 12, 2 -> 3).flatMap { case (g, n) =>
      rnd.shuffle((-n / 2 until n - n / 2).map(_ * 7L + g)).map(i =>
        (g, i, scores(rnd.nextInt(scores.length))))
    }
    // 4 partitions so map-side partial top-ks really merge
    val df = rows.toDF("g", "id", "score").repartition(4)
    for (k <- Seq(1, 3, 5, 50)) {
      val want = windowTopK(df, Seq("g"), "score", "id", k)
      assert(want.exists(r => r.getDouble(3).isNaN))
      assert(rankedTopK(df, Seq("g"), "score", "id", k) == want, s"k=$k")
      assert(rankedTopK(df, Nil, "score", "id", k) ==
        windowTopK(df, Nil, "score", "id", k), s"global k=$k")
    }
    // NaN ranks first, -0.0 ties +0.0 and falls back to the id
    val zeros = Seq((1L, -0.0), (2L, 0.0), (3L, Double.NaN), (0L, 0.0))
      .toDF("id", "score")
    assert(rankedTopK(zeros, Nil, "score", "id", 4).map(_.getLong(1)) == Seq(3L, 0L, 1L, 2L))
    assert(rankedTopK(zeros, Nil, "score", "id", 4) == windowTopK(zeros, Nil, "score", "id", 4))
  }

  test("ranked breaks String ties in Spark's code-point order, not UTF-16's") {
    import spark.implicits._
    // U+1F600 is the surrogate pair D83D DE00: before U+FF01 in UTF-16
    // units, after it in code points (UTF-8 bytes), which Spark sorts by
    val ids = Seq("\uD83D\uDE00", "\uFF01", "b", "a", "\uFF01a")
    val df = ids.map(w => ("s", w, 1.0)).toDF("source", "w", "c").repartition(3)
    val got = rankedTopK(df, Seq("source"), "c", "w", 3)
    assert(got.map(_.getString(2)) == Seq("a", "b", "\uFF01"))
    assert(got == windowTopK(df, Seq("source"), "c", "w", 3))
    assert(rankedTopK(df, Seq("source"), "c", "w", 9) ==
      windowTopK(df, Seq("source"), "c", "w", 9))
  }

  test("TopK aggregator path survives zero-norm vectors (q48's plan, not just cosine())") {
    // q48 is knnBrute: the guard must hold through the aggregator path
    import spark.implicits._
    val qs = Seq((0L, Array(0f, 0f, 0f)), (1L, Array(1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val cs = Seq((10L, Array(1f, 1f, 0f)), (11L, Array(0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val rows = VectorOps.knnBrute(qs, cs, "vec_id", "vec_id", "embedding", 2)
      .collect()
    assert(rows.length == 4) // no ANSI DIVIDE_BY_ZERO; all pairs scored
    // every pair touching a zero vector scores exactly 0.0
    val zeroish = rows.filter(r =>
      r.getAs[Long]("query_id") == 0L || r.getAs[Long]("neighbor_id") == 11L)
    assert(zeroish.nonEmpty && zeroish.forall(_.getAs[Double]("score") == 0.0))
  }

  test("kmeans fit equals a local Lloyd reference assignment-for-assignment") {
    def rnd(x: Double, dp: Int): Double = {
      // mirror Spark/DuckDB round (HALF_UP) without float re-scaling drift
      BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1).toArray).sortBy(_._1)
    def dotp(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val k = 4; val iters = 3
    var cent: Seq[(Int, Array[Double])] =
      vecs.take(k).zipWithIndex.map { case ((_, v), i) => (i, v) }.toSeq
    def assign(): Map[Long, (Double, Int)] = vecs.map { case (id, v) =>
      val scored = cent.map { case (cl, c) =>
        (cl, rnd(dotp(v, v) - 2.0 * dotp(v, c) + dotp(c, c), 6))
      }
      id -> scored.minBy { case (cl, d) => (d, cl) }.swap
    }.toMap
    for (_ <- 1 to iters) {
      val a = assign()
      val byId = vecs.toMap
      cent = a.toSeq.groupBy(_._2._2).toSeq.map { case (cl, members) =>
        val vs = members.map(m => byId(m._1))
        val m = new Array[Double](vs.head.length)
        for (v <- vs; i <- v.indices) m(i) += v(i)
        (cl, m.map(x => rnd(x / vs.length, 9)))
      }.sortBy(_._1)
    }
    val expected = assign().toSeq.map { case (id, (d, cl)) => (id, cl, d) }.sorted
    val got = VectorOps.kmeansFit(
        spark.read.parquet(s"$sfDir/embeddings.parquet"), "vec_id", "embedding",
        k, iters)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("cl"),
        r.getAs[Double]("d2"))).toSeq.sorted
    assert(got == expected,
      "distributed Lloyd must equal the local reference exactly, " +
        "assignments and rounded distances both")
    assert(got.map(_._2).distinct.size > 1, "the fixture must genuinely cluster")
  }

  test("trained IVF e2e: 5 ranked rows per query, scores non-increasing, real recall vs brute force") {
    val got = graft.operators.ScaleOps.q124IvfE2e(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("score")))
    got.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length),
        s"query $qid ranks must be dense")
      val byRank = rows.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"query $qid scores must be non-increasing")
    }
    // the learned index must find a meaningful share of the true top-5
    val brute = graft.operators.ScaleOps.q28KnnBrute(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val hits = got.count(r => brute.contains((r._1, r._3)))
    assert(hits.toDouble / brute.size >= 0.2,
      s"trained-IVF recall vs brute force too low: $hits/${brute.size}")
  }

  test("int8 quantization: integer components in [-127,127], scores inside the error bound") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qz = VectorOps.quantizeInt8(e, "embedding").collect()
    qz.foreach { r =>
      val qv = r.getSeq[Double](r.fieldIndex("qvec"))
      assert(qv.forall(x => x == math.rint(x) && math.abs(x) <= 127.0),
        "quantized components must be integers within int8 range")
    }
    // quantized dot vs exact dot stays inside the per-component bound:
    // |eps| <= s/2 per side gives |err| <= dim*sa*sb*(127/2 + 127/2 + 1/4)
    val rows = e.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray).toMap
    val quant = qz.map(r => r.getAs[Long]("vec_id") ->
      (r.getSeq[Double](r.fieldIndex("qvec")).toArray, r.getAs[Double]("q_scale"))).toMap
    def dotp(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val ids = rows.keys.toSeq.sorted.take(20)
    for (a <- ids; b <- ids if a < b) {
      val exact = dotp(rows(a), rows(b))
      val (qa, sa) = quant(a); val (qb, sb) = quant(b)
      val approx = dotp(qa, qb) * sa * sb
      val bound = rows(a).length * sa * sb * 127.25
      assert(math.abs(exact - approx) <= bound,
        s"pair ($a,$b): quantization error ${math.abs(exact - approx)} exceeds bound $bound")
    }
  }

  test("two-stage retrieval: results come from the shortlist and recall the exact top-5") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val shortlist = VectorOps.knnQuantized(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        "vec_id", "vec_id", "embedding", 20)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val twoStage = VectorOps.twoStageRetrieve(
        e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10),
        "vec_id", "vec_id", "embedding", 5, 20)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    assert(twoStage.forall(shortlist.contains), "stage 2 may only re-rank the shortlist")
    val brute = graft.operators.ScaleOps.q28KnnBrute(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val hits = twoStage.count(brute.contains)
    assert(hits.toDouble / brute.size >= 0.6,
      s"two-stage recall vs exact too low: $hits/${brute.size}")
  }

  test("cosine is symmetric and 1.0 on self") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f, 3f), Array(1f, 2f, 3f), Array(3f, 2f, 1f)))
      .toDF("a", "b", "c")
    val r = df.select(
      VectorOps.cosine(col("a"), col("b")),
      VectorOps.cosine(col("a"), col("c")),
      VectorOps.cosine(col("c"), col("a"))).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == r.getDouble(2))
  }
}
