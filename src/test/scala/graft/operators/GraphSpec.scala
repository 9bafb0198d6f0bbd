package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("connected components equal brute-force union-find on random graphs") {
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      // sparse random graph: ~40 vertices, ~30 edges → many components,
      // some chains (propagation needs > 1 round), some isolated pairs
      val pairs = Seq.fill(30)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(p => p._1 != p._2)
      val sym = pairs.flatMap(p => Seq(p, p.swap))
      val got = Graph.connectedComponents(sym.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      val expected = unionFind(pairs)
      assert(got == expected, s"seed=$seed: labels must equal union-find roots")
    }
  }

  test("long chain converges to a single min label within maxIter") {
    // path graph 0-1-...-299: diameter 299 >> maxIter 20 — pure hop
    // propagation could never finish; the pointer jump makes the rounds
    // logarithmic in depth, so this MUST converge well inside the clamp
    val chain = (0L until 299L).map(i => (i, i + 1))
    val sym = chain.flatMap(p => Seq(p, p.swap))
    val got = Graph.connectedComponents(sym.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got.size == 300 && got.values.forall(_ == 0L))
  }

  test("non-convergence fails loudly, not with silently wrong labels") {
    // diameter-999 chain with maxIter=3: even with pointer jumping the
    // min reaches only ~2^3-scale depth in 3 rounds — the require must
    // throw, because unconverged labels would otherwise surface as a
    // baffling oracle mismatch downstream
    val chain = (0L until 999L).map(i => (i, i + 1))
    val sym = chain.flatMap(p => Seq(p, p.swap))
    // the error path must also release the edge caches it persisted
    spark.catalog.clearCache()
    val ex = intercept[IllegalArgumentException] {
      Graph.connectedComponents(sym.toDF("src", "dst"), maxIter = 3)
    }
    assert(ex.getMessage.contains("did not converge"))
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    assert(cache.isEmpty, "connectedComponents left persisted frames behind on failure")
  }

  test("q105: keeper is the argmax-token member of its q104 cluster, token accounting conserves") {
    val tokens = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    val clusters = Graph.q104DedupClusters(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("root")))
      .groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val out = Graph.q105ClusterKeepers(spark, sfDir).collect()
      .map(r => r.getAs[Long]("root") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("keeper"),
         r.getAs[Long]("keeper_tokens"), r.getAs[Long]("dropped_tokens"))).toMap
    assert(out.keySet == clusters.keySet, "one keeper row per cluster")
    clusters.foreach { case (root, members) =>
      val best = members.minBy(id => (-tokens(id), id))
      val (nDocs, keeper, keeperTokens, droppedTokens) = out(root)
      assert(nDocs == members.length.toLong)
      assert(keeper == best, s"cluster $root: keeper must be argmax tokens, ties min id")
      assert(keeperTokens == tokens(best))
      assert(droppedTokens == members.map(tokens).sum - tokens(best),
        "dropped tokens must be the cluster total minus the keeper")
    }
  }

  test("q105: over-bound assignments fall back to shuffle-hash with identical results") {
    // force the fallback (round-12 verdict item 6) by setting the
    // broadcast bound to 0 — every row count exceeds it — and assert
    // the guarded plan is a pure strategy change, not a semantic one
    val viaBroadcast = Graph.q105ClusterKeepers(spark, sfDir).collect().map(_.toSeq)
    val viaShuffle = Graph.clusterKeepers(spark, sfDir, maxBroadcast = 0L)
      .collect().map(_.toSeq)
    assert(viaBroadcast.toSeq === viaShuffle.toSeq)
  }

  test("pageRank equals a local reference on a random graph; mass is conserved") {
    val rng = new scala.util.Random(11)
    val pairs = (0 until 40).map(_ =>
      (rng.nextInt(12).toLong, rng.nextInt(12).toLong))
      .filter(p => p._1 != p._2).distinct
    val sym = (pairs ++ pairs.map(_.swap)).distinct
    def rnd9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val deg = sym.groupBy(_._1).map { case (v, es) => v -> es.length.toLong }
    val n = deg.size
    var pr: Map[Long, Double] = deg.map { case (v, _) => v -> 1.0 / n }
    for (_ <- 1 to 3) {
      val inflow = sym.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => pr(u) / deg(u) }.sum
      }
      pr = deg.map { case (v, _) =>
        v -> rnd9((1.0 - 0.85) / n + 0.85 * inflow.getOrElse(v, 0.0))
      }
    }
    val got = Graph.pageRank(sym.toDF("src", "dst"), 3).collect()
      .map(r => (r.getAs[Long]("v"), r.getAs[Double]("pr"), r.getAs[Long]("deg")))
    assert(got.map(g => g._1 -> g._2).toMap == pr,
      "distributed PageRank must equal the local reference after identical rounding")
    assert(got.forall(g => g._3 == deg(g._1)))
    // symmetric graph, no dangling mass: ranks stay a distribution
    assert(math.abs(got.map(_._2).sum - 1.0) < 1e-6)
  }

  test("pageRank evaluates its input edge plan exactly once") {
    // q125 feeds pageRank an expensive derived plan (the df-capped
    // inverted-index graph); before the r6 fix it was re-derived three
    // times — for deg, for the join input, and again on the caller's
    // action after the unpersists. Pin compute-once with a row-visit
    // accumulator on the edge plan (nondeterministic so codegen cannot
    // duplicate or elide the call).
    val acc = spark.sparkContext.longAccumulator("edge-row-visits")
    val touch = udf { (s: Long) => acc.add(1L); s }.asNondeterministic()
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (4L, 1L), (1L, 4L))
      .toDF("src", "dst")
      .withColumn("src", touch(col("src")))
    Graph.pageRank(edges, 3).count()
    assert(acc.value == 6L,
      s"edge plan saw ${acc.value} row-visits for 6 edges — must be derived once (cached), not per consumer")
  }

  test("q104: rows are exactly the docs with an edge, roots are cluster minima, sizes consistent") {
    val rows = Graph.q104DedupClusters(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("root"), r.getAs[Long]("cluster_size")))
    assert(rows.nonEmpty, "the fixture must produce at least one cluster")
    val byRoot = rows.groupBy(_._2)
    byRoot.foreach { case (root, members) =>
      assert(members.map(_._1).min == root, "root must be the min doc_id of its cluster")
      assert(members.forall(_._3 == members.length.toLong), "size must match membership")
      assert(members.length >= 2, "every clustered doc has at least one partner")
    }
  }
}
