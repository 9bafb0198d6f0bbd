package graft


/** Dev tool: measure the banded exact near-dup join
  * (`VectorOps.nearDupPairsBanded`) across a cosine-threshold sweep on a
  * given fixture. The operator's scale claim is OUTPUT-SENSITIVITY — the
  * in-bucket cost tracks how much cosine mass sits within
  * w = sqrt(2 - 2*tau) of each other, so pruning strengthens as the
  * threshold moves into genuine similarity structure and degrades toward
  * all-pairs only at the isotropic noise floor. That claim should be a
  * measurement, not a comment: this main prints pairs found and wall
  * seconds per threshold, for the rehearsal record in PROGRESS.md.
  *
  * Usage: runMain graft.NearDupSweep <sfDir> [tau1,tau2,...]
  */
object NearDupSweep {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val taus = if (args.length > 1) args(1).split(",").map(_.trim.toDouble).toSeq
               else Seq(0.45, 0.60, 0.75, 0.95)
    val spark = LocalSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .appName("graft-neardup-sweep").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // codegen warmup on a LIMIT'd slice of the user-supplied fixture so
    // the sweep measures steady-state execution, not Janino compilation
    // (see Bench) — no hardcoded fixture path, so the tool runs on any
    // checkout where <sfDir> is valid
    graft.vector.VectorOps.nearDupPairsBanded(
      Tables.embeddings(spark, dir).limit(256),
      "vec_id", "embedding", 0.45).count()
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    println(s"[sweep] $dir: $n vectors")
    for (tau <- taus) {
      val t0 = System.nanoTime()
      val banded = graft.vector.VectorOps
        .nearDupPairsBanded(emb, "vec_id", "embedding", tau).count()
      val t1 = System.nanoTime()
      val blocked = graft.vector.VectorOps
        .nearDupPairsBlocked(emb, "vec_id", "embedding", tau).count()
      val t2 = System.nanoTime()
      require(banded == blocked,
        s"banded ($banded) and blocked ($blocked) disagree at tau=$tau")
      println(f"[sweep] tau=$tau%.2f pairs=$banded%d banded_sec=${(t1 - t0) / 1e9}%.2f " +
        f"blocked_sec=${(t2 - t1) / 1e9}%.2f")
    }
    spark.stop()
  }
}
