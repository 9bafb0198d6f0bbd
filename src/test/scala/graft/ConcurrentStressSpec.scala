package graft

/** Short-mode concurrency gate (round-9 verdict item 5): the full
  * ConcurrentStress main measured zero divergence across 648 concurrent
  * executions, but nothing ran it automatically. This spec wires the
  * same protocol — single-stream baseline hashes, then N threads
  * pulling disjoint queries from a shared queue, shared-session and
  * separate-sessions modes — into every `sbt test`, over the subset of
  * the catalog that exercises executor-wide MUTABLE state (the class of
  * bug the harness exists to catch):
  *
  *  - q62: SignPlanes' lazily built plane cache + the two-sided join
  *    verify;
  *  - q69: the per-dir kmeans model cache (computeIfAbsent racing);
  *  - q26/q158: per-thread Deflater/packed-signature state;
  *  - q163/q166: BoundedCollect aggregation buffers;
  *  - q104/q105: pointer-jumping localCheckpoint loops;
  *  - q112: the BPE sequential merge loop's driver traffic;
  *  - q38: the retrieval index build/read path;
  *  - q146: SemDeDup's kmeansFit + within-cluster scan.
  *
  * sf0.001 keeps the gate fast; the round-close checklist still runs
  * the full-catalog main at sf0.01 and commits its output as
  * STRESS_r{N}.txt.
  */
class ConcurrentStressSpec extends SparkSpec {

  private val stateHeavy = Set(
    "q62_lsh_neardup", "q69_bucketed_neardup", "q26_simhash",
    "q158_simhash128", "q163_edit_neardup", "q166_edit_neardup_dual",
    "q104_dedup_clusters", "q105_cluster_keepers", "q112_bpe_train",
    "q38_retrieval", "q146_semantic_dedup",
    // round-10 divergence class: session-conf-scoped optimizer flags
    // (q157/q159) racing exact aggregates (q143 was the victim)
    "q143_ab_funnel", "q157_ndv_autoapprox", "q159_percentile_autoapprox",
    // round-12 additions (round-12 verdict item 3): driver-coordinated
    // loops (radix select's per-level count maps, spectral's Gram
    // collect) and the streaming CMS's fixed memory-sink view name +
    // session-scoped tmpfs checkpoint — exactly the shared-mutable-name
    // class this harness exists to catch across threads
    "q194_spectral_power", "q195_exact_median", "q197_cms_stream",
    // the streaming rows that start their queries with confs of their
    // own (state partitions, q70's no-data batches): concurrent starts
    // must neither interleave those writes nor leave them on the session
    "q70_stream_asof", "q106_stream_heavy_hitters")

  test("state-heavy queries diverge nowhere under 4-thread concurrency") {
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => stateHeavy(name) }
    // tolerate catalog renames: run whatever subset exists, but demand
    // the subset is substantial so the gate can't silently erode
    assert(queries.size >= 8,
      s"state-heavy stress subset shrank to ${queries.map(_._1)}")
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    val before = keys.map(k => k -> spark.conf.getAll.get(k)).toMap
    val failures = ConcurrentStress.run(spark, sfDir, queries,
      nThreads = 4, rounds = 1)
    assert(failures.isEmpty, failures.mkString("\n"))
    keys.foreach { k =>
      assert(spark.conf.getAll.get(k) == before(k), s"$k left changed on the shared session")
    }
  }
}
