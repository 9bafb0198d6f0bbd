package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Asserted scale-property audit for the banded/bucketed near-dup family
  * (round-9 verdict item 7): q62 and q69's pair sets have DuckDB oracles
  * only up to sf1 — above that the oracle is infeasible, which is
  * exactly the scale those operators exist for. This main runs
  * scale-INDEPENDENT properties at the 100× rehearsal fixture and
  * `require`s each one, writing the measurements as a markdown artifact
  * (SCALEPROPS_sf10.md) — hard evidence, not prose:
  *
  *  q62 (sign-LSH τ=0.95 over hash-embedded documents):
  *   P2 stratum recall vs exact: ScaleUp shifts doc ids by replica
  *      (id = orig + replica·10⁸) and preserves within-replica cosine
  *      structure, so the replicas-{0,1} stratum contains planted
  *      near-dup pairs intact. Exact blocked all-pairs on the stratum
  *      is feasible; assert the full-corpus LSH output restricted to
  *      the stratum is a SUBSET of exact (precision 1.0) with recall
  *      ≥ 0.98 (documented S-curve: ≥ 0.9987 at the planted cos).
  *   P3 τ-sweep reconciliation: independently-run LSH pair sets nest
  *      monotonically (τ=0.98 ⊆ 0.95 ⊆ 0.90) and the count curve is
  *      non-increasing in τ.
  *
  *  q69 (IVF-bucketed τ=0.45 over embeddings):
  *   P4 re-fit determinism: invalidating the memoized centroids and
  *      re-running reproduces the identical pair set (the kmeans fit,
  *      assignment, and verify are all seeded/rounded deterministic).
  *   P5 stratum precision: output restricted to the replicas-{0,1}
  *      stratum is a subset of the exact blocked pair set (the verify
  *      is exact cosine, so a violation means id/bucket corruption).
  *      Stratum recall is REPORTED alongside (the probed-cluster
  *      contract does not promise exact recall; the sf≤1 oracle pins
  *      the contract itself).
  *
  *  Round-10 operators (round-10 verdict item 5):
  *   P6–P7 q172 PQ/ADC: rank shape (exactly 1..k per query) and FULL
  *      brute-force equality — a driver re-derivation of the LUTs and
  *      the (score desc, id asc) top-5 over every corpus code must
  *      match the distributed TopKAggregator result row-for-row.
  *   P8–P9 q173 triangles: Σ per-vertex counts ≡ 0 mod 3 on the full
  *      100× graph; replica-0 stratum counted exactly by a driver
  *      adjacency-intersection and required equal vertex-for-vertex.
  *   P10–P11 q171 histogram: Σ occurrences ≡ an independent pure-SQL
  *      re-count of (doc, distinct-3-gram) pairs; every bucket's df
  *      mass inside its [n·2^b, n·(2^(b+1)−1)] envelope.
  *   P12–P13 q166 dual edit dedup: dual ⊇ single at 100×; every
  *      emitted (pair, lev) re-verified by an independent driver DP
  *      levenshtein with lev ≤ maxLev.
  *   P14 q182 PQ recall audit: exact baseline 10000 bp, shortlist→
  *      rerank ≥ raw ADC, both above measured deterministic floors on
  *      the isotropic (worst-case) fixture at 200k codes.
  *
  *  Round-12 continuation operators:
  *   P16 q190 bloom decontamination: zero false negatives on every
  *      row at 500k docs, and the flagged-with-exact-hits set equal to
  *      an independent semi-join recount of truly contaminated docs.
  *   P17 q191 SemDeDup in the √N regime: kmeansTrain at k=⌈√N⌉ over
  *      the 200k vectors (the documented cluster-size contract, not
  *      the fixture's 10-label convenience), then semDedup — every
  *      drop at best_cos_bp ≥ τ·10⁴ with an earlier keeper, bounded
  *      per-cluster pair mass.
  *   P18 q195/q198 radix selection: the 8-pass radix median and MAD
  *      equal the definitional per-group sort order statistic at 10M
  *      events (the sort is the referee, paid once here).
  *
  * Usage: runMain graft.ScaleProperties [sfDir=/tmp/sf10] [out=SCALEPROPS_sf10.md]
  */
object ScaleProperties {

  private val IdShift = 100000000L // ScaleUp's replica id shift

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf10")
    val outPath = args.lift(1).getOrElse("SCALEPROPS_sf10.md")
    val spark = LocalSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .appName("graft-scale-properties").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.vector.VectorOps

    val report = new StringBuilder
    report ++= s"# SCALEPROPS — asserted near-dup properties at `$dir`\n\n"
    report ++= "Generated by `graft.ScaleProperties`; every PASS line below is a\n"
    report ++= "`require` that aborted the run (and the round) if violated.\n\n"
    def pass(line: String): Unit = { println(s"[props] PASS $line"); report ++= s"- PASS — $line\n" }
    def note(line: String): Unit = { println(s"[props] $line"); report ++= s"- $line\n" }

    // ---------- q62: sign-LSH over hash-embedded documents ----------
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emb62 = graft.embed.Embedder.withEmbedding(docs, "text", "vec")
      .localCheckpoint(true) // embed once; reused by three LSH runs + stratum
    val nDocs = emb62.count()
    report ++= s"\n## q62 — sign-LSH τ=0.95, $nDocs hash-embedded documents\n\n"

    val lsh95 = pairSet(VectorOps.signLshNearDup(emb62, "doc_id", "vec", 0.95))

    val strat62 = emb62.filter(col("doc_id") < 2 * IdShift).localCheckpoint(true)
    val nStrat62 = strat62.count()
    val exact62 = pairSet(VectorOps.nearDupPairsBlocked(strat62, "doc_id", "vec", 0.95))
    val lshStrat = lsh95.filter { case (a, b) => a < 2 * IdShift && b < 2 * IdShift }
    require(lshStrat.subsetOf(exact62),
      s"P2 precision violated: LSH emitted non-qualifying pairs ${(lshStrat -- exact62).take(5)}")
    val recall62 =
      if (exact62.isEmpty) 1.0 else lshStrat.size.toDouble / exact62.size
    require(exact62.nonEmpty, "P2 stratum has no exact pairs — stratum construction broke")
    require(recall62 >= 0.98,
      f"P2 stratum recall $recall62%.4f < 0.98 (${lshStrat.size}/${exact62.size})")
    pass(f"P2 stratum (replicas 0-1, $nStrat62 docs): precision 1.0, " +
      f"recall $recall62%.4f (${lshStrat.size}/${exact62.size} exact pairs)")

    val lsh98 = pairSet(VectorOps.signLshNearDup(emb62, "doc_id", "vec", 0.98))
    val lsh90 = pairSet(VectorOps.signLshNearDup(emb62, "doc_id", "vec", 0.90))
    require(lsh98.subsetOf(lsh95) && lsh95.subsetOf(lsh90),
      s"P3 τ-nesting violated: |0.98|=${lsh98.size} |0.95|=${lsh95.size} |0.90|=${lsh90.size}")
    pass(s"P3 τ-sweep nesting: ${lsh98.size} (τ=0.98) ⊆ ${lsh95.size} (0.95) ⊆ ${lsh90.size} (0.90)")
    spark.catalog.clearCache()

    // ---------- q69: IVF-bucketed near-dup over embeddings ----------
    report ++= "\n## q69 — IVF-bucketed τ=0.45 over embeddings\n\n"
    var t0 = System.nanoTime()
    val run1 = pairSet(graft.operators.ScaleOps.q69BucketedNeardup(spark, dir)
      .select(col("id_a"), col("id_b")))
    val t1 = (System.nanoTime() - t0) / 1e9
    graft.operators.ScaleOps.q69InvalidateCentroids()
    t0 = System.nanoTime()
    val run2 = pairSet(graft.operators.ScaleOps.q69BucketedNeardup(spark, dir)
      .select(col("id_a"), col("id_b")))
    val t2 = (System.nanoTime() - t0) / 1e9
    require(run1 == run2,
      s"P4 re-fit nondeterminism: only-first=${(run1 -- run2).take(5)} only-second=${(run2 -- run1).take(5)}")
    pass(f"P4 re-fit determinism: ${run1.size} pairs identical across " +
      f"independent fits (${t1}%.1f s / ${t2}%.1f s)")

    val emb69 = Tables.embeddings(spark, dir)
    val strat69 = emb69.filter(col("vec_id") < 2 * IdShift).localCheckpoint(true)
    val nStrat69 = strat69.count()
    val exact69 = pairSet(VectorOps.nearDupPairsBlocked(strat69, "vec_id", "embedding", 0.45))
    val bucketStrat = run1.filter { case (a, b) => a < 2 * IdShift && b < 2 * IdShift }
    require(bucketStrat.subsetOf(exact69),
      s"P5 precision violated: bucketed emitted non-qualifying pairs ${(bucketStrat -- exact69).take(5)}")
    require(exact69.nonEmpty, "P5 stratum has no exact pairs — stratum construction broke")
    val recall69 =
      if (exact69.isEmpty) 1.0 else bucketStrat.size.toDouble / exact69.size
    pass(f"P5 stratum (replicas 0-1, $nStrat69 vectors): precision 1.0; " +
      f"recall $recall69%.4f (${bucketStrat.size}/${exact69.size}) — reported, " +
      "probed-cluster contract (oracle-pinned at sf≤1)")

    spark.catalog.clearCache()

    // ---------- q172: PQ/ADC bounded top-k (round-10 verdict item 5) ----------
    // The window→TopKAggregator swap (verdict item 3) is asserted here
    // at 100× by FULL independent re-derivation: a driver-side brute
    // force over every corpus code recomputes the LUTs and the exact
    // (score desc, id asc) top-5 per query, and the distributed result
    // must match row-for-row. This is the property the fixture oracle
    // pins at sf≤0.1, proven at the scale the aggregator shape exists
    // for.
    report ++= "\n## q172 — PQ/ADC bounded top-k over the 100× corpus\n\n"
    val emb172 = Tables.embeddings(spark, dir)
    val model = graft.vector.Pq.pqTrain(emb172, "vec_id", "embedding", 4, 8, 2)
    val q172Q = emb172.filter(col("vec_id") < 10)
    t0 = System.nanoTime()
    val codes172 = graft.vector.Pq
      .pqEncode(emb172.filter(col("vec_id") >= 10), "vec_id", "embedding", model)
      .localCheckpoint(true)
    val nCodes = codes172.count()
    val adc = graft.vector.Pq
      .pqTopK(q172Q, codes172, "vec_id", "embedding", model, 5)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val tAdc = (System.nanoTime() - t0) / 1e9
    val byQ = adc.groupBy(_._1)
    require(byQ.forall { case (_, rs) => rs.map(_._2).sorted.sameElements(1 to 5) },
      s"P6 rank-shape violated: a query returned non-contiguous ranks")
    pass(f"P6 rank shape: ${byQ.size} queries × exactly ranks 1..5 over $nCodes codes (${tAdc}%.1f s)")
    // driver brute force: same LUT math (floor(dot*1e7+0.5) longs,
    // halfUp(sum/1e7, 4dp)), full scan, (score desc, id asc) top-5
    val ksub172 = model.books.map(_.map(_._1).max + 1).max
    val dsub172 = model.dsub
    val qLuts = q172Q
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect()
      .map { r =>
        val qv = r.getSeq[Double](1).toArray
        val lut = new Array[Long](model.m * ksub172)
        var s = 0
        while (s < model.m) {
          val off = s * dsub172
          model.books(s).foreach { case (cl, cent) =>
            var d = 0.0; var i = 0
            while (i < dsub172) { d += qv(off + i) * cent(i); i += 1 }
            lut(s * ksub172 + cl) = math.floor(d * 1e7 + 0.5).toLong
          }
          s += 1
        }
        r.getLong(0) -> lut
      }
    val allCodes = codes172.select(col("id").cast("long"), col("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toArray))
    val brute = qLuts.flatMap { case (qid, lut) =>
      val top = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
      allCodes.foreach { case (id, cds) =>
        var t = 0L; var s = 0
        while (s < cds.length) { t += lut(s * ksub172 + cds(s)); s += 1 }
        val sc = math.floor(t / 1000.0 + 0.5) / 10000.0
        top += ((sc, id))
      }
      top.sortBy { case (sc, id) => (-sc, id) }.take(5).zipWithIndex
        .map { case ((sc, id), i) => (qid, i + 1, id, sc) }
    }.toSet
    require(adc.toSet == brute,
      s"P7 brute-force divergence: only-dist=${(adc.toSet -- brute).take(3)} " +
        s"only-brute=${(brute -- adc.toSet).take(3)}")
    pass(f"P7 full brute-force equality: ${adc.length} result rows identical to a " +
      f"driver re-derivation over all $nCodes codes × ${byQ.size} queries")
    spark.catalog.clearCache()

    // ---------- q173: triangle counts on the dup line graph ----------
    report ++= "\n## q173 — degree-oriented triangle counts at 100×\n\n"
    t0 = System.nanoTime()
    val tri = graft.operators.Graph.q173TriangleCount(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val tTri = (System.nanoTime() - t0) / 1e9
    val triSum = tri.map(_._2).sum
    require(triSum % 3 == 0,
      s"P8 handshake violated: Σ per-vertex counts $triSum is not divisible by 3")
    pass(f"P8 handshake: Σ per-vertex counts $triSum = 3 × ${triSum / 3} triangles, " +
      f"${tri.length} vertices in ≥ 1 triangle (${tTri}%.1f s)")
    // stratum brute force: the replica-0 subgraph's edge list is small
    // enough for an exact driver adjacency-intersection count; the
    // operator on that edge list must match it vertex-for-vertex
    val stratEdges = graft.operators.Graph.lineGraphEdges(spark, dir)
      .filter(col("src") < IdShift && col("dst") < IdShift)
      .localCheckpoint(true)
    val se = stratEdges.select(col("src").cast("long"), col("dst").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(se.length <= 5000000, s"P9 stratum too large to brute force: ${se.length} edges")
    val adj = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.HashSet[Long]]
    se.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.HashSet.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.HashSet.empty) += a
    }
    val bruteTri = scala.collection.mutable.HashMap.empty[Long, Long]
    se.foreach { case (a, b) =>
      if (a < b) {
        val (sm, lg) = if (adj(a).size <= adj(b).size) (adj(a), adj(b)) else (adj(b), adj(a))
        sm.foreach { c =>
          // count each triangle once per closing edge orientation c>b>a
          if (c > b && lg.contains(c)) {
            bruteTri(a) = bruteTri.getOrElse(a, 0L) + 1
            bruteTri(b) = bruteTri.getOrElse(b, 0L) + 1
            bruteTri(c) = bruteTri.getOrElse(c, 0L) + 1
          }
        }
      }
    }
    val stratOp = graft.operators.Graph.triangleCounts(stratEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    require(stratOp == bruteTri.toMap,
      s"P9 stratum brute-force divergence: only-op=${(stratOp.toSet -- bruteTri.toSet).take(3)} " +
        s"only-brute=${(bruteTri.toSet -- stratOp.toSet).take(3)}")
    pass(s"P9 stratum brute-force equality: ${stratOp.size} vertices / " +
      s"${bruteTri.values.sum / 3} triangles on ${se.length} replica-0 edges, " +
      "driver adjacency-intersection ≡ operator")
    spark.catalog.clearCache()

    // ---------- q171: shingle-df histogram ----------
    report ++= "\n## q171 — shingle-df histogram at 100×\n\n"
    t0 = System.nanoTime()
    val hist = graft.operators.CurationOps.q171ShingleDfHistogram(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val tHist = (System.nanoTime() - t0) / 1e9
    // independent mass re-derivation: per-doc DISTINCT 3-gram counts via
    // pure SQL expressions (no shared shingle UDF)
    val shArr = Tables.documents(spark, dir)
      .select(expr("regexp_extract_all(text, '\\\\S+', 0)").as("t"))
      .select(expr(
        """size(array_distinct(CASE WHEN size(t) < 3 THEN array()
          |ELSE transform(sequence(1, size(t) - 2),
          |  i -> concat(element_at(t, i), ' ', element_at(t, i + 1), ' ', element_at(t, i + 2)))
          |END))""".stripMargin).as("nsh"))
      .agg(sum("nsh")).head().getLong(0)
    val occSum = hist.map(_._3).sum
    require(occSum == shArr,
      s"P10 mass conservation violated: histogram Σ occurrences $occSum != independent (doc, shingle) pair count $shArr")
    for ((bucket, nSh, occ) <- hist) {
      val lo = nSh * (1L << bucket)
      val hi = nSh * ((1L << (bucket + 1)) - 1)
      require(occ >= lo && occ <= hi,
        s"P11 bucket $bucket envelope violated: occurrences $occ outside [$lo, $hi] for $nSh shingles")
    }
    pass(f"P10 mass conservation: Σ occurrences $occSum over ${hist.map(_._2).sum} " +
      f"distinct shingles ≡ independent SQL re-count (${tHist}%.1f s)")
    pass(s"P11 bucket envelopes: every bucket's Σ df within [n·2^b, n·(2^(b+1)−1)] " +
      s"across ${hist.length} buckets")
    spark.catalog.clearCache()

    // ---------- q166: dual-pass edit dedup ----------
    report ++= "\n## q166 — dual-pass blocked edit dedup at 100×\n\n"
    val docs166 = Tables.documents(spark, dir)
    t0 = System.nanoTime()
    val dual = graft.dedup.Dedup.editBlockedPairsDual(docs166, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val tDual = (System.nanoTime() - t0) / 1e9
    val singleSet = graft.dedup.Dedup.editBlockedPairs(docs166, "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dualSet = dual.map(p => (p._1, p._2)).toSet
    require(singleSet.subsetOf(dualSet),
      s"P12 dual ⊇ single violated: single-only=${(singleSet -- dualSet).take(5)}")
    pass(f"P12 dual ⊇ single: ${dualSet.size} dual pairs ⊇ ${singleSet.size} " +
      f"single-pass pairs (${tDual}%.1f s)")
    require(dual.length <= 500000,
      s"P13 pair set too large for the exact audit: ${dual.length}")
    val pairIds = dual.flatMap(p => Seq(p._1, p._2)).distinct
    val idsDf = spark.createDataFrame(pairIds.map(Tuple1(_)).toSeq).toDF("doc_id")
    val heads = docs166.join(broadcast(idsDf), "doc_id")
      .select(col("doc_id"), substring(trim(col("text")), 1, 120).as("head"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    def lev(a: String, b: String): Long = {
      val prev = new Array[Int](b.length + 1)
      val cur = new Array[Int](b.length + 1)
      var j = 0
      while (j <= b.length) { prev(j) = j; j += 1 }
      var i = 1
      while (i <= a.length) {
        cur(0) = i
        var j2 = 1
        while (j2 <= b.length) {
          val c = if (a.charAt(i - 1) == b.charAt(j2 - 1)) 0 else 1
          cur(j2) = math.min(math.min(cur(j2 - 1) + 1, prev(j2) + 1), prev(j2 - 1) + c)
          j2 += 1
        }
        System.arraycopy(cur, 0, prev, 0, b.length + 1)
        i += 1
      }
      prev(b.length).toLong
    }
    val bad = dual.filter { case (a, b, l) =>
      l > 20 || lev(heads(a), heads(b)) != l
    }
    require(bad.isEmpty,
      s"P13 precision violated: ${bad.length} pairs with wrong/over-threshold lev, e.g. ${bad.take(3).toSeq}")
    pass(s"P13 exact precision: all ${dual.length} emitted (pair, lev) rows re-verified " +
      "by an independent driver DP levenshtein, every lev ≤ 20")
    spark.catalog.clearCache()

    // ---------- q182: PQ recall audit at 100× ----------
    // Round-11 verdict item 7: the production two-stage recall as a
    // TRACKED number at the 100× scale where the DuckDB oracle (the
    // unrolled-kmeans chain) is infeasible. The floors are the
    // measured deterministic values on the ISOTROPIC ScaleUp fixture —
    // PQ's worst case (no cluster structure, kCoarse fixed at 50 while
    // the corpus grew 100×); the asserted CONTRACT is the shape: exact
    // baseline perfect, shortlist→rerank strictly dominating raw ADC,
    // and both above their measured-floor basis points (adc 200 bp,
    // two-stage 1000 bp at 200k codes — vs 2200/7200 bp at sf0.01).
    report ++= "\n## q182 — PQ recall audit (ADC vs shortlist→rerank) at 100×\n\n"
    t0 = System.nanoTime()
    val audit182 = graft.vector.Pq.q182PqRecallAudit(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val tAudit = (System.nanoTime() - t0) / 1e9
    require(audit182("exact") == 10000L,
      s"P14 exact baseline recall != 10000 bp: ${audit182("exact")}")
    require(audit182("pq_two_stage") >= audit182("pq_adc"),
      s"P14 shortlist→rerank below raw ADC: ${audit182("pq_two_stage")} < ${audit182("pq_adc")}")
    require(audit182("pq_adc") >= 100L && audit182("pq_two_stage") >= 800L,
      s"P14 recall floors violated: adc=${audit182("pq_adc")} two_stage=${audit182("pq_two_stage")}")
    pass(f"P14 recall contract: exact 10000 bp, adc ${audit182("pq_adc")} bp, " +
      f"two-stage ${audit182("pq_two_stage")} bp (≥ adc, ≥ 800 bp floor) over " +
      f"200k isotropic codes, kCoarse=50 (${tAudit}%.1f s)")
    spark.catalog.clearCache()

    // ---------- q183: IVF-PQ at 100× ----------
    // Probe honesty at the scale the inverted index exists for: the
    // shortlist of a tighter probe is scored from a SUBSET of cells, so
    // its recall vs the exact cosine baseline cannot beat probe-all
    // (quantization ties aside); rank shape must stay exactly 1..5; and
    // the whole chain (coarse Lloyd → residual PQ → probed ADC) must be
    // re-fit deterministic, codes included (the q183 oracle pins the
    // values up to sf0.1; this is the 100× extension the DuckDB chain
    // can't reach — q172/q175/q182 exclusion precedent).
    report ++= "\n## q183 — IVF-PQ probe monotonicity + determinism at 100×\n\n"
    t0 = System.nanoTime()
    val e183 = graft.Tables.embeddings(spark, dir)
    val m183 = graft.vector.Pq.ivfPqTrain(e183, "vec_id", "embedding", 4, 2, 4, 8, 2)
    val m183b = graft.vector.Pq.ivfPqTrain(e183, "vec_id", "embedding", 4, 2, 4, 8, 2)
    require(m183.coarse.toSeq.map { case (c, v) => (c, v) } ==
      m183b.coarse.toSeq.map { case (c, v) => (c, v) } &&
      m183.pq.books.toSeq.map(_.toSeq) == m183b.pq.books.toSeq.map(_.toSeq),
      "P15 re-fit nondeterminism in the IVF-PQ model")
    val enc183 = graft.vector.Pq.ivfPqEncode(
      e183.filter(col("vec_id") >= 10), "vec_id", "embedding", m183)
      .localCheckpoint() // one encode pass serves all three probe runs
    val q183q = e183.filter(col("vec_id") < 10)
    def adcPairs(nProbe: Int): Set[(Long, Long)] = {
      val rows = graft.vector.Pq.ivfPqTopK(
        q183q, enc183, "vec_id", "embedding", m183, nProbe, 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .collect()
      val byQ = rows.groupBy(_.getLong(0))
      byQ.foreach { case (q, rs) =>
        require(rs.map(_.getInt(1)).sorted.toSeq == (1 to 5),
          s"P15 rank shape violated for query $q at nProbe=$nProbe")
      }
      rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    }
    val exact183 = graft.vector.VectorOps.knnBrute(
      q183q, e183.filter(col("vec_id") >= 10), "vec_id", "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def rec183(p: Set[(Long, Long)]) = (p & exact183).size.toDouble / exact183.size
    val r1 = rec183(adcPairs(1)); val r2 = rec183(adcPairs(2)); val r4 = rec183(adcPairs(4))
    require(r1 <= r4 + 1e-9 && r2 <= r4 + 1e-9,
      f"P15 probe monotonicity violated: probe-1 $r1%.3f probe-2 $r2%.3f probe-all $r4%.3f")
    val t183 = (System.nanoTime() - t0) / 1e9
    pass(f"P15 IVF-PQ at ${enc183.count()} codes: re-fit deterministic, rank shape 1..5 " +
      f"at every probe, recall monotone in nProbe (probe-1 $r1%.3f ≤ probe-2 $r2%.3f/probe-all " +
      f"$r4%.3f vs exact top-5) (${t183}%.1f s)")

    spark.catalog.clearCache()

    // ---------- q190: Bloom decontamination at 100× ----------
    // The contract production leans on when it drops the exact join:
    // no false negatives, on every row, at 500k docs — plus an
    // INDEPENDENT semi-join recount of the truly contaminated doc set,
    // which must equal the audit's exact-hit rows exactly.
    report ++= "\n## q190 — Bloom decontamination no-false-negatives at 100×\n\n"
    t0 = System.nanoTime()
    val a190 = graft.operators.ScaleOps.q190BloomDecontam(spark, dir)
      .select("n_bloom_hits", "n_exact_hits").collect()
    val fn190 = a190.count(r => r.getLong(1) > r.getLong(0))
    require(fn190 == 0, s"P16 false negatives: $fn190 rows with exact > bloom")
    val docs190 = graft.Tables.widen(graft.Tables.documents(spark, dir))
    val bench190 = docs190.filter(col("source") === "src0")
      .select(explode(graft.dedup.Dedup.wordShingles(col("text"), 5)).as("g"))
      .distinct()
    val exact190 = docs190.filter(col("source") =!= "src0")
      .select(col("doc_id"),
        explode(graft.dedup.Dedup.wordShingles(col("text"), 5)).as("g"))
      .join(bench190, Seq("g"), "leftsemi")
      .select("doc_id").distinct().count()
    val flagged190 = a190.count(_.getLong(1) > 0L)
    require(flagged190.toLong == exact190,
      s"P16 exact-hit rows $flagged190 != independent contaminated-doc recount $exact190")
    val t190 = (System.nanoTime() - t0) / 1e9
    pass(f"P16 bloom decontamination: ${a190.length} flagged docs at 500k corpus, " +
      f"0 false negatives, exact-hit rows $flagged190 == independent recount (${t190}%.1f s)")
    spark.catalog.clearCache()

    // ---------- q191: SemDeDup at 100× in the √N regime ----------
    // The catalog row's 10-label assignment is a fixture convenience;
    // the operator's documented contract is cluster-size control via
    // k≈√N. Train a real codebook at k=⌈√200k⌉=448 (2 Lloyd rounds —
    // the shape, not the best fit), assign, semDedup, and assert drop
    // semantics + bounded per-cluster pair mass.
    report ++= "\n## q191 — SemDeDup at 100× (k=√N codebook)\n\n"
    t0 = System.nanoTime()
    val e191 = graft.Tables.widen(graft.Tables.embeddings(spark, dir))
    val k191 = math.ceil(math.sqrt(e191.count().toDouble)).toInt
    val cent191 = graft.vector.VectorOps.kmeansTrain(
      e191, "vec_id", "embedding", k191, 2)
    val asg191 = graft.vector.VectorOps.kmeansAssign(
      e191, "vec_id", "embedding", cent191)
    val maxCluster = asg191.groupBy("cl").count()
      .agg(max("count")).head().getLong(0)
    require(maxCluster <= 40L * (e191.count() / k191),
      s"P17 degenerate clustering: hottest cluster $maxCluster rows")
    val assigned191 = e191
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"))
      .withColumn("nv", graft.vector.VectorOps.l2Norm(col("vec")))
      .join(asg191.select(col("id"), col("cl")), Seq("id"))
    val drops191 = graft.vector.VectorOps.semDedup(assigned191, 0.35)
      .select("dropped_id", "keeper_id", "best_cos_bp").collect()
    require(drops191.nonEmpty, "P17 zero drops at τ=0.35 over 200k vectors")
    require(drops191.forall(r => r.getLong(2) >= 3500L),
      "P17 drop below the τ floor")
    require(drops191.forall(r => r.getLong(1) < r.getLong(0)),
      "P17 keeper not earlier than its dropped doc")
    val t191 = (System.nanoTime() - t0) / 1e9
    pass(f"P17 SemDeDup at k=$k191 over ${e191.count()} vectors: " +
      f"${drops191.length} drops, all ≥ 3500 bp with earlier keepers, " +
      f"hottest cluster $maxCluster rows (${t191}%.1f s)")
    spark.catalog.clearCache()

    // ---------- q195/q198: radix selection vs the definitional sort at 100× ----------
    report ++= "\n## q195/q198 — radix order statistics at 100×\n\n"
    t0 = System.nanoTime()
    val got195 = graft.operators.Quantiles.q195ExactMedian(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("sv"))
    val wRef = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("sv")
    val ref195 = ev
      .withColumn("rn", row_number().over(wRef))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select("event_type", "sv").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(got195 == ref195,
      s"P18 radix median != sort median: $got195 vs $ref195")
    val mad198 = graft.operators.Quantiles.q198MadOutliers(spark, dir)
      .select("event_type", "mad_scaled").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val medDf = {
      import spark.implicits._
      ref195.toSeq.toDF("event_type", "med")
    }
    val refMad = ev
      .join(broadcast(medDf), Seq("event_type"))
      .select(col("event_type"), abs(col("sv") - col("med")).as("d"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type").orderBy("d")))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select("event_type", "d").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(mad198 == refMad, s"P18 radix MAD != sort MAD: $mad198 vs $refMad")
    val t195 = (System.nanoTime() - t0) / 1e9
    pass(f"P18 radix selection at ${ev.count()} events: median and MAD equal " +
      f"the per-group sort order statistic for all ${got195.size} groups (${t195}%.1f s)")

    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      report.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[props] wrote $outPath")
    spark.stop()
  }
}
