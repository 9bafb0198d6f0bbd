package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantics pins for the round-5 training-pipeline operators
  * (q85–q89): tiny hand-built fixtures where the expected output is
  * computable by eye, plus fixture-scale invariants for the sketch
  * merge. The DuckDB oracles hash-check the full fixture; these tests
  * pin the SEMANTICS so an oracle rewrite can't drift silently.
  */
class ScaleOpsSpec extends SparkSpec {

  private def tenWords(tag: String): String =
    (1 to 10).map(i => s"$tag$i").mkString(" ")

  test("lineDedup keeps a shared line only at its first occurrence and drops emptied docs") {
    import spark.implicits._
    val dup = tenWords("d")
    val docs = Seq(
      (1L, s"${tenWords("a")} $dup"), // first occurrence of dup
      (2L, s"$dup ${tenWords("b")}"), // loses its first line
      (3L, dup)                       // emptied entirely -> dropped
    ).toDF("doc_id", "text")
    val out = ScaleOps.lineDedup(docs, "doc_id", "text", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, 0L, s"${tenWords("a")} $dup"),
      (2L, 1L, 1L, tenWords("b"))))
  }

  test("lineDedup keeps a line shared by all 2000 documents only in the first") {
    import spark.implicits._
    // pathological boilerplate: ONE line in every document, the shape
    // the map-side min(struct) winner exists for
    val hot = (0L until 2000L).map(i => (i, s"the same five word line w$i"))
      .toDF("doc_id", "text")
    val out = ScaleOps.lineDedup(hot, "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == (0L, 2L, 0L, "the same five word line w0") +:
      (1L until 2000L).map(i => (i, 1L, 1L, s"w$i")))
  }

  test("decontaminate flags exactly the train docs sharing an n-gram with the eval slice") {
    import spark.implicits._
    val docs = Seq(
      (0L, "p q r s t"),       // eval (isEval below)
      (1L, "z p q r s z"),     // shares shingle "p q r s"
      (2L, "u v w x y")        // disjoint
    ).toDF("doc_id", "text")
    val out = ScaleOps.decontaminate(docs, "doc_id", "text",
        col("doc_id") === 0, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 1L)))
  }

  test("sketch merge is exact algebra: union of group sketches == direct global sketch") {
    import org.apache.spark.sql.functions._
    val d = graft.Tables.documents(spark, sfDir).select(col("lang"),
      md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))
    val viaUnion = d.groupBy("lang")
      .agg(hll_sketch_agg(col("fp"), lit(12)).as("sk"))
      .agg(hll_union_agg(col("sk")).as("u"))
      .select(hll_sketch_estimate(col("u"))).head.getLong(0)
    val direct = d.agg(hll_sketch_estimate(hll_sketch_agg(col("fp"), lit(12))))
      .head.getLong(0)
    // HLL union takes register maxima — commutative and associative, so
    // partial-then-merge must equal single-pass BIT-FOR-BIT, not within
    // tolerance (the q86/q68 tolerance bounds cover sketch-vs-EXACT)
    assert(viaUnion == direct,
      s"merged-group estimate $viaUnion != direct estimate $direct")
  }

  test("sketch merge: union row equals global exact, every sketch within tolerance") {
    val rows = ScaleOps.q86SketchMerge(spark, sfDir).collect()
    assert(rows.forall(_.getAs[Boolean]("hll_ok")),
      "an HLL estimate (per-lang or merged) drifted outside tolerance")
    val all = rows.filter(_.getAs[String]("lang") == "ALL")
    assert(all.length == 1)
    val langRows = rows.filter(_.getAs[String]("lang") != "ALL")
    assert(langRows.map(_.getAs[Long]("n_docs")).sum == all(0).getAs[Long]("n_docs"))
    // union ndv can only be <= the sum of per-group ndv (shared fps collapse)
    assert(all(0).getAs[Long]("ndv_exact") <= langRows.map(_.getAs[Long]("ndv_exact")).sum)
  }

  test("packSequences: bin = the 512-token slot a doc's first token lands in, per shard") {
    import spark.implicits._
    val d = Seq(
      ("s1", 1L, 300L), ("s1", 2L, 300L), ("s1", 3L, 300L), // starts 0,300,600
      ("s2", 4L, 600L), ("s2", 5L, 10L)                     // starts 0,600
    ).toDF("source", "doc_id", "n_tokens")
    val out = ScaleOps.packSequences(d, "source", "doc_id", "n_tokens", 512L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("s1", 0L, 2L, 600L), ("s1", 1L, 1L, 300L),
      ("s2", 0L, 1L, 600L), ("s2", 1L, 1L, 10L)))
    // conservation on the real fixture: every token lands in exactly one bin
    val packed = ScaleOps.q88PackSequences(spark, sfDir)
    val total = packed.agg(sum("sum_tokens")).head.getLong(0)
    val expected = graft.Tables.documents(spark, sfDir)
      .agg(sum(size(split(trim(col("text")), "\\s+")).cast("long"))).head.getLong(0)
    assert(total == expected)
  }

  test("quality cutoff keeps >= 75% of docs, all at or above the computed p25") {
    val out = ScaleOps.q90QualityCutoff(spark, sfDir).collect()
    val total = graft.Tables.documents(spark, sfDir).count()
    assert(out.forall(r => r.getAs[Double]("quality") >= r.getAs[Double]("p25")))
    // >= 75% survive by definition of p25 (ties at the threshold can only add)
    assert(out.length >= (total * 0.75).toInt,
      s"${out.length} of $total survived a p25 cutoff")
    assert(out.length < total, "cutoff kept everything — threshold did nothing")
  }

  test("source mixture is deterministic and per-source fractions track the 16ths weights") {
    val a = ScaleOps.q91SourceMixture(spark, sfDir).collect()
    val b = ScaleOps.q91SourceMixture(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq, "hash-bucket sampling must be reproducible")
    val totals = graft.Tables.documents(spark, sfDir)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = a.groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
    // src0 keeps everything (16/16); src4 keeps a strict subset
    assert(sampled("src0") == totals("src0"))
    assert(sampled.getOrElse("src4", 0L) < totals("src4"))
    // fractions are md5-uniform, so allow generous slack around rate/16
    for ((src, rate) <- Seq("src1" -> 12, "src2" -> 8, "src3" -> 4)) {
      val frac = sampled.getOrElse(src, 0L).toDouble / totals(src)
      assert(math.abs(frac - rate / 16.0) < 0.2,
        s"$src sampled fraction $frac vs expected ${rate / 16.0}")
    }
  }

  test("incrementalDedup drops lake-known fps, keeps first occurrence within the batch") {
    import spark.implicits._
    val batch = Seq(
      (10L, "a b c"),  // fp known to the lake -> dropped
      (11L, "x y z"),  // fresh, first occurrence -> kept
      (12L, "z y x"),  // same word set as 11 -> dropped (within-batch)
      (13L, "p q r")   // fresh -> kept
    ).toDF("doc_id", "text")
    val lakeFps = Seq(Tuple1("c b a")).toDF("text")
      .select(graft.dedup.Dedup.canonicalFingerprint(col("text")).as("fp"))
    val out = ScaleOps.incrementalDedup(batch, lakeFps, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0))
    assert(out.toSeq == Seq(11L, 13L))
  }

  test("ngram diversity: one row per source, ratio in (0,1], distinct <= total") {
    val rows = graft.operators.TextOps.q94NgramDiversity(spark, sfDir).collect()
    val nSources = graft.Tables.documents(spark, sfDir)
      .select("source").distinct().count()
    assert(rows.length == nSources)
    rows.foreach { r =>
      val total = r.getAs[Long]("n_bigrams")
      val dist = r.getAs[Long]("n_distinct")
      val div = r.getAs[Double]("diversity")
      assert(dist >= 1 && dist <= total)
      assert(div > 0.0 && div <= 1.0)
    }
  }

  test("curation pipeline: output shrinks vs raw corpus, bins start at 0 per source") {
    val out = ScaleOps.q98CurationPipeline(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getString(0)).foreach { case (src, rows) =>
      assert(rows.map(_.getLong(1)).min == 0L, s"$src bins must start at 0")
    }
    // every stage only removes: packed tokens < raw corpus tokens
    val packed = out.map(_.getLong(3)).sum
    val raw = graft.Tables.documents(spark, sfDir)
      .agg(sum(size(split(trim(col("text")), "\\s+")).cast("long"))).head.getLong(0)
    assert(packed > 0 && packed < raw)
  }

  test("keeperDedup keeps the most-token member of each duplicate cluster") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b"),       // fp {a,b}, 2 tokens
      (2L, "b a b a b"), // fp {a,b}, 5 tokens -> keeper
      (3L, "c d e")      // unique -> no row
    ).toDF("doc_id", "text")
    val out = ScaleOps.keeperDedup(docs, "doc_id", "text").collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("keeper") == 2L)
    assert(out(0).getAs[Long]("n_docs") == 2L)
    assert(out(0).getAs[Long]("keeper_tokens") == 5L)
  }

  test("sorted neighborhood: sound (every pair verified vs brute force), exact dups found") {
    val sets = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSet)
      .filter(_._2.nonEmpty).toMap
    def jac(a: Set[String], b: Set[String]): Double =
      (a & b).size.toDouble / (a | b).size
    val out = ScaleOps.q111SortedNeighborhood(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("jaccard")))
    assert(out.nonEmpty)
    out.foreach { case (a, b, j) =>
      val truth = jac(sets(a), sets(b))
      assert(math.floor(truth * 10000.0 + 0.5) / 10000.0 == j,
        s"pair ($a,$b): reported jaccard $j must be the true one")
      assert(truth >= 0.8, s"pair ($a,$b) below threshold")
    }
    // identical word sets sort adjacently: every 2-member exact-dup
    // cluster must be recovered by the window
    val exactPairs = sets.groupBy(_._2).values.filter(_.size == 2)
      .map(m => { val ids = m.keys.toSeq.sorted; (ids(0), ids(1)) }).toSet
    val found = out.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    assert(exactPairs.subsetOf(found),
      s"missing exact-dup pairs: ${exactPairs -- found}")
  }

  test("corpus shuffle: every doc exactly once, per-shard positions dense, order is the md5 key") {
    val rows = ScaleOps.q107CorpusShuffle(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"),
        r.getAs[Int]("pos"), r.getAs[String]("skey")))
    val n = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.length == n && rows.map(_._1).distinct.length == n,
      "a shuffle is a permutation — every doc exactly once")
    rows.groupBy(_._2).foreach { case (shard, members) =>
      assert(members.map(_._3).sorted.toSeq == (1 to members.length),
        s"shard $shard positions must be dense from 1")
      val ordered = members.sortBy(_._3).map(m => (m._4, m._1))
      assert(ordered.sorted.toSeq == ordered.toSeq,
        s"shard $shard order must follow (skey, doc_id)")
    }
    // deterministic: a rerun produces the identical permutation
    val again = ScaleOps.q107CorpusShuffle(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"), r.getAs[Int]("pos")))
    assert(again.toSeq == rows.map(t => (t._1, t._2, t._3)).toSeq)
  }

  test("weighted sample: kept set equals the brute-force md5 coin, retention rises with quality") {
    val quality = graft.operators.TextOps.q16Quality(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    def coin(id: Long): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sample7:$id".getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16).toDouble / math.pow(2, 60)
    }
    val expected = quality.collect {
      case (id, q) if coin(id) < q * q * q * q => id
    }.toSet
    val got = ScaleOps.q108WeightedSample(spark, sfDir).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(got == expected, "sampled set must match the deterministic coin exactly")
    assert(got.nonEmpty && got.size < quality.size,
      "the curve must thin the corpus, not pass or drop everything")
  }

  test("bloom prefilter dedup equals the exact incremental dedup row-for-row") {
    val exact = ScaleOps.q92IncrementalDedup(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp"))).toSeq
    val bloomed = ScaleOps.q115BloomPrefilter(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("fp"))).toSeq
    assert(bloomed == exact,
      "the Bloom filter may only prune lake fps absent from the batch — " +
        "the survivor set must be identical to the exact anti-join's")
    assert(exact.nonEmpty)
  }

  private def bruteSpans(k: Int): Map[Long, Seq[(Int, Int, Long)]] = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long](0) -> Option(r.getAs[String](1)).getOrElse(""))
    val occurrences = docs.toSeq.flatMap { case (id, t) =>
      val ws = t.trim.split("\\s+")
      (0 to ws.length - k).map(i => (ws.slice(i, i + k).mkString(" "), id, i + 1))
    }
    val dupPositions = occurrences.groupBy(_._1).filter(_._2.size >= 2)
      .values.flatten.map(o => (o._2, o._3)).toSeq
    dupPositions.groupBy(_._1).map { case (id, ps) =>
      val sorted = ps.map(_._2).distinct.sorted
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
      var start = sorted.head; var prev = sorted.head; var n = 1L
      for (p <- sorted.tail) {
        if (p - prev <= k) { prev = p; n += 1 }
        else { spans += ((start, prev + k - 1, n)); start = p; prev = p; n = 1L }
      }
      spans += ((start, prev + k - 1, n))
      id -> spans.toSeq
    }
  }

  test("dup spans equal a brute-force substring-dedup reference") {
    val expected = bruteSpans(5).toSeq.flatMap { case (id, ss) =>
      ss.map(s => (id, s._1.toLong, s._2.toLong, s._3))
    }.sorted
    val got = ScaleOps.q116DupSpans(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("n_shingles"))).toSeq.sorted
    assert(got == expected, "span set must match the brute-force reference exactly")
    assert(got.nonEmpty, "the fixture's duplicated docs must produce spans")
    // maximality: consecutive spans in one doc never touch or overlap
    got.groupBy(_._1).values.foreach { ss =>
      ss.sortBy(_._2).sliding(2).foreach {
        case Seq(a, b) => assert(b._2 > a._3 + 1,
          s"spans $a and $b would have merged if truly adjacent")
        case _ =>
      }
    }
  }

  test("span removal drops exactly the covered word positions and reassembles the rest") {
    val k = 5
    val spans = bruteSpans(k)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long](0) -> Option(r.getAs[String](1)).getOrElse(""))
    val expected = docs.toSeq.flatMap { case (id, t) =>
      val ws = t.trim.split("\\s+")
      val covered = spans.getOrElse(id, Seq.empty)
        .flatMap(s => s._1 to s._2).toSet
      val dropped = ws.indices.count(i => covered(i + 1))
      if (dropped == 0) None
      else Some((id, ws.length.toLong, dropped.toLong,
        ws.indices.filterNot(i => covered(i + 1)).map(ws).mkString(" ")))
    }.sorted
    val got = ScaleOps.q117SpanRemoval(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_dropped"), r.getAs[String]("kept_text"))).toSeq.sorted
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("quality normalization: percent_rank matches brute force per source") {
    def rnd6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = ScaleOps.q127QualityNormalize(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Double]("quality"), r.getAs[Double]("pctl")))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (src, members) =>
      val n = members.length
      val sorted = members.map(_._3).sorted
      members.foreach { case (id, _, q, pctl) =>
        // percent_rank = (rank - 1) / (n - 1), rank = 1 + count(strictly below)
        val rank = 1 + sorted.count(_ < q)
        val expected = if (n == 1) 0.0 else rnd6((rank - 1).toDouble / (n - 1))
        assert(pctl == expected,
          s"doc $id in $src: pctl $pctl != brute-force $expected")
      }
      assert(members.map(_._4).max <= 1.0 && members.map(_._4).min >= 0.0)
    }
  }

  test("token budget planner matches the exact q91 sample and ceil-division epochs") {
    def bucket(id: Long): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      Integer.parseInt("%02x".format(d(0)).take(1), 16)
    }
    val rates = Map("src0" -> 16, "src1" -> 12, "src2" -> 8, "src3" -> 4)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        Option(r.getAs[String]("text")).getOrElse("").trim.split("\\s+").length.toLong))
    val expected = docs.groupBy(_._2).toSeq.map { case (src, rows) =>
      val rate = rates.getOrElse(src, 2)
      val epoch = rows.filter(r => bucket(r._1) < rate).map(_._3).sum
      (src, rows.length.toLong, rows.map(_._3).sum, epoch,
        if (epoch == 0) None else Some(math.ceil(1000000.0 / epoch).toLong))
    }.sortBy(_._1)
    val got = ScaleOps.q133TokenBudget(spark, sfDir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("corpus_tokens"), r.getAs[Long]("epoch_tokens"),
        Option(r.getAs[java.lang.Long]("epochs_for_1m")).map(_.toLong))).toSeq
    assert(got == expected)
    assert(got.exists(_._5.isDefined), "at least one source must be reachable")
  }

  test("regime agreement: accounting identities hold and the regimes genuinely overlap") {
    val m = ScaleOps.q139RegimeAgreement(spark, sfDir).collect()
      .map(r => r.getAs[String]("metric") -> r.getAs[Long]("n")).toMap
    assert(m("exact_pairs") == m("both") + m("exact_only"))
    assert(m("snm_pairs") == m("both") + m("snm_only"))
    assert(m("both") > 0, "exact duplicates sort adjacently — the regimes must overlap")
    val union = m("exact_pairs") + m("snm_pairs") - m("both")
    assert(m("agreement_bp") == (if (union == 0) 0L else m("both") * 10000L / union))
    assert(m("agreement_bp") >= 0L && m("agreement_bp") <= 10000L)
  }

  test("ann tradeoff: exact is its own ceiling, identities hold for every method") {
    val rows = ScaleOps.q142AnnTradeoff(spark, sfDir).collect()
      .map(r => (r.getAs[String]("method"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_hits"), r.getAs[Long]("recall_bp")))
    assert(rows.map(_._1).sorted.toSeq == Seq("exact", "int8", "ivf", "two_stage"))
    rows.foreach { case (m, pairs, hits, bp) =>
      assert(hits <= pairs, s"$m: hits cannot exceed pairs")
      assert(bp == (if (pairs == 0) 0L else hits * 10000L / pairs), s"$m: bp identity")
    }
    val byName = rows.map(r => r._1 -> r._4).toMap
    assert(byName("exact") == 10000L, "the exact scan recalls itself perfectly")
    assert(byName.values.forall(bp => bp >= 0L && bp <= 10000L))
  }

  test("stratified sample: exact top-k per source by the seeded md5 order") {
    def coin(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"strat9:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val bySource = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id")))
      .groupBy(_._1)
    val expected = bySource.toSeq.flatMap { case (src, members) =>
      members.map(_._2).sortBy(id => (coin(id), id)).take(40)
        .zipWithIndex.map { case (id, i) => (src, i + 1, id) }
    }.sorted
    val got = ScaleOps.q118StratifiedSample(spark, sfDir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("rk"),
        r.getAs[Long]("doc_id"))).toSeq.sorted
    assert(got == expected)
    // every stratum returns min(40, |stratum|) rows with dense ranks
    got.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.map(_._2).sorted == (1 to math.min(40, bySource(src).length)),
        s"stratum $src ranks must be dense from 1")
    }
  }

  test("semanticDedup matches a driver-side brute-force replay of the SemDeDup duel") {
    import graft.vector.VectorOps
    val e = graft.Tables.embeddings(spark, sfDir)
    val fit = VectorOps.kmeansFit(e, "vec_id", "embedding", 8, 3)
      .collect().map(r => (r.getAs[Long]("id"),
        (r.getAs[Int]("cl"), r.getAs[Double]("d2")))).toMap
    val vecs = e.collect().map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)).toMap
    def dotSeq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    // cosinePre's exact spelling: round(dot/(na*nb), 4) is Spark's
    // BigDecimal HALF_UP on the double's shortest-decimal repr
    def cos4(a: Long, b: Long): Double = {
      val (va, vb) = (vecs(a), vecs(b))
      val nn = math.sqrt(dotSeq(va, va)) * math.sqrt(dotSeq(vb, vb))
      if (nn == 0.0) 0.0
      else java.math.BigDecimal.valueOf(dotSeq(va, vb) / nn)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    val byCl = fit.toSeq.groupBy(_._2._1)
    val expected = byCl.map { case (cl, members) =>
      val ids = members.map(_._1).sorted
      val pairs = for {
        i <- ids; j <- ids if i < j && cos4(i, j) >= 0.45
      } yield (i, j)
      val dropped = pairs.map { case (a, b) =>
        val (d2a, d2b) = (fit(a)._2, fit(b)._2)
        if (d2a > d2b || (d2a == d2b && a < b)) b else a
      }.distinct
      (cl, (ids.size.toLong, pairs.size.toLong, dropped.size.toLong))
    }
    val got = ScaleOps.semanticDedup(e, "vec_id", "embedding", 8, 3, 0.45)
      .collect().map(r => (r.getAs[Int]("cl"),
        (r.getAs[Long]("n_members"), r.getAs[Long]("n_dup_pairs"),
          r.getAs[Long]("n_dropped")))).toMap
    assert(got == expected)
    // the prune never annihilates: every cluster with pairs keeps >= 1
    assert(got.values.forall { case (m, p, d) => d <= m && (p == 0L || d < m) })
  }

  test("dsirWeights: integer-exact scores match the hand formula and rank target vocab first") {
    import spark.implicits._
    // distinctive vocabularies: doc 1 repeats the TARGET's words, doc 2
    // uses disjoint raw-only words -> doc 1 must outscore doc 2
    val docs = Seq(
      (0L, "alpha beta gamma alpha", "tgt"),
      (1L, "alpha beta gamma", "raw"),
      (2L, "delta epsilon zeta", "raw")
    ).toDF("doc_id", "text", "source")
    val got = ScaleOps.dsirWeights(docs, "doc_id", "text", "source", "tgt", 16)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("score_bp"))).toMap
    // independent replay: same md5 bucketing, add-1 smoothing, exact
    // cross-multiplied integer division
    def bucket(w: String): Int =
      Integer.parseInt(java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString, 16) % 16
    val corpus = Seq(
      (0L, "tgt", Seq("alpha", "beta", "gamma", "alpha")),
      (1L, "raw", Seq("alpha", "beta", "gamma")),
      (2L, "raw", Seq("delta", "epsilon", "zeta")))
    val nt = corpus.filter(_._2 == "tgt").flatMap(_._3).groupBy(bucket).view.mapValues(_.size.toLong).toMap
    val nq = corpus.filter(_._2 != "tgt").flatMap(_._3).groupBy(bucket).view.mapValues(_.size.toLong).toMap
    val st = BigInt(nt.values.sum + 16); val sq = BigInt(nq.values.sum + 16)
    val expected = corpus.map { case (id, _, ws) =>
      val cs = ws.groupBy(bucket).view.mapValues(_.size.toLong)
      val num0 = cs.map { case (b, c) => BigInt(c) * (nt.getOrElse(b, 0L) + 1) }.sum
      val den0 = cs.map { case (b, c) => BigInt(c) * (nq.getOrElse(b, 0L) + 1) }.sum
      id -> (ws.size.toLong, ((BigInt(10000) * num0 * sq) / (den0 * st)).toLong)
    }.toMap
    assert(got == expected)
    assert(got(1L)._2 > got(2L)._2,
      "a doc sharing the target's vocabulary must outscore a disjoint one")
  }

  test("corpusDatasheet composes dup/contamination/quality shares per source, by hand") {
    import spark.implicits._
    val docs = Seq(
      (0L, "A", "en", "e1 e2 e3 e4 e5"),        // eval (0 % 97 == 0)
      (1L, "A", "en", "d1 d2 d3 d4 d5 d6"),     // exact-dup pair ...
      (2L, "A", "en", "d1 d2 d3 d4 d5 d6"),     // ... with doc 1
      (3L, "A", "en", "u1 u2 u3 u4"),
      (5L, "B", "en", "x e2 e3 e4 e5 y"),       // shares "e2 e3 e4 e5" with eval
      (6L, "B", "de", "v1 v2 v3")               // < 4 words: no shingles
    ).toDF("doc_id", "source", "lang", "text")
    val got = ScaleOps.corpusDatasheet(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    // all texts are short token-salad: every quality score < 0.5
    assert(got == Map(
      // 4 docs, 21 tokens, mean 5, 1 lang, dup 2/4 = 5000 bp, no contamination
      "A" -> (4L, 21L, 5L, 1L, 5000L, 0L, 0L),
      // 2 docs, 9 tokens, mean 4, 2 langs, no dups, contaminated 1/2 = 5000 bp
      "B" -> (2L, 9L, 4L, 2L, 0L, 5000L, 0L)))
  }

  test("lDiversity flags the homogeneous class a k-audit alone would pass") {
    import spark.implicits._
    // both classes have k=3 (pass any k<=3 test); A is homogeneous
    val rows = Seq(
      ("A", 0L, 1), ("A", 0L, 1), ("A", 0L, 1),
      ("B", 0L, 1), ("B", 0L, 2), ("B", 0L, 3)
    ).toDF("segment", "balance_band", "nation")
    val got = Privacy.lDiversity(rows, "nation", 3)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("k_anon"), r.getAs[Long]("l_div"),
          r.getAs[Long]("majority_bp"), r.getAs[Boolean]("flag"))).toMap
    assert(got == Map(
      "A" -> (3L, 1L, 10000L, true),
      "B" -> (3L, 3L, 3333L, false)))
  }

  test("unimaxAllocation: capped languages' leftover redistributes; totals add up") {
    // budget 100 over caps (1 epoch) 10/30/200: uniform share would be
    // 33 — 'lo' caps at 10, its leftover lifts the rest: mid takes
    // min(30, 45)=30 (capped), 'hi' takes the remaining 60
    val got = ScaleOps.unimaxAllocation(
      Seq(("hi", 200L), ("lo", 10L), ("mid", 30L)), epochCap = 1L, budget = 100L)
    assert(got == Seq(
      ("lo", 10L, 10L, 10L, 10000L, true),
      ("mid", 30L, 30L, 30L, 10000L, true),
      ("hi", 200L, 200L, 60L, 3000L, false)))
    // degenerate: budget exceeds every cap -> everything capped, in
    // (cap, lang) order
    val all = ScaleOps.unimaxAllocation(
      Seq(("a", 5L), ("b", 5L)), epochCap = 2L, budget = 1000L)
    assert(all.forall(_._6) && all.map(_._4).sum == 20L)
  }

  test("contaminationMatrix counts per ordered pair the docs sharing any n-gram, asymmetrically") {
    import spark.implicits._
    val docs = Seq(
      (0L, "p q r s x", "A"), // shares "p q r s" with B's doc 2
      (1L, "p q r s t", "A"), // also shares it -> A->B counts 2 docs
      (2L, "z p q r s", "B"), // B's single sharing doc -> B->A counts 1
      (3L, "u v w x y", "A"), // disjoint from everything
      (4L, "m n o m n", "C")  // disjoint source: no rows at all
    ).toDF("doc_id", "text", "source")
    val got = ScaleOps.contaminationMatrix(docs, "doc_id", "text", "source", 4)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_docs"))
      .toMap
    assert(got == Map(("A", "B") -> 2L, ("B", "A") -> 1L),
      "directional counts: 2 of A's docs touch B, only 1 of B's touches A")
  }

  test("q160: length-sorted batching never wastes more padding than arrival order; batches are full") {
    // batchSize 8: at the test fixture scale each source holds only a
    // few dozen docs, and with the registered 64 every source fits ONE
    // batch, where ordering cannot matter
    val rows = ScaleOps.q160LengthBatches(spark, sfDir, batchSize = 8).collect()
    val byPolicy = rows.groupBy(_.getString(0))
    assert(byPolicy.keySet == Set("length_sorted", "arrival"))
    val waste = byPolicy.view.mapValues(_.map(_.getAs[Long]("padding_waste")).sum).toMap
    // sorting by length within each shard homogenizes batches — the whole
    // point of the operator; equality happens only on degenerate corpora
    assert(waste("length_sorted") <= waste("arrival"),
      s"sorted waste ${waste("length_sorted")} vs arrival ${waste("arrival")}")
    assert(waste("length_sorted") < waste("arrival"),
      "fixture lengths vary, so sorting must strictly reduce waste")
    // every batch except possibly the last per (policy, source) holds
    // exactly batchSize docs, and doc counts agree across policies
    for ((_, rs) <- rows.groupBy(r => (r.getString(0), r.getString(1)))) {
      val byBatch = rs.sortBy(_.getAs[Long]("batch_id"))
      byBatch.init.foreach(r => assert(r.getAs[Long]("n_docs") == 8L))
    }
    val docsPerPolicy = byPolicy.view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(docsPerPolicy("length_sorted") == docsPerPolicy("arrival"))
  }

  test("q161: temperature allocation is exact, conserving, and up-weights low-resource languages") {
    val rows = ScaleOps.q161TemperatureMixture(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("weight"), r.getAs[Long]("alloc_tokens")))
    val totalTokens = rows.map(_._2).sum
    // largest-remainder split conserves the budget EXACTLY
    assert(rows.map(_._4).sum == totalTokens / 2,
      "allocations must sum to the integer budget, no token lost or invented")
    // weight is the integer sqrt basis
    rows.foreach { case (_, n, w, _) =>
      assert(w == math.floor(math.sqrt(n.toDouble) * 1e6).toLong)
    }
    // sqrt flattening: every language below the mean token share gains
    // allocation share relative to its raw share, every language above
    // loses — the defining property of temperature sampling
    val alloc = rows.map(_._4).sum.toDouble
    for ((lang, n, _, a) <- rows) {
      val raw = n.toDouble / totalTokens
      val got = a.toDouble / alloc
      if (raw < 1.0 / rows.length) assert(got > raw, s"$lang: low-resource share must rise")
      if (raw > 1.0 / rows.length) assert(got < raw, s"$lang: high-resource share must fall")
    }
  }

  test("cdcApply: delete removes, later upsert resurrects, last-writer-wins on ties by event_id") {
    import spark.implicits._
    val changes = Seq(
      // user 1: upsert then delete -> absent
      (1L, 10L, 100L, "U", 5.0), (1L, 11L, 200L, "D", 0.0),
      // user 2: upsert, delete, upsert -> present and flagged resurrected
      (2L, 20L, 100L, "U", 1.0), (2L, 21L, 200L, "D", 0.0), (2L, 22L, 300L, "U", 7.5),
      // user 3: two upserts, same ts -> higher event_id wins
      (3L, 30L, 100L, "U", 1.0), (3L, 31L, 100L, "U", 2.0),
      // user 4: delete only -> absent
      (4L, 40L, 100L, "D", 0.0)
    ).toDF("user_id", "event_id", "tss", "op", "value")
    val out = ScaleOps.cdcApply(changes).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2),
        r.getAs[Long]("n_upserts"), r.getAs[Long]("n_deletes"),
        r.getAs[Boolean]("survived_delete"))).toMap
    assert(out.keySet == Set(2L, 3L), "deleted-last and delete-only users are absent")
    assert(out(2L) == ((7.5, 300L, 2L, 1L, true)))
    assert(out(3L) == ((2.0, 100L, 2L, 0L, false)))
  }
}
