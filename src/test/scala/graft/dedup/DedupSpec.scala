package graft.dedup

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sfDir)

  test("minhash-LSH output equals exact jaccard pairs on the fixture") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8).collect().toSeq
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text").collect().toSeq
    assert(exact.nonEmpty)
    assert(lsh == exact)
  }

  test("simhash pairs cover all exact near-dup pairs (recall)") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val covered = exact.intersect(sim)
    // simhash is an approximation; demand >=80% recall of strong near-dups
    assert(covered.size.toDouble / exact.size >= 0.8,
      s"simhash covered ${covered.size}/${exact.size}")
  }

  // (id, signature words) of a signature frame
  private def sigWords(sig: DataFrame): Seq[(Long, Seq[Long])] =
    sig.collect().toSeq.map(r => (r.getLong(0), (1 until r.length).map(r.getLong)))

  private def bruteHamming(sigs: Seq[(Long, Seq[Long])], maxDist: Int): Set[(Long, Long, Int)] =
    (for {
      (a, wa) <- sigs
      (b, wb) <- sigs if a < b
      d = wa.zip(wb).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      if d <= maxDist
    } yield (a, b, d)).toSet

  for (w <- Seq(64, 128))
    test(s"$w-bit simhash banding finds exactly the brute-force hamming<=7 pairs") {
      val (sig, pairs) =
        if (w == 64) (Dedup.simhashSignatures(docs, "doc_id", "text"),
          Dedup.simhashPairs(docs, "doc_id", "text"))
        else (Dedup.simhash128Signatures(docs, "doc_id", "text"),
          Dedup.simhash128Pairs(docs, "doc_id", "text"))
      val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val brute = bruteHamming(sigWords(sig), 7)
      assert(brute.nonEmpty, s"fixture must contain $w-bit simhash near-dups")
      // recall 1.0 by pigeonhole, precision 1.0 by the exact hamming verify
      assert(got == brute)
    }

  test("blocked hamming scan equals brute force across blocks") {
    val sig = Dedup.simhashSignatures(docs, "doc_id", "text")
    val brute = bruteHamming(sigWords(sig), 7).map { case (a, b, _) => (a, b) }
    // blockRows smaller than the fixture so same-block AND cross-block
    // pair paths are both exercised
    val got = Dedup.hammingPairsBlocked(sig, "id", "simhash", 7, blockRows = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(brute.nonEmpty)
    assert(got.size == got.toSet.size, "a pair was emitted twice")
    assert(got.toSet == brute)
  }

  test("q145: simhash banded recall audit reports exactly 10000 bp (pigeonhole guarantee)") {
    // the banded+probed generator must find EVERY pair at hamming <= 7 —
    // the pigeonhole construction guarantees it, and the registered
    // audit query executes the claim: banded pairs == exact pairs,
    // recall_bp exactly 10000
    val rows = graft.operators.ScaleOps.q145SimhashRecall(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows("exact_pairs") > 0, "fixture must contain simhash near-dups")
    assert(rows("banded_pairs") == rows("exact_pairs"),
      "banded output must equal the brute-force pair set")
    assert(rows("hits") == rows("exact_pairs"))
    assert(rows("recall_bp") == 10000L)
  }

  test("canonical fingerprint groups word-order permutations together") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma alpha beta"),
                 (3L, "delta epsilon zeta")).toDF("doc_id", "text")
    val groups = Dedup.exactDupGroups(df, "doc_id",
      Dedup.canonicalFingerprint(col("text"))).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("n_docs") == 2)
    assert(groups(0).getAs[Long]("keeper") == 1)
  }

  test("containment: a shingle-subset doc scores 1.0 against its superset, not vice versa") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),           // 4 shingles, strict subset of doc 2's
      (2L, "a b c d e f g h i j"),   // 8 shingles
      (3L, "x y z w v u")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // c(1→2) = 4/4 = 1.0 qualifies; c(2→1) = 4/8 = 0.5 does not; doc 3 shares nothing
    assert(got == Seq((1L, 2L, 1.0)))
  }

  test("containment dominates jaccard: every fixture pair at j>=0.8 appears both ways at c>=0.8") {
    // |Sa| <= |Sa ∪ Sb| gives c(A→B) = inter/|Sa| >= inter/union = J, for
    // BOTH directions — so the jaccard pair set at τ is a subset of the
    // containment pair set at the same τ, each pair in both orientations
    val j = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val c = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(j.nonEmpty)
    val missing = j.flatMap { case (a, b) => Seq((a, b), (b, a)) } -- c
    assert(missing.isEmpty, s"jaccard pairs missing from containment: $missing")
  }

  test("edit-blocked: typo pair found; shifted prefix re-blocks; oversized block excluded") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val typo = "alpha beta gamma delta epsilon zeta eta thata" // 1 edit, same block
    val shifted = "xx alpha beta gamma delta epsilon zeta eta" // different first-3-tokens block
    // 70 docs sharing one block (> maxBlock=64): pairwise lev is tiny but the
    // cap must exclude the whole block — the df-cap analog
    val crowd = (0 until 70).map(i => (100L + i, s"common prefix words filler$i tail"))
    val df = (Seq((1L, base), (2L, typo), (3L, shifted)) ++ crowd).toDF("doc_id", "text")
    val got = Dedup.editBlockedPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 1L)))
  }

  test("pair operators leave no CacheManager entry behind, refused scans included") {
    import spark.implicits._
    val entries = () => org.apache.spark.sql.graftshim.CacheShim.entries(spark)
    val before = entries()
    val calls = Seq[(String, () => DataFrame)](
      "jaccardPairs" -> (() => Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)),
      "containmentPairs" -> (() => Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.8)),
      "minhashLshPairs" -> (() => Dedup.minhashLshPairs(docs, "doc_id", "text")))
    calls.foreach { case (name, call) =>
      assert(call().count() > 0, s"$name found no pairs")
      assert(entries() == before, s"${entries() - before} entries left by $name")
    }
    // blockRows = 1 over 4,097 signatures is one block past the 4,096 cap
    val sigs = (0L to 4096L).map(i => (i, i)).toDF("id", "simhash")
    intercept[IllegalArgumentException] {
      Dedup.hammingPairsBlocked(sigs, "id", "simhash", 7, blockRows = 1)
    }
    assert(entries() == before, s"${entries() - before} entries left by a refused hammingPairsBlocked")
  }

  test("shingles: fewer than n words yields empty, order matters") {
    import spark.implicits._
    val rows = Seq("one two", "a b c d").toDF("t")
      .select(Dedup.wordShingles(col("t"), 3)).as[Seq[String]].collect()
    assert(rows(0).isEmpty)
    assert(rows(1) == Seq("a b c", "b c d"))
  }
}
