package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Deduplication operators for training-data pipelines: exact/canonical
  * fingerprint dedup, exact n-gram Jaccard, MinHash+LSH, and SimHash.
  *
  * Scale design (100 TB): every variant is candidate-generation →
  * bounded exact verify, and candidate generation never lets one hot key
  * collect a large fraction of the corpus:
  *
  *  - Exact dedup: one hash group-by on the fingerprint.
  *  - Jaccard: inverted shingle index with a DOCUMENT-FREQUENCY CAP — a
  *    shingle shared by more than `maxDf` documents ("of the and") emits
  *    no candidates, so no join bucket exceeds maxDf docs. A true pair at
  *    j ≥ t shares the bulk of its shingles and is missed only if every
  *    shared shingle is corpus-hot (pure boilerplate).
  *  - MinHash+LSH: per-ROW signatures (one tight loop over the shingle
  *    array — not 64 separate min() aggregations over an exploded index),
  *    band join, then exact verify via a shuffle join (no broadcast of
  *    the data-dependent candidate set).
  *  - SimHash: per-row 64- or 128-bit signature UDF (narrow, no
  *    shuffle), then 4-chunk banding — 16-bit chunks at 64 bits, 32-bit
  *    at 128 — with single-bit multi-probe (math at `simhashPairs` and
  *    `simhash128Pairs`).
  *
  * Signatures/hashes here are internal to candidate generation; every
  * emitted pair is verified with EXACT Jaccard (or exact hamming), so
  * output semantics never depend on the hash choice.
  */
object Dedup {

  /** FNV-1a 64-bit string hash — stable, allocation-free, used for all
    * internal signature hashing (MinHash base hash, SimHash bit votes).
    */
  private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** splitmix64 finalizer (shared impl — see functions.SplitMix). */
  private def mix64(z0: Long): Long = graft.functions.SplitMix.mix64(z0)

  /** Distinct word n-gram shingles as an array column; empty when the
    * document has fewer than n words.
    *
    * Implemented as a once-per-document scalar UDF: the equivalent
    * `transform(sequence(...), i -> concat_ws(slice(...)))` chain is a
    * CodegenFallback higher-order function interpreted per ELEMENT —
    * measured 10.6 s vs <0.5 s for 260k shingles (and 3.3 s vs well
    * under a second on q87 at sf0.1). A per-row UDF with a tight JVM
    * loop wins when the per-element native form can't codegen.
    */
  def wordShingles(c: Column, n: Int = 3): Column =
    udf { text: String =>
      if (text == null) Array.empty[String]
      else distinctNgrams(text.trim.split("\\s+"), n)
    }.apply(c)

  /** Distinct space-joined n-grams of `words`, first-occurrence order;
    * empty when null or shorter than n. The one loop behind every
    * string-shingle UDF — tokenization stays with the caller, because
    * `trim.split("\\s+")` and `regexp_extract_all("\\S+")` differ on
    * control characters.
    */
  private[graft] def distinctNgrams(words: scala.collection.Seq[String],
                                    n: Int): Array[String] =
    if (words == null || words.length < n) Array.empty[String]
    else {
      val seen = new java.util.LinkedHashSet[String]()
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i + n <= words.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j)); j += 1
        }
        seen.add(sb.toString); i += 1
      }
      seen.toArray(Array.empty[String])
    }

  /** Positioned word n-gram shingles — array<struct<pos:int,s:string>>
    * with 1-based start positions and ALL occurrences kept (substring-
    * level dedup needs positions and within-doc repeats, so this is the
    * positioned, non-distinct twin of [[wordShingles]]). Same rationale:
    * the native `transform(sequence(...), i -> array_join(slice(...)))`
    * chain is a CodegenFallback higher-order function interpreted per
    * ELEMENT — measured 10.6 s vs <0.5 s for 260k shingles — so one
    * tight-loop UDF per document wins. Empty array when the document
    * has fewer than n words.
    */
  def positionedShingles(c: Column, n: Int): Column =
    udf(positionedShingleFn(n)).apply(c)

  case class PosShingle(pos: Int, s: String)

  private def positionedShingleFn(n: Int): String => Array[PosShingle] = { text =>
    if (text == null) Array.empty[PosShingle]
    else {
      val words = text.trim.split("\\s+")
      if (words.length < n) Array.empty[PosShingle]
      else {
        val out = new Array[PosShingle](words.length - n + 1)
        var i = 0
        while (i <= words.length - n) {
          val sb = new java.lang.StringBuilder(words(i))
          var j = 1
          while (j < n) { sb.append(' ').append(words(i + j)); j += 1 }
          out(i) = PosShingle(i + 1, sb.toString)
          i += 1
        }
        out
      }
    }
  }

  /** Canonical fingerprint: md5 over the sorted distinct word set — the
    * "same bag of words" identity (order/duplication-insensitive exact dedup).
    */
  def canonicalFingerprint(c: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(split(trim(c), "\\s+")))).cast("binary"))

  /** Exact-duplicate groups under a fingerprint column: one row per group
    * with >1 member: (fp, n_docs, keeper = min id).
    */
  def exactDupGroups(docs: DataFrame, idCol: String, fpCol: Column): DataFrame =
    docs.select(col(idCol), fpCol.as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper"))
      .filter(col("n_docs") > 1)
      .orderBy("fp")

  /** Sorted distinct hashes of a doc's word n-gram shingles — 8
    * bytes/shingle instead of ~25-byte strings: join keys, shuffle
    * payloads, and the verify intersection all run on primitive longs.
    * The n-gram hash folds the words' own FNV-1a hashes (order-sensitive
    * mix), so no shingle string is ever materialized. (Collision odds
    * over a corpus of S distinct shingles ≈ S²/2⁶⁵ — immaterial, and the
    * DuckDB oracle hash-match would surface one.)
    */
  private def hashedShingleFn(n: Int): String => Array[Long] = { text =>
    if (text == null) Array.empty[Long]
    else {
      val a = ngramHashes(text.trim.split("\\s+"), n)
      java.util.Arrays.sort(a)
      var m = 0
      var i = 0
      while (i < a.length) {
        if (m == 0 || a(i) != a(m - 1)) { a(m) = a(i); m += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(a, m)
    }
  }

  /** The FNV-1a fold of each word n-gram's word hashes, one per start
    * position in order (repeats kept); empty when `words` is shorter
    * than n. The gram identity behind [[hashedShingleFn]] and
    * `weightedJaccardPairs`.
    */
  private def ngramHashes(words: scala.collection.Seq[String], n: Int): Array[Long] =
    if (words.length < n) Array.empty[Long]
    else {
      val wh = new Array[Long](words.length)
      var i = 0
      while (i < wh.length) { wh(i) = fnv64(words(i)); i += 1 }
      val out = new Array[Long](words.length - n + 1)
      i = 0
      while (i < out.length) {
        var h = 0xcbf29ce484222325L
        var j = 0
        while (j < n) { h ^= wh(i + j); h *= 0x100000001b3L; j += 1 }
        out(i) = h
        i += 1
      }
      out
    }

  /** (id, shs: sorted Array[Long]) with token-less docs dropped; a local
    * checkpoint that candidate generation and exact verify both read. Its
    * rows are computed by the first action over either, but not all of
    * its work waits: when `widen` repartitions an under-split source,
    * AQE runs that shuffle-map stage at this call (one job at sf0.01).
    */
  private def docShingles(docs: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame =
    graft.Tables.widen(docs.select(col(idCol).as("id"), col(textCol).as("txt")))
      .select(col("id"), udf(hashedShingleFn(n)).apply(col("txt")).as("shs"))
      .filter(size(col("shs")) > 0)
      .localCheckpoint(false)

  /** |a ∩ b| for two SORTED long arrays — single merge pass.
    * `Array[Long]` parameters deserialize to primitive arrays (one copy,
    * no per-element boxing), which matters on the verify path where this
    * runs once per candidate pair.
    */
  private val interCount = udf { (a: Array[Long], b: Array[Long]) =>
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Exact-Jaccard verification of candidate pairs: the shingle arrays
    * join onto the BOUNDED candidate set (shuffle join — candidates are
    * data-dependent, never broadcast), intersection in one per-pair pass,
    * union by |A|+|B|−|A∩B|. Threshold applies to the ROUNDED score
    * (oracle parity).
    */
  private def verifyJaccard(candidates: DataFrame, docSh: DataFrame,
                            threshold: Double): DataFrame =
    candidates
      .join(docSh.select(col("id").as("doc_a"), col("shs").as("shs_a")), "doc_a")
      .join(docSh.select(col("id").as("doc_b"), col("shs").as("shs_b")), "doc_b")
      // J ≤ min(|A|,|B|)/max(|A|,|B|): skip the per-pair intersection
      // pass for pairs the size ratio already rules out (slack-adjusted
      // for the 4-dp rounding below, so no qualifying pair is dropped)
      .filter(least(size(col("shs_a")), size(col("shs_b"))).cast("double") >=
        (greatest(size(col("shs_a")), size(col("shs_b"))) * (threshold - 1e-4)))
      .withColumn("inter", interCount(col("shs_a"), col("shs_b")))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("shs_a")) + size(col("shs_b")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** Exact n-gram Jaccard pairs ≥ threshold. Candidates come from the
    * inverted shingle index with hot shingles (document frequency >
    * `maxDf`) excluded, so the biggest join bucket holds maxDf docs —
    * maxDf²/2 pairs — no matter the corpus size; each candidate is then
    * verified with exact Jaccard over the full (uncapped) shingle sets.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.8,
                   maxDf: Int = 256): DataFrame =
    rarePairInter(docShingles(docs, idCol, textCol, n), maxDf,
        minRatio = threshold - 1e-4)
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** Shared candidate core of `jaccardPairs` and `containmentPairs`:
    * (doc_a, na, doc_b, nb, inter) — the exact shingle-intersection count
    * for every unordered pair (doc_a < doc_b) sharing at least one
    * NON-HOT shingle, from the df-capped inverted index. `minRatio` is
    * the (already slack-adjusted) size-ratio prune applied at pair
    * emission — pass 0.0 to disable (containment admits no such prune:
    * min(|A|,|B|)/|A| = 1 whenever A is the smaller side).
    */
  private def rarePairInter(docSh: DataFrame, maxDf: Int,
                            minRatio: Double): DataFrame = {
    val inv = docSh.select(col("id"), size(col("shs")).as("n_sh"),
      explode(col("shs")).as("sh"))
    // ONE shuffle builds the df-capped inverted index: BoundedCollect
    // keeps ≤ maxDf+1 postings per shingle (memory-safe on the zipf
    // head) while counting the true df — buckets over the cap are the
    // hot set, buckets of 2..maxDf emit their C(df,2) pairs map-side,
    // and ONE count agg over those pair rows = |A∩B| over rare
    // shingles. Set sizes ride along inside the bucket structs, so no
    // join back to the documents is needed. Not materialized: its two
    // readers (the hot set and the rare-bucket pairs) are one plan, and
    // share one reused exchange there.
    val buckets = inv.groupBy("sh")
      .agg(graft.functions.BoundedCollect.collect(maxDf + 1)(col("id"), col("n_sh")).as("bc"))
    val hotSet = broadcast(buckets.filter(col("bc._2") > maxDf).select("sh"))
    // the struct array arrives as two parallel PRIMITIVE arrays
    // (GetArrayStructFields on `bc._1._1`/`bc._1._2` is codegen'd) —
    // no per-element Row allocation in the pair expansion.
    //
    // Length-ratio pre-filter at pair EMISSION: J(A,B) = |A∩B|/|A∪B| ≤
    // min(|A|,|B|)/max(|A|,|B|) (set identity — intersection is bounded
    // by the smaller set, union by the larger), so a pair whose
    // shingle-count ratio is below the threshold can never qualify and
    // never needs to reach the intersection-count shuffle. At τ = 0.8
    // that drops every pair whose sizes differ by > ~11% — the dominant
    // mass of co-bucketed pairs on a real corpus, and the term that grew
    // the 100×-rehearsal verify tail. The bound is applied against the
    // ROUNDING-SLACK-adjusted threshold (the final filter accepts raw
    // jaccard ≥ τ − 5e-5 after 4-dp HALF_UP), so no qualifying pair is
    // ever dropped; a pair skipped in one bucket fails the identity in
    // every bucket, so per-bucket skipping is globally sound.
    val bucketPairs = udf { (ids: Array[Long], ns: Array[Int]) =>
      val ord = Array.range(0, ids.length).sortBy(ids(_))
      val out = Array.newBuilder[(Long, Int, Long, Int)]
      var i = 0
      while (i < ord.length - 1) {
        var j = i + 1
        while (j < ord.length) {
          val na = ns(ord(i)); val nb = ns(ord(j))
          if (math.min(na, nb) >= minRatio * math.max(na, nb))
            out += ((ids(ord(i)), na, ids(ord(j)), nb))
          j += 1
        }
        i += 1
      }
      out.result()
    }
    val interRare = buckets
      .filter(col("bc._2").between(2, maxDf))
      .select(explode(bucketPairs(col("bc._1._1"), col("bc._1._2"))).as("p"))
      .groupBy(col("p._1").as("doc_a"), col("p._2").as("na"),
        col("p._3").as("doc_b"), col("p._4").as("nb"))
      .agg(count(lit(1)).as("inter_rare"))
    // hot-shingle correction: |A∩B| = inter_rare + |hotA ∩ hotB|. Only
    // docs that actually CONTAIN a hot shingle get a row (inner join on
    // the broadcast hot set); each list is at most |hot| long, so the
    // merge UDF touches only the head. The hot-doc side is PINNED to
    // shuffle-hash (round-11 verdict item 5): it is corpus-growing (every
    // doc containing zipf-head boilerplate), so broadcasting it is only
    // ever an AQE small-scale artifact — the flip was the q24/q165
    // cross-scale allowlist entry, and pinning the 100 TB-honest
    // strategy makes the plan identical at every scale instead.
    val hotPerDoc = inv.join(hotSet, Seq("sh"))
      .groupBy("id")
      .agg(sort_array(collect_list("sh")).as("hot_shs"))
    val withHot = interRare
      .join(hotPerDoc.select(col("id").as("doc_a"), col("hot_shs").as("hot_a"))
        .hint("shuffle_hash"), Seq("doc_a"), "left")
      .join(hotPerDoc.select(col("id").as("doc_b"), col("hot_shs").as("hot_b"))
        .hint("shuffle_hash"), Seq("doc_b"), "left")
      .withColumn("inter", col("inter_rare") +
        when(col("hot_a").isNotNull && col("hot_b").isNotNull,
          interCount(col("hot_a"), col("hot_b"))).otherwise(lit(0)))
    withHot.select("doc_a", "na", "doc_b", "nb", "inter")
  }

  /** Dedup-threshold yield curve — the datasheet row a 100 TB dedup
    * run is TUNED from: for each τ in `tausBp` (basis points), how
    * many near-dup pairs fire and how many documents the min-id-keeper
    * rule would drop. One `jaccardPairs` pass at the LOOSEST τ does
    * all the candidate generation and exact verification; the sweep
    * itself is a broadcast cross join of the (already pair-bounded)
    * result against a |tausBp|-row literal frame plus one keyed
    * aggregate — five thresholds cost one dedup run, not five.
    * "Dropped" = appears as doc_b (the non-minimum side) of some
    * qualifying pair, the q89 keeper convention at pair grain (the
    * transitive-cluster count is q104's job; this curve is the cheap
    * upper-bound sweep used to PICK τ before running components).
    */
  def dedupYieldCurve(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, tausBp: Seq[Int] = Seq(5000, 6000, 7000, 8000, 9000),
                      maxDf: Int = 256): DataFrame = {
    require(tausBp.nonEmpty, "dedupYieldCurve: empty threshold list")
    val spark = docs.sparkSession
    import spark.implicits._
    val tauMin = tausBp.min.toDouble / 10000.0
    val pairs = jaccardPairs(docs, idCol, textCol, n, tauMin, maxDf)
    val taus = tausBp.map(t => Tuple1(t)).toDF("tau_bp")
    val stats = pairs.crossJoin(broadcast(taus))
      .filter(col("jaccard") >= col("tau_bp").cast("double") / 10000.0)
      .groupBy("tau_bp")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_b")).as("n_docs_dropped"))
    // stats is bounded at |tausBp| rows by construction — pin the
    // broadcast so the closing join plans identically at every scale
    // (left to AQE it flapped 10↔11 exchanges between sf0.01 and sf0.1)
    taus.join(broadcast(stats), Seq("tau_bp"), "left_outer")
      .select(col("tau_bp").cast("int").as("tau_bp"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"))
      .orderBy("tau_bp")
  }

  /** Exact n-gram containment pairs: c(A→B) = |Sa ∩ Sb| / |Sa| ≥
    * `threshold` over distinct word n-gram shingles — the DIRECTIONAL
    * near-dup relation (A is mostly contained in B: quotes, excerpts,
    * subset documents), vs Jaccard's symmetric resemblance. A doc whose
    * content is swallowed by a much larger one dilutes Jaccard below any
    * useful threshold but scores containment ≈ 1; dedup pipelines drop
    * the contained side. Both qualifying directions of a pair are
    * emitted: (doc_a = contained, doc_b = container, containment).
    *
    * Candidates come from the same df-capped inverted index as
    * `jaccardPairs` (one shuffle, maxDf-bounded buckets) but with NO
    * size-ratio prune — for containment the bound min(|A|,|B|)/|A| is 1
    * whenever A is the smaller side, so sizes alone exclude nothing.
    * Recall contract unchanged from the Jaccard path: a true pair is
    * missed only if EVERY shared shingle is corpus-hot (df > maxDf) —
    * pure boilerplate overlap.
    *
    * Scale: identical shape to `jaccardPairs` — per-bucket pair emission
    * bounded by C(maxDf, 2) regardless of corpus size; both directions
    * are computed from ONE intersection pass (explode of a 2-element
    * struct array, no recompute of the candidate aggregation).
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.9,
                       maxDf: Int = 256): DataFrame =
    rarePairInter(docShingles(docs, idCol, textCol, n), maxDf, minRatio = 0.0)
      .select(explode(array(
        struct(col("doc_a"), col("doc_b"),
          round(col("inter").cast("double") / col("na"), 4).as("containment")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"),
          round(col("inter").cast("double") / col("nb"), 4).as("containment"))
      )).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.containment").as("containment"))
      .filter(col("containment") >= threshold)
      .orderBy("doc_a", "doc_b")

  /** TF-weighted n-gram Jaccard near-dup pairs — the multiplicity-aware
    * sibling of [[containmentPairs]]/q24's set Jaccard: wJ(A,B) =
    * Σ_g min(tf_A(g), tf_B(g)) / Σ_g max(tf_A(g), tf_B(g)) over
    * positional n-grams WITH repeat counts, so a document that repeats a
    * template paragraph 5× no longer looks identical to one containing
    * it once (set Jaccard collapses multiplicity; weighted Jaccard is
    * the measure CCNet-style curation uses for repeated-boilerplate
    * discrimination). Σ max = tot_A + tot_B − Σ min, so one shared-gram
    * join suffices.
    *
    * Contract (mirrored exactly by the oracle): the gram space is
    * df-capped FIRST — grams present in more than `maxDf` documents are
    * dropped from tf totals AND pairing (boilerplate carries no
    * similarity evidence, and its pairs are O(df²)); weights and the
    * threshold apply in the surviving space. All arithmetic is integer
    * until the final 4-dp ratio. GRAM IDENTITY IS THE 64-BIT FNV-1a FOLD
    * (round-15): the engine counts two grams as one when their folded
    * word hashes are equal, not their strings — a cross- or within-doc
    * collision would merge distinct grams' df and tf. q176's oracle
    * builds STRING grams (no hash UDF is registered for DuckDB), so the
    * two agree only while no collision occurs, and a collision would
    * surface as an oracle mismatch. Collision odds ≈ S²/2⁶⁵ over S
    * distinct grams — immaterial at any achievable S.
    *
    * Scale: per-doc tf is computed INSIDE the gram UDF (a row-local
    * aggregation needs no shuffle; round-15), df is one groupBy with
    * map-side combine on the zipf gram key — never a window; the pair
    * join runs only on df-capped grams, so emission is bounded by
    * Σ_g C(df_g, 2) ≤ maxDf/2 · Σ df_g — the q24 inverted-index bound.
    * One keyed fact shuffle (the df/pair build, on 8-byte hashed gram
    * keys); the per-doc totals join back on doc-cardinality tables.
    */
  def weightedJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, threshold: Double = 0.5,
                           maxDf: Int = 64): DataFrame = {
    // Per-doc TF of HASHED n-grams in one tight loop (round-15, guide
    // §2.3/§2.4): the former explode-all-occurrences → groupBy(doc, gr)
    // paid a full exchange of every gram OCCURRENCE (string-keyed, ~25
    // B/gram) just to count within-doc repeats — a per-row aggregation
    // needs no shuffle at all. The UDF emits (gram-hash, tf) pairs per
    // document (FNV-1a folded word hashes, the q24/docShingles
    // discipline: 8-byte keys on every downstream exchange instead of
    // gram strings; collision odds ≈ S²/2⁶⁵ — immaterial, and the
    // DuckDB oracle hash-match would surface one). Multiplicity is
    // preserved exactly — tf values are what the old groupBy computed.
    val gramTfUdf = udf { (ws: Seq[String]) =>
      if (ws == null) Array.empty[(Long, Long)]
      else {
        val m = new java.util.HashMap[java.lang.Long, Array[Long]]()
        ngramHashes(ws, n).foreach { h =>
          val prev = m.get(h)
          if (prev == null) m.put(h, Array(1L)) else prev(0) += 1L
        }
        val out = new Array[(Long, Long)](m.size)
        val it = m.entrySet().iterator()
        var i = 0
        while (it.hasNext) {
          val e = it.next()
          out(i) = (e.getKey.longValue(), e.getValue()(0))
          i += 1
        }
        out
      }
    }
    val tf = graft.Tables.widen(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("txt")))
      .select(col("doc_id"),
        explode(gramTfUdf(regexp_extract_all(col("txt"), lit("\\S+"), lit(0)))).as("g"))
      .select(col("doc_id"), col("g._1").as("gr"), col("g._2").as("tf"))
    val keep = tf.groupBy("gr").agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") <= maxDf).select("gr")
    // EAGER checkpoint: the capped gram table feeds the totals AND both
    // pair-join sides — without it the doc scan + gram explode + two
    // aggs recompute three times (measured on the first 100× run)
    val capped = tf.join(keep, "gr").localCheckpoint(true)
    val tot = capped.groupBy("doc_id").agg(sum("tf").as("tot"))
    val withTot = capped.join(tot, Seq("doc_id"))
    // slack-adjusted lossless prune at pair EMISSION (q24's length-ratio
    // analog): wJ ≤ min(tot)/max(tot) because Σmin ≤ min(tot) and the
    // denominator ≥ max(tot), so pairs failing the rounded threshold on
    // that bound can never qualify — dropped BEFORE the pair exchange.
    // The first 100× audit without this emitted ΣC(df,2) ≈ 2·10⁸ rows
    // and spilled 11 GB; the bound prunes map-side.
    val slack = threshold - 0.00005
    smin0(withTot, slack)
      .withColumn("wjacc", round(col("smin").cast("double") /
        (col("ta") + col("tb") - col("smin")).cast("double"), 4))
      .filter(col("wjacc") >= threshold)
      .select("doc_a", "doc_b", "smin", "wjacc")
      .orderBy("doc_a", "doc_b")
  }

  private def smin0(withTot: DataFrame, slack: Double): DataFrame = {
    withTot.select(col("gr"), col("doc_id").as("doc_a"),
        col("tf").as("tfa"), col("tot").as("ta"))
      .join(withTot.select(col("gr"), col("doc_id").as("doc_b"),
        col("tf").as("tfb"), col("tot").as("tb")), Seq("gr"))
      .where(col("doc_a") < col("doc_b") &&
        least(col("ta"), col("tb")).cast("double") >=
          lit(slack) * greatest(col("ta"), col("tb")).cast("double"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(least(col("tfa"), col("tfb"))).as("smin"),
        first("ta").as("ta"), first("tb").as("tb"))
  }

  /** Edit-distance fuzzy-dup pairs via standard blocking + bounded
    * levenshtein verify — the entity-resolution shape (block on a cheap
    * deterministic key, verify candidates with an exact distance) for
    * typo-level near-identical records that token-set measures miss the
    * direction of.
    *
    * Blocking key = the first `blockTokens` words. A block larger than
    * `maxBlock` docs is excluded ENTIRELY (the df-cap analog — a
    * boilerplate prefix would otherwise emit O(block²) pairs), so
    * per-block pair emission is bounded by C(maxBlock, 2) regardless of
    * corpus size. Verify = exact levenshtein over the first `headLen`
    * chars — O(headLen²) per pair, constant-bounded. Recall contract:
    * an edit inside the first `blockTokens` words moves the record to a
    * different block and the pair is missed — production runs add a
    * second blocking pass on a different key (e.g. last tokens); the
    * single registered pass keeps the oracle one query.
    *
    * Scale: ONE corpus shuffle — the block build is a BoundedCollect
    * group-by (cap-bounded buffers even on a boilerplate-prefix zipf
    * head, exact count rides along to apply the cap), and pairs are
    * emitted map-side from each ≤ maxBlock bucket — the single-shuffle
    * shape proven on the jaccard inverted index. The window-count +
    * self-join alternative audits at 6 exchanges and two corpus scans;
    * this is 3 and one.
    */
  def editBlockedPairs(docs: DataFrame, idCol: String, textCol: String,
                       blockTokens: Int = 3, headLen: Int = 120,
                       maxLev: Int = 20, maxBlock: Int = 64): DataFrame =
    editBlockedPass(docs, idCol, textCol, blockTokens, headLen, maxLev,
      maxBlock, fromEnd = false)
      .orderBy("doc_a", "doc_b")

  /** Two-pass blocked edit-distance pairs: the round-9 verdict's recall
    * fix for [[editBlockedPairs]]'s single-key contract. An edit inside
    * the FIRST `blockTokens` words moves a record out of its first-key
    * block and the single pass misses the pair; this runs a second pass
    * blocked on the LAST `blockTokens` words and unions the two,
    * deduplicating on the (doc_a, doc_b, lev) triple (lev is
    * deterministic per pair, so cross-pass duplicates are exact row
    * duplicates). A pair edited in BOTH the head and the tail tokens
    * remains out of contract — the standard multi-pass blocking
    * tradeoff, each extra key another bounded pass.
    *
    * Scale: exactly two of the single pass's ONE-shuffle shapes — each
    * pass is a cap-bounded BoundedCollect group-by with map-side pair
    * emission — plus the distinct on the (tiny) qualifying pair set.
    */
  def editBlockedPairsDual(docs: DataFrame, idCol: String, textCol: String,
                           blockTokens: Int = 3, headLen: Int = 120,
                           maxLev: Int = 20, maxBlock: Int = 64): DataFrame = {
    val first = editBlockedPass(docs, idCol, textCol, blockTokens, headLen,
      maxLev, maxBlock, fromEnd = false)
    val last = editBlockedPass(docs, idCol, textCol, blockTokens, headLen,
      maxLev, maxBlock, fromEnd = true)
    first.union(last).distinct().orderBy("doc_a", "doc_b")
  }

  private def editBlockedPass(docs: DataFrame, idCol: String, textCol: String,
                              blockTokens: Int, headLen: Int,
                              maxLev: Int, maxBlock: Int,
                              fromEnd: Boolean): DataFrame = {
    val t = trim(col("txt"))
    val ws = split(t, "\\s+")
    val blk =
      if (fromEnd) concat_ws(" ", slice(ws, -blockTokens, blockTokens))
      else concat_ws(" ", slice(ws, 1, blockTokens))
    val keyed = graft.Tables.widen(
        docs.select(col(idCol).as("id"), col(textCol).as("txt")))
      .where(size(ws) >= blockTokens)
      .select(col("id"), substring(t, 1, headLen).as("head"), blk.as("blk"))
    val blocks = keyed.groupBy("blk")
      .agg(graft.functions.BoundedCollect.collectStr(maxBlock + 1)(
        col("id"), col("head")).as("bc"))
      .filter(col("bc._2").between(2, maxBlock))
    // ordered (id asc) pair expansion inside the bounded bucket; the
    // exact levenshtein verify runs on the emitted pair columns via the
    // codegen'd native function
    val blockPairs = udf { (ids: Seq[Long], heads: Seq[String]) =>
      val ord = ids.indices.sortBy(ids(_)).toArray
      val out = Array.newBuilder[(Long, String, Long, String)]
      var i = 0
      while (i < ord.length - 1) {
        var j = i + 1
        while (j < ord.length) {
          out += ((ids(ord(i)), heads(ord(i)), ids(ord(j)), heads(ord(j))))
          j += 1
        }
        i += 1
      }
      out.result()
    }
    blocks
      .select(explode(blockPairs(col("bc._1._1"), col("bc._1._2"))).as("p"))
      .select(col("p._1").as("doc_a"), col("p._3").as("doc_b"),
        levenshtein(col("p._2"), col("p._4")).cast("long").as("lev"))
      .where(col("lev") <= maxLev)
  }

  /** Per-row MinHash band signatures: one pass over the hashed shingle
    * array computes all `numPerms` permutation minima (affine
    * permutations a·h+b of the shingle hash) and folds each `rowsPerBand`
    * group into one 64-bit band signature. Returns numPerms/rowsPerBand
    * longs.
    */
  private def bandSigFn(numPerms: Int, rowsPerBand: Int): Seq[Long] => Array[Long] = {
    val numBands = numPerms / rowsPerBand
    val as = Array.tabulate(numPerms)(i => mix64(0xA5A50000L + i) | 1L)
    val bs = Array.tabulate(numPerms)(i => mix64(0x5EED0000L + i))
    shs => {
      val mins = Array.fill(numPerms)(Long.MaxValue)
      shs.foreach { h =>
        var i = 0
        while (i < numPerms) {
          val v = as(i) * h + bs(i)
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      Array.tabulate(numBands) { b =>
        var acc = mix64(b.toLong)
        var r = 0
        while (r < rowsPerBand) { acc = mix64(acc ^ mins(b * rowsPerBand + r)); r += 1 }
        acc
      }
    }
  }

  /** MinHash + LSH near-dup pairs, verified with exact Jaccard.
    *
    * Signatures are computed per-row in ONE pass (`bandSigFn`); the only
    * shuffles are the band-bucket self-join and the bounded verify join.
    * Candidate pairs collide on any band; exact verification makes the
    * output equal `jaccardPairs` whenever LSH recall holds. The operating
    * point is honest about its boundary: per-pair miss probability is
    * (1 − t^r)^b — ~2.2e-4 at the registered threshold t = 0.8 (r = 4,
    * b = 16), dropping to ~3e-8 by t = 0.9. A corpus with ~10⁹ pairs
    * sitting EXACTLY at 0.8 would expect ~10⁵ misses; real near-dup mass
    * lives well above the threshold (planted fixture dups are ≥ 0.9), and
    * the fix when it doesn't is more bands (b = 32 → miss 4.8e-8 at 0.8),
    * not a different algorithm.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, numPerms: Int = 64, rowsPerBand: Int = 4,
                      threshold: Double = 0.8): DataFrame = {
    val docSh = docShingles(docs, idCol, textCol, n)
    val bands = udf(bandSigFn(numPerms, rowsPerBand))
    val banded = docSh
      .select(col("id"), posexplode(bands(col("shs"))).as(Seq("band", "sig")))
    val candidates = banded.as("a").join(banded.as("b"), Seq("band", "sig"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    verifyJaccard(candidates, docSh, threshold)
  }

  /** SimHash signature of `w` 64-bit words, low word first, in one pass
    * over the tokens: every token occurrence votes ±1 on each bit
    * (per-occurrence voting ≡ term-frequency weighting), sign of the
    * bit sum → bit. Word 0 votes from the token's FNV-1a hash, word 1
    * from its splitmix64 finalizer (an independent-by-construction
    * second hash with no second string pass).
    */
  private def simhashWords(text: String, w: Int): Array[Long] = {
    val acc = new Array[Int](64 * w)
    if (text != null) {
      val tokens = text.trim.split("\\s+")
      var t = 0
      while (t < tokens.length) {
        if (tokens(t).nonEmpty) {
          var h = fnv64(tokens(t))
          var k = 0
          while (k < w) {
            if (k > 0) h = mix64(h)
            var i = 0
            while (i < 64) {
              if (((h >>> i) & 1L) == 1L) acc(64 * k + i) += 1 else acc(64 * k + i) -= 1
              i += 1
            }
            k += 1
          }
        }
        t += 1
      }
    }
    val sig = new Array[Long](w)
    var i = 0
    while (i < acc.length) { if (acc(i) > 0) sig(i >> 6) |= (1L << (i & 63)); i += 1 }
    sig
  }

  /** 64-bit SimHash signature per document (`simhashWords` word 0),
    * computed in one narrow per-row pass: (id, simhash).
    */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sim = udf { (text: String) => simhashWords(text, 1)(0) }
    docs.select(col(idCol).as("id"), sim(col(textCol)).as("simhash"))
  }

  /** SimHash near-dup pairs at hamming distance ≤ maxDist via 16-bit
    * chunk banding with single-bit MULTI-PROBE.
    *
    * Bucket math: 4 chunks × 16 bits = 65,536 bucket values per chunk.
    * Pigeonhole: d ≤ 7 bit errors across 4 chunks means SOME chunk holds
    * ≤ ⌊7/4⌋ = 1 error, so indexing each doc's exact chunk values (4
    * rows/doc) and probing each chunk value plus its 16 single-bit flips
    * (68 rows/doc) guarantees every qualifying pair collides. Expected
    * collisions ≈ 4 · 17n²/65536 = n²/964 — vs n²/32 for the naive
    * (d+1)=8-chunk scheme whose 8-bit chunks give only 256 buckets.
    *
    * Scale boundary, measured at the 100× rehearsal (500k docs, 61 s):
    * the n²/964 collision floor is STRUCTURAL for a 64-bit signature at
    * d ≤ 7 — fewer chunks need multi-bit probes that explode
    * combinatorially (2 × 32-bit chunks require ≤3-bit flips = 5,489
    * probes/chunk), more chunks shrink the bucket space. The production
    * move past ~10⁶ docs is a LONGER signature ([[simhash128Pairs]]) —
    * a similarity-contract change (hamming distance on a different
    * hash), not a banding tweak, which is why this operator keeps the
    * 64-bit contract its oracle pins.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 7): DataFrame =
    simhashBandJoin(simhashSignatures(docs, idCol, textCol), Seq("simhash"), maxDist)

  /** 128-bit SimHash signature as (hi, lo) longs — the Manku et al.
    * (WWW'07) scale path past [[simhashPairs]]'s 64-bit collision floor:
    * `sim_lo` is the 64-bit signature, `sim_hi` votes from each token
    * hash's splitmix64 finalizer. (id, sim_hi, sim_lo).
    */
  def simhash128Signatures(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    val sim = udf { (text: String) =>
      val s = simhashWords(text, 2)
      (s(1), s(0))
    }
    docs.select(col(idCol).as("id"), sim(col(textCol)).as("s"))
      .select(col("id"), col("s._1").as("sim_hi"), col("s._2").as("sim_lo"))
  }

  /** SimHash near-dup pairs at hamming ≤ maxDist over the 128-BIT
    * signature — the banding that SCALES where the 64-bit form's
    * collision floor is structural: 4 chunks of 32 bits give 2³²
    * bucket values per chunk, so expected random collisions are
    * ≈ 4·33·n²/2³² = n²/2²⁷ (vs n²/964 at 64 bits — five orders of
    * magnitude fewer verify rows at equal n). Pigeonhole is unchanged:
    * d ≤ 7 over 4 chunks puts ≤ 1 error in some chunk, covered by the
    * 32 single-bit probes; recall is exactly 1.0 of the 128-bit
    * hamming contract (which is a DIFFERENT similarity than the 64-bit
    * one — both are registered, each with its own oracle).
    */
  def simhash128Pairs(docs: DataFrame, idCol: String, textCol: String,
                      maxDist: Int = 7): DataFrame =
    simhashBandJoin(simhash128Signatures(docs, idCol, textCol),
      Seq("sim_lo", "sim_hi"), maxDist)

  /** The banded multi-probe join behind [[simhashPairs]] and
    * [[simhash128Pairs]] over (id, `words`…), the signature's 64-bit
    * words low first. 4 chunks of 16·w bits: chunk ci is bits
    * [ci·16·w, (ci+1)·16·w) of the concatenated signature. Each doc
    * indexes its 4 exact chunk values and probes each one plus, when
    * maxDist ≥ 4, its single-bit flips; colliding pairs keep hamming
    * (summed `bit_count` over the words) ≤ maxDist.
    */
  private def simhashBandJoin(sig: DataFrame, words: Seq[String],
                              maxDist: Int): DataFrame = {
    val nChunks = 4
    val chunkBits = 16 * words.length
    val mask = (1L << chunkBits) - 1
    val errPerChunk = maxDist / nChunks
    require(errPerChunk <= 1,
      s"maxDist $maxDist needs >1-bit probes with $nChunks chunks — not implemented")
    def chunkAt(ci: Int): Column = {
      val bit = ci * chunkBits
      shiftright(col(words(bit / 64)), bit % 64).bitwiseAND(mask)
    }
    // one join side: (id_s, <word>_s…, ci, cv), a row per chunk value
    def exploded(s: String, chunks: Seq[Column]): DataFrame = {
      val cols = "id" +: words
      sig.select(cols.map(c => col(c).as(s"${c}_$s")) :+
          explode(array(chunks: _*)).as("c"): _*)
        .select(cols.map(c => col(s"${c}_$s")) ++
          Seq(col("c.ci").as("ci"), col("c.cv").as("cv")): _*)
    }
    val idxCols = (0 until nChunks).map(ci =>
      struct(lit(ci).as("ci"), chunkAt(ci).as("cv")))
    val probeCols = (0 until nChunks).flatMap { ci =>
      val base = chunkAt(ci)
      val variants =
        if (errPerChunk == 0) Seq(base)
        else base +: (0 until chunkBits).map(b => base.bitwiseXOR(lit(1L << b)))
      variants.map(v => struct(lit(ci).as("ci"), v.as("cv")))
    }
    exploded("a", probeCols).join(exploded("b", idxCols), Seq("ci", "cv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        words.map(w => bit_count(col(s"${w}_a").bitwiseXOR(col(s"${w}_b"))))
          .reduce(_ + _).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
      .orderBy("doc_a", "doc_b")
  }

  /** Exact hamming pairs ≤ maxDist over 64-bit signatures via a BLOCKED
    * all-pairs scan — the audit anchor behind q145's recall line,
    * delivered through the same [[blockedPairScan]] as the exact cosine
    * scan (`VectorOps.nearDupPairsBlocked`): ids and signatures packed
    * as primitive long arrays per block and a tight xor+popcount loop
    * per block-pair task. The work is intrinsically N²/2 popcounts —
    * that is what an EXACT audit side means — but the shape turns it
    * from a row-at-a-time theta-join (one `a.join(b, id_a < id_b)` task
    * chain materializing 2.5·10¹¹ join rows at the 100× rehearsal,
    * 607 s) into ~1 ns/pair primitive arithmetic a cluster schedules
    * flat. Pigeonhole shortcuts are deliberately NOT used here: at
    * d ≤ 7 over 64 bits the chunks would replicate the banded path
    * under audit (4×16+probe) or collapse to 256-value buckets (8×8)
    * whose join materializes more rows than the popcounts cost.
    */
  def hammingPairsBlocked(sig: DataFrame, idCol: String, sigCol: String,
                          maxDist: Int, blockRows: Int = 8192): DataFrame =
    blockedPairScan[(Array[Long], Array[Long]), (Long, Long)](
      sig.select(col(idCol).cast("long").as("id"), col(sigCol).cast("long").as("s")),
      blockRows, maxBlocks = 4096,
      (n, nBlocks) => s"$n signatures → $nBlocks blocks: an exact all-pairs hamming " +
        "audit at this scale is a sampling problem, not a scan — audit a sample " +
        "or move to the banded production path (simhashPairs/q158)",
      bc => Seq(transform(bc, x => x.getField("id")), transform(bc, x => x.getField("s"))),
      Seq("doc_a", "doc_b")) { case ((ia, sa), (ib, sb), same) =>
      val out = Seq.newBuilder[(Long, Long)]
      var i = 0
      while (i < ia.length) {
        val si = sa(i)
        var j = if (same) i + 1 else 0
        while (j < ib.length) {
          if (java.lang.Long.bitCount(si ^ sb(j)) <= maxDist && ia(i) != ib(j)) {
            out += (if (ia(i) < ib(j)) (ia(i), ib(j)) else (ib(j), ia(i)))
          }
          j += 1
        }
        i += 1
      }
      out.result()
    }

  /** The blocked all-pairs scan behind [[hammingPairsBlocked]] and
    * `VectorOps.nearDupPairsBlocked` — the distribution shape for
    * intrinsically quadratic work. `rows` (with a long `id` column) hashes
    * into ⌈n/blockRows⌉ blocks, each packed into ONE row: `pack` maps
    * the block's `collect_list` of row structs to columns that decode,
    * in order, as the tuple `B` (primitive arrays decode by memcpy —
    * boxed per-element decoding was the measured cost of earlier
    * layouts). The B(B+1)/2 unordered block PAIRS are the unit of work:
    * a distributed grid equi-joined to the packed blocks twice (two
    * hash joins, not a cartesian), and `kernel(a, b, same)` emits one
    * block pair's output rows, named `out`. A same-block pair arrives
    * as ONE copy (`b` is `a`, `same` true) and the kernel visits only
    * j > i there: the two join sides aggregate collect_list
    * independently, so two copies of an identical block may arrive in
    * different element orders — an order-sensitive skip would double-
    * or under-count (q27's lesson). More than `maxBlocks` blocks fails
    * with `tooBig(n, nBlocks)`.
    *
    * `rows` is a local checkpoint that the count materializes for the
    * packing, and the packed blocks are one that both join sides read.
    * A checkpoint over a plan with an exchange is not lazy under AQE:
    * building its RDD runs every shuffle-map stage at the call, so the
    * packing aggregation's map side runs there (one job), while an
    * exchange-free `rows` runs none until the count. The (result-sized)
    * output is materialized EAGERLY as a local checkpoint. Nothing
    * enters the session CacheManager, whose entries live until they are
    * released explicitly: checkpoint blocks are dropped by the
    * ContextCleaner as soon as their frames are unreachable, on the
    * `tooBig` throw too.
    */
  private[graft] def blockedPairScan[B: TypeTag, P <: Product : TypeTag](
      rows: DataFrame, blockRows: Int, maxBlocks: Int,
      tooBig: (Long, Int) => String, pack: Column => Seq[Column], out: Seq[String])(
      kernel: (B, B, Boolean) => IterableOnce[P]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val v = rows.localCheckpoint(false)
    val n = v.count() // one bounded-scalar job
    val nBlocks = math.max(1, math.ceil(n.toDouble / blockRows).toInt)
    require(nBlocks <= maxBlocks, tooBig(n, nBlocks))
    val fields = pack(col("bc")).zipWithIndex.map { case (c, i) => c.as(s"_${i + 1}") }
    val packed = v
      .withColumn("blk", pmod(hash(col("id")), lit(nBlocks)))
      .groupBy("blk")
      .agg(collect_list(struct(rows.columns.map(col).toSeq: _*)).as("bc"))
      .select(col("blk"), struct(fields: _*).as("p"))
      .localCheckpoint(false)
    upperTriangleGrid(spark, nBlocks)
      .join(packed.select(col("blk").as("blk_a"), col("p").as("pa")), "blk_a")
      .join(packed.select(col("blk").as("blk_b"), col("p").as("pb")), "blk_b")
      .select((col("blk_a") === col("blk_b")).as("same"), col("pa"), col("pb"))
      .as[(Boolean, B, B)]
      .flatMap { case (same, a, b) => kernel(a, if (same) a else b, same) }
      .toDF(out: _*)
      .localCheckpoint(true)
  }

  /** The (i ≤ j) block-pair grid as a distributed Range scan — B² rows
    * generated on executors, filtered to B(B+1)/2: at the 4096-block
    * cap a driver-local Seq would materialize ~8.4M tuples in the plan
    * as a LocalRelation; a Range scan ships no rows.
    */
  private def upperTriangleGrid(spark: org.apache.spark.sql.SparkSession,
                                nBlocks: Int): DataFrame =
    spark.range(nBlocks.toLong * nBlocks)
      .select((col("id") / nBlocks).cast("int").as("blk_a"),
        pmod(col("id"), lit(nBlocks)).cast("int").as("blk_b"))
      .filter(col("blk_a") <= col("blk_b"))

  /** Group-level MinHash set-overlap audit — the sketch answer to "how
    * much do these corpus slices overlap" next to its exact truth. Per
    * group (source, shard, snapshot …), the signature is `perms`
    * single-hash minima over the group's distinct item set: min() is
    * associative/commutative and map-side combines, so the whole
    * signature pass is ONE bounded aggregate over the corpus — the
    * mergeable-sketch property (a shard's signature mins merge into the
    * total's by another min, the HLL/CMS argument). The estimator is the
    * classic one-permutation-per-slot form: Ĵ = |{j : minₐ(j)=min_b(j)}|
    * / perms, with stderr ≈ √(J(1−J)/perms) ≈ 6 %-points at perms=64 —
    * the audit columns put the realized error next to the estimate
    * (q142/q182/q186's estimate-vs-exact pattern). Exact truth: the
    * item-keyed self-join (per-item expansion ≤ |groups|², the q189
    * bound; corpus-growing sides pinned shuffle-hash). The full pair
    * frame comes from the |groups|-row size table via a constant-key
    * broadcast equi-join (hash join, not BNLJ — q187's rule). Hash:
    * 12 md5 hex chars (48 bits — collision-free in practice and exactly
    * reproducible as `('0x'||substr(md5(...),1,12))::BIGINT`).
    *
    * Output per unordered pair: (group_a, group_b, n_a, n_b, n_inter,
    * exact_j_bp, est_j_bp, err_bp) — all integer basis points.
    */
  def groupSetMinhashOverlap(items: DataFrame, groupCol: String,
                             itemCol: String, perms: Int): DataFrame = {
    // materialized ONCE: three branches (signatures, sizes, the exact
    // intersection self-join) consume the distinct'd (grp, item) set.
    // Un-checkpointed, each branch recomputes the corpus-wide distinct
    // (3× the dominant scan+shuffle at 100 TB), and AQE's opportunistic
    // stage reuse between the duplicate subtrees is TIMING-dependent —
    // the audited final plan flapped 18↔19 exchanges run-to-run
    // (round-13 plan-audit flap, same class as round-12's q142). One
    // eager local checkpoint makes the plan a function of the query
    // alone and pays the distinct exactly once.
    val it = items.select(col(groupCol).as("grp"), col(itemCol).as("item"))
      .distinct().localCheckpoint()
    val mins = (1 to perms).map(j =>
      min(conv(substring(md5(concat(lit(s"mh$j:"), col("item"))), 1, 12), 16, 10)
        .cast("long")).as(s"m$j"))
    val sk = it.groupBy("grp")
      .agg(mins.head, mins.tail: _*)
      .select(col("grp"), array((1 to perms).map(j => col(s"m$j")): _*).as("sig"))
    val sizes = it.groupBy("grp").agg(count(lit(1)).as("n"))
    val inter = it.select(col("grp").as("ga"), col("item"))
      .join(it.select(col("grp").as("gb"), col("item")).hint("shuffle_hash"),
        Seq("item"))
      .filter(col("ga") < col("gb"))
      .groupBy("ga", "gb").agg(count(lit(1)).as("n_inter"))
    val pairs = sizes.select(col("grp").as("ga"), col("n").as("n_a"), lit(1).as("one"))
      .join(broadcast(sizes.select(col("grp").as("gb"), col("n").as("n_b"),
        lit(1).as("one"))), Seq("one"))
      .filter(col("ga") < col("gb"))
      .drop("one")
    pairs
      .join(broadcast(sk.select(col("grp").as("ga"), col("sig").as("sig_a"))), Seq("ga"))
      .join(broadcast(sk.select(col("grp").as("gb"), col("sig").as("sig_b"))), Seq("gb"))
      .join(inter, Seq("ga", "gb"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("matches",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), _ + _))
      .select(col("ga").as("group_a"), col("gb").as("group_b"),
        col("n_a"), col("n_b"), col("n_inter"),
        expr("n_inter * 10000 div greatest(n_a + n_b - n_inter, 1)")
          .as("exact_j_bp"),
        expr(s"matches * 10000 div $perms").as("est_j_bp"))
      .withColumn("err_bp", col("est_j_bp") - col("exact_j_bp"))
      .orderBy("group_a", "group_b")
  }
}
