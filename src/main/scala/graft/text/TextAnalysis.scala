package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, document fingerprinting.
  * Pure column expressions (codegen'd, no UDFs) so they run at full
  * scan throughput — at 100 TB these are applied in the same stage as the
  * parquet scan, no shuffle. The one exception is `compressionRatio`
  * (zlib has no expression form): a narrow scan-stage UDF with a
  * thread-local Deflater.
  */
object TextAnalysis {

  /** Whitespace token count: the number of \S+ runs, EXCEPT that input
    * whose space-trimmed form is empty counts 1 (the legacy identity of
    * `size(split(trim(c), "\\s+"))`, which splits "" to [""]). This is
    * THE token-count semantics of the library — every Spark call site
    * uses this function and every DuckDB oracle mirrors it with the
    * exact CASE form
    * `CASE WHEN len(trim(x)) = 0 THEN 1
    *       ELSE len(regexp_extract_all(trim(x), '\S+')) END`,
    * which is value-identical on ALL inputs. (The earlier
    * `len(regexp_split_to_array(trim(x),'\s+'))` mirror was NOT: SQL
    * trim strips only spaces, so text whose trimmed form starts/ends
    * with tab or newline made the split form count empty elements —
    * '\ta b' → 3 split vs 2 runs. TokenCountParitySpec pins the run
    * semantics on those inputs; tools/token_mirror_check.py re-runs
    * the CASE mirror in DuckDB against the same pins.) Counting runs
    * instead of splitting also skips materializing the token array —
    * ~1000 string allocations per document on the hot quality/sampling
    * path (measured: q108's per-row cost was 2.9 ms/doc at the 100×
    * rehearsal, dominated by split/extract_all array builds).
    */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(1))
      .otherwise(regexp_count(trim(c), lit("\\S+")))

  /** BPE-ish token count: letter runs, digit runs, single punctuation —
    * the standard pre-tokenizer shape, as a codegen'd regex count.
    */
  def bpeTokenCount(c: Column): Column =
    regexp_count(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  // regexp_count scans without materializing the match array that
  // size(regexp_extract_all(...)) builds — same count, no per-match
  // string allocation
  private def countMatches(c: Column, pattern: String): Column =
    regexp_count(c, lit(pattern))

  /** Stopword-profile language ID (n-gram/stopword heuristic). Scores tiny
    * per-language function-word lists and takes a deterministic argmax
    * (strict-greater precedence en → de → es → fr → zh). Deterministic and
    * cross-engine reproducible; swap the word lists for real profiles in a
    * production corpus.
    */
  def langId(c: Column): Column = {
    val en = countMatches(c, "\\b(the|and|of|to|in|is|that|for|with)\\b")
    val de = countMatches(c, "\\b(der|die|das|und|nicht|ein|ist|mit)\\b")
    val es = countMatches(c, "\\b(el|la|los|las|que|por|para|con)\\b")
    val fr = countMatches(c, "\\b(le|les|des|une|est|dans|pour|avec)\\b")
    val zh = countMatches(c, "[\\x{4e00}-\\x{9fff}]")
    val m = greatest(en, de, es, fr, zh)
    when(m === lit(0), "und")
      .when(en === m, "en").when(de === m, "de").when(es === m, "es")
      .when(fr === m, "fr").otherwise("zh")
  }

  /** Quality score ∈ [0,1] from cheap surface statistics (length band,
    * punctuation ratio, stopword ratio, mean word length band) — the usual
    * first-pass corpus filter. Rounded for cross-engine stability.
    */
  def qualityScore(c: Column): Column = {
    val nChars = length(c).cast("double")
    val nWords = tokenCount(c).cast("double")
    // count directly instead of building the stripped copy
    val nPunct = countMatches(c, "[!?.,;:]").cast("double")
    val nStop  = countMatches(c, "\\b(the|and|of|to|in|a|is|that)\\b").cast("double")
    val meanWordLen = nChars / greatest(nWords, lit(1.0))
    val lenScore   = least(nChars / lit(500.0), lit(1.0))
    val punctScore = lit(1.0) - least(nPunct / greatest(nWords, lit(1.0)) * 2.0, lit(1.0))
    val stopScore  = least(nStop / greatest(nWords, lit(1.0)) * 5.0, lit(1.0))
    val wlenScore  = when(meanWordLen >= 3.0 && meanWordLen <= 10.0, 1.0).otherwise(0.5)
    // floor(x·10⁴ + 0.5)/10⁴ instead of round(x, 4): the component ratios
    // are small-integer fractions, so the TRUE score often lands exactly
    // on a .xxxx5 boundary where Spark (BigDecimal HALF_UP on the
    // shortest decimal repr) and DuckDB (binary nearbyint) disagree by
    // 1e-4. Pure IEEE double ops are bit-identical in every engine.
    floor((lenScore + punctScore + stopScore + wlenScore) / 4.0 * 10000.0 + 0.5) / 10000.0
  }

  /** Deflate compression ratio (compressed bytes / raw bytes, level 6)
    * — the Gopher/RefinedWeb repetitiveness signal: templated or
    * looped text compresses far below natural prose, whatever its
    * token stats say. Not SQL-expressible (no zlib in the oracle
    * engine), so the registered query is rows-only and the semantics
    * (repetition compresses tighter, bounds, determinism) are pinned
    * by TextAnalysisSpec. The Deflater is thread-local and reset per
    * row — one native allocation per task thread, not per row.
    */
  def compressionRatio(c: Column): Column = compressionRatioUdf(c)

  /** The scalar form, shared by the Column UDF and the SQL registration
    * in GraftFunctions.
    */
  def compressionRatioScala(s: String): Double =
    if (s == null || s.isEmpty) 0.0
    else {
      val raw = s.getBytes("UTF-8")
      val d = TextAnalysis.deflaters.get()
      d.reset()
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 64)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      math.floor(total.toDouble / raw.length * 10000.0 + 0.5) / 10000.0
    }

  private lazy val compressionRatioUdf = udf(compressionRatioScala _)

  private val deflaters = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(6)
  }

  /** Document fingerprint: md5 of the casefolded, whitespace-normalized
    * text — the exact-dedup identity. Stable across engines.
    */
  def fingerprint(c: Column): Column =
    md5(trim(regexp_replace(lower(c), "\\s+", " ")).cast("binary"))
}
