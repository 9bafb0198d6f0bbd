package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-cleaning suite (reference: knowledge_model/processing/text_cleaner.py:105-133,
  * knowledge_model/ingestion/parse_pdfs.py:23-54) re-expressed as pure
  * `regexp_replace` column chains so every step stays inside whole-stage
  * codegen — no UDF in the hot path. Order is semantic and mirrors the
  * reference composition exactly (fold → strip → truncate → join → collapse).
  */
object CleanText {

  /** NFKC normalize + smart-quote translate + ASCII fold
    * (text_cleaner.py:99-102). The only step needing a JVM call; kept out of
    * the codegen'd chain and applied first, exactly as the reference does.
    */
  val unicodeFold: String => String = { s =>
    if (s == null) null
    else {
      val nfkc = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC)
      val smart = nfkc
        .replace('‘', '\'').replace('’', '\'')
        .replace('“', '"').replace('”', '"')
        .replace('–', '-').replace('—', '-')
        .replace("…", "...")
      // NFKD strip of remaining combining marks = the reference's
      // no-unidecode fallback (text_cleaner.py:30-36)
      java.text.Normalizer.normalize(smart, java.text.Normalizer.Form.NFKD)
        .replaceAll("\\p{M}+", "")
    }
  }

  def unicodeFoldUdf = udf(unicodeFold)

  /** HTML/XML tag strip (text_cleaner.py:58). */
  def stripTags(c: Column): Column = regexp_replace(c, "<[^>]+>", " ")

  /** Control-character strip (text_cleaner.py:59). */
  def stripControl(c: Column): Column =
    regexp_replace(c, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]", " ")

  /** Duplicate-punctuation collapse (text_cleaner.py:60): `!!!` → `!`. */
  def collapsePunct(c: Column): Column =
    regexp_replace(c, "([!?.,;:]){2,}", "$1")

  /** Citation-tag removal (text_cleaner.py:48): `[1,2]`, `[refs ≤20 chars]`. */
  def stripCitations(c: Column): Column =
    regexp_replace(c, "\\[[^\\]]{1,20}\\]", " ")

  /** Author-year removal (text_cleaner.py:51): `(Smith et al., 2020a)`. */
  def stripAuthorYear(c: Column): Column =
    regexp_replace(c, "\\([A-Z][A-Za-z]+ et al\\.?,? ?\\d{4}[a-z]?\\)", " ")

  /** Figure-reference removal (text_cleaner.py:49): `(fig 3)`, `(Figure 2a)`. */
  def stripFigRefs(c: Column): Column =
    regexp_replace(c, "(?i)\\((?:fig(?:ure)?\\.? ?\\d+[a-z]?)\\)", " ")

  /** Figure/table caption removal, line-anchored (text_cleaner.py:52). */
  def stripCaptions(c: Column): Column =
    regexp_replace(c, "(?im)^(?:figure|table)\\s+\\d+[^\\n]*$", " ")

  /** References-section truncation (text_cleaner.py:70-81): cut everything
    * from a line starting with References/Bibliography.
    */
  def truncateReferences(c: Column): Column =
    regexp_replace(c, "(?is)\\n\\s*(?:references|bibliography)\\b.*$", "")

  /** Unwanted-section truncation (text_cleaner.py:53-56,84-95). */
  def truncateSections(c: Column): Column =
    regexp_replace(c,
      "(?is)\\n\\s*(?:methods|materials and methods|acknowledg(?:e)?ments?|funding|conflicts? of interest)\\b.*$",
      "")

  /** Hyphen-linebreak join (text_cleaner.py:65): `transfor-\nmation`. */
  def joinHyphens(c: Column): Column =
    regexp_replace(c, "(\\w+)-\\s*\\n\\s*(\\w+)", "$1$2")

  /** Whitespace collapse + trim (text_cleaner.py:66,133). */
  def collapseWs(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** Full composite `clean_text` (text_cleaner.py:105-133), order-exact:
    * tag strip → control strip → punct collapse → citation/author-year/fig
    * removal → caption removal → section truncations → hyphen join →
    * whitespace collapse. `unicodeFold` is applied separately upstream when
    * the corpus may contain non-ASCII (the fixture corpus is ASCII).
    */
  def cleanText(c: Column): Column = {
    val steps: Seq[Column => Column] = Seq(
      stripTags, stripControl, collapsePunct, stripCitations,
      stripAuthorYear, stripFigRefs, stripCaptions,
      truncateReferences, truncateSections, joinHyphens, collapseWs)
    steps.foldLeft(c)((acc, f) => f(acc))
  }

  /** PDF page-artifact strip (parse_pdfs.py:23-54): drop `Page N`, `© ...`,
    * bare-digit lines, then fixpoint-join cascaded hyphen breaks. The
    * fixpoint loop needs a UDF.
    */
  val stripPageArtifacts: String => String = { s =>
    if (s == null) null
    else {
      val kept = s.split("\n", -1).filterNot { line =>
        val t = line.trim
        t.matches("(?i)page\\s+\\d+") || t.matches("©.*") || t.matches("\\d+")
      }.mkString("\n")
      var cur = kept
      var prev = ""
      while (cur != prev) { // cascaded hyphen breaks re-expose new joins
        prev = cur
        cur = cur.replaceAll("(\\w+)-\\s*\\n\\s*(\\w+)", "$1$2")
      }
      cur
    }
  }

  def stripPageArtifactsUdf = udf(stripPageArtifacts)

  /** Trim-to-last-sentence-end (inference/postprocess.py:69-72). */
  val trimToLastPeriod: String => String = { s =>
    if (s == null) null
    else {
      val idx = s.lastIndexWhere(ch => ch == '.' || ch == '?' || ch == '!')
      if (idx < 0) s else s.substring(0, idx + 1)
    }
  }

  /** Special-token strip (inference/postprocess.py:25-34,57-61):
    * remove `<pad>`, `</s>`, `###`-style generation artifacts.
    */
  def stripSpecialTokens(c: Column): Column = {
    val toks = Seq("<pad>", "</s>", "<s>", "<unk>", "###")
    toks.foldLeft(c)((acc, t) => regexp_replace(acc, java.util.regex.Pattern.quote(t), " "))
  }

  /** Boilerplate-tail removal (postprocess.py:41-48,150-156): cut at
    * Acknowledgments/Funding/References heads anywhere after a newline.
    */
  def truncateBoilerplateTail(c: Column): Column =
    regexp_replace(c,
      "(?is)\\n\\s*(?:acknowledg(?:e)?ments?|funding|references)\\b.*$", "")

  /** Column form of trim-to-last-sentence-end (postprocess.py:69-72):
    * greedy match up to the final `.?!`; unchanged when none exists.
    * (Regex form so the DuckDB oracle can reproduce it exactly.)
    */
  def trimToLastPeriodCol(c: Column): Column = {
    val cut = regexp_extract(c, "(?s)^(.*[.!?])", 1)
    when(cut === "", c).otherwise(cut)
  }

  /** Citation extraction (inference/postprocess.py:36,169-171):
    * unique `(PMID|PMCID|DOI): value` mentions in first-seen order.
    */
  def extractCitations(c: Column): Column =
    array_distinct(regexp_extract_all(c, lit("(?:PMID|PMCID|DOI):\\s*\\S+"), lit(0)))

  /** Normalized dedup key (main.py:283-291): lowercase alpha-only first 60
    * chars — the reference's bullet-dedup identity.
    */
  def dedupKey(c: Column): Column =
    substring(regexp_replace(lower(c), "[^a-z]", ""), 1, 60)

  /** PMCID normalization (pipeline.py:99-106,126-131): strip `pmc-id:`
    * label, take first `;`-separated id, trim, ensure `PMC` prefix.
    */
  def normalizePmcid(c: Column): Column = {
    val noLabel = regexp_replace(c, "(?i)^\\s*pmc-?id:?\\s*", "")
    val first = trim(element_at(split(noLabel, ";"), 1))
    when(first === "", null)
      .otherwise(concat(lit("PMC"), regexp_replace(first, "(?i)^PMC", "")))
  }
}
