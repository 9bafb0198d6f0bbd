package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Golden pairs pinning the exact cleaning composition (FIXTURES.md §9). */
class CleanTextSpec extends SparkSpec {
  import spark.implicits._

  private def clean1(s: String): String =
    Seq(s).toDF("t").select(CleanText.cleanText(col("t"))).as[String].head()

  test("composite clean: tags, citations, author-year, figs, captions, refs, hyphens, ws") {
    val dirty = "<p>Bold</p> claim [1,2] holds (Smith et al., 2020a) (fig 3) in transfor-\nmation studies.!!!\nFigure 2 a spurious caption\nmore text\nReferences\n[9] dropped"
    // ".!!!" collapses to the LAST captured mark (Python \1 semantics)
    assert(clean1(dirty) == "Bold claim holds in transformation studies! more text")
  }

  test("references truncation also cuts bibliography, case-insensitive") {
    assert(clean1("keep\nBIBLIOGRAPHY\nx y z") == "keep")
    assert(clean1("keep\n  references\nx") == "keep")
  }

  test("unwanted sections truncate at methods/acknowledgments/funding/COI") {
    assert(clean1("body\nMethods\nstuff") == "body")
    assert(clean1("body\nAcknowledgements\nthanks") == "body")
    assert(clean1("body\nConflict of interest\nnone") == "body")
  }

  test("duplicate punct collapses to a single mark (last repetition wins)") {
    assert(clean1("what??!") == "what!")
    assert(clean1("so,,,, true") == "so, true")
  }

  test("unicode fold: NFKC + smart quotes + accent strip") {
    assert(CleanText.unicodeFold("“hello” — café ﬁn") == "\"hello\" - cafe fin")
  }

  test("page artifact strip drops Page N/©/bare digits and joins cascaded hyphens") {
    val in = "intro\nPage 3\n42\n© 2020 pub\nlong-\nword-\nhere end"
    assert(CleanText.stripPageArtifacts(in) == "intro\nlongwordhere end")
  }

  test("trim to last sentence end") {
    assert(CleanText.trimToLastPeriod("A done. B partial wo") == "A done.")
    assert(CleanText.trimToLastPeriod("no terminator") == "no terminator")
  }

  test("dedup key: lowercase alpha-only first 60") {
    val k = Seq("A-B c! " + ("x" * 100)).toDF("t")
      .select(CleanText.dedupKey(col("t"))).as[String].head()
    assert(k == ("abc" + "x" * 57))
  }

  test("pmcid normalization variants") {
    val rows = Seq("pmc-id: PMC123; PMC999", "  456 ;PMC888", "PMC789", "pmc-id: ")
      .toDF("p").select(CleanText.normalizePmcid(col("p"))).as[String].collect()
    assert(rows.toSeq == Seq("PMC123", "PMC456", "PMC789", null))
  }

  test("clean_text rejects wrong arity with the expected signature in the message") {
    graft.functions.GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT clean_text('a', 'b')").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("clean_text(text STRING)")),
      s"unexpected error: ${e.getMessage}")
  }

  test("clean_text is SQL-registered and interpreted eval matches codegen") {
    graft.functions.GraftFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT clean_text('<p>x</p> y?!! [1] z-\n w') AS c").head().getString(0)
    assert(viaSql == "x y! zw")
    // a literal argument is constant-folded (interpreted eval); the
    // Column chain over a shuffled column runs in whole-stage codegen
    def interpreted(s: String): String =
      spark.sql("SELECT clean_text(:t)", Map("t" -> s)).head().getString(0)
    def codegen(s: String): String =
      Seq(s).toDF("t").repartition(1).select(CleanText.cleanText(col("t"))).as[String].head()
    // adversarial edges: empty, all-whitespace, nested brackets, hyphen
    // cascades, stacked sections, control chars, order-sensitive
    // punct/citation mixes
    val edges = Seq("<p>x</p> y?!! [1] z-\n w",
      "", " ", "\t\n ", "...", "a",
      "[x[y]z]", "[123456789012345678901] kept (too long)",
      "w-\n x-\n y", "see.!!?,, [1],, (fig 4a)(FIGURE 12)",
      "<b>x</b>", "a\u0001b\u001fc",
      "body\nMethods\nm\nReferences\nr",
      "Table 12 cap\ntext (Jones et al 2021b) tail",
      "no terminator at all")
    edges.foreach(s => assert(interpreted(s) == codegen(s), s"input: ${s.toSeq}"))
  }

  test("citation extraction is unique and ordered") {
    val c = Seq("PMID: 1 x DOI: 10.1/a y PMID: 1").toDF("t")
      .select(CleanText.extractCitations(col("t"))).as[Seq[String]].head()
    assert(c == Seq("PMID: 1", "DOI: 10.1/a"))
  }
}
