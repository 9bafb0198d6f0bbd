package graft

import org.scalatest.funsuite.AnyFunSuite

/** API.md freshness gate (round-9 verdict item 8): API.md is hand
  * maintained; this spec fails the build when a public operator lands
  * undocumented. Name-grep level by design — every top-level public
  * `def`/`val` of the five operator packages and of `query` and
  * `embed` (Retrieval, the embedders) must be MENTIONED in
  * API.md, either literally or as its base name for the documented
  * variant-suffix shorthands (`foo`(+Udf) covers fooUdf, etc.).
  * `qNN*` catalog entry points are covered by §8's blanket contract
  * and excluded here.
  */
class ApiDocSpec extends AnyFunSuite {

  private val packages = Seq("operators", "dedup", "vector", "text", "streaming", "query", "embed")
  // documented as "(+Suffix)" shorthand next to the base operator name
  private val variantSuffixes = Seq("Udf", "Scala", "Col", "LeftOuter")

  private def publicDefs(dir: java.io.File): Seq[String] = {
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".scala"))
    val re = "^  (?:def|val) ([a-zA-Z0-9_]+)".r
    files.toSeq.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().flatMap(l => re.findFirstMatchIn(l).map(_.group(1))).toList
      finally src.close()
    }
  }

  test("every public operator def is mentioned in API.md") {
    val api = {
      val src = scala.io.Source.fromFile("API.md", "UTF-8")
      try src.mkString finally src.close()
    }
    val names = packages
      .flatMap(p => publicDefs(new java.io.File(s"src/main/scala/graft/$p")))
      .distinct.sorted
      .filterNot(_.matches("^q\\d+.*")) // §8 blanket covers catalog entries
    assert(names.size >= 90, s"def scan broke: only ${names.size} names found")
    val missing = names.filterNot { n =>
      api.contains(n) || variantSuffixes.exists(s =>
        n.endsWith(s) && api.contains(n.dropRight(s.length)))
    }
    assert(missing.isEmpty,
      s"public operators missing from API.md: ${missing.mkString(", ")} — " +
        "add a row (or a (+Suffix) note on the base operator)")
  }
}
