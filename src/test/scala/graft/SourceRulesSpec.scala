package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source gate for two design rules that no plan or result test can see,
  * checked over the code of `src/main` with comments stripped:
  *
  *  - per-call intermediates are local checkpoints, never CacheManager
  *    entries: `.cache()` and `.persist(` appear only in
  *    `pipeline/Continuous.scala` (the flow's index, released in its
  *    `finally`). A cached intermediate of a lazily returned frame cannot
  *    be released by its operator and outlives the call in the session.
  *  - the session conf is written only in `graftshim/PlanShim.scala`
  *    (`withConfs`' child session and `startStream`'s start-time
  *    window): a conf set on the shared session reaches every query
  *    compiling on it concurrently.
  */
class SourceRulesSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala")

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** `src` with line and block comments blanked out (line breaks kept, so
    * line numbers hold); string and character literals are kept as-is.
    */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def copy(n: Int): Unit = { out ++= src.substring(i, math.min(i + n, src.length)); i += n }
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        val end = src.indexOf("*/", i + 2)
        val stop = if (end < 0) src.length else end + 2
        out ++= src.substring(i, stop).filter(_ == '\n')
        i = stop
      } else if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        copy((if (end < 0) src.length else end + 3) - i)
      } else if (src(i) == '"') {
        copy(1)
        while (i < src.length && src(i) != '"' && src(i) != '\n')
          copy(if (src(i) == '\\') 2 else 1)
        copy(1)
      } else if (src.startsWith("'\\", i) && i + 3 < src.length && src(i + 3) == '\'') {
        copy(4)
      } else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
        copy(3)
      } else copy(1)
    }
    out.toString
  }

  /** (file, line) of every code line under `src/main/scala` that contains
    * one of `needles`, outside the files whose path ends with `allowedIn`.
    */
  private def offenders(needles: Seq[String], allowedIn: String): Seq[String] = {
    val files = sources(root)
    assert(files.size >= 50, s"source scan broke: only ${files.size} files found")
    files.filterNot(_.getPath.replace('\\', '/').endsWith(allowedIn)).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val code = try stripComments(src.mkString) finally src.close()
      code.linesIterator.zipWithIndex.collect {
        case (line, n) if needles.exists(line.contains) => s"${f.getPath}:${n + 1}: ${line.trim}"
      }
    }
  }

  test("comment stripping keeps code and literals, drops comments") {
    val src = "a.cache() // b.persist()\n/* c.cache()\n */ val s = \"//x\"; '\"'.cache()"
    assert(stripComments(src) == "a.cache() \n\n val s = \"//x\"; '\"'.cache()")
  }

  test("per-call intermediates never enter the CacheManager") {
    val found = offenders(Seq(".cache()", ".persist("), "graft/pipeline/Continuous.scala")
    if (found.nonEmpty)
      fail("cache()/persist() outside Continuous.run; keep per-call intermediates in a " +
        s"localCheckpoint instead:\n${found.mkString("\n")}")
  }

  test("the session conf is written only by PlanShim") {
    val found = offenders(Seq("conf.set(", "conf.unset("), "sql/graftshim/PlanShim.scala")
    if (found.nonEmpty)
      fail("session conf written outside PlanShim; scope it with PlanShim.withConfs or " +
        s"PlanShim.startStream instead:\n${found.mkString("\n")}")
  }
}
