package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // a failed query must fail the run: collect names, write a manifest,
    // exit nonzero — otherwise a regression hides behind a missing parquet
    // dir and the round's correctness silently shrinks (same honesty rule
    // as Bench's ok flags)
    // dev-loop subset: SPARK_GRAFT_ONLY=q1_agg,q2_... runs just those
    // (unset, the dump is always the full catalog)
    val failed = SparkEntry.selected().flatMap { case (name, fn) =>
      // repartition(1), not coalesce(1): coalesce propagates the single
      // partition UP the narrow chain, collapsing the whole query to one
      // core; repartition pins an exchange so only the tiny write is serial
      try {
        fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        Some(name)
      } finally {
        // same hygiene as Bench: operator-internal caches are a
        // within-query optimization; 145 queries' dead entries must not
        // pile up across the dump
        spark.catalog.clearCache()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failed.json"),
      failed.map(q).mkString("[", ",", "]"))
    // GATE_STAMP-vs-tree verdict (round-13 verdict item 4): round 13's
    // end-of-round snapshot scooped ungated work past the pre-commit hook
    // and the stale stamp surfaced only via judge archaeology. Printing the
    // one-line verdict here — and copying it into the dump — makes a stale
    // stamp a visible red line in every round's driver artifacts. Best
    // effort: a missing script or non-repo cwd must not fail the dump.
    try {
      val script = new java.io.File("tools/gate_check.sh")
      if (script.exists) {
        val p = new ProcessBuilder("bash", script.getPath).redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        p.waitFor()
        println(out)
        Files.writeString(Paths.get(s"$outDir/gate_check.txt"), out + "\n")
      }
    } catch { case e: Throwable =>
      System.err.println(s"[gate-check] unavailable: ${e.getMessage}")
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
