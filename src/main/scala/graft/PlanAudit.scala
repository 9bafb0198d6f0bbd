package graft

import java.nio.file.{Files, Paths}

/** Plan hygiene audit: for every registered query, inspect the executed
  * plan and summarize the properties that matter at 100 TB — parquet
  * filter pushdown, read-schema pruning, shuffle (exchange) count,
  * whole-stage-codegen coverage, and cartesian/nested-loop joins.
  * Output: PLANS.md (override with SPARK_GRAFT_PLANS_OUT — used to
  * audit the bench scale as PLANS_sf0.1.md and confirm no AQE shape
  * flips between the correctness and bench scale factors).
  * Run: `sbt "runMain graft.PlanAudit"`.
  */
object PlanAudit {
  /** One query's audit cells (everything after the name column), as the
    * markdown fragment `scans | cols/scan | pushed | exchanges | codegen
    * | nlj`. Executes the frame so the AQE-FINAL plan is inspected —
    * shared by the PLANS.md generator below and by PlanAuditSpec, which
    * asserts these cells against the committed artifact instead of
    * leaving plan regressions to a human diff of PLANS.md.
    */
  def auditCells(df: org.apache.spark.sql.DataFrame): String = {
    // cold-cache audit (round-12): queries sharing a cached subtree
    // (q24/q165 both cache rarePairInter's inverted-index buckets)
    // otherwise audit DIFFERENT plans depending on run order — the
    // second query reads InMemoryTableScan and loses the build stages'
    // exchanges, which masqueraded as a cross-scale AQE flip for two
    // rounds. Clearing before the collect makes every row the
    // deterministic standalone plan (Verify/Bench already clear
    // per-query for the same reason).
    df.sparkSession.catalog.clearCache()
    df.collect() // run THIS frame's execution so its AQE plan is final
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // AQE formatted output = final tree, initial tree, then a details
    // section covering both; count topology in the FINAL tree only,
    // read scan metadata from the details (scan ids are shared)
    val finalTree = {
      val afterFinal = formatted.split("== Final Plan ==")
      val t = if (afterFinal.length > 1) afterFinal(1) else formatted
      t.split("== Initial Plan ==")(0)
    }
    def inTree(name: String): Int =
      ("(?m)" + name + " \\(\\d+\\)").r.findAllIn(finalTree).length
    val scans = "Scan parquet".r.findAllIn(finalTree).length
    val exchanges = inTree("Exchange") + inTree("BroadcastExchange")
    // codegen span ids appear as "*(k)" markers in the simple string
    // of the (now final) executed plan
    val wsc = "\\*\\((\\d+)\\)".r
      .findAllMatchIn(df.queryExecution.executedPlan.toString)
      .map(_.group(1)).toSet.size
    val bnlj = inTree("BroadcastNestedLoopJoin")
    val cartesian = inTree("CartesianProduct")
    // Scan metadata (pruning + pushdown) is read ONLY for scan node ids
    // a FINAL tree references — main plan or subquery. Counting every
    // details block double-counts scans whose initial-plan node kept a
    // different id than the final plan's, and HOW MANY ids AQE shares
    // between the two trees varies with runtime reuse timing — that
    // run-order flap was the q103 2/1/1-vs-2/1/2/1 and the q142 ±1
    // cross-scale allowlist entry. State machine: skip tree lines under
    // an "== Initial Plan ==" heading; a final-plan heading, a details
    // block, or a subquery section header ends the skip.
    val treeScanRe = "Scan parquet\\s*\\((\\d+)\\)".r
    val detailHeadRe = "^\\((\\d+)\\) ".r
    var skip = false
    val finalIds = scala.collection.mutable.LinkedHashSet[String]()
    formatted.linesIterator.foreach { line =>
      if (line.contains("== Initial Plan ==")) skip = true
      else if (line.contains("== Final Plan ==") || line.startsWith("Subquery") ||
        line.startsWith("=====") || detailHeadRe.findFirstIn(line).isDefined)
        skip = false
      if (!skip && !line.startsWith("("))
        treeScanRe.findFirstMatchIn(line).foreach(m => finalIds += m.group(1))
    }
    // details block per id: from "(id) Scan parquet" to the next header
    val blockRe = "(?m)^\\((\\d+)\\) Scan parquet.*$".r
    val starts = blockRe.findAllMatchIn(formatted)
      .map(m => (m.group(1), m.start)).toSeq
    val blocks: Map[String, String] = starts.map { case (id, s) =>
      val end = "(?m)^\\(\\d+\\) ".r.findAllMatchIn(formatted)
        .map(_.start).find(_ > s).getOrElse(formatted.length)
      id -> formatted.substring(s, end)
    }.toMap
    val cells = finalIds.toSeq.flatMap(blocks.get)
    val readCols = cells.map { b =>
      "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(b)
        .map(_.group(1).count(_ == ':')).getOrElse(0)
    }
    val pushed = cells.count(b =>
      "PushedFilters: \\[[^\\]]".r.findFirstIn(b).isDefined)
    f"$scans | ${readCols.mkString("/")} | $pushed | $exchanges | $wsc | ${bnlj + cartesian}"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_PLANS_OUT", "PLANS.md")
    val spark = LocalSession.builder("8").appName("graft-plan-audit").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // dev-loop subset (mirrors Verify/Bench): SPARK_GRAFT_ONLY=qA,qB
    // audits just those and prints the rows — for iterating on a join
    // hint without paying the full catalog; the committed artifacts are
    // always generated with the full catalog (no ONLY set).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        try s"| $name | ${auditCells(fn(spark, sfDir))} |"
        catch {
          case e: Throwable => s"| $name | ERROR ${e.getClass.getSimpleName} | | | | | |"
        }
      }
    if (only.isDefined) {
      rows.foreach(println)
      println("[plan-audit] SPARK_GRAFT_ONLY set — rows printed, " +
        s"$outPath NOT written")
      spark.stop()
      return
    }

    val doc = new StringBuilder
    doc ++= "# PLANS — executed-plan hygiene audit\n\n"
    doc ++= s"Generated by `graft.PlanAudit` at `$sfDir` (AQE-final plans).\n\n"
    doc ++= "Columns: parquet scans; columns read per scan (pruning);\n"
    doc ++= "scans with non-empty PushedFilters; shuffle exchanges;\n"
    doc ++= "WholeStageCodegen spans; nested-loop/cartesian joins\n"
    doc ++= "(broadcast-NLJ is the INTENDED shape for the broadcast-side\n"
    doc ++= "crossJoins in the vector family — small side always broadcast).\n\n"
    doc ++= "Iterative queries (q104/q112/q125 family) run their rounds\n"
    doc ++= "eagerly inside the operator — driver-looped jobs over checkpointed\n"
    doc ++= "or driver-held round state — so the frame audited here is only the\n"
    doc ++= "final read-back; a near-empty row means the work predates the\n"
    doc ++= "audited plan, not that the query does nothing. Each such loop's\n"
    doc ++= "per-round shape is documented at its definition (Graph.scala,\n"
    doc ++= "VectorOps.kmeansFit, TextOps.bpeTrain). The same applies to the\n"
    doc ++= "eagerly-materialized frames: q27 (nearDupPairsBlocked scores the\n"
    doc ++= "block grid once, caches only the qualifying pairs, and drops the\n"
    doc ++= "corpus-sized input caches — the audited frame reads that pair\n"
    doc ++= "cache) and q157 (the optimizer-rule query must EXECUTE inside its\n"
    doc ++= "flag scope and returns a local relation; the rewritten aggregate's\n"
    doc ++= "shape is asserted by ApproxDistinctSpec instead).\n\n"
    doc ++= "| query | scans | cols/scan | pushed | exchanges | codegen | nlj |\n"
    doc ++= "|---|---|---|---|---|---|---|\n"
    rows.foreach(r => doc ++= r + "\n")
    Files.writeString(Paths.get(outPath), doc.toString)
    println(s"[audit] wrote $outPath (${rows.length} queries)")
    spark.stop()
  }
}
