package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Plan-shape guards for the hygiene properties PLANS.md reports: filter
  * pushdown reaching the parquet scan, column pruning, dimension
  * broadcasting, and narrow text pipelines staying single-shuffle. These
  * fail the build if a refactor silently de-optimizes a plan.
  */
class PlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def formatted(df: DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(FormattedMode)
  }

  test("q2: filters are pushed to the parquet scan and only needed columns are read") {
    val f = formatted(graft.operators.Relational.q2FilterProj(spark, sfDir))
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(f).isDefined, "no pushed filters")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(f).get.group(1)
    assert(read.count(_ == ':') <= 6, s"scan reads too many columns: $read")
  }

  test("q3: dimension tables join via broadcast, the fact table is never broadcast") {
    val df = graft.operators.Relational.q3JoinAgg(spark, sfDir)
    df.collect()
    val bhj = collectWithSubqueries(df.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, "expected broadcast hash joins for the dimensions")
    val f = formatted(df)
    assert(!f.contains("CartesianProduct"))
  }

  test("narrow text pipeline (q13) has exactly one exchange — the presentation sort") {
    val df = graft.operators.TextOps.q13CleanText(spark, sfDir)
    df.collect()
    val shuffles = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.length <= 1, s"text pipeline grew ${shuffles.length} shuffles")
  }

  test("vector top-k (q28) broadcasts the query side, not the corpus") {
    val f = formatted(graft.operators.ScaleOps.q28KnnBrute(spark, sfDir))
    assert(f.contains("BroadcastNestedLoopJoin"),
      "expected the broadcast-side crossJoin shape")
  }

  test("stratified sample (q118) keeps per-partition top-k BEFORE the exchange") {
    // the rank-<=-k filter must rewrite to WindowGroupLimit with a
    // Partial pass below the shuffle: each input partition forwards at
    // most k rows per stratum, so the exchange carries <= k*partitions
    // rows per source however large the corpus — the reason an exact-k
    // sample survives 100 TB
    val df = graft.operators.ScaleOps.q118StratifiedSample(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"expected a partial (map-side) WindowGroupLimit in:\n$plan")
    // and the scan reads only the two needed columns
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      "scan must prune to (doc_id, source)")
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // the 100 TB story: a selective filter on the dim side becomes a
    // bloom filter applied INSIDE the fact scan stage, pruning rows
    // before the shuffle. Fixture tables sit under the default 10 MB
    // creation threshold, so scope the thresholds down to demonstrate
    // the rewrite; on a real cluster the defaults fire on real sizes.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // creation side must be UNDER its threshold (default 10 MB — the
      // fixture dim qualifies); application side must be OVER its scan
      // threshold (default 10 GB — lower it so the fixture fact counts)
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // the injected aggregate must not be planned away as a broadcast
      // exchange reuse; keep the join a shuffle join for the demo
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      val orders = Tables(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val line = Tables(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val joined = line.join(orders, col("l_orderkey") === col("o_orderkey"))
        .agg(sum("l_quantity").as("q"))
      joined.collect()
      val f = joined.queryExecution.explainString(FormattedMode)
      assert(f.toLowerCase.contains("bloomfilter"),
        "expected a runtime bloom filter on the fact scan side")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    // one hot key owns most rows; with the skew thresholds scoped down,
    // AQE's OptimizeSkewedJoin must split the hot partition instead of
    // letting one task carry the whole key (the runtime complement of
    // q47's compile-time salting)
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "10KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "10KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // pinned, not inherited (round-16): a skew SPLIT needs >1 shuffle
      // partition to define a median, and the session value at this
      // point is whatever the previous suite left (benign for results,
      // fatal for this shape assertion)
      "spark.sql.shuffle.partitions" -> "4")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      // hot key 0: 50k left rows with a fat payload; other keys tiny
      val left = spark.range(0, 50000)
        .select((col("id") % 1000 * when(col("id") % 50 === 0, 1).otherwise(0)).as("k"),
          concat_ws("", (0 until 20).map(_ => md5(col("id").cast("string"))): _*).as("pad"))
      val right = spark.range(0, 1000).select(col("id").as("k"), col("id").as("v"))
      // aggregate over pad so column pruning can't drop the payload that
      // makes the hot partition heavy
      val joined = left.join(right, "k").agg(sum(length(col("pad"))).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isSkew=true") || plan.contains("skew=true"),
        s"expected a skew-split join in the executed plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q71: the day-partitioned lake read scans ONLY the filtered day's files") {
    // build the lake (the registered query writes then prunes)
    graft.pipeline.Ingest.q71PartitionPrune(spark, sfDir).collect()
    val lake = s"/tmp/graft_lake/${new java.io.File(sfDir).getName}/events_daily"
    // the lake must genuinely be multi-partition for pruning to mean anything
    val dayDirs = new java.io.File(lake).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles().filter(_.isDirectory))
      .flatMap(_.listFiles().filter(_.isDirectory))
    assert(dayDirs.length > 10, s"expected a multi-day lake, got ${dayDirs.length} day dirs")
    // derive the target day exactly as q71PartitionPrune does (min event
    // date) instead of hardcoding the fixture's start — a regenerated
    // fixture must not fail this test for a non-pruning reason
    import org.apache.spark.sql.functions.{col, date_format, min, to_date}
    val Array(y, m, d) = graft.Tables.events(spark, sfDir)
      .agg(date_format(min(to_date(col("ts"))), "yyyy-M-d"))
      .head().getString(0).split("-").map(_.toInt)
    val pruned = graft.pipeline.Ingest.prunedDayRead(spark, lake, y, m, d)
    assert(pruned.count() > 0)
    // NOTE: df.inputFiles lists the relation's full file index BEFORE
    // pruning — the proof lives in the EXECUTED scan: its numFiles metric
    // counts only the partitions surviving the partition filters
    pruned.collect()
    val scan = collectWithSubqueries(pruned.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val scannedFiles = scan.metrics("numFiles").value
    def parquetsUnder(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(parquetsUnder).sum
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    val day1Files = parquetsUnder(
      new java.io.File(s"$lake/year=$y/month=$m/day=$d"))
    val allFiles = parquetsUnder(new java.io.File(lake))
    assert(day1Files > 0 && allFiles > day1Files, "fixture lake degenerate")
    assert(scannedFiles == day1Files,
      s"scan read $scannedFiles files, expected only day-1's $day1Files of $allFiles")
    // and the filter reached the scan as a partition filter, not a post-scan filter
    val f = pruned.queryExecution.explainString(FormattedMode)
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(f).isDefined,
      "no partition filters on the lake scan")
  }

  test("row-group statistics skipping: a sorted layout scans a fraction of an unsorted one") {
    // the fourth data-layout lever next to partition pruning, bucketing,
    // and bloom pruning: parquet row-group min/max stats. A lake sorted
    // on its filter column packs each row group into a tight value range
    // so a selective pushed filter SKIPS whole groups; the same data in
    // random order makes every group span the full range — nothing
    // skips. The executed scan's numOutputRows counts rows surviving
    // parquet-level filtering, so sorted << unsorted IS the skipping.
    import org.apache.spark.sql.functions.{col, rand}
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("rowgroup").toString
    // small page/group sizes so the fixture yields MANY row groups
    def write(df: org.apache.spark.sql.DataFrame, path: String): Unit =
      df.coalesce(1).write
        .option("parquet.block.size", 16 * 1024)
        .option("parquet.page.size", 4 * 1024)
        .mode("overwrite").parquet(path)
    write(docs.sortWithinPartitions("doc_id"), s"$base/sorted")
    write(docs.orderBy(rand(7)).coalesce(1), s"$base/shuffled")
    def scannedRows(path: String): Long = {
      val q = spark.read.parquet(path).filter(col("doc_id") === 42L)
      assert(q.count() == 1)
      q.collect()
      val scan = collectWithSubqueries(q.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      scan.metrics("numOutputRows").value
    }
    val sorted = scannedRows(s"$base/sorted")
    val shuffled = scannedRows(s"$base/shuffled")
    assert(shuffled >= docs.count(),
      s"unsorted layout should scan every group (got $shuffled)")
    assert(sorted * 4 <= shuffled,
      s"sorted layout must skip most row groups: scanned $sorted vs $shuffled")
  }

  test("z-order layout: row-group skipping works on BOTH dimensions, linear sort only on one") {
    // the fifth layout lever (Layout.zValue): a lake linearly sorted on
    // user_id skips nothing for an hour-of-day predicate — every row
    // group spans all 24 hours. Interleaving the bits of both columns
    // keeps min/max tight on each, so the same pushed filter skips
    // groups under either predicate.
    import org.apache.spark.sql.functions.{col, hour}
    // sf0.01: 10k rows → ~30 row groups at 8 KiB blocks (sf0.001's 1k
    // tiny rows fit in ~2 groups — nothing can skip at that granularity)
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.01")
      .select(col("event_id"), col("user_id"), hour(col("ts")).as("hr"))
    val n = ev.count()
    val base = java.nio.file.Files.createTempDirectory("zorder").toString
    def write(df: org.apache.spark.sql.DataFrame, path: String): Unit =
      df.coalesce(1).write
        .option("parquet.block.size", 8 * 1024)
        .option("parquet.page.size", 2 * 1024)
        .mode("overwrite").parquet(path)
    write(ev.sortWithinPartitions("user_id"), s"$base/linear")
    // equalize the bit budget: hr (0..23) stretched into the same 8-bit
    // range as user_id, else its constant high bits waste interleave
    // positions and the curve degenerates to a user_id sort
    write(ev.sortWithinPartitions(
      graft.pipeline.Layout.zValue(col("user_id"), col("hr") * 8, 8)), s"$base/zorder")
    def scannedRows(path: String, pred: org.apache.spark.sql.Column): Long = {
      val q = spark.read.parquet(path).filter(pred)
      q.collect()
      val scan = collectWithSubqueries(q.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      scan.metrics("numOutputRows").value
    }
    // non-leading dimension: linear layout reads everything
    val linearHr = scannedRows(s"$base/linear", col("hr") === 3)
    val zHr = scannedRows(s"$base/zorder", col("hr") === 3)
    assert(linearHr == n, s"linear-on-user layout must scan all $n rows for an hour filter")
    assert(zHr * 2 <= linearHr,
      s"z-order must skip row groups on the second dimension: $zHr vs $linearHr")
    // leading dimension still skips under z-order too
    val uid = ev.agg(org.apache.spark.sql.functions.min("user_id")).head().getLong(0)
    val zUid = scannedRows(s"$base/zorder", col("user_id") === uid)
    assert(zUid * 2 <= n,
      s"z-order must also skip on the first dimension: $zUid vs $n")
  }
}
