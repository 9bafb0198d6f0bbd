package graft.pipeline

import graft.{SparkSpec, Tables}
import graft.sources.Jsonl
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}

class PipelineSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("JSONL permissive read: good rows parsed, malformed quarantined") {
    val dir = tmpDir("jsonl")
    val lines = Seq(
      """{"pmid":"1","title":"a","text":"alpha beta"}""",
      """{"pmid":"2","title":"b","text":"gamma delta"}""",
      """{"pmid":"3","title":"c","text":  TRUNCATED""", // malformed
      """not json at all""")
    Files.write(Paths.get(dir, "part0.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = StructType.fromDDL("pmid STRING, title STRING, text STRING")
    val df = Jsonl.readPermissive(spark, dir, schema).cache()
    assert(Jsonl.good(df).count() == 2)
    val q = Jsonl.quarantine(df).collect()
    assert(q.length == 2)
    assert(q.forall(_.getString(1) == "malformed_json"))
  }

  test("chunkJsonSink: one JSON file per record, content round-trips (q72)") {
    val dir = tmpDir("chunkfiles")
    val records = Ingest.chunkRecords(spark, sfDir).cache()
    val n = records.count()
    Ingest.chunkJsonSink(records, dir) // maxRecordsPerFile = 1
    // the reference shape: one file per chunk record
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".json") && f.length() > 0)
    assert(files.length == n,
      s"expected $n one-record files, found ${files.length}")
    // and the governed knob actually buckets: the SAME writer with a
    // higher cap must produce far fewer files
    val dir2 = tmpDir("chunkbucketed")
    Ingest.chunkJsonSink(records, dir2, maxRecordsPerFile = 1000)
    val files2 = new java.io.File(dir2).listFiles()
      .filter(f => f.getName.endsWith(".json") && f.length() > 0)
    assert(files2.length < files.length / 2,
      s"maxRecordsPerFile=1000 still produced ${files2.length} files for $n records")
    // content survives the write+read round-trip exactly
    val back = spark.read
      .schema("id STRING, title STRING, chunks ARRAY<STRING>").json(dir)
    assert(back.count() == n)
    assert(back.exceptAll(records).isEmpty && records.exceptAll(back).isEmpty)
    records.unpersist()
  }

  test("per-chunk JSON write round-trips (SURVEY §2.2 — bucketed, not one file per chunk)") {
    // the reference writes one JSON file per chunk (clean_chunks/<id>.json);
    // the survey maps that to bucketed JSONL (small-files poison a lake).
    // Pin the mapping: chunk rows -> partitioned JSONL dir -> read-back
    // equality, with ONE file per bucket rather than one per chunk.
    val dir = tmpDir("chunks")
    val chunks = graft.operators.TextOps.q64JsonChunks(spark, sfDir)
      .withColumn("bucket", pmod(col("doc_id"), lit(4)))
    chunks.repartition(col("bucket")).write
      .partitionBy("bucket").mode("overwrite").json(dir)
    val back = spark.read.json(dir)
    assert(back.count() == chunks.count())
    val files = Files.walk(Paths.get(dir)).iterator()
    val parts = scala.jdk.CollectionConverters.IteratorHasAsScala(files).asScala
      .count(p => p.toString.endsWith(".json"))
    assert(parts <= 8, s"expected a handful of bucket files, got $parts")
    // content equality on a sample key
    val a = chunks.filter(col("doc_id") === 1).select("chunk_id", "chunk")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val b = back.filter(col("doc_id") === 1).select("chunk_id", "chunk")
      .collect().map(r => (r.getLong(0).toInt, r.getString(1))).toSet
    assert(a == b)
  }

  test("partitioned write prunes by month and upsert is idempotent") {
    val path = tmpDir("lake") + "/events"
    val ev = Tables.events(spark, sfDir).select("event_id", "ts", "event_type", "value")
    Ingest.writePartitioned(ev, "ts", path)
    val back = spark.read.parquet(path)
    assert(back.count() == ev.count())
    assert(back.select("year", "month").distinct().count() >= 1)

    // re-upserting the same rows must not duplicate anything
    Ingest.upsertByKey(spark, ev, path, "event_id", "ts")
    assert(spark.read.parquet(path).count() == ev.count())

    // new rows (shifted ids) appear exactly once
    val shifted = ev.withColumn("event_id", col("event_id") + 1000000)
    Ingest.upsertByKey(spark, shifted, path, "event_id", "ts")
    assert(spark.read.parquet(path).count() == 2 * ev.count())
  }

  test("next-missing-month low watermark") {
    val path = tmpDir("lake2") + "/events"
    val ev = Tables.events(spark, sfDir)
      .filter(month(col("ts")) === 1)
      .select("event_id", "ts", "event_type", "value")
    Ingest.writePartitioned(ev, "ts", path)
    val next = Ingest.nextMissingMonth(spark, path,
      Seq((2024, 1), (2024, 2), (2024, 3)))
    assert(next.contains((2024, 2)))
    // empty lake → first month of the range
    assert(Ingest.nextMissingMonth(spark, tmpDir("none") + "/x",
      Seq((2024, 1))).contains((2024, 1)))
  }

  test("incremental lake ingest: checkpoint makes re-runs process only new files") {
    import java.nio.file.StandardCopyOption
    val src = tmpDir("inc_src"); val lake = tmpDir("inc_lake"); val ckpt = tmpDir("inc_ckpt")
    val fixture = Paths.get(sfDir, "events.parquet")
    Files.copy(fixture, Paths.get(src, "batch1.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val n = spark.read.parquet(src).count()
    val q1 = Ingest.incrementalLakeIngest(spark, src, lake, ckpt)
    q1.awaitTermination()
    assert(spark.read.parquet(lake).count() == n)
    // a new file lands; the re-run must ingest ONLY it (the checkpoint
    // remembers batch1 is done), yet the lake holds both batches
    Files.copy(fixture, Paths.get(src, "batch2.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q2 = Ingest.incrementalLakeIngest(spark, src, lake, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(lake).count() == 2 * n)
    val secondRunInput = q2.recentProgress.map(_.numInputRows).sum
    assert(secondRunInput == n,
      s"expected the increment ($n rows) to be read, got $secondRunInput")
  }

  test("compaction collapses a small-file dir without losing rows") {
    val dir = tmpDir("compact")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    // fragment: one file per handful of records
    docs.write.mode("overwrite").option("maxRecordsPerFile", 5).parquet(dir)
    val rows = docs.count()
    val (before, after) = Ingest.compactLake(spark, dir, targetFileBytes = 512L * 1024 * 1024)
    assert(before > 5, s"fixture not fragmented enough to test ($before files)")
    assert(after < before / 2, s"compaction barely helped: $before -> $after")
    val back = spark.read.parquet(dir)
    assert(back.count() == rows)
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
  }

  test("observedWrite collects stats during the write itself — no second scan") {
    val dir = tmpDir("observed")
    val docs = Tables.documents(spark, sfDir)
    val (rows, tokens, nulls) = Ingest.observedWrite(docs, "text", dir)
    assert(rows == docs.count())
    val expectedTokens = docs
      .agg(sum(size(split(trim(col("text")), "\\s+")).cast("long"))).head.getLong(0)
    assert(tokens == expectedTokens)
    assert(nulls == 0L)
    // and the write itself is complete and exact
    assert(spark.read.parquet(dir).count() == rows)
  }

  test("TempDirs.scratch returns one cleared directory per name (no per-invocation pile-up)") {
    val a = graft.TempDirs.scratch("spec_scratch")
    Files.write(a.resolve("x.txt"), "hi".getBytes("UTF-8"))
    val b = graft.TempDirs.scratch("spec_scratch")
    assert(a == b, "scratch must be session-stable per name")
    assert(!Files.exists(b.resolve("x.txt")), "scratch must clear previous contents")
  }

  test("compactLake preserves a day-partitioned layout: pruning survives, one file per leaf") {
    val dir = tmpDir("lake_part")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), (col("doc_id") % 3).cast("int").as("day"))
    docs.write.partitionBy("day")
      .option("maxRecordsPerFile", 5).mode("overwrite").parquet(dir)
    val rows = docs.count()
    assert(Ingest.partitionColumnsOf(dir) == Seq("day"))
    val (before, after) = Ingest.compactLake(spark, dir, targetFileBytes = 512L * 1024 * 1024)
    assert(before > 6, s"fixture not fragmented enough to test ($before files)")
    // layout intact: day= directories still exist (NOT flattened to data columns)
    val dayDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
    assert(dayDirs.length == 3, s"partition dirs lost: ${dayDirs.map(_.getName).toSeq}")
    // compacted to the minimum that keeps the layout: one file per leaf
    assert(after == 3, s"expected one file per day partition, got $after")
    // data and partition column survive; pruned read touches one leaf only
    val back = spark.read.parquet(dir)
    assert(back.count() == rows)
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
    val pruned = back.filter(col("day") === 1)
    assert(pruned.count() == docs.filter(col("day") === 1).count())
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("schema evolution: mergeSchema unifies partitions written with different columns") {
    val dir = tmpDir("evolve")
    val docs = Tables.documents(spark, sfDir)
    // month 1 written before the lang column existed; month 2 carries it
    docs.select("doc_id", "text")
      .write.parquet(s"$dir/month=1")
    docs.select("doc_id", "text", "lang")
      .write.parquet(s"$dir/month=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("doc_id", "text", "lang", "month"))
    // old rows surface the new column as null, new rows keep their value
    import org.apache.spark.sql.functions.col
    assert(merged.filter(col("month") === 1 && col("lang").isNotNull).count() == 0)
    assert(merged.filter(col("month") === 2 && col("lang").isNull).count() == 0)
    assert(merged.count() == 2 * docs.count())
  }

  private def cacheEntries: Int = org.apache.spark.sql.graftshim.CacheShim.entries(spark)

  /** `body`'s result and the CacheManager entries it leaves behind. */
  private def entriesAdded[A](body: => A): (A, Int) = {
    val before = cacheEntries
    val out = body
    (out, cacheEntries - before)
  }

  test("continuous flow passes its quality gate and indexes the corpus") {
    val (res, added) = entriesAdded(Continuous.run(spark, sfDir))
    assert(res.indexedPassages > 0)
    assert(res.recallAt10 >= 0.80)
    assert(added == 0, s"Continuous.run left $added cache entries")
  }

  test("continuous flow fails loudly when the gate is unreachable") {
    val (_, added) = entriesAdded(intercept[IllegalStateException] {
      Continuous.run(spark, sfDir, gate = 1.01)
    })
    assert(added == 0, s"a failed Continuous.run left $added cache entries")
  }

  test("write-audit-publish promotes clean data atomically and quarantines violations") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = graft.TempDirs.scratch("wap_test").toString
    val live = s"$root/table"
    def audit(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Relational.contractChecks("t", df,
        "unique_id" -> (count(lit(1)) - countDistinct(col("id"))),
        "nonnull_v" -> sum(when(col("v").isNull, 1L).otherwise(0L)))
    // 1: clean batch publishes
    val clean = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(Ingest.writeAuditPublish(spark, clean, live, audit).isEmpty)
    assert(spark.read.parquet(live).count() == 2)
    // 2: corrupt batch is rejected; live data untouched, staging kept
    val corrupt = Seq((3L, "c"), (3L, null.asInstanceOf[String])).toDF("id", "v")
    val violations = Ingest.writeAuditPublish(spark, corrupt, live, audit)
    assert(violations.map(v => v._2 -> v._3).toMap ==
      Map("unique_id" -> 1L, "nonnull_v" -> 1L))
    assert(spark.read.parquet(live).orderBy("id").collect().map(_.getLong(0)).toSeq
      == Seq(1L, 2L), "a failed audit must leave the live table untouched")
    assert(new java.io.File(s"$live.staging").exists,
      "failed staging must be kept for inspection")
    // 3: a fixed batch publishes over the old live atomically
    val fixed = Seq((3L, "c"), (4L, "d"), (5L, "e")).toDF("id", "v")
    assert(Ingest.writeAuditPublish(spark, fixed, live, audit).isEmpty)
    assert(spark.read.parquet(live).count() == 3)
  }
}
