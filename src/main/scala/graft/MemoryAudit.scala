package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** Memory-bound audit (round-8 verdict item 6): the dedup family's
  * Scaladoc claims bounded executor memory — df-capped buckets, fixed
  * packed-block sizes, k×dim model artifacts, per-key window state.
  * The 100× wall measurements prove time scaling; this main measures
  * the MEMORY side at the same fixture and prints one table row per
  * query:
  *
  *  - peakTaskExec: max per-task `peakExecutionMemory` (the unified-
  *    memory high-water mark of any single task — join maps, agg
  *    buffers, sort pages);
  *  - spillMem/spillDisk: total bytes spilled (a bound violated in
  *    memory shows up here first);
  *  - storagePeak: max used storage memory across executors sampled
  *    after the action (caches, broadcasts, checkpoint blocks), via
  *    the public SparkStatusTracker.
  *
  * Run: `sbt "runMain graft.MemoryAudit /tmp/sf10 q62_lsh_neardup ..."`
  * (defaults to the dedup-family heavy set). Results are recorded as a
  * PROGRESS.md table tying each documented bound to its measured peak.
  */
object MemoryAudit {

  private val DefaultSet = Seq(
    "q24_ngram_jaccard", "q25_minhash_lsh", "q26_simhash", "q62_lsh_neardup",
    "q69_bucketed_neardup", "q85_line_dedup", "q104_dedup_clusters",
    "q145_simhash_recall", "q146_semantic_dedup", "q27_embed_neardup")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf10")
    val names = if (args.length > 1) args.tail.toSeq else DefaultSet
    val spark = LocalSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .appName("graft-memory-audit").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val peakExec = new AtomicLong(0)
    val spillMem = new AtomicLong(0)
    val spillDisk = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          peakExec.getAndAccumulate(m.peakExecutionMemory, math.max)
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
        }
      }
    })

    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    println(f"[memaudit] fixture=$sfDir")
    println("[memaudit] query | wall_s | peakTaskExec_MB | spillMem_MB | spillDisk_MB | storagePeak_MB | rows")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"[memaudit] $name: UNKNOWN query name")
        case Some(fn) =>
          peakExec.set(0); spillMem.set(0); spillDisk.set(0)
          val t0 = System.nanoTime()
          val rows = fn(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          // storage sampled immediately after the action: caches,
          // broadcasts and localCheckpoint blocks still registered
          val storage = spark.sparkContext.statusTracker.getExecutorInfos
            .map(_.usedOnHeapStorageMemory()).max
          println(f"[memaudit] $name | $wall%.1f | ${mb(peakExec.get)} | " +
            f"${mb(spillMem.get)} | ${mb(spillDisk.get)} | ${mb(storage)} | $rows")
          spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
