package graft

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark main: runs every registered query at the driver-set scale
  * factor on local[32] and prints ONE JSON line with per-query seconds.
  *
  * TIMEOUT-PROOF BY CONSTRUCTION (round-12 verdict item 1): round 12's
  * official artifact was rc=124 with `parsed: null` because this main
  * wrote `bench.json` and printed the compact line only AFTER ~800
  * query executions — a driver-side `timeout` kill lost every byte of
  * data the run had already produced. Three defenses now make a killed
  * bench still yield a parseable artifact:
  *
  *  1. `bench.json` is flushed after EVERY query via write-temp +
  *     ATOMIC_MOVE, so the on-disk artifact is always complete JSON for
  *     the queries finished so far (`"partial": true` until the run
  *     ends normally).
  *  2. A JVM shutdown hook prints the compact stdout line with whatever
  *     completed (plus `"partial":true`) — `timeout`'s SIGTERM runs
  *     hooks, so even the stdout-tail capture gets data from a killed
  *     run.
  *  3. A soft wall-clock budget (`SPARK_GRAFT_BENCH_BUDGET_S`, default
  *     900 s) degrades gracefully instead of dying mid-catalog.
  *
  * BREADTH BEFORE DEPTH (round-13 verdict item 1): round 13's official
  * artifact was parseable but covered only 26 of 203 queries — the old
  * policy spent warmup + 3 reps per query IN CATALOG ORDER, so on a
  * 4.4×-slow box the budget died in the q1xx range and 87% of the
  * catalog got no official number. The timed phase is now pass-
  * structured: pass 1 runs EVERY query once (one rep each, full
  * catalog coverage), passes 2..reps add one rep per query with
  * whatever budget remains (each query's actual rep count is visible
  * as its `runs` array length). A budget only large enough for one
  * pass now yields 100% coverage at 1 rep instead of 13% at 3.
  *
  * INLINE BLIP ADJUDICATION (same verdict item): a row whose running
  * median lands ≥4× over the box-scaled band — the q117=83.6 s class
  * round 13's official artifact preserved with no rerun row — is
  * re-measured ISOLATED immediately, while budget remains, not only in
  * a post-catalog sweep the budget may never reach. Marginal breaches
  * (the BandSpec 1.35× tier) wait for that post-catalog backstop,
  * which runs with the end-of-run recalibrated box factor: ordinary
  * in-run pressure puts ~half the catalog 1.4-2× over a start-
  * calibrated band, and adjudicating all of it inline ate the breadth
  * budget this reorder exists to protect. Per round-13 ADVICE, the
  * recorded rerun value is the MEDIAN of the isolated re-measurements,
  * not the min — min-of-min gave a genuine ~1.4× regression three
  * chances to slip under the band by lucky minimum.
  *
  * BOX CALIBRATION (round-12 verdict item 2): the committed band
  * (`BENCH_BAND.json`) holds quiet-box medians, but rounds get judged
  * on boxes up to ~4× slower, where every row "breaches" and the band
  * degenerates into archaeology. A fixed CPU-bound calibration suite
  * (the band file's `calibration_queries`) runs 3 reps each at bench
  * START and again at the END (this box drifts 1.7×→4× within one
  * run — a start-only sample understates the slowdown); each query
  * keeps its per-query MAX, the medians land in `bench.json` under
  * `"calibration"`, and the median ratio vs the band's committed
  * medians is emitted as `"box_factor"` (floored at 1.0 — a fast box
  * must NEVER loosen the band). BenchBandSpec scales the band by the
  * same ratio, capped at 5×. A genuine single-query regression moves
  * one ratio, not the median of five, and stays slow isolated — it
  * still fails.
  *
  * ENGINE-REGRESSION TRIANGULATION (round-13 ADVICE, medium): the
  * calibration suite is built from catalog queries, so a uniform
  * engine-wide regression (a codegen/config change slowing EVERY query
  * ~equally) inflates box_factor and loosens the whole band — the gate
  * was structurally blind to global slowdowns. Two extra yardsticks
  * run at bench start and end: `cpuBaseline()` — a pure-JVM xorshift
  * loop, moves only with CPU steal — lands as `"cpu_seconds"` (MAX of
  * phases: worst observed steal); `syntheticProbe()` — an I/O-free
  * spark.range pipeline, moves with steal AND engine regressions but
  * not I/O weather — lands as `"synthetic_seconds"` (MIN of phases: a
  * regression is a code property present in every sample, noise is
  * transient).
  * Round-14 measurement showed why BOTH are needed: an end-of-run
  * page-cache/disk degradation took the catalog factor to 3.78× while
  * the CPU loop sat at 1.09×, so catalog-vs-cpu alone cannot tell I/O
  * weather from an engine regression. BenchBandSpec compares the
  * factors (committed baselines `cpu_baseline_s`/`synthetic_baseline_s`
  * in the band file): synthetic≫cpu fails as an engine regression;
  * catalog≫synthetic is honest I/O weather and scales the band as
  * before.
  */
object Bench {

  /** Median with even-count averaging (sorted(n/2) alone would silently
    * pick the upper-middle).
    */
  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** True when `t`, or one of its causes, is what cancelling a job group
    * raises in the thread that ran the job: a `SparkThrowable` with
    * condition `SPARK_JOB_CANCELLED`, or an `InterruptedException`. A rep
    * cut off at its cap is forgiven only for such an exception; any other
    * failure stays a failure, even one that lands after the cap expired.
    */
  private[graft] def cancelledByCap(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists {
      case st: org.apache.spark.SparkThrowable => st.getCondition == "SPARK_JOB_CANCELLED"
      case _: InterruptedException => true
      case _ => false
    }

  /** One engine-independent CPU sample: `threads` JVM threads each run a
    * fixed xorshift64*-style loop to a blackhole; returns wall seconds.
    * Multithreaded so core oversubscription / steal shows up, not just
    * single-core speed. Deterministic work — the only variable is the box.
    */
  def cpuBaselineOnce(threads: Int = 8, itersPerThread: Long = 150000000L): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { t =>
      val th = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var acc = 0L
        var i = 0L
        while (i < itersPerThread) {
          x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
          acc += x * 0x2545F4914F6CDD1DL
          i += 1
        }
        sink.addAndGet(acc)
      })
      th.setDaemon(true); th.start(); th
    }
    ts.foreach(_.join())
    require(sink.get != 0L, "cpu baseline blackhole") // keep the loop alive
    (System.nanoTime() - t0) / 1e9
  }

  /** Min of 3 samples: scheduling noise only ADDS time to a fixed
    * workload, so the min is the cleanest estimate of the box's current
    * speed. Phases keep the MAX of these mins (same drift rule as the
    * query calibration).
    */
  def cpuBaseline(): Double = (1 to 3).map(_ => cpuBaselineOnce()).min

  /** 32-thread raw-JVM twin of the synthetic probe's dominant kernel
    * (round-15 BandSpec repair): the same digest count the probe pays
    * (8M rows × 3 chained sha2-256 over short strings, re-hexed between
    * chains), on plain JVM threads at the probe's own parallelism
    * width — no Spark, no I/O. Why it exists: the 8-thread xorshift
    * loop cannot see differences in a box's WIDE-parallel throughput
    * (32-way crypto+memory bandwidth), so on a box class whose 32-wide
    * throughput differs from the baseline box the syn/cpu ratio moved
    * ~6× with zero engine change (measured round 15: committed syn
    * baseline 0.298 s was physically impossible on the round-15 box —
    * the raw 32-thread kernel alone took 0.9 s). This yardstick moves
    * with exactly the hardware the probe's kernel uses, so
    * synthetic-vs-cpuWide isolates the ENGINE (planner, codegen,
    * shuffle machinery) from the box. Its committed baseline is
    * measured in the SAME run as the synthetic baseline, so the
    * ratio-of-ratios is box-portable to first order.
    */
  def cpuWideOnce(threads: Int = 32, rows: Long = 8000000L): Double = {
    val per = rows / threads
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val hexDigits = "0123456789abcdef"
        var acc = 0L
        var i = 0L
        while (i < per) {
          var b = String.valueOf(t * per + i).getBytes("UTF-8")
          var j = 0
          while (j < 3) {
            b = md.digest(b)
            val hex = new Array[Byte](b.length * 2)
            var k = 0
            while (k < b.length) {
              val v = b(k) & 0xff
              hex(2 * k) = hexDigits.charAt(v >>> 4).toByte
              hex(2 * k + 1) = hexDigits.charAt(v & 0xf).toByte
              k += 1
            }
            b = hex
            j += 1
          }
          acc += b(0)
          i += 1
        }
        sink.addAndGet(acc)
      })
      th.setDaemon(true); th.start(); th
    }
    ts.foreach(_.join())
    require(sink.get != 0L, "cpu-wide blackhole")
    (System.nanoTime() - t0) / 1e9
  }

  /** Min of 3 (like the synthetic probe's estimator — both sides of the
    * engine-regression ratio must bias the same direction).
    */
  def cpuWide(): Double = (1 to 3).map(_ => cpuWideOnce()).min

  /** Engine-sensitive, I/O-FREE probe: a fixed `spark.range` pipeline
    * (projection, two hash aggregations, a shuffle join, a sort) over
    * generated data — no parquet, no filesystem. Round-14 measurement
    * showed the catalog-query calibration conflates three causes it
    * cannot separate: CPU steal, I/O weather (page-cache eviction on a
    * shared disk inflated the end-of-run catalog factor to 3.78× while
    * the pure-CPU loop sat at 1.09×), and genuine engine regressions.
    * This probe removes the I/O axis: it moves with CPU steal (like
    * `cpuBaseline`) and with engine-wide regressions (unlike
    * `cpuBaseline`), so BenchBandSpec can compare the two factors and
    * flag an engine regression without false-failing on I/O weather.
    */
  def syntheticProbeOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    // per-row work must DOMINATE scheduler/shuffle overhead (measured:
    // 4M and 16M light rows both took ~0.47 s — overhead-bound, so a
    // compute-path regression would barely move it): chained sha2 over
    // a per-row-unique string is ~90% of the wall here
    val n = spark.range(0L, 8000000L, 1L, 32)
      .selectExpr("id % 9973 AS k", "CAST(id % 31 AS DOUBLE) AS v",
        "sha2(sha2(sha2(CAST(id AS STRING), 256), 256), 256) AS s")
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("v").as("sv"),
        org.apache.spark.sql.functions.max("s").as("ms"))
      .selectExpr("k % 97 AS k2", "sv", "length(ms) AS lm")
      .groupBy("k2")
      .agg(org.apache.spark.sql.functions.sum("sv").as("sv2"),
        org.apache.spark.sql.functions.sum("lm").as("lm2"))
      .orderBy("k2")
      .count()
    require(n == 97L, s"synthetic probe returned $n groups, expected 97")
    (System.nanoTime() - t0) / 1e9
  }

  /** Median of 3 (not min): unlike the allocation-free CPU loop, the
    * probe schedules real tasks, so its noise is two-sided-ish; the
    * median matches how the catalog queries themselves are measured.
    */
  def syntheticProbe(spark: SparkSession): Double = {
    val xs = (1 to 3).map(_ => syntheticProbeOnce(spark))
    medianOf(xs)
  }

  private def fmt(d: Double): String = f"$d%.3f"

  private def fmtShort(d: Double): String = {
    val s = f"$d%.2f".reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
    if (s.isEmpty) "0" else s
  }

  // minimal extractor for the committed band file — no library dep
  private def bandMedians(): Map[String, Double] = {
    val f = new java.io.File("BENCH_BAND.json")
    if (!f.exists) return Map.empty
    val json = scala.io.Source.fromFile(f, "UTF-8").mkString
    "\"medians\"\\s*:\\s*\\{([^}]*)\\}".r.findFirstMatchIn(json).map(_.group(1))
      .map { body =>
        "\"([^\"]+)\"\\s*:\\s*([0-9.eE+-]+)".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }.getOrElse(Map.empty)
  }

  private def bandNumField(key: String): Option[Double] = {
    val f = new java.io.File("BENCH_BAND.json")
    if (!f.exists) return None
    val json = scala.io.Source.fromFile(f, "UTF-8").mkString
    ("\"" + key + "\"\\s*:\\s*([0-9.eE+-]+)").r
      .findFirstMatchIn(json).map(_.group(1).toDouble)
  }

  private def bandCalibrationQueries(): Seq[String] = {
    val f = new java.io.File("BENCH_BAND.json")
    if (!f.exists) return DefaultCalibration
    val json = scala.io.Source.fromFile(f, "UTF-8").mkString
    "\"calibration_queries\"\\s*:\\s*\\[([^\\]]*)\\]".r
      .findFirstMatchIn(json).map(_.group(1))
      .map("\"([^\"]+)\"".r.findAllMatchIn(_).map(_.group(1)).toSeq)
      .filter(_.nonEmpty)
      .getOrElse(DefaultCalibration)
  }

  /** CPU-bound, low-variance rows (BPE loops, perplexity, shingle spans,
    * kmeans) — chosen so the ratio measures the BOX, not I/O weather.
    */
  val DefaultCalibration: Seq[String] = Seq(
    "q103_lm_perplexity", "q112_bpe_train", "q116_dup_spans",
    "q120_bpe_encode", "q121_kmeans")

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val budget = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "900").toDouble
    require(budget > 0, s"SPARK_GRAFT_BENCH_BUDGET_S must be positive, got $budget")
    val spark = LocalSession.builder(cpus)
      .appName("graft-bench")
      // the JVM-wide generated-class cache defaults to 100 entries; a
      // 204-query catalog churns it completely, so the sf0.001 warmup's
      // compiled classes are evicted long before the timed pass reaches
      // that query and rep 1 pays Janino again (measured: ~0.5-2 s per
      // query — enough to 2x every sub-second band row). 5000 entries
      // keeps every warmed class live for the whole run.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // dev-loop subset: SPARK_GRAFT_ONLY=q125_pagerank,... times just
    // those (unset, the bench is always the full catalog)
    val selected = SparkEntry.selected()
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")

    // ---- run state, shared with the artifact writer and shutdown hook.
    // ALL mutations and cross-map reads go through Bench.synchronized
    // (round-13 ADVICE: the hook iterating calibration/rerun while the
    // main thread mutates them could throw ConcurrentModificationException
    // inside writeArtifact and silently abandon the final write).
    val runsBy = mutable.LinkedHashMap[String, Vector[(Double, Boolean)]]()
    val skipped = mutable.ArrayBuffer[String]()
    val capped = mutable.LinkedHashSet[String]()
    val calibration = mutable.LinkedHashMap[String, Double]()
    // name -> isolated re-measurement medians (each entry = median of
    // `reps` isolated runs); the artifact's "rerun" value is the MEDIAN
    // of these, the raw list ships under "rerun_runs" as the ledger
    val rerunRuns = mutable.LinkedHashMap[String, Vector[Double]]()
    @volatile var boxFactor: Option[Double] = None
    @volatile var cpuSeconds: Option[Double] = None
    @volatile var cpuWideSeconds: Option[Double] = None
    @volatile var synthSeconds: Option[Double] = None
    @volatile var finishedNormally = false
    val sfShort = sfDir.stripSuffix("/").split("/").last

    type QFn = (SparkSession, String) => org.apache.spark.sql.DataFrame

    // PER-QUERY WALL CAP (round-14 verdict item 2): a single runaway row
    // must record `capped` instead of eating the breadth budget (r13's
    // q117 = 83.6 s and r14's q165 = 81.8 s both killed their pass). The
    // query runs on a daemon thread under its own job group; when the
    // cap expires the group is cancelled, the wall-at-cancel is recorded
    // as that rep's value, and the name lands in the artifact's
    // "capped" list — visibly an underestimate marker, not a failure
    // (failed = exceptions, capped = cut off; exit code keys on failed).
    def runOnce(name: String, fn: QFn,
                capSeconds: Double = 180.0): (Double, Boolean) = {
      val s0 = System.nanoTime()
      @volatile var failure: Throwable = null
      val group = s"bench-$name-$s0"
      val done = new java.util.concurrent.CountDownLatch(1)
      val th = new Thread(() => {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        try fn(spark, sfDir).count()
        catch {
          case e: Throwable =>
            failure = e
            System.err.println(s"[bench] FAILED $name: ${e.getClass.getName}: ${e.getMessage}")
        } finally { spark.sparkContext.clearJobGroup(); done.countDown() }
      }, s"bench-run-$name")
      th.setDaemon(true); th.start()
      val finished = done.await(math.max(1000L, (capSeconds * 1000).toLong),
        java.util.concurrent.TimeUnit.MILLISECONDS)
      if (!finished) {
        // the recorded value is the wall AT CAP EXPIRY (round-15 ADVICE):
        // the former post-cancel reading silently added up to 60 s of
        // nondeterministic cancel-wait latency to the capped value
        val secAtCap = (System.nanoTime() - s0) / 1e9
        System.err.println(f"[bench] CAPPED $name at $capSeconds%.0f s — cancelling its jobs")
        Bench.synchronized { capped += name }
        spark.sparkContext.cancelJobGroup(group)
        if (!done.await(60, java.util.concurrent.TimeUnit.SECONDS)) {
          th.interrupt()
          // Spark tasks often ignore interrupt; a still-alive thread would
          // contaminate the NEXT rep's timing — drain briefly, flag loudly
          if (!done.await(60, java.util.concurrent.TimeUnit.SECONDS))
            System.err.println(s"[bench] WARNING: $name still running after " +
              "cancel + interrupt — subsequent reps may be contaminated")
        }
        spark.catalog.clearCache()
        // a genuine failure that raced the cap stays a failure (round-15
        // ADVICE): only the exception the cancel itself raised is forgiven
        return (secAtCap, failure == null || cancelledByCap(failure))
      }
      val sec = (System.nanoTime() - s0) / 1e9
      // clear operator-internal caches AFTER timing: a query pays for
      // its own caching, but 200 queries' dead cache entries must not
      // GC-thrash the queries that follow (measured: ~1.5x slowdown)
      spark.catalog.clearCache()
      (sec, failure == null)
    }

    // STEADY-STATE median: when a query has 2+ reps, rep 1 is dropped —
    // it can still carry the sf0.1 plan's codegen compile (the sf0.001
    // warmup can't always prime it: AQE picks different physical plans
    // per scale, and cache eviction), and at reps=2 a cold rep 1 would
    // contaminate the average. A single-rep query keeps its (cold-
    // biased, honest) rep 1 — visible as a length-1 runs array; the
    // raw array always ships every rep.
    def medianFor(runs: Vector[(Double, Boolean)]): Double =
      if (runs.size >= 2) medianOf(runs.tail.map(_._1)) else runs.head._1
    def rerunMedian(name: String): Option[Double] =
      Bench.synchronized { rerunRuns.get(name).map(medianOf) }

    // ---- full artifact (raw per-rep runs included), atomically replaced
    // after every query so a killed run still leaves complete JSON
    def writeArtifact(partial: Boolean): Unit = Bench.synchronized {
      val snap = runsBy.toVector // (name, runs) in first-completion order
      val qsFull = snap.map { case (k, r) => "\"" + k + "\":" + fmt(medianFor(r)) }
        .mkString("{", ",", "}")
      val raw = snap.map { case (k, r) =>
        "\"" + k + "\":[" + r.map(x => fmt(x._1)).mkString(",") + "]"
      }.mkString("{", ",", "}")
      val failedNames = snap.collect { case (k, r) if r.exists(!_._2) => k }
      val failed = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
      val skip = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
      val cap = capped.map("\"" + _ + "\"").mkString("[", ",", "]")
      val cal = calibration.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val rr = rerunRuns.map { case (k, v) => "\"" + k + "\":" + fmt(medianOf(v)) }
        .mkString("{", ",", "}")
      val rrRaw = rerunRuns.map { case (k, v) =>
        "\"" + k + "\":[" + v.map(fmt).mkString(",") + "]"
      }.mkString("{", ",", "}")
      val bf = boxFactor.map(v => s""","box_factor":${fmt(v)}""").getOrElse("")
      val cpu = cpuSeconds.map(v => s""","cpu_seconds":${fmt(v)}""").getOrElse("") +
        cpuWideSeconds.map(v => s""","cpu_wide_seconds":${fmt(v)}""").getOrElse("") +
        synthSeconds.map(v => s""","synthetic_seconds":${fmt(v)}""").getOrElse("")
      val total = snap.map { case (_, r) => medianFor(r) }.sum
      val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""queries":$qsFull,"runs":$raw,"reps":$reps,"failed":$failed,""" +
        s""""n_failed":${failedNames.size},"skipped":$skip,"capped":$cap,""" +
        s""""partial":$partial,"calibration":$cal,"rerun":$rr,""" +
        s""""rerun_runs":$rrRaw$bf$cpu,""" +
        s""""elapsed_s":${fmt(elapsed)},"sf":"$sfDir"}"""
      // synchronized + unique tmp: the shutdown hook and the main loop
      // can both be in here during a kill — two writers sharing one tmp
      // path made the hook's ATOMIC_MOVE throw NoSuchFileException and
      // its catch-all then swallowed the compact-line prints too
      val dir = java.nio.file.Paths.get(".").toAbsolutePath
      val tmp = dir.resolve(s"bench.json.tmp.${Thread.currentThread().getId}")
      java.nio.file.Files.write(tmp, full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, dir.resolve("bench.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

    // ---- compact stdout line under the driver's tail budget.
    // FULL COVERAGE FIRST (round-15 verdict item 2): the driver's tail
    // capture is EXACTLY 2000 bytes (measured: every BENCH_r01..r15
    // artifact stores a tail of length 2000, and the r15 stderr line is
    // truncated at its head — the JSON line is always the LAST output in
    // it), while a 204-row map at 1-decimal precision is ~2030 bytes
    // under the old 1900 cap — so the 17 lightest rows were silently
    // omitted every round and the driver's round-over-round diff
    // fabricated `dropped_from_bench` rows from the omission. The ladder
    // now degrades PRECISION and OPTIONAL ENVELOPE fields before it ever
    // drops a row: 2-decimal → coarse → 1-decimal → integer-above-10s →
    // drop "reps"/empty-"failed" → drop "box_factor" (all still in
    // bench.json) — row omission survives only as the loudly-counted
    // last resort (n_omitted) for inputs no encoding can fit, e.g. a
    // non-empty failed list of long query names. Comfortable tiers keep
    // the old 1900 cap; full-coverage rescue tiers run to 1996 (line +
    // newline = 1997 ≤ the 2000-byte window; the JSON line is the final
    // print of the run, so nothing competes for the remaining bytes).
    def compactLine(partial: Boolean): String = {
      val (snap, nSkipped, nCapped) = Bench.synchronized {
        (runsBy.toVector.map { case (k, r) => (k, medianFor(r), r) },
          skipped.size, capped.size)
      }
      val shortName: Map[String, String] = {
        val pref = snap.map { case (k, _, _) =>
          k -> k.split("_")(0).stripPrefix("q")
        }.toMap
        val collide = pref.values.groupBy(identity).collect {
          case (p, occ) if occ.size > 1 => p
        }.toSet
        pref.map { case (k, p) => k -> (if (collide(p)) k else p) }
      }
      val failedNames = snap.collect { case (k, _, runs) if runs.exists(!_._2) => k }
      val failed = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
      val total = snap.map(_._2).sum
      def fmtCoarse(d: Double): String =
        if (d >= 1.0) fmtShort(math.rint(d * 10) / 10) else fmtShort(d)
      def fmt1(d: Double): String = fmtShort(math.rint(d * 10) / 10)
      // tightest honest per-row encoding: 1 decimal below 10 s, integer
      // seconds above (a ≥10 s row's signal is not in its tenths)
      def fmt1i(d: Double): String =
        if (d >= 9.95) math.round(d).toString else fmt1(d)
      val part = (if (partial) s""","partial":true,"n_skipped":$nSkipped""" else "") +
        (if (nCapped > 0) s""","n_capped":$nCapped""" else "")
      val bf = boxFactor.map(v => s""","box_factor":${fmtShort(v)}""").getOrElse("")
      // withExtras: "reps" and an EMPTY "failed" are droppable decoration
      // (full values live in bench.json); a NON-empty failed list is
      // signal and survives every tier. withBf: box_factor is the last
      // optional field to go.
      def line(fv: Double => String, include: Set[String],
               withExtras: Boolean, withBf: Boolean): String = {
        val qs = snap.collect { case (k, m, _) if include(k) =>
          "\"" + shortName(k) + "\":" + fv(m)
        }.mkString("{", ",", "}")
        val omitted = snap.size - include.size
        val om = if (omitted > 0) s""","n_omitted":$omitted""" else ""
        val extras =
          if (withExtras) s""","reps":$reps,"failed":$failed"""
          else if (failedNames.nonEmpty) s""","failed":$failed"""
          else ""
        s"""{"metric":"total","value":${fv(total)},"unit":"sec","queries":$qs$extras$om$part${if (withBf) bf else ""},"sf":"$sfShort"}"""
      }
      val capComfort = 1900
      val capWindow = 1996 // measured driver tail = 2000 bytes; +\n = 1997
      val allNames = snap.map(_._1).toSet
      val ladder: Seq[(Double => String, Boolean, Boolean, Int)] = Seq(
        (fmtShort _, true, true, capComfort),
        (fmtCoarse _, true, true, capComfort),
        (fmt1 _, true, true, capComfort),
        (fmt1i _, true, true, capWindow),
        (fmt1i _, false, true, capWindow),
        (fmt1i _, false, false, capWindow))
      ladder.iterator
        .map { case (fv, ex, wbf, cap) => (line(fv, allNames, ex, wbf), cap) }
        .collectFirst { case (l, cap) if l.length <= cap => l }
        .getOrElse {
          // last resort — no encoding fits (e.g. many long failed names):
          // drop the LIGHTEST rows, loudly counted; every median (full
          // precision, raw reps) is in bench.json regardless.
          val byWeight = snap.sortBy { case (_, m, _) => -m }.map(_._1)
          (snap.size to 1 by -1).iterator
            .map(k => line(fmt1i, byWeight.take(k).toSet,
              withExtras = false, withBf = false))
            .find(_.length <= capWindow)
            .getOrElse(line(fmt1i, Set(byWeight.head),
              withExtras = false, withBf = false))
        }
    }

    // a `timeout`-killed JVM still runs shutdown hooks: print the
    // compact line for whatever completed so the driver's stdout-tail
    // parse gets data even when the process dies mid-catalog. The JVM
    // does NOT stop the main thread while hooks run (and Spark's own
    // shutdown hook tears executors down concurrently), so the hook
    // first asks the bench loop to stop, gives the in-flight query a
    // bounded window to finish, and only then emits — otherwise the
    // printed line races the loop and undercounts what the artifact
    // later holds (observed: hook printed 0 queries, artifact had 3).
    @volatile var stopRequested = false
    val loopDone = new java.util.concurrent.CountDownLatch(1)
    // RAW file descriptors, not System.out/err: sbt swaps both streams
    // for its own buffered log machinery, which stops draining once a
    // TERM lands — println output from a shutdown hook is silently
    // dropped (observed repeatedly). Spark's own "killed SparkContext"
    // log4j lines DO survive a kill for exactly this reason: the console
    // appender holds the real fd. Writing straight to
    // FileDescriptor.out/err reaches the driver's combined tail capture
    // no matter what sbt's streams are doing.
    def rawPrint(line: String): Unit =
      Seq(java.io.FileDescriptor.out, java.io.FileDescriptor.err).foreach { fd =>
        try {
          val ps = new java.io.PrintStream(new java.io.FileOutputStream(fd), true)
          ps.println(line); ps.flush()
        } catch { case _: Throwable => () }
      }
    // The kill window is NOT ours to schedule in: once the TERM lands,
    // sbt/Spark shutdown machinery can halt the JVM within milliseconds
    // of the run task returning (observed: a hook parked in a 20 s
    // quiesce await was halted before waking). So the hook emits a
    // best-effort snapshot line IMMEDIATELY, then waits briefly for the
    // in-flight query to quiesce and emits the final state; whichever
    // lines make it out, the LAST parseable one in the tail is the most
    // complete, and the incrementally-flushed bench.json on disk is
    // always whole regardless.
    val hook = new Thread(() => {
      if (!finishedNormally) {
        try {
          stopRequested = true
          rawPrint(compactLine(partial = true))
          if (loopDone.await(10, java.util.concurrent.TimeUnit.SECONDS)) {
            // re-check AFTER the await (round-13 ADVICE): a SIGTERM
            // landing after the catalog loop let the hook's partial=true
            // artifact overwrite the main thread's FINAL artifact —
            // loopDone counts down well before finishedNormally flips
            if (!finishedNormally) {
              try writeArtifact(partial = true) catch { case _: Throwable => () }
              if (!finishedNormally) rawPrint(compactLine(partial = true))
            }
          }
        } catch { case _: Throwable => () }
      }
    }, "bench-partial-artifact")
    Runtime.getRuntime.addShutdownHook(hook)
    writeArtifact(partial = true) // artifact exists from second zero

    // ---- engine-independent CPU samples #1 (pure JVM, pre-Spark-warmup
    // so they cost their ~5 s before any query state exists): the
    // 8-thread steal detector and the 32-wide kernel twin of the
    // synthetic probe (see cpuWideOnce — the BandSpec engine check
    // divides the synthetic factor by the wide factor so box-class
    // differences in wide-parallel throughput don't read as regressions)
    cpuSeconds = Some(cpuBaseline())
    cpuWideSeconds = Some(cpuWide())

    // committed band medians load before the warmup: pass 1 of the
    // timed catalog is ordered by them (cheapest-first), and the
    // per-query wall caps derive from them
    val band = bandMedians()

    // ---- warmup (JVM + Janino codegen): run each query once on the
    // smallest fixture so measured times reflect steady-state execution
    // (generated-class compilation dominates first runs — 19 s vs 2.7 s
    // observed on the shingle-join query). Calibration queries warm
    // FIRST so the calibration phase below always measures steady
    // state; past 22% of the budget the rest of the warmup is dropped.
    // 22%, down from 35% (round-13 verdict item 1): on a 4.4×-slow box
    // with the 900 s default, 35% of warmup + calibration + one breadth
    // pass didn't fit the budget — and a query that runs COLD in pass 1
    // self-repairs: a cold-inflated number that breaches the band gets
    // an immediate warm isolated re-measure (the inline adjudication
    // below), so coverage is the only thing the dropped warmup costs.
    val calNames = bandCalibrationQueries()
    val warmupOrder = selected.sortBy { case (n, _) => (!calNames.contains(n), n) }
    var warmupsDropped = 0
    warmupOrder.foreach { case (name, fn) =>
      if (!stopRequested && (elapsed <= budget * 0.22 || calNames.contains(name))) {
        try fn(spark, "/root/testdata/sf0.001").count()
        catch { case _: Throwable => () }
        spark.catalog.clearCache()
      } else warmupsDropped += 1
    }
    if (warmupsDropped > 0)
      System.err.println(s"[bench] budget pressure: dropped warmup for $warmupsDropped queries")

    // ---- synthetic engine probe #1 (I/O-free spark.range pipeline):
    // one untimed run compiles its codegen, then the timed median
    if (!stopRequested) {
      try {
        syntheticProbeOnce(spark)
        synthSeconds = Some(syntheticProbe(spark))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] synthetic probe failed: ${e.getMessage}")
      }
    }

    // ---- calibration phase: fixed suite, 3 reps at the bench SF
    val calSel = selected.filter { case (n, _) => calNames.contains(n) }
    calSel.foreach { case (name, fn) =>
      if (!stopRequested) {
        val runs = (1 to 3).map(_ => runOnce(name, fn))
        if (runs.forall(_._2))
          Bench.synchronized { calibration(name) = medianOf(runs.map(_._1)) }
      }
    }
    def computeBoxFactor(): Option[Double] = {
      val ratios = Bench.synchronized {
        calibration.toSeq.collect {
          case (q, sec) if band.contains(q) && band(q) > 0 => sec / band(q)
        }
      }
      // floor 1.0: a fast box must never LOOSEN the committed band.
      // sf0.1 only: the band's medians are sf0.1 numbers, so a ratio
      // computed at any other scale would be meaningless.
      if (ratios.nonEmpty && sfShort == "sf0.1") Some(math.max(1.0, medianOf(ratios)))
      else None
    }
    boxFactor = computeBoxFactor()
    boxFactor.foreach { bf0 =>
      System.err.println(f"[bench] calibration box_factor=$bf0%.2f " +
        f"(elapsed $elapsed%.0f s of $budget%.0f s budget)")
    }
    writeArtifact(partial = true)

    // ---- breach predicates. Two tiers, learned the expensive way: the
    // first full run with the BandSpec-exact predicate (factor 1.35)
    // adjudicated 74 of 156 pass-1 rows — ordinary in-run pressure puts
    // ~half the catalog 1.4-2× over a start-calibrated band, and 74 × 3
    // isolated reps ate the breadth budget the reorder exists to protect.
    //  - INLINE (mid-pass) fires only on the egregious blip class the
    //    round-13 verdict named (q117 official = 12× band): ≥4× the
    //    box-scaled median — rows whose number is useless without an
    //    isolated re-measure and can't wait for a backstop the budget
    //    may never reach.
    //  - The BACKSTOP after end-of-run recalibration (box factor at the
    //    slowest observed state) uses the BandSpec-exact predicate, so
    //    everything BandSpec would flag gets an isolated number if any
    //    budget remains.
    val bandFactor = bandNumField("factor").getOrElse(1.35)
    val bandSlack = bandNumField("abs_slack_sec").getOrElse(0.3)
    def bestKnown(name: String, med: Double): Double =
      rerunMedian(name).map(math.min(med, _)).getOrElse(med)
    def breaches(name: String, med: Double): Boolean =
      sfShort == "sf0.1" && band.get(name).exists { bm =>
        val scale = boxFactor.map(b => math.min(5.0, b)).getOrElse(1.0)
        val v = bestKnown(name, med)
        v > bm * scale * bandFactor && v > bm * scale + bandSlack
      }
    def breachesEgregiously(name: String, med: Double): Boolean =
      sfShort == "sf0.1" && band.get(name).exists { bm =>
        val scale = boxFactor.map(b => math.min(5.0, b)).getOrElse(1.0)
        val v = bestKnown(name, med)
        v > bm * scale * 4.0 && v > bm * scale + 1.0
      }
    // per-query wall cap (round-14 verdict item 2): 3× the box-scaled
    // band with a 30 s floor — wide enough that no honest weather blip
    // on a ≤5× box gets cut (the floor alone is ~7× the largest band
    // row), tight enough that one runaway row cannot eat the pass-1
    // budget. Unbanded queries get a generous fixed cap.
    def capFor(name: String): Double = {
      val scale = boxFactor.map(b => math.min(5.0, b)).getOrElse(1.0)
      band.get(name).map(bm => math.max(30.0, bm * scale * 3.0)).getOrElse(180.0)
    }
    // isolated re-measure: `reps` runs back-to-back with nothing else in
    // flight; the MEDIAN of the re-measure medians is the recorded rerun
    // value (up to `maxRerunsPerQuery` re-measures across the whole run)
    val maxRerunsPerQuery = 2
    val qmap = selected.toMap
    def adjudicate(name: String, budgetFrac: Double): Unit = {
      val attempts = Bench.synchronized { rerunRuns.get(name).map(_.size).getOrElse(0) }
      if (attempts < maxRerunsPerQuery && !stopRequested && elapsed < budget * budgetFrac) {
        // re-check the budget BETWEEN reps: a persistent 80 s-class blip
        // must not eat 3 × 80 s of breadth budget before anyone notices
        val buf = mutable.ArrayBuffer[(Double, Boolean)]()
        var i = 0
        while (i < reps && !stopRequested &&
          (i == 0 || elapsed < budget * budgetFrac)) {
          buf += runOnce(name, qmap(name), capFor(name)); i += 1
        }
        if (buf.nonEmpty && buf.forall(_._2)) {
          val m = medianOf(buf.map(_._1).toSeq)
          Bench.synchronized {
            rerunRuns(name) = rerunRuns.getOrElse(name, Vector.empty) :+ m
          }
          writeArtifact(partial = true)
        }
      }
    }

    // ---- timed catalog, BREADTH FIRST. Pass 1 gives every query one
    // rep (full coverage even on a box where one pass is all the budget
    // buys); passes 2..reps add one rep each with remaining budget.
    // MEDIAN OF reps: this VM's run-to-run wall-time variance is 1.5-2x
    // (round 3's official single-run artifact "regressed" 22 queries an
    // immediate re-run erased) — raw runs stay in bench.json so variance
    // is visible, not discarded. Each query's actual rep count is its
    // runs-array length. Past the budget queries are SKIPPED and named.
    (1 to reps).foreach { pass =>
      // leave 15% headroom after pass 1 for end-calibration + the
      // adjudication backstop; pass 1 itself runs to the full budget —
      // coverage beats depth beats adjudication beats nothing
      val passCut = if (pass == 1) budget else budget * 0.85
      // EVERY pass goes CHEAPEST-FIRST. Pass 1 orders by the COMMITTED
      // band median (round-14 verdict item 2: catalog/alphabetical order
      // let an 82 s tail row kill the r14 budget at position 72 of 204 —
      // cheapest-first strands only the heavy tail when a slow box
      // exhausts the budget, and the per-query cap bounds each tail
      // row's damage); unbanded queries run last, alphabetically.
      // Passes >= 2 go cheapest-first by current best-known median:
      // depth budget buys the most accuracy per second on sub-second
      // rows, whose rep 1 is the most compile/startup-contaminated.
      val passOrder =
        if (pass == 1)
          selected.sortBy { case (n, _) => (band.getOrElse(n, Double.MaxValue), n) }
        else {
          val known = Bench.synchronized {
            runsBy.map { case (k, r) => k -> medianFor(r) }.toMap
          }
          selected.sortBy { case (n, _) => known.getOrElse(n, Double.MaxValue) }
        }
      passOrder.foreach { case (name, fn) =>
        val already = Bench.synchronized { runsBy.get(name).map(_.size).getOrElse(0) }
        if (already < pass) { // don't double-run after a mid-pass resume
          if (stopRequested || elapsed >= passCut) {
            if (pass == 1) Bench.synchronized { skipped += name }
          } else {
            val r = runOnce(name, fn, capFor(name))
            // a query that "failed" because the kill tore its executors
            // down mid-flight is noise, not signal — skipped, not failed
            if (stopRequested && !r._2) {
              if (pass == 1) Bench.synchronized { skipped += name }
            } else {
              val med = Bench.synchronized {
                val v = runsBy.getOrElse(name, Vector.empty) :+ r
                runsBy(name) = v
                medianFor(v)
              }
              writeArtifact(partial = true)
              // inline adjudication (round-13 verdict item 1): re-measure
              // an egregiously-blipping row NOW, while budget remains —
              // the post-catalog sweep may never run on a slow box
              if (breachesEgregiously(name, med)) adjudicate(name, budgetFrac = 0.85)
            }
          }
        }
      }
    }
    loopDone.countDown()
    if (skipped.nonEmpty)
      System.err.println(s"[bench] budget exhausted: ${skipped.size} queries skipped: " +
        skipped.mkString(", "))

    // ---- end-of-run recalibration + adjudication backstop: this box's
    // speed DRIFTS mid-run (measured: start-calibration 1.74×, end-of-
    // run state ~4×), so the calibration suite runs AGAIN and each query
    // keeps its per-query MAX — the box factor reflects the slowest
    // observed state of the run, never just a lucky quiet start. Rows
    // still breaching the recalibrated band get their remaining isolated
    // re-measures here. The CPU yardstick re-samples under the same MAX
    // rule.
    if (sfShort == "sf0.1" && !stopRequested && band.nonEmpty) {
      calSel.foreach { case (name, fn) =>
        if (!stopRequested && elapsed < budget) {
          val runs = (1 to 3).map(_ => runOnce(name, fn))
          if (runs.forall(_._2)) {
            val m = medianOf(runs.map(_._1))
            Bench.synchronized {
              calibration(name) = math.max(calibration.getOrElse(name, 0.0), m)
            }
          }
        }
      }
      computeBoxFactor().foreach(bf => boxFactor = Some(bf))
      if (!stopRequested && elapsed < budget) {
        // cpu keeps the MAX of the phases (the steal level at its worst —
        // it is the cross-check's denominator); the synthetic probe keeps
        // the MIN: an engine regression is a CODE property present in
        // every sample, so the min preserves detection while transient
        // settle/noise spikes (measured up to 3x on this box) are
        // suppressed instead of tripping the BandSpec assert
        cpuSeconds = Some(math.max(cpuSeconds.getOrElse(0.0), cpuBaseline()))
        // the wide kernel twin keeps the MIN of phases — it is the
        // engine check's DENOMINATOR and must bias the same direction
        // as the synthetic numerator (both suppress transient spikes)
        val wide = cpuWide()
        cpuWideSeconds = Some(cpuWideSeconds.fold(wide)(math.min(_, wide)))
        try {
          val syn = syntheticProbe(spark)
          synthSeconds = Some(synthSeconds.fold(syn)(math.min(_, syn)))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] synthetic probe failed: ${e.getMessage}")
        }
      }
      val stillBreaching = Bench.synchronized {
        runsBy.toVector.collect { case (k, r) if breaches(k, medianFor(r)) => k }
      }
      stillBreaching.foreach { name =>
        (1 to maxRerunsPerQuery).foreach(_ => adjudicate(name, budgetFrac = 1.0))
      }
      val rr = Bench.synchronized { rerunRuns.toVector }
      if (rr.nonEmpty)
        System.err.println(s"[bench] ${rr.size} band-breaching rows " +
          s"re-measured isolated (box_factor ${boxFactor.map(b => f"$b%.2f").getOrElse("?")}): " +
          rr.map { case (n, v) => f"$n=${medianOf(v)}%.2f(${v.size} attempts)" }.mkString(", "))
    }

    val failedNames = Bench.synchronized {
      runsBy.toVector.collect { case (k, r) if r.exists(!_._2) => k }
    }
    if (failedNames.nonEmpty)
      System.err.println(s"[bench] ${failedNames.size} quer" +
        s"${if (failedNames.size == 1) "y" else "ies"} FAILED")

    val partial = skipped.nonEmpty
    writeArtifact(partial)
    val line = compactLine(partial)
    println(line)
    System.out.flush()
    // a killed run's main thread can still get here (the loop drains in
    // ms once stopRequested flips) — but sbt's swapped stdout is already
    // dead, so the raw-fd copy is what actually reaches the tail capture
    if (stopRequested) rawPrint(line)
    finishedNormally = true
    try Runtime.getRuntime.removeShutdownHook(hook) catch { case _: Throwable => () }
    spark.stop()
    if (failedNames.nonEmpty) sys.exit(1)
  }
}
