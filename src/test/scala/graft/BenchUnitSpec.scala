package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for Bench's pure helpers — the statistics the regression
  * gate leans on (median aggregation, the engine-independent CPU yardstick)
  * must behave exactly as BENCH_BAND.json's comments claim, independent of
  * any Spark session.
  */
class BenchUnitSpec extends AnyFunSuite {

  test("medianOf averages the middle pair on even counts") {
    assert(Bench.medianOf(Seq(1.0, 3.0)) == 2.0)
    assert(Bench.medianOf(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Bench.medianOf(Seq(5.0)) == 5.0)
    assert(Bench.medianOf(Seq(9.0, 1.0, 5.0)) == 5.0)
    // insertion order must not matter
    assert(Bench.medianOf(Seq(3.0, 1.0, 2.0)) == Bench.medianOf(Seq(1.0, 2.0, 3.0)))
  }

  test("a capped rep is forgiven only for the exception its cancel raised") {
    val cancelled = new org.apache.spark.SparkException("SPARK_JOB_CANCELLED",
      Map("jobId" -> "7", "reason" -> "part of cancelled job group bench-q"), null)
    assert(!Bench.cancelledByCap(new IllegalStateException("query bug")))
    assert(!Bench.cancelledByCap(new RuntimeException("wrapped",
      new IllegalStateException("query bug"))))
    assert(Bench.cancelledByCap(cancelled))
    assert(Bench.cancelledByCap(new RuntimeException("wrapped",
      new java.util.concurrent.ExecutionException(cancelled))))
    assert(Bench.cancelledByCap(new RuntimeException("wrapped", new InterruptedException())))
    assert(!Bench.cancelledByCap(new org.apache.spark.SparkException("INTERNAL_ERROR",
      Map("message" -> "boom"), null)))
  }

  test("cpu yardstick is a positive wall time and scales with the workload") {
    // tiny iteration counts: this asserts the mechanism (threads run, join,
    // blackhole survives), not the box speed — the real sizing lives in
    // Bench.cpuBaselineOnce's defaults
    val small = Bench.cpuBaselineOnce(threads = 2, itersPerThread = 1000000L)
    assert(small > 0.0)
    val bigger = Bench.cpuBaselineOnce(threads = 2, itersPerThread = 200000000L)
    // 200x the work must take meaningfully longer than 1x — a constant-
    // folded or dead-code-eliminated loop would make both ~0 and the
    // yardstick meaningless
    assert(bigger > small * 5,
      f"200x workload took ${bigger}%.4fs vs ${small}%.4fs — loop optimized away?")
  }
}
