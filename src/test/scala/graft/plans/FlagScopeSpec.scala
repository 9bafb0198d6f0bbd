package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-10 stress finding, pinned: q157/q159 used to SET the opt-in
  * rewrite flag on the caller's session and restore it after — but the
  * flag is read at optimization time, so any query compiling
  * concurrently on that session inside the window was silently
  * approximated (the 4-thread catalog stress caught q143's exact
  * countDistinct arm_size coming back as the HLL estimate: 83 vs 79).
  * The fix scopes the flag to a private child session. This spec
  * asserts the contract directly: while q157 and q159 run in another
  * thread, the caller session's flags stay ABSENT and a concurrently
  * compiled exact aggregate stays exact, every time.
  */
class FlagScopeSpec extends SparkSpec {

  test("q157/q159 never expose their opt-in flags to the caller's session") {
    val err = new java.util.concurrent.atomic.AtomicReference[String](null)
    // the suite shares one session across specs, and the boundary specs
    // legitimately leave the flags explicitly "false" — the contract
    // here is that q157/q159 never CHANGE the caller's flag state (and
    // in particular never make it "true"), not that it is absent
    val flag157Before = spark.conf.getOption(ApproxDistinct.Flag)
    val flag159Before = spark.conf.getOption(ApproxPercentile.Flag)
    assert(!flag157Before.contains("true") && !flag159Before.contains("true"),
      "precondition: caller session must not have opted in before the test")
    val t = new Thread(() => {
      try {
        ApproxDistinct.q157NdvAutoApprox(spark, sfDir).collect()
        ApproxPercentile.q159PercentileAutoApprox(spark, sfDir).collect()
      } catch { case e: Throwable => err.set(e.toString) }
    }, "flag-scope-q157-q159")
    t.start()
    var polls = 0
    while (t.isAlive) {
      assert(spark.conf.getOption(ApproxDistinct.Flag) == flag157Before,
        "q157 leaked graft.approxCountDistinct into the caller session")
      assert(spark.conf.getOption(ApproxPercentile.Flag) == flag159Before,
        "q159 leaked graft.approxPercentile into the caller session")
      // a query COMPILED on the caller session right now must stay exact
      val plan = graft.Tables.events(spark, sfDir)
        .groupBy("event_type").agg(countDistinct("user_id").as("ndv"))
        .queryExecution.optimizedPlan.toString
      assert(!plan.contains("approx_count_distinct"),
        "concurrent compilation was rewritten to the sketch — flag leak")
      polls += 1
    }
    t.join()
    assert(err.get == null, s"q157/q159 failed: ${err.get}")
    assert(polls > 0, "thread finished before a single poll — no coverage")
    // and the queries still exercise their rules (the require() inside
    // each registered form asserts the rewrite happened in the child)
  }
}
