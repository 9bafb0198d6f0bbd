package graft.operators

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import graft.{SparkSpec, Tables}
import graft.streaming.Events
import org.apache.spark.ListenerBusShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.PlanShim
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}

/** The streaming rows set their query's confs (state partitions, q70's
  * no-data switch) through `PlanShim.startStream`, which holds them on
  * the caller's session only while `start()` builds the query. This spec
  * pins that contract: the streaming rows leave the session's explicit
  * conf exactly as they found it and no query running; a query started
  * with a conf keeps it after the caller's value is back; a failed start
  * restores too; and the query still reports to the caller's
  * `spark.streams` listeners.
  */
class StreamScopeSpec extends SparkSpec {

  private val parts = "spark.sql.shuffle.partitions"

  /** A stateful stream whose first batch waits for `gate` to open: the
    * test decides when the query may finish, so it is still active when
    * the start helper returns. The latch is reached through the
    * companion object because a task closure cannot carry it. */
  private def gatedCounts() = {
    val schema = Tables.eventsSchema(spark, sfDir)
    val wait = udf { (_: Long) => StreamScopeSpec.gate.await(60, TimeUnit.SECONDS) }.asNondeterministic()
    Tables.streamTable(spark, sfDir, "events", schema)
      .filter(wait(col("user_id")))
      .groupBy("event_type").count()
  }

  test("q70, q106 and q197 leave the session conf and no active query") {
    val rows: Seq[(String, (org.apache.spark.sql.SparkSession, String) => Any)] = Seq(
      "q70" -> ((s, d) => Events.q70StreamAsof(s, d).collect()),
      "q106" -> ((s, d) => Events.q106StreamHeavyHitters(s, d).collect()),
      "q197" -> ((s, d) => Events.q197CmsStream(s, d).collect()))
    rows.foreach { case (name, run) =>
      val before = spark.conf.getAll
      run(spark, sfDir)
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
      assert(changed.isEmpty, s"$name changed ${changed.mkString(", ")}")
      assert(spark.streams.active.isEmpty, s"$name left a query running")
    }
  }

  test("a started query keeps its conf after the caller's value is restored") {
    val prior = spark.conf.get(parts)
    assert(prior != "3")
    StreamScopeSpec.gate = new CountDownLatch(1)
    val sq = PlanShim.startStream(gatedCounts(), parts -> "3")(
      _.outputMode(OutputMode.Complete()).format("memory").queryName("stream_scope_parts"))
    try {
      assert(spark.conf.get(parts) == prior)
      assert(sq.isActive, "the query finished before its gate opened")
      StreamScopeSpec.gate.countDown()
      sq.awaitTermination()
      val state = sq.recentProgress.flatMap(_.stateOperators)
      assert(state.nonEmpty && state.forall(_.numShufflePartitions == 3))
    } finally {
      StreamScopeSpec.gate.countDown()
      sq.stop()
      spark.catalog.dropTempView("stream_scope_parts")
    }
  }

  test("a start that throws leaves the conf unchanged") {
    StreamScopeSpec.gate = new CountDownLatch(1)
    val sink = (name: String) =>
      (w: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]) =>
        w.outputMode(OutputMode.Complete()).format("memory").queryName(name)
    val first = PlanShim.startStream(gatedCounts())(sink("stream_scope_dup"))
    try {
      val before = spark.conf.getAll
      intercept[IllegalArgumentException] {
        PlanShim.startStream(gatedCounts(), parts -> "5",
          "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")(sink("stream_scope_dup"))
      }
      assert(spark.conf.getAll == before)
    } finally {
      StreamScopeSpec.gate.countDown()
      first.stop()
      spark.catalog.dropTempView("stream_scope_dup")
    }
  }

  test("the caller's streaming listeners see q70's progress") {
    val events = new ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        events.add(s"started ${e.runId}")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        events.add(s"progress ${e.progress.runId} ${e.progress.numInputRows}")
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        events.add(s"terminated ${e.runId}")
    }
    spark.streams.addListener(listener)
    try {
      Events.q70StreamAsof(spark, sfDir).collect()
      ListenerBusShim.drain(spark.sparkContext)
    } finally spark.streams.removeListener(listener)
    val seen = events.toArray(Array.empty[String]).toSeq
    val runIds = seen.collect { case s if s.startsWith("started ") => s.stripPrefix("started ") }
    assert(runIds.size == 1, seen.mkString("\n"))
    val progress = seen.filter(_.startsWith(s"progress ${runIds.head} "))
    assert(progress.exists(!_.endsWith(" 0")), "no progress event carried input rows")
    assert(seen.contains(s"terminated ${runIds.head}"))
  }
}

object StreamScopeSpec {
  @volatile var gate = new CountDownLatch(0)
}
