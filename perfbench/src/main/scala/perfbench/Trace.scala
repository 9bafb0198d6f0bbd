package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one job group (one span). */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var execCpuNs = 0L
  var execGcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var outputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer[(Double, Double)]()

  def toJson: Map[String, Any] = synchronized {
    Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "exec_cpu_ms" -> execCpuNs / 1e6, "exec_gc_ms" -> execGcMs,
      "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
      "peak_exec_mem_mb" -> peakExecMem / 1048576.0, "output_bytes" -> outputBytes,
      "job_intervals" -> jobIntervals.map { case (s, e) => Seq(s, e) }.toSeq)
  }
}

/** One clock for spans and listener events: milliseconds since the run began. */
final class Clock {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - originNs) / 1e6
  def fromEpochMs(t: Long): Double = (t - originEpochMs).toDouble
}

/** Collects Spark job, stage and task metrics keyed by the job group each
  * job was submitted under. A job submitted under a group no span owns
  * (a streaming query sets its own) is charged to the innermost open span.
  */
final class GroupListener(clock: Clock, currentGroup: () => String) extends SparkListener {
  val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Double)]()

  def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  private def groupOf(e: SparkListenerJobStart): String = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(groups.containsKey).getOrElse(currentGroup())
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e)
    jobStart.put(e.jobId, (g, clock.fromEpochMs(e.time)))
    e.stageIds.foreach(s => stageGroup.put(s, g))
    val s = stats(g)
    s.synchronized { s.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      val s = stats(g)
      s.synchronized { s.jobIntervals += ((t0, clock.fromEpochMs(e.time))) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val s = stats(g)
      s.synchronized { s.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val s = stats(g)
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.execCpuNs += m.executorCpuTime
          s.execGcMs += m.jvmGCTime
          s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
          s.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
}

/** Rows produced by the cross joins that score query × passage pairs,
  * summed over every successful execution (read as deltas around a span).
  * A cached DataFrame's plan runs inside the first action that reads it,
  * so the walk descends into in-memory scans' cached plans; each join
  * metric is counted by how much it grew since it was last seen, so a
  * later read of the same cache adds nothing.
  */
final class PlanRowsListener extends QueryExecutionListener {
  val rowsScored = new AtomicLong
  private val seen = mutable.Map[Long, Long]()

  private def walk(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case s: InMemoryTableScanExec => walk(s.relation.cachedPlan)
    case _ =>
      if (p.nodeName.contains("NestedLoopJoin") || p.nodeName.contains("CartesianProduct"))
        p.metrics.get("numOutputRows").foreach { m =>
          val last = seen.getOrElse(m.id, 0L)
          seen(m.id) = m.value
          rowsScored.addAndGet(m.value - last)
        }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    try synchronized(walk(qe.executedPlan)) catch { case _: Exception => () }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Micro-batch progress of streaming queries, summed. */
final class StreamListener extends StreamingQueryListener {
  val batches = new AtomicLong
  val addBatchMs = new AtomicLong
  val commitMs = new AtomicLong
  val planningMs = new AtomicLong
  val stateRows = new AtomicLong

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    batches.incrementAndGet()
    addBatchMs.addAndGet(d.getOrElse("addBatch", 0L))
    commitMs.addAndGet(d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L))
    planningMs.addAndGet(d.getOrElse("queryPlanning", 0L))
    stateRows.addAndGet(p.stateOperators.map(_.numRowsTotal).sum)
  }

  def snapshot: Map[String, Double] = Map(
    "stream_batches" -> batches.get.toDouble, "stream_add_batch_ms" -> addBatchMs.get.toDouble,
    "stream_commit_ms" -> commitMs.get.toDouble, "stream_planning_ms" -> planningMs.get.toDouble,
    "stream_state_rows" -> stateRows.get.toDouble)
}

/** Spans around the benchmark's calls into the program. Each span runs
  * its Spark work under its own job group (the request id), so the
  * listeners above can attribute jobs, stages and tasks to it. With
  * tracing off the listeners are not registered and `span` only runs
  * its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, group: String,
                        start: Double, end: Double, attrs: Map[String, Double])

  val clock = new Clock
  private val sc = spark.sparkContext
  private var stack = List.empty[(Int, String)]
  @volatile private var currentGroup = ""
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  /** True while a traced operation runs; set-up and the untraced
    * operations of a traced run leave it false.
    */
  var active = false

  val jobs = new GroupListener(clock, () => currentGroup)
  val plans = new PlanRowsListener
  val streams = new StreamListener
  if (enabled) {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Double = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum.toDouble

  private def counters: Map[String, Double] = {
    PerfbenchBus.drain(sc)
    streams.snapshot ++ Map("gc_ms" -> gcMs, "rows_scored" -> plans.rowsScored.get.toDouble)
  }

  private def setGroup(g: String): Unit = {
    currentGroup = g
    if (g.isEmpty) sc.clearJobGroup() else sc.setJobGroup(g, g, interruptOnCancel = false)
  }

  /** Runs `body` inside a span. */
  def span[A](name: String)(body: => A): A = spanWith(name, (_: A) => Map.empty[String, Double])(body)

  /** Runs `body` inside a span; `attrs` adds values read off its result. */
  def spanWith[A](name: String, attrs: A => Map[String, Double])(body: => A): A =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val group = s"perfbench-$id"
      jobs.stats(group)
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val before = counters
      stack = (id, group) :: stack
      setGroup(group)
      val start = clock.nowMs
      try {
        val out = body
        val end = clock.nowMs
        val after = counters
        val deltas = after.map { case (k, v) => k -> (v - before(k)) }
        spans += Span(id, name, parent, group, start, end, deltas ++ attrs(out))
        out
      } finally {
        stack = stack.tail
        setGroup(stack.headOption.map(_._2).getOrElse(""))
      }
    }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "group" -> s.group,
      "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs)
  }

  def groupsJson: Map[String, Any] =
    jobs.groups.asScala.toMap.filter(_._1.nonEmpty).map { case (g, s) => g -> s.toJson }
}
