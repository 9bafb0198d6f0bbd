package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Checks that the benchmark's step-by-step copies of program functions
  * still build the program's query plans. Traced operations run
  * `Retrieval.buildIndex` and `Continuous.run` one step at a time so each
  * layer's time separates; the copies must mirror those functions line by
  * line, and a traced run fails with [[Mirror.Drift]] when they no longer
  * do. Caching a step leaves the analyzed plans built on it unchanged, so
  * the copies are compared as they run.
  */
object Mirror {
  final class Drift(msg: String) extends IllegalStateException(msg)

  /** A plan's tree with expression ids, lambda-variable numbers and
    * function instances left out.
    */
  def shape(plan: LogicalPlan): Seq[String] =
    plan.treeString.linesIterator.map(_
      .replaceAll("#\\d+", "#")
      .replaceAll("(lambdavariable\\(.*?, (?:true|false)), \\d+\\)", "$1)")
      .replaceAll("(lambda [A-Za-z]+)_\\d+", "$1_")
      .replaceAll("[\\w.$]*\\$Lambda[^\\s,)\\]]*", "<fn>")
      .replaceAll("@[0-9a-f]{4,}", "@")).toSeq

  /** Throws [[Drift]] unless `copy` builds the same plan as `program`. */
  def require(what: String, copy: DataFrame, program: LogicalPlan): Unit = {
    val (c, p) = (shape(copy.queryExecution.analyzed), shape(program))
    if (c != p) {
      val (a, b) = c.zipAll(p, "", "").find { case (x, y) => x != y }.get
      val at = math.max(a.zipAll(b, ' ', ' ').indexWhere { case (x, y) => x != y } - 60, 0)
      throw new Drift(s"the benchmark's step-by-step $what no longer builds the program's plan " +
        s"('...${a.slice(at, at + 120)}' vs '...${b.slice(at, at + 120)}'); make it mirror $what again")
    }
  }

  /** Runs `body` and returns the analyzed plan of the last action it ran. */
  def lastAction[A](spark: SparkSession)(body: => A): (A, LogicalPlan) = {
    val plans = new ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.analyzed)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      PerfbenchBus.drain(spark.sparkContext)
      (out, plans.asScala.last)
    } finally spark.listenerManager.unregister(listener)
  }
}
