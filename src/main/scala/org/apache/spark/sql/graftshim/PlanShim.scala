package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Bridge for constructing DataFrames from custom logical plans. Spark 4
  * moved `Dataset.ofRows` into the `classic` implementation module and
  * made it `private[sql]`; extension libraries reach it through a child
  * package, as with `ColumnShim`.
  */
object PlanShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** `df` rebound into a private `cloneSession()` of its own session with
    * the SQL `confs` set. The clone copies the session's conf, functions
    * and rules and shares its SparkContext and cache manager (a persisted
    * frame rebound here still reads the cache), so every frame derived
    * from the result plans and runs with `confs` while the caller's
    * session — and any query compiling on it concurrently — never sees
    * them. Nothing to restore: the clone is dropped with its frames.
    * Rebind a result back with `ofRows(caller, analyzed(out))`; what the
    * caller plans from it then uses the caller's conf again, so work that
    * must run under `confs` has to be materialized in the clone.
    */
  def withConfs(df: DataFrame, confs: (String, String)*): DataFrame = {
    val child = df.sparkSession.asInstanceOf[classic.SparkSession].cloneSession()
    confs.foreach { case (k, v) => child.conf.set(k, v) }
    classic.Dataset.ofRows(child, analyzed(df))
  }

  /** Starts `ds` as an AvailableNow streaming query through `sink`
    * (output mode, format, name, path, checkpoint) with the SQL `confs`
    * set on its session only while `start()` runs.
    *
    * That window is enough: `StreamExecution` clones the session in its
    * constructor, inside `start()`, and every micro-batch plans on that
    * clone — the state partition count recorded in the first offset-log
    * entry and the no-data-batch switch are both read from it. Once
    * `start()` returns the query no longer reads the caller's conf, so
    * each key is put back (unset when it had no explicit value) before
    * this returns, while the query is still running. The query itself
    * registers with the caller's `spark.streams`, so its listeners see
    * it and a memory sink's view lands in the caller's catalog.
    *
    * One lock serializes the set-start-restore steps of concurrent
    * callers: interleaved, a second caller would save the first's value
    * as its "prior" one and restore it last, leaving it on the session.
    * Batch queries compiling on the session during a `start()` do see
    * `confs`; scope batch work with [[withConfs]] instead.
    */
  def startStream[T](ds: Dataset[T], confs: (String, String)*)(
      sink: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery = {
    val conf = ds.sparkSession.conf
    streamStartLock.synchronized {
      val explicit = conf.getAll
      val prior = confs.map { case (k, _) => k -> explicit.get(k) }
      try {
        confs.foreach { case (k, v) => conf.set(k, v) }
        sink(ds.writeStream).trigger(Trigger.AvailableNow()).start()
      } finally prior.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }

  private val streamStartLock = new Object
}
