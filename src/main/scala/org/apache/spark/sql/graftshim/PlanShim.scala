package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

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
}
