package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * counters read right after an action include that action's events.
  * `waitUntilEmpty` is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
