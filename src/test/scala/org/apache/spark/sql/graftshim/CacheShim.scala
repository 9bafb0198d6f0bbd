package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{SparkSession, classic}

/** Test-side view of the session's CacheManager, whose entry count is
  * `private[sql]`: specs count the entries an operator leaves behind.
  */
object CacheShim {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
