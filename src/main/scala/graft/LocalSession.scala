package graft

import org.apache.spark.sql.SparkSession

/** The local-mode session every main runs on: `cpus` worker threads and
  * as many shuffle partitions, AQE on, UTC session time, and the legacy
  * nanos-as-long parquet read the events fixtures need (see `Tables`).
  * Each main chains its own extras (app name, caches) before
  * `getOrCreate()`.
  */
object LocalSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
