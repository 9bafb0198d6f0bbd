package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** EXACT order statistics at corpus scale without a global sort: MSB-first
  * radix selection. A full `ORDER BY` of 100 TB exists only to read one row
  * per group; approximate sketches (q159's GK rule, `approxQuantile`) trade
  * the exactness away. Radix select keeps exactness and pays 8 bounded
  * aggregation passes instead of a terabyte shuffle:
  *
  *   per 16-bit digit level (MSB→LSB): count rows per (group, digit)
  *   under the group's established prefix — a ≤65,536·|groups|-row
  *   aggregate with full map-side combine — then walk the cumulative
  *   counts on the driver to pick each group's digit and descend. After
  *   4 rounds the k-th smallest 64-bit value is determined EXACTLY, at
  *   any parallelism, with no assumptions about ties or distribution.
  *
  * Driver state is 65,536·|groups| longs per round (the bounded-model
  * rule — groups are typed keys, not corpus-grain); the data-side work
  * is 4 narrow scans + keyed aggregates — at 1000
  * executors each pass is embarrassingly parallel and nothing corpus-sized
  * ever shuffles (the q140 two-level-prefix-scan argument, applied to
  * selection). Signed order is preserved by the usual two's-complement
  * trick: u = v XOR Long.MinValue makes unsigned byte order equal signed
  * value order.
  */
object Quantiles {

  /** k-th smallest (1-based, `kFor(n)` per group) of a LONG value column,
    * exactly, per group. Returns (group, n, k, kth) — one row per group.
    *
    * Round-15 optimization (guide §1.2 "remove unnecessary passes"):
    * 16-bit digits instead of 8-bit — 4 counting passes per selection
    * instead of 8, i.e. half the full scans of the input at any corpus
    * size, for a driver walk of ≤ 65,536·|groups| longs per pass (still
    * the bounded-model class: groups are typed keys like event_type,
    * not corpus-grain). The projected (g, u) frame is a lazy local
    * checkpoint that the group-size pass materializes — every pass after
    * the first reads the projection instead of re-scanning parquet — and
    * it never enters the session CacheManager, so nothing survives the
    * call on any exit. Selection output is bit-identical to the 8-bit
    * form: the same value is determined, two hex digits at a time.
    */
  def radixSelectKth(df: DataFrame, groupCol: String, value: Column,
                     kFor: Long => Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Null values are EXCLUDED up front (round-12 ADVICE): a null value
    // yields a null u that was counted in the group size but landed in a
    // null byte bucket, so the driver-side walk NPE'd instead of failing
    // cleanly. Dropping nulls gives SQL aggregate semantics — the k-th
    // order statistic of the NON-NULL values, groups with only nulls
    // disappear. The q195/q198 oracles filter `value IS NOT NULL` in their
    // first CTE (round-13 ADVICE), so their n/k and group membership agree
    // with the engine by construction, not just on null-free fixtures.
    val base = df.filter(value.isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        value.cast("long").bitwiseXOR(lit(Long.MinValue)).as("u"))
      .localCheckpoint(false)
    val sizes = base.groupBy("g").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(sizes.nonEmpty, "radixSelectKth on an empty frame")
    // guarded bounded model (round-15 ADVICE): each 16-bit digit pass
    // collects up to 65,536 counter Rows PER GROUP to the driver — fine
    // for the typed-key group columns this operator exists for (q195/
    // q198 group by event_type: 5 groups), a driver-OOM foot-gun on a
    // corpus-grain group column. Fail loudly before the first collect
    // instead of dying mid-walk — the MaxBroadcastAssignments
    // discipline applied to driver-side counter state.
    require(sizes.size <= 256,
      s"radixSelectKth bounded-model cap: ${sizes.size} groups × 65,536 " +
        "digit counters per pass exceeds what the driver walk may hold " +
        "(cap 256 groups); group by a typed key, not a corpus-grain column")
    var remaining = sizes.map { case (g, n) =>
      val k = kFor(n)
      require(k >= 1 && k <= n, s"k=$k outside [1, $n] for group $g")
      g -> k
    }
    var prefix = sizes.keys.map(_ -> 0L).toMap
    for (level <- 3 to 0 by -1) {
      val shift = level * 16
      val pfxDf = prefix.toSeq.toDF("g", "pfx")
      // rows still matching the group's established high digits,
      // counted by their next 16-bit digit; level 3 has no established
      // digits yet (a >>> of 64 would be a no-op shift in the JVM, so
      // it is special-cased out rather than relied on)
      val inPrefix =
        if (level == 3) lit(true)
        else shiftrightunsigned(col("u"), shift + 16) === col("pfx")
      val counts = base.join(broadcast(pfxDf), Seq("g"))
        .filter(inPrefix)
        .groupBy(col("g"),
          // pmod, not %: at level 0 the unshifted u keeps its sign bit
          // and % would hand back a negative "digit"
          pmod(shiftrightunsigned(col("u"), shift), lit(65536L)).as("digit"))
        .agg(count(lit(1)).as("c"))
        .collect()
        .groupBy(_.getString(0))
        .map { case (g, rows) =>
          g -> rows.map(r => r.getLong(1) -> r.getLong(2)).sortBy(_._1)
        }
      prefix = prefix.map { case (g, p) =>
        var k = remaining(g)
        var chosen = -1L
        for ((b, c) <- counts(g) if chosen < 0) {
          if (k <= c) chosen = b else k -= c
        }
        assert(chosen >= 0, s"radix walk exhausted for group $g")
        remaining += g -> k
        g -> ((p << 16) | chosen)
      }
    }
    val rows = sizes.toSeq.sorted.map { case (g, n) =>
      (g, n, kFor(n), prefix(g) ^ Long.MinValue)
    }
    rows.toDF("g", "n", "k", "kth")
  }

  /** Registered form (q195): the exact (lower) median of the scaled event
    * value per event type — k = (n+1)/2, values in exact hundredths
    * (`floor(value·100 + 0.5)`, the cross-engine half-up). The oracle is
    * a plain row_number selection, so the radix path is hash-checked
    * against the definitional order statistic.
    */
  def q195ExactMedian(spark: SparkSession, dir: String): DataFrame =
    radixSelectKth(
      Tables.events(spark, dir),
      "event_type",
      floor(col("value") * 100 + 0.5),
      n => (n + 1) / 2)
      .select(col("g").as("event_type"), col("n"), col("k"),
        col("kth").as("median_scaled"))
      .orderBy("event_type")

  /** q198: EXACT median/MAD robust outlier fences per group — the
    * heavy-tail detector quantile sketches can only approximate, built
    * by COMPOSING two radix selections: median of the scaled value,
    * then median of the absolute deviations from it, then one scan
    * counting rows beyond median ± 5·MAD (MAD floored at 1 scaled unit
    * so a degenerate constant group yields fences, not a zero band).
    * Against mean/stddev fences, the median/MAD pair has a 50%
    * breakdown point — one corrupt feed cannot drag the fence. Cost at
    * 100 TB: 8 bounded radix passes + 2 scans; nothing ever sorts.
    */
  def q198MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val med = radixSelectKth(e, "event_type",
      floor(col("value") * 100 + 0.5), n => (n + 1) / 2)
      .select(col("g"), col("n"), col("kth").as("median_scaled"))
    val dev = e.select(col("event_type").cast("string").as("g"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"))
      .join(broadcast(med.select(col("g"), col("median_scaled"))), Seq("g"))
      .select(col("g"), abs(col("v") - col("median_scaled")).as("d"))
    val mad = radixSelectKth(dev, "g", col("d"), n => (n + 1) / 2)
      .select(col("g"), col("kth").as("mad_scaled"))
    val fences = med.join(mad, Seq("g"))
      .withColumn("fence", lit(5L) * greatest(col("mad_scaled"), lit(1L)))
    e.select(col("event_type").cast("string").as("g"),
        floor(col("value") * 100 + 0.5).cast("long").as("v"))
      .join(broadcast(fences), Seq("g"))
      .groupBy(col("g"), col("n"), col("median_scaled"), col("mad_scaled"))
      .agg(sum(when(abs(col("v") - col("median_scaled")) > col("fence"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .select(col("g").as("event_type"), col("n"), col("median_scaled"),
        col("mad_scaled"), col("n_outliers"),
        expr("n_outliers * 10000 div n").as("outlier_bp"))
      .orderBy("event_type")
  }
}
