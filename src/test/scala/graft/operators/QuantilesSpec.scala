package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins radixSelectKth against the definitional order statistic (sort +
  * index) on fixtures with negatives, duplicates, and skew; asserts
  * partition independence and the k-bounds guard.
  */
class QuantilesSpec extends SparkSpec {

  import spark.implicits._

  private def brute(vals: Seq[Long], k: Int): Long = vals.sorted.apply(k - 1)

  private def runKth(rows: Seq[(String, Long)], kFor: Long => Long) =
    Quantiles.radixSelectKth(rows.toDF("g", "v"), "g", col("v"), kFor)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap

  test("matches sort-based kth on negatives, ties, and skew") {
    // deterministic pseudo-random longs spanning signs and magnitudes
    val vals = (1 to 501).map(i =>
      graft.functions.SplitMix.mix64(i.toLong) % 1000000L)
    val tied = Seq.fill(40)(-7L) ++ Seq.fill(40)(7L)
    val rows = vals.map(("a", _)) ++ tied.map(("b", _)) ++ Seq(("c", 42L))
    for (kf <- Seq[Long => Long](n => (n + 1) / 2, n => 1L, n => n)) {
      val got = runKth(rows, kf)
      assert(got("a") === brute(vals, kf(vals.size).toInt))
      assert(got("b") === brute(tied, kf(tied.size).toInt))
      assert(got("c") === 42L)
    }
  }

  test("partition-count independent") {
    val rows = (1 to 300).map(i => (s"g${i % 3}", (i * 37 % 101).toLong))
    val one = Quantiles.radixSelectKth(
      rows.toDF("g", "v").repartition(1), "g", col("v"), n => (n + 1) / 2)
      .collect().map(_.toSeq)
    val many = Quantiles.radixSelectKth(
      rows.toDF("g", "v").repartition(13), "g", col("v"), n => (n + 1) / 2)
      .collect().map(_.toSeq)
    assert(one.toSeq === many.toSeq)
  }

  test("extreme longs survive the unsigned mapping") {
    val rows = Seq(("x", Long.MinValue), ("x", -1L), ("x", 0L),
      ("x", 1L), ("x", Long.MaxValue))
    assert(runKth(rows, n => (n + 1) / 2)("x") === 0L)
    assert(runKth(rows, _ => 1L)("x") === Long.MinValue)
    assert(runKth(rows, _ => 5L)("x") === Long.MaxValue)
  }

  test("k outside [1, n] fails loudly") {
    intercept[IllegalArgumentException] {
      runKth(Seq(("g", 1L), ("g", 2L)), _ => 3L)
    }
  }

  test("leaves no CacheManager entry behind, on success and on a refused k") {
    val entries = () => org.apache.spark.sql.graftshim.CacheShim.entries(spark)
    val before = entries()
    assert(runKth(Seq(("g", 1L), ("g", 2L), ("g", 3L)), _ => 2L)("g") === 2L)
    assert(entries() == before, s"${entries() - before} entries left by one call")
    intercept[IllegalArgumentException] {
      runKth(Seq(("g", 1L), ("g", 2L)), _ => 3L)
    }
    assert(entries() == before, s"${entries() - before} entries left by a refused call")
  }

  test("null values are excluded, SQL-aggregate style (round-12 ADVICE)") {
    // pre-fix: a null value was counted in the group size but hashed
    // into a null byte bucket, and the driver walk NPE'd. Now nulls
    // drop up front: the median is over NON-null values (what the
    // `median()` oracle computes) and all-null groups disappear.
    val rows = Seq(("a", java.lang.Long.valueOf(10L)),
      ("a", null.asInstanceOf[java.lang.Long]),
      ("a", java.lang.Long.valueOf(20L)),
      ("a", java.lang.Long.valueOf(30L)),
      ("b", null.asInstanceOf[java.lang.Long]))
    val got = Quantiles.radixSelectKth(
      rows.toDF("g", "v"), "g", col("v"), n => (n + 1) / 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(got === Map("a" -> ((3L, 20L)))) // n=3 non-null, median 20; "b" gone
  }

  test("q198 MAD outliers: fences and counts match a brute computation") {
    val got = Quantiles.q198MadOutliers(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val byType = graft.Tables.events(spark, sfDir)
      .select(col("event_type"), floor(col("value") * 100 + 0.5).cast("long").as("sv"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).sorted).toMap
    byType.foreach { case (t, vs) =>
      val med = vs((vs.length + 1) / 2 - 1)
      val devs = vs.map(v => math.abs(v - med)).sorted
      val mad = devs((devs.length + 1) / 2 - 1)
      val fence = 5L * math.max(mad, 1L)
      val n = vs.count(v => math.abs(v - med) > fence).toLong
      assert(got(t) === ((med, mad, n)), s"type $t")
    }
  }

  test("q195 equals the full-sort median on the fixture") {
    val got = Quantiles.q195ExactMedian(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val exp = graft.Tables.events(spark, sfDir)
      .select(col("event_type"), floor(col("value") * 100 + 0.5).cast("long").as("sv"))
      .collect().groupBy(_.getString(0))
      .map { case (t, rs) =>
        val vs = rs.map(_.getLong(1)).sorted
        t -> vs(((vs.length + 1) / 2) - 1)
      }
    assert(got === exp)
  }
}
