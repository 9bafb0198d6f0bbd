package graft.functions

import graft.SparkSpec
import graft.vector.VectorOps
import org.apache.spark.sql.functions._

/** The UDF kernels must agree with the Catalyst expressions they stand
  * in for, value for value. Inputs go through an RDD-backed DataFrame so
  * Spark evaluates them in generated code, as it does `cosinePre` and
  * `Rounding.halfUp` inside the catalog queries (a local relation would
  * be folded on the driver by the interpreted path instead).
  */
class VecKernelsSpec extends SparkSpec {
  import spark.implicits._

  private def viaSpark(xs: Seq[Double], f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Map[Double, Double] =
    spark.sparkContext.parallelize(xs.distinct, 2).toDF("x")
      .select(col("x"), f(col("x")).as("r"))
      .as[(Double, Double)].collect().toMap

  private def withNeighbours(bs: Seq[Double]): Seq[Double] =
    bs.flatMap(b => Seq(b, Math.nextUp(b), Math.nextDown(b)))

  test("round4 equals Spark's round(x, 4) on half-boundaries, their neighbours and negatives") {
    val rnd = new scala.util.Random(7)
    val ns = Seq(0, 1, 4, 5, 9999) ++ Seq.fill(2000)(rnd.nextInt(20000))
    val bounds = withNeighbours(ns.map(n => (n + 0.5) / 1e4))
    val xs = bounds ++ bounds.map(-_) ++ Seq.fill(500)(rnd.nextDouble() * 2 - 1)
    val spark4 = viaSpark(xs, round(_, 4))
    val diffs = xs.distinct.filter(x => VecKernels.round4(x) != spark4(x))
    assert(diffs.isEmpty, s"round4 differs from round(x, 4) at ${diffs.take(5)}")
  }

  test("sqDist6 rounds like Rounding.halfUp(_, 6)") {
    val rnd = new scala.util.Random(11)
    val ns = Seq.fill(2000)(rnd.nextInt(5000000))
    val bounds = withNeighbours(ns.map(n => (n + 0.5) / 1e6))
    val xs = bounds ++ Seq.fill(500)(rnd.nextDouble() * 8)
    val spark6 = viaSpark(xs, Rounding.halfUp(_, 6))
    val diffs = xs.distinct.filter(x => VecKernels.sqDist6(x, 0.0, 0.0) != spark6(x))
    assert(diffs.isEmpty, s"sqDist6 differs from Rounding.halfUp at ${diffs.take(5)}")
    // and on composed parts, in the vv − 2·d + cc association
    val parts = Seq.fill(1000)((rnd.nextDouble() * 4, rnd.nextDouble() * 2 - 1, rnd.nextDouble() * 4))
    val got = spark.sparkContext.parallelize(parts, 2).toDF("vv", "d", "cc")
      .select(col("vv"), col("d"), col("cc"),
        Rounding.halfUp(col("vv") - lit(2.0) * col("d") + col("cc"), 6))
      .as[(Double, Double, Double, Double)].collect()
    got.foreach { case (vv, d, cc, r) => assert(VecKernels.sqDist6(vv, d, cc) == r, (vv, d, cc)) }
  }

  test("nearest takes the lowest cluster id on equal rounded d2, whatever the centroid order") {
    // v = (0, 0) at offset 2; the first five centroids all sit at
    // rounded d2 = 1 (the last one only after rounding away 1e-14)
    val v = Array(9.0, 9.0, 0.0, 0.0)
    val base = Seq(7 -> Array(1.0, 0.0), 3 -> Array(0.0, 1.0), 5 -> Array(-1.0, 0.0),
      9 -> Array(0.0, -1.0), 4 -> Array(1e-7, 1.0), 1 -> Array(2.0, 0.0))
    val rnd = new scala.util.Random(3)
    for (_ <- 1 to 50) {
      val order = rnd.shuffle(base).toArray
      val cls = order.map(_._1)
      val cs = order.map(_._2)
      val j = VecKernels.nearest(v, 2, 0.0, cls, cs, VecKernels.selfDots(cs))
      assert(cls(j) == 3, s"order ${cls.mkString(",")} picked ${cls(j)}")
    }
    // a strictly nearer centroid wins regardless of its id
    val cls = Array(3, 8)
    val cs = Array(Array(0.0, 1.0), Array(0.5, 0.0))
    assert(cls(VecKernels.nearest(v, 2, 0.0, cls, cs, VecKernels.selfDots(cs))) == 8)
  }

  test("nearest is the (d2, cluster id) minimum on integer grids full of ties") {
    val rnd = new scala.util.Random(5)
    for (_ <- 1 to 200) {
      val k = 1 + rnd.nextInt(12)
      val cls = rnd.shuffle((0 until 40).toList).take(k).toArray
      val cs = Array.fill(k)(Array.fill(3)(rnd.nextInt(3).toDouble))
      val v = Array.fill(3)(rnd.nextInt(3).toDouble)
      val vv = VecKernels.dot(v, 0, v, 0, 3)
      val ccs = VecKernels.selfDots(cs)
      val want = cs.indices.minBy(j =>
        (VecKernels.sqDist6(vv, VecKernels.dot(v, 0, cs(j), 0, 3), ccs(j)), cls(j)))
      assert(VecKernels.nearest(v, 0, vv, cls, cs, ccs) == want)
    }
  }

  test("cosine4 over the float dot equals cosinePre") {
    val rnd = new scala.util.Random(13)
    val pairs = Seq.fill(300) {
      val a = Array.fill(16)(rnd.nextGaussian().toFloat)
      val b = if (rnd.nextInt(10) == 0) Array.fill(16)(0f) else Array.fill(16)(rnd.nextGaussian().toFloat)
      (a.toSeq, b.toSeq)
    }
    val got = spark.sparkContext.parallelize(pairs, 2).toDF("a", "b")
      .select(col("a"), col("b"), VectorOps.cosine(col("a"), col("b")))
      .as[(Seq[Float], Seq[Float], Double)].collect()
    got.foreach { case (a0, b0, want) =>
      val (a, b) = (a0.toArray, b0.toArray)
      val nn = math.sqrt(VecKernels.dot(a, 0, a, 0, 16)) * math.sqrt(VecKernels.dot(b, 0, b, 0, 16))
      assert(VecKernels.cosine4(VecKernels.dot(a, 0, b, 0, 16), nn) == want)
    }
  }
}
