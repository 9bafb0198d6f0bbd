package graft.functions

/** The scalar arithmetic the vector family's UDFs share, spelled so a
  * UDF's result is bit-identical to the Catalyst expression it stands in
  * for (and so to the DuckDB oracle):
  *
  *  - `dot`: [[DotProduct]]'s fold — sequential, ascending, in double
  *    (float elements widen exactly before the multiply);
  *  - `round4`: Spark's `round(x, 4)` on a double, which rounds the
  *    shortest decimal representation HALF_UP (`BigDecimal.valueOf` goes
  *    through `Double.toString`, as Spark's own codegen does);
  *  - `cosine4`: `VectorOps.cosinePre` — 0.0 on a zero norm product,
  *    else `round4(dot / (na·nb))`;
  *  - `sqDist6`: the k-means / PQ / IVF-PQ distance,
  *    `Rounding.halfUp(vv − 2·d + cc, 6)` in that association;
  *  - `nearest`: the argmin over `sqDist6`, ties to the lowest cluster id.
  *
  * Every hash-checked UDF calls these instead of restating the math, so
  * one edit cannot leave a copy behind; VecKernelsSpec checks them
  * against Spark's own evaluation.
  */
private[graft] object VecKernels {

  /** Σ a(aOff+i)·b(bOff+i) for i < n, folded in ascending order. */
  def dot(a: Array[Double], aOff: Int, b: Array[Double], bOff: Int, n: Int): Double = {
    var s = 0.0; var i = 0
    while (i < n) { s += a(aOff + i) * b(bOff + i); i += 1 }
    s
  }

  def dot(a: Array[Float], aOff: Int, b: Array[Float], bOff: Int, n: Int): Double = {
    var s = 0.0; var i = 0
    while (i < n) { s += a(aOff + i).toDouble * b(bOff + i).toDouble; i += 1 }
    s
  }

  def dot(a: Array[Float], b: Array[Double], n: Int): Double = {
    var s = 0.0; var i = 0
    while (i < n) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** c·c per centroid — the `cc` term of `sqDist6`, √ of it the norm. */
  def selfDots(cs: Array[Array[Double]]): Array[Double] =
    cs.map(c => dot(c, 0, c, 0, c.length))

  def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Cosine from a dot product `s` and a norm product `nn`. */
  def cosine4(s: Double, nn: Double): Double =
    if (nn == 0.0) 0.0 else round4(s / nn)

  /** Squared L2 from its parts: vv = v·v, d = v·c, cc = c·c. */
  def sqDist6(vv: Double, d: Double, cc: Double): Double =
    math.floor((vv - 2.0 * d + cc) * 1e6 + 0.5) / 1e6

  /** Index j of the centroid `cs(j)` nearest to v[off, off + cs(j).length)
    * by `sqDist6`, ties to the lowest `cls(j)`; `vv` is that slice's
    * self-dot and `ccs` is `selfDots(cs)`.
    */
  def nearest(v: Array[Double], off: Int, vv: Double, cls: Array[Int],
              cs: Array[Array[Double]], ccs: Array[Double]): Int = {
    var bd = Double.PositiveInfinity
    var bcl = Int.MaxValue
    var bj = -1
    var j = 0
    while (j < cs.length) {
      val d2 = sqDist6(vv, dot(v, off, cs(j), 0, cs(j).length), ccs(j))
      if (d2 < bd || (d2 == bd && cls(j) < bcl)) { bd = d2; bcl = cls(j); bj = j }
      j += 1
    }
    bj
  }
}
