package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Plain-Spark reference forms the scaled vector operators are checked
  * against: the O(n²) crossJoin near-dup scan and the per-key window
  * IVF probe. Both spell the operators' arithmetic with
  * `VectorOps.cosine` (DotProduct fold, 4-dp rounding, zero norm ⇒ 0.0).
  */
object VectorReference {

  /** Exact all-pairs near-dup ≥ threshold: (id_a < id_b, cos), sorted. */
  def nearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
                   threshold: Double): DataFrame = {
    val a = vecs.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = vecs.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", VectorOps.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
      .orderBy("id_a", "id_b")
  }

  /** The window IVF probe: every row of `side` (id, vec) against every
    * per-label mean centroid of `labeled`, ranked by (rounded cosine
    * desc, cl asc) with row_number and cut at `nProbe`. Returns (id, cl).
    */
  def windowProbe(side: DataFrame, labeled: DataFrame, vecCol: String,
                  labelCol: String, nProbe: Int): DataFrame = {
    val centroids = labeled
      .select(col(labelCol).as("cl"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("cl", "pos").agg(avg("v").as("m"))
      .groupBy("cl").agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cl"), transform(col("pm"), x => x.getField("m")).as("centroid"))
    val Array(id, vec) = side.columns
    side.crossJoin(broadcast(centroids))
      .withColumn("cscore", VectorOps.cosine(col(vec), col("centroid")))
      .withColumn("prk", row_number().over(
        Window.partitionBy(id).orderBy(col("cscore").desc, col("cl").asc)))
      .filter(col("prk") <= nProbe)
      .select(col(id), col("cl"))
  }
}
