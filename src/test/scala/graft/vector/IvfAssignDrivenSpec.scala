package graft.vector

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one IVF probe (driver-held centroids, tight-loop top-nProbe UDF)
  * behind `ivfAssign`, `ivfAssignDriven` and `knnIvf` must select exactly
  * what the per-key window form (`VectorReference.windowProbe`) selects —
  * same probed clusters, same tie-breaks, same rounding. Checked on the
  * live fixture through the full q69 pipeline shape (learned sqrt-N
  * kmeans centroids feeding the IVF means) and on a tie-heavy synthetic
  * set where many rounded scores collide.
  */
class IvfAssignDrivenSpec extends SparkSpec {

  private def probePairs(df: DataFrame): Seq[(Long, Int)] =
    df.select(col("id").cast("long"), col("cl").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted

  /** (query, cl) of every cluster `knnIvf` scored for a query: with k at
    * least the corpus size its top-k holds every member of each probed
    * cluster, so the members' labels are the probed set.
    */
  private def knnProbed(queries: DataFrame, corpus: DataFrame, nProbe: Int): Seq[(Long, Int)] = {
    val labels = corpus.select(col("vec_id").as("neighbor_id"), col("cl"))
    probePairs(VectorOps.knnIvf(queries, corpus, "vec_id", "vec_id", "embedding", "cl",
        corpus.count().toInt, nProbe)
      .join(labels, "neighbor_id")
      .select(col("query_id").as("id"), col("cl")).distinct())
  }

  /** ivfAssign, ivfAssignDriven and knnIvf's probe each equal the window
    * reference on `labeled` (vec_id, embedding, cl). */
  private def assertProbesMatch(labeled: DataFrame, nProbe: Int): Unit = {
    val side = labeled.select(col("vec_id").as("id"), col("embedding"))
    val ref = probePairs(VectorReference.windowProbe(side, labeled, "embedding", "cl", nProbe))
    val cent = VectorOps.ivfCentroids(labeled, "vec_id", "embedding", "cl")
    val vecs = labeled.select(col("vec_id"), col("embedding"))
    assert(probePairs(VectorOps.ivfAssign(labeled, "vec_id", "embedding", "cl", nProbe)) == ref,
      s"nProbe=$nProbe ivfAssign diverges from the window probe")
    assert(probePairs(VectorOps.ivfAssignDriven(vecs, "vec_id", "embedding", cent, nProbe)) == ref,
      s"nProbe=$nProbe ivfAssignDriven diverges from the window probe")
    val queries = labeled.filter(col("vec_id") < 10)
    assert(knnProbed(queries, labeled, nProbe) == ref.filter(_._1 < 10),
      s"nProbe=$nProbe knnIvf probes other clusters than the window probe")
  }

  test("driven probe equals window ivfAssign on the live fixture (q69 pipeline shape)") {
    val labeled = q69Labeled()
    for (nProbe <- Seq(1, 2, 3)) assertProbesMatch(labeled, nProbe)
  }

  test("driven probe tie-breaks like the window form when rounded scores collide") {
    import spark.implicits._
    // all centroids equal per label group → every cosine rounds identically,
    // so selection is decided purely by the (score desc, cl asc) tie-break
    val vecs = (0L until 40L)
      .map(i => (i, Array(1f, (i % 4).toFloat / 100f), (i % 5).toInt))
      .toDF("vec_id", "embedding", "cl")
    for (nProbe <- Seq(2, 4)) assertProbesMatch(vecs, nProbe)
    // a double-typed vector column is probed in doubles, not narrowed
    val doubles = vecs.withColumn("embedding", col("embedding").cast("array<double>"))
    val cent = VectorOps.ivfCentroids(doubles, "vec_id", "embedding", "cl")
    for (nProbe <- Seq(2, 4)) {
      val side = doubles.select(col("vec_id").as("id"), col("embedding"))
      assert(probePairs(VectorOps.ivfAssignDriven(doubles, "vec_id", "embedding", cent, nProbe)) ==
        probePairs(VectorReference.windowProbe(side, doubles, "embedding", "cl", nProbe)),
        s"nProbe=$nProbe double-typed probe diverges")
    }
  }

  test("driven bucketed near-dup pairs equal the label-driven form") {
    val labeled = q69Labeled()
    val cent = VectorOps.ivfCentroids(labeled, "vec_id", "embedding", "cl")
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // reference: the exact pairs whose members share a window-probed cluster
    val probed = VectorReference.windowProbe(
      labeled.select(col("vec_id").as("id"), col("embedding")), labeled, "embedding", "cl", 2)
    val shared = probed.as("a").join(probed.as("b"), "cl")
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    val viaLabels = rows(VectorReference.nearDupPairs(labeled, "vec_id", "embedding", 0.45)
      .join(shared, Seq("id_a", "id_b")).select("id_a", "id_b", "cos").orderBy("id_a", "id_b"))
    val viaCent = rows(VectorOps.nearDupPairsBucketedDriven(
      Tables.embeddings(spark, sfDir), "vec_id", "embedding", cent, 0.45))
    assert(viaCent.nonEmpty)
    assert(viaLabels == viaCent)
  }

  /** The embeddings labeled by q69's fit: kmeans at k = ⌈√N⌉, 3 rounds. */
  private def q69Labeled(): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val k = math.ceil(math.sqrt(e.count().toDouble)).toInt
    val kc = VectorOps.kmeansTrain(Tables.widen(e), "vec_id", "embedding", k, 3)
    val fitted = VectorOps.kmeansAssign(Tables.widen(e), "vec_id", "embedding", kc)
      .select(col("id").as("vec_id"), col("cl"))
    e.join(fitted, "vec_id")
  }
}
