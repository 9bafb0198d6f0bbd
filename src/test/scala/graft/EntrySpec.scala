package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** Driver-contract invariants. */
class EntrySpec extends SparkSpec {

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("selected narrows the catalog to the listed names and refuses unknown ones") {
    assert(SparkEntry.selected(None).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.selected(Some("q24_ngram_jaccard, q13_clean_text")).map(_._1) ==
      Seq("q13_clean_text", "q24_ngram_jaccard"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selected(Some("q13_clean_txt,q24_ngram_jaccard")))
    assert(e.getMessage.contains("'q13_clean_txt'"), e.getMessage)
  }

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all registered queries return rows on sf0.001") {
    val empty = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      if (n == 0) Some(name) else None
    }
    assert(empty.isEmpty, s"empty results: $empty")
  }

  test("dot_product is SQL-registered and matches the Column API") {
    graft.functions.GraftFunctions.register(spark)
    Tables.embeddings(spark, sfDir).limit(5).createOrReplaceTempView("emb_t")
    val viaSql = spark.sql(
      "SELECT vec_id, dot_product(embedding, embedding) AS d FROM emb_t ORDER BY vec_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    import org.apache.spark.sql.functions.col
    val viaApi = Tables.embeddings(spark, sfDir).limit(5)
      .select(col("vec_id"),
        graft.functions.DotProduct(col("embedding"), col("embedding")).as("d"))
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaSql.toSeq == viaApi.toSeq)
    assert(viaSql.forall { case (_, d) => math.abs(d - 1.0) < 1e-3 }) // unit vectors
  }

  test("compression_ratio is SQL-registered and matches the Column API") {
    graft.functions.GraftFunctions.register(spark)
    Tables.documents(spark, sfDir).limit(5).createOrReplaceTempView("docs_cr")
    val viaSql = spark.sql(
      "SELECT doc_id, compression_ratio(text) AS r FROM docs_cr ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    import org.apache.spark.sql.functions.col
    val viaApi = Tables.documents(spark, sfDir).limit(5)
      .select(col("doc_id"),
        graft.text.TextAnalysis.compressionRatio(col("text")).as("r"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaSql.toSeq == viaApi.toSeq)
    assert(viaSql.forall { case (_, r) => r > 0.0 && r <= 1.1 })
  }

  test("GraftExtensions injects dot_product at session build time") {
    import org.apache.spark.sql.SparkSession
    spark.sparkContext // ensure the shared context exists first
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // same JVM/SparkContext, fresh session state with the extension
      val s2 = SparkSession.builder()
        .master("local[4]").appName("graft-ext")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      val d = s2.sql(
        "SELECT dot_product(CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>), " +
          "CAST(array(3.0, 4.0) AS ARRAY<DOUBLE>)) AS d").head().getDouble(0)
      assert(d == 11.0)
      assert(s2.sql("SELECT clean_text('<p>x</p> y?!! [1] z-\n w')").head().getString(0) ==
        "x y! zw")
      // do NOT stop s2 — it shares the JVM-wide SparkContext
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("multimodal stub decode is deterministic and schema-stable") {
    val d1 = Multimodal.decode(Multimodal.mediaTable(spark, sfDir))
    val d2 = Multimodal.decode(Multimodal.mediaTable(spark, sfDir))
    assert(d1.schema == d2.schema)
    assert(d1.orderBy("doc_id").collect().toSeq == d2.orderBy("doc_id").collect().toSeq)
    val r = Multimodal.withResizePlan(d1).filter(col("media_type") === "image").head()
    assert(r.getAs[Int]("out_w") <= 256 && r.getAs[Int]("out_h") <= 256)
  }

  test("media dedup summary: accounting identities per type, zero-dup reads as zero reclaim") {
    val rows = Multimodal.q141MediaDedup(spark, sfDir).collect()
      .map(r => (r.getAs[String]("media_type"), r.getAs[Long]("n_items"),
        r.getAs[Long]("n_distinct"), r.getAs[Long]("n_dup_groups"),
        r.getAs[Long]("bytes_reclaimable")))
    assert(rows.map(_._1).sorted.toSeq == Seq("audio", "image", "video"))
    rows.foreach { case (tpe, items, distinct, dupGroups, reclaim) =>
      assert(distinct <= items, s"$tpe: distinct cannot exceed items")
      assert(dupGroups <= items - distinct || (dupGroups == 0 && items == distinct),
        s"$tpe: each dup group hides at least one extra copy")
      if (items == distinct)
        assert(dupGroups == 0 && reclaim == 0, s"$tpe: no dups means nothing to reclaim")
    }
    assert(rows.map(_._2).sum ==
      spark.read.parquet(s"$sfDir/documents.parquet").count())
  }
}
