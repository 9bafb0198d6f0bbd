package graft.query

import graft.{SparkSpec, Tables}
import graft.dedup.Dedup
import org.apache.spark.sql.functions._

class RetrievalSpec extends SparkSpec {

  /** Eval set mirroring FIXTURES.md §6: query = text of one member of a
    * planted near-dup pair, expected = the OTHER member.
    */
  private def nearDupEvalSet = {
    val docs = Tables.documents(spark, sfDir)
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .select(col("doc_a"), col("doc_b"))
    pairs
      .join(docs.select(col("doc_id").as("doc_a"), col("text")), "doc_a")
      .select(col("doc_a").as("query_id"), col("text").as("query_text"),
        col("doc_b").as("expected_doc"))
  }

  test("recall@10 >= 0.80 on the near-dup eval set (reference quality gate)") {
    // the gate mirrors continuous.py:35-36 (recall@10 >= 0.80)
    val evalSet = nearDupEvalSet
    assert(evalSet.count() >= 10, "need a meaningful eval set")
    val recall = Retrieval.recallAtK(Retrieval.buildIndex(spark, sfDir), evalSet, 10)
    assert(recall >= 0.80, s"recall@10 = $recall")
  }

  test("pipeline is embedder-agnostic: swapping the model is a constructor arg, zero plumbing diffs") {
    // the reference's real SentenceTransformer slots into the same trait
    // seam — prove it by running the IDENTICAL recall pipeline with the
    // second (fixed-weight linear projection) embedder and the default
    // hashing embedder, changing nothing but the trait instance
    val docs = Tables.documents(spark, sfDir)
    val evalSet = nearDupEvalSet
    val linear = new graft.embed.LinearProjectionEmbedder()
    val recallLinear = Retrieval.recallAtK(
      Retrieval.buildIndex(spark, sfDir, embedder = linear), evalSet, 10, embedder = linear)
    assert(recallLinear >= 0.80,
      s"recall@10 with the linear-projection embedder = $recallLinear")
    // both embedders produce the contract schema through the same plumbing
    val q = docs.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("text").as("query_text"))
    val outLinear = Retrieval.retrieve(q,
      Retrieval.buildIndex(spark, sfDir, embedder = linear), k = 3, embedder = linear)
    val outHash = Retrieval.retrieve(q,
      Retrieval.buildIndex(spark, sfDir), k = 3)
    assert(outLinear.schema == outHash.schema)
    assert(outLinear.count() > 0 && outHash.count() > 0)
  }

  test("pipeline is dimension-agnostic: the full recall gate passes at 256-d — nothing hard-codes 384") {
    // the reference's model dimension (384) appears ONLY as the default
    // constructor argument of the embedders; prove the index build,
    // broadcast-cosine retrieve, cascade, re-rank, and recall gate all
    // run end-to-end at a different dimension behind the same trait,
    // with zero plumbing diffs — for BOTH embedder implementations
    val evalSet = nearDupEvalSet
    for (e <- Seq(new graft.embed.HashingEmbedder(dim = 256),
                  new graft.embed.LinearProjectionEmbedder(dim = 256))) {
      val recall = Retrieval.recallAtK(
        Retrieval.buildIndex(spark, sfDir, embedder = e), evalSet, 10, embedder = e)
      assert(recall >= 0.80,
        s"recall@10 at 256-d with ${e.getClass.getSimpleName} = $recall")
    }
    // and the vectors really are 256-wide end-to-end (index and query side)
    val e256 = new graft.embed.HashingEmbedder(dim = 256)
    val idx = Retrieval.buildIndex(spark, sfDir, embedder = e256)
    val widths = idx.select(size(col("vec")).as("w")).distinct().collect().map(_.getInt(0))
    assert(widths.toSeq == Seq(256), s"index vec widths: ${widths.toSeq}")
    val q = Tables.documents(spark, sfDir).filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("text").as("query_text"))
    val out = Retrieval.retrieve(q, idx, k = 3, embedder = e256)
    assert(out.count() > 0)
  }

  test("flagship pipeline: every query packs within the token budget") {
    val out = Retrieval.flagship(spark, sfDir)
    val rows = out.collect()
    assert(rows.nonEmpty)
    val maxRun = rows.map(_.getAs[Long]("run_tokens")).max
    assert(maxRun <= 800)
    // ranks are dense from 1 within each query
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      val ranks = rs.map(_.getAs[Int]("rank")).sorted
      assert(ranks.head == 1 && ranks.toSeq == (1 to ranks.length))
    }
  }

  test("zero-norm safety: whitespace query retrieves without crashing; index holds no empty passage") {
    import spark.implicits._
    val idx = Retrieval.buildIndex(spark, sfDir)
    // a token-less passage would hash-embed to the zero vector; buildIndex
    // must have dropped any such passage at the source
    assert(idx.filter(trim(col("passage")) === "").count() == 0)
    // a whitespace query embeds to the zero vector: the cosine zero-guard
    // scores it 0.0 everywhere (below both cascade tiers → zero hits) and
    // the run must not throw ANSI DIVIDE_BY_ZERO
    val realText = Tables.documents(spark, sfDir)
      .filter(col("doc_id") === 0).select("text").head().getString(0)
    val queries = Seq((100L, "   "), (101L, realText)).toDF("query_id", "query_text")
    val res = Retrieval.retrieve(queries, idx, k = 3).collect()
    assert(!res.exists(_.getAs[Long]("query_id") == 100L), "zero query below both tiers")
    assert(res.exists(_.getAs[Long]("query_id") == 101L), "real query still retrieves")
  }

  test("retrieve honors k and the over-fetch pool keeps scores ordered by re-rank") {
    val docs = Tables.documents(spark, sfDir)
    val queries = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text").as("query_text"))
    val idx = Retrieval.buildIndex(spark, sfDir)
    val res = Retrieval.retrieve(queries, idx, k = 4).collect()
    res.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      assert(rs.length <= 4)
      val byRank = rs.sortBy(_.getAs[Int]("rank"))
      val re = byRank.map(_.getAs[Double]("re_score"))
      assert(re.zip(re.tail).forall { case (a, b) => a >= b })
    }
  }
}
