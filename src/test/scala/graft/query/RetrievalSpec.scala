package graft.query

import graft.{SparkSpec, Tables}
import graft.dedup.Dedup
import graft.embed.Embedder
import graft.vector.VectorOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
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

  /** Reference `retrieve` at its default thresholds (0.30, else 0.15):
    * the scored cross product with both norms recomputed per (query,
    * passage) pair by `VectorOps.cosine`, then the over-fetch pool, the
    * widening cascade and the lexical re-rank as the production body
    * writes them.
    */
  private def referenceRetrieve(queries: DataFrame, index: DataFrame, k: Int): DataFrame = {
    val (tHigh, tLow) = (0.30, 0.15)
    val q = Embedder.withEmbedding(
      queries.select(col("query_id"), col("query_text")), "query_text", "qv")
    val scored = broadcast(q).crossJoin(
        index.select(col("doc_id"), col("passage_id"), col("passage"), col("vec")))
      .withColumn("score", VectorOps.cosine(col("qv"), col("vec")))
    val pool = math.max(2 * k, k + 4)
    val wPool = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc, col("passage_id").asc)
    val wQ = Window.partitionBy("query_id")
    val hits = scored.withColumn("rk", row_number().over(wPool))
      .filter(col("rk") <= pool)
      .withColumn("qmax", max("score").over(wQ))
      .filter((col("qmax") >= tHigh && col("score") >= tHigh) ||
              (col("qmax") <  tHigh && col("score") >= tLow))
      .drop("qmax")
    val overlap = size(array_intersect(
        split(lower(col("query_text")), "\\s+"),
        split(lower(col("passage")), "\\s+"))).cast("double") /
      greatest(size(split(lower(col("query_text")), "\\s+")), lit(1)).cast("double")
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("re_score").desc, col("score").desc, col("doc_id").asc, col("passage_id").asc)
    hits.withColumn("re_score", round(overlap, 4))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "passage_id", "score", "re_score", "passage")
  }

  private def assertSameAsReference(queries: DataFrame, index: DataFrame, k: Int): Unit = {
    def rows(df: DataFrame) =
      df.collect().toSeq.sortBy(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")))
    val got = Retrieval.retrieve(queries, index, k)
    val want = referenceRetrieve(queries, index, k)
    assert(got.schema == want.schema)
    val (g, w) = (rows(got), rows(want))
    assert(w.nonEmpty || queries.count() == 0)
    assert(g == w, s"retrieve differs from the reference:\n got ${g.mkString("\n     ")}\n want ${w.mkString("\n     ")}")
  }

  test("retrieve equals the reference body row for row: corpus, tie-heavy index, zero-norm query") {
    import spark.implicits._
    // the flagship's inputs: the first 5 documents against the sf index
    val docs = Tables.documents(spark, sfDir)
    val first5 = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("text").as("query_text"))
    assertSameAsReference(first5, Retrieval.buildIndex(spark, sfDir), 12)

    // duplicate texts under different (doc_id, passage_id) score exactly
    // alike. For "alpha beta" the three "alpha…" copies score highest
    // but overlap only half the query words; the six copies of the
    // longer passage tie below them and overlap all of it. At k = 3 the
    // pool keeps max(6, 7) = 7 rows, which ends inside that tie group,
    // and the re-rank then puts the group's pooled rows first
    val long = "alpha beta gamma delta epsilon zeta"
    val passages =
      Seq.tabulate(3)(i => (10L + i, 0, "alpha alpha alpha alpha")) ++
      Seq.tabulate(6)(i => (20L + i / 2, i % 2, long)) ++
      Seq((30L, 0, "eta theta iota kappa"), (31L, 0, "alpha lambda mu nu"))
    val tieIndex = Embedder.withEmbedding(
      passages.toDF("doc_id", "passage_id", "passage"), "passage", "vec")
    val tieQueries = Seq(
      (1L, "alpha beta"), (2L, long), (3L, "lambda mu eta"), (4L, "   "))
      .toDF("query_id", "query_text")
    for (k <- Seq(1, 3, 5))
      assertSameAsReference(tieQueries, tieIndex, k)
    val cut = Retrieval.retrieve(tieQueries.filter(col("query_id") === 1L), tieIndex, 3)
      .orderBy("rank").select("doc_id", "passage_id").as[(Long, Int)].collect().toSeq
    assert(cut == Seq((20L, 0), (20L, 1), (21L, 0)), s"pool cut: $cut")

    // a whitespace query embeds to the zero vector: 0.0 against every
    // passage, so neither side keeps a row for it
    val zero = Seq((100L, "   "), (101L, "")).toDF("query_id", "query_text")
    assertSameAsReference(zero.union(first5.filter(col("query_id") === 0L)),
      Retrieval.buildIndex(spark, sfDir), 4)
  }
}
