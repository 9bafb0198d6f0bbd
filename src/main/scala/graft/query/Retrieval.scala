package graft.query

import graft.Tables
import graft.embed.Embedder
import graft.text.{Chunker, CleanText, TextAnalysis}
import graft.vector.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's end-to-end RAG dataflow (SURVEY §3.1/§3.2) re-expressed
  * as one declarative pipeline:
  *
  *   corpus → clean → split into passages → embed (deterministic) →
  *   index (embedded DataFrame — metadata stays IN the row, replacing the
  *   reference's fragile FAISS + pickled-sidecar positional join) →
  *   query embed → exact cosine top-k with over-fetch → threshold cascade →
  *   re-rank (deterministic lexical-overlap stand-in for the
  *   cross-encoder) → greedy token-budget context packing.
  *
  * Scale: the index is a plain partitioned DataFrame (write as parquet,
  * partition by corpus partition key); queries are broadcast; the corpus
  * is never collected — the #1 anti-pattern in the reference
  * (build_faiss.py:115-128 materializes every text in RAM).
  */
object Retrieval {

  /** Build the embedded passage index from the documents fixture.
    * Embedding runs through `Embedder.embedPartitions` — the typed
    * mapPartitions BATCH path (batch=64, mirroring the reference's
    * SentenceTransformer batching) — so the executed plan is the one the
    * scale notes preach, not a per-row UDF stand-in for it.
    */
  def buildIndex(spark: SparkSession, dir: String,
                 passageSize: Int = 300, overlap: Int = 50,
                 embedder: Embedder = Embedder.default): DataFrame = {
    import spark.implicits._
    val passages = Tables.widen(Tables.documents(spark, dir))
      .select(col("doc_id"), CleanText.cleanText(col("text")).as("clean"))
      .select(col("doc_id"),
        posexplode(Chunker.passages(col("clean"), passageSize, overlap))
          .as(Seq("passage_id", "passage")))
      // a passage with no tokens embeds to the zero vector — useless for
      // retrieval and (before the cosine zero-guard) an ANSI
      // DIVIDE_BY_ZERO at score time; drop it at the source
      .filter(trim(col("passage")) =!= "")
      .as[(Long, Int, String)]
    Embedder.embedPartitions(passages.map(r => (r, r._3)), embedder = embedder)
      .map { case ((d, p, t), v) => (d, p, t, v) }
      .toDF("doc_id", "passage_id", "passage", "vec")
  }

  /** Retrieve top-k passages for query texts with over-fetch + widening
    * threshold cascade (vector_store.py:129-162, main.py:374-381) and a
    * deterministic lexical re-rank stand-in for the cross-encoder
    * (re_rank.py:28-51).
    */
  def retrieve(queries: DataFrame, index: DataFrame, k: Int = 12,
               tHigh: Double = 0.30, tLow: Double = 0.15,
               embedder: Embedder = Embedder.default): DataFrame = {
    val q = Embedder.withEmbedding(
      queries.select(col("query_id"), col("query_text")), "query_text", "qv",
      embedder = embedder)
    val scored = broadcast(q).crossJoin(
        index.select(col("doc_id"), col("passage_id"), col("passage"), col("vec")))
      .withColumn("score", VectorOps.cosine(col("qv"), col("vec")))
    // over-fetch pool = max(2k, k+4) (vector_store.py:149-150)
    val pool = math.max(2 * k, k + 4)
    val wPool = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc, col("passage_id").asc)
    val fetched = scored.withColumn("rk", row_number().over(wPool))
      .filter(col("rk") <= pool)
    // widening cascade: high threshold, else low, per query — decided in
    // ONE pass via the per-query max score (window reuses the pool
    // partitioning, so no extra shuffle and no recompute of the scored
    // cross product for each tier)
    val wQ = Window.partitionBy("query_id")
    val hits = fetched
      .withColumn("qmax", max("score").over(wQ))
      .filter((col("qmax") >= tHigh && col("score") >= tHigh) ||
              (col("qmax") <  tHigh && col("score") >= tLow))
      .drop("qmax")
    // deterministic lexical-overlap re-rank (cross-encoder stand-in):
    // |query words ∩ passage words| / |query words|
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

  /** Greedy token-budget packing of retrieved passages (main.py:355-363):
    * running token sum in rank order, keep while ≤ budget.
    */
  def packContext(retrieved: DataFrame, budget: Int = 800): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    retrieved
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("passage")).cast("long"))
      .withColumn("run_tokens", sum("n_tokens").over(w))
      .filter(col("run_tokens") <= budget)
  }

  /** recall@k of a built passage index over an eval set of (query_id,
    * query_text, expected_doc): mirror of eval_snapshot.py:91-108 with
    * the deterministic embedder, which must be the one the index was
    * built with.
    */
  def recallAtK(index: DataFrame, evalSet: DataFrame,
                k: Int = 10, embedder: Embedder = Embedder.default): Double = {
    val hits = retrieve(
      evalSet.select(col("query_id"), col("query_text")), index, k,
      embedder = embedder)
      .join(evalSet.select(col("query_id"), col("expected_doc")), "query_id")
      .groupBy("query_id")
      .agg(max(when(col("doc_id") === col("expected_doc"), 1).otherwise(0)).as("hit"))
    hits.agg(avg("hit")).head().getDouble(0)
  }

  /** Flagship end-to-end run: self-retrieval smoke over the corpus — the
    * first 5 documents' raw text as queries against the passage index,
    * packed under the 800-token budget.
    */
  def flagship(spark: SparkSession, dir: String): DataFrame = {
    val queries = Tables.documents(spark, dir)
      .filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("text").as("query_text"))
    val index = buildIndex(spark, dir)
    packContext(retrieve(queries, index)).orderBy("query_id", "rank")
  }
}
