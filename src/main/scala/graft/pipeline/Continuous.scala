package graft.pipeline

import graft.Tables
import graft.dedup.Dedup
import graft.query.Retrieval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The orchestrated continuous flow (reference continuous_nas,
  * SURVEY §3.3): ingest → build index → eval snapshot with a hard
  * quality gate. Driver-side orchestration of three Spark jobs; the gate
  * is an assertion over a 1-row aggregate, exactly mirroring
  * `continuous.py:35-36` (`recall@10 ≥ 0.80 or the flow fails`).
  */
object Continuous {

  final case class FlowResult(indexedPassages: Long, recallAt10: Double)

  /** Run the flow over the fixture corpus. Throws IllegalStateException
    * below the quality gate, like the reference raising ValueError.
    */
  def run(spark: SparkSession, dir: String, gate: Double = 0.80): FlowResult = {
    // 1. ingest + index (clean → split → embed); the cache is released on
    //    every exit, the gate's throw included, so repeated runs in one
    //    session leave no dead cache entries behind
    val index = Retrieval.buildIndex(spark, dir).cache()
    try {
      val nPassages = index.count()

      // 2. eval snapshot: near-dup pairs give (query, expected) with a
      //    known-good answer (FIXTURES.md §6 — the reference's eval file is
      //    absent from its repo, so the fixture derives one)
      val docs = Tables.documents(spark, dir)
      val evalSet = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.9)
        .join(docs.select(col("doc_id").as("doc_a"), col("text")), "doc_a")
        .select(col("doc_a").as("query_id"), col("text").as("query_text"),
          col("doc_b").as("expected_doc"))
      val recall = Retrieval.recallAtK(index, evalSet, 10)

      // 3. the gate
      if (recall < gate)
        throw new IllegalStateException(
          f"recall@10 $recall%.4f below quality gate $gate%.2f")
      FlowResult(nPassages, recall)
    } finally index.unpersist(blocking = false)
  }
}
