package perfbench

import org.apache.spark.sql.SparkSession

import graft.pipeline.{Continuous, Ingest}
import graft.query.Retrieval

/** Computes the values `pins.json` holds, for `pin.py`: the write
  * statistics of every ingest salt, the daily flow's result and each
  * catalog query's result digest. Each catalog query's result is also
  * written as parquet next to its oracle SQL, in the layout
  * `tools/check.py` compares against DuckDB.
  *
  * Usage: perfbench.Pins --data <dir> --work <dir> --out <dir>
  */
object Pins {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val (data, work, out) = (opts("data"), opts("work"), opts("out"))
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val base = graft.Tables.documents(spark, s"$data/sf0.1")
      val ingest = Inputs.SaltPool.map { salt =>
        val dir = Inputs.writeBatch(base, salt, 0L, s"$work/batch$salt")
        val (rows, tokens, nulls) = Ingest.observedWrite(Retrieval.buildIndex(spark, dir), "passage", s"$work/out$salt")
        salt.toString -> Seq(rows, tokens, nulls)
      }.toMap
      val catalogDir = s"$data/${Workloads.CatalogScale}"
      val flow = Continuous.run(spark, catalogDir)
      val evalQueries = graft.dedup.Dedup.jaccardPairs(
        graft.Tables.documents(spark, catalogDir), "doc_id", "text", 3, 0.9).count()
      val oracle = graft.SparkEntry.oracleSql
      val catalog = Workloads.CatalogRows.filter(_._1 != Workloads.FlowRow).map { case (row, _) =>
        val df = graft.SparkEntry.queries(row)(spark, catalogDir)
        df.write.mode("overwrite").parquet(s"$out/$row")
        row -> Workloads.digest(graft.SparkEntry.queries(row)(spark, catalogDir))._1
      }.toMap
      val sql = Workloads.CatalogRows.filter(_._1 != Workloads.FlowRow).flatMap { case (row, _) => oracle.get(row).map(row -> _) }.toMap
      val w = new java.io.PrintWriter(s"$out/oracle_sql.json")
      try w.write(Json(sql)) finally w.close()
      println("PERFBENCH_PINS " + Json(Map("ingest" -> ingest, "flow" -> Map(
        "passages" -> flow.indexedPassages, "recall_at_10" -> flow.recallAt10,
        "eval_queries" -> evalQueries), "catalog" -> catalog)))
    } finally spark.stop()
  }
}
