package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("compression ratio: repetition compresses tighter, bounds hold, deterministic") {
    val rep = ("spam " * 200).trim                // highly repetitive
    val varied = (1 to 200).map(i => s"w${i * 7919 % 9973}").mkString(" ")
    val rows = Seq(("rep", rep), ("var", varied), ("empty", ""))
      .toDF("k", "t")
      .select(col("k"), TextAnalysis.compressionRatio(col("t")).as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows("empty") == 0.0)
    assert(rows("rep") > 0.0 && rows("var") > 0.0)
    assert(rows("rep") < rows("var") / 2,
      s"repetitive text must compress far tighter: ${rows("rep")} vs ${rows("var")}")
    assert(rows("var") <= 1.1, s"deflate overhead bound exceeded: ${rows("var")}")
    // deterministic across invocations (thread-local Deflater reset per row)
    val again = Seq(("rep", rep)).toDF("k", "t")
      .select(TextAnalysis.compressionRatio(col("t"))).as[Double].head()
    assert(again == rows("rep"))
  }
}
