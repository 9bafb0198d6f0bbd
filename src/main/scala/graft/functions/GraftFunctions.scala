package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.ColumnShim

/** SQL-surface registration for the library's custom Catalyst
  * expressions and Column chains, so `spark.sql("... dot_product(a, b)
  * ...")` works exactly like the Column API. (The SparkSessionExtensions injection point would
  * do the same at session build time; temp-function registration keeps it
  * usable on an already-built session.)
  */
object GraftFunctions {
  /** Wrong-arity calls must fail analysis with the expected signature —
    * `exprs.head` alone turns `clean_text()` into an opaque
    * NoSuchElementException and silently ignores extra arguments.
    */
  private[graft] def checkArity(name: String, signature: String, n: Int)(
      exprs: Seq[Expression]): Unit =
    if (exprs.length != n)
      throw new IllegalArgumentException(
        s"$name expects exactly $n argument${if (n == 1) "" else "s"} — " +
          s"$name($signature); got ${exprs.length}")

  /** `clean_text(text)`: the `CleanText.cleanText` chain's expression. */
  private[graft] def cleanText(exprs: Seq[Expression]): Expression = {
    checkArity("clean_text", "text STRING", 1)(exprs)
    ColumnShim.catalyst(graft.text.CleanText.cleanText(ColumnShim.column(exprs.head)))
  }

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", { exprs =>
        checkArity("dot_product", "a ARRAY<FLOAT>, b ARRAY<FLOAT>", 2)(exprs)
        DotProduct(exprs.head, exprs(1))
      }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "clean_text", cleanText, "built-in")
    // scalar UDFs with no Catalyst expression form (zlib): same name
    // surface for SQL users as the Column API
    spark.udf.register("compression_ratio",
      graft.text.TextAnalysis.compressionRatioScala _)
  }
}
