package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge between custom Catalyst `Expression`s and the public `Column`
  * API. Spark 4 made the converters `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so extension
  * libraries expose them through a child package — the same approach
  * Spark-native connectors use.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` as a plain Catalyst tree, for SQL function builders: they run
    * inside analysis, where the `ColumnNodeExpression` wrapper that
    * `expression` leaves around Column-API functions is never converted.
    */
  def catalyst(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
