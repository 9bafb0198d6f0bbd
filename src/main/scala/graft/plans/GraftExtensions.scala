package graft.plans

import graft.functions.{DotProduct, GraftFunctions}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-build-time integration (`SparkSession.builder()
  * .withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`): registers the
  * library's custom Catalyst expressions into the function registry so
  * every session — SQL, thrift, notebooks — sees them natively. The
  * runtime alternative for an already-built session is
  * `GraftFunctions.register`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => {
        GraftFunctions.checkArity(
          "dot_product", "a ARRAY<FLOAT>, b ARRAY<FLOAT>", 2)(exprs)
        DotProduct(exprs.head, exprs(1))
      }))
    e.injectFunction((
      FunctionIdentifier("clean_text"),
      new ExpressionInfo(graft.text.CleanText.getClass.getName, "clean_text"),
      GraftFunctions.cleanText))
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // opt-in relaxation family: count(DISTINCT) -> HLL++ and exact
    // percentile -> GK sketch (see ApproxDistinct / ApproxPercentile)
    e.injectOptimizerRule(ApproxCountDistinctRule)
    e.injectOptimizerRule(ApproxPercentileRule)
  }
}
