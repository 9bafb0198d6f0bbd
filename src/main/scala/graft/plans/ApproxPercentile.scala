package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, ApproximatePercentile, Percentile}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftshim.PlanShim

/** Opt-in optimizer rule: rewrite exact `percentile(x, p)` (and the
  * forms the analyzer lowers to it — `median`, `percentile_cont`) to
  * the Greenwald–Khanna sketch (`percentile_approx`, default accuracy
  * 10000). Second member of the flag-scoped relaxation family started
  * by [[ApproxCountDistinctRule]] — same seam, different aggregate —
  * proving the rule family is a framework, not a one-off.
  *
  * Why: exact percentile materializes EVERY value of every group in the
  * aggregation buffer (an OpenHashMap per group) — at 100 TB a latency
  * dashboard's p99 pays memory proportional to group cardinality and a
  * full-width shuffle for a number read to two significant digits. The
  * sketch form is bounded state (≤ ~accuracy entries per group) and
  * mergeable, the same shape argument as count-distinct → HLL++.
  *
  * Semantics of the relaxation, stated honestly: the sketch returns an
  * ACTUAL data value nearest the requested rank (within accuracy bound)
  * where the exact form linearly interpolates between neighbors; for
  * groups smaller than `accuracy` the sketch holds all values and the
  * difference is interpolation only. Deterministic: same data, same
  * percentiles ⇒ same number. SCOPE CAVEAT (shared with
  * [[ApproxCountDistinctRule]]): the flag is read at optimization time
  * and applies to every query COMPILING on the session while set —
  * other threads' included; scope a targeted opt-in to a child session
  * (`PlanShim.withConfs`), as q159 does.
  *
  * Exact-stays-exact boundaries (each spec-pinned):
  *  - flag unset/false — no rewrite anywhere;
  *  - `percentile(DISTINCT x, p)` — no sketch equivalent over the
  *    distinct multiset; stays exact;
  *  - `percentile(x, p, frequency)` with a non-unit frequency — the
  *    sketch has no weighted insert; stays exact;
  *  - `percentile_cont(p) WITHIN GROUP (ORDER BY x DESC)` (reverse) —
  *    stays exact;
  *  - percentile as a WINDOW function (`percentile(x, p) OVER (...)`)
  *    — lives in a Window node, not an Aggregate; the rule never
  *    touches it (windowed percentile recomputes per frame, where the
  *    sketch's amortization argument doesn't apply).
  *
  * The rewrite wraps the sketch in a Cast back to the exact form's
  * result type (DOUBLE / ARRAY<DOUBLE>): `percentile` over an integer
  * column yields DOUBLE while `percentile_approx` yields the column
  * type, and an optimizer rule must not change the plan's schema out
  * from under resolved parent operators. FILTER clauses ride through
  * unchanged. Injected by [[GraftExtensions]]; [[ApproxPercentile
  * .install]] retrofits an already-built session.
  */
case class ApproxPercentileRule(spark: SparkSession) extends Rule[LogicalPlan] {
  /** True iff the frequency expression is a compile-time constant 1 —
    * evaluated via foldable+eval rather than a syntactic Literal match,
    * so a frequency the optimizer WOULD fold to 1 (e.g. `2 - 1`, a cast
    * of 1) also qualifies regardless of where this rule sits relative
    * to ConstantFolding (round-8 ADVICE boundary finding). A
    * non-foldable frequency (per-row column) is never 1-by-construction
    * and stays on the exact path.
    */
  private def unitFrequency(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.foldable && (e.eval() match {
      case v: Long  => v == 1L
      case v: Int   => v == 1
      case v: Short => v == 1
      case v: Byte  => v == 1
      case _        => false
    })

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!spark.conf.get(ApproxPercentile.Flag, "false").toBoolean) plan
    else plan.transform {
      case agg: Aggregate => agg.transformExpressions {
        case AggregateExpression(p: Percentile, mode, false, filter, id)
            if unitFrequency(p.frequencyExpression) && !p.reverse =>
          Cast(
            AggregateExpression(
              new ApproximatePercentile(p.child, p.percentageExpression),
              mode, isDistinct = false, filter, id),
            p.dataType)
      }
    }
}

object ApproxPercentile {
  val Flag = "graft.approxPercentile"

  /** Idempotently add the rule to an already-built session; a rule a
    * cloned session inherited from its parent does not count (see
    * `ApproxDistinct.install`).
    */
  def install(spark: SparkSession): Unit = {
    val have = spark.experimental.extraOptimizations.exists {
      case r: ApproxPercentileRule => r.spark eq spark
      case _ => false
    }
    if (!have)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ ApproxPercentileRule(spark)
  }

  /** Registered form (q159): the latency-dashboard query written with
    * plain `percentile(...)`, executed under the opt-in rule in a
    * private child session — q157's discipline (the flag never reaches
    * the caller's session, and the result returns as a local relation
    * because a frame the caller re-plans would silently run exact).
    * The collect is bounded by the event-type vocabulary.
    *
    * Pin determinism: at the driver's sf0.01 gate every event-type
    * group is far below the sketch's 10k accuracy, so the summary holds
    * all values exactly and the result is independent of shuffle merge
    * order — the literal pin is stable.
    */
  def q159PercentileAutoApprox(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val events = PlanShim.withConfs(graft.Tables.events(spark, dir), Flag -> "true")
    install(events.sparkSession)
    val df = events
      .groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("p50_value"),
        expr("percentile(value, 0.95)").as("p95_value"),
        count(lit(1)).as("n_rows"))
      .orderBy("event_type")
    require(df.queryExecution.optimizedPlan.toString.contains("percentile_approx"),
      "q159 must run through the ApproxPercentileRule rewrite")
    val rows = df.collect()
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }
}
