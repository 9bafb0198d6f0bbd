package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftshim.PlanShim

/** Opt-in optimizer rule: rewrite exact `count(DISTINCT x)` to
  * HyperLogLog++ (`approx_count_distinct`, default 5% relative SD).
  *
  * Why a RULE and not a code change: exact distinct aggregation is the
  * right default, but its physical plan shuffles the distinct values
  * themselves (a two-stage distinct aggregate; with mixed aggregates an
  * Expand that multiplies the input) — at 100 TB an NDV dashboard query
  * pays a terabyte shuffle for a number nobody reads past two
  * significant digits. Flipping `graft.approxCountDistinct=true` on the
  * session turns every single-column count-distinct in every downstream
  * query — SQL, notebooks, dashboards — into the mergeable-sketch form
  * (one narrow pass, bytes per group) without touching query text. The
  * conf gates it because the rewrite is a SEMANTIC relaxation: results
  * are deterministic (same sketch, same data ⇒ same number) but
  * approximate, so the caller must opt in. SCOPE CAVEAT: the flag is
  * read at OPTIMIZATION time, so it applies to every query that
  * COMPILES on the session while set — including other threads'. Opt
  * in on a session whose whole workload accepts the relaxation; for a
  * scoped opt-in, plan on a child session (`PlanShim.withConfs`: shared
  * SparkContext and cache, isolated conf), as q157 does.
  *
  * Scope guard: only a single-child `Count(DISTINCT x)` rewrites; the
  * multi-column form `count(DISTINCT a, b)` has no HLL equivalent and is
  * left exact, as is everything when the conf is unset. An aggregate
  * with MULTIPLE distinct groups (`count(DISTINCT a), count(DISTINCT
  * b)`) is expanded by the core optimizer's RewriteDistinctAggregates
  * before a post-hoc rule runs and therefore also stays exact — the
  * relaxation deliberately targets the single-NDV dashboard shape. The
  * FILTER clause rides through unchanged. Injected by [[GraftExtensions]]
  * (`injectOptimizerRule`, so it also covers sessions built from
  * `spark.sql.extensions`); [[ApproxDistinct.install]] retrofits an
  * already-built session via `experimental.extraOptimizations`.
  */
case class ApproxCountDistinctRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!spark.conf.get(ApproxDistinct.Flag, "false").toBoolean) plan
    else plan.transform {
      case agg: Aggregate =>
        // the single-group guard must live IN the rule, not be an
        // accident of batch ordering: via injectOptimizerRule this runs
        // in the operator-optimization batch BEFORE the core optimizer's
        // RewriteDistinctAggregates, where a multi-group aggregate is
        // still in its original form and the naive transform would
        // silently approximate BOTH groups (the post-hoc
        // extraOptimizations path sees them already expanded, hiding
        // the bug from tests that only exercise that path)
        val distinctGroups = agg.aggregateExpressions.flatMap(_.collect {
          case ae: AggregateExpression if ae.isDistinct =>
            ae.aggregateFunction.children
        }).distinct
        if (distinctGroups.size != 1) agg
        else agg.transformExpressions {
          case AggregateExpression(Count(Seq(child)), mode, true, filter, id) =>
            AggregateExpression(
              HyperLogLogPlusPlus(child), mode, isDistinct = false, filter, id)
        }
    }
}

object ApproxDistinct {
  val Flag = "graft.approxCountDistinct"

  /** Idempotently add the rule to an already-built session. A cloned
    * session inherits its parent's rule, which reads the PARENT's flag,
    * so only a rule bound to this session counts as installed.
    */
  def install(spark: SparkSession): Unit = {
    val have = spark.experimental.extraOptimizations.exists {
      case r: ApproxCountDistinctRule => r.spark eq spark
      case _ => false
    }
    if (!have)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ ApproxCountDistinctRule(spark)
  }

  /** Registered form (q157): the NDV dashboard query written with plain
    * `count(DISTINCT ...)`, executed under the opt-in rule — the test
    * that the relaxation reaches real query text, not just the spec.
    *
    * The flag is set on a PRIVATE CHILD SESSION, never on the caller's
    * (round-10 stress finding): it is read at OPTIMIZATION time, so on
    * the caller's session it rewrites any exact count(DISTINCT)
    * compiling CONCURRENTLY — q143's arm_size came back as the HLL
    * estimate (83 vs exactly 79) in the 4-thread catalog stress. The
    * query EXECUTES in the child and its
    * result returns as a local relation: a frame rebound to the caller
    * would be re-planned there — by the harness's later actions
    * (Bench's `.count()`, Verify's `repartition(1).write`) — without
    * the rule it exists to prove. The collect is bounded by the
    * event-type vocabulary (dashboard-sized by construction).
    */
  def q157NdvAutoApprox(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val events = PlanShim.withConfs(graft.Tables.events(spark, dir), Flag -> "true")
    install(events.sparkSession)
    // ONE distinct aggregate by design: the rule's scope guard leaves
    // multi-group aggregates exact (see ApproxCountDistinctRule)
    val df = events
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("ndv_users"),
        count(lit(1)).as("n_rows"))
      .orderBy("event_type")
    require(df.queryExecution.optimizedPlan.toString.contains("approx_count_distinct"),
      "q157 must run through the ApproxCountDistinctRule rewrite")
    val rows = df.collect()
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }
}
