package graft.plans

import graft.sql.{CardinalitySketchAgg, SketchHashing}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Optional Catalyst rule (SURVEY.md §4.2): rewrite Spark's built-in
  * `approx_count_distinct` (HyperLogLogPlusPlus) to this library's adaptive
  * sketch aggregate. Off by default; enable per session with
  * `spark.graft.rewriteApproxCountDistinct=true`. Existing queries then get
  * exact answers up to 128 distinct per group and the measured ~10% faster
  * aggregation, with no code changes.
  *
  * relativeSD -> precision via the same HLL error model as the SQL
  * `ce_approx_distinct(col, relativeSD)` overload
  * (`graft.functions.precisionForRelativeSD`).
  */
case class RewriteApproxCountDistinct(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    spark.conf.getOption("spark.graft.rewriteApproxCountDistinct").contains("true")

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) plan
    else plan.transformAllExpressions {
      case ae @ AggregateExpression(
            hll: HyperLogLogPlusPlus, _, false, None, _)
          if hll.child.resolved && SketchHashing.supported(hll.child.dataType) =>
        ae.copy(aggregateFunction = CardinalitySketchAgg(hll.child,
          p = graft.functions.precisionForRelativeSD(hll.relativeSD), emitEstimate = true))
    }
  }
}
