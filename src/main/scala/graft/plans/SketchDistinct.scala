package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Opt-in "sketch mode": an optimizer rule that rewrites exact
  * `COUNT(DISTINCT x)` into `approx_count_distinct(x)` (HyperLogLog++)
  * when the session flag is set — the standard 100 TB trade: exact
  * distinct plans an Expand (rows × distinct-columns) and shuffles every
  * distinct value; the sketch is one pass with a few-KB mergeable buffer
  * per group and a documented relative error.
  *
  * OFF by default: the oracle-checked queries keep exact semantics. A
  * session opts in per workload:
  * {{{
  *   spark.conf.set(SketchDistinct.FlagKey, "true")   // + install(spark)
  * }}}
  *
  * Registration: `install(spark)` hooks an existing session via
  * `spark.experimental.extraOptimizations`; `GraftExtensions` is the
  * `spark.sql.extensions=graft.plans.GraftExtensions` path for sessions
  * created with the config (spark-submit / connect deployments).
  */
object SketchDistinct extends Rule[LogicalPlan] {

  val FlagKey = "spark.graft.sketch.countDistinct"

  /** HLL++ relative standard deviation used for the rewrite. */
  val RelativeSD = 0.05

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(FlagKey, "false").toBoolean) plan
    else plan.transformAllExpressions {
      case AggregateExpression(c: Count, mode, true, filter, id) if c.children.size == 1 =>
        AggregateExpression(
          HyperLogLogPlusPlus(c.children.head, RelativeSD),
          mode, isDistinct = false, filter, id)
    }

  /** Hook the rule into an already-running session (idempotent). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => SketchDistinct)
  }
}
