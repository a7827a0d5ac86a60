package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.functions.RoundHalfUpDouble

/**
 * Optimizer rule: `round(x)` on a double at scale 0 becomes
 * [[RoundHalfUpDouble]], bit-identical to Spark's `Round` without its
 * per-row `BigDecimal`. That is the shape of every exact integer-scaled
 * float sum in this library, `sum(round(x * 10^k).cast("long"))`.
 *
 * Everything else stays Spark's `Round`: a non-zero scale (exactness
 * would need a near-tie fallback), `bround`, and float or decimal
 * inputs. The output holds no matching `Round`, so the rule is
 * idempotent. Installed per session by
 * [[graft.functions.GraftFunctions.registerAll]] and cluster-wide by
 * [[graft.functions.GraftExtensions]].
 */
object ExactRound extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Round(child, Literal(0, IntegerType), _) if child.dataType == DoubleType =>
        RoundHalfUpDouble(child)
    }
}
