package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/**
 * `SparkSessionExtensions` injection point — the deployment analogue of the
 * reference's `register_all_extra_functions(ctx)`: it injects every graft
 * SQL function [[GraftFunctions.registerAll]] registers (the one
 * [[GraftFunctions.sqlFunctions]] table), the [[graft.plans.ExactRound]]
 * rewrite and the as-of planner strategy.
 *
 * {{{
 *   spark.sql.extensions=graft.functions.GraftExtensions
 * }}}
 *
 * Spark reads this static conf only from the SparkContext's conf, so it
 * must be set before the first session (and with it the SparkContext)
 * starts — in `spark-defaults.conf` or on `spark-submit` — and then every
 * session of the application has the functions with no per-session
 * registration call. A `SparkSession.builder().config(...)` made after a
 * SparkContext is running injects nothing; there, build the session with
 * `SparkSession.builder().withExtensions(new GraftExtensions)`, or call
 * [[GraftFunctions.registerAll]] on it.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    // allocation-free round(double) at scale 0, bit-identical to Spark's
    ext.injectOptimizerRule(_ => graft.plans.ExactRound)
    // whole-operator extension: plans AsOfJoinNode -> AsOfJoinExec
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
