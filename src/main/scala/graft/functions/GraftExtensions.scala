package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.DoubleType

/**
 * `SparkSessionExtensions` injection point — the deployment analogue of the
 * reference's `register_all_extra_functions(ctx)`
 * (/root/reference/src/lib.rs:56-70), but wired through Spark's config:
 *
 * {{{
 *   spark.sql.extensions=graft.functions.GraftExtensions
 * }}}
 *
 * makes every graft SQL function available in EVERY session of the cluster
 * (no per-session registration call), which is how a shared 1000-executor
 * deployment would ship this library.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "agg_funcs", "4.1.0", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    val fns: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
      ("graft_kurtosis", "sample bias-corrected excess kurtosis",
        args => GraftKurtosis(Cast(args.head, DoubleType))),
      ("graft_kurtosis_pop", "population excess kurtosis",
        args => GraftKurtosisPop(Cast(args.head, DoubleType))),
      ("graft_skewness", "sample bias-corrected skewness",
        args => GraftSkewness(Cast(args.head, DoubleType))),
      ("graft_mode", "most frequent value (reference tie-break)",
        args => GraftMode(args.head)),
      ("graft_vector_mean", "element-wise mean of array<double> vectors",
        args => VectorMean(Cast(args.head,
          org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = true)))),
      ("graft_vector_outer_sum",
        "exact covariance sufficient stats of quantized array<bigint> vectors",
        args => VectorOuterSum(args.head)),
      ("kurtosis_samp", "sample bias-corrected excess kurtosis",
        args => GraftKurtosis(Cast(args.head, DoubleType))),
      ("kurtosis_pop", "population excess kurtosis",
        args => GraftKurtosisPop(Cast(args.head, DoubleType))),
      ("skewness_samp", "sample bias-corrected skewness",
        args => GraftSkewness(Cast(args.head, DoubleType)))
    )
    fns.foreach { case (name, usage, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        info(name, usage),
        (args: Seq[Expression]) => {
          require(args.size == 1, s"$name requires exactly 1 argument, got ${args.size}")
          builder(args)
        }))
    }
    // allocation-free round(double) at scale 0, bit-identical to Spark's
    ext.injectOptimizerRule(_ => graft.plans.ExactRound)
    // whole-operator extension: plans AsOfJoinNode -> AsOfJoinExec
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
