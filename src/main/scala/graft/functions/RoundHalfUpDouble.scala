package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/**
 * `round(x)` (scale 0, HALF_UP) on a double without allocating: the
 * same bits as Spark's `Round`, which computes
 * `BigDecimal.valueOf(x).setScale(0, HALF_UP).doubleValue()` per row.
 *
 *  - NaN, ±Inf and `|x| ≥ 2^52` return `x`: they are already integral.
 *  - Otherwise `f = floor(|x|)`, `r = (|x| − f ≥ 0.5) ? f + 1 : f`, and
 *    the result is `copySign(r, x) + 0.0` (a zero result is +0.0, as
 *    the BigDecimal round trip has no negative zero).
 *
 * Why this is exact. Spark rounds the decimal string `d` of
 * `Double.toString(x)`, not `x`. HALF_UP on `|d|` picks the integer `n`
 * with `n − 0.5 ≤ |d| < n + 0.5`, away from zero on ties. For
 * `|x| < 2^52` every candidate bound `n ± 0.5` is itself a double, and a
 * double is never the midpoint between two adjacent doubles. `d` parses
 * back to `x`, so it lies in `x`'s rounding interval, which holds no
 * other double; hence `d` compares with each bound exactly as `x` does.
 * An exact half `x = k + 0.5` prints as `k.5`: its interval is narrower
 * than ±0.25, so one fractional digit identifies it. So Spark's `n` is
 * the HALF_UP integer of `|x|`. On our side `floor` is exact, `|x| − f`
 * is exact (`f = 0`, or `|x|/2 ≤ f ≤ |x|` and Sterbenz's lemma), and
 * `f + 1 ≤ 2^52` is exact, so `r` is that same integer, and the
 * BigDecimal's `doubleValue()` of an integer `≤ 2^52` is exact too.
 *
 * The child is evaluated once, so a non-deterministic child such as
 * `rand()` draws once per row. [[graft.plans.ExactRound]] installs it.
 */
object RoundHalfUpKernel {
  private val Integral = 4503599627370496.0 // 2^52

  def round(x: Double): Double = {
    val a = Math.abs(x)
    if (!(a < Integral)) x
    else {
      val f = Math.floor(a)
      val r = if (a - f >= 0.5) f + 1.0 else f
      Math.copySign(r, x) + 0.0
    }
  }
}

/** Spark's `round(x)` on a double, allocation-free and codegen'd; see
  * [[RoundHalfUpKernel]] for the exactness argument. */
case class RoundHalfUpDouble(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_round_half_up"

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.DoubleArg.check(prettyName, child.dataType)

  override protected def nullSafeEval(x: Any): Any =
    RoundHalfUpKernel.round(x.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.functions.RoundHalfUpKernel.round($x)")

  override protected def withNewChildInternal(newChild: Expression): RoundHalfUpDouble =
    copy(child = newChild)
}
