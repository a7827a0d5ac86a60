package graft.functions

import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/**
 * Distributive power-sum aggregate state: (n, Σx, Σx², Σx³[, Σx⁴]).
 *
 * Spark-native re-expression of the reference's accumulator model
 * (/root/reference/src/kurtosis.rs:110-130, skewness.rs:105-140): the
 * update/merge/evaluate triple becomes pure Catalyst expressions, so the
 * whole aggregate participates in whole-stage codegen and map-side partial
 * aggregation — the state merged across 1000 executors is 4-5 doubles per
 * group, which is the minimum possible shuffle for these statistics.
 */
abstract class PowerSumAggregate extends DeclarativeAggregate
    with UnaryLike[Expression] {

  def child: Expression
  /** number of power sums kept (3 for skewness, 4 for kurtosis). */
  protected def nSums: Int

  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType

  protected val n = AttributeReference("n", DoubleType, nullable = false)()
  protected val s1 = AttributeReference("s1", DoubleType, nullable = false)()
  protected val s2 = AttributeReference("s2", DoubleType, nullable = false)()
  protected val s3 = AttributeReference("s3", DoubleType, nullable = false)()
  protected val s4 = AttributeReference("s4", DoubleType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    n +: Seq(s1, s2, s3, s4).take(nSums)

  override lazy val initialValues: Seq[Expression] =
    Seq.fill(nSums + 1)(Literal(0.0))

  override lazy val updateExpressions: Seq[Expression] = {
    val x = child
    val updated: Seq[Expression] = Seq(
      n + Literal(1.0),
      s1 + x,
      s2 + x * x,
      s3 + x * x * x,
      s4 + x * x * x * x
    ).take(nSums + 1)
    updated.zip(aggBufferAttributes).map { case (u, cur) => If(IsNull(x), cur, u) }
  }

  override lazy val mergeExpressions: Seq[Expression] =
    aggBufferAttributes.map(a => a.left + a.right)

  protected def nullD: Expression = Literal.create(null, DoubleType)

  /** The (m4, m2) central moments of the kurtosis forms, from the sums. */
  protected def kurtosisMoments: (Expression, Expression) = {
    val t1 = Literal(1.0) / n
    val m4 = t1 * (s4 - Literal(4.0) * s3 * s1 * t1 +
      Literal(6.0) * s2 * s1 * s1 * t1 * t1 -
      Literal(3.0) * s1 * s1 * s1 * s1 * t1 * t1 * t1)
    val m2 = (s2 - s1 * s1 * t1) * t1
    (m4, m2)
  }
}

/**
 * Excess kurtosis (Fisher), sample bias-corrected — semantics of the
 * reference's `kurtosis` (/root/reference/src/kurtosis.rs:167-190):
 * n ≤ 3 → NULL; m2 ≤ 0 → NULL; else
 * (n-1)·((n+1)·m4/m2² − 3(n-1)) / ((n-2)(n-3)).
 */
case class GraftKurtosis(child: Expression) extends PowerSumAggregate {
  override protected def nSums: Int = 4
  override def prettyName: String = "graft_kurtosis"

  override lazy val evaluateExpression: Expression = {
    val (m4, m2) = kurtosisMoments
    val num = (n - Literal(1.0)) *
      ((n + Literal(1.0)) * m4 / (m2 * m2) - Literal(3.0) * (n - Literal(1.0)))
    val den = (n - Literal(2.0)) * (n - Literal(3.0))
    If(n <= Literal(3.0), nullD, If(m2 <= Literal(0.0), nullD, num / den))
  }

  override protected def withNewChildInternal(newChild: Expression): GraftKurtosis =
    copy(child = newChild)
}

/**
 * Excess kurtosis (Fisher), population (no bias correction) — semantics of
 * the reference's `kurtosis_pop` (/root/reference/src/kurtosis_pop.rs:166-184):
 * n < 1 → NULL; m2 ≤ 0 → NULL; else m4/m2² − 3.
 */
case class GraftKurtosisPop(child: Expression) extends PowerSumAggregate {
  override protected def nSums: Int = 4
  override def prettyName: String = "graft_kurtosis_pop"

  override lazy val evaluateExpression: Expression = {
    val (m4, m2) = kurtosisMoments
    If(n < Literal(1.0), nullD,
      If(m2 <= Literal(0.0), nullD, m4 / (m2 * m2) - Literal(3.0)))
  }

  override protected def withNewChildInternal(newChild: Expression): GraftKurtosisPop =
    copy(child = newChild)
}

/**
 * Sample skewness, bias-corrected — semantics of the reference's `skewness`
 * (/root/reference/src/skewness.rs:139-166):
 * n ≤ 2 → NULL; √(max(m2,0)³) = 0 → NULL; else
 * (√(n(n-1))/(n-2)) · (1/n) · (Σx³ − 3Σx²Σx/n + 2(Σx)³/n²) / √(m2³).
 */
case class GraftSkewness(child: Expression) extends PowerSumAggregate {
  override protected def nSums: Int = 3
  override def prettyName: String = "graft_skewness"

  override lazy val evaluateExpression: Expression = {
    val t1 = Literal(1.0) / n
    val m2 = t1 * (s2 - s1 * s1 * t1)
    val p = Greatest(Seq(m2 * m2 * m2, Literal(0.0)))
    val div = Sqrt(p)
    val t2 = Sqrt(n * (n - Literal(1.0))) / (n - Literal(2.0))
    val res = t2 * t1 *
      (s3 - Literal(3.0) * s2 * s1 * t1 + Literal(2.0) * s1 * s1 * s1 * t1 * t1) / div
    If(n <= Literal(2.0), nullD, If(div === Literal(0.0), nullD, res))
  }

  override protected def withNewChildInternal(newChild: Expression): GraftSkewness =
    copy(child = newChild)
}
