package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AtomicType, DataType}
import org.apache.spark.sql.{Column, SparkSession}

/**
 * Bridge into Spark's `private[sql]` Column ↔ Expression conversions
 * (org.apache.spark.sql.classic.ExpressionUtils) so the graft library can
 * expose custom Catalyst expressions as first-class `Column`s, the same
 * technique widely used by Spark ecosystem libraries.
 */
object ColumnBridge {
  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst expression backing a Column — EAGERLY: the
    * default `ExpressionUtils.expression` wraps the column node lazily,
    * which only the Dataset analyzer unwraps; expressions embedded in a
    * SQL function registry need the converted tree now. */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** `AtomicType` is `private[sql]` in Spark 4 — exposed here for type checks. */
  def isAtomic(dt: DataType): Boolean = dt.isInstanceOf[AtomicType]

  /** Analyzed logical plan behind a DataFrame (private[sql] surface). */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.DataFrame].queryExecution.analyzed

  /** Build a DataFrame over a (resolved) custom logical plan node —
    * `Dataset.ofRows` is `private[sql]`; this is the sanctioned door for
    * libraries adding whole-operator plan nodes. */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Append an experimental planner strategy once (idempotent). */
  def addStrategy(
      spark: SparkSession,
      s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s)) exp.extraStrategies ++= Seq(s)
  }

  /** Append an experimental optimizer rule once (idempotent). */
  def addOptimizerRule(
      spark: SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(r)) exp.extraOptimizations ++= Seq(r)
  }

  /**
   * Register a SQL function backed by a Catalyst expression builder in the
   * session's function registry (session-scoped, like the reference's
   * `register_all_extra_functions`, /root/reference/src/lib.rs:56).
   */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
  }
}
