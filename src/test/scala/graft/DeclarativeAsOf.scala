package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{EventTime, Events}

/**
 * The union + running-`last` window forms of graft's as-of joins: the
 * reference the specs hold [[Events.asOfJoin]], [[Events.asOfJoinForward]]
 * and [[Events.asOfJoinNearest]] to. Each is built from Spark built-ins
 * only, so it states the contract without sharing a line with the
 * sort-merge operator it checks. No graft code calls them.
 */
object DeclarativeAsOf {

  /** Backward as-of: both sides union into one stream ordered by
    * (key, ts, side) with the right side sorting FIRST at equal ts
    * (<= semantics); a running `last(..., ignoreNulls)` carries the most
    * recent right values onto each left row. Output: key, ts, the other
    * left columns, then `asof_<tsCol>` and `asof_<c>` per value column. */
  def asOfJoin(
      left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, valueCols: Seq[String]): DataFrame = {
    val (sides, leftCols) = asOfSides(left, right, keyCol, tsCol, valueCols)
    val w = Window
      .partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = valueCols.foldLeft(sides) { (df, c) =>
      df.withColumn(s"asof_$c", last(when(col("__side") === 0, col(c)), ignoreNulls = true).over(w))
    }
    val asofTs = last(when(col("__side") === 0, col(tsCol)), ignoreNulls = true).over(w)
    carried
      .withColumn(s"asof_$tsCol", asofTs)
      .filter(col("__side") === 1)
      .select(
        (Seq(col(keyCol), col(tsCol)) ++ leftCols.map(col) ++
          (s"asof_$tsCol" +: valueCols.map(c => s"asof_$c")).map(col)): _*)
  }

  /** The one stream the window forms run over: left rows (`__side` 1)
    * and right rows (`__side` 0) unioned by name, each side null-padded
    * with the other's columns. Returns it with the left columns other
    * than key and ts.
    *
    * NULL right keys and timestamps can never satisfy
    * `l.k = r.k AND r.ts <= l.ts` (SQL semantics, as in the ASOF
    * oracle), so those rows are filtered out up front: a null-ts row
    * would otherwise let the running `last(..., ignoreNulls)` carry its
    * VALUES while skipping its null ts, and a null-key row would match
    * the null-key left rows of its window partition. NULL LEFT ts rows
    * sort first in their key group, so nothing precedes them and they
    * carry nulls; NULL left keys find no right row in their group. */
  private def asOfSides(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, valueCols: Seq[String]): (DataFrame, Seq[String]) = {
    val leftN = EventTime.normalizeMicros(left, tsCol)
    val rightClean = EventTime.normalizeMicros(right, tsCol)
      .filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
    val leftCols = left.columns.toSeq.filterNot(c => c == keyCol || c == tsCol)
    val l = leftN
      .withColumn("__side", lit(1))
      .select(
        (Seq(col(keyCol), col(tsCol), col("__side")) ++
          leftCols.map(col) ++
          valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(c))): _*)
    val r = rightClean
      .withColumn("__side", lit(0))
      .select(
        (Seq(col(keyCol), col(tsCol), col("__side")) ++
          leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
          valueCols.map(col)): _*)
    (l.unionByName(r), leftCols)
  }

  /** Forward as-of: the mirror of [[asOfJoin]] under time negation. */
  def asOfJoinForward(
      left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, valueCols: Seq[String]): DataFrame = {
    val nl = EventTime.normalizeMicros(left, tsCol).withColumn(tsCol, -col(tsCol))
    val nr = EventTime.normalizeMicros(right, tsCol).withColumn(tsCol, -col(tsCol))
    asOfJoin(nl, nr, keyCol, tsCol, valueCols)
      .withColumn(tsCol, -col(tsCol))
      .withColumn(s"asof_$tsCol", -col(s"asof_$tsCol"))
  }

  /** Nearest as-of: both directional carries over ONE union frame — the
    * ascending window computes the latest right <= ts, the descending
    * window the earliest right >= ts (right rows sort before the left
    * row at equal ts in BOTH passes: inclusive boundaries; NULL left ts
    * sort first in both, so they carry nulls). Backward wins a tie. */
  def asOfJoinNearest(
      left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, valueCols: Seq[String]): DataFrame = {
    val (sides, leftCols) = asOfSides(left, right, keyCol, tsCol, valueCols)
    val wB = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).desc_nulls_first, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCarries = valueCols.foldLeft(sides) { (df, c) =>
      df.withColumn(s"__b_$c", last(when(col("__side") === 0, col(c)), ignoreNulls = true).over(wB))
        .withColumn(s"__f_$c", last(when(col("__side") === 0, col(c)), ignoreNulls = true).over(wF))
    }
      .withColumn("__b_ts", last(when(col("__side") === 0, col(tsCol)), ignoreNulls = true).over(wB))
      .withColumn("__f_ts", last(when(col("__side") === 0, col(tsCol)), ignoreNulls = true).over(wF))
    // choose backward when forward is absent, or both exist and the
    // backward distance is <= the forward distance (tie → earlier)
    val chooseB = col("__f_ts").isNull ||
      (col("__b_ts").isNotNull &&
        (col(tsCol) - col("__b_ts")) <= (col("__f_ts") - col(tsCol)))
    withCarries
      .filter(col("__side") === 1)
      .select(
        (Seq(col(keyCol), col(tsCol)) ++ leftCols.map(col) ++
          (when(chooseB, col("__b_ts")).otherwise(col("__f_ts")).as(s"asof_$tsCol") +:
            valueCols.map(c =>
              when(chooseB, col(s"__b_$c")).otherwise(col(s"__f_$c")).as(s"asof_$c")))): _*)
  }
}
