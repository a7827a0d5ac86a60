package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Event-time input normalization: every graft event operator does its time
 * arithmetic on an epoch-NANOS long `ts` (integral, engine-exact — see
 * [[Events]]), but a real events table may carry `ts` as a native
 * TIMESTAMP / TIMESTAMP_NTZ column (the regenerated testdata does:
 * parquet `timestamp[us]` → Spark `timestamp_ntz`). This is the ONE
 * place that accepts any of the encodings and hands the operators the
 * long they expect:
 *
 *  - `LongType` — already epoch nanos (legacy TIMESTAMP(NANOS) parquet
 *    read with `nanosAsLong`, see [[graft.GraftSession]]): passthrough,
 *    zero plan cost.
 *  - `TimestampType` — an instant; `unix_micros`.
 *  - `TimestampNTZType` — a naive wall-clock; interpreted as UTC (exactly
 *    DuckDB's `epoch_us(ts)` on the same parquet). The cast→from_utc pair
 *    makes the result independent of `spark.sql.session.timeZone`: the
 *    cast subtracts the session-tz offset, `from_utc_timestamp` adds the
 *    same offset back.
 *  - `DateType` — midnight UTC of that day.
 *  - narrower integrals — widened (assumed already in the declared unit).
 *
 * Applied at the gates' load boundary ([[graft.gates.Shared.t]]) and at every
 * [[Events]] / [[graft.streaming.EventStreams]] public entry point, so
 * library users can pass either representation. Works on streaming
 * DataFrames too (pure projection, no state).
 */
object EventTime {

  /** Timestamp-typed column → epoch-MICROS long column. */
  def microsLong(c: Column, dt: DataType): Column = dt match {
    case LongType => c
    case IntegerType | ShortType => c.cast(LongType)
    case TimestampType => unix_micros(c)
    case TimestampNTZType =>
      unix_micros(from_utc_timestamp(c.cast(TimestampType), expr("current_timezone()")))
    case DateType => unix_date(c).cast(LongType) * lit(86400L * 1000000L)
    case other =>
      throw new IllegalArgumentException(
        s"event-time column must be integral, TIMESTAMP, TIMESTAMP_NTZ or DATE; got $other")
  }

  /** `ts`-typed column → epoch-NANOS long column. */
  def nanosLong(c: Column, dt: DataType): Column = dt match {
    case LongType => c
    case IntegerType | ShortType => c.cast(LongType)
    case other => microsLong(c, other) * lit(1000L)
  }

  /** Normalize `colName` (default `ts`) in-place to epoch-nanos long.
    * No-op (the same DataFrame, not even a projection) when the column is
    * already a long or absent. */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema.find(_.name == colName).map(_.dataType) match {
      case None | Some(LongType) => df
      case Some(dt) => df.withColumn(colName, nanosLong(col(colName), dt))
    }

  /** Normalize a MICROS-contract time column (the `tsCol` parameter of
    * [[Events.asOfJoin]] / [[Events.funnel]] / [[Events.rangeJoin]] and
    * friends): timestamp-typed input → epoch-micros long; integral input
    * passes through untouched (it is already in the caller's declared µs
    * unit). */
  def normalizeMicros(df: DataFrame, colName: String): DataFrame =
    df.schema.find(_.name == colName).map(_.dataType) match {
      case None | Some(LongType) | Some(IntegerType) | Some(ShortType) => df
      case Some(dt) => df.withColumn(colName, microsLong(col(colName), dt))
    }
}
