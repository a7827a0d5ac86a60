package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{EventTime, Events}

/** Round-trip proof that the library accepts timestamp-typed event input
  * (the r10 gate-breaking schema: the driver regenerated `events.ts` as
  * parquet `timestamp[us]`, which Spark reads as TIMESTAMP_NTZ, while all
  * event operators compute on an epoch-nanos long). The normalization
  * boundary is [[graft.ops.EventTime]]. */
class EventTimeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // epoch-nanos events: user 7 at 0/10/50 min (30-min gap → 2 sessions)
  private def longEv = Seq(
    (1L, 0L * 60 * 1000000000L, 7L, "view", 1.0),
    (2L, 10L * 60 * 1000000000L, 7L, "click", 2.0),
    (3L, 50L * 60 * 1000000000L, 7L, "view", 4.0),
    (4L, 5L * 60 * 1000000000L, 8L, "view", 8.0)
  ).toDF("event_id", "ts", "user_id", "event_type", "value")

  /** The same events with `ts` as TIMESTAMP_NTZ, round-tripped through
    * parquet exactly like the testdata (naive wall-clock ≡ UTC). */
  private def ntzEvFromParquet = {
    val dir = Files.createTempDirectory("graft-ntz").toFile.getAbsolutePath
    longEv
      .withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    assert(df.schema("ts").dataType == TimestampNTZType,
      s"parquet round-trip should read timestamp_ntz, got ${df.schema("ts").dataType}")
    df
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("normalizeTs: long passthrough is the SAME DataFrame (no plan cost)") {
    val df = longEv
    assert(EventTime.normalizeTs(df) eq df)
  }

  test("normalizeTs: timestamp_ntz parquet → identical epoch-nanos longs") {
    val n = EventTime.normalizeTs(ntzEvFromParquet)
    assert(n.schema("ts").dataType == LongType)
    assert(rows(n.select("event_id", "ts")) == rows(longEv.select("event_id", "ts")))
  }

  test("normalizeTs: TIMESTAMP (instant) input → same epoch-nanos longs") {
    val tz = longEv.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    assert(tz.schema("ts").dataType == TimestampType)
    val n = EventTime.normalizeTs(tz)
    assert(rows(n.select("event_id", "ts")) == rows(longEv.select("event_id", "ts")))
  }

  test("normalizeTs: ntz interpretation is session-timezone independent") {
    val ntz = ntzEvFromParquet
    val utc = rows(EventTime.normalizeTs(ntz).select("event_id", "ts"))
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      assert(rows(EventTime.normalizeTs(ntz).select("event_id", "ts")) == utc)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("sessionize / retention / sessionWindows agree between long and ntz input") {
    val ntz = ntzEvFromParquet
    assert(rows(Events.sessionize(ntz)) == rows(Events.sessionize(longEv)))
    assert(rows(Events.retention(ntz)) == rows(Events.retention(longEv)))
    assert(rows(Events.sessionWindows(ntz)) == rows(Events.sessionWindows(longEv)))
  }

  test("asOfJoin accepts a timestamp-typed tsCol (micros contract)") {
    val clicksL = Seq((1L, 100L, "c1"), (1L, 200L, "c2"), (1L, 50L, "c0"), (2L, 100L, "c9"))
      .toDF("k", "tsu", "tag")
    val looksL = Seq((1L, 150L, "l1"), (1L, 40L, "l2"), (2L, 100L, "l3"))
      .toDF("k", "tsu", "lab")
    val asTs = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("tsu", timestamp_micros(col("tsu")))
    val expected = rows(DeclarativeAsOf.asOfJoin(looksL, clicksL, "k", "tsu", Seq("tag")))
    assert(rows(Events.asOfJoin(looksL, clicksL, "k", "tsu", Seq("tag"))) == expected)
    assert(rows(Events.asOfJoin(asTs(looksL), asTs(clicksL), "k", "tsu", Seq("tag")))
      == expected)
  }

  test("streaming withEventTime accepts ntz input (batch-plan check)") {
    val et = graft.streaming.EventStreams.withEventTime(ntzEvFromParquet)
    assert(rows(et.select("event_id", "event_time")) ==
      rows(graft.streaming.EventStreams.withEventTime(longEv)
        .select("event_id", "event_time")))
  }
}
