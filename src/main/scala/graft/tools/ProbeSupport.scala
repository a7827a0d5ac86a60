package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Events

/** Shared plumbing for the dev-only scale probes (ScaleStress,
  * Scale100Probe, Sf1Soak, RefitProbe) — one definition of wall-clock
  * timing, noop materialization, id-offset replication, the build-once
  * parquet cache, the case filter and the event-join cases, instead of
  * a copy per tool. */
object ProbeSupport {

  /** Wall-clock a block and print `[tag] label  N.NN s`. */
  def time(tag: String, label: String)(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; val s = (System.nanoTime - t0) / 1e9
    println(f"[$tag] $label%-32s $s%7.2f s"); s
  }

  /** Execute the full plan, discard the rows (the bench-standard sink:
    * no driver collect, no disk write in the measured path). */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** N× replication with id columns offset per replica (offset chosen
    * above the id domain) — duplicate-heavy by construction: every
    * non-id value appears N times under distinct ids, the adversarial
    * shape for dedup/pair workloads. The replica frame is broadcast, so
    * replication is a map-side explode, never a shuffle. */
  def replicate(df: DataFrame, idCols: Seq[String], n: Int,
      offset: Long = 10000000000L): DataFrame = {
    val reps = df.sparkSession.range(n).select(col("id").as("__rep"))
    df.crossJoin(broadcast(reps))
      .select(df.columns.map { c =>
        if (idCols.contains(c)) (col(c) + col("__rep") * lit(offset)).as(c)
        else col(c)
      }: _*)
  }

  /** Build-once parquet cache: write `mk` to `path` if absent, read it
    * back — each path gated on its OWN existence so a killed run never
    * leaves a later attempt reading a path that was never written. */
  def materialize(spark: SparkSession, path: String,
      mk: => DataFrame): DataFrame = {
    if (!new java.io.File(path).exists())
      mk.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** A named probe case over one input frame. */
  private[tools] type Case = (String, DataFrame => DataFrame)

  /** `cases` narrowed to the comma-separated case names of a probe's
    * optional third argument; all of them when it is absent. */
  private[tools] def keep[A](args: Array[String], cases: Seq[(String, A)]): Seq[(String, A)] =
    if (args.length <= 2) cases
    else {
      val only = args(2).split(",").toSet
      cases.filter { case (n, _) => only(n) }
    }

  /** The event-join cases of the ×10 and ×100 probes, clicks against
    * purchases on µs time: the as-of join, the forward label window, the
    * SCD2 point-in-time join and the backward banded attribution with
    * its bounded per-conversion windows. */
  private[tools] val eventJoinCases: Seq[Case] = Seq(
    "asof_join" -> (e => {
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id"), expr("ts div 1000L").as("tsu"), col("event_id"))
      val p = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), expr("ts div 1000L").as("tsu"))
        .agg(round(max(col("value")), 6).as("pvalue"))
      Events.asOfJoin(c, p, "user_id", "tsu", Seq("pvalue"))
    }),
    "label_window" -> (e => {
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id"), expr("ts div 1000L").as("tsu"), col("event_id"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 1000L").as("tsu"), col("value"))
      Events.labelWindow(c, p, "user_id", "tsu", "event_id", "value",
        86400000000L)
    }),
    "point_in_time" -> (e => {
      val dim = Events.scd2Intervals(e).filter(col("event_type") === "purchase")
      val c = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), expr("ts div 1000L").as("tsu"))
      Events.pointInTimeJoin(c, dim, "user_id", "tsu", Seq("value"))
    }),
    "attribution" -> (e => {
      val touches = e.filter(col("event_type") === "click")
        .select(col("user_id"), expr("ts div 1000L").as("tsu"), col("event_id"))
      val convs = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 1000L").as("tsu"),
          col("event_id").as("conv_id"), col("value"))
      Events.attribution(touches, convs, "user_id", "tsu", "event_id",
        "conv_id", "value", 86400000000L)
    }))
}
