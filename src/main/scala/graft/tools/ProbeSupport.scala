package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared plumbing for the dev-only scale probes (ScaleStress,
  * Scale100Probe, Sf1Soak, RefitProbe) — one definition of wall-clock
  * timing, noop materialization, id-offset replication and the
  * build-once parquet cache, instead of a copy per tool. */
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
}
