package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Shared plumbing for the dev-only scale probes (ScaleStress,
  * Scale100Probe, Sf1Soak, RefitProbe) and the specs that replay their
  * reference implementations — one definition of wall-clock timing,
  * noop materialization, id-offset replication and the r11
  * single-window "naive" forms, instead of a copy per tool. */
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

  /** The r11 single-window reference implementation of
    * [[TextOps.budgetSelect]] — kept as the answer-identity oracle for
    * the r12 bucket-decomposed rewrite (correct, but serializes each
    * source through one sort partition; never use at scale). */
  def budgetNaive(docs: DataFrame, budget: Long): DataFrame = {
    val scored = docs.select(
      col("source"), col("doc_id"),
      TextOps.qualityScore(col("text")).as("quality"),
      TextOps.tokenCountBpe(col("text")).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** The r11 single-window reference implementation of
    * [[TextOps.shardAssign]] — same role as [[budgetNaive]]. */
  def shardNaive(docs: DataFrame, nShards: Int): DataFrame = {
    val scored = docs.select(
      col("source").as("stratum"), col("doc_id"),
      TextOps.tokenCountBpe(col("text")).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("stratum"))
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    scored.withColumn("shard",
      ((row_number().over(w) - 1) % nShards).cast("int"))
  }
}
