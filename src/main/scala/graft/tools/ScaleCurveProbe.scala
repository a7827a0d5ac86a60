package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Dev probe (r19, VERDICT #3): synthesize a FULL ×10 test-data
  * directory ("synthetic sf1") so the gate queries can be timed one
  * decade above the bench SF at different core counts — the parallel-
  * scaling evidence the sf0.1 bench cannot produce (its inputs are
  * 1-3 parquet row groups and every heavy kernel is already sub-second
  * after fan-out).
  *
  * Replication recipes (all deterministic):
  *  - documents ([[replicaText]], shared with [[Sf1Soak]]): replica k
  *    suffixes an md5-selected ~30% of tokens with the replica id, so
  *    replica pairs share ~34% of 3-shingles (below every near-dup
  *    threshold; no candidate flood) while corpus statistics track the
  *    original. All columns kept (lang/source/n_chars ride along).
  *  - embeddings ([[replicaEmbedding]]): replica k rotates the vector
  *    by k·6 elements — near-orthogonal to the base, norm preserved.
  *  - lineitem / events / orders: id-shifted copies (values unchanged —
  *    these feed aggregates, not near-dup joins).
  *  - dimension tables: copied as-is.
  *
  * Usage: runMain graft.tools.ScaleCurveProbe <srcDir> <workDir>
  * — generates workDir once (skips tables that exist), then exit; then
  * profile gates against workDir at each SPARK_GRAFT_CPUS with
  * `perfbench.Main --kind gates --gates <list> --data <workDir>
  * --trace 1` (README, "Profiling a gate").
  */
object ScaleCurveProbe {

  /** Every row of `df` once per replica k ∈ 0..9 (column `k`). */
  def replicas(df: DataFrame): DataFrame =
    df.crossJoin(df.sparkSession.range(10).select(col("id").cast("int").as("k")))

  /** Replica k's copy of id column `name`: shifted by k·`stride`. */
  def replicaId(name: String, stride: Long): Column =
    (col(name) + col("k").cast("long") * stride).as(name)

  /** Replica k's `text`: k = 0 keeps it; otherwise an md5-selected ~30%
    * of its tokens get the suffix "q<k>". */
  def replicaText: Column =
    when(col("k") === 0, col("text")).otherwise(
      concat_ws(" ", transform(split(col("text"), " "), w =>
        when(conv(substring(md5(concat(w, lit("_"),
            col("k").cast("string"))), 1, 4), 16, 10) % 10 < 3,
          concat(w, lit("q"), col("k").cast("string"))).otherwise(w))))
      .as("text")

  /** Replica k's 64-dim `embedding`, rotated by k·6 elements. */
  def replicaEmbedding: Column =
    when(col("k") === 0, col("embedding")).otherwise(
      concat(
        slice(col("embedding"), col("k") * 6 + 1, lit(64) - col("k") * 6),
        slice(col("embedding"), lit(1), col("k") * 6))).as("embedding")

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_sfcurve"
    val spark = GraftSession.local()
    new java.io.File(workDir).mkdirs()
    def gen(name: String)(build: => DataFrame): Unit = {
      val path = s"$workDir/$name.parquet"
      if (new java.io.File(path).exists()) { println(s"[curve] $name: exists"); return }
      val t0 = System.nanoTime()
      build.write.mode("overwrite").parquet(path)
      println(f"[curve] $name: generated in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    def src(name: String) = spark.read.parquet(s"$srcDir/$name.parquet")

    gen("documents") {
      replicas(src("documents")).select(replicaId("doc_id", 10000000L),
        replicaText, col("lang"), col("source"), col("n_chars"))
    }
    gen("embeddings") {
      replicas(src("embeddings")).select(replicaId("vec_id", 10000000L),
        replicaEmbedding, col("label"))
    }
    gen("lineitem") {
      replicas(src("lineitem")).select(replicaId("l_orderkey", 100000000L),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    }
    gen("events") {
      replicas(src("events")).select(replicaId("event_id", 100000000L),
        col("ts"), replicaId("user_id", 10000000L),
        col("event_type"), col("value"), col("props"))
    }
    gen("orders") {
      val o = src("orders")
      replicas(o).select(
        replicaId(o.columns.head, 100000000L) +: o.columns.tail.map(col): _*)
    }
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      gen(t) { src(t) }
    spark.stop()
  }
}
