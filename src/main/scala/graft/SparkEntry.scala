package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.gates._
import graft.gates.Shared.t

/**
 * Driver contract: every operator in SURVEY.md §2 is exposed as a named
 * query with a DuckDB oracle. Column names are aliased identically on both
 * sides; float aggregates are rounded to 6 dp on both sides; ties are made
 * deterministic on both sides (struct-ordered max_by / explicit ORDER BY).
 *
 * Each gate is declared once, as a [[graft.gates.Gate]] in the object of
 * its family under `graft.gates`; `queries` and `oracleSql` are two views
 * of that one table.
 */
object SparkEntry {

  /** Flagship: stats dashboard over lineitem — every reference aggregate in
    * one pass (single shuffle, all map-side combinable). */
  def entry(spark: SparkSession): DataFrame = {
    GraftFunctions.registerAll(spark)
    val li = t(spark, "/root/testdata/sf0.001", "lineitem")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 6).as("sum_qty"),
        GraftFunctions.mode_agg(col("l_linenumber")).as("mode_linenumber"),
        round(GraftFunctions.skewness_samp(col("l_extendedprice")), 6).as("skew_price"),
        round(GraftFunctions.kurtosis_samp(col("l_extendedprice")), 6).as("kurt_price"),
        round(GraftFunctions.kurtosis_pop(col("l_discount")), 6).as("kurt_pop_disc"),
        GraftFunctions.max_by_det(col("l_orderkey"), col("l_extendedprice")).as("max_price_order"))
  }

  /** The gate maps are built through this instead of `Map(...)`, which
    * silently keeps the last of two entries under one key. */
  private[graft] def uniqueKeys[V](entries: (String, V)*): Map[String, V] = {
    val repeated = entries.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(repeated.isEmpty,
      s"defined more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    entries.toMap
  }

  /** Every gate, keyed by name; a name declared in two families (or twice
    * in one) throws, naming it. */
  private[graft] def table(families: Seq[Gate]*): Map[String, Gate] =
    uniqueKeys(families.flatten.map(g => g.name -> g): _*)

  /** Built once per JVM: perfbench looks a gate up inside every timed
    * execution, and the table holds all 316 oracle strings. */
  private[graft] lazy val gates: Map[String, Gate] = table(
    ReferenceGates.gates, RelationalGates.gates, DedupGates.gates,
    TextGates.gates, SimilarityGates.gates, EventGates.gates,
    GraphGates.gates, StatsGates.gates, MultimodalGates.gates)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { case (name, g) => name -> g.build }

  lazy val oracleSql: Map[String, String] =
    gates.map { case (name, g) => name -> g.oracle }

  /** Throws, naming them, if any of `names` is not a gate. */
  private[graft] def requireGates(names: Set[String]): Unit = {
    val unknown = names -- gates.keySet
    require(unknown.isEmpty, s"no such gate: ${unknown.toSeq.sorted.mkString(", ")}")
  }
}
