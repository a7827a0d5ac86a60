package graft

import org.scalatest.funsuite.AnyFunSuite

/** Building a gate's DataFrame is lazy: it runs no Spark job. An eager
  * load, count or checkpoint added to a gate's construction fails here. */
class ConstructionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = SparkTestSession.sf0001

  /** The gates of the benchmark's gate_mix workload. */
  private val gateMix = Seq("q_mode_int", "q_mode_string", "q_skewness",
    "q_corr", "q_hll_distinct", "q_tpch_q1", "q_tpch_q3", "q_jaro_winkler",
    "q_bpe_encode", "q_sessionize", "q_cosine_topk")

  /** The reference aggregates' gates. */
  private def aggregateGates: Seq[String] =
    graft.gates.ReferenceGates.gates.map(_.name)

  test("building a gate runs no Spark job once its tables have been loaded") {
    val gates = (gateMix ++ aggregateGates).distinct.sorted
    assert(gates.size >= 25, gates)
    // the first load of each table infers its parquet schema (one job)
    gates.foreach(g => SparkEntry.queries(g)(spark, dir))
    val jobs = SparkTestSession.jobsPerKey(gates)(g => SparkEntry.queries(g)(spark, dir))
    val eager = jobs.filter(_._2 > 0)
    assert(eager.isEmpty, s"gates that ran jobs while being built: $eager")
  }
}
