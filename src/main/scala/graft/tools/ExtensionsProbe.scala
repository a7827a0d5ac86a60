package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev probe: boot a session with `spark.sql.extensions=GraftExtensions`
  * and call every injected function through plain SQL — the way a cluster
  * user would meet the library. */
object ExtensionsProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val row = spark.sql(
      """SELECT graft_mode(x) AS m, graft_skewness(x) AS sk, graft_kurtosis(x) AS k,
        |       graft_kurtosis_pop(x) AS kp, kurtosis_samp(x) AS ks, skewness_samp(x) AS ss,
        |       kurtosis_pop(x) AS kp2
        |FROM VALUES (1.0),(2.0),(2.0),(3.0),(10.0) t(x)""".stripMargin).collect().head
    val vm = spark.sql(
      """SELECT graft_vector_mean(v) AS m
        |FROM VALUES (array(1.0D, 3.0D)), (array(3.0D, 5.0D)) t(v)""".stripMargin)
      .collect().head
    // the INJECTED optimizer rule: scale-0 round on a double is the
    // allocation-free expression, HALF_UP like Spark's
    // (over range, not VALUES: a local relation is folded before the rule)
    val rq = spark.sql("SELECT round(id * 1.0D - 2.5D) AS r FROM range(0, 3)")
    assert(rq.queryExecution.optimizedPlan.toString.contains("graft_round_half_up"),
      s"injected round rewrite missing: ${rq.queryExecution.optimizedPlan}")
    assert(rq.collect().map(_.getDouble(0)).toSeq == Seq(-3.0, -2.0, -1.0))
    // the INJECTED planner strategy (no per-session addStrategy call)
    // must plan a hand-built AsOfJoinNode
    import org.apache.spark.sql.graft.ColumnBridge
    val l = spark.sql("SELECT * FROM VALUES (1L, 100L, 7L) t(k, ts, ev)")
    val r2 = spark.sql("SELECT * FROM VALUES (1L, 90L, 2.5D) t(k, ts, v)")
    val asof = ColumnBridge.ofRows(spark, graft.plans.AsOfJoinNode(
      ColumnBridge.analyzed(l), ColumnBridge.analyzed(r2),
      "k", "ts", Seq("v"), outPrefix = "asof_")).collect().head
    assert(asof.getDouble(4) == 2.5, s"injected as-of strategy failed: $asof")
    println(s"[ext-probe] OK -> $row / $vm / $asof")
    spark.stop()
  }
}
