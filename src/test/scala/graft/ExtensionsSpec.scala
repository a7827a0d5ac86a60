package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.graft.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

/** The cluster-wide path: a session built with
  * `spark.sql.extensions=graft.functions.GraftExtensions` meets every
  * injected function, optimizer rule and planner strategy through plain
  * SQL, with no per-session registration call. */
class ExtensionsSpec extends AnyFunSuite {

  /** A new session over the shared SparkContext with the extensions
    * `spark.sql.extensions=graft.functions.GraftExtensions` names. Spark
    * reads that conf from the SparkContext, which is fixed once the
    * shared context runs, so the class is loaded here as Spark loads it:
    * by name, through its no-argument constructor. The shared session
    * stays the default. */
  private lazy val spark: SparkSession = {
    val shared = SparkTestSession.spark
    val ext = Class.forName("graft.functions.GraftExtensions")
      .getDeclaredConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit]
    // create(), not getOrCreate(): a new session even though one is
    // active; it reuses the running SparkContext
    val s = SparkSession.builder().withExtensions(ext).create()
    SparkSession.setDefaultSession(shared)
    SparkSession.setActiveSession(shared)
    s
  }

  test("injected aggregates answer through SQL") {
    val r = spark.sql(
      """SELECT graft_mode(x), graft_skewness(x), graft_kurtosis(x), graft_kurtosis_pop(x),
        |       kurtosis_samp(x), skewness_samp(x), kurtosis_pop(x)
        |FROM VALUES (1.0),(2.0),(2.0),(3.0),(10.0) t(x)""".stripMargin).collect().head
    assert(r.getDecimal(0).doubleValue == 2.0)
    assert(r.getDouble(1) == r.getDouble(5)) // skewness_samp is graft_skewness
    assert(r.getDouble(2) == r.getDouble(4)) // kurtosis_samp is graft_kurtosis
    assert(r.getDouble(3) == r.getDouble(6)) // kurtosis_pop is graft_kurtosis_pop
    assert(r.getDouble(1) > 0 && r.getDouble(2) > r.getDouble(3))
    val vm = spark.sql(
      """SELECT graft_vector_mean(v)
        |FROM VALUES (array(1.0D, 3.0D)), (array(3.0D, 5.0D)) t(v)""".stripMargin)
      .collect().head.getSeq[Double](0)
    assert(vm == Seq(2.0, 4.0))
    val e = intercept[Exception](spark.sql("SELECT graft_mode(x, x) FROM VALUES (1) t(x)").collect())
    assert(e.getMessage.contains("graft_mode requires exactly 1 argument"), e.getMessage)
  }

  test("every SQL function registerAll adds resolves in the extensions session") {
    // the names registerAll adds: a fresh session's functions after the
    // call, minus its functions before it
    val fresh = SparkSession.builder().create()
    SparkSession.setDefaultSession(SparkTestSession.spark)
    SparkSession.setActiveSession(SparkTestSession.spark)
    def names(s: SparkSession) = s.catalog.listFunctions().collect().map(_.name).toSet
    val before = names(fresh)
    graft.functions.GraftFunctions.registerAll(fresh)
    val added = names(fresh) -- before
    assert(added.size >= 40 && added("graft_kmv") && added("graft_cosine"), added)
    val missing = added.toSeq.sorted.filterNot(n => spark.catalog.functionExists(n))
    assert(missing.isEmpty, s"not injected: $missing")
    // and they build the same expressions: the SQL kernels answer alike
    val q = """SELECT graft_kmv(x, 8), graft_hll(x, 6), graft_srp(array(1.0D, -2.0D), 4, 2),
              |       graft_cosine(array(1.0D, 0.0D), array(1.0D, 1.0D)), graft_tokens('a b')
              |FROM VALUES (1),(2),(2),(3) t(x)""".stripMargin
    assert(spark.sql(q).collect().toSeq == fresh.sql(q).collect().toSeq)
  }

  test("injected ExactRound rewrites scale-0 round on a double, HALF_UP") {
    // over range, not VALUES: a local relation is folded before the rule
    val q = spark.sql("SELECT round(id * 1.0D - 2.5D) AS r FROM range(0, 3)")
    assert(q.queryExecution.optimizedPlan.toString.contains("graft_round_half_up"),
      q.queryExecution.optimizedPlan.toString)
    assert(q.collect().map(_.getDouble(0)).toSeq == Seq(-3.0, -2.0, -1.0))
  }

  test("injected as-of strategy plans a hand-built AsOfJoinNode") {
    val l = spark.sql("SELECT * FROM VALUES (1L, 100L, 7L) t(k, ts, ev)")
    val r = spark.sql("SELECT * FROM VALUES (1L, 90L, 2.5D) t(k, ts, v)")
    val df = ColumnBridge.ofRows(spark, graft.plans.AsOfJoinNode(
      ColumnBridge.analyzed(l), ColumnBridge.analyzed(r),
      "k", "ts", Seq("v"), outPrefix = "asof_", toleranceMicros = None, nearest = false))
    assert(df.queryExecution.executedPlan.toString.contains("AsOfJoin"),
      df.queryExecution.executedPlan.toString)
    assert(df.collect().head.getDouble(4) == 2.5)
  }
}
