package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions._

/**
 * Semantics pinned to the reference's own test vectors
 * (/root/reference/tests/main.rs): the [1,2,2,3,3,3]+NULL table and the
 * kurtosis VALUES examples.
 */
class StatsAggSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val refCol: Seq[Option[Double]] =
    Seq(Some(1.0), Some(2.0), Some(2.0), Some(3.0), Some(3.0), Some(3.0), None)

  private def one(df: org.apache.spark.sql.DataFrame): Any = df.collect()(0).get(0)

  test("kurtosis_pop matches reference vector (-0.9599999999999755)") {
    val df = refCol.toDF("x").repartition(3)
    val v = one(df.agg(kurtosis_pop($"x"))).asInstanceOf[Double]
    assert(math.abs(v - -0.9599999999999755) < 1e-12)
  }

  test("kurtosis (sample) matches reference vector (4.777292927667962)") {
    val df = Seq(1.0, 10.0, 100.0, 10.0, 1.0).toDF("x").repartition(3)
    val v = one(df.agg(kurtosis_samp($"x"))).asInstanceOf[Double]
    assert(math.abs(v - 4.777292927667962) < 1e-12)
  }

  test("kurtosis null cases: n<=3, constant input, empty, all-null") {
    assert(one(Seq(1.0, 2.0, 3.0).toDF("x").agg(kurtosis_samp($"x"))) == null)
    assert(one(Seq(5.0, 5.0, 5.0, 5.0).toDF("x").agg(kurtosis_samp($"x"))) == null) // m2 = 0
    assert(one(Seq.empty[Double].toDF("x").agg(kurtosis_samp($"x"))) == null)
    assert(one(Seq[Option[Double]](None, None).toDF("x").agg(kurtosis_pop($"x"))) == null)
    assert(one(Seq(1.0).toDF("x").agg(kurtosis_pop($"x"))) == null)
  }

  test("skewness matches reference vector (-0.8573214099741201)") {
    val df = refCol.toDF("x").repartition(3)
    val v = one(df.agg(skewness_samp($"x"))).asInstanceOf[Double]
    assert(math.abs(v - -0.8573214099741201) < 1e-12)
  }

  test("skewness null cases: n<=2, zero variance") {
    assert(one(Seq(1.0).toDF("x").agg(skewness_samp($"x"))) == null)
    assert(one(Seq(1.0, 2.0).toDF("x").agg(skewness_samp($"x"))) == null)
    assert(one(Seq(7.0, 7.0, 7.0).toDF("x").agg(skewness_samp($"x"))) == null)
  }

  test("registerReferenceNames: reference names shadow Spark built-ins with sample semantics") {
    val spark2 = spark.newSession()
    graft.functions.GraftFunctions.registerReferenceNames(spark2)
    // DuckDB-checked: kurtosis([1,10,11,10,9,22,8,9]) = 3.626099881093935
    // sample-corrected (Spark's built-in population kurtosis gives 1.0600)
    val r = spark2.sql(
      """SELECT kurtosis(x) AS k, skewness(x) AS s, mode(x) AS m, kurtosis_pop(x) AS kp
        |FROM VALUES (1.0),(10.0),(11.0),(10.0),(9.0),(22.0),(8.0),(9.0) t(x)""".stripMargin)
      .collect().head
    assert(math.abs(r.getDouble(0) - 3.626099881093935) < 1e-12)
    assert(r.getDouble(3) < r.getDouble(0)) // population < sample-corrected here
    // SQL literal 1.0 is DECIMAL(2,1) → mode preserves the input type
    assert(r.getDecimal(2).doubleValue == 10.0)
    // max_by/min_by shadowed with the reference's null-wins semantics
    // (tests/main.rs:177-204: both pin to 2 on this input)
    val nb = spark2.sql(
      """SELECT max_by(x, y) AS mx, min_by(x, y) AS mn
        |FROM VALUES (1, 10), (2, NULL), (3, 15), (NULL, 8) t(x, y)""".stripMargin)
      .collect().head
    assert(nb.getInt(0) == 2 && nb.getInt(1) == 2, s"got $nb")
  }

  test("SQL registration: graft_* callable from spark.sql") {
    refCol.toDF("x").createOrReplaceTempView("t_stats")
    val r = spark.sql(
      """SELECT graft_kurtosis(x) AS k, graft_kurtosis_pop(x) AS kp,
        |       graft_skewness(x) AS s, kurtosis_pop(x) AS kp2
        |FROM t_stats""".stripMargin).collect()(0)
    assert(math.abs(r.getDouble(1) - -0.9599999999999755) < 1e-12)
    assert(math.abs(r.getDouble(3) - -0.9599999999999755) < 1e-12)
    assert(math.abs(r.getDouble(2) - -0.8573214099741201) < 1e-12)
  }

  test("int input is coerced (reference kurtosis_pop(int64_col))") {
    val df = Seq[Option[Int]](Some(1), Some(2), Some(2), Some(3), Some(3), Some(3), None).toDF("x")
    df.createOrReplaceTempView("t_int")
    val v = spark.sql("SELECT graft_kurtosis_pop(x) FROM t_int").collect()(0).getDouble(0)
    assert(math.abs(v - -0.9599999999999755) < 1e-12)
  }

  test("grouped aggregation with partial merge across partitions") {
    val df = (1 to 1000).map(i => (i % 4, i.toDouble % 17)).toDF("g", "x").repartition(8)
    val rows = df.groupBy($"g").agg(kurtosis_samp($"x").as("k"), skewness_samp($"x").as("s"))
      .orderBy($"g").collect()
    assert(rows.length == 4)
    // single-partition recompute must agree exactly with 8-partition merge
    val single = df.coalesce(1).groupBy($"g")
      .agg(kurtosis_samp($"x").as("k")).orderBy($"g").collect()
    rows.zip(single).foreach { case (m, s1) =>
      assert(math.abs(m.getDouble(1) - s1.getDouble(1)) < 1e-9)
    }
  }

  test("SQL edge cases: arity, unsupported and odd input types, DISTINCT, FILTER, NaN") {
    def err(q: String): Throwable = intercept[Throwable](spark.sql(q).collect())
    def first(q: String) = spark.sql(q).collect().head
    val arity2 = err("SELECT graft_kurtosis(x, x) FROM VALUES (1.0) t(x)")
    assert(arity2.isInstanceOf[IllegalArgumentException])
    assert(arity2.getMessage == "graft_kurtosis requires exactly 1 argument, got 2")
    val arity0 = err("SELECT graft_mode() FROM VALUES (1.0) t(x)")
    assert(arity0.getMessage == "graft_mode requires exactly 1 argument, got 0")
    val arr = err("SELECT graft_mode(array(1,2)) FROM VALUES (1) t(x)")
    assert(arr.isInstanceOf[org.apache.spark.sql.AnalysisException])
    assert(arr.getMessage.contains("graft_mode does not support input type array<int>"))
    assert(first("SELECT graft_mode(b) FROM VALUES (true),(true),(false) t(b)").getBoolean(0))
    val dec = spark.sql("SELECT graft_mode(d) FROM VALUES (CAST(1.5 AS DECIMAL(5,2))), " +
      "(CAST(1.5 AS DECIMAL(5,2))), (CAST(2.5 AS DECIMAL(5,2))) t(d)")
    assert(dec.schema.head.dataType == org.apache.spark.sql.types.DecimalType(5, 2))
    assert(dec.collect().head.getDecimal(0) == new java.math.BigDecimal("1.50"))
    // the cast to double is ANSI: a malformed string fails the query
    val str = err("SELECT graft_kurtosis(s) FROM VALUES ('1'),('2'),('3'),('4'),('oops') t(s)")
    assert(str.getMessage.contains("CAST_INVALID_INPUT"), str.getMessage)
    assert(first("SELECT graft_kurtosis(x) FROM VALUES (1.0),(2.0),(cast('NaN' as double)),(3.0),(4.0) t(x)")
      .getDouble(0).isNaN)
    // DISTINCT collapses every count to 1, so the tie-break picks the greatest
    assert(first("SELECT graft_mode(DISTINCT x) FROM VALUES (1),(1),(2) t(x)").getInt(0) == 2)
    val filtered = first("SELECT graft_kurtosis(x) FILTER (WHERE x < 100) " +
      "FROM VALUES (1.0),(2.0),(3.0),(4.0),(5.0),(1000.0) t(x)").getDouble(0)
    assert(math.abs(filtered - -1.2) < 1e-12, filtered)
  }
}
