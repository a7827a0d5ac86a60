package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BRound, Expression, Literal, Round}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{RoundHalfUpDouble, RoundHalfUpKernel}
import graft.plans.ExactRound

/** `round(double)` at scale 0 runs as [[RoundHalfUpDouble]] and gives
  * Spark's `Round` bit for bit, under codegen and interpreted evaluation. */
class RoundRewriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Spark's `Round` on a double at scale 0, as its generated code does it. */
  private def reference(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Seeded input classes: random 64-bit patterns, exact halves at every
    * magnitude below 2^52 and their neighbours, signed zeros, NaN, ±Inf,
    * 2^52 neighbours, the largest double below 0.5, the cents × 10^k
    * idiom of the integer-scaled sums, and uniform values per decade. */
  private lazy val inputs: Array[Double] = {
    val rng = new java.util.Random(20261017L)
    val b = ArrayBuffer[Double]()
    def signed(x: Double): Unit = { b += x; b += -x }
    for (_ <- 0 until 100000) b += java.lang.Double.longBitsToDouble(rng.nextLong())
    for (_ <- 0 until 30000) {
      val h = (rng.nextLong() >>> (12 + rng.nextInt(52))).toDouble + 0.5
      signed(h); signed(Math.nextUp(h)); signed(Math.nextDown(h))
    }
    for (t <- Seq(Math.pow(2, 51), Math.pow(2, 52), Math.pow(2, 53));
         d <- Seq(0.0, 0.5, 1.0, 1.5)) {
      signed(t + d); signed(t - d); signed(Math.nextUp(t - d)); signed(Math.nextDown(t - d))
    }
    Seq(0.0, 0.49999999999999994, 0.5, 1.5, 2.5, Math.nextUp(0.5), Math.nextDown(1.5),
      Double.MaxValue, Double.MinPositiveValue, java.lang.Double.MIN_NORMAL,
      Double.PositiveInfinity).foreach(signed)
    b += Double.NaN
    for (_ <- 0 until 40000) {
      val price = rng.nextInt(10000000) / 100.0
      val disc = rng.nextInt(11) / 100.0
      b += price * 100
      b += price * (1.0 - disc) * 1000000
      b += price * disc * 10000
      b += -price * (1.0 - disc) * 1000
    }
    for (e <- 0 to 15; _ <- 0 until 2000) signed(rng.nextDouble() * Math.pow(10, e))
    b.toArray
  }

  private def bits(x: Double): Long = java.lang.Double.doubleToLongBits(x)

  test("kernel equals BigDecimal HALF_UP bit for bit over every seeded input class") {
    val bad = inputs.filter(x => bits(RoundHalfUpKernel.round(x)) != bits(reference(x)))
    assert(inputs.length > 400000)
    assert(bad.isEmpty, bad.take(10).map(x => s"$x -> ${RoundHalfUpKernel.round(x)} vs ${reference(x)}")
      .mkString("; "))
  }

  private def ruleSession(): SparkSession = {
    val s = spark.newSession()
    graft.functions.GraftFunctions.registerAll(s)
    s
  }

  private def containsRewrite(p: LogicalPlan): Boolean =
    p.exists(_.expressions.exists(_.exists(_.isInstanceOf[RoundHalfUpDouble])))

  private def roundsOf(p: LogicalPlan): Seq[Expression] =
    p.flatMap(_.expressions.flatMap(_.collect {
      case r: Round => r
      case r: BRound => r
    }))

  /** `round(x)` over the seeded inputs plus nulls, from an RDD so that no
    * optimizer rule folds it away, collected in id order. */
  private def roundAll(s: SparkSession, codegen: Boolean): (Seq[Option[Double]], DataFrame) = {
    val rows = inputs.zipWithIndex.map { case (x, i) => Row(i.toLong, x) } ++
      (0 until 100).map(i => Row((inputs.length + i).toLong, null))
    val schema = StructType(Seq(StructField("id", LongType), StructField("x", DoubleType)))
    val conf = Seq(
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.codegen.wholeStage" -> codegen.toString)
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val df = s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 4), schema)
        .select(col("id"), round(col("x")).as("r"))
      val out = df.collect().sortBy(_.getLong(0)).map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
      (out.toSeq, df)
    } finally conf.foreach { case (k, _) => s.conf.unset(k) }
  }

  for (codegen <- Seq(true, false)) {
    val mode = if (codegen) "codegen" else "interpreted"
    test(s"rewritten round(x) equals BigDecimal and Spark's Round bit for bit, $mode") {
      val (graft, graftDf) = roundAll(ruleSession(), codegen)
      val (plain, plainDf) = roundAll(spark.newSession(), codegen)
      assert(containsRewrite(graftDf.queryExecution.optimizedPlan))
      assert(!containsRewrite(plainDf.queryExecution.optimizedPlan))
      assert(graftDf.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]) == codegen)
      val expected = inputs.map(x => Some(reference(x))).toSeq ++ Seq.fill(100)(None)
      def mismatches(got: Seq[Option[Double]]) = got.zip(expected).zipWithIndex.collect {
        case ((g, e), i) if g.map(bits) != e.map(bits) => s"#$i: $g vs $e"
      }
      assert(graft.size == expected.size && plain.size == expected.size)
      assert(mismatches(plain).isEmpty, mismatches(plain).take(10).mkString("; "))
      assert(mismatches(graft).isEmpty, mismatches(graft).take(10).mkString("; "))
    }
  }

  test("round(rand(7) * 10) draws once per row and matches Spark's Round") {
    def draw(s: SparkSession) =
      s.range(0, 20000, 1, 4).select(col("id"), (rand(7) * 10).as("x"), round(rand(7) * 10).as("r"))
    val g = draw(ruleSession())
    assert(containsRewrite(g.queryExecution.optimizedPlan))
    val graft = g.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val plain = draw(spark.newSession()).collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(graft.toSeq == plain.toSeq)
    assert(graft.forall { case (_, x, r) => r == reference(x) })
  }

  test("q_tpch_q1's optimized plan uses the rewrite and keeps its rows") {
    val q1 = SparkEntry.queries("q_tpch_q1")
    val g = q1(ruleSession(), SparkTestSession.sf0001)
    val plan = g.queryExecution.optimizedPlan
    assert(containsRewrite(plan), plan)
    assert(!roundsOf(plan).exists {
      case Round(c, Literal(0, _), _) => c.dataType == DoubleType
      case _ => false
    }, plan)
    val plain = q1(spark.newSession(), SparkTestSession.sf0001)
    assert(g.collect().map(_.toSeq).toSet == plain.collect().map(_.toSeq).toSet)
  }

  test("round(x, 2), round(decimal), round(float), round(long) and bround stay Spark's") {
    def rounds(s: SparkSession) = s.range(0, 100, 1, 2)
      .select((col("id") * 1.25).as("x"), (col("id").cast("decimal(10,2)") / 4).as("dec"),
        (col("id").cast("float") * 1.5f).as("f"), col("id"))
      .select(round(col("x"), 2), round(col("dec")), round(col("f")),
        round(col("id")), bround(col("x")), round(col("x")))
    val df = rounds(ruleSession())
    val plan = df.queryExecution.optimizedPlan
    val kept = roundsOf(plan)
    assert(kept.size == 5, plan)
    assert(kept.count(_.isInstanceOf[BRound]) == 1, plan)
    assert(plan.flatMap(_.expressions.flatMap(_.collect { case r: RoundHalfUpDouble => r })).size == 1, plan)
    assert(ExactRound(plan) == plan, "the rule is idempotent")
    assert(df.collect().map(_.toSeq).toSeq == rounds(spark.newSession()).collect().map(_.toSeq).toSeq)
  }
}
