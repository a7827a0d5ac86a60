package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.functions.{col, lit, pmod, hash}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions.{hll_distinct, hll_merge_est, hll_registers}

/** The shared HLL register body against an independent hex-string
  * replay, and the named errors of the SQL literal arguments and of the
  * Bloom probe's filter length. */
class KernelBodySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Seeded values with repeats, in 4 groups of different sizes. */
  private lazy val values = {
    val rnd = new scala.util.Random(20261019L)
    (0 until 6000).map { i =>
      (i % 4, if (rnd.nextInt(10) == 0) null else s"v${rnd.nextInt(3000 + 500 * (i % 4))}")
    }.toDF("g", "x")
  }

  /** The registers of `xs` from md5 hex: bucket = hex 1-8 mod 2^b,
    * rho = 33 - bitlength(hex 9-16). */
  private def hexRegisters(xs: Seq[String], b: Int): Array[Byte] = {
    val m = 1 << b
    val regs = new Array[Byte](m)
    val md = MessageDigest.getInstance("MD5")
    xs.foreach { x =>
      val hex = md.digest(x.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
      val bucket = (java.lang.Long.parseLong(hex.substring(0, 8), 16) % m).toInt
      val h2 = java.lang.Long.parseLong(hex.substring(8, 16), 16)
      val rho = (33 - (64 - java.lang.Long.numberOfLeadingZeros(h2))).toByte
      if (rho > regs(bucket)) regs(bucket) = rho
    }
    regs
  }

  test("hll_registers equals the md5 hex replay; merged estimate equals hll_distinct bit for bit") {
    val byGroup = values.collect().groupBy(_.getInt(0))
      .map { case (g, rs) => g -> rs.toSeq.map(_.getString(1)).filter(_ != null) }
    for (b <- Seq(4, 8, 12)) {
      val regs = values.groupBy($"g").agg(hll_registers($"x", b).as("r"))
      regs.collect().foreach { r =>
        assert(r.getAs[Array[Byte]](1).toSeq == hexRegisters(byGroup(r.getInt(0)), b).toSeq,
          s"b=$b g=${r.getInt(0)}")
      }
      val merged = regs.groupBy($"g").agg(hll_merge_est($"r", b).as("e"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val direct = values.groupBy($"g").agg(hll_distinct($"x", b).as("e"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      assert(merged.keySet == Set(0, 1, 2, 3))
      merged.foreach { case (g, e) =>
        assert(java.lang.Double.doubleToRawLongBits(e) ==
          java.lang.Double.doubleToRawLongBits(direct(g)), s"b=$b g=$g: $e vs ${direct(g)}")
      }
    }
  }

  test("registers of an input split into parts, merged, equal the registers of the whole") {
    val b = 8
    def regsOf(df: org.apache.spark.sql.DataFrame): Map[Int, Seq[Byte]] =
      df.groupBy($"g").agg(hll_registers($"x", b).as("r"))
        .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val whole = regsOf(values.repartition(1))
    assert(regsOf(values.repartition(5)) == whole)
    val parts = values.withColumn("part", pmod(hash(col("x")), lit(3)))
    val perPart = parts.groupBy($"g", $"part").agg(hll_registers($"x", b).as("r"))
      .collect().groupBy(_.getInt(0))
      .map { case (g, rs) =>
        g -> rs.map(_.getAs[Array[Byte]](2)).reduce((a, c) => a.zip(c).map(t => t._1.max(t._2))).toSeq
      }
    assert(perPart == whole)
    val mergedEst = parts.groupBy($"g", $"part").agg(hll_registers($"x", b).as("r"))
      .groupBy($"g").agg(hll_merge_est($"r", b).as("e")).orderBy($"g")
      .collect().map(_.getDouble(1)).toSeq
    val directEst = values.groupBy($"g").agg(hll_distinct($"x", b).as("e")).orderBy($"g")
      .collect().map(_.getDouble(1)).toSeq
    assert(mergedEst == directEst)
  }

  test("hll_merge_est rejects registers of the wrong length and skips null sketches") {
    val e = intercept[Exception] {
      Seq(Array.fill[Byte](10)(1)).toDF("r").agg(hll_merge_est($"r", 4)).collect()
    }
    assert(causes(e).exists(_.getMessage.contains("register length 10 does not match 2^4 = 16")),
      e.getMessage)
    val withNull = Seq(Some(hexRegisters(Seq("a", "b"), 4)), None).toDF("r")
      .agg(hll_merge_est($"r", 4)).collect()(0).getDouble(0)
    val without = Seq(hexRegisters(Seq("a", "b"), 4)).toDF("r")
      .agg(hll_merge_est($"r", 4)).collect()(0).getDouble(0)
    assert(withNull == without)
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  private def sqlError(q: String): Throwable = intercept[Throwable](spark.sql(q).collect())

  private val from = "FROM VALUES ('a'), ('b') t(x)"
  for ((q, msg) <- Seq(
      s"SELECT graft_kmv(x, 'a') $from" -> "k must be an integer literal, got a (string)",
      s"SELECT graft_kmv(x, 2.5) $from" -> "k must be an integer literal, got 2.5 (decimal(2,1))",
      s"SELECT graft_kmv(x, NULL) $from" -> "k must be an integer literal, got null (void)",
      s"SELECT graft_kmv(x, 4294967312) $from" ->
        "k must be an integer literal, got 4294967312 (bigint)",
      s"SELECT graft_hll(x, 8.0) $from" -> "b must be an integer literal, got 8.0 (decimal(2,1))",
      "SELECT graft_histogram(x, 0.0, 1.0, 'four') FROM VALUES (0.5) t(x)" ->
        "nbins must be an integer literal, got four (string)"))
    test(s"a SQL integer-literal argument fails naming itself: $q") {
      val e = sqlError(q)
      assert(e.isInstanceOf[IllegalArgumentException], e.toString)
      assert(e.getMessage == msg)
    }

  test("SQL integer-literal arguments accept int and bigint literals in Int range") {
    assert(spark.sql(s"SELECT graft_kmv(x, 16) $from").collect()(0).getDouble(0) == 2.0)
    assert(spark.sql(s"SELECT graft_kmv(x, 16L) $from").collect()(0).getDouble(0) == 2.0)
  }

  private def bloomProbe(buildBits: Int, probeBits: Int): String = {
    val grams = (0 until 40).map(i => s"'g$i'").mkString("array(", ", ", ")")
    s"""WITH f AS (SELECT graft_bloom_build(g, $buildBits, 3) AS bits
       |  FROM VALUES ('g1'), ('g2'), ('g3') t(g))
       |SELECT graft_bloom_hits(bits, $grams, $probeBits, 3) FROM f""".stripMargin
  }

  test("graft_bloom_hits finds the built strings in a filter of mBits/8 bytes") {
    assert(spark.sql(bloomProbe(128, 128)).collect()(0).getLong(0) >= 3L)
  }

  for ((built, probed) <- Seq(64 -> 128, 256 -> 128))
    test(s"graft_bloom_hits rejects a $built-bit filter probed as $probed bits") {
      val e = sqlError(bloomProbe(built, probed))
      val msg = s"graft_bloom_hits: filter length ${built / 8} bytes does not match " +
        s"mBits/8 = ${probed / 8}"
      assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains(msg)), e.toString)
    }
}
