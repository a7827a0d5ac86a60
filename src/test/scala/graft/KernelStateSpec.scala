package graft

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftFunctions, GraftMode, KmvBuffer, KmvDistinctAgg, PlaneMatrix,
  RandomProjection, SortedIntersectCount, SrpSignature}

/** The per-row loops and per-group state of the SRP / random-projection,
  * KMV, sorted-intersect and mode kernels, each against an independent
  * reference: the hex-string plane weights, a `TreeSet` KMV sketch with
  * its `DataOutputStream` bytes, and Scala-side mode counts. */
class KernelStateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // ── mode on floats: GROUP BY value semantics ───────────────────────

  test("mode on double and float counts NaN as one value and -0.0 as 0.0, like GROUP BY") {
    def check(dt: DataType, box: Double => Any): Unit = {
      def mode(xs: Seq[Double], parts: Int): Any = {
        val rows = xs.map(x => Row(box(x)))
        spark.createDataFrame(spark.sparkContext.parallelize(rows, parts),
          StructType(Seq(StructField("x", dt)))).agg(GraftFunctions.mode_agg(col("x")))
          .head().get(0)
      }
      def bits(v: Any): Long = v match {
        case f: Float => java.lang.Float.floatToRawIntBits(f).toLong
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
      }
      val nan = Seq(Double.NaN, Double.NaN, Double.NaN, 1.0, 1.0)
      val grouped = spark.createDataFrame(spark.sparkContext.parallelize(nan.map(x => Row(box(x)))),
        StructType(Seq(StructField("x", dt)))).groupBy("x").count()
        .collect().map(r => bits(r.get(0)) -> r.getLong(1)).toMap
      assert(grouped(bits(box(Double.NaN))) == 3L)
      assert(bits(mode(nan, 2)) == bits(box(Double.NaN)), s"$dt NaN mode")
      // one hash chain per NaN made this quadratic; 2.0 twice beats NaN once
      val many = Seq.fill(3000)(Double.NaN) ++ Seq(2.0, 2.0)
      assert(bits(mode(many, 1)) == bits(box(Double.NaN)), s"$dt 3000 NaNs")
      // the sign of the zero must not follow arrival order or partitioning
      val zeros = Seq(-0.0, -0.0, 0.0, 5.0, 5.0)
      for (xs <- Seq(zeros, zeros.reverse); parts <- Seq(1, 3))
        assert(bits(mode(xs, parts)) == bits(box(0.0)), s"$dt zeros $xs over $parts")
    }
    check(DoubleType, x => x)
    check(FloatType, x => x.toFloat)
  }

  // ── no UTF8String.compareTo in the kernels ─────────────────────────

  test("sorted-intersect and the mode string tie-break give the same values under spark.testing") {
    val strs = (s: Seq[String]) => new GenericArrayData(s.map(UTF8String.fromString).toArray[Any])
    val arr = ArrayType(StringType)
    val inter = SortedIntersectCount(BoundReference(0, arr, true), BoundReference(1, arr, true))
    val row = InternalRow(strs(Seq("a", "b", "b", "d", "é")), strs(Seq("b", "c", "d", "z", "é")))
    val mode = GraftMode(BoundReference(0, StringType, true))
    def evalAll(): (Any, Long, Any) = {
      val buf = mode.createAggregationBuffer()
      Seq("pear", "apple", "pear", "apple", "fig").foreach(s =>
        mode.update(buf, InternalRow(UTF8String.fromString(s))))
      val merged = mode.merge(mode.createAggregationBuffer(), mode.deserialize(mode.serialize(buf)))
      (inter.eval(row), UnsafeProjection.create(Seq(inter)).apply(row).getLong(0),
        mode.eval(merged))
    }
    val plain = evalAll()
    assert(plain == ((3L, 3L, UTF8String.fromString("apple"))))
    val prev = System.getProperty("spark.testing")
    System.setProperty("spark.testing", "true")
    try assert(evalAll() == plain)
    finally if (prev == null) System.clearProperty("spark.testing")
    else System.setProperty("spark.testing", prev)
  }

  // ── KMV against the TreeSet sketch ─────────────────────────────────

  /** The sorted-set KMV sketch: the k smallest distinct hashes. */
  private final class TreeKmv(k: Int) {
    val set = new java.util.TreeSet[java.lang.Long]()
    def insert(h: Long): Unit =
      if (set.size < k) set.add(h)
      else if (h < set.last() && set.add(h)) set.pollLast()
    def estimate: Any =
      if (set.isEmpty) null
      else if (set.size < k) set.size.toDouble
      else (k - 1).toDouble * 4294967296.0 / set.last().toDouble
    def bytes: Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(set.size)
      set.forEach(h => out.writeLong(h))
      out.flush()
      bos.toByteArray
    }
  }

  private def md5Hash(s: String): Long = {
    val hex = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16)
  }

  test("KMV sketch equals the TreeSet sketch: estimates, merges and serialized bytes") {
    val rnd = new scala.util.Random(17)
    for (k <- Seq(2, 16, 1024); distinct <- Seq(k - 1, k, 3 * k + 5) if distinct > 0) {
      val agg = KmvDistinctAgg(BoundReference(0, StringType, true), k)
      // every value at least once, then duplicates
      val pool = (0 until distinct).map(i => s"v${rnd.nextInt()}_$i")
      val stream = rnd.shuffle(pool ++ Seq.fill(3 * distinct)(pool(rnd.nextInt(distinct))))
      val parts = stream.grouped(1 + stream.size / (1 + rnd.nextInt(6))).toSeq
      val partials = parts.map { part =>
        val buf = agg.createAggregationBuffer()
        val ref = new TreeKmv(k)
        part.foreach { s =>
          agg.update(buf, InternalRow(UTF8String.fromString(s)))
          ref.insert(md5Hash(s))
        }
        assert(agg.serialize(buf).toSeq == ref.bytes.toSeq, s"k=$k partial")
        (buf, ref)
      }
      for (order <- Seq(partials, rnd.shuffle(partials), partials.reverse)) {
        val merged = order.foldLeft(agg.createAggregationBuffer()) { case (acc, (buf, _)) =>
          agg.merge(acc, agg.deserialize(agg.serialize(buf)))
        }
        val ref = new TreeKmv(k)
        order.foreach(_._2.set.forEach(h => ref.insert(h)))
        assert(agg.eval(merged) == ref.estimate, s"k=$k distinct=$distinct")
        assert(agg.serialize(merged).toSeq == ref.bytes.toSeq, s"k=$k distinct=$distinct")
      }
      // raw hashes, inserted one by one, with values past 2^31
      val buf = new KmvBuffer(k)
      val ref = new TreeKmv(k)
      Seq.fill(5 * distinct)(rnd.nextLong() >>> 32).flatMap(h => Seq(h, h)).foreach { h =>
        buf.insert(h); ref.insert(h)
      }
      assert(buf.values.toSeq == ref.set.toArray.toSeq.map(_.asInstanceOf[java.lang.Long].longValue))
    }
  }

  // ── SRP and random projection against the hex-string weights ───────

  /** The plane weight as first defined: the first 8 hex chars of md5("p_d"). */
  private def hexWeight(p: Int, d: Int): Double = {
    val hex = MessageDigest.getInstance("MD5").digest(s"${p}_$d".getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16).toDouble / 4294967296.0 - 0.5
  }

  test("planeWeight equals the hex-string definition") {
    val rnd = new scala.util.Random(23)
    val pairs = (for (p <- 0 until 1024; d <- 0 until 64) yield (p, d)) ++
      Seq.fill(2000)((rnd.nextInt(1024), rnd.nextInt(65536))) ++ Seq((1023, 65535))
    val wrong = pairs.filter { case (p, d) =>
      java.lang.Double.doubleToRawLongBits(graft.ops.Similarity.planeWeight(p, d)) !=
        java.lang.Double.doubleToRawLongBits(hexWeight(p, d))
    }
    assert(wrong.isEmpty, s"${wrong.size} weights differ, first ${wrong.take(3)}")
  }

  test("random projection and SRP equal the per-plane ascending fold, bit for bit") {
    val rnd = new scala.util.Random(29)
    for ((planes, dim) <- Seq((37, 23), (64, 64), (1, 300))) {
      val w = Array.tabulate(planes, dim)(hexWeight)
      val in = BoundReference(0, ArrayType(DoubleType), true)
      val rp = RandomProjection(in, planes, dim)
      val srp = SrpSignature(in, planes, dim)
      for (_ <- 0 until 50) {
        val x = Array.fill(dim)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(7) - 3))
        val row = InternalRow(new GenericArrayData(x.map(v => v: Any)))
        val fold = Array.tabulate(planes)(p => (0 until dim).foldLeft(0.0)((a, d) => a + x(d) * w(p)(d)))
        val got = rp.eval(row).asInstanceOf[GenericArrayData].toDoubleArray()
        assert(got.map(java.lang.Double.doubleToRawLongBits).toSeq ==
          fold.map(java.lang.Double.doubleToRawLongBits).toSeq, s"planes=$planes dim=$dim")
        assert(srp.eval(row).toString == fold.map(a => if (a >= 0) '1' else '0').mkString)
      }
      val nullRow = new GenericInternalRow(1)
      assert(rp.eval(nullRow) == null && srp.eval(nullRow) == null)
    }
    assert(PlaneMatrix(64, 64) eq PlaneMatrix(64, 64), "one shared matrix per (planes, dim)")
  }

  // ── mode round trip for every supported type ───────────────────────

  /** UTF-8 byte order, the order of Spark's string comparison. */
  private val utf8Order: Ordering[String] = (a, b) => {
    val (x, y) = (a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))
    java.util.Arrays.compareUnsigned(x, y)
  }

  test("mode round-trips every supported type through the sort-based fallback") {
    val s = spark.newSession()
    GraftFunctions.registerAll(s)
    s.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2")
    val dec = (v: String, scale: Int) => new java.math.BigDecimal(v).setScale(scale)
    val cols = Seq[(DataType, IndexedSeq[Any], Ordering[_])](
      (BooleanType, IndexedSeq(true, false), Ordering.Boolean),
      (ByteType, IndexedSeq[Byte](-128, -1, 0, 7, 127), Ordering.Byte),
      (ShortType, IndexedSeq[Short](-32768, -5, 0, 300, 32767), Ordering.Short),
      (IntegerType, IndexedSeq(Int.MinValue, -1, 0, 42, Int.MaxValue), Ordering.Int),
      (LongType, IndexedSeq(Long.MinValue, -1L, 0L, 1L << 40, Long.MaxValue), Ordering.Long),
      (FloatType, IndexedSeq(-1.5f, 0.0f, 2.25f, Float.MaxValue, Float.NaN),
        Ordering.Float.TotalOrdering),
      (DoubleType, IndexedSeq(-1e300, 0.0, 0.1, 3.5, Double.NaN), Ordering.Double.TotalOrdering),
      (DecimalType(10, 2), IndexedSeq("-99999999.99", "0", "12.34", "12.35", "99999999.99")
        .map(dec(_, 2)), Ordering[java.math.BigDecimal]),
      (DecimalType(38, 18), IndexedSeq("-99999999999999999999.5", "0", "1e-18",
        "12345678901234567890.123456789012345678").map(dec(_, 18)), Ordering[java.math.BigDecimal]),
      (DateType, IndexedSeq("1969-12-31", "2021-01-01", "2024-02-29")
        .map(java.sql.Date.valueOf), Ordering.by[java.sql.Date, Long](_.getTime)),
      (TimestampType, IndexedSeq("1969-12-31 23:59:59.999999", "2021-01-01 00:00:00",
        "2024-02-29 12:34:56.5").map(java.sql.Timestamp.valueOf),
        Ordering.by[java.sql.Timestamp, (Long, Int)](t => (t.getTime, t.getNanos))),
      (TimestampNTZType, IndexedSeq("1969-12-31T23:59:59.999999", "2021-01-01T00:00",
        "2024-02-29T12:34:56.5").map(java.time.LocalDateTime.parse),
        Ordering.fromLessThan[java.time.LocalDateTime](_ isBefore _)),
      (StringType, IndexedSeq("", "a", "ab", "é", "日本", "😀", "Z"), utf8Order.reverse)
    ).map { case (dt, pool, ord) => (dt, pool, ord.asInstanceOf[Ordering[Any]]) }
    val rnd = new scala.util.Random(31)
    val groups = 40
    val data = Seq.fill(2400) {
      rnd.nextInt(groups) +: cols.map { case (_, pool, _) =>
        if (rnd.nextInt(10) == 0) null else pool(rnd.nextInt(pool.size))
      }
    }
    val schema = StructType(StructField("g", IntegerType) +: cols.indices.map(i =>
      StructField(s"c$i", cols(i)._1)))
    val df = s.createDataFrame(s.sparkContext.parallelize(data.map(Row.fromSeq), 4), schema)
      .repartition(6)
    val got = df.groupBy("g")
      .agg(GraftFunctions.mode_agg(col("c0")).as("m0"),
        cols.indices.tail.map(i => GraftFunctions.mode_agg(col(s"c$i")).as(s"m$i")): _*)
      .collect().map(r => r.getInt(0) -> r.toSeq.tail).toMap
    // greatest value wins a tie (for strings the ordering above is reversed,
    // so the smallest wins); NaN is the greatest float, one value
    def key(v: Any): Any = v match {
      case f: Float => java.lang.Float.floatToIntBits(f)
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case o => o
    }
    for (g <- 0 until groups; i <- cols.indices) {
      val xs = data.filter(_.head == g).map(_(i + 1)).filter(_ != null)
      val expected = if (xs.isEmpty) null else {
        val counts = xs.groupBy(key).values.map(vs => vs.head -> vs.size).toSeq
        val top = counts.map(_._2).max
        counts.filter(_._2 == top).map(_._1).max(cols(i)._3)
      }
      assert(key(got(g)(i)) == key(expected), s"group $g ${cols(i)._1}")
    }
  }
}
