package graft

import java.sql.{Date, Timestamp}

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions._

/** Mode semantics pinned to /root/reference/tests/main.rs + mode unit tests. */
class ModeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // the reference TEST_TABLE (tests/main.rs:22-37)
  private def testTable = Seq(
    (Some("apple"), Some(1L), Some(1.0), Some(Date.valueOf("2021-01-01"))),
    (Some("banana"), Some(2L), Some(2.0), Some(Date.valueOf("2021-01-02"))),
    (Some("apple"), Some(2L), Some(2.0), Some(Date.valueOf("2021-01-02"))),
    (Some("orange"), Some(3L), Some(3.0), Some(Date.valueOf("2021-01-03"))),
    (Some("banana"), Some(3L), Some(3.0), Some(Date.valueOf("2021-01-03"))),
    (Some("apple"), Some(3L), Some(3.0), Some(Date.valueOf("2021-01-03"))),
    (None: Option[String], None: Option[Long], None: Option[Double], None: Option[Date])
  ).toDF("utf8_col", "int64_col", "float64_col", "date_col").repartition(3)

  test("mode over utf8/int64/float64/date matches reference") {
    val r = testTable.agg(
      mode_agg($"utf8_col"), mode_agg($"int64_col"),
      mode_agg($"float64_col"), mode_agg($"date_col")).collect()(0)
    assert(r.getString(0) == "apple")
    assert(r.getLong(1) == 3L)
    assert(r.getDouble(2) == 3.0)
    assert(r.getDate(3) == Date.valueOf("2021-01-03"))
  }

  test("string tie -> smallest string (reference bytes.rs tie rule)") {
    val df = Seq("apple", "banana", "apple", "banana").toDF("s")
    assert(df.agg(mode_agg($"s")).collect()(0).getString(0) == "apple")
  }

  test("primitive tie -> greatest value (reference native.rs tie rule)") {
    val df = Seq(1, 2, 1, 2).toDF("i")
    assert(df.agg(mode_agg($"i")).collect()(0).getInt(0) == 2)
  }

  test("all null / empty -> null") {
    assert(Seq[Option[String]](None, None).toDF("s")
      .agg(mode_agg($"s")).collect()(0).get(0) == null)
    assert(Seq.empty[String].toDF("s").agg(mode_agg($"s")).collect()(0).get(0) == null)
  }

  test("timestamp mode") {
    val df = Seq(
      Timestamp.valueOf("2021-01-01 01:00:00"),
      Timestamp.valueOf("2021-01-02 02:00:00"),
      Timestamp.valueOf("2021-01-02 02:00:00")).toDF("ts")
    assert(df.agg(mode_agg($"ts")).collect()(0).getTimestamp(0) ==
      Timestamp.valueOf("2021-01-02 02:00:00"))
  }

  test("grouped mode with serialization across partitions") {
    val df = (1 to 4000)
      .map(i => (i % 5, if (i % 10 < 3) "x" + (i % 3) else "y" + (i % 7)))
      .toDF("g", "v").repartition(8)
    val merged = df.groupBy($"g").agg(mode_agg($"v").as("m")).orderBy($"g").collect()
    val single = df.coalesce(1).groupBy($"g").agg(mode_agg($"v").as("m")).orderBy($"g").collect()
    assert(merged.map(_.getString(1)).toSeq == single.map(_.getString(1)).toSeq)
  }

  test("SQL: graft_mode callable, max_by/min_by parity (reference examples)") {
    Seq((1, 10), (2, 5), (3, 15), (4, 8)).toDF("x", "y").createOrReplaceTempView("tab")
    val r = spark.sql("SELECT max_by(x, y) AS a, min_by(x, y) AS b FROM tab").collect()(0)
    assert(r.getInt(0) == 3 && r.getInt(1) == 2)
    Seq("apple", "banana", "apple").toDF("s").createOrReplaceTempView("t_mode")
    assert(spark.sql("SELECT graft_mode(s) FROM t_mode").collect()(0).getString(0) == "apple")
  }

  test("max_by_det/min_by_det: null ordering rows ignored, all-null group -> NULL") {
    import graft.functions.GraftFunctions.{max_by_det, min_by_det}
    // group a: y = (10, null, 5) → null row invisible; group b: all null → NULL
    val df = Seq(("a", 1, Some(10)), ("a", 2, None), ("a", 3, Some(5)),
      ("b", 4, None), ("b", 5, None))
      .toDF("g", "x", "y")
    val r = df.groupBy($"g")
      .agg(max_by_det($"x", $"y").as("mx"), min_by_det($"x", $"y").as("mn"))
      .orderBy($"g").collect()
    assert(r(0).getInt(1) == 1 && r(0).getInt(2) == 3)
    assert(r(1).isNullAt(1) && r(1).isNullAt(2))
    // empty input: global agg is one row of NULLs
    val e = df.filter(org.apache.spark.sql.functions.lit(false))
      .agg(max_by_det($"x", $"y").as("mx"), min_by_det($"x", $"y").as("mn")).collect()
    assert(e.length == 1 && e(0).isNullAt(0) && e(0).isNullAt(1))
  }

  test("max_by_ref/min_by_ref replay the reference snapshot matrix exactly") {
    import graft.functions.GraftFunctions.{max_by_ref, min_by_ref}
    // tests/main.rs:118-151 — plain numeric and string-length cases
    val t1 = Seq((1, 10), (2, 5), (3, 15), (4, 8)).toDF("x", "y")
    val r1 = t1.agg(max_by_ref($"x", $"y"), min_by_ref($"x", $"y")).collect().head
    assert(r1.getInt(0) == 3 && r1.getInt(1) == 2)
    val names = Seq("Alice", "Bob", "Charlie").toDF("name")
      .select($"name", org.apache.spark.sql.functions.length($"name").as("len"))
    val r2 = names.agg(max_by_ref($"name", $"len"), min_by_ref($"name", $"len")).collect().head
    assert(r2.getString(0) == "Charlie" && r2.getString(1) == "Bob")
    // tests/main.rs:177-204 — the null-key rows WIN BOTH directions:
    // (1,10),(2,NULL),(3,15),(NULL,8) → max_by = 2 AND min_by = 2
    val t3 = Seq((Some(1), Some(10)), (Some(2), None), (Some(3), Some(15)),
      (None, Some(8))).toDF("x", "y")
    val r3 = t3.agg(max_by_ref($"x", $"y"), min_by_ref($"x", $"y")).collect().head
    assert(r3.getInt(0) == 2 && r3.getInt(1) == 2,
      s"reference null-key-wins semantics: got $r3")
    // single value; empty set → NULL (tests/main.rs:206-264)
    val t4 = Seq((1, 10)).toDF("x", "y")
    val r4 = t4.agg(max_by_ref($"x", $"y"), min_by_ref($"x", $"y")).collect().head
    assert(r4.getInt(0) == 1 && r4.getInt(1) == 1)
    val e = t4.filter(org.apache.spark.sql.functions.lit(false))
      .agg(max_by_ref($"x", $"y"), min_by_ref($"x", $"y")).collect()
    assert(e.length == 1 && e(0).isNullAt(0) && e(0).isNullAt(1))
  }

  test("mode survives ObjectHashAggregate sort-based fallback (spill path)") {
    val s = spark.newSession()
    graft.functions.GraftFunctions.registerAll(s)
    import s.implicits._
    // force the fallback after 2 in-memory groups: exercises the
    // serialize/deserialize buffer path that a real spill takes
    s.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "2")
    val df = (0 until 2000).map(i => (i % 50, s"v${i % 7}")).toDF("k", "v").repartition(6)
    df.createOrReplaceTempView("t_spill")
    val rows = s.sql("SELECT k, graft_mode(v) AS m FROM t_spill GROUP BY k").collect()
    assert(rows.length == 50)
    // every group has the same value distribution: 2000/50=40 rows per key,
    // values v0..v6 cycle → per-key counts differ by at most 1; compute
    // expected per key with the string tie-break (smallest)
    val byKey = (0 until 2000).groupBy(_ % 50)
    rows.foreach { r =>
      val k = r.getInt(0)
      val counts = byKey(k).map(i => s"v${i % 7}").groupBy(identity).map { case (v, l) => (v, l.size) }
      val maxC = counts.values.max
      val expect = counts.filter(_._2 == maxC).keys.min
      assert(r.getString(1) == expect, s"k=$k")
    }
  }

  test("modeBy compositional form agrees with mode_agg") {
    val df = (1 to 2000).map(i => (i % 4, "v" + (i % 13))).toDF("g", "v")
    val a = modeBy(df, Seq("g"), "v")
      .orderBy($"g").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    val b = df.groupBy($"g").agg(mode_agg($"v").as("mode_v"))
      .orderBy($"g").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(a == b)
  }

  test("modeBy: string tie -> smallest string, nulls ignored, all-null group -> NULL") {
    val df = Seq(("g", "pear"), ("g", "apple"), ("g", "pear"), ("g", "apple"),
      ("h", null), ("h", null), ("h", "kiwi"), ("n", null), ("n", null)).toDF("k", "v")
    val got = modeBy(df, Seq("k"), "v").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got == Map("g" -> Some("apple"), "h" -> Some("kiwi"), "n" -> None))
    val ref = df.groupBy($"k").agg(mode_agg($"v")).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got == ref)
  }

  test("modeBy: primitive tie -> greatest value, nulls ignored, all-null group -> NULL") {
    val df = Seq(("a", Some(1)), ("a", Some(2)), ("a", Some(2)), ("a", Some(3)),
      ("b", Some(5)), ("b", Some(5)), ("b", Some(4)), ("b", Some(4)), ("b", None), ("b", None),
      ("b", None), ("z", None)).toDF("k", "v").repartition(3)
    val got = modeBy(df, Seq("k"), "v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(got == Map("a" -> Some(2), "b" -> Some(5), "z" -> None))
  }
}
