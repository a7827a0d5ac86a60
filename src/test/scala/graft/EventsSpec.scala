package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Events

class EventsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val M = 1000000L // µs per unit in these tests (values in ns below)
  // user 7: events at t=0min, 10min, 50min (gap>30 → two sessions)
  private val ev = Seq(
    (1L, 0L * 60 * 1000000000L, 7L, "view", 1.0),
    (2L, 10L * 60 * 1000000000L, 7L, "click", 2.0),
    (3L, 50L * 60 * 1000000000L, 7L, "view", 4.0),
    (4L, 5L * 60 * 1000000000L, 8L, "view", 8.0)
  ).toDF("event_id", "ts", "user_id", "event_type", "value")

  test("sessionize: 30-min gap splits sessions; aggregates per session") {
    val s = Events.sessionize(ev).orderBy($"user_id", $"session_seq").collect()
    assert(s.length == 3)
    val s1 = s(0) // user 7 session 1: events 1,2
    assert(s1.getLong(0) == 7L && s1.getLong(2) == 2L && s1.getDouble(5) == 3.0)
    assert(s1.getLong(3) == 0L && s1.getLong(4) == 600L * M)
    val s2 = s(1) // user 7 session 2: event 3
    assert(s2.getLong(2) == 1L && s2.getDouble(5) == 4.0)
    val s3 = s(2) // user 8
    assert(s3.getLong(0) == 8L && s3.getLong(2) == 1L)
  }

  test("tumblingWindows: 5-min buckets per event_type") {
    val w = Events.tumblingWindows(ev).orderBy($"event_type", $"window_id").collect()
    // view events at 0min(w0), 50min(w10), 5min(w1); click at 10min(w2)
    assert(w.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("click", 2L, 1L), ("view", 0L, 1L), ("view", 1L, 1L), ("view", 10L, 1L)))
  }

  test("asOfJoin: latest right row at-or-before each left row, per key") {
    val clicks = Seq((1L, 100L, "c1"), (1L, 200L, "c2"), (1L, 50L, "c0"), (2L, 100L, "c9"))
      .toDF("user_id", "tsu", "tag")
    val purchases = Seq((1L, 100L, 10.0), (1L, 150L, 20.0), (2L, 300L, 9.0))
      .toDF("user_id", "tsu", "pvalue")
    val r = Events.asOfJoin(clicks, purchases, "user_id", "tsu", Seq("pvalue"))
      .collect().map(x => (x.getString(2), (
        if (x.isNullAt(3)) -1L else x.getLong(3),
        if (x.isNullAt(4)) -1.0 else x.getDouble(4)))).toMap
    assert(r("c0") == (-1L, -1.0))     // before any purchase → null
    assert(r("c1") == (100L, 10.0))    // equal ts matches (<=)
    assert(r("c2") == (150L, 20.0))    // latest prior
    assert(r("c9") == (-1L, -1.0))     // other key's purchases invisible
  }

  test("asOfJoinForward / asOfJoinNearest: direction semantics, inclusive bounds, tie → backward") {
    val clicks = Seq((1L, 100L, "c1"), (1L, 200L, "c2"), (1L, 50L, "c0"),
        (1L, 125L, "cm"), (2L, 100L, "c9"))
      .toDF("user_id", "tsu", "tag")
    val purchases = Seq((1L, 100L, 10.0), (1L, 150L, 20.0), (2L, 300L, 9.0))
      .toDF("user_id", "tsu", "pvalue")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getString(2), (
        if (x.isNullAt(3)) -1L else x.getLong(3),
        if (x.isNullAt(4)) -1.0 else x.getDouble(4)))).toMap
    val f = m(Events.asOfJoinForward(clicks, purchases, "user_id", "tsu", Seq("pvalue")))
    assert(f("c0") == (100L, 10.0))   // earliest at-or-after
    assert(f("c1") == (100L, 10.0))   // equal ts matches (>=)
    assert(f("c2") == (-1L, -1.0))    // after the last purchase → null
    assert(f("c9") == (300L, 9.0))    // key 2 forward match
    val n = m(Events.asOfJoinNearest(clicks, purchases, "user_id", "tsu", Seq("pvalue")))
    assert(n("c0") == (100L, 10.0))   // only forward exists
    assert(n("c1") == (100L, 10.0))   // distance 0
    assert(n("c2") == (150L, 20.0))   // only backward exists
    assert(n("cm") == (100L, 10.0))   // 125 is 25 from both → tie → EARLIER
    assert(n("c9") == (300L, 9.0))
  }

  // Titles naming "asOfJoinNative" keep the name of the merge operator's
  // former entry point: they now run Events.asOfJoin / asOfJoinForward,
  // which plan that operator (AsOfJoinExec), and "window form" is the
  // DeclarativeAsOf reference.
  test("asOfJoinNative: custom AsOfJoinExec == window form, and is planned") {
    val clicks = Seq((1L, 100L, "c1"), (1L, 200L, "c2"), (1L, 50L, "c0"), (2L, 100L, "c9"))
      .toDF("user_id", "tsu", "tag")
    val purchases = Seq((1L, 100L, 10.0), (1L, 150L, 20.0), (2L, 300L, 9.0))
      .toDF("user_id", "tsu", "pvalue")
    val native = Events.asOfJoin(clicks, purchases, "user_id", "tsu", Seq("pvalue"))
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), "custom operator not in the physical plan")
    assert(!plan.contains("Window"), plan)
    val key = (r: org.apache.spark.sql.Row) => (
      r.getLong(0), r.getLong(1), r.getString(2),
      if (r.isNullAt(3)) -1L else r.getLong(3),
      if (r.isNullAt(4)) -1.0 else r.getDouble(4))
    val window = DeclarativeAsOf.asOfJoin(clicks, purchases, "user_id", "tsu", Seq("pvalue"))
    assert(native.collect().map(key).toSet == window.collect().map(key).toSet)
    assert(native.columns.toSeq == window.columns.toSeq)
  }

  test("asOfJoinNative: random data across partitionings equals window form") {
    val rnd = new scala.util.Random(42)
    val left = (1 to 400).map(i =>
      (rnd.nextInt(12).toLong, rnd.nextInt(1000).toLong, i.toLong))
      .toDF("user_id", "tsu", "event_id")
    // unique (key, ts) on the right (asOfJoin determinism precondition)
    val right = rnd.shuffle((0 until 12).flatMap(u =>
      (1 to 40).map(_ => (u.toLong, rnd.nextInt(1000).toLong))).distinct)
      .map { case (u, t) => (u, t, u * 10000.0 + t) }
      .toDF("user_id", "tsu", "pvalue")
    val key = (r: org.apache.spark.sql.Row) => (
      r.getLong(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3),
      if (r.isNullAt(4)) -1.0 else r.getDouble(4))
    val want = DeclarativeAsOf.asOfJoin(left, right, "user_id", "tsu", Seq("pvalue"))
      .collect().map(key).sortBy(x => (x._1, x._2, x._3)).toSeq
    for (parts <- Seq(1, 3, 8)) {
      val got = Events.asOfJoin(
        left.repartition(parts), right.repartition(parts + 1), "user_id", "tsu", Seq("pvalue"))
        .collect().map(key).sortBy(x => (x._1, x._2, x._3)).toSeq
      assert(got == want, s"mismatch at parts=$parts")
    }
  }

  test("asOfJoinNativeForward: random data across partitionings equals window forward form") {
    val rnd = new scala.util.Random(43)
    val left = (1 to 400).map(i =>
      (rnd.nextInt(12).toLong, rnd.nextInt(1000).toLong, i.toLong))
      .toDF("user_id", "tsu", "event_id")
    val right = rnd.shuffle((0 until 12).flatMap(u =>
      (1 to 40).map(_ => (u.toLong, rnd.nextInt(1000).toLong))).distinct)
      .map { case (u, t) => (u, t, u * 10000.0 + t) }
      .toDF("user_id", "tsu", "pvalue")
    val key = (r: org.apache.spark.sql.Row) => (
      r.getLong(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3),
      if (r.isNullAt(4)) -1.0 else r.getDouble(4))
    val want = DeclarativeAsOf.asOfJoinForward(left, right, "user_id", "tsu", Seq("pvalue"))
      .collect().map(key).sortBy(x => (x._1, x._2, x._3)).toSeq
    for (parts <- Seq(1, 5)) {
      val got = Events.asOfJoinForward(
        left.repartition(parts), right.repartition(parts + 1), "user_id", "tsu", Seq("pvalue"))
        .collect().map(key).sortBy(x => (x._1, x._2, x._3)).toSeq
      assert(got == want, s"mismatch at parts=$parts")
    }
  }

  test("labelWindow: equals the naive quadratic label join on random data") {
    val rnd = new scala.util.Random(17)
    val facts = (1 to 200).map(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(500).toLong * 10L, i.toLong))
      .toDF("user_id", "tsu", "event_id")
    val outs = (1 to 300).map(_ =>
      (rnd.nextInt(8).toLong, rnd.nextInt(500).toLong * 10L, rnd.nextInt(100) / 7.0))
      .toDF("user_id", "tsu", "value")
    val h = 137L
    val got = Events.labelWindow(facts, outs, "user_id", "tsu", "event_id", "value", h)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5)))).toMap
    val fRows = facts.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val oRows = outs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    fRows.foreach { case (u, t, id) =>
      val w = oRows.filter { case (ou, ot, _) => ou == u && ot > t && ot <= t + h }
      val want = (w.size.toLong,
        if (w.isEmpty) -1L else w.map(_._2).min,
        w.map(x => math.round(x._3 * 1e6)).sum)
      assert(got(id) == want, s"fact $id (u=$u t=$t): got ${got(id)}, want $want")
    }
    // strict lower bound: an outcome AT the fact's instant never labels it
    val self = Events.labelWindow(
      Seq((1L, 100L, 9L)).toDF("user_id", "tsu", "event_id"),
      Seq((1L, 100L, 5.0)).toDF("user_id", "tsu", "value"),
      "user_id", "tsu", "event_id", "value", h)
      .collect().head
    assert(self.getLong(3) == 0L)
  }

  test("asOfJoinNative: tolerance voids matches older than the bound") {
    val clicks = Seq((1L, 100L, 5L), (1L, 500L, 6L)).toDF("user_id", "tsu", "event_id")
    val purchases = Seq((1L, 90L, 1.5)).toDF("user_id", "tsu", "pvalue")
    val r = Events.asOfJoin(
      clicks, purchases, "user_id", "tsu", Seq("pvalue"), toleranceMicros = Some(50L))
      .collect().map(x => x.getLong(2) -> x.isNullAt(3)).toMap
    assert(!r(5L)) // 100-90=10 <= 50: match kept
    assert(r(6L))  // 500-90=410 > 50: treated as absent
  }

  test("asOfJoin / asOfJoinNative: null timestamps never match (oracle semantics)") {
    val clicks = Seq(
      (1L, Some(100L), 5L), (1L, None, 6L) // left null ts -> nulls carried
    ).toDF("user_id", "tsu", "event_id")
    val purchases = Seq(
      (1L, None, 99.0),      // right null ts -> invisible
      (1L, Some(90L), 1.5)
    ).toDF("user_id", "tsu", "pvalue")
    val key = (r: org.apache.spark.sql.Row) => (
      r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3),
      if (r.isNullAt(4)) -1.0 else r.getDouble(4))
    val w = DeclarativeAsOf.asOfJoin(clicks, purchases, "user_id", "tsu", Seq("pvalue"))
      .collect().map(key).toSet
    val n = Events.asOfJoin(clicks, purchases, "user_id", "tsu", Seq("pvalue"))
      .collect().map(key).toSet
    val expect = Set((5L, 90L, 1.5), (6L, -1L, -1.0))
    assert(w == expect, s"window form: $w")
    assert(n == expect, s"native form: $n")
  }

  test("asOfJoinNative: empty right side carries nulls for every left row") {
    val clicks = Seq((1L, 100L, 5L), (2L, 200L, 6L)).toDF("user_id", "tsu", "event_id")
    val purchases = Seq.empty[(Long, Long, Double)].toDF("user_id", "tsu", "pvalue")
    val r = Events.asOfJoin(clicks, purchases, "user_id", "tsu", Seq("pvalue"))
      .collect()
    assert(r.length == 2)
    assert(r.forall(row => row.isNullAt(3) && row.isNullAt(4)))
  }

  test("asOfJoinNative: 5k-row fuzz (ties, null ts, tolerance) equals window form") {
    val rnd = new scala.util.Random(2026)
    // left: duplicate (key, ts) rows with distinct ids, ~3% null ts
    val left = (1 to 5000).map { i =>
      val ts = if (rnd.nextInt(33) == 0) None else Some(rnd.nextInt(500).toLong)
      (rnd.nextInt(20).toLong, ts, i.toLong)
    }.toDF("user_id", "tsu", "event_id")
    // right: unique (key, ts) — the operator's determinism precondition —
    // with ~5% null ts rows sprinkled in (must be invisible)
    val rightBase = rnd.shuffle((0 until 20).flatMap(u =>
      (1 to 60).map(_ => (u.toLong, rnd.nextInt(500).toLong))).distinct)
      .map { case (u, t) => (u, Some(t), u * 1000.0 + t) }
    val rightNulls = (1 to 60).map(_ =>
      (rnd.nextInt(20).toLong, None: Option[Long], -1.0))
    val right = rnd.shuffle(rightBase ++ rightNulls).toDF("user_id", "tsu", "pvalue")
    val key = (r: org.apache.spark.sql.Row) => (
      r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3),
      if (r.isNullAt(4)) -1.0 else r.getDouble(4))
    val window = DeclarativeAsOf.asOfJoin(left, right, "user_id", "tsu", Seq("pvalue"))
      .collect().map(key)
    val native = Events.asOfJoin(
      left.repartition(7), right.repartition(3), "user_id", "tsu", Seq("pvalue"))
      .collect().map(key)
    assert(native.sorted.toSeq == window.sorted.toSeq)
    // tolerance = null-out matches older than T, row still emitted
    val T = 40L
    val expectTol = window.map { case (u, t, id, at, av) =>
      if (at >= 0 && t - at <= T) (u, t, id, at, av) else (u, t, id, -1L, -1.0)
    }
    val nativeTol = Events.asOfJoin(
      left, right, "user_id", "tsu", Seq("pvalue"), toleranceMicros = Some(T))
      .collect().map(key)
    assert(nativeTol.sorted.toSeq == expectTol.sorted.toSeq)
  }

  test("asOfJoinNearest: random data with ties and NULLs equals window form") {
    val rnd = new scala.util.Random(2027)
    // ~3% null keys and ts on each side; a 300-wide ts range over 15
    // keys makes equal before/after distances (the backward tie) common
    def maybe(v: Long): Option[Long] = if (rnd.nextInt(33) == 0) None else Some(v)
    val left = (1 to 3000).map(i =>
      (maybe(rnd.nextInt(15).toLong), maybe(rnd.nextInt(300).toLong), i.toLong))
      .toDF("user_id", "tsu", "event_id")
    // unique (key, ts) among the right rows that can match
    val right = rnd.shuffle((0 until 15).flatMap(u =>
      (1 to 40).map(_ => (u.toLong, rnd.nextInt(300).toLong))).distinct)
      .map { case (u, t) => (maybe(u), maybe(t), u * 1000.0 + t) }
      .toDF("user_id", "tsu", "pvalue")
    val key = (r: org.apache.spark.sql.Row) => (
      r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3),
      if (r.isNullAt(4)) -1.0 else r.getDouble(4))
    val want = DeclarativeAsOf.asOfJoinNearest(left, right, "user_id", "tsu", Seq("pvalue"))
      .collect().map(key).sorted.toSeq
    assert(want.count(_._2 >= 0) > 2500, "too few matches to exercise the merge")
    for (parts <- Seq(1, 5)) {
      val got = Events.asOfJoinNearest(
        left.repartition(parts), right.repartition(parts + 1), "user_id", "tsu", Seq("pvalue"))
      assert(!got.queryExecution.executedPlan.toString.contains("Window"))
      assert(got.collect().map(key).sorted.toSeq == want, s"mismatch at parts=$parts")
    }
  }

  test("asOfJoin: a NULL key matches nothing, in every direction and under a tolerance") {
    // event 6's NULL key must not pick up the NULL-key purchases (DuckDB's
    // ASOF LEFT JOIN gives it NULLs); event 7's NULL ts matches nothing
    val clicks = Seq[(Option[Long], Option[Long], Long)](
      (Some(1L), Some(100L), 5L), (None, Some(100L), 6L), (Some(1L), None, 7L))
      .toDF("user_id", "tsu", "event_id")
    val purchases = Seq[(Option[Long], Long, Double)](
      (Some(1L), 90L, 1.5), (Some(1L), 130L, 2.5), (None, 100L, 200.0), (None, 95L, 300.0))
      .toDF("user_id", "tsu", "pvalue")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(2), (
        if (x.isNullAt(3)) -1L else x.getLong(3),
        if (x.isNullAt(4)) -1.0 else x.getDouble(4)))).toMap
    def want(match5: (Long, Double)) = Map(5L -> match5, 6L -> (-1L, -1.0), 7L -> (-1L, -1.0))
    type AsOf = (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
      String, String, Seq[String]) => org.apache.spark.sql.DataFrame
    def run(op: AsOf) = m(op(clicks, purchases, "user_id", "tsu", Seq("pvalue")))
    val tol: Option[Long] = Some(20L)
    assert(run(Events.asOfJoin(_, _, _, _, _)) == want((90L, 1.5)))
    assert(run(Events.asOfJoin(_, _, _, _, _, tol)) == want((90L, 1.5)))
    assert(run(Events.asOfJoinForward(_, _, _, _, _)) == want((130L, 2.5)))
    assert(run(Events.asOfJoinForward(_, _, _, _, _, tol)) == want((-1L, -1.0)))
    assert(run(Events.asOfJoinNearest) == want((90L, 1.5)))
    // the window reference filters the same rows
    assert(run(DeclarativeAsOf.asOfJoin) == want((90L, 1.5)))
    assert(run(DeclarativeAsOf.asOfJoinForward) == want((130L, 2.5)))
    assert(run(DeclarativeAsOf.asOfJoinNearest) == want((90L, 1.5)))
  }

  test("funnel: greedy-earliest ordered matching; non-converters drop out") {
    val e = Seq(
      // user 1: view(10) -> click(20) -> purchase(30) converts
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      // user 2: click BEFORE first view → no qualifying click
      (2L, 10L, "click"), (2L, 20L, "view"),
      // user 3: greedy picks view=5, click=25 (not 15? no — earliest after 5 is 15), purchase absent
      (3L, 5L, "view"), (3L, 15L, "click"), (3L, 25L, "click"))
      .toDF("user_id", "tsu", "event_type")
    val r = Events.funnel(e, "user_id", "tsu", "event_type", Seq("view", "click", "purchase"))
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r.keySet == Set(1L))
    assert(r(1L) == ((10L, 20L, 30L)))
    // two-stage funnel: user 3 converts view->click with earliest times
    val r2 = Events.funnel(e, "user_id", "tsu", "event_type", Seq("view", "click"))
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r2(3L) == ((5L, 15L)))
    assert(!r2.contains(2L))
  }

  test("rangeSelfJoin: pairs within the gap, across bucket boundaries, no dupes") {
    val e = Seq(
      (1L, 0L, 1L), (1L, 50L, 2L),      // same bucket, Δ=50
      (1L, 99L, 3L), (1L, 101L, 4L),    // adjacent buckets, Δ=2
      (1L, 500L, 5L),                   // isolated
      (2L, 0L, 6L), (2L, 100L, 7L))     // other key, Δ=100 == gap
      .toDF("user_id", "tsu", "event_id")
    val pairs = Events.rangeSelfJoin(e, "user_id", "tsu", "event_id", 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(pairs == Set(
      (1L, 1L, 2L, 50L), (1L, 2L, 3L, 49L), (1L, 1L, 3L, 99L),
      (1L, 3L, 4L, 2L), (1L, 2L, 4L, 51L),
      (2L, 6L, 7L, 100L)), pairs)
  }

  test("rangeJoin (two-table): pairs within gap across bucket boundaries, exact bounds") {
    val clicks = Seq((1L, 100L, 10L), (1L, 995L, 11L), (2L, 100L, 12L))
      .toDF("user_id", "tsu", "event_id")
    val purchases = Seq(
      (1L, 150L, 20L),   // within 100 of click@100? |50| <= 100 yes
      (1L, 1005L, 21L),  // crosses bucket boundary vs click@995: |10| <= 100
      (1L, 250L, 22L),   // |150| > 100 from click@100 -> excluded
      (2L, 200L, 23L),   // INCLUSIVE bound: exactly |100| <= 100, two buckets apart
      (2L, 201L, 25L),   // one past the bound: |101| > 100 -> excluded
      (3L, 100L, 24L))   // other key -> never pairs
      .toDF("user_id", "tsu", "event_id")
    val got = graft.ops.Events.rangeJoin(
      clicks, purchases, "user_id", "tsu", Seq("event_id"), Seq("event_id"), 100L)
      .collect().map(r => (r.getLong(4), r.getLong(5))).toSet
    assert(got == Set((10L, 20L), (11L, 21L), (12L, 23L)), got.toString)
    intercept[IllegalArgumentException] {
      graft.ops.Events.rangeJoin(
        clicks, purchases, "user_id", "tsu", Seq("event_id"), Seq("event_id"), 0L)
    }
  }

  test("sessionize truncates sub-µs nanos (engine-portable µs domain)") {
    val e = Seq((1L, 1000000999L, 1L, "v", 1.0)).toDF("event_id", "ts", "user_id", "event_type", "value")
    val s = Events.sessionize(e).collect().head
    assert(s.getLong(3) == 1000000L) // 999 ns truncated
  }
}
