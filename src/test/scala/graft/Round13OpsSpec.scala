package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Events, Stats}

/** Round-13 operators: multi-touch attribution, inter-arrival profile,
  * concentration (Gini). Pinned contracts on hand frames plus
  * naive-form equality on the real sf0.001 tables, mirroring the
  * labelWindow / budgetSelect proof pattern. */
class Round13OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

  // ---- attribution ----

  test("attribution: window bounds, credit split and first/last flags pinned") {
    // user 1: touches at 5 (== conv-L, included), 10, 20; excluded at 25
    //   (== conv instant) and 4 (before window); conv at 25, value 9.0
    // user 2: conv with no touch -> no row
    val touches = Seq((1L, 4L, 100L), (1L, 5L, 101L), (1L, 10L, 102L),
        (1L, 20L, 103L), (1L, 25L, 104L), (2L, 500L, 105L))
      .toDF("user_id", "tsu", "event_id")
    val convs = Seq((1L, 25L, 900L, 9.0), (2L, 100L, 901L, 7.0))
      .toDF("user_id", "tsu", "conv_id", "value")
    val out = Events.attribution(touches, convs, "user_id", "tsu",
      "event_id", "conv_id", "value", lookbackMicros = 20L)
      .collect().map(r => (r.getLong(3),
        (r.getLong(5), r.getBoolean(6), r.getBoolean(7), r.getDouble(8))))
      .toMap
    assert(out.keySet == Set(101L, 102L, 103L)) // 100/104 out of window, 105 wrong conv
    assert(out(101L) == ((3L, true, false, 3.0)))  // first touch
    assert(out(102L) == ((3L, false, false, 3.0)))
    assert(out(103L) == ((3L, false, true, 3.0)))  // last touch
  }

  test("attribution: banded join is row-identical to the naive inequality join") {
    val e = graft.ops.EventTime.normalizeTs(events)
      .withColumn("tsu", expr("ts div 1000L"))
    val touches = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("tsu"), col("event_id"))
    val convs = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsu").as("ctsu"),
        col("event_id").as("conv_id"), round(col("value"), 6).as("v"))
    val lb = 86400000000L
    val naive = convs.join(
        touches.select(col("user_id"), col("tsu").as("ttsu"), col("event_id")),
        Seq("user_id"))
      .filter(col("ttsu") < col("ctsu") && col("ttsu") >= col("ctsu") - lb)
      .select(col("user_id"), col("conv_id"), col("ctsu"), col("event_id"),
        col("ttsu"))
    val banded = Events.attribution(touches,
        convs.select(col("user_id"), col("ctsu").as("tsu"), col("conv_id"),
          col("v").as("value")),
        "user_id", "tsu", "event_id", "conv_id", "value", lb)
      .select(col("user_id"), col("conv_id"), col("conv_tsu"), col("event_id"),
        col("touch_tsu"))
    val a = naive.collect().map(_.toString).sorted.toSeq
    val b = banded.collect().map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a == b)
  }

  // ---- interArrival ----

  test("interArrival: gaps, mean, interpolated p50/p90, single-event users absent") {
    // user 1: events at 0/10/30/100 µs -> gaps 10,20,70
    // user 2: one event -> no gaps -> no row
    val e = Seq((1L, 0L, 10L, "a", 0.0), (2L, 10000L, 10L, "a", 0.0),
        (3L, 30000L, 10L, "a", 0.0), (4L, 100000L, 10L, "a", 0.0),
        (5L, 0L, 20L, "a", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.interArrival(e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5))))
      .toMap
    assert(out.keySet == Set(10L))
    val (n, mean, p50, p90, mx) = out(10L)
    assert(n == 3L && mx == 70L)
    assert(math.abs(mean - 100.0 / 3) < 1e-12)
    assert(p50 == 20.0)                    // rank 1 exactly
    assert(math.abs(p90 - 60.0) < 1e-9)    // 20 + 0.8 * (70 - 20)
  }

  test("interArrival: ties in gap values interpolate deterministically") {
    // gaps 10,10,10,40 -> p50 rank 1.5 -> 10 + 0.5*(10-10) = 10
    val e = Seq((1L, 0L), (2L, 10000L), (3L, 20000L), (4L, 30000L), (5L, 70000L))
      .map { case (id, ts) => (id, ts, 1L, "a", 0.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.interArrival(e).collect()(0)
    assert(r.getLong(1) == 4L && r.getDouble(3) == 10.0)
  }

  // ---- concentration ----

  test("concentration: gini/top-shares pinned on hand distributions") {
    // counts [1,1,1,1,6]: G = (2*40 - 6*10) / (5*10) = 0.4
    val skewed = (Seq.fill(1)(("e", 0)) ++ Seq.fill(6)(("a", 0)) ++
        Seq(("b", 0), ("c", 0), ("d", 0)))
      .toDF("k", "pad")
    val r1 = Stats.concentration(skewed, "k").collect()(0)
    assert(r1.getLong(0) == 5L && r1.getLong(1) == 10L)
    assert(r1.getDouble(2) == 0.4)
    assert(r1.getDouble(3) == 0.6 && r1.getDouble(4) == 1.0)
    // topK=1 keeps only the heaviest key's share
    val r1b = Stats.concentration(skewed, "k", topK = 1).collect()(0)
    assert(r1b.getDouble(4) == 0.6)
    // uniform distribution -> gini 0
    val uniform = Seq("a", "a", "b", "b", "c", "c").toDF("k")
      .withColumn("pad", lit(0))
    assert(Stats.concentration(uniform, "k").collect()(0).getDouble(2) == 0.0)
    // empty input -> zero counts, NULL gini/shares, no ANSI throw
    val r3 = Stats.concentration(uniform.filter(col("k") === "zzz"), "k").collect()(0)
    assert(r3.getLong(0) == 0L && r3.getLong(1) == 0L && r3.isNullAt(2) &&
      r3.isNullAt(3) && r3.isNullAt(4))
  }

  // ---- abLift ----

  test("abLift: deterministic arms, exact moments, degenerate arms yield NULL z") {
    val e = graft.ops.EventTime.normalizeTs(events)
    val out = graft.ops.Events.abLift(e).collect()(0)
    val (nc, nt) = (out.getLong(0), out.getLong(1))
    // arms partition the user population deterministically
    val users = e.select(col("user_id")).distinct().count()
    assert(nc + nt == users && nc > 1 && nt > 1)
    // lift consistent with the two means (same rounding both paths)
    assert(math.abs(out.getDouble(4) - (out.getDouble(3) - out.getDouble(2))) < 2e-6)
    assert(!out.isNullAt(5)) // both arms populated -> real z
    // identical on re-run: no randomness anywhere
    val again = graft.ops.Events.abLift(e).collect()(0)
    assert(out.toString == again.toString)
    // a one-arm population: arm-0 users only -> z and arm-t stats NULL
    val armExpr = (conv(substring(md5(col("user_id").cast("string")), 1, 8),
      16, 10).cast("long") % 2).cast("int")
    val oneArm = e.withColumn("__a", armExpr).filter(col("__a") === 0).drop("__a")
    val r1 = graft.ops.Events.abLift(oneArm).collect()(0)
    assert(r1.getLong(1) == 0L && r1.isNullAt(3) && r1.isNullAt(4) && r1.isNullAt(5))
    // a 2-user population (one per arm): means real, z NULL (n<2)
    val twoUsers = e.filter(col("user_id").isin(0L, 1L))
    val r2 = graft.ops.Events.abLift(twoUsers).collect()(0)
    if (r2.getLong(0) == 1L && r2.getLong(1) == 1L)
      assert(!r2.isNullAt(2) && !r2.isNullAt(3) && r2.isNullAt(5))
  }

  // ---- histogramPercentile ----

  test("histogramPercentile: bin-granular pct, clamping, null pass-through") {
    import graft.ops.Stats
    val d = Seq(("g", 0.1), ("g", 0.2), ("g", 0.2), ("g", 0.9),
        ("h", 5.0), ("h", -1.0))
      .toDF("k", "v")
    val out = Stats.histogramPercentile(d, Seq("k"), "v", 0.0, 1.0, 10)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    assert(out(("g", 0.1)) == 0.0)
    assert(out(("g", 0.2)) == 0.25)  // one of four strictly below its bin
    assert(out(("g", 0.9)) == 0.75)
    // out-of-range values clamp into the edge bins: -1 -> bin 0 (pct 0),
    // 5 -> top bin (everything else below)
    assert(out(("h", -1.0)) == 0.0 && out(("h", 5.0)) == 0.5)
    // null values keep a null pct
    val withNull = Seq(("g", Some(0.5)), ("g", None))
      .toDF("k", "v")
    val rows = Stats.histogramPercentile(withNull, Seq("k"), "v", 0.0, 1.0, 10)
      .collect()
    assert(rows.count(_.isNullAt(2)) == 1)
  }

  // ---- topPaths ----

  test("topPaths: session journeys counted, capped at maxSteps, gap splits paths") {
    val MinNs = 60L * 1000000000L
    val Base = 1704067200L * 1000000000L
    // user 1: session A view>click>purchase, then (after a >30min gap)
    // session B view>view; user 2: view>click>purchase
    val e = Seq(
        (1L, Base, 1L, "view", 0.0),
        (2L, Base + 1 * MinNs, 1L, "click", 0.0),
        (3L, Base + 2 * MinNs, 1L, "purchase", 0.0),
        (4L, Base + 60 * MinNs, 1L, "view", 0.0),
        (5L, Base + 61 * MinNs, 1L, "view", 0.0),
        (6L, Base, 2L, "view", 0.0),
        (7L, Base + 1 * MinNs, 2L, "click", 0.0),
        (8L, Base + 2 * MinNs, 2L, "purchase", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val full = graft.ops.Events.topPaths(e, maxSteps = 5, k = 20).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(full == Map("view>click>purchase" -> 2L, "view>view" -> 1L))
    // maxSteps truncates the journey before collection
    val cut = graft.ops.Events.topPaths(e, maxSteps = 2, k = 20).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cut == Map("view>click" -> 2L, "view>view" -> 1L))
    // k cuts deterministically on (count desc, path asc)
    val top1 = graft.ops.Events.topPaths(e, maxSteps = 5, k = 1).collect()
    assert(top1.length == 1 && top1(0).getString(0) == "view>click>purchase")
  }

  // ---- levelShift ----

  test("levelShift: step detected at full frames only; observed-day semantics") {
    val DayNs = 86400L * 1000000000L
    def mk(day: Long, c: Int): Seq[(Long, Long, Long, String, Double)] =
      (1 to c).map(i => (day * 100 + i, day * DayNs + i * 1000000000L,
        1L, "a", 0.0))
    // days 1..5 with counts 4,4,8,8,8 and w=2: day 3 shift 4 (4->8),
    // day 4 shift 2 (6->8); days 1-2 lack a full before frame, day 5 a
    // full after frame
    val e = (mk(1, 4) ++ mk(2, 4) ++ mk(3, 8) ++ mk(4, 8) ++ mk(5, 8))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = graft.ops.Events.levelShift(e, w = 2).collect()
      .map(r => r.getLong(1) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out.keySet == Set(3L, 4L))
    assert(out(3L) == ((4.0, 8.0, 4.0)))
    assert(out(4L) == ((6.0, 8.0, 2.0)))
    // a missing calendar day is ABSENT, not zero: frames slide over
    // observed rows, so day 5 still sees (day2, day3) as its before frame
    val gappy = (mk(1, 4) ++ mk(2, 4) ++ mk(3, 8) ++ mk(5, 8) ++ mk(6, 8))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out2 = graft.ops.Events.levelShift(gappy, w = 2).collect()
      .map(r => r.getLong(1) -> r.getDouble(4)).toMap
    assert(out2.keySet == Set(3L, 5L) && out2(5L) == 2.0)
  }

  // ---- marginMine ----

  test("marginMine: hub ties score zero margin; lone candidates excluded") {
    import graft.ops.Similarity
    // queries 1=(1,0), 2=(0,1); candidates 10=(2,0), 11=(1,1),
    // 12=(0,3), 13=(0,1). q1: best 10 (cos 1) vs 11 (0.707107) ->
    // margin 0.292893. q2: 12 and 13 BOTH at cos 1 (a hub tie) ->
    // margin 0 -> dropped at 0.1, kept at 0.0.
    val emb = Seq(
        (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)),
        (10L, Seq(2f, 0f)), (11L, Seq(1f, 1f)),
        (12L, Seq(0f, 3f)), (13L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val corpus = Similarity.prepared(emb, "vec_id", "embedding")
    val strict = Similarity.marginMine(corpus, col("vec_id") < 10, 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(strict.toSeq == Seq((1L, 10L, 0.292893)))
    val loose = Similarity.marginMine(corpus, col("vec_id") < 10, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    assert(loose == Set((1L, 10L, 0.292893), (2L, 12L, 0.0)))
    // a single candidate has no runner-up: no margin, no row
    val lone = Similarity.marginMine(
      Similarity.prepared(Seq((1L, Seq(1f, 0f)), (10L, Seq(2f, 0f)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding"),
      col("vec_id") < 10, 0.0)
    assert(lone.count() == 0L)
  }

  // ---- triangleStats ----

  test("triangleStats: census pinned on K4 + pendant; canonicalization; empty graph") {
    // K4 over 1..4 (4 triangles) + pendant edge 4-5:
    // wedges 3+3+3+6+0 = 15, GCC = 12/15 = 0.8
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (k4 :+ ((4L, 5L))).toDF("id1", "id2")
    val r = graft.ops.Graph.triangleStats(edges).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((5L, 7L, 4L, 15L)))
    assert(r.getDouble(4) == 0.8)
    // reversed duplicates and self-loops canonicalize away
    val messy = edges.unionByName(
      edges.select(col("id2").as("id1"), col("id1").as("id2")))
      .unionByName(Seq((3L, 3L)).toDF("id1", "id2"))
    val r2 = graft.ops.Graph.triangleStats(messy).collect()(0)
    assert((r2.getLong(1), r2.getLong(2)) == ((7L, 4L)))
    // empty graph: zero counts, NULL coefficient, no ANSI throw
    val r3 = graft.ops.Graph.triangleStats(
      edges.filter(col("id1") < 0L)).collect()(0)
    assert(r3.getLong(0) == 0L && r3.getLong(2) == 0L && r3.isNullAt(4))
  }

  test("localClustering: per-node credit, leaves NULL, triangle-free zero") {
    // K4 over 1..4 + pendant 4-5: nodes 1-3 have deg 3 and sit in 3
    // triangles each (cc = 1.0); node 4 deg 4, 3 triangles, cc = 0.5;
    // node 5 is a leaf -> NULL cc, 0 triangles
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (k4 :+ ((4L, 5L))).toDF("id1", "id2")
    val out = graft.ops.Graph.localClustering(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out(1L) == ((3L, 3L, Some(1.0))))
    assert(out(2L) == ((3L, 3L, Some(1.0))))
    assert(out(3L) == ((3L, 3L, Some(1.0))))
    assert(out(4L) == ((4L, 3L, Some(0.5))))
    assert(out(5L) == ((1L, 0L, None)))
    // total per-node credit = 3 x the global census
    val total = out.values.map(_._2).sum
    val global = graft.ops.Graph.triangleStats(edges).collect()(0).getLong(2)
    assert(total == 3 * global)
  }

  test("triangleStats: oriented count equals the naive a<b<c join on real pairs") {
    val pairs = graft.ops.Dedup.candidatePairs(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      "doc_id", "text", 8, 4)
    val out = graft.ops.Graph.triangleStats(pairs).collect()(0)
    val und = pairs.select(least(col("id1"), col("id2")).as("a"),
        greatest(col("id1"), col("id2")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val naive = und.as("e1")
      .join(und.as("e2"), col("e2.a") === col("e1.b"))
      .join(und.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .count()
    assert(out.getLong(2) == naive && naive > 0)
  }

  test("concentration: closed-form fold matches the naive global-rank Gini on real events") {
    val out = Stats.concentration(events, "user_id").collect()(0)
    // naive: collect per-key counts, sort ascending, rank identity
    val xs = events.groupBy(col("user_id")).count()
      .collect().map(_.getLong(1)).sorted
    val n = xs.length.toLong
    val t = xs.sum
    val s = xs.zipWithIndex.map { case (x, i) => BigInt(x) * (i + 1) }.sum
    val gini = (BigDecimal(2 * s) - BigDecimal((n + 1) * t)) /
      BigDecimal(n * t)
    assert(out.getLong(0) == n && out.getLong(1) == t)
    assert(math.abs(out.getDouble(2) - gini.toDouble) < 1e-6)
    val top10 = xs.reverse.take(10).sum
    assert(math.abs(out.getDouble(4) - top10.toDouble / t) < 1e-6)
  }

  // ---- sessionPaths / PathPrefix ----

  private val MinNs = 60L * 1000000000L
  private val BaseNs = 1704067200L * 1000000000L // 2024-01-01T00:00Z

  test("sessionPaths: pinned prefix, id tie-break, truncation, null label, gap split") {
    // user 1 session A: 7 events; 102/103 share a ts (id breaks the tie,
    // and they arrive REVERSED in the input); 104's label is null (it
    // consumes a prefix slot but is skipped at join time, string_agg
    // style); 106/107 fall beyond maxSteps=5. Session B starts 95 min
    // later. user 2 has a single event.
    val evs = Seq(
      (103L, BaseNs + 1L * MinNs, 1L, "c"),
      (102L, BaseNs + 1L * MinNs, 1L, "b"),
      (101L, BaseNs, 1L, "a"),
      (104L, BaseNs + 2L * MinNs, 1L, null),
      (105L, BaseNs + 3L * MinNs, 1L, "e"),
      (106L, BaseNs + 4L * MinNs, 1L, "f"),
      (107L, BaseNs + 5L * MinNs, 1L, "g"),
      (108L, BaseNs + 100L * MinNs, 1L, "h"),
      (201L, BaseNs + 7L * MinNs, 2L, "z"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Events.sessionPaths(evs, maxSteps = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3)))).toMap
    val baseUs = BaseNs / 1000L
    assert(out.size == 3, out.toString)
    assert(out((1L, baseUs)) == (("a>b>c>e", 7L)))          // null slot eaten
    assert(out((1L, baseUs + 100L * 60000000L)) == (("h", 1L)))
    assert(out((2L, baseUs + 7L * 60000000L)) == (("z", 1L)))
  }

  test("sessionPaths: equals the naive rank-window form on real events, partition-invariant") {
    import org.apache.spark.sql.expressions.Window
    val e = graft.ops.EventTime.normalizeTs(events)
      .select(col("user_id"), expr("ts div 1000").as("tsu"),
        col("event_id"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    val ws = Window.partitionBy("user_id", "session_seq")
      .orderBy("tsu", "event_id")
    val naive = e.withColumn("prev", lag("tsu", 1).over(w))
      .withColumn("is_new", when(col("prev").isNull ||
        col("tsu") - col("prev") > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("session_seq", sum("is_new").over(w))
      .withColumn("rn", row_number().over(ws))
      .groupBy("user_id", "session_seq")
      .agg(min("tsu").as("start_us"), count(lit(1)).as("n_events"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN rn <= 5 THEN " +
          "struct(rn, event_type) END)), x -> x.event_type)"), ">")
          .as("path"))
      .select("user_id", "start_us", "path", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    val got = Events.sessionPaths(events, maxSteps = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    assert(got == naive && got.nonEmpty)
    // order-free merge: a shuffled 13-partition input yields the set
    val shuffled = Events.sessionPaths(events.repartition(13), maxSteps = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    assert(shuffled == got)
  }

  test("hashingVectorize: bucket determinism, collision sums, total-count conservation") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.ops.TextOps.hashingVectorize(docs, "doc_id", "text", 64)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.forall { case (_, b, n) => b >= 0 && b < 64 && n >= 1 })
    // conservation: bucket counts sum to the token count per doc
    val tokTotals = docs.select(col("doc_id"),
      size(graft.ops.TextOps.tokens(col("text"))).cast("long").as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bucketTotals = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    bucketTotals.foreach { case (d, s) => assert(s == tokTotals(d), d.toString) }
    // determinism: a token's bucket is a pure md5 function
    assert(out.collect().map(_.toSeq).toSet ==
      graft.ops.TextOps.hashingVectorize(docs.repartition(13), "doc_id", "text", 64)
        .collect().map(_.toSeq).toSet)
  }

  test("abPower: MDE from exact moments; a confirmed lift must exceed its own MDE check") {
    val r = Events.abPower(events).collect()(0)
    assert(r.getLong(0) > 1L && r.getLong(1) > 1L)
    val (se, mdeAbs, mdeRel) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(se > 0.0 && mdeAbs > 0.0 && mdeRel > 0.0)
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(mdeAbs == r6((1.959964 + 0.841621) * se) ||
      math.abs(mdeAbs - (1.959964 + 0.841621) * se) < 2e-6)
    // internal consistency with abLift: |z| >= 1.96 iff |lift| >= 1.96*se
    val lift = Events.abLift(events).collect()(0)
    val zFromSe = lift.getDouble(4) / se
    assert(math.abs(zFromSe - lift.getDouble(5)) < 2e-2) // same se, rounded inputs
    // single-arm degenerate: NULLs, no throw
    val armExpr = (conv(substring(md5(col("user_id").cast("string")), 1, 8),
      16, 10).cast("long") % 2).cast("int")
    val oneArm = graft.ops.EventTime.normalizeTs(events)
      .withColumn("__a", armExpr).filter(col("__a") === 0).drop("__a")
    val d = Events.abPower(oneArm).collect()(0)
    assert(d.isNullAt(2) && d.isNullAt(3) && d.isNullAt(4))
  }

  test("bounceRate: counts on the session frame, bounds, single-event day = 1.0") {
    val out = Events.bounceRate(events).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.foreach { case (n, b, rate) =>
      assert(n >= 1L && b >= 0L && b <= n)
      assert(rate == math.round(b.toDouble / n * 1e6) / 1e6)
    }
    // one lone event -> one bounced session -> rate 1.0
    val lone = Seq((1L, BaseNs, 9L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.bounceRate(lone).collect()(0)
    assert(r.getLong(1) == 1L && r.getDouble(3) == 1.0)
  }

  test("stickiness: ratio bounds, daily-everyone = 1.0, window consistency on real events") {
    val out = Events.stickiness(events, windowDays = 28).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.foreach { case (_, dau, mau, st) =>
      assert(dau >= 1L && mau >= dau)
      assert(st > 0.0 && st <= 1.0)
      assert(st == math.round(dau.toDouble / mau * 1e6) / 1e6)
    }
    // a single-user daily stream has stickiness exactly 1.0 everywhere
    val daily = (0L until 5L).map(d =>
      (d, BaseNs + d * 86400L * 1000000000L, 1L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(Events.stickiness(daily).collect().forall(_.getDouble(3) == 1.0))
  }

  test("featureWindowsIncremental: merge-then-window equals full recompute for touched users only") {
    val dayNs = 86400L * 1000000000L
    def ev(id: Long, u: Long, d: Long, v: Double) =
      (id, BaseNs + d * dayNs + id * 1000000L, u, "view", v)
    // history: users 1, 2, 3 active across days 0..10
    val pre = Seq(ev(1, 1, 0, 1.0), ev(2, 1, 3, 2.0), ev(3, 1, 8, 3.0),
      ev(4, 2, 1, 5.0), ev(5, 2, 9, 1.5), ev(6, 3, 2, 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    // shard: touches users 1 (new day + an EXISTING day) and 4 (new)
    val post = Seq(ev(10, 1, 8, 0.5), ev(11, 1, 12, 1.0), ev(12, 4, 12, 9.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val incr = Events.featureWindowsIncremental(
      Events.featureDayFrame(pre), post)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    val full = Events.featureWindows(pre.unionByName(post))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap
    // exactly the touched users' rows, bit-equal to the full recompute
    assert(incr.keys.map(_._1).toSet == Set(1L, 4L))
    incr.foreach { case (k, v) => assert(full(k) == v, k.toString) }
    assert(incr.keySet == full.keySet.filter(k => k._1 == 1L || k._1 == 4L))
    // the existing-day merge summed partials: user 1 day 8 now has 2 events
    assert(incr((1L, 19723L + 8L)).head == 2L)
    // day-frame additivity (what makes persistence exact)
    val mergedDays = Events.mergeFeatureDays(Events.featureDayFrame(pre), post)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val fullDays = Events.featureDayFrame(pre.unionByName(post))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(mergedDays == fullDays)
  }

  test("percentileWeighted: lower-cumulative step, tie RANGE frame, mass dominance") {
    // group g: values 1..4 with weights 1,1,1,7 -> W=10:
    //   p50 target 5 -> smallest v with cumW>=5 is 4 (cum: 1,2,3,10)
    //   p10 target 1 -> v=1
    // group h: tied values 2,2 (w 3,3) then 9 (w 4) -> cum(2)=6 >= 5 -> p50=2
    val df = Seq(("g", 1.0, 1L), ("g", 2.0, 1L), ("g", 3.0, 1L), ("g", 4.0, 7L),
      ("h", 2.0, 3L), ("h", 2.0, 3L), ("h", 9.0, 4L))
      .toDF("k", "v", "w")
    val out = Stats.percentileWeighted(df, Seq("k"), "v", "w",
      Seq("p10" -> 0.1, "p50" -> 0.5))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out("g") == ((1.0, 4.0)))
    assert(out("h")._2 == 2.0)
    // partitioning cannot matter (RANGE frame shares cumW across ties)
    val shuffled = Stats.percentileWeighted(df.repartition(7), Seq("k"), "v", "w",
      Seq("p10" -> 0.1, "p50" -> 0.5)).collect().map(_.toSeq).toSet
    assert(shuffled == Stats.percentileWeighted(df, Seq("k"), "v", "w",
      Seq("p10" -> 0.1, "p50" -> 0.5)).collect().map(_.toSeq).toSet)
    // uniform weights degenerate to the unweighted step percentile on
    // real data: smallest v with >= p fraction of rows at or below
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_returnflag").as("k"),
        col("l_extendedprice").cast("double").as("v"))
    val got = Stats.percentileWeighted(li.withColumn("w", lit(1L)),
      Seq("k"), "v", "w", Seq("p50" -> 0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val naive = li.collect().groupBy(_.getString(0)).map { case (k, rs) =>
      val vs = rs.map(_.getDouble(1)).sorted
      k -> vs(math.ceil(0.5 * vs.length).toInt - 1)
    }
    got.foreach { case (k, v) => assert(v == naive(k), s"$k: $v vs ${naive(k)}") }
  }

  test("abConversion: per-user max flag, pooled z, degenerate-rate guards") {
    // hand frame with KNOWN md5 arms: users 0..9 — compute arms, then
    // give arm-1 users purchases and arm-0 users none except user A
    val armOf = (0L to 9L).map { u =>
      u -> Events.abConversion(
        Seq((1L, 1704067200000000000L, u, "view", 0.0))
          .toDF("event_id", "ts", "user_id", "event_type", "value"),
        "purchase").collect()(0).getLong(0) // n_c==1 means arm 0
    }.toMap.map { case (u, nc) => u -> (if (nc == 1L) 0 else 1) }
    val c0 = armOf.filter(_._2 == 0).keys.toSeq.sorted
    val c1 = armOf.filter(_._2 == 1).keys.toSeq.sorted
    assert(c0.nonEmpty && c1.nonEmpty)
    // every arm-1 user converts (two purchase events must count ONCE);
    // arm-0: exactly one converts
    val ts0 = 1704067200000000000L
    val evs = (c1.flatMap(u => Seq(
        (u * 10 + 1, ts0, u, "purchase", 1.0),
        (u * 10 + 2, ts0 + 1000000000L, u, "purchase", 1.0))) ++
      c0.map(u => (u * 10 + 3, ts0, u, "view", 1.0)) :+
      ((c0.head * 10 + 4, ts0, c0.head, "purchase", 1.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.abConversion(evs, "purchase").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((c0.length.toLong, 1L, c1.length.toLong, c1.length.toLong)))
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    val (nc, nt) = (c0.length.toDouble, c1.length.toDouble)
    val (pc, pt) = (1.0 / nc, 1.0)
    val pp = (1.0 + nt) / (nc + nt)
    assert(r.getDouble(6) == r6(pt - pc))
    assert(r.getDouble(7) ==
      r6((pt - pc) / math.sqrt(pp * (1.0 - pp) * (1.0 / nc + 1.0 / nt))))
    // degenerate: everyone converts -> pooled rate 1 -> z NULL, lift 0
    val all = Events.abConversion(evs.withColumn("event_type",
      lit("purchase")), "purchase").collect()(0)
    assert(all.getDouble(6) == 0.0 && all.isNullAt(7))
    // cutoff after all data: nobody converts -> z NULL, rates 0
    val none = Events.abConversion(evs, "purchase", Long.MaxValue).collect()(0)
    assert(none.getDouble(4) == 0.0 && none.getDouble(5) == 0.0 && none.isNullAt(7))
  }

  test("diffInDiff: baseline level differences cancel; consistency with abCuped inputs") {
    val cutoff = 1705363200000000L
    val r = Events.diffInDiff(events, cutoff).collect()(0)
    // same arms as abLift/abCuped on the same population
    val cu = Events.abCuped(events, cutoff).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((cu.getLong(0), cu.getLong(1))))
    // did == mean-delta difference recomputed naively
    val perUser = graft.ops.EventTime.normalizeTs(events)
      .select(col("user_id"), expr("ts div 1000L").as("tsu"),
        round(col("value") * 1000000).cast("long").as("vmic"))
      .groupBy("user_id")
      .agg(sum(when(col("tsu") >= cutoff, col("vmic"))
        .otherwise(-col("vmic"))).as("d"))
      .withColumn("arm",
        (conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2).cast("int"))
      .collect().map(x => (x.getLong(1), x.getInt(2)))
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    def meanD(a: Int) = {
      val ds = perUser.filter(_._2 == a).map(_._1)
      BigInt(ds.sum).toDouble / ds.length / 1e6
    }
    assert(r.getDouble(4) == r6(meanD(1) - meanD(0)))
    // THE DiD invariance: a persistent level difference on one arm
    // (same +1000.0 injected pre AND post for every arm-0 user) leaves
    // each user's delta — and therefore the DiD — exactly unchanged,
    // where abLift's raw post-period lift would shift by 1000
    val armExpr = (conv(substring(md5(col("user_id").cast("string")), 1, 8),
      16, 10).cast("long") % 2).cast("int")
    val arm0 = events.select(col("user_id")).distinct()
      .withColumn("__a", armExpr).filter(col("__a") === 0).drop("__a")
    def inject(tsNs: Long, idBase: Long) = arm0.select(
      (col("user_id") + idBase).as("event_id"), lit(tsNs).as("ts"),
      col("user_id"), lit("shift").as("event_type"), lit(1000.0).as("value"))
    val shifted = graft.ops.EventTime.normalizeTs(events)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .unionByName(inject(1704067200000000000L, 1000000L)) // pre-cutoff
      .unionByName(inject(1706630400000000000L, 2000000L)) // post-cutoff
    val r2 = Events.diffInDiff(shifted, cutoff).collect()(0)
    assert(r2.getDouble(4) == r.getDouble(4), "persistent level shift must cancel")
  }

  test("kAnonymity: class-size fold, null quasi values are their own class") {
    // classes: ("a",1)x1, ("a",2)x2, ("b",1)x5, (null,1)x2  -> k=5:
    // below-k rows = 1 + 2 + 2 = 5 of 10
    val df = (Seq(("a", 1, 0)) ++ Seq.fill(2)(("a", 2, 0)) ++
      Seq.fill(5)(("b", 1, 0)) ++ Seq.fill(2)((null: String, 1, 0)))
      .toDF("q1", "q2", "pad")
    val r = Stats.kAnonymity(df, Seq("q1", "q2"), k = 5).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((10L, 4L, 5L)))
    assert(r.getDouble(3) == 0.5)
    assert((r.getLong(4), r.getLong(5)) == ((1L, 5L)))
  }

  test("lDiversity: homogeneous classes counted by rows, null sensitive excluded from distinct") {
    // class A: 3 rows, 1 distinct sensitive (homogeneous -> below l=2)
    // class B: 2 rows, 2 distinct; class C: 1 row, sensitive null ->
    // countDistinct 0 -> below l
    val df = Seq(("a", "x"), ("a", "x"), ("a", "x"),
      ("b", "x"), ("b", "y"), ("c", null: String)).toDF("q", "s")
    val r = Stats.lDiversity(df, Seq("q"), "s", l = 2).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((6L, 3L, 4L)))
    assert(r.getDouble(3) == 0.666667) // 6-dp rounded share
    assert(r.getLong(4) == 0L)
  }

  test("benford: string-exact digits, exclusions, digit-ordered chi2 fold") {
    val df = Seq(Some(1.0), Some(2.5), Some(0.19), Some(9.99),
      Some(0.001), Some(-5.0), None).toDF("v")
    val out = Stats.benford(df, "v").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    // 0.001 -> cents 0 (excluded); -5 and null excluded; t = 4
    assert(out.keySet == Set(1, 2, 9))
    val (n1, o1, e1, chi) = out(1)
    assert(n1 == 2L && o1 == 0.5)
    assert(e1 == math.round(math.log10(2.0) * 1e6) / 1e6)
    // chi2 replayed with the same digit-ordered fold
    val t = 4.0
    val exp = (1 to 9).map(d => math.log10(1.0 + 1.0 / d))
    val ns = Map(1 -> 2.0, 2 -> 1.0, 9 -> 1.0)
    val want = Seq(1, 2, 9).foldLeft(0.0) { (a, d) =>
      val e = t * exp(d - 1)
      a + (ns(d) - e) * (ns(d) - e) / e
    }
    assert(chi == math.round(want * 1e6) / 1e6, s"$chi vs $want")
    assert(out(2)._4 == chi && out(9)._4 == chi)
  }

  test("sessionCooccurrence: distinct-per-session reduction, exact lift, gap split") {
    // user 1 session A: view, click, view (duplicate type must count
    // ONCE); session B (100 min later): view alone.
    // user 2: click + purchase in one session.
    // S = 3; sessions(view) = 2, sessions(click) = 2, sessions(purchase) = 1
    val evs = Seq(
      (1L, BaseNs, 1L, "view"),
      (2L, BaseNs + 1L * MinNs, 1L, "click"),
      (6L, BaseNs + 2L * MinNs, 1L, "view"),
      (3L, BaseNs + 100L * MinNs, 1L, "view"),
      (4L, BaseNs, 2L, "click"),
      (5L, BaseNs + 5L * MinNs, 2L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Events.sessionCooccurrence(evs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out.size == 2)
    assert(out(("click", "view")) == ((1L, 0.75)))      // 1*3/(2*2)
    assert(out(("click", "purchase")) == ((1L, 1.5)))   // 1*3/(2*1)
  }

  test("linkRecords: best-match arg-max, threshold, identity exclusion, tie to min id") {
    val left = Seq((1L, "MARTHA STEWART"), (2L, "UNMATCHABLE ZZZ"))
      .toDF("id", "name")
    val right = Seq(
      (10L, "MARHTA STEWART"),   // close (transposition)
      (11L, "MARTHA STEWART"),   // exact -> 1.0, must win
      (12L, "MARTHA STEWARD"),   // close but below 1.0
      (13L, "MARTHA STEWART"),   // exact too -> tie at 1.0, loses to 11
      (20L, "zzz nothing"))      // different block
      .toDF("id", "name")
    val out = Dedup.linkRecords(left, right, "id", "name", "id", "name",
      threshold = 0.9, blockPrefix = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out == Map(1L -> ((11L, 1.0)))) // 2 has no block mate above 0.9
    // identity exclusion: self-link of right never links a row to itself
    val self = Dedup.linkRecords(right, right, "id", "name", "id", "name",
      threshold = 0.9, blockPrefix = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(self(11L) == 13L && self(13L) == 11L) // exact twins find each other
    assert(self.forall { case (l, r) => l != r })
    // the per-left arg-max compiles to a WindowGroupLimit top-1, not a
    // full per-left sort
    val plan = Dedup.linkRecords(
      spark.read.parquet("/root/testdata/sf0.001/part.parquet"),
      spark.read.parquet("/root/testdata/sf0.001/part.parquet"),
      "p_partkey", "p_name", "p_partkey", "p_name", 0.88, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("kCore: peel cascade, fixpoint invariance, chain dies, farm survives") {
    // K4 on 10..13 + chain 1-2-3-4 + pendant 13-20
    val k4 = for (a <- 10L to 13L; b <- (a + 1) to 13L) yield (a, b)
    val edges = (k4 ++ Seq((1L, 2L), (2L, 3L), (3L, 4L), (13L, 20L)))
      .toDF("id1", "id2")
    val out = graft.ops.Graph.kCore(edges, k = 2, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // chain and pendant peel away completely (cascade: ends first, then
    // the middle); only the K4 farm survives, each node at deg 3
    assert(out == Map(10L -> 3L, 11L -> 3L, 12L -> 3L, 13L -> 3L))
    // the k-core is unique: more rounds after convergence change nothing
    val more = graft.ops.Graph.kCore(edges, k = 2, iters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(more == out)
    // k above the max degree peels everything; empty in, empty out
    assert(graft.ops.Graph.kCore(edges, k = 5, iters = 6).count() == 0)
    assert(graft.ops.Graph.kCore(
      edges.filter(col("id1") < 0), k = 2, iters = 2).count() == 0)
  }

  test("kCore: bounded peel equals the naive driver-side fixpoint on real pairs") {
    val pairs = graft.ops.Dedup.candidatePairs(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      "doc_id", "text", 8, 4)
    val got = graft.ops.Graph.kCore(pairs, k = 2, iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // naive: peel to TRUE fixpoint in driver code
    var es = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter(p => p._1 != p._2)
      .flatMap(p => Seq(p, p.swap)).distinct.toSet
    var changed = true
    while (changed) {
      val deg = es.groupBy(_._1).map { case (n, xs) => n -> xs.size }
      val surv = deg.filter(_._2 >= 2).keySet
      val next = es.filter(e => surv(e._1) && surv(e._2))
      changed = next != es; es = next
    }
    val naive = es.groupBy(_._1).map { case (n, xs) => n -> xs.size.toLong }
    assert(got == naive && got.nonEmpty)
  }

  test("seasonalError: observed-day lag alignment, exact MAE/WAPE, no-overlap type absent") {
    val dayNs = 86400L * 1000000000L
    // type "a": days 0..9 with volumes 10,20,10,20,... (period-2 but we
    // test lag 7): day d pairs with d-7 -> evaluated days 7,8,9 with
    // |err| = |20-20|=0? volumes: day d volume = 10 + 10*(d%2). pairs:
    // (7 vs 0): 20 vs 10 -> 10; (8 vs 1): 10 vs 20 -> 10; (9 vs 2): 20
    // vs 10 -> 10. mae = 10, wape = 30/(10+20+10) = 0.75
    // type "b": only days 0..3 -> no d,d-7 pair -> absent from output
    def rows(tpe: String, days: Seq[Long]) = days.flatMap { d =>
      val vol = (10 + 10 * (d % 2)).toInt
      (0 until vol).map(i => (d * 1000 + i, BaseNs + d * dayNs + i * 1000000000L, 1L, tpe))
    }
    val evs = (rows("a", 0L to 9L) ++ rows("b", 0L to 3L))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Events.seasonalError(evs, periodDays = 7)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set("a"))
    assert(out("a") == ((3L, 10.0, 0.75)))
    // a perfectly periodic series has zero error at its own period
    val p2 = Events.seasonalError(evs.filter(col("event_type") === "a"),
      periodDays = 2).collect()(0)
    assert(p2.getDouble(2) == 0.0 && p2.getDouble(3) == 0.0)
  }

  test("targetEncode: leave-one-out means, smoothing pull, singleton -> prior, m=0 -> null") {
    // cat a: targets 1.0, 2.0, 3.0; cat b: 10.0 (singleton); one null
    // cat and one null target row must drop
    val df = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0),
      (4L, "b", 10.0), (5L, null, 5.0))
      .toDF("id", "cat", "v")
      .union(Seq((6L, "a", Option.empty[Double])).toDF("id", "cat", "v"))
    val prior = (1.0 + 2.0 + 3.0 + 10.0) / 4 // 4.0
    val out = Stats.targetEncode(df, "id", "cat", "v", priorStrength = 2.0)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L)) // null rows dropped
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    // LOO: row 1 sees (2+3+2*4)/(2+2); own target NEVER contributes
    assert(out(1L).get == r6((2.0 + 3.0 + 2 * prior) / 4))
    assert(out(2L).get == r6((1.0 + 3.0 + 2 * prior) / 4))
    assert(out(3L).get == r6((1.0 + 2.0 + 2 * prior) / 4))
    // singleton with m>0: exactly the prior (no self-leak)
    assert(out(4L).get == r6(prior))
    // m = 0: singleton has nothing to encode -> null; others unsmoothed
    val raw = Stats.targetEncode(df, "id", "cat", "v", priorStrength = 0.0)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(raw(4L).isEmpty)
    assert(raw(1L).get == 2.5) // (2+3)/2
  }

  test("jaroWinkler: classic contract pinned — window, boost threshold, prefix, bytes") {
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),  // transposition + prefix 3
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("abcd", "badc", 0.8333333333333334),      // prefix 0: no boost
      ("aXXXXX", "aYYYYY", 0.4444444444444444),  // jaro <= 0.7: boost gated OFF
      ("ab", "ba", 0.0),                         // window 0: no matches
      ("héllo", "hello", 0.84),             // BYTE semantics (é = 2 bytes)
      ("", "", 0.0), ("a", "", 0.0),             // DuckDB empty contract
      ("same", "same", 1.0))
    val df = cases.map(c => (c._1, c._2)).toDF("a", "b")
      .select(graft.functions.GraftFunctions.jaro_winkler(col("a"), col("b")).as("jw"))
    val got = df.collect().map(_.getDouble(0))
    cases.zip(got).foreach { case ((a, b, want), g) =>
      assert(math.abs(g - want) < 1e-9, s"jw($a, $b) = $g, want $want")
    }
    // full doGenCode: a real scan's scoring projection stays inside
    // whole-stage codegen (the literal frame above constant-folds)
    val scan = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .select(graft.functions.GraftFunctions.jaro_winkler(
        col("p_name"), col("p_type")).as("jw"))
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_jaro_winkler"), plan)
    assert(scan.count() > 0)
    // SQL surface
    graft.functions.GraftFunctions.registerAll(spark)
    assert(math.abs(spark.sql(
      "SELECT graft_jaro_winkler('MARTHA', 'MARHTA')").collect()(0).getDouble(0)
      - 0.9611111111111111) < 1e-9)
    // null propagation
    val n = Seq((Option("x"), Option.empty[String])).toDF("a", "b")
      .select(graft.functions.GraftFunctions.jaro_winkler(col("a"), col("b")))
      .collect()(0)
    assert(n.isNullAt(0))
  }

  test("abCuped: fold algebra equals the naive driver-side CUPED on real events") {
    val cutoff = 1705363200000000L // 2024-01-16, mid-range
    val perUser = graft.ops.EventTime.normalizeTs(events)
      .select(col("user_id"), expr("ts div 1000L").as("tsu"),
        round(col("value") * 1000000).cast("long").as("vmic"))
      .groupBy("user_id")
      .agg(sum(when(col("tsu") < cutoff, col("vmic")).otherwise(0L)).as("x"),
        sum(when(col("tsu") >= cutoff, col("vmic")).otherwise(0L)).as("y"))
      .withColumn("arm",
        (conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2).cast("int"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
    def mom(rows: Array[(Long, Long, Int)]) = {
      val n = BigInt(rows.length)
      val sx = BigInt(rows.map(_._1).sum); val sy = BigInt(rows.map(_._2).sum)
      val sxx = rows.map(r => BigInt(r._1) * BigInt(r._1)).sum
      val sxy = rows.map(r => BigInt(r._1) * BigInt(r._2)).sum
      val syy = rows.map(r => BigInt(r._2) * BigInt(r._2)).sum
      (n, sx, sy, sxx, sxy, syy)
    }
    val (n, sx, _, sxx, sxy, syy0) = mom(perUser)
    val sy = BigInt(perUser.map(_._2).sum)
    val vxx = n * sxx - sx * sx; val vxy = n * sxy - sx * sy
    val vyy = n * syy0 - sy * sy
    val theta = vxy.toDouble / vxx.toDouble
    val mxp = sx.toDouble / n.toDouble / 1e6
    def arm(a: Int) = {
      val rs = perUser.filter(_._3 == a)
      val (na, sxa, sya, sxxa, sxya, syya) = mom(rs)
      val madj = sya.toDouble / na.toDouble / 1e6 -
        theta * (sxa.toDouble / na.toDouble / 1e6 - mxp)
      val va = ((na * syya - sya * sya).toDouble
        - 2 * theta * (na * sxya - sxa * sya).toDouble
        + theta * theta * (na * sxxa - sxa * sxa).toDouble) /
        (na.toDouble * (na - 1).toDouble) / 1e12
      (na, madj, va)
    }
    val (nc, madjC, vaC) = arm(0); val (nt, madjT, vaT) = arm(1)
    val r = Events.abCuped(events, cutoff).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((nc.toLong, nt.toLong)))
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(r.getDouble(2) == r6(theta))
    assert(r.getDouble(4) == r6(madjT - madjC), "lift_adj")
    assert(r.getDouble(5) ==
      r6((madjT - madjC) / math.sqrt(vaT / nt.toDouble + vaC / nc.toDouble)), "z_adj")
    assert(r.getDouble(6) ==
      r6(vxy.toDouble * vxy.toDouble / (vxx.toDouble * vyy.toDouble)), "rho2")
    // CUPED must not be a no-op here: pre/post sums of the same users
    // correlate, so rho2 > 0 and |z_adj| >= |z_raw| is expected shape
    assert(r.getDouble(6) > 0.0)
  }

  test("abCuped: degenerate cutoffs — no pre-period collapses to raw; no post-period nulls z") {
    // cutoff before all data: X = 0 for every user -> vxx = 0 -> theta
    // = 0 and the adjusted lift IS the raw lift
    val early = Events.abCuped(events, cutoffMicros = 0L).collect()(0)
    assert(early.getDouble(2) == 0.0)
    assert(early.getDouble(3) == early.getDouble(4))
    // cutoff after all data: Y = 0 everywhere -> zero metric variance
    // -> z_adj and rho2 are NULL, raw lift is exactly 0
    val late = Events.abCuped(events, cutoffMicros = Long.MaxValue).collect()(0)
    assert(late.getDouble(3) == 0.0 && late.isNullAt(5) && late.isNullAt(6))
  }

  test("featureWindows: calendar RANGE frames, not row frames; recency lag; micro-exact sums") {
    // user 1 active on days 0 (2 events), 3, 8, 40; user 2 on day 1.
    // Day 8's 7-day frame spans days 2..8 — day 0 must fall OUT even
    // though it is only two ROWS back (the calendar-vs-rows trap).
    val day0 = 19723L // 2024-01-01
    def ev(id: Long, u: Long, d: Long, v: Double) =
      (id, BaseNs + d * 86400L * 1000000000L, u, "view", v)
    val evs = Seq(ev(1, 1, 0, 1.5), ev(2, 1, 0, 2.5), ev(3, 1, 3, 10.0),
      ev(4, 1, 8, 0.25), ev(5, 1, 40, 1.0), ev(6, 2, 1, 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.featureWindows(evs)
      .collect().map(r => (r.getLong(0), r.getLong(1) - day0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          if (r.isNullAt(6)) -1L else r.getLong(6)))).toMap
    assert(out.size == 5)
    assert(out((1L, 0L)) == ((2L, 2L, 2L, 4.0, -1L)))
    assert(out((1L, 3L)) == ((1L, 3L, 3L, 14.0, 3L)))
    assert(out((1L, 8L)) == ((1L, 2L, 4L, 10.25, 5L)))   // day 0 out of 7d
    assert(out((1L, 40L)) == ((1L, 1L, 1L, 1.0, 32L)))   // both frames alone
    assert(out((2L, 1L)) == ((1L, 1L, 1L, 7.0, -1L)))
    // partitioning invariance: the day pre-aggregate + RANGE frames are
    // deterministic under any input split
    val shuffled = Events.featureWindows(evs.repartition(7))
      .collect().map(r => r.toSeq).toSet
    assert(shuffled == Events.featureWindows(evs).collect().map(_.toSeq).toSet)
  }

  test("graft_path_prefix: the journey aggregate is SQL-registered") {
    graft.functions.GraftFunctions.registerAll(spark)
    val out = spark.sql(
      "SELECT graft_path_prefix(tsu, id, lbl, 2) FROM VALUES " +
        "(3L, 1L, 'b'), (1L, 2L, 'a'), (2L, 3L, 'c') AS t(tsu, id, lbl)")
      .collect()(0).getString(0)
    assert(out == "a>c") // earliest 2 by (ts, id), joined in time order
  }

  test("graft_path_prefix: equals sort-then-take on random ts ties, k in {1, 2, 7}, at 1 and 5 partitions") {
    import graft.functions.GraftFunctions
    val rnd = new scala.util.Random(13L)
    // few distinct ts values (ties broken by the unique id), some null labels
    val rows = (0 until 3000).map { i =>
      (rnd.nextInt(6), rnd.nextInt(20).toLong, i.toLong,
        if (rnd.nextInt(8) == 0) null else s"l${rnd.nextInt(50)}")
    }
    val df = rnd.shuffle(rows).toDF("g", "ts", "id", "label")
    for (k <- Seq(1, 2, 7); parts <- Seq(1, 5)) {
      val got = df.repartition(parts).groupBy($"g")
        .agg(GraftFunctions.path_prefix($"ts", $"id", $"label", k).as("p"))
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.sortBy(r => (r._2, r._3)).take(k).map(_._4).filter(_ != null).mkString(">")
      }
      assert(got == want, s"k=$k partitions=$parts")
    }
  }

  test("sessionPaths: maxSteps=1 degenerates to the session's first event type") {
    val got = Events.sessionPaths(events, maxSteps = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    val full = Events.sessionPaths(events, maxSteps = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getString(2).split(">")(0)).toMap
    assert(got == full && got.nonEmpty)
  }
}
