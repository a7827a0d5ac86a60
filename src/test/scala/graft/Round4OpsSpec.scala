package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Packing, Sketches, Stats, TextOps}

/** Specs for the round-4 operators: exact percentiles, sketches, sequence
  * packing, connected-component clustering, repetition/entropy/BM25. */
class Round4OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ── Stats.percentileExact ────────────────────────────────────────────

  test("percentileExact: odd n → middle value, no interpolation") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("a", 5.0))
      .toDF("k", "v")
    val r = Stats.percentileExact(df, Seq("k"), "v", Seq("p50" -> 0.5)).collect()
    assert(r.length == 1 && r(0).getDouble(1) == 3.0)
  }

  test("percentileExact: even n → linear interpolation between straddling ranks") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0)).toDF("k", "v")
    val r = Stats.percentileExact(df, Seq("k"), "v",
      Seq("p50" -> 0.5, "p25" -> 0.25)).collect()(0)
    assert(r.getDouble(1) == 2.5) // t=1.5 between 2 and 3
    assert(r.getDouble(2) == 1.75) // t=0.75 between 1 and 2
  }

  test("percentileExact: per-group independence + p0/p100 endpoints") {
    val df = Seq(("a", 10.0), ("a", 20.0), ("b", 1.0), ("b", 9.0), ("b", 5.0))
      .toDF("k", "v")
    val r = Stats.percentileExact(df, Seq("k"), "v",
      Seq("p0" -> 0.0, "p100" -> 1.0))
      .collect().map(x => x.getString(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(r("a") == ((10.0, 20.0)))
    assert(r("b") == ((1.0, 9.0)))
  }

  // ── Sketches ─────────────────────────────────────────────────────────

  test("kmvDistinct: fewer distinct values than k → exact count") {
    val df = (1 to 500).map(i => s"v${i % 37}").toDF("s")
    val r = Sketches.kmvDistinct(df, "s", k = 256).collect()(0)
    assert(r.getLong(0) == 37L) // sample_k
    assert(r.getDouble(2) == 37.0) // est_distinct exact
  }

  test("kmvDistinct: estimate within ~4/sqrt(k) of truth, deterministic") {
    val df = (1 to 20000).map(i => s"key_$i").toDF("s")
    val est1 = Sketches.kmvDistinct(df, "s", k = 256).collect()(0).getDouble(2)
    val est2 = Sketches.kmvDistinct(df.repartition(7), "s", k = 256)
      .collect()(0).getDouble(2)
    assert(est1 == est2, "KMV must be partitioning-independent")
    assert(math.abs(est1 - 20000.0) / 20000.0 < 4.0 / math.sqrt(256.0),
      s"est=$est1 too far from 20000")
  }

  test("cms: estimate >= truth always; exact when width >> terms") {
    val tc = Seq(("a", 100L), ("b", 7L), ("c", 1L)).toDF("term", "cnt")
    val sk = Sketches.cmsSketch(tc, "term", "cnt", depth = 4, width = 4096)
    val est = Sketches.cmsEstimate(tc, sk, "term", depth = 4, width = 4096)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    est.foreach { case (t, (truth, e)) => assert(e >= truth, s"$t under-counts") }
    // 3 terms in 4096 buckets: collision probability ~ 0 → exact
    assert(est.forall { case (_, (truth, e)) => e == truth })
  }

  test("cms: collisions only ever over-count (tiny width forces them)") {
    val tc = (1 to 50).map(i => (s"t$i", i.toLong)).toDF("term", "cnt")
    val sk = Sketches.cmsSketch(tc, "term", "cnt", depth = 2, width = 8)
    val est = Sketches.cmsEstimate(tc, sk, "term", depth = 2, width = 8)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(est.forall { case (truth, e) => e >= truth })
  }

  // ── Packing.packSequences ────────────────────────────────────────────

  test("packSequences: budget respected, seq_idx contiguous per shard") {
    val df = (1L to 200L).map(i => (i, 10 + (i % 7).toInt)).toDF("doc_id", "ntok")
    val packed = Packing.packSequences(df, "doc_id", "ntok", budget = 50, shards = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val byDoc = df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // per (shard, seq): total tokens within budget
    packed.groupBy(p => (p._2, p._3)).foreach { case ((sh, seq), ds) =>
      val tot = ds.map(d => byDoc(d._1)).sum
      assert(tot <= 50, s"shard=$sh seq=$seq overflows: $tot")
    }
    // per shard: seq indices contiguous from 0
    packed.groupBy(_._2).foreach { case (sh, ds) =>
      val seqs = ds.map(_._3).distinct.sorted.toSeq
      assert(seqs == (0 until seqs.length), s"shard=$sh seqs not contiguous: $seqs")
    }
  }

  test("packSequences: greedy in doc-id order within shard") {
    // force everything into one shard path by checking invariants per shard:
    // docs sorted by id must have non-decreasing seq_idx
    val df = (1L to 100L).map(i => (i, 30)).toDF("doc_id", "ntok")
    val packed = Packing.packSequences(df, "doc_id", "ntok", budget = 64, shards = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    packed.groupBy(_._2).foreach { case (_, ds) =>
      val ordered = ds.sortBy(_._1).map(_._3)
      assert(ordered.zip(ordered.tail).forall { case (a, b) => b == a || b == a + 1 })
      // budget 64, docs of 30 → exactly 2 docs per sequence (except maybe last)
      ds.groupBy(_._3).toSeq.sortBy(_._1).dropRight(1).foreach { case (_, s) =>
        assert(s.size == 2)
      }
    }
  }

  test("packSequences: oversized doc gets its own sequence; deterministic under repartition") {
    val df = Seq((1L, 10), (2L, 999), (3L, 10), (4L, 10)).toDF("doc_id", "ntok")
    val p1 = Packing.packSequences(df, "doc_id", "ntok", budget = 25, shards = 1)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    // greedy order 1,2,3,4: doc2 overflows → new seq; doc3 overflows doc2's → new seq
    assert(p1(1L) == 0 && p1(2L) == 1 && p1(3L) == 2 && p1(4L) == 2)
    val p2 = Packing.packSequences(df.repartition(5), "doc_id", "ntok", budget = 25, shards = 1)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(p1 == p2, "packing must not depend on input partitioning")
  }

  // ── Dedup.connectedComponents ────────────────────────────────────────

  test("connectedComponents: chains collapse to min label, isolates keep own id") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    // component {1,2,3,4} via a chain, component {5,6}, isolate {7}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("id1", "id2")
    val r = Dedup.connectedComponents(nodes, "doc_id", pairs)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("connectedComponents: long path converges (diameter > 2 rounds of hops)") {
    val n = 20
    val nodes = (1L to n.toLong).toDF("doc_id")
    val pairs = (1L until n.toLong).map(i => (i, i + 1)).toDF("id1", "id2")
    val r = Dedup.connectedComponents(nodes, "doc_id", pairs)
      .collect().map(x => x.getLong(1)).distinct
    assert(r.toSeq == Seq(1L), "one chain → one cluster labeled 1")
  }

  test("connectedComponents: 200-hop chain converges under default maxIter (pointer jumping)") {
    // one-hop propagation would need 199 rounds — pointer jumping needs ~log2(200)
    val n = 200
    val nodes = (1L to n.toLong).toDF("doc_id")
    val pairs = (1L until n.toLong).map(i => (i, i + 1)).toDF("id1", "id2")
    val r = Dedup.connectedComponents(nodes, "doc_id", pairs)
      .collect().map(x => x.getLong(1)).distinct
    assert(r.toSeq == Seq(1L), "one 200-node chain → one cluster labeled 1")
  }

  test("connectedComponents: throws instead of silently splitting when maxIter too low") {
    val n = 40
    val nodes = (1L to n.toLong).toDF("doc_id")
    val pairs = (1L until n.toLong).map(i => (i, i + 1)).toDF("id1", "id2")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, "doc_id", pairs, maxIter = 2).collect()
    }
  }

  // ── TextOps round-4 text metrics ─────────────────────────────────────

  test("repetitionMetrics: all-same tokens → high dup fractions; distinct → 0") {
    val df = Seq((1L, "spam spam spam spam"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val r = df.select((col("doc_id") +: TextOps.repetitionMetrics(col("text"))): _*)
      .collect().map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2), x.getDouble(3))).toMap
    assert(r(1L)._1 == 0.75) // 4 tokens, 1 distinct
    assert(math.abs(r(1L)._2 - 2.0 / 3.0) < 1e-5) // 3 bigrams, all "spam spam"
    assert(r(2L) == ((0.0, 0.0, 0.0)))
  }

  test("tokenEntropy: single repeated token → 0; uniform pair → ln 2") {
    val df = Seq((1L, "one one one one"), (2L, "a b a b")).toDF("doc_id", "text")
    val r = TextOps.tokenEntropy(df, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) == 0.0)
    assert(math.abs(r(2L) - math.log(2.0)) < 1e-5)
  }

  test("clusterRepresentatives: best score wins, ties -> smallest id, counts members") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L)).toDF("doc_id", "cluster_id")
    val scores = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (4L, 0.1)).toDF("doc_id", "score")
    val r = Dedup.clusterRepresentatives(clusters, scores, "score")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2), x.getLong(3))).toMap
    assert(r(1L) == ((2L, 0.9, 3L))) // 2 and 3 tie at 0.9 → smaller id
    assert(r(4L) == ((4L, 0.1, 1L))) // singleton cluster represents itself
  }

  test("oovRate: tokens outside the top-k vocab counted per doc") {
    // corpus: "alpha" x many (in vocab of size 1), everything else OOV
    val df = Seq(
      (1L, "alpha alpha alpha alpha"), // all in-vocab → 0.0
      (2L, "alpha beta"), // 1 of 2 OOV → 0.5
      (3L, "beta gamma")) // all OOV → 1.0
      .toDF("doc_id", "text")
    val r = TextOps.oovRate(df, "doc_id", "text", vocabSize = 1)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r == Map(1L -> 0.0, 2L -> 0.5, 3L -> 1.0))
  }

  // ── Events.retention ─────────────────────────────────────────────────

  test("retention: cohort = first active day; offsets count distinct users") {
    val day = 86400000000000L // one day in NANOS (retention divides by 1000 first)
    // user 1: days 0,1,3; user 2: days 0,1; user 3: day 1 only
    val events = Seq(
      (1L, 0L * day), (1L, 1L * day + 5L), (1L, 3L * day), (1L, 3L * day + 7L),
      (2L, 0L * day), (2L, 1L * day),
      (3L, 1L * day))
      .toDF("user_id", "ts")
    val r = graft.ops.Events.retention(events, maxOffsetDays = 30)
      .collect().map(x => (x.getLong(0), x.getInt(1)) -> x.getLong(2)).toMap
    assert(r == Map(
      (0L, 0) -> 2L, // users 1,2 on their day 0
      (0L, 1) -> 2L, // both back on day 1
      (0L, 3) -> 1L, // only user 1 on day 3
      (1L, 0) -> 1L)) // user 3's cohort
  }

  // ── TopKBy aggregate ─────────────────────────────────────────────────

  test("topk_by: best k by score desc, ties -> smallest id, across partitions") {
    import graft.functions.GraftFunctions
    val df = Seq(
      ("a", 1L, 5.0), ("a", 2L, 9.0), ("a", 3L, 9.0), ("a", 4L, 1.0), ("a", 5L, 7.0),
      ("b", 6L, 2.0))
      .toDF("g", "id", "score").repartition(7) // force merge path
    val r = df.groupBy($"g")
      .agg(GraftFunctions.topk_by($"id", $"score", 3).as("top"))
      .collect().map(x => x.getString(0) ->
        x.getSeq[org.apache.spark.sql.Row](1).map(s => (s.getLong(0), s.getDouble(1)))).toMap
    assert(r("a") == Seq((2L, 9.0), (3L, 9.0), (5L, 7.0))) // tie 9.0 → id 2 before 3
    assert(r("b") == Seq((6L, 2.0))) // fewer than k members
  }

  test("topk_by: null id/score rows skipped; NaN score throws") {
    import graft.functions.GraftFunctions
    val rows = Seq[(java.lang.Long, java.lang.Double)]((1L, 4.0), (null, 9.0), (2L, null), (3L, 2.0))
    val df = rows.toDF("id", "score")
    val r = df.agg(GraftFunctions.topk_by($"id", $"score", 2))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0).map(s => s.getLong(0))
    assert(r == Seq(1L, 3L))
    val nan = Seq((1L, Double.NaN)).toDF("id", "score")
    val e = intercept[Exception] {
      nan.agg(GraftFunctions.topk_by($"id", $"score", 2)).collect()
    }
    assert(e.getMessage != null)
  }

  test("topk_by: equals sort-then-take on random ties, k in {1, 2, 7}, at 1 and 5 partitions") {
    import graft.functions.GraftFunctions
    val rnd = new scala.util.Random(4L)
    // few distinct scores and repeated ids: ties on score and whole-pair duplicates
    val rows = (0 until 3000).map(_ => (rnd.nextInt(6), rnd.nextInt(400).toLong, rnd.nextInt(9) * 0.5))
    val df = rows.toDF("g", "id", "score")
    for (k <- Seq(1, 2, 7); parts <- Seq(1, 5)) {
      val got = df.repartition(parts).groupBy($"g")
        .agg(GraftFunctions.topk_by($"id", $"score", k).as("top"))
        .collect().map(x => x.getInt(0) ->
          x.getSeq[org.apache.spark.sql.Row](1).map(s => (s.getLong(0), s.getDouble(1)))).toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => (r._2, r._3)).sortBy(r => (-r._2, r._1)).take(k)
      }
      assert(got == want, s"k=$k partitions=$parts")
    }
  }

  test("topk_by: SQL-registered graft_topk agrees with the Column form") {
    val df = Seq((1L, 5.0), (2L, 9.0), (3L, 7.0)).toDF("id", "score")
    df.createOrReplaceTempView("topk_in")
    val r = spark.sql(
      "SELECT graft_topk(id, score, 2) AS top FROM topk_in")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0).map(s => (s.getLong(0), s.getDouble(1)))
    assert(r == Seq((2L, 9.0), (3L, 7.0)))
  }

  // ── KmvDistinctAgg ───────────────────────────────────────────────────

  test("kmv_distinct: exact below k; close + partitioning-independent above") {
    import graft.functions.GraftFunctions
    val small = (1 to 400).map(i => ("g", s"v${i % 37}")).toDF("g", "x")
    val rSmall = small.groupBy($"g")
      .agg(GraftFunctions.kmv_distinct($"x", 128).as("est")).collect()(0).getDouble(1)
    assert(rSmall == 37.0) // below k → exact
    val big = (1 to 20000).map(i => ("g", s"key_$i")).toDF("g", "x")
    val e1 = big.groupBy($"g").agg(GraftFunctions.kmv_distinct($"x", 128)).collect()(0).getDouble(1)
    val e2 = big.repartition(11).groupBy($"g")
      .agg(GraftFunctions.kmv_distinct($"x", 128)).collect()(0).getDouble(1)
    assert(e1 == e2, "KMV agg must be a function of the value set only")
    assert(math.abs(e1 - 20000.0) / 20000.0 < 4.0 / math.sqrt(128.0), s"est=$e1")
  }

  test("kmv_distinct: SQL graft_kmv form; nulls ignored; per-group independence") {
    val df = Seq(("a", "x"), ("a", "y"), ("a", "x"), ("b", "z"), ("b", null))
      .toDF("g", "x")
    df.createOrReplaceTempView("kmv_in")
    val r = spark.sql("SELECT g, graft_kmv(x, 16) AS est FROM kmv_in GROUP BY g")
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r == Map("a" -> 2.0, "b" -> 1.0))
  }

  test("kmv_distinct and topk_by work as STREAMING aggregations") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.GraftFunctions
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val agg = in.toDF().toDF("g", "id", "score")
      .groupBy($"g")
      .agg(
        GraftFunctions.kmv_distinct($"id", 16).as("est"),
        GraftFunctions.topk_by($"id", $"score", 2).as("top"))
    val q = agg.writeStream.format("memory").queryName("kmv_topk_out")
      .outputMode("complete").start()
    try {
      in.addData(("a", 1L, 5.0), ("a", 2L, 9.0))
      q.processAllAvailable()
      in.addData(("a", 3L, 7.0), ("a", 4L, 1.0)) // second batch merges state
      q.processAllAvailable()
      val r = spark.sql("SELECT est, top FROM kmv_topk_out WHERE g = 'a'").collect()(0)
      assert(r.getDouble(0) == 4.0) // ids 1,2,3,4 distinct across batches
      val top = r.getSeq[org.apache.spark.sql.Row](1).map(s => (s.getLong(0), s.getDouble(1)))
      assert(top == Seq((2L, 9.0), (3L, 7.0)))
    } finally q.stop()
  }

  // ── quantile sketch ──────────────────────────────────────────────────

  test("quantileSketch: estimates within one bin width of the exact quantile") {
    val vals = (1 to 10000).map(_.toDouble)
    val df = vals.toDF("v")
    val r = Sketches.quantileSketch(df, "v", lo = 0.0, hi = 10240.0, nbins = 1024,
      ps = Seq("p50" -> 0.5, "p95" -> 0.95)).collect()(0)
    val w = 10240.0 / 1024
    assert(r.getLong(0) == 10000L)
    assert(math.abs(r.getDouble(1) - 5000.5) <= w, s"p50=${r.getDouble(1)}")
    assert(math.abs(r.getDouble(2) - 9500.05) <= w, s"p95=${r.getDouble(2)}")
  }

  test("quantileSketch: partitioning-independent; out-of-range values clamp") {
    val df = (Seq(-500.0, 99999.0) ++ (1 to 998).map(_.toDouble)).toDF("v")
    val a = Sketches.quantileSketch(df, "v", 0.0, 1024.0, 256, Seq("p50" -> 0.5))
      .collect()(0).getDouble(1)
    val b = Sketches.quantileSketch(df.repartition(13), "v", 0.0, 1024.0, 256, Seq("p50" -> 0.5))
      .collect()(0).getDouble(1)
    assert(a == b, "sketch must not depend on partitioning")
    assert(math.abs(a - 499.5) <= 4.0) // w = 4
  }

  test("quantileSketch: null and NaN values are excluded from bins and n") {
    val df = (Seq(Option.empty[Double], Some(Double.NaN)) ++
      (1 to 100).map(i => Some(i.toDouble))).toDF("v")
    val r = Sketches.quantileSketch(df, "v", 0.0, 128.0, 128, Seq("p50" -> 0.5))
      .collect()(0)
    assert(r.getLong(0) == 100L, "n must count only non-null non-NaN values")
    assert(math.abs(r.getDouble(1) - 50.5) <= 1.0)
  }

  test("packSequences: null doc_id / ntok rows are dropped, not NPE") {
    val df = Seq(
      (Some(1L), Some(10)), (None, Some(10)), (Some(3L), None), (Some(4L), Some(10)))
      .toDF("doc_id", "ntok")
    val r = Packing.packSequences(df, "doc_id", "ntok", budget = 25, shards = 1)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(r.keySet == Set(1L, 4L))
  }

  test("bm25: docs containing query terms outrank and limit applies") {
    val df = Seq(
      (1L, "spark query engine with fast table scans and query planning"),
      (2L, "cooking recipes for pasta and pizza at home"),
      (3L, "fast data query")).toDF("doc_id", "text")
    val r = TextOps.bm25(df, "doc_id", "text",
      Seq("query", "fast", "table"), topN = 2).collect()
    assert(r.length == 2)
    val ids = r.map(_.getLong(0)).toSet
    assert(ids.subsetOf(Set(1L, 3L)) && !ids.contains(2L))
    assert(r(0).getDouble(1) >= r(1).getDouble(1)) // sorted desc
  }
}
