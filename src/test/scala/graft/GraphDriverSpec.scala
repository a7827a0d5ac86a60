package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Graph

/** The fixed-round graph loops of [[graft.ops.Graph]]: where the bound
  * on `iters` is checked, and the integer PageRank recurrences checked
  * against a driver-side Scala replay at round counts that reach and
  * pass the every-8th-round lineage truncation. */
class GraphDriverSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import SparkTestSession.spark.implicits._

  // a small directed weighted graph: a cycle with chords, a source-only
  // node (9: ranked at round 0, gone after it), a sink (7), a
  // self-loop (5), a parallel row (0 → 1 twice) and a w = 0 row that
  // the weighted ops drop
  private val wEdges: Seq[(Long, Long, Long)] = Seq(
    (0L, 1L, 3L), (0L, 1L, 1L), (1L, 2L, 1L), (2L, 0L, 2L), (2L, 3L, 5L),
    (3L, 4L, 1L), (4L, 0L, 4L), (4L, 5L, 1L), (5L, 5L, 2L), (5L, 6L, 1L),
    (6L, 2L, 3L), (6L, 7L, 1L), (9L, 3L, 2L), (3L, 8L, 0L), (8L, 1L, 1L))

  private def edgesDf(es: Seq[(Long, Long, Long)]): DataFrame =
    es.toDF("src", "dst", "w")

  private def ranks(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** r₀ = 1 000 000 on `start`; rₜ₊₁(v) = tele(v) + Σ_{u→v} (rₜ(u)·17·w)
    * div (20·W_u) over the w > 0 edge multiset, a node ranked in round
    * t+1 iff it gets a contribution: the weighted ops' recurrence, with
    * tele = 150 000 for every node ([[Graph.pageRankWeighted]]) or for
    * the seeds only ([[Graph.pageRankPersonalized]], whose seeds always
    * get their own teleport). */
  private def replay(es: Seq[(Long, Long, Long)], iters: Int,
      seeds: Option[Set[Long]] = None): Map[Long, Long] = {
    val e = es.filter(_._3 > 0)
    val ow = e.groupMapReduce(_._1)(_._3)(_ + _)
    var r: Map[Long, Long] = seeds.getOrElse(ow.keySet).map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val contrib = e.collect { case (u, v, w) if r.contains(u) =>
        v -> r(u) * 17L * w / (20L * ow(u)) }
      r = seeds match {
        case None => contrib.groupMapReduce(_._1)(_._2)(_ + _)
          .map { case (v, c) => v -> (150000L + c) }
        case Some(s) => (contrib ++ r.keys.filter(s).map(_ -> 150000L))
          .groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
    r
  }

  test("every fixed-round entry point rejects iters 0 and 51 before any Spark job runs") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val e = edgesDf(wEdges)
    val hist = Seq((0L, 0, 1000000L)).toDF("node", "iter", "r")
    val seeds = Seq(0L).toDF("node")
    val entries: Seq[(String, Int => DataFrame)] = Seq(
      "pageRank" -> (n => Graph.pageRank(pairs, n)),
      "pageRankWeighted" -> (n => Graph.pageRankWeighted(e, n)),
      "pageRankWeightedHistory" -> (n => Graph.pageRankWeightedHistory(e, n)),
      "pageRankWeightedDelta" -> (n => Graph.pageRankWeightedDelta(e, hist, e, n)),
      "pageRankWeightedDeltaHistory" ->
        (n => Graph.pageRankWeightedDeltaHistory(e, hist, e, n)),
      "labelPropagation" -> (n => Graph.labelPropagation(pairs, n)),
      "pageRankPersonalized" -> (n => Graph.pageRankPersonalized(e, seeds, n)),
      "kCore" -> (n => Graph.kCore(pairs, 2, n)))
    val cases = for ((name, op) <- entries; n <- Seq(0, 51)) yield s"$name/$n" -> (op, n)
    val messages = scala.collection.mutable.Map.empty[String, String]
    val jobs = SparkTestSession.jobsPerKey(cases.map(_._1)) { key =>
      val (op, n) = cases.toMap.apply(key)
      messages(key) = intercept[IllegalArgumentException](op(n)).getMessage
    }
    cases.foreach { case (key, (_, n)) =>
      assert(messages(key) == s"requirement failed: iters must be in [1,50], got $n", key)
      assert(jobs(key) == 0, s"$key ran ${jobs(key)} Spark jobs before failing")
    }
  }

  test("pageRankWeighted and pageRankPersonalized equal the integer replay across the truncation round") {
    val seeds = Set(0L, 4L, 7L) // 7 is a sink: its rank is its teleport alone
    for (iters <- Seq(1, 8, 9, 17)) {
      assert(ranks(Graph.pageRankWeighted(edgesDf(wEdges), iters)) ==
        replay(wEdges, iters), s"pageRankWeighted, iters = $iters")
      assert(ranks(Graph.pageRankPersonalized(edgesDf(wEdges),
          seeds.toSeq.toDF("node"), iters)) ==
        replay(wEdges, iters, Some(seeds)), s"pageRankPersonalized, iters = $iters")
    }
  }

  test("pageRank equals the integer replay over unit-weight symmetric edges across the truncation round") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (2L, 1L), (5L, 5L), (6L, 4L))
    val sym = (pairs ++ pairs.map(_.swap)).distinct.map { case (a, b) => (a, b, 1L) }
    for (iters <- Seq(1, 8, 9, 17))
      assert(ranks(Graph.pageRank(pairs.toDF("id1", "id2"), iters)) ==
        replay(sym, iters), s"iters = $iters")
  }

  test("pageRankWeightedDelta == full recompute past the truncation round (iters = 9)") {
    val delta = Seq((7L, 10L, 2L), (10L, 3L, 1L), (0L, 1L, 2L), (11L, 11L, 1L))
    val grown = wEdges ++ delta
    val hist = Graph.pageRankWeightedHistory(edgesDf(wEdges), 9)
    val viaDelta = Graph.pageRankWeightedDelta(edgesDf(wEdges), hist, edgesDf(delta), 9)
    assert(ranks(viaDelta) == replay(grown, 9))
    assert(ranks(viaDelta) == ranks(Graph.pageRankWeighted(edgesDf(grown), 9)))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(Graph.pageRankWeightedDeltaHistory(edgesDf(wEdges), hist, edgesDf(delta), 9)) ==
      rows(Graph.pageRankWeightedHistory(edgesDf(grown), 9)))
  }
}
