package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.{Dedup, Events, TextOps}

/**
 * Two-decade scaling curves: times headline operators at 1× / 10× /
 * 100× replication so the "10× sub-linear ⇒ 100 TB OK" extrapolation
 * becomes a measured TWO-POINT curve (does the 10×→100× decade bend
 * upward?). Two growth axes, each a family's realistic 100 TB shape:
 *
 *  - events ×N with BOTH event_id and user_id offset — N× USERS at the
 *    same per-key density (key-partitioned windows and banded joins
 *    must track rows, never keys²);
 *  - documents ×N with doc_id offset — every text appears N times
 *    under distinct ids, the duplicate-flood adversary for dedup
 *    (capped banding must emit O(m) stars where naive banding emits
 *    O(m²) pairs).
 *
 * Wall ratios are taken from round 2 (steady-state; round 1 pays JIT
 * and shuffle-file warmup). A healthy curve has ratio(100×)/ratio(10×)
 * ≈ 10 — each decade costs one decade, no super-linear term.
 */
object Scale100Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_scale100"
    // optional third argument: comma-separated case names to run
    def keep[A](cs: Seq[(String, A)]): Seq[(String, A)] = ProbeSupport.keep(args, cs)
    val spark = GraftSession.local()

    def replicate(df: DataFrame, idCols: Seq[String], n: Int): DataFrame =
      ProbeSupport.replicate(df, idCols, n)
    def materialize(path: String, mk: => DataFrame): DataFrame =
      ProbeSupport.materialize(spark, path, mk)

    val ev1 = graft.ops.EventTime.normalizeTs(
      spark.read.parquet(s"$sfDir/events.parquet"))
    val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val scales: Seq[(Int, DataFrame, DataFrame, DataFrame)] = Seq(
      (1, ev1, docs1, emb1),
      (10,
        materialize(s"$workDir/events10.parquet",
          replicate(ev1, Seq("event_id", "user_id"), 10)),
        materialize(s"$workDir/documents10.parquet",
          replicate(docs1, Seq("doc_id"), 10)),
        materialize(s"$workDir/embeddings10.parquet",
          replicate(emb1, Seq("vec_id"), 10))),
      (100,
        materialize(s"$workDir/events100.parquet",
          replicate(ev1, Seq("event_id", "user_id"), 100)),
        materialize(s"$workDir/documents100.parquet",
          replicate(docs1, Seq("doc_id"), 100)),
        materialize(s"$workDir/embeddings100.parquet",
          replicate(emb1, Seq("vec_id"), 100))))
    scales.foreach { case (n, e, d, v) =>
      println(s"[scale100] x$n events=${e.count()} documents=${d.count()} " +
        s"embeddings=${v.count()}")
    }

    def time(label: String)(f: => Unit): Double =
      ProbeSupport.time("scale100", label)(f)
    def noop(df: DataFrame): Unit = ProbeSupport.noop(df)

    val eventCases: Seq[(String, DataFrame => DataFrame)] = Seq[ProbeSupport.Case](
      "sessionize" -> (e => Events.sessionize(e))) ++
      ProbeSupport.eventJoinCases ++ Seq[ProbeSupport.Case](
      // r13 wave: key-partitioned gap windows; path mining with the
      // pre-collection cut
      "interarrival" -> (e => Events.interArrival(e)),
      "top_paths" -> (e => Events.topPaths(e)),
      // r13 wave 3: the session aggregate's per-partition session sort
      // is the cost driver; feature_windows collapses map-side first
      "session_paths" -> (e => Events.sessionPaths(e)),
      "feature_windows" -> (e => Events.featureWindows(e)))
    // duplicate-flood dedup family: at ×N every band bucket holds ≥N
    // copies, so capped banding's star branch IS the measured path
    val docCases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "minhash_capped" -> (d => Dedup.candidatePairsCapped(
        Dedup.shingleSets(d, "doc_id", "text"), 8, 4, maxBucket = 64)),
      "dedup_spans" -> (d => Dedup.dedupSpans(d, "doc_id", "text", 8)),
      "budget_select" -> (d =>
        TextOps.budgetSelect(d, "doc_id", "text", "source", 800L)),
      // the r12 flood guards on their designed adversary: every text
      // ×N under distinct ids, so every fingerprint bucket / prefix
      // block holds ≥N copies — the star branch IS the measured path
      "winnow_capped" -> (d => Dedup.winnowPairsCapped(
        d, "doc_id", "text", maxBucket = 64)),
      "simjoin_capped" -> (d => Dedup.similarityJoinExactCapped(
        d, "doc_id", "text", 1, 2, maxBlock = 64)))
    // embedding family on the ×N duplicate flood: the collapsed SRP
    // clustering (exact-dup collapse first — N×-replicated vectors
    // collapse back to the base corpus before any pair work) and the
    // IVF ANN probe (per-query work is nprobe cells, not the corpus)
    val embCases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "embed_clusters" -> (e => Dedup.embedClustersCollapsed(
        graft.ops.Similarity.prepared(e, "vec_id", "embedding"), 0.4, 64, 4, 64)),
      // IVF with the label quantizer: the cell count is pinned by the
      // data's label arity, so ×N corpus AND ×N queries is ~N² work by
      // construction (the negativeSample-class contract: CELLS must
      // scale with the corpus). Kept in the probe as the honest
      // fixed-quantizer datapoint; ann_lsh below is the scale path.
      "ann_ivf" -> (e => graft.ops.Similarity.annIvf(
        e, "vec_id", "embedding", "label", col("vec_id") % 10000000000L < 10)),
      // the refit path, build+search in one shot: k grows as √N, so the
      // ONE-TIME build is N·k ≈ N^1.5 kernel work (embarrassingly
      // parallel, no payload blowup) and per-cell population stays ~N/k
      "ann_ivf_refit" -> (e => {
        val k = math.max(8, math.sqrt(e.count().toDouble).toInt)
        graft.ops.Similarity.annIvfRefit(e, "vec_id", "embedding", k,
          col("vec_id") % 10000000000L < 10)
      }),
      // the AMORTIZED number a deployment sees: search over a PREBUILT
      // index (assignments + centroids materialized once, like a
      // bucketed table) — per batch only |Q|·k routing + ~N/k per query
      "ann_ivf_refit_search" -> (e => {
        val k = math.max(8, math.sqrt(e.count().toDouble).toInt)
        val n = e.count()
        val (assigned, refit) =
          graft.ops.Similarity.refitQuantizer(e, "vec_id", "embedding", k)
        val base = e.select(col("vec_id"),
            graft.ops.Similarity.toDouble(col("embedding")).as("v"))
          .filter(col("v").isNotNull && size(col("v")) > 0)
          .withColumn("nrm", graft.ops.Similarity.l2norm(col("v")))
        val idx = ProbeSupport.materialize(e.sparkSession,
          s"/tmp/graft_scale100/ivfindex_$n.parquet",
          base.join(assigned, "vec_id"))
        val cents = ProbeSupport.materialize(e.sparkSession,
          s"/tmp/graft_scale100/ivfcents_$n.parquet", refit)
        graft.ops.Similarity.annIvfSearch(idx, cents,
          col("vec_id") % 10000000000L < 10)
      }),
      // LSH bucketing: 2^16 cells regardless of corpus size — per-query
      // candidate slice stays |corpus|/65536, so ×N corpus + ×N queries
      // is ~N·occupancy work, the bucket-scaled ANN contract holding
      "ann_lsh" -> (e => graft.ops.Similarity.annLsh(
        graft.ops.Similarity.prepared(e, "vec_id", "embedding"),
        col("vec_id") % 10000000000L < 10, 16, 64)))

    noop(ev1.groupBy(col("event_type")).count()) // warmup
    val walls = scala.collection.mutable.Map[(String, Int), Double]()
    val outs = scala.collection.mutable.Map[(String, Int), Long]()
    for (round <- 1 to 2) {
      println(s"[scale100] -- round $round --")
      scales.foreach { case (n, ev, docs, emb) =>
        keep(eventCases).foreach { case (name, q) =>
          walls((name, n)) = time(s"$name x$n")(noop(q(ev)))
        }
        keep(docCases).foreach { case (name, q) =>
          if (round == 1) outs((name, n)) = q(docs).count()
          walls((name, n)) = time(s"$name x$n")(noop(q(docs)))
        }
        keep(embCases).foreach { case (name, q) =>
          if (round == 1) outs((name, n)) = q(emb).count()
          walls((name, n)) = time(s"$name x$n")(noop(q(emb)))
        }
      }
    }
    println("[scale100] == steady-state curve (round 2) ==")
    (keep(eventCases) ++ keep(docCases) ++ keep(embCases)).foreach { case (name, _) =>
      val (t1, t10, t100) =
        (walls((name, 1)), walls((name, 10)), walls((name, 100)))
      val o = outs.get((name, 100)).map(v =>
        f" out 1x=${outs((name, 1))} 100x=$v").getOrElse("")
      println(f"[scale100] $name%-16s 1x=$t1%6.2fs 10x=$t10%6.2fs " +
        f"100x=$t100%7.2fs  r10=${t10 / t1}%5.2fx r100=${t100 / t1}%6.2fx " +
        f"decade=${t100 / t10}%5.2fx$o")
    }
    spark.stop()
  }
}
