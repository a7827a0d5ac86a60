package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.Dedup

/**
 * sf1 soak for the heavy-dedup family (r13 verdict task #4): the
 * quadratic-tailed operators one decade above the sf0.1 gate, on a
 * REALISTIC sf1 — ×10 the documents with DISTINCT texts, not the
 * duplicate flood [[Scale100Probe]] already measures. Each replica k
 * deterministically mutates ~30% of tokens (md5-selected, suffixed
 * with the replica id), so replica pairs of one base doc share ~34%
 * of 3-token shingles — below every near-dup threshold — while corpus
 * statistics (lengths, token counts, block structure) track the
 * original. Embeddings replicate with a k·6 element rotation:
 * near-orthogonal to the base vector (iid components), norm preserved.
 *
 * Reported per case: round-2 wall and output rows at 1× (sf0.1) and
 * 10× (synthetic sf1), with the wall/output ratios the verdict asks
 * to see recorded in PLANS.md. The capped variants run with the
 * scale-realistic maxBucket/maxBlock=64 (the gate pins 2 only to
 * exercise the star branch on tiny data).
 */
object Sf1Soak {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    // optional third argument: comma-separated case names to run
    def keep[A](cs: Seq[(String, A)]): Seq[(String, A)] = ProbeSupport.keep(args, cs)
    val spark = GraftSession.local()

    val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val emb1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // the ×10 recipe of [[ScaleCurveProbe]]
    import ScaleCurveProbe.{replicas, replicaEmbedding, replicaId, replicaText}
    val docs10 = ProbeSupport.materialize(spark,
      s"$workDir/documents_sf1.parquet",
      replicas(docs1).select(replicaId("doc_id", 10000000L), col("source"), replicaText))
    val emb10 = ProbeSupport.materialize(spark,
      s"$workDir/embeddings_sf1.parquet",
      replicas(emb1).select(replicaId("vec_id", 10000000L), replicaEmbedding))
    println(s"[sf1] docs 1x=${docs1.count()} 10x=${docs10.count()} " +
      s"emb 1x=${emb1.count()} 10x=${emb10.count()}")

    val docCases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "similarity_join" -> (d =>
        Dedup.similarityJoinExact(d, "doc_id", "text", 1, 2)),
      "similarity_join_capped" -> (d =>
        Dedup.similarityJoinExactCapped(d, "doc_id", "text", 1, 2,
          maxBlock = 64)),
      "winnow_pairs" -> (d => Dedup.winnowPairs(d, "doc_id", "text")),
      "winnow_pairs_capped" -> (d =>
        Dedup.winnowPairsCapped(d, "doc_id", "text", maxBucket = 64)),
      "dedup_spans" -> (d => Dedup.dedupSpans(d, "doc_id", "text", 8)),
      // r17 paragraph dedup at the decade: one hash aggregate + an
      // int-array join-back — expected ~linear
      "dedup_paragraphs" -> (d =>
        Dedup.dedupParagraphs(d, "doc_id", "text")),
      // the r17 composed crawl front door at the decade: html synthesis
      // rides inside the timed query (the extraction stage needs real
      // markup to chew), chrome shared per source so boilerplate has
      // threshold-crossing lines at both scales
      "crawl_clean" -> (d => Dedup.crawlClean(
        d.select(col("doc_id"), col("source"),
          concat(lit("<html><head><title>x</title></head><body>" +
              "<div>site notice "), col("source"),
            lit("</div><p>"), col("text"),
            lit("</p><div>shared tail line</div></body></html>")).as("html")),
        "doc_id", "html", "source", keepLangs = Seq("en"))))
    // embed cases return the DISTINCT cluster ids so the out column
    // doubles as the recall readout (coarser bands find fewer pairs ->
    // more singleton clusters)
    val embCases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "embed_clusters" -> (e => Dedup.embedClustersCollapsed(
        graft.ops.Similarity.prepared(e, "vec_id", "embedding"),
        0.4, 64, 4, 64).select(col("cluster_id")).distinct()),
      // the scale lever: 2^bandBits band values must grow with the
      // corpus like IVF's k — 8-bit bands cut per-bucket occupancy 16x
      "embed_clusters_b8" -> (e => Dedup.embedClustersCollapsed(
        graft.ops.Similarity.prepared(e, "vec_id", "embedding"),
        0.4, 64, 8, 64).select(col("cluster_id")).distinct()),
      // the r17 DEFAULT front door: bandBitsFor(n) picks 8 at both 2k
      // and 20k, so the decade must read ~the b8 number WITHOUT the
      // caller touching any knob (the r14 verdict's done-criterion)
      "embed_clusters_auto" -> (e => Dedup.embedClustersAuto(
        graft.ops.Similarity.prepared(e, "vec_id", "embedding"),
        0.4, 64).select(col("cluster_id")).distinct()))

    ProbeSupport.noop(docs1.groupBy(col("source")).count()) // warmup
    val walls = scala.collection.mutable.Map[(String, Int), Double]()
    val outs = scala.collection.mutable.Map[(String, Int), Long]()
    for (round <- 1 to 2) {
      println(s"[sf1] -- round $round --")
      Seq((1, docs1, emb1), (10, docs10, emb10)).foreach { case (n, d, e) =>
        keep(docCases).foreach { case (name, q) =>
          if (round == 1) outs((name, n)) = q(d).count()
          walls((name, n)) = ProbeSupport.time("sf1", s"$name x$n")(
            ProbeSupport.noop(q(d)))
        }
        keep(embCases).foreach { case (name, q) =>
          if (round == 1) outs((name, n)) = q(e).count()
          walls((name, n)) = ProbeSupport.time("sf1", s"$name x$n")(
            ProbeSupport.noop(q(e)))
        }
      }
    }
    println("[sf1] == steady-state decade (round 2) ==")
    (keep(docCases) ++ keep(embCases)).foreach { case (name, _) =>
      val (t1, t10) = (walls((name, 1)), walls((name, 10)))
      val (o1, o10) = (outs((name, 1)), outs((name, 10)))
      println(f"[sf1] $name%-24s 1x=$t1%7.2fs 10x=$t10%8.2fs " +
        f"wall=${t10 / t1}%6.2fx  out 1x=$o1%8d 10x=$o10%9d " +
        f"out_ratio=${if (o1 > 0) o10.toDouble / o1 else Double.NaN}%6.2fx")
    }
    spark.stop()
  }
}
