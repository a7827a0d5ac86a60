package graft.tools

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.gates.Shared
import graft.ops.{Dedup, Events, EventTime, Graph, Multimodal, Scale, Similarity, Stats, TextOps}

/**
 * Scale evidence: an N× copy of a test-data directory, and one table of
 * operator cases timed on the base directory and on its copies, so the
 * "10× sub-linear ⇒ 100 TB OK" argument is a measured ratio.
 *
 * {{{
 * runMain graft.tools.ScaleProbe gen <src dir> <out dir> <factor> <flood|distinct>
 * runMain graft.tools.ScaleProbe time <base dir> <scaled dir>... [case,case,...]
 * }}}
 *
 * `gen` writes every table of `src` to `out` under the same name and
 * schema (see [[scaled]] for the two recipes), so `perfbench.Main
 * --data <out>` profiles the gates on it. `time` runs each case twice on
 * every directory, case by case, and prints one JSON line per (case,
 * directory): the round-2 wall, the output rows, the directory's
 * replication factor for the case's table and both ratios to the base.
 * Round 1 pays JIT and shuffle-file warm-up. A healthy operator has a
 * wall ratio no worse than its rows ratio; an operator whose output is
 * quadratic in duplicate multiplicity by contract (the pair emitters on
 * a flood) should have its wall track its output, not 100× compute.
 */
object ScaleProbe {

  /** Replica k's id is the base id + k·Stride, in every id column of
    * every recipe (the test data's ids all stay below it). */
  private[graft] val Stride = 100000000L

  /** The id columns of each replicated table. */
  private[graft] val IdColumns: Map[String, Seq[String]] = Map(
    "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"), "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey"))

  /** Every table of a test-data directory; those without id columns are
    * dimensions, copied as they are. */
  private[graft] val TableNames: Seq[String] = IdColumns.keys.toSeq.sorted ++
    Seq("customer", "nation", "part", "region", "supplier")

  /** Table `name` of `src` ×`n`, written to `out` the first time it is
    * asked for and read from there after. Replica k shifts every id
    * column by k·[[Stride]]; replica 0 is the base. Under `recipe`:
    *  - `flood`: nothing else changes, so every text and vector appears
    *    N times under distinct ids (events also get N× users at the same
    *    per-user density). The adversary of dedup and pair operators.
    *  - `distinct` (×10 only): replica k > 0 suffixes an md5-selected
    *    ~30% of each text's tokens with "q<k>", so replica pairs share
    *    ~34% of 3-shingles, below every near-dup threshold, while corpus
    *    statistics track the base; it rotates each embedding by k·6
    *    elements, near-orthogonal to the base with its norm kept. A
    *    realistic corpus one decade up ("synthetic sf1"). */
  private[graft] def scaled(spark: SparkSession, src: String, out: String, n: Int,
      recipe: String)(name: String): DataFrame = {
    require(recipe == "flood" || recipe == "distinct",
      s"recipe is flood or distinct, not $recipe")
    require(recipe == "flood" || n == 10, s"the distinct recipe makes ×10 only, not ×$n")
    require(n >= 1, s"factor must be positive, got $n")
    writeOnce(spark, s"$out/$name.parquet") {
      val df = spark.read.parquet(s"$src/$name.parquet")
      IdColumns.get(name).fold(df) { ids =>
        val k = col("__k")
        df.crossJoin(broadcast(spark.range(n).select(col("id").cast("int").as("__k"))))
          .select(df.columns.map {
            case c if ids.contains(c) => (col(c) + k.cast("long") * Stride).as(c)
            case "text" if recipe == "distinct" => distinctText(k)
            case "embedding" if recipe == "distinct" => distinctEmbedding(k)
            case c => col(c)
          }: _*)
      }
    }
  }

  /** `df` written to `path` unless a finished write (`_SUCCESS`) is
    * there, then read back from it. */
  private def writeOnce(spark: SparkSession, path: String)(df: => DataFrame): DataFrame = {
    if (!new File(path, "_SUCCESS").exists()) df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private def distinctText(k: Column): Column =
    when(k === 0, col("text")).otherwise(
      concat_ws(" ", transform(split(col("text"), " "), w =>
        when(conv(substring(md5(concat(w, lit("_"), k.cast("string"))), 1, 4),
            16, 10) % 10 < 3,
          concat(w, lit("q"), k.cast("string"))).otherwise(w))))
      .as("text")

  private def distinctEmbedding(k: Column): Column = {
    val e = col("embedding")
    when(k === 0, e).otherwise(
      concat(slice(e, k * 6 + 1, size(e) - k * 6), slice(e, lit(1), k * 6)))
      .as("embedding")
  }

  /** A case: the table it reads and the frame it builds from it. */
  private[graft] final case class Case(table: String, build: DataFrame => DataFrame)

  private def on(table: String)(
      entries: (String, DataFrame => DataFrame)*): Seq[(String, Case)] =
    entries.map { case (name, build) => name -> Case(table, build) }

  /** The ANN cases' queries: the first 10 vectors of every replica. */
  private val annQueries: Column = col("vec_id") % Stride < 10

  /** The IVF refit quantizer's cell count: k grows as √N. */
  private def refitK(e: DataFrame): Int = math.max(8, math.sqrt(e.count().toDouble).toInt)

  /** The refit search's corpus side: id, double vector and its norm. */
  private def refitBase(e: DataFrame): DataFrame =
    e.select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
      .withColumn("nrm", Similarity.l2norm(col("v")))

  private def cappedPairs(d: DataFrame): DataFrame =
    Dedup.candidatePairsCapped(Dedup.shingleSets(d, "doc_id", "text"), 8, 4, maxBucket = 64)

  private def clicks(e: DataFrame): DataFrame = e.filter(col("event_type") === "click")
    .select(col("user_id"), expr("ts div 1000L").as("tsu"), col("event_id"))

  /** Every case by name, built through [[SparkEntry.uniqueKeys]], so a
    * name declared twice throws. `work` is a scratch directory of the
    * input the cases run on (the prebuilt IVF index is written there). */
  private[graft] def cases(work: String): Map[String, Case] = SparkEntry.uniqueKeys((
    on("lineitem")(
      "q1_agg" -> (li => li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(round(col("l_quantity") * 100).cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price"),
          count(lit(1)).as("n"))),
      "mode_agg" -> (li => li.agg(
        graft.functions.GraftFunctions.mode_agg(col("l_linenumber")).as("m"))),
      // group-keyed RANGE cum-weight window + min aggregation
      "percentile_weighted" -> (li => Stats.percentileWeighted(
        li, Seq("l_returnflag"), "l_extendedprice", "l_quantity",
        Seq("p50" -> 0.5, "p90" -> 0.9))),
      // one pass of k(k+3)/2 exact sums, one result row
      "corr_matrix" -> (li => Stats.corrMatrix(li,
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
      // distinct-value collapse + bucket-partitioned rank windows
      "cdf" -> (li => Stats.cdfNormalize(li, Seq("l_returnflag"), "l_extendedprice")),
      // 32 resample sums in one aggregate (8 md5/row)
      "bootstrap_ci" -> (li => Stats.bootstrapMeanCI(li, "l_orderkey", "l_extendedprice")),
      // one range exchange + zipWithIndex
      "assign_ids" -> (li => Scale.assignIds(
        li.select(col("l_orderkey"), col("l_linenumber")),
        Seq("l_orderkey", "l_linenumber"))),
      "hll_grouped" -> (li => li.groupBy(col("l_returnflag"))
        .agg(graft.functions.GraftFunctions.hll_distinct(col("l_partkey"), 8).as("est"))),
      "window_rank" -> (li => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_returnflag"), col("l_linestatus"))
          .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc)
        li.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      })) ++
    on("documents")(
      "exact_dedup" -> (d => Dedup.exactDedup(d, "doc_id", "text")),
      "chunk_dedup" -> (d => TextOps.chunkDedup(d, "doc_id", "text", 8)),
      "quality" -> (d => d.select(col("doc_id"), TextOps.qualityScore(col("text")).as("q"))),
      "token_count" -> (d => d.select(col("doc_id"), TextOps.tokenCountBpe(col("text")).as("n"))),
      // drift/selection: a corpus pass + vocab-sized tails
      "source_kl" -> (d => TextOps.sourceKlDivergence(d, "source", "text")),
      "length_ks" -> (d => TextOps.lengthKsDrift(d, "source", "text")),
      "dsir" -> (d => TextOps.dsirWeights(d, "doc_id", "text", "source", "src3")),
      "chunk_stride" -> (d => TextOps.chunkStride(d, "doc_id", "text", 16, 8)),
      // on a flood EVERY gram is duplicated, so the removal set is
      // ~(N-1)/N of all gram occurrences: heavy but linear
      "dedup_spans" -> (d => Dedup.dedupSpans(d, "doc_id", "text", 8)),
      // a flood grows every (source, quality) / (stratum, n_tokens) tie
      // group N×: the one serial unit left after the bucketed rank
      "budget_select" -> (d => TextOps.budgetSelect(d, "doc_id", "text", "source", 800L)),
      "shard_assign" -> (d => TextOps.shardAssign(d, "doc_id", "text", "source", 8)),
      "negative_sample" -> (d => {
        val ids = d.select(col("doc_id"))
        // buckets MUST scale with the pool (negativeSample's contract:
        // per-bucket slice ≈ constant); a pinned count is quadratic
        val buckets = math.max(64, (ids.count() / 78L).toInt)
        TextOps.negativeSample(
          ids.filter(col("doc_id") % 7 === 0).select(col("doc_id").as("qid")),
          ids.select(col("doc_id").as("did")),
          ids.filter(col("doc_id") % 7 === 0)
            .select(col("doc_id").as("qid"), (col("doc_id") + 1).as("did")),
          "qid", "did", 3, buckets)
      }),
      // odd ids probe the even-id band index; replicas keep id parity, so
      // on a flood each band bucket holds ~N copies: the per-band min
      // pre-reduction keeps the probe join linear
      "neardup_incr" -> (d => Dedup.neardupIncremental(
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        Dedup.bandKeyIndex(
          d.filter(col("doc_id") % 2 === 0), "doc_id", "text", 8, 4), 8, 4)),
      // census and peel over CAPPED pairs: uncapped pairs are quadratic
      // in multiplicity before either starts
      "triangles" -> (d => Graph.triangleStats(cappedPairs(d))),
      "hash_vectorize" -> (d => TextOps.hashingVectorize(d, "doc_id", "text", 256)),
      "kcore" -> (d => Graph.kCore(cappedPairs(d), k = 2, iters = 4)),
      // on a flood every band bucket holds ≥N copies, so the capped
      // star branch IS the measured path
      "minhash_capped" -> (d => cappedPairs(d)),
      // pair emitters: on a flood each size-c dup cluster becomes size
      // Nc, so output grows ~N² by contract; wall must track output
      "similarity_join" -> (d => Dedup.similarityJoinExact(d, "doc_id", "text", 1, 2)),
      "similarity_join_capped" -> (d =>
        Dedup.similarityJoinExactCapped(d, "doc_id", "text", 1, 2, maxBlock = 64)),
      "winnow_pairs" -> (d => Dedup.winnowPairs(d, "doc_id", "text")),
      "winnow_pairs_capped" -> (d =>
        Dedup.winnowPairsCapped(d, "doc_id", "text", maxBucket = 64)),
      // stub signatures are content-derived: a flood fills band buckets
      // with identical signatures
      "phash_dedup" -> (d => {
        implicit val spark: SparkSession = d.sparkSession
        import spark.implicits._
        Multimodal.perceptualDedup(Multimodal.asMediaTable(
          d.withColumn("text", substring(col("text"), 1, 200)), "doc_id", "text")
          .as[graft.ops.MediaRecord])
      }),
      // per-block quadratic linkage: the block key is the lever
      "link_records" -> (d => {
        val n = d.withColumn("nm", substring(col("text"), 1, 40))
        Dedup.linkRecords(n, n, "doc_id", "nm", "doc_id", "nm",
          threshold = 0.95, blockPrefix = 12)
      }),
      // one hash aggregate + an int-array join-back
      "dedup_paragraphs" -> (d => Dedup.dedupParagraphs(d, "doc_id", "text")),
      // the composed crawl front door; the html is made inside the timed
      // query, with chrome shared per source so boilerplate has
      // threshold-crossing lines at every scale
      "crawl_clean" -> (d => Dedup.crawlClean(
        d.select(col("doc_id"), col("source"),
          concat(lit("<html><head><title>x</title></head><body>" +
              "<div>site notice "), col("source"),
            lit("</div><p>"), col("text"),
            lit("</p><div>shared tail line</div></body></html>")).as("html")),
        "doc_id", "html", "source", keepLangs = Seq("en")))) ++
    // key-partitioned windows and banded equi-joins: with N× users at
    // the same per-user density, wall should track rows, never keys²
    on("events")(
      // distinct-score collapse + bucket-partitioned rank windows
      "auc" -> (e => Stats.aucRoc(
        e.withColumn("label", (col("event_type") === "purchase").cast("int")),
        "value", "label")),
      "psi" -> (e => Stats.psi(e, "value",
        col("ts") < lit(1705363200000000000L), bins = 10)),
      "chi2" -> (e => Stats.chi2Independence(
        e.withColumn("dow", expr("(ts div 86400000000000L + 4) % 7")),
        "event_type", "dow")),
      "srm" -> (e => Events.srmCheck(e)),
      "rolling_corr" -> (e => Events.rollingCorr(
        e, "click", "purchase", windowDays = 28, minDays = 7)),
      "ab_lift_by" -> (e => Events.abLiftBy(e, "event_type")),
      // user collapse -> duration frame -> ordered ln-sum windows
      "survival" -> (e => {
        val d = EventTime.normalizeTs(e)
          .select(col("user_id"), expr("ts div 86400000000000L").as("day"),
            col("event_type"))
        val mx = d.agg(max(col("day")).as("mx"))
        val u = d.groupBy(col("user_id")).agg(min(col("day")).as("fd"),
          min(when(col("event_type") === "purchase", col("day"))).as("fp"))
        Stats.kaplanMeier(
          u.crossJoin(broadcast(mx)).select(
            when(col("fp").isNotNull, col("fp") - col("fd"))
              .otherwise(col("mx") - col("fd")).as("duration"),
            when(col("fp").isNotNull, lit(1)).otherwise(lit(0)).as("event")),
          "duration", "event")
      }),
      "anomaly_bands" -> (e => Events.anomalyBands(e, 3.0, 14, 7)),
      "cohort_ltv" -> (e => Events.cohortLtv(e, "purchase", 28)),
      "sessionize" -> (e => Events.sessionize(e)),
      // clicks against purchases on µs time
      "asof_join" -> (e => {
        val p = e.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), expr("ts div 1000L").as("tsu"))
          .agg(round(max(col("value")), 6).as("pvalue"))
        Events.asOfJoin(clicks(e), p, "user_id", "tsu", Seq("pvalue"))
      }),
      "label_window" -> (e => {
        val p = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), expr("ts div 1000L").as("tsu"), col("value"))
        Events.labelWindow(clicks(e), p, "user_id", "tsu", "event_id", "value",
          86400000000L)
      }),
      "point_in_time" -> (e => {
        val dim = Events.scd2Intervals(e).filter(col("event_type") === "purchase")
        Events.pointInTimeJoin(clicks(e), dim, "user_id", "tsu", Seq("value"))
      }),
      "attribution" -> (e => {
        val convs = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), expr("ts div 1000L").as("tsu"),
            col("event_id").as("conv_id"), col("value"))
        Events.attribution(clicks(e), convs, "user_id", "tsu", "event_id",
          "conv_id", "value", 86400000000L)
      }),
      "interarrival" -> (e => Events.interArrival(e)),
      // the maxSteps cut BEFORE collection is what N× users exercises
      "top_paths" -> (e => Events.topPaths(e)),
      // O(maxSteps) state per session: wall tracks events, not sessions
      "session_paths" -> (e => Events.sessionPaths(e)),
      // map-side day collapse, then RANGE frames on the compact frame
      "feature_windows" -> (e => Events.featureWindows(e)),
      "target_encode" -> (e => Stats.targetEncode(
        e, "event_id", "event_type", "value", 10.0)),
      "ab_cuped" -> (e => Events.abCuped(e, 1705363200000000L)),
      "seasonal_error" -> (e => Events.seasonalError(e)),
      "session_cooccur" -> (e => Events.sessionCooccurrence(e)),
      "diff_in_diff" -> (e => Events.diffInDiff(e, 1705363200000000L)),
      "ab_conversion" -> (e => Events.abConversion(e, "purchase")),
      "bounce_rate" -> (e => Events.bounceRate(e)),
      "stickiness" -> (e => Events.stickiness(e)),
      // merged day partials + left-semi touched-user window
      "feature_incremental" -> (e => {
        val cutNs = 1705363200000000000L
        val n = EventTime.normalizeTs(e)
        Events.featureWindowsIncremental(
          Events.featureDayFrame(n.filter(col("ts") < cutNs)),
          n.filter(col("ts") >= cutNs))
      }),
      "level_shift" -> (e => Events.levelShift(e)),
      // with N× users the tiny count-value frame is the only serial piece
      "concentration" -> (e => Stats.concentration(e, "user_id"))) ++
    on("embeddings")(
      // the collapsed pipeline: exact-dup collapse first, so a flood
      // collapses back to the base corpus before any pair work
      "embed_clusters" -> (e => Dedup.embedClustersCollapsed(
        Similarity.prepared(e, "vec_id", "embedding"), 0.4, 64, 4, 64)),
      // the distinct cluster ids: fewer pairs found, more singletons, so
      // the rows double as the recall readout
      "embed_cluster_ids" -> (e => Dedup.embedClustersCollapsed(
        Similarity.prepared(e, "vec_id", "embedding"), 0.4, 64, 4, 64)
        .select(col("cluster_id")).distinct()),
      // 2^bandBits band values must grow with the corpus like IVF's k
      "embed_clusters_b8" -> (e => Dedup.embedClustersCollapsed(
        Similarity.prepared(e, "vec_id", "embedding"), 0.4, 64, 8, 64)
        .select(col("cluster_id")).distinct()),
      // the default front door picks bandBits itself
      "embed_clusters_auto" -> (e => Dedup.embedClustersAuto(
        Similarity.prepared(e, "vec_id", "embedding"), 0.4, 64)
        .select(col("cluster_id")).distinct()),
      // a fixed query set against an N× corpus
      "margin_mine" -> (e => Similarity.marginMine(
        Similarity.prepared(e, "vec_id", "embedding"), col("vec_id") < 10, 0.0)),
      "embed_cov" -> (e => Similarity.embedCovariance(e, "embedding")),
      "project" -> (e => Similarity.randomProject(e, "embedding", dim = 64, outDim = 16)),
      // SRP-bucket equi-join, even ids query the odd half
      "ann_join" -> (e => {
        val all = Similarity.prepared(e, "vec_id", "embedding")
        Similarity.annJoin(all.filter(col("vec_id") % 2 === 0),
          all.filter(col("vec_id") % 2 === 1), planes = 8, dim = 64, minCos = 0.1, k = 3)
      }),
      // the label quantizer pins the cell count, so N× corpus and N×
      // queries is ~N² work by construction: the fixed-quantizer datapoint
      "ann_ivf" -> (e => Similarity.annIvf(e, "vec_id", "embedding", "label", annQueries)),
      // the refit path, build and search in one shot: the one-time build
      // is N·k ≈ N^1.5 kernel work, per-cell population stays ~N/k
      "ann_ivf_refit" -> (e =>
        Similarity.annIvfRefit(e, "vec_id", "embedding", refitK(e), annQueries)),
      // the refit build's stages on their own
      "refit_base" -> (e => refitBase(e)),
      "refit_assign" -> (e => Similarity.refitQuantizer(e, "vec_id", "embedding", refitK(e))._1),
      "refit_centroids" -> (e => Similarity.refitQuantizer(e, "vec_id", "embedding", refitK(e))._2),
      // the amortized number: search over an index written once (round 1)
      // and read back, so per batch only |Q|·k routing + ~N/k per query
      "ann_ivf_refit_search" -> (e => {
        val (assigned, refit) = Similarity.refitQuantizer(e, "vec_id", "embedding", refitK(e))
        Similarity.annIvfSearch(
          writeOnce(e.sparkSession, s"$work/ivfindex.parquet")(refitBase(e).join(assigned, "vec_id")),
          writeOnce(e.sparkSession, s"$work/ivfcents.parquet")(refit), annQueries)
      }),
      // 2^16 LSH cells whatever the corpus size
      "ann_lsh" -> (e => Similarity.annLsh(
        Similarity.prepared(e, "vec_id", "embedding"), annQueries, 16, 64)))): _*)

  /** Times `names` (every case when empty) on `base` and each of
    * `scaled`, in two rounds, and returns one JSON line per (case,
    * directory) from round 2. `work` holds each directory's scratch. */
  private[graft] def time(spark: SparkSession, base: String, scaled: Seq[String],
      names: Seq[String], work: String): Seq[String] = {
    val dirs = base +: scaled
    val table = dirs.indices.map(i => cases(s"$work/$i"))
    val selected = select(names)
    val inputs = mutable.Map[(Int, String), DataFrame]()
    def input(i: Int, t: String) = inputs.getOrElseUpdate((i, t), Shared.t(spark, dirs(i), t))
    val inputRows = mutable.Map[(Int, String), Long]()
    def tableRows(i: Int, t: String) = inputRows.getOrElseUpdate((i, t), input(i, t).count())
    def factor(i: Int, t: String) = math.round(tableRows(i, t).toDouble / tableRows(0, t))
    val walls = mutable.Map[(String, Int), Double]()
    val rows = mutable.Map[(String, Int), Long]()
    for (round <- 1 to 2; name <- selected; i <- dirs.indices) {
      val c = table(i)(name)
      val observed = Observation()
      val t0 = System.nanoTime()
      c.build(input(i, c.table)).observe(observed, count(lit(1)).as("rows"))
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scale] round $round $name%-24s ${dirs(i)} $wall%8.2f s")
      walls((name, i)) = wall
      rows((name, i)) = observed.get("rows").asInstanceOf[Long]
    }
    for (name <- selected; i <- dirs.indices) yield {
      val t = table(i)(name).table
      json("case" -> name, "table" -> t, "dir" -> dirs(i), "factor" -> factor(i, t),
        "wall_s" -> walls((name, i)), "rows" -> rows((name, i)),
        "wall_ratio" -> walls((name, i)) / walls((name, 0)),
        "rows_ratio" -> rows((name, i)).toDouble / rows((name, 0)))
    }
  }

  /** `names`, or every case when it is empty; throws, naming them, on
    * names that are no case. */
  private def select(names: Seq[String]): Seq[String] = {
    val all = cases("")
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"no such case: ${unknown.mkString(", ")}")
    if (names.isEmpty) all.keys.toSeq.sorted else names
  }

  private def json(fields: (String, Any)*): String = fields.map {
    case (k, v: String) => s""""$k": "${v.replace("\\", "\\\\").replace("\"", "\\\"")}""""
    case (k, v: Double) if v.isNaN || v.isInfinite => s""""$k": null"""
    case (k, v) => s""""$k": $v"""
  }.mkString("{", ", ", "}")

  private val Usage = "usage: ScaleProbe gen <src dir> <out dir> <factor> <flood|distinct>\n" +
    "       ScaleProbe time <base dir> <scaled dir>... [case,case,...]"

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: src :: out :: factor :: recipe :: Nil =>
      val spark = GraftSession.local()
      try TableNames.foreach { t =>
        val n = scaled(spark, src, out, factor.toInt, recipe)(t).count()
        System.err.println(s"[scale] $out/$t.parquet: $n rows")
      } finally spark.stop()
    case "time" :: base :: rest if rest.nonEmpty =>
      // a last argument that is no directory is the case list
      val (scaledDirs, names) =
        if (rest.size > 1 && !new File(rest.last).isDirectory) (rest.init, rest.last.split(",").toSeq)
        else (rest, Nil)
      select(names)
      val spark = GraftSession.local()
      val work = Files.createTempDirectory(Paths.get(scaledDirs.head), "probe-work-").toFile
      try time(spark, base, scaledDirs, names, work.toString).foreach(println)
      finally {
        org.apache.commons.io.FileUtils.deleteDirectory(work)
        spark.stop()
      }
    case _ => throw new IllegalArgumentException(Usage)
  }
}
