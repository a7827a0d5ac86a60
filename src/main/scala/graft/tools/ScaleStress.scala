package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.GraftFunctions
import graft.ops.{Dedup, TextOps}

/**
 * 10×-scaling evidence: materializes a 10× copy of the sf0.1 fact
 * tables (ids offset per replica so dedup workloads become genuinely
 * heavier — every text appears 10 times under distinct ids) and times
 * headline operators at 1× and 10×. Near-linear wall-time ratios (≲10×
 * on 32 cores) demonstrate the plans have no super-linear term —
 * the empirical counterpart to the SURVEY's 100 TB design arguments.
 */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_scale"
    // optional third argument: comma-separated case names to run
    def keep[A](cs: Seq[(String, A)]): Seq[(String, A)] = ProbeSupport.keep(args, cs)
    val spark = GraftSession.local()
    import spark.implicits._

    // ids offset by 1e9 per replica (this probe's historical offset —
    // keeps the cached /tmp replicas comparable across rounds)
    def replicate(df: DataFrame, idCols: Seq[String], n: Int): DataFrame =
      ProbeSupport.replicate(df, idCols, n, offset = 1000000000L)

    val li1 = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val ev1 = graft.ops.EventTime.normalizeTs(
      spark.read.parquet(s"$sfDir/events.parquet"))
    val li10Path = s"$workDir/lineitem10.parquet"
    val docs10Path = s"$workDir/documents10.parquet"
    val emb10Path = s"$workDir/embeddings10.parquet"
    val ev10Path = s"$workDir/events10.parquet"
    if (!new java.io.File(li10Path).exists()) {
      replicate(li1, Seq("l_orderkey"), 10).write.mode("overwrite").parquet(li10Path)
      replicate(docs1, Seq("doc_id"), 10).write.mode("overwrite").parquet(docs10Path)
      replicate(emb1, Seq("vec_id"), 10).write.mode("overwrite").parquet(emb10Path)
    }
    if (!new java.io.File(ev10Path).exists()) {
      // user_id offset too: 10× USERS (the realistic 100 TB growth axis
      // for event data — more keys, same per-key density)
      replicate(ev1, Seq("event_id", "user_id"), 10)
        .write.mode("overwrite").parquet(ev10Path)
    }
    val li10 = spark.read.parquet(li10Path)
    val docs10 = spark.read.parquet(docs10Path)
    val emb10 = spark.read.parquet(emb10Path)
    val ev10 = spark.read.parquet(ev10Path)
    println(s"[scale] lineitem 1x=${li1.count()} 10x=${li10.count()}; " +
      s"documents 1x=${docs1.count()} 10x=${docs10.count()}")

    def time(label: String)(f: => Unit): Double =
      ProbeSupport.time("scale", label)(f)
    def noop(df: DataFrame): Unit = ProbeSupport.noop(df)

    val cases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "q1_agg" -> (li => li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(round(col("l_quantity") * 100).cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price"),
          count(lit(1)).as("n"))),
      "mode_agg" -> (li => li.agg(
        GraftFunctions.mode_agg(col("l_linenumber")).as("m"))),
      // r13: group-keyed RANGE cum-weight window + min aggregation
      "percentile_weighted" -> (li => graft.ops.Stats.percentileWeighted(
        li, Seq("l_returnflag"), "l_extendedprice", "l_quantity",
        Seq("p50" -> 0.5, "p90" -> 0.9))),
      // r14: one pass of k(k+3)/2 exact sums, one result row
      "corr_matrix" -> (li => graft.ops.Stats.corrMatrix(li,
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
      // r14: distinct-value collapse + bucket-partitioned rank windows
      "cdf" -> (li => graft.ops.Stats.cdfNormalize(li,
        Seq("l_returnflag"), "l_extendedprice")),
      // r14: 32 resample sums in one aggregate (8 md5/row)
      "bootstrap_ci" -> (li => graft.ops.Stats.bootstrapMeanCI(li,
        "l_orderkey", "l_extendedprice")),
      // r14: one range exchange + zipWithIndex (6M rows at 10×)
      "assign_ids" -> (li => graft.ops.Scale.assignIds(
        li.select(col("l_orderkey"), col("l_linenumber")),
        Seq("l_orderkey", "l_linenumber"))),
      "hll_grouped" -> (li => li.groupBy(col("l_returnflag"))
        .agg(GraftFunctions.hll_distinct(col("l_partkey"), 8).as("est"))),
      "window_rank" -> (li => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_returnflag"), col("l_linestatus"))
          .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc)
        li.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      }))
    val docCases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "exact_dedup" -> (d => Dedup.exactDedup(d, "doc_id", "text")),
      "chunk_dedup" -> (d => TextOps.chunkDedup(d, "doc_id", "text", 8)),
      "quality" -> (d => d.select(col("doc_id"),
        TextOps.qualityScore(col("text")).as("q"))),
      "token_count" -> (d => d.select(col("doc_id"),
        TextOps.tokenCountBpe(col("text")).as("n"))),
      // round-9 drift/selection ops: corpus pass + vocab-sized tails
      "source_kl" -> (d => TextOps.sourceKlDivergence(d, "source", "text")),
      "length_ks" -> (d => TextOps.lengthKsDrift(d, "source", "text")),
      "dsir" -> (d => TextOps.dsirWeights(d, "doc_id", "text", "source", "src3")),
      "chunk_stride" -> (d => TextOps.chunkStride(d, "doc_id", "text", 16, 8)),
      // round-11 additions. dedup_spans on the ×10 replica is its own
      // worst case: EVERY gram is duplicated, so the removal set d is
      // ~9/10 of all gram occurrences — heavy but linear (the
      // first-occurrence reduce emits one row per hash; the occurrence
      // join output equals its input). neardup_incr probes odd ids
      // against the even-id band index; the ×10 replica preserves id
      // parity, so every band bucket holds ~10 historical copies — the
      // per-band min pre-reduction is what keeps the probe join linear.
      "dedup_spans" -> (d => Dedup.dedupSpans(d, "doc_id", "text", 8)),
      // round-12 distributed forms. The ×10 replica is their adversarial
      // case BY CONSTRUCTION: every text appears 10× under distinct ids,
      // so every (source, quality) / (stratum, n_tokens) tie group —
      // the one serial unit left after the bucketed-rank rewrite —
      // grows 10×. Near-linear wall here means the decomposition holds
      // exactly where the old per-source single window serialized.
      "budget_select" -> (d => TextOps.budgetSelect(d, "doc_id", "text", "source", 800L)),
      "shard_assign" -> (d => TextOps.shardAssign(d, "doc_id", "text", "source", 8)),
      "negative_sample" -> (d => {
        val ids = d.select(col("doc_id"))
        // buckets MUST scale with the pool (negativeSample's documented
        // contract: per-bucket slice ≈ constant). A fixed bucket count
        // measured 25× wall at 10× here — |Q|·|D|/B is quadratic in
        // replication when B is pinned.
        val buckets = math.max(64, (ids.count() / 78L).toInt)
        TextOps.negativeSample(
          ids.filter(col("doc_id") % 7 === 0).select(col("doc_id").as("qid")),
          ids.select(col("doc_id").as("did")),
          ids.filter(col("doc_id") % 7 === 0)
            .select(col("doc_id").as("qid"), (col("doc_id") + 1).as("did")),
          "qid", "did", 3, buckets)
      }),
      "neardup_incr" -> (d => Dedup.neardupIncremental(
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        Dedup.bandKeyIndex(
          d.filter(col("doc_id") % 2 === 0), "doc_id", "text", 8, 4), 8, 4)),
      // r13: triangle census over CAPPED banding pairs — the honest
      // duplicate-flood composition (uncapped pairs are quadratic in
      // multiplicity before the census even starts)
      "triangles" -> (d => graft.ops.Graph.triangleStats(
        Dedup.candidatePairsCapped(
          Dedup.shingleSets(d, "doc_id", "text"), 8, 4, maxBucket = 64))),
      // r13: explode + (doc, bucket) combine — vocab-size-free
      "hash_vectorize" -> (d =>
        graft.ops.TextOps.hashingVectorize(d, "doc_id", "text", 256)),
      // r13: bounded peel over capped pairs — per-round cost tracks the
      // (capped) edge list, duplicate floods included
      "kcore" -> (d => graft.ops.Graph.kCore(
        Dedup.candidatePairsCapped(
          Dedup.shingleSets(d, "doc_id", "text"), 8, 4, maxBucket = 64),
        k = 2, iters = 4)))
    // the r9/r10-verdict heavy trio, on the duplicate-heavy replica
    // (every text ×10 under distinct ids). Pair-EMITTING ops have an
    // inherently quadratic-in-multiplicity OUTPUT (each size-c dup
    // cluster becomes size 10c → ~100× the intra-cluster pairs), so
    // their honest scale figure separates wall-ratio from output-ratio:
    // sub-quadratic WORK = wall-ratio tracking output-ratio, not 100×
    // compute on 100× pairs from a 10× input.
    val pairCases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "similarity_join" -> (d => Dedup.similarityJoinExact(d, "doc_id", "text", 1, 2)),
      "winnow_pairs" -> (d => Dedup.winnowPairs(d, "doc_id", "text")),
      // r13: stub signatures are content-derived, so a 10x dup replica
      // floods band buckets with identical signatures — pair output is
      // quadratic in multiplicity by CONTRACT; wall must track output
      "phash_dedup" -> (d => {
        implicit val sp = d.sparkSession
        import sp.implicits._
        graft.ops.Multimodal.perceptualDedup(
          graft.ops.Multimodal.asMediaTable(
            d.withColumn("text", substring(col("text"), 1, 200)),
            "doc_id", "text").as[graft.ops.MediaRecord])
      }),
      // r13: per-block quadratic linkage — duplicate-heavy replicas grow
      // block populations 10x, candidates ~100x; the block key is the
      // documented lever
      "link_records" -> (d => {
        val n = d.withColumn("nm", substring(col("text"), 1, 40))
        Dedup.linkRecords(n, n, "doc_id", "nm", "doc_id", "nm",
          threshold = 0.95, blockPrefix = 12)
      }))
    // event-time suite on 10× USERS (same per-key density): these are
    // all key-partitioned windows / banded equi-joins, so wall should
    // track input, never key-count² — the r10-broken suite's scale proof
    val eventCases: Seq[(String, DataFrame => DataFrame)] = Seq[ProbeSupport.Case](
      // r14: distinct-score collapse + bucket-partitioned rank windows
      "auc" -> (e => graft.ops.Stats.aucRoc(
        e.withColumn("label", (col("event_type") === "purchase").cast("int")),
        "value", "label")),
      // r14: one (bin × period) count; everything else on the B-row frame
      "psi" -> (e => graft.ops.Stats.psi(e, "value",
        col("ts") < lit(1705363200000000000L), bins = 10)),
      // r14: one contingency aggregate + broadcast margins
      "chi2" -> (e => graft.ops.Stats.chi2Independence(
        e.withColumn("dow", expr("(ts div 86400000000000L + 4) % 7")),
        "event_type", "dow")),
      // r14: one distinct-user aggregate to a single row
      "srm" -> (e => graft.ops.Events.srmCheck(e)),
      // r14: day-frame collapse + RANGE sufficient-stat windows
      "rolling_corr" -> (e => graft.ops.Events.rollingCorr(
        e, "click", "purchase", windowDays = 28, minDays = 7)),
      // r14: one user agg (metric + first-event min_by) + segment fold
      "ab_lift_by" -> (e => graft.ops.Events.abLiftBy(e, "event_type")),
      // r14: user collapse -> duration frame -> ordered ln-sum windows
      "survival" -> (e => {
        val d = graft.ops.EventTime.normalizeTs(e)
          .select(col("user_id"), expr("ts div 86400000000000L").as("day"),
            col("event_type"))
        val mx = d.agg(max(col("day")).as("mx"))
        val u = d.groupBy(col("user_id")).agg(min(col("day")).as("fd"),
          min(when(col("event_type") === "purchase", col("day"))).as("fp"))
        graft.ops.Stats.kaplanMeier(
          u.crossJoin(broadcast(mx)).select(
            when(col("fp").isNotNull, col("fp") - col("fd"))
              .otherwise(col("mx") - col("fd")).as("duration"),
            when(col("fp").isNotNull, lit(1)).otherwise(lit(0)).as("event")),
          "duration", "event")
      }),
      // r14: (type, day) collapse + bounded array windows
      "anomaly_bands" -> (e => graft.ops.Events.anomalyBands(e, 3.0, 14, 7)),
      // r14: user first-day agg + user equi-join + (cohort, age) frame
      "cohort_ltv" -> (e => graft.ops.Events.cohortLtv(e, "purchase", 28)),
      "sessionize" -> (e => graft.ops.Events.sessionize(e))) ++
      ProbeSupport.eventJoinCases ++ Seq[ProbeSupport.Case](
      // r13: one user exchange for lag + rank + agg
      "interarrival" -> (e => graft.ops.Events.interArrival(e)),
      // r13: maxSteps cut BEFORE collection is what 10× users exercises
      "top_paths" -> (e => graft.ops.Events.topPaths(e)),
      // r13: O(maxSteps) aggregate state per session under native
      // session_window — wall should track events, never session size
      "session_paths" -> (e => graft.ops.Events.sessionPaths(e)),
      // r13: map-side day collapse then RANGE frames on the compact
      // per-user-day frame — wall tracks the collapse, not the frames
      "feature_windows" -> (e => graft.ops.Events.featureWindows(e)),
      // r13: category aggregate + one-row prior broadcast + join back
      "target_encode" -> (e => graft.ops.Stats.targetEncode(
        e, "event_id", "event_type", "value", 10.0)),
      // r13: one user shuffle + an 18-column single-row fold
      "ab_cuped" -> (e => graft.ops.Events.abCuped(e, 1705363200000000L)),
      // r13: (type, day) collapse + shifted self-join — near-flat
      "seasonal_error" -> (e => graft.ops.Events.seasonalError(e)),
      // r13: distinct (session, type) reduction bounds the pair join
      "session_cooccur" -> (e => graft.ops.Events.sessionCooccurrence(e)),
      // r13: one user shuffle + single-row folds
      "diff_in_diff" -> (e => graft.ops.Events.diffInDiff(e, 1705363200000000L)),
      "ab_conversion" -> (e => graft.ops.Events.abConversion(e, "purchase")),
      // r13: session-frame collapse then day counts
      "bounce_rate" -> (e => graft.ops.Events.bounceRate(e)),
      // r13: 28-way day explode of the (user, day) distinct frame
      "stickiness" -> (e => graft.ops.Events.stickiness(e)),
      // r13: merged day partials + left-semi touched-user window
      "feature_incremental" -> (e => {
        val cutNs = 1705363200000000000L
        val n = graft.ops.EventTime.normalizeTs(e)
        graft.ops.Events.featureWindowsIncremental(
          graft.ops.Events.featureDayFrame(n.filter(col("ts") < cutNs)),
          n.filter(col("ts") >= cutNs))
      }),
      "level_shift" -> (e => graft.ops.Events.levelShift(e)),
      // r13: count shuffle + distinct-count-value fold — with 10× USERS
      // the tiny value frame is the only serial piece
      "concentration" -> (e => graft.ops.Stats.concentration(e, "user_id")))
    val embCases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "embed_clusters" -> (e =>
        // the collapsed pipeline (the uncollapsed form measured 32× wall
        // at 10×: SRP pairs grow ~m² in duplicate multiplicity)
        Dedup.embedClustersCollapsed(
          graft.ops.Similarity.prepared(e, "vec_id", "embedding"), 0.4, 64, 4, 64)),
      // r13: fixed query set against a 10× candidate corpus — wall
      // should track the corpus scan, not queries × corpus²
      "margin_mine" -> (e => graft.ops.Similarity.marginMine(
        graft.ops.Similarity.prepared(e, "vec_id", "embedding"),
        col("vec_id") < 10, 0.0)),
      // r14: one O(d²)-state aggregate pass, one result row
      "embed_cov" -> (e => graft.ops.Similarity.embedCovariance(
        e, "embedding")),
      // r14: per-row projection kernel, no shuffle
      "project" -> (e => graft.ops.Similarity.randomProject(
        e, "embedding", dim = 64, outDim = 16)),
      // r14: SRP-bucket equi-join, even ids query the odd half
      "ann_join" -> (e => {
        val all = graft.ops.Similarity.prepared(e, "vec_id", "embedding")
        graft.ops.Similarity.annJoin(
          all.filter(col("vec_id") % 2 === 0),
          all.filter(col("vec_id") % 2 === 1),
          planes = 8, dim = 64, minCos = 0.1, k = 3)
      }))

    // warmup
    noop(li1.groupBy(col("l_returnflag")).count())
    for (round <- 1 to 2) {
      println(s"[scale] -- round $round --")
      val ratios = (keep(cases).map { case (name, q) =>
        val t1 = time(s"$name 1x")(noop(q(li1)))
        val t10 = time(s"$name 10x")(noop(q(li10)))
        name -> t10 / t1
      } ++ keep(docCases).map { case (name, q) =>
        val t1 = time(s"$name 1x")(noop(q(docs1)))
        val t10 = time(s"$name 10x")(noop(q(docs10)))
        name -> t10 / t1
      } ++ keep(eventCases).map { case (name, q) =>
        val t1 = time(s"$name 1x")(noop(q(ev1)))
        val t10 = time(s"$name 10x")(noop(q(ev10)))
        name -> t10 / t1
      } ++ keep(pairCases).map { case (name, q) =>
        val n1 = q(docs1).count()
        val t1 = time(s"$name 1x")(noop(q(docs1)))
        val n10 = q(docs10).count()
        val t10 = time(s"$name 10x")(noop(q(docs10)))
        println(f"[scale] $name%-28s pairs 1x=$n1 10x=$n10 " +
          f"(output-ratio ${n10.toDouble / math.max(1, n1)}%5.2f×)")
        name -> t10 / t1
      } ++ keep(embCases).map { case (name, q) =>
        val n1 = q(emb1).count()
        val t1 = time(s"$name 1x")(noop(q(emb1)))
        val n10 = q(emb10).count()
        val t10 = time(s"$name 10x")(noop(q(emb10)))
        println(f"[scale] $name%-28s rows 1x=$n1 10x=$n10")
        name -> t10 / t1
      })
      ratios.foreach { case (n, r) => println(f"[scale] ratio $n%-20s ${r}%5.2f×") }
    }
    spark.stop()
  }
}
