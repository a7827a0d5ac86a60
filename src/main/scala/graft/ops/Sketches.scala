package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic sketching for corpus-scale statistics: KMV (k-minimum
 * values) distinct-count estimation and a count-min sketch for heavy
 * hitters.
 *
 * Both sketches are built on md5 (identical hex in every engine), so a
 * sketch computed by Spark, DuckDB or any other engine over the same data
 * is bit-identical — sketches become portable artifacts: a 100 TB job can
 * build them once and any downstream system can merge or query them.
 *
 * Scale shape:
 *  - KMV: `distinct` on the 4-byte hash (map-side partial), then a global
 *    top-k via sort-limit — Spark plans TakeOrderedAndProject (per
 *    partition top-k, driver merges k·numPartitions values, never a full
 *    sort). State is k longs.
 *  - CMS: the sketch is a (depth × width) grid of counters built with ONE
 *    map-side-combinable aggregation over (row, bucket) pairs; point
 *    queries join against the grid. The grid size is fixed (d·w counters)
 *    regardless of corpus size — it IS broadcastable by construction.
 */
object Sketches {

  /** first-8-hex-chars of md5(s) as an unsigned 32-bit value in a long —
    * the portable uniform hash used across the library. */
  private[ops] def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /**
   * KMV distinct-count estimate of `valueCol`: keep the k smallest
   * distinct 32-bit hash values; if the k-th smallest is `m` (hashes
   * uniform on [0, 2^32)), the estimated distinct count is
   * (k-1) · 2^32 / m. When fewer than k distinct hashes exist the count
   * is exact. Returns one row: (sample_k, kth_hash, est_distinct).
   *
   * Error is ~1/sqrt(k) (k=256 → ~6%); the sketch itself is k longs, and
   * two KMV sketches union by merging their value sets — the reason this
   * beats exact countDistinct at 100 TB, where the exact distinct set
   * (billions of tokens) no longer fits anywhere.
   */
  def kmvDistinct(df: DataFrame, valueCol: String, k: Int = 256): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val kmin = df
      .select(h32(col(valueCol)).as("h"))
      .distinct()
      .orderBy(col("h").asc)
      .limit(k)
    kmin.agg(
      count(lit(1)).as("sample_k"),
      max(col("h")).as("kth_hash"),
      round(
        when(count(lit(1)) < k, count(lit(1)).cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) / max(col("h")).cast("double")),
        6).as("est_distinct"))
  }

  /**
   * Count-min sketch over a pre-aggregated `(term, cnt)` frame: `depth`
   * independent hash rows, each mapping a term to one of `width` buckets
   * via md5(j ‖ ':' ‖ term); the sketch counter is the sum of counts in
   * the bucket. Returns (j, bucket, c) — the distributed representation
   * of the d×w counter grid.
   */
  def cmsSketch(termCounts: DataFrame, termCol: String, cntCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad cms dims d=$depth w=$width")
    termCounts
      .select(col(termCol).as("term"), col(cntCol).as("cnt"),
        explode(array((0 until depth).map(j => lit(j)): _*)).as("j"))
      .withColumn("bucket",
        pmod(h32(concat(col("j").cast("string"), lit(":"), col("term"))), lit(width.toLong)))
      .groupBy(col("j"), col("bucket"))
      .agg(sum(col("cnt")).as("c"))
  }

  /** The fixed-grid bin of `__v`, clamped to [0, nbins) in the INTEGER
    * domain: Spark's floor(double) is already a long while DuckDB's floor
    * stays double — comparing after the cast keeps both engines in exact
    * integer arithmetic. */
  private def sketchBin(lo: Double, w: Double, nbins: Int): Column =
    least(greatest(floor((col("__v") - lit(lo)) / lit(w)), lit(0L)),
      lit((nbins - 1).toLong)).as("bin")

  /** One aggregate per requested quantile over (bin, c, cum, n) rows —
    * the interpolation est = lo + w·(bin + (t − cumBefore)/c) at the
    * first bin whose cumulative count exceeds the target rank
    * t = (n−1)·p: min_by over the qualifying suffix (null ordering
    * values skipped). */
  private def quantileEstimates(ps: Seq[(String, Double)], lo: Double,
      w: Double): Seq[Column] =
    ps.map { case (name, p) =>
      val t = (col("n") - 1).cast("double") * lit(p)
      val cumBefore = (col("cum") - col("c")).cast("double")
      val est = lit(lo) + lit(w) *
        (col("bin").cast("double") + (t - cumBefore) / col("c").cast("double"))
      graft.functions.GraftFunctions.min_by(
        round(est, 6), when(col("cum").cast("double") > t, col("bin"))).as(name)
    }

  /**
   * Mergeable fixed-bin quantile sketch: bucket values into `nbins`
   * equal-width bins over [lo, hi) (out-of-range values clamp into the
   * edge bins), then estimate each requested quantile by linear
   * interpolation inside the bin that straddles the target rank
   * t = (n−1)·p: est = lo + w·(bin + (t − cumBefore)/binCount).
   *
   * Scale shape vs [[Stats.percentileExact]]: the exact form range-sorts
   * every group member; this sketch is ONE combinable aggregation to
   * `nbins` counters (map-side partial, O(nbins) state — merge two
   * sketches by summing counters), a bounded-size frame that a single
   * task finishes. Error is bounded by the bin width w = (hi−lo)/nbins.
   * All arithmetic is integral counts + literal doubles in a fixed
   * operation order — bit-replayable in any engine.
   *
   * Returns one row: (n, <name> per requested quantile).
   */
  def quantileSketch(df: DataFrame, valueCol: String, lo: Double, hi: Double,
      nbins: Int, ps: Seq[(String, Double)]): DataFrame = {
    require(nbins >= 2 && hi > lo, s"bad sketch dims [$lo,$hi)/$nbins")
    require(ps.nonEmpty, "at least one quantile required")
    val w = (hi - lo) / nbins
    // null/NaN are not quantile-rankable: greatest(null,0) would drop a
    // null into bin 0 and NaN (> every double) would clamp into the top
    // bin — both also inflating n and skewing every estimate. Filter
    // once; n below comes from the SAME filtered frame.
    val clean = df
      .select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
    val bins = clean
      .select(sketchBin(lo, w, nbins))
      .groupBy(col("bin")).agg(count(lit(1)).as("c"))
    // nbins rows by construction → the unpartitioned running-sum window
    // and the final single-row aggregate are bounded regardless of input
    // size (the one case where a global window is scale-safe)
    val cum = bins
      .withColumn("cum",
        sum(col("c")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("bin"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(clean.agg(count(lit(1)).as("n"))))
    val aggs = quantileEstimates(ps, lo, w)
    cum.groupBy(col("n")).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Per-group [[quantileSketch]]: the same mergeable fixed-bin sketch,
   * keyed. The bin aggregation shuffles (key, bin) partials (map-side
   * combinable, ≤ nbins rows per group); the running-sum window is
   * PARTITIONED by key — never a global sort — and the per-group n rides
   * in on a key equi-join of a groups×1-row frame. At 100 TB with any
   * realistic group count this is two bounded shuffles; contrast
   * [[graft.ops.Stats.percentileExact]], which ranks every raw row.
   */
  def quantileSketchGrouped(df: DataFrame, keys: Seq[String], valueCol: String,
      lo: Double, hi: Double, nbins: Int, ps: Seq[(String, Double)]): DataFrame = {
    require(nbins >= 2 && hi > lo, s"bad sketch dims [$lo,$hi)/$nbins")
    require(ps.nonEmpty, "at least one quantile required")
    require(keys.nonEmpty, "use quantileSketch for the ungrouped form")
    val w = (hi - lo) / nbins
    val keyCols = keys.map(col)
    val clean = df
      .select((keyCols :+ col(valueCol).cast("double").as("__v")): _*)
      .filter(col("__v").isNotNull && !isnan(col("__v")))
    val bins = clean
      .select((keyCols :+ sketchBin(lo, w, nbins)): _*)
      .groupBy((keyCols :+ col("bin")): _*).agg(count(lit(1)).as("c"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols: _*).orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = bins
      .withColumn("cum", sum(col("c")).over(wk))
      .join(clean.groupBy(keyCols: _*).agg(count(lit(1)).as("n")), keys)
    val aggs = quantileEstimates(ps, lo, w)
    cum.groupBy((keyCols :+ col("n")): _*).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Point-query the CMS grid for each row of `items(termCol)`: the
   * estimate is min_j grid(j, bucket_j(term)) — always ≥ the true count
   * (counters only over-count on collisions). The grid side is d·w rows
   * independent of data size, so AQE broadcast-joins it.
   */
  def cmsEstimate(items: DataFrame, sketch: DataFrame, termCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    val probes = items
      .withColumn("j", explode(array((0 until depth).map(j => lit(j)): _*)))
      .withColumn("bucket",
        pmod(h32(concat(col("j").cast("string"), lit(":"), col(termCol))), lit(width.toLong)))
    probes
      .join(sketch, Seq("j", "bucket"))
      .groupBy(items.columns.map(col): _*)
      .agg(min(col("c")).as("est_cnt"))
  }

  /**
   * Join-size estimation from two count-min sketches (the classic CMS
   * inner-product bound): |A ⋈_key B| = Σ_k fA(k)·fB(k), and for each
   * sketch row j, Σ_bucket cA(j,b)·cB(j,b) over-estimates it (collisions
   * only ADD mass), so the min over rows is an upper bound that a query
   * planner can read without ever joining the data. Exact join size runs
   * alongside as the audit.
   *
   * Scale shape: each side collapses to its per-key counts (map-side
   * combinable), each sketch is a fixed d×w grid regardless of input
   * size, and the estimate is a d×w-row join — at 100 TB the two grids
   * are portable KB-scale artifacts built in one pass each. Returns one
   * row: (est_join_size ≥ exact_join_size, exact_join_size, rel_err).
   */
  def cmsJoinSize(a: DataFrame, b: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    def counts(df: DataFrame) = df
      .select(col(keyCol).cast("string").as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val (ta, tb) = (counts(a), counts(b))
    val sa = cmsSketch(ta, "term", "cnt", depth, width)
    val sb = cmsSketch(tb, "term", "cnt", depth, width)
    val est = sa.select(col("j"), col("bucket"), col("c").as("ca"))
      .join(sb.select(col("j"), col("bucket"), col("c").as("cb")), Seq("j", "bucket"))
      .groupBy(col("j")).agg(sum(col("ca") * col("cb")).as("ip"))
      .agg(min(col("ip")).as("est_join_size"))
    val exact = ta.join(tb.select(col("term"), col("cnt").as("cnt_b")), "term")
      .agg(sum(col("cnt") * col("cnt_b")).as("exact_join_size"))
    est.crossJoin(broadcast(exact)) // both sides are 1 row
      .select(col("est_join_size"), col("exact_join_size"),
        round((col("est_join_size") - col("exact_join_size")).cast("double") /
          col("exact_join_size").cast("double"), 6).as("rel_err"))
  }

  /**
   * AMS "tug-of-war" second-frequency-moment (F2 = Σ_k f_k²) sketch —
   * the classic Alon–Matias–Szegedy estimator for self-join size and
   * key-skew: each of `counters` independent counters sums a ±1 sign per
   * ROW (sign j = bit j of md5(key), so one digest serves all counters),
   * and E[S_j²] = F2; the estimate averages the squared counters.
   *
   * Scale shape: ONE map-side-combinable aggregation to `counters` longs
   * of state — F2 of a 100 TB key column costs a single narrow pass, no
   * per-key frame ever exists (contrast the exact form's full groupBy).
   * Joint with the exact audit (groupBy + Σf², the gate-scale truth) in
   * one output row: (est_f2, exact_f2, rel_err).
   *
   * md5-derived signs make the sketch bit-identical in every engine.
   * Variance of the averaged estimator is 2·F2²/counters, so rel_err is
   * typically ≲ sqrt(2/counters) (~35% at 16) — a planning signal (skew /
   * join-size triage), not an exact statistic.
   */
  def amsF2(df: DataFrame, keyCol: String, counters: Int = 16): DataFrame = {
    require(counters >= 1 && counters <= 16, s"counters must be in [1,16], got $counters")
    // first 4 hex chars of md5(key) = 16 independent sign bits
    val h16 = conv(substring(md5(col(keyCol).cast("string")), 1, 4), 16, 10).cast("long")
    val signSums = (0 until counters).map { j =>
      sum(when(shiftright(col("h16"), j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"s$j")
    }
    val est = df.select(h16.as("h16"))
      .agg(signSums.head, signSums.tail: _*)
      .select((((0 until counters).map(j => col(s"s$j") * col(s"s$j")).reduce(_ + _))
        .cast("double") / lit(counters.toDouble)).as("est_f2"))
    val exact = df.groupBy(col(keyCol)).agg(count(lit(1)).as("f"))
      .agg(sum(col("f") * col("f")).as("exact_f2"))
    est.crossJoin(broadcast(exact)) // both sides are 1 row
      .select(round(col("est_f2"), 6).as("est_f2"), col("exact_f2"),
        round(abs(col("est_f2") - col("exact_f2").cast("double")) /
          col("exact_f2").cast("double"), 6).as("rel_err"))
  }

  /**
   * Per-group [[amsF2]]: the same 16-sign-counter estimate keyed by
   * `groupCols` — the skew-triage view (WHICH partitions of the data
   * have self-join blowup). Still ONE combinable pass for the sketch
   * (16 longs per group) plus the exact audit join on the bounded
   * group key.
   */
  def amsF2Grouped(df: DataFrame, groupCols: Seq[String], keyCol: String,
      counters: Int = 16): DataFrame = {
    require(counters >= 1 && counters <= 16, s"counters must be in [1,16], got $counters")
    require(groupCols.nonEmpty, "use amsF2 for the ungrouped form")
    val gcols = groupCols.map(col)
    val h16 = conv(substring(md5(col(keyCol).cast("string")), 1, 4), 16, 10).cast("long")
    val signSums = (0 until counters).map { j =>
      sum(when(shiftright(col("h16"), j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"s$j")
    }
    val est = df.select((gcols :+ h16.as("h16")): _*)
      .groupBy(gcols: _*)
      .agg(signSums.head, signSums.tail: _*)
      .select((gcols :+ (((0 until counters).map(j => col(s"s$j") * col(s"s$j")).reduce(_ + _))
        .cast("double") / lit(counters.toDouble)).as("est_f2")): _*)
    val exact = df.groupBy((gcols :+ col(keyCol)): _*).agg(count(lit(1)).as("f"))
      .groupBy(gcols: _*).agg(sum(col("f") * col("f")).as("exact_f2"))
    est.join(exact, groupCols)
      .select((gcols ++ Seq(round(col("est_f2"), 6).as("est_f2"), col("exact_f2"),
        round(abs(col("est_f2") - col("exact_f2").cast("double")) /
          col("exact_f2").cast("double"), 6).as("rel_err"))): _*)
  }

  /**
   * KMV set-overlap estimate between two value sets A and B (e.g. the
   * token vocabularies of two corpus sources): keep the k smallest
   * distinct hashes of A∪B; the fraction of those present in BOTH sides
   * is an unbiased Jaccard estimate (the k-min set is a uniform sample
   * of the union). Exact Jaccard from the same membership frame rides
   * along as the accuracy audit.
   *
   * Scale shape: each side reduces to its distinct 32-bit hash set
   * (map-side partial), the union groupBy is ONE shuffle of (hash, flag)
   * pairs shared by the estimate AND the exact audit (ReusedExchange),
   * and the k-min cut is a TakeOrderedAndProject — per-partition top-k,
   * never a global sort. At 100 TB one would drop the exact branch and
   * pre-cut each side to its own k-min (a KMV sketch union), making the
   * comparison a k-row merge of two portable sketches.
   *
   * Returns one row:
   * (k_used, k_both, n_union, n_both, est_jaccard, exact_jaccard).
   */
  def kmvOverlap(a: DataFrame, b: DataFrame, valueCol: String, k: Int = 256): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val ha = a.select(h32(col(valueCol)).as("h")).distinct()
      .select(col("h"), lit(1L).as("in_a"), lit(0L).as("in_b"))
    val hb = b.select(h32(col(valueCol)).as("h")).distinct()
      .select(col("h"), lit(0L).as("in_a"), lit(1L).as("in_b"))
    val u = ha.unionByName(hb).groupBy(col("h"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val exact = u.agg(count(lit(1)).as("n_union"),
      sum(col("in_a") * col("in_b")).as("n_both"))
    val est = u.orderBy(col("h").asc).limit(k)
      .agg(count(lit(1)).as("k_used"), sum(col("in_a") * col("in_b")).as("k_both"))
    est.crossJoin(broadcast(exact)) // both sides are 1 row
      .select(col("k_used"), col("k_both"), col("n_union"), col("n_both"),
        round(col("k_both").cast("double") / col("k_used").cast("double"), 6)
          .as("est_jaccard"),
        round(col("n_both").cast("double") / col("n_union").cast("double"), 6)
          .as("exact_jaccard"))
  }

  /**
   * Rolling trailing-window quantiles over a day-keyed value stream —
   * the quantile sibling of [[graft.ops.Events.rollingDistinctUsersHll]]:
   * per-day fixed-grid bin counts (ONE pass over the events), each day's
   * bins contribute to `windowDays` trailing target days, merged by
   * integer sum, then the [[quantileSketchGrouped]] interpolation per
   * day. After the first per-(day, bin) aggregate everything is bounded
   * by calendar × grid (days · nbins · window rows) — at 100 TB the
   * events are touched once, map-side-combined into ≤ nbins rows per
   * day; rolling p95 latency without re-scanning a week of raw data
   * per day. Days with no own activity are dropped (same rule as the
   * rolling DAU/WAU).
   */
  def rollingQuantileSketch(events: DataFrame, valueCol: String,
      windowDays: Int, lo: Double, hi: Double, nbins: Int,
      ps: Seq[(String, Double)]): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    require(nbins >= 2 && hi > lo, s"bad sketch dims [$lo,$hi)/$nbins")
    require(ps.nonEmpty, "at least one quantile required")
    val w = (hi - lo) / nbins
    val clean = EventTime.normalizeTs(events)
      .select(expr("ts div 86400000000000L").as("day"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
    val binned = clean
      .select(col("day"), sketchBin(lo, w, nbins))
      .groupBy(col("day"), col("bin")).agg(count(lit(1)).as("c"))
    val days = binned.select(col("day")).distinct()
    val merged = binned
      .select(col("day"), col("bin"), col("c"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("off"))
      .select((col("day") + col("off")).as("day"), col("bin"), col("c"))
      .join(days, "day")
      .groupBy(col("day"), col("bin")).agg(sum(col("c")).as("c"))
    val wd = org.apache.spark.sql.expressions.Window.partitionBy(col("day"))
    val cum = merged
      .withColumn("cum", sum(col("c")).over(wd.orderBy(col("bin"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("c")).over(wd))
    val aggs = quantileEstimates(ps, lo, w)
    cum.groupBy(col("day"), col("n")).agg(aggs.head, aggs.tail: _*)
  }
}
