package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Distribution statistics beyond the reference's moment aggregates:
 * exact interpolated percentiles computed by RANK, not by a sketch.
 *
 * The formula is the standard linear-interpolation quantile (DuckDB
 * `quantile_cont`, Postgres `percentile_cont`): for percentile p over n
 * sorted values, target rank t = (n-1)·p, result =
 * v[floor(t)] + (t - floor(t)) · (v[ceil(t)] - v[floor(t)]).
 *
 * Implemented as row_number + a filter to the two straddling ranks —
 * never a per-group array materialization (Spark's builtin `percentile`
 * collects each group's values into memory; this form keeps state at
 * O(1) per group past the sort). The sort is a window over the group
 * key: at 100 TB with few groups, per-group data must range-partition —
 * that is exactly what the window exchange does; with MANY groups it
 * hash-partitions and each reducer sorts locally. Interpolation
 * arithmetic is written with the identical operation order as the
 * oracle so doubles match bit-for-bit.
 */
object Stats {

  /** NULL-SAFE broadcast equi-join on named keys (the
    * budgetSelectScored lesson: groupBy keeps a null-key segment on
    * both sides, so a null-unsafe join would silently drop exactly
    * those rows). EqualNullSafe is still an equi-key: the join stays
    * hash/broadcast. The right side's key columns are dropped. */
  private[ops] def nullSafeJoin(left: DataFrame, right: DataFrame,
      onKeys: Seq[String]): DataFrame = {
    val renamed = onKeys.foldLeft(right)((d, k) =>
      d.withColumnRenamed(k, s"__r_$k"))
    val cond = onKeys.map(k => col(k) <=> col(s"__r_$k")).reduce(_ && _)
    left.join(broadcast(renamed), cond)
      .drop(onKeys.map(k => s"__r_$k"): _*)
  }

  /**
   * Exact percentiles per group: one output column per requested p,
   * named `p<percent>` (p50, p95, …), rounded to 6 dp.
   *
   * PRECONDITION: `valueCol` must be non-null, non-NaN. Spark's window
   * sort places NULLs FIRST while the DuckDB/Postgres quantile family
   * ignores them (and sorts NaN last) — ranking a nullable column here
   * would silently shift every target rank. Callers own the filter
   * (see [[winsorizedMean]]); it is not applied here so already-clean
   * pipelines don't pay a redundant predicate.
   */
  def percentileExact(df: DataFrame, keys: Seq[String], valueCol: String,
      ps: Seq[(String, Double)]): DataFrame = {
    val keyCols = keys.map(col)
    val w = Window.partitionBy(keyCols: _*)
    val ranked = df
      .select((keyCols :+ col(valueCol).cast("double").as("__v")): _*)
      .withColumn("__rn", row_number().over(w.orderBy(col("__v").asc)) - 1)
      .withColumn("__n", count(lit(1)).over(w))
    // a row is kept iff it straddles one of the requested target ranks
    val targets = ps.map { case (_, p) => (col("__n") - 1).cast("double") * lit(p) }
    val needed = targets
      .map(t => col("__rn") === floor(t) || col("__rn") === ceil(t))
      .reduce(_ || _)
    // __n is constant within a group → group by it too, so the target
    // rank stays a plain grouping-column expression inside the agg
    val aggs = ps.zip(targets).map { case ((name, _), t) =>
      val vLo = max(when(col("__rn") === floor(t), col("__v")))
      val vHi = max(when(col("__rn") === ceil(t), col("__v")))
      // identical operation order to the oracle SQL: lo + d * (hi - lo)
      round(vLo + (t - floor(t).cast("double")) * (vHi - vLo), 6).as(name)
    }
    ranked
      .filter(needed)
      .groupBy((keyCols :+ col("__n")): _*)
      .agg(aggs.head, aggs.tail: _*)
      .drop("__n")
  }

  /**
   * WEIGHTED exact percentiles per group — the corpus-accounting form
   * of [[percentileExact]]: "the doc-length p50 weighted by TOKENS"
   * weights each row by its mass, so a million tiny docs can't
   * dominate the statistic the way they dominate the row count. Uses
   * the lower-cumulative-weight definition (smallest v whose
   * cumulative weight reaches p·W — a step function, no
   * interpolation), which with INTEGER weights is fully deterministic
   * and engine-replayable. Ties are handled by a RANGE frame (all
   * rows of equal value share one cumulative weight — intra-tie order
   * cannot matter, so neither can partitioning). One group-keyed
   * window + one map-side-combinable min aggregation.
   *
   * PRECONDITION (as [[percentileExact]]): non-null, non-NaN values;
   * weights non-null and ≥ 0 integers.
   */
  def percentileWeighted(df: DataFrame, keys: Seq[String], valueCol: String,
      weightCol: String, ps: Seq[(String, Double)]): DataFrame = {
    val keyCols = keys.map(col)
    val w = Window.partitionBy(keyCols: _*).orderBy(col("__v"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.partitionBy(keyCols: _*)
    val ranked = df
      .select((keyCols :+ col(valueCol).cast("double").as("__v") :+
        col(weightCol).cast("long").as("__w")): _*)
      .withColumn("__cw", sum(col("__w")).over(w))
      .withColumn("__tw", sum(col("__w")).over(full))
    val aggs = ps.map { case (name, p) =>
      round(min(when(col("__cw").cast("double") >=
        lit(p) * col("__tw").cast("double"), col("__v"))), 6).as(name)
    }
    ranked.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Robust center/spread/outliers per group — median, MAD (median
   * absolute deviation), and the count of |x − med| > 3·MAD outliers.
   * The robust complement of the moment aggregates: one wild value
   * moves mean/stddev arbitrarily but shifts med/MAD by at most one
   * rank, so the outlier threshold itself is outlier-proof (z-scores
   * mask exactly the extremes that inflate their own σ).
   *
   * Two [[percentileExact]] passes (value, then absolute deviation from
   * the joined median) + one counting aggregation; each pass is a
   * group-keyed window sort, the per-group medians broadcast back by
   * AQE. The median is rounded to 6 dp BEFORE deviations (mirrored in
   * the oracle) so every downstream double is engine-identical.
   */
  def madRobust(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    val keyCols = keys.map(col)
    // [[percentileExact]] precondition: rank only non-null, non-NaN rows
    val clean = df.filter(col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")))
    // ONE exchange for the whole operator. The deviation ranks depend on
    // the median, so two SORTS are inherent — but not two shuffles: the
    // median comes from a window-max over the straddle rows of the
    // value sort (not an aggregate + join back, which re-scanned the
    // input 4× and duplicated the median subtree on both sides of a
    // sort-merge join), the deviation re-sort stays inside the same
    // hash-partitioning, and the final aggregate is partition-local.
    // Interpolation op order matches percentileExact / the oracle
    // exactly: lo + (t - floor(t)) · (hi - lo), rounded to 6 dp.
    val w = Window.partitionBy(keyCols: _*)
    val staged = clean
      .select((keyCols :+ col(valueCol).cast("double").as("__x")): _*)
      .withColumn("__rn", row_number().over(w.orderBy(col("__x").asc)) - 1)
      .withColumn("__n", count(lit(1)).over(w))
    val t = (col("__n") - 1).cast("double") * lit(0.5)
    def interp(rankCol: Column, v: Column): Column = {
      val lo = max(when(rankCol === floor(t), v)).over(w)
      val hi = max(when(rankCol === ceil(t), v)).over(w)
      round(lo + (t - floor(t).cast("double")) * (hi - lo), 6)
    }
    val withMed = staged
      .withColumn("med", interp(col("__rn"), col("__x")))
      .withColumn("__adev", abs(col("__x") - col("med")))
    val withMad = withMed
      .withColumn("__rn2", row_number().over(w.orderBy(col("__adev").asc)) - 1)
      .withColumn("mad", interp(col("__rn2"), col("__adev")))
    withMad
      .groupBy(keyCols: _*)
      .agg(
        max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        count(lit(1)).as("n"),
        sum(when(col("__adev") > lit(3.0) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
  }

  /**
   * Winsorized mean per group: values are CLAMPED into the
   * [p_lo, p_hi] exact-percentile band before averaging (vs trimming,
   * which drops them — winsorizing keeps n stable). The robust-location
   * estimator that, unlike [[madRobust]]'s median, still uses every
   * row's magnitude.
   *
   * Exactness: the clamp bounds are the 6-dp-rounded interpolated
   * percentiles (engine-identical by [[percentileExact]]'s op-order
   * rule); each clamped value is integer-micro-rounded BEFORE the sum,
   * so the mean is an exact long sum divided once — order-free under
   * any partitioning. One percentile pass + one joined aggregation;
   * the per-group bounds frame is bounded by the group count (AQE
   * broadcasts it).
   */
  def winsorizedMean(df: DataFrame, keys: Seq[String], valueCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"bad band [$pLo,$pHi]")
    val keyCols = keys.map(col)
    // null/NaN rows are excluded EVERYWHERE: unfiltered, n counted them
    // while sum(clampedMicro) skipped them (deflating the mean), and
    // Spark's nulls-first ranking would shift the percentile band vs the
    // oracle's nulls-ignored quantile — the [[percentileExact]]
    // precondition. Same rule as quantileSketch.
    val clean = df.filter(col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")))
    val bounds = percentileExact(clean, keys, valueCol, Seq("lo" -> pLo, "hi" -> pHi))
    val clampedMicro = round(
      least(greatest(col(valueCol).cast("double"), col("lo")), col("hi")) * 1e6)
      .cast("long")
    clean.select((keyCols :+ col(valueCol)): _*)
      .join(bounds, keys)
      .groupBy(keyCols: _*)
      .agg(
        count(lit(1)).as("n"),
        max(col("lo")).as("p_lo"),
        max(col("hi")).as("p_hi"),
        round(sum(clampedMicro).cast("double") / count(lit(1)).cast("double") / 1e6, 6)
          .as("winsorized_mean"),
        sum(when(col(valueCol) < col("lo") || col(valueCol) > col("hi"), 1L)
          .otherwise(0L)).as("n_clamped"))
  }

  /**
   * HISTOGRAM-BASED percentile rank — the distributed form of
   * per-group score calibration ("this doc's quality is in its
   * source's top decile") that makes scores COMPARABLE across groups
   * with different distributions before mixing. Each row gets
   * `pct_below` = fraction of its group strictly below its value's
   * bin, at bin granularity over the fixed [lo, hi) range.
   *
   * This is deliberately NOT percent_rank(): an exact rank sorts each
   * whole group through one window partition — the serial-bottleneck
   * disease the bucketed budgetSelect/shardAssign rewrites cured. Here
   * the only ordered frame is the per-group BIN histogram (`bins`
   * rows, constant), the per-row cost is one equi join back on
   * (group, bin), and every count is an exact long — fully
   * distributed at any group size. Bin-granular ties are the price;
   * size `bins` to the resolution the downstream threshold needs.
   *
   * Rows with NULL values keep a NULL pct (left join). The bin
   * formula floor((v−lo)/(hi−lo)·bins), clamped to [0, bins), runs in
   * identical IEEE op order in the oracle, so boundary doubles land in
   * the same bin in every engine.
   */
  def histogramPercentile(df: DataFrame, keys: Seq[String], valueCol: String,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    require(hi > lo, s"need hi > lo, got [$lo, $hi]")
    val keyCols = keys.map(col)
    // greatest/least IGNORE nulls (they return the largest non-null), so
    // an unguarded clamp would quietly file every NULL value into bin 0
    // and hand it bin 0's pct — keep NULL null explicitly
    val bin = when(col(valueCol).isNull, lit(null))
      .otherwise(least(greatest(
        floor((col(valueCol) - lo) / (hi - lo) * bins), lit(0.0)),
        lit((bins - 1).toDouble)).cast("long"))
    val binned = df.withColumn("__bin", bin)
    val below = Window.partitionBy(keyCols: _*).orderBy(col("__bin").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val whole = Window.partitionBy(keyCols: _*)
    val cum = binned
      .groupBy((keyCols :+ col("__bin")): _*).agg(count(lit(1)).as("__m"))
      .withColumn("__below", coalesce(sum(col("__m")).over(below), lit(0L)))
      .withColumn("__n", sum(col("__m")).over(whole))
      .drop("__m")
    binned
      .join(cum, keys :+ "__bin", "left")
      .withColumn("pct_below",
        round(col("__below").cast("double") / col("__n").cast("double"), 6))
      .drop("__bin", "__below", "__n")
  }

  /**
   * CONCENTRATION profile of a key column: how unevenly the rows
   * distribute over keys — Gini coefficient of the per-key counts plus
   * top-1 / top-k shares. The "is 1% of users 90% of the traffic / one
   * source most of the corpus" diagnostic that decides salting and
   * sampling strategy before a big job runs.
   *
   * Gini via the rank identity G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx)
   * (x ascending, rank i 1..n) — but computed WITHOUT ranking keys:
   * tied values contribute a closed form, so group keys by their exact
   * count x (m_x keys share it), rank only the DISTINCT count values
   * (a frame bounded by the count-value arity, tiny next to the key
   * count), and fold Σᵢ i·xᵢ per value as x·m·(2a + m + 1) / 2 where a
   * = keys with smaller counts. Doubling the identity removes the /2,
   * keeping every term integral: S2 = Σ x·m·(2a+m+1) in decimal(38,0)
   * (n·T-scale products overflow a long at cluster scale), and
   * G = (S2 − (n+1)·T) / (n·T) divides once at the end. No global
   * key sort anywhere: one count shuffle, one tiny distinct-value
   * frame, one TakeOrdered(k) for the top-k share.
   *
   * Empty input → one row with n_keys 0 and NULL gini/shares (the
   * n·T = 0 divisions are guarded, never an ANSI throw).
   */
  def concentration(df: DataFrame, keyCol: String, topK: Int = 10): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val perKey = df.groupBy(col(keyCol)).agg(count(lit(1)).as("x"))
    val byVal = perKey.groupBy(col("x")).agg(count(lit(1)).as("m"))
    // the ONLY unpartitioned window, over the distinct-count frame —
    // bounded by count-value arity, not key count
    val w = Window.orderBy(col("x").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val folded = byVal
      .withColumn("a", coalesce(sum(col("m")).over(w), lit(0L)))
      .agg(
        sum(col("x").cast("decimal(38,0)") * col("m") *
          (lit(2L) * col("a") + col("m") + lit(1L))).as("s2"),
        sum(col("x") * col("m")).as("t"),
        sum(col("m")).as("n"))
    val top = perKey.orderBy(col("x").desc, col(keyCol).asc).limit(topK)
      .agg(sum(col("x")).as("topk_sum"), max(col("x")).as("top1"))
    folded.crossJoin(top)
      .select(
        coalesce(col("n"), lit(0L)).as("n_keys"),
        coalesce(col("t"), lit(0L)).as("n_rows"),
        round(when(col("n").isNull || col("t") === 0L, lit(null))
          .otherwise((col("s2").cast("double") -
            (col("n") + 1L).cast("double") * col("t").cast("double")) /
            (col("n").cast("double") * col("t").cast("double"))), 6).as("gini"),
        round(when(col("t") === 0L, lit(null))
          .otherwise(col("top1").cast("double") / col("t").cast("double")), 6)
          .as("top1_share"),
        round(when(col("t") === 0L, lit(null))
          .otherwise(col("topk_sum").cast("double") / col("t").cast("double")), 6)
          .as("topk_share"))
  }

  /**
   * K-ANONYMITY audit over quasi-identifier columns — the re-ID risk
   * diagnostic a privacy review asks for before a dataset ships: group
   * rows by the quasi-identifier tuple, then report how much of the
   * data lives in equivalence classes smaller than k (those rows are
   * the linkable ones — a class of 1 is a fingerprint). One map-side-
   * combinable aggregate over the quasi columns, then one global fold
   * of the |classes|-row frame; every output but the share is an exact
   * integer, and the share is one fixed-order double division.
   * Null quasi values group as their own class (SQL GROUP BY
   * semantics; a null is as linkable as any value).
   */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k must be >= 2, got $k")
    val classes = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
    classes.agg(
      sum(col("n")).as("n_rows"),
      count(lit(1)).as("n_classes"),
      sum(when(col("n") < k, col("n")).otherwise(0L)).as("rows_below_k"),
      min(col("n")).as("min_class"),
      max(col("n")).as("max_class"))
      .select(col("n_rows"), col("n_classes"), col("rows_below_k"),
        round(col("rows_below_k").cast("double") /
          col("n_rows").cast("double"), 6).as("share_below_k"),
        col("min_class"), col("max_class"))
  }

  /**
   * L-DIVERSITY audit — [[kAnonymity]]'s companion: k-anonymity alone
   * is defeated by a homogeneous class (20 indistinguishable rows that
   * all share the same sensitive value still leak it); this reports,
   * per quasi-identifier class, how many DISTINCT sensitive values it
   * carries, and the share of rows in classes with fewer than `l`.
   * Two map-side-combinable aggregates (distinct collapses inside the
   * first) + one global fold; exact integers + one fixed-order share.
   */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(l >= 2, s"l must be >= 2, got $l")
    val classes = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
    classes.agg(
      sum(col("n")).as("n_rows"),
      count(lit(1)).as("n_classes"),
      sum(when(col("n_sensitive") < l, col("n")).otherwise(0L))
        .as("rows_below_l"),
      min(col("n_sensitive")).as("min_diversity"))
      .select(col("n_rows"), col("n_classes"), col("rows_below_l"),
        round(col("rows_below_l").cast("double") /
          col("n_rows").cast("double"), 6).as("share_below_l"),
        col("min_diversity"))
  }

  /**
   * T-CLOSENESS audit (r18) — the third rung of the privacy-audit
   * ladder ([[kAnonymity]] → [[lDiversity]] → this): a class can be
   * k-anonymous AND l-diverse yet still leak because its sensitive
   * DISTRIBUTION differs sharply from the corpus-wide one (19 of 20
   * rows sharing one value tells an attacker plenty even with 2
   * distinct values present). Per quasi-identifier class: the total
   * variation distance 0.5·Σ_v |p_class(v) − p_global(v)| over the
   * FULL global sensitive domain (absent values contribute their
   * global mass). Computed integer-exact as
   * Σ_v |n_cv·N − n_v·n_c| / (2·n_c·N) — long numerators, one final
   * division, 6-dp round (exact while N·max class < 2^63, far above
   * any audit slice). The class×domain densify grid is bounded by
   * |classes|·|sensitive domain| — audit-scale by contract (a
   * sensitive column with unbounded cardinality belongs in
   * [[lDiversity]]'s count form, not a distribution distance).
   * Output: one row per class (quasi cols, n, t_dist) — classes with
   * t_dist above the policy threshold are the re-generalization
   * worklist.
   */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    val qs = quasiCols.map(col)
    val cv = df.groupBy(qs :+ col(sensitiveCol).as("__v"): _*)
      .agg(count(lit(1)).as("__ncv"))
    val classes = df.groupBy(qs: _*).agg(count(lit(1)).as("__nc"))
    val values = df.groupBy(col(sensitiveCol).as("__v"))
      .agg(count(lit(1)).as("__nv"))
    val totRow = df.agg(count(lit(1)).as("__n"))
    val grid = classes.crossJoin(values)
      .join(cv, quasiCols :+ "__v", "left")
      .withColumn("__ncv", coalesce(col("__ncv"), lit(0L)))
      .crossJoin(broadcast(totRow))
    grid
      .groupBy(qs :+ col("__nc").as("n") :+ col("__n").as("__nn"): _*)
      .agg(sum(abs(col("__ncv") * col("__n") - col("__nv") * col("__nc")))
        .as("__num"))
      .select(qs :+ col("n") :+
        round(col("__num").cast("double") /
          (lit(2.0) * col("n").cast("double") * col("__nn").cast("double")), 6)
          .as("t_dist"): _*)
  }

  /**
   * BENFORD first-digit audit — the fabricated-numbers smell test:
   * empirical first-significant-digit frequencies of a positive
   * numeric column vs Benford's log10(1 + 1/d) expectation, plus the
   * χ² statistic over the 9 digits. Digit extraction is string-exact
   * (first char of the integer-scaled magnitude — no float log10 on
   * the data path); counts are exact integers and the χ² is a 9-term
   * fixed-order double fold, so the result is engine-replayable.
   * Non-positive and null values are excluded by contract (Benford is
   * only defined on positive magnitudes).
   */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    // integer cents: exact first digit for money-scale columns — never
    // a float log10 on the data path
    val mag = round(col(valueCol) * 100).cast("long")
    val digits = df
      .filter(col(valueCol).isNotNull && mag > 0L)
      .select(substring(mag.cast("string"), 1, 1).cast("int").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n"))
    // ONE row carrying the digit-ordered (d, n) array: the integer total
    // is order-free; the χ² is a LEFT FOLD in digit order (a bag-order
    // double sum could flip a 6-dp boundary vs the oracle)
    val folded = digits
      .agg(sort_array(collect_list(struct(col("d"), col("n")))).as("dn"))
      .withColumn("t",
        expr("aggregate(transform(dn, x -> x.n), 0L, (a, x) -> a + x)"))
      .withColumn("chi2", round(expr(
        "aggregate(transform(dn, x -> " +
          "((CAST(x.n AS DOUBLE) - CAST(t AS DOUBLE) * log10(1.0 + 1.0 / x.d))" +
          " * (CAST(x.n AS DOUBLE) - CAST(t AS DOUBLE) * log10(1.0 + 1.0 / x.d)))" +
          " / (CAST(t AS DOUBLE) * log10(1.0 + 1.0 / x.d))), " +
          "0D, (a, x) -> a + x)"), 6))
    folded.select(col("t"), col("chi2"), explode(col("dn")).as("x"))
      .select(col("x.d").as("d"), col("x.n").as("n"),
        round(col("x.n").cast("double") / col("t").cast("double"), 6)
          .as("observed"),
        round(log10(lit(1.0) + lit(1.0) / col("x.d")), 6).as("expected"),
        col("chi2"))
  }

  /**
   * Leave-one-out TARGET ENCODING with additive smoothing — the
   * leakage-safe categorical feature (Micci-Barreca 2001): each row's
   * category is encoded as the smoothed mean target of the OTHER rows
   * in its category, enc = (S_cat − t_own + m·prior) / (n_cat − 1 + m),
   * prior = the global target mean, m = `priorStrength`. Leaving the
   * row's own target out is what makes the feature safe to train on
   * (the naive category mean leaks the label into its own row); the
   * smoothing pulls rare categories toward the prior (a singleton
   * category encodes exactly AS the prior when m > 0, and NULL when
   * m = 0 — there is no information to encode).
   *
   * Scale shape: one category aggregate (map-side combinable — the
   * category frame is |distinct categories|, not |rows|), one
   * single-row global aggregate cross-joined in (planner broadcasts
   * it), one equi-join back to the rows — no window, no per-category
   * sort, nothing keyed on the row count. Target sums are integral
   * micros, so S_cat − t_own is EXACT long arithmetic and the one
   * double division per row happens in a fixed order (engine-
   * replayable). Rows with a null category or null target are
   * excluded by contract (LOO is undefined for them and null join
   * keys drop on both engines anyway).
   */
  def targetEncode(df: DataFrame, idCol: String, catCol: String,
      targetCol: String, priorStrength: Double): DataFrame = {
    require(priorStrength >= 0,
      s"priorStrength must be >= 0, got $priorStrength")
    val e = df
      .filter(col(catCol).isNotNull && col(targetCol).isNotNull)
      .select(col(idCol), col(catCol),
        round(col(targetCol) * 1000000).cast("long").as("tmic"))
    val prior = e.agg(
      (sum(col("tmic")).cast("double") / count(lit(1))).as("prior"))
    val cats = e.groupBy(col(catCol))
      .agg(count(lit(1)).as("n_c"), sum(col("tmic")).as("s_c"))
    val den = (col("n_c") - 1L).cast("double") + lit(priorStrength)
    e.join(cats, catCol).crossJoin(prior)
      .select(col(idCol), col(catCol),
        round(when(den > 0,
          ((col("s_c") - col("tmic")).cast("double") +
            lit(priorStrength) * col("prior")) / den / lit(1e6))
          .otherwise(lit(null)), 6).as("enc"))
  }

  /**
   * Distributed exact ROC-AUC — the ranking-quality readout for a
   * scored binary label, computed as the Mann-Whitney U statistic
   * with the standard average-rank tie convention: AUC =
   * [Σ over positives of (negatives ranked strictly below + ½ ties)]
   * / (P·N). The doubled numerator 2U = Σ_s n_pos(s)·(2·negBelow(s) +
   * n_neg(s)) is an exact INTEGER (decimal(38,0) — P·N passes 10¹² at
   * petabyte row counts), so the whole statistic is one double
   * division at the end: engine-replayable to the bit.
   *
   * Scale shape (no global row sort anywhere — the [[percentileExact]]
   * straddle trick applied to rank sums): rows pre-aggregate to one
   * row per DISTINCT SCORE (map-side combinable), scores land in
   * `buckets` equal-width bins between the global min/max (one 1-row
   * broadcast agg), cumulative negatives fold over the bounded bucket
   * frame, and the within-bucket running sum is a window PARTITIONED
   * BY BUCKET — every sort partition holds ~|distinct scores|/buckets
   * keys, never the corpus. A continuous 100 TB score column shuffles
   * its distinct-value frame twice and its raw rows zero times beyond
   * the first aggregate.
   *
   * `labelCol` must be 0/1-coercible (boolean or numeric); rows with a
   * null score or label are excluded by contract. Degenerate inputs
   * (no positives, or no negatives) → NULL auc, never an ANSI throw.
   *
   * `keys` (optional) computes a SEGMENTED AUC — one row per key tuple
   * (per model, per cohort, per language): every stage partitions by
   * the keys as well, so segments rank independently and in parallel.
   * Key arity is bounded by contract (the per-key range frame
   * broadcasts); a null key groups as its own segment.
   */
  def aucRoc(df: DataFrame, scoreCol: String, labelCol: String,
      buckets: Int = 1024, keys: Seq[String] = Nil): DataFrame = {
    val keyCols = keys.map(col)
    val clean = df
      .filter(col(scoreCol).isNotNull && !isnan(col(scoreCol).cast("double")) &&
        col(labelCol).isNotNull)
      .select(keyCols :+ col(scoreCol).cast("double").as("__s") :+
        col(labelCol).cast("int").as("__y"): _*)
    // one row per distinct (keys, score): the only raw-row shuffle
    aucRocScored(clean.groupBy(keyCols :+ col("__s"): _*).agg(
      sum(when(col("__y") === 1, 1L).otherwise(0L)).as("__np"),
      sum(when(col("__y") === 0, 1L).otherwise(0L)).as("__nn")),
      buckets, keys)
  }

  /**
   * The rank machinery of [[aucRoc]] on a PRE-AGGREGATED per-score
   * frame with columns (keys..., __s double, __np long, __nn long).
   * This is the 100 TB entry point — the
   * [[graft.ops.TextOps.budgetSelectScored]] rule: the per-score frame
   * is consumed by THREE branches (the per-key range agg, the bucket
   * offsets, and the bucketed scores join), and column pruning gives
   * each branch its own lineage, so a caller who passes raw rows
   * through [[aucRoc]] pays the raw scan + distinct-score aggregation
   * per branch. Materialize the (tiny: narrow columns, one row per
   * distinct score) frame and pass it here; each branch then re-reads
   * the compact frame instead of the corpus.
   */
  def aucRocScored(perScore: DataFrame, buckets: Int = 1024,
      keys: Seq[String] = Nil): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val keyCols = keys.map(col)
    // equal-width bucket key per segment from its score range (bounded
    // broadcast frame). max == min (or a single distinct score) → bucket 0.
    val rng = perScore.groupBy(keyCols: _*)
      .agg(min(col("__s")).as("__lo"), max(col("__s")).as("__hi"))
    val bucketed = (if (keys.isEmpty) perScore.crossJoin(broadcast(rng))
      else nullSafeJoin(perScore, rng, keys))
      .withColumn("__b",
        when(col("__hi") === col("__lo"), lit(0L)).otherwise(
          least(lit(buckets - 1L), greatest(lit(0L),
            floor((col("__s") - col("__lo")) / (col("__hi") - col("__lo")) *
              lit(buckets))))))
      .drop("__lo", "__hi")
    // bounded bucket frame: negatives strictly below each bucket,
    // folded per segment
    val wBucket = Window.partitionBy(keyCols: _*).orderBy(col("__b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(keyCols :+ col("__b"): _*)
      .agg(sum(col("__nn")).as("__bn"))
      .withColumn("__negBeforeBucket",
        coalesce(sum(col("__bn")).over(wBucket), lit(0L)))
      .drop("__bn")
    // within-bucket running negatives: partitioned by (keys, bucket),
    // so the sort partitions are ~|distinct scores| / buckets, never
    // global
    val wIn = Window.partitionBy(keyCols :+ col("__b"): _*)
      .orderBy(col("__s").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val u2 = nullSafeJoin(bucketed, offsets, keys :+ "__b")
      .withColumn("__negBelow",
        col("__negBeforeBucket") + coalesce(sum(col("__nn")).over(wIn), lit(0L)))
      .groupBy(keyCols: _*)
      .agg(
        sum(col("__np").cast("decimal(38,0)") *
          (lit(2L) * col("__negBelow") + col("__nn"))).as("__u2"),
        sum(col("__np")).as("n_pos"),
        sum(col("__nn")).as("n_neg"))
    u2.select(keyCols ++ Seq(
      coalesce(col("n_pos"), lit(0L)).as("n_pos"),
      coalesce(col("n_neg"), lit(0L)).as("n_neg"),
      round(when(col("n_pos") > 0L && col("n_neg") > 0L,
        col("__u2").cast("double") /
          (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")))
        .otherwise(lit(null)), 6).as("auc")): _*)
  }

  /**
   * Empirical-CDF (rank) NORMALIZATION — the quantile-transform
   * feature map: every distinct value of a column gets its mid-rank
   * CDF position, cdf(v) = (count(< v) + ½·count(= v)) / n ∈ (0, 1),
   * per group. The standard monotone normalization that makes a
   * heavy-tailed feature uniformly distributed (quantile features for
   * GBMs, calibration preprocessing, cross-source score alignment);
   * join the output back on (keys, value) to stamp rows. Mid-rank
   * handles ties deterministically, and the doubled numerator
   * 2·below + eq is an exact integer — one double division, 6-dp,
   * engine-replayable.
   *
   * Scale shape = [[aucRoc]]'s bucket decomposition (rank statistics
   * with NO global row sort): rows collapse map-side to the distinct-
   * (keys, value) frame, values bucket into `buckets` equal-width bins
   * off the per-group broadcast range, cumulative counts fold over the
   * bounded (keys × buckets) frame, and the within-bucket running sum
   * windows partitioned by (keys, bucket). Group totals broadcast
   * back null-safely (a null key is its own group).
   */
  def cdfNormalize(df: DataFrame, keys: Seq[String], valueCol: String,
      buckets: Int = 1024): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val keyCols = keys.map(col)
    // r19: fan a small scan out keyed on the EXACT groupBy tuple — the
    // high-cardinality distinct-value partial aggregate otherwise runs
    // inside 1-3 scan tasks, and the keyed exchange is reused by the
    // groupBy itself (same clustering), so no extra shuffle is added.
    val perVal = Scale.fanOutSmallScan(df
      .filter(col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")))
      .select(keyCols :+ col(valueCol).cast("double").as("__v"): _*),
      keyCols :+ col("__v"): _*)
      .groupBy(keyCols :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val rng = perVal.groupBy(keyCols: _*)
      .agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"),
        sum(col("__c")).as("__n"))
    val bucketed = (if (keys.isEmpty) perVal.crossJoin(broadcast(rng))
      else nullSafeJoin(perVal, rng, keys))
      .withColumn("__b",
        when(col("__hi") === col("__lo"), lit(0L)).otherwise(
          least(lit(buckets - 1L), greatest(lit(0L),
            floor((col("__v") - col("__lo")) / (col("__hi") - col("__lo")) *
              lit(buckets))))))
      .drop("__lo", "__hi")
    val wBucket = Window.partitionBy(keyCols: _*).orderBy(col("__b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(keyCols :+ col("__b"): _*)
      .agg(sum(col("__c")).as("__bc"))
      .withColumn("__belowBucket",
        coalesce(sum(col("__bc")).over(wBucket), lit(0L)))
      .drop("__bc")
    val wIn = Window.partitionBy(keyCols :+ col("__b"): _*)
      .orderBy(col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    nullSafeJoin(bucketed, offsets, keys :+ "__b")
      .withColumn("__below",
        col("__belowBucket") + coalesce(sum(col("__c")).over(wIn), lit(0L)))
      .select(keyCols ++ Seq(
        col("__v").as(valueCol),
        col("__c").as("n_eq"),
        round((lit(2L) * col("__below") + col("__c")).cast("double") /
          (lit(2.0) * col("__n").cast("double")), 6).as("cdf")): _*)
  }

  /**
   * Deterministic POISSON-BOOTSTRAP confidence interval for a mean —
   * the distribution-free "how sure are we of this number" readout
   * (skewed revenue-per-user style metrics violate every normality
   * assumption a t-interval needs; the bootstrap doesn't care). Each
   * of `reps` resamples weights every row by an independent
   * Poisson(1) draw — the classic one-pass approximation of
   * resampling-with-replacement at scale (Chamandy et al., Google
   * 2012): no row ever needs to see another row, so the whole
   * procedure is ONE map-side-combinable aggregate.
   *
   * Replayability discipline: the "randomness" is md5(id, chunk) —
   * each 32-hex md5 yields four independent 8-hex uniforms, so 32
   * reps cost 8 md5 digests per row — inverted to a Poisson(1)
   * count by a fixed CDF-threshold ladder (P(K ≤ k) thresholds
   * as double literals, capped at 8 where the CDF passes 1 − 10⁻⁶),
   * all fused into ONE [[graft.functions.PoissonWeights]] kernel call
   * per row (bit-identical to the SQL conv/substring/CASE form, which
   * every oracle still replays). Any engine replays every weight
   * exactly. Weighted sums
   * are exact integral micros in decimal(38,0); each rep mean is one
   * double division; the interval is the [lo]/[hi] order statistics
   * of the `reps` sorted rep means (percentile bootstrap — with the
   * default 32 reps, the 2nd smallest/largest ≈ a 94% CI). Output:
   * one row (n, mean, ci_lo, ci_hi) — or one PER KEY TUPLE when
   * `keys` is given (per-segment intervals: the identical one-pass
   * aggregate GROUPED instead of folded; each segment resamples its
   * own rows with the same md5 weights, so a unit draws consistently
   * wherever it lands). Rows with null id or value are excluded by
   * contract; empty input → NULLs (global) / no rows (keyed).
   */
  def bootstrapMeanCI(df: DataFrame, idCol: String, valueCol: String,
      reps: Int = 32, keys: Seq[String] = Nil): DataFrame = {
    require(reps >= 4 && reps % 4 == 0 && reps <= 64,
      s"reps must be a multiple of 4 in [4, 64], got $reps")
    val keyCols = keys.map(col)
    // r19: fan a one-row-group scan out BEFORE the PoissonWeights kernel
    // and the 2·reps partial-aggregate expressions (per-job trace: the whole
    // pass ran as ONE task, 1.6 s at sf0.1). Sums of longs/decimals are
    // order-independent, so the result is bit-identical.
    val clean = Scale.fanOutSmallScan(df
      .filter(col(idCol).isNotNull && col(valueCol).isNotNull)
      .select(keyCols :+ col(idCol).cast("string").as("__id") :+
        round(col(valueCol) * 1000000).cast("long").as("__vmic"): _*),
      col("__id"))
    // ALL reps weights come from ONE fused kernel call per row
    // ([[graft.functions.PoissonWeights]] — bit-identical to the
    // conv/substring/CASE ladder it replaced, so oracles don't move),
    // staged as its own projection column: the array is not cheap, so
    // CollapseProject never duplicates it into the 2·reps aggregate
    // expressions (the r11 lesson: inlined md5s re-evaluated 8×,
    // measured 45 s → ~4 s at sf0.1; the fused kernel also removes
    // ~100 generated-Java expressions of Janino compile time).
    val withW = clean.select(keyCols ++ Seq(col("__vmic"),
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.PoissonWeights(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("__id")),
          reps)).as("__w")): _*)
    def weight(r: Int): Column = element_at(col("__w"), r + 1)
    val aggs = Seq(count(lit(1)).as("__n"),
      sum(col("__vmic")).cast("decimal(38,0)").as("__sx")) ++
      (0 until reps).flatMap { r =>
        Seq(sum(weight(r)).as(s"__w_$r"),
          sum(weight(r).cast("decimal(38,0)") * col("__vmic"))
            .as(s"__wx_$r"))
      }
    val wide = withW.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
    val repMeans = array((0 until reps).map { r =>
      when(col(s"__w_$r") > 0L,
        col(s"__wx_$r").cast("double") / col(s"__w_$r").cast("double") / 1e6)
        .otherwise(lit(null))
    }: _*)
    wide
      .withColumn("__ms", sort_array(repMeans))
      .select(keyCols ++ Seq(
        col("__n").as("n"),
        round(when(col("__n") > 0L,
          col("__sx").cast("double") / col("__n").cast("double") / 1e6)
          .otherwise(lit(null)), 6).as("mean"),
        round(element_at(col("__ms"), 2), 6).as("ci_lo"),
        round(element_at(col("__ms"), reps - 1), 6).as("ci_hi")): _*)
  }

  /**
   * Poisson-bootstrap CI for an A/B LIFT — [[bootstrapMeanCI]] applied
   * to the difference of arm means: each rep draws ONE Poisson weight
   * per unit and contributes to its own arm's weighted mean, and the
   * rep statistic is mean_t − mean_c; the interval is read off the
   * sorted rep lifts. This is the readout a skewed metric needs when
   * [[graft.ops.Events.abLift]]'s Welch z (a normality statement about
   * arm-mean differences) is suspect — same md5 weight family, same
   * one-pass aggregate, no distributional assumption. `df` must carry
   * one row per UNIT (user): (idCol, armCol 0/1, valueCol) —
   * resampling rows of a user-level frame is what makes the draws
   * independent. Output: one row (n_c, n_t, lift, ci_lo, ci_hi);
   * `lift` is the plain mean difference. An arm emptied by a resample
   * yields a NULL rep (sorted first, documented bias toward wider
   * low intervals at tiny n — at experiment scale it never happens).
   */
  def bootstrapLiftCI(df: DataFrame, idCol: String, armCol: String,
      valueCol: String, reps: Int = 32): DataFrame = {
    require(reps >= 4 && reps % 4 == 0 && reps <= 64,
      s"reps must be a multiple of 4 in [4, 64], got $reps")
    // r19: same fan-out-before-the-weights-kernel as [[bootstrapMeanCI]]
    val clean = Scale.fanOutSmallScan(df
      .filter(col(idCol).isNotNull && col(valueCol).isNotNull &&
        col(armCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"),
        col(armCol).cast("int").as("__arm"),
        round(col(valueCol) * 1000000).cast("long").as("__vmic")),
      col("__id"))
    // fused-kernel weights staged once per row — the [[bootstrapMeanCI]]
    // discipline (bit-identical to the replaced md5 ladder)
    val withW = clean.select(col("__arm"), col("__vmic"),
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.PoissonWeights(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("__id")),
          reps)).as("__w"))
    def weight(r: Int): Column = element_at(col("__w"), r + 1)
    def armed(a: Int, c: Column): Column = when(col("__arm") === a, c).otherwise(lit(0L))
    val aggs =
      Seq(sum(when(col("__arm") === 0, 1L).otherwise(0L)).as("__nc"),
        sum(when(col("__arm") === 1, 1L).otherwise(0L)).as("__nt"),
        sum(armed(0, col("__vmic"))).cast("decimal(38,0)").as("__sc"),
        sum(armed(1, col("__vmic"))).cast("decimal(38,0)").as("__st")) ++
      (0 until reps).flatMap { r =>
        Seq(sum(armed(0, weight(r))).as(s"__wc_$r"),
          sum(armed(0, weight(r).cast("decimal(38,0)") * col("__vmic")))
            .as(s"__wxc_$r"),
          sum(armed(1, weight(r))).as(s"__wt_$r"),
          sum(armed(1, weight(r).cast("decimal(38,0)") * col("__vmic")))
            .as(s"__wxt_$r"))
      }
    val wide = withW.agg(aggs.head, aggs.tail: _*)
    val repLifts = array((0 until reps).map { r =>
      when(col(s"__wc_$r") > 0L && col(s"__wt_$r") > 0L,
        col(s"__wxt_$r").cast("double") / col(s"__wt_$r").cast("double") / 1e6 -
          col(s"__wxc_$r").cast("double") / col(s"__wc_$r").cast("double") / 1e6)
        .otherwise(lit(null))
    }: _*)
    wide
      .withColumn("__ls", sort_array(repLifts))
      .select(
        col("__nc").as("n_c"), col("__nt").as("n_t"),
        round(when(col("__nc") > 0L && col("__nt") > 0L,
          col("__st").cast("double") / col("__nt").cast("double") / 1e6 -
            col("__sc").cast("double") / col("__nc").cast("double") / 1e6)
          .otherwise(lit(null)), 6).as("lift"),
        round(element_at(col("__ls"), 2), 6).as("ci_lo"),
        round(element_at(col("__ls"), reps - 1), 6).as("ci_hi"))
  }

  /**
   * POPULATION STABILITY INDEX — the model-monitoring drift number:
   * how far the current distribution of a score/feature has moved
   * from its baseline, PSI = Σ_bins (p_cur − p_base)·ln(p_cur/p_base).
   * Bins are `bins` equal-width intervals over the BASELINE min/max
   * (the deployed-model convention: edges freeze at training time);
   * current values outside that range clamp into the edge bins.
   * Proportions are Laplace-smoothed, p = (n + ½)/(N + B/2), so an
   * empty bin contributes a finite, deterministic term instead of ±∞
   * — and every bin 0..B−1 is densified in, so both engines fold the
   * identical B terms in bin order (a bag-order double sum could flip
   * a 6-dp boundary). Convention: PSI < 0.1 stable, 0.1–0.25 drifting,
   * > 0.25 action.
   *
   * Scale shape: one map-side-combinable (bin × period) count over the
   * rows, then everything else happens on the B-row frame. The 1-row
   * baseline range agg broadcasts; no sort touches row-count data.
   */
  def psi(df: DataFrame, valueCol: String, baseline: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val clean = df
      .filter(col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")))
      .select(col(valueCol).cast("double").as("__v"),
        baseline.cast("boolean").as("__base"))
    val rng = clean.filter(col("__base"))
      .agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
    // broadcast the 1-row range so the row-scan side never feeds a
    // CartesianProduct (the psiMulti/aucRocScored pattern)
    val counts = clean.crossJoin(broadcast(rng))
      .withColumn("bin",
        when(col("__hi") === col("__lo"), lit(0L)).otherwise(
          least(lit(bins - 1L), greatest(lit(0L),
            floor((col("__v") - col("__lo")) / (col("__hi") - col("__lo")) *
              lit(bins))))))
      .groupBy(col("bin"))
      .agg(
        sum(when(col("__base"), 1L).otherwise(0L)).as("n_base"),
        sum(when(!col("__base"), 1L).otherwise(0L)).as("n_cur"))
    // densify to ALL bins so the fold has exactly `bins` fixed terms
    val allBins = rng.select(explode(sequence(lit(0L), lit(bins - 1L))).as("bin"))
    val dense = allBins.join(counts, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    // totals + the bin-ordered left fold, Benford-style, on ONE row
    val folded = dense
      .agg(sort_array(collect_list(
        struct(col("bin"), col("n_base"), col("n_cur")))).as("bc"))
      .withColumn("tb",
        expr("aggregate(transform(bc, x -> x.n_base), 0L, (a, x) -> a + x)"))
      .withColumn("tc",
        expr("aggregate(transform(bc, x -> x.n_cur), 0L, (a, x) -> a + x)"))
      .withColumn("psi", round(expr(
        s"""aggregate(transform(bc, x ->
           |  ((CAST(x.n_cur AS DOUBLE) + 0.5) / (CAST(tc AS DOUBLE) + ${bins / 2.0})
           |   - (CAST(x.n_base AS DOUBLE) + 0.5) / (CAST(tb AS DOUBLE) + ${bins / 2.0}))
           |  * ln(((CAST(x.n_cur AS DOUBLE) + 0.5) / (CAST(tc AS DOUBLE) + ${bins / 2.0}))
           |       / ((CAST(x.n_base AS DOUBLE) + 0.5) / (CAST(tb AS DOUBLE) + ${bins / 2.0})))),
           |0D, (a, x) -> a + x)""".stripMargin), 6))
    folded.select(col("tb"), col("tc"), col("psi"), explode(col("bc")).as("x"))
      .select(col("x.bin").as("bin"), col("x.n_base").as("n_base"),
        col("x.n_cur").as("n_cur"),
        round((col("x.n_base").cast("double") + lit(0.5)) /
          (col("tb").cast("double") + lit(bins / 2.0)), 6).as("p_base"),
        round((col("x.n_cur").cast("double") + lit(0.5)) /
          (col("tc").cast("double") + lit(bins / 2.0)), 6).as("p_cur"),
        col("psi"))
  }

  /**
   * MULTI-FEATURE PSI in ONE pass — the model-monitoring dashboard
   * shape: every feature column's [[psi]] against the same baseline
   * predicate, from a single scan. Per-feature bin columns are STAGED
   * as one projection (the bootstrap staging lesson: k·bins
   * conditional sums re-evaluating the bin arithmetic would cost
   * bins× per row), the k·bins·2 counts fold in one map-side
   * aggregate, and each feature's PSI is a fixed left-to-right sum
   * over its bins (deterministic double order, mirrored in the
   * oracle). Output: one row per (feature, bin) with that feature's
   * total PSI repeated per row (the [[benford]] shape). Per-feature
   * nulls/NaNs are excluded from that feature only. Bin edges freeze
   * at each feature's own baseline min/max; same Laplace smoothing
   * and clamping as [[psi]] (single-feature results are identical —
   * spec-pinned).
   */
  def psiMulti(df: DataFrame, cols: Seq[String], baseline: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    require(cols.nonEmpty, "need at least one feature column")
    val clean = df.select(cols.map(c => col(c).cast("double").as(c)) :+
      baseline.cast("boolean").as("__base"): _*)
    val rngAggs = cols.flatMap(c => Seq(
      min(when(col("__base"), col(c))).as(s"__lo_$c"),
      max(when(col("__base"), col(c))).as(s"__hi_$c")))
    val rng = clean.agg(rngAggs.head, rngAggs.tail: _*)
    // staged bin projection: each feature's bin arithmetic runs once
    // per row; a null/NaN value yields a null bin (excluded below)
    val binned = clean.crossJoin(broadcast(rng)).select(
      Seq(col("__base")) ++ cols.map { c =>
        when(col(c).isNull || isnan(col(c)), lit(null)).otherwise(
          when(col(s"__hi_$c") === col(s"__lo_$c"), lit(0L)).otherwise(
            least(lit(bins - 1L), greatest(lit(0L),
              floor((col(c) - col(s"__lo_$c")) /
                (col(s"__hi_$c") - col(s"__lo_$c")) * lit(bins))))))
          .as(s"__bin_$c")
      }: _*)
    val sums = cols.flatMap { c =>
      (0 until bins).flatMap { b =>
        Seq(
          sum(when(col(s"__bin_$c") === b && col("__base"), 1L)
            .otherwise(0L)).as(s"__nb_${c}_$b"),
          sum(when(col(s"__bin_$c") === b && !col("__base"), 1L)
            .otherwise(0L)).as(s"__nc_${c}_$b"))
      }
    }
    val wide = binned.agg(sums.head, sums.tail: _*)
    def tot(pre: String, c: String): Column =
      (0 until bins).map(b => col(s"__${pre}_${c}_$b")).reduce(_ + _)
    val smooth = lit(bins / 2.0)
    // EXPLODE SHALLOW STRUCTS FIRST, compute on the k·bins-row frame:
    // embedding the per-feature PSI fold into every struct of the
    // one-row assembly generated a single enormous codegen class
    // (measured ~14 s of Janino compilation per fresh plan — the
    // bootstrap staging lesson at the codegen level). Each struct here
    // carries only plain count columns + the feature totals; the
    // smoothing/term arithmetic runs per exploded row, and the PSI is
    // a bin-ORDERED running window sum over each feature's ≤`bins`
    // rows (terms are ≥ 0, so the ordered fold matches the oracle's
    // left fold exactly).
    val rows = cols.map { c =>
      array((0 until bins).map(b => struct(
        lit(c).as("feature"), lit(b.toLong).as("bin"),
        col(s"__nb_${c}_$b").as("n_base"), col(s"__nc_${c}_$b").as("n_cur"),
        tot("nb", c).as("tb"), tot("nc", c).as("tc"))): _*)
    }
    val long = wide.select(explode(flatten(array(rows: _*))).as("r"))
      .select(col("r.feature").as("feature"), col("r.bin").as("bin"),
        col("r.n_base").as("n_base"), col("r.n_cur").as("n_cur"),
        ((col("r.n_base").cast("double") + lit(0.5)) /
          (col("r.tb").cast("double") + smooth)).as("__pb"),
        ((col("r.n_cur").cast("double") + lit(0.5)) /
          (col("r.tc").cast("double") + smooth)).as("__pc"))
    val wPsi = Window.partitionBy(col("feature")).orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    long
      .withColumn("psi", round(sum(
        (col("__pc") - col("__pb")) * log(col("__pc") / col("__pb")))
        .over(wPsi), 6))
      .select(col("feature"), col("bin"), col("n_base"), col("n_cur"),
        round(col("__pb"), 6).as("p_base"), round(col("__pc"), 6).as("p_cur"),
        col("psi"))
  }

  /**
   * KAPLAN-MEIER survival curve — time-to-event analytics under RIGHT
   * CENSORING (the estimator conversion/churn/retention questions
   * actually need: "how long until a user converts" can't be averaged
   * when most users haven't converted YET — dropping them biases the
   * answer optimistic, counting them as never-converting biases it
   * pessimistic; KM uses exactly the information each row carries).
   * Input: one row per subject with (duration, event: 1 = the event
   * happened at `duration`, 0 = observation CENSORED there). Output:
   * one row per distinct duration t with the at-risk count n_t, event
   * count d_t, censored count c_t, and Ŝ(t) = Π_{t' ≤ t} (1 − d/n) —
   * the probability of surviving past t.
   *
   * Scale shape: subjects collapse map-side to the distinct-duration
   * frame; at-risk counts and the survival product are windows over
   * that compact frame (duration arity-bounded — day-grained durations
   * make it calendar-sized, the stickiness contract). The product is
   * computed as exp(Σ ln(1 − d/n)) with the running Σ a sequential
   * window fold in duration order — both engines add the IDENTICAL
   * doubles in the identical order, so Ŝ replays bit-for-bit.
   * EXTINCTION is handled explicitly: d = n (everyone still at risk
   * experiences the event) would need ln(0), which one engine throws
   * on and the other nulls — instead the term is excluded and a
   * carried flag pins Ŝ = 0 exactly from that duration on. Null
   * durations/flags excluded by contract.
   */
  def kaplanMeier(df: DataFrame, durationCol: String,
      eventCol: String, keys: Seq[String] = Nil): DataFrame = {
    val keyCols = keys.map(col)
    val perT = df
      .filter(col(durationCol).isNotNull && col(eventCol).isNotNull)
      .select(keyCols :+ col(durationCol).cast("long").as("t") :+
        col(eventCol).cast("int").as("__e"): _*)
      .groupBy(keyCols :+ col("t"): _*)
      .agg(sum(when(col("__e") === 1, 1L).otherwise(0L)).as("d"),
        sum(when(col("__e") === 0, 1L).otherwise(0L)).as("c"))
    // every window runs over the distinct-(keys, duration) frame,
    // never subjects; `keys` (optional) yields one curve per segment
    // with all windows partitioned by it
    val wBefore = Window.partitionBy(keyCols: _*).orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wThrough = Window.partitionBy(keyCols: _*).orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(keyCols: _*)
    perT
      .withColumn("n_at_risk",
        sum(col("d") + col("c")).over(wAll) -
          coalesce(sum(col("d") + col("c")).over(wBefore), lit(0L)))
      .withColumn("__extinct",
        max(when(col("d") === col("n_at_risk"), 1).otherwise(0)).over(wThrough))
      .withColumn("survival",
        when(col("__extinct") === 1, lit(0.0)).otherwise(
          round(exp(sum(when(col("d") < col("n_at_risk"),
            log(lit(1.0) - col("d").cast("double") /
              col("n_at_risk").cast("double"))).otherwise(lit(0.0)))
            .over(wThrough)), 6)))
      .select(keyCols ++ Seq(col("t"), col("n_at_risk"), col("d"), col("c"),
        col("survival")): _*)
  }

  /**
   * GINI SPLIT QUALITY — the decision-tree split score as a feature-
   * selection readout: how much does knowing a categorical feature
   * reduce the label's Gini impurity? Per feature value v: p₁(v) and
   * gini(v) = 1 − p₁² − p₀²; the split's weighted impurity
   * Σ (n_v/N)·gini(v) compares against the UNSPLIT base impurity, and
   * `gain` = base − weighted is the number to rank features by (0 =
   * the feature tells you nothing; base = it determines the label).
   *
   * One map-side (feature) aggregate over the rows (the contingency
   * discipline of [[chi2Independence]]: bounded-arity categorical by
   * contract); totals and the weighted fold happen on the |values|
   * frame in value order (Benford discipline — both engines add the
   * identical doubles in the identical order). Counts exact integers;
   * every division fixed-order, 6 dp. `labelCol` must be
   * 0/1-coercible; null features group as their own value (fold order
   * puts the NULL class FIRST — oracles must ORDER BY ... NULLS
   * FIRST, the [[chi2Independence]] rule), null labels are excluded
   * by contract.
   */
  def splitQuality(df: DataFrame, featureCol: String,
      labelCol: String): DataFrame = {
    val cells = df
      .filter(col(labelCol).isNotNull)
      .select(col(featureCol).cast("string").as("value"),
        col(labelCol).cast("int").as("__y"))
      .groupBy(col("value"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y") === 1, 1L).otherwise(0L)).as("n_pos"))
    def giniOf(pos: Column, tot: Column): Column = {
      val p = pos.cast("double") / tot.cast("double")
      lit(1.0) - p * p - (lit(1.0) - p) * (lit(1.0) - p)
    }
    // ONE row carrying the value-ordered cells: the weighted fold and
    // the base impurity are deterministic left folds over it
    val folded = cells
      .agg(sort_array(collect_list(struct(col("value"), col("n"),
        col("n_pos")))).as("vs"))
      .withColumn("N", expr("aggregate(transform(vs, x -> x.n), 0L, (a, x) -> a + x)"))
      .withColumn("P", expr("aggregate(transform(vs, x -> x.n_pos), 0L, (a, x) -> a + x)"))
      .withColumn("base_gini", round(giniOf(col("P"), col("N")), 6))
      .withColumn("weighted_gini", round(expr(
        """aggregate(transform(vs, x ->
          |  (CAST(x.n AS DOUBLE) / CAST(N AS DOUBLE))
          |  * (1.0D - (CAST(x.n_pos AS DOUBLE) / CAST(x.n AS DOUBLE))
          |            * (CAST(x.n_pos AS DOUBLE) / CAST(x.n AS DOUBLE))
          |     - (1.0D - CAST(x.n_pos AS DOUBLE) / CAST(x.n AS DOUBLE))
          |       * (1.0D - CAST(x.n_pos AS DOUBLE) / CAST(x.n AS DOUBLE)))),
          |0D, (a, x) -> a + x)""".stripMargin), 6))
      .withColumn("gain", round(col("base_gini") - col("weighted_gini"), 6))
    folded
      .select(col("base_gini"), col("weighted_gini"), col("gain"),
        explode(col("vs")).as("x"))
      .select(col("x.value").as("value"), col("x.n").as("n"),
        col("x.n_pos").as("n_pos"),
        round(giniOf(col("x.n_pos"), col("x.n")), 6).as("gini"),
        col("base_gini"), col("weighted_gini"), col("gain"))
  }

  /**
   * BENJAMINI-HOCHBERG FDR correction — the multiple-testing gate for
   * a FLEET of readouts (one [[graft.ops.Events.abLiftBy]] segment
   * table = dozens of tests; at α = .05, one in twenty "wins" by
   * chance alone): step-up adjusted p-values p̃(i) = min_{j ≥ i}
   * (m·p(j)/j) over the ascending-p ranks, rejecting p̃ ≤ α controls
   * the false-discovery rate. Input: one row per test (id, p); output
   * adds the rank, the monotone adjusted p (capped at 1), and the
   * reject flag.
   *
   * Scale shape: the test frame is readout-sized by contract (it's a
   * dashboard table, not row data) — ranks and the REVERSE running
   * min are two windows over it, all arithmetic fixed-order doubles
   * at 6 dp. Ties on p rank deterministically by id. Null p-values
   * are excluded by contract.
   */
  def bhAdjust(df: DataFrame, idCol: String, pCol: String,
      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val clean = df.filter(col(pCol).isNotNull)
      .select(col(idCol).as("test_id"), col(pCol).cast("double").as("p"))
    val wRank = Window.orderBy(col("p").asc, col("test_id").asc)
    val wRevMin = Window.orderBy(col("p").desc, col("test_id").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy()
    clean
      .withColumn("rank", row_number().over(wRank))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("p_adj", round(least(lit(1.0),
        min(col("__m").cast("double") * col("p") /
          col("rank").cast("double")).over(wRevMin)), 6))
      .withColumn("reject", col("p_adj") <= alpha)
      .select(col("test_id"), round(col("p"), 6).as("p"), col("rank"),
        col("p_adj"), col("reject"))
  }

  /**
   * THEIL-SEN ROBUST TREND — the slope a KPI dashboard should trust:
   * the MEDIAN of all pairwise slopes (and the median-residual
   * intercept), which one outlier day cannot move (OLS tips over on
   * exactly the anomalies a daily series contains — launch spikes,
   * outages, backfills). Input contract: ONE ROW PER X (a compact
   * aggregated frame — a day/week series, never raw rows): the
   * pairwise-slope frame is |x|²/2, bounded by the calendar² when x
   * is a day number (435 pairs for a month, 66 k for a year) — the
   * self-join is a bounded-broadcast nested loop by design, and at
   * 100 TB the INPUT aggregation (rows → days) is where the data
   * dies, not here. Medians via [[percentileExact]]'s rank-straddle
   * interpolation (engine-identical); the intercept uses the 6-dp
   * ROUNDED slope so both engines subtract the same number.
   * Fewer than 2 distinct x → EMPTY output (no pair exists to vote),
   * never a throw.
   */
  def theilSen(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val pts = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
    val a = pts.select(col("__x").as("__xa"), col("__y").as("__ya"))
    val b = pts.select(col("__x").as("__xb"), col("__y").as("__yb"))
    val slopes = a.join(broadcast(b), col("__xa") < col("__xb"))
      .select(((col("__yb") - col("__ya")) /
        (col("__xb") - col("__xa"))).as("__slope"))
    val medSlope = percentileExact(slopes, Nil, "__slope",
      Seq("slope" -> 0.5))
    val resid = pts.crossJoin(broadcast(medSlope))
      .select(col("slope"),
        (col("__y") - col("slope") * col("__x")).as("__r"))
    val medIntercept = percentileExact(resid.select(col("__r")), Nil, "__r",
      Seq("intercept" -> 0.5))
    val n = pts.agg(count(lit(1)).as("n_points"))
    n.crossJoin(broadcast(medSlope)).crossJoin(broadcast(medIntercept))
      .select(col("n_points"), col("slope"), col("intercept"))
  }

  /**
   * LOG-RANK TEST — "did the treatment CHANGE the time-to-event
   * curve?": the standard two-group comparison of censored survival
   * data (the [[kaplanMeier]] companion, and the statistic an
   * experiment with a conversion-latency metric actually needs —
   * comparing conversion RATES throws away when conversions happen).
   * At each distinct event time, group 1's observed events d₁ compare
   * against the hypergeometric expectation e₁ = d·n₁/n with variance
   * v = d·(n₁/n)·(1 − n₁/n)·(n − d)/(n − 1); χ² = (Σ(d₁ − e₁))²/Σv on
   * 1 dof (flag at 3.841, α = .05). `groupCol` must be 0/1.
   *
   * Scale shape: subjects collapse map-side to the distinct-duration
   * frame with per-group counts; at-risk counts are windows over that
   * compact frame, and the two double sums fold in duration order
   * (Benford discipline — identical term order on both engines; O₁
   * itself is an exact integer). n = 1 times contribute v = 0
   * (guarded, never an ANSI divide).
   */
  def logRank(df: DataFrame, durationCol: String, eventCol: String,
      groupCol: String): DataFrame = {
    val perT = df
      .filter(col(durationCol).isNotNull && col(eventCol).isNotNull &&
        col(groupCol).isNotNull)
      .select(col(durationCol).cast("long").as("t"),
        col(eventCol).cast("int").as("__e"),
        col(groupCol).cast("int").as("__g"))
      .groupBy(col("t"))
      .agg(
        sum(when(col("__g") === 1 && col("__e") === 1, 1L).otherwise(0L)).as("d1"),
        sum(when(col("__g") === 1, 1L).otherwise(0L)).as("a1"),
        sum(when(col("__g") === 0 && col("__e") === 1, 1L).otherwise(0L)).as("d0"),
        sum(when(col("__g") === 0, 1L).otherwise(0L)).as("a0"))
    val wBefore = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    val risks = perT
      .withColumn("n1",
        sum(col("a1")).over(wAll) -
          coalesce(sum(col("a1")).over(wBefore), lit(0L)))
      .withColumn("n0",
        sum(col("a0")).over(wAll) -
          coalesce(sum(col("a0")).over(wBefore), lit(0L)))
      .filter(col("d1") + col("d0") > 0L)
    // duration-ordered left folds on ONE row (Benford discipline)
    val folded = risks
      .agg(
        sort_array(collect_list(struct(col("t"), col("d1"), col("d0"),
          col("n1"), col("n0")))).as("ts"),
        sum(col("d1")).as("o1"))
      .withColumn("e1", expr(
        """aggregate(transform(ts, x ->
          |  CAST(x.d1 + x.d0 AS DOUBLE) * CAST(x.n1 AS DOUBLE)
          |  / CAST(x.n1 + x.n0 AS DOUBLE)),
          |0D, (a, x) -> a + x)""".stripMargin))
      .withColumn("v", expr(
        """aggregate(transform(ts, x ->
          |  CASE WHEN x.n1 + x.n0 > 1 THEN
          |    CAST(x.d1 + x.d0 AS DOUBLE)
          |    * (CAST(x.n1 AS DOUBLE) / CAST(x.n1 + x.n0 AS DOUBLE))
          |    * (1.0D - CAST(x.n1 AS DOUBLE) / CAST(x.n1 + x.n0 AS DOUBLE))
          |    * (CAST(x.n1 + x.n0 - x.d1 - x.d0 AS DOUBLE)
          |       / CAST(x.n1 + x.n0 - 1 AS DOUBLE))
          |  ELSE 0.0D END),
          |0D, (a, x) -> a + x)""".stripMargin))
    folded.select(
      coalesce(col("o1"), lit(0L)).as("observed_1"),
      round(col("e1"), 6).as("expected_1"),
      round(when(col("v") > 0.0,
        (col("o1").cast("double") - col("e1")) *
          (col("o1").cast("double") - col("e1")) / col("v"))
        .otherwise(lit(null)), 6).as("chi2"))
      .withColumn("significant", coalesce(col("chi2") > 3.841, lit(false)))
  }

  /**
   * χ² TEST OF INDEPENDENCE between two categoricals + Cramér's V —
   * "does the split of B actually differ across A, beyond what its
   * margins predict?": χ² = Σ_cells (n_ab − e_ab)²/e_ab with e_ab =
   * n_a·n_b/N, dof = (|A|−1)(|B|−1), V = sqrt(χ²/(N·(min(|A|,|B|)−1))).
   * Cell counts, margins and N are exact integers off ONE map-side-
   * combinable (a, b) aggregate; the χ² folds over the cell frame in
   * (a, b) order (deterministic double order, Benford-style). The cell
   * frame is |A|·|B| — this operator is for CATEGORICAL columns
   * (contract: bounded arity; a high-cardinality key belongs in
   * [[concentration]] or a sketch, not a contingency table).
   * Absent combinations (n_ab = 0, which still owe e_ab to the sum)
   * are never densified: expanding (n−e)²/e = n²/e − 2n + e and using
   * Σ_all e = Σ_all n = N collapses the statistic to
   * χ² = Σ_observed n²/e − N, so the fold touches observed cells only.
   * Null categories group as their own class (SQL GROUP BY semantics);
   * Spark's sort_array puts NULL struct fields FIRST, so any oracle
   * replaying the fold must ORDER BY ... NULLS FIRST or the 6-dp sum
   * can diverge on a rounding boundary when a NULL class exists.
   */
  def chi2Independence(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df.groupBy(col(colA).cast("string").as("__a"),
        col(colB).cast("string").as("__b"))
      .agg(count(lit(1)).as("__n"))
    val aMarg = cells.groupBy(col("__a")).agg(sum(col("__n")).as("__na"))
    val bMarg = cells.groupBy(col("__b")).agg(sum(col("__n")).as("__nb"))
    val folded = cells
      .join(broadcast(aMarg), "__a").join(broadcast(bMarg), "__b")
      .agg(
        sort_array(collect_list(struct(col("__a"), col("__b"), col("__n"),
          col("__na"), col("__nb")))).as("c"),
        countDistinct(col("__a")).as("ka"),
        countDistinct(col("__b")).as("kb"),
        sum(col("__n")).as("n"))
      // χ² = Σ_observed n²/e − N  (e = na·nb/N): the margin identity
      // spares densifying the |A|·|B| grid; fold order = (a, b) asc
      .withColumn("chi2", round(expr(
        """aggregate(transform(c, x ->
          |  (CAST(x.__n AS DOUBLE) * CAST(x.__n AS DOUBLE))
          |  / (CAST(x.__na AS DOUBLE) * CAST(x.__nb AS DOUBLE) / CAST(n AS DOUBLE))),
          |0D, (a, x) -> a + x)""".stripMargin) - col("n").cast("double"), 6))
    folded.select(
      col("n").as("n_rows"), col("ka").as("n_a"), col("kb").as("n_b"),
      when(col("ka") > 0L, (col("ka") - 1L) * (col("kb") - 1L)).as("dof"),
      col("chi2"),
      round(when(col("n") > 0L && col("ka") > 1L && col("kb") > 1L,
        sqrt(col("chi2") / (col("n").cast("double") *
          (least(col("ka"), col("kb")) - 1L).cast("double"))))
        .otherwise(lit(null)), 6).as("cramers_v"))
  }

  /**
   * One-pass PAIRWISE PEARSON CORRELATION MATRIX over numeric feature
   * columns — the feature-redundancy screen before training: every
   * corr(i, j) from a SINGLE aggregate of exact sufficient statistics.
   * Values scale to integral micros, so Σx, Σx² and Σxy are exact
   * (decimal(38,0) — a 10¹² row × 10¹¹-micro column keeps n·Σxy under
   * 10³⁵), and each correlation is formed from the textbook identity
   * (n·Σxy − Σx·Σy) / (sqrt(n·Σx² − (Σx)²)·sqrt(n·Σy² − (Σy)²))
   * ENTIRELY in exact arithmetic before three double conversions in
   * fixed order — engine-replayable, no Welford drift. Scale shape:
   * one map-side-combinable pass over the rows, k(k+3)/2 running sums,
   * ONE result row → exploded to the k(k−1)/2 long-form pairs. Columns
   * must be non-null by contract (a nullable feature needs per-pair
   * pairwise-complete counts — a different, 3×-wider statistic).
   * Zero-variance columns → NULL corr, never an ANSI throw.
   */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need >= 2 columns, got ${cols.size}")
    val mics = cols.map(c => round(col(c) * 1000000).cast("long").as(s"__m_$c"))
    // r19: the decimal(38,0) products in the partial aggregate are the
    // dominant per-row cost, and a one-row-group input runs them in a
    // single scan task (per-job trace: 1.8 s on 3 tasks at sf0.1). Fan the
    // projected micros out first — the exchange carries k longs per row,
    // far cheaper than the serialized kernel; identity on real scans.
    // Keyed on the full value tuple: high-cardinality and deterministic.
    val base = Scale.fanOutSmallScan(df.select(mics: _*),
      struct(cols.map(c => col(s"__m_$c")): _*))
    val pairs = for (i <- cols.indices; j <- cols.indices if i < j) yield (i, j)
    val aggs =
      Seq(count(lit(1)).as("__n")) ++
      cols.map(c => sum(col(s"__m_$c")).cast("decimal(38,0)").as(s"__s_$c")) ++
      cols.map(c => sum(col(s"__m_$c").cast("decimal(38,0)") * col(s"__m_$c"))
        .as(s"__ss_$c")) ++
      pairs.map { case (i, j) =>
        sum(col(s"__m_${cols(i)}").cast("decimal(38,0)") * col(s"__m_${cols(j)}"))
          .as(s"__sp_${i}_$j") }
    val wide = base.agg(aggs.head, aggs.tail: _*)
    val pairCols = pairs.map { case (i, j) =>
      val (a, b) = (cols(i), cols(j))
      val num = (col("__n") * col(s"__sp_${i}_$j") -
        col(s"__s_$a") * col(s"__s_$b")).cast("double")
      val dx = (col("__n") * col(s"__ss_$a") -
        col(s"__s_$a") * col(s"__s_$a")).cast("double")
      val dy = (col("__n") * col(s"__ss_$b") -
        col(s"__s_$b") * col(s"__s_$b")).cast("double")
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        round(when(dx > 0.0 && dy > 0.0, num / (sqrt(dx) * sqrt(dy)))
          .otherwise(lit(null).cast("double")), 6).as("corr"))
    }
    wide.select(col("__n").as("n"), explode(array(pairCols: _*)).as("p"))
      .select(col("p.col_a").as("col_a"), col("p.col_b").as("col_b"),
        col("n"), col("p.corr").as("corr"))
  }
}
