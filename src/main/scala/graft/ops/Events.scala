package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Batch event analytics over the `events` table. `ts` arrives as an
 * epoch-NANOS long (parquet TIMESTAMP(NANOS) read with
 * `spark.sql.legacy.parquet.nanosAsLong` — see [[graft.GraftSession]]),
 * which keeps all time arithmetic integral and engine-exact.
 *
 * These are the batch-equivalents of [[graft.streaming.EventStreams]];
 * the driver's oracle checks them, the streaming spec checks the
 * streaming versions agree.
 */
object Events {

  val SessionGapNanos: Long = 30L * 60 * 1000000000L // 30 min
  val SessionGapMicros: Long = SessionGapNanos / 1000

  /**
   * Gap-based sessionization: a session breaks when >30 min passes
   * between a user's consecutive events. Two window passes over the
   * same (user_id, ts) partitioning — a single shuffle: session_seq is
   * a running count of gap-breaks, then sessions aggregate by
   * (user_id, session_seq).
   *
   * Time is truncated to MICROS (`ts div 1000`): sub-µs precision is not
   * portable (DuckDB / most engines carry µs timestamps), and all gap
   * decisions must be identical across engines.
   */
  def sessionize(events: DataFrame): DataFrame = {
    val e = EventTime.normalizeTs(events).withColumn("tsu", expr("ts div 1000L"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
    val withBreak = e.withColumn(
      "is_new",
      when(col("tsu") - lag(col("tsu"), 1).over(byUser) > SessionGapMicros, 1)
        .otherwise(when(lag(col("tsu"), 1).over(byUser).isNull, 1).otherwise(0)))
    withBreak
      .withColumn("session_seq", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("tsu")).as("start_us"),
        max(col("tsu")).as("end_us"),
        // integer micro-unit sum: exact and order-free under any
        // partitioning (an unordered double sum near a 6-dp rounding
        // boundary could flip vs the oracle — q_tpch_q1's rule)
        round(sum(round(col("value") * 1000000).cast("long")) / 1000000.0, 6)
          .as("sum_value"))
  }

  /**
   * Session CO-OCCURRENCE lift matrix: for every event-type pair
   * (a < b), in how many sessions both appear, and the lift
   * n_ab·S / (n_a·n_b) — lift > 1 means the types travel together
   * (journey coupling), < 1 means they repel (alternative paths).
   * This is the symmetric pairwise view [[topPaths]]'s ordered
   * journeys can't give cheaply (a path treats view→click and
   * click→view as different strings; co-occurrence doesn't care).
   *
   * Scale shape: events reduce to DISTINCT (user, session, type)
   * first — per-session rows bounded by the TYPE VOCABULARY, not the
   * session length (a 10⁶-event bot session contributes ≤ |types|
   * rows) — then the pair join is an equi-join on the session key
   * with per-session output ≤ |types|²/2, the per-type totals are a
   * |types|-row frame the planner broadcasts back, and the session
   * count is a 1-row broadcast. All counts exact integers; lift is
   * one fixed-order double expression, 6-dp rounded.
   */
  def sessionCooccurrence(events: DataFrame): DataFrame = {
    val e = EventTime.normalizeTs(events).withColumn("tsu", expr("ts div 1000L"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
    // ONE pass: session assignment -> per-session sorted type set ->
    // explode pair combinations, singleton elements AND a per-session
    // marker together, so a single count aggregation yields n_ab (both
    // non-null), n_type (b null) and S (both null) without ever
    // re-running the window pipeline per consumer (a self-join form
    // would recompute the sessionization once per side). The arrays are
    // ≤ |type vocabulary| long, so the interpreted HOFs cost nothing.
    val sets = e
      .withColumn("is_new",
        when(col("tsu") - lag(col("tsu"), 1).over(byUser) > SessionGapMicros, 1)
          .otherwise(when(lag(col("tsu"), 1).over(byUser).isNull, 1).otherwise(0)))
      .withColumn("session_seq", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
    val counts = sets
      .select(explode(concat(
        expr("flatten(transform(ts, (x, i) -> " +
          "transform(slice(ts, i + 2, size(ts)), y -> struct(x AS a, y AS b))))"),
        expr("transform(ts, x -> struct(x AS a, CAST(NULL AS STRING) AS b))"),
        array(struct(lit(null).cast("string").as("a"),
          lit(null).cast("string").as("b"))))).as("it"))
      .groupBy(col("it.a").as("ta"), col("it.b").as("tb"))
      .agg(count(lit(1)).as("n"))
      // r18: |types|²-bounded by contract, but consumed by THREE
      // broadcast sides (pairs/perType/nSessions) whose builds are
      // separate jobs — without materialization each re-ran the whole
      // sessionization window pipeline (cross-job exchange reuse does
      // not exist). Recomputed from source per invocation.
      .localCheckpoint()
    val pairs = counts.filter(col("ta").isNotNull && col("tb").isNotNull)
      .select(col("ta").as("type_a"), col("tb").as("type_b"), col("n").as("n_ab"))
    val perType = counts.filter(col("ta").isNotNull && col("tb").isNull)
      .select(col("ta"), col("n"))
    val nSessions = counts.filter(col("ta").isNull && col("tb").isNull)
      .select(col("n").as("s"))
    pairs
      .join(perType.select(col("ta").as("type_a"), col("n").as("n_a")), "type_a")
      .join(perType.select(col("ta").as("type_b"), col("n").as("n_b")), "type_b")
      .crossJoin(nSessions)
      .select(col("type_a"), col("type_b"), col("n_ab"),
        round((col("n_ab").cast("double") * col("s").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("lift"))
  }

  /**
   * NATIVE session-window twin of [[sessionize]]: the same gap
   * sessions through Spark's built-in `session_window` aggregation —
   * sessions merge inside the aggregate (map-side partial merging,
   * ONE exchange on user_id), no lag/cumsum window pass at all. At
   * 100 TB this is the cheaper plan: the window-function form sorts
   * every user's full event list; the session aggregate only keeps
   * open-session state while merging.
   *
   * Boundary semantics (spec-pinned empirically): `session_window`
   * merges an event EXACTLY gap after the last one into the running
   * session — the same inclusive boundary as [[sessionize]]'s
   * `diff > gap` break rule, so the two twins agree on every input,
   * exact-gap adjacencies included. end_us = last_event + gap (the
   * session_window end), vs sessionize's last-event end.
   */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    sessionWindowAgg(EventTime.normalizeTs(events)
      .select(col("user_id"),
        timestamp_micros(expr("ts div 1000L")).as("event_time"), col("value")), gap)

  /** The session aggregate of [[sessionWindows]] and its streaming twin
    * [[graft.streaming.EventStreams.sessionWindowsStream]]: over rows
    * with (user_id, event_time, value), one row per (user, session) —
    * start_us, end_us, n_events and the micro-scaled `sum_value`. */
  private[graft] def sessionWindowAgg(timed: DataFrame, gap: String): DataFrame =
    timed
      .groupBy(col("user_id"), session_window(col("event_time"), gap).as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(round(col("value") * 1000000).cast("long")) / 1000000.0, 6)
          .as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"),
        col("n_events"), col("sum_value"))

  /**
   * Per-session JOURNEY PREFIX through the native session aggregate:
   * (user, session start, first-maxSteps path, event count) — the
   * per-session granularity under [[topPaths]]'s corpus rollup, and
   * the batch twin of [[graft.streaming.EventStreams.sessionPathsStream]].
   * The bounded [[graft.functions.PathPrefix]] aggregate keeps the k
   * earliest (ts, id, type) per session in O(k) state with an
   * order-free merge — no per-session rank window, no event list ever
   * materialized, and the SAME aggregate runs unchanged under a
   * streaming session_window (where a rank window cannot).
   */
  def sessionPaths(events: DataFrame, maxSteps: Int = 5,
      gap: String = "30 minutes"): DataFrame = {
    require(maxSteps >= 1, s"maxSteps must be >= 1, got $maxSteps")
    sessionPathAgg(EventTime.normalizeTs(events)
      .select(col("user_id"), expr("ts div 1000L").as("tsu"),
        col("event_id"), col("event_type"))
      .withColumn("event_time", timestamp_micros(col("tsu"))), maxSteps, gap)
  }

  /** The session aggregate of [[sessionPaths]] and its streaming twin
    * [[graft.streaming.EventStreams.sessionPathsStream]]: over rows with
    * (user_id, event_time, tsu, event_id, event_type), one row per
    * (user, session) — start_us, the first-maxSteps path, n_events. */
  private[graft] def sessionPathAgg(timed: DataFrame, maxSteps: Int,
      gap: String): DataFrame =
    timed
      .groupBy(col("user_id"), session_window(col("event_time"), gap).as("sw"))
      .agg(graft.functions.GraftFunctions.path_prefix(
          col("tsu"), col("event_id"), col("event_type"), maxSteps).as("path"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("start_us"),
        col("path"), col("n_events"))

  /**
   * AS-OF join: for every left row, the latest right row with
   * `right.ts <= left.ts` in the same key group, or nulls if none
   * (LEFT-asof semantics, DuckDB's `ASOF LEFT JOIN`). Planned as the
   * streaming sort-merge [[graft.plans.AsOfJoinExec]]: both sides
   * clustered on the key and sorted by (key, ts), then one pass per
   * partition with one carried row of state.
   *
   * `left`/`right` must both have `keyCol` and `tsCol` (integral µs, or
   * any [[EventTime.normalizeMicros]]-accepted type). The output is the
   * left columns, then `asof_<tsCol>` and `asof_<c>` for each of
   * `valueCols`, taken from `right`. A NULL key or ts on either side
   * matches nothing. With `toleranceMicros`, a match more than that
   * far from the left row is treated as absent (pandas `merge_asof`
   * semantics). Right rows must be unique per (key, ts) for
   * determinism — pre-aggregate if needed.
   */
  def asOfJoin(
      left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, valueCols: Seq[String],
      toleranceMicros: Option[Long] = None): DataFrame =
    asOfMerge(left, right, keyCol, tsCol, valueCols, toleranceMicros, nearest = false)

  /**
   * FORWARD as-of join: for every left row, the EARLIEST right row with
   * `right.ts >= left.ts` in the same key group (pandas
   * `merge_asof(direction='forward')`). Implemented as the exact mirror
   * of [[asOfJoin]] under time negation — run the backward join on −ts —
   * so the plan shape, null handling, tolerance and equal-ts INCLUSIVE
   * boundary all carry over unchanged.
   */
  def asOfJoinForward(
      left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, valueCols: Seq[String],
      toleranceMicros: Option[Long] = None): DataFrame = {
    val nl = EventTime.normalizeMicros(left, tsCol).withColumn(tsCol, -col(tsCol))
    val nr = EventTime.normalizeMicros(right, tsCol).withColumn(tsCol, -col(tsCol))
    asOfJoin(nl, nr, keyCol, tsCol, valueCols, toleranceMicros)
      .withColumn(tsCol, -col(tsCol))
      .withColumn(s"asof_$tsCol", -col(s"asof_$tsCol"))
  }

  /**
   * NEAREST as-of join: for every left row, the right row in the same
   * key group whose ts is CLOSEST (either direction); ties — equal
   * distance before and after — resolve to the earlier (backward) row,
   * deterministically. Same output schema and plan shape as
   * [[asOfJoin]]: the merge's carried row is the backward candidate and
   * the next right row of the key the forward one.
   */
  def asOfJoinNearest(
      left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, valueCols: Seq[String]): DataFrame =
    asOfMerge(left, right, keyCol, tsCol, valueCols, None, nearest = true)

  /** The as-of joins' one plan: an [[graft.plans.AsOfJoinNode]] over the
    * µs-normalized sides, with [[graft.plans.AsOfJoinStrategy]]
    * registered in the session on first use. */
  private def asOfMerge(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, valueCols: Seq[String], toleranceMicros: Option[Long],
      nearest: Boolean): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val spark = left.sparkSession
    ColumnBridge.addStrategy(spark, graft.plans.AsOfJoinStrategy)
    // the merge reads ts as a long; narrower integral µs are widened
    def side(df: DataFrame) = {
      val n = EventTime.normalizeMicros(df, tsCol)
      ColumnBridge.analyzed(
        if (n.schema(tsCol).dataType == LongType) n
        else n.withColumn(tsCol, col(tsCol).cast(LongType)))
    }
    ColumnBridge.ofRows(spark, graft.plans.AsOfJoinNode(side(left), side(right),
      keyCol, tsCol, valueCols, outPrefix = "asof_", toleranceMicros, nearest))
  }

  /**
   * POINT-IN-TIME join — the leak-free feature-store lookup: each fact
   * row picks the SCD2 dimension version ([[scd2Intervals]] shape:
   * key + [valid_from_us, valid_to_us) half-open intervals) valid AT
   * THE FACT'S OWN TIME; a plain latest-value join would leak future
   * attribute values into past training rows. Equi-join on the key
   * with the interval predicate as a residual filter — SCD2 versions
   * are non-overlapping per key, so at most one dim row matches and
   * output size equals the fact side. `tsCol` is epoch-µs (or any
   * [[EventTime.normalizeMicros]]-accepted type). Streaming twin:
   * [[graft.streaming.EventStreams.pointInTimeEnrich]].
   */
  def pointInTimeJoin(facts: DataFrame, scd2Dim: DataFrame, key: String,
      tsCol: String, dimValueCols: Seq[String]): DataFrame = {
    val f = EventTime.normalizeMicros(facts, tsCol)
    val d = scd2Dim.select(
      (col(key).as("__dk") +: col("valid_from_us") +: col("valid_to_us") +:
        dimValueCols.map(c => col(c).as(s"dim_$c"))): _*)
    f.join(d,
        col(key) === col("__dk") && col(tsCol) >= col("valid_from_us") &&
          (col("valid_to_us").isNull || col(tsCol) < col("valid_to_us")),
        "left_outer")
      .drop("__dk")
  }

  /**
   * Ordered funnel analysis: for each key, the earliest time of stage 1,
   * the earliest stage-2 event strictly after it, the earliest stage-3
   * event strictly after that, and so on. Greedy-earliest matching —
   * the standard product-analytics funnel. Each stage is one
   * aggregation over the events pre-filtered to the funnel's types, then
   * an equi-join of the per-key frontier onto the next stage's events.
   * No broadcast hint on the frontier: it is one row per key — unbounded
   * cardinality at 100 TB, so a forced broadcast could OOM the driver.
   * AQE broadcasts it at runtime when it IS small; otherwise both sides
   * hash-partition on the key and the event table is still scanned once
   * per stage, never shuffled whole.
   */
  def funnel(events: DataFrame, keyCol: String, tsCol: String, typeCol: String,
      stages: Seq[String]): DataFrame = {
    val e = EventTime.normalizeMicros(events, tsCol).select(col(keyCol), col(tsCol), col(typeCol))
    var frontier = e.filter(col(typeCol) === stages.head)
      .groupBy(col(keyCol))
      .agg(min(col(tsCol)).as("t1"))
    stages.zipWithIndex.tail.foreach { case (stage, i) =>
      val prev = s"t$i"
      val cur = s"t${i + 1}"
      frontier = e.filter(col(typeCol) === stage)
        .join(frontier, keyCol)
        .filter(col(tsCol) > col(prev))
        .groupBy((col(keyCol) +: (1 to i).map(j => col(s"t$j"))): _*)
        .agg(min(col(tsCol)).as(cur))
    }
    frontier
  }

  /**
   * Banded range self-join: all pairs of rows in the same key group
   * within `maxGapMicros` of each other. Spark-first form of a range
   * join: bucket time into gap-sized windows, explode the right side
   * into its bucket and the previous one, equi-join on (key, bucket),
   * then apply the exact |Δt| filter. The equi-join hash-partitions —
   * the naive inequality join would cross-product every key group,
   * which dies at 100 TB; this form's cost is output-proportional.
   */
  def rangeSelfJoin(
      events: DataFrame, keyCol: String, tsCol: String, idCol: String,
      maxGapMicros: Long): DataFrame = {
    require(maxGapMicros > 0, s"maxGapMicros must be > 0, got $maxGapMicros")
    val e = EventTime.normalizeMicros(events, tsCol).select(
      col(keyCol), col(tsCol),
      col(idCol), expr(s"$tsCol div ${maxGapMicros}L").as("__wid"))
    val l = e.select(
      col(keyCol), col("__wid"),
      col(tsCol).as("__ts_l"), col(idCol).as("__id_l"))
    val r = e.select(
      col(keyCol),
      explode(array(col("__wid") - 1, col("__wid"))).as("__wid"),
      col(tsCol).as("__ts_r"), col(idCol).as("__id_r"))
    l.join(r, Seq(keyCol, "__wid"))
      .filter(col("__id_l") =!= col("__id_r"))
      .filter(abs(col("__ts_l") - col("__ts_r")) <= maxGapMicros)
      .select(
        col(keyCol),
        least(col("__id_l"), col("__id_r")).as("id1"),
        greatest(col("__id_l"), col("__id_r")).as("id2"),
        abs(col("__ts_l") - col("__ts_r")).as("dt_us"))
      .distinct()
  }

  /**
   * LABEL WINDOW — supervised-label generation: for every fact row,
   * aggregate the key's outcomes in the STRICTLY-FUTURE horizon
   * (fact_ts, fact_ts + horizon] — "did the user purchase within N
   * hours of this click, how many times, how much, and when first".
   * The strict lower bound keeps the label leak-free (an outcome AT
   * the fact's own instant is not a consequence of it); facts with no
   * outcome keep n=0 / sum=0 / null first time. Values integer-micro
   * summed (exact under any partitioning, cross-engine).
   *
   * Same banded shape as [[rangeSelfJoin]]: outcomes explode into
   * their horizon-bucket and the previous one, the join is equi on
   * (key, bucket) with the exact window predicate as a residual —
   * output-proportional where a naive inequality join cross-products
   * every key group. The label aggregation keys on the fact id, and
   * the final left join restores zero-outcome facts.
   */
  def labelWindow(facts: DataFrame, outcomes: DataFrame, keyCol: String,
      tsCol: String, factIdCol: String, valueCol: String,
      horizonMicros: Long): DataFrame = {
    require(horizonMicros > 0, s"horizonMicros must be > 0, got $horizonMicros")
    val f = EventTime.normalizeMicros(facts, tsCol).select(
      col(keyCol), col(tsCol), col(factIdCol),
      expr(s"$tsCol div ${horizonMicros}L").as("__wid"))
    val o = EventTime.normalizeMicros(outcomes, tsCol).select(
      col(keyCol),
      explode(array(expr(s"$tsCol div ${horizonMicros}L"),
        expr(s"$tsCol div ${horizonMicros}L") - 1)).as("__wid"),
      col(tsCol).as("__ots"),
      round(col(valueCol) * 1e6).cast("long").as("__omicro"))
    val lab = f.join(o, Seq(keyCol, "__wid"))
      .filter(col("__ots") > col(tsCol) && col("__ots") <= col(tsCol) + horizonMicros)
      .groupBy(col(factIdCol))
      .agg(count(lit(1)).as("n_outcomes"),
        min(col("__ots")).as("first_outcome_us"),
        sum(col("__omicro")).as("outcome_sum_micro"))
    f.select(col(factIdCol), col(keyCol), col(tsCol))
      .join(lab, Seq(factIdCol), "left")
      .select(col(factIdCol), col(keyCol), col(tsCol),
        coalesce(col("n_outcomes"), lit(0L)).as("n_outcomes"),
        col("first_outcome_us"),
        coalesce(col("outcome_sum_micro"), lit(0L)).as("outcome_sum_micro"))
  }

  /**
   * General two-table banded range join: all (left, right) row pairs in
   * the same key group with |left.ts - right.ts| <= maxGapMicros. Same
   * Spark-first shape as [[rangeSelfJoin]]: the right side explodes into
   * its gap-bucket and the two adjacent ones, the join is equi on
   * (key, bucket), and the exact |Δt| predicate filters after — cost is
   * output-proportional where a naive inequality join cross-products
   * every key group. `leftCols`/`rightCols` are carried through.
   */
  def rangeJoin(
      left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String,
      leftCols: Seq[String], rightCols: Seq[String],
      maxGapMicros: Long): DataFrame = {
    // gap 0 would divide by zero in the bucketing; equal-ts pairs are a
    // plain equi-join on (key, ts), not a range join
    require(maxGapMicros > 0, s"maxGapMicros must be > 0, got $maxGapMicros")
    val l = EventTime.normalizeMicros(left, tsCol).select(
      (Seq(col(keyCol), expr(s"$tsCol div ${maxGapMicros}L").as("__wid"),
        col(tsCol).as("__ts_l")) ++ leftCols.map(c => col(c).as(s"l_$c"))): _*)
    val r = EventTime.normalizeMicros(right, tsCol).select(
      (Seq(col(keyCol), expr(s"$tsCol div ${maxGapMicros}L").as("__wid0"),
        col(tsCol).as("__ts_r")) ++ rightCols.map(c => col(c).as(s"r_$c"))): _*)
      .select(
        (Seq(col(keyCol),
          explode(array(col("__wid0") - 1, col("__wid0"), col("__wid0") + 1)).as("__wid"),
          col("__ts_r")) ++ rightCols.map(c => col(s"r_$c"))): _*)
    // no distinct needed: a (left,right) row pair can match in at most
    // ONE bucket (left has one wid; the exploded right wids are unique),
    // unlike the canonicalized self-join which sees each pair twice
    l.join(r, Seq(keyCol, "__wid"))
      .filter(abs(col("__ts_l") - col("__ts_r")) <= maxGapMicros)
      .select(
        (Seq(col(keyCol), col("__ts_l").as("ts_l"), col("__ts_r").as("ts_r"),
          abs(col("__ts_l") - col("__ts_r")).as("dt_us")) ++
          leftCols.map(c => col(s"l_$c")) ++ rightCols.map(c => col(s"r_$c"))): _*)
  }

  /** Tumbling 5-minute windows per event_type: window_id = µs ÷ 5 min.
    * Integer `div` — double division would lose precision on epoch-micros
    * scale longs; µs (not ns) so the boundary decision is engine-portable. */
  def tumblingWindows(events: DataFrame, windowMicros: Long = 300L * 1000000L): DataFrame =
    EventTime.normalizeTs(events)
      .groupBy(
        col("event_type"),
        expr(s"(ts div 1000L) div ${windowMicros}L").as("window_id"))
      .agg(
        count(lit(1)).as("n"),
        // exact integer micro-unit sum — see sessionize
        round(sum(round(col("value") * 1000000).cast("long")) / 1000000.0, 6)
          .as("sum_value"))

  /**
   * Cohort retention: cohort = each user's first active DAY (epoch-µs ÷
   * 86400e6, integer div — engine-portable); for every (cohort_day,
   * day_offset ≤ maxOffsetDays) count the distinct users still active.
   * The classic "day-N retention" triangle.
   *
   * Shuffle shape: the (user, day) distinct, the per-user min, and the
   * user-keyed join all hash on user_id — AQE reuses/plans them as one
   * key family; the final (cohort, offset) aggregate is tiny (days² at
   * most). No broadcast hints: the user dimension is unbounded.
   */
  def retention(events: DataFrame, maxOffsetDays: Int = 30): DataFrame = {
    val days = EventTime.normalizeTs(events)
      .select(col("user_id"),
        expr("(ts div 1000L) div 86400000000L").as("day"))
      .distinct()
    val cohorts = days.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    days
      .join(cohorts, "user_id")
      .withColumn("day_offset", (col("day") - col("cohort_day")).cast("int"))
      .filter(col("day_offset") <= maxOffsetDays)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /**
   * Trailing moving aggregate per user: for every event, the count and
   * average of `value` over the events in [ts − windowMicros, ts] of the
   * same user. A RANGE frame over integral µs — the frame is defined by
   * the TIME VALUE, not row position, so equal-timestamp peers are all
   * included and the result is deterministic under any partitioning
   * (no tie-break needed). One shuffle, partitioned by user — the window
   * never sees more than one user's history per task at any scale.
   * Value sums are integral micros (order-free exact).
   *
   * `avg_value` follows SQL avg() semantics: rows with null `value` are
   * excluded from the denominator (an all-null frame yields null).
   * `n_win` deliberately counts ALL events in the frame, null values
   * included — it measures activity, not value coverage.
   */
  def movingAvg(events: DataFrame, windowMicros: Long): DataFrame = {
    require(windowMicros > 0, s"windowMicros must be > 0, got $windowMicros")
    val e = EventTime.normalizeTs(events).select(
      col("user_id"), col("event_id"),
      expr("ts div 1000L").as("tsu"),
      round(col("value") * 1000000).cast("long").as("vmic"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
      .rangeBetween(-windowMicros, 0)
    e.select(
      col("user_id"), col("event_id"), col("tsu"),
      count(lit(1)).over(w).as("n_win"),
      round(sum(col("vmic")).over(w) /
        (count(col("vmic")).over(w) * lit(1000000.0)), 6).as("avg_value"))
  }

  /**
   * Trailing MULTI-HORIZON activity features per (user, active day) —
   * the feature-generation staple that pairs with [[pointInTimeJoin]]
   * (build features here, join them point-in-time there): for every day
   * a user is active, the event count over the trailing 1/7/28-day
   * windows, the trailing-7-day value sum, and the gap in days since
   * the previous active day (recency).
   *
   * Scale shape: events pre-aggregate to one row per (user, day) — a
   * partial-aggregable (map-side-combined) shuffle that shrinks the
   * stream by the per-user daily density BEFORE any window runs — then
   * all three trailing frames plus the recency lag share that ONE
   * user-partitioned exchange over the compact day frame. The frames
   * are RANGE over the integral day number (calendar-correct across
   * absent days: 7 DAYS, not 7 rows — a user active twice a month must
   * NOT see January in a "7-day" window), so a sparse user costs only
   * their active days and no densification ever materializes. Value
   * sums are integral micros (order-free exact), divided and 6-dp
   * rounded once at the end. `days_since_prev` is null on a user's
   * first active day.
   */
  def featureWindows(events: DataFrame): DataFrame =
    featureWindowsFromDays(featureDayFrame(events))

  /** The STORABLE state behind [[featureWindows]]: one row per (user,
    * active day) with exact integral partials (event count + micro
    * value sum). Additive — two frames for disjoint event sets merge
    * by summing, which is what makes the incremental path exact. */
  def featureDayFrame(events: DataFrame): DataFrame =
    EventTime.normalizeTs(events)
      .select(col("user_id"), expr("ts div 86400000000000L").as("day"),
        round(col("value") * 1000000).cast("long").as("vmic"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_1d"), sum(col("vmic")).as("vm"))

  /** Merge a stored [[featureDayFrame]] with a NEW raw event shard —
    * the day partials are additive, so this is one union + one
    * re-aggregation of only (user, day) rows, never a re-scan of
    * history's raw events. */
  def mergeFeatureDays(stored: DataFrame, newEvents: DataFrame): DataFrame =
    stored.unionByName(featureDayFrame(newEvents))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("n_1d")).as("n_1d"), sum(col("vm")).as("vm"))

  /** The window stage of [[featureWindows]] over a day frame. */
  def featureWindowsFromDays(d: DataFrame): DataFrame = {
    def trailing(days: Int) = Window.partitionBy(col("user_id"))
      .orderBy(col("day")).rangeBetween(-(days - 1), 0)
    val wl = Window.partitionBy(col("user_id")).orderBy(col("day"))
    d.select(col("user_id"), col("day"), col("n_1d"),
      sum(col("n_1d")).over(trailing(7)).as("n_7d"),
      sum(col("n_1d")).over(trailing(28)).as("n_28d"),
      round(sum(col("vm")).over(trailing(7)) / 1000000.0, 6).as("v_7d"),
      (col("day") - lag(col("day"), 1).over(wl)).as("days_since_prev"))
  }

  /**
   * INCREMENTAL feature refresh — the feature-store maintenance path:
   * given the persisted [[featureDayFrame]] of all history and today's
   * raw shard, produce the refreshed [[featureWindows]] rows for
   * EXACTLY the users the shard touched (their features are the only
   * ones that can change — the windows are per-user), without
   * re-scanning a single historical raw event. The caller overwrites
   * those users' feature rows and persists the merged day frame
   * ([[mergeFeatureDays]]) for tomorrow.
   *
   * Exactness: the day partials are additive integers, so
   * merge-then-window equals full recompute bit-for-bit (spec-proven).
   * Scale shape: the shard's day frame is tiny; the touched-user cut
   * is one LEFT SEMI join on user_id BEFORE the window runs, so the
   * window sorts only touched users' day rows — a daily shard touching
   * 1% of users costs 1% of the full re-window, plus one shuffle of
   * the stored day frame (already thousands of times smaller than raw
   * history).
   */
  def featureWindowsIncremental(storedDays: DataFrame,
      newEvents: DataFrame): DataFrame = {
    val delta = featureDayFrame(newEvents)
    val touched = delta.select(col("user_id")).distinct()
    val merged = storedDays.unionByName(delta)
      .join(touched, Seq("user_id"), "left_semi")
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("n_1d")).as("n_1d"), sum(col("vm")).as("vm"))
    featureWindowsFromDays(merged)
  }

  /**
   * Per-type z-score outliers: events whose `value` deviates from their
   * event_type's mean by more than `threshold` population standard
   * deviations. The moments are EXACT integer sums (micros for Σx,
   * decimal(38,0) for Σx² — a long Σx² would overflow at ~10 rows of
   * 1e3-scale values), so mean/sd are bit-identical under any
   * partitioning or engine; the double arithmetic happens once, in a
   * fixed operation order, after the exact sums. One aggregate over the
   * handful of event types (broadcast back), one narrow filter pass —
   * two scans, zero wide shuffles of the event stream itself.
   */
  def zscoreOutliers(events: DataFrame, threshold: Double): DataFrame = {
    val e = events.select(
      col("event_id"), col("event_type"), col("value"),
      round(col("value") * 1000000).cast("long").as("vmic"))
    val stats = e.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("vmic")).as("s1"),
      sum((col("vmic").cast("decimal(19,0)") * col("vmic").cast("decimal(19,0)"))
        .cast("decimal(38,0)")).as("s2"))
    val mean = col("s1").cast("double") / col("n").cast("double")
    val variance = col("s2").cast("double") / col("n").cast("double") - mean * mean
    val z = (col("vmic").cast("double") - mean) / sqrt(variance)
    // variance > 0 guard: a constant group gives z = 0/0 = NaN, and BOTH
    // Spark and DuckDB order NaN above every number — without the guard a
    // zero-variance group would flag ALL its rows
    e.join(broadcast(stats), "event_type")
      .filter(variance > 0 && abs(z) > threshold)
      .select(col("event_id"), col("event_type"), col("value"),
        round(z, 6).as("zscore"))
  }

  /**
   * Maximum session concurrency per day — a DISTRIBUTED sweep line. The
   * naive form (sort all boundaries globally, one running sum) is a
   * single-partition window that dies at scale; this is the two-phase
   * prefix-sum instead:
   *
   *   1. boundary deltas (+1 at start, −1 at end+1), NETTED per instant
   *      (groupBy t — also removes any intra-tie ordering concern);
   *   2. running sum WITHIN each day (window partitioned by day — scale
   *      safe), folded to per-day (max run, day total, first instant) by
   *      a SHUFFLE-FREE groupBy — the frame is already day-partitioned;
   *   3. everything else happens on the tiny #days-row frame: the
   *      carry-in offset is a running sum over preceding day totals (the
   *      one place a global window is bounded and safe).
   *
   * concurrency(t) = carry_in(day) + within_day_run(t) — all integral —
   * with two day-boundary cases the in-day maximum alone would miss:
   *
   *   - a day whose first boundary lies after the day start spends
   *     [day_start, first_t) at the carry-in plateau — `off` itself is a
   *     max candidate (a day opening on a session END would otherwise
   *     under-report);
   *   - a day fully spanned by open sessions has no boundary rows at
   *     all — such days are densified from the per-day frame via
   *     lead(day) gaps (never touching the big frame twice) and report
   *     the plateau.
   */
  def maxConcurrency(sessions: DataFrame,
      startCol: String = "start_us", endCol: String = "end_us"): DataFrame = {
    // explode, not union: a union of two selects over `sessions` evaluates
    // the (possibly expensive) session pipeline TWICE; the exploded
    // 2-struct array emits both boundary deltas in one narrow pass
    // (audited: the union form ran sessionize 4× in q_concurrency)
    val deltas = sessions
      .select(explode(array(
        struct(col(startCol).cast("long").as("t"), lit(1L).as("d")),
        struct((col(endCol).cast("long") + 1L).as("t"), lit(-1L).as("d")))).as("e"))
      .select(col("e.t").as("t"), col("e.d").as("d"))
      .groupBy(col("t")).agg(sum(col("d")).as("d"))
      .withColumn("day", expr("t div 86400000000L"))
    val wDay = Window.partitionBy(col("day")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withinDay = deltas.withColumn("run", sum(col("d")).over(wDay))
    // per-day fold: in-day max, day total (run at the day's LAST instant)
    // and first boundary instant — combinable aggregates over the
    // day-partitioned window output, so no additional exchange
    val perDay = withinDay.groupBy(col("day")).agg(
      max(col("run")).as("mrun"),
      graft.functions.GraftFunctions.max_by(col("run"), col("t")).as("dtot"),
      min(col("t")).as("first_t"))
    // densify [day, next_day) from each boundary day — generated rows
    // beyond the first are the fully-spanned days (no boundaries)
    val dense = perDay
      .withColumn("next_day", lead(col("day"), 1).over(Window.orderBy(col("day"))))
      .select(col("day").as("bday"), col("mrun"), col("dtot"), col("first_t"),
        explode(sequence(col("day"),
          coalesce(col("next_day") - 1, col("day")))).as("day"))
    val wOff = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = coalesce(
      sum(when(col("day") === col("bday"), col("dtot")).otherwise(0L)).over(wOff),
      lit(0L))
    dense.select(col("day"),
      when(col("day") =!= col("bday"), off) // spanned day: plateau all day
        .when(col("first_t") > col("day") * 86400000000L,
          greatest(off, off + col("mrun"))) // carry-in plateau before first boundary
        .otherwise(off + col("mrun"))
        .as("max_concurrency"))
  }

  /**
   * First-order Markov transition matrix over per-user event sequences:
   * P(next = dst | cur = src) = c(src→dst) / Σ_dst c(src→dst).
   * One user-partitioned window (the lead), one combinable count
   * aggregation; the per-source normalization runs on the |types|² count
   * frame — bounded regardless of event volume, so its window is free.
   * Ordering is (µs, event_id): deterministic, and identical to the
   * oracle's because both engines see µs timestamps.
   */
  def transitions(events: DataFrame): DataFrame = {
    val e = EventTime.normalizeTs(events).select(
      col("user_id"), col("event_type"), expr("ts div 1000L").as("tsu"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
    val pairs = e
      .select(col("event_type").as("src"), lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
    val wSrc = Window.partitionBy(col("src"))
    pairs.select(
      col("src"), col("dst"), col("cnt"),
      round(col("cnt") / sum(col("cnt")).over(wSrc), 6).as("p"))
  }

  /**
   * Per-user time-weighted average of `value`: each reading holds until
   * the next one, so the weight is the µs gap to the successor
   * (step-function integral / observation span — the right mean for
   * irregularly-sampled gauges, where the plain mean over-weights bursts).
   * Integral arithmetic end-to-end: micro-scaled values × µs durations
   * summed in decimal(38,0) (a long would overflow at vmic·dur ≈ 1e8·1e11),
   * ONE double division at the end — exact and order-free under any
   * partitioning. Single user-partitioned window shuffle; users with one
   * event (span 0) are excluded.
   */
  def timeWeightedAvg(events: DataFrame): DataFrame = {
    val e = EventTime.normalizeTs(events).select(
      col("user_id"), expr("ts div 1000L").as("tsu"), col("event_id"),
      round(col("value") * 1000000).cast("long").as("vmic"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
    e.select(
        col("user_id"), col("tsu"), col("vmic"),
        (lead(col("tsu"), 1).over(w) - col("tsu")).as("dur"))
      .filter(col("dur").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        round(
          // zero-elapsed guard: a SAME-INSTANT burst gives every segment
          // dur = 0, and ANSI division by the zero total THROWS (it does
          // not NULL) — one bursty key would kill the job. TWA over zero
          // elapsed time is undefined -> NULL, mirrored by the oracle.
          when(sum(col("dur")) > 0,
            // cast BEFORE the product: vmic (~1e9 for 1e3-scale values) ×
            // µs gaps (~1e11) exceeds a long; decimal(38,0)×long is exact
            sum(col("vmic").cast("decimal(38,0)") * col("dur")).cast("double") /
              (sum(col("dur")).cast("double") * 1000000.0)), 6).as("twa_value"))
  }

  /**
   * Daily + trailing-window distinct users (DAU / WAU): each (user, day)
   * activity row contributes to `windowDays` trailing target days, so a
   * single explode(0..w−1) + one distinct-aggregate shuffle computes every
   * day's rolling distinct EXACTLY — no per-day self-join, no O(days²)
   * range join. Shuffle volume is w × |user-days| (after an exact
   * per-day dedup that combines map-side), not w × |events|. Target days
   * with no activity of their own are dropped (join back to real days —
   * a bounded frame AQE broadcasts).
   */
  def rollingDistinctUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val userDays = EventTime.normalizeTs(events)
      .select(expr("ts div 86400000000000L").as("day"), col("user_id"))
      .distinct()
    val days = userDays.select(col("day")).distinct()
    val targeted = userDays
      .select(col("day"), col("user_id"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("off"))
      .select((col("day") + col("off")).as("day"), col("user_id"), col("off"))
      .join(days, "day")
    // dau and wau as SEPARATE distinct aggregations joined on day: two
    // distinct families in one agg would Expand-duplicate the exploded
    // stream (see q_hll_grouped); dau needs no explode at all — it is
    // the per-day userDays count
    val wau = targeted.select(col("day"), col("user_id")).distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    val dau = userDays.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    wau.join(dau, Seq("day"), "left_outer")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"), col("wau"))
  }

  /**
   * BOUNCE RATE per session-start day — the share of visits that
   * ended after ONE event: [[sessionize]]'s output collapsed to
   * (day, sessions, bounces, rate). Integer counts on the compact
   * session frame, one fixed-order ratio; a day with sessions always
   * has ≥ 1, so the division is total.
   */
  def bounceRate(events: DataFrame): DataFrame =
    sessionize(events)
      .groupBy(expr("start_us div 86400000000L").as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("n_bounces"))
      .select(col("day"), col("n_sessions"), col("n_bounces"),
        round(col("n_bounces").cast("double") /
          col("n_sessions").cast("double"), 6).as("bounce_rate"))

  /**
   * STICKINESS — DAU / trailing-`windowDays` MAU per day, the
   * engagement ratio product teams track ("of everyone active this
   * month, how many came back today"): 1.0 = everyone daily, ~1/30 =
   * everyone monthly. Built on [[rollingDistinctUsers]]'s explode
   * shape (exact distinct counts, no self-join); the ratio is one
   * fixed-order double per observed day, and an observed day always
   * has dau ≥ 1 so the division can't hit zero.
   */
  def stickiness(events: DataFrame, windowDays: Int = 28): DataFrame =
    rollingDistinctUsers(events, windowDays)
      .select(col("day"), col("dau"), col("wau").as("mau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6)
          .as("stickiness"))

  /**
   * Sketch-based DAU/WAU — the 100-TB shape of [[rollingDistinctUsers]]:
   * ONE pass builds a 2^b-byte HLL register array per day (map-side
   * combinable, so the shuffle carries a few sketches per partition —
   * not w × |user-days| exploded rows, and no exact-distinct state of
   * every user id per reducer). The trailing-window merge then runs
   * entirely on the tiny #days-row frame: explode the offsets THERE and
   * element-wise-max the register arrays per target day. Deterministic
   * (md5 sketches) → engine-replayable like [[graft.functions.HllSketchAgg]].
   * Target days with no activity of their own are dropped via the
   * off=0 marker — no second pass over the events to build a day list.
   */
  def rollingActiveHll(events: DataFrame, windowDays: Int = 7, b: Int = 8): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    import graft.functions.GraftFunctions.{hll_merge_est, hll_registers}
    val perDay = EventTime.normalizeTs(events)
      .select(expr("ts div 86400000000000L").as("day"),
        col("user_id").cast("string").as("u"))
      .groupBy(col("day"))
      .agg(hll_registers(col("u"), b).as("regs"))
    perDay
      .select(col("day"), col("regs"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("off"))
      .select((col("day") + col("off")).as("day"), col("regs"), col("off"))
      .groupBy(col("day"))
      .agg(
        round(hll_merge_est(when(col("off") === 0, col("regs")), b), 2).as("dau_est"),
        round(hll_merge_est(col("regs"), b), 2).as("wau_est"),
        max(when(col("off") === 0, lit(1)).otherwise(lit(0))).as("own"))
      .filter(col("own") === 1)
      .drop("own")
  }

  /**
   * Resample an irregular per-user series to a daily grid with
   * last-observation-carried-forward — the gauge-to-grid step before
   * any same-granularity join or model feature build:
   *
   *   1. per (user, day): the LAST event's value (row_number over the
   *      deterministic (ts, event_id) order — identical in any engine);
   *   2. per user: dense day grid min_day..max_day (sequence+explode —
   *      bounded by the observation span, never a global calendar);
   *   3. LOCF: last non-null observation over the day-ordered window.
   *
   * Values are copied, never recomputed — no float arithmetic, exact in
   * every engine. Grid rows before a user's first observation cannot
   * exist (grid starts at min observed day). One user_id exchange
   * serves the per-day dedup, the grid, and the carry-forward window.
   */
  def resampleDailyLocf(events: DataFrame): DataFrame = {
    val byUserDay = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("tsu").desc, col("event_id").desc)
    val daily = EventTime.normalizeTs(events)
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("tsu"), col("value"))
      .withColumn("day", expr("tsu div 86400000000"))
      .withColumn("rn", row_number().over(byUserDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value").as("day_value"))
    val grid = daily
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val carry = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(daily, Seq("user_id", "day"), "left_outer")
      .select(col("user_id"), col("day"),
        last(col("day_value"), ignoreNulls = true).over(carry).as("value_locf"),
        when(col("day_value").isNotNull, lit(1)).otherwise(lit(0)).as("observed"))
  }

  /**
   * Daily resampling with LINEAR INTERPOLATION — the smooth-gauge
   * complement of [[resampleDailyLocf]]: each user's observed days pin
   * the curve and the dense in-between days take
   * v = prev + (next − prev)·(day − prevDay)/(nextDay − prevDay).
   *
   * Determinism: prev/next values are 6-dp-rounded COPIES of the raw
   * value, and the interpolation is a fixed-order IEEE expression over
   * per-row scalars (no cross-row float sum exists to reorder), so any
   * engine and any partitioning produce the identical double, rounded
   * once at output. Null-valued observations are dropped (they pin
   * nothing). One keyed window cascade: all four carry windows reuse the
   * (user_id) exchange and the grid is bounded by each user's own
   * observation span — never a global calendar explode.
   */
  def resampleDailyInterp(events: DataFrame): DataFrame = {
    val byUserDay = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("tsu").desc, col("event_id").desc)
    val daily = EventTime.normalizeTs(events)
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("tsu"),
        round(col("value"), 6).as("v"))
      .withColumn("day", expr("tsu div 86400000000"))
      .withColumn("rn", row_number().over(byUserDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("v"))
    val grid = daily
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val back = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val fwd = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(0, Window.unboundedFollowing)
    grid.join(daily, Seq("user_id", "day"), "left_outer")
      .withColumn("pd", last(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(back))
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
      .withColumn("nd", first(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(fwd))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
      .select(col("user_id"), col("day"),
        round(when(col("pd") === col("nd"), col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            (col("day") - col("pd")).cast("double") /
            (col("nd") - col("pd")).cast("double")), 6).as("value_interp"),
        when(col("v").isNotNull, lit(1)).otherwise(lit(0)).as("observed"))
  }

  /**
   * SCD-type-2 interval build (the CDC WRITE-side twin of the
   * latest-record-wins merge): compress each (user, type) event stream
   * to its value CHANGE points and attach [valid_from, valid_to)
   * validity intervals — valid_to of the last interval is NULL (current
   * row). The standard dimension-history layout a warehouse merge
   * produces.
   *
   * Change detection is null-safe (`<=>`): a null value is a state like
   * any other, not a wildcard. Both windows share ONE (user_id,
   * event_type) exchange and sort — the lag filter and the lead
   * re-link run back to back in the same partition order, so the whole
   * operator is one shuffle. Values are copied, never recomputed —
   * exact in every engine.
   */
  def scd2Intervals(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("tsu").asc, col("event_id").asc)
    val changes = EventTime.normalizeTs(events)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts div 1000").as("tsu"),
        // 6-dp round like the latest-value twin: the value is COPIED, so
        // the round is identical in every engine (cross-engine hash rule)
        round(col("value"), 6).as("value"))
      .withColumn("prev", lag(col("value"), 1).over(w))
      .withColumn("is_first", row_number().over(w) === 1)
      .filter(col("is_first") || !(col("value") <=> col("prev")))
    changes
      .select(col("user_id"), col("event_type"), col("value"),
        col("tsu").as("valid_from_us"),
        lead(col("tsu"), 1).over(Window
          .partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("tsu").asc, col("event_id").asc)).as("valid_to_us"))
  }

  /**
   * MULTI-TOUCH ATTRIBUTION: for every conversion, find the same key's
   * touch events in the strictly-before lookback window
   * [conv_ts - lookback, conv_ts) and assign conversion credit — the
   * linear model (value / n_touches to every touch) with first- and
   * last-touch flags so single-touch models are a filter away. One
   * output row per (conversion, touch); conversions with no touch in
   * the window emit nothing (they are unattributable, the caller can
   * anti-join for them).
   *
   * Scale shape mirrors [[labelWindow]] run backwards: touches explode
   * into their lookback-bucket and the NEXT one (a conversion only
   * looks back, so a touch can only serve conversions in its own or
   * the following bucket), the join is equi on (key, bucket) with the
   * exact window predicate as a residual — output-proportional, never
   * a per-key cross product. The per-conversion n/first/last run in a
   * window partitioned by conversion id: bounded groups (touches of
   * one key within one lookback window), never a global sort. Credit
   * divides the 6-dp-rounded value by an exact integer count — ANSI-
   * safe (n >= 1 by construction) and engine-exact.
   */
  def attribution(touches: DataFrame, conversions: DataFrame,
      keyCol: String, tsCol: String, touchIdCol: String, convIdCol: String,
      valueCol: String, lookbackMicros: Long): DataFrame = {
    require(lookbackMicros > 0, s"lookbackMicros must be > 0, got $lookbackMicros")
    val c = EventTime.normalizeMicros(conversions, tsCol).select(
      col(keyCol), col(convIdCol), col(tsCol).as("conv_tsu"),
      round(col(valueCol), 6).as("__value"),
      expr(s"$tsCol div ${lookbackMicros}L").as("__wid"))
    val t = EventTime.normalizeMicros(touches, tsCol).select(
      col(keyCol), col(touchIdCol), col(tsCol).as("touch_tsu"))
      .select(col(keyCol), col(touchIdCol), col("touch_tsu"),
        explode(array(expr(s"touch_tsu div ${lookbackMicros}L"),
          expr(s"touch_tsu div ${lookbackMicros}L") + 1)).as("__wid"))
    val joined = c.join(t, Seq(keyCol, "__wid"))
      .filter(col("touch_tsu") < col("conv_tsu") &&
        col("touch_tsu") >= col("conv_tsu") - lookbackMicros)
    val byConv = Window.partitionBy(col(convIdCol))
    val ordAsc = byConv.orderBy(col("touch_tsu").asc, col(touchIdCol).asc)
    val ordDesc = byConv.orderBy(col("touch_tsu").desc, col(touchIdCol).desc)
    joined
      .withColumn("n_touches", count(lit(1)).over(byConv))
      .withColumn("first_touch", row_number().over(ordAsc) === 1)
      .withColumn("last_touch", row_number().over(ordDesc) === 1)
      .select(col(keyCol), col(convIdCol), col("conv_tsu"),
        col(touchIdCol), col("touch_tsu"), col("n_touches"),
        col("first_touch"), col("last_touch"),
        round(col("__value") / col("n_touches"), 6).as("linear_credit"))
  }

  /** The experiment arm (0 control, 1 treatment) of `user_id`: the low
    * bit of its md5's first 32 bits — the same split in every engine. */
  private def userArm: Column =
    (conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 2).cast("int")

  /** Per user: arm and `sm`, the exact micro-unit sum of `value`. */
  private def userSums(events: DataFrame): DataFrame =
    EventTime.normalizeTs(events)
      .groupBy(col("user_id"))
      .agg(sum(round(col("value") * 1000000).cast("long")).as("sm"))
      .withColumn("arm", userArm)

  /**
   * A/B EXPERIMENT READOUT: deterministic 50/50 arm assignment by md5
   * of the unit key (engine-replayable, stable under data growth —
   * the [[TextOps.splitAssign]] rule applied to experimentation), the
   * per-user metric (exact integer-micro sum of `value`), and the
   * arm-level summary: counts, means, lift and the Welch two-sample
   * z statistic.
   *
   * Exactness discipline = [[graft.streaming.EventStreams.runningMoments]]:
   * all sums are integral (Σ micro and Σ micro² in decimal(38,0) —
   * micro² passes every primitive's exact range), and the variance
   * numerator n·S2 − S1² is formed ENTIRELY in exact arithmetic
   * before ONE conversion to double — subtracting two near-equal
   * huge doubles would cancel catastrophically. One user-keyed
   * aggregation (map-side combinable) + one 1-row arm pivot; no
   * window, no sort. Arms with <2 users → NULL z (no ANSI throw).
   */
  def abLift(events: DataFrame): DataFrame = armReadout(userSums(events))

  /**
   * SEGMENTED experiment readout — [[abLift]] per user segment (the
   * heterogeneous-treatment-effect view: "the feature wins overall,
   * but does it win for every acquisition channel?"). The segment is
   * a USER attribute derived deterministically from their events: the
   * `segmentCol` value of the user's FIRST event ((ts, event_id)
   * ascending — the acquisition-channel convention). Everything else
   * is [[abLift]] verbatim, one row per segment: same exact integral
   * moments (n·S2 − S1² formed before any double), same md5 coin,
   * same Welch z, just grouped by (segment) instead of folded to one
   * row. ONE user-keyed aggregate carries both the metric sum and the
   * min_by segment pick; the segment frame is |segments| rows.
   * Segment arity is bounded by contract (it's a readout table).
   */
  def abLiftBy(events: DataFrame, segmentCol: String): DataFrame = {
    val byUser = EventTime.normalizeTs(events)
      .select(col("user_id"), col(segmentCol).as("__seg"),
        expr("ts div 1000L").as("__tsu"), col("event_id"),
        round(col("value") * 1000000).cast("long").as("__vmic"))
      .groupBy(col("user_id"))
      .agg(sum(col("__vmic")).as("sm"),
        min_by(col("__seg"), struct(col("__tsu"), col("event_id")))
          .as("segment"))
      .withColumn("arm", userArm)
    armReadout(byUser, Seq("segment"))
  }

  /** Arm `s`'s mean in VALUE units from its exact moments (n_s, s1_s). */
  private def armMean(s: String): Column =
    col(s"s1_$s").cast("double") / col(s"n_$s") / 1e6

  /** Arm `s`'s sample variance in VALUE units: (n·S2 − S1²) exact, then
    * one double conversion, ÷ n(n−1) ÷ 1e12. */
  private def armVariance(s: String): Column =
    (col(s"n_$s") * col(s"s2_$s") - col(s"s1_$s") * col(s"s1_$s"))
      .cast("double") /
      (col(s"n_$s").cast("double") * (col(s"n_$s") - 1L).cast("double")) / 1e12

  /** The arm-moment fold shared by [[abLift]] (global) and
    * [[abLiftBy]] (per segment): exact integral moments, one Welch z
    * per group. `byUser` must carry (sm: long, arm: int) plus the
    * grouping columns. */
  private def armReadout(byUser: DataFrame,
      keys: Seq[String] = Nil): DataFrame = {
    def armAgg(a: Int, name: String) = Seq(
      sum(when(col("arm") === a, 1L).otherwise(0L)).as(s"n_$name"),
      sum(when(col("arm") === a, col("sm")).otherwise(0L))
        .cast("decimal(38,0)").as(s"s1_$name"),
      sum(when(col("arm") === a,
        col("sm").cast("decimal(38,0)") * col("sm")).otherwise(lit(0)))
        .as(s"s2_$name"))
    val aggs = armAgg(0, "c") ++ armAgg(1, "t")
    val keyCols = keys.map(col)
    val wide = byUser.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
    val ok = col("n_c") > 1L && col("n_t") > 1L
    val both = col("n_c") > 0L && col("n_t") > 0L
    wide.select(keyCols ++ Seq(
      col("n_c"), col("n_t"),
      round(when(col("n_c") > 0L, armMean("c")).otherwise(lit(null)), 6)
        .as("mean_c"),
      round(when(col("n_t") > 0L, armMean("t")).otherwise(lit(null)), 6)
        .as("mean_t"),
      round(when(both, armMean("t") - armMean("c")).otherwise(lit(null)), 6)
        .as("lift"),
      round(when(ok, (armMean("t") - armMean("c")) /
        sqrt(armVariance("t") / col("n_t") + armVariance("c") / col("n_c")))
        .otherwise(lit(null)), 6).as("z")): _*)
  }

  /**
   * CUPED-adjusted experiment readout (Deng et al. 2013): variance
   * reduction for [[abLift]] using each user's PRE-period activity as
   * the control covariate. Covariate X = the user's value sum strictly
   * before `cutoffMicros`, metric Y = the sum at/after it (a user with
   * no pre-period events contributes X = 0). θ = Cov(X,Y)/Var(X) is
   * fitted POOLED across both arms (assignment is independent of X, so
   * pooling is unbiased and halves the estimator noise), the adjusted
   * per-arm mean is mean(Y) − θ·(mean(X_arm) − mean(X_pooled)), and the
   * Welch z uses the adjusted per-arm variance
   * Var(Y) − 2θ·Cov(X,Y) + θ²·Var(X). `rho2` (= the squared X,Y
   * correlation) is the fraction of metric variance CUPED removed —
   * the "how much smaller could this experiment have been" number.
   *
   * Exactness/scale shape of [[abLift]] kept: ONE user aggregate (the
   * only shuffle), then one 18-column global fold whose moment sums are
   * exact integral micros (long Σ, decimal(38,0) Σ², order-free under
   * any partitioning); every double op happens once, in a fixed order,
   * on the single result row. θ and all z math are engine-replayable
   * because their inputs are exact integers.
   */
  def abCuped(events: DataFrame, cutoffMicros: Long): DataFrame = {
    val byUser = EventTime.normalizeTs(events)
      .select(col("user_id"), expr("ts div 1000L").as("tsu"),
        round(col("value") * 1000000).cast("long").as("vmic"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("tsu") < cutoffMicros, col("vmic")).otherwise(0L)).as("x"),
        sum(when(col("tsu") >= cutoffMicros, col("vmic")).otherwise(0L)).as("y"))
      .withColumn("arm", userArm)
    def dd(c: Column) = c.cast("decimal(19,0)")
    def prod(a: Column, b: Column) = (dd(a) * dd(b)).cast("decimal(38,0)")
    def moments(flt: Column => Column, s: String) = Seq(
      sum(flt(lit(1L))).as(s"n$s"),
      sum(flt(col("x"))).as(s"sx$s"), sum(flt(col("y"))).as(s"sy$s"),
      sum(flt(prod(col("x"), col("x"))).cast("decimal(38,0)")).as(s"sxx$s"),
      sum(flt(prod(col("x"), col("y"))).cast("decimal(38,0)")).as(s"sxy$s"),
      sum(flt(prod(col("y"), col("y"))).cast("decimal(38,0)")).as(s"syy$s"))
    val aggs = moments(c => c, "") ++
      moments(c => when(col("arm") === 0, c).otherwise(lit(0)), "_c") ++
      moments(c => when(col("arm") === 1, c).otherwise(lit(0)), "_t")
    val wide = byUser.agg(aggs.head, aggs.tail: _*)
    def dec(c: Column) = c.cast("decimal(38,0)")
    def v(nc: String, sab: String, sa: String, sb: String) =
      dec(col(nc)) * col(sab) - dec(col(sa)) * dec(col(sb))
    def meanD(s: String, n: String) =
      col(s).cast("double") / col(n) / lit(1e6)
    def vaAdj(s: String) =
      (v(s"n$s", s"syy$s", s"sy$s", s"sy$s").cast("double")
        - lit(2) * col("theta") * v(s"n$s", s"sxy$s", s"sx$s", s"sy$s").cast("double")
        + col("theta") * col("theta")
          * v(s"n$s", s"sxx$s", s"sx$s", s"sx$s").cast("double")) /
        (col(s"n$s").cast("double") * (col(s"n$s") - 1L).cast("double")) / lit(1e12)
    wide
      .withColumn("vxx", v("n", "sxx", "sx", "sx"))
      .withColumn("vxy", v("n", "sxy", "sx", "sy"))
      .withColumn("vyy", v("n", "syy", "sy", "sy"))
      .withColumn("theta", when(col("vxx") > 0,
        col("vxy").cast("double") / col("vxx").cast("double")).otherwise(lit(0.0)))
      .withColumn("mxp", meanD("sx", "n"))
      .withColumn("madj_c",
        meanD("sy_c", "n_c") - col("theta") * (meanD("sx_c", "n_c") - col("mxp")))
      .withColumn("madj_t",
        meanD("sy_t", "n_t") - col("theta") * (meanD("sx_t", "n_t") - col("mxp")))
      .withColumn("va_c", vaAdj("_c"))
      .withColumn("va_t", vaAdj("_t"))
      .select(
        col("n_c"), col("n_t"),
        round(col("theta"), 6).as("theta"),
        round(when(col("n_c") > 0 && col("n_t") > 0,
          meanD("sy_t", "n_t") - meanD("sy_c", "n_c")).otherwise(lit(null)), 6)
          .as("lift_raw"),
        round(when(col("n_c") > 0 && col("n_t") > 0,
          col("madj_t") - col("madj_c")).otherwise(lit(null)), 6).as("lift_adj"),
        round(when(col("n_c") > 1 && col("n_t") > 1 &&
            col("va_t") / col("n_t") + col("va_c") / col("n_c") > 0,
          (col("madj_t") - col("madj_c")) /
            sqrt(col("va_t") / col("n_t") + col("va_c") / col("n_c")))
          .otherwise(lit(null)), 6).as("z_adj"),
        round(when(col("vxx") > 0 && col("vyy") > 0,
          (col("vxy").cast("double") * col("vxy").cast("double")) /
            (col("vxx").cast("double") * col("vyy").cast("double")))
          .otherwise(lit(null)), 6).as("rho2"))
  }

  /**
   * MINIMUM DETECTABLE EFFECT — the experiment-sizing readout: with
   * the arms and per-user variance THIS population actually has, what
   * absolute (and relative-to-control) lift could a two-sided
   * α = 0.05 test detect at 80% power? MDE = (z_{α/2} + z_{power})·SE
   * with the Welch standard error from [[abLift]]'s exact moments and
   * the conventional constants z_{0.025} = 1.959964, z_{0.8} =
   * 0.841621 pinned as literals (both engines see the same doubles —
   * no normal-quantile library variance). Answers "is this experiment
   * even worth running" BEFORE the effect exists; NULL when an arm
   * has < 2 users or zero variance.
   */
  def abPower(events: DataFrame): DataFrame = {
    val byUser = userSums(events)
    def armAgg(a: Int, name: String) = Seq(
      sum(when(col("arm") === a, 1L).otherwise(0L)).as(s"n_$name"),
      sum(when(col("arm") === a, col("sm")).otherwise(0L))
        .cast("decimal(38,0)").as(s"s1_$name"),
      sum(when(col("arm") === a,
        (col("sm").cast("decimal(19,0)") * col("sm").cast("decimal(19,0)"))
          .cast("decimal(38,0)")).otherwise(lit(0)))
        .cast("decimal(38,0)").as(s"s2_$name"))
    val aggs = armAgg(0, "c") ++ armAgg(1, "t")
    val wide = byUser.agg(aggs.head, aggs.tail: _*)
    val se = sqrt(armVariance("t") / col("n_t") + armVariance("c") / col("n_c"))
    val meanC = armMean("c")
    val ok = col("n_c") > 1L && col("n_t") > 1L
    wide.select(
      col("n_c"), col("n_t"),
      round(when(ok, se).otherwise(lit(null)), 6).as("se"),
      round(when(ok, lit(1.959964 + 0.841621) * se).otherwise(lit(null)), 6)
        .as("mde_abs"),
      round(when(ok && meanC =!= 0.0,
        lit(1.959964 + 0.841621) * se / meanC).otherwise(lit(null)), 6)
        .as("mde_rel"))
  }

  /**
   * CONVERSION-RATE A/B readout — the binary-metric leg of the
   * experimentation family: a user converts if they have ≥ 1
   * `convType` event at/after the cutoff; the readout is the
   * two-proportion z-test (pooled variance) on the md5 arms. Every
   * moment is an exact integer count (conversion is a per-user
   * max-flag, order-free); the rate/z math is fixed-order doubles on
   * the single fold row. z is NULL when either arm is empty or the
   * pooled rate is degenerate (0 or 1 — no variance to test against).
   */
  def abConversion(events: DataFrame, convType: String,
      cutoffMicros: Long = 0L): DataFrame = {
    val byUser = EventTime.normalizeTs(events)
      .select(col("user_id"), expr("ts div 1000L").as("tsu"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === convType &&
        col("tsu") >= cutoffMicros, 1L).otherwise(0L)).as("conv"))
      .withColumn("arm", userArm)
    val wide = byUser.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"),
      sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("x_c"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"),
      sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("x_t"))
    def rate(x: String, n: String) =
      col(x).cast("double") / col(n).cast("double")
    val pPool = (col("x_c") + col("x_t")).cast("double") /
      (col("n_c") + col("n_t")).cast("double")
    val se = sqrt(pPool * (lit(1.0) - pPool) *
      (lit(1.0) / col("n_c").cast("double") + lit(1.0) / col("n_t").cast("double")))
    val both = col("n_c") > 0L && col("n_t") > 0L
    wide.select(
      col("n_c"), col("x_c"), col("n_t"), col("x_t"),
      round(when(col("n_c") > 0L, rate("x_c", "n_c")).otherwise(lit(null)), 6)
        .as("rate_c"),
      round(when(col("n_t") > 0L, rate("x_t", "n_t")).otherwise(lit(null)), 6)
        .as("rate_t"),
      round(when(both, rate("x_t", "n_t") - rate("x_c", "n_c"))
        .otherwise(lit(null)), 6).as("lift"),
      round(when(both && col("x_c") + col("x_t") > 0L &&
          col("x_c") + col("x_t") < col("n_c") + col("n_t"),
        (rate("x_t", "n_t") - rate("x_c", "n_c")) / se)
        .otherwise(lit(null)), 6).as("z"))
  }

  /**
   * DIFFERENCE-IN-DIFFERENCES readout — the third leg of the
   * experimentation family ([[abLift]] raw, [[abCuped]] variance-
   * reduced, this one trend-robust): per user the SIGNED pre/post
   * delta D = post-cutoff value sum − pre-cutoff sum (ONE conditional
   * integer-micro sum: +v after the cutoff, −v before), then
   * [[abLift]]'s exact Welch fold applied to D. DiD subtracts each
   * arm's own baseline, so a level difference between arms that
   * existed BEFORE the cutoff cannot masquerade as treatment effect —
   * the readout is mean(D_t) − mean(D_c) with a z from exact
   * n·S2 − S1² moments. Same scale shape as abLift: one user shuffle,
   * one 8-column global fold, fixed-order double math on the single
   * result row.
   */
  def diffInDiff(events: DataFrame, cutoffMicros: Long): DataFrame = {
    val byUser = EventTime.normalizeTs(events)
      .select(col("user_id"), expr("ts div 1000L").as("tsu"),
        round(col("value") * 1000000).cast("long").as("vmic"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("tsu") >= cutoffMicros, col("vmic"))
        .otherwise(-col("vmic"))).as("d"))
      .withColumn("arm", userArm)
    def armAgg(a: Int, name: String) = Seq(
      sum(when(col("arm") === a, 1L).otherwise(0L)).as(s"n_$name"),
      // decimal(38,0): s1² at cluster scale overflows a long (ANSI throw)
      sum(when(col("arm") === a, col("d")).otherwise(0L))
        .cast("decimal(38,0)").as(s"s1_$name"),
      sum(when(col("arm") === a,
        (col("d").cast("decimal(19,0)") * col("d").cast("decimal(19,0)"))
          .cast("decimal(38,0)")).otherwise(lit(0)))
        .cast("decimal(38,0)").as(s"s2_$name"))
    val aggs = armAgg(0, "c") ++ armAgg(1, "t")
    val wide = byUser.agg(aggs.head, aggs.tail: _*)
    val ok = col("n_c") > 1L && col("n_t") > 1L
    val both = col("n_c") > 0L && col("n_t") > 0L
    wide.select(
      col("n_c"), col("n_t"),
      round(when(col("n_c") > 0L, armMean("c")).otherwise(lit(null)), 6)
        .as("delta_c"),
      round(when(col("n_t") > 0L, armMean("t")).otherwise(lit(null)), 6)
        .as("delta_t"),
      round(when(both, armMean("t") - armMean("c")).otherwise(lit(null)), 6)
        .as("did"),
      round(when(ok, (armMean("t") - armMean("c")) /
        sqrt(armVariance("t") / col("n_t") + armVariance("c") / col("n_c")))
        .otherwise(lit(null)), 6).as("z"))
  }

  /**
   * TOP SESSION PATHS — product-analytics journey mining: the k most
   * common event-type paths, where a path is the first `maxSteps`
   * events of one gap-sessionized visit joined as
   * "view>click>purchase". The Sankey/flow view of behavior that
   * funnel() can't give (funnels test ONE hypothesized order; paths
   * surface the orders that actually happen).
   *
   * Scale shape: the sessionize lag/cumsum windows and the per-session
   * rank share ONE user_id exchange; the row_number cut to maxSteps
   * happens BEFORE any collection, so no per-session array ever holds
   * more than maxSteps entries (a bot session of 10⁶ events contributes
   * maxSteps rows, not a 10⁶-element buffer). Path assembly sorts the
   * bounded (rn, type) structs per session; the final count + top-k is
   * a tiny path-cardinality aggregate cut by TakeOrdered. Ties at the
   * k boundary break on path text — deterministic in every engine.
   */
  def topPaths(events: DataFrame, maxSteps: Int = 5, k: Int = 20): DataFrame = {
    require(maxSteps >= 1, s"maxSteps must be >= 1, got $maxSteps")
    require(k >= 1, s"k must be >= 1, got $k")
    val e = EventTime.normalizeTs(events).withColumn("tsu", expr("ts div 1000L"))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
    val withSeq = e
      .withColumn("is_new",
        when(col("tsu") - lag(col("tsu"), 1).over(byUser) > SessionGapMicros, 1)
          .otherwise(when(lag(col("tsu"), 1).over(byUser).isNull, 1).otherwise(0)))
      .withColumn("session_seq", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bySession = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("tsu"), col("event_id"))
    withSeq
      .withColumn("rn", row_number().over(bySession))
      .filter(col("rn") <= maxSteps)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(concat_ws(">",
        transform(sort_array(collect_list(struct(col("rn"), col("event_type")))),
          s => s.getField("event_type"))).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(k)
  }

  /**
   * LEVEL-SHIFT (change-point) detection on daily volumes: per event
   * type and day, the mean daily count of the next `w` observed days
   * minus the mean of the previous `w` — the two-sample sliding
   * step detector that flags a feed doubling or halving its volume
   * (the ingestion regression a global mean hides). Both frames must
   * be FULL (w rows each) or the day emits no verdict — a half-window
   * at the series edge would fabricate a shift. Frames are ROWS over
   * OBSERVED days (a day with zero events is absent, not zero —
   * callers wanting calendar frames densify first, e.g. via the
   * resample ops).
   *
   * One (type, day) count aggregation, then two window frames over the
   * same type-keyed exchange — groups bounded by days-per-type, never
   * a global sort. Counts are exact longs; each mean is one double
   * division of exact integers, same op order as the oracle, rounded
   * to 6 dp at day-count magnitude (safe, unlike epoch-µs magnitude —
   * see [[interArrival]]).
   */
  def levelShift(events: DataFrame, w: Int = 7): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    val daily = EventTime.normalizeTs(events)
      .groupBy(col("event_type"),
        expr("(ts div 1000L) div 86400000000L").as("day"))
      .agg(count(lit(1)).as("n"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
    val before = byType.rowsBetween(-w, -1)
    val after = byType.rowsBetween(0, w - 1)
    daily
      .withColumn("n_before", count(col("n")).over(before))
      .withColumn("n_after", count(col("n")).over(after))
      .withColumn("sum_before", sum(col("n")).over(before))
      .withColumn("sum_after", sum(col("n")).over(after))
      .filter(col("n_before") === w && col("n_after") === w)
      .select(col("event_type"), col("day"),
        round(col("sum_before").cast("double") / w, 6).as("before_avg"),
        round(col("sum_after").cast("double") / w, 6).as("after_avg"),
        round(col("sum_after").cast("double") / w -
          col("sum_before").cast("double") / w, 6).as("shift"))
  }

  /**
   * Seasonal-naive FORECASTABILITY diagnostic: per event type, the
   * error of the dumbest seasonal model — "today's volume = the volume
   * `periodDays` ago" — over every day where both sides were observed.
   * This is the floor any real forecast must beat; a type whose WAPE
   * is already small is strongly periodic (don't bother modeling it),
   * one whose WAPE is huge is noise or trend. MAE = mean |actual −
   * predicted|, WAPE = Σ|err| / Σpredicted (the weighted form — a
   * plain MAPE would let tiny days dominate).
   *
   * Scale shape: events collapse to one row per (type, day) map-side
   * first; the lag-`periodDays` alignment is an equi-join of that
   * compact frame against itself shifted (evaluated only on OBSERVED
   * day pairs — absent days are not zeros, same contract as
   * [[levelShift]]), and both error sums are EXACT integer counts —
   * one double division per type at the very end, engine-replayable.
   */
  def seasonalError(events: DataFrame, periodDays: Int = 7): DataFrame = {
    require(periodDays >= 1, s"periodDays must be >= 1, got $periodDays")
    val daily = EventTime.normalizeTs(events)
      .groupBy(col("event_type"), expr("ts div 86400000000000L").as("day"))
      .agg(count(lit(1)).as("n"))
    val pred = daily.select(col("event_type"),
      (col("day") + periodDays).as("day"), col("n").as("pred"))
    daily.join(pred, Seq("event_type", "day"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        round(sum(abs(col("n") - col("pred"))).cast("double") /
          count(lit(1)), 6).as("mae"),
        round(sum(abs(col("n") - col("pred"))).cast("double") /
          sum(col("pred")).cast("double"), 6).as("wape"))
  }

  /**
   * INTER-ARRIVAL-TIME profile: per key, the distribution of gaps
   * between consecutive events — the burstiness fingerprint that
   * separates steady users from bots and batch-replayed feeds. Gaps in
   * µs from one lag over the per-key (ts, id) order; keys with fewer
   * than two events have no gap and emit no row. Mean is an exact
   * integer-sum divide; p50/p90 use [[Stats.percentileExact]]'s
   * rank-straddle interpolation (same operation order as the oracle,
   * never the builtin `percentile`'s per-group array) inlined into the
   * same aggregation that computes n/mean/max — no straddle-only
   * filter, so ONE grouped pass serves every statistic. Both windows
   * and the final aggregate share the single user_id exchange; gap
   * sums are exact integer µs (order-free under any partitioning).
   *
   * mean/p50/p90 are emitted as RAW doubles, deliberately unrounded:
   * at epoch-gap magnitude (10^10 µs) one ulp is ~10^-5, so a 6-dp
   * decimal round sits BELOW the float's resolution — Spark's
   * BigDecimal round perturbs the double while other engines' round
   * is a no-op there, making rounding itself the cross-engine
   * divergence. Identical operation order on exact integer inputs is
   * what guarantees bit-equal results instead.
   */
  def interArrival(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu").asc, col("event_id").asc)
    val w = Window.partitionBy(col("user_id"))
    val ranked = EventTime.normalizeTs(events)
      .select(col("user_id"), col("event_id"), expr("ts div 1000L").as("tsu"))
      .withColumn("gap_us", col("tsu") - lag(col("tsu"), 1).over(byUser))
      .filter(col("gap_us").isNotNull)
      .withColumn("__rn", row_number().over(w.orderBy(col("gap_us").asc)) - 1)
      .withColumn("__n", count(lit(1)).over(w))
    def pct(p: Double): Column = {
      val t = (col("__n") - 1).cast("double") * lit(p)
      val vLo = max(when(col("__rn") === floor(t), col("gap_us").cast("double")))
      val vHi = max(when(col("__rn") === ceil(t), col("gap_us").cast("double")))
      // identical op order to percentileExact / the oracle: lo + d·(hi−lo)
      vLo + (t - floor(t).cast("double")) * (vHi - vLo)
    }
    ranked
      .groupBy(col("user_id"), col("__n"))
      .agg(
        (sum(col("gap_us")).cast("double") / col("__n")).as("mean_gap_us"),
        pct(0.5).as("p50_gap_us"),
        pct(0.9).as("p90_gap_us"),
        max(col("gap_us")).as("max_gap_us"))
      .withColumnRenamed("__n", "n_gaps")
  }

  /**
   * SAMPLE-RATIO-MISMATCH check — the experiment-hygiene gate that
   * must pass BEFORE any readout from [[abLift]]'s arms is believed:
   * if the md5 coin assigns 50/50 but the observed unit counts differ
   * beyond chance, the assignment or logging pipeline is broken and
   * every downstream lift is suspect. One-dof χ² against the equal
   * split: with e = N/2 per arm, χ² = (n_c − e)²/e + (n_t − e)²/e
   * collapses to (n_c − n_t)²/N — an exact integer numerator over an
   * exact integer N, ONE double division (engine-replayable). The
   * flag trips at χ² > 6.635 (α = 0.01 — the industry SRM threshold:
   * a looser α would kill healthy experiments by chance alone at
   * fleet scale). Scale shape: one distinct-user aggregate (map-side
   * combinable) folding straight to a single row; no window, no sort.
   */
  def srmCheck(events: DataFrame): DataFrame = {
    val byUser = EventTime.normalizeTs(events)
      .select(col("user_id")).distinct()
      .withColumn("arm", userArm)
    byUser.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"))
      .select(col("n_c"), col("n_t"),
        round(when(col("n_c") + col("n_t") > 0L,
          col("n_t").cast("double") /
            (col("n_c") + col("n_t")).cast("double"))
          .otherwise(lit(null)), 6).as("ratio_t"),
        round(when(col("n_c") + col("n_t") > 0L,
          ((col("n_c") - col("n_t")) * (col("n_c") - col("n_t")))
            .cast("double") / (col("n_c") + col("n_t")).cast("double"))
          .otherwise(lit(null)), 6).as("chi2"))
      .withColumn("srm", coalesce(col("chi2") > 6.635, lit(false)))
  }

  /**
   * ROLLING CORRELATION between the daily volumes of two event types —
   * "do these two behaviors still move together?", the co-movement
   * drift monitor: per observed day, Pearson corr of (count of
   * `typeA`, count of `typeB`) over the trailing `windowDays` of
   * OBSERVED days (RANGE frame over the integral day number —
   * calendar-correct across gaps). All six sufficient sums (k, Σx,
   * Σy, Σxy, Σx², Σy²) are windowed EXACT integers off the compact
   * (day, x, y) frame, and the correlation forms the textbook
   * identity (k·Σxy − Σx·Σy)/(√(k·Σx²−(Σx)²)·√(k·Σy²−(Σy)²)) in
   * exact long arithmetic before three fixed-order double
   * conversions — engine-replayable. Days with < `minDays` trailing
   * observations or a zero-variance side → NULL corr (never a throw).
   *
   * Scale shape: events collapse map-side to one row per day (the
   * only row-count-keyed work), then every window runs on the
   * |days| frame — bounded by the calendar (36,500 rows per century),
   * the [[stickiness]]/[[seasonalError]] contract. Days where
   * NEITHER type occurs don't exist in the frame and correctly
   * contribute nothing; days where one type occurs carry an exact 0
   * for the other.
   */
  def rollingCorr(events: DataFrame, typeA: String, typeB: String,
      windowDays: Int = 28, minDays: Int = 7): DataFrame = {
    require(windowDays >= 2, s"windowDays must be >= 2, got $windowDays")
    require(minDays >= 2 && minDays <= windowDays,
      s"minDays must be in [2, windowDays], got $minDays")
    val days = EventTime.normalizeTs(events)
      .filter(col("event_type") === typeA || col("event_type") === typeB)
      .select(expr("ts div 86400000000000L").as("day"), col("event_type"))
      .groupBy(col("day"))
      .agg(
        sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("y"))
    val w = Window.orderBy(col("day"))
      .rangeBetween(-(windowDays - 1L), 0L)
    // products in decimal(38,0): a 10⁹-count day squares past a long
    def dec(c: Column) = c.cast("decimal(38,0)")
    val sums = days
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(dec(col("x")) * col("y")).over(w))
      .withColumn("sxx", sum(dec(col("x")) * col("x")).over(w))
      .withColumn("syy", sum(dec(col("y")) * col("y")).over(w))
    val dx = (col("k") * col("sxx") - dec(col("sx")) * col("sx")).cast("double")
    val dy = (col("k") * col("syy") - dec(col("sy")) * col("sy")).cast("double")
    val num = (col("k") * col("sxy") - dec(col("sx")) * col("sy")).cast("double")
    sums.select(col("day"), col("x").as("n_a"), col("y").as("n_b"),
      col("k").as("n_days"),
      round(when(col("k") >= minDays && dx > 0.0 && dy > 0.0,
        num / (sqrt(dx) * sqrt(dy))).otherwise(lit(null)), 6).as("corr"))
  }

  /**
   * ROBUST DAILY ANOMALY BANDS — per event type and day, is today's
   * volume outside median ± k·MAD of the TRAILING window (current day
   * excluded — today must not vote on its own expectation)? The
   * robust complement of [[levelShift]]'s mean-window detector: a
   * previous spike inside the window inflates a mean/σ band and masks
   * the next one; the median/MAD band shrugs it off.
   *
   * Scale shape: events collapse map-side to the compact (type, day)
   * frame; the trailing history is a RANGE window over integral day
   * numbers (calendar-correct across gaps), and the median/MAD of the
   * ≤ `windowDays` collected counts are fixed straddle-interpolation
   * folds over the SORTED window array (both engines sort, index and
   * interpolate the identical doubles — order-free). Days with fewer
   * than `minDays` of history emit NULL expectation and never flag.
   * A zero-MAD (constant) history gives a zero-width band: ANY
   * deviation flags — documented, deterministic, no ANSI divide
   * anywhere.
   */
  def anomalyBands(events: DataFrame, k: Double = 3.0,
      windowDays: Int = 14, minDays: Int = 7): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(windowDays >= minDays && minDays >= 2,
      s"need windowDays >= minDays >= 2, got $windowDays/$minDays")
    val days = EventTime.normalizeTs(events)
      .select(col("event_type"), expr("ts div 86400000000000L").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rangeBetween(-windowDays.toLong, -1L)
    // straddle-interpolated median of a SORTED array column — the
    // percentileExact formula applied to a bounded in-memory window
    def medOf(sorted: Column): Column = {
      val t = (size(sorted) - 1).cast("double") * lit(0.5)
      val lo = element_at(sorted, (floor(t) + 1).cast("int"))
      val hi = element_at(sorted, (ceil(t) + 1).cast("int"))
      lo + (t - floor(t)) * (hi - lo)
    }
    val withHist = days
      .withColumn("__hist", sort_array(collect_list(col("n")).over(w)))
      .withColumn("n_hist", size(col("__hist")))
    // CASE-guarded: an empty history must not index the array at all
    // (element_at(0) throws under ANSI); CaseWhen evaluates lazily
    val withMed = withHist.withColumn("__med",
      when(col("n_hist") > 0, medOf(col("__hist"))).otherwise(lit(null)))
    val mad = medOf(sort_array(transform(col("__hist"),
      x => abs(x - col("__med")))))
    withMed
      .withColumn("__mad",
        when(col("n_hist") > 0, mad).otherwise(lit(null)))
      .select(col("event_type"), col("day"), col("n").cast("long").as("n"),
        col("n_hist"),
        round(when(col("n_hist") >= minDays, col("__med"))
          .otherwise(lit(null)), 6).as("expected"),
        round(when(col("n_hist") >= minDays, col("__mad"))
          .otherwise(lit(null)), 6).as("mad"),
        coalesce(col("n_hist") >= minDays &&
          abs(col("n") - col("__med")) > lit(k) * col("__mad"),
          lit(false)).as("anomaly"))
  }

  /**
   * COHORT LTV CURVES — cumulative revenue per user by acquisition
   * cohort and age: "how much has the average day-X user spent by day
   * X+age?", the payback/LTV readout growth teams live on. Cohort =
   * the user's first active day (ANY event type — acquisition, not
   * first purchase); revenue = the µs-exact value sum of
   * `revenueType` events within `maxAgeDays` of it; each (cohort,
   * age) row reports the cohort's size and its cumulative revenue
   * per user through that age.
   *
   * Scale shape: one user-keyed first-day aggregate, one user-keyed
   * equi-join stamping each revenue event's cohort (both sides hash
   * on user_id — co-partitioned sort-merge at 100 TB), then
   * everything else on the compact (cohort, age) frame: the
   * cumulative window partitions by cohort over ≤ maxAgeDays rows,
   * and cohort sizes broadcast back (a calendar-bounded frame).
   * Revenue sums are exact integral micros; one double division per
   * output row. Only OBSERVED (cohort, age) pairs emit — an age with
   * no revenue adds nothing to the cumulative sum, so the curve is
   * exact across gaps (read it as a step function).
   */
  def cohortLtv(events: DataFrame, revenueType: String,
      maxAgeDays: Int = 28): DataFrame = {
    require(maxAgeDays >= 0, s"maxAgeDays must be >= 0, got $maxAgeDays")
    val e = EventTime.normalizeTs(events)
      .select(col("user_id"), expr("ts div 86400000000000L").as("day"),
        col("event_type"),
        round(col("value") * 1000000).cast("long").as("__vmic"))
    val firstDay = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val cohortSizes = firstDay.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("n_users"))
    val rev = e.filter(col("event_type") === revenueType)
      .join(firstDay, "user_id")
      .withColumn("age", (col("day") - col("cohort_day")).cast("int"))
      .filter(col("age") <= maxAgeDays)
      .groupBy(col("cohort_day"), col("age"))
      .agg(sum(col("__vmic")).as("__rev"))
    val w = Window.partitionBy(col("cohort_day")).orderBy(col("age").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    rev
      .withColumn("__cum", sum(col("__rev")).over(w))
      .join(broadcast(cohortSizes), "cohort_day")
      .select(col("cohort_day"), col("age"), col("n_users"),
        round(col("__cum").cast("double") / 1e6 /
          col("n_users").cast("double"), 6).as("ltv_per_user"))
  }
}
