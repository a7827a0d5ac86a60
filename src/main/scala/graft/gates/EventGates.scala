package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Events

/** Event gates: sessions, funnels, as-of and range joins, rolling
  * windows, A/B readouts and feature frames of [[graft.ops.Events]]. */
private[graft] object EventGates {
  import Shared._

  def gates: Seq[Gate] = Seq(
    Gate("q_session_window", (s, dir) =>
      // native session_window aggregation — the merge-in-aggregate
      // session plan (no per-user full sort)
      Events.sessionWindows(t(s, dir, "events")),
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, value FROM events),
        |l AS (SELECT *, lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS prev FROM e),
        |s AS (SELECT *, CASE WHEN prev IS NULL OR tsu - prev > 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
        |c AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS session_seq FROM s)
        |SELECT user_id, min(tsu) AS start_us, max(tsu) + 1800000000 AS end_us,
        |  count(*) AS n_events,
        |  round(sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 6) AS sum_value
        |FROM c GROUP BY user_id, c.session_seq""".stripMargin),

    Gate("q_sessionize", (s, dir) =>
      Events.sessionize(t(s, dir, "events")),
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, value FROM events),
        |l AS (SELECT *, lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS prev FROM e),
        |s AS (SELECT *, CASE WHEN prev IS NULL OR tsu - prev > 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
        |c AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS session_seq FROM s)
        |SELECT user_id, session_seq::BIGINT AS session_seq, count(*) AS n_events,
        |  min(tsu) AS start_us, max(tsu) AS end_us,
        |  round(sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 6) AS sum_value
        |FROM c GROUP BY user_id, c.session_seq""".stripMargin),

    Gate("q_funnel", (s, dir) =>
      // users completing view -> click -> purchase in order (greedy-earliest)
      Events.funnel(
        t(s, dir, "events").withColumn("tsu", expr("ts div 1000L")),
        "user_id", "tsu", "event_type", Seq("view", "click", "purchase")),
      funnelSql(Seq("view", "click", "purchase"))),

    Gate("q_funnel4", (s, dir) =>
      // 4-stage funnel (view -> click -> view -> purchase): repeated
      // stage types exercise the greedy-earliest chain beyond 3 steps
      Events.funnel(
        t(s, dir, "events").withColumn("tsu", expr("ts div 1000L")),
        "user_id", "tsu", "event_type", Seq("view", "click", "view", "purchase")),
      funnelSql(Seq("view", "click", "view", "purchase"))),

    Gate("q_range_join", (s, dir) =>
      // event pairs of the same user within 1 hour of each other
      Events.rangeSelfJoin(
        t(s, dir, "events").withColumn("tsu", expr("ts div 1000L")),
        "user_id", "tsu", "event_id", 3600000000L),
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events)
        |SELECT DISTINCT a.user_id,
        |  least(a.event_id, b.event_id) AS id1,
        |  greatest(a.event_id, b.event_id) AS id2,
        |  abs(a.tsu - b.tsu) AS dt_us
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND abs(a.tsu - b.tsu) <= 3600000000""".stripMargin),

    Gate("q_range_join2", (s, dir) => {
      // two-table range join: every (click, purchase) of the same user
      // within 30 minutes of each other
      val e = t(s, dir, "events").withColumn("tsu", expr("ts div 1000L"))
      Events.rangeJoin(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "purchase"),
        "user_id", "tsu", Seq("event_id"), Seq("event_id"), 1800000000L)
    },
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu FROM events)
        |SELECT c.user_id, c.tsu AS ts_l, p.tsu AS ts_r, abs(c.tsu - p.tsu) AS dt_us,
        |  c.event_id AS l_event_id, p.event_id AS r_event_id
        |FROM (SELECT * FROM e WHERE event_type = 'click') c
        |JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND abs(c.tsu - p.tsu) <= 1800000000""".stripMargin),

    Gate("q_asof", (s, dir) => {
      // for every click, the user's most recent purchase at-or-before it
      val (clicks, purchases) = clicksAndPurchases(s, dir)
      Events.asOfJoin(clicks, purchases, "user_id", "tsu", Seq("pvalue"))
    },
      asOfSql("<=")),

    Gate("q_asof_forward", (s, dir) => {
      // forward direction: the user's EARLIEST purchase at-or-after each
      // click (merge_asof direction='forward')
      val (clicks, purchases) = clicksAndPurchases(s, dir)
      Events.asOfJoinForward(clicks, purchases, "user_id", "tsu", Seq("pvalue"))
    },
      asOfSql(">=")),

    Gate("q_asof_native_forward", (s, dir) => {
      // the same forward as-of through the custom physical operator
      // (time-negation mirror of the streaming sort-merge)
      val (clicks, purchases) = clicksAndPurchases(s, dir)
      Events.asOfJoinNativeForward(clicks, purchases, "user_id", "tsu", Seq("pvalue"))
    },
      asOfSql(">=")),

    Gate("q_asof_nearest", (s, dir) => {
      // nearest direction: the purchase closest in time to each click,
      // either side; equal distances resolve to the earlier purchase
      val (clicks, purchases) = clicksAndPurchases(s, dir)
      Events.asOfJoinNearest(clicks, purchases, "user_id", "tsu", Seq("pvalue"))
    },
      s"""$AsOfInputs,
        |b AS (SELECT c.user_id, c.tsu, c.event_id, p.ptsu AS btsu, p.pvalue AS bval
        |  FROM clicks c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ptsu <= c.tsu),
        |f AS (SELECT c.user_id, c.tsu, c.event_id, p.ptsu AS ftsu, p.pvalue AS fval
        |  FROM clicks c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ptsu >= c.tsu)
        |SELECT b.user_id, b.tsu, b.event_id,
        |  CASE WHEN f.ftsu IS NULL OR (b.btsu IS NOT NULL AND b.tsu - b.btsu <= f.ftsu - f.tsu)
        |    THEN b.btsu ELSE f.ftsu END AS asof_tsu,
        |  CASE WHEN f.ftsu IS NULL OR (b.btsu IS NOT NULL AND b.tsu - b.btsu <= f.ftsu - f.tsu)
        |    THEN b.bval ELSE f.fval END AS asof_pvalue
        |FROM b JOIN f ON b.user_id = f.user_id AND b.tsu = f.tsu AND b.event_id = f.event_id""".stripMargin),

    Gate("q_asof_native", (s, dir) => {
      // same query as q_asof, planned through the custom AsOfJoinExec
      // physical operator (LogicalPlan + Strategy + SparkPlan extension)
      val (clicks, purchases) = clicksAndPurchases(s, dir)
      Events.asOfJoinNative(clicks, purchases, "user_id", "tsu", Seq("pvalue"))
    },
      asOfSql("<=")),

    Gate("q_asof_tolerance", (s, dir) => {
      // as-of with a 1-hour tolerance: matches older than the tolerance
      // are treated as absent (pandas merge_asof semantics)
      val (clicks, purchases) = clicksAndPurchases(s, dir)
      Events.asOfJoinNative(clicks, purchases, "user_id", "tsu", Seq("pvalue"),
        toleranceMicros = Some(3600000000L))
    },
      s"""$AsOfInputs
        |SELECT c.user_id, c.tsu, c.event_id,
        |  CASE WHEN c.tsu - p.ptsu <= 3600000000 THEN p.ptsu END AS asof_tsu,
        |  CASE WHEN c.tsu - p.ptsu <= 3600000000 THEN p.pvalue END AS asof_pvalue
        |FROM clicks c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ptsu <= c.tsu""".stripMargin),

    Gate("q_event_windows", (s, dir) =>
      Events.tumblingWindows(t(s, dir, "events")),
      """SELECT event_type, epoch_us(ts) // 300000000 AS window_id,
        |  count(*) AS n,
        |  round(sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 6) AS sum_value
        |FROM events GROUP BY event_type, epoch_us(ts) // 300000000""".stripMargin),

    Gate("q_retention", (s, dir) =>
      Events.retention(t(s, dir, "events"), maxOffsetDays = 30),
      """WITH days_t AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |cohort_t AS (SELECT user_id, min(day) AS cohort_day FROM days_t GROUP BY user_id)
        |SELECT cohort_day, CAST(day - cohort_day AS INT) AS day_offset,
        |  count(DISTINCT user_id) AS n_users
        |FROM days_t JOIN cohort_t USING (user_id)
        |WHERE day - cohort_day <= 30
        |GROUP BY cohort_day, day_offset""".stripMargin),

    Gate("q_moving_avg", (s, dir) =>
      // trailing 1-hour per-user moving average (RANGE frame on µs)
      Events.movingAvg(t(s, dir, "events"), windowMicros = 3600000000L),
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu,
        |    CAST(round(value * 1000000) AS BIGINT) AS vmic FROM events)
        |SELECT user_id, event_id, tsu,
        |  count(*) OVER w AS n_win,
        |  round((sum(vmic) OVER w)::BIGINT / ((count(vmic) OVER w) * 1000000.0), 6) AS avg_value
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin),

    Gate("q_zscore", (s, dir) =>
      // per-type outliers beyond 2 population std-devs (exact moments)
      Events.zscoreOutliers(t(s, dir, "events"), threshold = 2.0),
      """WITH e AS (SELECT event_id, event_type, value,
        |    CAST(round(value * 1000000) AS BIGINT) AS vmic FROM events),
        |st AS (SELECT event_type, count(*) AS n, sum(vmic)::BIGINT AS s1,
        |    sum(vmic::HUGEINT * vmic::HUGEINT) AS s2 FROM e GROUP BY event_type),
        |z AS (SELECT e.event_id, e.event_type, e.value,
        |    s2::DOUBLE / n::DOUBLE
        |      - (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE) AS vr,
        |    (e.vmic::DOUBLE - s1::DOUBLE / n::DOUBLE)
        |      / sqrt(s2::DOUBLE / n::DOUBLE
        |             - (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE)) AS zs
        |  FROM e JOIN st USING (event_type))
        |SELECT event_id, event_type, value, round(zs, 6) AS zscore
        |FROM z WHERE vr > 0 AND abs(zs) > 2.0""".stripMargin),

    Gate("q_concurrency", (s, dir) =>
      // distributed sweep line over the sessionize output: max sessions
      // simultaneously open, per day
      Events.maxConcurrency(Events.sessionize(t(s, dir, "events"))),
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
        |l AS (SELECT *, lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS prev FROM e),
        |sflag AS (SELECT *, CASE WHEN prev IS NULL OR tsu - prev > 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
        |cse AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS session_seq FROM sflag),
        |sess AS (SELECT user_id, session_seq, min(tsu) AS start_us, max(tsu) AS end_us
        |  FROM cse GROUP BY user_id, session_seq),
        |d AS (SELECT start_us AS t, 1 AS d FROM sess
        |  UNION ALL SELECT end_us + 1, -1 FROM sess),
        |g AS (SELECT t, sum(d)::BIGINT AS d FROM d GROUP BY t),
        |rng AS (SELECT min(t // 86400000000) AS d0, max(t // 86400000000) AS d1 FROM g),
        |z AS (SELECT u.day * 86400000000 AS t, 0::BIGINT AS d
        |  FROM rng, unnest(generate_series(d0, d1)) AS u(day)),
        |a AS (SELECT t, sum(d)::BIGINT AS d
        |  FROM (SELECT * FROM g UNION ALL SELECT * FROM z) GROUP BY t),
        |r AS (SELECT t, t // 86400000000 AS day,
        |    sum(d) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS conc FROM a)
        |SELECT day, max(conc)::BIGINT AS max_concurrency FROM r GROUP BY day""".stripMargin),

    Gate("q_transitions", (s, dir) =>
      // first-order Markov matrix over per-user event sequences
      Events.transitions(t(s, dir, "events")),
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id FROM events),
        |p AS (SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS dst
        |  FROM e),
        |c AS (SELECT src, dst, count(*) AS cnt FROM p WHERE dst IS NOT NULL GROUP BY src, dst)
        |SELECT src, dst, cnt,
        |  round(cnt / (sum(cnt) OVER (PARTITION BY src)), 6) AS p
        |FROM c""".stripMargin),

    Gate("q_twa", (s, dir) =>
      // step-function time-weighted mean per user (gauge semantics)
      Events.timeWeightedAvg(t(s, dir, "events")),
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
        |    CAST(round(value * 1000000) AS BIGINT) AS vmic FROM events),
        |seg AS (SELECT user_id, vmic,
        |    lead(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) - tsu AS dur
        |  FROM e)
        |SELECT user_id, count(*) AS n_segments,
        |  round(sum(vmic::HUGEINT * dur::HUGEINT)::DOUBLE
        |    / (nullif(sum(dur), 0)::DOUBLE * 1000000.0), 6) AS twa_value
        |FROM seg WHERE dur IS NOT NULL GROUP BY user_id""".stripMargin),

    Gate("q_rolling_active", (s, dir) =>
      // DAU + trailing-7-day WAU, exact, via explode instead of self-join
      Events.rollingDistinctUsers(t(s, dir, "events"), windowDays = 7),
      """WITH ud AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |ex AS (SELECT ud.day + t.j AS day, user_id, t.j AS off
        |  FROM ud, unnest(range(0, 7)) AS t(j))
        |SELECT ex.day AS day,
        |  count(DISTINCT CASE WHEN off = 0 THEN user_id END) AS dau,
        |  count(DISTINCT user_id) AS wau
        |FROM ex JOIN days ON ex.day = days.day
        |GROUP BY ex.day""".stripMargin),

    Gate("q_rolling_active_hll", (s, dir) => {
      // sketch-merge DAU/WAU (one per-day HLL pass, tiny-frame window
      // merge) with the exact pipeline joined back as the accuracy audit
      val est = Events.rollingActiveHll(t(s, dir, "events"), windowDays = 7, b = 8)
      val exact = Events.rollingDistinctUsers(t(s, dir, "events"), windowDays = 7)
        .select(col("day"), col("wau").as("wau_exact"))
      est.join(exact, Seq("day"))
        .select(col("day"), col("dau_est"), col("wau_est"), col("wau_exact"),
          round(abs(col("wau_est") - col("wau_exact")) / col("wau_exact"), 6)
            .as("rel_err"))
    },
      s"""WITH ud AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
         |h AS (SELECT day, ${hexToLong("md5(user_id::VARCHAR)", 1, 8)} % 256 AS bucket,
         |  ${hexToLong("md5(user_id::VARCHAR)", 9, 8)} AS h2 FROM ud),
         |regs AS (SELECT day, bucket,
         |    max(CASE WHEN h2 = 0 THEN 33 ELSE 33 - length(bin(h2)) END) AS mr
         |  FROM h GROUP BY day, bucket),
         |days AS (SELECT DISTINCT day FROM ud),
         |win AS (SELECT d.day AS day, r.bucket,
         |    max(r.mr) AS mw,
         |    max(CASE WHEN r.day = d.day THEN r.mr ELSE 0 END) AS md
         |  FROM days d JOIN regs r ON r.day BETWEEN d.day - 6 AND d.day
         |  GROUP BY d.day, r.bucket),
         |fl AS (SELECT d.day, coalesce(w.mw, 0) AS mw, coalesce(w.md, 0) AS md
         |  FROM days d CROSS JOIN (SELECT unnest(range(0, 256)) AS b) t
         |  LEFT JOIN win w ON w.day = d.day AND w.bucket = t.b),
         |agg AS (SELECT day,
         |    sum((1::BIGINT << (33 - mw)))::BIGINT AS sw,
         |    sum(CASE WHEN mw = 0 THEN 1 ELSE 0 END)::BIGINT AS vw,
         |    sum((1::BIGINT << (33 - md)))::BIGINT AS sd,
         |    sum(CASE WHEN md = 0 THEN 1 ELSE 0 END)::BIGINT AS vd
         |  FROM fl GROUP BY day),
         |est AS (SELECT day, vw, vd,
         |    (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 * 8589934592.0 / sw::DOUBLE AS raww,
         |    (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 * 8589934592.0 / sd::DOUBLE AS rawd
         |  FROM agg),
         |e2 AS (SELECT day,
         |    round(CASE WHEN rawd <= 640.0 AND vd > 0 THEN 256.0 * ln(256.0 / vd::DOUBLE)
         |      WHEN rawd >= 4294967296.0 THEN 4294967296.0
         |      WHEN rawd > 4294967296.0 / 30.0 THEN -4294967296.0 * ln(1.0 - rawd / 4294967296.0)
         |      ELSE rawd END, 2) AS dau_est,
         |    round(CASE WHEN raww <= 640.0 AND vw > 0 THEN 256.0 * ln(256.0 / vw::DOUBLE)
         |      WHEN raww >= 4294967296.0 THEN 4294967296.0
         |      WHEN raww > 4294967296.0 / 30.0 THEN -4294967296.0 * ln(1.0 - raww / 4294967296.0)
         |      ELSE raww END, 2) AS wau_est
         |  FROM est),
         |exw AS (SELECT ud.day + t.j AS day, user_id FROM ud, unnest(range(0, 7)) AS t(j)),
         |exact AS (SELECT exw.day AS day, count(DISTINCT user_id) AS wau_exact
         |  FROM exw JOIN days ON exw.day = days.day GROUP BY exw.day)
         |SELECT e2.day AS day, dau_est, wau_est, wau_exact,
         |  round(abs(wau_est - wau_exact) / wau_exact, 6) AS rel_err
         |FROM e2 JOIN exact ON e2.day = exact.day""".stripMargin),

    Gate("q_resample_locf", (s, dir) =>
      // irregular gauge → dense daily grid with last-obs-carried-forward
      Events.resampleDailyLocf(t(s, dir, "events")),
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, value FROM events),
        |d AS (SELECT user_id, tsu // 86400000000 AS day, value,
        |    row_number() OVER (PARTITION BY user_id, tsu // 86400000000
        |      ORDER BY tsu DESC, event_id DESC) AS rn
        |  FROM e),
        |daily AS (SELECT user_id, day, value AS day_value FROM d WHERE rn = 1),
        |g0 AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM g0),
        |j AS (SELECT g.user_id, g.day, daily.day_value
        |  FROM grid g LEFT JOIN daily USING (user_id, day))
        |SELECT user_id, day,
        |  last_value(day_value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
        |  CASE WHEN day_value IS NOT NULL THEN 1 ELSE 0 END AS observed
        |FROM j""".stripMargin),

    Gate("q_scd2", (s, dir) =>
      // SCD-2 validity intervals from the event stream: change points
      // only, [valid_from, valid_to) attached, one keyed shuffle
      Events.scd2Intervals(t(s, dir, "events")),
      s"""$ScdChangePoints
        |SELECT user_id, event_type, value,
        |  tsu AS valid_from_us,
        |  lead(tsu) OVER (PARTITION BY user_id, event_type
        |    ORDER BY tsu ASC, event_id ASC) AS valid_to_us
        |FROM ch""".stripMargin),

    Gate("q_label_window", (s, dir) => {
      // supervised-label generation: for every click, the user's
      // purchases within the strictly-future 24h window — count, first
      // time, exact integer-micro sum (banded join, never a cross join)
      val e = t(s, dir, "events").withColumn("tsu", expr("ts div 1000L"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("tsu"), col("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tsu"), col("value"))
      Events.labelWindow(clicks, purchases, "user_id", "tsu", "event_id",
        "value", horizonMicros = 86400000000L)
    },
      """WITH clicks AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS tsu,
        |    CAST(round(value * 1000000) AS BIGINT) AS vmicro FROM events
        |  WHERE event_type = 'purchase'),
        |lab AS (SELECT c.event_id,
        |    count(*) AS n_outcomes,
        |    min(p.tsu) AS first_outcome_us,
        |    sum(p.vmicro)::BIGINT AS outcome_sum_micro
        |  FROM clicks c JOIN p ON c.user_id = p.user_id
        |    AND p.tsu > c.tsu AND p.tsu <= c.tsu + 86400000000
        |  GROUP BY c.event_id)
        |SELECT c.event_id, c.user_id, c.tsu,
        |  coalesce(lab.n_outcomes, 0) AS n_outcomes,
        |  lab.first_outcome_us,
        |  coalesce(lab.outcome_sum_micro, 0) AS outcome_sum_micro
        |FROM clicks c LEFT JOIN lab USING (event_id)""".stripMargin),

    Gate("q_attribution", (s, dir) => {
      // multi-touch attribution: every purchase's credit spread over the
      // same user's clicks in the strictly-before 24h lookback (linear
      // model, first/last-touch flags); banded equi-join — the backward
      // twin of q_label_window, never a per-user cross product
      val e = t(s, dir, "events").withColumn("tsu", expr("ts div 1000L"))
      val touches = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("tsu"), col("event_id"))
      val convs = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tsu"), col("event_id").as("conv_id"),
          col("value"))
      Events.attribution(touches, convs, "user_id", "tsu", "event_id",
        "conv_id", "value", lookbackMicros = 86400000000L)
    },
      """WITH t AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events
        |  WHERE event_type = 'click'),
        |c AS (SELECT user_id, epoch_us(ts) AS ctsu, event_id AS conv_id,
        |    round(value, 6) AS v FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.user_id, c.conv_id, c.ctsu AS conv_tsu,
        |    t.event_id, t.tsu AS touch_tsu, c.v
        |  FROM c JOIN t ON t.user_id = c.user_id
        |    AND t.tsu < c.ctsu AND t.tsu >= c.ctsu - 86400000000)
        |SELECT user_id, conv_id, conv_tsu, event_id, touch_tsu,
        |  count(*) OVER (PARTITION BY conv_id) AS n_touches,
        |  (row_number() OVER (PARTITION BY conv_id
        |     ORDER BY touch_tsu ASC, event_id ASC) = 1) AS first_touch,
        |  (row_number() OVER (PARTITION BY conv_id
        |     ORDER BY touch_tsu DESC, event_id DESC) = 1) AS last_touch,
        |  round(v / count(*) OVER (PARTITION BY conv_id), 6) AS linear_credit
        |FROM j""".stripMargin),

    Gate("q_interarrival", (s, dir) =>
      // per-user burstiness profile: n/mean/p50/p90/max of the µs gaps
      // between consecutive events — one user_id exchange, straddle-rank
      // percentiles, no per-group array
      Events.interArrival(t(s, dir, "events")),
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
        |g AS (SELECT user_id, tsu - lag(tsu) OVER (PARTITION BY user_id
        |    ORDER BY tsu ASC, event_id ASC) AS gap_us FROM ev),
        |rk AS (SELECT user_id, gap_us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY gap_us ASC) - 1 AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM g WHERE gap_us IS NOT NULL)
        |SELECT user_id, n AS n_gaps,
        |  sum(gap_us)::DOUBLE / n AS mean_gap_us,
        |  max(CASE WHEN rn = floor((n-1)::DOUBLE * 0.5) THEN gap_us::DOUBLE END)
        |    + ((n-1)::DOUBLE * 0.5 - floor((n-1)::DOUBLE * 0.5))
        |    * (max(CASE WHEN rn = ceil((n-1)::DOUBLE * 0.5) THEN gap_us::DOUBLE END)
        |       - max(CASE WHEN rn = floor((n-1)::DOUBLE * 0.5) THEN gap_us::DOUBLE END))
        |    AS p50_gap_us,
        |  max(CASE WHEN rn = floor((n-1)::DOUBLE * 0.9) THEN gap_us::DOUBLE END)
        |    + ((n-1)::DOUBLE * 0.9 - floor((n-1)::DOUBLE * 0.9))
        |    * (max(CASE WHEN rn = ceil((n-1)::DOUBLE * 0.9) THEN gap_us::DOUBLE END)
        |       - max(CASE WHEN rn = floor((n-1)::DOUBLE * 0.9) THEN gap_us::DOUBLE END))
        |    AS p90_gap_us,
        |  max(gap_us) AS max_gap_us
        |FROM rk GROUP BY user_id, n""".stripMargin),

    Gate("q_level_shift", (s, dir) =>
      // sliding two-sample step detector on daily per-type volumes:
      // next-7-observed-days mean minus previous-7 — full frames only
      Events.levelShift(t(s, dir, "events"), w = 7),
      """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n FROM events GROUP BY event_type, day),
        |fr AS (SELECT event_type, day,
        |    count(n) OVER b AS n_before, count(n) OVER a AS n_after,
        |    sum(n) OVER b AS sum_before, sum(n) OVER a AS sum_after
        |  FROM daily
        |  WINDOW b AS (PARTITION BY event_type ORDER BY day ASC
        |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING),
        |    a AS (PARTITION BY event_type ORDER BY day ASC
        |      ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING))
        |SELECT event_type, day,
        |  round(sum_before::DOUBLE / 7, 6) AS before_avg,
        |  round(sum_after::DOUBLE / 7, 6) AS after_avg,
        |  round(sum_after::DOUBLE / 7 - sum_before::DOUBLE / 7, 6) AS shift
        |FROM fr WHERE n_before = 7 AND n_after = 7""".stripMargin),

    Gate("q_top_paths", (s, dir) =>
      // journey mining: the 20 most common first-5-event session paths;
      // the maxSteps cut lands BEFORE any per-session collection
      Events.topPaths(t(s, dir, "events"), maxSteps = 5, k = 20),
      s"""WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS tsu FROM events),
        |$SessionSeqCtes
        |r AS (SELECT user_id, session_seq, event_type,
        |    row_number() OVER (PARTITION BY user_id, session_seq
        |      ORDER BY tsu, event_id) AS rn FROM c),
        |p AS (SELECT user_id, session_seq,
        |    string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 5 GROUP BY user_id, session_seq)
        |SELECT path, count(*) AS n_sessions FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path ASC LIMIT 20""".stripMargin),

    Gate("q_ab_lift", (s, dir) =>
      // experiment readout: md5-deterministic 50/50 arms, per-user
      // integer-micro metric, Welch z from exact n·S2−S1² state
      Events.abLift(t(s, dir, "events")),
      s"""$UserArmMoments
         |SELECT n_c, n_t,
         |$WelchReadout""".stripMargin),

    Gate("q_bounce_rate", (s, dir) =>
      // single-event-session share per day on the compact session frame
      Events.bounceRate(t(s, dir, "events")),
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
        |$SessionSeqCtes
        |g AS (SELECT user_id, session_seq, count(*) AS n_events,
        |    min(tsu) // 86400000000 AS day
        |  FROM c GROUP BY 1, 2)
        |SELECT day, count(*) AS n_sessions,
        |  sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::BIGINT AS n_bounces,
        |  round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE, 6) AS bounce_rate
        |FROM g GROUP BY day""".stripMargin),

    Gate("q_stickiness", (s, dir) =>
      // engagement ratio: DAU / trailing-28d MAU per observed day
      Events.stickiness(t(s, dir, "events"), windowDays = 28),
      """WITH ud AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
        |    user_id FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |ex AS (SELECT ud.day + t.j AS day, user_id, t.j AS off
        |  FROM ud, unnest(range(0, 28)) AS t(j))
        |SELECT ex.day AS day,
        |  count(DISTINCT CASE WHEN off = 0 THEN user_id END) AS dau,
        |  count(DISTINCT user_id) AS mau,
        |  round(count(DISTINCT CASE WHEN off = 0 THEN user_id END)::DOUBLE
        |    / count(DISTINCT user_id)::DOUBLE, 6) AS stickiness
        |FROM ex JOIN days ON ex.day = days.day
        |GROUP BY ex.day""".stripMargin),

    Gate("q_feature_incremental", (s, dir) => {
      // feature-store maintenance: history lives as the stored day
      // frame; the post-cutoff shard refreshes ONLY touched users —
      // bit-equal to the full recompute restricted to them
      // realistic shard: the FINAL day arrives; history is the stored
      // day frame (the whole point: zero raw-history re-scan, and the
      // re-window touches only that day's users)
      val e = t(s, dir, "events")
      val cutNs = 1706572800000000000L // 2024-01-30T00:00Z
      Events.featureWindowsIncremental(
        Events.featureDayFrame(
          graft.ops.EventTime.normalizeTs(e).filter(col("ts") < cutNs)),
        graft.ops.EventTime.normalizeTs(e).filter(col("ts") >= cutNs))
    },
      s"""WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 1000000) AS BIGINT) AS vmic,
        |    epoch_us(ts) AS tsu FROM events),
        |t AS (SELECT DISTINCT user_id FROM e
        |  WHERE tsu >= 1706572800000000),
        |d AS (SELECT e.user_id, day, count(*) AS n_1d, sum(vmic) AS vm
        |  FROM e JOIN t ON t.user_id = e.user_id GROUP BY 1, 2)
        |$FeatureWindowsSelect""".stripMargin),

    Gate("q_ab_power", (s, dir) =>
      // experiment sizing: the MDE this population's variance allows at
      // alpha=.05 / 80% power, from exact Welch moments
      Events.abPower(t(s, dir, "events")),
      s"""$UserArmMoments,
         |m AS (SELECT *,
         |    sqrt((n_t * s2_t - s1_t * s1_t)::DOUBLE
         |        / (n_t::DOUBLE * (n_t - 1)::DOUBLE) / 1e12 / n_t
         |      + (n_c * s2_c - s1_c * s1_c)::DOUBLE
         |        / (n_c::DOUBLE * (n_c - 1)::DOUBLE) / 1e12 / n_c) AS se,
         |    s1_c::DOUBLE / n_c / 1e6 AS mean_c
         |  FROM w)
         |SELECT n_c, n_t,
         |  round(CASE WHEN n_c > 1 AND n_t > 1 THEN se END, 6) AS se,
         |  round(CASE WHEN n_c > 1 AND n_t > 1
         |    THEN (1.959964 + 0.841621) * se END, 6) AS mde_abs,
         |  round(CASE WHEN n_c > 1 AND n_t > 1 AND mean_c <> 0.0
         |    THEN (1.959964 + 0.841621) * se / mean_c END, 6) AS mde_rel
         |FROM m""".stripMargin),

    Gate("q_ab_conversion", (s, dir) =>
      // binary-metric readout: post-cutoff purchase conversion, pooled
      // two-proportion z on the md5 arms
      Events.abConversion(t(s, dir, "events"), "purchase",
        cutoffMicros = 1705363200000000L),
      s"""WITH u AS (SELECT user_id,
         |    max(CASE WHEN event_type = 'purchase'
         |      AND epoch_us(ts) >= 1705363200000000 THEN 1 ELSE 0 END) AS conv,
         |    (${hexToLong("md5(user_id::VARCHAR)", 1, 8)}) % 2 AS arm
         |  FROM events GROUP BY user_id),
         |w AS (SELECT
         |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_c,
         |    sum(CASE WHEN arm = 0 THEN conv ELSE 0 END)::BIGINT AS x_c,
         |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_t,
         |    sum(CASE WHEN arm = 1 THEN conv ELSE 0 END)::BIGINT AS x_t
         |  FROM u)
         |SELECT n_c, x_c, n_t, x_t,
         |  round(CASE WHEN n_c > 0 THEN x_c::DOUBLE / n_c::DOUBLE END, 6)
         |    AS rate_c,
         |  round(CASE WHEN n_t > 0 THEN x_t::DOUBLE / n_t::DOUBLE END, 6)
         |    AS rate_t,
         |  round(CASE WHEN n_c > 0 AND n_t > 0
         |    THEN x_t::DOUBLE / n_t::DOUBLE - x_c::DOUBLE / n_c::DOUBLE END, 6)
         |    AS lift,
         |  round(CASE WHEN n_c > 0 AND n_t > 0 AND x_c + x_t > 0
         |      AND x_c + x_t < n_c + n_t
         |    THEN (x_t::DOUBLE / n_t::DOUBLE - x_c::DOUBLE / n_c::DOUBLE)
         |      / sqrt((x_c + x_t)::DOUBLE / (n_c + n_t)::DOUBLE
         |        * (1.0 - (x_c + x_t)::DOUBLE / (n_c + n_t)::DOUBLE)
         |        * (1.0 / n_c::DOUBLE + 1.0 / n_t::DOUBLE)) END, 6) AS z
         |FROM w""".stripMargin),

    Gate("q_diff_in_diff", (s, dir) =>
      // trend-robust experiment readout: per-user signed post-minus-pre
      // delta through abLift's exact Welch fold
      Events.diffInDiff(t(s, dir, "events"),
        cutoffMicros = 1705363200000000L),
      s"""WITH u AS (SELECT user_id,
         |    sum(CASE WHEN epoch_us(ts) >= 1705363200000000
         |      THEN CAST(round(value * 1000000) AS BIGINT)
         |      ELSE -CAST(round(value * 1000000) AS BIGINT) END) AS d,
         |    (${hexToLong("md5(user_id::VARCHAR)", 1, 8)}) % 2 AS arm
         |  FROM events GROUP BY user_id),
         |${armMomentsSql("d")}
         |SELECT n_c, n_t,
         |  round(CASE WHEN n_c > 0 THEN s1_c::DOUBLE / n_c / 1e6 END, 6)
         |    AS delta_c,
         |  round(CASE WHEN n_t > 0 THEN s1_t::DOUBLE / n_t / 1e6 END, 6)
         |    AS delta_t,
         |  round(CASE WHEN n_c > 0 AND n_t > 0
         |    THEN s1_t::DOUBLE / n_t / 1e6 - s1_c::DOUBLE / n_c / 1e6 END, 6)
         |    AS did,
         |$WelchZ""".stripMargin),

    Gate("q_session_cooccur", (s, dir) =>
      // journey coupling: which event types share sessions more (or
      // less) than independence predicts — distinct (session, type)
      // reduction first, so bot sessions cost |types|, never length
      Events.sessionCooccurrence(t(s, dir, "events")),
      s"""WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS tsu FROM events),
        |$SessionSeqCtes
        |st AS (SELECT DISTINCT user_id, session_seq, event_type FROM c),
        |ns AS (SELECT count(*) AS s FROM
        |  (SELECT DISTINCT user_id, session_seq FROM st)),
        |ta AS (SELECT event_type, count(*) AS n FROM st GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_ab
        |  FROM st a JOIN st b ON a.user_id = b.user_id
        |    AND a.session_seq = b.session_seq
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_ab,
        |  round((n_ab::DOUBLE * ns.s::DOUBLE) / (ta.n::DOUBLE * tb.n::DOUBLE), 6)
        |    AS lift
        |FROM p JOIN ta ON ta.event_type = p.type_a
        |  JOIN ta tb ON tb.event_type = p.type_b
        |  CROSS JOIN ns""".stripMargin),

    Gate("q_seasonal_error", (s, dir) =>
      // forecastability floor: seasonal-naive (lag-7-day) MAE/WAPE per
      // type on the compact (type, day) frame, observed-day pairs only
      Events.seasonalError(t(s, dir, "events"), periodDays = 7),
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |j AS (SELECT d.event_type, d.n, p.n AS pred
        |  FROM d JOIN d p ON p.event_type = d.event_type
        |    AND p.day + 7 = d.day)
        |SELECT event_type, count(*) AS n_days,
        |  round(sum(abs(n - pred))::DOUBLE / count(*), 6) AS mae,
        |  round(sum(abs(n - pred))::DOUBLE / sum(pred)::DOUBLE, 6) AS wape
        |FROM j GROUP BY event_type""".stripMargin),

    Gate("q_ab_cuped", (s, dir) =>
      // CUPED variance-reduced readout: pre-cutoff activity as the
      // control covariate, pooled theta from exact integer moments,
      // adjusted Welch z + variance-reduction rho^2
      Events.abCuped(t(s, dir, "events"),
        cutoffMicros = 1705363200000000L), // 2024-01-16T00:00Z
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu,
         |    CAST(round(value * 1000000) AS BIGINT) AS vmic FROM events),
         |u AS (SELECT user_id,
         |    sum(CASE WHEN tsu < 1705363200000000 THEN vmic ELSE 0 END) AS x,
         |    sum(CASE WHEN tsu >= 1705363200000000 THEN vmic ELSE 0 END) AS y,
         |    (${hexToLong("md5(user_id::VARCHAR)", 1, 8)}) % 2 AS arm
         |  FROM e GROUP BY user_id),
         |w AS (SELECT count(*)::BIGINT AS n,
         |    sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
         |    sum(x::HUGEINT * x::HUGEINT) AS sxx,
         |    sum(x::HUGEINT * y::HUGEINT) AS sxy,
         |    sum(y::HUGEINT * y::HUGEINT) AS syy,
         |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_c,
         |    sum(CASE WHEN arm = 0 THEN x ELSE 0 END)::HUGEINT AS sx_c,
         |    sum(CASE WHEN arm = 0 THEN y ELSE 0 END)::HUGEINT AS sy_c,
         |    sum(CASE WHEN arm = 0 THEN x::HUGEINT * x::HUGEINT ELSE 0 END) AS sxx_c,
         |    sum(CASE WHEN arm = 0 THEN x::HUGEINT * y::HUGEINT ELSE 0 END) AS sxy_c,
         |    sum(CASE WHEN arm = 0 THEN y::HUGEINT * y::HUGEINT ELSE 0 END) AS syy_c,
         |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_t,
         |    sum(CASE WHEN arm = 1 THEN x ELSE 0 END)::HUGEINT AS sx_t,
         |    sum(CASE WHEN arm = 1 THEN y ELSE 0 END)::HUGEINT AS sy_t,
         |    sum(CASE WHEN arm = 1 THEN x::HUGEINT * x::HUGEINT ELSE 0 END) AS sxx_t,
         |    sum(CASE WHEN arm = 1 THEN x::HUGEINT * y::HUGEINT ELSE 0 END) AS sxy_t,
         |    sum(CASE WHEN arm = 1 THEN y::HUGEINT * y::HUGEINT ELSE 0 END) AS syy_t
         |  FROM u),
         |m AS (SELECT *,
         |    (n * sxx - sx * sx) AS vxx, (n * sxy - sx * sy) AS vxy,
         |    (n * syy - sy * sy) AS vyy,
         |    CASE WHEN (n * sxx - sx * sx) > 0
         |      THEN (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE
         |      ELSE 0.0 END AS theta,
         |    sx::DOUBLE / n / 1e6 AS mxp
         |  FROM w),
         |f AS (SELECT *,
         |    sy_c::DOUBLE / n_c / 1e6
         |      - theta * (sx_c::DOUBLE / n_c / 1e6 - mxp) AS madj_c,
         |    sy_t::DOUBLE / n_t / 1e6
         |      - theta * (sx_t::DOUBLE / n_t / 1e6 - mxp) AS madj_t,
         |    ((n_c * syy_c - sy_c * sy_c)::DOUBLE
         |      - 2 * theta * (n_c * sxy_c - sx_c * sy_c)::DOUBLE
         |      + theta * theta * (n_c * sxx_c - sx_c * sx_c)::DOUBLE)
         |      / (n_c::DOUBLE * (n_c - 1)::DOUBLE) / 1e12 AS va_c,
         |    ((n_t * syy_t - sy_t * sy_t)::DOUBLE
         |      - 2 * theta * (n_t * sxy_t - sx_t * sy_t)::DOUBLE
         |      + theta * theta * (n_t * sxx_t - sx_t * sx_t)::DOUBLE)
         |      / (n_t::DOUBLE * (n_t - 1)::DOUBLE) / 1e12 AS va_t
         |  FROM m)
         |SELECT n_c, n_t, round(theta, 6) AS theta,
         |  round(CASE WHEN n_c > 0 AND n_t > 0
         |    THEN sy_t::DOUBLE / n_t / 1e6 - sy_c::DOUBLE / n_c / 1e6 END, 6)
         |    AS lift_raw,
         |  round(CASE WHEN n_c > 0 AND n_t > 0
         |    THEN madj_t - madj_c END, 6) AS lift_adj,
         |  round(CASE WHEN n_c > 1 AND n_t > 1
         |      AND va_t / n_t + va_c / n_c > 0
         |    THEN (madj_t - madj_c) / sqrt(va_t / n_t + va_c / n_c) END, 6)
         |    AS z_adj,
         |  round(CASE WHEN vxx > 0 AND vyy > 0
         |    THEN (vxy::DOUBLE * vxy::DOUBLE) / (vxx::DOUBLE * vyy::DOUBLE)
         |    END, 6) AS rho2
         |FROM f""".stripMargin),

    Gate("q_session_paths", (s, dir) =>
      // per-session journey prefixes through the bounded PathPrefix
      // aggregate under native session_window — O(maxSteps) state per
      // session, no rank window, streaming-identical shape
      Events.sessionPaths(t(s, dir, "events"), maxSteps = 5),
      s"""WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS tsu FROM events),
        |$SessionSeqCtes
        |r AS (SELECT user_id, session_seq, event_type, tsu,
        |    row_number() OVER (PARTITION BY user_id, session_seq
        |      ORDER BY tsu, event_id) AS rn FROM c)
        |SELECT user_id, min(tsu) AS start_us,
        |  string_agg(CASE WHEN rn <= 5 THEN event_type END, '>' ORDER BY rn)
        |    AS path,
        |  count(*) AS n_events
        |FROM r GROUP BY user_id, session_seq""".stripMargin),

    Gate("q_feature_windows", (s, dir) =>
      // trailing 1/7/28-day per-user features on one compact day-frame
      // exchange — RANGE frames over the day number, recency lag
      Events.featureWindows(t(s, dir, "events")),
      s"""WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 1000000) AS BIGINT) AS vmic FROM events),
        |d AS (SELECT user_id, day, count(*) AS n_1d, sum(vmic) AS vm
        |  FROM e GROUP BY 1, 2)
        |$FeatureWindowsSelect""".stripMargin),

    Gate("q_point_in_time", (s, dir) => {
      // leak-free feature lookup: each click reads the purchase-value
      // SCD2 version valid AT THE CLICK'S OWN TIME (never the future)
      val e = t(s, dir, "events")
      val dim = Events.scd2Intervals(e).filter(col("event_type") === "purchase")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("tsu"))
      Events.pointInTimeJoin(clicks, dim, "user_id", "tsu", Seq("value"))
        .select(col("event_id"), col("user_id"), col("tsu"), col("dim_value"))
    },
      s"""$ScdChangePoints,
        |scd AS (SELECT user_id, value,
        |    tsu AS valid_from_us,
        |    lead(tsu) OVER (PARTITION BY user_id, event_type
        |      ORDER BY tsu ASC, event_id ASC) AS valid_to_us
        |  FROM ch WHERE event_type = 'purchase'),
        |clicks AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events
        |  WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.tsu, s.value AS dim_value
        |FROM clicks c LEFT JOIN scd s ON c.user_id = s.user_id
        |  AND c.tsu >= s.valid_from_us
        |  AND (s.valid_to_us IS NULL OR c.tsu < s.valid_to_us)""".stripMargin),

    Gate("q_resample_interp", (s, dir) =>
      // linear-interpolated daily resample (smooth-gauge twin of LOCF):
      // four carry windows share one user exchange, per-user span grid
      Events.resampleDailyInterp(t(s, dir, "events")),
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu,
        |    round(value, 6) AS v FROM events WHERE value IS NOT NULL),
        |d0 AS (SELECT user_id, tsu // 86400000000 AS day, v,
        |    row_number() OVER (PARTITION BY user_id, tsu // 86400000000
        |      ORDER BY tsu DESC, event_id DESC) AS rn
        |  FROM e),
        |d1 AS (SELECT user_id, day, v FROM d0 WHERE rn = 1),
        |sp AS (SELECT user_id, min(day) AS dmin, max(day) AS dmax
        |  FROM d1 GROUP BY user_id),
        |g AS (SELECT user_id, unnest(range(dmin, dmax + 1)) AS day FROM sp),
        |j AS (SELECT g.user_id, g.day, d1.v
        |  FROM g LEFT JOIN d1 ON g.user_id = d1.user_id AND g.day = d1.day),
        |f AS (SELECT user_id, day, v,
        |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wb AS pd,
        |    last_value(v IGNORE NULLS) OVER wb AS pv,
        |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wf AS nd,
        |    first_value(v IGNORE NULLS) OVER wf AS nv
        |  FROM j
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, day,
        |  round(CASE WHEN pd = nd THEN pv
        |    ELSE pv + (nv - pv) * (day - pd)::DOUBLE / (nd - pd)::DOUBLE END, 6)
        |    AS value_interp,
        |  CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS observed
        |FROM f""".stripMargin),

    Gate("q_srm", (s, dir) =>
      // experiment hygiene: do the md5 arms actually split 50/50?
      // 1-dof chi^2 sample-ratio-mismatch gate at alpha = .01
      Events.srmCheck(t(s, dir, "events")),
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |a AS (SELECT (${hexToLong("md5(user_id::VARCHAR)", 1, 8)}) % 2 AS arm
         |  FROM u),
         |w AS (SELECT
         |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_c,
         |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_t FROM a),
         |f AS (SELECT n_c, n_t,
         |    round(CASE WHEN n_c + n_t > 0
         |      THEN n_t::DOUBLE / (n_c + n_t)::DOUBLE END, 6) AS ratio_t,
         |    round(CASE WHEN n_c + n_t > 0
         |      THEN ((n_c - n_t) * (n_c - n_t))::DOUBLE / (n_c + n_t)::DOUBLE
         |      END, 6) AS chi2
         |  FROM w)
         |SELECT n_c, n_t, ratio_t, chi2,
         |  coalesce(chi2 > 6.635, false) AS srm FROM f""".stripMargin),

    Gate("q_rolling_corr", (s, dir) =>
      // co-movement drift: trailing-28d correlation of daily click vs
      // purchase volumes on the compact day frame
      Events.rollingCorr(t(s, dir, "events"), "click", "purchase",
        windowDays = 28, minDays = 7),
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS x,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS y
        |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1),
        |s AS (SELECT day, x, y,
        |    count(*) OVER w AS k,
        |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
        |    sum(x::HUGEINT * y) OVER w AS sxy,
        |    sum(x::HUGEINT * x) OVER w AS sxx,
        |    sum(y::HUGEINT * y) OVER w AS syy
        |  FROM d WINDOW w AS (ORDER BY day
        |    RANGE BETWEEN 27 PRECEDING AND CURRENT ROW))
        |SELECT day, x AS n_a, y AS n_b, k::BIGINT AS n_days,
        |  round(CASE WHEN k >= 7 AND (k * sxx - sx::HUGEINT * sx) > 0
        |      AND (k * syy - sy::HUGEINT * sy) > 0
        |    THEN (k * sxy - sx::HUGEINT * sy)::DOUBLE
        |      / (sqrt((k * sxx - sx::HUGEINT * sx)::DOUBLE)
        |         * sqrt((k * syy - sy::HUGEINT * sy)::DOUBLE)) END, 6) AS corr
        |FROM s""".stripMargin),

    Gate("q_ab_lift_by", (s, dir) =>
      // heterogeneous treatment effects: the abLift readout per user
      // segment (= the user's FIRST event type, the acquisition proxy)
      Events.abLiftBy(t(s, dir, "events"), "event_type"),
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |    epoch_us(ts) AS tsu,
         |    CAST(round(value * 1000000) AS BIGINT) AS vmic FROM events),
         |fe AS (SELECT user_id, event_type AS segment, row_number() OVER (
         |    PARTITION BY user_id ORDER BY tsu, event_id) AS rn FROM e),
         |seg AS (SELECT user_id, segment FROM fe WHERE rn = 1),
         |us AS (SELECT user_id, sum(vmic) AS sm,
         |    (${hexToLong("md5(user_id::VARCHAR)", 1, 8)}) % 2 AS arm
         |  FROM e GROUP BY user_id),
         |u AS (SELECT us.*, seg.segment FROM us JOIN seg USING (user_id)),
         |w AS (SELECT segment,
         |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_c,
         |    sum(CASE WHEN arm = 0 THEN sm ELSE 0 END)::HUGEINT AS s1_c,
         |    sum(CASE WHEN arm = 0 THEN sm::HUGEINT * sm ELSE 0 END) AS s2_c,
         |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_t,
         |    sum(CASE WHEN arm = 1 THEN sm ELSE 0 END)::HUGEINT AS s1_t,
         |    sum(CASE WHEN arm = 1 THEN sm::HUGEINT * sm ELSE 0 END) AS s2_t
         |  FROM u GROUP BY segment)
         |SELECT segment, n_c, n_t,
         |$WelchReadout""".stripMargin),

    Gate("q_cohort_ltv", (s, dir) =>
      // LTV curves: cumulative purchase revenue per user by acquisition
      // cohort (first active day) and age, exact integral micros
      Events.cohortLtv(t(s, dir, "events"), "purchase", maxAgeDays = 28),
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    event_type, CAST(round(value * 1000000) AS BIGINT) AS vmic
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
        |cs AS (SELECT cohort_day, count(*)::BIGINT AS n_users FROM f GROUP BY 1),
        |r AS (SELECT f.cohort_day, (e.day - f.cohort_day)::INT AS age,
        |    sum(vmic)::BIGINT AS rev
        |  FROM e JOIN f USING (user_id)
        |  WHERE event_type = 'purchase' AND e.day - f.cohort_day <= 28
        |  GROUP BY 1, 2),
        |c AS (SELECT cohort_day, age, sum(rev) OVER (PARTITION BY cohort_day
        |    ORDER BY age ROWS UNBOUNDED PRECEDING) AS cum FROM r)
        |SELECT c.cohort_day, c.age, cs.n_users,
        |  round(c.cum::DOUBLE / 1e6 / cs.n_users::DOUBLE, 6) AS ltv_per_user
        |FROM c JOIN cs USING (cohort_day)""".stripMargin),

    Gate("q_anomaly_bands", (s, dir) =>
      // robust daily volume anomalies: median +- 3*MAD of the trailing
      // 14 observed days (today excluded), spikes inside the window
      // cannot mask the next one
      Events.anomalyBands(t(s, dir, "events"), k = 3.0,
        windowDays = 14, minDays = 7),
      {
      val interp = (arr: String) =>
        s"""$arr[(floor((len($arr) - 1)::DOUBLE * 0.5))::INT + 1]
           |      + ((len($arr) - 1)::DOUBLE * 0.5
           |         - floor((len($arr) - 1)::DOUBLE * 0.5))
           |      * ($arr[(ceil((len($arr) - 1)::DOUBLE * 0.5))::INT + 1]
           |         - $arr[(floor((len($arr) - 1)::DOUBLE * 0.5))::INT + 1])""".stripMargin
      s"""WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    count(*)::DOUBLE AS n FROM events GROUP BY 1, 2),
         |h AS (SELECT event_type, day, n,
         |    list_sort(coalesce(list(n) OVER (PARTITION BY event_type
         |      ORDER BY day RANGE BETWEEN 14 PRECEDING AND 1 PRECEDING),
         |      []::DOUBLE[])) AS hist
         |  FROM d),
         |m AS (SELECT *, len(hist)::INT AS n_hist,
         |    CASE WHEN len(hist) > 0 THEN ${interp("hist")} END AS med
         |  FROM h),
         |m2 AS (SELECT *,
         |    list_sort(list_transform(hist, x -> abs(x - med))) AS dh FROM m),
         |m3 AS (SELECT *,
         |    CASE WHEN len(dh) > 0 THEN ${interp("dh")} END AS mad FROM m2)
         |SELECT event_type, day, n::BIGINT AS n, n_hist,
         |  round(CASE WHEN n_hist >= 7 THEN med END, 6) AS expected,
         |  round(CASE WHEN n_hist >= 7 THEN mad END, 6) AS mad,
         |  coalesce(n_hist >= 7 AND abs(n - med) > 3.0 * mad, false)
         |    AS anomaly
         |FROM m3""".stripMargin
    }))

  /** The 30-minute inactivity sessionization of [[graft.ops.Events.sessionize]]
    * over a prior CTE `e`(user_id, event_id, tsu): CTE `c` carries each
    * event's `session_seq`. */
  private val SessionSeqCtes =
    """l AS (SELECT *, lag(tsu) OVER (PARTITION BY user_id
      |    ORDER BY tsu, event_id) AS prev FROM e),
      |s AS (SELECT *, CASE WHEN prev IS NULL OR tsu - prev > 1800000000
      |    THEN 1 ELSE 0 END AS is_new FROM l),
      |c AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
      |    ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM s),""".stripMargin

  /** The as-of gates' two sides: every click, and each user's purchases
    * per microsecond with their max value. */
  private def clicksAndPurchases(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = t(s, dir, "events").withColumn("tsu", expr("ts div 1000L"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("tsu"), col("event_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("tsu"))
      .agg(round(max(col("value")), 6).as("pvalue"))
    (clicks, purchases)
  }

  /** DuckDB twin of [[clicksAndPurchases]]: CTEs `clicks` and `p`. */
  private val AsOfInputs =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu, value FROM events),
      |clicks AS (SELECT user_id, tsu, event_id FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, tsu AS ptsu, round(max(value), 6) AS pvalue
      |  FROM e WHERE event_type = 'purchase' GROUP BY user_id, tsu)""".stripMargin

  /** Each click's purchase by DuckDB's ASOF join; `cmp` is `<=` for the
    * latest purchase at or before the click, `>=` for the earliest at or
    * after it. */
  private def asOfSql(cmp: String) =
    s"""$AsOfInputs
       |SELECT c.user_id, c.tsu, c.event_id, p.ptsu AS asof_tsu, p.pvalue AS asof_pvalue
       |FROM clicks c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ptsu $cmp c.tsu""".stripMargin

  /** The greedy-earliest funnel replay of [[graft.ops.Events.funnel]]:
    * CTE `fk` holds each user's first stage-k time after the stage-(k-1)
    * time, with the earlier stage times carried along. */
  private def funnelSql(stages: Seq[String]): String = {
    def prior(k: Int, f: String) = (1 until k).map(j => s"$f.t$j").mkString(", ")
    val first =
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
         |f1 AS (SELECT user_id, min(tsu) AS t1 FROM e WHERE event_type = '${stages.head}' GROUP BY user_id)""".stripMargin
    val next = stages.zipWithIndex.tail.map { case (stage, i) =>
      val (k, f) = (i + 1, s"f$i")
      s"""f$k AS (SELECT e.user_id, ${prior(k, f)}, min(e.tsu) AS t$k
         |  FROM e JOIN $f ON e.user_id = $f.user_id
         |  WHERE e.event_type = '$stage' AND e.tsu > $f.t$i GROUP BY e.user_id, ${prior(k, f)})""".stripMargin
    }
    val n = stages.size
    (first +: next).mkString(",\n") +
      s"\nSELECT user_id, ${(1 to n).map(k => s"t$k").mkString(", ")} FROM f$n"
  }

  /** The trailing 1/7/28-day features of [[graft.ops.Events.featureWindows]]
    * over a prior CTE `d`(user_id, day, n_1d, vm). */
  private val FeatureWindowsSelect =
    """SELECT user_id, day, n_1d,
      |  CAST(sum(n_1d) OVER w7 AS BIGINT) AS n_7d,
      |  CAST(sum(n_1d) OVER w28 AS BIGINT) AS n_28d,
      |  round(CAST(sum(vm) OVER w7 AS DOUBLE) / 1000000.0, 6) AS v_7d,
      |  day - lag(day) OVER (PARTITION BY user_id ORDER BY day)
      |    AS days_since_prev
      |FROM d
      |WINDOW w7 AS (PARTITION BY user_id ORDER BY day
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW),
      |  w28 AS (PARTITION BY user_id ORDER BY day
      |    RANGE BETWEEN 27 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Per-arm count, sum and HUGEINT sum of squares of the per-user metric
    * `x` of CTE `u`(x, arm), as CTE `w`: the exact n·S2 − S1² state of
    * [[graft.ops.Events.abLift]]'s Welch fold. */
  private def armMomentsSql(x: String) =
    s"""w AS (SELECT
       |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_c,
       |    sum(CASE WHEN arm = 0 THEN $x ELSE 0 END)::HUGEINT AS s1_c,
       |    sum(CASE WHEN arm = 0 THEN $x::HUGEINT * $x::HUGEINT
       |      ELSE 0 END) AS s2_c,
       |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_t,
       |    sum(CASE WHEN arm = 1 THEN $x ELSE 0 END)::HUGEINT AS s1_t,
       |    sum(CASE WHEN arm = 1 THEN $x::HUGEINT * $x::HUGEINT
       |      ELSE 0 END) AS s2_t
       |  FROM u)""".stripMargin

  /** CTE `u`: each user's integer-micro value sum `sm` and md5 arm, then
    * the arm moments `w` of `sm`. */
  private val UserArmMoments =
    s"""WITH u AS (SELECT user_id,
       |    sum(CAST(round(value * 1000000) AS BIGINT)) AS sm,
       |    (${hexToLong("md5(user_id::VARCHAR)", 1, 8)}) % 2 AS arm
       |  FROM events GROUP BY user_id),
       |${armMomentsSql("sm")}""".stripMargin

  /** The Welch z of the treated-minus-control mean over `w`'s moments. */
  private val WelchZ =
    """  round(CASE WHEN n_c > 1 AND n_t > 1 THEN
      |    (s1_t::DOUBLE / n_t / 1e6 - s1_c::DOUBLE / n_c / 1e6)
      |    / sqrt((n_t * s2_t - s1_t * s1_t)::DOUBLE
      |        / (n_t::DOUBLE * (n_t - 1)::DOUBLE) / 1e12 / n_t
      |      + (n_c * s2_c - s1_c * s1_c)::DOUBLE
      |        / (n_c::DOUBLE * (n_c - 1)::DOUBLE) / 1e12 / n_c) END, 6) AS z
      |FROM w""".stripMargin

  /** The A/B readout columns: arm means, lift and [[WelchZ]]. */
  private val WelchReadout =
    s"""  round(CASE WHEN n_c > 0 THEN s1_c::DOUBLE / n_c / 1e6 END, 6) AS mean_c,
       |  round(CASE WHEN n_t > 0 THEN s1_t::DOUBLE / n_t / 1e6 END, 6) AS mean_t,
       |  round(CASE WHEN n_c > 0 AND n_t > 0
       |    THEN s1_t::DOUBLE / n_t / 1e6 - s1_c::DOUBLE / n_c / 1e6 END, 6) AS lift,
       |$WelchZ""".stripMargin

  /** The change points of [[graft.ops.Events.scd2Intervals]]: CTE `ch`
    * keeps each (user, event type)'s first row and every value change. */
  private val ScdChangePoints =
    """WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS tsu,
      |    round(value, 6) AS value FROM events),
      |c AS (SELECT *,
      |    lag(value) OVER w AS prev,
      |    row_number() OVER w AS rn
      |  FROM e WINDOW w AS (PARTITION BY user_id, event_type
      |    ORDER BY tsu ASC, event_id ASC)),
      |ch AS (SELECT user_id, event_type, event_id, tsu, value FROM c
      |  WHERE rn = 1 OR value IS DISTINCT FROM prev)""".stripMargin
}
