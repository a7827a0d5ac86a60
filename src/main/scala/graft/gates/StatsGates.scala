package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.ops.{Sketches, Stats, TextOps}

/** Stats and sketch gates: distribution statistics, tests, survival,
  * bootstrap, data expectations and profiles ([[graft.ops.Stats]],
  * [[graft.ops.Expect]], [[graft.ops.Profile]]) and the mergeable
  * sketches ([[graft.ops.Sketches]], HLL/KMV/top-k/histogram aggregates). */
private[graft] object StatsGates {
  import Shared._

  def gates: Seq[Gate] = Seq(
    Gate("q_percentiles", (s, dir) =>
      // exact interpolated quantiles by distributed rank (never a
      // per-group array collect — Spark's builtin percentile holds each
      // group in memory)
      Stats.percentileExact(t(s, dir, "lineitem"), Seq("l_returnflag"),
        "l_extendedprice", Seq("p50" -> 0.5, "p95" -> 0.95)),
      """WITH rk AS (SELECT l_returnflag, l_extendedprice::DOUBLE AS v,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice::DOUBLE ASC) - 1 AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |g AS (SELECT l_returnflag, n,
        |    max(CASE WHEN rn = floor((n - 1)::DOUBLE * 0.5) THEN v END) AS lo50,
        |    max(CASE WHEN rn = ceil((n - 1)::DOUBLE * 0.5) THEN v END) AS hi50,
        |    max(CASE WHEN rn = floor((n - 1)::DOUBLE * 0.95) THEN v END) AS lo95,
        |    max(CASE WHEN rn = ceil((n - 1)::DOUBLE * 0.95) THEN v END) AS hi95
        |  FROM rk GROUP BY l_returnflag, n)
        |SELECT l_returnflag,
        |  round(lo50 + ((n - 1)::DOUBLE * 0.5 - floor((n - 1)::DOUBLE * 0.5)) * (hi50 - lo50), 6) AS p50,
        |  round(lo95 + ((n - 1)::DOUBLE * 0.95 - floor((n - 1)::DOUBLE * 0.95)) * (hi95 - lo95), 6) AS p95
        |FROM g""".stripMargin),

    Gate("q_histogram_agg", (s, dir) =>
      // the SAME histogram through the mergeable HistogramAgg (one
      // O(nbins) array state instead of a (bucket, partials) shuffle —
      // the carrier streaming windowed quantiles use); zero bins
      // dropped to match the groupBy form's output
      t(s, dir, "lineitem")
        .agg(GraftFunctions.histogram(col("l_extendedprice"), 0.0, 120000.0, 24).as("hist"))
        .select(posexplode(col("hist")).as(Seq("bin", "cnt")))
        .filter(col("cnt") > 0)
        .select(col("bin").cast("long").as("bin"), col("cnt")),
      """SELECT CAST(LEAST(GREATEST(floor((l_extendedprice - 0.0) / 5000.0), 0), 23) AS BIGINT) AS bin,
        |  count(*) AS cnt
        |FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1""".stripMargin),

    Gate("q_kmv_distinct", (s, dir) => {
      // KMV distinct-count sketch vs the exact count (l_partkey is the
      // high-cardinality column: ~2k distinct per 60k rows at sf0.01)
      val pk = t(s, dir, "lineitem").select(col("l_partkey").cast("string").as("pk"))
      Sketches.kmvDistinct(pk, "pk", 256)
        .crossJoin(broadcast(pk.agg(countDistinct(col("pk")).as("exact_distinct"))))
    },
      s"""WITH h AS (SELECT DISTINCT ${hexToLong("md5(l_partkey::VARCHAR)", 1, 8)} AS h FROM lineitem),
         |km AS (SELECT h FROM h ORDER BY h ASC LIMIT 256),
         |agg AS (SELECT count(*) AS sample_k, max(h)::BIGINT AS kth_hash,
         |  round(CASE WHEN count(*) < 256 THEN count(*)::DOUBLE
         |    ELSE 255.0 * 4294967296.0 / max(h)::DOUBLE END, 6) AS est_distinct
         |  FROM km),
         |ex AS (SELECT count(DISTINCT l_partkey) AS exact_distinct FROM lineitem)
         |SELECT agg.sample_k, agg.kth_hash, agg.est_distinct, ex.exact_distinct
         |FROM agg CROSS JOIN ex""".stripMargin),

    Gate("q_cms_topk", (s, dir) => {
      // count-min sketch point queries for the exact top-20 keys:
      // est_cnt >= cnt always, equality unless the bucket collided
      val tc = t(s, dir, "lineitem")
        .select(col("l_partkey").cast("string").as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val sketch = Sketches.cmsSketch(tc, "term", "cnt", depth = 4, width = 1024)
      val top = tc.orderBy(col("cnt").desc, col("term").asc).limit(20)
      Sketches.cmsEstimate(top, sketch, "term", depth = 4, width = 1024)
    },
      {
      def bucket(jExpr: String) =
        s"${hexToLong(s"md5($jExpr || ':' || term)", 1, 8)} % 1024"
      s"""WITH tc AS (SELECT l_partkey::VARCHAR AS term, count(*) AS cnt FROM lineitem GROUP BY 1),
         |grid AS (SELECT j, bucket, sum(cnt) AS c FROM (
         |    SELECT term, cnt, j, ${bucket("j::VARCHAR")} AS bucket
         |    FROM tc, unnest(range(0, 4)) AS t(j))
         |  GROUP BY j, bucket),
         |top AS (SELECT term, cnt FROM tc ORDER BY cnt DESC, term ASC LIMIT 20),
         |probe AS (SELECT term, cnt, j, ${bucket("j::VARCHAR")} AS bucket
         |  FROM top, unnest(range(0, 4)) AS t(j))
         |SELECT term, cnt, min(c)::BIGINT AS est_cnt
         |FROM probe JOIN grid USING (j, bucket)
         |GROUP BY term, cnt""".stripMargin
    }),

    Gate("q_topk_agg", (s, dir) =>
      // bounded top-k AGGREGATE: O(k) state per group, map-side combine —
      // never the window sort of every group member the oracle runs
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(GraftFunctions.topk_by(col("l_orderkey"), col("l_extendedprice"), 5).as("top"))
        .select(col("l_returnflag"), posexplode(col("top")))
        .select(col("l_returnflag"), (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("id"), col("col.score").as("score")),
      """SELECT l_returnflag, rank::INT AS rank, id, score FROM (
        |  SELECT l_returnflag, l_orderkey AS id, l_extendedprice AS score,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey ASC) AS rank
        |  FROM lineitem) WHERE rank <= 5""".stripMargin),

    Gate("q_quantile_sketch", (s, dir) =>
      Sketches.quantileSketch(t(s, dir, "lineitem"), "l_extendedprice",
        lo = QSketchLo, hi = QSketchHi, nbins = QSketchBins,
        ps = Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99)),
      {
      def estSql(p: String) = gridQuantileSql(QSketchLo, QSketchW, p)
      s"""WITH b AS (SELECT least(greatest(
         |    CAST(floor((l_extendedprice::DOUBLE - $QSketchLo) / $QSketchW) AS BIGINT), 0), ${QSketchBins - 1}) AS bin
         |  FROM lineitem),
         |g AS (SELECT bin, count(*) AS c FROM b GROUP BY bin),
         |cg AS (SELECT bin, c,
         |    sum(c) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM g),
         |n_t AS (SELECT count(*) AS n FROM lineitem)
         |SELECT n, ${estSql("0.5")} AS p50, ${estSql("0.95")} AS p95, ${estSql("0.99")} AS p99
         |FROM cg CROSS JOIN n_t GROUP BY n""".stripMargin
    }),

    Gate("q_kmv_grouped", (s, dir) => {
      // per-group distinct estimate (bounded k-long state) next to the
      // exact count it approximates — the 100 TB countDistinct
      // replacement. The sketch and the exact audit are SEPARATE
      // aggregations joined on the bounded group key: a mixed
      // distinct/non-distinct agg makes Spark duplicate every input row
      // per aggregate family (measured 1.6s vs 0.5s at sf0.1)
      val li = t(s, dir, "lineitem")
      val est = li.groupBy(col("l_returnflag"))
        .agg(round(GraftFunctions.kmv_distinct(col("l_partkey"), 128), 6).as("est_distinct"))
      withExactDistinct(li, est)
    },
      s"""WITH h AS (SELECT DISTINCT l_returnflag AS g, ${hexToLong("md5(l_partkey::VARCHAR)", 1, 8)} AS h FROM lineitem),
         |r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h ASC) AS rn FROM h),
         |km AS (SELECT g, count(*) AS sample_k, max(h) AS kth FROM r WHERE rn <= 128 GROUP BY g),
         |ex AS (SELECT l_returnflag AS g, count(DISTINCT l_partkey) AS exact_distinct FROM lineitem GROUP BY 1)
         |SELECT g AS l_returnflag,
         |  round(CASE WHEN sample_k < 128 THEN sample_k::DOUBLE
         |    ELSE 127.0 * 4294967296.0 / kth::DOUBLE END, 6) AS est_distinct,
         |  exact_distinct
         |FROM km JOIN ex USING (g)""".stripMargin),

    Gate("q_hll_distinct", (s, dir) => {
      // deterministic HyperLogLog (md5, 256 byte registers): O(m) state
      // and shuffle bytes vs countDistinct's full distinct-set shuffle.
      // HLL registers are max-merged, so the sketch over DISTINCT values
      // is bit-identical to the sketch over the raw column — sketch and
      // exact audit share ONE scan + ONE map-side-combined distinct
      // shuffle, both computed in the same single-row aggregate (the r9
      // split form re-scanned lineitem for the audit: 0.99s vs 0.47s)
      t(s, dir, "lineitem").select(col("l_partkey")).distinct().agg(
        round(GraftFunctions.hll_distinct(col("l_partkey"), 8), 2).as("est_distinct"),
        count(lit(1)).as("exact_distinct"))
    },
      // HLL replay: same md5 slices, same integer-domain register sum
      // S = Σ 2^(33−M[j]), same op order α·m·m·2^33/S, same linear-counting
      // branch — bit-for-bit the aggregate's estimate
      s"""WITH vals AS (SELECT DISTINCT l_partkey::VARCHAR AS v FROM lineitem),
         |h AS (SELECT ${hexToLong("md5(v)", 1, 8)} % 256 AS bucket,
         |  ${hexToLong("md5(v)", 9, 8)} AS h2 FROM vals),
         |regs AS (SELECT bucket,
         |  max(CASE WHEN h2 = 0 THEN 33 ELSE 33 - length(bin(h2)) END) AS mr
         |  FROM h GROUP BY bucket),
         |fl AS (SELECT coalesce(regs.mr, 0) AS mr
         |  FROM (SELECT unnest(range(0, 256)) AS b) t
         |  LEFT JOIN regs ON t.b = regs.bucket),
         |agg AS (SELECT sum((1::BIGINT << (33 - mr)))::BIGINT AS s,
         |  sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END)::BIGINT AS v FROM fl),
         |est AS (SELECT v, (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
         |    * 8589934592.0 / s::DOUBLE AS raw FROM agg),
         |ex AS (SELECT count(DISTINCT l_partkey) AS exact_distinct FROM lineitem)
         |SELECT round(CASE WHEN raw <= 640.0 AND v > 0
         |$HllCorrected
         |FROM est CROSS JOIN ex""".stripMargin),

    Gate("q_hll_grouped", (s, dir) => {
      // the grouped form — one 256-byte register bank per group per map
      // task, merged by element-wise max; exact audit split out (see
      // q_kmv_grouped)
      val li = t(s, dir, "lineitem")
      val est = li.groupBy(col("l_returnflag"))
        .agg(round(GraftFunctions.hll_distinct(col("l_partkey"), 8), 2).as("est_distinct"))
      withExactDistinct(li, est)
    },
      s"""WITH vals AS (SELECT DISTINCT l_returnflag AS g, l_partkey::VARCHAR AS v FROM lineitem),
         |h AS (SELECT g, ${hexToLong("md5(v)", 1, 8)} % 256 AS bucket,
         |  ${hexToLong("md5(v)", 9, 8)} AS h2 FROM vals),
         |regs AS (SELECT g, bucket,
         |  max(CASE WHEN h2 = 0 THEN 33 ELSE 33 - length(bin(h2)) END) AS mr
         |  FROM h GROUP BY g, bucket),
         |fl AS (SELECT gs.g AS g, coalesce(regs.mr, 0) AS mr
         |  FROM (SELECT DISTINCT l_returnflag AS g FROM lineitem) gs
         |  CROSS JOIN (SELECT unnest(range(0, 256)) AS b) t
         |  LEFT JOIN regs ON t.b = regs.bucket AND gs.g = regs.g),
         |agg AS (SELECT g, sum((1::BIGINT << (33 - mr)))::BIGINT AS s,
         |  sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END)::BIGINT AS v FROM fl GROUP BY g),
         |est AS (SELECT g, v, (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
         |    * 8589934592.0 / s::DOUBLE AS raw FROM agg),
         |ex AS (SELECT l_returnflag AS g, count(DISTINCT l_partkey) AS exact_distinct
         |  FROM lineitem GROUP BY 1)
         |SELECT est.g AS l_returnflag,
         |  round(CASE WHEN raw <= 640.0 AND v > 0
         |$HllCorrected
         |FROM est JOIN ex ON est.g = ex.g""".stripMargin),

    Gate("q_rolling_quantile", (s, dir) =>
      // rolling 7-day p50/p90 of event values — per-day grid bins merged
      // over the trailing window; events scanned ONCE, everything after
      // the first aggregate bounded by calendar × grid
      Sketches.rollingQuantileSketch(t(s, dir, "events"), "value",
        windowDays = 7, lo = 0.0, hi = 500.0, nbins = 20,
        ps = Seq("p50" -> 0.5, "p90" -> 0.9)),
      {
      def estSql(p: String) = gridQuantileSql(0.0, 25.0, p)
      s"""WITH v AS (SELECT epoch_us(ts) // 86400000000 AS day, value::DOUBLE AS v
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value::DOUBLE)),
         |b AS (SELECT day, least(greatest(CAST(floor((v - 0.0) / 25.0) AS BIGINT), 0), 19) AS bin,
         |    count(*) AS c FROM v GROUP BY day, bin),
         |days AS (SELECT DISTINCT day FROM b),
         |ex AS (SELECT b.day + t.j AS day, bin, c FROM b, unnest(range(0, 7)) AS t(j)),
         |m AS (SELECT ex.day, bin, sum(c) AS c FROM ex JOIN days ON ex.day = days.day
         |  GROUP BY ex.day, bin),
         |cg AS (SELECT day, bin, c,
         |    sum(c) OVER (PARTITION BY day ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(c) OVER (PARTITION BY day) AS n FROM m)
         |SELECT day, n::BIGINT AS n, ${estSql("0.5")} AS p50, ${estSql("0.9")} AS p90
         |FROM cg GROUP BY day, n""".stripMargin
    }),

    Gate("q_sketch_grouped", (s, dir) =>
      Sketches.quantileSketchGrouped(t(s, dir, "lineitem"), Seq("l_returnflag"),
        "l_extendedprice", lo = QSketchLo, hi = QSketchHi, nbins = QSketchBins,
        ps = Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99)),
      {
      def estSql(p: String) = gridQuantileSql(QSketchLo, QSketchW, p)
      s"""WITH b AS (SELECT l_returnflag, least(greatest(
         |    CAST(floor((l_extendedprice::DOUBLE - $QSketchLo) / $QSketchW) AS BIGINT), 0), ${QSketchBins - 1}) AS bin
         |  FROM lineitem),
         |g AS (SELECT l_returnflag, bin, count(*) AS c FROM b GROUP BY l_returnflag, bin),
         |cg AS (SELECT l_returnflag, bin, c,
         |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM g),
         |n_t AS (SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, n, ${estSql("0.5")} AS p50, ${estSql("0.95")} AS p95, ${estSql("0.99")} AS p99
         |FROM cg JOIN n_t USING (l_returnflag) GROUP BY l_returnflag, n""".stripMargin
    }),

    Gate("q_mad_robust", (s, dir) =>
      // robust center/spread per event type: median, MAD, 3-MAD outliers
      Stats.madRobust(t(s, dir, "events"), Seq("event_type"), "value"),
      {
      def medCte(src: String, vcol: String, rk: String, g: String, out: String, as: String) =
        s"""$rk AS (SELECT event_type, $vcol AS v,
           |    row_number() OVER (PARTITION BY event_type ORDER BY $vcol ASC) - 1 AS rn,
           |    count(*) OVER (PARTITION BY event_type) AS n
           |  FROM $src),
           |$g AS (SELECT event_type, n,
           |    max(CASE WHEN rn = floor((n - 1)::DOUBLE * 0.5) THEN v END) AS lo,
           |    max(CASE WHEN rn = ceil((n - 1)::DOUBLE * 0.5) THEN v END) AS hi
           |  FROM $rk GROUP BY event_type, n),
           |$out AS (SELECT event_type,
           |    round(lo + ((n - 1)::DOUBLE * 0.5 - floor((n - 1)::DOUBLE * 0.5)) * (hi - lo), 6) AS $as
           |  FROM $g)""".stripMargin
      s"""WITH v1 AS (SELECT event_type, value::DOUBLE AS x FROM events),
         |${medCte("v1", "x", "rk1", "g1", "medt", "med")},
         |dev AS (SELECT v1.event_type, v1.x, medt.med, abs(v1.x - medt.med) AS adev
         |  FROM v1 JOIN medt USING (event_type)),
         |${medCte("dev", "adev", "rk2", "g2", "madt", "mad")}
         |SELECT dev.event_type, max(dev.med) AS med, max(madt.mad) AS mad,
         |  count(*) AS n,
         |  sum(CASE WHEN dev.adev > 3.0 * madt.mad THEN 1 ELSE 0 END)::BIGINT AS n_outliers
         |FROM dev JOIN madt USING (event_type)
         |GROUP BY dev.event_type""".stripMargin
    }),

    Gate("q_profile", (s, dir) =>
      // one-scan data-quality audit: per-column null/distinct/extrema
      // with the engine-replayable KMV sketch for distincts (no Expand)
      graft.ops.Profile.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")),
      {
      def one(c: String) =
        s"""SELECT '$c' AS "column", (SELECT count(*) FROM orders) AS n,
           |  count($c) AS non_null,
           |  (SELECT round(CASE WHEN count(*) < 256 THEN count(*)::DOUBLE
           |     ELSE 255.0 * 4294967296.0 / max(h)::DOUBLE END, 6)
           |   FROM (SELECT h FROM (SELECT DISTINCT ${hexToLong(s"md5($c::VARCHAR)", 1, 8)} AS h
           |     FROM orders WHERE $c IS NOT NULL) ORDER BY h ASC LIMIT 256)) AS distinct_est,
           |  min($c::VARCHAR) AS min_s, max($c::VARCHAR) AS max_s
           |FROM orders""".stripMargin
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .map(one).mkString("\nUNION ALL\n")
    }),

    Gate("q_ams_f2", (s, dir) =>
      // AMS tug-of-war F2 (self-join size / skew) sketch: 16 ±1 counters
      // in ONE combinable pass, exact Σf² joined back as the audit
      Sketches.amsF2(t(s, dir, "lineitem"), "l_partkey", counters = 16),
      // AMS replay: same md5-bit sign family, same Σ±1 counters, same
      // mean-of-squares op order — the estimate matches bit for bit
      {
      val s = (0 until 16).map(j =>
        s"sum(CASE WHEN (h16 >> $j) & 1 = 1 THEN 1 ELSE -1 END)::BIGINT AS s$j")
        .mkString(", ")
      val sq = (0 until 16).map(j => s"s$j*s$j").mkString(" + ")
      s"""WITH h AS (SELECT ${hexToLong("md5(l_partkey::VARCHAR)", 1, 4)} AS h16 FROM lineitem),
         |s AS (SELECT $s FROM h),
         |q AS (SELECT ($sq)::DOUBLE / 16.0 AS est_f2 FROM s),
         |e AS (SELECT sum(f*f)::BIGINT AS exact_f2
         |  FROM (SELECT count(*) AS f FROM lineitem GROUP BY l_partkey) t)
         |SELECT round(q.est_f2, 6) AS est_f2, e.exact_f2,
         |  round(abs(q.est_f2 - e.exact_f2::DOUBLE) / e.exact_f2::DOUBLE, 6) AS rel_err
         |FROM q CROSS JOIN e""".stripMargin
    }),

    Gate("q_ams_f2_grouped", (s, dir) =>
      // the skew-TRIAGE view: per-flag F2 estimate next to its exact —
      // which partitions of the data have self-join blowup
      Sketches.amsF2Grouped(t(s, dir, "lineitem"), Seq("l_returnflag"),
        "l_partkey", counters = 16),
      {
      val s = (0 until 16).map(j =>
        s"sum(CASE WHEN (h16 >> $j) & 1 = 1 THEN 1 ELSE -1 END)::BIGINT AS s$j")
        .mkString(", ")
      val sq = (0 until 16).map(j => s"s$j*s$j").mkString(" + ")
      s"""WITH h AS (SELECT l_returnflag,
         |    ${hexToLong("md5(l_partkey::VARCHAR)", 1, 4)} AS h16 FROM lineitem),
         |s AS (SELECT l_returnflag, $s FROM h GROUP BY l_returnflag),
         |q AS (SELECT l_returnflag, ($sq)::DOUBLE / 16.0 AS est_f2 FROM s),
         |e AS (SELECT l_returnflag, sum(f*f)::BIGINT AS exact_f2
         |  FROM (SELECT l_returnflag, count(*) AS f FROM lineitem
         |    GROUP BY l_returnflag, l_partkey) t
         |  GROUP BY l_returnflag)
         |SELECT q.l_returnflag, round(q.est_f2, 6) AS est_f2, e.exact_f2,
         |  round(abs(q.est_f2 - e.exact_f2::DOUBLE) / e.exact_f2::DOUBLE, 6) AS rel_err
         |FROM q JOIN e USING (l_returnflag)""".stripMargin
    }),

    Gate("q_kmv_overlap", (s, dir) => {
      // KMV vocabulary-overlap estimate between two corpus sources: the
      // k-min cut of the hash UNION is a uniform sample of it, so the
      // both-sides fraction estimates Jaccard; exact overlap rides the
      // same membership exchange as the audit
      val d = docs(s, dir)
      def tokSet(src: String) = d.filter(col("source") === src)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
      Sketches.kmvOverlap(tokSet("src1"), tokSet("src2"), "tok", k = 256)
    },
      s"""WITH ta AS (SELECT DISTINCT ${hexToLong("md5(tok)", 1, 8)} AS h
         |  FROM (SELECT unnest($ToksSql) AS tok FROM documents WHERE source = 'src1') t),
         |tb AS (SELECT DISTINCT ${hexToLong("md5(tok)", 1, 8)} AS h
         |  FROM (SELECT unnest($ToksSql) AS tok FROM documents WHERE source = 'src2') t),
         |u AS (SELECT h, max(in_a) AS in_a, max(in_b) AS in_b
         |  FROM (SELECT h, 1 AS in_a, 0 AS in_b FROM ta
         |    UNION ALL SELECT h, 0 AS in_a, 1 AS in_b FROM tb) z
         |  GROUP BY h),
         |ex AS (SELECT count(*) AS n_union, sum(in_a * in_b)::BIGINT AS n_both FROM u),
         |km AS (SELECT in_a, in_b FROM u ORDER BY h ASC LIMIT 256),
         |es AS (SELECT count(*) AS k_used, sum(in_a * in_b)::BIGINT AS k_both FROM km)
         |SELECT es.k_used, es.k_both, ex.n_union, ex.n_both,
         |  round(es.k_both::DOUBLE / es.k_used::DOUBLE, 6) AS est_jaccard,
         |  round(ex.n_both::DOUBLE / ex.n_union::DOUBLE, 6) AS exact_jaccard
         |FROM es CROSS JOIN ex""".stripMargin),

    Gate("q_expectations", (s, dir) =>
      // data-quality gate: six declarative checks in ONE aggregation
      // pass (the Deequ/Great-Expectations shape, Spark-native). The
      // in_set check intentionally excludes es/zh so a FAILING verdict
      // row is exercised, not just the happy path.
      graft.ops.Expect.run(docs(s, dir), Seq(
        graft.ops.Expect.RowsBetween(1L, 10000000L),
        graft.ops.Expect.NullRateAtMost("text", 0.01),
        graft.ops.Expect.Unique("doc_id"),
        graft.ops.Expect.InSet("lang", Seq("en", "de", "fr")),
        graft.ops.Expect.MinAtLeast("n_chars", 1.0),
        graft.ops.Expect.MaxAtMost("n_chars", 1000000.0))),
      """WITH w AS (SELECT count(*) AS n,
        |    count(text) AS m1,
        |    count(doc_id) AS m2, count(DISTINCT doc_id) AS d2,
        |    sum(CASE WHEN lang IS NULL OR lang IN ('en','de','fr')
        |        THEN 0 ELSE 1 END) AS m3,
        |    min(n_chars::DOUBLE) AS m4, max(n_chars::DOUBLE) AS m5
        |  FROM documents)
        |SELECT 0 AS ord, 'rows_between' AS check, NULL AS col_name,
        |  n::DOUBLE AS metric, 1.0::DOUBLE AS lo, 10000000.0::DOUBLE AS hi,
        |  (n >= 1 AND n <= 10000000) AS passed FROM w
        |UNION ALL SELECT 1, 'null_rate_at_most', 'text',
        |  round(CASE WHEN n = 0 THEN 0.0 ELSE (n - m1)::DOUBLE / n END, 6),
        |  0.0, 0.01,
        |  round(CASE WHEN n = 0 THEN 0.0 ELSE (n - m1)::DOUBLE / n END, 6) <= 0.01
        |  FROM w
        |UNION ALL SELECT 2, 'unique', 'doc_id', (m2 - d2)::DOUBLE, 0.0, 0.0,
        |  m2 = d2 FROM w
        |UNION ALL SELECT 3, 'in_set', 'lang', coalesce(m3, 0)::DOUBLE, 0.0, 0.0,
        |  coalesce(m3, 0) = 0 FROM w
        |UNION ALL SELECT 4, 'min_at_least', 'n_chars', m4, 1.0, NULL,
        |  (m4 IS NULL OR m4 >= 1.0) FROM w
        |UNION ALL SELECT 5, 'max_at_most', 'n_chars', m5, NULL, 1000000.0,
        |  (m5 IS NULL OR m5 <= 1000000.0) FROM w""".stripMargin),

    Gate("q_expectations_by_source", (s, dir) =>
      // per-feed quality gate: the grouped form that catches ONE bad
      // ingestion source where the global rate still passes — per
      // source: volume bounds, text null rate, key uniqueness, length
      // floor; one keyed aggregation pass
      graft.ops.Expect.runGrouped(docs(s, dir), "source", Seq(
        graft.ops.Expect.RowsBetween(5L, 1000000L),
        graft.ops.Expect.NullRateAtMost("text", 0.01),
        graft.ops.Expect.Unique("doc_id"),
        graft.ops.Expect.MinAtLeast("n_chars", 1.0))),
      """WITH w AS (SELECT source AS group_key, count(*) AS n,
        |    count(text) AS m1,
        |    count(doc_id) AS m2, count(DISTINCT doc_id) AS d2,
        |    min(n_chars::DOUBLE) AS m3
        |  FROM documents GROUP BY source)
        |SELECT group_key, 0 AS ord, 'rows_between' AS check,
        |  NULL AS col_name, n::DOUBLE AS metric,
        |  5.0::DOUBLE AS lo, 1000000.0::DOUBLE AS hi,
        |  (n >= 5 AND n <= 1000000) AS passed FROM w
        |UNION ALL SELECT group_key, 1, 'null_rate_at_most', 'text',
        |  round(CASE WHEN n = 0 THEN 0.0 ELSE (n - m1)::DOUBLE / n END, 6),
        |  0.0, 0.01,
        |  round(CASE WHEN n = 0 THEN 0.0 ELSE (n - m1)::DOUBLE / n END, 6) <= 0.01
        |  FROM w
        |UNION ALL SELECT group_key, 2, 'unique', 'doc_id',
        |  (m2 - d2)::DOUBLE, 0.0, 0.0, m2 = d2 FROM w
        |UNION ALL SELECT group_key, 3, 'min_at_least', 'n_chars',
        |  m3, 1.0, NULL, (m3 IS NULL OR m3 >= 1.0) FROM w""".stripMargin),

    Gate("q_quality_calibrated", (s, dir) => {
      // cross-source score calibration: per doc, the fraction of its
      // SOURCE strictly below its quality bin (bin-granular percentile
      // — no per-source sort partition: the only ordered frame is the
      // 1000-row bin histogram)
      val scored = docs(s, dir).select(col("doc_id"), col("source"),
        graft.ops.TextOps.qualityScore(col("text")).as("quality"))
      graft.ops.Stats.histogramPercentile(scored, Seq("source"),
        "quality", 0.0, 1.0, 1000)
    },
      s"""WITH toks_t AS (SELECT doc_id, source, text, $ToksSql AS toks FROM documents),
         |q AS (${qualitySelectSql("toks_t", "source, ")}),
         |b AS (SELECT doc_id, source, quality,
         |    CAST(least(greatest(floor((quality - 0.0) / (1.0 - 0.0) * 1000),
         |      0.0), 999.0) AS BIGINT) AS bin FROM q),
         |h AS (SELECT source, bin, count(*) AS m FROM b GROUP BY source, bin),
         |c AS (SELECT source, bin,
         |    coalesce(sum(m) OVER (PARTITION BY source ORDER BY bin ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
         |    sum(m) OVER (PARTITION BY source) AS n
         |  FROM h)
         |SELECT b.doc_id, b.source, b.quality,
         |  round(c.below::DOUBLE / c.n::DOUBLE, 6) AS pct_below
         |FROM b JOIN c ON b.source = c.source AND b.bin = c.bin""".stripMargin),

    Gate("q_expect_regex", (s, dir) =>
      // format-conformance gate: RLIKE rate checks in the same one-pass
      // aggregation (lang must be a 2-letter code, source must match the
      // feed-naming scheme; the capitalized-text check intentionally
      // FAILS — rate 0 < 0.5 — so a failing verdict row is exercised)
      graft.ops.Expect.run(docs(s, dir), Seq(
        graft.ops.Expect.MatchesRegex("lang", "^[a-z]{2}$", 0.99),
        graft.ops.Expect.MatchesRegex("source", "^src[0-9]+$", 1.0),
        graft.ops.Expect.MatchesRegex("text", "^[A-Z]", 0.5))),
      """WITH w AS (SELECT
        |    count(lang) AS c0, sum(CASE WHEN lang IS NOT NULL
        |      AND regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END) AS m0,
        |    count(source) AS c1, sum(CASE WHEN source IS NOT NULL
        |      AND regexp_matches(source, '^src[0-9]+$') THEN 1 ELSE 0 END) AS m1,
        |    count(text) AS c2, sum(CASE WHEN text IS NOT NULL
        |      AND regexp_matches(text, '^[A-Z]') THEN 1 ELSE 0 END) AS m2
        |  FROM documents)
        |SELECT 0 AS ord, 'matches_regex' AS check, 'lang' AS col_name,
        |  round(CASE WHEN c0 = 0 THEN 0.0 ELSE m0::DOUBLE / c0 END, 6) AS metric,
        |  0.99::DOUBLE AS lo, NULL::DOUBLE AS hi,
        |  (c0 = 0 OR round(CASE WHEN c0 = 0 THEN 0.0 ELSE m0::DOUBLE / c0 END, 6)
        |    >= 0.99) AS passed FROM w
        |UNION ALL SELECT 1, 'matches_regex', 'source',
        |  round(CASE WHEN c1 = 0 THEN 0.0 ELSE m1::DOUBLE / c1 END, 6),
        |  1.0, NULL,
        |  (c1 = 0 OR round(CASE WHEN c1 = 0 THEN 0.0 ELSE m1::DOUBLE / c1 END, 6)
        |    >= 1.0) FROM w
        |UNION ALL SELECT 2, 'matches_regex', 'text',
        |  round(CASE WHEN c2 = 0 THEN 0.0 ELSE m2::DOUBLE / c2 END, 6),
        |  0.5, NULL,
        |  (c2 = 0 OR round(CASE WHEN c2 = 0 THEN 0.0 ELSE m2::DOUBLE / c2 END, 6)
        |    >= 0.5) FROM w""".stripMargin),

    Gate("q_reconcile", (s, dir) => {
      // cross-table row reconciliation: a length-filter stage must obey
      // rows(out) == rows(in) - rows(dropped). The 'filter_split' triple
      // is the exact complement (passes); 'leaky_split' uses a
      // mismatched drop predicate (< 190 vs >= 200) so the conservation
      // check FAILS — both verdict paths exercised in one frame.
      val d = docs(s, dir)
      val kept = d.filter(col("n_chars") >= 200)
      graft.ops.Expect.reconcile(d, kept, d.filter(col("n_chars") < 200))
        .withColumn("stage", lit("filter_split"))
        .unionByName(
          graft.ops.Expect.reconcile(d, kept, d.filter(col("n_chars") < 190))
            .withColumn("stage", lit("leaky_split")))
    },
      """WITH c AS (SELECT count(*) AS n_in,
        |    count(*) FILTER (WHERE n_chars >= 200) AS n_out,
        |    count(*) FILTER (WHERE n_chars < 200) AS d1,
        |    count(*) FILTER (WHERE n_chars < 190) AS d2
        |  FROM documents)
        |SELECT n_in AS rows_in, n_out AS rows_out, d1 AS rows_dropped,
        |  (n_out = n_in - d1) AS passed, 'filter_split' AS stage FROM c
        |UNION ALL SELECT n_in, n_out, d2, (n_out = n_in - d2),
        |  'leaky_split' FROM c""".stripMargin),

    Gate("q_reconcile_by_source", (s, dir) => {
      // per-feed reconciliation: the same conservation law keyed by
      // source, catching one feed leaking rows while global totals
      // still balance; three keyed counts full-outer-joined
      val d = docs(s, dir)
      graft.ops.Expect.reconcileBy(d,
        d.filter(col("n_chars") >= 200),
        d.filter(col("n_chars") < 200), "source")
    },
      """WITH c AS (SELECT source AS group_key, count(*) AS rows_in,
        |    count(*) FILTER (WHERE n_chars >= 200) AS rows_out,
        |    count(*) FILTER (WHERE n_chars < 200) AS rows_dropped
        |  FROM documents GROUP BY source)
        |SELECT group_key, rows_in, rows_out, rows_dropped,
        |  (rows_out = rows_in - rows_dropped) AS passed FROM c""".stripMargin),

    Gate("q_time_to_convert", (s, dir) => {
      // conversion-lag percentiles: per user, the first click and the
      // first purchase strictly after it; exact p50/p90 of the lag,
      // grouped by the click's epoch-day mod 7 (an integer-exact
      // weekday-class key — bounded groups, so the percentile rank
      // window never sorts the whole population in one task)
      val e = t(s, dir, "events").withColumn("tsu", expr("ts div 1000L"))
      val firstClick = e.filter(col("event_type") === "click")
        .groupBy(col("user_id")).agg(min(col("tsu")).as("click_us"))
      val conv = firstClick
        .join(e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("tsu")), Seq("user_id"))
        .filter(col("tsu") > col("click_us"))
        .groupBy(col("user_id"), col("click_us"))
        .agg(min(col("tsu")).as("conv_us"))
        .select(expr("(click_us div 86400000000L) % 7").as("dow"),
          (col("conv_us") - col("click_us")).as("lag_us"))
      Stats.percentileExact(conv, Seq("dow"), "lag_us",
        Seq("p50" -> 0.5, "p90" -> 0.9))
    },
      """WITH fc AS (SELECT user_id, min(epoch_us(ts)) AS click_us FROM events
        |  WHERE event_type = 'click' GROUP BY user_id),
        |cv AS (SELECT fc.user_id, fc.click_us, min(epoch_us(p.ts)) AS conv_us
        |  FROM fc JOIN events p ON p.user_id = fc.user_id
        |    AND p.event_type = 'purchase' AND epoch_us(p.ts) > fc.click_us
        |  GROUP BY fc.user_id, fc.click_us),
        |lag_t AS (SELECT (click_us // 86400000000) % 7 AS dow,
        |    (conv_us - click_us)::DOUBLE AS v FROM cv),
        |rk AS (SELECT dow, v,
        |    row_number() OVER (PARTITION BY dow ORDER BY v ASC) - 1 AS rn,
        |    count(*) OVER (PARTITION BY dow) AS n
        |  FROM lag_t),
        |g AS (SELECT dow, n,
        |    max(CASE WHEN rn = floor((n - 1)::DOUBLE * 0.5) THEN v END) AS lo50,
        |    max(CASE WHEN rn = ceil((n - 1)::DOUBLE * 0.5) THEN v END) AS hi50,
        |    max(CASE WHEN rn = floor((n - 1)::DOUBLE * 0.9) THEN v END) AS lo90,
        |    max(CASE WHEN rn = ceil((n - 1)::DOUBLE * 0.9) THEN v END) AS hi90
        |  FROM rk GROUP BY dow, n)
        |SELECT dow,
        |  round(lo50 + ((n - 1)::DOUBLE * 0.5 - floor((n - 1)::DOUBLE * 0.5)) * (hi50 - lo50), 6) AS p50,
        |  round(lo90 + ((n - 1)::DOUBLE * 0.9 - floor((n - 1)::DOUBLE * 0.9)) * (hi90 - lo90), 6) AS p90
        |FROM g""".stripMargin),

    Gate("q_k_anonymity", (s, dir) =>
      // privacy audit: how much of the corpus sits in quasi-identifier
      // classes smaller than k=5 over (lang, source, length-bucket)
      Stats.kAnonymity(
        docs(s, dir).withColumn("len_bucket", expr("n_chars div 100")),
        Seq("lang", "source", "len_bucket"), k = 5),
      """WITH c AS (SELECT lang, source, n_chars // 100 AS len_bucket,
        |    count(*) AS n FROM documents GROUP BY 1, 2, 3)
        |SELECT sum(n)::BIGINT AS n_rows, count(*) AS n_classes,
        |  sum(CASE WHEN n < 5 THEN n ELSE 0 END)::BIGINT AS rows_below_k,
        |  round(sum(CASE WHEN n < 5 THEN n ELSE 0 END)::DOUBLE
        |    / sum(n)::DOUBLE, 6) AS share_below_k,
        |  min(n) AS min_class, max(n) AS max_class
        |FROM c""".stripMargin),

    Gate("q_percentile_weighted", (s, dir) =>
      // volume-weighted price percentiles: a flood of small lines can't
      // dominate the statistic the way it dominates the row count
      Stats.percentileWeighted(t(s, dir, "lineitem"), Seq("l_returnflag"),
        "l_extendedprice", "l_quantity",
        Seq("p50" -> 0.5, "p90" -> 0.9)),
      """WITH r AS (SELECT l_returnflag,
        |    CAST(l_extendedprice AS DOUBLE) AS v,
        |    CAST(l_quantity AS BIGINT) AS w FROM lineitem),
        |c AS (SELECT *, sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS tw FROM r)
        |SELECT l_returnflag,
        |  round(min(CASE WHEN cw::DOUBLE >= 0.5 * tw::DOUBLE THEN v END), 6)
        |    AS p50,
        |  round(min(CASE WHEN cw::DOUBLE >= 0.9 * tw::DOUBLE THEN v END), 6)
        |    AS p90
        |FROM c GROUP BY l_returnflag""".stripMargin),

    Gate("q_l_diversity", (s, dir) =>
      // homogeneity audit: classes that are k-anonymous but carry < 2
      // distinct languages still leak the language
      Stats.lDiversity(
        docs(s, dir).withColumn("len_bucket", expr("n_chars div 200")),
        Seq("source", "len_bucket"), "lang", l = 2),
      """WITH c AS (SELECT source, n_chars // 200 AS len_bucket,
        |    count(*) AS n, count(DISTINCT lang) AS n_sensitive
        |  FROM documents GROUP BY 1, 2)
        |SELECT sum(n)::BIGINT AS n_rows, count(*) AS n_classes,
        |  sum(CASE WHEN n_sensitive < 2 THEN n ELSE 0 END)::BIGINT
        |    AS rows_below_l,
        |  round(sum(CASE WHEN n_sensitive < 2 THEN n ELSE 0 END)::DOUBLE
        |    / sum(n)::DOUBLE, 6) AS share_below_l,
        |  min(n_sensitive) AS min_diversity
        |FROM c""".stripMargin),

    Gate("q_t_closeness", (s, dir) =>
      // third rung of the privacy ladder: per-class total-variation
      // distance of the language distribution vs the corpus-wide one
      // (a k-anonymous, l-diverse class with 19/20 rows in one lang
      // still leaks) — integer-exact numerators, one final division
      Stats.tCloseness(
        docs(s, dir).withColumn("len_bucket", expr("n_chars div 200")),
        Seq("source", "len_bucket"), "lang"),
      """WITH cls AS (SELECT source, n_chars // 200 AS len_bucket,
        |    count(*) AS nc FROM documents GROUP BY 1, 2),
        |vals AS (SELECT lang AS v, count(*) AS nv FROM documents GROUP BY 1),
        |cv AS (SELECT source, n_chars // 200 AS len_bucket, lang AS v,
        |    count(*) AS ncv FROM documents GROUP BY 1, 2, 3),
        |tot AS (SELECT count(*) AS n FROM documents),
        |grid AS (SELECT c.source, c.len_bucket, c.nc, v.v, v.nv,
        |    coalesce(cv.ncv, 0) AS ncv
        |  FROM cls c CROSS JOIN vals v
        |  LEFT JOIN cv ON cv.source = c.source
        |    AND cv.len_bucket = c.len_bucket AND cv.v = v.v)
        |SELECT g.source, g.len_bucket, g.nc::BIGINT AS n,
        |  round(sum(abs(g.ncv * t.n - g.nv * g.nc))::DOUBLE
        |    / (2.0 * g.nc::DOUBLE * t.n::DOUBLE), 6) AS t_dist
        |FROM grid g, tot t GROUP BY g.source, g.len_bucket, g.nc, t.n""".stripMargin),

    Gate("q_benford", (s, dir) =>
      // fabricated-numbers audit: first-digit distribution of extended
      // price vs Benford, chi^2 as a digit-ordered left fold
      Stats.benford(t(s, dir, "lineitem"), "l_extendedprice"),
      """WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS m
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND CAST(round(l_extendedprice * 100) AS BIGINT) > 0),
        |d AS (SELECT CAST(substr(CAST(m AS VARCHAR), 1, 1) AS INT) AS d,
        |    count(*) AS n FROM v GROUP BY 1),
        |tt AS (SELECT sum(n)::BIGINT AS t FROM d),
        |f AS (SELECT round(list_reduce(list(
        |      ((n::DOUBLE - tt.t::DOUBLE * log10(1.0 + 1.0 / d))
        |       * (n::DOUBLE - tt.t::DOUBLE * log10(1.0 + 1.0 / d)))
        |      / (tt.t::DOUBLE * log10(1.0 + 1.0 / d))
        |      ORDER BY d), (a, b) -> a + b), 6) AS chi2
        |  FROM d CROSS JOIN tt)
        |SELECT d.d, d.n, round(d.n::DOUBLE / tt.t::DOUBLE, 6) AS observed,
        |  round(log10(1.0 + 1.0 / d.d), 6) AS expected, f.chi2
        |FROM d CROSS JOIN tt CROSS JOIN f""".stripMargin),

    Gate("q_target_encode", (s, dir) =>
      // leakage-safe categorical feature: LOO smoothed target mean per
      // event_type — category aggregate + one-row prior broadcast, no
      // window, exact long numerators
      Stats.targetEncode(t(s, dir, "events"), "event_id", "event_type",
        "value", priorStrength = 10.0),
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(round(value * 1000000) AS BIGINT) AS t FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |g AS (SELECT sum(t)::DOUBLE / count(*) AS prior FROM e),
        |c AS (SELECT event_type, count(*) AS n_c, sum(t)::BIGINT AS s_c
        |  FROM e GROUP BY 1)
        |SELECT e.event_id, e.event_type,
        |  round(CASE WHEN (c.n_c - 1)::DOUBLE + 10.0 > 0
        |    THEN ((c.s_c - e.t)::DOUBLE + 10.0 * g.prior)
        |      / ((c.n_c - 1)::DOUBLE + 10.0) / 1e6 END, 6) AS enc
        |FROM e JOIN c USING (event_type) CROSS JOIN g""".stripMargin),

    Gate("q_concentration_users", (s, dir) =>
      // traffic-concentration diagnostic: Gini + top-1/top-10 shares of
      // per-user event counts via the tied-rank closed form — no global
      // key sort, the only unpartitioned window is over distinct COUNT
      // values
      graft.ops.Stats.concentration(t(s, dir, "events"), "user_id"),
      concentrationSql("events", "user_id")),

    Gate("q_concentration_sources", (s, dir) =>
      // corpus-side twin: how unevenly documents spread over ingestion
      // feeds
      graft.ops.Stats.concentration(docs(s, dir), "source"),
      concentrationSql("documents", "source")),

    Gate("q_cms_join_size", (s, dir) => {
      // plan-time join cardinality from two KB-scale CMS grids: the
      // inner-product upper bound vs the exact join size audit
      val li = t(s, dir, "lineitem")
      Sketches.cmsJoinSize(
        li.filter(col("l_returnflag") === "R"),
        li.filter(col("l_linestatus") === "O"),
        "l_partkey", depth = 4, width = 1024)
    },
      {
      def bucket(jExpr: String) =
        s"${hexToLong(s"md5($jExpr || ':' || term)", 1, 8)} % 1024"
      s"""WITH ta AS (SELECT l_partkey::VARCHAR AS term, count(*) AS cnt
         |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
         |tb AS (SELECT l_partkey::VARCHAR AS term, count(*) AS cnt
         |  FROM lineitem WHERE l_linestatus = 'O' GROUP BY 1),
         |ga AS (SELECT j, bucket, sum(cnt) AS ca FROM (
         |    SELECT term, cnt, j, ${bucket("j::VARCHAR")} AS bucket
         |    FROM ta, unnest(range(0, 4)) AS t(j))
         |  GROUP BY j, bucket),
         |gb AS (SELECT j, bucket, sum(cnt) AS cb FROM (
         |    SELECT term, cnt, j, ${bucket("j::VARCHAR")} AS bucket
         |    FROM tb, unnest(range(0, 4)) AS t(j))
         |  GROUP BY j, bucket),
         |ip AS (SELECT j, sum(ca * cb) AS ip FROM ga JOIN gb USING (j, bucket)
         |  GROUP BY j),
         |es AS (SELECT min(ip)::BIGINT AS est_join_size FROM ip),
         |ex AS (SELECT sum(ta.cnt * tb.cnt)::BIGINT AS exact_join_size
         |  FROM ta JOIN tb USING (term))
         |SELECT es.est_join_size, ex.exact_join_size,
         |  round((es.est_join_size - ex.exact_join_size)::DOUBLE
         |    / ex.exact_join_size::DOUBLE, 6) AS rel_err
         |FROM es CROSS JOIN ex""".stripMargin
    }),

    Gate("q_winsorized", (s, dir) =>
      // robust location that keeps every row's magnitude: clamp into the
      // exact [p5, p95] band, integer-micro sum, divide once
      Stats.winsorizedMean(t(s, dir, "lineitem"), Seq("l_returnflag"),
        "l_extendedprice", pLo = 0.05, pHi = 0.95),
      {
      def pct(p: String, as: String) =
        s"""max(CASE WHEN rn = floor((n - 1)::DOUBLE * $p) THEN v END)
           |      + ((n - 1)::DOUBLE * $p - floor((n - 1)::DOUBLE * $p))
           |        * (max(CASE WHEN rn = ceil((n - 1)::DOUBLE * $p) THEN v END)
           |          - max(CASE WHEN rn = floor((n - 1)::DOUBLE * $p) THEN v END))""".stripMargin
      s"""WITH rk AS (SELECT l_returnflag, l_extendedprice::DOUBLE AS v,
         |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice ASC) - 1 AS rn,
         |    count(*) OVER (PARTITION BY l_returnflag) AS n
         |  FROM lineitem),
         |b AS (SELECT l_returnflag, n,
         |    round(${pct("0.05", "lo")}, 6) AS lo,
         |    round(${pct("0.95", "hi")}, 6) AS hi
         |  FROM rk GROUP BY l_returnflag, n)
         |SELECT rk.l_returnflag, count(*) AS n,
         |  max(b.lo) AS p_lo, max(b.hi) AS p_hi,
         |  round(sum(CAST(round(least(greatest(rk.v, b.lo), b.hi) * 1e6) AS BIGINT))::DOUBLE
         |    / count(*)::DOUBLE / 1e6, 6) AS winsorized_mean,
         |  sum(CASE WHEN rk.v < b.lo OR rk.v > b.hi THEN 1 ELSE 0 END)::BIGINT AS n_clamped
         |FROM rk JOIN b USING (l_returnflag)
         |GROUP BY rk.l_returnflag""".stripMargin
    }),

    Gate("q_auc", (s, dir) =>
      // ranking quality: does `value` rank purchases above everything
      // else? Exact Mann-Whitney AUC with average-rank ties, bucket-
      // decomposed so no sort partition ever holds the full score range
      Stats.aucRoc(
        t(s, dir, "events").withColumn("label",
          (col("event_type") === "purchase").cast("int")),
        "value", "label"),
      """WITH v AS (SELECT value AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |g AS (SELECT s,
        |    sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)::BIGINT AS np,
        |    sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)::BIGINT AS nn
        |  FROM v GROUP BY s),
        |c AS (SELECT np, nn, coalesce(sum(nn) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS negbelow
        |  FROM g),
        |f AS (SELECT sum(np::HUGEINT * (2 * negbelow + nn)) AS u2,
        |    sum(np)::BIGINT AS p, sum(nn)::BIGINT AS n FROM c)
        |SELECT coalesce(p, 0) AS n_pos, coalesce(n, 0) AS n_neg,
        |  round(CASE WHEN p > 0 AND n > 0
        |    THEN u2::DOUBLE / (2.0 * p::DOUBLE * n::DOUBLE) END, 6) AS auc
        |FROM f""".stripMargin),

    Gate("q_psi", (s, dir) =>
      // drift monitor: PSI of the value distribution, weeks 3-4 vs the
      // weeks 1-2 baseline, 10 baseline-frozen equal-width bins
      Stats.psi(t(s, dir, "events"), "value",
        col("ts") < lit(1705363200000000000L), bins = 10),
      """WITH v AS (SELECT value AS val,
        |    (epoch_us(ts) < 1705363200000000) AS b
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |r AS (SELECT min(val) AS lo, max(val) AS hi FROM v WHERE b),
        |binned AS (SELECT CASE WHEN r.hi = r.lo THEN 0
        |    ELSE least(9, greatest(0, floor((val - r.lo) / (r.hi - r.lo) * 10)))::BIGINT
        |    END AS bin, b
        |  FROM v CROSS JOIN r),
        |c AS (SELECT bin,
        |    sum(CASE WHEN b THEN 1 ELSE 0 END)::BIGINT AS n_base,
        |    sum(CASE WHEN NOT b THEN 1 ELSE 0 END)::BIGINT AS n_cur
        |  FROM binned GROUP BY bin),
        |dense AS (SELECT gs.bin, coalesce(c.n_base, 0)::BIGINT AS n_base,
        |    coalesce(c.n_cur, 0)::BIGINT AS n_cur
        |  FROM (SELECT unnest(range(0, 10))::BIGINT AS bin) gs
        |  LEFT JOIN c USING (bin)),
        |t AS (SELECT sum(n_base)::BIGINT AS tb, sum(n_cur)::BIGINT AS tc FROM dense),
        |f AS (SELECT round(list_reduce(list(
        |      ((n_cur::DOUBLE + 0.5) / (t.tc::DOUBLE + 5.0)
        |       - (n_base::DOUBLE + 0.5) / (t.tb::DOUBLE + 5.0))
        |      * ln(((n_cur::DOUBLE + 0.5) / (t.tc::DOUBLE + 5.0))
        |           / ((n_base::DOUBLE + 0.5) / (t.tb::DOUBLE + 5.0)))
        |      ORDER BY bin), (a, b) -> a + b), 6) AS psi
        |  FROM dense CROSS JOIN t)
        |SELECT dense.bin, dense.n_base, dense.n_cur,
        |  round((dense.n_base::DOUBLE + 0.5) / (t.tb::DOUBLE + 5.0), 6) AS p_base,
        |  round((dense.n_cur::DOUBLE + 0.5) / (t.tc::DOUBLE + 5.0), 6) AS p_cur,
        |  f.psi
        |FROM dense CROSS JOIN t CROSS JOIN f""".stripMargin),

    Gate("q_chi2", (s, dir) =>
      // independence audit: is the event-type mix uniform across the
      // day of week? chi^2 + Cramer's V off one contingency aggregate
      Stats.chi2Independence(
        t(s, dir, "events")
          .withColumn("dow", expr("(ts div 86400000000000L + 4) % 7")),
        "event_type", "dow"),
      """WITH e AS (SELECT event_type::VARCHAR AS a,
        |    (((epoch_us(ts) // 86400000000) + 4) % 7)::VARCHAR AS b FROM events),
        |c AS (SELECT a, b, count(*)::BIGINT AS n FROM e GROUP BY 1, 2),
        |ma AS (SELECT a, sum(n)::BIGINT AS na FROM c GROUP BY 1),
        |mb AS (SELECT b, sum(n)::BIGINT AS nb FROM c GROUP BY 1),
        |j AS (SELECT c.a, c.b, c.n, ma.na, mb.nb
        |  FROM c JOIN ma USING (a) JOIN mb USING (b)),
        |tt AS (SELECT count(DISTINCT a)::BIGINT AS ka,
        |    count(DISTINCT b)::BIGINT AS kb, sum(n)::BIGINT AS n FROM j),
        |f AS (SELECT round(list_reduce(list(
        |      (j.n::DOUBLE * j.n::DOUBLE)
        |      / (j.na::DOUBLE * j.nb::DOUBLE / tt.n::DOUBLE)
        |      ORDER BY j.a NULLS FIRST, j.b NULLS FIRST), (x, y) -> x + y)
        |    - any_value(tt.n)::DOUBLE, 6) AS chi2
        |  FROM j CROSS JOIN tt)
        |SELECT tt.n AS n_rows, tt.ka AS n_a, tt.kb AS n_b,
        |  CASE WHEN tt.ka > 0 THEN (tt.ka - 1) * (tt.kb - 1) END AS dof,
        |  f.chi2,
        |  round(CASE WHEN tt.n > 0 AND tt.ka > 1 AND tt.kb > 1
        |    THEN sqrt(f.chi2 / (tt.n::DOUBLE * (least(tt.ka, tt.kb) - 1)::DOUBLE))
        |    END, 6) AS cramers_v
        |FROM tt CROSS JOIN f""".stripMargin),

    Gate("q_corr_matrix", (s, dir) =>
      // feature-redundancy screen: all pairwise Pearson correlations of
      // the lineitem numerics from ONE pass of exact sufficient stats
      Stats.corrMatrix(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      {
      val defs = Seq("q" -> "l_quantity", "e" -> "l_extendedprice",
        "d" -> "l_discount", "t" -> "l_tax")
      val names = defs.toMap
      val pairs = for (i <- defs.indices; j <- defs.indices if i < j)
        yield (defs(i)._1, defs(j)._1)
      val arms = pairs.map { case (a, b) =>
        s"""SELECT '${names(a)}' AS col_a, '${names(b)}' AS col_b, n,
           |  round(CASE WHEN (n*s_$a$a - s_$a*s_$a) > 0 AND (n*s_$b$b - s_$b*s_$b) > 0
           |    THEN (n*s_$a$b - s_$a*s_$b)::DOUBLE
           |      / (sqrt((n*s_$a$a - s_$a*s_$a)::DOUBLE) * sqrt((n*s_$b$b - s_$b*s_$b)::DOUBLE))
           |    END, 6) AS corr FROM w""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      val sums = defs.map { case (k, _) =>
        s"sum($k)::HUGEINT AS s_$k" }.mkString(", ") + ",\n  " +
        (for (i <- defs.indices; j <- defs.indices if i <= j)
          yield s"sum(${defs(i)._1}::HUGEINT * ${defs(j)._1}) AS s_${defs(i)._1}${defs(j)._1}")
          .mkString(", ")
      s"""WITH m AS (SELECT ${defs.map { case (k, c) =>
            s"CAST(round($c * 1000000) AS BIGINT) AS $k" }.mkString(", ")}
         |  FROM lineitem),
         |w AS (SELECT count(*)::BIGINT AS n, $sums FROM m)
         |SELECT col_a, col_b, n, corr FROM (
         |  $arms
         |)""".stripMargin
    }),

    Gate("q_auc_by", (s, dir) =>
      // segmented ranking quality: the same Mann-Whitney AUC, one row
      // per day-of-week — every stage partitions by the segment too
      Stats.aucRoc(
        t(s, dir, "events")
          .withColumn("label", (col("event_type") === "purchase").cast("int"))
          .withColumn("dow", expr("(ts div 86400000000000L + 4) % 7")),
        "value", "label", keys = Seq("dow")),
      """WITH v AS (SELECT
        |    ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow, value AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |g AS (SELECT dow, s,
        |    sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)::BIGINT AS np,
        |    sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)::BIGINT AS nn
        |  FROM v GROUP BY dow, s),
        |c AS (SELECT dow, np, nn, coalesce(sum(nn) OVER (PARTITION BY dow
        |    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS negbelow
        |  FROM g)
        |SELECT dow, sum(np)::BIGINT AS n_pos, sum(nn)::BIGINT AS n_neg,
        |  round(CASE WHEN sum(np) > 0 AND sum(nn) > 0
        |    THEN sum(np::HUGEINT * (2 * negbelow + nn))::DOUBLE
        |      / (2.0 * sum(np)::DOUBLE * sum(nn)::DOUBLE) END, 6) AS auc
        |FROM c GROUP BY dow""".stripMargin),

    Gate("q_cdf", (s, dir) =>
      // quantile-transform feature map: mid-rank empirical CDF of price
      // within each return flag — the aucRoc bucket decomposition, so
      // no sort partition ever holds a group's full value range
      Stats.cdfNormalize(t(s, dir, "lineitem"), Seq("l_returnflag"),
        "l_extendedprice"),
      """WITH g AS (SELECT l_returnflag, l_extendedprice AS v,
        |    count(*)::BIGINT AS c
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |  GROUP BY 1, 2),
        |s AS (SELECT l_returnflag, v, c,
        |    coalesce(sum(c) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
        |    sum(c) OVER (PARTITION BY l_returnflag) AS n
        |  FROM g)
        |SELECT l_returnflag, v AS l_extendedprice, c AS n_eq,
        |  round((2 * below + c)::DOUBLE / (2.0 * n::DOUBLE), 6) AS cdf
        |FROM s""".stripMargin),

    Gate("q_bootstrap_ci", (s, dir) =>
      // distribution-free CI of the mean event value: 32 deterministic
      // Poisson(1) resamples in ONE aggregate pass, md5-replayable
      Stats.bootstrapMeanCI(t(s, dir, "events"), "event_id", "value"),
      s"""WITH v AS (SELECT event_id::VARCHAR AS id,
         |    CAST(round(value * 1000000) AS BIGINT) AS vmic
         |  FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
         |w AS (SELECT count(*)::BIGINT AS n, sum(vmic)::HUGEINT AS sx,
         |  $MeanRepSums
         |  FROM v),
         |m AS (SELECT n, sx, list_sort([$MeanRepMeans]) AS ms FROM w)
         |SELECT n,
         |  round(CASE WHEN n > 0 THEN sx::DOUBLE / n::DOUBLE / 1e6 END, 6) AS mean,
         |  round(ms[2], 6) AS ci_lo, round(ms[31], 6) AS ci_hi
         |FROM m""".stripMargin),

    Gate("q_bootstrap_lift", (s, dir) => {
      // assumption-free experiment interval: resample USERS (the md5
      // arms' units) and read the lift CI off the sorted rep lifts
      val byUser = t(s, dir, "events").groupBy(col("user_id"))
        .agg((sum(round(col("value") * 1000000).cast("long"))
          .cast("double") / 1e6).as("metric"))
        .withColumn("arm",
          (conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 2).cast("int"))
      Stats.bootstrapLiftCI(byUser, "user_id", "arm", "metric")
    },
      {
      val sums = (0 until 32).map { r =>
        s"""sum(CASE WHEN arm = 0 THEN ${poissonWeightSql(r)} ELSE 0 END)::BIGINT AS wc_$r,
           |  sum(CASE WHEN arm = 0 THEN (${poissonWeightSql(r)})::HUGEINT * vmic ELSE 0 END) AS wxc_$r,
           |  sum(CASE WHEN arm = 1 THEN ${poissonWeightSql(r)} ELSE 0 END)::BIGINT AS wt_$r,
           |  sum(CASE WHEN arm = 1 THEN (${poissonWeightSql(r)})::HUGEINT * vmic ELSE 0 END) AS wxt_$r""".stripMargin
      }.mkString(",\n  ")
      val lifts = (0 until 32).map { r =>
        s"""CASE WHEN wc_$r > 0 AND wt_$r > 0
           |  THEN wxt_$r::DOUBLE / wt_$r::DOUBLE / 1e6
           |     - wxc_$r::DOUBLE / wc_$r::DOUBLE / 1e6 END""".stripMargin
      }.mkString(", ")
      s"""WITH u AS (SELECT user_id::VARCHAR AS id,
         |    sum(CAST(round(value * 1000000) AS BIGINT)) AS vmic,
         |    ((${hexToLong("md5(user_id::VARCHAR)", 1, 8)}) % 2)::INT AS arm
         |  FROM events GROUP BY user_id),
         |-- mirror the engine's bootstrapLiftCI contract EXACTLY: users
         |-- with a NULL id or all-NULL metric are excluded from n_c/n_t
         |-- and from every rep's weight denominator
         |uc AS (SELECT * FROM u WHERE id IS NOT NULL AND vmic IS NOT NULL),
         |w AS (SELECT
         |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS nc,
         |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS nt,
         |    sum(CASE WHEN arm = 0 THEN vmic ELSE 0 END)::HUGEINT AS sc,
         |    sum(CASE WHEN arm = 1 THEN vmic ELSE 0 END)::HUGEINT AS st,
         |  $sums
         |  FROM uc),
         |m AS (SELECT nc, nt, sc, st, list_sort([$lifts]) AS ls FROM w)
         |SELECT nc AS n_c, nt AS n_t,
         |  round(CASE WHEN nc > 0 AND nt > 0
         |    THEN st::DOUBLE / nt::DOUBLE / 1e6 - sc::DOUBLE / nc::DOUBLE / 1e6
         |    END, 6) AS lift,
         |  round(ls[2], 6) AS ci_lo, round(ls[31], 6) AS ci_hi
         |FROM m""".stripMargin
    }),

    Gate("q_psi_multi", (s, dir) =>
      // drift dashboard: PSI of all four lineitem numerics vs the
      // pre-1996 baseline from ONE scan (staged bins, 80 count sums)
      Stats.psiMulti(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        col("l_shipdate") < lit("1996-01-01").cast("timestamp"), bins = 10),
      {
      val feats = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      feats.map { c =>
        s"""SELECT '$c' AS feature, bin, n_base, n_cur,
           |  round((n_base::DOUBLE + 0.5) / (tb::DOUBLE + 5.0), 6) AS p_base,
           |  round((n_cur::DOUBLE + 0.5) / (tc::DOUBLE + 5.0), 6) AS p_cur,
           |  psi
           |FROM (
           |  WITH v AS (SELECT $c::DOUBLE AS val,
           |      (l_shipdate < TIMESTAMP '1996-01-01') AS b
           |    FROM lineitem WHERE $c IS NOT NULL AND NOT isnan($c::DOUBLE)),
           |  r AS (SELECT min(val) AS lo, max(val) AS hi FROM v WHERE b),
           |  binned AS (SELECT CASE WHEN r.hi = r.lo THEN 0
           |      ELSE least(9, greatest(0, floor((val - r.lo) / (r.hi - r.lo) * 10)))::BIGINT
           |      END AS bin, b
           |    FROM v CROSS JOIN r),
           |  cnt AS (SELECT bin,
           |      sum(CASE WHEN b THEN 1 ELSE 0 END)::BIGINT AS n_base,
           |      sum(CASE WHEN NOT b THEN 1 ELSE 0 END)::BIGINT AS n_cur
           |    FROM binned GROUP BY bin),
           |  dense AS (SELECT gs.bin, coalesce(cnt.n_base, 0)::BIGINT AS n_base,
           |      coalesce(cnt.n_cur, 0)::BIGINT AS n_cur
           |    FROM (SELECT unnest(range(0, 10))::BIGINT AS bin) gs
           |    LEFT JOIN cnt USING (bin)),
           |  t AS (SELECT sum(n_base)::BIGINT AS tb, sum(n_cur)::BIGINT AS tc
           |    FROM dense),
           |  f AS (SELECT round(list_reduce(list(
           |        ((n_cur::DOUBLE + 0.5) / (t.tc::DOUBLE + 5.0)
           |         - (n_base::DOUBLE + 0.5) / (t.tb::DOUBLE + 5.0))
           |        * ln(((n_cur::DOUBLE + 0.5) / (t.tc::DOUBLE + 5.0))
           |             / ((n_base::DOUBLE + 0.5) / (t.tb::DOUBLE + 5.0)))
           |        ORDER BY bin), (a, b) -> a + b), 6) AS psi
           |    FROM dense CROSS JOIN t)
           |  SELECT dense.bin, dense.n_base, dense.n_cur, t.tb, t.tc, f.psi
           |  FROM dense CROSS JOIN t CROSS JOIN f)""".stripMargin
      }.mkString("\nUNION ALL\n")
    }),

    Gate("q_survival", (s, dir) =>
      // time-to-first-purchase under right censoring: users who never
      // purchased are censored at the corpus's last observed day —
      // exactly the information each row carries, no optimistic drop
      Stats.kaplanMeier(survivalFrame(s, dir), "duration", "event"),
      s"""$SurvivalUsers
        |dur AS (SELECT
        |    CASE WHEN fp IS NOT NULL THEN fp - fd ELSE mx.maxd - fd END AS t,
        |    CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM u CROSS JOIN mx),
        |pt AS (SELECT t,
        |    sum(CASE WHEN ev = 1 THEN 1 ELSE 0 END)::BIGINT AS d,
        |    sum(CASE WHEN ev = 0 THEN 1 ELSE 0 END)::BIGINT AS c
        |  FROM dur GROUP BY t),
        |tot AS (SELECT sum(d + c)::BIGINT AS n FROM pt),
        |r AS (SELECT pt.t, pt.d, pt.c,
        |    (tot.n - coalesce(sum(pt.d + pt.c) OVER (ORDER BY pt.t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
        |      AS n_at_risk
        |  FROM pt CROSS JOIN tot)
        |SELECT t, n_at_risk, d, c,
        |$KaplanMeierSurvival
        |WINDOW thr AS (ORDER BY t
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),

    Gate("q_survival_by", (s, dir) =>
      // per-arm survival curves: the experiment view of time-to-convert
      // (all windows additionally partitioned by the md5 arm)
      Stats.kaplanMeier(survivalFrame(s, dir), "duration", "event",
        keys = Seq("arm")),
      s"""$SurvivalUsers
         |dur AS (SELECT
         |    ((${hexToLong("md5(user_id::VARCHAR)", 1, 8)}) % 2)::INT AS arm,
         |    CASE WHEN fp IS NOT NULL THEN fp - fd ELSE mx.maxd - fd END AS t,
         |    CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END AS ev
         |  FROM u CROSS JOIN mx),
         |pt AS (SELECT arm, t,
         |    sum(CASE WHEN ev = 1 THEN 1 ELSE 0 END)::BIGINT AS d,
         |    sum(CASE WHEN ev = 0 THEN 1 ELSE 0 END)::BIGINT AS c
         |  FROM dur GROUP BY arm, t),
         |r AS (SELECT arm, t, d, c,
         |    (sum(d + c) OVER (PARTITION BY arm)
         |     - coalesce(sum(d + c) OVER (PARTITION BY arm ORDER BY t
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
         |      AS n_at_risk
         |  FROM pt)
         |SELECT arm, t, n_at_risk, d, c,
         |$KaplanMeierSurvival
         |WINDOW thr AS (PARTITION BY arm ORDER BY t
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),

    Gate("q_logrank", (s, dir) =>
      // did treatment CHANGE the conversion-latency curve? The censored
      // two-group comparison conversion RATES can't answer
      Stats.logRank(survivalFrame(s, dir), "duration", "event", "arm"),
      s"""$SurvivalUsers
         |dur AS (SELECT
         |    ((${hexToLong("md5(user_id::VARCHAR)", 1, 8)}) % 2)::INT AS g,
         |    CASE WHEN fp IS NOT NULL THEN fp - fd ELSE mx.maxd - fd END AS t,
         |    CASE WHEN fp IS NOT NULL THEN 1 ELSE 0 END AS ev
         |  FROM u CROSS JOIN mx),
         |pt AS (SELECT t,
         |    sum(CASE WHEN g = 1 AND ev = 1 THEN 1 ELSE 0 END)::BIGINT AS d1,
         |    sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)::BIGINT AS a1,
         |    sum(CASE WHEN g = 0 AND ev = 1 THEN 1 ELSE 0 END)::BIGINT AS d0,
         |    sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)::BIGINT AS a0
         |  FROM dur GROUP BY t),
         |r AS (SELECT t, d1, d0,
         |    (sum(a1) OVER () - coalesce(sum(a1) OVER (ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS n1,
         |    (sum(a0) OVER () - coalesce(sum(a0) OVER (ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS n0
         |  FROM pt),
         |f AS (SELECT * FROM r WHERE d1 + d0 > 0),
         |w AS (SELECT sum(d1)::BIGINT AS o1,
         |    list_reduce(list_prepend(0.0, list(
         |      (d1 + d0)::DOUBLE * n1::DOUBLE / (n1 + n0)::DOUBLE
         |      ORDER BY t)), (a, b) -> a + b) AS e1,
         |    list_reduce(list_prepend(0.0, list(
         |      CASE WHEN n1 + n0 > 1 THEN
         |        (d1 + d0)::DOUBLE * (n1::DOUBLE / (n1 + n0)::DOUBLE)
         |        * (1.0 - n1::DOUBLE / (n1 + n0)::DOUBLE)
         |        * ((n1 + n0 - d1 - d0)::DOUBLE / (n1 + n0 - 1)::DOUBLE)
         |      ELSE 0.0 END ORDER BY t)), (a, b) -> a + b) AS v
         |  FROM f)
         |SELECT coalesce(o1, 0) AS observed_1, round(e1, 6) AS expected_1,
         |  round(CASE WHEN v > 0 THEN (o1::DOUBLE - e1) * (o1::DOUBLE - e1) / v
         |    END, 6) AS chi2,
         |  coalesce(round(CASE WHEN v > 0
         |      THEN (o1::DOUBLE - e1) * (o1::DOUBLE - e1) / v END, 6) > 3.841,
         |    false) AS significant
         |FROM w""".stripMargin),

    Gate("q_trend_robust", (s, dir) =>
      // outlier-proof daily-volume trend: the median pairwise slope of
      // click counts (one launch-spike day cannot move it, OLS tips)
      Stats.theilSen(
        t(s, dir, "events").filter(col("event_type") === "click")
          .groupBy(expr("ts div 86400000000000L").as("day"))
          .agg(count(lit(1)).as("n")),
        "day", "n"),
      """WITH d AS (SELECT (epoch_us(ts) // 86400000000)::DOUBLE AS x,
        |    count(*)::DOUBLE AS y
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |p AS (SELECT (b.y - a.y) / (b.x - a.x) AS s
        |  FROM d a JOIN d b ON a.x < b.x),
        |rk AS (SELECT s, row_number() OVER (ORDER BY s ASC) - 1 AS rn,
        |    count(*) OVER () AS n FROM p),
        |ms AS (SELECT round(
        |    max(CASE WHEN rn = floor((n - 1)::DOUBLE * 0.5) THEN s END)
        |    + ((n - 1)::DOUBLE * 0.5 - floor((n - 1)::DOUBLE * 0.5))
        |      * (max(CASE WHEN rn = ceil((n - 1)::DOUBLE * 0.5) THEN s END)
        |         - max(CASE WHEN rn = floor((n - 1)::DOUBLE * 0.5) THEN s END)),
        |    6) AS slope FROM rk GROUP BY n),
        |res AS (SELECT d.y - ms.slope * d.x AS r, ms.slope
        |  FROM d CROSS JOIN ms),
        |rk2 AS (SELECT r, slope, row_number() OVER (ORDER BY r ASC) - 1 AS rn,
        |    count(*) OVER () AS n FROM res),
        |mi AS (SELECT any_value(slope) AS slope, round(
        |    max(CASE WHEN rn = floor((n - 1)::DOUBLE * 0.5) THEN r END)
        |    + ((n - 1)::DOUBLE * 0.5 - floor((n - 1)::DOUBLE * 0.5))
        |      * (max(CASE WHEN rn = ceil((n - 1)::DOUBLE * 0.5) THEN r END)
        |         - max(CASE WHEN rn = floor((n - 1)::DOUBLE * 0.5) THEN r END)),
        |    6) AS intercept FROM rk2 GROUP BY n)
        |SELECT (SELECT count(*) FROM d)::BIGINT AS n_points,
        |  mi.slope, mi.intercept
        |FROM mi""".stripMargin),

    Gate("q_bh_adjust", (s, dir) =>
      // multiple-testing gate over a segment-readout table: BH step-up
      // adjusted p-values (deterministic md5 pseudo-p's per segment so
      // both engines rank the identical numbers)
      Stats.bhAdjust(
        docs(s, dir)
          .select(concat(col("lang"), lit(":"), col("source")).as("tid"))
          .distinct()
          .withColumn("p",
            conv(substring(md5(col("tid")), 1, 8), 16, 10).cast("double") /
              lit(4294967296.0)),
        "tid", "p", alpha = 0.2),
      s"""WITH t AS (SELECT DISTINCT lang || ':' || source AS test_id
         |  FROM documents),
         |pv AS (SELECT test_id,
         |    (${hexToLong("md5(test_id)", 1, 8)})::DOUBLE / 4294967296.0 AS p
         |  FROM t),
         |r AS (SELECT test_id, p,
         |    row_number() OVER (ORDER BY p ASC, test_id ASC) AS rank,
         |    count(*) OVER () AS m FROM pv),
         |a AS (SELECT test_id, p, rank,
         |    round(least(1.0, min(m::DOUBLE * p / rank::DOUBLE)
         |      OVER (ORDER BY p DESC, test_id DESC
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS p_adj
         |  FROM r)
         |SELECT test_id, round(p, 6) AS p, rank::INT AS rank, p_adj,
         |  p_adj <= 0.2 AS reject
         |FROM a""".stripMargin),

    Gate("q_bootstrap_ci_by", (s, dir) =>
      // per-segment mean intervals: the same one-pass Poisson bootstrap
      // grouped by event type
      Stats.bootstrapMeanCI(t(s, dir, "events"), "event_id", "value",
        reps = 32, keys = Seq("event_type")),
      s"""WITH v AS (SELECT event_type, event_id::VARCHAR AS id,
         |    CAST(round(value * 1000000) AS BIGINT) AS vmic
         |  FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
         |w AS (SELECT event_type, count(*)::BIGINT AS n,
         |    sum(vmic)::HUGEINT AS sx,
         |  $MeanRepSums
         |  FROM v GROUP BY event_type),
         |m AS (SELECT event_type, n, sx, list_sort([$MeanRepMeans]) AS ms FROM w)
         |SELECT event_type, n,
         |  round(CASE WHEN n > 0 THEN sx::DOUBLE / n::DOUBLE / 1e6 END, 6) AS mean,
         |  round(ms[2], 6) AS ci_lo, round(ms[31], 6) AS ci_hi
         |FROM m""".stripMargin),

    Gate("q_split_quality", (s, dir) =>
      // feature-selection readout: how much does day-of-week reduce the
      // purchase label's Gini impurity? gain = base - weighted split
      Stats.splitQuality(
        t(s, dir, "events")
          .withColumn("dow", expr("(ts div 86400000000000L + 4) % 7"))
          .withColumn("label", (col("event_type") === "purchase").cast("int")),
        "dow", "label"),
      """WITH e AS (SELECT
        |    (((epoch_us(ts) // 86400000000) + 4) % 7)::VARCHAR AS value,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |c AS (SELECT value, count(*)::BIGINT AS n,
        |    sum(y)::BIGINT AS n_pos FROM e GROUP BY 1),
        |t AS (SELECT sum(n)::BIGINT AS N, sum(n_pos)::BIGINT AS P FROM c),
        |f AS (SELECT
        |    round(1.0 - (t.P::DOUBLE / t.N::DOUBLE) * (t.P::DOUBLE / t.N::DOUBLE)
        |      - (1.0 - t.P::DOUBLE / t.N::DOUBLE)
        |        * (1.0 - t.P::DOUBLE / t.N::DOUBLE), 6) AS base_gini,
        |    round(list_reduce(list_prepend(0.0, list(
        |      (c.n::DOUBLE / t.N::DOUBLE)
        |      * (1.0 - (c.n_pos::DOUBLE / c.n::DOUBLE)
        |                * (c.n_pos::DOUBLE / c.n::DOUBLE)
        |         - (1.0 - c.n_pos::DOUBLE / c.n::DOUBLE)
        |           * (1.0 - c.n_pos::DOUBLE / c.n::DOUBLE))
        |      ORDER BY c.value NULLS FIRST)), (a, b) -> a + b), 6) AS weighted_gini
        |  FROM c CROSS JOIN t GROUP BY t.N, t.P)
        |SELECT c.value, c.n, c.n_pos,
        |  round(1.0 - (c.n_pos::DOUBLE / c.n::DOUBLE) * (c.n_pos::DOUBLE / c.n::DOUBLE)
        |    - (1.0 - c.n_pos::DOUBLE / c.n::DOUBLE)
        |      * (1.0 - c.n_pos::DOUBLE / c.n::DOUBLE), 6) AS gini,
        |  f.base_gini, f.weighted_gini,
        |  round(f.base_gini - f.weighted_gini, 6) AS gain
        |FROM c CROSS JOIN f""".stripMargin))

  /** Time-to-first-purchase frame shared by the survival-family gates:
    * one row per user with (duration days, event 1/censored 0, md5 arm);
    * never-purchasers censor at the corpus's last observed day. */
  private def survivalFrame(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), expr("ts div 86400000000000L").as("day"),
        col("event_type"))
    val maxDay = e.agg(max(col("day")).as("__maxd"))
    val byUser = e.groupBy(col("user_id"))
      .agg(min(col("day")).as("__first"),
        min(when(col("event_type") === "purchase", col("day"))).as("__fp"))
    byUser.crossJoin(broadcast(maxDay)).select(
      col("user_id"),
      when(col("__fp").isNotNull, col("__fp") - col("__first"))
        .otherwise(col("__maxd") - col("__first")).as("duration"),
      when(col("__fp").isNotNull, lit(1)).otherwise(lit(0)).as("event"),
      (conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 2).cast("int").as("arm"))
  }

  // quantile-sketch grid shared by the query and its oracle (w must be
  // the IDENTICAL double literal on both sides)
  private val QSketchLo = 0.0
  private val QSketchHi = 110000.0
  private val QSketchBins = 1024
  private val QSketchW = (QSketchHi - QSketchLo) / QSketchBins // 107.421875 (dyadic)

  /** DuckDB twin of [[graft.ops.Stats.concentration]]: Gini of per-key
    * row counts via the tied-rank closed form (rank only distinct count
    * values; S2 doubles the rank identity so every term stays integral)
    * plus top-1 / top-10 shares. NULLS FIRST mirrors Spark's asc
    * null ordering on the top-k tie-break. */
  private def concentrationSql(table: String, key: String): String =
    s"""WITH pk AS (SELECT $key AS k, count(*) AS x FROM $table GROUP BY $key),
       |bv AS (SELECT x, count(*) AS m FROM pk GROUP BY x),
       |rk AS (SELECT x, m, coalesce(sum(m) OVER (ORDER BY x ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS a FROM bv),
       |f AS (SELECT sum(x * m * (2 * a + m + 1)) AS s2, sum(x * m) AS t,
       |    sum(m) AS n FROM rk),
       |tp AS (SELECT sum(x) AS topk_sum, max(x) AS top1 FROM
       |  (SELECT x FROM pk ORDER BY x DESC, k ASC NULLS FIRST LIMIT 10))
       |SELECT coalesce(n, 0)::BIGINT AS n_keys, coalesce(t, 0)::BIGINT AS n_rows,
       |  round(CASE WHEN n IS NULL OR t = 0 THEN NULL
       |    ELSE (s2::DOUBLE - (n + 1)::DOUBLE * t::DOUBLE)
       |         / (n::DOUBLE * t::DOUBLE) END, 6) AS gini,
       |  round(CASE WHEN t = 0 THEN NULL
       |    ELSE top1::DOUBLE / t::DOUBLE END, 6) AS top1_share,
       |  round(CASE WHEN t = 0 THEN NULL
       |    ELSE topk_sum::DOUBLE / t::DOUBLE END, 6) AS topk_share
       |FROM f, tp""".stripMargin

  // Poisson(1) CDF ladder shared with Stats.bootstrapMeanCI
  private val PoissonCdf = Seq(0.36787944117144233, 0.7357588823428847,
    0.9196986029286058, 0.9810118431238463, 0.9963401531726563,
    0.9994058151824183, 0.999916758850712, 0.9999897508033253)

  /** Replicate `r`'s Poisson(1) weight of row `id`: an md5 uniform (8 hex
    * digits of `md5(id || '_' || r / 4)`) looked up in [[PoissonCdf]]. */
  private def poissonWeightSql(r: Int): String = {
    val u = s"((${hexToLong(s"md5(id || '_${r / 4}')", 1 + 8 * (r % 4), 8)})::DOUBLE + 0.5) / 4294967296.0"
    PoissonCdf.zipWithIndex.foldRight("8::BIGINT") { case ((t, k), rest) =>
      s"CASE WHEN $u < $t THEN ${k}::BIGINT ELSE $rest END"
    }
  }

  /** The 32 replicate weight and weighted-value sums over `vmic`, and the
    * replicate means they give: the one-pass bootstrap of
    * [[graft.ops.Stats.bootstrapMeanCI]]. */
  private val MeanRepSums = (0 until 32).map { r =>
    s"sum(${poissonWeightSql(r)})::BIGINT AS w_$r, " +
      s"sum((${poissonWeightSql(r)})::HUGEINT * vmic) AS wx_$r"
  }.mkString(",\n  ")
  private val MeanRepMeans = (0 until 32).map { r =>
    s"CASE WHEN w_$r > 0 THEN wx_$r::DOUBLE / w_$r::DOUBLE / 1e6 END"
  }.mkString(", ")

  /** The p-quantile of a fixed-grid histogram (lower edge `lo`, bin width
    * `w`) over columns (bin, c, cum, n): interpolated inside the first bin
    * whose cumulative count passes (n − 1)·p, as [[graft.ops.Sketches]]
    * reads its sketch. */
  private def gridQuantileSql(lo: Double, w: Double, p: String) = {
    val t = s"((n - 1)::DOUBLE * $p)"
    s"""arg_min(round($lo + $w * (bin::DOUBLE + ($t - (cum - c)::DOUBLE) / c::DOUBLE), 6),
       |    CASE WHEN cum::DOUBLE > $t THEN bin END)""".stripMargin
  }

  /** `est` (per l_returnflag) next to the exact distinct l_partkey count it
    * approximates. The exact audit is a separate aggregation joined on the
    * group key: a mixed distinct/non-distinct aggregate makes Spark
    * duplicate every input row per aggregate family. */
  private def withExactDistinct(li: DataFrame, est: DataFrame): DataFrame = {
    val exact = li.select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_distinct"))
    est.join(exact, "l_returnflag")
      .select(col("l_returnflag"), col("est_distinct"), col("exact_distinct"))
  }

  /** HLL's small- and large-range corrections of the raw estimate over
    * (raw, v), as [[graft.functions.GraftFunctions.hll_distinct]] applies
    * them, then the exact audit column. */
  private val HllCorrected =
    """    THEN 256.0 * ln(256.0 / v::DOUBLE)
      |    WHEN raw >= 4294967296.0 THEN 4294967296.0
      |    WHEN raw > 4294967296.0 / 30.0
      |    THEN -4294967296.0 * ln(1.0 - raw / 4294967296.0)
      |    ELSE raw END, 2) AS est_distinct,
      |  ex.exact_distinct""".stripMargin

  /** DuckDB twin of [[survivalFrame]]'s inputs: CTE `u` holds each user's
    * first day `fd` and first purchase day `fp`, `mx` the last day. */
  private val SurvivalUsers =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    event_type FROM events),
      |mx AS (SELECT max(day) AS maxd FROM e),
      |u AS (SELECT user_id, min(day) AS fd,
      |    min(CASE WHEN event_type = 'purchase' THEN day END) AS fp
      |  FROM e GROUP BY 1),""".stripMargin

  /** The Kaplan-Meier product over CTE `r`(d, n_at_risk) in window `thr`:
    * 0 from the first step that loses every subject at risk. */
  private val KaplanMeierSurvival =
    """  CASE WHEN max(CASE WHEN d = n_at_risk THEN 1 ELSE 0 END)
      |      OVER thr = 1 THEN 0.0
      |    ELSE round(exp(sum(CASE WHEN d < n_at_risk
      |      THEN ln(1.0 - d::DOUBLE / n_at_risk::DOUBLE) ELSE 0.0 END)
      |      OVER thr), 6) END AS survival
      |FROM r""".stripMargin
}
