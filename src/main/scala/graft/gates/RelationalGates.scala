package graft.gates

import org.apache.spark.sql.{DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Scale

/** Relational gates: TPC-H, windows, grouping sets, joins and the
  * [[graft.ops.Scale]] layouts — plain Catalyst plans over the TPC-H,
  * events and documents tables. */
private[graft] object RelationalGates {
  import Shared._

  def gates: Seq[Gate] = Seq(
    Gate("q_tpch_q1", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 6).as("sum_qty"),
          // exact integer-cents sums: double accumulation order is
          // nondeterministic under partial aggregation; long sums are
          // exact, order-free, and stay in whole-stage codegen
          (sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0).as("sum_base_price"),
          (sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1000000).cast("long"))
            / 1000000.0).as("sum_disc_price"),
          round(sum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
          count(lit(1)).as("count_order")),
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 6) AS sum_qty,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
        |  sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000) AS BIGINT)) / 1000000.0 AS sum_disc_price,
        |  round(sum(l_quantity) / count(*), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    Gate("q_corr", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 6).as("covar_s"),
          round(covar_pop(col("l_quantity"), col("l_extendedprice")), 6).as("covar_p"),
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty")),
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(covar_samp(l_quantity, l_extendedprice), 6) AS covar_s,
        |  round(covar_pop(l_quantity, l_extendedprice), 6) AS covar_p,
        |  round(stddev_samp(l_quantity), 6) AS sd_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    Gate("q_rollup", (s, dir) =>
      // hierarchical subtotals in ONE pass (Expand + single shuffle) —
      // the multi-granularity dashboard query; integer-cents money sums
      subtotals(t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))),
      subtotalsSql("ROLLUP")),

    Gate("q_histogram", (s, dir) =>
      // fixed-width value histogram: integral bucketing, map-side
      // combinable, one shuffle of (bucket, partials)
      t(s, dir, "lineitem")
        .groupBy(floor(col("l_extendedprice") / lit(10000.0)).as("bucket"))
        .agg(
          count(lit(1)).as("n"),
          (sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0).as("sum_price")),
      """SELECT CAST(floor(l_extendedprice / 10000.0) AS BIGINT) AS bucket,
        |  count(*) AS n,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_price
        |FROM lineitem GROUP BY 1""".stripMargin),

    Gate("q_cube", (s, dir) =>
      // full CUBE lattice in one pass (Expand + single shuffle) —
      // rollup's column-symmetric sibling
      subtotals(t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))),
      subtotalsSql("CUBE")),

    Gate("q_salted_agg", (s, dir) =>
      // the skew-proof two-stage aggregation, pushed through the oracle
      // gate: value pre-scaled to integer micros so BOTH stages sum longs
      // (exact under any salt/partition assignment)
      graft.ops.Scale.saltedSumCount(
        t(s, dir, "events").select(col("event_type"),
          round(col("value") * 1000000).cast("long").as("vmicro")),
        Seq("event_type"), "vmicro", salts = 8)
        .select(col("event_type"),
          round(col("sum_vmicro") / 1000000.0, 6).as("sum_value"), col("n")),
      """SELECT event_type,
        |  round(sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 6) AS sum_value,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin),

    Gate("q_running_total", (s, dir) =>
      // per-user running sum in event-time order (event_id tie-break):
      // ONE hash exchange on user_id + per-partition sort; micros → exact
      t(s, dir, "events")
        .withColumn("vmicro", round(col("value") * 1000000).cast("long"))
        .withColumn("running",
          sum(col("vmicro")).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("user_id"))
              .orderBy(expr("ts div 1000L"), col("event_id"))
              .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .select(col("event_id"), col("user_id"),
          round(col("running") / 1000000.0, 6).as("running_value")),
      """SELECT event_id, user_id,
        |  round(sum(CAST(round(value * 1000000) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 1000000.0, 6) AS running_value
        |FROM events""".stripMargin),

    Gate("q_big_orders", (s, dir) => {
      // TPC-H Q18 shape: the fact aggregates FIRST (map-side combinable,
      // integer-cents), the selective HAVING prunes before the join, and
      // only surviving keys join back to orders
      val qty = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg((sum(round(col("l_quantity") * 100).cast("long")) / 100.0).as("sum_qty"))
        .filter(col("sum_qty") > 250.0)
      t(s, dir, "orders")
        .join(qty, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("odate"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("sum_qty").desc, col("o_orderkey").asc)
        .limit(100)
    },
      """WITH qty_t AS (
        |  SELECT l_orderkey, sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 250.0)
        |SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate, o_totalprice, sum_qty
        |FROM orders JOIN qty_t ON o_orderkey = l_orderkey
        |ORDER BY sum_qty DESC, o_orderkey ASC
        |LIMIT 100""".stripMargin),

    Gate("q_latest_value", (s, dir) => {
      // CDC latest-record-wins merge shape: the current value per
      // (user, type) key — deterministic (ts, event_id) recency order,
      // one keyed window shuffle, WindowGroupLimit prunes per-partition
      val e = t(s, dir, "events").select(
        col("user_id"), col("event_type"), col("event_id"),
        expr("ts div 1000L").as("tsu"),
        round(col("value"), 6).as("value"))
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("tsu").desc, col("event_id").desc)
      e.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("tsu"),
          col("event_id"), col("value"))
    },
      """WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS tsu,
        |    round(value, 6) AS value FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY tsu DESC, event_id DESC) AS rn FROM e)
        |SELECT user_id, event_type, tsu, event_id, value FROM r WHERE rn = 1""".stripMargin),

    Gate("q_pivot", (s, dir) =>
      // pivot = grouped conditional aggregation (one pass, no join):
      // order counts by priority × status; explicit value list keeps the
      // plan static (no distinct-scan planning step at 100 TB)
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p")),
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin),

    Gate("q_window_rank", (s, dir) => {
      // ranking-function anchor: ntile / percent_rank / lag share ONE
      // window sort per partition key; deterministic tie-break on key
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_totalprice") > 450000.0)
        .select(
          col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"))
    },
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  lag(o_totalprice) OVER w AS prev_price
        |FROM orders WHERE o_totalprice > 450000.0
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)""".stripMargin),

    Gate("q_json_extract", (s, dir) =>
      // semi-structured: pull $.k out of the JSON props column, aggregate
      // per event type — extraction is codegen'd, narrow, pushdown-safe
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
          countDistinct(col("k")).as("distinct_k")),
      """SELECT event_type,
        |  count(k) AS n, sum(k)::BIGINT AS sum_k, count(DISTINCT k) AS distinct_k
        |FROM (SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |GROUP BY event_type""".stripMargin),

    Gate("q_tpch_q5", (s, dir) => {
      // the 6-table join anchor: region/nation/supplier dims BROADCAST
      // (provably bounded), facts pre-filtered before the shuffle join,
      // revenue in exact integer units
      val asiaNations = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      val supp = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg((sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1000000)
          .cast("long")) / 1000000.0).as("revenue"))
    },
      """SELECT n_name,
        |  sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000) AS BIGINT))
        |    / 1000000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin),

    Gate("q_grouping_sets", (s, dir) => {
      // explicit GROUPING SETS — the asymmetric lattice rollup/cube can't
      // express: per-flag, per-status, and grand total, one Expand pass
      t(s, dir, "lineitem").createOrReplaceTempView("li_gs")
      // 100.0D: Spark SQL parses a bare `100.0` literal as DECIMAL(3,1),
      // which turns the division into decimal(27,6) — the oracle's is a
      // plain DOUBLE divide
      s.sql("""SELECT coalesce(l_returnflag, 'ALL') AS rflag,
              |  coalesce(l_linestatus, 'ALL') AS lstatus,
              |  count(*) AS n,
              |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0D AS sum_price
              |FROM li_gs
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    },
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |  coalesce(l_linestatus, 'ALL') AS lstatus,
        |  count(*) AS n,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin),

    Gate("q_semi_join", (s, dir) => {
      // TPC-H Q4 shape: EXISTS → LEFT SEMI (orders with >=1 returned
      // item, counted per priority). The semi join ships only the
      // distinct join keys of the filtered lineitem side — never
      // materializes the match multiplicity
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin),

    Gate("q_anti_join", (s, dir) => {
      // NOT EXISTS → LEFT ANTI: parts never shipped in bulk (no lineitem
      // with quantity >= 45). Anti join broadcasts/ships distinct keys
      // of the filtered probe side only
      val p = t(s, dir, "part")
      val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 45)
      p.join(li, p("p_partkey") === li("l_partkey"), "left_anti")
        .select(col("p_partkey"), col("p_brand"))
    },
      """SELECT p_partkey, p_brand
        |FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey AND l_quantity >= 45)""".stripMargin),

    Gate("q_ewma", (s, dir) => {
      // exponentially-decayed trailing sum (half-life = 1 event, depth
      // 10) per user in event-time order. Dyadic weights 2^-j on integer
      // micro-units make every term EXACT in double (vmic < 2^29 scaled
      // by >= 2^-9), so the sum is order-free and engine-identical.
      // One hash exchange on user_id + per-partition sort; the 10 lags
      // share a single window frame
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(expr("ts div 1000L"), col("event_id"))
      val terms = (0 until 10).map(j =>
        coalesce(lag(col("vmic"), j).over(w), lit(0L)).cast("double") * lit(1.0 / (1L << j)))
      t(s, dir, "events")
        .withColumn("vmic", round(col("value") * 1000000).cast("long"))
        // emit in micro-units WITHOUT dividing back: the sum is an exact
        // multiple of 2^-9 (granularity 0.001953125, 9 decimals), so the
        // value is bit-identical in every engine; a /1e6 rescale would
        // reintroduce a half-point rounding ulp
        .select(col("event_id"), col("user_id"),
          terms.reduce(_ + _).as("ewma_micro"))
    },
      {
      val terms = (0 until 10).map(j =>
        s"coalesce(lag(vmic, $j) OVER w, 0)::DOUBLE * ${1.0 / (1L << j)}").mkString("\n|  + ")
      s"""SELECT event_id, user_id,
         |  $terms AS ewma_micro
         |FROM (SELECT event_id, user_id, ts,
         |    CAST(round(value * 1000000) AS BIGINT) AS vmic FROM events)
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""".stripMargin
    }),

    Gate("q_skew_profile", (s, dir) =>
      // the salting decision input: top keys by row share + cumulative
      // concentration (distributed top-k cut before any global window)
      Scale.keySkewProfile(t(s, dir, "lineitem"), "l_partkey", topN = 15),
      """WITH c AS (SELECT l_partkey::VARCHAR AS key, count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT sum(cnt)::BIGINT AS total FROM c),
        |top AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key ASC LIMIT 15),
        |r AS (SELECT key, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, key ASC) AS rank,
        |    sum(cnt) OVER (ORDER BY cnt DESC, key ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt
        |  FROM top)
        |SELECT rank::INT AS rank, key, cnt,
        |  round(cnt / (SELECT total FROM tot), 6) AS share,
        |  round(cum_cnt / (SELECT total FROM tot), 6) AS cum_share
        |FROM r""".stripMargin),

    Gate("q_window_suite", (s, dir) => {
      // ranking-analytics coverage in one pass: rank / percent_rank /
      // cume_dist / running first over one (priority)-partitioned sort;
      // WindowGroupLimit cuts to the top 3 per group before the shuffle
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          rank().over(w).as("rnk"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          first(col("o_orderkey")).over(w).as("best_order"))
        .filter(col("rnk") <= 3)
        .drop("o_totalprice")
    },
      """SELECT o_orderpriority, o_orderkey, rnk, pct_rank, cume, best_order FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    rank() OVER w AS rnk,
        |    round(percent_rank() OVER w, 6) AS pct_rank,
        |    round(cume_dist() OVER w, 6) AS cume,
        |    first_value(o_orderkey) OVER w AS best_order
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey))
        |WHERE rnk <= 3""".stripMargin),

    Gate("q_churn", (s, dir) => {
      // lapsed purchasers: users who purchased before day 19750 but not
      // since — EXCEPT (distinct anti) of two pre-aggregated key sets,
      // so only distinct user ids ever shuffle
      val d = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      d.filter(col("day") < 19750).select("user_id").distinct()
        .except(d.filter(col("day") >= 19750).select("user_id").distinct())
    },
      """WITH p AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events WHERE event_type = 'purchase')
        |SELECT DISTINCT user_id FROM p WHERE day < 19750
        |EXCEPT
        |SELECT DISTINCT user_id FROM p WHERE day >= 19750""".stripMargin),

    Gate("q_bloom_semi_join", (s, dir) => {
      // runtime-filter pattern: Brand#23 partkeys → KB-scale bloom
      // broadcast prunes lineitem IN ITS SCAN; the exact semi join
      // removes bloom false positives, so the result is plain EXISTS
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part").filter(col("p_brand") === "Brand#23")
        .select(col("p_partkey"))
      Scale.bloomFilteredSemiJoin(li, p, "l_partkey", "p_partkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
    },
      """SELECT l_returnflag, count(*) AS n,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS price_cents
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM part
        |  WHERE p_partkey = l_partkey AND p_brand = 'Brand#23')
        |GROUP BY l_returnflag""".stripMargin),

    Gate("q_quality_deciles", (s, dir) => {
      // curriculum binning: per-language length quartiles via ntile —
      // the window partitions by lang (no global sort; each language
      // ranks independently on its own reducer)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
      docs(s, dir)
        .select(col("lang"), col("n_chars"), ntile(4).over(w).as("quartile"))
        .groupBy(col("lang"), col("quartile"))
        .agg(count(lit(1)).as("n"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
    },
      """SELECT lang, quartile, count(*) AS n,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM (SELECT lang, n_chars,
        |    ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS quartile
        |  FROM documents)
        |GROUP BY lang, quartile""".stripMargin),

    Gate("q_zorder", (s, dir) => {
      // z-order layout audit: Morton-interleave (user cell, day) per
      // event and roll up per 2^8 key range — the file-level locality
      // a zkey-sorted write would give both user- and time-range scans
      val ev = t(s, dir, "events")
        .withColumn("ucell", pmod(col("user_id"), lit(65536L)))
        .withColumn("day", expr("(ts div 86400000000000) % 65536"))
      ev.withColumn("zkey", Scale.zorderKey16(col("ucell"), col("day")))
        .withColumn("zbucket", shiftright(col("zkey"), 8))
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          (max(col("day")) - min(col("day"))).as("day_span"))
    },
      {
      def spread(x: String) =
        s"""(SELECT x5 FROM (SELECT ($x) & 65535 AS x1) t1,
           |  LATERAL (SELECT (x1 | (x1 << 8)) & 16711935 AS x2) t2,
           |  LATERAL (SELECT (x2 | (x2 << 4)) & 252645135 AS x3) t3,
           |  LATERAL (SELECT (x3 | (x3 << 2)) & 858993459 AS x4) t4,
           |  LATERAL (SELECT (x4 | (x4 << 1)) & 1431655765 AS x5) t5)""".stripMargin
      s"""WITH cells AS (SELECT user_id,
         |    user_id % 65536 AS ucell,
         |    (epoch_us(ts) // 86400000000) % 65536 AS day
         |  FROM events),
         |z AS (SELECT user_id, day,
         |    (${spread("ucell")} | (${spread("day")} << 1)) >> 8 AS zbucket
         |  FROM cells)
         |SELECT zbucket, count(*) AS n, count(DISTINCT user_id) AS n_users,
         |  max(day) - min(day) AS day_span
         |FROM z GROUP BY zbucket""".stripMargin
    }),

    Gate("q_tpch_q13", (s, dir) => {
      // TPC-H Q13 shape (customer order-count distribution incl. the
      // zero-order customers): aggregate orders per custkey FIRST, then
      // LEFT OUTER join customer — the join input shrinks from |orders|
      // to |custkeys-with-orders| before any wide join, and customers
      // with no orders surface via coalesce(cnt, 0)
      val c = t(s, dir, "customer")
      val ocnt = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
      c.join(ocnt, c("c_custkey") === ocnt("o_custkey"), "left_outer")
        .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
    },
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin),

    Gate("q_tpch_q7", (s, dir) => {
      // TPC-H Q7 shape (volume shipping between a nation PAIR, both
      // directions, by ship year): both nation dims resolve through the
      // bounded supplier/nation tables BEFORE touching the facts —
      // supplier side broadcast (prunes lineitem to the two nations'
      // suppliers first), customer pre-filtered to the pair so the
      // custkey join also prunes; revenue in exact integer micros
      val nations = t(s, dir, "nation")
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
        .select(col("n_nationkey"), col("n_name"))
      val supp = t(s, dir, "supplier")
        .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = t(s, dir, "customer")
        .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          col("l_extendedprice"), col("l_discount"))
      li.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg((sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1000000)
          .cast("long")) / 1000000.0).as("revenue"))
    },
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000) AS BIGINT))
        |    / 1000000.0 AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2')
        |  AND n1.n_name <> n2.n_name
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3""".stripMargin),

    Gate("q_tpch_q8", (s, dir) => {
      // TPC-H Q8 shape (national market share of one part type inside one
      // region's market, by order year): the part slice broadcast prunes
      // lineitem first; region membership resolves on the bounded
      // customer/nation side; share = ratio of two exact integer-micro
      // sums in ONE combinable aggregate (no second pass)
      val pt = t(s, dir, "part").filter(col("p_type") === "STANDARD")
        .select(col("p_partkey"))
      val regionCust = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation").filter(col("n_regionkey") === 0)
          .select(col("n_nationkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val suppNation = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val rev = round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1000000)
        .cast("long")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(regionCust, col("o_custkey") === col("c_custkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_5", rev).otherwise(0L)).cast("double") /
            sum(rev).cast("double"), 6).as("mkt_share"))
    },
      """SELECT year(o_orderdate) AS o_year,
        |  round(
        |    sum(CASE WHEN n1.n_name = 'NATION_5'
        |      THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000) AS BIGINT)
        |      ELSE 0 END)::DOUBLE /
        |    sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000) AS BIGINT))::DOUBLE,
        |  6) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE p_type = 'STANDARD' AND n2.n_regionkey = 0
        |GROUP BY 1""".stripMargin),

    Gate("q_tpch_q4", (s, dir) => {
      // TPC-H Q4 shape (order-priority checking): the correlated EXISTS
      // becomes a LEFT-SEMI join whose non-equi lateness predicate
      // (ship > order date + 60 days — this data has no commit/receipt
      // dates, so lateness is ship-lag) rides the orderkey equi-join;
      // the semi join cuts each order to one row BEFORE the map-side
      // combinable count, and the order-window filter is pushed to the
      // orders scan
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      o.join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate")),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },
      """SELECT o_orderpriority, count(*)::BIGINT AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin),

    Gate("q_tpch_q18", (s, dir) => {
      // TPC-H Q18 shape (large-volume customers): the HAVING subquery
      // is a pre-aggregated key set — quantities sum per order FIRST
      // (integral longs, map-side combinable; facts never join wide),
      // and only the qualifying orderkeys join back to orders and
      // customer. Top-100 by (totalprice desc, orderdate, orderkey) —
      // unique orderkey makes the LIMIT boundary deterministic.
      val big = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      big.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate").asc,
          col("o_orderkey").asc)
        .limit(100)
    },
      """WITH big AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS BIGINT))::BIGINT AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS BIGINT)) > 250)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
        |LIMIT 100""".stripMargin),

    Gate("q_tpch_q12", (s, dir) =>
      // TPC-H Q12 shape (priority-class line counts per line status for
      // one ship year): the fact slice is pushed to the scan, the orders
      // side ships only (orderkey, priority), counts are map-side
      // combinable case-sums — one shuffle on orderkey, one on the
      // 2-row group key
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linestatus"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
            .as("low_line_count")),
      """SELECT l_linestatus,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus""".stripMargin),

    Gate("q_tpch_q3", (s, dir) =>
      // TPC-H Q3 shape (shipping-priority top-10): both date slices
      // push to the scans, customer ships only its key after the
      // segment filter, revenue aggregates in integer micros BEFORE
      // the global top-10 (WindowGroupLimit keeps the sort partial);
      // ties broken (rev desc, date asc, orderkey asc) — the schema
      // here has no o_shippriority, the shape is the 3-table
      // filter-join-topk. The customer⋈orders side is the broadcast
      // one: without CBO Spark sizes an inner join as the product of
      // its inputs and would ship the lineitem slice instead
      broadcast(t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1997-03-15").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
          col("c_custkey") === col("o_custkey")))
        .join(t(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1997-03-15").cast("timestamp"))
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 1000000).cast("long")).as("rev_micro"))
        .orderBy(col("rev_micro").desc, col("o_orderdate").asc,
          col("l_orderkey").asc)
        .limit(10)
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("rev_micro")),
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        |  sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000)
        |    AS BIGINT))::BIGINT AS rev_micro
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-03-15'
        |  AND l_shipdate > TIMESTAMP '1997-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY rev_micro DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 10""".stripMargin),

    Gate("q_tpch_q6", (s, dir) =>
      // TPC-H Q6 shape (forecast revenue change): the pure
      // scan-filter-aggregate — every predicate reaches PushedFilters,
      // one map-side-combined 1-row sum in integer micros, zero joins
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(round(col("l_extendedprice") * col("l_discount") * 1000000)
          .cast("long")).as("revenue_micro"),
          count(lit(1)).as("n_lines")),
      """SELECT sum(CAST(round(l_extendedprice * l_discount * 1000000)
        |    AS BIGINT))::BIGINT AS revenue_micro,
        |  count(*)::BIGINT AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin),

    Gate("q_tpch_q10", (s, dir) =>
      // TPC-H Q10 shape (returned-item reporting, top-20 customers):
      // the returnflag + quarter slices push to the fact scan, revenue
      // pre-aggregates per customer before the dimension joins, nation
      // broadcasts — ties broken (rev desc, custkey asc)
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 1000000).cast("long")).as("rev_micro"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_name"),
          col("c_nationkey")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation").select(col("n_nationkey"),
          col("n_name"))), col("c_nationkey") === col("n_nationkey"))
        .orderBy(col("rev_micro").desc, col("c_custkey").asc)
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          col("rev_micro")),
      """WITH rev AS (
        |  SELECT o_custkey,
        |    sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000)
        |      AS BIGINT))::BIGINT AS rev_micro
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1996-10-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'
        |  GROUP BY o_custkey)
        |SELECT c_custkey, c_name, n_name, rev_micro
        |FROM rev JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY rev_micro DESC, c_custkey ASC
        |LIMIT 20""".stripMargin),

    Gate("q_tpch_q14", (s, dir) => {
      // TPC-H Q14 shape (promotion-revenue share): one month of facts
      // joined to part's type column only, both legs of the ratio as
      // conditional integer-micro sums in ONE aggregation — no second
      // scan, no second shuffle
      val m = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .select(col("l_partkey"), (round(col("l_extendedprice") *
          (lit(1.0) - col("l_discount")) * 1000000).cast("long")).as("rm"))
        .join(t(s, dir, "part").select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
      m.agg(
        sum(when(col("p_type").startsWith("PROMO"), col("rm"))
          .otherwise(0L)).as("promo_micro"),
        sum(col("rm")).as("total_micro"))
        .select(col("promo_micro"), col("total_micro"),
          round(lit(100.0) * col("promo_micro").cast("double") /
            col("total_micro").cast("double"), 6).as("promo_share"))
    },
      """WITH m AS (
        |  SELECT p_type,
        |    CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000)
        |      AS BIGINT) AS rm
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        |    AND l_shipdate < TIMESTAMP '1996-10-01')
        |SELECT sum(CASE WHEN p_type LIKE 'PROMO%' THEN rm ELSE 0 END)::BIGINT
        |    AS promo_micro,
        |  sum(rm)::BIGINT AS total_micro,
        |  round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%' THEN rm ELSE 0
        |    END)::DOUBLE / sum(rm)::DOUBLE, 6) AS promo_share
        |FROM m""".stripMargin),

    Gate("q_tpch_q19", (s, dir) =>
      // TPC-H Q19 shape (discounted revenue over a DISJUNCTION of
      // brand/quantity/size conjunct groups): the OR-of-ANDs must not
      // cartesian — it rides the partkey equi-join as a post-join
      // filter with per-branch residuals; one integer-micro sum out.
      // (This schema has no container/shipmode columns; brands and the
      // qty/size ladders carry the disjunctive structure.)
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .join(t(s, dir, "part").select(col("p_partkey"), col("p_brand"),
          col("p_size")), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#13" && col("l_quantity").between(1, 11) &&
            col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#20" && col("l_quantity").between(10, 20) &&
            col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#22" && col("l_quantity").between(20, 30) &&
            col("p_size").between(1, 15)))
        .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 1000000).cast("long")).as("revenue_micro"),
          count(lit(1)).as("n_lines")),
      """SELECT sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000)
        |    AS BIGINT))::BIGINT AS revenue_micro,
        |  count(*)::BIGINT AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#13' AND l_quantity BETWEEN 1 AND 11
        |    AND p_size BETWEEN 1 AND 5)
        |  OR (p_brand = 'Brand#20' AND l_quantity BETWEEN 10 AND 20
        |    AND p_size BETWEEN 1 AND 10)
        |  OR (p_brand = 'Brand#22' AND l_quantity BETWEEN 20 AND 30
        |    AND p_size BETWEEN 1 AND 15)""".stripMargin),

    Gate("q_tpch_q15", (s, dir) => {
      // TPC-H Q15 shape (suppliers at the maximum quarterly revenue):
      // revenue per supplier aggregated FIRST (facts never join wide),
      // the scalar max is a 1-row broadcast cross join, and the equality
      // is exact because revenue stays in integer micros until output
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1000000)
          .cast("long")).as("rev_micro"))
      val top = rev.agg(max(col("rev_micro")).as("max_rev"))
      rev.join(broadcast(top), col("rev_micro") === col("max_rev"))
        .join(broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("rev_micro") / 1000000.0).as("total_revenue"))
    },
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000) AS BIGINT))
        |      AS rev_micro
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, rev_micro / 1000000.0 AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_micro = (SELECT max(rev_micro) FROM rev)""".stripMargin),

    Gate("q_tpch_q16", (s, dir) => {
      // TPC-H Q16 shape (distinct supplier counts per part attribute
      // group, excluding a supplier blacklist): the blacklist is a
      // provably-bounded broadcast ANTI join probe-side of the scan, the
      // part dim broadcasts, and only (attrs, suppkey) pairs shuffle
      // into the distinct count
      val blacklist = t(s, dir, "supplier").filter(col("s_acctbal") < 0.0)
        .select(col("s_suppkey"))
      val pt = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" && !col("p_type").startsWith("PROMO") &&
          col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(blacklist), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY p_brand, p_type, p_size""".stripMargin),

    Gate("q_tpch_q17", (s, dir) => {
      // TPC-H Q17 shape (revenue from small-quantity lines of one brand):
      // the correlated per-part AVG becomes one partial-agg pass over the
      // SAME pruned fact slice, joined back on partkey; the 20%-of-avg
      // comparison is exact integer arithmetic (5·qty·cnt < Σqty in
      // centi-units), so both engines cut identically
      val brand = t(s, dir, "part").filter(col("p_brand") === "Brand#3")
        .select(col("p_partkey"))
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(broadcast(brand), col("l_partkey") === col("p_partkey"))
      val avgq = li.groupBy(col("p_partkey").as("ap_partkey"))
        .agg(sum(round(col("l_quantity") * 100).cast("long")).as("sum_qc"),
          count(lit(1)).as("cnt"))
      // avgq is a per-part frame (unbounded as parts scale) — AQE decides
      li.join(avgq, col("p_partkey") === col("ap_partkey"))
        .filter(round(col("l_quantity") * 100).cast("long") * col("cnt") * 5L < col("sum_qc"))
        .agg(round(sum(round(col("l_extendedprice") * 100).cast("long"))
          .cast("double") / 100.0 / 7.0, 6).as("avg_yearly"))
    },
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#3'),
        |a AS (SELECT l_partkey AS ap_partkey,
        |    sum(CAST(round(l_quantity * 100) AS BIGINT)) AS sum_qc,
        |    count(*) AS cnt
        |  FROM li GROUP BY l_partkey)
        |SELECT round(sum(CAST(round(l_extendedprice * 100) AS BIGINT))::DOUBLE
        |    / 100.0 / 7.0, 6) AS avg_yearly
        |FROM li JOIN a ON l_partkey = ap_partkey
        |WHERE CAST(round(l_quantity * 100) AS BIGINT) * cnt * 5 < sum_qc""".stripMargin),

    Gate("q_tpch_q22", (s, dir) => {
      // TPC-H Q22 shape (well-funded customers with no recent orders, by
      // country code): the positive-balance average is a 1-row broadcast,
      // the above-average test is exact rational arithmetic
      // (bal_cents·cnt > Σcents), and the NOT EXISTS is a LEFT ANTI join
      // that ships only distinct custkeys of the filtered orders side
      val cust = t(s, dir, "customer")
        .withColumn("cntrycode", pmod(col("c_nationkey"), lit(7)))
        .withColumn("bal_cents", round(col("c_acctbal") * 100).cast("long"))
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg(sum(col("bal_cents")).as("sum_cents"), count(lit(1)).as("cnt"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      cust.join(broadcast(avgBal))
        .filter(col("bal_cents") * col("cnt") > col("sum_cents"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          (sum(col("bal_cents")) / 100.0).as("totacctbal"))
    },
      """WITH c AS (SELECT c_custkey, c_nationkey % 7 AS cntrycode,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents, c_acctbal
        |  FROM customer),
        |a AS (SELECT sum(bal_cents) AS sum_cents, count(*) AS cnt
        |  FROM c WHERE c_acctbal > 0.0)
        |SELECT cntrycode, count(*) AS numcust,
        |  sum(bal_cents) / 100.0 AS totacctbal
        |FROM c, a
        |WHERE bal_cents * cnt > sum_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY cntrycode""".stripMargin),

    Gate("q_min_cost_supplier", (s, dir) => {
      // TPC-H Q2 shape (groupwise-min join-back: the cheapest supplier
      // per part in a size/type slice): ONE aggregate finds the per-part
      // minimum (price, suppkey) struct — deterministic tie-break on
      // suppkey — so the facts never self-join; both dims broadcast
      val pt = t(s, dir, "part")
        .filter(col("p_size") <= 10 && col("p_type") === "SMALL")
        .select(col("p_partkey"), col("p_name"))
      val best = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          round(col("l_extendedprice") * 100).cast("long").as("pc"))
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_partkey"), col("p_name"))
        .agg(min(struct(col("pc"), col("l_suppkey"))).as("m"))
        .select(col("p_partkey"), col("p_name"),
          (col("m.pc") / 100.0).as("min_price"), col("m.l_suppkey").as("l_suppkey"))
      best.join(broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_name"), col("s_name"), col("min_price"))
    },
      """WITH li AS (
        |  SELECT p_partkey, p_name, l_suppkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_size <= 10 AND p_type = 'SMALL'),
        |best AS (SELECT p_partkey, p_name, l_suppkey, pc,
        |    row_number() OVER (PARTITION BY p_partkey ORDER BY pc, l_suppkey) AS rn
        |  FROM li)
        |SELECT p_partkey, p_name, s_name, pc / 100.0 AS min_price
        |FROM best JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rn = 1""".stripMargin),

    Gate("q_dup_rate_by_source", (s, dir) =>
      // per-source exact-duplicate rate: distinct text hashes vs docs —
      // which ingestion feeds are flooding the corpus. One partial-
      // aggregable pass over (source, md5) then a count rollup.
      docs(s, dir)
        .select(col("source"), md5(col("text")).as("h"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("h")).as("n_unique"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          round(lit(1.0) - col("n_unique").cast("double") / col("n_docs"), 6)
            .as("dup_rate")),
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_unique,
        |  round(1.0 - count(DISTINCT md5(text))::DOUBLE / count(*), 6) AS dup_rate
        |FROM documents GROUP BY source""".stripMargin),

    Gate("q_tpch_q9", (s, dir) => {
      // TPC-H Q9 shape (product-line profit by supplier nation and order
      // year; p_retailprice·qty stands in for ps_supplycost, which the
      // synthetic schema omits): the part-name slice broadcast prunes
      // lineitem first, profit = rev − cost entirely in integer micros
      // (exact under any partitioning), nation/supplier dims broadcast
      val pt = t(s, dir, "part")
        .filter(col("p_name").contains("red"))
        .select(col("p_partkey"), col("p_retailprice"))
      val suppNation = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val amountMicro =
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 1000000).cast("long") -
          round(col("p_retailprice") * 1000000).cast("long") *
            round(col("l_quantity")).cast("long")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg((sum(amountMicro) / 1000000.0).as("sum_profit"))
    },
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 1000000) AS BIGINT)
        |    - CAST(round(p_retailprice * 1000000) AS BIGINT)
        |      * CAST(round(l_quantity) AS BIGINT))
        |    / 1000000.0 AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2""".stripMargin),

    Gate("q_monthly_trend", (s, dir) => {
      // calendar rollup + year-over-year: monthly revenue (exact cents)
      // anchored by an EXPLICIT same-month-previous-year self-join, not
      // lag(12) — lag is a row offset over months that APPEAR, so one
      // zero-order calendar month would silently shift every later
      // anchor to the wrong month. The join also replaces the
      // single-task unpartitioned window: the bounded #months frame
      // broadcasts.
      val monthly = t(s, dir, "orders")
        .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM")
          .as("month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
      val prev = monthly.select(col("month").as("pm"),
        col("rev_cents").as("prev_year_cents"))
      monthly
        .withColumn("anchor", concat(
          (substring(col("month"), 1, 4).cast("int") - 1).cast("string"),
          substring(col("month"), 5, 3)))
        .join(broadcast(prev), col("anchor") === col("pm"), "left_outer")
        .select(col("month"), col("n_orders"),
          (col("rev_cents") / 100.0).as("revenue"),
          round(col("rev_cents").cast("double") / col("prev_year_cents").cast("double"), 6)
            .as("yoy_ratio"))
    },
      """WITH m AS (SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
        |    count(*) AS n_orders,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
        |  FROM orders GROUP BY 1)
        |SELECT m.month, m.n_orders, m.rev_cents / 100.0 AS revenue,
        |  round(m.rev_cents::DOUBLE / p.rev_cents::DOUBLE, 6) AS yoy_ratio
        |FROM m LEFT JOIN m p
        |  ON p.month = (substr(m.month, 1, 4)::INT - 1)::VARCHAR || substr(m.month, 5, 3)""".stripMargin),

    Gate("q_dominant_supplier", (s, dir) => {
      // groupwise-share join-back (TPC-H Q20-adjacent): suppliers
      // carrying ≥ 20% of a part's shipped quantity among ≥2 suppliers;
      // the share test is exact integer arithmetic (5·q_ps ≥ q_p)
      // r19: partkey-keyed fan-out — the (pk,sk) partial hash-aggregate
      // ran in 3 scan tasks (per-job trace: 0.75 s), and partitioning by
      // l_partkey is a subset of BOTH groupBy keys, so the downstream
      // aggregates reuse the exchange instead of adding their own.
      val ps = Scale.fanOutSmallScan(t(s, dir, "lineitem"), col("l_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(round(col("l_quantity") * 100).cast("long")).as("q_ps"))
      val p = ps.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("q_ps")).as("q_p"), count(lit(1)).as("n_supp"))
      ps.join(p, col("l_partkey") === col("pk"))
        .filter(col("q_ps") * 5 >= col("q_p") && col("n_supp") >= 2)
        .select(col("l_partkey"), col("l_suppkey"), col("q_ps"), col("q_p"),
          round(col("q_ps").cast("double") / col("q_p").cast("double"), 6).as("share"))
    },
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |    sum(CAST(round(l_quantity * 100) AS BIGINT)) AS q_ps
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |p AS (SELECT l_partkey AS pk, sum(q_ps) AS q_p, count(*) AS n_supp
        |  FROM ps GROUP BY l_partkey)
        |SELECT l_partkey, l_suppkey, q_ps::BIGINT AS q_ps, q_p::BIGINT AS q_p,
        |  round(q_ps::DOUBLE / q_p::DOUBLE, 6) AS share
        |FROM ps JOIN p ON l_partkey = pk
        |WHERE q_ps * 5 >= q_p AND n_supp >= 2""".stripMargin),

    Gate("q_tpch_q11", (s, dir) => {
      // TPC-H Q11 shape (important stock): per-part value for one
      // nation-group's suppliers, HAVING value above a fraction of the
      // GLOBAL total — the group-by-vs-global-aggregate-subquery join
      // planner stress. Value is the exact integer product
      // cents × centi-qty (summed in decimal(38,0): a Long sum wraps at
      // corpus scale, DuckDB promotes to HUGEINT); the threshold test
      // val·2000 > total is pure integer arithmetic. The supplier→nation
      // dim chain broadcasts into the fact scan; the 1-row total
      // broadcasts into the HAVING filter.
      val supp = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").filter(col("n_regionkey") === 1)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val v = t(s, dir, "lineitem")
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_partkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            round(col("l_quantity") * 100).cast("long"))
            .cast("decimal(38,0)").as("v_c4"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("v_c4")).as("val"))
      val total = v.agg(sum(col("val")).as("tot"))
      v.crossJoin(broadcast(total))
        .filter(col("val") * 2000 > col("tot"))
        .select(col("l_partkey"),
          round(col("val").cast("double") / 10000.0, 2).as("value"))
    },
      """WITH v AS (SELECT l_partkey,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * CAST(round(l_quantity * 100) AS BIGINT)) AS val
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_regionkey = 1
        |  GROUP BY l_partkey),
        |t AS (SELECT sum(val) AS tot FROM v)
        |SELECT l_partkey, round(val::DOUBLE / 10000.0, 2) AS value
        |FROM v, t WHERE val * 2000 > tot""".stripMargin),

    Gate("q_tpch_q20", (s, dir) => {
      // TPC-H Q20 shape (potential part promotion): a NESTED SEMI-JOIN
      // chain — suppliers who DOMINATED (>50% of shipped qty) some
      // 'small%' part in ship-year 1996, restricted to one region's
      // nations. Both IN-subqueries become left_semi joins; the part
      // filter and nation set are bounded broadcasts; only
      // (partkey, suppkey, qty) aggregates shuffle.
      val qps = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(round(col("l_quantity") * 100).cast("long")).as("q_ps"))
      val qp = qps.groupBy(col("l_partkey").as("pk")).agg(sum(col("q_ps")).as("q_p"))
      val smallParts = t(s, dir, "part")
        .filter(col("p_name").startsWith("small")).select(col("p_partkey"))
      val dominantSupp = qps
        .join(qp, col("l_partkey") === col("pk"))
        .filter(col("q_ps") * 2 > col("q_p"))
        .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_suppkey"))
      val regionNations = t(s, dir, "nation").filter(col("n_regionkey") === 2)
        .select(col("n_nationkey"))
      t(s, dir, "supplier")
        .join(dominantSupp, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(regionNations),
          col("s_nationkey") === col("n_nationkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
    },
      """WITH qps AS (SELECT l_partkey, l_suppkey,
        |    sum(CAST(round(l_quantity * 100) AS BIGINT)) AS q_ps
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY l_partkey, l_suppkey),
        |qp AS (SELECT l_partkey AS pk, sum(q_ps) AS q_p FROM qps GROUP BY l_partkey)
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |    SELECT l_suppkey FROM qps JOIN qp ON l_partkey = pk
        |    WHERE q_ps * 2 > q_p
        |      AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'))
        |  AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)""".stripMargin),

    Gate("q_tpch_q21", (s, dir) => {
      // TPC-H Q21 shape (suppliers who kept orders waiting): the
      // exists + not-exists multi-way SELF-join on the fact table. This
      // testdata has no commit/receipt dates, so "late" adapts to
      // l_shipdate > o_orderdate + 1700 days (≈ the p95 ship delay —
      // late is the exception, as in the original). A line counts iff
      // ANOTHER supplier has a line in the same order (left_semi) and NO
      // other supplier is late in it (left_anti) — both joins equi on
      // orderkey with the supplier inequality as a residual condition.
      val ord = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val late = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 1700 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey"))
      val others = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o2_key"), col("l_suppkey").as("o2_supp"))
      val lateOthers = late
        .select(col("l_orderkey").as("o3_key"), col("l_suppkey").as("o3_supp"))
      late
        .join(others,
          col("l_orderkey") === col("o2_key") && col("l_suppkey") =!= col("o2_supp"),
          "left_semi")
        .join(lateOthers,
          col("l_orderkey") === col("o3_key") && col("l_suppkey") =!= col("o3_supp"),
          "left_anti")
        .join(broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("numwait"))
    },
      """WITH late AS (SELECT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 1700 DAY)
        |SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_suppkey, s_name""".stripMargin),

    Gate("q_assign_ids", (s, dir) =>
      // dense surrogate keys in c_name order WITHOUT the single-task
      // global row_number: one range exchange + per-partition stamps +
      // a broadcast offset frame
      Scale.assignIds(
        t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
        Seq("c_name")),
      """SELECT c_custkey, c_name,
        |  row_number() OVER (ORDER BY c_name) AS uid
        |FROM customer""".stripMargin))

  /** Count and integer-cents price sum per (return flag, line status)
    * grouping set, a rolled-up key shown as ALL. */
  private def subtotals(sets: RelationalGroupedDataset): DataFrame =
    sets
      .agg(
        count(lit(1)).as("n"),
        (sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0).as("sum_price"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("n"), col("sum_price"))

  /** DuckDB twin of [[subtotals]] over `GROUP BY <kind> (...)`. */
  private def subtotalsSql(kind: String) =
    s"""SELECT coalesce(l_returnflag, 'ALL') AS rflag,
       |  coalesce(l_linestatus, 'ALL') AS lstatus,
       |  count(*) AS n,
       |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_price
       |FROM lineitem GROUP BY $kind (l_returnflag, l_linestatus)""".stripMargin
}
