package graft.gates

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** The reference-aggregate gates: mode, max_by/min_by, skewness and
  * kurtosis through [[graft.functions.GraftFunctions]], over every input
  * type and edge (empty input, NULLs, ties) the reference defines. */
private[graft] object ReferenceGates {
  import Shared._

  def gates: Seq[Gate] = Seq(
    Gate("q_mode_string", (s, dir) =>
      t(s, dir, "lineitem").agg(
        GraftFunctions.mode_agg(col("l_returnflag")).as("mode_returnflag")),
      """SELECT l_returnflag AS mode_returnflag FROM lineitem
        |GROUP BY l_returnflag ORDER BY count(*) DESC, l_returnflag ASC LIMIT 1""".stripMargin),

    Gate("q_mode_int", (s, dir) =>
      t(s, dir, "lineitem").agg(
        GraftFunctions.mode_agg(col("l_linenumber")).as("mode_linenumber")),
      """SELECT l_linenumber AS mode_linenumber FROM lineitem
        |GROUP BY l_linenumber ORDER BY count(*) DESC, l_linenumber DESC LIMIT 1""".stripMargin),

    Gate("q_mode_grouped", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(GraftFunctions.mode_agg(col("l_linenumber")).as("mode_linenumber")),
      """SELECT l_returnflag, l_linenumber AS mode_linenumber FROM (
        |  SELECT l_returnflag, l_linenumber,
        |         row_number() OVER (PARTITION BY l_returnflag ORDER BY count(*) DESC, l_linenumber DESC) AS rn
        |  FROM lineitem GROUP BY l_returnflag, l_linenumber)
        |WHERE rn = 1""".stripMargin),

    Gate("q_mode_date", (s, dir) =>
      // date-typed mode (reference supports date/time/timestamp inputs);
      // output as ISO string: date/timestamp encodings are not
      // hash-comparable across engines, strings are
      t(s, dir, "lineitem").agg(
        date_format(GraftFunctions.mode_agg(to_date(col("l_shipdate"))), "yyyy-MM-dd")
          .as("mode_shipdate")),
      """SELECT strftime(d, '%Y-%m-%d') AS mode_shipdate FROM (
        |  SELECT CAST(l_shipdate AS DATE) AS d FROM lineitem)
        |GROUP BY d ORDER BY count(*) DESC, d DESC LIMIT 1""".stripMargin),

    Gate("q_mode_scalable", (s, dir) =>
      // two-shuffle compositional mode — the unbounded-cardinality path
      // (l_partkey has ~20k distinct values per group at sf0.1)
      GraftFunctions.modeBy(t(s, dir, "lineitem"), Seq("l_returnflag"), "l_partkey"),
      """SELECT l_returnflag, l_partkey AS mode_l_partkey FROM (
        |  SELECT l_returnflag, l_partkey,
        |         row_number() OVER (PARTITION BY l_returnflag ORDER BY count(*) DESC, l_partkey DESC) AS rn
        |  FROM lineitem GROUP BY l_returnflag, l_partkey)
        |WHERE rn = 1""".stripMargin),

    Gate("q_mode_float", (s, dir) =>
      // Float64 mode (reference src/mode.rs:171-177; tests/main.rs:40):
      // l_quantity duplicates heavily; tie-break = greatest value
      t(s, dir, "lineitem").agg(
        round(GraftFunctions.mode_agg(col("l_quantity")), 6).as("mode_quantity")),
      """SELECT round(l_quantity, 6) AS mode_quantity FROM lineitem
        |GROUP BY l_quantity ORDER BY count(*) DESC, l_quantity DESC LIMIT 1""".stripMargin),

    Gate("q_mode_ts", (s, dir) =>
      // Timestamp mode (reference src/mode.rs:178-199; tests/main.rs:97):
      // hour-truncated event times give real repeats; output as epoch µs —
      // timestamp encodings are not hash-comparable across engines
      t(s, dir, "events")
        .select(date_trunc("hour", timestamp_micros(expr("ts div 1000L"))).as("h"))
        .agg(unix_micros(GraftFunctions.mode_agg(col("h"))).as("mode_hour_us")),
      """SELECT epoch_us(h) AS mode_hour_us FROM (
        |  SELECT date_trunc('hour', ts) AS h FROM events)
        |GROUP BY h ORDER BY count(*) DESC, h DESC LIMIT 1""".stripMargin),

    Gate("q_mode_byte", (s, dir) =>
      // Int8 mode (reference src/mode.rs:102-117 dispatches Int8/Int16;
      // Spark's Byte/Short are the expressible subset — unsigned widths
      // have no Spark analogue, see SURVEY §2)
      t(s, dir, "lineitem")
        .select((col("l_partkey") % 100).cast("byte").as("b"))
        .agg(GraftFunctions.mode_agg(col("b")).as("mode_byte")),
      """SELECT CAST(l_partkey % 100 AS TINYINT) AS mode_byte FROM lineitem
        |GROUP BY 1 ORDER BY count(*) DESC, mode_byte DESC LIMIT 1""".stripMargin),

    Gate("q_mode_short", (s, dir) =>
      // Int16 mode over a SMALLINT-ranged projection
      t(s, dir, "lineitem")
        .select((col("l_partkey") % 1000).cast("short").as("h"))
        .agg(GraftFunctions.mode_agg(col("h")).as("mode_short")),
      """SELECT CAST(l_partkey % 1000 AS SMALLINT) AS mode_short FROM lineitem
        |GROUP BY 1 ORDER BY count(*) DESC, mode_short DESC LIMIT 1""".stripMargin),

    Gate("q_mode_float32", (s, dir) =>
      // Float32 mode (reference src/mode.rs:171-177 Float32 arm): cast
      // narrows double→float IEEE-identically in both engines; ties →
      // greatest value as for Float64
      t(s, dir, "lineitem")
        .select(col("l_quantity").cast("float").as("q32"))
        .agg(GraftFunctions.mode_agg(col("q32")).as("mode_qty_f32")),
      """SELECT CAST(l_quantity AS FLOAT4) AS mode_qty_f32 FROM lineitem
        |GROUP BY 1 ORDER BY count(*) DESC, mode_qty_f32 DESC LIMIT 1""".stripMargin),

    Gate("q_mode_empty", (s, dir) =>
      // reference empty-input edge: a global mode over zero rows is one
      // row of NULL (like the max_by/min_by twin), not zero rows
      t(s, dir, "orders").filter(lit(false))
        .agg(GraftFunctions.mode_agg(col("o_orderkey")).as("mode_orderkey"),
          count(lit(1)).as("n")),
      """SELECT (SELECT o_orderkey FROM orders WHERE false
        |   GROUP BY o_orderkey ORDER BY count(*) DESC, o_orderkey DESC LIMIT 1) AS mode_orderkey,
        |  count(*) AS n
        |FROM orders WHERE false""".stripMargin),

    Gate("q_mode_nulls", (s, dir) => {
      // reference null edge (mode ignores NULL inputs; an all-NULL group
      // yields NULL): one priority's values are nulled out entirely
      val y = when(col("o_orderpriority") === "1-URGENT", lit(null).cast("long"))
        .otherwise(col("o_orderkey"))
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(GraftFunctions.mode_agg(y).as("mode_y"))
    },
      """WITH y_t AS (SELECT o_orderpriority,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN NULL ELSE o_orderkey END AS y
        |  FROM orders),
        |m AS (SELECT o_orderpriority, y FROM (
        |  SELECT o_orderpriority, y,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY count(*) DESC, y DESC) AS rn
        |  FROM y_t WHERE y IS NOT NULL GROUP BY o_orderpriority, y) WHERE rn = 1),
        |g AS (SELECT DISTINCT o_orderpriority FROM y_t)
        |SELECT g.o_orderpriority, m.y AS mode_y
        |FROM g LEFT JOIN m USING (o_orderpriority)""".stripMargin),

    Gate("q_max_by", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(GraftFunctions.max_by_det(col("o_orderkey"), col("o_totalprice")).as("best_orderkey")),
      """SELECT o_orderpriority, o_orderkey AS best_orderkey FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn = 1""".stripMargin),

    Gate("q_maxmin_by_nulls", (s, dir) => {
      // engine-convention null edge (Spark/DuckDB max_by both ignore
      // null ordering keys): an all-NULL group → NULL, partially-null
      // groups ignore the null rows. The REFERENCE's own snapshot
      // behavior (null keys WIN, tests/main.rs:177-204) is replayed by
      // q_maxmin_by_ref below.
      val y = when(col("o_orderpriority") === "1-URGENT", lit(null).cast("double"))
        .otherwise(col("o_totalprice"))
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          GraftFunctions.max_by_det(col("o_orderkey"), y).as("best_orderkey"),
          GraftFunctions.min_by_det(col("o_orderkey"), y).as("worst_orderkey"))
    },
      """WITH y AS (SELECT o_orderpriority, o_orderkey,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN NULL ELSE o_totalprice END AS yv
        |  FROM orders),
        |nn AS (SELECT o_orderpriority, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY yv DESC, o_orderkey DESC) AS rmax,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY yv ASC, o_orderkey ASC) AS rmin
        |  FROM y WHERE yv IS NOT NULL),
        |g AS (SELECT DISTINCT o_orderpriority FROM orders)
        |SELECT g.o_orderpriority,
        |  mx.o_orderkey AS best_orderkey, mn.o_orderkey AS worst_orderkey
        |FROM g
        |LEFT JOIN (SELECT o_orderpriority, o_orderkey FROM nn WHERE rmax = 1) mx USING (o_orderpriority)
        |LEFT JOIN (SELECT o_orderpriority, o_orderkey FROM nn WHERE rmin = 1) mn USING (o_orderpriority)""".stripMargin),

    Gate("q_maxmin_by_empty", (s, dir) =>
      // reference empty-input edge: a global aggregate over zero rows is
      // one row of NULLs (count 0), not zero rows
      t(s, dir, "orders")
        .filter(lit(false))
        .agg(
          GraftFunctions.max_by_det(col("o_orderkey"), col("o_totalprice")).as("best_orderkey"),
          GraftFunctions.min_by_det(col("o_orderkey"), col("o_totalprice")).as("worst_orderkey"),
          count(lit(1)).as("n")),
      """SELECT arg_max(o_orderkey, o_totalprice) AS best_orderkey,
        |  arg_min(o_orderkey, o_totalprice) AS worst_orderkey,
        |  count(*) AS n
        |FROM orders WHERE 1 = 0""".stripMargin),

    Gate("q_maxmin_by_ref", (s, dir) => {
      // EXACT reference-snapshot null semantics (last_value ORDER BY y
      // NULLS LAST, max_min_by.rs:99,196; tests/main.rs:177-204): a row
      // whose ordering key is NULL beats every real value in BOTH
      // max_by and min_by. Nulls sprinkled by orderkey mod 7 so every
      // group exercises the null-wins path.
      val y = when(col("o_orderkey") % 7 === 0, lit(null).cast("double"))
        .otherwise(col("o_totalprice"))
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          GraftFunctions.max_by_ref(col("o_orderkey"), y).as("mx_ref"),
          GraftFunctions.min_by_ref(col("o_orderkey"), y).as("mn_ref"))
    },
      """WITH y AS (SELECT o_orderpriority, o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS yv
        |  FROM orders),
        |nn AS (SELECT o_orderpriority, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY yv DESC, o_orderkey DESC) AS rmax,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY yv ASC, o_orderkey ASC) AS rmin
        |  FROM y WHERE yv IS NOT NULL),
        |nl AS (SELECT o_orderpriority, max(o_orderkey) AS nx, min(o_orderkey) AS nn_x
        |  FROM y WHERE yv IS NULL GROUP BY o_orderpriority),
        |g AS (SELECT DISTINCT o_orderpriority FROM orders)
        |SELECT g.o_orderpriority,
        |  COALESCE(nl.nx, mx.o_orderkey) AS mx_ref,
        |  COALESCE(nl.nn_x, mn.o_orderkey) AS mn_ref
        |FROM g
        |LEFT JOIN nl USING (o_orderpriority)
        |LEFT JOIN (SELECT o_orderpriority, o_orderkey FROM nn WHERE rmax = 1) mx USING (o_orderpriority)
        |LEFT JOIN (SELECT o_orderpriority, o_orderkey FROM nn WHERE rmin = 1) mn USING (o_orderpriority)""".stripMargin),

    Gate("q_min_by", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(GraftFunctions.min_by_det(col("o_orderkey"), col("o_totalprice")).as("best_orderkey")),
      """SELECT o_orderpriority, o_orderkey AS best_orderkey FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn = 1""".stripMargin),

    Gate("q_skewness", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(GraftFunctions.skewness_samp(col("l_extendedprice")), 6).as("skew")),
      "SELECT l_returnflag, round(skewness(l_extendedprice), 6) AS skew FROM lineitem GROUP BY l_returnflag"),

    Gate("q_kurtosis", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(GraftFunctions.kurtosis_samp(col("l_quantity")), 6).as("kurt")),
      "SELECT l_returnflag, round(kurtosis(l_quantity), 6) AS kurt FROM lineitem GROUP BY l_returnflag"),

    Gate("q_kurtosis_pop", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(GraftFunctions.kurtosis_pop(col("l_quantity")), 6).as("kurt_pop")),
      "SELECT l_returnflag, round(kurtosis_pop(l_quantity), 6) AS kurt_pop FROM lineitem GROUP BY l_returnflag"),

    Gate("q_stats_edges", (s, dir) => {
      // reference edge semantics for the moment aggregates, checked over
      // thousands of REAL tiny groups at once: nulls are skipped
      // (l_linenumber=1 masked to null), skewness needs >= 3 non-null
      // values, sample kurtosis >= 4, population kurtosis >= 2 — the
      // per-group null-ness is classified by non-null count and counted,
      // which is exact (no float comparisons cross the oracle)
      val v = when(col("l_linenumber") === 1, lit(null).cast("double"))
        .otherwise(col("l_extendedprice"))
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(
          count(v).as("nv"),
          GraftFunctions.skewness_samp(v).as("sk"),
          GraftFunctions.kurtosis_samp(v).as("ku"),
          GraftFunctions.kurtosis_pop(v).as("kp"))
        .groupBy(col("nv"))
        .agg(
          count(lit(1)).as("n_groups"),
          count(col("sk")).as("sk_groups"),
          count(col("ku")).as("ku_groups"),
          count(col("kp")).as("kp_groups"))
    },
      """WITH per AS (SELECT l_orderkey,
        |    count(CASE WHEN l_linenumber = 1 THEN NULL ELSE l_extendedprice END) AS nv,
        |    skewness(CASE WHEN l_linenumber = 1 THEN NULL ELSE l_extendedprice END) AS sk,
        |    kurtosis(CASE WHEN l_linenumber = 1 THEN NULL ELSE l_extendedprice END) AS ku,
        |    kurtosis_pop(CASE WHEN l_linenumber = 1 THEN NULL ELSE l_extendedprice END) AS kp
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT nv, count(*) AS n_groups, count(sk) AS sk_groups,
        |  count(ku) AS ku_groups, count(kp) AS kp_groups
        |FROM per GROUP BY nv""".stripMargin),

    Gate("q_user_stats", (s, dir) =>
      // the reference aggregates composed in a real pipeline query
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n"),
          GraftFunctions.mode_agg(col("event_type")).as("mode_type"),
          round(GraftFunctions.skewness_samp(col("value")), 6).as("skew_value"),
          round(GraftFunctions.kurtosis_samp(col("value")), 6).as("kurt_value"),
          GraftFunctions.max_by_det(col("event_type"), col("value")).as("top_type")),
      """WITH m AS (SELECT user_id, event_type, count(*) AS c FROM events GROUP BY user_id, event_type),
        |md_t AS (SELECT user_id, event_type AS mode_type FROM (
        |  SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id ORDER BY c DESC, event_type ASC) AS rn FROM m)
        |  WHERE rn = 1),
        |tp_t AS (SELECT user_id, event_type AS top_type FROM (
        |  SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_type DESC) AS rn FROM events)
        |  WHERE rn = 1),
        |st_t AS (SELECT user_id, count(*) AS n, round(skewness(value), 6) AS skew_value,
        |  round(kurtosis(value), 6) AS kurt_value FROM events GROUP BY user_id)
        |SELECT st_t.user_id, st_t.n, md_t.mode_type, st_t.skew_value, st_t.kurt_value, tp_t.top_type
        |FROM st_t JOIN md_t USING (user_id) JOIN tp_t USING (user_id)""".stripMargin),

    Gate("q_agg_filter_clause", (s, dir) => {
      // SQL FILTER-clause composition over the custom aggregates — the
      // reference forwards filter/distinct params through its rewrite
      // (src/max_min_by.rs:104), so the Spark forms must compose too
      GraftFunctions.registerAll(s)
      t(s, dir, "lineitem").createOrReplaceTempView("li_f8")
      s.sql("""SELECT
              |  graft_mode(l_linenumber) FILTER (WHERE l_returnflag = 'R')
              |    AS mode_r,
              |  round(graft_skewness(l_extendedprice)
              |    FILTER (WHERE l_linestatus = 'O'), 6) AS skew_o,
              |  max_by(l_orderkey, struct(l_extendedprice, l_orderkey))
              |    FILTER (WHERE l_quantity >= 25.0) AS best_hiqty
              |FROM li_f8""".stripMargin)
    },
      """SELECT
        |  (SELECT l_linenumber FROM lineitem WHERE l_returnflag = 'R'
        |    GROUP BY 1 ORDER BY count(*) DESC, l_linenumber DESC LIMIT 1) AS mode_r,
        |  round(skewness(l_extendedprice)
        |    FILTER (WHERE l_linestatus = 'O'), 6) AS skew_o,
        |  (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 25.0
        |    ORDER BY l_extendedprice DESC, l_orderkey DESC LIMIT 1) AS best_hiqty
        |FROM lineitem""".stripMargin))
}
