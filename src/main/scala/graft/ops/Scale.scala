package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Skew-handling utilities for 100 TB-scale aggregation and joins.
 *
 * A single hot key (the empty document, the default user, the null-ish
 * category) can pin an entire 1000-executor stage on one reducer. The
 * standard fixes, expressed Spark-natively:
 *
 *  - salted two-stage aggregation: split each key into up to `salts`
 *    partial groups, aggregate, then merge the partials — the hot key's
 *    work fans out over `salts` reducers.
 *  - salted shuffle join: spread the skewed fact side, replicate the
 *    dim side per salt.
 *
 * The salt is `spark_partition_id() mod salts`: deterministic within a
 * run, free to compute, and it spreads a CONSTANT hot key (a value-hash
 * salt would map every copy of the hot key to one salt — no fan-out).
 * Map-side combine is unaffected: the salt is constant per partition.
 *
 * AQE's skew-join splitting (on in [[graft.GraftSession]]) handles
 * sort-merge join skew at runtime; these helpers cover aggregation
 * fan-out and pre-planned join salting.
 */
object Scale {

  /**
   * Scale-adaptive scan fan-out (r18, guide §2.5 "one huge unsplittable
   * file → repartition immediately after the read"): parquet scans
   * parallelize at ROW-GROUP granularity, so a small input (one row
   * group) plans as ONE task — and every CPU-heavy per-row kernel above
   * it (regex extraction chains, per-gram hashing, BPE encoding) runs
   * serially while the rest of the cluster idles. When the scan's
   * planned partition count is well below the session's parallelism,
   * fan the rows out with one deterministic hash exchange on `key` (the
   * bytes moved are the RAW rows — tiny exactly when this fires); when
   * the scan already has enough splits (any real-scale input), this is
   * the identity — no exchange is added at 100 TB.
   *
   * Several `keys` serve a downstream groupBy/join that clusters on the
   * same tuple: EnsureRequirements then sees the individual columns (a
   * single `struct(...)` key would NOT satisfy the clustering and a
   * second exchange would be planned).
   */
  def fanOutSmallScan(df: DataFrame, keys: Column*): DataFrame =
    fanOutSmallScanFlag(df, keys: _*)._1

  /** [[fanOutSmallScan]] that also RETURNS whether it fired — for
    * operators whose expensive stage is a per-block QUADRATIC join
    * ABOVE a later exchange: AQE sizes that exchange's reads by its
    * input bytes (tiny exactly when the scan was tiny) and cannot see
    * the explosion above it, so the caller pins the block exchange to
    * session parallelism ONLY when the input scan was small. Real-scale
    * inputs keep the unpinned, advisory-sized exchange. */
  def fanOutSmallScanFlag(df: DataFrame, keys: Column*): (DataFrame, Boolean) = {
    // batch-only: .rdd is a batch planner call
    if (df.isStreaming) return (df, false)
    // r19 (ADVICE r18): probe ONLY scan-shaped inputs. df.rdd compiles a
    // physical plan, and under AQE that EXECUTES every exchange/broadcast
    // stage beneath the probed frame at DataFrame-construction time —
    // work that is then thrown away (stage reuse does not span
    // QueryExecutions). For a bare scan (projections/filters over a
    // relation) the probe is pure planning: no exchange exists, nothing
    // runs. Mid-chain frames (joins, aggregates, repartitions below) pass
    // through untouched — they are already downstream of a real exchange,
    // so the one-row-group serial-kernel problem this helper fixes cannot
    // occur there anyway.
    if (!scanShaped(df.queryExecution.analyzed)) return (df, false)
    val planned = df.rdd.getNumPartitions
    val target = df.sparkSession.sparkContext.defaultParallelism
    // EXPLICIT partition count: AQE coalescing sizes shuffle reads by
    // BYTES, and the whole point here is that the bytes are tiny while
    // the per-row work above the read is not (regex chains, per-gram
    // hashing) — a keyed repartition without a count was measured to
    // coalesce straight back to 1-2 read partitions. A user-specified
    // count is exempt from coalescing; it only ever applies when the
    // input is small (the guard), so it never constrains a real scan.
    if (planned * 2 <= target) (df.repartition(target, keys: _*), true) else (df, false)
  }

  /** True iff the plan is projections/filters/aliases over leaf
    * relations — the only shape whose `.rdd` probe is free (planning a
    * bare scan runs no job) AND the only shape where a one-row-group
    * scan serializes the kernels above it. */
  private def scanShaped(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    p match {
      case _: org.apache.spark.sql.catalyst.plans.logical.Project |
           _: org.apache.spark.sql.catalyst.plans.logical.Filter |
           _: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        p.children.forall(scanShaped)
      case leaf if leaf.children.isEmpty => true
      case _ => false
    }

  private def salt(salts: Int): Column = pmod(spark_partition_id(), lit(salts))

  /**
   * Skew-proof sum/count aggregation: stage 1 groups by (keys, salt) —
   * map-side combine still applies — stage 2 merges per key. The hot
   * key's rows spread over up to `salts` reducers in stage 1; stage 2
   * merges at most `salts` partial rows per key.
   */
  def saltedSumCount(
      df: DataFrame, keys: Seq[String], valueCol: String, salts: Int): DataFrame = {
    val partial = df
      .withColumn("__salt", salt(salts))
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
    partial
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__psum")).as(s"sum_$valueCol"), sum(col("__pcnt")).as("n"))
  }

  /**
   * Shuffle-join a skewed fact table against a dim too large to
   * broadcast: the fact side salts per-partition, the dim side is
   * replicated once per salt; the equi-join key becomes (key, salt), so
   * the hot key's rows land on `salts` different reducers.
   */
  def saltedShuffleJoin(
      fact: DataFrame, dim: DataFrame, key: String, salts: Int): DataFrame = {
    val saltedFact = fact.withColumn("__salt", salt(salts))
    val repl = dim.withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(repl, Seq(key, "__salt")).drop("__salt")
  }

  /**
   * Bloom key-prune — the runtime-filter pattern made explicit: `keys`'
   * values reduce to one [[graft.functions.BloomBitsAgg]] bitset
   * (map-side OR-merge, a few KB) evaluated as an UNCORRELATED SCALAR
   * SUBQUERY inside a plain Filter over `large`. A Filter (unlike a
   * broadcast-join form of the same thing) is not a join node, so no
   * join-reorder rule can hoist the exact join beneath it — the probe
   * provably runs in the scan stage, before any exchange. Bloom false
   * positives pass the filter (rate (fill)^k) and must be removed by
   * the exact join that follows; at 100 TB the win is the fact side
   * shipping ~selectivity× less volume into the join shuffle — the same
   * effect as Spark's `runtimeFilter.bloomFilter`, but deterministic,
   * engine-replayable, and available when the optimizer declines it.
   */
  def bloomPrune(
      large: DataFrame, largeKey: String, keys: DataFrame, keyCol: String,
      mBits: Int = 1 << 20, numHashes: Int = 3): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    import ColumnBridge.{column, expression}
    val bloomPlan = ColumnBridge.analyzed(keys.agg(
      column(graft.functions.BloomBitsAgg(
        expression(col(keyCol).cast("string")), mBits, numHashes)
        .toAggregateExpression()).as("__bloom")))
    val sub = org.apache.spark.sql.catalyst.expressions.ScalarSubquery(bloomPlan)
    large.filter(
      column(graft.functions.BloomHitCount(
        sub, expression(array(col(largeKey).cast("string"))),
        mBits, numHashes)) === 1L)
  }

  /**
   * Bloom-pre-filtered semi join: [[bloomPrune]] the large side with the
   * small side's keys, then the exact semi join removes the bloom's
   * false positives — the RESULT is identical to a plain semi join
   * (oracle: plain EXISTS), only the join input shrinks.
   */
  def bloomFilteredSemiJoin(
      large: DataFrame, small: DataFrame, largeKey: String, smallKey: String,
      mBits: Int = 1 << 20, numHashes: Int = 3): DataFrame = {
    val pruned = bloomPrune(large, largeKey, small, smallKey, mBits, numHashes)
    pruned.join(small.select(col(smallKey)).distinct(),
      pruned(largeKey) === col(smallKey), "left_semi")
  }

  /**
   * Key-skew diagnostic — the measurement that DECIDES whether the
   * salting machinery above is needed: per-key counts, each key's share
   * of the total, and the running (cumulative) share in descending
   * count order, cut to the top `topN`. A top key holding >1/partitions
   * of the rows pins a reducer; cum_share over few keys ≈ 1 means
   * salting (or AQE skew split) is mandatory. One count aggregation +
   * a topN-bounded window over the tiny key-count table.
   */
  def keySkewProfile(df: DataFrame, keyCol: String, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    // the topN cut happens DISTRIBUTED (TakeOrderedAndProject) before
    // the single-partition window ever sees a row — the window ranks
    // only the <= topN survivors, never the full key-count table
    val top = counts.orderBy(col("cnt").desc, col("key").asc).limit(topN)
    val w = Window.orderBy(col("cnt").desc, col("key").asc)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_cnt", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("rank"), col("key"), col("cnt"),
        round(col("cnt") / col("total"), 6).as("share"),
        round(col("cum_cnt") / col("total"), 6).as("cum_share"))
  }

  /**
   * Morton (z-order) interleave of two 16-bit cell coordinates — the
   * multi-dimensional data-layout key: writing a 100 TB table sorted by
   * `zorderKey16(dimA, dimB)` co-locates rows close in BOTH dimensions
   * into the same files, so two-sided range predicates (user ∧ time,
   * lat ∧ lon) prune file-level min/max statistics in either dimension
   * — the technique behind Delta/Iceberg Z-ORDER clustering. Pure
   * integer shift/mask arithmetic (codegen'd, exact, engine-replayable);
   * inputs are masked to 16 bits.
   */
  def zorderKey16(a: Column, b: Column): Column = {
    // spread 16 bits over 32 (magic-number bit spreading), then interleave
    def spread(x0: Column): Column = {
      val x1 = x0.bitwiseAND(lit(0xFFFFL))
      val x2 = x1.bitwiseOR(shiftleft(x1, 8)).bitwiseAND(lit(0x00FF00FFL))
      val x3 = x2.bitwiseOR(shiftleft(x2, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val x4 = x3.bitwiseOR(shiftleft(x3, 2)).bitwiseAND(lit(0x33333333L))
      x4.bitwiseOR(shiftleft(x4, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread(a.cast("long")).bitwiseOR(shiftleft(spread(b.cast("long")), 1))
  }

  /**
   * DENSE CONTIGUOUS ID ASSIGNMENT in a total order, WITHOUT the
   * single-task global sort: `row_number() OVER (ORDER BY key)` — the
   * textbook way to mint vocabulary ids, surrogate keys, or position
   * indexes — funnels the entire table through ONE window partition at
   * any scale. This operator produces the identical 1-based ids from
   * one range exchange: range-repartition on `orderCols` (ascending
   * range per ascending partition id), sort within each partition,
   * stamp the per-partition row index locally, then shift every
   * partition by the running total of the (tiny, partition-count-row)
   * count frame. The assignment is independent of WHERE the range
   * boundaries fall — only the total order determines an id — so the
   * result is deterministic even though the range sampler isn't part
   * of the contract.
   *
   * CONTRACT: `orderCols` must be a TOTAL order (include a unique
   * tie-breaker column). Rows that tie on every order column would
   * otherwise receive an arbitrary permutation of their id range
   * (shuffle fetch order is nondeterministic under retry).
   *
   * Mechanics: ONE pinned-count range exchange + within-partition
   * sort, then `RDD.zipWithIndex` over the sorted partitions — the
   * genuine per-partition-imperative shape (a local counter per
   * partition + one offsets pass), which is exactly what zipWithIndex
   * is: a partition-count job whose numPartitions-entry offsets array
   * rides into a second pass that stamps each row with
   * offset(partition) + localIndex. Both passes hang off the SAME RDD,
   * so the range exchange's map outputs are computed once and the
   * boundary sample cannot diverge between them.
   *
   * Deliberately NOT `monotonically_increasing_id()` /
   * `spark_partition_id()`: those read the runtime TASK id, and any
   * downstream stage-collapsing transform (a `coalesce(1)` before a
   * single-file write is the classic) silently re-binds every row to
   * the merged task's id — permuted ids, no error. zipWithIndex's
   * indices bind to the RDD's own partition structure, immune to how
   * later stages are scheduled. The pinned partition count keeps AQE
   * from re-coalescing the exchange between the two passes.
   */
  def assignIds(df: DataFrame, orderCols: Seq[String],
      idName: String = "uid"): DataFrame = {
    require(orderCols.nonEmpty, "need at least one order column")
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val asc = orderCols.map(col(_).asc)
    val numParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = df
      .repartitionByRange(numParts, asc: _*)
      .sortWithinPartitions(asc: _*)
    val schema = StructType(
      sorted.schema.fields :+ StructField(idName, LongType, nullable = false))
    val stamped = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    sorted.sparkSession.createDataFrame(stamped, schema)
  }
}
