package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event on the stream; `ts` is epoch nanos (the testdata contract). */
case class StreamEvent(event_id: Long, ts: Long, user_id: Long, event_type: String, value: Double)

/** Stream event with its derived event-time column — the watermark
  * attribute must flow into the stateful operator, so it lives in the
  * Dataset schema. */
case class TimedEvent(
    event_id: Long, ts: Long, user_id: Long, event_type: String, value: Double,
    event_time: java.sql.Timestamp)

/** Open-session state carried between micro-batches. `sum_value` holds
  * the running sum in integer MICRO-UNITS (stored in a double — exact up
  * to 2^53), matching the batch twin's order-free integer-scaled sum
  * without changing the state-store schema. */
case class SessionState(start_us: Long, end_us: Long, n_events: Long, sum_value: Double)

/** A closed session emitted downstream (times in epoch µs — sub-µs is
  * truncated, matching [[graft.ops.Events.sessionize]]). */
case class ClosedSession(
    user_id: Long, start_us: Long, end_us: Long, n_events: Long, sum_value: Double)

/** Per-user funnel progress: event-time µs of each stage reached so far
  * (greedy-earliest, strictly increasing). */
case class FunnelProgress(times: Seq[Long])

/** Cumulative per-type moment state: exact integral sums. `sumMicro` is
  * Σ round(value·1e6) in a long; `sumSqMicroSq` is Σ micro² as a BigInt
  * string (micro² reaches 1e18 per row — past any primitive's exact
  * range, and exactness is what makes the merge order-free). */
case class MomentState(n: Long, sumMicro: Long, sumSqMicroSq: String)

/** Running moments emitted per micro-batch: the cumulative count, mean
  * and population std of `value` per event type as of this batch. */
case class TypeMoments(event_type: String, n: Long, mean_value: Double, std_value: Double)

/** A completed funnel: the user and the µs timestamp of every stage. */
case class FunnelCompletion(user_id: Long, stage_times: Seq[Long])

/** Per-key delayed-label state: facts awaiting their horizon close as
  * (fact_id, ts_us); the outcome buffer that can still label a current
  * or future fact as (ts_us, value in exact integer micro-units). */
case class LabelState(facts: Seq[(Long, Long)], outcomes: Seq[(Long, Long)])

/** A labeled fact, emitted exactly once — after the watermark proves
  * its strictly-future (tsu, tsu+horizon] outcome window complete.
  * Mirrors [[graft.ops.Events.labelWindow]]'s output row (None ≡ the
  * batch twin's NULL first_outcome_us on zero-outcome facts). */
case class LabeledFact(
    event_id: Long, user_id: Long, tsu: Long,
    n_outcomes: Long, first_outcome_us: Option[Long], outcome_sum_micro: Long)

/** Per-key attribution state: conversions awaiting their watermark
  * close as (conv_id, ts_us, value already 6-dp rounded); touch buffer
  * as (touch_id, ts_us). */
case class AttribState(convs: Seq[(Long, Long, Double)], touches: Seq[(Long, Long)])

/** One attributed (conversion, touch) credit row, emitted exactly once
  * when the watermark reaches the conversion's own instant. Mirrors
  * [[graft.ops.Events.attribution]]'s output row. */
case class AttributedTouch(
    user_id: Long, conv_id: Long, conv_tsu: Long, touch_id: Long,
    touch_tsu: Long, n_touches: Long, first_touch: Boolean,
    last_touch: Boolean, linear_credit: Double)

/**
 * Structured Streaming analytics over the event stream — the streaming
 * twins of the batch ops in [[graft.ops.Events]] (which the DuckDB oracle
 * checks; the streaming spec checks these agree with them).
 *
 * Scale design: both operators are keyed state machines — Spark shuffles
 * by key once and keeps state in the state store (RocksDB-backed on a real
 * cluster); watermarks bound state size. No collect, no driver state.
 */
object EventStreams {

  val SessionGapMicros: Long = graft.ops.Events.SessionGapMicros

  /** value → integer micro-units, exactly Spark's `round(value * 1e6)`
    * (BigDecimal HALF_UP at scale 0). */
  private def toMicros(v: Double): Double =
    BigDecimal(v * 1000000).setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  /** micro-units → emitted sum, exactly the batch twin's
    * `round(sum_micros / 1e6, 6)`. */
  private def fromMicros(micros: Double): Double =
    BigDecimal(micros / 1000000.0).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  /** `ts` (epoch-nanos long OR timestamp-typed — normalized via
    * [[graft.ops.EventTime]]) → event-time timestamp column (µs
    * precision). Every stream entry point funnels through here, so
    * timestamp-typed sources work end-to-end. */
  def withEventTime(events: DataFrame): DataFrame =
    graft.ops.EventTime.normalizeTs(events)
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))

  /** Tumbling 5-minute windowed counts/sums per event_type with a
    * 10-minute watermark — the streaming form of
    * [[graft.ops.Events.tumblingWindows]]. */
  def windowedAggs(events: DataFrame): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", "10 minutes")
      .groupBy(window(col("event_time"), "5 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        // integer micro-unit sum — identical rule to the batch twin
        // (Events.tumblingWindows): exact and order-free. NOTE: this
        // changed the aggregation state schema vs the pre-r3 raw-double
        // sum — a checkpoint written by that version cannot resume on
        // this one (start a fresh checkpoint when upgrading).
        round(sum(round(col("value") * 1000000).cast("long")) / 1000000.0, 6)
          .as("sum_value"))

  /**
   * Streaming exact dedup for a document stream: keep the FIRST arrival
   * of each content hash, drop later duplicates — the streaming twin of
   * [[graft.ops.Dedup.exactDedup]] for ingest-time pipelines.
   * `dropDuplicatesWithinWatermark` on the md5 hash is a keyed
   * state-store op (one shuffle on the hash) whose state is EVICTED once
   * the watermark passes a hash's first arrival + delay: a duplicate
   * arriving later than `watermarkDelay` after its original may pass,
   * which is the standard state/recall trade at 100 TB/day ingest.
   * Columns: input columns + `text_hash`.
   */
  def dedupStream(
      docs: DataFrame, textCol: String, eventTimeCol: String,
      watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", md5(col(textCol)))
      .withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("text_hash")

  /**
   * Streaming INGEST dedup — the streaming twin of
   * [[graft.ops.Dedup.dedupIncremental]]: an arriving document survives
   * iff its text hash (a) misses the STATIC historical fingerprint
   * index — a stream-static LEFT ANTI join, stateless, the index
   * broadcast (or per-batch shuffled) fresh each micro-batch — and
   * (b) was not already seen in the stream within the watermark
   * horizon (`dropDuplicatesWithinWatermark` on the hash: state is
   * bounded by the horizon, the ingest-window guarantee a continuous
   * pipeline needs; the nightly index-merge job resets the horizon).
   * Only 16-byte hashes enter the join and the state store — document
   * text never leaves its batch.
   */
  def ingestDedupStream(
      docs: DataFrame, textCol: String, eventTimeCol: String,
      corpusIndex: DataFrame, indexHashCol: String,
      watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", md5(col(textCol)))
      .join(broadcast(corpusIndex.select(col(indexHashCol).as("__idx_hash"))),
        col("text_hash") === col("__idx_hash"), "left_anti")
      .withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("text_hash")

  /**
   * Streaming CRAWL-FRONTIER dedup — the [[ingestDedupStream]] shape
   * on CANONICAL URLS ([[graft.ops.TextOps.canonicalUrl]]): an
   * arriving URL survives iff its canonical form (a) misses the
   * STATIC already-fetched index (stream-static LEFT ANTI join —
   * stateless, the index re-read per micro-batch, broadcast when
   * small) and (b) was not already seen in the stream within the
   * watermark horizon (`dropDuplicatesWithinWatermark` on the
   * canonical form — keyed state bounded by the horizon). Transport
   * variants of the same page (case, default ports, fragments,
   * tracking params, param order, trailing slashes) collapse BEFORE
   * either check, so the frontier never fetches a page twice for
   * noise reasons; only the canonical string enters the join and the
   * state store. The nightly index-merge job resets the horizon —
   * the [[ingestDedupStream]] operating contract verbatim.
   * Columns: input columns + `canonical_url`.
   */
  def crawlFrontierStream(
      urls: DataFrame, urlCol: String, eventTimeCol: String,
      fetchedIndex: DataFrame, indexUrlCol: String,
      watermarkDelay: String = "1 hour"): DataFrame =
    urls
      .withColumn("canonical_url",
        graft.ops.TextOps.canonicalUrl(col(urlCol)))
      .join(broadcast(fetchedIndex
          .select(graft.ops.TextOps.canonicalUrl(col(indexUrlCol))
            .as("__idx_url"))),
        col("canonical_url") === col("__idx_url"), "left_anti")
      .withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("canonical_url")

  /**
   * Streaming twin of [[graft.ops.Dedup.crawlClean]] — ingest-time
   * crawl prep for a PAGE STREAM, every stage either per-row
   * stateless or stream-static:
   *
   *   extractHtmlText → normalizeUnicode (per-row regex kernels)
   *   → [[graft.ops.TextOps.boilerplateApply]] against a STATIC
   *     per-source boiler set ([[graft.ops.TextOps.boilerplateSets]]
   *     trained on the existing corpus — the CCNet operating mode:
   *     frequency statistics come from history, arriving pages are
   *     filtered against them; the nightly batch refresh re-trains)
   *   → [[graft.ops.TextOps.langIdCjk]] routing (keep `keepLangs`)
   *   → [[graft.ops.TextOps.gopherKeep]] (the COLUMN form of the
   *     Gopher battery — per-row, no doc_id join)
   *   → [[graft.ops.TextOps.redactPii]]
   *   → exact dedup, the [[ingestDedupStream]] contract: left-anti
   *     vs the STATIC corpus hash index, then
   *     dropDuplicatesWithinWatermark on the redacted-text hash
   *     (state bounded by the horizon).
   *
   * Near-dup REMOVAL is deliberately not in-stream: flagging is
   * [[neardupStream]]'s job and removal belongs to the nightly batch
   * [[graft.ops.Dedup.crawlClean]] consolidation — the
   * ingest/consolidate split every continuous 100 TB/day pipeline
   * runs. Output columns: doc_id, source, event_time, lang, text
   * (cleaned + redacted), text_hash.
   */
  def crawlIngestStream(pages: DataFrame, idCol: String, htmlCol: String,
      sourceCol: String, eventTimeCol: String, keepLangs: Seq[String],
      boilerSets: DataFrame, corpusIndex: DataFrame, indexHashCol: String,
      watermarkDelay: String = "1 hour"): DataFrame = {
    require(keepLangs.nonEmpty, "keepLangs must be non-empty")
    val T = graft.ops.TextOps
    val extracted = pages.select(col(idCol).as("doc_id"),
      col(sourceCol).as("source"), col(eventTimeCol).as("event_time"),
      T.normalizeUnicode(T.extractHtmlText(col(htmlCol))).as("__raw"))
    val routed = T.boilerplateApply(extracted, "__raw", "source", boilerSets)
      .select(col("doc_id"), col("source"), col("event_time"),
        col("clean_text").as("text"),
        T.langIdCjk(col("clean_text")).as("lang"))
      .filter(col("lang").isin(keepLangs: _*))
    routed
      .filter(T.gopherKeep(col("text")))
      .select(col("doc_id"), col("source"), col("event_time"), col("lang"),
        T.redactPii(col("text")).as("text"))
      .withColumn("text_hash", md5(col("text")))
      .join(broadcast(corpusIndex.select(col(indexHashCol).as("__idx_hash"))),
        col("text_hash") === col("__idx_hash"), "left_anti")
      .withWatermark("event_time", watermarkDelay)
      .dropDuplicatesWithinWatermark("text_hash")
  }

  /**
   * Streaming twin of [[graft.ops.TextOps.linkGraph]] (r19) — the
   * link-graph DELTA of a live crawl: per event-time window, the
   * (src_host, dst_host, n_links) host edges of the pages that landed
   * in it, ready to merge into the batch edge store (the
   * ingest/consolidate split: a nightly [[graft.ops.TextOps.linkGraph]]
   * over the full archive is the exhaustive pass). Per-row extraction
   * and host resolution are [[graft.ops.TextOps.linkEdges]] — the
   * IDENTICAL column expressions as batch, so the twins cannot drift —
   * fused into the micro-batch scan; state is the windowed (src, dst)
   * count aggregation, bounded by the watermark.
   */
  def linkGraphStream(pages: DataFrame, urlCol: String, htmlCol: String,
      eventTimeCol: String, windowLen: String = "10 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame =
    graft.ops.TextOps.linkEdges(
        pages.withColumn("event_time", col(eventTimeCol)),
        urlCol, htmlCol, carry = Seq("event_time"))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowLen),
        col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n_links"))

  /**
   * STREAMING incremental PageRank (r20) — the maintenance side that
   * closes the live link-graph loop: each micro-batch of (src, dst, w)
   * edges (e.g. [[linkGraphStream]]'s closed windows, renamed) is
   * applied to the persisted [[graft.sources.RankStore]] through the
   * EXACT delta update ([[graft.ops.Graph.pageRankWeightedDeltaHistory]]
   * — only the batch's out-reach recomputes, the rest of the crawl's
   * ranks are read back from the stored history). Exactly-once across
   * restarts without relying on idempotent output: the store records
   * the applied batchId high-water mark and replayed batches are
   * bit-exact no-ops. `RankStore.ranks(spark, storePath)` is the
   * always-consistent serving read (atomic manifest pointer — a reader
   * never sees a half-applied batch). Returns the configured writer;
   * caller sets checkpointLocation and `.start()`s.
   */
  def pageRankMaintainStream(edges: DataFrame, storePath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val apply: (DataFrame, Long) => Unit = (batch, batchId) => {
      graft.sources.RankStore.appendDelta(
        batch.sparkSession, storePath, batch, batchId)
      ()
    }
    edges.writeStream.outputMode(OutputMode.Update()).foreachBatch(apply)
  }

  /**
   * Streaming twin of [[graft.ops.Dedup.neardupIncremental]]: each
   * arriving doc is MinHash-banded and probed against the STATIC
   * historical [[graft.ops.Dedup.bandKeyIndex]] via a stream-static
   * equi-join; a doc sharing ≥1 band key with history emits
   * (window, doc_id, dup_of = min matching historical id) once its
   * event-time window expires. The index never recomputes per batch
   * (static side; broadcast when small, bucketed by band_key at
   * scale); only flagged docs reach the aggregation state, and the
   * watermark bounds it.
   */
  def neardupStream(docs: DataFrame, idCol: String, textCol: String,
      eventTimeCol: String, bandIndex: DataFrame, k: Int, bands: Int,
      windowLen: String = "10 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame = {
    val banded = docs
      .select(col(idCol).as("doc_id"), col(eventTimeCol).as("event_time"),
        graft.ops.TextOps.tokenShingles(col(textCol)).as("sh"))
      .select(col("doc_id"), col("event_time"),
        graft.ops.TextOps.minhashSignature(col("sh"), k).as("sig"))
      .select(col("doc_id"), col("event_time"),
        explode(graft.ops.TextOps.bandKeys(col("sig"), k, bands)).as("band_key"))
    // watermark BEFORE the inner probe join: an unmatched row must still
    // advance event time, or windows never close on quiet streams.
    // The static index pre-reduces to its per-band min id (same dup_of,
    // see Dedup.neardupIncremental) so a duplicate-flooded band bucket
    // cannot make the probe join output quadratic.
    banded
      .withWatermark("event_time", watermarkDelay)
      .join(
        bandIndex.groupBy(col("band_key")).agg(min(col("doc_id")).as("__ex_id")),
        "band_key")
      .groupBy(window(col("event_time"), windowLen), col("doc_id"))
      .agg(min(col("__ex_id")).as("dup_of"))
  }

  /**
   * Streaming twin of [[graft.ops.Multimodal.perceptualDedup]]'s probe
   * side — media-ingest dedup: each arriving payload is signatured
   * through the SAME per-partition [[graft.ops.Multimodal.MediaCodec]]
   * lifecycle (`open()` once per partition of every micro-batch),
   * pigeonhole-banded, and probed against a STATIC historical signature
   * set ([[graft.ops.Multimodal.perceptualSignatures]] output); band
   * candidates verify by exact `bit_count(xor)` Hamming and a doc whose
   * best candidate passes emits (window, doc_id, dup_of, hamming) when
   * its window expires.
   *
   * Flood guard, [[neardupStream]]'s: the static side pre-reduces each
   * band bucket to its min-id REPRESENTATIVE row (signature included),
   * so a probe meets ≤ 4 candidates however flooded a bucket is —
   * bounded and deterministic; a near-dup hiding behind a bucket's
   * representative is the documented recall trade (batch
   * perceptualDedup is the exhaustive pass). `dup_of` is the min
   * passing candidate id, `hamming` the min passing distance.
   */
  def phashStream(media: DataFrame, staticSigs: DataFrame,
      codec: graft.ops.Multimodal.MediaCodec = graft.ops.Multimodal.MediaCodec.Stub,
      maxHamming: Int = 3, windowLen: String = "10 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val sigs = media
      .select(col("doc_id").cast("long"), col("media_type"),
        col("payload"), col("event_time"))
      .as[(Long, String, Array[Byte], java.sql.Timestamp)]
      .mapPartitions { rows =>
        val session = codec.open()
        val out = rows.map { case (id, mt, pl, et) =>
          val b = session.pHashBands(mt, pl)
          (id, b(0), b(1), b(2), b(3), et)
        }
        new Iterator[(Long, Int, Int, Int, Int, java.sql.Timestamp)] {
          def hasNext: Boolean = {
            val h = out.hasNext
            if (!h) session.close()
            h
          }
          def next(): (Long, Int, Int, Int, Int, java.sql.Timestamp) = out.next()
        }
      }
      .toDF("doc_id", "b0", "b1", "b2", "b3", "event_time")
    val banded = sigs.select(col("doc_id"), col("event_time"),
      col("b0"), col("b1"), col("b2"), col("b3"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("band_idx", "band_val")))
    val idx = staticSigs
      .select(col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
          .as(Seq("band_idx", "band_val")))
      .groupBy(col("band_idx"), col("band_val"))
      .agg(min(struct(col("doc_id"), col("b0"), col("b1"), col("b2"),
        col("b3"))).as("ex"))
    val ham = (0 to 3).map(i =>
      bit_count(expr(s"b$i ^ ex.b$i"))).reduce(_ + _).cast("long")
    banded
      .withWatermark("event_time", watermarkDelay)
      .join(idx, Seq("band_idx", "band_val"))
      .withColumn("hamming", ham)
      .filter(col("hamming") <= maxHamming)
      .groupBy(window(col("event_time"), windowLen), col("doc_id"))
      .agg(min(col("ex.doc_id")).as("dup_of"), min(col("hamming")).as("hamming"))
  }

  /**
   * Gap-based (30 min) sessionization with
   * `flatMapGroupsWithState` + event-time timeout: batch events merge
   * into the open session; a gap or watermark timeout closes and emits
   * it. The streaming twin of [[graft.ops.Events.sessionize]].
   */
  def sessionize(events: DataFrame)(implicit spark: SparkSession): Dataset[ClosedSession] = {
    import spark.implicits._
    val typed = withEventTime(events)
      .withWatermark("event_time", "30 minutes")
      .as[TimedEvent]

    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[TimedEvent], state: GroupState[SessionState]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            // watermark passed end+gap: the open session is final
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(userId, s.start_us, s.end_us, s.n_events, fromMicros(s.sum_value)))
          } else {
            val sorted = batch.toSeq.map(e => e.copy(ts = e.ts / 1000)).sortBy(e => (e.ts, e.event_id))
            var open = state.getOption
            val closed = Seq.newBuilder[ClosedSession]
            sorted.foreach { e =>
              open match {
                case Some(s) if e.ts - s.end_us <= SessionGapMicros =>
                  open = Some(SessionState(
                    s.start_us, math.max(s.end_us, e.ts), s.n_events + 1,
                    s.sum_value + toMicros(e.value)))
                case Some(s) =>
                  closed += ClosedSession(userId, s.start_us, s.end_us, s.n_events, fromMicros(s.sum_value))
                  open = Some(SessionState(e.ts, e.ts, 1L, toMicros(e.value)))
                case None =>
                  open = Some(SessionState(e.ts, e.ts, 1L, toMicros(e.value)))
              }
            }
            open.foreach { s =>
              state.update(s)
              // close when the watermark passes the gap after session end
              state.setTimeoutTimestamp(s.end_us / 1000L + SessionGapMicros / 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /**
   * Streaming ordered-funnel detection — the streaming twin of
   * [[graft.ops.Events.funnel]] (greedy-earliest: each stage takes the
   * first qualifying event strictly after the previous stage's time).
   * Keyed state = the times of the stages reached so far (≤ one
   * fixed-size vector per user), EVICTED by event-time timeout once the
   * watermark passes `idleExpiryMicros` beyond the user's last funnel
   * progress — so the state store is bounded by users active within the
   * expiry horizon, not by #users-ever-seen. A completed user's
   * full-length vector (the do-not-re-emit marker) ages out the same
   * way: a user re-entering the funnel more than the expiry after
   * completing can emit again — one completion per user per expiry
   * window, the streaming analogue of the batch twin's once-ever.
   * Events are processed in event-time order within each micro-batch;
   * an event arriving across batches out of order past the watermark
   * may be missed, the same ingest-time trade documented on
   * [[dedupStream]].
   */
  def funnelStream(events: DataFrame, stages: Seq[String],
      idleExpiryMicros: Long = 86400000000L)(
      implicit spark: SparkSession): Dataset[FunnelCompletion] = {
    import spark.implicits._
    require(stages.nonEmpty, "at least one funnel stage required")
    require(idleExpiryMicros > 0, s"idleExpiryMicros must be > 0, got $idleExpiryMicros")
    val typed = withEventTime(events)
      .withWatermark("event_time", "30 minutes")
      .as[TimedEvent]
    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelCompletion](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[TimedEvent], state: GroupState[FunnelProgress]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            // watermark passed last progress + expiry: abandoned (or
            // long-completed) funnel — drop the state
            state.remove()
            Iterator.empty
          } else {
            val sorted = batch.toSeq.map(e => e.copy(ts = e.ts / 1000))
              .sortBy(e => (e.ts, e.event_id))
            // a full-length vector is the COMPLETED marker: the batch twin
            // emits exactly one completion per user, so later events must
            // not restart the funnel
            var times = state.getOption.map(_.times).getOrElse(Seq.empty)
            val out = Seq.newBuilder[FunnelCompletion]
            sorted.foreach { e =>
              if (times.length < stages.length &&
                  e.event_type == stages(times.length) &&
                  (times.isEmpty || e.ts > times.last)) {
                times = times :+ e.ts
                if (times.length == stages.length) out += FunnelCompletion(userId, times)
              }
            }
            if (times.nonEmpty) {
              state.update(FunnelProgress(times))
              // clamp above the current watermark: a stale user whose
              // batch held only non-matching events would otherwise set
              // an already-passed timeout, which EventTimeTimeout rejects
              state.setTimeoutTimestamp(math.max(
                times.last / 1000L + idleExpiryMicros / 1000L,
                state.getCurrentWatermarkMs + 1L))
            } else state.remove()
            out.result().iterator
          }
      }
  }

  /**
   * Stream-stream interval join — impression→click attribution: each
   * `clickType` event joins the SAME user's `viewType` events whose
   * event time lies in (click − joinWindow, click]. Both sides carry a
   * watermark and the join condition bounds event-time distance, so
   * Spark evicts join state once the watermark passes `event_time +
   * joinWindow` on each side — state is bounded by the attribution
   * horizon, never #events-ever. This is the genuinely-streaming shape
   * of the batch two-table range join ([[graft.ops.Events.rangeJoin2]]),
   * which the spec checks it agrees with.
   */
  def attributionJoin(events: DataFrame, viewType: String, clickType: String,
      joinWindowSec: Long = 600L): DataFrame = {
    val views = withEventTime(events)
      .filter(col("event_type") === viewType)
      .select(col("event_id").as("view_id"), col("user_id").as("view_user"),
        col("event_time").as("view_time"))
      .withWatermark("view_time", "30 minutes")
    val clicks = withEventTime(events)
      .filter(col("event_type") === clickType)
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("event_time").as("click_time"))
      .withWatermark("click_time", "30 minutes")
    views.join(clicks,
      col("view_user") === col("click_user") &&
        col("click_time") >= col("view_time") &&
        col("click_time") < col("view_time") + expr(s"INTERVAL $joinWindowSec SECONDS"))
      .select(col("view_user").as("user_id"), col("view_id"), col("click_id"),
        (unix_micros(col("click_time")) - unix_micros(col("view_time"))).as("lag_us"))
  }

  /**
   * Stream-static enrichment join: the streaming side joins a STATIC
   * dimension (re-read per micro-batch — no state store at all, unlike
   * stream-stream). The standard shape for decorating an event stream
   * with slowly-changing reference data. The broadcast() hint here
   * FORCES a broadcast hash join — use this entry point only when the
   * dim is known-bounded (the usual reference-data case); an unbounded
   * dim belongs in a per-batch shuffle join, which
   * [[pointInTimeEnrich]] demonstrates (no hint, planner decides).
   */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    withEventTime(events).join(broadcast(dim), Seq(key), "left_outer")

  /**
   * POINT-IN-TIME stream enrichment against an SCD2-versioned static
   * dimension (the output shape of [[graft.ops.Events.scd2Intervals]]:
   * key + value + [valid_from_us, valid_to_us) half-open intervals):
   * each event picks the dimension version valid AT ITS EVENT TIME —
   * the leak-free feature-store lookup (a plain latest-value join
   * would leak future attribute values into past training rows).
   * Stateless stream-static join: SCD2 versions are non-overlapping
   * per key, so the interval predicate matches at most one row and no
   * dedup state is needed. NO broadcast hint: an SCD2 dimension grows
   * with history (every key version is a row), so the planner picks
   * broadcast from its size stats when the dim is small and falls back
   * to a per-batch shuffled equi-join (interval predicate as residual)
   * when it is not — a forced hint here would OOM the driver on a
   * large dimension.
   */
  def pointInTimeEnrich(events: DataFrame, scd2Dim: DataFrame,
      key: String, dimValueCols: Seq[String]): DataFrame = {
    val e = withEventTime(events).withColumn("tsu", expr("ts div 1000"))
    val d = scd2Dim.select(
      (col(key).as("__dk") +: col("valid_from_us") +: col("valid_to_us") +:
        dimValueCols.map(c => col(c).as(s"dim_$c"))): _*)
    e.join(d,
        col(key) === col("__dk") && col("tsu") >= col("valid_from_us") &&
          (col("valid_to_us").isNull || col("tsu") < col("valid_to_us")),
        "left_outer")
      .drop("__dk")
  }

  /**
   * Streaming DELAYED-LABEL generation — the online-training twin of
   * [[graft.ops.Events.labelWindow]]: each `factType` event is held
   * until the watermark proves its strictly-future (ts, ts+horizon]
   * outcome window COMPLETE, then emitted exactly once with the count /
   * first time / exact integer-micro sum of the `outcomeType` events
   * inside it (zero-outcome facts emit too, with None ≡ the batch
   * NULL). Emitting any earlier would publish a label that a
   * still-in-flight outcome could falsify; this is the leak-free *and*
   * race-free form.
   *
   * Keyed `flatMapGroupsWithState` with event-time timeout, not a
   * stream-stream join: the label is a per-fact AGGREGATE with
   * left-outer semantics, which a join+agg chain cannot emit exactly
   * once per fact on window close. State is bounded by the horizon +
   * watermark delay, never #facts-ever: a fact leaves when
   * watermark > ts+horizon; an outcome is evicted as soon as no
   * pending fact (needs ts_out > min pending fact ts) nor any
   * future-admissible fact (needs ts_out > watermark — later facts
   * arrive with ts ≥ watermark and can only consume strictly-later
   * outcomes) can use it; a quiet key's leftovers age out by timeout
   * and the state row is removed. Out-of-order arrivals within the
   * watermark delay are handled on both sides (facts and outcomes
   * buffer independently); an event later than the watermark is
   * dropped by Spark, the standard lateness contract.
   */
  def labelWindowStream(events: DataFrame, factType: String,
      outcomeType: String, horizonMicros: Long,
      watermarkDelay: String = "30 minutes")(
      implicit spark: SparkSession): Dataset[LabeledFact] = {
    import spark.implicits._
    require(horizonMicros > 0, s"horizonMicros must be > 0, got $horizonMicros")
    val typed = withEventTime(events)
      .filter(col("event_type").isin(factType, outcomeType))
      .withWatermark("event_time", watermarkDelay)
      .as[TimedEvent]
    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LabelState, LabeledFact](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[TimedEvent], state: GroupState[LabelState]) =>
          val prev = state.getOption.getOrElse(LabelState(Nil, Nil))
          var facts = prev.facts
          var outcomes = prev.outcomes
          batch.foreach { e =>
            val tsu = e.ts / 1000
            if (e.event_type == factType) facts :+= ((e.event_id, tsu))
            else outcomes :+= ((tsu, toMicros(e.value).toLong))
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // a fact is final only STRICTLY past its horizon: an outcome AT
          // ts+horizon is inside the window and may still arrive while
          // watermark == ts+horizon
          val (ripe, pending) = facts.partition { case (_, fts) =>
            fts + horizonMicros < wmUs }
          val out = ripe.sortBy(identity).map { case (fid, fts) =>
            val win = outcomes.filter { case (ots, _) =>
              ots > fts && ots <= fts + horizonMicros }
            LabeledFact(fid, userId, fts, win.size.toLong,
              if (win.isEmpty) None else Some(win.map(_._1).min),
              win.map(_._2).sum)
          }
          val minFts = pending.map(_._2).minOption
          val kept = outcomes.filter { case (ots, _) =>
            minFts.exists(ots > _) || ots > wmUs }
          if (pending.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update(LabelState(pending, kept))
            // wake when the oldest pending fact's horizon closes (that
            // timestamp is >= the current watermark by the pending
            // definition; +1ms makes it strictly later, as required) —
            // or, with only future-admissible outcomes left, when the
            // watermark passes the newest one and the key can be dropped
            val wakeMs = minFts match {
              case Some(m) => (m + horizonMicros) / 1000L + 1L
              case None => kept.map(_._1).max / 1000L + 1L
            }
            state.setTimeoutTimestamp(wakeMs)
          }
          out.iterator
      }
  }

  /**
   * Streaming MULTI-TOUCH ATTRIBUTION — the online twin of
   * [[graft.ops.Events.attribution]]: each `convType` event waits until
   * the watermark reaches its own instant (every touch strictly before
   * it must have arrived by then — a later-arriving earlier touch would
   * be watermark-dropped), then emits one credit row per `touchType`
   * event of the same key inside [conv_ts − lookback, conv_ts), exactly
   * once: linear credit value/n (6-dp, the batch twin's rounding) with
   * first/last-touch flags. Zero-touch conversions emit nothing, like
   * the batch form.
   *
   * Keyed `flatMapGroupsWithState` with event-time timeout. State is
   * bounded by the lookback + watermark delay, never #events-ever:
   * a conversion leaves as soon as it is emitted (watermark ≥ its ts);
   * a touch is evicted once ts + lookback < watermark — no pending
   * conversion can use it then (every pending conv has cts > watermark,
   * so its window floor cts − lookback > ts), and no future conversion
   * can either (future convs arrive with cts ≥ watermark). A quiet
   * key's leftovers age out by timeout and the state row is removed.
   */
  def attributionStream(events: DataFrame, touchType: String,
      convType: String, lookbackMicros: Long,
      watermarkDelay: String = "30 minutes")(
      implicit spark: SparkSession): Dataset[AttributedTouch] = {
    import spark.implicits._
    require(lookbackMicros > 0, s"lookbackMicros must be > 0, got $lookbackMicros")
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val typed = withEventTime(events)
      .filter(col("event_type").isin(touchType, convType))
      .withWatermark("event_time", watermarkDelay)
      .as[TimedEvent]
    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttribState, AttributedTouch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[TimedEvent], state: GroupState[AttribState]) =>
          val prev = state.getOption.getOrElse(AttribState(Nil, Nil))
          var convs = prev.convs
          var touches = prev.touches
          batch.foreach { e =>
            val tsu = e.ts / 1000
            if (e.event_type == convType) convs :+= ((e.event_id, tsu, round6(e.value)))
            else touches :+= ((e.event_id, tsu))
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // ripe at watermark == its instant already: the equal-time touch
          // is EXCLUDED by the strict window, and any earlier one would
          // now be late-dropped
          val (ripe, pending) = convs.partition { case (_, cts, _) => cts <= wmUs }
          val out = ripe.sortBy { case (cid, cts, _) => (cts, cid) }
            .flatMap { case (cid, cts, v) =>
              val win = touches
                .filter { case (_, tts) =>
                  tts < cts && tts >= cts - lookbackMicros }
                .sortBy { case (tid, tts) => (tts, tid) }
              val n = win.size.toLong
              win.zipWithIndex.map { case ((tid, tts), i) =>
                AttributedTouch(userId, cid, cts, tid, tts, n,
                  i == 0, i == win.size - 1, round6(v / n))
              }
            }
          // touch eviction: older than every pending AND every possible
          // future conversion's window (see scaladoc for the proof that
          // emitted-conversion needs can never resurrect an evicted touch)
          val kept = touches.filter { case (_, tts) => tts + lookbackMicros >= wmUs }
          if (pending.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update(AttribState(pending, kept))
            // wake when the oldest pending conversion ripens (its cts is
            // > watermark by the pending definition; ms-truncation +1
            // keeps the timeout strictly in the future) — or, touches
            // only, when the last one ages out
            val wakeMs = pending.map(_._2).minOption match {
              case Some(m) => m / 1000L + 1L
              case None => (kept.map(_._2).max + lookbackMicros) / 1000L + 1L
            }
            state.setTimeoutTimestamp(wakeMs)
          }
          out.iterator
      }
  }

  /**
   * Per-window heavy hitters on the stream: the k highest-value events
   * per tumbling window via the bounded [[graft.functions.TopKBy]]
   * aggregate — O(k) heap state per window IN THE STATE STORE (and in
   * every partial buffer), where a collect-then-sort would hold the
   * window's whole event set. Watermark closes and evicts windows.
   * Emitted append-mode on window close: (window_start_us, rank,
   * event_id, value).
   */
  def windowedTopK(events: DataFrame, k: Int,
      windowLen: String = "5 minutes", watermarkDelay: String = "10 minutes"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowLen))
      .agg(graft.functions.GraftFunctions.topk_by(col("event_id"), col("value"), k).as("top"))
      .select(unix_micros(col("window.start")).as("window_start_us"), posexplode(col("top")))
      .select(col("window_start_us"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("event_id"), col("col.score").as("value"))

  /**
   * Streaming running moments per event type — the stateful feeder a
   * streaming z-score anomaly detector reads: cumulative n, mean, and
   * population std of `value` as of each micro-batch.
   *
   * State is EXACT integral sums (Σ micro in a long, Σ micro² as a
   * BigInt string — micro² overflows every primitive's exact range), so
   * merging a batch is pure integer addition: any arrival order, any
   * batch split, any engine produces the identical state, and the
   * float conversion happens once at emission. This is the streaming
   * analogue of the batch twin's decimal(38,0) rule
   * ([[graft.ops.Events.zscoreOutliers]]).
   *
   * State is keyed by event TYPE — a bounded domain — so `NoTimeout` is
   * correct here: cumulative statistics never expire, and the state
   * store holds |types| entries of O(1) size (contrast per-USER state,
   * which must evict — see [[funnelStream]]).
   */
  def runningMoments(events: DataFrame)(
      implicit spark: SparkSession): Dataset[TypeMoments] = {
    import spark.implicits._
    val typed = withEventTime(events)
      .withWatermark("event_time", "10 minutes")
      .as[TimedEvent]
    typed
      .groupByKey(_.event_type)
      .mapGroupsWithState[MomentState, TypeMoments](GroupStateTimeout.NoTimeout()) {
        (tpe: String, batch: Iterator[TimedEvent], state: GroupState[MomentState]) =>
          var n = 0L
          var s1 = 0L
          var s2 = BigInt(0)
          batch.foreach { e =>
            val m = toMicros(e.value).toLong
            n += 1; s1 += m; s2 += BigInt(m) * BigInt(m)
          }
          val prev = state.getOption.getOrElse(MomentState(0L, 0L, "0"))
          val st = MomentState(prev.n + n, prev.sumMicro + s1,
            (BigInt(prev.sumSqMicroSq) + s2).toString)
          state.update(st)
          // exact integers → doubles once, fixed op order: deterministic.
          // n·S2 − S1² is computed ENTIRELY in BigInt: S2 and S1²/n are
          // near-equal huge values at large n, so subtracting them as
          // doubles would cancel catastrophically and leave the std as
          // rounding noise — only the (small, exact) difference is
          // converted to double, then divided by n².
          val nn = st.n.toDouble
          val mean = BigDecimal(st.sumMicro).toDouble / nn / 1e6
          val exactVarNum = BigInt(st.sumSqMicroSq) * st.n -
            BigInt(st.sumMicro) * BigInt(st.sumMicro)
          val varPop = exactVarNum.toDouble / nn / nn
          TypeMoments(tpe, st.n,
            BigDecimal(mean).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble,
            BigDecimal(math.sqrt(math.max(varPop, 0.0)) / 1e6)
              .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
  }

  /**
   * Streaming windowed QUANTILES through the fixed-grid histogram
   * aggregate: per-window state is one `nbins`-long count array in the
   * state store (vs exact quantiles' unbounded per-window value set),
   * arrays merge across micro-batches by element-wise sum, and the
   * watermark evicts closed windows. Quantile extraction is a
   * DETERMINISTIC projection over the final array (cumulative counts
   * via higher-order folds, then the same interpolation rule as
   * [[graft.ops.Sketches.quantileSketchGrouped]] — StreamingSpec proves
   * the streamed estimates equal the batch sketch bit-for-bit).
   */
  def windowedQuantiles(events: DataFrame, lo: Double, hi: Double, nbins: Int,
      ps: Seq[(String, Double)],
      windowLen: String = "5 minutes", watermarkDelay: String = "10 minutes"): DataFrame = {
    require(ps.nonEmpty, "at least one quantile required")
    val w = (hi - lo) / nbins
    val hist = withEventTime(events)
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowLen))
      .agg(graft.functions.GraftFunctions.histogram(col("value"), lo, hi, nbins).as("hist"))
      .select(unix_micros(col("window.start")).as("window_start_us"), col("hist"))
      // cumulative bin counts; O(nbins²) fold over a bounded array —
      // window functions are not available on a streaming aggregate
      .withColumn("cums", expr(
        "transform(hist, (x, i) -> aggregate(slice(hist, 1, i + 1), 0L, (a, b) -> a + b))"))
      .withColumn("n", element_at(col("cums"), nbins))
    val qs = ps.map { case (name, p) =>
      val t = (col("n") - 1).cast("double") * lit(p)
      // first bin whose cumulative count exceeds t (0-based)
      val bin = size(filter(col("cums"), c => c.cast("double") <= t))
      val cumBefore = when(bin === 0, lit(0L))
        .otherwise(element_at(col("cums"), bin)).cast("double")
      val c = element_at(col("hist"), bin + 1).cast("double")
      round(lit(lo) + lit(w) * (bin.cast("double") + (t - cumBefore) / c), 6).as(name)
    }
    hist.select(col("window_start_us") +: col("n") +: qs: _*)
  }

  /** Windowed distinct-user ESTIMATE through the HLL sketch aggregate:
    * per-window state is the fixed 2^b-byte register array (vs exact
    * distinct's unbounded per-window user set), registers element-wise-max
    * merge across micro-batches, and the watermark evicts closed windows —
    * streaming cardinality at a constant per-window memory bound. The
    * sketch is md5-deterministic, so the streamed estimate equals the
    * batch twin's bit for bit (StreamingSpec proves it). */
  def windowedDistinctHll(events: DataFrame, b: Int = 8,
      windowLen: String = "5 minutes", watermarkDelay: String = "10 minutes"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowLen))
      .agg(graft.functions.GraftFunctions.hll_distinct(col("user_id"), b).as("est_users"),
        count(lit(1)).as("n_events"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("est_users"), col("n_events"))

  /** NATIVE streaming session windows — the Spark-first form of
    * [[sessionize]]: `session_window` under a watermark keeps one
    * merging session range per (user, open session) as aggregate
    * state, merges sessions ACROSS micro-batches, and emits a row
    * when the watermark passes session end + gap (append mode). No
    * flatMapGroupsWithState, no manual eviction — the engine owns the
    * state lifecycle. The aggregate is the batch
    * [[graft.ops.Events.sessionWindows]] twin's own
    * ([[graft.ops.Events.sessionWindowAgg]]), so the two agree by
    * construction, exact-gap boundary included. */
  def sessionWindowsStream(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    graft.ops.Events.sessionWindowAgg(withEventTime(events)
      .withWatermark("event_time", watermarkDelay), gap)

  /** STREAMING session journeys — the online twin of
    * [[graft.ops.Events.sessionPaths]]: per closed session, the
    * first-maxSteps event-type path via the bounded
    * [[graft.functions.PathPrefix]] aggregate under `session_window`.
    * This is exactly why the path is an AGGREGATE and not a rank
    * window: session_window state merges across micro-batches with
    * out-of-order arrivals, and PathPrefix's order-free earliest-k
    * merge keeps the path correct under ANY arrival order in O(k)
    * state per open session — a rank-and-collect cannot run inside
    * streaming aggregation at all. Watermark closes and evicts
    * sessions; rows emit append-mode on close. The aggregate is the
    * batch twin's own ([[graft.ops.Events.sessionPathAgg]]). */
  def sessionPathsStream(events: DataFrame, maxSteps: Int = 5,
      gap: String = "30 minutes", watermarkDelay: String = "10 minutes"): DataFrame =
    graft.ops.Events.sessionPathAgg(withEventTime(events)
      .withColumn("tsu", expr("ts div 1000"))
      .withWatermark("event_time", watermarkDelay), maxSteps, gap)

  /** Baseline histogram for [[driftMonitor]]: ONE row holding the bin
    * counts of a historical batch — build it once offline, broadcast it
    * into every micro-batch. */
  def baselineHistogram(history: DataFrame, valueCol: String,
      lo: Double, hi: Double, nbins: Int): DataFrame =
    history.agg(graft.functions.GraftFunctions
      .histogram(col(valueCol).cast("double"), lo, hi, nbins).as("base_hist"))

  /** Exact binned two-sample KS projection over a window histogram vs a
    * baseline histogram — shared by the streaming monitor and its batch
    * twin so the spec equality is structural. Integer products: valid
    * while n_window · n_baseline < 2^63 (any real window qualifies). */
  private[graft] def ksProjection(df: DataFrame, threshold: Double): DataFrame =
    df
      .withColumn("cums", expr(
        "transform(hist, (x, i) -> aggregate(slice(hist, 1, i + 1), 0L, (a, b) -> a + b))"))
      .withColumn("bcums", expr(
        "transform(base_hist, (x, i) -> aggregate(slice(base_hist, 1, i + 1), 0L, (a, b) -> a + b))"))
      .withColumn("n", expr("element_at(cums, size(cums))"))
      .withColumn("nb", expr("element_at(bcums, size(bcums))"))
      .withColumn("ks_num", expr(
        "aggregate(zip_with(cums, bcums, (a, b) -> abs(a * nb - b * n)), 0L, (m, x) -> greatest(m, x))"))
      .select(col("window_start_us"), col("n").as("n_events"),
        round(col("ks_num").cast("double") / (col("n") * col("nb")).cast("double"), 6).as("ks"),
        (col("ks_num").cast("double") > col("n").cast("double") * col("nb").cast("double") * threshold)
          .as("drift"))

  /**
   * Streaming distribution-drift monitor — the data-quality alarm an
   * ingest pipeline runs continuously: per event-time window, the
   * value distribution bins through [[graft.functions.HistogramAgg]]
   * (O(nbins) long state per window, element-wise-sum merge across
   * micro-batches, watermark-evicted) and is compared against a STATIC
   * baseline histogram ([[baselineHistogram]] over a historical batch)
   * with the exact binned two-sample Kolmogorov–Smirnov statistic —
   * the streaming twin of [[graft.ops.TextOps.lengthKsDrift]]'s ECDF
   * comparison. Windows with ks > threshold flag `drift`.
   *
   * The baseline is one static row, so the stream-static join is a
   * broadcast; the KS projection is integer-exact (the drift flag
   * compares the integer numerator against n·n_b·threshold in double —
   * one fixed-order multiply, no accumulation), so the streamed
   * statistic equals the batch twin bit for bit (StreamingSpec).
   */
  def driftMonitor(events: DataFrame, baseline: DataFrame,
      lo: Double, hi: Double, nbins: Int, threshold: Double,
      windowLen: String = "5 minutes", watermarkDelay: String = "10 minutes"): DataFrame = {
    val hist = withEventTime(events)
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowLen))
      .agg(graft.functions.GraftFunctions
        .histogram(col("value").cast("double"), lo, hi, nbins).as("hist"))
      .select(unix_micros(col("window.start")).as("window_start_us"), col("hist"))
    ksProjection(hist.crossJoin(baseline), threshold)
  }

  /**
   * Robust per-type traffic baseline for [[anomalyBandsStream]]:
   * median and MAD of per-window event counts over a HISTORICAL batch
   * — the [[graft.ops.Events.anomalyBands]] statistics frozen for
   * online scoring (the deployed-model convention, exactly like
   * [[baselineHistogram]]'s frozen bins). `windowLen` must match the
   * stream's. The per-type count list is calendar-bounded (one entry
   * per window in the history), so the collect_list state is bounded
   * by the history length, never by event volume.
   */
  def anomalyBaseline(history: DataFrame,
      windowLen: String = "5 minutes"): DataFrame = {
    val counts = withEventTime(history)
      .groupBy(window(col("event_time"), windowLen), col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"))
    def medOf(sorted: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val t = (size(sorted) - 1).cast("double") * lit(0.5)
      val lo = element_at(sorted, (floor(t) + 1).cast("int"))
      val hi = element_at(sorted, (ceil(t) + 1).cast("int"))
      lo + (t - floor(t)) * (hi - lo)
    }
    counts.groupBy(col("event_type"))
      .agg(sort_array(collect_list(col("n"))).as("__hist"))
      .withColumn("__med", medOf(col("__hist")))
      .select(col("event_type"),
        round(col("__med"), 6).as("expected"),
        round(medOf(sort_array(transform(col("__hist"),
          x => abs(x - col("__med"))))), 6).as("mad"),
        size(col("__hist")).as("n_hist"))
  }

  /**
   * STREAMING traffic-anomaly bands — the online twin of
   * [[graft.ops.Events.anomalyBands]]: per event-time window and
   * event type, the live count scores against the frozen robust
   * baseline (median ± k·MAD from [[anomalyBaseline]]); windows
   * outside the band flag `anomaly` as they close. State = the open
   * windows' per-type counts only (sum-merged across micro-batches,
   * watermark-evicted — never history-sized); the baseline is a
   * static per-type frame, so the join is stream-static (broadcast at
   * type arity). A type never seen in the history scores NULL
   * expected/mad and anomaly=false — unknown traffic is a coverage
   * gap, not an alarm (same rule as the batch op's minDays guard).
   */
  def anomalyBandsStream(events: DataFrame, baseline: DataFrame,
      k: Double = 3.0, windowLen: String = "5 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val counts = withEventTime(events)
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"))
    counts
      .join(baseline.select(col("event_type"), col("expected"), col("mad")),
        Seq("event_type"), "left")
      .select(col("window_start_us"), col("event_type"), col("n"),
        col("expected"), col("mad"),
        coalesce(abs(col("n").cast("double") - col("expected")) >
          lit(k) * col("mad"), lit(false)).as("anomaly"))
  }
}
