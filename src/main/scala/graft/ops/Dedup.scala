package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication pipeline for document corpora — the workhorse of an LLM
 * training-data pipeline, designed shuffle-minimal for 100 TB:
 *
 *  - exact dedup: one hash-keyed shuffle (groupBy md5), map-side partial
 *    aggregation halves traffic; the winning doc per group is picked with
 *    min_by, not a window sort.
 *  - MinHash/LSH near-dedup: signature computation is completely NARROW
 *    (per-row higher-order expressions — zero shuffle over the corpus);
 *    only the tiny (doc_id, band_key) projection shuffles for the
 *    bucket self-join. Band keys are md5-uniform, so bucket skew only
 *    appears when the data is pathologically duplicated — exactly the
 *    rows one wants colocated anyway. AQE skew-join splitting covers that.
 *  - candidate verification (exact Jaccard) touches only bucket-collided
 *    pairs, never the full cross product.
 */
object Dedup {

  /** Sorted-merge |a ∩ b| as long — see
    * [[graft.functions.SortedIntersectCount]]; inputs MUST be sorted. */
  private def sortedIntersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.SortedIntersectCount(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** (doc hash) → representative = smallest doc_id; dup_cnt per group.
    * One shuffle, partial-agg friendly. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), md5(col(textCol)).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /**
   * Incremental INGEST dedup — the daily-shard shape at 100 TB: a new
   * shard survives a doc iff its text hash is (a) absent from the
   * historical fingerprint index and (b) first (smallest id) within the
   * shard itself. Returns the surviving (id, text_hash) rows.
   *
   * Scale: the index side ships ONLY its 16-byte `text_hash` column
   * (never documents); with the index stored bucketed by hash
   * ([[graft.sources.Tables.writeBucketed]]) the anti-join is
   * shuffle-free on the index side and the (small) daily shard is the
   * only moving data. Intra-shard dedup reuses the same hash exchange
   * the anti-join needs — one shuffle of the shard total.
   */
  def dedupIncremental(
      newDocs: DataFrame, idCol: String, textCol: String,
      corpusIndex: DataFrame, indexHashCol: String): DataFrame = {
    val hashed = newDocs
      .select(col(idCol), md5(col(textCol)).as("text_hash"))
      .repartition(col("text_hash"))
    val idx = corpusIndex.select(col(indexHashCol).as("__idx_hash"))
    hashed
      .join(idx, col("text_hash") === col("__idx_hash"), "left_anti")
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col("text_hash"))
  }

  /** doc_id + k-element MinHash signature (array of md5-hex strings).
    * Narrow: no shuffle. STAGED projections matter: higher-order exprs are
    * interpreted (no codegen CSE), so tokens/shingles must be materialized
    * attributes — not sub-expressions duplicated into each of the k
    * hashes (CollapseProject keeps non-cheap aliases staged). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), TextOps.tokenShingles(col(textCol)).as("sh"))
      .select(col("doc_id"), TextOps.minhashSignature(col("sh"), k).as("sig"))

  /** (doc_id, sh) 3-shingle arrays, repartitioned by doc_id: every
    * downstream consumer (signature pipeline, both Jaccard join sides)
    * shares ONE identical exchange → the corpus is scanned and shingled
    * exactly once per query (ReuseExchange), which at 100 TB is the
    * difference between one pass and four. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // r19: the r18 pre-shingle scan fan-out is REVERTED (the r18 driver
    // data showed it REGRESSING every composed MinHash consumer — an
    // extra exchange + 32 tiny tasks where shingling was never the
    // bottleneck: q_corpus_clean 1.66→2.93 s, q_neardup_incremental
    // 0.45→0.75 s, q_link_graph 0.27→0.43 s). The doc_id staging
    // exchange below already exists; shingling cost rides the scan task
    // at gate scale and the row-group parallelism of any real input.
    docs.select(col(idCol).as("doc_id"),
        TextOps.tokenShingles(col(textCol)).as("sh"))
      .repartition(col("doc_id"))

  /**
   * LSH candidate pairs: docs sharing ≥1 of `bands` band keys.
   * Only (doc_id, band_key) shuffles; the self-join is hash-partitioned
   * on band_key; pairs are deduped (a pair can collide in several bands).
   */
  def candidatePairs(docs: DataFrame, idCol: String, textCol: String, k: Int, bands: Int): DataFrame =
    candidatePairsFromShingles(shingleSets(docs, idCol, textCol), k, bands)

  /**
   * Candidate pairs + exact-Jaccard verification in one plan that scans
   * and shingles the corpus ONCE (shared [[shingleSets]] exchange).
   */
  def verifiedPairs(docs: DataFrame, idCol: String, textCol: String, k: Int, bands: Int): DataFrame = {
    val sh = shingleSets(docs, idCol, textCol)
    jaccardVerifyFromShingles(sh, candidatePairsFromShingles(sh, k, bands))
  }

  /** LSH candidate pairs from a pre-computed [[shingleSets]] frame. */
  def candidatePairsFromShingles(sh: DataFrame, k: Int, bands: Int): DataFrame = {
    val sigs = sh.select(col("doc_id"), TextOps.minhashSignature(col("sh"), k).as("sig"))
    // repartition by band_key: both self-join sides share one identical
    // exchange → ReuseExchange computes the signature pipeline ONCE, and
    // the join needs no further shuffle.
    val banded = sigs
      .select(col("doc_id"), explode(TextOps.bandKeys(col("sig"), k, bands)).as("band_key"))
      .repartition(col("band_key"))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band_key") === col("b.band_key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  /**
   * Skew-proof LSH candidate pairs: [[candidatePairsFromShingles]] dies
   * on DUPLICATE-HEAVY corpora — one document repeated m = 10⁴ times
   * puts all m copies in the same band buckets and the all-pairs bucket
   * join emits O(m²) ≈ 5·10⁷ candidates from that one cluster. No
   * salting or AQE skew-split can help: the OUTPUT itself is quadratic
   * (skew mitigation only re-spreads input rows, it cannot shrink a
   * join's result). The fix has to change what is emitted:
   *
   * buckets up to `maxBucket` emit all pairs (byte-identical to the
   * uncapped operator); larger buckets emit a STAR — every member paired
   * with the bucket's min doc_id hub, O(m) edges. For every downstream
   * CONNECTIVITY consumer (near-dup clustering / connectedComponents /
   * leak-free splits — the reason candidate pairs exist) the star is
   * equivalent: within a bucket, hub-edges connect exactly the same
   * component the all-pairs clique would (spec-proven CC-equal). Only a
   * consumer that re-verifies each candidate pair individually (e.g.
   * exact-Jaccard filtering) wants the uncapped form — a giant bucket
   * means near-certain duplicates anyway, which exact-dedup-first
   * already collapses in [[cleanCorpus]].
   *
   * Cost shape: the per-bucket count/min is a window over the SAME
   * band_key exchange the join reuses (no extra shuffle); a 10⁴-dup
   * corpus produces bands·m star edges instead of bands·m²/2 pairs.
   */
  def candidatePairsCapped(
      sh: DataFrame, k: Int, bands: Int, maxBucket: Int = 64): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val sigs = sh.select(col("doc_id"), TextOps.minhashSignature(col("sh"), k).as("sig"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("band_key"))
    val banded = sigs
      .select(col("doc_id"), explode(TextOps.bandKeys(col("sig"), k, bands)).as("band_key"))
      // band_key is never null (md5-derived), but the JOIN pushes an
      // isnotnull(band_key) into its two sides — stating it explicitly
      // keeps the star branch canonically IDENTICAL to the join sides,
      // so AQE stage-reuses ONE scan→shingle→sig→explode exchange for
      // all three consumers (audited via AqePlanProbe)
      .filter(col("band_key").isNotNull)
      .repartition(col("band_key"))
      .withColumn("m", count(lit(1)).over(w))
      .withColumn("hub", min(col("doc_id")).over(w))
    val small = banded.filter(col("m") <= maxBucket)
    val a = small.as("a")
    val b = small.as("b")
    // merge hint: without it AQE broadcasts one (filtered) side at test
    // scale, whose BroadcastExchange no longer canonically matches the
    // band_key shuffle — and the scan→shingle→signature pipeline runs
    // THREE times (audited). Sort-merge keeps all three consumers (both
    // join sides + the star branch) on the identical exchange →
    // ReusedExchange computes the corpus pass once. At 100 TB the banded
    // frame could never broadcast anyway — this pins the scale plan.
    val allPairs = a.hint("merge")
      .join(b, col("a.band_key") === col("b.band_key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
    val star = banded.filter(col("m") > maxBucket && col("doc_id") =!= col("hub"))
      .select(col("hub").as("id1"), col("doc_id").as("id2"))
    allPairs.unionByName(star).distinct()
  }

  /** (doc_id, band_key) LSH rows for a corpus — the PERSISTABLE near-dup
    * index. At 100 TB this is what lives between snapshots: ~bands rows
    * of (id, 32-byte key) per document, written bucketed by band_key
    * ([[graft.sources.Tables.writeBucketed]]) so incremental probes
    * ([[neardupIncremental]]) join it shuffle-free. */
  def bandKeyIndex(docs: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int): DataFrame =
    shingleSets(docs, idCol, textCol)
      .select(col("doc_id"), TextOps.minhashSignature(col("sh"), k).as("sig"))
      .select(col("doc_id"), explode(TextOps.bandKeys(col("sig"), k, bands)).as("band_key"))

  /**
   * Incremental NEAR-dup — the snapshot-ingest twin of
   * [[dedupIncremental]] (which is exact-hash only): a new shard is
   * probed against the historical [[bandKeyIndex]]; a new doc is flagged
   * iff it shares ≥1 LSH band key with an existing doc, `dup_of` = the
   * smallest matching historical id. Only flagged rows return.
   *
   * Scale: the full corpus is NEVER re-signatured — the index side ships
   * (id, band_key) only, and stored bucketed by band_key the probe join
   * shuffles just the (small) daily shard's band rows. The index is
   * pre-reduced to its per-band MIN id before the join: dup_of is a min
   * over matching (band, historical id) pairs, and min over bands of
   * per-band mins is the same value — so a duplicate-flooded band
   * bucket (10⁴ historical copies) contributes ONE probe row instead of
   * making the join output quadratic. min-aggregation instead of a
   * window keeps both reduces partial-agg friendly.
   */
  def neardupIncremental(newDocs: DataFrame, idCol: String, textCol: String,
      bandIndex: DataFrame, k: Int, bands: Int): DataFrame =
    bandKeyIndex(newDocs, idCol, textCol, k, bands)
      .repartition(col("band_key"))
      .join(
        bandIndex.groupBy(col("band_key")).agg(min(col("doc_id")).as("__ex_id")),
        "band_key")
      .groupBy(col("doc_id"))
      .agg(min(col("__ex_id")).as("dup_of"))

  /** Maintain a persisted [[bandKeyIndex]] across snapshots without a
    * full rebuild: drop the rows of removed docs, append the banded rows
    * of the new shard. Both inputs are id-keyed deltas — at 100 TB the
    * historical index never re-signatures; written back bucketed by
    * band_key the result stays probe-ready ([[neardupIncremental]]).
    * Spec-proven equal to a from-scratch rebuild of the surviving set. */
  def updateBandIndex(index: DataFrame, addedDocs: DataFrame,
      idCol: String, textCol: String, removedIds: DataFrame,
      k: Int, bands: Int): DataFrame = {
    // a multi-column frame would silently treat its FIRST column as the
    // id and delete the wrong rows — make the contract explicit
    require(removedIds.columns.length == 1,
      s"removedIds must be a single-column id frame, got ${removedIds.columns.mkString("[", ",", "]")}")
    val removed = removedIds.select(col(removedIds.columns.head).as("__rm_id"))
    index
      .join(removed, col("doc_id") === col("__rm_id"), "left_anti")
      .unionByName(bandKeyIndex(addedDocs, idCol, textCol, k, bands))
  }

  /**
   * Snapshot diff — dataset-versioning triage between two corpus
   * snapshots: per content hash, is it `added` (only in the new
   * snapshot), `removed` (only in the old), or `common`? Returns
   * (status, n_texts, n_docs_old, n_docs_new). One hash-keyed
   * shuffle per side feeding a full-outer join of two pre-aggregated
   * (hash → count) frames — documents never cross the wire, and the
   * join inputs are already distinct-per-hash so its output is bounded
   * by the distinct-text count.
   */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    def hashed(df: DataFrame) = df
      .select(md5(col(textCol)).as("text_hash"))
      .groupBy(col("text_hash")).agg(count(lit(1)).as("n"))
    val o = hashed(oldDocs).withColumnRenamed("n", "n_old")
    val n = hashed(newDocs).withColumnRenamed("n", "n_new")
    o.join(n, Seq("text_hash"), "full_outer")
      .select(
        when(col("n_old").isNull, lit("added"))
          .when(col("n_new").isNull, lit("removed"))
          .otherwise(lit("common")).as("status"),
        col("n_old"), col("n_new"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_texts"),
        sum(coalesce(col("n_old"), lit(0L))).as("n_docs_old"),
        sum(coalesce(col("n_new"), lit(0L))).as("n_docs_new"))
  }

  /**
   * Corpus-wide duplicated-SPAN removal — the n-gram-grained distributed
   * form of exact-substring training-data dedup (Lee et al. 2022,
   * "Deduplicating Training Data Makes Language Models Better"): every
   * occurrence of a `gram`-token span that appears more than once in the
   * corpus is removed EXCEPT the globally first (smallest (doc_id,
   * position)). Pair detection ([[winnowPairs]]) says who copied whom;
   * this produces the cleaned corpus itself.
   *
   * Returns (doc_id, n_tokens, dup_tokens, n_spans, clean_text) for every
   * document: token count, tokens covered by removed spans, count of
   * maximal CONTIGUOUS removed runs, and the surviving tokens re-joined
   * (normalized: lowercased alnum tokens, single-space separated).
   *
   * Scale: one corpus-wide shuffle of (gram-hash, doc_id, pos) rows is
   * the irreducible price of GLOBAL substring dedup (the distributed
   * stand-in for a suffix array). It is paid as a partial-aggregable
   * groupBy — min(struct(doc_id,pos)) + count per hash, NOT a
   * row_number window (no global per-hash sort); the occurrence join is
   * merge-hinted so both consumers reuse the one gram-hash exchange
   * (an AQE broadcast would break canonical reuse and re-run the gram
   * pipeline per consumer — audited). Everything downstream is ONE
   * per-document pass: token positions left-join the covered-position
   * set, and a single doc-partitioned window + groupBy produces all
   * four outputs (run starts via lag, kept tokens via null-skipping
   * collect_list) — no per-metric re-expansion of the corpus subtree.
   */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
      gram: Int): DataFrame = {
    require(gram >= 2, s"gram must be >= 2, got $gram")
    // repartition by doc_id: the three consumers (gram stream, token
    // positions, per-doc stats) share ONE scan+tokenize exchange.
    // isnotnull(doc_id) is stated explicitly: the downstream left-outer
    // coverage join infers it on ONE gram-pipeline consumer only, which
    // would break canonical exchange reuse with the aggregate consumer
    val toks = docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("tk"))
      .repartition(col("doc_id"))
    // every gram occurrence, hash-partitioned once for both consumers
    val g = toks
      .filter(size(col("tk")) >= gram)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0), size(col("tk")) - gram)).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", slice(col("tk"), col("pos") + 1, lit(gram)))).as("h"))
      // h is never null (md5 of a non-null concat), but the inner join
      // pushes isnotnull(h) into ITS side only — stating it explicitly
      // keeps the aggregate side canonically IDENTICAL, so ReuseExchange
      // runs the tokenize+explode+md5 gram pipeline ONCE for both
      .filter(col("h").isNotNull)
      .repartition(col("h"))
    // first occurrence per duplicated hash: an aggregation (map-side
    // combinable), deliberately not a row_number window
    val firsts = g.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
    // non-first occurrences of duplicated grams = spans to remove
    val d = g.hint("merge").join(firsts, "h")
      .filter(!(col("doc_id") === col("first.doc_id") && col("pos") === col("first.pos")))
      .select(col("doc_id"), col("pos"))
    val cov = d
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (gram - 1))).as("i"))
      .distinct()
      .withColumn("__c", lit(true))
    val tokPos = toks.select(col("doc_id"), posexplode(col("tk")).as(Seq("i", "tok")))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    val agg = tokPos
      .join(cov, Seq("doc_id", "i"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(false)))
      .withColumn("__pc", lag(col("__c"), 1, false).over(wd))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_tokens"),
        sum(when(col("__c"), 1L).otherwise(0L)).as("dup_tokens"),
        sum(when(col("__c") && !col("__pc"), 1L).otherwise(0L)).as("n_spans"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(!col("__c"), struct(col("i"), col("tok"))))),
          x => x.getField("tok"))).as("clean_text"))
    // docs with zero tokens have no token-position rows: restore them
    toks.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /**
   * SimHash near-dup candidate pairs with exact Hamming verification —
   * completes the SimHash dedup path (signature → pairs). Pigeonhole
   * banding: two 64-bit signatures within Hamming distance d MUST agree
   * exactly on at least one of d+1 disjoint bands, so bucketing on each
   * 64/(d+1)-bit band and equi-joining finds every such pair. The corpus
   * text never shuffles: the band join moves (doc_id, band_idx,
   * band_bits) rows, the (doc_id, sig) frame moves once through a
   * shared exchange that both Hamming-verify join sides reuse, and the
   * exact 64-position Hamming filter runs on candidates only.
   */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming in [0,64), got $maxHamming")
    val bands = maxHamming + 1
    val width = 64 / bands // last band absorbs the remainder
    val sigs = docs
      .select(col(idCol).as("doc_id"), TextOps.tokensNative(col(textCol)).as("toks"))
      .select(col("doc_id"), TextOps.simhash64(col("toks")).as("sig"))
      // the bit-string packed into two 32-bit longs: Hamming distance
      // becomes codegen'd xor + bit_count. SimHash band bits are
      // data-CORRELATED (unlike md5-uniform MinHash bands), so buckets
      // can be large and the per-candidate cost must be O(1), not a
      // 64-substring interpreted walk.
      .withColumn("h1", conv(substring(col("sig"), 1, 32), 2, 10).cast("long"))
      .withColumn("h2", conv(substring(col("sig"), 33, 32), 2, 10).cast("long"))
      .repartition(col("doc_id"))
    // only (doc_id, band_idx, band_bits) shuffles for the bucket join;
    // the full signature joins back for CANDIDATE pairs only (same
    // pattern as jaccardVerifyFromShingles), and the (doc_id, sig)
    // frame is one shared exchange for both verify sides
    val banded = sigs.select(
      col("doc_id"),
      explode(array((0 until bands).map { b =>
        val len = if (b == bands - 1) 64 - b * width else width
        struct(lit(b).as("band_idx"), substring(col("sig"), b * width + 1, len).as("band_bits"))
      }: _*)).as("band"))
      .select(col("doc_id"),
        col("band.band_idx").as("band_idx"), col("band.band_bits").as("band_bits"))
      .repartition(col("band_idx"), col("band_bits"))
    val a = banded.as("a")
    val b = banded.as("b")
    val cand = a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_bits") === col("b.band_bits") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    // xor + popcount over the packed halves — the exact same integral
    // count as the oracle's per-position list_filter replay
    val hamming = (
      call_function("bit_count", col("a1").bitwiseXOR(col("b1"))) +
      call_function("bit_count", col("a2").bitwiseXOR(col("b2")))).cast("int")
    cand
      .join(sigs.select(col("doc_id").as("id1"), col("h1").as("a1"), col("h2").as("a2")), "id1")
      .join(sigs.select(col("doc_id").as("id2"), col("h1").as("b1"), col("h2").as("b2")), "id2")
      .select(col("id1"), col("id2"), hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram (3-shingle) Jaccard for given (id1,id2) pairs. Shingle
    * sets are joined in only for candidate pairs. */
  def jaccardVerify(
      docs: DataFrame, idCol: String, textCol: String, pairs: DataFrame): DataFrame =
    jaccardVerifyFromShingles(shingleSets(docs, idCol, textCol), pairs)

  /**
   * The full training-data cleaning pipeline as ONE declarative DAG:
   *
   *   redact → quality filter → exact dedup (keep smallest id)
   *          → MinHash/LSH candidates → exact-Jaccard near-dup removal
   *            (drop every id2 of a verified pair — the one-pass
   *            approximation of greedy keep-smallest-id; transitive
   *            chains can over-delete, the standard corpus-scale trade)
   *
   * Returns the surviving doc ids. Every stage is the shuffle-minimal
   * form used by its standalone operator; Catalyst fuses the narrow
   * stages, AQE sizes the joins. This is the query a 100 TB corpus-prep
   * job actually runs.
   */
  def cleanCorpus(
      docs: DataFrame, idCol: String, textCol: String,
      qualityMin: Double, jaccardMax: Double, k: Int = 8, bands: Int = 4): DataFrame = {
    // the redacted/filtered corpus is consumed by THREE sub-pipelines
    // (exact-dedup hash, the survivor joins, the shingle pipeline) —
    // without a staging exchange each consumer re-runs the scan + both
    // regex passes (the audited plan had 10 parquet scans). One doc_id
    // repartition makes every consumer a ReusedExchange read: the regex
    // work runs once. All consumers need the same (doc_id, text)
    // columns, so column pruning cannot split the shared exchange.
    // r19 (guide §2.5, the crawlStages pattern): fan a small scan out
    // BEFORE the redact+quality regex chain — at sf1-shape inputs the
    // chain ran in the 2 scan tasks (per-job trace: three 2-task jobs, 7.7 s
    // of 8.7 s total). The staging repartition below still dedups the
    // post-regex frame across the three consumers; this exchange
    // parallelizes the regex work itself. Identity on real scans.
    val quals = Scale.fanOutSmallScan(docs, col(idCol))
      .select(col(idCol).as("doc_id"), TextOps.redact(col(textCol)).as("text"))
      .filter(TextOps.qualityScore(col("text")) >= qualityMin)
      .repartition(col("doc_id"))
    // exact dedup keeps the smallest id per text hash. The winner set is
    // computed over (h, doc_id) PAIRS only — a hash aggregate with a
    // 16-byte shuffle row, never a corpus-text sort (an agg that carries
    // the text, e.g. min(struct(id, text)), degrades to SortAggregate:
    // var-length buffers are not hash-aggregable). The text rides back in
    // via a doc_id semi-join of the cheap narrow quals stream; identical
    // quals/winners subtrees below are deduplicated by exchange reuse.
    val exactWinners = quals
      .select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val survivors = quals.join(exactWinners, Seq("doc_id"), "left_semi")
    val sh = shingleSets(survivors, "doc_id", "text")
    val near = jaccardVerifyFromShingles(sh, candidatePairsFromShingles(sh, k, bands))
      .filter(col("jaccard") >= jaccardMax)
    survivors
      .join(near.select(col("id2").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
  }

  /**
   * Corpus-wide PARAGRAPH dedup (the FineWeb/RefinedWeb repeated-
   * paragraph removal step): a trimmed non-empty line survives only at
   * its FIRST occurrence — min (doc_id, position) — across the WHOLE
   * corpus; every later occurrence is removed from its document's
   * emitted text. The paragraph-grained member of the span family:
   * [[dedupSpans]] is n-gram-grained (catches shifted copies),
   * [[TextOps.boilerplate]] is per-source frequency-THRESHOLDED
   * (chrome), this one is global and unconditional (press releases,
   * quoted passages, licence blocks that repeat across sources below
   * any frequency threshold). Output: (doc_id, n_paras, n_kept, text)
   * with kept lines in original order.
   *
   * Scale shape: lines explode to (doc_id, pos, md5) — 16-byte hashes
   * plus two ints; the first-occurrence winner is ONE hash aggregate
   * of min(struct(doc_id, pos)) per line hash (fixed-width,
   * hash-aggregable — never a text sort); kept POSITIONS come back as
   * one int-array per doc and the text is filtered IN PLACE by array
   * index, so line text never shuffles anywhere. One doc_id staging
   * exchange feeds the explode and the join-back (ReusedExchange).
   */
  def dedupParagraphs(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
        filter(transform(split(col(textCol), "\n"), l => trim(l)),
          l => l =!= "").as("lines"))
      .repartition(col("doc_id"))
    val lines = base
      .select(col("doc_id"), posexplode(col("lines")))
      .select(col("doc_id"), col("pos"), md5(col("col")).as("lh"))
    val winners = lines.groupBy(col("lh"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
    val keptPos = lines.join(winners, "lh")
      .filter(col("w.doc_id") === col("doc_id") && col("w.pos") === col("pos"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("kp"))
    base.join(keptPos, Seq("doc_id"), "left")
      .withColumn("kp", coalesce(col("kp"), array().cast("array<int>")))
      .select(col("doc_id"),
        size(col("lines")).as("n_paras"),
        size(col("kp")).as("n_kept"),
        concat_ws("\n",
          expr("transform(kp, i -> element_at(lines, i + 1))")).as("text"))
  }

  /**
   * THE COMPOSED CRAWL-PREP FRONT DOOR — raw HTML pages in, training
   * corpus out, as ONE declarative DAG. [[cleanCorpus]] is the
   * plain-text capstone; this is its crawl-side twin, chaining what
   * previously existed only as eight separate operators:
   *
   *   [[TextOps.extractHtmlText]] → [[TextOps.normalizeUnicode]]
   *   → [[TextOps.boilerplateClean]] (per source)
   *   → [[TextOps.langIdCjk]] routing (keep only `keepLangs`)
   *   → [[TextOps.gopherQualityFlags]] gate (all rules must pass)
   *   → [[TextOps.redactPii]]
   *   → exact dedup (md5 keep-min-id)
   *   → MinHash/LSH near-dup removal (verified Jaccard ≥ `jaccardMax`
   *     drops id2 — the [[cleanCorpus]] one-pass convention)
   *
   * Returns survivors as (doc_id, lang, text): the cleaned, redacted,
   * deduplicated text a tokenizer actually consumes, with the
   * routing label budget math groups by. The composition order is the
   * standard crawl recipe (FineWeb / CCNet): markup and chrome must go
   * BEFORE language/quality gating (chrome tokens poison both), PII
   * before dedup (so the masked form is the dedup identity), dedup
   * last (cheapest corpus is the smallest one, but near-dup hashes
   * must see final text).
   *
   * Scale shape: extraction, normalization, langId, Gopher and PII are
   * pure per-row scan-stage regex/string kernels — they fuse into the
   * stages that feed the real exchanges. Boilerplate's line-frequency
   * pass moves 16-byte line hashes only (never line text). TWO staging
   * `repartition(doc_id)` exchanges (the [[cleanCorpus]] discipline)
   * make each multiply-consumed frame a ReusedExchange read: `routed`
   * feeds the Gopher gate and its own semi-join; the redacted frame
   * feeds the exact-dup hash, the survivor join and the shingle
   * pipeline — without them the whole upstream regex chain re-runs per
   * consumer. The dedup tail is [[cleanCorpus]]'s: a 16-byte hash
   * aggregate for exact, one banded-signature exchange + candidate-only
   * Jaccard verify for near. No driver-side action, no shuffle ever
   * carries raw page HTML.
   */
  def crawlClean(pages: DataFrame, idCol: String, htmlCol: String,
      sourceCol: String, keepLangs: Seq[String],
      boilerFrac: Double = 0.4, jaccardMax: Double = 0.8,
      k: Int = 8, bands: Int = 4): DataFrame =
    crawlStages(pages, idCol, htmlCol, sourceCol, keepLangs, boilerFrac,
      jaccardMax, k, bands).survivors
      .select(col("doc_id"), col("lang"), col("text"))

  /**
   * Per-source FUNNEL over [[crawlClean]]'s stages — the operator
   * dashboard that tells you WHICH stage eats WHICH crawl source (the
   * whole-chain twin of the Gopher-only `q_filter_report`): one row
   * per source with the count surviving each successive gate —
   * n_pages → n_routed (language kept) → n_gated (Gopher pass) →
   * n_exact (exact-dup winner) → n_survivors (near-dup winner).
   * Counts are non-null-marker counts over four doc_id left joins
   * that all reuse the chain's staged exchanges; output is
   * |sources| rows.
   */
  def crawlFunnel(pages: DataFrame, idCol: String, htmlCol: String,
      sourceCol: String, keepLangs: Seq[String],
      boilerFrac: Double = 0.4, jaccardMax: Double = 0.8,
      k: Int = 8, bands: Int = 4): DataFrame =
    crawlFunnelFromStages(pages, sourceCol,
      crawlStages(pages, idCol, htmlCol, sourceCol, keepLangs,
        boilerFrac, jaccardMax, k, bands))

  /** The funnel readout over an ALREADY-BUILT [[CrawlStages]] (r20 —
    * the shared-chain path: when the stage frames are persisted, the
    * counts are tiny per-source aggregates over cache reads and the
    * funnel costs ~nothing beyond the chain it shares). */
  private[graft] def crawlFunnelFromStages(pages: DataFrame,
      sourceCol: String, st: CrawlStages): DataFrame = {
    // per-stage counts as four TINY per-source aggregates over the
    // chain's staged frames (each stage carries `source` through its
    // exchange exactly for this), outer-joined on the |sources|-row
    // axis — NOT four doc_id-wide mark joins back to `pages` (the r17
    // form: its marks re-derived chain subtrees per join and cost as
    // much as the chain itself; measured r18, the funnel's exec wall
    // was ~chain-sized even on a half-size slice).
    def cnt(df: DataFrame, name: String) =
      df.groupBy(col("source")).agg(count(lit(1)).as(name))
    pages.select(col(sourceCol).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_pages"))
      .join(cnt(st.routed, "n_routed"), Seq("source"), "left")
      .join(cnt(st.gated, "n_gated"), Seq("source"), "left")
      .join(cnt(st.exactKept, "n_exact"), Seq("source"), "left")
      .join(cnt(st.survivors, "n_survivors"), Seq("source"), "left")
      .select(col("source"), col("n_pages"),
        coalesce(col("n_routed"), lit(0L)).as("n_routed"),
        coalesce(col("n_gated"), lit(0L)).as("n_gated"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_survivors"), lit(0L)).as("n_survivors"))
  }

  /** The crawl chain's intermediate frames, shared by [[crawlClean]]
    * (survivors) and [[crawlFunnel]] (per-stage counts). */
  private[graft] case class CrawlStages(routed: DataFrame, gated: DataFrame,
      exactKept: DataFrame, survivors: DataFrame) {
    /** Release the frames a persistFrames build registered. */
    def unpersistAll(): Unit = {
      routed.unpersist(false); gated.unpersist(false)
      survivors.unpersist(false)
      ()
    }
  }

  private[graft] def crawlStages(pages: DataFrame, idCol: String,
      htmlCol: String, sourceCol: String, keepLangs: Seq[String],
      boilerFrac: Double, jaccardMax: Double, k: Int, bands: Int,
      persistFrames: Boolean = false): CrawlStages = {
    require(keepLangs.nonEmpty, "keepLangs must be non-empty")
    // NOT staged behind an exchange: boilerplateClean's line-hash pass
    // and its join-back both re-run the extract+normalize regex chain
    // (2 passes), but a measured staging attempt (repartition(doc_id)
    // here) read 4× SLOWER at sf0.1 — the exchange serializes the full
    // page text and breaks AQE's broadcast of the per-source boiler
    // set, costing far more than the second regex pass saves. The two
    // post-boilerplate frames (routed / the redacted pii frame) stay
    // staged — their consumers fan out three ways each.
    // r18 (guide §2.5): fan a one-row-group scan out BEFORE the
    // extract+normalize regex chain — without it the whole chain ran in
    // the single scan task (per-job trace: 1-task jobs of 1.4-2.0 s inside
    // this gate). Scale-adaptive: a real-scale input keeps its splits
    // and no exchange is added. This is NOT the r17 "staging
    // repartition" that measured 4× slower — that one exchanged the
    // EXTRACTED text above the chain (serializing it while the chain
    // still ran in the scan task); this exchange ships the raw pages
    // and moves the chain's execution after it.
    val fanned = Scale.fanOutSmallScan(pages, col(idCol))
    val extracted = fanned.select(col(idCol).as("doc_id"),
      col(sourceCol).as("source"),
      TextOps.normalizeUnicode(TextOps.extractHtmlText(col(htmlCol)))
        .as("text"))
    // `source` rides every staged frame (one small column on the
    // exchange): crawlFunnel's per-stage counts are then direct
    // per-source aggregates on ReusedExchange reads instead of
    // doc_id-wide mark joins back to the pages frame
    // persistFrames (r20, the shared-gate path): cache the three
    // multiply-consumed frames so a SECOND consumer (the funnel
    // readout) reads blocks instead of re-deriving the chain. The
    // repartition staging stays — it is what makes each frame a single
    // subtree for the cache, and the library (non-persisted) path
    // still gets ReusedExchange from it.
    def staged(df: DataFrame): DataFrame =
      if (persistFrames)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
    val routed = staged(TextOps
      .boilerplateClean(extracted, "doc_id", "text", "source", boilerFrac)
      .select(col("doc_id"), col("source"), col("clean_text").as("text"),
        TextOps.langIdCjk(col("clean_text")).as("lang"))
      .filter(col("lang").isin(keepLangs: _*))
      .repartition(col("doc_id")))
    val gateKeep = TextOps.gopherQualityFlags(routed, "doc_id", "text")
      .filter(col("keep")).select(col("doc_id"))
    val pii = staged(routed.join(gateKeep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"), col("lang"),
        TextOps.redactPii(col("text")).as("text"))
      .repartition(col("doc_id")))
    val exactWinners = pii
      .select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val exactKept = pii.join(exactWinners, Seq("doc_id"), "left_semi")
    val sh = shingleSets(exactKept, "doc_id", "text")
    val near = jaccardVerifyFromShingles(sh, candidatePairsFromShingles(sh, k, bands))
      .filter(col("jaccard") >= jaccardMax)
    val survivors = staged(exactKept
      .join(near.select(col("id2").as("doc_id")).distinct(), Seq("doc_id"), "left_anti"))
    CrawlStages(routed, pii, exactKept, survivors)
  }

  /**
   * Cross-corpus contamination check (benchmark decontamination): count
   * shared n-grams between every (train, eval) document pair that
   * collides at all. Both sides explode to (ngram-hash, id) and
   * equi-join on the hash — shuffle keyed by md5-uniform n-grams, cost
   * proportional to actual collisions, never a document cross product.
   * At 100 TB the eval side is tiny → its exploded shingles broadcast.
   */
  def crossContamination(
      train: DataFrame, eval_ : DataFrame, idCol: String, textCol: String,
      minShared: Long): DataFrame = {
    def grams(df: DataFrame, as: String) = df
      .select(col(idCol).as(as), explode(TextOps.tokenShingles(col(textCol))).as("g"))
      .select(col(as), md5(col("g")).as("gh"))
      .distinct() // count each shared distinct n-gram once
    grams(train, "train_id")
      .join(broadcast(grams(eval_, "eval_id")), "gh")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  /**
   * N-gram novelty score: per document, the fraction of its distinct
   * 3-shingles that appear NOWHERE else in the corpus (document frequency
   * 1). High novelty = original content; low novelty = boilerplate or
   * near-copies — the complement of a dedup signal, and a cheap
   * memorization-risk proxy (a doc whose grams all recur is likely
   * templated).
   *
   * Scale shape: the corpus explodes once to distinct (doc_id, gram-md5)
   * pairs staged behind ONE gram-keyed exchange; the df-count aggregation
   * and the probe join both consume that exchange (ReusedExchange), so
   * the text is scanned, shingled and shuffled exactly once. Only 16-byte
   * hashes move — never gram text.
   */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val g = docs
      .select(col(idCol).as("doc_id"), explode(TextOps.tokenShingles(col(textCol))).as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh"))
      // repartition BEFORE the distinct: HashPartitioning(gh) satisfies
      // the (doc_id, gh) distinct's clustering, so the dedup runs
      // partition-local on the same exchange the df-count and probe
      // join reuse — distinct-then-repartition shuffled the full gram
      // set TWICE (measured 2.2s → 1.6s at sf0.1)
      .repartition(col("gh"))
      .distinct()
    val dfc = g.groupBy(col("gh")).agg(count(lit(1)).as("df"))
    g.join(dfc, "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_grams"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_grams").cast("double"), 6)
          .as("novelty"))
  }

  /**
   * Cross-source duplication matrix: for every (source, source) pair,
   * how many verified near-duplicate document pairs span it and their
   * mean Jaccard — the triage view that tells a corpus owner WHICH feeds
   * duplicate each other (and themselves) before any removal runs.
   *
   * Built on [[verifiedPairs]] (one shared shingle exchange, banded
   * candidates only — never all-pairs); sources join back on the doc id
   * and the pair key is order-normalized so (a,b) and (b,a) collapse.
   * The mean is an exact integer-micro sum (order-free under any
   * partitioning) divided once at output.
   */
  def dupMatrix(docs: DataFrame, idCol: String, textCol: String, sourceCol: String,
      k: Int, bands: Int, minJaccard: Double): DataFrame = {
    val pairs = verifiedPairs(docs, idCol, textCol, k, bands)
      .filter(col("jaccard") >= minJaccard)
      .select(col("id1"), col("id2"),
        round(col("jaccard") * 1e6).cast("long").as("j_micro"))
    val src = docs.select(col(idCol).as("did"), col(sourceCol).as("src"))
    pairs
      .join(src.select(col("did").as("id1"), col("src").as("src1")), "id1")
      .join(src.select(col("did").as("id2"), col("src").as("src2")), "id2")
      .select(least(col("src1"), col("src2")).as("source_a"),
        greatest(col("src1"), col("src2")).as("source_b"), col("j_micro"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("j_micro")).cast("double") / count(lit(1)).cast("double") / 1e6, 6)
          .as("avg_jaccard"))
  }

  /**
   * Connected components over a near-duplicate pair graph — turns
   * pairwise dedup hits into CLUSTERS (each document labeled with the
   * smallest doc id reachable through any chain of near-dup pairs), the
   * form a corpus-prep job actually consumes: keep one representative
   * per cluster, or audit whole clusters.
   *
   * Algorithm: iterated min-label propagation with pointer jumping.
   *   hop:  label(v) ← min(label(v), min over neighbors u of label(u))
   *   jump: label(v) ← min(label(v), label(label(v)))
   * to fixpoint. The hop step alone advances the min label one edge per
   * round (O(diameter) rounds — a 1000-hop chain would silently split at
   * any fixed maxIter); the jump step treats the current labeling as a
   * parent forest and halves the remaining path each round, so combined
   * convergence is O(log diameter) — 25 rounds covers diameter ~2^25.
   * Each round is two shuffles (edges ⋈ labels + min-aggregate; then the
   * label self-join for the jump). The fixpoint is unique (min over a
   * connected component), so the result is deterministic under any
   * partitioning; `localCheckpoint` truncates the per-round lineage so
   * the plan does not grow with iterations.
   *
   * `nodes` carries every vertex (isolated docs keep their own id as
   * cluster). Convergence is detected by the monotone label sum; if the
   * loop exits on maxIter without reaching the fixpoint the result would
   * be silently WRONG (split clusters), so that case throws instead.
   */
  def connectedComponents(nodes: DataFrame, idCol: String,
      pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // checkpoint the edge list ONCE: every round joins against it, and
    // without this the whole upstream pair pipeline (minhash + banding +
    // self-join) would re-execute per round (measured 2× end-to-end on
    // the doc-cluster query)
    // r19: LAZY checkpoint — the first round's label-sum action
    // materializes it inside its own job; an eager checkpoint here was
    // one extra serial driver job per CC invocation (seven cluster
    // gates pay this path). And the edge list is HASH-PARTITIONED +
    // SORTED on src BEFORE the checkpoint (localCheckpoint preserves
    // outputPartitioning/ordering in its LogicalRDD): every round's
    // edges⋈labels join then reuses the stored layout — only the small
    // per-round label frame moves, instead of the r18 shape where the
    // planner re-BROADCAST the whole checkpointed edge list every
    // round (a 46-task broadcast build per round; CC wall
    // on the q_embed_clusters graph 6.9 → 3.8 s). At 100 TB the same
    // layout turns each round into a one-sided exchange — strictly
    // fewer bytes per round for one extra edge exchange at setup.
    val sym = pairs
      .select(col("id1").as("src"), col("id2").as("dst"))
      .union(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .repartition(col("src"))
      .sortWithinPartitions(col("src"))
      .localCheckpoint(eager = false)
    // r18: no eager checkpoint on the seed labels — their lineage is
    // one shallow projection (iteration 1's checkpoint truncates
    // everything anyway), and the eager job cost one serial barrier per
    // CC call across the seven cluster-family gates.
    var labels = nodes.select(col(idCol).as("node"), col(idCol).cast("long").as("lbl"))
    // convergence = the monotone non-increasing label sum went flat;
    // decimal(38,0) keeps the sum exact at any node count / id magnitude
    // (a long sum would overflow at ~1e9 nodes of ~1e9 ids)
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = lblSum(labels)
    var converged = false
    var iter = 0
    // near-dup clusters are DENSE (small diameter): hop-only rounds are
    // one shuffle each and converge in a handful. The jump step costs an
    // extra self-join + materialization per round, so it stays off until
    // hop-only has clearly stalled (a long-chain graph) — then it takes
    // the remaining distance in O(log diameter).
    val jumpAfter = 6
    while (!converged && iter < maxIter) {
      val propagated = sym
        .join(labels.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("lbl"))
      val hop = labels.union(propagated)
        .groupBy(col("node"))
        .agg(min(col("lbl")).as("lbl"))
      val next = (if (iter < jumpAfter) hop else {
        // pointer jump: follow the label one more step through the
        // current labeling (lbl is itself a node id). Left join — a node
        // whose label is already a cluster root maps to itself.
        // lazy: both self-join sides materialize it inside the next job
        val h = hop.localCheckpoint(eager = false)
        h.join(h.select(col("node").as("__jn"), col("lbl").as("__jl")),
            col("lbl") === col("__jn"), "left")
          .select(col("node"),
            least(col("lbl"), coalesce(col("__jl"), col("lbl"))).as("lbl"))
      }).localCheckpoint(eager = false)
      // r19: the checkpoint above is LAZY, so THIS action both decides
      // convergence and materializes the round's label frame — one job
      // per round where the r18 form ran two (eager checkpoint + sum)
      val s = lblSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
        "result would contain split clusters; raise maxIter")
    labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /**
   * Semantic near-dup clusters over an embedding corpus with
   * EXACT-DUPLICATE COLLAPSE — the duplicate-heavy-corpus form of
   * "CC over [[Similarity.nearDupPairsLsh]] pairs". The 10× scale-stress
   * measured the uncollapsed pipeline at 32× wall on a 10×-duplicated
   * corpus: m byte-identical copies of a vector share every SRP band
   * bucket, so candidate pairs (and the CC edge list) grow ~m² while
   * the real information grows ~m. Collapsing identical vectors to
   * their min-id representative FIRST ([[Similarity.exactDupReps]]),
   * clustering representatives only, then rejoining members is
   * EXACTLY output-equivalent (spec-proven): identical vectors have
   * identical signatures — so (copyA, copyB) is a candidate iff
   * (repA, repB) is — and verify at cosine 1, so every copy lands in
   * its representative's component with the same min-id cluster label.
   *
   * Input is a [[Similarity.prepared]] corpus; output (vec_id,
   * cluster_id) for every input row.
   *
   * SCALE CONTRACT (measured, Sf1Soak r16 — the DISTINCT-corpus
   * decade): `bandBits` is the bucket-occupancy lever, exactly like
   * IVF's k. 2^bandBits band values must grow with the corpus:
   * bandBits=4 (16 values) on a 20k unstructured corpus measured
   * 36.5× wall at ×10 rows (per-band occupancy n/16 ⇒ ~n² candidate
   * pairs); bandBits=8 reads 10.3× (262 s → 26 s at ×10). The
   * `threshold` couples in: on unstructured high-dim data a LOW
   * threshold (the 0.4 demo setting) admits ~0.07% of ALL random
   * pairs, which percolates the cluster graph into one giant
   * component at ~10⁴ vectors regardless of banding — clustering at
   * scale needs dedup-realistic thresholds (≥ 0.9, where per-band
   * collision probability collapses) AND band bits sized to n.
   */
  def embedClustersCollapsed(corpus: DataFrame, threshold: Double,
      planes: Int, bandBits: Int, dim: Int): DataFrame = {
    // r18: materialize the collapse ONCE (disk-backed local checkpoint,
    // recomputed from source on every invocation). Downstream it feeds
    // THREE separate jobs — the CC edge-list checkpoint, the CC label
    // seed checkpoint, and the final member re-join — and cross-JOB
    // exchange reuse does not exist, so without this the scan + the
    // vector-content window ran three times.
    val withReps = Similarity.exactDupReps(corpus)
      .localCheckpoint(eager = false) // first consumer materializes (r19)
    val reps = withReps.filter(col("vec_id") === col("rep_id"))
      .select(col("vec_id"), col("v"), col("nrm"))
    val cc = connectedComponents(reps.select(col("vec_id")), "vec_id",
      Similarity.nearDupPairsLsh(reps, threshold, planes, bandBits, dim)
        .select(col("id1"), col("id2")))
    withReps.select(col("vec_id"), col("rep_id"))
      .join(cc.select(col("doc_id").as("rep_id"), col("cluster_id")), "rep_id")
      .select(col("vec_id"), col("cluster_id"))
  }

  /**
   * [[embedClustersCollapsed]] with the band arity SIZED TO THE CORPUS
   * ([[Similarity.bandBitsFor]]) — the default front door, closing the
   * SCALE CONTRACT above: the caller no longer has to know that
   * 2^bandBits must track n (the r16 soak's 36.5× vs 10.3× decade).
   * Sizing costs ONE narrow count of the corpus ids (an upper bound on
   * the post-collapse representative count — erring toward MORE
   * buckets, the safe direction); everything downstream is the
   * explicit-arity operator unchanged, so `embedClustersAuto(c, t, d)`
   * ≡ `embedClustersCollapsed(c, t, planes, bandBitsFor(n), d)`
   * (spec-pinned). The `threshold` half of the contract still holds:
   * clustering at scale needs dedup-realistic thresholds (≥ 0.9) —
   * banding arity cannot fix percolation at bulk thresholds.
   */
  def embedClustersAuto(corpus: DataFrame, threshold: Double, dim: Int,
      planes: Int = 64): DataFrame = {
    val b = Similarity.bandBitsFor(corpus.count(), planes)
    embedClustersCollapsed(corpus, threshold, planes, b, dim)
  }

  /**
   * Pick ONE representative document per near-dup cluster — the step
   * after [[connectedComponents]] in a corpus-prep job: of each cluster
   * keep the highest-scoring member (ties → smallest doc id).
   *
   * `clusters` is (doc_id, cluster_id); `scores` is (doc_id, <scoreCol>).
   * Returns (cluster_id, rep_id, rep_<scoreCol>, n_members). One equi-join
   * on doc_id + one window over cluster_id; the rank and the member count
   * share the window exchange, so the whole op is two shuffles end-to-end
   * regardless of corpus size.
   */
  def clusterRepresentatives(clusters: DataFrame, scores: DataFrame,
      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster_id"))
    clusters
      .join(scores, "doc_id")
      .withColumn("__rn", row_number().over(
        w.orderBy(col(scoreCol).desc, col("doc_id").asc)))
      .withColumn("n_members", count(lit(1)).over(w))
      .filter(col("__rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("rep_id"),
        col(scoreCol).as(s"rep_$scoreCol"), col("n_members"))
  }

  /** Jaccard verification from a pre-computed [[shingleSets]] frame. */
  def jaccardVerifyFromShingles(sh: DataFrame, pairs: DataFrame): DataFrame = {
    // r19 note: swapping this for sort_array + the merge-count kernel
    // (the PPJoin verify trick) was A/B'd and LOST here — LSH banding
    // admits few candidate pairs (the per-pair hash-set build is cheap),
    // while the sort costs O(n log n) per DOCUMENT; the PPJoin family
    // keeps the kernel because its sets are already sort_array outputs
    // and its candidate volume is 1000× larger.
    val dsh = sh.select(col("doc_id"), array_distinct(col("sh")).as("dsh"))
    // no broadcast HINT on purpose: pairs is usually tiny (AQE converts
    // to broadcast at runtime), but on a duplicate-heavy 100 TB corpus it
    // can be huge — a forced broadcast would OOM the driver, while the
    // shuffle join keeps working (corpus side reuses the doc_id exchange).
    val j = pairs
      .join(dsh.select(col("doc_id").as("id1"), col("dsh").as("sh1")), "id1")
      .join(dsh.select(col("doc_id").as("id2"), col("dsh").as("sh2")), "id2")
    val inter = size(array_intersect(col("sh1"), col("sh2"))).cast("double")
    val union = (size(col("sh1")) + size(col("sh2"))).cast("double") - inter
    j.select(
      col("id1"), col("id2"),
      round(inter / union, 6).as("jaccard"))
  }

  /**
   * ASYMMETRIC containment for LSH candidate pairs — catches the
   * near-dup family symmetric Jaccard misses: a short document embedded
   * inside a much longer one (quoted articles, boilerplate-wrapped
   * bodies, chunk-of-a-book). For shingle sets A, B:
   *
   *   c_fwd = |A∩B| / |A|   (how much of doc1 lives inside doc2)
   *   c_rev = |A∩B| / |B|   (how much of doc2 lives inside doc1)
   *
   * A 95%-contained 1-page quote inside a 300-page book has Jaccard
   * ≈ 0.003 (invisible to [[verifiedPairs]]) but c_fwd ≈ 0.95. Note the
   * recall asymmetry is inherited from MinHash banding: candidate
   * GENERATION still keys on symmetric signature collisions, so
   * extreme-ratio pairs surface only when band keys collide — the
   * standard corpus-dedup trade (suffix-array substring dedup is the
   * exhaustive alternative and is not bucket-joinable). Same plan shape
   * as [[verifiedPairs]]: the corpus is scanned and shingled ONCE
   * (shared [[shingleSets]] exchange feeds the band join and both
   * verify sides), exact intersection runs on candidates only.
   */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int): DataFrame = {
    val sh = shingleSets(docs, idCol, textCol)
    val dsh = sh.select(col("doc_id"), array_distinct(col("sh")).as("dsh"))
    val j = candidatePairsFromShingles(sh, k, bands)
      .join(dsh.select(col("doc_id").as("id1"), col("dsh").as("sh1")), "id1")
      .join(dsh.select(col("doc_id").as("id2"), col("dsh").as("sh2")), "id2")
    val inter = size(array_intersect(col("sh1"), col("sh2"))).cast("double")
    j.select(
      col("id1"), col("id2"),
      round(inter / size(col("sh1")).cast("double"), 6).as("c_fwd"),
      round(inter / size(col("sh2")).cast("double"), 6).as("c_rev"))
  }

  /**
   * Containment DEDUP — the actionable form of [[containmentPairs]]:
   * for every candidate pair where one side is ≥ `thr` contained in
   * the other, drop the CONTAINED document (the quote, the excerpt,
   * the boilerplate-wrapped copy) and keep the superset; mutual
   * containment (near-identical) keeps the smaller id. One-pass
   * greedy like [[cleanCorpus]]'s near-dup stage — transitive chains
   * can over-delete, the standard corpus-scale trade. Returns the
   * surviving doc ids.
   */
  def containmentDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, thr: Double = 0.9): DataFrame = {
    val pairs = containmentPairs(docs, idCol, textCol, k, bands)
    val drops = pairs
      .filter(col("c_fwd") >= thr || col("c_rev") >= thr)
      .select(
        when(col("c_fwd") >= thr && col("c_rev") >= thr, col("id2")) // mutual: keep min id
          .when(col("c_fwd") >= thr, col("id1")) // doc1 ⊂ doc2: drop the contained doc1
          .otherwise(col("id2")).as("doc_id"))
      .distinct()
    docs.select(col(idCol).as("doc_id")).join(drops, Seq("doc_id"), "left_anti")
  }

  /**
   * EXACT set-similarity join via prefix filtering (the PPJoin family,
   * Xiao et al. 2008 — public method): every pair of documents whose
   * 3-shingle-set Jaccard ≥ tNum/tDen, with NO false negatives — the
   * exact complement to the probabilistic MinHash/LSH path when a
   * dedup decision must be complete (compliance-grade
   * decontamination, eval-set isolation). Shingles, not raw tokens:
   * on templated corpora token SETS are non-discriminative (measured
   * 92k of 125k sf0.01 pairs above token-set J ≥ 0.5, vs 25 real
   * near-dup pairs at shingle level).
   *
   * Prefix filter: order all shingles by ascending document frequency
   * (rarest first, ties on value); a doc with n distinct shingles
   * keeps prefix p = n − ⌈t·n⌉ + 1. Two sets with J ≥ t MUST share a
   * prefix element under any consistent global order, so the
   * candidate join touches only prefix collisions — df-ascending
   * order makes those the RAREST elements, so blocks are the smallest
   * possible and a boilerplate shingle never fans out.
   *
   * Everything is integer-exact: the ceiling is (tNum·n + tDen−1) div
   * tDen, and the final test is tDen·inter ≥ tNum·union — no float
   * threshold anywhere, so any engine replays it bit-for-bit (the
   * oracle generates candidates from ALL shared tokens, proving the
   * prefix filter lost nothing). One token-keyed exchange stages the
   * df join; one doc-keyed exchange feeds the prefix window, the
   * token-set aggregate, and both verify sides (ReusedExchange).
   */
  def similarityJoinExact(docs: DataFrame, idCol: String, textCol: String,
      tNum: Int = 1, tDen: Int = 2): DataFrame = {
    val (staged, prefixes) = ppjoinPrefixes(docs, idCol, textCol, tNum, tDen)
    // length-compatibility bound (classic PPJoin companion filter):
    // J ≥ t forces t·|y| ≤ |x| ≤ |y|/t, so size-incompatible pairs are
    // pruned INSIDE the candidate join, before the distinct and the
    // array verify (24% fewer candidates on the sf0.1 corpus; far more
    // on corpora with real length spread).
    // r18: plus the PPJoin POSITIONAL filter (Xiao et al. WWW 2008
    // §3.2): a token matched at df-rank i of x and j of y bounds the
    // overlap by 1 + min(|x|-i, |y|-j); Jaccard ≥ t needs overlap ≥
    // ⌈t/(1+t)·(|x|+|y|)⌉, i.e. (1+min)·(tNum+tDen) ≥ tNum·(nx+ny).
    // No false negatives (the bound is an upper bound on the true
    // overlap), so the verified output is unchanged — measured 310k →
    // 125k candidates on the sf0.1 corpus.
    val cand = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.token") === col("b.token") && col("a.doc_id") < col("b.doc_id") &&
        col("a.n") * tDen >= col("b.n") * tNum &&
        col("b.n") * tDen >= col("a.n") * tNum &&
        (lit(1L) + least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn"))) *
          lit(tNum + tDen) >= (col("a.n") + col("b.n")) * lit(tNum))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    verifyJaccard(cand, staged, tNum, tDen)
  }

  /**
   * The PPJoin front both exact joins share: tokenize each document
   * into its distinct 3-shingles, rank them by ascending document
   * frequency (ties on value), and keep each document's prefix of
   * n − ⌈t·n⌉ + 1 tokens. Returns `(staged, prefixes)`:
   *  - `staged`: one row per (doc_id, token) with the set size `n` and
   *    the token's `df`, partitioned by doc_id;
   *  - `prefixes`: the prefix rows (doc_id, token, n, rn), with `rn`
   *    the token's 1-based df rank in its document, partitioned by
   *    token for the candidate join.
   */
  private[graft] def ppjoinPrefixes(docs: DataFrame, idCol: String, textCol: String,
      tNum: Int, tDen: Int): (DataFrame, DataFrame) = {
    require(tNum > 0 && tDen >= tNum, s"threshold must be in (0,1]: $tNum/$tDen")
    import org.apache.spark.sql.expressions.Window
    // r18 optimization (guide §2.3/§2.4): df via ONE window over a token
    // exchange instead of groupBy+join — the join form tokenized the
    // corpus once per freq consumer AND once per join side (the sf0.01
    // plan ran the scan+shingle Generate 8×); the set size n is
    // size(array_distinct(...)) computed BEFORE the explode, replacing a
    // second whole-partition window pass. Values are identical: the
    // freq join was inner on a key that always matches (df ≥ 1 by
    // construction), so no row is lost, and n == the per-doc staged row
    // count the old window counted. fanOutSmallScan: a one-row-group
    // input otherwise tokenizes serially in the single scan task.
    val dtok = Scale.fanOutSmallScan(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("__t")),
        col("doc_id"))
      .select(col("doc_id"),
        array_distinct(TextOps.tokenShingles(col("__t"))).as("arr"))
      .select(col("doc_id"), size(col("arr")).cast("long").as("n"),
        explode(col("arr")).as("token"))
    val byTok = Window.partitionBy(col("token"))
    // one doc-keyed exchange for the window, the set aggregate, and
    // both verify joins
    val staged = dtok.repartition(col("token"))
      .withColumn("df", count(lit(1)).over(byTok))
      .repartition(col("doc_id"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val ranked = staged
      .withColumn("rn", row_number().over(byDoc.orderBy(col("df").asc, col("token").asc)))
      .withColumn("pfx_len",
        col("n") - expr(s"($tNum * n + ${tDen - 1}) div $tDen") + lit(1L))
    val prefixes = ranked.filter(col("rn") <= col("pfx_len"))
      .select(col("doc_id"), col("token"), col("n"), col("rn"))
      .repartition(col("token"))
    (staged, prefixes)
  }

  /** The exact verify both PPJoins end with: each candidate pair
    * (id1, id2) joins both docs' sorted token sets from
    * [[ppjoinPrefixes]]' `staged`, and survives iff tDen·inter ≥
    * tNum·union. Output: (id1, id2, jaccard rounded to 6 dp). */
  private[graft] def verifyJaccard(cand: DataFrame, staged: DataFrame,
      tNum: Int, tDen: Int): DataFrame = {
    val sets = staged.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("token"))).as("toks"), count(lit(1)).as("n"))
    // r18: sorted-merge intersection count (allocation-free kernel)
    // instead of size(array_intersect(...)) — same value on these
    // sorted distinct arrays, 3.2 s → ~0 of the sf0.1 wall (see
    // [[graft.functions.SortedIntersectCount]]).
    val j = cand
      .join(sets.select(col("doc_id").as("id1"), col("toks").as("t1"), col("n").as("n1")), "id1")
      .join(sets.select(col("doc_id").as("id2"), col("toks").as("t2"), col("n").as("n2")), "id2")
      .withColumn("inter", sortedIntersectCount(col("t1"), col("t2")))
      .withColumn("un", col("n1") + col("n2") - col("inter"))
      .filter(col("inter") * tDen >= col("un") * tNum)
    j.select(col("id1"), col("id2"),
      round(col("inter").cast("double") / col("un").cast("double"), 6).as("jaccard"))
  }

  /**
   * Flood-guarded [[similarityJoinExact]]: a prefix token shared by
   * m > `maxBlock` documents (a 10⁴-duplicate flood — df-ascending
   * prefix selection already keeps boilerplate OUT of prefixes on
   * healthy corpora, but identical duplicates share their whole rare
   * prefix) would generate m²/2 candidates from that block. Here such
   * blocks contribute min-id STAR candidates instead (hub × member,
   * O(m)); every candidate — star or not — still passes the EXACT
   * integer Jaccard verification, so each emitted pair is true.
   *
   * Contract: blocks ≤ maxBlock are byte-identical to the uncapped
   * operator. The guarantee weakens from "no false negatives" to "no
   * false negatives except pairs whose ONLY shared prefix tokens sit
   * in flooded blocks and which don't involve those blocks' hubs" —
   * for a duplicate flood this is exactly the right trade: members
   * verify against the hub at J = 1 and [[connectedComponents]]
   * recovers the clique (spec-proven CC-equal). Compliance-grade
   * exhaustive joins should pre-collapse exact duplicates
   * ([[exactDedup]]) and use the uncapped form.
   */
  def similarityJoinExactCapped(docs: DataFrame, idCol: String, textCol: String,
      tNum: Int = 1, tDen: Int = 2, maxBlock: Int = 64): DataFrame = {
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    val (staged, prefixes) = ppjoinPrefixes(docs, idCol, textCol, tNum, tDen)
    val c = cappedCandidates(prefixes, tNum, tDen, maxBlock)
    verifyJaccard(c.small.unionByName(c.star).distinct(), staged, tNum, tDen)
  }

  /** [[similarityJoinExactCapped]]'s candidate frames, each a pair
    * list (id1, id2) unless noted:
    *  - `pairFirst`: small-block pairs before the positional filter,
    *    with sizes n1, n2 and each side's first shared rank i, j;
    *  - `floodMin`: per doc with a flooded prefix token, its first
    *    flooded rank `fmin` (doc_id, fmin);
    *  - `small`: `pairFirst` after the sound positional filter;
    *  - `star`: hub × member pairs of the flooded blocks. */
  private[graft] final case class CappedCandidates(
      pairFirst: DataFrame, floodMin: DataFrame, small: DataFrame, star: DataFrame)

  private[graft] def cappedCandidates(prefixes: DataFrame, tNum: Int, tDen: Int,
      maxBlock: Int): CappedCandidates = {
    import org.apache.spark.sql.expressions.Window
    val byTok = Window.partitionBy(col("token"))
    val blocks = prefixes
      .withColumn("m", count(lit(1)).over(byTok))
      .withColumn("hub", min(col("doc_id")).over(byTok))
    val small = blocks.filter(col("m") <= maxBlock)
    // r19 (the r18 NOTE resolved): [[similarityJoinExact]]'s positional
    // filter is only sound at the pair's GLOBALLY-first shared prefix
    // token, and in the capped operator that token may live in a
    // flooded block (routed to the star branch) — the r18 blanket
    // per-row filter wrongly pruned such pairs (oracle: a J=0.987 pair
    // vanished). Sound extension: aggregate the pairwise branch per
    // pair and take min(rn) on each side — shared tokens rank in the
    // SAME global (df, token) order in both docs, so both minima are
    // attained by the same token, the pair's first shared SMALL-block
    // token. That token is the pair's globally-first shared prefix
    // token unless a doc has a FLOODED prefix token at an earlier rank
    // (any earlier shared token would otherwise be small-blocked and
    // have produced a smaller-rank candidate row). So the positional
    // bound applies only when min(rn) precedes each doc's first flooded
    // prefix rank; every other pair passes through unfiltered, and star
    // candidates are untouched. Pruned pairs provably verify below t,
    // so the verified output is unchanged.
    val floodMin = blocks.filter(col("m") > maxBlock)
      .groupBy(col("doc_id")).agg(min(col("rn")).as("fmin"))
    val pairFirst = small.as("a").hint("merge")
      .join(small.as("b"),
        col("a.token") === col("b.token") && col("a.doc_id") < col("b.doc_id") &&
        col("a.n") * tDen >= col("b.n") * tNum &&
        col("b.n") * tDen >= col("a.n") * tNum)
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.n").as("n1"), col("b.n").as("n2"),
        col("a.rn").as("rn1"), col("b.rn").as("rn2"))
      .groupBy(col("id1"), col("id2"), col("n1"), col("n2"))
      .agg(min(col("rn1")).as("i"), min(col("rn2")).as("j"))
    val candSmall = pairFirst
      .join(floodMin.select(col("doc_id").as("id1"), col("fmin").as("f1")),
        Seq("id1"), "left")
      .join(floodMin.select(col("doc_id").as("id2"), col("fmin").as("f2")),
        Seq("id2"), "left")
      .filter(
        col("i").cast("long") >= coalesce(col("f1").cast("long"), lit(Long.MaxValue)) ||
        col("j").cast("long") >= coalesce(col("f2").cast("long"), lit(Long.MaxValue)) ||
        (lit(1L) + least(col("n1") - col("i"), col("n2") - col("j"))) *
          lit(tNum + tDen) >= (col("n1") + col("n2")) * lit(tNum))
      .select(col("id1"), col("id2"))
    val candStar = blocks.filter(col("m") > maxBlock && col("doc_id") =!= col("hub"))
      .select(col("hub").as("id1"), col("doc_id").as("id2"))
    CappedCandidates(pairFirst, floodMin, candSmall, candStar)
  }

  /**
   * Winnowing fingerprint pairs (Schleimer, Wilkerson, Aiken 2003 —
   * the MOSS local fingerprinting algorithm, public method): detects
   * COPIED SPANS — quoted articles, license blocks, lifted paragraphs
   * — that whole-document similarity cannot see. Per document, over
   * the whitespace-collapsed lowercase text: k-char-gram rolling
   * hashes (md5-derived 32-bit), then every w-window of consecutive
   * hashes contributes its MINIMUM; the distinct minima are the
   * fingerprint set. Winnowing guarantee: any shared substring of
   * length ≥ w+k−1 chars produces w consecutive identical hashes in
   * both documents, whose window minimum is the same VALUE — so the
   * pair shares ≥1 fingerprint (property-tested). Expected density
   * 2/(w+1): a doc keeps ~25% of its gram hashes at w=8, so the
   * fingerprint join moves a quarter-sized (doc_id, fp) projection,
   * never text. VALUE-min selection (not MOSS's rightmost-position
   * tie-break) keeps the set a pure function of the text — engine-
   * replayable.
   *
   * Plan — EXPLODED, not array-HOF: gram positions explode to rows, so
   * md5 runs CODEGEN'D once per gram, and the w-window minimum is a
   * sliding ROWS frame over (doc_id, pos) — one doc_id exchange that
   * the per-doc gram count and the fingerprint dedup both reuse. (The
   * obvious transform/slice array form is a trap: Catalyst HOFs have
   * no CSE and CollapseProject inlines the staged gram array into the
   * window lambda, re-hashing the whole document per window position —
   * O(len·w·len) per doc with the normalization regex inside; measured
   * 37 CPU-minutes for ONE sf0.1 partition before this rewrite.) The
   * fp self-join ships only (doc_id, fp) longs; hot boilerplate
   * fingerprints are the same accepted skew class as LSH band buckets
   * (AQE skew-join splits them).
   */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 24, w: Int = 8, minShared: Long = 2L): DataFrame = {
    val tk = winnowFingerprints(docs, idCol, textCol, k, w)
    tk.as("a")
      .join(tk.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
  }

  /** The fingerprint front of [[winnowPairs]] and [[winnowPairsCapped]]:
    * distinct (doc_id, fp) winnowing fingerprints, repartitioned by fp
    * for the self-join. */
  private def winnowFingerprints(docs: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): DataFrame = {
    require(k >= 2 && w >= 2, s"need k,w >= 2, got k=$k w=$w")
    import org.apache.spark.sql.expressions.Window
    // r18 (guide §2.5): fan a one-row-group scan out before the
    // normalize+per-gram-md5 chain — a single parquet file plans as ONE
    // scan task, and without the fan-out the whole corpus hashed on one
    // core (per-job trace: one 4 s task). Scale-adaptive: real inputs keep
    // their splits and no exchange is added; the gram-row exchange
    // below is unchanged (its AQE-coalesced reads size the window's
    // buffers on the post-explode bytes, the scale-safe direction).
    val nr = Scale.fanOutSmallScan(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("__raw")),
        col("doc_id"))
      .select(col("doc_id"),
        regexp_replace(lower(col("__raw")), "\\s+", " ").as("nrm"))
    // one row per gram start; a doc shorter than k keeps one position
    // (substr then yields the whole text, matching the oracle's CASE).
    // r18 optimization: the per-doc hash count is the POSITION count —
    // greatest(len-k+1, 1), known before the explode — so the old
    // count(1) whole-partition window (a second WindowExec pass over
    // every gram row) is replaced by a pre-explode scalar; values
    // identical by construction.
    val hashed = nr
      .select(col("doc_id"), col("nrm"),
        greatest(length(col("nrm")) - lit(k - 1), lit(1)).as("nh"),
        explode(sequence(lit(1), greatest(length(col("nrm")) - lit(k - 1), lit(1))))
          .as("p"))
      .select(col("doc_id"), col("nh"), col("p"),
        conv(substring(md5(expr(s"substr(nrm, p, $k)")), 1, 8), 16, 10)
          .cast("long").as("h"))
      .repartition(col("doc_id"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val slide = byDoc.orderBy(col("p")).rowsBetween(0, w - 1)
    hashed
      .withColumn("fp", min(col("h")).over(slide))
      // only windows fully inside the doc (a short doc keeps p=1: its
      // frame spans every hash — the single-window degenerate case)
      .filter(col("p") <= greatest(col("nh") - lit(w - 1), lit(1)))
      .select(col("doc_id"), col("fp")).distinct()
      .repartition(col("fp"))
  }

  /**
   * Flood-guarded [[winnowPairs]] — the [[candidatePairsCapped]]
   * treatment applied to the fingerprint self-join: a fingerprint
   * shared by m > `maxBucket` documents (license blocks, boilerplate
   * headers, a 10⁴-duplicate flood) would emit m²/2 pair rows from
   * that bucket alone — a quadratic OUTPUT no skew-split can shrink.
   * Here such buckets contribute a min-id STAR (hub paired with every
   * member, O(m) rows) instead.
   *
   * Contract: buckets ≤ maxBucket behave byte-identically to
   * [[winnowPairs]]. For flooded buckets, pairs INVOLVING THE HUB keep
   * true shared-fingerprint counts (the hub genuinely shares those
   * fingerprints); pairs between two non-hub members lose the flooded
   * fingerprints' contribution and may fall below `minShared`. Every
   * CONNECTIVITY consumer (copied-span clustering / dedup via
   * [[connectedComponents]]) sees the same components — a flooded
   * bucket's members all reach each other through its hub
   * (spec-proven); only a consumer reading per-pair evidence counts
   * between non-hub members wants the uncapped form, after collapsing
   * exact duplicates first ([[cleanCorpus]]'s order).
   *
   * Cost shape: the per-bucket count/min is a window over the SAME fp
   * exchange the join reuses — no extra shuffle.
   */
  def winnowPairsCapped(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 24, w: Int = 8, minShared: Long = 2L,
      maxBucket: Int = 64): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    import org.apache.spark.sql.expressions.Window
    val byFp = Window.partitionBy(col("fp"))
    val tk = winnowFingerprints(docs, idCol, textCol, k, w)
      .withColumn("m", count(lit(1)).over(byFp))
      .withColumn("hub", min(col("doc_id")).over(byFp))
    val small = tk.filter(col("m") <= maxBucket)
    // merge hint for the same reason as candidatePairsCapped: keep both
    // join sides + the star branch on ONE reused fp exchange
    val pairRows = small.as("a").hint("merge")
      .join(small.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
    val starRows = tk.filter(col("m") > maxBucket && col("doc_id") =!= col("hub"))
      .select(col("hub").as("id1"), col("doc_id").as("id2"))
    pairRows.unionByName(starRows)
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
  }

  /**
   * Edit-distance fuzzy near-dup pairs — the record-linkage shape for
   * short keys (titles, names, product codes): normalized prefixes,
   * classic prefix BLOCKING (candidates must share the first `blockLen`
   * normalized chars), then exact Levenshtein ≤ maxDist on candidates
   * only. A direct all-pairs levenshtein is O(n²·len²); blocking keys
   * are md5-uniform-ish short strings that hash-partition evenly, so
   * each block's pair loop is local and bounded, and both self-join
   * sides reuse ONE exchange on the block key (same idiom as
   * [[candidatePairsFromShingles]]).
   *
   * Levenshtein runs on the CHARACTERS of the normalized prefix. The
   * normalization ([a-z0-9 ] only) also makes the DuckDB replay exact:
   * DuckDB's levenshtein counts BYTES, which agrees with Spark's
   * character count on ASCII — don't widen the charset without
   * revisiting the oracle.
   *
   * Documents whose normalized prefix is shorter than `blockLen` are
   * EXCLUDED before the self-join: any text with no ASCII alphanumerics
   * (CJK, Cyrillic, emoji-only…) normalizes to ''/' ', so without the
   * guard every such document lands in one degenerate block — an O(n²)
   * blowup that also "matches" completely unrelated texts at
   * edit_dist 0. Blocking on a shorter-than-blockLen key carries the
   * same degeneracy in miniature, so the cut is at the full block
   * length; non-ASCII near-dup detection belongs to the shingle/MinHash
   * path, which is byte-based and script-agnostic.
   */
  def fuzzyPairs(docs: DataFrame, idCol: String, textCol: String,
      prefixLen: Int = 40, blockLen: Int = 8, maxDist: Int = 5): DataFrame = {
    require(blockLen >= 1 && prefixLen > blockLen, s"bad prefix/block $prefixLen/$blockLen")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val norm = regexp_replace(
      regexp_replace(trim(lower(col(textCol))), "[^a-z0-9\\s]", ""), "\\s+", " ")
    // r18: scan fan-out before the normalize regexes (guide §2.5;
    // identity at real scale — the blk exchange below is unchanged)
    // r19: when the scan WAS small, pin the blk exchange to session
    // parallelism — AQE coalesces it to 1-3 read partitions by its
    // tiny BYTES (per-job trace: a 0.4 s single-task job), but the per-block
    // QUADRATIC levenshtein join above it is what actually costs; AQE
    // cannot see the explosion. Real-scale inputs keep the unpinned
    // advisory-sized exchange (flag false → identical r18 shape).
    val (fanned, smallScan) = Scale.fanOutSmallScanFlag(
        docs.select(col(idCol).as("doc_id"), col(textCol)), col("doc_id"))
    val pfxed = fanned
      .select(col("doc_id"), substring(norm, 1, prefixLen).as("pfx"))
      .filter(length(col("pfx")) >= blockLen)
      .withColumn("blk", substring(col("pfx"), 1, blockLen))
    val keyed = if (smallScan)
      pfxed.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, col("blk"))
    else pfxed.repartition(col("blk"))
    val a = keyed.as("a")
    val b = keyed.as("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        levenshtein(col("a.pfx"), col("b.pfx")).as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
  }

  /**
   * Blocked RECORD LINKAGE: for every left record, its single best
   * fuzzy name match on the right — block on a cheap lowercase name
   * prefix, score candidates with the codegen'd
   * [[graft.functions.JaroWinkler]] kernel inside the join stage, keep
   * matches ≥ `threshold`, then arg-max per left id (score desc, right
   * id asc — fully deterministic; equal names tie at 1.0 and fall to
   * the id). Identity rows (same id both sides) are excluded so the
   * self-link form answers "who else is probably this entity".
   *
   * Scale contract: the candidate join is an EQUI join on the block
   * key (hash-partitioned, never cartesian) and the threshold filter
   * runs IN the scoring projection before the per-left arg-max, which
   * Spark executes as a WindowGroupLimit top-1 (no per-left sort
   * materialization). Cost is per-block quadratic — the block key is
   * the caller's scale lever (same contract as [[fuzzyPairs]] /
   * [[similarityJoinExact]]; pre-collapse exact duplicates or lengthen
   * the prefix under flood).
   */
  def linkRecords(left: DataFrame, right: DataFrame,
      leftId: String, leftName: String, rightId: String, rightName: String,
      threshold: Double, blockPrefix: Int = 3): DataFrame = {
    require(threshold >= 0.0 && threshold <= 1.0,
      s"threshold must be in [0,1], got $threshold")
    require(blockPrefix >= 1, s"blockPrefix must be >= 1, got $blockPrefix")
    // r18: fan the PROBE side of the block join out of a one-row-group
    // scan — the per-pair Jaro-Winkler scoring otherwise runs in the
    // single scan task (guide §2.5; identity at real scale). The build
    // side stays scan-shaped (it only feeds the broadcast).
    val l = Scale.fanOutSmallScan(
      left.select(col(leftId).as("lid"), col(leftName).as("lname"),
        lower(substring(col(leftName), 1, blockPrefix)).as("blk")), col("lid"))
    val r = right.select(col(rightId).as("rid"), col(rightName).as("rname"),
      lower(substring(col(rightName), 1, blockPrefix)).as("blk"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lid"))
      .orderBy(col("jw").desc, col("rid").asc)
    l.join(r, "blk")
      .filter(col("lid") =!= col("rid"))
      .withColumn("jw",
        graft.functions.GraftFunctions.jaro_winkler(col("lname"), col("rname")))
      .filter(col("jw") >= threshold)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("lid"), col("rid"), round(col("jw"), 6).as("jw"))
  }

  /**
   * Bloom-filter benchmark decontamination — the zero-shuffle scale path
   * beside the equi-join [[crossContamination]]:
   *
   *   1. the EVAL side's distinct token 3-shingles aggregate into one
   *      `mBits`-bit Bloom filter ([[graft.functions.BloomBitsAgg]] —
   *      map-side partial filters OR-merge, so the build is one
   *      reduce of mBits/8-byte buffers, not a shingle shuffle);
   *   2. the 1-row filter BROADCASTS (crossJoin of a 1-row aggregate =
   *      BroadcastNestedLoopJoin of a few KB);
   *   3. the TRAIN corpus is scanned ONCE, map-side: per document,
   *      [[graft.functions.BloomHitCount]] counts distinct shingles
   *      whose k positions are all set. No corpus shuffle at all —
   *      at 100 TB this is a pure map job over the corpus scan.
   *
   * False positives are part of the contract (rate (fill)^k — sized
   * here for ~1-2% at gate scale) and are REPLAYED bit-identically by
   * the DuckDB oracle from the same md5 position family, so the gate
   * verifies the filter semantics, not an idealized exact overlap.
   * Returns (doc_id, n_grams, bloom_hits) for train docs with
   * bloom_hits >= minHits.
   */
  def bloomDecontaminate(
      train: DataFrame, eval_ : DataFrame, idCol: String, textCol: String,
      mBits: Int, numHashes: Int, minHits: Long): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    // no distinct: setting a bit twice is idempotent, so the build stays
    // a pure map → single-row merge with no shingle shuffle at all
    val evalGrams = eval_
      .select(explode(TextOps.tokenShingles(col(textCol))).as("g"))
    val bloom = evalGrams.agg(
      column(graft.functions.BloomBitsAgg(expression(col("g")), mBits, numHashes)
        .toAggregateExpression()).as("bloom_bits"))
    val probed = train
      .select(col(idCol).as("doc_id"), TextOps.tokenShingles(col(textCol)).as("grams"))
      .crossJoin(broadcast(bloom))
      .select(
        col("doc_id"),
        size(array_distinct(col("grams"))).cast("long").as("n_grams"),
        column(graft.functions.BloomHitCount(
          expression(col("bloom_bits")), expression(col("grams")),
          mBits, numHashes)).as("bloom_hits"))
    probed.filter(col("bloom_hits") >= minHits)
  }
}
