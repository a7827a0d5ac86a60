package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextOps

/** Round-12: the distributed budgetSelect/shardAssign rewrites must be
  * ANSWER-IDENTICAL to the single-window forms they replaced — proven
  * against the naive form on the real sf0.001 documents table, not on a
  * toy frame, so quality ties, punctuation-only docs and every source
  * partition exercise the bucket decomposition. */
class Round12OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  /** The r11 single-window reference implementation of
    * [[TextOps.budgetSelect]] — the answer-identity oracle for the r12
    * bucket-decomposed rewrite (correct, but serializes each source
    * through one sort partition; never use at scale). */
  private def budgetNaive(budget: Long) = {
    val scored = docs.select(
      col("source"), col("doc_id"),
      TextOps.qualityScore(col("text")).as("quality"),
      TextOps.tokenCountBpe(col("text")).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** The r11 single-window reference implementation of
    * [[TextOps.shardAssign]] — same role as [[budgetNaive]]. */
  private def shardNaive(nShards: Int) = {
    val scored = docs.select(
      col("source").as("stratum"), col("doc_id"),
      TextOps.tokenCountBpe(col("text")).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("stratum"))
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    scored.withColumn("shard",
      ((row_number().over(w) - 1) % nShards).cast("int"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] = {
    val names = df.columns.sorted
    df.select(names.map(col): _*).collect().map(_.toString).toSet
  }

  test("budgetSelect: bucket-decomposed form is row-identical to the single-window form") {
    // several budgets: 0 (empty), mid (straddling bucket exercised),
    // huge (every bucket below the cut — max broadcast frame)
    for (b <- Seq(0L, 300L, 800L, 5000L, 10000000L)) {
      assert(rows(TextOps.budgetSelect(docs, "doc_id", "text", "source", b))
        == rows(budgetNaive(b)), s"budget=$b")
    }
  }

  test("shardAssign: bucket-decomposed form is row-identical to the single-window form") {
    for (n <- Seq(1, 4, 8, 31)) {
      assert(rows(TextOps.shardAssign(docs, "doc_id", "text", "source", n))
        == rows(shardNaive(n)), s"nShards=$n")
    }
  }

  test("budgetSelect/shardAssign: null source/stratum and null text survive (null-safe keys)") {
    // the r12 bucket decomposition's equi-joins would silently drop
    // null-keyed rows the single-window forms kept; EqualNullSafe keys
    // and the coalesced tie-group cumsum must keep them byte-identical
    val d = Seq[(Long, String, String)](
        (1L, "good quality text with several proper english words here", "a"),
        (2L, "another document with plenty of useful english words inside", "a"),
        (3L, "short text", null),
        (4L, null, null),          // null text AND null source
        (5L, null, "a"),           // null text, real source
        (6L, "more words for the null source group to rank deterministically", null))
      .toDF("doc_id", "text", "source")
    val budget = 100000L
    val scoredB = d.select(col("source"), col("doc_id"),
      TextOps.qualityScore(col("text")).as("quality"),
      TextOps.tokenCountBpe(col("text")).cast("long").as("n_tokens"))
    val wB = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naiveB = scoredB
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wB))
      .filter(col("cum_tokens") <= budget)
    val distB = TextOps.budgetSelect(d, "doc_id", "text", "source", budget)
    assert(rows(distB) == rows(naiveB))
    assert(distB.filter(col("source").isNull).count() == 3, "null-source docs must survive")
    assert(distB.filter(col("doc_id") === 5L).count() == 1, "null-text doc must survive")
    val scoredS = d.select(col("source").as("stratum"), col("doc_id"),
      TextOps.tokenCountBpe(col("text")).cast("long").as("n_tokens"))
    val wS = Window.partitionBy(col("stratum"))
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    val naiveS = scoredS.withColumn("shard",
      ((row_number().over(wS) - 1) % 4).cast("int"))
    val distS = TextOps.shardAssign(d, "doc_id", "text", "source", 4)
    assert(rows(distS) == rows(naiveS))
    assert(distS.count() == 6, "every doc gets a shard, null keys included")
  }

  // ── flood guards for the exact pair-emitters ─────────────────────────

  import graft.ops.Dedup

  private def cc(pairs: org.apache.spark.sql.DataFrame,
      nodes: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    Dedup.connectedComponents(nodes, "doc_id", pairs.select(col("id1"), col("id2")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("winnowPairsCapped: large maxBucket is byte-identical to winnowPairs on real docs") {
    assert(rows(Dedup.winnowPairsCapped(docs, "doc_id", "text", maxBucket = 100000))
      == rows(Dedup.winnowPairs(docs, "doc_id", "text")))
  }

  test("similarityJoinExactCapped: large maxBlock is byte-identical to similarityJoinExact") {
    assert(rows(Dedup.similarityJoinExactCapped(docs, "doc_id", "text", 1, 2, maxBlock = 100000))
      == rows(Dedup.similarityJoinExact(docs, "doc_id", "text", 1, 2)))
  }

  test("winnowPairsCapped: 10⁴-duplicate flood emits O(m) star rows, one component") {
    val m = 10000
    val text = "the quick brown fox jumps over the lazy dog again and " +
      "again while the duplicate flood repeats this very paragraph verbatim"
    val flood = spark.range(m).select(col("id").as("doc_id"), lit(text).as("text"))
      .unionByName(Seq(
        (100000L, "a genuinely distinct document with its own fingerprint profile entirely"),
        (100001L, "a genuinely distinct document with its own fingerprint profile entirely"),
        (100002L, "a third text that shares nothing with either of the previous groups here"))
        .toDF("doc_id", "text"))
    val pairs = Dedup.winnowPairsCapped(flood, "doc_id", "text", maxBucket = 64)
    val n = pairs.count()
    // hub-star: the flood contributes m-1 pairs (hub with every member,
    // all its fingerprints agreeing), the distinct pair contributes 1 —
    // NOT m²/2 ≈ 5·10⁷
    assert(n < 2L * m, s"capped pair count should be O(m), got $n")
    assert(n >= m - 1, s"hub must pair with all $m duplicates, got $n")
    // hub pairs carry TRUE shared counts — every fingerprint of the text
    val maxShared = pairs.agg(max(col("shared_fp"))).collect()(0).getLong(0)
    assert(maxShared >= 2, s"hub pairs must keep real shared-fp counts, got max=$maxShared")
    val comp = cc(pairs, flood.select(col("doc_id")))
    assert((0L until m.toLong).map(comp).distinct.size == 1)
    assert(comp(100000L) == comp(100001L) && comp(100000L) != comp(0L))
  }

  test("similarityJoinExactCapped: 10⁴-duplicate flood verifies O(m) hub pairs at J=1") {
    val m = 10000
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val flood = spark.range(m).select(col("id").as("doc_id"), lit(text).as("text"))
      .unionByName(Seq(
        (100000L, "one two three four five six seven eight nine ten eleven twelve"),
        (100001L, "one two three four five six seven eight nine ten eleven twelve"))
        .toDF("doc_id", "text"))
    val out = Dedup.similarityJoinExactCapped(flood, "doc_id", "text", 1, 2, maxBlock = 64)
    val n = out.count()
    assert(n < 2L * m, s"capped output should be O(m), got $n")
    assert(n >= m - 1, s"hub must verify against all $m duplicates, got $n")
    // every emitted pair is still EXACT-verified: identical docs at J=1
    val floodPairs = out.filter(col("id2") < 100000L)
    assert(floodPairs.filter(col("jaccard") =!= 1.0).count() == 0)
    val comp = cc(out, flood.select(col("doc_id")))
    assert((0L until m.toLong).map(comp).distinct.size == 1)
    assert(comp(100000L) == comp(100001L) && comp(100000L) != comp(0L))
  }

  test("capped pair-emitters: CC-equivalent to uncapped on an overflowing multi-cluster corpus") {
    val texts = Seq(
      "spark catalyst rewrites logical plans into optimized physical operators every day",
      "ducks swim across the quiet pond under a pale morning sky in autumn weather",
      "a completely different third corpus text with unique vocabulary throughout itself")
    val docs3 = (0 until 30).map(i => (i.toLong, texts(i % 3))).toDF("doc_id", "text")
    val nodes = docs3.select(col("doc_id"))
    // maxBucket/maxBlock = 2 force every 10-member cluster into the star path
    assert(cc(Dedup.winnowPairsCapped(docs3, "doc_id", "text", maxBucket = 2), nodes)
      == cc(Dedup.winnowPairs(docs3, "doc_id", "text"), nodes))
    assert(cc(Dedup.similarityJoinExactCapped(docs3, "doc_id", "text", 1, 2, maxBlock = 2), nodes)
      == cc(Dedup.similarityJoinExact(docs3, "doc_id", "text", 1, 2), nodes))
  }
}
