package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, TextOps}

/**
 * Degenerate-document robustness: Spark 4's default dialect is ANSI,
 * where a division whose denominator is 0 THROWS instead of returning
 * NULL — so one empty/punct-only/null document must not be able to
 * kill a whole corpus job. (A randomized property run caught exactly
 * this in qualityScore's punctuation ratio.) Every text kernel and
 * corpus op here is executed over the full degenerate zoo and must
 * complete; contracted outputs are pinned.
 */
class DegenerateDocsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def zoo = Seq[(Long, String, String)](
      (1L, null, "a"),               // null text
      (2L, "", "a"),                 // empty
      (3L, "   \t  ", "b"),          // whitespace only
      (4L, "!!! ··· ???", "b"),      // punct only — zero tokens, n_chars > 0
      (5L, "word", null),            // single token, null source
      (6L, "the quick brown fox jumps over the lazy dog", "a"))
    .toDF("doc_id", "text", "source")

  test("per-document kernels survive the degenerate zoo under ANSI") {
    val out = zoo.select(
        col("doc_id"),
        TextOps.qualityScore(col("text")).as("q"),
        DeclarativeText.qualityScoreDeclarative(col("text")).as("qd"),
        TextOps.langIdText(col("text")).as("lang"),
        TextOps.tokenCountWs(col("text")).as("tws"),
        TextOps.tokenCountBpe(col("text")).as("tbpe"),
        TextOps.fingerprint(col("text")).as("fp"),
        TextOps.redact(col("text")).as("red"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // EMPTY text: null quality (the documented contract), on BOTH forms
    assert(out(2L).isNullAt(1) && out(2L).isNullAt(2))
    // punct-only: zero tokens but non-zero chars — quality defined
    assert(!out(4L).isNullAt(1))
    assert(out(4L).getDouble(1) == out(4L).getDouble(2))
    // real doc unchanged by the guards
    assert(out(6L).getDouble(1) > 0.0)
    // kernel and declarative forms agree on every row
    out.values.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2))
      if (!r.isNullAt(1)) assert(r.getDouble(1) == r.getDouble(2))
    }
  }

  test("corpus-level text ops survive the degenerate zoo") {
    val d = zoo
    // each op must execute end-to-end; degenerate docs may drop out of
    // token-keyed outputs (explode produces no rows) but must not throw
    assert(TextOps.tokenEntropy(d, "doc_id", "text").collect().nonEmpty)
    assert(TextOps.unigramLogProb(d, "doc_id", "text").collect().nonEmpty)
    assert(TextOps.docPerplexity(d, "doc_id", "text").collect() != null)
    assert(TextOps.repetitionMetrics(col("text")) != null &&
      d.select(TextOps.repetitionMetrics(col("text")): _*).collect().length == 6)
    assert(TextOps.bm25(d, "doc_id", "text", Seq("quick", "fox"), 3).collect() != null)
    assert(TextOps.chunkStride(d, "doc_id", "text", 4, 2).collect() != null)
    assert(TextOps.sourceKlDivergence(d, "source", "text").collect() != null)
    assert(TextOps.lengthKsDrift(d, "source", "text").collect() != null)
    assert(TextOps.zipfFit(d, "text", 10).collect() != null)
    assert(Dedup.ngramNovelty(d, "doc_id", "text").collect() != null)
    assert(Dedup.dedupSpans(d, "doc_id", "text", 2).collect() != null)
    assert(Dedup.exactDedup(d, "doc_id", "text").count() >= 4)
    assert(TextOps.budgetSelect(d, "doc_id", "text", "source", 1000L).collect() != null)
    assert(TextOps.shardAssign(d, "doc_id", "text", "source", 3).count() == 6)
  }
}
