package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ops.TextOps

/**
 * The declarative (regex + higher-order function) forms of graft's text
 * kernels: the reference the parity specs hold each kernel to. Each is
 * built from Spark built-ins only, so it states the contract without
 * sharing a line with the kernel it checks. No graft code calls them.
 */
object DeclarativeText {

  /** Lowercase alnum word tokens: [[TextOps.tokens]]' contract. */
  def tokens(text: Column): Column =
    call_function("regexp_extract_all", lower(text), lit("[a-z0-9]+"), lit(0))

  /** Word 3-shingles; documents with <3 tokens fall back to one shingle of
    * the whole token list (so short docs still dedup). */
  def shingles3(toks: Column): Column = {
    val tri = transform(
      sequence(lit(1), size(toks) - 2),
      i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))
    when(size(toks) >= 3, tri).otherwise(array(concat_ws(" ", toks)))
  }

  /** SimHash from a pre-materialized md5-hex array column. Callers should
    * stage the hash array as its own projection: the 64 bit-votes each
    * walk this expression, and HOFs get no codegen CSE — an attribute
    * reference is O(1), an inline md5-map is a 64× recompute. */
  def simhash64FromHashes(hashes: Column): Column = {
    val bits = transform(sequence(lit(0), lit(63)), b => {
      val pos = (b / 4).cast("int") + 1 // 1-based hex digit index
      val bitPos = b % 4
      // 2^bitPos without a dynamic shift (shiftright needs a literal)
      val pow = when(bitPos === 0, 1).when(bitPos === 1, 2).when(bitPos === 2, 4).otherwise(8)
      val vote = aggregate(
        hashes,
        lit(0),
        (acc, h) => {
          val digit = conv(h.substr(pos, lit(1)), 16, 10).cast("int")
          val bit = (digit / pow).cast("int") % 2
          acc + (bit * 2 - 1)
        })
      when(vote >= 0, lit("1")).otherwise(lit("0"))
    })
    concat_ws("", bits)
  }

  /** Stopword hit count (duplicates counted) — building block of langId. */
  def stopwordHits(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => t.isin(stopwords: _*)))

  /** Stopword-voting language ID: argmax hit-count with fixed preference
    * order en > es > fr > de; zero hits everywhere → "und". */
  def langId(toks: Column): Column = {
    val en = stopwordHits(toks, TextOps.EN_STOP)
    val es = stopwordHits(toks, TextOps.ES_STOP)
    val fr = stopwordHits(toks, TextOps.FR_STOP)
    val de = stopwordHits(toks, TextOps.DE_STOP)
    when(en > 0 && en >= es && en >= fr && en >= de, lit("en"))
      .when(es > 0 && es >= fr && es >= de, lit("es"))
      .when(fr > 0 && fr >= de, lit("fr"))
      .when(de > 0, lit("de"))
      .otherwise(lit("und"))
  }

  /** The quality score of [[TextOps.qualityScore]] in regexp + HOF form. */
  def qualityScoreDeclarative(text: Column): Column = {
    val toks = tokens(text)
    val nToks = size(toks).cast("double")
    val stopRatio = when(nToks > 0, stopwordHits(toks, TextOps.EN_STOP).cast("double") / nToks).otherwise(lit(0.0))
    val cleaned = regexp_replace(lower(text), "[^a-z0-9\\s]", "")
    // same ANSI-safe empty-text guard as the kernel form (spec parity)
    val punctRatio = when(length(text) > 0,
      (length(text) - length(cleaned)).cast("double") / length(text).cast("double"))
    val lenScore = least(nToks, lit(100.0)) / lit(100.0)
    round(lit(0.3) * lenScore + lit(0.4) * stopRatio + lit(0.3) * (lit(1.0) - punctRatio), 6)
  }
}
