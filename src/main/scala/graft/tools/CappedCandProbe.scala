package graft.tools

import graft.ops.Dedup

/** Dev probe: candidate volume of `Dedup.similarityJoinExactCapped`'s
  * pairwise branch without vs with its sound per-pair positional filter
  * — the evidence that the filter prunes (the verified output is
  * oracle-pinned separately). Counts the operator's own frames.
  *
  * Usage: runMain graft.tools.CappedCandProbe <sfDir> */
object CappedCandProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    val docs = spark.read.parquet(args(0) + "/documents.parquet")
    val (tNum, tDen, maxBlock) = (1, 2, 64)
    val (_, prefixes) = Dedup.ppjoinPrefixes(docs, "doc_id", "text", tNum, tDen)
    val c = Dedup.cappedCandidates(prefixes, tNum, tDen, maxBlock)
    println("[cap] distinct small pairs before the filter = " + c.pairFirst.count())
    println("[cap] after sound positional filter          = " + c.small.count())
    println("[cap] docs with flooded prefix (floodMin)    = " + c.floodMin.count())
    spark.stop()
  }
}
