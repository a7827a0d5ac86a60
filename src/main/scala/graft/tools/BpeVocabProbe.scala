package graft.tools

import graft.GraftSession
import graft.ops.TextOps
import org.apache.spark.sql.functions._

/**
 * Measures [[graft.functions.BpeEncode]] at PRODUCTION vocabulary size
 * (the r14 verdict's "prove BPE at a real vocab" task): the kernel's
 * contract says per-word cost is O(applied-merges · word-length) hash
 * probes, INDEPENDENT of the merges-table size — previously argued
 * asymptotically and proven only at the 20-rule gate table.
 *
 * Experiment design (the table-size lever isolated from the
 * applied-work lever):
 *
 *  1. a DISTINCT-WORD corpus (md5-hex words, so the per-task
 *     word→encoding cache never hits — every row pays the real encode
 *     loop; the 31-distinct-word test corpus would measure cache hits);
 *  2. the full [[TextOps.syntheticMerges]](50k) table vs its HEX-SUBSET
 *     (rules whose parts use only [0-9a-f]): the subset keeps every
 *     rule that can ever apply to a hex word in the same relative
 *     order, so the ENCODINGS ARE IDENTICAL (asserted via token
 *     counts) while the table is ~13× smaller. Equal wall ⇒ cost is
 *     independent of table size; the remaining delta is the one-time
 *     rank-map build.
 *  3. the 20-rule gate table on the same corpus as the applied-work
 *     floor (hex words barely merge under English-ish rules).
 *
 * Also runs the fertility / budget-audit report shapes over the REAL
 * documents corpus under the 50k table — the production-vocabulary
 * numbers PLANS.md records. Output goes to stdout (run via sbt; probes
 * log to files per the r16 SIGPIPE postmortem — use `> file` not
 * `| head`).
 */
object BpeVocabProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val rows = if (args.length > 1) args(1).toInt else 200000
    val spark = GraftSession.local()
    import spark.implicits._

    val full = TextOps.syntheticMerges(50000)
    val hexSubset = full.filter { case (x, y) =>
      (x + y).forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f'))
    }
    val gate = TextOps.BpeGateMerges
    println(s"[bpe-vocab] tables: full=${full.size} hexSubset=${hexSubset.size} gate=${gate.size}")

    // distinct-word corpus: 8 md5-hex 16-char words per row, all unique
    // (id-salted), so the word cache never hits and every row pays the
    // full encode loop
    val corpus = spark.range(rows.toLong).select(
      expr("transform(sequence(0, 7), j -> substr(md5(concat(id, ':', j)), 1, 16))")
        .as("toks"))
    corpus.agg(sum(size(col("toks")))).collect() // materialize the input path

    def pass(name: String, merges: Seq[(String, String)]): Long = {
      val t0 = System.nanoTime()
      val toks = corpus.agg(sum(size(TextOps.bpeEncode(col("toks"), merges))))
        .collect().head.getLong(0)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[bpe-vocab] $name%-12s rules=${merges.size}%6d " +
        f"out_tokens=$toks%10d wall=$sec%7.2fs per_row=${sec / rows * 1e6}%8.2fus")
      toks
    }
    // two timed repetitions each; second is steady-state
    for (i <- 1 to 2) {
      println(s"[bpe-vocab] --- pass $i ---")
      val a = pass("full50k", full)
      val b = pass("hexSubset", hexSubset)
      val c = pass("gate20", gate)
      if (i == 2) {
        assert(a == b,
          s"hex-subset must encode IDENTICALLY to the full table ($a vs $b)")
        println(s"[bpe-vocab] identical outputs full vs hexSubset: $a tokens " +
          s"(gate20 produced $c — different applied work, floor only)")
      }
    }

    // production-vocabulary fertility + budget-audit shapes on the REAL corpus
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"),
        TextOps.tokens(col("text")).as("toks"),
        TextOps.tokenCountBpe(col("text")).cast("long").as("nt_est"))
      .select(col("source"), col("nt_est"), size(col("toks")).as("n_words"),
        size(TextOps.bpeEncode(col("toks"), full)).cast("long").as("nt_real"))
    val t0 = System.nanoTime()
    val rep = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("words"),
        sum(col("nt_real")).as("tokens_real"),
        sum(col("nt_est")).as("tokens_est"))
      .withColumn("fertility",
        round(col("tokens_real").cast("double") / col("words").cast("double"), 4))
      .withColumn("est_ratio",
        round(col("tokens_real").cast("double") / col("tokens_est").cast("double"), 4))
      .orderBy(col("source")).collect()
    println(f"[bpe-vocab] real-corpus budget audit under 50k table: " +
      f"${(System.nanoTime() - t0) / 1e9}%.2fs")
    rep.take(5).foreach(r => println(s"[bpe-vocab]   $r"))
    val tot = rep.map(_.getLong(3)).sum
    val est = rep.map(_.getLong(4)).sum
    println(f"[bpe-vocab] corpus tokens_real=$tot tokens_est=$est " +
      f"ratio=${tot.toDouble / est}%.4f")
    spark.stop()
  }
}
