package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev audit: formatted physical plans for the headline queries — the
  * place to check pushdown, pruning, exchange reuse, and codegen spans. */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val which = if (args.length > 1) args(1).split(",").toSet else Set.empty[String]
    SparkEntry.requireGates(which)
    val spark = GraftSession.local()
    SparkEntry.queries
      .filter { case (n, _) => which.isEmpty || which(n) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"\n===== $name =====")
        fn(spark, dir).explain("formatted")
      }
    spark.stop()
  }
}
