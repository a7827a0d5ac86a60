package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity
import graft.tools.ScaleProbe
import graft.tools.ScaleProbe.Stride

class ScaleProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val src = SparkTestSession.sf0001

  private def source(t: String) = spark.read.parquet(s"$src/$t.parquet")

  /** The id columns each replica shifts; events get N× users too. Every
    * other table is a dimension. */
  private val IdColumns = Map(
    "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"), "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey"))
  private val Dimensions = Seq("customer", "nation", "part", "region", "supplier")

  /** A fresh directory holding every table of `src` ×`n` under `recipe`. */
  private def gen(n: Int, recipe: String): String = {
    val out = Files.createTempDirectory(s"scale-probe-$recipe").toString
    ScaleProbe.TableNames.foreach(ScaleProbe.scaled(spark, src, out, n, recipe))
    out
  }
  private lazy val flood3 = gen(3, "flood")
  private lazy val distinct10 = gen(10, "distinct")

  private def scaled(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet")

  /** Scaled table `t` with its replica as a column and its ids mapped
    * back to the base ids. */
  private def mappedBack(df: DataFrame, t: String): DataFrame = {
    val ids = IdColumns(t)
    val k = (col(ids.head) / Stride).cast("long")
    df.select(k.as("replica") +: df.columns.map(c =>
      if (ids.contains(c)) (col(c) - k * Stride).as(c) else col(c)): _*)
  }

  /** Every table of `dir`, ×`n` of `src`: the schema is the source's;
    * a replicated table has n × the rows and ids, replica 0 is
    * the base, and each replica keeps the base's columns but `varied`;
    * a dimension table is the source's. */
  private def checkTables(dir: String, n: Int, varied: Set[String]): Unit = {
    assert(ScaleProbe.TableNames.toSet == IdColumns.keySet ++ Dimensions)
    ScaleProbe.TableNames.foreach { t =>
      val (base, df) = (source(t), scaled(dir, t))
      assert(df.schema == base.schema, t)
      IdColumns.get(t) match {
        case None =>
          assert(df.count() == base.count() && df.exceptAll(base).isEmpty, t)
        case Some(ids) =>
          assert(df.count() == n * base.count(), t)
          // no two replicas share an id (lineitem's base repeats some)
          def distinctIds(d: DataFrame) = d.select(ids.map(col): _*).distinct().count()
          assert(distinctIds(df) == n * distinctIds(base), t)
          val back = mappedBack(df, t)
          val zero = back.filter(col("replica") === 0).drop("replica")
          assert(zero.count() == base.count() && zero.exceptAll(base).isEmpty, t)
          val kept = ("replica" +: base.columns.filterNot(varied)).map(col)
          val replicas = base.crossJoin(spark.range(n).select(col("id").as("replica")))
          assert(back.select(kept: _*).exceptAll(replicas.select(kept: _*)).isEmpty, t)
      }
    }
  }

  test("flood: n copies of every table under shifted ids, all other columns kept") {
    checkTables(flood3, 3, Set.empty)
  }

  test("distinct: x10 of every table; texts differ per replica, embedding norms are kept") {
    checkTables(distinct10, 10, Set("text", "embedding"))
    val docs = mappedBack(scaled(distinct10, "documents"), "documents")
      .filter(col("replica") > 0)
      .join(source("documents").select(col("doc_id"), col("text").as("base")), "doc_id")
    assert(docs.filter(col("text") =!= col("base")).count() > 0.9 * docs.count())
    def norms(df: DataFrame) = df.select(col("vec_id"),
      Similarity.l2norm(Similarity.toDouble(col("embedding"))).as("nrm"))
    val pairs = norms(mappedBack(scaled(distinct10, "embeddings"), "embeddings"))
      .join(norms(source("embeddings")).withColumnRenamed("nrm", "base"), "vec_id")
    assert(pairs.count() == 10 * source("embeddings").count())
    assert(pairs.filter(abs(col("nrm") - col("base")) > lit(1e-9) * col("base")).isEmpty)
  }

  test("the distinct recipe makes x10 only, and there are two recipes") {
    val out = Files.createTempDirectory("scale-probe-refused").toString
    val e = intercept[IllegalArgumentException](
      ScaleProbe.scaled(spark, src, out, 3, "distinct")("documents"))
    assert(e.getMessage.contains("×3"))
    intercept[IllegalArgumentException](
      ScaleProbe.scaled(spark, src, out, 3, "copies")("documents"))
  }

  test("the case table names each case once, over the replicated tables") {
    val cases = ScaleProbe.cases("unused")
    assert(cases.size == 78)
    assert(cases.values.map(_.table).toSet == Set("documents", "embeddings", "events", "lineitem"))
  }

  test("time prints one line per case and directory, with the factor and ratios") {
    val work = Files.createTempDirectory("scale-probe-work").toString
    val lines = ScaleProbe.time(spark, src, Seq(flood3), Seq("q1_agg", "sessionize"), work)
    def field(l: String, k: String) = s""""$k": ([^,}]+)""".r.findFirstMatchIn(l).get.group(1)
    assert(lines.map(field(_, "case")) ==
      Seq("\"q1_agg\"", "\"q1_agg\"", "\"sessionize\"", "\"sessionize\""))
    assert(lines.map(field(_, "factor")) == Seq("1", "3", "1", "3"))
    // the same (returnflag, linestatus) groups at every scale; 3x the
    // users, so 3x the sessions
    assert(lines.map(field(_, "rows_ratio").toDouble) == Seq(1.0, 1.0, 1.0, 3.0))
    assert(lines.forall(field(_, "wall_s").toDouble > 0))
    intercept[IllegalArgumentException](
      ScaleProbe.time(spark, src, Seq(flood3), Seq("q1_agg", "q1_agc"), work))
  }
}
