package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.storage.StorageLevel

import graft.functions.{GraftFunctions, SortedIntersectCount}
import graft.ops.{Similarity, TextOps}

/** Reference rows, from Spark built-ins over the same cached rows. */
final class Refs(val groups: Map[Any, Row], val modeInt: Map[Any, Any],
    val modeStr: Map[Any, Any], val vec: Map[Any, Row], val nearest: Map[Any, Any],
    val text: Map[Any, Row])

/** The `kernels` workload: graft's Catalyst kernels over seeded columns
  * cached in memory, so the functions layer does the work and scans,
  * shuffles and construction do almost none.
  *
  * Every kernel's output is checked against reference rows built from
  * Spark built-ins over the same cached rows ([[references]], [[wrong]]). */
final class Kernels(spark: SparkSession, dataDir: String, seed: Long,
    rowsScale: Double) {

  private val numRows = (2000000 * rowsScale).toLong
  private val vecRows = (200000 * rowsScale).toLong
  private val textRows = (100000 * rowsScale).toLong
  private val Groups = 64
  // mode groups are small (about 25 rows), so most have tied counts and
  // the tie-break decides
  private val Cells = 16384

  // a fixed partition count, so that the rows depend on the seed only
  private def range(n: Long) = spark.range(0, n, 1, 8)
  private def uniform(salt: Int): Column = rand(seed * 1000 + salt)

  /** Skewed ints with 5% nulls, their string form, a lognormal double. */
  val nums: DataFrame = range(numRows).select(
    col("id"),
    (col("id") % Groups).cast("int").as("grp"),
    (col("id") % Cells).cast("int").as("cell"),
    when(uniform(0) < 0.05, lit(null).cast("int"))
      .otherwise(floor(pow(uniform(1), 3) * 1000).cast("int")).as("k_int"),
    exp(randn(seed * 1000 + 2) * 0.5).as("x"))
    .withColumn("k_str", concat(lit("v"), (col("k_int") % 200).cast("string")))

  private def table(name: String) = spark.read.parquet(s"$dataDir/$name.parquet")

  /** `n` rows; row `id` joins, from each small table (keyed by `k` in
    * 0 until its size), the row `(id * p + seed + i) mod size`: seeded
    * samples with replacement, each under its own alias. */
  private def drawn(n: Long, small: (DataFrame, String)*): DataFrame = {
    val primes = Seq(7919L, 104729L, 1299709L, 15485863L)
    small.zipWithIndex.foldLeft(range(n).toDF()) { case (df, ((t, alias), i)) =>
      df.join(broadcast(t).as(alias),
        pmod(col("id") * primes(i) + seed + i, lit(t.count())) === col(s"$alias.k"))
    }
  }

  private val embeddings = table("embeddings").select(col("vec_id").as("k"),
    col("embedding").as("v"), Similarity.l2norm(Similarity.toDouble(col("embedding"))).as("n"))

  /** Pairs of the generated embeddings (float vectors) with the first
    * one's norm, and pairs of sorted distinct 3-shingle sets of the
    * generated documents. */
  val vecs: DataFrame = {
    val sh = table("documents").select(col("doc_id").as("k"),
      array_sort(array_distinct(TextOps.tokenShingles(col("text")))).as("t"))
    drawn(vecRows, embeddings -> "a", embeddings -> "b", sh -> "c", sh -> "d").select(col("id"),
      col("a.k").as("ka"), col("a.v").as("va"), col("a.n").as("na"), col("b.v").as("vb"),
      col("c.t").as("ta"), col("d.t").as("tb"))
  }

  /** Pairs of generated document texts, the first also as words. */
  val texts: DataFrame = {
    val docs = table("documents").select(col("doc_id").as("k"), col("text").as("t"))
    drawn(textRows, docs -> "a", docs -> "b").select(col("id"), col("a.k").as("ka"),
      col("a.t").as("text"), col("b.t").as("text2"),
      TextOps.tokensNative(col("a.t")).as("words"))
  }

  /** Sixteen seed vectors for the nearest-seed kernel, as a literal. */
  private lazy val seeds: (Column, Column) = {
    val rows = vecs.filter(col("id") < 16).orderBy("id")
      .select(Similarity.toDouble(col("va")).as("v"), col("na")).collect()
    val vs = rows.map(_.getSeq[Double](0))
    (typedLit(vs.toSeq), typedLit(rows.map(_.getDouble(1)).toSeq))
  }

  def cache(): Unit = Seq(nums, vecs, texts).foreach { df =>
    df.persist(StorageLevel.MEMORY_ONLY); df.count()
  }
  def release(): Unit = Seq(nums, vecs, texts).foreach(_.unpersist(blocking = true))

  private def byGroup(c: Column) = nums.groupBy("grp").agg(c.as("r"))
  private def byCell(c: Column) = nums.groupBy("cell").agg(c.as("r"))
  private def sortedIntersect(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  private def dotRef(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (s, v) => s + v)

  /** name → (input rows, the kernel query). */
  val kernels: Seq[(String, Long, () => DataFrame)] = Seq(
    ("mode_int", numRows, () => byCell(GraftFunctions.mode_agg(col("k_int")))),
    ("mode_str", numRows, () => byCell(GraftFunctions.mode_agg(col("k_str")))),
    ("skewness", numRows, () => byGroup(GraftFunctions.skewness_samp(col("x")))),
    ("kurtosis", numRows, () => byGroup(GraftFunctions.kurtosis_samp(col("x")))),
    ("kurtosis_pop", numRows, () => byGroup(GraftFunctions.kurtosis_pop(col("x")))),
    ("max_by_det", numRows, () => byGroup(GraftFunctions.max_by_det(col("id"), col("k_int")))),
    ("hll", numRows, () => byGroup(GraftFunctions.hll_distinct(col("id"), 12))),
    ("kmv", numRows, () => byGroup(GraftFunctions.kmv_distinct(col("id"), 1024))),
    ("minhash", textRows, () => texts.select(col("id"),
      TextOps.minhashSignature(TextOps.tokenShingles(col("text")), 64).as("r"))),
    ("jaro_winkler", textRows, () => texts.select(col("id"),
      GraftFunctions.jaro_winkler(substring(col("text"), 1, 40),
        substring(col("text2"), 1, 40)).as("r"))),
    ("cosine", vecRows, () => vecs.select(col("id"),
      expr("graft_cosine(va, vb)").as("r"))),
    ("srp", vecRows, () => vecs.select(col("id"), expr("graft_srp(va, 64, 64)").as("r"))),
    ("sorted_intersect", vecRows, () => vecs.select(col("id"),
      sortedIntersect(col("ta"), col("tb")).as("r"))),
    ("nearest_seed", vecRows, () => vecs.select(col("id"),
      Similarity.nearestSeed(Similarity.toDouble(col("va")), col("na"),
        seeds._1, seeds._2).as("r"))),
    ("bpe_encode", textRows, () => texts.select(col("id"),
      TextOps.bpeEncode(col("words"), TextOps.BpeGateMerges).as("r"))))

  private def rel(a: Double, b: Double): Double =
    math.abs(a - b) / math.max(1e-12, math.max(math.abs(a), math.abs(b)))

  def references(): Refs = {
    val x = col("x")
    val groups = nums.groupBy("grp").agg(count(x).cast("double").as("n"),
      sum(x).as("s1"), sum(x * x).as("s2"), sum(x * x * x).as("s3"),
      sum(x * x * x * x).as("s4"),
      max(when(col("k_int").isNotNull, struct(col("k_int"), col("id")))).getField("id")
        .as("max_by"),
      countDistinct(col("id")).cast("double").as("distinct")).collect()
    // most frequent non-null value; ties go to the greatest value for
    // ints and to the least for strings
    def mode(c: String, stringTie: Boolean): Map[Any, Any] = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("cell")
        .orderBy(col("count").desc, if (stringTie) col(c).asc else col(c).desc)
      nums.filter(col(c).isNotNull).groupBy("cell", c).count()
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .collect().map(r => r.get(0) -> r.get(1)).toMap
    }
    val vec = vecs.select(col("id"), col("ka"),
      (dotRef(col("va"), col("vb")) / (sqrt(dotRef(col("va"), col("va"))) *
        sqrt(dotRef(col("vb"), col("vb"))))).as("cosine"),
      size(array_intersect(col("ta"), col("tb"))).cast("long").as("inter")).collect()
    // argmax of the rounded cosine over the seed matrix, first on ties,
    // for every embedding the vectors are drawn from
    val (sv, sn) = seeds
    val v = Similarity.toDouble(col("v"))
    val scores = transform(sv, (s, i) => struct(
      round(dotRef(v, s) / (col("n") * element_at(sn, i + 1)), 6).as("c"), (-i).as("j")))
    val nearest = embeddings.select(col("k"), (-array_max(scores).getField("j")).as("e"))
      .collect()
    val text = texts.select(col("id"), col("ka"),
      (substring(col("text"), 1, 40) === substring(col("text2"), 1, 40)).as("same"),
      concat_ws("", col("words")).as("spelled")).collect()
    def byKey(rows: Array[Row]) = rows.map(r => r.get(0) -> r).toMap
    new Refs(byKey(groups), mode("k_int", stringTie = false), mode("k_str", stringTie = true),
      byKey(vec), nearest.map(r => r.get(0) -> r.get(1)).toMap, byKey(text))
  }

  /** Number of wrong output rows of one kernel, given its collected output
    * (key, value) and the reference rows. */
  def wrong(name: String, out: Array[Row], refs: Refs): Long = {
    val got = out.map(r => r.get(0) -> r.get(1)).toMap
    def compare(want: Map[Any, _])(ok: (Any, Any) => Boolean): Long =
      if (got.size != out.length || got.keySet != want.keySet)
        math.max(1L, (got.keySet diff want.keySet).size + (want.keySet diff got.keySet).size)
      else got.count { case (k, v) => !ok(k, v) }.toLong
    def num(v: Any) = v.asInstanceOf[Number].doubleValue()
    def moments(r: Row): (Double, Double, Double, Double) = {
      val n = r.getAs[Double]("n")
      val mean = r.getAs[Double]("s1") / n
      val (s2, s3, s4) = (r.getAs[Double]("s2") / n, r.getAs[Double]("s3") / n,
        r.getAs[Double]("s4") / n)
      (n, s2 - mean * mean, s3 - 3 * mean * s2 + 2 * math.pow(mean, 3),
        s4 - 4 * mean * s3 + 6 * mean * mean * s2 - 3 * math.pow(mean, 4))
    }
    // same input (key) → same output, and `valid` holds for every output
    def consistent(keyOf: Any => Any)(valid: Any => Boolean): Long =
      out.groupBy(r => keyOf(r.get(0))).values.map { rs =>
        if (rs.map(_.get(1)).distinct.length == 1 && valid(rs.head.get(1))) 0L
        else rs.length.toLong
      }.sum
    name match {
      case "mode_int" => compare(refs.modeInt)((k, v) => v == refs.modeInt(k))
      case "mode_str" => compare(refs.modeStr)((k, v) => v == refs.modeStr(k))
      case "skewness" => compare(refs.groups) { (k, v) =>
        val (n, m2, m3, _) = moments(refs.groups(k))
        rel(num(v), math.sqrt(n * (n - 1)) / (n - 2) * m3 / math.pow(m2, 1.5)) <= 1e-6
      }
      case "kurtosis" => compare(refs.groups) { (k, v) =>
        val (n, m2, _, m4) = moments(refs.groups(k))
        rel(num(v), (n - 1) * ((n + 1) * m4 / (m2 * m2) - 3 * (n - 1)) /
          ((n - 2) * (n - 3))) <= 1e-6
      }
      case "kurtosis_pop" => compare(refs.groups) { (k, v) =>
        val (_, m2, _, m4) = moments(refs.groups(k))
        rel(num(v), m4 / (m2 * m2) - 3) <= 1e-6
      }
      case "max_by_det" => compare(refs.groups)((k, v) => v == refs.groups(k).getAs[Any]("max_by"))
      // distinct-count sketches: within four standard errors of exact
      case "hll" => compare(refs.groups)((k, v) =>
        rel(num(v), refs.groups(k).getAs[Double]("distinct")) <= 4 * 1.04 / math.sqrt(1 << 12))
      case "kmv" => compare(refs.groups)((k, v) =>
        rel(num(v), refs.groups(k).getAs[Double]("distinct")) <= 4 / math.sqrt(1024 - 2))
      case "cosine" => compare(refs.vec)((k, v) => rel(num(v), refs.vec(k).getAs[Double]("cosine")) <= 1e-9)
      case "sorted_intersect" => compare(refs.vec)((k, v) => v == refs.vec(k).getAs[Long]("inter"))
      case "nearest_seed" => compare(refs.vec)((k, v) =>
        num(v) == num(refs.nearest(refs.vec(k).getAs[Any]("ka"))))
      // one bit per plane, a function of the vector
      case "srp" => compare(refs.vec)((_, v) => v != null) +
        consistent(k => refs.vec(k).getAs[Any]("ka"))(_ => true)
      // 64 slots, a function of the text
      case "minhash" => compare(refs.text)((_, v) => v != null) +
        consistent(k => refs.text(k).getAs[Any]("ka"))(
          v => v.asInstanceOf[scala.collection.Seq[_]].length == 64)
      // in [0, 1], and 1 exactly when the two strings are equal
      case "jaro_winkler" => compare(refs.text) { (k, v) =>
        val j = num(v)
        j >= 0 && j <= 1 && (j == 1.0) == refs.text(k).getAs[Boolean]("same")
      }
      // BPE only regroups characters: the tokens spell the words
      case "bpe_encode" => compare(refs.text)((k, v) =>
        v.asInstanceOf[scala.collection.Seq[_]].mkString == refs.text(k).getAs[String]("spelled"))
    }
  }
}
