package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** Property tests: the distributed aggregates must equal an independent
  * single-pass reference implementation on randomized data, across
  * randomized partitionings (exercises partial/merge paths).
  * Deterministic seed → reproducible. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def refMoments(xs: Seq[Double]): (Double, Double, Double, Double, Double) = {
    val n = xs.size.toDouble
    val (s1, s2, s3, s4) = xs.foldLeft((0.0, 0.0, 0.0, 0.0)) { case ((a, b, c, d), x) =>
      (a + x, b + x * x, c + x * x * x, d + x * x * x * x)
    }
    (n, s1, s2, s3, s4)
  }

  private def refKurtosisSamp(xs: Seq[Double]): Option[Double] = {
    val (n, s1, s2, s3, s4) = refMoments(xs)
    if (n <= 3) return None
    val t = 1.0 / n
    val m4 = t * (s4 - 4 * s3 * s1 * t + 6 * s2 * s1 * s1 * t * t - 3 * s1 * s1 * s1 * s1 * t * t * t)
    val m2 = (s2 - s1 * s1 * t) * t
    if (m2 <= 0) None
    else Some((n - 1) * ((n + 1) * m4 / (m2 * m2) - 3 * (n - 1)) / ((n - 2) * (n - 3)))
  }

  private def refSkewSamp(xs: Seq[Double]): Option[Double] = {
    val (n, s1, s2, s3, _) = refMoments(xs)
    if (n <= 2) return None
    val t = 1.0 / n
    val m2 = t * (s2 - s1 * s1 * t)
    val div = math.sqrt(math.max(m2 * m2 * m2, 0.0))
    if (div == 0) None
    else Some(math.sqrt(n * (n - 1)) / (n - 2) * t *
      (s3 - 3 * s2 * s1 * t + 2 * s1 * s1 * s1 * t * t) / div)
  }

  test("kurtosis/skewness equal the reference formula on random data and partitionings") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 25) {
      val xs = Seq.fill(4 + rnd.nextInt(57))((rnd.nextInt(101) - 50).toDouble / 2)
      val parts = 1 + rnd.nextInt(7)
      val df = spark.sparkContext.parallelize(xs, parts).toDF("x")
      val r = df.agg(
        GraftFunctions.kurtosis_samp($"x").as("k"),
        GraftFunctions.skewness_samp($"x").as("s")).collect().head
      val k = if (r.isNullAt(0)) None else Some(r.getDouble(0))
      val s = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      def close(a: Option[Double], b: Option[Double]) = (a, b) match {
        case (None, None) => true
        case (Some(x), Some(y)) => math.abs(x - y) <= 1e-8 * math.max(1.0, math.abs(y))
        case _ => false
      }
      assert(close(k, refKurtosisSamp(xs)), s"k=$k ref=${refKurtosisSamp(xs)} xs=$xs")
      assert(close(s, refSkewSamp(xs)), s"s=$s ref=${refSkewSamp(xs)} xs=$xs")
    }
  }

  test("mode equals naive mode with reference tie-break on random ints and partitionings") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 25) {
      val xs = Seq.fill(1 + rnd.nextInt(50))(rnd.nextInt(9))
      val parts = 1 + rnd.nextInt(7)
      val df = spark.sparkContext.parallelize(xs, parts).toDF("x")
      val got = df.agg(GraftFunctions.mode_agg($"x")).collect().head.getInt(0)
      val counts = xs.groupBy(identity).map { case (v, l) => (v, l.size) }
      val maxC = counts.values.max
      val expect = counts.filter(_._2 == maxC).keys.max // primitives tie → greatest
      assert(got == expect, s"got=$got expect=$expect xs=$xs")
    }
  }

  test("minhash signature equals a scala replay on random token lists") {
    val rnd = new scala.util.Random(13)
    def randWord() = Seq.fill(1 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString
    val md = java.security.MessageDigest.getInstance("MD5")
    def sigOf(text: String): Seq[Long] = {
      val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq
      val sh = if (toks.size >= 3) toks.sliding(3).map(_.mkString(" ")).toSeq
        else Seq(toks.mkString(" "))
      (0 until 8).map { j =>
        sh.map { s =>
          val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
          val a = java.lang.Long.parseLong(hex.substring(0, 8), 16)
          val b = java.lang.Long.parseLong(hex.substring(8, 16), 16)
          (a + j * b) & 0xffffffffL
        }.min
      }
    }
    for (_ <- 1 to 15) {
      val text = Seq.fill(1 + rnd.nextInt(30))(randWord()).mkString(" ")
      val got = Seq(text).toDF("text")
        .select(graft.ops.TextOps.minhashSignature(
          DeclarativeText.shingles3(graft.ops.TextOps.tokens($"text")), 8).as("sig"))
        .collect().head.getSeq[Long](0)
      assert(got == sigOf(text), s"text=$text")
    }
  }

  test("text kernels equal declarative forms on random noisy strings") {
    import graft.ops.TextOps
    val rnd = new scala.util.Random(7)
    val alphabet = "abcXYZ0189 \t\n.,;!?-_@#ñé€()[]\"'"
    def randText() = Seq.fill(rnd.nextInt(120))(alphabet(rnd.nextInt(alphabet.length))).mkString
    val texts = Seq.fill(60)(randText()).filter(_.nonEmpty) ++ Seq(
      null, "", "\u212Aelvin 5\u212A", "Straße ß", "ΣΑΣ abc", "１２ 12", "emoji😀mid 🙂x",
      ("Alpha beta GAMMA 42, " * 5000).take(100000),
      ("Straße İx \u212Ay 😀 " * 7000).take(100000))
    val modes = SparkTestSession.inCodegenModes {
      spark.sparkContext.parallelize(texts, 3).toDF("text")
        .select($"text", DeclarativeText.tokens($"text").as("td"))
        // staged: a tokenizer inlined into the HOF's lambda re-runs per element
        .select(
        TextOps.tokens($"text").as("tn"),
        $"td",
        TextOps.tokenShingles($"text").as("s3n"),
        DeclarativeText.shingles3($"td").as("s3d"),
        TextOps.tokenShingles($"text", 2).as("s2n"),
        TextOps.qualityScore($"text").as("qk"),
        DeclarativeText.qualityScoreDeclarative($"text").as("qd"),
        TextOps.langIdText($"text").as("lk"),
        DeclarativeText.langId(DeclarativeText.tokens($"text")).as("ld"),
        $"text").collect().toSeq
    }
    assert(modes(0) == modes(1), "generated and interpreted results differ")
    modes.flatten.foreach { row =>
      assert(row.getSeq[String](0) == row.getSeq[String](1), s"tokens: $row")
      assert(row.get(5) == row.get(6), s"quality: $row")
      assert(row.get(7) == row.get(8), s"langid: $row")
      if (row.isNullAt(9)) {
        // NULL in, NULL out; the HOF form makes one empty shingle
        assert(row.isNullAt(2) && row.isNullAt(4) && row.getSeq[String](3) == Seq(""), s"NULL: $row")
      } else {
        assert(row.getSeq[String](2) == row.getSeq[String](3), s"shingles3: $row")
        val toks = row.getSeq[String](0)
        val bigrams = if (toks.size >= 2) toks.sliding(2).map(_.mkString(" ")).toSeq
          else Seq(toks.mkString(" "))
        assert(row.getSeq[String](4) == bigrams, s"bigrams: $row")
      }
    }
  }

  test("bloom filter: no false negatives on random sets across random partitionings") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 10) {
      val n = 50 + rnd.nextInt(400)
      val inserted = Seq.fill(n)(rnd.alphanumeric.take(3 + rnd.nextInt(12)).mkString)
      val parts = 1 + rnd.nextInt(7)
      val df = spark.sparkContext.parallelize(inserted, parts).toDF("g")
      val bloom = df.agg(column(graft.functions.BloomBitsAgg(
        expression(col("g")), 1 << 16, 3).toAggregateExpression()).as("bits"))
      val hits = df.agg(collect_list(col("g")).as("all")).crossJoin(bloom)
        .select(column(graft.functions.BloomHitCount(
          expression(col("bits")), expression(col("all")), 1 << 16, 3)).as("h"))
        .head().getLong(0)
      assert(hits == inserted.distinct.size, s"n=$n parts=$parts")
    }
  }

  test("srp signature equals the per-plane dot-product composition") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val dim = 16
    val vecs = Seq.fill(40)(Seq.fill(dim)((rnd.nextInt(2001) - 1000).toDouble / 100))
    val df = vecs.toDF("v").select(graft.ops.Similarity.toDouble($"v").as("v"))
    val native = df.select(graft.ops.Similarity.lshBucket($"v", 8, dim).as("sig"))
      .collect().map(_.getString(0))
    // reference composition: per-plane left-fold dot, sign, concat, over
    // the weights' own definition (first 8 hex chars of md5("p_d"))
    def weight(p: Int, d: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${p}_$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16).toDouble / 4294967296.0 - 0.5
    }
    val expected = vecs.map { v =>
      (0 until 8).map { p =>
        val acc = (0 until dim).foldLeft(0.0)((a, d) => a + v(d) * weight(p, d))
        if (acc >= 0) '1' else '0'
      }.mkString
    }
    assert(native.toSeq == expected)
  }

  test("zorderKey16: adjacent cells differ in bounded key range (locality)") {
    // a +1 step in either dimension flips exactly one spread bit plus
    // carries — the key of (a+1, b) or (a, b+1) stays within the parent
    // 4-cell block unless a carry crosses a power-of-two boundary; check
    // the reference interleave law on random cells instead of plan folklore
    def morton(a: Long, b: Long): Long =
      (0 until 16).map(i => (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))).reduce(_ | _)
    val rnd = new scala.util.Random(13)
    val cells = Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val df = cells.toDF("a", "b")
    val keys = df.select(graft.ops.Scale.zorderKey16(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")).as("z"))
      .collect().map(_.getLong(0))
    assert(keys.toSeq == cells.map((morton _).tupled))
  }

  test("amsF2: exact side equals brute-force Σf² on random data and partitionings") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 10) {
      val keys = Seq.fill(50 + rnd.nextInt(200))(s"k${rnd.nextInt(30)}")
      val parts = 1 + rnd.nextInt(7)
      val df = spark.sparkContext.parallelize(keys, parts).toDF("k")
      val r = graft.ops.Sketches.amsF2(df, "k", counters = 16).head()
      val brute = keys.groupBy(identity).values.map(g => g.size.toLong * g.size).sum
      assert(r.getAs[Long]("exact_f2") == brute)
      assert(r.getAs[Double]("est_f2") > 0.0)
    }
  }

  test("temperatureMix: targets never exceed the budget, weights sum to ~1") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 10) {
      val nSrc = 2 + rnd.nextInt(6)
      val rows = (0 until nSrc).flatMap { s =>
        (0 until (1 + rnd.nextInt(40))).map(i => (s"s$s", (s * 1000 + i).toLong))
      }
      val budget = 1L + rnd.nextInt(60)
      val r = graft.ops.TextOps.temperatureMix(
        rows.toDF("source", "doc_id"), "source", "doc_id", budget).collect()
      val targets = r.map(_.getAs[Long]("target_n"))
      assert(targets.sum <= budget, s"floor targets ${targets.toSeq} exceed $budget")
      val wsum = r.map(_.getAs[Double]("weight")).sum
      assert(math.abs(wsum - 1.0) < 1e-4, s"weights sum to $wsum")
      r.foreach { row =>
        assert(row.getAs[Long]("sampled_n") ==
          math.min(row.getAs[Long]("target_n"), row.getAs[Long]("n_docs")))
      }
    }
  }

  test("winsorizedMean: always inside [p_lo, p_hi], idempotent on clamped data") {
    val rnd = new scala.util.Random(3)
    for (_ <- 1 to 10) {
      val xs = Seq.fill(20 + rnd.nextInt(100))(rnd.nextInt(10000).toDouble / 100)
      val df = spark.sparkContext.parallelize(xs.map(("g", _)), 1 + rnd.nextInt(5))
        .toDF("k", "v")
      val r = graft.ops.Stats.winsorizedMean(df, Seq("k"), "v").head()
      val (lo, hi, wm) = (r.getAs[Double]("p_lo"), r.getAs[Double]("p_hi"),
        r.getAs[Double]("winsorized_mean"))
      assert(wm >= lo - 1e-9 && wm <= hi + 1e-9, s"mean $wm outside [$lo, $hi]")
    }
  }

  test("dedupIncremental: survivors disjoint from index, unique, and idempotent") {
    import org.apache.spark.sql.functions.{col, md5}
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      // random shard with heavy duplication over a small vocabulary
      val texts = Vector.tabulate(8)(i => s"document body number $i with shared words")
      val shard = Seq.tabulate(40)(i => (i.toLong, texts(rnd.nextInt(8))))
        .toDF("doc_id", "text")
      val idxTexts = Seq.fill(3)(texts(rnd.nextInt(8))).distinct
      val idx = idxTexts.toDF("t").select(md5(col("t")).as("fp"))
      val out = graft.ops.Dedup.dedupIncremental(shard, "doc_id", "text", idx, "fp")
      val rows = out.collect()
      val hashes = rows.map(_.getString(1))
      // unique per hash
      assert(hashes.distinct.length == hashes.length)
      // disjoint from the index
      val idxHashes = idx.collect().map(_.getString(0)).toSet
      assert(hashes.forall(h => !idxHashes.contains(h)))
      // idempotent: survivors re-deduped against index ∪ survivors = ∅
      val merged = idx.union(out.select(col("text_hash").as("fp")))
      val again = graft.ops.Dedup.dedupIncremental(
        shard.join(out.select(col("doc_id")), Seq("doc_id"), "left_semi"),
        "doc_id", "text", merged, "fp")
      assert(again.count() == 0L)
    }
  }

  test("dedupSpans: internal consistency and partitioning-invariance on random corpora") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
    for (trial <- 1 to 3) {
      // random docs built from a few shared runs + random filler: real
      // duplicated spans at random offsets, some docs fully unique
      val runs = Vector.fill(3)(Seq.fill(10)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val docs = Seq.tabulate(25) { i =>
        val parts = Seq.fill(rnd.nextInt(3))(runs(rnd.nextInt(3))) ++
          Seq.fill(4 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
        (i.toLong, rnd.shuffle(parts).mkString(" "))
      }.toDF("doc_id", "text")
      def run(parts: Int) =
        graft.ops.Dedup.dedupSpans(docs.repartition(parts), "doc_id", "text", gram = 8)
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
          .toMap
      val a = run(1)
      // same answer under a different input partitioning (exercises the
      // gram-hash reduce's partial/merge paths and the window pass)
      assert(run(7) == a, s"trial $trial: partitioning changed the result")
      a.foreach { case (id, (nTok, dupTok, nSpans, clean)) =>
        val kept = if (clean.isEmpty) 0 else clean.split(" ").length
        // removed mass accounts exactly for the missing tokens
        assert(nTok - dupTok == kept, s"doc $id: $nTok - $dupTok != $kept")
        // spans exist iff tokens were removed, and each span removes
        // at least `gram` contiguous tokens... except where spans from
        // different grams merge — so the weaker exact bound: dup >= gram
        // whenever any span exists, and spans <= dup / 1 (trivial)
        if (nSpans > 0) assert(dupTok >= 8, s"doc $id: span smaller than gram")
        if (dupTok > 0) assert(nSpans >= 1)
      }
      // global: total dup tokens is positive iff some run repeated
      val totalDup = a.values.map(_._2).sum
      val textCounts = docs.collect().map(_.getString(1))
      val anyRepeat = runs.exists(r => textCounts.count(_.contains(r)) > 1)
      if (anyRepeat) assert(totalDup > 0)
    }
  }

  test("budgetSelect/shardAssign equal the single-window reference on random null-riddled corpora") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.ops.TextOps
    val words = Seq("the", "quick", "brown", "fox", "data", "engine", "scale",
      "token", "spark", "plan", "join", "window", "shard", "budget")
    val rnd = new scala.util.Random(1234)
    for (round <- 1 to 8) {
      // random docs: random lengths, random sources including NULL and
      // the empty string, random NULL texts, duplicate token counts
      val rows = (1L to (20L + rnd.nextInt(40))).map { id =>
        val text = if (rnd.nextInt(8) == 0) null
          else Seq.fill(rnd.nextInt(12))(words(rnd.nextInt(words.size))).mkString(" ")
        val source = rnd.nextInt(5) match {
          case 0 => null
          case 1 => ""
          case k => s"s$k"
        }
        (id, text, source)
      }
      val parts = 1 + rnd.nextInt(5)
      val d = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, parts)).toDF("doc_id", "text", "source")
      def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] = {
        val names = df.columns.sorted
        df.select(names.map(col): _*).collect().map(_.toString).toSet
      }
      val budget = Seq(0L, 10L, 60L, 1000000L)(rnd.nextInt(4))
      val scoredB = d.select(col("source"), col("doc_id"),
        TextOps.qualityScore(col("text")).as("quality"),
        TextOps.tokenCountBpe(col("text")).cast("long").as("n_tokens"))
      val wB = Window.partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val naiveB = scoredB.withColumn("cum_tokens", sum(col("n_tokens")).over(wB))
        .filter(col("cum_tokens") <= budget)
      assert(rowsOf(TextOps.budgetSelect(d, "doc_id", "text", "source", budget))
        == rowsOf(naiveB), s"round=$round budget=$budget parts=$parts")
      val nShards = 1 + rnd.nextInt(6)
      val scoredS = d.select(col("source").as("stratum"), col("doc_id"),
        TextOps.tokenCountBpe(col("text")).cast("long").as("n_tokens"))
      val wS = Window.partitionBy(col("stratum"))
        .orderBy(col("n_tokens").desc, col("doc_id").asc)
      val naiveS = scoredS.withColumn("shard",
        ((row_number().over(wS) - 1) % nShards).cast("int"))
      assert(rowsOf(TextOps.shardAssign(d, "doc_id", "text", "source", nShards))
        == rowsOf(naiveS), s"round=$round nShards=$nShards parts=$parts")
    }
  }
}
