package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextOps

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def one(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Row =
    df.collect().head

  test("tokens: lowercase alnum words") {
    val r = one(Seq("Hello, World! 42x").toDF("text").select(TextOps.tokens($"text").as("t")))
    assert(r.getSeq[String](0) == Seq("hello", "world", "42x"))
  }

  test("shingles3: trigrams, short-doc fallback") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(DeclarativeText.shingles3(TextOps.tokens($"text")).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("a b c", "b c d"))
    assert(rows(1) == Seq("a b"))
  }

  test("minhash signature: Kirsch-Mitzenmacher family from md5 halves") {
    val df = Seq("x y z w").toDF("text")
      .select(TextOps.minhashSignature(DeclarativeText.shingles3(TextOps.tokens($"text")), 4).as("sig"))
    val sig = one(df).getSeq[Long](0)
    assert(sig.length == 4)
    // replay: a/b = unsigned 32-bit halves of md5(s); h_j = (a + j*b) & 2^32-1
    val md = java.security.MessageDigest.getInstance("MD5")
    def ab(s: String): (Long, Long) = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 8), 16),
        java.lang.Long.parseLong(hex.substring(8, 16), 16))
    }
    val shingles = Seq("x y z", "y z w").map(ab)
    for (j <- 0 until 4)
      assert(sig(j) == shingles.map { case (a, b) => (a + j * b) & 0xffffffffL }.min)
    // stable across invocations
    assert(one(df.union(df).limit(1)).getSeq[Long](0) == sig)
  }

  test("simhash64: 64-bit string; similar docs closer than different docs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy cat again and again"),
      (3L, "completely unrelated words about database engines and shuffles")).toDF("id", "text")
    val sh = docs
      .select($"id", TextOps.tokens($"text").as("toks"))
      .select($"id", DeclarativeText.simhash64FromHashes(transform($"toks", t => md5(t))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sh.values.forall(s => s.length == 64 && s.forall(c => c == '0' || c == '1')))
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
  }

  test("native SimHash64 expression is bit-identical to the declarative HOF form") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "spark catalyst optimizer and tungsten execution",
      "a").toDF("text")
      .select(TextOps.tokens($"text").as("toks"))
    val both = docs.select(
      TextOps.simhash64($"toks").as("native"),
      DeclarativeText.simhash64FromHashes(transform($"toks", t => md5(t))).as("hof"))
    both.collect().foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("langId: stopword voting with und fallback") {
    val df = Seq(
      "the cat and the dog in the house",
      "el perro y el gato en la casa del se las",
      "le chat et le chien dans les des maisons du",
      "der hund und die katze von den das haus",
      "zzz qqq xxx").toDF("text")
      .select(DeclarativeText.langId(TextOps.tokens($"text")).as("l"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("en", "es", "fr", "de", "und"))
  }

  test("quality: in [0,1], higher for stopword-rich clean text") {
    val df = Seq(
      "the cat and the dog sat in the house and it was warm",
      "@@@@ #### !!!! %%%% ^^^^ &&&&").toDF("text")
      .select(TextOps.qualityScore($"text").as("q"))
    val qs = df.collect().map(_.getDouble(0))
    assert(qs.forall(q => q >= 0.0 && q <= 1.0))
    assert(qs(0) > qs(1))
  }

  test("token counts: whitespace and bpe-ish") {
    val r = one(Seq("Hello world, 42!").toDF("text")
      .select(TextOps.tokenCountWs($"text").as("ws"), TextOps.tokenCountBpe($"text").as("bpe")))
    assert(r.getInt(0) == 3)
    // hello | world | , | 4 | 2 | !
    assert(r.getInt(1) == 6)
  }

  test("text pipeline callable from pure SQL") {
    val r = spark.sql(
      """SELECT graft_langid(t) AS l, graft_quality(t) AS q, graft_token_count_ws(t) AS ws,
        |       graft_fingerprint(t) AS fp, length(graft_simhash(t)) AS sh,
        |       size(graft_minhash(t, 8)) AS mh, size(graft_shingles(t)) AS sg
        |FROM VALUES ('the quick brown fox and the lazy dog') v(t)""".stripMargin).collect().head
    assert(r.getString(0) == "en")
    assert(r.getDouble(1) > 0 && r.getDouble(1) <= 1)
    assert(r.getInt(2) == 8)
    assert(r.getLong(3) > 0)
    assert(r.getInt(4) == 64)
    assert(r.getInt(5) == 8)
    assert(r.getInt(6) == 6)
  }

  test("crawl-family SQL registration: each graft_ function equals its Column form") {
    import graft.ops.TextOps
    val s = spark
    import s.implicits._
    val html = "<html><head><title>x</title></head><body><p>the cafÃ© " +
      "report &amp; more from bob@x.com at https://x.org/p?utm_source=a" +
      "</p></body></html>"
    val df = Seq(html).toDF("t")
    df.createOrReplaceTempView("crawl_sql_probe")
    val viaSql = s.sql(
      """SELECT graft_extract_html(t) AS ex, graft_normalize_text(t) AS nt,
        |  graft_mojibake(t) AS mj, graft_langid_cjk(t) AS lg,
        |  graft_token_count_cjk(t) AS tc, graft_redact(t) AS rd,
        |  graft_redact_pii(t) AS rp, graft_gopher_keep(t) AS gk,
        |  graft_canonical_url('HTTPS://X.ORG:443/p/?b=2&utm_source=f&a=1#z') AS cu
        |FROM crawl_sql_probe""".stripMargin).collect().head
    val viaCol = df.select(
      TextOps.extractHtmlText($"t"), TextOps.normalizeUnicode($"t"),
      TextOps.mojibakeScore($"t"), TextOps.langIdCjk($"t"),
      TextOps.tokenCountCjk($"t"), TextOps.redact($"t"),
      TextOps.redactPii($"t"), TextOps.gopherKeep($"t"),
      TextOps.canonicalUrl(org.apache.spark.sql.functions.lit(
        "HTTPS://X.ORG:443/p/?b=2&utm_source=f&a=1#z"))).collect().head
    (0 until 9).foreach { i =>
      assert(viaSql.get(i) == viaCol.get(i), s"field $i differs")
    }
    assert(viaSql.getString(8) == "https://x.org/p?a=1&b=2")
    assert(viaSql.getString(6).contains("<EMAIL>") &&
      viaSql.getString(6).contains("<URL>"))
  }

  test("stratifiedSample: n per stratum, deterministic across runs") {
    val df = (1L to 100L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "s")
    val s1 = graft.ops.TextOps.stratifiedSample(df, "s", "id", 5)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    val s2 = graft.ops.TextOps.stratifiedSample(df.repartition(7), "s", "id", 5)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(s1 == s2) // partitioning-independent
    assert(s1.count(_._1 == "a") == 5 && s1.count(_._1 == "b") == 5)
  }

  test("redact masks emails and urls, leaves clean text alone") {
    val rows = Seq(
      "contact me at alice.smith+x@example.org please",
      "see https://example.com/path?q=1 for details",
      "nothing sensitive here").toDF("text")
      .select(TextOps.redact($"text").as("r")).collect().map(_.getString(0))
    assert(rows(0) == "contact me at <EMAIL> please")
    assert(rows(1) == "see <URL> for details")
    assert(rows(2) == "nothing sensitive here")
  }

  test("pairwise SQL similarity: graft_cosine and graft_jaccard") {
    val r = spark.sql(
      """SELECT round(graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)), 6) AS c1,
        |       round(graft_cosine(array(1.0D, 0.0D), array(0.0D, 1.0D)), 6) AS c0,
        |       graft_jaccard('a b c d', 'a b c d') AS j1,
        |       round(graft_jaccard('a b c d e', 'a b c d x'), 6) AS jh
        |""".stripMargin).collect().head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
    assert(r.getDouble(2) == 1.0)
    assert(r.getDouble(3) == 0.5) // shingles {abc,bcd,cde} vs {abc,bcd,cdx}: 2/4
    // edges: a NULL text gives NULL, as SQL functions do, under either
    // ANSI setting (with ANSI off, size(NULL) is -1); an empty text is one
    // empty shingle, texts of fewer than three tokens give one whole-list
    // shingle, and both sides lowercase like `lower()` (İ → "i̇")
    val ansiWas = spark.conf.get("spark.sql.ansi.enabled")
    for (ansi <- Seq("true", "false")) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      val e = try spark.sql(
        """SELECT graft_jaccard(CAST(NULL AS STRING), 'a b c') AS n1,
          |       graft_jaccard(CAST(NULL AS STRING), '') AS n2,
          |       graft_jaccard(CAST(NULL AS STRING), CAST(NULL AS STRING)) AS nn,
          |       graft_jaccard('', '') AS ee,
          |       graft_jaccard('Solo', 'solo!') AS t1,
          |       graft_jaccard('solo', 'solo duo') AS t12,
          |       graft_jaccard('one two', 'ONE, two') AS t2,
          |       graft_jaccard('one two', 'two one') AS t2r,
          |       graft_jaccard('İstanbul', 'i̇stanbul') AS ist
          |""".stripMargin).collect().head
      finally spark.conf.set("spark.sql.ansi.enabled", ansiWas)
      assert((0 until 3).forall(e.isNullAt), s"ansi=$ansi: $e")
      assert((3 until 9).map(e.getDouble) == Seq(1.0, 1.0, 0.0, 1.0, 0.0, 1.0),
        s"ansi=$ansi: $e")
    }
  }

  test("graft_histogram SQL: clamped bin counts") {
    val r = spark.sql(
      """SELECT graft_histogram(x, 0.0, 10.0, 5) AS h
        |FROM VALUES (-1.0), (0.5), (2.5), (2.6), (9.9), (25.0), (CAST(NULL AS DOUBLE)) t(x)
        |""".stripMargin).collect().head.getSeq[Long](0)
    // -1 clamps to bin 0; 25 clamps to bin 4; null skipped
    assert(r == Seq(2L, 2L, 0L, 0L, 2L), r)
  }

  test("graft_srp SQL signature matches the Scala lshBucket kernel") {
    import graft.ops.Similarity
    val viaSql = spark.sql(
      "SELECT graft_srp(array(0.25D, -0.5D, 1.0D), 16, 3) AS sig")
      .collect().head.getString(0)
    val viaScala = spark.range(1)
      .select(Similarity.lshBucket(
        array(lit(0.25), lit(-0.5), lit(1.0)), 16, 3).as("sig"))
      .collect().head.getString(0)
    assert(viaSql == viaScala && viaSql.length == 16 &&
      viaSql.forall(c => c == '0' || c == '1'))
  }

  test("fingerprint: whitespace-insensitive, content-sensitive") {
    val fps = Seq("a  b\t c", "a b c", "a b d").toDF("text")
      .select(TextOps.fingerprint($"text").as("fp")).collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
    assert(fps(1) != fps(2))
  }

  test("minhash/simhash: null array elements are skipped, all-null -> null") {
    val df = spark.range(1).select(
      array(lit("x y z"), lit(null).cast("string")).as("withNull"),
      array(lit("x y z")).as("clean"),
      array(lit(null).cast("string"), lit(null).cast("string")).as("allNull"))
    val r = df.select(
      TextOps.minhashSignature($"withNull", 4).as("m1"),
      TextOps.minhashSignature($"clean", 4).as("m2"),
      TextOps.minhashSignature($"allNull", 4).as("m3"),
      TextOps.simhash64($"withNull").as("s1"),
      TextOps.simhash64($"clean").as("s2")).collect().head
    assert(r.getSeq[Long](0) == r.getSeq[Long](1)) // null skipped, no NPE
    assert(r.isNullAt(2)) // all-null == empty -> null signature
    assert(r.getString(3) == r.getString(4))
  }

  test("TextStats kernel == declarative regexp/HOF forms (quality + langid)") {
    val texts = Seq(
      "The quick brown fox, and the lazy dog! It was... fine.",
      "el gato y la casa de los vecinos en las montañas",
      "le chat et les maisons du village en une nuit",
      "der hund und die katze von dem haus mit sich",
      "x",
      "1234 5678, punct-only!!! ###",
      "   leading and trailing   ",
      "no stop words here whatsoever just plain nouns",
      "İstanbul İS not ascii: DİX İİ", // multi-char lowercase mapping İ → i̇
      "a" * 500 + " the of to in is it that was and")
    val df = texts.toDF("text")
    val r = df.select(
      TextOps.qualityScore($"text").as("qk"),
      DeclarativeText.qualityScoreDeclarative($"text").as("qd"),
      TextOps.langIdText($"text").as("lk"),
      DeclarativeText.langId(DeclarativeText.tokens($"text")).as("ld"),
      TextOps.textStats($"text").getField("n_toks").as("nt"),
      size(DeclarativeText.tokens($"text")).as("ntd")).collect()
    r.foreach { row =>
      assert(row.getDouble(0) == row.getDouble(1), s"quality mismatch: $row")
      assert(row.getString(2) == row.getString(3), s"langid mismatch: $row")
      assert(row.getInt(4) == row.getInt(5), s"token count mismatch: $row")
    }
  }

  test("Tokenize/TokenShingles kernels == regexp + HOF declarative forms") {
    val texts = Seq(
      "The quick, brown FOX! jumps-over 42 lazy dogs.",
      "one two",
      "x",
      "",
      null,
      "  punct...only!!!  ",
      "İstanbul DİX", // multi-char lowercase mapping İ → i̇
      "\u212Aelvin 5\u212A", // the Kelvin sign lowercases to ASCII k
      "Straße STRASSE ß",
      "ΣΑΣ ΟΔΟΣ abc", // final-sigma lowering
      "１２ 12 ab１２cd", // fullwidth digits are not [0-9]
      "emoji😀mid 🙂x \uD83D\uDE00", // surrogate pairs
      "a b c d e f g h",
      ("Alpha beta GAMMA 42, " * 5000).take(100000),
      ("Straße İx \u212Ay 😀 " * 7000).take(100000))
    val modes = SparkTestSession.inCodegenModes {
      spark.sparkContext.parallelize(texts, 3).toDF("text").select(
        $"text",
        TextOps.tokens($"text").as("tn"),
        DeclarativeText.tokens($"text").as("td"),
        TextOps.tokenShingles($"text").as("sn"))
        // staged: a tokenizer inlined into the HOF's lambda re-runs per element
        .select($"*", DeclarativeText.shingles3($"td").as("sd")).collect().toSeq
    }
    assert(modes(0) == modes(1), "generated and interpreted results differ")
    modes.foreach { r =>
      assert(r.map(_.getString(0)) == texts)
      r.foreach { row =>
        assert(row.getSeq[String](1) == row.getSeq[String](2), s"tokens mismatch: $row")
        if (row.isNullAt(0)) {
          // NULL in, NULL out; the HOF form makes one empty shingle
          assert(row.isNullAt(3) && row.getSeq[String](4) == Seq(""), s"NULL text: $row")
        } else {
          assert(row.getSeq[String](3) == row.getSeq[String](4), s"shingles mismatch: $row")
        }
      }
    }
    // n=2 bigrams, incl. the <n fallback
    val bg = Seq("a b c", "only").toDF("text")
      .select(TextOps.tokenShingles($"text", 2).as("bg")).collect().map(_.getSeq[String](0))
    assert(bg(0) == Seq("a b", "b c"))
    assert(bg(1) == Seq("only"))
  }

  test("weightedSample: n per stratum, partition-invariant, favors heavy rows") {
    val rows = (1 to 300).map(i => (i.toLong, if (i % 2 == 0) "a" else "b",
      if (i <= 30) 100000L else 1L)) // ids 1..30 carry ~all the weight
    val df = rows.toDF("doc_id", "lang", "w")
    val draw = (parts: Int) => graft.ops.TextOps
      .weightedSample(df.repartition(parts), "lang", "doc_id", $"w", 10)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    val s1 = draw(1)
    assert(s1 == draw(5)) // deterministic across partitionings
    assert(s1.count(_._1 == "a") == 10 && s1.count(_._1 == "b") == 10)
    // heavy rows dominate the draw
    assert(s1.count(_._2 <= 30) >= 15, s"heavy rows drawn: ${s1.count(_._2 <= 30)}")
    // FRACTIONAL weights must stay proportional (no clamp to 1.0):
    // same data scaled into (0,1) must produce the identical draw,
    // because ln(u)/(w/c) only shifts every key by the constant ln-scale
    val frac = rows.map { case (id, l, w) => (id, l, w / 200000.0) }
      .toDF("doc_id", "lang", "w")
    val s2 = graft.ops.TextOps.weightedSample(frac, "lang", "doc_id", $"w", 10)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(s2.count(_._2 <= 30) >= 15, s"fractional weights ignored: $s2")
  }

  test("splitAssign: deterministic, row-independent, roughly 80/10/10") {
    val df = (1 to 2000).map(_.toLong).toDF("doc_id")
    val counts = df.select(TextOps.splitAssign($"doc_id").as("s"))
      .groupBy($"s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000)
    assert(counts("train") > 1500 && counts("train") < 1700)
    assert(counts("val") > 120 && counts("val") < 280)
    assert(counts("test") > 120 && counts("test") < 280)
    // stable under corpus growth: same id -> same split in a subset
    val sub = (1 to 100).map(_.toLong).toDF("doc_id")
      .select($"doc_id", TextOps.splitAssign($"doc_id").as("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val full = df.select($"doc_id", TextOps.splitAssign($"doc_id").as("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sub.forall { case (k, v) => full(k) == v })
  }

  test("dot product: dimension mismatch fails loudly (no silent truncation)") {
    val bad = spark.range(1).select(
      graft.ops.Similarity.dot(
        array(lit(1.0), lit(2.0)), array(lit(1.0))).as("d"))
    val e = intercept[Throwable] { bad.collect() }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(t => Option(t.getMessage).exists(_.contains("length mismatch"))))
  }
}
