package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-18 work (driver round 16): WARC/WET ingestion (the crawl
  * chain's missing first mile), plus regression pins for the round's
  * verdict/advice deliverables. */
class Round18OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import graft.sources.Warc
  import graft.ops.TextOps
  import graft.functions.ByteLevelUnits

  // ---- independent byte-level BPE reference (deliberately naive:
  // string-level pre-tokenize via java.util.regex, byte map built from
  // the published bytes_to_unicode recipe, ONE-occurrence-at-a-time
  // min-rank merging — a different algorithm that must converge to the
  // kernel's merge-all result for well-formed tables) ----

  private lazy val refByteMap: Map[Int, Char] = {
    val keep = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    var n = -1
    (0 until 256).map { b =>
      b -> (if (keep(b)) b.toChar else { n += 1; (256 + n).toChar })
    }.toMap
  }

  private def refUnits(pretok: String): String =
    pretok.getBytes("UTF-8").map(b => refByteMap(b & 0xff)).mkString

  private def refPreTokenize(text: String): Vector[String] = {
    val m = java.util.regex.Pattern.compile(TextOps.PreTokenPattern)
      .matcher(text)
    val out = Vector.newBuilder[String]
    while (m.find()) out += m.group()
    out.result()
  }

  private def refEncodeWord(units: String,
      merges: Seq[(String, String)]): Vector[String] = {
    val rank = merges.zipWithIndex.groupBy(_._1).map {
      case (p, rs) => p -> rs.map(_._2).min
    }
    var syms = units.map(_.toString).toVector
    var changed = true
    while (changed && syms.size >= 2) {
      val best = syms.zip(syms.tail).zipWithIndex
        .flatMap { case (p, i) => rank.get(p).map(r => (r, i)) }
        .sortBy { case (r, i) => (r, i) }.headOption
      best match {
        case Some((_, i)) =>
          syms = (syms.take(i) :+ (syms(i) + syms(i + 1))) ++ syms.drop(i + 2)
        case None => changed = false
      }
    }
    syms
  }

  private def refEncodeText(text: String,
      merges: Seq[(String, String)]): Vector[String] =
    refPreTokenize(text).flatMap(pt => refEncodeWord(refUnits(pt), merges))

  test("byte map pins the published bytes_to_unicode values") {
    val m = ByteLevelUnits.byteToChar
    assert(m(' '.toInt) == 'Ġ', "space -> U+0120")
    assert(m('\n'.toInt) == 'Ċ', "newline -> U+010A")
    assert(m('\t'.toInt) == 'ĉ', "tab -> U+0109")
    assert(m('A'.toInt) == 'A' && m('~'.toInt) == '~' && m('|'.toInt) == '|')
    assert(m(0) == 'Ā' && m(127) == 'ġ' && m(173) == 'Ń')
    assert(m.distinct.length == 256, "the byte map must be a bijection")
    // é is 0xC3 0xA9 in UTF-8; both bytes are kept latin-1 printables
    assert(refUnits("é") == "Ã©")
    assert(ByteLevelUnits.decode("Ã©") == "é")
  }

  test("byte-level encode round-trips ANY text exactly (decode ∘ concat = id)") {
    import spark.implicits._
    val texts = Seq(
      "Hello, world!  Multi  spaces\tand\nnewlines.",
      "café déjà-vu — “smart” quotes…",
      "日本語テキスト mixed with english and 123 digits",
      "emoji 🌍 and accents àéîõü", "", "   ", "don't can't we'll I'm")
    val out = texts.toDF("text")
      .select(TextOps.bpeEncodeByteLevel(org.apache.spark.sql.functions.col("text"),
        TextOps.BpeByteGateMerges).as("enc"))
      .collect().map(_.getSeq[String](0))
    texts.zip(out).foreach { case (t, toks) =>
      assert(ByteLevelUnits.decode(toks.mkString("")) == t,
        s"round-trip failed for '$t'")
    }
  }

  test("byte-level encode == independent reference on non-ASCII + punctuation") {
    import spark.implicits._
    val texts = Seq(
      "the theatre and the other theory", // exercises Ġth/Ġthe merges
      "ingredients ended and sanded",     // ing/ed/and merges
      "naïve café — öffnung, 東京 2024!?", // byte-decomposed non-ASCII
      "a.b.c... d,e;f!!", "it's don't o'clock")
    val sparkOut = texts.toDF("text")
      .select(TextOps.bpeEncodeByteLevel(org.apache.spark.sql.functions.col("text"),
        TextOps.BpeByteGateMerges).as("enc"))
      .collect().map(_.getSeq[String](0).toVector)
    texts.zip(sparkOut).foreach { case (t, got) =>
      assert(got == refEncodeText(t, TextOps.BpeByteGateMerges),
        s"kernel vs reference diverged on '$t'")
    }
  }

  test("byteLevelVocab follows the GPT-2 numbering; encode-to-ids inverts through the vocab") {
    val v = TextOps.byteLevelVocab(TextOps.BpeByteGateMerges)
    assert(v.size == 256 + TextOps.BpeByteGateMerges.size)
    // base ids ARE the byte values; merges number from 256 in rank order
    assert(v("A") == 65 && v("Ġ") == 32 && v("Ā") == 0 && v("~") == 126)
    assert(v("th") == 256 && v("ed") == 256 + 19)
    import spark.implicits._
    val texts = Seq("the theatre and the other", "it's 2024, naïve!", "")
    val rows = texts.toDF("text").select(
      TextOps.bpeEncodeByteLevel(col("text"), TextOps.BpeByteGateMerges)
        .as("toks"),
      TextOps.bpeEncodeToIds(col("text"), TextOps.BpeByteGateMerges)
        .as("ids")).collect()
    val inv = v.map(_.swap)
    rows.foreach { r =>
      assert(r.getSeq[Int](1).map(inv) == r.getSeq[String](0),
        "ids must invert token-for-token through the vocabulary")
    }
  }

  test("bpeTrainByteLevel == naive reference trainer on a small mixed corpus") {
    import spark.implicits._
    val corpus = Seq(
      "the theme of the thesis", "then the weather thawed",
      "thé et café, naïveté", "the the the thin thing",
      "breathe with the rhythm")
    val trained = TextOps.bpeTrainByteLevel(corpus.toDF("text"), "text", 8)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).map(m => (m._2, m._3)).toVector
    // naive trainer: (unit-word, freq) dict; per round count adjacent
    // pairs weighted by freq via the REFERENCE encoder under the merges
    // so far; adopt max count, ties lexicographic (x, y)
    val dict = corpus.flatMap(refPreTokenize).map(refUnits)
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    var merges = Vector.empty[(String, String)]
    (0 until 8).foreach { _ =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      dict.foreach { case (w, f) =>
        val syms = refEncodeWord(w, merges)
        syms.zip(syms.tail).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + f
        }
      }
      if (counts.nonEmpty) {
        val best = counts.toSeq.minBy { case ((x, y), c) => (-c, x, y) }._1
        merges :+= best
      }
    }
    assert(trained == merges,
      s"trained table diverged:\n  spark: $trained\n  ref  : $merges")
  }

  test("byte-level merges never cross a pre-token boundary") {
    import spark.implicits._
    // 'e t' occurs constantly ACROSS words; a word-boundary-blind
    // trainer would adopt ("e", "Ġt")-style merges joining two
    // pre-tokens' units... which byte-level actually ALLOWS within one
    // pre-token (' the' = "Ġthe"), so the real invariant is: every
    // trained merge output is a substring of some single pre-token's
    // unit string.
    val corpus = Seq("more the place the image the", "the more the place")
    val units = corpus.flatMap(refPreTokenize).map(refUnits).toSet
    val trained = TextOps.bpeTrainByteLevel(corpus.toDF("text"), "text", 6)
      .collect().map(r => r.getString(1) + r.getString(2))
    trained.foreach { sym =>
      assert(units.exists(_.contains(sym)),
        s"merge output '$sym' crosses a pre-token boundary")
    }
  }

  // ---- WARC test-bytes builders (the MjpegAvi discipline: the spec
  // synthesizes the binary format from the public layout) ----

  private def rec(typ: String, url: String, date: String,
      body: Array[Byte], extra: Seq[(String, String)] = Nil): Array[Byte] = {
    val h = new StringBuilder
    h ++= "WARC/1.0\r\n"
    h ++= s"WARC-Type: $typ\r\n"
    if (url.nonEmpty) h ++= s"WARC-Target-URI: $url\r\n"
    h ++= s"WARC-Date: $date\r\n"
    h ++= s"WARC-Record-ID: <urn:uuid:${typ}-${math.abs(url.hashCode)}>\r\n"
    extra.foreach { case (k, v) => h ++= s"$k: $v\r\n" }
    h ++= s"Content-Length: ${body.length}\r\n\r\n"
    h.toString.getBytes("UTF-8") ++ body ++ "\r\n\r\n".getBytes("UTF-8")
  }

  private def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bo)
    g.write(bytes); g.close()
    bo.toByteArray
  }

  private def httpResponse(html: String): Array[Byte] =
    ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      s"Content-Length: ${html.getBytes("UTF-8").length}\r\n\r\n" + html)
      .getBytes("UTF-8")

  private val wetBody1 =
    "the quick brown fox jumps over the lazy dog and then runs far away"
  private val wetBody2 = "a completely different second document body text"

  private def wetBytes: Array[Byte] =
    rec("warcinfo", "", "2024-05-01T00:00:00Z",
      "software: graft-spec".getBytes("UTF-8")) ++
      rec("conversion", "https://a.example.org/p1", "2024-05-01T10:00:00Z",
        wetBody1.getBytes("UTF-8"),
        Seq("Content-Type" -> "text/plain")) ++
      rec("conversion", "https://b.example.org/p2", "2024-05-01T11:30:00Z",
        wetBody2.getBytes("UTF-8"),
        Seq("Content-Type" -> "text/plain"))

  test("parseWarc: plain WET framing (warcinfo + 2 conversions)") {
    val rs = Warc.parseWarc(wetBytes)
    assert(rs.map(_.recordType) == Vector("warcinfo", "conversion", "conversion"))
    assert(rs(1).url == "https://a.example.org/p1")
    assert(new String(rs(1).content, "UTF-8") == wetBody1)
    assert(new String(rs(2).content, "UTF-8") == wetBody2)
  }

  test("gunzipAll: multi-member gzip (one member per record, the .warc.gz layout) is consumed COMPLETELY") {
    val members =
      gzipMember(rec("conversion", "https://a.example.org/1",
        "2024-05-01T10:00:00Z", "first".getBytes("UTF-8"))) ++
        gzipMember(rec("conversion", "https://a.example.org/2",
          "2024-05-01T10:01:00Z", "second".getBytes("UTF-8"))) ++
        gzipMember(rec("conversion", "https://a.example.org/3",
          "2024-05-01T10:02:00Z", "third".getBytes("UTF-8")))
    val rs = Warc.parseWarc(Warc.gunzipAll(members))
    assert(rs.size == 3, "a reader that stops at the first gzip member loses the file's tail")
    assert(rs.map(r => new String(r.content, "UTF-8")) ==
      Vector("first", "second", "third"))
    // non-gzip bytes pass through untouched
    assert(Warc.gunzipAll(wetBytes) sameElements wetBytes)
  }

  test("parseWarc: truncated record and missing Content-Length fail loudly") {
    val whole = rec("conversion", "https://a.example.org/1",
      "2024-05-01T10:00:00Z", "0123456789".getBytes("UTF-8"))
    val truncated = whole.take(whole.length - 8) // cut into the block
    val e1 = intercept[IllegalArgumentException](Warc.parseWarc(truncated))
    assert(e1.getMessage.contains("truncated"))
    val noLen = ("WARC/1.0\r\nWARC-Type: conversion\r\n\r\nbody"
      ).getBytes("UTF-8")
    val e2 = intercept[RuntimeException](Warc.parseWarc(noLen))
    assert(e2.getMessage.contains("Content-Length"))
    val notWarc = "HTTP/1.1 200 OK\r\n\r\n".getBytes("UTF-8")
    val e3 = intercept[IllegalArgumentException](Warc.parseWarc(notWarc))
    assert(e3.getMessage.contains("WARC record boundary"))
  }

  test("httpBody strips the HTTP envelope of response records only") {
    val html = "<html><body>hello</body></html>"
    val resp = Warc.WarcRecord("response", "https://a.example.org/", "",
      "application/http; msgtype=response", "", httpResponse(html))
    assert(new String(Warc.httpBody(resp), "UTF-8") == html)
    val conv = resp.copy(recordType = "conversion",
      content = "plain".getBytes("UTF-8"))
    assert(new String(Warc.httpBody(conv), "UTF-8") == "plain")
  }

  test("readWarc end-to-end: gzipped multi-member file through the binaryFile source") {
    val dir = java.nio.file.Files.createTempDirectory("warc-spec").toFile
    try {
      val f = new java.io.File(dir, "seg-00000.warc.gz")
      val html = "<html><body><p>page one body</p></body></html>"
      val bytes =
        gzipMember(rec("warcinfo", "", "2024-05-01T00:00:00Z",
          "software: graft-spec".getBytes("UTF-8"))) ++
          gzipMember(rec("response", "https://news.example.org/a",
            "2024-05-01T10:00:00Z", httpResponse(html))) ++
          gzipMember(rec("conversion", "https://blog.example.org/b",
            "2024-05-01T11:00:00Z", wetBody1.getBytes("UTF-8")))
      java.nio.file.Files.write(f.toPath, bytes)
      val df = Warc.readWarc(spark, dir.getAbsolutePath).cache()
      assert(df.count() == 3)
      val resp = df.filter(col("record_type") === "response").collect()(0)
      assert(resp.getAs[String]("url") == "https://news.example.org/a")
      assert(new String(resp.getAs[Array[Byte]]("content"), "UTF-8") == html,
        "response content must be the HTTP entity body, not the envelope")
      assert(resp.getAs[java.sql.Timestamp]("fetch_ts") != null)
      val pages = Warc.pages(df).cache()
      assert(pages.count() == 2, "warcinfo records are not pages")
      assert(pages.select("source").collect().map(_.getString(0)).toSet ==
        Set("news.example.org", "blog.example.org"))
      // doc_id determinism: a second read assigns identical ids
      val again = Warc.pages(Warc.readWarc(spark, dir.getAbsolutePath))
      assert(pages.select("doc_id").collect().map(_.getLong(0)).toSet ==
        again.select("doc_id").collect().map(_.getLong(0)).toSet)
      df.unpersist(); pages.unpersist()
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("fimTransform: sentinel-delimited pieces reassemble the original text exactly; degenerate docs pass through") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docsDf = ((1L to 200L).map(i => (i, s"document $i body with some words αβγ end")) ++
      Seq((900L, ""), (901L, "ab"), (902L, "x"))).toDF("doc_id", "text")
    val out = TextOps.fimTransform(docsDf, "doc_id", "text", fimRate = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    val orig = docsDf.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    var applied = 0
    out.foreach { case (id, (ap, t)) =>
      if (!ap) assert(t == orig(id), s"untransformed doc $id must pass through")
      else {
        applied += 1
        // <PRE>p<SUF>s<MID>m reassembles to p+m+s == original
        val m1 = t.indexOf("<SUF>"); val m2 = t.indexOf("<MID>")
        assert(t.startsWith("<PRE>") && m1 > 0 && m2 > m1, t)
        val p = t.substring(5, m1)
        val sfx = t.substring(m1 + 5, m2)
        val mid = t.substring(m2 + 5)
        assert(p + mid + sfx == orig(id),
          s"doc $id pieces must reassemble the original")
      }
    }
    // the md5 draw applies ~fimRate of eligible docs
    assert(applied > 60 && applied < 140, s"applied=$applied of 200 at rate 0.5")
    // sub-3-char docs are never transformed
    Seq(900L, 901L, 902L).foreach(id => assert(!out(id)._1))
  }

  test("clusterBuilder encodes the 100TB operating point (skew join, partition sizing, no master)") {
    val opts = GraftSession.clusterBuilder(totalExecutorCores = 1000)
    // inspect via a throwaway config dump: build against the running
    // local master so getOrCreate reuses the session, then read back
    // only the STATIC-safe expectations from the builder's options map
    val mm = opts.getClass.getMethod("options")
    mm.setAccessible(true)
    val m = mm.invoke(opts).asInstanceOf[scala.collection.mutable.Map[String, String]]
    assert(m("spark.sql.shuffle.partitions") == "3000")
    assert(m("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(m("spark.sql.files.maxPartitionBytes") == "256m")
    assert(m("spark.sql.adaptive.enabled") == "true")
    assert(!m.contains("spark.master"),
      "the deployment must supply the master, never the library")
  }

  test("epochMix: water-filling properties hold — caps honored, level consistent, budget exhausted to flooring") {
    import spark.implicits._
    val src = Seq(("a", 100L), ("b", 400L), ("c", 2500L), ("d", 10000L),
      ("e", 40000L)).toDF("source", "toks")
    def run(b: Long, maxRep: Int) =
      TextOps.epochMix(src, "source", "toks", b, maxRep).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
        .toMap
    def w(n: Long) = math.round(math.sqrt(n.toDouble) * 1e6)
    val B = 60000L
    val out = run(B, 4)
    val capped = out.filter(_._2._4)
    val unc = out.filter(!_._2._4)
    assert(capped.nonEmpty && unc.nonEmpty, s"mixed split expected: $out")
    // capped rows allocate exactly maxRepeat epochs
    capped.foreach { case (s, (n, a, e, _)) =>
      assert(a == 4 * n && e == 4.0, s"$s") }
    val csum = capped.values.map(v => v._2).sum
    val wsum = unc.keys.map(s => w(out(s)._1)).sum
    unc.foreach { case (s, (n, a, e, _)) =>
      // exact floor share of the leftover
      assert(a == (BigInt(w(n)) * (B - csum) / wsum).toLong, s"$s share")
      // the water level sits BELOW every uncapped cap
      assert(a <= 4 * n, s"$s must not exceed its own cap")
    }
    // level consistency: every capped source's cap/w ratio is below the
    // level the uncapped sources settle at
    capped.keys.foreach { s =>
      val n = out(s)._1
      assert(BigInt(4 * n) * wsum <= BigInt(B - csum) * w(n), s"$s level")
    }
    // budget exhausted up to the flooring remainder
    val total = out.values.map(_._2).sum
    assert(total <= B && total > B - unc.size, s"total=$total")
    // degenerate corners: budget above all caps -> everything capped;
    // budget zero -> nothing allocated
    val all = run(1000000L, 4)
    assert(all.values.forall(v => v._4 && v._2 == 4 * v._1))
    val zero = run(0L, 4)
    assert(zero.values.forall(v => !v._4 && v._2 == 0L))
  }

  test("scoreLinear: hashed-feature serving matches a direct computation; token-less docs score sigma(bias)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docsDf = Seq((1L, "alpha beta gamma alpha"), (2L, ""),
      (3L, "Sparse-UNSEEN tokens 42")).toDF("doc_id", "text")
    val weights = Seq((0L, 0.5), (1L, -0.25), (2L, 0.125), (3L, -0.0625))
      .toDF("bucket", "w")
    val out = TextOps.scoreLinear(docsDf, "doc_id", "text", weights,
        numBuckets = 4, bias = 0.1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // independent reference: same tokenizer rule ([a-z0-9]+ on the
    // lowercased text), md5-bucket, micro-rounded weight sum
    def bucket(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 4
    }
    val wm = Map(0L -> 500000L, 1L -> -250000L, 2L -> 125000L, 3L -> -62500L)
    def ref(text: String): (Long, Long, Double) = {
      val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq
      val lm = toks.map(t => wm(bucket(t))).sum + 100000L
      (toks.size.toLong, lm,
        BigDecimal(1.0 / (1.0 + math.exp(-lm / 1e6)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    Seq(1L -> "alpha beta gamma alpha", 2L -> "",
      3L -> "Sparse-UNSEEN tokens 42").foreach { case (id, t) =>
      assert(out(id) == ref(t), s"doc $id")
    }
    assert(out(2L)._2 == 100000L, "token-less doc logit = bias")
  }

  test("writeWet -> readWarc round-trip: exported corpus reproduces exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("wet-export").toFile
    try {
      val corpus = (0 until 30).map { i =>
        (s"https://site$i.example.org/page", s"cleaned text of document $i",
          java.sql.Timestamp.valueOf(s"2024-05-01 10:${10 + i % 40}:00"))
      }.toDF("url", "text", "fetch_ts")
      Warc.writeWet(corpus, dir.getAbsolutePath, "url", "text", "fetch_ts",
        nFiles = 4)
      val files = dir.listFiles().map(_.getName).filter(_.endsWith(".warc.gz"))
      assert(files.nonEmpty && files.length <= 4)
      val back = Warc.readWarc(spark, dir.getAbsolutePath)
      assert(back.filter(col("record_type") =!= "conversion").count() == 0)
      val rows = back.select("url", "content").collect()
        .map(r => r.getString(0) -> new String(
          r.getAs[Array[Byte]]("content"), "UTF-8")).toMap
      assert(rows.size == 30)
      (0 until 30).foreach { i =>
        assert(rows(s"https://site$i.example.org/page") ==
          s"cleaned text of document $i")
      }
      // multi-member layout: each record is its own gzip member, so a
      // range reader can start at any member boundary (count members)
      val one = java.nio.file.Files.readAllBytes(
        new java.io.File(dir, files.head).toPath)
      // (>=: the 2-byte magic can also occur inside compressed data)
      val members = one.indices.count(i => i + 1 < one.length &&
        (one(i) & 0xff) == 0x1f && (one(i + 1) & 0xff) == 0x8b)
      val nRecs = Warc.parseWarc(Warc.gunzipAll(one)).size
      assert(nRecs >= 1 && members >= nRecs,
        s"each of the $nRecs records must start its own gzip member ($members magics)")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  // ---- WebDataset-style tar-shard export ----

  test("TarShards.write: one deterministic POSIX tar per shard, system-tar readable, round-trips") {
    import graft.sources.TarShards
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tar-shards").toFile
    try {
      val rows = (0 until 20).map { i =>
        (f"sample-$i%04d", s"payload $i content".getBytes("UTF-8"), i % 3)
      }.toDF("key", "payload", "shard")
      TarShards.write(rows, dir.getAbsolutePath, "key", "payload", "shard",
        nShards = 3, ext = "txt")
      // (filter the local-FS .crc checksum sidecars Hadoop writes)
      val files = dir.listFiles().map(_.getName)
        .filterNot(_.startsWith(".")).sorted.toSeq
      assert(files == Seq("shard-00000.tar", "shard-00001.tar", "shard-00002.tar"))
      // round-trip via the checksum-verifying parser
      val all = files.flatMap { f =>
        TarShards.parseTar(java.nio.file.Files.readAllBytes(
          new java.io.File(dir, f).toPath))
      }
      assert(all.size == 20)
      assert(all.map(_._1).toSet ==
        (0 until 20).map(i => f"sample-$i%04d.txt").toSet)
      all.foreach { case (name, data) =>
        val i = name.stripPrefix("sample-").stripSuffix(".txt").toInt
        assert(new String(data, "UTF-8") == s"payload $i content")
      }
      // INDEPENDENT reader: system tar (present on any POSIX box the
      // suite runs on) must list the same members — proves real-format
      // compat, not just self-consistency
      val tarBin = Seq("/bin/tar", "/usr/bin/tar")
        .find(p => new java.io.File(p).exists())
      tarBin.foreach { tar =>
        import scala.sys.process._
        val listed = Seq(tar, "-tf",
          new java.io.File(dir, "shard-00000.tar").getAbsolutePath).!!
          .split("\n").filter(_.nonEmpty).toSeq
        assert(listed == (0 until 20).filter(_ % 3 == 0)
          .map(i => f"sample-$i%04d.txt"))
      }
      // determinism: a re-export over a differently-partitioned input
      // produces byte-identical shards (mtime 0, key-sorted members)
      val bytes1 = java.nio.file.Files.readAllBytes(
        new java.io.File(dir, "shard-00001.tar").toPath)
      TarShards.write(rows.repartition(7), dir.getAbsolutePath,
        "key", "payload", "shard", nShards = 3, ext = "txt")
      val bytes2 = java.nio.file.Files.readAllBytes(
        new java.io.File(dir, "shard-00001.tar").toPath)
      assert(bytes1 sameElements bytes2,
        "shard bytes must be deterministic under any input partitioning")
      // an out-of-range shard id fails loudly
      intercept[org.apache.spark.SparkException] {
        TarShards.write(Seq(("k", Array[Byte](1), 9)).toDF("key", "payload", "shard"),
          dir.getAbsolutePath, "key", "payload", "shard", nShards = 3)
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  // ---- incremental maintenance of persisted ANN indices (r18):
  // append/remove without retraining quantizer or codebooks ----

  private def embFrame(ids: Range): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    // deterministic per-id vectors (id-seeded) so base and appended
    // frames are reproducible across calls
    ids.map { i =>
      val r = new scala.util.Random(i * 7919 + 13)
      (i.toLong, Array.fill(16)((r.nextDouble() - 0.5).toFloat))
    }.toDF("vec_id", "embedding")
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("appendToIvfIndex: on-disk search == in-memory union search; only routed cells touched; removals rewrite only affected cells") {
    import graft.ops.Similarity
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("ivf-maint").toFile
    val path = new java.io.File(dir, "ivf").getAbsolutePath
    try {
      val base = embFrame(0 until 200)
      val fresh = embFrame(200 until 240)
      val (index, refit) = Similarity.buildIvfIndex(base, "vec_id", "embedding", 8)
      Tables.writeIvfIndex(index, refit, path)
      val beforeCells = new java.io.File(s"$path/postings").listFiles()
        .filter(_.getName.startsWith("cell=")).map(f => (f.getName,
          f.listFiles().map(_.getName).toSet)).toMap
      Tables.appendToIvfIndex(spark, path, fresh, "vec_id", "embedding")
      // contract 1: search over the appended store == in-memory search
      // over (base index ∪ frozen-routed new postings)
      val unionIndex = index.select("vec_id", "v", "nrm", "cell")
        .union(Similarity.assignWithCentroids(fresh, "vec_id", "embedding", refit))
      val qf = col("vec_id") % 40 === 3
      assert(sortedRows(Similarity.annIvfSearchOnDisk(spark, path, qf)) ==
        sortedRows(Similarity.annIvfSearch(unionIndex, refit, qf)),
        "appended store must be search-equal to the frozen-quantizer union")
      // contract 2: append touched ONLY the cells the batch routed to
      // (no file of any other cell changed)
      val routedCells = Similarity
        .assignWithCentroids(fresh, "vec_id", "embedding", refit)
        .select("cell").distinct().collect().map(r => s"cell=${r.get(0)}").toSet
      val afterCells = new java.io.File(s"$path/postings").listFiles()
        .filter(_.getName.startsWith("cell=")).map(f => (f.getName,
          f.listFiles().map(_.getName).toSet)).toMap
      beforeCells.foreach { case (cellDir, files) =>
        if (!routedCells(cellDir))
          assert(afterCells(cellDir) == files,
            s"$cellDir was rewritten by an append that did not route to it")
        else assert(files.subsetOf(afterCells(cellDir)),
          s"$cellDir lost pre-append files")
      }
      // contract 3: removal drops exactly the removed ids and rewrites
      // only their cells
      import spark.implicits._
      val rmIds = Seq(0L, 1L, 2L, 201L).toDF("vec_id")
      val untouched = afterCells.keySet -- spark.read
        .parquet(s"$path/postings")
        .join(rmIds, Seq("vec_id"), "left_semi")
        .select("cell").distinct().collect()
        .map(r => s"cell=${r.get(0)}").toSet
      Tables.removeFromIvfIndex(spark, path, rmIds)
      val remaining = spark.read.parquet(s"$path/postings")
      assert(remaining.join(rmIds, Seq("vec_id"), "left_semi").count() == 0)
      assert(remaining.count() == 240 - 4)
      val finalCells = new java.io.File(s"$path/postings").listFiles()
        .filter(_.getName.startsWith("cell=")).map(f => (f.getName,
          f.listFiles().map(_.getName).toSet)).toMap
      untouched.foreach { cellDir =>
        assert(finalCells(cellDir) == afterCells(cellDir),
          s"$cellDir was rewritten by a removal that did not affect it")
      }
      // the post-removal store still serves the equivalent search
      val unionAfterRm = unionIndex.join(rmIds, Seq("vec_id"), "left_anti")
      assert(sortedRows(Similarity.annIvfSearchOnDisk(spark, path, qf)) ==
        sortedRows(Similarity.annIvfSearch(unionAfterRm, refit, qf)))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  test("removeFromCellStore deletes a fully-emptied cell directory (dynamic overwrite cannot)") {
    import graft.ops.Similarity
    import graft.sources.Tables
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf-empty").toFile
    val path = new java.io.File(dir, "ivf").getAbsolutePath
    try {
      val base = embFrame(0 until 60)
      val (index, refit) = Similarity.buildIvfIndex(base, "vec_id", "embedding", 4)
      Tables.writeIvfIndex(index, refit, path)
      // empty out one whole cell
      val victim = index.select("cell").groupBy("cell").count()
        .orderBy(col("count").asc, col("cell").asc).collect()(0).get(0)
      val victimIds = index.filter(col("cell") === victim)
        .select("vec_id").as[Long].collect().toSeq
      Tables.removeFromIvfIndex(spark, path, victimIds.toDF("vec_id"))
      assert(!new java.io.File(s"$path/postings/cell=$victim").exists(),
        "an emptied cell directory must be deleted, not left stale")
      val remaining = spark.read.parquet(s"$path/postings")
      assert(remaining.count() == 60 - victimIds.size)
      assert(remaining.filter(col("cell") === victim).count() == 0)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  test("appendToIvfPqIndex: on-disk IVFADC search == in-memory search over the frozen-quantizer union") {
    import graft.ops.Similarity
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-maint").toFile
    val path = new java.io.File(dir, "ivfpq").getAbsolutePath
    try {
      val base = embFrame(0 until 200)
      val fresh = embFrame(200 until 230)
      val (codes, refit, codebooks) =
        Similarity.buildIvfPqIndex(base, "vec_id", "embedding", 16, 4, 16, 8)
      Tables.writeIvfPqIndex(codes, refit, codebooks, path)
      Tables.appendToIvfPqIndex(spark, path, fresh, "vec_id", "embedding", 16, 4)
      // in-memory twin: unit-normalize + route + residual-encode the
      // fresh batch against the SAME frozen centroids/codebooks
      val unit = Similarity.prepared(fresh, "vec_id", "embedding")
        .filter(col("nrm") > 0)
        .select(col("vec_id"),
          org.apache.spark.sql.functions.transform(col("v"),
            x => x / col("nrm")).as("v"))
      val routed = Similarity.assignWithCentroids(unit, "vec_id", "v", refit)
      val cents = refit.select(col("cell"),
        org.apache.spark.sql.functions.transform(col("centroid_scaled"),
          x => x / 1000000.0).as("cvec"))
      val residuals = routed.join(broadcast(cents), "cell")
        .select(col("vec_id"), col("cell"),
          org.apache.spark.sql.functions.zip_with(col("v"), col("cvec"),
            (a, b) => a - b).as("v"))
      val freshCodes = Similarity.pqEncodeAgainst(
          residuals.select(col("vec_id"), col("v")), codebooks, 16, 4)
        .join(residuals.select(col("vec_id"), col("cell")), "vec_id")
      val unionCodes = codes.select(freshCodes.columns.map(col): _*)
        .union(freshCodes)
      val queries = Similarity.prepared(embFrame(0 until 230), "vec_id", "embedding")
        .filter(col("nrm") > 0)
        .select(col("vec_id"),
          org.apache.spark.sql.functions.transform(col("v"),
            x => x / col("nrm")).as("v"))
        .filter(col("vec_id") % 50 === 7)
      assert(sortedRows(Similarity.annIvfPqSearchOnDisk(spark, path, queries,
          16, 4, nprobe = 2, topK = 3)) ==
        sortedRows(Similarity.annIvfPqSearch(unionCodes, refit, codebooks,
          queries, 16, 4, nprobe = 2, topK = 3)),
        "appended IVFADC store must be search-equal to the frozen union")
      // an appended vector is FINDABLE: its exact duplicate queries to it
      val probe = Similarity.prepared(embFrame(205 to 205), "vec_id", "embedding")
        .filter(col("nrm") > 0)
        .select((col("vec_id") + 10000).as("vec_id"),
          org.apache.spark.sql.functions.transform(col("v"),
            x => x / col("nrm")).as("v"))
      val hit = Similarity.annIvfPqSearchOnDisk(spark, path, probe,
        16, 4, nprobe = 2, topK = 1).collect()
      assert(hit.length == 1 && hit(0).getAs[Long]("neighbor_id") == 205L,
        s"duplicate of appended vec 205 must retrieve it, got ${hit.toSeq}")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  test("removeFromIvfPqIndex: removed ids leave the codes, only their cells are rewritten, an emptied cell is deleted, search == in-memory over the survivors") {
    import graft.ops.Similarity
    import graft.sources.Tables
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-rm").toFile
    val path = new java.io.File(dir, "ivfpq").getAbsolutePath
    def cellFiles(): Map[String, Set[String]] =
      new java.io.File(s"$path/codes").listFiles()
        .filter(_.getName.startsWith("cell=")).map(f => (f.getName,
          f.listFiles().map(_.getName).toSet)).toMap
    try {
      val (codes, refit, codebooks) = Similarity.buildIvfPqIndex(
        embFrame(0 until 200), "vec_id", "embedding", 16, 4, 16, 8)
      Tables.writeIvfPqIndex(codes, refit, codebooks, path)
      // the whole smallest cell, plus two ids of the largest one
      val bySize = codes.groupBy("cell").count()
        .orderBy(col("count").asc, col("cell").asc).collect().map(_.get(0))
      val (victim, partial) = (bySize.head, bySize.last)
      val rmIds = codes.filter(col("cell") === victim).select("vec_id")
        .union(codes.filter(col("cell") === partial).select("vec_id")
          .orderBy("vec_id").limit(2))
        .as[Long].collect().toSeq
      val before = cellFiles()
      Tables.removeFromIvfPqIndex(spark, path, rmIds.toDF("vec_id"))
      val rm = rmIds.toDF("vec_id")
      val remaining = spark.read.parquet(s"$path/codes")
      assert(remaining.join(rm, Seq("vec_id"), "left_semi").count() == 0)
      assert(remaining.count() == 200 - rmIds.size)
      val after = cellFiles()
      assert(!after.contains(s"cell=$victim"),
        "an emptied cell directory must be deleted, not left stale")
      assert(after(s"cell=$partial") != before(s"cell=$partial"),
        "a cell that lost ids must be rewritten")
      (before.keySet - s"cell=$victim" - s"cell=$partial").foreach { cellDir =>
        assert(after(cellDir) == before(cellDir),
          s"$cellDir was rewritten by a removal that did not affect it")
      }
      val queries = Similarity.prepared(embFrame(0 until 200), "vec_id", "embedding")
        .filter(col("nrm") > 0)
        .select(col("vec_id"),
          org.apache.spark.sql.functions.transform(col("v"),
            x => x / col("nrm")).as("v"))
        .filter(col("vec_id") % 25 === 4)
      val disk = sortedRows(Similarity.annIvfPqSearchOnDisk(spark, path, queries,
        16, 4, nprobe = 2, topK = 3))
      assert(disk.nonEmpty && disk == sortedRows(Similarity.annIvfPqSearch(
          codes.join(rm, Seq("vec_id"), "left_anti"), refit, codebooks,
          queries, 16, 4, nprobe = 2, topK = 3)),
        "the store after removal must be search-equal to the in-memory survivors")
    } finally {
      def rmDir(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmDir); f.delete()
      }
      rmDir(dir)
    }
  }

  test("readWarcStream: newly-landed segment files parse exactly once per file, equal to the batch reader") {
    val dir = java.nio.file.Files.createTempDirectory("warc-stream").toFile
    val ckpt = java.nio.file.Files.createTempDirectory("warc-ckpt").toFile
    try {
      def seg(name: String, urls: Seq[String]): Unit =
        java.nio.file.Files.write(new java.io.File(dir, name).toPath,
          urls.zipWithIndex.map { case (u, i) =>
            gzipMember(rec("conversion", u, f"2024-05-01T10:0$i%d:00Z",
              s"body of $u".getBytes("UTF-8")))
          }.reduce(_ ++ _))
      seg("seg-1.warc.gz", Seq("https://a.example.org/1", "https://a.example.org/2"))
      val q = Warc.readWarcStream(spark, dir.getAbsolutePath)
        .select("url", "record_type", "n_bytes")
        .writeStream.format("memory").queryName("warc_stream_out")
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .start()
      try {
        q.processAllAvailable()
        assert(spark.table("warc_stream_out").count() == 2)
        // a second segment lands: ONLY its records arrive (file-source
        // log = exactly-once per file)
        seg("seg-2.warc.gz", Seq("https://b.example.org/3"))
        q.processAllAvailable()
        val rows = spark.table("warc_stream_out").collect()
        assert(rows.length == 3)
        assert(rows.map(_.getString(0)).sorted.toSeq == Seq(
          "https://a.example.org/1", "https://a.example.org/2",
          "https://b.example.org/3"))
        // twin equality: the batch reader sees the identical record set
        val batch = Warc.readWarc(spark, dir.getAbsolutePath)
          .select("url", "record_type", "n_bytes").collect()
        assert(batch.map(_.toString).sorted.toSeq ==
          rows.map(_.toString).sorted.toSeq)
      } finally q.stop()
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir); rm(ckpt)
    }
  }

  test("WARC -> crawlClean composition: the chain runs end-to-end from archive bytes") {
    import graft.ops.Dedup
    val dir = java.nio.file.Files.createTempDirectory("warc-chain").toFile
    try {
      // 6 English pages from one host: 5 distinct bodies, with body A
      // appearing twice (an exact-dup pair AFTER extraction) — below the
      // 40% boilerplate line-frequency threshold (2/6), so the chain's
      // dedup stage (not boilerplate removal) must catch it. Bodies
      // clear the Gopher battery (>= 20 words, >= 2 stopwords, mean
      // word length in [3,10]).
      def page(i: Int, body: String) =
        s"<html><head><title>T$i</title></head><body><p>$body</p></body></html>"
      def body(topic: String) =
        s"the crawl archive reader feeds the cleaning chain with real " +
          s"pages about $topic and the quality gate keeps documents that " +
          s"mention $topic twice so near-dup banding stays far from the " +
          "jaccard threshold for distinct but same-template prose"
      val recs = Seq(
        "a" -> body("rivers"), "b" -> body("mountains"),
        "c" -> body("rivers"), // exact dup of /a after extraction
        "d" -> body("forests"), "e" -> body("harvest"),
        "f" -> body("winter storms")).zipWithIndex.map {
        case ((p, b), i) =>
          rec("response", s"https://site.example.org/$p",
            f"2024-05-01T10:0$i%d:00Z", httpResponse(page(i, b)))
      }
      java.nio.file.Files.write(
        new java.io.File(dir, "seg.warc.gz").toPath,
        recs.map(gzipMember).reduce(_ ++ _))
      val pages0 = Warc.pages(Warc.readWarc(spark, dir.getAbsolutePath))
      val out = Dedup.crawlClean(pages0, "doc_id", "html", "source",
        keepLangs = Seq("en")).collect()
      assert(out.length == 5,
        s"expected 5 survivors (exact dedup folds the /a,/c pair), got ${out.length}")
      assert(out.map(_.getAs[String]("lang")).toSet == Set("en"))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }
}
