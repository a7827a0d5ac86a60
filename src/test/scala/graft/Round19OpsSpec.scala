package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-19 work (driver round 17): the r16 verdict's consumer-side
  * and maintenance gaps — tar-shard ingest, tokenizer artifact
  * persistence + published-vocab parity, the WARC link graph, and
  * automated IVF retrain-and-swap — plus pins for the round's ADVICE
  * fixes (streaming WARC parse, crash-safe cell removal). */
class Round19OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmpDir(prefix: String): java.io.File =
    java.nio.file.Files.createTempDirectory(prefix).toFile
  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
  }

  // ---- TarShards.read: the WebDataset round-trip consumer side ----

  test("TarShards.read: write→read round-trip through the public APIs") {
    import graft.sources.TarShards
    import spark.implicits._
    val dir = tmpDir("tar-read")
    try {
      val rows = (0 until 12).map { i =>
        (f"sample-$i%04d", s"payload $i content".getBytes("UTF-8"), i % 2)
      }.toDF("key", "payload", "shard")
      // multi-dot EXT (WebDataset-standard, e.g. `seg.png`): the read
      // side splits at the FIRST dot of the member name, so the whole
      // dotted ext survives under the same sample key
      TarShards.write(rows, dir.getAbsolutePath, "key", "payload", "shard",
        nShards = 2, ext = "seg.txt")
      val back = TarShards.read(spark, dir.getAbsolutePath + "/*.tar")
        .select("key", "ext", "payload", "n_bytes")
        .collect()
      assert(back.length == 12)
      assert(back.map(_.getString(1)).toSet == Set("seg.txt"),
        "key/ext split at the FIRST dot: multi-dot exts group under " +
          "the sample key")
      val byKey = back.map(r => r.getString(0) ->
        new String(r.getAs[Array[Byte]]("payload"), "UTF-8")).toMap
      (0 until 12).foreach { i =>
        assert(byKey(f"sample-$i%04d") == s"payload $i content")
      }
      back.foreach(r => assert(r.getInt(3) ==
        r.getAs[Array[Byte]]("payload").length))
      // a dotted KEY is refused at write time (it could not round-trip)
      val e = intercept[org.apache.spark.SparkException] {
        TarShards.write(
          Seq(("dotted.key", Array[Byte](1), 0)).toDF("key", "payload",
            "shard"), dir.getAbsolutePath, "key", "payload", "shard", 1)
      }
      assert(e.getMessage.contains("dot-free") ||
        Option(e.getCause).exists(_.getMessage.contains("dot-free")))
    } finally rm(dir)
  }

  test("TarShards.read: a truncated shard fails loudly, not silently short") {
    import graft.sources.TarShards
    import spark.implicits._
    val dir = tmpDir("tar-trunc")
    try {
      val rows = Seq(("k1", ("x" * 600).getBytes("UTF-8"), 0),
        ("k2", "second".getBytes("UTF-8"), 0)).toDF("key", "payload", "shard")
      TarShards.write(rows, dir.getAbsolutePath, "key", "payload", "shard",
        nShards = 1)
      val shard = new java.io.File(dir, "shard-00000.tar")
      val whole = java.nio.file.Files.readAllBytes(shard.toPath)
      // keep the first header (size 600) but cut into its data region
      java.nio.file.Files.write(shard.toPath, whole.take(612))
      // drop the local-FS checksum sidecar so the re-read isn't rejected
      // by Hadoop's CRC before our parser even sees the bytes
      new java.io.File(dir, ".shard-00000.tar.crc").delete()
      val e = intercept[org.apache.spark.SparkException] {
        TarShards.read(spark, shard.getAbsolutePath).count()
      }
      assert(e.getMessage.contains("truncated") ||
        Option(e.getCause).exists(_.getMessage.contains("truncated")))
    } finally rm(dir)
  }

  // ---- the real crawl link graph: WARC response records → edges ----

  private def warcRec(typ: String, url: String, body: String): Array[Byte] = {
    val payload =
      (if (typ == "response")
        s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body"
      else body).getBytes("UTF-8")
    val h = new StringBuilder
    h ++= "WARC/1.0\r\n"
    h ++= s"WARC-Type: $typ\r\n"
    if (url.nonEmpty) h ++= s"WARC-Target-URI: $url\r\n"
    h ++= "WARC-Date: 2024-06-01T00:00:00Z\r\n"
    h ++= s"WARC-Record-ID: <urn:uuid:x-${math.abs(url.hashCode)}>\r\n"
    h ++= s"Content-Length: ${payload.length}\r\n\r\n"
    h.toString.getBytes("UTF-8") ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
  }

  test("Warc.linkGraph: response HTML → exact host edges, feeding pageRank") {
    import graft.sources.Warc
    val dir = tmpDir("warc-links")
    try {
      val bytes =
        warcRec("response", "https://a.example.org/1",
          """<html><a href="https://b.example.org/x">b</a>
            |<a href='/rel'>self</a>
            |<A HREF="HTTPS://B.Example.ORG:443/y">case</a>
            |<a href="mailto:z@q.r">drop</a>
            |<a href="//cdn.shared.net/l.js">cdn</a></html>""".stripMargin) ++
        warcRec("response", "https://b.example.org/2",
          """<a href="https://a.example.org/z">back</a>""") ++
        warcRec("conversion", "https://c.example.org/3",
          """<a href="https://a.example.org/never">not a response</a>""")
      java.nio.file.Files.write(
        new java.io.File(dir, "seg-0.warc").toPath, bytes)
      val edges = Warc.linkGraph(Warc.readWarc(spark, dir.getAbsolutePath))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(edges == Map(
        ("a.example.org", "b.example.org") -> 2L, // absolute + case/port
        ("a.example.org", "a.example.org") -> 1L, // relative self-edge
        ("a.example.org", "cdn.shared.net") -> 1L, // protocol-relative
        ("b.example.org", "a.example.org") -> 1L),
        "mailto: must drop; conversion records must not contribute")
      // the edge frame feeds the graph ops directly: the bidirectionally
      // linked hosts outrank the leaf under integer-exact PageRank
      import org.apache.spark.sql.functions._
      val idEdges = Warc.linkGraph(Warc.readWarc(spark, dir.getAbsolutePath))
        .filter(col("src_host") =!= col("dst_host"))
        .select(
          abs(hash(col("src_host"))).cast("long").as("id1"),
          abs(hash(col("dst_host"))).cast("long").as("id2"))
      val ranks = graft.ops.Graph.pageRank(idEdges, iters = 3).collect()
      assert(ranks.length == 3)
      // the extraction primitive is registered for pure-SQL users
      graft.functions.GraftFunctions.registerAll(spark)
      val viaSql = spark.sql(
        """SELECT graft_extract_hrefs(
          |  '<a href="https://x.org/a">x</a> <a href=\'/b\'>y</a>') AS h"""
          .stripMargin).collect()(0).getSeq[String](0)
      assert(viaSql == Seq("https://x.org/a", "/b"))
    } finally rm(dir)
  }

  test("linkGraphStream: windowed edges equal the batch linkGraph per window") {
    import graft.ops.TextOps
    import graft.streaming.EventStreams
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val pages = Seq(
      ("https://a.org/1", """<a href="https://b.org/x">b</a><a href='/r'>s</a>""", ts(1)),
      ("https://a.org/2", """<a href="https://b.org/y">b</a>""", ts(2)),
      ("https://b.org/3", """<a href="mailto:z">m</a><a href="//c.net/l">c</a>""", ts(14)))
    val flush = ("https://z.org/f", """<a href="https://z.org/x">z</a>""", ts(300))
    val in = MemoryStream[(String, String, java.sql.Timestamp)]
    val q = EventStreams.linkGraphStream(
      in.toDF().toDF("url", "html", "t"), "url", "html", "t")
      .writeStream.format("memory").queryName("lg_out")
      .outputMode("append").start()
    try {
      in.addData(pages)
      q.processAllAvailable()
      in.addData(flush)
      q.processAllAvailable()
      val streamed = s.sql(
        "SELECT window.start, src_host, dst_host, n_links FROM lg_out " +
          "WHERE src_host <> 'z.org'")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSet
      // batch twin: the SAME linkGraph op run per 10-minute window
      val perWindow = pages.groupBy(p =>
        (p._3.getTime / 600000L) * 600000L).toSeq.flatMap { case (w0, ps) =>
        TextOps.linkGraph(ps.toDF("url", "html", "t"), "url", "html")
          .collect().map(r => (new java.sql.Timestamp(w0), r.getString(0),
            r.getString(1), r.getLong(2)))
      }.toSet
      assert(streamed == perWindow,
        s"stream/batch divergence:\n$streamed\nvs\n$perWindow")
    } finally q.stop()
  }

  test("writeWat: WAT-style metadata records round-trip the link extraction") {
    import graft.sources.{Warc, Tokenizers}
    import graft.ops.TextOps
    import spark.implicits._
    val dir = tmpDir("wat-export")
    try {
      val base = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
      val pages = Seq(
        ("https://a.org/1",
          """<a href="https://b.org/x">b</a><a href='/rel'>r</a>""", base),
        ("https://b.org/2", """<a href="//c.net/y">c</a>""", base),
        ("https://c.org/3", "no links here", base))
        .toDF("url", "html", "fetch_ts")
      Warc.writeWat(pages, dir.getAbsolutePath, "url", "html", "fetch_ts", 1)
      val back = Warc.readWarc(spark, dir.getAbsolutePath + "/*.warc.gz")
        .collect()
      assert(back.length == 3)
      assert(back.forall(_.getAs[String]("record_type") == "metadata"))
      val gotLinks = back.map { r =>
        val env = Tokenizers.parseJson(
          new String(r.getAs[Array[Byte]]("content"), "UTF-8"))
          .asInstanceOf[scala.collection.Map[String, Any]]("Envelope")
          .asInstanceOf[scala.collection.Map[String, Any]]
        val url = env("WARC-Header-Metadata")
          .asInstanceOf[scala.collection.Map[String, Any]]("WARC-Target-URI")
          .asInstanceOf[String]
        // Links is an array of {"url": …} OBJECTS — the shape real WAT
        // consumers (CommonCrawl tooling) expect
        val links = env.get("Payload-Metadata")
          .map(_.asInstanceOf[scala.collection.Map[String, Any]]("HTML-Metadata")
            .asInstanceOf[scala.collection.Map[String, Any]]("Links")
            .asInstanceOf[Vector[Any]]
            .map(_.asInstanceOf[scala.collection.Map[String, Any]]("url")
              .asInstanceOf[String]))
          .getOrElse(Vector.empty)
        url -> links
      }.toMap
      // the exported sidecar equals the inline extraction
      val expected = pages
        .select(col("url"), TextOps.extractHrefs(col("html")).as("h"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector)
        .toMap
      expected.foreach { case (u, hs) =>
        assert(gotLinks.getOrElse(u, Vector.empty) == hs,
          s"WAT links for $u must equal inline extractHrefs")
      }
    } finally rm(dir)
  }

  // ---- robots.txt parsing + anchor text ----

  test("parseRobots: agent sections, comments, empty paths, unknown keys") {
    import graft.ops.TextOps
    import spark.implicits._
    val body =
      """# header comment
        |User-agent: greedy-bot
        |Disallow: /
        |User-agent: *
        |Disallow: /cgi # inline comment
        |Allow: /cgi/ok
        |Disallow:
        |Crawl-delay: 9
        |User-agent: other-bot
        |Disallow: /only-other
        |""".stripMargin
    val rules = TextOps.parseRobots(
      Seq(("h.example.org", body)).toDF("host", "body"), "host", "body")
      .collect().map(r => (r.getString(1), r.getBoolean(2))).toSet
    assert(rules == Set(("/cgi", false), ("/cgi/ok", true)),
      "only the *-agent block's non-empty rules survive; " +
        "comments stripped; trailing agent block excluded")
    // CRLF line endings (the common real-world robots.txt form): the
    // CR must not survive into the rule prefix
    val crlf = TextOps.parseRobots(
      Seq(("h.example.org", body.replace("\n", "\r\n")))
        .toDF("host", "body"), "host", "body")
      .collect().map(r => (r.getString(1), r.getBoolean(2))).toSet
    assert(crlf == rules, "CRLF bodies must parse identically to LF")
  }

  test("anchorTexts: pairs zip by position, empty anchors and non-http schemes drop") {
    import graft.ops.TextOps
    import spark.implicits._
    val html = """<a href="https://b.org/1">First</a>
      |<a href='/rel'>  Second  </a>
      |<a href="mailto:x@y.z">Mail</a>
      |<a href="https://b.org/2"></a>""".stripMargin
    val out = TextOps.anchorTexts(
      Seq(("https://a.org/p", html)).toDF("url", "html"), "url", "html")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set(
      ("b.org", "first", 1L),
      ("a.org", "second", 1L)),
      "mailto drops with its target; the empty anchor drops; text trims+lowers")
  }

  // ---- automated IVF retrain-and-swap over the versioned store ----

  private def embFrame19(ids: Range): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    ids.map { i =>
      val r = new scala.util.Random(i * 7919 + 13)
      (i.toLong, Array.fill(16)((r.nextDouble() - 0.5).toFloat))
    }.toDF("vec_id", "embedding")
  }

  /** Concentrated batch near one direction — the drift injector. */
  private def shiftedFrame(ids: Range): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    ids.map { i =>
      val r = new scala.util.Random(i * 104729 + 7)
      val v = Array.tabulate(16)(d =>
        (if (d == 0) 1.0f else 0.0f) + (r.nextDouble() - 0.5).toFloat * 0.1f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  private def filesHash(dir: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def walk(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().sortBy(_.getName).foreach(walk)
      else if (!f.getName.endsWith(".crc")) {
        md.update(f.getName.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
      }
    }
    walk(dir)
    md.digest().map("%02x".format(_)).mkString
  }

  test("maintainIvfPqIndex: below-threshold is a bit-exact no-op; drift retrains, swaps atomically, recall holds") {
    import graft.ops.Similarity
    import graft.sources.Tables
    val dir = tmpDir("ivfpq-vstore")
    val store = new java.io.File(dir, "idx").getAbsolutePath
    try {
      val base = embFrame19(0 until 240)
      val (c0, r0, b0) =
        Similarity.buildIvfPqIndex(base, "vec_id", "embedding", 16, 4, 16, 8)
      assert(Tables.currentIvfPqVersion(spark, store).isEmpty)
      val v0 = Tables.commitIvfPqVersion(spark, c0, r0, b0, store)
      assert(v0 == 0)
      assert(Tables.currentIvfPqPath(spark, store).endsWith("/v0"))

      // drift below threshold: nothing moves, the store is bit-unchanged
      val before = filesHash(new java.io.File(dir, "idx/v0"))
      val rep0 = Tables.maintainIvfPqIndex(spark, store, base,
        "vec_id", "embedding", 16, 4, 16, 8, driftThreshold = 100.0)
      assert(!rep0.retrained && rep0.version == 0)
      assert(filesHash(new java.io.File(dir, "idx/v0")) == before,
        "a no-op maintenance pass must leave the store bit-unchanged")

      // inject drift: a concentrated batch lands in the hot cell(s)
      val shifted = shiftedFrame(240 until 440)
      Tables.appendToIvfPqIndex(spark, s"$store/v0", shifted,
        "vec_id", "embedding", 16, 4)
      val all = base.union(shifted)
      val rep1 = Tables.maintainIvfPqIndex(spark, store, all,
        "vec_id", "embedding", 16, 4, 16, 8, driftThreshold = 2.0)
      assert(rep1.retrained && rep1.version == 1,
        s"drift ${rep1.maxLoadRatio} must trigger a retrain")
      assert(rep1.maxLoadRatio > 2.0)
      assert(Tables.currentIvfPqPath(spark, store).endsWith("/v1"),
        "the pointer must swap to the rebuilt version")
      // the rebuild actually rebalanced the cells
      val (c1, _, _) = Tables.readIvfPqIndex(spark, s"$store/v1")
      val newMax = Similarity.ivfCellDrift(c1)
        .agg(org.apache.spark.sql.functions.max(col("load_ratio")))
        .collect()(0).getDouble(0)
      assert(newMax < rep1.maxLoadRatio,
        s"rebuilt store must be less skewed: $newMax vs ${rep1.maxLoadRatio}")

      // recall on shifted-distribution queries: the retrained store
      // must match or beat the frozen one against exact top-1
      val prep = Similarity.prepared(all, "vec_id", "embedding")
      val qPrep = prep.filter(col("vec_id") >= 430)
      val unitQ = qPrep.filter(col("nrm") > 0)
        .select(col("vec_id"),
          org.apache.spark.sql.functions.transform(col("v"),
            x => x / col("nrm")).as("v"))
      val exact = Similarity.bruteForceTopK(prep, qPrep, 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def recall(path: String): Double = {
        val got = Similarity.annIvfPqSearchOnDisk(spark, path, unitQ,
          16, 4, nprobe = 4, topK = 1)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        exact.count { case (q, n) => got.get(q).contains(n) }.toDouble /
          exact.size
      }
      val recallOld = recall(s"$store/v0")
      val recallNew = recall(s"$store/v1")
      assert(recallNew >= recallOld,
        s"retrained recall $recallNew must be >= frozen recall $recallOld")

      // old version stays for in-flight readers (keepVersions = 2)
      assert(new java.io.File(dir, "idx/v0").exists())
    } finally rm(dir)
  }

  // ---- tokenizer artifact persistence + PUBLISHED-vocab parity ----

  // The first 7 merges of the published GPT-2 vocab.bpe (openai/gpt-2;
  // Radford et al. 2019). Rank 6 producing 'Ġthe' pins ' the' = 262
  // under the 256+rank convention — the single best-attested GPT-2
  // token id.
  private val Gpt2First7 = Seq(
    ("Ġ", "t"), ("Ġ", "a"), ("h", "e"), ("i", "n"),
    ("r", "e"), ("o", "n"), ("Ġt", "he"))

  test("gpt2Encoder reproduces the PUBLISHED GPT-2 id numbering") {
    import graft.sources.Tokenizers
    val enc = Tokenizers.gpt2Encoder(Gpt2First7)
    // base-unit anchors of the published encoder.json: printables
    // '!'..'~' are 0..93, '¡' starts the second kept range at 94,
    // remapped control bytes start at 188 ('Ā' = byte 0), and space
    // ('Ġ' = byte 32, the 33rd remapped byte) is 220
    assert(enc("!") == 0)
    assert(enc("~") == 93)
    assert(enc("¡") == 94)
    assert(enc("ÿ") == 187)
    assert(enc("Ā") == 188)
    assert(enc("Ġ") == 220)
    // merge outputs are 256+rank: ' the' is the published 262
    assert(enc("Ġthe") == 262)
    assert(enc("Ġt") == 256 && enc("he") == 258)
  }

  test("encode parity against the published merges prefix (contraction + non-ASCII)") {
    import graft.ops.TextOps
    import graft.sources.Tokenizers
    import spark.implicits._
    val enc = Tokenizers.gpt2Encoder(Gpt2First7)
    val out = Seq(" the theatre", "don't", "café")
      .toDF("text")
      .select(TextOps.bpeEncodeByteLevel(col("text"), Gpt2First7).as("t"))
      .collect().map(_.getSeq[String](0).toVector)
    assert(out(0) == Vector("Ġthe", "Ġthe", "a", "t", "re"))
    assert(out(0).map(enc) == Vector(262, 262, 64, 83, 260))
    // 'don't': the contraction alternative emits "'t" whole; its units
    // have no merge in the prefix, so ' and t stay base ids
    assert(out(1) == Vector("d", "on", "'", "t"))
    assert(out(1).map(enc) == Vector(67, 261, 6, 83))
    // café: é is bytes 0xC3 0xA9 → units Ã © (both kept printables)
    assert(out(2) == Vector("c", "a", "f", "Ã", "©"))
    assert(out(2).map(enc) == Vector(66, 64, 69, 127, 102))
  }

  test("tokenizer artifact: write→read round-trip in the GPT-2 layout") {
    import graft.ops.TextOps
    import graft.sources.Tokenizers
    import spark.implicits._
    val dir = tmpDir("tok-artifact")
    try {
      val corpus = Seq(
        "the theatre held the other theory",
        "the weathered leather tethered there",
        "don't gather feathers, the heathen said").toDF("text")
      val trained = TextOps.bpeTrainByteLevel(corpus, "text", nMerges = 12)
      val merges = Tokenizers.mergesFrom(trained)
      assert(merges.size == 12)
      Tokenizers.writeGpt2Tokenizer(spark, dir.getAbsolutePath, merges)
      val (m2, e2) = Tokenizers.readGpt2Tokenizer(spark, dir.getAbsolutePath)
      assert(m2 == merges, "merges must survive the vocab.bpe round-trip")
      assert(e2 == Tokenizers.gpt2Encoder(merges),
        "encoder.json must survive the JSON round-trip (incl. \\u escapes)")
      // the reloaded artifact encodes identically to the in-memory one
      val probe = Seq("the weather there, don't gather").toDF("text")
      val a = probe.select(TextOps.bpeEncodeByteLevel(col("text"), merges))
        .collect().map(_.getSeq[String](0)).head
      val b = probe.select(TextOps.bpeEncodeByteLevel(col("text"), m2))
        .collect().map(_.getSeq[String](0)).head
      assert(a == b)
      // internal byte-order numbering persists too when passed explicitly
      Tokenizers.writeGpt2Tokenizer(spark, dir.getAbsolutePath + "/alt",
        merges, TextOps.byteLevelVocab(merges))
      val (_, eAlt) =
        Tokenizers.readGpt2Tokenizer(spark, dir.getAbsolutePath + "/alt")
      assert(eAlt == TextOps.byteLevelVocab(merges))
    } finally rm(dir)
  }

  test("tokenizer artifact: HF tokenizer.json round-trip and cross-format parity") {
    import graft.ops.TextOps
    import graft.sources.Tokenizers
    import spark.implicits._
    val dir = tmpDir("tok-hf")
    try {
      val corpus = Seq("the theatre held the other theory",
        "don't gather feathers, the heathen said").toDF("text")
      val merges = Tokenizers.mergesFrom(
        TextOps.bpeTrainByteLevel(corpus, "text", nMerges = 8))
      Tokenizers.writeHfTokenizer(spark, dir.getAbsolutePath, merges)
      val (m2, v2) = Tokenizers.readHfTokenizer(spark, dir.getAbsolutePath)
      assert(m2 == merges && v2 == Tokenizers.gpt2Encoder(merges))
      // the two formats carry the identical tokenizer
      Tokenizers.writeGpt2Tokenizer(spark, dir.getAbsolutePath + "/g", merges)
      val (mg, vg) =
        Tokenizers.readGpt2Tokenizer(spark, dir.getAbsolutePath + "/g")
      assert(m2 == mg && v2 == vg)
      // a non-BPE model is rejected
      java.nio.file.Files.write(
        new java.io.File(dir, "tokenizer.json").toPath,
        """{"version": "1.0", "model": {"type": "WordPiece"}}"""
          .getBytes("UTF-8"))
      new java.io.File(dir, ".tokenizer.json.crc").delete()
      intercept[IllegalArgumentException] {
        Tokenizers.readHfTokenizer(spark, dir.getAbsolutePath)
      }
    } finally rm(dir)
  }

  test("tokenizer artifact: '#'-part merges round-trip; dropped lines trip the rank check") {
    import graft.sources.Tokenizers
    val dir = tmpDir("tok-hash")
    try {
      // the published GPT-2 vocab.bpe contains merges whose LEFT part
      // is '#' (e.g. '# #' producing '##') — only the '#version'
      // header is a comment, so these lines must parse, not be dropped
      val merges = Seq(("#", "#"), ("##", "#"), ("t", "h"))
      Tokenizers.writeGpt2Tokenizer(spark, dir.getAbsolutePath, merges)
      val (m2, e2) = Tokenizers.readGpt2Tokenizer(spark, dir.getAbsolutePath)
      assert(m2 == merges,
        "merges with '#' parts must survive the round-trip unshifted")
      assert(e2("##") == 256 && e2("###") == 257 && e2("th") == 258)
      // rank-shift tripwire: a merge line silently lost from vocab.bpe
      // (encoder intact) must fail the load, not shift every later rank
      val bpePath = new java.io.File(dir, "vocab.bpe").toPath
      val lines = new String(
        java.nio.file.Files.readAllBytes(bpePath), "UTF-8").split("\n")
      assert(lines(2) == "## #")
      java.nio.file.Files.write(bpePath,
        (lines.take(2) ++ lines.drop(3)).mkString("\n").getBytes("UTF-8"))
      new java.io.File(dir, ".vocab.bpe.crc").delete()
      val e = intercept[IllegalArgumentException] {
        Tokenizers.readGpt2Tokenizer(spark, dir.getAbsolutePath)
      }
      assert(e.getMessage.contains("inconsistent"))
    } finally rm(dir)
  }

  test("tokenizer artifact: mismatched pair and malformed files fail loudly") {
    import graft.sources.Tokenizers
    val dir = tmpDir("tok-bad")
    try {
      Tokenizers.writeGpt2Tokenizer(spark, dir.getAbsolutePath, Gpt2First7)
      // corrupt the encoder: drop the 'Ġthe' entry
      val encPath = new java.io.File(dir, "encoder.json").toPath
      val enc = new String(java.nio.file.Files.readAllBytes(encPath), "UTF-8")
      assert(enc.contains(", \"\\u0120the\": 262"), "probe entry must exist")
      java.nio.file.Files.write(encPath, enc
        .replace(", \"\\u0120the\": 262", "").getBytes("UTF-8"))
      // drop the local-FS checksum sidecar the out-of-band rewrite broke
      new java.io.File(dir, ".encoder.json.crc").delete()
      val e = intercept[IllegalArgumentException] {
        Tokenizers.readGpt2Tokenizer(spark, dir.getAbsolutePath)
      }
      assert(e.getMessage.contains("mismatched"))
      // malformed JSON is rejected, not half-parsed
      java.nio.file.Files.write(encPath, "{\"a\": }".getBytes("UTF-8"))
      new java.io.File(dir, ".encoder.json.crc").delete()
      intercept[IllegalArgumentException] {
        Tokenizers.readGpt2Tokenizer(spark, dir.getAbsolutePath)
      }
    } finally rm(dir)
  }

  test("encoder.json reader: only an object of Int-ranged integers parses") {
    import graft.sources.Tokenizers
    assert(Tokenizers.parseEncoderJson("""{"a": 1, "\u0120b": -2, "c\"": 2147483647}""")
      == Map("a" -> 1, "\u0120b" -> -2, "c\"" -> Int.MaxValue))
    assert(Tokenizers.parseEncoderJson(" { } ") == Map.empty)
    for (bad <- Seq(
        """{"a": 1.5}""", // a non-integer value
        """{"a": "1"}""",
        """{"a": 2147483648}""", // beyond the Int range
        """{"a": -2147483649}""",
        """[1, 2]""", // a non-object root
        "7",
        "{\"a\": }", // malformed
        """{"a": 1} x""")) {
      intercept[IllegalArgumentException](Tokenizers.parseEncoderJson(bad))
    }
  }
}
