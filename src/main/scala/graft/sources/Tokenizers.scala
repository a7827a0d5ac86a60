package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Tokenizer ARTIFACT persistence (r19, closing the r16 verdict's #4):
 * [[graft.ops.TextOps.bpeTrainByteLevel]] produces merges as an
 * in-memory table, but a training run consumes a tokenizer as FILES in
 * an interchange format. This writes/reads the GPT-2 layout (Radford
 * et al. 2019; the format openai/gpt-2 published and every BPE loader
 * understands):
 *
 *  - `vocab.bpe` — `#version: 0.2` header, then one merge per line as
 *    `x y` in training order (rank = line number − 1);
 *  - `encoder.json` — flat token→id JSON object.
 *
 * ID NUMBERING — two conventions, both supported:
 *  - [[graft.ops.TextOps.byteLevelVocab]]: base units 0..255 in BYTE
 *    order, merge outputs 256+rank (the internal convention — ids from
 *    two tokenizers sharing a merges table agree);
 *  - [[gpt2Encoder]]: the REAL GPT-2 encoder.json numbering — base
 *    units ordered by their mapped UNICODE CODEPOINT (printables
 *    '!'..'~' get 0..93, '¡'..'¬' 94..105, '®'..'ÿ' 106..187, then the
 *    remapped control bytes 'Ā'.. get 188..255 — space is 'Ġ' = 220),
 *    merge outputs 256+rank. With the published GPT-2 merges table
 *    this reproduces the published ids exactly (' the' = 262 —
 *    spec-pinned against the file's first merges).
 *
 * JDK-only (hand-rolled JSON writer/parser for the flat string→int
 * object — no new dependencies), Hadoop-FS paths (works on HDFS/S3A
 * like every Tables writer).
 */
object Tokenizers {

  /** The real GPT-2 encoder.json base-token order: the 256 byte-unit
    * chars sorted by codepoint (equivalently: kept printable bytes in
    * byte order, then the remapped bytes in byte order). */
  val Gpt2ByteOrder: IndexedSeq[Char] =
    graft.functions.ByteLevelUnits.byteToChar.sorted.toIndexedSeq

  /** Token→id map in the REAL GPT-2 numbering (see object doc). Total
    * for byte-level encodes: every emitted token is a base unit or a
    * merge output. */
  def gpt2Encoder(merges: Seq[(String, String)]): Map[String, Int] =
    graft.ops.TextOps.mergeVocab(Gpt2ByteOrder, merges)

  /** Ordered (x, y) merges from a [[graft.ops.TextOps.bpeTrainByteLevel]]
    * result frame (merge_rank, x, y, …). Driver-side by design — a
    * tokenizer artifact is bounded (≤ 65536 merges, enforced by the
    * trainer), like a centroid table. */
  def mergesFrom(trained: DataFrame): Seq[(String, String)] =
    trained.select("merge_rank", "x", "y")
      .collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq

  // ---- JSON (flat {"token": id} object; JDK-only) ----

  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < 0x20 || c > 0x7e => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb.toString
  }

  private def encoderJson(encoder: Map[String, Int]): String =
    encoder.toSeq.sortBy(_._2)
      .map { case (t, i) => s""""${jsonEscape(t)}": $i""" }
      .mkString("{", ", ", "}")

  /** Minimal recursive JSON value parser (objects, arrays, strings,
    * integers, booleans, null) — enough for tokenizer artifacts;
    * backs [[parseEncoderJson]] and the tokenizer.json reader. */
  private[graft] def parseJson(s: String): Any = {
    var i = 0
    def err(msg: String) =
      throw new IllegalArgumentException(s"json: $msg at char $i")
    def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def expect(c: Char): Unit = {
      ws(); if (i >= s.length || s(i) != c) err(s"expected '$c'"); i += 1
    }
    def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (i < s.length && s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          if (i >= s.length) err("dangling escape")
          s(i) match {
            case '"' => sb += '"'; case '\\' => sb += '\\'
            case '/' => sb += '/'; case 'b' => sb += '\b'
            case 'f' => sb += '\f'; case 'n' => sb += '\n'
            case 'r' => sb += '\r'; case 't' => sb += '\t'
            case 'u' =>
              if (i + 4 >= s.length) err("short \\u escape")
              sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar
              i += 4
            case c => err(s"bad escape '\\$c'")
          }
        } else sb += s(i)
        i += 1
      }
      expect('"')
      sb.toString
    }
    def value(): Any = {
      ws()
      if (i >= s.length) err("unexpected end")
      s(i) match {
        case '"' => str()
        case '{' =>
          i += 1; ws()
          val m = scala.collection.mutable.LinkedHashMap[String, Any]()
          if (i < s.length && s(i) == '}') { i += 1 }
          else {
            var more = true
            while (more) {
              val k = str(); expect(':'); m(k) = value(); ws()
              if (i < s.length && s(i) == ',') { i += 1; ws() }
              else { expect('}'); more = false }
            }
          }
          m
        case '[' =>
          i += 1; ws()
          val b = Vector.newBuilder[Any]
          if (i < s.length && s(i) == ']') { i += 1 }
          else {
            var more = true
            while (more) {
              b += value(); ws()
              if (i < s.length && s(i) == ',') { i += 1; ws() }
              else { expect(']'); more = false }
            }
          }
          b.result()
        case 't' =>
          if (!s.startsWith("true", i)) err("bad literal"); i += 4; true
        case 'f' =>
          if (!s.startsWith("false", i)) err("bad literal"); i += 5; false
        case 'n' =>
          if (!s.startsWith("null", i)) err("bad literal"); i += 4; null
        case _ =>
          val start = i
          if (s(i) == '-') i += 1
          while (i < s.length && (s(i).isDigit || "+-.eE".contains(s(i)))) i += 1
          if (i == start) err("expected value")
          val t = s.substring(start, i)
          if (t.exists(c => ".eE".contains(c))) t.toDouble else t.toLong
      }
    }
    val v = value()
    ws()
    if (i != s.length) err("trailing content")
    v
  }

  /** The flat {"token": int} object encoder.json is: [[parseJson]]
    * plus the check that the root is an object whose values are all
    * Int-ranged integers. */
  private[graft] def parseEncoderJson(s: String): Map[String, Int] = {
    def err(msg: String) = throw new IllegalArgumentException(s"encoder.json: $msg")
    parseJson(s) match {
      case m: scala.collection.Map[_, _] =>
        m.iterator.map {
          case (k: String, v: Long) if v.isValidInt => k -> v.toInt
          case (k, v) => err(s"value of \"$k\" is not an Int: $v")
        }.toMap
      case _ => err("root is not an object")
    }
  }

  // ---- Hadoop-FS file IO ----

  private def fsFor(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeFile(spark: SparkSession, path: String,
      content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = fsFor(spark, path).create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readFile(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = fsFor(spark, path).open(p)
    try {
      val bo = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { bo.write(buf, 0, n); n = in.read(buf) }
      new String(bo.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /**
   * Persist a byte-level tokenizer as `<path>/vocab.bpe` +
   * `<path>/encoder.json` in the GPT-2 interchange layout. `encoder`
   * defaults to [[gpt2Encoder]] (the published numbering); pass
   * [[graft.ops.TextOps.byteLevelVocab]]'s map to keep the internal
   * byte-order numbering instead — the file format is identical.
   */
  def writeGpt2Tokenizer(spark: SparkSession, path: String,
      merges: Seq[(String, String)],
      encoder: Map[String, Int] = null): Unit = {
    require(merges.nonEmpty, "refusing to write an empty merges table")
    merges.foreach { case (x, y) =>
      require(x.nonEmpty && y.nonEmpty && !x.contains(' ') &&
        !y.contains(' ') && !x.contains('\n') && !y.contains('\n'),
        s"merge part unrepresentable in vocab.bpe line format: ('$x','$y')")
    }
    val enc = Option(encoder).getOrElse(gpt2Encoder(merges))
    val bpe = "#version: 0.2\n" +
      merges.map { case (x, y) => s"$x $y" }.mkString("\n") + "\n"
    writeFile(spark, s"$path/vocab.bpe", bpe)
    writeFile(spark, s"$path/encoder.json", encoderJson(enc))
  }

  /**
   * Persist as a HUGGING FACE `tokenizer.json` (r19 — the other
   * interchange format; tokenizers' BPE model schema: model.type,
   * model.vocab as token→id, model.merges as "x y" strings in rank
   * order). Only the model block is written — pre-tokenizer/normalizer
   * configuration lives in the loading framework's defaults for
   * byte-level GPT-2-style tokenizers.
   */
  def writeHfTokenizer(spark: SparkSession, path: String,
      merges: Seq[(String, String)],
      encoder: Map[String, Int] = null): Unit = {
    require(merges.nonEmpty, "refusing to write an empty merges table")
    val enc = Option(encoder).getOrElse(gpt2Encoder(merges))
    val mergesJson = merges
      .map { case (x, y) => s""""${jsonEscape(s"$x $y")}"""" }
      .mkString("[", ", ", "]")
    val json =
      s"""{"version": "1.0", "model": {"type": "BPE", """ +
        s""""vocab": ${encoderJson(enc)}, "merges": $mergesJson}}"""
    writeFile(spark, s"$path/tokenizer.json", json)
  }

  /** Load a [[writeHfTokenizer]] (or compatible) `tokenizer.json` back
    * into (merges, encoder). Fails loudly on a non-BPE model or
    * malformed structure. */
  def readHfTokenizer(spark: SparkSession,
      path: String): (Seq[(String, String)], Map[String, Int]) = {
    val root = parseJson(readFile(spark, s"$path/tokenizer.json")) match {
      case m: scala.collection.Map[_, _] =>
        m.asInstanceOf[scala.collection.Map[String, Any]]
      case _ => throw new IllegalArgumentException(
        "tokenizer.json: top level must be an object")
    }
    val model = root.getOrElse("model",
      throw new IllegalArgumentException("tokenizer.json: no model block"))
      .asInstanceOf[scala.collection.Map[String, Any]]
    require(model.get("type").contains("BPE"),
      s"tokenizer.json: expected model.type BPE, got ${model.get("type")}")
    val vocab = model("vocab").asInstanceOf[scala.collection.Map[String, Any]]
      .map { case (k, v) => k -> v.asInstanceOf[Long].toInt }.toMap
    val merges = model("merges").asInstanceOf[Vector[Any]].map { m =>
      val parts = m.asInstanceOf[String].split(" ")
      require(parts.length == 2,
        s"tokenizer.json: malformed merge '${m.toString.take(60)}'")
      (parts(0), parts(1))
    }
    merges.zipWithIndex.foreach { case ((x, y), r) =>
      require(vocab.contains(x + y),
        s"tokenizer.json: vocab is missing merge $r's output '${x + y}'")
    }
    (merges, vocab)
  }

  /** Load `<path>/vocab.bpe` + `<path>/encoder.json` back into the
    * (merges, encoder) pair [[graft.ops.TextOps.bpeEncodeByteLevel]]
    * consumes. Fails loudly on malformed lines/JSON and on an encoder
    * that disagrees with the merges' outputs (a mismatched artifact
    * pair must not load). */
  def readGpt2Tokenizer(spark: SparkSession,
      path: String): (Seq[(String, String)], Map[String, Int]) = {
    // Only the '#version' HEADER line is a comment in this format —
    // '#' is a legitimate merge part (the published GPT-2 vocab.bpe
    // contains merges like '# #', and writeGpt2Tokenizer emits them),
    // so filtering every '#'-prefixed line would silently drop merges
    // and shift all later ranks.
    val lines = readFile(spark, s"$path/vocab.bpe").split("\n", -1)
      .iterator.filterNot(l => l.startsWith("#version") || l.isEmpty)
      .toVector
    val merges = lines.map { l =>
      val parts = l.split(" ")
      require(parts.length == 2,
        s"malformed vocab.bpe merge line: '${l.take(60)}'")
      (parts(0), parts(1))
    }
    val encoder = parseEncoderJson(readFile(spark, s"$path/encoder.json"))
    merges.zipWithIndex.foreach { case ((x, y), r) =>
      require(encoder.contains(x + y),
        s"encoder.json is missing merge $r's output '${x + y}' — " +
          "mismatched artifact pair")
    }
    // Rank-shift tripwire: in the 256+rank numbering (both supported
    // conventions) the highest merge-output id pins the merge count —
    // a dropped or extra vocab.bpe line cannot load silently.
    val outIds = merges.map { case (x, y) => encoder(x + y) }
    if (outIds.nonEmpty && outIds.min == 256)
      require(outIds.max == 255 + merges.length,
        s"encoder's merge ids run to ${outIds.max} but ${merges.length} " +
          "merge lines parsed — vocab.bpe/encoder.json pair is " +
          "inconsistent (dropped or extra merge lines)")
    (merges, encoder)
  }
}
