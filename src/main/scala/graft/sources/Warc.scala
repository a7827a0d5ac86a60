package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * WARC / WET ingestion — the missing first mile of the crawl chain
 * (r15 verdict task #3): [[graft.ops.Dedup.crawlClean]] starts from an
 * `html` column, but real web corpora (CommonCrawl) ship as WARC.gz
 * (full HTTP capture) and WET.gz (extracted-text "conversion"
 * records). This source turns those files into the (url, fetch_ts,
 * mime, record_type, content) frame the chain consumes — JDK-only
 * (java.util.zip GZIP + hand-rolled WARC/1.x record framing, ISO
 * 28500), no new dependencies.
 *
 * Format notes (public spec, ISO 28500 / IIPC warc-specifications):
 *  - a WARC file is a sequence of records; each record is a version
 *    line `WARC/1.0` (or 1.1), CRLF-terminated named header lines, a
 *    blank line, `Content-Length` octets of block, then CRLF CRLF;
 *  - `.warc.gz` files compress EACH RECORD as its own gzip member and
 *    concatenate the members (so HTTP range readers can seek);
 *    `GZIPInputStream` transparently reads concatenated members, and
 *    the spec-pinned multi-member case proves we consume them all;
 *  - WET files are ordinary WARC files whose records are
 *    `conversion` type with `Content-Type: text/plain`.
 *
 * Scale shape: one task per WARC file via the built-in `binaryFile`
 * source (CommonCrawl ships ~1 GB files — thousands of them, so the
 *  parallel unit is the FILE, matching every production WARC reader;
 * `binaryFile`'s 2 GB per-file ceiling is above the format's
 * conventional segment size). Record parsing is a per-partition
 * iterator — no state beyond one record's bytes, nothing shuffles
 * until the caller's first exchange. Truncated or malformed records
 * fail loudly (the codec-seam contract): a crawl archive with a bad
 * segment should surface it, not silently drop the tail.
 */
object Warc {

  /** One parsed WARC record (header fields + payload bytes). */
  final case class WarcRecord(
      recordType: String, url: String, date: String, contentType: String,
      recordId: String, content: Array[Byte])

  /** Decompress a (possibly multi-member) gzip byte array; pass
    * non-gzip bytes through untouched (plain .warc / .wet files).
    * TEST/SMALL-FILE helper only: this materializes the whole
    * decompressed file, which for a real ~1 GB CommonCrawl segment
    * (3-5 GB decompressed) would blow the 2 GB JVM array limit — the
    * production read path goes through [[recordStream]], which parses
    * records incrementally off the GZIPInputStream and never holds
    * more than one record's payload. */
  private[graft] def gunzipAll(bytes: Array[Byte]): Array[Byte] = {
    if (bytes.length < 2 ||
        (bytes(0) & 0xff) != 0x1f || (bytes(1) & 0xff) != 0x8b) return bytes
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes), 1 << 16)
    val out = new java.io.ByteArrayOutputStream(bytes.length * 4)
    val buf = new Array[Byte](1 << 16)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close()
    out.toByteArray
  }

  /** Parse the records of one (decompressed) WARC/WET file. Fails
    * loudly on framing violations: a missing version line, a header
    * block without Content-Length, or a block that runs past the end
    * of the file (truncation). Materializing wrapper over
    * [[parseWarcStream]] for tests and small inputs. */
  private[graft] def parseWarc(bytes: Array[Byte]): Vector[WarcRecord] =
    parseWarcStream(new java.io.ByteArrayInputStream(bytes)).toVector

  /** All records of one WARC/WET file from its RAW (possibly
    * gzip-compressed) bytes, decompressed and parsed INCREMENTALLY:
    * the WARC framing is sequential and Content-Length-delimited, so
    * records come straight off the GZIPInputStream one at a time and
    * peak memory is one record's payload — a ~1 GB .warc.gz segment
    * that decompresses to 3-5 GB (past the 2 GB JVM array limit)
    * streams through without ever existing as one array. */
  private[graft] def recordStream(raw: Array[Byte]): Iterator[WarcRecord] = {
    val base = new java.io.ByteArrayInputStream(raw)
    val in: java.io.InputStream =
      if (raw.length >= 2 && (raw(0) & 0xff) == 0x1f && (raw(1) & 0xff) == 0x8b)
        new java.util.zip.GZIPInputStream(base, 1 << 16)
      else base
    parseWarcStream(in)
  }

  /** Streaming WARC parser: one record at a time off `in0`, fail-loud
    * framing identical to the old whole-array parser (byte offsets in
    * messages are DECOMPRESSED-stream offsets). */
  private[graft] def parseWarcStream(
      in0: java.io.InputStream): Iterator[WarcRecord] =
    new scala.collection.AbstractIterator[WarcRecord] {
      private val in = new java.io.BufferedInputStream(in0, 1 << 16)
      private var pos = 0L
      private var nextRec: WarcRecord = _
      private var finished = false
      private var primed = false

      // One header line as raw bytes (UTF-8 URLs survive), '\n'
      // consumed, CR stripped by the caller; null at clean EOF.
      private def readLineBytes(): Array[Byte] = {
        var c = in.read()
        if (c < 0) return null
        val bo = new java.io.ByteArrayOutputStream(96)
        while (c >= 0 && c != '\n') { bo.write(c); pos += 1; c = in.read() }
        if (c >= 0) pos += 1
        bo.toByteArray
      }
      private def line(lb: Array[Byte]): String =
        new String(lb, java.nio.charset.StandardCharsets.UTF_8)
          .stripSuffix("\r")

      private def advance(): Unit = {
        primed = true
        // skip the CRLF CRLF separator runs between records
        var version: String = null
        var scanning = true
        var startPos = pos
        while (scanning) {
          startPos = pos
          val lb = readLineBytes()
          if (lb == null) { finished = true; scanning = false }
          else {
            val l = line(lb)
            if (l.nonEmpty) { version = l; scanning = false }
          }
        }
        if (finished) { nextRec = null; return }
        require(version.startsWith("WARC/"),
          s"not a WARC record boundary at byte $startPos: " +
            s"got '${version.take(40)}'")
        val headers = scala.collection.mutable.Map[String, String]()
        var done = false
        while (!done) {
          val lb = readLineBytes()
          require(lb != null, s"truncated WARC header block at byte $pos")
          val l = line(lb)
          if (l.isEmpty) done = true
          else {
            val ci = l.indexOf(':')
            require(ci > 0, s"malformed WARC header line: '${l.take(60)}'")
            headers(l.substring(0, ci).trim.toLowerCase) =
              l.substring(ci + 1).trim
          }
        }
        val len = headers.getOrElse("content-length",
          sys.error(s"WARC record at byte $startPos has no Content-Length"))
          .toInt
        require(len >= 0,
          s"negative Content-Length $len at byte $startPos")
        val body = new Array[Byte](len)
        var off = 0
        while (off < len) {
          val n = in.read(body, off, len - off)
          require(n >= 0,
            s"truncated WARC record at byte $startPos: Content-Length " +
              s"$len exceeds file ($off bytes remain)")
          off += n; pos += n
        }
        nextRec = WarcRecord(
          recordType = headers.getOrElse("warc-type", ""),
          url = headers.getOrElse("warc-target-uri", ""),
          date = headers.getOrElse("warc-date", ""),
          contentType = headers.getOrElse("content-type", ""),
          recordId = headers.getOrElse("warc-record-id", ""),
          content = body)
      }

      def hasNext: Boolean = {
        if (!primed) advance()
        nextRec != null
      }
      def next(): WarcRecord = {
        if (!hasNext) throw new NoSuchElementException("end of WARC stream")
        val r = nextRec
        advance()
        r
      }
    }

  /** For `response` records the block is an HTTP message: split at the
    * blank line into (header block as ISO-8859-1 text — HTTP headers
    * are octets, RFC 9110 §5.5, and Latin-1 decodes any byte — and the
    * entity body); `conversion`/`resource` blocks are all body. */
  private[graft] def httpSplit(record: WarcRecord): (String, Array[Byte]) = {
    if (record.recordType != "response") return ("", record.content)
    val b = record.content
    var i = 0
    while (i + 3 < b.length &&
        !(b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n'))
      i += 1
    if (i + 3 < b.length)
      (new String(b, 0, i, java.nio.charset.StandardCharsets.ISO_8859_1),
        java.util.Arrays.copyOfRange(b, i + 4, b.length))
    else ("", b) // headerless capture: treat the whole block as the body
  }

  /** The entity body alone (legacy name kept for the spec surface). */
  private[graft] def httpBody(record: WarcRecord): Array[Byte] =
    httpSplit(record)._2

  // ---- charset-aware payload decode (r20, the r17 verdict's #2) ----
  // Real CommonCrawl response records carry Content-Type charsets
  // (ISO-8859-1, Windows-1252, Shift_JIS, …); decoding every payload as
  // UTF-8 produces replacement-char mojibake on nearly every
  // non-English segment. Resolution order follows what production WARC
  // text extractors do:
  //   1. the HTTP Content-Type header's charset= label;
  //   2. else an HTML <meta charset> / <meta http-equiv Content-Type>
  //      label in the first KB of the body;
  //   3. else strict-validate as UTF-8 (the modern-web default —
  //      unlabeled UTF-8 is far likelier than unlabeled Latin-1 with
  //      high bytes that HAPPEN to form valid UTF-8 sequences);
  //   4. else ISO-8859-1, the historical HTTP default (decodes any
  //      byte, so the ladder never fails).
  // WRONG-LABEL REPAIR: a body labeled with a Latin-family single-byte
  // charset whose bytes nonetheless strictly validate as NON-trivial
  // UTF-8 is decoded as UTF-8 — mislabeled UTF-8 is endemic in crawls,
  // and valid multi-byte UTF-8 sequences are a statistically decisive
  // signal (random Latin-1 high bytes almost never form them).

  /** charset=LABEL extractor — shared by the HTTP-header and meta-tag
    * probes; quote styles and trailing parameters tolerated. */
  private val CharsetLabel =
    java.util.regex.Pattern.compile(
      "(?i)charset[ \\t]*=[ \\t]*[\"']?([A-Za-z0-9][A-Za-z0-9_.:+-]*)")

  private[graft] def charsetOf(label: String): Option[java.nio.charset.Charset] =
    try Some(java.nio.charset.Charset.forName(label))
    catch { case _: Exception => None }

  /** Does `b` decode as strict UTF-8 (malformed/unmappable = no)? */
  private[graft] def validUtf8(b: Array[Byte]): Boolean =
    try {
      java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
        .decode(java.nio.ByteBuffer.wrap(b))
      true
    } catch { case _: java.nio.charset.CharacterCodingException => false }

  private def labelFrom(s: String): Option[String] = {
    val m = CharsetLabel.matcher(s)
    if (m.find()) Some(m.group(1)) else None
  }

  private val LatinFamily = Set("iso-8859-1", "iso-8859-15", "us-ascii",
    "windows-1252", "ascii", "latin1")

  /** Resolve + decode one record's payload to text. Returns
    * (text, charset actually used, lowercased canonical-ish label). */
  private[graft] def decodeText(recordType: String, httpHeaders: String,
      body: Array[Byte]): (String, String) = {
    def decode(cs: java.nio.charset.Charset): String =
      // REPLACE, not REPORT: a LABELED charset still meets stray bad
      // bytes in the wild; the label is authoritative for the rest.
      cs.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
        .decode(java.nio.ByteBuffer.wrap(body)).toString
    if (recordType != "response") {
      // WET conversion / resource / metadata records are UTF-8 by the
      // format's own convention
      return (decode(java.nio.charset.StandardCharsets.UTF_8), "utf-8")
    }
    val headerLabel = httpHeaders.split("\r?\n").iterator
      .filter(_.toLowerCase.startsWith("content-type:"))
      .flatMap(labelFrom).nextOption()
    val label = headerLabel.orElse {
      // meta http-equiv / <meta charset> fallback in the first KB —
      // Latin-1-decode the probe window (any byte decodes; the label
      // itself is ASCII)
      val probe = new String(body, 0, math.min(body.length, 1024),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      if (probe.toLowerCase.contains("<meta")) labelFrom(probe) else None
    }
    label.flatMap(charsetOf) match {
      case Some(cs) =>
        val name = cs.name().toLowerCase
        val hasHighBytes = body.exists(b => (b & 0x80) != 0)
        if (LatinFamily.contains(name) && hasHighBytes && validUtf8(body))
          (decode(java.nio.charset.StandardCharsets.UTF_8), "utf-8")
        else (decode(cs), name)
      case None =>
        if (validUtf8(body))
          (decode(java.nio.charset.StandardCharsets.UTF_8), "utf-8")
        else (decode(java.nio.charset.StandardCharsets.ISO_8859_1),
          "iso-8859-1")
    }
  }

  /**
   * Read WARC/WET files into (path, record_type, url, fetch_ts, mime,
   * record_id, http_status, n_bytes, content, text, charset) —
   * http_status is the HTTP response code (NULL for records without an
   * HTTP header block) and content is the raw
   * PAYLOAD bytes (HTTP entity body for `response` records, whole
   * block otherwise) as an opaque binary column, the
   * multimodal-column convention; `text` is the CHARSET-AWARE decode
   * of those bytes (see [[decodeText]] — HTTP Content-Type charset →
   * meta-tag fallback → strict-UTF-8 validation → ISO-8859-1 HTTP
   * default, with wrong-label repair) and `charset` the name actually
   * used. `fetch_ts` parses the W3C/ISO WARC-Date.
   */
  def readWarc(spark: SparkSession, path: String): DataFrame =
    recordsFrom(spark, spark.read.format("binaryFile").load(path))

  /**
   * STREAMING twin of [[readWarc]] — continuous crawl-archive intake:
   * watch `path` for newly-landed segment files (the shape a crawler
   * delivers them in) and parse each exactly once per file via the
   * file-source's processed-files log; downstream, the frame feeds
   * [[graft.streaming.EventStreams.crawlIngestStream]] with `fetch_ts`
   * as the event time. Same parse, same fail-loud framing contract as
   * the batch reader — one shared [[recordsFrom]] body, so the twins
   * cannot drift.
   */
  def readWarcStream(spark: SparkSession, path: String): DataFrame =
    recordsFrom(spark, spark.readStream.format("binaryFile")
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))
      .load(path))

  /** HTTP status from a response's header block's first line
    * ("HTTP/1.1 200 OK" → 200); -1 when absent (non-response records,
    * headerless captures, unparseable status lines). */
  private[graft] def httpStatus(httpHeaders: String): Int = {
    if (httpHeaders.isEmpty) return -1
    val firstLine = httpHeaders.takeWhile(c => c != '\r' && c != '\n')
    val m = StatusLine.matcher(firstLine)
    if (m.matches()) m.group(1).toInt else -1
  }
  private val StatusLine =
    java.util.regex.Pattern.compile("HTTP/[0-9.]+[ \\t]+([0-9]{3}).*")

  /** Shared batch/streaming parse body: binaryFile rows → records. */
  private def recordsFrom(spark: SparkSession, files: DataFrame): DataFrame = {
    import spark.implicits._
    val parsed = files.select(col("path"), col("content"))
      .as[(String, Array[Byte])].flatMap { case (p, raw) =>
        recordStream(raw).map { r =>
          val (httpHeaders, body) = httpSplit(r)
          val (text, cs) = decodeText(r.recordType, httpHeaders, body)
          (p, r.recordType, r.url, r.date,
            Option(r.contentType).getOrElse(""), r.recordId,
            httpStatus(httpHeaders), body, text, cs)
        }
      }.toDF("path", "record_type", "url", "warc_date", "mime", "record_id",
        "status", "content", "text", "charset")
    parsed
      .withColumn("fetch_ts", to_timestamp(col("warc_date")))
      .withColumn("n_bytes", length(col("content")))
      // -1 sentinel → NULL: "no HTTP status" (WET conversions, resource
      // records, headerless captures) is absence, not a number
      .withColumn("http_status",
        when(col("status") >= 0, col("status")).otherwise(lit(null)))
      .select(col("path"), col("record_type"), col("url"), col("fetch_ts"),
        col("warc_date"), col("mime"), col("record_id"), col("http_status"),
        col("n_bytes"), col("content"), col("text"), col("charset"))
  }

  /**
   * The crawl-chain adapter: WARC/WET records → the (doc_id, source,
   * html) page frame [[graft.ops.Dedup.crawlClean]] consumes. Keeps
   * `response` (WARC) and `conversion` (WET) records with a non-empty
   * target URI; doc_id is a deterministic 63-bit hash of the record's
   * (url, date) identity — stable across re-reads and partitionings —
   * and source is the registered-host part of the URL (the per-source
   * unit boilerplate removal groups by).
   */
  def pages(records: DataFrame): DataFrame =
    records
      .filter(col("record_type").isin("response", "conversion") &&
        col("url") =!= "")
      // only SUCCESSFUL captures carry page content: a 404 body is the
      // error page, a 3xx body is a stub — both are corpus noise (the
      // CommonCrawl WET convention keeps 200s). No-status records (WET
      // conversions, headerless captures) pass through.
      .filter(col("http_status").isNull ||
        (col("http_status") >= 200 && col("http_status") < 300))
      .select(
        pmod(conv(substring(md5(concat_ws("", col("url"),
          col("warc_date"))), 1, 15), 16, 10).cast("long"),
          lit(Long.MaxValue)).as("doc_id"),
        regexp_extract(col("url"), "^[a-zA-Z]+://([^/:?#]+)", 1)
          .as("source"),
        // charset-aware decode (decodeText), not a blind UTF-8 cast
        col("text").as("html"),
        col("fetch_ts"))

  /**
   * Host-level link graph straight from WARC `response` records (r19)
   * — the WAT sidecar computed inline: the capture's HTML bodies feed
   * [[graft.ops.TextOps.linkGraph]] (href extraction + host
   * resolution), yielding the (src_host, dst_host, n_links) edge frame
   * [[graft.ops.Graph.pageRank]] / kCore rank a real crawl with.
   * Payloads never shuffle — edges leave the scan stage as host pairs.
   */
  def linkGraph(records: DataFrame): DataFrame =
    graft.ops.TextOps.linkGraph(
      records.filter(col("record_type") === "response" && col("url") =!= "")
        .select(col("url"), col("text").as("html")),
      "url", "html")

  /** Build one WARC record's bytes (the write-side of [[parseWarc]] —
    * shared framing so export and ingest can never drift). */
  private[graft] def buildRecord(recordType: String, url: String,
      date: String, contentType: String, body: Array[Byte]): Array[Byte] = {
    val id = java.util.UUID.nameUUIDFromBytes(
      (url + "\u0000" + date).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val h = new StringBuilder
    h ++= "WARC/1.0\r\n"
    h ++= s"WARC-Type: $recordType\r\n"
    if (url.nonEmpty) h ++= s"WARC-Target-URI: $url\r\n"
    h ++= s"WARC-Date: $date\r\n"
    h ++= s"WARC-Record-ID: <urn:uuid:$id>\r\n"
    h ++= s"Content-Type: $contentType\r\n"
    h ++= s"Content-Length: ${body.length}\r\n\r\n"
    h.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8) ++ body ++
      "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /**
   * EXPORT a cleaned text corpus as WET (r18) — the write half of the
   * archive round-trip: each row becomes a `conversion` record
   * (text/plain payload), each record its OWN gzip member (the
   * seekable .warc.gz layout [[gunzipAll]] ingests), `nFiles` segment
   * files written in parallel (one per task, rows url-sorted within a
   * segment for per-file determinism; segment ASSIGNMENT follows the
   * hash repartition). This is how a cleaned/deduplicated corpus is
   * redistributed in the crawl world; [[readWarc]] over the output
   * reproduces the rows exactly (spec-pinned round-trip).
   */
  def writeWet(df: DataFrame, path: String, urlCol: String,
      textCol: String, dateCol: String, nFiles: Int): Unit =
    writeRecordFiles(
      df.select(col(urlCol).cast("string").as("url"),
        col(textCol).cast("string").as("payload"),
        date_format(col(dateCol).cast("timestamp"),
          "yyyy-MM-dd'T'HH:mm:ss'Z'").as("d")),
      path, "wet", "conversion", "text/plain", nFiles)

  /**
   * EXPORT the per-page LINK METADATA as WAT-style `metadata` records
   * (r19 — the sidecar format the inline [[linkGraph]] extraction
   * replaces at read time; exporting it lets downstream consumers skip
   * the HTML entirely). Each page row becomes one gzip-member
   * `metadata` record whose JSON payload follows the WAT envelope
   * shape (Envelope → WARC-Header-Metadata.WARC-Target-URI +
   * Payload-Metadata.HTML-Metadata.Links as an array of {"url": …}
   * objects — the shape CommonCrawl WAT consumers expect), built with
   * `to_json` in the scan stage — links are [[graft.ops.TextOps
   * .extractHrefs]]' raw hrefs, so WAT export and inline extraction
   * can never disagree. Same segment layout and round-trip contract
   * as [[writeWet]] ([[readWarc]] + a JSON parse reproduce the edges).
   */
  def writeWat(df: DataFrame, path: String, urlCol: String,
      htmlCol: String, dateCol: String, nFiles: Int): Unit =
    writeRecordFiles(
      df.select(col(urlCol).cast("string").as("url"),
        to_json(struct(
          struct(
            struct(col(urlCol).cast("string").as("WARC-Target-URI"))
              .as("WARC-Header-Metadata"),
            struct(struct(
              transform(graft.ops.TextOps.extractHrefs(col(htmlCol)),
                h => struct(h.as("url")))
                .as("Links")).as("HTML-Metadata"))
              .as("Payload-Metadata")).as("Envelope"))).as("payload"),
        date_format(col(dateCol).cast("timestamp"),
          "yyyy-MM-dd'T'HH:mm:ss'Z'").as("d")),
      path, "wat", "metadata", "application/json", nFiles)

  /** Shared segment-file writer behind [[writeWet]] / [[writeWat]]:
    * (url, payload, d) rows → `<prefix>-NNNNN.warc.gz` files, one gzip
    * member per record, url-sorted within a segment. */
  private def writeRecordFiles(rows: DataFrame, path: String,
      prefix: String, recordType: String, contentType: String,
      nFiles: Int): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val spark = rows.sparkSession
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    rows
      .filter(col("url").isNotNull && col("payload").isNotNull &&
        col("d").isNotNull)
      .repartition(nFiles, col("url"))
      .sortWithinPartitions(col("url"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val part = org.apache.spark.TaskContext.getPartitionId()
          val p = new org.apache.hadoop.fs.Path(path,
            f"$prefix-$part%05d.warc.gz")
          val fs = p.getFileSystem(conf.value)
          val outStream = fs.create(p, true)
          // close() (not just finish()) each per-record gzip member so
          // its native Deflater is end()ed immediately — finish() alone
          // leaves zlib memory to the GC Cleaner, which exhausts native
          // memory at millions of records per task. The close must not
          // reach the shared file stream, hence the suppressing shim.
          val noClose = new java.io.FilterOutputStream(outStream) {
            override def write(b: Array[Byte], off: Int, len: Int): Unit =
              out.write(b, off, len)
            override def close(): Unit = flush()
          }
          try it.foreach { r =>
            val rec = buildRecord(recordType, r.getString(0),
              r.getString(2), contentType,
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            val g = new java.util.zip.GZIPOutputStream(noClose, 1 << 16)
            g.write(rec)
            g.close() // one gzip MEMBER per record; ends the Deflater
          } finally outStream.close()
        }
      }
  }
}
