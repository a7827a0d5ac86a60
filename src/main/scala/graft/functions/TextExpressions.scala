package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * One-pass k-element MinHash signature over an `array<string>` of shingles.
 *
 * Hash family (Kirsch-Mitzenmacher): one md5 per shingle, split into two
 * unsigned 32-bit halves (hex chars 1-8 → a, 9-16 → b); the j-th hash is
 * `(a + j·b) mod 2^32`. One digest per shingle instead of k — ~k× less
 * hashing than salting md5 per hash — while staying engine-replayable:
 * the DuckDB oracle recomputes the identical values from `md5(s)` hex.
 *
 * Imperative with a reused MessageDigest per task (expressions are
 * deserialized per task, so the transient digest is single-threaded).
 * CodegenFallback: md5 dominates; only this projection drops out of
 * codegen, the surrounding plan keeps its spans.
 */
case class MinHashSignature(child: Expression, k: Int)
  extends UnaryExpression with CodegenFallback {

  require(k > 0 && k <= 64, s"k must be in [1,64], got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.Strings.check(prettyName, child.dataType)

  @transient private lazy val md = MessageDigest.getInstance("MD5")

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    var seen = 0
    while (i < n) {
      if (arr.isNullAt(i)) { i += 1 }
      else {
      seen += 1
      md.reset()
      val digest = md.digest(arr.getUTF8String(i).getBytes)
      val a = Md5.u32(digest, 0)
      val b = Md5.u32(digest, 4)
      var j = 0
      while (j < k) {
        val h = (a + j * b) & 0xffffffffL
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
      }
    }
    // all-null input == empty input: no shingles to hash → null signature
    // (null elements are skipped — the public API accepts
    // containsNull=true arrays; internal pipelines never produce them)
    if (seen == 0) return null
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/**
 * 64-bit SimHash over an `array<string>` of tokens, returned as a 64-char
 * '0'/'1' string (bit b = sign of Σ_tokens ±1 votes; bit b of a token =
 * bit b%4 of hex digit b/4 of md5(token) — identical to the declarative
 * HOF form the specs check it against, and to the DuckDB oracle).
 *
 * One md5 digest per token, votes accumulated from the digest BYTES
 * (hex char 2c is the high nibble of byte c) — no hex strings, no
 * per-bit substring walks. ~64× less per-token work than the HOF form.
 */
case class SimHash64(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_simhash64"

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.Strings.check(prettyName, child.dataType)

  @transient private lazy val md = MessageDigest.getInstance("MD5")

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      // null tokens are skipped (no vote) — the public API accepts
      // containsNull=true arrays; internal pipelines never produce them
      if (arr.isNullAt(i)) { i += 1 }
      else {
      md.reset()
      val digest = md.digest(arr.getUTF8String(i).getBytes)
      var c = 0 // hex-digit index 0..15 over the first 8 digest bytes
      while (c < 16) {
        val byte = digest(c >> 1) & 0xff
        val digit = if ((c & 1) == 0) byte >> 4 else byte & 0xf
        var k = 0
        while (k < 4) {
          votes(c * 4 + k) += (((digit >> k) & 1) * 2 - 1)
          k += 1
        }
        c += 1
      }
      i += 1
      }
    }
    val bits = new Array[Byte](64)
    var b = 0
    while (b < 64) {
      bits(b) = if (votes(b) >= 0) '1'.toByte else '0'.toByte
      b += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(bits)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/**
 * Polynomial rolling-hash fingerprint over a string's Unicode code
 * points: fold `(acc*31 + codePoint) mod 1e9+7` left-to-right — the
 * native form of `aggregate(transform(sequence(...), i ->
 * ascii(substr(s,i,1))), ...)`, which walks an interpreted lambda per
 * CHARACTER (14s for 5000 docs at sf0.1; this kernel is milliseconds).
 * Matches DuckDB's `ascii()` (code point) replay exactly.
 */
case class Fingerprint(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_fingerprint"

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.StringArg.check(prettyName, child.dataType)

  override protected def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    var acc = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  override protected def withNewChildInternal(newChild: Expression): Fingerprint =
    copy(child = newChild)
}

/**
 * One-pass per-document text statistics — the shared input of quality
 * scoring and language ID:
 *
 *   struct(n_toks, hits_en, hits_es, hits_fr, hits_de, n_chars, removed)
 *
 * where tokens are maximal `[a-z0-9]+` runs of the lowercased text
 * (exactly `regexp_extract_all(lower(text), '[a-z0-9]+')`), `hits_*`
 * count tokens in each language's stopword list (duplicates counted),
 * `n_chars` = `length(text)` in code points, and `removed` = code points
 * of the lowercased text outside `[a-z0-9]` and ASCII whitespace
 * (exactly `length(text) - length(regexp_replace(lower(text),
 * '[^a-z0-9\s]', ''))`, including multi-char case mappings).
 *
 * Why: the declarative form runs regexp_extract_all + regexp_replace +
 * four interpreted `filter(toks, isin(...))` HOF passes per document —
 * seven walks over the text. This kernel is ONE walk with integer
 * comparisons; downstream quality/langid math is plain codegen'd
 * arithmetic over the struct fields.
 *
 * Lowercasing is a full-string `toLowerCase` (identical to `lower()`,
 * multi-char case mappings included), with an allocation-free fast path
 * for ASCII text.
 */
case class TextStats(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_toks", IntegerType, nullable = false),
    StructField("hits_en", IntegerType, nullable = false),
    StructField("hits_es", IntegerType, nullable = false),
    StructField("hits_fr", IntegerType, nullable = false),
    StructField("hits_de", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("removed", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_text_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.StringArg.check(prettyName, child.dataType)

  override protected def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    // the declarative twin lowercases the WHOLE string first
    // (`lower(text)`) and computes the punct count as
    // length(text) - length(regexp_replace(lower(text), '[^a-z0-9\s]', ''))
    // — i.e. origChars - (lowerChars - removedLower); all lengths in
    // code points. Full-string lowering keeps multi-char case mappings
    // (İ → "i̇") identical to lower().
    val lowered = TextKernels.lowerLikeSql(s)
    val origChars = s.codePointCount(0, s.length)
    var nToks, en, es, fr, de, lowerChars, removedLower = 0
    val tok = new java.lang.StringBuilder(16)
    def closeToken(): Unit = if (tok.length() > 0) {
      nToks += 1
      val t = tok.toString
      if (TextStats.EN.contains(t)) en += 1
      if (TextStats.ES.contains(t)) es += 1
      if (TextStats.FR.contains(t)) fr += 1
      if (TextStats.DE.contains(t)) de += 1
      tok.setLength(0)
    }
    var i = 0
    val len = lowered.length
    while (i < len) {
      val cp = lowered.codePointAt(i)
      lowerChars += 1
      if ((cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9')) {
        tok.appendCodePoint(cp)
      } else {
        closeToken()
        // ASCII \s of the Java regex the declarative form uses:
        // [ \t\n\x0B\f\r]
        val isWs = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0b ||
          cp == '\f' || cp == '\r'
        if (!isWs) removedLower += 1
      }
      i += Character.charCount(cp)
    }
    closeToken()
    val removed = origChars - (lowerChars - removedLower)
    new GenericInternalRow(Array[Any](nToks, en, es, fr, de, origChars, removed))
  }

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

/**
 * The word tokenizer: maximal `[a-z0-9]+` runs of the lowercased text —
 * exactly `regexp_extract_all(lower(text), '[a-z0-9]+')` (spec-checked),
 * without the regex engine or a lowered copy of ASCII text. Its one body
 * is [[TextKernels.words]]: the interpreted `eval` and the generated code
 * both call it, so a projection that tokenizes keeps its whole-stage
 * codegen span.
 */
case class Tokenize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_tokenize"

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.StringArg.check(prettyName, child.dataType)

  override protected def nullSafeEval(v: Any): Any =
    TextKernels.words(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.words($c)")

  override protected def withNewChildInternal(newChild: Expression): Tokenize =
    copy(child = newChild)
}

/**
 * Fused tokenize + word-n-shingle kernel: one pass from raw text to the
 * shingle array — the words of [[Tokenize]], every run of `n` of them
 * joined by single spaces; documents with fewer than `n` words give one
 * shingle of the whole word list (`""` for none). Its one body is
 * [[TextKernels.shingles]], called by `eval` and by the generated code.
 */
case class TokenShingles(child: Expression, n: Int = 3) extends UnaryExpression {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_token_shingles"

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.StringArg.check(prettyName, child.dataType)

  override protected def nullSafeEval(v: Any): Any =
    TextKernels.shingles(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): TokenShingles =
    copy(child = newChild)
}

private[functions] object TextKernels {
  /** Full-string lowercase with the SAME (locale-independent, full
    * Unicode) mapping `lower()` applies — per-code-point
    * Character.toLowerCase diverges on multi-char mappings like
    * U+0130 'İ' → "i̇". ASCII-only strings take an allocation-free
    * fast path. */
  def lowerLikeSql(s: String): String = {
    var i = 0
    val len = s.length
    var asciiNoUpper = true
    while (asciiNoUpper && i < len) {
      val c = s.charAt(i)
      if (c >= 128 || (c >= 'A' && c <= 'Z')) asciiNoUpper = false
      i += 1
    }
    if (asciiNoUpper) s else s.toLowerCase(java.util.Locale.ROOT)
  }

  /** [[Tokenize]]'s body: the words of `text`. */
  def words(text: UTF8String): ArrayData = {
    val w = new Words(text)
    val out = new Array[Any](w.count)
    var i = 0
    while (i < w.count) {
      out(i) = w.join(i, 1)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[TokenShingles]]'s body: the word `n`-grams of `text`, or one
    * shingle of all its words when it has fewer than `n`. */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    val w = new Words(text)
    val out =
      if (w.count >= n) {
        val arr = new Array[Any](w.count - n + 1)
        var i = 0
        while (i < arr.length) {
          arr(i) = w.join(i, n)
          i += 1
        }
        arr
      } else Array[Any](w.join(0, w.count))
    new GenericArrayData(out)
  }

  /** The words of one text, as byte spans of its lowercased UTF-8.
    * `lower()` maps ASCII to ASCII, and no byte of a UTF-8 multi-byte
    * sequence is ASCII, so the words of an ASCII text are its alnum byte
    * runs with A-Z folded to a-z, read in place. Any other text is
    * lowered whole first, as `lower()` does: a few non-ASCII letters
    * lower to ASCII ones (U+212A 'K' → "k", U+0130 'İ' → "i̇"). */
  private final class Words(text: UTF8String) {
    private val src: UTF8String =
      if (text.isFullAscii) text
      else UTF8String.fromString(lowerLikeSql(text.toString))
    private var spans = new Array[Int](32) // start, end byte offset per word
    var count = 0
    scan()

    private def scan(): Unit = {
      val len = src.numBytes
      var start = -1
      var i = 0
      while (i < len) {
        if (isWordByte(src.getByte(i))) { if (start < 0) start = i }
        else if (start >= 0) { add(start, i); start = -1 }
        i += 1
      }
      if (start >= 0) add(start, len)
    }

    private def add(from: Int, until: Int): Unit = {
      if (2 * count + 2 > spans.length) spans = java.util.Arrays.copyOf(spans, 2 * spans.length)
      spans(2 * count) = from
      spans(2 * count + 1) = until
      count += 1
    }

    /** Words `from` until `from + k`, lowercased and joined by single
      * spaces. */
    def join(from: Int, k: Int): UTF8String = {
      var size = math.max(k - 1, 0)
      var w = from
      while (w < from + k) {
        size += spans(2 * w + 1) - spans(2 * w)
        w += 1
      }
      val out = new Array[Byte](size)
      var o = 0
      w = from
      while (w < from + k) {
        if (w > from) { out(o) = ' '; o += 1 }
        var b = spans(2 * w)
        val end = spans(2 * w + 1)
        while (b < end) {
          val c = src.getByte(b)
          out(o) = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
          o += 1
          b += 1
        }
        w += 1
      }
      UTF8String.fromBytes(out)
    }
  }

  private def isWordByte(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || (c >= 'A' && c <= 'Z')
}

object TextStats {
  // must stay identical to graft.ops.TextOps.{EN,ES,FR,DE}_STOP
  val EN: java.util.Set[String] = javaSet(graft.ops.TextOps.EN_STOP)
  val ES: java.util.Set[String] = javaSet(graft.ops.TextOps.ES_STOP)
  val FR: java.util.Set[String] = javaSet(graft.ops.TextOps.FR_STOP)
  val DE: java.util.Set[String] = javaSet(graft.ops.TextOps.DE_STOP)
  private def javaSet(ws: Seq[String]): java.util.Set[String] = {
    val s = new java.util.HashSet[String](ws.size * 2)
    ws.foreach(s.add)
    s
  }
}

/**
 * Real-vocabulary BPE encoder over an `array<string>` of word tokens:
 * each word is split to characters and the merges table is applied
 * until no listed pair remains; the output is the flattened token
 * array across words (order preserved, null elements skipped).
 *
 * MERGE SEMANTICS (the engine-replayable contract): the applicable
 * pair with the SMALLEST rank merges first; one application merges
 * ALL leftmost-nonoverlapping occurrences of that pair in ONE scan
 * over the symbol ARRAY — exactly the canonical greedy BPE step
 * (Sennrich et al. 2016), so token counts AND placement match the
 * canonical encoder everywhere, including self-pair runs (`aaaaaa`
 * under `(a,a)` → 3 tokens, leftover of an odd run at the run's END).
 * The r16 draft used two string-replace passes over a `|`-delimited
 * string, which under-merged even self-pair runs ≥ 6 (4 tokens for
 * `aaaaaa`) because back-to-back occurrences share a boundary
 * delimiter; the array scan has no shared state to lose. For any
 * WELL-FORMED table — each rule's parts are single characters or
 * outputs of EARLIER rules, which every trained merges table
 * satisfies — the min-rank loop equals applying ranks in ascending
 * order, which is what the DuckDB oracle replays with a recursive
 * CTE: each symbol is wrapped `|s|` (string = concatenation of
 * wrapped symbols, e.g. `|a||a||a|`), and ONE left-to-right
 * non-overlapping `replace('|x||y|' → '|xy|')` per rank IS the
 * canonical merge-all pass — each symbol carries its own
 * delimiters, so back-to-back matches share nothing.
 *
 * The merges table ships inside the expression (task-serialized, like
 * a broadcast literal): collect a trained table with
 * `mergesDf.collect()` first. Per-task word→encoding cache (corpus
 * word frequency is Zipfian, so the hit rate is high); cost is
 * O(applied-merges · word-length) hash lookups per MISS — the lookup
 * COUNT is independent of the table size. Measured at production
 * vocabulary ([[graft.tools.BpeVocabProbe]], 200k rows of 8 distinct
 * 16-char words each, cache-defeating): 23.4 µs/row at 50k rules vs
 * 11.8 µs/row under the 4.7k-rule subset that provably encodes the
 * same corpus IDENTICALLY — the residual ~2× is rank-map CACHE
 * residency (L2 vs LLC), not algorithm; the 20-rule floor reads
 * 7.5 µs/row. CodegenFallback: the loop dominates; the surrounding
 * plan keeps its codegen spans.
 */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
  extends UnaryExpression with CodegenFallback {

  require(merges.nonEmpty, "merges table must not be empty")
  require(merges.forall { case (x, y) =>
    x.nonEmpty && y.nonEmpty && !x.contains("|") && !y.contains("|")
  }, "merge parts must be non-empty and must not contain '|'")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_bpe_encode"

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.Strings.check(prettyName, child.dataType)

  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((x, y), i) =>
      // duplicate rules: the first (lowest rank) wins, like every
      // trained table (a pair is only ever created once)
      m.putIfAbsent(x + "|" + y, Integer.valueOf(i))
    }
    m
  }
  @transient private lazy val mergeArr: Array[(String, String)] = merges.toArray
  @transient private lazy val cache =
    new java.util.HashMap[String, Array[String]]()

  private def encodeWord(w: String): Array[String] = {
    val hit = cache.get(w)
    if (hit != null) return hit
    // code-point split (DuckDB's w[i] indexes characters, not UTF-16)
    var syms: Array[String] =
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    var done = syms.length < 2
    while (!done) {
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.get(syms(i) + "|" + syms(i + 1))
        if (r != null && r.intValue() < best) best = r.intValue()
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        // canonical merge-all: ONE leftmost-nonoverlapping scan over the
        // symbol array (a matched pair consumes both symbols; the scan
        // resumes after them, so self-pair runs merge ⌊k/2⌋ times with
        // any odd leftover at the run's end)
        val (x, y) = mergeArr(best)
        val merged = x + y
        val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == x && syms(j + 1) == y) {
            out += merged
            j += 2
          } else {
            out += syms(j)
            j += 1
          }
        }
        syms = out.toArray
        done = syms.length < 2
      }
    }
    if (cache.size > 100000) cache.clear()
    cache.put(w, syms)
    syms
  }

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val w = arr.getUTF8String(i).toString
        if (w.nonEmpty) {
          val syms = encodeWord(w)
          var j = 0
          while (j < syms.length) {
            out += org.apache.spark.unsafe.types.UTF8String.fromString(syms(j))
            j += 1
          }
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

/**
 * One-pass content-defined-chunking hashes: boundaries where the md5
 * of the `window`-character window ending at position i satisfies
 * (first 8 hex chars as uint32) % 2^maskBits == 0; returns the md5
 * hex of every non-empty chunk between consecutive boundaries
 * (string start and end are always boundaries).
 *
 * BIT-IDENTICAL to the declarative form the DuckDB oracle replays —
 * `md5(substr(s, i-w+1, w))` per position with character (code-point)
 * indexing — but imperative: the UTF-8 bytes are encoded ONCE with a
 * code-point→byte-offset table, and each window/chunk md5 reads a
 * byte slice through one reused MessageDigest. The interpreted HOF
 * chain this replaces paid an expression-tree walk + substring
 * allocation per position (measured 74 s for one sf0.01 gate pass;
 * the kernel reads ~1 s). CodegenFallback: md5 dominates.
 */
case class CdcChunkHashes(child: Expression, window: Int, maskBits: Int)
  extends UnaryExpression with CodegenFallback {

  require(window >= 2 && window <= 256, s"window must be in [2,256], got $window")
  require(maskBits >= 1 && maskBits <= 20,
    s"maskBits must be in [1,20], got $maskBits")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cdc_chunks"

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.StringArg.check(prettyName, child.dataType)

  @transient private lazy val md = MessageDigest.getInstance("MD5")
  private val mask = (1L << maskBits) - 1L

  override protected def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // code-point index -> byte offset (substr semantics are
    // character-based on both engines)
    val nCp = s.codePointCount(0, s.length)
    val off = new Array[Int](nCp + 1)
    var cp = 0
    var ci = 0 // UTF-16 index
    var bo = 0 // byte offset
    while (cp < nCp) {
      off(cp) = bo
      val c = s.codePointAt(ci)
      bo += (if (c < 0x80) 1 else if (c < 0x800) 2
             else if (c < 0x10000) 3 else 4)
      ci += Character.charCount(c)
      cp += 1
    }
    off(nCp) = bytes.length
    val bounds = scala.collection.mutable.ArrayBuffer[Int](0)
    var i = window
    while (i <= nCp) {
      md.reset()
      md.update(bytes, off(i - window), off(i) - off(i - window))
      if ((Md5.u32(md.digest(), 0) & mask) == 0L) bounds += i
      i += 1
    }
    if (bounds.last != nCp) bounds += nCp
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var j = 1
    while (j < bounds.length) {
      val (a, b) = (bounds(j - 1), bounds(j))
      if (b > a) {
        md.reset()
        md.update(bytes, off(a), off(b) - off(a))
        out += org.apache.spark.unsafe.types.UTF8String.fromBytes(Md5.hexBytes(md.digest()))
      }
      j += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): CdcChunkHashes =
    copy(child = newChild)
}

/**
 * GPT-2-style byte-level unit mapping over an `array<string>` of
 * pre-tokens: each element's UTF-8 BYTES are mapped one-to-one onto
 * printable unicode chars (Radford et al. 2019's bytes_to_unicode —
 * the 188 printable latin-1 bytes map to themselves, the other 68
 * (controls, space, DEL, 0xA0, 0xAD) shift to U+0100+n, so space →
 * 'Ġ' U+0120, newline → 'Ċ' U+010A). Byte-level BPE then needs no
 * <unk>: ANY string — emoji, CJK, mojibake — becomes a reversible
 * sequence over a 256-symbol base alphabet. The inverse table
 * ([[ByteLevelUnits.decode]]) restores the exact original bytes,
 * the lossless round-trip the spec pins.
 *
 * Pure per-row array map (no state); CodegenFallback like the
 * sibling text kernels — the byte loop dominates.
 */
case class ByteLevelUnits(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_byte_units"

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.Strings.check(prettyName, child.dataType)

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (arr.isNullAt(i)) org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
        else {
          val bytes = arr.getUTF8String(i).getBytes
          val sb = new java.lang.StringBuilder(bytes.length)
          var j = 0
          while (j < bytes.length) {
            sb.append(ByteLevelUnits.byteToChar(bytes(j) & 0xff))
            j += 1
          }
          org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
        }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ByteLevelUnits =
    copy(child = newChild)
}

object ByteLevelUnits {
  /** bytes_to_unicode (GPT-2 encoder.py, public): printable bytes
    * ['!','~'], ['¡','¬'], ['®','ÿ'] map to themselves; the remaining
    * 68 bytes map to U+0100+n in ascending byte order. */
  val byteToChar: Array[Char] = {
    val keep = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    var n = 0
    (0 until 256).map { b =>
      if (keep(b)) b.toChar
      else { val c = (256 + n).toChar; n += 1; c }
    }.toArray
  }
  private val charToByte: Map[Char, Byte] =
    byteToChar.zipWithIndex.map { case (c, b) => c -> b.toByte }.toMap

  /** Inverse mapping: a concatenation of byte-level units back to the
    * original string (exact UTF-8 byte round-trip). Driver/spec-side
    * helper — encoding work stays in the expression. */
  def decode(units: String): String = {
    val bytes = units.toCharArray.map { c =>
      charToByte.getOrElse(c,
        sys.error(f"'$c' (U+${c.toInt}%04X) is not a byte-level unit"))
    }
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }
}

/**
 * Intersection CARDINALITY of two SORTED, duplicate-free string arrays
 * via a single linear merge — the verify kernel of the exact PPJoin
 * family ([[graft.ops.Dedup.similarityJoinExact]]), where it replaces
 * `size(array_intersect(t1, t2))`: the builtin builds a hash set PER
 * ROW (one allocation + two probe passes over boxed UTF8Strings);
 * on the 10⁵-candidate verify stage that hash-set build dominated the
 * whole query (r18 measurement: 3.2 s of a 4.4 s wall at sf0.1). The
 * merge is allocation-free and compares each element at most twice.
 *
 * CONTRACT: both inputs must be sorted ascending (UTF8String binary
 * order — exactly `sort_array`'s order) with distinct elements, as
 * `sort_array(collect_list(...))` over per-doc-distinct tokens
 * produces. Equal-run skipping keeps the count equal to
 * `size(array_intersect(a, b))` even if duplicates appear. Returns
 * null if either side is null (the builtin's null semantics).
 * Elements compare with `binaryCompare`, the same order as
 * `UTF8String.compareTo`, which in Spark 4.1 reads the environment on
 * every call and throws when `spark.testing` is set.
 */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sorted_intersect_count"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, array<string>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override protected def nullSafeEval(lv: Any, rv: Any): Any = {
    val a = lv.asInstanceOf[ArrayData]
    val b = rv.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0L
    while (i < na && j < nb) {
      val x = a.getUTF8String(i)
      val y = b.getUTF8String(j)
      val c = x.binaryCompare(y)
      if (c < 0) i += 1
      else if (c > 0) j += 1
      else {
        n += 1L
        // skip equal runs so duplicate elements count once, matching
        // array_intersect's distinct semantics
        i += 1; j += 1
        while (i < na && a.getUTF8String(i).binaryCompare(x) == 0) i += 1
        while (j < nb && b.getUTF8String(j).binaryCompare(y) == 0) j += 1
      }
    }
    n
  }

  // r19 (r18 VERDICT #5): real codegen — the expression sits inside the
  // PPJoin verify projection, the hottest loop of the similarity-join
  // family; as CodegenFallback it severed the WholeStageCodegen span
  // around it (every input row boxed through an InternalRow). The
  // generated merge is the nullSafeEval() loop verbatim.
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val c = ctx.freshName("c")
      s"""
         |final int $na = $a.numElements();
         |final int $nb = $b.numElements();
         |int $i = 0; int $j = 0; long $n = 0L;
         |while ($i < $na && $j < $nb) {
         |  org.apache.spark.unsafe.types.UTF8String $x = $a.getUTF8String($i);
         |  org.apache.spark.unsafe.types.UTF8String $y = $b.getUTF8String($j);
         |  int $c = $x.binaryCompare($y);
         |  if ($c < 0) { $i++; }
         |  else if ($c > 0) { $j++; }
         |  else {
         |    $n++; $i++; $j++;
         |    while ($i < $na && $a.getUTF8String($i).binaryCompare($x) == 0) $i++;
         |    while ($j < $nb && $b.getUTF8String($j).binaryCompare($y) == 0) $j++;
         |  }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}
