package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis primitives for LLM-training-data pipelines, built entirely
 * from codegen'd Catalyst expressions (no UDFs): tokenization, shingling,
 * MinHash signatures, 64-bit SimHash, language-ID, quality scoring, token
 * counting, and document fingerprinting.
 *
 * Hashing is md5-based on purpose: md5 produces identical lowercase hex in
 * every engine (Spark, DuckDB, Trino, …), so results are bit-reproducible
 * across the oracle and across cluster re-runs — a hard requirement when a
 * 100 TB dedup job is resumed or audited. All operations are narrow
 * (per-row, no shuffle); shuffles only appear in the pipeline joins built
 * on top (see [[Dedup]] / [[Similarity]]).
 */
object TextOps {

  /** Lowercase alnum word tokens. `regexp_extract_all` is codegen'd. */
  def tokens(text: Column): Column =
    call_function("regexp_extract_all", lower(text), lit("[a-z0-9]+"), lit(0))

  /** One-pass native tokenizer — identical output to [[tokens]]
    * (spec-checked), ~3× faster per row; see
    * [[graft.functions.Tokenize]]. */
  def tokensNative(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.Tokenize(
        org.apache.spark.sql.graft.ColumnBridge.expression(text)))

  /** Fused tokenize+n-shingle kernel — for n=3 identical output to
    * `shingles3(tokens(text))` (spec-checked); one string walk instead of
    * a regex scan plus an interpreted per-n-gram HOF. */
  def tokenShingles(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.TokenShingles(
        org.apache.spark.sql.graft.ColumnBridge.expression(text), n))

  /** Word 3-shingles; documents with <3 tokens fall back to one shingle of
    * the whole token list (so short docs still dedup). */
  def shingles3(toks: Column): Column = {
    val tri = transform(
      sequence(lit(1), size(toks) - 2),
      i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))
    when(size(toks) >= 3, tri).otherwise(array(concat_ws(" ", toks)))
  }

  /** k-element MinHash signature (array of uint32-range longs) via the
    * one-md5-per-shingle Kirsch-Mitzenmacher family — see
    * [[graft.functions.MinHashSignature]]. */
  def minhashSignature(shingles: Column, k: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.MinHashSignature(
        org.apache.spark.sql.graft.ColumnBridge.expression(shingles), k))

  /** LSH band keys: split the k-signature into `bands` bands of k/bands
    * rows each; band key = md5("bandIdx:" v,v,…). Docs sharing any band
    * key are near-dup candidates. */
  def bandKeys(sig: Column, k: Int, bands: Int): Column = {
    val rows = k / bands
    array((0 until bands).map { b =>
      val parts = (0 until rows).flatMap(r =>
        Seq(lit(","), element_at(sig, b * rows + r + 1).cast("string"))).drop(1)
      md5(concat((lit(s"$b:") +: parts): _*))
    }: _*)
  }

  /**
   * 64-bit SimHash as a 64-char '0'/'1' string (portable: no unsigned-long
   * headaches in any engine). Bit b is the sign of the vote
   * Σ_tokens (bit b of md5(token) set ? +1 : -1); bit b lives in hex digit
   * b/4 (0-based) at bit position b%4. md5 is computed once per token; the
   * per-bit work is substring + integer arithmetic only.
   */
  /** Native one-pass implementation — see [[graft.functions.SimHash64]];
    * bit-identical to [[simhash64FromHashes]] (spec-checked). */
  def simhash64(toks: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.SimHash64(
        org.apache.spark.sql.graft.ColumnBridge.expression(toks)))

  /** SimHash from a pre-materialized md5-hex array column. Callers should
    * stage the hash array as its own projection: the 64 bit-votes each
    * walk this expression, and HOFs get no codegen CSE — an attribute
    * reference is O(1), an inline md5-map is a 64× recompute. */
  def simhash64FromHashes(hashes: Column): Column = {
    val bits = transform(sequence(lit(0), lit(63)), b => {
      val pos = (b / 4).cast("int") + 1 // 1-based hex digit index
      val bitPos = b % 4
      // 2^bitPos without a dynamic shift (shiftright needs a literal)
      val pow = when(bitPos === 0, 1).when(bitPos === 1, 2).when(bitPos === 2, 4).otherwise(8)
      val vote = aggregate(
        hashes,
        lit(0),
        (acc, h) => {
          val digit = conv(h.substr(pos, lit(1)), 16, 10).cast("int")
          val bit = (digit / pow).cast("int") % 2
          acc + (bit * 2 - 1)
        })
      when(vote >= 0, lit("1")).otherwise(lit("0"))
    })
    concat_ws("", bits)
  }

  /** Stopword hit count (duplicates counted) — building block of langId. */
  def stopwordHits(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => t.isin(stopwords: _*)))

  /** One-pass text statistics struct (token count, per-language stopword
    * hits, char/punct counts) — see [[graft.functions.TextStats]]. One
    * string walk replaces regexp_extract_all + regexp_replace + four
    * interpreted stopword HOF passes. */
  def textStats(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.TextStats(
        org.apache.spark.sql.graft.ColumnBridge.expression(text)))

  val EN_STOP: Seq[String] = Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "was")
  val ES_STOP: Seq[String] = Seq("el", "la", "de", "que", "y", "en", "los", "del", "se", "las")
  val FR_STOP: Seq[String] = Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "une")
  val DE_STOP: Seq[String] = Seq("der", "die", "und", "den", "das", "von", "zu", "mit", "sich", "des")

  /** Stopword-voting language ID: argmax hit-count with fixed preference
    * order en > es > fr > de; zero hits everywhere → "und". Declarative
    * token-array form — [[langIdText]] is the one-pass kernel twin. */
  def langId(toks: Column): Column = {
    val en = stopwordHits(toks, EN_STOP)
    val es = stopwordHits(toks, ES_STOP)
    val fr = stopwordHits(toks, FR_STOP)
    val de = stopwordHits(toks, DE_STOP)
    langVote(en, es, fr, de)
  }

  /** langId straight from the text via the one-pass [[textStats]] kernel
    * (identical result to `langId(tokens(text))`, spec-checked). */
  def langIdText(text: Column): Column = {
    val st = textStats(text)
    langVote(
      st.getField("hits_en"), st.getField("hits_es"),
      st.getField("hits_fr"), st.getField("hits_de"))
  }

  private def langVote(en: Column, es: Column, fr: Column, de: Column): Column =
    when(en > 0 && en >= es && en >= fr && en >= de, lit("en"))
      .when(es > 0 && es >= fr && es >= de, lit("es"))
      .when(fr > 0 && fr >= de, lit("fr"))
      .when(de > 0, lit("de"))
      .otherwise(lit("und"))

  /** CJK script regex char classes, written with `\x{...}` escapes so
    * the IDENTICAL pattern text runs under Java regex (Spark) and RE2
    * (DuckDB oracles). BMP-only on purpose: Han = unified ideographs +
    * extension A + compatibility; Kana = hiragana + katakana; Hangul =
    * syllables + jamo + compatibility jamo. */
  val HanClass = "[\\x{3400}-\\x{4DBF}\\x{4E00}-\\x{9FFF}\\x{F900}-\\x{FAFF}]"
  val KanaClass = "[\\x{3040}-\\x{309F}\\x{30A0}-\\x{30FF}]"
  val HangulClass = "[\\x{1100}-\\x{11FF}\\x{3130}-\\x{318F}\\x{AC00}-\\x{D7AF}]"
  val CjkClass = "[\\x{1100}-\\x{11FF}\\x{3040}-\\x{309F}\\x{30A0}-\\x{30FF}" +
    "\\x{3130}-\\x{318F}\\x{3400}-\\x{4DBF}\\x{4E00}-\\x{9FFF}" +
    "\\x{AC00}-\\x{D7AF}\\x{F900}-\\x{FAFF}]"

  /** Code points of `text` inside regex char class `cls` — the
    * engine-replayable length-difference form (both length and
    * regexp_replace are codegen'd; counts are code points in Spark and
    * DuckDB alike for BMP classes). */
  def charClassCount(text: Column, cls: String): Column =
    length(text) - length(regexp_replace(text, cls, ""))

  /**
   * CJK-aware language ID — the multilingual-crawl fix for [[langId]]:
   * European-stopword voting classifies every CJK document `und` (and
   * whitespace tokenization gives it garbage token counts), which
   * poisons quality scores, budget selection and fertility reports
   * downstream. Script detection runs FIRST, on code-point ranges:
   * any kana → `ja` (Japanese text mixes Han with hiragana/katakana;
   * kana is the unambiguous marker), else any hangul → `ko`, else any
   * Han → `zh` (unified ideographs with no kana/hangul), else the
   * [[langIdText]] stopword vote (en/es/fr/de/und). Pure per-row
   * codegen'd scan-stage work — no shuffle, no state, replayed by any
   * engine with the same char classes.
   */
  def langIdCjk(text: Column): Column =
    when(charClassCount(text, KanaClass) > 0, lit("ja"))
      .when(charClassCount(text, HangulClass) > 0, lit("ko"))
      .when(charClassCount(text, HanClass) > 0, lit("zh"))
      .otherwise(langIdText(text))

  /**
   * Per-paragraph LANGUAGE SEGMENTATION — the code-switched-crawl fix
   * for doc-level [[langIdCjk]]: a multilingual page (the common
   * mixed-crawl case) collapses to ONE doc-level label, so the minority
   * language's text is mislabeled for routing/budget math. Split each
   * doc into trimmed non-empty LINES (the [[boilerplate]] discipline),
   * label each line with [[langIdCjk]], and collapse CONSECUTIVE
   * same-language lines into spans (gaps-and-islands). Output one row
   * per span: (doc_id, span_idx, lang, n_lines, n_chars, start_line)
   * — span_idx 1-based in document order, start_line the 0-based index
   * among the doc's non-empty lines.
   *
   * Scale shape: a narrow per-row line explode (text splits in the
   * scan stage), then two windows partitioned by doc_id — per-doc
   * work, one doc_id-keyed exchange; nothing global.
   */
  def langIdSpans(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = docs
      .select(col(idCol).as("doc_id"),
        posexplode(filter(transform(split(col(textCol), "\n"), l => trim(l)),
          l => l =!= "")))
      .withColumnRenamed("col", "line")
    val langed = lines.select(col("doc_id"), col("pos"), col("line"),
      langIdCjk(col("line")).as("lang"))
    val islW = Window.partitionBy(col("doc_id"), col("lang"))
      .orderBy(col("pos").asc)
    val spans = langed
      .withColumn("island", col("pos") - row_number().over(islW))
      .groupBy(col("doc_id"), col("lang"), col("island"))
      .agg(min(col("pos")).as("start_line"),
        count(lit(1)).as("n_lines"),
        sum(length(col("line"))).as("n_chars"))
    val idxW = Window.partitionBy(col("doc_id")).orderBy(col("start_line").asc)
    spans.withColumn("span_idx", row_number().over(idxW))
      .select(col("doc_id"), col("span_idx"), col("lang"),
        col("n_lines"), col("n_chars"), col("start_line"))
  }

  /**
   * CJK-aware token count: CJK scripts don't use whitespace, so
   * [[tokenCountWs]] sees a whole CJK sentence as ONE token and every
   * budget/fertility number built on it is garbage. Standard practical
   * estimate: each CJK code point counts as one token (the
   * character-as-token convention of CJK tokenizers), plus the
   * whitespace token count of the text with CJK blanked to spaces.
   * Exactly replayable: cjk_chars + tokenCountWs(regexp_replace(text,
   * CjkClass, ' ')) — all codegen'd builtins, one scan-stage map.
   */
  def tokenCountCjk(text: Column): Column =
    charClassCount(text, CjkClass) +
      tokenCountWs(regexp_replace(text, CjkClass, " "))

  /**
   * GOPHER QUALITY-RULE battery (Rae et al. 2021, Appendix A) — the
   * standard per-document filter set run BEFORE dedup on a raw crawl;
   * [[qualityScore]] ranks, these rules GATE. Per doc: word count in
   * [minWords, maxWords], mean word length in [3, 10], symbol-to-word
   * ratio ('#' chars + '...' occurrences per word) ≤ 0.1, ≤ 90% of
   * non-empty lines starting with a bullet (-, *, •), ≤ 30% ending in
   * '...', ≥ 80% of words containing an alphabetic char, and ≥ 2
   * distinct English stopwords present. Words are whitespace tokens of
   * the raw text (case preserved — mean length counts real characters);
   * each rule emits its metric AND its pass flag so the readout doubles
   * as a why-was-this-dropped audit; `keep` = all rules pass. Pure
   * per-row codegen'd string work in the scan stage — no shuffle, no
   * state, every metric 6-dp rounded and engine-replayable.
   */
  /** The five non-parameterized Gopher rule bounds (Rae et al. 2021
    * App. A) — ONE copy consumed by the frame op, the streaming
    * column op AND the DuckDB oracle fragment
    * (SparkEntry.gopherCtesSql), so a bound change cannot drift
    * between the gate and its twins (the r15 advice item: three
    * hardcoded copies, only minWords/maxWords spec-pinned). */
  val GopherMeanLenMin = 3.0
  val GopherMeanLenMax = 10.0
  val GopherSymbolMax = 0.1
  val GopherBulletMax = 0.9
  val GopherEllipsisMax = 0.3
  val GopherAlphaMin = 0.8
  val GopherStopwordsMin = 2

  def gopherQualityFlags(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minWords: Int = 20,
      maxWords: Int = 100000): org.apache.spark.sql.DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"need 1 <= minWords <= maxWords, got $minWords/$maxWords")
    val m = gopherMetricsStruct(col(textCol))
    docs.select(col(idCol).as("doc_id"), m.as("__m"))
      .select(col("doc_id"),
        col("__m.n_words").as("n_words"),
        col("__m.mean_word_len").as("mean_word_len"),
        col("__m.symbol_ratio").as("symbol_ratio"),
        col("__m.bullet_ratio").as("bullet_ratio"),
        col("__m.ellipsis_ratio").as("ellipsis_ratio"),
        col("__m.alpha_ratio").as("alpha_ratio"),
        col("__m.n_stopwords").as("n_stopwords"))
      .select(col("*"),
        (col("n_words") >= minWords && col("n_words") <= maxWords)
          .as("pass_words"),
        (col("mean_word_len") >= GopherMeanLenMin &&
          col("mean_word_len") <= GopherMeanLenMax).as("pass_mean_len"),
        (col("symbol_ratio") <= GopherSymbolMax).as("pass_symbols"),
        (col("bullet_ratio") <= GopherBulletMax).as("pass_bullets"),
        (col("ellipsis_ratio") <= GopherEllipsisMax).as("pass_ellipsis"),
        (col("alpha_ratio") >= GopherAlphaMin).as("pass_alpha"),
        (col("n_stopwords") >= GopherStopwordsMin).as("pass_stopwords"))
      .withColumn("keep",
        col("pass_words") && col("pass_mean_len") && col("pass_symbols") &&
          col("pass_bullets") && col("pass_ellipsis") && col("pass_alpha") &&
          col("pass_stopwords"))
  }

  /** The per-row Gopher metric struct shared by [[gopherQualityFlags]]
    * (frame form) and [[gopherKeep]] (column form, usable on a
    * streaming frame) — one source of truth for the rule arithmetic.
    * Fields: n_words, mean_word_len, symbol_ratio, bullet_ratio,
    * ellipsis_ratio, alpha_ratio, n_stopwords (all 6-dp-rounded where
    * fractional, identical to the r15 frame op's staged-column form). */
  private def gopherMetricsStruct(text: Column): Column = {
    val words = filter(split(text, "\\s+"), w => w =!= "")
    val lines = filter(transform(split(text, "\n"), l => trim(l)),
      l => l =!= "")
    val nWords = size(words)
    val nLines = size(lines)
    def ratio(num: Column, den: Column): Column =
      round(when(den > 0, num.cast("double") / den.cast("double"))
        .otherwise(lit(0.0)), 6)
    val meanLen = round(when(nWords > 0,
      aggregate(words, lit(0L), (a, w) => a + length(w))
        .cast("double") / nWords.cast("double")).otherwise(lit(0.0)), 6)
    val symbols = (length(text) -
      length(call_function("replace", text, lit("#"), lit("")))) +
      (length(text) -
        length(call_function("replace", text, lit("..."), lit("")))) / 3
    val bulletLines = size(filter(lines, l =>
      l.startsWith("-") || l.startsWith("*") || l.startsWith("•")))
    val ellipsisLines = size(filter(lines, l => l.endsWith("...")))
    val alphaWords = size(filter(words, w => w.rlike("[a-zA-Z]")))
    val nStop = size(array_intersect(
      array_distinct(transform(words, w => lower(w))),
      array(EN_STOP.map(lit): _*)))
    struct(nWords.as("n_words"), meanLen.as("mean_word_len"),
      ratio(symbols, nWords).as("symbol_ratio"),
      ratio(bulletLines, nLines).as("bullet_ratio"),
      ratio(ellipsisLines, nLines).as("ellipsis_ratio"),
      ratio(alphaWords, nWords).as("alpha_ratio"),
      nStop.as("n_stopwords"))
  }

  /** COLUMN form of the full Gopher gate — all seven rules pass —
    * for per-row filtering where the frame op's doc_id join is
    * unavailable (streaming micro-batches:
    * [[graft.streaming.EventStreams.crawlIngestStream]]). Same
    * arithmetic as [[gopherQualityFlags]] via the shared metric
    * struct (equality spec-pinned). */
  def gopherKeep(text: Column, minWords: Int = 20,
      maxWords: Int = 100000): Column = {
    val m = gopherMetricsStruct(text)
    m.getField("n_words") >= minWords && m.getField("n_words") <= maxWords &&
      m.getField("mean_word_len") >= GopherMeanLenMin &&
      m.getField("mean_word_len") <= GopherMeanLenMax &&
      m.getField("symbol_ratio") <= GopherSymbolMax &&
      m.getField("bullet_ratio") <= GopherBulletMax &&
      m.getField("ellipsis_ratio") <= GopherEllipsisMax &&
      m.getField("alpha_ratio") >= GopherAlphaMin &&
      m.getField("n_stopwords") >= GopherStopwordsMin
  }

  /**
   * CCNet-style BOILERPLATE-LINE removal — the crawl-cleaning step
   * exact/near dedup can't do: nav menus, cookie banners and copyright
   * footers repeat across most pages of a SITE while every page's body
   * is unique, so document-level dedup keeps them all and they flood
   * the training mix. A trimmed non-empty line is boilerplate within
   * its source when ≥ 2 docs contain it AND it appears in ≥
   * `minDocFrac` of the source's docs. Output per doc: line counts,
   * the boilerplate ratio (a quality signal in its own right) and the
   * md5 of the CLEANED text (kept lines joined by newline, original
   * order) — the identity downstream dedup/token accounting runs on.
   *
   * Scale shape: the frequency pass explodes (source, doc_id,
   * line-md5) DISTINCT — 16-byte hashes shuffle, text never moves; the
   * per-source boilerplate SET is small by construction (only lines
   * crossing the frac threshold) and joins back per source (AQE
   * broadcasts it), where a per-row HOF filters each doc's lines in
   * place — no shuffle ever carries line text. Per-source doc counts
   * are one combinable aggregate.
   */
  def boilerplate(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, sourceCol: String,
      minDocFrac: Double): org.apache.spark.sql.DataFrame =
    boilerplateKept(docs, idCol, textCol, sourceCol, minDocFrac)
      .select(col("doc_id"), col("source"),
        size(col("lines")).as("n_lines"),
        (size(col("lines")) - size(col("kept"))).as("n_boiler"),
        round(when(size(col("lines")) > 0,
          (size(col("lines")) - size(col("kept"))).cast("double") /
            size(col("lines")).cast("double")).otherwise(lit(0.0)), 6)
          .as("boiler_ratio"),
        md5(concat_ws("\n", col("kept"))).as("clean_hash"))

  /**
   * The TEXT-emitting twin of [[boilerplate]] — the variant a pipeline
   * actually consumes: per doc, the CLEANED text (kept lines joined by
   * newline, original order). md5(clean_text) == boilerplate's
   * clean_hash BY CONSTRUCTION (same shared frame; spec-pinned), so
   * downstream dedup/token accounting over the emitted text agrees
   * with the stats readout. Same scale shape: line text moves only
   * inside its own row; the hash exchange and the per-source boiler
   * set are shared with the stats form.
   */
  def boilerplateClean(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, sourceCol: String,
      minDocFrac: Double): org.apache.spark.sql.DataFrame =
    boilerplateKept(docs, idCol, textCol, sourceCol, minDocFrac)
      .select(col("doc_id"), col("source"),
        concat_ws("\n", col("kept")).as("clean_text"))

  /**
   * The TRAINABLE half of boilerplate removal: per-source boilerplate
   * line-hash sets — (source, bh: array of md5 line hashes). A trimmed
   * non-empty line is boilerplate within its source when ≥ 2 docs
   * contain it AND it covers ≥ `minDocFrac` of the source's docs.
   * Built from the existing corpus and persisted, this is the STATIC
   * side input [[graft.streaming.EventStreams.crawlIngestStream]]
   * applies to arriving pages (the CCNet operating mode: frequency
   * stats come from the corpus, new data is filtered against them).
   * Only 16-byte hashes aggregate; line text never shuffles.
   */
  def boilerplateSets(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, sourceCol: String,
      minDocFrac: Double): org.apache.spark.sql.DataFrame = {
    require(minDocFrac > 0.0 && minDocFrac <= 1.0,
      s"minDocFrac must be in (0, 1], got $minDocFrac")
    val lineHashes = docs
      .select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
        explode(transform(
          filter(transform(split(col(textCol), "\n"), l => trim(l)),
            l => l =!= ""), l => md5(l))).as("lh"))
      .distinct()
    val srcDocs = docs.groupBy(col(sourceCol).as("source"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
    boilerSet(lineHashes, srcDocs, minDocFrac)
  }

  /** The per-source boilerplate set (source, bh) of [[boilerplateSets]]
    * and [[boilerplateKept]]: from distinct (doc_id, source, lh) line
    * hashes and per-source doc counts (source, n_docs), the sorted hashes
    * that ≥ 2 docs and ≥ `minDocFrac` of the source's docs contain. */
  private def boilerSet(lineHashes: org.apache.spark.sql.DataFrame,
      srcDocs: org.apache.spark.sql.DataFrame,
      minDocFrac: Double): org.apache.spark.sql.DataFrame =
    lineHashes
      .groupBy(col("source"), col("lh"))
      .agg(countDistinct(col("doc_id")).as("n_with"))
      .join(srcDocs, "source")
      .filter(col("n_with") >= 2 &&
        col("n_with").cast("double") / col("n_docs").cast("double")
          >= minDocFrac)
      .groupBy(col("source"))
      .agg(sort_array(collect_set(col("lh"))).as("bh"))

  /**
   * The APPLY half: filter each doc's lines against a prebuilt
   * per-source boiler set ([[boilerplateSets]] output — possibly read
   * from disk, possibly built on a different corpus slice). Keeps
   * EVERY input column and appends `clean_text` (kept lines joined by
   * newline) — stateless per-row work after one left join on the
   * source column (the set side is small by construction — only
   * threshold-crossing lines — so it broadcasts), which makes it
   * legal on a STREAMING frame (stream-static join).
   */
  def boilerplateApply(docs: org.apache.spark.sql.DataFrame,
      textCol: String, sourceCol: String,
      bsets: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .join(broadcast(bsets.select(col("source").as("__bp_src"),
        col("bh").as("__bh"))),
        col(sourceCol) === col("__bp_src"), "left")
      .withColumn("__bh",
        coalesce(col("__bh"), array().cast("array<string>")))
      .withColumn("clean_text", concat_ws("\n",
        filter(
          filter(transform(split(col(textCol), "\n"), l => trim(l)),
            l => l =!= ""),
          l => !array_contains(col("__bh"), md5(l)))))
      .drop("__bp_src", "__bh")

  /** Shared frame of [[boilerplate]]/[[boilerplateClean]]: (doc_id,
    * source, lines, kept) with the per-source boilerplate line set
    * built from THIS corpus ([[boilerplateSets]]) and applied. */
  private def boilerplateKept(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, sourceCol: String,
      minDocFrac: Double): org.apache.spark.sql.DataFrame = {
    // r19 (guide §2.4 / §5 localCheckpoint): the doc→lines split is
    // consumed TWICE — by the boiler-set line-hash aggregate and by the
    // join-back that filters each doc's lines — and when `docs` is a
    // derived frame (crawlStages feeds the extract+normalize regex
    // chain in here) BOTH consumers re-ran that whole chain. Splitting
    // the lines ONCE into a lazily-materialized frame makes the
    // upstream chain run exactly once per invocation; the line hashes
    // and per-source doc counts now derive from the same materialized
    // rows (values identical by construction: same split, same md5).
    val lines = docs.select(col(idCol).as("doc_id"),
        col(sourceCol).as("source"),
        filter(transform(split(col(textCol), "\n"), l => trim(l)),
          l => l =!= "").as("lines"))
      .localCheckpoint(eager = false)
    val lineHashes = lines
      .select(col("doc_id"), col("source"),
        explode(transform(col("lines"), l => md5(l))).as("lh"))
      .distinct()
    val srcDocs = lines.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    lines
      .join(boilerSet(lineHashes, srcDocs, minDocFrac), Seq("source"), "left")
      .withColumn("bh",
        coalesce(col("bh"), array().cast("array<string>")))
      .withColumn("kept",
        filter(col("lines"), l => !array_contains(col("bh"), md5(l))))
  }

  /** The shared HTML→text extraction pipeline spec: one ordered list of
    * (pattern, replacement) steps interpreted identically by Spark's
    * Java-regex `regexp_replace` and the DuckDB RE2 oracle replay.
    * Constraints that keep the two engines bit-identical: NO
    * backreferences (RE2 has none — each container tag gets its own
    * literal pattern), inline `(?si)` flags only, and the trailing-`$`
    * anchor is only ever applied AFTER whitespace normalization so
    * Java's before-final-terminator `$` nuance can't diverge. */
  object Html {
    /** Non-content containers removed WITH their contents — the
      * main-content heuristic: chrome (nav/footer/aside) and
      * machine-payload (script/style/head) never reach the corpus. */
    val containerTags: Seq[String] =
      Seq("script", "style", "head", "nav", "footer", "aside")
    /** Block-level tags that become line breaks so downstream
      * line-oriented ops ([[boilerplate]], Gopher line rules) see the
      * page's visual structure. */
    val blockTagPattern: String =
      "(?i)</?(br|p|div|li|td|tr|h1|h2|h3|h4|h5|h6|ul|ol|table|" +
        "blockquote|section|article)\\b[^>]*>"
    /** Fixed entity set, decoded AFTER tag stripping; `&amp;` is
      * decoded LAST so `&amp;lt;` becomes the text `&lt;`, never a
      * double-decoded `<` that the stripper would then eat. */
    val entities: Seq[(String, String)] = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
  }

  /**
   * HTML→TEXT extraction — the FIRST stage of a crawl pipeline, before
   * any of [[boilerplate]]/[[gopherQualityFlags]]/[[langId]] applies:
   * strip comments and CDATA, remove script/style/head/nav/footer/
   * aside WITH their contents (the main-content heuristic), turn
   * block-level tags into line breaks, drop remaining tags, decode the
   * fixed entity set, and normalize whitespace (horizontal runs → one
   * space, trimmed lines, no blank lines, trimmed ends).
   *
   * Contracts (spec-pinned): malformed trailing tags without `>`
   * survive as text, and so do bare `<`/`>` comparison spans in prose
   * (`a < b and c > d`) — the generic stripper matches only
   * TAG-SHAPED spans (`</?letter…>` and `<!…>` declarations), not any
   * `<…>` (r17, closing the r14 ADVICE finding: the old `<[^>]+>`
   * swallowed ` b and c ` from the example above), so nothing
   * non-markup is silently swallowed; CDATA payloads are removed
   * entirely (machine payload, like script); unknown inline tags
   * (`<b>`, `<span>`) vanish without a break; entity decode happens
   * after stripping, `&amp;` last.
   *
   * Scale shape: pure per-row codegen'd string work in the scan stage —
   * no shuffle, no state; at 100 TB it parallelizes with the file
   * splits like every other row-local text kernel here.
   */
  def extractHtmlText(html: Column): Column = {
    var e = regexp_replace(html, "(?s)<!--.*?-->", "")
    e = regexp_replace(e, "(?s)<!\\[CDATA\\[.*?\\]\\]>", "")
    Html.containerTags.foreach { t =>
      e = regexp_replace(e, s"(?si)<$t\\b.*?</$t\\s*>", "")
    }
    e = regexp_replace(e, Html.blockTagPattern, "\n")
    e = regexp_replace(e, "</?[a-zA-Z][^>]*>", "")
    e = regexp_replace(e, "<![^>]*>", "")
    Html.entities.foreach { case (k, v) =>
      e = replace(e, lit(k), lit(v))
    }
    e = regexp_replace(e, "[ \\t\\r]+", " ")
    e = regexp_replace(e, " ?\\n ?", "\n")
    e = regexp_replace(e, "\\n+", "\n")
    e = regexp_replace(e, "^[ \\n]+", "")
    regexp_replace(e, "[ \\n]+$", "")
  }

  /**
   * Heuristic quality score in [0,1] from length, stopword ratio and
   * punctuation ratio. Rational arithmetic only (no exp/ln) so every
   * engine computes the identical IEEE-754 double. Inputs come from the
   * one-pass [[textStats]] kernel; the formula itself is codegen'd
   * arithmetic over the struct fields — IEEE-identical to the fully
   * declarative regexp form (spec-checked) and to the DuckDB oracle.
   */
  def qualityScore(text: Column): Column = {
    val st = textStats(text)
    val nToks = st.getField("n_toks").cast("double")
    val stopRatio = when(nToks > 0, st.getField("hits_en").cast("double") / nToks).otherwise(lit(0.0))
    // n_chars = 0 (EMPTY text) must yield NULL explicitly: an unguarded
    // 0/0 returns NULL only under legacy mode — Spark 4's default ANSI
    // dialect THROWS DIVIDE_BY_ZERO, so one empty document would kill a
    // whole corpus job. NULL quality is the documented contract (ranks
    // last; budgetSelect's -1 bucket).
    val punctRatio = when(st.getField("n_chars") > 0,
      st.getField("removed").cast("double") / st.getField("n_chars").cast("double"))
    val lenScore = least(nToks, lit(100.0)) / lit(100.0)
    round(lit(0.3) * lenScore + lit(0.4) * stopRatio + lit(0.3) * (lit(1.0) - punctRatio), 6)
  }

  /** The pre-kernel declarative quality score (regexp + HOF form) — kept
    * as the parity reference for [[qualityScore]]'s spec. */
  def qualityScoreDeclarative(text: Column): Column = {
    val toks = tokens(text)
    val nToks = size(toks).cast("double")
    val stopRatio = when(nToks > 0, stopwordHits(toks, EN_STOP).cast("double") / nToks).otherwise(lit(0.0))
    val cleaned = regexp_replace(lower(text), "[^a-z0-9\\s]", "")
    // same ANSI-safe empty-text guard as the kernel form (spec parity)
    val punctRatio = when(length(text) > 0,
      (length(text) - length(cleaned)).cast("double") / length(text).cast("double"))
    val lenScore = least(nToks, lit(100.0)) / lit(100.0)
    round(lit(0.3) * lenScore + lit(0.4) * stopRatio + lit(0.3) * (lit(1.0) - punctRatio), 6)
  }

  /**
   * Corpus-unigram log-probability per document — the perplexity-style
   * quality signal: mean over tokens of ln(count(token)/total_tokens),
   * computed against the corpus's own unigram LM. Two combinable
   * aggregations. No broadcast hint: the vocabulary grows with the corpus
   * (unbounded at 100 TB) — AQE picks broadcast at runtime when the
   * vocab IS small. Low (very negative) scores = rare-token gibberish;
   * the standard cut for LM-based quality filtering.
   *
   * Each token's log-prob is rounded to integer micro-units BEFORE the
   * per-doc sum, so the sum is an exact long — order-free and identical
   * under any partitioning (an unordered double sum near a 6-dp rounding
   * boundary could flip vs the oracle; same rule as q_tpch_q1's
   * integer-cents money sums).
   *
   * The corpus token total rides as a 1-row aggregate through
   * `crossJoin(broadcast(…))` (the [[bm25]] pattern) — NOT a driver-side
   * `count()`: the r16 form forced a full tokenize pass at PLAN
   * construction whose result was recomputed anyway for the join — an
   * extra corpus scan plus a driver sync per call at 100 TB. Nothing
   * here executes until the returned frame is consumed (spec-pinned
   * with a job-counting listener).
   */
  def unigramLogProb(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val totalRow = toks.agg(count(lit(1)).cast("double").as("__total"))
    toks
      .join(vocab, "token")
      .crossJoin(broadcast(totalRow))
      .groupBy(col("doc_id"))
      .agg(round(
        sum(round(log(col("cnt") / col("__total")) * 1000000).cast("long")) / 1000000.0
          / count(lit(1)), 6).as("logprob"))
  }

  /**
   * FEATURE-HASHING vectorizer (the hashing trick, Weinberger et al.
   * 2009): sparse bag-of-words features with FIXED dimensionality and
   * ZERO vocabulary state — bucket = md5(token) mod `numBuckets`, one
   * row per (doc, bucket) with the collision-summed count. This is
   * the 100 TB training-prep shape for a linear baseline: no vocab
   * build pass, no dictionary broadcast, dimensionality chosen up
   * front; collisions are the documented trade and the md5 keying
   * makes them REPRODUCIBLE (the oracle replays every token's exact
   * bucket). One explode + one (doc, bucket) partial-aggregable count
   * — nothing keyed on the vocabulary size anywhere.
   */
  def hashingVectorize(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, numBuckets: Int): org.apache.spark.sql.DataFrame = {
    require(numBuckets >= 2, s"numBuckets must be >= 2, got $numBuckets")
    docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .select(col("doc_id"),
        (conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long")
          % numBuckets).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /**
   * Hashed-feature LINEAR classifier SERVING (r18) — the
   * fastText-style quality-classifier deployment shape (the
   * FineWeb-Edu recipe: train a small classifier offline, score the
   * WHOLE corpus with it at ingest): score(doc) =
   * σ(bias + Σ_tokens w[md5-bucket(token) mod D]) with the trained
   * model arriving as a (bucket, w) FRAME — no vocabulary state, the
   * [[hashingVectorize]] bucket rule, collisions reproducible. Each
   * token's weight is micro-rounded to an integer BEFORE the per-doc
   * sum (order-free under any partitioning — the q_tpch_q1
   * discipline); the logit is exact, only the final sigmoid rounds.
   *
   * Scale shape: one narrow explode, a broadcast-by-AQE join against
   * the D-row model, one map-side-combinable (doc) sum, and a join
   * back for token-less docs (score = σ(bias)). Nothing is keyed on
   * vocabulary size; the corpus text never shuffles. Output:
   * (doc_id, n_tokens, logit_micro, score).
   */
  def scoreLinear(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, weights: org.apache.spark.sql.DataFrame,
      numBuckets: Int, bias: Double): org.apache.spark.sql.DataFrame = {
    require(numBuckets >= 2, s"numBuckets must be >= 2, got $numBuckets")
    val wm = weights.select(col("bucket"),
      round(col("w") * 1000000).cast("long").as("__wm"))
    val sums = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .select(col("doc_id"),
        (conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long")
          % numBuckets).as("bucket"))
      .join(wm, Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__wm"), lit(0L))).as("__lm"))
    docs.select(col(idCol).as("doc_id")).join(sums, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("__lm"), lit(0L)) +
          math.round(bias * 1000000)).as("logit_micro"))
      .withColumn("score", round(lit(1.0) /
        (lit(1.0) + exp(-col("logit_micro").cast("double") / 1e6)), 6))
  }

  /**
   * FILL-IN-MIDDLE transform (r18; Bavarian et al. 2022, the code-LLM
   * data op): deterministically rewrite a fraction `fimRate` of
   * documents from `prefix middle suffix` to
   * `<PRE> prefix <SUF> suffix <MID> middle` so the model learns
   * infilling while the token content stays identical. The transform
   * decision AND both split points derive from md5(doc_id) — any
   * engine replays the exact same rewrite, and a re-run of the
   * pipeline reproduces the corpus byte-for-byte (no RNG state).
   * Split points are CHARACTER offsets (both engines' length/substr
   * are code-point-based); degenerate docs (< 3 chars) pass through
   * untransformed by contract. Pure per-row scan-stage string work.
   * Output: (doc_id, fim_applied, text).
   */
  def fimTransform(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, fimRate: Double,
      preTok: String = "<PRE>", sufTok: String = "<SUF>",
      midTok: String = "<MID>"): org.apache.spark.sql.DataFrame = {
    require(fimRate >= 0.0 && fimRate <= 1.0,
      s"fimRate must be in [0,1], got $fimRate")
    val n = length(col("__t"))
    // three independent uint32 draws from one md5(doc_id): apply?,
    // cut1, cut2 (hex slices 1-8 / 9-16 / 17-24)
    def draw(off: Int): Column =
      conv(substring(md5(col("doc_id").cast("string")), off, 8), 16, 10)
        .cast("long")
    val applies = (draw(1) % 1000000L).cast("double") / 1e6 < fimRate
    // two cuts in [1, n-1], ordered; equal cuts give an empty middle —
    // still a valid FIM example (the paper keeps them). The modulus is
    // guarded for degenerate docs (n < 3 never transforms, but under
    // ANSI the dead branch's % 0 would still throw eagerly)
    val m = when(n >= lit(3), (n - 1).cast("long")).otherwise(lit(2L))
    val c1 = (draw(9) % m + 1L).cast("int")
    val c2 = (draw(17) % m + 1L).cast("int")
    val lo = least(c1, c2)
    val hi = greatest(c1, c2)
    val fim = concat(lit(preTok), expr("substring(__t, 1, __lo)"),
      lit(sufTok), expr("substring(__t, __hi + 1)"),
      lit(midTok), expr("substring(__t, __lo + 1, __hi - __lo)"))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .withColumn("__apply", applies && n >= 3)
      .withColumn("__lo", lo).withColumn("__hi", hi)
      .select(col("doc_id"), col("__apply").as("fim_applied"),
        when(col("__apply"), fim).otherwise(col("__t")).as("text"))
  }

  /**
   * TF-IDF top terms per document: explode tokens, tf = in-doc count,
   * idf = ln(N / df) from a document-frequency table, keep the `topN`
   * highest-scoring terms per doc. Two aggregations (both map-side
   * combinable) + one join; the corpus is read once. No broadcast hint —
   * the df table is vocabulary-sized (unbounded at 100 TB); AQE picks
   * broadcast at runtime when it IS small. N rides as a 1-row
   * count-distinct aggregate through `crossJoin(broadcast(…))` (the
   * [[bm25]] pattern) — the r16 driver-side `distinct().count()` was an
   * extra corpus scan plus a driver sync at plan-construction time;
   * nothing here executes until the frame is consumed (spec-pinned).
   */
  def tfIdfTopTerms(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      topN: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(
      col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val nDocsRow = docs.agg(
      count_distinct(col(idCol)).cast("double").as("__ndocs"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(df, "token")
      .crossJoin(broadcast(nDocsRow))
      .withColumn("tfidf", round(col("tf") * log(col("__ndocs") / col("df")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= topN)
      .select(col("doc_id"), col("rn"), col("token"), col("tfidf"))
  }

  /**
   * Deterministic stratified sampling: keep `n` rows per stratum, chosen
   * by md5(id) order — a reproducible "random" draw any engine can
   * replay (the data-mixing step of a training-data pipeline; at 100 TB
   * this is one window shuffle keyed by the stratum, and rank-limit
   * pushdown keeps only n rows per partition pre-shuffle).
   */
  def stratifiedSample(
      df: org.apache.spark.sql.DataFrame, stratumCol: String, idCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n).drop("__rn")
  }

  /**
   * Deterministic WEIGHTED stratified sampling (Efraimidis–Spirakis):
   * each row draws u = md5-uniform in (0,1) from its id and gets key
   * ln(u)/w — keeping the n LARGEST keys per stratum samples without
   * replacement with probability proportional to weight w, reproducibly
   * in any engine (the data-mixing step when sources have mixture
   * weights). Keys are rounded to 6 dp with an id tie-break so the
   * draw is engine-exact. One window shuffle keyed by the stratum;
   * rank-limit pushdown (WindowGroupLimit) keeps n rows per partition
   * pre-shuffle.
   */
  def weightedSample(
      df: org.apache.spark.sql.DataFrame, stratumCol: String, idCol: String,
      weight: Column, n: Int): org.apache.spark.sql.DataFrame = {
    // u = (first-8-hex-of-md5 + 0.5) / 2^32  ∈ (0,1), exact in a double
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10).cast("double")
      + lit(0.5)) / lit(4294967296.0)
    // guard only w <= 0 (probability-0 rows: key -> -inf, never drawn);
    // clamping the whole (0,1) range would silently turn fractional
    // mixture weights into an unweighted draw
    val key = round(log(u) / greatest(weight.cast("double"), lit(1e-300)), 6)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(key.desc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n).drop("__rn")
  }

  /**
   * Deterministic train/val/test split assignment: bucket =
   * (first-8-hex-of-md5(id) as uint32) mod 100; [0,80) → train,
   * [80,90) → val, rest → test. Pure integer arithmetic on a portable
   * hash — any engine (and any re-run of a 100 TB job) assigns every
   * document identically, and the assignment is stable under corpus
   * growth (a doc's split never depends on other rows). Narrow, no
   * shuffle.
   */
  def splitAssign(id: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val bucket = conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long") % 100
    when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /**
   * Temperature-scaled mixture sampling (the data-mixing step that
   * up-weights small sources): source s gets weight ∝ n_s^(1/T) with
   * T = 2 here (α = 0.5, the common LLM-pretraining choice), the doc
   * budget splits as target_s = ⌊budget·w_s⌋, and each source's draw is
   * the md5-ranked prefix — fully deterministic and engine-replayable.
   *
   * Exactness: n^α is irrational, so each source's raw weight is rounded
   * to INTEGER micro-units first; the normalization and the floor are
   * then pure integer arithmetic (⌊budget·w_micro / Σw_micro⌋) — no
   * float sum ever crosses rows, so any partitioning (and any engine)
   * computes identical targets.
   *
   * Scale shape: the weight frame is one row per source (a map-side
   * combinable count), the md5 rank is one window shuffle keyed by
   * source with WindowGroupLimit pre-cutting each partition, and the
   * targets join back on the bounded source key. Returns one row per
   * source: (source, n_docs, weight, target_n, sampled_n).
   */
  def temperatureMix(df: org.apache.spark.sql.DataFrame, sourceCol: String,
      idCol: String, budget: Long, alpha: Double = 0.5): org.apache.spark.sql.DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val counts = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w_micro", round(pow(col("n_docs").cast("double"), lit(alpha)) * 1e6)
        .cast("long"))
    // #sources is bounded → the unpartitioned total is a 1-row broadcast
    val total = counts.agg(sum(col("w_micro")).as("w_total"))
    val targets = counts.crossJoin(broadcast(total))
      .select(col(sourceCol), col("n_docs"),
        round(col("w_micro").cast("double") / col("w_total").cast("double"), 6).as("weight"),
        // decimal(38,0) product: w_micro ≈ n^α·1e6 (~1e11 at n=1e10), so
        // w_micro·budget can exceed Long range at corpus scale — a Long
        // multiply would wrap silently while the DuckDB oracle promotes
        // to HUGEINT. IntegralDivide on decimals still returns LONG, so
        // the output schema is unchanged.
        expr(s"(cast(w_micro as decimal(38,0)) * ${budget}L) div w_total")
          .as("target_n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    val sampled = df.select(col(sourceCol), col(idCol))
      .withColumn("__rn", row_number().over(w))
      // targets is one row per source (provably bounded) — broadcast it,
      // or the planner may broadcast the ranked CORPUS side instead
      .join(broadcast(targets.select(col(sourceCol), col("target_n"))), Seq(sourceCol))
      .filter(col("__rn") <= col("target_n"))
      .groupBy(col(sourceCol)).agg(count(lit(1)).as("sampled_n"))
    targets.join(sampled, Seq(sourceCol), "left_outer")
      .select(col(sourceCol), col("n_docs"), col("weight"), col("target_n"),
        coalesce(col("sampled_n"), lit(0L)).as("sampled_n"))
  }

  /**
   * EPOCH ALLOCATION under a token budget (r18) — the data-constrained
   * mixing question (Muennighoff et al. 2023): small sources may be
   * REPEATED up to `maxRepeat` epochs, large ones take the leftover.
   * Water-filling with temperature weights w_i = round(n_i^α·10⁶):
   * find the level t where Σ_i min(t·w_i, maxRepeat·n_i) = budget —
   * sources below the level cap at maxRepeat epochs, the rest share
   * the remaining budget ∝ w_i. Closed-form and EXACT: sorted by the
   * cap/weight ratio (monotone in n_i, integer tie-break on source),
   * the capped set is a prefix, each row's membership test
   * cap_j·W_{>j} ≤ (B − C_j)·w_j cross-multiplies in decimal(38,0)
   * (never a float boundary, never a long overflow), and uncapped
   * allocations are integral floors w_i·(B − C_k) div W_{>k}. The
   * Σfloor remainder (< #sources tokens) stays unallocated by
   * contract. Output per source: (source, n_tokens, alloc_tokens,
   * epochs 6-dp, capped). One count aggregate + #sources-row window
   * work — nothing scales with the corpus.
   */
  def epochMix(perSource: org.apache.spark.sql.DataFrame, srcCol: String,
      tokensCol: String, budget: Long, maxRepeat: Int,
      alpha: Double = 0.5): org.apache.spark.sql.DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    epochMixImpl(perSource, srcCol, tokensCol, maxRepeat, alpha,
      bRow => bRow.withColumn("__b", lit(budget)))
  }

  /** [[epochMix]] with the budget as a FRACTION of the corpus's total
    * token mass — the SF-independent front door (the budget row is a
    * 1-row broadcast computed in-plan; nothing runs at construction
    * time, the laziness contract). */
  def epochMixFrac(perSource: org.apache.spark.sql.DataFrame, srcCol: String,
      tokensCol: String, budgetFrac: Double, maxRepeat: Int,
      alpha: Double = 0.5): org.apache.spark.sql.DataFrame = {
    require(budgetFrac >= 0.0, s"budgetFrac must be >= 0, got $budgetFrac")
    epochMixImpl(perSource, srcCol, tokensCol, maxRepeat, alpha,
      base => base.crossJoin(broadcast(
        base.agg(floor(sum(col("n_tokens")) * budgetFrac).cast("long")
          .as("__b")))))
  }

  private def epochMixImpl(perSource: org.apache.spark.sql.DataFrame,
      srcCol: String, tokensCol: String, maxRepeat: Int, alpha: Double,
      withBudget: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    require(maxRepeat >= 1, s"maxRepeat must be >= 1, got $maxRepeat")
    import org.apache.spark.sql.expressions.Window
    val base = withBudget(perSource.select(col(srcCol).as("source"),
        col(tokensCol).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0))
      .withColumn("w",
        round(pow(col("n_tokens").cast("double"), lit(alpha)) * 1e6)
          .cast("long"))
      .withColumn("cap", col("n_tokens") * maxRepeat)
    // sorted by cap/w = maxRepeat·n^(1−α): ascending n (α < 1) — the
    // capped set is a prefix of this order
    val ord = Window.orderBy(col("n_tokens").asc, col("source").asc)
    val pre = base
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__c", sum(col("cap")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__wafter", coalesce(sum(col("w")).over(
        ord.rowsBetween(1, Window.unboundedFollowing)), lit(0L)))
      .withColumn("__capped_self", expr(
        "cast(cap as decimal(38,0)) * __wafter <= " +
          "cast(__b - __c as decimal(38,0)) * w"))
    val kRow = pre.agg(max(when(col("__capped_self"), col("__rn"))
        .otherwise(lit(0))).as("__k"))
    val capSumRow = pre.crossJoin(broadcast(kRow))
      .agg(max(col("__k")).as("__k"),
        sum(when(col("__rn") <= col("__k"), col("cap")).otherwise(0L))
          .as("__csum"),
        sum(when(col("__rn") > col("__k"), col("w")).otherwise(0L))
          .as("__wsum"))
    pre.crossJoin(broadcast(capSumRow))
      .withColumn("capped", col("__rn") <= col("__k"))
      .withColumn("alloc_tokens",
        when(col("capped"), col("cap")).otherwise(
          expr("(cast(w as decimal(38,0)) * (__b - __csum)) div __wsum")))
      .select(col("source"), col("n_tokens"),
        col("alloc_tokens").cast("long").as("alloc_tokens"),
        round(col("alloc_tokens").cast("double") /
          col("n_tokens").cast("double"), 6).as("epochs"),
        col("capped"))
  }

  /**
   * Pairwise vocabulary-overlap matrix across corpus strata (the
   * vocabulary-level sibling of [[graft.ops.Dedup.dupMatrix]]): for every
   * (stratum, stratum) pair, both vocabulary sizes, the common-token
   * count, and exact Jaccard. One distinct (stratum, token-hash) frame
   * staged behind a hash-keyed exchange feeds the per-stratum sizes AND
   * both self-join sides; each hash joins at most |strata| rows to
   * |strata| rows, so the join output is bounded by vocab · strata² —
   * never a token cross product. Only 16-byte hashes shuffle.
   */
  def vocabOverlapMatrix(df: org.apache.spark.sql.DataFrame, stratumCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val st = df
      .select(col(stratumCol).as("src"), explode(tokensNative(col(textCol))).as("tok"))
      .select(col("src"), md5(col("tok")).as("h"))
      // repartition BEFORE the distinct: HashPartitioning(h) satisfies
      // the (src, h) clustering, so the dedup is partition-local on the
      // same exchange the sizes agg and both self-join sides reuse
      // (same fix as ngramNovelty — the old order shuffled twice)
      .repartition(col("h"))
      .distinct()
    val sizes = st.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val inter = st.as("a")
      .join(st.as("b"), col("a.h") === col("b.h") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("source_a"), col("b.src").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("src").as("source_a"), col("n").as("n_a"))), "source_a")
      .join(broadcast(sizes.select(col("src").as("source_b"), col("n").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6).as("jaccard"))
  }

  /**
   * Pointwise mutual information between two categorical corpus columns
   * (lang × source here): pmi = ln(c·N / (c_row · c_col)) per cell — the
   * standard does-this-feed-skew-languages diagnostic. The joint-count
   * aggregation is the ONLY pass over the corpus; marginals and N come
   * from windows over the bounded |rows|·|cols| cell frame. Per-cell
   * arithmetic is fixed-order IEEE over integral counts → identical in
   * every engine.
   */
  def pmiTable(df: org.apache.spark.sql.DataFrame, rowCol: String,
      colCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joint = df.groupBy(col(rowCol), col(colCol)).agg(count(lit(1)).as("c"))
    val all = Window.partitionBy()
    val byRow = Window.partitionBy(col(rowCol))
    val byCol = Window.partitionBy(col(colCol))
    // the global window is safe here for the same reason as the quantile
    // sketch: the cell frame is bounded by |rows|·|cols|, not by data size
    joint
      .withColumn("n", sum(col("c")).over(all))
      .withColumn("c_row", sum(col("c")).over(byRow))
      .withColumn("c_col", sum(col("c")).over(byCol))
      .select(col(rowCol), col(colCol), col("c"),
        round(log(col("c").cast("double") * col("n").cast("double") /
          (col("c_row").cast("double") * col("c_col").cast("double"))), 6).as("pmi"))
  }

  /**
   * BPE first-round merge-candidate scoring: adjacent character-pair
   * frequencies over the corpus vocabulary, weighted by word frequency —
   * exactly the statistic byte-pair-encoding training maximizes at each
   * merge step. Top `k` pairs with a deterministic (count desc, pair asc)
   * tie-break.
   *
   * Scale shape: the corpus first collapses to its (word, freq)
   * vocabulary (one combinable count — the pair explode then runs over
   * |vocab| rows, not |corpus| tokens), pair counts are a second
   * combinable aggregation, and the top-k is a TakeOrderedAndProject.
   * Full BPE iterates this with re-tokenization; one scoring round is
   * the per-iteration primitive (and the first round needs no merges
   * applied).
   */
  def bpeMergeCandidates(df: org.apache.spark.sql.DataFrame, textCol: String,
      k: Int = 20): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val vocab = df
      .select(explode(tokensNative(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      // sequence(1, len-1) would run DESCENDING for 1-char words — guard
      .filter(length(col("w")) >= 2)
    vocab
      .select(explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"), col("f"))
      .groupBy(col("pair")).agg(sum(col("f")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)
  }

  /**
   * FULL BPE TRAINING — the missing third of the tokenizer story
   * (train → [[bpeEncode]] → fertility/budget audits), iterating
   * [[bpeMergeCandidates]]' per-round statistic to an actual merges
   * table: per round, re-encode the vocabulary under the merges so
   * far, count adjacent SYMBOL pairs weighted by word frequency, and
   * adopt the most frequent pair (ties → lexicographic (x, y) — the
   * deterministic pin both engines replay). Stops early when no word
   * has two symbols left. Returns (merge_rank, x, y, cnt) — feed
   * `.collect().map(r => (r.getString(1), r.getString(2)))` to
   * [[bpeEncode]]. Tables produced here are WELL-FORMED by
   * construction (every pair's parts are current symbols = chars or
   * earlier outputs), which is exactly what makes the oracle's
   * ascending-rank replay equal the kernel's min-rank greedy.
   *
   * Scale shape: the corpus collapses ONCE to its (word, freq)
   * vocabulary (the only corpus-wide pass — classic BPE trains on the
   * dict, not the text) and that frame is localCheckpoint'd; each of
   * the `nMerges` rounds is then one combinable aggregation over
   * |vocab| rows plus a 1-row TakeOrdered collect. The training loop
   * is inherently sequential (round r needs round r−1's pick), so
   * this op RUNS nMerges+1 small jobs when called — the
   * [[sphericalKmeans]] iterative-training contract, not a lazy
   * pipeline stage. Unlike dict-collecting trainers, the vocabulary
   * itself never ships to the driver — only one (x, y, cnt) row per
   * round does.
   */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
      nMerges: Int): org.apache.spark.sql.DataFrame =
    bpeTrainFromWords(docs.select(
      explode(tokensNative(col(textCol))).as("w")), nMerges)

  /**
   * BYTE-LEVEL BPE training (GPT-2 family) — [[bpeTrain]] with the
   * production pre-processing in front: [[preTokenize]] splits the raw
   * text with the GPT-2-style regex (contractions, space-prefixed
   * letter/digit/punct runs, whitespace runs), [[byteLevelUnits]] maps
   * each pre-token's UTF-8 bytes onto the 256-char base alphabet, and
   * the merge loop then trains over those unit strings. This is what
   * makes the trained table comparable to a real tokenizer's: no
   * <unk>, non-ASCII text decomposes into byte units instead of
   * diverging at whitespace, and merges never cross a pre-token
   * boundary (the regex is the boundary, exactly as in production).
   * Same scale shape as [[bpeTrain]] (one corpus pass to the
   * (unit-word, freq) dict, then |vocab|-row rounds).
   */
  def bpeTrainByteLevel(docs: org.apache.spark.sql.DataFrame,
      textCol: String, nMerges: Int): org.apache.spark.sql.DataFrame =
    bpeTrainFromWords(docs.select(
      explode(byteLevelUnits(preTokenize(col(textCol)))).as("w")), nMerges)

  /** Shared merge-training loop over an exploded one-column ("w")
    * word/pre-token-unit frame — the body of [[bpeTrain]] (whitespace
    * words) and [[bpeTrainByteLevel]] (byte-level units). */
  private def bpeTrainFromWords(words: org.apache.spark.sql.DataFrame,
      nMerges: Int): org.apache.spark.sql.DataFrame = {
    require(nMerges >= 1 && nMerges <= 65536,
      s"nMerges must be in [1, 65536], got $nMerges")
    val spark = words.sparkSession
    import spark.implicits._
    val vocab = words
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .localCheckpoint()
    var merges = Vector.empty[(String, String, Long)]
    var done = false
    while (merges.size < nMerges && !done) {
      val syms =
        if (merges.isEmpty)
          expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))")
        else bpeEncode(array(col("w")), merges.map(m => (m._1, m._2)))
      val best = vocab
        .select(syms.as("syms"), col("f"))
        .filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> " +
            "struct(element_at(syms, i) AS x, element_at(syms, i + 1) AS y))"))
          .as("p"), col("f"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("x").asc, col("y").asc)
        .limit(1).collect()
      if (best.isEmpty) done = true
      else merges :+= ((best(0).getString(0), best(0).getString(1),
        best(0).getLong(2)))
    }
    merges.zipWithIndex
      .map { case ((x, y, c), i) => (i + 1, x, y, c) }
      .toDF("merge_rank", "x", "y", "cnt")
  }

  /**
   * Gopher-style repetition metrics — the standard "degenerate document"
   * quality filters: the fraction of duplicated tokens / 2-grams /
   * 3-grams in a document. A high duplicate fraction flags boilerplate,
   * keyword stuffing and model-generated loops. Pure rational arithmetic
   * over integral set sizes (exact in every engine); narrow, no shuffle.
   * Returns (dup_tok_frac, dup_2gram_frac, dup_3gram_frac) columns to
   * append, each rounded to 6 dp.
   */
  def repetitionMetrics(text: Column): Seq[Column] = {
    def dupFrac(arr: Column): Column = {
      val n = size(arr).cast("double")
      when(n > 0,
        round((n - size(array_distinct(arr)).cast("double")) / n, 6))
        .otherwise(lit(0.0))
    }
    Seq(
      dupFrac(tokensNative(text)).as("dup_tok_frac"),
      dupFrac(tokenShingles(text, 2)).as("dup_2gram_frac"),
      dupFrac(tokenShingles(text, 3)).as("dup_3gram_frac"))
  }

  /**
   * Per-document token-distribution Shannon entropy (nats):
   * −Σ_t (c_t/n)·ln(c_t/n) over the document's token counts — low entropy
   * = repetitive/degenerate text, the complement of [[repetitionMetrics]].
   * Each term is rounded to integer micro-units BEFORE the per-doc sum
   * (exact long sum → order-free under any partitioning; same rule as
   * q_tpch_q1 / unigramLogProb). Two aggregations, both keyed on doc_id:
   * the (doc, token) count and the per-doc fold reuse one exchange.
   */
  def tokenEntropy(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
    val withN = tf.withColumn("n",
      sum(col("c")).over(Window.partitionBy(col("doc_id"))))
    val p = col("c").cast("double") / col("n").cast("double")
    withN
      .withColumn("term", round(p * log(p) * 1000000).cast("long"))
      .groupBy(col("doc_id"))
      .agg(round(-sum(col("term")) / 1000000.0, 6).as("entropy"))
  }

  /** The shared Unicode-normalization step list (pattern →
    * replacement), interpreted identically by Java regex and RE2:
    * line-ending fold, zero-width/soft-hyphen strip, Unicode-space
    * fold, typographic quote/dash/ellipsis fold, control-char strip
    * (tab and newline survive). Order matters and is part of the
    * contract: \r\n folds FIRST (so the control strip can't orphan a
    * \n), the ellipsis expands before nothing else cares. */
  val UnicodeNormSteps: Seq[(String, String)] = Seq(
    "\\r\\n?" -> "\n",
    "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}\\x{00AD}]" -> "",
    "[\\x{00A0}\\x{2000}-\\x{200A}\\x{202F}\\x{205F}\\x{3000}]" -> " ",
    "[\\x{2018}\\x{2019}\\x{201A}]" -> "'",
    "[\\x{201C}\\x{201D}\\x{201E}]" -> "\"",
    "[\\x{2013}\\x{2014}]" -> "-",
    "\\x{2026}" -> "...",
    "[\\x{0000}-\\x{0008}\\x{000B}-\\x{001F}\\x{007F}]" -> "")

  /**
   * Unicode text normalization — the C4/CCNet-style cleanup that runs
   * BEFORE any hashing or tokenization: folds line endings, strips
   * zero-width characters and soft hyphens (invisible bytes that make
   * visually identical texts hash differently — an exact-dedup
   * poisoner), folds the Unicode space zoo to ASCII space, folds
   * typographic quotes/dashes/ellipsis to their ASCII forms, and
   * strips remaining control characters (tab and newline survive).
   * Pure per-row codegen'd regex chain in the scan stage — no shuffle;
   * the step list ([[UnicodeNormSteps]]) is shared verbatim with the
   * DuckDB oracle replay.
   */
  def normalizeUnicode(text: Column): Column =
    UnicodeNormSteps.foldLeft(text) { case (e, (pat, repl)) =>
      regexp_replace(e, pat, repl)
    }

  /** Mojibake detector pattern: the classic UTF-8-read-as-Latin1/cp1252
    * artifacts — 'Ã' followed by a Latin-1 tail byte (Ã© Ã¨ Ã¼ …),
    * the 'â€¦'-family punctuation wrecks, and 'Â' before NBSP.
    * Shared verbatim with the oracle. */
  val MojibakePattern: String =
    "(Ã[\\x{0080}-\\x{00FF}]|â€|Â\\x{00A0})"

  /**
   * Mojibake score — how many UTF-8-decoded-as-Latin1 artifacts a
   * document carries (the ftfy class of crawl damage: 'Ã©' for 'é',
   * 'â€™' for a right quote). A nonzero count flags a document whose
   * BYTES need re-decoding, which no amount of downstream
   * normalization fixes — the right pipeline response is re-decode or
   * drop, so this is a filter signal, not a fixer. Codegen'd
   * regexp_count, no shuffle.
   */
  def mojibakeScore(text: Column): Column =
    regexp_count(text, lit(MojibakePattern))

  /**
   * CONTENT-DEFINED CHUNKING (Rabin-style) + cross-document
   * shared-chunk detection — the shifted-content dedup primitive:
   * insert one sentence at the top of a copied page and every
   * fixed-stride chunk shifts (chunkStride finds nothing), but
   * content-defined boundaries re-synchronize right after the edit,
   * so the copied tail still dedups. A position i of the
   * whitespace-normalized text is a boundary when the hash of the
   * `window` chars ending at i satisfies hash % 2^maskBits == 0 —
   * mean chunk length ≈ 2^maskBits chars, geometric tails (the
   * min/max clamping of FastCDC is a caller-side refinement; pure
   * mask-hit boundaries keep the op stateless and engine-exact).
   *
   * Output per doc: n_chunks (instances), n_distinct (distinct chunk
   * hashes), n_shared (distinct hashes appearing in ≥ 2 docs),
   * shared_frac. Scale shape: boundary detection is per-row scan-stage
   * work (O(len) md5s through the same hex arithmetic the oracle
   * replays — at real scale swap in a doGenCode rolling-hash kernel,
   * the [[graft.functions.Fingerprint]] family's path); chunk TEXT
   * never shuffles — only (doc_id, 16-byte chunk-md5) pairs exchange
   * for the doc-count pass and join back (the [[boilerplate]] shape).
   */
  def cdcChunks(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, window: Int = 16,
      maskBits: Int = 6): org.apache.spark.sql.DataFrame = {
    require(window >= 2 && window <= 256, s"window must be in [2,256], got $window")
    require(maskBits >= 1 && maskBits <= 20,
      s"maskBits must be in [1,20], got $maskBits")
    // r19 (guide §2.5 + §2.4): the O(len)-md5 boundary kernel ran
    // SERIALLY in the one-row-group scan task, and TWICE — the chunk
    // frame feeds both the shared-hash pipeline and the per-doc stats
    // (per-job trace: two 0.7 s single-task jobs). Fan the normalized text
    // out first (identity on real scans), and materialize the bounded
    // (doc_id, hashes) frame once per invocation (lazy checkpoint).
    val base = graft.ops.Scale.fanOutSmallScan(
      docs.select(col(idCol).as("doc_id"),
        regexp_replace(trim(lower(col(textCol))), "\\s+", " ").as("nrm")),
      col("doc_id"))
    // boundary + chunk hashing through the one-pass kernel (the
    // interpreted md5-per-position HOF chain it replaced measured 74 s
    // for one sf0.01 gate pass; kernel ≈ 1 s — spec-pinned identical)
    val withChunks = base.select(col("doc_id"),
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.CdcChunkHashes(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("nrm")),
          window, maskBits)).as("chs"))
      .localCheckpoint(false)
    val pairs = withChunks
      .select(col("doc_id"), explode(col("chs")).as("ch")).distinct()
    val docCounts = pairs.groupBy(col("ch")).agg(count(lit(1)).as("nd"))
    val shared = pairs.join(docCounts, "ch").filter(col("nd") >= 2)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    withChunks
      .select(col("doc_id"), size(col("chs")).as("n_chunks"),
        size(array_distinct(col("chs"))).as("n_distinct"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"), col("n_distinct"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(when(col("n_distinct") > 0,
          coalesce(col("n_shared"), lit(0L)).cast("double") /
            col("n_distinct").cast("double")), 6).as("shared_frac"))
  }

  /**
   * Real-vocabulary BPE encoding of a token array: every word is
   * character-split and the ordered `merges` table is applied until no
   * listed pair remains; returns the flattened BPE token array across
   * words. The merges ship inside the expression (task-serialized,
   * like a broadcast literal) — collect a trained table with
   * `.collect()` first; cost per cache-miss word is
   * O(applied-merges · word-length) hash probes — probe COUNT
   * independent of the table size (measured at 50k rules:
   * [[graft.tools.BpeVocabProbe]]; the only table-size effect is rank-
   * map cache residency, ~2× from 4.7k→50k rules at identical
   * output) — with a per-task word→encoding cache riding the
   * Zipfian word distribution. Exact merge semantics (incl. the
   * engine-replayable two-pass-per-rank contract) on
   * [[graft.functions.BpeEncode]]. Train a table with
   * [[bpeMergeCandidates]] or bring any well-formed external one.
   * Pure per-row scan-stage work — no shuffle.
   */
  def bpeEncode(toks: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.BpeEncode(
        org.apache.spark.sql.graft.ColumnBridge.expression(toks), merges))

  /**
   * GPT-2-STYLE PRE-TOKENIZER regex (Radford et al. 2019's pattern,
   * public) — the production boundary rule byte-level BPE merges must
   * not cross: common English contractions, space-prefixed letter
   * runs, space-prefixed digit runs, space-prefixed punctuation runs,
   * whitespace runs. Two deliberate, documented deltas from the
   * original so ONE pattern text runs identically on Java regex AND
   * RE2 (the DuckDB oracle): (a) the trailing-space lookahead
   * `\s+(?!\S)` is dropped (RE2 has no lookahead) — multi-space runs
   * become one whitespace token instead of donating their last space
   * to the next word; single spaces attach to the following run
   * exactly as in GPT-2 (alternation order does that, no lookahead
   * needed); (b) `\s` is spelled as the explicit class [ \t\r\n\f]
   * (Java's \s adds \x0B, RE2's does not — the literal class removes
   * the engine skew).
   */
  val PreTokenPattern: String = {
    // Interpolate the CHARACTERS, not a bracketed class: RE2 treats a
    // nested '[' inside a class as a literal and closes at the first
    // ']', so "[^[ \t\r\n\f]\p{L}\p{N}]" silently drops punctuation
    // pre-tokens in DuckDB while Java parses it as a class union.
    val wsChars = " \\t\\r\\n\\f"
    s"'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^$wsChars\\p{L}\\p{N}]+|[$wsChars]+"
  }

  /** Deterministic punctuated probe the pre-tokenizer gates append to
    * every document: the synthetic corpus is punctuation-free, so
    * without it the punctuation alternative of [[PreTokenPattern]]
    * (and the `'t`-contraction one) would never be exercised by the
    * cross-engine oracle and the Java-vs-RE2 contract would be
    * vacuous. ASCII-only and '|'-free so it survives the byte-level
    * gates' projection. */
  val PreTokenProbe: String = " Hello, world!! (don't #42); e.g. $3.50?"

  /** Unicode NFKC normalization ([[graft.functions.NfkcNormalize]]) —
    * the compatibility fold real tokenizers apply before BPE
    * (full-width → ASCII, ligatures, circled digits, half-width kana
    * composed); complements [[normalizeUnicode]]'s mojibake/quote
    * step list. Spec-graded (DuckDB ships NFC only — no oracle). */
  def nfkc(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.NfkcNormalize(
        org.apache.spark.sql.graft.ColumnBridge.expression(text)))

  /** Pre-token array of `text` under [[PreTokenPattern]] — a plain
    * codegen'd regexp_extract_all, engine-replayable verbatim. */
  def preTokenize(text: Column): Column =
    call_function("regexp_extract_all", text, lit(PreTokenPattern), lit(0))

  /** GPT-2 byte→unicode unit mapping over a pre-token array
    * ([[graft.functions.ByteLevelUnits]]): every UTF-8 byte becomes
    * one printable char (space → 'Ġ'), so BPE runs over a 256-symbol
    * base alphabet with no <unk> and an exact inverse
    * ([[graft.functions.ByteLevelUnits.decode]]). */
  def byteLevelUnits(pretoks: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.ByteLevelUnits(
        org.apache.spark.sql.graft.ColumnBridge.expression(pretoks)))

  /** Byte-level BPE ENCODE: [[preTokenize]] → [[byteLevelUnits]] →
    * the [[bpeEncode]] min-rank kernel (symbols are now byte units,
    * merges from [[bpeTrainByteLevel]] or any byte-level table).
    * Lossless by construction: concatenating the output tokens and
    * inverting the byte map restores the input string exactly. */
  def bpeEncodeByteLevel(text: Column, merges: Seq[(String, String)]): Column =
    bpeEncode(byteLevelUnits(preTokenize(text)), merges)

  /**
   * GPT-2-convention token-id VOCABULARY for a byte-level merges
   * table: ids 0..255 are the 256 byte units in byte order, id
   * 256+rank is merge `rank`'s output — exactly how production BPE
   * vocabularies are numbered (base alphabet first, then merges in
   * training order), so ids from two tokenizers sharing a merges
   * table agree. TOTAL for byte-level encodes by construction: every
   * emitted token is a base unit or a merge output, so the lookup
   * can never miss.
   */
  def byteLevelVocab(merges: Seq[(String, String)]): Map[String, Int] =
    mergeVocab(graft.functions.ByteLevelUnits.byteToChar.toSeq, merges)

  /** Token → id for a byte-level BPE: the 256 base units in `base` order
    * take ids 0..255, merge i's output takes 256 + i. Duplicate merge
    * outputs are rejected. */
  private[graft] def mergeVocab(base: Seq[Char],
      merges: Seq[(String, String)]): Map[String, Int] = {
    val units = base.zipWithIndex.map { case (c, b) => c.toString -> b }
    val outs = merges.zipWithIndex.map { case ((x, y), i) =>
      (x + y) -> (256 + i) }
    val dup = outs.groupBy(_._1).collect { case (t, vs) if vs.size > 1 => t }
    require(dup.isEmpty, s"merges produce duplicate outputs: $dup")
    (units ++ outs).toMap
  }

  /** Byte-level BPE encode straight to integer token IDS —
    * [[bpeEncodeByteLevel]] mapped through [[byteLevelVocab]] (a
    * broadcast map literal; the lookup is total, see byteLevelVocab).
    * This is the training-pipeline handoff shape: sequence packing,
    * token budgets and shard writers consume ids, not strings. */
  def bpeEncodeToIds(text: Column, merges: Seq[(String, String)]): Column = {
    val vocab = byteLevelVocab(merges)
    transform(bpeEncodeByteLevel(text, merges),
      t => element_at(typedLit(vocab), t))
  }

  /**
   * SPECIAL-TOKEN-aware byte-level encode (r20) — the production
   * contract the plain kernel lacks: a special token (`<|endoftext|>`
   * document separators, chat-template markers) must come out as
   * EXACTLY ONE token and BPE must never merge across it. The text is
   * split on literal special occurrences (longest special first, so an
   * overlapping pair like `<|end|>` / `<|end|><|end|>` resolves to the
   * longer), each segment encodes independently through
   * [[bpeEncodeByteLevel]], and the special itself is emitted verbatim
   * between them. Inputs containing U+E000 (private use, the internal
   * sentinel) are out of contract.
   */
  def bpeEncodeWithSpecials(text: Column,
      merges: Seq[(String, String)], specials: Seq[String]): Column = {
    require(specials.nonEmpty, "use bpeEncodeByteLevel for no specials")
    require(specials.distinct == specials, "duplicate special tokens")
    val sent = "\uE000" // private-use sentinel, see contract above
    specials.foreach { sp =>
      require(sp.nonEmpty && !sp.contains(sent), s"invalid special '$sp'")
    }
    val byLen = specials.zipWithIndex.sortBy { case (sp, _) => -sp.length }
    val marked = byLen.foldLeft(text) { case (c, (sp, i)) =>
      regexp_replace(c, lit(java.util.regex.Pattern.quote(sp)),
        lit(s"$sent$i$sent"))
    }
    val specialArr = specials.toArray
    // split on the sentinel: odd positions hold a special's index,
    // even positions are plain segments (possibly empty)
    val parts = split(marked, sent, -1)
    flatten(zip_with(parts, sequence(lit(0), size(parts) - 1),
      (p, i) => when(i % 2 === 1,
          array(element_at(typedLit(specialArr), p.cast("int") + 1)))
        .otherwise(bpeEncode(byteLevelUnits(preTokenize(p)), merges))))
  }

  /** [[byteLevelVocab]] extended with special-token ids AFTER the
    * merges — the production numbering (GPT-2: 256 base units + 50 000
    * merges, then `<|endoftext|>` = 50 256). */
  def byteLevelVocabWithSpecials(merges: Seq[(String, String)],
      specials: Seq[String]): Map[String, Int] =
    byteLevelVocab(merges) ++ specials.zipWithIndex.map { case (s, i) =>
      s -> (256 + merges.length + i) }

  /** [[bpeEncodeWithSpecials]] straight to ids under
    * [[byteLevelVocabWithSpecials]] — total like [[bpeEncodeToIds]]. */
  def bpeEncodeToIdsWithSpecials(text: Column,
      merges: Seq[(String, String)], specials: Seq[String]): Column = {
    val vocab = byteLevelVocabWithSpecials(merges, specials)
    transform(bpeEncodeWithSpecials(text, merges, specials),
      t => element_at(typedLit(vocab), t))
  }

  /** Fixed well-formed BYTE-LEVEL merges table for the
    * q_bpe_bytelevel gate (each rule's parts are base units or
    * outputs of earlier rules — ascending-rank replay equals
    * min-rank greedy, the [[BpeGateMerges]] property, now with the
    * GPT-2 space marker 'Ġ' in the alphabet). */
  val BpeByteGateMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "Ġ" -> "t", "Ġt" -> "h", "th" -> "e", "Ġth" -> "e",
    "i" -> "n", "e" -> "r", "Ġ" -> "a", "o" -> "n", "a" -> "n",
    "an" -> "d", "Ġa" -> "n", "Ġan" -> "d", "r" -> "e", "Ġ" -> "o",
    "Ġo" -> "f", "e" -> "s", "Ġ" -> "s", "in" -> "g", "e" -> "d")

  /** The fixed well-formed merges table the `q_bpe_encode` gate pins on
    * both engines (each rule's parts are characters or outputs of
    * EARLIER rules — the property that makes ascending-rank replay
    * equal to min-rank-first encoding). */
  val BpeGateMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "e" -> "r", "a" -> "n",
    "o" -> "n", "r" -> "e", "a" -> "t", "e" -> "s", "o" -> "r",
    "s" -> "t", "a" -> "r", "o" -> "u", "l" -> "e", "an" -> "d",
    "in" -> "g", "er" -> "s", "c" -> "h", "q" -> "u", "a" -> "l")

  /**
   * Deterministic WELL-FORMED merges table at production vocabulary
   * size — the r14 verdict's "prove BPE at a real vocab" fixture. The
   * synthetic test corpus has only 31 distinct words, so a 50k-entry
   * table cannot be TRAINED from it; this generator SHIPS one with the
   * exact structural property a trained table has (each rule's parts
   * are single characters or outputs of EARLIER rules — the
   * well-formedness that makes ascending-rank replay equal
   * min-rank-first encoding):
   *
   *   ranks 0..1295: every (c1, c2) char pair over [a-z0-9], in
   *     lexicographic order (the full bigram closure — like a trained
   *     table's early ranks, where frequent char pairs merge first);
   *   ranks 1296...: (t1, t2) pairs of those 2-char tokens → 4-char
   *     tokens, lexicographic, truncated at `n`.
   *
   * Every rank's parts exist before it fires, every prefix of the
   * table is itself well-formed, and the pair universe (1296 + 1296²)
   * covers any real vocabulary size. Used by the table-size
   * independence probe ([[graft.tools.BpeVocabProbe]]) and the ≥10k
   * rule spec; [[graft.functions.BpeEncode]]'s per-word cost contract
   * (O(applied·len) hash probes, independent of table size) is
   * measured against it.
   */
  def syntheticMerges(n: Int): Seq[(String, String)] = {
    val chars = (('a' to 'z') ++ ('0' to '9')).map(_.toString)
    require(n >= 1 && n <= chars.size * chars.size * (1 + chars.size * chars.size),
      s"n out of the two-level pair universe: $n")
    val level1 = for (a <- chars; b <- chars) yield (a, b)
    val pairs2 = level1.map { case (a, b) => a + b }
    val level2 = for (x <- pairs2.iterator; y <- pairs2) yield (x, y)
    (level1.iterator ++ level2).take(n).toSeq
  }

  /**
   * BM25 ranking of documents against a bag of query terms — the
   * retrieval scorer used for contamination auditing and targeted
   * corpus slicing. Okapi BM25 with the Lucene idf:
   * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)),
   * score = Σ_t idf·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
   *
   * All inputs are integral (tf, df, dl, N); avgdl is an exact long sum
   * over N. Per-term scores are rounded to integer micro-units before
   * the per-doc sum (order-free exact long sum). Two combinable
   * aggregations over one corpus scan; the df/N/avgdl side is at most
   * |query| + 1 rows → broadcast by construction.
   */
  def bm25(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], topN: Int,
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tf = toks
      .filter(col("token").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // corpus constants: one row — explicitly broadcast (provably bounded)
    val consts = dl.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
    val scored = tf
      .join(broadcast(df_), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(consts))
    val avgdl = col("tot_dl").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val termScore = idf * (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
    scored
      .withColumn("sterm", round(termScore * 1000000).cast("long"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("sterm")) / 1000000.0, 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(topN)
  }

  /**
   * Out-of-vocabulary rate per document against the corpus top-`vocabSize`
   * vocabulary (by count desc, token asc — deterministic at the boundary):
   * the tokenizer-coverage diagnostic run before committing to a vocab.
   * The vocab side is top-k of a combinable count → bounded at `vocabSize`
   * rows by construction → broadcast explicitly (safe at any corpus size,
   * unlike a frontier-shaped frame). The rate is a rational of two ints —
   * exact in every engine.
   *
   * The exploded (doc_id, token) stream feeds BOTH the vocab branch and
   * the per-doc join; without a staging exchange each consumer re-runs
   * the scan + regex tokenize + explode (the cleanCorpus disease). One
   * token repartition makes the second consumer a ReusedExchange read —
   * tokenize runs once — and doubles as the vocab groupBy's own
   * partitioning, so it costs no extra shuffle at all. The vocab count
   * is count(doc_id) — identical to count(*) since doc_id is never
   * null — so BOTH consumers need the same (doc_id, token) columns and
   * column pruning cannot split the shared exchange (the cleanCorpus
   * rule).
   */
  def oovRate(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, vocabSize: Int): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .repartition(col("token"))
    val vocab = toks
      .groupBy(col("token")).agg(count(col("doc_id")).as("c"))
      .orderBy(col("c").desc, col("token").asc)
      .limit(vocabSize)
      .select(col("token"), lit(1).as("iv"))
    toks
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(round(
        sum(when(col("iv").isNull, 1L).otherwise(0L)).cast("double")
          / count(lit(1)).cast("double"), 6).as("oov_rate"))
  }

  /**
   * Chunk-level dedup — the paragraph/boilerplate-removal shape: split
   * each document into fixed `chunkTokens`-token chunks, hash each
   * chunk, keep ONE occurrence of each distinct chunk corpus-wide
   * (global keep-first by (doc_id, idx) — repeated boilerplate survives
   * exactly once, including within-document repeats), and report per
   * document how many of its chunks survive. Returns
   * (doc_id, n_chunks, n_kept); documents shorter than one chunk are
   * dropped (mirrored by the oracle's empty range).
   *
   * Scale shape: chunk rows are (doc_id, idx, md5) — the TEXT never
   * shuffles. One repartition(h) stages the chunk stream for BOTH the
   * winner aggregate (which needs no further exchange) and the
   * co-partitioned join back (ReusedExchange), then one combinable
   * per-doc count. Winner selection is min(struct(doc_id, idx)) —
   * deterministic under any partitioning.
   */
  /**
   * Overlapping chunk windows with stride — the RAG/context-prep
   * chunker: token windows of `chunkTokens` starting every `stride`
   * tokens (stride < chunkTokens ⇒ overlap), one row per chunk with
   * its index and token count. Trailing windows shorten naturally; a
   * doc with fewer than `stride` tokens yields exactly one chunk.
   * The token array materializes ONCE per doc before the Generate
   * (same staging as [[chunkDedup]] — verified not inlined), so the
   * tokenizer regex never re-runs per chunk; everything downstream is
   * codegen'd slicing. Contract: starts = 0, stride, 2·stride … < n.
   */
  def chunkStride(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunkTokens: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(chunkTokens >= 1 && stride >= 1, s"bad chunk/stride $chunkTokens/$stride")
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= 1)
      .select(col("doc_id"), col("tk"),
        explode(expr(s"sequence(0, ((size(tk) - 1) div $stride) * $stride, $stride)"))
          .as("start"))
      .select(col("doc_id"),
        expr(s"start div $stride").cast("int").as("idx"),
        expr(s"size(slice(tk, start + 1, $chunkTokens))").as("n_tok"),
        expr(s"array_join(slice(tk, start + 1, $chunkTokens), ' ')").as("chunk"))
  }

  def chunkDedup(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunkTokens: Int): org.apache.spark.sql.DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    val chunks = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= chunkTokens)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, size(tk) div $chunkTokens - 1),
           |  i -> struct(i AS idx,
           |    array_join(slice(tk, i * $chunkTokens + 1, $chunkTokens), ' ') AS chunk))"""
          .stripMargin)).as("c"))
      .select(col("doc_id"), col("c.idx").as("idx"), md5(col("c.chunk")).as("h"))
      .repartition(col("h"))
    val winners = chunks.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("w"))
    chunks.join(winners, "h")
      .select(col("doc_id"), col("idx"),
        (col("w.doc_id") === col("doc_id") && col("w.idx") === col("idx")).as("kept"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
  }

  /** PII-style scrubbing: mask email-like and URL-like spans (the
    * standard pre-training redaction pass). Pure regexp_replace —
    * codegen'd, narrow, oracle-replayable. */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
      "https?://[^\\s]+", "<URL>")

  /** The extended PII pattern set, applied AFTER [[redact]]'s
    * email/URL masking and in this order (card before phone — a
    * grouped 16-digit card would otherwise partially match as a
    * phone; URL before IP is [[redact]]'s job so IP-in-URL is already
    * masked). Grouped/separated forms only — bare digit runs are ids
    * and part numbers far more often than PII, so they stay. Shared
    * verbatim with the oracle (RE2-safe: no lookarounds, no
    * backreferences). */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "\\b[0-9]{4}([- ][0-9]{4}){3}\\b" -> "<CC>",
    "(\\+[0-9]{1,3}[-. ])?(\\([0-9]{3}\\)[-. ]?|[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}\\b" -> "<PHONE>",
    "\\b(25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})(\\.(25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})){3}\\b" -> "<IP>")

  /**
   * Extended PII-style redaction: [[redact]]'s email/URL masks plus
   * grouped credit-card numbers, separated phone numbers (optional
   * country code, (NNN) or NNN- forms) and dotted IPv4 addresses —
   * the pre-training scrub pass beyond contact handles. Pattern-shape
   * only (no Luhn, no carrier validation): the pipeline goal is
   * lowering leakage risk, and a false <CC> on a 4×4-grouped serial
   * costs nothing. Pure per-row codegen'd regex chain, no shuffle.
   */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(redact(text)) { case (e, (pat, repl)) =>
      regexp_replace(e, pat, repl)
    }

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish token count: letter runs + single digits + single punct. */
  def tokenCountBpe(text: Column): Column =
    size(call_function("regexp_extract_all", lower(text), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0)))

  /**
   * Token-budget data selection — the "data budget" step of corpus
   * assembly: per source, keep the highest-quality documents while the
   * running BPE-token total stays within `budgetTokens` (greedy by
   * quality desc, ties → smallest doc_id — fully deterministic, and the
   * standard practical approximation of quality-per-token knapsack).
   *
   * Distributed form (no per-source serial sort): [[qualityScore]] is
   * 6-dp rounded in [0,1], so a source has AT MOST 10^6+1 distinct
   * quality values regardless of corpus size — the running total is
   * computed on that BOUNDED per-(source, quality) bucket frame
   * (partial-aggregable groupBy, then a window over <= 1e6 tiny rows
   * per source), buckets whose preceding mass already exceeds the
   * budget are pruned BEFORE any doc-level work, and the only doc-level
   * window partitions by (source, quality) — a quality TIE GROUP, never
   * the whole source. Same answer as the single-window form
   * (cum_tokens = higher-bucket mass + within-tie-group cumsum; ties
   * order by doc_id inside their bucket exactly as the global sort
   * did), same exact-integer cutoff; the cumulative sum is over integer
   * token counts so the decision is engine-identical. The one skew
   * caveat: a tie group = docs sharing one exact 6-dp quality value;
   * byte-identical boilerplate floods land in one partition and belong
   * to [[graft.ops.Dedup]] upstream.
   */
  def budgetSelect(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, sourceCol: String,
      budgetTokens: Long): org.apache.spark.sql.DataFrame =
    budgetSelectScored(
      docs.select(
        col(sourceCol).as("source"), col(idCol).as("doc_id"),
        qualityScore(col(textCol)).as("quality"),
        tokenCountBpe(col(textCol)).cast("long").as("n_tokens")),
      budgetTokens)

  /**
   * The selection machinery of [[budgetSelect]] on a PRE-SCORED frame
   * with columns (source, doc_id, quality, n_tokens) — quality 6-dp
   * rounded, n_tokens integral. This is the 100 TB entry point: the
   * frame is consumed by TWO branches (the bounded bucket totals and
   * the doc-level tie-group cumsum), and column pruning gives each
   * branch its own scan, so a caller who passes raw text through
   * [[budgetSelect]] pays the scoring kernel once per branch — fine
   * for ad-hoc use, wasteful at scale. Materialize the 4-column scored
   * frame (tiny next to the corpus: no text) and pass it here; the
   * kernel then runs once, and each branch re-reads 4 narrow columns.
   */
  def budgetSelectScored(scoredIn: org.apache.spark.sql.DataFrame,
      budgetTokens: Long): org.apache.spark.sql.DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    import org.apache.spark.sql.expressions.Window
    // bucket key = quality in exact integer MICRO-units: quality is
    // already 6-dp rounded, so round(q·1e6) recovers the exact integer
    // — a bigint key joins and hash-partitions WITHOUT the
    // knownfloatingpointnormalized wrapper a double key gets, which
    // would force a second full doc-stream exchange between the join
    // (raw-keyed) and the window (normalized-keyed). -1 stands in for
    // a null quality (empty text) and sorts after every real bucket,
    // matching DESC NULLS LAST.
    def qm(quality: Column): Column =
      coalesce(round(quality * 1e6).cast("long"), lit(-1L))
    val scored = scoredIn.withColumn("__qm", qm(col("quality")))
    // bounded bucket frame: token mass per (source, 6-dp quality value)
    val wBucket = Window.partitionBy(col("source"))
      .orderBy(col("__qm").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = scored
      .groupBy(col("source"), col("__qm"))
      .agg(sum(col("n_tokens")).as("__bucket_tokens"))
      .withColumn("__cum_before",
        coalesce(sum(col("__bucket_tokens")).over(wBucket), lit(0L)))
      // cum_tokens >= __cum_before for every doc of the bucket, so a
      // bucket whose preceding mass already exceeds the budget can be
      // dropped wholesale — the doc-level exchange below this join never
      // ships the (typically vast) below-the-cut tail of the corpus
      .filter(col("__cum_before") <= budgetTokens)
      .select(col("source"), col("__qm"), col("__cum_before"))
    // within one quality tie group, the global (quality desc, doc_id
    // asc) order reduces to doc_id asc
    val wDoc = Window.partitionBy(col("source"), col("__qm"))
      .orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NULL-SAFE source equality: a null-source doc group survives the
    // window and groupBy branches on both sides, so a null-unsafe join
    // here would silently drop exactly those docs (the r11 single-window
    // form kept them — its partitionBy treats null as its own group).
    // EqualNullSafe is still an equi-key: the join stays hash/broadcast.
    val off2 = offsets.select(col("source").as("__osrc"),
      col("__qm").as("__oqm"), col("__cum_before"))
    scored
      .join(off2, col("source") <=> col("__osrc") && col("__qm") === col("__oqm"))
      // coalesce: a tie group whose every member has null n_tokens (null
      // text) sums to NULL — the single-window form's running sum simply
      // skips nulls, so the decomposed cum must read "bucket offset + 0"
      // there, not NULL (which the budget filter would silently drop)
      .withColumn("cum_tokens",
        col("__cum_before") + coalesce(sum(col("n_tokens")).over(wDoc), lit(0L)))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col("source"), col("doc_id"), col("quality"),
        col("n_tokens"), col("cum_tokens"))
  }

  /**
   * Balanced training-shard assignment — split each stratum's docs into
   * `nShards` shards with near-equal token mass: docs ranked by BPE
   * token count descending (doc_id tie-break) are dealt round-robin, the
   * LPT greedy that bounds any shard at ~(1 + 1/rank) of the mean even
   * under Zipfian length skew (plain hash-sharding balances doc COUNTS,
   * not token mass). Returns (doc_id, stratum, n_tokens, shard).
   *
   * Distributed form (no per-stratum serial sort), same decomposition
   * as [[budgetSelect]]: the global rank by (n_tokens desc, doc_id asc)
   * splits into (a) the count of docs in strictly-longer token-count
   * buckets — computed on the bounded per-(stratum, n_tokens) bucket
   * frame, whose size is capped by the max document token count, not
   * the corpus — plus (b) a row_number over ONLY the (stratum,
   * n_tokens) tie group, ordered by doc_id. Identical assignment to
   * the one-window form; the only serial unit is a tie group of
   * identical-length docs (byte-identical floods belong to dedup
   * upstream).
   */
  def shardAssign(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, strataCol: String,
      nShards: Int): org.apache.spark.sql.DataFrame =
    shardAssignScored(
      docs.select(
        col(strataCol).as("stratum"), col(idCol).as("doc_id"),
        tokenCountBpe(col(textCol)).cast("long").as("n_tokens")),
      nShards)

  /** The deal-out machinery of [[shardAssign]] on a pre-counted frame
    * (stratum, doc_id, n_tokens) — the scale entry point, for the same
    * two-branch reason as [[budgetSelectScored]]. */
  def shardAssignScored(scored: org.apache.spark.sql.DataFrame,
      nShards: Int): org.apache.spark.sql.DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    import org.apache.spark.sql.expressions.Window
    // bounded bucket frame: docs per (stratum, exact token count)
    val wBucket = Window.partitionBy(col("stratum"))
      .orderBy(col("n_tokens").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = scored
      .groupBy(col("stratum"), col("n_tokens"))
      .agg(count(lit(1)).as("__bucket_n"))
      .withColumn("__rank_before",
        coalesce(sum(col("__bucket_n")).over(wBucket), lit(0L)))
      .select(col("stratum"), col("n_tokens"), col("__rank_before"))
    // within a tie group the global order reduces to doc_id asc
    val wDoc = Window.partitionBy(col("stratum"), col("n_tokens"))
      .orderBy(col("doc_id").asc)
    // NULL-SAFE keys, same reason as [[budgetSelectScored]]: a null
    // stratum (or a null token count from null text) forms its own
    // group in both branches — the single-window form ranked it
    // (desc NULLS LAST); a null-unsafe join would silently drop it.
    val off2 = offsets.select(col("stratum").as("__ost"),
      col("n_tokens").as("__ont"), col("__rank_before"))
    scored
      .join(off2,
        col("stratum") <=> col("__ost") && col("n_tokens") <=> col("__ont"))
      .withColumn("shard",
        ((col("__rank_before") + row_number().over(wDoc) - 1) % nShards).cast("int"))
      .select(col("stratum"), col("doc_id"), col("n_tokens"), col("shard"))
  }

  /**
   * Collocation mining — adjacent token pairs whose co-occurrence beats
   * independence: PMI = ln(p(ab) / (p(a)·p(b))) with p(ab) over bigram
   * events and marginals over unigram counts, restricted to pairs seen
   * at least `minCount` times (raw PMI without a floor surfaces
   * hapax noise). The classic phrase-candidate statistic
   * (Church & Hanks 1990); complements [[bpeMergeCandidates]] (raw
   * frequency) with an independence-normalized ranking.
   *
   * One fused tokenize+shingle pass; both count tables are map-side
   * combinable; the two 1-row totals broadcast (bounded). The ln is a
   * single per-row evaluation with an identical operand order in the
   * DuckDB oracle — IEEE-identical, no float summation.
   */
  def collocations(docs: org.apache.spark.sql.DataFrame, textCol: String,
      minCount: Long, k: Int): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1 && k >= 1, s"need minCount >= 1 and k >= 1: $minCount, $k")
    val bgAll = docs.select(explode(tokenShingles(col(textCol), 2)).as("bigram"))
      .filter(instr(col("bigram"), " ") > 0)
      .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
    val ug = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nb = bgAll.agg(sum(col("cnt")).as("nb"))
    val nu = ug.agg(sum(col("c")).as("nu"))
    bgAll.filter(col("cnt") >= minCount)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
      .join(ug.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(ug.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nb))
      .crossJoin(broadcast(nu))
      .select(col("bigram"), col("cnt"),
        round(log(col("cnt").cast("double") * col("nu") * col("nu") /
          (col("nb").cast("double") * col("c1") * col("c2"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(k)
  }

  /**
   * Deterministic NEGATIVE sampling for contrastive training pairs: for
   * each query id, `k` pseudo-random pool ids that are not the query
   * itself and not among its known positives. The draw is md5-keyed, so
   * it is reproducible across runs, engines and partitionings (same
   * audit-ability rule as [[weightedSample]]).
   *
   * Scale shape: the pool is hash-bucketed (md5 mod `buckets`) and each
   * query draws ONLY from its own bucket — the candidate join moves
   * |pool|/buckets rows per query instead of the full |Q|×|D| cross
   * product, and the per-query top-k window sorts that bounded slice.
   * Size `buckets` so |pool|/buckets comfortably exceeds k plus the
   * per-query positive count — and SCALE buckets WITH the pool: the
   * total work is |Q|·|pool|/buckets, so a pinned bucket count makes
   * a joint 10× query+pool growth cost ~100× (measured 25× wall in
   * ScaleStress before its probe scaled buckets; 2.7× after).
   */
  def negativeSample(queryIds: org.apache.spark.sql.DataFrame,
      poolIds: org.apache.spark.sql.DataFrame,
      positives: org.apache.spark.sql.DataFrame,
      qCol: String, dCol: String, k: Int,
      buckets: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1 && buckets >= 1, s"need k >= 1 and buckets >= 1: $k, $buckets")
    import org.apache.spark.sql.expressions.Window
    def bucket(c: Column): Column =
      conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % buckets
    val q = queryIds.select(col(qCol).as("qid")).withColumn("__b", bucket(col("qid")))
    val d = poolIds.select(col(dCol).as("did")).withColumn("__b", bucket(col("did")))
      .repartition(col("__b"))
    val w = Window.partitionBy(col("qid")).orderBy(col("__rk").asc, col("did").asc)
    q.join(d, "__b")
      .filter(col("qid") =!= col("did"))
      .join(positives.select(col(qCol).as("qid"), col(dCol).as("did")),
        Seq("qid", "did"), "left_anti")
      .withColumn("__rk",
        md5(concat(col("qid").cast("string"), lit("|"), col("did").cast("string"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("int").as("rank"), col("did"))
  }

  /**
   * Polynomial rolling-hash fingerprint of the whitespace-normalized
   * lowercase text: fold (acc*31 + codepoint) mod 1e9+7. Integral → exact
   * and identical in every engine. Native kernel
   * ([[graft.functions.Fingerprint]]) — the per-character HOF walk is
   * ~1000× slower.
   */
  def fingerprint(text: Column): Column = {
    val norm = regexp_replace(trim(lower(text)), "\\s+", " ")
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.Fingerprint(
        org.apache.spark.sql.graft.ColumnBridge.expression(norm)))
  }

  /**
   * Per-document cross-entropy under the corpus's own bigram LM with
   * add-one smoothing: avg_nll(doc) = −(1/n)·Σ ln((c(w1w2)+1)/(c(w1)+V))
   * over the doc's n bigram occurrences — the CCNet-style "score each
   * document by a corpus LM" quality signal, here with the LM estimated
   * in the same job.
   *
   * Scale shape: the exploded (doc, bigram) relation is staged behind
   * ONE bigram-keyed exchange shared by the LM count aggregation and
   * the scoring join (same idiom as cleanCorpus/oovRate); the unigram
   * table joins by first word (AQE broadcasts it when small). Each
   * −ln term is rounded to integer micro-nats BEFORE the per-doc sum —
   * exact long sum, order-free under any partitioning.
   */
  def docPerplexity(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val bg = docs
      .select(col(idCol).as("doc_id"), explode(tokenShingles(col(textCol), 2)).as("bigram"))
      .filter(instr(col("bigram"), " ") > 0)
      .repartition(col("bigram"))
    val lm = bg.groupBy(col("bigram")).agg(count(lit(1)).as("cbg"))
    val toks = docs.select(explode(tokens(col(textCol))).as("w1"))
    val ug = toks.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = toks.agg(countDistinct(col("w1"))).head.getLong(0).toDouble
    bg.join(lm, "bigram")
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(ug, "w1")
      .withColumn("term",
        round(log((col("cbg") + 1).cast("double") / (col("c1").cast("double") + lit(v))) * 1000000).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("term")).as("__s"))
      // avg in INTEGER micro-nats by exact integer division — a
      // divide-then-round double hit a 6-dp half-point at sf0.1 (Spark
      // 3.414089 vs DuckDB 3.41409 on the same exact sum); integers
      // cannot
      .select(col("doc_id"), col("n_bigrams"),
        expr("(-__s) div n_bigrams").as("avg_nll_micro"))
  }

  /**
   * Inverted index with BOUNDED posting lists: term → document
   * frequency + the `maxPostings` smallest doc ids. The posting cap is
   * enforced INSIDE the aggregate ([[graft.functions.TopKBy]] keeps an
   * O(k) heap per term, map-side combinable) — a stopword's millions of
   * documents never materialize as aggregation state or shuffle volume,
   * unlike collect_list-then-slice. One exchange on term.
   */
  def invertedIndex(
      docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      maxPostings: Int, minDf: Long = 1L): org.apache.spark.sql.DataFrame =
    docs
      .select(col(idCol).as("doc_id"), explode(array_distinct(tokens(col(textCol)))).as("term"))
      .groupBy(col("term"))
      .agg(
        count(lit(1)).as("df"),
        transform(
          graft.functions.GraftFunctions.topk_by(
            col("doc_id"), -col("doc_id").cast("double"), maxPostings),
          x => x.getField("id")).as("postings"))
      .filter(col("df") >= minDf)

  /** URL decomposition for web-corpus provenance stats — host (without
    * port), port (null if absent), path, query string. Pure
    * regexp_extract (codegen'd, narrow, oracle-replayable); empty
    * captures → null to match SQL NULLIF semantics. Per-domain grouping
    * over these is the CCNet-style provenance roll-up. */
  /**
   * Zipf rank-frequency fit over the corpus vocabulary: the log-log
   * regression slope of frequency against rank for the top-K terms — a
   * natural-language corpus sits near −1; a slope far off flags
   * boilerplate floods or synthetic/templated text. The vocabulary
   * aggregate is the only corpus-scale pass (explode → map-side
   * combined counts); ranking and the regression run on the bounded
   * top-K frame. ln values are 6-dp micro-rounded to LONGS before
   * summation (order-free exact sums), and the normal-equation
   * combination runs in decimal(38,0) so a large K cannot overflow —
   * only the final slope division is floating point, fixed order,
   * 6-dp rounded: bit-identical in any engine.
   */
  def zipfFit(docs: org.apache.spark.sql.DataFrame, textCol: String,
      topK: Int = 50): org.apache.spark.sql.DataFrame = {
    require(topK >= 3, s"topK must be >= 3, got $topK")
    val freq = docs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("token").asc).limit(topK)
    // global window over the bounded top-K frame only
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("f").desc, col("token").asc)
    freq
      .withColumn("rnk", row_number().over(w))
      .select(
        round(log(col("rnk").cast("double")) * 1e6).cast("long").as("x"),
        round(log(col("f").cast("double")) * 1e6).cast("long").as("y"))
      .select(col("x").cast("decimal(38,0)").as("x"),
        col("y").cast("decimal(38,0)").as("y"))
      .agg(count(lit(1)).as("k"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("k"),
        round((col("k") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("k") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("zipf_slope"))
  }

  /**
   * Per-source unigram KL divergence from the corpus-wide distribution —
   * the standard corpus-mix drift diagnostic: KL(P_src ‖ P_corpus) near 0
   * means the source's vocabulary usage matches the blend; a large value
   * flags a source that will dominate or fight the mixture (machine
   * code, another language, templated spam). KL = Σ_t P_s(t)·ln(P_s(t)/Q(t));
   * every source token appears in the global distribution, so no
   * zero-probability terms arise.
   *
   * Scale: ONE corpus-scale pass (explode → map-side-combined
   * (source, token) counts); the global/token and per-source totals
   * derive from that vocabulary-sized frame, never re-scanning text.
   * Each per-token ln term is 6-dp micro-rounded to a LONG (order-free
   * integral sums, same idiom as [[unigramLogProb]]); the count×term
   * products accumulate in decimal(38,0) so a 100 TB corpus cannot
   * overflow; only the final fixed-order division is floating point.
   * The log argument is computed as (c_st·N)/(n_s·c_t) with all four
   * factors cast to double BEFORE multiplying — the oracle replays the
   * identical IEEE expression, so the 6-dp rounding is bit-stable.
   */
  def sourceKlDivergence(docs: org.apache.spark.sql.DataFrame,
      sourceCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val st = docs
      .select(col(sourceCol).as("source"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c_st"))
      // every downstream frame (global counts, per-source totals, the
      // term join) reads this one vocabulary-sized exchange
      .repartition(col("token"))
    val g = st.groupBy(col("token")).agg(sum(col("c_st")).as("c_t"))
    val ns = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val nTot = ns.agg(sum(col("n_s")).as("n"))
    val term = round(
      log((col("c_st").cast("double") * col("n").cast("double")) /
          (col("n_s").cast("double") * col("c_t").cast("double"))) * 1000000)
      .cast("long")
    st
      .join(g, "token")
      .join(ns, "source")
      .crossJoin(broadcast(nTot)) // 1-row global total
      .select(col("source"), col("n_s"),
        (col("c_st").cast("decimal(38,0)") * term.cast("decimal(38,0)")).as("w"))
      .groupBy(col("source"), col("n_s"))
      .agg(sum(col("w")).as("__s"))
      .select(col("source"), col("n_s").as("n_tokens"),
        round(col("__s").cast("double") / 1000000.0 / col("n_s").cast("double"), 6)
          .as("kl_unigram"))
  }

  /**
   * DSIR-style importance weights for data selection (Xie et al. 2023,
   * "Data Selection for Language Models via Importance Resampling" —
   * public method, hashed-n-gram variant simplified to unigrams): per
   * document, the average log-likelihood ratio between a TARGET
   * domain's unigram LM and the raw-corpus LM,
   *
   *   w(d) = (1/|d|) Σ_t c_dt · [ ln P_target(t) − ln P_raw(t) ]
   *
   * with add-one smoothing on the target side (P_t = (c_tt+1)/(N_t+V))
   * so off-target vocabulary scores finitely negative. Documents that
   * look like the target domain score high — rank by w and keep the
   * top slice to up-sample the target distribution.
   *
   * Scale: one corpus tokenize → (doc_id, token) tf counts (the same
   * exchange class as [[tfIdfTopTerms]]); the per-token term table is
   * vocabulary-sized and joins on token; the three scalars (N_raw,
   * N_target, V) ride one 1-row broadcast. Per-token terms are 6-dp
   * micro-rounded LONGS (order-free sums); the per-doc average is an
   * exact integer division — bit-identical in any engine. The ln
   * argument multiplies all four factors as doubles in a fixed order
   * the oracle replays verbatim.
   */
  def dsirWeights(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, sourceCol: String, targetSource: String): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(
      col(idCol).as("doc_id"), col(sourceCol).as("source"),
      explode(tokens(col(textCol))).as("token"))
    // per-doc term frequencies — the corpus-scale frame
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c_dt"))
    // vocabulary-sized frames
    val raw = toks.groupBy(col("token")).agg(count(lit(1)).as("c_t"))
    val tgt = toks.filter(col("source") === targetSource)
      .groupBy(col("token")).agg(count(lit(1)).as("c_tt"))
    val stats = raw.agg(
        sum(col("c_t")).as("n_raw"), count(lit(1)).as("v"))
      .crossJoin(toks.filter(col("source") === targetSource)
        .agg(count(lit(1)).as("n_tgt")))
    val term = raw
      .join(tgt, Seq("token"), "left")
      .crossJoin(broadcast(stats)) // 1-row scalars
      .select(col("token"),
        round(log(
          ((coalesce(col("c_tt"), lit(0L)) + lit(1L)).cast("double") * col("n_raw").cast("double")) /
          ((col("n_tgt") + col("v")).cast("double") * col("c_t").cast("double"))) * 1000000)
          .cast("long").as("t_micro"))
    tf
      .join(term, "token")
      .groupBy(col("doc_id"))
      .agg(sum(col("c_dt")).as("n_tokens"),
        sum((col("c_dt").cast("decimal(38,0)") * col("t_micro").cast("decimal(38,0)")))
          .as("__s"))
      .select(col("doc_id"), col("n_tokens"),
        // `div` TRUNCATES TOWARD ZERO (Spark integral division), and __s
        // is frequently NEGATIVE (log-ratio micros) — engines whose
        // integer division FLOORS (e.g. Python //) would differ by 1 µunit
        // on every negative non-exact quotient. The oracle must replay
        // truncating division (DuckDB's `//` on integers truncates like
        // Spark; C-family `/` semantics), not floor division.
        expr("cast(__s div n_tokens as bigint)").as("dsir_micro"))
  }

  /**
   * Per-source document-length distribution drift — the exact
   * Kolmogorov–Smirnov statistic between each source's length ECDF and
   * the corpus-wide ECDF, over a PROVABLY BOUNDED integer grid:
   * lengths bucket as least(len div bucketWidth, maxBucket), so the
   * grid never exceeds maxBucket+1 cells regardless of corpus size
   * (binned KS — the at-scale form; the bin width is the resolution
   * limit). A source whose documents are systematically shorter/longer
   * than the blend (truncation bugs, missing concatenation, a crawler
   * that drops bodies) shows up as a large KS long before means move.
   *
   * Scale: one corpus pass producing the (source, bucket) counts —
   * everything after is grid×source-sized. The ECDF comparison is EXACT
   * integer arithmetic: max_b |cum_s(b)·N − cum_g(b)·n_s| in
   * decimal(38,0), divided once at the end — no floating-point
   * accumulation anywhere, bit-identical in any engine.
   */
  def lengthKsDrift(docs: org.apache.spark.sql.DataFrame,
      sourceCol: String, textCol: String,
      bucketWidth: Int = 64, maxBucket: Int = 4095): org.apache.spark.sql.DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    import org.apache.spark.sql.expressions.Window
    val sl = docs
      .select(col(sourceCol).as("source"),
        least(expr(s"length($textCol) div $bucketWidth"), lit(maxBucket)).as("b"))
      .groupBy(col("source"), col("b")).agg(count(lit(1)).as("c"))
    val ns = sl.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val nTot = ns.agg(sum(col("n_s")).as("n"))
    // ≤ maxBucket+1 rows by construction → safe to broadcast
    val grid = sl.select(col("b")).distinct()
    // densify: a source missing a bucket still needs the ECDF evaluated
    // there (its cum carries forward while the global cum jumps)
    val dense = ns
      .crossJoin(broadcast(grid))
      .join(sl, Seq("source", "b"), "left")
      .select(col("source"), col("n_s"), col("b"),
        coalesce(col("c"), lit(0L)).as("c"))
    val cumS = sum(col("c")).over(
      Window.partitionBy(col("source")).orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val glb = sl.groupBy(col("b")).agg(sum(col("c")).as("cb"))
    val cumG = sum(col("cb")).over(
      Window.orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    dense
      .select(col("source"), col("n_s"), col("b"), cumS.as("cum_s"))
      .join(glb.select(col("b"), cumG.as("cum_g")), "b")
      .crossJoin(broadcast(nTot)) // 1-row global total
      .select(col("source"), col("n_s"),
        abs(col("cum_s").cast("decimal(38,0)") * col("n").cast("decimal(38,0)") -
            col("cum_g").cast("decimal(38,0)") * col("n_s").cast("decimal(38,0)"))
          .as("d"),
        (col("n_s").cast("decimal(38,0)") * col("n").cast("decimal(38,0)")).as("den"))
      .groupBy(col("source"), col("n_s"), col("den"))
      .agg(max(col("d")).as("ksn"))
      .select(col("source"), col("n_s").as("n_docs"),
        round(col("ksn").cast("double") / col("den").cast("double"), 6).as("ks"))
  }

  /** href-attribute values of an HTML page, in document order — the
    * WAT-style link-extraction primitive (r19). ONE regex constant
    * shared verbatim with the DuckDB oracle (no lookahead, no
    * backreference, whitespace spelled as an explicit class per the
    * PreTokenPattern discipline — Java's \s and RE2's disagree on
    * \x0B — so it runs identically on Java regex and RE2); accepts
    * either quote style. */
  val HrefPattern: String =
    "(?i)href[ \\t\\r\\n]*=[ \\t\\r\\n]*[\"']([^\"']+)[\"']"

  def extractHrefs(html: Column): Column =
    call_function("regexp_extract_all", html, lit(HrefPattern), lit(1))

  /**
   * The REAL crawl link graph (r19, r16-verdict task #6): pages
   * (url, html) → (src_host, dst_host, n_links) host-level edges —
   * what [[graft.ops.Graph.pageRank]] / kCore actually rank a crawl
   * with (the WAT sidecar of a WARC capture, computed straight from
   * [[graft.sources.Warc.readWarc]] response records). Resolution
   * rules, each the deterministic twin of its oracle fragment:
   * absolute http(s) links take their own host (lowercased, port
   * excluded); protocol-relative `//host/...` likewise; other schemes
   * (mailto:, javascript:, ftp:) are dropped; everything else is a
   * relative link — a self-edge to the source host. Pages without a
   * parseable source host are dropped.
   *
   * Scale shape: href extraction + host resolution are per-row regex
   * work fused into the scan; the ONLY exchange is the final
   * groupBy(src_host, dst_host) — a partial-aggregated (map-side
   * combined) shuffle of host-pair rows, never the page payloads. At
   * 100 TB the html never moves: edges leave the scan stage already
   * reduced to (host, host) pairs.
   */
  def linkGraph(pages: org.apache.spark.sql.DataFrame, urlCol: String,
      htmlCol: String): org.apache.spark.sql.DataFrame =
    // r19: the r18 scan fan-out is REVERTED here — the href regex above
    // this scan is cheap relative to an added exchange (r18 driver data:
    // 0.27 → 0.43 s, plan 2 → 4 Exchanges; the builder's own snapshots
    // agreed), and at real scale row-group parallelism covers it.
    linkEdges(pages, urlCol, htmlCol)
      .groupBy(col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n_links"))

  /** [[linkGraph]]'s per-row half — (src_host, dst_host) edge rows
    * before aggregation, `carry` columns passed through (the streaming
    * twin carries its event time). Everything here fuses into the
    * scan stage; no exchange. */
  private[graft] def linkEdges(pages: org.apache.spark.sql.DataFrame,
      urlCol: String, htmlCol: String,
      carry: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val srcHost = urlHost(col(urlCol))
    val exploded = pages
      .select(srcHost.as("src_host") +:
        explode(extractHrefs(col(htmlCol))).as("href") +:
        carry.map(col): _*)
      .filter(col("src_host") =!= "")
    exploded
      .select(col("src_host") +: hrefHost.as("dst_host") +: carry.map(col): _*)
      .filter(col("dst_host").isNotNull && col("dst_host") =!= "")
  }

  /** The lowercased host of an absolute http(s) URL ('' when none). */
  private def urlHost(url: Column): Column =
    lower(regexp_extract(url, "^[a-zA-Z]+://([^/:?#]+)", 1))

  /** The host an `href` on a page of `src_host` points at: an absolute
    * URL's own host, a protocol-relative one's, NULL for other schemes
    * (mailto:, javascript:), else the page's own host. */
  private def hrefHost: Column = {
    val absHost = lower(
      regexp_extract(col("href"), "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1))
    val protoRelHost = lower(regexp_extract(col("href"), "^//([^/:?#]+)", 1))
    when(col("href").rlike("(?i)^https?://"), absHost)
      .when(col("href").rlike("^//"), protoRelHost)
      .when(col("href").rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:"), lit(null))
      .otherwise(col("src_host"))
  }

  /** (href, anchor-text) pair pattern — [[HrefPattern]] extended with
    * the `<a>` element's text content (tag-free spans only; nested
    * markup inside an anchor yields no pair by contract). Whitespace
    * spelled as an explicit class (the PreTokenPattern discipline —
    * Java's \s and RE2's disagree on \x0B). */
  val AnchorPattern: String =
    "(?i)<a[ \\t\\r\\n][^>]*href[ \\t\\r\\n]*=[ \\t\\r\\n]*" +
      "[\"']([^\"']+)[\"'][^>]*>([^<]*)</a>"

  /**
   * ANCHOR-TEXT corpus (r19): pages (url, html) → (dst_host, anchor,
   * n) — what the link text of the web says about each target host
   * (the anchor-text sidecar of a WAT extraction; search and
   * link-context training corpora are built from exactly this).
   * Hrefs resolve with [[linkGraph]]'s rules; anchors are trimmed,
   * lowercased, and empty ones dropped. Per-row regex work in the
   * scan; ONE map-side-combined exchange on (dst_host, anchor).
   */
  def anchorTexts(pages: org.apache.spark.sql.DataFrame, urlCol: String,
      htmlCol: String): org.apache.spark.sql.DataFrame = {
    val srcHost = urlHost(col(urlCol))
    val hrefs = call_function(
      "regexp_extract_all", col(htmlCol), lit(AnchorPattern), lit(1))
    val anchors = call_function(
      "regexp_extract_all", col(htmlCol), lit(AnchorPattern), lit(2))
    val pairs = pages
      .select(srcHost.as("src_host"),
        explode(zip_with(hrefs, anchors,
          (h, t) => struct(h.as("href"), t.as("anchor")))).as("p"))
      .filter(col("src_host") =!= "")
      .select(col("src_host"), col("p.href").as("href"),
        lower(trim(col("p.anchor"))).as("anchor"))
      .filter(col("anchor") =!= "")
    pairs.select(hrefHost.as("dst_host"), col("anchor"))
      .filter(col("dst_host").isNotNull && col("dst_host") =!= "")
      .groupBy(col("dst_host"), col("anchor"))
      .agg(count(lit(1)).as("n"))
  }

  /**
   * robots.txt PARSER (r19) — the real-input feeder of
   * [[crawlAllowFilter]]: per (host, robots-body) row, the
   * (host, prefix, allow) rule frame of the `*` agent's block(s).
   * Grammar handled (REP, RFC 9309 subset): `#` comments stripped,
   * keys case-insensitive, a rule governed by the NEAREST preceding
   * User-agent line (stacked multi-agent groups are out of scope by
   * contract — documented, spec-pinned), non-`*` agent blocks
   * excluded, empty-path rules (RFC: "Disallow:" = allow everything)
   * skipped as no-ops. DISTRIBUTED parse: posexplode lines in the
   * scan stage, ONE host-partitioned window (a robots file is tiny by
   * protocol — the window never sees more than one file's lines).
   */
  def parseRobots(robots: org.apache.spark.sql.DataFrame, hostCol: String,
      bodyCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = robots
      .select(col(hostCol).as("host"),
        posexplode(split(col(bodyCol), "\n")).as(Seq("pos", "raw")))
      .select(col("host"), col("pos"),
        // CR stripped FIRST (real robots.txt is CRLF more often than
        // not; Column trim removes spaces only, so a trailing \r would
        // otherwise survive into the rule prefix), then comments, then
        // the space trim
        trim(regexp_replace(regexp_replace(col("raw"), "\r", ""),
          "#.*$", "")).as("l"))
    val tagged = lines
      .select(col("host"), col("pos"),
        lower(regexp_extract(col("l"),
          "(?i)^(user-agent|allow|disallow)[ \\t]*:", 1)).as("k"),
        trim(regexp_extract(col("l"),
          "(?i)^(?:user-agent|allow|disallow)[ \\t]*:[ \\t]*([^ \\t]*)", 1))
          .as("v"))
      .filter(col("k") =!= "")
    val w = Window.partitionBy(col("host")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("agent",
        last(when(col("k") === "user-agent", col("v")), ignoreNulls = true)
          .over(w))
      .filter(col("k").isin("allow", "disallow") &&
        col("agent") === "*" && col("v") =!= "")
      .select(col("host"), col("v").as("prefix"),
        (col("k") === "allow").as("allow"))
      .distinct()
  }

  /**
   * Multinomial NAIVE BAYES trainer (r19) — the TRAINING half the r18
   * classifier-serving op was missing: labeled docs → a (label, token,
   * kind, w_micro) model frame. Laplace-smoothed log-likelihoods in
   * integer MICRO-LOG units (round(ln·1e6) longs) so classification
   * sums are exact under any partitioning and order — the scoreLinear
   * discipline applied to generative training. kinds: 'tok' =
   * ln((c+1)/(N_label+V)) per seen (label, token); 'unseen' =
   * ln(1/(N_label+V)) per label (the smoothing mass a token absent
   * from that label's rows takes); 'prior' = ln(n_label/n). This is
   * the fastText-style bag-of-tokens classifier a corpus pipeline
   * trains for quality/language routing — two count aggregations, no
   * iteration, model rows ≈ vocab × labels.
   */
  def trainNaiveBayes(docs: org.apache.spark.sql.DataFrame,
      labelCol: String, textCol: String): org.apache.spark.sql.DataFrame =
    // r19 (guide §2.4 — the sessionCooccurrence pattern): the counts
    // frame is BOUNDED (≈ vocab × labels rows) but the model derivation
    // consumes it from FIVE subtrees, and the raw tl ∪ nd union has no
    // terminal exchange Catalyst could reuse (each consumer's kind
    // filter pushes INTO the union branches, so the subtrees differ and
    // the tokenize+count re-ran per consumer — q_nb_classify's before
    // plan ran 20 parquet scans). Materialize once per invocation.
    // NOT inside naiveBayesFromCounts: the incremental path's merged
    // counts END in a groupBy whose exchange all consumers already
    // reuse — a checkpoint there measured 0.95 → 1.25 s (A/B, kept off).
    naiveBayesFromCounts(
      naiveBayesCounts(docs, labelCol, textCol).localCheckpoint(false))

  /**
   * The SUFFICIENT STATISTICS of [[trainNaiveBayes]] (r20) — raw
   * integer counts, the mergeable form: `kind = 'tok'` rows carry
   * (label, token) occurrence counts, `kind = 'docs'` rows (token =
   * '') carry per-label document counts. Everything the model
   * derivation needs (per-label token totals, vocabulary size, corpus
   * size) is a sum or distinct over these, so counts from disjoint
   * corpus slices merge EXACTLY by summation — the incremental
   * training form ([[mergeNaiveBayesCounts]] + [[naiveBayesFromCounts]]
   * == retraining on the union, integer-exact, oracle-gated by
   * q_nb_incremental).
   */
  def naiveBayesCounts(docs: org.apache.spark.sql.DataFrame,
      labelCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    // r19 note: a fanOutSmallScan here was A/B'd and LOST on the
    // incremental gate (0.95 → ~1.6-2.5 s) — the tokenize+count partial
    // aggregate is cheap enough that the extra exchange never pays at
    // this kernel weight; the train/classify wins came from the
    // trainNaiveBayes checkpoint and the classify-side fan-out instead.
    val tl = docs.select(col(labelCol).as("label"),
        explode(tokensNative(col(textCol))).as("token"))
      .groupBy(col("label"), col("token"))
      .agg(count(lit(1)).as("c"))
      .select(col("label"), col("token"), lit("tok").as("kind"), col("c"))
    val nd = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("c"))
      .select(col("label"), lit("").as("token"), lit("docs").as("kind"),
        col("c"))
    tl.unionByName(nd)
  }

  /** Merge two [[naiveBayesCounts]] frames: counts add. Associative and
    * commutative — batch order never matters. */
  def mergeNaiveBayesCounts(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    a.unionByName(b)
      .groupBy(col("label"), col("token"), col("kind"))
      .agg(sum(col("c")).as("c"))

  /** Derive the [[trainNaiveBayes]] model from [[naiveBayesCounts]]
    * sufficient statistics — THE model derivation (trainNaiveBayes
    * delegates here, so the batch and incremental paths cannot
    * drift). */
  def naiveBayesFromCounts(counts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tl = counts.filter(col("kind") === "tok")
      .select(col("label"), col("token"), col("c"))
    val nd = counts.filter(col("kind") === "docs")
      .select(col("label"), col("c").as("nd"))
    val lt = tl.groupBy(col("label")).agg(sum(col("c")).as("n_l"))
    val v = tl.select(col("token")).distinct()
      .agg(count(lit(1)).as("v")) // 1 row
    val n = nd.agg(sum(col("nd")).as("n")) // 1 row
    def microLog(x: Column): Column = round(log(x) * 1e6).cast("long")
    val wTok = tl.join(lt, "label").crossJoin(broadcast(v))
      .select(col("label"), col("token"), lit("tok").as("kind"),
        microLog((col("c") + 1).cast("double") /
          (col("n_l") + col("v")).cast("double")).as("w_micro"))
    val wUnseen = lt.crossJoin(broadcast(v))
      .select(col("label"), lit("").as("token"), lit("unseen").as("kind"),
        microLog(lit(1.0) / (col("n_l") + col("v")).cast("double"))
          .as("w_micro"))
    val wPrior = nd.crossJoin(broadcast(n))
      .select(col("label"), lit("").as("token"), lit("prior").as("kind"),
        microLog(col("nd").cast("double") / col("n").cast("double"))
          .as("w_micro"))
    wTok.unionByName(wUnseen).unionByName(wPrior)
  }

  /**
   * Classify with a [[trainNaiveBayes]] model: per doc, argmax over
   * labels of prior + Σ token weights (unseen tokens take the label's
   * smoothing weight). Integer micro-log sums → exact, order-free;
   * ties break on label ascending. Scale shape: tokens explode in the
   * scan, one (label, token) join against the model (broadcast when
   * the vocab is bounded, shuffle otherwise), one (doc, label) sum,
   * one doc-partitioned argmax window; the ×|labels| row blow-up is
   * the documented cost (labels are few by contract).
   */
  def classifyNaiveBayes(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      model: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val priors = model.filter(col("kind") === "prior")
      .select(col("label"), col("w_micro").as("__prior"))
    val unseen = model.filter(col("kind") === "unseen")
      .select(col("label"), col("w_micro").as("__w_unseen"))
    val tokW = model.filter(col("kind") === "tok")
      .select(col("label"), col("token"), col("w_micro"))
    // r19: fan a one-row-group scan out before the tokenize+explode and
    // the ×|labels| scoring joins (identity on real scans)
    val dt = graft.ops.Scale.fanOutSmallScan(docs, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(tokensNative(col(textCol))).as("token"))
    val scored = dt
      .crossJoin(broadcast(priors.select(col("label"))))
      .join(tokW, Seq("label", "token"), "left")
      .join(broadcast(unseen), "label")
      .select(col("doc_id"), col("label"),
        coalesce(col("w_micro"), col("__w_unseen")).as("w"))
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("w")).as("__s"))
      .join(broadcast(priors), "label")
      .select(col("doc_id"), col("label"),
        (col("__s") + col("__prior")).as("score_micro"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("label").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("label").as("predicted"),
        col("score_micro"))
  }

  /** sitemap.xml `<loc>` pattern — tag-free content, whitespace
    * trimmed column-side (sitemaps.org protocol). */
  val SitemapLocPattern: String = "(?i)<loc>([^<]*)</loc>"

  /**
   * sitemap.xml PARSER (r19) — the third real crawl input after WARC
   * and robots.txt: per (host, sitemap-body) row, the host's seed URLs
   * as CANONICAL forms ([[canonicalUrl]] — the frontier's dedup key,
   * so seeds land pre-canonicalized for [[urlDedup]] /
   * [[crawlSchedule]]). Empty and scheme-less locs drop; duplicates
   * fold. Per-row regex extraction in the scan; the distinct is the
   * only exchange.
   */
  def parseSitemap(sitemaps: org.apache.spark.sql.DataFrame,
      hostCol: String, bodyCol: String): org.apache.spark.sql.DataFrame =
    sitemaps
      .select(col(hostCol).as("host"),
        explode(call_function("regexp_extract_all", col(bodyCol),
          lit(SitemapLocPattern), lit(1))).as("raw"))
      // FULL whitespace trim (Column trim strips spaces only — a loc
      // padded with newlines/tabs, legal XML, would keep them)
      .select(col("host"), canonicalUrl(
        regexp_replace(col("raw"), "^[ \\t\\r\\n]+|[ \\t\\r\\n]+$", ""))
        .as("canonical_url"))
      .filter(col("canonical_url").rlike("^[a-z]+://."))
      .distinct()

  def urlParts(url: Column): Seq[Column] = {
    def part(re: String, as: String) =
      nullif(regexp_extract(url, re, 1), lit("")).as(as)
    Seq(
      part("^[a-z]+://([^/:?#]+)", "host"),
      nullif(regexp_extract(url, "^[a-z]+://[^/:?#]+:([0-9]+)", 1), lit(""))
        .cast("int").as("port"),
      part("^[a-z]+://[^/?#]*(/[^?#]*)", "path"),
      part("\\?([^#]*)", "query"))
  }

  /**
   * Canonical URL form — the crawl-dedup prerequisite: the same page
   * arrives as `HTTPS://Site.org:443/a/?utm_source=x#frag` and
   * `https://site.org/a` and byte-level dedup sees two documents.
   * Normalization (each step deterministic, mirrored in the oracle):
   * (1) scheme and host lowercase; (2) default ports dropped (http:80,
   * https:443); (3) the fragment dropped; (4) tracking parameters
   * dropped (utm_*, ref, fbclid, gclid) and the survivors SORTED
   * (param order is transport noise); (5) trailing path slashes
   * dropped. Pure column expression — regexp_extract parsing (no
   * backreference replacement, whose syntax differs across engines)
   * plus short-array HOFs (interpreted, but over ≤ a few dozen params
   * per URL — never row-count state).
   */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([a-zA-Z]+)://", 1))
    val host = lower(regexp_extract(url, "^[a-zA-Z]+://([^/:?#]+)", 1))
    val port = regexp_extract(url, "^[a-zA-Z]+://[^/:?#]+:([0-9]+)", 1)
    val path = regexp_replace(
      regexp_extract(url, "^[a-zA-Z]+://[^/?#]*([^?#]*)", 1), "/+$", "")
    val query = regexp_extract(url, "\\?([^#]*)", 1)
    val keptQuery = array_join(sort_array(filter(split(query, "&"),
      p => !p.rlike("^(utm_[^=]*|ref|fbclid|gclid)="))), "&")
    val portPart = when(port === "" ||
      (scheme === "http" && port === "80") ||
      (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    concat(scheme, lit("://"), host, portPart, path,
      when(keptQuery === "", lit("")).otherwise(concat(lit("?"), keptQuery)))
  }

  /**
   * URL-level dedup over [[canonicalUrl]]: one row per canonical form
   * with its duplicate count and representative (min id) — the crawl
   * frontier's "have I fetched this page already" reduction. One
   * map-side-combinable aggregate; the canonicalization runs inside
   * the scan stage. Null URLs are excluded by contract.
   */
  /**
   * CRAWL FETCH SCHEDULING — per-domain politeness waves: a frontier
   * that fetches more than one URL per host per scheduling round
   * hammers servers, so each host's queue is ordered (priority desc,
   * canonical url, request id — fully deterministic) and the rank IS
   * the wave number: wave w contains AT MOST ONE url per host, and a
   * fetcher that drains waves in order is polite by construction
   * while staying maximally parallel ACROSS hosts — the Heritrix-style
   * queue-rotation shape as one window. `n_queue` (the host's queue
   * depth = its wave ceiling) is the hot-host diagnostic that sizes
   * the crawl's tail: max(n_queue) rounds are needed to drain.
   *
   * Scale shape: canonicalization is per-row regex in the scan stage;
   * ONE window partitioned by host (the natural key — a hot host's
   * queue is exactly the thing being serialized, and even a
   * million-URL host queue is one partition's sort, not a corpus
   * sort); the depth count rides the same exchange.
   */
  def crawlSchedule(urls: org.apache.spark.sql.DataFrame, idCol: String,
      urlCol: String, priorityCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val canon = urls.select(col(idCol).as("req_id"),
      canonicalUrl(col(urlCol)).as("canonical_url"),
      col(priorityCol).as("priority"))
      .withColumn("host",
        regexp_extract(col("canonical_url"), "^[a-z]+://([^/:?#]+)", 1))
    val rankW = Window.partitionBy(col("host"))
      .orderBy(col("priority").desc, col("canonical_url").asc,
        col("req_id").asc)
    val cntW = Window.partitionBy(col("host"))
    canon
      .withColumn("wave", row_number().over(rankW))
      .withColumn("n_queue", count(lit(1)).over(cntW))
  }

  /**
   * ROBOTS-STYLE frontier filtering — the allow/deny half of crawl
   * operations ([[crawlSchedule]] is the politeness half): each URL is
   * matched against its host's path-prefix rules and the LONGEST
   * matching prefix wins (the Google robots.txt precedence rule);
   * equal-length ties go to allow (the standard least-restrictive
   * tie-break); a URL whose host has no matching rule is allowed
   * (robots semantics: absence of a rule is consent). `rules` =
   * (host, prefix, allow) — the parsed robots corpus a fetcher
   * maintains. Output: (req_id, canonical_url, host, path, allowed,
   * rule_prefix — null when no rule matched).
   *
   * Scale shape: canonicalization and path extraction are per-row
   * scan-stage regex; the rules side is small by nature (robots files
   * are KBs per host) and BROADCASTS, so the frontier never shuffles
   * for the match; the longest-prefix winner is a per-req_id window
   * over matched rules only (a URL matches at most a handful of its
   * host's prefixes).
   */
  def crawlAllowFilter(urls: org.apache.spark.sql.DataFrame, idCol: String,
      urlCol: String,
      rules: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val canon = urls.select(col(idCol).as("req_id"),
        canonicalUrl(col(urlCol)).as("canonical_url"))
      .withColumn("host",
        regexp_extract(col("canonical_url"), "^[a-z]+://([^/:?#]+)", 1))
      .withColumn("path", coalesce(
        nullif(regexp_extract(col("canonical_url"),
          "^[a-z]+://[^/?#]*(/[^?#]*)", 1), lit("")), lit("/")))
    val matched = canon
      .join(broadcast(rules.select(col("host"), col("prefix"), col("allow"))),
        Seq("host"))
      .filter(col("path").startsWith(col("prefix")))
    val w = Window.partitionBy(col("req_id"))
      .orderBy(length(col("prefix")).desc, col("allow").desc,
        col("prefix").asc)
    val best = matched
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("req_id"), col("prefix").as("rule_prefix"),
        col("allow").as("__allow"))
    canon.join(best, Seq("req_id"), "left")
      .select(col("req_id"), col("canonical_url"), col("host"), col("path"),
        coalesce(col("__allow"), lit(true)).as("allowed"),
        col("rule_prefix"))
  }

  def urlDedup(df: org.apache.spark.sql.DataFrame, idCol: String,
      urlCol: String): org.apache.spark.sql.DataFrame =
    df.filter(col(urlCol).isNotNull)
      .select(col(idCol).as("id"), canonicalUrl(col(urlCol)).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_dups"), min(col("id")).as("rep_id"))

  /**
   * READABILITY metrics — the Flesch-Kincaid-family quality signal
   * (a training-corpus curation axis orthogonal to [[qualityScore]]'s
   * junk detection: grade level says "how hard is this text", not
   * "is it text at all"). Counts are corpus-scale heuristics, exact
   * and engine-replayable: words = [[tokens]] arity, sentences =
   * `[.!?]+` runs (min 1 once any word exists), syllables = vowel
   * runs `[aeiouy]+` floored at one per word (the classic
   * approximation). FK grade = 0.39·(words/sentences) +
   * 11.8·(syllables/words) − 15.59, fixed operation order, 6-dp.
   * Wordless documents → NULL grade (never an ANSI divide — the
   * DegenerateDocs lesson).
   */
  def readability(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val words = size(tokens(col(textCol)))
    val sentencesRaw = size(call_function("regexp_extract_all",
      col(textCol), lit("[.!?]+"), lit(0)))
    val vowelRuns = size(call_function("regexp_extract_all",
      lower(col(textCol)), lit("[aeiouy]+"), lit(0)))
    df.select(col(idCol), words.as("n_words"),
        when(words > 0, greatest(sentencesRaw, lit(1))).otherwise(lit(0))
          .as("n_sentences"),
        when(words > 0, greatest(vowelRuns, words)).otherwise(lit(0))
          .as("n_syllables"))
      .withColumn("fk_grade",
        round(when(col("n_words") > 0,
          lit(0.39) * (col("n_words").cast("double") /
            col("n_sentences").cast("double")) +
          lit(11.8) * (col("n_syllables").cast("double") /
            col("n_words").cast("double")) - lit(15.59))
          .otherwise(lit(null)), 6))
  }
}
