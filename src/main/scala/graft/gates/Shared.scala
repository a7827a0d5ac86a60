package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Similarity, TextOps}

/** Table IO and the sub-plans and DuckDB fragments that gates of two or
  * more families share; a fragment used by one family lives in its file. */
private[graft] object Shared {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    // normalizeTs: the events.ts input has shipped as both
    // TIMESTAMP(NANOS)-as-long and native timestamp[us] (→ timestamp_ntz);
    // every query site expects the epoch-nanos long, so normalize at the
    // single load boundary (no-op projection for non-ts tables).
    graft.ops.EventTime.normalizeTs(graft.sources.Tables.load(s, dir, name))

  val MinhashK = 8
  val MinhashBands = 4

  val EmbDim = 64

  // SRP banding for near-dup candidate pairs: 64 planes cut into 16
  // four-bit bands (recall 0.93 vs the all-pairs truth at cos ≥ 0.4 on
  // the test corpus — audited in SimilaritySpec)
  val SrpPlanes = 64
  val SrpBandBits = 4

  // Bloom decontamination filter: 2^18 bits (32 KB broadcast), 3 hashes —
  // ~1-2% false-positive rate at gate-scale eval fill, replayed exactly
  // by the oracle from the same md5 position family
  val BloomBits = 1 << 18
  val BloomHashes = 3

  def docs(s: SparkSession, dir: String) = t(s, dir, "documents")

  def emb(s: SparkSession, dir: String) =
    Similarity.prepared(t(s, dir, "embeddings"), "vec_id", "embedding")

  /** The synthesized linked pages the q_link_graph gate runs on — a
    * deterministic (url, html) frame whose hrefs exercise every
    * resolution rule of [[TextOps.linkGraph]]; the DuckDB side
    * synthesizes the SAME strings. */
  def linkPages(s: SparkSession, dir: String,
      docFilter: Column = lit(true)) =
    docs(s, dir).filter(docFilter).select(
      concat(lit("https://"), col("source"), lit(".site.org/doc/"),
        col("doc_id").cast("string")).as("url"),
      concat(
        lit("<html><body><a href=\"https://"), col("source"),
        lit(".example.org/p"), (col("doc_id") % 7).cast("string"),
        lit("\">x</a>"),
        when(col("doc_id") % 3 === 0,
          lit("<p>see <a href='/local/page'>here</a></p>"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit("<A HREF=\"HTTPS://Mirror."), upper(col("source")),
            lit(".ORG:443/z\">m</a>"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit("<a href=\"mailto:a@ex.org\">mail</a>" +
            "<a href=\"//cdn.shared.net/lib.js\">cdn</a>"))
          .otherwise(lit("")),
        lit("</body></html>")).as("html"))

  /** The synthesized-page link-edge CTEs shared by q_link_graph /
    * q_link_pagerank: the SQL twin of [[linkPages]] +
    * [[graft.ops.TextOps.linkGraph]]'s resolution rules, ending at
    * CTE `edges` (src_host, dst_host — pre-aggregation). */
  lazy val LinkEdgesSql: String = linkEdgesSql(batched = false)

  /** An href's destination host, as [[graft.ops.TextOps.linkGraph]]
    * resolves it: absolute and protocol-relative hrefs name their host,
    * other schemes (mailto:) none, and relative ones stay on `src_host`. */
  val HrefHostSql =
    """    CASE WHEN regexp_matches(href, '(?i)^https?://')
      |      THEN lower(regexp_extract(href,
      |        '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1))
      |    WHEN regexp_matches(href, '^//')
      |      THEN lower(regexp_extract(href, '^//([^/:?#]+)', 1))
      |    WHEN regexp_matches(href, '^[a-zA-Z][a-zA-Z0-9+.-]*:') THEN NULL
      |    ELSE src_host END AS dst_host""".stripMargin

  /** `batched = true` carries `b = doc_id % 2` through pages → hrefs →
    * edges — the two-segment multiset the q_link_pagerank_delta oracle
    * needs (each batch's (src, dst) edges count SEPARATELY, matching
    * the per-batch [[graft.ops.TextOps.linkGraph]] union the Spark
    * delta path ranks). */
  def linkEdgesSql(batched: Boolean): String = {
    val href = graft.ops.TextOps.HrefPattern.replace("'", "''")
    val bp = if (batched) "doc_id % 2 AS b,\n       |    " else ""
    val bc = if (batched) "b, " else ""
    s"""WITH pages AS (SELECT
       |    ${bp}'https://' || source || '.site.org/doc/' || doc_id::VARCHAR AS url,
       |    '<html><body><a href="https://' || source || '.example.org/p'
       |      || (doc_id % 7)::VARCHAR || '">x</a>'
       |    || CASE WHEN doc_id % 3 = 0
       |         THEN '<p>see <a href=''/local/page''>here</a></p>' ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0
       |         THEN '<A HREF="HTTPS://Mirror.' || upper(source) || '.ORG:443/z">m</a>' ELSE '' END
       |    || CASE WHEN doc_id % 4 = 0
       |         THEN '<a href="mailto:a@ex.org">mail</a><a href="//cdn.shared.net/lib.js">cdn</a>' ELSE '' END
       |    || '</body></html>' AS html
       |  FROM documents),
       |hrefs AS (SELECT $bc
       |    lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1)) AS src_host,
       |    unnest(regexp_extract_all(html, '$href', 1)) AS href
       |  FROM pages),
       |edges AS (SELECT ${bc}src_host,
       |$HrefHostSql
       |  FROM hrefs WHERE src_host <> '')
       |""".stripMargin
  }

  /** hex char → value, as DuckDB SQL. */
  def hexv(c: String) = s"(strpos('0123456789abcdef', $c) - 1)"

  /** first `n` hex chars of md5 string expr `m` (1-based `off`) as BIGINT. */
  def hexToLong(m: String, off: Int, n: Int) =
    s"list_sum(list_transform(range(1, ${n + 1}), i -> ${hexv(s"$m[i + ${off - 1}]")}::BIGINT * (1::BIGINT << (4*($n - i)))))"

  /** DuckDB replay of [[graft.ops.TextOps.boilerplateClean]]'s shared
    * frame over ANY prior CTE `src`(doc_id, source, text): emits CTEs
    * `bp_d` (trimmed non-empty lines) … `bp_j` (doc_id, source, lines,
    * kept). Parameterized (r17) so the composed crawl-prep oracle
    * replays the SAME chain the standalone boilerplate gates pin. */
  def boilerplateCtesSql(src: String, minDocFrac: Double = 0.4): String =
    s"""bp_d AS (SELECT doc_id, source,
        |    list_filter(list_transform(string_split(text, chr(10)),
        |      l -> trim(l)), l -> l <> '') AS lines
        |  FROM $src),
        |bp_lh AS (SELECT DISTINCT doc_id, source, lhash FROM bp_d,
        |    unnest(list_transform(lines, l -> md5(l))) AS t(lhash)),
        |bp_sd AS (SELECT source, count(DISTINCT doc_id) AS n_docs
        |  FROM $src GROUP BY source),
        |bp_bf AS (SELECT source, lhash, count(DISTINCT doc_id) AS n_with
        |  FROM bp_lh GROUP BY source, lhash),
        |bp_b AS (SELECT bp_bf.source, bp_bf.lhash FROM bp_bf JOIN bp_sd USING (source)
        |  WHERE n_with >= 2
        |    AND n_with::DOUBLE / n_docs::DOUBLE >= $minDocFrac),
        |bp_bs AS (SELECT source, list(lhash) AS bh FROM bp_b GROUP BY source),
        |bp_j AS (SELECT d.doc_id, d.source, d.lines,
        |    list_filter(d.lines,
        |      l -> NOT list_contains(coalesce(bs.bh, []), md5(l))) AS kept
        |  FROM bp_d d LEFT JOIN bp_bs bs ON d.source = bs.source)""".stripMargin

  val ToksSql = "regexp_extract_all(lower(text), '[a-z0-9]+')"
  val ShinglesSql =
    """CASE WHEN len(toks) >= 3
      | THEN list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      | ELSE [array_to_string(toks, ' ')] END""".stripMargin

  /** Kirsch-Mitzenmacher replay: a/b = unsigned 32-bit halves of md5(s)
    * (hex chars 1-8 / 9-16); hash_j = (a + j*b) mod 2^32. Must equal
    * [[graft.functions.MinHashSignature]] bit-for-bit. */
  val SigSql =
    s"""list_transform(range(0, 8), j -> list_min(list_transform(sh,
       | s -> (${hexToLong("md5(s)", 1, 8)} + j * ${hexToLong("md5(s)", 9, 8)}) & 4294967295)))""".stripMargin
  val BandsSql =
    "list_transform(range(0, 4), b -> md5(b || ':' || sig[2*b+1]::VARCHAR || ',' || sig[2*b+2]::VARCHAR))"

  /** 64-bit SimHash bit-vote over a `hashes` md5-hex list column — shared
    * by q_simhash and q_simhash_pairs so the signature and the pairing
    * can never drift apart. */
  val SimhashSigSql =
    s"""array_to_string(list_transform(range(0, 64), b ->
       |  CASE WHEN coalesce(list_sum(list_transform(hashes, h ->
       |    2 * ((${hexv("h[(b // 4) + 1]")} // (CASE b % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END)) % 2) - 1)), 0) >= 0
       |  THEN '1' ELSE '0' END), '')""".stripMargin

  /** CTEs `sig_t`, `bands_t` and `pairs_t`(id1, id2): the MinHash
    * band-equal candidate pairs of a shingled CTE `sh_t`(doc_id, sh). */
  val MinhashPairsCtes =
    s"""sig_t AS (SELECT doc_id, $SigSql AS sig FROM sh_t),
       |bands_t AS (SELECT doc_id, unnest($BandsSql) AS band_key FROM sig_t),
       |pairs_t AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bands_t a JOIN bands_t b ON a.band_key = b.band_key AND a.doc_id < b.doc_id)""".stripMargin

  val PairsCte =
    s"""WITH toks_t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |sh_t AS (SELECT doc_id, $ShinglesSql AS sh FROM toks_t),
       |$MinhashPairsCtes""".stripMargin

  /** DuckDB: (vec_id, v double[], nrm) with left-fold norm. */
  val EmbCte =
    """WITH c AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      |n AS (SELECT vec_id, v,
      |  sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x*x)), (a, x) -> a + x)) AS nrm
      |  FROM c)""".stripMargin

  /** The Gopher battery over ANY prior CTE `src`(doc_id, text):
    * parameterized (r17) CTE chain `gf_d` → `gf_s` → `gf_flags`
    * (doc_id, metrics, pass flags, keep) — shared by the standalone
    * `TextGates.GopherFlagsSql` gate and the composed crawl oracle so the
    * rule formulas can never drift between the two. */
  def gopherCtesSql(src: String): String = {
    val stops = TextOps.EN_STOP.map(w => s"'$w'").mkString("[", ", ", "]")
    // rule bounds interpolated from the ONE shared constant set
    // (TextOps.Gopher*) so the oracle can never drift from the frame
    // and streaming-column ops
    val (mlMin, mlMax) = (TextOps.GopherMeanLenMin, TextOps.GopherMeanLenMax)
    val (syMax, buMax) = (TextOps.GopherSymbolMax, TextOps.GopherBulletMax)
    val (elMax, alMin) = (TextOps.GopherEllipsisMax, TextOps.GopherAlphaMin)
    val stMin = TextOps.GopherStopwordsMin
    s"""gf_d AS (SELECT doc_id, text,
         |    list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS words,
         |    list_filter(list_transform(string_split(text, chr(10)),
         |      l -> trim(l)), l -> l <> '') AS lines
         |  FROM $src),
         |gf_s AS (SELECT doc_id,
         |    len(words) AS n_words,
         |    round(CASE WHEN len(words) > 0
         |      THEN list_reduce(list_prepend(0::BIGINT,
         |          list_transform(words, w -> length(w)::BIGINT)),
         |        (a, b) -> a + b)::DOUBLE / len(words)::DOUBLE
         |      ELSE 0.0 END, 6) AS mean_word_len,
         |    round(CASE WHEN len(words) > 0
         |      THEN ((length(text) - length(replace(text, '#', '')))
         |        + (length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE
         |        / len(words)::DOUBLE
         |      ELSE 0.0 END, 6) AS symbol_ratio,
         |    round(CASE WHEN len(lines) > 0
         |      THEN len(list_filter(lines, l -> starts_with(l, '-')
         |          OR starts_with(l, '*') OR starts_with(l, '•')))::DOUBLE
         |        / len(lines)::DOUBLE
         |      ELSE 0.0 END, 6) AS bullet_ratio,
         |    round(CASE WHEN len(lines) > 0
         |      THEN len(list_filter(lines, l -> ends_with(l, '...')))::DOUBLE
         |        / len(lines)::DOUBLE
         |      ELSE 0.0 END, 6) AS ellipsis_ratio,
         |    round(CASE WHEN len(words) > 0
         |      THEN len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE
         |        / len(words)::DOUBLE
         |      ELSE 0.0 END, 6) AS alpha_ratio,
         |    len(list_intersect(list_distinct(list_transform(words, w -> lower(w))),
         |      $stops)) AS n_stopwords
         |  FROM gf_d),
         |gf_flags AS (SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
         |  ellipsis_ratio, alpha_ratio, n_stopwords,
         |  (n_words >= 20 AND n_words <= 100000) AS pass_words,
         |  (mean_word_len >= $mlMin AND mean_word_len <= $mlMax) AS pass_mean_len,
         |  (symbol_ratio <= $syMax) AS pass_symbols,
         |  (bullet_ratio <= $buMax) AS pass_bullets,
         |  (ellipsis_ratio <= $elMax) AS pass_ellipsis,
         |  (alpha_ratio >= $alMin) AS pass_alpha,
         |  (n_stopwords >= $stMin) AS pass_stopwords,
         |  (n_words >= 20 AND n_words <= 100000
         |    AND mean_word_len >= $mlMin AND mean_word_len <= $mlMax
         |    AND symbol_ratio <= $syMax AND bullet_ratio <= $buMax
         |    AND ellipsis_ratio <= $elMax AND alpha_ratio >= $alMin
         |    AND n_stopwords >= $stMin) AS keep
         |  FROM gf_s)""".stripMargin
  }

  // the \x{...} char classes are the SAME pattern text the Spark side
  // compiles (Java regex and RE2 both accept them)
  val KanaSql = """[\x{3040}-\x{309F}\x{30A0}-\x{30FF}]"""
  val HangulSql = """[\x{1100}-\x{11FF}\x{3130}-\x{318F}\x{AC00}-\x{D7AF}]"""
  val HanSql = """[\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}\x{F900}-\x{FAFF}]"""
  val CjkSql = """[\x{1100}-\x{11FF}\x{3040}-\x{309F}\x{30A0}-\x{30FF}""" +
    """\x{3130}-\x{318F}\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}""" +
    """\x{AC00}-\x{D7AF}\x{F900}-\x{FAFF}]"""

  /** DuckDB replay of [[graft.ops.TextOps.langIdCjk]] over ANY prior
    * CTE `src`(doc_id, text): parameterized (r17) chain `lg_c` (script
    * char counts + tokens) → `lg_s` (+ stopword votes) → `lg`
    * (doc_id, lang) — shared by the standalone q_langid_cjk gate and
    * the composed crawl-prep oracle. `lg_s` keeps text and the counts
    * so consumers can derive the CJK-aware token count. */
  def langCjkCtesSql(src: String): String = {
    def hits(words: Seq[String]) =
      s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"
    s"""lg_c AS (SELECT doc_id, text,
       |    length(text) - length(regexp_replace(text, '$KanaSql', '', 'g')) AS n_kana,
       |    length(text) - length(regexp_replace(text, '$HangulSql', '', 'g')) AS n_hangul,
       |    length(text) - length(regexp_replace(text, '$HanSql', '', 'g')) AS n_han,
       |    length(text) - length(regexp_replace(text, '$CjkSql', '', 'g')) AS n_cjk,
       |    $ToksSql AS toks
       |  FROM $src),
       |lg_s AS (SELECT doc_id, text, n_kana, n_hangul, n_han, n_cjk,
       |  ${hits(TextOps.EN_STOP)} AS s_en, ${hits(TextOps.ES_STOP)} AS s_es,
       |  ${hits(TextOps.FR_STOP)} AS s_fr, ${hits(TextOps.DE_STOP)} AS s_de
       |  FROM lg_c),
       |lg AS (SELECT doc_id, CASE
       |  WHEN n_kana > 0 THEN 'ja'
       |  WHEN n_hangul > 0 THEN 'ko'
       |  WHEN n_han > 0 THEN 'zh'
       |  WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
       |  WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_de THEN 'es'
       |  WHEN s_fr > 0 AND s_fr >= s_de THEN 'fr'
       |  WHEN s_de > 0 THEN 'de'
       |  ELSE 'und' END AS lang
       |  FROM lg_s)""".stripMargin
  }

  /** DuckDB replay of [[graft.ops.TextOps.redactPii]] over a `text`
    * expression: [[graft.ops.TextOps.redact]]'s email/URL masks, then
    * the [[graft.ops.TextOps.PiiPatterns]] fold in declared order —
    * shared by q_redact_pii and the composed crawl-prep oracle. */
  def piiRedactSql(e0: String): String = {
    var e = s"regexp_replace(regexp_replace($e0, " +
      "'[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'), " +
      "'https?://[^\\s]+', '<URL>', 'g')"
    graft.ops.TextOps.PiiPatterns.foreach { case (pat, repl) =>
      e = s"regexp_replace($e, '$pat', '$repl', 'g')"
    }
    e
  }

  /** The deterministic junk splice the q_normalize_text gate appends to
    * every ninth doc: zero-width space, curly quotes, em dash,
    * ellipsis, 'Ã©'/'â€™' mojibake, 'Â'+NBSP, and a BEL control char.
    * One Scala constant feeds BOTH engines so the bytes are identical. */
  val NormJunk =
    "​smart “quotes” — dash… " +
      "cafÃ© aâ€™b tailÂ end"

  /** DuckDB replay of [[graft.ops.TextOps.normalizeUnicode]]: the same
    * ordered step list, each a global regexp_replace; replacements via
    * chr() where a literal would hit DuckDB's no-escape strings. */
  def normalizeSql(e0: String): String =
    graft.ops.TextOps.UnicodeNormSteps.foldLeft(e0) { case (e, (pat, repl)) =>
      val r = repl match {
        case "\n" => "chr(10)"
        case "'" => "chr(39)"
        case other => s"'$other'"
      }
      s"regexp_replace($e, '$pat', $r, 'g')"
    }

  /** DuckDB replay of [[graft.ops.TextOps.extractHtmlText]]: the same
    * ordered step list from [[graft.ops.TextOps.Html]], each a
    * global-flag regexp_replace (RE2 — no backreferences, hence one
    * literal pattern per container tag) or a plain replace for the
    * entity decode (`&amp;` last). */
  def extractHtmlSql(e0: String): String = {
    def rr(e: String, pat: String, repl: String) =
      s"regexp_replace($e, '$pat', $repl, 'g')"
    var e = rr(e0, "(?s)<!--.*?-->", "''")
    e = rr(e, "(?s)<!\\[CDATA\\[.*?\\]\\]>", "''")
    graft.ops.TextOps.Html.containerTags.foreach { t =>
      e = rr(e, s"(?si)<$t\\b.*?</$t\\s*>", "''")
    }
    e = rr(e, graft.ops.TextOps.Html.blockTagPattern, "chr(10)")
    // tag-shaped spans only (r17): bare '<'/'>' prose survives
    e = rr(e, "</?[a-zA-Z][^>]*>", "''")
    e = rr(e, "<![^>]*>", "''")
    graft.ops.TextOps.Html.entities.foreach { case (k, v) =>
      val repl = v match {
        case "'" => "chr(39)"
        case "\"" => "chr(34)"
        case other => s"'$other'"
      }
      e = s"replace($e, '$k', $repl)"
    }
    e = rr(e, "[ \\t\\r]+", "' '")
    e = rr(e, " ?\\n ?", "chr(10)")
    e = rr(e, "\\n+", "chr(10)")
    e = rr(e, "^[ \\n]+", "''")
    rr(e, "[ \\n]+$", "''")
  }

  /** left-fold dot of duckdb list exprs `a`·`b` (same order as zip_with fold). */
  def dotSql(a: String, b: String) =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (acc, x) -> acc + x)"

  /** LSH plane weight w(p,d): md5-derived uint32 → [-0.5, 0.5). `d` 0-based. */
  def planeWeightSql(p: String, d: String) =
    s"(${hexToLong(s"md5($p || '_' || ($d))", 1, 8)}::DOUBLE / 4294967296.0 - 0.5)"

  /** CTE `sg`(vec_id, sig): each vector's SRP sign string over
    * `SrpPlanes` md5 planes, from CTE `n`. */
  val SrpSigCte =
    s"""sg AS (SELECT vec_id, array_to_string(list_transform(range(0, $SrpPlanes), p ->
       |    CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1),
       |      d -> v[d] * ${planeWeightSql("p", "d - 1")})), (acc, x) -> acc + x) >= 0
       |    THEN '1' ELSE '0' END), '') AS sig
       |  FROM n),""".stripMargin

  /** CTE `bd`(vec_id, band_key): `sg` cut into `SrpBandBits`-bit bands. */
  val SrpBandsCte =
    s"""bd AS (SELECT vec_id,
       |    b::VARCHAR || ':' || substring(sig, b * $SrpBandBits + 1, $SrpBandBits) AS band_key
       |  FROM sg, unnest(range(0, ${SrpPlanes / SrpBandBits})) AS t(b)),""".stripMargin

  /** CTEs `cand` (band-equal pairs of `bd`) and `pairs`(id1, id2, cos),
    * the exact cosine of each candidate. */
  val SrpCandPairsCtes =
    s"""cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
       |  FROM bd a JOIN bd b ON a.band_key = b.band_key AND a.vec_id < b.vec_id),
       |pairs AS (SELECT c.id1, c.id2,
       |    round(${dotSql("x.v", "y.v")} / (x.nrm * y.nrm), 6) AS cos
       |  FROM cand c JOIN n x ON c.id1 = x.vec_id JOIN n y ON c.id2 = y.vec_id)""".stripMargin

  /** DuckDB twin of [[graft.ops.Similarity.srpCandidatePairs]] +
    * candidate-only exact cosine: $EmbCte extended with the SRP sign
    * string, band explode, band-equal candidate pairs and a `pairs`
    * CTE holding (id1, id2, cos) for candidates only. */
  val SrpPairsCte =
    s"""$EmbCte,
       |$SrpSigCte
       |$SrpBandsCte
       |$SrpCandPairsCtes""".stripMargin

  /** [[SrpPairsCte]] with the band arity COMPUTED FROM count(*) — the
    * DuckDB replay of [[graft.ops.Similarity.bandBitsFor]]: ceil(log2 n)
    * via the binary-string length of n-1 (float log2 could round a
    * power-of-two edge), raw = clamp(4, ceil(lg/2), 16), rounded up to
    * the next divisor of 64 in {4, 8, 16}. Ends in the same `pairs`
    * CTE as the fixed-arity form. */
  val SrpPairsAutoCte =
    s"""$EmbCte,
       |bb AS (SELECT CASE WHEN raw <= 4 THEN 4 WHEN raw <= 8 THEN 8
       |    ELSE 16 END AS b
       |  FROM (SELECT greatest(4, least(16,
       |      (length(bin(greatest(n, 2) - 1)) + 1) // 2)) AS raw
       |    FROM (SELECT count(*) AS n FROM n))),
       |$SrpSigCte
       |bd AS (SELECT vec_id,
       |    t.b0::VARCHAR || ':' || substring(sig, t.b0 * bb.b + 1, bb.b) AS band_key
       |  FROM sg, bb, unnest(range(0, $SrpPlanes // bb.b)) AS t(b0)),
       |$SrpCandPairsCtes""".stripMargin

  /** The q_quality scoring expression over a table with (doc_id, text,
    * toks) columns — shared by q_quality and q_cluster_rep. */
  def qualitySelectSql(from: String, extraCols: String = "") = {
    val enHits = s"len(list_filter(toks, t -> t IN (${TextOps.EN_STOP.map(w => s"'$w'").mkString(", ")})))"
    s"""SELECT ${extraCols}doc_id, round(
       |  0.3 * (least(len(toks)::DOUBLE, 100.0) / 100.0)
       |  + 0.4 * (CASE WHEN len(toks) > 0 THEN $enHits::DOUBLE / len(toks)::DOUBLE ELSE 0.0 END)
       |  + 0.3 * (1.0 - (length(text) - length(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')))::DOUBLE / nullif(length(text), 0)::DOUBLE)
       |, 6) AS quality
       |FROM $from""".stripMargin
  }
}
