package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.ops.{Packing, Scale, TextOps}

/** Text gates: tokenizers, BPE, language id, quality filters,
  * sampling, URL/crawl parsing and the corpus statistics of
  * [[graft.ops.TextOps]] (and [[graft.ops.Packing]]). */
private[graft] object TextGates {
  import Shared._

  def gates: Seq[Gate] = Seq(
    Gate("q_chunk_stride", (s, dir) =>
      // RAG-style overlapping chunk windows: 16-token chunks every 8
      TextOps.chunkStride(docs(s, dir), "doc_id", "text", 16, 8),
      """WITH toks AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents
        |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 1)
        |SELECT doc_id, (s // 8)::INT AS idx,
        |  len(tk[(s + 1):least(s + 16, len(tk))])::INT AS n_tok,
        |  array_to_string(tk[(s + 1):least(s + 16, len(tk))], ' ') AS chunk
        |FROM toks, unnest(range(0, ((len(tk) - 1) // 8) * 8 + 1, 8)) t(s)""".stripMargin),

    Gate("q_chunk_dedup", (s, dir) =>
      // chunk-level (paragraph-shape) dedup: 8-token chunks, one global
      // survivor per distinct chunk, per-doc survival counts
      TextOps.chunkDedup(docs(s, dir), "doc_id", "text", chunkTokens = 8),
      """WITH toks AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
        |ch AS (SELECT doc_id, i AS idx,
        |    md5(array_to_string(tk[(i * 8 + 1):((i + 1) * 8)], ' ')) AS h
        |  FROM toks, unnest(range(0, len(tk) // 8)) t(i)),
        |r AS (SELECT doc_id, idx,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn FROM ch)
        |SELECT doc_id, count(*) AS n_chunks,
        |  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept
        |FROM r GROUP BY doc_id""".stripMargin),

    Gate("q_collocations", (s, dir) =>
      // PMI-ranked adjacent token pairs (min count 5, top 20): the
      // independence-normalized phrase-candidate statistic
      TextOps.collocations(docs(s, dir), "text", minCount = 5, k = 20),
      s"""WITH toks_t AS (SELECT $ToksSql AS toks FROM documents),
         |bg0 AS (SELECT unnest(CASE WHEN len(toks) >= 2
         |  THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         |  ELSE [array_to_string(toks, ' ')] END) AS bigram FROM toks_t),
         |bg AS (SELECT bigram, count(*) AS cnt FROM bg0
         |  WHERE strpos(bigram, ' ') > 0 GROUP BY bigram),
         |ug AS (SELECT w, count(*) AS c FROM
         |  (SELECT unnest(toks) AS w FROM toks_t) GROUP BY w),
         |nb_t AS (SELECT sum(cnt)::BIGINT AS nb FROM bg),
         |nu_t AS (SELECT sum(c)::BIGINT AS nu FROM ug)
         |SELECT bigram, cnt,
         |  round(ln(cnt::DOUBLE * nu * nu / (nb::DOUBLE * u1.c * u2.c)), 6) AS pmi
         |FROM bg CROSS JOIN nb_t CROSS JOIN nu_t
         |JOIN ug u1 ON split_part(bigram, ' ', 1) = u1.w
         |JOIN ug u2 ON split_part(bigram, ' ', 2) = u2.w
         |WHERE cnt >= 5
         |ORDER BY pmi DESC, bigram ASC LIMIT 20""".stripMargin),

    Gate("q_negative_sample", (s, dir) => {
      // contrastive negatives: every 7th doc is a "query"; 3 md5-keyed
      // negatives each, drawn from its hash bucket only (never a cross
      // join), with (q, q+1) treated as the known positive pair
      val ids = docs(s, dir).select(col("doc_id"))
      val q = ids.filter(col("doc_id") % 7 === 0).select(col("doc_id").as("qid"))
      val pool = ids.select(col("doc_id").as("did"))
      val pos = q.select(col("qid"), (col("qid") + 1).as("did"))
      TextOps.negativeSample(q, pool, pos, "qid", "did", k = 3, buckets = 8)
    },
      s"""WITH q AS (SELECT doc_id AS qid,
         |    (${hexToLong("md5(doc_id::VARCHAR)", 1, 8)}) % 8 AS b
         |  FROM documents WHERE doc_id % 7 = 0),
         |d AS (SELECT doc_id AS did,
         |    (${hexToLong("md5(doc_id::VARCHAR)", 1, 8)}) % 8 AS b
         |  FROM documents),
         |cand AS (SELECT q.qid, d.did,
         |    md5(q.qid::VARCHAR || '|' || d.did::VARCHAR) AS rk
         |  FROM q JOIN d USING (b)
         |  WHERE d.did <> q.qid AND d.did <> q.qid + 1),
         |r AS (SELECT qid, did,
         |    row_number() OVER (PARTITION BY qid ORDER BY rk ASC, did ASC) AS rn
         |  FROM cand)
         |SELECT qid, rn::INT AS rank, did FROM r WHERE rn <= 3""".stripMargin),

    Gate("q_shard_assign", (s, dir) =>
      // balanced training shards: per source, deal docs ranked by token
      // count descending round-robin over 8 shards (LPT greedy)
      TextOps.shardAssign(docs(s, dir), "doc_id", "text", "source", 8),
      s"""WITH t AS (SELECT source AS stratum, doc_id,
         |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]'))::BIGINT AS n_tokens
         |  FROM documents)
         |SELECT stratum, doc_id, n_tokens,
         |  ((row_number() OVER (PARTITION BY stratum
         |      ORDER BY n_tokens DESC, doc_id ASC) - 1) % 8)::INT AS shard
         |FROM t""".stripMargin),

    Gate("q_distinct_stats", (s, dir) =>
      // per-source corpus stats: docs, total tokens, distinct vocabulary
      {
        // two distinct families + a plain count in ONE agg would
        // Expand-triplicate the exploded token stream (the largest
        // frame in the query); three separate aggregations joined on
        // the bounded source key shuffle strictly less
        val base = docs(s, dir)
          .select(col("source"), col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        val nTok = base.groupBy(col("source")).agg(count(lit(1)).as("n_tokens"))
        val nDocs = base.select(col("source"), col("doc_id")).distinct()
          .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        val vocab = base.select(col("source"), col("token")).distinct()
          .groupBy(col("source")).agg(count(lit(1)).as("vocab"))
        nDocs.join(nTok, "source").join(vocab, "source")
          .select(col("source"), col("n_docs"), col("n_tokens"), col("vocab"))
      },
      """WITH tk AS (SELECT source, doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents)
        |SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_tokens,
        |  count(DISTINCT token) AS vocab
        |FROM tk GROUP BY source""".stripMargin),

    Gate("q_unigram_logprob", (s, dir) =>
      TextOps.unigramLogProb(docs(s, dir), "doc_id", "text"),
      """WITH tk AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents),
        |v AS (SELECT token, count(*) AS cnt FROM tk GROUP BY token),
        |tot AS (SELECT count(*)::DOUBLE AS t FROM tk)
        |SELECT doc_id, round(sum(CAST(round(ln(cnt / (SELECT t FROM tot)) * 1000000) AS BIGINT)) / 1000000.0 / count(*), 6) AS logprob
        |FROM tk JOIN v USING (token) GROUP BY doc_id""".stripMargin),

    Gate("q_tfidf", (s, dir) =>
      TextOps.tfIdfTopTerms(docs(s, dir), "doc_id", "text", topN = 3),
      """WITH tk AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents),
        |tf_t AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY doc_id, token),
        |nn AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |df_t AS (SELECT token, count(*) AS df FROM tf_t GROUP BY token)
        |SELECT doc_id, rn, token, tfidf FROM (
        |  SELECT tf_t.doc_id, tf_t.token,
        |    round(tf_t.tf * ln((SELECT n FROM nn)::DOUBLE / df_t.df), 6) AS tfidf,
        |    row_number() OVER (PARTITION BY tf_t.doc_id
        |      ORDER BY round(tf_t.tf * ln((SELECT n FROM nn)::DOUBLE / df_t.df), 6) DESC, tf_t.token ASC) AS rn
        |  FROM tf_t JOIN df_t USING (token))
        |WHERE rn <= 3""".stripMargin),

    Gate("q_sample_stratified", (s, dir) =>
      TextOps.stratifiedSample(
        docs(s, dir).select(col("doc_id"), col("lang")), "lang", "doc_id", 20),
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 20""".stripMargin),

    Gate("q_sample_weighted", (s, dir) =>
      // weight ∝ text length: longer docs drawn more often, per-language
      TextOps.weightedSample(
        docs(s, dir).select(col("doc_id"), col("lang"), length(col("text")).as("w")),
        "lang", "doc_id", col("w"), 15)
        .select(col("doc_id"), col("lang")),
      WeightedSampleSql),

    Gate("q_split_assign", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"), TextOps.splitAssign(col("doc_id")).as("split")),
      s"""SELECT doc_id, CASE
         |  WHEN (${hexToLong("md5(doc_id::VARCHAR)", 1, 8)}) % 100 < 80 THEN 'train'
         |  WHEN (${hexToLong("md5(doc_id::VARCHAR)", 1, 8)}) % 100 < 90 THEN 'val'
         |  ELSE 'test' END AS split
         |FROM documents""".stripMargin),

    Gate("q_simhash", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), TextOps.simhash64(col("toks")).as("simhash")),
      s"""WITH toks_t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |h_t AS (SELECT doc_id, list_transform(toks, t -> md5(t)) AS hashes FROM toks_t)
         |SELECT doc_id, $SimhashSigSql AS simhash
         |FROM h_t""".stripMargin),

    Gate("q_langid", (s, dir) =>
      // one-pass TextStats kernel — no token array is ever materialized
      docs(s, dir)
        .select(col("doc_id"), TextOps.langIdText(col("text")).as("lang_pred")),
      {
      def hits(words: Seq[String]) =
        s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"
      s"""WITH toks_t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |s_t AS (SELECT doc_id,
         |  ${hits(TextOps.EN_STOP)} AS s_en, ${hits(TextOps.ES_STOP)} AS s_es,
         |  ${hits(TextOps.FR_STOP)} AS s_fr, ${hits(TextOps.DE_STOP)} AS s_de
         |  FROM toks_t)
         |SELECT doc_id, CASE
         |  WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
         |  WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_de THEN 'es'
         |  WHEN s_fr > 0 AND s_fr >= s_de THEN 'fr'
         |  WHEN s_de > 0 THEN 'de'
         |  ELSE 'und' END AS lang_pred
         |FROM s_t""".stripMargin
    }),

    Gate("q_langid_cjk", (s, dir) => {
      // multilingual twin of q_langid: deterministically splice CJK
      // sentences onto a slice of docs so all three script arms (kana →
      // ja, hangul → ko, Han-only → zh) AND the Latin stopword fallback
      // are exercised; token counts switch to the char-as-token CJK
      // estimate so budget math downstream stays sane
      val mixed = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 20 === 0,
          concat(lit("日本語のテキストです "), col("text")))
          .when(col("doc_id") % 20 === 1,
            concat(lit("한국어 텍스트 "), col("text")))
          .when(col("doc_id") % 20 === 2,
            concat(lit("中文文本内容 "), col("text")))
          .otherwise(col("text")).as("text"))
      mixed.select(col("doc_id"),
        TextOps.langIdCjk(col("text")).as("lang_pred"),
        TextOps.tokenCountCjk(col("text")).as("n_tok"))
    },
      {
      s"""WITH m AS (SELECT doc_id,
         |    CASE WHEN doc_id % 20 = 0 THEN '日本語のテキストです ' || text
         |         WHEN doc_id % 20 = 1 THEN '한국어 텍스트 ' || text
         |         WHEN doc_id % 20 = 2 THEN '中文文本内容 ' || text
         |         ELSE text END AS text
         |  FROM documents),
         |${langCjkCtesSql("m")}
         |SELECT lg.doc_id, lg.lang AS lang_pred,
         |  s.n_cjk + len(string_split_regex(trim(
         |    regexp_replace(s.text, '$CjkSql', ' ', 'g')), '\\s+')) AS n_tok
         |FROM lg JOIN lg_s s USING (doc_id)""".stripMargin
    }),

    Gate("q_langid_spans", (s, dir) => {
      // per-paragraph language segmentation: splice deterministic
      // multilingual paragraphs so single-span docs, multi-span
      // code-switched docs, AND consecutive-same-lang collapse are all
      // exercised (the ja splice is TWO lines -> one 2-line span)
      val m = docs(s, dir).select(col("doc_id"), concat(
        when(col("doc_id") % 10 === 0,
          lit("日本語のテキストです\nこれは二行目の日本語\n")).otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 10 === 1,
          lit("\n한국어 텍스트 단락")).otherwise(lit("")),
        when(col("doc_id") % 5 === 2,
          lit("\nle texte est ici avec le la et les mots du jour"))
          .otherwise(lit(""))).as("text"))
      TextOps.langIdSpans(m, "doc_id", "text")
    },
      {
      def hits(words: Seq[String]) =
        s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"
      val kana = """[\x{3040}-\x{309F}\x{30A0}-\x{30FF}]"""
      val hangul = """[\x{1100}-\x{11FF}\x{3130}-\x{318F}\x{AC00}-\x{D7AF}]"""
      val han = """[\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}\x{F900}-\x{FAFF}]"""
      s"""WITH m AS (SELECT doc_id,
         |    CASE WHEN doc_id % 10 = 0 THEN '日本語のテキストです' || chr(10)
         |      || 'これは二行目の日本語' || chr(10) ELSE '' END
         |    || text
         |    || CASE WHEN doc_id % 10 = 1 THEN chr(10) || '한국어 텍스트 단락'
         |       ELSE '' END
         |    || CASE WHEN doc_id % 5 = 2 THEN chr(10)
         |      || 'le texte est ici avec le la et les mots du jour'
         |       ELSE '' END AS text
         |  FROM documents),
         |d AS (SELECT doc_id, list_filter(list_transform(
         |    string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS lines
         |  FROM m),
         |l AS (SELECT doc_id, (i - 1)::INT AS pos, lines[i] AS line
         |  FROM d, unnest(range(1, len(lines) + 1)) AS t(i)),
         |c AS (SELECT doc_id, pos, line,
         |    length(line) - length(regexp_replace(line, '$kana', '', 'g')) AS n_kana,
         |    length(line) - length(regexp_replace(line, '$hangul', '', 'g')) AS n_hangul,
         |    length(line) - length(regexp_replace(line, '$han', '', 'g')) AS n_han,
         |    regexp_extract_all(lower(line), '[a-z0-9]+') AS toks
         |  FROM l),
         |s_t AS (SELECT doc_id, pos, line, n_kana, n_hangul, n_han,
         |  ${hits(TextOps.EN_STOP)} AS s_en, ${hits(TextOps.ES_STOP)} AS s_es,
         |  ${hits(TextOps.FR_STOP)} AS s_fr, ${hits(TextOps.DE_STOP)} AS s_de
         |  FROM c),
         |lg AS (SELECT doc_id, pos, line, CASE
         |    WHEN n_kana > 0 THEN 'ja'
         |    WHEN n_hangul > 0 THEN 'ko'
         |    WHEN n_han > 0 THEN 'zh'
         |    WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
         |    WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_de THEN 'es'
         |    WHEN s_fr > 0 AND s_fr >= s_de THEN 'fr'
         |    WHEN s_de > 0 THEN 'de'
         |    ELSE 'und' END AS lang
         |  FROM s_t),
         |isl AS (SELECT doc_id, pos, line, lang,
         |    pos - row_number() OVER (PARTITION BY doc_id, lang
         |      ORDER BY pos ASC) AS island
         |  FROM lg),
         |sp AS (SELECT doc_id, lang, island, min(pos) AS start_line,
         |    count(*) AS n_lines, sum(length(line))::BIGINT AS n_chars
         |  FROM isl GROUP BY doc_id, lang, island)
         |SELECT doc_id,
         |  (row_number() OVER (PARTITION BY doc_id
         |    ORDER BY start_line ASC))::INT AS span_idx,
         |  lang, n_lines, n_chars, start_line
         |FROM sp""".stripMargin
    }),

    Gate("q_boilerplate", (s, dir) => {
      // CCNet-style boilerplate-line removal: deterministic nav headers
      // (on ~half of each source's docs, frac >= 0.4) and per-source
      // copyright footers (every doc) are spliced in so the threshold
      // arm, the universal arm, and unique body lines are all exercised
      val m = docs(s, dir).select(col("doc_id"), col("source"),
        concat(
          when(col("doc_id") % 2 === 0,
            lit("NAV HOME ABOUT CONTACT\n")).otherwise(lit("")),
          col("text"), lit("\ncopyright "), col("source")).as("text"))
      TextOps.boilerplate(m, "doc_id", "text", "source", minDocFrac = 0.4)
    },
      s"""$BoilerplateChainSql
        |SELECT doc_id, source, len(lines) AS n_lines,
        |  (len(lines) - len(kept)) AS n_boiler,
        |  round(CASE WHEN len(lines) > 0
        |    THEN (len(lines) - len(kept))::DOUBLE / len(lines)::DOUBLE
        |    ELSE 0.0 END, 6) AS boiler_ratio,
        |  md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_hash
        |FROM bp_j""".stripMargin),

    Gate("q_boilerplate_clean", (s, dir) => {
      // the text-EMITTING boilerplate twin: same splice, same boiler
      // sets, but the output is the cleaned text itself — what the
      // pipeline feeds downstream (md5(clean_text) == q_boilerplate's
      // clean_hash by construction, spec-pinned)
      val m = docs(s, dir).select(col("doc_id"), col("source"),
        concat(
          when(col("doc_id") % 2 === 0,
            lit("NAV HOME ABOUT CONTACT\n")).otherwise(lit("")),
          col("text"), lit("\ncopyright "), col("source")).as("text"))
      TextOps.boilerplateClean(m, "doc_id", "text", "source", minDocFrac = 0.4)
    },
      s"""$BoilerplateChainSql
         |SELECT doc_id, source,
         |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text
         |FROM bp_j""".stripMargin),

    Gate("q_gopher_quality", (s, dir) => {
      // the Gopher filter battery: a deterministic slice of docs gets a
      // bullet/symbol-heavy tail spliced in so the symbol, bullet and
      // word-count arms all fire alongside clean passes
      val m = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit("\n- alpha bullet\n* beta bullet\n" +
              "##############################... ... ...")).otherwise(lit("")))
          .as("text"))
      TextOps.gopherQualityFlags(m, "doc_id", "text")
    },
      GopherFlagsSql),

    Gate("q_filter_report", (s, dir) => {
      // the corpus-ops dashboard over the Gopher gate: per source, how
      // many docs each rule rejects and the overall keep rate — the
      // readout that tells an operator WHICH crawl source is rotting
      val d = docs(s, dir)
      val m = d.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit("\n- alpha bullet\n* beta bullet\n" +
              "##############################... ... ...")).otherwise(lit("")))
          .as("text"))
      val flags = TextOps.gopherQualityFlags(m, "doc_id", "text")
      def fails(c: String) = sum(when(!col(c), 1L).otherwise(0L))
      flags.join(d.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          fails("pass_words").as("fail_words"),
          fails("pass_mean_len").as("fail_mean_len"),
          fails("pass_symbols").as("fail_symbols"),
          fails("pass_bullets").as("fail_bullets"),
          fails("pass_ellipsis").as("fail_ellipsis"),
          fails("pass_alpha").as("fail_alpha"),
          fails("pass_stopwords").as("fail_stopwords"),
          round(sum(when(col("keep"), 1L).otherwise(0L)).cast("double") /
            count(lit(1)).cast("double"), 6).as("keep_rate"))
    },
      // NOTE: the flags SQL is concatenated OUTSIDE the stripMargin —
      // interpolating it into a margin-stripped string mangles its
      // continuation lines that begin with '||'
      (s"WITH g AS ($GopherFlagsSql)\n" +
      """SELECT d.source, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN NOT pass_words THEN 1 ELSE 0 END)::BIGINT AS fail_words,
         |  sum(CASE WHEN NOT pass_mean_len THEN 1 ELSE 0 END)::BIGINT AS fail_mean_len,
         |  sum(CASE WHEN NOT pass_symbols THEN 1 ELSE 0 END)::BIGINT AS fail_symbols,
         |  sum(CASE WHEN NOT pass_bullets THEN 1 ELSE 0 END)::BIGINT AS fail_bullets,
         |  sum(CASE WHEN NOT pass_ellipsis THEN 1 ELSE 0 END)::BIGINT AS fail_ellipsis,
         |  sum(CASE WHEN NOT pass_alpha THEN 1 ELSE 0 END)::BIGINT AS fail_alpha,
         |  sum(CASE WHEN NOT pass_stopwords THEN 1 ELSE 0 END)::BIGINT AS fail_stopwords,
         |  round(sum(CASE WHEN keep THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6) AS keep_rate
         |FROM g JOIN documents d USING (doc_id)
         |GROUP BY d.source""".stripMargin)),

    Gate("q_quality", (s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality")),
      s"""WITH toks_t AS (SELECT doc_id, text, $ToksSql AS toks FROM documents)
         |${qualitySelectSql("toks_t")}""".stripMargin),

    Gate("q_fim_transform", (s, dir) =>
      // fill-in-middle rewrite of half the corpus (code-LLM infilling
      // prep): decision + both character split points derive from
      // md5(doc_id), so the rewrite replays identically anywhere
      TextOps.fimTransform(docs(s, dir), "doc_id", "text", fimRate = 0.5),
      s"""WITH b AS (SELECT doc_id, text AS t, length(text) AS n,
         |    (${hexToLong("md5(doc_id::VARCHAR)", 1, 8)}) AS d1,
         |    (${hexToLong("md5(doc_id::VARCHAR)", 9, 8)}) AS d2,
         |    (${hexToLong("md5(doc_id::VARCHAR)", 17, 8)}) AS d3
         |  FROM documents),
         |c AS (SELECT doc_id, t,
         |    ((d1 % 1000000)::DOUBLE / 1000000.0 < 0.5 AND n >= 3) AS ap,
         |    CASE WHEN n >= 3
         |      THEN least(d2 % (n - 1) + 1, d3 % (n - 1) + 1)::INT END AS lo,
         |    CASE WHEN n >= 3
         |      THEN greatest(d2 % (n - 1) + 1, d3 % (n - 1) + 1)::INT END AS hi
         |  FROM b)
         |SELECT doc_id, ap AS fim_applied,
         |  CASE WHEN ap THEN '<PRE>' || substring(t, 1, lo)
         |      || '<SUF>' || substring(t, hi + 1)
         |      || '<MID>' || substring(t, lo + 1, hi - lo)
         |    ELSE t END AS text
         |FROM c""".stripMargin),

    Gate("q_quality_linear", (s, dir) => {
      // hashed-feature linear classifier SERVING (r18, the
      // FineWeb-Edu deployment shape): the "trained model" is a
      // deterministic 512-bucket weight frame both engines synthesize
      // from md5 (w = uint32(md5('w_b'))/2^32 − 0.5), served through
      // the real broadcast-join scoring path
      val weights = s.range(512).select(col("id").as("bucket"),
        (conv(substring(md5(concat(lit("w_"), col("id").cast("string"))),
          1, 8), 16, 10).cast("double") / lit(4294967296.0) - 0.5).as("w"))
      TextOps.scoreLinear(docs(s, dir), "doc_id", "text", weights,
        numBuckets = 512, bias = 0.1)
    },
      s"""WITH wt AS (SELECT b AS bucket,
         |    (${hexToLong("md5('w_' || b::VARCHAR)", 1, 8)})::DOUBLE
         |      / 4294967296.0 - 0.5 AS w
         |  FROM (SELECT unnest(range(0, 512)) AS b)),
         |tk AS (SELECT doc_id, unnest($ToksSql) AS token FROM documents),
         |tb AS (SELECT doc_id,
         |    ((${hexToLong("md5(token)", 1, 8)}) % 512)::BIGINT AS bucket
         |  FROM tk),
         |sums AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |    sum(coalesce(round(w.w * 1000000)::BIGINT, 0))::BIGINT AS lm
         |  FROM tb LEFT JOIN wt w USING (bucket) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
         |  (coalesce(s.lm, 0) + 100000)::BIGINT AS logit_micro,
         |  round(1.0 / (1.0 + exp(-(coalesce(s.lm, 0) + 100000)::DOUBLE
         |    / 1000000.0)), 6) AS score
         |FROM documents d LEFT JOIN sums s USING (doc_id)""".stripMargin),

    Gate("q_token_count", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextOps.tokenCountWs(col("text")).as("n_ws"),
        TextOps.tokenCountBpe(col("text")).as("n_bpe")),
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS n_ws,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS n_bpe
        |FROM documents""".stripMargin),

    Gate("q_bpe_encode", (s, dir) => {
      // REAL merges-table BPE encoding (vs q_token_count's regex
      // ESTIMATE): per doc the true token count under the pinned gate
      // vocabulary, the fertility vs word count, and the first 10
      // tokens as a flattened sample — the numbers budget/fertility/
      // packing math should run on
      val d = Scale.fanOutSmallScan(docs(s, dir), col("doc_id"))
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).as("n_words"),
          TextOps.bpeEncode(col("toks"), TextOps.BpeGateMerges).as("enc"))
      d.select(col("doc_id"), col("n_words"),
        size(col("enc")).as("n_bpe_real"),
        round(when(col("n_words") > 0,
          size(col("enc")).cast("double") / col("n_words").cast("double")), 6)
          .as("fertility"),
        concat_ws(" ", slice(col("enc"), 1, 10)).as("sample"))
    },
      s"""$bpeChainSql
         |SELECT t.doc_id, len(t.toks) AS n_words,
         |  coalesce(a.n_bpe_real, 0)::INT AS n_bpe_real,
         |  round(CASE WHEN len(t.toks) > 0
         |    THEN coalesce(a.n_bpe_real, 0)::DOUBLE / len(t.toks)::DOUBLE
         |    END, 6) AS fertility,
         |  coalesce(array_to_string(
         |    list_slice(string_split(a.all_toks, ' '), 1, 10), ' '), '')
         |    AS sample
         |FROM toks_t t LEFT JOIN agg a USING (doc_id)""".stripMargin),

    Gate("q_pretokenize", (s, dir) =>
      // the GPT-2-style pre-tokenizer boundary rule (r18): per doc the
      // pre-token count, the whitespace-run count, and the md5 of the
      // chr(1)-joined pre-token stream — ONE regex constant
      // (TextOps.PreTokenPattern) feeds both engines verbatim
      docs(s, dir)
        .select(col("doc_id"), TextOps.preTokenize(
          concat(col("text"), lit(TextOps.PreTokenProbe))).as("pt"))
        .select(col("doc_id"),
          size(col("pt")).as("n_pretoks"),
          size(filter(col("pt"), t => t.rlike("^[ \\t\\r\\n\\f]+$")))
            .as("n_ws_runs"),
          md5(concat_ws("\u0001", col("pt"))).as("pt_md5")),
      s"""WITH p AS (SELECT doc_id,
         |    regexp_extract_all(text || '$PreTokenProbeSql', '$PreTokenSql', 0) AS pt
         |  FROM documents)
         |SELECT doc_id, len(pt)::INT AS n_pretoks,
         |  len(list_filter(pt, t ->
         |    regexp_matches(t, '^[ \\t\\r\\n\\f]+$$')))::INT AS n_ws_runs,
         |  md5(coalesce(array_to_string(pt, chr(1)), '')) AS pt_md5
         |FROM p""".stripMargin),

    Gate("q_bpe_bytelevel", (s, dir) => {
      // BYTE-LEVEL BPE (r18): the real production path — pre-tokenize
      // with the GPT-2-style regex, map UTF-8 bytes to the 256-unit
      // alphabet, min-rank-encode under the pinned byte-level table.
      // The gate projects text to printable ASCII minus '|' (the
      // oracle's wrapped-symbol delimiter): on that domain the byte
      // map is identity-except-space→'Ġ', which is what lets DuckDB
      // replay the identical chain with plain string ops while the
      // Spark side exercises the full ByteLevelUnits kernel.
      val ascii = regexp_replace(
        concat(col("text"), lit(TextOps.PreTokenProbe)), "[^ -~]|\\|", "")
      val enc = TextOps.bpeEncodeByteLevel(ascii, TextOps.BpeByteGateMerges)
      // r18: fan the one-row-group scan out — the encode kernel
      // otherwise runs serially in the single scan task (guide §2.5)
      Scale.fanOutSmallScan(docs(s, dir), col("doc_id"))
        .select(col("doc_id"), enc.as("enc"))
        .select(col("doc_id"), size(col("enc")).as("n_bpe"),
          md5(concat_ws(" ", col("enc"))).as("toks_md5"))
    },
      s"""$bpeByteReplaySql
         |SELECT t.doc_id, coalesce(a.n_bpe, 0)::INT AS n_bpe,
         |  md5(coalesce(a.all_toks, '')) AS toks_md5
         |FROM toks_t t LEFT JOIN agg a USING (doc_id)""".stripMargin),

    Gate("q_bpe_token_ids", (s, dir) => {
      // the training-pipeline HANDOFF shape (r18): byte-level encode
      // to GPT-2-convention integer ids (0..255 byte units, 256+rank
      // per merge). Same ASCII-minus-'|' projection as q_bpe_bytelevel
      // so the oracle can replay; per doc the id count, the exact id
      // sum (an order-free integer checksum) and the md5 of the
      // space-joined id stream (order-sensitive)
      val ascii = regexp_replace(
        concat(col("text"), lit(TextOps.PreTokenProbe)), "[^ -~]|\\|", "")
      val ids = TextOps.bpeEncodeToIds(ascii, TextOps.BpeByteGateMerges)
      idsDigest(s, dir, ids)
    },
      // GPT-2-convention ids over the same replay: vocabulary VALUES
      // (256 byte units in byte order, then 256+rank per merge), tokens
      // joined back by position
      {
      val vocab = graft.ops.TextOps
        .byteLevelVocab(graft.ops.TextOps.BpeByteGateMerges)
      val vv = vocab.toSeq.sortBy(_._2)
        .map { case (t, i) => s"('${t.replace("'", "''")}', $i)" }
        .mkString(", ")
      s"""$bpeByteReplaySql,
         |vv(tok, id) AS (VALUES $vv),
         |wtok AS (SELECT word, wtoks[i] AS tok, i AS tord
         |  FROM fin, unnest(range(1, len(wtoks) + 1)) AS u(i)),
         |wids AS (SELECT word, list(vv.id ORDER BY wtok.tord) AS ids
         |  FROM wtok JOIN vv ON vv.tok = wtok.tok GROUP BY word),
         |aggi AS (SELECT doc_id,
         |    sum(len(ids))::INT AS n_bpe,
         |    sum(list_reduce(list_prepend(0::BIGINT,
         |      list_transform(ids, x -> x::BIGINT)), (a, b) -> a + b))::BIGINT
         |      AS ids_sum,
         |    string_agg(array_to_string(list_transform(ids,
         |      x -> x::VARCHAR), ' '), ' ' ORDER BY ord) AS all_ids
         |  FROM wt JOIN wids USING (word) GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(a.n_bpe, 0)::INT AS n_bpe,
         |  coalesce(a.ids_sum, 0)::BIGINT AS ids_sum,
         |  md5(coalesce(a.all_ids, '')) AS ids_md5
         |FROM toks_t t LEFT JOIN aggi a USING (doc_id)""".stripMargin
    }),

    Gate("q_bpe_specials", (s, dir) => {
      // SPECIAL-TOKEN-aware encode (r20): the production contract —
      // '<|endoftext|>' separators come out as exactly ONE id each and
      // BPE never merges across them. Composed per doc: ascii-projected
      // text+probe, an eot, the uppercased ascii-projected 40-char
      // prefix (a second segment sharing words with the first only up
      // to case), then a DOUBLE eot (adjacent specials + empty-segment
      // arm on every real row). The Spark side runs the generic
      // split-encode-interleave; the oracle replays the segments by
      // construction and injects id 256+|merges| between them —
      // equality proves the generic splitter finds exactly the
      // constructed boundaries.
      val eot = "<|endoftext|>"
      val seg1 = regexp_replace(
        concat(col("text"), lit(TextOps.PreTokenProbe)), "[^ -~]|\\|", "")
      val seg2 = upper(regexp_replace(
        substring(col("text"), 1, 40), "[^ -~]|\\|", ""))
      val composed = concat(seg1, lit(eot), seg2, lit(eot), lit(eot))
      val ids = TextOps.bpeEncodeToIdsWithSpecials(
        composed, TextOps.BpeByteGateMerges, Seq(eot))
      idsDigest(s, dir, ids)
    },
      // special-token replay: the byte-level word encode (same
      // mg/enc/fin machinery as bpeByteReplaySql, keyed per segment),
      // with the special's id 256+|merges| injected at the CONSTRUCTED
      // boundaries — the Spark side has to find them generically
      bpeByteSegSpecialsSql),

    Gate("q_bpe_budget_audit", (s, dir) => {
      // real-vs-estimate token accounting per source under the pinned
      // gate vocabulary: the correction factor that tells budget math
      // how far the regex ESTIMATE drifts — per source, because the
      // drift is vocabulary-dependent and sources differ
      val d = docs(s, dir)
        .select(col("source"),
          TextOps.tokens(col("text")).as("toks"),
          TextOps.tokenCountBpe(col("text")).cast("long").as("nt_est"))
        .select(col("source"), col("nt_est"),
          size(TextOps.bpeEncode(col("toks"), TextOps.BpeGateMerges))
            .cast("long").as("nt_real"))
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt_real")).as("tokens_real"),
          sum(col("nt_est")).as("tokens_est"))
        .withColumn("est_ratio", round(when(col("tokens_est") > 0,
          col("tokens_real").cast("double") / col("tokens_est").cast("double")), 6))
    },
      s"""$bpeChainSql,
         |est AS (SELECT doc_id, source,
         |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]'))::BIGINT AS nt_est
         |  FROM documents)
         |SELECT e.source, count(*)::BIGINT AS n_docs,
         |  sum(coalesce(a.n_bpe_real, 0))::BIGINT AS tokens_real,
         |  sum(e.nt_est)::BIGINT AS tokens_est,
         |  round(CASE WHEN sum(e.nt_est) > 0
         |    THEN sum(coalesce(a.n_bpe_real, 0))::DOUBLE / sum(e.nt_est)::DOUBLE
         |    END, 6) AS est_ratio
         |FROM est e LEFT JOIN agg a USING (doc_id)
         |GROUP BY e.source""".stripMargin),

    Gate("q_fingerprint", (s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp")),
      """WITH n_t AS (SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS nrm FROM documents)
        |SELECT doc_id, list_reduce(
        |  list_prepend(0::BIGINT, list_transform(range(1, length(nrm) + 1), i -> ascii(nrm[i])::BIGINT)),
        |  (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
        |FROM n_t""".stripMargin),

    Gate("q_redact", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        md5(TextOps.redact(col("text"))).as("redacted_hash"),
        (length(col("text")) - length(TextOps.redact(col("text")))).as("len_delta")),
      """SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^\s]+', '<URL>', 'g')) AS redacted_hash,
        |  length(text) - length(regexp_replace(regexp_replace(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^\s]+', '<URL>', 'g')) AS len_delta
        |FROM documents""".stripMargin),

    Gate("q_cdc_chunks", (s, dir) => {
      // content-defined chunking: a shared ~190-char passage is
      // appended to one doc slice and PREPENDED to another (shifted!)
      // so cross-doc shared chunks exist despite the offset — the case
      // fixed-stride chunking structurally misses
      val passage = "the shared press release body repeats verbatim " +
        "across mirror sites with minor chrome and navigation " +
        "differences around it while the core paragraph stays byte " +
        "identical after whitespace normalization"
      val m = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 17 === 0, concat(col("text"), lit(" " + passage)))
          .when(col("doc_id") % 17 === 1, concat(lit(passage + " "), col("text")))
          .otherwise(col("text")).as("text"))
      TextOps.cdcChunks(m, "doc_id", "text")
    },
      {
      val passage = "the shared press release body repeats verbatim " +
        "across mirror sites with minor chrome and navigation " +
        "differences around it while the core paragraph stays byte " +
        "identical after whitespace normalization"
      s"""WITH m AS (SELECT doc_id,
         |    CASE WHEN doc_id % 17 = 0 THEN text || ' $passage'
         |         WHEN doc_id % 17 = 1 THEN '$passage ' || text
         |         ELSE text END AS text
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS nrm
         |  FROM m),
         |hit AS (SELECT doc_id, i FROM (
         |    SELECT doc_id, i, md5(substr(nrm, (i - 15)::INT, 16)) AS h
         |    FROM b, unnest(range(16, len(nrm) + 1)) AS t(i))
         |  WHERE ${hexToLong("h", 1, 8)} % 64 = 0),
         |bnd AS (SELECT b.doc_id, b.nrm,
         |    list_concat(list_concat([0::BIGINT],
         |      coalesce(list(hit.i ORDER BY hit.i)
         |        FILTER (WHERE hit.i IS NOT NULL), [])),
         |      [len(b.nrm)::BIGINT]) AS bounds
         |  FROM b LEFT JOIN hit USING (doc_id) GROUP BY b.doc_id, b.nrm),
         |e AS (SELECT doc_id, list_transform(
         |    list_filter(list_transform(range(1, len(bounds)), j ->
         |      substr(nrm, (bounds[j] + 1)::INT,
         |        (bounds[j + 1] - bounds[j])::INT)), c -> c <> ''),
         |    c -> md5(c)) AS chs
         |  FROM bnd),
         |p AS (SELECT DISTINCT doc_id, ch FROM (
         |    SELECT doc_id, unnest(chs) AS ch FROM e)),
         |dc AS (SELECT ch, count(*) AS nd FROM p GROUP BY ch),
         |sh AS (SELECT doc_id, count(*) AS n_shared
         |  FROM p JOIN dc USING (ch) WHERE nd >= 2 GROUP BY doc_id)
         |SELECT e.doc_id, len(chs)::INT AS n_chunks,
         |  len(list_distinct(chs))::INT AS n_distinct,
         |  coalesce(sh.n_shared, 0)::BIGINT AS n_shared,
         |  round(CASE WHEN len(list_distinct(chs)) > 0
         |    THEN coalesce(sh.n_shared, 0)::DOUBLE
         |      / len(list_distinct(chs))::DOUBLE END, 6) AS shared_frac
         |FROM e LEFT JOIN sh USING (doc_id)""".stripMargin
    }),

    Gate("q_redact_pii", (s, dir) => {
      // extended PII scrub: a deterministic slice gets phone (both
      // forms), grouped card, IPv4 AND a bare digit run that must
      // survive (ids are not PII) spliced in; all arms fire
      val m = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 11 === 0,
            lit(" call 555-867-5309 or +1 (415) 555-2671 now, card" +
              " 4111 1111 1111 1111, host 10.0.255.254, id 1234567890 stays"))
            .otherwise(lit(""))).as("text"))
      m.select(col("doc_id"),
        md5(TextOps.redactPii(col("text"))).as("redacted_hash"),
        (length(col("text")) - length(TextOps.redactPii(col("text"))))
          .as("len_delta"),
        regexp_count(col("text"), lit(TextOps.PiiPatterns(0)._1)).as("n_cc"),
        regexp_count(col("text"), lit(TextOps.PiiPatterns(1)._1)).as("n_phone"),
        regexp_count(col("text"), lit(TextOps.PiiPatterns(2)._1)).as("n_ip"))
    },
      {
      val redactSql = piiRedactSql("text")
      def cnt(i: Int) =
        s"len(regexp_extract_all(text, '${graft.ops.TextOps.PiiPatterns(i)._1}'))::INT"
      s"""WITH m AS (SELECT doc_id,
         |    text || CASE WHEN doc_id % 11 = 0
         |      THEN ' call 555-867-5309 or +1 (415) 555-2671 now, card 4111 1111 1111 1111, host 10.0.255.254, id 1234567890 stays'
         |      ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id, md5($redactSql) AS redacted_hash,
         |  length(text) - length($redactSql) AS len_delta,
         |  ${cnt(0)} AS n_cc, ${cnt(1)} AS n_phone, ${cnt(2)} AS n_ip
         |FROM m""".stripMargin
    }),

    Gate("q_normalize_text", (s, dir) => {
      // Unicode normalization + mojibake detection gate: a deterministic
      // slice of docs gets the junk splice (zero-width chars, curly
      // quotes, em dash, ellipsis, UTF-8-as-Latin1 artifacts, NBSP, a
      // control char) so every normalization step and the mojibake
      // counter fire; the rest pass through unchanged
      val m = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 9 === 0, lit(" " + NormJunk))
            .otherwise(lit(""))).as("text"))
      m.select(col("doc_id"),
        md5(TextOps.normalizeUnicode(col("text"))).as("norm_hash"),
        (length(col("text")) - length(TextOps.normalizeUnicode(col("text"))))
          .as("len_delta"),
        TextOps.mojibakeScore(col("text")).as("mojibake_hits"))
    },
      s"""WITH m AS (SELECT doc_id,
         |    text || CASE WHEN doc_id % 9 = 0 THEN ' ' || '$NormJunk'
         |      ELSE '' END AS text
         |  FROM documents),
         |n_t AS (SELECT doc_id, text, ${normalizeSql("text")} AS norm FROM m)
         |SELECT doc_id, md5(norm) AS norm_hash,
         |  length(text) - length(norm) AS len_delta,
         |  len(regexp_extract_all(text,
         |    '${graft.ops.TextOps.MojibakePattern}'))::INT AS mojibake_hits
         |FROM n_t""".stripMargin),

    Gate("q_extract_html", (s, dir) => {
      // HTML→text extraction gate: wrap each doc's text in a
      // deterministic page template (head/style/nav/script/footer
      // chrome, entities, CDATA, a table) and recover the content.
      // Both engines synthesize the SAME html string, so the hash
      // compare exercises the full extraction pipeline end to end.
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><!-- preview & <meta> --><head><title>T"), id,
        lit("</title><style type=\"text/css\">body { color: #000; }" +
          "</style></head><body>" +
          "<nav><ul><li>Home</li><li>Docs</li></ul></nav>" +
          "<script type=\"text/javascript\">var x = 1 < 2 && y > 0;" +
          "</script><h1>Doc "), id,
        lit("</h1><p>"), col("text"),
        lit("</p><div class=\"tail\">Tail &amp; entities &lt;b&gt; " +
          "&quot;q&quot; &#39;s&#39;&nbsp;end</div>" +
          "<![CDATA[ raw <payload> ]]><table><tr><td>r"), id,
        lit("</td><td>c2</td></tr></table>" +
          "<footer>(c) example</footer></body></html>"))
      docs(s, dir)
        .select(col("doc_id"), length(html).as("n_html"),
          TextOps.extractHtmlText(html).as("extracted"))
        .withColumn("n_text", length(col("extracted")))
    },
      s"""WITH h AS (SELECT doc_id,
         |  '<html><!-- preview & <meta> --><head><title>T' || doc_id::VARCHAR
         |  || '</title><style type="text/css">body { color: #000; }</style></head><body><nav><ul><li>Home</li><li>Docs</li></ul></nav><script type="text/javascript">var x = 1 < 2 && y > 0;</script><h1>Doc ' || doc_id::VARCHAR
         |  || '</h1><p>' || text
         |  || '</p><div class="tail">Tail &amp; entities &lt;b&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div><![CDATA[ raw <payload> ]]><table><tr><td>r' || doc_id::VARCHAR
         |  || '</td><td>c2</td></tr></table><footer>(c) example</footer></body></html>' AS html
         |  FROM documents),
         |x AS (SELECT doc_id, length(html) AS n_html,
         |  ${extractHtmlSql("html")} AS extracted FROM h)
         |SELECT doc_id, n_html, extracted, length(extracted) AS n_text
         |FROM x""".stripMargin),

    Gate("q_bigram_lm", (s, dir) => {
      // bigram-LM estimation: P(w2|w1) = c(w1 w2) / c(w1); top-20 bigrams.
      // Bigrams via the fused TokenShingles(n=2) kernel; both count
      // aggregations are map-side combinable; the unigram table joins in
      // (AQE broadcasts it when small).
      val d = docs(s, dir)
      val bg = d.select(explode(TextOps.tokenShingles(col("text"), 2)).as("bigram"))
        .filter(instr(col("bigram"), " ") > 0)
        .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
      val ug = d.select(explode(TextOps.tokens(col("text"))).as("w1"))
        .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      bg.withColumn("w1", substring_index(col("bigram"), " ", 1))
        .join(ug, "w1")
        .select(col("bigram"), col("cnt"), round(col("cnt") / col("c1"), 6).as("cond_p"))
        .orderBy(col("cnt").desc, col("bigram").asc).limit(20)
    },
      s"""WITH toks_t AS (SELECT $ToksSql AS toks FROM documents),
         |bg0 AS (SELECT unnest(CASE WHEN len(toks) >= 2
         |  THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         |  ELSE [array_to_string(toks, ' ')] END) AS bigram FROM toks_t),
         |bg AS (SELECT bigram, count(*) AS cnt FROM bg0 WHERE strpos(bigram, ' ') > 0 GROUP BY bigram),
         |ug AS (SELECT w1, count(*) AS c1 FROM (SELECT unnest(toks) AS w1 FROM toks_t) GROUP BY w1)
         |SELECT bigram, cnt, round(cnt / c1, 6) AS cond_p
         |FROM bg JOIN ug ON split_part(bigram, ' ', 1) = ug.w1
         |ORDER BY cnt DESC, bigram ASC LIMIT 20""".stripMargin),

    Gate("q_vocab_topk", (s, dir) =>
      // corpus-wide vocabulary: explode tokens -> count -> top 20
      // (deterministic tie-break on token); the classic explode+combine
      // shape — partial aggregation collapses counts map-side
      docs(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc)
        .limit(20),
      """SELECT token, count(*) AS cnt FROM (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents)
        |GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20""".stripMargin),

    Gate("q_zipf_fit", (s, dir) =>
      // corpus-quality diagnostic: log-log Zipf slope over the top-50
      // terms (natural text ≈ −1); integer-micro ln sums, decimal
      // normal equations, one corpus pass
      TextOps.zipfFit(docs(s, dir), "text", topK = 50),
      """WITH f AS (SELECT token, count(*) AS f FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents)
        |  GROUP BY token ORDER BY f DESC, token ASC LIMIT 50),
        |r AS (SELECT f, row_number() OVER (ORDER BY f DESC, token ASC) AS rnk FROM f),
        |m AS (SELECT CAST(round(ln(rnk::DOUBLE) * 1e6) AS BIGINT) AS x,
        |    CAST(round(ln(f::DOUBLE) * 1e6) AS BIGINT) AS y FROM r)
        |SELECT count(*)::BIGINT AS k,
        |  round((count(*) * sum(x * y) - sum(x) * sum(y))::DOUBLE
        |    / (count(*) * sum(x * x) - sum(x) * sum(x))::DOUBLE, 6) AS zipf_slope
        |FROM m""".stripMargin),

    Gate("q_source_kl", (s, dir) =>
      // corpus-mix drift: per-source unigram KL vs the corpus blend
      TextOps.sourceKlDivergence(docs(s, dir), "source", "text"),
      """WITH tk AS (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents),
        |st AS (SELECT source, token, count(*) AS c_st FROM tk GROUP BY source, token),
        |g AS (SELECT token, sum(c_st)::BIGINT AS c_t FROM st GROUP BY token),
        |ns AS (SELECT source, sum(c_st)::BIGINT AS n_s FROM st GROUP BY source),
        |nn AS (SELECT sum(c_st)::BIGINT AS n FROM st)
        |SELECT st.source, ns.n_s AS n_tokens,
        |  round(sum(st.c_st * CAST(round(ln((st.c_st::DOUBLE * (SELECT n FROM nn)::DOUBLE)
        |      / (ns.n_s::DOUBLE * g.c_t::DOUBLE)) * 1000000) AS BIGINT))::DOUBLE
        |    / 1000000.0 / ns.n_s::DOUBLE, 6) AS kl_unigram
        |FROM st JOIN g USING (token) JOIN ns USING (source)
        |GROUP BY st.source, ns.n_s""".stripMargin),

    Gate("q_length_ks", (s, dir) =>
      // per-source length-distribution drift: exact binned KS statistic
      TextOps.lengthKsDrift(docs(s, dir), "source", "text"),
      """WITH sl AS (SELECT source, least(length(text) // 64, 4095) AS b, count(*) AS c
        |    FROM documents GROUP BY source, b),
        |ns AS (SELECT source, sum(c)::BIGINT AS n_s FROM sl GROUP BY source),
        |nn AS (SELECT sum(c)::BIGINT AS n FROM sl),
        |grid AS (SELECT DISTINCT b FROM sl),
        |dense AS (SELECT ns.source, ns.n_s, grid.b, coalesce(sl.c, 0)::BIGINT AS c
        |  FROM ns CROSS JOIN grid LEFT JOIN sl ON sl.source = ns.source AND sl.b = grid.b),
        |cs AS (SELECT source, n_s, b,
        |  (sum(c) OVER (PARTITION BY source ORDER BY b))::BIGINT AS cum_s FROM dense),
        |gl AS (SELECT b, sum(c)::BIGINT AS cb FROM sl GROUP BY b),
        |cg AS (SELECT b, (sum(cb) OVER (ORDER BY b))::BIGINT AS cum_g FROM gl)
        |SELECT cs.source, cs.n_s AS n_docs,
        |  round(max(abs(cs.cum_s * (SELECT n FROM nn) - cg.cum_g * cs.n_s))::DOUBLE
        |    / (cs.n_s * (SELECT n FROM nn))::DOUBLE, 6) AS ks
        |FROM cs JOIN cg USING (b)
        |GROUP BY cs.source, cs.n_s""".stripMargin),

    Gate("q_dsir_weights", (s, dir) =>
      // DSIR data selection: per-doc avg log-likelihood ratio of the
      // src3-domain unigram LM vs the raw-corpus LM, integer micro-nats
      TextOps.dsirWeights(docs(s, dir), "doc_id", "text", "source", "src3"),
      """WITH tk AS (SELECT doc_id, source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS c_dt FROM tk GROUP BY doc_id, token),
        |raw AS (SELECT token, count(*) AS c_t FROM tk GROUP BY token),
        |tgt AS (SELECT token, count(*) AS c_tt FROM tk WHERE source = 'src3' GROUP BY token),
        |st AS (SELECT (SELECT sum(c_t)::BIGINT FROM raw) AS n_raw,
        |              (SELECT count(*)::BIGINT FROM raw) AS v,
        |              (SELECT count(*)::BIGINT FROM tk WHERE source = 'src3') AS n_tgt),
        |term AS (SELECT raw.token,
        |  CAST(round(ln(((coalesce(tgt.c_tt, 0) + 1)::DOUBLE * st.n_raw::DOUBLE)
        |    / ((st.n_tgt + st.v)::DOUBLE * raw.c_t::DOUBLE)) * 1000000) AS BIGINT) AS t_micro
        |  FROM raw LEFT JOIN tgt USING (token) CROSS JOIN st)
        |SELECT tf.doc_id, sum(tf.c_dt)::BIGINT AS n_tokens,
        |  (sum(tf.c_dt * term.t_micro) // sum(tf.c_dt))::BIGINT AS dsir_micro
        |FROM tf JOIN term USING (token)
        |GROUP BY tf.doc_id""".stripMargin),

    Gate("q_repetition", (s, dir) =>
      docs(s, dir).select(
        (col("doc_id") +: TextOps.repetitionMetrics(col("text"))): _*),
      s"""WITH toks_t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |g AS (SELECT doc_id, toks,
         |  CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         |    ELSE [array_to_string(toks, ' ')] END AS g2,
         |  $ShinglesSql AS g3
         |  FROM toks_t)
         |SELECT doc_id,
         |  CASE WHEN len(toks) > 0 THEN round((len(toks)::DOUBLE - len(list_distinct(toks))::DOUBLE) / len(toks)::DOUBLE, 6) ELSE 0.0 END AS dup_tok_frac,
         |  CASE WHEN len(g2) > 0 THEN round((len(g2)::DOUBLE - len(list_distinct(g2))::DOUBLE) / len(g2)::DOUBLE, 6) ELSE 0.0 END AS dup_2gram_frac,
         |  CASE WHEN len(g3) > 0 THEN round((len(g3)::DOUBLE - len(list_distinct(g3))::DOUBLE) / len(g3)::DOUBLE, 6) ELSE 0.0 END AS dup_3gram_frac
         |FROM g""".stripMargin),

    Gate("q_token_entropy", (s, dir) =>
      TextOps.tokenEntropy(docs(s, dir), "doc_id", "text"),
      """WITH tk AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents),
        |tf_t AS (SELECT doc_id, token, count(*) AS c FROM tk GROUP BY doc_id, token),
        |wn AS (SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM tf_t)
        |SELECT doc_id,
        |  round(-sum(CAST(round((c::DOUBLE / n::DOUBLE) * ln(c::DOUBLE / n::DOUBLE) * 1000000) AS BIGINT)) / 1000000.0, 6) AS entropy
        |FROM wn GROUP BY doc_id""".stripMargin),

    Gate("q_bm25", (s, dir) =>
      TextOps.bm25(docs(s, dir), "doc_id", "text",
        Seq("spark", "table", "fast", "query", "data"), topN = 25),
      """WITH tk AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents),
        |dl_t AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
        |tf_t AS (SELECT doc_id, token, count(*) AS tf FROM tk
        |  WHERE token IN ('spark', 'table', 'fast', 'query', 'data') GROUP BY doc_id, token),
        |df_t AS (SELECT token, count(*) AS df FROM tf_t GROUP BY token),
        |c AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM dl_t)
        |SELECT doc_id, round(sum(CAST(round(
        |    ln(1.0 + (n_docs::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5))
        |    * (tf::DOUBLE * (1.2 + 1.0))
        |    / (tf::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * dl::DOUBLE / (tot_dl::DOUBLE / n_docs::DOUBLE)))
        |    * 1000000) AS BIGINT)) / 1000000.0, 6) AS bm25
        |FROM tf_t JOIN df_t USING (token) JOIN dl_t USING (doc_id) CROSS JOIN c
        |GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id ASC LIMIT 25""".stripMargin),

    Gate("q_pack_sequences", (s, dir) =>
      Packing.packSequences(
        docs(s, dir).select(col("doc_id"), size(TextOps.tokens(col("text"))).as("ntok")),
        "doc_id", "ntok", budget = 128, shards = 8),
      s"""WITH RECURSIVE base AS (SELECT doc_id,
         |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ntok,
         |    (${hexToLong("md5(doc_id::VARCHAR)", 1, 8)}) % 8 AS shard
         |  FROM documents),
         |t AS (SELECT doc_id, ntok, shard,
         |    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM base),
         |p AS (
         |  SELECT doc_id, shard, ntok, rn, ntok AS running, 0 AS seq_idx FROM t WHERE rn = 1
         |  UNION ALL
         |  SELECT t.doc_id, t.shard, t.ntok, t.rn,
         |    CASE WHEN p.running + t.ntok > 128 THEN t.ntok ELSE p.running + t.ntok END,
         |    CASE WHEN p.running + t.ntok > 128 THEN p.seq_idx + 1 ELSE p.seq_idx END
         |  FROM p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1)
         |SELECT doc_id, shard::INT AS shard, seq_idx::INT AS seq_idx FROM p""".stripMargin),

    Gate("q_oov_rate", (s, dir) =>
      TextOps.oovRate(docs(s, dir), "doc_id", "text", vocabSize = 1000),
      """WITH tk AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents),
        |v AS (SELECT token, 1 AS iv FROM (
        |  SELECT token, count(*) AS c FROM tk GROUP BY token
        |  ORDER BY c DESC, token ASC LIMIT 1000))
        |SELECT doc_id,
        |  round(sum(CASE WHEN iv IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6) AS oov_rate
        |FROM tk LEFT JOIN v USING (token)
        |GROUP BY doc_id""".stripMargin),

    Gate("q_bloom_fp_audit", (s, dir) => {
      // sketch-accuracy audit for the bloom filter: measured FP rate
      // over train grams PROVABLY absent from the eval set, next to the
      // (fill)^k theoretical rate from the exact set-bit count
      val d = docs(s, dir)
      def grams(src: org.apache.spark.sql.Column) = d.filter(src)
        .select(explode(TextOps.tokenShingles(col("text"))).as("g")).distinct()
      val evalG = grams(col("source") === "src0")
      val cleanG = grams(col("source") =!= "src0").join(evalG, Seq("g"), "left_anti")
      import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
      val bloom = evalG.agg(column(
        graft.functions.BloomBitsAgg(expression(col("g")), BloomBits, BloomHashes)
          .toAggregateExpression()).as("bits"))
      val hit = column(graft.functions.BloomHitCount(
        expression(col("bits")), expression(array(col("g"))), BloomBits, BloomHashes))
      val probes = cleanG.crossJoin(broadcast(bloom))
        .agg(count(lit(1)).as("n_probes"), sum(hit).as("n_fp"))
      // exact set-bit count: the distinct K-M positions of the eval grams
      val h1 = conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long")
      val h2 = conv(substring(md5(col("g")), 9, 8), 16, 10).cast("long")
      val nbits = evalG
        .select(h1.as("h1"), h2.as("h2"),
          explode(sequence(lit(0), lit(BloomHashes - 1))).as("i"))
        .select(((col("h1") + col("i") * col("h2")) % BloomBits).as("p"))
        .distinct().agg(count(lit(1)).as("n_set_bits"))
      val fill = col("n_set_bits").cast("double") / lit(BloomBits.toDouble)
      probes.crossJoin(broadcast(nbits))
        .select(col("n_probes"), col("n_fp"),
          round(col("n_fp") / col("n_probes"), 6).as("fp_rate"),
          col("n_set_bits"),
          round(fill * fill * fill, 6).as("theo_fp_rate"))
    },
      {
      val posExpr = s"(${hexToLong("md5(g)", 1, 8)} + i * ${hexToLong("md5(g)", 9, 8)}) % $BloomBits"
      s"""WITH tk AS (SELECT doc_id, source, $ToksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id, source, $ShinglesSql AS sh FROM tk),
         |ag AS (SELECT DISTINCT source = 'src0' AS is_eval, unnest(sh) AS g FROM sh0),
         |eg AS (SELECT DISTINCT g FROM ag WHERE is_eval),
         |cg AS (SELECT DISTINCT g FROM ag WHERE NOT is_eval AND g NOT IN (SELECT g FROM eg)),
         |ep AS (SELECT DISTINCT $posExpr AS p
         |  FROM eg, unnest(range(0, $BloomHashes)) AS t(i)),
         |cp AS (SELECT g, $posExpr AS p
         |  FROM cg, unnest(range(0, $BloomHashes)) AS t(i)),
         |miss AS (SELECT DISTINCT g FROM cp WHERE p NOT IN (SELECT p FROM ep)),
         |stats AS (SELECT
         |    (SELECT count(*) FROM cg) AS n_probes,
         |    (SELECT count(*) FROM cg) - (SELECT count(*) FROM miss) AS n_fp,
         |    (SELECT count(*) FROM ep) AS n_set_bits)
         |SELECT n_probes, n_fp, round(n_fp / n_probes, 6) AS fp_rate, n_set_bits,
         |  round((n_set_bits / $BloomBits.0) * (n_set_bits / $BloomBits.0) * (n_set_bits / $BloomBits.0), 6) AS theo_fp_rate
         |FROM stats""".stripMargin
    }),

    Gate("q_doc_perplexity", (s, dir) =>
      // LM-based quality scoring: per-doc avg negative log-likelihood
      // under the corpus bigram LM (add-one smoothed); one shared
      // bigram exchange for LM build + scoring
      TextOps.docPerplexity(docs(s, dir), "doc_id", "text"),
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |bg0 AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
         |  THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         |  ELSE [array_to_string(toks, ' ')] END) AS bigram FROM tk),
         |bg AS (SELECT doc_id, bigram FROM bg0 WHERE strpos(bigram, ' ') > 0),
         |lm AS (SELECT bigram, count(*) AS cbg FROM bg GROUP BY bigram),
         |u AS (SELECT unnest(toks) AS w1 FROM tk),
         |ug AS (SELECT w1, count(*) AS c1 FROM u GROUP BY w1),
         |vv AS (SELECT count(DISTINCT w1)::DOUBLE AS v FROM u)
         |SELECT bg.doc_id, count(*) AS n_bigrams,
         |  ((-sum(CAST(round(ln((lm.cbg + 1)::DOUBLE / (ug.c1::DOUBLE + (SELECT v FROM vv))) * 1000000) AS BIGINT))) // count(*))::BIGINT AS avg_nll_micro
         |FROM bg JOIN lm USING (bigram)
         |JOIN ug ON split_part(bg.bigram, ' ', 1) = ug.w1
         |GROUP BY bg.doc_id""".stripMargin),

    Gate("q_inverted_index", (s, dir) =>
      // bounded-posting inverted index: df + 10 smallest doc ids per
      // term with df >= 20; the cap lives inside the TopKBy aggregate.
      // Postings are emitted as a comma-joined STRING in the gate (the
      // pandas-based oracle compare cannot sort/hash array columns); the
      // operator itself keeps the typed array API.
      TextOps.invertedIndex(docs(s, dir), "doc_id", "text",
        maxPostings = 10, minDf = 20L)
        .withColumn("postings",
          concat_ws(",", col("postings").cast("array<string>"))),
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents)
        |SELECT term, count(*) AS df,
        |  array_to_string(list_slice(list(doc_id ORDER BY doc_id ASC), 1, 10), ',') AS postings
        |FROM tk GROUP BY term HAVING count(*) >= 20""".stripMargin),

    Gate("q_url_stats", (s, dir) => {
      // web-corpus provenance roll-up: parse a URL into host/port/path/
      // query (TextOps.urlParts — narrow regexp_extract) and aggregate
      // per host. The URL is derived from real columns so the oracle
      // parses the identical strings
      val d = docs(s, dir).withColumn("url",
        concat(lit("https://"), col("source"), lit(".example.org:8080/"),
          col("lang"), lit("/"), col("doc_id"), lit("?ref="), col("source")))
      d.select(Seq(col("url"), col("n_chars")) ++ TextOps.urlParts(col("url")): _*)
        .groupBy(col("host"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("path")).as("n_paths"),
          max(col("port")).as("port"),
          sum(col("n_chars")).as("total_chars"))
    },
      """WITH u AS (SELECT n_chars,
        |    'https://' || source || '.example.org:8080/' || lang || '/' || doc_id || '?ref=' || source AS url
        |  FROM documents),
        |p AS (SELECT n_chars,
        |    nullif(regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1), '') AS host,
        |    CAST(nullif(regexp_extract(url, '^[a-z]+://[^/:?#]+:([0-9]+)', 1), '') AS INTEGER) AS port,
        |    nullif(regexp_extract(url, '^[a-z]+://[^/?#]*(/[^?#]*)', 1), '') AS path
        |  FROM u)
        |SELECT host, count(*) AS n_docs, count(DISTINCT path) AS n_paths,
        |  max(port) AS port, sum(n_chars)::BIGINT AS total_chars
        |FROM p GROUP BY host""".stripMargin),

    Gate("q_temperature_mix", (s, dir) =>
      // temperature-scaled data mixing (w ∝ n^0.5): integer-exact
      // targets, md5-ranked deterministic per-source draw
      TextOps.temperatureMix(docs(s, dir), "source", "doc_id", budget = 200L),
      """WITH c AS (SELECT source, count(*) AS n_docs,
        |    CAST(round(pow(count(*)::DOUBLE, 0.5) * 1e6) AS BIGINT) AS w_micro
        |  FROM documents GROUP BY source),
        |tot AS (SELECT sum(w_micro)::BIGINT AS w_total FROM c),
        |tg AS (SELECT source, n_docs,
        |    round(w_micro::DOUBLE / w_total::DOUBLE, 6) AS weight,
        |    (w_micro * 200) // w_total AS target_n
        |  FROM c CROSS JOIN tot),
        |r AS (SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC) AS rn
        |  FROM documents),
        |sm AS (SELECT r.source, count(*) AS sampled_n
        |  FROM r JOIN tg ON r.source = tg.source WHERE r.rn <= tg.target_n
        |  GROUP BY r.source)
        |SELECT tg.source, tg.n_docs, tg.weight, tg.target_n,
        |  coalesce(sm.sampled_n, 0)::BIGINT AS sampled_n
        |FROM tg LEFT JOIN sm ON tg.source = sm.source""".stripMargin),

    Gate("q_ngram_spectrum", (s, dir) => {
      // occurrence-frequency SPECTRUM of distinct 3-grams (how many
      // n-grams appear exactly k times, k clamped at 10+): THE
      // before/after-dedup diagnostic — span dedup moves mass from the
      // heavy tail into k=1; only 16-byte gram hashes ever shuffle,
      // two map-side-combinable counts
      val grams = docs(s, dir)
        .select(explode(TextOps.tokenShingles(col("text"))).as("g"))
        .select(md5(col("g")).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("occ"))
      grams
        .select(least(col("occ"), lit(10L)).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n_grams"))
    },
      s"""WITH toks_t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |sh_t AS (SELECT doc_id, $ShinglesSql AS sh FROM toks_t),
         |occ AS (SELECT md5(s) AS h, count(*) AS occ
         |  FROM sh_t, unnest(sh) AS u(s) GROUP BY 1)
         |SELECT least(occ, 10)::BIGINT AS k, count(*)::BIGINT AS n_grams
         |FROM occ GROUP BY 1""".stripMargin),

    Gate("q_epoch_mix", (s, dir) =>
      // data-constrained epoch allocation (water-filling): budget = 2×
      // the corpus token mass, small sources repeat up to 4 epochs,
      // large sources share the leftover ∝ √n — exact decimal
      // cross-multiplied prefix test, integral floor allocations
      TextOps.epochMixFrac(
        docs(s, dir).groupBy(col("source"))
          .agg(sum(col("n_chars")).as("toks")),
        "source", "toks", budgetFrac = 2.0, maxRepeat = 4),
      // water-filling epoch allocation: prefix membership test
      // cross-multiplied in HUGEINT (Spark: decimal(38,0)), floor
      // division for the uncapped shares
      """WITH b0 AS (SELECT source, sum(n_chars)::BIGINT AS n_tokens
        |  FROM documents GROUP BY 1 HAVING sum(n_chars) > 0),
        |bt AS (SELECT floor(sum(n_tokens) * 2.0)::BIGINT AS b FROM b0),
        |base AS (SELECT source, n_tokens,
        |    CAST(round(pow(n_tokens::DOUBLE, 0.5) * 1e6) AS BIGINT) AS w,
        |    n_tokens * 4 AS cap FROM b0),
        |pre AS (SELECT *,
        |    row_number() OVER (ORDER BY n_tokens ASC, source ASC) AS rn,
        |    sum(cap) OVER (ORDER BY n_tokens ASC, source ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
        |    coalesce(sum(w) OVER (ORDER BY n_tokens ASC, source ASC
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS wafter
        |  FROM base),
        |flags AS (SELECT pre.*,
        |    (cap::HUGEINT * wafter <= (bt.b - c)::HUGEINT * w) AS f
        |  FROM pre, bt),
        |kk AS (SELECT coalesce(max(CASE WHEN f THEN rn END), 0) AS k
        |  FROM flags),
        |sums AS (SELECT
        |    sum(CASE WHEN rn <= kk.k THEN cap ELSE 0 END)::BIGINT AS csum,
        |    sum(CASE WHEN rn > kk.k THEN w ELSE 0 END)::BIGINT AS wsum
        |  FROM flags, kk),
        |alloc AS (SELECT fl.source, fl.n_tokens, fl.rn <= kk.k AS capped,
        |    (CASE WHEN fl.rn <= kk.k THEN fl.cap::HUGEINT
        |      ELSE (fl.w::HUGEINT * (bt.b - s.csum)) // s.wsum END) AS a
        |  FROM flags fl, kk, sums s, bt)
        |SELECT source, n_tokens, a::BIGINT AS alloc_tokens,
        |  round(a::DOUBLE / n_tokens::DOUBLE, 6) AS epochs, capped
        |FROM alloc""".stripMargin),

    Gate("q_budget_select", (s, dir) =>
      // token-budget data selection: per source, greedily keep the
      // highest-quality docs while the running BPE-token total stays
      // within budget — integer cumsum, deterministic quality ranking
      TextOps.budgetSelect(docs(s, dir), "doc_id", "text", "source", 800L),
      s"""WITH toks_t AS (SELECT source, doc_id, text, $ToksSql AS toks FROM documents),
         |q_t AS (${qualitySelectSql("toks_t",
             "source, len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]'))::BIGINT AS n_tokens, ")}),
         |c_t AS (SELECT source, doc_id, quality, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY quality DESC, doc_id ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM q_t)
         |SELECT source, doc_id, quality, n_tokens, cum_tokens
         |FROM c_t WHERE cum_tokens <= 800""".stripMargin),

    Gate("q_token_budget_report", (s, dir) => {
      // training-mix accounting — the "data card" numbers a mixture
      // designer reads before weighting: per-source docs/tokens, corpus
      // token share, and the epochs a 1M-token budget implies per
      // source. One map-side-combinable agg; the 1-row total broadcasts.
      val perSrc = docs(s, dir)
        .select(col("source"),
          TextOps.tokenCountBpe(col("text")).cast("long").as("nt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      val tot = perSrc.agg(sum(col("n_tokens")).as("tot"))
      perSrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          // zero-token guards: ANSI division THROWS on a 0 denominator
          // (it does not NULL); NULL is the contract, mirrored by the
          // oracle's nullif
          round(when(col("tot") > 0,
            col("n_tokens").cast("double") / col("tot")), 6).as("token_share"),
          round(when(col("n_tokens") > 0,
            lit(1000000.0) / col("n_tokens")), 6).as("epochs_at_1m"))
    },
      """WITH s_t AS (SELECT source, count(*) AS n_docs,
        |    sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY source),
        |tot_t AS (SELECT sum(n_tokens)::BIGINT AS tot FROM s_t)
        |SELECT source, n_docs, n_tokens,
        |  round(n_tokens::DOUBLE / nullif(tot, 0), 6) AS token_share,
        |  round(1000000.0 / nullif(n_tokens, 0), 6) AS epochs_at_1m
        |FROM s_t, tot_t""".stripMargin),

    Gate("q_seqlen_histogram", (s, dir) =>
      // sequence-length histogram in power-of-two buckets: bucket =
      // bit-length of the BPE token count (length of its binary string
      // — integer-exact boundaries, never a float log2, which rounds
      // 2^k down on exact powers in IEEE ln-ratio form). The
      // pre-packing profile that sizes max_seq_len and predicts
      // padding waste. Token counts staged once (HOFs have no CSE).
      docs(s, dir)
        .select(TextOps.tokenCountBpe(col("text")).cast("long").as("nt"))
        .select(length(bin(col("nt"))).as("len_bucket"), col("nt"))
        .groupBy(col("len_bucket"))
        .agg(count(lit(1)).as("n_docs"), min(col("nt")).as("min_tokens"),
          max(col("nt")).as("max_tokens"), sum(col("nt")).as("sum_tokens")),
      """WITH n_t AS (SELECT
        |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))::BIGINT AS nt
        |  FROM documents)
        |SELECT length(bin(nt)) AS len_bucket, count(*) AS n_docs,
        |  min(nt) AS min_tokens, max(nt) AS max_tokens,
        |  sum(nt)::BIGINT AS sum_tokens
        |FROM n_t GROUP BY len_bucket""".stripMargin),

    Gate("q_token_fertility", (s, dir) =>
      // tokenizer-fertility report: chars per BPE token by language —
      // the metric that tells a tokenizer team which languages pay the
      // highest token tax. Exact integer sums, one division at the end.
      docs(s, dir)
        .select(col("lang"), col("n_chars"),
          TextOps.tokenCountBpe(col("text")).cast("long").as("nt"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("nt")).as("sum_tokens"))
        .select(col("lang"), col("n_docs"), col("sum_chars"), col("sum_tokens"),
          // ANSI-safe: a zero-token language reads NULL, not an error
          round(when(col("sum_tokens") > 0,
            col("sum_chars").cast("double") / col("sum_tokens")), 6)
            .as("chars_per_token")),
      """WITH d AS (SELECT lang, n_chars,
        |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))::BIGINT AS nt
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  sum(n_chars)::BIGINT AS sum_chars, sum(nt)::BIGINT AS sum_tokens,
        |  round(sum(n_chars)::DOUBLE / nullif(sum(nt), 0), 6) AS chars_per_token
        |FROM d GROUP BY lang""".stripMargin),

    Gate("q_bpe_merges", (s, dir) =>
      // BPE merge-candidate scoring: frequency-weighted adjacent char
      // pairs over the vocabulary, deterministic top-20
      TextOps.bpeMergeCandidates(docs(s, dir), "text", k = 20),
      s"""WITH w AS (SELECT unnest($ToksSql) AS w FROM documents),
         |wc AS (SELECT w, count(*) AS f FROM w GROUP BY w HAVING length(w) >= 2),
         |p AS (SELECT unnest(list_transform(range(1, length(w)),
         |    i -> substring(w, i::INTEGER, 2))) AS pair, f FROM wc),
         |pc AS (SELECT pair, sum(f)::BIGINT AS cnt FROM p GROUP BY pair)
         |SELECT pair, cnt FROM pc ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin),

    Gate("q_bpe_train", (s, dir) =>
      // FULL BPE training, 8 rounds end to end: per round re-encode
      // the vocabulary under the merges so far, adopt the most
      // frequent adjacent symbol pair (cnt desc, x, y). The oracle
      // unrolls the same 8 rounds as chained CTEs (the q_kmeans
      // unrolled-iterations discipline).
      TextOps.bpeTrain(docs(s, dir), "text", nMerges = 8),
      // full BPE training replay, 8 rounds unrolled: round r encodes the
      // vocabulary by ascending-rank wrapped-symbol replaces of the
      // previous rounds' picks (scalar 1-row CTEs cross-joined in), then
      // picks the heaviest adjacent symbol pair. Ascending replay ==
      // the kernel's min-rank greedy because trained tables are
      // well-formed by construction (each pick's parts are current
      // symbols). DuckDB lists are 1-based like the bpeChainSql replay.
      {
      val n = 8
      val rounds = (1 to n).map { r =>
        val joins = (1 until r).map(i => s" CROSS JOIN m_$i").mkString
        var enc = "'|' || array_to_string(list_transform(" +
          "range(1, length(w) + 1), i -> w[i]), '||') || '|'"
        (1 until r).foreach { i =>
          enc = s"replace($enc, '|' || m_$i.x || '||' || m_$i.y || '|', " +
            s"'|' || m_$i.x || m_$i.y || '|')"
        }
        s"""enc_$r AS (SELECT f, list_filter(string_split($enc, '|'), t -> t <> '') AS syms
           |  FROM wc$joins),
           |p_$r AS (SELECT syms[i] AS x, syms[i + 1] AS y, sum(f)::BIGINT AS cnt
           |  FROM enc_$r, unnest(range(1, len(syms))) AS u(i)
           |  WHERE len(syms) >= 2 GROUP BY 1, 2),
           |m_$r AS (SELECT x, y, cnt FROM p_$r ORDER BY cnt DESC, x ASC, y ASC LIMIT 1)""".stripMargin
      }
      s"""WITH w0 AS (SELECT unnest($ToksSql) AS w FROM documents),
         |wc AS (SELECT w, count(*)::BIGINT AS f FROM w0 GROUP BY w),
         |${rounds.mkString(",\n")}
         |${(1 to n).map(r =>
           s"SELECT $r AS merge_rank, x, y, cnt FROM m_$r").mkString("\nUNION ALL\n")}""".stripMargin
    }),

    Gate("q_hash_vectorize", (s, dir) =>
      // hashing-trick BoW: fixed-dim sparse features, zero vocab state,
      // md5 buckets so collisions replay identically in any engine
      TextOps.hashingVectorize(docs(s, dir), "doc_id", "text", 256),
      s"""WITH tk AS (SELECT doc_id,
         |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
         |  FROM documents)
         |SELECT doc_id,
         |  ((${hexToLong("md5(token)", 1, 8)}) % 256)::BIGINT AS bucket,
         |  count(*) AS n
         |FROM tk GROUP BY 1, 2""".stripMargin),

    Gate("q_vocab_overlap_matrix", (s, dir) =>
      // pairwise source-vocabulary Jaccard: one hash-staged distinct
      // frame feeds sizes and both self-join sides; hashes only
      TextOps.vocabOverlapMatrix(docs(s, dir), "source", "text"),
      s"""WITH st AS (SELECT DISTINCT source, md5(tok) AS h
         |  FROM (SELECT source, unnest($ToksSql) AS tok FROM documents) t),
         |sz AS (SELECT source, count(*) AS n FROM st GROUP BY source),
         |iv AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
         |  FROM st a JOIN st b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, n_common,
         |  round(n_common::DOUBLE / (sa.n + sb.n - n_common)::DOUBLE, 6) AS jaccard
         |FROM iv JOIN sz sa ON source_a = sa.source
         |JOIN sz sb ON source_b = sb.source""".stripMargin),

    Gate("q_pmi_lang_source", (s, dir) =>
      // lang × source pointwise mutual information over the bounded
      // cell frame — corpus-mix skew diagnostic
      TextOps.pmiTable(docs(s, dir), "lang", "source"),
      """WITH j AS (SELECT lang, source, count(*) AS c
        |  FROM documents GROUP BY lang, source)
        |SELECT lang, source, c,
        |  round(ln(c::DOUBLE * (sum(c) OVER ())::DOUBLE /
        |    ((sum(c) OVER (PARTITION BY lang))::DOUBLE
        |      * (sum(c) OVER (PARTITION BY source))::DOUBLE)), 6) AS pmi
        |FROM j""".stripMargin),

    Gate("q_sample_weighted_agg", (s, dir) => {
      // the BOUNDED-STATE twin of q_sample_weighted: same E-S draw, but
      // through the O(k)-heap TopKBy aggregate (map-side combinable)
      // instead of a per-stratum window sort — the 100 TB form; both
      // forms share one DuckDB oracle, so the gate proves them equal
      val d = docs(s, dir)
        .select(col("doc_id"), col("lang"), length(col("text")).as("w"))
      val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double") + lit(0.5)) / lit(4294967296.0)
      val key = round(log(u) / greatest(col("w").cast("double"), lit(1e-300)), 6)
      d.select(col("lang"), col("doc_id"), key.as("k"))
        .groupBy(col("lang"))
        .agg(GraftFunctions.topk_by(col("doc_id"), col("k"), 15).as("top"))
        .select(col("lang"), explode(col("top")).as("e"))
        .select(col("e.id").as("doc_id"), col("lang"))
    },
      // identical draw to q_sample_weighted — the bounded-state aggregate
      // and the window sort MUST produce the same sample
      WeightedSampleSql),

    Gate("q_readability", (s, dir) =>
      // grade-level curation signal: FK readability from exact token /
      // sentence-run / vowel-run counts, NULL (never a throw) on
      // wordless docs
      TextOps.readability(docs(s, dir), "doc_id", "text"),
      """WITH t AS (SELECT doc_id,
        |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w,
        |    len(regexp_extract_all(text, '[.!?]+')) AS sr,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS vr
        |  FROM documents)
        |SELECT doc_id, w::INT AS n_words,
        |  (CASE WHEN w > 0 THEN greatest(sr, 1) ELSE 0 END)::INT AS n_sentences,
        |  (CASE WHEN w > 0 THEN greatest(vr, w) ELSE 0 END)::INT AS n_syllables,
        |  round(CASE WHEN w > 0 THEN
        |    0.39 * (w::DOUBLE / greatest(sr, 1)::DOUBLE)
        |    + 11.8 * (greatest(vr, w)::DOUBLE / w::DOUBLE) - 15.59 END, 6)
        |    AS fk_grade
        |FROM t""".stripMargin),

    Gate("q_url_dedup", (s, dir) =>
      // crawl dedup: case/port/fragment/tracking-param/slash variants of
      // the same page collapse to one canonical form (derived from real
      // columns so the oracle canonicalizes the identical strings)
      TextOps.urlDedup(synthUrls(s, dir), "doc_id", "url"),
      ("WITH " + UrlSynthCanonSql + """
        |SELECT canonical_url, count(*)::BIGINT AS n_dups,
        |  min(doc_id) AS rep_id
        |FROM cu_c GROUP BY 1""".stripMargin)),

    Gate("q_crawl_schedule", (s, dir) =>
      // per-host politeness waves over the same synthesized frontier:
      // rank within host = the wave that may fetch the url (at most
      // one per host per wave), n_queue = the hot-host diagnostic
      TextOps.crawlSchedule(synthUrls(s, dir), "doc_id", "url", "n_chars"),
      // per-host politeness waves over the shared synthesized frontier
      ("WITH " + UrlSynthCanonSql + """,
        |h AS (SELECT c.doc_id AS req_id, c.canonical_url,
        |    d.n_chars AS priority,
        |    regexp_extract(c.canonical_url, '^[a-z]+://([^/:?#]+)', 1) AS host
        |  FROM cu_c c JOIN cu_d d USING (doc_id))
        |SELECT req_id, canonical_url, priority, host,
        |  row_number() OVER (PARTITION BY host
        |    ORDER BY priority DESC, canonical_url ASC, req_id ASC) AS wave,
        |  count(*) OVER (PARTITION BY host) AS n_queue
        |FROM h""".stripMargin)),

    Gate("q_link_graph", (s, dir) =>
      // the REAL crawl link graph (r19): WAT-style href extraction →
      // host-level (src, dst, n_links) edges, over pages synthesized
      // identically by both engines. The splices decide every
      // resolution rule on real rows: an absolute link on every page,
      // a relative link (%3 → self-edge), a case/port variant (%5 —
      // host lowercased, :443 excluded by the host pattern), a mailto:
      // (dropped) + a protocol-relative //cdn link (%4).
      TextOps.linkGraph(linkPages(s, dir), "url", "html"),
      // the real crawl link graph: the SAME page synthesis, href regex
      // and host-resolution rules as the Spark gate (HrefPattern is the
      // ONE shared constant)
      (LinkEdgesSql +
        """SELECT src_host, dst_host, count(*)::BIGINT AS n_links
          |FROM edges WHERE dst_host IS NOT NULL AND dst_host <> ''
          |GROUP BY 1, 2""".stripMargin)),

    Gate("q_anchor_text", (s, dir) =>
      // the anchor-text corpus (r19): what link text says about each
      // TARGET host — same synthesized pages and host-resolution rules
      // as q_link_graph; 'mail' vanishes with its mailto: target
      TextOps.anchorTexts(linkPages(s, dir), "url", "html"),
      // anchor-text corpus over the same synthesized pages: the pair
      // pattern's two capture groups extracted as parallel lists and
      // zipped by position (both engines return matches in document
      // order)
      {
      val apat = graft.ops.TextOps.AnchorPattern.replace("'", "''")
      LinkEdgesSql.stripTrailing() +
        s""",
           |pr AS (SELECT
           |    lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1)) AS src_host,
           |    regexp_extract_all(html, '$apat', 1) AS hs,
           |    regexp_extract_all(html, '$apat', 2) AS ts
           |  FROM pages),
           |apairs AS (SELECT src_host, hs[i] AS href,
           |    lower(trim(ts[i])) AS anchor
           |  FROM pr, unnest(range(1, len(hs) + 1)) AS u(i)
           |  WHERE src_host <> ''),
           |res AS (SELECT anchor,
           |$HrefHostSql
           |  FROM apairs WHERE anchor <> '')
           |SELECT dst_host, anchor, count(*)::BIGINT AS n
           |FROM res WHERE dst_host IS NOT NULL AND dst_host <> ''
           |GROUP BY 1, 2""".stripMargin
    }),

    Gate("q_robots_parse", (s, dir) => {
      // distributed robots.txt parsing (r19): per host a deterministic
      // REP body exercising comment stripping, the non-* agent block
      // (excluded), empty-path no-ops (skipped), unknown keys
      // (ignored), and an even-host-only extra rule
      val robots = docs(s, dir)
        .select(lower(col("source")).as("src")).distinct()
        .select(concat(col("src"), lit(".example.org")).as("host"),
          concat(
            // CRLF on the /e rule line: the real-world robots.txt line
            // ending the CR-strip must handle
            lit("# synthetic robots\nUser-agent: special-bot\n" +
              "Disallow: /private\nUser-agent: *\n" +
              "Disallow: /e # keep out\r\nAllow: /en\n"),
            when(regexp_extract(col("src"), "src([0-9]+)", 1)
              .cast("int") % 2 === 0, lit("Disallow: /tmp\n"))
              .otherwise(lit("")),
            lit("Disallow:\nCrawl-delay: 10\n")).as("body"))
      TextOps.parseRobots(robots, "host", "body")
    },
      // distributed robots.txt parse replay: same line/comment/agent/
      // empty-path rules as TextOps.parseRobots
      """WITH hosts AS (SELECT DISTINCT lower(source) AS src,
        |    lower(source) || '.example.org' AS host FROM documents),
        |b AS (SELECT host,
        |    '# synthetic robots' || chr(10) || 'User-agent: special-bot'
        |    || chr(10) || 'Disallow: /private' || chr(10) || 'User-agent: *'
        |    || chr(10) || 'Disallow: /e # keep out' || chr(13) || chr(10) || 'Allow: /en' || chr(10)
        |    || CASE WHEN TRY_CAST(regexp_extract(src, 'src([0-9]+)', 1) AS INT) % 2 = 0
        |         THEN 'Disallow: /tmp' || chr(10) ELSE '' END
        |    || 'Disallow:' || chr(10) || 'Crawl-delay: 10' || chr(10) AS body
        |  FROM hosts),
        |ls AS (SELECT host, string_split(body, chr(10)) AS ls FROM b),
        |l AS (SELECT host, i AS pos,
        |    trim(regexp_replace(replace(ls[i], chr(13), ''), '#.*$', '')) AS l
        |  FROM ls, unnest(range(1, len(ls) + 1)) AS u(i)),
        |t AS (SELECT host, pos,
        |    lower(regexp_extract(l, '(?i)^(user-agent|allow|disallow)[ \t]*:', 1)) AS k,
        |    trim(regexp_extract(l, '(?i)^(?:user-agent|allow|disallow)[ \t]*:[ \t]*([^ \t]*)', 1)) AS v
        |  FROM l WHERE regexp_matches(l, '(?i)^(user-agent|allow|disallow)[ \t]*:')),
        |a AS (SELECT host, pos, k, v,
        |    last_value(CASE WHEN k = 'user-agent' THEN v END IGNORE NULLS)
        |      OVER (PARTITION BY host ORDER BY pos
        |        ROWS UNBOUNDED PRECEDING) AS agent
        |  FROM t)
        |SELECT DISTINCT host, v AS prefix, (k = 'allow') AS allow
        |FROM a WHERE k IN ('allow', 'disallow') AND agent = '*' AND v <> ''"""
        .stripMargin),

    Gate("q_langid_confusion", (s, dir) =>
      // router-accuracy readout (r19): gold label × heuristic langId
      // confusion counts — the diagnostic that says how much corpus a
      // keepLangs route would mis-route
      docs(s, dir)
        .groupBy(col("lang").as("lang_true"),
          TextOps.langIdCjk(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n")),
      // gold × predicted language confusion counts (langCjk replay over
      // the raw documents)
      s"""WITH ${langCjkCtesSql("documents")}
         |SELECT d.lang AS lang_true, lg.lang AS lang_pred,
         |  count(*)::BIGINT AS n
         |FROM documents d JOIN lg USING (doc_id)
         |GROUP BY 1, 2""".stripMargin),

    Gate("q_nb_train", (s, dir) =>
      // multinomial Naive Bayes TRAINING (r19): the lang-routing
      // classifier trained on the corpus itself — Laplace-smoothed
      // micro-log weights, integer-exact
      TextOps.trainNaiveBayes(docs(s, dir), "lang", "text"),
      // Naive Bayes training replay: the same two count aggregations +
      // micro-log rounding
      (NbModelSql + "\nSELECT label, token, kind, w_micro FROM model")),

    Gate("q_nb_classify", (s, dir) => {
      // train → classify round trip on the same corpus: per doc the
      // argmax label under integer micro-log scores (ties → label asc)
      val model = TextOps.trainNaiveBayes(docs(s, dir), "lang", "text")
      TextOps.classifyNaiveBayes(docs(s, dir), "doc_id", "text", model)
    },
      // classify replay: per (doc, label) the exact integer micro-log
      // sum with the unseen fallback, argmax with label-asc tie-break
      (NbModelSql + s""",
        |nb_toks AS (SELECT doc_id, unnest($ToksSql) AS token FROM documents),
        |nb_pri AS (SELECT label, w_micro AS prior FROM model WHERE kind = 'prior'),
        |nb_uns AS (SELECT label, w_micro AS w_unseen FROM model WHERE kind = 'unseen'),
        |nb_tw AS (SELECT label, token, w_micro FROM model WHERE kind = 'tok'),
        |nb_sc AS (SELECT t.doc_id, p.label,
        |    sum(coalesce(tw.w_micro, u.w_unseen))::BIGINT AS s
        |  FROM nb_toks t CROSS JOIN (SELECT label FROM nb_pri) p
        |  LEFT JOIN nb_tw tw ON tw.label = p.label AND tw.token = t.token
        |  JOIN nb_uns u ON u.label = p.label
        |  GROUP BY 1, 2),
        |nb_fin AS (SELECT doc_id, label, s + prior AS score_micro,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY s + prior DESC, label ASC) AS rn
        |  FROM nb_sc JOIN nb_pri USING (label))
        |SELECT doc_id, label AS predicted, score_micro
        |FROM nb_fin WHERE rn = 1""".stripMargin)),

    Gate("q_nb_incremental", (s, dir) => {
      // INCREMENTAL NB training (r20): per-slice sufficient statistics
      // (integer counts) merged by summation, model derived from the
      // merge — the oracle is the from-scratch full-corpus model, so
      // equality proves the merge is exactly a batch retrain (counts
      // are associative; batch arrival order can never matter)
      val half = (p: Int) => TextOps.naiveBayesCounts(
        docs(s, dir).filter(col("doc_id") % 2 === p), "lang", "text")
      TextOps.naiveBayesFromCounts(
        TextOps.mergeNaiveBayesCounts(half(0), half(1)))
    },
      // incremental-training oracle: the from-scratch full-corpus model —
      // the Spark side merges per-slice sufficient statistics, so
      // equality proves count-merge + derive == batch retrain exactly
      (NbModelSql + "\nSELECT label, token, kind, w_micro FROM model")),

    Gate("q_sitemap_parse", (s, dir) => {
      // sitemap.xml → canonical frontier seeds (r19): per host a
      // deterministic urlset whose locs exercise trimming, the
      // scheme/port/tracking-param/trailing-slash canonical folds, a
      // duplicate that must collapse (even hosts), and an empty loc
      // that must drop
      val sm = docs(s, dir)
        .select(lower(col("source")).as("src")).distinct()
        .select(concat(col("src"), lit(".example.org")).as("host"),
          concat(
            lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?><urlset>" +
              "<url><loc>https://"), col("src"),
            lit(".example.org/a</loc><lastmod>2024-01-01</lastmod></url>" +
              "<url><loc>\n  HTTPS://"), col("src"),
            lit(".example.org:443/b/?utm_source=feed&a=1  \n</loc></url>"),
            when(regexp_extract(col("src"), "src([0-9]+)", 1)
              .cast("int") % 2 === 0,
              concat(lit("<url><loc>https://"), col("src"),
                lit(".example.org/a</loc></url>"))).otherwise(lit("")),
            lit("<url><loc></loc></url></urlset>")).as("body"))
      TextOps.parseSitemap(sm, "host", "body")
    },
      // sitemap seed replay: loc extraction + the canonicalUrl fold
      // chain (same steps as UrlSynthCanonSql's cu_p/cu_c, keyed by host)
      {
      val pat = graft.ops.TextOps.SitemapLocPattern.replace("'", "''")
      s"""WITH hosts AS (SELECT DISTINCT lower(source) AS src,
         |    lower(source) || '.example.org' AS host FROM documents),
         |b AS (SELECT host,
         |    '<?xml version="1.0" encoding="UTF-8"?><urlset><url><loc>https://'
         |    || src || '.example.org/a</loc><lastmod>2024-01-01</lastmod></url>'
         |    || '<url><loc>' || chr(10) || '  HTTPS://' || src
         |    || '.example.org:443/b/?utm_source=feed&a=1  ' || chr(10) || '</loc></url>'
         |    || CASE WHEN TRY_CAST(regexp_extract(src, 'src([0-9]+)', 1) AS INT) % 2 = 0
         |         THEN '<url><loc>https://' || src || '.example.org/a</loc></url>'
         |         ELSE '' END
         |    || '<url><loc></loc></url></urlset>' AS body
         |  FROM hosts),
         |locs AS (SELECT host,
         |    regexp_replace(unnest(regexp_extract_all(body, '$pat', 1)),
         |      '^[ \\t\\r\\n]+|[ \\t\\r\\n]+$$', '', 'g') AS url FROM b),
         |""".stripMargin + canonicalUrlCtes("host", "uhost", "locs", "") +
        """
          |SELECT DISTINCT host, canonical_url FROM c
         |WHERE regexp_matches(canonical_url, '^[a-z]+://.')""".stripMargin
    }),

    Gate("q_robots_allow", (s, dir) => {
      // the REAL-INPUT frontier-consent chain (r19): robots.txt TEXT →
      // parseRobots → crawlAllowFilter over the shared synthesized
      // frontier. The even-host bodies encode exactly q_crawl_allow's
      // rule ladder, so the oracle replays the ladder as VALUES — the
      // gate proves text-parse ∘ filter == the ladder end to end
      // (longest-prefix, tie-break, default-allow, absent-robots arms
      // all decided by parsed rules, not synthetic frames)
      val robots = docs(s, dir)
        .select(lower(col("source")).as("src")).distinct()
        .select(concat(col("src"), lit(".example.org")).as("host"),
          concat(
            lit("# robots\nUser-agent: special-bot\nDisallow: /secret\n"),
            when(regexp_extract(col("src"), "src([0-9]+)", 1)
              .cast("int") % 2 === 0,
              lit("User-agent: *\nAllow: /\nDisallow: /e # trap\r\n" +
                "Allow: /en\nDisallow: /f\nAllow: /f\nDisallow:\n"))
              .otherwise(lit("")),
            lit("Crawl-delay: 7\n")).as("body"))
      TextOps.crawlAllowFilter(synthUrls(s, dir), "doc_id", "url",
        TextOps.parseRobots(robots, "host", "body"))
    },
      // the real-input chain: the Spark side PARSES the rule ladder out
      // of robots.txt text; the oracle replays the ladder as VALUES —
      // equality proves parse ∘ filter end to end
      CrawlAllowOracleSql),

    Gate("q_crawl_allow", (s, dir) => {
      // robots-style allow/deny over the shared frontier: even-numbered
      // hosts carry a rule ladder — '/' allow, '/e' deny, '/en' allow,
      // plus a conflicting '/f' pair — so longest-prefix precedence
      // (/en allowed THROUGH the /e deny), a mid-prefix deny (/es),
      // the equal-length allow tie-break (/fr), the default-allow
      // fallback (/de, /zh) and the absent-robots consent arm (odd
      // hosts, rule_prefix null) all decide real rows. Canonical paths
      // have trailing slashes stripped, so prefixes are slash-free.
      val d = docs(s, dir)
      val hosts = d
        .select(concat(lower(col("source")), lit(".example.org")).as("host"))
        .distinct()
        .filter(regexp_extract(col("host"), "src([0-9]+)", 1)
          .cast("int") % 2 === 0)
      val rules = hosts.select(col("host"), explode(array(
        struct(lit("/").as("prefix"), lit(true).as("allow")),
        struct(lit("/e").as("prefix"), lit(false).as("allow")),
        struct(lit("/en").as("prefix"), lit(true).as("allow")),
        struct(lit("/f").as("prefix"), lit(false).as("allow")),
        struct(lit("/f").as("prefix"), lit(true).as("allow")))).as("r"))
        .select(col("host"), col("r.prefix").as("prefix"),
          col("r.allow").as("allow"))
      TextOps.crawlAllowFilter(synthUrls(s, dir), "doc_id", "url", rules)
    },
      // robots-style allow/deny: longest matching prefix wins, ties ->
      // allow, no rule -> allowed
      CrawlAllowOracleSql))

  /** The synthesized URL frontier the q_url_dedup / q_crawl_schedule
    * gates share: case/port/fragment/tracking-param/slash variants
    * derived from real doc columns so both engines canonicalize the
    * identical strings. Keeps every documents column (q_crawl_schedule
    * uses n_chars as the fetch priority). */
  private def synthUrls(s: SparkSession, dir: String) =
    docs(s, dir).withColumn("url",
      concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
        when(col("doc_id") % 3 === 0, upper(col("source"))).otherwise(col("source")),
        lit(".example.org"),
        when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit("")),
        lit("/"), col("lang"),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("?utm_source=feed&b=2&a=1"))
          .otherwise(when(col("doc_id") % 4 === 1, lit("?a=1&b=2"))
            .otherwise(lit(""))),
        when(col("doc_id") % 7 === 0, lit("#frag")).otherwise(lit(""))))

  /** The robots-ladder frontier-consent replay shared by q_crawl_allow
    * (synthetic rules frame) and q_robots_allow (rules PARSED from
    * robots.txt text — the even-host bodies encode this exact ladder,
    * so one oracle serves both and equality proves the parse). */
  private lazy val CrawlAllowOracleSql: String =
    "WITH " + UrlSynthCanonSql + """,
      |hosts AS (SELECT DISTINCT lower(source) || '.example.org' AS host
      |  FROM documents
      |  WHERE TRY_CAST(regexp_extract(lower(source), 'src([0-9]+)', 1)
      |    AS INT) % 2 = 0),
      |rules AS (SELECT host, r.prefix, r.allow FROM hosts,
      |  (VALUES ('/', true), ('/e', false), ('/en', true),
      |          ('/f', false), ('/f', true)) AS r(prefix, allow)),
      |f AS (SELECT c.doc_id AS req_id, c.canonical_url,
      |    regexp_extract(c.canonical_url, '^[a-z]+://([^/:?#]+)', 1) AS host,
      |    coalesce(nullif(regexp_extract(c.canonical_url,
      |      '^[a-z]+://[^/?#]*(/[^?#]*)', 1), ''), '/') AS path
      |  FROM cu_c c),
      |mt AS (SELECT f.req_id, r.prefix, r.allow,
      |    row_number() OVER (PARTITION BY f.req_id
      |      ORDER BY length(r.prefix) DESC, r.allow DESC, r.prefix ASC) AS rn
      |  FROM f JOIN rules r ON f.host = r.host
      |    AND starts_with(f.path, r.prefix)),
      |b AS (SELECT req_id, prefix AS rule_prefix, allow FROM mt WHERE rn = 1)
      |SELECT f.req_id, f.canonical_url, f.host, f.path,
      |  coalesce(b.allow, true) AS allowed, b.rule_prefix
      |FROM f LEFT JOIN b USING (req_id)""".stripMargin

  /** Naive Bayes model CTEs (lang-labeled, over documents), ending at
    * `model`(label, token, kind, w_micro) — the replay of
    * [[graft.ops.TextOps.trainNaiveBayes]] shared by q_nb_train and
    * q_nb_classify. */
  private lazy val NbModelSql: String =
    s"""WITH nb_dt AS (SELECT lang AS label, unnest($ToksSql) AS token
       |  FROM documents),
       |nb_tl AS (SELECT label, token, count(*)::BIGINT AS c
       |  FROM nb_dt GROUP BY 1, 2),
       |nb_lt AS (SELECT label, sum(c)::BIGINT AS n_l FROM nb_tl GROUP BY 1),
       |nb_v AS (SELECT count(DISTINCT token)::BIGINT AS v FROM nb_tl),
       |nb_nd AS (SELECT lang AS label, count(*)::BIGINT AS nd
       |  FROM documents GROUP BY 1),
       |nb_n AS (SELECT count(*)::BIGINT AS n FROM documents),
       |model AS (
       |  SELECT label, token, 'tok' AS kind,
       |    round(ln((c + 1)::DOUBLE / (n_l + v)::DOUBLE) * 1e6)::BIGINT AS w_micro
       |  FROM nb_tl JOIN nb_lt USING (label) CROSS JOIN nb_v
       |  UNION ALL
       |  SELECT label, '' AS token, 'unseen' AS kind,
       |    round(ln(1.0 / (n_l + v)::DOUBLE) * 1e6)::BIGINT
       |  FROM nb_lt CROSS JOIN nb_v
       |  UNION ALL
       |  SELECT label, '' AS token, 'prior' AS kind,
       |    round(ln(nd::DOUBLE / n::DOUBLE) * 1e6)::BIGINT
       |  FROM nb_nd CROSS JOIN nb_n)""".stripMargin

  private val BoilerplateChainSql =
    """WITH m AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 2 = 0 THEN 'NAV HOME ABOUT CONTACT' || chr(10)
        |         ELSE '' END || text || chr(10) || 'copyright ' || source AS text
        |  FROM documents),
        |""".stripMargin + boilerplateCtesSql("m")

  /** DuckDB twin of [[graft.ops.TextOps.gopherQualityFlags]] over the
    * q_gopher_quality splice — per-doc metrics + pass flags + keep;
    * shared by q_gopher_quality (verbatim) and q_filter_report
    * (aggregated per source). */
  private lazy val GopherFlagsSql: String =
    s"""WITH m AS (SELECT doc_id,
         |    text || CASE WHEN doc_id % 7 = 0
         |      THEN chr(10) || '- alpha bullet' || chr(10) || '* beta bullet'
         |        || chr(10) || '##############################... ... ...'
         |      ELSE '' END AS text
         |  FROM documents),
         |""".stripMargin + gopherCtesSql("m") + "\nSELECT * FROM gf_flags"

  /** Shared URL-frontier synthesis + canonicalization (the
    * q_url_dedup / q_crawl_schedule twin of [[synthUrls]] +
    * [[graft.ops.TextOps.canonicalUrl]]): emits CTEs `cu_d` (doc_id,
    * n_chars, url), `cu_p` (parsed parts) and `cu_c` (doc_id,
    * canonical_url). */
  private val UrlSynthCanonSql: String =
    """cu_d AS (SELECT doc_id, n_chars,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
      |    || (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END)
      |    || '.example.org'
      |    || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
      |    || '/' || lang
      |    || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
      |    || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&b=2&a=1'
      |        WHEN doc_id % 4 = 1 THEN '?a=1&b=2' ELSE '' END)
      |    || (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
      |  FROM documents),
      |""".stripMargin + canonicalUrlCtes("doc_id", "host", "cu_d", "cu_")

  /** Shared BPE oracle chain: ascending-rank replay of the pinned
    * merges table (== graft.functions.BpeEncode's min-rank loop for any
    * well-formed table). Each symbol is wrapped `|s|` — the string is a
    * concatenation of wrapped symbols (`|a||a||a|`) — so ONE LTR
    * non-overlapping replace of `|x||y|` → `|xy|` per rank IS the
    * canonical leftmost-nonoverlapping merge-all pass: every symbol
    * carries its own delimiters and back-to-back occurrences share
    * nothing (the r16 singly-delimited two-pass form under-merged even
    * self-pair runs ≥ 6). Encodes DISTINCT words once via a recursive
    * CTE, joins back; ends with `agg` (doc_id → n_bpe_real, all_toks)
    * and keeps `toks_t` visible. */
  private def bpeChainSql: String = {
    val m = graft.ops.TextOps.BpeGateMerges.size
    s"""${mergesCteSql(graft.ops.TextOps.BpeGateMerges)},
       |toks_t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |wt AS (SELECT doc_id, toks[i] AS word, i AS ord
       |  FROM toks_t, unnest(range(1, len(toks) + 1)) AS u(i)),
       |${bpeWordEncodeSql(m)}
       |agg AS (SELECT doc_id,
       |    sum(len(wtoks)) AS n_bpe_real,
       |    string_agg(array_to_string(wtoks, ' '), ' ' ORDER BY ord) AS all_toks
       |  FROM wt JOIN fin USING (word) GROUP BY doc_id)""".stripMargin
  }

  /** The q_bpe_specials oracle: [[bpeByteReplaySql]]'s word-encode
    * recursion over TWO constructed segments per doc (ascii text+probe;
    * uppercased ascii 40-char prefix), assembled as
    * seg1 ++ [E] ++ seg2 ++ [E, E] where E = 256 + |merges| is the
    * special's id under the byteLevelVocabWithSpecials numbering. */
  private def bpeByteSegSpecialsSql: String = {
    val m = graft.ops.TextOps.BpeByteGateMerges.size
    val eotId = 256 + m
    val vocab = graft.ops.TextOps
      .byteLevelVocab(graft.ops.TextOps.BpeByteGateMerges)
    val vv = vocab.toSeq.sortBy(_._2)
      .map { case (t, i) => s"('${t.replace("'", "''")}', $i)" }
      .mkString(", ")
    s"""${mergesCteSql(graft.ops.TextOps.BpeByteGateMerges)},
       |vv(tok, id) AS (VALUES $vv),
       |segs AS (
       |  SELECT doc_id, 1 AS seg, list_transform(
       |      regexp_extract_all(
       |        regexp_replace(text || '$PreTokenProbeSql', '[^ -~]|\\|', '', 'g'),
       |        '$PreTokenSql', 0), t -> replace(t, ' ', 'Ġ')) AS toks
       |    FROM documents
       |  UNION ALL
       |  SELECT doc_id, 2, list_transform(
       |      regexp_extract_all(
       |        upper(regexp_replace(text[1:40], '[^ -~]|\\|', '', 'g')),
       |        '$PreTokenSql', 0), t -> replace(t, ' ', 'Ġ'))
       |    FROM documents),
       |wt AS (SELECT doc_id, seg, toks[i] AS word, i AS ord
       |  FROM segs, unnest(range(1, len(toks) + 1)) AS u(i)),
       |${bpeWordEncodeSql(m)}
       |wtok AS (SELECT word, wtoks[i] AS tok, i AS tord
       |  FROM fin, unnest(range(1, len(wtoks) + 1)) AS u(i)),
       |wids AS (SELECT word, list(vv.id ORDER BY wtok.tord) AS ids
       |  FROM wtok JOIN vv ON vv.tok = wtok.tok GROUP BY word),
       |aggi AS (SELECT doc_id, seg,
       |    flatten(list(ids ORDER BY ord)) AS ids
       |  FROM wt JOIN wids USING (word) GROUP BY doc_id, seg),
       |asm AS (SELECT d.doc_id, flatten([
       |    coalesce(a1.ids, []::INT[]), [$eotId],
       |    coalesce(a2.ids, []::INT[]), [$eotId, $eotId]]) AS ids
       |  FROM documents d
       |  LEFT JOIN aggi a1 ON a1.doc_id = d.doc_id AND a1.seg = 1
       |  LEFT JOIN aggi a2 ON a2.doc_id = d.doc_id AND a2.seg = 2)
       |SELECT doc_id, len(ids)::INT AS n_bpe,
       |  list_reduce(list_prepend(0::BIGINT,
       |    list_transform(ids, x -> x::BIGINT)), (a, b) -> a + b)::BIGINT
       |    AS ids_sum,
       |  md5(array_to_string(list_transform(ids, x -> x::VARCHAR), ' '))
       |    AS ids_md5
       |FROM asm""".stripMargin
  }

  /** Byte-level twin of [[bpeChainSql]] (r18): the toks CTE is the
    * GPT-2-style pre-tokenizer (the SAME PreTokenPattern constant,
    * quote-escaped) over printable-ASCII-minus-'|' projected text,
    * each pre-token byte-mapped (identity except space→'Ġ' on this
    * domain), then the identical wrapped-symbol ascending-rank replay
    * under the pinned BYTE-LEVEL merges. Ends with `agg`
    * (doc_id → n_bpe, all_toks), keeps `toks_t` visible. */
  private def bpeByteReplaySql: String = {
    val m = graft.ops.TextOps.BpeByteGateMerges.size
    s"""${mergesCteSql(graft.ops.TextOps.BpeByteGateMerges)},
       |toks_t AS (SELECT doc_id, list_transform(
       |    regexp_extract_all(
       |      regexp_replace(text || '$PreTokenProbeSql', '[^ -~]|\\|', '', 'g'),
       |      '$PreTokenSql', 0), t -> replace(t, ' ', 'Ġ')) AS toks
       |  FROM documents),
       |wt AS (SELECT doc_id, toks[i] AS word, i AS ord
       |  FROM toks_t, unnest(range(1, len(toks) + 1)) AS u(i)),
       |${bpeWordEncodeSql(m)}
       |agg AS (SELECT doc_id,
       |    sum(len(wtoks)) AS n_bpe,
       |    string_agg(array_to_string(wtoks, ' '), ' ' ORDER BY ord) AS all_toks
       |  FROM wt JOIN fin USING (word) GROUP BY doc_id)""".stripMargin
  }

  /** Per language the 15 docs of largest Efraimidis-Spirakis key
    * ln(u) / length, u the md5 uniform of doc_id. */
  private val WeightedSampleSql =
    s"""WITH k_t AS (SELECT doc_id, lang,
       |  round(ln((${hexToLong("md5(doc_id::VARCHAR)", 1, 8)}::DOUBLE + 0.5) / 4294967296.0)
       |    / greatest(length(text)::DOUBLE, 1e-300), 6) AS k
       |  FROM documents)
       |SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id ASC) AS rn
       |  FROM k_t)
       |WHERE rn <= 15""".stripMargin

  /** Per doc the token-id count, the exact id sum (an order-free checksum)
    * and the md5 of the space-joined id stream (order-sensitive). */
  private def idsDigest(s: SparkSession, dir: String, ids: Column): DataFrame =
    Scale.fanOutSmallScan(docs(s, dir), col("doc_id")) // r18, see q_bpe_bytelevel
      .select(col("doc_id"), ids.as("ids"))
      .select(col("doc_id"), size(col("ids")).as("n_bpe"),
        aggregate(col("ids"), lit(0L), (a, x) => a + x).as("ids_sum"),
        md5(concat_ws(" ", transform(col("ids"), x => x.cast("string"))))
          .as("ids_md5"))

  /** CTE `mg`(rank, x, y): a pinned merges table as VALUES. */
  private def mergesCteSql(merges: Seq[(String, String)]): String =
    merges.zipWithIndex.map { case ((x, y), i) => s"($i, '$x', '$y')" }
      .mkString("WITH RECURSIVE mg(rank, x, y) AS (VALUES ", ", ", ")")

  // the pre-tokenizer pattern and probe as quote-escaped SQL literals
  private val PreTokenSql = graft.ops.TextOps.PreTokenPattern.replace("'", "''")
  private val PreTokenProbeSql = graft.ops.TextOps.PreTokenProbe.replace("'", "''")

  /** The wrapped-symbol merge replay of [[bpeChainSql]] over every
    * distinct word of CTE `wt` under the `m` ranks of `mg`: CTE
    * `fin`(word, wtoks). */
  private def bpeWordEncodeSql(m: Int): String =
    s"""w AS (SELECT DISTINCT word FROM wt),
       |enc AS (
       |  SELECT word,
       |    '|' || array_to_string(list_transform(
       |      range(1, len(word) + 1), i -> word[i]), '||') || '|' AS s,
       |    0 AS r
       |  FROM w
       |  UNION ALL
       |  SELECT enc.word,
       |    replace(enc.s,
       |      '|' || mg.x || '||' || mg.y || '|', '|' || mg.x || mg.y || '|'),
       |    enc.r + 1
       |  FROM enc JOIN mg ON mg.rank = enc.r),
       |fin AS (SELECT word,
       |    list_filter(string_split(s, '|'), t -> t <> '') AS wtoks
       |  FROM enc WHERE r = $m),""".stripMargin

  /** The [[graft.ops.TextOps.canonicalUrl]] fold over CTE `src`(key, url):
    * CTEs `<prefix>p` (the parsed parts, the host named `hostCol`) and
    * `<prefix>c`(key, canonical_url). Callers concatenate it: an outer
    * stripMargin would eat the first bar of its `||` lines. */
  private def canonicalUrlCtes(key: String, hostCol: String, src: String,
      prefix: String): String =
    s"""${prefix}p AS (SELECT $key,
       |    lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) AS scheme,
       |    lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1)) AS $hostCol,
       |    regexp_extract(url, '^[a-zA-Z]+://[^/:?#]+:([0-9]+)', 1) AS port,
       |    regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]*([^?#]*)', 1),
       |      '/+$$', '') AS path,
       |    regexp_extract(url, '\\?([^#]*)', 1) AS query
       |  FROM $src),
       |${prefix}c AS (SELECT $key,
       |    scheme || '://' || $hostCol
       |    || (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
       |        OR (scheme = 'https' AND port = '443') THEN ''
       |        ELSE ':' || port END)
       |    || path
       |    || (CASE WHEN kq = '' THEN '' ELSE '?' || kq END) AS canonical_url
       |  FROM (SELECT *, coalesce(array_to_string(list_sort(list_filter(
       |      string_split(query, '&'),
       |      q -> NOT regexp_matches(q, '^(utm_[^=]*|ref|fbclid|gclid)='))),
       |      '&'), '') AS kq FROM ${prefix}p))""".stripMargin
}
