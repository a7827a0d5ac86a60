package graft.gates

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.ops.{Dedup, TextOps}

/** Dedup gates: exact, MinHash/LSH, PPJoin, winnowing, clustering and
  * the composed crawl chain, all built on [[graft.ops.Dedup]]. */
private[graft] object DedupGates {
  import Shared._

  def gates: Seq[Gate] = Seq(
    Gate("q_dedup_exact", (s, dir) =>
      Dedup.exactDedup(docs(s, dir), "doc_id", "text"),
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_cnt
        |FROM documents GROUP BY md5(text)""".stripMargin),

    Gate("q_dedup_norm", (s, dir) =>
      // normalization-insensitive exact dedup: lowercase, collapse
      // whitespace, strip punctuation before hashing
      Dedup.exactDedup(
        docs(s, dir).select(
          col("doc_id"),
          regexp_replace(
            regexp_replace(trim(lower(col("text"))), "[^a-z0-9\\s]", ""),
            "\\s+", " ").as("text")),
        "doc_id", "text"),
      """WITH n_t AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(trim(lower(text)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g') AS norm
        |  FROM documents)
        |SELECT md5(norm) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_cnt
        |FROM n_t GROUP BY md5(norm)""".stripMargin),

    Gate("q_dedup_incremental", (s, dir) => {
      // daily-ingest shape: src0 is the historical corpus (fingerprint
      // index), everything else is the new shard; survivors are absent
      // from the index AND first within the shard
      val d = docs(s, dir)
      Dedup.dedupIncremental(
        d.filter(col("source") =!= "src0"), "doc_id", "text",
        d.filter(col("source") === "src0").select(md5(col("text")).as("fp")),
        "fp")
    },
      """WITH idx AS (SELECT md5(text) AS fp FROM documents WHERE source = 'src0'),
        |nd AS (SELECT doc_id, md5(text) AS text_hash FROM documents WHERE source <> 'src0')
        |SELECT min(doc_id) AS doc_id, text_hash FROM nd
        |WHERE text_hash NOT IN (SELECT fp FROM idx)
        |GROUP BY text_hash""".stripMargin),

    Gate("q_neardup_incremental", (s, dir) => {
      // snapshot-ingest NEAR-dup: even doc_ids are the historical corpus
      // (persisted LSH band-key index), odd doc_ids the new shard; a new
      // doc is flagged iff it shares a band key with history
      val d = docs(s, dir)
      Dedup.neardupIncremental(
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        Dedup.bandKeyIndex(
          d.filter(col("doc_id") % 2 === 0), "doc_id", "text", MinhashK, MinhashBands),
        MinhashK, MinhashBands)
    },
      s"""$PairsCte
         |SELECT n.doc_id, min(e.doc_id) AS dup_of
         |FROM bands_t n JOIN bands_t e ON n.band_key = e.band_key
         |WHERE n.doc_id % 2 = 1 AND e.doc_id % 2 = 0
         |GROUP BY n.doc_id""".stripMargin),

    Gate("q_dedup_spans", (s, dir) =>
      // corpus-wide duplicated-span removal (n-gram-grained substring
      // dedup): every non-first occurrence of a duplicated 8-token span
      // is cut; per-doc stats + the cleaned normalized text
      Dedup.dedupSpans(docs(s, dir), "doc_id", "text", gram = 8),
      """WITH toks AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
        |g AS (SELECT doc_id, s AS pos,
        |    md5(array_to_string(tk[(s + 1):(s + 8)], ' ')) AS h
        |  FROM toks, unnest(range(0, len(tk) - 8 + 1)) t(s)),
        |r AS (SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM g),
        |d AS (SELECT doc_id, pos FROM r WHERE rn > 1),
        |cov AS (SELECT DISTINCT doc_id, pos + u AS i FROM d, unnest(range(0, 8)) v(u)),
        |sp AS (SELECT doc_id,
        |    sum(CASE WHEN prev_i IS NULL OR i - prev_i > 1 THEN 1 ELSE 0 END)::BIGINT AS n_spans
        |  FROM (SELECT doc_id, i,
        |      lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev_i FROM cov)
        |  GROUP BY doc_id),
        |tp AS (SELECT doc_id, j - 1 AS i, tk[j] AS tok
        |  FROM toks, unnest(range(1, len(tk) + 1)) t(j)),
        |kept AS (SELECT tp.doc_id, tp.i, tp.tok FROM tp
        |  LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.i = cov.i
        |  WHERE cov.i IS NULL),
        |cl AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text
        |  FROM kept GROUP BY doc_id),
        |dc AS (SELECT doc_id, count(*)::BIGINT AS dup_tokens FROM cov GROUP BY doc_id)
        |SELECT t.doc_id, len(t.tk)::BIGINT AS n_tokens,
        |  coalesce(dc.dup_tokens, 0) AS dup_tokens,
        |  coalesce(sp.n_spans, 0) AS n_spans,
        |  coalesce(cl.clean_text, '') AS clean_text
        |FROM toks t LEFT JOIN dc USING (doc_id) LEFT JOIN sp USING (doc_id)
        |  LEFT JOIN cl ON t.doc_id = cl.doc_id""".stripMargin),

    Gate("q_index_maintain", (s, dir) => {
      // snapshot maintenance of the LSH band index WITHOUT a rebuild:
      // start = even ids, retire ids divisible by 10, add odd ids
      val d = docs(s, dir)
      Dedup.updateBandIndex(
        Dedup.bandKeyIndex(
          d.filter(col("doc_id") % 2 === 0), "doc_id", "text", MinhashK, MinhashBands),
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        d.filter(col("doc_id") % 10 === 0).select(col("doc_id")),
        MinhashK, MinhashBands)
    },
      s"""$PairsCte
         |SELECT doc_id, band_key FROM bands_t
         |WHERE (doc_id % 2 = 0 AND doc_id % 10 <> 0) OR doc_id % 2 = 1""".stripMargin),

    Gate("q_corpus_diff", (s, dir) => {
      // dataset-versioning triage: src0/src1 is the old snapshot, the
      // rest the new; per content hash added/removed/common counts
      val d = docs(s, dir)
      Dedup.corpusDiff(
        d.filter(col("source").isin("src0", "src1")),
        d.filter(!col("source").isin("src0", "src1")),
        "doc_id", "text")
    },
      """WITH o AS (SELECT md5(text) AS text_hash, count(*) AS n_old FROM documents
        |  WHERE source IN ('src0', 'src1') GROUP BY md5(text)),
        |n AS (SELECT md5(text) AS text_hash, count(*) AS n_new FROM documents
        |  WHERE source NOT IN ('src0', 'src1') GROUP BY md5(text)),
        |j AS (SELECT coalesce(o.text_hash, n.text_hash) AS h, o.n_old, n.n_new
        |  FROM o FULL OUTER JOIN n ON o.text_hash = n.text_hash)
        |SELECT CASE WHEN n_old IS NULL THEN 'added'
        |            WHEN n_new IS NULL THEN 'removed'
        |            ELSE 'common' END AS status,
        |  count(*) AS n_texts,
        |  sum(coalesce(n_old, 0))::BIGINT AS n_docs_old,
        |  sum(coalesce(n_new, 0))::BIGINT AS n_docs_new
        |FROM j GROUP BY 1""".stripMargin),

    Gate("q_minhash_signature", (s, dir) =>
      Dedup.minhashSignatures(docs(s, dir), "doc_id", "text", MinhashK)
        .select(col("doc_id"),
          concat_ws("|", transform(col("sig"), x => x.cast("string"))).as("sig")),
      s"""WITH toks_t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |sh_t AS (SELECT doc_id, $ShinglesSql AS sh FROM toks_t)
         |SELECT doc_id, array_to_string(list_transform($SigSql, x -> x::VARCHAR), '|') AS sig
         |FROM sh_t""".stripMargin),

    Gate("q_minhash_pairs", (s, dir) =>
      Dedup.candidatePairs(docs(s, dir), "doc_id", "text", MinhashK, MinhashBands),
      s"$PairsCte\nSELECT id1, id2 FROM pairs_t"),

    Gate("q_minhash_pairs_capped", (s, dir) =>
      // skew-proof LSH banding: buckets over maxBucket emit a min-id STAR
      // (O(m) edges, CC-equivalent) instead of O(m²) all-pairs — the
      // duplicate-heavy-corpus guard. maxBucket=2 here so the sf0.01
      // 3-member buckets actually exercise the star branch.
      Dedup.candidatePairsCapped(
        Dedup.shingleSets(docs(s, dir), "doc_id", "text"),
        MinhashK, MinhashBands, maxBucket = 2),
      s"""$PairsCte,
         |bstat_t AS (SELECT band_key, count(*) AS m, min(doc_id) AS hub
         |  FROM bands_t GROUP BY band_key),
         |bx_t AS (SELECT b.doc_id, b.band_key, s.m, s.hub
         |  FROM bands_t b JOIN bstat_t s USING (band_key)),
         |small_t AS (SELECT a.doc_id AS id1, b.doc_id AS id2
         |  FROM bx_t a JOIN bx_t b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
         |  WHERE a.m <= 2),
         |star_t AS (SELECT hub AS id1, doc_id AS id2 FROM bx_t
         |  WHERE m > 2 AND doc_id <> hub)
         |SELECT DISTINCT id1, id2 FROM
         |  (SELECT id1, id2 FROM small_t UNION ALL SELECT id1, id2 FROM star_t)""".stripMargin),

    Gate("q_ngram_jaccard", (s, dir) =>
      Dedup.verifiedPairs(docs(s, dir), "doc_id", "text", MinhashK, MinhashBands),
      s"""$PairsCte,
         |dsh_t AS (SELECT doc_id, list_distinct(sh) AS dsh FROM sh_t)
         |SELECT p.id1, p.id2,
         |  round(len(list_intersect(a.dsh, b.dsh))::DOUBLE /
         |        (len(a.dsh) + len(b.dsh) - len(list_intersect(a.dsh, b.dsh)))::DOUBLE, 6) AS jaccard
         |FROM pairs_t p JOIN dsh_t a ON p.id1 = a.doc_id JOIN dsh_t b ON p.id2 = b.doc_id""".stripMargin),

    Gate("q_contamination", (s, dir) => {
      // treat src0 docs as the eval set, the rest as training data:
      // flag train docs sharing >= 3 distinct 3-grams with any eval doc
      val d = docs(s, dir)
      Dedup.crossContamination(
        d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"),
        "doc_id", "text", minShared = 3)
    },
      s"""WITH toks_t AS (SELECT doc_id, source, $ToksSql AS toks FROM documents),
         |sh_t AS (SELECT doc_id, source, $ShinglesSql AS sh FROM toks_t),
         |g AS (SELECT DISTINCT doc_id, source, md5(unnest(sh)) AS gh FROM sh_t)
         |SELECT a.doc_id AS train_id, b.doc_id AS eval_id, count(*) AS shared_ngrams
         |FROM (SELECT doc_id, gh FROM g WHERE source <> 'src0') a
         |JOIN (SELECT doc_id, gh FROM g WHERE source = 'src0') b USING (gh)
         |GROUP BY a.doc_id, b.doc_id
         |HAVING count(*) >= 3""".stripMargin),

    Gate("q_corpus_clean", (s, dir) =>
      Dedup.cleanCorpus(docs(s, dir), "doc_id", "text",
        qualityMin = 0.4, jaccardMax = 0.8, k = MinhashK, bands = MinhashBands),
      {
      val enHits = s"len(list_filter(toks, t -> t IN (${TextOps.EN_STOP.map(w => s"'$w'").mkString(", ")})))"
      s"""WITH red AS (SELECT doc_id,
         |  regexp_replace(regexp_replace(text,
         |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
         |    'https?://[^\\s]+', '<URL>', 'g') AS text
         |  FROM documents),
         |tk AS (SELECT doc_id, text, $ToksSql AS toks FROM red),
         |quals AS (SELECT doc_id, text, toks FROM tk WHERE round(
         |  0.3 * (least(len(toks)::DOUBLE, 100.0) / 100.0)
         |  + 0.4 * (CASE WHEN len(toks) > 0 THEN $enHits::DOUBLE / len(toks)::DOUBLE ELSE 0.0 END)
         |  + 0.3 * (1.0 - (length(text) - length(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')))::DOUBLE / length(text)::DOUBLE)
         |, 6) >= 0.4),
         |ew AS (SELECT min(doc_id) AS doc_id FROM quals GROUP BY md5(text)),
         |surv AS (SELECT q.doc_id, q.toks FROM quals q JOIN ew ON q.doc_id = ew.doc_id),
         |sh_t AS (SELECT doc_id, $ShinglesSql AS sh FROM surv),
         |$NearDupDrops
         |SELECT doc_id FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM drops)""".stripMargin
    }),

    Gate("q_crawl_clean", (s, dir) =>
      // THE COMPOSED CRAWL FRONT DOOR end to end over the synthesized
      // crawl (see crawlPages: deterministic page template + CJK/PII/
      // mojibake body splices so every stage has real work). Both
      // engines synthesize the SAME html string, then replay the whole
      // chain. FULL-size again since r20: the pair shares ONE chain
      // invocation (crawlStagesShared — this gate recomputes + persists
      // the stage frames, the funnel reads them), so full × 1 replaces
      // the r18/r19 half-slices × 2 and each gate alone covers every
      // splice family.
      crawlStagesShared(s, dir, recompute = true).survivors
        .select(col("doc_id"), col("lang"), col("text")),
      // the composed crawl front door: the SAME page synthesis as the
      // Spark gate, then the full extract → normalize → boilerplate →
      // langId-route → Gopher-gate → PII → exact+near dedup chain
      // (crawlChainSql, shared with q_crawl_funnel — complementary half
      // slices, see the Spark gate comment).
      // FULL-size again since r20 (both gates share ONE Spark-side chain
      // invocation via crawlStagesShared, so the oracle replays the full
      // corpus for each)
      (crawlChainSql("true") + "\nSELECT doc_id, lang, text FROM fin")),

    Gate("q_dedup_paragraphs", (s, dir) => {
      // corpus-wide repeated-paragraph removal: two shared passages are
      // spliced across overlapping doc slices (%6 / %10) so cross-doc
      // repeats, within-corpus exact-dup bodies, and unique lines all
      // exercise the first-occurrence-wins rule
      val shareA = "this press release paragraph repeats verbatim across " +
        "many mirror pages of the corpus"
      val shareB = "standard licence text distributed with every bundled " +
        "release of the archive"
      val m = docs(s, dir).select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 6 === 0, lit("\n" + shareA)).otherwise(lit("")),
        when(col("doc_id") % 10 === 0, lit("\n" + shareB)).otherwise(lit("")))
        .as("text"))
      Dedup.dedupParagraphs(m, "doc_id", "text")
    },
      """WITH m AS (SELECT doc_id, text
        |    || CASE WHEN doc_id % 6 = 0 THEN chr(10) || 'this press release paragraph repeats verbatim across many mirror pages of the corpus' ELSE '' END
        |    || CASE WHEN doc_id % 10 = 0 THEN chr(10) || 'standard licence text distributed with every bundled release of the archive' ELSE '' END AS text
        |  FROM documents),
        |d AS (SELECT doc_id, list_filter(list_transform(
        |    string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS lines
        |  FROM m),
        |l AS (SELECT doc_id, (i - 1)::INT AS pos, md5(lines[i]) AS lh
        |  FROM d, unnest(range(1, len(lines) + 1)) AS t(i)),
        |k AS (SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, row_number() OVER (
        |      PARTITION BY lh ORDER BY doc_id, pos) AS rn FROM l)
        |  WHERE rn = 1),
        |kp AS (SELECT doc_id, list(pos ORDER BY pos) AS kp FROM k GROUP BY doc_id)
        |SELECT d.doc_id, len(d.lines) AS n_paras,
        |  coalesce(len(kp.kp), 0) AS n_kept,
        |  coalesce(array_to_string(list_transform(coalesce(kp.kp, []),
        |    i -> d.lines[i + 1]), chr(10)), '') AS text
        |FROM d LEFT JOIN kp USING (doc_id)""".stripMargin),

    Gate("q_crawl_funnel", (s, dir) =>
      // the whole-chain observability twin: per source, how many pages
      // survive each successive gate of the crawl chain. Consumes the
      // SHARED persisted stage frames q_crawl_clean builds
      // (crawlStagesShared) — the funnel is then four tiny per-source
      // aggregates over cache reads, not a second chain derivation;
      // on a cache miss (subset runs) it builds the chain itself.
      Dedup.crawlFunnelFromStages(crawlPages(s, dir), "source",
        crawlStagesShared(s, dir, recompute = false)),
      // the whole-chain observability twin: per source, pages surviving
      // each successive gate (keepl = language-routed, gated = Gopher
      // pass, surv = exact-dup winners, fin = near-dup winners)
      (crawlChainSql("true") + "\n" +
      """SELECT p.source, count(*)::BIGINT AS n_pages,
        |  count(k.doc_id)::BIGINT AS n_routed,
        |  count(g.doc_id)::BIGINT AS n_gated,
        |  count(e.doc_id)::BIGINT AS n_exact,
        |  count(f.doc_id)::BIGINT AS n_survivors
        |FROM pages p
        |LEFT JOIN keepl k ON p.doc_id = k.doc_id
        |LEFT JOIN gated g ON p.doc_id = g.doc_id
        |LEFT JOIN surv e ON p.doc_id = e.doc_id
        |LEFT JOIN fin f ON p.doc_id = f.doc_id
        |GROUP BY p.source""".stripMargin)),

    Gate("q_simhash_pairs", (s, dir) =>
      // SimHash near-dup pairs: pigeonhole-banded bucket join + exact
      // Hamming <= 3 on candidates only
      Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxHamming = 3),
      s"""WITH toks_t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |h_t AS (SELECT doc_id, list_transform(toks, t -> md5(t)) AS hashes FROM toks_t),
         |sig_t AS (SELECT doc_id, $SimhashSigSql AS sig FROM h_t),
         |bb AS (SELECT doc_id, sig, unnest(range(0, 4)) AS band FROM sig_t),
         |bb2 AS (SELECT doc_id, sig, band, substring(sig, band * 16 + 1, 16) AS bits FROM bb),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.sig AS s1, b.sig AS s2
         |  FROM bb2 a JOIN bb2 b ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id),
         |scored AS (SELECT id1, id2,
         |  len(list_filter(range(1, 65), i -> s1[i] <> s2[i])) AS hamming FROM cand)
         |SELECT DISTINCT id1, id2, hamming FROM scored WHERE hamming <= 3""".stripMargin),

    Gate("q_containment", (s, dir) =>
      // asymmetric shingle containment on LSH candidates: catches a
      // short doc embedded in a long one (Jaccard-invisible)
      Dedup.containmentPairs(docs(s, dir), "doc_id", "text", MinhashK, MinhashBands),
      s"""$PairsCte,
         |dsh_t AS (SELECT doc_id, list_distinct(sh) AS dsh FROM sh_t)
         |SELECT p.id1, p.id2,
         |  round(len(list_intersect(a.dsh, b.dsh))::DOUBLE / len(a.dsh)::DOUBLE, 6) AS c_fwd,
         |  round(len(list_intersect(a.dsh, b.dsh))::DOUBLE / len(b.dsh)::DOUBLE, 6) AS c_rev
         |FROM pairs_t p JOIN dsh_t a ON p.id1 = a.doc_id JOIN dsh_t b ON p.id2 = b.doc_id""".stripMargin),

    Gate("q_containment_dedup", (s, dir) =>
      // actionable form: drop the contained side of every >=0.9
      // containment pair, keep supersets (mutual -> keep smallest id)
      Dedup.containmentDedup(docs(s, dir), "doc_id", "text", MinhashK, MinhashBands),
      s"""$PairsCte,
         |dsh_t AS (SELECT doc_id, list_distinct(sh) AS dsh FROM sh_t),
         |vals AS (SELECT p.id1, p.id2,
         |    round(len(list_intersect(a.dsh, b.dsh))::DOUBLE / len(a.dsh)::DOUBLE, 6) AS c_fwd,
         |    round(len(list_intersect(a.dsh, b.dsh))::DOUBLE / len(b.dsh)::DOUBLE, 6) AS c_rev
         |  FROM pairs_t p JOIN dsh_t a ON p.id1 = a.doc_id JOIN dsh_t b ON p.id2 = b.doc_id),
         |drops AS (SELECT DISTINCT CASE
         |    WHEN c_fwd >= 0.9 AND c_rev >= 0.9 THEN id2
         |    WHEN c_fwd >= 0.9 THEN id1 ELSE id2 END AS doc_id
         |  FROM vals WHERE c_fwd >= 0.9 OR c_rev >= 0.9)
         |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM drops)""".stripMargin),

    Gate("q_embed_clusters", (s, dir) =>
      // semantic near-dup clusters: connected components over the
      // SRP-banded cosine pairs (no all-pairs join anywhere), with
      // exact-duplicate vectors collapsed to representatives first —
      // output-identical, and the duplicate-heavy scale guard (the
      // uncollapsed form measured 32× wall on a 10×-duplicated corpus)
      Dedup.embedClustersCollapsed(emb(s, dir), 0.4, SrpPlanes, SrpBandBits, EmbDim),
      srpClustersSql(SrpPairsCte)),

    Gate("q_embed_clusters_auto", (s, dir) =>
      // the n-aware DEFAULT front door (r17): band arity from
      // bandBitsFor(count) — 500 vecs at sf0.01 → 8-bit bands — so the
      // default survives a scale-up instead of bending quadratic; the
      // oracle recomputes the same arity from its own count(*)
      Dedup.embedClustersAuto(emb(s, dir), 0.4, EmbDim),
      srpClustersSql(SrpPairsAutoCte)),

    Gate("q_split_leakfree", (s, dir) => {
      // leakage-free train/val/test: every near-dup CLUSTER lands in
      // one split (splitting by doc_id leaks near-dups across splits)
      val d = docs(s, dir)
      Dedup.connectedComponents(d.select(col("doc_id")), "doc_id",
        Dedup.candidatePairs(d, "doc_id", "text", MinhashK, MinhashBands))
        .select(col("doc_id"),
          TextOps.splitAssign(col("cluster_id")).as("split"))
    },
      s"""$ClustersCte
         |SELECT doc_id, CASE
         |  WHEN (${hexToLong("md5(cluster_id::VARCHAR)", 1, 8)}) % 100 < 80 THEN 'train'
         |  WHEN (${hexToLong("md5(cluster_id::VARCHAR)", 1, 8)}) % 100 < 90 THEN 'val'
         |  ELSE 'test' END AS split
         |FROM clusters_t""".stripMargin),

    Gate("q_similarity_join", (s, dir) =>
      // EXACT shingle-set Jaccard >= 1/2 join via prefix filtering —
      // the no-false-negative complement to the MinHash/LSH path; the
      // oracle candidates come from ALL shared shingles, so a match
      // proves the prefix filter lost nothing
      Dedup.similarityJoinExact(docs(s, dir), "doc_id", "text", 1, 2),
      s"""WITH toks_t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id, $ShinglesSql AS sh FROM toks_t),
         |tk AS (SELECT doc_id, unnest(list_distinct(sh)) AS g FROM sh0),
         |sets AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
         |cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*)::BIGINT AS inter
         |  FROM tk a JOIN tk b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |v AS (SELECT cand.id1, cand.id2, cand.inter,
         |    (x.n + y.n - cand.inter)::BIGINT AS un
         |  FROM cand JOIN sets x ON cand.id1 = x.doc_id JOIN sets y ON cand.id2 = y.doc_id)
         |SELECT id1, id2, round(inter::DOUBLE / un::DOUBLE, 6) AS jaccard
         |FROM v WHERE inter * 2 >= un * 1""".stripMargin),

    Gate("q_winnow_pairs", (s, dir) =>
      // copied-SPAN detection via MOSS winnowing fingerprints: pairs
      // sharing >= 2 window-min gram hashes (span guarantee >= 31
      // chars at k=24, w=8)
      Dedup.winnowPairs(docs(s, dir), "doc_id", "text"),
      s"""WITH nr AS (SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS nrm FROM documents),
         |hs AS (SELECT doc_id, CASE WHEN length(nrm) < 24 THEN [${hexToLong("md5(nrm)", 1, 8)}]
         |  ELSE list_transform(range(1, length(nrm) - 22), p -> ${hexToLong("md5(substr(nrm, p, 24))", 1, 8)}) END AS hs FROM nr),
         |fp AS (SELECT doc_id, CASE WHEN len(hs) <= 8 THEN [list_min(hs)]
         |  ELSE list_distinct(list_transform(range(1, len(hs) - 6), j -> list_min(list_slice(hs, j, j + 7)))) END AS fps FROM hs),
         |tk AS (SELECT doc_id, unnest(fps) AS fp FROM fp)
         |SELECT a.doc_id AS id1, b.doc_id AS id2, count(*)::BIGINT AS shared_fp
         |FROM tk a JOIN tk b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    Gate("q_winnow_pairs_capped", (s, dir) =>
      // flood-guarded winnowing: fingerprint buckets over maxBucket emit
      // a min-id star (O(m) rows, CC-equivalent) instead of m²/2 pairs.
      // maxBucket=2 so sf0.01's 3+-doc fingerprint buckets actually
      // exercise the star branch.
      Dedup.winnowPairsCapped(docs(s, dir), "doc_id", "text", maxBucket = 2),
      s"""WITH nr AS (SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS nrm FROM documents),
         |hs AS (SELECT doc_id, CASE WHEN length(nrm) < 24 THEN [${hexToLong("md5(nrm)", 1, 8)}]
         |  ELSE list_transform(range(1, length(nrm) - 22), p -> ${hexToLong("md5(substr(nrm, p, 24))", 1, 8)}) END AS hs FROM nr),
         |fp AS (SELECT doc_id, CASE WHEN len(hs) <= 8 THEN [list_min(hs)]
         |  ELSE list_distinct(list_transform(range(1, len(hs) - 6), j -> list_min(list_slice(hs, j, j + 7)))) END AS fps FROM hs),
         |tk AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
         |bstat AS (SELECT fp, count(*) AS m, min(doc_id) AS hub FROM tk GROUP BY fp),
         |bx AS (SELECT tk.doc_id, tk.fp, s.m, s.hub FROM tk JOIN bstat s USING (fp)),
         |pr AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2
         |  FROM bx a JOIN bx b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  WHERE a.m <= 2
         |  UNION ALL
         |  SELECT hub AS id1, doc_id AS id2 FROM bx WHERE m > 2 AND doc_id <> hub)
         |SELECT id1, id2, count(*)::BIGINT AS shared_fp
         |FROM pr GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),

    Gate("q_similarity_join_capped", (s, dir) =>
      // flood-guarded exact PPJoin: prefix blocks over maxBlock emit star
      // candidates, every candidate still exactly verified. maxBlock=2
      // exercises the star on sf0.01.
      Dedup.similarityJoinExactCapped(docs(s, dir), "doc_id", "text", 1, 2,
        maxBlock = 2),
      s"""WITH toks_t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id, $ShinglesSql AS sh FROM toks_t),
         |tk AS (SELECT doc_id, unnest(list_distinct(sh)) AS g FROM sh0),
         |sets AS (SELECT doc_id, count(*) AS n FROM tk GROUP BY doc_id),
         |freq AS (SELECT g, count(*) AS df FROM tk GROUP BY g),
         |ranked AS (SELECT tk.doc_id, tk.g, s.n,
         |    row_number() OVER (PARTITION BY tk.doc_id ORDER BY f.df ASC, tk.g ASC) AS rn
         |  FROM tk JOIN freq f USING (g) JOIN sets s USING (doc_id)),
         |pfx AS (SELECT doc_id, g, n FROM ranked WHERE rn <= n - ((1 * n + 1) // 2) + 1),
         |bstat AS (SELECT g, count(*) AS m, min(doc_id) AS hub FROM pfx GROUP BY g),
         |px AS (SELECT p.doc_id, p.g, p.n, s.m, s.hub FROM pfx p JOIN bstat s USING (g)),
         |cand AS (SELECT DISTINCT id1, id2 FROM (
         |    SELECT a.doc_id AS id1, b.doc_id AS id2
         |    FROM px a JOIN px b ON a.g = b.g AND a.doc_id < b.doc_id
         |      AND a.n * 2 >= b.n * 1 AND b.n * 2 >= a.n * 1
         |    WHERE a.m <= 2
         |    UNION ALL
         |    SELECT hub AS id1, doc_id AS id2 FROM px WHERE m > 2 AND doc_id <> hub)),
         |iv AS (SELECT c.id1, c.id2, count(*)::BIGINT AS inter
         |  FROM cand c JOIN tk a ON a.doc_id = c.id1 JOIN tk b ON b.doc_id = c.id2 AND b.g = a.g
         |  GROUP BY 1, 2),
         |v AS (SELECT iv.id1, iv.id2, iv.inter, (x.n + y.n - iv.inter)::BIGINT AS un
         |  FROM iv JOIN sets x ON iv.id1 = x.doc_id JOIN sets y ON iv.id2 = y.doc_id)
         |SELECT id1, id2, round(inter::DOUBLE / un::DOUBLE, 6) AS jaccard
         |FROM v WHERE inter * 2 >= un * 1""".stripMargin),

    Gate("q_doc_clusters", (s, dir) => {
      val d = docs(s, dir)
      Dedup.connectedComponents(d.select(col("doc_id")), "doc_id",
        Dedup.candidatePairs(d, "doc_id", "text", MinhashK, MinhashBands))
    },
      s"$ClustersCte\nSELECT doc_id, cluster_id FROM clusters_t"),

    Gate("q_cluster_rep", (s, dir) => {
      // end of the dedup pipeline: pairs → clusters → one representative
      // per cluster by quality (ties → smallest id)
      val d = docs(s, dir)
      val clusters = Dedup.connectedComponents(d.select(col("doc_id")), "doc_id",
        Dedup.candidatePairs(d, "doc_id", "text", MinhashK, MinhashBands))
      val quality = d.select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
      Dedup.clusterRepresentatives(clusters, quality, "quality")
    },
      s"""$ClustersCte,
         |qtoks_t AS (SELECT doc_id, text, $ToksSql AS toks FROM documents),
         |q_t AS (${qualitySelectSql("qtoks_t")}),
         |j AS (SELECT c.cluster_id, c.doc_id, q.quality
         |  FROM clusters_t c JOIN q_t q USING (doc_id)),
         |r AS (SELECT cluster_id, doc_id, quality,
         |    row_number() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM j)
         |SELECT cluster_id, doc_id AS rep_id, quality AS rep_quality, n_members
         |FROM r WHERE rn = 1""".stripMargin),

    Gate("q_cluster_rep_priority", (s, dir) => {
      // the FineWeb convention: inside each near-dup cluster keep the
      // copy from the most-TRUSTED source (deterministic per-source
      // trust tier), ties -> smallest doc_id — same representative op,
      // trust as the score instead of quality
      val d = docs(s, dir)
      val clusters = Dedup.connectedComponents(d.select(col("doc_id")), "doc_id",
        Dedup.candidatePairs(d, "doc_id", "text", MinhashK, MinhashBands))
      val trust = d.select(col("doc_id"),
        (-expr("cast(substring(source, 4) as int) % 3")).as("trust"))
      Dedup.clusterRepresentatives(clusters, trust, "trust")
    },
      s"""$ClustersCte,
         |tr AS (SELECT doc_id,
         |    -(CAST(substring(source, 4) AS INT) % 3) AS trust FROM documents),
         |j AS (SELECT c.cluster_id, c.doc_id, tr.trust
         |  FROM clusters_t c JOIN tr USING (doc_id)),
         |r AS (SELECT cluster_id, doc_id, trust,
         |    row_number() OVER (PARTITION BY cluster_id ORDER BY trust DESC, doc_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM j)
         |SELECT cluster_id, doc_id AS rep_id, trust AS rep_trust, n_members
         |FROM r WHERE rn = 1""".stripMargin),

    Gate("q_fuzzy_pairs", (s, dir) =>
      // edit-distance near-dup pairs: prefix blocking + exact
      // Levenshtein <= 5 on normalized 40-char prefixes
      Dedup.fuzzyPairs(docs(s, dir), "doc_id", "text",
        prefixLen = 40, blockLen = 8, maxDist = 5),
      """WITH n_t AS (SELECT doc_id,
        |  substr(regexp_replace(regexp_replace(trim(lower(text)), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'), 1, 40) AS pfx
        |  FROM documents),
        |k AS (SELECT doc_id, pfx, substr(pfx, 1, 8) AS blk FROM n_t
        |  WHERE length(pfx) >= 8)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  levenshtein(a.pfx, b.pfx) AS edit_dist
        |FROM k a JOIN k b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.pfx, b.pfx) <= 5""".stripMargin),

    Gate("q_jaccard_est", (s, dir) => {
      // sketch-accuracy audit: the MinHash-ESTIMATED Jaccard (matching
      // signature components / k) next to the exact shingle Jaccard for
      // every candidate pair — the shingle exchange is shared by the
      // signature, banding, and both exact-verify sides
      val sh = Dedup.shingleSets(docs(s, dir), "doc_id", "text")
      val sigs = sh.select(col("doc_id"),
        TextOps.minhashSignature(col("sh"), MinhashK).as("sig"))
      val pairs = Dedup.candidatePairsFromShingles(sh, MinhashK, MinhashBands)
      val exact = Dedup.jaccardVerifyFromShingles(sh, pairs)
      val matches = aggregate(
        zip_with(col("sig1"), col("sig2"), (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, x) => acc + x)
      val est = pairs
        .join(sigs.select(col("doc_id").as("id1"), col("sig").as("sig1")), "id1")
        .join(sigs.select(col("doc_id").as("id2"), col("sig").as("sig2")), "id2")
        .select(col("id1"), col("id2"),
          round(matches.cast("double") / lit(MinhashK.toDouble), 6).as("est_jaccard"))
      exact.join(est, Seq("id1", "id2"))
    },
      s"""$PairsCte,
         |dsh_t AS (SELECT doc_id, list_distinct(sh) AS dsh FROM sh_t),
         |ex AS (SELECT p.id1, p.id2,
         |  round(len(list_intersect(a.dsh, b.dsh))::DOUBLE /
         |        (len(a.dsh) + len(b.dsh) - len(list_intersect(a.dsh, b.dsh)))::DOUBLE, 6) AS jaccard
         |  FROM pairs_t p JOIN dsh_t a ON p.id1 = a.doc_id JOIN dsh_t b ON p.id2 = b.doc_id),
         |est AS (SELECT p.id1, p.id2,
         |  round(list_sum(list_transform(range(1, 9),
         |      i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))::DOUBLE / 8.0, 6) AS est_jaccard
         |  FROM pairs_t p JOIN sig_t a ON p.id1 = a.doc_id JOIN sig_t b ON p.id2 = b.doc_id)
         |SELECT ex.id1, ex.id2, ex.jaccard, est.est_jaccard
         |FROM ex JOIN est ON ex.id1 = est.id1 AND ex.id2 = est.id2""".stripMargin),

    Gate("q_decontaminate_bloom", (s, dir) => {
      // zero-shuffle decontamination: src0 = eval suite → 32 KB Bloom
      // filter broadcast; train corpus tested in its scan, no shuffle
      val d = docs(s, dir)
      Dedup.bloomDecontaminate(
        d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"),
        "doc_id", "text", mBits = BloomBits, numHashes = BloomHashes, minHits = 5L)
    },
      // Bloom replay: same md5 K-M position family as BloomBitsAgg/
      // BloomHitCount — the DISTINCT eval positions ARE the set bits, a
      // train gram hits iff none of its positions is missing (so oracle
      // false positives == engine false positives, bit for bit)
      s"""WITH tk AS (SELECT doc_id, source, $ToksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id, source, $ShinglesSql AS sh FROM tk),
         |g AS (SELECT DISTINCT doc_id, source, unnest(sh) AS g FROM sh0),
         |hh AS (SELECT doc_id, source, g,
         |    ${hexToLong("md5(g)", 1, 8)} AS ha, ${hexToLong("md5(g)", 9, 8)} AS hb FROM g),
         |pos AS (SELECT doc_id, source, g, (ha + i * hb) % $BloomBits AS p
         |  FROM hh, unnest(range(0, $BloomHashes)) AS t(i)),
         |ep AS (SELECT DISTINCT p FROM pos WHERE source = 'src0'),
         |tp AS (SELECT doc_id, g, p FROM pos WHERE source <> 'src0'),
         |miss AS (SELECT DISTINCT doc_id, g FROM tp WHERE p NOT IN (SELECT p FROM ep)),
         |hits AS (SELECT doc_id, g FROM (SELECT DISTINCT doc_id, g FROM tp)
         |  EXCEPT SELECT doc_id, g FROM miss),
         |ng AS (SELECT doc_id, count(*) AS n_grams FROM g WHERE source <> 'src0' GROUP BY doc_id),
         |hc AS (SELECT doc_id, count(*) AS bloom_hits FROM hits GROUP BY doc_id)
         |SELECT ng.doc_id, ng.n_grams, hc.bloom_hits
         |FROM ng JOIN hc USING (doc_id) WHERE hc.bloom_hits >= 5""".stripMargin),

    Gate("q_dup_cluster_sizes", (s, dir) => {
      // corpus-health: near-dup cluster SIZE distribution — how many
      // docs sit in clusters of each size, i.e. what a dedup pass will
      // reclaim (n_docs - n_clusters rows per size). Reuses the CC
      // clustering; the two-level reaggregation is over cluster ids,
      // never documents.
      val d = docs(s, dir)
      Dedup.connectedComponents(d.select(col("doc_id")), "doc_id",
          Dedup.candidatePairs(d, "doc_id", "text", MinhashK, MinhashBands))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
    },
      s"""$ClustersCte,
         |sz_t AS (SELECT cluster_id, count(*) AS sz FROM clusters_t
         |  GROUP BY cluster_id)
         |SELECT sz AS cluster_size, count(*) AS n_clusters,
         |  (sz * count(*))::BIGINT AS n_docs
         |FROM sz_t GROUP BY sz""".stripMargin),

    Gate("q_ngram_novelty", (s, dir) =>
      // per-doc novelty: fraction of distinct 3-grams with corpus df = 1;
      // one shared gram exchange feeds df-count AND probe join
      Dedup.ngramNovelty(docs(s, dir), "doc_id", "text"),
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id, $ShinglesSql AS sh FROM tk),
         |g AS (SELECT DISTINCT doc_id, md5(unnest(sh)) AS gh FROM sh0),
         |dfc AS (SELECT gh, count(*) AS df FROM g GROUP BY gh)
         |SELECT doc_id, count(*) AS n_grams,
         |  sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
         |  round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*)::DOUBLE, 6) AS novelty
         |FROM g JOIN dfc USING (gh) GROUP BY doc_id""".stripMargin),

    Gate("q_dup_matrix", (s, dir) =>
      // which sources duplicate each other: verified near-dup pairs
      // rolled up per order-normalized source pair, exact micro-sum mean
      Dedup.dupMatrix(docs(s, dir), "doc_id", "text", "source",
        k = MinhashK, bands = MinhashBands, minJaccard = 0.4),
      s"""$PairsCte,
         |dsh_t AS (SELECT doc_id, list_distinct(sh) AS dsh FROM sh_t),
         |jm AS (SELECT p.id1, p.id2,
         |  CAST(round(round(len(list_intersect(a.dsh, b.dsh))::DOUBLE /
         |    (len(a.dsh) + len(b.dsh) - len(list_intersect(a.dsh, b.dsh)))::DOUBLE, 6)
         |    * 1e6) AS BIGINT) AS j_micro
         |  FROM pairs_t p JOIN dsh_t a ON p.id1 = a.doc_id JOIN dsh_t b ON p.id2 = b.doc_id),
         |sp AS (SELECT jm.j_micro,
         |    least(da.source, db.source) AS source_a,
         |    greatest(da.source, db.source) AS source_b
         |  FROM jm JOIN documents da ON jm.id1 = da.doc_id
         |  JOIN documents db ON jm.id2 = db.doc_id
         |  WHERE jm.j_micro >= 400000)
         |SELECT source_a, source_b, count(*) AS n_pairs,
         |  round(sum(j_micro)::DOUBLE / count(*)::DOUBLE / 1e6, 6) AS avg_jaccard
         |FROM sp GROUP BY source_a, source_b""".stripMargin),

    Gate("q_link_records", (s, dir) => {
      // entity resolution: best fuzzy name match per part via prefix
      // blocking + codegen'd Jaro-Winkler scoring + top-1 arg-max
      val p = t(s, dir, "part")
      Dedup.linkRecords(p, p, "p_partkey", "p_name", "p_partkey", "p_name",
        threshold = 0.88, blockPrefix = 9)
    },
      """WITH l AS (SELECT p_partkey AS lid, p_name AS lname,
        |    lower(substr(p_name, 1, 9)) AS blk FROM part),
        |r AS (SELECT p_partkey AS rid, p_name AS rname,
        |    lower(substr(p_name, 1, 9)) AS blk FROM part),
        |c AS (SELECT lid, rid,
        |    jaro_winkler_similarity(lname, rname) AS jw
        |  FROM l JOIN r USING (blk) WHERE lid <> rid),
        |f AS (SELECT lid, rid, jw, row_number() OVER (PARTITION BY lid
        |    ORDER BY jw DESC, rid) AS rn FROM c WHERE jw >= 0.88)
        |SELECT lid, rid, round(jw, 6) AS jw FROM f WHERE rn = 1""".stripMargin),

    Gate("q_jaro_winkler", (s, dir) => {
      // record-linkage scoring: codegen'd byte-based Jaro-Winkler over
      // adjacent-key part-name pairs (block first, score candidates —
      // the fuzzy complement to levenshtein in q_fuzzy_pairs)
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val nxt = p.select((col("p_partkey") - 1L).as("p_partkey"),
        col("p_name").as("next_name"))
      p.join(nxt, "p_partkey")
        .select(col("p_partkey"),
          round(GraftFunctions.jaro_winkler(col("p_name"), col("next_name")), 6)
            .as("jw"))
    },
      """SELECT p1.p_partkey,
        |  round(jaro_winkler_similarity(p1.p_name, p2.p_name), 6) AS jw
        |FROM part p1 JOIN part p2 ON p2.p_partkey = p1.p_partkey + 1""".stripMargin))

  /** The synthesized crawl the q_crawl_clean / q_crawl_funnel gates
    * run on: each doc's text wrapped in a deterministic page template
    * (comment, head/style/nav chrome stripped as containers; h1/p/div/
    * table block structure; entities; a per-source "site notice" line
    * and universal tail/cell lines that per-source boilerplate removal
    * must catch), with body splices so every stage has real work: CJK
    * prefixes (%20 slices) that language routing must drop, the PII
    * splice (%11) that redaction must mask BEFORE the dedup hash, the
    * mojibake junk (%9) that normalization must repair. The DuckDB
    * side synthesizes the SAME html string (crawlChainSql). */
  private def crawlPages(s: SparkSession, dir: String) = {
    val id = col("doc_id").cast("string")
    val body = concat(
      when(col("doc_id") % 20 === 0, lit("日本語のテキストです "))
        .when(col("doc_id") % 20 === 1, lit("한국어 텍스트 "))
        .when(col("doc_id") % 20 === 2, lit("中文文本内容 "))
        .otherwise(lit("")),
      col("text"),
      when(col("doc_id") % 11 === 0,
        lit(" call 555-867-5309 or +1 (415) 555-2671 now, card" +
          " 4111 1111 1111 1111, host 10.0.255.254, id 1234567890 stays"))
        .otherwise(lit("")),
      when(col("doc_id") % 9 === 0, lit(" " + NormJunk)).otherwise(lit("")))
    val html = concat(
      lit("<html><!-- crawl & chrome --><head><title>T"), id,
      lit("</title><style>body { color: #000; }</style></head><body>" +
        "<nav><ul><li>Home</li><li>Docs</li></ul></nav><h1>Doc "), id,
      lit("</h1><p>"), body,
      lit("</p><div>site notice "), col("source"),
      lit("</div><div class=\"tail\">Tail &amp; entities &lt;b&gt;" +
        " &quot;q&quot;&nbsp;end</div><table><tr><td>r"), id,
      lit("</td><td>c2</td></tr></table>" +
        "<footer>(c) example</footer></body></html>"))
    docs(s, dir).select(col("doc_id"), col("source"), html.as("html"))
  }

  /** ONE chain invocation for the crawl capstone pair (r20):
    * q_crawl_clean RECOMPUTES the stage frames each time
    * it runs (sorting before q_crawl_funnel in every sweep, so the
    * bench measures the chain exactly once per sweep) and persists the
    * three multiply-consumed frames; q_crawl_funnel consumes the
    * persisted frames when present — its per-source counts become
    * aggregates over cache reads — and builds (+caches) standalone on a
    * miss (subset Verify runs). Values are identical either way (the
    * chain is deterministic), so the oracle gate is indifferent to the
    * cache. Both gates now run the FULL synthesized crawl again: the
    * r18/r19 complementary %2 half-slices existed only to halve the
    * pair's 2× chain cost, and with one shared chain each gate alone
    * covers every splice family (%20 CJK arms are even-id-only — a
    * half-slice never saw ja/zh routing). */
  private val crawlStageCache =
    new java.util.concurrent.ConcurrentHashMap[String, Dedup.CrawlStages]()
  private def crawlStagesShared(s: SparkSession, dir: String,
      recompute: Boolean): Dedup.CrawlStages = crawlStageCache.synchronized {
    val cached = crawlStageCache.get(dir)
    if (cached != null && !recompute) cached
    else {
      if (cached != null) cached.unpersistAll()
      val st = Dedup.crawlStages(crawlPages(s, dir), "doc_id", "html",
        "source", keepLangs = Seq("en"), boilerFrac = 0.4,
        jaccardMax = 0.8, k = MinhashK, bands = MinhashBands,
        persistFrames = true)
      crawlStageCache.put(dir, st)
      st
    }
  }

  /** The composed crawl-chain oracle (shared by q_crawl_clean and
    * q_crawl_funnel): the SAME page synthesis as the Spark gate
    * ([[crawlPages]]), then extract → normalize → boilerplate →
    * langId-route → Gopher-gate → PII → exact dedup → near-dup drop,
    * each stage the parameterized twin of its standalone gate's
    * fragment. Ends at CTE `fin` (the survivors); consumers append
    * their own final SELECT. Assembled by CONCATENATION (not
    * interpolation inside stripMargin: the gopher fragment has '||'
    * continuation lines the outer margin strip would mangle — the
    * q_filter_report note).
    *
    * `docWhere` filters the documents feeding the synthesized pages.
    * Since r20 both crawl gates run FULL-size
    * (docWhere = "true"): the Spark side shares ONE chain invocation
    * between them (crawlStagesShared), so the r18/r19 half-slices —
    * which existed only to halve a 2× chain cost — are gone and each
    * gate alone covers every splice family. */
  private def crawlChainSql(docWhere: String): String =
    s"""WITH pages AS (SELECT doc_id, source,
       |  '<html><!-- crawl & chrome --><head><title>T' || doc_id::VARCHAR
       |  || '</title><style>body { color: #000; }</style></head><body><nav><ul><li>Home</li><li>Docs</li></ul></nav><h1>Doc ' || doc_id::VARCHAR
       |  || '</h1><p>'
       |  || CASE WHEN doc_id % 20 = 0 THEN '日本語のテキストです '
       |       WHEN doc_id % 20 = 1 THEN '한국어 텍스트 '
       |       WHEN doc_id % 20 = 2 THEN '中文文本内容 ' ELSE '' END
       |  || text
       |  || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309 or +1 (415) 555-2671 now, card 4111 1111 1111 1111, host 10.0.255.254, id 1234567890 stays' ELSE '' END
       |  || CASE WHEN doc_id % 9 = 0 THEN ' ' || '$NormJunk' ELSE '' END
       |  || '</p><div>site notice ' || source
       |  || '</div><div class="tail">Tail &amp; entities &lt;b&gt; &quot;q&quot;&nbsp;end</div><table><tr><td>r' || doc_id::VARCHAR
       |  || '</td><td>c2</td></tr></table><footer>(c) example</footer></body></html>' AS html
       |  FROM documents WHERE $docWhere),
       |x AS (SELECT doc_id, source, ${extractHtmlSql("html")} AS t0 FROM pages),
       |nrm AS (SELECT doc_id, source, ${normalizeSql("t0")} AS text FROM x),
       |""".stripMargin +
    boilerplateCtesSql("nrm") + ",\n" +
    """bt AS (SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS text FROM bp_j),
      |""".stripMargin +
    langCjkCtesSql("bt") + ",\n" +
    """keepl AS (SELECT lg.doc_id, lg.lang, bt.text FROM lg JOIN bt USING (doc_id)
      |  WHERE lg.lang IN ('en')),
      |""".stripMargin +
    gopherCtesSql("keepl") + ",\n" +
    s"""gated AS (SELECT k.doc_id, k.lang, k.text FROM keepl k
       |  JOIN gf_flags f USING (doc_id) WHERE f.keep),
       |pii AS (SELECT doc_id, lang, ${piiRedactSql("text")} AS text FROM gated),
       |ew AS (SELECT min(doc_id) AS doc_id FROM pii GROUP BY md5(text)),
       |surv AS (SELECT p.doc_id, p.lang, p.text FROM pii p JOIN ew ON p.doc_id = ew.doc_id),
       |tk AS (SELECT doc_id, $ToksSql AS toks FROM surv),
       |sh_t AS (SELECT doc_id, $ShinglesSql AS sh FROM tk),
       |$NearDupDrops,
       |fin AS (SELECT doc_id, lang, text FROM surv
       |  WHERE doc_id NOT IN (SELECT doc_id FROM drops))""".stripMargin

  /** Connected components of the MinHash pair graph by recursive
    * reachability — ends in `clusters_t(doc_id, cluster_id)`. Must agree
    * with [[graft.ops.Dedup.connectedComponents]]'s min-label fixpoint. */
  private val ClustersCte =
    s"""${PairsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |e AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM pairs_t
       |  UNION ALL SELECT id2, id1 FROM pairs_t),
       |reach(node, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT reach.node, e.dst FROM reach JOIN e ON reach.r = e.src),
       |clusters_t AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node)""".stripMargin

  /** Connected components of the cosine ≥ 0.4 pairs of an SRP pairs CTE
    * (`pairsCte` ends in `pairs`) by recursive min-label reachability. */
  private def srpClustersSql(pairsCte: String): String =
    s"""${pairsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |ee AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM pairs WHERE cos >= 0.4
       |  UNION ALL SELECT id2, id1 FROM pairs WHERE cos >= 0.4),
       |reach(node, r) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT reach.node, ee.dst FROM reach JOIN ee ON reach.r = ee.src),
       |cl AS (SELECT node AS vec_id, min(r) AS cluster_id FROM reach GROUP BY node)
       |SELECT vec_id, cluster_id FROM cl""".stripMargin

  /** The near-dup drop over a shingled CTE `sh_t`(doc_id, sh): of each
    * MinHash candidate pair with exact shingle Jaccard ≥ 0.8 the larger
    * id lands in CTE `drops`(doc_id). */
  private val NearDupDrops =
    s"""$MinhashPairsCtes,
       |dsh AS (SELECT doc_id, list_distinct(sh) AS dsh FROM sh_t),
       |drops AS (SELECT DISTINCT p.id2 AS doc_id
       |  FROM pairs_t p JOIN dsh a ON p.id1 = a.doc_id JOIN dsh b ON p.id2 = b.doc_id
       |  WHERE round(len(list_intersect(a.dsh, b.dsh))::DOUBLE /
       |    (len(a.dsh) + len(b.dsh) - len(list_intersect(a.dsh, b.dsh)))::DOUBLE, 6) >= 0.8)""".stripMargin
}
