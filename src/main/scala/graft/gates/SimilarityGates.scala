package graft.gates

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Embedding-similarity gates: brute-force top-k, LSH/SRP, PQ, IVF and
  * the recall audits of [[graft.ops.Similarity]]. */
private[graft] object SimilarityGates {
  import Shared._

  def gates: Seq[Gate] = Seq(
    Gate("q_cosine_topk", (s, dir) => {
      val c = emb(s, dir)
      Similarity.bruteForceTopK(c, c.filter(col("vec_id") < 10), 5)
        .select(col("q_id"), col("neighbor_id"), col("cos"), col("rn"))
    },
      s"""$EmbCte,
         |scored AS (SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         |    round(${dotSql("q.v", "c.v")} / (q.nrm * c.nrm), 6) AS cos
         |  FROM n q JOIN n c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10)
         |SELECT q_id, neighbor_id, cos, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rn
         |  FROM scored)
         |WHERE rn <= 5""".stripMargin),

    Gate("q_margin_mine", (s, dir) =>
      // margin-based parallel-pair mining: per query vector the best
      // other-side match, kept only when it beats the runner-up by
      // >= 0.02 cosine (hubness-proof, vs a plain cosine threshold);
      // q_cosine_topk's broadcast shape, top-2 cut before the exchange
      Similarity.marginMine(emb(s, dir), col("vec_id") < 10, 0.02),
      s"""$EmbCte,
         |scored AS (SELECT q.vec_id AS q_id, c.vec_id AS match_id,
         |    round(${dotSql("q.v", "c.v")} / (q.nrm * c.nrm), 6) AS cos
         |  FROM n q JOIN n c ON q.vec_id < 10 AND NOT c.vec_id < 10),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, match_id ASC) AS rn FROM scored),
         |agg AS (SELECT q_id,
         |    max(CASE WHEN rn = 1 THEN match_id END) AS match_id,
         |    max(CASE WHEN rn = 1 THEN cos END) AS cos_best,
         |    max(CASE WHEN rn = 2 THEN cos END) AS cos_second
         |  FROM rk WHERE rn <= 2 GROUP BY q_id)
         |SELECT q_id, match_id, cos_best, cos_second,
         |  round(cos_best - cos_second, 6) AS margin
         |FROM agg WHERE round(cos_best - cos_second, 6) >= 0.02""".stripMargin),

    Gate("q_hard_negatives", (s, dir) => {
      // contrastive HARD negatives: per query vector, the 3 most-similar
      // pool vectors excluding itself and its known positive (q, q+10)
      val c = emb(s, dir)
      val q = c.filter(col("vec_id") < 10)
      val pos = q.select(col("vec_id").as("q_id"),
        (col("vec_id") + 10).as("neighbor_id"))
      Similarity.hardNegatives(c, q, pos, 3)
        .select(col("q_id"), col("neighbor_id"), col("cos"), col("rn"))
    },
      s"""$EmbCte,
         |scored AS (SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         |    round(${dotSql("q.v", "c.v")} / (q.nrm * c.nrm), 6) AS cos
         |  FROM n q JOIN n c ON c.vec_id <> q.vec_id AND c.vec_id <> q.vec_id + 10
         |  WHERE q.vec_id < 10)
         |SELECT q_id, neighbor_id, cos, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rn
         |  FROM scored)
         |WHERE rn <= 3""".stripMargin),

    Gate("q_embed_neardup", (s, dir) =>
      // SRP-banded candidates + exact cosine on candidates only — the
      // all-pairs corpus⋈corpus join never appears in the plan
      Similarity.nearDupPairsLsh(emb(s, dir), 0.4, SrpPlanes, SrpBandBits, EmbDim),
      s"""$SrpPairsCte
         |SELECT id1, id2, cos FROM pairs WHERE cos >= 0.4""".stripMargin),

    Gate("q_ann_lsh", (s, dir) =>
      Similarity.annLsh(emb(s, dir), col("vec_id") < 10, LshPlanes, EmbDim),
      s"""$EmbCte,
         |bk AS (SELECT vec_id, v, nrm, array_to_string(list_transform(range(0, $LshPlanes), p ->
         |    CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1),
         |      d -> v[d] * ${planeWeightSql("p", "d - 1")})), (acc, x) -> acc + x) >= 0
         |    THEN '1' ELSE '0' END), '') AS bucket
         |  FROM n),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, bucket FROM bk WHERE vec_id < 10),
         |scored AS (SELECT q.q_id, c.vec_id AS neighbor_id,
         |    round(${dotSql("c.v", "q.qv")} / (c.nrm * q.qnrm), 6) AS cos
         |  FROM bk c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.q_id)
         |SELECT q_id, neighbor_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rn
         |  FROM scored)
         |WHERE rn = 1""".stripMargin),

    Gate("q_ann_recall", (s, dir) =>
      // recall@5 audit of the LSH bucket path vs exact brute force —
      // the bucket-width calibration read before trusting ANN at scale
      Similarity.annRecallAudit(emb(s, dir), col("vec_id") < 10,
        LshPlanes, EmbDim, k = 5),
      s"""$EmbCte,
         |ex AS (SELECT q_id, neighbor_id FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      round(${dotSql("q.v", "c.v")} / (q.nrm * c.nrm), 6) DESC,
         |      c.vec_id ASC) AS rn
         |  FROM n q JOIN n c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10)
         |  WHERE rn <= 5),
         |bk AS (SELECT vec_id, array_to_string(list_transform(range(0, $LshPlanes), p ->
         |    CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1),
         |      d -> v[d] * ${planeWeightSql("p", "d - 1")})), (acc, x) -> acc + x) >= 0
         |    THEN '1' ELSE '0' END), '') AS bucket
         |  FROM n),
         |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS neighbor_id
         |  FROM bk c JOIN bk q ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10)
         |SELECT ex.q_id, count(*) AS k,
         |  sum(CASE WHEN cand.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
         |  round(sum(CASE WHEN cand.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*)::DOUBLE, 6) AS recall
         |FROM ex LEFT JOIN cand
         |  ON ex.q_id = cand.q_id AND ex.neighbor_id = cand.neighbor_id
         |GROUP BY ex.q_id""".stripMargin),

    Gate("q_pq_codes", (s, dir) => {
      // product-quantization encoding: every vector compressed to m=8
      // one-byte codes (32x vs float32) against per-subspace codebooks
      // trained on the unit-normalized corpus
      val corpus = Similarity.prepared(t(s, dir, "embeddings"), "vec_id", "embedding")
      val unit = corpus.filter(col("nrm") > 0)
        .select(col("vec_id"), Similarity.arrayDiv(col("v"), col("nrm")).as("v"))
      val (codes, _) = Similarity.quantizePq(unit, "vec_id", "v",
        EmbDim, PqM, PqK)
      codes.select(col("vec_id"),
        concat_ws("|", (0 until PqM).map(i => col(s"code_$i")): _*).as("codes"))
    },
      s"""$pqChainSql
         |SELECT vec_id, array_to_string(list(code ORDER BY s), '|') AS codes
         |FROM enc GROUP BY vec_id""".stripMargin),

    Gate("q_kmeans", (s, dir) =>
      // spherical k-means, 2 full Lloyd iterations past the seed draw —
      // the topic-bucketing / cluster-balanced-mixing primitive
      // (refitQuantizer is exactly one iteration of this loop)
      Similarity.sphericalKmeans(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 8, iters = 2)._1,
      {
      // unrolled 2-iteration Lloyd replay: seeds (micro-scaled) -> asg ->
      // refit c1 -> asg -> refit c2 -> FINAL assignment. Each refit
      // micro-rounds, so every iteration is engine-exact.
      def asgSql(centCte: String): String =
        s"""SELECT vec_id, cell FROM (
           |    SELECT nn.vec_id, c.cell,
           |      row_number() OVER (PARTITION BY nn.vec_id
           |        ORDER BY round(${dotSql("nn.v", "c.cv")} / (nn.nrm * c.cnrm), 6) DESC,
           |          c.cell ASC) AS rn
           |    FROM nn CROSS JOIN $centCte c) WHERE rn = 1""".stripMargin
      def refitSql(asgCte: String): String =
        s"""SELECT cell, cv, sqrt(${dotSql("cv", "cv")}) AS cnrm FROM (
           |  SELECT a.cell, list_transform(list(CAST(round(cx * 1000000) AS BIGINT)
           |      ORDER BY idx), x -> x / 1000000.0) AS cv FROM (
           |    SELECT a.cell, idx, avg(v[idx]) AS cx
           |    FROM nn JOIN $asgCte a ON nn.vec_id = a.vec_id,
           |      unnest(range(1, len(v) + 1)) AS t(idx)
           |    GROUP BY a.cell, idx) a(cell, idx, cx)
           |  GROUP BY cell)""".stripMargin
      s"""$EmbCte,
         |nn AS (SELECT vec_id, v,
         |    sqrt(${dotSql("v", "v")}) AS nrm
         |  FROM n WHERE v IS NOT NULL AND len(v) > 0),
         |c0 AS (SELECT (row_number() OVER (
         |      ORDER BY md5(vec_id::VARCHAR), vec_id) - 1)::INT AS cell,
         |    list_transform(v, x -> CAST(round(x * 1000000) AS BIGINT) / 1000000.0) AS cv
         |  FROM (SELECT vec_id, v FROM nn
         |        ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8)),
         |c0n AS (SELECT cell, cv, sqrt(${dotSql("cv", "cv")}) AS cnrm FROM c0),
         |a1 AS (${asgSql("c0n")}),
         |c1 AS (${refitSql("a1")}),
         |a2 AS (${asgSql("c1")}),
         |c2 AS (${refitSql("a2")})
         |${asgSql("c2")}""".stripMargin
    }),

    Gate("q_ann_ivf_pq", (s, dir) =>
      // the COMPOSED billion-vector serving shape (IVFADC): route each
      // query to its top-2 refit cells, ADC-score only those cells'
      // PQ codes — candidate count (IVF) and width (PQ) both cut
      Similarity.annIvfPq(t(s, dir, "embeddings"), "vec_id", "embedding",
        EmbDim, PqM, PqK, kCells = 8, col("vec_id") < 10, nprobe = 2,
        topK = 3),
      // residual IVFADC (r17, Jégou et al. TPAMI 2011 §IV): the IVF part
      // (iseed → iasg → ie → icvn) runs FIRST, PQ trains/encodes the
      // per-cell residuals res = v − c(cell), and scoring reconstructs
      // rec = c_sub + r̃_sub per subspace before the ADC fold
      s"""$EmbCte,
         |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS v
         |  FROM n WHERE nrm > 0),
         |un AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM u),
         |iseed AS (SELECT (row_number() OVER (
         |      ORDER BY md5(vec_id::VARCHAR), vec_id) - 1)::INT AS cell,
         |    v AS sv, nrm AS snrm
         |  FROM (SELECT vec_id, v, nrm FROM un
         |        ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8)),
         |iasg AS (SELECT vec_id, cell FROM (
         |    SELECT un.vec_id, iseed.cell,
         |      row_number() OVER (PARTITION BY un.vec_id
         |        ORDER BY round(${dotSql("un.v", "iseed.sv")} / (un.nrm * iseed.snrm), 6) DESC,
         |          iseed.cell ASC) AS rn
         |    FROM un CROSS JOIN iseed) WHERE rn = 1),
         |ie AS (SELECT a.cell, idx, avg(v[idx]) AS cx
         |  FROM un JOIN iasg a ON un.vec_id = a.vec_id,
         |    unnest(range(1, len(v) + 1)) AS t(idx)
         |  GROUP BY a.cell, idx),
         |icvn AS (SELECT cell AS c_cell, cv,
         |    sqrt(${dotSql("cv", "cv")}) AS cnrm FROM (
         |  SELECT cell, list_transform(list(CAST(round(cx * 1000000) AS BIGINT)
         |      ORDER BY idx), x -> x / 1000000.0) AS cv
         |  FROM ie GROUP BY cell)),
         |res AS (SELECT un.vec_id,
         |    list_transform(range(1, len(un.v) + 1), i -> un.v[i] - nc.cv[i]) AS v
         |  FROM un JOIN iasg a ON un.vec_id = a.vec_id
         |  JOIN icvn nc ON nc.c_cell = a.cell),
         |${pqChainOverSql("res")},
         |recs AS (SELECT e.vec_id, e.s,
         |    list_transform(range(1, ${EmbDim / PqM} + 1),
         |      j -> nc.cv[e.s * ${EmbDim / PqM} + j] + cb.cw[j]) AS rec
         |  FROM enc e JOIN iasg a ON e.vec_id = a.vec_id
         |  JOIN cb ON cb.s = e.s AND cb.c_cell = e.code
         |  JOIN icvn nc ON nc.c_cell = a.cell),
         |q2 AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm
         |  FROM un WHERE vec_id < 10),
         |qc AS (SELECT q_id, qv, qnrm, c_cell AS qcell FROM (
         |    SELECT q2.q_id, q2.qv, q2.qnrm, icvn.c_cell,
         |      row_number() OVER (PARTITION BY q2.q_id
         |        ORDER BY round(${dotSql("q2.qv", "icvn.cv")} / (q2.qnrm * icvn.cnrm), 6) DESC,
         |          icvn.c_cell ASC) AS rn
         |    FROM q2 CROSS JOIN icvn)
         |  WHERE rn <= 2),
         |parts2 AS (SELECT qc.q_id, r.vec_id AS neighbor_id, r.s, qc.qnrm,
         |    ${dotSql(s"list_slice(qc.qv, r.s*${EmbDim / PqM} + 1, r.s*${EmbDim / PqM} + ${EmbDim / PqM})", "r.rec")} AS part,
         |    ${dotSql("r.rec", "r.rec")} AS cwsq
         |  FROM qc JOIN iasg a ON a.cell = qc.qcell
         |  JOIN recs r ON r.vec_id = a.vec_id AND r.vec_id <> qc.q_id),
         |sc2 AS (SELECT q_id, neighbor_id,
         |    round(list_reduce(list_prepend(0.0, list(part ORDER BY s)),
         |        (a, b) -> a + b)
         |      / (min(qnrm) * sqrt(list_reduce(list_prepend(0.0,
         |        list(cwsq ORDER BY s)), (a, b) -> a + b))), 6) AS score_pq
         |  FROM parts2 GROUP BY q_id, neighbor_id)
         |SELECT q_id, neighbor_id, score_pq, rn FROM (
         |  SELECT q_id, neighbor_id, score_pq,
         |    (row_number() OVER (PARTITION BY q_id
         |      ORDER BY score_pq DESC, neighbor_id ASC))::INT AS rn
         |  FROM sc2)
         |WHERE rn <= 3""".stripMargin),

    Gate("q_ann_pq", (s, dir) =>
      // recall@5 audit of the PQ asymmetric-distance scan vs exact brute
      // force — the m/k codebook-sizing read (the measured ladder on
      // this near-uniform random corpus: m4k8/64x -> 0.04,
      // m8k32/32x -> 0.16, m8k64/32x -> 0.32, m16k128/16x -> 0.60)
      Similarity.annPqRecallAudit(t(s, dir, "embeddings"), "vec_id",
        "embedding", col("vec_id") < 10, EmbDim, PqM, PqK, topK = 5),
      s"""$pqChainSql,
         |$PqAdcScores
         |pq5 AS (SELECT q_id, neighbor_id FROM (
         |    SELECT q_id, neighbor_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY score_pq DESC, neighbor_id ASC) AS rn FROM sc)
         |  WHERE rn <= 5),
         |$ExactTop5
         |SELECT ex.q_id, count(*) AS k,
         |  sum(CASE WHEN pq5.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
         |  round(sum(CASE WHEN pq5.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*)::DOUBLE, 6) AS recall
         |FROM ex LEFT JOIN pq5
         |  ON ex.q_id = pq5.q_id AND ex.neighbor_id = pq5.neighbor_id
         |GROUP BY ex.q_id""".stripMargin),

    Gate("q_ann_pq_rerank", (s, dir) =>
      // the FAISS refine stage on top of the same 32× index: ADC
      // proposes top-c=20, candidates' full vectors re-rank by exact
      // cosine — the recall ADC's compression dropped comes back for a
      // bounded |Q|·c fetch (recall@5 pinned >= the raw-ADC 0.16 and
      // monotone in c by spec)
      Similarity.annPqRerankRecallAudit(t(s, dir, "embeddings"), "vec_id",
        "embedding", col("vec_id") < 10, EmbDim, PqM, PqK, topK = 5,
        c = 20),
      s"""$pqChainSql,
         |$PqAdcScores
         |cand AS (SELECT q_id, neighbor_id FROM (
         |    SELECT q_id, neighbor_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY score_pq DESC, neighbor_id ASC) AS rn FROM sc)
         |  WHERE rn <= 20),
         |rr AS (SELECT q_id, neighbor_id FROM (
         |    SELECT cand.q_id, cand.neighbor_id,
         |      row_number() OVER (PARTITION BY cand.q_id ORDER BY
         |        round(${dotSql("uq.v", "un.v")} /
         |          (sqrt(${dotSql("uq.v", "uq.v")}) *
         |           sqrt(${dotSql("un.v", "un.v")})), 6) DESC,
         |        cand.neighbor_id ASC) AS rn
         |    FROM cand JOIN u uq ON uq.vec_id = cand.q_id
         |    JOIN u un ON un.vec_id = cand.neighbor_id)
         |  WHERE rn <= 5),
         |$ExactTop5
         |SELECT ex.q_id, count(*) AS k,
         |  sum(CASE WHEN rr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
         |  round(sum(CASE WHEN rr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*)::DOUBLE, 6) AS recall
         |FROM ex LEFT JOIN rr
         |  ON ex.q_id = rr.q_id AND ex.neighbor_id = rr.neighbor_id
         |GROUP BY ex.q_id""".stripMargin),

    Gate("q_ann_int8", (s, dir) =>
      // ANN over the quantized corpus: scale-free integer cosine
      Similarity.annInt8TopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 10, 5)
        .select(col("q_id"), col("neighbor_id"), col("qcos"), col("rn")),
      s"""WITH c AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc FROM c),
         |q8 AS (SELECT vec_id, list_transform(v, x ->
         |  (CASE WHEN sc > 0 THEN CAST(round(x / sc) AS INT) ELSE 0 END)::DOUBLE) AS qv FROM s),
         |n AS (SELECT vec_id, qv,
         |  sqrt(list_reduce(list_prepend(0.0, list_transform(qv, x -> x*x)), (a, x) -> a + x)) AS qnrm
         |  FROM q8),
         |scored AS (SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         |    round(${dotSql("c.qv", "q.qv")} / (c.qnrm * q.qnrm), 6) AS qcos
         |  FROM n q JOIN n c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10)
         |SELECT q_id, neighbor_id, qcos, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, neighbor_id ASC) AS rn
         |  FROM scored)
         |WHERE rn <= 5""".stripMargin),

    Gate("q_semantic_dedup", (s, dir) =>
      // embedding-space near-dup removal, greedy keep-smallest-id,
      // over SRP-banded candidate pairs (no all-pairs join)
      Similarity.semanticDedup(emb(s, dir), 0.4, SrpPlanes, SrpBandBits, EmbDim),
      s"""$SrpPairsCte,
         |drops AS (SELECT DISTINCT id2 AS vec_id FROM pairs WHERE cos >= 0.4)
         |SELECT vec_id FROM n WHERE vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin),

    Gate("q_semantic_dedup_auto", (s, dir) =>
      // n-aware band arity (bandBitsFor) — the scale-safe default
      Similarity.semanticDedupAuto(emb(s, dir), 0.4, EmbDim),
      s"""$SrpPairsAutoCte,
         |drops AS (SELECT DISTINCT id2 AS vec_id FROM pairs WHERE cos >= 0.4)
         |SELECT vec_id FROM n WHERE vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin),

    Gate("q_quantize_int8", (s, dir) =>
      Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          concat_ws("|", transform(col("qvec"), x => x.cast("string"))).as("qvec")),
      """WITH c AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc FROM c)
        |SELECT vec_id, round(sc, 6) AS scale,
        |  array_to_string(list_transform(v, x ->
        |    (CASE WHEN sc > 0 THEN CAST(round(x / sc) AS INT) ELSE 0 END)::VARCHAR), '|') AS qvec
        |FROM s""".stripMargin),

    Gate("q_centroids", (s, dir) =>
      // pipe-joined string: integral micro-units are engine-exact, and a
      // scalar column avoids array-hashing differences in comparators
      Similarity.centroids(t(s, dir, "embeddings"), "label", "embedding")
        .select(col("label"),
          concat_ws("|", transform(col("centroid_scaled"), x => x.cast("string")))
            .as("centroid")),
      """WITH c AS (SELECT label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |e AS (SELECT label, idx, avg(v[idx]) AS cx
        |  FROM c, unnest(range(1, len(v) + 1)) AS t(idx) GROUP BY label, idx)
        |SELECT label, array_to_string(
        |  list(CAST(round(cx * 1000000) AS BIGINT)::VARCHAR ORDER BY idx), '|') AS centroid
        |FROM e GROUP BY label""".stripMargin),

    Gate("q_ann_ivf", (s, dir) =>
      // the explicitly-named frozen-label COMPAT path (annIvf's
      // deprecated shim delegates here; shim identity is spec-pinned)
      Similarity.annIvfFrozenLabels(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", col("vec_id") < 10),
      s"""$EmbCte,
         |lbl AS (SELECT vec_id, label FROM embeddings),
         |nl AS (SELECT n.vec_id, lbl.label, n.v, n.nrm FROM n JOIN lbl ON n.vec_id = lbl.vec_id),
         |e AS (SELECT label, idx, avg(v[idx]) AS cx
         |  FROM nl, unnest(range(1, len(v) + 1)) AS t(idx) GROUP BY label, idx),
         |cent AS (SELECT label AS c_label,
         |  list_transform(list(CAST(round(cx * 1000000) AS BIGINT) ORDER BY idx), x -> x / 1000000.0) AS cv
         |  FROM e GROUP BY label),
         |cvn AS (SELECT c_label, cv,
         |  sqrt(list_reduce(list_prepend(0.0, list_transform(cv, x -> x*x)), (a, x) -> a + x)) AS cnrm
         |  FROM cent),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM nl WHERE vec_id < 10),
         |assign_t AS (SELECT q_id, qv, qnrm, cell FROM (
         |  SELECT q.q_id, q.qv, q.qnrm, cvn.c_label AS cell,
         |    row_number() OVER (PARTITION BY q.q_id
         |      ORDER BY round(${dotSql("q.qv", "cvn.cv")} / (q.qnrm * cvn.cnrm), 6) DESC, cvn.c_label ASC) AS rn
         |  FROM q CROSS JOIN cvn)
         |  WHERE rn = 1),
         |scored AS (SELECT a.q_id, a.cell, c.vec_id AS neighbor_id,
         |    round(${dotSql("c.v", "a.qv")} / (c.nrm * a.qnrm), 6) AS cos
         |  FROM nl c JOIN assign_t a ON c.label = a.cell AND c.vec_id <> a.q_id)
         |SELECT q_id, cell, neighbor_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rn
         |  FROM scored)
         |WHERE rn = 1""".stripMargin),

    Gate("q_ann_ivf_refit", (s, dir) =>
      // the scale fix for q_ann_ivf's frozen label quantizer: k
      // deterministic seeds + one VectorMean Lloyd refit, so cells grow
      // with the corpus instead of staying pinned at the label arity.
      // nprobe pinned at 1 — this gate isolates the single-cell search
      // shape; q_ann_ivf_probe2 covers the (default) multi-probe lever
      Similarity.annIvfRefit(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, col("vec_id") < 10, nprobe = 1),
      ivfRefitOracleSql(nprobe = 1)),

    Gate("q_ann_ivf_probe2", (s, dir) =>
      // the IVF recall lever: probe the top-2 cells per query (a query
      // near a cell boundary finds its true neighbor in cell #2)
      Similarity.annIvfRefit(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, col("vec_id") < 10, nprobe = 2),
      ivfRefitOracleSql(nprobe = 2)),

    Gate("q_ivf_cell_drift", (s, dir) =>
      // the RETRAIN TRIGGER readout for incrementally-maintained IVF
      // stores (r18): per-cell posting count vs the balanced N/k
      // expectation — when appends concentrate (load_ratio >> 1) the
      // hot cell degrades toward a linear scan and the codebook is due
      // a rebuild. Runs over the same 8-cell build as q_ann_ivf_refit.
      Similarity.ivfCellDrift(Similarity.buildIvfIndex(
        t(s, dir, "embeddings"), "vec_id", "embedding", 8)._1),
      // per-cell load vs balanced N/k over the SAME seed-assignment the
      // refit oracle replays (nn -> seeds -> asg), then one count
      s"""$IvfSeedCells,
         |cnt AS (SELECT cell, count(*)::BIGINT AS n_postings
         |  FROM asg GROUP BY cell),
         |tot AS (SELECT sum(n_postings)::BIGINT AS n, count(*)::BIGINT AS k
         |  FROM cnt)
         |SELECT cell, n_postings,
         |  round(n_postings::DOUBLE / (tot.n::DOUBLE / tot.k::DOUBLE), 6)
         |    AS load_ratio
         |FROM cnt, tot""".stripMargin),

    Gate("q_semantic_decontam", (s, dir) => {
      // embedding-space benchmark decontamination: even-id vectors are
      // the corpus, odd-id the benchmark; survivors have no benchmark
      // vector at cosine >= 0.4 among the SRP-banded candidates
      val pre = Similarity.prepared(t(s, dir, "embeddings"), "vec_id", "embedding")
      Similarity.semanticDecontaminate(
        pre.filter(col("vec_id") % 2 === 0),
        pre.filter(col("vec_id") % 2 === 1),
        threshold = 0.4, planes = SrpPlanes, bandBits = SrpBandBits, dim = 64)
    },
      s"""$EmbCte,
         |$SrpSigCte
         |$SrpBandsCte
         |cand AS (SELECT DISTINCT ce.vec_id AS c_id, be.vec_id AS b_id
         |  FROM bd ce JOIN bd be ON ce.band_key = be.band_key
         |  WHERE ce.vec_id % 2 = 0 AND be.vec_id % 2 = 1),
         |drops AS (SELECT DISTINCT c.c_id
         |  FROM cand c JOIN n x ON c.c_id = x.vec_id JOIN n y ON c.b_id = y.vec_id
         |  WHERE round(${dotSql("x.v", "y.v")} / (x.nrm * y.nrm), 6) >= 0.4)
         |SELECT vec_id FROM n
         |WHERE vec_id % 2 = 0 AND vec_id NOT IN (SELECT c_id FROM drops)""".stripMargin),

    Gate("q_embed_cov", (s, dir) =>
      // PCA-prep: the full 64x64 embedding covariance matrix from ONE
      // O(d^2)-state aggregate pass (never a d^2-row explode per vector)
      Similarity.embedCovariance(t(s, dir, "embeddings"), "embedding"),
      """WITH m AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(round(x * 1000) AS BIGINT)) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |p AS (SELECT i, j FROM range(1, 65) t1(i), range(1, 65) t2(j)
        |  WHERE i <= j),
        |s AS (SELECT i, j, count(*)::BIGINT AS n,
        |    sum(v[i])::HUGEINT AS si, sum(v[j])::HUGEINT AS sj,
        |    sum(v[i]::HUGEINT * v[j])::HUGEINT AS sij
        |  FROM m, p GROUP BY i, j)
        |SELECT (i - 1)::INT AS i, (j - 1)::INT AS j, n,
        |  round((n * sij - si * sj)::DOUBLE / (n::DOUBLE * n::DOUBLE)
        |    / (1000.0 * 1000.0), 6) + 0.0 AS cov
        |FROM s""".stripMargin),

    Gate("q_project", (s, dir) =>
      // JL reduction 64 -> 16 before ANN: per-row md5-seeded projection
      // kernel inside the scan stage — no shuffle, engine-replayable.
      // Gate shape: posexploded to (vec_id, label, p, value) rows — the
      // pandas-based oracle compare cannot lexsort array cells (the round-9
      // q_inverted_index rule), so the vector never leaves as an array.
      Similarity.randomProject(
          t(s, dir, "embeddings").filter(col("embedding").isNotNull),
          "embedding", dim = 64, outDim = 16)
        .select(col("vec_id"), col("label"),
          posexplode(col("proj")).as(Seq("p", "value"))),
      s"""WITH m AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE embedding IS NOT NULL)
         |SELECT vec_id, label, p::INT AS p,
         |  round(list_reduce(list_transform(range(1, 65),
         |      d -> v[d] * ${planeWeightSql("p", "d - 1")}),
         |    (a, b) -> a + b), 6) + 0.0 AS value
         |FROM m, unnest(range(0, 16)) AS t(p)""".stripMargin),

    Gate("q_ann_join", (s, dir) => {
      // cross-corpus retrieval: even-id vectors query the odd-id half —
      // SRP bucket equi-join (never a cross product), cosine verify,
      // top-3 per query
      val all = Similarity.prepared(t(s, dir, "embeddings"), "vec_id", "embedding")
      Similarity.annJoin(
        all.filter(col("vec_id") % 2 === 0),
        all.filter(col("vec_id") % 2 === 1),
        planes = 8, dim = 64, minCos = 0.1, k = 3)
    },
      s"""$EmbCte,
         |bk AS (SELECT vec_id, v, nrm, array_to_string(list_transform(range(0, 8), p ->
         |    CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1),
         |      d -> v[d] * ${planeWeightSql("p", "d - 1")})), (acc, x) -> acc + x) >= 0
         |    THEN '1' ELSE '0' END), '') AS bucket
         |  FROM n),
         |l AS (SELECT vec_id AS l_id, v AS lv, nrm AS lnrm, bucket
         |  FROM bk WHERE vec_id % 2 = 0),
         |r AS (SELECT vec_id AS r_id, v AS rv, nrm AS rnrm, bucket
         |  FROM bk WHERE vec_id % 2 = 1),
         |scored AS (SELECT l_id, r_id,
         |    round(${dotSql("lv", "rv")} / (lnrm * rnrm), 6) AS cos
         |  FROM l JOIN r USING (bucket)),
         |flt AS (SELECT * FROM scored WHERE cos >= 0.1)
         |SELECT l_id, r_id, cos, rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY l_id
         |    ORDER BY cos DESC, r_id ASC) AS rn FROM flt)
         |WHERE rn <= 3""".stripMargin))

  private val LshPlanes = 16

  // PQ gate sizing: m=8 subspaces (32x vs float32), 32 codewords each
  private val PqM = 8
  private val PqK = 32

  /** DuckDB twin of [[graft.ops.Similarity.annIvfRefit]]: deterministic
    * md5-order seed draw, CROSS JOIN + row_number argmax assignment,
    * per-cell avg refit (micro-rounded), top-`nprobe` routing, top-1
    * in-probed-cells search. */
  private def ivfRefitOracleSql(nprobe: Int): String =
    s"""$IvfSeedCells,
       |e AS (SELECT a.cell, idx, avg(v[idx]) AS cx
       |  FROM nn JOIN asg a ON nn.vec_id = a.vec_id,
       |    unnest(range(1, len(v) + 1)) AS t(idx)
       |  GROUP BY a.cell, idx),
       |cent AS (SELECT cell AS c_cell,
       |    list_transform(list(CAST(round(cx * 1000000) AS BIGINT)
       |      ORDER BY idx), x -> x / 1000000.0) AS cv
       |  FROM e GROUP BY cell),
       |cvn AS (SELECT c_cell, cv,
       |    sqrt(list_reduce(list_prepend(0.0, list_transform(cv, x -> x*x)),
       |      (a, x) -> a + x)) AS cnrm
       |  FROM cent),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM nn WHERE vec_id < 10),
       |qc AS (SELECT q_id, qv, qnrm, c_cell AS qcell FROM (
       |    SELECT q.q_id, q.qv, q.qnrm, cvn.c_cell,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY round(${dotSql("q.qv", "cvn.cv")} / (q.qnrm * cvn.cnrm), 6) DESC,
       |          cvn.c_cell ASC) AS rn
       |    FROM q CROSS JOIN cvn)
       |  WHERE rn <= $nprobe),
       |scored AS (SELECT qc.q_id, a.cell, nn.vec_id AS neighbor_id,
       |    round(${dotSql("nn.v", "qc.qv")} / (nn.nrm * qc.qnrm), 6) AS cos
       |  FROM nn JOIN asg a ON nn.vec_id = a.vec_id
       |  JOIN qc ON a.cell = qc.qcell AND nn.vec_id <> qc.q_id)
       |SELECT q_id, cell, neighbor_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, neighbor_id ASC) AS rn
       |  FROM scored)
       |WHERE rn = 1""".stripMargin

  /** DuckDB replay of [[graft.ops.Similarity.quantizePq]] over the
    * unit-normalized embeddings: CTE chain through `enc` (vec_id, s,
    * code) and `cb` (s, c_cell, cw). The augmented dot replays the
    * argmax-dot == argmin-L2 trick: dot(x_sub, c_sub) + (−(c·c)/2)
    * appended in the SAME left-fold position as the kernel's
    * concatenated arrays. */
  private def pqChainSql: String =
    s"""$EmbCte,
       |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS v
       |  FROM n WHERE nrm > 0),
       |${pqChainOverSql("u")}""".stripMargin

  /** The PQ train/encode chain (sub_t → seeds → ssub → asg → cbe → cb
    * → enc) over any prior CTE `src`(vec_id, v) — shared by the raw
    * chain ([[pqChainSql]], src = the unit corpus) and the residual
    * IVFADC oracle (src = the per-cell residuals). */
  private def pqChainOverSql(src: String): String = {
    val sub = EmbDim / PqM
    def dotAug(x: String, c: String) =
      s"(${dotSql(x, c)} + (-(${dotSql(c, c)}) / 2.0))"
    s"""sub_t AS (SELECT vec_id, s,
       |    list_slice(v, s*$sub + 1, s*$sub + $sub) AS sv
       |  FROM $src, unnest(range(0, $PqM)) AS t(s)),
       |seeds AS (SELECT (row_number() OVER (
       |      ORDER BY md5(vec_id::VARCHAR), vec_id) - 1)::INT AS cell, v
       |  FROM (SELECT vec_id, v FROM $src
       |        ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $PqK)),
       |ssub AS (SELECT cell, s,
       |    list_slice(v, s*$sub + 1, s*$sub + $sub) AS sv
       |  FROM seeds, unnest(range(0, $PqM)) AS t(s)),
       |asg AS (SELECT vec_id, s, cell FROM (
       |    SELECT sub_t.vec_id, sub_t.s, ssub.cell,
       |      row_number() OVER (PARTITION BY sub_t.vec_id, sub_t.s
       |        ORDER BY round(${dotAug("sub_t.sv", "ssub.sv")}, 6) DESC,
       |          ssub.cell ASC) AS rn
       |    FROM sub_t JOIN ssub ON sub_t.s = ssub.s)
       |  WHERE rn = 1),
       |cbe AS (SELECT a.s, a.cell, idx, avg(sv[idx]) AS cx
       |  FROM sub_t JOIN asg a ON sub_t.vec_id = a.vec_id AND sub_t.s = a.s,
       |    unnest(range(1, len(sv) + 1)) AS t(idx)
       |  GROUP BY a.s, a.cell, idx),
       |cb AS (SELECT s, cell AS c_cell,
       |    list_transform(list(CAST(round(cx * 1000000) AS BIGINT)
       |      ORDER BY idx), x -> x / 1000000.0) AS cw
       |  FROM cbe GROUP BY s, cell),
       |enc AS (SELECT vec_id, s, code FROM (
       |    SELECT sub_t.vec_id, sub_t.s, cb.c_cell AS code,
       |      row_number() OVER (PARTITION BY sub_t.vec_id, sub_t.s
       |        ORDER BY round(${dotAug("sub_t.sv", "cb.cw")}, 6) DESC,
       |          cb.c_cell ASC) AS rn
       |    FROM sub_t JOIN cb ON sub_t.s = cb.s)
       |  WHERE rn = 1)""".stripMargin
  }

  /** The IVF build both IVF oracles replay: the 8 md5-ordered seed
    * vectors of CTE `nn` as `seeds`(cell, sv, snrm), and each vector's
    * best-cosine seed as `asg`(vec_id, cell). */
  private val IvfSeedCells =
    s"""$EmbCte,
       |nn AS (SELECT vec_id, v, nrm FROM n
       |  WHERE v IS NOT NULL AND len(v) > 0),
       |seeds AS (SELECT (row_number() OVER (
       |      ORDER BY md5(vec_id::VARCHAR), vec_id) - 1)::INT AS cell,
       |    v AS sv, nrm AS snrm
       |  FROM (SELECT vec_id, v, nrm FROM nn
       |        ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8)),
       |sc AS (SELECT nn.vec_id, s.cell,
       |    round(${dotSql("nn.v", "s.sv")} / (nn.nrm * s.snrm), 6) AS ccos
       |  FROM nn CROSS JOIN seeds s),
       |asg AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, cell ASC) AS rn FROM sc)
       |  WHERE rn = 1)""".stripMargin

  /** The asymmetric-distance scores of queries 0-9 against every PQ code
    * of [[pqChainSql]]: CTE `sc`(q_id, neighbor_id, score_pq). */
  private val PqAdcScores =
    s"""q AS (SELECT vec_id AS q_id, v AS qv,
       |    sqrt(${dotSql("v", "v")}) AS qnrm
       |  FROM u WHERE vec_id < 10),
       |parts AS (SELECT q.q_id, e.vec_id AS neighbor_id, e.s, q.qnrm,
       |    ${dotSql(s"list_slice(q.qv, e.s*${EmbDim / PqM} + 1, e.s*${EmbDim / PqM} + ${EmbDim / PqM})", "cb.cw")} AS part,
       |    ${dotSql("cb.cw", "cb.cw")} AS cwsq
       |  FROM q JOIN enc e ON e.vec_id <> q.q_id
       |  JOIN cb ON cb.s = e.s AND cb.c_cell = e.code),
       |sc AS (SELECT q_id, neighbor_id,
       |    round(list_reduce(list_prepend(0.0, list(part ORDER BY s)),
       |        (a, b) -> a + b)
       |      / (min(qnrm) * sqrt(list_reduce(list_prepend(0.0,
       |        list(cwsq ORDER BY s)), (a, b) -> a + b))), 6) AS score_pq
       |  FROM parts GROUP BY q_id, neighbor_id),""".stripMargin

  /** The exact top-5 cosine neighbours of queries 0-9 over CTE `n`: the
    * recall audits' truth `ex`(q_id, neighbor_id). */
  private val ExactTop5 =
    s"""ex AS (SELECT q_id, neighbor_id FROM (
       |    SELECT qq.vec_id AS q_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY qq.vec_id ORDER BY
       |        round(${dotSql("qq.v", "c.v")} / (qq.nrm * c.nrm), 6) DESC,
       |        c.vec_id ASC) AS rn
       |    FROM n qq JOIN n c ON c.vec_id <> qq.vec_id WHERE qq.vec_id < 10)
       |  WHERE rn <= 5)""".stripMargin
}
