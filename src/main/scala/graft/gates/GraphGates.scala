package graft.gates

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextOps}

/** Graph gates: PageRank (MinHash pair graph and crawl link graph),
  * label propagation, triangles, clustering coefficient and k-core of
  * [[graft.ops.Graph]]. */
private[graft] object GraphGates {
  import Shared._

  def gates: Seq[Gate] = Seq(
    Gate("q_pagerank", (s, dir) =>
      // duplication-centrality: integer-exact PageRank over the MinHash
      // candidate-pair graph (two shuffles/iteration, bit-identical
      // under any partitioning)
      graft.ops.Graph.pageRank(
        Dedup.candidatePairs(docs(s, dir), "doc_id", "text", MinhashK, MinhashBands),
        iters = 5),
      s"""${PairsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |e AS (SELECT id1 AS src, id2 AS dst FROM pairs_t
         |  UNION SELECT id2, id1 FROM pairs_t),
         |dg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |pr(iter, doc_id, r) AS (
         |  SELECT 0, src, 1000000::BIGINT FROM dg
         |  UNION ALL
         |  SELECT pr.iter + 1, e.dst, 150000 + sum((pr.r * 17) // (20 * dg.deg))
         |  FROM pr JOIN e ON pr.doc_id = e.src JOIN dg ON pr.doc_id = dg.src
         |  WHERE pr.iter < 5
         |  GROUP BY pr.iter, e.dst)
         |SELECT doc_id, r AS rank_micro FROM pr WHERE iter = 5""".stripMargin),

    Gate("q_label_prop", (s, dir) =>
      // label-propagation communities over the duplication graph (r20):
      // the dense cores CC's reachability glues together — sync
      // updates, 3 fixed iterations, min-label ties, so both engines
      // replay it bit-identically
      graft.ops.Graph.labelPropagation(
        Dedup.candidatePairs(docs(s, dir), "doc_id", "text", MinhashK, MinhashBands),
        iters = 3),
      // label-propagation replay: the 3 sync iterations UNROLLED (lp1..3
      // identical blocks), argmax per node via the window pick ORDER BY
      // c DESC, label ASC — exactly max_by(label, struct(c, -label))
      s"""$PairsCte,
         |lp_e AS (SELECT id1 AS src, id2 AS dst FROM pairs_t
         |  UNION SELECT id2, id1 FROM pairs_t),
         |lab0 AS (SELECT DISTINCT src AS id, src AS label FROM lp_e),
         |c1 AS (SELECT e.dst AS id, l.label, count(*) AS c
         |  FROM lp_e e JOIN lab0 l ON e.src = l.id GROUP BY 1, 2),
         |lab1 AS (SELECT id, label FROM (SELECT id, label, row_number()
         |    OVER (PARTITION BY id ORDER BY c DESC, label ASC) AS rn
         |  FROM c1) WHERE rn = 1),
         |c2 AS (SELECT e.dst AS id, l.label, count(*) AS c
         |  FROM lp_e e JOIN lab1 l ON e.src = l.id GROUP BY 1, 2),
         |lab2 AS (SELECT id, label FROM (SELECT id, label, row_number()
         |    OVER (PARTITION BY id ORDER BY c DESC, label ASC) AS rn
         |  FROM c2) WHERE rn = 1),
         |c3 AS (SELECT e.dst AS id, l.label, count(*) AS c
         |  FROM lp_e e JOIN lab2 l ON e.src = l.id GROUP BY 1, 2),
         |lab3 AS (SELECT id, label FROM (SELECT id, label, row_number()
         |    OVER (PARTITION BY id ORDER BY c DESC, label ASC) AS rn
         |  FROM c3) WHERE rn = 1)
         |SELECT id, label AS community FROM lab3""".stripMargin),

    Gate("q_local_clustering", (s, dir) =>
      // per-node clique-ness of the duplication graph: triangles(v) and
      // 2T/(d(d-1)) — template families vs chain edits
      graft.ops.Graph.localClustering(
        Dedup.candidatePairs(docs(s, dir), "doc_id", "text", MinhashK, MinhashBands)),
      s"""$UndirectedDegrees
         |tri AS (SELECT e1.a AS v1, e1.b AS v2, e2.b AS v3 FROM und e1
         |  JOIN und e2 ON e2.a = e1.b
         |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         |pn AS (SELECT v, count(*) AS t FROM
         |  (SELECT v1 AS v FROM tri UNION ALL SELECT v2 FROM tri
         |   UNION ALL SELECT v3 FROM tri) GROUP BY v)
         |SELECT dg.v AS node_id, dg.deg, coalesce(pn.t, 0)::BIGINT AS triangles,
         |  round(CASE WHEN dg.deg < 2 THEN NULL
         |    ELSE (2 * coalesce(pn.t, 0))::DOUBLE
         |         / (dg.deg * (dg.deg - 1))::DOUBLE END, 6) AS local_cc
         |FROM dg LEFT JOIN pn ON dg.v = pn.v""".stripMargin),

    Gate("q_triangles", (s, dir) =>
      // triangle census of the duplication graph: degree-ordered
      // orientation bounds the wedge join at O(m^1.5) — the structural
      // "how clique-y are dup clusters" complement of q_pagerank
      graft.ops.Graph.triangleStats(
        Dedup.candidatePairs(docs(s, dir), "doc_id", "text", MinhashK, MinhashBands)),
      s"""$UndirectedDegrees
         |tri AS (SELECT count(*) AS t FROM und e1
         |  JOIN und e2 ON e2.a = e1.b
         |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         |nd AS (SELECT count(*) AS n_nodes,
         |  sum(deg * (deg - 1) // 2) AS wedges FROM dg),
         |ed AS (SELECT count(*) AS n_edges FROM und)
         |SELECT coalesce(n_nodes, 0)::BIGINT AS n_nodes,
         |  n_edges::BIGINT AS n_edges, t::BIGINT AS n_triangles,
         |  coalesce(wedges, 0)::BIGINT AS n_wedges,
         |  round(CASE WHEN wedges IS NULL OR wedges = 0 THEN NULL
         |    ELSE (3 * t)::DOUBLE / wedges::DOUBLE END, 6) AS clustering_coeff
         |FROM nd, ed, tri""".stripMargin),

    Gate("q_kcore", (s, dir) =>
      // dup-farm detector: bounded 2-core peel of the duplication graph
      // — CC can't tell a dense farm from an accidental chain; the
      // peel deletes every chain/leaf and keeps only mutually-dense mass
      graft.ops.Graph.kCore(
        Dedup.candidatePairs(docs(s, dir), "doc_id", "text", MinhashK, MinhashBands),
        k = 2, iters = 4),
      s"""${PairsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sym AS (SELECT id1 AS src, id2 AS dst FROM pairs_t WHERE id1 <> id2
         |  UNION SELECT id2, id1 FROM pairs_t WHERE id1 <> id2),
         |kc(iter, src, dst) AS (
         |  SELECT 0, src, dst FROM sym
         |  UNION ALL
         |  SELECT t.iter + 1, t.src, t.dst FROM (
         |    SELECT kc.iter, kc.src, kc.dst,
         |      count(*) OVER (PARTITION BY kc.src) AS dsrc,
         |      count(*) OVER (PARTITION BY kc.dst) AS ddst
         |    FROM kc WHERE kc.iter < 4) t
         |  WHERE t.dsrc >= 2 AND t.ddst >= 2)
         |SELECT src AS doc_id, count(*) AS deg
         |FROM kc WHERE iter = 4 GROUP BY src""".stripMargin),

    Gate("q_link_pagerank", (s, dir) =>
      // host centrality over the REAL link graph (r19): the same
      // integer-exact PageRank as q_pagerank, fed by linkGraph's edge
      // frame keyed by host STRINGS — what a crawl-ops user actually
      // ranks hosts with
      graft.ops.Graph.pageRank(
        TextOps.linkGraph(linkPages(s, dir), "url", "html")
          .select(col("src_host").as("id1"), col("dst_host").as("id2")),
        iters = 5)
        .select(col("doc_id").as("host"), col("rank_micro")),
      // host centrality over the real link graph: the q_pagerank
      // integer-exact replay, keyed by host STRINGS (no id mapping to
      // drift between engines)
      (LinkEdgesSql.replaceFirst("WITH ", "WITH RECURSIVE ").stripTrailing() +
        """,
          |ed AS (SELECT DISTINCT src_host, dst_host FROM edges
          |  WHERE dst_host IS NOT NULL AND dst_host <> ''),
          |e AS (SELECT DISTINCT * FROM (
          |  SELECT src_host AS src, dst_host AS dst FROM ed
          |  UNION ALL SELECT dst_host, src_host FROM ed)),
          |dg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
          |pr(iter, host, r) AS (
          |  SELECT 0, src, 1000000::BIGINT FROM dg
          |  UNION ALL
          |  SELECT pr.iter + 1, e.dst, 150000 + sum((pr.r * 17) // (20 * dg.deg))
          |  FROM pr JOIN e ON pr.host = e.src JOIN dg ON pr.host = dg.src
          |  WHERE pr.iter < 5
          |  GROUP BY pr.iter, e.dst)
          |SELECT host, r AS rank_micro FROM pr WHERE iter = 5""".stripMargin)),

    Gate("q_link_pagerank_weighted", (s, dir) =>
      // the real-crawl centrality (r19): DIRECTED, n_links-weighted
      // PageRank over the link-graph edges — heavy linkers donate
      // proportionally, mass flows src → dst only
      graft.ops.Graph.pageRankWeighted(
        TextOps.linkGraph(linkPages(s, dir), "url", "html")
          .select(col("src_host").as("src"), col("dst_host").as("dst"),
            col("n_links").as("w")),
        iters = 5)
        .select(col("node").as("host"), col("rank_micro")),
      // weighted directed PageRank replay: the aggregated edges carry
      // n_links weights; contribution floored per edge inside the sum,
      // exactly as the Spark op
      (LinkEdgesSql.replaceFirst("WITH ", "WITH RECURSIVE ").stripTrailing() +
        s""",
          |$LinkWeightsCte
          |$WeightedRankSql"""
          .stripMargin)),

    Gate("q_link_pagerank_delta", (s, dir) => {
      // INCREMENTAL crawl ranking (r20): the even-doc link-graph batch
      // is the standing crawl with persisted per-iteration rank
      // history; the odd-doc batch arrives as a delta. The delta path
      // recomputes only nodes within the delta's 5-hop out-reach and
      // reads everything else back from the history — and the oracle
      // replays the FULL recursion over the two-batch edge multiset,
      // so equality proves the delta == a from-scratch rerank.
      def ed(p: Int) = graft.ops.TextOps.linkGraph(
          linkPages(s, dir, col("doc_id") % 2 === p), "url", "html")
        .select(col("src_host").as("src"), col("dst_host").as("dst"),
          col("n_links").as("w"))
      val old = ed(0)
      graft.ops.Graph.pageRankWeightedDelta(
        old, graft.ops.Graph.pageRankWeightedHistory(old, iters = 5),
        ed(1), iters = 5)
        .select(col("node").as("host"), col("rank_micro"))
    },
      // incremental rerank oracle: the SAME weighted recursion, but over
      // the TWO-batch edge multiset (b = doc_id % 2 carried through the
      // edge CTEs; each batch's (src, dst) edges count separately — the
      // per-edge floored contribution makes parallel rows ≠ merged
      // weights, and the Spark side ranks exactly this per-batch union).
      // The oracle is a from-scratch recompute; the Spark side is the
      // history-reading delta path — equality proves delta exactness.
      (linkEdgesSql(batched = true)
        .replaceFirst("WITH ", "WITH RECURSIVE ").stripTrailing() +
        s""",
          |ew AS (SELECT src_host AS src, dst_host AS dst, b,
          |    count(*)::BIGINT AS w FROM edges
          |  WHERE dst_host IS NOT NULL AND dst_host <> ''
          |  GROUP BY 1, 2, 3),
          |$WeightedRankSql"""
          .stripMargin)),

    Gate("q_link_pagerank_seeded", (s, dir) => {
      // PERSONALIZED PageRank (r20): teleport restricted to the
      // even-numbered source hosts — proximity-to-trusted-seeds
      // ranking over the same real link graph; odd hosts appear only
      // where seed mass actually reaches them
      val edges = graft.ops.TextOps.linkGraph(linkPages(s, dir), "url", "html")
        .select(col("src_host").as("src"), col("dst_host").as("dst"),
          col("n_links").as("w"))
      val seeds = edges.select(col("src").as("node")).distinct()
        .filter(col("node").rlike("^src[0-9]*[02468]\\."))
      graft.ops.Graph.pageRankPersonalized(edges, seeds, iters = 5)
        .select(col("node").as("host"), col("rank_micro"))
    },
      // personalized replay: teleport as synthetic seed self-edges in an
      // augmented edge list — a single-reference recursion both engines
      // run identically (the CASE guards the tele rows' zero divisors)
      (LinkEdgesSql.replaceFirst("WITH ", "WITH RECURSIVE ").stripTrailing() +
        s""",
          |$LinkWeightsCte
          |ow AS (SELECT src, sum(w) AS ow FROM ew GROUP BY src),
          |sd AS (SELECT DISTINCT src AS node FROM ew
          |  WHERE regexp_matches(src, '^src[0-9]*[02468]\\.')),
          |aug AS (SELECT src, dst, w, ow, false AS tele
          |    FROM ew JOIN ow USING (src)
          |  UNION ALL
          |  SELECT node, node, 0, 0, true FROM sd),
          |pr(iter, node, r) AS (
          |  SELECT 0, node, 1000000::BIGINT FROM sd
          |  UNION ALL
          |  SELECT pr.iter + 1, a.dst,
          |    sum(CASE WHEN a.tele THEN 150000
          |      ELSE (pr.r * 17 * a.w) // (20 * a.ow) END)::BIGINT
          |  FROM pr JOIN aug a ON pr.node = a.src
          |  WHERE pr.iter < 5
          |  GROUP BY pr.iter, a.dst)
          |SELECT node AS host, r AS rank_micro FROM pr WHERE iter = 5"""
          .stripMargin)))

  /** CTEs `und` (the pair graph's undirected edges a < b) and `dg`(v, deg)
    * over [[PairsCte]]. */
  private val UndirectedDegrees =
    s"""$PairsCte,
       |und AS (SELECT DISTINCT least(id1, id2) AS a, greatest(id1, id2) AS b
       |  FROM pairs_t WHERE id1 <> id2),
       |dg AS (SELECT v, count(*) AS deg FROM
       |  (SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),""".stripMargin

  /** CTE `ew`(src, dst, w): the link graph's host edges weighted by their
    * link count. */
  private val LinkWeightsCte =
    """ew AS (SELECT src_host AS src, dst_host AS dst,
      |    count(*)::BIGINT AS w FROM edges
      |  WHERE dst_host IS NOT NULL AND dst_host <> ''
      |  GROUP BY 1, 2),""".stripMargin

  /** The 5-iteration integer-micro weighted PageRank of
    * [[graft.ops.Graph.pageRankWeighted]] over CTE `ew`(src, dst, w), each
    * edge's contribution floored inside the sum. */
  private val WeightedRankSql =
    """ow AS (SELECT src, sum(w) AS ow FROM ew GROUP BY src),
      |pr(iter, node, r) AS (
      |  SELECT 0, src, 1000000::BIGINT FROM ow
      |  UNION ALL
      |  SELECT pr.iter + 1, e.dst,
      |    150000 + sum((pr.r * 17 * e.w) // (20 * o.ow))
      |  FROM pr JOIN ew e ON pr.node = e.src JOIN ow o ON pr.node = o.src
      |  WHERE pr.iter < 5
      |  GROUP BY pr.iter, e.dst)
      |SELECT node AS host, r AS rank_micro FROM pr WHERE iter = 5""".stripMargin
}
