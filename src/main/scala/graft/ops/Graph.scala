package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Iterative graph analytics over near-duplicate pair graphs — the
 * companion to [[Dedup.connectedComponents]]: where CC answers "which
 * docs form one duplicate cluster", PageRank ranks docs by how central
 * they are in the duplication structure (a high-rank doc is boilerplate
 * shared by many near-dups — a better removal candidate than an edge
 * member).
 */
object Graph {

  /**
   * The one fixed-round driver of the PageRank and label-propagation
   * family. It checks `iters` before `setUp` runs (a set-up's eager
   * checkpoints are Spark jobs), then applies the set-up's round
   * (previous frame, round number) `iters` times to its first frame and
   * returns every round's frame: index t is the frame after round t,
   * index 0 the first frame.
   *
   * Lineage (r19): an eager checkpoint is a synchronous driver barrier
   * (one serial job + materialization per round), and the r18 form that
   * checkpointed every round cost q_link_pagerank_delta ~20 such
   * barriers per run. With no driver-side action inside these loops
   * (unlike CC's fixpoint probe), the rounds can stay ONE lazy plan:
   * Catalyst plans 5 chained join+agg rounds fine, and AQE's
   * ReuseExchange dedups a round consumed twice (history union + next
   * round). So only every 8th round's frame is checkpointed, bounding
   * plan depth for the iters→50 contract without serializing the common
   * iters=5 case (zero in-loop barriers).
   */
  private def fixedRounds(iters: Int)(
      setUp: => (DataFrame, (DataFrame, Int) => DataFrame)): IndexedSeq[DataFrame] = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    val (first, round) = setUp
    (1 to iters).scanLeft(first) { (prev, t) =>
      val next = round(prev, t)
      if (t % 8 == 0) next.localCheckpoint(eager = true) else next
    }
  }

  /**
   * Fixed-iteration PageRank in EXACT INTEGER micro-units, damping
   * 0.85 expressed as ×17/20 integer arithmetic:
   *
   *   r₀(v) = 1 000 000
   *   rₜ₊₁(v) = 150 000 + Σ_{u∼v} (rₜ(u)·17) div (20·deg(u))
   *
   * Every operation is exact long arithmetic — the result is
   * bit-identical under ANY partitioning and in any engine (the DuckDB
   * oracle replays it with a recursive CTE carrying an iteration
   * counter), unlike double-accumulated PageRank where neighbor sum
   * order changes low bits.
   *
   * It is [[pageRankWeighted]] over both directed edges of every pair,
   * each of weight 1: then a node's out-weight is its degree and the
   * weighted contribution (r·17·1) div (20·deg) is the one above, bit
   * for bit. So it shares that op's scale shape and lineage control
   * ([[fixedRounds]]). Nodes outside `pairs` are excluded (an isolated
   * node's rank is the constant 150 000 — uninformative).
   *
   * `pairs` (id1, id2) is treated UNDIRECTED: each pair contributes
   * both directed edges; deg(u) = #neighbors of u.
   */
  def pageRank(pairs: DataFrame, iters: Int = 5): DataFrame =
    pageRankWeighted(symmetricEdges(pairs).withColumn("w", lit(1L)), iters)
      .select(col("node").as("doc_id"), col("rank_micro"))

  /** Both directed edges (src, dst) of every undirected pair, distinct,
    * as a lazy frame: each user checkpoints it once, after its own
    * projection — [[pageRank]] in [[pageRankWeighted]]'s edge front,
    * [[labelPropagation]] and [[kCore]] before their loops. */
  private def symmetricEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .union(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .distinct()

  /**
   * WEIGHTED DIRECTED PageRank (r19) — the real-crawl form of
   * [[pageRank]]: edges (src, dst, w) with w > 0 (the link graph's
   * n_links), mass flowing src → dst only, each edge carrying
   * w/out_weight(src) of its source's 17/20 share. Integer-exact
   * under any partitioning like [[pageRank]] (micro-rank longs,
   * contribution = (r·17·w) div (20·W_src), floored per EDGE before
   * the sum — the oracle replays the identical recursion). Same
   * conventions as the unweighted op: seeds = nodes with out-edges,
   * a node drops from the rank frame the round nobody links to it
   * (isolated rank is the uninformative constant).
   *
   * Scale shape: the edge list and its out-weight join are
   * checkpointed once, in the set-up; per round, one join of that list
   * against the O(|V|) rank table (both hash-partitioned on the join
   * key) + one dst-keyed sum — the classic two-shuffle PageRank round,
   * no broadcast of anything unbounded.
   */
  def pageRankWeighted(edges: DataFrame, iters: Int = 5): DataFrame =
    weightedRanks(edges, iters).last.select(col("node"), col("r").as("rank_micro"))

  /** Every round's (node, r) frame of [[pageRankWeighted]], 0..iters. */
  private def weightedRanks(edges: DataFrame, iters: Int): IndexedSeq[DataFrame] =
    fixedRounds(iters) {
      val (e, outW) = weightedEdges(edges)
      val withW = e.join(outW, "src").localCheckpoint(eager = true)
      (outW.select(col("src").as("node"), lit(1000000L).as("r")),
        (rank, _) => weightedRound(withW, rank))
    }

  /** The weighted edge list every weighted PageRank starts from:
    * (src, dst, w) with w cast to long and w > 0, checkpointed once, and
    * its per-source out-weight (src, ow). */
  private def weightedEdges(edges: DataFrame): (DataFrame, DataFrame) = {
    val e = edges
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .filter(col("w") > 0)
      .localCheckpoint(eager = true)
    (e, e.groupBy(col("src")).agg(sum(col("w")).as("ow")))
  }

  /** The one weighted PageRank round rₜ → rₜ₊₁: (node, r) → (node, r)
    * over out-weight-joined edges (src, dst, w, ow). */
  private def weightedRound(withW: DataFrame, rank: DataFrame): DataFrame =
    withW
      .join(rank, withW("src") === rank("node"))
      .select(col("dst"), expr("(r * 17L * w) div (20L * ow)").as("c"))
      .groupBy(col("dst"))
      .agg((lit(150000L) + sum(col("c"))).as("r"))
      .select(col("dst").as("node"), col("r"))

  /** Every round's frame, tagged with its round: (node, iter, r). */
  private def withIter(frames: IndexedSeq[DataFrame]): DataFrame =
    frames.zipWithIndex
      .map { case (f, t) => f.withColumn("iter", lit(t)) }
      .reduce(_ unionByName _)
      .select(col("node"), col("iter").cast("int").as("iter"), col("r"))

  /**
   * [[pageRankWeighted]] keeping the FULL per-iteration rank history
   * (node, iter, r) for iter = 0..iters — the persisted state
   * [[pageRankWeightedDelta]] needs: a fixed-iteration rank depends on
   * the ≤t-hop in-neighborhood, so an exact delta update must read the
   * UNAFFECTED in-neighbors' intermediate ranks, not just their final
   * ones. `iter = iters` rows are exactly [[pageRankWeighted]]'s
   * output. O(iters·|V|) rows of (key, long, long) — the natural thing
   * to write next to the edge list, partitioned by `iter`. Each round's
   * frame is consumed twice (next round + the history union): within
   * the one output job ReuseExchange dedups the identical aggregate
   * exchange, so no per-round barrier is needed (r19).
   */
  def pageRankWeightedHistory(edges: DataFrame, iters: Int = 5): DataFrame =
    withIter(weightedRanks(edges, iters))

  /**
   * INCREMENTAL weighted PageRank (r20) — exact delta maintenance for
   * a growing link graph: given the old edge list, its
   * [[pageRankWeightedHistory]] (same `iters`), and a batch of NEW
   * edge rows, returns ranks bit-identical to
   * `pageRankWeighted(oldEdges unionAll deltaEdges, iters)` while
   * recomputing ONLY the nodes a new edge can reach.
   *
   * Why this is exact, not approximate: with a fixed iteration count,
   * rank_t(v) is a function of v's ≤t-hop in-neighborhood (edge
   * weights, source out-weights, and seed membership). Adding edges
   * changes that function only for nodes with an in-edge from a
   * TOUCHED source (a delta src — its out-weight changed, so every
   * contribution it makes, old edges included, changes) or from a
   * node affected at the previous iteration. So with
   * T = distinct delta sources, the affected frontier is
   * A_t = outNeighbors(T ∪ A_{t-1}) — every other node's rank_t is
   * read back from the stored history. Under edge ADDITIONS rank-frame
   * membership only grows, so nothing ever needs deleting from the
   * history side (deletions = rebuild, like the IVF drift gate).
   *
   * Delta rows are ADDITIONAL edge rows in the multiset sense: the
   * per-edge floored contribution means a parallel (src, dst) row is
   * NOT the same as incrementing an existing row's weight, and the
   * equality contract is against the unioned multiset (which is what a
   * crawl's per-segment link-graph batches produce).
   *
   * Scale shape: per iteration, the edge list is semi-join FILTERED to
   * edges into the affected set before anything else touches it — with
   * the edge store partitioned/bucketed by dst that is a pruned scan
   * proportional to the delta's reach, not |E|; the history read is
   * one `iter` partition per round. A delta touching everything
   * degrades gracefully into exactly the full recompute.
   */
  def pageRankWeightedDelta(oldEdges: DataFrame, history: DataFrame,
      deltaEdges: DataFrame, iters: Int = 5): DataFrame =
    deltaRanks(oldEdges, history, deltaEdges, iters).last
      .select(col("node"), col("r").as("rank_micro"))

  /**
   * [[pageRankWeightedDelta]] returning the FULL updated per-iteration
   * history instead of just the final ranks — the frame to persist so
   * the NEXT delta batch can chain off this one (continuous crawl
   * ingest: init once, then history → delta → history → …). Identical
   * to `pageRankWeightedHistory(oldEdges unionAll deltaEdges, iters)`
   * bit-for-bit; per iteration the unaffected side is the stored
   * history anti-joined against the affected set, so the assembly adds
   * one |V|-row anti join per iteration over [[pageRankWeightedDelta]].
   */
  def pageRankWeightedDeltaHistory(oldEdges: DataFrame, history: DataFrame,
      deltaEdges: DataFrame, iters: Int = 5): DataFrame =
    withIter(deltaRanks(oldEdges, history, deltaEdges, iters))

  /**
   * LABEL-PROPAGATION community detection (r20; Raghavan et al. 2007,
   * Phys. Rev. E 76) over an undirected pair graph — the coarser,
   * near-linear community read beside [[Dedup.connectedComponents]]:
   * CC says "reachable at all", LPA's label majorities find the densely
   * duplicated cores inside a weakly bridged component. DETERMINISTIC
   * variant: synchronous updates, a FIXED iteration count, and ties
   * broken toward the SMALLEST label —
   *
   *   label₀(v)   = v
   *   labelₜ₊₁(v) = argmax_ℓ |{u ∼ v : labelₜ(u) = ℓ}|, ties → min ℓ
   *
   * so the result is bit-identical under any partitioning and the
   * DuckDB oracle replays it with the unrolled window-pick. (Classic
   * async LPA is order-dependent by construction; the sync+tie-break
   * form trades a little convergence speed for reproducibility, which
   * is what a data pipeline must have.)
   *
   * Scale shape: per iteration one (src ⋈ label) hash join + a
   * two-level aggregation — (dst, label) counts with map-side partials,
   * then the per-dst `max_by(label, (count, -label))` argmax; no
   * windows over unbounded partitions, lineage truncated by
   * [[fixedRounds]]. Long ids by contract (string keys: densify first via
   * [[Scale.denseIds]]).
   */
  def labelPropagation(pairs: DataFrame, iters: Int = 3): DataFrame =
    fixedRounds(iters) {
      val edges = symmetricEdges(pairs).localCheckpoint(eager = true)
      (edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("label")),
        (lab, _) => edges
          .join(lab, edges("src") === lab("id"))
          .groupBy(col("dst"), col("label"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("dst"))
          .agg(expr("max_by(label, struct(c, -label))").as("label"))
          .select(col("dst").as("id"), col("label")))
    }.last.select(col("id"), col("label").as("community"))

  /**
   * PERSONALIZED (topic-sensitive) weighted PageRank (r20) — the
   * seed-expansion ranking of a crawl: teleport mass lands ONLY on the
   * `seeds` (node) set, so rank measures proximity to the seeds through
   * weighted links ("find hosts like these trusted ones"), not global
   * centrality. Integer-exact like [[pageRankWeighted]] with the same
   * flat per-node teleport constant, restricted to seeds:
   *
   *   r₀(v)   = 1 000 000 for v ∈ seeds, absent otherwise
   *   rₜ₊₁(v) = [v ∈ seeds]·150 000 + Σ_{u→v} (rₜ(u)·17·w) div (20·W_u)
   *
   * The teleport is modeled as a synthetic SELF-edge per seed in an
   * augmented edge frame — one join per iteration against ONE edge
   * list, the identical two-shuffle round as the unweighted op, and an
   * oracle-replayable single-reference recursion (the DuckDB twin
   * carries the same augmented rows). A non-seed node enters the rank
   * frame only when mass first reaches it; seeds self-perpetuate.
   */
  def pageRankPersonalized(edges: DataFrame, seeds: DataFrame,
      iters: Int = 5): DataFrame =
    fixedRounds(iters) {
      val (e, outW) = weightedEdges(edges)
      val sd = seeds.select(col("node")).distinct().localCheckpoint(eager = true)
      val aug = e.join(outW, "src")
        .select(col("src"), col("dst"), col("w"), col("ow"),
          lit(false).as("tele"))
        .unionByName(sd.select(col("node").as("src"), col("node").as("dst"),
          lit(0L).as("w"), lit(0L).as("ow"), lit(true).as("tele")))
        .localCheckpoint(eager = true)
      (sd.select(col("node"), lit(1000000L).as("r")),
        (rank, _) => aug
          .join(rank, aug("src") === rank("node"))
          .select(col("dst"),
            when(col("tele"), lit(150000L))
              .otherwise(expr("(r * 17L * w) div (20L * ow)")).as("c"))
          .groupBy(col("dst"))
          .agg(sum(col("c")).as("r"))
          .select(col("dst").as("node"), col("r")))
    }.last.select(col("node"), col("r").as("rank_micro"))

  /** The delta-maintenance rounds: every round's updated rank frame
    * (node, r), 0..iters — recomputed values where affected, stored
    * history everywhere else (a node in A_t absent from the recomputed
    * frame stays absent — membership is part of the set). */
  private def deltaRanks(oldEdges: DataFrame, history: DataFrame,
      deltaEdges: DataFrame, iters: Int): IndexedSeq[DataFrame] =
    fixedRounds(iters) {
      def norm(df: DataFrame) = df
        .select(col("src"), col("dst"), col("w").cast("long").as("w"))
        .filter(col("w") > 0)
      // r19 barrier diet: of the old 5 eager setup checkpoints only withW
      // (the per-round join probe) keeps a checkpoint — every other setup
      // frame is a bounded expression over the edge lists that folds into
      // its consumer's plan. Each dropped localCheckpoint drops a whole
      // QueryExecution (analysis + optimization + codegen at construction
      // time): a per-job trace measured this query's wall as ~60% DRIVER
      // time, not task time. The old-edge subtree is shared once (oE)
      // instead of being re-planned for allE and oldSrc separately.
      val oE = norm(oldEdges).localCheckpoint(eager = false)
      val dE = norm(deltaEdges).localCheckpoint(eager = false)
      val allE = oE.unionByName(dE)
      val outW = allE.groupBy(col("src")).agg(sum(col("w")).as("ow"))
      val withW = allE.join(outW, "src").localCheckpoint(eager = true)
      val touched = dE.select(col("src")).distinct()
        .localCheckpoint(eager = false)
      // the history side is read once per round (filter iter = t): pin it
      // ONCE so those reads scan materialized rows instead of each
      // replaying the full upstream history recursion (r19 — its producer
      // no longer checkpoints per round either)
      val hist0 = history.localCheckpoint(eager = false)
      // A_0 = NEW seeds (sources that did not exist before): their
      // rank_0 = 1 000 000 is new frame membership, nothing else moves
      // at iter 0.
      val oldSrc = oE.select(col("src")).distinct()
      val aff0 = touched.join(oldSrc, Seq("src"), "left_anti")
        .select(col("src").as("node")).localCheckpoint(eager = false)
      // A_t = outNeighbors(T ∪ A_{t-1}) depends on the edges only, so
      // the affected sets are rounds of their own
      val aff = fixedRounds(iters)((aff0, (a, _) => withW
        .join(touched.unionByName(a.select(col("node").as("src"))).distinct(), "src")
        .select(col("dst").as("node")).distinct()))
      def merged(affRank: DataFrame, t: Int): DataFrame = {
        val histT = hist0.filter(col("iter") === t).select(col("node"), col("r"))
        affRank.unionByName(histT.join(aff(t), Seq("node"), "left_anti"))
      }
      // round t recomputes the ranks of A_t only: the edges into A_t,
      // over the updated rank_{t-1}
      (merged(aff0.select(col("node"), lit(1000000L).as("r")), 0),
        (prev, t) => merged(weightedRound(
          withW.join(aff(t), withW("dst") === aff(t)("node"), "left_semi"), prev), t))
    }

  /**
   * PER-NODE triangle counts + local clustering coefficient
   * 2·T(v) / (deg(v)·(deg(v)−1)) — which nodes sit inside cliques
   * (template/boilerplate families) vs chains (incremental edits).
   * Same degree-ordered wedge enumeration as [[triangleStats]], but the
   * closure join is an INNER join that keeps each closed triangle's
   * corner triple (center u, x, y); exploding the three corners and
   * counting per node credits every triangle to all three vertices
   * exactly once. Left join back to the degree table keeps
   * triangle-free nodes (t = 0); deg < 2 → NULL coefficient (a leaf
   * cannot close anything), guarded, never an ANSI divide-by-zero.
   */
  def localClustering(pairs: DataFrame): DataFrame = {
    val (und, deg, oriented) = orientedEdges(pairs)
    val closed = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.w") < col("e2.w"))
      .select(col("e1.u").as("u"), col("e1.w").as("x"), col("e2.w").as("y"))
      .join(und,
        least(col("x"), col("y")) === col("a") &&
          greatest(col("x"), col("y")) === col("b"),
        "left_semi")
    val perNode = closed
      .select(explode(array(col("u"), col("x"), col("y"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("t"))
    deg.join(perNode, Seq("v"), "left")
      .select(col("v").as("node_id"), col("deg"),
        coalesce(col("t"), lit(0L)).as("triangles"))
      .withColumn("local_cc",
        round(when(col("deg") < 2L, lit(null))
          .otherwise((lit(2L) * col("triangles")).cast("double") /
            (col("deg") * (col("deg") - 1L)).cast("double")), 6))
  }

  /**
   * Triangle census of an undirected pair graph: node/edge counts,
   * exact triangle count, wedge (open-triple) count and the global
   * clustering coefficient 3·T / wedges — "how clique-y are the
   * duplicate clusters" (boilerplate families triangle densely; chain
   * duplications don't), the structural complement of [[pageRank]]'s
   * centrality.
   *
   * Scale shape is the degree-ordered orientation (the standard
   * distributed-triangle trick): each canonical edge points at its
   * (deg, id)-larger endpoint, making the edge set a DAG where every
   * triangle has EXACTLY ONE vertex with both out-edges — wedges
   * enumerate per out-pair of that low-degree center, so the wedge
   * join costs Σ outdeg² ≤ O(m^1.5) instead of the unoriented Σ deg²
   * (a single celebrity hub with degree d would otherwise emit d²
   * wedges; oriented, a hub is everyone ELSE's target and emits ~0).
   * Closure is one equi semi-join back to the canonical edge set.
   * All joins are hash-partitioned equi joins; the three 1-row stat
   * frames cross-join at the end.
   *
   * Counts are exact integers; the coefficient is the only double
   * (|GCC| ≤ 1, 6-dp round engine-safe). Empty graph → zero counts,
   * NULL coefficient, no ANSI throw.
   */
  def triangleStats(pairs: DataFrame): DataFrame = {
    val (und, deg, oriented) = orientedEdges(pairs)
    // out-pairs of each center, each unordered {x, y} once (id order —
    // any fixed order works, the center vertex is already unique per
    // triangle); closed iff the canonical edge {x, y} exists
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.w") < col("e2.w"))
      .select(col("e1.w").as("x"), col("e2.w").as("y"))
    val tri = wedges
      .join(und,
        least(col("x"), col("y")) === col("a") &&
          greatest(col("x"), col("y")) === col("b"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val edgeStats = und.agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(edgeStats).crossJoin(tri)
      .select(
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        col("n_edges"),
        col("n_triangles"),
        coalesce(col("n_wedges"), lit(0L)).as("n_wedges"),
        round(when(col("n_wedges").isNull || col("n_wedges") === 0L, lit(null))
          .otherwise((lit(3L) * col("n_triangles")).cast("double") /
            col("n_wedges").cast("double")), 6).as("clustering_coeff"))
  }

  /** The degree-ordered front of [[localClustering]] and
    * [[triangleStats]]: `und` = canonical undirected edges (a < b, self
    * loops and nulls dropped), checkpointed once because the
    * orientation, the closure probe and the counts all reuse it; `deg` =
    * (v, deg); `oriented` = (u, w), each edge pointing at its (deg,
    * id)-larger endpoint, checkpointed once for the wedge self-join. */
  private def orientedEdges(pairs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val und = pairs
      .select(least(col("id1"), col("id2")).as("a"),
        greatest(col("id1"), col("id2")).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull)
      .distinct()
      .localCheckpoint(eager = true)
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("w")))
          .otherwise(struct(col("b").as("u"), col("a").as("w"))).as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"))
      .localCheckpoint(eager = true)
    (und, deg, oriented)
  }

  /**
   * Bounded k-CORE peel: iteratively delete nodes with degree < k; the
   * survivors are the maximal subgraph where everyone has ≥ k
   * neighbors — on a duplicate-pair graph, the "dup farm" detector (a
   * 3-core is template mass-production; CC alone can't tell a dense
   * farm from a long accidental chain, and triangles can't tell one
   * dense cluster from many). The k-core is UNIQUE, so the result is
   * iteration-order-free by construction.
   *
   * Deterministic BOUNDED form: exactly `iters` peel rounds (a
   * converged peel makes the remaining rounds no-ops, so any `iters` ≥
   * the cascade depth yields the true fixpoint — spec-proven; an
   * unconverged run is still a well-defined partial peel that the
   * DuckDB oracle replays round-for-round with a recursive CTE
   * carrying the iteration counter). Each round is one map-side
   * degree aggregate + two semi-joins of the edge list against the
   * survivor set — all equi-joins hash-partitioned on the node id,
   * nothing quadratic, no broadcast of anything unbounded. An eager
   * `localCheckpoint` truncates lineage every round. Output: surviving
   * node → its degree in the surviving subgraph.
   */
  def kCore(pairs: DataFrame, k: Int, iters: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    var e = symmetricEdges(pairs).filter(col("src") =!= col("dst"))
      .localCheckpoint(eager = true)
    // not [[fixedRounds]]: a round reads its edge state three times (the
    // degree count and both semi-joins), so it must truncate every round
    for (_ <- 1 to iters) {
      val surv = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("kid"))
      e = e.join(surv, col("src") === col("kid"), "left_semi")
        .join(surv, col("dst") === col("kid"), "left_semi")
        .localCheckpoint(eager = true)
    }
    e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("doc_id"), col("deg"))
  }
}
