package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Embedding similarity search over `array<float>` columns.
 *
 * Scale design (100 TB corpus, small-to-medium query set):
 *  - brute-force top-k: the QUERY set is broadcast; the corpus is scanned
 *    once, narrow, never shuffled. Only (query_id, neighbor_id, cos)
 *    candidates shuffle for the per-query top-k.
 *  - LSH (random-hyperplane) path: the corpus is bucketed by a 16-bit
 *    sign signature in one narrow pass, then the join is equi on
 *    bucket — a hash shuffle of ids+buckets, never an all-pairs scan.
 *
 * All floating-point folds are explicit left-folds over the vector order,
 * so any engine (the DuckDB oracle included) reproduces bit-identical
 * doubles.
 */
object Similarity {

  /** float vector → double vector (widening is exact). r18: a native
    * element cast — codegen'd, vs the interpreted per-element transform
    * HOF this used to be; same values (float→double widening). */
  def toDouble(v: Column): Column = v.cast("array<double>")

  /** Left-fold Σ aᵢ·bᵢ — codegen'd custom expression (see
    * [[graft.functions.DotProduct]]); identical fold order to the
    * interpreted HOF form and the oracle's `list_reduce`. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.DotProduct(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** Left-fold L2 norm. */
  def l2norm(v: Column): Column = sqrt(dot(v, v))

  /** cosine similarity rounded to 6 dp (deterministic cross-engine). */
  def cosine6(a: Column, aNorm: Column, b: Column, bNorm: Column): Column =
    round(dot(a, b) / (aNorm * bNorm), 6)

  /** One-kernel argmax-cosine seed assignment — see
    * [[graft.functions.NearestSeed]]. */
  def nearestSeed(v: Column, nrm: Column, seedVecs: Column,
      seedNorms: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.NearestSeed(
        org.apache.spark.sql.graft.ColumnBridge.expression(v),
        org.apache.spark.sql.graft.ColumnBridge.expression(nrm),
        org.apache.spark.sql.graft.ColumnBridge.expression(seedVecs),
        org.apache.spark.sql.graft.ColumnBridge.expression(seedNorms)))

  /** Subspace-mode [[nearestSeed]] against an AUGMENTED codeword matrix
    * (r18): scores seed p as dot(v[offset..offset+len), seed_p[0..len))
    * + seed_p(len) — bit-identical to the old per-row
    * concat(slice(v), [1.0]) query against [[augSeed]] matrices, with
    * the interpreted Slice/Concat/Transform per-row allocations folded
    * into the kernel. Unit norms (the aug trick's contract). */
  private def nearestSeedSub(v: Column, seedVecs: Column,
      offset: Int, len: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.NearestSeed(
        org.apache.spark.sql.graft.ColumnBridge.expression(v),
        org.apache.spark.sql.graft.ColumnBridge.expression(lit(1.0)),
        org.apache.spark.sql.graft.ColumnBridge.expression(seedVecs),
        org.apache.spark.sql.graft.ColumnBridge.expression(
          transform(seedVecs, _ => lit(1.0))),
        subOffset = offset, subLen = len, augBias = true))

  /** Element-wise a/s with codegen — see
    * [[graft.functions.ArrayDivScalar]]. */
  private[graft] def arrayDiv(a: Column, s: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.ArrayDivScalar(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(s)))

  /** Element-wise a±b with codegen — see [[graft.functions.ZipArith]]. */
  private[graft] def zipAdd(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.ZipArith(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b), add = true))
  private[graft] def zipSub(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.ZipArith(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b), add = false))

  /** corpus projected to (id, v: array<double>, nrm). Narrow. */
  def prepared(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = toDouble(col(vecCol))
    emb.select(col(idCol).as("vec_id"), v.as("v")).withColumn("nrm", l2norm(col("v")))
  }

  /** Exact-duplicate collapse over a [[prepared]] corpus: every vector
    * maps to the MIN vec_id among byte-identical vectors (`rep_id`).
    * One window over a vector-content exchange — the pre-pass that keeps
    * duplicate-heavy corpora out of quadratic pair generation: m copies
    * of a vector contribute m²-ish SRP candidate pairs downstream, but
    * only ONE representative needs to participate (identical vectors
    * always verify at cosine 1, so collapse is exactness-preserving for
    * any connectivity consumer — see [[Dedup.embedClustersCollapsed]]).
    * Returns (vec_id, rep_id, v, nrm); representatives are the rows with
    * vec_id == rep_id. */
  def exactDupReps(corpus: DataFrame): DataFrame =
    corpus.withColumn("rep_id",
      min(col("vec_id")).over(Window.partitionBy(col("v"))))

  /**
   * Brute-force exact top-k: for each query vector, the k nearest corpus
   * vectors by cosine (desc), ties broken by smallest neighbor id.
   * `queries` is broadcast; corpus scan is shuffle-free.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topKByCos(queryCosines(corpus, queries), k)

  /** Every (query, other corpus vector) pair with its rounded cosine:
    * the query set broadcast, the corpus scan unshuffled. */
  private def queryCosines(corpus: DataFrame, queries: DataFrame): DataFrame =
    corpus
      .join(broadcast(asQueries(queries)), col("vec_id") =!= col("q_id"))
      .select(
        col("q_id"), col("vec_id").as("neighbor_id"),
        cosine6(col("v"), col("nrm"), col("qv"), col("qnrm")).as("cos"))

  /** A (vec_id, v, nrm) frame as the query side (q_id, qv, qnrm). */
  private def asQueries(df: DataFrame): DataFrame =
    df.select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))

  /** Per query, the k rows of greatest `cos`, ties to the smallest id. */
  private def topKByCos(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /**
   * HARD-negative mining for contrastive training: per query, the k
   * pool vectors MOST similar to it that are not the query itself and
   * not among its known positives — the negatives that actually move a
   * contrastive loss, vs the random draws of
   * [[graft.ops.TextOps.negativeSample]]. Positives are excluded
   * BEFORE the top-k window, so every query yields k eligible
   * negatives. Same plan shape as [[bruteForceTopK]] (query set
   * broadcast, corpus unshuffled, per-query window); beyond single-node
   * scale, pre-filter the corpus with [[annIvf]]/[[annLsh]] buckets and
   * hand the candidate slice to this exact ranker.
   */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      positives: DataFrame, k: Int): DataFrame =
    topKByCos(queryCosines(corpus, queries)
      .join(positives.select(col("q_id"), col("neighbor_id")),
        Seq("q_id", "neighbor_id"), "left_anti"), k)

  /**
   * MARGIN-BASED parallel-pair mining (the bitext scorer of Artetxe &
   * Schwenk 2019, "Margin-based parallel corpus mining"): for each
   * query-side vector, its best candidate-side match plus the absolute
   * margin cos(best) − cos(runner-up); a match counts only when margin
   * ≥ minMargin. Plain cosine thresholds are dominated by HUBNESS —
   * some vectors sit near everything and win every query — while a
   * margin demands the match beat its own competition. Queries with
   * fewer than two candidates have no margin and are excluded
   * (documented: a 1-candidate "mining" problem is a lookup).
   *
   * Scale shape = [[bruteForceTopK]]: bounded query side broadcast
   * against the unshuffled corpus, per-query rows cut to the top 2 by
   * the rank filter before the single q_id exchange aggregates them;
   * compose with the ANN bucketing (annLsh) as the prefilter beyond
   * single-node, exactly as documented for [[hardNegatives]].
   */
  def marginMine(corpus: DataFrame, querySide: Column,
      minMargin: Double): DataFrame = {
    val q = asQueries(corpus.filter(querySide))
    val scored = corpus.filter(!querySide)
      .join(broadcast(q), lit(true))
      .select(col("q_id"), col("vec_id").as("match_id"),
        cosine6(col("v"), col("nrm"), col("qv"), col("qnrm")).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("match_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .groupBy(col("q_id"))
      .agg(
        max(when(col("rn") === 1, col("match_id"))).as("match_id"),
        max(when(col("rn") === 1, col("cos"))).as("cos_best"),
        max(when(col("rn") === 2, col("cos"))).as("cos_second"))
      .withColumn("margin", round(col("cos_best") - col("cos_second"), 6))
      .filter(col("margin") >= minMargin)
  }

  /** All pairs (id1<id2) with cosine ≥ threshold — the exact near-dup
    * baseline; use the LSH path beyond single-node scale. The stream side
    * is repartitioned to the session's parallelism: a small corpus often
    * arrives as ONE input split, which would pin the O(n²) loop on a
    * single core. */
  def nearDupPairs(corpus: DataFrame, threshold: Double): DataFrame = {
    val parallelism = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val a = corpus.repartition(parallelism)
      .select(col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
    val b = corpus.select(col("vec_id").as("id2"), col("v").as("v2"), col("nrm").as("n2"))
    a.join(b, col("id1") < col("id2"))
      .select(col("id1"), col("id2"), cosine6(col("v1"), col("n1"), col("v2"), col("n2")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /**
   * Banded SRP (signed-random-projection) candidate pairs: each vector is
   * signed against `planes` md5-seeded hyperplanes in ONE narrow
   * projection, the sign string is cut into `planes / bandBits` bands,
   * and candidates are the id pairs agreeing exactly on at least one
   * band. Only (vec_id, band_key) rows shuffle — both self-join sides
   * hang off the SAME repartition(band_key) exchange (ReuseExchange), so
   * the signature pipeline runs once and the vectors themselves never
   * move. A pair colliding in several bands is deduped.
   *
   * Scale: per band the join cost is Σ bucket², with 2^bandBits buckets
   * per band — bounded cells, embarrassingly parallel, linear shuffle
   * volume. The recall/pruning trade is set by (planes, bandBits) against
   * the dup threshold: at cos ≥ 0.9 a 4-bit band agrees with
   * p=(1-acos(.9)/π)⁴≈0.57 and the bulk near cos 0 with p≈0.06 — strong
   * pruning; at a threshold deep in the bulk (0.4 on isotropic data) no
   * sublinear scheme discriminates and recall must be bought with bands
   * (64/4 here ⇒ measured 0.93 on the test corpus — see SimilaritySpec's
   * recall audit vs the all-pairs truth).
   */
  /**
   * n-AWARE SRP BAND ARITY — the bucket-occupancy lever sized to the
   * corpus, so the near-dup/clustering family's DEFAULT survives a
   * scale-up instead of bending quadratic (the r16 sf1 soak measured
   * bandBits=4 at 36.5× wall for ×10 distinct vectors — per-band
   * occupancy n/16 ⇒ ~n²/16 candidate pairs — vs 10.3× at b=8).
   *
   * Rule (spec-pinned): `raw = clamp(4, ⌈⌈log₂ n⌉ / 2⌉, 16)`, rounded
   * UP to the smallest divisor of `planes` ≥ raw (the band cut must
   * tile the signature). 2^bandBits band values then grow with n
   * exactly like IVF's kCells: n=500 → 8, n=20k → 8, n=1M → 16,
   * n=10⁹ → 16 (the 16-bit cap = 65k buckets per band; beyond that
   * occupancy grows linearly again, the documented ceiling — raise
   * `planes` and the cap together for a trillion-row corpus). Keeping
   * `planes` fixed means a larger corpus gets FEWER, finer bands:
   * recall per band-count at a fixed threshold is the standard
   * (1-acos(c)/π)^bandBits trade the [[srpCandidatePairs]] scaladoc
   * derives — at dedup-realistic thresholds (≥ 0.9) 8 bands of 8 bits
   * still read ~0.94 recall, while sub-bulk thresholds on isotropic
   * data were never sublinear-discriminable at ANY arity.
   */
  def bandBitsFor(n: Long, planes: Int = 64): Int = {
    require(planes >= 4, s"planes must be >= 4, got $planes")
    // ceil(log2 n) via the bit trick; n <= 1 has nothing to pair
    val lg = if (n <= 1L) 1 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    val raw = math.max(4, math.min(16, (lg + 1) / 2))
    (raw to math.min(16, planes)).find(planes % _ == 0).getOrElse(
      (4 to math.min(16, planes)).filter(planes % _ == 0).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"planes=$planes has no band arity in [4,16]")))
  }

  def srpCandidatePairs(corpus: DataFrame, planes: Int, bandBits: Int, dim: Int): DataFrame = {
    require(planes % bandBits == 0, s"planes $planes not a multiple of bandBits $bandBits")
    val bands = planes / bandBits
    val sigs = corpus.select(col("vec_id"), lshBucket(col("v"), planes, dim).as("sig"))
    val banded = sigs
      .select(col("vec_id"), explode(array((0 until bands).map { i =>
        concat(lit(s"$i:"), substring(col("sig"), i * bandBits + 1, bandBits))
      }: _*)).as("band_key"))
      .repartition(col("band_key"))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band_key") === col("b.band_key") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
      .distinct()
  }

  /**
   * Near-duplicate pairs through SRP banding: exact cosine is computed
   * ONLY for banded candidates — the corpus joins the candidate list
   * twice by id, never a copy of itself. The id-joins are left to
   * Catalyst: a corpus that fits the broadcast threshold broadcasts
   * (gate scale — the candidate stream never shuffles); a 100 TB corpus
   * shuffle-joins on id with both probes reusing one exchange. A forced
   * repartition here measurably LOST ~0.3s at gate scale by denying the
   * broadcast. Candidate generation misses a pair only when all bands
   * disagree; [[nearDupPairs]] stays as the all-pairs truth the recall
   * spec audits against.
   *
   * Cost model (measured at sf0.1, n=2000, dim=64): at a
   * threshold in the similarity BULK (0.4 on isotropic data) banding
   * emits 1.28M of the 2.0M possible pairs — 64% candidate density — so
   * the LSH path is inherently ≈ all-pairs work plus banding overhead
   * (~2.0s vs 0.8s steady-state). That is not a plan defect: no
   * sublinear candidate scheme discriminates below the bulk. The payoff
   * is at dedup-realistic thresholds (≥0.9) where per-band collision
   * probability for non-dups collapses (0.57⁴≈0.1 per 4-bit band vs
   * 0.63⁴≈0.16 at 0.4 — and near 0.06 for the orthogonal bulk), giving
   * sub-quadratic candidates at corpus scale.
   */
  def nearDupPairsLsh(
      corpus: DataFrame, threshold: Double,
      planes: Int, bandBits: Int, dim: Int): DataFrame = {
    val cands = srpCandidatePairs(corpus, planes, bandBits, dim)
    val v1 = corpus.select(col("vec_id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
    val v2 = corpus.select(col("vec_id").as("id2"), col("v").as("v2"), col("nrm").as("n2"))
    cands.join(v1, Seq("id1")).join(v2, Seq("id2"))
      .select(col("id1"), col("id2"),
        cosine6(col("v1"), col("n1"), col("v2"), col("n2")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /**
   * Symmetric int8 quantization: per-vector scale = max|x|/127, elements
   * round(x/scale) ∈ [-127, 127]. 4× less storage + memory bandwidth for
   * the 100 TB ANN corpus (dequantize-on-read or integer dot kernels).
   * Scale math is plain IEEE arithmetic — any engine reproduces the
   * exact same bytes.
   */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = toDouble(col(vecCol))
    emb
      .select(col(idCol).as("vec_id"), v.as("v"))
      .withColumn("sc", array_max(transform(col("v"), x => abs(x))) / 127.0)
      .select(
        col("vec_id"),
        round(col("sc"), 6).as("scale"),
        transform(col("v"), x =>
          when(col("sc") > 0, round(x / col("sc")).cast("int")).otherwise(0)).as("qvec"))
  }

  /**
   * Brute-force top-k over the INT8-QUANTIZED corpus — the 4×-less-
   * memory-bandwidth ANN scan. Cosine of quantized vectors needs no
   * dequantization: the per-vector scales cancel
   * (cos(s·q) = Σq1q2 / (|q1||q2|)), so the whole computation is
   * integer-derived — exactly representable in doubles and bit-identical
   * in every engine by construction. Query set broadcasts; the corpus
   * scan stays narrow.
   */
  def annInt8TopK(
      emb: DataFrame, idCol: String, vecCol: String,
      queryFilter: Column, k: Int): DataFrame = {
    val q8 = quantizeInt8(emb, idCol, vecCol)
      .select(col("vec_id"), toDouble(col("qvec")).as("qv"))
      .withColumn("qnrm", l2norm(col("qv")))
    val queries = q8.filter(queryFilter)
      .select(col("vec_id").as("q_id"), col("qv").as("qqv"), col("qnrm").as("qqnrm"))
    val scored = q8
      .join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(
        col("q_id"), col("vec_id").as("neighbor_id"),
        cosine6(col("qv"), col("qnrm"), col("qqv"), col("qqnrm")).as("qcos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("neighbor_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Augment a SEED subvector for the argmax-dot == argmin-L2 trick:
    * c → c ++ [−(c·c)/2], so dot([x,1], aug(c)) = x·c − |c|²/2, whose
    * argmax over c is the L2-nearest c (|x|² is constant per row).
    * Lets the cosine-argmax [[graft.functions.NearestSeed]] kernel
    * (with norms pinned to 1) do EUCLIDEAN codeword assignment — the
    * right metric for PQ reconstruction, where cosine would ignore
    * subvector magnitude. */
  private def augSeed(sv: Column): Column =
    concat(sv, array(-dot(sv, sv) / lit(2.0)))

  /** query/subvector side of the trick: x → x ++ [1.0]. */
  private def augQuery(sv: Column): Column = concat(sv, array(lit(1.0)))

  /** Width of each of the m subvectors of a dim-wide vector. */
  private def subDim(dim: Int, m: Int): Int = {
    require(m >= 1 && dim % m == 0, s"dim ($dim) must be a multiple of m ($m)")
    dim / m
  }

  /** The s-th `sub`-wide subvector of v. */
  private def subv(v: Column, s: Int, sub: Int): Column = slice(v, s * sub + 1, sub)

  /** PQ codebooks (s, cell, cw_scaled) folded into ONE broadcastable
    * row: per subspace s, `cells_s` (its cell ids) and `<cwName>_s`
    * (their micro-descaled codewords, each passed through `shape`). */
  private def codebookRow(codebooks: DataFrame, m: Int, cwName: String = "cws",
      shape: Column => Column = c => c): DataFrame =
    codebooks
      .agg(sort_array(collect_list(struct(col("s"), col("cell"),
        col("cw_scaled")))).as("cb"))
      .select((0 until m).flatMap { s =>
        val mine = filter(col("cb"), x => x.getField("s") === s)
        Seq(
          transform(mine, x => x.getField("cell")).as(s"cells_$s"),
          transform(mine, x =>
            shape(transform(x.getField("cw_scaled"), e => e / 1000000.0)))
            .as(s"${cwName}_$s"))
      }: _*)

  /** The subspace-s codeword a row's `code_s` names, looked up in the
    * [[codebookRow]] columns. */
  private def codeword(s: Int): Column =
    element_at(col(s"cws_$s"),
      array_position(col(s"cells_$s"), col(s"code_$s")).cast("int"))

  /** Refit centroids as plain double vectors (cell, cvec) — kCells rows,
    * broadcast wherever joined. */
  private def cellCentroids(refit: DataFrame): DataFrame =
    refit.select(col("cell"),
      transform(col("centroid_scaled"), x => x / 1000000.0).as("cvec"))

  /** The ADC tail of every PQ search: over candidate rows carrying the
    * query (qv, qnrm) and the [[codebookRow]] columns, score each by
    * q·x̃ / (|q|·|x̃|) with x̃'s s-th subvector `rec(s)`, drop zero-norm
    * reconstructions (`__recnrm` — they have no cosine, and a null score
    * would otherwise drop out of the top-k silently), and keep the top
    * k per query by (score desc, id asc). */
  private def adcTopK(cand: DataFrame, rec: Int => Column, m: Int, sub: Int,
      k: Int): DataFrame = {
    val num = (0 until m).map(s => dot(subv(col("qv"), s, sub), rec(s))).reduce(_ + _)
    val recNrm = sqrt((0 until m).map(s => dot(rec(s), rec(s))).reduce(_ + _))
    val scored = cand
      .withColumn("__recnrm", recNrm)
      .filter(col("__recnrm") > 0)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(num / (col("qnrm") * col("__recnrm")), 6).as("score_pq"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score_pq").desc, col("neighbor_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /**
   * PRODUCT QUANTIZATION (Jégou et al., TPAMI 2011): split each d-dim
   * vector into `m` subspaces of d/m dims, train a k-codeword codebook
   * per subspace (deterministic md5-order seed draw + ONE Lloyd refit —
   * the [[refitQuantizer]] recipe per subspace), and encode every
   * vector as m small integers. Storage per vector: m code bytes
   * (k ≤ 256) vs d·4 float bytes — 64× at (d=64, m=4), vs
   * [[quantizeInt8]]'s 4×; the codebooks are m·k·(d/m) doubles TOTAL,
   * shared. This is the 100 TB vector-table answer: the corpus column
   * a search actually scans shrinks to the codes.
   *
   * Scale shape: the seed draw is a k-row TakeOrdered; both assignment
   * passes fold the codebooks into ONE broadcast row and run m
   * [[graft.functions.NearestSeed]] kernel calls per vector inside the
   * scan (argmin L2 via [[augSeed]] — only (vec_id, m codes) leaves);
   * the refit is ONE exchange carrying each vector exactly once in
   * subvector pieces ((vec_id, s, subv) explode — m× rows but 1/m
   * payload each), hash-aggregated per (s, cell) by
   * [[graft.functions.VectorMean]]. Codewords are micro-scaled
   * integers (engine-exact).
   *
   * Returns (codes, codebooks): codes = (vec_id, code_0..code_{m-1});
   * codebooks = (s, cell, cw_scaled). Null/empty vectors drop (the
   * [[refitQuantizer]] contract); `dim` must match the data and be
   * divisible by m.
   */
  def quantizePq(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int): (DataFrame, DataFrame) = {
    require(m >= 1 && dim >= m && dim % m == 0,
      s"dim ($dim) must be a positive multiple of m ($m)")
    require(k >= 1 && k <= 256, s"k must be in [1,256] (one code byte), got $k")
    val sub = dim / m
    // r18: scan fan-out before the per-row m-subspace assignment and
    // encode kernels (see [[refitQuantizerFull]]); identity at scale
    val base = graft.ops.Scale.fanOutSmallScan(emb
      .select(col(idCol).as("vec_id"), toDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0), col("vec_id"))
    // deterministic seed rows: k smallest (md5(id), id) — one draw
    // shared by every subspace (each seed contributes its s-th slice)
    val seedW = Window.orderBy(col("h").asc, col("vec_id").asc)
    val seeds = base
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h").asc, col("vec_id").asc).limit(k)
      .withColumn("cell", row_number().over(seedW) - 1)
      .select(col("cell"), col("v"))
    val seedRow = seeds
      .agg(sort_array(collect_list(struct(col("cell"), col("v")))).as("sl"))
      .select((0 until m).map { s =>
        transform(col("sl"), x =>
          augSeed(subv(x.getField("v"), s, sub))).as(s"svs_$s")
      }: _*)
    def assignCols(matCol: Int => Column): Seq[Column] = (0 until m).map { s =>
      nearestSeedSub(col("v"), matCol(s), s * sub, sub).as(s"c_$s")
    }
    val assign1 = base.crossJoin(broadcast(seedRow))
      .select(col("vec_id") +: col("v") +: assignCols(s => col(s"svs_$s")): _*)
    // refit: one exchange, each vector once in m subvector pieces
    val exploded = assign1.select(col("vec_id"), explode(array((0 until m).map { s =>
        struct(lit(s).as("s"), subv(col("v"), s, sub).as("sv"), col(s"c_$s").as("cell"))
      }: _*)).as("e"))
      .select(col("e.s").as("s"), col("e.sv").as("sv"), col("e.cell").as("cell"))
    val codebooks = exploded
      .groupBy(col("s"), col("cell"))
      .agg(graft.functions.GraftFunctions.vector_mean(col("sv")).as("mean"))
      .select(col("s"), col("cell"),
        microScaled(col("mean")).as("cw_scaled"))
    // encode against the REFIT codewords (cells can be sparse — carry
    // the cell-id list per subspace and map kernel position -> cell);
    // the shared [[pqEncodeAgainst]] scan, so incremental appends are
    // bit-identical to the trainer's own encode pass
    (pqEncodeAgainst(base.select(col("vec_id"), col("v")), codebooks,
      dim, m), codebooks)
  }

  /**
   * Asymmetric-distance PQ search (ADC): queries stay FULL precision,
   * the corpus is scanned as codes only — score(q, x) =
   * Σ_s q_sub_s · codeword[s][code_s(x)] over the RECONSTRUCTED vector,
   * normalized by |q|·|x̃| (the reconstruction's norm, computed from
   * the same looked-up codewords) so the approximate ranking is a
   * cosine ranking, matching the exact scans used everywhere else —
   * unnormalized inner product would re-rank by corpus norm and tank
   * recall (measured: 0.04 → 0.84 recall@5 on the gate embeddings).
   * The codebooks fold into one broadcast row, the query set
   * broadcasts (contract-bounded, the [[bruteForceTopK]] shape), and
   * the corpus scan reads m ints per row instead of d floats — the
   * memory-bandwidth win IS the point at 100 TB. Top-k per query by
   * (approx score desc, id asc). At real scale, compose with the IVF
   * cells ([[buildIvfIndex]]) so each query scans ~N/k codes, not N.
   */
  def annPq(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
      dim: Int, m: Int, k: Int): DataFrame = {
    val sub = subDim(dim, m)
    val cbRow = codebookRow(codebooks, m)
    // zero-norm guards (r17, closing the r14 ADVICE finding): a
    // zero-norm query or an all-zero reconstruction has no cosine — the
    // old plan let the null score drop SILENTLY out of the top-k. Both
    // sides now filter explicitly (the same nrm > 0 contract the
    // unit-corpus path applies), so exclusion is a stated rule, not a
    // null artifact.
    val q = normedQueries(queries)
    adcTopK(codes.crossJoin(broadcast(cbRow))
      .join(broadcast(q), col("vec_id") =!= col("q_id")), codeword, m, sub, k)
  }

  /**
   * Recall@k audit for the PQ path — [[annRecallAudit]]'s shape with
   * the ADC scan as the candidate side: per query, how many of the
   * EXACT top-k brute-force neighbors the PQ top-k finds. THE read
   * before trusting m/k codebook sizing at scale (more subspaces /
   * codewords = better recall, less compression).
   */
  def annPqRecallAudit(emb: DataFrame, idCol: String, vecCol: String,
      queryFilter: Column, dim: Int, m: Int, kCodes: Int,
      topK: Int): DataFrame = {
    val corpus = prepared(emb, idCol, vecCol)
    val exact = exactTopK(corpus, queryFilter, topK)
    // quantize the UNIT-normalized corpus (standard for cosine
    // retrieval: codewords then spend their precision on direction,
    // which is all cosine ranks on — magnitude is divided out anyway)
    val unit = unitVectors(corpus)
    val (codes, codebooks) = quantizePq(unit, "vec_id", "v", dim, m, kCodes)
    val pq = annPq(codes, codebooks,
      unit.filter(queryFilter).select(col("vec_id"), col("v")),
      dim, m, topK)
      .select(col("q_id"), col("neighbor_id"))
    recallAgainst(exact, pq)
  }

  /** The exact side of every recall audit: (q_id, neighbor_id) of each
    * query's brute-force top k. */
  private def exactTopK(corpus: DataFrame, queryFilter: Column, k: Int): DataFrame =
    bruteForceTopK(corpus, corpus.filter(queryFilter), k)
      .select(col("q_id"), col("neighbor_id"))

  /** Per query, how many of its [[exactTopK]] neighbors the candidate
    * pairs `cand` (q_id, neighbor_id) contain: (q_id, k, n_hit, recall). */
  private def recallAgainst(exact: DataFrame, cand: DataFrame): DataFrame =
    exact.join(cand.withColumn("hit", lit(1L)), Seq("q_id", "neighbor_id"), "left_outer")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("q_id"), col("k"), col("n_hit"),
        round(col("n_hit").cast("double") / col("k").cast("double"), 6).as("recall"))

  /** Unit-normalized (vec_id, v) of a [[prepared]] corpus; zero-norm
    * vectors drop (they have no direction). */
  private def unitVectors(corpus: DataFrame): DataFrame =
    corpus
      .filter(col("nrm") > 0)
      .select(col("vec_id"), arrayDiv(col("v"), col("nrm")).as("v"))

  /** A (vec_id, v) query batch as (q_id, qv, qnrm), zero-norm queries
    * dropped: they have no cosine. */
  private def normedQueries(queries: DataFrame): DataFrame =
    queries
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .withColumn("qnrm", l2norm(col("qv")))
      .filter(col("qnrm") > 0)

  /**
   * ADC RE-RANK refinement (r20, the r17 verdict's #4 — the FAISS
   * `refine` stage, Jégou et al. TPAMI 2011 §V.C): the last rung of
   * the PQ serving ladder. [[annPq]]'s normalized ADC proposes the
   * top-`c` candidates per query (c ≥ topK, typically 2-8× topK);
   * those candidates' FULL vectors are fetched and re-ranked by EXACT
   * cosine to the final top-k. The compressed scan keeps its
   * memory-bandwidth win (m bytes/row over the whole corpus), and the
   * exactness lost to quantization is bought back for a BOUNDED
   * candidate fetch: the full-width reads are |Q|·c rows, never N.
   *
   * Scale shape: the candidate id set (|Q|·c, contract-bounded like
   * the query set itself) BROADCASTS against the corpus scan — the
   * fetch is a broadcast semi-join, no corpus shuffle; rescoring and
   * the final per-query window act on |Q|·c rows. Measured on the
   * gate corpus at 32× compression (m8k32): recall@5 0.16 raw ADC →
   * with c = 4·topK re-rank, most of the exact ranking returns (the
   * ladder is pinned monotone in c by spec).
   */
  def annPqRerank(codes: DataFrame, codebooks: DataFrame,
      corpus: DataFrame, queries: DataFrame,
      dim: Int, m: Int, topK: Int, c: Int): DataFrame = {
    require(c >= topK, s"candidate count c ($c) must be >= topK ($topK)")
    val cand = annPq(codes, codebooks, queries, dim, m, c)
      .select(col("q_id"), col("neighbor_id"))
    val full = corpus
      .select(col("vec_id").as("neighbor_id"), col("v").as("nv"))
      .withColumn("nnrm", l2norm(col("nv")))
      .filter(col("nnrm") > 0)
    val q = normedQueries(queries)
    val rescored = full
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("neighbor_id"),
        cosine6(col("qv"), col("qnrm"), col("nv"), col("nnrm"))
          .as("score"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    rescored.withColumn("rn", row_number().over(w)).filter(col("rn") <= topK)
  }

  /**
   * Recall@k audit for the RE-RANKED PQ path — [[annPqRecallAudit]]
   * with the refine stage between the ADC scan and the comparison:
   * quantize the unit corpus, ADC-propose top-c, exact-cosine re-rank
   * to top-k, score against the brute-force truth. THE read for
   * choosing c (the recall/fetch-cost knob) at a fixed compression.
   */
  def annPqRerankRecallAudit(emb: DataFrame, idCol: String, vecCol: String,
      queryFilter: Column, dim: Int, m: Int, kCodes: Int,
      topK: Int, c: Int): DataFrame = {
    val corpus = prepared(emb, idCol, vecCol)
    val exact = exactTopK(corpus, queryFilter, topK)
    val unit = unitVectors(corpus)
    val (codes, codebooks) = quantizePq(unit, "vec_id", "v", dim, m, kCodes)
    val rr = annPqRerank(codes, codebooks, unit,
      unit.filter(queryFilter).select(col("vec_id"), col("v")),
      dim, m, topK, c)
      .select(col("q_id"), col("neighbor_id"))
    recallAgainst(exact, rr)
  }

  /** Deterministic pseudo-random hyperplane weight: first 8 hex chars of
    * md5("p_d") as a uint32, mapped to [-0.5, 0.5). Any engine can replay
    * this (md5 + hex arithmetic), so LSH buckets are reproducible. */
  def planeWeight(p: Int, d: Int): Double = graft.functions.PlaneMatrix.weight(p, d)

  /** '0'/'1' bucket signature from `planes` random hyperplanes — ONE
    * native kernel ([[graft.functions.SrpSignature]]) instead of
    * `planes` separate dot expressions; bit-identical fold order, so
    * buckets and the oracle replay are unchanged. */
  def lshBucket(v: Column, planes: Int, dim: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.SrpSignature(
        org.apache.spark.sql.graft.ColumnBridge.expression(v), planes, dim))

  /** A double vector as exact integer micro-units (×10⁶, rounded) —
    * integral values are bit-identical across engines. */
  private def microScaled(v: Column): Column =
    transform(v, x => round(x * 1000000).cast("long"))

  /**
   * Element-wise mean vector per label — the IVF coarse-quantizer step.
   * Returned SCALED to integer micro-units (×10⁶, rounded): integral
   * values are bit-identical across engines, so cell assignment — and
   * therefore ANN results — are reproducible everywhere. ONE shuffle via
   * the [[graft.functions.VectorMean]] aggregate (O(dim) map-side state)
   * — the posexplode → per-position avg → regroup form needs two
   * shuffles and ships dim rows per input row.
   */
  def centroids(emb: DataFrame, labelCol: String, vecCol: String): DataFrame =
    emb
      .select(col(labelCol).as("label"), toDouble(col(vecCol)).as("v"))
      // drop null/empty vectors BEFORE grouping: a label whose vectors
      // are all null/empty then produces NO row — the same group-dropping
      // the posexplode form (and the DuckDB unnest oracle) exhibits,
      // where an aggregate would emit a (label, null) row
      .filter(col("v").isNotNull && size(col("v")) > 0)
      .groupBy(col("label"))
      .agg(graft.functions.GraftFunctions.vector_mean(col("v")).as("mean"))
      .select(
        col("label"),
        microScaled(col("mean")).as("centroid_scaled"))

  /**
   * COMPAT variant — IVF ANN over a FROZEN label quantizer: assign each
   * query to its nearest centroid cell (cosine, deterministic
   * micro-unit centroids), then search ONLY that cell. The name says
   * the contract: `labelCol` PINS the cell count at the label arity,
   * and a pinned quantizer does not scale with the corpus.
   *
   * The 100 TB shape: the tiny centroid table broadcasts twice; the
   * corpus never shuffles (cell filter rides the broadcast join) — and
   * with the corpus bucketed by cell
   * ([[graft.sources.Tables.writeBucketed]]) even the scan prunes.
   *
   * SCALE CONTRACT (measured, Scale100Probe): per-query work is one
   * cell's slice, |corpus| / |cells|. Growing corpus and query set ×N
   * under this fixed quantizer is ~N² candidate work by construction
   * (measured: 38× wall at ×100/×100, decade 22.5× — the
   * fixed-quantizer bend). THE FRONT DOOR for new code is
   * [[buildIvfIndex]] + [[annIvfSearch]] (refit quantizer, k grows
   * with the corpus, measured decade 2.5× with 1.68 s amortized search
   * at ×100); use this variant only when the cells MUST be existing
   * labels (e.g. routing by a fixed taxonomy).
   */
  def annIvfFrozenLabels(
      emb: DataFrame, idCol: String, vecCol: String, labelCol: String,
      queryFilter: Column): DataFrame = {
    val c = emb
      .select(col(idCol).as("vec_id"), toDouble(col(vecCol)).as("v"), col(labelCol).as("label"))
      .withColumn("nrm", l2norm(col("v")))
    val cents = centroids(emb, labelCol, vecCol)
      .select(
        col("label").as("c_label"),
        transform(col("centroid_scaled"), x => x / 1000000.0).as("cv"))
      .withColumn("cnrm", l2norm(col("cv")))
    val q = asQueries(c.filter(queryFilter))
    val assignW = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("c_label").asc)
    val assigned = q.join(broadcast(cents))
      .select(
        col("q_id"), col("qv"), col("qnrm"), col("c_label"),
        cosine6(col("qv"), col("qnrm"), col("cv"), col("cnrm")).as("ccos"))
      .withColumn("rn", row_number().over(assignW)).filter(col("rn") === 1)
      .select(col("q_id"), col("qv"), col("qnrm"), col("c_label").as("cell"))
    val searchW = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    c.join(broadcast(assigned), col("label") === col("cell") && col("vec_id") =!= col("q_id"))
      .select(
        col("q_id"), col("cell"), col("vec_id").as("neighbor_id"),
        cosine6(col("v"), col("nrm"), col("qv"), col("qnrm")).as("cos"))
      .withColumn("rn", row_number().over(searchW)).filter(col("rn") === 1).drop("rn")
  }

  /** Deprecated shim — `annIvf` was the obvious name while it carried
    * the frozen-label quantizer, so the obvious name led straight to
    * the documented ~N² scale bend. New code: [[buildIvfIndex]] +
    * [[annIvfSearch]] (or [[annIvfRefit]] for one-shot build+search).
    * Row-identical to [[annIvfFrozenLabels]] (spec-pinned). */
  @deprecated("use buildIvfIndex + annIvfSearch (refit quantizer); " +
    "annIvfFrozenLabels keeps this frozen-label behavior", "r16")
  def annIvf(
      emb: DataFrame, idCol: String, vecCol: String, labelCol: String,
      queryFilter: Column): DataFrame =
    annIvfFrozenLabels(emb, idCol, vecCol, labelCol, queryFilter)

  /**
   * Data-driven IVF coarse quantizer: k deterministic seeds (the k
   * vectors with smallest (md5(id), id) — an order-statistics draw any
   * engine replays), every vector assigned to its nearest seed by
   * rounded cosine, then ONE [[graft.functions.VectorMean]] refit pass
   * per cell (one Lloyd iteration). This is the scale fix for
   * [[annIvf]]'s frozen label quantizer: `k` grows with the corpus
   * (√N is the classic choice), so per-cell population stays ~N/k
   * bounded instead of bending quadratic at decade growth.
   *
   * Scale shape: the k seeds fold into ONE broadcast row (a seed
   * MATRIX), and each vector's argmax-cosine assignment is ONE
   * [[graft.functions.NearestSeed]] kernel call — k·dim multiply-adds
   * in a tight loop, only (vec_id, cell) leaving the scan stage. The
   * naive k-row-join + grouped-argmax form drags both 64-double
   * vectors through N·k joined rows (measured 526 s at the ×100 probe
   * vs ~seconds for the kernel). The refit is one VectorMean aggregate
   * over an id-equi-join — the only full-payload shuffle.
   *
   * Returns (vec_id, cell) assignments plus the refit micro-unit
   * centroids — [[annIvfRefit]] composes them into the search.
   */
  def refitQuantizer(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): (DataFrame, DataFrame) = {
    val (assignedFull, refit) = refitQuantizerFull(emb, idCol, vecCol, k)
    (assignedFull.select(col("vec_id"), col("cell")), refit)
  }

  /** [[refitQuantizer]] returning the FULL assignment rows
    * (vec_id, v, nrm, cell) — r18: the assignment is a NARROW map of
    * the scan (one broadcast seed matrix), so carrying the payload
    * through costs nothing, while the old `base.join(assigned)`
    * re-shuffled the corpus by id and re-ran the scan just to
    * re-attach v/nrm for the refit aggregate and the index
    * ([[buildIvfIndex]]). Same values, two fewer exchanges + one
    * fewer corpus pass per consumer. */
  private[graft] def refitQuantizerFull(emb: DataFrame, idCol: String,
      vecCol: String, k: Int): (DataFrame, DataFrame) = {
    require(k >= 1, s"k must be >= 1, got $k")
    // r18: fan a one-row-group scan out before the N·k NearestSeed
    // assignment (guide §2.5 — it otherwise runs in the single scan
    // task); identity for any real-scale input
    val base = graft.ops.Scale.fanOutSmallScan(emb
      .select(col(idCol).as("vec_id"), toDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0), col("vec_id"))
      .withColumn("nrm", l2norm(col("v")))
    // deterministic seed draw: k smallest (md5(id), id) — TakeOrdered
    // ships exactly k rows; the k-row window that numbers them is free
    val seedW = Window.orderBy(col("h").asc, col("vec_id").asc)
    val seeds = base
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h").asc, col("vec_id").asc).limit(k)
      .withColumn("cell", row_number().over(seedW) - 1)
      .select(col("cell"), col("v").as("sv"), col("nrm").as("snrm"))
    // seed MATRIX as one broadcast row (cell order = array position —
    // seeds are dense 0..k-1 so the kernel's position IS the cell)
    val seedRow = seeds
      .agg(sort_array(collect_list(struct(col("cell"), col("sv"),
        col("snrm")))).as("s"))
      .select(expr("transform(s, x -> x.sv)").as("svs"),
        expr("transform(s, x -> x.snrm)").as("snrms"))
    val assignedFull = base.crossJoin(broadcast(seedRow))
      .select(col("vec_id"), col("v"), col("nrm"),
        nearestSeed(col("v"), col("nrm"),
          col("svs"), col("snrms")).as("cell"))
    // one-pass refit: element-wise mean per cell, micro-scaled
    // (bit-identical across engines — the [[centroids]] discipline)
    val refit = assignedFull
      .groupBy(col("cell"))
      .agg(graft.functions.GraftFunctions.vector_mean(col("v")).as("mean"))
      .select(col("cell"),
        microScaled(col("mean")).as("centroid_scaled"))
    (assignedFull, refit)
  }

  /**
   * Build the IVF index ONCE — the front-door's build half:
   * [[refitQuantizer]]'s data-driven cells materialized as the
   * searchable `(vec_id, v, nrm, cell)` index plus the
   * `(cell, centroid_scaled)` routing table [[annIvfSearch]] consumes.
   * In a real deployment, persist the index bucketed by cell
   * ([[graft.sources.Tables.writeBucketed]]) and reuse it across query
   * batches: the N·k quantizer pass is a one-time cost (measured:
   * prebuilt-index search 1.68 s amortized at the ×100 probe, decade
   * 2.5×, vs the frozen quantizer's 30.6×). Pick k ~ √N so per-cell
   * population stays ~N/k.
   */
  def buildIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): (DataFrame, DataFrame) = {
    // r18: the full assignment rows ARE the index — the old
    // base.join(assigned, "vec_id") re-shuffled the corpus by id (and
    // re-ran the scan) to re-attach columns the narrow assignment can
    // simply carry. Same (vec_id, v, nrm, cell) rows.
    refitQuantizerFull(emb, idCol, vecCol, k)
  }

  /**
   * One-shot build+search convenience over the refit quantizer —
   * [[buildIvfIndex]] then [[annIvfSearch]] in one call. Same output
   * shape as the frozen-label compat path (q_id, cell, neighbor_id,
   * cos), integer cells. Centroid and assignment frames broadcast; the
   * corpus payload shuffles once (the quantizer's id-join), then the
   * search rides broadcasts — at ×100 corpus growth, k grows with N
   * and per-query candidate work stays ~N/k (measured vs the fixed
   * quantizer's quadratic bend: see PLANS.md Scale100Probe). For
   * repeated query batches, build the index once with
   * [[buildIvfIndex]] and call [[annIvfSearch]] directly.
   */
  def annIvfRefit(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      queryFilter: Column, nprobe: Int = 2): DataFrame = {
    val (index, refit) = buildIvfIndex(emb, idCol, vecCol, k)
    annIvfSearch(index, refit, queryFilter, nprobe)
  }

  /**
   * THE IVF FRONT DOOR — search over a PREBUILT index, the amortized
   * shape a real deployment runs: [[buildIvfIndex]] builds (vec_id,
   * cell) lists + centroids ONCE (the N·k one-time cost, written
   * bucketed by cell like [[graft.sources.Tables.writeBucketed]]);
   * every query batch afterwards pays only routing (|Q|·k kernel evals
   * against the broadcast centroid matrix) + its cell slices (~N/k
   * rows per query). `index` = (vec_id, v, nrm, cell); `refit` =
   * (cell, centroid_scaled). `nprobe` probes the top-n cells per query
   * — the standard IVF recall lever (a query near a cell boundary
   * finds its true neighbor in cell #2); per-query work scales
   * linearly, nprobe·N/k. Default nprobe=2: boundary queries dominate
   * the recall loss at nprobe=1 and the second probe is cheap.
   */
  def annIvfSearch(index: DataFrame, refit: DataFrame,
      queryFilter: Column, nprobe: Int = 2): DataFrame = {
    nearestInCells(index, routeQueries(asQueries(index.filter(queryFilter)), refit, nprobe))
  }

  /** Per routed query, its nearest index member (cosine desc, id asc)
    * among the cells it probes — the probe tail of [[annIvfSearch]] and
    * [[annIvfSearchOnDisk]]. */
  private def nearestInCells(index: DataFrame, qCell: DataFrame): DataFrame = {
    val searchW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    index.join(broadcast(qCell),
        col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("cell"), col("vec_id").as("neighbor_id"),
        cosine6(col("v"), col("nrm"), col("qv"), col("qnrm")).as("cos"))
      .withColumn("rn", row_number().over(searchW)).filter(col("rn") === 1)
      .drop("rn")
  }

  /**
   * Deployment search over an ON-DISK IVF index
   * ([[graft.sources.Tables.writeIvfIndex]]'s layout): read the
   * postings and centroid tables back, route the query batch, make the
   * probed-cell set a LITERAL filter, search only those cells. The
   * routing collect ships nprobe·|Q| cell ids to the driver — the
   * bounded query-batch contract (the same boundedness
   * [[bruteForceTopK]] broadcasts on), and the price of PLANNING-time
   * partition pruning: with the probed cells literal, the postings
   * scan lists only those directories (`selectedPartitions` == probed
   * cells — TablesSpec asserts), where the join-shaped form relies on
   * runtime DPP firing. NOTE this op routes (runs two small jobs) when
   * CALLED, by design — it is the amortized online-serving shape, not
   * a lazy pipeline stage; [[annIvfSearch]] is the in-pipeline form.
   * At 100 TB: build once ([[buildIvfIndex]] + writeIvfIndex), then
   * every batch reads ~nprobe/k of the postings bytes.
   */
  def annIvfSearchOnDisk(spark: org.apache.spark.sql.SparkSession,
      path: String, queryFilter: Column, nprobe: Int = 2): DataFrame = {
    val (index, refit) = graft.sources.Tables.readIvfIndex(spark, path)
    val q = asQueries(index.filter(queryFilter))
    val qCell = routeQueries(q, refit, nprobe)
    val probed = qCell.select(col("qcell")).distinct().collect().map(_.get(0))
    nearestInCells(index.filter(col("cell").isin(probed.toSeq: _*)), qCell)
  }

  /** Query → probed-cell routing over the refit centroids: (q_id, qv,
    * qnrm) → one row per (query, probed cell), top-`nprobe` cells by
    * rounded centroid cosine. nprobe=1 routes through the one-kernel
    * argmax (centroid matrix as ONE broadcast row; position → cell id
    * via the parallel cells array — refit cells can be sparse); n > 1
    * routes via a top-n window over the Q·|cells| broadcast join (same
    * rounded cosine + smallest-cell tie-break; the query set is the
    * small side by contract). */
  private def routeQueries(q: DataFrame, refit: DataFrame,
      nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val cents = refit.select(col("cell").as("c_cell"),
        transform(col("centroid_scaled"), x => x / 1000000.0).as("cv"))
      .withColumn("cnrm", l2norm(col("cv")))
    if (nprobe == 1) {
      val centRow = cents
        .agg(sort_array(collect_list(struct(col("c_cell"), col("cv"),
          col("cnrm")))).as("s"))
        .select(expr("transform(s, x -> x.c_cell)").as("cells"),
          expr("transform(s, x -> x.cv)").as("cvs"),
          expr("transform(s, x -> x.cnrm)").as("cnrms"))
      q.crossJoin(broadcast(centRow))
        .select(col("q_id"), col("qv"), col("qnrm"),
          element_at(col("cells"),
            nearestSeed(col("qv"), col("qnrm"), col("cvs"), col("cnrms")) + 1)
            .as("qcell"))
    } else {
      val routeW = Window.partitionBy(col("q_id"))
        .orderBy(col("ccos").desc, col("c_cell").asc)
      q.join(broadcast(cents))
        .select(col("q_id"), col("qv"), col("qnrm"), col("c_cell"),
          cosine6(col("qv"), col("qnrm"), col("cv"), col("cnrm")).as("ccos"))
        .withColumn("rn", row_number().over(routeW))
        .filter(col("rn") <= nprobe)
        .select(col("q_id"), col("qv"), col("qnrm"), col("c_cell").as("qcell"))
    }
  }

  /**
   * SPHERICAL K-MEANS — the multi-iteration Lloyd loop behind topic
   * bucketing, cluster-balanced data mixing and curriculum grouping
   * ([[refitQuantizer]] is exactly one iteration of this): k
   * deterministic md5-order seeds, then `iters` rounds of
   * (cosine-assign every vector via ONE [[graft.functions.NearestSeed]]
   * kernel call against the broadcast centroid matrix → one
   * [[graft.functions.VectorMean]] refit per cell), then a final
   * assignment against the converged centroids. Cosine assignment +
   * mean centroids is the standard embedding-space (spherical)
   * variant; centroids are micro-scaled integers after EVERY refit so
   * each iteration — and therefore the whole trajectory — is
   * bit-reproducible on any engine.
   *
   * Scale shape per iteration: one broadcast (k·dim doubles), one
   * narrow scan with k·dim multiply-adds per row, ONE exchange
   * carrying O(k·dim) combined state (VectorMean map-side partials) —
   * iters × that, with the k-row centroid frame locally checkpointed
   * between rounds so lineage stays flat. Cells that lose every member
   * die (standard Lloyd); ties go to the smallest cell.
   *
   * Returns (assignments (vec_id, cell), centroids (cell,
   * centroid_scaled)).
   */
  def sphericalKmeans(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): (DataFrame, DataFrame) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    val base = emb
      .select(col(idCol).as("vec_id"), toDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
      .withColumn("nrm", l2norm(col("v")))
    val seedW = Window.orderBy(col("h").asc, col("vec_id").asc)
    var cents: DataFrame = base
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h").asc, col("vec_id").asc).limit(k)
      .withColumn("cell", row_number().over(seedW) - 1)
      .select(col("cell"), microScaled(col("v")).as("centroid_scaled"))
    def assign(c: DataFrame): DataFrame = {
      val cRow = c
        .select(col("cell"),
          transform(col("centroid_scaled"), x => x / 1000000.0).as("cv"))
        .withColumn("cnrm", l2norm(col("cv")))
        .agg(sort_array(collect_list(struct(col("cell"), col("cv"),
          col("cnrm")))).as("s"))
        .select(expr("transform(s, x -> x.cell)").as("cells"),
          expr("transform(s, x -> x.cv)").as("cvs"),
          expr("transform(s, x -> x.cnrm)").as("cnrms"))
      base.crossJoin(broadcast(cRow))
        .select(col("vec_id"), col("v"),
          element_at(col("cells"),
            nearestSeed(col("v"), col("nrm"), col("cvs"), col("cnrms")) + 1)
            .as("cell"))
    }
    var i = 0
    while (i < iters) {
      cents = assign(cents)
        .groupBy(col("cell"))
        .agg(graft.functions.GraftFunctions.vector_mean(col("v")).as("mean"))
        .select(col("cell"), microScaled(col("mean")).as("centroid_scaled"))
        .localCheckpoint(true)
      i += 1
    }
    (assign(cents).select(col("vec_id"), col("cell")), cents)
  }

  /**
   * THE COMPOSED 100 TB ANN PATH — IVF cells × PQ codes with RESIDUAL
   * encoding: queries route to their top-`nprobe` refit cells
   * ([[buildIvfIndex]]) and ADC-score ONLY those cells' members,
   * reading m code bytes per candidate instead of d floats
   * ([[annPq]]'s scan). Per query: |Q|·kCells routing +
   * nprobe·N/kCells candidates × m table lookups — both the candidate
   * COUNT (IVF) and the candidate WIDTH (PQ) shrink, which is the
   * standard billion-vector serving shape (IVFADC, Jégou et al.
   * TPAMI 2011 §IV).
   *
   * RESIDUAL encoding (r17, the paper's actual formulation): PQ
   * quantizes r = x − c(cell), NOT the raw vector — residuals
   * concentrate near the origin with far less variance than the
   * vectors themselves, so the same codebook budget spends its
   * precision on the part the coarse quantizer didn't already
   * explain. Reconstruction is x̃ = c(cell) + r̃; the ADC score is
   * q·x̃ / (|q|·|x̃|), a cosine ranking like every exact scan here.
   * Measured on the worst-case near-uniform gate embeddings, the
   * recall@5 ladder moves from raw-PQ's 0.16 (m8k32, 32×) / 0.60
   * (m16k128, 16×) to strictly higher residual points (spec-pinned in
   * Round17OpsSpec). Cost delta vs raw: one broadcast join of the
   * kCells-row centroid frame at encode time and again at scoring —
   * both fold-to-broadcast sides, nothing new shuffles.
   *
   * Everything runs on the UNIT-normalized corpus (cosine retrieval).
   * Output: top-`topK` per query by (score desc, id asc). Probing ALL
   * cells reproduces a full residual-ADC scan exactly (spec-pinned
   * against an independently reconstructed-scored reference);
   * [[annIvfPqRaw]] keeps the r16 raw-vector form as the spec
   * baseline, whose all-cells probe equals the [[annPq]] full scan.
   */
  def annIvfPq(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, kCodes: Int, kCells: Int,
      queryFilter: Column, nprobe: Int = 2, topK: Int = 1): DataFrame =
    annIvfPqImpl(emb, idCol, vecCol, dim, m, kCodes, kCells, queryFilter,
      nprobe, topK, residual = true)

  /** The r16 raw-vector IVFADC (PQ over the unit vectors themselves,
    * not cell residuals) — kept as the spec baseline: probing all
    * cells equals the full-scan [[annPq]] ranking exactly, and the
    * residual path's recall ladder is pinned strictly above this
    * one's. Not the deployment default; [[annIvfPq]] is. */
  def annIvfPqRaw(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, kCodes: Int, kCells: Int,
      queryFilter: Column, nprobe: Int = 2, topK: Int = 1): DataFrame =
    annIvfPqImpl(emb, idCol, vecCol, dim, m, kCodes, kCells, queryFilter,
      nprobe, topK, residual = false)

  private def annIvfPqImpl(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, kCodes: Int, kCells: Int,
      queryFilter: Column, nprobe: Int, topK: Int,
      residual: Boolean): DataFrame = {
    val (index, refit, cents, codebooks, codes) =
      ivfPqEncode(emb, idCol, vecCol, dim, m, kCodes, kCells, residual)
    val q = asQueries(index.filter(queryFilter))
    val routed = routeQueries(q, refit, nprobe)
    val sub = subDim(dim, m)
    val cbRow = codebookRow(codebooks, m)
    // reconstructed subvector: c_sub + r̃_sub for residual codes, the
    // codeword itself for raw codes
    def rec(s: Int): Column =
      if (residual) zipAdd(subv(col("cvec"), s, sub), codeword(s))
      else codeword(s)
    // codes are already cell-tagged (the carry in [[ivfPqEncode]]) — no
    // id re-join
    val withCell =
      if (residual) codes.join(broadcast(cents), "cell") else codes
    // same zero-norm guard as [[annPq]] (queries here are unit-corpus
    // members so qnrm > 0 holds by construction, but the explicit
    // filter keeps the rule stated rather than incidental)
    adcTopK(withCell.crossJoin(broadcast(cbRow))
      .join(broadcast(routed),
        col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .filter(col("qnrm") > 0), rec, m, sub, topK)
  }

  /** The IVFADC build front of [[annIvfPq]] and [[buildIvfPqIndex]]:
    * unit-normalize, refit-quantize into kCells ([[buildIvfIndex]]),
    * train PQ on the cell residuals x − c(cell) (on the unit vectors
    * themselves when not `residual`) and encode them. Returns (index,
    * refit, cell centroids, codebooks, codes); the codes keep `cell`.
    * r18: `cell` rides alongside the encoded vectors
    * ([[pqEncodeAgainst]]'s carry) — the old shape re-joined
    * codes⋈index by vec_id just to get the cell back (two exchanges on
    * the corpus-sized code table). */
  private def ivfPqEncode(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, kCodes: Int, kCells: Int, residual: Boolean)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val unit = unitVectors(prepared(emb, idCol, vecCol))
    val (index, refit) = buildIvfIndex(unit, "vec_id", "v", kCells)
    val cents = cellCentroids(refit)
    val pqInput =
      if (residual)
        index.select(col("vec_id"), col("cell"), col("v"))
          .join(broadcast(cents), "cell")
          .select(col("vec_id"), col("cell"),
            zipSub(col("v"), col("cvec")).as("v"))
      else index.select(col("vec_id"), col("cell"), col("v"))
    val (_, codebooks) =
      quantizePq(pqInput.select(col("vec_id"), col("v")), "vec_id", "v",
        dim, m, kCodes)
    (index, refit, cents, codebooks, pqEncodeAgainst(pqInput, codebooks, dim, m))
  }

  /**
   * FROZEN-QUANTIZER assignment — the incremental-maintenance half of
   * the IVF story (r18, closing the r15 verdict's index-maintenance
   * gap): route vectors to their argmax-cosine cell of an EXISTING
   * refit centroid table, EXACTLY the rule [[annIvfSearch]] routes
   * queries with (cosine desc, cell asc tie) — so an appended vector
   * lands in precisely the cell every future query probing near it
   * will scan. Returns the postings shape (vec_id, v, nrm, cell).
   * Zero-norm vectors are excluded (no cosine direction — the same
   * contract the search side applies). One broadcast of the k-row
   * centroid table; the vector batch never shuffles.
   */
  def assignWithCentroids(emb: DataFrame, idCol: String, vecCol: String,
      refit: DataFrame): DataFrame =
    routeQueries(asQueries(prepared(emb, idCol, vecCol).filter(col("nrm") > 0)),
        refit, 1)
      .select(col("q_id").as("vec_id"), col("qv").as("v"),
        col("qnrm").as("nrm"), col("qcell").as("cell"))

  /**
   * PQ-encode vectors against an EXISTING codebook table (the encode
   * half of [[quantizePq]], factored out for incremental index
   * maintenance): each subvector takes the code of its nearest
   * codeword — the identical broadcast-matrix
   * [[graft.functions.NearestSeed]] scan the trainer's own encode
   * pass runs, so appended codes are bit-identical to what a build
   * over the same codebooks would assign. `base` = (vec_id, v) plus
   * any extra columns, which pass through unchanged (r18: lets IVFADC
   * carry `cell` alongside the codes instead of re-joining the index
   * by id afterwards — the encode is a narrow map, so pass-through is
   * free while the join cost two exchanges).
   */
  private[graft] def pqEncodeAgainst(base: DataFrame, codebooks: DataFrame,
      dim: Int, m: Int): DataFrame = {
    val sub = subDim(dim, m)
    val cbRow = codebookRow(codebooks, m, "cvs", augSeed)
    val carry = base.columns.filter(_ != "v").map(col).toSeq
    base.crossJoin(broadcast(cbRow))
      .select(carry ++ (0 until m).map { s =>
        element_at(col(s"cells_$s"),
          nearestSeedSub(col("v"), col(s"cvs_$s"), s * sub, sub) + 1)
          .as(s"code_$s")
      }: _*)
  }

  /**
   * CELL-POPULATION DRIFT report — the documented RETRAIN trigger for
   * incrementally maintained IVF/IVFADC stores: per cell, the posting
   * count vs the balanced expectation (N/k), as a ratio. Frozen
   * centroids stay optimal only while the data distribution holds;
   * when appends concentrate (max_ratio ≫ 1 — a hot cell degrades
   * toward a linear scan for queries routed there) or starve cells,
   * rebuild with [[buildIvfIndex]] / [[buildIvfPqIndex]]. One count
   * aggregation over the postings' cell column (partition-pruned
   * metadata scan on a Hive-layout store).
   */
  def ivfCellDrift(postings: DataFrame): DataFrame = {
    val counts = postings.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_postings"))
    val tot = counts.agg(sum(col("n_postings")).as("__n"),
      count(lit(1)).as("__k"))
    counts.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_postings"),
        round(col("n_postings").cast("double") /
          (col("__n").cast("double") / col("__k").cast("double")), 6)
          .as("load_ratio"))
  }

  /**
   * Build the residual-IVFADC index ONCE — the deployment build half
   * of [[annIvfPq]] (which trains per call, the gate's demo shape):
   * unit-normalize, refit-quantize into kCells ([[buildIvfIndex]]),
   * PQ-encode the per-cell residuals x − c(cell). Returns
   * (codes, refit, codebooks): codes = (vec_id, code_0..m-1, cell) —
   * the frame [[graft.sources.Tables.writeIvfPqIndex]] partitions by
   * cell; refit = (cell, centroid_scaled) integer-exact longs;
   * codebooks = (s, cell, cw_scaled). All three parquet-safe
   * (integer-scaled), so the store round-trips bit-exactly.
   * [[annIvfPqSearch]] is the per-batch half; Round17OpsSpec pins
   * build∘search row-identical to the one-shot [[annIvfPq]].
   */
  def buildIvfPqIndex(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, kCodes: Int, kCells: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val (_, refit, _, codebooks, codes) =
      ivfPqEncode(emb, idCol, vecCol, dim, m, kCodes, kCells, residual = true)
    (codes.select(("vec_id" +: (0 until m).map(s => s"code_$s") :+ "cell")
      .map(col): _*), refit, codebooks)
  }

  /**
   * Query-batch search over a PREBUILT residual-IVFADC index
   * ([[buildIvfPqIndex]] / [[graft.sources.Tables.readIvfPqIndex]]):
   * route the (vec_id, v)-shaped UNIT query batch to its top-nprobe
   * cells, ADC-score only those cells' codes against the
   * reconstruction c(cell) + r̃, top-topK per query. The codebook and
   * centroid frames fold to broadcasts; candidates are
   * nprobe·N/kCells rows of m ints each — the amortized serving
   * shape, paying neither the N·k quantizer pass nor the PQ training
   * the one-shot [[annIvfPq]] repeats per call.
   */
  def annIvfPqSearch(codes: DataFrame, refit: DataFrame,
      codebooks: DataFrame, queries: DataFrame, dim: Int, m: Int,
      nprobe: Int = 2, topK: Int = 1): DataFrame = {
    val q = normedQueries(queries)
    annIvfPqSearchRouted(codes, refit, codebooks,
      routeQueries(q, refit, nprobe), dim, m, topK)
  }

  /** [[annIvfPqSearch]] over an ALREADY-ROUTED query frame (the
    * (q_id, qv, qnrm, qcell) shape [[routeQueries]] emits) — the
    * shared tail that lets [[annIvfPqSearchOnDisk]] reuse the routing
    * it computes for planning-time cell pruning instead of running the
    * route jobs twice per serving call. */
  private def annIvfPqSearchRouted(codes: DataFrame, refit: DataFrame,
      codebooks: DataFrame, routed: DataFrame, dim: Int, m: Int,
      topK: Int): DataFrame = {
    val sub = subDim(dim, m)
    val cents = cellCentroids(refit)
    val cbRow = codebookRow(codebooks, m)
    adcTopK(codes.join(broadcast(cents), "cell")
      .crossJoin(broadcast(cbRow))
      .join(broadcast(routed),
        col("cell") === col("qcell") && col("vec_id") =!= col("q_id")),
      s => zipAdd(subv(col("cvec"), s, sub), codeword(s)), m, sub, topK)
  }

  /**
   * Deployment search over an ON-DISK residual-IVFADC index
   * ([[graft.sources.Tables.writeIvfPqIndex]]'s layout): the
   * [[annIvfSearchOnDisk]] recipe over codes — route the bounded
   * query batch, collect its probed cell ids (nprobe·|Q| ints), make
   * the cell set a LITERAL filter so the codes scan lists only those
   * directories at PLANNING time, then ADC-score. Reads
   * ~nprobe/kCells of a codes table that is itself 16–64× smaller
   * than the vectors — both levers of the 100 TB serving shape
   * applied to the BYTES READ. Routes (runs small jobs) when called,
   * by design — the online-serving contract.
   */
  def annIvfPqSearchOnDisk(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, dim: Int, m: Int,
      nprobe: Int = 2, topK: Int = 1): DataFrame = {
    val (codes, refit, codebooks) =
      graft.sources.Tables.readIvfPqIndex(spark, path)
    val q = normedQueries(queries)
    // route ONCE: the routed frame is both the probed-cell set (a
    // bounded nprobe·|Q| collect that becomes a LITERAL partition
    // filter on the codes scan) and the scoring-side query frame —
    // the r15-advice fix for the doubled routing jobs per serving call.
    val routed = routeQueries(q, refit, nprobe).localCheckpoint(eager = false)
    val probed = routed.select(col("qcell")).distinct().collect().map(_.get(0))
    annIvfPqSearchRouted(codes.filter(col("cell").isin(probed.toSeq: _*)),
      refit, codebooks, routed, dim, m, topK)
  }

  /**
   * Semantic (embedding-space) dedup: survivors = all ids minus every
   * id2 of a near-duplicate pair (id1 < id2, cos >= threshold) — the
   * embedding-side twin of [[graft.ops.Dedup.cleanCorpus]]'s text-side
   * near-dup removal, and the same ONE-PASS approximation of greedy
   * keep-smallest-id dedup: on a transitive chain (1~2, 2~3, 1≁3) it
   * drops BOTH 2 and 3 where an iterative greedy pass would keep 3.
   * That over-deletion is the standard corpus-scale trade — exact
   * greedy needs iterative connected components (one join per round),
   * which no single declarative pass expresses. Pair generation is
   * [[nearDupPairsLsh]] — SRP-banded candidates with exact cosine on
   * candidates only, never an all-pairs corpus⋈corpus join — and the
   * drop set is an anti-join, so the corpus vectors shuffle once (by id,
   * for the candidate verify) and the full text/embedding payload never
   * moves. [[nearDupPairs]] remains the all-pairs truth for recall
   * audits.
   */
  def semanticDedup(
      corpus: DataFrame, threshold: Double,
      planes: Int, bandBits: Int, dim: Int): DataFrame = {
    val drops = nearDupPairsLsh(corpus, threshold, planes, bandBits, dim)
      .select(col("id2").as("vec_id")).distinct()
    corpus.select(col("vec_id")).join(drops, Seq("vec_id"), "left_anti")
  }

  /**
   * [[semanticDedup]] with the band arity SIZED TO THE CORPUS
   * ([[bandBitsFor]]) — the front door a near-dup-at-scale user should
   * reach for: the fixed-arity form keeps per-band bucket occupancy
   * n/2^bandBits, which bends quadratic the moment n outgrows the
   * arity it was tuned at (the r16 soak's 36.5× decade). Sizing costs
   * ONE narrow count of the id column — the same class of
   * runtime-stats decision AQE makes, a metadata-cheap columnar scan
   * at 100 TB, paid once per job, and the only eager action in the
   * family (documented here, asserted by the PlanAudit allowance).
   * `threshold` contract: dedup-realistic values (≥ 0.9) are where
   * banded candidate generation is sublinear; thresholds inside the
   * isotropic bulk (≤ ~0.5) are not discriminable by ANY sublinear
   * scheme and fall back to near-all-pairs density ([[nearDupPairsLsh]]
   * cost model).
   */
  def semanticDedupAuto(corpus: DataFrame, threshold: Double, dim: Int,
      planes: Int = 64): DataFrame = {
    val b = bandBitsFor(corpus.count(), planes)
    semanticDedup(corpus, threshold, planes, b, dim)
  }

  /** [[semanticDecontaminate]] with [[bandBitsFor]]-sized band arity —
    * sized to the CORPUS side (the benchmark side is eval-set-sized by
    * contract and never dominates bucket occupancy). */
  def semanticDecontaminateAuto(corpus: DataFrame, benchmark: DataFrame,
      threshold: Double, dim: Int, planes: Int = 64): DataFrame = {
    val b = bandBitsFor(corpus.count(), planes)
    semanticDecontaminate(corpus, benchmark, threshold, planes, b, dim)
  }

  /**
   * SEMANTIC benchmark decontamination — the embedding-space twin of
   * [[graft.ops.Dedup]]'s n-gram contamination joins: paraphrased or
   * lightly-reworded eval questions share no 13-gram with the corpus
   * copy, but their embeddings still land at high cosine, and a model
   * "wins" the benchmark it memorized. Survivors = corpus ids with NO
   * benchmark vector at cosine ≥ `threshold`. Candidates are the
   * CROSS-TABLE SRP band join (a corpus row pairs with a benchmark row
   * only when some signature band agrees — never a corpus⋈benchmark
   * product), verified with exact cosine on candidates only, dropped
   * by one anti-join. The benchmark side is eval-set-sized (tiny next
   * to a 100 TB corpus), so its banded frame broadcasts; corpus
   * payloads shuffle only for the candidate verify's id-join. Banding
   * recall is the documented trade ([[srpCandidatePairs]]' contract):
   * all-band disagreement can miss a pair — at decontamination
   * thresholds (≥ 0.8–0.9) per-band collision for true matches is
   * high and the audit shape of `q_ann_recall` applies unchanged.
   * Both inputs are [[prepared]] frames (vec_id, v, nrm).
   */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      threshold: Double, planes: Int, bandBits: Int, dim: Int): DataFrame = {
    require(planes % bandBits == 0,
      s"planes $planes not a multiple of bandBits $bandBits")
    val bands = planes / bandBits
    def banded(df: DataFrame, idAs: String) =
      df.select(col("vec_id").as(idAs),
          lshBucket(col("v"), planes, dim).as("sig"))
        .select(col(idAs), explode(array((0 until bands).map { i =>
          concat(lit(s"$i:"), substring(col("sig"), i * bandBits + 1, bandBits))
        }: _*)).as("band_key"))
    val cands = banded(corpus, "c_id")
      .join(banded(benchmark, "b_id"), "band_key")
      .select(col("c_id"), col("b_id")).distinct()
    val cv = corpus.select(col("vec_id").as("c_id"),
      col("v").as("cvv"), col("nrm").as("cn"))
    val bv = benchmark.select(col("vec_id").as("b_id"),
      col("v").as("bvv"), col("nrm").as("bn"))
    val drops = cands.join(cv, Seq("c_id")).join(bv, Seq("b_id"))
      .select(col("c_id"),
        cosine6(col("cvv"), col("cn"), col("bvv"), col("bn")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("c_id").as("vec_id")).distinct()
    corpus.select(col("vec_id")).join(drops, Seq("vec_id"), "left_anti")
  }

  /**
   * ANN via LSH: per query, the single nearest same-bucket neighbor by
   * cosine (ties → smallest id). Queries with an otherwise-empty bucket
   * produce no row (inner join) — same rule in the oracle.
   */
  def annLsh(corpus: DataFrame, queryFilter: Column, planes: Int, dim: Int): DataFrame = {
    val bucketed = corpus.withColumn("bucket", lshBucket(col("v"), planes, dim))
    val q = bucketed.filter(queryFilter).select(
      col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"), col("bucket"))
    val scored = bucketed
      .join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(
        col("q_id"), col("vec_id").as("neighbor_id"),
        cosine6(col("v"), col("nrm"), col("qv"), col("qnrm")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /**
   * Recall@k audit for the LSH-bucketed ANN path: per query, how many of
   * the EXACT top-k neighbors land in the query's LSH bucket — the
   * number that tells an operator whether the bucket width (planes) is
   * right BEFORE trusting the approximate path at scale. Exact side is
   * the brute-force ranking (gate-scale truth); candidate side is the
   * same single-bucket equi-join the ANN query uses; recall is their
   * per-query intersection over k.
   */
  def annRecallAudit(corpus: DataFrame, queryFilter: Column, planes: Int,
      dim: Int, k: Int): DataFrame = {
    val exact = exactTopK(corpus, queryFilter, k)
    val bucketed = corpus.withColumn("bucket", lshBucket(col("v"), planes, dim))
    val q = bucketed.filter(queryFilter).select(col("vec_id").as("q_id"), col("bucket"))
    val cand = bucketed.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    recallAgainst(exact, cand)
  }

  /**
   * EMBEDDING COVARIANCE MATRIX — the PCA/whitening prep step of an
   * embedding pipeline (which dimensions carry variance? which are
   * redundant? what rotation decorrelates them?): the population
   * covariance cov(i, j) = (n·Σxᵢxⱼ − Σxᵢ·Σxⱼ)/n² for every i ≤ j of a
   * d-dim vector column, in long form (i, j, n, cov).
   *
   * Elements are quantized to exact integers by SQL `round(x·scale)`
   * (default millis; the quantization is the documented resolution —
   * and the overflow headroom lever: at scale 10³ and unit-range
   * embeddings, exact long sums survive ~10¹³ rows per dimension
   * pair). All sums accumulate in ONE
   * [[graft.functions.VectorOuterSum]] pass — O(d²) state per map
   * task, never a d²-row explode per vector — and the covariance forms
   * n·Σxᵢxⱼ − Σxᵢ·Σxⱼ entirely in exact decimal(38,0) before one
   * fixed-order double division chain: engine-replayable to the bit.
   * The d×d matrix itself is tiny (d ≤ a few hundred); eigen-solving
   * it for the actual PCA rotation is a driver-side afterstep on
   * d(d+1)/2 rows, not a distributed concern.
   *
   * Null vectors are ignored; empty input → empty output; a dimension
   * mismatch between rows throws (the [[graft.functions.VectorMean]]
   * contract).
   */
  /**
   * Cross-table ANN JOIN — "for every vector in LEFT, its best
   * matches from RIGHT": the retrieval-augmentation / cross-corpus
   * alignment shape (queries against a knowledge base, candidates
   * against a reference set), where [[annLshTopK]]-style self-join
   * machinery doesn't apply because the two sides are different
   * tables. Both sides hash to their [[lshBucket]] SRP signature,
   * candidates are the exact-bucket equi-join (shuffle on the bucket
   * key — never a cross product), survivors verify with the true
   * cosine ≥ `minCos`, and a per-left top-k window (score desc,
   * id asc — Spark executes it as a WindowGroupLimit) keeps the k
   * best. A left vector whose bucket contains no right vector emits
   * nothing — LSH recall is the documented trade (more planes = fewer
   * collisions = higher precision/lower recall; the `q_ann_recall`
   * audit shape applies unchanged).
   *
   * Hot-bucket caution (the q_ann_lsh family contract): a bucket with
   * L left and R right members emits L·R candidates — near-duplicate
   * floods belong behind [[exactDupReps]] first.
   *
   * Both inputs must be [[prepared]] frames (vec_id, v, nrm).
   */
  def annJoin(left: DataFrame, right: DataFrame, planes: Int, dim: Int,
      minCos: Double, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val lb = left.select(col("vec_id").as("l_id"), col("v").as("lv"),
      col("nrm").as("lnrm"), lshBucket(col("v"), planes, dim).as("bucket"))
    val rb = right.select(col("vec_id").as("r_id"), col("v").as("rv"),
      col("nrm").as("rnrm"), lshBucket(col("v"), planes, dim).as("bucket"))
    val scored = lb.join(rb, "bucket")
      .select(col("l_id"), col("r_id"),
        cosine6(col("lv"), col("lnrm"), col("rv"), col("rnrm")).as("cos"))
      .filter(col("cos") >= minCos)
    val w = Window.partitionBy(col("l_id"))
      .orderBy(col("cos").desc, col("r_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /**
   * Johnson-Lindenstrauss RANDOM PROJECTION d → k: replaces each
   * embedding with its dot products against `outDim` md5-seeded
   * hyperplanes (the [[planeWeight]] family [[lshBucket]] signs — here
   * kept continuous), 6-dp rounded. Pairwise distances survive
   * approximately (JL lemma), so downstream cosine top-k, IVF, or
   * clustering runs on vectors d/k× smaller — the standard first move
   * before ANN over a 100 TB embedding table. Pure per-row map
   * (one [[graft.functions.RandomProjection]] kernel inside the scan
   * stage — no shuffle, no state); deterministic md5 weights make the
   * projection engine-replayable, and each element is normalized with
   * + 0.0 (a tiny negative dot rounds to −0.0 in binary engines but
   * 0.0 through BigDecimal — ==-equal, hash-different).
   *
   * Null vectors project to null; a dimension mismatch throws (the
   * [[graft.functions.DotProduct]] rule).
   */
  def randomProject(df: DataFrame, vecCol: String, dim: Int,
      outDim: Int, outCol: String = "proj"): DataFrame = {
    require(outDim >= 1 && outDim <= dim,
      s"outDim must be in [1, dim], got $outDim (dim $dim)")
    require(outCol != vecCol,
      s"outCol must differ from vecCol ('$vecCol'): the input vector is dropped")
    val tmp = s"__rp_${vecCol}_$outCol"
    require(!df.columns.contains(tmp), s"temp column '$tmp' already exists")
    val raw = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.RandomProjection(
        org.apache.spark.sql.graft.ColumnBridge.expression(
          col(vecCol).cast("array<double>")), outDim, dim))
    df.withColumn(tmp, raw)
      .withColumn(outCol,
        array((0 until outDim).map(p =>
          round(element_at(col(tmp), p + 1), 6) + lit(0.0)): _*))
      .drop(tmp, vecCol)
  }

  def embedCovariance(df: DataFrame, vecCol: String,
      scale: Int = 1000): DataFrame = {
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val q = expr(
      s"transform(cast($vecCol as array<double>), x -> cast(round(x * $scale) as bigint))")
    val st = df.filter(col(vecCol).isNotNull)
      .agg(graft.functions.GraftFunctions.vector_outer_sum(q).as("st"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    st.select(col("st.n").as("n"), col("st.sums").as("s"),
        explode(col("st.prods")).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"), col("n"),
        // + 0.0 normalizes IEEE negative zero: a tiny negative
        // covariance rounds to -0.0 on engines that round in binary
        // (DuckDB) but to 0.0 through Spark's BigDecimal round — the
        // values are ==-equal yet hash differently
        (round((dec(col("n")) * col("p.sij") -
            dec(element_at(col("s"), col("p.i") + 1)) *
              element_at(col("s"), col("p.j") + 1)).cast("double") /
          (col("n").cast("double") * col("n").cast("double")) /
          (lit(scale.toDouble) * lit(scale.toDouble)), 6) + lit(0.0)).as("cov"))
  }
}
