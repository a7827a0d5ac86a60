package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Public surface of the graft engine — Column API + SQL registration for
 * every function the reference exposes (/root/reference/src/lib.rs:43-51),
 * re-expressed as native Catalyst aggregates.
 *
 * SQL names are `graft_`-prefixed so Spark's built-ins with different
 * semantics (`kurtosis` = population in Spark, sample-corrected in the
 * reference) are never silently shadowed.
 */
object GraftFunctions {

  private def agg(e: Expression): Column =
    ColumnBridge.column(e match {
      case a: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction =>
        a.toAggregateExpression()
      case other => other
    })

  private def ex(c: Column): Expression = ColumnBridge.expression(c)

  /** Cast-to-double at construction (AbstractDataType is private[sql] in
    * Spark 4, so implicit input-type coercion is done explicitly). */
  private def d(e: Expression): Expression = Cast(e, DoubleType)

  // ── reference surface ────────────────────────────────────────────────
  /** Sample (bias-corrected) excess kurtosis — reference `kurtosis`. */
  def kurtosis_samp(c: Column): Column = agg(GraftKurtosis(d(ex(c))))

  /** Population excess kurtosis — reference `kurtosis_pop`. */
  def kurtosis_pop(c: Column): Column = agg(GraftKurtosisPop(d(ex(c))))

  /** Sample (bias-corrected) skewness — reference `skewness`. */
  def skewness_samp(c: Column): Column = agg(GraftSkewness(d(ex(c))))

  /** Most frequent value; reference tie-break (max value, min for strings). */
  def mode_agg(c: Column): Column = agg(GraftMode(ex(c)))

  /** Element-wise mean of an array<double> column — one-shuffle centroid
    * aggregation with O(dim) map-side state (see
    * [[graft.functions.VectorMean]]). */
  def vector_mean(c: Column): Column = agg(VectorMean(ex(c)))

  /** Exact covariance sufficient statistics of a QUANTIZED array<bigint>
    * vector column: one O(d²) map-side state instead of a d²-row
    * explode per vector (see [[graft.functions.VectorOuterSum]];
    * [[graft.ops.Similarity.embedCovariance]] is the user entry). */
  def vector_outer_sum(c: Column): Column = agg(VectorOuterSum(ex(c)))

  /** Per-group KMV distinct-count estimate: at most k longs of state per
    * group vs countDistinct's full distinct-set shuffle (see
    * [[graft.functions.KmvDistinctAgg]]). */
  def kmv_distinct(c: Column, k: Int): Column =
    agg(KmvDistinctAgg(Cast(ex(c), org.apache.spark.sql.types.StringType), k))

  /** Bounded top-k per group: the k best (id, score) pairs, score desc,
    * ties → least id — O(k) state per group instead of a window sort of
    * every member (see [[graft.functions.TopKBy]]). */
  def topk_by(id: Column, score: Column, k: Int): Column =
    agg(TopKBy(ex(id), ex(score), k))

  /** Byte-based classic Jaro-Winkler similarity (DuckDB-contract:
    * window max/2−1, prefix ≤ 4 at 0.1 above jaro 0.7, empty → 0) —
    * codegen'd native expression, see [[graft.functions.JaroWinkler]]. */
  def jaro_winkler(a: Column, b: Column): Column =
    ColumnBridge.column(JaroWinkler(ex(a), ex(b)))

  /** Journey-prefix aggregate: the labels of the group's k EARLIEST
    * rows (by ts, ties by id) joined with ">" — O(k) state, order-free
    * merge, usable under `session_window` in streaming (see
    * [[graft.functions.PathPrefix]]). */
  def path_prefix(ts: Column, id: Column, label: Column, k: Int): Column =
    agg(PathPrefix(ex(ts), ex(id), ex(label), k))

  /** Deterministic (md5-based) HyperLogLog distinct estimate with 2^b
    * byte registers — engine-replayable `approx_count_distinct` (see
    * [[graft.functions.HllSketchAgg]]). */
  def hll_distinct(c: Column, b: Int): Column =
    agg(HllSketchAgg(Cast(ex(c), org.apache.spark.sql.types.StringType), b))

  /** HLL register array (2^b bytes) as a mergeable value — pair with
    * [[hll_merge_est]] for rolling/rollup distinct counts (see
    * [[graft.functions.HllRegistersAgg]]). */
  def hll_registers(c: Column, b: Int): Column =
    agg(HllRegistersAgg(Cast(ex(c), org.apache.spark.sql.types.StringType), b))

  /** Merge [[hll_registers]] sketches (element-wise max; nulls skipped)
    * and return the distinct estimate. */
  def hll_merge_est(c: Column, b: Int): Column =
    agg(HllMergeAgg(ex(c), b))

  /** Fixed-grid histogram bin counts over [lo, hi) — O(nbins) mergeable
    * state; the streaming-safe carrier for windowed quantile estimation
    * (see [[graft.functions.HistogramAgg]]). */
  def histogram(c: Column, lo: Double, hi: Double, nbins: Int): Column =
    agg(HistogramAgg(Cast(ex(c), DoubleType), lo, hi, nbins))

  /** Value of `x` at the max of `y` (null `y` ignored; ties arbitrary).
    * Built as the Catalyst MaxBy node directly — NOT
    * `functions.max_by`, which on Spark 4 is `Column.fn("max_by", …)`
    * and resolves by NAME through the session registry, so in a
    * session that called [[registerReferenceNames]] the built-in form
    * silently flips to null-key-WINS semantics. */
  def max_by(x: Column, y: Column): Column =
    agg(org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy(ex(x), ex(y)))

  /** Value of `x` at the min of `y` (null `y` ignored; ties arbitrary).
    * Direct Catalyst MinBy — registry-shadowing-immune (see [[max_by]]). */
  def min_by(x: Column, y: Column): Column =
    agg(org.apache.spark.sql.catalyst.expressions.aggregate.MinBy(ex(x), ex(y)))

  /** Deterministic max_by: ties on `y` broken by greatest `x`. Rows with
    * null `y` are ignored — the struct ordering key is nulled whole,
    * because struct(null, x) is itself non-null and would otherwise
    * re-enter the comparison (an all-null-y group must yield NULL, the
    * reference's null/empty-input semantics, max_min_by.rs:216-470). */
  def max_by_det(x: Column, y: Column): Column =
    agg(org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy(
      ex(x), ex(when(y.isNotNull, struct(y, x)))))

  /** Deterministic min_by: ties on `y` broken by least `x`; null `y`
    * rows ignored (see [[max_by_det]]). Direct Catalyst MinBy so the
    * behavior is immune to name shadowing (see [[max_by_ref]]). */
  def min_by_det(x: Column, y: Column): Column =
    agg(org.apache.spark.sql.catalyst.expressions.aggregate.MinBy(
      ex(x), ex(when(y.isNotNull, struct(y, x)))))

  /**
   * EXACT reference-replay max_by. The reference rewrites
   * `max_by(x, y)` to `last_value(x ORDER BY y ASC NULLS LAST)`
   * (max_min_by.rs:99 `Sort::new(second_arg, true, false)`), so a row
   * whose ORDERING key is NULL sorts after every real value and WINS —
   * tests/main.rs:177-190 pin `max_by` over (1,10),(2,NULL),(3,15),
   * (NULL,8) to 2, not 3. [[max_by_det]] deliberately follows the
   * Spark/DuckDB convention instead (null keys ignored); this variant
   * replays the reference snapshot bit-for-bit. Among several null-key
   * rows the reference is input-order-dependent; here the tie breaks
   * deterministically to the greatest `x` (the only delta, and only on
   * that nondeterministic edge).
   */
  def max_by_ref(x: Column, y: Column): Column = {
    // direct Catalyst MaxBy, NOT functions.max_by: the Column form
    // resolves "max_by" by NAME through the registry, which recurses
    // forever in a session where registerReferenceNames shadowed it
    val key = struct(y.isNull.cast("int").as("n"), y.as("y"), x.as("x"))
    agg(org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy(ex(x), ex(key)))
  }

  /**
   * EXACT reference-replay min_by: `last_value(x ORDER BY y DESC NULLS
   * LAST)` (max_min_by.rs:196 `Sort::new(second_arg, false, false)`) —
   * null ordering keys win min_by TOO (tests/main.rs:192-204 pin the
   * same NULL-keyed row 2 as the answer). A single MinBy over a struct
   * whose lead rank is 0 for null keys (sorting below every real row),
   * then the real `y`, ties to least `x` (the det-variant direction;
   * the reference is input-order-dependent on ties).
   */
  def min_by_ref(x: Column, y: Column): Column = {
    val key = struct(y.isNotNull.cast("int").as("n"), y.as("y"), x.as("x"))
    agg(org.apache.spark.sql.catalyst.expressions.aggregate.MinBy(ex(x), ex(key)))
  }

  /**
   * Scalable two-phase mode: count per `(keys, value)`, then per `keys`
   * pick the value with the greatest count — `max_by(x, (cnt, x))`, or
   * `min_by(x, (−cnt, x))` for strings. O(1) state per reducer key in
   * both shuffles: the 100 TB path for high-cardinality value columns.
   * Same answer as [[mode_agg]]: ties go to the greatest value (the
   * smallest for strings), nulls are ignored, and an all-null group
   * gives NULL. Output columns: `keys`, then `mode_<value>`.
   */
  def modeBy(df: DataFrame, keys: Seq[String], value: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{MaxBy, MinBy}
    val (x, cnt) = (col(value), col("__cnt"))
    // a NULL value gets a NULL ordering, which max_by/min_by skip
    val pick = df.select(x).schema.head.dataType match {
      case _: StringType => MinBy(ex(x), ex(when(x.isNotNull, struct(-cnt, x))))
      case _ => MaxBy(ex(x), ex(when(x.isNotNull, struct(cnt, x))))
    }
    df.groupBy((keys :+ value).map(col): _*).agg(count(lit(1)).as("__cnt"))
      .groupBy(keys.map(col): _*).agg(agg(pick).as(s"mode_$value"))
  }

  // ── SQL surface ──────────────────────────────────────────────────────
  /** Builds a SQL function's expression from its argument expressions. */
  private[graft] type Builder = Seq[Expression] => Expression

  /** A SQL builder taking exactly `n` arguments; any other count fails
    * with the reference's wrong-arity error. */
  private def nary(name: String, n: Int)(f: Builder): Builder = args =>
    if (args.size == n) f(args)
    else throw new IllegalArgumentException(
      s"$name requires exactly $n argument${if (n == 1) "" else "s"}, got ${args.size}")

  private def unary(name: String, f: Expression => Expression): (String, Builder) =
    name -> nary(name, 1)(args => f(args.head))

  /** Lift a Column→Column pipeline function into a SQL function. */
  private def unaryCol(name: String, f: Column => Column): (String, Builder) =
    unary(name, e => ex(f(ColumnBridge.column(e))))

  private def binaryCol(name: String, f: (Column, Column) => Column): (String, Builder) =
    name -> nary(name, 2)(args =>
      ex(f(ColumnBridge.column(args(0)), ColumnBridge.column(args(1)))))

  /** A SQL function with literal arguments: `f` accepts the argument
    * lists it can build; any other fails with
    * `<name> requires (<shape>), got <n> args`. */
  private def shaped(name: String, shape: String)(
      f: PartialFunction[Seq[Expression], Expression]): (String, Builder) =
    name -> (args => f.applyOrElse(args, (other: Seq[Expression]) =>
      throw new IllegalArgumentException(
        s"$name requires ($shape), got ${other.size} args")))

  /** The Int value of an integral literal argument in Int range; a
    * string, fraction (SQL folds it to Decimal), NULL or wider value
    * fails naming the argument. */
  private def intLit(e: Expression, what: String): Int =
    if (!e.foldable) throw new IllegalArgumentException(s"$what must be a literal")
    else e.eval() match {
      case n @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer | _: java.lang.Long)
          if n.asInstanceOf[Number].longValue.isValidInt => n.asInstanceOf[Number].intValue
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other (${e.dataType.catalogString})")
    }

  /** The aggregates and sketches in SQL. */
  private def aggregateFunctions: Seq[(String, Builder)] = Seq(
    unary("graft_kurtosis", e => GraftKurtosis(d(e))),
    unary("graft_kurtosis_pop", e => GraftKurtosisPop(d(e))),
    unary("graft_skewness", e => GraftSkewness(d(e))),
    unary("graft_mode", GraftMode(_)),
    unary("graft_vector_mean", e => VectorMean(Cast(e, ArrayType(DoubleType, containsNull = true)))),
    unary("graft_vector_outer_sum", VectorOuterSum(_)),
    // parity aliases for the non-conflicting reference names
    unary("kurtosis_pop", e => GraftKurtosisPop(d(e))),
    unary("kurtosis_samp", e => GraftKurtosis(d(e))),
    unary("skewness_samp", e => GraftSkewness(d(e))),
    shaped("graft_kmv", "value, k-literal") {
      case Seq(x, k) if k.foldable => KmvDistinctAgg(Cast(x, StringType), intLit(k, "k"))
    },
    shaped("graft_topk", "id, score, k-literal") {
      case Seq(id, score, k) if k.foldable => TopKBy(id, d(score), intLit(k, "k"))
    },
    // the earliest-k journey aggregate (usable under session_window in SQL too)
    shaped("graft_path_prefix", "ts, id, label, k-literal") {
      case Seq(ts, id, label, k) if k.foldable => PathPrefix(ts, id, label, intLit(k, "k"))
    },
    shaped("graft_hll", "value, b-literal") {
      case Seq(x, b) if b.foldable => HllSketchAgg(Cast(x, StringType), intLit(b, "b"))
    },
    // fixed-grid bin counts
    shaped("graft_histogram", "value, lo, hi, nbins literals") {
      case Seq(x, lo, hi, nb) if lo.foldable && hi.foldable && nb.foldable =>
        // SQL double literals fold to Decimal, not java.lang.Number
        def bound(e: Expression): Double = e.eval() match {
          case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
          case n: Number => n.doubleValue()
          case other => throw new IllegalArgumentException(
            s"graft_histogram bound must be numeric, got $other")
        }
        HistogramAgg(d(x), bound(lo), bound(hi), intLit(nb, "nbins"))
    },
    // the SQL face of the runtime-filter / decontamination pair
    shaped("graft_bloom_build", "value, mBits, k") {
      case Seq(x, m, k) =>
        BloomBitsAgg(Cast(x, StringType), intLit(m, "mBits"), intLit(k, "numHashes"))
    },
    shaped("graft_bloom_hits", "bits, grams, mBits, k") {
      case Seq(bits, grams, m, k) =>
        BloomHitCount(bits, grams, intLit(m, "mBits"), intLit(k, "numHashes"))
    })

  /** The text-pipeline operators of [[graft.ops.TextOps]] and the
    * pairwise similarities in SQL, so a pure-SQL user has the full
    * pipeline, not just the aggregates. */
  private def textFunctions: Seq[(String, Builder)] = {
    import graft.ops.{Similarity, TextOps}
    Seq(
      unaryCol("graft_tokens", TextOps.tokens(_)),
      unaryCol("graft_langid", TextOps.langIdText(_)),
      unaryCol("graft_quality", TextOps.qualityScore(_)),
      unaryCol("graft_text_stats", TextOps.textStats(_)),
      unaryCol("graft_token_count_ws", TextOps.tokenCountWs(_)),
      unaryCol("graft_token_count_bpe", TextOps.tokenCountBpe(_)),
      unaryCol("graft_fingerprint", TextOps.fingerprint(_)),
      unaryCol("graft_simhash", c => TextOps.simhash64(TextOps.tokens(c))),
      unaryCol("graft_shingles", TextOps.tokenShingles(_)),
      // the r15-r17 crawl family — the whole page-cleaning chain
      unaryCol("graft_extract_html", TextOps.extractHtmlText(_)),
      unaryCol("graft_normalize_text", TextOps.normalizeUnicode(_)),
      unaryCol("graft_mojibake", TextOps.mojibakeScore(_)),
      unaryCol("graft_langid_cjk", TextOps.langIdCjk(_)),
      unaryCol("graft_token_count_cjk", TextOps.tokenCountCjk(_)),
      unaryCol("graft_redact", TextOps.redact(_)),
      unaryCol("graft_redact_pii", TextOps.redactPii(_)),
      unaryCol("graft_gopher_keep", TextOps.gopherKeep(_)),
      unaryCol("graft_canonical_url", TextOps.canonicalUrl(_)),
      // the r18 byte-level tokenizer family
      unaryCol("graft_pretokenize", TextOps.preTokenize(_)),
      unaryCol("graft_byte_units", c => TextOps.byteLevelUnits(TextOps.preTokenize(c))),
      // the r19 link-graph family
      unaryCol("graft_extract_hrefs", TextOps.extractHrefs(_)),
      shaped("graft_minhash", "text, k int literal") {
        case Seq(e, Literal(k: Int, _)) =>
          MinHashSignature(ex(TextOps.tokenShingles(ColumnBridge.column(e))), k)
      },
      // pairwise similarity: cosine over embeddings, Jaccard over texts
      binaryCol("graft_cosine", (a, b) => {
        val (ad, bd) = (Similarity.toDouble(a), Similarity.toDouble(b))
        Similarity.dot(ad, bd) / (Similarity.l2norm(ad) * Similarity.l2norm(bd))
      }),
      binaryCol("graft_jaro_winkler", jaro_winkler),
      binaryCol("graft_jaccard", (a, b) => {
        val sa = array_distinct(TextOps.tokenShingles(a))
        val sb = array_distinct(TextOps.tokenShingles(b))
        val inter = size(array_intersect(sa, sb)).cast("double")
        // NULL in, NULL out: with ANSI off, size(NULL) is -1, not NULL
        when(a.isNotNull && b.isNotNull,
          inter / ((size(sa) + size(sb)).cast("double") - inter))
      }),
      // the SRP sign signature, so a pure-SQL user can band/bucket
      // embeddings for LSH dedup/ANN the same way the Scala pipeline
      // does (identical md5-seeded planes)
      shaped("graft_srp", "vector, planes-literal, dim-literal") {
        case Seq(v, p, dim) if p.foldable && dim.foldable =>
          SrpSignature(Cast(v, ArrayType(DoubleType, containsNull = true)),
            intLit(p, "planes"), intLit(dim, "dim"))
      })
  }

  /** Every graft SQL function, name → builder, declared once:
    * [[registerAll]] registers them in one session and
    * [[GraftExtensions]] injects them into every session. */
  private[graft] def sqlFunctions: Seq[(String, Builder)] =
    aggregateFunctions ++ textFunctions

  private def register(spark: SparkSession, fns: Seq[(String, Builder)]): Unit =
    fns.foreach { case (name, f) => ColumnBridge.registerFunction(spark, name, f) }

  /** Register every graft SQL function in the session registry, and the
    * [[graft.plans.ExactRound]] rewrite in its optimizer. */
  def registerAll(spark: SparkSession): Unit = {
    ColumnBridge.addOptimizerRule(spark, graft.plans.ExactRound)
    register(spark, sqlFunctions)
  }

  /** Register only the text-pipeline and pairwise-similarity SQL
    * functions (a subset of [[registerAll]]). */
  def registerTextFunctions(spark: SparkSession): Unit =
    register(spark, textFunctions)

  /**
   * Drop-in compatibility with the reference's SQL names
   * (/root/reference/src/lib.rs:43-51): registers `mode`, `skewness`,
   * `kurtosis`, `kurtosis_pop` with the REFERENCE semantics, shadowing
   * Spark's built-ins for this session (Spark's `skewness`/`kurtosis`
   * are population statistics; the reference's are sample
   * bias-corrected). Opt-in on purpose — call it only when migrating
   * reference SQL verbatim. `max_by`/`min_by` are ALSO shadowed, with
   * the reference's null-key-WINS semantics (the `*_ref` builders
   * below) — which diverges from Spark's null-ignoring built-ins, and
   * affects ANY name-resolved `max_by`/`min_by` in the same session
   * (Spark 4's `functions.max_by` is `Column.fn`, i.e. registry
   * resolution). Library operators are immune: they build the Catalyst
   * MinBy/MaxBy nodes directly ([[max_by]]/[[min_by]]/[[max_by_det]]/
   * [[min_by_det]]), proven by the shadowed-session spec.
   */
  def registerReferenceNames(spark: SparkSession): Unit =
    register(spark, Seq(
      unary("mode", GraftMode(_)),
      unary("skewness", e => GraftSkewness(d(e))),
      unary("kurtosis", e => GraftKurtosis(d(e))),
      unary("kurtosis_pop", e => GraftKurtosisPop(d(e))),
      // max_by/min_by differ from Spark's built-ins in the reference: a
      // NULL ordering key WINS (last_value ... NULLS LAST rewrite,
      // max_min_by.rs:99,196) — verbatim-migrated SQL gets the snapshot
      // semantics via the *_ref builders, not the ignore-nulls built-ins
      binaryCol("max_by", max_by_ref),
      binaryCol("min_by", min_by_ref)))
}
