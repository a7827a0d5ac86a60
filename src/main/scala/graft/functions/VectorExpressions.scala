package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** The `planes` md5-seeded hyperplane dot products of an
  * `array<double>` of length `dim`, shared by [[SrpSignature]] and
  * [[RandomProjection]]. */
private[graft] abstract class PlaneProjection
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback with Serializable {
  // Serializable: a task deserializes the kernel without running this
  // constructor, whose requires would read the fields before they are restored

  def planes: Int
  def dim: Int

  require(planes > 0 && planes <= 1024, s"planes must be in [1,1024], got $planes")
  require(dim > 0 && dim <= 65536, s"dim must be in [1,65536], got $dim")

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.Doubles.check(prettyName, child.dataType)

  @transient private lazy val weights = PlaneMatrix(planes, dim)

  protected final def project(v: Any): Array[Double] =
    PlaneMatrix.project(prettyName, v, weights, planes, dim)
}

/**
 * One-pass signed-random-projection signature: the '0'/'1' sign string
 * of `planes` md5-seeded hyperplane dot products over an
 * `array<double>` vector. Replaces `planes` separate [[DotProduct]]
 * expressions + a `concat` (each with its own per-row null/length
 * checks and literal-array handling) with ONE kernel over the shared
 * [[PlaneMatrix]].
 *
 * BIT-IDENTICAL contract: each plane's dot is the same ascending-index
 * left fold as [[DotProduct]], sign is `>= 0` — so signatures (and
 * therefore LSH buckets, candidate pairs, and the DuckDB oracle replay)
 * are unchanged to the bit. CodegenFallback: one eval call does all
 * planes, so dispatch is paid once per row, not per plane.
 */
case class SrpSignature(child: Expression, planes: Int, dim: Int)
  extends PlaneProjection {

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "graft_srp_signature"

  override protected def nullSafeEval(v: Any): Any = {
    val acc = project(v)
    val out = new Array[Byte](planes)
    var p = 0
    while (p < planes) {
      out(p) = if (acc(p) >= 0) '1' else '0'
      p += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SrpSignature =
    copy(child = newChild)
}

/**
 * Codegen'd left-fold dot product over two `array<double>` columns.
 *
 * Why a custom Catalyst expression: the equivalent
 * `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,x) -> acc+x)` is a
 * higher-order expression — interpreted per element, boxed, and excluded
 * from whole-stage codegen. For ANN scans that evaluate millions of pairs
 * (the reference's workload at 100 TB is exactly that), the generated
 * tight `for` loop below is 1-2 orders of magnitude faster and keeps the
 * surrounding filter/project inside one WholeStageCodegen span.
 *
 * Summation is a strict left fold in element order — bit-identical to the
 * HOF form and to the DuckDB oracle's `list_reduce` replay.
 */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> arguments, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // fail LOUDLY on a dimension mismatch: a silent min-length truncation
    // would typecheck, run, and quietly produce wrong similarities (e.g. a
    // fixed-dim LSH plane against a different embedding dim)
    if (y.numElements() != n) {
      throw new IllegalArgumentException(
        s"$prettyName: vector length mismatch (${n} vs ${y.numElements()})")
    }
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "graft_dot: vector length mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

private[functions] object DenseVector {
  /** Rejects a vector with a null element, which the vector aggregates
    * cannot add. */
  def requireNoNulls(kernel: String, arr: ArrayData): Unit = {
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (arr.isNullAt(i)) {
        throw new IllegalArgumentException(
          s"$kernel: null element at position $i — dense vectors required")
      }
      i += 1
    }
  }
}

/** Mutable (element-wise sums, row count) state of [[VectorMean]]. */
final class VectorMeanBuffer(var sums: Array[Double], var n: Long)

/**
 * Element-wise mean of an `array<double>` column — ONE hash-keyed shuffle
 * of O(dim) state per group, with map-side partial aggregation.
 *
 * Why an aggregate: the compositional form (posexplode → groupBy(key,pos)
 * → avg → regroup by key) shuffles dim rows per input row and needs TWO
 * shuffles; this buffer ships one (sums[dim], count) pair per group per
 * map task — at 100 TB, dim× less shuffle volume and half the stages.
 * Runs under ObjectHashAggregate (sort-based fallback under pressure).
 *
 * Null vectors are ignored (like avg over an absent row); a dimension
 * mismatch between rows throws — silently mixing dims would corrupt the
 * centroid (same rule as [[DotProduct]]).
 */
case class VectorMean(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VectorMeanBuffer]
  with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_vector_mean"

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.Doubles.check(prettyName, child.dataType)

  override def createAggregationBuffer(): VectorMeanBuffer =
    new VectorMeanBuffer(null, 0L)

  private def addInto(buf: VectorMeanBuffer, arr: Array[Double], rows: Long): Unit = {
    if (buf.sums == null) {
      buf.sums = arr.clone()
      buf.n = rows
    } else {
      if (arr.length != buf.sums.length) {
        throw new IllegalArgumentException(
          s"$prettyName: vector length mismatch (${buf.sums.length} vs ${arr.length})")
      }
      var i = 0
      while (i < arr.length) { buf.sums(i) += arr(i); i += 1 }
      buf.n += rows
    }
  }

  override def update(buf: VectorMeanBuffer, input: InternalRow): VectorMeanBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      // null ELEMENTS are rejected loudly (a partial vector has no
      // well-defined mean contribution; a silent skip would bias the
      // centroid) — null VECTORS are skipped like avg over absent rows
      DenseVector.requireNoNulls(prettyName, arr)
      // empty arrays contribute nothing (like posexplode of an empty
      // list) rather than seeding a zero-dim buffer that would trip the
      // mismatch check against real vectors
      if (arr.numElements() > 0) addInto(buf, arr.toDoubleArray(), 1L)
    }
    buf
  }

  override def merge(buf: VectorMeanBuffer, other: VectorMeanBuffer): VectorMeanBuffer = {
    if (other.sums != null) addInto(buf, other.sums, other.n)
    buf
  }

  override def eval(buf: VectorMeanBuffer): Any = {
    if (buf.sums == null || buf.n == 0L) return null
    val out = new Array[Double](buf.sums.length)
    var i = 0
    while (i < out.length) { out(i) = buf.sums(i) / buf.n; i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: VectorMeanBuffer): Array[Byte] = Serde.write { out =>
    if (buf.sums == null) out.writeInt(-1)
    else {
      out.writeInt(buf.sums.length)
      out.writeLong(buf.n)
      var i = 0
      while (i < buf.sums.length) { out.writeDouble(buf.sums(i)); i += 1 }
    }
  }

  override def deserialize(bytes: Array[Byte]): VectorMeanBuffer = {
    val in = Serde.reader(bytes)
    val dim = in.readInt()
    if (dim < 0) new VectorMeanBuffer(null, 0L)
    else {
      val n = in.readLong()
      val sums = new Array[Double](dim)
      var i = 0
      while (i < dim) { sums(i) = in.readDouble(); i += 1 }
      new VectorMeanBuffer(sums, n)
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorMean =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): VectorMean =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): VectorMean =
    copy(child = newChild)
}

/** Mutable state of [[VectorOuterSum]]: dim, row count, element sums,
  * and the upper-triangular product sums (d(d+1)/2 entries, row-major
  * over i ≤ j). All exact longs. */
final class VectorOuterBuffer(
    var d: Int, var n: Long, var s: Array[Long], var p: Array[Long])

/**
 * One-pass exact sufficient statistics for the COVARIANCE MATRIX of a
 * quantized `array<bigint>` embedding column: row count n, per-dimension
 * sums Σxᵢ, and all upper-triangular product sums Σxᵢxⱼ — everything a
 * caller needs to form cov(i,j) = (n·Σxᵢxⱼ − Σxᵢ·Σxⱼ)/n² exactly (the
 * PCA/whitening prep step of an embedding pipeline).
 *
 * Why an aggregate: the compositional form (posexplode to (pos, value)
 * → self-join on the row id → groupBy (i, j)) shuffles d² rows PER
 * INPUT ROW; this buffer ships one O(d²) state per map task — at 100 TB
 * and d = 64 that is 2 080 longs per task instead of 4 096 rows per
 * vector. Runs under ObjectHashAggregate (sort-based fallback under
 * pressure), map-side combinable, merge is element-wise addition.
 *
 * Exactness: inputs are caller-quantized integers (see
 * [[graft.ops.Similarity.embedCovariance]] — SQL `round(x·scale)` on
 * both engines, never a Scala-side rounding), every sum/product is
 * `Math.addExact`/`multiplyExact` — overflow fails LOUDLY with the
 * quantization scale as the caller's lever, never a silent wrap. The
 * result is order-free under any partitioning (integer addition
 * commutes), so the statistic is engine-replayable to the bit.
 *
 * Null vectors are ignored (like sum over an absent row); null ELEMENTS
 * and dimension mismatches throw — silently mixing dims would corrupt
 * every pair sum (the [[VectorMean]] rule). Empty input → NULL.
 */
case class VectorOuterSum(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VectorOuterBuffer]
  with UnaryLike[Expression] {

  import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("sums", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("prods", ArrayType(StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("j", IntegerType, nullable = false),
      StructField("sij", LongType, nullable = false))),
      containsNull = false), nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_vector_outer_sum"

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.QuantizedLongs.check(prettyName, child.dataType)

  override def createAggregationBuffer(): VectorOuterBuffer =
    new VectorOuterBuffer(0, 0L, null, null)

  private def init(buf: VectorOuterBuffer, d: Int): Unit = {
    buf.d = d
    buf.s = new Array[Long](d)
    buf.p = new Array[Long](d * (d + 1) / 2)
  }

  override def update(buf: VectorOuterBuffer, input: InternalRow): VectorOuterBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val d = arr.numElements()
      DenseVector.requireNoNulls(prettyName, arr)
      if (d > 0) {
        if (buf.s == null) init(buf, d)
        else if (buf.d != d) {
          throw new IllegalArgumentException(
            s"$prettyName: vector length mismatch (${buf.d} vs $d)")
        }
        val x = arr.toLongArray()
        var i = 0
        var k = 0
        while (i < d) {
          buf.s(i) = Math.addExact(buf.s(i), x(i))
          var j = i
          while (j < d) {
            buf.p(k) = Math.addExact(buf.p(k), Math.multiplyExact(x(i), x(j)))
            k += 1
            j += 1
          }
          i += 1
        }
        buf.n += 1L
      }
    }
    buf
  }

  override def merge(buf: VectorOuterBuffer, other: VectorOuterBuffer): VectorOuterBuffer = {
    if (other.s != null) {
      if (buf.s == null) init(buf, other.d)
      else if (buf.d != other.d) {
        throw new IllegalArgumentException(
          s"$prettyName: vector length mismatch (${buf.d} vs ${other.d})")
      }
      var i = 0
      while (i < buf.s.length) {
        buf.s(i) = Math.addExact(buf.s(i), other.s(i)); i += 1
      }
      i = 0
      while (i < buf.p.length) {
        buf.p(i) = Math.addExact(buf.p(i), other.p(i)); i += 1
      }
      buf.n += other.n
    }
    buf
  }

  override def eval(buf: VectorOuterBuffer): Any = {
    if (buf.s == null || buf.n == 0L) return null
    val prods = new Array[Any](buf.p.length)
    var i = 0
    var k = 0
    while (i < buf.d) {
      var j = i
      while (j < buf.d) {
        prods(k) = InternalRow(i, j, buf.p(k))
        k += 1
        j += 1
      }
      i += 1
    }
    InternalRow(buf.n, new GenericArrayData(buf.s.map(l => l: Any)),
      new GenericArrayData(prods))
  }

  override def serialize(buf: VectorOuterBuffer): Array[Byte] = Serde.write { out =>
    if (buf.s == null) out.writeInt(-1)
    else {
      out.writeInt(buf.d)
      out.writeLong(buf.n)
      var i = 0
      while (i < buf.s.length) { out.writeLong(buf.s(i)); i += 1 }
      i = 0
      while (i < buf.p.length) { out.writeLong(buf.p(i)); i += 1 }
    }
  }

  override def deserialize(bytes: Array[Byte]): VectorOuterBuffer = {
    val in = Serde.reader(bytes)
    val d = in.readInt()
    if (d < 0) new VectorOuterBuffer(0, 0L, null, null)
    else {
      val buf = new VectorOuterBuffer(0, 0L, null, null)
      init(buf, d)
      buf.n = in.readLong()
      var i = 0
      while (i < buf.s.length) { buf.s(i) = in.readLong(); i += 1 }
      i = 0
      while (i < buf.p.length) { buf.p(i) = in.readLong(); i += 1 }
      buf
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorOuterSum =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): VectorOuterSum =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): VectorOuterSum =
    copy(child = newChild)
}

/**
 * Johnson-Lindenstrauss RANDOM PROJECTION to `planes` dimensions — the
 * continuous sibling of [[SrpSignature]]: the same md5-seeded
 * [[PlaneMatrix]] hyperplanes, but emitting the raw dot products as
 * an `array<double>` instead of their sign bits.
 * Reducing d → k before ANN/clustering shrinks a 100 TB embedding
 * table by d/k while approximately preserving pairwise distances
 * (JL lemma); downstream cosine/IVF then runs on the short vectors.
 *
 * BIT-IDENTICAL contract (the [[SrpSignature]] discipline): each
 * output element is the same ascending-index left fold over the same
 * md5-derived weights, so any engine replays it exactly — rounding
 * and −0.0 normalization happen in the CALLER's projection
 * ([[graft.ops.Similarity.randomProject]]), mirrored in the oracle.
 * CodegenFallback: one eval does all planes.
 */
case class RandomProjection(child: Expression, planes: Int, dim: Int)
  extends PlaneProjection {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_random_projection"

  override protected def nullSafeEval(v: Any): Any = new GenericArrayData(project(v))

  override protected def withNewChildInternal(newChild: Expression): RandomProjection =
    copy(child = newChild)
}

/**
 * Argmax-cosine seed assignment in ONE kernel call per row — the IVF
 * quantizer's hot loop. The naive declarative form joins the corpus
 * with the k-row seed frame (N·k joined rows, each carrying BOTH
 * 64-double vectors through the join and into a grouped argmax — the
 * measured 500 s wall at the ×100 probe); this kernel receives the
 * WHOLE seed matrix once per row from a broadcast 1-row frame and runs
 * the k·dim multiply-adds in a tight loop, so only (vec_id, cell) ever
 * leaves the scan stage.
 *
 * BIT-IDENTICAL contract with the joined form it replaces (and the
 * DuckDB oracle's CROSS JOIN + row_number replay): per seed p, cos =
 * round(dot(v, seed_p) / (nrm · snrm_p), 6) with the ascending-index
 * left-fold dot ([[DotProduct]] order) and Spark's HALF_UP double
 * round (NaN/±Inf pass through unrounded, compared Double.compare-wise
 * — NaN greatest, Spark's sort order); winner = max cos, ties → the
 * SMALLEST position. Returns the 0-based position into the seed
 * arrays; callers map position → cell id (dense seeds: position IS the
 * cell). Children: (v array<double>, nrm double, seedVecs
 * array<array<double>>, seedNorms array<double>). Null/empty seed
 * array or null vector → null. A dim mismatch throws.
 */
case class NearestSeed(
    vec: Expression, nrm: Expression, seedVecs: Expression,
    seedNorms: Expression,
    subOffset: Int = -1, subLen: Int = -1, augBias: Boolean = false)
  extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  // r18 SUBSPACE mode (subOffset >= 0): score seed p as
  //   acc = SUM_{d<subLen} vec(subOffset+d) * seed_p(d)   [+ seed_p(subLen) if augBias]
  // — the identical left-fold float order the old call sites produced
  // by materializing concat(slice(vec, subOffset+1, subLen), [1.0]) per
  // row per subspace (interpreted Slice+Concat+Transform allocations on
  // every row of the PQ encode path; this folds them into the kernel).
  // seedNorms is evaluated LAZILY — only when the seed matrix cache
  // misses — so a per-row norms expression (the transform-to-ones idiom)
  // costs once per matrix, not once per row.
  //
  // CONTRACT (r19, pinning the r18 ADVICE finding): seedNorms MUST be a
  // pure function of seedVecs (every call site derives it from the seed
  // matrix — transform-to-ones or the collected snrm column). Because
  // of the lazy eval, a seedNorms expression that varied independently
  // of seedVecs would be consulted only on matrix-cache misses: a row
  // whose seedNorms evaluates to null (or to different norms) under a
  // warm cache would silently reuse the cached norms instead. Spec-
  // pinned in Round19KernelSpec ("warm cache ignores a changed
  // seedNorms until the matrix changes").

  import org.apache.spark.sql.types.IntegerType

  override def first: Expression = vec
  override def second: Expression = nrm
  override def third: Expression = seedVecs
  override def fourth: Expression = seedNorms

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_seed"

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, nrm.dataType, seedVecs.dataType, seedNorms.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType,
            ArrayType(ArrayType(DoubleType, _), _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, double, array<array<double>>, " +
          s"array<double>), got ${children.map(_.dataType.catalogString).mkString(", ")}")
    }

  /** Spark Round(_, 6) on a double: BigDecimal HALF_UP for finite
    * values, pass-through for NaN/±Inf. */
  private def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  // The seed matrix arrives from a 1-row broadcast, so every row of a
  // task reads the SAME underlying bytes: unpack them to a flat
  // primitive matrix ONCE and reuse (without this, the hot loop walks
  // k nested getDouble accessors per row — measured 69 s for 200k
  // rows × 447 seeds at the ×100 probe vs pure multiply-adds after).
  // UnsafeRow.getArray allocates a FRESH UnsafeArrayData wrapper per
  // call, so the cache keys on the wrapper's (baseObject, baseOffset)
  // — the broadcast buffer identity — not the wrapper reference; any
  // other ArrayData falls back to reference identity. Buffer identity
  // alone is NOT sufficient: a per-row-computed seed column flowing
  // through an UnsafeProjection reuses one BufferHolder array at the
  // same offset with DIFFERENT bytes per row — so a cache hit is
  // additionally verified against the stored size-in-bytes and two
  // sampled corner words of the matrix (cheap: O(1) accessor reads vs
  // the O(k·dim) unpack). A different seed matrix re-unpacks correctly
  // either way. Expression instances are per-task after
  // deserialization, so the mutable cache is single-threaded.
  @transient private var cachedBase: AnyRef = _
  @transient private var cachedOff: Long = _
  @transient private var cachedSize: Long = _
  @transient private var cachedSum: Long = _
  @transient private var cachedFlat: Array[Double] = _
  @transient private var cachedNorms: Array[Double] = _
  @transient private var cachedDim: Int = _
  @transient private var cachedK: Int = _

  private def cacheKey(a: ArrayData): (AnyRef, Long) = a match {
    case u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =>
      (u.getBaseObject, u.getBaseOffset)
    case other => (other.asInstanceOf[AnyRef], -1L)
  }

  private def cacheSize(a: ArrayData): Long = a match {
    case u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =>
      u.getSizeInBytes.toLong
    case _ => -1L
  }

  /** FNV-1a-style fold over EVERY word of the Unsafe buffer. A
    * single-word rewrite always changes the fold (each step is a
    * bijection of the running state), so a same-size same-buffer
    * rewrite anywhere in the matrix forces a re-unpack. Cost is one
    * linear raw-long scan per row — the same memory traffic as the
    * scoring pass itself and zero allocation, so the cache's actual
    * win (no per-element UnsafeArrayData wrapper churn) is preserved.
    * Non-Unsafe ArrayData is keyed by reference identity already, so 0
    * is fine there. */
  private def fullChecksum(a: ArrayData): Long = a match {
    case u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =>
      val base = u.getBaseObject
      val off = u.getBaseOffset
      val size = u.getSizeInBytes
      var acc = -3750763034362895579L // FNV-1a 64 offset basis
      var p = 0L
      while (p + 8 <= size) {
        acc = (acc ^
          org.apache.spark.unsafe.Platform.getLong(base, off + p)) *
          1099511628211L
        p += 8
      }
      while (p < size) {
        acc = (acc ^
          org.apache.spark.unsafe.Platform.getByte(base, off + p)) *
          1099511628211L
        p += 1
      }
      acc
    case _ => 0L
  }

  /** Content check for a buffer-identity cache hit: same k/dim and the
    * first and last matrix elements bit-match what was unpacked. */
  private def cacheContentMatches(seeds: ArrayData): Boolean = {
    if (seeds.numElements() != cachedK) return false
    if (cachedK == 0) return true
    val first = seeds.getArray(0)
    if (first.numElements() != cachedDim) return false
    if (cachedDim == 0) return true
    java.lang.Double.doubleToRawLongBits(first.getDouble(0)) ==
      java.lang.Double.doubleToRawLongBits(cachedFlat(0)) &&
    java.lang.Double.doubleToRawLongBits(
        seeds.getArray(cachedK - 1).getDouble(cachedDim - 1)) ==
      java.lang.Double.doubleToRawLongBits(cachedFlat(cachedK * cachedDim - 1))
  }

  private def unpack(seeds: ArrayData, norms0: ArrayData): Unit = {
    val k = seeds.numElements()
    require(norms0.numElements() == k,
      s"$prettyName: seedNorms length ${norms0.numElements()} != seedVecs length $k")
    val dim = if (k == 0) 0 else seeds.getArray(0).numElements()
    val flat = new Array[Double](k * dim)
    var p = 0
    while (p < k) {
      val sv = seeds.getArray(p)
      require(sv.numElements() == dim,
        s"$prettyName: ragged seed matrix (${sv.numElements()} vs $dim)")
      var d = 0
      while (d < dim) {
        flat(p * dim + d) = sv.getDouble(d)
        d += 1
      }
      p += 1
    }
    val (b, o) = cacheKey(seeds)
    cachedBase = b
    cachedOff = o
    cachedSize = cacheSize(seeds)
    cachedSum = fullChecksum(seeds)
    cachedFlat = flat
    cachedNorms = norms0.toDoubleArray()
    cachedDim = dim
    cachedK = k
  }

  override def eval(input: InternalRow): Any = {
    val v0 = vec.eval(input)
    val n0 = nrm.eval(input)
    val s0 = seedVecs.eval(input)
    if (v0 == null || n0 == null || s0 == null) return null
    val v = v0.asInstanceOf[ArrayData].toDoubleArray()
    val n = n0.asInstanceOf[Double]
    val seeds = s0.asInstanceOf[ArrayData]
    // guard order (r17, closing the r14 ADVICE finding): the O(1)
    // checks — buffer identity, size, k/dim shape, two corner samples —
    // run first, so a changed matrix re-unpacks without paying a wasted
    // O(k·dim) checksum scan; the full FNV fold runs ONLY when every
    // cheap guard passed, as the final confirm (it subsumes the corner
    // samples, which exist to fail fast, not to re-verify after it).
    // On a true hit the fold still runs — that is the contract the r13
    // regression spec pinned (same-size same-corner middle rewrites
    // through a reused BufferHolder MUST force a re-unpack).
    val (kb, ko) = cacheKey(seeds)
    if (!((kb eq cachedBase) && ko == cachedOff &&
        cacheSize(seeds) == cachedSize &&
        cacheContentMatches(seeds) &&
        fullChecksum(seeds) == cachedSum)) {
      val sn0 = seedNorms.eval(input)
      if (sn0 == null) return null
      unpack(seeds, sn0.asInstanceOf[ArrayData])
    }
    val k = cachedK
    if (k == 0) return null
    val sub = subOffset >= 0
    val dim = if (sub) subLen else cachedDim
    if (sub) {
      require(cachedDim == subLen + (if (augBias) 1 else 0),
        s"$prettyName: seed dim $cachedDim != subLen $subLen (+bias $augBias)")
      require(v.length >= subOffset + subLen,
        s"$prettyName: vector length ${v.length} < subspace end ${subOffset + subLen}")
    } else require(v.length == cachedDim,
      s"$prettyName: vector length mismatch (${v.length} vs seed $cachedDim)")
    val off = if (sub) subOffset else 0
    val flat = cachedFlat
    val norms = cachedNorms
    // pass 1: RAW cosines (one scratch buffer, reused across rows) and
    // the raw max under Double.compare (NaN greatest — Spark's order)
    if (scratch == null || scratch.length < k) scratch = new Array[Double](k)
    var rawMax = 0.0
    var any = false
    var p = 0
    while (p < k) {
      var acc = 0.0
      val base = p * cachedDim
      var d = 0
      while (d < dim) {
        acc += v(off + d) * flat(base + d)
        d += 1
      }
      if (sub && augBias) acc += flat(base + dim)
      val cos = acc / (n * norms(p))
      scratch(p) = cos
      if (!any || java.lang.Double.compare(cos, rawMax) > 0) {
        rawMax = cos
        any = true
      }
      p += 1
    }
    // pass 2: ROUNDING (the contract compares 6-dp values) is monotone,
    // so only raw cosines within one rounding bucket of the raw max can
    // share its rounded value — round just those few instead of paying
    // a BigDecimal per (row, seed). Ties -> smallest position.
    val floor = if (java.lang.Double.isNaN(rawMax) ||
      java.lang.Double.isInfinite(rawMax)) rawMax else rawMax - 2e-6
    var best = -1
    var bestCos = 0.0
    p = 0
    while (p < k) {
      if (java.lang.Double.compare(scratch(p), floor) >= 0) {
        val cos = round6(scratch(p))
        if (best < 0 || java.lang.Double.compare(cos, bestCos) > 0) {
          best = p
          bestCos = cos
        }
      }
      p += 1
    }
    best
  }

  @transient private var scratch: Array[Double] = _

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression,
      q: Expression): NearestSeed =
    copy(vec = f, nrm = s, seedVecs = t, seedNorms = q)
}

/**
 * Element-wise `arr(i) / s` with real codegen — replaces the
 * interpreted `transform(v, x => x / nrm)` unit-normalization HOF on
 * corpus-hot paths (Catalyst higher-order functions are CodegenFallback
 * and allocate a lambda frame per element; r18 measurement: the
 * normalize projection was a visible slice of every PQ/ANN query).
 * IEEE division in array order — bit-identical to the HOF form.
 * Null array → null; a null ELEMENT throws (r19 — getDouble on a null
 * slot would silently read garbage; the old transform HOF propagated
 * element nulls, but every call site is a dense vector by the
 * [[DotProduct]] rule, so loud is the safe contract). Null scalar is
 * unreachable at call sites (callers filter nrm > 0) and returns null.
 */
case class ArrayDivScalar(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "graft_array_div"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, double), got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val s = b.asInstanceOf[Double]
    val n = x.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) throw new IllegalArgumentException(
        s"$prettyName: null element at index $i (dense vector required)")
      out(i) = x.getDouble(i) / s; i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, s) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "$prettyName: null element at index " + $i + " (dense vector required)");
         |  }
         |  $out[$i] = $a.getDouble($i) / $s;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDivScalar =
    copy(left = newLeft, right = newRight)
}

/**
 * Element-wise `a(i) ± b(i)` with real codegen — replaces the
 * interpreted `zip_with(a, b, (x, y) => x ± y)` on the IVFADC hot
 * paths (residual computation over the corpus; centroid+codeword
 * reconstruction per scored row — zip_with is CodegenFallback and its
 * fallback island re-evaluates the whole element_at/array_position
 * child chain interpreted, per row, twice per subspace). IEEE ops in
 * array order — bit-identical where lengths match; a length mismatch
 * throws loudly instead of zip_with's null padding, and so does a null
 * ELEMENT (r19 — getDouble on a null slot reads garbage silently; both
 * are unreachable at call sites: dim-checked dense vectors only).
 */
case class ZipArith(left: Expression, right: Expression, add: Boolean)
  extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = if (add) "graft_zip_add" else "graft_zip_sub"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double>, got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) throw new IllegalArgumentException(
      s"$prettyName: vector length mismatch ($n vs ${y.numElements()})")
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) throw new IllegalArgumentException(
        s"$prettyName: null element at index $i (dense vectors required)")
      out(i) = if (add) x.getDouble(i) + y.getDouble(i)
        else x.getDouble(i) - y.getDouble(i)
      i += 1
    }
    new GenericArrayData(out)
  }

  // the template stays apart from ArrayDivScalar's: one template with
  // hooks for the second array would make the generated Java harder to read
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val op = if (add) "+" else "-"
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "$prettyName: vector length mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "$prettyName: null element at index " + $i + " (dense vectors required)");
         |  }
         |  $out[$i] = $a.getDouble($i) $op $b.getDouble($i);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZipArith =
    copy(left = newLeft, right = newRight)
}
