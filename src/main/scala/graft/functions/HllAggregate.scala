package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * HyperLogLog distinct-count sketch as a Spark aggregate — the
 * `approx_count_distinct` shape of the reference's engine family
 * (DataFusion/DuckDB `approx_distinct`), built DETERMINISTIC: the hash
 * is md5, so the estimate is bit-replayable in any engine (Spark's
 * builtin `approx_count_distinct` uses xxHash64 seeds no other engine
 * reproduces — fine in production, unverifiable cross-engine).
 *
 * State: m = 2^b byte registers. For each value, two independent 32-bit
 * slices of md5(value): h1 (hex chars 1-8) picks the register
 * `h1 mod m`; h2 (hex chars 9-16) contributes
 * rho = 33 − bitlength(h2) (h2 = 0 → 33), and the register keeps the
 * max. Registers merge by element-wise max — the classic mergeable
 * sketch: O(m) state per group per map task regardless of input size,
 * vs countDistinct shuffling every distinct value.
 *
 * Estimate (operation order mirrored EXACTLY by the SQL replay):
 *   S = Σ_j 2^(33 − M[j])  — exact integer, ≤ m·2^33 (fits a long)
 *   E = α · m · m · 2^33 / S,   α = 0.7213 / (1 + 1.079 / m)
 *   if E ≤ 2.5·m and V (empty registers) > 0: E = m · ln(m / V)
 *   if E > 2^32/30: E = −2^32 · ln(1 − E/2^32)   (large-range: 32-bit
 *     hash collisions bias the raw estimate low past ~143M distinct)
 *   if E ≥ 2^32: E = 2^32   (saturation — a 32-bit hash slice cannot
 *     witness more than 2^32 distinct values; beyond that the sketch
 *     is blind and reports its ceiling rather than a fabricated number)
 * The integer-domain S makes the harmonic mean order-free under any
 * partitioning; the only transcendental (ln) feeds a 2-dp rounding in
 * the gate query. Standard error ≈ 1.04/√m. Nulls ignored.
 */
case class HllSketchAgg(
    child: Expression,
    b: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends HllRegisterState {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_hll"

  override def eval(buf: Array[Byte]): Any = HllEstimator.estimate(buf)

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): HllSketchAgg =
    copy(child = newChild)
}

/**
 * The state of the three HLL aggregates: m = 2^b byte registers, a
 * string input hashed into them (see [[HllSketchAgg]]), merged by
 * element-wise max and serialized as the register array itself.
 */
private[graft] abstract class HllRegisterState
  extends TypedImperativeAggregate[Array[Byte]]
  with UnaryLike[Expression] with Serializable {
  // Serializable: a task deserializes the aggregate without running this
  // constructor, whose require would read `b` before it is restored

  def b: Int

  require(b >= 4 && b <= 14, s"b must be in [4, 14], got $b")
  protected val m: Int = 1 << b

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.StringInput.check(prettyName, child.dataType)

  @transient private lazy val md = MessageDigest.getInstance("MD5")

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      md.reset()
      val digest = md.digest(v.asInstanceOf[UTF8String].getBytes)
      val bucket = (Md5.u32(digest, 0) % m).toInt
      // rho = 33 − bitlength(h2); nlz of the 32-bit pattern + 1 (h2=0 → 33)
      val rho = (Integer.numberOfLeadingZeros(Md5.u32(digest, 4).toInt) + 1).toByte
      if (rho > buf(bucket)) buf(bucket) = rho
    }
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) {
      if (other(i) > buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def serialize(buf: Array[Byte]): Array[Byte] = buf

  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes
}

/** The shared HLL estimator (see [[HllSketchAgg]] for the formula and
  * the correction/saturation branches; m = buf.length). */
object HllEstimator {
  def estimate(buf: Array[Byte]): Double = {
    val m = buf.length
    // integer-domain harmonic sum: Σ 2^(33 − M[j]) — exact, order-free
    var s = 0L
    var zeros = 0
    var i = 0
    while (i < m) {
      s += 1L << (33 - buf(i))
      if (buf(i) == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val raw = alpha * m * m * 8589934592.0 / s.toDouble
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
    else if (raw >= 4294967296.0) 4294967296.0
    else if (raw > 4294967296.0 / 30.0)
      -4294967296.0 * math.log(1.0 - raw / 4294967296.0)
    else raw
  }
}

/**
 * The REGISTERS of an HLL sketch as a value: the update/merge of
 * [[HllSketchAgg]], but eval emits the m-byte register array instead of
 * the estimate. This is the materialization half of the two-phase
 * rolling-distinct pattern: per-bucket sketches are tiny (2^b bytes),
 * so downstream window/rollup merges ([[HllMergeAgg]]) run on a frame
 * of #buckets rows — never re-touching the raw data.
 */
case class HllRegistersAgg(
    child: Expression,
    b: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends HllRegisterState {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hll_registers"

  // copy: the mutable buffer must not escape into the output row
  override def eval(buf: Array[Byte]): Any = buf.clone()

  override def withNewMutableAggBufferOffset(newOffset: Int): HllRegistersAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllRegistersAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllRegistersAgg =
    copy(child = newChild)
}

/**
 * Merge of [[HllRegistersAgg]] register arrays → distinct estimate:
 * element-wise max over the input sketches, then the shared estimator.
 * Null inputs are skipped (so a `when(...)`-masked column selects which
 * sketches participate). The mergeability is the whole point: a rolling
 * 7-day WAU merges 7 tiny sketches per day instead of re-aggregating
 * 7× the raw user-day stream.
 */
case class HllMergeAgg(
    child: Expression,
    b: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends HllRegisterState {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_hll_merge"

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.HllRegisters.check(prettyName, child.dataType)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val regs = v.asInstanceOf[Array[Byte]]
      require(regs.length == m,
        s"register length ${regs.length} does not match 2^$b = $m")
      merge(buf, regs)
    } else buf
  }

  override def eval(buf: Array[Byte]): Any = HllEstimator.estimate(buf)

  override def withNewMutableAggBufferOffset(newOffset: Int): HllMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllMergeAgg =
    copy(child = newChild)
}
