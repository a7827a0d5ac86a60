package graft.functions

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, DoubleType}

/**
 * Bounded per-group KMV state: the k smallest DISTINCT 32-bit hash
 * values. Held in a `long[]` of at most 2k entries whose first
 * `sorted` entries are sorted and distinct; an insert appends the hash
 * only if it is below the k-th smallest value held (once k are held),
 * and a full array is sorted, de-duplicated and cut back to the k
 * smallest. So an insert is an append and a compare; each compaction
 * sorts at most 2k longs and leaves at least half the array free.
 */
final class KmvBuffer(val k: Int) {
  private var vals = new Array[Long](math.min(16, 2 * k))
  private var n = 0
  private var sorted = 0
  // the k-th smallest value once k distinct values are held; an insert
  // at or above it can change nothing
  private var bound = Long.MaxValue

  def insert(h: Long): Unit =
    if (h < bound) {
      if (n == vals.length) {
        compact()
        if (n >= vals.length / 2 && vals.length < 2 * k)
          vals = java.util.Arrays.copyOf(vals, math.min(2 * vals.length, 2 * k))
      }
      if (h < bound) { vals(n) = h; n += 1 }
    }

  /** The held values, sorted and distinct (at most k of them). */
  def values: Array[Long] = {
    compact()
    java.util.Arrays.copyOf(vals, n)
  }

  private def compact(): Unit = if (sorted < n) {
    java.util.Arrays.sort(vals, 0, n)
    var w = 1
    var r = 1
    while (r < n && w < k) {
      if (vals(r) != vals(w - 1)) { vals(w) = vals(r); w += 1 }
      r += 1
    }
    n = w
    sorted = w
    if (n == k) bound = vals(k - 1)
  }
}

/**
 * Per-group KMV (k-minimum-values) distinct-count estimate as an
 * AGGREGATE: state is the k smallest distinct 32-bit md5 hashes of the
 * group's values; if the k-th smallest is m, the estimate is
 * (k−1)·2^32/m — exact (= |distinct hashes|) when the group has fewer
 * than k distinct values. Error ~1/√k.
 *
 * Why: `countDistinct(x) GROUP BY g` must shuffle every distinct
 * (g, x) pair — at 100 TB the distinct set itself is the bottleneck.
 * This aggregate ships AT MOST k longs per group per map task
 * (map-side combine merges sets), so the shuffle volume is bounded by
 * groups·k regardless of data size, and two sketches merge by set
 * union — the same property that makes the global
 * [[graft.ops.Sketches.kmvDistinct]] a portable artifact.
 *
 * The hash is the first 8 hex chars of md5 (identical to the SQL replay
 * `conv(substring(md5(x), 1, 8), 16, 10)`), so the estimate is
 * bit-identical in every engine. Null inputs are ignored (like
 * count distinct). Runs under ObjectHashAggregate with sort fallback.
 */
case class KmvDistinctAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvBuffer]
  with UnaryLike[Expression] {

  require(k >= 2 && k <= (1 << 20), s"k must be in [2, 2^20], got $k")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_kmv_distinct"

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.StringInput.check(prettyName, child.dataType)

  @transient private lazy val md = MessageDigest.getInstance("MD5")

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def update(buf: KmvBuffer, input: InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) {
      // Measured and dropped: hashing in place through getByteBuffer and
      // the no-arg digest() gave this aggregate no clear gain
      // (dev/bench_snaps/kernel_state.md).
      md.reset()
      val digest = md.digest(
        v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
      buf.insert(Md5.u32(digest, 0))
    }
    buf
  }

  override def merge(buf: KmvBuffer, other: KmvBuffer): KmvBuffer = {
    other.values.foreach(buf.insert)
    buf
  }

  override def eval(buf: KmvBuffer): Any = {
    val vals = buf.values
    val n = vals.length
    if (n == 0) null
    // same operation order as the SQL replay: (k-1)·2^32 (exact dyadic
    // product), then ONE division
    else if (n < k) n.toDouble
    else (k - 1).toDouble * 4294967296.0 / vals(n - 1).toDouble
  }

  // big-endian int count, then the values ascending
  override def serialize(buf: KmvBuffer): Array[Byte] = {
    val vals = buf.values
    val out = ByteBuffer.allocate(4 + 8 * vals.length).putInt(vals.length)
    vals.foreach(out.putLong)
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): KmvBuffer = {
    val in = ByteBuffer.wrap(bytes)
    val buf = new KmvBuffer(k)
    var i = in.getInt()
    while (i > 0) { buf.insert(in.getLong()); i -= 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvDistinctAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): KmvDistinctAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): KmvDistinctAgg =
    copy(child = newChild)
}
