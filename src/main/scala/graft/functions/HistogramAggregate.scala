package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/**
 * Fixed-grid histogram aggregate: bin counts over [lo, hi) with
 * `nbins` equal-width bins (underflow clamps to bin 0, overflow to the
 * last bin — identical clamping to [[graft.ops.Sketches.quantileSketch]],
 * whose batch composition this aggregate turns into ONE mergeable
 * state). O(nbins) long state per group, element-wise-sum merge — the
 * shape Structured Streaming needs for windowed quantile estimation:
 * one bounded array per open window in the state store, vs the
 * unbounded per-window value set an exact quantile would hold.
 *
 * Null/NaN inputs are skipped (the quantileSketch rule). Returns the
 * raw array<long> of counts; quantile extraction is a deterministic
 * projection over the array (see `EventStreams.windowedQuantiles`),
 * so the streamed estimate replays bit-for-bit in any engine.
 */
case class HistogramAgg(
    child: Expression,
    lo: Double,
    hi: Double,
    nbins: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  require(nbins >= 2 && nbins <= (1 << 20), s"nbins must be in [2, 2^20], got $nbins")
  require(hi > lo, s"bad histogram range [$lo, $hi)")
  private val w = (hi - lo) / nbins

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_histogram"

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.DoubleInput.check(prettyName, child.dataType)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nbins)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val d = v.asInstanceOf[Double]
      if (!d.isNaN) {
        val bin = math.min(nbins - 1L, math.max(0L, math.floor((d - lo) / w).toLong)).toInt
        buf(bin) += 1L
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < nbins) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * nbins)
    buf.foreach(bb.putLong)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(nbins)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HistogramAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistogramAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HistogramAgg =
    copy(child = newChild)
}
