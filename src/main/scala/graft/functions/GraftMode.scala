package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.types._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Per-group mode state: an open-addressing map from value to count.
 * Keys are the boxed Catalyst values, compared with `equals` (binary for
 * strings); counts sit in a parallel `long[]`, so adding a row is one
 * probe that either bumps a count in place or claims an empty slot.
 */
final class ModeCounts {
  private var keys = new Array[AnyRef](8)
  private var counts = new Array[Long](8)
  private var n = 0

  /** Adds `c` to the count of `k`. A string is copied only when it
    * becomes a new key: the one passed in may alias a reused row buffer. */
  def add(k: AnyRef, c: Long): Unit = {
    val mask = keys.length - 1
    var i = slot(k, mask)
    while (keys(i) != null && !keys(i).equals(k)) i = (i + 1) & mask
    if (keys(i) != null) counts(i) += c
    else {
      keys(i) = k match {
        case s: UTF8String => s.copy()
        case o => o
      }
      counts(i) = c
      n += 1
      if (2 * n > keys.length) grow()
    }
  }

  def foreach(f: (AnyRef, Long) => Unit): Unit = {
    var i = 0
    while (i < keys.length) {
      if (keys(i) != null) f(keys(i), counts(i))
      i += 1
    }
  }

  // spreads the small consecutive hash codes of boxed ints over the table
  private def slot(k: AnyRef, mask: Int): Int = {
    val h = k.hashCode * 0x9e3779b9
    (h ^ (h >>> 16)) & mask
  }

  private def grow(): Unit = {
    val (oldKeys, oldCounts) = (keys, counts)
    keys = new Array[AnyRef](oldKeys.length * 2)
    counts = new Array[Long](oldKeys.length * 2)
    val mask = keys.length - 1
    var j = 0
    while (j < oldKeys.length) {
      val k = oldKeys(j)
      if (k != null) {
        var i = slot(k, mask)
        while (keys(i) != null) i = (i + 1) & mask
        keys(i) = k
        counts(i) = oldCounts(j)
      }
      j += 1
    }
  }
}

/** How one value of a physical type is sized, written and read. */
private[functions] final case class ValueCodec(
    width: AnyRef => Int, write: (ByteBuffer, AnyRef) => Unit, read: ByteBuffer => AnyRef)

/**
 * `mode(x)` — most frequent value; NULLs ignored; empty input → NULL.
 *
 * Tie-break matches the reference exactly:
 *  - primitives/dates/times/floats: greatest value wins
 *    (/root/reference/src/common/mode/native.rs:111-131)
 *  - strings: smallest value wins, in UTF-8 byte order
 *    (/root/reference/src/common/mode/bytes.rs:125-134)
 *
 * Floats and doubles count values the way Spark's `GROUP BY` does
 * (`NormalizeFloatingNumbers`): every NaN is one value and −0.0 is 0.0,
 * so the result never depends on which zero or NaN a partition saw first.
 *
 * Spark-native design: a [[TypedImperativeAggregate]] with a
 * [[ModeCounts]] value→count buffer. Partial maps are built map-side and
 * merged by key on the reducer (same distributive decomposition as the
 * reference's state()/merge_batch, but running under Spark's
 * ObjectHashAggregateExec, which falls back to sort-based aggregation
 * under memory pressure). State is O(distinct values per group); for
 * very-high-cardinality columns at 100 TB prefer the two-shuffle
 * compositional form [[GraftFunctions.modeBy]].
 *
 * Wire form of a buffer (big-endian), per entry: the value in its
 * physical width (a string or a wide decimal as a length and its bytes),
 * then its 8-byte count.
 */
case class GraftMode(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ModeCounts]
  with UnaryLike[Expression] {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_mode"

  // Reference supports primitives/dates/times/timestamps/floats/utf8 only
  // (/root/reference/src/mode.rs:96-215). Complex types are rejected here
  // too: map keys must be value-comparable boxed objects, and unsafe
  // array/struct/binary values would alias reused row buffers.
  override def checkInputDataTypes(): TypeCheckResult =
    PhysicalDataType(child.dataType) match {
      case PhysicalBooleanType | PhysicalByteType | PhysicalShortType |
           PhysicalIntegerType | PhysicalLongType | PhysicalFloatType |
           PhysicalDoubleType | _: PhysicalDecimalType | _: PhysicalStringType =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_mode does not support input type ${child.dataType.catalogString}")
    }

  @transient private lazy val physical = PhysicalDataType(child.dataType)

  override def createAggregationBuffer(): ModeCounts = new ModeCounts

  /** −0.0 → 0.0 and any NaN → the canonical NaN, as `GROUP BY` keys. */
  private def normalize(v: AnyRef): AnyRef = v match {
    case d: java.lang.Double =>
      if (d.isNaN) java.lang.Double.valueOf(Double.NaN)
      else if (d.doubleValue == 0.0) java.lang.Double.valueOf(0.0) else d
    case f: java.lang.Float =>
      if (f.isNaN) java.lang.Float.valueOf(Float.NaN)
      else if (f.floatValue == 0.0f) java.lang.Float.valueOf(0.0f) else f
    case o => o
  }

  override def update(buffer: ModeCounts, input: InternalRow): ModeCounts = {
    val v = child.eval(input)
    if (v != null) buffer.add(normalize(v.asInstanceOf[AnyRef]), 1L)
    buffer
  }

  override def merge(buffer: ModeCounts, other: ModeCounts): ModeCounts = {
    other.foreach(buffer.add)
    buffer
  }

  /** true if candidate v beats current best under the reference tie rule. */
  private def tieBetter(v: AnyRef, cur: AnyRef): Boolean = v match {
    case s: UTF8String => s.binaryCompare(cur.asInstanceOf[UTF8String]) < 0
    case _ => v.asInstanceOf[Comparable[AnyRef]].compareTo(cur) > 0
  }

  override def eval(buffer: ModeCounts): Any = {
    var bestV: AnyRef = null
    var bestC = Long.MinValue
    buffer.foreach { (v, c) =>
      if (bestV == null || c > bestC || (c == bestC && tieBetter(v, bestV))) {
        bestV = v
        bestC = c
      }
    }
    bestV
  }

  @transient private lazy val codec: ValueCodec = {
    def decimalBytes(v: AnyRef) = v.asInstanceOf[Decimal].toJavaBigDecimal.unscaledValue.toByteArray
    physical match {
      case PhysicalBooleanType => ValueCodec(_ => 1,
        (o, v) => o.put((if (v.asInstanceOf[java.lang.Boolean]) 1 else 0).toByte),
        i => java.lang.Boolean.valueOf(i.get() != 0))
      case PhysicalByteType => ValueCodec(_ => 1,
        (o, v) => o.put(v.asInstanceOf[java.lang.Byte]), i => java.lang.Byte.valueOf(i.get()))
      case PhysicalShortType => ValueCodec(_ => 2,
        (o, v) => o.putShort(v.asInstanceOf[java.lang.Short]),
        i => java.lang.Short.valueOf(i.getShort()))
      case PhysicalIntegerType => ValueCodec(_ => 4,
        (o, v) => o.putInt(v.asInstanceOf[java.lang.Integer]),
        i => java.lang.Integer.valueOf(i.getInt()))
      case PhysicalLongType => ValueCodec(_ => 8,
        (o, v) => o.putLong(v.asInstanceOf[java.lang.Long]),
        i => java.lang.Long.valueOf(i.getLong()))
      case PhysicalFloatType => ValueCodec(_ => 4,
        (o, v) => o.putFloat(v.asInstanceOf[java.lang.Float]),
        i => java.lang.Float.valueOf(i.getFloat()))
      case PhysicalDoubleType => ValueCodec(_ => 8,
        (o, v) => o.putDouble(v.asInstanceOf[java.lang.Double]),
        i => java.lang.Double.valueOf(i.getDouble()))
      case PhysicalDecimalType(p, s) if p <= Decimal.MAX_LONG_DIGITS => ValueCodec(_ => 8,
        (o, v) => o.putLong(v.asInstanceOf[Decimal].toUnscaledLong),
        i => Decimal(i.getLong(), p, s))
      case PhysicalDecimalType(p, s) => ValueCodec(v => 4 + decimalBytes(v).length,
        (o, v) => { val b = decimalBytes(v); o.putInt(b.length).put(b) },
        i => {
          val b = new Array[Byte](i.getInt())
          i.get(b)
          Decimal(new java.math.BigDecimal(new java.math.BigInteger(b), s), p, s)
        })
      case _: PhysicalStringType => ValueCodec(v => 4 + v.asInstanceOf[UTF8String].numBytes,
        (o, v) => { o.putInt(v.asInstanceOf[UTF8String].numBytes); v.asInstanceOf[UTF8String].writeTo(o) },
        i => {
          val len = i.getInt()
          // a view into the serialized bytes; `add` copies it if it becomes a new key
          val s = UTF8String.fromAddress(i.array(), Platform.BYTE_ARRAY_OFFSET + i.position(), len)
          i.position(i.position() + len)
          s
        })
      case other => throw new IllegalStateException(s"graft_mode: no codec for $other")
    }
  }

  override def serialize(buffer: ModeCounts): Array[Byte] = {
    var size = 0
    buffer.foreach((v, _) => size += codec.width(v) + 8)
    val out = ByteBuffer.allocate(size)
    buffer.foreach { (v, c) => codec.write(out, v); out.putLong(c) }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): ModeCounts = {
    val buffer = new ModeCounts
    val in = ByteBuffer.wrap(bytes)
    while (in.hasRemaining) buffer.add(codec.read(in), in.getLong())
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GraftMode =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): GraftMode =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): GraftMode =
    copy(child = newChild)
}
