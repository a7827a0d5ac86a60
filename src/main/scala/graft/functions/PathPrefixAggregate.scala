package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Bounded earliest-k state of [[PathPrefix]]: (ts, id, label) triples,
 * the LATEST by (ts, id) at the root, so the k EARLIEST rows survive
 * regardless of arrival order or partitioning.
 */
final class PathPrefixBuffer(capacity: Int) extends BoundedHeap(capacity) {
  val ts: Array[Long] = new Array[Long](k)
  val ids: Array[Long] = new Array[Long](k)
  val labels: Array[UTF8String] = new Array[UTF8String](k)

  /** is entry (t1,id1) LATER than (t2,id2)? */
  @inline private def later(t1: Long, id1: Long, t2: Long, id2: Long): Boolean =
    t1 > t2 || (t1 == t2 && id1 > id2)

  protected def worse(i: Int, j: Int): Boolean = later(ts(i), ids(i), ts(j), ids(j))

  protected def swap(i: Int, j: Int): Unit = {
    val tt = ts(i); ts(i) = ts(j); ts(j) = tt
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    val tl = labels(i); labels(i) = labels(j); labels(j) = tl
  }

  def insert(t: Long, id: Long, label: UTF8String): Unit = {
    if (size < k) {
      ts(size) = t; ids(size) = id; labels(size) = label; size += 1
      siftUp(size - 1)
    } else if (later(ts(0), ids(0), t, id)) {
      ts(0) = t; ids(0) = id; labels(0) = label
      siftDown(0)
    }
  }

  /** labels in (ts, id) ascending order — the journey prefix. */
  def orderedLabels(): Array[UTF8String] = {
    val idx = Array.range(0, size).sortWith((i, j) => worse(j, i))
    idx.map(labels)
  }
}

/**
 * Bounded FIRST-k path aggregate: joins the labels of a group's k
 * EARLIEST rows (by ts, ties by id) with ">" — the journey-prefix
 * string of [[graft.ops.Events.topPaths]] as ONE aggregate, usable
 * under `session_window` in Structured Streaming where a window rank
 * cannot run. O(k) state per group, map-side combinable, order-free
 * merge: the result is a deterministic function of the group's row SET
 * (partitioning- and arrival-order-independent — exactly what a
 * streaming out-of-order feed requires).
 *
 * Null ts or id rows are skipped (no deterministic position); a null
 * label at a surviving position is skipped at JOIN time, matching
 * concat_ws semantics in the batch twin. NaN cannot occur (integral).
 */
case class PathPrefix(
    first: Expression,  // ts (long, µs)
    second: Expression, // id (long tie-break)
    third: Expression,  // label (string)
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PathPrefixBuffer]
  with TernaryLike[Expression] {

  require(k >= 1 && k <= (1 << 16), s"k must be in [1, 2^16], got $k")

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_path_prefix"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (LongType, LongType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint ts, bigint id, string label), got " +
          s"${a.catalogString}, ${b.catalogString}, ${c.catalogString}")
    }

  override def createAggregationBuffer(): PathPrefixBuffer =
    new PathPrefixBuffer(k)

  override def update(buf: PathPrefixBuffer, input: InternalRow): PathPrefixBuffer = {
    val t = first.eval(input)
    val id = second.eval(input)
    if (t != null && id != null) {
      val l = third.eval(input)
      // clone: eval may return a reused row-backed UTF8String
      val label = if (l == null) null else l.asInstanceOf[UTF8String].clone()
      buf.insert(t.asInstanceOf[Long], id.asInstanceOf[Long], label)
    }
    buf
  }

  override def merge(buf: PathPrefixBuffer, other: PathPrefixBuffer): PathPrefixBuffer = {
    var i = 0
    while (i < other.size) {
      buf.insert(other.ts(i), other.ids(i), other.labels(i))
      i += 1
    }
    buf
  }

  override def eval(buf: PathPrefixBuffer): Any = {
    if (buf.size == 0) return null
    val parts = buf.orderedLabels().filter(_ != null).map(_.toString)
    UTF8String.fromString(parts.mkString(">"))
  }

  override def serialize(buf: PathPrefixBuffer): Array[Byte] = Serde.write { out =>
    out.writeInt(buf.size)
    var i = 0
    while (i < buf.size) {
      out.writeLong(buf.ts(i))
      out.writeLong(buf.ids(i))
      val l = buf.labels(i)
      if (l == null) out.writeInt(-1)
      else {
        val b = l.getBytes
        out.writeInt(b.length)
        out.write(b)
      }
      i += 1
    }
  }

  override def deserialize(bytes: Array[Byte]): PathPrefixBuffer = {
    val in = Serde.reader(bytes)
    val n = in.readInt()
    val buf = new PathPrefixBuffer(k)
    var i = 0
    while (i < n) {
      val t = in.readLong()
      val id = in.readLong()
      val len = in.readInt()
      val label = if (len < 0) null else {
        val b = new Array[Byte](len)
        in.readFully(b)
        UTF8String.fromBytes(b)
      }
      buf.insert(t, id, label)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): PathPrefix =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): PathPrefix =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): PathPrefix =
    copy(first = newFirst, second = newSecond, third = newThird)
}
