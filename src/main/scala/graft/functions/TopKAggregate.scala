package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/**
 * An array-backed binary heap of at most `k` entries with the WORST
 * entry at the root, so a better candidate replaces the root in
 * O(log k). A buffer keeps its entries in parallel arrays; it says which
 * of two slots holds the worse entry and swaps two slots, and owns its
 * insert and its output order.
 */
private[functions] abstract class BoundedHeap(val k: Int) {
  var size: Int = 0

  /** does slot i hold a worse entry than slot j? */
  protected def worse(i: Int, j: Int): Boolean
  protected def swap(i: Int, j: Int): Unit

  protected final def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) >> 1
      // a parent is never better than its child
      if (worse(i, p)) { swap(i, p); i = p }
      else return
    }
  }

  protected final def siftDown(i0: Int): Unit = {
    var i = i0
    while (true) {
      val l = 2 * i + 1
      val r = l + 1
      var worst = i
      if (l < size && worse(l, worst)) worst = l
      if (r < size && worse(r, worst)) worst = r
      if (worst == i) return
      swap(i, worst)
      i = worst
    }
  }
}

/**
 * Bounded top-k state of [[TopKBy]]: (id, score) pairs, the worst
 * (smallest score; ties → largest id) at the root.
 */
final class TopKBuffer(capacity: Int) extends BoundedHeap(capacity) {
  val ids: Array[Long] = new Array[Long](k)
  val scores: Array[Double] = new Array[Double](k)

  /** is (id1,s1) a BETTER result than (id2,s2)? (score desc, id asc) */
  @inline private def better(id1: Long, s1: Double, id2: Long, s2: Double): Boolean =
    s1 > s2 || (s1 == s2 && id1 < id2)

  protected def worse(i: Int, j: Int): Boolean = better(ids(j), scores(j), ids(i), scores(i))

  protected def swap(i: Int, j: Int): Unit = {
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    val ts = scores(i); scores(i) = scores(j); scores(j) = ts
  }

  def insert(id: Long, score: Double): Unit = {
    if (size < k) {
      ids(size) = id; scores(size) = score; size += 1
      siftUp(size - 1)
    } else if (better(id, score, ids(0), scores(0))) {
      ids(0) = id; scores(0) = score
      siftDown(0)
    }
  }

  /** entries sorted best-first: (score desc, id asc). */
  def sorted(): Array[(Long, Double)] = {
    val out = Array.tabulate(size)(i => (ids(i), scores(i)))
    out.sortWith { case ((i1, s1), (i2, s2)) => better(i1, s1, i2, s2) }
  }
}

/**
 * Bounded top-k aggregate: keeps the `k` best (id, score) pairs per group
 * — score descending, ties broken by ascending id, so the result is a
 * deterministic function of the group's value SET (partitioning-
 * independent). Returns `array<struct<id:bigint, score:double>>` sorted
 * best-first.
 *
 * Why an aggregate instead of a window: `row_number() OVER (PARTITION BY
 * g ORDER BY score)` sorts EVERY group member — at 100 TB that is a full
 * shuffle + sort of the fact table to keep 5 rows per group.  This
 * aggregate carries O(k) state per group, combines map-side (each task
 * ships at most k pairs per group), and never sorts the data. Runs under
 * ObjectHashAggregate with the standard sort-based fallback.
 *
 * Null id or null score rows are skipped (the reference's `max_by`
 * ignores null ordering values the same way — max_min_by.rs:90-114).
 * NaN scores are rejected loudly: NaN ordering differs across engines,
 * so a silent insert would make the result engine-dependent.
 */
case class TopKBy(
    left: Expression, // id
    right: Expression, // score
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer]
  with BinaryLike[Expression] {

  require(k >= 1 && k <= (1 << 20), s"k must be in [1, 2^20], got $k")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_topk"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (bigint id, double score), got " +
          s"${l.catalogString} and ${r.catalogString}")
    }

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val idV = left.eval(input)
    val scoreV = right.eval(input)
    if (idV != null && scoreV != null) {
      val s = scoreV.asInstanceOf[Double]
      if (s.isNaN) {
        throw new IllegalArgumentException(
          s"$prettyName: NaN score — NaN ordering is engine-dependent")
      }
      buf.insert(idV.asInstanceOf[Long], s)
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.size) {
      buf.insert(other.ids(i), other.scores(i))
      i += 1
    }
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    if (buf.size == 0) return null
    new GenericArrayData(buf.sorted().map { case (id, s) =>
      new GenericInternalRow(Array[Any](id, s))
    }.toArray[Any])
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = Serde.write { out =>
    out.writeInt(buf.size)
    var i = 0
    while (i < buf.size) {
      out.writeLong(buf.ids(i))
      out.writeDouble(buf.scores(i))
      i += 1
    }
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = Serde.reader(bytes)
    val n = in.readInt()
    val buf = new TopKBuffer(k)
    var i = 0
    while (i < n) {
      buf.insert(in.readLong(), in.readDouble())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKBy =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKBy =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKBy =
    copy(left = newLeft, right = newRight)
}
