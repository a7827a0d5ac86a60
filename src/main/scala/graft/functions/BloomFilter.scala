package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType, ArrayType}

/**
 * Bloom-filter BUILD as an aggregate: the state is an `mBits`-bit array;
 * each input string sets `numHashes` positions. Output is the packed
 * bit array (BinaryType, little-endian 64-bit words).
 *
 * Positions (Kirsch-Mitzenmacher, the hash family of
 * [[MinHashSignature]]): `a`/`b` are the unsigned 32-bit big-endian
 * words of md5(s) (= hex chars 1-8 / 9-16), position_i = (a + i·b) mod
 * mBits. The DuckDB oracle replays every position from `md5(g)` hex
 * arithmetic, so the filter's bit pattern (false positives included) is
 * bit-identical across engines.
 *
 * Why an aggregate: benchmark decontamination at 100 TB must not shuffle
 * the corpus. The eval set's n-grams reduce to this fixed-size bitset
 * (mBits/8 bytes — KBs to MBs regardless of eval size), which then
 * BROADCASTS to every executor; the corpus is tested map-side with zero
 * shuffle (vs the equi-join path in [[graft.ops.Dedup.crossContamination]]
 * which shuffles matched shingles). Map-side combine merges partial
 * filters by bitwise OR — union of Bloom filters is exact, so the result
 * is independent of partitioning.
 *
 * Reference analogue: decontamination by n-gram overlap; the bitset is
 * the scale path for a large eval suite.
 */
case class BloomBitsAgg(
    child: Expression,
    mBits: Int,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  require(mBits >= 64 && mBits % 64 == 0 && mBits <= (1 << 28),
    s"mBits must be a multiple of 64 in [64, 2^28], got $mBits")
  require(numHashes >= 1 && numHashes <= 16, s"numHashes must be in [1,16], got $numHashes")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_bloom_build"

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.StringInput.check(prettyName, child.dataType)

  @transient private lazy val md = MessageDigest.getInstance("MD5")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](mBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      md.reset()
      val d = md.digest(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
      val a = Md5.u32(d, 0)
      val b = Md5.u32(d, 4)
      var i = 0
      while (i < numHashes) {
        val pos = ((a + i * b) % mBits).toInt
        buf(pos >>> 6) |= 1L << (pos & 63)
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = serialize(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBitsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBitsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomBitsAgg =
    copy(child = newChild)
}

/**
 * Bloom-filter PROBE: counts the DISTINCT strings in `grams`
 * (array<string>) whose `numHashes` positions are all set in `bits`
 * (the packed filter from [[BloomBitsAgg]]). Distinct-counting matches
 * the SQL replay's `SELECT DISTINCT doc_id, g` semantics, so a shingle
 * repeated inside one document counts once.
 *
 * Evaluated map-side against a broadcast 1-row filter — the corpus scan
 * is the only pass, no shuffle. CodegenFallback: md5 dominates the
 * per-gram cost; only this projection leaves codegen.
 */
case class BloomHitCount(left: Expression, right: Expression, mBits: Int, numHashes: Int)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_bloom_hits"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (BinaryType, ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (binary, array<string>), got (${l.catalogString}, ${r.catalogString})")
  }

  @transient private lazy val md = MessageDigest.getInstance("MD5")

  override def nullSafeEval(bitsAny: Any, gramsAny: Any): Any = {
    val bytes = bitsAny.asInstanceOf[Array[Byte]]
    require(bytes.length == mBits / 8,
      s"$prettyName: filter length ${bytes.length} bytes does not match mBits/8 = ${mBits / 8}")
    val grams = gramsAny.asInstanceOf[ArrayData]
    val seen = new java.util.HashSet[String]()
    var hits = 0L
    var i = 0
    val n = grams.numElements()
    while (i < n) {
      if (!grams.isNullAt(i)) {
        val s = grams.getUTF8String(i)
        if (seen.add(s.toString)) {
          md.reset()
          val d = md.digest(s.getBytes)
          val a = Md5.u32(d, 0)
          val b = Md5.u32(d, 4)
          var all = true
          var j = 0
          while (all && j < numHashes) {
            val pos = ((a + j * b) % mBits).toInt
            val byteIdx = pos >>> 3
            if ((bytes(byteIdx) & (1 << (pos & 7))) == 0) all = false
            j += 1
          }
          if (all) hits += 1L
        }
      }
      i += 1
    }
    hits
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomHitCount =
    copy(left = l, right = r)
}
