package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType, StringType}

/** md5 digest bytes read the way every engine reads md5 hex text. */
private[graft] object Md5 {
  private val Digits = "0123456789abcdef".getBytes(StandardCharsets.US_ASCII)

  /** The unsigned big-endian 32-bit word at byte `o` of `d`: hex chars
    * 2o+1 .. 2o+8 of the digest, as `conv(substring(md5(s), 2o+1, 8), 16, 10)`. */
  @inline def u32(d: Array[Byte], o: Int): Long =
    ((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) |
      ((d(o + 2) & 0xffL) << 8) | (d(o + 3) & 0xffL)

  /** The lowercase hex text of `d` as ASCII bytes — `md5(s)`'s output. */
  def hexBytes(d: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](2 * d.length)
    var i = 0
    while (i < d.length) {
      out(2 * i) = Digits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = Digits(d(i) & 0xf)
      i += 1
    }
    out
  }

  def hex(d: Array[Byte]): String = new String(hexBytes(d), StandardCharsets.US_ASCII)
}

/** The input rule of a one-child kernel: `what` names the accepted type
  * in the failure text `<kernel> requires <what>, got <type>`. */
private[graft] final class InputType(what: String, accepts: DataType => Boolean) {
  def check(kernel: String, got: DataType): TypeCheckResult =
    if (accepts(got)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$kernel requires $what, got ${got.catalogString}")
}

private[graft] object InputType {
  private def arrayOf(element: DataType, what: String) = new InputType(what, {
    case ArrayType(`element`, _) => true
    case _ => false
  })

  val StringArg = new InputType("string", _ == StringType)
  val StringInput = new InputType("string input", _ == StringType)
  val DoubleArg = new InputType("double", _ == DoubleType)
  val DoubleInput = new InputType("double input", _ == DoubleType)
  val HllRegisters = new InputType("binary (hll registers) input", _ == BinaryType)
  val Strings = arrayOf(StringType, "array<string>")
  val Doubles = arrayOf(DoubleType, "array<double>")
  val QuantizedLongs = arrayOf(LongType, "array<bigint> (quantize first)")
}

/** The `DataOutputStream` wire form of the object aggregates' buffers. */
private[functions] object Serde {
  def write(body: DataOutputStream => Unit): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    body(out)
    out.flush()
    bos.toByteArray
  }

  def reader(bytes: Array[Byte]): DataInputStream =
    new DataInputStream(new ByteArrayInputStream(bytes))
}
