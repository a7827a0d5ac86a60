package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * The md5-seeded hyperplanes of [[SrpSignature]] and [[RandomProjection]]:
 * weight (p, d) is the first four md5 bytes of "p_d", read big-endian as
 * an unsigned int, mapped to [-0.5, 0.5) — the first 8 hex chars of the
 * digest, so any engine replays it (md5 + hex arithmetic).
 *
 * Each (planes, dim) matrix is built once per JVM and shared read-only
 * by every task, in a small LRU: a matrix can reach 64M doubles.
 */
object PlaneMatrix {

  /** Matrices kept; past it the least recently used goes. */
  private val MaxMatrices = 4

  def weight(p: Int, d: Int): Double =
    weight(MessageDigest.getInstance("MD5"), p, d)

  private def weight(md: MessageDigest, p: Int, d: Int): Double = {
    val b = md.digest(s"${p}_$d".getBytes(StandardCharsets.UTF_8))
    Md5.u32(b, 0).toDouble / 4294967296.0 - 0.5
  }

  private val matrices =
    new java.util.LinkedHashMap[(Int, Int), Array[Double]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, Int), Array[Double]]): Boolean =
        size() > MaxMatrices
    }

  /** The d-major matrix: weight (p, d) at `d * planes + p`. */
  def apply(planes: Int, dim: Int): Array[Double] = matrices.synchronized {
    matrices.computeIfAbsent((planes, dim), _ => {
      val md = MessageDigest.getInstance("MD5")
      val w = new Array[Double](planes * dim)
      for (d <- 0 until dim; p <- 0 until planes) w(d * planes + p) = weight(md, p, d)
      w
    })
  }

  /**
   * The `planes` dot products of the vector `v` with the hyperplanes.
   * Each is the ascending-d left fold
   * `acc += x(d) * w(p, d)` from 0.0, as in [[DotProduct]] (Java never
   * fuses the multiply-add), so the result is bit-identical to a
   * per-plane loop. The loop runs d-major, updating every plane's
   * accumulator per dimension: the planes' independent adds overlap
   * instead of waiting on one accumulator's latency.
   */
  def project(name: String, v: Any, w: Array[Double], planes: Int, dim: Int): Array[Double] = {
    val arr = v.asInstanceOf[ArrayData]
    if (arr.numElements() != dim) {
      throw new IllegalArgumentException(
        s"$name: vector length mismatch (${arr.numElements()} vs $dim)")
    }
    val x = arr.toDoubleArray()
    val acc = new Array[Double](planes)
    var d = 0
    while (d < dim) {
      val xd = x(d)
      val base = d * planes
      var p = 0
      while (p < planes) {
        acc(p) += xd * w(base + p)
        p += 1
      }
      d += 1
    }
    acc
  }
}
