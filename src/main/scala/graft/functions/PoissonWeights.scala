package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Fused deterministic Poisson(1) bootstrap-weight kernel: all `reps`
 * weights for one unit id in ONE call — digest md5(id || "_" || g) for
 * g = 0..reps/4−1, read each digest as four independent 8-hex (32-bit)
 * uniforms, invert each through the fixed Poisson(1) CDF ladder.
 *
 * BIT-IDENTICAL contract with the expression ladder it replaces (and
 * with every DuckDB oracle): uniform u = (chunk + 0.5) / 2³², weight =
 * first k in 0..7 with u < P(K ≤ k), else 8 — the same IEEE double
 * add/divide/compare order as
 * `(conv(substring(md5(id || '_g'), 1+8k, 8), 16, 10)::double + 0.5)
 * / 4294967296.0` walked through the CASE ladder. Reading the digest
 * BYTES directly (4 bytes big-endian per chunk) equals parsing the 8
 * lowercase hex chars — md5 hex is the byte sequence printed 2 chars
 * per byte in order.
 *
 * Why a kernel: the ladder form costs reps/4 md5 digests as staged
 * projections plus `reps` conv/substring parses and `reps` 8-deep CASE
 * chains — ~100 Catalyst expressions whose generated Java dominates
 * Janino compile time and bloats the projection. One call does the
 * identical arithmetic in a tight loop and inlines into whole-stage
 * codegen via [[PoissonWeightsKernel.compute]] (static forwarder).
 */
object PoissonWeightsKernel {
  /** P(K ≤ k), K ~ Poisson(1), k = 0..7; u beyond the last → 8
    * (P ≈ 1e-6). MUST stay literal-identical to every bootstrap
    * oracle's embedded thresholds. */
  val Cdf: Array[Double] = Array(0.36787944117144233, 0.7357588823428847,
    0.9196986029286058, 0.9810118431238463, 0.9963401531726563,
    0.9994058151824183, 0.999916758850712, 0.9999897508033253)

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  def compute(id: UTF8String, reps: Int): ArrayData = {
    val out = new Array[Long](reps)
    val d = md5.get()
    val idBytes = id.getBytes
    var g = 0
    while (g * 4 < reps) {
      d.reset()
      d.update(idBytes)
      d.update('_'.toByte)
      // group suffix is the decimal rendering of g (ASCII, matches
      // the lit(s"_$g") string concat of the ladder form)
      d.update(String.valueOf(g).getBytes("US-ASCII"))
      val h = d.digest()
      var k = 0
      while (k < 4 && g * 4 + k < reps) {
        val u = (Md5.u32(h, 4 * k).toDouble + 0.5) / 4294967296.0
        var w = 0
        while (w < 8 && !(u < Cdf(w))) w += 1
        out(g * 4 + k) = w.toLong
        k += 1
      }
      g += 1
    }
    new GenericArrayData(out)
  }
}

/**
 * `array<bigint>` of the `reps` deterministic Poisson(1) bootstrap
 * weights of a unit id — see [[PoissonWeightsKernel]]. Null id → null
 * (callers filter null ids by contract). Stage the result as its OWN
 * projection column and read reps via `element_at`: the array is not
 * cheap, so CollapseProject will not duplicate it into consumers.
 */
case class PoissonWeights(child: Expression, reps: Int)
  extends UnaryExpression {

  require(reps >= 1 && reps <= 64, s"reps must be in [1, 64], got $reps")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_poisson_weights"

  override def checkInputDataTypes(): TypeCheckResult =
    InputType.StringArg.check(prettyName, child.dataType)

  override protected def nullSafeEval(id: Any): Any =
    PoissonWeightsKernel.compute(id.asInstanceOf[UTF8String], reps)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      id => s"graft.functions.PoissonWeightsKernel.compute($id, $reps)")

  override protected def withNewChildInternal(newChild: Expression): PoissonWeights =
    copy(child = newChild)
}
