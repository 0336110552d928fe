package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** `graft_srp(vec)` → bigint: the 60-bit signed-random-projection
  * signature of a float embedding — bit i = sign of the exact int64 dot
  * product between the 1e7-quantized vector and SRP hyperplane i
  * ([[graft.ext.Similarity.srpCoeffs]], the full-rank md5-derived table
  * shared verbatim with the declarative path and the DuckDB oracles).
  *
  * Bit-identical to [[graft.ext.Similarity.srpDeclarative]], the
  * higher-order-function formulation (SrpNativeSpec asserts parity,
  * including negative-half rounding: quantization is HALF_UP AWAY FROM
  * ZERO, the `round()` semantics of both engines — `Math.round`'s
  * toward-positive-infinity halves would diverge on negative .5s).
  *
  * Why a native expression (ladder rung (b)): the HOF path builds 60
  * per-plane lambda evaluations over a 64-element array per row —
  * measured 54 µs/vector interpreted, which at billions of vectors is
  * the pipeline. This kernel is one flat 60×64 integer dot-product loop
  * inside whole-stage codegen. */
case class SrpExpression(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_srp requires array<float>, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_srp"

  override protected def nullSafeEval(input: Any): Any =
    SrpNative.srp(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SrpNative.srp($c)")

  override protected def withNewChildInternal(newChild: Expression): SrpExpression =
    copy(child = newChild)
}

object SrpNative {

  final val Bits = graft.ext.Similarity.SrpMaxBits
  final val Dim = graft.ext.Similarity.SrpMaxDim

  /** Flat row-major coefficient table — the single source of truth in
    * [[graft.ext.Similarity.srpCoeffs]]. */
  private lazy val C: Array[Long] =
    graft.ext.Similarity.srpCoeffs.flatten.toArray

  /** One pass: quantize then 60 integer dots; static for codegen.
    * The contract is exactly-[[Dim]]-element vectors (the parity spec's
    * scope); shorter input zero-pads here, whereas the declarative
    * formulation's zip_with null-pads — don't feed ragged vectors to
    * either. */
  def srp(arr: ArrayData): Long = {
    val n = math.min(arr.numElements(), Dim)
    val q = new Array[Long](Dim)
    var j = 0
    while (j < n) {
      val d = arr.getFloat(j).toDouble * 1e7
      // HALF_UP away from zero — Spark/DuckDB round(), NOT Math.round
      q(j) = (if (d >= 0) math.floor(d + 0.5) else math.ceil(d - 0.5)).toLong
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < Bits) {
      var dot = 0L
      val off = i * Dim
      var k = 0
      while (k < Dim) { dot += C(off + k) * q(k); k += 1 }
      if (dot >= 0L) sig |= (1L << i)
      i += 1
    }
    sig
  }
}
