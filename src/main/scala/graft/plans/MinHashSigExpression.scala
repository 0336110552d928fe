package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression `graft_minhash_sig(text)` — the codegen'd
  * MinHash signature kernel.
  *
  * Why an Expression and not a UDF: it participates in whole-stage codegen
  * (`doGenCode` inlines a single static call into the generated consume
  * path — no encoder round-trip, no boxing of the input row, null handling
  * folded into the surrounding code), and the analyzer sees a proper typed
  * signature. Registered via [[GraftExtensions]]
  * (`SparkSessionExtensions.injectFunction`), the preference order of
  * SURVEY §4.3 / the design brief: built-ins > native Expression > UDF.
  */
case class MinHashSigExpression(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinHashNative.signature(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.MinHashNative.signature($c)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpression =
    copy(child = newChild)
}
