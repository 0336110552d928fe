package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression `graft_word_grams(text, n)` — the word
  * n-gram shingle kernel, byte-identical to the declarative spec
  * [[graft.ext.TextHash.shinglesDeclarative]] (WordGramsNativeSpec pins
  * it; the declarative form stays the oracle-generation template).
  *
  * Why: higher-order functions (`transform` + nested lambdas) are NOT
  * whole-stage-codegen'd — every shingle row pays interpreted lambda
  * dispatch per gram — and the let-bound HOF tree is a large chunk of
  * generated/analyzed plan in every near-dup/gram operator (the r15
  * GateProfile showed driver codegen source formatting as the top
  * inter-job cost of the index gates). One native loop per row: split
  * once, one StringBuilder per task-row, zero intermediate Catalyst
  * arrays.
  */
case class WordGramsExpression(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_word_grams requires a string argument, got ${child.dataType.catalogString}")
    else if (n < 1)
      TypeCheckResult.TypeCheckFailure("graft_word_grams needs n >= 1")
    else TypeCheckResult.TypeCheckSuccess

  // nullable elements, as the declarative spec declares them: a shingle
  // column read back from parquet is nullable, and appends must match it
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_word_grams"

  override protected def nullSafeEval(input: Any): Any =
    WordGramsNative.wordGrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.WordGramsNative.wordGrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordGramsExpression =
    copy(child = newChild)
}

object WordGramsNative {

  /** == `TextHash.shinglesDeclarative`: tokens are `split(text, " ")`
    * with trailing empties kept (Java `split(" ", -1)`, the same regex
    * semantics Spark's `split` uses), grams are space-joined n-token
    * windows, and texts under n tokens fall back to the whole token list
    * joined — one element, possibly empty, never an empty array. */
  def wordGrams(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < n) {
      val sb = new java.lang.StringBuilder(text.numBytes() + 8)
      var i = 0
      while (i < toks.length) {
        if (i > 0) sb.append(' ')
        sb.append(toks(i))
        i += 1
      }
      new GenericArrayData(Array[Any](UTF8String.fromString(sb.toString)))
    } else {
      val m = toks.length - n + 1
      val out = new Array[Any](m)
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i < m) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(toks(i + k))
          k += 1
        }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}
