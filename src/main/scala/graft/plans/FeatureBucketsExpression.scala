package graft.plans

import graft.ext.TextHash
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression `graft_feature_buckets(text, buckets)` — the
  * codegen'd hashed unigram+bigram feature kernel behind the LR/NB/DSIR
  * family ([[graft.ext.Dsir.featureBucketsHof]] is the declarative spec
  * and stays the oracle-shared definition; FeatureBucketsNativeSpec and
  * KernelIdentitySpec pin byte-identity). One md5 per n-gram occurrence,
  * zero intermediate Catalyst arrays — the same Expression-over-HOF
  * upgrade that took the MinHash signature ≈7× ([[MinHashSigExpression]]).
  */
case class FeatureBucketsExpression(child: Expression, buckets: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_feature_buckets requires a string argument, got ${child.dataType.catalogString}")
    else if (buckets < 1)
      TypeCheckResult.TypeCheckFailure("graft_feature_buckets needs buckets >= 1")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_feature_buckets"
  override protected def nullSafeEval(input: Any): Any =
    FeatureBucketsNative.featureBuckets(input.asInstanceOf[UTF8String], buckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.FeatureBucketsNative.featureBuckets($c, $buckets)")
  override protected def withNewChildInternal(newChild: Expression): FeatureBucketsExpression =
    copy(child = newChild)
}

object FeatureBucketsNative {

  private val P = TextHash.P

  /** == `Dsir.featureBuckets` (unigram buckets in token order, then
    * bigram buckets): tokens are `filter(split(text, " "), t != "")`,
    * bucket = (hash60(gram) % P) % buckets, bigram gram = "t_i t_i+1".
    * Empty/whitespace-only text yields an empty array. */
  def featureBuckets(text: UTF8String, buckets: Int): ArrayData = {
    val raw = text.toString.split(" ", -1)
    var n = 0
    var i = 0
    while (i < raw.length) { if (raw(i).nonEmpty) n += 1; i += 1 }
    val toks = new Array[String](n)
    i = 0; var j = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) { toks(j) = raw(i); j += 1 }
      i += 1
    }
    val out = new Array[Long](if (n >= 2) 2 * n - 1 else n)
    i = 0
    while (i < n) {
      out(i) = (MinHashNative.hash60(toks(i)) % P) % buckets
      i += 1
    }
    if (n >= 2) {
      val sb = new java.lang.StringBuilder(48)
      var k = 0
      while (k < n - 1) {
        sb.setLength(0)
        sb.append(toks(k)).append(' ').append(toks(k + 1))
        out(n + k) = (MinHashNative.hash60(sb.toString) % P) % buckets
        k += 1
      }
    }
    new GenericArrayData(out)
  }
}
