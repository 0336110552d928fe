package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData

/** Session extensions: `GraftSession` builders call
  * `.withExtensions(GraftExtensions.apply)`; spark-submit users set
  * `spark.sql.extensions=graft.plans.GraftExtensions`. The `graft.ext`
  * operators call the functions registered here directly, so a session
  * without them fails at analysis (`UNRESOLVED_ROUTINE`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.register(ext)
}

object GraftExtensions {
  def apply(ext: SparkSessionExtensions): Unit = register(ext)

  /** An integer argument that must be a literal (it sizes the kernel). */
  private def intLit(e: Expression, msg: String): Int = {
    require(e.foldable, msg)
    e.eval(null).asInstanceOf[Number].intValue()
  }

  def register(ext: SparkSessionExtensions): Unit = {
    // registers `name(params)`; the arity is the number of params
    def fn(name: String, params: String, cls: Class[_])(
        build: Seq[Expression] => Expression): Unit = {
      val arity = params.split(",").length
      val usage = s"$name($params) takes " +
        Seq("one argument", "two arguments", "three arguments", "four arguments")(arity - 1)
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.size == arity, usage)
          build(children)
        }))
    }

    fn("graft_minhash_sig", "text", classOf[MinHashSigExpression])(c =>
      MinHashSigExpression(c(0)))
    fn("graft_dot_scaled", "a, b", classOf[DotScaledExpression])(c =>
      DotScaledExpression(c(0), c(1)))
    fn("graft_simhash", "text", classOf[SimHashExpression])(c =>
      SimHashExpression(c(0)))
    fn("graft_chargrams", "text, n, buckets", classOf[CharGramBucketsExpression]) { c =>
      val msg = "graft_chargrams n/buckets must be literals"
      CharGramBucketsExpression(c(0), intLit(c(1), msg), intLit(c(2), msg))
    }
    fn("graft_feature_buckets", "text, buckets", classOf[FeatureBucketsExpression])(c =>
      FeatureBucketsExpression(c(0),
        intLit(c(1), "graft_feature_buckets buckets must be a literal")))
    fn("graft_word_grams", "text, n", classOf[WordGramsExpression])(c =>
      WordGramsExpression(c(0), intLit(c(1), "graft_word_grams n must be a literal")))
    fn("graft_jaccard", "a, b", classOf[JaccardExpression])(c =>
      JaccardExpression(c(0), c(1)))
    fn("graft_fp_rolling", "text", classOf[RollingFingerprintExpression])(c =>
      RollingFingerprintExpression(c(0)))
    fn("graft_nfc", "text", classOf[NfcNormalizeExpression])(c =>
      NfcNormalizeExpression(c(0)))
    fn("graft_gopher_counts", "text", classOf[GopherCountsExpression])(c =>
      GopherCountsExpression(c(0)))
    fn("graft_eval_once", "expr", classOf[EvalOnceExpression])(c =>
      EvalOnceExpression(c(0)))
    fn("graft_argmax_cell", "vec, cells", classOf[ArgmaxCellExpression])(c =>
      ArgmaxCellExpression(c(0), c(1)))
    fn("graft_winnow", "text, k, w", classOf[WinnowExpression])(c =>
      WinnowExpression(c(0), c(1), c(2)))
    fn("graft_topk", "score, id, k", classOf[TopKByAggregate])(c =>
      TopKByAggregate(c(0), c(1), c(2)))
    fn("graft_cms", "item, d, w", classOf[CmsAggregate])(c =>
      CmsAggregate(c(0), c(1), c(2)))
    fn("graft_kmv", "item, k", classOf[KmvAggregate])(c =>
      KmvAggregate(c(0), c(1)))
    fn("graft_cdc_chunks", "bin, minSize, avgBits, maxSize", classOf[CdcChunksExpression]) { c =>
      val msg = "graft_cdc_chunks sizes must be literals"
      CdcChunksExpression(c(0), intLit(c(1), msg), intLit(c(2), msg), intLit(c(3), msg))
    }
    fn("graft_lz_stats", "text, window, minMatch, maxMatch", classOf[LzStatsExpression]) { c =>
      val msg = "graft_lz_stats params must be literals"
      LzStatsExpression(c(0), intLit(c(1), msg), intLit(c(2), msg), intLit(c(3), msg))
    }
    fn("graft_ac_counts", "text, patterns, boundary", classOf[AcCountsExpression]) { c =>
      require(c(1).foldable && c(2).foldable,
        "graft_ac_counts patterns and boundary must be literals")
      val arr = c(1).eval(null).asInstanceOf[ArrayData]
      val ps = (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
      AcCountsExpression(c(0), ps, c(2).eval(null).asInstanceOf[Boolean])
    }
    fn("graft_srp", "vec", classOf[SrpExpression])(c => SrpExpression(c(0)))
    fn("graft_avg_hash", "bin", classOf[AvgHashExpression])(c => AvgHashExpression(c(0)))
    // plan rewrite: window row_number-top-k → bounded graft_topk aggregate
    ext.injectOptimizerRule(_ => TopKWindowRewrite)
    // conjunct splitting around graft_eval_once barriers: unrelated
    // predicates keep reaching the scan (pushdown + partition pruning)
    ext.injectOptimizerRule(_ => PushThroughEvalOnce)
    // physical operator: AsOfJoinNode → AsOfJoinExec (sorted streaming merge)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}
