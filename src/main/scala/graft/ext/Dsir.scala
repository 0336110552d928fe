package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169): pick the raw-corpus documents that look most like a
  * trusted target corpus, the modern replacement for binary quality
  * classifiers in pretraining data curation (used for domain-matched
  * selection in the paper's GLUE / continued-pretraining experiments).
  *
  * Method, as published: featurize every document as a bag of HASHED
  * n-grams (unigrams + bigrams hashed into `buckets` slots — collisions
  * are part of the estimator), fit multinomial bucket distributions on the
  * target and raw corpora, weight each raw document by its log likelihood
  * ratio  log ŵ(x) = Σ_b count_b(x)·(ln p_target[b] − ln p_raw[b]),  and
  * resample without replacement via the Gumbel top-k trick: select the k
  * documents maximizing  log ŵ(x) + g_x  with g_x standard Gumbel noise.
  *
  * Determinism (the oracle contract): both ln terms are quantized at
  * TABLE-BUILD time — round((ln p_t − ln p_r)·1e9) as int64, the
  * [[LanguageModel]] discipline — so per-document weights are exact int64
  * sums (order-free), and the Gumbel noise is derived from the 60-bit
  * md5 hash of the document id ([[TextHash.hmod]]), also quantized to
  * int64, so the selection is a pure function of (corpus, salt) that
  * DuckDB replays bit-for-bit.
  *
  * Scale shape at 100 TB:
  *   - featurization is a narrow per-doc codegen pass (let-bound token
  *     array, no shuffle);
  *   - the two bucket-count aggregations partial-aggregate into ≤
  *     `buckets` rows each (the POINT of hashing: the model is fixed-size
  *     no matter how big the corpus grows, unlike vocabulary n-grams);
  *   - the ratio table is ≤ `buckets` rows → broadcast into the scoring
  *     join; per-doc sums partial-aggregate BEFORE the one doc-id shuffle;
  *   - selection is [[graft.plans.TopKAggregate]] — mappers each keep k
  *     candidates, the shuffle carries ≤ mappers×k rows, never a global
  *     sort. Total key magnitude stays double-exact: |logw_q| ≤
  *     n_features·~40e9, inside 2^53 for any document under ~200k tokens
  *     (longer docs should be chunked upstream anyway).
  */
object Dsir {

  /** Log-ratio quantum (shared with [[LanguageModel.LpScale]]): 1e-9 in
    * log space absorbs last-ulp ln() drift between engines. */
  val LrScale: Double = 1e9

  /** Hashed unigram+bigram bucket stream of a text column — one element
    * per n-gram OCCURRENCE (counts enter the weight by repetition), each
    * in [0, buckets). Empty docs yield an empty stream. The codegen'd
    * `graft_feature_buckets` kernel (one md5 per gram, no interpreted HOF
    * tree). Its spec, which the DuckDB oracle mirrors, is
    * [[featureBucketsHof]] (FeatureBucketsNativeSpec, KernelIdentitySpec). */
  private[graft] def featureBuckets(text: Column, buckets: Int): Column =
    call_function("graft_feature_buckets", text, lit(buckets))

  /** The declarative (HOF) spec of [[featureBuckets]]. */
  private[graft] def featureBucketsHof(text: Column, buckets: Int): Column =
    element_at(
      transform(array(TextStats.wsTokens(text)), { toks =>
        val uni = transform(toks, t => TextHash.hmodBucket(t, buckets))
        val bg = when(size(toks) < 2, TextHash.emptyBuckets)
          .otherwise(transform(
            sequence(lit(0), size(toks) - 2),
            i => TextHash.hmodBucket(concat_ws(" ",
              element_at(toks, i + 1), element_at(toks, i + 2)), buckets)))
        concat(uni, bg)
      }),
      1)

  /** DuckDB SQL fragment equivalent of [[featureBuckets]]. */
  def featureBucketsSql(textE: String, buckets: Int): String = {
    val toks = s"list_filter(string_split($textE, ' '), t -> t <> '')"
    // let-bind the token list via a single-element comprehension
    s"""[list_concat(
       |   list_transform(toks, t -> ${TextHash.hmodSql("t")} % $buckets),
       |   [${TextHash.hmodSql("(toks[i+1] || ' ' || toks[i+2])")} % $buckets
       |    FOR i IN range(0, len(toks)-1)])
       | FOR toks IN [$toks]][1]""".stripMargin.replaceAll("\n\\s*", " ")
  }

  private def bucketCounts(df: DataFrame, textCol: String, buckets: Int): DataFrame =
    df.select(explode(featureBuckets(col(textCol), buckets)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c"))

  /** Quantized log-likelihood-ratio table (b, lrq) over buckets seen in
    * EITHER corpus, plus the one-row default for buckets seen in neither
    * (possible when scoring a corpus disjoint from `raw`):
    *
    *   lrq(b) = round((ln((ct+α)/(Ct+α·B)) − ln((cr+α)/(Cr+α·B)))·1e9)
    *
    * with additive smoothing α (the hashed-bucket analogue of the paper's
    * smoothed bag-of-ngrams estimator). Totals come from one-row
    * aggregates crossJoin-broadcast — nothing collects. */
  def logRatioTable(
      target: DataFrame,
      raw: DataFrame,
      textCol: String,
      buckets: Int,
      alpha: Double
  ): (DataFrame, DataFrame) = {
    require(alpha > 0, "alpha must be positive (unseen buckets need mass)")
    require(buckets > 0, "buckets must be positive")
    val tc = bucketCounts(target, textCol, buckets).withColumnRenamed("c", "ct")
    val rc = bucketCounts(raw, textCol, buckets).withColumnRenamed("c", "cr")
    val totals = tc.agg(sum("ct").as("__tt"))
      .crossJoin(rc.agg(sum("cr").as("__rt")))
    def lrq(ct: Column, cr: Column): Column =
      round((log((ct.cast("double") + alpha) /
          (col("__tt").cast("double") + alpha * buckets)) -
        log((cr.cast("double") + alpha) /
          (col("__rt").cast("double") + alpha * buckets))) * LrScale)
        .cast("long")
    val table = tc.join(rc, Seq("b"), "full_outer")
      .na.fill(0L, Seq("ct", "cr"))
      .crossJoin(broadcast(totals))
      .select(col("b"), lrq(col("ct"), col("cr")).as("lrq"))
    val unseen = totals.select(lrq(lit(0L), lit(0L)).as("lrq_unseen"))
    (table, unseen)
  }

  /** Per-document importance weights: (idCol, n_feat, logw_q, logw) for
    * every raw doc with ≥ 1 token; logw = logw_q / 1e9 (one exact-order
    * division). Docs with no tokens drop out (they have no features —
    * filter them upstream with [[TextStats]] length rules, not here). */
  def importanceWeights(
      raw: DataFrame,
      target: DataFrame,
      textCol: String,
      idCol: String,
      buckets: Int = 10000,
      alpha: Double = 0.01
  ): DataFrame = {
    val (table, unseen) = logRatioTable(target, raw, textCol, buckets, alpha)
    raw.select(col(idCol), explode(featureBuckets(col(textCol), buckets)).as("b"))
      .join(broadcast(table), Seq("b"), "left")
      .crossJoin(broadcast(unseen))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_feat"),
        sum(coalesce(col("lrq"), col("lrq_unseen"))).as("logw_q"))
      .select(col(idCol), col("n_feat"), col("logw_q"),
        (col("logw_q").cast("double") / LrScale).as("logw"))
  }

  /** Gumbel top-k resample: select the k raw docs maximizing
    * logw_q + gumbel_q, where gumbel_q = round(−ln(−ln(u))·1e9) and
    * u = (hmod(id:salt) + 0.5) / P — deterministic, replayable noise.
    * Returns (idCol, n_feat, logw, key_q) for the selected docs.
    * Selection runs through `graft_topk` (bounded k-per-mapper shuffle);
    * ties in key_q break by id asc, the aggregate's total order. */
  def resample(
      raw: DataFrame,
      target: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      buckets: Int = 10000,
      alpha: Double = 0.01,
      salt: String = "dsir"
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val w = importanceWeights(raw, target, textCol, idCol, buckets, alpha)
    val u = (TextHash.hmod(concat(col(idCol).cast("string"), lit(":" + salt)))
      .cast("double") + 0.5) / TextHash.P.toDouble
    val keyed = w.withColumn("key_q",
      col("logw_q") + round(-log(-log(u)) * LrScale).cast("long"))
    val top = keyed
      .agg(expr(s"graft_topk(CAST(key_q AS DOUBLE), $idCol, $k)").as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.id").as(idCol))
    // k ids broadcast back into the doc-level weight stream (whose agg
    // subtree Catalyst reuses as a ReusedExchange — one scoring pass)
    keyed.join(broadcast(top), Seq(idCol))
      .select(col(idCol), col("n_feat"), col("logw"), col("key_q"))
  }

  /** DuckDB gumbel-key fragment equivalent of [[resample]]'s key. */
  def gumbelQSql(idE: String, salt: String): String = {
    val h = TextHash.hmodSql(s"($idE :: VARCHAR || ':$salt')")
    s"CAST(round(-ln(-ln((CAST($h AS DOUBLE) + 0.5) / ${TextHash.P}.0)) * 1e9) AS BIGINT)"
  }
}
