package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TRAINED language identification: hashed character-n-gram Naive Bayes —
  * the published pipeline standard (CCNet / fastText-langid class: char
  * n-gram features, linear model, argmax over languages), replacing the
  * stop-word-marker heuristic ([[TextStats.langId]]) as the default
  * language router. The heuristic needs a curated marker list per
  * language and collapses on short or marker-free text; char n-grams
  * learn the orthography itself from a labeled slice (and trivially
  * cover non-marker scripts — the fixture's zh has no markers at all, so
  * the heuristic can never predict it; the trained router can).
  *
  * Features: every (lowercased) character trigram OCCURRENCE, hashed
  * into `buckets` slots with the engine-wide md5 60-bit hash — the
  * [[Dsir.featureBuckets]] discipline at character granularity, so the
  * model stays a fixed C×B table no matter the corpus. Classification is
  * [[NaiveBayes]] with these features: add-α dense log-probs quantized
  * int64 at training, integer score sums, min-struct argmax — the
  * prediction replays bit-for-bit in any engine.
  *
  * Scale shape: identical to NaiveBayes (training = one partial-agg
  * pass over the labeled slice; classification = one corpus pass
  * probing the broadcast model). Char trigrams fan out ~n_chars per doc
  * vs ~2×words for word features — same order as the LM operators'
  * token streams, and the explode stays narrow (no shuffle before the
  * per-doc partial agg).
  *
  * Text is treated as a code-point sequence by BOTH engines (Spark
  * `substring`/`length` and DuckDB `substr`/`length` count code points),
  * so the gate contract holds for any BMP text; the fixture is BMP. */
object LangId {

  /** Default trigram window (fastText langid uses 2–4; 3 is the
    * standard single-width choice). */
  val DefaultN = 3

  /** Hashed char-n-gram bucket stream of a text column — one element per
    * n-gram occurrence, each in [0, buckets). Texts shorter than `n`
    * yield an empty stream. The codegen'd `graft_chargrams` kernel; its
    * spec is [[charGramBucketsDeclarative]]. */
  def charGramBuckets(n: Int)(text: Column, buckets: Int): Column = {
    require(n > 0, "charGramBuckets: n must be positive")
    call_function("graft_chargrams", text, lit(n), lit(buckets))
  }

  /** The readable spec of [[charGramBuckets]] (and the oracle-generation
    * template): interpreted HOF pipeline, same values bit-for-bit
    * (TextNativeSpec, KernelIdentitySpec). The text is let-bound
    * (computed once per row) through a single-element transform, the
    * featureBuckets trick. The native kernel exists because this form
    * pays substring → md5-hex-string → BigInteger-conv per CHARACTER — it
    * dominated the langid gates. */
  def charGramBucketsDeclarative(n: Int)(text: Column, buckets: Int): Column =
    element_at(
      transform(array(lower(text)), { t =>
        when(length(t) < n, TextHash.emptyBuckets)
          .otherwise(transform(
            sequence(lit(1), length(t) - (n - 1)),
            i => TextHash.hmodBucket(substring(t, i, lit(n)), buckets)))
      }),
      1)

  /** DuckDB SQL fragment mirroring [[charGramBuckets]]. */
  def charGramBucketsSql(n: Int, textE: String, buckets: Int): String =
    s"""[CASE WHEN length(t) < $n THEN CAST([] AS BIGINT[])
       |      ELSE [${TextHash.hmodSql(s"substr(t, i, $n)")} % $buckets
       |            FOR i IN range(1, length(t) - ${n - 2})]
       | END FOR t IN [lower($textE)]][1]""".stripMargin
      .replaceAll("\n\\s*", " ")

  /** Train the char-n-gram NB router on `labeled` (labels from
    * `langCol`) and classify every corpus document. Output: (idCol,
    * lang, score_lpq) — `lang` the argmax language, ties to the
    * lexicographically smallest label. Documents shorter than `n` chars
    * yield no row (no evidence, no verdict) — route them to an explicit
    * "und" bucket upstream if every doc must carry a language. */
  def classify(
      corpus: DataFrame,
      labeled: DataFrame,
      textCol: String,
      idCol: String,
      langCol: String,
      n: Int = DefaultN,
      buckets: Int = 2000,
      alpha: Double = 1.0
  ): DataFrame = {
    val (model, priors) = NaiveBayes.train(
      labeled, textCol, langCol, buckets, alpha, charGramBuckets(n))
    classifyWith(corpus, model, priors, textCol, idCol, n, buckets)
  }

  /** [[classifyWith]] plus a CONFIDENCE margin and an abstain branch —
    * the fastText `-th` posture: route a document to its argmax language
    * only when the top-1/top-2 integer score gap clears `minMarginLpq`
    * (quantized ln·1e9 units, the model's own scale); otherwise emit the
    * explicit `und` bucket. Low-margin docs are exactly the ones the
    * model cannot separate (shared-vocab text, mixed-language pages,
    * too-short evidence), and silently routing them corrupts every
    * per-language stage downstream (LM scoring, quotas, fertility).
    *
    * Output: (idCol, lang = argmax or "und", margin_lpq). Margin is
    * always defined when the model has ≥ 2 classes (the dense C×B model
    * scores every class for every doc with features); a top-2 tie gives
    * margin 0 → abstain. Docs shorter than `n` chars yield no row, as in
    * [[classify]].
    *
    * Scale shape: same two partial-agg exchanges as [[classifyWith]];
    * the per-doc top-2 pick is a sorted collect over exactly C structs
    * (C = number of languages, fixed and small — bounded by the model,
    * not the data), never a window. */
  def classifyMargin(
      corpus: DataFrame,
      model: DataFrame,
      priors: DataFrame,
      textCol: String,
      idCol: String,
      minMarginLpq: Long,
      n: Int = DefaultN,
      buckets: Int = 2000
  ): DataFrame = {
    require(minMarginLpq >= 0, "classifyMargin: minMarginLpq must be >= 0")
    classifyTopMargin(corpus, model, priors, textCol, idCol, n, buckets)
      .select(col(idCol),
        when(col("margin_lpq").isNull || // single-class model: no gap
            col("margin_lpq") >= minMarginLpq, col("lang_top"))
          .otherwise(lit("und")).as("lang"),
        coalesce(col("margin_lpq"), lit(0L)).as("margin_lpq"))
  }

  /** The shared scoring pass under [[classifyMargin]], exposed so a
    * caller needing BOTH the unconditional argmax and a margin-gated
    * routing (e.g. rater-agreement audits that compare the two) scores
    * the corpus once instead of twice. Output: (idCol, lang_top,
    * margin_lpq) with margin_lpq null exactly when the model has a
    * single class (no runner-up). `lang_top` is bit-identical to
    * [[classifyWith]]'s `lang` — both take min on (negScore, label). */
  def classifyTopMargin(
      corpus: DataFrame,
      model: DataFrame,
      priors: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = DefaultN,
      buckets: Int = 2000
  ): DataFrame = {
    corpus
      .select(col(idCol),
        explode(charGramBuckets(n)(col(textCol), buckets)).as("b"))
      .join(broadcast(model), Seq("b"))
      .groupBy(col(idCol), col("label"))
      .agg(sum("lpq").as("__s"))
      .join(broadcast(priors), Seq("label"))
      .select(col(idCol),
        struct((-(col("__s") + col("lpq_prior"))).as("negScore"),
          col("label")).as("__k"))
      .groupBy(col(idCol))
      // C structs per doc (one per language) — model-sized, sorted
      // ascending on (negScore, label) = score desc, label asc
      .agg(array_sort(collect_list(col("__k"))).as("__ks"))
      // get() is 0-based and null on out-of-bounds — a single-class
      // model has no second element (ANSI element_at would throw)
      .select(col(idCol),
        get(col("__ks"), lit(0))("label").as("lang_top"),
        (get(col("__ks"), lit(1))("negScore") -
          get(col("__ks"), lit(0))("negScore")).as("margin_lpq"))
  }

  /** [[classify]] under a PRE-TRAINED (model, priors) pair — the
    * steady-state router shape: train once (or read a frozen fixture),
    * classify every batch under the same broadcast tables. */
  def classifyWith(
      corpus: DataFrame,
      model: DataFrame,
      priors: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = DefaultN,
      buckets: Int = 2000
  ): DataFrame =
    NaiveBayes.classify(
        corpus, model, priors, textCol, idCol, buckets, charGramBuckets(n))
      .select(col(idCol), col("label").as("lang"), col("score_lpq"))
}
