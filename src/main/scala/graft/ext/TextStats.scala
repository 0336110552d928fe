package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis operators for training-data pipelines: token counting,
  * quality scoring, language identification, document fingerprinting.
  * All narrow per-row transforms (codegen'd expressions, no UDFs, no
  * shuffles) — at 100 TB these run at scan speed.
  */
object TextStats {

  /** BPE-ish segmentation regex: letter runs, digit runs, single
    * non-alphanumeric marks (identical semantics in Java and RE2). */
  val BpeIshPattern = "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

  /** Whitespace tokens (empties filtered — leading/trailing/multiple
    * spaces don't create tokens). */
  def wsTokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_ws_tokens", size(wsTokens(col(textCol))))
      .withColumn("n_bpeish_tokens",
        size(regexp_extract_all(col(textCol), lit(BpeIshPattern), lit(0))))
      .withColumn("n_chars_measured", length(col(textCol)))

  /** Quality signals: token count, average token length, punctuation ratio,
    * stopword ratio, and a fixed-weight composite score. Scalar double
    * arithmetic in a fixed expression order — deterministic. */
  val Stopwords = Seq("the", "a", "of", "and", "to", "in")

  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val toks = wsTokens(col(textCol))
    val nTok = size(toks)
    val nChar = length(col(textCol))
    val punct = length(regexp_replace(col(textCol), "[a-zA-Z0-9 ]", ""))
    val stops = size(filter(toks, t => t.isin(Stopwords.map(lit(_)): _*)))
    // one let-bound counter struct, pinned to a single evaluation
    // ([[graft.plans.EvalOnceExpression]]): the signals and the composite
    // are field extractions, so a curation filter over them costs ONE
    // tokenize pass per row, not one per rule (a downstream filter would
    // otherwise alias-inline the whole pass into every pushed conjunct;
    // a codegen'd FilterExec has no subexpression elimination)
    val cCol = "__q_c"
    require(!df.columns.contains(cCol), s"column $cCol already exists")
    val counters = graft.plans.EvalOnceExpression.evalOnce(struct(
      nTok.as("n_tok"), nChar.as("n_char"),
      punct.as("punct"), stops.as("stops")))
    val c = col(cCol)
    val fTok = c.getField("n_tok")
    val fChar = c.getField("n_char")
    df.withColumn(cCol, counters)
      .withColumn("n_tokens", fTok)
      .withColumn("avg_token_len",
        (fChar - (fTok - 1)).cast("double") / fTok.cast("double"))
      .withColumn("punct_ratio",
        c.getField("punct").cast("double") / fChar.cast("double"))
      .withColumn("stopword_ratio",
        c.getField("stops").cast("double") / fTok.cast("double"))
      .withColumn("quality",
        col("stopword_ratio") * 0.4
          + (lit(1.0) - col("punct_ratio")) * 0.4
          + when(col("n_tokens") >= 20 && col("n_tokens") <= 1000, 0.2).otherwise(0.0))
      .drop(cCol)
  }

  /** Gopher-style structural quality rules (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", appendix A1.1 — the published filter
    * set that most open LLM-data pipelines reimplement): word-count
    * bounds, mean-word-length band, symbol-to-word ratio (hash marks and
    * ellipses), alphabetic-word ratio, and a minimum stop-word count.
    * Emits every raw signal, one boolean per rule, and the conjunction
    * `pass_gopher` — pipelines keep the signals so a later re-filter with
    * different thresholds is a scan, not a recompute.
    *
    * All narrow codegen'd HOF expressions over one let-bound token array —
    * scan speed at 100 TB, no shuffle, no UDFs. Empty/whitespace-only
    * documents have zero tokens: ratio signals are null (nullif-guarded
    * division, identical in ANSI Spark and the DuckDB oracle) and the
    * word-count rule already fails them. */
  def gopherRules(
      df: DataFrame,
      textCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaWordRatio: Double = 0.8,
      minStopwords: Int = 2
  ): DataFrame = {
    // The five counters come from ONE pass of the codegen'd
    // graft_gopher_counts kernel (whole-stage codegen + subexpression
    // elimination make repeated references — e.g. a .where(pass_gopher)
    // whose predicate gets pushed through the projection — evaluate the
    // scan once; TextNativeSpec pins it against a struct of the
    // declarative HOF counters). Signals below are cheap FIELD
    // EXTRACTIONS of the struct, so alias substitution duplicates only
    // GetStructField, never the tokenize pass.
    val cCol = "__gopher_c"
    require(!df.columns.contains(cCol), s"column $cCol already exists")
    // evalOnce pins the kernel to ONE evaluation per row: without the
    // barrier, a user filter on pass_gopher pushes down and alias
    // substitution duplicates the tokenize pass into every rule conjunct
    // — up to 10× per-row cost inside a codegen'd FilterExec (which,
    // unlike the interpreted path, has no subexpression elimination), or
    // a silent 64 KB codegen fallback when the input is itself a wide
    // expression. With it, the plan is Project(kernel once) with cheap
    // field-extraction filters above, and unrelated conjuncts still push
    // past to the scan.
    val counters = graft.plans.EvalOnceExpression.evalOnce(
      call_function("graft_gopher_counts", col(textCol)))
    val c = col(cCol)
    val nWords = c.getField("n_words")
    val denom = nullif(nWords, lit(0)).cast("double")
    val charSum = c.getField("char_sum")
    val nSymbol = c.getField("n_symbol")
    val nAlpha = c.getField("n_alpha")
    val nStops = c.getField("n_stops")
    df.withColumn(cCol, counters)
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len", charSum.cast("double") / denom)
      .withColumn("symbol_ratio", nSymbol.cast("double") / denom)
      .withColumn("alpha_word_ratio", nAlpha.cast("double") / denom)
      .withColumn("n_stopwords", nStops)
      .withColumn("ok_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("ok_mean_word_len",
        col("mean_word_len") >= minMeanWordLen && col("mean_word_len") <= maxMeanWordLen)
      .withColumn("ok_symbol_ratio", col("symbol_ratio") <= maxSymbolRatio)
      .withColumn("ok_alpha_words", col("alpha_word_ratio") >= minAlphaWordRatio)
      .withColumn("ok_stopwords", col("n_stopwords") >= minStopwords)
      .withColumn("pass_gopher",
        col("ok_word_count") && col("ok_mean_word_len") && col("ok_symbol_ratio") &&
          col("ok_alpha_words") && col("ok_stopwords"))
      .drop(cCol)
  }

  /** Stopword lists per language for the n-gram/stopword language-ID
    * heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "a", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "las", "es", "y"))

  /** Language-ID: argmax of per-language marker-token counts, ties broken
    * by the fixed language order above. */
  def langId(df: DataFrame, textCol: String): DataFrame = {
    val toks = wsTokens(lower(col(textCol)))
    val scored = LangMarkers.foldLeft(df) { case (d, (lang, markers)) =>
      d.withColumn(s"score_$lang",
        size(filter(toks, t => t.isin(markers.map(lit(_)): _*))))
    }
    val langs = LangMarkers.map(_._1)
    val pick = langs.init.zipWithIndex.foldRight(lit(langs.last): Column) {
      case ((lang, i), els) =>
        val beatsRest = langs.drop(i + 1)
          .map(o => col(s"score_$lang") >= col(s"score_$o"))
          .reduce(_ && _)
        when(beatsRest, lit(lang)).otherwise(els)
    }
    scored.withColumn("lang_pred", pick)
  }

  /** Corpus vocabulary statistics with a cardinality sketch: exact token
    * count, HyperLogLog++ distinct-token estimate, and (for verification
    * tiers) the exact distinct count. At 100 TB the exact distinct is a
    * full shuffle of the token universe — the sketch is the production
    * path (fixed-size register state, map-side mergeable, one narrow
    * pass); the exact column exists for small-scale validation and is the
    * first thing to drop at scale. HLL++ is deterministic for a given
    * input set (register max is order-independent), but its value is
    * engine-specific — so this operator is spec-verified (relative error
    * vs exact), not oracle-hashed. */
  def vocabStats(df: DataFrame, textCol: String, rsd: Double = 0.02): DataFrame =
    df.select(explode(wsTokens(col(textCol))).as("token"))
      .agg(
        count(lit(1)).as("n_tokens"),
        approx_count_distinct(col("token"), rsd).as("vocab_approx"),
        countDistinct(col("token")).as("vocab_exact"))

  /** Repetition score: 1 − distinct/total word bigrams — the classic
    * boilerplate/spam signal (repeated phrases ⇒ ratio → 1). Narrow
    * transform over the let-bound shingle array; scan speed at 100 TB. */
  def repetitionScore(df: DataFrame, textCol: String): DataFrame = {
    val grams = TextHash.shingles(col(textCol), 2)
    // pinned like qualityScore: a repetition-threshold filter costs one
    // shingle pass, not one per conjunct referencing it
    val cCol = "__rep_c"
    require(!df.columns.contains(cCol), s"column $cCol already exists")
    val counters = graft.plans.EvalOnceExpression.evalOnce(struct(
      size(grams).as("n_bi"), size(array_distinct(grams)).as("n_dist")))
    val c = col(cCol)
    df.withColumn(cCol, counters)
      .withColumn("n_bigrams", c.getField("n_bi"))
      .withColumn("n_distinct_bigrams", c.getField("n_dist"))
      .withColumn("repetition",
        lit(1.0) - col("n_distinct_bigrams").cast("double") /
          col("n_bigrams").cast("double"))
      .drop(cCol)
  }

  /** Greedy-LZ77 compressibility stats (`graft_lz_stats` kernel; see
    * [[graft.plans.LzStatsExpression]]): the compression-ratio quality
    * signal — templated/repetitive pages parse into few long matches,
    * prose into literals. Adds `lz` (the struct) and `lz_ratio` =
    * (n_literals + 3·n_matches) / length — a deflate-like cost model
    * (a match costs ~3 bytes, a literal 1); lower = more compressible.
    * Requires the graft session extensions (native kernel only — the
    * stateful parse has no HOF form). */
  def lzStats(
      df: DataFrame, textCol: String,
      window: Int = 16, minMatch: Int = 4, maxMatch: Int = 12): DataFrame =
    df.withColumn("lz",
        // pinned: a filter on lz_ratio must not re-run the LZ parse per
        // conjunct (the kernel requires the extensions, so the barrier
        // is always available here)
        graft.plans.EvalOnceExpression.evalOnce(
          call_function("graft_lz_stats", col(textCol),
            lit(window), lit(minMatch), lit(maxMatch))))
      .withColumn("lz_ratio",
        (col("lz.n_literals") + col("lz.n_matches") * 3).cast("double") /
          greatest(length(col(textCol)).cast("double"), lit(1.0)))

  /** PII redaction patterns (Java-regex and DuckDB-RE2 compatible subset):
    * email-shaped tokens and long digit runs (ids, phone numbers). */
  val EmailPattern = "[a-zA-Z0-9_.]+@[a-zA-Z0-9.]+"
  val DigitRunPattern = "[0-9]{6,}"

  /** Redact PII: emails → `<EMAIL>`, 6+-digit runs → `<NUM>`. Order
    * matters (emails may contain digits); both passes are codegen'd
    * regexp_replace — scan-speed, no UDFs. */
  def redact(df: DataFrame, textCol: String, outCol: String = "redacted"): DataFrame =
    df.withColumn(outCol,
      regexp_replace(
        regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
        DigitRunPattern, "<NUM>"))

  /** Text normalization chain — Unicode NFC canonical composition (the
    * native `graft_nfc` kernel; Spark has no built-in and composed vs
    * decomposed accents must dedup identically), unicode lowercase,
    * whitespace collapse, edge trim. The canonical pre-step before
    * fingerprinting/dedup/tokenization; entirely codegen'd, scan speed at
    * 100 TB. Requires a GraftExtensions session (call_function resolves
    * `graft_nfc` at analysis time). */
  def normalizeText(df: DataFrame, textCol: String,
      outCol: String = "norm_text"): DataFrame =
    df.withColumn(outCol,
      trim(regexp_replace(
        lower(call_function("graft_nfc", col(textCol))), "\\s+", " ")))

  /** Document fingerprints: md5 of whitespace-normalized lowercase text,
    * plus a 31-multiplier polynomial rolling hash mod 2^31-1 (byte-exact in
    * any engine; char-positional, ASCII-safe): the codegen'd
    * `graft_fp_rolling` kernel (per-character interpreted lambdas dominate
    * otherwise). Its spec is [[rollingDeclarative]]. */
  def fingerprint(df: DataFrame, textCol: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    df.withColumn("fp_md5", md5(norm))
      .withColumn("fp_rolling", call_function("graft_fp_rolling", norm))
  }

  /** Per-document top-k TF-IDF terms — the classic keyword extractor
    * (salient-term indexing, topic tagging, near-dup triage).
    * `score = tf · ln((N+1)/(df+1))` with add-one smoothing; `tf` is the
    * in-document term count, `df` the corpus document frequency, `N` the
    * corpus size.
    *
    * Scale shape (the inverted-index build, at the standard price):
    *   - per-document term counts group on (doc, term) — rows for one
    *     document explode in place, so map-side partial aggregation
    *     collapses them before the shuffle carries one row per DISTINCT
    *     (doc, term) pair;
    *   - document frequency groups the tf table on term (partial-agg
    *     again); N is a one-row aggregate crossJoin-broadcast back — no
    *     driver action, no collect;
    *   - the per-document top-k runs through the bounded `graft_topk`
    *     partial aggregate (≤ mappers×k rows per doc in the shuffle),
    *     never a row_number window that would shuffle every scored term;
    *   - scores are quantized to decimal(18,9) BEFORE ranking, so a
    *     cross-engine last-ulp difference between StrictMath.log and
    *     libm ln can never reorder ranks at any corpus size (the 2e-16
    *     relative drift is absorbed by the 1e-9 quantum). Ranking on the
    *     decimal's double image is order-isomorphic ONLY while the score
    *     stays below 2^53·1e-9 ≈ 9.0e6 (≤ ~16 significant digits round-trip
    *     double exactly there; beyond it distinct quantized scores can
    *     collide in the double image, and beyond ~1e9 the decimal(18,9)
    *     cast itself overflows to null under non-ANSI semantics, silently
    *     dropping the term) — so the score pipeline FAILS FAST with
    *     raise_error when |tf·ln((N+1)/(df+1))| reaches 9.0e6. In practice
    *     that bound means one term repeated ≥ ~300k times in one document
    *     at web-corpus N/df ratios — degenerate input this engine's
    *     repetition/quality filters would drop anyway, but an error beats
    *     a silent mis-rank;
    *   - ties break on the term's 60-bit md5 hash ascending — a total
    *     order both engines compute identically (string collation is not
    *     portable, hash order is); winners rehydrate (term, tf, df) by
    *     joining back to the scored table on (doc, hash) — one extra
    *     exchange of the distinct-(doc, term) table, the price of
    *     carrying tf — de-collided by min-struct per (doc, rank) so a
    *     60-bit hash collision can never mix fields from two terms.
    *
    * Output: (idCol, rank: bigint, term, tf, df, tfidf: decimal(18,9)),
    * rank 1..k per document.
    * Requires a GraftSession (`graft_topk` resolves at analysis time). */
  def tfidfTopK(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int
  ): DataFrame = {
    val nDocs = df.agg(count(lit(1)).as("__n_docs"))
    val tf = df
      .select(col(idCol), explode(wsTokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("th", TextHash.hmod60(col("term")))
    val raw = col("tf").cast("double") *
      log((col("__n_docs") + 1).cast("double") / (col("df") + 1).cast("double"))
    val scored = tf
      .join(dfT, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        when(abs(raw) < 9.0e6, raw.cast("decimal(18,9)"))
          .otherwise(raise_error(concat(
            lit("graft.tfidfTopK: |tfidf| >= 9.0e6 breaks the " +
              "decimal(18,9)->double rank injectivity bound (term hash "),
            col("th").cast("string"), lit(")")))))
    // graft_topk ranks (score desc, id asc); the "id" here is the term
    // hash, giving the engine-portable tie-break. The score is the
    // quantized decimal's double image — injective at these magnitudes
    // (≤11 significant digits), so the decimal order is preserved.
    val top = scored
      .groupBy(col(idCol))
      .agg(call_function("graft_topk",
        col("tfidf").cast("double"), col("th"), lit(k)).as("top"))
      .select(col(idCol), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col(idCol), (col("pos") + 1).cast("bigint").as("rank"),
        col("t.id").as("th"), col("t.score").cast("decimal(18,9)").as("tfidf"))
    // (doc, hash) → (term, tf, df) join-back against the scored table —
    // docs×k rows against distinct-(doc, term) rows, an ordinary equi
    // join. min-struct per (doc, rank) keeps all three fields from ONE
    // row should two terms of a document ever share a 60-bit hash.
    top.join(scored.select(col(idCol), col("th"), col("term"), col("tf"), col("df")),
        Seq(idCol, "th"))
      .groupBy(col(idCol), col("rank"), col("tfidf"))
      .agg(min(struct(col("term"), col("tf"), col("df"))).as("v"))
      .select(col(idCol), col("rank"), col("v.term").as("term"),
        col("v.tf").as("tf"), col("v.df").as("df"), col("tfidf"))
  }

  /** Declarative spec of the rolling hash (also the oracle template).
    * The normalized string is LET-BOUND via the single-element-array
    * transform: Catalyst has no let expression, so referencing the
    * regexp_replace pipeline inside the per-character lambda would re-run
    * the O(n) regex for every character — O(n²) per document. */
  def rollingDeclarative(norm: Column): Column =
    element_at(
      transform(array(norm), s => // bind the normalized text once per row
        aggregate(
          transform(sequence(lit(1), length(s)), i => ascii(s.substr(i, lit(1)))),
          lit(0L),
          (acc, x) => (acc * 31 + x) % TextHash.P)),
      1)
}
