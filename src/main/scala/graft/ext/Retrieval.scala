package graft.ext

import graft.ops.Lineage.CutOps
import graft.table.TableStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Full-text retrieval over a document corpus — BM25 (Okapi) scoring for a
  * fixed query set. The reference pipeline's search-shaped workload (query a
  * loaded table for matching rows) generalized to ranked text retrieval; in
  * an LLM-data pipeline this is the standard tool for targeted corpus
  * inspection ("which documents talk about X"), contamination triage against
  * benchmark queries, and quality-slice sampling by topic.
  *
  * `score(q, d) = Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`
  * with `idf(t) = ln(1 + (N − df(t) + 0.5)/(df(t) + 0.5))`, `tf` the term's
  * in-document count, `dl` the document's token length, `avgdl` the corpus
  * mean token length, and query-term multiplicity collapsed (standard Okapi).
  *
  * Scale shape (the whole point — this never builds a corpus-wide index):
  *   - the query-term set is a driver literal, so the token ARRAY is
  *     filtered by a codegen'd `array_contains` BEFORE the explode — the
  *     explode emits only query-term tokens and the only rows that ever
  *     reach an exchange are matches (query-vocabulary-bounded, not
  *     corpus-vocabulary-bounded). Linear in |query vocab| per token, the
  *     right trade up to a few thousand distinct query terms; for larger
  *     query batches switch the filter to a broadcast semi join;
  *   - `tf` groups on (doc, dl, term) — `dl` is constant per document, so
  *     carrying it in the grouping key keeps map-side partial aggregation
  *     intact and avoids a doc-length join-back; a null-sentinel row per
  *     document rides the same explode, so corpus stats (N, Σdl) come from
  *     the SAME single corpus pass (the aggregate is lazily persisted —
  *     docs-scale, not token-scale — because three branches consume it);
  *   - `df` re-groups the tiny filtered tf table;
  *   - query ids attach to candidate rows by probing a literal
  *     term → query-ids map, not by joining a query table (no broadcast
  *     job);
  *   - served from a persistent index ([[bm25TopKIndexed]]) a query runs
  *     3 Spark jobs — scan-and-score, top-k, result — with no broadcast:
  *     the corpus stats (N, Σdl) are plan literals summed from the stats
  *     table's parquet footers, and df joins the postings on the
  *     co-bucketed `term` key without an exchange;
  *   - per-term contributions are quantized to decimal(18,9) BEFORE summing,
  *     so the per-(query, doc) score is an EXACT decimal sum — portable
  *     across engines regardless of double addition order — and Spark's
  *     StrictMath.log vs libm ln last-ulp drift is absorbed by the 1e-9
  *     quantum (the [[TextStats.tfidfTopK]] discipline, same 9.0e6
  *     decimal→double rank-injectivity fail-fast bound);
  *   - the per-query top-k runs through the bounded `graft_topk` partial
  *     aggregate (≤ mappers×k rows per query in the shuffle), never a
  *     row_number window; ties break on the document id ascending — a total
  *     order both engines share.
  *
  * Output: (query_id: bigint, rank: bigint, idCol: bigint,
  * score: decimal(18,9)), rank 1..k per query, densest-first. Documents with
  * no query term are absent (their BM25 score is 0). Requires a GraftSession
  * (`graft_topk` resolves at analysis time).
  *
  * Reference semantics: Robertson & Spärck Jones probabilistic relevance
  * framework (BM25, TREC-3); parameter defaults k1=1.2, b=0.75 are the
  * literature's standard operating point.
  */
object Retrieval {

  /** wsTokens of a query string on the driver — MUST mirror
    * [[TextStats.wsTokens]] (split on single space, drop empties) so query
    * tokenization and corpus tokenization agree. */
  def queryTerms(queryText: String): Seq[String] =
    queryText.split(" ", -1).filter(_.nonEmpty).distinct.toSeq

  def bm25TopK(
      df: DataFrame,
      textCol: String,
      idCol: String,
      queries: Seq[(Long, String)],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(queries.nonEmpty, "bm25TopK: empty query set")
    val qterms = termQueries(queries)
    val qvocabLit = array(qterms.keys.toSeq.map(lit): _*)

    val toks = df.select(
      col(idCol),
      TextStats.wsTokens(col(textCol)).as("__toks"))
    // ONE corpus pass: filter the token array to query vocabulary BEFORE
    // the explode (only query-term tokens are ever emitted, so the tf
    // shuffle carries matches rather than the corpus) and append a null
    // sentinel per document — the sentinel rows ARE the doc-length table,
    // so corpus stats (N, Σdl) branch off the same aggregate instead of
    // re-scanning and re-tokenizing the corpus a second time. The aggregate
    // is consumed by three branches (tf, df, stats) and Spark does not
    // common-subexpression-eliminate across them, so LAZILY persist it:
    // docs-scale (one row per doc plus one per matched term — NOT
    // token-scale), lineage intact (safe under executor loss, unlike a
    // checkpoint), evicted by the block manager's LRU when memory is tight.
    val tfAll = toks
      .select(col(idCol), size(col("__toks")).cast("bigint").as("dl"),
        explode(concat(
          filter(col("__toks"), t => array_contains(qvocabLit, t)),
          array(lit(null).cast("string")))).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tf = tfAll.where(col("term").isNotNull)
    val stats = tfAll.where(col("term").isNull)
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    // df over the filtered tf table only — query-vocabulary-sized result
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    scoreAndRank(
      tf.join(broadcast(dft), "term").crossJoin(broadcast(stats)),
      qterms, col("n_docs"),
      col("sum_dl").cast("double") / col("n_docs").cast("double"),
      idCol, k, k1, b)
  }

  /** One scored field of a [[bm25fTopK]] corpus: its column, its saturation
    * weight w_f, and its length-normalization slope b_f ∈ [0, 1]. */
  final case class Bm25Field(col: String, weight: Double, b: Double) {
    require(b >= 0.0 && b <= 1.0, s"Bm25Field($col): b $b outside [0,1]")
    require(weight > 0.0, s"Bm25Field($col): weight $weight <= 0")
  }

  /** BM25F — fielded BM25 (Robertson, Zaragoza & Taylor, CIKM 2004;
    * Zaragoza et al., TREC-13 "simple BM25F"): per-field term frequencies
    * are length-normalized and weighted FIRST, then a single saturation is
    * applied to the combined pseudo-frequency —
    *
    *   tf̃(t,d) = Σ_f  w_f · tf_f / (1 − b_f + b_f · dl_f/avgdl_f)
    *   score(q,d) = Σ_{t ∈ q} idf(t) · tf̃ / (k1 + tf̃)
    *
    * which is NOT equivalent to summing per-field BM25 scores (saturating
    * after mixing is the point: a term stuffed into a low-weight field
    * cannot re-earn fresh saturation headroom per field). idf is document-
    * level: df(t) counts documents containing t in ANY field.
    *
    * Scale shape (the [[bm25TopK]] contract, fielded): ONE corpus pass —
    * every field's token array is filtered to the query vocabulary BEFORE
    * a single shared explode (rows carry a field tag), and one null
    * sentinel per (doc, field) rides the same explode as the field-length
    * table, so per-field corpus stats branch off the same lazily-persisted
    * docs-scale aggregate. Everything after is query-vocabulary-bounded;
    * the top-k runs through the bounded `graft_topk` aggregate.
    *
    * Portability: per-field normalized contributions quantize to
    * decimal(18,9) and sum EXACTLY into tf̃ (field addition order can
    * never drift); tf̃ re-enters double land as an exact ppb integer over
    * 1e9 (one deterministic IEEE division — never a decimal→double cast,
    * whose rounding is engine-specific); the final idf·saturation
    * contribution quantizes to decimal(18,9) before the exact per-(query,
    * doc) sum — the [[bm25TopK]] discipline end-to-end, same 9.0e6
    * rank-injectivity fail-fast.
    *
    * Output: (query_id, rank 1..k, idCol, score decimal(18,9)). */
  def bm25fTopK(
      df: DataFrame,
      fields: Seq[Bm25Field],
      idCol: String,
      queries: Seq[(Long, String)],
      k: Int,
      k1: Double = 1.2
  ): DataFrame = {
    require(queries.nonEmpty, "bm25fTopK: empty query set")
    require(fields.nonEmpty, "bm25fTopK: no fields")
    val qterms = termQueries(queries)
    val qvocabLit = array(qterms.keys.toSeq.map(lit): _*)

    // one tagged stream per field, concatenated into ONE explode; the
    // token array is let-bound (the TextHash.shingles idiom) so the split
    // runs once per (row, field), not once per emitted element
    // a null field is an EMPTY field, never a document eraser: without the
    // coalesce a single null column nullifies its tagged array, concat
    // nullifies, and explode silently drops the doc from retrieval and
    // from every field's n_docs/avgdl stats
    val tagged = fields.zipWithIndex.map { case (fd, fi) =>
      element_at(
        transform(array(coalesce(TextStats.wsTokens(col(fd.col)),
          array().cast("array<string>"))), toks => concat(
          transform(filter(toks, t => array_contains(qvocabLit, t)),
            t => struct(lit(fi).as("f"),
              size(toks).cast("bigint").as("dl"), t.as("term"))),
          array(struct(lit(fi).as("f"), size(toks).cast("bigint").as("dl"),
            lit(null).cast("string").as("term"))))),
        1)
    }
    val tfAll = df
      .select(col(idCol), explode(concat(tagged: _*)).as("x"))
      .select(col(idCol), col("x.f").as("f"), col("x.dl").as("dl"),
        col("x.term").as("term"))
      .groupBy(col(idCol), col("f"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tf = tfAll.where(col("term").isNotNull)
    val fstats = tfAll.where(col("term").isNull)
      .groupBy("f").agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val statsN = fstats.limit(1).select(col("n_docs"))

    // per-field normalized weighted tf, quantized then EXACTLY summed
    val wF = fields.zipWithIndex.foldLeft(lit(0.0)) { case (acc, (fd, fi)) =>
      when(col("f") === fi, lit(fd.weight)).otherwise(acc) }
    val bF = fields.zipWithIndex.foldLeft(lit(0.0)) { case (acc, (fd, fi)) =>
      when(col("f") === fi, lit(fd.b)).otherwise(acc) }
    val avgdlF = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val cF = wF * col("tf").cast("double") /
      (lit(1.0) - bF + bF * (col("dl").cast("double") / avgdlF))
    val tfw = tf
      .join(broadcast(fstats), "f")
      .withColumn("__cf", cF.cast("decimal(18,9)"))
      .groupBy(col(idCol), col("term"))
      .agg(sum(col("__cf")).as("__tfw"))
      // decimal(18,9)'s unscaled value IS ppb — exact integer re-entry
      .withColumn("__tfw_ppb", expr("CAST(__tfw * 1000000000 AS BIGINT)"))
    val dft = tfw.groupBy("term").agg(count(lit(1)).as("df"))

    val nD = col("n_docs").cast("double")
    val dfD = col("df").cast("double")
    val tfd = col("__tfw_ppb").cast("double") / lit(1.0e9)
    val idf = log(lit(1.0) + (nD - dfD + lit(0.5)) / (dfD + lit(0.5)))
    val raw = idf * tfd / (lit(k1) + tfd)
    val contrib = tfw
      .join(broadcast(dft), "term")
      .crossJoin(broadcast(statsN))
      .withColumn("__c",
        when(abs(raw) < lit(9.0e6), raw.cast("decimal(18,9)"))
          .otherwise(raise_error(concat(
            lit("graft.bm25fTopK: |contribution| >= 9.0e6 breaks the " +
              "decimal(18,9)->double rank injectivity bound (term "),
            col("term"), lit(")")))))
      .withColumn("query_id", queryIdsOf(qterms))
    val scored = contrib
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__c")).as("__score"))
    scored
      .groupBy(col("query_id"))
      .agg(call_function("graft_topk",
        col("__score").cast("double"), col(idCol).cast("bigint"), lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("bigint").as("rank"),
        col("t.id").as(idCol), col("t.score").cast("decimal(18,9)").as("score"))
  }

  /** Query ids per distinct query term — the probe map of [[queryIdsOf]]. */
  private def termQueries(queries: Seq[(Long, String)]): Map[String, Seq[Long]] =
    queries.flatMap { case (qid, qtext) => queryTerms(qtext).map(_ -> qid) }
      .groupMap(_._1)(_._2)

  /** The ids of the queries holding the row's `term`, one output row each:
    * a probe of a literal map, so attaching queries to candidates costs no
    * join and no broadcast job. Rows reaching it are already filtered to
    * the query vocabulary, so every probe hits. */
  private def queryIdsOf(qterms: Map[String, Seq[Long]]): Column =
    explode(element_at(typedLit(qterms), col("term")))

  /** The shared BM25 scoring tail: (doc, dl, term, tf, df) candidates ×
    * the literal query-term map, with corpus stats `nDocs` and `avgdl` →
    * per-query ranked top-k. The exact-decimal-sum / quantize-before-rank
    * portability discipline lives here. */
  private def scoreAndRank(
      cand: DataFrame, qterms: Map[String, Seq[Long]],
      nDocs: Column, avgdl: Column,
      idCol: String, k: Int, k1: Double, b: Double
  ): DataFrame = {
    val nD = nDocs.cast("double")
    val dfD = col("df").cast("double")
    val tfD = col("tf").cast("double")
    val idf = log(lit(1.0) + (nD - dfD + lit(0.5)) / (dfD + lit(0.5)))
    val tfSat = tfD * lit(k1 + 1.0) /
      (tfD + lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("dl").cast("double") / avgdl)))
    val raw = idf * tfSat
    val contrib = cand
      .withColumn("__c",
        when(abs(raw) < lit(9.0e6), raw.cast("decimal(18,9)"))
          .otherwise(raise_error(concat(
            lit("graft.bm25TopK: |contribution| >= 9.0e6 breaks the " +
              "decimal(18,9)->double rank injectivity bound (term "),
            col("term"), lit(")")))))
      .withColumn("query_id", queryIdsOf(qterms))
    val scored = contrib
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__c")).as("__score")) // exact decimal sum — portable
    scored
      .groupBy(col("query_id"))
      .agg(call_function("graft_topk",
        col("__score").cast("double"), col(idCol).cast("bigint"), lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("bigint").as("rank"),
        col("t.id").as(idCol), col("t.score").cast("decimal(18,9)").as("score"))
  }

  /** Materialize a persistent BM25 inverted index into a [[TableStore]] —
    * the production shape for REPEATED query batches at 100 TB: pay the
    * corpus tokenize/index once, then serve every later query batch from
    * bucket-pruned posting lists without touching the corpus again.
    *
    * Three tables under `name`:
    *   - `<name>_postings` (term, doc_id: bigint, dl, tf) — the inverted
    *     index, hash-bucketed AND sorted on `term` so a query-vocabulary
    *     `IN` filter prunes to the buckets holding its terms
    *     (`SelectedBucketsCount` in the scan, asserted in PlanSpec) and
    *     never reads the rest of the index;
    *   - `<name>_terms` (term, df) — document frequencies;
    *   - `<name>_stats` (n_docs, sum_dl) — one row.
    *
    * The build is the [[bm25TopK]] single corpus pass WITHOUT the query
    * filter (the whole vocabulary is indexed; the null sentinel again
    * doubles as the doc-length/stats carrier). */
  def buildBm25Index(
      store: TableStore, name: String,
      df: DataFrame, textCol: String, idCol: String,
      numBuckets: Int, registerFor: Option[String] = None
  ): Unit = {
    writeBm25Index(store, name, df, textCol, idCol, numBuckets,
      append = false)
    // registerFor = the table df was read from: registers this index as
    // a retention-cascade target at build time so `indexes = Nil`
    // erasures reach it (takes that table's retention lease)
    registerFor.foreach(t => Retention.registerIndex(store, t,
      Retention.Bm25(name, textCol, numBuckets)))
  }

  /** Grow a [[buildBm25Index]] index with a batch of NEW documents (ids
    * must be disjoint from what is already indexed — re-ingesting a doc
    * would double-count its postings; dedup the crawl first, which is what
    * the incremental-dedup operators are for). The batch's postings and
    * per-term df increments append as extra files in the SAME buckets
    * (pruning and co-location intact) and a stats row appends to the stats
    * table — an append never rewrites existing index data, so index
    * maintenance costs the BATCH's size, not the index's. df and corpus
    * stats are summed at query time (integer sums — engine-exact). */
  def appendBm25Index(
      store: TableStore, name: String,
      df: DataFrame, textCol: String, idCol: String,
      numBuckets: Int
  ): Unit =
    writeBm25Index(store, name, df, textCol, idCol, numBuckets,
      append = true)

  /** DELETE documents from the index — the takedown path. Pure
    * log-structured negation: the docs' postings/df/stats re-derive from
    * their text and append with NEGATED counts into the same buckets, so
    * the query-time integer sums cancel the original contributions
    * exactly — `sum(tf) = 0` rows drop, df and corpus stats shrink — and
    * nothing is rewritten. Deleting costs the deleted docs' size, like an
    * append. Contract: pass exactly the (id, text) rows that were
    * indexed (the corpus table holds them; a re-tokenization mismatch
    * would leave a partial residue). Re-adding the same id later is fine:
    * sums cancel then re-accumulate. */
  def deleteFromBm25Index(
      store: TableStore, name: String,
      docs: DataFrame, textCol: String, idCol: String,
      numBuckets: Int
  ): Unit =
    writeBm25Index(store, name, docs, textCol, idCol, numBuckets,
      append = true, sign = -1)

  /** [[deleteFromBm25Index]] with replay-idempotency `tag`s on ALL THREE
    * of the negation's commits: the postings and terms appends each mark
    * completion with a tiny ZERO-DELTA stats row tagged `<tag>.p` /
    * `<tag>.t` (harmless to every reader — the query path sums stats
    * rows, and [[compactBm25Index]] folds them away), and the real stats
    * append — last — carries `tag` itself, whose presence in the live
    * stats manifest proves the whole negation completed. A replay
    * carrying the same tag therefore RESUMES at exactly the first
    * sub-append whose marker is missing instead of re-running completed
    * ones (count negation is not idempotent — a double run would skew
    * every surviving score on the shared terms). This is how the
    * retention journal replays a BM25 target whose `__done__` marker was
    * lost to a crash. The tag window is the live stats manifest, like
    * every append tag: once [[compactBm25Index]] folds the log the tags
    * are forgotten — which covers journal drains (prompt by
    * construction), not arbitrarily delayed re-submission. The residual
    * window is now marker-append-wide: a crash BETWEEN one sub-append
    * landing and its marker landing still replays that ONE sub-append
    * (partial double negation — the delete contract's documented rebuild
    * remediation applies), where previously any crash inside the
    * three-append span replayed every already-landed commit. */
  def deleteFromBm25IndexTagged(
      store: TableStore, name: String,
      docs: DataFrame, textCol: String, idCol: String,
      numBuckets: Int, tag: String
  ): Boolean = {
    if (store.exists(s"${name}_stats") &&
        store.hasAppendTag(s"${name}_stats", tag)) false
    else {
      writeBm25Index(store, name, docs, textCol, idCol, numBuckets,
        append = true, sign = -1, statsTag = Some(tag))
      true
    }
  }

  /** TEST SEAM: invoked at the tagged negation's sub-append boundaries
    * ("bm25-postings-marked", "bm25-terms-marked") so specs can kill the
    * delete at an exact window and prove the replay resumes instead of
    * double-negating. No-op in production. */
  private[graft] var failpoint: String => Unit = _ => ()

  private def writeBm25Index(
      store: TableStore, name: String,
      df: DataFrame, textCol: String, idCol: String,
      numBuckets: Int, append: Boolean, sign: Int = 1,
      statsTag: Option[String] = None
  ): Unit = {
    // lazy localCheckpoint (not persist): the three table writes below
    // each re-planned the tokenize+explode+aggregate lineage under
    // persist(); the checkpoint pays the pass once and cuts the plan
    val tfAll = df
      .select(col(idCol).cast("bigint").as("doc_id"),
        TextStats.wsTokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("bigint").as("dl"),
        explode(concat(col("__toks"),
          array(lit(null).cast("string")))).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg((count(lit(1)) * sign).as("tf"))
      // append path: lazy — the ordered tag-protocol sub-appends fuse the
      // materialization into the first one. Overwrite path: EAGER — the
      // three writes below run concurrently, and concurrent first-
      // materialization of a lazy checkpoint serializes on block locks;
      // materializing up front gives the pool clean block reads
      .cutLineage(eager = !append)
    try {
      val postings = tfAll.where(col("term").isNotNull)
        .select("term", "doc_id", "dl", "tf")
      val terms = postings.groupBy("term")
        .agg((count(lit(1)) * sign).as("df"))
      val stats = tfAll.where(col("term").isNull)
        .agg((count(lit(1)) * sign).as("n_docs"),
          (sum(col("dl")) * sign).as("sum_dl"))
      if (append) {
        statsTag match {
          case Some(t) =>
            // tagged (journal-replay) path: each sub-append marks its own
            // completion with a zero-delta stats row (sums unchanged,
            // folded away by compaction) so a replay resumes at the first
            // missing marker instead of re-running landed negations; the
            // real stats append stays LAST — its tag proves the whole
            // negation completed
            val statsTable = s"${name}_stats"
            // a LITERAL one-row frame: deriving zero from `stats` would
            // re-run the tfAll aggregation once per marker append
            val sp = df.sparkSession
            import sp.implicits._
            val zero = Seq((0L, 0L)).toDF("n_docs", "sum_dl")
            if (!store.hasAppendTag(statsTable, s"$t.p")) {
              store.appendBucketed(s"${name}_postings", postings,
                Seq("term"), numBuckets)
              store.appendTagged(statsTable, zero, s"$t.p")
            }
            failpoint("bm25-postings-marked")
            if (!store.hasAppendTag(statsTable, s"$t.t")) {
              store.appendBucketed(s"${name}_terms", terms,
                Seq("term"), numBuckets)
              store.appendTagged(statsTable, zero, s"$t.t")
            }
            failpoint("bm25-terms-marked")
            store.appendTagged(statsTable, stats, t)
            ()
          case None =>
            store.appendBucketed(s"${name}_postings", postings,
              Seq("term"), numBuckets)
            store.appendBucketed(s"${name}_terms", terms,
              Seq("term"), numBuckets)
            store.append(s"${name}_stats", stats)
        }
      } else {
        // the three tables are independent and the tf pass is already
        // materialized behind the checkpoint — overlap the writes (§2.6):
        // each thread pays its own planning/codegen/commit latency while
        // the others' jobs run, instead of serializing ~3 driver gaps
        graft.ops.Overlap.par(Seq(
          () => store.overwriteBucketed(s"${name}_postings", postings,
            Seq("term"), numBuckets),
          () => store.overwriteBucketed(s"${name}_terms", terms,
            Seq("term"), numBuckets),
          () => store.overwrite(s"${name}_stats", stats)))
      }
    } finally {
      // all three writes have landed (or failed) — release the tf
      // checkpoint's blocks (the explicit lifecycle the persist→
      // checkpoint swap dropped; Dataset.unpersist is a no-op here)
      graft.ops.Lineage.release(tfAll)
    }
  }

  /** Compact a BM25 index: fold the append/delete log into one clean
    * bucketed run — postings aggregated per (term, doc) with cancelled
    * (sum ≤ 0) rows dropped, df summed per term, stats collapsed to one
    * row. Query results are unchanged by construction (the query path
    * computes the same sums); what changes is cost: file counts reset and
    * the per-query aggregation goes back to identity work. Run it on the
    * maintenance cadence any LSM-shaped store needs. */
  def compactBm25Index(
      store: TableStore, name: String, numBuckets: Int
  ): Unit = {
    val postings = store.scan(s"${name}_postings")
      .groupBy("term", "doc_id")
      .agg(sum(col("tf")).as("tf"), max(col("dl")).as("dl"))
      .where(col("tf") > 0)
      .select("term", "doc_id", "dl", "tf")
    val terms = store.scan(s"${name}_terms")
      .groupBy("term").agg(sum(col("df")).as("df"))
      .where(col("df") > 0)
    val stats = store.scan(s"${name}_stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    store.overwriteBucketed(s"${name}_postings", postings,
      Seq("term"), numBuckets)
    store.overwriteBucketed(s"${name}_terms", terms, Seq("term"), numBuckets)
    store.overwrite(s"${name}_stats", stats)
  }

  /** Compact a positional index: fold `_pos`' deletion vectors into its
    * files ([[TableStore.compactDeletes]]; bucketing kept). A no-op
    * without vectors. */
  def compactPositionalIndex(store: TableStore, name: String): Unit =
    store.compactDeletes(s"${name}_pos")

  /** BM25 top-k served from a [[buildBm25Index]] index — no corpus access.
    * The query vocabulary becomes an `IN` filter on the bucketed `term`
    * column of both index tables, so the scan reads only the buckets (and,
    * within them, the sorted runs) containing query terms: query cost
    * scales with posting-list sizes, not index size.
    *
    * A query runs 3 Spark jobs — one scan-and-score stage, one top-k
    * stage, one result stage — and no broadcast:
    *   - the corpus stats (N, Σdl) are plan literals from
    *     [[indexCorpusStats]] (parquet footers, no job);
    *   - the query terms are a literal map probe ([[queryIdsOf]]);
    *   - df joins the postings through a merge join on `term`: both
    *     tables are bucketed on `term` with the same bucket count, so the
    *     join needs no exchange. */
  def bm25TopKIndexed(
      store: TableStore, name: String,
      queries: Seq[(Long, String)], k: Int,
      k1: Double = 1.2, b: Double = 0.75
  ): DataFrame = {
    require(queries.nonEmpty, "bm25TopKIndexed: empty query set")
    val (nDocs, sumDl) = indexCorpusStats(store, name)
    val qterms = termQueries(queries)
    val qvocab = qterms.keys.toSeq
    // postings sum per (term, doc): append-only indexes carry one row per
    // key so this is the identity, but DELETED docs carry a negating row —
    // sum(tf)=0 drops them. The bucketed term partitioning already
    // clusters (term, doc_id), so the aggregate plans without an exchange.
    val tf = store.scan(s"${name}_postings")
      .where(col("term").isin(qvocab: _*))
      .groupBy("term", "doc_id")
      .agg(sum(col("tf")).as("tf"), max(col("dl")).as("dl"))
      .where(col("tf") > 0)
    // df increments and per-batch stats rows sum at query time (integer
    // sums — engine-exact), so incremental appends and deletes never
    // rewrite the index
    val dft = store.scan(s"${name}_terms")
      .where(col("term").isin(qvocab: _*))
      .groupBy("term").agg(sum(col("df")).as("df"))
    // avgdl in local double arithmetic is the same IEEE quotient the
    // column expression computes; a fully deleted index (N = 0) yields
    // NaN here but never reaches a row, as no posting survives
    scoreAndRank(tf.join(dft.hint("merge"), "term"), qterms, lit(nDocs),
      lit(sumDl.toDouble / nDocs.toDouble), "doc_id", k, k1, b)
  }

  /** (N, Σdl) of an index: the sums over its `_stats` rows. Every stats
    * commit is a one-row aggregate, so each row group's footer min IS its
    * row's value and the sums need no Spark job (footers cached per
    * immutable entry, see [[TableStore.columnRowGroups]]). A stats table
    * the footers cannot sum — a deletion vector or exclusion entry, a row
    * group of more than one row, a footer without statistics — is
    * scanned. */
  private def indexCorpusStats(store: TableStore, name: String): (Long, Long) = {
    val table = s"${name}_stats"
    def footerSum(c: String): Option[Long] = store.columnRowGroups(table, c)
      .filter(_.forall(g => g.rows == 0L || (g.rows == 1L && g.min.isDefined)))
      .map(_.flatMap(_.min).sum)
    (footerSum("n_docs"), footerSum("sum_dl")) match {
      case (Some(n), Some(s)) => (n, s)
      case _ =>
        val r = store.scan(table).agg(
          coalesce(sum(col("n_docs")), lit(0L)),
          coalesce(sum(col("sum_dl")), lit(0L))).first()
        (r.getLong(0), r.getLong(1))
    }
  }

  /** Positional inverted index: `<name>_pos` (term, doc_id, pos) — one row
    * per token occurrence, 1-indexed positions, hash-bucketed + sorted on
    * `term` like the BM25 postings. The extra table unlocks exact-phrase
    * and proximity queries the unigram index cannot answer; it costs one
    * more row per TOKEN (vs per distinct (doc, term)), which is the
    * standard positional-index price. */
  def buildPositionalIndex(
      store: TableStore, name: String,
      df: DataFrame, textCol: String, idCol: String,
      numBuckets: Int, registerFor: Option[String] = None
  ): Unit = {
    store.overwriteBucketed(s"${name}_pos",
      df.select(col(idCol).cast("bigint").as("doc_id"),
          posexplode(TextStats.wsTokens(col(textCol))).as(Seq("pos0", "term")))
        .select(col("term"), col("doc_id"),
          (col("pos0") + 1).cast("bigint").as("pos")),
      Seq("term"), numBuckets)
    registerFor.foreach(t => Retention.registerIndex(store, t,
      Retention.Positional(name, numBuckets)))
  }

  /** Exact-phrase occurrences served from a [[buildPositionalIndex]] index:
    * (doc_id, start_pos) for every place the phrase's tokens appear
    * consecutively. The scan is bucket-pruned to the phrase's terms, then
    * each subsequent term joins on (doc_id, pos = start + offset) — every
    * join is posting-list-sized, co-keyed on (doc_id, pos), and the corpus
    * is never touched. Repeated terms in the phrase are handled naturally
    * (each offset constrains its own occurrence row). Docs deleted through
    * [[deleteFromPositionalIndex]] drop in the scan's deletion-vector
    * replay, which keeps the bucket pruning. */
  def phraseOccurrences(
      store: TableStore, name: String, phrase: String
  ): DataFrame = {
    val terms = phrase.split(" ", -1).filter(_.nonEmpty).toSeq
    require(terms.nonEmpty, "phraseOccurrences: empty phrase")
    val pos = store.scan(s"${name}_pos")
      .where(col("term").isin(terms.distinct: _*))
    val base = pos.where(col("term") === terms.head)
      .select(col("doc_id"), col("pos").as("start_pos"))
    terms.zipWithIndex.tail.foldLeft(base) { case (acc, (t, i)) =>
      acc.join(
        pos.where(col("term") === t)
          .select(col("doc_id").as(s"__d$i"), col("pos").as(s"__p$i")),
        col("doc_id") === col(s"__d$i") &&
          col(s"__p$i") === col("start_pos") + i)
        .select(col("doc_id"), col("start_pos"))
    }
  }

  /** DELETE documents from a positional index: one deletion vector on
    * `_pos` ([[TableStore.deleteByKeysDVTagged]] under `tag`), keyed on
    * `doc_id` = the first column of `docIds`, cast to bigint. Positions
    * carry no counts to negate, so the phrase query's scan replays the
    * vector instead (the store's Delta/Iceberg deletion-vector role); a
    * doc re-added afterwards is served at once. */
  def deleteFromPositionalIndex(
      store: TableStore, name: String, docIds: DataFrame, tag: String
  ): Unit = {
    val rows = docIds.select(col(docIds.columns.head).cast("bigint")
      .as("doc_id"))
    store.deleteByKeysDVTagged(s"${name}_pos", Seq("doc_id"), rows, tag)
  }

  /** Reciprocal-rank fusion of N ranked-retrieval arms (Cormack, Clarke &
    * Büttcher, SIGIR 2009): each arm contributes `1/(rrfK + rank)` for every
    * (query, candidate) it returned, and candidates are re-ranked by the
    * summed contribution. The standard recipe for hybrid lexical+semantic
    * retrieval — fuse a BM25 arm ([[bm25TopK]]/[[bm25TopKIndexed]]) with a
    * vector-cosine arm ([[Similarity.bruteForceTopK]]/`ivfTopK`) without
    * score calibration, since only RANKS cross the fusion boundary.
    *
    * Engine-portable determinism: the contribution is the QUANTIZED
    * reciprocal `1e9 div (rrfK + rank)` — pure int64 division, so the fused
    * score is an order-independent integer sum with no float addition
    * anywhere (a double `1/(60+r)` would hash-drift on the 16th digit
    * between engines). Ties break on candidate id ascending.
    *
    * Scale shape: every input is RESULT-sized (queries × armK), never
    * corpus-sized — the union, the (q_id, c_id) partial-aggregated sum and
    * the per-query rank window all run over ≤ |arms|·armK rows per query,
    * so fusing costs no more than the cheapest arm's final shuffle. The
    * rank window is partitioned by q_id over a per-query candidate set
    * bounded by |arms|·armK — never a global or unpartitioned sort.
    *
    * Input arms: (q_id, c_id, rank) with rank 1-based; extra columns are
    * ignored. Output: (q_id, rank, c_id, rrf: bigint, n_arms: bigint)
    * where rrf is the summed quantized reciprocal and n_arms counts the
    * arms that returned the candidate. */
  def rrfFuse(arms: Seq[DataFrame], rrfK: Int = 60, k: Int = 10): DataFrame = {
    require(arms.nonEmpty, "rrfFuse: no arms")
    require(rrfK >= 0, s"rrfFuse: negative rrfK $rrfK")
    val contribs = arms.map { a =>
      a.select(col("q_id"), col("c_id"),
        expr(s"CAST(1000000000 AS BIGINT) div (CAST($rrfK AS BIGINT) + CAST(rank AS BIGINT))")
          .as("contrib"))
    }.reduce(_ unionByName _)
    val fused = contribs
      .groupBy("q_id", "c_id")
      .agg(sum(col("contrib")).as("rrf"), count(lit(1)).as("n_arms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("rrf").desc, col("c_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"), col("rrf"), col("n_arms"))
  }

  /** `floor(1e6 / log2(rank+1))` for ranks 1..`k` — the nDCG discount
    * table as exact integer ppm literals. Computed ONCE on the driver and
    * embedded as literals in both the Spark plan and the oracle SQL, so
    * both engines share the identical constants and every downstream sum
    * and ratio is exact int64 (the engine-portability discipline: never
    * let two engines evaluate a transcendental independently). */
  def discountPpm(k: Int): Seq[Long] =
    (1 to k).map(r =>
      math.floor(1e6 / (math.log(r + 1.0) / math.log(2.0))).toLong)

  /** Prefix sums of [[discountPpm]] with a leading 0 — `cum(i)` is the
    * summed discount of ranks 1..i, so the discount mass of an arbitrary
    * rank RANGE (a..b] is `cum(b) - cum(a)` without materializing ranks. */
  def discountCumPpm(k: Int): Seq[Long] =
    discountPpm(k).scanLeft(0L)(_ + _)

  /** Ranked-retrieval quality metrics — MRR and nDCG@k of the [[bm25TopK]]
    * ranking against RELEVANCE DERIVED FROM THE CORPUS ITSELF: a document's
    * grade for a query is its TOTAL query-term occurrence count, banded
    * (`least(gradeMax, Σ tf div tfStep)`) — a deterministic judgment both
    * engines replay, and one that deliberately DISAGREES with BM25's
    * length-normalized saturating tf (raw occurrence mass vs dl-normalized
    * score), so the metric actually discriminates instead of saturating at
    * 1.0 the way distinct-term presence does on a narrow vocabulary (real
    * qrels plug in by replacing the grade table — the metric tail is
    * unchanged). Gain is the standard exponential `2^grade - 1`; discounts
    * come from [[discountPpm]] so DCG/IDCG/nDCG are exact int64.
    *
    * Scale shape:
    *   - the ranking is [[bm25TopK]] (one corpus pass, query-vocab-bounded
    *     exchange, bounded top-k);
    *   - the grade table is a SECOND narrow corpus pass with the same
    *     pre-explode vocabulary filter — only docs containing ≥ 1 query
    *     term ever reach the (query, doc) aggregate;
    *   - IDCG@k needs the top-k grades over ALL graded docs, but grades
    *     are tiny integers, so it reduces to the per-query GRADE HISTOGRAM
    *     (≤ |terms|+1 rows per query): histogram rows map to rank RANGES,
    *     and each range's discount mass is one [[discountCumPpm]]
    *     difference — no corpus-sized sort, no row_number over candidates;
    *   - every join after the two passes is (queries × k)-sized.
    *
    * Output, one row per query id:
    * (query_id, n_ranked, dcg_micro, idcg_micro, ndcg_ppm,
    *  first_rel_rank, rr_ppm) where `first_rel_rank` is the first rank
    * with grade ≥ `relThreshold` (null if none; `rr_ppm` 0 then) and
    * `ndcg_ppm = dcg_micro·1e6 div idcg_micro` (0 when nothing is graded).
    *
    * Reference semantics: Järvelin & Kekäläinen 2002 (nDCG); MRR per the
    * TREC QA track definition.
    */
  def rankingMetrics(
      df: DataFrame,
      textCol: String,
      idCol: String,
      queries: Seq[(Long, String)],
      k: Int = 10,
      relThreshold: Int = 2,
      gradeMax: Int = 4,
      tfStep: Int = 2
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(queries.nonEmpty, "rankingMetrics: empty query set")
    require(gradeMax >= 1 && gradeMax <= 30,
      s"rankingMetrics: gradeMax $gradeMax outside 1..30 " +
        "(2^grade gain must fit int64)")
    require(tfStep >= 1, s"rankingMetrics: tfStep $tfStep < 1")
    val ranked = bm25TopK(df, textCol, idCol, queries, k)
    val qterms = termQueries(queries)
    val qvocabLit = array(qterms.keys.toSeq.map(lit): _*)
    // grade = banded total occurrence count of the query's terms:
    // vocabulary filter before the explode, so the exchange carries only
    // (matched doc, term) occurrences; grade-0 docs drop (gain 0). THREE
    // branches consume this (DCG join, IDCG histogram, first-relevant) and
    // Spark does not CSE across branches, so lazily persist — matched-doc-
    // scale, lineage intact, LRU-evictable (the bm25TopK tfAll discipline).
    val grade = df
      .select(col(idCol), explode(filter(
        TextStats.wsTokens(col(textCol)),
        t => array_contains(qvocabLit, t))).as("term"))
      .select(col(idCol), queryIdsOf(qterms).as("query_id"))
      .groupBy(col("query_id"), col(idCol))
      .agg(least(lit(gradeMax.toLong),
        expr(s"count(1) div $tfStep")).as("grade"))
      .where(col("grade") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val discLit = array(discountPpm(k).map(lit): _*)
    val cumLit = array(discountCumPpm(k).map(lit): _*)
    val gained = ranked
      .join(grade, Seq("query_id", idCol), "left")
      .withColumn("__gain",
        expr("shiftleft(1L, CAST(coalesce(grade, 0) AS INT)) - 1L"))
    val dcg = gained
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_ranked"),
        sum(col("__gain") *
          element_at(discLit, col("rank").cast("int"))).as("dcg_micro"))
    // IDCG from the per-query grade histogram: row (grade g, cnt c) with
    // cumulative start s occupies ranks (s, s+c]; clamp both ends to k and
    // charge g's gain for that range's discount mass in one subtraction
    val hw = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("grade").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val idcg = grade
      .groupBy(col("query_id"), col("grade"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("__start", coalesce(sum(col("cnt")).over(hw), lit(0L)))
      .withColumn("__contrib",
        (expr("shiftleft(1L, CAST(grade AS INT)) - 1L")) *
          (element_at(cumLit,
              least(col("__start") + col("cnt"), lit(k.toLong)).cast("int") + 1) -
            element_at(cumLit,
              least(col("__start"), lit(k.toLong)).cast("int") + 1)))
      .groupBy("query_id")
      .agg(sum(col("__contrib")).as("idcg_micro"))
    val firstRel = gained
      .where(coalesce(col("grade"), lit(0L)) >= relThreshold)
      .groupBy("query_id")
      .agg(min(col("rank")).as("first_rel_rank"))
    queries.map(_._1).distinct.toDF("query_id")
      .join(dcg, Seq("query_id"), "left")
      .join(idcg, Seq("query_id"), "left")
      .join(firstRel, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_ranked"), lit(0L)).as("n_ranked"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        coalesce(col("idcg_micro"), lit(0L)).as("idcg_micro"),
        col("first_rel_rank"))
      .withColumn("ndcg_ppm",
        when(col("idcg_micro") > 0,
          expr("(dcg_micro * 1000000) div idcg_micro")).otherwise(lit(0L)))
      .withColumn("rr_ppm",
        coalesce(expr("1000000 div first_rel_rank"), lit(0L)))
      .select("query_id", "n_ranked", "dcg_micro", "idcg_micro", "ndcg_ppm",
        "first_rel_rank", "rr_ppm")
  }
}
