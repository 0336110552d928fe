package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocklist / keyword filtering over a text corpus — the C4 badwords-drop
  * and Gopher-style keyword-rule primitive (semantics per the published
  * pipeline descriptions: drop or flag documents containing phrases from a
  * curated list; reference analogue: the curation-time row filters of
  * aircan's validation stage, `aircan/dependencies/validate.py` applied to
  * text instead of schema).
  *
  * Hot path is the codegen'd [[graft.plans.AcCountsExpression]] Aho–Corasick
  * kernel: ONE pass over each document for the whole phrase list —
  * O(text + matches) whatever the list size — versus O(text × patterns) for
  * per-pattern `contains` chains. At 100 TB this is the difference between
  * one scan and a thousand.
  *
  * `boundary = true` (the default) counts word-bounded occurrences only
  * (adjacent ASCII alphanumerics break a match) — "ass" does not fire
  * inside "class". `boundary = false` counts raw substring occurrences,
  * overlapping included.
  *
  * Everything is per-row and shuffle-free until an (optional) profile
  * aggregation; filters compose with pushdown like any other predicate.
  */
object Blocklist {

  /** Per-pattern occurrence counts as `array<int>` aligned with
    * `patterns`: the native `graft_ac_counts` kernel. NULL text gives a
    * NULL array. Its spec is [[matchCountsDeclarative]] (BlocklistSpec,
    * KernelIdentitySpec). */
  def matchCounts(
      textCol: String,
      patterns: Seq[String],
      boundary: Boolean = true): Column =
    call_function("graft_ac_counts", col(textCol),
      lit(patterns.toArray), lit(boundary))

  /** The readable declarative form — nested HOFs probing every position of
    * every pattern (O(text × patterns), interpreted). Serves as the spec
    * reference and the oracle template; the kernel is pinned
    * element-identical by BlocklistSpec. NULL text gives NULL, as in the
    * kernel. */
  def matchCountsDeclarative(
      textCol: String,
      patterns: Seq[String],
      boundary: Boolean): Column = {
    val pats = patterns.map(p => p.replace("\\", "\\\\").replace("'", "\\'"))
      .map(p => s"'$p'").mkString(", ")
    val bound =
      if (!boundary) "true"
      else s"""(i = 1 OR NOT substr($textCol, i - 1, 1) RLIKE '[A-Za-z0-9]')
              | AND (i + length(p) > length($textCol)
              |      OR NOT substr($textCol, i + length(p), 1) RLIKE '[A-Za-z0-9]')"""
        .stripMargin
    expr(
      s"""CASE WHEN $textCol IS NOT NULL THEN transform(array($pats), p ->
         |  size(filter(sequence(1, greatest(length($textCol) - length(p) + 1, 1)), i ->
         |    i + length(p) - 1 <= length($textCol)
         |    AND substr($textCol, i, length(p)) = p
         |    AND ($bound)))) END""".stripMargin)
  }

  /** Σ over the counts array (total blocklist hits in the document). */
  def totalHits(counts: Column): Column =
    aggregate(counts, lit(0), (acc, x) => acc + x)

  /** Number of DISTINCT patterns that hit. */
  def patternsHit(counts: Column): Column =
    size(filter(counts, _ > 0))

  /** Attach `ac_counts`, `total_hits`, `n_patterns_hit` signal columns.
    * The counts array is pinned to one evaluation per row — a
    * `total_hits <= N` drop predicate must not re-run the Aho–Corasick
    * scan per conjunct it is inlined into. */
  def withSignals(
      df: DataFrame,
      textCol: String,
      patterns: Seq[String],
      boundary: Boolean = true): DataFrame =
    df.withColumn("ac_counts", graft.plans.EvalOnceExpression.evalOnce(
        matchCounts(textCol, patterns, boundary)))
      .withColumn("total_hits", totalHits(col("ac_counts")).cast("bigint"))
      .withColumn("n_patterns_hit", patternsHit(col("ac_counts")).cast("bigint"))

  /** The C4-style drop: keep documents with at most `maxHits` total
    * blocklist occurrences (default 0 — any hit drops the doc). Pure
    * per-row predicate; no shuffle. */
  def dropBlocked(
      df: DataFrame,
      textCol: String,
      patterns: Seq[String],
      maxHits: Long = 0L,
      boundary: Boolean = true): DataFrame =
    df.where(totalHits(matchCounts(textCol, patterns, boundary)) <= maxHits)

  /** Corpus-level blocklist profile: one row per pattern with the number
    * of documents hit and total occurrences — the "which phrases fire and
    * where" triage view. One posexplode of the (patterns-sized) counts
    * array, then a partial-agg groupBy on the pattern index: the shuffle
    * carries ≤ mappers × patterns rows, never the corpus. */
  def profile(
      df: DataFrame,
      textCol: String,
      patterns: Seq[String],
      boundary: Boolean = true): DataFrame =
    df.select(posexplode(matchCounts(textCol, patterns, boundary))
        .as(Seq("pat_idx", "c")))
      .groupBy(col("pat_idx"))
      .agg(
        sum(when(col("c") > 0, 1L).otherwise(0L)).as("docs_hit"),
        sum(col("c").cast("bigint")).as("total_hits"))
      .select(
        col("pat_idx"),
        element_at(lit(patterns.toArray), col("pat_idx") + 1).as("pattern"),
        col("docs_hit"), col("total_hits"))
}
