package graft.ext

import graft.ops.Lineage.CutOps
import graft.table.TableStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persistent n-gram membership index — the steady-state shape of
  * [[Dedup.ngramNovelty]]'s reference side. A novelty audit runs on every
  * incoming batch (model samples, crawl deliveries, vendor drops), but the
  * reference corpus changes far more slowly than it is probed; re-hashing
  * 100 TB of reference text per batch is the cost this index removes, the
  * same argument as the BM25/LSH/IVF index family.
  *
  * One table under `name`:
  *   - `<name>_grams` (gh: bigint) — the reference corpus's distinct 60-bit
  *     word-n-gram hashes, hash-bucketed on `gh`.
  *
  * Maintenance contract (log-structured, like its siblings):
  *   - [[appendGramIndex]] adds a batch's distinct gram hashes as new files
  *     in the same buckets WITHOUT reading the existing index — a batch
  *     gram already present lands as a duplicate row. Duplicates cannot
  *     affect probe results (the probe is a LEFT SEMI join — membership,
  *     not counting) and are reclaimed by [[compactGramIndex]];
  *   - membership has no meaningful row-level delete (a gram seen once has
  *     been seen; removing a document does not un-publish its n-grams), so
  *     no delete surface exists — rebuild if the reference must shrink.
  *
  * Scale shape of the probe: the index side is BUCKETED on `gh`, so the
  * semi join plans with zero exchange on the (large, persistent) index
  * side — only the batch's gram hashes shuffle, sized by the batch.
  */
object GramIndex {

  private def distinctGrams(
      df: DataFrame, textCol: String, n: Int): DataFrame =
    df.select(explode(array_distinct(
        TextHash.shingles(col(textCol), n))).as("g"))
      .select(TextHash.hmod60(col("g")).as("gh"))
      .distinct()

  /** Build `<name>_grams` from scratch over the reference corpus. */
  def buildGramIndex(
      store: TableStore, name: String,
      reference: DataFrame, textCol: String,
      n: Int, numBuckets: Int
  ): Unit =
    store.overwriteBucketed(s"${name}_grams",
      distinctGrams(reference, textCol, n), Seq("gh"), numBuckets)

  /** Append a reference batch's distinct gram hashes into the existing
    * buckets — never reads or rewrites existing index data, so the append
    * costs the BATCH's size. Grams the index already holds land as
    * duplicate rows (harmless for the semi-join probe; reclaimed by
    * [[compactGramIndex]]). */
  def appendGramIndex(
      store: TableStore, name: String,
      batch: DataFrame, textCol: String,
      n: Int, numBuckets: Int
  ): Unit =
    store.appendBucketed(s"${name}_grams",
      distinctGrams(batch, textCol, n), Seq("gh"), numBuckets)

  /** Rewrite the index with duplicates (from overlapping appends)
    * collapsed. The distinct is bucket-local — the scan is already
    * partitioned on `gh`, so no exchange. */
  def compactGramIndex(
      store: TableStore, name: String, numBuckets: Int
  ): Unit =
    store.overwriteBucketed(s"${name}_grams",
      store.scan(s"${name}_grams").distinct(), Seq("gh"), numBuckets)

  /** [[Dedup.ngramNovelty]] served from the persistent index: identical
    * output by construction (the index IS the reference's distinct-gram
    * set; membership is duplicate-insensitive), so the two share one
    * oracle. Per candidate: (idCol, n_grams, n_seen, n_novel,
    * novelty_ppm), zero-gram docs included at 1000000.
    *
    * The candidate gram array is persisted (doc-scale) because two
    * branches consume it — the per-doc gram count and the seen rollup —
    * and Spark does not CSE across branches. */
  def noveltyAgainstIndex(
      store: TableStore, name: String,
      candidates: DataFrame, textCol: String, idCol: String,
      n: Int
  ): DataFrame = {
    val cand = candidates
      .select(col(idCol),
        array_distinct(TextHash.shingles(col(textCol), n)).as("__grams"))
      .select(col(idCol),
        size(col("__grams")).cast("bigint").as("n_grams"), col("__grams"))
      .cutLineage(eager = false) // lineage-cut: probe + final join
    val seen = cand
      .select(col(idCol), explode(col("__grams")).as("g"))
      .select(col(idCol), TextHash.hmod60(col("g")).as("gh"))
      .join(store.scan(s"${name}_grams"), Seq("gh"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_seen"))
    cand.select(col(idCol), col("n_grams"))
      .join(seen, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"))
      .select(col(idCol), col("n_grams"), col("n_seen"),
        (col("n_grams") - col("n_seen")).as("n_novel"),
        when(col("n_grams") === 0, lit(1000000L))
          .otherwise(expr("(n_grams - n_seen) * 1000000 div n_grams"))
          .as("novelty_ppm"))
  }
}
