package graft.ext

import graft.table.TableStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Lineage

/** Persistent MinHash-LSH near-dup index — the third member of the
  * persistent index family ([[Retrieval.buildBm25Index]] for text ranking,
  * [[VectorIndex.buildIvfIndex]] for vectors): pay the corpus's
  * shingle+MinHash pass ONCE, then screen every crawl batch for
  * slightly-edited re-crawls without ever re-hashing the corpus.
  *
  * [[graft.ext.Dedup.incrementalNearDupPairs]] already keeps the corpus
  * exchange-free, but it re-derives the corpus's signatures FROM TEXT on
  * every batch — at 100 TB that is a full md5-heavy corpus scan per crawl
  * tick. The index stores what that scan produces:
  *   - `<name>_bands` (band, key, doc_id) — every LSH band key of every
  *     corpus doc, hash-bucketed + sorted on `key`, so a batch probe reads
  *     only the buckets containing its own band keys
  *     (`SelectedBucketsCount` — the data-skipping contract);
  *   - `<name>_docs` (doc_id, shingles) — the shingle sets, for exact
  *     Jaccard verification of the (collision-bounded) candidate pairs.
  *
  * LOSSLESS vs the scan path: bands/shingles come from the same
  * [[TextHash]] pipeline as `incrementalNearDupPairs`, so
  * [[nearDupAgainstIndex]] reproduces its output row-for-row given the
  * same corpus — the gate shares one oracle.
  *
  * Incremental growth ([[appendNearDupIndex]]): a new (deduped) batch's
  * band rows append as extra files in the SAME buckets and its shingle
  * rows append to the docs table — per-doc signatures are independent of
  * the rest of the corpus, so append-then-probe is provably identical to
  * rebuild-from-scratch. Growing the index costs the batch's size, never
  * the index's.
  *
  * Probe modes: the batch's distinct band keys collect to driver literals
  * for bucket-pruning IN filters when they number ≤ `maxProbeLiterals`
  * (the BM25 query-term posture); a bigger batch falls back to a broadcast
  * semi-probe — every bucket is read but the corpus still never shuffles
  * and never re-hashes.
  */
object NearDupIndex {

  /** One text pass: doc-level shingles + sig + band-key structs (the
    * exact [[Dedup.minhashBands]] pipeline). Callers project band rows
    * (exploded, narrow) and shingle rows from the same frame. */
  private def banded(df: DataFrame, textCol: String, idCol: String) =
    Dedup.minhashBands(df, textCol, idCol)

  private def bandRows(bandedDf: DataFrame, idCol: String) = {
    val bandCols = (0 until TextHash.Bands).map(b => col(s"b$b"))
    bandedDf.select(col(idCol).as("doc_id"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"),
        col("doc_id"))
  }

  /** Build `<name>_bands` + `<name>_docs` from scratch. `registerFor`
    * names the table the corpus was read from: when set, the index is
    * registered as a retention-cascade target of that table at build
    * time ([[Retention.registerIndex]]) — the default posture for a
    * governed corpus, so an `indexes = Nil` erasure reaches this index
    * without caller discipline. (A parameter, not automatic: the builder
    * sees a DataFrame, not the table it came from. Registration takes
    * the table's retention lease — don't call while holding it.) */
  def buildNearDupIndex(
      store: TableStore, name: String,
      corpus: DataFrame, textCol: String, idCol: String,
      numBuckets: Int, registerFor: Option[String] = None
  ): Unit = {
    // lazy localCheckpoint (not persist): the two table writes below
    // then plan against a narrow LogicalRDD instead of each re-analyzing
    // and re-codegen'ing the md5/HOF signature forest (driver-side
    // codegen source generation dominated these gates in the r14 profile)
    // EAGER cut (was lazy): the two writes below run concurrently, so the
    // shared md5/HOF signature pass materializes once up front instead of
    // racing its first materialization across the pool
    val b = Lineage.cut(banded(corpus, textCol, idCol))
    // bands and docs are independent tables — overlap the writes (§2.6)
    graft.ops.Overlap.par(Seq(
      () => store.overwriteBucketed(s"${name}_bands", bandRows(b, idCol),
        Seq("key"), numBuckets),
      () => store.overwrite(s"${name}_docs",
        b.select(col(idCol).as("doc_id"), col("shingles")))))
    Lineage.release(b)
    registerFor.foreach(t => Retention.registerIndex(store, t,
      Retention.NearDup(name, numBuckets)))
  }

  /** Append a (deduped, new-id) batch into the existing buckets — no
    * existing index data is rewritten. */
  def appendNearDupIndex(
      store: TableStore, name: String,
      batch: DataFrame, textCol: String, idCol: String,
      numBuckets: Int
  ): Unit = {
    // same lineage-cut + overlap posture as the builder
    val b = Lineage.cut(banded(batch, textCol, idCol))
    graft.ops.Overlap.par(Seq(
      () => store.appendBucketed(s"${name}_bands", bandRows(b, idCol),
        Seq("key"), numBuckets),
      () => store.append(s"${name}_docs",
        b.select(col(idCol).as("doc_id"), col("shingles")))))
    Lineage.release(b)
  }

  /** DELETE corpus docs from the index (takedowns): one deletion vector
    * ([[TableStore.deleteByKeysDVTagged]]) on `_bands` and one on `_docs`,
    * keyed on `doc_id` = the first column of `docIds`, cast to bigint.
    * Every probe's scan replays them, so the docs stop matching at once;
    * their rows stay in the files until [[compactNearDupIndex]], and a doc
    * re-added afterwards through [[appendNearDupIndex]] is served at once.
    * Both vectors carry `tag`, and each table checks its own manifest for
    * it: a replay after a crash between the two commits writes only the
    * missing one, and never erases a doc re-added since. */
  def deleteFromNearDupIndex(
      store: TableStore, name: String, docIds: DataFrame, tag: String
  ): Unit = {
    val rows = docIds.select(col(docIds.columns.head).cast("bigint")
      .as("doc_id"))
    Seq("_bands", "_docs").foreach(t =>
      store.deleteByKeysDVTagged(name + t, Seq("doc_id"), rows, tag))
  }

  /** Compact the index: fold the deletion vectors of `_bands` and `_docs`
    * into their files ([[TableStore.compactDeletes]]; bucketing kept). A
    * no-op for a table without vectors. */
  def compactNearDupIndex(store: TableStore, name: String): Unit =
    graft.ops.Overlap.par(Seq("_bands", "_docs").map(t =>
      () => store.compactDeletes(name + t)))

  /** Screen a crawl batch against the indexed corpus: candidate pairs from
    * shared band keys (bucket-pruned), exact-Jaccard verified against the
    * stored shingles. Output (batch_id, corpus_id, jaccard) — identical to
    * [[Dedup.incrementalNearDupPairs]] over the same corpus (minus any
    * deleted docs, which the scans' deletion-vector replay drops). Result
    * is candidate-pair-sized and eagerly
    * materialized (the `incrementalNearDupPairs` cache-scope posture). */
  def nearDupAgainstIndex(
      store: TableStore, name: String,
      batch: DataFrame, textCol: String, idCol: String,
      threshold: Double,
      maxProbeLiterals: Int = 10000,
      materialize: Boolean = true
  ): DataFrame = {
    // lazy localCheckpoint: the probe issues 3+ downstream actions
    // (key collect, pairs checkpoint, verify) — each would re-plan the
    // signature forest under persist(); the checkpoint cuts it once
    val b = Lineage.cut(banded(batch, textCol, idCol), eager = false)
    val bBands = bandRows(b, idCol)
      .select(col("band"), col("key"), col("doc_id").as("batch_id"))
    val probeKeys = bBands.select("key").distinct()
      .limit(maxProbeLiterals + 1).collect().map(_.getString(0))
    val bandsTable = store.scan(s"${name}_bands")
    val pruned =
      if (probeKeys.length <= maxProbeLiterals)
        bandsTable.where(col("key").isin(probeKeys.toIndexedSeq: _*))
      else
        bandsTable.join(broadcast(bBands.select("band", "key").distinct()),
          Seq("band", "key"), "left_semi")
    // candidate-pair-sized; materialized ONCE — candIds (broadcast) and
    // the final verify join would otherwise each re-run the band join
    // over the whole bands table
    val pairs0 = pruned
      .join(broadcast(bBands), Seq("band", "key"))
      .select(col("batch_id"), col("doc_id").as("corpus_id"))
      .distinct()
    val pairs = if (materialize) Lineage.cut(pairs0) else pairs0
    val candIds = pairs.select(col("corpus_id")).distinct()
    val cShingles = store.scan(s"${name}_docs")
      .select(col("doc_id").as("corpus_id"), col("shingles").as("c_sh"))
      .join(broadcast(candIds), Seq("corpus_id"), "left_semi")
    val bShingles = b.select(col(idCol).as("batch_id"),
      col("shingles").as("b_sh"))
    val out = pairs
      .join(cShingles, "corpus_id")
      .join(broadcast(bShingles), "batch_id")
      .withColumn("jaccard", Dedup.jaccard(col("b_sh"), col("c_sh")))
      .where(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
    if (materialize) {
      // candidate-pair-sized result, eagerly cut from the batch
      // checkpoint — same scope/cluster caveats as incrementalNearDupPairs
      Lineage.cut(out)
    } else out
  }
}
