package graft.ext

import graft.table.TableStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Similarity.{dotDecimal, normDecimal}

/** Persistent IVF vector index — the ANN analogue of the persistent BM25
  * inverted index ([[Retrieval.buildBm25Index]]): build the cell-partitioned
  * corpus ONCE, then serve every search from the index without touching the
  * corpus, and grow it crawl-batch by crawl-batch without ever rewriting
  * what is already indexed.
  *
  * Layout in a [[TableStore]]:
  *   - `<name>_cells` (cell_id, cell_vec) — the codebook, frozen at build
  *     time (pass a [[Similarity.kmeansCodebook]] for real geometry; the
  *     default lowest-id placeholder keeps the index oracle-replayable);
  *   - `<name>_vecs` (cell_id, vec_id, vec) — every corpus vector under its
  *     single nearest cell, hash-bucketed + sorted on `cell_id`, so a probe
  *     reads ONLY the buckets holding probed cells (`SelectedBucketsCount`
  *     in the plan — the data-skipping contract).
  *
  * The index is LOSSLESS vs the scan path: assignment uses the exact same
  * nearest-cell rule as [[Similarity.ivfTopK]] (exact int64 dot products,
  * lowest-cell-id tie-break), so `ivfTopKIndexed` must reproduce `ivfTopK`
  * byte-for-byte given the same codebook — the gate shares one oracle.
  *
  * Incremental growth ([[appendIvfIndex]]): a new batch is assigned against
  * the STORED codebook and its rows append as extra files in the SAME
  * buckets — per-vector assignment is independent of the rest of the
  * corpus, so append-then-query is provably identical to
  * rebuild-from-scratch with that codebook. Growing a 100 TB index costs
  * the batch's size, never the index's. (Ids must be new — dedup the crawl
  * first; that is what the incremental-dedup operators are for. Codebook
  * drift under distribution shift is handled the way production IVF systems
  * do: rebuild the codebook offline, then re-index — a full rewrite by
  * design, not an append.)
  *
  * Query cost: queries are a bounded batch (the BM25 query-batch posture) —
  * the probed cell ids (≤ |queries|·nProbe longs) collect to the driver to
  * become the bucket-pruning IN filter, then candidates join the broadcast
  * query set within probed cells only. The corpus-sized side never
  * shuffles: it is scanned pre-pruned and reduced map-side by the bounded
  * `graft_topk` aggregate.
  */
object VectorIndex {

  /** Build `<name>_cells` + `<name>_vecs` from scratch. */
  def buildIvfIndex(
      store: TableStore, name: String,
      corpus: DataFrame, vecCol: String, idCol: String,
      nCells: Int, numBuckets: Int,
      codebook: Option[DataFrame] = None, // (cell_id, cell_vec)
      registerFor: Option[String] = None
  ): Unit = {
    val cells = codebook.getOrElse(
      corpus.orderBy(col(idCol).asc).limit(nCells)
        .select(col(idCol).as("cell_id"), col(vecCol).as("cell_vec")))
    store.overwrite(s"${name}_cells", cells)
    writeAssigned(store, name, corpus, vecCol, idCol, numBuckets,
      append = false)
    // registerFor = the table the corpus was read from: build-time
    // registration as a retention-cascade target (takes its lease)
    registerFor.foreach(t => Retention.registerIndex(store, t,
      Retention.Ivf(name, numBuckets)))
  }

  /** Assign a batch against the stored codebook and append it into the
    * existing buckets — no existing index data is rewritten. */
  def appendIvfIndex(
      store: TableStore, name: String,
      batch: DataFrame, vecCol: String, idCol: String,
      numBuckets: Int
  ): Unit =
    writeAssigned(store, name, batch, vecCol, idCol, numBuckets,
      append = true)

  private def writeAssigned(
      store: TableStore, name: String,
      df: DataFrame, vecCol: String, idCol: String,
      numBuckets: Int, append: Boolean
  ): Unit = {
    val cells = store.scan(s"${name}_cells")
    val nCells = cells.count().toInt // codebook-sized by definition
    val assigned = Similarity.assignCells(df, vecCol, idCol, nCells,
      Some(cells))
    val rows = df.select(col(idCol).cast("bigint").as("vec_id"),
        col(vecCol).as("vec"))
      .join(assigned.select(col(idCol).cast("bigint").as("vec_id"),
        col("cell_id")), "vec_id")
      .select("cell_id", "vec_id", "vec")
    if (append)
      store.appendBucketed(s"${name}_vecs", rows, Seq("cell_id"), numBuckets)
    else
      store.overwriteBucketed(s"${name}_vecs", rows, Seq("cell_id"),
        numBuckets)
  }

  /** DELETE vectors from the index: one deletion vector on `_vecs`
    * ([[TableStore.deleteByKeysDVTagged]] under `tag`), keyed on `vec_id`
    * = the first column of `vecIds`, cast to bigint. The query path's scan
    * replays it (vectors carry no counts to negate — not BM25's posture);
    * a vector re-added afterwards through [[appendIvfIndex]] is served at
    * once. */
  def deleteFromIvfIndex(
      store: TableStore, name: String, vecIds: DataFrame, tag: String
  ): Unit = {
    val rows = vecIds.select(col(vecIds.columns.head).cast("bigint")
      .as("vec_id"))
    store.deleteByKeysDVTagged(s"${name}_vecs", Seq("vec_id"), rows, tag)
  }

  /** Compact the index: fold `_vecs`' deletion vectors into its files
    * ([[TableStore.compactDeletes]]; bucketing kept, codebook untouched).
    * A no-op without vectors. */
  def compactIvfIndex(store: TableStore, name: String): Unit =
    store.compactDeletes(s"${name}_vecs")

  /** IVF top-k served from the index — no corpus access: probe the stored
    * codebook for each query's `nProbe` nearest cells, bucket-prune the
    * vectors table to probed cells, rank within them. Output
    * (q_id, c_id, rank, cosine), identical to [[Similarity.ivfTopK]] with
    * the same codebook. Vectors deleted through [[deleteFromIvfIndex]] drop
    * in the scan's deletion-vector replay, which keeps the bucket
    * pruning. */
  def ivfTopKIndexed(
      store: TableStore, name: String,
      queries: DataFrame, vecCol: String, idCol: String,
      k: Int, nProbe: Int
  ): DataFrame = {
    val cells = store.scan(s"${name}_cells")
      .withColumn("cell_norm", normDecimal(col("cell_vec")))
    val q = queries.select(col(idCol).cast("bigint").as("q_id"),
        col(vecCol).as("q_vec"))
      .withColumn("q_norm", normDecimal(col("q_vec")))
    val scoredCells = q.crossJoin(broadcast(cells))
      .withColumn("cell_cos",
        dotDecimal(col("q_vec"), col("cell_vec")) /
          (col("q_norm") * col("cell_norm")))
    val qAssign = scoredCells.groupBy(col("q_id"), col("q_vec"), col("q_norm"))
      .agg(call_function("graft_topk", col("cell_cos"), col("cell_id"),
        lit(nProbe)).as("top"))
      .select(col("q_id"), col("q_vec"), col("q_norm"),
        explode(col("top.id")).as("cell_id"))
    // probed cells → driver literals (≤ |queries|·nProbe longs) so the
    // bucketed scan prunes on an IN filter, like the BM25 term filter
    val probed = qAssign.select("cell_id").distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    val cand = store.scan(s"${name}_vecs").where(col("cell_id").isin(probed: _*))
    val scored = cand.join(broadcast(qAssign), Seq("cell_id"))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        dotDecimal(col("q_vec"), col("vec")) /
          (col("q_norm") * normDecimal(col("vec"))))
      .select(col("q_id"), col("vec_id").as("c_id"), col("cosine"))
    Similarity.rankTopK(scored, k)
  }
}
