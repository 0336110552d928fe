package graft.ext

import graft.table.TableStore

/** The single maintenance entry point — one call an operator schedules on
  * a cadence instead of remembering seven primitives spread across
  * compact/compactPartitioned, the Bloom sidecar refresh, four
  * per-family index compactions, and the retention-journal drain. */
object Maintenance {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.maintenance")

  /** ONE maintenance pass over `table` — holding the table's RETENTION
    * LEASE for the whole pass (a concurrent cascade/drain aborts cleanly
    * instead of racing the fold or the index compactions) — in the order
    * that keeps each step cheap and correct:
    *
    *  1. drain any pending retention-cascade journal
    *     ([[Retention.drainPendingCascades]]) — a crashed cascade's
    *     index deletes must land before step 4 folds the deletion
    *     vectors they write, whose entry names carry the tags the
    *     replay checks;
    *  2. fold the manifest once it exceeds `maxSnapshots`, LAYOUT-AWARE:
    *     a uniformly hive-partitioned table folds through
    *     [[TableStore.compactPartitioned]] (preserving the O(metadata)
    *     retention contract); an all-flat table through
    *     [[TableStore.compact]]. A MIXED manifest (partitioned snapshots
    *     alongside flat ones — a stray flat writer on a partitioned
    *     table) SKIPS the fold with a loud warning: compact() would
    *     silently flatten it and the next partition-retention sweep would
    *     hard-error, breaking a standing pipeline from one scheduled
    *     call. The fold also materializes accumulated deletion vectors
    *     and lets GC reclaim dropped partitions' bytes;
    *  3. refresh the Bloom sidecar INCREMENTALLY with its own recorded
    *     column set — O(new files) after appends; a fold in step 2
    *     rewrites the files, making this the one full re-analyze the new
    *     layout needs. Range skipping ([[TableStore.scanPruned]]) reads
    *     the parquet footers and has nothing to refresh;
    *  4. physically compact each index family (near-dup, positional
    *     and IVF tables fold their deletion vectors through
    *     [[TableStore.compactDeletes]], only when they hold one; BM25
    *     postings/df/stats runs summed and zero rows dropped).
    *     `indexes = Nil` resolves to the
    *     table's REGISTERED index list ([[Retention.registerIndex]]); an
    *     explicit list is drift-checked against the registry. Targets
    *     with `numBuckets = 0` are delete-only and skipped here;
    *  5. refresh each registered materialized view
    *     ([[Retention.View]] / [[Retention.defineView]]) — after a
    *     step-2 fold this is the one full recompute the rewritten base
    *     requires (the manifest superset broke), after plain appends it
    *     is the O(delta + view) incremental fold; either way the view
    *     leaves the pass consistent with the maintained base.
    *
    * Observable results are unchanged by construction — every step is a
    * fold or an equivalence-preserving rewrite; MaintenanceSpec pins scan
    * rows, probe rows, manifest/sidecar sizes and the index tables'
    * deletion vectors across the pass. */
  def maintain(store: TableStore, table: String,
      indexes: Seq[Retention.IndexTarget] = Nil,
      maxSnapshots: Int = 16): Unit = Retention.withLease(store, table) {
    // ONE lease across the whole pass, not just the drain: the index
    // compactions below fold the BM25 replay tags away, which is only
    // safe while no cascade can be mid-negation on these indexes
    Retention.drainInternal(store, table)
    val resolved = Retention.resolveIndexes(store, table, indexes)
    val layout = store.tableLayout(table)
    if (layout.nonEmpty)
      store.compactPartitioned(table, layout, maxSnapshots)
    else if (store.entryLayouts(table).exists(_.nonEmpty))
      log.warn(s"maintain($table): manifest holds hive-partitioned " +
        "snapshots alongside flat ones (MIXED layout) — folding would " +
        "silently flatten the table and hard-error every later " +
        "dropPartitions/expirePartitionsBelow sweep; SKIPPING the " +
        "manifest fold (sidecars and indexes still maintained). Rewrite " +
        "to one uniform layout (overwritePartitioned, or compact the " +
        "stray flat snapshots into the partition scheme) to restore " +
        "folding")
    else store.compact(table, maxSnapshots)
    store.refreshBloomFilters(table)
    // the per-family compactions and view refreshes touch DISJOINT
    // tables (each family its own index tables, each view its own table;
    // the base fold already landed above) — overlap them on a small
    // driver pool (§2.6) instead of serializing their planning+commit
    // latencies. Resulting table states are identical: each step is the
    // same fold it was, just concurrent with its siblings.
    graft.ops.Overlap.par(resolved.map(target => () => target match {
      case Retention.NearDup(n, nb) if nb > 0 =>
        NearDupIndex.compactNearDupIndex(store, n)
      case Retention.Positional(n, nb) if nb > 0 =>
        Retrieval.compactPositionalIndex(store, n)
      case Retention.Ivf(n, nb) if nb > 0 =>
        VectorIndex.compactIvfIndex(store, n)
      case Retention.Bm25(n, _, nb) if nb > 0 =>
        Retrieval.compactBm25Index(store, n, nb)
      case Retention.View(n) =>
        // derived state follows the maintained base (step 5); a view
        // dropped without unregistering skips loudly, like the cascade
        if (store.exists(n)) { new graft.table.MatView(store).refresh(n); () }
        else log.warn(s"maintain($table): registered matview '$n' no " +
          "longer exists — skipping its refresh (unregisterIndex before " +
          "dropping a view)")
      case _ => () // delete-only target (numBuckets = 0): nothing physical
    }))
  }
}
