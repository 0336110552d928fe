package graft.ext

import graft.ops.Lineage.CutOps
import graft.table.TableStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Retention that reaches the persistent indexes.
  *
  * `TableStore.dropPartitions` / `expirePartitionsBelow` erase a crawl
  * date or source from the TABLE at O(metadata) cost — but a doc erased
  * that way remains findable through every persistent index built over
  * the table (near-dup LSH, BM25, positional, IVF) until someone
  * separately feeds the same ids to `deleteFrom*Index`. For a governance
  * erasure that gap is the first thing a user hits: expire a source,
  * then watch its documents keep surfacing in retrieval.
  *
  * These wrappers close the gap as one operation: capture the doomed
  * subset FIRST (a partition-pruned scan — directories outside the
  * doomed values are never listed, so the capture costs O(dropped data),
  * the floor for learning which ids die), then the O(metadata) partition
  * drop, then the per-family index delete. Deletion-vector families
  * (near-dup, positional, IVF) need only the ids; BM25 is log-structured
  * count negation and needs the indexed (id, text) rows re-derived — which is
  * why the capture happens before the manifest commit, while the doomed
  * partitions are still scannable. [[deleteByKeysCascade]] is the
  * ID-LEVEL form of the same operation: specific doc ids erased through
  * an O(deleted) deletion-vector commit plus the same journaled index
  * deletes — partition expiry for dates/sources, the key cascade for
  * individual takedowns.
  *
  * CRASH DURABILITY — the pending-cascade journal: the capture is
  * persisted to two ordinary store tables BEFORE the drop commits
  * (`<table>_retjournal` holds the captured doomed rows;
  * `<table>_retjournal_state` holds one row per index target plus
  * `__commit__`/`__done__` progress markers, all append-only commits).
  * The index deletes are then issued FROM THE JOURNALED ROWS, and a
  * death anywhere between the drop commit and the last index delete is
  * recoverable: the next cascade/expire call on the table (or an
  * explicit [[drainPendingCascades]], e.g. from [[Maintenance.maintain]])
  * replays exactly the not-yet-`__done__` targets from the journaled
  * payload — including the BM25 negation, replayed from the JOURNALED
  * text rather than re-derived (re-derived text that drifted from what
  * was indexed would leave the df/stats residue the BM25 delete contract
  * warns about). A cascade that died BEFORE its drop committed drains as
  * an abort (journal cleared, no index touched): the drop's success is
  * decided by the `__commit__` marker, or — for the crash window between
  * the drop commit and the marker — by the doomed values having vanished
  * from [[TableStore.partitionValues]]. The one residual ambiguity:
  * a doomed value RE-APPENDED between such a pre-marker crash and the
  * drain makes that window resolve as an abort (under-deletion — the
  * cascade can be re-run); resolving it the other way could erase
  * live docs from the indexes, the worse failure.
  *
  * The index deletes are takedown-sized commits (deletion vectors on the
  * index tables / negated postings), never index rewrites; physical
  * reclamation stays where it was — `compact*Index` on the maintenance
  * cadence, and table-side GC after the next `compact`. Every index
  * delete carries the cascade's tag `rc.<cid>.<i>`, so a target replays
  * at most once: a deletion-vector family skips each table whose
  * manifest already holds the tag (a doc re-added to the index since the
  * crash stays served), and a BM25 target resumes at its first missing
  * sub-append marker instead of negating twice.
  *
  * Concurrency: the capture and the drop are bound together — the drop
  * commits ONLY if the manifest is still the one the capture read
  * ([[TableStore.dropPartitionsFromBasis]]); a batch appended to a
  * doomed partition mid-cascade forces a re-capture instead of being
  * silently dropped from the table while staying findable through
  * retrieval. The one-retention-operator-per-table contract is ENFORCED
  * by a per-table lease ([[TableStore.tryAcquireLease]], kind
  * `retention`): every cascade/expire/drain/acknowledge holds it for its
  * duration, a second operator aborts with [[IllegalStateException]]
  * instead of racing (two concurrent drains could replay an in-flight,
  * untagged BM25 negation twice — exactly the residue skew the delete
  * contract warns about). A crashed operator's lease expires after
  * [[leaseTtlMs]]; size that above the longest legitimate cascade.
  *
  * SYNC CONTRACT: each listed index must cover exactly the table's
  * indexed docs at capture time — the pairing the streaming
  * curate-and-index path maintains (every appended batch also
  * `append*Index`ed, every DV takedown also `deleteFrom*Index`ed). For
  * the deletion-vector families an over-capture is harmless (a vector
  * key for a never-indexed id matches nothing), but BM25 is COUNT NEGATION:
  * negating a doc that was never indexed (or negating text that differs
  * from what was indexed) leaves df/stats residue that skews every
  * surviving score on the shared terms — `deleteFromBm25Index`'s own
  * contract, inherited here. If table and index have drifted, rebuild
  * the index instead of cascading. The pairing itself is PERSISTED via
  * [[registerIndex]] (`<table>_indexreg`): with a registry, `indexes =
  * Nil` cascades every registered family and an explicit list that
  * disagrees with the registry fails fast — caller discipline upgraded
  * to a checked contract. */
object Retention {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.retention")

  /** One persistent index built over the table being swept.
    * `numBuckets` (deletion-vector families) is only
    * [[Maintenance.maintain]]'s compact-or-skip flag — 0 means
    * "delete-only target, never compact"; the fold keeps the tables'
    * own bucket spec. */
  sealed trait IndexTarget

  /** Near-dup LSH index `name` (deletion-vector family — ids suffice). */
  final case class NearDup(name: String, numBuckets: Int = 0)
      extends IndexTarget

  /** Positional index `name` (deletion-vector family — ids suffice). */
  final case class Positional(name: String, numBuckets: Int = 0)
      extends IndexTarget

  /** IVF vector index `name` (deletion-vector family — ids suffice). */
  final case class Ivf(name: String, numBuckets: Int = 0)
      extends IndexTarget

  /** BM25 index `name`: count negation needs the indexed text column
    * and the index's bucket count (the negated postings land in the
    * same buckets as the originals). */
  final case class Bm25(name: String, textCol: String, numBuckets: Int)
      extends IndexTarget

  /** Materialized view `name` ([[graft.table.MatView]]) derived from the
    * table — the DERIVED-STATE family: its cascade "delete" is a
    * [[graft.table.MatView.refresh]], which recomputes from the
    * DV-applied / post-drop base, so the view stops serving the erased
    * docs' aggregates as part of the SAME journaled, crash-durable
    * operation as the index deletes (a refresh is idempotent, so a
    * replay after a crash is harmless).
    * Register at view definition time via [[defineView]]; unregister
    * BEFORE dropping the view table, or the replay skips it with a loud
    * warning. */
  final case class View(name: String) extends IndexTarget

  /** Pending-cascade journal tables of `table` — ordinary store tables
    * (atomic commits, GC, time travel), takedown-sized. */
  def journalName(table: String): String = s"${table}_retjournal"
  def journalStateName(table: String): String = s"${table}_retjournal_state"

  /** Index-registry table of `table` — the PERSISTED table↔index sync
    * contract (one row per registered index target). */
  def indexRegistryName(table: String): String = s"${table}_indexreg"

  /** Register `target` as an index maintained over `table` — the persisted
    * form of the SYNC CONTRACT above, written where the pairing is created
    * (index build time; the streaming curate-and-index paths register
    * automatically). Once a registry exists, a cascade/maintain called
    * with `indexes = Nil` reaches every registered family, and an explicit
    * list that DRIFTS from the registry fails fast instead of silently
    * leaving an unlisted index covering erased docs. Idempotent upsert
    * keyed on (family, index name); the registry is a tiny ordinary store
    * table (atomic commits, time travel). Registration holds the
    * RETENTION LEASE: under it, registrations serialize with
    * cascades/drains/maintenance AND with each other; a registration
    * racing a long-running cascade aborts loudly (retry after it
    * finishes — a registry change mid-erasure is itself a sync hazard).
    * The upsert is APPEND-then-deleteWhere, in that order: the new row
    * lands durably before any older row is removed, so a crash between
    * the two commits leaves transient duplicates ([[registeredIndexes]]
    * dedups newest-wins) — never a registry with the index absent, which
    * a later `indexes = Nil` cascade would silently skip, the exact
    * under-deletion the registry exists to prevent. */
  def registerIndex(store: TableStore, table: String,
      target: IndexTarget): Unit = withLease(store, table) {
    registerIndexLeased(store, table, target)
  }

  /** [[registerIndex]] body, for callers already inside [[withLease]]
    * (the lease is NOT re-entrant — a nested acquire aborts). */
  private def registerIndexLeased(store: TableStore, table: String,
      target: IndexTarget): Unit = {
    val sp = store.session
    import sp.implicits._
    val (kind, name, textCol, nb) = encodeTarget(target)
    val regName = indexRegistryName(table)
    // ONE tiny scan serves three needs: idempotence (an identical
    // registration — the streaming curate paths re-register every
    // batch — is a no-op, zero commits), the strictly-increasing
    // timestamp that makes newest-wins dedup total within a millisecond,
    // and the had-older probe that decides whether a cleanup delete is
    // due at all
    val allRows: Array[org.apache.spark.sql.Row] =
      if (!store.exists(regName)) Array.empty
      else store.scan(regName)
        .select("kind", "index_name", "text_col", "num_buckets",
          "registered_ms")
        .collect()
    val existing = allRows.collect {
      case r if r.getString(0) == kind && r.getString(1) == name =>
        (r.getString(2), r.getInt(3), r.getLong(4))
    }
    if (existing.length == 1 && existing.head._1 == textCol &&
        existing.head._2 == nb)
      return // already registered exactly so
    val prevMax =
      if (allRows.isEmpty) 0L else allRows.map(_.getLong(4)).max
    val ts = math.max(System.currentTimeMillis(), prevMax + 1)
    store.append(regName, // CAS-creates the table when missing
      Seq((kind, name, textCol, nb))
        .toDF("kind", "index_name", "text_col", "num_buckets")
        .withColumn("registered_ms", lit(ts)))
    failpoint("registry-appended")
    if (existing.nonEmpty)
      store.deleteWhere(regName,
        col("kind") === kind && col("index_name") === name &&
          col("registered_ms") < ts)
  }

  /** Create materialized view `view` = `SELECT keys, measures FROM table
    * GROUP BY keys` ([[graft.table.MatView.define]]) AND register it as
    * a cascade target, in ONE leased operation — the governed way to
    * derive aggregate state from a table under retention. A view created
    * this way is refreshed by every later [[dropPartitionsCascade]] /
    * [[deleteByKeysCascade]] / [[Maintenance.maintain]] as a journaled
    * cascade target: a crash between the table-side delete and the
    * refresh drains like any index delete, so the view can never keep
    * serving an erased doc's aggregates past the cascade — the same
    * caller-discipline gap the registry closes for indexes, one tier up
    * (a bare `MatView.define` leaves the refresh to the caller; the
    * reference's post-load `_updated_at` restamp, aircan
    * `lib/warehouse.py:337-357`, is its form of the "derived state
    * follows the write" contract). */
  def defineView(store: TableStore, table: String, view: String,
      keys: Seq[String],
      measures: Seq[graft.table.MatView.Measure]): Unit =
    withLease(store, table) {
      new graft.table.MatView(store).define(view, table, keys, measures)
      registerIndexLeased(store, table, View(view))
    }

  /** Remove `indexName` from `table`'s registry (e.g. after dropping the
    * index) — no-op when absent. Holds the retention lease like
    * [[registerIndex]]. */
  def unregisterIndex(store: TableStore, table: String,
      indexName: String): Unit = withLease(store, table) {
    val regName = indexRegistryName(table)
    if (store.exists(regName))
      store.deleteWhere(regName, col("index_name") === indexName)
  }

  /** The registered index targets of `table` (empty when no registry).
    * Rows dedup by (family, name) keeping the NEWEST `registered_ms` —
    * same-key duplicate rows cannot arise under the lease, but a
    * registry written before the lease gating (or hand-edited) must
    * never yield two targets for one index: the cascade would negate
    * its BM25 counts twice. */
  def registeredIndexes(store: TableStore,
      table: String): Seq[IndexTarget] = {
    val regName = indexRegistryName(table)
    if (!store.exists(regName)) Nil
    else store.scan(regName).collect().toSeq
      .map(r => (r.getAs[String]("kind"), r.getAs[String]("index_name"),
        r.getAs[String]("text_col"), r.getAs[Int]("num_buckets"),
        r.getAs[Long]("registered_ms")))
      .groupBy(t => (t._1, t._2)).values
      .map(_.maxBy(_._5))
      .map(t => decodeTargetFields(t._1, t._2, t._3, t._4))
      .toSeq.sortBy(encodeTarget)
  }

  /** The identity of a target for drift comparison: family + name, plus
    * the correctness-bearing BM25 parameters (text column and bucket
    * count drive the count negation — a disagreement there IS a sync
    * drift). The deletion-vector families' `numBuckets` is only a
    * compaction flag and deliberately not part of the identity. */
  private def targetKey(t: IndexTarget): (String, String, String, Int) =
    t match {
      case _: Bm25 => encodeTarget(t)
      case _       => encodeTarget(t).copy(_4 = 0)
    }

  /** Resolve the effective index list for a cascade: no registry → the
    * caller's list (the documented caller-discipline mode); registry +
    * empty list → the registered targets; registry + explicit list →
    * the lists must AGREE (by [[targetKey]]) or the cascade fails fast —
    * an index registered but not listed would keep serving erased docs,
    * one listed but never registered suggests the registry is stale. */
  private[ext] def resolveIndexes(store: TableStore, table: String,
      listed: Seq[IndexTarget]): Seq[IndexTarget] = {
    val reg = registeredIndexes(store, table)
    if (reg.isEmpty) listed
    else if (listed.isEmpty) reg
    else {
      val rk = reg.map(targetKey).toSet
      val lk = listed.map(targetKey).toSet
      require(rk == lk,
        s"index registry drift on $table: registered=" +
          s"${rk.toSeq.sorted.mkString("[", ", ", "]")} vs listed=" +
          s"${lk.toSeq.sorted.mkString("[", ", ", "]")} — fix with " +
          "registerIndex/unregisterIndex (or pass indexes = Nil to use " +
          "the registry); cascading past a drift would leave an index " +
          "serving erased docs or negate one that never indexed them")
      listed
    }
  }

  private def encodeTarget(t: IndexTarget): (String, String, String, Int) =
    t match {
      case NearDup(n, nb)    => ("neardup", n, "", nb)
      case Positional(n, nb) => ("positional", n, "", nb)
      case Ivf(n, nb)        => ("ivf", n, "", nb)
      case Bm25(n, tc, nb)   => ("bm25", n, tc, nb)
      case View(n)           => ("matview", n, "", 0)
    }

  private def decodeTargetFields(kind: String, name: String,
      textCol: String, numBuckets: Int): IndexTarget = kind match {
    case "neardup"    => NearDup(name, numBuckets)
    case "positional" => Positional(name, numBuckets)
    case "ivf"        => Ivf(name, numBuckets)
    case "bm25"       => Bm25(name, textCol, numBuckets)
    case "matview"    => View(name)
    case other => throw new IllegalStateException(
      s"unknown index target kind: $other")
  }

  /** TEST SEAM: invoked with a label at each step boundary of the live
    * cascade ("journaled", "dropped", "committed-mark", "target-<i>") so
    * the crash spec can kill the cascade at an exact window. No-op in
    * production. */
  private[graft] var failpoint: String => Unit = _ => ()

  private val CommitKind = "__commit__"
  private val DoneKind = "__done__"
  private val AbandonedKind = "__abandoned__"
  private val LeaseKind = "retention"

  /** Sentinel `partition_col` value under which an ID-LEVEL cascade
    * journals its state: `part_values` then holds the single journal
    * tag riding the deletion-vector entry, and the drain's committed-
    * probe is [[TableStore.hasDeleteTag]] instead of a layout probe. */
  private val DvTagSentinel = "__dv_tag__"

  /** Staleness window for the per-table retention lease: a lease older
    * than this is presumed orphaned by a dead operator and is taken
    * over. MUST exceed the longest legitimate LEASED OPERATION on the
    * table — not just a cascade/drain but a full
    * [[Maintenance.maintain]] pass, whose manifest fold + index
    * compactions on a large table can dominate it — because a takeover
    * of a live-but-slow holder re-opens the concurrent-operator window
    * the lease exists to close (e.g. a cascade's BM25 negation racing
    * the stolen-from maintain's index compaction). Size it generously:
    * the cost of a too-large ttl is only how long a CRASHED operator's
    * table stays blocked. Process-global knob (one retention policy per
    * deployment, not per call); wall-clock based, so operators on
    * different hosts need NTP-coarse clock agreement — skew adds to the
    * effective window. */
  @volatile var leaseTtlMs: Long = 15 * 60 * 1000L

  /** Acquire the per-table retention lease around `body`, aborting
    * loudly if another operator holds it — the structural form of the
    * one-retention-operator-per-table contract. The hold HEARTBEATS
    * (every ttl/3, [[TableStore.heartbeatLease]]): a legitimate
    * operation that outlives [[leaseTtlMs]] — a big cascade, a
    * [[Maintenance.maintain]] whose fold + index compactions dominate
    * the window — stays fresh instead of being taken over mid-flight,
    * which would re-open the exact concurrent-operator window (double
    * BM25 negation) the lease exists to close. If a takeover lands
    * anyway (the heartbeat thread starved past the deadline, or clocks
    * skewed), the NEXT beat detects it and the operation FAILS loudly at
    * exit rather than reporting success for work that may have raced the
    * usurper. `private[ext]` so [[Maintenance.maintain]] can hold ONE
    * lease across its whole pass. NOT re-entrant: a nested acquire on
    * the same table aborts like any second operator. */
  private[ext] def withLease[T](store: TableStore, table: String)(body: => T): T = {
    val holder = s"retention-${java.util.UUID.randomUUID()}"
    if (!store.tryAcquireLease(table, LeaseKind, holder, leaseTtlMs)) {
      val who = store.leaseStatus(table, LeaseKind)
        .map { case (h, ts, ttl, eff) =>
          s"held by '$h' since epoch-ms $ts (declared ttl $ttl ms, " +
            s"fresh as of $eff)" }
        .getOrElse("released mid-probe — safe to retry now")
      throw new IllegalStateException(
        s"retention lease on table '$table' unavailable ($who): one " +
          "retention operator per table at a time — retry after it " +
          "finishes; a DEAD holder's lease expires after its own " +
          "declared ttl with no heartbeat (Retention.leaseTtlMs for " +
          "operations started here)")
    }
    val lost = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hb = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, s"graft-retention-heartbeat-$table")
        t.setDaemon(true); t
      })
    val period = math.max(leaseTtlMs / 3, 50L)
    hb.scheduleWithFixedDelay(() => {
      // a transient fs error is NOT a takeover: skip the beat and let the
      // next one retry — the ttl is sized in multiples of the period
      try { if (!store.heartbeatLease(table, LeaseKind, holder)) lost.set(true) }
      catch { case scala.util.control.NonFatal(_) => () }
    }, period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    try {
      val out = body
      if (lost.get)
        throw new IllegalStateException(
          s"retention lease on table '$table' was taken over " +
            s"mid-operation (holder '$holder' missed its heartbeat " +
            "deadline): the single-operator assumption broke, so this " +
            "operation's result must be treated as suspect — check " +
            "pendingCascades/abandonedCascades and re-verify the indexes")
      out
    } finally {
      hb.shutdownNow()
      hb.awaitTermination(2, java.util.concurrent.TimeUnit.SECONDS)
      if (!lost.get) store.releaseLease(table, LeaseKind, holder)
    }
  }

  /** [[TableStore.dropPartitions]] + index cascade. Returns true iff the
    * table drop committed (false = no matching partitions, no cascade).
    * Holds the table's retention lease; drains any pending journal from
    * a crashed earlier cascade first. `indexes = Nil` resolves to the
    * table's registered index list ([[registerIndex]]); an explicit list
    * is checked against the registry when one exists. */
  def dropPartitionsCascade(
      store: TableStore, table: String, partitionCol: String,
      values: Seq[String], idCol: String, indexes: Seq[IndexTarget]
  ): Boolean = withLease(store, table) {
    drainInternal(store, table)
    dropCascadeDrained(store, table, partitionCol, values, idCol,
      resolveIndexes(store, table, indexes))
  }

  /** [[dropPartitionsCascade]] body after the journal drain — shared with
    * [[expirePartitionsBelowCascade]], which has already drained (so a
    * standing no-op sweep still recovers crashed cascades) and must not
    * pay the probe twice. */
  private def dropCascadeDrained(
      store: TableStore, table: String, partitionCol: String,
      values: Seq[String], idCol: String, indexes: Seq[IndexTarget]
  ): Boolean = {
    if (indexes.isEmpty)
      return store.dropPartitions(table, partitionCol, values)
    val textCols = indexes.collect { case Bm25(_, t, _) => t }.distinct
    val cols = (idCol +: textCols).distinct
    var attempt = 0
    while (attempt < 8) {
      attempt += 1
      // capture BEFORE the drop, from the exact manifest the conditional
      // drop will commit against: partition filters prune the scan to the
      // doomed directories; the journal append materializes the rows to
      // parquet, pinning them durably past the commit (and past a crash)
      val basis = store.manifestEntries(table)
      // persisted: the emptiness probe and the journal write would
      // otherwise each pay the (partition-pruned) capture scan
      val doomed = store.scanEntries(table, basis)
        .where(col(partitionCol).isin(values: _*))
        .select(cols.map(col): _*)
        .dropDuplicates(Seq(idCol))
        .cutLineage(eager = false) // pins rows AND cuts the scan lineage
      try {
        val cid = java.util.UUID.randomUUID().toString.replace("-", "")
        val hasDoomed = !doomed.isEmpty
        if (hasDoomed)
          journalWrite(store, table, cid, doomed, idCol, partitionCol,
            values, indexes)
        failpoint("journaled")
        store.dropPartitionsFromBasis(table, partitionCol, values,
          basis) match {
          case 1 =>
            failpoint("dropped")
            if (hasDoomed) {
              appendMarker(store, table, cid, CommitKind, -1)
              failpoint("committed-mark")
              runTargets(store, table, cid, idCol, indexes.zipWithIndex)
              clearCascade(store, table, cid)
            }
            return true
          case 0 =>
            if (hasDoomed) clearCascade(store, table, cid)
            return false
          case _ => // a commit landed mid-cascade: re-capture and retry
            if (hasDoomed) clearCascade(store, table, cid)
        }
      } finally graft.ops.Lineage.release(doomed)
    }
    throw new IllegalStateException(
      s"dropPartitionsCascade($table) kept racing concurrent commits — " +
        "quiesce writers or retry")
  }

  /** [[TableStore.deleteByKeysDV]] + index cascade: erase SPECIFIC doc
    * ids from the table (one O(deleted) deletion-vector commit) AND from
    * every listed/registered persistent index as ONE crash-durable
    * operation — the ID-level sibling of [[dropPartitionsCascade]] (a
    * GDPR-style takedown of individual documents where the partition
    * form expires a date or source). Returns true iff a deletion vector
    * committed; false = none of the ids are live in the table, so there
    * is nothing to erase anywhere (an index covering exactly the table
    * cannot hold a doc the table does not — the SYNC CONTRACT above).
    *
    * The capture is ONE semi-join scan of the table against the
    * takedown-sized (broadcastable) id list — the floor for learning
    * the indexed text of the doomed docs; cluster the id column to
    * prune it. The DV commit is conditional on the capture's
    * manifest ([[TableStore.deleteByKeysDVFromBasis]]) — an id
    * re-appended mid-cascade forces a re-capture instead of being
    * erased from the table while staying findable — and carries the
    * journal's tag, so the drain decides "did the delete commit?" from
    * the tag's presence among the live dv entries rather than from the
    * layout. Journal, markers, drain, park, lease, registry: the exact
    * machinery of the partition cascade. The drain's probe is fold-safe:
    * the tag is the fast path, and a tag an out-of-band `compact` folded
    * away (the fold materializes the vector and forgets the entry name)
    * falls back to probing the journaled ids' liveness — all dead
    * resolves as committed and the index deletes still run; any id live
    * resolves as abort (under-deletion, re-runnable), never as erasing
    * live docs from the indexes. */
  def deleteByKeysCascade(
      store: TableStore, table: String, idCol: String,
      doomedIds: DataFrame, indexes: Seq[IndexTarget]
  ): Boolean = withLease(store, table) {
    drainInternal(store, table)
    val resolved = resolveIndexes(store, table, indexes)
    if (resolved.isEmpty) {
      // no indexes anywhere: just the table-side vector (presence
      // unchecked — probing it would cost the scan this path avoids)
      val ids = doomedIds.select(col(idCol)).distinct()
      if (ids.isEmpty) false
      else { store.deleteByKeysDV(table, Seq(idCol), ids); true }
    } else {
      val textCols = resolved.collect { case Bm25(_, t, _) => t }.distinct
      val cols = (idCol +: textCols).distinct
      var attempt = 0
      while (attempt < 8) {
        attempt += 1
        val basis = store.manifestEntries(table)
        // persisted: the emptiness probe and the journal write below
        // would otherwise each pay the table-vs-takedown semi-join scan
        // (the cascade's dominant cost); unpersisted per attempt
        val doomed = store.scanEntries(table, basis)
          .join(doomedIds.select(col(idCol)).distinct(), Seq(idCol),
            "left_semi")
          .select(cols.map(col): _*)
          .dropDuplicates(Seq(idCol))
          .cutLineage(eager = false) // pins rows AND cuts the scan lineage
        try {
          if (doomed.isEmpty) return false
          val cid = java.util.UUID.randomUUID().toString.replace("-", "")
          val tag = s"rcdv.$cid"
          journalWrite(store, table, cid, doomed, idCol, DvTagSentinel,
            Seq(tag), resolved)
          failpoint("journaled")
          // the vector's key list reads from the JOURNALED payload — the
          // same pinned rows the index deletes will replay from
          store.deleteByKeysDVFromBasis(table, Seq(idCol),
            store.scan(journalName(table))
              .where(col("__cascade_id") === cid).select(idCol),
            basis, tag) match {
            case 1 =>
              failpoint("dropped")
              appendMarker(store, table, cid, CommitKind, -1)
              failpoint("committed-mark")
              runTargets(store, table, cid, idCol, resolved.zipWithIndex)
              clearCascade(store, table, cid)
              return true
            case 0 => // defensive: capture was non-empty above
              clearCascade(store, table, cid)
              return false
            case _ => // a commit landed mid-cascade: re-capture and retry
              clearCascade(store, table, cid)
          }
        } finally graft.ops.Lineage.release(doomed)
      }
      throw new IllegalStateException(
        s"deleteByKeysCascade($table) kept racing concurrent commits — " +
          "quiesce writers or retry")
    }
  }

  /** [[TableStore.expirePartitionsBelow]] + index cascade: drop every
    * partition sorting below `cutoff` (string order — ISO dates compare
    * correctly) and erase the dropped docs from the given indexes.
    * Returns true iff something was dropped. */
  def expirePartitionsBelowCascade(
      store: TableStore, table: String, partitionCol: String,
      cutoff: String, idCol: String, indexes: Seq[IndexTarget]
  ): Boolean = withLease(store, table) {
    drainInternal(store, table)
    val doomed = store.partitionValues(table, partitionCol)
      .filter(_ < cutoff)
    doomed.nonEmpty &&
      dropCascadeDrained(store, table, partitionCol, doomed, idCol,
        resolveIndexes(store, table, indexes))
  }

  /** Replay any cascade that journaled its capture but died before all
    * its index deletes landed: not-yet-`__done__` targets re-issue from
    * the JOURNALED payload rows; a cascade whose drop never committed
    * (no `__commit__` marker AND its doomed values still live) is an
    * abort and its journal is cleared untouched. A cascade whose drop's
    * fate is UNKNOWABLE (liveness probe fails — table dropped or
    * re-laid-out since the crash) is PARKED, not cleared: its payload
    * drops (no copies of doomed content outlive the decision) but its
    * state rows persist under an `__abandoned__` marker as the durable
    * audit record that an erasure may be half-landed — surfaced by
    * [[pendingCascades]]/[[abandonedCascades]], skipped by later drains,
    * cleared only by an explicit [[acknowledgeAbandoned]] after the
    * listed indexes are rebuilt. Idempotent and cheap when nothing is
    * pending (two existence probes). Holds the retention lease; called
    * automatically (without re-acquiring) at the head of every
    * cascade/expire on the table and from [[Maintenance.maintain]]. */
  def drainPendingCascades(store: TableStore, table: String): Unit =
    withLease(store, table) { drainInternal(store, table) }

  /** One cascade's journal-state rows, decoded: progress markers
    * separated from target rows. The SINGLE decode of the journal-state
    * schema — the drain and [[status]] both read through it, so a new
    * marker kind or schema change cannot silently diverge the two. */
  private final case class JournalGroup(cascadeId: String,
      committed: Boolean, abandoned: Boolean, doneSeqs: Set[Int],
      targets: Seq[org.apache.spark.sql.Row])

  private def journalGroups(
      rows: Array[org.apache.spark.sql.Row]): Seq[JournalGroup] =
    rows.groupBy(_.getAs[String]("cascade_id")).toSeq.map {
      case (cid, rs) =>
        JournalGroup(cid,
          committed = rs.exists(_.getAs[String]("kind") == CommitKind),
          abandoned = rs.exists(_.getAs[String]("kind") == AbandonedKind),
          doneSeqs = rs.filter(_.getAs[String]("kind") == DoneKind)
            .map(_.getAs[Int]("seq")).toSet,
          targets = rs.filterNot(r =>
              Set(CommitKind, DoneKind, AbandonedKind)(
                r.getAs[String]("kind")))
            .sortBy(_.getAs[Int]("seq")).toSeq)
    }

  private[ext] def drainInternal(store: TableStore, table: String): Unit = {
    val stName = journalStateName(table)
    val all =
      if (!store.exists(stName)) Array.empty[org.apache.spark.sql.Row]
      else store.scan(stName).collect() // targets × pending cascades
    journalGroups(all).foreach { g =>
      val cid = g.cascadeId
      val committed = g.committed
      val abandoned = g.abandoned
      val done = g.doneSeqs
      val targets = g.targets
      // state rows with the payload already cleared = a clearCascade was
      // interrupted between its two drops; every target had completed
      // (payload clears only after the last delete) — just finish clearing
      def payloadGone: Boolean =
        !store.exists(journalName(table)) ||
          store.scan(journalName(table))
            .where(col("__cascade_id") === cid).isEmpty
      if (abandoned) {
        // parked: a terminal audit record, never replayed (the drop's
        // fate was unknowable; replaying the deletes could erase LIVE
        // docs from the indexes). Finish an interrupted park's payload
        // clear, otherwise leave it for acknowledgeAbandoned.
        if (!payloadGone) clearPayload(store, table, cid)
      } else if (targets.isEmpty || payloadGone) {
        clearCascade(store, table, cid)
      } else {
        val pcol = targets.head.getAs[String]("partition_col")
        val vals = targets.head.getSeq[String](
          targets.head.fieldIndex("part_values")).toSeq
        val idCol = targets.head.getAs[String]("id_col")
        // Left = park (probe failed), Right = drop committed? The try
        // covers ONLY the probe itself: a transient failure in the
        // marker append below must propagate and retry at the next
        // drain, never misdiagnose a fully-decidable cascade as
        // fate-unknowable and destroy its replay payload.
        def parkWarn(reason: String): Unit =
          log.warn(s"pending cascade $cid on $table: liveness probe " +
            s"failed ($reason) — PARKING its journal as an " +
            "abandoned-erasure audit record; if the drop committed, the " +
            "dropped docs stay findable until the listed indexes are " +
            "rebuilt — rebuild them, then Retention.acknowledgeAbandoned " +
            "to clear the record")
        val fate: Either[Unit, Boolean] =
          if (committed) Right(true)
          else if (pcol == DvTagSentinel) {
            // ID-level cascade, pre-marker crash window: the delete
            // committed iff its tagged dv entry is live — the fast
            // path. The tag's window is the live manifest, so an
            // out-of-band compact between the crash and this drain may
            // have FOLDED it away while materializing the vector; a
            // missing tag therefore falls back to probing the journaled
            // ids' liveness in the table: ALL dead → the delete
            // happened (by this cascade's vector or any equivalent
            // means) and the index deletes must still run — treating a
            // foldable tag as proof of abort would clear the journal
            // and leave every index serving the erased docs, silently.
            // ANY id still live → abort (under-deletion, re-runnable —
            // a doomed id re-appended since the crash resolves this
            // way, matching the partition form's ambiguity rule: never
            // erase live docs from the indexes). A table that vanished
            // since the crash makes the fate unknowable → park.
            val probed: Option[Boolean] =
              try {
                if (!store.exists(table)) {
                  parkWarn("table no longer exists"); None
                } else if (store.hasDeleteTag(table, vals.head)) {
                  Some(true)
                } else {
                  val anyLive = store.scan(table)
                    .join(store.scan(journalName(table))
                        .where(col("__cascade_id") === cid)
                        .select(idCol),
                      Seq(idCol), "left_semi")
                    .limit(1).count() > 0
                  Some(!anyLive)
                }
              } catch {
                case scala.util.control.NonFatal(e) =>
                  // park only on STRUCTURAL evidence (the table vanished
                  // mid-probe); a transient failure on a live table must
                  // propagate and retry at the next drain — parking
                  // destroys the replay payload
                  val vanished =
                    try !store.exists(table)
                    catch {
                      case scala.util.control.NonFatal(_) => false
                    }
                  if (vanished) { parkWarn(e.getMessage); None }
                  else throw e
              }
            probed match {
              case None => Left(())
              case Some(landed) =>
                Right(landed && {
                  appendMarker(store, table, cid, CommitKind, -1); true
                })
            }
          } else {
            // partition cascade, pre-marker crash window: the drop
            // committed iff the doomed values are gone from the layout
            val live: Option[Set[String]] =
              try Some(store.partitionValues(table, pcol).toSet)
              catch {
                case scala.util.control.NonFatal(e) =>
                  // table dropped or re-laid-out since the crash: the
                  // drop's fate is unknowable — PARK the journal as the
                  // durable record of a possibly-half-landed erasure.
                  // Park only on STRUCTURAL evidence (table gone, or the
                  // partition chain no longer carries this column —
                  // mixed and flat both read as a broken chain); a
                  // transient failure on an intact table propagates and
                  // retries at the next drain instead of destroying the
                  // replay payload
                  val structural =
                    try !store.exists(table) ||
                      !store.tableLayout(table).contains(pcol)
                    catch {
                      case scala.util.control.NonFatal(_) => false
                    }
                  if (structural) { parkWarn(e.getMessage); None }
                  else throw e
              }
            live match {
              case None => Left(())
              case Some(lv) =>
                Right(vals.forall(v => !lv.contains(v)) && {
                  appendMarker(store, table, cid, CommitKind, -1); true
                })
            }
          }
        fate match {
          case Left(_) =>
            // marker BEFORE the payload clear: a crash between the two
            // leaves a parked cascade with lingering payload (finished
            // by the next drain's abandoned branch), never a clearable-
            // looking journal whose audit record a drain then destroys
            appendMarker(store, table, cid, AbandonedKind, -1)
            clearPayload(store, table, cid)
          case Right(proceed) =>
            if (proceed) {
              val pending = targets
                .filterNot(r => done.contains(r.getAs[Int]("seq")))
                .map(r => (decodeTarget(r), r.getAs[Int]("seq")))
              runTargets(store, table, cid, idCol, pending)
            }
            clearCascade(store, table, cid)
        }
      }
    }
    gcOrphanPayload(store, table)
    // advisory last-drain stamp for status(): "when did recovery last
    // look at this table" — a torn/missing stamp only reads as "never"
    store.writeSidecarFile(table, LastDrainFile,
      s"${System.currentTimeMillis()}\n")
  }

  private val LastDrainFile = "SIDECAR-retention-lastdrain"

  /** GC payload rows no state row points to — the crash window inside
    * [[journalWrite]] between its payload append and its state append.
    * Without a state row no drain can ever act on them, and an
    * erasure-oriented journal must not keep unbounded-lifetime copies of
    * doomed content invisible to [[pendingCascades]]. */
  private def gcOrphanPayload(store: TableStore, table: String): Unit = {
    val jName = journalName(table)
    if (!store.exists(jName)) return
    val stName = journalStateName(table)
    val live: Set[String] =
      if (!store.exists(stName)) Set.empty
      else store.scan(stName).select("cascade_id").distinct().collect()
        .map(_.getString(0)).toSet
    if (live.isEmpty) store.drop(jName)
    else {
      val orphans = store.scan(jName).select("__cascade_id").distinct()
        .collect().map(_.getString(0)).filterNot(live)
      if (orphans.nonEmpty) {
        log.warn(s"retention journal of $table: dropping payload of " +
          s"${orphans.length} cascade(s) that never journaled state " +
          "(a crash inside journalWrite) — their cascades never started, " +
          "nothing to replay")
        store.deleteWhere(jName,
          col("__cascade_id").isin(orphans.toSeq: _*))
      }
    }
  }

  /** Clear a PARKED (abandoned) cascade's audit record — the explicit
    * acknowledgement that its remediation (rebuilding the indexes listed
    * in its state rows) is done. Refuses a cascade that is not parked: a
    * live pending cascade is drained, never acknowledged away. */
  def acknowledgeAbandoned(store: TableStore, table: String,
      cascadeId: String): Unit = withLease(store, table) {
    val stName = journalStateName(table)
    require(store.exists(stName),
      s"acknowledgeAbandoned: no retention journal on $table")
    val rows = store.scan(stName)
      .where(col("cascade_id") === cascadeId).collect()
    require(rows.nonEmpty,
      s"acknowledgeAbandoned: no cascade $cascadeId journaled on $table")
    require(rows.exists(_.getAs[String]("kind") == AbandonedKind),
      s"acknowledgeAbandoned: cascade $cascadeId on $table is not " +
        "abandoned — drainPendingCascades handles live journals")
    clearCascade(store, table, cascadeId)
  }

  /** The parked (abandoned) cascades' state rows — cascade ids plus the
    * index-target rows naming exactly what to rebuild: the remediation
    * list as data, not as a log line. Empty when no erasure is in the
    * unknowable-fate state. */
  def abandonedCascades(store: TableStore, table: String): DataFrame = {
    val st = pendingCascades(store, table)
    val parked = st.where(col("kind") === lit(AbandonedKind))
      .select("cascade_id").distinct()
    st.join(parked, Seq("cascade_id"))
  }

  /** Governance introspection: the pending-cascade journal's state rows
    * for `table` — one row per (cascade, index target) plus progress
    * markers (`__commit__`/`__done__`/`__abandoned__`). Empty frame
    * (correct schema) when nothing is pending. An operator auditing "is
    * any erasure half-landed?" reads this; rows WITHOUT an
    * `__abandoned__` marker mean [[drainPendingCascades]] (or any
    * cascade call, or [[Maintenance.maintain]]) has recovery work to do,
    * rows with one are parked audit records awaiting an index rebuild +
    * [[acknowledgeAbandoned]] (see [[abandonedCascades]]). */
  def pendingCascades(store: TableStore, table: String): DataFrame = {
    val sp = store.session
    val stName = journalStateName(table)
    if (store.exists(stName)) store.scan(stName)
    else {
      import sp.implicits._
      Seq.empty[(String, Int, String, String, String, Int)]
        .toDF("cascade_id", "seq", "kind", "index_name", "text_col",
          "num_buckets")
        .withColumn("id_col", lit(""))
        .withColumn("partition_col", lit(""))
        .withColumn("part_values", array().cast("array<string>"))
        .withColumn("created_ms", lit(0L))
        .where(lit(false))
    }
  }

  /** The whole governance state of `table` in ONE frame — the four
    * probes an operator otherwise chains ([[pendingCascades]],
    * [[abandonedCascades]], [[TableStore.leaseStatus]],
    * [[registeredIndexes]]) answered together: is any erasure
    * half-landed, is an operator live on the table, and which derived
    * structures a cascade will reach. Columns `(aspect, name, detail,
    * since_ms)`:
    *   - `lease`: the current holder (detail carries declared ttl +
    *     last-heartbeat instant; since_ms = acquisition);
    *   - `pending`: a journaled cascade awaiting drain (detail:
    *     commit-marker state, done/total targets, target list);
    *   - `abandoned`: a PARKED cascade — rebuild its listed targets,
    *     then [[acknowledgeAbandoned]];
    *   - `registered`: one row per registry target (indexes + views);
    *   - `last_drain`: when [[drainPendingCascades]] (or any cascade
    *     head, or [[Maintenance.maintain]]) last completed a recovery
    *     pass over this table — absent means never.
    * Driver-sized by construction: journal state, registry and lease are
    * all tiny tables/files. */
  def status(store: TableStore, table: String): DataFrame = {
    val sp = store.session
    import sp.implicits._
    val lease = store.leaseStatus(table, LeaseKind).map {
      case (h, ts, ttl, eff) =>
        ("lease", h, s"declared_ttl_ms=$ttl fresh_as_of_ms=$eff", ts)
    }.toSeq
    val st = pendingCascades(store, table).collect()
    val cascades = journalGroups(st).map { g =>
      val names = g.targets
        .map(r => r.getAs[String]("kind") + ":" +
          r.getAs[String]("index_name"))
        .sorted.mkString(",")
      (if (g.abandoned) "abandoned" else "pending", g.cascadeId,
        s"committed=${g.committed} done=${g.doneSeqs.size}/" +
          s"${g.targets.length} targets=$names",
        g.targets.headOption.map(_.getAs[Long]("created_ms"))
          .getOrElse(0L))
    }
    val regName = indexRegistryName(table)
    val registered =
      if (!store.exists(regName)) Nil
      else registeredIndexes(store, table).map { t =>
        val (kind, name, tc, nb) = encodeTarget(t)
        val extras = (if (tc.nonEmpty) s" text_col=$tc" else "") +
          (if (nb > 0) s" num_buckets=$nb" else "")
        ("registered", name, s"family=$kind$extras", 0L)
      }
    val lastDrain = store.readSidecarFile(table, LastDrainFile)
      .flatMap(_.trim.toLongOption)
      .map(ts => ("last_drain", "", "", ts)).toSeq
    (lease ++ cascades ++ registered ++ lastDrain)
      .toDF("aspect", "name", "detail", "since_ms")
      .orderBy("aspect", "name")
  }

  private def decodeTarget(r: org.apache.spark.sql.Row): IndexTarget =
    decodeTargetFields(r.getAs[String]("kind"),
      r.getAs[String]("index_name"), r.getAs[String]("text_col"),
      r.getAs[Int]("num_buckets"))

  /** Persist the capture (payload rows, then the state rows that make the
    * cascade discoverable — payload-first so a discoverable cascade
    * always has its full payload on disk). */
  private def journalWrite(store: TableStore, table: String, cid: String,
      doomed: DataFrame, idCol: String, partitionCol: String,
      values: Seq[String], indexes: Seq[IndexTarget]): Unit = {
    val payload = doomed.withColumn("__cascade_id", lit(cid))
    val sp = doomed.sparkSession
    import sp.implicits._
    val meta = indexes.zipWithIndex.map { case (t, i) =>
      val (kind, n, tc, nb) = encodeTarget(t)
      (cid, i, kind, n, tc, nb)
    }
    val state = meta
      .toDF("cascade_id", "seq", "kind", "index_name", "text_col",
        "num_buckets")
      .withColumn("id_col", lit(idCol))
      .withColumn("partition_col", lit(partitionCol))
      .withColumn("part_values",
        array(values.map(lit): _*).cast("array<string>"))
      .withColumn("created_ms", lit(System.currentTimeMillis()))
    // independent tables — overlap the two commits (§2.6). Crash windows:
    // payload-without-state was always possible (payload wrote first) and
    // is invisible-but-harmless until the next drain clears it;
    // state-without-payload (new with the overlap) decodes as a cascade
    // whose drop never committed with an EMPTY capture — the drain aborts
    // it cleanly (partition values still live) touching no index, which
    // is correct because the drop below never ran either.
    graft.ops.Overlap.par(Seq(
      () => store.append(journalName(table), payload),
      () => store.append(journalStateName(table), state)))
  }

  /** Append a `__commit__`/`__done__` progress marker (same schema as
    * target rows — the journal is append-only; no rewrite sits between
    * an index delete and its durability record). */
  private def appendMarker(store: TableStore, table: String, cid: String,
      kind: String, seq: Int): Unit = {
    val sp = store.session
    import sp.implicits._
    store.append(journalStateName(table),
      Seq((cid, seq, kind, "", "", 0))
        .toDF("cascade_id", "seq", "kind", "index_name", "text_col",
          "num_buckets")
        .withColumn("id_col", lit(""))
        .withColumn("partition_col", lit(""))
        .withColumn("part_values", array().cast("array<string>"))
        .withColumn("created_ms", lit(System.currentTimeMillis())))
  }

  /** Issue the index deletes for one cascade FROM THE JOURNALED payload,
    * marking each target `__done__` as its delete lands. Callers pass
    * only not-yet-done targets. */
  private def runTargets(store: TableStore, table: String, cid: String,
      idCol: String, targets: Seq[(IndexTarget, Int)]): Unit = {
    lazy val payload = store.scan(journalName(table))
      .where(col("__cascade_id") === cid)
    // targets touch DISJOINT index tables and each marks its own
    // completion — overlap them (§2.6). The drain's recovery contract is
    // per-target (replay exactly the not-yet-__done__ ones), so a crash
    // with an arbitrary subset landed recovers identically whether the
    // subset came from sequential or concurrent execution; within a
    // target the delete→marker order is preserved on its own thread.
    graft.ops.Overlap.par(targets.map(ti => () => runOneTarget(
      store, table, cid, idCol, ti._1, ti._2)))
  }

  private def runOneTarget(store: TableStore, table: String, cid: String,
      idCol: String, target: IndexTarget, idx: Int): Unit = {
    lazy val payload = store.scan(journalName(table))
      .where(col("__cascade_id") === cid)
    locally {
      val (t, i) = (target, idx)
      // tagged: the crash window between a delete completing and the
      // __done__ marker landing replays the target. A replayed vector
      // would erase a doc re-added to the index since, a replayed BM25
      // negation would double-negate; each table's tag proves its delete
      // landed, so the replay skips it
      val tag = s"rc.$cid.$i"
      t match {
        case NearDup(n, _) =>
          NearDupIndex.deleteFromNearDupIndex(store, n,
            payload.select(idCol), tag)
        case Positional(n, _) =>
          Retrieval.deleteFromPositionalIndex(store, n,
            payload.select(idCol), tag)
        case Ivf(n, _) =>
          VectorIndex.deleteFromIvfIndex(store, n, payload.select(idCol), tag)
        case Bm25(n, textCol, numBuckets) =>
          Retrieval.deleteFromBm25IndexTagged(store, n,
            payload.select(col(idCol), col(textCol)), textCol, idCol,
            numBuckets, tag)
        case View(n) =>
          // derived state follows the erasure: recompute the view from
          // the post-delete base (idempotent — safe to replay). A view
          // dropped since registration is skipped loudly rather than
          // wedging the journal: there is nothing left serving the
          // erased docs' aggregates. Unregister before dropping to keep
          // the registry honest.
          if (store.exists(n)) { new graft.table.MatView(store).refresh(n); () }
          else log.warn(s"cascade $cid: registered matview '$n' no " +
            "longer exists — skipping its refresh (unregisterIndex " +
            "before dropping a view)")
      }
      failpoint(s"target-pre-mark-$i")
      appendMarker(store, table, cid, DoneKind, i)
      failpoint(s"target-$i")
    }
  }

  /** Remove one cascade's journal rows. When the cascade owns every state
    * row (the normal single-operator case) both journal tables DROP — a
    * pure filesystem delete, no rewrite jobs; rows of a concurrent
    * cascade keep the tables alive and this one's rows rewrite out. */
  private def clearCascade(store: TableStore, table: String,
      cid: String): Unit = {
    val stName = journalStateName(table)
    if (!store.exists(stName)) return
    val others = store.scan(stName)
      .where(col("cascade_id") =!= cid).limit(1).count() > 0
    // payload before state, both branches: the state rows are the
    // cascade's discoverability root, so a crash between the two steps
    // leaves state-without-payload — which the drain recognizes as a
    // finished cascade mid-clear and just re-clears. The other order
    // would strand an invisible orphan payload (captured rows under an
    // erasure request) that no drain could ever see.
    clearPayload(store, table, cid)
    if (!others) store.drop(stName)
    else store.deleteWhere(stName, col("cascade_id") === cid)
  }

  /** Remove one cascade's PAYLOAD rows only (the captured doomed docs —
    * the erasure-sensitive half of the journal); the whole table drops
    * when no other cascade's payload shares it. */
  private def clearPayload(store: TableStore, table: String,
      cid: String): Unit = {
    val jName = journalName(table)
    if (!store.exists(jName)) return
    val others = store.scan(jName)
      .where(col("__cascade_id") =!= cid).limit(1).count() > 0
    if (!others) store.drop(jName)
    else store.deleteWhere(jName, col("__cascade_id") === cid)
  }
}
