package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Maintenance.maintain` is the one scheduled call: post-maintain, every
  * observable result is identical while the physical state is folded —
  * manifest down to one snapshot, Bloom sidecar refreshed, the index
  * tables' deletion vectors folded, pending cascade journals drained. */
class MaintenanceSpec extends SparkSpec {

  private def corpus(): DataFrame = {
    import spark.implicits._
    (0 until 90).map { i =>
      val date = f"2026-01-${i / 30 + 1}%02d"
      val words = (0 until 14).map(j => s"w${(i * 13 + j * 5) % 97}")
      (i.toLong, date, words.mkString(" "))
    }.toDF("doc_id", "date", "text")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  /** True iff none of `tables`' manifests holds a deletion vector. */
  private def noDv(s: graft.table.TableStore, tables: String*): Boolean =
    tables.forall(t => !s.manifestEntries(t).exists(_.startsWith("dv-")))

  test("maintain folds manifest, sidecars, and index tombstones; results unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_maint").toString
    val store = new graft.table.TableStore(spark, dir, gcGraceMs = 0L)
    val docs = corpus()
    // a partitioned table grown by appends, swept once, DV-deleted once
    store.overwritePartitioned("docs",
      docs.where(col("doc_id") % 2 === 0), Seq("date"))
    store.appendPartitioned("docs",
      docs.where(col("doc_id") % 2 === 1), Seq("date"))
    store.appendPartitioned("docs",
      docs.where(lit(false)), Seq("date"))
    store.dropPartitions("docs", "date", Seq("2026-01-01"))
    store.deleteByKeysDV("docs", Seq("doc_id"),
      docs.where(col("doc_id") % 13 === 5).select("doc_id"))
    // an index with pending tombstones
    NearDupIndex.buildNearDupIndex(store, "nd", docs, "text", "doc_id",
      numBuckets = 2)
    NearDupIndex.deleteFromNearDupIndex(store, "nd",
      docs.where(col("doc_id") < 30).select("doc_id"), tag = "t1")
    val batch = docs.where(col("doc_id").isin(35L, 65L))
      .select((col("doc_id") + 1000L).as("doc_id"),
        concat(col("text"), lit(" edited")).as("text"))
    def probe() = NearDupIndex.nearDupAgainstIndex(store, "nd", batch,
      "text", "doc_id", threshold = 0.5, materialize = false)
    val beforeScan = rows(store.scan("docs"))
    val beforeProbe = rows(probe())
    assert(store.manifestEntries("docs").size > 1)

    Maintenance.maintain(store, "docs",
      indexes = Seq(Retention.NearDup("nd", numBuckets = 2)),
      maxSnapshots = 0)

    // physical state folded…
    assert(store.manifestEntries("docs") .size == 1,
      store.manifestEntries("docs").mkString(","))
    assert(store.tableLayout("docs") == Seq("date"),
      "the fold must preserve the hive layout")
    assert(noDv(store, "nd_bands", "nd_docs"),
      "index compaction must fold the deletion vectors")
    // …results identical
    assert(rows(store.scan("docs")) == beforeScan)
    assert(rows(probe()) == beforeProbe)
    // the folded files' footers prune a key range, exactly
    val pruned = store.scanPruned("docs", "doc_id", 10L, 40L)
    assert(rows(pruned) == rows(store.scan("docs").where(col("doc_id").between(10L, 40L))))
    assert(pruned.inputFiles.length < store.scan("docs").inputFiles.length)
    // retention keeps its O(metadata) contract after the fold
    assert(store.expirePartitionsBelow("docs", "date", "2026-01-03"))
    assert(store.partitionValues("docs", "date") == Seq("2026-01-03"))
  }

  test("maintain refuses to flatten a MIXED-layout manifest") {
    val dir = java.nio.file.Files.createTempDirectory("graft_maintmx")
      .toString
    val store = new graft.table.TableStore(spark, dir, gcGraceMs = 0L)
    val docs = corpus()
    store.overwritePartitioned("docs",
      docs.where(col("doc_id") % 2 === 0), Seq("date"))
    // a stray writer appends a FLAT snapshot: the manifest is now mixed
    store.append("docs", docs.where(col("doc_id") % 2 === 1))
    assert(store.tableLayout("docs").isEmpty &&
      store.entryLayouts("docs").exists(_.nonEmpty), "fixture is mixed")
    val entries = store.manifestEntries("docs")
    val before = rows(store.scan("docs"))
    Maintenance.maintain(store, "docs", maxSnapshots = 0)
    // the fold was SKIPPED (folding would flatten the partitioned chain
    // and hard-error every later partition-retention sweep); everything
    // else still ran and results are unchanged
    assert(store.manifestEntries("docs") == entries,
      "a mixed manifest must not be silently re-laid-out by maintain")
    assert(rows(store.scan("docs")) == before)
    // an all-flat table still folds through compact()
    store.overwrite("flat", docs)
    store.append("flat", docs.where(lit(false)))
    Maintenance.maintain(store, "flat", maxSnapshots = 0)
    assert(store.manifestEntries("flat").size == 1)
  }

  test("maintain with indexes = Nil compacts the registered families") {
    val dir = java.nio.file.Files.createTempDirectory("graft_maintreg")
      .toString
    val store = new graft.table.TableStore(spark, dir, gcGraceMs = 0L)
    val docs = corpus()
    store.overwritePartitioned("docs", docs, Seq("date"))
    NearDupIndex.buildNearDupIndex(store, "nd", docs, "text", "doc_id",
      numBuckets = 2)
    NearDupIndex.deleteFromNearDupIndex(store, "nd",
      docs.where(col("doc_id") < 30).select("doc_id"), tag = "t1")
    Retention.registerIndex(store, "docs", Retention.NearDup("nd", 2))
    Maintenance.maintain(store, "docs", maxSnapshots = 0)
    assert(noDv(store, "nd_bands", "nd_docs"),
      "the registered family must be physically compacted without the " +
        "caller re-listing it")
    assert(store.scan("nd_docs").agg(min(col("doc_id"))).head.getLong(0)
      >= 30L)
  }

  test("maintain holds the retention lease for its whole pass") {
    val dir = java.nio.file.Files.createTempDirectory("graft_maintls")
      .toString
    val store = new graft.table.TableStore(spark, dir, gcGraceMs = 0L)
    store.overwritePartitioned("docs", corpus(), Seq("date"))
    // while another retention operator holds the table, maintain must
    // abort BEFORE folding or compacting anything (an unleased index
    // compaction could fold a mid-negation cascade's replay tags away)
    assert(store.tryAcquireLease("docs", "retention", "other-op",
      ttlMs = 600000))
    val e = intercept[IllegalStateException] {
      Maintenance.maintain(store, "docs", maxSnapshots = 0)
    }
    assert(e.getMessage.contains("retention lease"))
    store.releaseLease("docs", "retention", "other-op")
    Maintenance.maintain(store, "docs", maxSnapshots = 0) // now proceeds
    assert(store.manifestEntries("docs").size == 1)
  }

  test("maintain drains a crashed cascade before touching anything") {
    val dir = java.nio.file.Files.createTempDirectory("graft_maintdr").toString
    val s0 = new graft.table.TableStore(spark, dir)
    val docs = corpus()
    s0.overwritePartitioned("docs", docs, Seq("date"))
    NearDupIndex.buildNearDupIndex(s0, "nd", docs, "text", "doc_id",
      numBuckets = 2)
    Retention.failpoint = l =>
      if (l == "committed-mark") throw new RuntimeException("simulated")
    try intercept[RuntimeException] {
      Retention.expirePartitionsBelowCascade(s0, "docs", "date",
        cutoff = "2026-01-02", idCol = "doc_id",
        indexes = Seq(Retention.NearDup("nd", numBuckets = 2)))
    } finally Retention.failpoint = _ => ()
    val s1 = new graft.table.TableStore(spark, dir) // "new process"
    Maintenance.maintain(s1, "docs",
      indexes = Seq(Retention.NearDup("nd", numBuckets = 2)),
      maxSnapshots = 0)
    // the journaled deletes landed AND the compaction step physically
    // removed the dropped docs' band rows in the same pass
    assert(!s1.exists(Retention.journalStateName("docs")) ||
      s1.scan(Retention.journalStateName("docs")).isEmpty)
    assert(noDv(s1, "nd_bands", "nd_docs"))
    assert(s1.scan("nd_docs").agg(min(col("doc_id"))).head.getLong(0) >= 30L,
      "dropped docs' rows must be physically gone from the index")
  }
}
