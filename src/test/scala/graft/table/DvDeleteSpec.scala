package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Deletion-vector deletes: O(deleted) takedown commits whose every read
  * is indistinguishable from the O(table) rewrite path — same rows, same
  * time travel, same change feed, same pruned scans — until compact folds
  * the vectors into a real rewrite. */
class DvDeleteSpec extends SparkSpec {

  private def newStoreAt(retain: Int = 1): (TableStore, String) = {
    val dir = Files.createTempDirectory("graft_dv").toString
    // single-process spec asserting immediate GC: grace opt-out
    (new TableStore(spark, dir, retainVersions = retain, gcGraceMs = 0L), dir)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toIndexedSeq).toIndexedSeq
      .sortBy(_.mkString("|"))

  private def base = spark.range(1, 101)
    .selectExpr("id AS k", "CAST(id * 10 AS DOUBLE) AS v")

  test("DV delete == rewrite delete == untouched minus rows") {
    val (dvStore, _) = newStoreAt()
    val (rwStore, _) = newStoreAt()
    val doomed = spark.range(1, 101).where(col("id") % 3 === 0)
      .selectExpr("id AS k", "'ignored' AS extra") // extra cols ignored
    dvStore.overwrite("t", base)
    rwStore.overwrite("t", base)
    dvStore.deleteByKeysDV("t", Seq("k"), doomed)
    rwStore.deleteByKeys("t", Seq("k"), doomed)
    val expect = rows(base.where(!(col("k") % 3 === 0)))
    assert(rows(dvStore.scan("t")) == expect)
    assert(rows(rwStore.scan("t")) == rows(dvStore.scan("t")))
    assert(dvStore.scan("t").schema == rwStore.scan("t").schema)
  }

  test("commit is O(deleted): data files untouched, manifest gains a dv entry") {
    val (store, dir) = newStoreAt()
    store.overwrite("t", base)
    def dataFiles = {
      val d = java.nio.file.Paths.get(dir, "t")
      java.nio.file.Files.list(d).iterator()
    }
    val snapDirsBefore = {
      import scala.jdk.CollectionConverters._
      dataFiles.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("snap-")).toSet
    }
    val filesBefore = store.scan("t").inputFiles.toSet
    store.deleteByKeysDV("t", Seq("k"),
      spark.range(1, 11).selectExpr("id AS k"))
    import scala.jdk.CollectionConverters._
    val entriesAfter = dataFiles.asScala.map(_.getFileName.toString).toSet
    assert(snapDirsBefore.subsetOf(entriesAfter),
      "no data snapshot may be rewritten or dropped by a DV delete")
    assert(entriesAfter.exists(_.startsWith("dv-")), "dv dir must exist")
    // the surviving scan reads literally the same physical data files
    assert(filesBefore.subsetOf(store.scan("t").inputFiles.toSet),
      "original files unchanged and still read")
    assert(store.scan("t").count() == 90)
  }

  test("replay order: a key re-appended after its DV is live; a later DV kills it again") {
    val (store, _) = newStoreAt()
    store.overwrite("t", base)
    store.deleteByKeysDV("t", Seq("k"), spark.range(5, 8).selectExpr("id AS k"))
    assert(store.scan("t").where(col("k").between(5, 7)).count() == 0)
    store.append("t", spark.range(6, 7)
      .selectExpr("id AS k", "CAST(999 AS DOUBLE) AS v"))
    val revived = store.scan("t").where(col("k") === 6).collect()
    assert(revived.length == 1 && revived.head.getDouble(1) == 999.0,
      "re-append after a DV must survive the earlier vector")
    store.deleteByKeysDV("t", Seq("k"), spark.range(6, 7).selectExpr("id AS k"))
    assert(store.scan("t").where(col("k") === 6).count() == 0,
      "a later DV deletes the re-appended row")
    assert(store.scan("t").count() == 100 - 3)
  }

  test("time travel and diffVersions see DV deletes; compact folds them away") {
    val (store, _) = newStoreAt(retain = 8)
    store.overwrite("t", base) // v1
    store.deleteByKeysDV("t", Seq("k"),
      spark.range(1, 21).selectExpr("id AS k")) // v2
    val vs = store.versions("t")
    assert(store.scanAsOf("t", vs.head).count() == 100, "pre-delete version intact")
    assert(store.scanAsOf("t", vs.last).count() == 80)
    val feed = store.diffVersions("t", vs.head, vs.last, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(feed.length == 20 && feed.forall(_._2 == "delete"))
    assert(feed.map(_._1).toSeq == (1L to 20L))

    val before = rows(store.scan("t"))
    store.compact("t", maxSnapshots = 0) // force the fold
    val manifest = store.scan("t").inputFiles
    assert(rows(store.scan("t")) == before, "compact must not change content")
    assert(store.scan("t").queryExecution.optimizedPlan.toString != null)
    // post-compact the live manifest holds a single data snapshot, no dv
    val (snaps, dvs) = storeManifest(store, "t")
    assert(snaps.size == 1 && dvs.isEmpty,
      s"compact must fold DVs: snaps=$snaps dvs=$dvs; files=${manifest.length}")
  }

  private def storeManifest(store: TableStore, name: String): (Seq[String], Seq[String]) = {
    val entries = store.readManifest(name)
    (entries.filterNot(_.startsWith("dv-")), entries.filter(_.startsWith("dv-")))
  }

  test("zone-map file skipping composes with DVs (result stays exact)") {
    val (store, _) = newStoreAt()
    store.overwriteClustered("t", base, Seq("k"), numFiles = Some(5))
    store.deleteByKeysDV("t", Seq("k"),
      spark.range(30, 41).selectExpr("id AS k"))
    val got = rows(store.scanPruned("t", "k", 25, 50))
    val want = rows(base.where(col("k").between(25, 50) &&
      !col("k").between(30, 40)))
    assert(got == want)
  }

  test("null key components never match a DV entry") {
    val (store, _) = newStoreAt()
    val withNull = spark.range(1, 6).selectExpr(
      "CASE WHEN id = 3 THEN NULL ELSE id END AS k",
      "CAST(id AS DOUBLE) AS v")
    store.overwrite("t", withNull)
    store.deleteByKeysDV("t", Seq("k"), withNull) // deletes every non-null key
    val left = store.scan("t").collect()
    assert(left.length == 1 && left.head.isNullAt(0),
      "the null-keyed row must survive (SQL equality semantics)")
  }

  test("schema evolution: snapshots missing the key column keep their rows") {
    val (store, _) = newStoreAt()
    store.overwrite("t", spark.range(1, 4).selectExpr("id AS a"))
    store.append("t", spark.range(10, 13)
      .selectExpr("id AS a", "id * 2 AS k")) // k added by evolution
    store.deleteByKeysDV("t", Seq("k"), spark.range(20, 23).selectExpr("id AS k"))
    // first snapshot's rows read k = null -> never match -> all kept;
    // second snapshot loses k = 20 and 22
    assert(store.scan("t").count() == 3 + 1)
  }

  private def leftAntiJoins(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }

  /** Join count on the ANALYZED plan: pins how many anti-joins the replay
    * CONSTRUCTED (the coalescing contract), not how many the optimizer
    * chooses to keep — LeftAnti pushdown through Union legally duplicates
    * a join into union branches. */
  private def constructedAntiJoins(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }.size

  test("bulk DV past the broadcast threshold plans a non-broadcast anti-join, same rows") {
    val (store, _) = newStoreAt()
    val big = spark.range(1, 20001)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.overwrite("t", big)
    // ~10k keys → dv parquet far above a 1 KB threshold
    store.deleteByKeysDV("t", Seq("k"),
      spark.range(1, 10001).selectExpr("id AS k"))
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      val scanned = store.scan("t")
      val joins = leftAntiJoins(scanned)
      assert(joins.nonEmpty, "DV replay must produce an anti-join")
      assert(joins.forall(j => j.hint.rightHint.forall(_.strategy.isEmpty)),
        s"a DV past the threshold must NOT force a broadcast: ${joins.map(_.hint)}")
      assert(scanned.count() == 10000)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
      // routine takedown (under threshold) keeps the broadcast guarantee
      val hinted = leftAntiJoins(store.scan("t"))
      assert(hinted.exists(_.hint.rightHint.exists(_.strategy.isDefined)),
        "a dimension-sized DV must still broadcast (no table shuffle)")
      assert(rows(store.scan("t")) == rows(big.where(col("k") > 10000)))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
  }

  test("consecutive same-key DVs coalesce into ONE anti-join == rewrite result") {
    val (dvStore, _) = newStoreAt()
    val (rwStore, _) = newStoreAt()
    dvStore.overwrite("t", base)
    rwStore.overwrite("t", base)
    for (lo <- Seq(1, 21, 41)) { // three takedown batches, no append between
      dvStore.deleteByKeysDV("t", Seq("k"),
        spark.range(lo, lo + 10).selectExpr("id AS k"))
      rwStore.deleteByKeys("t", Seq("k"),
        spark.range(lo, lo + 10).selectExpr("id AS k"))
    }
    val scanned = dvStore.scan("t")
    assert(constructedAntiJoins(scanned) == 1,
      "three consecutive vectors must coalesce into one anti-join")
    assert(rows(scanned) == rows(rwStore.scan("t")))
    assert(scanned.count() == 70)
  }

  test("coalescing normalizes key-column order; a data snapshot is a barrier") {
    val (store, _) = newStoreAt()
    val two = spark.range(1, 51)
      .selectExpr("id AS a", "id * 2 AS b", "CAST(id AS DOUBLE) AS v")
    store.overwrite("t", two)
    // same key SET, opposite column order → still one join
    store.deleteByKeysDV("t", Seq("a", "b"),
      spark.range(1, 6).selectExpr("id AS a", "id * 2 AS b"))
    store.deleteByKeysDV("t", Seq("b", "a"),
      spark.range(10, 16).selectExpr("id * 2 AS b", "id AS a"))
    assert(constructedAntiJoins(store.scan("t")) == 1,
      "same key set in different column order must merge")
    assert(store.scan("t").count() == 50 - 5 - 6)
    // an append between vectors is a replay barrier: 2 joins, revive intact
    store.append("t", spark.range(3, 4)
      .selectExpr("id AS a", "id * 2 AS b", "CAST(999 AS DOUBLE) AS v"))
    store.deleteByKeysDV("t", Seq("a", "b"),
      spark.range(20, 23).selectExpr("id AS a", "id * 2 AS b"))
    assert(constructedAntiJoins(store.scan("t")) == 2,
      "vectors across a data snapshot must NOT merge")
    assert(store.scan("t").where(col("a") === 3).count() == 1,
      "re-appended row must survive the earlier coalesced vectors")
    assert(store.scan("t").count() == 50 - 5 - 6 + 1 - 3)
  }

  test("empty takedown batch commits nothing (no manifest entry, no scan join)") {
    val (store, _) = newStoreAt()
    store.overwrite("t", base)
    val before = store.readManifest("t")
    store.deleteByKeysDV("t", Seq("k"), base.where(lit(false)).select("k"))
    assert(!store.deleteByKeysDVTagged("t", Seq("k"),
      base.where(lit(false)).select("k"), "empty.batch"))
    assert(store.readManifest("t") == before,
      "a zero-row vector must not grow the manifest")
    assert(constructedAntiJoins(store.scan("t")) == 0)
    assert(store.scan("t").count() == 100)
  }

  test("GC reaps dv dirs once unreferenced") {
    val (store, dir) = newStoreAt()
    store.overwrite("t", base)
    store.deleteByKeysDV("t", Seq("k"), spark.range(1, 3).selectExpr("id AS k"))
    import scala.jdk.CollectionConverters._
    def dvDirs = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "t"))
      .iterator().asScala.map(_.getFileName.toString)
      .count(_.startsWith("dv-"))
    assert(dvDirs == 1)
    store.overwrite("t", base) // drops the DV from every retained pointer
    graft.table.TableStore.awaitReap() // async reclamation since r14
    assert(dvDirs == 0, "unreferenced dv dir must GC on the next commit")
  }
}
