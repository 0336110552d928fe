package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Hive-partitioned snapshots: directory-level pruning composes with the
  * store's replay semantics — appends, deletion vectors, time travel,
  * footer file skipping, and compact all behave exactly as on flat
  * snapshots; the only new physics is `PartitionFilters` at the scan. */
class PartitionedTableSpec extends SparkSpec {

  private def newStoreAt(retain: Int = 1): (TableStore, String) = {
    val dir = Files.createTempDirectory("graft_hp").toString
    (new TableStore(spark, dir, retainVersions = retain, gcGraceMs = 0L), dir)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toIndexedSeq).toIndexedSeq
      .sortBy(_.mkString("|"))

  private def base = spark.range(1, 101).selectExpr(
    "id AS k",
    "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'de' ELSE 'fr' END AS lang",
    "CAST(id * 10 AS DOUBLE) AS v")

  test("partitioned overwrite round-trips; partition predicate reaches PartitionFilters") {
    val (store, dir) = newStoreAt()
    store.overwritePartitioned("t", base, Seq("lang"))
    // hive layout on disk: snap dir contains lang=… subdirectories
    import scala.jdk.CollectionConverters._
    val snapDir = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "t"))
      .iterator().asScala.find(_.getFileName.toString.startsWith("snap-")).get
    val parts = java.nio.file.Files.list(snapDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("lang=")).toSet
    assert(parts == Set("lang=en", "lang=de", "lang=fr"), parts)
    // same rows (column ORDER moves partition cols last — compare by name)
    val scanned = store.scan("t").select("k", "lang", "v")
    assert(rows(scanned) == rows(base))
    // the predicate must prune at DIRECTORY level, not just row groups
    val pruned = store.scan("t").where(col("lang") === "en")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang") ||
      plan.contains("PartitionFilters: [(lang"),
      s"partition predicate must reach PartitionFilters:\n$plan")
    assert(pruned.count() == base.where(col("lang") === "en").count())
    // and the pruned scan must only touch the matching directory's files
    assert(pruned.queryExecution.executedPlan.collectLeaves()
      .forall(_.toString.nonEmpty)) // plan materializes
  }

  test("partitioned append: O(batch) snapshot, evolution, per-snapshot pruning") {
    val (store, _) = newStoreAt()
    store.overwritePartitioned("t", base, Seq("lang"))
    val more = spark.range(200, 221).selectExpr(
      "id AS k", "'zh' AS lang", "CAST(id AS DOUBLE) AS v", "id * 2 AS extra")
    store.appendPartitioned("t", more, Seq("lang"))
    assert(store.scan("t").count() == 100 + 21)
    // evolution: old rows read extra = null
    assert(store.scan("t").where(col("extra").isNotNull).count() == 21)
    assert(store.scan("t").where(col("lang") === "zh").count() == 21)
    // plain append onto a partitioned table also composes
    store.append("t", spark.range(300, 303).selectExpr(
      "id AS k", "'en' AS lang", "CAST(id AS DOUBLE) AS v"))
    assert(store.scan("t").where(col("lang") === "en").count() ==
      base.where(col("lang") === "en").count() + 3)
  }

  test("deletion vectors, time travel and diffVersions compose with partitions") {
    val (store, _) = newStoreAt(retain = 4)
    store.overwritePartitioned("t", base, Seq("lang")) // v1
    store.deleteByKeysDV("t", Seq("k"),
      spark.range(1, 31).selectExpr("id AS k")) // v2
    assert(store.scan("t").count() == 70)
    assert(store.scan("t").where(col("lang") === "en" && col("k") <= 30)
      .count() == 0)
    val vs = store.versions("t")
    assert(store.scanAsOf("t", vs.head).count() == 100)
    val feed = store.diffVersions("t", vs.head, vs.last, Seq("k"))
    assert(feed.where(col("op") === "delete").count() == 30)
  }

  test("zone-map pruned file reads keep partition columns (basePath anchor)") {
    val (store, _) = newStoreAt()
    store.overwritePartitioned("t", base, Seq("lang"))
    val got = store.scanPruned("t", "k", 10L, 40L).select("k", "lang", "v")
    assert(rows(got) == rows(base.where(col("k").between(10, 40))),
      "pruned per-file reads must recover partition-directory columns")
  }

  test("compact folds a partitioned chain; re-layout restores partitioning") {
    val (store, dir) = newStoreAt()
    store.overwritePartitioned("t", base, Seq("lang"))
    store.appendPartitioned("t",
      spark.range(101, 111).selectExpr("id AS k", "'en' AS lang",
        "CAST(id AS DOUBLE) AS v"), Seq("lang"))
    val before = rows(store.scan("t").select("k", "lang", "v"))
    store.compact("t", maxSnapshots = 0)
    assert(rows(store.scan("t").select("k", "lang", "v")) == before)
    // maintenance re-layout: partitioned rewrite of the compacted state
    store.overwritePartitioned("t", store.scan("t"), Seq("lang"))
    assert(rows(store.scan("t").select("k", "lang", "v")) == before)
    val plan = store.scan("t").where(col("lang") === "de")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang") ||
      plan.contains("PartitionFilters: [(lang"), plan)
  }

  test("dropPartitions: O(metadata) drop == filtered read; data files untouched") {
    val (store, dir) = newStoreAt()
    store.overwritePartitioned("t", base, Seq("lang"))
    store.appendPartitioned("t",
      spark.range(101, 121).selectExpr("id AS k", "'zh' AS lang",
        "CAST(id AS DOUBLE) AS v"), Seq("lang"))
    import scala.jdk.CollectionConverters._
    def allFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "t"))
      .iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
    val zhFiles = allFiles.filter(_.contains("lang=zh"))
    val survivorFiles = allFiles -- zhFiles
    assert(store.dropPartitions("t", "lang", Seq("fr", "zh")))
    graft.table.TableStore.awaitReap() // async reclamation since r14
    // surviving snapshots' files (incl. the dropped-but-co-resident
    // lang=fr dirs) are untouched; the zh snapshot lost its EVERY
    // partition, so its entry left the manifest and the dir GC'd like
    // any unreferenced snapshot (retain=1, grace=0) — immediate byte
    // reclaim is the correct outcome there
    assert(survivorFiles.subsetOf(allFiles),
      "a partition drop must not touch surviving snapshots' data files")
    assert(rows(store.scan("t").select("k", "lang", "v")) ==
      rows(base.where(col("lang") =!= "fr")))
    // the manifest now holds subset entries — include (`/lang=`) or
    // exclusion (`/!lang=`) form, whichever rendered smaller
    assert(store.readManifest("t").exists(_.contains("lang=")))
    // idempotent re-drop: nothing left to do
    assert(!store.dropPartitions("t", "lang", Seq("zh")))
    // second drop on the same column (subset entries match by own value)
    assert(store.dropPartitions("t", "lang", Seq("de")))
    assert(rows(store.scan("t").select("k", "lang", "v")) ==
      rows(base.where(col("lang") === "en")))
  }

  test("dropPartitions composes with DVs, time travel, and compact reclaims") {
    val (store, dir) = newStoreAt(retain = 4)
    store.overwritePartitioned("t", base, Seq("lang")) // v1
    store.deleteByKeysDV("t", Seq("k"),
      spark.range(1, 11).selectExpr("id AS k")) // v2
    assert(store.dropPartitions("t", "lang", Seq("fr"))) // v3
    val expect = base.where(col("lang") =!= "fr" && !col("k").between(1, 10))
    assert(rows(store.scan("t").select("k", "lang", "v")) == rows(expect))
    // time travel: the pre-drop version still holds fr rows
    val vs = store.versions("t")
    assert(store.scanAsOf("t", vs.head).count() == 100)
    assert(store.scanAsOf("t", vs(1)).where(col("lang") === "fr").count() > 0)
    // compact folds subset entries AND the DV into one plain snapshot
    store.compact("t", maxSnapshots = 0)
    assert(rows(store.scan("t").select("k", "lang", "v")) == rows(expect))
    assert(store.readManifest("t").sizeIs == 1)
  }

  test("dropped partition bytes reclaim at compact + GC (retain=1)") {
    val (store, dir) = newStoreAt() // retain=1, gcGraceMs=0
    store.overwritePartitioned("t", base, Seq("lang"))
    assert(store.dropPartitions("t", "lang", Seq("fr")))
    import scala.jdk.CollectionConverters._
    def frDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "t"))
      .iterator().asScala.count(_.getFileName.toString == "lang=fr")
    assert(frDirs == 1, "before compact the bytes are invisible but on disk")
    store.compact("t", maxSnapshots = 0) // folds subsets; old snap dir GCs
    graft.table.TableStore.awaitReap() // async reclamation since r14
    assert(frDirs == 0,
      "dropped partition bytes must reclaim once compact retires the snapshot")
    assert(rows(store.scan("t").select("k", "lang", "v")) ==
      rows(base.where(col("lang") =!= "fr")))
  }

  test("dropPartitions contract: unpartitioned snapshot and full wipe refused") {
    val (store, _) = newStoreAt()
    store.overwritePartitioned("t", base, Seq("lang"))
    store.append("t", spark.range(500, 505).selectExpr(
      "id AS k", "'en' AS lang", "CAST(id AS DOUBLE) AS v")) // flat snapshot
    intercept[IllegalArgumentException](
      store.dropPartitions("t", "lang", Seq("fr")))
    val (p, _) = newStoreAt()
    p.overwritePartitioned("t", base, Seq("lang"))
    intercept[IllegalArgumentException](
      p.dropPartitions("t", "lang", Seq("en", "de", "fr")))
  }

  test("a snapshot holding none of the doomed values keeps its single entry") {
    val (store, _) = newStoreAt()
    store.overwritePartitioned("t",
      base.where(col("lang") =!= "fr"), Seq("lang"))        // en + de only
    store.appendPartitioned("t",
      spark.range(200, 210).selectExpr("id AS k", "'fr' AS lang",
        "CAST(id AS DOUBLE) AS v"), Seq("lang"))            // fr only
    assert(store.dropPartitions("t", "lang", Seq("fr")))
    val entries = store.readManifest("t")
    // the en/de snapshot must NOT expand into per-partition references
    assert(entries.sizeIs == 1 && !entries.head.contains("/"),
      s"untouched snapshot must keep one plain entry: $entries")
    assert(store.scan("t").count() == base.where(col("lang") =!= "fr").count())
  }

  test("multi-level partitions: drop the leading column, then descend into the second") {
    val (store, _) = newStoreAt()
    val two = spark.range(1, 101).selectExpr(
      "id AS k",
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang",
      "CASE WHEN id % 5 = 0 THEN 'web' ELSE 'books' END AS source",
      "CAST(id AS DOUBLE) AS v")
    store.overwritePartitioned("t", two, Seq("lang", "source"))
    // dropping the SECOND column while the first is intact is refused
    // (leading-column contract — no silent partial drop)
    intercept[IllegalArgumentException](
      store.dropPartitions("t", "source", Seq("web")))
    // leading drop produces lang= subset entries…
    assert(store.dropPartitions("t", "lang", Seq("de")))
    assert(store.scan("t").count() == 50)
    // …whose children are source= dirs, so the second level now drops
    assert(store.dropPartitions("t", "source", Seq("web")))
    assert(rows(store.scan("t").select("k", "lang", "source", "v")) ==
      rows(two.where(col("lang") === "en" && col("source") === "books")))
    assert(store.partitionValues("t", "source") == Seq("books"))
  }

  test("partition drop on main composes with a zero-copy branch and 3-way merge") {
    val (store, _) = newStoreAt()
    store.overwritePartitioned("t", base, Seq("lang"))
    store.createBranch("t", "b")
    // branch edits rows in a SURVIVING partition; main drops another
    store.appendBranch("t", "b", spark.range(500, 505).selectExpr(
      "id AS k", "'en' AS lang", "CAST(id AS DOUBLE) AS v"))
    assert(store.dropPartitions("t", "lang", Seq("fr")))
    // the branch still reads its full pre-drop state (zero-copy fork)
    assert(store.scanBranch("t", "b").count() == 100 + 5)
    val conflicts = store.mergeBranch("t", "b", Seq("k"))
    assert(conflicts.isEmpty, "disjoint changes must merge cleanly")
    // merged main = post-drop state + the branch's inserts; fr stays gone
    assert(store.scan("t").where(col("lang") === "fr").count() == 0)
    assert(store.scan("t").where(col("k") >= 500).count() == 5)
    // the merge commit preserved the hive layout: retention still works
    assert(store.partitionValues("t", "lang").toSet == Set("en", "de"),
      "mergeBranch silently flattened the partitioned layout")
    assert(store.dropPartitions("t", "lang", Seq("de")))
    assert(store.scan("t").where(col("lang") === "de").count() == 0)
  }

  test("exclusion entries: many-partition drop stays ONE manifest entry + ONE pruned scan") {
    val (store, _) = newStoreAt()
    // 40 partitions in one snapshot — the compacted-corpus shape
    val wide = spark.range(0, 400).selectExpr(
      "id AS k", "CONCAT('d', LPAD(CAST(id % 40 AS STRING), 2, '0')) AS day",
      "CAST(id AS DOUBLE) AS v")
    store.overwritePartitioned("t", wide, Seq("day"))
    // drop 5 of 40: kept(35) > dead(5) → exclusion form, not 35 entries
    val dropped = Seq("d03", "d07", "d11", "d23", "d36")
    assert(store.dropPartitions("t", "day", dropped))
    val entries = store.readManifest("t")
    assert(entries.sizeIs == 1 && entries.head.contains("/!day="),
      s"5-of-40 drop must render as one exclusion entry: $entries")
    assert(rows(store.scan("t").select("k", "day", "v")) ==
      rows(wide.where(!col("day").isin(dropped: _*))))
    // the dropped values must prune at DIRECTORY level (PartitionFilters),
    // keeping the scan a single relation
    val qe = store.scan("t").queryExecution
    assert(qe.executedPlan.toString.contains("PartitionFilters:"),
      s"exclusion filter must reach PartitionFilters:\n${qe.executedPlan}")
    assert(!qe.optimizedPlan.toString.toLowerCase.contains("union"),
      "an exclusion-entry scan must not fragment into a union")
    // partitionValues sees through the exclusion
    assert(store.partitionValues("t", "day").sizeIs == 35)
    assert(!store.partitionValues("t", "day").exists(dropped.contains))
    // a second sweep MERGES into the same single entry
    assert(store.dropPartitions("t", "day", Seq("d00", "d01")))
    val entries2 = store.readManifest("t")
    assert(entries2.sizeIs == 1 && entries2.head.contains("/!day=d00"),
      s"repeated sweeps must fold into one exclusion entry: $entries2")
    assert(store.scan("t").count() == wide.where(
      !col("day").isin((dropped ++ Seq("d00", "d01")): _*)).count())
    // idempotent re-drop of already-excluded values: no commit
    assert(!store.dropPartitions("t", "day", Seq("d03", "d00")))
    // flipping sides: drop almost everything → folds back to include form
    val keep = Seq("d05", "d06")
    val killRest = (0 until 40).map(i => f"d$i%02d").filterNot(keep.contains)
    assert(store.dropPartitions("t", "day", killRest))
    val entries3 = store.readManifest("t")
    assert(entries3.sizeIs == 2 && entries3.forall(_.contains("/day=")),
      s"2 survivors must render as include entries: $entries3")
    assert(rows(store.scan("t").select("k", "day", "v")) ==
      rows(wide.where(col("day").isin(keep: _*))))
  }

  test("exclusion entries compose with DVs, time travel, zone maps and compact") {
    val (store, _) = newStoreAt(retain = 4)
    val wide = spark.range(0, 300).selectExpr(
      "id AS k", "CONCAT('d', CAST(id % 10 AS STRING)) AS day",
      "CAST(id AS DOUBLE) AS v")
    store.overwritePartitioned("t", wide, Seq("day")) // v1
    store.deleteByKeysDV("t", Seq("k"),
      spark.range(0, 30).selectExpr("id AS k")) // v2
    assert(store.dropPartitions("t", "day", Seq("d1", "d2"))) // v3: excl form
    assert(store.readManifest("t").exists(_.contains("/!day=")))
    val expect = wide.where(!col("day").isin("d1", "d2") && col("k") >= 30)
    assert(rows(store.scan("t").select("k", "day", "v")) == rows(expect))
    // time travel: pre-drop version still whole
    val vs = store.versions("t")
    assert(store.scanAsOf("t", vs.head).count() == 300)
    // pruned reads respect the exclusion (file skipping + filter)
    assert(rows(store.scanPruned("t", "k", 0L, 400L).select("k", "day", "v"))
      == rows(expect))
    // retention cascade entry point: expire below a cutoff over excl form
    assert(store.expirePartitionsBelow("t", "day", "d4"))
    assert(store.scan("t").where(col("day") < "d4").count() == 0)
    // compact folds the exclusion away into one plain snapshot
    store.compact("t", maxSnapshots = 0)
    assert(store.readManifest("t").sizeIs == 1)
    assert(rows(store.scan("t").select("k", "day", "v")) ==
      rows(expect.where(col("day") >= "d4")))
  }

  test("exclusion entry at the second partition level (include-prefixed)") {
    val (store, _) = newStoreAt()
    val two = spark.range(0, 200).selectExpr(
      "id AS k", "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang",
      "CONCAT('s', CAST(id % 9 AS STRING)) AS source",
      "CAST(id AS DOUBLE) AS v")
    store.overwritePartitioned("t", two, Seq("lang", "source"))
    assert(store.dropPartitions("t", "lang", Seq("de")))   // include: lang=en
    assert(store.dropPartitions("t", "source", Seq("s3", "s4"))) // excl at L2
    val entries = store.readManifest("t")
    assert(entries.sizeIs == 1 &&
      entries.head.contains("/lang=en/!source="), entries.toString)
    assert(rows(store.scan("t").select("k", "lang", "source", "v")) ==
      rows(two.where(col("lang") === "en" && !col("source").isin("s3", "s4"))))
    // a third level does not exist → strict contract error, not silence
    intercept[IllegalArgumentException](
      store.dropPartitions("t", "nope", Seq("x")))
    // partitionValues at the open level sees through the exclusion
    assert(store.partitionValues("t", "source") ==
      (0 until 9).map(i => s"s$i").filterNot(Seq("s3", "s4").contains))
    // the INCLUDE-pinned level still answers through the exclusion form:
    // lang is fixed to en by the entry's own path, so a later lang sweep
    // must match it directly, not error on the source exclusion
    assert(store.partitionValues("t", "lang") == Seq("en"))
    assert(!store.dropPartitions("t", "lang", Seq("zz")))
    store.appendPartitioned("t",
      spark.range(500, 510).selectExpr("id AS k", "'zh' AS lang",
        "'s0' AS source", "CAST(id AS DOUBLE) AS v"), Seq("lang", "source"))
    assert(store.dropPartitions("t", "lang", Seq("en")))
    assert(store.partitionValues("t", "lang") == Seq("zh"))
    assert(store.scan("t").count() == 10)
  }

  test("dropPartitionsFromBasis: stale basis aborts with -1 and commits nothing") {
    val (store, _) = newStoreAt()
    store.overwritePartitioned("t", base, Seq("lang"))
    val basis = store.manifestEntries("t")
    // a commit lands between capture and drop
    store.appendPartitioned("t", spark.range(200, 205).selectExpr(
      "id AS k", "'fr' AS lang", "CAST(id AS DOUBLE) AS v"), Seq("lang"))
    assert(store.dropPartitionsFromBasis("t", "lang", Seq("fr"), basis) == -1,
      "a moved manifest must abort the conditional drop")
    assert(store.scan("t").where(col("lang") === "fr").count() ==
      base.where(col("lang") === "fr").count() + 5, "nothing may commit")
    // fresh basis → commits; unmatched values → 0
    val fresh = store.manifestEntries("t")
    assert(store.dropPartitionsFromBasis("t", "lang", Seq("fr"), fresh) == 1)
    assert(store.scan("t").where(col("lang") === "fr").count() == 0)
    assert(store.dropPartitionsFromBasis("t", "lang", Seq("zz"),
      store.manifestEntries("t")) == 0)
  }

  test("compactPartitioned folds the chain to ONE partitioned snapshot; drops keep working") {
    val (store, dir) = newStoreAt()
    (0 until 5).foreach(i => store.appendPartitioned("t",
      base.where(col("k") % 5 === i), Seq("lang")))
    assert(store.dropPartitions("t", "lang", Seq("fr")))
    val before = rows(store.scan("t").select("k", "lang", "v"))
    store.compactPartitioned("t", Seq("lang"), maxSnapshots = 0)
    val entries = store.manifestEntries("t")
    assert(entries.sizeIs == 1 && !entries.head.contains("/"),
      s"must fold to one plain partitioned snapshot: $entries")
    assert(rows(store.scan("t").select("k", "lang", "v")) == before)
    // the hive layout SURVIVED the fold: retention stays O(metadata)
    assert(store.partitionValues("t", "lang").toSet == Set("en", "de"))
    assert(store.dropPartitions("t", "lang", Seq("de")))
    assert(rows(store.scan("t").select("k", "lang", "v")) ==
      rows(base.where(col("lang") === "en")))
    // and the dropped-fr bytes reclaimed with the retired snapshots
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "t"))
    val frDirs =
      try walk.iterator().asScala.count(_.getFileName.toString == "lang=fr")
      finally walk.close()
    assert(frDirs == 0, "compactPartitioned + GC must reclaim dropped bytes")
    // under the threshold it is a no-op
    val head = store.manifestEntries("t")
    store.compactPartitioned("t", Seq("lang"), maxSnapshots = 16)
    assert(store.manifestEntries("t") == head)
  }

  test("rewrites preserve a uniform layout: deleteWhere keeps retention O(metadata)") {
    val (store, _) = newStoreAt()
    store.overwritePartitioned("t", base, Seq("lang"))
    store.appendPartitioned("t", spark.range(200, 210).selectExpr(
      "id AS k", "'en' AS lang", "CAST(id AS DOUBLE) AS v"), Seq("lang"))
    // a row-level rewrite delete must NOT flatten the hive layout
    store.deleteWhere("t", col("k") <= 10)
    assert(store.scan("t").count() ==
      base.where(col("k") > 10).count() + 10)
    assert(store.partitionValues("t", "lang").toSet == Set("en", "de", "fr"),
      "deleteWhere silently flattened the partitioned layout")
    assert(store.dropPartitions("t", "lang", Seq("fr")),
      "retention must still be O(metadata) after a rewrite")
    assert(store.scan("t").where(col("lang") === "fr").count() == 0)
    // plain compact on the uniform layout also preserves it
    store.compact("t", maxSnapshots = 0)
    assert(store.partitionValues("t", "lang").toSet == Set("en", "de"))
  }

  test("empty partitioned states stay readable (flat zero-row fallback)") {
    val (store, _) = newStoreAt()
    // a zero-row partitioned OVERWRITE must not commit a fileless dir
    store.overwritePartitioned("e", base.where(lit(false)), Seq("lang"))
    assert(store.scan("e").count() == 0)
    assert(store.scan("e").columns.contains("k"))
    // full DV takedown then partitioned compaction: the folded state is
    // empty; the snapshot must still carry the schema
    val (s2, _) = newStoreAt()
    s2.overwritePartitioned("t", base, Seq("lang"))
    s2.deleteByKeysDV("t", Seq("k"), base.select(col("k")))
    assert(s2.scan("t").count() == 0)
    s2.compactPartitioned("t", Seq("lang"), maxSnapshots = 0)
    assert(s2.scan("t").count() == 0)
    assert(s2.scan("t").columns.contains("v"))
  }

  test("emptied partitioned table: layout ops no-op instead of erroring") {
    // full DV takedown + compactPartitioned leaves ONE flat zero-row
    // snapshot (the fallback shape) — the standing retention sweep and
    // every other layout-contract op must treat it as nothing-to-drop,
    // not crash with 'not hive-partitioned'
    val (store, _) = newStoreAt()
    store.overwritePartitioned("t", base, Seq("lang"))
    store.deleteByKeysDV("t", Seq("k"), base.select(col("k")))
    store.compactPartitioned("t", Seq("lang"), maxSnapshots = 0)
    assert(store.partitionValues("t", "lang").isEmpty)
    assert(!store.expirePartitionsBelow("t", "lang", "zz"))
    assert(!store.dropPartitions("t", "lang", Seq("en")))
    assert(store.scan("t").count() == 0)
    // the zero-row snapshot carries no layout information: partitioned
    // appends resume, plain compact folds PARTITIONED (not flat), and
    // retention keeps working afterwards
    store.appendPartitioned("t", base, Seq("lang"))
    store.compact("t", maxSnapshots = 0)
    assert(store.tableLayout("t") == Seq("lang"))
    assert(store.dropPartitions("t", "lang", Seq("fr")))
    assert(store.partitionValues("t", "lang").toSet == Set("de", "en"))
    assert(store.scan("t").count() ==
      base.where(col("lang") =!= "fr").count())
  }

  test("compactPartitioned refuses a column list that contradicts the live layout") {
    val (store, _) = newStoreAt()
    val two = spark.range(0, 40).selectExpr("id AS k",
      "CAST(id % 2 AS STRING) AS day", "CAST(id % 4 AS STRING) AS hour",
      "CAST(id AS DOUBLE) AS v")
    store.overwritePartitioned("t", two, Seq("day", "hour"))
    store.appendPartitioned("t", two.where(col("k") < 4), Seq("day", "hour"))
    val e = intercept[IllegalArgumentException](
      store.compactPartitioned("t", Seq("day"), maxSnapshots = 0))
    assert(e.getMessage.contains("uniformly partitioned"))
    // the full chain folds fine
    store.compactPartitioned("t", Seq("day", "hour"), maxSnapshots = 0)
    assert(store.partitionValues("t", "day").toSet == Set("0", "1"))
    assert(store.scan("t").count() == 44)
  }

  test("null partition values: hive sentinel round-trips; drops spare null rows") {
    val (store, _) = newStoreAt()
    val withNulls = spark.range(0, 30).selectExpr(
      "id AS k",
      "CASE WHEN id % 3 = 0 THEN NULL ELSE CONCAT('d', CAST(id % 3 AS STRING)) END AS day",
      "CAST(id AS DOUBLE) AS v")
    // two snapshots → the merged (file-index) read path, nulls in both
    store.appendPartitioned("t", withNulls.where(col("k") < 15), Seq("day"))
    store.appendPartitioned("t", withNulls.where(col("k") >= 15), Seq("day"))
    assert(rows(store.scan("t").select("k", "day", "v")) == rows(withNulls))
    assert(store.scan("t").where(col("day").isNull).count() == 10)
    // dropping a REAL value must spare the null-partition rows
    assert(store.dropPartitions("t", "day", Seq("d1")))
    assert(rows(store.scan("t").select("k", "day", "v")) ==
      rows(withNulls.where(col("day").isNull || col("day") =!= "d1")))
    assert(store.scan("t").where(col("day").isNull).count() == 10)
    // and the sentinel itself is droppable like any other directory
    assert(store.dropPartitions("t", "day",
      Seq("__HIVE_DEFAULT_PARTITION__")))
    assert(store.scan("t").where(col("day").isNull).count() == 0)
    assert(store.scan("t").count() ==
      withNulls.where(col("day") === "d2").count())
  }

  test("a one-entry exclusion read keeps null-partition rows and lists no dropped file") {
    val (store, _) = newStoreAt()
    val withNulls = spark.range(0, 40).selectExpr(
      "id AS k",
      "CASE WHEN id % 4 = 0 THEN NULL ELSE CONCAT('d', CAST(id % 4 AS STRING)) END AS day",
      "CAST(id AS DOUBLE) AS v")
    store.overwritePartitioned("t", withNulls, Seq("day"))
    assert(store.dropPartitions("t", "day", Seq("d1")))
    val Seq(entry) = store.readManifest("t")
    assert(entry.endsWith("/!day=d1"), entry)
    val df = store.scan("t")
    assert(rows(df.select("k", "day", "v")) ==
      rows(withNulls.where(col("day").isNull || col("day") =!= "d1")))
    assert(df.where(col("day").isNull).count() == 10)
    assert(df.inputFiles.exists(_.contains("day=__HIVE_DEFAULT_PARTITION__")))
    assert(!df.inputFiles.exists(_.contains("day=d1")),
      s"a dropped directory's files were read: ${df.inputFiles.mkString(", ")}")
  }

  test("partition-column validation: missing column and all-columns rejected") {
    val (store, _) = newStoreAt()
    intercept[IllegalArgumentException](
      store.overwritePartitioned("t", base, Seq("nope")))
    intercept[IllegalArgumentException](
      store.overwritePartitioned("t", base.select("lang"), Seq("lang")))
    intercept[IllegalArgumentException](
      store.overwritePartitioned("t", base, Nil))
  }
}
