package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class TableStoreSpec extends SparkSpec {

  private def newStoreAt: (TableStore, String) = {
    val dir = Files.createTempDirectory("graft_store").toString
    // single-process spec asserting immediate GC: grace opt-out
    (new TableStore(spark, dir, gcGraceMs = 0L), dir)
  }
  private def newStore = newStoreAt._1

  test("overwrite then scan roundtrip; exists/list/drop") {
    val store = newStore
    assert(!store.exists("t"))
    store.overwrite("t", spark.range(5).toDF("v"))
    assert(store.exists("t"))
    assert(store.scan("t").count() == 5)
    assert(store.list() == Seq("t"))
    store.drop("t")
    assert(!store.exists("t"))
    intercept[IllegalArgumentException](store.scan("t"))
  }

  test("orphaned .reap-* trash dirs from a crashed drop reclaim at construction") {
    val (store, dir) = newStoreAt
    store.overwrite("t", spark.range(5).toDF("v"))
    // simulate a JVM that died between drop()'s rename and the background
    // reap: the trash dir exists, no in-memory queue entry survives
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val trash = new org.apache.hadoop.fs.Path(root, ".reap-t-deadbeef")
    assert(fs.rename(new org.apache.hadoop.fs.Path(root, "t"), trash))
    TableStore.awaitReap() // drain anything the first store enqueued
    assert(fs.exists(trash), "trash dir must survive the 'crash'")
    // "new process": constructing a store on the root re-enqueues it
    val s2 = new TableStore(spark, dir, gcGraceMs = 0L)
    TableStore.awaitReap()
    assert(!fs.exists(trash), "construction sweep must reclaim the orphan")
    assert(s2.list().isEmpty)
  }

  test("primed footer schema == cold inference for nested partitioned writes") {
    // writeDataDir primes the footer-schema cache with a PREDICTED
    // read-back schema (allNullable + partition cols appended as
    // strings); scans then pass it as the explicit read schema and never
    // run footer inference. If the prediction ever diverged from Spark's
    // actual file-source schema rewriting (nullable-forcing, partition
    // handling), scans would silently read wrong — this pins prediction
    // == inference on the nasty shapes: nested struct/array/map under a
    // hive partition column, and a flat write.
    val (primed, dir) = newStoreAt
    val df = spark.range(6).toDF("id")
      .withColumn("part", (col("id") % 2).cast("string"))
      .withColumn("s", struct(col("id").as("a"),
        struct((col("id") * 2).as("b")).as("inner")))
      .withColumn("arr", array(col("id"), col("id") + 1))
      .withColumn("m", map(col("id").cast("string"), col("id")))
    primed.overwritePartitioned("t", df, Seq("part"))
    primed.overwrite("flat", df.drop("part"))
    // a NEW store on the same root has an empty cache → real inference
    val cold = new TableStore(spark, dir, gcGraceMs = 0L)
    assert(primed.scan("t").schema == cold.scan("t").schema,
      "partitioned: primed schema must equal cold footer inference")
    assert(primed.scan("flat").schema == cold.scan("flat").schema,
      "flat: primed schema must equal cold footer inference")
    assert(primed.scan("t").orderBy("id").collect().toSeq ==
      cold.scan("t").orderBy("id").collect().toSeq)
    // both against Spark's own inference of the snapshot directory: the
    // primed prediction and the cold store's driver-side footer read
    for (t <- Seq("t", "flat")) {
      val Seq(snap) = primed.readManifest(t)
      val inferred = spark.read.parquet(s"$dir/$t/$snap").schema
      assert(primed.tableSchema(t) == inferred, s"$t: primed != Spark's inference")
      assert(new TableStore(spark, dir, gcGraceMs = 0L).tableSchema(t) == inferred,
        s"$t: footer read != Spark's inference")
    }
  }

  test("a cold store reads a 5-snapshot table's schema and builds its scan with no Spark job") {
    val (store, dir) = newStoreAt
    (0 until 5).foreach(i => store.append("t",
      spark.range(i * 10, i * 10 + 10).toDF("k").withColumn(s"c$i", lit(i))))
    def cold = new TableStore(spark, dir, gcGraceMs = 0L)
    val sc = spark.sparkContext
    val (schema, schemaJobs) =
      org.apache.spark.graft.JobRecorder.record(sc)(cold.tableSchema("t"))
    assert(schemaJobs.isEmpty, s"tableSchema ran ${schemaJobs.size} jobs")
    assert(schema == store.tableSchema("t"))
    val (df, scanJobs) = org.apache.spark.graft.JobRecorder.record(sc)(cold.scan("t"))
    assert(scanJobs.isEmpty, s"building scan ran ${scanJobs.size} jobs")
    assert(df.schema == store.scan("t").schema)
    assert(df.count() == 50L)
  }

  test("overwrite replaces state atomically (old snapshot GC'd)") {
    val store = newStore
    store.overwrite("t", spark.range(5).toDF("v"))
    store.overwrite("t", spark.range(100, 103).toDF("v"))
    val vals = store.scan("t").collect().map(_.getLong(0)).sorted
    assert(vals.toSeq == Seq(100L, 101L, 102L))
  }

  test("append unions; schema evolution adds columns null-filled") {
    val store = newStore
    store.append("t", spark.range(3).toDF("v"))
    store.append("t", spark.range(3, 5).toDF("v")
      .withColumn("extra", lit("x")))
    val df = store.scan("t")
    assert(df.columns.toSet == Set("v", "extra"))
    assert(df.count() == 5)
    assert(df.where(col("extra").isNull).count() == 3)
  }

  test("tableSchema: footer fold == scan schema; cache folds append deltas") {
    val (store, dir) = newStoreAt
    store.append("t", spark.range(3).toDF("v"))
    assert(store.tableSchema("t") == store.scan("t").schema)
    // evolution: the incremental fold (cached prefix + one new footer)
    // must agree with the union's schema, order included
    store.append("t", spark.range(2).toDF("v").withColumn("extra", lit("x")))
    assert(store.tableSchema("t") == store.scan("t").schema)
    // non-append manifest change (compact) → full recompute, still equal
    store.compact("t", maxSnapshots = 0)
    assert(store.tableSchema("t") == store.scan("t").schema)
    // a SECOND store over the same dir (cold cache) agrees too
    val again = new TableStore(spark, dir)
    assert(again.tableSchema("t") == store.scan("t").schema)
    // and the type-change gate keyed off it still fires
    val e = intercept[IllegalArgumentException] {
      store.append("t", spark.range(2).toDF("v")
        .select(col("v").cast("string").as("v")))
    }
    assert(e.getMessage.contains("Type change not allowed"))
  }

  test("append with type change on existing column is a hard error") {
    val store = newStore
    store.append("t", spark.range(3).toDF("v"))
    val e = intercept[IllegalArgumentException] {
      store.append("t", spark.range(2).toDF("v")
        .select(col("v").cast("string").as("v")))
    }
    assert(e.getMessage.contains("Type change not allowed"))
  }

  test("createLike clones schema with zero rows (WHERE 1=0)") {
    val store = newStore
    store.createLike("t", spark.range(9).toDF("v"))
    assert(store.scan("t").count() == 0)
    assert(store.scan("t").columns.toSeq == Seq("v"))
    // createLike on existing table is a no-op
    store.overwrite("t", spark.range(2).toDF("v"))
    store.createLike("t", spark.range(9).toDF("other"))
    assert(store.scan("t").columns.toSeq == Seq("v"))
  }

  test("append is O(batch): old snapshots are untouched, not rewritten") {
    val (store, dir) = newStoreAt
    store.overwrite("t", spark.range(5).toDF("v"))
    def snaps = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "t"))
      .iterator()
      .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    import scala.jdk.CollectionConverters._
    def snapDirs = snaps.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("snap-")).toSet
    val before = snapDirs
    assert(before.size == 1)
    store.append("t", spark.range(5, 8).toDF("v"))
    val after = snapDirs
    assert(after.size == 2, "append must add a snapshot, not rewrite")
    assert(after.intersect(before) == before, "old snapshot must survive append")
    assert(store.scan("t").count() == 8)
    // overwrite GCs all previous snapshots (reclamation is asynchronous
    // since r14 — drain the reaper before counting)
    store.overwrite("t", spark.range(2).toDF("v"))
    graft.table.TableStore.awaitReap()
    assert(snapDirs.size == 1)
  }

  test("compact collapses a long snapshot chain into one, same contents") {
    val (store, dir) = newStoreAt
    store.overwrite("t", spark.range(2).toDF("v"))
    (1 to 4).foreach(i => store.append("t", spark.range(i * 10, i * 10 + 2).toDF("v")))
    val before = store.scan("t").collect().map(_.getLong(0)).sorted.toSeq
    store.compact("t", maxSnapshots = 3)
    graft.table.TableStore.awaitReap() // async reclamation since r14
    import scala.jdk.CollectionConverters._
    val snapCount = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "t"))
      .iterator().asScala.count(_.getFileName.toString.startsWith("snap-"))
    assert(snapCount == 1)
    assert(store.scan("t").collect().map(_.getLong(0)).sorted.toSeq == before)
    // below threshold: no-op
    store.append("t", spark.range(100, 101).toDF("v"))
    store.compact("t", maxSnapshots = 3)
    assert(store.scan("t").count() == before.size + 1)
  }

  test("clustered layout prunes row groups on a key predicate (scan metrics)") {
    // same 200k rows written clustered vs deliberately key-shuffled; a
    // narrow key-range predicate must read far fewer rows from the
    // clustered layout (parquet row-group min/max skipping) — this is the
    // measured pruning win of overwriteClustered, not just file layout
    val store = newStore
    val df = spark.range(200000).toDF("k")
      .withColumn("v", col("k") * 3)
    store.overwriteClustered("clu", df, Seq("k"), numFiles = Some(8))
    store.overwrite("rand", df.repartition(8, col("v"))) // keys spread everywhere
    def scannedRows(t: String): Long = {
      val q = store.scan(t).where(col("k").between(1000, 2000))
      q.collect()
      val finalPlan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      finalPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
    }
    val clustered = scannedRows("clu")
    val shuffled = scannedRows("rand")
    assert(clustered <= 200000 / 4,
      s"clustered scan must skip most row groups, read $clustered")
    assert(clustered < shuffled / 4,
      s"clustered ($clustered) must read far less than shuffled ($shuffled)")
  }

  test("z-order layout prunes on BOTH clustered columns (scan metrics)") {
    // two independent uniform columns; the linear layout (clustered on x)
    // prunes x-slices perfectly but reads EVERYTHING for a y-slice; the
    // z-ordered layout must prune both dimensions
    val store = newStore
    val df = spark.range(200000).select(
      (col("id") * 48271 % 65536).as("x"),
      (col("id") * 69621 % 65536).as("y"),
      col("id").as("payload"))
    store.overwriteZOrdered("zz", df, Seq("x", "y"), numFiles = Some(16))
    store.overwriteClustered("lin", df, Seq("x"), numFiles = Some(16))
    def scannedRows(t: String, p: org.apache.spark.sql.Column): Long = {
      val q = store.scan(t).where(p)
      q.collect()
      val finalPlan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      finalPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
    }
    val ySlice = col("y").between(1000, 3000)
    val xSlice = col("x").between(1000, 3000)
    val zOnY = scannedRows("zz", ySlice)
    val zOnX = scannedRows("zz", xSlice)
    val linOnY = scannedRows("lin", ySlice)
    assert(linOnY > 150000, s"linear layout can't prune y, read $linOnY")
    assert(zOnY <= 200000 / 3, s"z-order must prune the y slice, read $zOnY")
    assert(zOnX <= 200000 / 3 * 2, s"z-order must still prune the x slice, read $zOnX")
    // layout changes must never change content
    assert(store.scan("zz").agg(sum(col("payload"))).first().getLong(0) ==
      store.scan("lin").agg(sum(col("payload"))).first().getLong(0))
  }

  test("bucketed tables join on the bucket key with no exchange on either side") {
    val store = newStore
    val a = spark.range(0, 10000, 1, 8).toDF("k")
      .withColumn("va", (col("k") % 97).cast("double"))
    val b = spark.range(0, 10000, 1, 8).toDF("k")
      .withColumn("vb", (col("k") % 31).cast("double"))
    store.overwriteBucketed("ta", a, Seq("k"), numBuckets = 8)
    store.overwriteBucketed("tb", b, Seq("k"), numBuckets = 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = store.scan("ta").join(store.scan("tb"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed-bucketed join must not shuffle either side:\n$plan")
      assert(joined.count() == 10000)
      // contrast: the same join over plain path snapshots shuffles both sides
      store.overwrite("pa", a); store.overwrite("pb", b)
      val unbucketed = store.scan("pa").join(store.scan("pb"), "k")
        .queryExecution.executedPlan.toString
      assert(unbucketed.contains("Exchange hashpartitioning"),
        "control: path tables should need the shuffle")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("bucketed scan preserves rows and overwrite replaces content") {
    val store = newStore
    store.overwriteBucketed("tw", spark.range(100).toDF("k"), Seq("k"), 4)
    assert(store.scan("tw").count() == 100)
    store.overwriteBucketed("tw", spark.range(40).toDF("k"), Seq("k"), 4)
    assert(store.scan("tw").count() == 40)
  }

  test("time travel: retained versions stay readable; retention prunes; retain=1 keeps none") {
    val dir = Files.createTempDirectory("graft_store_tt").toString
    val store = new TableStore(spark, dir, retainVersions = 3, gcGraceMs = 0L)
    store.overwrite("t", spark.range(5).toDF("v"))                  // v1: 0..4
    store.append("t", spark.range(100, 103).toDF("v"))              // v2: +3
    store.overwrite("t", spark.range(7).toDF("v"))                  // v3: 0..6
    assert(store.versions("t") == Seq(1L, 2L, 3L))
    assert(store.scanAsOf("t", 1).count() == 5)
    assert(store.scanAsOf("t", 2).count() == 8)
    assert(store.scanAsOf("t", 3).count() == 7)
    // current scan == latest version
    assert(store.scan("t").collect().map(_.getLong(0)).sorted.toSeq ==
      store.scanAsOf("t", 3).collect().map(_.getLong(0)).sorted.toSeq)
    // a 4th commit prunes version 1 (retention 3) and GCs its snapshots
    store.overwrite("t", spark.range(2).toDF("v"))                  // v4
    assert(store.versions("t") == Seq(2L, 3L, 4L))
    intercept[IllegalArgumentException](store.scanAsOf("t", 1))
    // v2 (append chain) still resolves even though v1's base snapshot is
    // shared — retention GC must keep shared snapshot dirs alive
    assert(store.scanAsOf("t", 2).count() == 8)
    // default store (retain 1): history never accumulates
    val plain = newStore
    plain.overwrite("t", spark.range(3).toDF("v"))
    plain.overwrite("t", spark.range(4).toDF("v"))
    assert(plain.versions("t") == Seq(2L))
    intercept[IllegalArgumentException](plain.scanAsOf("t", 1))
  }

  test("diffVersions: insert/delete/update classified; unchanged rows absent; multi-col changes listed sorted") {
    import spark.implicits._
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_store_diff").toString,
      retainVersions = 4)
    store.overwrite("t", Seq(
      (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("k", "name", "bal"))
    store.overwrite("t", Seq(
      (2L, "b", 20.0),       // unchanged → absent
      (3L, "c2", 31.0),      // both non-key cols change
      (4L, "d", 41.0),       // one col changes
      (5L, "e", 50.0))       // new → insert
      .toDF("k", "name", "bal"))
    val vs = store.versions("t")
    val got = store.diffVersions("t", vs.min, vs.max, Seq("k"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getSeq[String](2)).map(_.toList).orNull))
    assert(got.toSeq == Seq(
      (1L, "delete", null),
      (3L, "update", List("bal", "name")),
      (4L, "update", List("bal")),
      (5L, "insert", null)), s"got ${got.toSeq}")
    // a diff of a version against itself is empty
    assert(store.diffVersions("t", vs.max, vs.max, Seq("k")).count() == 0)
  }

  test("crash recovery: orphan snapshot (no manifest entry) is invisible and GC'd") {
    val (store, dir) = newStoreAt
    store.overwrite("t", spark.range(3).toDF("v"))
    // simulate a crash AFTER snapshot write, BEFORE manifest flip
    val orphan = java.nio.file.Paths.get(dir, "t", "snap-9999999999999-orphan")
    spark.range(100, 110).toDF("v").write.parquet(orphan.toString)
    assert(store.scan("t").count() == 3, "orphan must not be visible")
    store.overwrite("t", spark.range(5).toDF("v")) // next commit GCs
    graft.table.TableStore.awaitReap() // async reclamation since r14
    assert(!java.nio.file.Files.exists(orphan), "orphan must be GC'd on commit")
    assert(store.scan("t").count() == 5)
  }

  test("nextRowNumberStart: missing table/column → 1; else MAX+1") {
    val store = newStore
    assert(store.nextRowNumberStart("nope") == 1L)
    store.overwrite("t", spark.range(7).toDF("v"))
    assert(store.nextRowNumberStart("t") == 1L) // no _id column
    store.overwrite("t", spark.range(7).toDF("_id"))
    assert(store.nextRowNumberStart("t") == 7L) // max 6 + 1
  }

  /** The reference answer: `COALESCE(MAX(_id), 0) + 1` over the live rows. */
  private def scannedNextId(store: TableStore, t: String): Long = {
    val df = store.scan(t)
    if (!df.columns.contains("_id")) 1L
    else df.agg(coalesce(max(col("_id")), lit(0L))).first().getLong(0) + 1L
  }

  test("nextRowNumberStart from parquet footers: the scan's MAX+1, no Spark job") {
    val (store, dir) = newStoreAt
    def check(t: String, what: String): Unit = {
      val want = scannedNextId(store, t)
      // a second store on the same root has no cached footers
      val cold = new TableStore(spark, dir, gcGraceMs = 0L)
      val (got, jobs) = org.apache.spark.graft.JobRecorder.record(spark.sparkContext) {
        cold.nextRowNumberStart(t)
      }
      assert(got == want, what)
      val launched = jobs.size
      assert(launched == 0, what)
      assert(store.nextRowNumberStart(t) == want, what)
    }
    store.append("t", spark.range(1, 6).toDF("_id").withColumn("v", lit("a")))
    check("t", "one append")
    store.append("t", spark.range(6, 41, 1, 3).toDF("_id").withColumn("v", lit("b")))
    store.append("t", spark.range(41, 44).toDF("_id").withColumn("v", lit("c")))
    check("t", "several appends")
    store.append("t", spark.range(3).toDF("w").withColumn("v", lit("d")))
    check("t", "a snapshot without _id")
    store.append("t", spark.range(2).select(lit(null).cast("long").as("_id"), lit("e").as("v")))
    check("t", "an all-null _id snapshot")
    store.compact("t", 1)
    assert(store.readManifest("t").size == 1)
    check("t", "compaction")
    // a partition-subset entry: the dropped partitions hold the largest ids
    store.overwritePartitioned("p", spark.range(1, 31).toDF("_id").withColumn("lang",
      when(col("_id") > 20, "fr").when(col("_id") > 10, "de").otherwise("en")), Seq("lang"))
    assert(store.dropPartitions("p", "lang", Seq("fr", "de")))
    assert(store.readManifest("p").exists(_.contains("/lang=en")))
    check("p", "a partition-subset entry")
    assert(store.nextRowNumberStart("p") == 11L)
    // an id-less table starts at 1
    store.append("q", spark.range(3).toDF("w"))
    check("q", "no _id column")
  }

  test("nextRowNumberStart falls back to the scan when a deletion vector removes the max row") {
    val store = newStore
    store.append("t", spark.range(1, 11).toDF("_id").withColumn("v", lit("a")))
    store.deleteByKeysDV("t", Seq("_id"), spark.range(10, 11).toDF("_id"))
    assert(store.nextRowNumberStart("t") == 10L)
    assert(scannedNextId(store, "t") == 10L)
  }

  test("nextRowNumberStart resolves the column name as Spark does") {
    val store = newStore
    store.append("t", spark.range(1, 11).toDF("_id").withColumn("v", lit("a")))
    assert(store.nextRowNumberStart("t", "_ID") == 11L)
    // the scan fallback resolves the same way
    store.deleteByKeysDV("t", Seq("_id"), spark.range(10, 11).toDF("_id"))
    assert(store.nextRowNumberStart("t", "_ID") == 10L)
  }

  test("append of shingle arrays onto a table read back from parquet") {
    val store = newStore
    def shingles(texts: String*) = spark.createDataFrame(
      java.util.List.of(texts.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types.StructField(
        "text", org.apache.spark.sql.types.StringType))))
      .select(col("text"), graft.ext.TextHash.shingles(col("text"), 2).as("sh"))
    store.append("s", shingles("a b c d", "b c d e"))
    store.append("s", shingles("c d e f"))
    // narrower nullability at any level is not a type change
    store.append("s", spark.range(1).select(lit("x").as("text"), array(lit("x y")).as("sh")))
    assert(store.scan("s").count() == 4L)
    assert(store.scan("s").where(col("text") === "c d e f")
      .select("sh").head().getSeq[String](0) == Seq("c d", "d e", "e f"))
    // a real element-type change still is
    intercept[IllegalArgumentException] {
      store.append("s", spark.range(1).select(lit("y").as("text"), array(col("id")).as("sh")))
    }
  }

  test("deleteWhere: SQL DELETE semantics — null predicate keeps the row") {
    import spark.implicits._
    val store = newStore
    store.overwrite("t", Seq(
      (1L, Some(10L)), (2L, Some(20L)), (3L, None), (4L, Some(40L)))
      .toDF("k", "v"))
    // v > 15 is NULL for k=3 -> kept (DELETE only removes TRUE rows)
    store.deleteWhere("t", col("v") > 15)
    assert(store.scan("t").select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
  }

  test("deleteByKeys: broadcast anti join; null keys and extras ignored") {
    import spark.implicits._
    val store = newStore
    store.overwrite("t", Seq(
      (Some(1L), "a"), (Some(2L), "b"), (None, "c"), (Some(3L), "d"))
      .toDF("k", "s"))
    // list has dups + an extra column + an irrelevant null entry
    val toDelete = Seq((Some(2L), 99), (Some(2L), 98), (None, 97))
      .toDF("k", "junk")
    store.deleteByKeys("t", Seq("k"), toDelete)
    // k=2 deleted; the null-key row is KEPT (SQL equality never matches)
    assert(store.scan("t").select("s").as[String].collect().sorted.toSeq ==
      Seq("a", "c", "d"))
  }

  test("delete + re-add == untouched; deletes visible in diffVersions") {
    val versioned = new TableStore(spark,
      Files.createTempDirectory("graft_store_del").toString, retainVersions = 4)
    val base = spark.range(1, 101).toDF("k")
      .withColumn("v", col("k") * 10)
    versioned.overwrite("t", base)                       // v1
    versioned.deleteWhere("t", col("k") % 10 === 0)      // v2
    versioned.append("t", base.where(col("k") % 10 === 0)) // v3 re-add
    // content equality both directions (multiset via except on distinct keys)
    val now = versioned.scan("t")
    assert(now.count() == 100L)
    assert(now.exceptAll(base).isEmpty && base.exceptAll(now).isEmpty)
    // the change feed between v1 and v2 is EXACTLY the ten deletes
    val vs = versioned.versions("t")
    val diff = versioned.diffVersions("t", vs.min, vs(1), Seq("k"))
      .collect()
    assert(diff.length == 10)
    assert(diff.forall(_.getAs[String]("op") == "delete"))
    // and v1->v3 shows no change at all
    assert(versioned.diffVersions("t", vs.min, vs.max, Seq("k")).isEmpty)
  }

  test("delete crash safety: snapshot written but CURRENT not flipped leaves table intact") {
    val (store, dir) = newStoreAt
    store.overwrite("t", spark.range(10).toDF("v"))
    // simulate deleteWhere dying between its snapshot write and the
    // CURRENT flip: the filtered snapshot lands on disk as an orphan
    val orphan = java.nio.file.Paths.get(dir, "t", "snap-9999999999998-delcrash")
    store.scan("t").where(!(col("v") < 5)).write.parquet(orphan.toString)
    assert(store.scan("t").count() == 10,
      "pre-delete state must stay live after the simulated crash")
    // a real delete afterwards commits atomically and GCs the orphan
    store.deleteWhere("t", col("v") < 5)
    assert(store.scan("t").count() == 5)
    assert(!java.nio.file.Files.exists(orphan), "orphan GC'd on next commit")
  }

  test("appendTagged: duplicate tag skips; distinct tags land; tag survives restart") {
    import spark.implicits._
    val (store, dir) = newStoreAt
    assert(store.appendTagged("t", Seq(1L, 2L).toDF("v"), "b0"))
    assert(!store.appendTagged("t", Seq(1L, 2L).toDF("v"), "b0"),
      "replaying a committed batch must be a no-op")
    assert(store.scan("t").count() == 2)
    assert(store.appendTagged("t", Seq(3L).toDF("v"), "b1"))
    assert(store.scan("t").count() == 3)
    // idempotency is durable store state, not process memory
    val reopened = new TableStore(spark, dir)
    assert(!reopened.appendTagged("t", Seq(9L).toDF("v"), "b1"))
    assert(reopened.scan("t").count() == 3)
    // a later overwrite forgets tags (documented window): b1 can land again
    store.overwrite("t", Seq(0L).toDF("v"))
    assert(store.appendTagged("t", Seq(7L).toDF("v"), "b1"))
    intercept[IllegalArgumentException] {
      store.appendTagged("t", Seq(8L).toDF("v"), "has-dash")
    }
  }

  test("branches: zero-copy fork, isolated writes, main GC keeps branch snaps live") {
    import spark.implicits._
    val store = newStore
    store.overwrite("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    store.createBranch("t", "fix")
    assert(store.branches("t") == Seq("fix"))
    intercept[IllegalArgumentException](store.createBranch("t", "fix"))
    intercept[IllegalArgumentException](store.createBranch("t", "bad-name"))
    // branch writes never touch main; main writes never touch the branch
    store.appendBranch("t", "fix", Seq((4L, "d")).toDF("k", "v"))
    assert(store.scan("t").count() == 3)
    assert(store.scanBranch("t", "fix").count() == 4)
    // branch appends type-check against the BRANCH head's evolved schema
    // (footer fold), same contract as main appends
    val te = intercept[IllegalArgumentException](store.appendBranch("t",
      "fix", Seq((5L, 5.0)).toDF("k", "v")))
    assert(te.getMessage.contains("Type change not allowed"))
    // a main OVERWRITE (whose commit GCs) must not reap snapshots the
    // branch still references — the fork base and head stay readable
    store.overwrite("t", Seq((1L, "a"), (9L, "z")).toDF("k", "v"))
    assert(store.scanBranch("t", "fix").count() == 4)
    store.dropBranch("t", "fix")
    assert(store.branches("t").isEmpty)
    intercept[IllegalArgumentException](store.scanBranch("t", "fix"))
  }

  test("mergeBranch: disjoint changes commit (update/insert/delete), branch drops") {
    import spark.implicits._
    val store = newStore
    store.overwrite("t",
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)).toDF("k", "v"))
    store.createBranch("t", "b")
    // branch: update k=1, delete k=2, insert k=5
    store.overwriteBranch("t", "b",
      Seq((1L, 11.0), (3L, 30.0), (4L, 40.0), (5L, 50.0)).toDF("k", "v"))
    // main: update k=3, insert k=6
    store.overwrite("t",
      Seq((1L, 10.0), (2L, 20.0), (3L, 33.0), (4L, 40.0), (6L, 60.0)).toDF("k", "v"))
    val conflicts = store.mergeBranch("t", "b", Seq("k"))
    assert(conflicts.isEmpty, "disjoint edits cannot conflict")
    val out = store.scan("t").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == Map(1L -> 11.0, 3L -> 33.0, 4L -> 40.0, 5L -> 50.0, 6L -> 60.0), out)
    assert(store.branches("t").isEmpty, "a committed merge drops the branch")
    // the returned empty frame stays evaluable after the commit's GC
    assert(conflicts.count() == 0L)
  }

  test("mergeBranch: conflicts refuse, report ops, leave main AND branch intact; resolving re-merges") {
    import spark.implicits._
    val store = newStore
    store.overwrite("t", Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v"))
    store.createBranch("t", "b")
    // branch updates k=1 and k=2; main updates k=1 DIFFERENTLY, deletes k=2
    store.overwriteBranch("t", "b",
      Seq((1L, 11.0), (2L, 22.0), (3L, 30.0)).toDF("k", "v"))
    store.overwrite("t", Seq((1L, 12.0), (3L, 30.0)).toDF("k", "v"))
    val conflicts = store.mergeBranch("t", "b", Seq("k"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(conflicts.toSeq ==
      Seq((1L, "update", "update"), (2L, "delete", "update")), conflicts.toSeq)
    assert(store.scan("t").count() == 2, "main untouched")
    assert(store.branches("t") == Seq("b"), "branch intact")
    // resolve by adopting main's rows on the branch, then re-merge
    store.overwriteBranch("t", "b", Seq((1L, 12.0), (3L, 30.0)).toDF("k", "v"))
    assert(store.mergeBranch("t", "b", Seq("k")).isEmpty,
      "identical changes are not conflicts")
    assert(store.scan("t").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      == Map(1L -> 12.0, 3L -> 30.0))
  }

  test("mergeBranch policies: OursWins / TheirsWins resolve, both report conflicts") {
    import spark.implicits._
    def seeded(): TableStore = {
      val store = newStore
      store.overwrite("t", Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v"))
      store.createBranch("t", "b")
      // branch: k=1 -> 11, k=2 -> 22; main: k=1 -> 12 (conflict), k=3 -> 33
      store.overwriteBranch("t", "b",
        Seq((1L, 11.0), (2L, 22.0), (3L, 30.0)).toDF("k", "v"))
      store.overwrite("t", Seq((1L, 12.0), (2L, 20.0), (3L, 33.0)).toDF("k", "v"))
      store
    }
    val s1 = seeded()
    val r1 = s1.mergeBranch("t", "b", Seq("k"), TableStore.MergePolicy.TheirsWins)
    assert(r1.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      == Seq((1L, "update", "update")), "report survives the commit")
    assert(s1.scan("t").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      == Map(1L -> 11.0, 2L -> 22.0, 3L -> 33.0), "theirs wins k=1; branch k=2 lands; main k=3 kept")
    assert(s1.branches("t").isEmpty)
    val s2 = seeded()
    val r2 = s2.mergeBranch("t", "b", Seq("k"), TableStore.MergePolicy.OursWins)
    assert(r2.count() == 1L)
    assert(s2.scan("t").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      == Map(1L -> 12.0, 2L -> 22.0, 3L -> 33.0), "ours wins the conflicted key only")
  }

  test("rebaseBranch: branch adopts main's changes, base advances, later merge is clean") {
    import spark.implicits._
    val store = newStore
    store.overwrite("t", Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
    store.createBranch("t", "b")
    store.overwriteBranch("t", "b", Seq((1L, 11.0), (2L, 20.0)).toDF("k", "v"))
    store.overwrite("t", Seq((1L, 10.0), (2L, 20.0), (4L, 44.0)).toDF("k", "v"))
    val rep = store.rebaseBranch("t", "b", Seq("k"))
    assert(rep.isEmpty, "disjoint rebase has no conflicts")
    assert(store.scanBranch("t", "b").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      == Map(1L -> 11.0, 2L -> 20.0, 4L -> 44.0),
      "branch = main's state + branch's own change")
    assert(store.scan("t").count() == 3, "rebase never touches main")
    // main moves again AFTER the rebase; the advanced base sees only the
    // post-rebase delta, so the merge is clean and total
    store.overwrite("t",
      Seq((1L, 10.0), (2L, 20.0), (4L, 44.0), (5L, 55.0)).toDF("k", "v"))
    assert(store.mergeBranch("t", "b", Seq("k")).isEmpty)
    assert(store.scan("t").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      == Map(1L -> 11.0, 2L -> 20.0, 4L -> 44.0, 5L -> 55.0))
  }

  test("rebaseBranch conflict: Fail refuses untouched; TheirsWins keeps branch rows") {
    import spark.implicits._
    val store = newStore
    store.overwrite("t", Seq((1L, 10.0)).toDF("k", "v"))
    store.createBranch("t", "b")
    store.overwriteBranch("t", "b", Seq((1L, 11.0)).toDF("k", "v"))
    store.overwrite("t", Seq((1L, 12.0)).toDF("k", "v"))
    val refuse = store.rebaseBranch("t", "b", Seq("k"))
    assert(refuse.count() == 1L)
    assert(store.scanBranch("t", "b").first().getDouble(1) == 11.0, "branch untouched")
    val rep = store.rebaseBranch("t", "b", Seq("k"),
      TableStore.MergePolicy.TheirsWins)
    assert(rep.count() == 1L, "resolved conflicts still reported")
    assert(store.scanBranch("t", "b").first().getDouble(1) == 11.0)
    assert(store.mergeBranch("t", "b", Seq("k")).isEmpty,
      "post-rebase merge is clean: base advanced past the conflict")
    assert(store.scan("t").first().getDouble(1) == 11.0)
  }

  private def scanRelations(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.size

  test("legacy mixed-type history: supported widenings keep ONE merged relation") {
    // store appends type-check, so these histories come only from data
    // written before the contract — committed here through the raw
    // manifest API. The fold must widen exactly where the parquet readers
    // can serve the narrower physical files under the widened schema
    // (integral->long, integral/float->double), matching the union
    // chain's own coercion.
    val store = newStore
    val s0 = store.writeSnapshot("t",
      spark.range(0, 3).selectExpr("CAST(id AS TINYINT) AS a",
        "CAST(id AS FLOAT) AS f", "id AS k"))
    val s1 = store.writeSnapshot("t",
      spark.range(3, 5).selectExpr("CAST(id AS SMALLINT) AS a",
        "CAST(id AS FLOAT) AS f", "id AS k"))
    val s1b = store.writeSnapshot("t",
      spark.range(5, 7).selectExpr("CAST(id AS INT) AS a",
        "CAST(id AS FLOAT) AS f", "id AS k"))
    val s2 = store.writeSnapshot("t",
      spark.range(7, 10).selectExpr("CAST(id AS BIGINT) AS a",
        "CAST(id AS DOUBLE) AS f", "id AS k", "id * 2 AS extra"))
    store.commitManifest("t", Seq(s0, s1, s1b, s2))
    import org.apache.spark.sql.types.{DoubleType, LongType}
    assert(store.tableSchema("t")("a").dataType == LongType)
    assert(store.tableSchema("t")("f").dataType == DoubleType)
    val df = store.scan("t")
    assert(df.schema("a").dataType == LongType)
    assert(scanRelations(df) == 1,
      "a widenable type evolution must not re-open per-snapshot planning")
    assert(df.select("a").collect().map(_.getLong(0)).sorted.toSeq
      == (0L to 9L))
    assert(df.select("f").collect().map(_.getDouble(0)).sorted.toSeq
      == (0 to 9).map(_.toDouble))
    assert(df.where(col("extra").isNotNull).count() == 3)
  }

  test("un-widenable type disagreement: loud per-snapshot fallback, values correct") {
    val store = newStore
    val s1 = store.writeSnapshot("t",
      spark.range(0, 3).selectExpr("CAST(id AS STRING) AS a", "id AS k"))
    val s2 = store.writeSnapshot("t",
      spark.range(3, 6).selectExpr("id AS a", "id AS k"))
    store.commitManifest("t", Seq(s1, s2))
    val df = store.scan("t")
    // the union's own coercion decides (ANSI precedence: string-vs-bigint
    // resolves to bigint), one relation per snapshot — the documented
    // degraded path
    assert(df.schema("a").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(scanRelations(df) == 2)
    assert(df.select("a").collect().map(_.getLong(0)).sorted.toSeq
      == (0L to 5L))
  }
}
