package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** File skipping by parquet footer min/max ([[TableStore.scanPruned]]):
  * pruning actually drops files from the plan with no analyze step, keeps
  * up with appends, never changes the answer, and keeps every file the
  * footers cannot answer for. */
class ZoneMapSpec extends SparkSpec {

  private def tmpStore() = new TableStore(spark,
    java.nio.file.Files.createTempDirectory("graft_zm").toString)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
      .toIndexedSeq.sorted

  /** A read's files as comparable paths: a file-list read renders its
    * files differently from a directory read. */
  private def files(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(f => new java.net.URI(f).getPath).toSet

  test("pruned scan reads fewer files and returns exactly the filtered rows") {
    import spark.implicits._
    val store = tmpStore()
    val df = (0L until 1000L).map(i => (i, i % 7)).toDF("k", "v")
    store.overwriteClustered("t", df, Seq("k"), numFiles = Some(10))
    val pruned = store.scanPruned("t", "k", 100L, 199L)
    val want = store.scan("t").where(col("k").between(100L, 199L))
    assert(pruned.orderBy("k").collect().toSeq ==
      want.orderBy("k").collect().toSeq)
    assert(pruned.inputFiles.length < store.scan("t").inputFiles.length,
      "a tight key range over a clustered table must skip files")
    // full-range predicate keeps everything
    assert(store.scanPruned("t", "k", 0L, 999L).count() == 1000L)
    // empty range: no file can match
    assert(store.scanPruned("t", "k", 5000L, 6000L).count() == 0L)
  }

  test("a read whose every file is skipped runs no Spark job and keeps the table schema") {
    val store = tmpStore()
    store.overwrite("t", spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v"))
    store.append("t", spark.range(100, 200)
      .selectExpr("id AS k", "id * 2 AS v", "'x' AS extra"))
    store.deleteByKeysDV("t", Seq("k"), spark.range(3, 4).toDF("k"))
    val df = store.scanPruned("t", "k", 5000L, 6000L)
    assert(df.schema == store.tableSchema("t"))
    val (got, jobs) = org.apache.spark.graft.JobRecorder.record(spark.sparkContext) {
      df.collect()
    }
    assert(got.isEmpty)
    assert(jobs.isEmpty, s"a fully skipped read ran ${jobs.size} jobs")
  }

  test("stale map: files appended after analyze are read unpruned") {
    import spark.implicits._
    val store = tmpStore()
    store.overwriteClustered("t",
      (0L until 100L).map(i => (i, "old")).toDF("k", "tag"),
      Seq("k"), numFiles = Some(4))
    // rows OUTSIDE every earlier file's range
    store.append("t", Seq((500L, "new"), (501L, "new")).toDF("k", "tag"))
    val got = store.scanPruned("t", "k", 400L, 600L)
      .select("k", "tag").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((500L, "new"), (501L, "new")))
  }

  test("all-null and missing-column files skip safely; no map = plain scan") {
    import spark.implicits._
    val store = tmpStore()
    store.overwrite("t", Seq((1L, Some(10L)), (2L, Some(20L))).toDF("k", "v"))
    store.append("t", Seq((3L, None: Option[Long])).toDF("k", "v")) // all-null v
    store.append("t", Seq(4L).toDF("k")) // no v column at all
    val pruned = store.scanPruned("t", "v", 0L, 100L)
    assert(pruned.select("k").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(pruned.inputFiles.length < store.scan("t").inputFiles.length,
      "files whose v is all null or absent cannot match the range")
    val store2 = tmpStore()
    store2.overwrite("u", Seq((1L, 5L)).toDF("k", "v"))
    assert(store2.scanPruned("u", "v", 0L, 10L).count() == 1L)
  }

  test("an append is skipped by the next pruned read, with nothing to refresh") {
    val store = tmpStore()
    store.overwrite("t", spark.range(0, 1000)
      .selectExpr("id AS k", "id * 2 AS v"))
    val firstFiles = files(store.scan("t"))
    assert(store.scanPruned("t", "k", 100L, 200L).count() == 101L)

    store.append("t", spark.range(5000, 6000)
      .selectExpr("id AS k", "id * 2 AS v"))
    val appended = files(store.scan("t")) -- firstFiles
    assert(appended.nonEmpty)
    val before = store.scanPruned("t", "k", 100L, 200L)
    assert(before.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (100L to 200L))
    assert(files(before).intersect(appended).isEmpty,
      "the append's files lie outside the probe range")
    val after = store.scanPruned("t", "k", 5100L, 5200L)
    assert(after.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (5100L to 5200L))
    assert(files(after).intersect(firstFiles).isEmpty,
      "a post-append range must skip the pre-append files")
    // any integer column prunes: no column list to declare
    assert(files(store.scanPruned("t", "v", 10200L, 10400L))
      .intersect(firstFiles).isEmpty)
  }

  test("a case-differing column name prunes and reads like the filtered scan") {
    import spark.implicits._
    val store = tmpStore()
    store.overwriteClustered("t",
      (0L until 1000L).map(i => (i, i % 7)).toDF("k", "v"), Seq("k"),
      numFiles = Some(10))
    val pruned = store.scanPruned("t", "K", 100L, 199L)
    assert(rows(pruned) == rows(store.scan("t").where(col("k").between(100L, 199L))))
    assert(pruned.inputFiles.length < store.scan("t").inputFiles.length)
  }

  test("a non-integral bound on a long column is never truncated") {
    import spark.implicits._
    val store = tmpStore()
    store.overwriteClustered("t",
      (0L until 100L).map(i => (i, i % 7)).toDF("k", "v"), Seq("k"),
      numFiles = Some(10))
    def ks(lo: Any, hi: Any) = store.scanPruned("t", "k", lo, hi)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(ks(25.5, 30.5) == (26L to 30L))
    assert(ks(20L, 25.5) == (20L to 25L))
    assert(ks(29.9, 30L) == Seq(30L))
  }

  test("string and timestamp columns read exact rows and skip nothing") {
    val store = tmpStore()
    store.overwriteClustered("t", spark.range(0, 400).selectExpr(
        "id AS k", "lpad(CAST(id AS STRING), 4, '0') AS s",
        "timestamp_seconds(id * 60) AS ts"),
      Seq("k"), numFiles = Some(8))
    val all = store.scan("t")
    val strs = store.scanPruned("t", "s", "0100", "0150")
    assert(rows(strs) == rows(all.where(col("s").between("0100", "0150"))))
    assert(strs.count() == 51L)
    assert(files(strs) == files(all))
    val lo = new java.sql.Timestamp(100L * 60 * 1000)
    val hi = new java.sql.Timestamp(150L * 60 * 1000)
    val tss = store.scanPruned("t", "ts", lo, hi)
    assert(rows(tss) == rows(all.where(col("ts").between(lit(lo), lit(hi)))))
    assert(tss.count() == 51L)
    assert(files(tss) == files(all))
  }

  test("a pruned read after a drop of hive-escaped partition values") {
    // footer files and read files are matched on normalized paths: the
    // partition directories of '=', ' ' and '%' values are hive-escaped,
    // and a rendering mismatch would silently keep (never skip) them
    val store = tmpStore()
    def batch(from: Long) = spark.range(from, from + 120).selectExpr("id AS k",
      "CASE WHEN id % 4 = 0 THEN 'a=b' WHEN id % 4 = 1 THEN 'c d' " +
        "WHEN id % 4 = 2 THEN 'e%f' ELSE 'plain' END AS src")
    store.appendPartitioned("t", batch(0L), Seq("src"))
    store.appendPartitioned("t", batch(1000L), Seq("src"))
    assert(store.dropPartitions("t", "src", Seq("a=b")))
    val all = store.scan("t")
    def read(lo: Long, hi: Long) = {
      val df = store.scanPruned("t", "k", lo, hi)
      assert(rows(df.select("k", "src")) ==
        rows(all.where(col("k").between(lo, hi)).select("k", "src")))
      files(df)
    }
    val low = read(0L, 119L)
    val high = read(1000L, 1119L)
    assert(low.nonEmpty && high.nonEmpty)
    assert(low.intersect(high).isEmpty, "each batch's files skip the other's range")
    assert(low ++ high == files(all))
    assert(store.scanPruned("t", "k", 0L, 2000L).where(col("src") === "a=b").isEmpty)
  }
}
