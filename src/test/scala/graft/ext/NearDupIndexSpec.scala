package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persistent LSH near-dup index: lossless vs the scan path, append ==
  * rebuild, bucket-pruned probes, and the big-batch broadcast fallback
  * produces the identical screen. */
class NearDupIndexSpec extends SparkSpec {

  /** Deterministic corpus with planted near-dups: every 10th doc has an
    * edited re-crawl in the batch (one appended token), plus fresh docs
    * that must not match anything. */
  private def corpus(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val words = (0 until 14).map(j => s"w${(i * 13 + j * 5) % 97}")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def batchOf(c: DataFrame): DataFrame =
    c.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000L).as("doc_id"),
        concat(col("text"), lit(" edited")).as("text"))
      .unionByName(c.where(col("doc_id") % 10 === 1)
        .select((col("doc_id") + 2000L).as("doc_id"),
          concat(lit("totally different content here "),
            col("doc_id").cast("string")).as("text")))

  private def tmpStore() = new graft.table.TableStore(spark,
    java.nio.file.Files.createTempDirectory("graft_ndidx").toString)

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.orderBy("batch_id", "corpus_id").collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2)))

  test("indexed screen is row-identical to the scan path, finds the plants") {
    val c = corpus(80)
    val b = batchOf(c)
    val store = tmpStore()
    NearDupIndex.buildNearDupIndex(store, "nd", c, "text", "doc_id",
      numBuckets = 4)
    val indexed = NearDupIndex.nearDupAgainstIndex(store, "nd", b,
      "text", "doc_id", threshold = 0.5)
    val scan = Dedup.incrementalNearDupPairs(c, b, "text", "doc_id",
      threshold = 0.5)
    assert(rows(indexed) == rows(scan),
      "index must be lossless: same pairs, same jaccard")
    // every edited re-crawl is found against its source doc
    val found = rows(indexed).map(p => (p._1, p._2)).toSet
    (0 until 80 by 10).foreach { i =>
      assert(found.contains((i + 1000L, i.toLong)), s"planted pair $i missed")
    }
    // fresh docs match nothing
    assert(rows(indexed).forall(_._1 < 2000L))
  }

  test("append-grown index screens identically to a from-scratch rebuild") {
    val c = corpus(80)
    val b = batchOf(c)
    val grown = tmpStore()
    NearDupIndex.buildNearDupIndex(grown, "nd",
      c.where(col("doc_id") % 2 === 0), "text", "doc_id", numBuckets = 4)
    NearDupIndex.appendNearDupIndex(grown, "nd",
      c.where(col("doc_id") % 2 === 1), "text", "doc_id", numBuckets = 4)
    val full = tmpStore()
    NearDupIndex.buildNearDupIndex(full, "nd", c, "text", "doc_id",
      numBuckets = 4)
    assert(rows(NearDupIndex.nearDupAgainstIndex(grown, "nd", b,
        "text", "doc_id", threshold = 0.5)) ==
      rows(NearDupIndex.nearDupAgainstIndex(full, "nd", b,
        "text", "doc_id", threshold = 0.5)))
    // append adds files, never rewrites
    assert(grown.scan("nd_bands").inputFiles.length >
      full.scan("nd_bands").inputFiles.length)
  }

  test("tombstoned corpus docs stop matching immediately") {
    import spark.implicits._
    val c = corpus(80)
    val b = batchOf(c)
    val store = tmpStore()
    NearDupIndex.buildNearDupIndex(store, "nd", c, "text", "doc_id",
      numBuckets = 4)
    val before = rows(NearDupIndex.nearDupAgainstIndex(store, "nd", b,
      "text", "doc_id", threshold = 0.5))
    assert(before.exists(_._2 == 0L))
    NearDupIndex.deleteFromNearDupIndex(store, "nd", Seq(0L, 10L).toDF("doc_id"),
      tag = "t1")
    val after = rows(NearDupIndex.nearDupAgainstIndex(store, "nd", b,
      "text", "doc_id", threshold = 0.5))
    assert(after == before.filterNot(p => p._2 == 0L || p._2 == 10L),
      "only the tombstoned corpus docs' pairs may disappear")
  }

  test("compaction removes tombstoned docs physically, screen unchanged") {
    import spark.implicits._
    val c = corpus(80)
    val b = batchOf(c)
    val store = tmpStore()
    NearDupIndex.buildNearDupIndex(store, "nd", c, "text", "doc_id",
      numBuckets = 4)
    NearDupIndex.deleteFromNearDupIndex(store, "nd", Seq(0L).toDF("doc_id"),
      tag = "t1")
    val before = rows(NearDupIndex.nearDupAgainstIndex(store, "nd", b,
      "text", "doc_id", threshold = 0.5))
    NearDupIndex.compactNearDupIndex(store, "nd")
    assert(Seq("nd_bands", "nd_docs").forall(t =>
      !store.manifestEntries(t).exists(_.startsWith("dv-"))),
      "compaction must fold the deletion vectors into the files")
    assert(store.scan("nd_bands").where(col("doc_id") === 0L).count() == 0)
    assert(store.scan("nd_docs").where(col("doc_id") === 0L).count() == 0)
    assert(rows(NearDupIndex.nearDupAgainstIndex(store, "nd", b,
      "text", "doc_id", threshold = 0.5)) == before)
  }

  test("a doc re-added after its delete is served at once") {
    import spark.implicits._
    val c = corpus(80)
    val b = batchOf(c)
    val store = tmpStore()
    NearDupIndex.buildNearDupIndex(store, "nd", c, "text", "doc_id",
      numBuckets = 4)
    def probe() = rows(NearDupIndex.nearDupAgainstIndex(store, "nd", b,
      "text", "doc_id", threshold = 0.5))
    val full = probe()
    assert(full.exists(_._2 == 10L))
    NearDupIndex.deleteFromNearDupIndex(store, "nd", Seq(10L).toDF("doc_id"),
      tag = "t1")
    assert(!probe().exists(_._2 == 10L))
    NearDupIndex.appendNearDupIndex(store, "nd",
      c.where(col("doc_id") === 10L), "text", "doc_id", numBuckets = 4)
    assert(probe() == full, "the re-added doc must be served at once")
  }

  test("probe bucket-prunes the bands table; fallback mode is identical") {
    val c = corpus(80)
    val b = batchOf(c).where(col("doc_id") === 1000L)
    val store = tmpStore()
    NearDupIndex.buildNearDupIndex(store, "nd", c, "text", "doc_id",
      numBuckets = 4)
    // a delete must not cost the probe its bucket pruning
    import spark.implicits._
    NearDupIndex.deleteFromNearDupIndex(store, "nd", Seq(5L).toDF("doc_id"),
      tag = "t1")
    val out = NearDupIndex.nearDupAgainstIndex(store, "nd", b,
      "text", "doc_id", threshold = 0.5, materialize = false)
    val p = out.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("SelectedBucketsCount"),
      s"bands scan must bucket-prune on the batch's band keys:\n$p")
    // forcing the broadcast-semi fallback (maxProbeLiterals = 0) must
    // produce the identical screen
    val fb = NearDupIndex.nearDupAgainstIndex(store, "nd", b,
      "text", "doc_id", threshold = 0.5, maxProbeLiterals = 0)
    assert(rows(out) == rows(fb))
  }
}
