package graft.ext

import graft.SparkSpec
import graft.table.TableStore
import org.apache.spark.graft.JobRecorder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** The shape of a query served from a BM25 index — three Spark jobs, no
  * broadcast, no exchange below the postings ⋈ terms join — and the corpus
  * stats it reads from the stats table's footers: fresh after another
  * store's writes, scanned when the footers cannot answer. */
class Bm25IndexedQuerySpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val vocab = Seq("hash", "join", "shuffle", "sort", "merge",
    "spill", "disk", "scan", "prune", "filter", "bucket", "stage",
    "task", "broadcast", "skew")

  /** 60 documents of 0–11 words drawn from `vocab` by a fixed LCG. */
  private val docs: Seq[(Long, String)] = {
    var x = 12345L
    def next(n: Int): Int = {
      x = (x * 6364136223846793005L + 1442695040888963407L)
      ((x >>> 33) % n).toInt
    }
    (1L to 60L).map(id => id -> Seq.fill(next(12))(vocab(next(vocab.size))).mkString(" "))
  }

  private val queries = Seq(0L -> "hash join", 1L -> "shuffle sort merge",
    2L -> "spill", 3L -> "skew bucket stage task", 4L -> "warpdrive")

  private val numBuckets = 4

  private def newDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def frame(ds: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    ds.toDF("doc_id", "text")
  }

  private def rows(df: DataFrame) =
    df.orderBy("query_id", "rank").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDecimal(3)))

  private def results(store: TableStore) =
    rows(Retrieval.bm25TopKIndexed(store, "c", queries, k = 5))

  /** The results of a fresh full build over `live`. */
  private def rebuilt(live: Seq[(Long, String)]) = {
    val store = new TableStore(spark, newDir("graft_bm25_ref"))
    Retrieval.buildBm25Index(store, "c", frame(live), "text", "doc_id", numBuckets)
    results(store)
  }

  test("an indexed query runs 3 jobs with no broadcast, the first after every index write included") {
    val store = new TableStore(spark, newDir("graft_bm25_shape"))
    def check(what: String): Unit = {
      val ((df, _), jobs) = JobRecorder.record(spark.sparkContext) {
        val df = Retrieval.bm25TopKIndexed(store, "c", queries, k = 5)
        (df, df.collect())
      }
      val launched = jobs.size
      assert(launched == 3, what)
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) { case e: BroadcastExchangeLike => e }.isEmpty,
        s"$what: no broadcast\n$plan")
      val joins = collect(plan) { case j: SortMergeJoinExec => j }
      assert(joins.size == 1, s"$what: one postings ⋈ terms join\n$plan")
      assert(collect(joins.head) { case e: Exchange => e }.isEmpty,
        s"$what: the co-bucketed join needs no exchange\n$plan")
      val scans = collect(plan) { case s: FileSourceScanExec => s }
      assert(scans.size == 2 && scans.forall(s =>
          s.bucketedScan && s.metadata.contains("SelectedBucketsCount")),
        s"$what: both index scans bucket-prune\n$plan")
    }
    Retrieval.buildBm25Index(store, "c", frame(docs.take(30)), "text", "doc_id", numBuckets)
    check("after build")
    Retrieval.appendBm25Index(store, "c", frame(docs.drop(30)), "text", "doc_id", numBuckets)
    check("after append")
    Retrieval.deleteFromBm25Index(store, "c", frame(docs.filter(_._1 % 7 == 0)),
      "text", "doc_id", numBuckets)
    check("after delete")
    Retrieval.compactBm25Index(store, "c", numBuckets)
    check("after compaction")
  }

  test("corpus stats stay fresh when a second store appends, deletes and compacts") {
    val dir = newDir("graft_bm25_fresh")
    val a = new TableStore(spark, dir)
    val b = new TableStore(spark, dir)
    Retrieval.buildBm25Index(a, "c", frame(docs.take(30)), "text", "doc_id", numBuckets)
    assert(results(a) == rebuilt(docs.take(30)))
    Retrieval.appendBm25Index(b, "c", frame(docs.drop(30)), "text", "doc_id", numBuckets)
    assert(results(a) == rebuilt(docs), "after another store's append")
    val deleted = docs.filter(_._1 % 5 == 2)
    val live = docs.filterNot(deleted.contains)
    Retrieval.deleteFromBm25Index(b, "c", frame(deleted), "text", "doc_id", numBuckets)
    assert(results(a) == rebuilt(live), "after another store's delete")
    Retrieval.compactBm25Index(b, "c", numBuckets)
    assert(results(a) == rebuilt(live), "after another store's compaction")
  }

  test("a stats table with a multi-row file is scanned, with identical results") {
    val store = new TableStore(spark, newDir("graft_bm25_multirow"))
    Retrieval.buildBm25Index(store, "c", frame(docs.take(30)), "text", "doc_id", numBuckets)
    Retrieval.appendBm25Index(store, "c", frame(docs.drop(30)), "text", "doc_id", numBuckets)
    val want = results(store)
    val stats = store.scan("c_stats").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(stats.length == 2)
    import spark.implicits._
    store.overwrite("c_stats", stats.toSeq.toDF("n_docs", "sum_dl").coalesce(1))
    assert(store.columnRowGroups("c_stats", "n_docs").exists(_.exists(_.rows > 1)),
      "the rewritten stats must hold a multi-row row group")
    val (got, jobs) = JobRecorder.record(spark.sparkContext)(results(store))
    assert(got == want)
    val launched = jobs.size
    assert(launched > 3, "the fallback scans the stats table")
  }

  test("an index whose documents are all deleted returns no rows") {
    val store = new TableStore(spark, newDir("graft_bm25_empty"))
    Retrieval.buildBm25Index(store, "c", frame(docs), "text", "doc_id", numBuckets)
    Retrieval.deleteFromBm25Index(store, "c", frame(docs), "text", "doc_id", numBuckets)
    assert(results(store).isEmpty)
    Retrieval.compactBm25Index(store, "c", numBuckets)
    assert(results(store).isEmpty)
  }

  /** Both index scans of an indexed query: bucketed, with their bucket
    * counts. */
  private def indexScanBuckets(df: DataFrame): Seq[Int] = {
    val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.size == 2 && scans.forall(_.bucketedScan),
      s"both index scans read bucketed\n${df.queryExecution.executedPlan}")
    scans.map(_.relation.bucketSpec.get.numBuckets)
  }

  test("an emptied index reads back from a new store: no rows, its schema") {
    val dir = newDir("graft_bm25_emptied")
    val store = new TableStore(spark, dir)
    Retrieval.buildBm25Index(store, "c", frame(docs), "text", "doc_id", numBuckets)
    Retrieval.deleteFromBm25Index(store, "c", frame(docs), "text", "doc_id", numBuckets)
    Retrieval.compactBm25Index(store, "c", numBuckets)
    // a new process starts with an empty session catalog
    spark.catalog.listTables().collect().foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    val fresh = new TableStore(spark, dir)
    val postings = fresh.scan("c_postings")
    assert(postings.columns.toSeq == Seq("term", "doc_id", "dl", "tf"))
    assert(postings.count() == 0)
    val terms = fresh.scan("c_terms")
    assert(terms.columns.toSeq == Seq("term", "df"))
    assert(terms.count() == 0)
    assert(results(fresh).isEmpty)
  }

  test("time travel reads the postings before a compaction, bucketed") {
    val store = new TableStore(spark, newDir("graft_bm25_tt"), retainVersions = 2)
    Retrieval.buildBm25Index(store, "c", frame(docs.take(30)), "text", "doc_id", numBuckets)
    Retrieval.deleteFromBm25Index(store, "c", frame(docs.take(5)), "text", "doc_id", numBuckets)
    val before = store.versions("c_postings").last
    val termsBefore = store.versions("c_terms").last
    val rowsBefore = store.scan("c_postings").orderBy("term", "doc_id", "tf").collect().toSeq
    assert(rowsBefore.exists(_.getLong(3) < 0), "the delete appended negated rows")
    Retrieval.compactBm25Index(store, "c", numBuckets)
    assert(store.scan("c_postings").where("tf <= 0").count() == 0)
    val old = store.scanAsOf("c_postings", before)
    assert(old.orderBy("term", "doc_id", "tf").collect().toSeq == rowsBefore)
    val q = old.where("term = 'hash'").groupBy("term", "doc_id").agg(sum("tf").as("tf"))
      .join(store.scanAsOf("c_terms", termsBefore)
        .where("term = 'hash'").groupBy("term").agg(sum("df").as("df")).hint("merge"), "term")
    assert(indexScanBuckets(q) == Seq(numBuckets, numBuckets))
  }

  test("a compaction reaps the snapshot dirs it replaces") {
    val dir = newDir("graft_bm25_gc")
    val store = new TableStore(spark, dir, gcGraceMs = 0L)
    Retrieval.buildBm25Index(store, "c", frame(docs.take(30)), "text", "doc_id", numBuckets)
    Retrieval.appendBm25Index(store, "c", frame(docs.drop(30)), "text", "doc_id", numBuckets)
    def snapDirs(t: String) = new java.io.File(dir, t).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("snap-")).map(_.getName).toSet
    val replaced = snapDirs("c_postings")
    assert(replaced.size == 2)
    val want = results(store)
    Retrieval.compactBm25Index(store, "c", numBuckets)
    TableStore.awaitReap()
    val live = snapDirs("c_postings")
    assert(live.size == 1 && (live & replaced).isEmpty,
      s"replaced ${replaced.mkString(",")}, left ${live.mkString(",")}")
    assert(store.manifestEntries("c_postings").toSet == live)
    assert(results(store) == want)
  }
}
