package graft.table

import graft.SparkSpec
import graft.ops.Merge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** The 100 TB steady-state claim, proven in the plan: a full-outer MERGE
  * between a bucketed target and an identically bucketed staging batch
  * runs with ZERO hash-partitioning exchanges — neither side reshuffles.
  * Bucketed tables are ordinary manifest tables: their bucketing travels
  * with the snapshots, so any store on the root scans them bucketed and
  * the session catalog is never touched. */
class BucketedMergeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def newRoot(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A session starts with an empty catalog: dropping every entry is the
    * in-JVM stand-in for a new process opening the store. */
  private def dropCatalogTables(): Unit =
    spark.catalog.listTables().collect().foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))

  /** Bucket counts of the file scans of an a ⋈ b sort-merge join on `k`,
    * after asserting that the join plans no exchange (broadcast off, so
    * only the bucketing can spare the shuffle). */
  private def coBucketedJoin(a: DataFrame, b: DataFrame): Seq[Int] = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = a.as("a").join(b.as("b"), "k")
      val plan = joined.queryExecution.executedPlan
      assert(plan.toString.contains("SortMergeJoin"), s"expected a merge join:\n$plan")
      assert(!plan.toString.contains("Exchange hashpartitioning"),
        s"a co-bucketed join must not reshuffle either side:\n$plan")
      val scans = collect(plan) { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty && scans.forall(_.bucketedScan),
        s"every scan must read bucketed:\n$plan")
      scans.map(_.relation.bucketSpec.get.numBuckets)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("full-outer merge over co-bucketed tables has no exchange") {
    val store = new TableStore(spark, newRoot("graft_bktm"))
    val target = spark.range(0, 5000, 1, 8).toDF("k")
      .withColumn("_id", col("k") + 1)
      .withColumn("v", (col("k") % 17).cast("double"))
      .withColumn("_updated_at", lit("2026-01-01 00:00:00").cast("timestamp"))
    val stage = spark.range(0, 500, 1, 4)
      .select((col("id") * 7).as("k"))
      .withColumn("_id", col("k") + 100000L)
      .withColumn("v", lit(-1.0))
    store.overwriteBucketed("tgt", target, Seq("k"), numBuckets = 8)
    store.overwriteBucketed("stg", stage, Seq("k"), numBuckets = 8)
    val merged = Merge.merge(
      store.scan("tgt"), store.scan("stg"),
      Timestamp.valueOf("2026-02-02 00:00:00"),
      Merge.MergeSpec(uniqueKeys = Seq("k"),
        preserveColumns = Seq("_id"), updatedAtColumn = Some("_updated_at"),
        strategy = Merge.MergeStrategy.FullOuter))
    val plan = merged.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin FullOuter") || plan.contains("FullOuter"),
      s"expected the full-outer join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"co-bucketed merge must not reshuffle either side:\n$plan")
    // and the semantics still hold
    assert(merged.count() == 5000)
    assert(merged.where(col("v") === -1.0).count() == 500)
  }

  test("a new store on the same root scans bucketed and appends into it") {
    val root = newRoot("graft_bkts")
    val df = spark.range(0, 1000, 1, 4).toDF("k")
      .withColumn("v", (col("k") % 13).cast("double"))
    new TableStore(spark, root).overwriteBucketed("t", df, Seq("k"), numBuckets = 4)
    dropCatalogTables()
    val store = new TableStore(spark, root)
    assert(store.scan("t").count() == 1000)
    assert(coBucketedJoin(store.scan("t"), store.scan("t")) == Seq(4, 4))
    store.appendBucketed("t",
      spark.range(1000, 1100, 1, 2).toDF("k")
        .withColumn("v", lit(0.0)), Seq("k"), numBuckets = 4)
    assert(store.scan("t").count() == 1100)
    assert(coBucketedJoin(store.scan("t"), store.scan("t")) == Seq(4, 4))
  }

  test("a re-bucket by a second store reaches the first store's next scan") {
    val root = newRoot("graft_bktf")
    val a = new TableStore(spark, root)
    val b = new TableStore(spark, root)
    a.overwriteBucketed("t", spark.range(0, 400, 1, 4).toDF("k")
      .withColumn("v", lit(1.0)), Seq("k"), numBuckets = 4)
    assert(coBucketedJoin(a.scan("t"), a.scan("t")) == Seq(4, 4))
    b.overwriteBucketed("t", spark.range(0, 900, 1, 4).toDF("k")
      .withColumn("v", lit(2.0)), Seq("k"), numBuckets = 8)
    assert(a.scan("t").count() == 900)
    assert(coBucketedJoin(a.scan("t"), a.scan("t")) == Seq(8, 8))
    // the old spec is refused, the new one lands
    intercept[IllegalArgumentException](a.appendBucketed("t",
      spark.range(900, 950).toDF("k").withColumn("v", lit(3.0)),
      Seq("k"), numBuckets = 4))
    a.appendBucketed("t", spark.range(900, 950, 1, 2).toDF("k")
      .withColumn("v", lit(3.0)), Seq("k"), numBuckets = 8)
    assert(a.scan("t").count() == 950)
    assert(coBucketedJoin(a.scan("t"), b.scan("t")) == Seq(8, 8))
  }

  test("the same bucketed table name in two roots stays independent") {
    val a = new TableStore(spark, newRoot("graft_bkta"))
    val b = new TableStore(spark, newRoot("graft_bktb"))
    val dfA = spark.range(0, 10).toDF("k").withColumn("src", lit("a"))
    val dfB = spark.range(0, 20).toDF("k").withColumn("src", lit("b"))
    a.overwriteBucketed("t", dfA, Seq("k"), numBuckets = 2)
    b.overwriteBucketed("t", dfB, Seq("k"), numBuckets = 4)
    assert(a.scan("t").count() == 10)
    assert(b.scan("t").count() == 20)
    assert(a.scan("t").select("src").distinct().collect().head.getString(0) == "a")
    assert(coBucketedJoin(a.scan("t"), a.scan("t")) == Seq(2, 2))
    assert(coBucketedJoin(b.scan("t"), b.scan("t")) == Seq(4, 4))
  }

  test("an index build leaves the session catalog unchanged") {
    import spark.implicits._
    val before = spark.catalog.listTables().collect().map(_.name).toSet
    val store = new TableStore(spark, newRoot("graft_bktcat"))
    val corpus = Seq(1L -> "hash join", 2L -> "sort merge join", 3L -> "hash")
      .toDF("doc_id", "text")
    graft.ext.Retrieval.buildBm25Index(store, "c", corpus, "text", "doc_id", 2)
    graft.ext.Retrieval.appendBm25Index(store, "c",
      Seq(4L -> "merge").toDF("doc_id", "text"), "text", "doc_id", 2)
    graft.ext.Retrieval.compactBm25Index(store, "c", 2)
    assert(spark.catalog.listTables().collect().map(_.name).toSet == before)
    assert(store.scan("c_postings").count() == 7)
  }

  test("a failed bucketed overwrite keeps the previous rows, bucketed") {
    val store = new TableStore(spark, newRoot("graft_bktfail"))
    store.overwriteBucketed("t", spark.range(0, 1000, 1, 4).toDF("k"),
      Seq("k"), numBuckets = 4)
    val failing = spark.range(0, 500, 1, 4).select(
      when(col("id") === 250L, raise_error(lit("planted failure")))
        .otherwise(col("id")).as("k"))
    intercept[Exception](
      store.overwriteBucketed("t", failing, Seq("k"), numBuckets = 4))
    assert(store.scan("t").count() == 1000)
    assert(coBucketedJoin(store.scan("t"), store.scan("t")) == Seq(4, 4))
  }

  test("deleteWhere and compact keep a bucketed table bucket-pruned") {
    val store = new TableStore(spark, newRoot("graft_bktrw"))
    store.overwriteBucketed("t", spark.range(0, 1000, 1, 4).toDF("k"),
      Seq("k"), numBuckets = 4)
    // an aggregate on the bucket key keeps the scan bucketed (Spark
    // turns off a bucketed scan no operator above needs)
    def assertPruned(what: String): Unit = {
      val q = store.scan("t").where(col("k") === 42L).groupBy("k").count()
      val scans = collect(q.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s }
      assert(scans.nonEmpty && scans.forall(s => s.bucketedScan &&
          s.metadata.contains("SelectedBucketsCount")),
        s"$what must leave the table bucketed:\n${q.queryExecution.executedPlan}")
      assert(q.count() == 1)
    }
    store.deleteWhere("t", col("k") % 10 === 3)
    assertPruned("deleteWhere")
    store.compact("t", maxSnapshots = 0)
    assertPruned("compact")
    assert(store.scan("t").count() == 900)
  }

  test("a plain append onto a bucketed table reads unbucketed, every row") {
    val store = new TableStore(spark, newRoot("graft_bktmix"))
    store.overwriteBucketed("t", spark.range(0, 300, 1, 3).toDF("k"),
      Seq("k"), numBuckets = 4)
    store.append("t", spark.range(300, 350).toDF("k"))
    val mixed = store.scan("t")
    assert(mixed.count() == 350)
    assert(mixed.agg(sum("k")).first().getLong(0) == (0L until 350L).sum)
    val scans = collect(mixed.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(_.relation.bucketSpec.isEmpty),
      "a manifest of mixed specs must not claim bucketing")
  }
}
