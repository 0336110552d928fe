package graft.ext

import graft.SparkSpec
import graft.table.{MatView, TableStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialized views inside the erasure registry: a view created through
  * [[Retention.defineView]] is a registered cascade target, so every
  * partition/key cascade (and [[Maintenance.maintain]]) refreshes it as a
  * journaled operation — after an erasure the view NEVER keeps serving
  * the erased docs' aggregates, including across crashes recovered via a
  * NEW store. */
class MatViewCascadeSpec extends SparkSpec {

  private def corpus(): DataFrame = {
    import spark.implicits._
    (0 until 80).map { i =>
      val date = f"2026-01-${i % 4 + 1}%02d"
      val words = (0 until 10).map(j => s"w${(i * 13 + j * 5) % 97}")
      (i.toLong, date, words.mkString(" "), (i * 37 % 500 + 20).toLong)
    }.toDF("doc_id", "date", "text", "n_chars")
  }

  private def expected(df: DataFrame): Seq[String] =
    df.groupBy("date")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
      .collect().toSeq.map(_.toString).sorted

  private def viewRows(store: TableStore): Seq[String] =
    new MatView(store).read("v").collect().toSeq.map(_.toString).sorted

  private def measures = Seq(MatView.Count("n_docs"),
    MatView.Sum("n_chars", "sum_chars"), MatView.Min("n_chars", "min_chars"),
    MatView.Max("n_chars", "max_chars"))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("key cascade refreshes a registered view to the survivor aggregate") {
    val full = corpus()
    val store = new TableStore(spark, tmp("graft_mvc"))
    store.overwrite("docs", full)
    Retention.defineView(store, "docs", "v", Seq("date"), measures)
    assert(Retention.registeredIndexes(store, "docs") ==
      Seq(Retention.View("v")))
    assert(viewRows(store) == expected(full))
    val doomed = full.where(col("doc_id") % 5 === 0).select("doc_id")
    assert(Retention.deleteByKeysCascade(store, "docs", "doc_id", doomed,
      indexes = Nil))
    assert(viewRows(store) == expected(full.where(col("doc_id") % 5 =!= 0)),
      "the view must stop serving the erased docs' aggregates")
    assert(!store.exists(Retention.journalStateName("docs")) ||
      store.scan(Retention.journalStateName("docs")).isEmpty)
  }

  test("partition cascade refreshes a registered view") {
    val full = corpus()
    val store = new TableStore(spark, tmp("graft_mvcp"))
    store.overwritePartitioned("docs", full, Seq("date"))
    Retention.defineView(store, "docs", "v", Seq("date"), measures)
    assert(Retention.expirePartitionsBelowCascade(store, "docs", "date",
      cutoff = "2026-01-03", idCol = "doc_id", indexes = Nil))
    assert(viewRows(store) == expected(full.where(col("date") >= "2026-01-03")),
      "the expired partitions' aggregates must leave the view")
  }

  test("crash between the DV commit and the refresh: the drain completes the view") {
    val full = corpus()
    val dir = tmp("graft_mvcc")
    val s0 = new TableStore(spark, dir)
    s0.overwrite("docs", full)
    Retention.defineView(s0, "docs", "v", Seq("date"), measures)
    val doomed = full.where(col("doc_id") % 5 === 0).select("doc_id")
    Retention.failpoint = l =>
      if (l == "committed-mark") throw new RuntimeException("simulated")
    try intercept[RuntimeException] {
      Retention.deleteByKeysCascade(s0, "docs", "doc_id", doomed,
        indexes = Nil)
    } finally Retention.failpoint = _ => ()
    val s1 = new TableStore(spark, dir) // "new process"
    // the table-side vector landed; the view is STALE until the drain
    assert(s1.scan("docs").count() == 64)
    assert(viewRows(s1) == expected(full),
      "pre-drain the view still holds the pre-erasure aggregate")
    Retention.drainPendingCascades(s1, "docs")
    assert(viewRows(s1) == expected(full.where(col("doc_id") % 5 =!= 0)),
      "the drained refresh must complete the erasure")
    assert(!s1.exists(Retention.journalStateName("docs")) ||
      s1.scan(Retention.journalStateName("docs")).isEmpty)
  }

  test("crash after the refresh, before its done marker: the replay is idempotent") {
    val full = corpus()
    val dir = tmp("graft_mvci")
    val s0 = new TableStore(spark, dir)
    s0.overwrite("docs", full)
    Retention.defineView(s0, "docs", "v", Seq("date"), measures)
    val doomed = full.where(col("doc_id") % 5 === 0).select("doc_id")
    Retention.failpoint = l =>
      if (l == "target-pre-mark-0") throw new RuntimeException("simulated")
    try intercept[RuntimeException] {
      Retention.deleteByKeysCascade(s0, "docs", "doc_id", doomed,
        indexes = Nil)
    } finally Retention.failpoint = _ => ()
    val s1 = new TableStore(spark, dir)
    Retention.drainPendingCascades(s1, "docs")
    assert(viewRows(s1) == expected(full.where(col("doc_id") % 5 =!= 0)))
  }

  test("a view dropped without unregistering skips loudly instead of wedging the journal") {
    val full = corpus()
    val store = new TableStore(spark, tmp("graft_mvcd"))
    store.overwrite("docs", full)
    Retention.defineView(store, "docs", "v", Seq("date"), measures)
    store.drop("v")
    val doomed = full.where(col("doc_id") % 5 === 0).select("doc_id")
    assert(Retention.deleteByKeysCascade(store, "docs", "doc_id", doomed,
      indexes = Nil), "the cascade must still erase the table side")
    assert(!store.exists(Retention.journalStateName("docs")) ||
      store.scan(Retention.journalStateName("docs")).isEmpty,
      "the journal must clear — a missing view is not a wedge")
  }

  test("views and indexes cascade together through one registry") {
    val full = corpus()
    val store = new TableStore(spark, tmp("graft_mvcm"))
    store.overwrite("docs", full)
    NearDupIndex.buildNearDupIndex(store, "nd", full, "text", "doc_id",
      numBuckets = 2, registerFor = Some("docs"))
    Retention.defineView(store, "docs", "v", Seq("date"), measures)
    assert(Retention.registeredIndexes(store, "docs").toSet ==
      Set(Retention.NearDup("nd", 2), Retention.View("v")))
    val doomed = full.where(col("doc_id") % 5 === 0).select("doc_id")
    assert(Retention.deleteByKeysCascade(store, "docs", "doc_id", doomed,
      indexes = Nil))
    val survivors = full.where(col("doc_id") % 5 =!= 0)
    assert(viewRows(store) == expected(survivors))
    // the index deletion vectors hide the erased docs: a probe with an erased
    // doc's text must only match survivors
    val fresh = new TableStore(spark, tmp("graft_mvcf"))
    NearDupIndex.buildNearDupIndex(fresh, "nd", survivors, "text",
      "doc_id", numBuckets = 2)
    val batch = full.where(col("doc_id").isin(10L, 63L))
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    def probe(s: TableStore) = NearDupIndex.nearDupAgainstIndex(s, "nd",
      batch, "text", "doc_id", threshold = 0.5, materialize = false)
      .collect().toSeq.map(_.toString).sorted
    assert(probe(store) == probe(fresh))
  }

  test("maintain() refreshes registered views alongside the fold") {
    val full = corpus()
    val store = new TableStore(spark, tmp("graft_mvcmt"))
    store.overwrite("docs", full.where(col("doc_id") < 40))
    Retention.defineView(store, "docs", "v", Seq("date"), measures)
    store.append("docs", full.where(col("doc_id") >= 40))
    store.deleteByKeysDV("docs", Seq("doc_id"),
      full.where(col("doc_id") % 7 === 0).select("doc_id"))
    Maintenance.maintain(store, "docs", maxSnapshots = 0)
    assert(viewRows(store) == expected(full.where(col("doc_id") % 7 =!= 0)),
      "one maintain() pass must leave the view consistent with the base")
  }

  test("registerIndex crash window: the new row lands before the old row leaves") {
    val full = corpus()
    val store = new TableStore(spark, tmp("graft_mvcr"))
    store.overwrite("docs", full)
    Retention.registerIndex(store, "docs", Retention.NearDup("nd", 2))
    // re-register (a streaming curate batch does this every rebuild) and
    // die between the append and the old-row delete: the registry holds
    // transient DUPLICATES, never a window with the index absent
    Retention.failpoint = l =>
      if (l == "registry-appended") throw new RuntimeException("simulated")
    try intercept[RuntimeException] {
      Retention.registerIndex(store, "docs", Retention.NearDup("nd", 4))
    } finally Retention.failpoint = _ => ()
    val regRows = store.scan(Retention.indexRegistryName("docs"))
      .where(col("index_name") === "nd").count()
    assert(regRows == 2, "both rows survive the crash window")
    // newest-wins dedup: exactly one target, the re-registered one
    assert(Retention.registeredIndexes(store, "docs") ==
      Seq(Retention.NearDup("nd", 4)))
    // the next register heals the duplicates
    Retention.registerIndex(store, "docs", Retention.NearDup("nd", 8))
    assert(store.scan(Retention.indexRegistryName("docs"))
      .where(col("index_name") === "nd").count() == 1)
  }

  test("status(): lease, pending journal, and registered targets in one frame") {
    val full = corpus()
    val store = new TableStore(spark, tmp("graft_mvcs"))
    store.overwrite("docs", full)
    NearDupIndex.buildNearDupIndex(store, "nd", full, "text", "doc_id",
      numBuckets = 2, registerFor = Some("docs"))
    Retention.defineView(store, "docs", "v", Seq("date"), measures)
    val idle = Retention.status(store, "docs").collect()
    assert(idle.count(_.getString(0) == "registered") == 2)
    assert(!idle.exists(_.getString(0) == "lease"))
    assert(!idle.exists(_.getString(0) == "pending"))
    // crash a cascade mid-flight: status must show the pending journal
    Retention.failpoint = l =>
      if (l == "committed-mark") throw new RuntimeException("simulated")
    try intercept[RuntimeException] {
      Retention.deleteByKeysCascade(store, "docs", "doc_id",
        full.where(col("doc_id") % 5 === 0).select("doc_id"), indexes = Nil)
    } finally Retention.failpoint = _ => ()
    val pending = Retention.status(store, "docs").collect()
    val p = pending.filter(_.getString(0) == "pending")
    assert(p.length == 1, "one crashed cascade pending")
    assert(p.head.getString(2).contains("targets=matview:v,neardup:nd"))
    Retention.drainPendingCascades(store, "docs")
    val after = Retention.status(store, "docs").collect()
    assert(!after.exists(_.getString(0) == "pending"))
    assert(after.exists(_.getString(0) == "last_drain"),
      "a completed drain must stamp last_drain")
  }
}
