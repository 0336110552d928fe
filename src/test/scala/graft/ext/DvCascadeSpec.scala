package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ID-level retention cascade (`deleteByKeysCascade`): specific doc
  * ids erased from the table through one deletion-vector commit AND from
  * every persistent index, crash-durable through the same journal as the
  * partition cascade — after the cascade, every family's probe equals the
  * same probe against a FRESH index built on the surviving corpus. */
class DvCascadeSpec extends SparkSpec {

  /** True iff none of `tables`' manifests holds a deletion vector. */
  private def noDv(s: graft.table.TableStore, tables: String*): Boolean =
    tables.forall(t => !s.manifestEntries(t).exists(_.startsWith("dv-")))

  private def tmpStore() = new graft.table.TableStore(spark,
    java.nio.file.Files.createTempDirectory("graft_dvcasc").toString)

  private def corpus(): DataFrame = {
    import spark.implicits._
    (0 until 90).map { i =>
      val words = (0 until 14).map(j => s"w${(i * 13 + j * 5) % 97}")
      (i.toLong, words.mkString(" "),
        Array.tabulate(4)(d => math.sin(i * 7 + d).toFloat))
    }.toDF("doc_id", "text", "vec")
  }

  /** doomed ids: every fifth doc (18 of 90). */
  private def doomedIds(full: DataFrame): DataFrame =
    full.where(col("doc_id") % 5 === 0).select("doc_id")

  private def survivors(full: DataFrame): DataFrame =
    full.where(col("doc_id") % 5 =!= 0)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  private def allTargets = Seq(Retention.NearDup("nd"),
    Retention.Bm25("bm", "text", numBuckets = 2),
    Retention.Positional("pos"), Retention.Ivf("ivf"))

  private def buildAll(store: graft.table.TableStore,
      docs: DataFrame): Unit = {
    NearDupIndex.buildNearDupIndex(store, "nd", docs, "text", "doc_id",
      numBuckets = 2)
    Retrieval.buildBm25Index(store, "bm", docs, "text", "doc_id",
      numBuckets = 2)
    Retrieval.buildPositionalIndex(store, "pos", docs, "text", "doc_id",
      numBuckets = 2)
    VectorIndex.buildIvfIndex(store, "ivf", docs, "vec", "doc_id",
      nCells = 4, numBuckets = 2)
  }

  private def probeAll(store: graft.table.TableStore,
      full: DataFrame): Seq[String] = {
    val batch = full.where(col("doc_id").isin(10L, 63L)) // 10 doomed, 63 not
      .select((col("doc_id") + 1000L).as("doc_id"),
        concat(col("text"), lit(" edited")).as("text"))
    val nd = NearDupIndex.nearDupAgainstIndex(store, "nd", batch, "text",
      "doc_id", threshold = 0.5, materialize = false)
    val bm = Retrieval.bm25TopKIndexed(store, "bm",
      Seq((1L, "w5 w18 w31"), (2L, "w44 w57")), k = 5)
    val phrase = full.where(col("doc_id") === 41L)
      .select(col("text")).head.getString(0).split(" ").take(2).mkString(" ")
    val pos = Retrieval.phraseOccurrences(store, "pos", phrase)
    val qVecs = full.where(col("doc_id").isin(35L, 80L))
      .select("doc_id", "vec")
    val ivf = VectorIndex.ivfTopKIndexed(store, "ivf", qVecs, "vec",
      "doc_id", k = 3, nProbe = 4)
    rows(nd) ++ Seq("§") ++ rows(bm) ++ Seq("§") ++ rows(pos) ++
      Seq("§") ++ rows(ivf)
  }

  /** `ndReadded`: ids re-added to the near-dup index only, after the
    * cascade erased them. */
  private def freshFingerprint(swept: graft.table.TableStore,
      full: DataFrame, ndReadded: Seq[Long] = Nil): Seq[String] = {
    val sv = survivors(full)
    val fresh = tmpStore()
    NearDupIndex.buildNearDupIndex(fresh, "nd",
      sv.unionByName(full.where(col("doc_id").isin(ndReadded: _*))),
      "text", "doc_id", numBuckets = 2)
    Retrieval.buildBm25Index(fresh, "bm", sv, "text", "doc_id",
      numBuckets = 2)
    Retrieval.buildPositionalIndex(fresh, "pos", sv, "text", "doc_id",
      numBuckets = 2)
    VectorIndex.buildIvfIndex(fresh, "ivf", sv, "vec", "doc_id",
      nCells = 4, numBuckets = 2, codebook = Some(swept.scan("ivf_cells")))
    probeAll(fresh, full)
  }

  test("key cascade: all four families equal a fresh rebuild on survivors") {
    val full = corpus()
    val store = tmpStore()
    store.overwrite("docs", full)
    buildAll(store, full)
    val erased = Retention.deleteByKeysCascade(store, "docs", "doc_id",
      doomedIds(full), allTargets)
    assert(erased, "live doomed ids must commit a vector")
    assert(rows(store.scan("docs")) == rows(survivors(full)),
      "table-side DV erasure must hold")
    assert(probeAll(store, full) == freshFingerprint(store, full))
    // the journal fully cleared
    assert(!store.exists(Retention.journalStateName("docs")) ||
      store.scan(Retention.journalStateName("docs")).isEmpty)
    // a second run with the same ids finds nothing live: no-op, no vector
    val entries = store.manifestEntries("docs")
    assert(!Retention.deleteByKeysCascade(store, "docs", "doc_id",
      doomedIds(full), allTargets))
    assert(store.manifestEntries("docs") == entries,
      "an all-dead id list must not commit another vector")
  }

  /** Crash-window scenario: die at `label`, optionally mutate the store
    * `between` the crash and the recovery, then recover through a NEW
    * store by re-running the cascade (drains first, then finds nothing
    * live) and assert all four families equal a fresh rebuild — whose
    * near-dup index also covers `ndReadded`, the ids `between` re-added
    * to it. */
  private def crashRecoverScenario(label: String,
      retrievalSeam: Boolean = false,
      between: graft.table.TableStore => Unit = _ => (),
      ndReadded: Seq[Long] = Nil): Unit = {
    val arm: (String => Unit) => Unit =
      if (retrievalSeam) f => Retrieval.failpoint = f
      else f => Retention.failpoint = f
    val full = corpus()
    val dir = java.nio.file.Files.createTempDirectory("graft_dvcrash")
      .toString
    val s0 = new graft.table.TableStore(spark, dir)
    s0.overwrite("docs", full)
    buildAll(s0, full)
    arm(l =>
      if (l == label) throw new RuntimeException(s"simulated crash at $l"))
    try intercept[RuntimeException] {
      Retention.deleteByKeysCascade(s0, "docs", "doc_id",
        doomedIds(full), allTargets)
    } finally arm(_ => ())
    val s1 = new graft.table.TableStore(spark, dir) // "new process"
    between(s1)
    // every window here is post-DV-commit: the table side already holds
    assert(rows(s1.scan("docs")) == rows(survivors(full)))
    assert(s1.exists(Retention.journalStateName("docs")))
    // recovery: re-run (drains first; capture then finds nothing live)
    assert(!Retention.deleteByKeysCascade(s1, "docs", "doc_id",
      doomedIds(full), allTargets))
    assert(probeAll(s1, full) == freshFingerprint(s1, full, ndReadded),
      s"crash at $label: drained indexes must equal a fresh rebuild")
    if (ndReadded.nonEmpty) {
      val served = NearDupIndex.nearDupAgainstIndex(s1, "nd",
        full.where(col("doc_id").isin(ndReadded: _*))
          .select((col("doc_id") + 1000L).as("doc_id"), col("text")),
        "text", "doc_id", threshold = 0.5)
        .select("corpus_id").collect().map(_.getLong(0)).toSet
      assert(ndReadded.toSet.subsetOf(served),
        s"crash at $label: the re-added ids must stay served: $served")
    }
    assert(!s1.exists(Retention.journalStateName("docs")) ||
      s1.scan(Retention.journalStateName("docs")).isEmpty)
  }

  test("crash between the DV commit and the commit marker: the tag probe recovers") {
    crashRecoverScenario("dropped")
  }

  test("crash between the commit marker and the index deletes: drain recovers") {
    crashRecoverScenario("committed-mark")
  }

  test("out-of-band compact folds the dv tag away: the liveness fallback still drains") {
    // the fold materializes the vector and forgets its tagged entry —
    // treating the missing tag as proof of abort would clear the journal
    // and leave every index serving the erased docs; the drain must fall
    // back to probing the journaled ids (all dead → the delete happened)
    crashRecoverScenario("dropped",
      between = s => s.compact("docs", maxSnapshots = 0))
  }

  test("a doc re-added to an index between a crashed delete and the drain stays served") {
    // the near-dup target's vectors landed but its done marker did not,
    // and doc 10 is re-indexed before the drain: the replay finds the
    // cascade's tag on both near-dup tables and commits nothing. An
    // untagged replay would land a vector AFTER the re-add and erase it
    crashRecoverScenario("target-pre-mark-0",
      between = s => NearDupIndex.appendNearDupIndex(s, "nd",
        corpus().where(col("doc_id") === 10L), "text", "doc_id",
        numBuckets = 2),
      ndReadded = Seq(10L))
  }

  test("crash mid-targets: only the missing deletes replay") {
    crashRecoverScenario("target-1")
  }

  test("crash inside the BM25 negation's sub-appends: replay resumes") {
    crashRecoverScenario("bm25-postings-marked", retrievalSeam = true)
  }

  test("crash after journaling, before the DV commit: drain aborts cleanly") {
    val full = corpus()
    val dir = java.nio.file.Files.createTempDirectory("graft_dvabort")
      .toString
    val s0 = new graft.table.TableStore(spark, dir)
    s0.overwrite("docs", full)
    buildAll(s0, full)
    Retention.failpoint = l =>
      if (l == "journaled") throw new RuntimeException("simulated")
    try intercept[RuntimeException] {
      Retention.deleteByKeysCascade(s0, "docs", "doc_id",
        doomedIds(full), allTargets)
    } finally Retention.failpoint = _ => ()
    val s1 = new graft.table.TableStore(spark, dir)
    assert(s1.scan("docs").count() == 90, "the vector never committed")
    Retention.drainPendingCascades(s1, "docs")
    // aborted: journal cleared, no index touched — the docs are live
    assert(!s1.exists(Retention.journalStateName("docs")) ||
      s1.scan(Retention.journalStateName("docs")).isEmpty)
    assert(noDv(s1, "nd_bands", "nd_docs", "pos_pos", "ivf_vecs"))
    assert(probeAll(s1, full) == {
      // rebuild over the FULL corpus but with the swept store's codebook
      val f2 = tmpStore()
      NearDupIndex.buildNearDupIndex(f2, "nd", full, "text", "doc_id", 2)
      Retrieval.buildBm25Index(f2, "bm", full, "text", "doc_id", 2)
      Retrieval.buildPositionalIndex(f2, "pos", full, "text", "doc_id", 2)
      VectorIndex.buildIvfIndex(f2, "ivf", full, "vec", "doc_id", 4, 2,
        codebook = Some(s1.scan("ivf_cells")))
      probeAll(f2, full)
    }, "indexes must still cover the whole (undeleted) corpus")
  }

  test("table dropped after a post-commit crash: the journal parks") {
    val full = corpus()
    val dir = java.nio.file.Files.createTempDirectory("graft_dvpark")
      .toString
    val s0 = new graft.table.TableStore(spark, dir)
    s0.overwrite("docs", full)
    NearDupIndex.buildNearDupIndex(s0, "nd", full, "text", "doc_id",
      numBuckets = 2)
    Retention.failpoint = l =>
      if (l == "dropped") throw new RuntimeException("simulated")
    try intercept[RuntimeException] {
      Retention.deleteByKeysCascade(s0, "docs", "doc_id",
        doomedIds(full), Seq(Retention.NearDup("nd")))
    } finally Retention.failpoint = _ => ()
    val s1 = new graft.table.TableStore(spark, dir)
    s1.drop("docs") // the tag record died with the table
    Retention.drainPendingCascades(s1, "docs")
    val ab = Retention.abandonedCascades(s1, "docs")
    assert(ab.where(col("kind") === "__abandoned__").count() == 1)
    assert(ab.where(col("kind") === "neardup").count() == 1)
    val cid = ab.select("cascade_id").head.getString(0)
    Retention.acknowledgeAbandoned(s1, "docs", cid)
    assert(Retention.pendingCascades(s1, "docs").isEmpty)
  }
}
