package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Retention must cascade into the persistent indexes: after
  * `expirePartitionsBelowCascade`, every index family's probe over the
  * swept table equals the same probe against a FRESH index built on the
  * surviving corpus — an erased source is unfindable through retrieval,
  * not just absent from the table scan. */
class RetentionCascadeSpec extends SparkSpec {

  /** True iff none of `tables`' manifests holds a deletion vector. */
  private def noDv(s: graft.table.TableStore, tables: String*): Boolean =
    tables.forall(t => !s.manifestEntries(t).exists(_.startsWith("dv-")))

  private def tmpStore() = new graft.table.TableStore(spark,
    java.nio.file.Files.createTempDirectory("graft_retcasc").toString)

  /** 90 docs over three dates (30 each); word pattern gives each doc a
    * distinct shingle set with overlaps for the near-dup probe. */
  private def corpus(): DataFrame = {
    import spark.implicits._
    (0 until 90).map { i =>
      val date = f"2026-01-${i / 30 + 1}%02d"
      val words = (0 until 14).map(j => s"w${(i * 13 + j * 5) % 97}")
      (i.toLong, date, words.mkString(" "),
        Array.tabulate(4)(d => math.sin(i * 7 + d).toFloat))
    }.toDF("doc_id", "date", "text", "vec")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  test("expire cascade: all four index families equal a fresh rebuild on survivors") {
    val full = corpus()
    val survivors = full.where(col("date") >= "2026-01-02")
    val store = tmpStore()
    store.overwritePartitioned("docs", full, Seq("date"))
    NearDupIndex.buildNearDupIndex(store, "nd", full, "text", "doc_id",
      numBuckets = 2)
    Retrieval.buildBm25Index(store, "bm", full, "text", "doc_id",
      numBuckets = 2)
    Retrieval.buildPositionalIndex(store, "pos", full, "text", "doc_id",
      numBuckets = 2)
    VectorIndex.buildIvfIndex(store, "ivf", full, "vec", "doc_id",
      nCells = 4, numBuckets = 2)

    val swept = Retention.expirePartitionsBelowCascade(store, "docs",
      "date", cutoff = "2026-01-02", idCol = "doc_id",
      indexes = Seq(Retention.NearDup("nd"),
        Retention.Bm25("bm", "text", numBuckets = 2),
        Retention.Positional("pos"), Retention.Ivf("ivf")))
    assert(swept, "cutoff above the first date must drop something")
    assert(store.scan("docs").agg(min(col("date"))).head.getString(0)
      == "2026-01-02", "table sweep itself must hold")

    // fresh indexes on the surviving corpus (IVF shares the codebook —
    // cell assignment must match for row-identical probes)
    val fresh = tmpStore()
    NearDupIndex.buildNearDupIndex(fresh, "nd", survivors, "text",
      "doc_id", numBuckets = 2)
    Retrieval.buildBm25Index(fresh, "bm", survivors, "text", "doc_id",
      numBuckets = 2)
    Retrieval.buildPositionalIndex(fresh, "pos", survivors, "text",
      "doc_id", numBuckets = 2)
    VectorIndex.buildIvfIndex(fresh, "ivf", survivors, "vec", "doc_id",
      nCells = 4, numBuckets = 2,
      codebook = Some(store.scan("ivf_cells")))

    // near-dup: batch holds edited copies of a dropped and a surviving doc
    val batch = full.where(col("doc_id").isin(5L, 65L))
      .select((col("doc_id") + 1000L).as("doc_id"),
        concat(col("text"), lit(" edited")).as("text"))
    def ndProbe(s: graft.table.TableStore) =
      NearDupIndex.nearDupAgainstIndex(s, "nd", batch, "text", "doc_id",
        threshold = 0.5, materialize = false)
    assert(rows(ndProbe(store)) == rows(ndProbe(fresh)))
    assert(rows(ndProbe(store)).nonEmpty, "surviving plant must match")
    assert(!ndProbe(store).select("corpus_id").collect()
      .exists(_.getLong(0) < 30), "dropped docs must not match")

    // BM25: negated postings must cancel to the survivors-only scores
    val queries = Seq((1L, "w5 w18 w31"), (2L, "w44 w57"))
    def bmProbe(s: graft.table.TableStore) =
      Retrieval.bm25TopKIndexed(s, "bm", queries, k = 5)
    assert(rows(bmProbe(store)) == rows(bmProbe(fresh)))
    assert(rows(bmProbe(store)).nonEmpty)

    // positional: phrase from a surviving doc found, dropped ids absent
    val phrase = full.where(col("doc_id") === 40L)
      .select(col("text")).head.getString(0).split(" ").take(2).mkString(" ")
    def posProbe(s: graft.table.TableStore) =
      Retrieval.phraseOccurrences(s, "pos", phrase)
    assert(rows(posProbe(store)) == rows(posProbe(fresh)))
    assert(rows(posProbe(store)).nonEmpty)

    // IVF: same codebook, so probe rows must be identical
    val qVecs = full.where(col("doc_id").isin(35L, 80L))
      .select("doc_id", "vec")
    def ivfProbe(s: graft.table.TableStore) =
      VectorIndex.ivfTopKIndexed(s, "ivf", qVecs, "vec", "doc_id",
        k = 3, nProbe = 4)
    assert(rows(ivfProbe(store)) == rows(ivfProbe(fresh)))
    assert(rows(ivfProbe(store)).nonEmpty)
    assert(!ivfProbe(store).select("c_id").collect()
      .exists(_.getLong(0) < 30), "dropped vectors must not be retrievable")
  }

  /** All four index targets over a store at `root`, fresh-built or
    * cascade-swept. */
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

  /** Probe rows of all four families against `store`'s indexes — the
    * cross-store equality fingerprint. */
  private def probeAll(store: graft.table.TableStore,
      full: DataFrame): Seq[String] = {
    val batch = full.where(col("doc_id").isin(5L, 65L))
      .select((col("doc_id") + 1000L).as("doc_id"),
        concat(col("text"), lit(" edited")).as("text"))
    val nd = NearDupIndex.nearDupAgainstIndex(store, "nd", batch, "text",
      "doc_id", threshold = 0.5, materialize = false)
    val bm = Retrieval.bm25TopKIndexed(store, "bm",
      Seq((1L, "w5 w18 w31"), (2L, "w44 w57")), k = 5)
    val phrase = full.where(col("doc_id") === 40L)
      .select(col("text")).head.getString(0).split(" ").take(2).mkString(" ")
    val pos = Retrieval.phraseOccurrences(store, "pos", phrase)
    val qVecs = full.where(col("doc_id").isin(35L, 80L))
      .select("doc_id", "vec")
    val ivf = VectorIndex.ivfTopKIndexed(store, "ivf", qVecs, "vec",
      "doc_id", k = 3, nProbe = 4)
    rows(nd) ++ Seq("§") ++ rows(bm) ++ Seq("§") ++ rows(pos) ++
      Seq("§") ++ rows(ivf)
  }

  /** The fresh-rebuild fingerprint on the survivors (IVF reuses the swept
    * store's codebook so cell assignment matches). */
  private def freshFingerprint(swept: graft.table.TableStore, full: DataFrame,
      survivors: DataFrame): Seq[String] = {
    val fresh = tmpStore()
    NearDupIndex.buildNearDupIndex(fresh, "nd", survivors, "text",
      "doc_id", numBuckets = 2)
    Retrieval.buildBm25Index(fresh, "bm", survivors, "text", "doc_id",
      numBuckets = 2)
    Retrieval.buildPositionalIndex(fresh, "pos", survivors, "text",
      "doc_id", numBuckets = 2)
    VectorIndex.buildIvfIndex(fresh, "ivf", survivors, "vec", "doc_id",
      nCells = 4, numBuckets = 2, codebook = Some(swept.scan("ivf_cells")))
    probeAll(fresh, full)
  }

  /** Run one crash-window scenario: arm the failpoint to die at `label`
    * (Retention's seam, or Retrieval's when `retrievalSeam` — the BM25
    * sub-append windows), run the cascade (must throw), then recover
    * through a NEW store instance (the journal is the only survivor of
    * the "process death") and assert all four families equal a fresh
    * rebuild on survivors. */
  private def crashRecoverScenario(label: String,
      retrievalSeam: Boolean = false): Unit = {
    val arm: (String => Unit) => Unit =
      if (retrievalSeam) f => Retrieval.failpoint = f
      else f => Retention.failpoint = f
    val full = corpus()
    val survivors = full.where(col("date") >= "2026-01-02")
    val dir = java.nio.file.Files.createTempDirectory("graft_retcrash")
      .toString
    val s0 = new graft.table.TableStore(spark, dir)
    s0.overwritePartitioned("docs", full, Seq("date"))
    buildAll(s0, full)
    arm(l =>
      if (l == label) throw new RuntimeException(s"simulated crash at $l"))
    val died =
      try {
        Retention.expirePartitionsBelowCascade(s0, "docs", "date",
          cutoff = "2026-01-02", idCol = "doc_id", indexes = allTargets)
        false
      } catch {
        case e: RuntimeException if e.getMessage.contains("simulated") =>
          true
      } finally arm(_ => ())
    assert(died, s"failpoint $label must fire")
    // the drop itself committed (every window here is post-drop)…
    val s1 = new graft.table.TableStore(spark, dir) // "new process"
    assert(s1.scan("docs").agg(min(col("date"))).head.getString(0)
      == "2026-01-02")
    // …and the journal survives the crash
    assert(s1.exists(Retention.journalStateName("docs")))
    assert(s1.scan(Retention.journalStateName("docs")).count() > 0)
    // recovery path #1 per the contract: just re-run the cascade (it
    // drains pending journals first; this one finds nothing left to drop)
    val swept2 = Retention.expirePartitionsBelowCascade(s1, "docs", "date",
      cutoff = "2026-01-02", idCol = "doc_id", indexes = allTargets)
    assert(!swept2, "nothing left to drop on the re-run")
    assert(probeAll(s1, full) == freshFingerprint(s1, full, survivors),
      s"crash at $label: drained indexes must equal a fresh rebuild " +
        "(BM25 negation replayed once, from the journaled text)")
    // journal fully drained (tables drop when the last cascade clears)
    assert(journalGone(s1))
  }

  private def journalGone(s: graft.table.TableStore): Boolean = {
    def empty(n: String) = !s.exists(n) || s.scan(n).isEmpty
    empty(Retention.journalStateName("docs")) &&
      empty(Retention.journalName("docs"))
  }

  test("crash between drop commit and the commit marker: drain recovers") {
    crashRecoverScenario("dropped")
  }

  test("crash between the commit marker and the index deletes: drain recovers") {
    crashRecoverScenario("committed-mark")
  }

  test("crash mid-targets: only the missing deletes replay (no BM25 double negation)") {
    crashRecoverScenario("target-1")
  }

  test("crash between a completed BM25 negation and its done marker: tag skips the replay") {
    // the negation landed (stats tag committed) but the __done__ marker
    // did not — the drain re-runs the target, and ONLY the stats tag
    // stands between it and a double negation that would skew every
    // surviving score on the shared terms
    crashRecoverScenario("target-pre-mark-1")
  }

  test("crash after journaling, before the drop: drain aborts cleanly") {
    val full = corpus()
    val dir = java.nio.file.Files.createTempDirectory("graft_retabort")
      .toString
    val s0 = new graft.table.TableStore(spark, dir)
    s0.overwritePartitioned("docs", full, Seq("date"))
    buildAll(s0, full)
    Retention.failpoint = l =>
      if (l == "journaled") throw new RuntimeException("simulated crash")
    try intercept[RuntimeException] {
      Retention.expirePartitionsBelowCascade(s0, "docs", "date",
        cutoff = "2026-01-02", idCol = "doc_id", indexes = allTargets)
    } finally Retention.failpoint = _ => ()
    val s1 = new graft.table.TableStore(spark, dir)
    assert(s1.scan("docs").count() == 90, "drop never committed")
    Retention.drainPendingCascades(s1, "docs")
    // aborted: the journal clears and NO index delete was issued — the
    // docs are still live in the table, erasing them from the indexes
    // would be the worse failure
    assert(journalGone(s1))
    assert(noDv(s1, "nd_bands", "nd_docs", "pos_pos", "ivf_vecs"))
    assert(probeAll(s1, full) == freshFingerprint(s1, full, full),
      "indexes must still cover the whole (undropped) corpus")
  }

  test("pendingCascades: empty before, visible after a crash, empty after drain") {
    val dir = java.nio.file.Files.createTempDirectory("graft_retpend")
      .toString
    val s0 = new graft.table.TableStore(spark, dir)
    val full = corpus()
    s0.overwritePartitioned("docs", full, Seq("date"))
    NearDupIndex.buildNearDupIndex(s0, "nd", full, "text", "doc_id",
      numBuckets = 2)
    assert(Retention.pendingCascades(s0, "docs").isEmpty)
    Retention.failpoint = l =>
      if (l == "dropped") throw new RuntimeException("simulated")
    try intercept[RuntimeException] {
      Retention.expirePartitionsBelowCascade(s0, "docs", "date",
        cutoff = "2026-01-02", idCol = "doc_id",
        indexes = Seq(Retention.NearDup("nd")))
    } finally Retention.failpoint = _ => ()
    val s1 = new graft.table.TableStore(spark, dir)
    val pending = Retention.pendingCascades(s1, "docs")
    assert(pending.where(col("kind") === "neardup").count() == 1,
      "the half-landed erasure must be visible to a governance audit")
    Retention.drainPendingCascades(s1, "docs")
    assert(Retention.pendingCascades(s1, "docs").isEmpty)
  }

  test("crash between the BM25 postings landing and its marker-gap closing: replay resumes") {
    // the .p marker committed but the terms/stats appends did not — the
    // drain must SKIP the landed postings negation and run only the
    // missing sub-appends; before the sub-append markers, this window
    // replayed the postings negation twice (net-negative tf)
    crashRecoverScenario("bm25-postings-marked", retrievalSeam = true)
  }

  test("crash between the BM25 terms landing and the stats append: replay resumes") {
    crashRecoverScenario("bm25-terms-marked", retrievalSeam = true)
  }

  test("liveness-probe failure PARKS the journal; acknowledge clears it") {
    val full = corpus()
    val dir = java.nio.file.Files.createTempDirectory("graft_retpark")
      .toString
    val s0 = new graft.table.TableStore(spark, dir)
    s0.overwritePartitioned("docs", full, Seq("date"))
    NearDupIndex.buildNearDupIndex(s0, "nd", full, "text", "doc_id",
      numBuckets = 2)
    Retrieval.buildBm25Index(s0, "bm", full, "text", "doc_id",
      numBuckets = 2)
    // die after the drop commits but before the __commit__ marker — the
    // window whose recovery needs the liveness probe
    Retention.failpoint = l =>
      if (l == "dropped") throw new RuntimeException("simulated")
    try intercept[RuntimeException] {
      Retention.expirePartitionsBelowCascade(s0, "docs", "date",
        cutoff = "2026-01-02", idCol = "doc_id",
        indexes = Seq(Retention.NearDup("nd"),
          Retention.Bm25("bm", "text", numBuckets = 2)))
    } finally Retention.failpoint = _ => ()
    // destroy the evidence: the table is dropped before the next drain,
    // so the probe cannot decide the drop's fate
    val s1 = new graft.table.TableStore(spark, dir)
    s1.drop("docs")
    Retention.drainPendingCascades(s1, "docs")
    // parked, not cleared: the audit record survives with the abandoned
    // marker and the full index-target list (the remediation as data)…
    val ab = Retention.abandonedCascades(s1, "docs")
    assert(ab.where(col("kind") === "__abandoned__").count() == 1)
    assert(ab.where(col("kind") === "neardup").count() == 1)
    assert(ab.where(col("kind") === "bm25").count() == 1)
    // …while the payload (copies of doomed content) is gone — the
    // remediation is an index rebuild, never a replay
    assert(!s1.exists(Retention.journalName("docs")) ||
      s1.scan(Retention.journalName("docs")).isEmpty)
    // repeated drains are no-ops on a parked cascade (no loop, no clear)
    val before = rows(Retention.pendingCascades(s1, "docs"))
    Retention.drainPendingCascades(s1, "docs")
    Retention.drainPendingCascades(s1, "docs")
    assert(rows(Retention.pendingCascades(s1, "docs")) == before)
    // a non-abandoned id refuses the acknowledge path
    intercept[IllegalArgumentException] {
      Retention.acknowledgeAbandoned(s1, "docs", "no-such-cascade")
    }
    // explicit acknowledgement (after the rebuild) empties the record
    val cid = ab.select("cascade_id").head.getString(0)
    Retention.acknowledgeAbandoned(s1, "docs", cid)
    assert(Retention.pendingCascades(s1, "docs").isEmpty)
    assert(Retention.abandonedCascades(s1, "docs").isEmpty)
  }

  test("pendingCascades: hand-built empty schema matches the journaled state schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_retsch")
      .toString
    val s0 = new graft.table.TableStore(spark, dir)
    val full = corpus()
    s0.overwritePartitioned("docs", full, Seq("date"))
    NearDupIndex.buildNearDupIndex(s0, "nd", full, "text", "doc_id",
      numBuckets = 2)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val empty = shape(Retention.pendingCascades(s0, "docs"))
    Retention.failpoint = l =>
      if (l == "dropped") throw new RuntimeException("simulated")
    try intercept[RuntimeException] {
      Retention.expirePartitionsBelowCascade(s0, "docs", "date",
        cutoff = "2026-01-02", idCol = "doc_id",
        indexes = Seq(Retention.NearDup("nd")))
    } finally Retention.failpoint = _ => ()
    assert(empty == shape(Retention.pendingCascades(s0, "docs")),
      "the empty frame's schema must track journalWrite's real state " +
        "schema — a drifted column would surface only on the first crash")
    Retention.drainPendingCascades(s0, "docs")
  }

  test("orphan payload rows (a crash inside journalWrite) are GC'd by the drain") {
    val store = tmpStore()
    val full = corpus()
    store.overwritePartitioned("docs", full, Seq("date"))
    // simulate journalWrite dying between its payload append and its
    // state append: payload rows exist for a cascade id with NO state row
    store.overwrite(Retention.journalName("docs"),
      full.select("doc_id", "text")
        .withColumn("__cascade_id", lit("deadbeef")))
    Retention.drainPendingCascades(store, "docs")
    assert(!store.exists(Retention.journalName("docs")) ||
      store.scan(Retention.journalName("docs")).isEmpty,
      "payload no state row points to must not outlive the drain — an " +
        "erasure journal keeping invisible copies of doomed content")
  }

  test("registry: cascade with indexes = Nil reaches every registered family") {
    val full = corpus()
    val survivors = full.where(col("date") >= "2026-01-02")
    val dir = java.nio.file.Files.createTempDirectory("graft_retreg")
      .toString
    val store = new graft.table.TableStore(spark, dir)
    store.overwritePartitioned("docs", full, Seq("date"))
    buildAll(store, full)
    allTargets.foreach(t => Retention.registerIndex(store, "docs", t))
    assert(Retention.registeredIndexes(store, "docs").size == 4)
    val swept = Retention.expirePartitionsBelowCascade(store, "docs",
      "date", cutoff = "2026-01-02", idCol = "doc_id", indexes = Nil)
    assert(swept)
    assert(probeAll(store, full) == freshFingerprint(store, full, survivors),
      "indexes = Nil must resolve to the registered list — all four " +
        "families erased, not just the ones a caller remembered")
  }

  test("registry: an explicit list that drifts from the registry fails fast") {
    val full = corpus()
    val store = tmpStore()
    store.overwritePartitioned("docs", full, Seq("date"))
    NearDupIndex.buildNearDupIndex(store, "nd", full, "text", "doc_id",
      numBuckets = 2)
    Retrieval.buildBm25Index(store, "bm", full, "text", "doc_id",
      numBuckets = 2)
    Retention.registerIndex(store, "docs", Retention.NearDup("nd", 2))
    Retention.registerIndex(store, "docs",
      Retention.Bm25("bm", "text", numBuckets = 2))
    // listed ⊂ registered: the forgotten BM25 index would keep serving
    // the erased docs — refuse
    val e = intercept[IllegalArgumentException] {
      Retention.expirePartitionsBelowCascade(store, "docs", "date",
        cutoff = "2026-01-02", idCol = "doc_id",
        indexes = Seq(Retention.NearDup("nd")))
    }
    assert(e.getMessage.contains("registry drift"))
    // listed ⊄ registered: a never-registered index suggests stale state
    intercept[IllegalArgumentException] {
      Retention.expirePartitionsBelowCascade(store, "docs", "date",
        cutoff = "2026-01-02", idCol = "doc_id",
        indexes = Seq(Retention.NearDup("nd"),
          Retention.Bm25("bm", "text", 2), Retention.Positional("pos")))
    }
    // a matching explicit list passes (tombstone numBuckets is a
    // compaction knob, not identity), and nothing was half-swept above
    assert(store.scan("docs").count() == 90)
    val swept = Retention.expirePartitionsBelowCascade(store, "docs",
      "date", cutoff = "2026-01-02", idCol = "doc_id",
      indexes = Seq(Retention.NearDup("nd", 0),
        Retention.Bm25("bm", "text", 2)))
    assert(swept)
    // unregister drops a family from the contract
    Retention.unregisterIndex(store, "docs", "bm")
    assert(Retention.registeredIndexes(store, "docs") ==
      Seq(Retention.NearDup("nd", 2)))
  }

  test("cutoff below every partition is a no-op: no drop, no index writes") {
    val store = tmpStore()
    store.overwritePartitioned("docs", corpus(), Seq("date"))
    NearDupIndex.buildNearDupIndex(store, "nd", corpus(), "text",
      "doc_id", numBuckets = 2)
    val swept = Retention.expirePartitionsBelowCascade(store, "docs",
      "date", cutoff = "2026-01-01", idCol = "doc_id",
      indexes = Seq(Retention.NearDup("nd")))
    assert(!swept)
    assert(noDv(store, "nd_bands", "nd_docs"), "no-op sweep must not tombstone")
    assert(store.scan("docs").count() == 90)
  }
}
