package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for training-data pipelines — exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. Designed for 100 TB corpora:
  *
  *   - signatures/fingerprints are per-row narrow transforms (no shuffle,
  *     whole-stage codegen — no UDFs anywhere),
  *   - candidate generation shuffles by band key only: each of the B bands
  *     is a (band, key)-partitioned self-join whose per-key groups are tiny
  *     (true near-dup clusters), so no quadratic blowup and skew stays
  *     bounded by real duplicate-cluster size,
  *   - verification (exact Jaccard) runs only on candidate pairs.
  */
object Dedup {

  /** Exact dedup: content-hash groupBy keeping the lowest-id row per group —
    * one partial-aggregating shuffle on the 128-bit hash; add `copies` count
    * for reporting. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))

  /** Cross-source priority dedup — the multi-source merge rule of
    * Dolma/RedPajama-class corpus assembly: when the same content
    * appears in several sources, keep the copy from the most-trusted
    * one. Per content hash the winner is min(priority, id) — a single
    * partial-aggregating min-struct shuffle on the 128-bit hash, ties
    * pinned by id so the pick is total. Output: (fingerprint, keep_id,
    * keep_priority, copies, n_sources). */
  def exactPriority(
      df: DataFrame, textCol: String, idCol: String,
      priorityCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fingerprint"))
      .agg(
        min(struct(col(priorityCol).as("p"), col(idCol).as("id"))).as("__w"),
        count(lit(1)).as("copies"),
        countDistinct(col(priorityCol)).as("n_sources"))
      .select(col("fingerprint"), col("__w.id").as("keep_id"),
        col("__w.p").as("keep_priority"), col("copies"), col("n_sources"))

  /** MinHash signature column: the codegen'd `graft_minhash_sig` kernel
    * (≈7× the interpreted HOF pipeline). Its spec is
    * `TextHash.minhashSignature(TextHash.shinglesDeclarative(text))`
    * (MinHashNativeSpec, KernelIdentitySpec). */
  def minhashSig(textCol: String): Column =
    call_function("graft_minhash_sig", col(textCol))

  /** Per-document MinHash signature + LSH band keys. Narrow transform. */
  def minhashBands(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withSig = df
      .withColumn("shingles", TextHash.shingles(col(textCol)))
      .withColumn("sig", minhashSig(textCol))
    val bandCols = (0 until TextHash.Bands).map { b =>
      val slice = (0 until TextHash.RowsPerBand)
        .map(r => element_at(col("sig"), b * TextHash.RowsPerBand + r + 1))
      struct(lit(b).as("band"), concat_ws("-", slice: _*).as("key")).as(s"b$b")
    }
    withSig.select(col(idCol) +: col("shingles") +: col("sig") +: bandCols: _*)
  }

  /** MinHash LSH near-dup candidate pairs, Jaccard-verified.
    *
    * explode(bands) → self-join on (band, key) → distinct pairs →
    * exact Jaccard on the shingle sets → threshold filter. The self-join
    * shuffles by band key; duplicate candidate pairs from multiple bands are
    * collapsed before the (more expensive) verification.
    */
  def minhashPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double
  ): DataFrame = {
    // Shingles+signature are computed once and persisted: four consumers
    // (4 band-key projections via self-join sides, plus the two
    // verification sides) would otherwise each recompute the md5-heavy
    // signature pipeline from the scan — and project-collapse would
    // duplicate the sig expression into every band key. persist(), NOT a
    // lineage-cutting localCheckpoint, deliberately (r14 measured the
    // swap and reverted it): the typical caller consumes this in ONE
    // action, where the cached relation's columnar scan + accurate stats
    // (broadcast verify joins over the WIDE shingle arrays) beat a
    // stats-less row-based checkpoint scan by ~2x on these gates. (At
    // 100 TB swap the in-memory persist for a checkpoint/scratch-table
    // write.)
    val shingled = df
      .select(col(idCol), TextHash.shingles(col(textCol)).as("shingles"),
        minhashSig(textCol).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = shingled

    // Band join carries ONLY (band, key, id) — never the shingle arrays.
    // At 100 TB the shuffle payload is 3 narrow columns; the arrays are
    // re-joined afterwards for the (small) candidate set only.
    val bandCols = (0 until TextHash.Bands).map { b =>
      val slice = (0 until TextHash.RowsPerBand)
        .map(r => element_at(col("sig"), b * TextHash.RowsPerBand + r + 1))
      struct(lit(b).as("band"), concat_ws("-", slice: _*).as("key"))
    }
    val exploded = banded.select(col(idCol),
      explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))

    val a = exploded.select(col(idCol).as("a_id"), col("band"), col("key"))
    val b = exploded.select(col(idCol).as("b_id"), col("band"), col("key"))
    val candidates = a.join(b, Seq("band", "key"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .dropDuplicates("a_id", "b_id")

    val sa = shingled.select(col(idCol).as("a_id"), col("shingles").as("a_sh"))
    val sb = shingled.select(col(idCol).as("b_id"), col("shingles").as("b_sh"))
    candidates
      .join(sa, "a_id")
      .join(sb, "b_id")
      .withColumn("jaccard", jaccard(col("a_sh"), col("b_sh")))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Duplicate clusters from near-dup pairs: connected components by
    * iterative minimum-label propagation (each vertex adopts the smallest
    * id reachable; converges in O(component diameter) rounds — near-dup
    * clusters are shallow, so a handful).
    *
    * Loop hygiene for iterative Spark jobs (this is where naive versions
    * melt down): the edge set is orders of magnitude smaller than the
    * corpus, so it is materialized ONCE (cutting the upstream MinHash
    * lineage) and coalesced to a few partitions — per-round joins then cost
    * a handful of tasks, not full shuffle width. Each round's labels are
    * eagerly `localCheckpoint`ed: lineage stays O(1) across rounds instead
    * of O(rounds), and the superseded round is unpersisted. The convergence
    * statistic is a `sum` folded into the same checkpointed frame — no
    * separate filter+count job re-deriving the round. At 100 TB swap
    * `localCheckpoint` for a reliable `checkpoint` (executor loss safety)
    * and scale `edgeParts` with the candidate-pair count.
    *
    * Returns (id, cluster) where cluster = min doc id of the component;
    * rows keep-decision = `id == cluster`. */
  def duplicateClusters(pairs: DataFrame, maxIterations: Int = 25,
      edgeParts: Int = 4): DataFrame = {
    val edges = graft.ops.Lineage.cut(
      pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
        .distinct()
        .coalesce(edgeParts))
    var labels = graft.ops.Lineage.cut(
      edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
    // the superseded round to release AFTER its successor materializes:
    // labels is a projection over the checkpointed `updated`, so the
    // release target is the cut frame itself, not the projection
    var prevCut: DataFrame = labels
    var changed = 1L
    var iter = 0
    val reliable =
      pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    while (changed > 0 && iter < maxIterations) {
      val neighborMin = edges
        .join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min("label").as("nl"))
      val next = labels
        .join(neighborMin, labels("id") === neighborMin("src"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"),
          // non-null only when the label strictly improves; SUM skips nulls
          when(col("nl") < col("label"), lit(1L)).as("chg"))
      // ONE job per round, not two: the convergence statistic rides the
      // materialization job as an accumulator instead of a separate
      // aggregate action re-reading the checkpointed blocks (§2.2 fewer
      // actions). With a reliable checkpoint dir configured (cluster
      // posture) keep the two-action form — the reliable checkpoint is
      // the lineage-safety contract there.
      val updated =
        if (reliable) {
          val u = graft.ops.Lineage.cut(next)
          changed = u.agg(coalesce(sum("chg"), lit(0L))).head().getLong(0)
          u
        } else {
          val (u, c) = org.apache.spark.sql.GraftBridge
            .cutWithNonNullCount(next, "chg")
          changed = c
          u
        }
      // real block release (Dataset.unpersist is a no-op on checkpointed
      // frames); the new round is already materialized, so nothing can
      // need the old blocks again
      graft.ops.Lineage.release(prevCut)
      prevCut = updated
      labels = updated.select("id", "label")
      iter += 1
    }
    // The final labels frame is checkpointed (returned to the caller, and
    // lineage-free so this is safe); the edge blocks are no longer needed.
    graft.ops.Lineage.release(edges)
    labels.select(col("id"), col("label").as("cluster"))
  }

  /** Incremental dedup: which rows of a NEW batch are genuinely new
    * against an existing corpus — the steady-state operation of a crawl
    * pipeline, where the corpus is 100 TB and each incoming batch is
    * comparatively tiny.
    *
    * The 100 TB contract: the corpus is scanned ONCE and never shuffled.
    * The batch's fingerprint set broadcasts into a left-semi probe of the
    * corpus scan (collisions ≤ |batch| distinct fingerprints come back);
    * that tiny collision set then anti-joins the batch (AQE broadcasts it).
    * Compare the naive formulation — `batch ANTI JOIN corpus` — which
    * hash-partitions the ENTIRE corpus for every batch.
    *
    * Returns (fingerprint, keep_id, copies): one row per distinct new
    * content (within-batch duplicates collapse to the min id). */
  def incrementalNew(
      corpus: DataFrame,
      batch: DataFrame,
      textCol: String,
      idCol: String
  ): DataFrame = {
    val bh = batch.select(col(idCol), md5(col(textCol)).as("fingerprint"))
    val probe = bh.select("fingerprint").distinct()
    val hits = corpus.select(md5(col(textCol)).as("fingerprint"))
      .join(broadcast(probe), Seq("fingerprint"), "left_semi")
      .distinct()
    bh.join(hits, Seq("fingerprint"), "left_anti")
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))
  }

  /** Incremental NEAR-dup detection: which batch documents near-duplicate
    * content already in the corpus — the MinHash analogue of
    * [[incrementalNew]], completing the steady-state crawl loop (exact
    * re-crawls drop via fingerprints; slightly-edited re-crawls drop
    * here). Returns (batch_id, corpus_id, jaccard) for every
    * LSH-candidate pair whose exact shingle Jaccard meets `threshold`.
    *
    * The 100 TB contract again: the corpus is never shuffled. One corpus
    * pass computes band keys (the md5 signature work — unavoidable, it IS
    * the index; a production loop would persist bands as a table and scan
    * them here); the batch's distinct (band, key) set broadcasts into a
    * semi-probe of those bands; candidate pairs then verify against
    * shingles re-derived ONLY for the (collision-bounded) candidate ids —
    * the second corpus scan applies a broadcast id semi-join before any
    * md5 work, so it is projection-cheap. Batch-side shingles/bands are
    * computed once and persisted (batch-sized); the cache is scoped to
    * this call — with `materialize = true` (the default) the result
    * (candidate-pair-sized, tiny next to the inputs) is eagerly
    * materialized via localCheckpoint and the batch cache unpersisted
    * before returning, so a steady-state crawl loop does not leak one
    * cached dataset per batch.
    *
    * Cluster caveat for `materialize`: localCheckpoint truncates lineage
    * to executor-local blocks — under executor loss or dynamic
    * allocation the returned frame becomes unrecomputable and later
    * actions fail. Safe in local mode and on static executors; on a
    * dynamically-allocated cluster pass `materialize = false` (the batch
    * cache then stays pinned until the caller consumes the result and
    * unpersists, or the context cleaner reaps it) or write the result to
    * a scratch table instead. */
  def incrementalNearDupPairs(
      corpus: DataFrame,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      materialize: Boolean = true
  ): DataFrame = {
    def bandsOf(df: DataFrame, sigCol: Column, outId: String) = {
      val bandCols = (0 until TextHash.Bands).map { b =>
        val slice = (0 until TextHash.RowsPerBand)
          .map(r => element_at(col("__sig"), b * TextHash.RowsPerBand + r + 1))
        struct(lit(b).as("band"), concat_ws("-", slice: _*).as("key"))
      }
      df.select(col(idCol).as(outId), sigCol.as("__sig"))
        .select(col(outId), explode(array(bandCols: _*)).as("bk"))
        .select(col(outId), col("bk.band").as("band"), col("bk.key").as("key"))
    }
    val bShingled = graft.ops.Lineage.cut(batch
      .select(col(idCol), TextHash.shingles(col(textCol)).as("b_sh"),
        minhashSig(textCol).as("sig")),
      eager = false) // lineage-cut: bands + verify sides
    val bBands = bandsOf(bShingled, col("sig"), "batch_id")
    val probe = bBands.select("band", "key").distinct()
    val cBands = bandsOf(corpus, minhashSig(textCol), "corpus_id")
    val pairs = cBands
      .join(broadcast(probe), Seq("band", "key"), "left_semi")
      .join(broadcast(bBands), Seq("band", "key"))
      .select(col("batch_id"), col("corpus_id"))
      .distinct()
    val candIds = pairs.select(col("corpus_id")).distinct()
    val cCand = corpus
      .select(col(idCol).as("corpus_id"), col(textCol).as("__text"))
      .join(broadcast(candIds), Seq("corpus_id"), "left_semi")
      .select(col("corpus_id"), TextHash.shingles(col("__text")).as("c_sh"))
    val out = pairs
      .join(cCand, "corpus_id")
      .join(broadcast(bShingled.select(col(idCol).as("batch_id"), col("b_sh"))),
        "batch_id")
      .withColumn("jaccard", jaccard(col("b_sh"), col("c_sh")))
      .where(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
    if (materialize) {
      val m = graft.ops.Lineage.cut(out)
      // real block release of the batch checkpoint (Dataset.unpersist was
      // a silent no-op here after the persist→localCheckpoint swap)
      graft.ops.Lineage.release(bShingled)
      m
    } else out
  }

  /** [[incrementalNew]] with a Bloom-filter pre-probe — for when the batch
    * is too large to broadcast its exact fingerprint set. The exact
    * variant broadcasts ~32 bytes per distinct batch fingerprint: a 100M-
    * row crawl batch is a multi-GB broadcast, past the executor-memory
    * cliff. A Bloom filter at the same capacity is ~170 MB at 1% fpp
    * (bits are set by capacity/fpp, not payload width), and its false
    * positives cost nothing but candidate volume: a false-positive corpus
    * fingerprint cannot equal any batch fingerprint, so the final
    * anti-join silently discards it — the result is IDENTICAL to
    * [[incrementalNew]] (spec-proven), only intermediate sizes change.
    *
    * Plan shape at 100 TB: build the filter distributed (treeAggregate,
    * driver holds one filter of the declared size), broadcast it, probe
    * the corpus scan with a per-partition filter — the corpus still
    * never shuffles, and only true collisions + fpp·|corpus| candidate
    * fingerprints flow into the exact anti-join (shuffle-joined when too
    * big to broadcast — still ~1% of a corpus that would otherwise
    * hash-partition whole in the naive batch-anti-corpus plan). The
    * probe is a typed filter (one deserialization per row) applied AFTER
    * the fingerprint projection, so the scan itself stays columnar. */
  def incrementalNewBloom(
      corpus: DataFrame,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      expectedBatchItems: Long,
      fpp: Double = 0.01
  ): DataFrame = {
    val spark = corpus.sparkSession
    val bh = batch.select(col(idCol), md5(col(textCol)).as("fingerprint"))
    val bloom = bh.stat.bloomFilter("fingerprint", expectedBatchItems, fpp)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val corpusFps = corpus.select(md5(col(textCol)).as("fingerprint"))
    val candidates = corpusFps
      .filter((r: org.apache.spark.sql.Row) =>
        bloomBc.value.mightContainString(r.getString(0)))
      .distinct()
    // exact re-check: Bloom false positives are eliminated here, so the
    // result equals the exact-broadcast formulation
    bh.join(candidates, Seq("fingerprint"), "left_anti")
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))
  }

  /** N-gram-level benchmark decontamination — the finer-grained sibling of
    * the whole-document fingerprint check: a training document is flagged
    * when at least `minHits` of its DISTINCT word n-grams also occur in
    * the evaluation set (the published GPT-3/PaLM-style decontamination
    * rule; n=8..13 and a small hit threshold are the common settings).
    * Catches partial contamination — a benchmark question quoted inside an
    * otherwise-clean page — that document-hash matching misses.
    *
    * The 100 TB contract mirrors [[incrementalNew]]: the corpus is scanned
    * ONCE and never shuffled. The benchmark's distinct n-gram HASH set
    * (60-bit md5 — false-hit odds |bench|/2^60 per gram, negligible)
    * broadcasts into an inner hash join against the corpus's exploded
    * distinct grams; the explode is transient inside one codegen pipeline
    * (generate → broadcast-probe → partial count), so the only shuffle
    * carries the per-document hit counts of MATCHED docs — benchmark-sized,
    * not corpus-sized.
    *
    * Returns (idCol, n_grams, n_hits) for flagged documents only. */
  def contaminatedByNgram(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      minHits: Int = 2
  ): DataFrame = {
    val grams = array_distinct(TextHash.shingles(col(textCol), n))
    val benchGrams = benchmark
      .select(explode(grams).as("g"))
      .select(TextHash.hmod60(col("g")).as("gh"))
      .distinct()
    // The gram array is materialized as its own attribute BELOW the
    // explode: putting size(grams) and explode(grams) in one select plans
    // the size as a Project ABOVE the Generate, recomputing the whole
    // shingle+distinct pipeline from the text for EVERY exploded gram row
    // — O(grams²) per document (measured 7× on the gate query). With the
    // alias, the array is computed once per doc and size() is O(1) on the
    // carried attribute.
    corpus
      .select(col(idCol), grams.as("__grams"))
      .select(col(idCol), size(col("__grams")).as("n_grams"),
        explode(col("__grams")).as("g"))
      .select(col(idCol), col("n_grams"), TextHash.hmod60(col("g")).as("gh"))
      .join(broadcast(benchGrams), "gh")
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(lit(1)).as("n_hits"))
      .where(col("n_hits") >= minHits)
  }

  /** N-gram NOVELTY of candidate documents against a reference corpus —
    * the memorization/regurgitation audit run the OTHER way from
    * [[contaminatedByNgram]]: there the benchmark is small and broadcasts;
    * here the reference is the (100 TB) training corpus itself and the
    * candidates (model samples, a fresh crawl, a vendor delivery) may be
    * large too, so NOTHING broadcasts. Per candidate: how many of its
    * distinct word `n`-grams already occur anywhere in the reference —
    * low novelty in sampled model output signals verbatim memorization
    * (Carlini et al. 2021's extraction metric, corpus-side); low novelty
    * in a purchased "new" dataset signals you already own it.
    *
    * Scale shape: both sides reduce to DISTINCT 60-bit gram hashes (the
    * reference aggregate is its distinct-gram set, the candidate side
    * carries (cand_id, gram)), then one shuffled LEFT join on the hash —
    * distinct-gram-sized exchanges, no broadcast, no all-pairs; the
    * per-candidate roll-up partial-aggregates map-side. A null-sentinel
    * gram rides each candidate's explode so ZERO-GRAM documents (shorter
    * than `n` tokens) survive to the output with `novelty_ppm` 1000000 —
    * nothing they contain has been seen, vacuously.
    *
    * Returns one row per candidate:
    * (idCol, n_grams, n_seen, n_novel, novelty_ppm) with
    * `novelty_ppm = n_novel·1e6 div n_grams` (1000000 when n_grams = 0).
    */
  def ngramNovelty(
      reference: DataFrame,
      candidates: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8
  ): DataFrame = {
    val grams = array_distinct(TextHash.shingles(col(textCol), n))
    val refGrams = reference
      .select(explode(grams).as("g"))
      .select(TextHash.hmod60(col("g")).as("gh"))
      .distinct()
      .withColumn("__seen", lit(1L))
    candidates
      .select(col(idCol), grams.as("__grams"))
      .select(col(idCol), size(col("__grams")).cast("bigint").as("n_grams"),
        explode(concat(col("__grams"),
          array(lit(null).cast("string")))).as("g"))
      .select(col(idCol), col("n_grams"),
        when(col("g").isNotNull, TextHash.hmod60(col("g"))).as("gh"))
      .join(refGrams, Seq("gh"), "left")
      .groupBy(col(idCol), col("n_grams"))
      .agg(sum(when(col("gh").isNotNull && col("__seen").isNotNull, lit(1L))
        .otherwise(lit(0L))).as("n_seen"))
      .select(col(idCol), col("n_grams"), col("n_seen"),
        (col("n_grams") - col("n_seen")).as("n_novel"),
        when(col("n_grams") === 0, lit(1000000L))
          .otherwise(expr("(n_grams - n_seen) * 1000000 div n_grams"))
          .as("novelty_ppm"))
  }

  /** Within-corpus duplicated n-gram spans — the exact-substring dedup
    * signal (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): every token position whose word n-gram occurs in at
    * least `minDocs` DISTINCT documents. Downstream policy then cuts the
    * spans (the paper's choice) or drops/downweights the documents —
    * catching the boilerplate-and-quote duplication that whole-document
    * and MinHash dedup both miss.
    *
    * Scale shape: grams explode transiently inside one codegen pipeline
    * (the array-alias discipline of [[contaminatedByNgram]] — the array
    * materializes once per doc, never recomputed per gram row); per-gram
    * document frequency is a two-stage partial aggregate on the 60-bit
    * gram hash (groupBy(gh, doc) collapses within-doc repeats map-side,
    * then groupBy(gh) counts docs); flagged grams join back to the
    * positioned gram stream by hash — AQE broadcasts the flagged table
    * when duplication is rare (the common case at minDocs ≥ 2), else it
    * is an ordinary equi join. The gram md5 is paid on both branches of
    * the self-referencing lineage; a steady-state pipeline persists the
    * positioned gram table as its index instead of re-deriving it.
    *
    * Returns (idCol, pos, gh, n_docs) — `pos` is the 0-based token
    * position where the duplicated span starts. */
  def duplicatedSpans(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      minDocs: Int = 2
  ): DataFrame = {
    require(n > 0, "n must be positive")
    require(minDocs >= 2, "minDocs below 2 flags every position")
    // lazy localCheckpoint: the positioned gram table feeds both the
    // document-frequency aggregate and the final join-back — under a lazy
    // plan the md5-per-gram pipeline was paid on both branches (and its
    // expression forest re-codegen'd per action); the checkpoint is the
    // in-query form of the persisted positioned-gram index a steady-state
    // pipeline would keep
    val positioned = graft.ops.Lineage.cut(corpus
      .select(col(idCol), TextHash.shingles(col(textCol), n).as("__grams"))
      .select(col(idCol), posexplode(col("__grams")).as(Seq("pos", "g")))
      .select(col(idCol), col("pos").cast("bigint").as("pos"),
        TextHash.hmod60(col("g")).as("gh")),
      eager = false)
    val flagged = positioned
      .select(col(idCol), col("gh")).distinct()
      .groupBy("gh").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
    positioned.join(flagged, "gh")
      .select(col(idCol), col("pos"), col("gh"), col("n_docs"))
  }

  /** Maximal duplicated-span intervals — the artifact Lee et al. 2022
    * actually report per document: overlapping/adjacent flagged n-gram
    * spans from [[duplicatedSpans]] merged into maximal token intervals
    * `[start_pos, end_pos)`. One row per contiguous duplicated region;
    * `n_grams` counts the flagged positions merged into it. Downstream
    * policy cuts the interval, drops the doc when coverage is high, or
    * reports duplication mass per source.
    *
    * Gaps-and-islands on the flagged positions: positions p1, p2 merge
    * when p2 ≤ p1 + n (their n-token spans overlap or touch). One keyed
    * window per document — the [[graft.ops.TimeSeries.sessionize]] shape:
    * a single (doc, pos) sort serves both the lag and the running island
    * sum, so the operator costs ONE shuffle of the flagged positions
    * (already ≪ corpus at minDocs ≥ 2), never a corpus shuffle.
    *
    * Returns (idCol, start_pos, end_pos, n_grams), end exclusive. */
  def duplicatedSpanIntervals(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      minDocs: Int = 2
  ): DataFrame = {
    val spans = duplicatedSpans(corpus, textCol, idCol, n, minDocs)
      .select(col(idCol), col("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    val run = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    spans
      .withColumn("__prev", lag(col("pos"), 1).over(w))
      .withColumn("__isl",
        sum(when(col("__prev").isNull || col("pos") > col("__prev") + n, 1L)
          .otherwise(0L)).over(run))
      .groupBy(col(idCol), col("__isl"))
      .agg(min("pos").as("start_pos"),
        (max("pos") + n).as("end_pos"),
        count(lit(1)).as("n_grams"))
      .drop("__isl")
  }

  /** Cut duplicated spans — the actionable policy on top of
    * [[duplicatedSpans]] (what Lee et al. actually do): rebuild each
    * document keeping ONE canonical occurrence per duplicated n-gram (the
    * lowest (doc, pos) corpus-wide) and dropping the n tokens under every
    * other occurrence. Documents the corpus duplicates entirely collapse
    * to empty text; untouched documents pass through byte-identical.
    *
    * Scale shape adds two bounded steps to [[duplicatedSpans]]: the
    * canonical pick is a min-struct aggregate per flagged gram hash
    * (flagged-table-sized, not corpus-sized), and the per-document cut
    * list is a collect_list bounded by the document's own span count —
    * state proportional to one document, the same bound any text rewrite
    * carries. The rebuild itself is one narrow HOF pass: tokens bind once
    * per row (the [[TextHash.shingles]] let-binding discipline), each
    * token index probes the sorted cut list with `exists`.
    *
    * Returns (idCol, textCol) with the deduplicated text. */
  def cutDuplicatedSpans(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 8,
      minDocs: Int = 2
  ): DataFrame = {
    val flagged = graft.ops.Lineage.cut(
      duplicatedSpans(corpus, textCol, idCol, n, minDocs),
      eager = false) // consumed by canon AND cuts below
    val canon = flagged.groupBy("gh")
      .agg(min(struct(col(idCol).as("d"), col("pos").as("p"))).as("c"))
    val cuts = flagged.join(canon, "gh")
      .where(!(col(idCol) === col("c.d") && col("pos") === col("c.p")))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__cut"))
    val span = lit(n - 1)
    val rebuilt = element_at(
      transform(array(split(col(textCol), " ")), toks =>
        array_join(
          transform(
            filter(sequence(lit(0), size(toks) - 1),
              i => !exists(col("__cut"), p => i >= p && i <= p + span)),
            i => element_at(toks, i.cast("int") + 1)),
          " ")),
      1)
    corpus.join(cuts, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__cut").isNull, col(textCol)).otherwise(rebuilt).as(textCol))
  }

  /** Materialize the deduplicated corpus: keep one canonical row per
    * near-dup component (the minimum-id member), pass through rows that
    * duplicate nothing.
    *
    * The cluster labeling is usually ≪ corpus (only docs WITH a near-dup
    * appear), but a high-dup-rate corpus can make it a large fraction — so
    * no hard-coded broadcast hint: `duplicateClusters` returns an eagerly
    * checkpointed frame whose size AQE knows at runtime, and it picks
    * broadcast when the labeling is small and a shuffle join when it
    * isn't. The corpus side never shuffles in the broadcast case. */
  def keepCanonical(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double
  ): DataFrame = {
    val clusters = duplicateClusters(minhashPairs(df, textCol, idCol, threshold))
    df.join(clusters, df(idCol) === clusters("id"), "left")
      .where(col("cluster").isNull || col("cluster") === df(idCol))
      .drop("id", "cluster")
  }

  /** Paragraph-level exact dedup (the Dolma/RefinedWeb paragraph pass):
    * split every document on `sep`, keep only the globally FIRST
    * occurrence of each exact paragraph — first = lowest (idCol,
    * position) — and rebuild each document from its surviving paragraphs
    * in order. Catches the between-doc boilerplate (shared headers,
    * footers, navigation blocks) that document-level exact dedup cannot
    * see and n-gram span cutting overshoots.
    *
    * Duplicate detection keys on md5(paragraph) — 128 bits, collision-free
    * in practice and computed identically by any engine; occurrences
    * carry (id, pos) so "first" is a total order with no tie.
    *
    * Scale shape: paragraphs explode transiently (never joined to
    * themselves); the canonical pick is one partial-agg min-struct per
    * hash; occurrences re-join the pick hash-keyed; the rebuild is one
    * doc-keyed aggregate with an ordered list — three paragraph-sized
    * exchanges, no window, no product join. Documents whose every
    * paragraph is dropped survive with empty text (row count never
    * changes).
    *
    * Output: (idCol, textCol = deduped text, n_paras, n_kept). */
  def paragraphDedup(
      df: DataFrame,
      textCol: String,
      idCol: String,
      sep: String = "\n\n"
  ): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    val paras = df
      .select(col(idCol), posexplode(split(col(textCol), quoted))
        .as(Seq("pos", "para")))
      .withColumn("h", md5(col("para")))
    val firsts = paras.groupBy("h")
      .agg(min(struct(col(idCol), col("pos"))).as("first"))
    val kept = paras.join(firsts, "h")
      .where(col(s"first.$idCol") === col(idCol) &&
        col("first.pos") === col("pos"))
    val rebuilt = kept.groupBy(idCol)
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          e => e("para")), sep).as("__text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol),
        (size(split(col(textCol), quoted))).cast("bigint").as("n_paras"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__text"), lit("")).as(textCol),
        col("n_paras"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Exact Jaccard similarity of two string-array columns (as sets): the
    * codegen'd zero-allocation `graft_jaccard` kernel. Its spec is
    * [[jaccardDeclarative]] (JaccardNativeSpec, KernelIdentitySpec). */
  def jaccard(a: Column, b: Column): Column =
    call_function("graft_jaccard", a, b)

  /** The readable spec of [[jaccard]] (and the oracle-generation
    * template). */
  def jaccardDeclarative(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Per-document 60-bit SimHash fingerprint. Narrow transform: the
    * codegen'd `graft_simhash` kernel. Its spec is
    * `TextHash.simhash(split(text, " "))` (TextNativeSpec,
    * KernelIdentitySpec). */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), call_function("graft_simhash", col(textCol)).as("simhash"))

  /** Hamming distance between two simhash columns. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Character n-gram Jaccard similarity between paired text columns (a
    * character-level verification measure for near-dup candidates).
    * `substr` with a Column start position only exists in SQL form, hence
    * the expr-built `transform(sequence(...), i -> substr(text, i, n))`. */
  def charNgramJaccard(df: DataFrame, aCol: String, bCol: String, n: Int = 3): DataFrame =
    df.withColumn("a_grams",
        array_distinct(expr(s"transform(sequence(1, greatest(length($aCol)-${n - 1},1)), i -> substr($aCol, i, $n))")))
      .withColumn("b_grams",
        array_distinct(expr(s"transform(sequence(1, greatest(length($bCol)-${n - 1},1)), i -> substr($bCol, i, $n))")))
      .withColumn("jaccard", jaccard(col("a_grams"), col("b_grams")))
      .drop("a_grams", "b_grams")

  /** Raw LSH candidate pairs — band collisions only, NO Jaccard
    * verification (the screen [[minhashPairs]] applies before its exact
    * check). Exposed separately so the screen itself can be EVALUATED:
    * candidates vs a brute-force truth set measures both the false
    * positives (bucket collisions below the threshold) and the false
    * negatives (near-dups no band caught) that the verified pair set
    * hides by construction. Same scale shape as the screen inside
    * [[minhashPairs]]: the band self-join carries only (band, key, id). */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val banded = minhashBands(df, textCol, idCol)
    val bandStructs = (0 until TextHash.Bands).map(b => col(s"b$b"))
    // lazy localCheckpoint of the NARROW band rows: the self-join below
    // consumes this frame on both sides — under a lazy plan the md5-heavy
    // signature pipeline ran (and was re-codegen'd) once per side
    val exploded = graft.ops.Lineage.cut(banded
      .select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key")),
      eager = false)
    val a = exploded.select(col(idCol).as("a_id"), col("band"), col("key"))
    val b = exploded.select(col(idCol).as("b_id"), col("band"), col("key"))
    a.join(b, Seq("band", "key"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .dropDuplicates("a_id", "b_id")
  }

  /** Contrastive training-pair mining from the LSH candidate structure:
    * (anchor_id, pos_id, neg_id) triples where `pos` is the anchor's
    * lowest-id verified near-duplicate (Jaccard ≥ `posThreshold`) and
    * `neg` its lowest-id HARD negative — a pair that collided in a
    * minhash band (lexically close enough to fool the sketch) but failed
    * verification (Jaccard < `negThreshold`). Exactly the mining recipe
    * for training bi-encoders from weak supervision: positives from
    * near-dup structure, negatives that are hard BECAUSE they collided,
    * not random (random negatives are trivially separable and teach the
    * model nothing). Pairs in the ambiguity band [negThreshold,
    * posThreshold) train neither side. Anchors lacking either leg emit
    * nothing; the lowest-id pick makes the triple set deterministic on
    * any engine.
    *
    * Scale shape = [[minhashPairs]] (band-key join carries 3 narrow
    * columns, verification only on the candidate set) plus two bounded
    * per-anchor min-aggregates — nothing quadratic, nothing corpus-wide
    * beyond the banding shuffle. */
  def contrastivePairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      posThreshold: Double,
      negThreshold: Double
  ): DataFrame = {
    require(negThreshold <= posThreshold,
      "negThreshold above posThreshold would label one pair both ways")
    val verified = minhashPairs(df, textCol, idCol, threshold = 0.0)
    val sym = verified
      .select(col("a_id").as("anchor_id"), col("b_id").as("partner"),
        col("jaccard"))
      .unionByName(verified.select(col("b_id").as("anchor_id"),
        col("a_id").as("partner"), col("jaccard")))
    val pos = sym.where(col("jaccard") >= posThreshold)
      .groupBy("anchor_id").agg(min("partner").as("pos_id"))
    val neg = sym.where(col("jaccard") < negThreshold)
      .groupBy("anchor_id").agg(min("partner").as("neg_id"))
    pos.join(neg, "anchor_id").select("anchor_id", "pos_id", "neg_id")
  }

  /** Brute-force near-dup truth pairs over a SAMPLE: every (a < b) pair
    * with exact shingle-set Jaccard ≥ threshold. The TRUTH is quadratic —
    * this is the ground-truth leg of near-dup evaluation, meant for a
    * labeled/bounded sample, never the corpus (the `maxSample` fail-fast
    * enforces that, the [[graft.ext.Similarity]] `maxClusterSize`
    * discipline). The EXECUTION is not a nested-loop product, though:
    * `jaccard = c / (|A| + |B| − c)` where c = |A∩B|, so the only
    * pair-level quantity needed is the shared-shingle count — an
    * explode → equi-join on the shingle value → count per (a, b) pair,
    * which an equi-join computes for exactly the pairs with c ≥ 1 (a
    * pair sharing NO shingle has jaccard 0 and cannot meet a positive
    * threshold). Identical output to materializing
    * `size(array_intersect)/size(array_union)` per pair — same integer
    * numerator/denominator, same double division — with no per-pair
    * wide-array allocation: the n²/2 `array_intersect`/`array_union`
    * evaluations of the former nested-loop form ran 32 concurrent
    * allocation storms in one local[32] JVM and regressed 4.4× on the
    * r14 driver box (22.2 s vs 5.1 s; the same code read 1.1 s on the
    * builder's box — GC-bound, not plan-bound). */
  def bruteForcePairs(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double, maxSample: Int = 10000): DataFrame = {
    require(threshold > 0.0,
      "bruteForcePairs: threshold must be positive — the shared-shingle " +
        "equi-join enumerates only pairs with a non-empty intersection " +
        "(jaccard 0 pairs cannot meet a positive threshold)")
    // lazy localCheckpoint: the count probe and both join sides would
    // each re-plan (and re-codegen) the shingle HOF tree under persist()
    val shingled = graft.ops.Lineage.cut(df
      .select(col(idCol), array_distinct(TextHash.shingles(col(textCol)))
        .as("sh")),
      eager = false)
    val n = shingled.count()
    require(n <= maxSample,
      s"bruteForcePairs: $n rows exceeds maxSample=$maxSample — " +
        "brute-force truth is for bounded samples; raise maxSample only " +
        "if you accept O(n^2) pairs")
    // distinct-element rows: set semantics, matching array_intersect /
    // array_union (which deduplicate); sz = |set|
    val sets = shingled.select(col(idCol), size(col("sh")).as("sz"),
      explode(col("sh")).as("shingle"))
    val a = sets.select(col(idCol).as("a_id"), col("sz").as("a_sz"),
      col("shingle"))
    val b = sets.select(col(idCol).as("b_id"), col("sz").as("b_sz"),
      col("shingle"))
    a.join(b, "shingle")
      .where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id", "a_sz", "b_sz")
      .agg(count(lit(1)).as("c"))
      .withColumn("jaccard", col("c").cast("double") /
        (col("a_sz") + col("b_sz") - col("c")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Asymmetric containment near-dup pairs: band candidates verified by
    * shingle-set CONTAINMENT `|A∩B| / min(|A|,|B|)` instead of Jaccard.
    *
    * Catches the subset-duplicate class Jaccard structurally misses: a
    * document whose text is a prefix/excerpt of a longer one shares almost
    * all of ITS shingles with the parent (containment ≈ 1) while the
    * symmetric overlap stays low (Jaccard ≈ |short|/|long|) — exactly the
    * truncated-repost / quote-page shape a crawl corpus is full of. Both
    * measures are emitted so the caller sees which class each pair is.
    *
    * Scale shape is [[minhashPairs]]'s: the band self-join carries only
    * (band, key, id); shingle arrays re-join for the candidate set only.
    * Recall honesty: candidates still come from the Jaccard-tuned MinHash
    * bands, so a contained doc is surfaced with probability
    * 1-(1-j^r)^b of the PAIR's Jaccard — high-containment/low-Jaccard
    * pairs are screened at that reduced rate (a containment-complete
    * screen would band over the short side's shingles alone; at corpus
    * scale that is [[graft.ext.Winnow]]'s shared-fingerprint job, which
    * this operator complements with exact set arithmetic on survivors). */
  def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double
  ): DataFrame = {
    val shingled = df
      .select(col(idCol), TextHash.shingles(col(textCol)).as("shingles"),
        minhashSig(textCol).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandCols = (0 until TextHash.Bands).map { b =>
      val slice = (0 until TextHash.RowsPerBand)
        .map(r => element_at(col("sig"), b * TextHash.RowsPerBand + r + 1))
      struct(lit(b).as("band"), concat_ws("-", slice: _*).as("key"))
    }
    val exploded = shingled.select(col(idCol),
      explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
    val a = exploded.select(col(idCol).as("a_id"), col("band"), col("key"))
    val b = exploded.select(col(idCol).as("b_id"), col("band"), col("key"))
    val candidates = a.join(b, Seq("band", "key"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .dropDuplicates("a_id", "b_id")
    val sa = shingled.select(col(idCol).as("a_id"), col("shingles").as("a_sh"))
    val sb = shingled.select(col(idCol).as("b_id"), col("shingles").as("b_sh"))
    candidates
      .join(sa, "a_id")
      .join(sb, "b_id")
      .withColumn("containment",
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          least(size(array_distinct(col("a_sh"))),
            size(array_distinct(col("b_sh")))).cast("double"))
      .withColumn("jaccard", jaccard(col("a_sh"), col("b_sh")))
      .where(col("containment") >= threshold)
      .select("a_id", "b_id", "containment", "jaccard")
  }

  /** Analytic S-curve of the b-band × r-row minhash scheme: for a pair
    * with Jaccard similarity s, the probability at least one band
    * collides is P(s) = 1 − (1 − s^r)^b — the function you TUNE (b, r)
    * against before paying for a banding run at 100 TB (Leskovec/
    * Rajaraman/Ullman, MMDS ch. 3). Evaluated EXACTLY on the lattice
    * s = k/grid: every term is an integer power (decimal(38,0)
    * multiplies, no floating pow), ppm is the truncating integral `div`
    * the kappa gates already use, so any engine reproduces the table
    * bit-for-bit. `grid^(rows·bands)` must fit 38 digits — the guard
    * rejects shapes that would silently overflow.
    *
    * Output: (s_ppm, collide_ppm) per lattice point, plus the scheme's
    * (bands, rows) for self-description. Driver-sized: grid+1 rows. */
  def lshCollisionCurve(
      spark: org.apache.spark.sql.SparkSession,
      bands: Int = TextHash.Bands,
      rows: Int = TextHash.RowsPerBand,
      grid: Int = 20
  ): DataFrame = {
    require(bands >= 1 && rows >= 1 && grid >= 1,
      s"lshCollisionCurve: bands=$bands rows=$rows grid=$grid")
    // <= 32 digits, not 38: collide_ppm multiplies __num by 1e6 before the
    // div, so 6 digits of headroom must stay reserved inside decimal(38,0)
    // or the ppm product overflows to null silently under non-ANSI Spark
    require(BigInt(grid).pow(rows * bands).toString.length <= 32,
      s"lshCollisionCurve: grid^($rows*$bands) needs the 6-digit ppm " +
        "headroom inside decimal(38,0) — shrink grid, rows, or bands")
    require(1000000 % grid == 0,
      s"lshCollisionCurve: grid $grid must divide 1e6 for exact s_ppm")
    val d38 = "decimal(38,0)"
    val gR = lit(new java.math.BigDecimal(BigInt(grid).pow(rows).toString))
      .cast(d38)
    val den = lit(new java.math.BigDecimal(
      BigInt(grid).pow(rows * bands).toString)).cast(d38)
    val kR = (1 to rows).map(_ => col("k").cast(d38))
      .reduce((a, b) => (a * b).cast(d38))
    val diffB = {
      val diff = (gR - kR).cast(d38)
      (1 to bands).map(_ => diff).reduce((a, b) => (a * b).cast(d38))
    }
    spark.range(0, grid + 1L).toDF("k")
      .withColumn("__num", (den - diffB).cast(d38))
      .select(
        (col("k") * (1000000L / grid)).cast("bigint").as("s_ppm"),
        expr("CAST((__num * 1000000) div " +
          s"CAST('${BigInt(grid).pow(rows * bands)}' AS $d38) AS BIGINT)")
          .as("collide_ppm"),
        lit(bands.toLong).as("bands"),
        lit(rows.toLong).as("rows"))
  }

  /** EXACT Hamming r-neighbor pairs over a fixed-width hash column by
    * pigeonhole block banding (Manku, Jain & Das Sarma 2007, "Detecting
    * Near-Duplicates for Web Crawling"; the batch formulation of Norouzi
    * et al.'s multi-index hashing): split the `bits`-bit hash into
    * `blocks` disjoint substrings — a pair within Hamming distance
    * `maxDist` differs in at most `maxDist` blocks, so it agrees EXACTLY
    * on some (blocks − maxDist)-subset; each such subset's concatenated
    * value is a band key. Self-join per (band index, key), then verify
    * `bit_count(xor) <= maxDist`. Unlike minhash LSH this is exact, not
    * probabilistic: zero false negatives by construction, and the
    * verification removes every false positive. The Hamming-space
    * analogue of [[minhashPairs]] — the pair search behind simhash /
    * perceptual-hash near-dup at corpus scale.
    *
    * `blocks` trades band count against bucket width: C(blocks, maxDist)
    * bands of (blocks − maxDist)·(bits/blocks)-bit keys. The default
    * `blocks = maxDist + 1` gives maxDist+1 single-block bands — right
    * for corpora up to ~2^(bits/(r+1)) rows. Past that, bucket occupancy
    * (n² / 2^keyWidth per band) makes the candidate join quadratic: raise
    * `blocks` so keys widen — 60-bit/r=3 at 20M rows wants `blocks = 6`
    * (20 bands of 30-bit keys: expected candidates ≈ 20·n²/2^30, linear-
    * ish at that n) — exactness is preserved at any valid setting.
    *
    * Scale shape: ONE exchange — (band, key, id, hash), four narrow
    * int64s per exploded row, hash-aggregated into per-key buckets whose
    * members pair up inline (no second sorted side: the equivalent
    * self-JOIN sort-merge-sorts the exploded relation twice, measured
    * 2.2× slower at 10M×20 bands). A band key is always ≤ bits ≤ 63 so
    * it stays ONE long. Effective key width ≥ 8 bits is enforced so a
    * mis-call cannot silently degrade to a broadcast-of-everything, and
    * a bucket exceeding `maxBucket` members fails fast rather than
    * silently materializing a quadratic pair list — oversized buckets
    * mean exact duplicates (run exact dedup first; identical hashes
    * pair quadratically under ANY exact scheme) or keys too narrow for
    * the corpus (raise `blocks`).
    *
    * Output: (a_id, b_id, hamming) with a_id < b_id, hamming <= maxDist. */
  def hammingNeighbors(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxDist: Int = 3,
      bits: Int = 60,
      blocks: Int = 0,
      maxBucket: Int = 2048
  ): DataFrame = {
    require(maxDist >= 0, s"hammingNeighbors: maxDist $maxDist < 0")
    require(bits >= 1 && bits <= 63, s"hammingNeighbors: bits $bits")
    val m = if (blocks > 0) blocks else maxDist + 1
    require(m > maxDist,
      s"hammingNeighbors: $m blocks <= maxDist $maxDist — pigeonhole needs " +
        "more blocks than differing bits")
    require(m <= bits, s"hammingNeighbors: $m blocks over $bits bits")
    require((m - maxDist) * (bits / m) >= 8,
      s"hammingNeighbors: band keys of ${(m - maxDist) * (bits / m)} bits " +
        "(< 8) — bucket occupancy would approach corpus size; raise blocks " +
        "or lower maxDist")
    // first (bits % m) blocks take one extra bit so the widths tile `bits`
    val base = bits / m
    val widths = (0 until m).map(i => if (i < bits % m) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    def blockVal(i: Int): Column =
      call_function("shiftright", col(hashCol), lit(offsets(i)))
        .bitwiseAND(lit((1L << widths(i)) - 1L))
    val bands = (0 until m).combinations(m - maxDist).toSeq.zipWithIndex
      .map { case (combo, bi) =>
        val key = combo.foldLeft(lit(0L): Column) { (acc, i) =>
          call_function("shiftleft", acc, lit(widths(i))).bitwiseOR(blockVal(i))
        }
        struct(lit(bi).as("ci"), key.as("cv"))
      }
    require(maxBucket >= 2, s"hammingNeighbors: maxBucket $maxBucket")
    val exploded = df
      .select(col(idCol), col(hashCol), explode(array(bands: _*)).as("c"))
      .select(col(idCol).as("__hid"), col(hashCol).as("__hh"),
        col("c.ci").as("ci"), col("c.cv").as("cv"))
    val buckets = exploded
      .groupBy(col("ci"), col("cv"))
      .agg(collect_list(struct(col("__hid").as("id"), col("__hh").as("h")))
        .as("mem"))
      .where(size(col("mem")) >= 2)
      .withColumn("mem",
        when(size(col("mem")) <= maxBucket, col("mem"))
          .otherwise(raise_error(concat(
            lit(s"hammingNeighbors: band bucket over $maxBucket members " +
              "(exact-dup mass or too-narrow keys; dedup exactly first " +
              "or raise blocks): band="),
            col("ci"), lit(" key="), col("cv")))))
    val pairsInBucket = flatten(transform(col("mem"), (x, i) =>
      filter(
        transform(col("mem"), (y, j) => {
          val fwd = struct(x("id").as("a_id"), y("id").as("b_id"),
            x("h").as("a_h"), y("h").as("b_h"))
          val rev = struct(y("id").as("a_id"), x("id").as("b_id"),
            y("h").as("a_h"), x("h").as("b_h"))
          when(j > i && x("id") < y("id"), fwd)
            .when(j > i && y("id") < x("id"), rev)
        }),
        p => p.isNotNull)))
    buckets
      .select(explode(pairsInBucket).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
        bit_count(col("p.a_h").bitwiseXOR(col("p.b_h"))).cast("bigint")
          .as("hamming"))
      .where(col("hamming") <= maxDist)
      .dropDuplicates("a_id", "b_id")
  }
}
