package graft.tools

import graft.GraftSession
import graft.ops.{Merge, RowNumbers, Skew}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Scale stress: the core primitives at 10-50M rows on local[32] —
  * synthetic data (spark.range, no testdata modification), printing one
  * timing line per stage. The point is to catch accidental O(n²), single-
  * partition collapses, or driver materialization long before cluster
  * deployment. Run: `sbt "runMain graft.tools.ScaleSmoke"`. */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get("local[32]", 64)
    import spark.implicits._
    // optional args: run only entries whose label starts with one of them
    // (dev shortcut for iterating on a single smoke; no args → full run)
    val only = args.toSet
    def time[T](label: String)(f: => T): Unit =
      if (only.isEmpty || only.exists(label.startsWith)) {
        val t0 = System.nanoTime()
        f
        println(f"[scale] $label%-44s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
      }

    // 1. gap-free row numbers, 50M rows / 256 partitions
    val big = spark.range(0, 50000000L, 1, 256).toDF("v")
    time("rownumbers 50M (unordered, 2 passes)") {
      val ids = RowNumbers.withRowNumbers(big, "_id")
        .agg(min("_id"), max("_id"), count(lit(1))).first()
      assert(ids.getLong(0) == 1 && ids.getLong(1) == 50000000L)
    }

    // 2. ordered row numbers (sort + freeze + 2 passes), 20M
    val keyed = spark.range(0, 20000000L, 1, 128).toDF("v")
      .withColumn("k", pmod(hash(col("v")), lit(1000000)))
    time("rownumbers 20M ordered (range sort)") {
      val out = RowNumbers.withRowNumbersOrdered(keyed, Seq(col("k"), col("v")))
      assert(out.agg(max("_id")).first().getLong(0) == 20000000L)
    }

    // 3. merge upsert: 20M target, 200k stage (broadcast path)
    val target = spark.range(0, 20000000L, 1, 128).toDF("k")
      .withColumn("_id", col("k") + 1)
      .withColumn("val", (col("k") % 997).cast("double"))
      .withColumn("_updated_at", lit("2026-01-01 00:00:00").cast("timestamp"))
      .select("_id", "k", "val", "_updated_at")
    val ts = Timestamp.valueOf("2026-02-02 00:00:00")
    val stageSmall = spark.range(0, 200000L, 1, 16)
      .select((col("id") * 100).as("k"))
      .withColumn("_id", col("k") + 30000000L)
      .withColumn("val", lit(-1.0))
      .select("_id", "k", "val")
    time("merge 20M target x 200k stage (broadcast)") {
      val merged = Merge.merge(target, stageSmall, ts,
        Merge.MergeSpec(uniqueKeys = Seq("k"), strategy = Merge.MergeStrategy.BroadcastStage))
      assert(merged.where(col("val") === -1.0).count() == 200000L)
    }

    // 4. merge with 5M stage (full-outer path)
    val stageBig = spark.range(0, 5000000L, 1, 64)
      .select((col("id") * 5).as("k"))
      .withColumn("_id", col("k") + 30000000L)
      .withColumn("val", lit(-2.0))
      .select("_id", "k", "val")
    time("merge 20M target x 5M stage (full outer)") {
      val merged = Merge.merge(target, stageBig, ts,
        Merge.MergeSpec(uniqueKeys = Seq("k"), strategy = Merge.MergeStrategy.FullOuter))
      assert(merged.count() == 25000000L - 4000000L)
    }

    // 5. skewed aggregation, 50M rows, 99% in one key
    val skewed = spark.range(0, 50000000L, 1, 256)
      .withColumn("k", when(col("id") % 100 === 0, concat(lit("rare-"), col("id") % 37))
        .otherwise(lit("hot")))
      .withColumn("v", (col("id") % 13).cast("double"))
    time("salted agg 50M (99% one key)") {
      val out = Skew.saltedAgg(skewed, Seq("k"), 32, Seq(col("id")),
        partial = Seq(count(lit(1)).as("n0"), sum(col("v").cast("decimal(20,2)")).as("s0")),
        combine = Seq(sum(col("n0")).as("n"), sum(col("s0")).cast("double").as("s")))
      assert(out.count() == 38)
    }

    // 7. FULL minhash LSH dedup pipeline at 1M docs, 5% planted near-dups.
    // Tokens are globally unique per doc (id*40+i) so ONLY the planted
    // pairs should match — an earlier modular generator accidentally made
    // ids 50k apart exact clones, and the pipeline dutifully verified the
    // ~10M real pairs that implied. Synthetic-corpus lesson learned.
    val corpus1m = spark.range(0, 1000000L, 1, 128)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 40).map(i =>
          concat(lit("w"), col("id") * 40 + lit(i))): _*).as("text"))
    val withDups = corpus1m.unionByName(
      corpus1m.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" zz dup marker")).as("text")))
    time("minhash LSH pairs pipeline 1.05M docs") {
      val n = graft.ext.Dedup.minhashPairs(withDups, "text", "doc_id", 0.6).count()
      // LSH recall is probabilistic: 4 bands x 4 rows at jaccard ~0.93 →
      // expected ~99.5-99.9% of the 50k planted pairs (measured 99.87%).
      println(f"[scale]   lsh recall: ${n.toDouble / 50000 * 100}%.2f%% ($n/50000)")
      assert(n >= 49500L, s"LSH recall collapsed: got $n of 50000 planted pairs")
    }

    // 6. native minhash over 500k synthetic docs (~40 tokens each)
    val docs = spark.range(0, 500000L, 1, 128)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 40).map(i =>
          concat(lit("w"), pmod(col("id") * (i + 7) + i, lit(5000)))): _*).as("text"))
    time("native minhash signatures 500k docs") {
      val n = docs.select(call_function("graft_minhash_sig", col("text")).as("sig"))
        .agg(sum(element_at(col("sig"), 1))).first()
      assert(n.getLong(0) > 0)
    }

    // 8. sampling family at 50M rows: pure-filter downsample + split counts
    val samp = spark.range(0, 50000000L, 1, 256).toDF("doc_id")
      .withColumn("lang", when(col("doc_id") % 3 === 0, "en").otherwise("de"))
    time("stratified sample 50M (hash filter)") {
      val kept = graft.ext.Sampling
        .stratifiedSample(samp, "doc_id", "lang", Map("en" -> 30), 60).count()
      // expectation: 1/3·30% + 2/3·60% = 50% ± hash noise
      assert(kept > 24000000L && kept < 26000000L, s"sample rate off: $kept")
    }
    time("split assign 50M (hash bands)") {
      val counts = samp.groupBy(graft.ext.Sampling.splitAssign(col("doc_id"), 80, 10).as("s"))
        .agg(count(lit(1)).as("n")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts.values.sum == 50000000L && counts("train") > 39000000L)
    }

    // 9. sequence packing at 10M docs: two-pass prefix sum (no 1-partition window)
    val toPack = spark.range(0, 10000000L, 1, 128).toDF("doc_id")
      .withColumn("toks", (col("doc_id") % 900 + 100).cast("long"))
    time("sequence packing 10M docs (prefix sum)") {
      val out = graft.ext.Sampling.packSequences(toPack, "doc_id", "toks", 4096)
      val stats = out.agg(max("bin"), count(lit(1))).first()
      // total tokens ≈ 10M × 549.5 avg → ≈ 1.34M windows of 4096
      assert(stats.getLong(1) == 10000000L)
      assert(stats.getLong(0) > 1300000L && stats.getLong(0) < 1400000L)
    }

    // 10. contamination at 10M corpus vs 100k benchmark (broadcast semi)
    val corpusFp = spark.range(0, 10000000L, 1, 128)
      .select(col("id").as("doc_id"), md5(concat(lit("doc"), col("id"))).as("fp"))
    val benchFp = spark.range(0, 100000L, 1, 8)
      .select(md5(concat(lit("doc"), col("id") * 50)).as("fp"))
    time("contamination 10M corpus x 100k benchmark") {
      val hits = corpusFp.join(broadcast(benchFp), Seq("fp"), "left_semi").count()
      assert(hits == 100000L, s"every benchmark doc (ids 0,50,100,…) must hit: $hits")
    }

    // 11. incremental dedup: 20M corpus x 200k batch, half re-crawls.
    // The corpus side must stay scan-only (broadcast probe, no shuffle).
    val corpusTx = spark.range(0, 20000000L, 1, 128)
      .select(col("id").as("doc_id"), concat(lit("content-"), col("id")).as("text"))
    val batchTx = spark.range(0, 200000L, 1, 16)
      .select((col("id") + 100000000L).as("doc_id"),
        when(col("id") % 2 === 0, concat(lit("content-"), col("id") * 100)) // re-crawl
          .otherwise(concat(lit("new-"), col("id"))).as("text"))
    time("incremental dedup 20M corpus x 200k batch") {
      val fresh = graft.ext.Dedup.incrementalNew(corpusTx, batchTx, "text", "doc_id").count()
      assert(fresh == 100000L, s"exactly the new half must survive: $fresh")
    }

    // 12. boilerplate strip at 2M docs (40 tokens = 4 segments each, one
    // shared 10-token banner on 30% of docs)
    val banner10 = (0 until 10).map(i => s"banner$i").mkString(" ")
    val bpDocs = spark.range(0, 2000000L, 1, 128)
      .select(col("id").as("doc_id"),
        concat_ws(" ",
          when(col("id") % 3 === 0, lit(banner10)).otherwise(concat(lit("u"), col("id"))) +:
            (0 until 30).map(i => concat(lit("w"), col("id") * 30 + lit(i))): _*).as("text"))
    time("boilerplate strip 2M docs (4 segs each)") {
      val out = graft.ext.Boilerplate.stripBoilerplate(bpDocs, "text", "doc_id", 10, 3)
      val n = out.where(col("clean_text").contains("banner0")).count()
      assert(n == 0L, s"banner must be stripped everywhere: $n")
    }

    // 13. as-of join: 20M left x 20M right over 1M keys — one keyed
    // shuffle + O(n) running window, no per-row probing
    val leftEv = spark.range(0, 20000000L, 1, 128)
      .select(col("id").as("event_id"), (col("id") % 1000000L).as("user_id"),
        (col("id") * 7 % 86400000L).as("us"))
    val rightEv = spark.range(0, 20000000L, 1, 128)
      .select((col("id") % 1000000L).as("user_id"),
        (col("id") * 13 % 86400000L).as("us"))
    time("as-of join 20M x 20M over 1M keys") {
      val matched = graft.ops.AsOfJoin.asOfTime(leftEv, rightEv, "user_id", "us")
        .where(col("asof_time").isNotNull).count()
      assert(matched > 15000000L, s"most events should find a prior match: $matched")
    }

    // 14. quota cap at 50M rows, 100 groups → bounded aggregate keeps
    // ≤ mappers×k per group in the shuffle, not the 500k-row groups
    val quotaIn = spark.range(0, 50000000L, 1, 256)
      .select(concat(lit("g"), col("id") % 100).as("grp"), col("id").as("doc_id"))
    time("quota cap 50M rows, 100 groups, k=1000") {
      val n = graft.ext.Sampling.quotaCap(quotaIn, "grp", "doc_id", 1000, "epoch0").count()
      assert(n == 100000L, s"100 groups x 1000: $n")
    }

    // 15. custom physical as-of join at the same 20M x 20M / 1M keys as
    // the window formulation above — must agree on the match count
    time("as-of exec (physical merge) 20M x 20M") {
      val matched = graft.ops.AsOfJoin.asOfTimeMerged(leftEv, rightEv, "user_id", "us")
        .where(col("asof_time").isNotNull).count()
      assert(matched > 15000000L, s"most events should find a prior match: $matched")
    }

    // 15b. the SAME physical merge forced down the generic
    // (interpreted-ordering) path via a decimal(20,6) time column — the
    // shape a user hits with timestamp/decimal keys. Measures the
    // constant-factor cost of boxed compares + value copies relative to
    // the primitive long merge above, and proves the generic loop is
    // still O(n) (no quadratic blowup, no per-row allocation storm).
    val leftDec = leftEv.withColumn("us", col("us").cast("decimal(20,6)"))
    val rightDec = rightEv.withColumn("us", col("us").cast("decimal(20,6)"))
    time("as-of exec (generic decimal) 20M x 20M") {
      val matched = graft.ops.AsOfJoin.asOfTimeMerged(leftDec, rightDec, "user_id", "us")
        .where(col("asof_time").isNotNull).count()
      assert(matched > 15000000L, s"most events should find a prior match: $matched")
    }

    // 16. binned range join: 20M points x 2M intervals (width ~100, bin
    // 128 → ≤2 bins/interval). An inequality-join nested loop here would
    // be 4×10^13 comparisons; the binned plan is one equi shuffle.
    val pts = spark.range(0, 20000000L, 1, 128)
      .select(col("id").as("pid"), (col("id") * 48271 % 2000000000L).as("p"))
    val ivs = spark.range(0, 2000000L, 1, 64)
      .select(col("id").as("iid"), (col("id") * 977).as("lo"),
        (col("id") * 977 + 100).as("hi"))
    time("binned range join 20M points x 2M intervals") {
      val n = graft.ops.RangeJoin.binnedRangeJoin(pts, ivs, "p", "lo", "hi", 128L)
        .count()
      assert(n > 0, "some points must land in intervals")
    }

    // 17. diversity sample at 2M vectors x 8 dims: cell assignment is a
    // broadcast-codebook pass with one shuffled row per vector; the
    // per-cell quota draw is the bounded aggregate (a dense cell never
    // fully shuffles)
    val vecs = spark.range(0, 2000000L, 1, 128)
      .select(col("id").as("vec_id"),
        array((0 until 8).map(i =>
          ((col("id") * (i + 3) % 1000) / lit(500.0) - 1).cast("float")): _*)
          .as("embedding"))
    time("diversity sample 2M x 8d, 16 cells, quota 1k") {
      val out = graft.ext.Similarity
        .diversitySample(vecs, "embedding", "vec_id", nCells = 16, quota = 1000, salt = "s")
      val n = out.count()
      assert(n > 0 && n <= 16000L, s"caps must bind: $n")
    }

    // 18. temperature mix at 50M rows: rate table is a 2-row broadcast;
    // the corpus is filtered in place (no shuffle of the 50M rows).
    // en is 1/3, de 2/3 → de keeps 100%, en floor(100·sqrt(0.5)) = 70%
    time("temperature mix 50M, 2 strata") {
      val kept = graft.ext.Sampling.temperatureMix(samp, "lang", "doc_id").count()
      val expected = 50000000L * 2 / 3 + (50000000L / 3) * 70 / 100
      assert(math.abs(kept - expected) < 500000L, s"kept $kept vs ~$expected")
    }

    // 19. RANGE-frame rolling sum, 20M rows over 1M keys — value-based
    // frames are O(n) per partition after the keyed sort, no global sort
    time("range-frame rolling sum 20M over 1M keys") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("day")).rangeBetween(-6, 0)
      val n = leftEv.withColumn("day", col("us") % 365)
        .withColumn("roll", sum(col("event_id")).over(w))
        .where(col("roll").isNotNull).count()
      assert(n == 20000000L)
    }

    // 20. n-gram decontamination: 2M-doc corpus vs 50k-doc benchmark.
    // Benchmark gram hashes broadcast; corpus grams stream through the
    // probe without shuffling (the only shuffle carries matched per-doc
    // hit counts). Docs share the benchmark's exact text every 40th id.
    // NB: `/` on Columns is DOUBLE division — group arithmetic must stay
    // integral or corpus and benchmark render different tokens
    def grp20(i: Int) = (col("id") / 40).cast("long") * 20 + lit(i)
    val contCorpus = spark.range(0, 2000000L, 1, 128)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 20).map(i => concat(lit("w"), grp20(i))): _*).as("text"))
    val contBench = spark.range(0, 2000000L, 40, 16)
      .select(concat_ws(" ", (0 until 20).map(i =>
        concat(lit("w"), grp20(i))): _*).as("text"))
      .limit(50000)
    time("ngram decontamination 2M docs x 50k bench") {
      val n = graft.ext.Dedup
        .contaminatedByNgram(contCorpus, contBench, "text", "doc_id", 8, 3)
        .count()
      assert(n == 2000000L, s"every doc shares its group's grams: $n")
    }

    // 20b. within-corpus duplicated spans on the same 2M docs: every doc
    // shares all 13 of its 8-gram positions with the 39 other docs of its
    // group — ~26M positioned grams, (gh,doc)-distinct partial agg, then
    // the flagged-gram join back (broadcast when duplication is rare;
    // here it is total, the worst case for the join-back side).
    time("duplicated spans 2M docs (full-dup worst case)") {
      val n = graft.ext.Dedup
        .duplicatedSpans(contCorpus, "text", "doc_id", n = 8, minDocs = 2)
        .count()
      assert(n == 2000000L * 13, s"every gram position of every doc flags: $n")
    }

    // 21. bloom-prefiltered incremental dedup: 20M corpus x 2M batch —
    // the batch whose exact fingerprint set (~64MB+) is past comfortable
    // broadcast size; the bloom is ~2.4MB at 1% fpp. Corpus never
    // shuffles; candidates ≈ true hits + 1% fp.
    val bloomBatch = spark.range(0, 2000000L, 1, 64)
      .select((col("id") + 100000000L).as("doc_id"),
        when(col("id") % 2 === 0, concat(lit("content-"), col("id") * 10)) // re-crawl
          .otherwise(concat(lit("new-"), col("id"))).as("text"))
    time("bloom incremental dedup 20M corpus x 2M batch") {
      val fresh = graft.ext.Dedup.incrementalNewBloom(
        corpusTx, bloomBatch, "text", "doc_id",
        expectedBatchItems = 2000000L, fpp = 0.01).count()
      assert(fresh == 1000000L, s"exactly the new half must survive: $fresh")
    }

    // 21b. incremental NEAR-dup: 2M corpus x 100k batch, half the batch
    // lightly-edited re-crawls. Corpus bands semi-probed by the batch's
    // broadcast band keys; corpus never shuffles.
    val nearCorpus = spark.range(0, 2000000L, 1, 128)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 40).map(i =>
          concat(lit("w"), col("id") * 40 + lit(i))): _*).as("text"))
    val nearBatch = spark.range(0, 100000L, 1, 16)
      .select((col("id") + 50000000L).as("doc_id"),
        when(col("id") % 2 === 0,
          concat(concat_ws(" ", (0 until 40).map(i =>
            concat(lit("w"), col("id") * 10 * 40 + lit(i))): _*), lit(" zz edited")))
          .otherwise(concat(lit("fresh "), col("id"))).as("text"))
    time("incremental near-dup 2M corpus x 100k batch") {
      val n = graft.ext.Dedup
        .incrementalNearDupPairs(nearCorpus, nearBatch, "text", "doc_id", 0.6)
        .count()
      // LSH recall at jaccard ~0.93: expect ≥99% of the 50k planted pairs
      assert(n >= 49500L && n <= 50000L, s"planted edited re-crawls: $n")
    }

    // 22. gopher rule bundle at 10M docs — pure narrow scan, no shuffle.
    // The corpus is MATERIALIZED to parquet first (like any real table):
    // with the text synthesized inline, the pushed pass_gopher predicate
    // alias-substitutes the 55-term concat_ws into every rule conjunct and
    // the generated filter method overflows 64 KB — Spark silently runs
    // the stage INTERPRETED (the round-8 watch item). Reading text as a
    // storage attribute keeps each duplicated kernel reference one call
    // wide, whole-stage codegen engages, and the guard turns any future
    // fallback into a hard failure instead of a silent 10×.
    val gopherPath = java.nio.file.Files
      .createTempDirectory("graft_sm_gopher").toString
    spark.range(0, 10000000L, 1, 128)
      .select(col("id").as("doc_id"),
        concat_ws(" ", lit("the"), lit("a"),
          concat_ws(" ", (0 until 55).map(i =>
            concat(lit("w"), pmod(col("id") + i, lit(9999)))): _*)).as("text"))
      .write.mode("overwrite").parquet(gopherPath)
    val gopherDocs = spark.read.parquet(gopherPath)
    time("gopher rules 10M docs (narrow scan)") {
      CodegenGuard.assertNoFallback("gopher-rules") {
        val scored = graft.ext.TextStats.gopherRules(gopherDocs, "text")
        val n = scored.where(col("pass_gopher")).count()
        // ids near multiples of 9999 emit short w0..w54-style tokens whose
        // mean length dips under 3 — the mean-word-length rule catching the
        // planted band (~0.5%); no other rule may fire on this corpus
        assert(n >= 9900000L && n < 10000000L, s"pass rate off: $n")
        val otherRule = scored
          .where(!col("pass_gopher") && col("ok_mean_word_len")).count()
        assert(otherRule == 0L, s"only the mean-word-len rule may fail: $otherRule")
      }
    }

    // 23b. PQ encode + ADC top-k over the 2M × 8d vectors from entry 17:
    // the corpus shrinks to 4 one-byte codes + a norm per vector, queries
    // rank via broadcast table lookups; the only corpus shuffles carry one
    // row per vector (encode) and one per (query, candidate) pair (ADC).
    time("pq encode + adc top-10, 2M x 8d") {
      CodegenGuard.assertNoFallback("pq-encode") {
        val out = graft.ext.Similarity.pqTopK(
          vecs, vecs.where(col("vec_id") < 5), "embedding", "vec_id",
          k = 10, m = 4, ksub = 16, dim = 8)
        assert(out.count() == 50L, "5 queries x k=10")
      }
    }

    // 23c. composed IVF-PQ over the same 2M × 8d vectors: the index build
    // shuffles one row per vector twice (cell assign, PQ encode); the
    // query pass joins the encoded corpus to the broadcast probe set ON
    // cell_id — candidates are bounded by the ~4/64 probed share of the
    // corpus, never the corpus itself — then ranks by broadcast ADC
    // lookups through the bounded aggregate.
    time("ivf-pq top-10, 2M x 8d, 64 cells probe 4") {
      val out = graft.ext.Similarity.ivfPqTopK(
        vecs, vecs.where(col("vec_id") < 5), "embedding", "vec_id",
        k = 10, nCells = 64, nProbe = 4, m = 4, ksub = 16, dim = 8)
      assert(out.count() == 50L, "5 queries x k=10")
    }

    // 29. exact BPE tokenization at 10M docs (~570M words): one narrow
    // mapPartitions pass with the broadcast rank table built once per
    // partition — no shuffle, scan-bound. Letter merges chain up to 3
    // deep; digit merges exercise the loop on the numeric suffixes.
    time("bpe tokenize 10M docs (~570M words)") {
      val merges = Seq(("t", "h"), ("th", "e"), ("e", "n"), ("w", "1"),
        ("1", "2"), ("2", "3"), ("w1", "23"), ("9", "9"))
      val out = graft.ext.Bpe.tokenize(gopherDocs, "text", "doc_id", merges)
      val r = out.agg(count(lit(1)), sum("n_bpe_tokens")).first()
      assert(r.getLong(0) == 10000000L, s"every doc tokenizes: ${r.getLong(0)}")
      assert(r.getLong(1) > 0L)
    }

    // 23. tf-idf top-5 terms over 1M docs — inverted-index build with
    // partial-agg groupBys, bounded graft_topk (never a window), vocab
    // join-back. ~57M (doc,term) pairs, ~10k-term vocabulary.
    time("tfidf top-5 1M docs") {
      val out = graft.ext.TextStats.tfidfTopK(gopherDocs
        .where(col("doc_id") < 1000000L), "text", "doc_id", 5)
      val n = out.count()
      assert(n == 5000000L, s"5 ranks per doc: $n")
    }

    // 24. count-min sketch over ~57M tokens (1M docs): one narrow pass
    // into a fixed 4x65536 buffer — the shuffle carries mappers × sketch
    // longs, independent of the vocabulary — then 100 candidate estimates
    // by broadcast lookup. The exact groupBy alternative shuffles every
    // distinct token.
    time("cms sketch 57M tokens + 100 estimates") {
      val toks = gopherDocs.where(col("doc_id") < 1000000L)
        .select(explode(split(col("text"), " ")).as("item"))
      val sketch = graft.ext.Sketches.cmsSketch(toks, col("item"), 4, 65536)
      val cands = spark.range(0, 100)
        .select(concat(lit("w"), col("id") * 97).as("item"))
      val est = graft.ext.Sketches.cmsEstimate(cands, col("item"), sketch, 4, 65536)
      assert(est.where(col("cms_n") > 0).count() == 100L,
        "every candidate token occurs in the stream")
    }

    // 25. SemDeDup 100k vectors x 8 dims over 256 cells: assignment is one
    // broadcast-codebook pass (one shuffled row per vector); the
    // within-cluster pairing is the algorithm's own quadratic, bounded by
    // cluster size (~400 here) and spread across salt lanes — the first
    // cut of this entry is how the blockedNearDupPairs AQE-coalescing
    // trap was caught (4 of 32 cores on the unsalted pair join).
    time("semdedup 100k x 8d, 256 cells") {
      val corpus = vecs.where(col("vec_id") < 100000L)
      val flags = graft.ext.Similarity.semDedup(
        corpus, "embedding", "vec_id", nCells = 256, threshold = 0.999)
      val (total, kept) = {
        val r = flags.agg(count(lit(1)), sum(when(col("keep"), 1L).otherwise(0L))).first()
        (r.getLong(0), r.getLong(1))
      }
      assert(total == 100000L, s"one flag per vector: $total")
      assert(kept > 0 && kept < total,
        s"synthetic lattice vectors contain exact duplicates: kept=$kept")
    }

    // 27. CCNet-style LM perplexity at 10M docs: train on a ~1M-doc slice
    // (two partial-agg groupBys → small broadcast tables; vocab is bounded
    // by the modular token generator), then score ~90M bigrams through two
    // broadcast probes and ONE per-doc shuffle. Every 100th doc carries
    // globally-unique tokens — the unknown-backoff tier — and must score
    // strictly worse on average than the in-distribution docs.
    val lmCorpus = spark.range(0, 10000000L, 1, 128)
      .select(col("id").as("doc_id"),
        when(col("id") % 100 === 0,
          concat_ws(" ", (0 until 10).map(i =>
            concat(lit("u"), col("id") * 10 + lit(i))): _*))
          .otherwise(concat_ws(" ", (0 until 10).map(i =>
            concat(lit("w"), pmod(col("id") + i, lit(9999)))): _*))
          .as("text"))
    time("lm perplexity 10M docs (~90M bigrams)") {
      val scored = graft.ext.LanguageModel.scoreLogPpl(
        lmCorpus,
        lmCorpus.where(col("doc_id") % 100 =!= 0 && col("doc_id") < 1000000L),
        "text", "doc_id")
      val r = scored.agg(count(lit(1)),
        avg(when(col("doc_id") % 100 === 0, col("logppl"))),
        avg(when(col("doc_id") % 100 =!= 0, col("logppl")))).first()
      assert(r.getLong(0) == 10000000L, s"every doc scores: ${r.getLong(0)}")
      assert(r.getDouble(1) > r.getDouble(2),
        s"unknown-token docs must score worse: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }

    // deterministic ~2KB payload per id for the CDC smoke
    def blobText(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      concat_ws(" ", (0 until 300).map(i =>
        concat(lit("b"), pmod(id * 7 + i, lit(9973)))): _*)

    // 27h. CDC chunking at 2M blobs (~2KB each, ~4 GB): one codegen scan
    // per blob, no shuffle before the fp aggregation. Every 4th blob is a
    // byte-shifted copy of blob id−1 — CDC boundaries resynchronize, so
    // the accounting must find a large shared-chunk mass (fixed-size
    // chunking would find none).
    time("cdc chunk 2M blobs (~4GB, 25% shifted dups)") {
      // blobs MATERIALIZED first (like any real binary corpus): the
      // ~600-term synthetic blob expression alone overflows one codegen
      // method even evaluated once — with `bin` a storage attribute the
      // chunking stage codegens, and the guard keeps it that way
      val blobPath = java.nio.file.Files
        .createTempDirectory("graft_sm_cdc").toString
      spark.range(0, 2000000L, 1, 64)
        .select(col("id"),
          encode(when(col("id") % 4 === 3, concat(lit("zz "), blobText(col("id") - 1)))
            .otherwise(blobText(col("id"))), "UTF-8").as("bin"))
        .write.mode("overwrite").parquet(blobPath)
      CodegenGuard.assertNoFallback("cdc-chunks") {
      val blobs = spark.read.parquet(blobPath)
      val r = graft.ext.Multimodal.cdcDedupStats(blobs, "bin").first()
      val (total, uniq) = (r.getLong(2), r.getLong(4))
      assert(r.getLong(0) == 2000000L)
      assert(uniq < total * 85L / 100L,
        s"shifted dups must share chunk mass: uniq=$uniq total=$total")
      }
    }

    // 27f. PageRank at 20M edges / ~2M nodes, 5 rounds: per round one
    // rank→edge join (AQE-chosen strategy), one partial-agg groupBy(dst),
    // one node-sized outer join — lineage cut per round so plans stay
    // O(1). Power-law-ish in-degree: dst = id % (id % 97 + 1) mod 2M
    // concentrates mass on low ids; node 0 must finish far above median.
    time("pagerank 20M edges, 5 rounds") {
      val pe = spark.range(0, 20000000L, 1, 64)
        .select((col("id") % 2000000L).as("s"),
          (pmod(col("id") * 31L, col("id") % 97L + 1L)).as("d"))
      val r = graft.ops.Graph.pageRank(pe, "s", "d", iterations = 5)
      val agg = r.agg(count(lit(1)), sum("rank_q"),
        max(when(col("node") === 0L, col("rank_q")))).first()
      assert(agg.getLong(0) >= 2000000L, s"node count: ${agg.getLong(0)}")
      assert(agg.getLong(1) <= graft.ops.Graph.Mass &&
        agg.getLong(1) > graft.ops.Graph.Mass * 99L / 100L,
        s"mass conserved up to floors: ${agg.getLong(1)}")
      assert(agg.getLong(2) > graft.ops.Graph.Mass / 2000000L * 100L,
        "hub node must accumulate authority")
    }

    // 27d. mixture plan + realize at 50M docs / 20 sources: the plan is a
    // 20-row broadcast; realization scans the corpus once and explodes
    // each doc by its source's epoch count. Weights triple every 4th
    // source's share; budget = 2× the corpus, so upweighted sources run
    // multiple epochs. Exact check: full-epoch copies are integer-exact,
    // fractional passes land within ppm tolerance.
    time("mixture realize 50M docs (20 sources)") {
      val mixCorpus = spark.range(0, 50000000L, 1, 128)
        .select(col("id").as("doc_id"),
          concat(lit("s"), col("id") % 20).as("source"), lit(100L).as("toks"))
      val wts = mixCorpus.select("source").distinct()
        .select(col("source"),
          when(col("source").substr(2, 2).cast("long") % 4 === 0, 3L)
            .otherwise(1L).as("parts"))
      val plan = graft.ext.Sampling.mixturePlan(
        mixCorpus, "source", "toks", wts, budget = 10000000000L)
      val r = graft.ext.Sampling.mixtureRealize(
        mixCorpus, "source", "doc_id", plan)
        .groupBy("source").agg(count(lit(1)).as("n"))
        .join(plan, "source")
        .select(sum(abs(col("n") * lit(100L) - col("target_tokens")))).first()
      // per-doc fractional draws: realized tokens within 0.2% of target
      assert(r.getLong(0) < 20000000L, s"total |realized−target| drift: ${r.getLong(0)}")
    }

    // 27c. Naive Bayes at 10M docs: train a 4-class model on a 1M labeled
    // slice (one feature-stream partial agg + C·B densification), then
    // classify all 10M docs — feature explode × C=4 broadcast fan-out,
    // two partial-agg shuffles, integer argmax. Class vocabularies are
    // disjoint by construction, so accuracy must be 100%.
    time("naive bayes classify 10M docs (4 classes)") {
      val nb = spark.range(0, 10000000L, 1, 128)
        .select(col("id").as("doc_id"), (col("id") % 4).cast("string").as("cls"),
          concat_ws(" ", (0 until 8).map(i =>
            concat(lit("c"), col("id") % 4, lit("w"),
              pmod(col("id") + i, lit(997)))): _*).as("text"))
      val (model, priors) = graft.ext.NaiveBayes.train(
        nb.where(col("doc_id") < 1000000L), "text", "cls", buckets = 4096)
      val pred = graft.ext.NaiveBayes.classify(
        nb, model, priors, "text", "doc_id", buckets = 4096)
      val r = pred.join(nb.select("doc_id", "cls"), "doc_id")
        .agg(count(lit(1)), sum(when(col("label") === col("cls"), 1L).otherwise(0L)))
        .first()
      assert(r.getLong(0) == 10000000L, s"every doc classified: ${r.getLong(0)}")
      assert(r.getLong(1) == 10000000L,
        s"disjoint vocabularies must classify perfectly: ${r.getLong(1)}")
    }

    // 27a. KMV cross-slice overlap at 30M×30M distinct items: each slice
    // folds into a 4096-long bottom-k sketch (partial-agg, no distinct
    // shuffle anywhere), then intersect/union/Jaccard are expression
    // arithmetic over two one-row sketches. Truth: |A∩B|=10M, |A∪B|=50M.
    time("kmv overlap 30Mx30M items (k=4096)") {
      val kk = 4096
      val mk = (lo: Long, hi: Long) => graft.ext.Sketches.kmvSketch(
        spark.range(lo, hi, 1, 64).select(concat(lit("it"), col("id")).as("t")),
        col("t"), kk)
      val r = mk(0L, 30000000L).select(col("kmv").as("a"))
        .crossJoin(mk(20000000L, 50000000L).select(col("kmv").as("b")))
        .select(graft.ext.Sketches.kmvOverlap(col("a"), col("b"), kk).as("o"))
        .select(col("o.est_inter"), col("o.est_union")).first()
      assert(math.abs(r.getDouble(0) - 1e7) / 1e7 < 0.1,
        s"inter estimate off: ${r.getDouble(0)}")
      assert(math.abs(r.getDouble(1) - 5e7) / 5e7 < 0.1,
        s"union estimate off: ${r.getDouble(1)}")
    }

    // 27g. modified Kneser-Ney at the same 10M docs: identical scoring
    // chain; training adds three one-row count-of-count aggregates and
    // per-history conditional sums — the discount estimation is free at
    // scale relative to the trigram stream itself.
    time("modified kneser-ney 10M docs") {
      val scored = graft.ext.LanguageModel.scoreKneserNeyModified(
        lmCorpus,
        lmCorpus.where(col("doc_id") % 100 =!= 0 && col("doc_id") < 1000000L),
        "text", "doc_id")
      val r = scored.agg(count(lit(1)),
        avg(when(col("doc_id") % 100 === 0, col("logppl"))),
        avg(when(col("doc_id") % 100 =!= 0, col("logppl")))).first()
      assert(r.getLong(0) == 10000000L, s"every doc scores: ${r.getLong(0)}")
      assert(r.getDouble(1) > r.getDouble(2),
        s"unknown-token docs must score worse: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }

    // 27e. per-language LM at 10M docs / 3 languages in ONE pass: every
    // language's tables train simultaneously (lang keys every groupBy and
    // probe); each doc scores under its own language's model. Languages
    // use disjoint token prefixes, so cross-language text would be
    // unknown-tier — same-language must score strictly better on average.
    time("per-lang lm 10M docs (3 langs, one pass)") {
      val pl = spark.range(0, 10000000L, 1, 128)
        .select(col("id").as("doc_id"),
          concat(lit("L"), col("id") % 3).as("lang"),
          concat_ws(" ", (0 until 10).map(i =>
            concat(lit("L"), col("id") % 3, lit("w"),
              pmod(col("id") + i, lit(4999)))): _*).as("text"))
      val scored = graft.ext.LanguageModel.scoreLogPplByGroup(
        pl, pl.where(col("doc_id") % 10 === 0), "text", "doc_id", "lang")
      val r = scored.groupBy("lang").agg(count(lit(1)).as("n"))
        .agg(sum("n"), count(lit(1))).first()
      assert(r.getLong(0) == 10000000L, s"every doc scores: ${r.getLong(0)}")
      assert(r.getLong(1) == 3L, "three language models in one pass")
    }

    // 27b. Kneser-Ney trigram at the same 10M docs: four trigram-stream
    // partial aggs train the five tables off the ~1M-doc slice (vocab
    // bounded by the generator), then ~80M trigrams probe five broadcast
    // tables in one pass with one per-doc shuffle. The unknown-vocab docs
    // fall through the full λ2+λ1+unk chain and must still score worse.
    time("kneser-ney trigram 10M docs (~80M trigrams)") {
      val scored = graft.ext.LanguageModel.scoreKneserNey(
        lmCorpus,
        lmCorpus.where(col("doc_id") % 100 =!= 0 && col("doc_id") < 1000000L),
        "text", "doc_id")
      val r = scored.agg(count(lit(1)),
        avg(when(col("doc_id") % 100 === 0, col("logppl"))),
        avg(when(col("doc_id") % 100 =!= 0, col("logppl")))).first()
      assert(r.getLong(0) == 10000000L, s"every doc scores: ${r.getLong(0)}")
      assert(r.getDouble(1) > r.getDouble(2),
        s"unknown-token docs must score worse: ${r.getDouble(1)} vs ${r.getDouble(2)}")
    }

    // 28. incremental semantic dedup: 1M-vector corpus x 5k-vector crawl
    // batch over 256 cells. The corpus side is exchange-free (literal-
    // codebook per-row assignment, broadcast semi-probe, broadcast pair
    // join); half the batch is exact re-crawls of corpus lattice points
    // and every one of them must be detected at cosine ~1.
    val semIncBatch = spark.range(10000000L, 10005000L, 1, 8)
      .select(col("id").as("vec_id"),
        when(col("id") % 2 === 0,
          array((0 until 8).map(i =>
            ((col("id") * (i + 3) % 1000) / lit(500.0) - 1).cast("float")): _*))
          .otherwise(array((0 until 8).map(i =>
            ((col("id") * (i + 3) % 997) / lit(500.0) - 1).cast("float")): _*))
          .as("embedding"))
    time("incremental semdedup 1M corpus x 5k batch") {
      val pairs = graft.ext.Similarity.semDedupIncremental(
        vecs.where(col("vec_id") < 1000000L), semIncBatch,
        "embedding", "vec_id", nCells = 256, threshold = 0.999999)
      val planted = pairs.where(col("batch_id") % 2 === 0)
        .select("batch_id").distinct().count()
      assert(planted == 2500L,
        s"every exact re-crawl must find a corpus near-dup: $planted")
    }

    // 29. DSIR importance resampling at 10M raw docs: bucket-count both
    // corpora (fixed 10k-bucket model regardless of corpus size), score
    // ~190M hashed n-gram occurrences through one broadcast ratio-table
    // probe and ONE doc-keyed shuffle (the keyed stream's agg exchange is
    // reused by the top-k side), then select 100k docs via the bounded
    // graft_topk aggregate — never a global sort. The two vocabularies
    // (~1k distinct grams each) fit the 10k-bucket space, so buckets stay
    // gram-owned and each off-vocab feature costs ~10 nats: the 1%
    // off-vocab docs sit ~190 nats below the in-distribution mass, far
    // outside deterministic-Gumbel reach (≤ ~45 nats), so none may
    // survive. (A shared 10k-word vocab would NOT discriminate here:
    // collision averaging homogenizes bucket composition and the signal
    // drowns in the noise — that is a property of hashed features, not a
    // bug; size `buckets` to the gram diversity you care about.)
    val dsirCorpus = spark.range(0, 10000000L, 1, 128)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 10).map(i =>
          concat(when(col("id") % 100 === 0, "x").otherwise("w"),
            pmod(col("id") + i, lit(499)))): _*).as("text"))
    time("dsir select 100k of 10M docs (10k buckets)") {
      val sel = graft.ext.Dsir.resample(
        dsirCorpus,
        dsirCorpus.where(col("doc_id") % 100 =!= 0 && col("doc_id") < 1000000L),
        "text", "doc_id", k = 100000)
      val r = sel.agg(count(lit(1)),
        sum(when(col("doc_id") % 100 === 0, 1L).otherwise(0L))).first()
      assert(r.getLong(0) == 100000L, s"exactly k selected: ${r.getLong(0)}")
      assert(r.getLong(1) == 0L,
        s"no off-vocabulary doc may be selected: ${r.getLong(1)}")
    }

    // 30. BPE training at 10M docs / 100M words: the corpus is touched
    // ONCE (word-count groupBy, partial-agg to ~1k distinct words); all
    // 20 merge iterations then run on the persisted vocabulary — each a
    // vocab-sized pair count + LIMIT-1 argmax + narrow replace. The wall
    // clock is the corpus pass; the loop is noise — THE property that
    // makes BPE training feasible at 100 TB.
    time("bpe train 20 merges, 10M docs (1k-word vocab)") {
      val merges = graft.ext.Bpe.trainMerges(dsirCorpus, "text", numMerges = 20)
      assert(merges.length == 20, s"learned ${merges.length} of 20")
      // deterministic: digit pairs dominate the synthetic vocab, and every
      // learned symbol must be a substring of some corpus word
      assert(merges.forall { case (l, r) => (l + r).length >= 2 })
    }

    // 26. PCA whitening at 2M x 8d: one covariance pass (the exploded
    // i<=j triangle partial-aggregates to 36 cells), an 8x8 driver
    // eigensolve, one broadcast-projection pass — nothing corpus-sized
    // collects or shuffles wide.
    time("pca whiten 2M x 8d -> k=4") {
      val out = graft.ext.Similarity.pcaWhiten(vecs, "embedding", "vec_id",
        dim = 8, k = 4)
      val n = out.count()
      assert(n == 2000000L, s"one whitened vector per input: $n")
    }

    // 31. BM25 retrieval at 5M docs x 20 tokens over a 10k-term
    // vocabulary (power-law-ish realistic sparsity): the query-vocabulary
    // filter drops every non-query token BEFORE the explode, so the tf
    // shuffle carries only matching (doc, term) rows — the plan that
    // still works when the corpus is 100 TB and the query set is a
    // benchmark suite.
    val bmQueries = Seq(0L -> "t17 t42 t99", 1L -> "t7 t1234 t555")
    val bmDocs = spark.range(0, 5000000L, 1, 64).toDF("doc_id")
      .withColumn("text", concat_ws(" ",
        (0 until 20).map(i =>
          concat(lit("t"),
            pmod(hash(col("doc_id"), lit(i)), lit(10000)))): _*))
    time("bm25 top-10, 5M docs x 2 queries") {
      val out = graft.ext.Retrieval.bm25TopK(bmDocs, "text", "doc_id",
        bmQueries, k = 10)
      val n = out.count()
      assert(n == 20L, s"2 queries x top-10 expected: $n")
    }

    // 32. BM25 inverted index: pay the full-vocabulary index build once
    // (the only corpus pass: 100M-row posting table, bucketed+sorted on
    // term), then serve query batches from bucket-pruned posting lists —
    // query cost scales with the queried posting lists (~60k rows here),
    // not corpus size, and must come in far under the scan path above.
    val bmStore = new graft.table.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_smoke_bm25").toString)
    time("bm25 index build, 5M docs (10k-term vocab)") {
      graft.ext.Retrieval.buildBm25Index(bmStore, "docs", bmDocs,
        "text", "doc_id", numBuckets = 16)
    }
    time("bm25 indexed query batch (no corpus scan)") {
      val out = graft.ext.Retrieval.bm25TopKIndexed(bmStore, "docs",
        bmQueries, k = 10)
      assert(out.count() == 20L)
    }

    // 33. winnowing fingerprints at 1M docs x ~84 chars: one md5 per
    // char 8-gram is the whole cost (per-row HOFs, zero shuffle); every
    // 100th doc is a near-copy (one appended word) of its neighbor, and
    // the shared-fingerprint pair join must surface exactly those pairs
    // through the df-capped postings.
    val winDocs = spark.range(0, 1000000L, 1, 64).toDF("doc_id")
      .withColumn("text", concat_ws(" ",
        (0 until 12).map(i =>
          concat(lit("w"),
            pmod(hash(when(col("doc_id") % 100 === 1, col("doc_id") - 1)
              .otherwise(col("doc_id")), lit(i)), lit(100000)))): _*))
      .withColumn("text",
        when(col("doc_id") % 100 === 1, concat(col("text"), lit(" extra")))
          .otherwise(col("text")))
    time("winnow fingerprints 1M docs (8-gram, w=8)") {
      val fps = graft.ext.Winnow.fingerprints(winDocs, "text", "doc_id")
      val pairs = graft.ext.Winnow.sharedFingerprintPairs(
        fps, "doc_id", minShared = 3, maxPostings = 50)
      val planted = pairs
        .where(col("id_b") === col("id_a") + 1 && col("id_a") % 100 === 0)
        .count()
      assert(planted >= 9000L, s"planted near-copies found: $planted of 10000")
    }

    // 34. Aho-Corasick blocklist: 1000-phrase list over 10M docs (~2.7 GB
    // of text) in ONE pass — the whole point vs per-pattern contains
    // chains. Patterns are dense prefixes of the corpus vocabulary
    // ("w13" ⊂ "w134"), so boundary mode exercises the emit-heavy path.
    // Hit counts are fully deterministic from the gopherDocs construction:
    // "the" leads every doc once; each "wK" token appears in exactly the
    // ids with id mod 9999 ∈ [K-54, K].
    time("blocklist 1000 phrases x 10M docs (one pass)") {
      val pats = "the" +: (0 until 999).map(i => s"w${i * 10 + 3}")
      // one corpus pass: the 1000-row profile collects once
      val prof = graft.ext.Blocklist.profile(
          gopherDocs, "text", pats, boundary = true)
        .collect().map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
      assert(prof("the")._1 == 10000000L, s"'the' in every doc: ${prof("the")._1}")
      assert(prof("w13")._2 >= 54000L && prof("w13")._2 <= 56200L,
        s"planted token frequency: ${prof("w13")._2}")
    }

    // 35. persistent LSH near-dup index: pay the 1M-doc MinHash pass once
    // at build, then screen a 10k crawl batch (1k edited re-crawls planted)
    // without re-hashing the corpus — the probe should cost batch-scale,
    // not corpus-scale.
    val ndCorpus = spark.range(0, 1000000L, 1, 64).toDF("doc_id")
      .withColumn("text", concat_ws(" ",
        (0 until 14).map(i =>
          concat(lit("w"), pmod(hash(col("doc_id"), lit(i)), lit(100000)))): _*))
    val ndStore = new graft.table.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_smoke_nd").toString)
    time("neardup index build 1M docs") {
      graft.ext.NearDupIndex.buildNearDupIndex(ndStore, "nd", ndCorpus,
        "text", "doc_id", numBuckets = 32)
    }
    time("neardup index probe 10k batch (1k planted)") {
      val batch = ndCorpus.where(col("doc_id") % 1000 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" edited")).as("text"))
        .unionByName(ndCorpus.where(col("doc_id") % 1000 === 1).limit(9000)
          .select((col("doc_id") + 20000000L).as("doc_id"),
            concat(lit("fresh stuff entirely "),
              col("doc_id").cast("string")).as("text")))
      val pairs = graft.ext.NearDupIndex.nearDupAgainstIndex(ndStore, "nd",
        batch, "text", "doc_id", threshold = 0.5)
      val planted = pairs
        .where(col("batch_id") === col("corpus_id") + 10000000L).count()
      assert(planted >= 950L, s"planted re-crawls found: $planted of 1000")
    }

    // 36. greedy-LZ compressibility stats over 1M docs: one codegen'd
    // parse pass (O(n·window) per doc). Every 4th doc is templated
    // (period-9 repetition) — its match mass must dominate, the
    // hash-vocabulary docs must parse almost entirely into literals.
    time("lz stats 1M docs (window 16)") {
      val docs = winDocs.withColumn("text",
        when(col("doc_id") % 4 === 0,
          concat_ws(" ", (0 until 12).map(_ => lit("boilerpl")): _*))
          .otherwise(col("text")))
      val s = graft.ext.TextStats.lzStats(docs, "text")
        .groupBy((col("doc_id") % 4 === 0).as("templated"))
        .agg(sum(col("lz.match_chars").cast("bigint")).as("mc"),
          sum(col("lz.n_literals").cast("bigint")).as("nl"))
        .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(s(true)._1 > 3 * s(true)._2,
        s"templated docs must be match-dominated: ${s(true)}")
      assert(s(false)._2 > 3 * s(false)._1,
        s"hash-vocab docs must be literal-dominated: ${s(false)}")
    }

    // 37. WARC container round trip at 1M records: write is one
    // zero-shuffle pass (32 shards, per-record gzip members — the Common
    // Crawl layout), read streams each shard through the constant-memory
    // record iterator (file-level parallelism, never whole-file buffers).
    time("warc write+read 1M records (gzip members)") {
      val dir = java.nio.file.Files.createTempDirectory("graft_warc_smoke")
      val docs = spark.range(0, 1000000L, 1, 32)
        .select(col("id"),
          concat(lit("https://example.com/p"), col("id")).as("url"),
          concat(lit("payload body for record "), col("id"), lit(" "),
            sha2(col("id").cast("string"), 256)).as("text"))
      graft.ingest.Warc.write(docs, dir.toString, "url", "text",
        idCol = Some("id"))
      val back = graft.ingest.Warc.read(spark, dir.toString)
      val stats = back.where(col("warc_type") === "resource")
        .agg(count(lit(1)).as("n"), sum("content_length").as("bytes"),
          count_distinct(col("record_id")).as("ids")).first()
      assert(stats.getLong(0) == 1000000L, s"records: ${stats.getLong(0)}")
      assert(stats.getLong(2) == 1000000L, "record ids unique")
      assert(stats.getLong(1) > 85000000L, s"payload bytes: ${stats.getLong(1)}")
    }

    // 38. materialized view maintenance: 20M-row base, 200k append.
    // define pays the one full aggregate; refresh must fold ONLY the
    // appended snapshot — O(delta + |view|), verified by value equality
    // with a from-scratch recompute and by the ~100× input-size ratio
    // showing up in wall-clock.
    time("matview define 20M + refresh 200k append") {
      val root = java.nio.file.Files
        .createTempDirectory("graft_mv_smoke").toString
      val store = new graft.table.TableStore(spark, root)
      val mv = new graft.table.MatView(store)
      def mkRows(lo: Long, hi: Long) =
        spark.range(lo, hi, 1, 64).select(col("id"),
          concat(lit("g"), pmod(col("id"), lit(1000))).as("k"),
          (col("id") % 9973).cast("decimal(18,2)").as("amt"))
      store.overwrite("mbase", mkRows(0, 20000000L))
      mv.define("magg", "mbase", Seq("k"),
        Seq(graft.table.MatView.Count("n"),
          graft.table.MatView.Sum("amt", "s"),
          graft.table.MatView.Max("id", "max_id")))
      store.append("mbase", mkRows(20000000L, 20200000L))
      val t0 = System.nanoTime()
      assert(mv.refresh("magg"))
      val refreshSec = (System.nanoTime() - t0) / 1e9
      val v = mv.read("magg")
        .agg(sum("n"), count(lit(1)), max("max_id")).first()
      assert(v.getLong(0) == 20200000L, s"view row mass: ${v.getLong(0)}")
      assert(v.getLong(1) == 1000L && v.getLong(2) == 20199999L)
      println(f"[scale]   (matview refresh alone: $refreshSec%.2fs)")
    }

    // 39. manifest-level Bloom skipping at 20M rows / 64 files: build is
    // one narrow scan + partial-agg collect_set bounded by the bit space;
    // an equality probe on the layout-unordered host column must prune
    // most files (min/max can't — every file spans the hash range).
    time("bloom analyze 20M + equality probe") {
      val root = java.nio.file.Files
        .createTempDirectory("graft_bloom_smoke").toString
      val store = new graft.table.TableStore(spark, root)
      store.overwriteClustered("b",
        spark.range(0, 20000000L, 1, 64).select(col("id"),
          concat(lit("host-"), pmod(xxhash64(col("id")), lit(100000L)))
            .as("host")),
        Seq("id"), numFiles = Some(64))
      store.analyzeBloomFilters("b", Seq("host"))
      val probe = store.scanBloomPruned("b", "host", "host-77")
      val total = store.scan("b").inputFiles.length
      assert(probe.count() == store.scan("b")
        .where(col("host") === "host-77").count())
      assert(probe.inputFiles.length < total,
        s"probe must skip files: ${probe.inputFiles.length}/$total")
    }

    // 40. corpus drift at 10M docs per side: each side collapses to a
    // 4096-bucket histogram in one explode+partial-agg pass; the JS
    // arithmetic after that is histogram-sized. The planted 10% template
    // drift must register strictly between 0 and ln 2.
    time("drift js 10M vs 10M docs (4096 buckets)") {
      def side(tag: String, drift: Boolean) =
        spark.range(0, 10000000L, 1, 64).select(concat_ws(" ",
          lit("shared common vocabulary stream"),
          concat(lit("w"), pmod(xxhash64(col("id"), lit(tag)), lit(5000L))),
          when(lit(drift) && col("id") % 10 === 0,
            lit("drifted spam template tokens")).otherwise(lit(""))
        ).as("text"))
      val row = graft.ext.Drift.jsDivergence(
        side("a", drift = false), side("b", drift = true), "text", 4096)
        .first()
      val d = row.getDouble(2)
      assert(row.getLong(0) > 40000000L && row.getLong(1) > 40000000L)
      assert(d > 0.001 && d < 0.2, s"planted 10% drift registers: $d")
    }

    // 41. LR quality filter: train 3 full-batch iterations on a 2M-doc
    // labeled slice (each iteration = broadcast-weights pass + co-
    // partitioned gradient pass over the cached feature stream), then
    // score 10M docs in one corpus pass. Class vocabularies overlap on
    // shared tokens but differ on a planted marker — the trained model
    // must recover the labels on the slice.
    time("lr train 2M labeled (3 iters) + score 10M") {
      def docs(n: Long) = spark.range(0, n, 1, 64).select(
        col("id").as("doc_id"),
        (col("id") % 2).as("y"),
        concat_ws(" ", lit("shared stream tokens"),
          when(col("id") % 2 === 0, lit("quality signal marker"))
            .otherwise(lit("boilerplate junk filler")),
          concat(lit("w"), pmod(xxhash64(col("id")), lit(2000L)))).as("text"))
      val labeled = docs(2000000L)
      val w = graft.ext.LogReg.train(labeled, "text", "doc_id", col("y"),
        buckets = 10000, iterations = 3)
      val scored = graft.ext.LogReg.score(docs(10000000L), w, "text",
        "doc_id", buckets = 10000)
      val agree = scored.join(docs(10000000L).select("doc_id", "y"), Seq("doc_id"))
        .where(col("pred") === col("y")).count()
      assert(agree > 9500000L, s"trained model must separate: $agree/10M")
    }

    // 42. PII pseudonymization at 1M docs: four let-bound passes, pure
    // per-row map — throughput, not plan, is the risk here (the 77s
    // project-collapse regression was caught by exactly this entry's
    // per-query bench ancestor). Planted PII must tokenize; the
    // Luhn-failing run must survive.
    time("pii pseudonymize 1M docs (4 passes)") {
      val docs = spark.range(0, 1000000L, 1, 64).select(
        col("id").as("doc_id"),
        concat(lit("text from user"), col("id").cast("string"),
          lit("@example.com pay 4111 1111 1111 1111 keep 4111-1111-1111-1112 "),
          lit("shared corpus tokens stream")).as("text"))
      val out = graft.ext.Pii.pseudonymize(docs, "text", salt = "sm")
      val row = out.agg(
        count(when(col("pii_text").contains("<EMAIL:"), 1)),
        count(when(col("pii_text").contains("<CARD:"), 1)),
        count(when(col("pii_text").contains("4111-1111-1111-1112"), 1))).first()
      assert(row.getLong(0) == 1000000L && row.getLong(1) == 1000000L &&
        row.getLong(2) == 1000000L)
    }

    // 43. batch acceptance checks at 20M rows: every constraint shares
    // ONE scan; verdicts are a one-row unpivot
    time("quality checks 20M rows (5 constraints, 1 pass)") {
      val df = spark.range(0, 20000000L, 1, 128).select(
        col("id").as("k"),
        (col("id") % 1000).as("cat"),
        when(col("id") % 100 === 0, lit(null).cast("long"))
          .otherwise(col("id")).as("v"))
      val out = graft.ops.Checks.run(df, Seq(
        graft.ops.Checks.Complete("v", 980000L),
        graft.ops.Checks.Unique(Seq("k")),
        graft.ops.Checks.Bounds("k", Some(0L), Some(20000000L)),
        graft.ops.Checks.InSet("cat", (0 until 1000).map(_.toString), 0L),
        graft.ops.Checks.RowCount(20000000L, 20000000L))).collect()
      assert(out.count(_.getBoolean(6)) == 5, out.mkString(";"))
    }

    // 44. funnel over 40M events / 1M users: one filtered shuffle,
    // per-user sorted fold
    time("funnel 40M events x 1M users (3 steps)") {
      val e = spark.range(0, 40000000L, 1, 128).select(
        (col("id") % 1000000).as("u"),
        expr("id div 1000000").as("t"),
        element_at(typedLit(Seq("view", "click", "buy", "other")),
          (pmod(xxhash64(col("id")), lit(4)) + 1).cast("int")).as("e"))
      val out = graft.ops.TimeSeries.funnel(e, "u", "t", "e",
        Seq("view", "click", "buy"))
      val stages = out.groupBy("stage").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(stages.values.sum == 1000000L, stages)
      assert(stages.getOrElse(3L, 0L) > 900000L,
        s"40 events/user nearly always complete a 3-step funnel: $stages")
    }

    // 45. weighted sample: 20M items, k=1000 through the bounded top-k
    time("weighted sample 20M items k=1000") {
      val items = spark.range(0, 20000000L, 1, 128).select(
        col("id"), (pmod(col("id"), lit(1000)) + 1).as("w"))
      val n = graft.ext.Sampling.weightedSample(items, "id", "w", 1000, "sm")
        .count()
      assert(n == 1000L)
    }

    // 46. politeness schedule: 10M-URL frontier over 100k hosts
    time("polite schedule 10M urls x 100k hosts") {
      val frontier = spark.range(0, 10000000L, 1, 128).select(
        col("id"),
        concat(lit("h"), (col("id") % 100000).cast("string")).as("host"))
      val delays = spark.range(0, 50000L, 1, 16).select(
        concat(lit("h"), col("id").cast("string")).as("host"),
        (col("id") % 5000 + 100).as("delay_ms"))
      val out = graft.ext.Url.politeSchedule(frontier, "host",
        Seq(col("id")), delays, defaultDelayMs = 1000L)
      val mx = out.agg(max("seq"), count(lit(1))).first()
      assert(mx.getLong(0) == 100L && mx.getLong(1) == 10000000L)
    }

    // 47. robots decisions at web-frontier scale: 100k hosts x 20 rules
    // each = 2M rules, screened over a 10M-URL frontier. The per-host
    // rules collapse is a rules-dimension shuffle; the frontier itself
    // is one broadcast-probe map pass (the round-7 plan-literal shape
    // would have embedded all 2M compiled patterns in the plan string
    // and scanned them linearly per URL).
    time("robots decisions 10M urls x 2M rules") {
      // rule k of host h: path /pNN (zero-padded so no rule prefix-
      // matches a sibling), allow iff k % 3 == 0
      val rules = spark.range(0, 2000000L, 1, 64).select(
        concat(lit("h"), expr("id div 20"), lit(".com")).as("host"),
        lit("*").as("agent"),
        ((col("id") % 20) % 3 === 0).as("allow"),
        format_string("/p%02d", (col("id") % 20).cast("int")).as("rule_path"))
      val urls = spark.range(0, 10000000L, 1, 128).select(
        col("id"),
        format_string("http://h%d.com/p%02d/x", (col("id") % 100000),
          (col("id") % 20).cast("int")).as("url"))
      val dec = graft.ext.Url.robotsDecisions(urls, "url", rules, "graftbot")
      val agg = dec.agg(count(lit(1)),
        count(when(col("allowed"), 1))).first()
      // k = id % 20 uniform; k % 3 == 0 for 7 of 20 values -> 3.5M allowed
      assert(agg.getLong(0) == 10000000L && agg.getLong(1) == 3500000L, agg)
    }

    // 48. crawl-frontier composition end-to-end at scale: robots screen ->
    // canonicalize -> per-host quota -> authority order -> politeness
    // schedule, ONE job over the same 10M-URL / 100k-host frontier. The
    // plan-shape contract: a bounded number of shuffles total (rules
    // collapse, quota top-k, authority agg + its join, schedule window) —
    // the corpus-sized side crosses an exchange only where the operator
    // semantically requires co-location by host.
    time("crawl frontier e2e 10M urls (robots+quota+schedule)") {
      // one root rule per host: even hosts allow-all, odd hosts deny-all
      val rules = spark.range(0, 100000L, 1, 32).select(
        concat(lit("h"), col("id"), lit(".com")).as("host"),
        lit("*").as("agent"),
        (col("id") % 2 === 0).as("allow"),
        lit("/").as("rule_path"))
      val urls = spark.range(0, 10000000L, 1, 128).select(
        col("id"),
        format_string("http://h%d.com/page/%d", (col("id") % 100000),
          col("id")).as("url"))
      val allowed = graft.ext.Url
        .robotsDecisions(urls, "url", rules, "graftbot")
        .where(col("allowed"))
        .withColumn("curl", graft.ext.Url.canonicalize(col("url")))
      val capped = graft.ext.Sampling.quotaCap(
        allowed, "url_host", "id", k = 8, salt = "fsm1")
      val auth = allowed.groupBy("url_host")
        .agg(count(lit(1)).as("host_docs"))
      val delays = spark.range(0, 100000L, 1, 16).select(
        concat(lit("h"), col("id"), lit(".com")).as("host"),
        (col("id") % 900 + 100).as("delay_ms"))
      val sched = graft.ext.Url.politeSchedule(
        capped.join(broadcast(auth), "url_host")
          .withColumnRenamed("url_host", "host"),
        "host", Seq(col("host_docs").desc, col("rank")),
        delays, defaultDelayMs = 1000L)
      val exec = sched.queryExecution.executedPlan
      val shuffles = exec.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }.length
      assert(shuffles <= 7,
        s"frontier composition must stay at a bounded shuffle count, got $shuffles")
      val agg = sched.agg(count(lit(1)), max("seq"), max("fetch_at_ms")).first()
      // odd hosts deny-all, even hosts allow-all -> 50k hosts x 8 quota
      // picks enter the schedule
      assert(agg.getLong(0) == 400000L, agg)
      assert(agg.getLong(1) == 8L, agg)
    }

    // 49. trained language ID at corpus scale: 10M docs, char-trigram NB
    // trained on a 100k labeled slice, every doc classified by integer
    // argmax. The model is a fixed C×B broadcast; classification is one
    // narrow corpus pass + a per-doc partial agg.
    time("langid trained 10M docs (char-trigram NB)") {
      val phrases = Seq(
        "the quick brown fox jumps over the lazy dog",
        "der schnelle braune fuchs springt über den hund",
        "le rapide renard brun saute pardessus le chien",
        "el rápido zorro marrón salta sobre el perro",
        "快速的棕色狐狸跳过懒惰的狗然后休息")
      val langs = Seq("en", "de", "fr", "es", "zh")
      def docs(n: Long) = spark.range(0, n, 1, 128).select(
        col("id"),
        element_at(typedLit(langs), (col("id") % 5 + 1).cast("int")).as("lang"),
        concat(
          element_at(typedLit(phrases), (col("id") % 5 + 1).cast("int")),
          lit(" filler token "), (col("id") % 997).cast("string")).as("text"))
      val corpus = docs(10000000L)
      val labeled = docs(100000L)
      val out = graft.ext.LangId.classify(
        corpus, labeled, "text", "id", "lang", buckets = 2000)
      val agg = out.join(corpus.select(col("id"), col("lang").as("y")), "id")
        .agg(count(lit(1)), count(when(col("lang") === col("y"), 1))).first()
      assert(agg.getLong(0) == 10000000L && agg.getLong(1) == 10000000L, agg)
    }

    // 50. evaluation CDFs at near-corpus distinct-score cardinality: the
    // ROC/PR running sums must survive a 10M-distinct-margin table (the
    // exact case an unpartitioned Window would funnel into one task —
    // int64 LR margins rarely collide, so the "collapsed" table is NOT
    // small). PrefixSum's range-sort keeps it parallel.
    time("roc auc + pr curve 10M distinct margins") {
      val scored = spark.range(0, 10000000L, 1, 128).select(
        // unique score per row (worst case), positives on a hash
        (col("id") * 7919L + pmod(xxhash64(col("id")), lit(1000L))).as("z"),
        pmod(xxhash64(col("id"), lit(1)), lit(3L)).cast("int").as("y3"))
        .select(col("z"), (col("y3") === 0).cast("long").as("y"))
      val auc = graft.ext.Eval.rocAuc(scored, "z", col("y")).first()
      assert(auc.getLong(1) + auc.getLong(2) == 10000000L, auc)
      // random labels on a label-independent score -> AUC ~ 0.5
      assert(math.abs(auc.getLong(3) - 500000L) < 5000L, auc)
      val pr = graft.ext.Eval.prCurve(scored, "z", col("y"))
      assert(pr.count() == 10000000L)
    }

    // heavy hitters: 50M events over 24 hourly windows x 1M users, one
    // user carrying ~2% of all traffic — the rank exchange must carry
    // mappers x k rows (bounded graft_topk), never the 24M-key universe
    time("heavy hitters 50M events x 1M users (24 windows)") {
      val ev = spark.range(0, 50000000L, 1, 256).select(
        timestamp_micros(lit(1704067200000000L) +
          pmod(xxhash64(col("id")), lit(24L)) * 3600000000L +
          pmod(xxhash64(col("id"), lit(1)), lit(3600L)) * 1000000L).as("ts"),
        when(col("id") % 50 === 0, lit(42L))
          .otherwise(pmod(xxhash64(col("id"), lit(2)), lit(1000000L))).as("user_id"))
      val hh = graft.streaming.StreamingIngest
        .heavyHitters(ev, "ts", "1 hour", "user_id", k = 5)
      val rows = hh.collect()
      assert(rows.length == 24 * 5, s"got ${rows.length}")
      // the planted hot user tops every window at ~2% share
      assert(rows.filter(_.getInt(2) == 1).forall(r =>
        r.getLong(1) == 42L && math.abs(r.getLong(5) - 20000L) < 2000L))
    }

    // skew audit: one narrow report over 50M rows, 99% on one key — two
    // bounded exchanges (per-key partial count, one-row fold)
    time("skew audit 50M rows (99% one key)") {
      val df = spark.range(0, 50000000L, 1, 256)
        .select(when(col("id") % 100 =!= 0, lit(7L))
          .otherwise(pmod(xxhash64(col("id")), lit(100000L))).as("k"))
      val r = graft.ops.Profile.skewAudit(df, "k").first()
      assert(r.getLong(0) == 50000000L && r.getLong(2) >= 49000000L)
      assert(r.getLong(4) > 100000000L, s"skew_x_ppm=${r.getLong(4)}") // >>1e6
    }

    // exact global percentiles over 50M rows with ~10M distinct values —
    // the case the buffering `percentile` aggregate OOMs on and an
    // unpartitioned window serializes; PrefixSum keeps the CDF parallel
    time("exact percentiles 50M rows (~10M distinct)") {
      val df = spark.range(0, 50000000L, 1, 256)
        .select((pmod(xxhash64(col("id")), lit(10000000L)).cast("double") / 100d)
          .as("v"))
      val r = graft.ops.Percentiles.exactGlobal(df, "v",
        Seq("p50" -> 0.5, "p99" -> 0.99)).first()
      assert(r.getLong(0) == 50000000L)
      // uniform over [0, 1e5): quantiles land near p·1e5
      assert(math.abs(r.getDouble(1) - 50000d) < 500d, r)
      assert(math.abs(r.getDouble(2) - 99000d) < 500d, r)
    }

    // k-means: 2M x 8d vectors, 16 cells, 2 Lloyd iterations — per-iter
    // cost is one broadcast cross-score pass (2M x 16 narrow rows,
    // map-side reduced to one row per vector) + a 16x8 integer mean agg
    time("kmeans codebook 2M x 8d, 16 cells, 2 iters") {
      val vecs = spark.range(0, 2000000L, 1, 128).select(col("id").as("vec_id"),
        array((0 until 8).map(d =>
          (pmod(xxhash64(col("id"), lit(d)), lit(1000L)).cast("double") / 1000d)
            .cast("float")): _*)
          .as("embedding"))
      val book = graft.ext.Similarity
        .kmeansCodebook(vecs, "embedding", "vec_id", nCells = 16, dim = 8,
          iterations = 2)
        .collect()
      assert(book.length == 16)
    }

    // embedding drift: 10M x 10M vectors, 16d, 20 labels — each side
    // collapses to a 20x16 integer-sum table map-side; the join and the
    // cosine/shift fold after that are keys x dims sized. One label's
    // current snapshot is planted orthogonal: it must alarm while the
    // stable labels stay at cosine ~1.
    time("embedding drift 10M vs 10M x 16d (20 labels)") {
      def snap(rot: Boolean) = spark.range(0, 10000000L, 1, 64).select(
        concat(lit("l"), (col("id") % 20)).as("label"),
        array((0 until 16).map { d =>
          val base = (pmod(xxhash64(col("id") % 1000, lit(d)), lit(1000L))
            .cast("double") / 1000d)
          // label l0 rotates: dims swap halves in the drifted snapshot
          when(lit(rot) && col("id") % 20 === 0,
            (pmod(xxhash64(col("id") % 1000, lit(d + 16)), lit(1000L))
              .cast("double") / 1000d).cast("float"))
            .otherwise(base.cast("float"))
        }: _*).as("embedding"))
      val rows = graft.ext.Drift.embeddingDrift(
        snap(rot = false), snap(rot = true), "embedding", "label", nDims = 16)
        .collect()
      assert(rows.length == 20)
      val drifted = rows.find(_.getString(0) == "l0").get
      val stable = rows.filter(_.getString(0) != "l0")
      assert(stable.forall(r => r.getDouble(3) > 0.9999),
        "unrotated labels must keep cosine ~1")
      assert(drifted.getDouble(3) < 0.999 && drifted.getDouble(4) > 0.0,
        s"planted rotation must alarm: $drifted")
    }

    // grouped exact percentiles: 50M rows, 1000 groups, ~100k distinct
    // values per group — the cumulative window partitions by group, so no
    // task ever holds more than one group's distinct-value table
    time("grouped percentiles 50M rows / 1000 groups") {
      val df = spark.range(0, 50000000L, 1, 256).select(
        (col("id") % 1000).as("g"),
        pmod(xxhash64(col("id")), lit(100000L)).cast("long").as("v"))
      val out = graft.ops.Percentiles.exactGrouped(df, Seq("g"), "v",
        Seq("p50" -> 0.5, "p99" -> 0.99))
      assert(out.count() == 1000L)
      val r = out.where(col("g") === 0).first()
      assert(math.abs(r.getLong(2) - 50000L) < 2000L, r)  // uniform p50
      assert(math.abs(r.getLong(3) - 99000L) < 2000L, r)  // uniform p99
    }

    // cluster quality: audit a 16-cell codebook against 10M x 8d vectors —
    // one broadcast cross-score pass reduced map-side to one row per
    // vector, then a 16-row aggregate; populations must cover the corpus
    time("cluster quality 10M x 8d vs 16 cells") {
      val vecs = spark.range(0, 10000000L, 1, 128).select(col("id").as("vec_id"),
        array((0 until 8).map(d =>
          (pmod(xxhash64(col("id"), lit(d)), lit(1000L)).cast("double") / 1000d)
            .cast("float")): _*)
          .as("embedding"))
      val book = vecs.limit(16)
        .select(col("vec_id").as("cell_id"), col("embedding").as("cell_vec"))
      val rows = graft.ext.Similarity
        .clusterQuality(vecs, "embedding", "vec_id", book).collect()
      assert(rows.length == 16)
      assert(rows.map(_.getLong(1)).sum == 10000000L,
        "every vector assigned exactly once")
    }

    // semantic decontamination: 5M-vector corpus screened against a
    // 32-item eval set — broadcast eval, per-vector argmax reduced
    // map-side; the planted verbatim leaks (1 per 1M ids) must all
    // surface at cos_q = 1e7
    time("semantic decontamination 5M x 32 eval") {
      def vec(seed: org.apache.spark.sql.Column) = array((0 until 8).map(d =>
        (pmod(xxhash64(seed, lit(d)), lit(1000L)).cast("double") / 1000d + 0.001d)
          .cast("float")): _*)
      val evalSet = spark.range(0, 32).select(col("id").as("vec_id"),
        vec(col("id")).as("embedding"))
      val corpus = spark.range(0, 5000000L, 1, 128).select(
        (col("id") + 1000000L).as("vec_id"),
        // ids divisible by 1M re-embed an eval item verbatim (id/1M)
        when(col("id") % 1000000L === 0, vec(expr("id div 1000000")))
          .otherwise(vec(col("id") + 7777L)).as("embedding"))
      val flagged = graft.ext.Similarity.semanticContamination(
        corpus, evalSet, "embedding", "vec_id", minCosQ = 9999999L)
        .collect()
      val planted = flagged.filter(_.getLong(2) == 10000000L)
      assert(planted.length >= 5,
        s"all 5 planted verbatim leaks must surface: ${planted.length}")
    }

    // purged temporal split: 50M rows, 4 folds, embargo — exact-quantile
    // cuts from the parallel CDF pass, then one narrow assignment pass
    // exploded x4; role populations must cover rows x folds exactly
    time("temporal embargo split 50M rows x 4 folds") {
      val df = spark.range(0, 50000000L, 1, 256).select(col("id"),
        pmod(xxhash64(col("id")), lit(1000000000L)).as("t"))
      val out = graft.ext.Sampling
        .temporalEmbargoSplit(df, "id", "t", k = 4, embargo = 1000000L)
        .groupBy("role").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out.values.sum == 200000000L, s"50M x 4 folds: $out")
      assert(out("test") == 50000000L, "every row is test in exactly one fold")
      assert(out.getOrElse("purged", 0L) > 0L, "embargo must bite")
    }

    // recrawl priority: 50M observation history x 5M keys — one partial
    // agg collapses the history, the data-max side is a one-row broadcast
    time("recrawl priority 50M obs x 5M keys") {
      val hist = spark.range(0, 50000000L, 1, 256).select(
        (col("id") % 5000000L).as("k"),
        (col("id") * 13L % 1000000000L).as("ts"),
        (col("id") % 3 === 0).as("ch"))
      val out = graft.ext.Url.recrawlPriority(hist, "k", "ts", col("ch"))
      val agg = out.agg(count(lit(1)), max("priority_ppm")).first()
      assert(agg.getLong(0) == 5000000L, agg)
      assert(agg.getLong(1) > 0L, "some key must have nonzero priority")
    }

    // cohen kappa: 50M rows, 20-label raters — the corpus collapses to a
    // 400-cell confusion in ONE exchange; everything after is model-sized
    time("cohen kappa 50M rows x 20 labels") {
      val df = spark.range(0, 50000000L, 1, 256).select(
        (col("id") % 20).cast("string").as("a"),
        ((col("id") + pmod(xxhash64(col("id")), lit(3))) % 20)
          .cast("string").as("b"))
      val r = graft.ext.Eval.cohenKappa(df, "a", "b").first()
      assert(r.getLong(0) == 50000000L, r)
      assert(!r.isNullAt(5) && r.getLong(5) > 0L, s"kappa_ppm: $r")
    }

    // rendezvous sharding: 50M rows x 16 shards — 2x17 md5s per row in one
    // codegen'd projection, zero shuffle; the moved fraction IS the
    // resharding cost and must stay ~1/17
    time("rendezvous shard 50M x 16->17") {
      val out = graft.ops.Sharding.reshardReport(
        spark.range(0, 50000000L, 1, 256).toDF("id"), "id",
        nShards = 16, delta = 1)
      val agg = out.agg(count(lit(1)),
        sum(col("moved").cast("long"))).first()
      assert(agg.getLong(0) == 50000000L, agg)
      val frac = agg.getLong(1).toDouble / 5e7
      assert(frac > 0.045 && frac < 0.075, s"~1/17 must move: $frac")
    }

    // fleiss kappa: 50M items x 3 raters x 20 labels — one item-keyed
    // exchange to n_ij (map-side combined), category- and one-row
    // aggregates after
    time("fleiss kappa 50M items x 3 raters") {
      val df = spark.range(0, 50000000L, 1, 256).select(col("id"),
        (col("id") % 20).cast("string").as("r1"),
        ((col("id") + pmod(xxhash64(col("id")), lit(3))) % 20)
          .cast("string").as("r2"),
        ((col("id") + pmod(xxhash64(col("id") + 7), lit(5))) % 20)
          .cast("string").as("r3"))
      val r = graft.ext.Eval.fleissKappa(df, "id", Seq("r1", "r2", "r3"))
        .first()
      assert(r.getLong(0) == 50000000L, r)
      assert(!r.isNullAt(7) && r.getLong(7) > 0L, s"kappa_ppm: $r")
    }

    // exact Hamming r-neighbor pairs at 10M hashes: the wide-key block
    // variant (6 blocks -> C(6,3)=20 bands of 30-bit keys) keeps bucket
    // occupancy ~n²/2^30 per band — the default 15-bit single-block keys
    // would be quadratic here. Every planted 2-bit-flip pair must be
    // found (exactness), coincidental hamming<=3 pairs are ~0 at random.
    time("hamming neighbors 10M x r=3 (6 blocks)") {
      val n = 10000000L
      val basePop = spark.range(0, n, 1, 256)
        .select(col("id"),
          xxhash64(col("id")).bitwiseAND(lit((1L << 60) - 1)).as("h"))
      val planted = basePop.where(col("id") % 100 === 0)
        .select((col("id") + n).as("id"),
          col("h").bitwiseXOR(lit(3L)).as("h"))
      val pairs = graft.ext.Dedup.hammingNeighbors(
        basePop.unionByName(planted), "id", "h", maxDist = 3, blocks = 6)
      val found = pairs.agg(count(lit(1)),
        sum(when(col("b_id") === col("a_id") + n &&
          col("hamming") === 2L, 1L).otherwise(0L))).first()
      assert(found.getLong(1) == 100000L,
        s"every planted pair must be found (exactness): $found")
      assert(found.getLong(0) < 100100L, s"coincidentals ~0: $found")
    }

    // SRP embedding near-dup: 5M 64-d vectors through the graft_srp
    // kernel (HOF path measured 54 µs/vec — the kernel is the scale
    // story) into exact block-banded Hamming pairs at r=2; every planted
    // exact copy must surface at distance 0
    time("srp 5M x 64d + hamming pairs r=2") {
      val n = 5000000L
      val vecs = spark.range(0, n, 1, 256)
        .select(col("id"), transform(sequence(lit(1), lit(64)),
          j => ((pmod(xxhash64(col("id") * 100 + j), lit(2000)) - 1000)
            .cast("double") / lit(1000.0)).cast("float")).as("embedding"))
      val plants = vecs.where(col("id") % 100 === 0)
        .select((col("id") + n).as("id"), col("embedding"))
      val sigs = vecs.unionByName(plants).select(col("id"),
        graft.ext.Similarity.srpSignature(col("embedding")).as("srp"))
      val pairs = graft.ext.Dedup.hammingNeighbors(
        sigs, "id", "srp", maxDist = 2, blocks = 6)
      val found = pairs.agg(count(lit(1)),
        sum(when(col("b_id") === col("a_id") + n &&
          col("hamming") === 0L, 1L).otherwise(0L))).first()
      assert(found.getLong(1) == 50000L,
        s"every planted copy at distance 0: $found")
      assert(found.getLong(0) < 51000L, s"coincidentals ~0: $found")
    }

    // zero-copy branch + three-way merge at 20M rows: fork is O(pointer);
    // the merge pays three scans + two keyed diffs + the commit — never
    // row-quadratic. Branch updates 1% of keys, main inserts 1M fresh.
    time("branch fork + 3-way merge 20M rows") {
      val dir = java.nio.file.Files.createTempDirectory("graft_sm_br").toString
      val store = new graft.table.TableStore(spark, dir)
      val base = spark.range(0, 20000000L, 1, 128).toDF("k")
        .withColumn("v", (col("k") % 997).cast("double"))
      store.overwrite("t", base)
      store.createBranch("t", "b")
      store.overwriteBranch("t", "b",
        base.withColumn("v",
          when(col("k") % 100 === 0, col("v") + 1.0).otherwise(col("v"))))
      store.append("t", spark.range(20000000L, 21000000L, 1, 16).toDF("k")
        .withColumn("v", lit(-1.0)))
      val conflicts = store.mergeBranch("t", "b", Seq("k"))
      assert(conflicts.isEmpty, "disjoint edits")
      val agg = store.scan("t").agg(count(lit(1)),
        sum(when(col("v") === col("k") % 997 + 1.0, 1L).otherwise(0L))).first()
      assert(agg.getLong(0) == 21000000L, agg)
      assert(agg.getLong(1) == 200000L, s"branch updates must land: $agg")
    }

    // skew-split join: 100M fact rows, HALF on 5 hot keys, against a 5M-row
    // dim (too big to broadcast, too big to replicate whole) — hot keys
    // salted 32 ways against the 5-row hot dim slice, cold mass joined
    // plainly; a vanilla shuffle join puts ~10M rows on each hot reducer
    time("skew-split join 100M (half on 5 keys) x 5M dim") {
      val fact = spark.range(0, 100000000L, 1, 256)
        .select(col("id"),
          when(col("id") % 2 === 0, col("id") % 5)
            .otherwise(col("id") % 5000000L).as("k"))
      val dim = spark.range(0, 5000000L, 1, 64)
        .select(col("id").as("k"), (col("id") * 7L).as("w"))
      val j = graft.ops.Skew.skewSplitJoin(fact, dim, "k",
        hotKeys = Seq(0L, 1L, 2L, 3L, 4L), buckets = 32,
        saltFrom = Seq(col("id")))
      val agg = j.agg(count(lit(1)), sum(col("k") * lit(1L))).first()
      assert(agg.getLong(0) == 100000000L, agg)
    }

    // CMS join sizing: |50M ⋈ 20M| estimated from two narrow sketch folds
    // — no key exchange anywhere. Analytic truth: 10k shared keys x 5000
    // x 1000 = 5e10; AMS error bound n_a·n_b/w ≈ 15% here, min over d=4
    // rows tightens it — assert one-sidedness and <=50% overshoot
    time("cms join-size 50M x 20M (2 narrow folds)") {
      val d = 4; val w = 131072
      val aa = spark.range(0, 50000000L, 1, 256)
        .select((col("id") % 10000L).cast("string").as("k"))
      val bb = spark.range(0, 20000000L, 1, 128)
        .select((col("id") % 20000L).cast("string").as("k"))
      val est = graft.ext.Sketches.cmsJoinSize(
        graft.ext.Sketches.cmsSketch(aa, col("k"), d, w),
        graft.ext.Sketches.cmsSketch(bb, col("k"), d, w), d, w)
        .first().getDecimal(0).longValueExact()
      val exact = 10000L * 5000L * 1000L
      assert(est >= exact, s"AMS never underestimates: $est < $exact")
      assert(est <= exact * 3 / 2, s"overshoot: $est vs $exact")
    }

    // Feistel epoch permutation: 50M ids — 4 md5s/row in one projection;
    // bijectivity checked exactly (a collision breaks the whole batch-
    // addressing contract), then one epoch-batch read as a pure filter
    time("epoch permutation 50M (bijectivity + batch slice)") {
      val ids = spark.range(0, 50000000L, 1, 256).toDF("id")
      val pos = ids.select(col("id"),
        graft.ext.Sampling.epochPosition(col("id"), 3).as("p"))
      assert(pos.select(countDistinct(col("p"))).first().getLong(0)
        == 50000000L, "permutation collided")
      // batch = position range: binomial(50M, 2^-10) rows, no exchange
      val batch = pos.where(col("p") < (1L << 50)).count()
      assert(batch > 40000L && batch < 58000L, s"batch size off: $batch")
    }

    // order-independent fingerprint: 50M rows, 1000 groups — one narrow
    // partial-agg pass; the shuffled copy must reproduce the checksums
    // bit-for-bit (the operator's whole contract)
    time("fingerprint 50M x 1000 groups (+order invariance)") {
      val rows = spark.range(0, 50000000L, 1, 256)
        .select(col("id"), (col("id") % 1000).cast("string").as("g"),
          md5(col("id").cast("string")).as("payload"))
      val fp1 = graft.ops.Fingerprint.fingerprint(
        rows, Seq("g"), Seq("id", "payload"))
      val fp2 = graft.ops.Fingerprint.fingerprint(
        rows.repartition(97, col("payload")), Seq("g"), Seq("id", "payload"))
      // collect both (1000 rows each) — exceptAll would re-evaluate the
      // 50M-row pipelines once per comparison side
      def setOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val (s1, s2) = (setOf(fp1), setOf(fp2))
      assert(s1.size == 1000 && s1 == s2,
        "checksums must be order/partitioning independent")
    }

    // perceptual average-hash kernel: 5M x 512-byte blobs in one codegen
    // scan — O(L) per blob, no shuffle; entropy check guards against a
    // degenerate all-zeros kernel regression
    time("avg_hash 5M x 512B blobs") {
      val blobs = spark.range(0, 5000000L, 1, 128)
        .select(encode(concat_ws("|",
          md5(col("id").cast("string")),
          md5((col("id") + 1L).cast("string")),
          md5((col("id") + 2L).cast("string")),
          md5((col("id") + 3L).cast("string")),
          md5((col("id") + 4L).cast("string")),
          md5((col("id") + 5L).cast("string")),
          md5((col("id") + 6L).cast("string")),
          md5((col("id") + 7L).cast("string")),
          md5((col("id") + 8L).cast("string")),
          md5((col("id") + 9L).cast("string")),
          md5((col("id") + 10L).cast("string")),
          md5((col("id") + 11L).cast("string")),
          md5((col("id") + 12L).cast("string")),
          md5((col("id") + 13L).cast("string")),
          md5((col("id") + 14L).cast("string")),
          md5((col("id") + 15L).cast("string"))), "UTF-8").as("bin"))
      val agg = blobs
        .select(graft.ext.Multimodal.avgHash(col("bin")).as("h"))
        .agg(count(lit(1)), approx_count_distinct(col("h"))).first()
      assert(agg.getLong(0) == 5000000L, agg)
      assert(agg.getLong(1) > 1000000L, s"hash entropy collapsed: $agg")
    }

    // k-anonymity audit: 50M rows, 1M QI groups x 8 sensitive bands —
    // one corpus exchange to (QI, sensitive), model-sized rollup after
    time("k-anonymity 50M rows x 1M QI groups") {
      val df = spark.range(0, 50000000L, 1, 256).select(
        (col("id") % 1000000L).as("qi"),
        pmod(xxhash64(col("id")), lit(8)).as("sv"))
      val out = graft.ext.Pii.kAnonymity(df, Seq("qi"), "sv", k = 50L, l = 8L)
      val agg = out.agg(count(lit(1)),
        count(when(!col("k_ok") || !col("l_ok"), 1))).first()
      assert(agg.getLong(0) == 1000000L, agg)
    }

    // abstain-margin language routing at corpus scale: same 10M-corpus
    // shape as the trained-langid smoke, but through the top-2 margin
    // path (C-struct sorted collect per doc — model-sized, no window)
    time("langid margin 10M docs (abstain routing)") {
      val phrases2 = Seq(
        "the quick brown fox jumps over the lazy dog",
        "der schnelle braune fuchs springt über den hund",
        "le rapide renard brun saute pardessus le chien")
      val langs2 = Seq("en", "de", "fr")
      def docs2(n: Long) = spark.range(0, n, 1, 128).select(
        col("id"),
        element_at(typedLit(langs2), (col("id") % 3 + 1).cast("int")).as("lang"),
        concat(
          element_at(typedLit(phrases2), (col("id") % 3 + 1).cast("int")),
          lit(" filler token "), (col("id") % 997).cast("string")).as("text"))
      val (m, p) = graft.ext.NaiveBayes.train(
        docs2(100000L), "text", "lang", 2000, 1.0,
        graft.ext.LangId.charGramBuckets(3))
      val out = graft.ext.LangId.classifyMargin(
        docs2(10000000L), m, p, "text", "id",
        minMarginLpq = 10000000000L, buckets = 2000)
      val agg = out.agg(count(lit(1)),
        count(when(col("lang") =!= "und", 1))).first()
      assert(agg.getLong(0) == 10000000L, agg)
      assert(agg.getLong(1) == 10000000L, s"separable corpus routes fully: $agg")
    }

    // n-gram novelty: 10M-doc reference x 1M candidates (half drawn from
    // the reference's text space, half fresh) — distinct-gram-hash
    // exchanges on both sides, nothing broadcasts by hint, no plan literal
    time("ngram novelty 10M ref x 1M candidates") {
      def body(seed: org.apache.spark.sql.Column) = concat_ws(" ",
        (0 until 12).map(j => concat(lit("w"),
          pmod(xxhash64(seed * 31 + j), lit(5000)).cast("string"))): _*)
      val ref = spark.range(0, 10000000L, 1, 256)
        .select(col("id"), body(col("id")).as("text"))
      val cand = spark.range(0, 1000000L, 1, 64).select(col("id"),
        when(col("id") % 2 === 0, body(col("id") % 100000L)) // seen bodies
          .otherwise(body(col("id") + 7777777777L)).as("text")) // fresh
      val out = graft.ext.Dedup.ngramNovelty(ref, cand, "text", "id", n = 8)
      val agg = out.agg(count(lit(1)), sum(when(col("novelty_ppm") === 0, 1L)),
        sum(when(col("novelty_ppm") === 1000000L, 1L))).first()
      assert(agg.getLong(0) == 1000000L, agg)
      assert(agg.getLong(1) >= 490000L, s"reference-drawn half is seen: $agg")
      assert(agg.getLong(2) >= 450000L, s"fresh half is novel: $agg")
    }

    // persistent gram index: build once over the 10M reference, then the
    // 1M-candidate probe must cost the BATCH (bucketed semi join, zero
    // index-side exchange), not a reference re-hash
    time("gram index build 10M + probe 1M") {
      def body2(seed: org.apache.spark.sql.Column) = concat_ws(" ",
        (0 until 12).map(j => concat(lit("w"),
          pmod(xxhash64(seed * 31 + j), lit(5000)).cast("string"))): _*)
      val ref = spark.range(0, 10000000L, 1, 256)
        .select(col("id"), body2(col("id")).as("text"))
      val cand = spark.range(0, 1000000L, 1, 64).select(col("id"),
        when(col("id") % 2 === 0, body2(col("id") % 100000L))
          .otherwise(body2(col("id") + 7777777777L)).as("text"))
      val store = new graft.table.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft_sm_ng").toString)
      val t1 = System.nanoTime()
      graft.ext.GramIndex.buildGramIndex(store, "g", ref, "text",
        n = 8, numBuckets = 32)
      val tBuild = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val agg = graft.ext.GramIndex
        .noveltyAgainstIndex(store, "g", cand, "text", "id", n = 8)
        .agg(count(lit(1)), sum(when(col("novelty_ppm") === 0, 1L))).first()
      val tProbe = (System.nanoTime() - t2) / 1e9
      assert(agg.getLong(0) == 1000000L, agg)
      assert(agg.getLong(1) >= 490000L, s"seen half: $agg")
      assert(tProbe < tBuild,
        f"probe ($tProbe%.1fs) must undercut the build ($tBuild%.1fs)")
      println(f"[scale]   gram-index split: build $tBuild%.1fs probe $tProbe%.1fs")
    }

    // ranked-retrieval metrics at corpus scale: 20M docs, 4 queries —
    // two narrow corpus passes (ranking + grades), every tail join
    // (queries x k)-sized, the one Window keyed on query_id over the
    // <= 5-row-per-query grade histogram
    time("retrieval metrics 20M docs x 4 queries") {
      // 30-word vocabulary, 6 queried: the pre-explode vocabulary filter
      // prunes ~70% of tokens (a 6-word corpus would defeat it by
      // construction and just re-stress the bm25 shuffle)
      val vocab = (0 until 24).map(i => s"w$i") ++
        Seq("alpha", "beta", "gamma", "delta", "eps", "zeta")
      val docs3 = spark.range(0, 20000000L, 1, 256).select(col("id"),
        concat_ws(" ",
          (0 until 10).map(j => element_at(typedLit(vocab),
            pmod(xxhash64(col("id") * 17 + j), lit(30)).cast("int") + 1)): _*)
          .as("text"))
      val qs = Seq(0L -> "alpha beta", 1L -> "gamma delta",
        2L -> "eps zeta", 3L -> "alpha zeta gamma")
      val out = graft.ext.Retrieval.rankingMetrics(
        docs3, "text", "id", qs, k = 10, relThreshold = 2)
        .collect()
      assert(out.length == 4, out.toSeq)
      assert(out.forall(r => r.getLong(3) > 0L), s"graded mass: ${out.toSeq}")
    }

    // 41/42. 100M-DOC LINEARITY TIER for the two inherent-cost ceilings
    // (dsir select 217 s, bpe tokenize 122 s at 10M docs — both documented
    // as md5-/scan-bound). Each entry times its OWN 10M baseline first,
    // then the 100M run, and asserts the per-row rate holds within 1.35×
    // across the decade — the linearity claim measured, not asserted from
    // one point. Opt-in (arg `frontier100m` or SPARK_GRAFT_FRONTIER=1):
    // the pair costs ~an hour at local[32], which would drown the default
    // full run.
    val frontierOn = only.exists(_.startsWith("frontier100m")) ||
      sys.env.get("SPARK_GRAFT_FRONTIER").contains("1")
    def dsirDocs(n: Long) = spark.range(0, n, 1, (n / 78125L).toInt.max(128))
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 10).map(i =>
          concat(when(col("id") % 100 === 0, "x").otherwise("w"),
            pmod(col("id") + i, lit(499)))): _*).as("text"))
    if (frontierOn) time("frontier100m dsir select (10M baseline + 100M)") {
      def runTier(n: Long, k: Int): Double = {
        val corpus = dsirDocs(n)
        val t0 = System.nanoTime()
        val sel = graft.ext.Dsir.resample(
          corpus,
          corpus.where(col("doc_id") % 100 =!= 0 && col("doc_id") < 1000000L),
          "text", "doc_id", k = k)
        val r = sel.agg(count(lit(1)),
          sum(when(col("doc_id") % 100 === 0, 1L).otherwise(0L))).first()
        assert(r.getLong(0) == k.toLong && r.getLong(1) == 0L,
          s"dsir@$n: selected ${r.getLong(0)}, off-vocab ${r.getLong(1)}")
        (System.nanoTime() - t0) / 1e9
      }
      val t10 = runTier(10000000L, 100000)
      val t100 = runTier(100000000L, 100000)
      val rate10 = 10000000L / t10
      val rate100 = 100000000L / t100
      println(f"[scale]   dsir rows/s: 10M ${rate10}%.0f, 100M ${rate100}%.0f " +
        f"(t10=${t10}%.1fs t100=${t100}%.1fs ratio=${t100 / t10}%.2f)")
      assert(rate100 >= rate10 / 1.35,
        f"dsir throughput bent at 100M: ${rate10}%.0f -> ${rate100}%.0f rows/s")
    }
    if (frontierOn) time("frontier100m bpe tokenize (10M baseline + 100M)") {
      def docs(n: Long) = spark.range(0, n, 1, (n / 78125L).toInt.max(128))
        .select(col("id").as("doc_id"),
          concat_ws(" ", lit("the"), lit("a"),
            concat_ws(" ", (0 until 55).map(i =>
              concat(lit("w"), pmod(col("id") + i, lit(9999)))): _*)).as("text"))
      val merges = Seq(("t", "h"), ("th", "e"), ("e", "n"), ("w", "1"),
        ("1", "2"), ("2", "3"), ("w1", "23"), ("9", "9"))
      def runTier(n: Long): Double = {
        val t0 = System.nanoTime()
        val out = graft.ext.Bpe.tokenize(docs(n), "text", "doc_id", merges)
        val r = out.agg(count(lit(1)), sum("n_bpe_tokens")).first()
        assert(r.getLong(0) == n && r.getLong(1) > 0L,
          s"bpe@$n: ${r.getLong(0)} docs")
        (System.nanoTime() - t0) / 1e9
      }
      val t10 = runTier(10000000L)
      val t100 = runTier(100000000L)
      val rate10 = 10000000L / t10
      val rate100 = 100000000L / t100
      println(f"[scale]   bpe rows/s: 10M ${rate10}%.0f, 100M ${rate100}%.0f " +
        f"(t10=${t10}%.1fs t100=${t100}%.1fs ratio=${t100 / t10}%.2f)")
      assert(rate100 >= rate10 / 1.35,
        f"bpe throughput bent at 100M: ${rate10}%.0f -> ${rate100}%.0f rows/s")
    }

    // 41c/41d. 100M LINEARITY TIER, round 10: the SHUFFLE-BEARING dedup
    // claims. The r9 tier proved the two embarrassingly-parallel scans
    // (dsir, bpe); these two carry real exchanges — banded self-grouping
    // (hamming) and a banded probe join (incremental near-dup) — where a
    // skew or bucket blowup would bend the curve first. Same protocol:
    // own 10M/2M baseline first, then the decade, rate within 1.35×.
    // NOTE on parameters: the 100M tier runs r=2 / blocks=4 — 6 bands
    // of 30-bit keys, the standard simhash near-dup radius at this
    // corpus size. Bands are C(m, m-d), so the r=3 configs explode
    // 20-56 band rows per input row and their 100M shuffle (~80 GB)
    // exceeds this box's disk — the OPERATOR is identical (banded
    // aggregate, inline pair generation), only the radius changes, and
    // the candidate term (6·n²/2^30 ≈ 2.8e7 cheap bit_counts at 100M)
    // stays two decades under the exploded-row volume, so the measured
    // ratio isolates the engine's linear path. Both tiers share the
    // parameterization and the plan.
    if (frontierOn) time("frontier100m hamming neighbors (10M baseline + 100M)") {
      def runTier(n: Long): Double = {
        val basePop = spark.range(0, n, 1, (n / 390625L).toInt.max(256))
          .select(col("id"),
            xxhash64(col("id")).bitwiseAND(lit((1L << 60) - 1)).as("h"))
        val planted = basePop.where(col("id") % 100 === 0)
          .select((col("id") + n).as("id"),
            col("h").bitwiseXOR(lit(3L)).as("h"))
        val t0 = System.nanoTime()
        val pairs = graft.ext.Dedup.hammingNeighbors(
          basePop.unionByName(planted), "id", "h", maxDist = 2, blocks = 4)
        val found = pairs.agg(count(lit(1)),
          sum(when(col("b_id") === col("a_id") + n &&
            col("hamming") === 2L, 1L).otherwise(0L))).first()
        assert(found.getLong(1) == n / 100,
          s"hamming@$n: every planted pair must be found: $found")
        (System.nanoTime() - t0) / 1e9
      }
      val t10 = runTier(10000000L)
      val t100 = runTier(100000000L)
      val (rate10, rate100) = (10000000L / t10, 100000000L / t100)
      println(f"[scale]   hamming rows/s: 10M ${rate10}%.0f, 100M ${rate100}%.0f " +
        f"(t10=${t10}%.1fs t100=${t100}%.1fs ratio=${t100 / t10}%.2f)")
      assert(rate100 >= rate10 / 1.35,
        f"hamming throughput bent at 100M: ${rate10}%.0f -> ${rate100}%.0f rows/s")
    }
    if (frontierOn) time("frontier100m incremental near-dup (2M baseline + 20M corpus)") {
      def corpusOf(n: Long) = spark.range(0, n, 1, (n / 15625L).toInt.max(128))
        .select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 40).map(i =>
            concat(lit("w"), col("id") * 40 + lit(i))): _*).as("text"))
      // fixed 100k batch: the broadcast side must stay batch-sized no
      // matter how the corpus grows — that is the incremental contract
      val batch = spark.range(0, 100000L, 1, 16)
        .select((col("id") + 900000000L).as("doc_id"),
          when(col("id") % 2 === 0,
            concat(concat_ws(" ", (0 until 40).map(i =>
              concat(lit("w"), col("id") * 10 * 40 + lit(i))): _*),
              lit(" zz edited")))
            .otherwise(concat(lit("fresh "), col("id"))).as("text"))
      def runTier(n: Long): Double = {
        val t0 = System.nanoTime()
        val cnt = graft.ext.Dedup
          .incrementalNearDupPairs(corpusOf(n), batch, "text", "doc_id", 0.6)
          .count()
        assert(cnt >= 49500L && cnt <= 50000L,
          s"neardup@$n: planted edited re-crawls: $cnt")
        (System.nanoTime() - t0) / 1e9
      }
      val t2 = runTier(2000000L)
      val t20 = runTier(20000000L)
      val (rate2, rate20) = (2000000L / t2, 20000000L / t20)
      println(f"[scale]   neardup-probe rows/s: 2M ${rate2}%.0f, 20M ${rate20}%.0f " +
        f"(t2=${t2}%.1fs t20=${t20}%.1fs ratio=${t20 / t2}%.2f)")
      assert(rate20 >= rate2 / 1.35,
        f"neardup probe bent at 20M: ${rate2}%.0f -> ${rate20}%.0f rows/s")
    }

    // 40c. partition drop at 20M rows: retention/takedown of a whole
    // partition must cost MILLISECONDS of commit work (directory
    // listings + one manifest CAS), not a rewrite and not a scan — the
    // operation's entire point at 100 TB. The drop itself is timed
    // separately from the correctness count.
    time("partition-drop 20M: O(metadata) retention sweep") {
      val rows20m = spark.range(0, 20000000L, 1, 128)
        .select(col("id").as("k"),
          concat(lit("d"), (col("id") % 30).cast("string")).as("day"),
          (col("id") % 9973).cast("double").as("v"))
      val store = new graft.table.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft_sm_pdrop").toString)
      store.overwritePartitioned("t", rows20m, Seq("day"))
      val t0 = System.nanoTime()
      val dropped = store.dropPartitions("t", "day",
        (0 until 10).map(i => s"d$i"))
      val dropSec = (System.nanoTime() - t0) / 1e9
      println(f"[scale]   drop 10/30 partitions commit ${dropSec}%6.3fs")
      assert(dropped, "ten partitions must drop")
      assert(dropSec < 5.0,
        f"partition drop must be metadata-priced, took ${dropSec}%.1fs")
      assert(store.scan("t").count() ==
        rows20m.where(!col("day").isin((0 until 10).map(i => s"d$i"): _*))
          .count())
    }

    // 40d. MANIFEST scale: a year of streaming commits × hundreds of
    // partition values — the metadata hot path the data-path smokes
    // can't see. 1,000 snapshots over 500 distinct day values, then the
    // standing-retention loop: partitionValues sweep, expire drop,
    // post-drop scan PLANNING (the replay-union construction the driver
    // pays on every query). Also the compacted shape — ONE snapshot ×
    // 730 partitions losing 15 days — which must fold to a single
    // EXCLUSION entry (one scan relation + PartitionFilters), not 715
    // include entries. Append cadence is timed in halves: with the
    // footer-fold schema cache, the 1000th commit must cost what the
    // 100th did (pre-cache, appends re-analyzed an O(snapshots) union
    // each time and this loop alone took minutes).
    time("manifest scale: 1000 snapshots x 500 partition values") {
      val store = new graft.table.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft_sm_manifest").toString)
      def batch(i: Int) = spark.range(i * 2L, i * 2L + 2, 1, 1)
        .select(col("id").as("k"), lit(f"d${i / 2}%03d").as("day"))
      val a0 = System.nanoTime()
      (0 until 500).foreach(i => store.appendPartitioned("t", batch(i), Seq("day")))
      val firstHalf = (System.nanoTime() - a0) / 1e9
      val a1 = System.nanoTime()
      (500 until 1000).foreach(i => store.appendPartitioned("t", batch(i), Seq("day")))
      val secondHalf = (System.nanoTime() - a1) / 1e9
      println(f"[scale]   appends 1-500 ${firstHalf}%6.1fs, 501-1000 ${secondHalf}%6.1fs " +
        f"(ratio ${secondHalf / firstHalf}%.2f)")
      assert(secondHalf < firstHalf * 2.0,
        f"append cost grows with table age: ${firstHalf}%.1fs -> ${secondHalf}%.1fs")
      val t0 = System.nanoTime()
      val vals = store.partitionValues("t", "day")
      val sweepSec = (System.nanoTime() - t0) / 1e9
      assert(vals.size == 500, s"${vals.size}")
      val t1 = System.nanoTime()
      assert(store.expirePartitionsBelow("t", "day", "d200"))
      val dropSec = (System.nanoTime() - t1) / 1e9
      val entries = store.manifestEntries("t").size
      val t2 = System.nanoTime()
      val df = store.scan("t")
      df.queryExecution.executedPlan // force full planning, no execution
      val planSec = (System.nanoTime() - t2) / 1e9
      println(f"[scale]   sweep ${sweepSec}%6.2fs drop(200 vals) ${dropSec}%6.2fs " +
        f"plan ${planSec}%6.2fs manifest $entries entries")
      // merged manifest-built file-index reads: planning a 600-snapshot
      // replay must NOT scale as a 600-way union (measured 31 s before
      // the merged read, ~1 s after)
      assert(planSec < 10.0,
        f"scan planning bent at 600 snapshots: ${planSec}%.1fs")
      // 200 dropped values (d000-d199) kill 400 whole snapshots; the 600
      // survivors keep one entry each — the manifest must not balloon
      // past the live set
      assert(entries <= 620, s"manifest ballooned: $entries entries")
      assert(df.count() == 2L * 600) // 300 surviving days x 2 snapshots x 2 rows
      assert(sweepSec < 30 && dropSec < 30,
        f"retention must stay metadata-priced: sweep $sweepSec%.1fs drop $dropSec%.1fs")
      // the compacted-corpus shape: one snapshot, 730 day partitions
      val wide = spark.range(0, 14600L, 1, 32)
        .select(col("id").as("k"), concat(lit("d"),
          lpad((col("id") % 730).cast("string"), 3, "0")).as("day"))
      store.overwritePartitioned("w", wide, Seq("day"))
      val doomed = (0 until 15).map(i => f"d$i%03d")
      val t3 = System.nanoTime()
      assert(store.dropPartitions("w", "day", doomed))
      val wDropSec = (System.nanoTime() - t3) / 1e9
      val wEntries = store.manifestEntries("w")
      assert(wEntries.sizeIs == 1 && wEntries.head.contains("/!day="),
        s"15-of-730 drop must fold to one exclusion entry: ${wEntries.size}")
      val t4 = System.nanoTime()
      val wScan = store.scan("w")
      wScan.queryExecution.executedPlan
      val wPlanSec = (System.nanoTime() - t4) / 1e9
      println(f"[scale]   wide-snapshot drop ${wDropSec}%6.2fs " +
        f"plan ${wPlanSec}%6.2fs (1 exclusion entry)")
      assert(wScan.count() == 14600L - 15 * 20)
    }

    // 40e. RETENTION CASCADE at 2M docs: a governance erasure must reach
    // the persistent indexes at O(dropped) cost — capture the doomed ids
    // via a partition-pruned scan, O(metadata) table drop, then
    // takedown-sized index deletes (deletion vectors on the near-dup
    // tables; BM25 count negation) — never an index rebuild. Identity check: an exact copy
    // of a dropped doc must be unfindable through the swept index while
    // a surviving doc still matches. The wall-clock assertion pins
    // cascade < build (the rebuild it replaces).
    time("retention cascade 2M docs x neardup+bm25 indexes") {
      val days = 20
      val docs2m = spark.range(0, 2000000L, 1, 64)
        .select(col("id").as("doc_id"),
          concat(lit("d"), lpad((col("id") % days).cast("string"), 2, "0"))
            .as("day"),
          concat_ws(" ", (0 until 12).map(j =>
            concat(lit("w"), pmod(col("id") * (j + 3) + j, lit(50000)))): _*)
            .as("text"))
      val store = new graft.table.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft_sm_retcasc").toString)
      store.overwritePartitioned("docs", docs2m, Seq("day"))
      val tb = System.nanoTime()
      graft.ext.NearDupIndex.buildNearDupIndex(store, "nd", docs2m, "text",
        "doc_id", numBuckets = 8)
      graft.ext.Retrieval.buildBm25Index(store, "bm", docs2m, "text",
        "doc_id", numBuckets = 8)
      val buildSec = (System.nanoTime() - tb) / 1e9
      val t0 = System.nanoTime()
      val swept = graft.ext.Retention.expirePartitionsBelowCascade(store,
        "docs", "day", cutoff = "d05", idCol = "doc_id",
        indexes = Seq(graft.ext.Retention.NearDup("nd"),
          graft.ext.Retention.Bm25("bm", "text", numBuckets = 8)))
      val cascadeSec = (System.nanoTime() - t0) / 1e9
      println(f"[scale]   index build ${buildSec}%6.1fs, cascade (5/20 days," +
        f" 500k docs) ${cascadeSec}%6.1fs")
      assert(swept, "five partitions must drop")
      assert(store.scan("docs").count() == 2000000L * (days - 5) / days)
      // doc 42 lives in d02 (dropped); its exact-clone probe must be dark
      val probeDropped = docs2m.where(col("doc_id") === 42)
        .select((col("doc_id") + 9000000L).as("doc_id"), col("text"))
      val darkHits = graft.ext.NearDupIndex.nearDupAgainstIndex(store, "nd",
        probeDropped, "text", "doc_id", threshold = 0.8,
        materialize = false).count()
      assert(darkHits == 0, s"dropped doc still findable: $darkHits hits")
      // doc 19 lives in d19 (kept); its clone probe must still match
      val probeKept = docs2m.where(col("doc_id") === 19)
        .select((col("doc_id") + 9000001L).as("doc_id"), col("text"))
      assert(graft.ext.NearDupIndex.nearDupAgainstIndex(store, "nd",
        probeKept, "text", "doc_id", threshold = 0.8,
        materialize = false).count() >= 1, "surviving doc must stay findable")
      assert(cascadeSec < buildSec,
        f"cascade ($cascadeSec%.1fs) must cost less than the rebuild it " +
          f"replaces ($buildSec%.1fs)")
    }

    // 40g. ID-LEVEL CASCADE at 2M docs: a takedown list of 20k specific
    // doc ids erased from the table (one conditional deletion-vector
    // commit) and from the near-dup + BM25 indexes in ONE
    // deleteByKeysCascade call. The capture is a semi-join scan against
    // the broadcast-sized id list (the floor for learning the doomed
    // texts); everything downstream is takedown-sized. Identity checks
    // mirror 40e; the wall-clock assertion pins cascade < build.
    time("key cascade 2M docs x 20k takedown ids x neardup+bm25") {
      val docs2m = spark.range(0, 2000000L, 1, 64)
        .select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 12).map(j =>
            concat(lit("w"), pmod(col("id") * (j + 3) + j, lit(50000)))): _*)
            .as("text"))
      val store = new graft.table.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft_sm_dvcasc").toString)
      store.overwrite("docs", docs2m)
      val tb = System.nanoTime()
      graft.ext.NearDupIndex.buildNearDupIndex(store, "nd", docs2m, "text",
        "doc_id", numBuckets = 8)
      graft.ext.Retrieval.buildBm25Index(store, "bm", docs2m, "text",
        "doc_id", numBuckets = 8)
      val buildSec = (System.nanoTime() - tb) / 1e9
      val doomed = spark.range(0, 2000000L, 1, 8)
        .where(col("id") % 100 === 42).select(col("id").as("doc_id"))
      val t0 = System.nanoTime()
      val erased = graft.ext.Retention.deleteByKeysCascade(store, "docs",
        "doc_id", doomed,
        Seq(graft.ext.Retention.NearDup("nd"),
          graft.ext.Retention.Bm25("bm", "text", numBuckets = 8)))
      val cascadeSec = (System.nanoTime() - t0) / 1e9
      println(f"[scale]   index build ${buildSec}%6.1fs, key cascade " +
        f"(20k ids) ${cascadeSec}%6.1fs")
      assert(erased, "the takedown must erase something")
      assert(store.scan("docs").count() == 2000000L - 20000L)
      // doc 42 is doomed; its exact-clone probe must be dark
      val probeDropped = docs2m.where(col("doc_id") === 42)
        .select((col("doc_id") + 9000000L).as("doc_id"), col("text"))
      assert(graft.ext.NearDupIndex.nearDupAgainstIndex(store, "nd",
        probeDropped, "text", "doc_id", threshold = 0.8,
        materialize = false).count() == 0, "doomed doc still findable")
      // doc 19 survives; its clone probe must still match
      val probeKept = docs2m.where(col("doc_id") === 19)
        .select((col("doc_id") + 9000001L).as("doc_id"), col("text"))
      assert(graft.ext.NearDupIndex.nearDupAgainstIndex(store, "nd",
        probeKept, "text", "doc_id", threshold = 0.8,
        materialize = false).count() >= 1, "survivor must stay findable")
      assert(cascadeSec < buildSec,
        f"key cascade ($cascadeSec%.1fs) must cost less than the rebuild " +
          f"it replaces ($buildSec%.1fs)")
    }

    // 40h. MATVIEW CASCADE at 2M docs: a registered materialized
    // aggregate view (count/sum by a 1k-key column) rides the same
    // registry-resolved key cascade as the indexes — one
    // deleteByKeysCascade call commits the deletion vector AND refreshes
    // the view, so the erased docs' aggregates leave derived state in
    // the same operation. The refresh recomputes the aggregate over the
    // DV-applied base (a vector breaks append-folding by design) —
    // O(base) but narrow; the assertion pins cascade+refresh < the
    // build+define it replaces, and the view equals the survivor
    // aggregate exactly.
    time("matview cascade 2M docs x 20k ids (registered view)") {
      val docs2m = spark.range(0, 2000000L, 1, 64)
        .select(col("id").as("doc_id"),
          pmod(col("id"), lit(1000)).as("grp"),
          concat_ws(" ", (0 until 12).map(j =>
            concat(lit("w"), pmod(col("id") * (j + 3) + j, lit(50000)))): _*)
            .as("text"))
      val store = new graft.table.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft_sm_mvcasc").toString)
      store.overwrite("docs", docs2m)
      val tb = System.nanoTime()
      graft.ext.NearDupIndex.buildNearDupIndex(store, "nd", docs2m, "text",
        "doc_id", numBuckets = 8, registerFor = Some("docs"))
      graft.ext.Retention.defineView(store, "docs", "docs_by_grp",
        Seq("grp"), Seq(graft.table.MatView.Count("n_docs"),
          graft.table.MatView.Sum("doc_id", "sum_ids")))
      val buildSec = (System.nanoTime() - tb) / 1e9
      val doomed = spark.range(0, 2000000L, 1, 8)
        .where(col("id") % 100 === 42).select(col("id").as("doc_id"))
      val t0 = System.nanoTime()
      val erased = graft.ext.Retention.deleteByKeysCascade(store, "docs",
        "doc_id", doomed, indexes = Nil) // registry: view + index
      val cascadeSec = (System.nanoTime() - t0) / 1e9
      println(f"[scale]   build+define ${buildSec}%6.1fs, cascade+" +
        f"refresh (20k ids) ${cascadeSec}%6.1fs")
      assert(erased, "the takedown must erase something")
      // the view must equal the survivor aggregate EXACTLY — no erased
      // doc's contribution may survive in derived state
      val expect = docs2m.where(col("doc_id") % 100 =!= 42)
        .groupBy("grp").agg(count(lit(1)).as("n_docs"),
          sum("doc_id").as("sum_ids"))
      val view = new graft.table.MatView(store).read("docs_by_grp")
      // 10 groups vanish ENTIRELY (grp ≡ 42 mod 1000 ⊂ id ≡ 42 mod 100):
      // the refresh must drop whole rows, not just shrink counts
      val expectRows = expect.count()
      assert(expectRows == 990L)
      assert(view.count() == expectRows, s"view rows = ${view.count()}")
      assert(view.join(expect, Seq("grp")).count() == expectRows,
        "view must cover exactly the surviving groups")
      assert(view.join(expect, Seq("grp"))
        .where(view("n_docs") =!= expect("n_docs") ||
          view("sum_ids") =!= expect("sum_ids")).isEmpty,
        "view must equal the survivor aggregate")
      assert(cascadeSec < buildSec,
        f"matview cascade ($cascadeSec%.1fs) must cost less than the " +
          f"build+define it replaces ($buildSec%.1fs)")
    }

    // 40f. JOURNAL DRAIN at scale: a cascade that died right after its
    // drop committed (the `committed-mark` window) leaves a ~5M-row
    // journal across three index targets; the next operator's drain must
    // replay every index delete FROM the journaled payload at O(journal)
    // cost — bounded by the build it replaces, never an index rebuild —
    // and the drained indexes must equal a fresh rebuild on the
    // survivors (sampled probes across all three families).
    time("journal drain 5M captured rows x 3 index targets") {
      val days = 6
      val docs6m = spark.range(0, 6000000L, 1, 64)
        .select(col("id").as("doc_id"),
          concat(lit("d"), lpad((col("id") % days).cast("string"), 2, "0"))
            .as("day"),
          concat_ws(" ", (0 until 8).map(j =>
            concat(lit("w"), pmod(col("id") * (j + 3) + j, lit(50000)))): _*)
            .as("text"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_sm_drain").toString
      val store = new graft.table.TableStore(spark, dir)
      store.overwritePartitioned("docs", docs6m, Seq("day"))
      val targets = Seq(graft.ext.Retention.NearDup("nd"),
        graft.ext.Retention.Bm25("bm", "text", numBuckets = 8),
        graft.ext.Retention.Positional("pos"))
      val tb = System.nanoTime()
      graft.ext.NearDupIndex.buildNearDupIndex(store, "nd", docs6m,
        "text", "doc_id", numBuckets = 8)
      graft.ext.Retrieval.buildBm25Index(store, "bm", docs6m, "text",
        "doc_id", numBuckets = 8)
      graft.ext.Retrieval.buildPositionalIndex(store, "pos", docs6m,
        "text", "doc_id", numBuckets = 8)
      val buildSec = (System.nanoTime() - tb) / 1e9
      // kill the cascade at the committed-mark window: drop committed,
      // journal fully written (5M captured rows), zero index deletes done
      graft.ext.Retention.failpoint = l =>
        if (l == "committed-mark") throw new RuntimeException("simulated")
      try {
        try graft.ext.Retention.expirePartitionsBelowCascade(store, "docs",
          "day", cutoff = "d05", idCol = "doc_id", indexes = targets)
        catch { case e: RuntimeException
          if e.getMessage.contains("simulated") => () }
      } finally graft.ext.Retention.failpoint = _ => ()
      val journaled = store
        .scan(graft.ext.Retention.journalName("docs")).count()
      assert(journaled == 5000000L, s"journal must hold 5M rows: $journaled")
      // "new process": the journal is the only survivor of the death
      val s1 = new graft.table.TableStore(spark, dir)
      val t0 = System.nanoTime()
      graft.ext.Retention.drainPendingCascades(s1, "docs")
      val drainSec = (System.nanoTime() - t0) / 1e9
      println(f"[scale]   build ${buildSec}%6.1fs, drain of 5M-row journal" +
        f" x 3 targets ${drainSec}%6.1fs")
      assert(!s1.exists(graft.ext.Retention.journalStateName("docs")) ||
        s1.scan(graft.ext.Retention.journalStateName("docs")).isEmpty,
        "journal must be fully drained")
      assert(s1.scan("docs").count() == 1000000L)
      // sampled-probe equality vs a fresh rebuild on the survivors
      val survivors = docs6m.where(col("day") >= "d05")
      val fresh = new graft.table.TableStore(spark, java.nio.file.Files
        .createTempDirectory("graft_sm_drain_f").toString)
      graft.ext.NearDupIndex.buildNearDupIndex(fresh, "nd", survivors,
        "text", "doc_id", numBuckets = 8)
      graft.ext.Retrieval.buildBm25Index(fresh, "bm", survivors, "text",
        "doc_id", numBuckets = 8)
      graft.ext.Retrieval.buildPositionalIndex(fresh, "pos", survivors,
        "text", "doc_id", numBuckets = 8)
      def sampled(s: graft.table.TableStore): Seq[String] = {
        // near-dup: clone of a dropped doc (dark) + of a survivor (hit)
        val probe = docs6m.where(col("doc_id").isin(42L, 5999981L))
          .select((col("doc_id") + 9000000L).as("doc_id"), col("text"))
        val nd = graft.ext.NearDupIndex.nearDupAgainstIndex(s, "nd",
          probe, "text", "doc_id", threshold = 0.8, materialize = false)
        // BM25: terms shared by dropped and surviving docs — the negated
        // counts must cancel to survivors-only scores
        val bm = graft.ext.Retrieval.bm25TopKIndexed(s, "bm",
          Seq((1L, "w17 w4003 w29"), (2L, "w31337 w999")), k = 10)
        val phrase = docs6m.where(col("doc_id") === 5999981L)
          .select("text").first().getString(0)
          .split(" ").take(2).mkString(" ")
        val pos = graft.ext.Retrieval.phraseOccurrences(s, "pos", phrase)
        (nd.collect().toSeq ++ bm.collect().toSeq ++ pos.collect().toSeq)
          .map(_.toString).sorted
      }
      val drained = sampled(s1)
      assert(drained == sampled(fresh),
        "drained indexes must equal a fresh rebuild on the survivors")
      assert(drained.nonEmpty, "sampled probes must actually hit")
      assert(drainSec < buildSec,
        f"the drain ($drainSec%.1fs) must stay O(journal) — bounded by " +
          f"the rebuild it replaces ($buildSec%.1fs)")
    }

    // 40. deletion-vector vs rewrite delete on a 20M-row store table:
    // the DV commit writes only the key list (O(deleted)) while the
    // rewrite path pays the whole table again (O(table)); both must
    // agree exactly. The assertion is structural (data files untouched)
    // plus a wall-clock sanity bound, printed for the record.
    time("dv-delete 20M: O(deleted) commit vs O(table) rewrite") {
      val rows20m = spark.range(0, 20000000L, 1, 128)
        .select(col("id").as("k"), (col("id") % 9973).cast("double").as("v"))
      val doomed = spark.range(0, 20000000L, 1, 16)
        .where(col("id") % 1000 === 7).select(col("id").as("k")) // 20k keys
      val mkStore = () => new graft.table.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft_sm_dv").toString)
      val dvStore = mkStore(); val rwStore = mkStore()
      dvStore.overwrite("t", rows20m); rwStore.overwrite("t", rows20m)
      val filesBefore = dvStore.scan("t").inputFiles.toSet
      val t0 = System.nanoTime()
      dvStore.deleteByKeysDV("t", Seq("k"), doomed)
      val dvSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      rwStore.deleteByKeys("t", Seq("k"), doomed)
      val rwSec = (System.nanoTime() - t1) / 1e9
      println(f"[scale]   dv commit ${dvSec}%6.2fs vs rewrite ${rwSec}%6.2fs")
      assert(filesBefore.subsetOf(dvStore.scan("t").inputFiles.toSet),
        "DV delete must not rewrite or drop any data file")
      val nDv = dvStore.scan("t").count()
      assert(nDv == rwStore.scan("t").count() && nDv == 20000000L - 20000L,
        s"DV and rewrite disagree: $nDv")
      assert(dvSec < rwSec,
        f"O(deleted) commit ($dvSec%.2fs) must beat the O(table) rewrite ($rwSec%.2fs)")
    }

    // 40b. BULK right-to-erasure: a 5M-key deletion vector over the same
    // 20M-row table. The vector's parquet footprint clears the broadcast
    // threshold, so the replay must plan a SHUFFLED anti-join — the
    // size gate at work; a forced broadcast here is the executor-OOM
    // plan at fleet scale. Also proves the scan stays correct and
    // the commit stays O(deleted) even when deleted is 25% of the table.
    time("dv-delete 20M: bulk 5M-key vector (shuffled anti-join)") {
      val rows20m = spark.range(0, 20000000L, 1, 128)
        .select(col("id").as("k"), (col("id") % 9973).cast("double").as("v"))
      val doomed = spark.range(0, 20000000L, 1, 64)
        .where(pmod(xxhash64(col("id")), lit(4)) === 0)
        .select(col("id").as("k")) // ~5M non-sequential keys
      val nDoomed = doomed.count()
      val store = new graft.table.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft_sm_dvbulk").toString)
      store.overwrite("t", rows20m)
      val t0 = System.nanoTime()
      store.deleteByKeysDV("t", Seq("k"), doomed)
      println(f"[scale]   bulk dv commit (${nDoomed} keys) " +
        f"${(System.nanoTime() - t0) / 1e9}%6.2fs")
      val scanned = store.scan("t")
      val forced = scanned.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti &&
              j.hint.rightHint.exists(_.strategy.isDefined) => j
      }
      assert(forced.isEmpty,
        s"bulk DV must not force a broadcast anti-join: ${forced.map(_.hint)}")
      assert(scanned.count() == 20000000L - nDoomed,
        s"bulk DV scan wrong: ${scanned.count()} vs ${20000000L - nDoomed}")
    }

    spark.stop()
  }
}
