package graft.ext

import graft.SparkSpec
import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit, posexplode, split, when}

/** BM25 against a brute-force reference on a hand-built corpus, plus the
  * operator's edge semantics (tie-break, query-term multiplicity collapse,
  * absent terms, k > matches). */
class RetrievalSpec extends SparkSpec {

  private val docs: Seq[(Long, String)] = Seq(
    1L -> "spark shuffles the hash join build side",
    2L -> "hash hash hash join",
    3L -> "broadcast join skips the shuffle",
    4L -> "sort merge join spills to disk",
    5L -> "a filter prunes the scan",
    6L -> "", // empty doc: counts in N and avgdl, matches nothing
    7L -> "sort merge join spills to disk") // exact dup of 4 → score tie

  /** Mirrors bm25TopK's expression tree op-for-op (same double order),
    * quantizing per-term contributions decimal(18,9) HALF_UP then summing
    * exactly — the reference the distributed plan must reproduce. */
  private def brute(
      queries: Seq[(Long, String)], k1: Double, b: Double
  ): Map[Long, Seq[(Long, JBigDecimal)]] = {
    val toks = docs.map { case (id, t) =>
      id -> t.split(" ", -1).filter(_.nonEmpty).toSeq
    }.toMap
    val n = docs.size
    val avgdl = toks.values.map(_.size.toLong).sum.toDouble / n.toDouble
    val df = toks.values.flatMap(_.distinct).groupBy(identity).map { case (t, g) => t -> g.size }
    queries.map { case (qid, qtext) =>
      val terms = Retrieval.queryTerms(qtext)
      val scores = docs.flatMap { case (id, _) =>
        val tf = toks(id).groupBy(identity).map { case (t, g) => t -> g.size }
        val cs = terms.flatMap { t =>
          tf.get(t).map { f =>
            val dfd = df(t).toDouble
            val idf = math.log(1.0 + (n.toDouble - dfd + 0.5) / (dfd + 0.5))
            val sat = f.toDouble * (k1 + 1.0) /
              (f.toDouble + k1 * (1.0 - b + b * (toks(id).size.toDouble / avgdl)))
            JBigDecimal.valueOf(idf * sat).setScale(9, RoundingMode.HALF_UP)
          }
        }
        if (cs.isEmpty) None
        else Some(id -> cs.reduce(_.add(_)))
      }
      qid -> scores.sortBy { case (id, s) => (s.negate, id) }(
        Ordering.Tuple2(Ordering.ordered[JBigDecimal], Ordering.Long))
    }.toMap
  }

  private def run(queries: Seq[(Long, String)], k: Int): Seq[Row] = {
    import spark.implicits._
    Retrieval.bm25TopK(docs.toDF("doc_id", "text"), "text", "doc_id",
        queries, k)
      .orderBy("query_id", "rank").collect().toSeq
  }

  test("matches the brute-force reference, scores exact to the quantum") {
    val queries = Seq(0L -> "hash join", 1L -> "shuffle sort merge")
    val expected = brute(queries, 1.2, 0.75)
    val got = run(queries, 10)
    val byQ = got.groupBy(_.getLong(0))
    for ((qid, exp) <- expected) {
      val rows = byQ(qid).sortBy(_.getLong(1))
      assert(rows.map(_.getLong(2)) == exp.map(_._1),
        s"q$qid ranking mismatch: got ${rows.map(_.getLong(2))}, want ${exp.map(_._1)}")
      for ((row, (_, s)) <- rows.zip(exp)) {
        val gotS = row.getDecimal(3)
        assert(gotS.subtract(s).abs.doubleValue <= 1e-9,
          s"q$qid doc ${row.getLong(2)}: score $gotS vs reference $s")
      }
      assert(rows.map(_.getLong(1)) == (1L to exp.size.toLong),
        "ranks must be dense 1..n")
    }
  }

  test("identical documents tie-break on doc_id ascending") {
    val got = run(Seq(0L -> "spills"), 10)
    assert(got.map(_.getLong(2)) == Seq(4L, 7L), s"got $got")
    assert(got(0).getDecimal(3) == got(1).getDecimal(3))
  }

  test("query-term multiplicity collapses (Okapi): 'hash hash join' == 'hash join'") {
    val a = run(Seq(0L -> "hash hash join"), 10)
    val b = run(Seq(0L -> "hash join"), 10)
    assert(a.map(r => (r.getLong(1), r.getLong(2), r.getDecimal(3))) ==
      b.map(r => (r.getLong(1), r.getLong(2), r.getDecimal(3))))
  }

  test("terms absent from the corpus contribute nothing; all-absent query returns no rows") {
    val a = run(Seq(0L -> "join warpdrive"), 10)
    val b = run(Seq(0L -> "join"), 10)
    assert(a.map(r => (r.getLong(1), r.getLong(2), r.getDecimal(3))) ==
      b.map(r => (r.getLong(1), r.getLong(2), r.getDecimal(3))))
    assert(run(Seq(0L -> "warpdrive phaser"), 10).isEmpty)
  }

  test("k bounds the result; fewer matches than k returns all of them") {
    assert(run(Seq(0L -> "join"), 2).size == 2)
    assert(run(Seq(0L -> "prunes"), 10).map(_.getLong(2)) == Seq(5L))
  }

  test("bm25f: field weight reranks, saturation applies AFTER mixing, empty field safe") {
    import spark.implicits._
    // doc 1 has the term once in TITLE; doc 2 has it once in BODY and once
    // more (tf 2); equal lengths otherwise
    val fielded = Seq(
      (1L, "alpha topic", "filler words only here"),
      (2L, "other head", "alpha alpha words here x"),
      (3L, "other head", "filler words only here")).toDF("doc_id", "title", "body")
    val fs = Seq(Retrieval.Bm25Field("title", 3.0, 0.5),
      Retrieval.Bm25Field("body", 1.0, 0.75))
    val out = Retrieval.bm25fTopK(fielded, fs, "doc_id",
      Seq(0L -> "alpha"), k = 10)
      .orderBy("rank").collect().map(r => (r.getLong(2), r.getLong(1)))
    // title weight 3 beats body tf 2: w*tf enters BEFORE the shared
    // saturation, so 3.0-weighted tf 1 > 1.0-weighted tf 2 post-normalize
    assert(out.toSeq.map(_._1) == Seq(1L, 2L), out.toSeq)
    assert(out.length == 2, "doc 3 never matches")
    // hand-check doc 1's score: tf-tilde = 3*1/(1-0.5+0.5*(2/2)) = 3
    // exactly; idf = ln(1 + 1.5/2.5); score = idf*3/(1.2+3), quantized
    val s1 = Retrieval.bm25fTopK(fielded, fs, "doc_id",
      Seq(0L -> "alpha"), k = 10)
      .where(col("doc_id") === 1L).first().getDecimal(3)
    val want = new JBigDecimal(
      math.log(1.0 + 1.5 / 2.5) * 3.0 / (1.2 + 3.0))
      .setScale(9, RoundingMode.HALF_UP)
    assert(s1.compareTo(want) == 0, s"$s1 vs $want")
    // degenerate: a field empty everywhere contributes nothing but is safe
    val withEmpty = fielded.withColumn("extra", lit(""))
    val out2 = Retrieval.bm25fTopK(withEmpty,
      fs :+ Retrieval.Bm25Field("extra", 5.0, 0.5), "doc_id",
      Seq(0L -> "alpha"), k = 10)
      .orderBy("rank").collect().map(_.getLong(2))
    assert(out2.toSeq == Seq(1L, 2L))
    // a NULL field is an empty field, never a document eraser: doc 2's
    // null title must not drop it from retrieval or from title's
    // n_docs/avgdl stats (so doc 1's title normalization still sees 3 docs)
    val withNull = fielded.withColumn("title",
      when(col("doc_id") === 2L, lit(null).cast("string"))
        .otherwise(col("title")))
    val out3 = Retrieval.bm25fTopK(withNull, fs, "doc_id",
      Seq(0L -> "alpha"), k = 10)
      .orderBy("rank").collect().map(_.getLong(2))
    assert(out3.toSeq == Seq(1L, 2L), out3.toSeq)
  }

  test("indexed path is byte-identical to the scan path; scan prunes buckets") {
    import spark.implicits._
    val store = new graft.table.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_bm25_idx").toString)
    Retrieval.buildBm25Index(store, "c",
      docs.toDF("doc_id", "text"), "text", "doc_id", numBuckets = 4)
    val queries = Seq(0L -> "hash join", 1L -> "shuffle sort merge",
      2L -> "spills", 3L -> "warpdrive")
    val indexed = Retrieval.bm25TopKIndexed(store, "c", queries, k = 10)
    val scan = run(queries, 10)
    assert(indexed.orderBy("query_id", "rank").collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDecimal(3))) ==
      scan.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDecimal(3))),
      "index must be lossless: same ranking, same scores")
    // the query-vocab IN filter must prune posting-list buckets
    val p = indexed.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("SelectedBucketsCount"),
      s"postings scan must bucket-prune on the term filter:\n$p")
  }

  test("phrase search from the positional index: exact, overlapping, repeated-term, absent") {
    import spark.implicits._
    val store = new graft.table.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_pos_idx").toString)
    val corpus = Seq(
      1L -> "the hash join beats the hash join here",
      2L -> "hash join",
      3L -> "join hash",             // reversed — must NOT match
      4L -> "go go go")              // overlapping repeated-term phrase
    Retrieval.buildPositionalIndex(store, "c",
      corpus.toDF("doc_id", "text"), "text", "doc_id", numBuckets = 2)
    def occ(phrase: String): Seq[(Long, Long)] =
      Retrieval.phraseOccurrences(store, "c", phrase)
        .orderBy("doc_id", "start_pos").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(occ("hash join") == Seq((1L, 2L), (1L, 6L), (2L, 1L)))
    assert(occ("the hash join") == Seq((1L, 1L), (1L, 5L)))
    assert(occ("go go") == Seq((4L, 1L), (4L, 2L)), "overlaps must both match")
    assert(occ("join beats") == Seq((1L, 3L)))
    assert(occ("hash table").isEmpty)
    assert(occ("join") == Seq((1L, 3L), (1L, 7L), (2L, 2L), (3L, 1L)),
      "single-term phrase degenerates to the posting list")
  }

  test("incremental append is indistinguishable from a full build") {
    import spark.implicits._
    def results(store: graft.table.TableStore) =
      Retrieval.bm25TopKIndexed(store, "c",
          Seq(0L -> "hash join", 1L -> "shuffle sort merge"), k = 10)
        .orderBy("query_id", "rank").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDecimal(3)))
    val full = new graft.table.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_bm25_full").toString)
    Retrieval.buildBm25Index(full, "c",
      docs.toDF("doc_id", "text"), "text", "doc_id", numBuckets = 4)
    val inc = new graft.table.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_bm25_inc").toString)
    Retrieval.buildBm25Index(inc, "c",
      docs.take(3).toDF("doc_id", "text"), "text", "doc_id", numBuckets = 4)
    Retrieval.appendBm25Index(inc, "c",
      docs.drop(3).toDF("doc_id", "text"), "text", "doc_id", numBuckets = 4)
    assert(results(inc) == results(full),
      "append must reproduce the full build byte-for-byte")
  }

  test("delete cancels exactly: equals a rebuild without the docs; re-add works") {
    import spark.implicits._
    def results(store: graft.table.TableStore) =
      Retrieval.bm25TopKIndexed(store, "c",
          Seq(0L -> "hash join", 1L -> "shuffle sort merge"), k = 10)
        .orderBy("query_id", "rank").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDecimal(3)))
    val full = new graft.table.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_bm25_da").toString)
    Retrieval.buildBm25Index(full, "c",
      docs.toDF("doc_id", "text"), "text", "doc_id", numBuckets = 4)
    val deletedIds = Set(2L, 4L)
    Retrieval.deleteFromBm25Index(full, "c",
      docs.filter(d => deletedIds(d._1)).toDF("doc_id", "text"),
      "text", "doc_id", numBuckets = 4)
    val rebuilt = new graft.table.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_bm25_db").toString)
    Retrieval.buildBm25Index(rebuilt, "c",
      docs.filterNot(d => deletedIds(d._1)).toDF("doc_id", "text"),
      "text", "doc_id", numBuckets = 4)
    assert(results(full) == results(rebuilt),
      "delete must cancel the docs' contributions exactly")
    // deleted docs never surface
    val surfaced = results(full).map(_._3).toSet
    assert(deletedIds.forall(id => !surfaced.contains(id)))
    // re-adding a deleted doc restores the original full build exactly
    Retrieval.appendBm25Index(full, "c",
      docs.filter(d => deletedIds(d._1)).toDF("doc_id", "text"),
      "text", "doc_id", numBuckets = 4)
    val orig = new graft.table.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_bm25_dc").toString)
    Retrieval.buildBm25Index(orig, "c",
      docs.toDF("doc_id", "text"), "text", "doc_id", numBuckets = 4)
    assert(results(full) == results(orig),
      "delete + re-add must equal the untouched index")
  }

  test("compaction folds the append/delete log: same results, fewer files") {
    import spark.implicits._
    def results(store: graft.table.TableStore) =
      Retrieval.bm25TopKIndexed(store, "c",
          Seq(0L -> "hash join", 1L -> "shuffle sort merge"), k = 10)
        .orderBy("query_id", "rank").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDecimal(3)))
    val store = new graft.table.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_bm25_cp").toString)
    // build + two appends + one delete = four file generations
    Retrieval.buildBm25Index(store, "c",
      docs.take(3).toDF("doc_id", "text"), "text", "doc_id", numBuckets = 4)
    Retrieval.appendBm25Index(store, "c",
      docs.slice(3, 5).toDF("doc_id", "text"), "text", "doc_id", numBuckets = 4)
    Retrieval.appendBm25Index(store, "c",
      docs.drop(5).toDF("doc_id", "text"), "text", "doc_id", numBuckets = 4)
    Retrieval.deleteFromBm25Index(store, "c",
      docs.filter(_._1 == 2L).toDF("doc_id", "text"), "text", "doc_id",
      numBuckets = 4)
    val before = results(store)
    val filesBefore = store.scan("c_postings").inputFiles.length
    Retrieval.compactBm25Index(store, "c", numBuckets = 4)
    assert(results(store) == before, "compaction must not change results")
    assert(store.scan("c_postings").inputFiles.length < filesBefore)
    // negative rows are physically gone
    assert(store.scan("c_postings")
      .where(col("tf") <= 0).count() == 0)
    assert(store.scan("c_postings")
      .where(col("doc_id") === 2L).count() == 0)
  }

  test("positional compaction clears tombstones and re-enables re-adds") {
    import spark.implicits._
    val store = new graft.table.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_pos_cp").toString)
    val corpus = Seq(1L -> "hash join wins", 2L -> "hash join")
    Retrieval.buildPositionalIndex(store, "c",
      corpus.toDF("doc_id", "text"), "text", "doc_id", numBuckets = 2)
    Retrieval.deleteFromPositionalIndex(store, "c", Seq(1L).toDF("doc_id"),
      tag = "t1")
    Retrieval.compactPositionalIndex(store, "c")
    assert(!store.manifestEntries("c_pos").exists(_.startsWith("dv-")),
      "compaction must fold the deletion vector into the files")
    assert(store.scan("c_pos").where(col("doc_id") === 1L).count() == 0)
    // re-add the taken-down doc id with fresh content after compaction
    store.appendBucketed("c_pos",
      Seq((1L, "hash join returns")).toDF("doc_id", "text")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos0", "term")))
        .select(col("term"), col("doc_id"),
          (col("pos0") + 1).cast("bigint").as("pos")),
      Seq("term"), 2)
    val occ = Retrieval.phraseOccurrences(store, "c", "hash join")
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(occ == Seq(1L, 2L))
  }

  test("positional tombstones drop docs from phrase search at query time") {
    import spark.implicits._
    val store = new graft.table.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_pos_ts").toString)
    val corpus = Seq(
      1L -> "the hash join beats the hash join here",
      2L -> "hash join",
      3L -> "join hash")
    Retrieval.buildPositionalIndex(store, "c",
      corpus.toDF("doc_id", "text"), "text", "doc_id", numBuckets = 2)
    def occ = Retrieval.phraseOccurrences(store, "c", "hash join")
      .orderBy("doc_id", "start_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(occ == Seq((1L, 2L), (1L, 6L), (2L, 1L)))
    Retrieval.deleteFromPositionalIndex(store, "c", Seq(1L).toDF("doc_id"),
      tag = "t1")
    assert(occ == Seq((2L, 1L)), "tombstoned doc must drop")
    // the delete keeps the positions table bucketed: every read of it
    // still carries the bucket spec a term filter prunes on (the phrase
    // plan's broadcast joins need no bucketing, so Spark's planner turns
    // the bucketed scan off here, deletes or not)
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    val posRelations = Retrieval.phraseOccurrences(store, "c", "hash join")
      .queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation
        if r.dataSchema.fieldNames.contains("term") => r }
    assert(posRelations.nonEmpty && posRelations.forall(_.bucketSpec.isDefined),
      "the positions relation must stay bucketed after a delete")
    Retrieval.deleteFromPositionalIndex(store, "c", Seq(2L).toDF("doc_id"),
      tag = "t2")
    assert(occ.isEmpty, "tombstone appends accumulate")
  }

  test("a positional doc re-added after its delete is served at once") {
    import spark.implicits._
    val store = new graft.table.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_pos_readd").toString)
    Retrieval.buildPositionalIndex(store, "c",
      Seq(1L -> "hash join wins", 2L -> "hash join").toDF("doc_id", "text"),
      "text", "doc_id", numBuckets = 2)
    Retrieval.deleteFromPositionalIndex(store, "c", Seq(1L).toDF("doc_id"),
      tag = "t1")
    // re-add the taken-down id with fresh content, no compaction between
    store.appendBucketed("c_pos",
      Seq((1L, "hash join returns")).toDF("doc_id", "text")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos0", "term")))
        .select(col("term"), col("doc_id"),
          (col("pos0") + 1).cast("bigint").as("pos")),
      Seq("term"), 2)
    val occ = Retrieval.phraseOccurrences(store, "c", "join returns")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(occ == Seq((1L, 2L)), "the re-added doc must be served at once")
    assert(Retrieval.phraseOccurrences(store, "c", "join wins").isEmpty,
      "the deleted content stays deleted")
  }

  test("rrfFuse: integer contributions sum across arms, ties break on id") {
    import spark.implicits._
    def arm(rows: (Long, Long, Int)*) = rows.toDF("q_id", "c_id", "rank")
    // arm1 ranks c=10 first, c=20 second; arm2 ranks c=20 first, c=30 second.
    // c=20 appears in both arms: 1e9/62 + 1e9/61 beats c=10's 1e9/61 alone.
    val fused = Retrieval.rrfFuse(Seq(
        arm((1L, 10L, 1), (1L, 20L, 2)),
        arm((1L, 20L, 1), (1L, 30L, 2))), rrfK = 60, k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val r60 = 1000000000L / 61; val r61 = 1000000000L / 62
    assert(fused.toSeq == Seq(
      (1, 20L, r60 + r61, 2L), (2, 10L, r60, 1L), (3, 30L, r61, 1L)))
    // exact tie in rrf (same single-arm rank) -> lower candidate id wins
    val tied = Retrieval.rrfFuse(Seq(arm((1L, 9L, 1)), arm((1L, 4L, 1))),
        rrfK = 60, k = 10)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(tied.toSeq == Seq((1, 4L), (2, 9L)))
    // k truncates per query
    assert(Retrieval.rrfFuse(Seq(arm((1L, 1L, 1), (1L, 2L, 2), (1L, 3L, 3))),
      k = 2).count() == 2L)
  }

  test("rankingMetrics agrees with an in-memory replay of DCG/IDCG/MRR") {
    import spark.implicits._
    val corpus = Seq(
      1L -> "x x x y q q q q", // Σtf 4 → grade 1 at step 3
      2L -> "x y x y x y", // 6 → grade 2
      3L -> "x x x x x x x x x y y y", // 12 → grade 4
      4L -> "q w e r t", // 0 → ungraded
      5L -> "y y y y y y", // 6 → grade 2
      6L -> "x").toDF("doc_id", "text") // 1 → grade 0, dropped
    val queries = Seq(10L -> "x y")
    val out = Retrieval.rankingMetrics(corpus, "text", "doc_id", queries,
      k = 3, relThreshold = 2, gradeMax = 4, tfStep = 3).collect().head
    // independent replay from the (oracle-verified) ranking + hand grades
    val ranked = Retrieval.bm25TopK(corpus, "text", "doc_id", queries, 3)
      .orderBy("rank").collect().map(_.getLong(2))
    val grade = Map(1L -> 4, 2L -> 6, 3L -> 12, 5L -> 6, 6L -> 1)
      .view.mapValues(v => math.min(4, v / 3)).filter(_._2 > 0).toMap
    val disc = Retrieval.discountPpm(3)
    val dcg = ranked.zipWithIndex
      .map { case (d, i) => ((1L << grade.getOrElse(d, 0)) - 1) * disc(i) }.sum
    val idcg = grade.values.toSeq.sorted.reverse.take(3).zipWithIndex
      .map { case (g, i) => ((1L << g) - 1) * disc(i) }.sum
    val fr = ranked.zipWithIndex
      .collectFirst { case (d, i) if grade.getOrElse(d, 0) >= 2 => i + 1L }
    assert(out.getLong(1) == 3L, "n_ranked")
    assert(out.getLong(2) == dcg, "dcg_micro")
    assert(out.getLong(3) == idcg, "idcg_micro")
    assert(out.getLong(4) == dcg * 1000000L / idcg, "ndcg_ppm")
    assert(Option(out.get(5)).map(_.asInstanceOf[Long]) == fr)
    assert(out.getLong(6) == fr.map(1000000L / _).getOrElse(0L), "rr_ppm")
  }

  test("rankingMetrics: query matching nothing yields a zero row") {
    import spark.implicits._
    val corpus = Seq(1L -> "x y z").toDF("doc_id", "text")
    val out = Retrieval.rankingMetrics(corpus, "text", "doc_id",
        Seq(7L -> "zz qq"), k = 5).collect().head
    assert(out.getLong(0) == 7L)
    assert((1 to 4).forall(out.getLong(_) == 0L), s"zeros: $out")
    assert(out.isNullAt(5), "no relevant doc → null first_rel_rank")
    assert(out.getLong(6) == 0L)
    // discount table sanity: rank 1 discount is exactly 1e6, cum prefixes
    assert(Retrieval.discountPpm(3).head == 1000000L)
    assert(Retrieval.discountCumPpm(3) ==
      Retrieval.discountPpm(3).scanLeft(0L)(_ + _))
  }
}
