package graft.queries

import graft.ext.{Blocklist, Boilerplate, Bpe, Dedup, Drift, Eval, GramIndex, Html, LangId, LanguageModel, Markdown, Multimodal, NaiveBayes, NearDupIndex, Pii, Retrieval, Sampling, Similarity, Sketches, TextHash, TextStats, Url, VectorIndex, Winnow}
import graft.ops.{AsOfJoin, FuzzyJoin, Profile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Extension-operator queries (training-data pipeline ops) with DuckDB
  * oracles generated from the SAME constants as the Spark implementations
  * (hash params, hyperplane coefficients, quantization scales) — the oracle
  * SQL and the Spark plan are two renderings of one deterministic spec.
  */
object Ext {
  import Tables.t

  /** documents ∪ appended near-duplicate copies (doc_id+1000000) — the
    * shared fixture for near-dup operators. */
  private def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    docs.unionByName(
      docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" zz dup marker")).as("text")))
  }

  /** [[nearDupCorpus]] plus j≈0.45 suffix-mutated copies (+2M ids): each
    * keeps the first 45% of its words and appends three doc-unique filler
    * tokens — lexically close enough to collide in a minhash band with
    * nontrivial probability, far enough to fail 0.5-Jaccard verification.
    * These are the planted HARD NEGATIVES for contrastive mining. */
  private def contrastiveCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val mutated = docs.where(col("doc_id") % 2 === 0)
      .withColumn("__toks", graft.ext.TextStats.wsTokens(col("text")))
      .withColumn("__k", expr("(size(__toks) * 9) div 20"))
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat_ws(" ", concat(
          slice(col("__toks"), lit(1), col("__k")),
          array(
            concat(lit("m"), col("doc_id").cast("string"), lit("x0")),
            concat(lit("m"), col("doc_id").cast("string"), lit("x1")),
            concat(lit("m"), col("doc_id").cast("string"), lit("x2")))))
          .as("text"))
    nearDupCorpus(s, dir).unionByName(mutated)
  }

  /** Toy-but-well-formed BPE merges for the gate (rank = index): merged
    * symbols exist before any later pair uses them, so the one-at-a-time
    * and batch semantics coincide — shared verbatim with the oracle. */
  private[queries] val BpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"), ("o", "u"),
    ("e", "n"), ("in", "g"), ("s", "t"), ("the", "n"))

  /** Deterministic messy-URL fixture over documents: scheme/www/port/path/
    * tracking-param/fragment variety keyed off doc_id — the Spark and SQL
    * renderings build the identical strings, so the canonicalizer gates
    * compare one spec across two engines (the dup_spans derived-corpus
    * pattern). */
  private def urlCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), col("source"),
      concat(
        when(col("doc_id") % 3 === 0, lit("HTTP://"))
          .when(col("doc_id") % 3 === 1, lit("https://WWW."))
          .otherwise(lit("https://")),
        lit("site"), (col("doc_id") % 20).cast("string"), lit(".Example.COM"),
        when(col("doc_id") % 4 === 0, lit(":80"))
          .when(col("doc_id") % 4 === 1, lit(":443"))
          .when(col("doc_id") % 4 === 2, lit(":8080"))
          .otherwise(lit("")),
        lit("/"), col("source"),
        when(col("doc_id") % 5 === 0, lit("//Dir")).otherwise(lit("/dir")),
        lit("/page"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 2 === 0, lit("/?b=2&utm_source=feed&a=1&fbclid=XYZ"))
          .otherwise(lit("?a=1")),
        when(col("doc_id") % 6 === 0, lit("#frag")).otherwise(lit(""))
      ).as("url_raw"))

  // NOTE: continuation lines must not START with `||` — stripMargin would
  // eat the first pipe as a margin marker. Concatenation pipes go at EOL.
  private val UrlCorpusSql =
    """u AS (
      |  SELECT doc_id, source,
      |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTP://'
      |          WHEN doc_id % 3 = 1 THEN 'https://WWW.' ELSE 'https://' END) ||
      |    'site' || CAST(doc_id % 20 AS VARCHAR) || '.Example.COM' ||
      |    (CASE WHEN doc_id % 4 = 0 THEN ':80' WHEN doc_id % 4 = 1 THEN ':443'
      |          WHEN doc_id % 4 = 2 THEN ':8080' ELSE '' END) ||
      |    '/' || source ||
      |    (CASE WHEN doc_id % 5 = 0 THEN '//Dir' ELSE '/dir' END) ||
      |    '/page' || CAST(doc_id % 50 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 2 = 0 THEN '/?b=2&utm_source=feed&a=1&fbclid=XYZ'
      |          ELSE '?a=1' END) ||
      |    (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url_raw
      |  FROM documents)""".stripMargin

  private val BlockedHosts = Seq("site3.example.com", "site7.example.com")

  /** The crawl-batch fixture of the near-dup screen gates: edited
    * re-crawls (near-matches) + genuinely fresh docs; shared verbatim
    * with [[incNearDupOracleSql]]'s batchd CTE. */
  private[queries] def nearDupBatch(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        concat(col("text"), lit(" zz near marker")).as("text"))
      .unionByName(docs.where(col("doc_id") % 9 === 1)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          concat(lit("fresh "), col("doc_id").cast("string")).as("text")))

  /** Candidate fixture for the novelty gates: verbatim copies (+3M ids,
    * novelty 0), half-kept suffix-mutations (+3.5M, partial novelty), and
    * fresh short docs (+4.5M, fully novel) — shared verbatim with the
    * oracle's `cand` CTE. */
  private def noveltyCandidates(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val verbatim = docs.where(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
    val mutated = docs.where(col("doc_id") % 4 === 1)
      .withColumn("__toks", TextStats.wsTokens(col("text")))
      .withColumn("__k", expr("(size(__toks) * 9) div 20"))
      .select((col("doc_id") + 3500000L).as("doc_id"),
        concat_ws(" ", concat(
          slice(col("__toks"), lit(1), col("__k")),
          array(
            concat(lit("m"), col("doc_id").cast("string"), lit("x0")),
            concat(lit("m"), col("doc_id").cast("string"), lit("x1")),
            concat(lit("m"), col("doc_id").cast("string"), lit("x2")))))
          .as("text"))
    val fresh = docs.where(col("doc_id") % 4 === 2)
      .select((col("doc_id") + 4500000L).as("doc_id"),
        concat(lit("fresh "), col("doc_id").cast("string")).as("text"))
    verbatim.unionByName(mutated).unionByName(fresh)
  }

  /** Robots-rules fixture over the urlCorpus hosts — group selection
    * (exact agent beats `*`), wildcard and `$`-anchored paths, longer-
    * match overrides; shared verbatim with the oracle VALUES. */
  private[queries] val RobotsRules: Seq[(String, String, Boolean, String)] = Seq(
    ("site1.example.com", "*", false, "/"),
    ("site2.example.com", "*", false, "/*/dir/*"),
    ("site2.example.com", "*", true, "/*/dir/page1*"),
    ("site3.example.com", "graftbot", false, "/"),
    ("site3.example.com", "*", true, "/"),
    ("site4.example.com", "otherbot", false, "/"),
    ("site5.example.com", "*", false, "/*/dir/page7$"),
    ("site6.example.com", "*", false, "/*//Dir/*"))

  private def robotsRulesValuesSql: String =
    RobotsRules.map { case (h, a, al, p) => s"('$h', '$a', $al, '$p')" }
      .mkString(", ")

  /** Crawl-delay fixture over the urlCorpus hosts — exact-agent override,
    * foreign-agent-only host (falls to default), shared with the oracle
    * VALUES. */
  private[queries] val CrawlDelays: Seq[(String, String, Long)] = Seq(
    ("site1.example.com", "*", 2000L),
    ("site1.example.com", "graftbot", 500L),
    ("site3.example.com", "*", 1500L),
    ("site5.example.com", "otherbot", 9000L),
    ("site7.example.com", "*", 250L))

  private def crawlDelaysValuesSql: String =
    CrawlDelays.map { case (h, a, d) => s"('$h', '$a', $d)" }.mkString(", ")

  /** Blocklist gate phrase list — nested (can⊂scan, low⊂slow, able⊂table)
    * and multi-word entries; shared verbatim with the oracle VALUES. */
  private[queries] val BlocklistPats: Seq[String] = Seq(
    "able", "agg", "can", "fast table", "low", "row", "scan", "table",
    "the", "value part")

  private def blocklistPatsValuesSql: String =
    BlocklistPats.zipWithIndex
      .map { case (p, i) => s"($i, '$p')" }.mkString(", ")

  private val NearDupCorpusSql =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' zz dup marker' FROM documents
      |  WHERE doc_id % 10 = 0)""".stripMargin

  /** Gate query set for BM25 — multi-term queries over the synthetic
    * corpus vocabulary; shared verbatim with the oracle's VALUES list. */
  private[queries] val Bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "hash join merge",
    1L -> "fast scan filter",
    2L -> "stream window agg",
    3L -> "customer order query big")

  private def bm25QueryValuesSql: String =
    Bm25Queries.flatMap { case (qid, qt) =>
      Retrieval.queryTerms(qt).map(term => s"($qid, '$term')")
    }.mkString(", ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ext_bm25_topk" -> ((s, dir) =>
      // BM25 ranked retrieval for a fixed query set; per-term contributions
      // quantized decimal(18,9) before the exact decimal sum (the tfidf
      // discipline), per-query top-k through the bounded graft_topk
      // aggregate with doc_id as the engine-portable tie-break
      Retrieval.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
          Bm25Queries, k = 10)
        .orderBy("query_id", "rank")),

    "ext_bm25f_topk" -> ((s, dir) => {
      // BM25F fielded retrieval (Robertson/Zaragoza 2004): title = first 5
      // tokens at weight 2.5 / b 0.5, body = the rest at 1.0 / 0.75 —
      // per-field normalize-and-weight FIRST, saturate the combined
      // pseudo-frequency ONCE (not a sum of per-field BM25s). One corpus
      // pass over both fields via a shared tagged explode; tf-tilde
      // re-enters double land as an exact ppb integer, never a
      // decimal->double cast.
      val toksed = t(s, dir, "documents").select(col("doc_id"),
        graft.ext.TextStats.wsTokens(col("text")).as("__toks"))
      val fielded = toksed.select(col("doc_id"),
        concat_ws(" ", slice(col("__toks"), 1, 5)).as("title"),
        concat_ws(" ",
          expr("slice(__toks, 6, greatest(size(__toks) - 5, 0))")).as("body"))
      Retrieval.bm25fTopK(fielded,
          Seq(Retrieval.Bm25Field("title", 2.5, 0.5),
            Retrieval.Bm25Field("body", 1.0, 0.75)),
          "doc_id", Bm25Queries, k = 10)
        .orderBy("query_id", "rank")
    }),

    "ext_bm25_indexed" -> ((s, dir) =>
      // same retrieval, served from a persistent bucket-pruned inverted
      // index (posting lists bucketed+sorted on term) — "build once, query
      // many" is the operator's contract, so the build is a FROZEN shared
      // fixture (Bench's untimed setup, the trained-model discipline) and
      // this gate times the query path; byte-identical to the scan path,
      // so it shares ext_bm25_topk's oracle
      Retrieval.bm25TopKIndexed(Fixtures.bm25IndexStore(s, dir), "docs",
          Bm25Queries, k = 10)
        .orderBy("query_id", "rank")),

    "ext_bm25_incremental" -> ((s, dir) => {
      // crawl-shaped index growth: index half the corpus, append the rest
      // as a batch (bucketed file appends + df/stats increments, no index
      // rewrite) — must be indistinguishable from indexing everything at
      // once, so it shares the scan path's oracle
      val store = new graft.table.TableStore(s,
        java.nio.file.Files.createTempDirectory("graft_q_bm25i").toString)
      val docs = t(s, dir, "documents")
      Retrieval.buildBm25Index(store, "docs",
        docs.where(col("doc_id") % 2 === 0), "text", "doc_id", numBuckets = 8)
      Retrieval.appendBm25Index(store, "docs",
        docs.where(col("doc_id") % 2 === 1), "text", "doc_id", numBuckets = 8)
      Retrieval.bm25TopKIndexed(store, "docs", Bm25Queries, k = 10)
        .orderBy("query_id", "rank")
    }),

    "ext_bm25_delete" -> ((s, dir) => {
      // the takedown path: index everything, DELETE a fifth of the corpus
      // by appending negated postings/df/stats (nothing rewritten), query
      // — must equal the scan path over the surviving docs, so the oracle
      // is the shared BM25 spec over `documents` minus the deleted rows
      val store = new graft.table.TableStore(s,
        java.nio.file.Files.createTempDirectory("graft_q_bm25d").toString)
      val docs = t(s, dir, "documents")
      Retrieval.buildBm25Index(store, "docs", docs, "text", "doc_id",
        numBuckets = 8)
      Retrieval.deleteFromBm25Index(store, "docs",
        docs.where(col("doc_id") % 5 === 3), "text", "doc_id",
        numBuckets = 8)
      Retrieval.bm25TopKIndexed(store, "docs", Bm25Queries, k = 10)
        .orderBy("query_id", "rank")
    }),

    "ext_hybrid_rrf" -> ((s, dir) => {
      // hybrid lexical+semantic retrieval: a BM25 arm over documents and a
      // cosine arm over the aligned embeddings (vec_id == doc_id; query ids
      // 0-3 double as the query vectors' vec_ids), fused by reciprocal-rank
      // fusion — contributions are integer-quantized reciprocals
      // (1e9 div (60+rank)) so the fused score is an exact int64 sum
      val lex = Retrieval.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
          Bm25Queries, k = 20)
        .select(col("query_id").as("q_id"), col("doc_id").as("c_id"),
          col("rank"))
      val emb = t(s, dir, "embeddings")
      val vec = Similarity.bruteForceTopK(emb,
          emb.where(col("vec_id") < 4), "embedding", "vec_id", 20)
        .select("q_id", "c_id", "rank")
      Retrieval.rrfFuse(Seq(lex, vec), rrfK = 60, k = 10)
        .orderBy("q_id", "rank")
    }),

    "ext_retrieval_metrics" -> ((s, dir) =>
      // ranked-retrieval quality report: MRR + nDCG@10 of the BM25 ranking
      // against corpus-derived graded relevance (grade = banded total
      // query-term occurrences, which deliberately disagrees with BM25's
      // dl-normalized saturating tf so nDCG < 1 — a saturated metric
      // verifies nothing). Gains are 2^grade - 1; discounts are the shared
      // floor(1e6/log2(r+1)) literal table, so DCG/IDCG/nDCG are exact
      // int64 — IDCG comes from the per-query GRADE HISTOGRAM (≤ 5 rows),
      // never a corpus-sized ideal sort. The oracle replays ranking,
      // grading, and both metrics end-to-end.
      Retrieval.rankingMetrics(t(s, dir, "documents"), "text", "doc_id",
          Bm25Queries, k = 10, relThreshold = 4, gradeMax = 4, tfStep = 3)
        .orderBy("query_id")),

    "ext_trunc_recall" -> ((s, dir) => {
      // Matryoshka-style dimension-truncation audit: recall@5 of exact
      // cosine search over the FIRST 16 of 64 dims against exact full-dim
      // search — the measurement that decides whether truncated embeddings
      // are good enough to cut ANN index cost 4×. Both arms and the
      // overlap join are (queries × k)-sized; the oracle replays both
      // searches and the evaluation.
      val e = t(s, dir, "embeddings")
      val qs = e.where(col("vec_id") < 50)
      val full = Similarity.bruteForceTopK(e, qs, "embedding", "vec_id", 5)
      val e16 = e.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("emb16"))
      val q16 = qs.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("emb16"))
      val trunc = Similarity.bruteForceTopK(e16, q16, "emb16", "vec_id", 5)
      Similarity.recallAtK(full, trunc).orderBy("q_id")
    }),

    "ext_novelty" -> ((s, dir) =>
      // n-gram novelty / memorization audit: candidates = verbatim copies
      // (novelty 0), half-kept suffix-mutations (partial), and fresh short
      // docs (fully novel) screened against the reference corpus — the
      // reverse-direction sibling of decontamination where NOTHING
      // broadcasts (reference gram set is corpus-scale by contract)
      Dedup.ngramNovelty(t(s, dir, "documents").select("doc_id", "text"),
          noveltyCandidates(s, dir), "text", "doc_id", n = 8)
        .orderBy("doc_id")),

    "ext_novelty_indexed" -> ((s, dir) =>
      // the same audit served from the PERSISTENT gram-membership index —
      // the steady-state shape: the reference corpus is hashed once, every
      // later batch probes the bucketed distinct-gram table with zero
      // index-side exchange. Membership is duplicate-insensitive, so the
      // output is identical by construction and shares ext_novelty's
      // oracle; the build is a frozen shared fixture (untimed setup).
      GramIndex.noveltyAgainstIndex(Fixtures.gramIndexStore(s, dir), "ng",
          noveltyCandidates(s, dir), "text", "doc_id", n = 8)
        .orderBy("doc_id")),

    "ext_novelty_index_incremental" -> ((s, dir) => {
      // crawl-shaped reference growth: index the even half, append the odd
      // half — appends never read the index, so overlapping grams land as
      // duplicates, which the membership probe must (and does) ignore; the
      // grown index probes identically to indexing everything at once
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val store = new graft.table.TableStore(s,
        java.nio.file.Files.createTempDirectory("graft_q_ngi").toString)
      GramIndex.buildGramIndex(store, "ng",
        docs.where(col("doc_id") % 2 === 0), "text", n = 8, numBuckets = 8)
      GramIndex.appendGramIndex(store, "ng",
        docs.where(col("doc_id") % 2 === 1), "text", n = 8, numBuckets = 8)
      GramIndex.noveltyAgainstIndex(store, "ng",
          noveltyCandidates(s, dir), "text", "doc_id", n = 8)
        .orderBy("doc_id")
    }),

    "ext_phrase_index" -> ((s, dir) => {
      // exact-phrase search from the positional inverted index: bucket-
      // pruned posting scan, consecutive-position self-joins, corpus never
      // touched; a 2-term and a 3-term phrase exercise the join fold
      val store = new graft.table.TableStore(s,
        java.nio.file.Files.createTempDirectory("graft_q_ph").toString)
      Retrieval.buildPositionalIndex(store, "docs",
        t(s, dir, "documents"), "text", "doc_id", numBuckets = 8)
      Seq("data query", "data query table").map { ph =>
        Retrieval.phraseOccurrences(store, "docs", ph)
          .withColumn("phrase", lit(ph))
      }.reduce(_.unionByName(_))
        .select("phrase", "doc_id", "start_pos")
        .orderBy("phrase", "doc_id", "start_pos")
    }),

    "ext_winnow_pairs" -> ((s, dir) =>
      // end-to-end winnow near-dup candidates over the shared near-dup
      // fixture. The 30-word synthetic vocabulary is ADVERSARIAL for
      // char-gram locality (every doc resembles every doc), so the
      // df-cap + minShared thresholds matter here; realistic-recall
      // behavior is covered by WinnowSpec and the 1M-doc smoke — this
      // gate checks value agreement of the whole chain
      Winnow.sharedFingerprintPairs(
          Winnow.fingerprints(nearDupCorpus(s, dir), "text", "doc_id",
            k = 8, w = 8),
          "doc_id", minShared = 12, maxPostings = 50)
        .orderBy("id_a", "id_b")),

    "ext_winnow" -> ((s, dir) =>
      // winnowing fingerprints (Schleimer et al. 2003): per-row HOF
      // pipeline, zero shuffles; rightmost-min tie rule shared with the
      // oracle's max(pos)-at-min formulation
      Winnow.fingerprints(t(s, dir, "documents"), "text", "doc_id",
          k = 8, w = 8)
        .orderBy("doc_id", "pos", "fp")),

    "ext_winnow_clusters" -> ((s, dir) =>
      // near-dup GROUPS from the winnow pair screen: the shared-
      // fingerprint edges feed min-label propagation — composition of
      // two gated operators, re-gated end-to-end (the oracle nests the
      // pair SELECT inside a recursive reachability CTE)
      graft.ops.Graph.connectedComponents(
          Winnow.sharedFingerprintPairs(
            Winnow.fingerprints(nearDupCorpus(s, dir), "text", "doc_id",
              k = 8, w = 8),
            "doc_id", minShared = 12, maxPostings = 50),
          "id_a", "id_b")
        .orderBy("node")),

    "ext_fuzzy_match" -> ((s, dir) => {
      // blocked fuzzy record linkage: dirty part names (one char deleted at
      // a key-derived position — the deterministic shared-spec fixture
      // pattern) matched back against the clean part table, blocking on the
      // first name token, edit distance ≤ 2, best match = (min dist, min
      // id). The deletion position sometimes mutates the blocking token
      // itself — those records legitimately miss, which is blocking
      // semantics, and both engines agree on it.
      val part = t(s, dir, "part")
      val clean = part
        .select(col("p_partkey").as("rid"), col("p_name").as("name"))
        .withColumn("blk", split_part(col("name"), lit(" "), lit(1)))
      val dirty = part.where(col("p_partkey") % 4 === 0)
        .withColumn("d", lit(1) + col("p_partkey") % length(col("p_name")))
        .select((col("p_partkey") + 10000000L).as("rid"),
          expr("concat(substring(p_name, 1, d - 1), " +
            "substring(p_name, d + 1, length(p_name)))").as("name"))
        .withColumn("blk", split_part(col("name"), lit(" "), lit(1)))
      FuzzyJoin.bestMatch(dirty, clean, "rid", "name", "blk", maxDist = 2)
        .orderBy("l_id")
    }),

    "ext_html_extract" -> ((s, dir) => {
      // HTML → text over a deterministic page fixture wrapped around each
      // document (title/style/script/headings/links/entities — every rule
      // of the extractor exercised); the Spark and SQL renderings build
      // the identical raw page, so the gate compares one extraction spec
      // across two engines. Output includes link count and a joined link
      // list (every page has ≥ 1 link by construction — the
      // empty-array-to-string engine drift cannot arise).
      val pages = t(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("<html><head><title>Doc "), col("doc_id").cast("string"),
          lit("</title>\n<style type=\"text/css\">p{color:red}</style>\n" +
            "<script>var x = 1 < 2 && \"s\";</script></head>\n<body><h1>Sec "),
          (col("doc_id") % 7).cast("string"),
          lit("</h1>\n<p>"), col("text"),
          lit("</p>\n<a href=\"https://site"),
          (col("doc_id") % 20).cast("string"),
          lit(".example.com/p"), (col("doc_id") % 50).cast("string"),
          lit("\">link</a>"),
          when(col("doc_id") % 3 === 0,
            lit("\n<a href=\"/rel/p2\">rel</a>")).otherwise(lit("")),
          lit("\n<p>Tom &amp; Jerry &lt;3 &quot;q&quot; &#39;s&nbsp;end" +
            "</p></body></html>")).as("html"))
      Html.extract(pages, "html")
        .select(col("doc_id"), col("text_clean"),
          concat_ws("|", col("links")).as("links_s"), col("n_links"))
        .orderBy("doc_id")
    }),

    "ext_markdown_extract" -> ((s, dir) => {
      // markdown → text over a deterministic page fixture wrapped around
      // each document (header/quote/emphasis/inline code/list/link/image/
      // fence/rule — every rule exercised); both engines build the
      // identical raw page, so the gate compares one extraction spec.
      // Every page has ≥ 2 link targets by construction (the
      // empty-array-to-string drift cannot arise).
      val pages = t(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("# Doc "), col("doc_id").cast("string"),
          lit("\n> intro quote\n**Head"), (col("doc_id") % 7).cast("string"),
          lit("** with *emph* `code span` and _under_\n- [link"),
          (col("doc_id") % 3).cast("string"),
          lit("](https://site"), (col("doc_id") % 20).cast("string"),
          lit(".example.com/p"), (col("doc_id") % 50).cast("string"),
          lit(")\n1. ![alt"), (col("doc_id") % 7).cast("string"),
          lit("](https://img.example.com/i"),
          (col("doc_id") % 9).cast("string"),
          lit(".png)\n```scala\nval hidden = [no](/link) **x**\n```\n"),
          col("text"), lit("\n---\n")).as("md"))
      Markdown.extract(pages, "md")
        .select(col("doc_id"), col("text_clean"),
          concat_ws("|", col("links")).as("links_s"), col("n_links"))
        .orderBy("doc_id")
    }),

    "ext_blocklist" -> ((s, dir) => {
      // Aho–Corasick blocklist kernel over the corpus in BOTH matching
      // modes: raw substring (overlapping counted — "able" fires inside
      // "table") and word-bounded (C4 badwords semantics). The pattern
      // list is deliberately nested/overlapping (can⊂scan, low⊂slow,
      // able⊂table) plus multi-word phrases, so the gate exercises the
      // failure-chain emits, not just leaf matches.
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"),
          Blocklist.matchCounts("text", BlocklistPats, boundary = false).as("cs"),
          Blocklist.matchCounts("text", BlocklistPats, boundary = true).as("cw"))
        .select(col("doc_id"),
          concat_ws(",", transform(col("cs"), _.cast("string"))).as("counts_sub_s"),
          concat_ws(",", transform(col("cw"), _.cast("string"))).as("counts_word_s"),
          Blocklist.totalHits(col("cs")).cast("bigint").as("total_sub"),
          Blocklist.totalHits(col("cw")).cast("bigint").as("total_word"),
          Blocklist.patternsHit(col("cw")).cast("bigint").as("n_pat_word"))
        .orderBy("doc_id")
    }),

    "ext_blocklist_profile" -> ((s, dir) =>
      // corpus-level triage view: which phrases fire, in how many docs,
      // how often — one posexplode of the patterns-sized counts array,
      // partial-agg groupBy on the index (shuffle ≤ mappers × patterns)
      Blocklist.profile(t(s, dir, "documents"), "text", BlocklistPats,
          boundary = true)
        .select(col("pat_idx").cast("bigint").as("pat_idx"), col("pattern"),
          col("docs_hit"), col("total_hits"))
        .orderBy("pat_idx")),

    "ext_lz_ratio" -> ((s, dir) =>
      // greedy-LZ77 compressibility stats (the compression-ratio quality
      // signal): INTEGER parse summaries hash-compared; the oracle
      // replays bestlen-per-position + a recursive greedy walk with the
      // same (window=16, min=4, max=12) constants. Fixture subset keeps
      // the oracle's quadratic positional probe gate-cheap.
      TextStats.lzStats(
          t(s, dir, "documents").where(col("doc_id") % 7 === 0), "text")
        .select(col("doc_id"),
          col("lz.n_literals").cast("bigint").as("n_literals"),
          col("lz.n_matches").cast("bigint").as("n_matches"),
          col("lz.match_chars").cast("bigint").as("match_chars"))
        .orderBy("doc_id")),

    "ext_chunk_windows" -> ((s, dir) => {
      // strided token-window chunking (long doc → overlapping training
      // sequences): maxLen=12, stride=8 over whitespace tokens — window
      // COUNT is integer `div` arithmetic shared with the oracle (never
      // float ceil), tail windows kept
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      Sampling.chunkWindows(toks, "toks", maxLen = 12, stride = 8)
        .select(col("doc_id"), col("win_idx").cast("bigint").as("win_idx"),
          col("win_start"), concat_ws(" ", col("win_tokens")).as("win_s"),
          col("win_len"))
        .orderBy("doc_id", "win_idx")
    }),

    "ext_dedup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.unionByName(
        docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      Dedup.exact(corpus, "text", "doc_id").orderBy("keep_id")
    }),

    "ext_paragraph_dedup" -> ((s, dir) => {
      // Dolma-style paragraph pass: every doc carries a shared header and
      // footer paragraph around two body slices — only the globally first
      // occurrence of each paragraph survives (doc 0 keeps the
      // boilerplate, everyone else sheds it; duplicated body slices drop
      // too). Three paragraph-sized exchanges, no window.
      val sep = "\n\n"
      val fixture = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("common header paragraph"), lit(sep),
          substring(col("text"), 1, 40), lit(sep),
          lit("common footer paragraph"), lit(sep),
          substring(col("text"), 41, 60)).as("text"))
      Dedup.paragraphDedup(fixture, "text", "doc_id", sep)
        .orderBy("doc_id")
    }),

    "ext_drift_js" -> ((s, dir) => {
      // corpus drift monitor: even-id docs are the reference corpus, odd-id
      // docs the incoming batch with every third doc drifted by an
      // appended template — JS divergence over 1024-bucket hashed-token
      // histograms, exact integer sums of quantized log-ratios (one row)
      val docs = t(s, dir, "documents")
      val ref = docs.where(col("doc_id") % 2 === 0).select("text")
      val batch = docs.where(col("doc_id") % 2 === 1)
        .select(when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" drifted marker tokens")))
          .otherwise(col("text")).as("text"))
      Drift.jsDivergence(ref, batch, "text", buckets = 1024)
    }),

    "ext_drift_slices" -> ((s, dir) => {
      // which slice drives the drift: per-source JS of the batch against
      // the whole reference — the drifted sources must surface with higher
      // divergence. Slice grid is keys × buckets (bounded), broadcast.
      val docs = t(s, dir, "documents")
      val ref = docs.where(col("doc_id") % 2 === 0).select("text")
      val batch = docs.where(col("doc_id") % 2 === 1)
        .select(col("source"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" drifted marker tokens")))
            .otherwise(col("text")).as("text"))
      Drift.jsDivergenceBySlice(ref, batch, "text", "source", buckets = 1024)
        .orderBy("source")
    }),

    "ext_minhash_signature" -> ((s, dir) =>
      // the NATIVE codegen'd expression, validated against the SQL oracle
      t(s, dir, "documents")
        .withColumn("sig", Dedup.minhashSig("text"))
        .select(col("doc_id"),
          element_at(col("sig"), 1).as("m0"),
          element_at(col("sig"), 6).as("m5"),
          element_at(col("sig"), 11).as("m10"),
          element_at(col("sig"), 16).as("m15"))
        .orderBy("doc_id")),

    "ext_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(nearDupCorpus(s, dir), "text", "doc_id", threshold = 0.6)
        .orderBy("a_id", "b_id")),

    "ext_containment_pairs" -> ((s, dir) => {
      // subset-duplicate screen: half-length PREFIX copies planted at
      // +4M share ~all of THEIR shingles with the parent (containment
      // ≈ 1) while Jaccard sits near |short|/|long| — the truncated-
      // repost class the symmetric measure structurally under-scores.
      // Band candidates, then exact containment |A∩B|/min(|A|,|B|).
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.unionByName(
        docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 4000000L).as("doc_id"),
            expr("substr(text, 1, cast(greatest(length(text) div 2, 12) as int))")
              .as("text")))
      Dedup.containmentPairs(corpus, "text", "doc_id", threshold = 0.8)
        .orderBy("a_id", "b_id")
    }),

    "ext_dedup_clusters" -> ((s, dir) =>
      Dedup.duplicateClusters(
        Dedup.minhashPairs(nearDupCorpus(s, dir), "text", "doc_id", threshold = 0.6))
        .orderBy("id")),

    "ext_neardup_eval" -> ((s, dir) => {
      // evaluate the LSH screen ITSELF: raw band-collision candidates vs
      // a brute-force exact-Jaccard truth over the planted-dup sample —
      // the pair-level precision/recall that tunes bands×rows, invisible
      // in the verified pair set (whose precision is 1 by construction)
      // truth is deliberately quadratic, so the sample is every 20th
      // original plus ITS planted copy (both sides of a true pair stay
      // in-sample; %10-planted ids are original+1M, so (id-1M)%20 picks
      // the copies whose original survived the %20 cut)
      val sample = nearDupCorpus(s, dir)
        .where((col("doc_id") < 1000000L && col("doc_id") % 20 === 0) ||
          (col("doc_id") >= 1000000L && (col("doc_id") - 1000000L) % 20 === 0))
      graft.ext.Eval.pairPrf(
        Dedup.minhashCandidates(sample, "text", "doc_id"),
        Dedup.bruteForcePairs(sample, "text", "doc_id", threshold = 0.6))
    }),

    "ext_priority_dedup" -> ((s, dir) => {
      // multi-source merge: the same text planted in three "sources"
      // (priority 1 = curated beats 2 = base beats 3 = crawl); per
      // content hash the curated copy must win, ties pinned by id
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val multi = docs.select(col("doc_id"), col("text"), lit(2L).as("prio"))
        .unionByName(docs.where(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
            lit(1L).as("prio")))
        .unionByName(docs.where(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text"),
            lit(3L).as("prio")))
      Dedup.exactPriority(multi, "text", "doc_id", "prio")
        .orderBy("fingerprint")
    }),

    "ext_table_fingerprint" -> ((s, dir) =>
      // order-independent per-source checksum (count + commutative 60-bit
      // hash sum mod 2^60): the cheap replication/re-derivation equality
      // check — the oracle IS a second engine reproducing the checksum
      // over the same logical content, which is the operator's contract
      graft.ops.Fingerprint.fingerprint(t(s, dir, "documents"),
          Seq("source"), Seq("doc_id", "text", "lang"))
        .orderBy("source")),

    "ext_data_card" -> ((s, dir) => {
      // the datasheet row per source: doc/char/token mass, language
      // spread, exact-dup surplus — all exact int64; planted %9 copies
      // make the dup column non-vacuous
      val docs = t(s, dir, "documents").select("doc_id", "source", "lang", "text")
      val corpus = docs.unionByName(docs.where(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("source"),
          col("lang"), col("text")))
      graft.ops.Profile.dataCard(corpus, "source", "text", "lang")
        .orderBy("source")
    }),

    "ext_contrastive_pairs" -> ((s, dir) =>
      // bi-encoder training triples mined from the LSH structure:
      // positives = verified near-dups (j >= 0.6), hard negatives = pairs
      // that COLLIDED in a band but failed verification (j < 0.5) — the
      // planted suffix-mutations in contrastiveCorpus guarantee both legs
      // exist; lowest-id picks pin the triple set on any engine
      Dedup.contrastivePairs(contrastiveCorpus(s, dir), "text", "doc_id",
          posThreshold = 0.6, negThreshold = 0.5)
        .orderBy("anchor_id")),

    "ext_leakage_split" -> ((s, dir) =>
      // group-closed train/valid/test split: near-dup cluster members
      // hash as ONE group so no eval doc has a training near-copy
      Sampling.leakageSafeSplit(nearDupCorpus(s, dir), "text", "doc_id",
          threshold = 0.6, trainPct = 80, validPct = 10, salt = "lk1")
        .select("doc_id", "split_group", "split")
        .orderBy("doc_id")),

    "ext_dedup_embedding_lsh" -> ((s, dir) => {
      // LSH-bucket blocking (the at-scale variant of label blocking)
      val e = t(s, dir, "embeddings")
        .withColumn("bucket", Similarity.lshBucket(col("embedding"), 64))
      Similarity.blockedNearDupPairs(e, "embedding", "vec_id", "bucket", threshold = 0.3)
        .orderBy("block", "a_id", "b_id")
    }),

    "ext_dedup_simhash" -> ((s, dir) => {
      val sim = Dedup.simhash(nearDupCorpus(s, dir), "text", "doc_id")
      val orig = sim.select(col("doc_id"), col("simhash").as("sim_a"))
        .where(col("doc_id") % 10 === 0).where(col("doc_id") < 1000000L)
      val dup = sim.where(col("doc_id") >= 1000000L)
        .select((col("doc_id") - 1000000L).as("doc_id"), col("simhash").as("sim_b"))
      orig.join(dup, "doc_id")
        .withColumn("hamming", Dedup.hamming(col("sim_a"), col("sim_b")))
        .orderBy("doc_id")
    }),

    "ext_lsh_scurve" -> ((s, dir) =>
      // the banding scheme's analytic S-curve at the repo's own 4x4
      // shape, exact integer lattice — tune (b, r) BEFORE a 100 TB
      // banding run; the oracle recomputes every power in HUGEINT
      Dedup.lshCollisionCurve(s).orderBy("s_ppm")),

    "ext_hamming_neighbors" -> ((s, dir) =>
      // EXACT Hamming r-neighbor search by multi-index pigeonhole banding
      // (Norouzi 2012): 60-bit simhashes split into 4 disjoint 15-bit
      // chunks; any pair within hamming 3 must collide on >= 1 chunk.
      // Zero false negatives by construction (unlike minhash LSH) and the
      // bit_count verification removes every false positive — the planted
      // " zz dup marker" copies land within the radius, random cross-pairs
      // (hamming ~30) never do.
      Dedup.hammingNeighbors(
          Dedup.simhash(nearDupCorpus(s, dir), "text", "doc_id"),
          "doc_id", "simhash", maxDist = 3)
        .orderBy("a_id", "b_id")),

    "ext_hamming_dedup_e2e" -> ((s, dir) => {
      // the full simhash dedup pipeline: 60-bit signatures → exact
      // block-banded Hamming pairs (r=3) → label-propagation clusters →
      // keep the lowest id per cluster. Output: every doc with its
      // cluster label and the keep decision — the composed exact-Hamming
      // analogue of keepCanonical's minhash path.
      val corpus = nearDupCorpus(s, dir)
      val sim = Dedup.simhash(corpus, "text", "doc_id")
      val pairs = Dedup.hammingNeighbors(sim, "doc_id", "simhash", maxDist = 3)
      val clusters = Dedup.duplicateClusters(pairs)
      corpus.join(clusters, corpus("doc_id") === clusters("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"),
          (col("cluster").isNull || col("cluster") === col("doc_id"))
            .as("keep"))
        .orderBy("doc_id")
    }),

    "ext_ngram_jaccard" -> ((s, dir) => {
      val c = nearDupCorpus(s, dir)
      val orig = c.where(col("doc_id") % 10 === 0 && col("doc_id") < 1000000L)
        .select(col("doc_id"), col("text").as("a_text"))
      val dup = c.where(col("doc_id") >= 1000000L)
        .select((col("doc_id") - 1000000L).as("doc_id"), col("text").as("b_text"))
      Dedup.charNgramJaccard(orig.join(dup, "doc_id"), "a_text", "b_text")
        .select("doc_id", "jaccard").orderBy("doc_id")
    }),

    "ext_knn_cosine" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 5), "embedding", "vec_id", 10)
        .orderBy("q_id", "rank")
    }),

    "ext_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.annTopK(e, e.where(col("vec_id") < 5), "embedding", "vec_id", 64, 5)
        .orderBy("q_id", "rank")
    }),

    "ext_ann_multiprobe" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.annTopKMultiProbe(e, e.where(col("vec_id") < 5), "embedding", "vec_id", 64, 5)
        .orderBy("q_id", "rank")
    }),

    "ext_ivf_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.where(col("vec_id") < 5), "embedding", "vec_id",
        k = 5, nCells = 16, nProbe = 4)
        .orderBy("q_id", "rank")
    }),

    "ext_ivf_indexed" -> ((s, dir) => {
      // same search served from the persistent cell-partitioned index —
      // "build once, probe many" means the build is a frozen shared
      // fixture (untimed setup) and this gate times the probe; lossless,
      // so it shares ext_ivf_ann's oracle
      val e = t(s, dir, "embeddings")
      VectorIndex.ivfTopKIndexed(Fixtures.ivfIndexStore(s, dir), "emb",
        e.where(col("vec_id") < 5),
        "embedding", "vec_id", k = 5, nProbe = 4)
        .orderBy("q_id", "rank")
    }),

    "ext_ivf_incremental" -> ((s, dir) => {
      // crawl-shaped index growth: index the even half, append the odd
      // half against the SAME frozen codebook (the full corpus's 16
      // lowest ids, as a production build would freeze a trained
      // codebook) — per-vector assignment is independent, so the grown
      // index must be indistinguishable from indexing everything at once
      val e = t(s, dir, "embeddings")
      val store = new graft.table.TableStore(s,
        java.nio.file.Files.createTempDirectory("graft_q_ivfi").toString)
      val codebook = e.orderBy(col("vec_id").asc).limit(16)
        .select(col("vec_id").as("cell_id"), col("embedding").as("cell_vec"))
      VectorIndex.buildIvfIndex(store, "emb",
        e.where(col("vec_id") % 2 === 0), "embedding", "vec_id",
        nCells = 16, numBuckets = 8, codebook = Some(codebook))
      VectorIndex.appendIvfIndex(store, "emb",
        e.where(col("vec_id") % 2 === 1), "embedding", "vec_id",
        numBuckets = 8)
      VectorIndex.ivfTopKIndexed(store, "emb", e.where(col("vec_id") < 5),
        "embedding", "vec_id", k = 5, nProbe = 4)
        .orderBy("q_id", "rank")
    }),

    "ext_ann_recall" -> ((s, dir) => {
      // the index-evaluation leg: recall@5 of the IVF probe (16 cells,
      // nProbe 4) against exact brute force over 50 queries — the metric
      // every ANN paper reports and the one that tunes nProbe/bands/code
      // size. Both result sets and the overlap join are (queries × k)-
      // sized; the oracle replays search AND evaluation.
      val e = t(s, dir, "embeddings")
      val qs = e.where(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(e, qs, "embedding", "vec_id", 5)
      val approx = Similarity.ivfTopK(e, qs, "embedding", "vec_id",
        k = 5, nCells = 16, nProbe = 4)
      Similarity.recallAtK(exact, approx).orderBy("q_id")
    }),

    "ext_pq_topk" -> ((s, dir) => {
      // product-quantization ADC search: corpus encoded to 8 codes
      // (8 subspaces x 16 centroids), queries rank candidates via
      // table-lookup sums against the reconstruction — the IVF-PQ scorer.
      // All arithmetic exact scaled int64, so codes AND scores hash-match
      // the DuckDB oracle.
      val e = t(s, dir, "embeddings")
      Similarity.pqTopK(e, e.where(col("vec_id") < 5), "embedding", "vec_id",
        k = 5, m = 8, ksub = 16, dim = 64)
        .orderBy("q_id", "rank")
    }),

    "ext_ivfpq_topk" -> ((s, dir) => {
      // the composed IVF-PQ index: coarse 16-cell IVF probe (4 cells per
      // query) bounds WHAT is scored; PQ/ADC (8 subspaces x 16 codes)
      // bounds what scoring COSTS. Candidates never leave the probed
      // cells; all arithmetic exact scaled int64, oracle-replayable.
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(e, e.where(col("vec_id") < 5), "embedding", "vec_id",
        k = 5, nCells = 16, nProbe = 4, m = 8, ksub = 16, dim = 64)
        .orderBy("q_id", "rank")
    }),

    "ext_srp_neardup" -> ((s, dir) => {
      // vector near-dup through BINARY codes: 60-bit signed-random-
      // projection signatures (Charikar 2002, full-rank md5-derived
      // planes) -> exact block-banded Hamming pairs at r=4. Planted
      // exact copies collide at 0; single-dim perturbations land within
      // a few sign flips. The oracle rebuilds signatures from the SAME
      // coefficient constants and brute-forces pairs (exactness makes
      // the banding invisible in the result).
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val corpus = e
        .unionByName(e.where(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        .unionByName(e.where(col("vec_id") % 10 === 5)
          .select((col("vec_id") + 2000000L).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding")))
      val sigs = corpus.select(col("vec_id"),
        Similarity.srpSignature(col("embedding")).as("srp"))
      Dedup.hammingNeighbors(sigs, "vec_id", "srp", maxDist = 4, blocks = 6)
        .orderBy("a_id", "b_id")
    }),

    "ext_lsh_buckets" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.lshBucket(col("embedding"), 64).as("bucket"))
        .orderBy("vec_id")),

    "ext_dedup_embedding" -> ((s, dir) =>
      Similarity.blockedNearDupPairs(
        t(s, dir, "embeddings").where(col("vec_id") < 300),
        "embedding", "vec_id", "label", threshold = 0.2)
        .orderBy("block", "a_id", "b_id")),

    "ext_semdedup" -> ((s, dir) =>
      // SemDeDup: cluster in embedding space (8 cells over the 500-vector
      // slice — deterministic lowest-id codebook so the oracle can replay
      // the assignment), then within each cluster drop every vector whose
      // cosine to a lower-id clustermate reaches 0.2. Output = per-vector
      // keep flag; exact int64 dot products end-to-end.
      Similarity.semDedup(
        t(s, dir, "embeddings").where(col("vec_id") < 500),
        "embedding", "vec_id", nCells = 8, threshold = 0.2)
        .orderBy("vec_id")),

    "ext_semdedup_incremental" -> ((s, dir) => {
      // steady-state semantic dedup: which batch vectors (ids 400-499)
      // near-duplicate the meaning of corpus vectors (ids < 400), compared
      // within shared cells of the corpus's 8-cell codebook only. The
      // corpus side plans with ZERO exchanges (literal-codebook per-row
      // assignment + two broadcast joins) — PlanSpec holds the receipt.
      val e = t(s, dir, "embeddings")
      Similarity.semDedupIncremental(
        e.where(col("vec_id") < 400),
        e.where(col("vec_id") >= 400 && col("vec_id") < 500),
        "embedding", "vec_id", nCells = 8, threshold = 0.2)
        .orderBy("batch_id", "corpus_id")
    }),

    "ext_embed_cov" -> ((s, dir) =>
      // exact pairwise covariance of the first 8 embedding dims — the
      // replayable tier of PCA whitening (order-free integer component
      // sums; the eigensolve tier is driver-side deterministic, PCASpec)
      Similarity.covarianceMatrix(t(s, dir, "embeddings"), "embedding", dim = 8)
        .orderBy("i", "j")),

    "ext_centroids" -> ((s, dir) =>
      // per-label embedding centroids, first 8 dims: per-dim decimal sums +
      // stack unpivot — no posexplode row blowup (see Similarity.centroids)
      Similarity.centroids(t(s, dir, "embeddings"), "embedding", "label", nDims = 8)
        .orderBy("label", "dim")),

    "ext_embed_drift" -> ((s, dir) => {
      // embedding-space drift between two snapshots (even/odd vec_ids):
      // per-label centroid cosine + L2 shift in exact integer arithmetic —
      // the re-embed/retrain alarm token-frequency JS can't see
      val e = t(s, dir, "embeddings")
      Drift.embeddingDrift(
        e.where(col("vec_id") % 2 === 0), e.where(col("vec_id") % 2 === 1),
        "embedding", "label", nDims = 64)
        .orderBy("label")
    }),

    "ext_kmeans_train" -> ((s, dir) =>
      // Lloyd's k-means, oracle-replayed END-TO-END: init = the 8 lowest
      // vec_ids, then 2 full iterations of decimal-cosine assignment
      // (scaled-int64 dot, lowest-cell-id tiebreak) + 1e7-quantized
      // integer mean update — the trained-codebook path under ivfTopK /
      // PQ / diversitySample, whose geometry every IVF gate so far took
      // on init-only codebooks. Output is the codebook itself,
      // 1e7-quantized per dim for engine-portable comparison.
      Similarity.kmeansCodebook(t(s, dir, "embeddings"), "embedding",
          "vec_id", nCells = 8, dim = 64, iterations = 2)
        .select(col("cell_id"), posexplode(col("cell_vec")).as(Seq("dim", "v")))
        .select(col("cell_id"), col("dim").cast("long").as("dim"),
          round(col("v").cast("double") * lit(1e7)).cast("long").as("q"))
        .orderBy("cell_id", "dim")),

    "ext_cluster_quality" -> ((s, dir) =>
      // is the trained IVF codebook fit to serve? Per cell: assigned
      // population + cohesion (sum/min of 1e7-quantized cosines) under
      // nearest-cosine assignment — dead cells, low-cohesion cells, and
      // dominant cells are what degrade IVF probe recall. Consumes the
      // FROZEN kmeans_book fixture (training is ext_kmeans_train's
      // operator, not this gate's); the oracle replays train + assign.
      Similarity.clusterQuality(t(s, dir, "embeddings"), "embedding",
          "vec_id", Fixtures.kmeansBook(s, dir))
        .orderBy("cell_id")),

    "ext_skew_audit" -> ((s, dir) =>
      // pre-shuffle join-key skew report: would hash-partitioning
      // lineitem on l_suppkey produce a straggler? (one row: population,
      // cardinality, heaviest key, its traffic share and ×-mean factor,
      // exact integer ppm)
      graft.ops.Profile.skewAudit(t(s, dir, "lineitem"), "l_suppkey")),

    "ext_quantiles_exact" -> ((s, dir) =>
      // exact global percentiles WITHOUT the buffering `percentile`
      // aggregate or a single-task sort: distinct-value counts → PrefixSum
      // CDF (range-sort + partition offsets) → one bounded rank-pick fold.
      // Exact discrete semantics: smallest value whose cumulative count
      // reaches ceil(p·n).
      graft.ops.Percentiles.exactGlobal(t(s, dir, "lineitem"),
        "l_extendedprice",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p99" -> 0.99))),

    "ext_quantiles_grouped" -> ((s, dir) =>
      // per-language document-length CDF picks — the corpus length report:
      // per-(group, value) counts then a group-PARTITIONED cumulative
      // window over distinct values (cost = value cardinality per group,
      // never the group's row count)
      graft.ops.Percentiles.exactGrouped(t(s, dir, "documents"),
        Seq("lang"), "n_chars",
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
        .orderBy("lang")),

    "ext_length_histogram" -> ((s, dir) =>
      // corpus profiling: document length histogram in 50-char buckets
      t(s, dir, "documents")
        .groupBy((floor(col("n_chars") / 50) * 50).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("bucket")),

    "ext_stratified_sample" -> ((s, dir) =>
      // reproducible stratified downsample: 30% of en, 60% of other langs,
      // by salted md5 of doc_id — pure filter, identical on every engine
      Sampling.stratifiedSample(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "doc_id", "lang", Map("en" -> 30), defaultRate = 60)
        .orderBy("doc_id")),

    "ext_split_assign" -> ((s, dir) =>
      // train/valid/test assignment by hash band (80/10/10), counted per
      // language — rows never migrate between splits as the corpus grows
      t(s, dir, "documents")
        .groupBy(col("lang"), Sampling.splitAssign(col("doc_id"), 80, 10).as("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")),

    "ext_epoch_permutation" -> ((s, dir) =>
      // shuffle-free epoch reorder: a 4-round Feistel bijection of the
      // 60-bit id space, keyed per epoch — a training reader addresses
      // batch k of epoch e as one narrow position-range filter (no global
      // sort, no exchange, no hash-collision tiebreaks); the oracle
      // replays every round's md5 bit-for-bit
      t(s, dir, "documents").select(col("doc_id"),
          Sampling.epochPosition(col("doc_id"), 0).as("pos_e0"),
          Sampling.epochPosition(col("doc_id"), 1).as("pos_e1"))
        .orderBy("doc_id")),

    "ext_epoch_batch" -> ((s, dir) =>
      // random access into one epoch's order WITHOUT any sort: a batch is
      // a position-range filter over the bijection (here the first 1/32
      // of the position space) — the training-reader contract the
      // permutation exists for
      t(s, dir, "documents").select(col("doc_id"),
          Sampling.epochPosition(col("doc_id"), 1).as("position"))
        .where(col("position") < (1L << 55))
        .orderBy("position")),

    "ext_shuffle_order" -> ((s, dir) =>
      // deterministic epoch shuffle: total order by salted hash + id —
      // a range-partitioned sort at scale; new salt = new permutation
      Sampling.shuffleOrder(
        t(s, dir, "documents").select("doc_id"), "doc_id", "epoch0")),

    "ext_pack_sequences" -> ((s, dir) =>
      // sequence packing: 4096-token training windows assigned by the
      // exclusive running token total in doc_id order (two-pass prefix sum;
      // no single-partition window)
      Sampling.packSequences(
        t(s, dir, "documents")
          .select(col("doc_id"),
            size(TextStats.wsTokens(col("text"))).cast("long").as("toks")),
        "doc_id", "toks", windowTokens = 4096)
        .orderBy("doc_id")),

    "ext_top_ngrams" -> ((s, dir) =>
      // corpus n-gram statistics: most frequent word bigrams (vocabulary /
      // boilerplate diagnostics). shingles() let-binds the token split, so
      // the explode feeds from one split per row; partial-agg count keeps
      // the shuffle at (bigram, partial n) — corpus-scale safe.
      t(s, dir, "documents")
        .select(explode(TextHash.shingles(col("text"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(20)),

    "ext_cms_join_size" -> ((s, dir) => {
      // plan-time join sizing: AMS inner product of two CMS sketches of
      // the join keys upper-bounds |orders ⋈ lineitem| with ONE narrow
      // pass per side — the exact count (second column) needs the join's
      // own key exchange. est >= exact always; at this w they're close.
      val a = Sketches.cmsSketch(
        t(s, dir, "orders").select(col("o_orderkey").cast("string").as("k")),
        col("k"), d = 4, w = 4096)
      val b = Sketches.cmsSketch(
        t(s, dir, "lineitem").select(col("l_orderkey").cast("string").as("k")),
        col("k"), d = 4, w = 4096)
      val exact = t(s, dir, "orders").select("o_orderkey")
        .join(t(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey")),
          "o_orderkey")
        .agg(count(lit(1)).as("exact_join_size"))
      Sketches.cmsJoinSize(a, b, d = 4, w = 4096)
        .crossJoin(broadcast(exact))
    }),

    "ext_cms_counts" -> ((s, dir) => {
      // two-tier heavy hitters: exact top-20 bigram counts (oracle tier —
      // shuffles the n-gram universe) scored against the universe-
      // independent count-min sketch (production tier: one narrow pass
      // into a fixed 4x4096 buffer, candidates estimated by broadcast
      // lookups). CMS never undercounts; at this w the top-20 are exact.
      val grams = t(s, dir, "documents")
        .select(explode(TextHash.shingles(col("text"), 2)).as("bigram"))
      val exact = grams.groupBy("bigram").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("bigram").asc).limit(20)
      val sketch = Sketches.cmsSketch(grams, col("bigram"), d = 4, w = 4096)
      Sketches.cmsEstimate(exact, col("bigram"), sketch, d = 4, w = 4096)
        .orderBy(col("exact_n").desc, col("bigram").asc)
    }),

    "ext_frame_sample" -> ((s, dir) =>
      // video frame-sampling plan: one media row explodes to per-frame
      // rows (stride-32 byte offsets over the stub payload — the real op
      // swaps decoded-frame timestamps in for byte offsets, same
      // explode-without-shuffle plumbing, same schema)
      Multimodal.sampleFrames(
        Multimodal.attachBinary(
          t(s, dir, "documents").select("doc_id", "text"), "doc_id", "text"),
        stride = 32)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("byte_offset").cast("long").as("byte_offset"))
        .orderBy("doc_id", "frame_idx")),

    "ext_phash_neardup" -> ((s, dir) => {
      // perceptual-hash near-dup over BINARY payloads: graft_avg_hash
      // (60-bit average-hash kernel, one codegen scan per blob) feeds the
      // exact block-banded Hamming search — the media near-dup pipeline
      // with the codec decode env-stubbed out. Planted exact copies (%7)
      // collide at hamming 0. The oracle replays the hash relationally
      // from hex(blob) bytes and brute-forces pairs (exactness makes the
      // banding invisible in the result — same pairs by construction).
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.unionByName(
        docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val hashed = corpus.select(col("doc_id"),
        Multimodal.avgHash(encode(col("text"), "UTF-8")).as("phash"))
      Dedup.hammingNeighbors(hashed, "doc_id", "phash", maxDist = 3,
          blocks = 6)
        .orderBy("a_id", "b_id")
    }),

    "ext_cdc_dedup" -> ((s, dir) => {
      // content-defined chunking dedup accounting over binary payloads
      // (text bytes + byte-shifted duplicates — CDC boundaries resync
      // after the shift, so the copies share almost all chunk bytes; a
      // fixed-size chunker would share none). The oracle replays the
      // stateful gear-hash byte scan as a recursive CTE (HUGEINT mod-2^64
      // emulating Java's wrapping int64 shift/multiply) — a REAL value
      // oracle; CdcSpec adds naive-reference fuzz, tiling invariants,
      // shift resistance.
      val blobs = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("bin"))
      val shifted = t(s, dir, "documents")
        .where(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          encode(concat(lit("xy "), col("text")), "UTF-8").as("bin"))
      Multimodal.cdcDedupStats(blobs.unionByName(shifted), "bin",
        minSize = 32, avgBits = 6, maxSize = 512)
    }),

    "ext_pagerank" -> ((s, dir) => {
      // integer fixed-point PageRank (domain-authority signal) over the
      // supplier→customer graph: every arithmetic step is int64 `div`,
      // so three iterations replay bit-for-bit as unrolled SQL. Suppliers
      // (offset node ids) only emit; customers accumulate in-degree mass
      // and return it through the dangling redistribution.
      val e = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") + 10000000000L).as("src"), col("o_custkey").as("dst"))
      graft.ops.Graph.pageRank(e, "src", "dst", iterations = 3)
        .orderBy("node")
    }),

    "ext_components" -> ((s, dir) => {
      // connected components over the supplier→customer graph, restricted
      // to congruent id classes (mod 10) so the graph genuinely splits into
      // multiple components; the oracle replays min-label reachability as
      // a recursive CTE
      val e = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .where(col("l_suppkey") % 10 === col("o_custkey") % 10)
        .select((col("l_suppkey") + 10000000000L).as("src"),
          col("o_custkey").as("dst"))
      graft.ops.Graph.connectedComponents(e, "src", "dst")
        .orderBy("node")
    }),

    "ext_mixture_epochs" -> ((s, dir) => {
      // Llama-class mixture plan + realization: integer-exact per-source
      // target/epochs/frac_ppm from weight parts (short source names get
      // 1 part, long get 3 — a stand-in for curated-domain upweighting),
      // then each doc repeats per full epoch + a deterministic ppm-hash
      // fractional pass. Output: realized (source, epoch) row counts.
      val docs = t(s, dir, "documents").select("doc_id", "source", "n_chars")
      val weights = docs.select("source").distinct()
        .select(col("source"),
          when(length(col("source")) === 4, 1L).otherwise(3L).as("parts"))
      val plan = Sampling.mixturePlan(docs, "source", "n_chars", weights,
        budget = 2000000L)
      Sampling.mixtureRealize(docs, "source", "doc_id", plan)
        .groupBy("source", "epoch").agg(count(lit(1)).as("n"))
        .orderBy("source", "epoch")
    }),

    "ext_nb_confusion" -> ((s, dir) => {
      // hashed-feature multinomial Naive Bayes (fastText-class domain
      // classifier): train per-source log-probs on the doc_id%3 labeled
      // slice (dense smoothed C×B model, quantized at training), classify
      // every document by integer argmax, cross-tabulate vs true source.
      // Prediction is exact-replayable: integers all the way after the
      // table build.
      NaiveBayes.confusion(
        t(s, dir, "documents").select("doc_id", "text", "source"),
        t(s, dir, "documents").where(col("doc_id") % 3 === 0)
          .select("doc_id", "text", "source"),
        "text", "source", "doc_id", buckets = 1000, alpha = 1.0)
        .orderBy("actual", "predicted")
    }),

    "ext_lr_train" -> ((s, dir) => {
      // FineWeb-Edu-class LR quality filter: hard-sigmoid fixed-point
      // full-batch GD (3 iterations) on the doc_id%2 labeled slice
      // (y = lang='en'), hashed unigram+bigram counts + bias. Every
      // weight is an exact integer recurrence; the oracle replays all
      // three iterations as unrolled hugeint CTEs.
      graft.ext.LogReg.train(
        t(s, dir, "documents").where(col("doc_id") % 2 === 0),
        "text", "doc_id", (col("lang") === "en").cast("long"),
        buckets = 1000, iterations = 3)
        .orderBy("b")
    }),

    "ext_lr_quality" -> ((s, dir) => {
      // the shared trained model (Fixtures.lrWeights — oracle replays the
      // full training), then ONE corpus pass scores every document:
      // integer margin zq, hard-sigmoid p4, decision pred
      val docs = t(s, dir, "documents")
      graft.ext.LogReg.score(docs, Fixtures.lrWeights(s, dir),
          "text", "doc_id", buckets = 1000)
        .orderBy("doc_id")
    }),

    "ext_curation_e2e" -> ((s, dir) => {
      // the batch curation pipeline as ONE composition gate: score every
      // doc under the trained LR quality classifier → keep docs at or
      // above the CORPUS-MEAN margin → exact-dedup survivors (lowest id
      // canonical) → per-language quota. Every stage is an already-gated
      // operator; this re-verifies the composition end-to-end against a
      // single oracle replaying the whole chain.
      //
      // The screen is relative (zq >= mean), not the absolute decision
      // zq >= 0: the saturating hard-sigmoid full-batch GD swings the
      // WHOLE corpus across z = 0 between iterations (all-negative at
      // T=3, 499/500 positive at T=6), so an absolute threshold makes
      // the gate vacuously empty or vacuously full — the round-7 gate
      // passed with 0 rows on both sides and never exercised the dedup
      // or quota stages. The mean is the FineWeb-style "keep the top
      // share by classifier score" posture, exact integer arithmetic
      // (sum div n, truncating — Spark div == DuckDB // on hugeint), one
      // broadcast one-row side, and non-vacuous by construction
      // (max >= mean for any nonempty corpus).
      val docs = t(s, dir, "documents")
      val scored = graft.ext.LogReg.score(docs, Fixtures.lrWeights(s, dir),
        "text", "doc_id", buckets = 1000)
      val thr = scored.agg(
        expr("sum(cast(zq as decimal(38,0))) div count(1)").as("__thr"))
      val kept = scored.crossJoin(broadcast(thr))
        .where(col("zq") >= col("__thr")).select("doc_id")
      val keptDocs = docs.join(kept, "doc_id")
      val canonical = keptDocs.join(
        Dedup.exact(keptDocs, "text", "doc_id")
          .select(col("keep_id").as("doc_id")), "doc_id")
      Sampling.quotaCap(canonical, "lang", "doc_id", k = 30, salt = "cur1")
        .orderBy("lang", "rank")
    }),

    "ext_lr_auc" -> ((s, dir) => {
      // exact tie-aware ROC-AUC of the trained classifier over the whole
      // corpus (integer Mann-Whitney on the distinct-margin table) —
      // the one-number quality-filter evaluation
      val docs = t(s, dir, "documents")
      val scored = graft.ext.LogReg
        .score(docs, Fixtures.lrWeights(s, dir), "text", "doc_id",
          buckets = 1000)
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").cast("long").as("y")), "doc_id")
      graft.ext.Eval.rocAuc(scored, "zq", col("y"))
    }),

    "ext_lr_auc_sliced" -> ((s, dir) => {
      // per-source classifier quality: where is the filter weak? Same
      // integer Mann-Whitney, keyed window — no global window exists
      val docs = t(s, dir, "documents")
      val scored = graft.ext.LogReg
        .score(docs, Fixtures.lrWeights(s, dir), "text", "doc_id",
          buckets = 1000)
        .join(docs.select(col("doc_id"), col("source"),
          (col("lang") === "en").cast("long").as("y")), "doc_id")
      graft.ext.Eval.rocAucByGroup(scored, "source", "zq", col("y"))
        .orderBy("source")
    }),

    "ext_lr_pr_curve" -> ((s, dir) => {
      // exact PR curve of the trained classifier: one operating point
      // per distinct margin, integer tp/fp/fn and truncating-ppm
      // precision/recall — the full threshold-sweep artifact
      val docs = t(s, dir, "documents")
      val scored = graft.ext.LogReg
        .score(docs, Fixtures.lrWeights(s, dir), "text", "doc_id",
          buckets = 1000)
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").cast("long").as("y")), "doc_id")
      graft.ext.Eval.prCurve(scored, "zq", col("y"))
        .orderBy(col("s").desc)
    }),

    "ext_lr_calibration" -> ((s, dir) => {
      // classifier calibration report: positive rate per clamped integer
      // margin bucket — the evaluation artifact that picks a filter
      // threshold. Bucket = zq div 2e9 (trunc toward zero, identical in
      // both engines), clamped to [-5, 5].
      val docs = t(s, dir, "documents")
      graft.ext.LogReg.score(docs, Fixtures.lrWeights(s, dir),
          "text", "doc_id", buckets = 1000)
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").cast("long").as("y")), "doc_id")
        .select(greatest(lit(-5L),
          least(lit(5L), expr("zq div 2000000000"))).as("bin"), col("y"))
        .groupBy("bin").agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
        .orderBy("bin")
    }),

    "ext_lr_ece" -> ((s, dir) => {
      // one-number calibration summary: exact expected calibration error
      // over the clamped integer-margin bins of the calibration report —
      // predicted positive mass (Σ p4) vs actual (n_pos·4e9) per bin,
      // folded to a single truncating-ppm gap. Completes the evaluation
      // family: AUC (ranking), PR curve (operating points), calibration
      // report (per-bin), ECE (the summary the threshold-picker reads).
      val docs = t(s, dir, "documents")
      val scored = graft.ext.LogReg.score(docs, Fixtures.lrWeights(s, dir),
          "text", "doc_id", buckets = 1000)
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").cast("long").as("y")), "doc_id")
      graft.ext.Eval.calibrationError(scored,
        greatest(lit(-5L), least(lit(5L), expr("zq div 2000000000"))),
        col("p4"), col("y"))
    }),

    "ext_kmv_overlap" -> ((s, dir) => {
      // cross-slice distinct overlap ("how many documents do two crawls
      // share") from two bottom-k theta sketches: each slice folds into
      // 64 longs (graft_kmv, partial-agg mergeable), then distinct /
      // intersection / union / Jaccard estimates are pure expression
      // arithmetic over the two one-row sketches — no distinct-key
      // shuffle of the document universe on either side
      val docs = t(s, dir, "documents")
      val k = 64
      val a = Sketches.kmvSketch(
        docs.where(col("doc_id") % 2 === 0), col("text"), k)
        .select(col("kmv").as("a"))
      val b = Sketches.kmvSketch(
        docs.where(col("doc_id") % 3 === 0), col("text"), k)
        .select(col("kmv").as("b"))
      a.crossJoin(b)
        .select(
          Sketches.kmvDistinct(col("a"), k).as("est_a"),
          Sketches.kmvDistinct(col("b"), k).as("est_b"),
          Sketches.kmvOverlap(col("a"), col("b"), k).as("o"))
        .select(col("est_a"), col("est_b"),
          col("o.est_inter").as("est_inter"),
          col("o.est_union").as("est_union"),
          col("o.jaccard").as("jaccard"))
    }),

    "ext_contamination_semantic" -> ((s, dir) => {
      // EMBEDDING-space decontamination: training vectors within cosine
      // 0.95 of any eval item (1e7-quantized), with the nearest eval id
      // as audit trail — catches the paraphrase/translation leakage the
      // exact and 8-gram screens can't. Same planted-leak discipline as
      // ext_contamination: the corpus is every embedding re-id'd +1M, so
      // each eval item's verbatim copy must surface at cos_q = 1e7.
      val e = t(s, dir, "embeddings")
      Similarity.semanticContamination(
        e.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
        e.where(col("vec_id") % 17 === 0),
        "embedding", "vec_id", minCosQ = 9500000L)
        .orderBy("vec_id")
    }),

    "ext_contamination" -> ((s, dir) => {
      // benchmark contamination: training-corpus docs whose whitespace-
      // normalized text exactly matches an eval-set document. Fingerprint
      // both sides (md5 of normalized text), broadcast the (small) eval
      // fingerprint set, left-semi join — the corpus never shuffles.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val norm = md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp")
      val corpus = docs.select((col("doc_id") + 2000000L).as("doc_id"), norm)
      val benchmark = docs.where(col("doc_id") % 7 === 0).select(norm).distinct()
      corpus.join(broadcast(benchmark), Seq("fp"), "left_semi")
        .select("doc_id").orderBy("doc_id")
    }),

    "ext_token_stats" -> ((s, dir) =>
      TextStats.tokenCounts(t(s, dir, "documents"), "text")
        .drop("text").orderBy("doc_id")),

    "ext_quality_score" -> ((s, dir) =>
      TextStats.qualityScore(t(s, dir, "documents"), "text")
        .drop("text").orderBy("doc_id")),

    "ext_lang_id" -> ((s, dir) =>
      TextStats.langId(t(s, dir, "documents"), "text")
        .drop("text").orderBy("doc_id")),

    "ext_langid_trained" -> ((s, dir) =>
      // TRAINED language ID (CCNet/fastText class): char-trigram hashed
      // NB trained on the doc_id%3 labeled slice, every document
      // classified by integer argmax — the default router replacing the
      // marker heuristic. The oracle replays train→score→argmax (the
      // ext_nb_confusion discipline at character granularity).
      LangId.classify(
        t(s, dir, "documents").select("doc_id", "text"),
        t(s, dir, "documents").where(col("doc_id") % 3 === 0)
          .select("text", "lang"),
        "text", "doc_id", "lang")
        .orderBy("doc_id")),

    "ext_langid_confusion" -> ((s, dir) => {
      // router upgrade evidence on a SEPARABLE fixture: the synthetic
      // corpus shares ONE vocabulary across lang labels (no text signal
      // exists — majority-class is Bayes-optimal on it, see
      // ext_langid_trained), so this gate decorates each document with a
      // language-characteristic phrase (the ext_redact injection
      // precedent) and cross-tabulates trained char-gram prediction vs
      // the marker heuristic against the TRUE label. The heuristic
      // drowns in the shared-vocab 'the'/'a' markers and has no zh
      // markers at all; the trained router learns the decorations'
      // orthography from the labeled slice and sweeps the diagonal.
      // one frozen scoring pass (Fixtures.langidDecorScored) feeds this
      // gate, the routed quota, and Cohen's kappa — the Fleiss shared-
      // pass discipline applied across gates; oracles replay per gate
      Fixtures.langidDecorScored(s, dir)
        .groupBy("lang", "trained", "heuristic")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "trained", "heuristic")
    }),

    "ext_langid_routed_quota" -> ((s, dir) => {
      // the router WIRED: trained char-gram langid predictions (not the
      // label column) drive the per-language quota — the langid stage
      // ahead of per-language corpus balancing, composed end-to-end on
      // the decorated separable fixture. Every stage is an already-gated
      // operator (LangId.classify + Sampling.quotaCap); one oracle
      // replays the chain.
      val routed = Fixtures.langidDecorScored(s, dir)
        .select(col("doc_id"), col("trained").as("lang_pred"))
      Sampling.quotaCap(routed, "lang_pred", "doc_id", k = 25, salt = "lr8")
        .orderBy("lang_pred", "rank")
    }),

    "ext_langid_margin" -> ((s, dir) => {
      // the router's ABSTAIN branch (fastText -th posture): a corpus
      // where only even doc_ids carry the language decorations, scored
      // under the SAME frozen decor-trained model — decorated docs clear
      // the top-1/top-2 margin and route; undecorated docs (no signal:
      // the synthetic corpus shares one vocabulary) fall to 'und'
      // instead of being silently mis-routed. Threshold in the model's
      // own quantized-ln units; the oracle replays train -> score ->
      // top-2 margin -> threshold end-to-end.
      // classifyMargin's exact projection over the frozen shared pass
      // (LangId.classifyMargin is itself this select over classifyTopMargin)
      Fixtures.langidHalfScored(s, dir)
        .select(col("doc_id"),
          when(col("margin_lpq").isNull ||
              col("margin_lpq") >= LangidMarginThr, col("lang_top"))
            .otherwise(lit("und")).as("lang"),
          coalesce(col("margin_lpq"), lit(0L)).as("margin_lpq"))
        .orderBy("doc_id")
    }),

    "ext_label_kappa" -> ((s, dir) => {
      // chance-corrected label agreement (Cohen's kappa), exact-integer:
      // trained router vs truth and marker heuristic vs truth on the
      // decorated separable fixture — the annotator-QA statistic where
      // raw accuracy is inflated by class imbalance. One row per rater
      // with the full exact numerator/denominator decomposition.
      val scored = Fixtures.langidDecorScored(s, dir)
      def kap(predCol: String, tag: String) =
        Eval.cohenKappa(scored.select(col("doc_id"), col("lang"),
            col(predCol).as("pred")), "lang", "pred")
          .select(lit(tag).as("rater"), col("n"), col("n_agree"),
            col("pe_num"), col("kappa_num"), col("kappa_den"),
            col("kappa_ppm"))
      kap("trained", "trained")
        .unionByName(kap("heuristic", "heuristic"))
        .orderBy("rater")
    }),

    "ext_shard_assign" -> ((s, dir) =>
      // rendezvous-hash shard map + reshard-impact report: 8 -> 9 shards
      // must move ~1/9 of documents (modulo sharding would move ~8/9) —
      // the stable-resharding property IS the operator; per-row O(S)
      // portable md5 hashes in one projection, no shuffle
      graft.ops.Sharding.reshardReport(
          t(s, dir, "documents").select("doc_id"), "doc_id",
          nShards = 8, delta = 1)
        .orderBy("doc_id")),

    "ext_fleiss_kappa" -> ((s, dir) => {
      // multi-rater agreement (Fleiss 1971) over THREE real raters labeling
      // the half-decorated corpus under one frozen model: the trained NB
      // router, the abstain-margin router (und on low evidence), and the
      // marker heuristic — the ensemble-labeling QA statistic Cohen's
      // pairwise kappa cannot express. Exact decimal(38,0) decomposition,
      // sign-safe ppm; the oracle replays all three raters AND the fold.
      // one frozen scoring pass (Fixtures.langidHalfScored, shared with
      // the abstain-margin gate) feeds all THREE raters: the argmax, the
      // margin routing, and the heuristic are projections of the same
      // (lang_top, margin_lpq, heuristic) row
      Eval.fleissKappa(
        Fixtures.langidHalfScored(s, dir)
          .select(col("doc_id"), col("lang_top").as("r_trained"),
            when(col("margin_lpq").isNull ||
                col("margin_lpq") >= LangidMarginThr, col("lang_top"))
              .otherwise(lit("und")).as("r_margin"),
            col("heuristic").as("r_heuristic")),
        "doc_id", Seq("r_trained", "r_margin", "r_heuristic"))
    }),

    "ext_k_anon" -> ((s, dir) => {
      // k-anonymity / l-diversity release audit: QI = (lang, source),
      // sensitive = 500-char length band — per QI group, exact row and
      // distinct-sensitive counts with the k>=5 / l>=3 verdicts (the
      // homogeneity check k alone misses)
      val d = t(s, dir, "documents")
        .select(col("lang"), col("source"),
          expr("n_chars div 500").as("band"))
      Pii.kAnonymity(d, Seq("lang", "source"), "band", k = 5L, l = 3L)
        .orderBy("lang", "source")
    }),

    "ext_fingerprint" -> ((s, dir) =>
      TextStats.fingerprint(t(s, dir, "documents"), "text")
        .drop("text").orderBy("doc_id")),

    "ext_curation" -> ((s, dir) =>
      // end-to-end corpus curation: every quality signal in ONE narrow scan
      // (quality composite, repetition, token-count band) — the filter a
      // training pipeline actually ships; all component signals are
      // independently oracle-verified above
      TextStats.repetitionScore(
        TextStats.qualityScore(t(s, dir, "documents"), "text"), "text")
        .where(col("quality") >= 0.45 && col("repetition") <= 0.05 &&
          col("n_tokens") >= 20 && col("n_tokens") <= 1000)
        .select("doc_id", "quality", "repetition", "n_tokens")
        .orderBy("doc_id")),

    "ext_quality_gopher" -> ((s, dir) =>
      // Gopher-style structural rule bundle: every raw signal + per-rule
      // booleans + the conjunction, all in one narrow codegen'd scan
      TextStats.gopherRules(t(s, dir, "documents"), "text")
        .drop("text").orderBy("doc_id")),

    "ext_dup_spans" -> ((s, dir) => {
      // within-corpus exact-substring dedup signal (Lee et al. 2022):
      // every token position whose 8-gram occurs in >= 2 distinct docs.
      // Corpus = documents plus a re-id'd copy of every 7th doc, so each
      // copied doc's whole span range must flag in both copies (plus any
      // naturally shared 8-grams — the oracle replays those identically).
      val docs = t(s, dir, "documents").select("doc_id", "text")
      Dedup.duplicatedSpans(
        docs.unionByName(docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))),
        "text", "doc_id", n = 8, minDocs = 2)
        .orderBy("doc_id", "pos")
    }),

    "ext_cut_spans" -> ((s, dir) => {
      // the span-cut policy over the same duplicated corpus: every %7
      // copy collapses to empty text (its whole content is canonical in
      // the lower-id original); originals keep their text except where a
      // naturally shared 8-gram's canonical occurrence lives elsewhere.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      Dedup.cutDuplicatedSpans(
        docs.unionByName(docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))),
        "text", "doc_id", n = 8, minDocs = 2)
        .orderBy("doc_id")
    }),

    "ext_dup_intervals" -> ((s, dir) => {
      // maximal merged duplicated regions per doc (the Lee et al. report
      // artifact): every %7 copy must collapse to one interval covering
      // its whole span range; organically shared 8-grams merge per the
      // same gaps-and-islands rule the oracle replays.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      Dedup.duplicatedSpanIntervals(
        docs.unionByName(docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))),
        "text", "doc_id", n = 8, minDocs = 2)
        .orderBy("doc_id", "start_pos")
    }),

    "ext_contamination_ngram" -> ((s, dir) => {
      // n-gram-level decontamination: flag corpus docs sharing >= 3
      // distinct 8-grams with the benchmark slice. The benchmark's hashed
      // gram set broadcasts; the corpus scans once and only matched
      // per-doc hit counts shuffle.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      Dedup.contaminatedByNgram(
        docs.select((col("doc_id") + 2000000L).as("doc_id"), col("text")),
        docs.where(col("doc_id") % 7 === 0),
        "text", "doc_id", n = 8, minHits = 3)
        .orderBy("doc_id")
    }),

    "ext_bpe_tokens" -> ((s, dir) =>
      // exact BPE tokenization (leftmost-lowest-rank merge loop) against
      // the shared merges table; the oracle replays every merge step via
      // a recursive CTE and hash-compares the full tokenization
      Bpe.tokenize(t(s, dir, "documents").select("doc_id", "text"),
        "text", "doc_id", BpeMerges)
        .orderBy("doc_id")),

    "ext_tokenizer_fertility" -> ((s, dir) => {
      // tokenizer economics per language: token/char/byte mass plus exact
      // integer chars-per-kilotoken and bytes-per-kilotoken — the report
      // that decides whether a tokenizer is fit for a language BEFORE a
      // training run pays for it (high fertility = context window wasted
      // on fragment tokens; the CCNet/NLLB-era per-language audit). Same
      // LEFT-join discipline as ext_token_mixture: a doc yielding zero
      // BPE tokens still contributes its chars and bytes.
      val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
      docs.join(
          Bpe.tokenize(docs, "text", "doc_id", BpeMerges)
            .select("doc_id", "n_bpe_tokens"), Seq("doc_id"), "left")
        .withColumn("n_bpe_tokens", coalesce(col("n_bpe_tokens"), lit(0L)))
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_bpe_tokens")).as("n_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          sum(octet_length(col("text")).cast("long")).as("n_bytes"))
        .withColumn("chars_per_ktok",
          when(col("n_tokens") === 0, lit(null).cast("long"))
            .otherwise(expr("n_chars * 1000 div n_tokens")))
        .withColumn("bytes_per_ktok",
          when(col("n_tokens") === 0, lit(null).cast("long"))
            .otherwise(expr("n_bytes * 1000 div n_tokens")))
        .orderBy("lang")
    }),

    "ext_token_mixture" -> ((s, dir) => {
      // token-budgeted mixture: epochs per source planned on EXACT BPE
      // token mass (not proxy chars) — tokenize, plan with integer
      // arithmetic, realize deterministically; three gated operators
      // re-verified as one composition against a single oracle
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      // LEFT join + coalesce(0): a doc yielding zero BPE-token rows must
      // still plan and realize (with zero token mass) — the DuckDB oracle
      // LEFT JOINs, and an inner join here would silently drop empty or
      // whitespace-only texts from the mixture
      val withTok = docs.join(
        Bpe.tokenize(docs, "text", "doc_id", BpeMerges)
          .select("doc_id", "n_bpe_tokens"), Seq("doc_id"), "left")
        .withColumn("n_bpe_tokens", coalesce(col("n_bpe_tokens"), lit(0L)))
      val weights = docs.select("source").distinct()
        .select(col("source"),
          when(length(col("source")) === 4, 1L).otherwise(3L).as("parts"))
      val plan = Sampling.mixturePlan(withTok, "source", "n_bpe_tokens",
        weights, budget = 500000L)
      Sampling.mixtureRealize(withTok, "source", "doc_id", plan)
        .groupBy("source", "epoch").agg(count(lit(1)).as("n"))
        .orderBy("source", "epoch")
    }),

    "ext_bpe_train" -> ((s, dir) => {
      // BPE TRAINING (Sennrich et al. 2016): learn 8 merges from the
      // corpus — count-weighted pair frequencies over the word vocabulary,
      // argmax with the pinned (count desc, pair asc) tie-break, batch
      // left-to-right application per round. The oracle unrolls the same
      // count→argmax→replace loop as 8 chained DuckDB CTE iterations.
      import s.implicits._
      Bpe.trainMerges(t(s, dir, "documents").select("text"), "text",
          numMerges = 8)
        .zipWithIndex
        .map { case ((l, r), i) => (i.toLong, l, r) }
        .toDF("merge_rank", "lhs", "rhs")
        .orderBy("merge_rank")
    }),

    "ext_tfidf_topk" -> ((s, dir) =>
      // top-5 TF-IDF terms per document through the bounded graft_topk
      // aggregate (hash tie-break — portable across engines, unlike string
      // collation). Oracle-determinism: BOTH engines quantize the score to
      // decimal(18,9) BEFORE ranking, so Spark's StrictMath.log vs
      // DuckDB's libm ln last-ulp drift (2e-16 relative) can neither
      // reorder ranks nor change the displayed value — it is absorbed by
      // the 1e-9 quantum; residual quantized ties break on the term's
      // 60-bit hash, identical in both engines.
      TextStats.tfidfTopK(t(s, dir, "documents"), "text", "doc_id", k = 5)
        .orderBy("doc_id", "rank")),

    "ext_repetition" -> ((s, dir) =>
      // repeated-phrase quality signal: inflate every 5th doc with its own
      // first 8 words repeated, then score — repetition must move toward 1
      TextStats.repetitionScore(
        t(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" "),
              array_join(slice(split(col("text"), " "), 1, 8), " "),
              lit(" "),
              array_join(slice(split(col("text"), " "), 1, 8), " ")))
            .otherwise(col("text")).as("text")),
        "text")
        .drop("text").orderBy("doc_id")),

    "ext_redact" -> ((s, dir) =>
      // PII redaction over synthetic injections (the corpus itself has no
      // emails): plant an email + long digit run in every 3rd doc
      TextStats.redact(
        t(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(lit("contact user"), col("doc_id").cast("string"),
              lit("@example.com id 1234567890 "), col("text")))
            .otherwise(col("text")).as("text")),
        "text")
        .select(col("doc_id"), md5(col("redacted")).as("redacted_md5"),
          (length(col("text")) - length(col("redacted"))).as("delta_len"))
        .orderBy("doc_id")),

    "ext_quality_checks" -> ((s, dir) => {
      // dataset-level constraint suite (Deequ-class data unit tests) in
      // ONE aggregation pass over orders: completeness, two key checks
      // (o_orderkey unique passes, o_custkey unique FAILS), bounds,
      // domain membership at two thresholds (one failing), row-count
      // window. Verdicts are exact integer ppm arithmetic.
      import graft.ops.Checks
      Checks.run(t(s, dir, "orders"), Seq(
        Checks.Complete("o_custkey"),
        Checks.Unique(Seq("o_orderkey")),
        Checks.Unique(Seq("o_custkey")),
        Checks.Bounds("o_orderkey", Some(1L), None),
        Checks.InSet("o_orderstatus", Seq("O", "F"), minPpm = 900000L),
        Checks.InSet("o_orderstatus", Seq("O", "F", "P")),
        Checks.RowCount(1L, 10000000L)))
    }),

    "ext_drift_numeric" -> ((s, dir) => {
      // numeric feature-drift monitor: order-price mix of one customer
      // half vs the other, with a +50k shift planted on a quarter of the
      // batch side — the drift registers through fixed-width bins (incl.
      // overflow mass), same quantized JS arithmetic as the token monitor
      val o = t(s, dir, "orders")
      val ref = o.where(col("o_custkey") % 2 === 0)
        .select(col("o_totalprice").as("v"))
      val bat = o.where(col("o_custkey") % 2 === 1)
        .select(when(col("o_orderkey") % 4 === 0,
          col("o_totalprice") + lit(50000.0))
          .otherwise(col("o_totalprice")).as("v"))
      Drift.jsDivergenceNumeric(ref, bat, "v", lo = 0.0, hi = 600000.0,
        bins = 64)
    }),

    "ext_pii" -> ((s, dir) => {
      // structured PII governance over synthetic injections (the corpus
      // has none; all planted values are reserved test/fiction ranges):
      // Luhn-valid + checksum-failing cards, in-range + out-of-range
      // IPs, an intl phone, a case-variant email. Valid matches become
      // deterministic salted tokens, invalid shapes must survive
      // verbatim; output = pseudonymized md5 + the signals report.
      val injected = t(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0,
            concat(lit("contact User"), col("doc_id").cast("string"),
              lit("@Example.com pay 4111 1111 1111 1111 not "),
              lit("4111-1111-1111-1112 "))).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            lit("from 203.0.113.7 bad 999.1.2.3 ")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit("call +14155550123 ")).otherwise(lit("")),
          col("text")).as("text"))
      graft.ext.Pii.signals(
          graft.ext.Pii.pseudonymize(injected, "text", salt = "g7"), "text")
        .select(col("doc_id"), md5(col("pii_text")).as("pii_md5"),
          col("n_email"), col("n_phone"), col("n_ip"), col("n_card"))
        .orderBy("doc_id")
    }),

    "ext_normalize" -> ((s, dir) =>
      // normalization chain incl. the native NFC kernel: every 4th doc is
      // prefixed with DECOMPOSED accents (e+U+0301, I+U+0308), uppercase,
      // and doubled spaces — NFC must compose, lower must fold, whitespace
      // must collapse, identically to DuckDB's utf8proc nfc_normalize
      TextStats.normalizeText(
        t(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(lit("Cafe\u0301  NAI\u0308VE  "), col("text")))
            .otherwise(col("text")).as("text")),
        "text")
        .select(col("doc_id"), md5(col("norm_text")).as("norm_md5"),
          length(col("norm_text")).as("n_chars_norm"))
        .orderBy("doc_id")),

    "ext_incremental_dedup" -> ((s, dir) => {
      // steady-state crawl dedup: corpus = existing docs, batch = a new
      // crawl containing fresh content (suffixed) AND re-crawls of existing
      // docs; only the fresh content must survive. The corpus is scanned
      // once and NEVER shuffled (broadcast-probe semi + tiny anti-join).
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.where(col("doc_id") % 10 =!= 0)
      val batch = docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" fresh")).as("text"))
        .unionByName(docs.where(col("doc_id") % 20 === 1)
          .select((col("doc_id") + 4000000L).as("doc_id"), col("text")))
      Dedup.incrementalNew(corpus, batch, "text", "doc_id").orderBy("keep_id")
    }),

    "ext_incremental_neardup" -> ((s, dir) => {
      // crawl-loop near-dup screen: batch docs whose content NEAR-matches
      // existing corpus docs (slightly-edited re-crawls the exact
      // fingerprint check misses). Corpus bands are semi-probed by the
      // batch's broadcast band keys — the corpus never shuffles.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      Dedup.incrementalNearDupPairs(docs, nearDupBatch(docs), "text",
          "doc_id", threshold = 0.5)
        .orderBy("batch_id", "corpus_id")
    }),

    "ext_neardup_indexed" -> ((s, dir) => {
      // the same screen served from the persistent LSH index: corpus
      // bands + shingles stored once (bucketed on band key), the batch
      // probe bucket-prunes to its own keys — the corpus text is never
      // re-hashed. The build is a frozen shared fixture (untimed setup);
      // this gate times the probe. Lossless, so it shares the scan
      // path's oracle.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      NearDupIndex.nearDupAgainstIndex(Fixtures.nearDupIndexStore(s, dir),
          "nd", nearDupBatch(docs), "text", "doc_id", threshold = 0.5)
        .orderBy("batch_id", "corpus_id")
    }),

    "ext_neardup_index_incremental" -> ((s, dir) => {
      // crawl-shaped index growth: index the even half, append the odd
      // half — per-doc signatures are independent, so the grown index
      // must screen identically to indexing everything at once
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val store = new graft.table.TableStore(s,
        java.nio.file.Files.createTempDirectory("graft_q_ndii").toString)
      NearDupIndex.buildNearDupIndex(store, "nd",
        docs.where(col("doc_id") % 2 === 0), "text", "doc_id",
        numBuckets = 8)
      NearDupIndex.appendNearDupIndex(store, "nd",
        docs.where(col("doc_id") % 2 === 1), "text", "doc_id",
        numBuckets = 8)
      NearDupIndex.nearDupAgainstIndex(store, "nd", nearDupBatch(docs),
          "text", "doc_id", threshold = 0.5)
        .orderBy("batch_id", "corpus_id")
    }),

    "ext_incremental_dedup_bloom" -> ((s, dir) => {
      // same semantics through the Bloom-prefiltered path (the
      // batch-too-big-to-broadcast variant): identical output by
      // construction — false positives can't match any batch fingerprint
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docs.where(col("doc_id") % 10 =!= 0)
      val batch = docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" fresh")).as("text"))
        .unionByName(docs.where(col("doc_id") % 20 === 1)
          .select((col("doc_id") + 4000000L).as("doc_id"), col("text")))
      Dedup.incrementalNewBloom(corpus, batch, "text", "doc_id",
        expectedBatchItems = 10000L).orderBy("keep_id")
    }),

    "ext_boilerplate" -> ((s, dir) => {
      // C4-style boilerplate removal: a 10-word banner planted on every 3rd
      // doc appears across ≥3 docs → removed everywhere; genuine content
      // (plus any organically repeated segments) follows the same rule.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val banner = "subscribe to our newsletter for daily updates and special offers"
      val corpus = docs.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(lit(banner + " "), col("text")))
          .otherwise(col("text")).as("text"))
      Boilerplate.stripBoilerplate(corpus, "text", "doc_id", w = 10, minDocs = 3)
        .orderBy("doc_id")
    }),

    "ext_profile" -> ((s, dir) =>
      // per-column batch profiling (ingest acceptance report) — exact tier;
      // string-rendered min/max restricted to engine-portable types
      Profile.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("col_name")),

    "ext_asof_join" -> ((s, dir) => {
      // point-in-time lookup: each purchase gets the latest prior click of
      // the same user — one union + keyed running window, no per-row probe
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("us"), col("event_type"))
      val purchases = e.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "us")
      val clicks = e.where(col("event_type") === "click").select("user_id", "us")
      AsOfJoin.asOfTime(purchases, clicks, "user_id", "us", "click_us")
        .orderBy("event_id")
    }),

    "ext_recrawl_priority" -> ((s, dir) => {
      // freshness-driven recrawl order over the event log as a crawl
      // history: per user-key, expected missed changes (clicks as
      // changes) = n_changes x staleness / span, exact single-truncation
      // ppm; zero-span keys get priority 0 by contract
      val e = Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("us"), col("event_type"))
      graft.ext.Url.recrawlPriority(e, "user_id", "us",
          col("event_type") === "click")
        .orderBy(col("priority_ppm").desc, col("user_id"))
    }),

    "ext_temporal_split" -> ((s, dir) => {
      // purged temporal 4-fold split over events: exact-quantile time
      // boundaries, 6h embargo — per (fold, role) population and id-sum
      // (the id-sum pins every row's assignment, not just the counts)
      val e = Tables.events(s, dir)
        .select(col("event_id"), expr("ts div 1000").as("us"))
      Sampling.temporalEmbargoSplit(e, "event_id", "us",
          k = 4, embargo = 21600000000L)
        .groupBy("fold", "role")
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"))
        .orderBy("fold", "role")
    }),

    "ext_sessionize" -> ((s, dir) => {
      // batch sessionization: per-user session sequence, new session after
      // 30 min of inactivity — one keyed shuffle + O(n) running window
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("us"))
      graft.ops.TimeSeries.sessionize(e, "user_id", "us", gap = 1800000000L)
        .orderBy("event_id")
    }),

    "ext_resample_ffill" -> ((s, dir) => {
      // fixed-step resample to a daily grid with forward fill: per-key
      // grids from a (min,max) aggregate (never a global calendar join),
      // bucket-latest observation via partial agg, one running fill window
      val e = Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("us"), col("value"))
        .where(col("user_id") < 30)
      graft.ops.TimeSeries.resampleFill(e, "user_id", "us", "value",
        step = 86400000000L)
        .orderBy("user_id", "bucket")
    }),

    "ext_asof_nearest" -> ((s, dir) => {
      // pandas merge_asof surface: NEAREST click within ±500ms of each
      // purchase (ties → backward). Runs the backward pass plus a
      // forward pass expressed as backward-on-negated-time, so both
      // directions reuse the one-keyed-shuffle machinery; the tolerance
      // nulls out-of-band matches after the join (pandas semantics)
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("us"), col("event_type"))
      val purchases = e.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "us")
      val clicks = e.where(col("event_type") === "click").select("user_id", "us")
      AsOfJoin.asOfDirectional(purchases, clicks, "user_id", "us",
        AsOfJoin.Nearest, tolerance = Some(500000L), matchCol = "near_us")
        .orderBy("event_id")
    }),

    "ext_asof_exec" -> ((s, dir) => {
      // the same point-in-time lookup through the custom physical operator
      // (AsOfJoinNode → AsOfJoinExec): per-side shuffles + streaming merge,
      // no union widening, no window buffering; same oracle as ext_asof_join
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("us"), col("event_type"))
      val purchases = e.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "us")
      val clicks = e.where(col("event_type") === "click").select("user_id", "us")
      AsOfJoin.asOfTimeMerged(purchases, clicks, "user_id", "us", "click_us")
        .orderBy("event_id")
    }),

    "ext_url_canonical" -> ((s, dir) =>
      // crawl-URL canonicalization: one codegen'd map over the scan — the
      // key for exact-URL dedup; path case preserved, tracking params
      // stripped, query params order-independent
      urlCorpus(s, dir).select(col("doc_id"), col("url_raw"),
        Url.canonicalize(col("url_raw")).as("url"),
        Url.host(col("url_raw")).as("host"))
        .orderBy("doc_id")),

    "ext_warc_roundtrip" -> ((s, dir) => {
      // WARC round trip (ISO 28500, the Common Crawl container): serialize
      // the URL corpus into per-record-gzip WARC shards, re-read with the
      // streaming record parser, and verify URIs, Content-Lengths, and
      // payload bytes all survive. Write is zero-shuffle (one shard per
      // partition); read parallelism is file-level — the published shape
      // of crawl archives.
      val docs = t(s, dir, "documents").select("doc_id", "text")
        .join(urlCorpus(s, dir).select("doc_id", "url_raw"), "doc_id")
      val tmp = java.nio.file.Files.createTempDirectory("graft_warc").toString
      graft.ingest.Warc.write(docs.repartition(4), tmp, "url_raw", "text",
        idCol = Some("doc_id"))
      graft.ingest.Warc.read(s, tmp)
        .where(col("warc_type") === "resource")
        .select(
          element_at(col("headers"), "WARC-Graft-Id").cast("bigint")
            .as("doc_id"),
          col("target_uri"), col("content_length"),
          decode(col("payload"), "UTF-8").as("text"))
        .orderBy("doc_id")
    }),

    "ext_crawl_frontier" -> ((s, dir) => {
      // the steady-state crawl loop's prioritization as ONE composition:
      // robots screen (RFC 9309 engine) → canonical URL → deterministic
      // per-host quota (salted-hash pick through the bounded graft_topk)
      // → host-authority ordering (doc-mass proxy). Every stage is an
      // already-gated operator; this gate re-verifies the composition
      // end-to-end. Per-host work is bounded: the quota shuffle carries
      // ≤ mappers × k rows, authority is a host-sized aggregate.
      import s.implicits._
      val rules = RobotsRules.toDF("host", "agent", "allow", "rule_path")
      val urls = urlCorpus(s, dir).select("doc_id", "url_raw")
      val allowed = Url.robotsDecisions(urls, "url_raw", rules, "graftbot")
        .where(col("allowed"))
        .withColumn("url", Url.canonicalize(col("url_raw")))
      val capped = Sampling.quotaCap(allowed, "url_host", "doc_id",
        k = 8, salt = "fr1")
      val auth = allowed.groupBy(col("url_host"))
        .agg(count(lit(1)).as("host_docs"))
      // capped (hosts × k) and auth (hosts) are bounded — broadcast both
      // so the corpus-sized allowed side never shuffles for the joins
      allowed.select("url_host", "doc_id", "url")
        .join(broadcast(capped), Seq("url_host", "doc_id"))
        .join(broadcast(auth), "url_host")
        .select(col("doc_id"), col("url_host"), col("url"),
          col("rank").cast("bigint").as("rank"), col("host_docs"))
        .orderBy(col("host_docs").desc, col("url_host"), col("rank"))
    }),

    "ext_crawl_schedule" -> ((s, dir) => {
      // per-host politeness scheduling: crawl-delays resolved per host
      // (exact agent beats `*`, min delay on group ties), then the
      // frontier batch gets rate-limited fetch times — newest doc first
      // within each host. The host window is the one frontier shuffle;
      // the delay side co-locates on the same key.
      import s.implicits._
      val delays = CrawlDelays.toDF("host", "agent", "delay_ms")
      val urls = urlCorpus(s, dir).select(col("doc_id"),
        Url.host(col("url_raw")).as("host"))
      Url.politeSchedule(urls, "host", Seq(col("doc_id").desc),
          Url.resolveCrawlDelays(delays, "graftbot"),
          defaultDelayMs = 1000L, t0Ms = 0L)
        .select("doc_id", "host", "delay_ms", "seq", "fetch_at_ms")
        .orderBy("host", "seq")
    }),

    "ext_robots_decisions" -> ((s, dir) => {
      // RFC 9309 crawl permissions over the messy-URL corpus: exact-agent
      // group beats `*`, longest rule path wins, ties allow, no-rule
      // hosts allow. Rules broadcast; the corpus never shuffles.
      import s.implicits._
      val rules = RobotsRules
        .toDF("host", "agent", "allow", "rule_path")
      Url.robotsDecisions(
          urlCorpus(s, dir).select("doc_id", "url_raw"), "url_raw",
          rules, "graftbot")
        .select(col("doc_id"), col("url_host"), col("allowed"))
        .orderBy("doc_id")
    }),

    "ext_host_cap" -> ((s, dir) =>
      // per-host corpus quota after a host blocklist: blocklist is a
      // codegen'd NOT IN (broadcast anti-join for table-sized lists), the
      // cap is the bounded graft_topk draw — no host ever fully shuffles
      Sampling.quotaCap(
        Url.dropBlockedHosts(urlCorpus(s, dir), "url_raw", BlockedHosts)
          .select(col("doc_id"), Url.host(col("url_raw")).as("host")),
        "host", "doc_id", k = 15, salt = "crawl1")
        .orderBy("host", "rank")),

    "ext_weighted_sample" -> ((s, dir) =>
      // deterministic Efraimidis–Spirakis weighted draw: 100 docs, char
      // mass as weight, selection replayed bit-for-bit from quantized
      // ln(u)/w keys through the bounded graft_topk shuffle
      Sampling.weightedSample(t(s, dir, "documents"), "doc_id", "n_chars",
          k = 100, salt = "ws1")
        .orderBy("rank")),

    "ext_weighted_sample_grouped" -> ((s, dir) =>
      // domain-balanced weighted draw: 20 docs per language, char mass
      // as weight — the quotaCap shape with weight-proportional picks
      Sampling.weightedSamplePerGroup(t(s, dir, "documents"), "lang",
          "doc_id", "n_chars", k = 20, salt = "ws2")
        .orderBy("lang", "rank")),

    "ext_quota_cap" -> ((s, dir) =>
      // domain-mix balancing: ≤50 docs per language by salted-hash draw,
      // via the bounded graft_topk aggregate (the overrepresented group
      // never fully shuffles)
      Sampling.quotaCap(t(s, dir, "documents"), "lang", "doc_id", k = 50, salt = "mix1")
        .orderBy("lang", "rank")),

    "ext_quantize_embed" -> ((s, dir) =>
      // int8 embedding compression: per-vector symmetric scale + codes —
      // narrow two-pass transform, 4x smaller storage at 100 TB. The gate
      // output is unpivoted to one (vec_id, i, q_i) row per code so the
      // comparator checks every element as a sortable scalar (a raw
      // array<int> column cannot be canonicalized by the harness).
      Similarity.quantizeInt8(t(s, dir, "embeddings"), "embedding", "vec_id")
        .select(col("vec_id"), col("scale"),
          posexplode(col("q")).as(Seq("i", "q_i")))
        .orderBy("vec_id", "i")),

    "ext_temperature_mix" -> ((s, dir) =>
      // sqrt-temperature domain rebalance: small languages keep a larger
      // share, the largest keeps 100%; corpus is filtered, never shuffled
      Sampling.temperatureMix(
        t(s, dir, "documents").select("doc_id", "lang"), "lang", "doc_id",
        salt = "temp1")
        .groupBy("lang", "rate_pct")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")),

    "ext_loss_reweight" -> ((s, dir) => {
      // DoReMi-posture loss-driven mixture: measure each source's mean
      // negative log-prob under the trusted-slice LM (exact 1e9-quantized
      // integer nats per token), use it as the source's `parts` weight,
      // and plan the token budget — hard/underrepresented domains get
      // proportionally more mass. One scoring pass + the integer plan;
      // the oracle replays LM training, scoring, and plan arithmetic.
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      val w = LanguageModel.domainLossWeights(
        docs, docs.where(col("doc_id") % 5 === 0), "text", "doc_id", "source",
        alpha = 0.1, minCount = 1)
      val mass = docs.select(col("source"),
        size(graft.ext.TextStats.wsTokens(col("text"))).cast("long").as("n_tok"))
      Sampling.mixturePlan(mass, "source", "n_tok",
          w.select("source", "parts"), budget = 500000L)
        .orderBy("source")
    }),

    "ext_lm_perplexity" -> ((s, dir) => {
      // CCNet-style LM quality scoring: train a stupid-backoff bigram LM
      // on the trusted slice (every 5th doc), score every document's
      // average negative log-prob per token. Log-probs quantize to int64
      // at training time, so both engines sum identical integers and the
      // one closing double division is order-fixed.
      val docs = t(s, dir, "documents").select("doc_id", "text")
      LanguageModel.scoreLogPpl(
        docs, docs.where(col("doc_id") % 5 === 0), "text", "doc_id",
        alpha = 0.1, minCount = 1)
        .orderBy("doc_id")
    }),

    "ext_lm_buckets" -> ((s, dir) => {
      // CCNet's head/middle/tail split at perplexity thirds — exact
      // quantile tier so the oracle matches bit-for-bit (production runs
      // the Greenwald-Khanna sketch tier, the Percentiles contract)
      val docs = t(s, dir, "documents").select("doc_id", "text")
      LanguageModel.pplBuckets(
        docs, docs.where(col("doc_id") % 5 === 0), "text", "doc_id",
        alpha = 0.1, minCount = 1, exact = true)
        .orderBy("doc_id")
    }),

    "ext_lm_per_lang" -> ((s, dir) => {
      // CCNet's real posture: ONE LM PER LANGUAGE, trained simultaneously
      // in one pass (lang keys every table), each doc scored under its
      // own language's model — same cost shape as the monolithic scorer
      val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
      LanguageModel.scoreLogPplByGroup(
        docs, docs.where(col("doc_id") % 5 === 0), "text", "doc_id", "lang",
        alpha = 0.1, minCount = 1)
        .orderBy("doc_id")
    }),

    "ext_lm_kn_modified" -> ((s, dir) => {
      // modified Kneser-Ney (KenLM's default): per-level D1/D2/D3+
      // discounts estimated from count-of-count statistics, fixed-0.75
      // fallback on degenerate tiers — same five-table scoring chain
      val docs = t(s, dir, "documents").select("doc_id", "text")
      LanguageModel.scoreKneserNeyModified(
        docs, docs.where(col("doc_id") % 5 === 0), "text", "doc_id",
        minCount = 1)
        .orderBy("doc_id")
    }),

    "ext_lm_kneser_ney" -> ((s, dir) => {
      // interpolated Kneser-Ney trigram scoring (the KenLM-class smoother
      // CCNet actually runs): continuation-count lower levels, fixed
      // D=0.75 discount, five quantized broadcast tables, additive
      // composition through missed levels in the quantized log domain
      val docs = t(s, dir, "documents").select("doc_id", "text")
      LanguageModel.scoreKneserNey(
        docs, docs.where(col("doc_id") % 5 === 0), "text", "doc_id",
        minCount = 1)
        .orderBy("doc_id")
    }),

    "ext_dsir_select" -> ((s, dir) => {
      // DSIR importance resampling: pick the 100 docs (of 500) whose
      // hashed-ngram distribution best matches the doc_id%7 target slice,
      // via quantized log-likelihood-ratio weights + deterministic Gumbel
      // top-k (graft_topk bounded selection)
      val docs = t(s, dir, "documents").select("doc_id", "text")
      graft.ext.Dsir.resample(
        docs, docs.where(col("doc_id") % 7 === 0), "text", "doc_id",
        k = 100, buckets = 1000, alpha = 0.01)
        .orderBy("doc_id")
    }),

    "ext_diversity_sample" -> ((s, dir) =>
      // cluster-balanced curation: ≤10 vectors per embedding-space cell
      // (16-cell codebook), drawn by salted hash — dense clusters are
      // capped instead of dominating the sample; assignment shuffles one
      // row per vector, the quota draw is bounded per mapper
      Similarity.diversitySample(t(s, dir, "embeddings"), "embedding", "vec_id",
        nCells = 16, quota = 10, salt = "div1")
        .orderBy("cell_id", "rank"))
  )

  // --------------------------------------------------------------------
  // Oracle SQL (DuckDB), generated from the same constants.
  // --------------------------------------------------------------------

  private val P = TextHash.P

  private def shinglesSqlInline = TextHash.shinglesSql("text")

  /** Shared CTE chain: corpus → shingles → signatures → bands → candidate
    * pairs → jaccard-verified pairs (used by the pairs and clusters
    * oracles). */
  /** Recursive merge-replay of [[graft.ext.Bpe.tokenize]] against
    * [[BpeMerges]]: merge keys as a literal list (rank = 1-based list
    * position); the recursive CTE advances every word one merge per
    * iteration and a word exits when no adjacent pair is in the table.
    * Leaves `done(doc_id, widx, toks)` bound. Callers prefix WITH
    * RECURSIVE. */
  private lazy val BpeDoneCtes: String = {
    val mk = BpeMerges
      .map { case (a, b) => s"'$a' || chr(31) || '$b'" }
      .mkString("[", ", ", "]")
    val ranks =
      s"[list_position(mk.m, toks[i] || chr(31) || toks[i+1]) FOR i IN range(1, len(toks))]"
    s"""mk AS (SELECT $mk AS m),
       |tk AS (SELECT doc_id, ${tokensSql("text")} AS ws FROM documents),
       |words AS (
       |  SELECT doc_id, generate_subscripts(ws, 1) AS widx, unnest(ws) AS w
       |  FROM tk),
       |bpe AS (
       |  SELECT doc_id, widx,
       |    [substr(w, i, 1) FOR i IN range(1, len(w)+1)] AS toks
       |  FROM words
       |  UNION ALL
       |  SELECT doc_id, widx,
       |    toks[1:bpos-1] || [toks[bpos] || toks[bpos+1]] || toks[bpos+2:len(toks)]
       |  FROM (
       |    SELECT doc_id, widx, toks, brank, list_position(ranks, brank) AS bpos
       |    FROM (
       |      SELECT doc_id, widx, toks, ranks,
       |        list_min(list_filter(ranks, r -> r IS NOT NULL AND r > 0)) AS brank
       |      FROM (SELECT bpe.doc_id, bpe.widx, bpe.toks, $ranks AS ranks
       |            FROM bpe, mk)))
       |  WHERE brank IS NOT NULL),
       |done AS (
       |  SELECT doc_id, widx, toks FROM (
       |    SELECT bpe.doc_id, bpe.widx, bpe.toks,
       |      list_min(list_filter($ranks, r -> r IS NOT NULL AND r > 0)) AS brank
       |    FROM bpe, mk) WHERE brank IS NULL)""".stripMargin
  }

  private lazy val MinhashPairsCtes: String = {
    val sigSql = TextHash.minhashSignatureSql("sh")
    val bandSelects = (0 until TextHash.Bands).map { b =>
      val parts = (0 until TextHash.RowsPerBand)
        .map(r => s"sig[${b * TextHash.RowsPerBand + r + 1}]").mkString(", ")
      s"SELECT doc_id, sh, $b AS band, concat_ws('-', $parts) AS key FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""$NearDupCorpusSql,
       |shingled AS (SELECT doc_id, $shinglesSqlInline AS sh FROM corpus),
       |sigs AS (SELECT doc_id, sh, $sigSql AS sig FROM shingled),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |  WHERE a.doc_id < b.doc_id),
       |verified AS (
       |  SELECT c.a_id, c.b_id,
       |    CAST(len(list_filter(list_distinct(sa.sh), x -> list_contains(sb.sh, x))) AS DOUBLE)
       |      / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE) AS jaccard
       |  FROM cand c
       |  JOIN shingled sa ON sa.doc_id = c.a_id
       |  JOIN shingled sb ON sb.doc_id = c.b_id)""".stripMargin
  }

  /** shingle → signature → band CTE chain for one side of the incremental
    * near-dup oracle: emits `<p>sh` (doc_id, sh) and `<p>bands`
    * (doc_id, band, key) reading from CTE `<src>`. */
  private def minhashSideCtes(p: String, src: String): String = {
    val sigSql = TextHash.minhashSignatureSql("sh")
    val bandSelects = (0 until TextHash.Bands).map { b =>
      val parts = (0 until TextHash.RowsPerBand)
        .map(r => s"sig[${b * TextHash.RowsPerBand + r + 1}]").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws('-', $parts) AS key FROM ${p}sig"
    }.mkString("\n  UNION ALL ")
    s"""${p}sh AS (SELECT doc_id, $shinglesSqlInline AS sh FROM $src),
       |${p}sig AS (SELECT doc_id, $sigSql AS sig FROM ${p}sh),
       |${p}bands AS (
       |  $bandSelects)""".stripMargin
  }

  /** embeddings CTE with scaled int64 norms (mirror of Similarity.normDecimal). */
  private val NormCte =
    s"""n AS (
       |  SELECT vec_id, label, embedding,
       |    sqrt(CAST(list_reduce(list_prepend(0::BIGINT,
       |      [CAST(round(CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE)*1e15) AS BIGINT)
       |       FOR i IN range(1,65)]), (a,x) -> a+x) AS DOUBLE) / 1e15) AS nrm
       |  FROM embeddings)""".stripMargin

  private def dotSql(ae: String, be: String): String =
    s"""(CAST(list_reduce(list_prepend(0::BIGINT,
       |  [CAST(round(CAST($ae[i] AS DOUBLE)*CAST($be[i] AS DOUBLE)*1e15) AS BIGINT)
       |   FOR i IN range(1,65)]), (a,x) -> a+x) AS DOUBLE) / 1e15)""".stripMargin

  /** Raw scaled-int64 dot over the first `n` dims (mirror of
    * Similarity.dotScaled on a length-n slice — no /1e15 cast). */
  private def dotScaledSqlN(ae: String, be: String, n: Int): String =
    s"""list_reduce(list_prepend(0::BIGINT,
       |  [CAST(round(CAST($ae[i] AS DOUBLE)*CAST($be[i] AS DOUBLE)*1e15) AS BIGINT)
       |   FOR i IN range(1,${n + 1})]), (a,x) -> a+x)""".stripMargin

  /** bucket CTE (mirror of Similarity.lshBucket: 1e7 quantization, 6 planes,
    * coeff(i,j) = ((i*37+j*101)%7)-3, bit set when dot >= 0). */
  private val BucketExpr = {
    val dots = (0 until Similarity.NumPlanes).map { i =>
      val terms = s"[ (((${i}*37 + j*101) % 7) - 3) * vq[j+1] FOR j IN range(0,64)]"
      s"(CASE WHEN list_reduce(list_prepend(0::BIGINT, $terms), (a,x) -> a+x) >= 0 THEN ${1L << i} ELSE 0 END)"
    }
    dots.mkString("(", " + ", ")")
  }

  /** The 60-bit SRP signature as one integer-arithmetic SQL expression
    * over `vq` (the 1e7-quantized embedding list) — per plane a plain sum
    * of nonzero-coefficient terms (int addition is associative, so no
    * reduce scaffolding), coefficients spliced from the SAME Scala
    * constant the Spark side uses. */
  private lazy val srpExprSql: String =
    (0 until Similarity.SrpMaxBits).map { i =>
      val terms = (0 until Similarity.SrpMaxDim)
        .map(j => (j, Similarity.srpCoeffs(i)(j)))
        .filter(_._2 != 0L)
        .map { case (j, c) => s"($c)*vq[${j + 1}]" }
      s"(CASE WHEN (${terms.mkString(" + ")}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " +\n      ", ")")

  private val BucketCte =
    s"""v AS (
       |  SELECT vec_id, embedding,
       |    [CAST(round(CAST(embedding[j] AS DOUBLE)*1e7) AS BIGINT) FOR j IN range(1,65)] AS vq
       |  FROM embeddings),
       |bk AS (SELECT vec_id, embedding, $BucketExpr AS bucket FROM v)""".stripMargin

  private def tokensSql(textE: String) =
    s"list_filter(string_split($textE, ' '), t -> t <> '')"

  /** Per-language decoration phrases for the langid upgrade-evidence
    * gate: the synthetic corpus has NO language signal in its text (one
    * shared vocabulary for every label), so the confusion gate plants a
    * characteristic phrase per language — BMP, precomposed, lowercase-
    * stable — in both engines identically. */
  private[queries] val LangDecor: Seq[(String, String)] = Seq(
    "en" -> "the quick brown fox jumps over",
    "de" -> "der schnelle braune fuchs springt über",
    "fr" -> "le rapide renard brun saute déjà",
    "es" -> "el rápido zorro marrón salta añade",
    "zh" -> "快速的棕色狐狸跳过懒狗示例")

  /** The decoration phrase of this row's `lang` as a Column. */
  private def langDecorCol: org.apache.spark.sql.Column =
    element_at(typedLit(LangDecor.toMap), col("lang"))

  /** The decorated separable corpus the langid upgrade gates share
    * (doc_id, lang, text + 3× the language's decoration). */
  private[queries] def langDecorDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), col("lang"),
      concat_ws(" ", col("text"), langDecorCol, langDecorCol,
        langDecorCol).as("text"))

  /** Margin-gate corpus: decorations on EVEN doc_ids only — the odd half
    * keeps the shared-vocabulary raw text, so a margin threshold must
    * separate signal-bearing docs from signal-free ones. */
  private[queries] def langHalfDecorDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), col("lang"),
      when(col("doc_id") % 2 === 0,
        concat_ws(" ", col("text"), langDecorCol, langDecorCol, langDecorCol))
        .otherwise(col("text")).as("text"))

  /** Abstain threshold for ext_langid_margin, in quantized ln·1e9 units
    * (nats·1e9). Calibrated mid-gap on the fixture: decorated docs sit
    * at ≥163 nats, raw shared-vocab docs at ≤73 (their nonzero margins
    * are length-amplified smoothing asymmetry, not signal — routing
    * them would be pure overconfidence, the failure mode the abstain
    * branch exists to catch). */
  private val LangidMarginThr = 100000000000L // 100 nats

  /** SQL: decorated text of `lang` on even doc_ids, raw text otherwise —
    * matches [[langHalfDecorDocs]]. */
  private def langHalfDecorTextSql: String =
    s"CASE WHEN doc_id % 2 = 0 THEN $langDecorTextSql ELSE text END"

  /** SQL: decorated text expression matching the gate's concat_ws. */
  private def langDecorTextSql: String = {
    val d = LangDecor.map { case (l, p) => s"WHEN lang = '$l' THEN '$p'" }
      .mkString("CASE ", " ", " ELSE '' END")
    s"text || ' ' || ($d) || ' ' || ($d) || ' ' || ($d)"
  }

  /** Unrolled replay of [[graft.ext.LangId.classify]] (char-trigram NB:
    * feats → labeled counts → dense C×B quantized model + priors →
    * per-doc integer argmax) — the ext_nb_confusion CTE discipline at
    * character granularity. Trains on `trainRel(doc_id, lang, text)`'s
    * doc_id%3 slice, scores every `scoreRel(doc_id, text)` row — the two
    * coincide for the in-domain gates; the margin gate scores a
    * DIFFERENT corpus under the same frozen model. Leaves
    * `ltot(doc_id, label, score)` and `lpred(doc_id, label, score)`
    * bound. */
  private def langidCtes(trainRel: String, scoreRel: String): String = {
    val b = 2000
    def q(x: String) = s"CAST(round(ln($x) * 1e9) AS BIGINT)"
    s"""ltrf AS (
       |  SELECT doc_id,
       |    unnest(${graft.ext.LangId.charGramBucketsSql(3, "text", b)}) AS b
       |  FROM $trainRel WHERE doc_id % 3 = 0),
       |lfeats AS (
       |  SELECT doc_id,
       |    unnest(${graft.ext.LangId.charGramBucketsSql(3, "text", b)}) AS b
       |  FROM $scoreRel),
       |llab AS (SELECT doc_id, lang FROM $trainRel WHERE doc_id % 3 = 0),
       |lrf AS (SELECT llab.lang AS label, f.b AS b
       |        FROM ltrf f JOIN llab ON llab.doc_id = f.doc_id),
       |lcounts AS (SELECT label, b, COUNT(*) AS n FROM lrf GROUP BY label, b),
       |lnc AS (SELECT label, SUM(n) AS nc FROM lcounts GROUP BY label),
       |lgrid AS (SELECT lnc.label AS label, lnc.nc AS nc, g.b AS b
       |          FROM lnc CROSS JOIN (SELECT unnest(range(0, $b)) AS b) g),
       |lmodel AS (
       |  SELECT lgrid.label, lgrid.b,
       |    ${q(s"(COALESCE(CAST(n AS DOUBLE), 0.0) + 1.0) / (CAST(nc AS DOUBLE) + ${1.0 * b})")} AS lpq
       |  FROM lgrid LEFT JOIN lcounts
       |    ON lcounts.label = lgrid.label AND lcounts.b = lgrid.b),
       |ldc AS (SELECT lang AS label, COUNT(*) AS docs FROM llab GROUP BY lang),
       |lpri AS (SELECT label,
       |    ${q("CAST(docs AS DOUBLE) / CAST((SELECT SUM(docs) FROM ldc) AS DOUBLE)")} AS lpq_prior
       |  FROM ldc),
       |lsc AS (SELECT f.doc_id, m.label, SUM(m.lpq) AS s
       |        FROM lfeats f JOIN lmodel m ON m.b = f.b
       |        GROUP BY f.doc_id, m.label),
       |ltot AS (SELECT lsc.doc_id, lsc.label, lsc.s + lpri.lpq_prior AS score
       |         FROM lsc JOIN lpri ON lpri.label = lsc.label),
       |lpred AS (SELECT doc_id, label, score FROM (
       |  SELECT doc_id, label, score,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, label ASC) AS rn
       |  FROM ltot) WHERE rn = 1)""".stripMargin
  }

  /** The marker-heuristic language pick ([[graft.ext.TextStats.langId]]'s
    * argmax with fixed-order tie-break) as ONE inline SQL expression. */
  private lazy val langHeuristicPickSql: String = {
    val toks = tokensSql("lower(text)")
    def score(markers: Seq[String]) = {
      val list = markers.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter($toks, t -> list_contains($list, t)))"
    }
    val langs = graft.ext.TextStats.LangMarkers
    def caseFor(i: Int): String =
      if (i == langs.length - 1) s"'${langs(i)._1}'"
      else {
        val cond = langs.drop(i + 1)
          .map(o => s"${score(langs(i)._2)} >= ${score(o._2)}")
          .mkString(" AND ")
        s"CASE WHEN $cond THEN '${langs(i)._1}' ELSE ${caseFor(i + 1)} END"
      }
    caseFor(0)
  }

  /** Shared LM CTE chain (train + per-token score stream `sc`) for the
    * perplexity and bucket oracles — generated from the same constants
    * as LanguageModel.trainStupidBackoff. */
  private lazy val LmScoreCtes: String = {
    val toks = tokensSql("text")
    val bgList = "[toks[i+1] || ' ' || toks[i+2] FOR i IN range(0, len(toks)-1)]"
    s"""reftk AS (SELECT $toks AS toks FROM documents WHERE doc_id % 5 = 0),
       |uni AS (SELECT w, COUNT(*) AS c
       |        FROM (SELECT unnest(toks) AS w FROM reftk) GROUP BY w),
       |tot AS (SELECT SUM(c) AS ct, COUNT(*) AS vs FROM uni),
       |unilp AS (
       |  SELECT w, CAST(round(ln(0.4 * (CAST(c AS DOUBLE) + 0.1) /
       |    (CAST(ct AS DOUBLE) + 0.1 * CAST(vs AS DOUBLE))) * 1e9) AS BIGINT) AS lpq
       |  FROM uni CROSS JOIN tot),
       |unk AS (
       |  SELECT CAST(round(ln(0.4 * (CAST(0.0 AS DOUBLE) + 0.1) /
       |    (CAST(ct AS DOUBLE) + 0.1 * CAST(vs AS DOUBLE))) * 1e9) AS BIGINT) AS lpq_unk
       |  FROM tot),
       |refbg AS (SELECT unnest($bgList) AS bg FROM reftk),
       |big AS (SELECT bg, COUNT(*) AS c12 FROM refbg GROUP BY bg),
       |biglp AS (
       |  SELECT big.bg,
       |    CAST(round(ln(CAST(c12 AS DOUBLE) / CAST(u.c AS DOUBLE)) * 1e9) AS BIGINT) AS lpq
       |  FROM big JOIN uni u ON u.w = string_split(big.bg, ' ')[1]),
       |ctk AS (SELECT doc_id, $toks AS toks FROM documents),
       |cp AS (SELECT doc_id, unnest($bgList) AS bg FROM ctk),
       |sc AS (
       |  SELECT cp.doc_id, COALESCE(b.lpq, u.lpq, unk.lpq_unk) AS lpq
       |  FROM cp
       |  LEFT JOIN biglp b ON b.bg = cp.bg
       |  LEFT JOIN unilp u ON u.w = string_split(cp.bg, ' ')[2]
       |  CROSS JOIN unk)""".stripMargin
  }

  /** Kneser-Ney trigram CTE chain (train the five quantized tables +
    * per-trigram score stream `sc`) — formulas mirror
    * [[graft.ext.LanguageModel.trainKneserNey]] literally, including the
    * parenthesized double-arithmetic shapes inside each ln (the engines
    * agree because every division/multiply runs in the same order). */
  private lazy val KnScoreCtes: String = {
    val toks = tokensSql("text")
    val triList =
      "[{'w1': toks[i+1], 'w2': toks[i+2], 'w3': toks[i+3]} FOR i IN range(0, len(toks)-2)]"
    val bgList = "[toks[i+1] || ' ' || toks[i+2] FOR i IN range(0, len(toks)-1)]"
    def q(x: String) = s"CAST(round(ln($x) * 1e9) AS BIGINT)"
    s"""reftk AS (SELECT $toks AS toks FROM documents WHERE doc_id % 5 = 0),
       |tri AS (SELECT t.w1 AS w1, t.w2 AS w2, t.w3 AS w3, COUNT(*) AS c3
       |        FROM (SELECT unnest($triList) AS t FROM reftk) GROUP BY 1, 2, 3),
       |hist2 AS (SELECT w1, w2, SUM(c3) AS c2p, COUNT(*) AS t3 FROM tri GROUP BY w1, w2),
       |n3 AS (SELECT w2, w3, COUNT(*) AS n3 FROM tri GROUP BY w2, w3),
       |mid AS (SELECT w2, SUM(n3) AS d2, COUNT(*) AS t2 FROM n3 GROUP BY w2),
       |rbg AS (SELECT DISTINCT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
       |        FROM (SELECT unnest($bgList) AS bg FROM reftk)),
       |n2 AS (SELECT w2 AS w, COUNT(*) AS n2 FROM rbg GROUP BY w2),
       |uni AS (SELECT DISTINCT unnest(toks) AS w FROM reftk),
       |tot AS (SELECT (SELECT COUNT(*) FROM rbg) AS b,
       |               (SELECT COUNT(*) FROM n2) AS v1,
       |               (SELECT COUNT(*) FROM uni) AS v),
       |p1 AS (SELECT uni.w AS w,
       |         GREATEST(COALESCE(CAST(n2.n2 AS DOUBLE), 0.0) - 0.75, 0.0) / CAST(b AS DOUBLE)
       |           + 0.75 * CAST(v1 AS DOUBLE) / CAST(b AS DOUBLE) / (CAST(v AS DOUBLE) + 1.0) AS p1d
       |       FROM uni LEFT JOIN n2 ON n2.w = uni.w CROSS JOIN tot),
       |p1q AS (SELECT w AS w3, ${q("p1d")} AS lpq FROM p1),
       |unk AS (SELECT ${q("0.75 * CAST(v1 AS DOUBLE) / CAST(b AS DOUBLE) / (CAST(v AS DOUBLE) + 1.0)")} AS lpq_unk FROM tot),
       |l1 AS (SELECT w2, ${q("0.75 * CAST(t2 AS DOUBLE) / CAST(d2 AS DOUBLE)")} AS lpq FROM mid),
       |p2f AS (SELECT n3.w2 AS w2, n3.w3 AS w3,
       |          GREATEST(CAST(n3.n3 AS DOUBLE) - 0.75, 0.0) / CAST(mid.d2 AS DOUBLE)
       |            + (0.75 * CAST(mid.t2 AS DOUBLE) / CAST(mid.d2 AS DOUBLE)) * p1.p1d AS p2d
       |        FROM n3 JOIN mid ON mid.w2 = n3.w2 JOIN p1 ON p1.w = n3.w3),
       |p2q AS (SELECT w2, w3, ${q("p2d")} AS lpq FROM p2f),
       |l2 AS (SELECT w1, w2, ${q("0.75 * CAST(t3 AS DOUBLE) / CAST(c2p AS DOUBLE)")} AS lpq FROM hist2),
       |triq AS (SELECT tri.w1 AS w1, tri.w2 AS w2, tri.w3 AS w3,
       |           ${q("(CAST(c3 AS DOUBLE) - 0.75) / CAST(c2p AS DOUBLE) + (0.75 * CAST(t3 AS DOUBLE) / CAST(c2p AS DOUBLE)) * p2f.p2d")} AS lpq
       |         FROM tri
       |         JOIN hist2 ON hist2.w1 = tri.w1 AND hist2.w2 = tri.w2
       |         JOIN p2f ON p2f.w2 = tri.w2 AND p2f.w3 = tri.w3),
       |cp AS (SELECT doc_id, t.w1 AS w1, t.w2 AS w2, t.w3 AS w3
       |       FROM (SELECT doc_id, unnest($triList) AS t
       |             FROM (SELECT doc_id, $toks AS toks FROM documents))),
       |sc AS (
       |  SELECT cp.doc_id,
       |    COALESCE(triq.lpq,
       |      COALESCE(l2.lpq, CAST(0 AS BIGINT)) +
       |        COALESCE(p2q.lpq,
       |          COALESCE(l1.lpq, CAST(0 AS BIGINT)) +
       |            COALESCE(p1q.lpq, unk.lpq_unk))) AS lpq
       |  FROM cp
       |  LEFT JOIN triq ON triq.w1 = cp.w1 AND triq.w2 = cp.w2 AND triq.w3 = cp.w3
       |  LEFT JOIN l2 ON l2.w1 = cp.w1 AND l2.w2 = cp.w2
       |  LEFT JOIN p2q ON p2q.w2 = cp.w2 AND p2q.w3 = cp.w3
       |  LEFT JOIN l1 ON l1.w2 = cp.w2
       |  LEFT JOIN p1q ON p1q.w3 = cp.w3
       |  CROSS JOIN unk)""".stripMargin
  }

  /** Modified-KN CTE chain — mirrors
    * [[graft.ext.LanguageModel.trainKneserNeyModified]]'s pinned shapes:
    * per-level count-of-count stats (one-row CTEs), CASE-selected
    * discounts with the 0.75 degenerate fallback, three-term λ
    * numerators. */
  private lazy val MknScoreCtes: String = {
    val toks = tokensSql("text")
    val triList =
      "[{'w1': toks[i+1], 'w2': toks[i+2], 'w3': toks[i+3]} FOR i IN range(0, len(toks)-2)]"
    val bgList = "[toks[i+1] || ' ' || toks[i+2] FOR i IN range(0, len(toks)-1)]"
    def q(x: String) = s"CAST(round(ln($x) * 1e9) AS BIGINT)"
    def dbl(x: String) = s"CAST($x AS DOUBLE)"
    // discounts from a stats row with columns ${p}1..${p}4
    def dK(p: String, k: Int): String = {
      val y = s"(${dbl(s"${p}1")} / (${dbl(s"${p}1")} + 2.0 * ${dbl(s"${p}2")}))"
      s"""CASE WHEN ${p}$k > 0 AND (${p}1 + ${p}2) > 0
         |  THEN GREATEST($k.0 - ${k + 1}.0 * $y * ${dbl(s"${p}${k + 1}")} / ${dbl(s"${p}$k")}, 0.0)
         |  ELSE 0.75 END""".stripMargin.replaceAll("\n\\s*", " ")
    }
    def sel(c: String, p: String): String =
      s"""CASE WHEN $c IS NULL OR $c = 0 THEN 0.0 WHEN $c = 1 THEN ${p}d1
         | WHEN $c = 2 THEN ${p}d2 ELSE ${p}d3 END""".stripMargin.replaceAll("\n\\s*", " ")
    def ccCte(src: String, cCol: String, name: String, p: String): String =
      s"""$name AS (SELECT ${(1 to 4).map(k =>
        s"SUM(CASE WHEN $cCol = $k THEN 1 ELSE 0 END) AS ${p}$k").mkString(", ")}
         | FROM $src)""".stripMargin.replaceAll("\n\\s*", " ")
    def dCte(stats: String, name: String, p: String): String =
      s"""$name AS (SELECT ${dK(p, 1)} AS ${p}d1, ${dK(p, 2)} AS ${p}d2,
         | ${dK(p, 3)} AS ${p}d3 FROM $stats)""".stripMargin.replaceAll("\n\\s*", " ")
    def nSums(c: String, p: String): String =
      s"""SUM(CASE WHEN $c = 1 THEN 1 ELSE 0 END) AS ${p}_1,
         |SUM(CASE WHEN $c = 2 THEN 1 ELSE 0 END) AS ${p}_2,
         |SUM(CASE WHEN $c >= 3 THEN 1 ELSE 0 END) AS ${p}_3p""".stripMargin
        .replaceAll("\n\\s*", " ")
    val lam2 = s"(ad1 * ${dbl("t3_1")} + ad2 * ${dbl("t3_2")} + ad3 * ${dbl("t3_3p")}) / ${dbl("c2p")}"
    val lam1 = s"(bd1 * ${dbl("t2_1")} + bd2 * ${dbl("t2_2")} + bd3 * ${dbl("t2_3p")}) / ${dbl("d2")}"
    val resv = s"(cd1 * ${dbl("cc1_1")} + cd2 * ${dbl("cc1_2")} + cd3 * (${dbl("v1")} - ${dbl("cc1_1")} - ${dbl("cc1_2")})) / ${dbl("b")}"
    s"""reftk AS (SELECT $toks AS toks FROM documents WHERE doc_id % 5 = 0),
       |tri AS (SELECT t.w1 AS w1, t.w2 AS w2, t.w3 AS w3, COUNT(*) AS c3
       |        FROM (SELECT unnest($triList) AS t FROM reftk) GROUP BY 1, 2, 3),
       |${ccCte("tri", "c3", "st3", "cc3_")},
       |${dCte("st3", "da", "cc3_").replace("cc3_d", "ad")},
       |hist2 AS (SELECT w1, w2, SUM(c3) AS c2p, ${nSums("c3", "t3")}
       |          FROM tri GROUP BY w1, w2),
       |n3 AS (SELECT w2, w3, COUNT(*) AS n3 FROM tri GROUP BY w2, w3),
       |${ccCte("n3", "n3", "st2", "cc2_")},
       |${dCte("st2", "db", "cc2_").replace("cc2_d", "bd")},
       |mid AS (SELECT w2, SUM(n3) AS d2, ${nSums("n3", "t2")} FROM n3 GROUP BY w2),
       |rbg AS (SELECT DISTINCT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
       |        FROM (SELECT unnest($bgList) AS bg FROM reftk)),
       |n2 AS (SELECT w2 AS w, COUNT(*) AS n2 FROM rbg GROUP BY w2),
       |${ccCte("n2", "n2", "st1", "cc1_")},
       |${dCte("st1", "dc", "cc1_").replace("cc1_d", "cd")},
       |uni AS (SELECT DISTINCT unnest(toks) AS w FROM reftk),
       |tot AS (SELECT (SELECT COUNT(*) FROM rbg) AS b,
       |               (SELECT COUNT(*) FROM n2) AS v1,
       |               (SELECT COUNT(*) FROM uni) AS v),
       |p1 AS (SELECT uni.w AS w,
       |         GREATEST(COALESCE(${dbl("n2.n2")}, 0.0) - ${sel("n2.n2", "c")}, 0.0) / ${dbl("b")}
       |           + $resv / (${dbl("v")} + 1.0) AS p1d
       |       FROM uni LEFT JOIN n2 ON n2.w = uni.w
       |       CROSS JOIN tot CROSS JOIN st1 CROSS JOIN dc),
       |p1q AS (SELECT w AS w3, ${q("p1d")} AS lpq FROM p1),
       |unk AS (SELECT ${q(s"$resv / (${dbl("v")} + 1.0)")} AS lpq_unk
       |        FROM tot CROSS JOIN st1 CROSS JOIN dc),
       |l1 AS (SELECT w2, ${q(lam1)} AS lpq FROM mid CROSS JOIN db),
       |p2f AS (SELECT n3.w2 AS w2, n3.w3 AS w3,
       |          GREATEST(${dbl("n3.n3")} - ${sel("n3.n3", "b")}, 0.0) / ${dbl("mid.d2")}
       |            + ((bd1 * ${dbl("mid.t2_1")} + bd2 * ${dbl("mid.t2_2")} + bd3 * ${dbl("mid.t2_3p")}) / ${dbl("mid.d2")}) * p1.p1d AS p2d
       |        FROM n3 JOIN mid ON mid.w2 = n3.w2 JOIN p1 ON p1.w = n3.w3 CROSS JOIN db),
       |p2q AS (SELECT w2, w3, ${q("p2d")} AS lpq FROM p2f),
       |l2 AS (SELECT w1, w2, ${q(lam2)} AS lpq FROM hist2 CROSS JOIN da),
       |triq AS (SELECT tri.w1 AS w1, tri.w2 AS w2, tri.w3 AS w3,
       |           ${q(s"(${dbl("c3")} - ${sel("tri.c3", "a")}) / ${dbl("c2p")} + ((ad1 * ${dbl("t3_1")} + ad2 * ${dbl("t3_2")} + ad3 * ${dbl("t3_3p")}) / ${dbl("c2p")}) * p2f.p2d")} AS lpq
       |         FROM tri
       |         JOIN hist2 ON hist2.w1 = tri.w1 AND hist2.w2 = tri.w2
       |         JOIN p2f ON p2f.w2 = tri.w2 AND p2f.w3 = tri.w3
       |         CROSS JOIN da),
       |cp AS (SELECT doc_id, t.w1 AS w1, t.w2 AS w2, t.w3 AS w3
       |       FROM (SELECT doc_id, unnest($triList) AS t
       |             FROM (SELECT doc_id, $toks AS toks FROM documents))),
       |sc AS (
       |  SELECT cp.doc_id,
       |    COALESCE(triq.lpq,
       |      COALESCE(l2.lpq, CAST(0 AS BIGINT)) +
       |        COALESCE(p2q.lpq,
       |          COALESCE(l1.lpq, CAST(0 AS BIGINT)) +
       |            COALESCE(p1q.lpq, unk.lpq_unk))) AS lpq
       |  FROM cp
       |  LEFT JOIN triq ON triq.w1 = cp.w1 AND triq.w2 = cp.w2 AND triq.w3 = cp.w3
       |  LEFT JOIN l2 ON l2.w1 = cp.w1 AND l2.w2 = cp.w2
       |  LEFT JOIN p2q ON p2q.w2 = cp.w2 AND p2q.w3 = cp.w3
       |  LEFT JOIN l1 ON l1.w2 = cp.w2
       |  LEFT JOIN p1q ON p1q.w3 = cp.w3
       |  CROSS JOIN unk)""".stripMargin
  }

  /** One oracle for all three IVF paths (scan, persistent index,
    * incremental index): the index is lossless — same codebook, same
    * nearest-cell rule — so every path must agree byte-for-byte. */
  /** Lloyd's k-means unrolled: `iters` chained CTE iterations of
    * (scaled-int64 cosine assignment, lowest-cell-id tiebreak) →
    * (1e7-quantized integer mean per dim, double divide, cast float) →
    * (empty cells keep the previous centroid) — the exact arithmetic of
    * Similarity.kmeansCodebook, so the two engines agree bit-for-bit. */
  /** The unrolled Lloyd-iteration CTE chain shared by the k-means oracles:
    * `WITH <kmeansChainCtes(n, iters)> SELECT ... FROM book<iters>`. */
  private def kmeansChainCtes(nCells: Int, iters: Int): String = {
    def normOf(v: String) = s"sqrt(${dotSql(v, v)})"
    def iter(prev: String, out: String): String =
      s"""${out}_a AS (
         |  SELECT vec, cell_id FROM (
         |    SELECT e.embedding AS vec, b.cell_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${dotSql("e.embedding", "b.cell_vec")}
         |                 / (${normOf("e.embedding")} * ${normOf("b.cell_vec")}) DESC,
         |                 b.cell_id ASC) AS r
         |    FROM embeddings e CROSS JOIN $prev b) WHERE r = 1),
         |${out}_m AS (
         |  SELECT cell_id,
         |    list(CAST(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) / 1e7 AS FLOAT)
         |         ORDER BY i) AS vec
         |  FROM (
         |    SELECT cell_id, i,
         |      SUM(CAST(round(CAST(vec[i] AS DOUBLE) * 1e7) AS BIGINT)) AS s,
         |      COUNT(*) AS cnt
         |    FROM ${out}_a CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dims
         |    GROUP BY cell_id, i) GROUP BY cell_id),
         |$out AS (
         |  SELECT b.cell_id, COALESCE(u.vec, b.cell_vec) AS cell_vec
         |  FROM $prev b LEFT JOIN ${out}_m u ON b.cell_id = u.cell_id)"""
    val chain = (1 to iters)
      .map(i => iter(s"book${i - 1}", s"book$i")).mkString(",\n")
    s"""book0 AS (
       |  SELECT vec_id AS cell_id, embedding AS cell_vec
       |  FROM embeddings ORDER BY vec_id LIMIT $nCells),
       |$chain""".stripMargin
  }

  private def kmeansOracleSql(nCells: Int, iters: Int): String =
    s"""WITH ${kmeansChainCtes(nCells, iters)}
       |SELECT cell_id, i - 1 AS dim,
       |  CAST(round(CAST(cell_vec[i] AS DOUBLE) * 1e7) AS BIGINT) AS q
       |FROM book$iters CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dims
       |ORDER BY cell_id, dim""".stripMargin

  /** Assignment + per-cell cohesion over the trained book (mirror of
    * Similarity.clusterQuality on the kmeansBook fixture). */
  private def clusterQualityOracleSql(nCells: Int, iters: Int): String = {
    def normOf(v: String) = s"sqrt(${dotSql(v, v)})"
    s"""WITH ${kmeansChainCtes(nCells, iters)},
       |assign AS (
       |  SELECT cell_id,
       |    CAST(round(cos * 1e7) AS BIGINT) AS q
       |  FROM (
       |    SELECT b.cell_id,
       |      ${dotSql("e.embedding", "b.cell_vec")}
       |        / (${normOf("e.embedding")} * ${normOf("b.cell_vec")}) AS cos,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dotSql("e.embedding", "b.cell_vec")}
       |                 / (${normOf("e.embedding")} * ${normOf("b.cell_vec")}) DESC,
       |                 b.cell_id ASC) AS r
       |    FROM embeddings e CROSS JOIN book$iters b) WHERE r = 1),
       |stats AS (
       |  SELECT cell_id, COUNT(*) AS n, SUM(q) AS sq, MIN(q) AS mq
       |  FROM assign GROUP BY cell_id)
       |SELECT b.cell_id, CAST(COALESCE(s.n, 0) AS BIGINT) AS n,
       |  CAST(s.sq AS BIGINT) AS sum_cos_q, CAST(s.mq AS BIGINT) AS min_cos_q
       |FROM book$iters b LEFT JOIN stats s ON b.cell_id = s.cell_id
       |ORDER BY b.cell_id""".stripMargin
  }

  private def ivfOracleSql: String =
    s"""WITH $NormCte,
       |cells AS (SELECT vec_id AS cell_id, embedding AS cell_vec, nrm AS cell_norm
       |          FROM n ORDER BY vec_id LIMIT 16),
       |c AS (SELECT c_id, c_vec, c_norm, cell_id FROM (
       |  SELECT a.vec_id AS c_id, a.embedding AS c_vec, a.nrm AS c_norm, cells.cell_id,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY ${dotSql("a.embedding", "cells.cell_vec")} / (a.nrm * cells.cell_norm) DESC,
       |               cells.cell_id ASC) AS r
       |  FROM n a CROSS JOIN cells) WHERE r = 1),
       |q AS (SELECT q_id, q_vec, q_norm, cell_id FROM (
       |  SELECT a.vec_id AS q_id, a.embedding AS q_vec, a.nrm AS q_norm, cells.cell_id,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY ${dotSql("a.embedding", "cells.cell_vec")} / (a.nrm * cells.cell_norm) DESC,
       |               cells.cell_id ASC) AS r
       |  FROM n a CROSS JOIN cells WHERE a.vec_id < 5) WHERE r <= 4),
       |scored AS (
       |  SELECT q.q_id, c.c_id, ${dotSql("q.q_vec", "c.c_vec")} / (q.q_norm * c.c_norm) AS cosine
       |  FROM c JOIN q ON c.cell_id = q.cell_id WHERE c.c_id <> q.q_id)
       |SELECT q_id, c_id, rank, cosine FROM (
       |  SELECT q_id, c_id, cosine,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
       |  FROM scored) WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** One oracle for both BM25 paths: the index is lossless, so the scan
    * path and the bucket-pruned index path must agree byte-for-byte. */
  private def bm25OracleSql: String = bm25OracleSqlOver("documents")

  /** Shared end-to-end oracle for the n-gram novelty audit — the scan path
    * and both persistent-index paths are lossless re-expressions of one
    * spec (membership over the reference's distinct gram set), so all
    * three replay it. The `cand` CTE mirrors [[noveltyCandidates]]
    * verbatim. */
  private lazy val noveltyOracleSql: String = {
    val grams8 = TextHash.shinglesSql("text", 8)
    s"""WITH cand AS (
       |  SELECT doc_id + 3000000 AS doc_id, text FROM documents
       |  WHERE doc_id % 4 = 0
       |  UNION ALL
       |  SELECT doc_id + 3500000, array_to_string(toks[1:k] || fill, ' ')
       |  FROM (SELECT doc_id, toks, (len(toks) * 9) // 20 AS k,
       |          ['m' || doc_id || 'x0', 'm' || doc_id || 'x1',
       |           'm' || doc_id || 'x2'] AS fill
       |        FROM (SELECT doc_id, ${tokensSql("text")} AS toks
       |              FROM documents WHERE doc_id % 4 = 1))
       |  UNION ALL
       |  SELECT doc_id + 4500000, 'fresh ' || CAST(doc_id AS VARCHAR)
       |  FROM documents WHERE doc_id % 4 = 2),
       |rg AS (SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
       |       FROM (SELECT unnest(list_distinct($grams8)) AS g FROM documents)),
       |c0 AS (SELECT doc_id, list_distinct($grams8) AS grams FROM cand),
       |cn AS (SELECT doc_id, len(grams) AS n_grams FROM c0),
       |hits AS (SELECT doc_id, COUNT(*) AS n_seen FROM (
       |    SELECT doc_id,
       |      ('0x' || substr(md5(unnest(grams)), 1, 15))::BIGINT AS gh
       |    FROM c0)
       |  WHERE gh IN (SELECT gh FROM rg) GROUP BY doc_id)
       |SELECT cn.doc_id, CAST(cn.n_grams AS BIGINT) AS n_grams,
       |  CAST(COALESCE(h.n_seen, 0) AS BIGINT) AS n_seen,
       |  CAST(cn.n_grams - COALESCE(h.n_seen, 0) AS BIGINT) AS n_novel,
       |  CAST(CASE WHEN cn.n_grams = 0 THEN 1000000
       |       ELSE ((cn.n_grams - COALESCE(h.n_seen, 0)) * 1000000)
       |            // cn.n_grams END AS BIGINT) AS novelty_ppm
       |FROM cn LEFT JOIN hits h USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** The BM25 scan-path oracle over an arbitrary corpus expression — the
    * delete gate replays it over `documents` minus the taken-down rows,
    * which a correct negative-increment index must match exactly. */
  private[queries] def bm25OracleSqlOver(src: String): String =
      s"""WITH q(query_id, term) AS (VALUES $bm25QueryValuesSql),
         |base AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM $src),
         |stats AS (SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS sum_dl FROM base),
         |tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base),
         |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM tok
         |       WHERE term IN (SELECT term FROM q) GROUP BY doc_id, dl, term),
         |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |raw AS (
         |  SELECT q.query_id, tf.doc_id,
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |             / (CAST(df AS DOUBLE) + 0.5))
         |    * (CAST(tf AS DOUBLE) * 2.2
         |       / (CAST(tf AS DOUBLE)
         |          + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE)
         |              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))) AS r
         |  FROM tf JOIN q USING (term) JOIN dft USING (term) CROSS JOIN stats),
         |score AS (SELECT query_id, doc_id, SUM(CAST(r AS DECIMAL(18,9))) AS s
         |          FROM raw GROUP BY query_id, doc_id),
         |ranked AS (SELECT query_id, doc_id, s,
         |  row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS rank
         |  FROM score)
         |SELECT query_id, rank, doc_id, CAST(s AS DECIMAL(18,9)) AS score
         |FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin

  /** Shared end-to-end oracle for the batch-vs-corpus near-dup screen —
    * the scan path and both persistent-index gates produce identical
    * output by construction (lossless index), so all three replay it. */
  private lazy val incNearDupOracleSql: String =
    incNearDupOracleSqlOver("documents")

  /** [[incNearDupOracleSql]] with the corpus (and optionally batch) side
    * swapped — the retention cascade gate replays the identical screen
    * over the SURVIVING corpus (a deleted doc must behave exactly as
    * if it was never indexed), probing a batch derived from its own
    * slimmer doc subset. */
  private[queries] def incNearDupOracleSqlOver(src: String,
      batchSrc: String = "documents"): String =
    s"""WITH corpusd AS (SELECT doc_id, text FROM $src),
       |batchd AS (
       |  SELECT doc_id + 5000000 AS doc_id, text || ' zz near marker' AS text
       |  FROM $batchSrc WHERE doc_id % 9 = 0
       |  UNION ALL
       |  SELECT doc_id + 6000000, 'fresh ' || CAST(doc_id AS VARCHAR)
       |  FROM $batchSrc WHERE doc_id % 9 = 1),
       |${minhashSideCtes("c", "corpusd")},
       |${minhashSideCtes("b", "batchd")},
       |cand AS (
       |  SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
       |  FROM cbands c JOIN bbands b ON c.band = b.band AND c.key = b.key)
       |SELECT batch_id, corpus_id,
       |  CAST(len(list_filter(list_distinct(bs.sh), x -> list_contains(cs.sh, x))) AS DOUBLE)
       |    / CAST(len(list_distinct(bs.sh || cs.sh)) AS DOUBLE) AS jaccard
       |FROM cand
       |JOIN bsh bs ON bs.doc_id = cand.batch_id
       |JOIN csh cs ON cs.doc_id = cand.corpus_id
       |WHERE CAST(len(list_filter(list_distinct(bs.sh), x -> list_contains(cs.sh, x))) AS DOUBLE)
       |    / CAST(len(list_distinct(bs.sh || cs.sh)) AS DOUBLE) >= 0.5
       |ORDER BY batch_id, corpus_id""".stripMargin

  /** The winnow shared-fingerprint pair screen as a standalone SELECT —
    * consumed by the pairs gate (ordered) and nested as the edge CTE of
    * the clusters gate. */
  private lazy val winnowPairsSelectSql: String =
    s"""WITH $NearDupCorpusSql,
       |g AS (
       |  SELECT doc_id, text,
       |         unnest(range(1, greatest(len(text) - 8 + 2, 1))) AS pos
       |  FROM corpus),
       |h AS (SELECT doc_id, pos,
       |        list_reduce(
       |          list_transform(range(0, 8),
       |                         j -> CAST(ascii(substr(text, pos + j, 1)) AS BIGINT)),
       |          (a, b) -> (a * 31 + b) % 2147483647) AS h
       |      FROM g),
       |wmin AS (
       |  SELECT doc_id, pos AS j, min(h) OVER win AS mh, count(*) OVER win AS cnt
       |  FROM h
       |  WINDOW win AS (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)),
       |wfull AS (SELECT * FROM wmin WHERE cnt = 8),
       |picks AS (
       |  SELECT f.doc_id, f.j, max(h.pos) AS pos, f.mh AS fp
       |  FROM wfull f
       |  JOIN h ON h.doc_id = f.doc_id
       |        AND h.pos BETWEEN f.j AND f.j + 7 AND h.h = f.mh
       |  GROUP BY f.doc_id, f.j, f.mh),
       |posting AS (SELECT DISTINCT doc_id, fp FROM picks),
       |rare AS (SELECT fp FROM posting GROUP BY fp HAVING COUNT(*) <= 50),
       |p AS (SELECT posting.doc_id, posting.fp FROM posting JOIN rare USING (fp))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
       |FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= 12""".stripMargin

  /** The RFC 9309 decision engine as oracle CTEs (ends with `dec` =
    * (doc_id, url_host, allowed)) — shared by the robots gate and the
    * crawl-frontier composition gate. Expects the urlCorpus CTE `u` in
    * scope. */
  private lazy val robotsDecisionCtes: String =
    s"""up AS (
       |  SELECT doc_id, ${Url.hostSql("url_raw")} AS h,
       |    ${Url.pathSql("url_raw")} AS p
       |  FROM u),
       |rules(host, agent, allow, rule_path) AS (
       |  VALUES $robotsRulesValuesSql),
       |xh AS (SELECT DISTINCT host FROM rules WHERE lower(agent) = 'graftbot'),
       |grp AS (
       |  SELECT host, allow, rule_path FROM rules
       |  WHERE lower(agent) = 'graftbot'
       |  UNION ALL
       |  SELECT host, allow, rule_path FROM rules
       |  WHERE agent = '*' AND host NOT IN (SELECT host FROM xh)),
       |pat AS (
       |  SELECT host, allow, rule_path, ${Url.rulePatternSql} AS rx
       |  FROM grp),
       |m AS (
       |  SELECT up.doc_id, length(pat.rule_path) AS plen, pat.allow
       |  FROM up JOIN pat ON up.h = pat.host AND regexp_matches(up.p, pat.rx)),
       |mb AS (SELECT doc_id, max(plen) AS mp FROM m GROUP BY doc_id),
       |v AS (
       |  SELECT m.doc_id, max(CASE WHEN m.allow THEN 1 ELSE 0 END) = 1
       |    AS allowed
       |  FROM m JOIN mb ON m.doc_id = mb.doc_id AND m.plen = mb.mp
       |  GROUP BY m.doc_id),
       |dec AS (
       |  SELECT up.doc_id, up.h AS url_host,
       |    COALESCE(v.allowed, true) AS allowed
       |  FROM up LEFT JOIN v ON up.doc_id = v.doc_id)""".stripMargin

  /** Unrolled-CTE replay of [[graft.ext.LogReg.train]] (the ext_pagerank
    * discipline: one CTE triple per iteration, every step the same
    * truncating integer ops as the engine): lab → feats (+bias rows) →
    * w0 = 0 → (z, e4, g, w+1) × iterations. Leaves w$iterations bound. */
  private def lrCtes(iterations: Int, buckets: Int): String = {
    val h4 = "CAST(4000000000 AS HUGEINT)"
    val iters = (0 until iterations).map { i =>
      s"""z$i AS (SELECT doc, MAX(y) AS y, SUM(CAST(x AS HUGEINT) * wq) AS z
         |        FROM feats JOIN w$i USING (b) GROUP BY doc),
         |e$i AS (SELECT doc,
         |          CAST(GREATEST(CAST(0 AS HUGEINT),
         |                 LEAST($h4, z + 2000000000)) - $h4 * y AS BIGINT) AS e4
         |        FROM z$i),
         |g$i AS (SELECT b, SUM(CAST(e4 AS HUGEINT) * x) AS g
         |        FROM feats JOIN e$i USING (doc) GROUP BY b),
         |w${i + 1} AS (SELECT w$i.b AS b,
         |              CAST(wq - g // (CAST(4 AS HUGEINT) * n.n) AS BIGINT) AS wq
         |            FROM w$i JOIN g$i USING (b) CROSS JOIN n)""".stripMargin
    }
    s"""WITH lab AS (SELECT doc_id AS doc, text,
       |              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |            FROM documents WHERE doc_id % 2 = 0),
       |feats AS (
       |  SELECT doc, y, b, COUNT(*) AS x
       |  FROM (SELECT doc, y,
       |          unnest(${graft.ext.Dsir.featureBucketsSql("text", buckets)}) AS b
       |        FROM lab)
       |  GROUP BY doc, y, b
       |  UNION ALL
       |  SELECT doc, y, -1, 1 FROM lab),
       |n AS (SELECT COUNT(*) AS n FROM lab),
       |w0 AS (SELECT DISTINCT b, CAST(0 AS BIGINT) AS wq FROM feats),
       |${iters.mkString(",\n")}""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "ext_lr_train" ->
      s"""${lrCtes(3, 1000)}
         |SELECT b, wq FROM w3 ORDER BY b""".stripMargin,

    "ext_lr_quality" ->
      s"""${lrCtes(3, 1000)},
         |sf AS (
         |  SELECT doc, b, COUNT(*) AS x
         |  FROM (SELECT doc_id AS doc,
         |          unnest(${graft.ext.Dsir.featureBucketsSql("text", 1000)}) AS b
         |        FROM documents)
         |  GROUP BY doc, b
         |  UNION ALL
         |  SELECT doc_id, -1, 1 FROM documents),
         |sc AS (SELECT doc, SUM(CAST(x AS HUGEINT) * wq) AS z
         |       FROM sf JOIN w3 USING (b) GROUP BY doc)
         |SELECT doc AS doc_id, CAST(z AS BIGINT) AS zq,
         |  CAST(GREATEST(CAST(0 AS HUGEINT),
         |         LEAST(CAST(4000000000 AS HUGEINT), z + 2000000000)) AS BIGINT) AS p4,
         |  CAST(CASE WHEN z >= 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
         |FROM sc ORDER BY doc_id""".stripMargin,

    "ext_lr_auc" ->
      s"""${lrCtes(3, 1000)},
         |sf AS (
         |  SELECT doc, b, COUNT(*) AS x
         |  FROM (SELECT doc_id AS doc,
         |          unnest(${graft.ext.Dsir.featureBucketsSql("text", 1000)}) AS b
         |        FROM documents)
         |  GROUP BY doc, b
         |  UNION ALL
         |  SELECT doc_id, -1, 1 FROM documents),
         |sc AS (SELECT doc, CAST(SUM(CAST(x AS HUGEINT) * wq) AS BIGINT) AS z
         |       FROM sf JOIN w3 USING (b) GROUP BY doc),
         |lb AS (SELECT sc.doc, sc.z,
         |         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         |       FROM sc JOIN documents d ON d.doc_id = sc.doc),
         |g AS (SELECT z AS s, CAST(SUM(y) AS BIGINT) AS p,
         |        CAST(SUM(1 - y) AS BIGINT) AS n
         |      FROM lb GROUP BY z),
         |c AS (SELECT s, p, n,
         |        COALESCE(SUM(n) OVER (ORDER BY s
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn
         |      FROM g)
         |SELECT CAST(SUM(CAST(p AS HUGEINT) * cn * 2 + CAST(p AS HUGEINT) * n)
         |         AS BIGINT) AS u2,
         |  CAST(SUM(p) AS BIGINT) AS n_pos, CAST(SUM(n) AS BIGINT) AS n_neg,
         |  CAST(CASE WHEN SUM(p) > 0 AND SUM(n) > 0 THEN
         |    (SUM(CAST(p AS HUGEINT) * cn * 2 + CAST(p AS HUGEINT) * n) * 1000000)
         |      // (2 * SUM(p) * SUM(n))
         |  END AS BIGINT) AS auc_ppm
         |FROM c""".stripMargin,

    "ext_lr_auc_sliced" ->
      s"""${lrCtes(3, 1000)},
         |sf AS (
         |  SELECT doc, b, COUNT(*) AS x
         |  FROM (SELECT doc_id AS doc,
         |          unnest(${graft.ext.Dsir.featureBucketsSql("text", 1000)}) AS b
         |        FROM documents)
         |  GROUP BY doc, b
         |  UNION ALL
         |  SELECT doc_id, -1, 1 FROM documents),
         |sc AS (SELECT doc, CAST(SUM(CAST(x AS HUGEINT) * wq) AS BIGINT) AS z
         |       FROM sf JOIN w3 USING (b) GROUP BY doc),
         |lb AS (SELECT d.source, sc.z,
         |         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         |       FROM sc JOIN documents d ON d.doc_id = sc.doc),
         |g AS (SELECT source, z AS s, CAST(SUM(y) AS BIGINT) AS p,
         |        CAST(SUM(1 - y) AS BIGINT) AS n
         |      FROM lb GROUP BY source, z),
         |c AS (SELECT source, s, p, n,
         |        COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY s
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn
         |      FROM g)
         |SELECT source,
         |  CAST(SUM(CAST(p AS HUGEINT) * cn * 2 + CAST(p AS HUGEINT) * n)
         |         AS BIGINT) AS u2,
         |  CAST(SUM(p) AS BIGINT) AS n_pos, CAST(SUM(n) AS BIGINT) AS n_neg,
         |  CAST(CASE WHEN SUM(p) > 0 AND SUM(n) > 0 THEN
         |    (SUM(CAST(p AS HUGEINT) * cn * 2 + CAST(p AS HUGEINT) * n) * 1000000)
         |      // (2 * SUM(p) * SUM(n))
         |  END AS BIGINT) AS auc_ppm
         |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "ext_lr_pr_curve" ->
      s"""${lrCtes(3, 1000)},
         |sf AS (
         |  SELECT doc, b, COUNT(*) AS x
         |  FROM (SELECT doc_id AS doc,
         |          unnest(${graft.ext.Dsir.featureBucketsSql("text", 1000)}) AS b
         |        FROM documents)
         |  GROUP BY doc, b
         |  UNION ALL
         |  SELECT doc_id, -1, 1 FROM documents),
         |sc AS (SELECT doc, CAST(SUM(CAST(x AS HUGEINT) * wq) AS BIGINT) AS z
         |       FROM sf JOIN w3 USING (b) GROUP BY doc),
         |lb AS (SELECT sc.z, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         |       FROM sc JOIN documents d ON d.doc_id = sc.doc),
         |g AS (SELECT z AS s, CAST(SUM(y) AS BIGINT) AS p,
         |        CAST(SUM(1 - y) AS BIGINT) AS n
         |      FROM lb GROUP BY z),
         |c AS (SELECT s, p, n,
         |        SUM(p) OVER (ORDER BY s DESC
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         |        SUM(n) OVER (ORDER BY s DESC
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
         |      FROM g),
         |tot AS (SELECT SUM(p) AS np FROM g)
         |SELECT s, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(tot.np - tp AS BIGINT) AS fn,
         |  CAST((tp * 1000000) // (tp + fp) AS BIGINT) AS precision_ppm,
         |  CAST(CASE WHEN tot.np > 0 THEN (tp * 1000000) // tot.np END
         |    AS BIGINT) AS recall_ppm
         |FROM c CROSS JOIN tot ORDER BY s DESC""".stripMargin,

    "ext_lr_calibration" ->
      s"""${lrCtes(3, 1000)},
         |sf AS (
         |  SELECT doc, b, COUNT(*) AS x
         |  FROM (SELECT doc_id AS doc,
         |          unnest(${graft.ext.Dsir.featureBucketsSql("text", 1000)}) AS b
         |        FROM documents)
         |  GROUP BY doc, b
         |  UNION ALL
         |  SELECT doc_id, -1, 1 FROM documents),
         |sc AS (SELECT doc, SUM(CAST(x AS HUGEINT) * wq) AS z
         |       FROM sf JOIN w3 USING (b) GROUP BY doc),
         |binned AS (
         |  SELECT GREATEST(-5, LEAST(5, CAST(z AS BIGINT) // 2000000000))
         |           AS bin,
         |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM sc JOIN documents d ON d.doc_id = sc.doc)
         |SELECT CAST(bin AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(y) AS BIGINT) AS n_pos
         |FROM binned GROUP BY bin ORDER BY bin""".stripMargin,

    "ext_lr_ece" ->
      s"""${lrCtes(3, 1000)},
         |sf AS (
         |  SELECT doc, b, COUNT(*) AS x
         |  FROM (SELECT doc_id AS doc,
         |          unnest(${graft.ext.Dsir.featureBucketsSql("text", 1000)}) AS b
         |        FROM documents)
         |  GROUP BY doc, b
         |  UNION ALL
         |  SELECT doc_id, -1, 1 FROM documents),
         |sc AS (SELECT doc, SUM(CAST(x AS HUGEINT) * wq) AS z
         |       FROM sf JOIN w3 USING (b) GROUP BY doc),
         |binned AS (
         |  SELECT GREATEST(-5, LEAST(5, CAST(z AS BIGINT) // 2000000000))
         |           AS bin,
         |    CAST(GREATEST(CAST(0 AS HUGEINT),
         |           LEAST(CAST(4000000000 AS HUGEINT), z + 2000000000))
         |         AS HUGEINT) AS p4,
         |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM sc JOIN documents d ON d.doc_id = sc.doc),
         |bb AS (SELECT bin, COUNT(*) AS n, SUM(y) AS n_pos, SUM(p4) AS sp4
         |       FROM binned GROUP BY bin)
         |SELECT CAST(SUM(n) AS BIGINT) AS n, COUNT(*) AS n_bins,
         |  CAST(SUM(ABS(sp4 - n_pos * 4000000000)) AS DOUBLE) AS gap_sum,
         |  CAST((SUM(ABS(sp4 - n_pos * 4000000000)) * 1000000)
         |       // (SUM(n) * CAST(4000000000 AS HUGEINT)) AS BIGINT) AS ece_ppm
         |FROM bb""".stripMargin,

    "ext_curation_e2e" ->
      s"""${lrCtes(3, 1000)},
         |sf AS (
         |  SELECT doc, b, COUNT(*) AS x
         |  FROM (SELECT doc_id AS doc,
         |          unnest(${graft.ext.Dsir.featureBucketsSql("text", 1000)}) AS b
         |        FROM documents)
         |  GROUP BY doc, b
         |  UNION ALL
         |  SELECT doc_id, -1, 1 FROM documents),
         |sc AS (SELECT doc, SUM(CAST(x AS HUGEINT) * wq) AS z
         |       FROM sf JOIN w3 USING (b) GROUP BY doc),
         |thr AS (SELECT SUM(z) // COUNT(*) AS t FROM sc),
         |kept AS (SELECT d.doc_id, d.lang, d.text
         |         FROM documents d JOIN sc ON sc.doc = d.doc_id
         |         CROSS JOIN thr
         |         WHERE sc.z >= thr.t),
         |canon AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
         |cd AS (SELECT k.lang, k.doc_id,
         |         ${TextHash.hmodSql("(k.doc_id :: VARCHAR || ':cur1')")} AS qh
         |       FROM kept k JOIN canon USING (doc_id)),
         |r AS (SELECT lang, doc_id,
         |        CAST(row_number() OVER (PARTITION BY lang
         |          ORDER BY qh ASC, doc_id ASC) AS BIGINT) AS rank
         |      FROM cd)
         |SELECT lang, doc_id, rank FROM r WHERE rank <= 30
         |ORDER BY lang, rank""".stripMargin,

    "ext_bm25_topk" -> bm25OracleSql,
    "ext_bm25f_topk" ->
      s"""WITH q(query_id, term) AS (VALUES $bm25QueryValuesSql),
         |base AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |flds AS (
         |  SELECT doc_id, 0 AS f, toks[1:5] AS ft FROM base
         |  UNION ALL
         |  SELECT doc_id, 1, toks[6:] FROM base),
         |fstats AS (SELECT f, COUNT(*) AS n_docs, SUM(len(ft)) AS sum_dl
         |           FROM flds GROUP BY f),
         |tf AS (SELECT doc_id, f, len(ft) AS dl, term, COUNT(*) AS tf
         |       FROM (SELECT doc_id, f, ft, unnest(ft) AS term FROM flds)
         |       WHERE term IN (SELECT term FROM q)
         |       GROUP BY doc_id, f, dl, term),
         |cf AS (SELECT doc_id, term,
         |    CAST((CASE f WHEN 0 THEN 2.5 ELSE 1.0 END) * CAST(tf AS DOUBLE)
         |      / (1.0 - (CASE f WHEN 0 THEN 0.5 ELSE 0.75 END)
         |         + (CASE f WHEN 0 THEN 0.5 ELSE 0.75 END)
         |           * (CAST(dl AS DOUBLE)
         |              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
         |      AS DECIMAL(18,9)) AS cfv
         |  FROM tf JOIN fstats USING (f)),
         |tfw AS (SELECT doc_id, term,
         |          CAST(SUM(cfv) * 1000000000 AS BIGINT) AS ppb
         |        FROM cf GROUP BY doc_id, term),
         |dft AS (SELECT term, COUNT(*) AS df FROM tfw GROUP BY term),
         |n AS (SELECT n_docs FROM fstats WHERE f = 0),
         |raw AS (SELECT q.query_id, tfw.doc_id,
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |             / (CAST(df AS DOUBLE) + 0.5))
         |    * (CAST(ppb AS DOUBLE) / 1000000000.0)
         |    / (1.2 + CAST(ppb AS DOUBLE) / 1000000000.0) AS r
         |  FROM tfw JOIN q USING (term) JOIN dft USING (term) CROSS JOIN n),
         |score AS (SELECT query_id, doc_id, SUM(CAST(r AS DECIMAL(18,9))) AS s
         |          FROM raw GROUP BY query_id, doc_id),
         |ranked AS (SELECT query_id, doc_id, s,
         |  row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC)
         |    AS rank
         |  FROM score)
         |SELECT query_id, rank, doc_id, CAST(s AS DECIMAL(18,9)) AS score
         |FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,
    "ext_bm25_indexed" -> bm25OracleSql,
    "ext_bm25_incremental" -> bm25OracleSql,
    "ext_bm25_delete" -> bm25OracleSqlOver(
      "(SELECT * FROM documents WHERE doc_id % 5 <> 3)"),

    // hybrid fusion oracle: replays the BM25 arm (shared spec, depth 20),
    // the cosine arm (shared norm/dot spec, self-excluded, depth 20), then
    // the integer-reciprocal fusion — 1000000000 // (60+rank) is DuckDB's
    // int division, mirroring Spark's `div`
    "ext_hybrid_rrf" ->
      s"""WITH q(query_id, term) AS (VALUES $bm25QueryValuesSql),
         |base AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |stats AS (SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS sum_dl FROM base),
         |tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base),
         |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM tok
         |       WHERE term IN (SELECT term FROM q) GROUP BY doc_id, dl, term),
         |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |raw AS (
         |  SELECT q.query_id, tf.doc_id,
         |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |             / (CAST(df AS DOUBLE) + 0.5))
         |    * (CAST(tf AS DOUBLE) * 2.2
         |       / (CAST(tf AS DOUBLE)
         |          + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE)
         |              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))) AS r
         |  FROM tf JOIN q USING (term) JOIN dft USING (term) CROSS JOIN stats),
         |score AS (SELECT query_id, doc_id, SUM(CAST(r AS DECIMAL(18,9))) AS s
         |          FROM raw GROUP BY query_id, doc_id),
         |lex AS (SELECT query_id AS q_id, doc_id AS c_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS rank
         |  FROM score),
         |$NormCte,
         |vq AS (SELECT * FROM n WHERE vec_id < 4),
         |vscored AS (
         |  SELECT vq.vec_id AS q_id, c.vec_id AS c_id,
         |    ${dotSql("vq.embedding", "c.embedding")} / (vq.nrm * c.nrm) AS cosine
         |  FROM n c CROSS JOIN vq WHERE c.vec_id <> vq.vec_id),
         |vec AS (SELECT q_id, c_id,
         |  row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
         |  FROM vscored),
         |contrib AS (
         |  SELECT q_id, c_id, 1000000000 // (60 + rank) AS contrib
         |  FROM lex WHERE rank <= 20
         |  UNION ALL
         |  SELECT q_id, c_id, 1000000000 // (60 + rank)
         |  FROM vec WHERE rank <= 20),
         |fused AS (SELECT q_id, c_id, CAST(SUM(contrib) AS BIGINT) AS rrf,
         |  COUNT(*) AS n_arms FROM contrib GROUP BY q_id, c_id),
         |ranked AS (SELECT q_id, c_id, rrf, n_arms,
         |  row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, c_id ASC) AS rank
         |  FROM fused)
         |SELECT q_id, rank, c_id, rrf, n_arms
         |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,

    "ext_retrieval_metrics" -> {
      // the discount literals come from the SAME Scala constants the Spark
      // plan embeds — neither engine evaluates log2 itself
      val disc = Retrieval.discountPpm(10).zipWithIndex
        .map { case (d, i) => s"(${i + 1}, $d)" }.mkString(", ")
      val cum = Retrieval.discountCumPpm(10).zipWithIndex
        .map { case (c, i) => s"($i, $c)" }.mkString(", ")
      s"""WITH rankedq AS (SELECT * FROM ($bm25OracleSql) br),
         |q(query_id, term) AS (VALUES $bm25QueryValuesSql),
         |disc(rank, dppm) AS (VALUES $disc),
         |dcum(r, cum) AS (VALUES $cum),
         |toksq AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |grade AS (SELECT q.query_id, tk.doc_id,
         |            LEAST(4, COUNT(*) // 3) AS grade
         |          FROM (SELECT doc_id, unnest(toks) AS term FROM toksq) tk
         |          JOIN q USING (term)
         |          GROUP BY q.query_id, tk.doc_id
         |          HAVING LEAST(4, COUNT(*) // 3) > 0),
         |dcg AS (SELECT r.query_id, COUNT(*) AS n_ranked,
         |          SUM(((1 << COALESCE(g.grade, 0)) - 1) * d.dppm) AS dcg_micro
         |        FROM rankedq r
         |        LEFT JOIN grade g ON g.query_id = r.query_id AND g.doc_id = r.doc_id
         |        JOIN disc d ON d.rank = r.rank
         |        GROUP BY r.query_id),
         |hist AS (SELECT query_id, grade, COUNT(*) AS cnt FROM grade GROUP BY 1, 2),
         |hs AS (SELECT query_id, grade, cnt,
         |         COALESCE(SUM(cnt) OVER (PARTITION BY query_id ORDER BY grade DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
         |       FROM hist),
         |idcg AS (SELECT query_id,
         |           SUM(((1 << grade) - 1) * (d1.cum - d2.cum)) AS idcg_micro
         |         FROM hs
         |         JOIN dcum d1 ON d1.r = LEAST(strt + cnt, 10)
         |         JOIN dcum d2 ON d2.r = LEAST(strt, 10)
         |         GROUP BY query_id),
         |fr AS (SELECT r.query_id, MIN(r.rank) AS first_rel_rank
         |       FROM rankedq r
         |       JOIN grade g ON g.query_id = r.query_id AND g.doc_id = r.doc_id
         |       WHERE g.grade >= 4 GROUP BY r.query_id)
         |SELECT qs.query_id,
         |  CAST(COALESCE(dcg.n_ranked, 0) AS BIGINT) AS n_ranked,
         |  CAST(COALESCE(dcg.dcg_micro, 0) AS BIGINT) AS dcg_micro,
         |  CAST(COALESCE(idcg.idcg_micro, 0) AS BIGINT) AS idcg_micro,
         |  CAST(CASE WHEN COALESCE(idcg.idcg_micro, 0) > 0
         |       THEN (COALESCE(dcg.dcg_micro, 0) * 1000000) // idcg.idcg_micro
         |       ELSE 0 END AS BIGINT) AS ndcg_ppm,
         |  CAST(fr.first_rel_rank AS BIGINT) AS first_rel_rank,
         |  CAST(COALESCE(1000000 // fr.first_rel_rank, 0) AS BIGINT) AS rr_ppm
         |FROM (SELECT DISTINCT query_id FROM q) qs
         |LEFT JOIN dcg ON dcg.query_id = qs.query_id
         |LEFT JOIN idcg ON idcg.query_id = qs.query_id
         |LEFT JOIN fr ON fr.query_id = qs.query_id
         |ORDER BY qs.query_id""".stripMargin
    },

    "ext_trunc_recall" -> {
      val dot16 = dotScaledSqlN("q.emb16", "c.emb16", 16)
      val nrm16 = dotScaledSqlN("embedding[1:16]", "embedding[1:16]", 16)
      s"""WITH $NormCte,
         |n16 AS (SELECT vec_id, embedding[1:16] AS emb16,
         |  sqrt(CAST($nrm16 AS DOUBLE) / 1e15) AS nrm FROM embeddings),
         |qs AS (SELECT * FROM n WHERE vec_id < 50),
         |q16 AS (SELECT * FROM n16 WHERE vec_id < 50),
         |exact AS (SELECT q_id, c_id FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
         |               c.vec_id ASC) AS rank
         |  FROM n c CROSS JOIN qs q WHERE c.vec_id <> q.vec_id)
         |  WHERE rank <= 5),
         |trunc AS (SELECT q_id, c_id FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY (CAST($dot16 AS DOUBLE) / 1e15) / (q.nrm * c.nrm) DESC,
         |               c.vec_id ASC) AS rank
         |  FROM n16 c CROSS JOIN q16 q WHERE c.vec_id <> q.vec_id)
         |  WHERE rank <= 5)
         |SELECT e.q_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hit,
         |  CAST((SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
         |       // COUNT(*) AS BIGINT) AS recall_ppm
         |FROM exact e
         |LEFT JOIN trunc a ON a.q_id = e.q_id AND a.c_id = e.c_id
         |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin
    },

    "ext_novelty" -> noveltyOracleSql,
    // the persistent-index paths are lossless by construction (membership
    // over the same distinct gram set, duplicate-insensitive probe), so
    // both replay the scan path's oracle
    "ext_novelty_indexed" -> noveltyOracleSql,
    "ext_novelty_index_incremental" -> noveltyOracleSql,

    "ext_phrase_index" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS pos FROM base),
        |tok AS (SELECT doc_id, pos, toks[pos] AS term FROM g)
        |SELECT 'data query' AS phrase, t0.doc_id, t0.pos AS start_pos
        |FROM tok t0
        |JOIN tok t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
        |WHERE t0.term = 'data' AND t1.term = 'query'
        |UNION ALL
        |SELECT 'data query table', t0.doc_id, t0.pos
        |FROM tok t0
        |JOIN tok t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
        |JOIN tok t2 ON t2.doc_id = t0.doc_id AND t2.pos = t0.pos + 2
        |WHERE t0.term = 'data' AND t1.term = 'query' AND t2.term = 'table'
        |ORDER BY phrase, doc_id, start_pos""".stripMargin,

    "ext_components" ->
      """WITH RECURSIVE base AS (
        |  SELECT l_suppkey + 10000000000 AS src, o_custkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_suppkey % 10 = o_custkey % 10),
        |e AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
        |reach(node, r) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.src, reach.r FROM e JOIN reach ON reach.node = e.dst)
        |SELECT node, min(r) AS component FROM reach
        |GROUP BY node ORDER BY node""".stripMargin,

    "ext_winnow_pairs" ->
      s"$winnowPairsSelectSql\nORDER BY id_a, id_b",

    "ext_winnow_clusters" ->
      s"""WITH RECURSIVE wpairs AS ($winnowPairsSelectSql),
         |e AS (SELECT id_a AS src, id_b AS dst FROM wpairs
         |      UNION SELECT id_b, id_a FROM wpairs),
         |reach(node, r) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON reach.node = e.dst)
         |SELECT node, min(r) AS component FROM reach
         |GROUP BY node ORDER BY node""".stripMargin,

    "ext_winnow" ->
      """WITH g AS (
        |  SELECT doc_id, text,
        |         unnest(range(1, greatest(len(text) - 8 + 2, 1))) AS pos
        |  FROM documents),
        |h AS (SELECT doc_id, pos,
        |        list_reduce(
        |          list_transform(range(0, 8),
        |                         j -> CAST(ascii(substr(text, pos + j, 1)) AS BIGINT)),
        |          (a, b) -> (a * 31 + b) % 2147483647) AS h
        |      FROM g),
        |wmin AS (
        |  SELECT doc_id, pos AS j, min(h) OVER win AS mh, count(*) OVER win AS cnt
        |  FROM h
        |  WINDOW win AS (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)),
        |wfull AS (SELECT * FROM wmin WHERE cnt = 8),
        |picks AS (
        |  SELECT f.doc_id, f.j, max(h.pos) AS pos, f.mh AS fp
        |  FROM wfull f
        |  JOIN h ON h.doc_id = f.doc_id
        |        AND h.pos BETWEEN f.j AND f.j + 7 AND h.h = f.mh
        |  GROUP BY f.doc_id, f.j, f.mh)
        |SELECT DISTINCT doc_id, pos, fp FROM picks
        |ORDER BY doc_id, pos, fp""".stripMargin,

    "ext_fuzzy_match" ->
      """WITH dirty AS (
        |  SELECT p_partkey + 10000000 AS l_id,
        |    substr(p_name, 1, d - 1) ||
        |      substr(p_name, d + 1, length(p_name)) AS name
        |  FROM (SELECT p_partkey, p_name,
        |          1 + (p_partkey % length(p_name)) AS d
        |        FROM part WHERE p_partkey % 4 = 0)),
        |pairs AS (
        |  SELECT d.l_id, p.p_partkey AS r_id,
        |    levenshtein(d.name, p.p_name) AS dist
        |  FROM dirty d JOIN part p
        |    ON split_part(d.name, ' ', 1) = split_part(p.p_name, ' ', 1)
        |  WHERE levenshtein(d.name, p.p_name) <= 2)
        |SELECT l_id, r_id, dist FROM (
        |  SELECT l_id, r_id, dist,
        |    row_number() OVER (PARTITION BY l_id ORDER BY dist, r_id) AS rn
        |  FROM pairs) WHERE rn = 1 ORDER BY l_id""".stripMargin,

    "ext_html_extract" ->
      """WITH pages AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title>' || chr(10) ||
        |    '<style type="text/css">p{color:red}</style>' || chr(10) ||
        |    '<script>var x = 1 < 2 && "s";</script></head>' || chr(10) ||
        |    '<body><h1>Sec ' || CAST(doc_id % 7 AS VARCHAR) || '</h1>' ||
        |    chr(10) || '<p>' || text || '</p>' || chr(10) ||
        |    '<a href="https://site' || CAST(doc_id % 20 AS VARCHAR) ||
        |    '.example.com/p' || CAST(doc_id % 50 AS VARCHAR) ||
        |    '">link</a>' ||
        |    (CASE WHEN doc_id % 3 = 0
        |          THEN chr(10) || '<a href="/rel/p2">rel</a>' ELSE '' END) ||
        |    chr(10) || '<p>Tom &amp; Jerry &lt;3 &quot;q&quot; &#39;s' ||
        |    '&nbsp;end</p></body></html>' AS html
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(html,
        |        '<script[^>]*>.*?</script>', ' ', 'gs'),
        |        '<style[^>]*>.*?</style>', ' ', 'gs'),
        |        '<[^>]+>', ' ', 'gs'),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |      '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS text_clean,
        |  COALESCE(array_to_string(
        |    regexp_extract_all(html, 'href="([^"]*)"', 1), '|'), '') AS links_s,
        |  len(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS n_links
        |FROM pages ORDER BY doc_id""".stripMargin,

    "ext_markdown_extract" ->
      """WITH pages AS (
        |  SELECT doc_id,
        |    '# Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |    '> intro quote' || chr(10) ||
        |    '**Head' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '** with *emph* `code span` and _under_' || chr(10) ||
        |    '- [link' || CAST(doc_id % 3 AS VARCHAR) ||
        |    '](https://site' || CAST(doc_id % 20 AS VARCHAR) ||
        |    '.example.com/p' || CAST(doc_id % 50 AS VARCHAR) || ')' ||
        |    chr(10) || '1. ![alt' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '](https://img.example.com/i' || CAST(doc_id % 9 AS VARCHAR) ||
        |    '.png)' || chr(10) || '```scala' || chr(10) ||
        |    'val hidden = [no](/link) **x**' || chr(10) || '```' ||
        |    chr(10) || text || chr(10) || '---' || chr(10) AS md
        |  FROM documents),
        |nofence AS (
        |  SELECT doc_id, regexp_replace(md, '(?s)```.*?```', ' ', 'g') AS t,
        |    regexp_extract_all(regexp_replace(md, '(?s)```.*?```', ' ', 'g'),
        |                       '\]\(([^)]*)\)', 1) AS links
        |  FROM pages),
        |clean AS (
        |  SELECT doc_id, links,
        |    trim(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |        t,
        |        '`([^`]*)`', '\1', 'g'),
        |        '!\[([^\]]*)\]\(([^)]*)\)', '\1', 'g'),
        |        '\[([^\]]*)\]\(([^)]*)\)', '\1', 'g'),
        |        '(?m)^#{1,6} +', '', 'g'),
        |        '(?m)^ {0,3}> ?', '', 'g'),
        |        '(?m)^ *[-*+] +', '', 'g'),
        |        '(?m)^ *[0-9]+\. +', '', 'g'),
        |        '(?m)^ *([-*_] *){3,}$', ' ', 'g'),
        |        '\*\*([^*]+)\*\*', '\1', 'g'),
        |        '__([^_]+)__', '\1', 'g'),
        |        '\*([^*]+)\*', '\1', 'g'),
        |        '\b_([^_]+)_\b', '\1', 'g'),
        |      '\s+', ' ', 'g')) AS text_clean
        |  FROM nofence)
        |SELECT doc_id, text_clean,
        |  COALESCE(array_to_string(links, '|'), '') AS links_s,
        |  CAST(len(links) AS BIGINT) AS n_links
        |FROM clean ORDER BY doc_id""".stripMargin,

    "ext_blocklist" ->
      s"""WITH pats(idx, p) AS (VALUES $blocklistPatsValuesSql),
        |occ AS (
        |  SELECT d.doc_id, pats.idx, g.i
        |  FROM documents d CROSS JOIN pats
        |  CROSS JOIN LATERAL (SELECT unnest(generate_series(
        |    1, greatest(length(d.text) - length(pats.p) + 1, 0))) AS i) g
        |  WHERE substr(d.text, g.i, length(pats.p)) = pats.p),
        |cnt AS (
        |  SELECT d.doc_id, pats.idx,
        |    count(o.i) AS c_sub,
        |    count(o.i) FILTER (
        |      (o.i = 1 OR NOT regexp_full_match(
        |         substr(d.text, o.i - 1, 1), '[A-Za-z0-9]'))
        |      AND (o.i + length(pats.p) > length(d.text)
        |           OR NOT regexp_full_match(
        |                substr(d.text, o.i + length(pats.p), 1),
        |                '[A-Za-z0-9]'))) AS c_word
        |  FROM documents d CROSS JOIN pats
        |  LEFT JOIN occ o ON o.doc_id = d.doc_id AND o.idx = pats.idx
        |  GROUP BY d.doc_id, pats.idx, d.text, pats.p)
        |SELECT doc_id,
        |  string_agg(CAST(c_sub AS VARCHAR), ',' ORDER BY idx) AS counts_sub_s,
        |  string_agg(CAST(c_word AS VARCHAR), ',' ORDER BY idx) AS counts_word_s,
        |  CAST(SUM(c_sub) AS BIGINT) AS total_sub,
        |  CAST(SUM(c_word) AS BIGINT) AS total_word,
        |  CAST(SUM(CASE WHEN c_word > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pat_word
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ext_blocklist_profile" ->
      s"""WITH pats(idx, p) AS (VALUES $blocklistPatsValuesSql),
        |occ AS (
        |  SELECT d.doc_id, pats.idx, g.i
        |  FROM documents d CROSS JOIN pats
        |  CROSS JOIN LATERAL (SELECT unnest(generate_series(
        |    1, greatest(length(d.text) - length(pats.p) + 1, 0))) AS i) g
        |  WHERE substr(d.text, g.i, length(pats.p)) = pats.p),
        |cnt AS (
        |  SELECT d.doc_id, pats.idx,
        |    count(o.i) FILTER (
        |      (o.i = 1 OR NOT regexp_full_match(
        |         substr(d.text, o.i - 1, 1), '[A-Za-z0-9]'))
        |      AND (o.i + length(pats.p) > length(d.text)
        |           OR NOT regexp_full_match(
        |                substr(d.text, o.i + length(pats.p), 1),
        |                '[A-Za-z0-9]'))) AS c_word
        |  FROM documents d CROSS JOIN pats
        |  LEFT JOIN occ o ON o.doc_id = d.doc_id AND o.idx = pats.idx
        |  GROUP BY d.doc_id, pats.idx, d.text, pats.p)
        |SELECT c.idx AS pat_idx, p.p AS pattern,
        |  CAST(SUM(CASE WHEN c.c_word > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_hit,
        |  CAST(SUM(c.c_word) AS BIGINT) AS total_hits
        |FROM cnt c JOIN pats p ON p.idx = c.idx
        |GROUP BY c.idx, p.p ORDER BY pat_idx""".stripMargin,

    "ext_lz_ratio" ->
      """WITH RECURSIVE docs AS MATERIALIZED (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
        |pos AS (
        |  SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
        |  FROM docs),
        |best AS MATERIALIZED (
        |  SELECT p.doc_id, p.i, max(l.L) AS bestlen
        |  FROM pos p
        |  CROSS JOIN LATERAL (SELECT unnest(generate_series(
        |    greatest(1, p.i - 16), p.i - 1)) AS j) cj
        |  CROSS JOIN LATERAL (SELECT unnest(generate_series(
        |    4, least(12, length(p.text) - p.i + 1))) AS L) l
        |  WHERE substr(p.text, cj.j, l.L) = substr(p.text, p.i, l.L)
        |  GROUP BY p.doc_id, p.i),
        |walk(doc_id, pos, nlit, nmat, mchars) AS (
        |  SELECT doc_id, 1, 0, 0, 0 FROM docs
        |  UNION ALL
        |  SELECT w.doc_id, w.pos + COALESCE(b.bestlen, 1),
        |    w.nlit + CASE WHEN b.bestlen IS NULL THEN 1 ELSE 0 END,
        |    w.nmat + CASE WHEN b.bestlen IS NULL THEN 0 ELSE 1 END,
        |    w.mchars + COALESCE(b.bestlen, 0)
        |  FROM walk w
        |  JOIN docs d ON d.doc_id = w.doc_id
        |  LEFT JOIN best b ON b.doc_id = w.doc_id AND b.i = w.pos
        |  WHERE w.pos <= length(d.text))
        |SELECT w.doc_id AS doc_id, CAST(w.nlit AS BIGINT) AS n_literals,
        |  CAST(w.nmat AS BIGINT) AS n_matches,
        |  CAST(w.mchars AS BIGINT) AS match_chars
        |FROM walk w JOIN docs d ON d.doc_id = w.doc_id
        |WHERE w.pos > length(d.text)
        |ORDER BY w.doc_id""".stripMargin,

    "ext_chunk_windows" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |w AS (
        |  SELECT doc_id, t, g.wi
        |  FROM toks CROSS JOIN LATERAL (SELECT unnest(generate_series(0,
        |    greatest(0, least((len(t) - 12 + 8 - 1) // 8,
        |                      (len(t) - 1) // 8)))) AS wi) g)
        |SELECT doc_id, wi AS win_idx, wi * 8 AS win_start,
        |  array_to_string(t[wi * 8 + 1 : wi * 8 + 12], ' ') AS win_s,
        |  CAST(least(12, len(t) - wi * 8) AS BIGINT) AS win_len
        |FROM w ORDER BY doc_id, win_idx""".stripMargin,

    "ext_dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0)
        |SELECT md5(text) AS fingerprint, MIN(doc_id) AS keep_id, COUNT(*) AS copies
        |FROM corpus GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "ext_paragraph_dedup" ->
      """WITH pd AS (
        |  SELECT doc_id,
        |    'common header paragraph' || chr(10) || chr(10) ||
        |    substr(text, 1, 40) || chr(10) || chr(10) ||
        |    'common footer paragraph' || chr(10) || chr(10) ||
        |    substr(text, 41, 60) AS tp
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, i AS pos,
        |    string_split(tp, chr(10) || chr(10))[i + 1] AS para
        |  FROM pd CROSS JOIN generate_series(0, 3) AS g(i)),
        |h AS (SELECT doc_id, pos, para, md5(para) AS hh FROM p),
        |f AS (SELECT hh, MIN(doc_id * 4 + pos) AS fk FROM h GROUP BY hh),
        |k AS (
        |  SELECT h.doc_id, h.pos, h.para FROM h
        |  JOIN f ON h.hh = f.hh AND h.doc_id * 4 + h.pos = f.fk),
        |r AS (
        |  SELECT doc_id,
        |    array_to_string(list(para ORDER BY pos), chr(10) || chr(10))
        |      AS text,
        |    COUNT(*) AS n_kept
        |  FROM k GROUP BY doc_id)
        |SELECT pd.doc_id, COALESCE(r.text, '') AS text,
        |  CAST(4 AS BIGINT) AS n_paras,
        |  COALESCE(r.n_kept, 0) AS n_kept
        |FROM pd LEFT JOIN r ON pd.doc_id = r.doc_id
        |ORDER BY pd.doc_id""".stripMargin,

    "ext_drift_js" ->
      s"""WITH refd AS (
         |  SELECT text FROM documents WHERE doc_id % 2 = 0),
         |bat AS (
         |  SELECT CASE WHEN doc_id % 3 = 0
         |         THEN text || ' drifted marker tokens' ELSE text END AS text
         |  FROM documents WHERE doc_id % 2 = 1),
         |hp AS (
         |  SELECT ${TextHash.hmodSql("tok")} % 1024 AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS np
         |  FROM (SELECT unnest(${tokensSql("text")}) AS tok FROM refd)
         |  GROUP BY 1),
         |hq AS (
         |  SELECT ${TextHash.hmodSql("tok")} % 1024 AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS nq
         |  FROM (SELECT unnest(${tokensSql("text")}) AS tok FROM bat)
         |  GROUP BY 1),
         |j AS (
         |  SELECT COALESCE(hp.np, 0) AS np, COALESCE(hq.nq, 0) AS nq
         |  FROM hp FULL JOIN hq ON hp.bucket = hq.bucket),
         |t AS (
         |  SELECT CAST(SUM(np) AS BIGINT) AS tnp,
         |    CAST(SUM(nq) AS BIGINT) AS tnq FROM j),
         |s AS (
         |  SELECT t.tnp, t.tnq,
         |    SUM(CASE WHEN np > 0 THEN CAST(np AS HUGEINT) *
         |      CAST(round(ln(((2.0 * CAST(np AS DOUBLE)) * CAST(t.tnq AS DOUBLE)) /
         |        ((CAST(np AS DOUBLE) * CAST(t.tnq AS DOUBLE)) +
         |         (CAST(nq AS DOUBLE) * CAST(t.tnp AS DOUBLE)))) * 1e9)
         |        AS BIGINT) END) AS sp,
         |    SUM(CASE WHEN nq > 0 THEN CAST(nq AS HUGEINT) *
         |      CAST(round(ln(((2.0 * CAST(nq AS DOUBLE)) * CAST(t.tnp AS DOUBLE)) /
         |        ((CAST(np AS DOUBLE) * CAST(t.tnq AS DOUBLE)) +
         |         (CAST(nq AS DOUBLE) * CAST(t.tnp AS DOUBLE)))) * 1e9)
         |        AS BIGINT) END) AS sq
         |  FROM j CROSS JOIN t GROUP BY t.tnp, t.tnq)
         |SELECT tnp AS n_ref, tnq AS n_batch,
         |  CAST(sp AS DOUBLE) / (2e9 * CAST(tnp AS DOUBLE)) +
         |  CAST(sq AS DOUBLE) / (2e9 * CAST(tnq AS DOUBLE)) AS js
         |FROM s""".stripMargin,

    "ext_drift_numeric" ->
      s"""WITH refd AS (
         |  SELECT o_totalprice AS v FROM orders WHERE o_custkey % 2 = 0),
         |bat AS (
         |  SELECT CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 50000.0
         |         ELSE o_totalprice END AS v
         |  FROM orders WHERE o_custkey % 2 = 1),
         |hp AS (
         |  SELECT CASE WHEN v < 0.0 THEN -1
         |         WHEN v >= 600000.0 THEN 64
         |         ELSE CAST(floor(((v - 0.0) * 64.0) / 600000.0) AS BIGINT)
         |         END AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS np
         |  FROM refd WHERE v IS NOT NULL GROUP BY 1),
         |hq AS (
         |  SELECT CASE WHEN v < 0.0 THEN -1
         |         WHEN v >= 600000.0 THEN 64
         |         ELSE CAST(floor(((v - 0.0) * 64.0) / 600000.0) AS BIGINT)
         |         END AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS nq
         |  FROM bat WHERE v IS NOT NULL GROUP BY 1),
         |j AS (
         |  SELECT COALESCE(hp.np, 0) AS np, COALESCE(hq.nq, 0) AS nq
         |  FROM hp FULL JOIN hq ON hp.bucket = hq.bucket),
         |t AS (
         |  SELECT CAST(SUM(np) AS BIGINT) AS tnp,
         |    CAST(SUM(nq) AS BIGINT) AS tnq FROM j),
         |s AS (
         |  SELECT t.tnp, t.tnq,
         |    SUM(CASE WHEN np > 0 THEN CAST(np AS HUGEINT) *
         |      CAST(round(ln(((2.0 * CAST(np AS DOUBLE)) * CAST(t.tnq AS DOUBLE)) /
         |        ((CAST(np AS DOUBLE) * CAST(t.tnq AS DOUBLE)) +
         |         (CAST(nq AS DOUBLE) * CAST(t.tnp AS DOUBLE)))) * 1e9)
         |        AS BIGINT) END) AS sp,
         |    SUM(CASE WHEN nq > 0 THEN CAST(nq AS HUGEINT) *
         |      CAST(round(ln(((2.0 * CAST(nq AS DOUBLE)) * CAST(t.tnp AS DOUBLE)) /
         |        ((CAST(np AS DOUBLE) * CAST(t.tnq AS DOUBLE)) +
         |         (CAST(nq AS DOUBLE) * CAST(t.tnp AS DOUBLE)))) * 1e9)
         |        AS BIGINT) END) AS sq
         |  FROM j CROSS JOIN t GROUP BY t.tnp, t.tnq)
         |SELECT tnp AS n_ref, tnq AS n_batch,
         |  CAST(sp AS DOUBLE) / (2e9 * CAST(tnp AS DOUBLE)) +
         |  CAST(sq AS DOUBLE) / (2e9 * CAST(tnq AS DOUBLE)) AS js
         |FROM s""".stripMargin,

    "ext_drift_slices" ->
      s"""WITH refd AS (
         |  SELECT text FROM documents WHERE doc_id % 2 = 0),
         |bat AS (
         |  SELECT source, CASE WHEN doc_id % 3 = 0
         |         THEN text || ' drifted marker tokens' ELSE text END AS text
         |  FROM documents WHERE doc_id % 2 = 1),
         |hp AS (
         |  SELECT ${TextHash.hmodSql("tok")} % 1024 AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS np
         |  FROM (SELECT unnest(${tokensSql("text")}) AS tok FROM refd)
         |  GROUP BY 1),
         |hq AS (
         |  SELECT source, ${TextHash.hmodSql("tok")} % 1024 AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS nq
         |  FROM (SELECT source, unnest(${tokensSql("text")}) AS tok FROM bat)
         |  GROUP BY 1, 2),
         |grid AS (
         |  SELECT k.source, hp.bucket, hp.np
         |  FROM (SELECT DISTINCT source FROM bat) k CROSS JOIN hp),
         |j AS (
         |  SELECT COALESCE(g.source, hq.source) AS source,
         |    COALESCE(g.np, 0) AS np, COALESCE(hq.nq, 0) AS nq
         |  FROM grid g FULL JOIN hq
         |    ON g.source = hq.source AND g.bucket = hq.bucket),
         |tp AS (SELECT CAST(SUM(np) AS BIGINT) AS tnp FROM hp),
         |tq AS (
         |  SELECT source, CAST(SUM(nq) AS BIGINT) AS tnq
         |  FROM j GROUP BY source),
         |s AS (
         |  SELECT j.source, tp.tnp, tq.tnq,
         |    SUM(CASE WHEN np > 0 THEN CAST(np AS HUGEINT) *
         |      CAST(round(ln(((2.0 * CAST(np AS DOUBLE)) * CAST(tq.tnq AS DOUBLE)) /
         |        ((CAST(np AS DOUBLE) * CAST(tq.tnq AS DOUBLE)) +
         |         (CAST(nq AS DOUBLE) * CAST(tp.tnp AS DOUBLE)))) * 1e9)
         |        AS BIGINT) END) AS sp,
         |    SUM(CASE WHEN nq > 0 THEN CAST(nq AS HUGEINT) *
         |      CAST(round(ln(((2.0 * CAST(nq AS DOUBLE)) * CAST(tp.tnp AS DOUBLE)) /
         |        ((CAST(np AS DOUBLE) * CAST(tq.tnq AS DOUBLE)) +
         |         (CAST(nq AS DOUBLE) * CAST(tp.tnp AS DOUBLE)))) * 1e9)
         |        AS BIGINT) END) AS sq
         |  FROM j CROSS JOIN tp JOIN tq ON j.source = tq.source
         |  GROUP BY j.source, tp.tnp, tq.tnq)
         |SELECT source, tnp AS n_ref, tnq AS n_batch,
         |  CAST(sp AS DOUBLE) / (2e9 * CAST(tnp AS DOUBLE)) +
         |  CAST(sq AS DOUBLE) / (2e9 * CAST(tnq AS DOUBLE)) AS js
         |FROM s ORDER BY source""".stripMargin,

    "ext_minhash_signature" -> {
      def m(i: Int): String = {
        val (a, b) = TextHash.hashParams(i)
        s"list_min(list_transform(sh, s -> ($a * ${TextHash.hmodSql("s")} + $b) % $P)) AS m$i"
      }
      s"""WITH sh AS (SELECT doc_id, $shinglesSqlInline AS sh FROM documents)
         |SELECT doc_id, ${m(0)}, ${m(5)}, ${m(10)}, ${m(15)}
         |FROM sh ORDER BY doc_id""".stripMargin
    },

    "ext_dedup_minhash" ->
      s"""WITH $MinhashPairsCtes
         |SELECT a_id, b_id, jaccard FROM verified
         |WHERE jaccard >= 0.6 ORDER BY a_id, b_id""".stripMargin,

    // pair-level screen evaluation: replays the band pipeline over the
    // sample, a quadratic exact-Jaccard truth (sample-bounded), and the
    // truncating-ppm P/R fold
    "ext_neardup_eval" ->
      s"""WITH $NearDupCorpusSql,
         |sample AS (SELECT doc_id, text FROM corpus
         |           WHERE (doc_id < 1000000 AND doc_id % 20 = 0)
         |              OR (doc_id >= 1000000 AND (doc_id - 1000000) % 20 = 0)),
         |${minhashSideCtes("s", "sample")},
         |pred AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM sbands a JOIN sbands b ON a.band = b.band AND a.key = b.key
         |  WHERE a.doc_id < b.doc_id),
         |truth AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM ssh a JOIN ssh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_filter(list_distinct(a.sh), x -> list_contains(b.sh, x))) AS DOUBLE)
         |      / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.6),
         |hit AS (SELECT a_id, b_id FROM pred INTERSECT SELECT a_id, b_id FROM truth),
         |c AS (SELECT
         |  (SELECT COUNT(*) FROM pred) AS n_pred,
         |  (SELECT COUNT(*) FROM truth) AS n_truth,
         |  (SELECT COUNT(*) FROM hit) AS n_hit)
         |SELECT n_pred, n_truth, n_hit,
         |  CASE WHEN n_pred > 0 THEN (n_hit * 1000000) // n_pred END AS precision_ppm,
         |  CASE WHEN n_truth > 0 THEN (n_hit * 1000000) // n_truth END AS recall_ppm
         |FROM c""".stripMargin,

    "ext_dedup_clusters" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |p AS (SELECT a_id, b_id FROM verified WHERE jaccard >= 0.6),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM p
         |          UNION SELECT b_id, a_id FROM p),
         |verts AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         |SELECT id, MIN(r) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin,

    "ext_priority_dedup" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |multi AS (
        |  SELECT doc_id, text, 2 AS prio FROM base
        |  UNION ALL
        |  SELECT doc_id + 2000000, text, 1 FROM base WHERE doc_id % 6 = 0
        |  UNION ALL
        |  SELECT doc_id + 3000000, text, 3 FROM base WHERE doc_id % 9 = 0),
        |ranked AS (
        |  SELECT md5(text) AS fingerprint, doc_id, prio,
        |    row_number() OVER (PARTITION BY md5(text)
        |      ORDER BY prio, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY md5(text)) AS copies,
        |    COUNT(DISTINCT prio) OVER (PARTITION BY md5(text)) AS n_sources
        |  FROM multi)
        |SELECT fingerprint, doc_id AS keep_id, CAST(prio AS BIGINT)
        |    AS keep_priority,
        |  CAST(copies AS BIGINT) AS copies, CAST(n_sources AS BIGINT)
        |    AS n_sources
        |FROM ranked WHERE rn = 1 ORDER BY fingerprint""".stripMargin,

    "ext_table_fingerprint" ->
      """SELECT source, COUNT(*) AS n_rows,
        |  CAST(SUM(('0x' || substr(md5(
        |      coalesce(CAST(doc_id AS VARCHAR), chr(30)) || chr(31) ||
        |      coalesce(text, chr(30)) || chr(31) ||
        |      coalesce(lang, chr(30))), 1, 15))::BIGINT)
        |    % 1152921504606846976 AS BIGINT) AS checksum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "ext_data_card" ->
      s"""WITH c AS (SELECT source, lang, text FROM documents
         |           UNION ALL
         |           SELECT source, lang, text FROM documents
         |           WHERE doc_id % 9 = 0),
         |base AS (SELECT source, COUNT(*) AS n_docs,
         |           SUM(length(text)) AS n_chars,
         |           SUM(len(${tokensSql("text")})) AS n_ws_tokens,
         |           COUNT(DISTINCT lang) AS n_langs
         |         FROM c GROUP BY source),
         |d AS (SELECT source, SUM(n - 1) AS n_dup FROM (
         |        SELECT source, md5(text) AS fp, COUNT(*) AS n
         |        FROM c GROUP BY 1, 2) GROUP BY source)
         |SELECT base.source AS source, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_chars AS BIGINT) AS n_chars,
         |  CAST(n_ws_tokens AS BIGINT) AS n_ws_tokens,
         |  CAST(n_langs AS BIGINT) AS n_langs,
         |  CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup_docs
         |FROM base LEFT JOIN d USING (source) ORDER BY source""".stripMargin,

    "ext_contrastive_pairs" ->
      s"""WITH $NearDupCorpusSql,
         |mut AS (
         |  SELECT doc_id + 2000000 AS doc_id,
         |    array_to_string(toks[1:k] || fill, ' ') AS text
         |  FROM (SELECT doc_id, toks, (len(toks) * 9) // 20 AS k,
         |          ['m' || doc_id || 'x0', 'm' || doc_id || 'x1',
         |           'm' || doc_id || 'x2'] AS fill
         |        FROM (SELECT doc_id, ${tokensSql("text")} AS toks
         |              FROM documents WHERE doc_id % 2 = 0))),
         |ccorpus AS (SELECT * FROM corpus UNION ALL SELECT * FROM mut),
         |${minhashSideCtes("c", "ccorpus")},
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM cbands a JOIN cbands b ON a.band = b.band AND a.key = b.key
         |  WHERE a.doc_id < b.doc_id),
         |ver AS (
         |  SELECT cand.a_id, cand.b_id,
         |    CAST(len(list_filter(list_distinct(sa.sh),
         |           x -> list_contains(sb.sh, x))) AS DOUBLE)
         |      / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE) AS jaccard
         |  FROM cand
         |  JOIN csh sa ON sa.doc_id = cand.a_id
         |  JOIN csh sb ON sb.doc_id = cand.b_id),
         |sym AS (SELECT a_id AS anchor_id, b_id AS partner, jaccard FROM ver
         |        UNION ALL
         |        SELECT b_id, a_id, jaccard FROM ver),
         |pos AS (SELECT anchor_id, MIN(partner) AS pos_id FROM sym
         |        WHERE jaccard >= 0.6 GROUP BY anchor_id),
         |neg AS (SELECT anchor_id, MIN(partner) AS neg_id FROM sym
         |        WHERE jaccard < 0.5 GROUP BY anchor_id)
         |SELECT p.anchor_id, p.pos_id, n.neg_id
         |FROM pos p JOIN neg n ON p.anchor_id = n.anchor_id
         |ORDER BY p.anchor_id""".stripMargin,

    "ext_leakage_split" ->
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |p AS (SELECT a_id, b_id FROM verified WHERE jaccard >= 0.6),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM p
         |          UNION SELECT b_id, a_id FROM p),
         |verts AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |cl AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
         |grp AS (SELECT c.doc_id,
         |          COALESCE(cl.cluster, c.doc_id) AS split_group
         |        FROM corpus c LEFT JOIN cl ON cl.id = c.doc_id)
         |SELECT doc_id, split_group,
         |  CASE WHEN ${Sampling.pctHashSql("split_group", "lk1")} < 80
         |         THEN 'train'
         |       WHEN ${Sampling.pctHashSql("split_group", "lk1")} < 90
         |         THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM grp ORDER BY doc_id""".stripMargin,

    "ext_dedup_simhash" ->
      s"""WITH $NearDupCorpusSql,
         |${TextHash.simhashSql("corpus", "doc_id", "text")}
         |SELECT o.doc_id, o.simhash AS sim_a, d.simhash AS sim_b,
         |       bit_count(xor(o.simhash, d.simhash)) AS hamming
         |FROM sim o JOIN sim d ON d.doc_id = o.doc_id + 1000000
         |WHERE o.doc_id % 10 = 0 AND o.doc_id < 1000000
         |ORDER BY o.doc_id""".stripMargin,

    "ext_lsh_scurve" -> {
      val g = 20; val r = TextHash.RowsPerBand; val b = TextHash.Bands
      val gR = BigInt(g).pow(r); val den = BigInt(g).pow(r * b)
      s"""WITH lattice AS (SELECT unnest(range(0, ${g + 1})) AS k),
         |t AS (SELECT k,
         |  (${(1 to r).map(_ => "k::HUGEINT").mkString(" * ")}) AS kr
         |  FROM lattice),
         |p AS (SELECT k,
         |  ${den}::HUGEINT -
         |  (${(1 to b).map(_ => s"(${gR}::HUGEINT - kr)").mkString(" * ")})
         |    AS num
         |  FROM t)
         |SELECT CAST(k * ${1000000 / g} AS BIGINT) AS s_ppm,
         |  CAST((num * 1000000) // ${den}::HUGEINT AS BIGINT) AS collide_ppm,
         |  CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows
         |FROM p ORDER BY s_ppm""".stripMargin
    },

    "ext_hamming_neighbors" ->
      s"""WITH $NearDupCorpusSql,
         |${TextHash.simhashSql("corpus", "doc_id", "text")},
         |ch AS (
         |  SELECT doc_id, simhash, ci,
         |         (simhash >> (ci * 15)) & 32767 AS cv
         |  FROM sim CROSS JOIN (SELECT unnest(range(0, 4)) AS ci)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |         a.simhash AS a_h, b.simhash AS b_h
         |  FROM ch a JOIN ch b
         |    ON b.ci = a.ci AND b.cv = a.cv AND a.doc_id < b.doc_id)
         |SELECT a_id, b_id,
         |       CAST(bit_count(xor(a_h, b_h)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(a_h, b_h)) <= 3
         |ORDER BY a_id, b_id""".stripMargin,

    "ext_hamming_dedup_e2e" ->
      s"""WITH RECURSIVE $NearDupCorpusSql,
         |${TextHash.simhashSql("corpus", "doc_id", "text")},
         |ch AS (
         |  SELECT doc_id, simhash, ci,
         |         (simhash >> (ci * 15)) & 32767 AS cv
         |  FROM sim CROSS JOIN (SELECT unnest(range(0, 4)) AS ci)),
         |p AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM ch a JOIN ch b
         |    ON b.ci = a.ci AND b.cv = a.cv AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM p
         |          UNION SELECT b_id, a_id FROM p),
         |verts AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |cl AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
         |SELECT c.doc_id, COALESCE(cl.cluster, c.doc_id) AS cluster,
         |       (cl.cluster IS NULL OR cl.cluster = c.doc_id) AS keep
         |FROM corpus c LEFT JOIN cl ON cl.id = c.doc_id
         |ORDER BY c.doc_id""".stripMargin,

    "ext_ngram_jaccard" ->
      s"""WITH $NearDupCorpusSql,
         |grams AS (
         |  SELECT doc_id, list_distinct(
         |    [substr(text, i, 3) FOR i IN range(1, greatest(len(text)-1, 2))]) AS g
         |  FROM corpus)
         |SELECT a.doc_id AS doc_id,
         |  CAST(len(list_filter(a.g, x -> list_contains(b.g, x))) AS DOUBLE)
         |    / CAST(len(list_distinct(a.g || b.g)) AS DOUBLE) AS jaccard
         |FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1000000
         |WHERE a.doc_id % 10 = 0 AND a.doc_id < 1000000
         |ORDER BY a.doc_id""".stripMargin,

    "ext_knn_cosine" ->
      s"""WITH $NormCte,
         |q AS (SELECT * FROM n WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
         |  FROM n c CROSS JOIN q WHERE c.vec_id <> q.vec_id)
         |SELECT q_id, c_id, rank, cosine FROM (
         |  SELECT q_id, c_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
         |  FROM scored) WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,

    "ext_ann_lsh" ->
      s"""WITH $BucketCte,
         |nb AS (
         |  SELECT bk.vec_id, bk.embedding, bk.bucket,
         |    sqrt(CAST(list_reduce(list_prepend(0::BIGINT,
         |      [CAST(round(CAST(bk.embedding[i] AS DOUBLE)*CAST(bk.embedding[i] AS DOUBLE)*1e15) AS BIGINT)
         |       FOR i IN range(1,65)]), (a,x) -> a+x) AS DOUBLE) / 1e15) AS nrm
         |  FROM bk),
         |q AS (SELECT * FROM nb WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
         |  FROM nb c JOIN q ON c.bucket = q.bucket WHERE c.vec_id <> q.vec_id)
         |SELECT q_id, c_id, rank, cosine FROM (
         |  SELECT q_id, c_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
         |  FROM scored) WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "ext_lsh_buckets" ->
      s"""WITH $BucketCte
         |SELECT vec_id, bucket FROM bk ORDER BY vec_id""".stripMargin,

    "ext_srp_neardup" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |corpus AS (
         |  SELECT vec_id, embedding FROM e
         |  UNION ALL
         |  SELECT vec_id + 1000000, embedding FROM e WHERE vec_id % 10 = 0
         |  UNION ALL
         |  SELECT vec_id + 2000000,
         |    [CASE WHEN j = 1 THEN embedding[j] + 0.01::FLOAT
         |          ELSE embedding[j] END FOR j IN range(1, 65)]
         |  FROM e WHERE vec_id % 10 = 5),
         |v AS (SELECT vec_id,
         |        [CAST(round(CAST(embedding[j] AS DOUBLE)*1e7) AS BIGINT)
         |         FOR j IN range(1, 65)] AS vq
         |      FROM corpus),
         |sig AS (SELECT vec_id, $srpExprSql AS srp FROM v)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |       CAST(bit_count(xor(a.srp, b.srp)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.vec_id < b.vec_id
         |WHERE bit_count(xor(a.srp, b.srp)) <= 4
         |ORDER BY a_id, b_id""".stripMargin,

    "ext_ann_multiprobe" -> {
      val probeList = ("bucket" +: (0 until Similarity.NumPlanes)
        .map(i => s"xor(bucket, ${1L << i})")).mkString("[", ", ", "]")
      s"""WITH $BucketCte,
         |nb AS (
         |  SELECT bk.vec_id, bk.embedding, bk.bucket,
         |    sqrt(CAST(list_reduce(list_prepend(0::BIGINT,
         |      [CAST(round(CAST(bk.embedding[i] AS DOUBLE)*CAST(bk.embedding[i] AS DOUBLE)*1e15) AS BIGINT)
         |       FOR i IN range(1,65)]), (a,x) -> a+x) AS DOUBLE) / 1e15) AS nrm
         |  FROM bk),
         |q AS (SELECT vec_id, embedding, nrm, unnest($probeList) AS bucket
         |      FROM nb WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
         |  FROM nb c JOIN q ON c.bucket = q.bucket WHERE c.vec_id <> q.vec_id)
         |SELECT q_id, c_id, rank, cosine FROM (
         |  SELECT q_id, c_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
         |  FROM scored) WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    },

    "ext_ivf_ann" -> ivfOracleSql,
    "ext_ivf_indexed" -> ivfOracleSql,
    "ext_ivf_incremental" -> ivfOracleSql,

    "ext_ann_recall" ->
      s"""WITH $NormCte,
         |qs AS (SELECT * FROM n WHERE vec_id < 50),
         |exact AS (SELECT q_id, c_id FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
         |               c.vec_id ASC) AS rank
         |  FROM n c CROSS JOIN qs q WHERE c.vec_id <> q.vec_id)
         |  WHERE rank <= 5),
         |cells AS (SELECT vec_id AS cell_id, embedding AS cell_vec, nrm AS cell_norm
         |          FROM n ORDER BY vec_id LIMIT 16),
         |ca AS (SELECT c_id, c_vec, c_norm, cell_id FROM (
         |  SELECT a.vec_id AS c_id, a.embedding AS c_vec, a.nrm AS c_norm, cells.cell_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${dotSql("a.embedding", "cells.cell_vec")} / (a.nrm * cells.cell_norm) DESC,
         |               cells.cell_id ASC) AS r
         |  FROM n a CROSS JOIN cells) WHERE r = 1),
         |qp AS (SELECT q_id, q_vec, q_norm, cell_id FROM (
         |  SELECT a.vec_id AS q_id, a.embedding AS q_vec, a.nrm AS q_norm, cells.cell_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${dotSql("a.embedding", "cells.cell_vec")} / (a.nrm * cells.cell_norm) DESC,
         |               cells.cell_id ASC) AS r
         |  FROM n a CROSS JOIN cells WHERE a.vec_id < 50) WHERE r <= 4),
         |iscored AS (
         |  SELECT qp.q_id, ca.c_id,
         |    ${dotSql("qp.q_vec", "ca.c_vec")} / (qp.q_norm * ca.c_norm) AS cosine
         |  FROM ca JOIN qp ON ca.cell_id = qp.cell_id WHERE ca.c_id <> qp.q_id),
         |approx AS (SELECT q_id, c_id FROM (
         |  SELECT q_id, c_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
         |  FROM iscored) WHERE rank <= 5)
         |SELECT e.q_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hit,
         |  CAST((SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
         |       // COUNT(*) AS BIGINT) AS recall_ppm
         |FROM exact e
         |LEFT JOIN approx a ON a.q_id = e.q_id AND a.c_id = e.c_id
         |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin,

    "ext_pq_topk" ->
      s"""WITH $NormCte,
         |sub AS (SELECT unnest(range(0,8)) AS subspace),
         |base AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16),
         |cb AS (
         |  SELECT s.subspace,
         |    row_number() OVER (PARTITION BY s.subspace ORDER BY b.vec_id) - 1 AS code,
         |    b.embedding[(s.subspace*8+1):(s.subspace*8+8)] AS cvec
         |  FROM sub s CROSS JOIN base b),
         |cbn AS (SELECT subspace, code, cvec,
         |        ${dotScaledSqlN("cvec", "cvec", 8)} AS c2 FROM cb),
         |sv AS (
         |  SELECT e.vec_id, s.subspace,
         |    e.embedding[(s.subspace*8+1):(s.subspace*8+8)] AS xvec
         |  FROM embeddings e CROSS JOIN sub s),
         |enc AS (
         |  SELECT vec_id, subspace, code, c2 FROM (
         |    SELECT sv.vec_id, sv.subspace, cbn.code, cbn.c2,
         |      row_number() OVER (PARTITION BY sv.vec_id, sv.subspace
         |        ORDER BY (2*${dotScaledSqlN("sv.xvec", "cbn.cvec", 8)} - cbn.c2) DESC,
         |                 cbn.code ASC) AS r
         |    FROM sv JOIN cbn ON sv.subspace = cbn.subspace) WHERE r = 1),
         |recon AS (SELECT vec_id, sqrt(CAST(SUM(c2) AS DOUBLE)/1e15) AS rnorm
         |          FROM enc GROUP BY vec_id),
         |qn AS (SELECT vec_id AS q_id, nrm AS q_norm FROM n WHERE vec_id < 5),
         |tq AS (SELECT q.vec_id AS q_id, cbn.subspace, cbn.code,
         |         ${dotScaledSqlN("q.xvec", "cbn.cvec", 8)} AS pd
         |       FROM sv q JOIN cbn ON q.subspace = cbn.subspace WHERE q.vec_id < 5),
         |scored AS (
         |  SELECT tq.q_id, enc.vec_id AS c_id,
         |    CAST(SUM(tq.pd) AS DOUBLE)/1e15 / (MAX(qn.q_norm) * MAX(r.rnorm)) AS cosine
         |  FROM enc JOIN tq ON enc.subspace = tq.subspace AND enc.code = tq.code
         |  JOIN qn ON qn.q_id = tq.q_id
         |  JOIN recon r ON r.vec_id = enc.vec_id
         |  WHERE enc.vec_id <> tq.q_id
         |  GROUP BY tq.q_id, enc.vec_id)
         |SELECT q_id, c_id, rank, cosine FROM (
         |  SELECT q_id, c_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
         |  FROM scored) WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "ext_ivfpq_topk" ->
      s"""WITH $NormCte,
         |cells AS (SELECT vec_id AS cell_id, embedding AS cell_vec, nrm AS cell_norm
         |          FROM n ORDER BY vec_id LIMIT 16),
         |ca AS (SELECT c_id, cell_id FROM (
         |  SELECT a.vec_id AS c_id, cells.cell_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${dotSql("a.embedding", "cells.cell_vec")} / (a.nrm * cells.cell_norm) DESC,
         |               cells.cell_id ASC) AS r
         |  FROM n a CROSS JOIN cells) WHERE r = 1),
         |qp AS (SELECT q_id, cell_id FROM (
         |  SELECT a.vec_id AS q_id, cells.cell_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${dotSql("a.embedding", "cells.cell_vec")} / (a.nrm * cells.cell_norm) DESC,
         |               cells.cell_id ASC) AS r
         |  FROM n a CROSS JOIN cells WHERE a.vec_id < 5) WHERE r <= 4),
         |sub AS (SELECT unnest(range(0,8)) AS subspace),
         |base AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16),
         |cb AS (
         |  SELECT s.subspace,
         |    row_number() OVER (PARTITION BY s.subspace ORDER BY b.vec_id) - 1 AS code,
         |    b.embedding[(s.subspace*8+1):(s.subspace*8+8)] AS cvec
         |  FROM sub s CROSS JOIN base b),
         |cbn AS (SELECT subspace, code, cvec,
         |        ${dotScaledSqlN("cvec", "cvec", 8)} AS c2 FROM cb),
         |sv AS (
         |  SELECT e.vec_id, s.subspace,
         |    e.embedding[(s.subspace*8+1):(s.subspace*8+8)] AS xvec
         |  FROM embeddings e CROSS JOIN sub s),
         |enc AS (
         |  SELECT vec_id, subspace, code, c2 FROM (
         |    SELECT sv.vec_id, sv.subspace, cbn.code, cbn.c2,
         |      row_number() OVER (PARTITION BY sv.vec_id, sv.subspace
         |        ORDER BY (2*${dotScaledSqlN("sv.xvec", "cbn.cvec", 8)} - cbn.c2) DESC,
         |                 cbn.code ASC) AS r
         |    FROM sv JOIN cbn ON sv.subspace = cbn.subspace) WHERE r = 1),
         |recon AS (SELECT vec_id, sqrt(CAST(SUM(c2) AS DOUBLE)/1e15) AS rnorm
         |          FROM enc GROUP BY vec_id),
         |qn AS (SELECT vec_id AS q_id, nrm AS q_norm FROM n WHERE vec_id < 5),
         |tq AS (SELECT q.vec_id AS q_id, cbn.subspace, cbn.code,
         |         ${dotScaledSqlN("q.xvec", "cbn.cvec", 8)} AS pd
         |       FROM sv q JOIN cbn ON q.subspace = cbn.subspace WHERE q.vec_id < 5),
         |pairs AS (
         |  SELECT qp.q_id, ca.c_id FROM ca JOIN qp USING (cell_id)
         |  WHERE ca.c_id <> qp.q_id),
         |scored AS (
         |  SELECT p.q_id, p.c_id,
         |    CAST(SUM(tq.pd) AS DOUBLE)/1e15 / (MAX(qn.q_norm) * MAX(r.rnorm)) AS cosine
         |  FROM pairs p
         |  JOIN enc ON enc.vec_id = p.c_id
         |  JOIN tq ON tq.q_id = p.q_id AND tq.subspace = enc.subspace
         |         AND tq.code = enc.code
         |  JOIN qn ON qn.q_id = p.q_id
         |  JOIN recon r ON r.vec_id = p.c_id
         |  GROUP BY p.q_id, p.c_id)
         |SELECT q_id, c_id, rank, cosine FROM (
         |  SELECT q_id, c_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
         |  FROM scored) WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "ext_dedup_embedding_lsh" ->
      s"""WITH $BucketCte,
         |nb AS (
         |  SELECT bk.vec_id, bk.embedding, bk.bucket,
         |    sqrt(CAST(list_reduce(list_prepend(0::BIGINT,
         |      [CAST(round(CAST(bk.embedding[i] AS DOUBLE)*CAST(bk.embedding[i] AS DOUBLE)*1e15) AS BIGINT)
         |       FOR i IN range(1,65)]), (a,x) -> a+x) AS DOUBLE) / 1e15) AS nrm
         |  FROM bk)
         |SELECT a.bucket AS block, a.vec_id AS a_id, b.vec_id AS b_id,
         |  ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
         |FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.3
         |ORDER BY block, a_id, b_id""".stripMargin,

    "ext_dedup_embedding" ->
      s"""WITH $NormCte,
         |base AS (SELECT label AS block, vec_id, embedding, nrm FROM n WHERE vec_id < 300)
         |SELECT a.block AS block, a.vec_id AS a_id, b.vec_id AS b_id,
         |  ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
         |FROM base a JOIN base b ON a.block = b.block AND a.vec_id < b.vec_id
         |WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.2
         |ORDER BY block, a_id, b_id""".stripMargin,

    "ext_semdedup" ->
      s"""WITH $NormCte,
         |base AS (SELECT vec_id, embedding, nrm FROM n WHERE vec_id < 500),
         |cells AS (SELECT vec_id AS cell_id, embedding AS cell_vec, nrm AS cell_norm
         |          FROM base ORDER BY vec_id LIMIT 8),
         |a AS (SELECT vec_id, embedding, nrm, cell_id FROM (
         |  SELECT b.vec_id, b.embedding, b.nrm, cells.cell_id,
         |    row_number() OVER (PARTITION BY b.vec_id
         |      ORDER BY ${dotSql("b.embedding", "cells.cell_vec")} / (b.nrm * cells.cell_norm) DESC,
         |               cells.cell_id ASC) AS r
         |  FROM base b CROSS JOIN cells) WHERE r = 1),
         |d AS (SELECT DISTINCT y.vec_id FROM a x JOIN a y
         |      ON x.cell_id = y.cell_id AND x.vec_id < y.vec_id
         |      WHERE ${dotSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= 0.2)
         |SELECT a.vec_id, a.cell_id, (d.vec_id IS NULL) AS keep
         |FROM a LEFT JOIN d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin,

    "ext_semdedup_incremental" -> {
      def assign(src: String, out: String) =
        s"""$out AS (SELECT vec_id, embedding, nrm, cell_id FROM (
           |  SELECT b.vec_id, b.embedding, b.nrm, cells.cell_id,
           |    row_number() OVER (PARTITION BY b.vec_id
           |      ORDER BY CAST(${dotScaledSqlN("b.embedding", "cells.cell_vec", 64)} AS DOUBLE)
           |                 / cells.cell_norm DESC,
           |               cells.cell_id ASC) AS r
           |  FROM $src b CROSS JOIN cells) WHERE r = 1)""".stripMargin
      s"""WITH $NormCte,
         |corpus AS (SELECT vec_id, embedding, nrm FROM n WHERE vec_id < 400),
         |batch AS (SELECT vec_id, embedding, nrm FROM n
         |          WHERE vec_id >= 400 AND vec_id < 500),
         |cells AS (SELECT vec_id AS cell_id, embedding AS cell_vec, nrm AS cell_norm
         |          FROM corpus ORDER BY vec_id LIMIT 8),
         |${assign("corpus", "ca")},
         |${assign("batch", "ba")}
         |SELECT ba.vec_id AS batch_id, ca.vec_id AS corpus_id,
         |  ${dotSql("ba.embedding", "ca.embedding")} / (ba.nrm * ca.nrm) AS cosine
         |FROM ca JOIN ba USING (cell_id)
         |WHERE ${dotSql("ba.embedding", "ca.embedding")} / (ba.nrm * ca.nrm) >= 0.2
         |ORDER BY batch_id, corpus_id""".stripMargin
    },

    "ext_embed_cov" ->
      """WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
        |p AS (SELECT a.i AS i, b.j AS j
        |      FROM (SELECT unnest(range(0, 8)) AS i) a,
        |           (SELECT unnest(range(0, 8)) AS j) b WHERE b.j >= a.i),
        |sxy AS (SELECT p.i, p.j,
        |  SUM(CAST(round(CAST(e.embedding[p.i+1] AS DOUBLE)
        |    * CAST(e.embedding[p.j+1] AS DOUBLE) * 1e15) AS BIGINT)) AS sxy
        |  FROM embeddings e CROSS JOIN p GROUP BY p.i, p.j),
        |sx AS (SELECT d.i,
        |  SUM(CAST(round(CAST(e.embedding[d.i+1] AS DOUBLE) * 1e7) AS BIGINT)) AS sx
        |  FROM embeddings e CROSS JOIN (SELECT unnest(range(0, 8)) AS i) d
        |  GROUP BY d.i)
        |SELECT sxy.i, sxy.j,
        |  CAST(sxy.sxy AS DOUBLE)/1e15/n
        |    - (CAST(si.sx AS DOUBLE)/1e7/n) * (CAST(sj.sx AS DOUBLE)/1e7/n) AS cov
        |FROM sxy JOIN sx si ON si.i = sxy.i JOIN sx sj ON sj.i = sxy.j
        |CROSS JOIN nn ORDER BY sxy.i, sxy.j""".stripMargin,

    "ext_embed_drift" ->
      """WITH d AS (SELECT unnest(range(1, 65)) AS i),
        |qa AS (SELECT label, i,
        |         SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1e7) AS BIGINT))
        |           // COUNT(*) AS q,
        |         COUNT(*) AS n
        |       FROM embeddings CROSS JOIN d WHERE vec_id % 2 = 0
        |       GROUP BY label, i),
        |qb AS (SELECT label, i,
        |         SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1e7) AS BIGINT))
        |           // COUNT(*) AS q,
        |         COUNT(*) AS n
        |       FROM embeddings CROSS JOIN d WHERE vec_id % 2 = 1
        |       GROUP BY label, i),
        |j AS (SELECT qa.label, CAST(qa.q AS BIGINT) AS a,
        |             CAST(qb.q AS BIGINT) AS b, qa.n AS na, qb.n AS nb
        |      FROM qa JOIN qb ON qa.label = qb.label AND qa.i = qb.i)
        |SELECT label, CAST(MAX(na) AS BIGINT) AS n_ref,
        |  CAST(MAX(nb) AS BIGINT) AS n_new,
        |  CAST(SUM(a * b) AS DOUBLE) /
        |    (sqrt(CAST(SUM(a * a) AS DOUBLE)) * sqrt(CAST(SUM(b * b) AS DOUBLE)))
        |    AS cosine,
        |  sqrt(CAST(SUM((a - b) * (a - b)) AS DOUBLE)) / 1e7 AS shift
        |FROM j GROUP BY label ORDER BY label""".stripMargin,

    "ext_kmeans_train" -> kmeansOracleSql(nCells = 8, iters = 2),

    "ext_cluster_quality" -> clusterQualityOracleSql(nCells = 8, iters = 2),

    "ext_skew_audit" ->
      """WITH k AS (SELECT l_suppkey, COUNT(*) AS n FROM lineitem
        |           WHERE l_suppkey IS NOT NULL GROUP BY 1),
        |f AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
        |             CAST(COUNT(*) AS BIGINT) AS n_keys,
        |             CAST(MAX(n) AS BIGINT) AS max_n FROM k)
        |SELECT n_rows, n_keys, max_n,
        |  (max_n * 1000000) // n_rows AS top_share_ppm,
        |  (max_n * n_keys * 1000000) // n_rows AS skew_x_ppm
        |FROM f""".stripMargin,

    "ext_quantiles_exact" ->
      """WITH c AS (SELECT l_extendedprice AS v, COUNT(*) AS cnt FROM lineitem
        |           WHERE l_extendedprice IS NOT NULL GROUP BY 1),
        |o AS (SELECT v, SUM(cnt) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM c),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c)
        |SELECT MAX(t.n) AS n,
        |  MIN(CASE WHEN cum >= ceil(0.25 * t.n) THEN v END) AS p25,
        |  MIN(CASE WHEN cum >= ceil(0.5 * t.n) THEN v END) AS p50,
        |  MIN(CASE WHEN cum >= ceil(0.75 * t.n) THEN v END) AS p75,
        |  MIN(CASE WHEN cum >= ceil(0.99 * t.n) THEN v END) AS p99
        |FROM o CROSS JOIN t""".stripMargin,

    "ext_quantiles_grouped" ->
      """WITH c AS (SELECT lang, n_chars AS v, COUNT(*) AS cnt FROM documents
        |           WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |o AS (SELECT lang, v,
        |        SUM(cnt) OVER (PARTITION BY lang ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        SUM(cnt) OVER (PARTITION BY lang) AS n
        |      FROM c)
        |SELECT lang, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MIN(CASE WHEN cum >= ceil(0.5 * n) THEN v END) AS BIGINT) AS p50,
        |  CAST(MIN(CASE WHEN cum >= ceil(0.9 * n) THEN v END) AS BIGINT) AS p90,
        |  CAST(MIN(CASE WHEN cum >= ceil(0.99 * n) THEN v END) AS BIGINT) AS p99
        |FROM o GROUP BY lang ORDER BY lang""".stripMargin,

    "ext_containment_pairs" ->
      s"""WITH ccorpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 4000000, substr(text, 1, greatest(len(text) // 2, 12))
         |  FROM documents WHERE doc_id % 7 = 0),
         |${minhashSideCtes("p", "ccorpus")},
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM pbands a JOIN pbands b ON a.band = b.band AND a.key = b.key
         |  WHERE a.doc_id < b.doc_id),
         |v AS (
         |  SELECT c.a_id, c.b_id,
         |    CAST(len(list_filter(list_distinct(sa.sh), x -> list_contains(sb.sh, x))) AS DOUBLE)
         |      / CAST(least(len(list_distinct(sa.sh)), len(list_distinct(sb.sh))) AS DOUBLE)
         |      AS containment,
         |    CAST(len(list_filter(list_distinct(sa.sh), x -> list_contains(sb.sh, x))) AS DOUBLE)
         |      / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE) AS jaccard
         |  FROM cand c
         |  JOIN psh sa ON sa.doc_id = c.a_id
         |  JOIN psh sb ON sb.doc_id = c.b_id)
         |SELECT a_id, b_id, containment, jaccard FROM v
         |WHERE containment >= 0.8 ORDER BY a_id, b_id""".stripMargin,

    "ext_centroids" ->
      """SELECT label, i - 1 AS dim,
        |  CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1e7) AS BIGINT)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) / 1e7 AS mean_v
        |FROM embeddings CROSS JOIN (SELECT unnest(range(1, 9)) AS i) dims
        |GROUP BY label, i ORDER BY label, dim""".stripMargin,

    "ext_length_histogram" ->
      """SELECT CAST(floor(n_chars / 50) * 50 AS BIGINT) AS bucket,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin,

    "ext_stratified_sample" ->
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE ${Sampling.pctHashSql("doc_id", "sample")} <
         |      (CASE WHEN lang = 'en' THEN 30 ELSE 60 END)
         |ORDER BY doc_id""".stripMargin,

    "ext_split_assign" ->
      s"""WITH h AS (SELECT lang, ${Sampling.pctHashSql("doc_id", "split")} AS h
         |           FROM documents),
         |s AS (SELECT lang, CASE WHEN h < 80 THEN 'train'
         |                        WHEN h < 90 THEN 'valid'
         |                        ELSE 'test' END AS split FROM h)
         |SELECT lang, split, COUNT(*) AS n FROM s
         |GROUP BY lang, split ORDER BY lang, split""".stripMargin,

    "ext_epoch_permutation" ->
      s"""SELECT doc_id,
         |  CAST(${Sampling.epochPositionSql("doc_id", 0)} AS BIGINT) AS pos_e0,
         |  CAST(${Sampling.epochPositionSql("doc_id", 1)} AS BIGINT) AS pos_e1
         |FROM documents ORDER BY doc_id""".stripMargin,

    "ext_epoch_batch" ->
      s"""SELECT doc_id,
         |  CAST(${Sampling.epochPositionSql("doc_id", 1)} AS BIGINT) AS position
         |FROM documents
         |WHERE ${Sampling.epochPositionSql("doc_id", 1)} < ${1L << 55}
         |ORDER BY position""".stripMargin,

    "ext_shuffle_order" ->
      s"""SELECT doc_id,
         |  ${TextHash.hmodSql("(doc_id :: VARCHAR || ':epoch0')")} AS shuffle_key
         |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin,

    "ext_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         CAST(len(${tokensSql("text")}) AS BIGINT) AS toks
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, toks,
         |    CAST(SUM(toks) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - toks AS cum
         |  FROM t)
         |SELECT doc_id, toks, cum // 4096 AS bin FROM c ORDER BY doc_id""".stripMargin,

    "ext_top_ngrams" ->
      s"""WITH g AS (SELECT unnest(${TextHash.shinglesSql("text", 2)}) AS bigram FROM documents)
         |SELECT bigram, COUNT(*) AS n FROM g
         |GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,

    "ext_cms_join_size" -> {
      val w = 4096
      def sideCtes(name: String, src: String) = (0 until 4).map(i =>
        s"""SELECT $i AS i, ${Sketches.cmsBucketSql("k", i, w)} AS bucket,
           |       COUNT(*) AS c FROM $src GROUP BY bucket""".stripMargin)
        .mkString(s"$name AS (", "\n  UNION ALL ", ")")
      s"""WITH ka AS (SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders),
         |kb AS (SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
         |${sideCtes("ba", "ka")},
         |${sideCtes("bb", "kb")},
         |ip AS (SELECT a.i, SUM(a.c * b.c) AS p
         |       FROM ba a JOIN bb b ON b.i = a.i AND b.bucket = a.bucket
         |       GROUP BY a.i)
         |SELECT CAST((SELECT MIN(p) FROM ip) AS DOUBLE) AS join_size_est,
         |  (SELECT COUNT(*) FROM orders o JOIN lineitem l
         |     ON l.l_orderkey = o.o_orderkey) AS exact_join_size""".stripMargin
    },

    "ext_cms_counts" -> {
      val w = 4096
      val rowCtes = (0 until 4).map(i =>
        s"""SELECT $i AS i, ${Sketches.cmsBucketSql("bigram", i, w)} AS bucket,
           |       COUNT(*) AS c FROM g GROUP BY bucket""".stripMargin)
        .mkString("\n  UNION ALL ")
      val lookups = (0 until 4).map(i =>
        s"""(SELECT c FROM buckets b WHERE b.i = $i
           |  AND b.bucket = ${Sketches.cmsBucketSql("e.bigram", i, w)})""".stripMargin)
        .mkString("LEAST(", ",\n    ", ")")
      s"""WITH g AS (SELECT unnest(${TextHash.shinglesSql("text", 2)}) AS bigram
         |           FROM documents),
         |exact AS (SELECT bigram, COUNT(*) AS exact_n FROM g GROUP BY bigram
         |          ORDER BY exact_n DESC, bigram ASC LIMIT 20),
         |buckets AS (
         |  $rowCtes)
         |SELECT e.bigram, e.exact_n, $lookups AS cms_n
         |FROM exact e
         |ORDER BY e.exact_n DESC, e.bigram ASC""".stripMargin
    },

    // Replays the STATEFUL gear-hash byte scan of graft_cdc_chunks as a
    // recursive CTE: one state row per (blob, byte), h and fp carried as
    // HUGEINT reduced mod 2^64 each step — Java's wrapping `(h << 1) +
    // gear` and FNV-1a `(fp ^ byte) * prime` reproduce exactly because
    // the boundary mask reads only low bits (h & 63 == h_unsigned % 64)
    // and the byte XOR touches only the low 8 (spliced via - % 256 +
    // xor). The corpus is ASCII, so char positions == UTF-8 byte offsets
    // (unicode(substr(s,p+1,1)) IS the byte). Constants mirror the gate:
    // minSize=32, avgBits=6 (mask 63), maxSize=512; gear(b) =
    // hash60('cdc:'||b); FNV offset 2^64-3750763034362895579.
    "ext_frame_sample" ->
      """WITH v AS (SELECT doc_id, octet_length(encode(text)) AS blen
        |           FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT doc_id, unnest(range(0, blen // 32 + 1)) AS frame_idx
        |      FROM v)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(frame_idx * 32 AS BIGINT) AS byte_offset
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "ext_phash_neardup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0),
        |bv AS (
        |  SELECT doc_id, L, (i * 60) // L AS w,
        |    ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT AS v
        |  FROM (SELECT doc_id, hex(encode(text)) AS hx,
        |          octet_length(encode(text)) AS L,
        |          unnest(range(0, octet_length(encode(text)))) AS i
        |        FROM corpus)),
        |ws AS (SELECT doc_id, any_value(L) AS L, w, SUM(v) AS s, COUNT(*) AS c
        |       FROM bv GROUP BY doc_id, w),
        |tot AS (SELECT doc_id, SUM(v) AS t FROM bv GROUP BY doc_id),
        |ph AS (SELECT ws.doc_id,
        |         CAST(SUM(CASE WHEN s * L > t * c
        |              THEN (1::BIGINT << CAST(w AS INT)) ELSE 0 END) AS BIGINT)
        |           AS phash
        |       FROM ws JOIN tot USING (doc_id) GROUP BY ws.doc_id)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,

    "ext_cdc_dedup" ->
      """WITH RECURSIVE
        |blobs AS (
        |  SELECT doc_id, text AS s, length(text) AS len FROM documents
        |  UNION ALL
        |  SELECT doc_id + 5000000, 'xy ' || text, length(text) + 3 FROM documents
        |  WHERE doc_id % 2 = 0),
        |gear AS (
        |  SELECT r.range AS b,
        |    (('0x' || substr(md5('cdc:' || CAST(r.range AS VARCHAR)), 1, 15))::BIGINT)::HUGEINT AS g
        |  FROM range(256) r),
        |bg AS (
        |  SELECT x.doc_id, x.p, gear.g, x.byv
        |  FROM (SELECT doc_id, p, unicode(substr(s, p + 1, 1)) AS byv
        |        FROM (SELECT doc_id, s, unnest(range(len)) AS p FROM blobs)) x
        |  JOIN gear ON gear.b = x.byv),
        |st AS (
        |  SELECT doc_id, 0 AS p, 0 AS cs, 0::HUGEINT AS h,
        |         14695981039346656037::HUGEINT AS fp,
        |         FALSE AS cut, 0 AS c_off, 0 AS c_len, 0::HUGEINT AS c_fp
        |  FROM blobs
        |  UNION ALL
        |  SELECT doc_id, p + 1,
        |         CASE WHEN cut2 THEN p + 1 ELSE cs END,
        |         CASE WHEN cut2 THEN 0::HUGEINT ELSE h2 END,
        |         CASE WHEN cut2 THEN 14695981039346656037::HUGEINT ELSE fp2 END,
        |         cut2, cs, p + 1 - cs, fp2
        |  FROM (
        |    SELECT doc_id, p, cs, h2, fp2,
        |           ((p + 1 - cs >= 32 AND h2 % 64 = 0) OR p + 1 - cs >= 512) AS cut2
        |    FROM (
        |      SELECT st.doc_id, st.p, st.cs,
        |             (st.h * 2 + bg.g) % 18446744073709551616::HUGEINT AS h2,
        |             ((st.fp - (st.fp % 256)
        |               + CAST(xor(CAST(st.fp % 256 AS BIGINT), CAST(bg.byv AS BIGINT)) AS HUGEINT))
        |              * 1099511628211) % 18446744073709551616::HUGEINT AS fp2
        |      FROM st JOIN bg ON bg.doc_id = st.doc_id AND bg.p = st.p) i) q),
        |chunks AS (
        |  SELECT doc_id, c_off AS off, c_len AS len, c_fp AS fp FROM st WHERE cut
        |  UNION ALL
        |  SELECT st.doc_id, st.cs, b.len - st.cs, st.fp
        |  FROM st JOIN blobs b ON b.doc_id = st.doc_id
        |  WHERE st.p = b.len AND st.cs < b.len),
        |perfp AS (
        |  SELECT fp, count(*) AS n, min(len) AS len FROM chunks GROUP BY fp)
        |SELECT CAST((SELECT count(*) FROM blobs) AS BIGINT) AS n_blobs,
        |       CAST(sum(n) AS BIGINT) AS n_chunks,
        |       CAST(sum(n * len) AS BIGINT) AS total_bytes,
        |       CAST(count(*) AS BIGINT) AS uniq_chunks,
        |       CAST(sum(len) AS BIGINT) AS uniq_bytes
        |FROM perfp""".stripMargin,

    "ext_pagerank" -> {
      // unrolled integer recurrence, one CTE triple per iteration —
      // every step mirrors Graph.pageRank's `div` shapes exactly
      val M = graft.ops.Graph.Mass
      val d = 850000L
      val iters = (0 until 3).map { i =>
        s"""dang$i AS (
           |  SELECT COALESCE(SUM(r), 0) AS dang FROM r$i
           |  LEFT JOIN od ON od.node = r$i.node WHERE od.outdeg IS NULL),
           |con$i AS (
           |  SELECT e.dst AS node, SUM((r$i.r * $d // 1000000) // od.outdeg) AS cin
           |  FROM r$i JOIN od ON od.node = r$i.node JOIN e ON e.src = r$i.node
           |  GROUP BY e.dst),
           |r${i + 1} AS (
           |  SELECT nodes.node AS node,
           |    CAST((($M * ${1000000L - d}) // 1000000) // nn.n
           |      + COALESCE(con$i.cin, 0)
           |      + ($d * dang$i.dang // 1000000) // nn.n AS BIGINT) AS r
           |  FROM nodes LEFT JOIN con$i ON con$i.node = nodes.node
           |  CROSS JOIN nn CROSS JOIN dang$i)""".stripMargin
      }
      s"""WITH e AS (
         |  SELECT l_suppkey + 10000000000 AS src, o_custkey AS dst
         |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |od AS (SELECT src AS node, COUNT(*) AS outdeg FROM e GROUP BY src),
         |r0 AS (SELECT node, CAST($M // n AS BIGINT) AS r FROM nodes CROSS JOIN nn),
         |${iters.mkString(",\n")}
         |SELECT node, r AS rank_q FROM r3 ORDER BY node""".stripMargin
    },

    "ext_mixture_epochs" ->
      s"""WITH av AS (SELECT source, SUM(n_chars) AS avail FROM documents GROUP BY source),
         |w AS (SELECT source, CASE WHEN length(source) = 4 THEN 1 ELSE 3 END AS parts
         |      FROM (SELECT DISTINCT source FROM documents)),
         |tp AS (SELECT SUM(parts) AS tp FROM w),
         |plan AS (SELECT av.source AS source, avail,
         |           (CAST(2000000 AS BIGINT) * parts) // tp AS target
         |         FROM av JOIN w ON w.source = av.source CROSS JOIN tp),
         |p2 AS (SELECT source, avail, target,
         |         CAST(target // avail AS BIGINT) AS epochs,
         |         CAST(((target % avail) * 1000000) // avail AS BIGINT) AS frac
         |       FROM plan),
         |em AS (SELECT d.source AS source, unnest(range(p.epochs)) AS epoch
         |       FROM documents d JOIN p2 p ON p.source = d.source
         |       UNION ALL
         |       SELECT d.source, p.epochs AS epoch
         |       FROM documents d JOIN p2 p ON p.source = d.source
         |       WHERE ${Sampling.ppmHashSql("d.doc_id", "mix")} < p.frac)
         |SELECT source, CAST(epoch AS BIGINT) AS epoch, COUNT(*) AS n
         |FROM em GROUP BY source, epoch ORDER BY source, epoch""".stripMargin,

    "ext_nb_confusion" -> {
      val b = 1000
      def q(x: String) = s"CAST(round(ln($x) * 1e9) AS BIGINT)"
      s"""WITH feats AS (
         |  SELECT doc_id, unnest(${graft.ext.Dsir.featureBucketsSql("text", b)}) AS b
         |  FROM documents),
         |lab AS (SELECT doc_id, source FROM documents WHERE doc_id % 3 = 0),
         |rf AS (SELECT lab.source AS label, f.b AS b
         |       FROM feats f JOIN lab ON lab.doc_id = f.doc_id),
         |counts AS (SELECT label, b, COUNT(*) AS n FROM rf GROUP BY label, b),
         |nc AS (SELECT label, SUM(n) AS nc FROM counts GROUP BY label),
         |grid AS (SELECT nc.label AS label, nc.nc AS nc, g.b AS b
         |         FROM nc CROSS JOIN (SELECT unnest(range(0, $b)) AS b) g),
         |model AS (
         |  SELECT grid.label, grid.b,
         |    ${q(s"(COALESCE(CAST(n AS DOUBLE), 0.0) + 1.0) / (CAST(nc AS DOUBLE) + ${1.0 * b})")} AS lpq
         |  FROM grid LEFT JOIN counts ON counts.label = grid.label AND counts.b = grid.b),
         |dc AS (SELECT source AS label, COUNT(*) AS docs FROM lab GROUP BY source),
         |pri AS (SELECT label,
         |          ${q("CAST(docs AS DOUBLE) / CAST((SELECT SUM(docs) FROM dc) AS DOUBLE)")} AS lpq_prior
         |        FROM dc),
         |sc AS (SELECT f.doc_id, m.label, SUM(m.lpq) AS s
         |       FROM feats f JOIN model m ON m.b = f.b GROUP BY f.doc_id, m.label),
         |tot AS (SELECT sc.doc_id, sc.label, sc.s + pri.lpq_prior AS score
         |        FROM sc JOIN pri ON pri.label = sc.label),
         |pred AS (SELECT doc_id, label FROM (
         |  SELECT doc_id, label,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label ASC) AS rn
         |  FROM tot) WHERE rn = 1)
         |SELECT d.source AS actual, p.label AS predicted, COUNT(*) AS n
         |FROM pred p JOIN documents d ON d.doc_id = p.doc_id
         |GROUP BY actual, predicted ORDER BY actual, predicted""".stripMargin
    },

    "ext_kmv_overlap" -> {
      val k = 64
      val p = TextHash.P
      // bottom-k per slice via ORDER BY hash LIMIT k over distinct
      // hashes — the sketch the aggregate builds, rebuilt relationally;
      // estimator arithmetic mirrors Sketches.kmvDistinct/kmvOverlap's
      // pinned double shapes
      def kcte(name: String, pred: String) =
        s"""$name AS (SELECT h FROM (
           |  SELECT DISTINCT ${TextHash.hmodSql("text")} AS h
           |  FROM documents WHERE $pred) ORDER BY h LIMIT $k)""".stripMargin
      s"""WITH ${kcte("ka", "doc_id % 2 = 0")},
         |${kcte("kb", "doc_id % 3 = 0")},
         |sa AS (SELECT COUNT(*) AS n, MAX(h) AS mx FROM ka),
         |sb AS (SELECT COUNT(*) AS n, MAX(h) AS mx FROM kb),
         |th AS (SELECT LEAST(CASE WHEN sa.n < $k THEN $p ELSE sa.mx END,
         |                    CASE WHEN sb.n < $k THEN $p ELSE sb.mx END) AS th
         |       FROM sa CROSS JOIN sb),
         |cu AS (SELECT
         |    (SELECT COUNT(*) FROM ka JOIN kb USING (h) CROSS JOIN th WHERE h < th) AS c,
         |    (SELECT COUNT(*) FROM (SELECT h FROM ka UNION SELECT h FROM kb) x
         |       CROSS JOIN th WHERE h < th) AS u)
         |SELECT
         |  CASE WHEN sa.n < $k THEN CAST(sa.n AS DOUBLE)
         |       ELSE (CAST(${k - 1} AS DOUBLE) * CAST($p AS DOUBLE)) / CAST(sa.mx AS DOUBLE)
         |  END AS est_a,
         |  CASE WHEN sb.n < $k THEN CAST(sb.n AS DOUBLE)
         |       ELSE (CAST(${k - 1} AS DOUBLE) * CAST($p AS DOUBLE)) / CAST(sb.mx AS DOUBLE)
         |  END AS est_b,
         |  CAST(cu.c AS DOUBLE) * (CAST($p AS DOUBLE) / CAST(th.th AS DOUBLE)) AS est_inter,
         |  CAST(cu.u AS DOUBLE) * (CAST($p AS DOUBLE) / CAST(th.th AS DOUBLE)) AS est_union,
         |  CAST(cu.c AS DOUBLE) / CAST(cu.u AS DOUBLE) AS jaccard
         |FROM sa CROSS JOIN sb CROSS JOIN th CROSS JOIN cu""".stripMargin
    },

    "ext_contamination_semantic" ->
      s"""WITH ev AS (
         |  SELECT vec_id AS eval_id, embedding AS ev,
         |    sqrt(${dotSql("embedding", "embedding")}) AS evn
         |  FROM embeddings WHERE vec_id % 17 = 0),
         |co AS (
         |  SELECT vec_id + 1000000 AS vec_id, embedding AS cv,
         |    sqrt(${dotSql("embedding", "embedding")}) AS cvn
         |  FROM embeddings),
         |scored AS (
         |  SELECT co.vec_id, ev.eval_id,
         |    CAST(round(${dotSql("co.cv", "ev.ev")} / (co.cvn * ev.evn) * 1e7)
         |      AS BIGINT) AS q
         |  FROM co CROSS JOIN ev),
         |best AS (
         |  SELECT vec_id, eval_id, q FROM (
         |    SELECT vec_id, eval_id, q,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY q DESC, eval_id ASC) AS r
         |    FROM scored) WHERE r = 1)
         |SELECT vec_id, eval_id, q AS cos_q FROM best
         |WHERE q >= 9500000 ORDER BY vec_id""".stripMargin,

    "ext_contamination" ->
      """WITH c AS (
        |  SELECT doc_id + 2000000 AS doc_id,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |b AS (
        |  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT doc_id FROM c WHERE fp IN (SELECT fp FROM b) ORDER BY doc_id""".stripMargin,

    "ext_token_stats" ->
      s"""SELECT doc_id, lang, source, n_chars,
         |  len(${tokensSql("text")}) AS n_ws_tokens,
         |  len(regexp_extract_all(text, '${TextStats.BpeIshPattern}')) AS n_bpeish_tokens,
         |  len(text) AS n_chars_measured
         |FROM documents ORDER BY doc_id""".stripMargin,

    "ext_quality_score" -> {
      val toks = tokensSql("text")
      val stopList = TextStats.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
      s"""SELECT doc_id, lang, source, n_chars,
         |  len($toks) AS n_tokens,
         |  CAST(len(text) - (len($toks) - 1) AS DOUBLE) / CAST(len($toks) AS DOUBLE) AS avg_token_len,
         |  CAST(len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / CAST(len(text) AS DOUBLE) AS punct_ratio,
         |  CAST(len(list_filter($toks, t -> list_contains($stopList, t))) AS DOUBLE) / CAST(len($toks) AS DOUBLE) AS stopword_ratio,
         |  (CAST(len(list_filter($toks, t -> list_contains($stopList, t))) AS DOUBLE) / CAST(len($toks) AS DOUBLE)) * 0.4
         |    + (1.0 - CAST(len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / CAST(len(text) AS DOUBLE)) * 0.4
         |    + (CASE WHEN len($toks) >= 20 AND len($toks) <= 1000 THEN 0.2 ELSE 0.0 END) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "ext_lang_id" -> {
      val toks = tokensSql("lower(text)")
      def score(markers: Seq[String]) = {
        val list = markers.map(w => s"'$w'").mkString("[", ",", "]")
        s"len(list_filter($toks, t -> list_contains($list, t)))"
      }
      val scores = TextStats.LangMarkers
        .map { case (l, m) => s"${score(m)} AS score_$l" }.mkString(",\n  ")
      val langs = TextStats.LangMarkers.map(_._1)
      val pick = {
        def caseFor(i: Int): String =
          if (i == langs.length - 1) s"'${langs(i)}'"
          else {
            val cond = langs.drop(i + 1)
              .map(o => s"score_${langs(i)} >= score_$o").mkString(" AND ")
            s"CASE WHEN $cond THEN '${langs(i)}' ELSE ${caseFor(i + 1)} END"
          }
        caseFor(0)
      }
      s"""WITH scored AS (
         |  SELECT doc_id, lang, source, n_chars,
         |  $scores
         |  FROM documents)
         |SELECT doc_id, lang, source, n_chars, score_en, score_de, score_fr, score_es,
         |       $pick AS lang_pred
         |FROM scored ORDER BY doc_id""".stripMargin
    },

    "ext_langid_trained" ->
      s"""WITH ${langidCtes("documents", "documents")}
         |SELECT doc_id, label AS lang, CAST(score AS BIGINT) AS score_lpq
         |FROM lpred ORDER BY doc_id""".stripMargin,

    "ext_langid_confusion" ->
      s"""WITH ldocs AS (
         |  SELECT doc_id, lang, $langDecorTextSql AS text FROM documents),
         |${langidCtes("ldocs", "ldocs")},
         |hpick AS (SELECT doc_id, $langHeuristicPickSql AS heuristic
         |          FROM ldocs)
         |SELECT d.lang, p.label AS trained, h.heuristic, COUNT(*) AS n
         |FROM lpred p
         |JOIN ldocs d ON d.doc_id = p.doc_id
         |JOIN hpick h ON h.doc_id = p.doc_id
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "ext_langid_routed_quota" ->
      s"""WITH ldocs AS (
         |  SELECT doc_id, lang, $langDecorTextSql AS text FROM documents),
         |${langidCtes("ldocs", "ldocs")},
         |q AS (
         |  SELECT label AS lang_pred, doc_id,
         |    ${TextHash.hmodSql("(doc_id :: VARCHAR || ':lr8')")} AS qh
         |  FROM lpred),
         |r AS (
         |  SELECT lang_pred, doc_id,
         |    row_number() OVER (PARTITION BY lang_pred
         |      ORDER BY qh ASC, doc_id ASC) AS rank
         |  FROM q)
         |SELECT lang_pred, doc_id, rank FROM r WHERE rank <= 25
         |ORDER BY lang_pred, rank""".stripMargin,

    "ext_langid_margin" ->
      s"""WITH ldocs AS (
         |  SELECT doc_id, lang, $langDecorTextSql AS text FROM documents),
         |hdocs AS (
         |  SELECT doc_id, $langHalfDecorTextSql AS text FROM documents),
         |${langidCtes("ldocs", "hdocs")},
         |lrk AS (
         |  SELECT doc_id, label, score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, label ASC) AS rn
         |  FROM ltot),
         |lmg AS (
         |  SELECT a.doc_id, a.label, a.score - b.score AS margin
         |  FROM lrk a JOIN lrk b ON b.doc_id = a.doc_id
         |   AND a.rn = 1 AND b.rn = 2)
         |SELECT doc_id,
         |  CASE WHEN margin >= 100000000000 THEN label ELSE 'und' END AS lang,
         |  CAST(margin AS BIGINT) AS margin_lpq
         |FROM lmg ORDER BY doc_id""".stripMargin,

    "ext_label_kappa" ->
      s"""WITH ldocs AS (
         |  SELECT doc_id, lang, $langDecorTextSql AS text FROM documents),
         |${langidCtes("ldocs", "ldocs")},
         |hpick AS (SELECT doc_id, $langHeuristicPickSql AS pred
         |          FROM ldocs),
         |tp AS (
         |  SELECT 'trained' AS rater, d.lang AS a, p.label AS b
         |  FROM lpred p JOIN ldocs d ON d.doc_id = p.doc_id
         |  UNION ALL
         |  SELECT 'heuristic', d.lang, h.pred
         |  FROM hpick h JOIN ldocs d ON d.doc_id = h.doc_id),
         |conf AS (SELECT rater, a, b, COUNT(*) AS n
         |         FROM tp GROUP BY 1, 2, 3),
         |tot AS (SELECT rater, SUM(n) AS n,
         |          SUM(CASE WHEN a = b THEN n ELSE 0 END) AS n_agree
         |        FROM conf GROUP BY rater),
         |am AS (SELECT rater, a, SUM(n) AS na FROM conf GROUP BY 1, 2),
         |bm AS (SELECT rater, b, SUM(n) AS nb FROM conf GROUP BY 1, 2),
         |pe AS (SELECT am.rater, SUM(na * nb) AS pe_num
         |       FROM am JOIN bm ON bm.rater = am.rater AND bm.b = am.a
         |       GROUP BY am.rater),
         |k AS (SELECT t.rater, t.n, t.n_agree,
         |        COALESCE(pe.pe_num, 0) AS pe_num,
         |        t.n_agree * t.n - COALESCE(pe.pe_num, 0) AS kn,
         |        t.n * t.n - COALESCE(pe.pe_num, 0) AS kd
         |      FROM tot t LEFT JOIN pe ON pe.rater = t.rater)
         |SELECT rater, CAST(n AS BIGINT) AS n,
         |  CAST(n_agree AS BIGINT) AS n_agree,
         |  CAST(pe_num AS DOUBLE) AS pe_num,
         |  CAST(kn AS DOUBLE) AS kappa_num, CAST(kd AS DOUBLE) AS kappa_den,
         |  CAST(CASE WHEN kd = 0 THEN NULL
         |       WHEN kn >= 0 THEN (kn * 1000000) // kd
         |       ELSE -(((-kn) * 1000000) // kd) END AS BIGINT) AS kappa_ppm
         |FROM k ORDER BY rater""".stripMargin,

    "ext_shard_assign" ->
      """WITH sc AS (
        |  SELECT doc_id, s,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |                        CAST(s AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM documents CROSS JOIN (SELECT unnest(range(0, 9)) AS s)),
        |b AS (SELECT doc_id, s AS shard_before FROM (
        |  SELECT doc_id, s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s ASC) AS rn
        |  FROM sc WHERE s < 8) WHERE rn = 1),
        |a AS (SELECT doc_id, s AS shard_after FROM (
        |  SELECT doc_id, s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s ASC) AS rn
        |  FROM sc) WHERE rn = 1)
        |SELECT b.doc_id, CAST(shard_before AS BIGINT) AS shard_before,
        |  CAST(shard_after AS BIGINT) AS shard_after,
        |  shard_before <> shard_after AS moved
        |FROM b JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin,

    "ext_fleiss_kappa" ->
      s"""WITH ldocs AS (
         |  SELECT doc_id, lang, $langDecorTextSql AS text FROM documents),
         |hdocs AS (
         |  SELECT doc_id, $langHalfDecorTextSql AS text FROM documents),
         |${langidCtes("ldocs", "hdocs")},
         |lrk AS (
         |  SELECT doc_id, label, score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, label ASC) AS rn
         |  FROM ltot),
         |lmg AS (
         |  SELECT a.doc_id, a.label, a.score - b.score AS margin
         |  FROM lrk a JOIN lrk b ON b.doc_id = a.doc_id
         |   AND a.rn = 1 AND b.rn = 2),
         |ratings AS (
         |  SELECT doc_id, label AS cat FROM lpred
         |  UNION ALL
         |  SELECT doc_id,
         |    CASE WHEN margin >= $LangidMarginThr THEN label ELSE 'und' END
         |  FROM lmg
         |  UNION ALL
         |  SELECT doc_id, $langHeuristicPickSql FROM hdocs),
         |nij AS (SELECT doc_id, cat, COUNT(*) AS nij
         |        FROM ratings GROUP BY 1, 2),
         |sagg AS (SELECT SUM(nij * nij) AS s_sq, SUM(nij) AS tot FROM nij),
         |eagg AS (SELECT SUM(tj * tj) AS e_sq, COUNT(*) AS n_categories
         |         FROM (SELECT cat, SUM(nij) AS tj FROM nij GROUP BY cat)),
         |k AS (SELECT tot // 3 AS n_items, 3 AS n_raters, n_categories,
         |        s_sq, e_sq,
         |        (s_sq - tot) * tot - e_sq * 2 AS kn,
         |        2 * (tot * tot - e_sq) AS kd
         |      FROM sagg CROSS JOIN eagg)
         |SELECT CAST(n_items AS BIGINT) AS n_items,
         |  CAST(n_raters AS BIGINT) AS n_raters,
         |  CAST(n_categories AS BIGINT) AS n_categories,
         |  CAST(s_sq AS DOUBLE) AS s_sq, CAST(e_sq AS DOUBLE) AS e_sq,
         |  CAST(kn AS DOUBLE) AS kappa_num, CAST(kd AS DOUBLE) AS kappa_den,
         |  CAST(CASE WHEN kd = 0 THEN NULL
         |       WHEN kn >= 0 THEN (kn * 1000000) // kd
         |       ELSE -(((-kn) * 1000000) // kd) END AS BIGINT) AS kappa_ppm
         |FROM k""".stripMargin,

    "ext_k_anon" ->
      """WITH v AS (
        |  SELECT lang, source, n_chars // 500 AS band FROM documents),
        |g AS (SELECT lang, source, band, COUNT(*) AS nv
        |      FROM v GROUP BY 1, 2, 3),
        |a AS (SELECT lang, source, CAST(SUM(nv) AS BIGINT) AS n_rows,
        |        CAST(COUNT(*) AS BIGINT) AS n_sensitive
        |      FROM g GROUP BY 1, 2)
        |SELECT lang, source, n_rows, n_sensitive,
        |  n_rows >= 5 AS k_ok, n_sensitive >= 3 AS l_ok
        |FROM a ORDER BY lang, source""".stripMargin,

    "ext_quality_gopher" -> {
      val stopList = TextStats.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
      s"""WITH tk AS (
         |  SELECT doc_id, lang, source, n_chars, ${tokensSql("text")} AS toks
         |  FROM documents),
         |sig AS (
         |  SELECT doc_id, lang, source, n_chars,
         |    len(toks) AS n_words,
         |    CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
         |      / CAST(nullif(len(toks), 0) AS DOUBLE) AS mean_word_len,
         |    CAST(len(list_filter(toks, t -> contains(t, '#') OR contains(t, '...'))) AS DOUBLE)
         |      / CAST(nullif(len(toks), 0) AS DOUBLE) AS symbol_ratio,
         |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE)
         |      / CAST(nullif(len(toks), 0) AS DOUBLE) AS alpha_word_ratio,
         |    len(list_filter(toks, t -> list_contains($stopList, t))) AS n_stopwords
         |  FROM tk)
         |SELECT *,
         |  n_words >= 50 AND n_words <= 100000 AS ok_word_count,
         |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS ok_mean_word_len,
         |  symbol_ratio <= 0.1 AS ok_symbol_ratio,
         |  alpha_word_ratio >= 0.8 AS ok_alpha_words,
         |  n_stopwords >= 2 AS ok_stopwords,
         |  (n_words >= 50 AND n_words <= 100000) AND
         |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AND
         |  symbol_ratio <= 0.1 AND alpha_word_ratio >= 0.8 AND
         |  n_stopwords >= 2 AS pass_gopher
         |FROM sig ORDER BY doc_id""".stripMargin
    },

    "ext_contamination_ngram" -> {
      val grams8 = TextHash.shinglesSql("text", 8)
      s"""WITH c AS (SELECT doc_id + 2000000 AS doc_id, text FROM documents),
         |b AS (
         |  SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
         |  FROM (SELECT unnest(list_distinct($grams8)) AS g
         |        FROM documents WHERE doc_id % 7 = 0)),
         |g AS (
         |  SELECT doc_id, n_grams, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
         |  FROM (SELECT doc_id, len(list_distinct($grams8)) AS n_grams,
         |               unnest(list_distinct($grams8)) AS g
         |        FROM c))
         |SELECT doc_id, n_grams, COUNT(*) AS n_hits
         |FROM g WHERE gh IN (SELECT gh FROM b)
         |GROUP BY doc_id, n_grams HAVING COUNT(*) >= 3
         |ORDER BY doc_id""".stripMargin
    },

    "ext_dup_spans" -> {
      val grams8 = TextHash.shinglesSql("text", 8)
      s"""WITH c AS (SELECT doc_id, text FROM documents
         |           UNION ALL
         |           SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0),
         |gr AS (SELECT doc_id, $grams8 AS grams FROM c),
         |g AS (SELECT doc_id, unnest(range(0, len(grams))) AS pos,
         |             ('0x' || substr(md5(unnest(grams)), 1, 15))::BIGINT AS gh
         |      FROM gr),
         |d AS (SELECT gh, COUNT(DISTINCT doc_id) AS n_docs FROM g GROUP BY gh
         |      HAVING COUNT(DISTINCT doc_id) >= 2)
         |SELECT g.doc_id, g.pos, g.gh, d.n_docs FROM g JOIN d USING (gh)
         |ORDER BY doc_id, pos""".stripMargin
    },

    "ext_dup_intervals" -> {
      val grams8 = TextHash.shinglesSql("text", 8)
      s"""WITH c AS (SELECT doc_id, text FROM documents
         |           UNION ALL
         |           SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0),
         |gr AS (SELECT doc_id, $grams8 AS grams FROM c),
         |g AS (SELECT doc_id, unnest(range(0, len(grams))) AS pos,
         |             ('0x' || substr(md5(unnest(grams)), 1, 15))::BIGINT AS gh
         |      FROM gr),
         |d AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
         |f AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gh)),
         |lg AS (SELECT doc_id, pos,
         |         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |       FROM f),
         |isl AS (SELECT doc_id, pos,
         |  SUM(CASE WHEN prev IS NULL OR pos > prev + 8 THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM lg)
         |SELECT doc_id, MIN(pos) AS start_pos, MAX(pos) + 8 AS end_pos,
         |       COUNT(*) AS n_grams
         |FROM isl GROUP BY doc_id, island
         |ORDER BY doc_id, start_pos""".stripMargin
    },

    "ext_cut_spans" -> {
      val grams8 = TextHash.shinglesSql("text", 8)
      s"""WITH c AS (SELECT doc_id, text FROM documents
         |           UNION ALL
         |           SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0),
         |gr AS (SELECT doc_id, $grams8 AS grams FROM c),
         |g AS (SELECT doc_id, unnest(range(0, len(grams))) AS pos,
         |             ('0x' || substr(md5(unnest(grams)), 1, 15))::BIGINT AS gh
         |      FROM gr),
         |d AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
         |f AS (SELECT g.doc_id, g.pos, g.gh FROM g JOIN d USING (gh)),
         |cn AS (SELECT gh, doc_id AS cd, pos AS cp FROM (
         |  SELECT gh, doc_id, pos,
         |    row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS r
         |  FROM f) WHERE r = 1),
         |cuts AS (SELECT f.doc_id, list(f.pos ORDER BY f.pos) AS cut_pos
         |         FROM f JOIN cn USING (gh)
         |         WHERE NOT (f.doc_id = cn.cd AND f.pos = cn.cp)
         |         GROUP BY f.doc_id),
         |tk AS (SELECT c.doc_id, string_split(c.text, ' ') AS toks,
         |              c.text, cuts.cut_pos
         |       FROM c LEFT JOIN cuts USING (doc_id))
         |SELECT doc_id,
         |  CASE WHEN cut_pos IS NULL THEN text
         |       -- array_to_string(NULL-typed empty list) is NULL in DuckDB;
         |       -- a fully-cut document is EMPTY text, not missing text
         |       ELSE COALESCE(array_to_string(
         |         [toks[i+1] FOR i IN range(0, len(toks))
         |          IF len(list_filter(cut_pos, p -> i >= p AND i <= p + 7)) = 0],
         |         ' '), '')
         |  END AS text
         |FROM tk ORDER BY doc_id""".stripMargin
    },

    "ext_bpe_tokens" ->
      s"""WITH RECURSIVE $BpeDoneCtes
         |SELECT doc_id,
         |  CAST(SUM(len(toks)) AS BIGINT) AS n_bpe_tokens,
         |  md5(COALESCE(string_agg(array_to_string(toks, chr(1)), chr(2) ORDER BY widx), ''))
         |    AS tok_md5
         |FROM done GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ext_tokenizer_fertility" ->
      s"""WITH RECURSIVE $BpeDoneCtes,
         |tc AS (SELECT doc_id, CAST(SUM(len(toks)) AS BIGINT) AS tok_n
         |       FROM done GROUP BY doc_id),
         |d2 AS (SELECT d.lang, COALESCE(tc.tok_n, 0) AS tok_n,
         |         length(d.text) AS nch, octet_length(encode(d.text)) AS nb
         |       FROM documents d LEFT JOIN tc ON tc.doc_id = d.doc_id),
         |a AS (SELECT lang, COUNT(*) AS n_docs, SUM(tok_n) AS n_tokens,
         |        SUM(nch) AS n_chars, SUM(nb) AS n_bytes
         |      FROM d2 GROUP BY lang)
         |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(n_chars AS BIGINT) AS n_chars,
         |  CAST(n_bytes AS BIGINT) AS n_bytes,
         |  CASE WHEN n_tokens = 0 THEN NULL
         |       ELSE CAST((n_chars * 1000) // n_tokens AS BIGINT) END
         |    AS chars_per_ktok,
         |  CASE WHEN n_tokens = 0 THEN NULL
         |       ELSE CAST((n_bytes * 1000) // n_tokens AS BIGINT) END
         |    AS bytes_per_ktok
         |FROM a ORDER BY lang""".stripMargin,

    "ext_token_mixture" ->
      s"""WITH RECURSIVE $BpeDoneCtes,
         |tc AS (SELECT doc_id, CAST(SUM(len(toks)) AS BIGINT) AS tok_n
         |       FROM done GROUP BY doc_id),
         |d2 AS (SELECT d.doc_id, d.source, COALESCE(tc.tok_n, 0) AS tok_n
         |       FROM documents d LEFT JOIN tc ON tc.doc_id = d.doc_id),
         |av AS (SELECT source, SUM(tok_n) AS avail FROM d2 GROUP BY source),
         |w AS (SELECT source,
         |        CASE WHEN length(source) = 4 THEN 1 ELSE 3 END AS parts
         |      FROM (SELECT DISTINCT source FROM documents)),
         |tp AS (SELECT SUM(parts) AS tp FROM w),
         |plan AS (SELECT av.source AS source, avail,
         |           (CAST(500000 AS BIGINT) * parts) // tp AS target
         |         FROM av JOIN w ON w.source = av.source CROSS JOIN tp),
         |p2 AS (SELECT source, avail, target,
         |         CAST(target // avail AS BIGINT) AS epochs,
         |         CAST(((target % avail) * 1000000) // avail AS BIGINT) AS frac
         |       FROM plan),
         |em AS (SELECT d.source AS source, unnest(range(p.epochs)) AS epoch
         |       FROM documents d JOIN p2 p ON p.source = d.source
         |       UNION ALL
         |       SELECT d.source, p.epochs AS epoch
         |       FROM documents d JOIN p2 p ON p.source = d.source
         |       WHERE ${Sampling.ppmHashSql("d.doc_id", "mix")} < p.frac)
         |SELECT source, CAST(epoch AS BIGINT) AS epoch, COUNT(*) AS n
         |FROM em GROUP BY source, epoch ORDER BY source, epoch""".stripMargin,

    "ext_bpe_train" -> {
      // unrolled training loop, one CTE triple per learned merge: p{i} =
      // count-weighted adjacent pairs over the framed-symbol vocabulary,
      // b{i} = the argmax with the pinned tie-break, v{i+1} = batch
      // left-to-right merge application — plain replace() on the framed
      // encoding, the same non-overlapping-leftmost contract Spark's
      // replace implements. MATERIALIZED keeps the chained references
      // linear (b{i} is read by both v{i+1} and the final union).
      val k = 8
      val v0 =
        """v0 AS MATERIALIZED (
          |  SELECT regexp_replace(w, '(?s)(.)', chr(1)||'\1'||chr(2), 'g') AS enc, cnt
          |  FROM (SELECT w, COUNT(*) AS cnt FROM (
          |          SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
          |          FROM documents) GROUP BY w))""".stripMargin
      val iters = (0 until k).map { i =>
        s"""p$i AS (
           |  SELECT p.l AS l, p.r AS r, SUM(cnt) AS c FROM (
           |    SELECT unnest([{'l': s[j], 'r': s[j+1]} FOR j IN range(1, len(s))]) AS p, cnt
           |    FROM (SELECT string_split(enc[2:-2], chr(2)||chr(1)) AS s, cnt FROM v$i))
           |  GROUP BY p.l, p.r),
           |b$i AS MATERIALIZED (
           |  SELECT l, r FROM p$i ORDER BY c DESC, l ASC, r ASC LIMIT 1),
           |v${i + 1} AS MATERIALIZED (
           |  SELECT replace(enc, chr(1)||l||chr(2)||chr(1)||r||chr(2),
           |                 chr(1)||l||r||chr(2)) AS enc, cnt
           |  FROM v$i CROSS JOIN b$i)""".stripMargin
      }
      val union = (0 until k)
        .map(i => s"SELECT $i AS merge_rank, l AS lhs, r AS rhs FROM b$i")
        .mkString("\nUNION ALL ")
      s"""WITH $v0,
         |${iters.mkString(",\n")}
         |SELECT CAST(merge_rank AS BIGINT) AS merge_rank, lhs, rhs
         |FROM ($union) ORDER BY merge_rank""".stripMargin
    },

    "ext_tfidf_topk" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
         |dft AS (SELECT term, COUNT(*) AS df,
         |               ('0x' || substr(md5(term), 1, 15))::BIGINT AS th
         |        FROM tf GROUP BY term),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, dft.df, dft.th,
         |    CAST(CAST(tf.tf AS DOUBLE)
         |      * ln(CAST(n_docs + 1 AS DOUBLE) / CAST(dft.df + 1 AS DOUBLE))
         |      AS DECIMAL(18,9)) AS tfidf
         |  FROM tf JOIN dft USING (term) CROSS JOIN n),
         |r AS (SELECT doc_id, term, tf, df, tfidf,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, th ASC) AS rank
         |  FROM scored)
         |SELECT doc_id, rank, term, tf, df, tfidf
         |FROM r WHERE rank <= 5
         |ORDER BY doc_id, rank""".stripMargin,

    "ext_curation" -> {
      val toks = tokensSql("text")
      val stopList = TextStats.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
      s"""WITH q AS (
         |  SELECT doc_id,
         |    len($toks) AS n_tokens,
         |    (CAST(len(list_filter($toks, t -> list_contains($stopList, t))) AS DOUBLE) / CAST(len($toks) AS DOUBLE)) * 0.4
         |      + (1.0 - CAST(len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / CAST(len(text) AS DOUBLE)) * 0.4
         |      + (CASE WHEN len($toks) >= 20 AND len($toks) <= 1000 THEN 0.2 ELSE 0.0 END) AS quality,
         |    ${TextHash.shinglesSql("text", 2)} AS grams
         |  FROM documents)
         |SELECT doc_id, quality,
         |  1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE) AS repetition,
         |  n_tokens
         |FROM q
         |WHERE quality >= 0.45
         |  AND (1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)) <= 0.05
         |  AND n_tokens >= 20 AND n_tokens <= 1000
         |ORDER BY doc_id""".stripMargin
    },

    "ext_repetition" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN
         |      text || ' ' || array_to_string(string_split(text, ' ')[1:8], ' ')
         |           || ' ' || array_to_string(string_split(text, ' ')[1:8], ' ')
         |    ELSE text END AS text
         |  FROM documents),
         |g AS (SELECT doc_id, ${TextHash.shinglesSql("text", 2)} AS grams FROM d)
         |SELECT doc_id, len(grams) AS n_bigrams,
         |  len(list_distinct(grams)) AS n_distinct_bigrams,
         |  1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
         |    AS repetition
         |FROM g ORDER BY doc_id""".stripMargin,

    "ext_quality_checks" ->
      """WITH a AS (SELECT count(*) AS n,
        |  count(o_custkey) AS c0,
        |  count(DISTINCT o_orderkey) AS c1,
        |  count(CASE WHEN o_orderkey IS NOT NULL THEN 1 END) AS t1,
        |  count(DISTINCT o_custkey) AS c2,
        |  count(CASE WHEN o_custkey IS NOT NULL THEN 1 END) AS t2,
        |  min(o_orderkey) AS mn3, max(o_orderkey) AS mx3,
        |  count(CASE WHEN o_orderstatus IN ('O','F') THEN 1 END) AS c4,
        |  count(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 END) AS c5
        |  FROM orders)
        |SELECT CAST(check_id AS BIGINT) AS check_id, check_type, col_name,
        |  CAST(observed AS BIGINT) AS observed,
        |  CAST(threshold_lo AS BIGINT) AS threshold_lo,
        |  CAST(threshold_hi AS BIGINT) AS threshold_hi, passed
        |FROM (
        |  SELECT 0 AS check_id, 'complete' AS check_type,
        |    'o_custkey' AS col_name, (c0 * 1000000) // n AS observed,
        |    1000000 AS threshold_lo, NULL AS threshold_hi,
        |    (c0 * 1000000) // n >= 1000000 AS passed FROM a
        |  UNION ALL SELECT 1, 'unique', 'o_orderkey', t1 - c1, NULL, 0,
        |    t1 - c1 <= 0 FROM a
        |  UNION ALL SELECT 2, 'unique', 'o_custkey', t2 - c2, NULL, 0,
        |    t2 - c2 <= 0 FROM a
        |  UNION ALL SELECT 3, 'bounds', 'o_orderkey',
        |    (CASE WHEN mn3 < 1 THEN 1 ELSE 0 END), 1, NULL,
        |    mn3 >= 1 FROM a
        |  UNION ALL SELECT 4, 'in_set', 'o_orderstatus',
        |    (c4 * 1000000) // n, 900000, NULL,
        |    (c4 * 1000000) // n >= 900000 FROM a
        |  UNION ALL SELECT 5, 'in_set', 'o_orderstatus',
        |    (c5 * 1000000) // n, 1000000, NULL,
        |    (c5 * 1000000) // n >= 1000000 FROM a
        |  UNION ALL SELECT 6, 'row_count', '*', n, 1, 10000000,
        |    n BETWEEN 1 AND 10000000 FROM a)
        |ORDER BY check_id""".stripMargin,

    "ext_pii" -> {
      import graft.ext.Pii
      val passes = Pii.passSqls("g7").zipWithIndex.map {
        case ((name, mk), i) =>
          val src = if (i == 0) "inj" else s"p${i - 1}"
          s"p$i AS (SELECT doc_id, text, ${mk("t")} AS t\n" +
            s"       FROM (SELECT doc_id, text, ${if (i == 0) "text" else "t"} AS t FROM $src) __$name)"
      }
      def pq(p: String) = "'" + p.replace("'", "''") + "'"
      s"""WITH inj AS (
         |  SELECT doc_id,
         |    (CASE WHEN doc_id % 3 = 0 THEN
         |       'contact User' || CAST(doc_id AS VARCHAR) ||
         |       '@Example.com pay 4111 1111 1111 1111 not 4111-1111-1111-1112 '
         |     ELSE '' END) ||
         |    (CASE WHEN doc_id % 4 = 0 THEN 'from 203.0.113.7 bad 999.1.2.3 '
         |     ELSE '' END) ||
         |    (CASE WHEN doc_id % 5 = 0 THEN 'call +14155550123 ' ELSE '' END) ||
         |    text AS text
         |  FROM documents),
         |${passes.mkString(",\n")}
         |SELECT doc_id, md5(t) AS pii_md5,
         |  CAST(len(regexp_extract_all(text, ${pq(Pii.EmailPat)})) AS BIGINT)
         |    AS n_email,
         |  CAST(len(regexp_extract_all(text, ${pq(Pii.PhonePat)})) AS BIGINT)
         |    AS n_phone,
         |  CAST(len(list_filter(regexp_extract_all(text, ${pq(Pii.Ipv4Pat)}),
         |    m -> ${Pii.ipOkSql("m")})) AS BIGINT) AS n_ip,
         |  CAST(len(list_filter(regexp_extract_all(text, ${pq(Pii.CardPat)}),
         |    m -> ${Pii.luhnOkSql("m")})) AS BIGINT) AS n_card
         |FROM p3 ORDER BY doc_id""".stripMargin
    },

    "ext_redact" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      'contact user' || CAST(doc_id AS VARCHAR) || '@example.com id 1234567890 ' || text
        |    ELSE text END AS text
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, text,
        |    regexp_replace(
        |      regexp_replace(text, '[a-zA-Z0-9_.]+@[a-zA-Z0-9.]+', '<EMAIL>', 'g'),
        |      '[0-9]{6,}', '<NUM>', 'g') AS redacted
        |  FROM d)
        |SELECT doc_id, md5(redacted) AS redacted_md5,
        |       length(text) - length(redacted) AS delta_len
        |FROM r ORDER BY doc_id""".stripMargin,

    "ext_normalize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN 'Cafe' || chr(769) || '  NAI' || chr(776) || 'VE  ' || text
        |      ELSE text END AS text
        |  FROM documents),
        |n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS norm_text
        |  FROM d)
        |SELECT doc_id, md5(norm_text) AS norm_md5,
        |  length(norm_text) AS n_chars_norm
        |FROM n ORDER BY doc_id""".stripMargin,

    "ext_fingerprint" ->
      s"""WITH nrm AS (
         |  SELECT doc_id, lang, source, n_chars,
         |         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
         |  FROM documents)
         |SELECT doc_id, lang, source, n_chars, md5(norm) AS fp_md5,
         |  list_reduce(list_prepend(0::BIGINT,
         |    [ascii(substr(norm, i, 1))::BIGINT FOR i IN range(1, len(norm)+1)]),
         |    (a,x) -> (a*31 + x) % $P) AS fp_rolling
         |FROM nrm ORDER BY doc_id""".stripMargin,

    "ext_incremental_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        |batch AS (
        |  SELECT doc_id + 3000000 AS doc_id, text || ' fresh' AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 4000000, text FROM documents WHERE doc_id % 20 = 1),
        |bh AS (SELECT doc_id, md5(text) AS fingerprint FROM batch)
        |SELECT fingerprint, MIN(doc_id) AS keep_id, COUNT(*) AS copies
        |FROM bh
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM corpus c WHERE md5(c.text) = bh.fingerprint)
        |GROUP BY fingerprint ORDER BY keep_id""".stripMargin,

    "ext_incremental_neardup" -> incNearDupOracleSql,

    // the persistent LSH index is LOSSLESS vs the scan path (same
    // TextHash bands + shingles), so both index gates replay the same
    // end-to-end oracle as the scan-path screen
    "ext_neardup_indexed" -> incNearDupOracleSql,
    "ext_neardup_index_incremental" -> incNearDupOracleSql,

    "ext_incremental_dedup_bloom" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        |batch AS (
        |  SELECT doc_id + 3000000 AS doc_id, text || ' fresh' AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 4000000, text FROM documents WHERE doc_id % 20 = 1),
        |bh AS (SELECT doc_id, md5(text) AS fingerprint FROM batch)
        |SELECT fingerprint, MIN(doc_id) AS keep_id, COUNT(*) AS copies
        |FROM bh
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM corpus c WHERE md5(c.text) = bh.fingerprint)
        |GROUP BY fingerprint ORDER BY keep_id""".stripMargin,

    "ext_boilerplate" -> {
      val segs = Boilerplate.segmentsSql("text", 10)
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'subscribe to our newsletter for daily updates and special offers ' || text
        |      ELSE text END AS text
        |  FROM documents),
        |segs AS (
        |  SELECT doc_id, unnest(s) AS seg, generate_subscripts(s, 1) - 1 AS seg_idx
        |  FROM (SELECT doc_id, SEGSQL AS s FROM corpus)),
        |boiler AS (
        |  SELECT md5(seg) AS h FROM segs
        |  GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 3)
        |SELECT doc_id,
        |  string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
        |FROM segs WHERE md5(seg) NOT IN (SELECT h FROM boiler)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin
        .replace("SEGSQL", segs)
    },

    "ext_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, COUNT(*) AS n,
           |  COUNT(*) - COUNT($c) AS n_null, COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_s, CAST(MAX($c) AS VARCHAR) AS max_s
           |FROM orders""".stripMargin
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    "ext_asof_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts)//1000 AS us, event_type
        |  FROM events)
        |SELECT p.event_id, p.user_id, p.us,
        |  (SELECT MAX(c.us) FROM e c
        |   WHERE c.user_id = p.user_id AND c.event_type = 'click'
        |     AND c.us <= p.us) AS click_us
        |FROM e p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,

    "ext_recrawl_priority" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts)//1000 AS us, event_type
        |           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |a AS (SELECT user_id, COUNT(*) AS n_obs,
        |        SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |          AS n_changes,
        |        MIN(us) AS f, MAX(us) AS l
        |      FROM e GROUP BY user_id),
        |n AS (SELECT MAX(us) AS now FROM e),
        |r AS (SELECT user_id, n_obs, n_changes, l - f AS span, now - l AS age
        |      FROM a CROSS JOIN n)
        |SELECT user_id, CAST(n_obs AS BIGINT) AS n_obs,
        |  CAST(n_changes AS BIGINT) AS n_changes,
        |  CAST(span AS BIGINT) AS span,
        |  CAST(age AS BIGINT) AS age,
        |  CAST(CASE WHEN span = 0 THEN 0
        |       ELSE (n_changes * age * 1000000) // span
        |       END AS BIGINT) AS priority_ppm
        |FROM r ORDER BY priority_ppm DESC, user_id""".stripMargin,

    "ext_temporal_split" ->
      """WITH e AS (SELECT event_id, epoch_ns(ts)//1000 AS us FROM events
        |           WHERE ts IS NOT NULL),
        |c AS (SELECT us AS v, COUNT(*) AS cnt FROM e GROUP BY 1),
        |o AS (SELECT v,
        |        SUM(cnt) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        SUM(cnt) OVER () AS n
        |      FROM c),
        |cuts AS (SELECT
        |    MIN(CASE WHEN cum >= ceil(0.25 * n) THEN v END) AS c1,
        |    MIN(CASE WHEN cum >= ceil(0.50 * n) THEN v END) AS c2,
        |    MIN(CASE WHEN cum >= ceil(0.75 * n) THEN v END) AS c3
        |  FROM o),
        |b AS (SELECT f.fold,
        |        [CAST(-4611686018427387904 AS BIGINT), c1, c2, c3,
        |         CAST(4611686018427387904 AS BIGINT)][f.fold + 1] AS lo,
        |        [CAST(-4611686018427387904 AS BIGINT), c1, c2, c3,
        |         CAST(4611686018427387904 AS BIGINT)][f.fold + 2] AS hi
        |      FROM (SELECT unnest(range(0, 4)) AS fold) f CROSS JOIN cuts),
        |roles AS (
        |  SELECT b.fold, e.event_id,
        |    CASE WHEN e.us >= b.lo AND e.us < b.hi THEN 'test'
        |         WHEN e.us >= b.lo - 21600000000 AND
        |              e.us < b.hi + 21600000000 THEN 'purged'
        |         ELSE 'train' END AS role
        |  FROM e CROSS JOIN b)
        |SELECT CAST(fold AS BIGINT) AS fold, role, COUNT(*) AS n,
        |  CAST(SUM(event_id) AS BIGINT) AS sum_id
        |FROM roles GROUP BY fold, role ORDER BY fold, role""".stripMargin,

    "ext_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS us FROM events)
        |SELECT event_id, user_id, us,
        |  CAST(SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |      THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY us
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS session_seq
        |FROM (SELECT event_id, user_id, us,
        |        lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev_us
        |      FROM e)
        |ORDER BY event_id""".stripMargin,

    "ext_resample_ffill" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts)//1000 AS us, value FROM events
        |  WHERE user_id < 30),
        |obs AS (
        |  SELECT user_id, bucket, value AS obs_value FROM (
        |    SELECT user_id, us - (us % 86400000000) AS bucket, value,
        |      row_number() OVER (PARTITION BY user_id, us - (us % 86400000000)
        |        ORDER BY us DESC, value DESC) AS r
        |    FROM e) WHERE r = 1),
        |bounds AS (SELECT user_id, MIN(us) AS mn, MAX(us) AS mx
        |           FROM e GROUP BY user_id),
        |grid AS (
        |  SELECT user_id,
        |    unnest(range(mn - (mn % 86400000000),
        |                 mx - (mx % 86400000000) + 1, 86400000000)) AS bucket
        |  FROM bounds)
        |SELECT g.user_id, g.bucket,
        |  last_value(o.obs_value IGNORE NULLS)
        |    OVER (PARTITION BY g.user_id ORDER BY g.bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        |FROM grid g
        |LEFT JOIN obs o ON g.user_id = o.user_id AND g.bucket = o.bucket
        |ORDER BY g.user_id, g.bucket""".stripMargin,

    "ext_asof_nearest" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts)//1000 AS us, event_type
        |  FROM events)
        |SELECT p.event_id, p.user_id, p.us,
        |  (SELECT c.us FROM e c
        |   WHERE c.user_id = p.user_id AND c.event_type = 'click'
        |     AND abs(c.us - p.us) <= 500000
        |   ORDER BY abs(c.us - p.us) ASC, c.us ASC
        |   LIMIT 1) AS near_us
        |FROM e p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,

    "ext_asof_exec" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts)//1000 AS us, event_type
        |  FROM events)
        |SELECT p.event_id, p.user_id, p.us,
        |  (SELECT MAX(c.us) FROM e c
        |   WHERE c.user_id = p.user_id AND c.event_type = 'click'
        |     AND c.us <= p.us) AS click_us
        |FROM e p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,

    "ext_url_canonical" ->
      s"""WITH $UrlCorpusSql
         |SELECT doc_id, url_raw,
         |  ${Url.canonicalSql("url_raw")} AS url,
         |  ${Url.hostSql("url_raw")} AS host
         |FROM u ORDER BY doc_id""".stripMargin,

    "ext_robots_decisions" ->
      s"""WITH $UrlCorpusSql,
         |$robotsDecisionCtes
         |SELECT doc_id, url_host, allowed FROM dec
         |ORDER BY doc_id""".stripMargin,

    "ext_crawl_schedule" ->
      s"""WITH $UrlCorpusSql,
         |hosts AS (SELECT doc_id, ${Url.hostSql("url_raw")} AS host FROM u),
         |d(host, agent, delay_ms) AS (VALUES $crawlDelaysValuesSql),
         |res AS (SELECT host, delay_ms FROM (
         |  SELECT host, delay_ms,
         |    row_number() OVER (PARTITION BY host
         |      ORDER BY CASE WHEN lower(agent) = 'graftbot' THEN 0 ELSE 1 END,
         |               delay_ms) AS rn
         |  FROM d WHERE lower(agent) IN ('graftbot', '*')) WHERE rn = 1),
         |j AS (SELECT h.doc_id, h.host,
         |        CAST(COALESCE(res.delay_ms, 1000) AS BIGINT) AS delay_ms,
         |        CAST(row_number() OVER (PARTITION BY h.host
         |          ORDER BY h.doc_id DESC) AS BIGINT) AS seq
         |      FROM hosts h LEFT JOIN res ON res.host = h.host)
         |SELECT doc_id, host, delay_ms, seq,
         |  (seq - 1) * delay_ms AS fetch_at_ms
         |FROM j ORDER BY host, seq""".stripMargin,

    "ext_warc_roundtrip" ->
      s"""WITH $UrlCorpusSql
         |SELECT d.doc_id, u.url_raw AS target_uri,
         |  octet_length(encode(d.text)) AS content_length, d.text
         |FROM documents d JOIN u ON d.doc_id = u.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "ext_crawl_frontier" ->
      s"""WITH $UrlCorpusSql,
         |$robotsDecisionCtes,
         |okd AS (
         |  SELECT d.doc_id, d.url_host,
         |    ${Url.canonicalSql("u2.url_raw")} AS url
         |  FROM dec d JOIN u u2 ON d.doc_id = u2.doc_id
         |  WHERE d.allowed),
         |qh AS (
         |  SELECT doc_id, url_host, url,
         |    ${TextHash.hmodSql("(doc_id :: VARCHAR || ':fr1')")} AS qh
         |  FROM okd),
         |r AS (
         |  SELECT doc_id, url_host, url,
         |    row_number() OVER (PARTITION BY url_host
         |                       ORDER BY qh ASC, doc_id ASC) AS rank
         |  FROM qh),
         |auth AS (
         |  SELECT url_host, COUNT(*) AS host_docs FROM okd GROUP BY url_host)
         |SELECT r.doc_id, r.url_host, r.url, r.rank, auth.host_docs
         |FROM r JOIN auth ON r.url_host = auth.url_host
         |WHERE r.rank <= 8
         |ORDER BY auth.host_docs DESC, r.url_host, r.rank""".stripMargin,

    "ext_host_cap" ->
      s"""WITH $UrlCorpusSql,
         |b AS (
         |  SELECT doc_id, ${Url.hostSql("url_raw")} AS host FROM u
         |  WHERE ${Url.hostSql("url_raw")} NOT IN
         |    ${BlockedHosts.map(h => s"'$h'").mkString("(", ", ", ")")}),
         |h AS (
         |  SELECT host, doc_id,
         |    ${TextHash.hmodSql("(doc_id :: VARCHAR || ':crawl1')")} AS qh
         |  FROM b),
         |r AS (
         |  SELECT host, doc_id,
         |    row_number() OVER (PARTITION BY host ORDER BY qh ASC, doc_id ASC) AS rank
         |  FROM h)
         |SELECT host, doc_id, rank FROM r WHERE rank <= 15
         |ORDER BY host, rank""".stripMargin,

    "ext_weighted_sample" ->
      s"""WITH s AS (
         |  SELECT doc_id,
         |    CAST(round(
         |      ln(CAST(${TextHash.hmodSql("(doc_id :: VARCHAR || ':ws1')")} + 1
         |            AS DOUBLE) / ${TextHash.P})
         |      / n_chars * 1e9) AS BIGINT) AS key_q
         |  FROM documents WHERE n_chars > 0)
         |SELECT doc_id, key_q,
         |  CAST(row_number() OVER (ORDER BY key_q DESC, doc_id ASC) AS BIGINT)
         |    AS rank
         |FROM s ORDER BY key_q DESC, doc_id ASC LIMIT 100""".stripMargin,

    "ext_weighted_sample_grouped" ->
      s"""WITH s AS (
         |  SELECT lang, doc_id,
         |    CAST(round(
         |      ln(CAST(${TextHash.hmodSql("(doc_id :: VARCHAR || ':ws2')")} + 1
         |            AS DOUBLE) / ${TextHash.P})
         |      / n_chars * 1e9) AS BIGINT) AS key_q
         |  FROM documents WHERE n_chars > 0),
         |r AS (
         |  SELECT lang, doc_id, key_q,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY key_q DESC, doc_id ASC) AS BIGINT) AS rank
         |  FROM s)
         |SELECT lang, doc_id, key_q, rank FROM r WHERE rank <= 20
         |ORDER BY lang, rank""".stripMargin,

    "ext_quota_cap" ->
      s"""WITH h AS (
         |  SELECT lang, doc_id,
         |    ${TextHash.hmodSql("(doc_id :: VARCHAR || ':mix1')")} AS qh
         |  FROM documents),
         |r AS (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang ORDER BY qh ASC, doc_id ASC) AS rank
         |  FROM h)
         |SELECT lang, doc_id, rank FROM r WHERE rank <= 50
         |ORDER BY lang, rank""".stripMargin,

    "ext_quantize_embed" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, e -> abs(CAST(e AS DOUBLE)))) AS mx
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id, mx / 127.0 AS scale,
        |    CASE WHEN mx = 0
        |      THEN list_transform(embedding, e -> 0 :: INTEGER)
        |      ELSE list_transform(embedding,
        |        e -> CAST(round(CAST(e AS DOUBLE) * 127.0 / mx) AS INTEGER)) END AS q
        |  FROM m)
        |SELECT vec_id, scale,
        |  generate_subscripts(q, 1) - 1 AS i, unnest(q) AS q_i
        |FROM qz ORDER BY vec_id, i""".stripMargin,

    "ext_temperature_mix" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
         |r AS (SELECT lang,
         |  GREATEST(1, CAST(floor(100 * sqrt(CAST(n AS DOUBLE) /
         |    CAST((SELECT MAX(n) FROM c) AS DOUBLE))) AS INTEGER)) AS rate_pct
         |  FROM c)
         |SELECT d.lang, r.rate_pct, COUNT(*) AS n_kept
         |FROM documents d JOIN r ON d.lang = r.lang
         |WHERE ${Sampling.pctHashSql("d.doc_id", "temp1")} < r.rate_pct
         |GROUP BY d.lang, r.rate_pct ORDER BY d.lang""".stripMargin,

    "ext_loss_reweight" ->
      s"""WITH $LmScoreCtes,
         |loss AS (SELECT d.source, -SUM(sc.lpq) AS nlp, COUNT(*) AS n_tok
         |         FROM sc JOIN documents d USING (doc_id) GROUP BY d.source),
         |w AS (SELECT source, nlp // n_tok AS parts FROM loss),
         |tp AS (SELECT SUM(parts) AS tp FROM w),
         |av AS (SELECT source, SUM(len(${tokensSql("text")})) AS avail
         |       FROM documents GROUP BY source),
         |p AS (SELECT av.source AS source, avail, w.parts AS parts,
         |        (CAST(500000 AS BIGINT) * parts) // tp AS target
         |      FROM av JOIN w USING (source) CROSS JOIN tp)
         |SELECT source, CAST(avail AS BIGINT) AS avail_tokens,
         |  CAST(parts AS BIGINT) AS parts,
         |  CAST(target AS BIGINT) AS target_tokens,
         |  CAST(target // avail AS BIGINT) AS epochs,
         |  CAST(((target % avail) * 1000000) // avail AS BIGINT) AS frac_ppm
         |FROM p ORDER BY source""".stripMargin,

    "ext_lm_perplexity" ->
      s"""WITH $LmScoreCtes
         |SELECT doc_id, COUNT(*) AS n_scored,
         |  -(CAST(SUM(lpq) AS DOUBLE) / 1e9 / CAST(COUNT(*) AS DOUBLE)) AS logppl
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ext_lm_buckets" ->
      s"""WITH $LmScoreCtes,
         |scores AS (
         |  SELECT doc_id, COUNT(*) AS n_scored,
         |    -(CAST(SUM(lpq) AS DOUBLE) / 1e9 / CAST(COUNT(*) AS DOUBLE)) AS logppl
         |  FROM sc GROUP BY doc_id),
         |cuts AS (SELECT quantile_cont(logppl, ${1.0 / 3}) AS lo,
         |                quantile_cont(logppl, ${2.0 / 3}) AS hi FROM scores)
         |SELECT doc_id, n_scored, logppl,
         |  CASE WHEN logppl <= lo THEN 'head'
         |       WHEN logppl <= hi THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM scores CROSS JOIN cuts ORDER BY doc_id""".stripMargin,

    "ext_lm_per_lang" -> {
      val toks = tokensSql("text")
      val bgList = "[toks[i+1] || ' ' || toks[i+2] FOR i IN range(0, len(toks)-1)]"
      s"""WITH reftk AS (SELECT lang, $toks AS toks FROM documents WHERE doc_id % 5 = 0),
         |uni AS (SELECT lang, w, COUNT(*) AS c
         |        FROM (SELECT lang, unnest(toks) AS w FROM reftk) GROUP BY lang, w),
         |tot AS (SELECT lang, SUM(c) AS ct, COUNT(*) AS vs FROM uni GROUP BY lang),
         |unilp AS (
         |  SELECT uni.lang AS lang, w, CAST(round(ln(0.4 * (CAST(c AS DOUBLE) + 0.1) /
         |    (CAST(ct AS DOUBLE) + 0.1 * CAST(vs AS DOUBLE))) * 1e9) AS BIGINT) AS lpq
         |  FROM uni JOIN tot ON tot.lang = uni.lang),
         |unk AS (
         |  SELECT lang, CAST(round(ln(0.4 * (CAST(0.0 AS DOUBLE) + 0.1) /
         |    (CAST(ct AS DOUBLE) + 0.1 * CAST(vs AS DOUBLE))) * 1e9) AS BIGINT) AS lpq_unk
         |  FROM tot),
         |refbg AS (SELECT lang, unnest($bgList) AS bg FROM reftk),
         |big AS (SELECT lang, bg, COUNT(*) AS c12 FROM refbg GROUP BY lang, bg),
         |biglp AS (
         |  SELECT big.lang AS lang, big.bg AS bg,
         |    CAST(round(ln(CAST(c12 AS DOUBLE) / CAST(u.c AS DOUBLE)) * 1e9) AS BIGINT) AS lpq
         |  FROM big JOIN uni u ON u.lang = big.lang AND u.w = string_split(big.bg, ' ')[1]),
         |ctk AS (SELECT doc_id, lang, $toks AS toks FROM documents),
         |cp AS (SELECT doc_id, lang, unnest($bgList) AS bg FROM ctk),
         |sc AS (
         |  SELECT cp.doc_id, cp.lang, COALESCE(b.lpq, u.lpq, unk.lpq_unk) AS lpq
         |  FROM cp
         |  LEFT JOIN biglp b ON b.lang = cp.lang AND b.bg = cp.bg
         |  LEFT JOIN unilp u ON u.lang = cp.lang AND u.w = string_split(cp.bg, ' ')[2]
         |  JOIN unk ON unk.lang = cp.lang)
         |SELECT doc_id, lang, COUNT(*) AS n_scored,
         |  -(CAST(SUM(lpq) AS DOUBLE) / 1e9 / CAST(COUNT(*) AS DOUBLE)) AS logppl
         |FROM sc GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin
    },

    "ext_lm_kn_modified" ->
      s"""WITH $MknScoreCtes
         |SELECT doc_id, COUNT(*) AS n_scored,
         |  -(CAST(SUM(lpq) AS DOUBLE) / 1e9 / CAST(COUNT(*) AS DOUBLE)) AS logppl
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ext_lm_kneser_ney" ->
      s"""WITH $KnScoreCtes
         |SELECT doc_id, COUNT(*) AS n_scored,
         |  -(CAST(SUM(lpq) AS DOUBLE) / 1e9 / CAST(COUNT(*) AS DOUBLE)) AS logppl
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ext_dsir_select" -> {
      val b = 1000
      val alpha = 0.01
      // target ⊆ raw here, so the Spark full-outer count join degenerates
      // to rc LEFT JOIN tc and no bucket is unseen on the raw side
      s"""WITH rawf AS (
         |  SELECT doc_id, unnest(${graft.ext.Dsir.featureBucketsSql("text", b)}) AS b
         |  FROM documents),
         |tc AS (SELECT b, COUNT(*) AS ct FROM rawf WHERE doc_id % 7 = 0 GROUP BY b),
         |rc AS (SELECT b, COUNT(*) AS cr FROM rawf GROUP BY b),
         |tot AS (SELECT (SELECT SUM(ct) FROM tc) AS tt, (SELECT SUM(cr) FROM rc) AS rt),
         |lr AS (
         |  SELECT rc.b, CAST(round((
         |      ln((CAST(COALESCE(tc.ct, 0) AS DOUBLE) + $alpha) /
         |         (CAST(tt AS DOUBLE) + ${alpha * b})) -
         |      ln((CAST(rc.cr AS DOUBLE) + $alpha) /
         |         (CAST(rt AS DOUBLE) + ${alpha * b}))) * 1e9) AS BIGINT) AS lrq
         |  FROM rc LEFT JOIN tc ON tc.b = rc.b CROSS JOIN tot),
         |w AS (
         |  SELECT doc_id, COUNT(*) AS n_feat, CAST(SUM(lrq) AS BIGINT) AS logw_q
         |  FROM rawf JOIN lr USING (b) GROUP BY doc_id),
         |keyed AS (
         |  SELECT doc_id, n_feat, CAST(logw_q AS DOUBLE) / 1e9 AS logw,
         |    logw_q + ${graft.ext.Dsir.gumbelQSql("doc_id", "dsir")} AS key_q
         |  FROM w)
         |SELECT * FROM (
         |  SELECT doc_id, n_feat, logw, key_q FROM keyed
         |  ORDER BY key_q DESC, doc_id LIMIT 100)
         |ORDER BY doc_id""".stripMargin
    },

    "ext_diversity_sample" ->
      s"""WITH $NormCte,
         |cells AS (SELECT vec_id AS cell_id, embedding AS cell_vec, nrm AS cell_norm
         |          FROM n ORDER BY vec_id LIMIT 16),
         |a AS (SELECT v_id, cell_id FROM (
         |  SELECT n.vec_id AS v_id, cells.cell_id,
         |    row_number() OVER (PARTITION BY n.vec_id
         |      ORDER BY ${dotSql("n.embedding", "cells.cell_vec")} / (n.nrm * cells.cell_norm) DESC,
         |               cells.cell_id ASC) AS r
         |  FROM n CROSS JOIN cells) WHERE r = 1),
         |h AS (SELECT cell_id, v_id,
         |  ${TextHash.hmodSql("(v_id :: VARCHAR || ':div1')")} AS qh FROM a),
         |r AS (SELECT cell_id, v_id AS vec_id,
         |  row_number() OVER (PARTITION BY cell_id ORDER BY qh ASC, v_id ASC) AS rank
         |  FROM h)
         |SELECT cell_id, vec_id, rank FROM r WHERE rank <= 10
         |ORDER BY cell_id, rank""".stripMargin
  )
}
