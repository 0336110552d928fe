package perfbench

import graft.ext.{Dedup, Retrieval}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Plain-Scala references for the curation operators: shingle Jaccard
  * and Okapi BM25 exactly as the program defines them (3-word shingles
  * over single-space tokens; per-term contributions rounded half-up to
  * nine decimals and summed exactly; ties broken by ascending doc id). */
object Reference {
  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < n) Set(t.mkString(" ")) else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val x = shingles(a); val y = shingles(b)
    (x intersect y).size.toDouble / (x union y).size
  }

  /** Term statistics of a corpus, for [[topK]]. */
  final class Bm25(texts: Array[String]) {
    val n: Long = texts.length.toLong
    private val dl = new Array[Long](texts.length)
    private val postings = mutable.HashMap[String, mutable.ArrayBuffer[(Int, Int)]]()
    var sumDl = 0L
    texts.indices.foreach { d =>
      val toks = texts(d).split(" ", -1).filter(_.nonEmpty)
      dl(d) = toks.length; sumDl += toks.length
      toks.groupBy(identity).foreach { case (t, occ) =>
        postings.getOrElseUpdate(t, mutable.ArrayBuffer()) += ((d, occ.length))
      }
    }

    /** Every matching document's score for `query`. */
    def scores(query: String, k1: Double = 1.2, b: Double = 0.75): Map[Long, BigDecimal] = {
      val avgdl = sumDl.toDouble / n.toDouble
      val acc = mutable.HashMap[Long, BigDecimal]()
      Retrieval.queryTerms(query).foreach { term =>
        postings.get(term).foreach { ps =>
          val df = ps.size.toDouble
          val idf = StrictMath.log(1.0 + (n.toDouble - df + 0.5) / (df + 0.5))
          ps.foreach { case (d, tf) =>
            val tfD = tf.toDouble
            val sat = tfD * (k1 + 1.0) / (tfD + k1 * (1.0 - b + b * (dl(d).toDouble / avgdl)))
            val c = BigDecimal(idf * sat).setScale(9, BigDecimal.RoundingMode.HALF_UP)
            acc(d.toLong) = acc.getOrElse(d.toLong, BigDecimal(0)) + c
          }
        }
      }
      acc.toMap
    }
  }

  /** The reference top-k, best first, ties by ascending id. */
  def topK(scores: Map[Long, BigDecimal], k: Int): Seq[(Long, BigDecimal)] =
    scores.toSeq.sortBy { case (id, s) => (-s.toDouble, id) }.take(k)

  /** A returned ranking matches the reference when every score agrees to
    * 1e-8 and each id is the reference's. An exact tie must be broken by
    * id; only a near tie (within 1e-8, from floating-point rounding) may
    * come out in either order. */
  def checkTopK(what: String, got: Seq[(Long, BigDecimal)], scores: Map[Long, BigDecimal],
      k: Int): Unit = {
    val want = topK(scores, k)
    Check.equal(s"$what: results", got.size, want.size)
    val eps = BigDecimal("1e-8")
    got.zip(want).zipWithIndex.foreach { case (((gid, gs), (wid, ws)), i) =>
      Check((gs - ws).abs <= eps, s"$what: rank ${i + 1} score $gs, want $ws")
      Check(gid == wid || scores.get(gid).exists(s => s != ws && (s - ws).abs <= eps),
        s"$what: rank ${i + 1} is doc $gid, want doc $wid")
    }
  }
}

/** `curate_serve`: a seeded Zipf corpus with planted exact and near
  * duplicates, through exact and MinHash dedup and a BM25 index build into
  * the store, then closed-loop top-10 queries against that index. The ext
  * module and the native kernels do most of the work. */
final class CurateServe(seed: Long, seconds: Int) extends Workload {
  private val docs = 350 * seconds
  private val queries = math.max(10, (seconds * 1.5).round.toInt)
  private val threshold = 0.8
  /** Near-duplicate pairs with true Jaccard at or above this must be found
    * at least `recallFloor` of the time. MinHash with 4 bands of 4 rows
    * finds a pair at Jaccard 0.85 with probability 0.95. */
  private val mustFind = 0.85
  private val recallFloor = 0.85
  private val k = 10
  private var corpus: Gen.Corpus = _
  private var corpusPath, warmPath: Path = _
  private var warmQuery: String = _
  private var qs: Vector[(Long, String)] = _
  private var bm25: Reference.Bm25 = _
  private var buildSeconds = 0.0
  private var dupRecall = 0.0
  private var verified = 0L
  private var docsTable: org.apache.spark.sql.DataFrame = _
  val tables = Seq("docs", "bm25_stats")
  /** The index's postings and terms are bucketed tables, which live in
    * their table directory outside the manifest. */
  override def storedBytes(env: Env): Long = super.storedBytes(env) +
    Seq("bm25_postings", "bm25_terms")
      .map(t => Lineitem.dirBytes(env.storeRoot.resolve(t))).sum
  def sourceBytes: Long = Files.size(corpusPath)
  def throughput: (Long, Double) = (docs.toLong, buildSeconds)
  override def writeSpans: Set[String] = Set("ext.index_build")

  def generate(dir: Path): Seq[Path] = {
    val r = new Rng(seed).fork("curate_serve")
    corpus = Gen.corpus(r.fork("corpus"), docs, 30000)
    corpusPath = dir.resolve("corpus.csv"); Gen.writeCorpus(corpusPath, corpus)
    val qr = r.fork("queries")
    qs = (1 to queries).map { q =>
      // 1–4 terms in turn, from a narrow band of vocabulary ranks, so every
      // seed asks queries of the same shape and about the same cost
      q.toLong -> (0 to (q - 1) % 4).map(_ => corpus.vocab(qr.between(100, 300))).mkString(" ")
    }.toVector
    val warm = Gen.corpus(r.fork("warm"), 600, 3000)
    warmPath = dir.resolve("warm-corpus.csv"); Gen.writeCorpus(warmPath, warm)
    warmQuery = warm.vocab(25) + " " + warm.vocab(60)
    bm25 = new Reference.Bm25(corpus.texts)
    Seq(corpusPath, warmPath)
  }

  private def read(env: Env, p: Path) =
    env.spark.read.option("header", true).schema("doc_id BIGINT, text STRING").csv(p.toString)

  def warmUp(env: Env, dir: Path): Unit = {
    val d = read(env, warmPath)
    Dedup.minhashPairs(d, "text", "doc_id", threshold).collect()
    Retrieval.buildBm25Index(env.store, "warm_bm25", d, "text", "doc_id", env.cores * 2)
    Retrieval.bm25TopKIndexed(env.store, "warm_bm25", Seq(1L -> warmQuery), k).collect()
  }

  override def prepare(env: Env): Unit =
    env.op("load.corpus", timed = false)(env.store.overwrite("docs", read(env, corpusPath))) { _ =>
      Check.equal("corpus rows", env.store.scan("docs").count(), docs.toLong)
    }

  def run(env: Env): Unit = {
    val d = env.store.scan("docs")
    docsTable = d
    env.op("dedup.exact", timed = false) {
      env.spans.span("ext.dedup")(Dedup.exact(d, "text", "doc_id").where(col("copies") > 1)
        .select("keep_id", "copies").collect())
    } { got =>
      val want = corpus.texts.indices.groupBy(i => corpus.texts(i)).values
        .filter(_.size > 1).map(g => (g.min.toLong, g.size.toLong)).toSet
      Check.equal("exact duplicate groups",
        got.map(r => (r.getLong(0), r.getLong(1))).toSet, want)
    }
    env.op("dedup.minhash", timed = false) {
      env.spans.span("ext.dedup")(Dedup.minhashPairs(d, "text", "doc_id", threshold).collect())
    } { got =>
      verified = got.length.toLong
      val found = got.map(r => (r.getLong(0), r.getLong(1))).toSet
      val planted = corpus.nearPairs.filter { case (a, b) =>
        Reference.jaccard(corpus.texts(a.toInt), corpus.texts(b.toInt)) >= mustFind
      }
      Check(planted.nonEmpty, "no planted near-duplicates")
      dupRecall = planted.count { case (a, b) => found((math.min(a, b), math.max(a, b))) }
        .toDouble / planted.size
      Check(dupRecall >= recallFloor, f"near-duplicate recall $dupRecall%.3f < $recallFloor")
      got.take(50).foreach { r =>
        val want = Reference.jaccard(corpus.texts(r.getLong(0).toInt), corpus.texts(r.getLong(1).toInt))
        Check(math.abs(r.getDouble(2) - want) < 1e-9 && want >= threshold,
          s"pair (${r.getLong(0)}, ${r.getLong(1)}): jaccard ${r.getDouble(2)}, want $want")
      }
    }
    env.op("index.build", timed = false) {
      env.spans.span("ext.index_build")(
        Retrieval.buildBm25Index(env.store, "bm25", d, "text", "doc_id", env.cores * 2))
    } { _ =>
      val s = env.store.scan("bm25_stats").agg(sum("n_docs"), sum("sum_dl")).head()
      Check.equal("indexed docs and tokens", (s.getLong(0), s.getLong(1)), (bm25.n, bm25.sumDl))
    }
    buildSeconds = env.ledger.kinds.filter(k => k._1.startsWith("dedup.") || k._1 == "index.build")
      .flatMap(_._2).sum
    qs.foreach { case (qid, text) =>
      env.op("query") {
        env.spans.span("ext.query")(Retrieval.bm25TopKIndexed(env.store, "bm25", Seq(qid -> text), k)
          .select("rank", "doc_id", "score").collect())
      } { got =>
        Reference.checkTopK(s"query $qid '$text'",
          got.sortBy(_.getLong(0)).map(r => (r.getLong(1), BigDecimal(r.getDecimal(2)))).toSeq,
          bm25.scores(text), k)
      }
    }
  }

  override def layerMetrics(env: Env, trace: Trace): Map[String, Double] = {
    val candidates = Dedup.minhashCandidates(docsTable, "text", "doc_id").count().toDouble
    Map("ext.candidate_pairs" -> candidates,
      "ext.verify_yield" -> (if (candidates > 0) verified / candidates else 0.0),
      "ext.dup_recall" -> dupRecall)
  }
}
