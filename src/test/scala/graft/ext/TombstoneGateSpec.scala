package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The size-gated deletion-vector anti-join across the persistent index
  * families, whose deletes are deletion vectors on their own tables: a
  * bulk-erasure vector past the session's autoBroadcastJoinThreshold
  * must plan a NON-broadcast anti-join (no forced hint — the build side
  * of a forced broadcast is the executor-OOM at 100M takedown keys) at
  * row-identical results, while a routine dimension-sized takedown keeps
  * the broadcast guarantee. DvDeleteSpec pins the same gate on plain
  * tables. */
class TombstoneGateSpec extends SparkSpec {

  private def tmpStore() = new graft.table.TableStore(spark,
    java.nio.file.Files.createTempDirectory("graft_tsgate").toString)

  private def leftAntiJoins(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }

  private def assertNoForcedBroadcast(df: DataFrame, what: String): Unit = {
    val joins = leftAntiJoins(df)
    assert(joins.nonEmpty, s"$what: deletion-vector anti-join missing from plan")
    assert(joins.forall(j => j.hint.rightHint.forall(_.strategy.isEmpty)),
      s"$what: bulk tombstones past the threshold must NOT force a " +
        s"broadcast: ${joins.map(_.hint)}")
  }

  private def assertBroadcastHinted(df: DataFrame, what: String): Unit = {
    val joins = leftAntiJoins(df)
    assert(joins.exists(_.hint.rightHint.exists(_.strategy.isDefined)),
      s"$what: a routine-sized tombstone list must broadcast " +
        s"(no probe-side shuffle): ${joins.map(_.hint)}")
  }

  private def withThreshold[A](bytes: String)(body: => A): A = {
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try { spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bytes); body }
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
  }

  // --- near-dup LSH index ---------------------------------------------

  private def ndCorpus(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val words = (0 until 14).map(j => s"w${(i * 13 + j * 5) % 97}")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("near-dup probe: bulk tombstones shuffle, routine broadcast, same rows") {
    val c = ndCorpus(120)
    val batch = c.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000L).as("doc_id"),
        concat(col("text"), lit(" edited")).as("text"))
    val store = tmpStore()
    NearDupIndex.buildNearDupIndex(store, "nd", c, "text", "doc_id",
      numBuckets = 2)
    // bulk erasure: half the corpus
    NearDupIndex.deleteFromNearDupIndex(store, "nd",
      spark.range(0, 60).selectExpr("id AS doc_id"), tag = "t1")
    def probe() = NearDupIndex.nearDupAgainstIndex(store, "nd", batch,
      "text", "doc_id", threshold = 0.5, materialize = false)
    val bulkRows = withThreshold("1024") {
      val p = probe()
      assertNoForcedBroadcast(p, "nearDupAgainstIndex")
      p.orderBy("batch_id", "corpus_id").collect().toSeq
    }
    val routineRows = {
      val p = probe()
      assertBroadcastHinted(p, "nearDupAgainstIndex")
      p.orderBy("batch_id", "corpus_id").collect().toSeq
    }
    assert(bulkRows == routineRows, "gate must not change probe results")
    // tombstoned sources (doc_id < 60) must not match
    assert(routineRows.forall(_.getLong(1) >= 60))
    assert(routineRows.nonEmpty)
  }

  test("near-dup compaction under bulk tombstones equals a fresh rebuild") {
    val c = ndCorpus(120)
    val survivors = c.where(col("doc_id") >= 60)
    val store = tmpStore()
    NearDupIndex.buildNearDupIndex(store, "nd", c, "text", "doc_id",
      numBuckets = 2)
    NearDupIndex.deleteFromNearDupIndex(store, "nd",
      spark.range(0, 60).selectExpr("id AS doc_id"), tag = "t1")
    withThreshold("1024") {
      NearDupIndex.compactNearDupIndex(store, "nd")
    }
    val fresh = tmpStore()
    NearDupIndex.buildNearDupIndex(fresh, "nd", survivors, "text", "doc_id",
      numBuckets = 2)
    def bandRows(s: graft.table.TableStore) =
      s.scan("nd_bands").orderBy("band", "key", "doc_id")
        .collect().toSeq
    assert(bandRows(store) == bandRows(fresh),
      "compaction through the non-broadcast path must equal a rebuild")
    assert(Seq("nd_bands", "nd_docs").forall(t =>
      !store.manifestEntries(t).exists(_.startsWith("dv-"))))
  }

  // --- positional index -----------------------------------------------

  test("phrase query: bulk tombstones shuffle, routine broadcast, same rows") {
    import spark.implicits._
    val docs = (0L until 80L).map { i =>
      (i, s"alpha beta gamma delta doc$i alpha beta end")
    }.toDF("doc_id", "text")
    val store = tmpStore()
    Retrieval.buildPositionalIndex(store, "pos", docs, "text", "doc_id",
      numBuckets = 2)
    Retrieval.deleteFromPositionalIndex(store, "pos",
      spark.range(0, 40).selectExpr("id AS doc_id"), tag = "t1")
    def q() = Retrieval.phraseOccurrences(store, "pos", "alpha beta")
    val bulk = withThreshold("1024") {
      val p = q()
      assertNoForcedBroadcast(p, "phraseOccurrences")
      p.orderBy("doc_id", "start_pos").collect().toSeq
    }
    val routine = {
      val p = q()
      assertBroadcastHinted(p, "phraseOccurrences")
      p.orderBy("doc_id", "start_pos").collect().toSeq
    }
    assert(bulk == routine)
    assert(routine.nonEmpty && routine.forall(_.getLong(0) >= 40))
  }

  // --- IVF vector index -----------------------------------------------

  test("IVF probe: bulk tombstones shuffle, routine broadcast, same rows") {
    import spark.implicits._
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(4)(d => math.sin(i * 7 + d).toFloat))
    }.toDF("vec_id", "vec")
    val store = tmpStore()
    VectorIndex.buildIvfIndex(store, "ivf", vecs, "vec", "vec_id",
      nCells = 4, numBuckets = 2)
    VectorIndex.deleteFromIvfIndex(store, "ivf",
      spark.range(0, 30).selectExpr("id AS vec_id"), tag = "t1")
    val queries = vecs.where(col("vec_id") % 20 === 0)
    def q() = VectorIndex.ivfTopKIndexed(store, "ivf", queries,
      "vec", "vec_id", k = 3, nProbe = 4)
    val bulk = withThreshold("1024") {
      val p = q()
      assertNoForcedBroadcast(p, "ivfTopKIndexed")
      p.orderBy("q_id", "rank").collect().toSeq
    }
    val routine = {
      val p = q()
      assertBroadcastHinted(p, "ivfTopKIndexed")
      p.orderBy("q_id", "rank").collect().toSeq
    }
    assert(bulk == routine)
    assert(routine.nonEmpty && routine.forall(_.getLong(1) >= 30),
      "tombstoned vectors must not be retrievable")
  }
}
