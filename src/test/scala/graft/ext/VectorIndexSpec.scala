package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persistent IVF index: lossless vs the scan path, append == rebuild,
  * and the probe bucket-prunes instead of scanning the whole vectors
  * table. */
class VectorIndexSpec extends SparkSpec {

  private val dim = 8

  /** Deterministic corpus of n vectors (values derived from the id). */
  private def corpus(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val v = Array.tabulate(dim)(j =>
        (math.sin(i * 31 + j * 7) * 10).toFloat)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  private def tmpStore() = new graft.table.TableStore(spark,
    java.nio.file.Files.createTempDirectory("graft_vecidx").toString)

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.orderBy("q_id", "rank").collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue, r.getDouble(3)))

  test("indexed search is byte-identical to the scan path") {
    val c = corpus(120)
    val q = c.where(col("vec_id") < 4)
    val store = tmpStore()
    VectorIndex.buildIvfIndex(store, "e", c, "embedding", "vec_id",
      nCells = 8, numBuckets = 4)
    val indexed = VectorIndex.ivfTopKIndexed(store, "e", q,
      "embedding", "vec_id", k = 6, nProbe = 3)
    val scan = Similarity.ivfTopK(c, q, "embedding", "vec_id",
      k = 6, nCells = 8, nProbe = 3)
    assert(rows(indexed) == rows(scan),
      "index must be lossless: same candidates, same ranks, same scores")
  }

  test("append-grown index answers identically to a from-scratch rebuild") {
    val c = corpus(120)
    val q = c.where(col("vec_id") < 4)
    val codebook = c.orderBy(col("vec_id").asc).limit(8)
      .select(col("vec_id").as("cell_id"), col("embedding").as("cell_vec"))

    val grown = tmpStore()
    VectorIndex.buildIvfIndex(grown, "e",
      c.where(col("vec_id") % 3 === 0), "embedding", "vec_id",
      nCells = 8, numBuckets = 4, codebook = Some(codebook))
    VectorIndex.appendIvfIndex(grown, "e",
      c.where(col("vec_id") % 3 === 1), "embedding", "vec_id", numBuckets = 4)
    VectorIndex.appendIvfIndex(grown, "e",
      c.where(col("vec_id") % 3 === 2), "embedding", "vec_id", numBuckets = 4)

    val full = tmpStore()
    VectorIndex.buildIvfIndex(full, "e", c, "embedding", "vec_id",
      nCells = 8, numBuckets = 4, codebook = Some(codebook))

    val a = VectorIndex.ivfTopKIndexed(grown, "e", q,
      "embedding", "vec_id", k = 6, nProbe = 3)
    val b = VectorIndex.ivfTopKIndexed(full, "e", q,
      "embedding", "vec_id", k = 6, nProbe = 3)
    assert(rows(a) == rows(b))
    // and an append never rewrites what was already there: file count grows
    assert(grown.scan("e_vecs").inputFiles.length >
      full.scan("e_vecs").inputFiles.length)
  }

  test("tombstoned vectors drop from probes; equals a rebuild without them") {
    val c = corpus(120)
    val q = c.where(col("vec_id") < 4)
    val store = tmpStore()
    VectorIndex.buildIvfIndex(store, "e", c, "embedding", "vec_id",
      nCells = 8, numBuckets = 4)
    import spark.implicits._
    val dead = Seq(10L, 20L, 30L)
    VectorIndex.deleteFromIvfIndex(store, "e", dead.toDF("vec_id"), tag = "t1")
    val after = VectorIndex.ivfTopKIndexed(store, "e", q,
      "embedding", "vec_id", k = 6, nProbe = 3)
    val rebuilt = tmpStore()
    VectorIndex.buildIvfIndex(rebuilt, "e",
      c.where(!col("vec_id").isin(dead: _*)), "embedding", "vec_id",
      nCells = 8, numBuckets = 4)
    val want = VectorIndex.ivfTopKIndexed(rebuilt, "e", q,
      "embedding", "vec_id", k = 6, nProbe = 3)
    assert(rows(after) == rows(want))
    assert(rows(after).forall(r => !dead.contains(r._2)))
  }

  test("compaction drops tombstoned vectors physically and clears the list") {
    val c = corpus(120)
    val q = c.where(col("vec_id") < 4)
    val store = tmpStore()
    VectorIndex.buildIvfIndex(store, "e", c, "embedding", "vec_id",
      nCells = 8, numBuckets = 4)
    import spark.implicits._
    VectorIndex.deleteFromIvfIndex(store, "e", Seq(10L, 20L).toDF("vec_id"),
      tag = "t1")
    val before = rows(VectorIndex.ivfTopKIndexed(store, "e", q,
      "embedding", "vec_id", k = 6, nProbe = 3))
    VectorIndex.compactIvfIndex(store, "e")
    assert(!store.manifestEntries("e_vecs").exists(_.startsWith("dv-")),
      "compaction must fold the deletion vector into the files")
    assert(store.scan("e_vecs")
      .where(col("vec_id").isin(10L, 20L)).count() == 0)
    assert(rows(VectorIndex.ivfTopKIndexed(store, "e", q,
      "embedding", "vec_id", k = 6, nProbe = 3)) == before)
  }

  test("a vector re-added after its delete is served at once") {
    val c = corpus(120)
    val q = c.where(col("vec_id") < 4)
    val store = tmpStore()
    VectorIndex.buildIvfIndex(store, "e", c, "embedding", "vec_id",
      nCells = 8, numBuckets = 4)
    def probe() = rows(VectorIndex.ivfTopKIndexed(store, "e", q,
      "embedding", "vec_id", k = 6, nProbe = 3))
    val full = probe()
    // a returned neighbour, deleted and then re-added unchanged
    val id = full.head._2
    import spark.implicits._
    VectorIndex.deleteFromIvfIndex(store, "e", Seq(id).toDF("vec_id"),
      tag = "t1")
    assert(probe().forall(_._2 != id))
    VectorIndex.appendIvfIndex(store, "e", c.where(col("vec_id") === id),
      "embedding", "vec_id", numBuckets = 4)
    assert(probe() == full, "the re-added vector must be served at once")
  }

  test("probe bucket-prunes the vectors table on the probed cell ids") {
    val c = corpus(200)
    val store = tmpStore()
    VectorIndex.buildIvfIndex(store, "e", c, "embedding", "vec_id",
      nCells = 16, numBuckets = 8)
    // a delete must not cost the probe its bucket pruning
    import spark.implicits._
    VectorIndex.deleteFromIvfIndex(store, "e", Seq(199L).toDF("vec_id"),
      tag = "t1")
    val out = VectorIndex.ivfTopKIndexed(store, "e",
      c.where(col("vec_id") === 0), "embedding", "vec_id", k = 3, nProbe = 1)
    val p = out.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("SelectedBucketsCount"),
      s"vectors scan must bucket-prune on the probed-cell filter:\n$p")
    assert(out.count() == 3)
  }

  test("semanticContamination: planted copy flagged at cos 1; clean corpus silent") {
    val evalSet = corpus(20)
    // training corpus: 50 fresh vectors (ids 1000+) plus a verbatim copy
    // of eval vector 7 under id 5000
    val fresh = corpus(70).where(col("vec_id") >= 20)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    val leak = evalSet.where(col("vec_id") === 7)
      .select(lit(5000L).as("vec_id"), col("embedding"))
    val flagged = Similarity.semanticContamination(
      fresh.unionByName(leak), evalSet, "embedding", "vec_id",
      minCosQ = 9999999L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(flagged.exists(f => f._1 == 5000L && f._2 == 7L && f._3 == 10000000L),
      s"the verbatim leak must surface with its eval id: ${flagged.toSeq}")
    assert(flagged.forall(_._1 == 5000L),
      s"sin-derived fresh vectors sit far from the eval set: ${flagged.toSeq}")
  }
}
