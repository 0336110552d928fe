package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Incremental Bloom sidecar refresh: content-equivalent to a full
  * re-analyze while scanning ONLY the files appended since the last
  * refresh — the O(new files) cadence an append-heavy 100 TB table needs. */
class SidecarRefreshSpec extends SparkSpec {

  private def newStoreAt: (TableStore, String) = {
    val dir = Files.createTempDirectory("graft_sidecar").toString
    (new TableStore(spark, dir), dir)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
      .toIndexedSeq.sorted

  test("bloom analyzed-column set survives an all-files-dead refresh") {
    val (store, _) = newStoreAt
    store.overwrite("t", spark.range(0, 500)
      .selectExpr("CAST(id AS STRING) AS h", "id AS v"))
    store.analyzeBloomFilters("t", Seq("h"), bits = 4096, hashes = 3)
    // every recorded file dies with nothing fresh to index: a takedown
    // empties the table before the next append lands
    store.overwrite("t", spark.range(0, 1).where(lit(false))
      .selectExpr("CAST(id AS STRING) AS h", "id AS v"))
    store.refreshBloomFilters("t") // maintenance cadence, no columns
    // the sidecar has zero DATA rows but still records the analyzed set
    assert(store.scan(store.bloomTable("t"))
      .where(col("file") =!= "__analyzed__").isEmpty)
    assert(store.scan(store.bloomTable("t"))
      .select("column").distinct().collect().map(_.getString(0)).toSeq
      == Seq("h"))
    // …so the NEXT maintenance refresh regains pruning instead of
    // no-opping forever (the old failure: empty sidecar → no recorded
    // columns → refresh(name) never indexes anything again)
    store.append("t", spark.range(9000, 9500)
      .selectExpr("CAST(id AS STRING) AS h", "id AS v"))
    store.refreshBloomFilters("t")
    val got = store.scanBloomPruned("t", "h", "9123").collect()
    assert(got.length == 1 && got.head.getLong(1) == 9123L)
    assert(store.scan(store.bloomTable("t"))
      .where(col("file") =!= "__analyzed__").count() > 0,
      "fresh files must be re-indexed after the empty window")
    // params survived the emptiness too (probe hashes like the build)
    val params = store.scan(store.bloomTable("t"))
      .select("bits", "hashes").distinct().collect()
    assert(params.length == 1 && params.head.getInt(0) == 4096)
  }

  test("bloom refresh records an appended file under the scan's own file path") {
    val (store, _) = newStoreAt
    def path(f: String) = new java.net.URI(f).getPath
    def sidecarFiles = store.scan(store.bloomTable("t"))
      .where(col("file") =!= "__analyzed__").select("file").distinct()
      .collect().map(r => path(r.getString(0))).toSet
    def liveFiles = store.scan("t").inputFiles.map(path).toSet
    store.overwrite("t", spark.range(0, 300)
      .selectExpr("CAST(id AS STRING) AS h", "id AS v"))
    store.analyzeBloomFilters("t", Seq("h"), bits = 4096, hashes = 3)
    assert(sidecarFiles == liveFiles)
    val before = liveFiles
    store.append("t", spark.range(9000, 9300)
      .selectExpr("CAST(id AS STRING) AS h", "id AS v"))
    assert((liveFiles -- before).nonEmpty)
    store.refreshBloomFilters("t", Seq("h"))
    assert(sidecarFiles == liveFiles,
      "the appended files must be read as fresh and kept as live")
  }

  test("bloom refresh == full analyze, params inherited, pruning exact") {
    val (store, _) = newStoreAt
    store.overwrite("t", spark.range(0, 500)
      .selectExpr("CAST(id AS STRING) AS h", "id AS v"))
    store.analyzeBloomFilters("t", Seq("h"), bits = 4096, hashes = 3)
    store.append("t", spark.range(9000, 9500)
      .selectExpr("CAST(id AS STRING) AS h", "id AS v"))
    store.refreshBloomFilters("t", Seq("h"))
    val incremental = rows(store.scan(store.bloomTable("t"))
      .select(col("file"), col("column"),
        array_sort(col("positions")).as("positions"), col("bits"), col("hashes")))
    store.analyzeBloomFilters("t", Seq("h"), bits = 4096, hashes = 3)
    val full = rows(store.scan(store.bloomTable("t"))
      .select(col("file"), col("column"),
        array_sort(col("positions")).as("positions"), col("bits"), col("hashes")))
    assert(incremental == full,
      "incremental Bloom refresh must equal the full analyze")
    val got = store.scanBloomPruned("t", "h", "9123").collect()
    assert(got.length == 1 && got.head.getLong(1) == 9123L)
  }
}
