package graft.ext

import graft.SparkSpec
import graft.table.TableStore
import org.apache.spark.sql.functions._

class GramIndexSpec extends SparkSpec {

  private def store(tag: String) = new TableStore(spark,
    java.nio.file.Files.createTempDirectory(s"graft_gi_$tag").toString)

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val reference = docs(
    1L -> (1 to 12).map(i => s"n$i").mkString(" "),
    2L -> (5 to 20).map(i => s"n$i").mkString(" "),
    3L -> "r1 r2 r3") // < n tokens → whole-text fallback gram
  private val candidates = docs(
    10L -> (1 to 12).map(i => s"n$i").mkString(" "), // verbatim
    11L -> ((1 to 9).map(i => s"n$i").mkString(" ") + " z1 z2 z3"), // partial
    12L -> "w1 w2 w3 w4 w5 w6 w7 w8", // fully novel
    13L -> "r1 r2 r3") // matches the whole-text fallback gram

  private def probe(st: TableStore) =
    GramIndex.noveltyAgainstIndex(st, "g", candidates, "text", "doc_id", 8)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap

  test("indexed probe equals the scan path exactly") {
    val st = store("eq")
    GramIndex.buildGramIndex(st, "g", reference, "text", 8, numBuckets = 2)
    val scan = Dedup.ngramNovelty(reference, candidates, "text", "doc_id", 8)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(probe(st) == scan)
    assert(scan(13L)._4 == 0L, "fallback gram is indexed like any other")
    assert(scan(12L)._4 == 1000000L)
  }

  test("append==rebuild; duplicate grams are probe-invisible; compact reclaims") {
    val whole = store("whole")
    GramIndex.buildGramIndex(whole, "g", reference, "text", 8, numBuckets = 2)
    val grown = store("grown")
    // doc 1 and doc 2 overlap on grams n5..n12 — the append re-inserts them
    GramIndex.buildGramIndex(grown, "g",
      reference.where(col("doc_id") === 1L), "text", 8, numBuckets = 2)
    GramIndex.appendGramIndex(grown, "g",
      reference.where(col("doc_id") =!= 1L), "text", 8, numBuckets = 2)
    assert(probe(grown) == probe(whole), "grown index must probe identically")
    val distinct = grown.scan("g_grams").distinct().count()
    // docs 1 and 2 share the gram n5..n12, so the append already landed
    // one duplicate row (appends never read the index); pile on more
    GramIndex.appendGramIndex(grown, "g", reference, "text", 8, numBuckets = 2)
    val dup = grown.scan("g_grams").count()
    assert(dup > distinct, "overlapping appends land duplicate rows")
    assert(probe(grown) == probe(whole), "duplicates never change membership")
    GramIndex.compactGramIndex(grown, "g", numBuckets = 2)
    assert(grown.scan("g_grams").count() == distinct,
      "compaction collapses duplicates")
    assert(probe(grown) == probe(whole))
  }
}
