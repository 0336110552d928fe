package graft.plans

import graft.SparkSpec
import graft.ext.{Blocklist, Dedup, Dsir, LangId, Similarity, TextHash, TextStats, Winnow}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every native kernel against its declarative spec, one row per pair.
  * Both sides must declare the same `StructField` (type, element and
  * field nullability, top-level `nullable`), and give `<=>`-equal values
  * on NULL, empty, one-token and corpus input: a stored column's schema
  * and values must not depend on which side computed it. */
class KernelIdentitySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** `text` (nullable): corpus documents plus NULL, empty and one-token
    * rows. */
  private lazy val texts: DataFrame = {
    val edge = spark.createDataFrame(
      java.util.List.of(Seq[String](null, "", "one").map(Row(_)): _*),
      StructType(Seq(StructField("text", StringType))))
    spark.read.parquet(s"$sf/documents.parquet").select("text").unionByName(edge)
  }

  private lazy val embeddings: DataFrame =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .where(col("vec_id") < 200).select(col("vec_id"), col("embedding").as("vec"))

  /** `vec` (nullable): full-width corpus embeddings plus a NULL row. */
  private lazy val vectors: DataFrame = {
    val schema = StructType(Seq(StructField("vec", ArrayType(FloatType))))
    embeddings.select("vec").unionByName(
      spark.createDataFrame(java.util.List.of(Row(null)), schema))
  }

  /** [[vectors]] plus empty and one-element vectors, for the kernels
    * whose contract covers any length. */
  private lazy val anyVectors: DataFrame = {
    val schema = StructType(Seq(StructField("vec", ArrayType(FloatType))))
    vectors.unionByName(spark.createDataFrame(
      java.util.List.of(Row(Seq.empty[Float]), Row(Seq(0.5f))), schema))
  }

  /** A literal codebook of corpus vectors: struct<_1: id, _2: vec, _3: norm>. */
  private lazy val cellsLit: Column = typedLit(
    embeddings.orderBy("vec_id").limit(8).collect().toSeq.map { r =>
      val v = r.getSeq[Float](1)
      (r.getLong(0), v, math.sqrt(
        v.map(x => math.round(x.toDouble * x.toDouble * Similarity.DotScale)).sum.toDouble /
          Similarity.DotScale))
    })

  private val t = col("text")
  private val v = col("vec")
  private val patterns = Seq("the", "and", "of the", "one")

  /** kernel name → (input, kernel column, spec column), built in the test */
  private val pairs: Seq[(String, () => (DataFrame, Column, Column))] = Seq(
    "graft_word_grams" -> (() => (texts,
      call_function("graft_word_grams", t, lit(3)),
      TextHash.shinglesDeclarative(t, 3))),
    "graft_jaccard" -> (() => (texts,
      call_function("graft_jaccard",
        TextHash.shinglesDeclarative(t), TextHash.shinglesDeclarative(lower(t))),
      Dedup.jaccardDeclarative(
        TextHash.shinglesDeclarative(t), TextHash.shinglesDeclarative(lower(t))))),
    "graft_dot_scaled" -> (() => (anyVectors,
      call_function("graft_dot_scaled", v, reverse(v)),
      Similarity.dotScaledDeclarative(v, reverse(v)))),
    "graft_minhash_sig" -> (() => (texts,
      call_function("graft_minhash_sig", t),
      TextHash.minhashSignature(TextHash.shinglesDeclarative(t, 3)))),
    "graft_simhash" -> (() => (texts,
      call_function("graft_simhash", t),
      TextHash.simhash(split(t, " ")))),
    "graft_fp_rolling" -> (() => (texts,
      call_function("graft_fp_rolling", t),
      TextStats.rollingDeclarative(t))),
    "graft_chargrams" -> (() => (texts,
      call_function("graft_chargrams", t, lit(3), lit(2000)),
      LangId.charGramBucketsDeclarative(3)(t, 2000))),
    "graft_feature_buckets" -> (() => (texts,
      call_function("graft_feature_buckets", t, lit(1000)),
      Dsir.featureBucketsHof(t, 1000))),
    "graft_winnow" -> (() => (texts,
      call_function("graft_winnow", t, lit(8), lit(8)),
      Winnow.picksDeclarative(t, 8, 8))),
    "graft_ac_counts" -> (() => (texts,
      call_function("graft_ac_counts", t, lit(patterns.toArray), lit(true)),
      Blocklist.matchCountsDeclarative("text", patterns, boundary = true))),
    "graft_argmax_cell" -> (() => (vectors,
      call_function("graft_argmax_cell", v, cellsLit),
      Similarity.nearestCellFoldForSpec(v, cellsLit))),
    "graft_gopher_counts" -> (() => (texts,
      call_function("graft_gopher_counts", t),
      TextNativeSpec.gopherCounters(t))),
    "graft_srp" -> (() => (vectors,
      call_function("graft_srp", v),
      Similarity.srpDeclarative(v))))

  pairs.foreach { case (name, build) =>
    test(s"$name: kernel == spec in declared StructField and in value") {
      val (input, kernel, spec) = build()
      val Array(k, s) = input.select(kernel.as("out"), spec.as("out")).schema.fields
      assert(k == s, s"$name declares $k, its spec $s")
      val mism = input.select(kernel.as("k"), spec.as("s"))
        .where(not(col("k") <=> col("s")))
      assert(mism.count() == 0, s"$name: " + mism.limit(3).collect().mkString("; "))
    }
  }
}
