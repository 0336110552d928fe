package graft.plans

import graft.SparkSpec
import graft.ext.{TextHash, TextStats}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Native simhash / rolling-fingerprint kernels must match their
  * declarative HOF specs bit-for-bit, including unicode and empty-string
  * edges. */
class TextNativeSpec extends SparkSpec {

  private def textDf(texts: String*) = spark.createDataFrame(
    java.util.List.of(texts.map(Row(_)): _*),
    StructType(Seq(StructField("text", StringType))))

  private val edgeTexts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a", "", " ", "a  b", // empty tokens from double space
    "héllo wörld ünïcode", // multibyte
    "tabs\tand punct!?")

  test("simhash: native == declarative on real documents + edge cases") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").unionByName(textDf(edgeTexts: _*))
    val mism = docs.select(
      call_function("graft_simhash", col("text")).as("nat"),
      TextHash.simhash(split(col("text"), " ")).as("dec"))
      .where(not(col("nat") <=> col("dec")))
    assert(mism.count() == 0)
  }

  test("gopher counts: native kernel == declarative HOF struct everywhere") {
    // extra adversarials for this kernel: symbols, ellipses, supplementary
    // plane chars (length() counts code points, not UTF-16 units),
    // stopwords at edges, digit-only tokens
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").unionByName(textDf(edgeTexts ++ Seq(
        "the #tag and w... to in of",
        "😀 emoji 😀😀 token",
        "123 456 #",
        "... ... ...",
        "the the the the") : _*))
    val mism = docs.select(
      call_function("graft_gopher_counts", col("text")).as("nat"),
      TextNativeSpec.gopherCounters(col("text")).as("dec"))
      .where(not(col("nat") <=> col("dec")))
    assert(mism.count() == 0, mism.collect().take(3).mkString("; "))
  }

  test("rolling fingerprint: native == declarative on real documents + edge cases") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").unionByName(textDf(edgeTexts: _*))
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val mism = docs.select(
      call_function("graft_fp_rolling", norm).as("nat"),
      TextStats.rollingDeclarative(norm).as("dec"))
      .where(not(col("nat") <=> col("dec")))
    assert(mism.count() == 0)
  }

  test("graft_nfc: composes decomposed accents; identity on NFC input; null-safe") {
    // source kept pure ASCII: \u escapes resolve at compile time.
    // decomposed e+U+0301 vs precomposed U+00E9 must converge; ASCII and
    // already-composed strings pass through; null stays null
    val decomposed = "Cafe\u0301"
    val composed = "Caf\u00e9"
    val rows = spark.sql(
      s"SELECT graft_nfc('$decomposed') = graft_nfc('$composed') AS eq, " +
        s"graft_nfc('$decomposed') = '$composed' AS id_composed, " +
        "graft_nfc('plain ascii') = 'plain ascii' AS id_ascii, " +
        s"length(graft_nfc('$decomposed')) AS n, " +
        "graft_nfc(CAST(NULL AS STRING)) IS NULL AS null_ok").collect().head
    assert(rows.getBoolean(0) && rows.getBoolean(1) && rows.getBoolean(2))
    assert(rows.getInt(3) == 4) // e-acute composed to ONE code point
    assert(rows.getBoolean(4))
    // whole chain: NFC + lower + whitespace collapse + trim
    val norm = TextStats.normalizeText(
      textDf("  NAI\u0308VE   " + decomposed + "  "), "text")
      .collect().head.getString(1)
    assert(norm == "na\u00efve caf\u00e9")
  }

  test("chargrams: native == declarative on real documents + unicode edges") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text")
      .unionByName(textDf(edgeTexts: _*))
      .unionByName(textDf("AB", "ABC", "ÄÖÜ mixed CASE", "日本語テキスト"))
    for ((n, b) <- Seq((3, 2000), (2, 17), (5, 100))) {
      val mism = docs.select(
        call_function("graft_chargrams", col("text"), lit(n), lit(b)).as("nat"),
        graft.ext.LangId.charGramBucketsDeclarative(n)(col("text"), b).as("dec"))
        .where(not(col("nat") <=> col("dec")))
      assert(mism.count() == 0, s"n=$n buckets=$b")
    }
  }

  test("operators route through the native kernels") {
    val simPlan = graft.SparkEntry.queries("ext_dedup_simhash")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(simPlan.contains("graft_simhash"))
    val fpPlan = graft.SparkEntry.queries("ext_fingerprint")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(fpPlan.contains("graft_fp_rolling"))
  }
}

object TextNativeSpec {

  /** The declarative spec of `graft_gopher_counts`: the five counters as
    * a struct of HOF expressions over one token array. NULL text gives
    * NULL, as in the kernel. Under the NULL guard no counter is null; the
    * coalesces declare the kernel's non-null fields and never fire. */
  def gopherCounters(text: Column): Column = {
    import TextStats.Stopwords
    val toks = TextStats.wsTokens(text)
    def nOf(p: Column => Column) = coalesce(size(filter(toks, p)), lit(0))
    when(text.isNotNull, struct(
      coalesce(size(toks), lit(0)).as("n_words"),
      coalesce(aggregate(toks, lit(0L), (acc, t) => acc + length(t)), lit(0L))
        .as("char_sum"),
      nOf(t => t.contains("#") || t.contains("...")).as("n_symbol"),
      nOf(t => t.rlike("[a-zA-Z]")).as("n_alpha"),
      nOf(t => t.isin(Stopwords.map(lit(_)): _*)).as("n_stops")))
  }
}
