package graft.plans

import graft.SparkSpec
import graft.ext.TextHash
import org.apache.spark.sql.functions._

class MinHashNativeSpec extends SparkSpec {

  test("native expression is byte-identical to the declarative pipeline") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val both = docs.select(
      col("doc_id"),
      TextHash.minhashSignature(TextHash.shinglesDeclarative(col("text"), 3)).as("hof"),
      call_function("graft_minhash_sig", col("text")).as("native"))
    assert(both.where(not(col("hof") === col("native"))).count() == 0)
    assert(both.count() == 500)
  }

  test("native expression handles short and empty-ish texts like the HOF path") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val df = spark.createDataFrame(
      java.util.List.of(Row("one"), Row("two words"), Row("a b c"), Row(" ")),
      StructType(Seq(StructField("text", StringType))))
    val both = df.select(
      TextHash.minhashSignature(TextHash.shinglesDeclarative(col("text"), 3)).as("hof"),
      call_function("graft_minhash_sig", col("text")).as("native"))
    assert(both.where(not(col("hof") === col("native"))).count() == 0)
  }

  test("expression participates in whole-stage codegen") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = docs.select(call_function("graft_minhash_sig", col("text")))
      .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(plan.contains("Found 1 WholeStageCodegen"), plan.take(500))
    assert(plan.contains("graft_minhash_sig"), plan.take(500))
  }

  test("non-string input is rejected at analysis") {
    val e = intercept[Exception] {
      spark.range(3).select(call_function("graft_minhash_sig", col("id"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("string") ||
      e.getMessage.contains("DATATYPE_MISMATCH"))
  }
}
