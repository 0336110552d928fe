package graft.plans

import graft.SparkSpec
import graft.ext.Similarity
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.Random

/** graft_srp kernel == the declarative HOF formulation, bit for bit —
  * including the negative-half rounding the kernel implements by hand
  * (Math.round's toward-+inf halves would diverge). */
class SrpNativeSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  test("kernel == HOF on random vectors incl. exact negative halves") {
    val rnd = new Random(17)
    val rows: Seq[Row] = (0 until 200).map { i =>
      Row(i.toLong, (0 until 64).map(_ => (rnd.nextFloat() - 0.5f) * 4f))
    } ++ Seq(
      // exact .5 quanta on both signs: 2.5e-8 * 1e7 = 0.25? use values
      // whose double*1e7 lands exactly on n.5: 1.5e-7f -> 1.5
      Row(900L, Seq.fill(64)(1.5e-7f)),
      Row(901L, Seq.fill(64)(-1.5e-7f)),
      Row(902L, Seq.fill(64)(0.0f)))
    val df = spark.createDataFrame(java.util.List.of(rows: _*), schema)
    val out = df.select(col("id"),
      call_function("graft_srp", col("embedding")).as("k"),
      Similarity.srpDeclarative(col("embedding")).as("h")).collect()
    out.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"id ${r.getLong(0)}: kernel ${r.getLong(1).toBinaryString} != " +
        s"hof ${r.getLong(2).toBinaryString}"))
    // and the public API routes full-width calls to the kernel
    val p = df.select(Similarity.srpSignature(col("embedding")))
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_srp"), s"srpSignature must use the kernel:\n$p")
  }
}
