package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The window-top-k → bounded-aggregate optimizer rule: fires on the safe
  * pattern, preserves results exactly, declines on every unsafe variant. */
class TopKWindowRewriteSpec extends SparkSpec {

  // materialized to parquet so the view is a LEAF scan: an IS NOT NULL
  // filter then survives as a constraint on the scan attribute itself (on a
  // computed view, pushdown rewrites the filter in terms of base exprs and
  // the score attr loses its guarantee — the rule correctly declines there)
  private lazy val basePath: String = {
    val dir = java.nio.file.Files.createTempDirectory("topk_rw").toString
    spark.range(0, 10000, 1, 8)
      .select((col("id") % 20).as("q"), col("id").as("i"),
        (col("id") % 13).cast("double").as("s"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def base: DataFrame = spark.read.parquet(basePath)

  // `id % 13` types as nullable (x % 0 → null), so the rewrite's null-safety
  // guard requires the IS NOT NULL guarantee — the same shape real scoring
  // queries have
  private val windowSql =
    """SELECT q, i, s, rnk FROM (
      |  SELECT q, i, s,
      |    row_number() OVER (PARTITION BY q ORDER BY s DESC, i ASC) AS rnk
      |  FROM topk_rw_in WHERE s IS NOT NULL AND i IS NOT NULL) WHERE rnk <= 5""".stripMargin

  test("rewrites the window pattern into the bounded aggregate") {
    base.createOrReplaceTempView("topk_rw_in")
    val df = spark.sql(windowSql)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("graft_topk"), s"rule must fire:\n$physical")
    assert(!physical.contains("RunningWindowFunction") &&
      !physical.toLowerCase.contains("window exec") && !physical.contains("Window ("),
      s"window must be gone:\n$physical")
    assert(physical.contains("partial_graft_topk"), "partial aggregation expected")
  }

  test("rewritten results equal the un-rewritten window results exactly") {
    base.createOrReplaceTempView("topk_rw_in")
    val rewritten = spark.sql(windowSql)
      .orderBy("q", "rnk").collect().map(_.toSeq).toSeq
    // ground truth: same window query carrying a payload column, which
    // provably declines the rewrite (asserted), so it executes as a real
    // window — compare on the shared columns
    base.withColumn("payload", col("i") * 2).createOrReplaceTempView("topk_rw_gt")
    val groundTruth = spark.sql(
      """SELECT q, i, s, payload, rnk FROM (
        |  SELECT q, i, s, payload,
        |    row_number() OVER (PARTITION BY q ORDER BY s DESC, i ASC) AS rnk
        |  FROM topk_rw_gt WHERE s IS NOT NULL AND i IS NOT NULL) WHERE rnk <= 5""".stripMargin)
    assert(!groundTruth.queryExecution.executedPlan.toString.contains("graft_topk"),
      "ground-truth variant must run as a window")
    val expected = groundTruth.select("q", "i", "s", "rnk")
      .orderBy("q", "rnk").collect().map(_.toSeq).toSeq
    assert(rewritten == expected)
    assert(rewritten.size == 100) // 20 groups × 5
  }

  test("declines: extra payload column, nullable score, wrong order, deep k") {
    base.withColumn("payload", col("i") * 2).createOrReplaceTempView("topk_rw_extra")
    val extra = spark.sql(
      """SELECT q, i, s, payload, rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q ORDER BY s DESC, i ASC) AS rnk
        |  FROM topk_rw_extra WHERE s IS NOT NULL AND i IS NOT NULL) WHERE rnk <= 5""".stripMargin)
    assert(!extra.queryExecution.executedPlan.toString.contains("graft_topk"),
      "payload column must disable the rewrite")

    // nullable score without an IS NOT NULL guarantee (parquet-backed so
    // the guarded variant's filter lands on the scan attribute itself)
    val nullDir = java.nio.file.Files.createTempDirectory("topk_rw_null").toString
    base.select(col("q"), col("i"),
      when(col("i") % 7 === 0, lit(null)).otherwise(col("s")).as("s"))
      .write.mode("overwrite").parquet(nullDir)
    spark.read.parquet(nullDir).createOrReplaceTempView("topk_rw_null")
    val nullable = spark.sql(
      """SELECT q, i, s, rnk FROM (
        |  SELECT q, i, s, row_number() OVER (PARTITION BY q ORDER BY s DESC, i ASC) AS rnk
        |  FROM topk_rw_null) WHERE rnk <= 5""".stripMargin)
    assert(!nullable.queryExecution.executedPlan.toString.contains("graft_topk"),
      "nullable score without guarantee must disable the rewrite")

    // ... but an explicit IS NOT NULL filter re-enables it via constraints
    val guarded = spark.sql(
      """SELECT q, i, s, rnk FROM (
        |  SELECT q, i, s, row_number() OVER (PARTITION BY q ORDER BY s DESC, i ASC) AS rnk
        |  FROM topk_rw_null WHERE s IS NOT NULL AND i IS NOT NULL) WHERE rnk <= 5""".stripMargin)
    assert(guarded.queryExecution.executedPlan.toString.contains("graft_topk"),
      "IS NOT NULL guard must re-enable the rewrite")

    // ascending score = different semantics → no rewrite
    base.createOrReplaceTempView("topk_rw_in")
    val asc = spark.sql(
      """SELECT q, i, s, rnk FROM (
        |  SELECT q, i, s, row_number() OVER (PARTITION BY q ORDER BY s ASC, i ASC) AS rnk
        |  FROM topk_rw_in WHERE s IS NOT NULL AND i IS NOT NULL) WHERE rnk <= 5""".stripMargin)
    assert(!asc.queryExecution.executedPlan.toString.contains("graft_topk"))
  }

  test("rank arithmetic survives: rnk < 6 behaves as rnk <= 5") {
    base.createOrReplaceTempView("topk_rw_in")
    val lt = spark.sql(
      """SELECT q, i, s, rnk FROM (
        |  SELECT q, i, s, row_number() OVER (PARTITION BY q ORDER BY s DESC, i ASC) AS rnk
        |  FROM topk_rw_in WHERE s IS NOT NULL AND i IS NOT NULL) WHERE rnk < 6""".stripMargin)
    assert(lt.queryExecution.executedPlan.toString.contains("graft_topk"))
    assert(lt.count() == 100)
    assert(lt.agg(max("rnk")).head().getInt(0) == 5)
  }
}
