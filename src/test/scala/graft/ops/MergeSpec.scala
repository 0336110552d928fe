package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.sql.Timestamp

class MergeSpec extends SparkSpec {

  private val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
  private val t1 = Timestamp.valueOf("2026-02-02 00:00:00")

  private val schema = StructType(Seq(
    StructField("_id", LongType), StructField("k", LongType),
    StructField("v", StringType), StructField("_updated_at", TimestampType)))
  private val stageSchema = StructType(Seq(
    StructField("_id", LongType), StructField("k", LongType),
    StructField("v", StringType)))

  private def targetDf = spark.createDataFrame(
    java.util.List.of(
      Row(1L, 10L, "a", t0),
      Row(2L, 20L, "b", t0),
      Row(3L, 30L, "c", t0)),
    schema)

  private def stageDf = spark.createDataFrame(
    java.util.List.of(
      Row(101L, 20L, "b", null),        // matched, unchanged (v identical)
      Row(102L, 30L, "CHANGED", null),  // matched, changed
      Row(103L, 40L, "new", null),      // insert
      Row(104L, 40L, "new-dup", null)), // duplicate key in stage → deduped
    StructType(stageSchema.fields :+ StructField("_updated_at", TimestampType)))
    .select("_id", "k", "v")

  private def spec(strategy: Merge.MergeStrategy) = Merge.MergeSpec(
    uniqueKeys = Seq("k"), strategy = strategy)

  for (strategy <- Seq(Merge.MergeStrategy.BroadcastStage, Merge.MergeStrategy.FullOuter)) {
    test(s"merge semantics ($strategy): changed/unchanged/insert/preserve") {
      val out = Merge.merge(targetDf, stageDf, t1, spec(strategy))
        .orderBy("k").collect()

      assert(out.length == 4)
      // k=10: target-only, untouched
      assert(out(0) == Row(1L, 10L, "a", t0))
      // k=20: matched-unchanged → entire target row kept (old ts!)
      assert(out(1) == Row(2L, 20L, "b", t0))
      // k=30: matched-changed → stage value, NEW ts, PRESERVED target _id
      assert(out(2) == Row(3L, 30L, "CHANGED", t1))
      // k=40: insert → stage _id 103 (lowest _id wins dedup), new ts
      assert(out(3) == Row(103L, 40L, "new", t1))
    }

    test(s"merge is idempotent ($strategy): re-merging same stage changes nothing") {
      val once = Merge.merge(targetDf, stageDf, t1, spec(strategy))
      val twice = Merge.merge(once, stageDf,
        Timestamp.valueOf("2026-03-03 00:00:00"), spec(strategy))
      assert(twice.orderBy("k").collect().toSeq == once.orderBy("k").collect().toSeq)
    }
  }

  test("missing key column in stage is a hard error") {
    val e = intercept[IllegalArgumentException] {
      Merge.merge(targetDf, stageDf.drop("k"), t1, spec(Merge.MergeStrategy.FullOuter))
    }
    assert(e.getMessage.contains("not found in stage"))
  }

  test("no updatable columns is a hard error") {
    intercept[IllegalArgumentException] {
      Merge.merge(targetDf, stageDf.select("_id", "k"), t1,
        spec(Merge.MergeStrategy.FullOuter))
    }
  }

  test("dedupStage keeps the lowest-order row per key") {
    val out = Merge.dedupStage(stageDf, Seq("k"), Some("_id"))
      .orderBy("k").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(101L, 102L, 103L))
  }

  test("stage with extra column not in target: extra col ignored for update") {
    val stagePlus = stageDf.withColumn("extra",
      org.apache.spark.sql.functions.lit("x"))
    val out = Merge.merge(targetDf, stagePlus, t1,
      spec(Merge.MergeStrategy.FullOuter)).orderBy("k").collect()
    assert(out.length == 4)
    assert(out(2) == Row(3L, 30L, "CHANGED", t1)) // still merges on shared cols
  }

  test("broadcast-path upsert computes the stage once and releases it") {
    import org.apache.spark.sql.functions._
    val evals = spark.sparkContext.longAccumulator("stage rows computed")
    val tick = udf((v: String) => { evals.add(1L); v }).asNondeterministic()
    val counted = stageDf.withColumn("v", tick(col("v")))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val out = Merge.mergeInto(targetDf, counted, t1, spec(Merge.MergeStrategy.BroadcastStage))(
      _.orderBy("k").collect().toSeq)
    assert(evals.sum == 4L, s"4 stage rows, ${evals.sum} evaluations")
    assert(out == Merge.merge(targetDf, stageDf, t1, spec(Merge.MergeStrategy.FullOuter))
      .orderBy("k").collect().toSeq)
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore,
      "the materialized stage must be released after the write")
  }

  test("Auto reads byte-string broadcast thresholds like the planner does") {
    import org.apache.spark.sql.functions._
    // a filter keeps the range's row-count estimate: a big estimate, 4 real rows
    def stage(estimatedRows: Long) = spark.range(0, estimatedRows, 1, 4).where(col("id") < 4)
      .select((col("id") + 100).as("_id"), (col("id") * 10).as("k"), lit("z").as("v"))
    def estimate(df: org.apache.spark.sql.DataFrame) =
      Merge.dedupStage(df, Seq("k"), Some("_id")).queryExecution.optimizedPlan.stats.sizeInBytes
    def fullOuter(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.joinType
      }.contains(org.apache.spark.sql.catalyst.plans.FullOuter)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    val tenMb = BigInt(10L << 20)
    try {
      val small = stage(100000L)
      assert(estimate(small) > BigInt(10L << 10) && estimate(small) < tenMb)
      spark.conf.set(key, "10k") // below the estimate: shuffle both sides
      assert(fullOuter(Merge.merge(targetDf, small, t1, spec(Merge.MergeStrategy.Auto))))
      val large = stage(3000000L)
      assert(estimate(large) > tenMb && estimate(large) < BigInt(1L << 30))
      spark.conf.set(key, "1GB") // above the estimate: broadcast the stage
      val merged = Merge.merge(targetDf, large, t1, spec(Merge.MergeStrategy.Auto))
      assert(!fullOuter(merged))
      assert(merged.count() == 4L) // k = 10, 20, 30 matched; k = 0 inserted
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
