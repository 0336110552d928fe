package graft.ops

import graft.SparkSpec
import org.apache.spark.graft.JobRecorder
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import java.nio.file.Files

class RowNumbersSpec extends SparkSpec {

  /** `rows` values 0 until `rows` in `parts` partitions; the partitions
    * `empty` picks hold no rows. */
  private def sparse(rows: Int, parts: Int)(empty: Int => Boolean) = {
    val rdd = spark.sparkContext.parallelize(0L until rows.toLong, parts)
      .mapPartitionsWithIndex((i, it) => if (empty(i)) Iterator.empty else it)
    (rdd, spark.createDataFrame(rdd.map(Row(_)), StructType(Seq(StructField("v", LongType)))))
  }

  test("gap-free, starts at offset, order-preserving within partitions") {
    val df = spark.range(0, 10007, 1, numPartitions = 13).toDF("v")
    val out = RowNumbers.withRowNumbers(df, "_id", start = 5)
    val ids = out.select("_id").collect().map(_.getLong(0)).sorted
    assert(ids.head == 5 && ids.last == 5 + 10007 - 1)
    assert(ids.distinct.length == 10007) // gap-free & unique
    // column is first
    assert(out.columns.head == "_id")
  }

  test("ordered variant assigns ids in sort order") {
    val df = spark.range(0, 1000, 1, 7).toDF("v")
      .withColumn("k", col("v") * -1)
    val out = RowNumbers.withRowNumbersOrdered(df, Seq(col("k")), "_id", 1)
    val rows = out.select("_id", "k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.sortBy(_._1).map(_._2).toSeq == rows.map(_._2).sorted.toSeq)
    assert(rows.map(_._1).min == 1 && rows.map(_._1).max == 1000)
  }

  test("empty input gets the column, zero rows") {
    val df = spark.range(0).toDF("v")
    val out = RowNumbers.withRowNumbers(df.where(lit(false)), "_id")
    assert(out.columns.toSeq == Seq("_id", "v"))
    assert(out.count() == 0)
    for (parts <- Seq(1, 4)) {
      val (_, empty) = sparse(100, parts)(_ => true)
      val numbered = RowNumbers.withRowNumbers(empty, "_id")
      assert(numbered.schema("_id").dataType == LongType)
      assert(numbered.count() == 0, s"parts=$parts")
    }
  }

  test("multi-file ingest: strict file order via input_file_name sort (the documented recipe)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rn_files")
    // write files in non-alphabetical creation order to prove sorting matters
    java.nio.file.Files.writeString(dir.resolve("c_part3.csv"), "v\n31\n32\n")
    java.nio.file.Files.writeString(dir.resolve("a_part1.csv"), "v\n11\n12\n")
    java.nio.file.Files.writeString(dir.resolve("b_part2.csv"), "v\n21\n22\n")
    val df = spark.read.option("header", true).csv(dir.toString)
      .withColumn("f", input_file_name())
    val out = RowNumbers.withRowNumbersOrdered(df, Seq(col("f")), "_id", 1)
      .orderBy("_id").select("v").collect().map(_.getString(0))
    assert(out.toSeq == Seq("11", "12", "21", "22", "31", "32"))
  }

  test("property: gap-free for many partition counts") {
    for (parts <- Seq(1, 2, 5, 32)) {
      val df = spark.range(0, 999, 1, parts).toDF("v")
      val ids = RowNumbers.withRowNumbers(df, "_id", 100)
        .select("_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == (100L until 1099L), s"parts=$parts")
      // the same ids as zipWithIndex, row for row, with empty partitions:
      // every third from the first, and the last
      val (rdd, sparseDf) = sparse(999, parts)(i =>
        parts > 1 && (i % 3 == 0 || (i == parts - 1 && parts > 2)))
      val want = rdd.zipWithIndex().map { case (v, i) => (100L + i, v) }.collect().toSeq
      val got = RowNumbers.withRowNumbers(sparseDf, "_id", 100).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(want.nonEmpty && got.sortBy(_._1) == want, s"sparse, parts=$parts")
    }
  }

  test("a one-partition source is numbered without running a job") {
    val dir = Files.createTempDirectory("graft_rn_one")
    Files.writeString(dir.resolve("in.csv"), "v\n7\n8\n9\n")
    val df = spark.read.option("header", true).schema("v STRING").csv(dir.toString)
    val (out, jobs) = JobRecorder.record(spark.sparkContext) {
      RowNumbers.withRowNumbers(df, "_id", start = 40)
    }
    assert(jobs.isEmpty, s"${jobs.size} jobs before the action")
    assert(out.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((40L, "7"), (41L, "8"), (42L, "9")))
  }

  test("an N-partition CSV is counted in one job: no shuffle, no column read") {
    val dir = Files.createTempDirectory("graft_rn_csv")
    for (f <- 0 until 3)
      Files.writeString(dir.resolve(s"part-$f.csv"), "a,b,c\n" +
        (0 until 50).map(i => s"$f,$i,x$i").mkString("\n") + "\n")
    val df = spark.read.option("header", true).schema("a INT, b INT, c STRING").csv(dir.toString)
    val (out, jobs) = JobRecorder.record(spark.sparkContext) {
      RowNumbers.withRowNumbers(df, "_id")
    }
    assert(jobs.size == 1, s"${jobs.size} jobs")
    assert(jobs.head.stageInfos.size == 1, "a second stage would be a shuffle")
    val execution = jobs.head.properties.getProperty("spark.sql.execution.id").toLong
    val plan = spark.sharedState.statusStore.execution(execution).get.physicalPlanDescription
    assert(plan.contains("ReadSchema: struct<>"), plan)
    assert(out.select("_id").collect().map(_.getLong(0)).sorted.toSeq == (1L to 150L))
  }
}
