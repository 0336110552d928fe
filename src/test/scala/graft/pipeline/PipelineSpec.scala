package graft.pipeline

import graft.SparkSpec
import graft.ingest.SourceFormat
import graft.schema.{FieldConstraints, FrictionlessField, FrictionlessSchema}
import graft.table.TableStore
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

class PipelineSpec extends SparkSpec {

  private val schema = FrictionlessSchema(List(
    FrictionlessField("id", "integer", constraints = FieldConstraints(unique = true)),
    FrictionlessField("amount", "number")))

  test("load failure with validation OFF surfaces as structured PipelineException") {
    val work = Files.createTempDirectory("graft_pipespec")
    Files.writeString(work.resolve("bad.csv"), "id,amount\nnot-an-int,1.0\n")
    val store = new TableStore(spark, work.resolve("t").toString)
    val statuses = scala.collection.mutable.ArrayBuffer.empty[String]
    val pipe = new Pipeline(spark, store, (state, msg) => statuses += s"$state:$msg")
    val e = intercept[PipelineException] {
      pipe.run(PipelineConfig(work.resolve("bad.csv").toString, "t",
        IngestionMethod.Overwrite, format = Some(SourceFormat.Csv),
        schema = Some(schema), validate = false))
    }
    assert(e.payload.contains("\"stage\":\"load\""))
    assert(statuses.exists(_.startsWith("failed:")))
  }

  test("status callback sees the full lifecycle on success") {
    val work = Files.createTempDirectory("graft_pipespec2")
    Files.writeString(work.resolve("ok.csv"), "id,amount\n1,2.5\n")
    val store = new TableStore(spark, work.resolve("t").toString)
    val statuses = scala.collection.mutable.ArrayBuffer.empty[String]
    val pipe = new Pipeline(spark, store, (state, msg) => statuses += state)
    pipe.run(PipelineConfig(work.resolve("ok.csv").toString, "t",
      IngestionMethod.Overwrite, format = Some(SourceFormat.Csv),
      schema = Some(schema)), Timestamp.valueOf("2026-02-02 00:00:00"))
    assert(statuses.head == "pending" && statuses.last == "success")
  }

  test("failing batch check aborts before any write; passing checks land") {
    import graft.ops.Checks
    val work = Files.createTempDirectory("graft_pipechecks")
    // duplicate id 2 — per-row validation is OFF, only the batch
    // uniqueness constraint can catch it
    Files.writeString(work.resolve("in.csv"),
      "id,amount\n1,2.5\n2,3.0\n2,4.0\n")
    val store = new TableStore(spark, work.resolve("t").toString)
    val statuses = scala.collection.mutable.ArrayBuffer.empty[String]
    val pipe = new Pipeline(spark, store, (state, msg) => statuses += s"$state:$msg")
    def cfg(checks: Seq[Checks.Check]) = PipelineConfig(
      work.resolve("in.csv").toString, "t", IngestionMethod.Overwrite,
      format = Some(SourceFormat.Csv), schema = Some(schema),
      batchChecks = checks)
    val e = intercept[PipelineException] {
      pipe.run(cfg(Seq(Checks.Unique(Seq("id")), Checks.RowCount(1L, 100L))))
    }
    assert(e.payload.contains("batch checks failed")
      && e.payload.contains("\"check_type\": \"unique\""), e.payload)
    assert(!store.exists("t"), "nothing may land after a failed acceptance")
    assert(statuses.exists(_.startsWith("failed:batch checks")), statuses)

    pipe.run(cfg(Seq(Checks.RowCount(1L, 100L), Checks.Complete("amount"))))
    assert(store.scan("t").count() == 3L, "passing checks load normally")
  }

  test("append of a one-file CSV with a declared schema runs one Spark job: the write") {
    val work = Files.createTempDirectory("graft_pipejobs")
    Files.writeString(work.resolve("a.csv"),
      "id,amount\n" + (1 to 3000).map(i => s"$i,$i.5").mkString("\n") + "\n")
    val store = new TableStore(spark, work.resolve("t").toString)
    val pipe = new Pipeline(spark, store)
    val cfg = PipelineConfig(work.resolve("a.csv").toString, "t",
      IngestionMethod.Append, format = Some(SourceFormat.Csv),
      schema = Some(schema), validate = false, compactAfterSnapshots = 16)
    pipe.run(cfg)
    val (_, jobs) = org.apache.spark.graft.JobRecorder.record(spark.sparkContext) {
      pipe.run(cfg)
    }
    assert(jobs.size == 1, jobs.flatMap(_.stageInfos.map(_.name)))
    val ids = store.scan("t").select("_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (1L to 6000L), "the second append continues at MAX(_id)+1")
  }

  test("upsert of a one-file CSV runs six Spark jobs: stage cut, three broadcasts, write") {
    val work = Files.createTempDirectory("graft_pipeupjobs")
    def csv(name: String, ids: Range, amount: String) = {
      Files.writeString(work.resolve(name),
        "id,amount\n" + ids.map(i => s"$i,$amount").mkString("\n") + "\n")
      work.resolve(name).toString
    }
    val store = new TableStore(spark, work.resolve("t").toString)
    val pipe = new Pipeline(spark, store)
    def cfg(path: String, method: IngestionMethod) = PipelineConfig(path, "t", method,
      format = Some(SourceFormat.Csv), schema = Some(schema), validate = false)
    pipe.run(cfg(csv("base.csv", 1 to 3000, "1.0"), IngestionMethod.Overwrite))
    val stage = csv("stage.csv", 2001 to 5000, "2.0")
    val (_, jobs) = org.apache.spark.graft.JobRecorder.record(spark.sparkContext) {
      pipe.run(cfg(stage, IngestionMethod.Upsert))
    }
    // the stage's dedup shuffle-map and checkpoint jobs (Merge.plan's
    // Lineage.cut); the broadcasts of the stage, of its keys and of the
    // matched keys; the table write
    val tags = jobs.map(j => Option(j.properties.getProperty("spark.job.tags")).getOrElse(""))
    assert(jobs.size == 6, tags)
    assert(tags.count(_.contains("broadcast exchange")) == 3, tags)
    assert(store.scan("t").where(col("amount") === 2.0).count() == 3000L)
  }

  test("append pipeline compacts the snapshot chain past the configured threshold") {
    val work = Files.createTempDirectory("graft_pipecompact")
    Files.writeString(work.resolve("a.csv"), "id,amount\n1,1.0\n")
    // gcGraceMs=0: the assertion counts ON-DISK snap dirs, so retired
    // snapshots must GC immediately (single-process test)
    val store = new TableStore(spark, work.resolve("t").toString, gcGraceMs = 0L)
    val pipe = new Pipeline(spark, store)
    val cfg = PipelineConfig(work.resolve("a.csv").toString, "t",
      IngestionMethod.Append, format = Some(SourceFormat.Csv),
      schema = Some(schema), compactAfterSnapshots = 3)
    (1 to 6).foreach(_ => pipe.run(cfg, Timestamp.valueOf("2026-02-02 00:00:00")))
    import scala.jdk.CollectionConverters._
    val snapCount = Files.list(work.resolve("t").resolve("t"))
      .iterator().asScala.count(_.getFileName.toString.startsWith("snap-"))
    assert(snapCount <= 4, s"chain must be compacted, saw $snapCount snapshots")
    assert(store.scan("t").count() == 6)
    // row numbers must keep ascending across compactions
    assert(store.scan("t").agg(max(col("_id"))).first().getLong(0) == 6L)
  }

  test("clustered overwrite: files are key-disjoint (row-group pruning layout)") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_clu").toString)
    store.overwriteClustered("t",
      spark.range(0, 100000, 1, 8).toDF("k").withColumn("v", col("k") * 2),
      Seq("k"), numFiles = Some(4))
    val withFile = store.scan("t")
      .select(col("k"), input_file_name().as("f"))
      .groupBy("f").agg(min("k").as("mn"), max("k").as("mx"))
      .orderBy("mn").collect()
    assert(withFile.length == 4)
    // ranges must not overlap: each file's min exceeds the previous max
    withFile.sliding(2).foreach {
      case Array(a, b) => assert(b.getLong(1) > a.getLong(2))
      case _ =>
    }
    assert(store.scan("t").count() == 100000)
  }
}
