package graft.export

import graft.SparkSpec
import graft.ingest.SourceFormat
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

class ExportSpec extends SparkSpec {

  private def listFiles(dir: Path, suffix: String): Seq[Path] =
    Files.list(dir).iterator().asScala.filter(_.toString.endsWith(suffix)).toSeq

  test("ordered single-file csv with header (O1+W4)") {
    val d = Files.createTempDirectory("graft_export")
    val df = spark.range(0, 100, 1, 5).toDF("v")
      .withColumn("_id", lit(100) - col("v")).select("_id", "v")
    Export.export(df, d.resolve("out").toString,
      Export.ExportOptions(SourceFormat.Csv, singleFile = true))
    val files = listFiles(d.resolve("out"), ".csv")
    assert(files.size == 1)
    val lines = Files.readAllLines(files.head).asScala
    assert(lines.head == "_id,v")
    val ids = lines.tail.map(_.split(",")(0).toLong)
    assert(ids.toSeq == ids.sorted.toSeq) // ordered by _id
  }

  test("single-file ordered export: the range-sorted file's bytes, no sampling job") {
    import org.apache.spark.graft.JobRecorder
    val d = Files.createTempDirectory("graft_export_one")
    val df = spark.range(0, 5000, 1, 6).toDF("v")
      .withColumn("_id", (col("v") * 7919) % 5003).select("_id", "v")
    // the range sort coalesced to one partition: the shape this path replaces
    val (_, rangeJobs) = JobRecorder.record(spark.sparkContext) {
      df.orderBy(col("_id").asc).coalesce(1).write
        .option("header", true).csv(d.resolve("ref").toString)
    }
    assert(JobRecorder.sampledForRangeSort(rangeJobs), "the probe must see a range sort's sampling")
    val (_, jobs) = JobRecorder.record(spark.sparkContext) {
      Export.export(df, d.resolve("out").toString,
        Export.ExportOptions(SourceFormat.Csv, singleFile = true))
    }
    assert(!JobRecorder.sampledForRangeSort(jobs))
    assert(jobs.size < rangeJobs.size, s"${jobs.size} jobs vs ${rangeJobs.size}")
    val Seq(ref) = listFiles(d.resolve("ref"), ".csv")
    val Seq(out) = listFiles(d.resolve("out"), ".csv")
    assert(java.util.Arrays.equals(Files.readAllBytes(out), Files.readAllBytes(ref)))
  }

  test("multi-shard export keeps global order across part files (O2)") {
    val d = Files.createTempDirectory("graft_export2")
    val df = spark.range(0, 10000, 1, 8).toDF("_id")
    Export.export(df, d.resolve("out").toString,
      Export.ExportOptions(SourceFormat.Csv, header = false))
    val parts = listFiles(d.resolve("out"), ".csv").sortBy(_.getFileName.toString)
    val all = parts.flatMap(p => Files.readAllLines(p).asScala.map(_.toLong))
    assert(all.toSeq == all.sorted.toSeq) // concat in name order is sorted
    assert(all.size == 10000)
  }

  test("tsv export uses tab separator with header") {
    val d = Files.createTempDirectory("graft_export_tsv")
    Export.export(spark.range(2).toDF("_id").withColumn("v", lit("x")),
      d.resolve("out").toString,
      Export.ExportOptions(graft.ingest.SourceFormat.Tsv, singleFile = true))
    val f = listFiles(d.resolve("out"), ".csv")
    val lines = Files.readAllLines(f.head).asScala
    assert(lines.head == "_id\tv" && lines(1) == "0\tx")
  }

  test("gzip-compressed export roundtrips through the reader") {
    val d = Files.createTempDirectory("graft_export_gz")
    Export.export(spark.range(100).toDF("_id"), d.resolve("out").toString,
      Export.ExportOptions(graft.ingest.SourceFormat.Csv,
        singleFile = true, compression = Some("gzip")))
    val f = listFiles(d.resolve("out"), ".csv.gz")
    assert(f.size == 1)
    val back = spark.read.option("header", true).csv(d.resolve("out").toString)
    assert(back.count() == 100)
  }

  test("ndjson export") {
    val d = Files.createTempDirectory("graft_export3")
    Export.export(spark.range(3).toDF("_id"), d.resolve("out").toString,
      Export.ExportOptions(SourceFormat.Ndjson, singleFile = true))
    val f = listFiles(d.resolve("out"), ".json")
    assert(Files.readAllLines(f.head).asScala.head == """{"_id":0}""")
  }

  test("manifest export: every shard listed with verifying size and md5") {
    val d = Files.createTempDirectory("graft_export_mf")
    val out = d.resolve("out")
    val entries = Export.exportWithManifest(
      spark.range(0, 5000, 1, 6).toDF("_id"), out.toString,
      Export.ExportOptions(SourceFormat.Csv, header = false))
    val parts = listFiles(out, ".csv")
    assert(entries.map(_._1).toSet == parts.map(_.getFileName.toString).toSet,
      "manifest must list exactly the data shards")
    // sizes and checksums verify against an independent read
    entries.foreach { case (name, bytes, md5) =>
      val p = out.resolve(name)
      assert(Files.size(p) == bytes)
      val md = java.security.MessageDigest.getInstance("MD5")
      val want = md.digest(Files.readAllBytes(p))
        .map("%02x".format(_)).mkString
      assert(md5 == want, s"checksum mismatch for $name")
    }
    // the manifest file itself exists, parses as the entries, and is
    // excluded from its own shard list
    val mf = new String(Files.readAllBytes(out.resolve("MANIFEST.json")))
    assert(mf.contains(s""""n_shards": ${entries.size}"""))
    entries.foreach { case (n, b, h) =>
      assert(mf.contains(s""""name": "$n", "bytes": $b, "md5": "$h""""))
    }
    assert(!entries.exists(_._1 == "MANIFEST.json"))
  }
}
