package graft.streaming

import graft.SparkSpec
import graft.ingest.SourceFormat
import graft.pipeline.{IngestionMethod, Pipeline, PipelineConfig}
import graft.schema.{FieldConstraints, FrictionlessField, FrictionlessSchema, TypeMapping}
import graft.table.TableStore
import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, TimeUnit}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** How a stream's first batch creates its table: two streams creating the
  * same table both land, and a keyed first batch is upserted (deduped on
  * its keys) exactly like the batch pipeline's upsert of the same file. */
class StreamingCreateSpec extends SparkSpec {
  import spark.implicits._

  private val docSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType)))

  test("two streams creating the same table both land their first batch") {
    val work = Files.createTempDirectory("graft_screate")
    val root = work.resolve("store").toString
    val refHist = graft.ext.Drift.tokenHistogram(
      Seq((0L, "the data table holds common corpus tokens")).toDF("doc_id", "text"),
      "text", 256)
    // both streams reach their first write having seen the table absent:
    // onDrift runs after the batch is scored and before it is written
    val bothScored = new CyclicBarrier(2)
    def stream(name: String, ids: Seq[Long]): Future[Unit] = {
      val src = work.resolve(s"src_$name"); Files.createDirectories(src)
      Files.writeString(src.resolve("f1.json"), ids.map(id =>
        s"""{"doc_id":$id,"text":"the data table holds common tokens"}""")
        .mkString("", "\n", "\n"))
      Future(StreamingIngest.driftMonitorIngestAvailableNow(
        spark, src.toString, docSchema, new TableStore(spark, root), "corpus",
        work.resolve(s"ckpt_$name").toString, "text", refHist,
        buckets = 256, maxJs = 1.0,
        onDrift = (batchId, _, _) =>
          if (batchId == 0L) bothScored.await(60, TimeUnit.SECONDS)))
    }
    val runs = Seq(stream("a", Seq(1L, 2L)), stream("b", Seq(11L, 12L)))
    runs.foreach(Await.result(_, 5.minutes))

    val landed = new TableStore(spark, root).scan("corpus")
      .collect().map(_.getLong(0)).toSet
    assert(landed == Set(1L, 2L, 11L, 12L),
      s"a first batch was lost to the other stream's creation: $landed")
  }

  test("a keyed first batch is deduped like the pipeline's upsert of the same file") {
    val work = Files.createTempDirectory("graft_skeyed")
    val src = work.resolve("in"); Files.createDirectories(src)
    val file = src.resolve("a.csv")
    Files.writeString(file, "id,v\n1,x\n1,y\n2,z\n")
    val schema = FrictionlessSchema(List(
      FrictionlessField("id", "integer", constraints = FieldConstraints(unique = true)),
      FrictionlessField("v", "string")))

    val streamed = new TableStore(spark, work.resolve("streamed").toString)
    StreamingIngest.ingestAvailableNow(
      spark, src.toString, TypeMapping.toStructType(schema), "csv", streamed,
      "t", work.resolve("ckpt").toString, uniqueKeys = Seq("id"))
    val piped = new TableStore(spark, work.resolve("piped").toString)
    new Pipeline(spark, piped).run(PipelineConfig(file.toString, "t",
      IngestionMethod.Upsert, format = Some(SourceFormat.Csv),
      schema = Some(schema)))

    def rows(store: TableStore): Seq[(Long, String, Long)] =
      store.scan("t").select($"id".cast("long"), $"v", $"_id".cast("long"))
        .as[(Long, String, Long)].collect().toSeq.sorted
    val got = rows(streamed)
    assert(got.map(r => (r._1, r._2)) == Seq((1L, "x"), (2L, "z")), got)
    assert(got == rows(piped))
  }
}
