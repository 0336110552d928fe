package graft.export

import graft.ingest.SourceFormat
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Table → file export, ordered by the row-number column — W3/W4/W5 + O1 of
  * SURVEY §2 (reference: aircan/dependencies/cloud/warehouse.py:368-427
  * tmp-table ORDER BY + extract; storage.py:403-569 shard compose).
  *
  * Spark-first: `orderBy(_id)` is a range-partitioned distributed sort (no
  * temp table needed), and the writer emits ordered part-files directly —
  * part-file N+1 continues where N ends, so CSV/NDJSON shards are
  * concatenable in name order exactly like the reference's GCS compose.
  * `singleFile = true` writes one ordered file (small exports only; at
  * 100 TB keep shards — compose is an object-store concat, not a Spark
  * job): the rows move to ONE partition and sort there
  * (`repartition(1).sortWithinPartitions`), the same order as a range sort
  * coalesced to one partition but without the range sort's sampling job.
  * Parquet shards stay multi-part (reference: storage.py:516-569, parquet
  * is not byte-concatenable).
  */
object Export {

  final case class ExportOptions(
      format: SourceFormat = SourceFormat.Csv,
      orderBy: Option[String] = Some("_id"),
      header: Boolean = true,
      singleFile: Boolean = false,
      compression: Option[String] = None
  )

  def export(df: DataFrame, outPath: String, opts: ExportOptions = ExportOptions()): Unit = {
    val shaped = (opts.orderBy.filter(df.columns.contains), opts.singleFile) match {
      case (Some(c), true)  => df.repartition(1).sortWithinPartitions(col(c).asc)
      case (Some(c), false) => df.orderBy(col(c).asc)
      case (None, true)     => df.coalesce(1)
      case (None, false)    => df
    }
    val w0 = shaped.write.mode(SaveMode.Overwrite)
    val w = opts.compression.map(c => w0.option("compression", c)).getOrElse(w0)
    opts.format match {
      case SourceFormat.Csv =>
        w.option("header", opts.header).csv(outPath)
      case SourceFormat.Tsv =>
        w.option("header", opts.header).option("sep", "\t").csv(outPath)
      case SourceFormat.Ndjson | SourceFormat.JsonArray =>
        w.json(outPath) // NDJSON; a JSON array export is NDJSON + brackets
      case SourceFormat.Parquet =>
        w.parquet(outPath)
      case SourceFormat.Orc =>
        w.orc(outPath) // columnar shards, not byte-concatenable (like parquet)
    }
  }

  /** [[export]] + a `MANIFEST.json` beside the shards — the dataset-release
    * practice: every published shard listed with its byte size and MD5 so
    * consumers can verify a download and mirrors can prove integrity
    * without re-reading content semantics. Checksums are computed
    * DISTRIBUTED (one task per shard, streaming 1 MiB buffers — the
    * driver never holds shard bytes); the manifest lists shards in name
    * order, which for ordered formats is also row order. Returns the
    * manifest entries (name, bytes, md5). */
  def exportWithManifest(
      df: DataFrame, outPath: String,
      opts: ExportOptions = ExportOptions()): Seq[(String, Long, String)] = {
    export(df, outPath, opts)
    val spark = df.sparkSession
    val fs = new org.apache.hadoop.fs.Path(outPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shards = fs.listStatus(new org.apache.hadoop.fs.Path(outPath))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(s => (s.getPath.toString, s.getPath.getName, s.getLen))
      .sortBy(_._2).toIndexedSeq
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val entries = spark.sparkContext
      .parallelize(shards, math.max(1, shards.size))
      .map { case (full, name, len) =>
        val p = new org.apache.hadoop.fs.Path(full)
        val in = p.getFileSystem(conf.value).open(p)
        val md = java.security.MessageDigest.getInstance("MD5")
        try {
          val buf = new Array[Byte](1 << 20)
          var n = in.read(buf)
          while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
        } finally in.close()
        (name, len, md.digest().map("%02x".format(_)).mkString)
      }
      .collect().sortBy(_._1).toIndexedSeq
    val body = entries.map { case (n, l, h) =>
      s"""  {"name": "$n", "bytes": $l, "md5": "$h"}"""
    }.mkString("{\n\"shards\": [\n", ",\n", s"""\n],\n"n_shards": ${entries.size}\n}\n""")
    val out = fs.create(
      new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(outPath),
        "MANIFEST.json"), true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    entries
  }
}
