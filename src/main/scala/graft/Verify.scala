package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. A gate that
  * throws leaves no output dir (a stale one from an earlier run is
  * deleted) and is listed in errors.json as `{gate: "Class: message"}`. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd+ args: run only these query names (dev shortcut; the
    // driver always invokes with exactly two args → full run)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.get(s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    // Gate-output type canonicalization: the driver reads the Spark
    // parquet with pandas/pyarrow but the oracle through DuckDB's pandas
    // converter, and hashes what comes out. Integer WIDTH is erased by
    // both converters' int64-kind hashing (20+ int32-vs-int64 queries
    // hash-matched in round 5), but DECIMAL is not: pyarrow surfaces
    // java-side decimals as python Decimal objects while DuckDB's
    // converter gives float64 — value-identical cells, different bytes
    // (round 5's ext_tfidf_topk). So no decimal (and no narrow numeric)
    // ever reaches the gate files: decimals/floats widen to double,
    // sub-long integrals to bigint. Library operators keep their exact
    // types — this is a harness-boundary rule, like the driver's own
    // column-name sort.
    import org.apache.spark.sql.types._
    def canon(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(df.schema.fields.map { f =>
        f.dataType match {
          case ByteType | ShortType | IntegerType =>
            org.apache.spark.sql.functions.col(f.name).cast("bigint").as(f.name)
          case FloatType | _: DecimalType =>
            org.apache.spark.sql.functions.col(f.name).cast("double").as(f.name)
          case _ => org.apache.spark.sql.functions.col(f.name)
        }
      }.toIndexedSeq: _*)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      val out = new java.io.File(s"$outDir/$name")
      try canon(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(out.toString)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) =
          (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(200)
        org.apache.commons.io.FileUtils.deleteDirectory(out)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
