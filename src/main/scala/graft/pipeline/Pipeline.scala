package graft.pipeline

import graft.export.Export
import graft.ingest.{Reader, SourceFormat}
import graft.ops.{Merge, UpdatedAt, Validate}
import graft.schema.FrictionlessSchema
import graft.table.TableStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.sql.Timestamp

/** Ingestion method ADT — the reference's write dispositions
  * (C2 branch, pipeline_ckan_to_bigquery.py:360-372). */
sealed trait IngestionMethod
object IngestionMethod {
  case object Overwrite extends IngestionMethod
  case object Append extends IngestionMethod
  case object Upsert extends IngestionMethod
  def fromName(s: String): IngestionMethod = s.toLowerCase match {
    case "overwrite" | "replace" => Overwrite
    case "append" | "insert"     => Append
    case "upsert"                => Upsert
    case other =>
      throw new IllegalArgumentException(s"Unknown ingestion method: $other")
  }
}

/** Pipeline configuration — mirror of the reference's 5-block params payload
  * (pipeline_ckan_to_bigquery.py:54-89), minus the cloud-credential blocks
  * (environment-bound non-goals, SURVEY §7.3). */
final case class PipelineConfig(
    resourcePath: String,
    tableName: String,
    method: IngestionMethod = IngestionMethod.Overwrite,
    format: Option[SourceFormat] = None,
    schema: Option[FrictionlessSchema] = None, // None → infer
    validate: Boolean = false,
    limitErrors: Int = 1000,
    rowNumberColumn: String = "_id", // others_config.row_number_column
    updatedAtColumn: String = "_updated_at", // others_config.record_updated_at_column
    exportPath: Option[String] = None,
    exportFormat: SourceFormat = SourceFormat.Csv,
    exportSingleFile: Boolean = false,
    // dataset-level acceptance constraints (ops.Checks): evaluated over
    // the ingested batch in ONE aggregation pass AFTER per-row validation
    // and BEFORE any write — a failing verdict aborts with the verdicts
    // as the structured payload (nothing lands in the warehouse)
    batchChecks: Seq[graft.ops.Checks.Check] = Nil,
    // append-heavy tables accumulate manifest snapshots (one union branch
    // per append at read time); past this count the append branch compacts
    // them back into one columnar snapshot (C7 upkeep, O(table) but rare)
    compactAfterSnapshots: Int = 16
)

/** Status callback — replaces the reference's fire-and-forget CKAN status
  * side-channel + failure email (C5/C6, aircan/dependencies/utils/ckan.py:
  * 13-78, utils/email.py:12-117). Implementations must never throw. */
trait StatusCallback {
  def update(state: String, message: String): Unit
}
object LogStatusCallback extends StatusCallback {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.pipeline")
  def update(state: String, message: String): Unit =
    try log.info(s"[$state] $message")
    catch { case _: Throwable => () }
}

/** Structured pipeline failure carrying the validation report JSON —
  * mirror of `AirflowException(json)` (pipeline_ckan_to_bigquery.py:298-312). */
final class PipelineException(val payload: String)
    extends RuntimeException(payload)

/** The end-to-end pipeline: ingest → (validate) → row-number →
  * overwrite/append/upsert → (ordered export). One driver program replaces
  * the reference's DAG of Celery tasks (SURVEY §3.1); the XCom process
  * boundary disappears, the BQ remote-execution boundary becomes Spark's
  * driver→executor boundary.
  */
final class Pipeline(
    spark: SparkSession,
    store: TableStore,
    status: StatusCallback = LogStatusCallback,
    alerts: AlertSink = AlertSink.NoAlerts,
    redact: Redactor = Redactor.Empty
) {

  def this(
      spark: SparkSession,
      store: TableStore,
      site: SiteCredentials,
      statusUrl: String,
      redact: Redactor) =
    // multi-tenant wiring (C8): the site's `{site_id}_api_key` token
    // authenticates status callbacks, and its `{site_id}_email` connection —
    // when registered — carries failure alerts (recipients in the conn's
    // `extra`: `to` comma-separated, `from` defaulting to the login)
    this(spark, store,
      site.statusCallback(statusUrl),
      site.smtp match {
        case Some(c) if c.extra.contains("to") =>
          SmtpAlert.sink(c,
            from = c.extra.getOrElse("from", c.login),
            to = c.extra("to").split(',').toIndexedSeq.map(_.trim).filter(_.nonEmpty))
        case _ => AlertSink.NoAlerts
      },
      redact)

  def this(
      spark: SparkSession,
      store: TableStore,
      site: SiteCredentials,
      statusUrl: String) =
    this(spark, store, site, statusUrl, Redactor.Empty)

  // every outbound channel is scrubbed (C6 hygiene, [[Redactor]]); the
  // raised PipelineException keeps the full message for in-process callers
  private val outStatus: StatusCallback = redact.statusCallback(status)
  private val outAlerts: AlertSink = redact.alertSink(alerts)

  private def jsonEsc(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** Failure funnel: alert (never-throwing), then raise the structured
    * payload (C6 — reference e-mails on DAG failure, email.py:12-117). */
  private def fail(table: String, payload: String): Nothing = {
    outAlerts.alert(table, payload)
    throw new PipelineException(payload)
  }

  def run(cfg: PipelineConfig, jobTs: Timestamp = new Timestamp(System.currentTimeMillis())): DataFrame = {
    outStatus.update("pending", s"starting ${cfg.tableName} (${cfg.method})")

    // 1. schema: provided → sanitize | infer (py:271-282)
    val schema = cfg.schema
      .map(_.sanitized)
      .getOrElse(Reader.inferSchema(spark, cfg.resourcePath, cfg.format))

    // 2. optional validation; invalid → structured abort (py:287-317)
    if (cfg.validate) {
      val fmt = cfg.format.getOrElse(SourceFormat.detect(cfg.resourcePath))
      val rawOpts = Reader.ReadOptions(format = Some(fmt), schema = None,
        rowNumberColumn = Some(cfg.rowNumberColumn))
      val raw = fmt match {
        case SourceFormat.Csv | SourceFormat.Tsv =>
          // all-string phase-1 read for the cast audit
          Reader.readRaw(spark, cfg.resourcePath, fmt,
            Reader.ReadOptions(schema = Some(schema)))
        case _ => Reader.readRaw(spark, cfg.resourcePath, fmt, rawOpts)
      }
      // rows are numbered inside the validation pass itself (file order,
      // 1-based — what the load's RowNumbers injection assigns)
      val report = Validate.validate(raw, schema, cfg.limitErrors,
        rowIdCol = Some(cfg.rowNumberColumn))
      if (!report.valid) {
        outStatus.update("failed", s"validation failed: ${report.errorCount} errors")
        fail(cfg.tableName, report.toJson)
      }
      outStatus.update("progress", s"validated ${report.rowCount} rows")
    }

    // 3. row-number start: MAX(_id)+1 for append/upsert, 1 for overwrite
    //    (py:322 → warehouse.py:13-31)
    val start = cfg.method match {
      case IngestionMethod.Overwrite => 1L
      case _ => store.nextRowNumberStart(cfg.tableName, cfg.rowNumberColumn)
    }

    // 4. ingest with numbering
    val df = Reader.read(spark, cfg.resourcePath, Reader.ReadOptions(
      format = cfg.format, schema = Some(schema),
      rowNumberColumn = Some(cfg.rowNumberColumn), rowNumberStart = start))
    outStatus.update("progress", s"ingested ${cfg.resourcePath}")

    // 4b. dataset-level acceptance gate (ops.Checks): batch invariants a
    //     per-row pass cannot see (key uniqueness, completeness ratios,
    //     row-count windows). One aggregation pass; failing verdicts
    //     become the structured abort payload.
    if (cfg.batchChecks.nonEmpty) {
      val verdicts = graft.ops.Checks.run(df, cfg.batchChecks).collect()
      val failed = verdicts.filter(!_.getBoolean(6))
      if (failed.nonEmpty) {
        def j(r: org.apache.spark.sql.Row): String = {
          def opt(i: Int) = if (r.isNullAt(i)) "null" else r.getLong(i).toString
          s"""{"check_id": ${r.getLong(0)}, "check_type": ${jsonEsc(r.getString(1))},""" +
            s""" "col_name": ${jsonEsc(r.getString(2))}, "observed": ${r.getLong(3)},""" +
            s""" "threshold_lo": ${opt(4)}, "threshold_hi": ${opt(5)}}"""
        }
        val payload = s"""{"error": "batch checks failed", "table": ${jsonEsc(cfg.tableName)},""" +
          s""" "failed": ${failed.map(j).mkString("[", ", ", "]")}}"""
        outStatus.update("failed",
          s"batch checks failed: ${failed.length} of ${verdicts.length}")
        fail(cfg.tableName, payload)
      }
      outStatus.update("progress",
        s"batch checks passed (${verdicts.length} constraints)")
    }

    // 5. write branch (C2). Runtime failures here (e.g. an ANSI cast on
    //    malformed data with validation disabled) surface as a structured
    //    payload, mirroring the reference's load-job error handling
    //    (warehouse.py:130-133 → AirflowException; C6 failure path).
    try {
      cfg.method match {
        case IngestionMethod.Overwrite =>
          store.overwrite(cfg.tableName, UpdatedAt.stamp(df, jobTs, cfg.updatedAtColumn))
        case IngestionMethod.Append =>
          store.append(cfg.tableName, UpdatedAt.stamp(df, jobTs, cfg.updatedAtColumn))
          store.compact(cfg.tableName, cfg.compactAfterSnapshots)
        case IngestionMethod.Upsert =>
          val keys = Validate.requireUniqueKeys(schema, df.columns.toIndexedSeq)
          Merge.upsertInto(store, cfg.tableName, df, jobTs,
            Merge.MergeSpec(uniqueKeys = keys,
              preserveColumns = Seq(cfg.rowNumberColumn),
              updatedAtColumn = Some(cfg.updatedAtColumn),
              dedupOrderCol = Some(cfg.rowNumberColumn)))
      }
    } catch {
      case e: PipelineException => throw e
      case e: Exception with org.apache.spark.SparkThrowable =>
        // Spark runtime failures (ANSI casts, exec errors) → structured payload.
        // Note SparkNumberFormatException extends IllegalArgumentException, so
        // this arm must precede the precondition passthrough.
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        outStatus.update("failed", s"load failed: $msg")
        fail(cfg.tableName,
          s"""{"valid":false,"stage":"load","table":"${cfg.tableName}","error":${jsonEsc(msg)}}""")
      case e: IllegalArgumentException => throw e // engine preconditions keep their type
      case e: Exception =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        outStatus.update("failed", s"load failed: $msg")
        fail(cfg.tableName,
          s"""{"valid":false,"stage":"load","table":"${cfg.tableName}","error":${jsonEsc(msg)}}""")
    }
    outStatus.update("progress", s"wrote ${cfg.tableName}")

    // 6. optional ordered export (py:483-569)
    cfg.exportPath.foreach { out =>
      Export.export(store.scan(cfg.tableName), out, Export.ExportOptions(
        format = cfg.exportFormat, orderBy = Some(cfg.rowNumberColumn),
        singleFile = cfg.exportSingleFile))
      outStatus.update("progress", s"exported to $out")
    }

    outStatus.update("success", s"${cfg.tableName} complete")
    store.scan(cfg.tableName)
  }
}
