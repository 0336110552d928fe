package perfbench

import graft.pipeline.Pipeline
import graft.table.TableStore
import org.apache.spark.sql.SparkSession
import java.nio.file.Path

/** What one workload's run can reach: a session, a fresh store under
  * `root`, a pipeline wired to the span recorder, and the ledger. */
final class Env(val spark: SparkSession, val root: Path, val cores: Int,
    val spans: Spans, val ledger: Ledger) {
  val storeRoot: Path = root.resolve("tables")
  val store: TableStore = graft.Graft.store(spark, storeRoot.toString)
  val pipeline: Pipeline = graft.Graft.pipeline(spark, store, spans.status)

  /** One guarded operation, traced as a root span. Latency counts towards
    * `op_p50_s`/`op_tail_s` only when `timed`. */
  def op[T](kind: String, timed: Boolean = true)(body: => T)(check: T => Unit): Option[T] =
    ledger.op(kind, timed)(spans.op(kind)(body))(check)
}

/** One workload. A run generates the inputs (not measured), warms up on a
  * small input of its own (part of `setup_s`), prepares untimed state,
  * runs the timed region, and verifies what is left behind.
  *
  * `seconds` fixes the amount of work: about that long on a 4-core box.
  * The work is a function of the seed and `seconds` alone, so two builds
  * compared on one seed do exactly the same operations. */
trait Workload {
  def generate(dir: Path): Seq[Path]
  def warmUp(env: Env, dir: Path): Unit
  def prepare(env: Env): Unit = ()
  def run(env: Env): Unit
  def verify(env: Env): Unit = ()
  /** The workload's manifest tables. */
  def tables: Seq[String]
  /** Bytes the workload's tables hold at the end of the run: the numerator
    * of `space_amp`. */
  def storedBytes(env: Env): Long =
    tables.filter(env.store.exists).map(env.store.tableDataBytes).sum
  def sourceBytes: Long
  /** Source rows (or documents) put through and the seconds that took. */
  def throughput: (Long, Double)
  /** Per-layer metrics only this workload can observe, from a traced run. */
  def layerMetrics(env: Env, trace: Trace): Map[String, Double] = Map.empty
  /** Spans that write to the table store (for `table.driver_s`). */
  def writeSpans: Set[String] = Set("pipeline.write", "streaming.trigger")
}

object Workload {
  val names: Seq[String] = Seq("load_bulk", "load_incremental", "curate_serve")
  def apply(name: String, seed: Long, seconds: Int): Workload = name match {
    case "load_bulk"        => new LoadBulk(seed, seconds)
    case "load_incremental" => new LoadIncremental(seed, seconds)
    case "curate_serve"     => new CurateServe(seed, seconds)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${names.mkString(", ")})")
  }
}
