package perfbench

import graft.pipeline.StatusCallback
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A timed interval on the run's clock (epoch milliseconds, fractional).
  * `parent` is the id of the operation span that was open when it began;
  * operation spans are roots (parent 0). */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Spans the benchmark opens around its own calls into the program. With
  * tracing off every method is a pass-through that records nothing. */
class Spans {
  def now(): Double = Spans.now()
  def op[T](name: String)(body: => T): T = body
  def span[T](name: String)(body: => T): T = body
  def mark(name: String, start: Double, end: Double): Unit = ()
  def status: StatusCallback = Spans.NoStatus
}

object Spans {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** One clock for benchmark spans and Spark's listener timestamps. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  object NoStatus extends StatusCallback {
    def update(state: String, message: String): Unit = ()
  }
}

/** The traced run's recorder. Spans and counts stay in memory; they are
  * read out once, after the timed region. Everything is observed from
  * outside the program through public hooks: a recording StatusCallback
  * (pipeline stages), a SparkListener (jobs and task metrics), a
  * QueryExecutionListener (Catalyst phases) and a StreamingQueryListener
  * (micro-batches). One client thread issues all operations, so each job,
  * query and stage belongs to the operation open when it started. */
final class Trace(spark: SparkSession) extends Spans {
  private val recorded = mutable.ArrayBuffer[Span]()
  private var nextId = 1
  private var openOp = 0
  private var openOpStart = 0.0

  final case class Job(id: Int, start: Double, var end: Double = -1)
  final case class Task(run: Double, cpu: Double, gc: Double,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, input: Long, output: Long,
      failed: Boolean)
  final case class Query(start: Double, analysis: Double, optimization: Double, planning: Double)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val queries = new ConcurrentLinkedQueue[Query]()
  private val batchCount = new java.util.concurrent.atomic.AtomicInteger()
  private val statusLog = mutable.ArrayBuffer[(Double, String, String)]()
  @volatile private var lastEvent = 0.0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, Job(e.jobId, e.time.toDouble)); lastEvent = Spans.now()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.end = e.time.toDouble
      lastEvent = Spans.now()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val failed = !e.taskInfo.successful
      tasks.add(if (m == null) Task(0, 0, 0, 0, 0, 0, 0, 0, failed)
      else Task(m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten, failed))
      lastEvent = Spans.now()
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def d(n: String) = ph.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs).minOption.map(_.toDouble).getOrElse(Spans.now())
    queries.add(Query(start, d("analysis"), d("optimization"), d("planning")))
    lastEvent = Spans.now()
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      if (e.progress.numInputRows > 0) batchCount.incrementAndGet()
      lastEvent = Spans.now()
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Detaches the listeners once the listener bus has gone quiet, so that
    * every event of the timed region has been delivered. */
  def stop(): Unit = {
    val deadline = Spans.now() + 5000
    Thread.sleep(100)
    while (Spans.now() - lastEvent < 300 && Spans.now() < deadline) Thread.sleep(50)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  override def op[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    openOp = id; openOpStart = now()
    try body
    finally { recorded += Span(id, 0, name, openOpStart, now()); openOp = 0 }
  }

  override def span[T](name: String)(body: => T): T = {
    val t0 = now()
    try body finally mark(name, t0, now())
  }

  override def mark(name: String, start: Double, end: Double): Unit = {
    recorded += Span(nextId, openOp, name, start, end); nextId += 1
  }

  /** Pipeline stage spans come from the status updates: pending→ingested
    * is preparation (schema inference and validation), ingested→wrote the
    * table write, wrote→exported the export. */
  override val status: StatusCallback = new StatusCallback {
    def update(state: String, message: String): Unit = synchronized {
      val t = now()
      val stage =
        if (state == "pending") Some("pipeline.start")
        else if (message.startsWith("ingested")) Some("pipeline.ingested")
        else if (message.startsWith("wrote")) Some("pipeline.wrote")
        else if (message.startsWith("exported")) Some("pipeline.exported")
        else if (state == "failed") Some("pipeline.failed")
        else None
      stage.foreach { s =>
        statusLog += ((t, state, s))
        val prev = statusLog.dropRight(1).lastOption.map(_._1)
        val name = s match {
          case "pipeline.ingested" => Some("pipeline.prepare")
          case "pipeline.wrote"    => Some("pipeline.write")
          case "pipeline.exported" => Some("pipeline.export")
          case _                   => None
        }
        for (n <- name; p <- prev) mark(n, p, t)
      }
    }
  }

  def spans: Seq[Span] = recorded.toSeq
  /** Pipeline runs that reported failure (refused resources included). */
  def rejections: Int = statusLog.count(_._3 == "pipeline.failed")
  def jobList: Seq[Job] = jobs.values.asScala.toSeq.filter(_.end >= 0).sortBy(_.start)
  def taskList: Seq[Task] = tasks.asScala.toSeq
  def queryList: Seq[Query] = queries.asScala.toSeq
  /** Micro-batches that read at least one row. */
  def batches: Int = batchCount.get

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = -1.0; var curB = -1.0
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Seconds of [lo, hi] during which no Spark job was running. */
  def idle(lo: Double, hi: Double): Double =
    ((hi - lo) - covered(jobList.map(j => (j.start, j.end)), lo, hi)) / 1e3

  /** Self time: a span's duration minus the part its children cover. */
  def selfTime(s: Span): Double =
    (s.dur - covered(recorded.filter(_.parent == s.id).map(c => (c.start, c.end)).toSeq,
      s.start, s.end)) / 1e3
}
