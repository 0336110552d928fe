package perfbench

import java.nio.file.{Files, Path}

/** Per-layer metrics of a traced run, summed over its timed region, and
  * the trace file that backs them. */
object Layers {
  /** Every per-layer metric, with its unit; a layer idle in a workload
    * reports 0. */
  val Names: Seq[(String, String)] = Seq(
    "pipeline.prepare_s" -> "s", "pipeline.write_s" -> "s", "pipeline.export_s" -> "s",
    "pipeline.rejected" -> "count",
    "streaming.trigger_s" -> "s", "streaming.batches" -> "count",
    "table.driver_s" -> "s", "table.read_s" -> "s", "table.manifest_entries" -> "count",
    "table.versions" -> "count", "table.data_mb" -> "MB", "table.write_amp" -> "ratio",
    "export.mb" -> "MB",
    "ext.dedup_s" -> "s", "ext.index_build_s" -> "s", "ext.query_s" -> "s",
    "ext.candidate_pairs" -> "count", "ext.verify_yield" -> "ratio", "ext.dup_recall" -> "ratio",
    "catalyst.queries" -> "count", "catalyst.analysis_s" -> "s",
    "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB",
    "spark.output_mb" -> "MB", "spark.failed_tasks" -> "count", "spark.idle_s" -> "s",
    "trace.wall_s" -> "s")

  private val MB = 1e6

  def apply(env: Env, wl: Workload, t: Trace, t0: Double, t1: Double): Map[String, Double] = {
    val spans = t.spans
    def total(name: String) = spans.filter(_.name == name).map(_.dur).sum / 1e3
    val jobIvs = t.jobList.map(j => (j.start, j.end))
    val driverOnly = spans.filter(s => wl.writeSpans(s.name))
      .map(s => s.dur - t.covered(jobIvs, s.start, s.end)).sum / 1e3
    val tasks = t.taskList
    val qs = t.queryList
    val tables = wl.tables.filter(env.store.exists)
    val extra = wl.layerMetrics(env, t)
    val outputMb = tasks.map(_.output).sum / MB
    Map(
      "pipeline.prepare_s" -> total("pipeline.prepare"),
      "pipeline.write_s" -> total("pipeline.write"),
      "pipeline.export_s" -> total("pipeline.export"),
      "pipeline.rejected" -> t.rejections.toDouble,
      "streaming.trigger_s" -> total("streaming.trigger"),
      "streaming.batches" -> t.batches.toDouble,
      "table.driver_s" -> driverOnly,
      "table.read_s" -> total("table.read"),
      "table.manifest_entries" -> tables.map(env.store.manifestEntries(_).size).sum.toDouble,
      "table.versions" -> tables.map(n => env.store.versions(n).lastOption.getOrElse(0L)).sum.toDouble,
      "table.data_mb" -> wl.storedBytes(env) / MB,
      "table.write_amp" ->
        (outputMb - extra.getOrElse("export.mb", 0.0)) * MB / wl.sourceBytes.toDouble,
      "ext.dedup_s" -> total("ext.dedup"),
      "ext.index_build_s" -> total("ext.index_build"),
      "ext.query_s" -> total("ext.query"),
      "catalyst.queries" -> qs.size.toDouble,
      "catalyst.analysis_s" -> qs.map(_.analysis).sum,
      "catalyst.optimization_s" -> qs.map(_.optimization).sum,
      "catalyst.planning_s" -> qs.map(_.planning).sum,
      "spark.jobs" -> t.jobList.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.executor_run_s" -> tasks.map(_.run).sum,
      "spark.executor_cpu_s" -> tasks.map(_.cpu).sum,
      "spark.gc_s" -> tasks.map(_.gc).sum,
      "spark.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / MB,
      "spark.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / MB,
      "spark.spill_mb" -> tasks.map(_.spill).sum / MB,
      "spark.input_mb" -> tasks.map(_.input).sum / MB,
      "spark.output_mb" -> outputMb,
      "spark.failed_tasks" -> tasks.count(_.failed).toDouble,
      "spark.idle_s" -> t.idle(t0, t1)
    ) ++ extra
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  private def str(s: String): String =
    "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString } + "\""

  /** Writes the run's spans, and for each operation where its time went:
    * Catalyst phases, time with a Spark job running, driver-only time, and
    * its child spans' self time. */
  def writeTrace(p: Path, workload: String, seed: Long, t: Trace,
      metrics: Map[String, Double], ledger: Ledger): Unit = {
    val jobs = t.jobList
    val jobIvs = jobs.map(j => (j.start, j.end))
    val ops = t.spans.filter(_.parent == 0).sortBy(_.start)
    val opRows = ops.map { o =>
      val inOp = (x: Double) => x >= o.start && x <= o.end
      val qs = t.queryList.filter(q => inOp(q.start))
      val kids = t.spans.filter(_.parent == o.id)
      val busy = t.covered(jobIvs, o.start, o.end) / 1e3
      val children = kids.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
        s"${str(n)}: {\"s\": ${num(ss.map(_.dur).sum / 1e3)}, \"self_s\": ${num(ss.map(t.selfTime).sum)}}"
      }.mkString("{", ", ", "}")
      s"""{"id": ${o.id}, "op": ${str(o.name)}, "s": ${num(o.dur / 1e3)}, "spark_busy_s": ${num(busy)}, """ +
        s""""driver_only_s": ${num(o.dur / 1e3 - busy)}, "jobs": ${jobs.count(j => inOp(j.start))}, """ +
        s""""queries": ${qs.size}, "analysis_s": ${num(qs.map(_.analysis).sum)}, """ +
        s""""optimization_s": ${num(qs.map(_.optimization).sum)}, "planning_s": ${num(qs.map(_.planning).sum)}, """ +
        s""""children": $children}"""
    }
    val spanRows = t.spans.sortBy(_.start).map(s =>
      s"""[${s.id}, ${s.parent}, ${str(s.name)}, ${num(s.start)}, ${num(s.end)}]""")
    val m = metrics.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }
    val body = s"""{"workload": ${str(workload)}, "seed": $seed, "failed": ${ledger.failed},\n""" +
      s""" "metrics": ${m.mkString("{", ", ", "}")},\n""" +
      s""" "ops": [\n  ${opRows.mkString(",\n  ")}\n ],\n""" +
      s""" "spans_columns": ["id", "parent", "name", "start_ms", "end_ms"],\n""" +
      s""" "spans": [\n  ${spanRows.mkString(",\n  ")}\n ]}\n"""
    Files.createDirectories(p.getParent)
    Files.writeString(p, body)
  }
}
