package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --result <file> [--trace-out <file>]`.
  *
  * Prints every metric by name and unit, and writes the run's result
  * object to `--result`. With `--trace 0` the metrics are the end-to-end
  * ones; with `--trace 1` the listeners are attached for the timed region
  * and the metrics are the per-layer ones, with every span written to
  * `--trace-out`. */
object Main {
  val SetupRuns = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = arg("workload"); val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt; val traced = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    val cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val wl = Workload(name, seed, seconds)

    val clock = new Phases
    val inputs = wl.generate(work.resolve("input"))
    val inputHash = Gen.contentHash(inputs)
    clock("generate")

    // set-up: session start plus the untimed warm-up, several times; the
    // last session is the one measured
    var spark: SparkSession = null
    val setups = (1 to SetupRuns).map { i =>
      val t0 = System.nanoTime()
      spark = session(work, cores)
      val dir = work.resolve(s"warm-$i")
      wl.warmUp(new Env(spark, dir, cores, new Spans, new Ledger), dir)
      val dt = (System.nanoTime() - t0) / 1e9
      graft.table.TableStore.awaitReap()
      deleteTree(dir)
      if (i < SetupRuns) spark.stop()
      dt
    }
    clock("set-up")

    val ledger = new Ledger
    val trace = if (traced) Some(new Trace(spark)) else None
    val env = new Env(spark, work.resolve("run"), cores, trace.getOrElse(new Spans), ledger)
    wl.prepare(env)
    clock("prepare")
    trace.foreach(_.start())
    val t0 = Spans.now()
    wl.run(env)
    val t1 = Spans.now()
    trace.foreach(_.stop())
    clock("timed")
    wl.verify(env)
    val wall = (t1 - t0) / 1e3

    val metrics: Seq[(String, Double, String)] = trace match {
      case None =>
        val (rows, secs) = wl.throughput
        val ops = ledger.latencies.toSeq
        val (tailLabel, tail) = if (ops.nonEmpty) Stats.tail(ops) else ("max", Double.NaN)
        println(s"operations timed: ${ops.size}; op_tail_s is $tailLabel")
        Seq(
          ("setup_s", Stats.median(setups), "s"),
          ("wall_s", wall, "s"),
          ("rows_per_s", rows / secs, "1/s"),
          ("op_p50_s", if (ops.nonEmpty) Stats.median(ops) else Double.NaN, "s"),
          ("op_tail_s", tail, "s"),
          ("space_amp", wl.storedBytes(env) / wl.sourceBytes.toDouble, "ratio"),
          ("heap_retained_mb", heapAfterGc(), "MB"))
      case Some(t) =>
        val m = Layers(env, wl, t, t0, t1) + ("trace.wall_s" -> wall)
        a.get("trace-out").foreach(p => Layers.writeTrace(Paths.get(p), name, seed, t, m, ledger))
        Layers.Names.map { case (n, unit) => (n, m.getOrElse(n, 0.0), unit) }
    }

    clock("verify")
    val correct = ledger.failed == 0 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    println(s"workload $name seed $seed seconds $seconds trace ${if (traced) 1 else 0} " +
      s"cores $cores inputs sha256:$inputHash")
    println(setups.map(s => f"$s%.3f").mkString("set-ups (s): ", " ", ""))
    println(s"phases (s): ${clock.report}")
    println(f"error_rate ${ledger.failed.toDouble / ledger.attempted}%.4f " +
      s"(${ledger.failed} of ${ledger.attempted} operations)" +
      (if (ledger.errors.nonEmpty) ledger.errors.map { case (c, n) => s"$c=$n" }
        .mkString(" errors: ", ", ", "") else ""))
    ledger.messages.take(10).foreach(m => println(s"  failed $m"))
    ledger.kinds.foreach { case (k, xs) =>
      println(f"  $k%-18s n=${xs.size}%3d median ${Stats.median(xs)}%.3f s")
    }
    metrics.foreach { case (n, v, u) => println(f"$n%-26s $v%14.6f $u") }

    val json = new StringBuilder
    json ++= s"""{"correct": $correct, "attempted": ${ledger.attempted}, "failed": ${ledger.failed}, "metrics": {"""
    json ++= metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }.mkString(", ")
    json ++= "}}"
    Files.writeString(Paths.get(arg("result")), json.toString + "\n")
    spark.stop()
  }

  /** Wall time of each phase of the run, from JVM start. */
  final class Phases {
    private var last = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    private val done = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    def apply(name: String): Unit = {
      val now = System.currentTimeMillis().toDouble
      done += ((name, (now - last) / 1e3)); last = now
    }
    def report: String = done.map { case (n, s) => f"$n $s%.1f" }.mkString(", ")
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def heapAfterGc(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(100); System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      try all.forEach(q => Files.deleteIfExists(q)) finally all.close()
    }
}
