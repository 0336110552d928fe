package perfbench

import java.nio.file.Paths

/** Loads the classes a run needs, by one warm-up of every workload, so the
  * build can record them in a class-data-sharing archive that later runs
  * start from. `--work <dir>`. */
object Train {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(1)).toAbsolutePath
    val spark = Main.session(work, 2)
    Workload.names.foreach { name =>
      val wl = Workload(name, 0L, 1)
      val dir = work.resolve(name)
      wl.generate(dir.resolve("input"))
      wl.warmUp(new Env(spark, dir, 2, new Spans, new Ledger), dir)
    }
    graft.table.TableStore.awaitReap()
    spark.stop()
  }
}
