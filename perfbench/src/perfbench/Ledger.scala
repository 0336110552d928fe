package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** An output that does not match what the benchmark expects. */
final class CheckFailed(message: String) extends RuntimeException(message)

object Check {
  def apply(cond: Boolean, what: => String): Unit =
    if (!cond) throw new CheckFailed(what)
  def equal[A](what: String, got: A, want: A): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")
}

/** Every operation of a run, each in its own guard. A success leaves its
  * latency; a throw or a failed check leaves its error class and is never
  * timed. Fatal JVM errors are not caught: they end the run. */
final class Ledger {
  val latencies = mutable.ArrayBuffer[Double]()
  private val byKind = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val errors = mutable.LinkedHashMap[String, Int]()
  val messages = mutable.ArrayBuffer[String]()
  var attempted = 0
  def failed: Int = errors.values.sum

  /** Runs `body` as one operation: only `body` is timed, then `check`
    * inspects its result. `timed = false` keeps an operation out of the
    * per-operation latency figures; its duration is still kept by kind. */
  def op[T](kind: String, timed: Boolean = true)(body: => T)(check: T => Unit): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val v = body
      val dt = (System.nanoTime() - t0) / 1e9
      check(v)
      if (timed) latencies += dt
      byKind.getOrElseUpdate(kind, mutable.ArrayBuffer()) += dt
      Some(v)
    } catch { case NonFatal(e) => fail(kind, e); None }
  }

  def fail(kind: String, e: Throwable): Unit = {
    val cls = e.getClass.getSimpleName
    errors(cls) = errors.getOrElse(cls, 0) + 1
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
    messages += s"$kind: $cls: $msg"
  }

  def kinds: Seq[(String, Seq[Double])] = byKind.toSeq.map { case (k, v) => (k, v.toSeq) }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * eleventh-largest sample, at percentile 100·(n−10)/n. Below twenty
    * samples that would not lie above the median, so the maximum stands in. */
  def tail(xs: Seq[Double]): (String, Double) =
    if (xs.size < 20) ("max", xs.max)
    else (f"p${100.0 * (xs.size - 10) / xs.size}%.1f", xs.sorted.apply(xs.size - 11))
}
