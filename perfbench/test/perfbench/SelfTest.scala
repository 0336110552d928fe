package perfbench

import org.apache.spark.sql.Row
import java.nio.file.Files
import java.sql.Timestamp

/** Self-test of the benchmark's own checks: each deliberately wrong output
  * must fail its check, and a throwing operation must land in the error
  * count without a latency. Needs no Spark session.
  * Run: `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var failures = 0

  private def expect(what: String)(cond: Boolean): Unit = {
    println(s"${if (cond) "ok  " else "FAIL"} $what")
    if (!cond) failures += 1
  }

  private def rejects(what: String)(body: => Unit): Unit =
    expect(s"rejects $what")(try { body; false } catch { case _: CheckFailed => true })

  private def accepts(what: String)(body: => Unit): Unit =
    expect(s"accepts $what")(try { body; true } catch { case e: CheckFailed =>
      println(s"     ${e.getMessage}"); false })

  def main(args: Array[String]): Unit = {
    ledger()
    stats()
    model()
    export()
    topK()
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def ledger(): Unit = {
    val l = new Ledger
    l.op("throws")(throw new IllegalStateException("boom"))(_ => ())
    expect("a throwing operation is counted as failed, with its class")(
      l.attempted == 1 && l.failed == 1 && l.errors.get("IllegalStateException").contains(1))
    expect("a throwing operation is not timed")(l.latencies.isEmpty)
    l.op("wrong")(41)(v => Check.equal("answer", v, 42))
    expect("a failed check is counted as failed and not timed")(
      l.attempted == 2 && l.failed == 2 && l.errors.get("CheckFailed").contains(1) &&
        l.latencies.isEmpty)
    l.op("right")(42)(v => Check.equal("answer", v, 42))
    expect("a passing operation is timed")(l.failed == 2 && l.latencies.size == 1)
  }

  private def stats(): Unit = {
    val xs = (1 to 40).map(_.toDouble)
    expect("tail of 40 samples is p75, ten samples above it")(Stats.tail(xs) == ("p75.0", 30.0))
    expect("tail of 25 samples is p60")(Stats.tail(xs.take(25)) == ("p60.0", 15.0))
    expect("tail of 19 samples is the maximum")(Stats.tail(xs.take(19)) == ("max", 19.0))
    expect("tail of 1000 samples is p99")(Stats.tail((1 to 1000).map(_.toDouble)) == ("p99.0", 990.0))
    expect("median")(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  private def model(): Unit = {
    val r = new Rng(7)
    val base = Gen.lines(r, 1L, 6)
    val m = new Lineitem.Model
    m.overwrite(base, 1000L)
    val changed = Gen.changed(r, base(2))
    val fresh = Gen.lines(r, 100L, 1).head
    // stage rows number 7, 8, 9, 10; the duplicate of `fresh` must lose
    val moved = m.upsert(Seq(changed, base(4), fresh, Gen.changed(r, fresh)), 2000L, 2000L)
    expect("upsert stamps exactly the changed and inserted keys")(moved == Set(changed.key, fresh.key))
    expect("an inserted key keeps its stage number")(m.rows(fresh.key).id == 9L && m.maxId == 9L)
    def row(l: Line, id: Long, ts: Long) =
      Row(l.orderkey, l.linenumber.toLong, id, new Timestamp(ts), l.quantity.toLong, l.comment)
    val good = base.zipWithIndex.map { case (l, i) =>
      if (i == 2) row(changed, 3, 2000) else row(l, i + 1L, 1000)
    } :+ row(fresh, 9, 2000)
    accepts("the reference table state")(m.verify(good.toArray))
    rejects("a row whose _id is off by one")(
      m.verify(good.updated(0, row(base(0), 2, 1000)).toArray))
    rejects("an unchanged row whose _updated_at moved")(
      m.verify(good.updated(4, row(base(4), 5, 2000)).toArray))
    rejects("a changed row that kept its old value")(
      m.verify(good.updated(2, row(base(2), 3, 2000)).toArray))
    rejects("a missing row")(m.verify(good.dropRight(1).toArray))
    val seen = Array(Row(fresh.linenumber.toLong, fresh.quantity.toLong, fresh.comment))
    expect("the point read sees its line")(Lineitem.seesLine(seen, fresh))
    expect("the point read does not see a changed line")(
      !Lineitem.seesLine(Array(Row(base(2).linenumber.toLong, base(2).quantity.toLong,
        base(2).comment)), changed))
  }

  private def export(): Unit = {
    val dir = Files.createTempDirectory("selftest-export")
    def write(ids: Seq[Long]): Unit = {
      Files.list(dir).forEach(p => Files.delete(p))
      Files.writeString(dir.resolve("part-00000.csv"),
        (Seq("l_orderkey,_id") ++ ids.map(i => s"$i,$i")).mkString("\n") + "\n")
    }
    write(1L to 5L)
    accepts("an export in _id order")(Lineitem.checkExport(dir, 5))
    write(Seq(1L, 3L, 2L, 4L, 5L))
    rejects("an export out of _id order")(Lineitem.checkExport(dir, 5))
    write(1L to 4L)
    rejects("an export missing a row")(Lineitem.checkExport(dir, 5))
    Files.list(dir).forEach(p => Files.delete(p)); Files.delete(dir)
  }

  private def topK(): Unit = {
    val texts = Array("a b c", "a a b", "c d", "a d d", "b b b")
    val bm = new Reference.Bm25(texts)
    val scores = bm.scores("a b")
    val want = Reference.topK(scores, 3)
    accepts("the reference ranking")(Reference.checkTopK("q", want, scores, 3))
    rejects("a ranking with two results swapped")(
      Reference.checkTopK("q", Seq(want(1), want(0), want(2)), scores, 3))
    rejects("a ranking with a wrong score")(
      Reference.checkTopK("q", want.updated(0, (want(0)._1, want(0)._2 + 1)), scores, 3))
    rejects("a short ranking")(Reference.checkTopK("q", want.take(2), scores, 3))
    val tied = Map(1L -> BigDecimal(2), 2L -> BigDecimal(2), 3L -> BigDecimal(1))
    rejects("exact ties not broken by ascending doc id")(
      Reference.checkTopK("q", Seq(2L -> BigDecimal(2), 1L -> BigDecimal(2)), tied, 2))
    expect("shingle Jaccard")(Reference.jaccard("a b c d", "a b c e") == 1.0 / 3)
  }
}
