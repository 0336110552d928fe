package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** SplitMix64: a fully specified generator, so one seed gives the same
  * stream (and the same input bytes) on every JVM and platform. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def between(lo: Int, hi: Int): Int = lo + nextInt(hi - lo + 1)
  /** An independent stream for one named part of the input. */
  def fork(tag: String): Rng = new Rng(nextLong() ^ tag.hashCode.toLong * 0x632BE59BD9B4E019L)
}

/** One lineitem-shaped row. The key is (orderkey, linenumber); money is
  * held in cents and rates in percent so that every value round-trips
  * through CSV and `decimal(38,9)` exactly. */
final case class Line(
    orderkey: Long, linenumber: Int, partkey: Int, suppkey: Int,
    quantity: Int, priceCents: Long, discountPct: Int, taxPct: Int,
    returnflag: Char, linestatus: Char,
    shipdate: Int, commitdate: Int, receiptdate: Int,
    shipinstruct: String, shipmode: String, comment: String) {
  def key: (Long, Int) = (orderkey, linenumber)
  def csv: String = {
    val sb = new java.lang.StringBuilder(160)
    sb.append(orderkey).append(',').append(linenumber).append(',')
      .append(partkey).append(',').append(suppkey).append(',')
      .append(quantity).append(',').append(Gen.cents(priceCents)).append(',')
      .append(Gen.pct(discountPct)).append(',').append(Gen.pct(taxPct)).append(',')
      .append(returnflag).append(',').append(linestatus).append(',')
      .append(Gen.day(shipdate)).append(',').append(Gen.day(commitdate)).append(',')
      .append(Gen.day(receiptdate)).append(',').append(shipinstruct).append(',')
      .append(shipmode).append(',').append(comment)
    sb.toString
  }
}

/** The benchmark's input generator. It is separate from the measured
  * program: it only writes files, and the program sees nothing else. */
object Gen {
  val LineHeader = "l_orderkey,l_linenumber,l_partkey,l_suppkey,l_quantity," +
    "l_extendedprice,l_discount,l_tax,l_returnflag,l_linestatus,l_shipdate," +
    "l_commitdate,l_receiptdate,l_shipinstruct,l_shipmode,l_comment"
  private val Instructs = Array("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  private val Modes = Array("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
  private val Words = Array("furiously", "quickly", "carefully", "blithely", "slyly",
    "final", "pending", "regular", "express", "ironic", "special", "bold",
    "deposits", "requests", "packages", "accounts", "theodolites", "pinto",
    "beans", "foxes", "instructions", "dependencies", "excuses", "platelets")
  private val Day0 = java.time.LocalDate.of(1992, 1, 1).toEpochDay.toInt

  def cents(c: Long): String = f"${c / 100}%d.${c % 100}%02d"
  def pct(p: Int): String = f"0.$p%02d"
  def day(d: Int): String = java.time.LocalDate.ofEpochDay(d.toLong).toString

  def comment(r: Rng): String = {
    val n = r.between(2, 6)
    (0 until n).map(_ => Words(r.nextInt(Words.length))).mkString(" ")
  }

  def line(r: Rng, orderkey: Long, linenumber: Int): Line = {
    val ship = Day0 + r.nextInt(2400)
    val qty = r.between(1, 50)
    Line(orderkey, linenumber, r.between(1, 200000), r.between(1, 10000), qty,
      qty.toLong * r.between(900, 2100),
      r.between(0, 10), r.between(0, 8),
      "RAN".charAt(r.nextInt(3)), "OF".charAt(r.nextInt(2)),
      ship, ship + r.between(-30, 60), ship + r.between(1, 30),
      Instructs(r.nextInt(Instructs.length)), Modes(r.nextInt(Modes.length)), comment(r))
  }

  /** A changed copy: the same key, a new quantity and comment. */
  def changed(r: Rng, l: Line): Line = {
    val qty = (l.quantity % 50) + 1
    l.copy(quantity = qty, comment = comment(r) + " revised")
  }

  /** `n` fresh lines for orders starting at `firstOrder`, 1–7 lines each. */
  def lines(r: Rng, firstOrder: Long, n: Int): Vector[Line] = {
    val b = Vector.newBuilder[Line]
    var order = firstOrder
    var made = 0
    while (made < n) {
      val per = math.min(r.between(1, 7), n - made)
      var ln = 1
      while (ln <= per) { b += line(r, order, ln); ln += 1; made += 1 }
      order += 1
    }
    b.result()
  }

  def writeLines(p: Path, rows: Iterable[String], header: String): Long = {
    Files.createDirectories(p.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), UTF_8), 1 << 16)
    try {
      w.write(header); w.write('\n')
      rows.foreach { s => w.write(s); w.write('\n') }
    } finally w.close()
    Files.size(p)
  }

  /** Zipf-distributed draws over ranks 0 until `n` (exponent `s`), by
    * inverse transform over the precomputed CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: Rng): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Pronounceable distinct words, one per vocabulary rank. */
  def vocabulary(r: Rng, n: Int): Array[String] = {
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    val seen = new java.util.HashSet[String]()
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val syl = r.between(2, 4)
      val sb = new StringBuilder
      (0 until syl).foreach { _ =>
        sb += cons.charAt(r.nextInt(cons.length)); sb += vow.charAt(r.nextInt(vow.length))
      }
      if (r.nextInt(3) == 0) sb += cons.charAt(r.nextInt(cons.length))
      val w = sb.result()
      if (seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  /** A synthetic corpus with planted exact duplicates (1–3 copies of an
    * earlier document) and near duplicates: `nearPairs` lists (original,
    * copy) pairs where the copy differs by a few substituted words. */
  final case class Corpus(texts: Array[String], vocab: Array[String],
      nearPairs: Vector[(Long, Long)])

  def corpus(r: Rng, docs: Int, vocabSize: Int): Corpus = {
    val vocab = vocabulary(r.fork("vocab"), vocabSize)
    val zipf = new Zipf(vocabSize, 1.07)
    val texts = new Array[String](docs)
    val near = Vector.newBuilder[(Long, Long)]
    var i = 0
    while (i < docs) {
      val kind = if (i < 20) 99 else r.nextInt(100)
      if (kind < 3) { // exact copies of an earlier document
        val src = r.nextInt(i)
        val copies = math.min(r.between(1, 3), docs - i)
        (0 until copies).foreach(c => texts(i + c) = texts(src))
        i += copies
      } else if (kind < 6) { // near copy: 1–3 word substitutions
        val src = r.nextInt(i)
        val toks = texts(src).split(" ")
        (0 until r.between(1, 3)).foreach { _ =>
          toks(r.nextInt(toks.length)) = vocab(zipf.draw(r))
        }
        texts(i) = toks.mkString(" ")
        near += ((src.toLong, i.toLong))
        i += 1
      } else {
        val len = r.between(40, 160)
        texts(i) = Array.fill(len)(vocab(zipf.draw(r))).mkString(" ")
        i += 1
      }
    }
    Corpus(texts, vocab, near.result())
  }

  def writeCorpus(p: Path, c: Corpus): Long =
    writeLines(p, c.texts.indices.iterator.map(i => s"$i,${c.texts(i)}").to(Iterable),
      "doc_id,text")

  /** SHA-256 over the given files' bytes, in order: the run records it so
    * that two runs can show they read the same inputs. */
  def contentHash(files: Seq[Path]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 16)
    files.foreach { f =>
      val in = Files.newInputStream(f)
      try {
        var n = in.read(buf)
        while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    md.digest().map(b => f"$b%02x").mkString.take(16)
  }
}
