package perfbench

import graft.ingest.SourceFormat
import graft.pipeline.{IngestionMethod, PipelineConfig, PipelineException}
import graft.schema.{FieldConstraints, FrictionlessField, FrictionlessSchema, TypeMapping}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The lineitem resource as a user declares it, and the reference state
  * the benchmark expects a row-numbered table to reach. */
object Lineitem {
  val Key = Seq("l_orderkey", "l_linenumber")

  def schema(withKey: Boolean): FrictionlessSchema = {
    def f(n: String, t: String, key: Boolean = false) =
      FrictionlessField(n, t, constraints = FieldConstraints(unique = key && withKey))
    FrictionlessSchema(List(
      f("l_orderkey", "integer", key = true), f("l_linenumber", "integer", key = true),
      f("l_partkey", "integer"), f("l_suppkey", "integer"), f("l_quantity", "integer"),
      f("l_extendedprice", "number"), f("l_discount", "number"), f("l_tax", "number"),
      f("l_returnflag", "string"), f("l_linestatus", "string"), f("l_shipdate", "date"),
      f("l_commitdate", "date"), f("l_receiptdate", "date"), f("l_shipinstruct", "string"),
      f("l_shipmode", "string"), f("l_comment", "string")))
  }

  def write(p: Path, lines: Iterable[Line]): Long =
    Gen.writeLines(p, lines.view.map(_.csv), Gen.LineHeader)

  /** Reference for `_id` and `_updated_at`: overwrite numbers 1..n in file
    * order; append continues at MAX(_id)+1; upsert numbers the stage from
    * MAX(_id)+1, keeps each key's first stage row, leaves a matched row's
    * `_id` alone and stamps it only if a value changed, and inserts new
    * keys under their stage number. A stamp is a window [lo, hi] in epoch
    * milliseconds: exact for pipeline loads, the trigger's span for a
    * streaming merge. */
  final class Model {
    final case class State(id: Long, lo: Long, hi: Long, line: Line)
    val rows = mutable.HashMap[(Long, Int), State]()
    var maxId = 0L

    def overwrite(lines: Seq[Line], ts: Long): Unit = {
      rows.clear()
      lines.iterator.zipWithIndex.foreach { case (l, i) => rows(l.key) = State(i + 1L, ts, ts, l) }
      maxId = lines.size.toLong
    }

    def append(lines: Seq[Line], ts: Long): Unit = {
      lines.iterator.zipWithIndex.foreach { case (l, i) =>
        rows(l.key) = State(maxId + 1 + i, ts, ts, l)
      }
      maxId += lines.size
    }

    /** Returns the keys whose stamp must move: changed and inserted. */
    def upsert(stage: Seq[Line], lo: Long, hi: Long): Set[(Long, Int)] = {
      val start = maxId + 1
      val first = mutable.LinkedHashMap[(Long, Int), (Long, Line)]()
      stage.iterator.zipWithIndex.foreach { case (l, i) =>
        if (!first.contains(l.key)) first(l.key) = (start + i, l)
      }
      val moved = Set.newBuilder[(Long, Int)]
      first.foreach { case (k, (sid, l)) =>
        rows.get(k) match {
          case Some(s) => if (s.line != l) { rows(k) = State(s.id, lo, hi, l); moved += k }
          case None =>
            rows(k) = State(sid, lo, hi, l); maxId = math.max(maxId, sid); moved += k
        }
      }
      moved.result()
    }

    /** Compares a collected table (key, `_id`, `_updated_at`, quantity,
      * comment) with the reference, row by row. */
    def verify(table: Array[Row]): Unit = {
      Check.equal("row count", table.length, rows.size)
      val ids = new java.util.HashSet[Long]()
      table.foreach { r =>
        val k = (r.getLong(0), r.getLong(1).toInt)
        val want = rows.getOrElse(k, throw new CheckFailed(s"unexpected key $k"))
        val id = r.getLong(2)
        Check(ids.add(id), s"_id $id is not unique")
        Check.equal(s"_id of $k", id, want.id)
        val ts = r.getTimestamp(3).getTime
        Check(ts >= want.lo && ts <= want.hi,
          s"_updated_at of $k is $ts, want within [${want.lo}, ${want.hi}]")
        Check.equal(s"l_quantity of $k", r.getLong(4).toInt, want.line.quantity)
        Check.equal(s"l_comment of $k", r.getString(5), want.line.comment)
      }
    }
  }

  def collectState(df: org.apache.spark.sql.DataFrame): Array[Row] =
    df.select(col("l_orderkey"), col("l_linenumber"), col("_id"), col("_updated_at"),
      col("l_quantity"), col("l_comment")).collect()

  /** Point read of one order through the store's pruned scan. */
  def pointRead(env: Env, table: String, order: Long): Array[Row] =
    env.spans.span("table.read") {
      env.store.scanPruned(table, "l_orderkey", order, order)
        .select("l_linenumber", "l_quantity", "l_comment").collect()
    }

  def seesLine(rows: Array[Row], l: Line): Boolean =
    rows.exists(r => r.getLong(0) == l.linenumber && r.getLong(1) == l.quantity &&
      r.getString(2) == l.comment)

  /** A stage for upsert or streaming merge: changed, unchanged and new
    * lines, with a few keys given twice (the second copy must lose). */
  def mergeStage(r: Rng, existing: mutable.ArrayBuffer[Line], nextOrder: Long,
      size: Int): (Vector[Line], Vector[Line]) = {
    val nChanged = size / 2; val nSame = size / 10
    val picked = mutable.LinkedHashSet[Int]()
    while (picked.size < nChanged + nSame) picked += r.nextInt(existing.size)
    val idx = picked.toVector
    val changed = idx.take(nChanged).map(i => Gen.changed(r, existing(i)))
    val same = idx.drop(nChanged).map(existing(_))
    val fresh = Gen.lines(r, nextOrder, size - nChanged - nSame)
    val firsts = changed ++ same ++ fresh
    val dups = (0 until math.max(1, size / 50)).map(_ => Gen.changed(r, firsts(r.nextInt(firsts.size))))
    val stage = shuffle(r, firsts) ++ dups
    (stage, fresh)
  }

  def shuffle[A](r: Rng, xs: Vector[A]): Vector[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toVector.asInstanceOf[Vector[A]]
  }

  /** Copies `file` into a fresh directory for a streaming source. */
  def stage(file: Path, dir: Path): Unit = {
    Files.createDirectories(dir)
    val tmp = dir.resolve("." + file.getFileName)
    Files.copy(file, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, dir.resolve(file.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** The export must hold every row once, in `_id` order. */
  def checkExport(dir: Path, n: Int): Unit = {
    val parts = Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".csv")).toSeq
    Check.equal("export files", parts.size, 1)
    val in = Files.newBufferedReader(parts.head)
    try {
      val header = in.readLine().split(",", -1)
      val idCol = header.indexOf("_id")
      Check(idCol >= 0, "export header has no _id")
      var line = in.readLine(); var expect = 1L
      while (line != null) {
        val id = line.split(",", -1)(idCol).toLong
        if (id != expect) throw new CheckFailed(s"export row ${expect}: _id $id")
        expect += 1; line = in.readLine()
      }
      Check.equal("exported rows", expect - 1, n.toLong)
    } finally in.close()
  }

  /** Inputs of the warm-up: a resource and a merge stage for it, big
    * enough that the hot loops are compiled before the timed region. */
  def warmInputs(r: Rng, dir: Path): (Path, Path) = {
    val lines = Gen.lines(r, 1L, 4000)
    val base = dir.resolve("warm.csv"); write(base, lines)
    val stage = dir.resolve("warm-upsert.csv")
    write(stage, mergeStage(r, mutable.ArrayBuffer.from(lines), lines.last.orderkey + 1, 600)._1)
    (base, stage)
  }

  /** The untimed warm-up: a few small loads on a table of its own, one
    * per path the workload's timed operations take. */
  def warmUp(env: Env, dir: Path, base: Path, stage: Path, incremental: Boolean): Unit = {
    val p = env.pipeline
    if (incremental) {
      p.run(PipelineConfig(base.toString, "warm", IngestionMethod.Append,
        format = Some(SourceFormat.Csv), schema = Some(schema(withKey = false)), validate = true))
      env.store.scanPruned("warm", "l_orderkey", 1L, 1L).collect()
      Lineitem.stage(stage, dir.resolve("stream"))
      graft.streaming.StreamingIngest.ingestAvailableNow(env.spark,
        dir.resolve("stream").toString, TypeMapping.toStructType(schema(withKey = true)),
        "csv", env.store, "warm", dir.resolve("ckpt").toString, uniqueKeys = Key)
    } else {
      p.run(PipelineConfig(base.toString, "warm", IngestionMethod.Overwrite,
        format = Some(SourceFormat.Csv), validate = true,
        exportPath = Some(dir.resolve("export").toString), exportSingleFile = true))
    }
    p.run(PipelineConfig(stage.toString, "warm", IngestionMethod.Upsert,
      format = Some(SourceFormat.Csv), schema = Some(schema(withKey = true))))
  }
}

/** `load_bulk`: one large resource through overwrite with inference,
  * validation and an ordered single-file export, then an upsert of about a
  * tenth of its keys. Spark execution dominates. */
final class LoadBulk(seed: Long, seconds: Int) extends Workload {
  import Lineitem._
  private val rows = 12000 * seconds
  private var base: Vector[Line] = _
  private var stageLines: Vector[Line] = _
  private var basePath, stagePath, warmBase, warmStage: Path = _
  private var exportDir: Path = _
  private var loadSeconds = 0.0
  private var committed = 0L
  val tables = Seq("bulk")
  def sourceBytes: Long = Files.size(basePath) + Files.size(stagePath)
  def throughput: (Long, Double) = (committed, loadSeconds)

  def generate(dir: Path): Seq[Path] = {
    val r = new Rng(seed).fork("load_bulk")
    base = Gen.lines(r.fork("base"), 1L, rows)
    stageLines = mergeStage(r.fork("stage"), mutable.ArrayBuffer.from(base),
      base.last.orderkey + 1, rows / 10)._1
    basePath = dir.resolve("bulk.csv"); write(basePath, base)
    stagePath = dir.resolve("bulk-upsert.csv"); write(stagePath, stageLines)
    val (wb, ws) = warmInputs(r.fork("warm"), dir)
    warmBase = wb; warmStage = ws
    Seq(basePath, stagePath, warmBase, warmStage)
  }

  def warmUp(env: Env, dir: Path): Unit =
    Lineitem.warmUp(env, dir, warmBase, warmStage, incremental = false)

  def run(env: Env): Unit = {
    val model = new Model
    val t0 = 1700000000000L
    exportDir = env.root.resolve("export")
    env.op("load.overwrite") {
      env.pipeline.run(PipelineConfig(basePath.toString, "bulk", IngestionMethod.Overwrite,
        format = Some(SourceFormat.Csv), validate = true,
        exportPath = Some(exportDir.toString), exportSingleFile = true), new Timestamp(t0))
    } { df =>
      model.overwrite(base, t0)
      val a = df.agg(count(lit(1)), min("_id"), max("_id"), countDistinct("_id"),
        sum("l_quantity")).head()
      Check.equal("rows after overwrite", a.getLong(0), rows.toLong)
      Check.equal("_id range after overwrite", (a.getLong(1), a.getLong(2)), (1L, rows.toLong))
      Check.equal("distinct _id after overwrite", a.getLong(3), rows.toLong)
      Check.equal("sum(l_quantity) after overwrite", a.getLong(4), base.map(_.quantity.toLong).sum)
      checkExport(exportDir, rows)
    }.foreach(_ => committed += rows)
    val t1 = t0 + 3600000L
    env.op("load.upsert") {
      env.pipeline.run(PipelineConfig(stagePath.toString, "bulk", IngestionMethod.Upsert,
        format = Some(SourceFormat.Csv), schema = Some(schema(withKey = true))), new Timestamp(t1))
    } { df =>
      val moved = model.upsert(stageLines, t1, t1)
      val code = col("l_orderkey") * 8 + col("l_linenumber")
      val isMoved = col("_updated_at") === lit(new Timestamp(t1))
      val a = df.agg(count(lit(1)), max("_id"), countDistinct("_id"), sum("l_quantity"),
        sum(when(isMoved, 1L).otherwise(0L)), sum(when(isMoved, code).otherwise(0L)),
        sum(when(isMoved, code * code).otherwise(0L)),
        sum(when(col("_id") > rows, col("_id")).otherwise(0L))).head()
      def c(k: (Long, Int)) = k._1 * 8 + k._2
      Check.equal("rows after upsert", a.getLong(0), model.rows.size.toLong)
      Check.equal("max(_id) after upsert", a.getLong(1), model.maxId)
      Check.equal("distinct _id after upsert", a.getLong(2), model.rows.size.toLong)
      Check.equal("sum(l_quantity) after upsert", a.getLong(3),
        model.rows.valuesIterator.map(_.line.quantity.toLong).sum)
      Check.equal("rows stamped by upsert", a.getLong(4), moved.size.toLong)
      Check.equal("keys stamped by upsert", (a.getLong(5), a.getLong(6)),
        (moved.iterator.map(c).sum, moved.iterator.map(k => c(k) * c(k)).sum))
      Check.equal("sum of inserted _id", a.getLong(7),
        model.rows.valuesIterator.filter(_.id > rows).map(_.id).sum)
    }.foreach(_ => committed += stageLines.size)
    loadSeconds = env.ledger.kinds.filter(_._1.startsWith("load.")).flatMap(_._2).sum
  }

  override def layerMetrics(env: Env, trace: Trace): Map[String, Double] =
    Map("export.mb" -> dirBytes(exportDir) / 1e6)
}

/** `load_incremental`: a trickle of arrivals of a few thousand rows into
  * one growing table — appends, upserts, streaming merges and one resource
  * with invalid rows that validation must refuse. After every arrival a
  * point read must see it. Per-operation fixed cost dominates. */
final class LoadIncremental(seed: Long, seconds: Int) extends Workload {
  import Lineitem._
  sealed trait Kind
  case object Append extends Kind
  case object Upsert extends Kind
  case object Stream extends Kind
  case object Invalid extends Kind
  /** One arrival: its kind, file, the rows a load reads, the line the
    * point read must find (or, when refused, must not find) and the
    * number of invalid cells planted. */
  final case class Arrival(i: Int, kind: Kind, file: Path, lines: Vector[Line], probe: Line,
      planted: Int)

  private val arrivals = math.max(9, (seconds * 1.25).round.toInt)
  private val baseRows = 5000
  /** Low enough that a round of appends crosses it every time. */
  private val compactAfter = 2
  private var base: Vector[Line] = _
  private var basePath, warmBase, warmStage: Path = _
  private var plan: Vector[Arrival] = _
  private val model = new Model
  private var loadSeconds = 0.0
  private var committed = 0L
  val tables = Seq("inc")
  def sourceBytes: Long = Files.size(basePath) + plan.map(a => Files.size(a.file)).sum
  def throughput: (Long, Double) = (committed, loadSeconds)

  def generate(dir: Path): Seq[Path] = {
    val r = new Rng(seed).fork("load_incremental")
    base = Gen.lines(r.fork("base"), 1L, baseRows)
    basePath = dir.resolve("base.csv"); write(basePath, base)
    val live = mutable.ArrayBuffer.from(base)
    var nextOrder = base.last.orderkey + 1
    // rounds of two appends, each closed by an upsert, a streaming merge or
    // a refused resource, in that order and then upserts and merges in turn.
    // A merge rewrites the table, so its cost grows with the table: a fixed
    // order gives every seed the same mix at the same sizes, and the seed
    // fixes the rows, the keys changed and the cells planted.
    val closers = Vector[Kind](Upsert, Stream, Invalid) ++
      Iterator.continually(Vector[Kind](Upsert, Stream)).flatten.take(arrivals)
    val kinds = closers.flatMap(c => Vector(Append, Append, c)).take(arrivals)
    plan = kinds.zipWithIndex.map { case (kind, i) =>
      val ar = r.fork(s"arrival-$i")
      val file = dir.resolve(f"arrivals/arrival-$i%03d.csv")
      kind match {
        case Append =>
          val ls = Gen.lines(ar, nextOrder, ar.between(2500, 3500))
          nextOrder = ls.last.orderkey + 1; live ++= ls
          write(file, ls); Arrival(i, kind, file, ls, ls(ar.nextInt(ls.size)), 0)
        case Upsert | Stream =>
          val (stage, fresh) = mergeStage(ar, live, nextOrder, ar.between(2500, 3500))
          nextOrder = fresh.last.orderkey + 1
          val firsts = mutable.LinkedHashMap[(Long, Int), Line]()
          stage.foreach(l => if (!firsts.contains(l.key)) firsts(l.key) = l)
          val byKey = live.iterator.zipWithIndex.map { case (l, j) => l.key -> j }.toMap
          firsts.valuesIterator.foreach { l =>
            byKey.get(l.key) match { case Some(j) => live(j) = l; case None => live += l }
          }
          write(file, stage)
          Arrival(i, kind, file, stage, firsts(stage.head.key), 0)
        case Invalid =>
          val ls = Gen.lines(ar, nextOrder, ar.between(2500, 3500))
          val planted = ar.between(1, 5)
          val bad = mutable.Set[Int]()
          while (bad.size < planted) bad += 1 + ar.nextInt(ls.size - 1)
          val text = ls.zipWithIndex.map { case (l, j) =>
            if (bad(j)) l.csv.replaceFirst(s"^(([^,]*,){4})[^,]*", "$1many") else l.csv
          }
          Gen.writeLines(file, text, Gen.LineHeader)
          Arrival(i, kind, file, ls, ls.head, planted)
      }
    }
    val (wb, ws) = warmInputs(r.fork("warm"), dir)
    warmBase = wb; warmStage = ws
    Seq(basePath) ++ plan.map(_.file) ++ Seq(warmBase, warmStage)
  }

  def warmUp(env: Env, dir: Path): Unit =
    Lineitem.warmUp(env, dir, warmBase, warmStage, incremental = true)

  private def streamDir(env: Env) = env.root.resolve("stream-in")

  override def prepare(env: Env): Unit = {
    val t = System.currentTimeMillis()
    env.op("load.base", timed = false) {
      env.pipeline.run(PipelineConfig(basePath.toString, "inc", IngestionMethod.Overwrite,
        format = Some(SourceFormat.Csv), schema = Some(schema(withKey = false)),
        compactAfterSnapshots = compactAfter), new Timestamp(t))
    } { _ => model.overwrite(base, t) }
  }

  def run(env: Env): Unit = {
    val structType = TypeMapping.toStructType(schema(withKey = true))
    plan.foreach { a =>
      if (a.kind == Stream) Lineitem.stage(a.file, streamDir(env))
      val ts = System.currentTimeMillis()
      def load(method: IngestionMethod, withKey: Boolean, validate: Boolean) =
        env.pipeline.run(PipelineConfig(a.file.toString, "inc", method,
          format = Some(SourceFormat.Csv), schema = Some(schema(withKey)), validate = validate,
          compactAfterSnapshots = compactAfter), new Timestamp(ts))
      a.kind match {
        case Append =>
          env.op("arrival.append") {
            load(IngestionMethod.Append, withKey = false, validate = false)
            pointRead(env, "inc", a.probe.orderkey)
          } { seen =>
            model.append(a.lines, ts)
            Check(seesLine(seen, a.probe), s"arrival ${a.i}: point read misses ${a.probe.key}")
          }.foreach(_ => committed += a.lines.size)
        case Upsert =>
          env.op("arrival.upsert") {
            load(IngestionMethod.Upsert, withKey = true, validate = false)
            pointRead(env, "inc", a.probe.orderkey)
          } { seen =>
            model.upsert(a.lines, ts, ts)
            Check(seesLine(seen, a.probe), s"arrival ${a.i}: point read misses ${a.probe.key}")
          }.foreach(_ => committed += a.lines.size)
        case Stream =>
          var lo, hi = 0L
          env.op("arrival.stream") {
            lo = System.currentTimeMillis()
            env.spans.span("streaming.trigger") {
              graft.streaming.StreamingIngest.ingestAvailableNow(env.spark,
                streamDir(env).toString, structType, "csv", env.store, "inc",
                env.root.resolve("stream-ckpt").toString, uniqueKeys = Key)
            }
            hi = System.currentTimeMillis()
            pointRead(env, "inc", a.probe.orderkey)
          } { seen =>
            model.upsert(a.lines, lo, hi)
            Check(seesLine(seen, a.probe), s"arrival ${a.i}: point read misses ${a.probe.key}")
          }.foreach(_ => committed += a.lines.size)
        case Invalid =>
          env.op("arrival.rejected") {
            val refusal =
              try { load(IngestionMethod.Append, withKey = false, validate = true); None }
              catch { case e: PipelineException => Some(e.payload) }
            (refusal, pointRead(env, "inc", a.probe.orderkey))
          } { case (refusal, seen) =>
            Check(refusal.isDefined, s"arrival ${a.i}: planted-invalid resource was loaded")
            val errs = "\"errors\":(\\d+)".r.findFirstMatchIn(refusal.get).map(_.group(1).toInt)
            Check.equal(s"arrival ${a.i}: validation errors", errs, Some(a.planted))
            Check(seen.isEmpty, s"arrival ${a.i}: refused rows are visible")
          }
      }
    }
    loadSeconds = env.ledger.kinds.filter(_._1.startsWith("arrival.")).flatMap(_._2).sum
  }

  override def verify(env: Env): Unit =
    env.op("verify.table", timed = false)(collectState(env.store.scan("inc")))(model.verify)
}
