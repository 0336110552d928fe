package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k aggregate `graft_topk(score, id, k)` →
  * `array<struct<score double, id bigint>>` ordered (score desc, id asc).
  *
  * The scale story: ranking "top k per query" with a window
  * (`row_number() over (partition by q order by score desc)`) shuffles
  * EVERY scored candidate row to the query's reducer before any get
  * discarded — at 100 TB the shuffle is the whole corpus × queries. This
  * aggregate is partial-aggregation-friendly: each mapper's buffer holds at
  * most k entries per query, so the shuffle carries ≤ mappers × k rows per
  * query and merge is a k-way bounded merge. Same (score desc, id asc)
  * total order as the window formulation — byte-identical results
  * (TopKAggregateSpec, and the similarity gate queries route through it).
  *
  * Contract: rows with a null score or null id are EXCLUDED; NaN scores
  * rank above all doubles and -0.0 == 0.0, matching Spark's sort order.
  */
case class TopKByAggregate(
    score: Expression,
    id: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] {

  override def children: Seq[Expression] = Seq(score, id, kExpr)

  lazy val k: Int = kExpr.eval(null).asInstanceOf[Number].intValue()

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk score must be double, got ${score.dataType.catalogString}")
    else if (id.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk id must be bigint, got ${id.dataType.catalogString}")
    else if (!kExpr.foldable ||
      !Seq(ByteType, ShortType, IntegerType, LongType).contains(kExpr.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk k must be an integral literal, got ${kExpr.dataType.catalogString}")
    else {
      val kv = kExpr.eval(null)
      val kl = if (kv == null) 0L else kv.asInstanceOf[Number].longValue()
      if (kl <= 0L || kl > Int.MaxValue.toLong)
        TypeCheckResult.TypeCheckFailure("graft_topk k must be a positive int literal")
      else TypeCheckResult.TypeCheckSuccess
    }

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  // After binding, score/id are usually direct BoundReferences (the rewrite
  // and the similarity operators always pass plain columns). Reading the
  // primitives through the row accessors skips two boxed `eval` allocations
  // per input row — the interpreted-eval tax is the dominant per-row cost of
  // a TypedImperativeAggregate (no whole-stage codegen path exists for it).
  import org.apache.spark.sql.catalyst.expressions.BoundReference
  private lazy val fastOrdinals: (Int, Int) = (score, id) match {
    case (s: BoundReference, i: BoundReference) => (s.ordinal, i.ordinal)
    case _                                      => (-1, -1)
  }

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    val (so, io) = fastOrdinals
    if (so >= 0) {
      if (!input.isNullAt(so) && !input.isNullAt(io))
        buffer.insert(input.getDouble(so), input.getLong(io))
    } else {
      val s = score.eval(input)
      val i = id.eval(input)
      if (s != null && i != null)
        buffer.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    buffer
  }

  override def merge(buffer: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buffer.mergeFrom(other)
    buffer
  }

  override def eval(buffer: TopKBuffer): Any =
    new GenericArrayData(buffer.rows.map { case (s, i) =>
      new GenericInternalRow(Array[Any](s, i)): Any
    })

  override def serialize(buffer: TopKBuffer): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): TopKBuffer = TopKBuffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByAggregate =
    copy(score = newChildren(0), id = newChildren(1), kExpr = newChildren(2))

  override def prettyName: String = "graft_topk"
}

/** Bounded top-k buffer: at most k (score, id) entries held as a binary
  * min-heap keyed by rank — the ROOT is the worst entry kept, so a full
  * buffer rejects a non-qualifying row with one comparison and accepts a
  * qualifying one in O(log k) (replace root, sift down). Inserts must stay
  * sub-linear in k because callers range from k=10 similarity queries to
  * k=100,000 corpus selection ([[graft.ext.Dsir.resample]]), where the
  * single-reducer merge of mappers×k entries would be O(mappers·k²) with a
  * shift-based sorted buffer. [[rows]] sorts once at eval, O(k log k).
  *
  * The score order is the TOTAL order `java.lang.Double.compare` (NaN ranks
  * greatest, matching Spark's `ORDER BY score DESC` which sorts NaN above
  * all doubles), and -0.0 is normalized to 0.0 on insert (as Spark's
  * NormalizeFloatingNumbers does before sorting) — so the aggregate and the
  * window formulation agree even on NaN / signed-zero scores. */
final class TopKBuffer(val k: Int) {
  private var n = 0
  private val scores = new Array[Double](k)
  private val ids = new Array[Long](k)

  @inline private def ranksBefore(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(s1, s2)
    c > 0 || (c == 0 && i1 < i2)
  }

  // Heap property: a parent never ranks before its children (worst at root).
  @inline private def siftUp(p0: Int): Unit = {
    var p = p0
    while (p > 0 && ranksBefore(scores((p - 1) >> 1), ids((p - 1) >> 1), scores(p), ids(p))) {
      val q = (p - 1) >> 1
      val ts = scores(p); scores(p) = scores(q); scores(q) = ts
      val ti = ids(p); ids(p) = ids(q); ids(q) = ti
      p = q
    }
  }

  @inline private def siftDown(): Unit = {
    var p = 0
    while (true) {
      val l = 2 * p + 1
      val r = l + 1
      var w = p // the worst-ranked of p and its children
      if (l < n && ranksBefore(scores(w), ids(w), scores(l), ids(l))) w = l
      if (r < n && ranksBefore(scores(w), ids(w), scores(r), ids(r))) w = r
      if (w == p) return
      val ts = scores(p); scores(p) = scores(w); scores(w) = ts
      val ti = ids(p); ids(p) = ids(w); ids(w) = ti
      p = w
    }
  }

  def insert(s0: Double, i: Long): Unit = {
    val s = if (s0 == 0.0d) 0.0d else s0 // -0.0 → 0.0, as Spark normalizes
    if (n < k) {
      scores(n) = s; ids(n) = i; n += 1
      siftUp(n - 1)
    } else if (ranksBefore(s, i, scores(0), ids(0))) {
      scores(0) = s; ids(0) = i
      siftDown()
    }
  }

  def mergeFrom(other: TopKBuffer): Unit = {
    var i = 0
    while (i < other.n) { insert(other.scores(i), other.ids(i)); i += 1 }
  }

  /** Entries in (score desc, id asc) order — sorts a copy, called once at
    * eval / in specs, never per-row. */
  def rows: Array[(Double, Long)] = {
    val out = Array.tabulate(n)(i => (scores(i), ids(i)))
    java.util.Arrays.sort(out, new java.util.Comparator[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    })
    out
  }

  def toBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + n * 16)
    bb.putInt(k).putInt(n)
    var i = 0
    while (i < n) { bb.putDouble(scores(i)).putLong(ids(i)); i += 1 }
    bb.array()
  }
}

object TopKBuffer {
  def fromBytes(bytes: Array[Byte]): TopKBuffer = {
    // Bytes come from toBytes of this same class, so the arrays are already
    // a valid heap — copy them straight in, no re-insertion.
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new TopKBuffer(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      buf.scores(i) = bb.getDouble(); buf.ids(i) = bb.getLong()
      i += 1
    }
    buf.n = n
    buf
  }
}
