package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** Gap-free, order-preserving global row numbers starting at an offset — the
  * engine's one custom physical primitive (SURVEY.md §1.4/§4.3), replacing
  * the reference's streaming counter injection (aircan/dependencies/cloud/
  * storage.py:119-125,172-175,196-203,76-88) seeded by `MAX(_id)+1`
  * (warehouse.py:13-31).
  *
  * Why not built-ins:
  *   - `monotonically_increasing_id()` is NOT gap-free (partition id in the
  *     high bits),
  *   - `row_number().over(Window.orderBy(...))` collapses to ONE partition —
  *     a non-starter at 100 TB.
  *
  * Strategy (no shuffle, no global sort — the shape of Spark's own
  * `ZippedWithIndexRDD`):
  *   pass 1: count the rows of every partition but the last, in ONE job
  *     over a column-pruned projection of the input (the scan reads no
  *     columns). An input that plans to a single partition runs no job:
  *     its ids are `start + monotonically_increasing_id()`.
  *   pass 2: exclusive prefix-sum of the counts → per-partition offset,
  *     applied via a broadcast-small literal map (partitions counted empty
  *     are left out) + `monotonically_increasing_id()` delta within the
  *     partition, in whole-stage codegen.
  *
  * Ordering contract: row numbers follow Spark's partition order, which is
  * file/offset order for a file scan. For multi-file inputs needing strict
  * global file order, sort by `input_file_name()` upstream first. The input
  * plan must be deterministic between the two passes (file scans are; plans
  * containing wide shuffles under AQE may not be — cache such inputs first,
  * or pass `cache = true`).
  */
object RowNumbers {

  private val PidCol = "__graft_pid"
  private val MonoCol = "__graft_mono"

  /** Add `colName` as the FIRST column: consecutive longs
    * start, start+1, ... in partition order. */
  def withRowNumbers(
      df: DataFrame,
      colName: String = "_id",
      start: Long = 1L,
      cache: Boolean = false
  ): DataFrame = {
    val work = if (cache) df.cache() else df

    // Pass 1: row counts of partitions 0 .. n-2 (the last one's count only
    // moves ids past the end). `select()` prunes every column, so the scan
    // reads none — what a `count(1)` aggregate reads, without its shuffle.
    val qe = work.select().queryExecution
    val counts = SQLExecution.withNewExecutionId(qe, Some("row numbers")) {
      val rows = qe.toRdd
      val counted = 0 until (rows.getNumPartitions - 1)
      if (counted.isEmpty) Array.empty[Long]
      else rows.sparkContext.runJob(rows, countRows _, counted)
    }

    // Offset of each partition's first row, minus the partition's first
    // monotonically_increasing_id (documented as the partition id in the
    // upper 31 bits, the in-partition index in the lower 33): id = mono +
    // adjust(pid).
    val offsets = partitionOffsets(counts, start)
    val adjust: Map[Int, Long] = offsets.indices
      .filter(pid => pid == counts.length || counts(pid) > 0)
      .map(pid => pid -> (offsets(pid) - (pid.toLong << 33)))
      .toMap

    work
      .withColumn(PidCol, spark_partition_id())
      .withColumn(MonoCol, monotonically_increasing_id())
      .withColumn(colName, element_at(typedLit(adjust), col(PidCol)) + col(MonoCol))
      .select(col(colName) +: df.columns.toIndexedSeq.map(col): _*)
  }

  private def countRows(rows: Iterator[_]): Long = {
    var n = 0L
    while (rows.hasNext) { rows.next(); n += 1 }
    n
  }

  /** The first row number of each partition, numbering from `start` in
    * partition order: the exclusive prefix sum of the partitions' row
    * counts, plus one entry past the last counted partition. [[Validate]]
    * numbers its error rows with it, so both number a file's rows alike. */
  private[ops] def partitionOffsets(counts: Array[Long], start: Long): Array[Long] =
    counts.scanLeft(start)(_ + _)

  /** Row numbers in a caller-defined total order (used when strict order
    * matters across splittable multi-file reads): range-partitioned sort then
    * gap-free numbering — still no single-partition window.
    *
    * The sorted frame is CACHED before numbering: a range sort's partition
    * boundaries come from a sample whose seed varies per action (RDD id),
    * so the two numbering passes over an un-materialized sort can see
    * DIFFERENT partitionings — silently corrupting ids. Materializing the
    * sort freezes one partitioning for both passes. (At very large scale
    * the cache spills to disk — MEMORY_AND_DISK — which is still cheaper
    * than a wrong answer; a checkpoint to scratch storage is the
    * cluster-grade equivalent.) */
  def withRowNumbersOrdered(
      df: DataFrame,
      orderBy: Seq[Column],
      colName: String = "_id",
      start: Long = 1L
  ): DataFrame =
    withRowNumbers(df.sort(orderBy: _*), colName, start, cache = true)
}
