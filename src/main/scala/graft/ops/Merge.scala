package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** MERGE upsert — the reference's crown-jewel operator (J1), re-expressed as
  * Spark joins + projections with identical semantics to the BigQuery MERGE
  * generated in aircan/dependencies/cloud/warehouse.py:200-297:
  *
  *   - stage is deduplicated on the unique keys first (A2, warehouse.py:262-270
  *     `ANY_VALUE … GROUP BY keys`; we pick deterministically by lowest
  *     `dedupOrderCol` instead of an arbitrary row),
  *   - `WHEN MATCHED AND (any update column IS DISTINCT FROM) THEN UPDATE SET`
  *     — null-safe change detection (F3, warehouse.py:237-245), preserved
  *     columns (the `_id` row number) keep the TARGET value
  *     (warehouse.py:226-236), `_updated_at` set only on actually-changed rows,
  *   - `WHEN NOT MATCHED THEN INSERT` all stage columns + `_updated_at`
  *     (fresh `_id`s come from the stage's own offset numbering),
  *   - target rows with no stage match pass through unchanged.
  *
  * Scale strategy: the incremental batch (stage) is usually tiny next to a
  * 100 TB target. A full-outer join forces a sort-merge shuffle of the WHOLE
  * target, so when the stage is broadcastable we instead compute
  * `matched ∪ target-anti ∪ inserts` with the stage broadcast — zero shuffle
  * of the target. That shape reads the stage three times, so the deduped
  * stage is materialized ONCE ([[Lineage.cut]]) and the three branches read
  * the cut; [[mergeInto]] releases it after the write. For large stages a
  * single full-outer join (one shuffle per side) wins. `MergeStrategy.Auto`
  * picks by Catalyst's size estimate against the session's
  * `autoBroadcastJoinThreshold`.
  */
object Merge {

  sealed trait MergeStrategy
  object MergeStrategy {
    case object Auto extends MergeStrategy
    case object BroadcastStage extends MergeStrategy
    case object FullOuter extends MergeStrategy
  }

  final case class MergeSpec(
      uniqueKeys: Seq[String],
      preserveColumns: Seq[String] = Seq("_id"),
      updatedAtColumn: Option[String] = Some("_updated_at"),
      dedupOrderCol: Option[String] = Some("_id"),
      strategy: MergeStrategy = MergeStrategy.Auto
  )

  /** Deterministic stage dedup (A2): one row per key combination, the one
    * with the lowest `orderCol` (falls back to a content hash when absent).
    * Uses `min_by` — a partially-aggregating codegen'd aggregate, so the
    * map-side combine shrinks the shuffle (unlike a row_number window). */
  def dedupStage(stage: DataFrame, keys: Seq[String], orderCol: Option[String]): DataFrame = {
    val nonKeys = stage.columns.filterNot(keys.contains)
    if (nonKeys.isEmpty) stage.dropDuplicates(keys)
    else {
      val ord: Column = orderCol.filter(stage.columns.contains) match {
        case Some(c) => col(c)
        case None    => xxhash64(stage.columns.map(col).toIndexedSeq: _*)
      }
      stage
        .groupBy(keys.map(col): _*)
        .agg(min_by(struct(nonKeys.map(col).toIndexedSeq: _*), ord).as("__s"))
        .select(keys.map(col) ++ nonKeys.map(c => col(s"__s.$c").as(c)): _*)
        // restore original column order
        .select(stage.columns.map(col).toIndexedSeq: _*)
    }
  }

  /** The merged table as a frame. On the broadcast path it reads a
    * materialized stage whose blocks stay until the frame is garbage
    * collected; a caller that writes the result should use [[mergeInto]],
    * which releases them as soon as the write returns. */
  def merge(
      target: DataFrame,
      stage: DataFrame,
      jobTimestamp: Timestamp,
      spec: MergeSpec
  ): DataFrame = plan(target, stage, jobTimestamp, spec)._1

  /** [[merge]] handed to `write` (the table commit); the stage the
    * broadcast path materialized is released once `write` returns. */
  def mergeInto[A](
      target: DataFrame,
      stage: DataFrame,
      jobTimestamp: Timestamp,
      spec: MergeSpec
  )(write: DataFrame => A): A = {
    val (merged, cutStage) = plan(target, stage, jobTimestamp, spec)
    try write(merged) finally cutStage.foreach(Lineage.release)
  }

  /** Upsert `stage` into store table `table`, the one path batch
    * ([[graft.pipeline.Pipeline]]) and stream
    * ([[graft.streaming.StreamingIngest.ingestAvailableNow]]) share. An
    * absent target is first cloned from the stage's schema
    * (warehouse.py:138-151), so even the first load dedups its keys. */
  def upsertInto(
      store: graft.table.TableStore,
      table: String,
      stage: DataFrame,
      jobTimestamp: Timestamp,
      spec: MergeSpec
  ): Unit = {
    store.createLike(table, spec.updatedAtColumn.fold(stage)(
      UpdatedAt.stamp(stage, jobTimestamp, _)))
    mergeInto(store.scan(table), stage, jobTimestamp, spec)(
      store.overwrite(table, _))
  }

  /** The merged frame plus the materialized stage it reads, if any. */
  private def plan(
      target: DataFrame,
      stage: DataFrame,
      jobTimestamp: Timestamp,
      spec: MergeSpec
  ): (DataFrame, Option[DataFrame]) = {
    val keys = spec.uniqueKeys
    require(keys.nonEmpty, "Upsert requires at least one unique key column.")
    val missing = keys.filterNot(stage.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Unique key column(s) not found in stage schema: ${missing.mkString(", ")}")

    val preserve = spec.preserveColumns.toSet ++ spec.updatedAtColumn
    val stageDataCols = stage.columns.toIndexedSeq.filterNot(keys.contains)
    // columns written by UPDATE and checked for change (warehouse.py:228-236)
    val updateCols = stageDataCols
      .filterNot(preserve.contains)
      .filter(target.columns.contains)
    if (stageDataCols.isEmpty)
      throw new IllegalArgumentException("No non-key columns found to update/insert.")
    if (updateCols.isEmpty)
      throw new IllegalArgumentException(
        "No columns left to update after excluding preserved columns.")

    val deduped = dedupStage(stage, keys, spec.dedupOrderCol)

    val useBroadcast = spec.strategy match {
      case MergeStrategy.BroadcastStage => true
      case MergeStrategy.FullOuter      => false
      case MergeStrategy.Auto =>
        val t = target.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
        t > 0 && deduped.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(t)
    }

    if (useBroadcast) {
      val cut = Lineage.cut(deduped)
      (mergeBroadcast(target, cut, keys, updateCols, jobTimestamp, spec), Some(cut))
    } else (mergeFullOuter(target, deduped, keys, updateCols, jobTimestamp, spec), None)
  }

  /** Project a stage row into the target schema for INSERT: stage columns
    * pass through, `_updated_at` = job ts, target-only columns null. */
  private def insertProjection(
      targetSchema: org.apache.spark.sql.types.StructType,
      stageCols: Set[String],
      ts: Timestamp,
      spec: MergeSpec
  ): Seq[Column] =
    targetSchema.fields.toIndexedSeq.map { f =>
      if (spec.updatedAtColumn.contains(f.name)) lit(ts).cast(f.dataType).as(f.name)
      else if (stageCols.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }

  /** (matched ∪ unchanged ∪ target-only in ONE pass) ∪ inserts, stage
    * broadcast — no target shuffle, and exactly one full-width target scan.
    *
    * A broadcast left_outer join classifies every target row in a single
    * pass: matched-and-changed (take stage values + job ts), matched-but-
    * unchanged, and target-only (keep target values). The previous shape —
    * separate inner + left_anti jobs — scanned the 100 TB side twice. */
  private def mergeBroadcast(
      target: DataFrame,
      deduped: DataFrame,
      keys: Seq[String],
      updateCols: Seq[String],
      ts: Timestamp,
      spec: MergeSpec
  ): DataFrame = {
    val s0 = deduped.columns.foldLeft(deduped)((d, c) => d.withColumnRenamed(c, s"__s_$c"))
    val s = s0.withColumn("__s_present", lit(true))
    val joinCond = keys.map(k => col(k) === col(s"__s_$k")).reduce(_ && _)

    val joined = target.join(broadcast(s), joinCond, "left_outer")
    val inS = col("__s_present") <=> lit(true)
    val changed = inS && updateCols.map(c => !(col(c) <=> col(s"__s_$c"))).reduce(_ || _)
    val targetOut = joined.select(target.schema.fields.toIndexedSeq.map { f =>
      if (updateCols.contains(f.name))
        when(changed, col(s"__s_${f.name}").cast(f.dataType)).otherwise(col(f.name)).as(f.name)
      else if (spec.updatedAtColumn.contains(f.name))
        when(changed, lit(ts).cast(f.dataType)).otherwise(col(f.name)).as(f.name)
      else col(f.name) // keys + preserved columns keep target values
    }: _*)

    // Insert rows = stage keys with no target match. NEVER anti-join against
    // a broadcast of the TARGET's full key set (that broadcasts the 100 TB
    // side); the matched-key set is bounded by the stage size, so derive it
    // with a key-pruned broadcast semi join — parquet column pruning means
    // this second pass reads ONLY the key columns — and anti-join the stage
    // against THAT (a stage-bounded broadcast).
    val matchedKeys = target.select(keys.map(col): _*)
      .join(broadcast(deduped.select(keys.map(col): _*)), keys.toSeq, "left_semi")
    val inserts = deduped
      .join(broadcast(matchedKeys), keys.toSeq, "left_anti")
      .select(insertProjection(target.schema, deduped.columns.toSet, ts, spec): _*)

    targetOut.unionByName(inserts)
  }

  /** Single full-outer join — one shuffle per side; for large stages. */
  private def mergeFullOuter(
      target: DataFrame,
      deduped: DataFrame,
      keys: Seq[String],
      updateCols: Seq[String],
      ts: Timestamp,
      spec: MergeSpec
  ): DataFrame = {
    val t = target.withColumn("__t_present", lit(true))
    val s0 = deduped.withColumn("__s_present", lit(true))
    val s = s0.columns.foldLeft(s0)((d, c) => d.withColumnRenamed(c, s"__s_$c"))
    val joinCond = keys.map(k => t(k) === s(s"__s_$k")).reduce(_ && _)
    val joined = t.join(s, joinCond, "full_outer")

    val inT = col("__t_present") <=> lit(true)
    val inS = col("__s___s_present") <=> lit(true)
    val changed = updateCols.map(c => !(col(c) <=> col(s"__s_$c"))).reduce(_ || _)
    val stageCols = deduped.columns.toSet

    joined.select(target.schema.fields.toIndexedSeq.map { f =>
      val n = f.name
      val sCol = if (stageCols.contains(n)) col(s"__s_$n").cast(f.dataType) else lit(null).cast(f.dataType)
      val out =
        if (updateCols.contains(n))
          when(inT && inS && changed, sCol)
            .when(inT, col(n))
            .otherwise(sCol) // insert
        else if (spec.updatedAtColumn.contains(n))
          when(inT && inS && changed, lit(ts).cast(f.dataType))
            .when(inT, col(n))
            .otherwise(lit(ts).cast(f.dataType)) // insert
        else if (keys.contains(n))
          when(inT, col(n)).otherwise(col(s"__s_$n").cast(f.dataType))
        else // preserved (e.g. _id): target value on match, stage value on insert
          when(inT, col(n)).otherwise(sCol)
      out.as(n)
    }: _*)
  }
}
