package graft.streaming

import graft.ext.Retention
import graft.ops.Lineage.CutOps
import graft.ops.Merge
import graft.table.TableStore
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import java.sql.Timestamp

/** Structured Streaming surface (SURVEY §2.9).
  *
  * The reference's append/upsert runs are incremental micro-batches over an
  * external table with `MAX(_id)+1` continuation bookkeeping
  * (warehouse.py:13-31); the Spark-native equivalent is a file-source stream
  * with `Trigger.AvailableNow` + checkpointed offsets, where each micro-batch
  * runs the same append/merge the batch pipeline uses (`foreachBatch`).
  * Every `*IngestAvailableNow` gate drains through the one private `drain`
  * helper and keeps only its per-batch logic. A gate's first batch creates
  * its table by appending ([[TableStore.append]] and its tagged and
  * partitioned forms commit creation through the manifest CAS) or, keyed,
  * through [[graft.ops.Merge.upsertInto]] — never by an exists-then-
  * overwrite branch, which lets two first writers drop each other's rows.
  * Windowed aggregation helpers are expressed once and usable from both
  * batch and streaming plans (same functions, same semantics; in streaming
  * add `withWatermark` for state eviction).
  */
/** One document arriving on the feed: source, token count, event time. */
final case class DocEvent(source: String, tokens: Long, ts: java.sql.Timestamp)

/** Cumulative per-source counters as of the emitting micro-batch. */
final case class SourceRunning(source: String, docs: Long, tokens: Long)

/** One interaction on the attribution stream (`kind` ∈ click|purchase). */
final case class InteractionEvent(user_id: Long, kind: String, ts: java.sql.Timestamp)

/** A finalized attribution: the latest click at-or-before the purchase
  * (epoch millis; None = no prior click within the retained horizon). */
final case class AttributedPurchase(user_id: Long, purchase_ms: Long, click_ms: Option[Long])

/** Per-user attribution state: collapsed max mature click + the
  * within-watermark click/purchase tails (see streamingAsOf). */
final case class AsOfState(mature: Option[Long], clicks: Seq[Long], purchases: Seq[Long])

/** Streaming funnel input: integral event time (caller's unit). */
final case class FunnelEvent(user_id: Long, ts: Long, event_type: String)

/** Streaming funnel state/output: stages completed and the completion
  * time of the last completed stage (MinValue sentinel in state, None in
  * output at stage 0). */
final case class FunnelState(stage: Int, t: Long)
final case class FunnelProgress(user_id: Long, stage: Long, t_last: Option[Long])

object StreamingIngest {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.streaming")

  /** Process everything available on `stream` through `onBatch`, then stop
    * (AvailableNow) — rerunning continues from `checkpointDir`. */
  private def drain(stream: DataFrame, checkpointDir: String)(
      onBatch: (DataFrame, Long) => Unit): Unit =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(onBatch)
      .start()
      .awaitTermination()

  /** A file-source stream over `sourceDir`; `maxFilesPerTrigger` unset
    * leaves the trigger sizing to Spark. */
  private def files(spark: SparkSession, sourceDir: String,
      schema: StructType, format: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val base = spark.readStream.schema(schema)
    val reader = maxFilesPerTrigger.fold(base)(base.option("maxFilesPerTrigger", _))
    format match {
      case "csv"     => reader.option("header", true).csv(sourceDir)
      case "json"    => reader.json(sourceDir)
      case "parquet" => reader.parquet(sourceDir)
      case other     => throw new IllegalArgumentException(s"format: $other")
    }
  }

  /** The gates' source: json files, one per micro-batch. */
  private def jsonFiles(spark: SparkSession, sourceDir: String,
      schema: StructType): DataFrame =
    files(spark, sourceDir, schema, "json", maxFilesPerTrigger = Some(1))

  /** Incrementally ingest files appearing under `sourceDir` into `table`.
    * Each micro-batch appends (or merges when `uniqueKeys` is set) through
    * the same TableStore used by batch. Processes everything available, then
    * stops (AvailableNow) — rerunning continues from the checkpoint. */
  def ingestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      format: String, // csv | json | parquet
      store: TableStore,
      table: String,
      checkpointDir: String,
      uniqueKeys: Seq[String] = Nil,
      rowNumberColumn: String = "_id",
      updatedAtColumn: String = "_updated_at"
  ): Unit =
    drain(files(spark, sourceDir, schema, format), checkpointDir) { (batch, _) =>
      val ts = new Timestamp(System.currentTimeMillis())
      val start = store.nextRowNumberStart(table, rowNumberColumn)
      val numbered = graft.ops.RowNumbers
        .withRowNumbers(batch, rowNumberColumn, start)
      val stamped = graft.ops.UpdatedAt.stamp(numbered, ts, updatedAtColumn)
      if (uniqueKeys.isEmpty) store.append(table, stamped)
      else
        Merge.upsertInto(store, table, stamped, ts,
          Merge.MergeSpec(uniqueKeys = uniqueKeys,
            preserveColumns = Seq(rowNumberColumn),
            updatedAtColumn = Some(updatedAtColumn),
            dedupOrderCol = Some(rowNumberColumn)))
    }

  /** Incrementally ingest files into a HIVE-PARTITIONED table: each
    * micro-batch lands as one partitioned snapshot
    * ([[TableStore.appendPartitioned]] — O(batch), creation CAS-safe), so
    * the steady-state crawl corpus accrues date/source-pruned layout as
    * it ingests, scans prune by `PartitionFilters` from the first file,
    * and the standing retention sweep ([[TableStore.expirePartitionsBelow]])
    * plus partition-scoped takedowns ([[TableStore.dropPartitions]]) stay
    * O(metadata) forever. `derive` runs before the write — the place to
    * compute the partition column (e.g. `to_date(ts)`) from event fields.
    * At-least-once appends like [[ingestAvailableNow]]; pair with
    * [[taggedIngestAvailableNow]]-style tags when replays must be exact. */
  def partitionedIngestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      format: String, // csv | json | parquet
      store: TableStore,
      table: String,
      checkpointDir: String,
      partitionCols: Seq[String],
      derive: DataFrame => DataFrame = identity,
      compactAfterSnapshots: Option[Int] = None
  ): Unit = {
    require(partitionCols.nonEmpty, "partitionedIngestAvailableNow: partition columns")
    drain(files(spark, sourceDir, schema, format), checkpointDir) { (batch, _) =>
      val shaped = derive(batch)
      // an empty replayed batch must not litter an empty snapshot
      if (!shaped.isEmpty) store.appendPartitioned(table, shaped, partitionCols)
      // standing maintenance: fold the micro-batch chain back to one
      // PARTITIONED snapshot once it crosses the threshold — the
      // layout-preserving compaction (plain compact would flatten the
      // hive dirs and break the next retention sweep's O(metadata)
      // contract), and the point where earlier drops' bytes reclaim.
      // Guarded on existence: an all-empty replay before the first
      // data batch has no table to fold and must not fail the stream.
      // BEST-EFFORT: the appendPartitioned above already committed and
      // is NOT idempotent — a compaction failure here (e.g. the
      // conditional rewrite losing 8 races to an external writer) must
      // not fail the batch, or the checkpoint replay would append the
      // batch a second time (duplicate rows) just to redo maintenance
      // the next batch's fold retries anyway.
      if (store.exists(table))
        compactAfterSnapshots.foreach(n =>
          try store.compactPartitioned(table, partitionCols, maxSnapshots = n)
          catch { case scala.util.control.NonFatal(e) =>
            log.warn(s"standing compaction of $table failed (batch " +
              "already committed; next batch retries the fold)", e)
          })
    }
  }

  private def flattenWindow(aggDf: DataFrame, windowCol: String, startAlias: String): DataFrame = {
    val rest = aggDf.columns.filterNot(_ == windowCol).map(col)
    aggDf.select(col(s"$windowCol.start").as(startAlias) +: rest.toIndexedSeq: _*)
  }

  /** Tumbling-window aggregation (batch or streaming input). */
  def tumblingAgg(
      df: DataFrame,
      tsCol: String,
      windowLen: String,
      keys: Seq[String],
      aggs: Seq[Column]
  ): DataFrame =
    flattenWindow(
      df.groupBy(window(col(tsCol), windowLen) +: keys.map(col): _*)
        .agg(aggs.head, aggs.tail: _*),
      "window", "window_start")

  /** Windowed heavy hitters: the top `k` keys by event count inside each
    * tumbling window, with each hitter's share of the window's total
    * traffic — the hot-key / hot-page / abusive-client report a streaming
    * ingest keeps live (and the skew signal that feeds salting decisions;
    * see [[graft.ops.Profile.skewAudit]] for the batch join-key variant).
    *
    * Scale shape: the per-(window, key) count is a partial-agg shuffle of
    * narrow rows; the rank stage then reduces each window's distinct-key
    * counts through the bounded `graft_topk` aggregate —
    * ≤ k candidates survive per mapper per window, so the second exchange
    * carries mappers × k rows, never the key universe (a window-function
    * rank would shuffle all distinct keys; identical output,
    * TopKAggregateSpec discipline). Counts and shares are exact integer
    * arithmetic (`div` truncation, engine-portable).
    *
    * Batch or streaming input: the count stage is streaming-legal as-is
    * (use update mode + watermark upstream); the rank stage applies per
    * micro-batch in `foreachBatch` — StreamingQualitySpec maintains the
    * count state incrementally by integer-sum merge and proves the grown
    * state ranks identically to one batch pass. */
  def heavyHitters(
      df: DataFrame,
      tsCol: String,
      windowLen: String,
      keyCol: String,
      k: Int
  ): DataFrame =
    rankHeavyHitters(windowKeyCounts(df, tsCol, windowLen, keyCol), keyCol, k)

  /** The streaming-legal count stage of [[heavyHitters]]: (window, key, n).
    * Incremental by integer sum — per-micro-batch counts merged with
    * `sum(n)` over (window, key) equal one batch pass by associativity,
    * so a foreachBatch sink can maintain the count state as append-only
    * deltas and compact by sum (the BM25 postings discipline).
    *
    * Null keys are excluded HERE: the bounded `graft_topk` aggregate
    * skips null ids in update, so a null key would still count in the
    * window's `share_ppm` denominator while never ranking. Count null-key
    * traffic via [[graft.ops.Profile.profile]]. */
  def windowKeyCounts(
      df: DataFrame,
      tsCol: String,
      windowLen: String,
      keyCol: String
  ): DataFrame =
    df.where(col(keyCol).isNotNull)
      .groupBy(window(col(tsCol), windowLen).as("window"), col(keyCol))
      .agg(count(lit(1)).as("n"))

  /** The rank stage of [[heavyHitters]] over a (window, key, n) count
    * table — exposed separately so incrementally-maintained count state
    * ranks through the same code path as the one-shot operator. */
  def rankHeavyHitters(counts: DataFrame, keyCol: String, k: Int): DataFrame = {
    counts.groupBy(col("window"))
      .agg(
        call_function("graft_topk",
          col("n").cast("double"), col(keyCol).cast("long"), lit(k)).as("top"),
        sum(col("n")).as("n_window"))
      .select(col("window"), col("n_window"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("window.start").as("window_start"), col("t.id").as(keyCol),
        (col("pos") + 1).cast("int").as("rank"),
        col("t.score").cast("long").as("n"), col("n_window"))
      .withColumn("share_ppm", expr("(n * 1000000) div n_window"))
  }

  /** Sliding-window aggregation. */
  def slidingAgg(
      df: DataFrame,
      tsCol: String,
      windowLen: String,
      slide: String,
      keys: Seq[String],
      aggs: Seq[Column]
  ): DataFrame =
    flattenWindow(
      df.groupBy(window(col(tsCol), windowLen, slide) +: keys.map(col): _*)
        .agg(aggs.head, aggs.tail: _*),
      "window", "window_start")

  /** Session-window aggregation (gap-based). */
  def sessionAgg(
      df: DataFrame,
      tsCol: String,
      gap: String,
      keys: Seq[String],
      aggs: Seq[Column]
  ): DataFrame =
    flattenWindow(
      df.groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
        .agg(aggs.head, aggs.tail: _*),
      "session_window", "session_start")

  /** Streaming deduplication bounded by event-time watermark: drops rows
    * whose key was already seen within the watermark horizon — the
    * streaming counterpart of the batch exact-dedup operator, with state
    * eviction so the key set never grows unboundedly (the property that
    * makes streaming dedup viable over an infinite training-data feed). */
  def dedupWithinWatermark(
      df: DataFrame,
      tsCol: String,
      watermark: String,
      keyCols: Seq[String]
  ): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Custom keyed state (the `KeyValueGroupedDataset.flatMapGroupsWithState`
    * tier of §2.9): per-source RUNNING corpus counters over an unbounded
    * document feed. Each micro-batch emits the updated cumulative
    * (docs, tokens) for every source seen in that batch — the live
    * ingest-monitoring view a training-data pipeline wants ("how much of
    * source X have we absorbed so far"). State is two longs per source
    * (bounded by source cardinality, not stream length); a source idle for
    * `idleGapMs` beyond the event-time watermark is evicted, so state never
    * grows unboundedly. Event-time timeout (not processing-time) on
    * purpose: wall-clock timeouts keep an `AvailableNow` drain alive
    * waiting for them to fire, while watermark-based timeouts resolve from
    * the data itself. The checkpoint carries counters across restarts. */
  def runningSourceStats(
      ds: org.apache.spark.sql.Dataset[DocEvent],
      watermark: String = "1 hour",
      idleGapMs: Long = 2L * 3600 * 1000
  ): org.apache.spark.sql.Dataset[SourceRunning] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    ds.withWatermark("ts", watermark)
      .groupByKey(_.source)
      .flatMapGroupsWithState[(Long, Long), SourceRunning](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (source, events, state) =>
          if (state.hasTimedOut) {
            state.remove() // idle source: release its two longs
            Iterator.empty
          } else {
            var docs = 0L
            var toks = 0L
            var maxTs = Long.MinValue
            events.foreach { e =>
              docs += 1; toks += e.tokens
              if (e.ts.getTime > maxTs) maxTs = e.ts.getTime
            }
            val (prevDocs, prevToks) = state.getOption.getOrElse((0L, 0L))
            val next = (prevDocs + docs, prevToks + toks)
            state.update(next)
            // the watermark only advances AFTER a batch — in the first batch
            // it is still 0, so anchor the idle timeout on whichever is
            // later: the engine watermark or this batch's own event times
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs(), maxTs) + idleGapMs)
            Iterator(SourceRunning(source, next._1, next._2))
          }
      }
  }

  /** Streaming as-of attribution — the unbounded counterpart of
    * [[graft.ops.AsOfJoin]]: for every purchase, the latest click of the
    * same user at-or-before it, emitted exactly once and only when the
    * event-time watermark guarantees no earlier click can still arrive.
    *
    * State per user is BOUNDED by the watermark, not the stream: a purchase
    * buffers only until the watermark passes its timestamp; clicks at or
    * below the watermark collapse to a single max — valid because every
    * still-finalizable purchase is strictly younger than the watermark, so
    * only the latest mature click can ever win for it. So state = one long
    * + the in-flight (within-watermark) click/purchase tails. Event-time
    * timeout finalizes users that stop receiving events (their pending
    * purchases resolve against the clicks seen) and then evicts them; a
    * purchase arriving after its user was idle-evicted loses pre-eviction
    * clicks — the documented horizon tradeoff, tune `idleGapMs`. */
  def streamingAsOf(
      ds: org.apache.spark.sql.Dataset[InteractionEvent],
      watermark: String = "10 minutes",
      idleGapMs: Long = 30L * 60 * 1000
  ): org.apache.spark.sql.Dataset[AttributedPurchase] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

    def finalizeReady(user: Long, wm: Long, s: AsOfState): (Seq[AttributedPurchase], AsOfState) = {
      val (done, pending) = s.purchases.partition(_ <= wm)
      // invariant: every pending purchase ts > every collapsed click, so
      // `mature` always qualifies as a candidate without a filter
      val out = done.sorted.map { p =>
        val cands = s.clicks.filter(_ <= p) ++ s.mature
        AttributedPurchase(user, p, if (cands.isEmpty) None else Some(cands.max))
      }
      val (matureNow, freshClicks) = s.clicks.partition(_ <= wm)
      val newMature =
        if (matureNow.isEmpty) s.mature
        else Some(math.max(s.mature.getOrElse(Long.MinValue), matureNow.max))
      (out, AsOfState(newMature, freshClicks, pending))
    }

    ds.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfState, AttributedPurchase](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, events: Iterator[InteractionEvent], state: GroupState[AsOfState]) =>
          val wm = state.getCurrentWatermarkMs()
          if (state.hasTimedOut) {
            val (out, rest) = finalizeReady(user, wm,
              state.getOption.getOrElse(AsOfState(None, Nil, Nil)))
            if (rest.purchases.isEmpty) state.remove() // nothing left to resolve
            else {
              state.update(rest)
              state.setTimeoutTimestamp(wm + idleGapMs)
            }
            out.iterator
          } else {
            var clicks = Seq.empty[Long]
            var purchases = Seq.empty[Long]
            var maxTs = Long.MinValue
            events.foreach { e =>
              val t = e.ts.getTime
              if (t > maxTs) maxTs = t
              if (e.kind == "click") clicks = clicks :+ t
              else if (e.kind == "purchase") purchases = purchases :+ t
            }
            val prev = state.getOption.getOrElse(AsOfState(None, Nil, Nil))
            val (out, rest) = finalizeReady(user, wm,
              AsOfState(prev.mature, prev.clicks ++ clicks, prev.purchases ++ purchases))
            state.update(rest)
            // watermark is 0 during the first batch — anchor on event times
            state.setTimeoutTimestamp(math.max(wm, maxTs) + idleGapMs)
            out.iterator
          }
      }
  }

  /** Live funnel tracking — [[graft.ops.TimeSeries.funnel]] lifted onto
    * the streaming runtime with `mapGroupsWithState`: per user the state
    * is just (stage, t_last) — two scalars, NOT the event history — and
    * each micro-batch folds its time-sorted events from that state with
    * the batch operator's exact advance rule (next step type, strictly
    * later than t_last). Emits the user's current progress after every
    * batch that touched it (Update mode).
    *
    * Equivalence contract: with per-user event-time order preserved
    * ACROSS batches (per-key ordered delivery, the Kafka-partition-per-
    * key posture), the final state equals the batch funnel over the
    * concatenated stream — spec-pinned. Under cross-batch disorder a
    * late earlier-step event cannot retroactively advance a stage
    * (state keeps no history by design); the batch operator over the
    * full log is the reconciliation path.
    *
    * Scale shape: state store carries two scalars per user; each batch
    * shuffles only its own (filtered) events by user. */
  def streamingFunnel(
      ds: org.apache.spark.sql.Dataset[FunnelEvent],
      steps: Seq[String]
  ): org.apache.spark.sql.Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    ds.filter(e => steps.contains(e.event_type))
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelProgress](
        GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          events.toSeq.sortBy(e => (e.ts, e.event_type)).foreach { e =>
            if (s.stage < steps.size && e.event_type == steps(s.stage) &&
                e.ts > s.t)
              s = FunnelState(s.stage + 1, e.ts)
          }
          state.update(s)
          FunnelProgress(user, s.stage.toLong,
            if (s.stage > 0) Some(s.t) else None)
      }
  }

  /** Streaming crawl ingestion with cross-batch content dedup: each
    * micro-batch keeps only content whose fingerprint has never been seen
    * — not in the accumulated corpus table, not earlier in the batch —
    * and appends the survivors. The steady-state crawl loop
    * ([[graft.ext.Dedup.incrementalNew]]) lifted onto the streaming
    * runtime: checkpointed offsets make re-runs resume, and a re-crawled
    * page arriving in a later micro-batch is dropped because the corpus
    * table IS the dedup state — no in-memory state store to grow, no
    * watermark to expire exact-dedup state (`dropDuplicates` cannot keep
    * unbounded keys; a table scan-probe can).
    *
    * Per micro-batch cost: one corpus scan probed by the batch's
    * broadcast fingerprint set (the corpus never shuffles), then an
    * O(batch) append. Returns after all available files process
    * (AvailableNow). */
  def dedupIngestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      store: TableStore,
      table: String,
      checkpointDir: String,
      textCol: String,
      idCol: String
  ): Unit =
    drain(jsonFiles(spark, sourceDir, schema), checkpointDir) { (batch, _) =>
      val keep = graft.ext.Dedup.incrementalNew(
        corpusOrEmpty(store, table, batch), batch, textCol, idCol)
        .select(col("keep_id").as(idCol))
      store.append(table, batch.join(keep, idCol))
    }

  /** Streaming LM quality gate: ingest a document stream keeping only
    * docs whose logppl under PRE-TRAINED LM tables clears `maxLogPpl` —
    * the CCNet filter as a continuous stage. The tables train ONCE on
    * the trusted static reference (caller passes the trained tuple, e.g.
    * [[graft.ext.LanguageModel.trainStupidBackoff]]); every micro-batch
    * pays only the broadcast probes, so stream state is the checkpoint
    * offsets alone — no LM state accumulates. Docs under two tokens have
    * no score and are dropped (no evidence of fluency). */
  def qualityGateIngestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      store: TableStore,
      table: String,
      checkpointDir: String,
      textCol: String,
      idCol: String,
      lmTables: (DataFrame, DataFrame, DataFrame),
      maxLogPpl: Double
  ): Unit =
    drain(jsonFiles(spark, sourceDir, schema), checkpointDir) { (batch, _) =>
      val keep = graft.ext.LanguageModel
        .scoreWithTables(batch, textCol, idCol, lmTables)
        .where(col("logppl") <= maxLogPpl)
        .select(col(idCol))
      store.append(table, batch.join(keep, idCol))
    }

  /** Streaming classifier screen: the FineWeb-Edu-style supervised
    * quality gate as a continuous ingest stage — each micro-batch scores
    * against a PRE-TRAINED hard-sigmoid LR model
    * ([[graft.ext.LogReg.score]]: broadcast weight table, one batch
    * pass) and keeps documents the classifier accepts (pred = 1,
    * optionally a stricter integer-margin floor). Training stays an
    * offline batch job — the stream only consumes the frozen weights,
    * so stream state is the checkpoint offsets alone. */
  def classifierGateIngestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      store: TableStore,
      table: String,
      checkpointDir: String,
      textCol: String,
      idCol: String,
      weights: DataFrame,
      buckets: Int,
      minMargin: Long = 0L
  ): Unit =
    drain(jsonFiles(spark, sourceDir, schema), checkpointDir) { (batch, _) =>
      val keep = graft.ext.LogReg
        .score(batch, weights, textCol, idCol, buckets)
        .where(col("zq") >= minMargin)
        .select(col(idCol))
      store.append(table, batch.join(keep, idCol))
    }

  /** Streaming language router: every micro-batch is classified under a
    * PRE-TRAINED char-n-gram NB langid model
    * ([[graft.ext.LangId.classifyWith]]: broadcast C×B table, one batch
    * pass, integer argmax) and lands with its `lang_pred` column
    * attached — the langid stage ahead of per-language scoring/quota, as
    * a continuous ingest stage. Documents too short to classify (< n
    * chars: no trigram evidence) are routed to the explicit `und`
    * bucket rather than dropped — a router must place every document.
    * Training stays an offline batch job; stream state is the
    * checkpoint offsets alone. */
  def langidRouterIngestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      store: TableStore,
      table: String,
      checkpointDir: String,
      textCol: String,
      idCol: String,
      model: DataFrame,
      priors: DataFrame,
      n: Int = graft.ext.LangId.DefaultN,
      buckets: Int = 2000
  ): Unit =
    drain(jsonFiles(spark, sourceDir, schema), checkpointDir) { (batch, _) =>
      val preds = graft.ext.LangId.classifyWith(
        batch, model, priors, textCol, idCol, n, buckets)
        .select(col(idCol), col("lang").as("lang_pred"))
      store.append(table, batch.join(preds, Seq(idCol), "left")
        .withColumn("lang_pred", coalesce(col("lang_pred"), lit("und"))))
    }

  /** Streaming drift monitor: every micro-batch's token distribution is
    * compared against a PRECOMPUTED reference histogram
    * ([[graft.ext.Drift.tokenHistogram]] of the trusted corpus,
    * collapsed once — the reference never rescans) and `onDrift`
    * receives (batchId, n_batch, js). Batches above `maxJs` are
    * quarantined (not appended — same whole-batch semantics as the
    * acceptance gate); the monitor itself adds one batch-sized pass
    * plus histogram-sized arithmetic per trigger. */
  def driftMonitorIngestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      store: TableStore,
      table: String,
      checkpointDir: String,
      textCol: String,
      refHist: DataFrame,
      buckets: Int,
      maxJs: Double,
      onDrift: (Long, Long, Double) => Unit = (_, _, _) => ()
  ): Unit =
    drain(jsonFiles(spark, sourceDir, schema), checkpointDir) { (batch, batchId) =>
      val row = graft.ext.Drift
        .jsDivergenceAgainstHistogram(refHist, batch, textCol, buckets)
        .first()
      // A token-free micro-batch has no distribution to compare:
      // jsOfHistograms yields js = NULL there, and getDouble on a null
      // cell would kill the whole stream. Treat it as quarantined
      // (reported with js = NaN, never appended) — the monitor's job is
      // to gate batches, not to die on an empty one.
      val nBatch = if (row.isNullAt(1)) 0L else row.getLong(1)
      if (nBatch == 0L || row.isNullAt(2)) {
        onDrift(batchId, nBatch, Double.NaN)
      } else {
        val js = row.getDouble(2)
        onDrift(batchId, nBatch, js)
        if (js <= maxJs) store.append(table, batch)
      }
    }

  /** EXACTLY-ONCE streaming append: every micro-batch commits through
    * [[graft.table.TableStore.appendTagged]] with `<sinkId>_b<batchId>` as
    * the idempotency tag, so a batch replayed after a crash (foreachBatch
    * is otherwise at-least-once) — or even a full RE-RUN from a wiped
    * checkpoint over the same source files — lands zero duplicate rows:
    * the tag rides the store's atomic manifest flip, and a replay either
    * sees it (skip) or re-commits an uncommitted batch. `sinkId`
    * namespaces tags when several streams feed one table. No dedup keys,
    * no state store — idempotency comes from the commit protocol, not
    * from comparing data. */
  def exactlyOnceIngestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      store: TableStore,
      table: String,
      checkpointDir: String,
      sinkId: String = "s0"
  ): Unit =
    drain(jsonFiles(spark, sourceDir, schema), checkpointDir) { (batch, batchId) =>
      store.appendTagged(table, batch, s"${sinkId}_b$batchId")
    }

  /** Streaming LATE-DATA accounting: rows whose event time falls more
    * than `maxLatenessMs` behind the stream's running high-watermark (the
    * max event time over every PRIOR batch, durable in `<table>__wm`) are
    * routed row-wise to `<table>__late` instead of the corpus, stamped
    * with (batch_id, late_by_ms). Where Structured Streaming's own
    * watermark silently DROPS late rows from stateful operators, this
    * keeps them auditable and replayable — fix the upstream skew, then
    * re-feed the quarantine as new source files. The cutoff is the
    * watermark as of the START of the batch, so a batch can never censor
    * its own rows, and an out-of-order FIRST batch is always on time
    * (no watermark exists yet — the standard cold-start posture).
    *
    * State = one (wm_ms) row + checkpoint offsets; per batch: one narrow
    * timestamp pass to split, the two appends, and a one-row max. A crash
    * between the appends and the checkpoint commit replays the batch
    * (at-least-once appends — same contract as every foreachBatch ingest
    * here; the exact-dedup ingest composes in front when the corpus needs
    * exactly-once). */
  def lateDataIngestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      store: TableStore,
      table: String,
      checkpointDir: String,
      tsCol: String,
      maxLatenessMs: Long,
      onBatch: (Long, Long, Long) => Unit = (_, _, _) => () // (id, onTime, late)
  ): Unit = {
    require(maxLatenessMs >= 0, "maxLatenessMs must be non-negative")
    val wmTable = table + "__wm"
    val lateTable = table + "__late"
    drain(jsonFiles(spark, sourceDir, schema), checkpointDir) { (batch, batchId) =>
      import spark.implicits._
      val wm: Option[Long] =
        if (store.exists(wmTable))
          Some(store.scan(wmTable).first().getLong(0))
        else None
      val stamped = batch.withColumn("__ms",
        expr(s"unix_millis(cast($tsCol as timestamp))"))
      val isLate = wm match {
        case Some(w) => col("__ms") < lit(w - maxLatenessMs)
        case None    => lit(false)
      }
      val late = stamped.where(isLate)
        .withColumn("batch_id", lit(batchId))
        .withColumn("late_by_ms",
          lit(wm.getOrElse(0L) - maxLatenessMs) - col("__ms"))
        .drop("__ms")
      val onTime = stamped.where(!isLate).drop("__ms")
      def land(t: String, df: DataFrame): Long = {
        val n = df.count()
        if (n > 0) store.append(t, df)
        n
      }
      val nLate = land(lateTable, late)
      val nOnTime = land(table, onTime)
      val batchMax = stamped.agg(max(col("__ms"))).first()
      if (!batchMax.isNullAt(0)) {
        val newWm = math.max(wm.getOrElse(Long.MinValue), batchMax.getLong(0))
        store.overwrite(wmTable, Seq(newWm).toDF("wm_ms"))
      }
      onBatch(batchId, nOnTime, nLate)
    }
  }

  /** Streaming EMBEDDING-drift gate: each micro-batch's per-key quantized
    * centroids ([[graft.ext.Drift.quantizedCentroids]], exact integer
    * arithmetic) compare against a FROZEN reference centroid table, and a
    * batch whose minimum per-key centroid cosine falls below `minCosine`
    * is quarantined whole — the re-embed/re-encode alarm
    * ([[graft.ext.Drift.embeddingDriftAgainstCentroids]]) running as an
    * ingest stage: a model-version mixup upstream keeps token histograms
    * intact while rotating embedding geometry, and THIS gate is the one
    * that catches it before a poisoned batch lands in the vector corpus.
    * A batch sharing NO key with the reference (all-novel keys, or no
    * rows) has no geometry to compare and is quarantined conservatively
    * (reported with cosine = NaN). The reference is keys × dims sized and
    * broadcast-joined; each batch pays one narrow centroid pass. State =
    * checkpoint offsets alone. */
  def embeddingDriftMonitorIngestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      store: TableStore,
      table: String,
      checkpointDir: String,
      vecCol: String,
      keyCol: String,
      nDims: Int,
      refCentroids: DataFrame, // Drift.quantizedCentroids(..., "ref")
      minCosine: Double,
      onBatch: (Long, Long, Double) => Unit = (_, _, _) => () // (id, keys, minCos)
  ): Unit =
    drain(jsonFiles(spark, sourceDir, schema), checkpointDir) { (batch, batchId) =>
      val row = graft.ext.Drift
        .embeddingDriftAgainstCentroids(refCentroids, batch,
          vecCol, keyCol, nDims)
        .agg(count(lit(1)).as("k"), min(col("cosine")).as("c"))
        .first()
      val nKeys = row.getLong(0)
      if (nKeys == 0L || row.isNullAt(1)) {
        onBatch(batchId, nKeys, Double.NaN)
      } else {
        val minCos = row.getDouble(1)
        onBatch(batchId, nKeys, minCos)
        if (minCos >= minCosine) store.append(table, batch)
      }
    }

  /** Streaming batch-acceptance gate: the dataset-level constraint
    * suite ([[graft.ops.Checks]], the Pipeline's pre-write gate) per
    * micro-batch — a batch whose verdicts all pass appends; a failing
    * batch is REJECTED WHOLE (quarantine semantics: `onReject` receives
    * the failing verdict rows; the checkpoint still advances, so the
    * corrected data must be re-fed as new files — re-processing a
    * rejected offset range would break exactly-once). One aggregation
    * pass per batch; stream state is the checkpoint offsets alone. */
  def checksGateIngestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      store: TableStore,
      table: String,
      checkpointDir: String,
      checks: Seq[graft.ops.Checks.Check],
      onReject: (Long, Seq[org.apache.spark.sql.Row]) => Unit = (_, _) => ()
  ): Unit =
    drain(jsonFiles(spark, sourceDir, schema), checkpointDir) { (batch, batchId) =>
      val verdicts = graft.ops.Checks.run(batch, checks).collect()
      val failed = verdicts.filter(!_.getBoolean(6)).toSeq
      if (failed.nonEmpty) onReject(batchId, failed)
      else store.append(table, batch)
    }

  /** Streaming blocklist screen: the C4-style badwords drop as a
    * continuous ingest stage — each micro-batch runs the one-pass
    * Aho–Corasick kernel ([[graft.ext.Blocklist]]) and keeps documents
    * with at most `maxHits` word-bounded blocklist occurrences. The
    * automaton is a plan constant (built once per executor), stream state
    * is the checkpoint offsets alone; the filter is a pure per-row
    * predicate, so the batch never shuffles before the append. */
  def blocklistGateIngestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      store: TableStore,
      table: String,
      checkpointDir: String,
      textCol: String,
      patterns: Seq[String],
      maxHits: Long = 0L,
      boundary: Boolean = true
  ): Unit =
    drain(jsonFiles(spark, sourceDir, schema), checkpointDir) { (batch, _) =>
      store.append(table, graft.ext.Blocklist.dropBlocked(
        batch, textCol, patterns, maxHits, boundary))
    }

  /** The corpus so far, or an empty frame of the batch's shape before the
    * first batch lands — the exact-dedup screens' probe side. */
  private def corpusOrEmpty(store: TableStore, table: String,
      batch: DataFrame): DataFrame =
    if (store.exists(table)) store.scan(table)
    else batch.sparkSession.createDataFrame(new java.util.ArrayList[Row](),
      batch.schema)

  /** The landing shared by the curate-and-index gates: `screened` feeds TWO
    * writes, so it is eagerly checkpointed first — a lazy frame would
    * recompute the screen AFTER the corpus append, see its own rows as
    * duplicates and silently append an empty batch to the index (the
    * materialization is micro-batch-cheap). Survivors append to `table`;
    * the first landing then builds the index and registers the
    * table↔index pairing (retention cascades reach it with `indexes = Nil`
    * and drift-check explicit lists), later ones `add` to it. */
  private def landAndIndex(store: TableStore, table: String,
      screened: DataFrame, target: Retention.IndexTarget)(
      build: DataFrame => Unit, add: DataFrame => Unit): Unit = {
    val fresh = screened.cutLineage()
    try {
      if (!fresh.isEmpty) {
        val first = !store.exists(table)
        store.append(table, fresh)
        if (first) {
          build(fresh)
          Retention.registerIndex(store, table, target)
        } else add(fresh)
      }
    } finally graft.ops.Lineage.release(fresh)
  }

  /** Streaming VECTOR curate-and-index: embedding batches screen against
    * the persistent IVF index ([[graft.ext.VectorIndex]]) — a batch
    * vector whose nearest indexed neighbor (within probed cells) clears
    * the cosine threshold is a semantic re-crawl and drops; survivors
    * append to the corpus table AND into the index's cell buckets. The
    * codebook freezes on the FIRST batch (lowest ids — production would
    * pass a trained codebook and rebuild offline on drift); the screen is
    * IVF-approximate by design, the [[graft.ext.Similarity.semDedup]]
    * posture. Stream state is the checkpoint offsets alone. */
  def vectorIndexIngestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      store: TableStore,
      table: String,
      indexName: String,
      checkpointDir: String,
      vecCol: String,
      idCol: String,
      nCells: Int,
      numBuckets: Int,
      nProbe: Int,
      threshold: Double
  ): Unit =
    drain(jsonFiles(spark, sourceDir, schema), checkpointDir) { (batch0, _) =>
      val batch = batch0.withColumn(vecCol, col(vecCol).cast("array<float>"))
      val screened =
        if (!store.exists(table)) batch
        else {
          val dupIds = graft.ext.VectorIndex.ivfTopKIndexed(
            store, indexName, batch, vecCol, idCol, k = 1, nProbe)
            .where(col("cosine") >= threshold)
            .select(col("q_id").as(idCol)).distinct()
          batch.join(dupIds, Seq(idCol), "left_anti")
        }
      landAndIndex(store, table, screened,
        Retention.Ivf(indexName, numBuckets))(
        graft.ext.VectorIndex.buildIvfIndex(store, indexName,
          _, vecCol, idCol, nCells, numBuckets),
        graft.ext.VectorIndex.appendIvfIndex(store, indexName,
          _, vecCol, idCol, numBuckets))
    }

  /** Streaming NEAR-dup curate-and-index: each micro-batch screens
    * against the persistent LSH band index ([[graft.ext.NearDupIndex]] —
    * the corpus text is never re-hashed), drops edited re-crawls whose
    * Jaccard clears `threshold`, and appends the genuinely fresh docs to
    * the corpus table AND into the index's own buckets — the index that
    * screens batch N+1 grew from batch N. Stream state is the checkpoint
    * offsets; the index tables ARE the dedup state. */
  def nearDupIndexIngestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      store: TableStore,
      table: String,
      indexName: String,
      checkpointDir: String,
      textCol: String,
      idCol: String,
      numBuckets: Int,
      threshold: Double
  ): Unit =
    drain(jsonFiles(spark, sourceDir, schema), checkpointDir) { (batch, _) =>
      val screened =
        if (!store.exists(table)) batch
        else {
          val dupIds = graft.ext.NearDupIndex.nearDupAgainstIndex(
            store, indexName, batch, textCol, idCol, threshold)
            .select(col("batch_id").as(idCol)).distinct()
          batch.join(dupIds, Seq(idCol), "left_anti")
        }
      landAndIndex(store, table, screened,
        Retention.NearDup(indexName, numBuckets))(
        graft.ext.NearDupIndex.buildNearDupIndex(store, indexName,
          _, textCol, idCol, numBuckets),
        graft.ext.NearDupIndex.appendNearDupIndex(store, indexName,
          _, textCol, idCol, numBuckets))
    }

  /** Streaming curate-and-index: the steady-state crawl pipeline as ONE
    * continuous stage. Each micro-batch exact-dedups against the corpus
    * table ([[graft.ext.Dedup.incrementalNew]] — the corpus side never
    * shuffles), appends only the genuinely new documents to the corpus
    * AND into the BM25 inverted index
    * ([[graft.ext.Retrieval.appendBm25Index]] — bucketed file appends
    * plus df/stats increments, never an index rewrite). The index is
    * queryable between micro-batches and after every batch equals a
    * from-scratch build over the corpus table (spec-pinned); stream
    * state is the checkpoint offsets alone. */
  def indexIngestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      store: TableStore,
      table: String,
      indexName: String,
      checkpointDir: String,
      textCol: String,
      idCol: String,
      numBuckets: Int
  ): Unit =
    drain(jsonFiles(spark, sourceDir, schema), checkpointDir) { (batch, _) =>
      val keep = graft.ext.Dedup.incrementalNew(
        corpusOrEmpty(store, table, batch), batch, textCol, idCol)
        .select(col("keep_id").as(idCol))
      landAndIndex(store, table, batch.join(keep, idCol),
        Retention.Bm25(indexName, textCol, numBuckets))(
        graft.ext.Retrieval.buildBm25Index(store, indexName,
          _, textCol, idCol, numBuckets),
        graft.ext.Retrieval.appendBm25Index(store, indexName,
          _, textCol, idCol, numBuckets))
    }

  /** Watermarked stream-stream interval join (SURVEY §2.9): each purchase
    * pairs with the clicks of the same user inside its look-back window
    * (`p_ts - window < c_ts <= p_ts`). Both sides carry watermarks and the
    * join condition carries the time bound — exactly what Spark needs to
    * keep the join STATE bounded: buffered clicks are evicted once the
    * watermark passes `c_ts + window` (no purchase can still match them),
    * buffered purchases once the watermark passes `p_ts`. Without the
    * range condition a stream-stream join buffers both streams forever —
    * the unbounded-state trap this operator exists to avoid. Inner join:
    * pairs emit as soon as both sides have arrived, exactly once (the
    * batch plan of the same function is the spec's oracle). Late rows
    * beyond the watermark are dropped, the standard streaming tradeoff. */
  def streamStreamWindowJoin(
      purchases: DataFrame,
      clicks: DataFrame,
      watermark: String = "10 minutes",
      windowSeconds: Long = 600L,
      keyCol: String = "user_id",
      tsCol: String = "ts"
  ): DataFrame = {
    Seq(("purchases", purchases), ("clicks", clicks)).foreach { case (side, df) =>
      Seq(keyCol, tsCol).foreach { c =>
        require(df.columns.contains(c),
          s"streamStreamWindowJoin: $side side is missing column '$c' " +
            s"(columns: ${df.columns.mkString(", ")})")
      }
    }
    val p = purchases.select(col(keyCol).as("p_user"), col(tsCol).as("p_ts"))
      .withWatermark("p_ts", watermark)
    val c = clicks.select(col(keyCol).as("c_user"), col(tsCol).as("c_ts"))
      .withWatermark("c_ts", watermark)
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") > col("p_ts") - expr(s"INTERVAL $windowSeconds SECONDS"))
  }

  /** Streaming TAKEDOWN: a right-to-erasure key stream applied
    * continuously as deletion-vector commits. Every micro-batch lands one
    * O(deleted) `dv-` manifest entry
    * ([[graft.table.TableStore.deleteByKeysDV]]) — no data file is
    * rewritten, so the erasure SLA is decoupled from table size: a 100 TB
    * corpus and a 100 MB one retire a key batch at the same cost, and the
    * accumulated vectors fold into a real rewrite on the maintenance
    * cadence ([[graft.table.TableStore.compact]]). Every batch commits
    * through [[graft.table.TableStore.deleteByKeysDVTagged]] with
    * `<sinkId>_b<batchId>` as the idempotency tag — erasing the same
    * keys twice would NOT be harmless on its own, because a key
    * legitimately re-appended between the original commit and a replay
    * would be erased by the replayed vector (it lands later in the
    * manifest); the tag makes the replay a true no-op instead. Empty
    * batches commit nothing. Rows appended AFTER a takedown batch
    * survive it (manifest replay order) — fresh data re-enters the
    * corpus while the old rows stay erased, with time travel and the
    * change feed still showing the deletes. */
  def takedownIngestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      store: TableStore,
      table: String,
      checkpointDir: String,
      keys: Seq[String],
      sinkId: String = "td0"
  ): Unit = {
    require(keys.nonEmpty, "takedownIngestAvailableNow: at least one key column")
    drain(jsonFiles(spark, sourceDir, schema), checkpointDir) { (batch, batchId) =>
      if (batch.limit(1).count() > 0L)
        store.deleteByKeysDVTagged(table, keys, batch,
          s"${sinkId}_b$batchId")
    }
  }

  /** [[takedownIngestAvailableNow]] CASCADED into the persistent
    * indexes: each takedown micro-batch erases its doc ids from the
    * table AND from every listed index (empty `indexes` = the table's
    * registered list, [[graft.ext.Retention.registerIndex]] — which the
    * curate-and-index ingest paths populate, so the standing pair
    * "curate stream + takedown stream" composes with no index list
    * repeated anywhere). Effectively-once through RE-CAPTURE rather
    * than batch tags: a replayed batch finds its ids already
    * DV-deleted, captures nothing, and no-ops — while a crash
    * mid-cascade is recovered by the journal drain at the head of the
    * replayed batch's own cascade call. The one semantic difference
    * from [[takedownIngestAvailableNow]]'s tagged vectors: an id
    * RE-APPENDED between the original batch and its replay is captured
    * and erased AGAIN (per-id at-least-once — a takedown stream treats
    * the id as condemned; use the tagged plain path when a re-added id
    * must survive replays). Each batch takes the table's retention
    * lease; a concurrent retention operator fails the batch loudly
    * rather than racing a drain. */
  def takedownCascadeIngestAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      store: TableStore,
      table: String,
      checkpointDir: String,
      idCol: String,
      indexes: Seq[graft.ext.Retention.IndexTarget] = Nil
  ): Unit =
    drain(jsonFiles(spark, sourceDir, schema), checkpointDir) { (batch, _) =>
      if (batch.limit(1).count() > 0L) {
        // with NO indexes anywhere the cascade degenerates to an
        // UNTAGGED vector per batch — a replay would commit a second
        // one (and erase a re-added id with no journal at all); the
        // plain tagged path exists for exactly that shape
        require(indexes.nonEmpty ||
            Retention.registeredIndexes(store, table).nonEmpty,
          s"takedownCascadeIngestAvailableNow($table): no indexes " +
            "listed and none registered — use " +
            "takedownIngestAvailableNow (tagged, exactly-once) for an " +
            "index-less takedown stream")
        Retention.deleteByKeysCascade(store, table, idCol,
          batch.select(idCol), indexes)
      }
    }

  /** Streaming variant with watermark, for unbounded inputs. */
  def tumblingAggStreaming(
      df: DataFrame,
      tsCol: String,
      windowLen: String,
      watermark: String,
      keys: Seq[String],
      aggs: Seq[Column]
  ): DataFrame =
    tumblingAgg(df.withWatermark(tsCol, watermark), tsCol, windowLen, keys, aggs)
}
