package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Local testing runs `local[32]`; the same settings are what we'd submit to
  * a 1000-executor cluster (shuffle partition count would be raised to
  * ~2-3× total cores there — AQE coalesces the excess at runtime).
  *
  * SESSION-WIDE semantics note: partition-column type inference is
  * DISABLED (see below), and that applies to every hive-partitioned
  * dataset read through a Graft session — including external ones a user
  * reads with plain `spark.read.parquet` — not just TableStore tables.
  * Partition columns always come back as STRING; cast at read
  * (`col("date").cast("date")`) where typed values are needed. This is
  * the price of a deterministic write/read round-trip for the store's
  * partitioned tables; if an application needs inference for external
  * data, read it through a separate vanilla SparkSession.
  *
  * The builder registers [[graft.plans.GraftExtensions]], whose kernels
  * the `graft.ext` operators call directly. `getOrCreate` hands back an
  * already-running session unchanged, without the extensions (and
  * without these settings) — e.g. the session `spark-shell` made. Start
  * such a shell with `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * instead.
  */
object GraftSession {
  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(graft.plans.GraftExtensions.apply)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // testdata events.ts has shipped as TIMESTAMP(NANOS) — Spark only reads it as long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // testdata timestamps are naive (isAdjustedToUTC=false); read them as
      // TimestampType rather than TIMESTAMP_NTZ — with the UTC session tz this
      // is epoch-preserving and matches DuckDB's naive-as-UTC oracle reading,
      // and keeps literal comparisons (`lit(...).cast("timestamp")`) resolvable
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // hive partition VALUES live in directory names; inference would
      // read "2026-01-01" back as DATE and "3" as INT, so a partitioned
      // table's schema would drift from what was written (and the next
      // append would see a type change). TableStore's contract is
      // partition-columns-are-strings (cast at write); inference off
      // makes the read side honor it.
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Commit-protocol overhead (guide §6/§7.3 "commit … can be very
      // slow with many files"): the engine's lakehouse tier issues MANY
      // small parquet writes per operation (snapshots, deletion vectors,
      // journal/marker/stats appends), and each pays the Hadoop
      // FileOutputCommitter's job-commit walk on the DRIVER. v2 moves the
      // rename to task commit (one rename per file, in parallel, at task
      // end) — safe here because TableStore never exposes a directory
      // until its manifest CAS commits, so a failed write's partial files
      // are unreferenced orphans reaped by the store's own GC either way.
      // _SUCCESS markers are dead weight under an external manifest.
      // SESSION-WIDE CONTRACT (like the partition-inference note above):
      // these settings also govern a user's direct df.write.parquet
      // through this session, where v2 + no-_SUCCESS means a mid-job
      // failure can leave silently-readable partial files with no marker
      // to detect incompleteness. All DURABLE writes must go through
      // TableStore (whose manifest hides partials); direct writes from a
      // Graft session are for scratch/export paths where the caller owns
      // atomicity — or use a separate vanilla SparkSession.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .config("spark.ui.enabled", "false")

  def get(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
