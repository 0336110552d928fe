package graft.table

import graft.ops.Lineage.CutOps
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.charset.StandardCharsets

/** Named parquet tables with atomic manifest swap.
  *
  * One CKAN resource = one flat table (SURVEY §1.1). The reference leans on
  * BigQuery for table atomicity (MERGE and load jobs are atomic —
  * warehouse.py:73-135, 200-297); plain Spark writes are not atomic, so
  * every table state is described by a small `CURRENT` manifest file listing
  * one or more immutable snapshot directories:
  *
  *   root/<table>/snap-<id>/part-*.parquet      (immutable once written)
  *   root/<table>/CURRENT                       ("snap-a\nsnap-b\n…")
  *
  * - `overwrite`/merge commit ONE new snapshot dir and point the manifest
  *   at it alone.
  * - `append` writes ONLY the incoming batch as a new snapshot dir and
  *   points the manifest at old dirs + the new one — O(batch), never a
  *   table rewrite (at 100 TB rewriting the table per append is the
  *   difference between a working pipeline and a dead one). Schema
  *   evolution happens at read time via unionByName(allowMissingColumns);
  *   type CHANGES on an existing column remain a hard error, like the
  *   reference (api_loader.py:133-134).
  * - `overwriteBucketed`/`appendBucketed` write a BUCKETED snapshot: files
  *   hash-bucketed and sorted on key columns, each named with its bucket
  *   id, plus a `_bucketspec` file recording (bucket count, keys, schema)
  *   with the snapshot. [[scan]] reads a manifest whose data snapshots
  *   all carry one spec as ONE bucketed relation, so two tables bucketed
  *   alike join on the keys with no exchange — in any process, with no
  *   catalog entry.
  *
  * A crash between snapshot write and manifest flip leaves the previous
  * state live (orphan dirs are GC'd on the next commit). Works on any
  * Hadoop FileSystem; on S3 the single-file manifest PUT is atomic even
  * though dir-rename is not.
  */
/** @param retainVersions how many committed table versions stay readable
  *   via [[scanAsOf]]. The default 1 keeps only the live version (snapshots
  *   GC as soon as they leave CURRENT — exactly the storage profile of a
  *   plain table); a history store (e.g. 8) retains the last N versions'
  *   manifests AND their snapshot dirs, giving Delta-style time travel for
  *   the cost of the retained deltas.
  *
  *   Commit protocol (multi-writer safe): the COMMIT POINT is the atomic
  *   claim of the next version file `v-NNNNNN` (tmp write + no-overwrite
  *   rename — putIfAbsent). A writer that loses the claim re-reads the
  *   fresh manifest, re-derives its change (append unions re-derive their
  *   snapshot list), and retries the next slot, so two racing appenders
  *   both land and neither's snapshot is lost. CURRENT is a tagged CACHE
  *   of the head (`#v:N` first line), flipped after the claim: readers
  *   prefer the higher of (CURRENT's tag, the highest sealed version
  *   file), so a crash between claim and flip is invisible. Same-process
  *   writers additionally serialize on a per-table lock; cross-process
  *   atomicity delegates to the filesystem's no-overwrite rename (atomic
  *   on HDFS; conditional-put on object stores).
  *
  * @param gcGraceMs snapshot/DV dirs younger than this are never GC'd even
  *   when unreferenced — the cross-PROCESS guard for a writer whose
  *   snapshot is on disk but whose commit hasn't claimed a version yet.
  *   Same-process in-flight writes are tracked exactly (a registry the GC
  *   always spares), so the only writers the grace protects are ones in
  *   OTHER processes — and those exist by default in any real deployment,
  *   so the default is 15 minutes (a few commit-latencies): cross-process
  *   safety is opt-OUT. Single-process tests that assert immediate GC
  *   pass 0 explicitly.
  *
  *   Filesystem contract: the commit claim is putIfAbsent of the next
  *   version file. On `file://` it uses POSIX link(2) (atomic
  *   create-if-absent on every local filesystem); elsewhere it is
  *   FileContext rename WITHOUT overwrite — atomic on HDFS and on object
  *   stores whose connector maps it to a conditional put (S3A since
  *   Hadoop 3.4.1 conditional-write support, GCS, ABFS). On a connector
  *   where no-overwrite rename is exists-check-then-rename, cross-process
  *   claimants can both win a slot; same-process racers are always
  *   serialized by the per-table commit lock regardless of filesystem. */
final class TableStore(spark: SparkSession, root: String,
    retainVersions: Int = 1, gcGraceMs: Long = 15 * 60 * 1000L) {
  require(retainVersions >= 1, "retainVersions must be >= 1")
  require(gcGraceMs >= 0L, "gcGraceMs must be >= 0")

  private[graft] def session: SparkSession = spark
  private def conf = spark.sparkContext.hadoopConfiguration
  private[table] def tableDir(name: String) = new Path(root, name)
  private def currentFile(name: String) = new Path(tableDir(name), "CURRENT")
  private def versionFile(name: String, v: Long) =
    new Path(tableDir(name), f"v-$v%06d")

  // FileSystem.get caches instances but still pays a UGI lookup + cache
  // probe per call, and FileContext.getFileContext builds a fresh
  // AbstractFileSystem every time — measurable when the commit protocol
  // and every scan's manifest resolution call them dozens of times per
  // operation. Key by (scheme, authority): per-store tables share one FS.
  private val fsCache =
    new java.util.concurrent.ConcurrentHashMap[String, FileSystem]()
  // immutable-once-committed manifest-entry dir sizes (the DV broadcast
  // gate): a snapshot/dv dir never changes after its commit,
  // so one getContentSummary per dir serves every later gate probe
  private val dirSizeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val fcCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.hadoop.fs.FileContext]()
  private def cacheKey(p: Path): String = {
    val u = p.toUri
    String.valueOf(u.getScheme) + "\u0000" + String.valueOf(u.getAuthority)
  }
  private[table] def fs(p: Path): FileSystem =
    fsCache.computeIfAbsent(cacheKey(p), _ => p.getFileSystem(conf))

  def exists(name: String): Boolean = {
    val f = currentFile(name)
    fs(f).exists(f) || versions(name).nonEmpty
  }

  def list(): Seq[String] = {
    val r = new Path(root)
    val f = fs(r)
    if (!f.exists(r)) Nil
    else f.listStatus(r).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(_.startsWith(".reap-")) // drop()'s rename-then-reap limbo
      .toSeq.sorted
  }

  /** Raw pointer-file lines (comments included); Nil when absent. */
  private def readPointerLines(f: Path): Seq[String] = {
    val filesystem = fs(f)
    if (!filesystem.exists(f)) Nil
    else {
      val in =
        try filesystem.open(f)
        catch { case _: java.io.FileNotFoundException => return Nil }
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      finally in.close()
    }
  }

  /** Manifest entries of a pointer file — `#`-prefixed metadata lines
    * (CURRENT's `#v:N` tag, version files' `#graft-commit` seal) are
    * dropped; entry names never start with `#`. */
  private def readManifestFile(f: Path): Seq[String] =
    readPointerLines(f).filterNot(_.startsWith("#"))

  /** The seal every version file written by the claim protocol carries as
    * its last line. Its PRESENCE distinguishes a committed claim from a
    * legacy-format version file, making version files authoritative only
    * once a table has been committed by this protocol. */
  private val SealLine = "#graft-commit"

  /** Resolve the live manifest: the higher of CURRENT's `#v:N` tag and the
    * highest SEALED version file wins (they agree except in the claim→flip
    * crash window, where the sealed claim is the committed truth). Legacy
    * tables (untagged CURRENT, unsealed version files) resolve to CURRENT,
    * their original contract. Retries ride out the prune race (a reader
    * listing a version the next commit just retired re-lists and finds the
    * newer head). */
  private[table] def readManifest(name: String): Seq[String] =
    readHead(name)._2

  /** [[readManifest]] plus the HEAD VERSION the manifest corresponds to —
    * the commit loop's read-point. A committer must claim exactly
    * `head + 1`: binding the claim slot to the version its manifest was
    * read at is what makes the claim a compare-and-swap (a racer landing
    * in between takes the slot, our rename fails, and we re-derive from
    * THEIR manifest instead of silently committing over it). */
  private[table] def readHead(name: String): (Long, Seq[String]) = {
    var attempt = 0
    while (true) {
      attempt += 1
      val curLines = readPointerLines(currentFile(name))
      val curTag = curLines.collectFirst {
        case l if l.startsWith("#v:") => l.drop(3).toLong }
      val curSnaps = curLines.filterNot(_.startsWith("#"))
      val vmax = versions(name).lastOption
      // the claim base must clear every number either pointer kind knows
      val base = math.max(vmax.getOrElse(0L), curTag.getOrElse(0L))
      vmax match {
        case Some(v) if curTag.forall(_ < v) =>
          val lines = readPointerLines(versionFile(name, v))
          if (lines.contains(SealLine))
            return (base, lines.filterNot(_.startsWith("#")))
          else if (lines.isEmpty && attempt < 20) () // pruned underneath — re-list
          else if (lines.isEmpty)
            // a head that stays unreadable is NOT license to serve (and
            // worse, commit on top of) the stale CURRENT — that would
            // silently drop every commit between the tag and the head
            throw new IllegalStateException(
              s"head version v$v of $name unreadable after 20 attempts")
          else return (base, curSnaps) // legacy (unsealed) version file: CURRENT is the contract
        case _ => return (base, curSnaps)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Committed versions still readable via [[scanAsOf]], ascending. */
  def versions(name: String): Seq[Long] = {
    val dir = tableDir(name)
    val filesystem = fs(dir)
    if (!filesystem.exists(dir)) Nil
    else filesystem.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v-") => n.drop(2).toLong }
      .toSeq.sorted
  }

  /** Scan = replay of the manifest in commit order: snapshot entries union
    * in (read-time schema evolution — later snapshots may add columns);
    * deletion-vector entries ([[deleteByKeysDV]]) anti-join their key list
    * out of everything that PRECEDES them, so a key re-appended after a
    * takedown is live again — exactly the state a rewrite at each step
    * would have produced, at O(batch)/O(deleted) commit cost. Data
    * snapshots that all carry one bucket spec ([[overwriteBucketed]]) read
    * bucketed, deletion vectors or not: a filter on the bucket keys still
    * prunes buckets below the vectors' anti-join. This replay is the one
    * delete mechanism of the store and of every index built on it. */
  def scan(name: String): DataFrame = {
    val entries = readManifest(name)
    if (entries.isEmpty)
      throw new IllegalArgumentException(s"Table not found: $name")
    readState(name, entries)
  }

  /** Time travel: scan the table as of a retained `version` (from
    * [[versions]]). Same replay + schema evolution as [[scan]]. */
  def scanAsOf(name: String, version: Long): DataFrame = {
    val entries = readManifestFile(versionFile(name, version))
    if (entries.isEmpty)
      throw new IllegalArgumentException(
        s"Version $version of $name not found (retained: ${versions(name).mkString(",")})")
    readState(name, entries)
  }

  private def isDvEntry(e: String): Boolean = e.startsWith("dv-")

  /** The replay core shared by every read path: fold the manifest in
    * commit order — data snapshots union in, deletion vectors anti-join
    * the accumulated state on THEIR OWN columns (the key tuple each DV
    * was written with). A run of consecutive data entries (no vector
    * between them, so their union order is irrelevant) reads through
    * [[fileIndexRead]]: ONE relation per partition-column chain, against
    * the evolved schema folded from the entries' cached footer schemas
    * (parquet null-fills a column a file lacks — exactly the
    * unionByName(allowMissingColumns) semantics). That is the plan-width
    * guard at streaming commit counts: a 600-snapshot un-compacted table
    * planned in ~31 s as a 600-way union and ~1 s merged. CONSECUTIVE
    * vectors — the shape a takedown cadence produces — coalesce into ONE
    * anti-join per key-column set (row removal commutes within the run),
    * so K takedowns cost one join, not K chained joins per scan; a data
    * snapshot between two vectors is a hard barrier (the later vector
    * must also kill re-appended rows). Each anti-join BROADCASTS its key
    * side only while the vectors' on-disk size clears the session's
    * autoBroadcastJoinThreshold; a bulk right-to-erasure batch plans a
    * shuffled anti-join instead of a forced executor-OOM broadcast.
    *
    * A historic type disagreement the fold cannot widen (pre-contract
    * data) reads one relation per ENTRY, each with its own footer schema,
    * and leaves the coercion to the union. Data snapshots that all carry
    * one bucket spec, with no file filter or `__file`, read as bucketed
    * relations: ONE when no vector splits the run, and a vector's
    * anti-join keeps the bucket pruning of a bucket-key filter pushed
    * through it.
    *
    * @param keepFile when set, only the data files passing the predicate
    *   (footer min/max or Bloom file skipping) enter the relations; a run
    *   with no surviving file drops out of the replay, DVs still apply. A
    *   read whose every file is skipped is an empty local relation with
    *   the evolved schema, which runs no Spark job.
    * @param withFile prepend `__file` (= `_metadata.file_path`) to every
    *   row, selected per relation because hidden metadata columns don't
    *   survive unions. */
  private[table] def readState(name: String, entries: Seq[String],
      keepFile: Option[String => Boolean] = None,
      withFile: Boolean = false): DataFrame = {
    val dataEntries = entries.filterNot(isDvEntry)
    require(dataEntries.nonEmpty, s"manifest of $name holds no data snapshots")
    val folded: Option[StructType] =
      try Some(dataEntries.map(entryFooterSchema(name, _)).reduce(mergeEvolved))
      catch { case _: TypeConflict => None }
    // bucket i of every snapshot is one bucket of the scan; a deletion
    // vector anti-joins on top and leaves the bucketing (and the bucket
    // pruning of a filter pushed through it) intact
    val bucketSpec =
      if (keepFile.isDefined || withFile || folded.isEmpty) None
      else uniformBucketSpec(name, dataEntries)
    def union(a: DataFrame, b: DataFrame) =
      a.unionByName(b, allowMissingColumns = true)
    // segment the manifest: consecutive DATA entries as one run,
    // consecutive DV entries as one run (anti-joins against the same
    // accumulated state commute, so a run can regroup freely)
    val segments = entries.foldLeft(List.empty[Either[List[String], List[String]]]) {
      case (Right(run) :: rest, e) if isDvEntry(e) => Right(run :+ e) :: rest
      case (acc, e) if isDvEntry(e)                => Right(List(e)) :: acc
      case (Left(run) :: rest, e)                  => Left(run :+ e) :: rest
      case (acc, e)                                => Left(List(e)) :: acc
    }.reverse
    val replayed = segments.foldLeft(Option.empty[DataFrame]) { (acc, seg) =>
      seg match {
        case Right(run) => acc.map(applyDvRun(name, _, run))
        case Left(run) =>
          fileIndexRead(name, run, folded, keepFile, bucketSpec, withFile)
            .reduceOption(union) match {
              case None    => acc
              case Some(f) => Some(acc.fold(f)(union(_, f)))
            }
      }
    }
    replayed.getOrElse {
      // no file left to read: a local relation (no Spark job) with the
      // schema the union would have carried
      import org.apache.spark.sql.types.{StringType, StructField}
      def empty(schema: StructType) = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      val schema = folded.getOrElse(dataEntries
        .map(e => empty(entryFooterSchema(name, e))).reduce(union).schema)
      empty(if (!withFile) schema
        else StructType(StructField("__file", StringType, nullable = false) +:
          schema.fields))
    }
  }

  /** The snapshot-directory segment of a manifest entry — the entry
    * itself for plain snapshots, the leading segment for partition-subset
    * entries (`snap-x/lang=en` → `snap-x`). GC keys on this: a live
    * subset reference keeps its whole snapshot directory alive. */
  private def snapRootOf(e: String): String = e.takeWhile(_ != '/')

  /** Manifest-entry grammar: `root(/col=val)*(/!col=val)*` — the snapshot
    * dir, then zero+ INCLUDE segments (the partition directories a
    * [[dropPartitions]] descent pinned), then zero+ EXCLUSION segments
    * (the partition directories a drop removed, all on one column).
    * Returns the physical read prefix (root + includes — a real directory)
    * and the excluded dir names (hive-escaped, `col=value`). Both
    * renderings of a drop are O(metadata); [[representSubset]] picks
    * whichever keeps the manifest (and the scan's replay union) small. */
  private def parseEntry(e: String): (String, Seq[String]) = {
    val segs = e.split('/')
    val (exc, inc) = segs.partition(_.startsWith("!"))
    (inc.mkString("/"), exc.map(_.stripPrefix("!")).toIndexedSeq)
  }

  /** The schema a read of one manifest entry carries, read on the driver
    * with no Spark job from the footer of the entry's first data file:
    * the Spark row metadata the writer recorded, else the parquet schema
    * converted under the session conf — what Spark's own inference reads
    * (`ParquetFileFormat.readSchemaFromFooter`) — forced all-nullable as a
    * file-source relation forces it, with the entry's partition columns
    * appended as strings. A bucketed snapshot's is the one its
    * `_bucketspec` records (a zero-row bucketed write leaves no data file
    * to read a footer from). Entry dirs are immutable once committed, so
    * the schema caches for the store's lifetime — repeated scans of an
    * N-snapshot table pay N footer reads ONCE, then O(new entries) — and
    * [[writeDataDir]] primes it for the entries it writes. */
  private def entryFooterSchema(name: String, e: String): StructType = {
    val p = new Path(tableDir(name), parseEntry(e)._1)
    footerSchemaCache.computeIfAbsent(
      fs(p).makeQualified(p).toString,
      _ => entryBucketing(name, e).map(_._2).getOrElse {
        import org.apache.spark.sql.execution.datasources.parquet.{
          ParquetFileFormat, ParquetToSparkSchemaConverter}
        import org.apache.spark.sql.types.{StringType, StructField}
        val (chain, leaves) = enumerateEntry(name, e)
        val file = leaves.iterator.flatMap(_._3).nextOption().getOrElse(
          throw new IllegalStateException(s"entry $e of $name holds no data file"))
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf))
        val footer = try r.getFooter finally r.close()
        val data = ParquetFileFormat.readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(file.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        StructType(data.fields.filterNot(f => chain.contains(f.name)).map(f =>
          f.copy(dataType = allNullable(f.dataType), nullable = true)) ++
          chain.map(StructField(_, StringType, nullable = true)))
      })
  }

  private val footerSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]

  /** The bucket spec and schema a bucketed snapshot was written with,
    * from the `_bucketspec` file in its directory (Spark's file listing
    * skips `_`-prefixed names); None for plain snapshots, partition
    * subsets and deletion vectors. Recorded once with the snapshot and
    * never rewritten, so it caches for the store's lifetime like
    * [[entryFooterSchema]]; [[writeDataDir]] primes it for its own
    * snapshots. */
  private def entryBucketing(name: String,
      e: String): Option[(BucketSpec, StructType)] =
    if (isDvEntry(e) || e.contains('/')) None
    else {
      val p = new Path(tableDir(name), e)
      bucketingCache.computeIfAbsent(fs(p).makeQualified(p).toString, _ =>
        readSmallFile(new Path(p, BucketingFile)).map { txt =>
          import org.json4s.jackson.JsonMethods
          val j = JsonMethods.parse(txt)
          val keys = (j \ "keys").values.asInstanceOf[List[String]]
          (BucketSpec((j \ "numBuckets").values.asInstanceOf[BigInt].toInt,
            keys, keys), org.apache.spark.sql.types.DataType.fromJson(
              JsonMethods.compact(j \ "schema")).asInstanceOf[StructType])
        })
    }

  /** The one bucket spec every data entry of `entries` carries; None when
    * any of them is unbucketed or their specs differ. */
  private def uniformBucketSpec(name: String,
      entries: Seq[String]): Option[BucketSpec] =
    entries.filterNot(isDvEntry).map(entryBucketing(name, _).map(_._1))
      .distinct match {
        case Seq(spec) => spec
        case _         => None
      }

  private val BucketingFile = "_bucketspec"

  private val bucketingCache = new java.util.concurrent.ConcurrentHashMap[
    String, Option[(BucketSpec, StructType)]]

  /** One manifest entry resolved to its partition-column chain and leaf
    * partition directories, each with its (unescaped, null-mapped) values
    * and its data files — the rows of the explicit PartitionSpec
    * [[fileIndexRead]] builds from. A flat snapshot is
    * `(Nil, Seq((dir, Nil, files)))`; an include entry pins its path
    * segments' values; an exclusion entry's dropped directories are
    * skipped at enumeration, so they never reach a file index. Every
    * directory listing caches per store ([[listDirCached]]). */
  private def enumerateEntry(name: String, e: String)
      : (Seq[String], Seq[(Path, Seq[String], Seq[FileStatus])]) = {
    val segs = e.split('/')
    val incSegs = segs.drop(1).filterNot(_.startsWith("!")).toSeq
    val exclSet = segs.drop(1).filter(_.startsWith("!"))
      .map(_.stripPrefix("!")).toSet
    val physPath = {
      val p = new Path(tableDir(name), (segs.head +: incSegs).mkString("/"))
      fs(p).makeQualified(p)
    }
    def valueOf(seg: String): String = {
      val v = partValue(seg)
      if (v == org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else v
    }
    def descend(p: Path, skip: Set[String])
        : (Seq[String], Seq[(Path, Seq[String], Seq[FileStatus])]) = {
      val (kids, files) = listDirCached(p)
      if (kids.isEmpty) (Nil, Seq((p, Nil, files)))
      else {
        val c = kids.head.takeWhile(_ != '=')
        val parts = kids.filter(_.startsWith(c + "=")).filterNot(skip)
          .map { d =>
            val (subCols, leaves) = descend(new Path(p, d), Set.empty)
            (subCols,
              leaves.map { case (lp, lv, lf) => (lp, valueOf(d) +: lv, lf) })
          }
        val subCols = parts.headOption.map(_._1).getOrElse(Nil)
        (c +: subCols, parts.flatMap(_._2))
      }
    }
    val (belowCols, leaves) = descend(physPath, exclSet)
    val fixedCols = incSegs.map(_.takeWhile(_ != '='))
    val fixedVals = incSegs.map(valueOf)
    (fixedCols ++ belowCols,
      leaves.map { case (p, vs, files) => (p, fixedVals ++ vs, files) })
  }

  /** [[writeSnapshot]] preserving the uniform hive layout of `basis`
    * (flat when mixed/flat or when the frame lacks the layout columns) —
    * the write primitive for rewrite commits that do not go through
    * [[rewriteConditional]] (branch merge/rebase). */
  private def writeLayoutPreserving(name: String, basis: Seq[String],
      df: DataFrame): String = {
    val layout0 = inferredLayout(name, basis)
    val layout = if (layout0.forall(df.columns.contains)) layout0 else Nil
    writeSnapshot(name,
      if (layout.isEmpty) df else stringifyParts(df, layout),
      partitionBy = layout)
  }

  /** The partition-column chain shared by EVERY data entry of `basis`,
    * or Nil when the layouts are mixed or flat — what a conditional
    * rewrite writes back so it never silently flattens a uniformly
    * partitioned table. Cached entry listings make this O(entries)
    * metadata on first touch. */
  private def inferredLayout(name: String, basis: Seq[String]): Seq[String] =
    entryChains(name, basis) match {
      case Seq(one) => one
      case _        => Nil
    }

  /** The DISTINCT partition-column chains across `basis`' data entries
    * (an empty chain = a flat snapshot; zero-row fallback snapshots are
    * ignored — they carry no layout information and must not flatten a
    * uniform chain). */
  private def entryChains(name: String, basis: Seq[String]): Seq[Seq[String]] =
    basis.filterNot(isDvEntry)
      .map(e => (e, enumerateEntry(name, e)._1))
      .filterNot { case (e, chain) =>
        chain.isEmpty &&
          isZeroRowDir(new Path(tableDir(name), parseEntry(e)._1))
      }
      .map(_._2).distinct

  /** The distinct hive partition-column chains across the live data
    * entries of `name` — `Seq(Nil)` for an all-flat table, one non-empty
    * chain when uniformly partitioned, several entries when MIXED.
    * [[tableLayout]] collapses this to Nil for both flat and mixed;
    * layout-aware maintenance needs the difference (a mixed manifest
    * must not be silently flattened by a fold). Cached directory
    * metadata only. */
  def entryLayouts(name: String): Seq[Seq[String]] =
    entryChains(name, readManifest(name))

  /** One immutable entry directory's hive partition subdirectory names
    * and data (`part-`) files, listed once per store: every read, footer
    * and layout probe of the entry shares this listing. */
  private def listDirCached(p: Path): (Seq[String], Seq[FileStatus]) =
    dirListingCache.computeIfAbsent(
      fs(p).makeQualified(p).toString,
      _ => {
        val st = fs(p).listStatus(p).toSeq
        (st.collect { case s if s.isDirectory && s.getPath.getName.contains('=') =>
            s.getPath.getName }.sorted,
          st.filter(s => !s.isDirectory && s.getPath.getName.startsWith("part-"))
            .sortBy(_.getPath.getName))
      })

  private val dirListingCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[String], Seq[FileStatus])]

  /** True iff entry directory `p` holds only zero-row `part-` files — the
    * shape [[writeDataDir]]'s partitioned-write fallback leaves behind
    * when a rewrite empties a partitioned table (a full DV takedown folded
    * by compactPartitioned). Such a snapshot carries a schema but no rows
    * and therefore no layout information: the layout-contract checks
    * ([[dropPartitions]], [[partitionValues]], [[inferredLayout]]) treat
    * it as the documented zero-row nothing-to-drop case instead of
    * hard-erroring a standing retention sweep on a table a takedown
    * emptied. Footer metadata only (parquet row counts) over the cached
    * listing, cached for the store's lifetime like every immutable-entry
    * stat. */
  private def isZeroRowDir(p: Path): Boolean =
    zeroRowCache.computeIfAbsent(
      fs(p).makeQualified(p).toString,
      _ => {
        val parts = listDirCached(p)._2
        java.lang.Boolean.valueOf(parts.nonEmpty && parts.forall { s =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, conf))
          try r.getRecordCount == 0L finally r.close()
        })
      }).booleanValue()

  private val zeroRowCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]

  /** The one way manifest entries become relations: ONE parquet relation
    * per partition-column chain of `run` (per ENTRY, each with its own
    * footer schema, when `schema` is None), over the store's own cached
    * listing of the entries' leaf directories, with the manifest's
    * partition values as an EXPLICIT PartitionSpec — the Delta/Iceberg
    * manifest-file-index pattern. Spark lists and infers nothing: an
    * exclusion entry's dropped directories never enter the listing, and
    * partition pruning, pushdown and metadata columns ride the standard
    * FileSourceScan path. Partition values are strings by the store's
    * layout contract; the read schema is top-level nullable (a
    * later-added column IS null for earlier files).
    *
    * @param keepFile only the files passing it are read; a group with no
    *   file left yields no relation
    * @param bucketSpec recorded on the relation — what a path read cannot
    *   build (Spark records bucketing only for catalog tables)
    * @param withFile prepend `__file` (= `_metadata.file_path`) */
  private def fileIndexRead(name: String, run: Seq[String],
      schema: Option[StructType], keepFile: Option[String => Boolean] = None,
      bucketSpec: Option[BucketSpec] = None,
      withFile: Boolean = false): Seq[DataFrame] = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, PartitionPath, PartitionSpec}
    import org.apache.spark.sql.types.{StringType, StructField}
    val listed = run.map(e => e -> enumerateEntry(name, e))
    val groups =
      if (schema.isEmpty) listed.map(Seq(_))
      else listed.groupBy(_._2._1).toSeq.sortBy(_._1.mkString(",")).map(_._2)
    groups.flatMap { group =>
      val cols = group.head._2._1
      val leaves = group.flatMap(_._2._2).map { case (dir, vals, files) =>
        (dir, vals,
          keepFile.fold(files)(k => files.filter(f => k(f.getPath.toUri.toString))))
      }
      if (leaves.forall(_._3.isEmpty)) None
      else {
        val partSchema = StructType(
          cols.map(c => StructField(c, StringType, nullable = true)))
        val dataSchema = StructType(
          schema.getOrElse(entryFooterSchema(name, group.head._1)).fields
            .filterNot(f => cols.contains(f.name)).map(_.copy(nullable = true)))
        val spec = PartitionSpec(partSchema, leaves.map { case (dir, vals, _) =>
          PartitionPath(
            org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals.map(v =>
              if (v == null) null
              else org.apache.spark.unsafe.types.UTF8String.fromString(v))),
            dir)
        })
        val df = spark.baseRelationToDataFrame(HadoopFsRelation(
          new TableStore.ListedFileIndex(spark, spec,
            leaves.map { case (dir, _, files) => dir -> files }),
          partSchema, dataSchema, bucketSpec,
          new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
          Map.empty[String, String])(spark))
        Some(
          if (!withFile) df
          else df.select(col("_metadata.file_path").as("__file") +:
            df.columns.map(col).toIndexedSeq: _*))
      }
    }
  }

  /** Apply one run of consecutive deletion vectors to `df` as ONE
    * anti-join per distinct key-column SET (vectors sharing a key tuple
    * union; column order per vector is normalized, so the same keys
    * written in a different order still merge). The broadcast hint is
    * SIZE-GATED on the vectors' on-disk bytes — already-local manifest
    * metadata, one getContentSummary per dv dir — against the session's
    * autoBroadcastJoinThreshold: under it, the hint guarantees the table
    * side never shuffles (the routine takedown); over it (bulk erasure),
    * the planner is left free and the anti-join shuffles both sides
    * instead of OOMing an executor. Threshold <= 0 (broadcast disabled)
    * never hints. */
  private def applyDvRun(name: String, df: DataFrame, run: Seq[String]): DataFrame = {
    // column set per vector from the CACHED footer (dv dirs are immutable
    // once committed — no per-scan schema pass, and the size stat caches
    // the same way: a takedown-heavy table is also a scan-heavy table,
    // and the gate must stay metadata-cheap)
    val metas = run.map { e =>
      (entryFooterSchema(name, e).fieldNames.sorted.toIndexedSeq, e) }
    val order = metas.map(_._1).distinct // deterministic: first appearance
    // a USING join moves its key columns first; the replay keeps the
    // table's own column order
    val columns = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    order.foldLeft(df) { (acc, cols) =>
      val group = metas.collect { case (c, e) if c == cols => e }
      val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
      val hint = threshold > 0 && group.map(entryBytes(name, _)).sum <= threshold
      // ONE relation per key-column set (the group shares one column set
      // by construction; parquet matches fields by name), not one per
      // vector — K takedowns before a compaction stay one scan node
      fileIndexRead(name, group, Some(entryFooterSchema(name, group.head)))
        .foldLeft(acc) { (a, read) =>
          val keys = read.select(cols.map(col): _*)
          a.join(if (hint) broadcast(keys) else keys, cols, "left_anti")
        }
    }.select(columns.toIndexedSeq: _*)
  }

  /** Cached on-disk bytes of one manifest entry's directory (snapshot,
    * partition subset, or dv). Entry dirs are immutable once committed, so
    * the getContentSummary result is cached for the store's lifetime.
    * Exclusion entries stat their physical prefix — an OVERESTIMATE that
    * still counts the dropped partitions' bytes, which only makes the
    * broadcast size gates MORE conservative (never a forced broadcast of
    * something bigger than measured). */
  private def entryBytes(name: String, entry: String): Long = {
    val p = new Path(tableDir(name), parseEntry(entry)._1)
    dirSizeCache.computeIfAbsent(
      fs(p).makeQualified(p).toString,
      _ => java.lang.Long.valueOf(fs(p).getContentSummary(p).getLength)
    ).longValue()
  }

  /** Live on-disk bytes of `name` — the sum over its manifest entries'
    * directories, each stat'd once per store (immutable once committed).
    * O(entries) metadata calls on first touch, O(new entries) after. */
  def tableDataBytes(name: String): Long =
    readManifest(name).map(entryBytes(name, _)).sum

  /** The live manifest, read-only — for operational introspection
    * (entry counts in maintenance dashboards, manifest-growth smokes).
    * Entry strings are the store's internal grammar; treat as opaque. */
  def manifestEntries(name: String): Seq[String] = readManifest(name)

  /** The uniform hive partition-column chain shared by every live data
    * entry of `name`, or Nil when the layouts are flat or mixed — what
    * layout-aware maintenance keys on to choose [[compactPartitioned]]
    * over [[compact]] without being told the layout. Cached directory
    * metadata only (zero-row fallback snapshots are ignored, like every
    * layout check). */
  def tableLayout(name: String): Seq[String] =
    inferredLayout(name, readManifest(name))

  /** Per-snapshot frames with the physical file path attached (replay
    * semantics identical to [[scan]], DVs applied). */
  private def scanWithFile(name: String): DataFrame = {
    val entries = readManifest(name)
    if (entries.isEmpty)
      throw new IllegalArgumentException(s"Table not found: $name")
    readState(name, entries, withFile = true)
  }

  /** [[refreshBloomFilters]] with the sidecar's own recorded column set
    * (the distinct `column` values — which include the per-column
    * sentinel rows, so the analyzed set survives a refresh that leaves
    * zero data rows). No-op without a sidecar. */
  def refreshBloomFilters(name: String): Unit = {
    val btName = bloomTable(name)
    if (!exists(btName)) return
    val cols = scan(btName).select("column").distinct().collect()
      .map(_.getString(0)).toSeq
    if (cols.nonEmpty) refreshBloomFilters(name, cols)
  }

  /** Sentinel `file` value under which the Bloom sidecar records its
    * ANALYZED COLUMN SET independent of data rows: one zero-position row
    * per analyzed column, rewritten by every analyze/refresh. Without
    * it, a refresh that finds all recorded files dead and nothing fresh
    * would overwrite the sidecar EMPTY — and the no-argument
    * [[refreshBloomFilters]] (the maintenance cadence) would then no-op
    * forever, silently never regaining pruning. Probes never match it:
    * no data file is named `__analyzed__`. */
  private val BloomSentinel = "__analyzed__"

  private def bloomSentinelRows(cols: Seq[String], bits: Int,
      hashes: Int): DataFrame = {
    import spark.implicits._
    cols.toDF("column").select(
      lit(BloomSentinel).as("file"), col("column"),
      typedLit(Array.empty[Long]).as("positions"),
      lit(bits).as("bits"), lit(hashes).as("hashes"))
  }

  /** The live data files (deletion-vector dirs excluded; an exclusion
    * entry's dropped-partition files too — a sidecar row for a file the
    * scan can never read would hold the whole sidecar un-foldable).
    * Derived from the manifest's own leaf-directory enumeration, so an
    * exclusion entry's dropped directories never ENTER the listing —
    * liveness never rides on substring-matching rendered path strings
    * (which a filesystem re-encoding hive-escaped `%XX` dir names would
    * silently break). Pure directory metadata — no parquet relation is
    * analyzed just to list files. */
  private def dataFiles(name: String): Seq[String] =
    // toUri, not toString: [[pathOf]] normalization parses these as URIs,
    // and a raw rendering of an escaped-value partition dir (spaces, '%')
    // is not a parseable URI
    readManifest(name).filterNot(isDvEntry)
      .flatMap(enumerateEntry(name, _)._2.flatMap(_._3))
      .map(_.getPath.toUri.toString)

  /** Incremental-refresh scaffolding of the Bloom sidecar:
    * given the sidecar's `file` values, split the world into SURVIVORS
    * (sidecar rows for still-live files, filtered by the exact values
    * the column holds) and the known set for fresh-file discovery.
    * Matching is driver-side on [[pathOf]]-normalized values, so URI
    * scheme/authority/percent-encoding differences between the
    * sidecar's rendering and `inputFiles`' can never drop live rows —
    * all sets are file-count-sized (manifest metadata, never data). */
  private case class SidecarDelta(
      survivors: DataFrame, knownPaths: Set[String], hasFresh: Boolean)
  private def sidecarDelta(name: String, sidecar: DataFrame): SidecarDelta = {
    val fileVals = sidecar.select("file").distinct().collect()
      .map(_.getString(0))
    val known = fileVals.map(pathOf).toSet
    val liveSet = dataFiles(name).map(pathOf).toSet
    val survivorVals = fileVals.filter(v => liveSet.contains(pathOf(v)))
    val survivors =
      if (survivorVals.isEmpty) sidecar.where(lit(false))
      else sidecar.where(sidecar("file").isin(survivorVals.toSeq: _*))
    SidecarDelta(survivors, known, !liveSet.forall(known.contains))
  }

  /** Incremental Bloom-sidecar refresh: only files unseen by
    * [[analyzeBloomFilters]] or an earlier refresh are scanned, dead
    * files' rows dropped, build parameters taken from the existing
    * sidecar so probe and build can never hash differently. */
  def refreshBloomFilters(name: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "refreshBloomFilters: at least one column")
    val btName = bloomTable(name)
    if (!exists(btName)) return analyzeBloomFilters(name, cols)
    val bt = scan(btName)
    // EXACT column-set match or full re-analyze — a subset would index
    // fresh files for only the requested columns while still marking
    // them known, so the other columns' rows would NEVER be backfilled
    val have = bt.select("column").distinct().collect().map(_.getString(0)).toSet
    if (have != cols.toSet) return analyzeBloomFilters(name, cols)
    val params = bt.select("bits", "hashes").distinct().collect()
    require(params.length == 1,
      s"refreshBloomFilters: mixed bits/hashes in Bloom sidecar of $name")
    val (bits, hashes) = (params.head.getInt(0), params.head.getInt(1))
    // sentinels out of the delta (they are not files to keep alive) and
    // regenerated into the result — the analyzed column set must survive
    // even a refresh whose survivor AND fresh sets are both empty
    val d = sidecarDelta(name, bt.where(col("file") =!= BloomSentinel))
    val next =
      if (!d.hasFresh) d.survivors
      else {
        val df = readState(name, readManifest(name),
          keepFile = Some(f => !d.knownPaths.contains(pathOf(f))),
          withFile = true)
        val perCol = cols.map { c =>
          df.where(col(c).isNotNull)
            .select(col("__file").as("file"), lit(c).as("column"),
              explode(bloomPositions(col(c), bits, hashes)).as("pos"))
        }
        val newPart = perCol.reduce(_ unionByName _)
          .groupBy("file", "column")
          .agg(collect_set(col("pos")).as("positions"))
          .withColumn("bits", lit(bits))
          .withColumn("hashes", lit(hashes))
        d.survivors.unionByName(newPart)
      }
    overwrite(btName,
      next.unionByName(bloomSentinelRows(cols, bits, hashes)))
  }

  /** `scan(name).where(colName BETWEEN lo AND hi)` with file skipping by
    * the parquet footers: a data file whose every row group is all-null
    * in the column or lies wholly outside [lo, hi] is dropped from the
    * read plan. The footers are the ones [[columnRowGroups]] reads, cached
    * per immutable entry, so a fresh append is skippable by the next read
    * with nothing to analyze or refresh. The residual predicate still
    * decides every row, so the result is ALWAYS exactly the filtered
    * table; deletion vectors and exclusion entries do not block skipping
    * (a file's footer range covers its live rows).
    *
    * Files are kept wherever the footers cannot answer: a column that is
    * not a signed integer (timestamp, decimal, date, string, double), a
    * partition column, a footer without statistics, or a bound that is
    * not an integer (a `25.5` is never truncated). `colName` resolves the
    * way Spark resolves it. A read that skips nothing is plain [[scan]]. */
  def scanPruned(name: String, colName: String, lo: Any, hi: Any): DataFrame = {
    val entries = readManifest(name)
    if (entries.isEmpty)
      throw new IllegalArgumentException(s"Table not found: $name")
    def integral(v: Any): Option[Long] = v match {
      case n: Long  => Some(n)
      case n: Int   => Some(n.toLong)
      case n: Short => Some(n.toLong)
      case n: Byte  => Some(n.toLong)
      case _        => None
    }
    val skip = (integral(lo), integral(hi)) match {
      case (Some(l), Some(h)) =>
        entries.filterNot(isDvEntry)
          .flatMap(entryRowGroups(name, _, colName).getOrElse(Nil))
          .collect { case (file, groups)
            if groups.forall(g => g.max.forall(_ < l) || g.min.exists(_ > h)) => file }
          .toSet
      case _ => Set.empty[String]
    }
    val df =
      if (skip.isEmpty) readState(name, entries)
      else readState(name, entries, keepFile = Some(f => !skip.contains(pathOf(f))))
    df.where(col(colName) >= lit(lo) && col(colName) <= lit(hi))
  }

  /** Scheme-independent path component ("file:/x", "file:///x", "/x" all
    * compare equal) — `inputFiles` and `_metadata.file_path` may render
    * the same file with different URI spellings. */
  private def pathOf(uri: String): String = new java.net.URI(uri).getPath

  def bloomTable(name: String): String = s"${name}_bloom"

  /** Build/refresh manifest-level Bloom filters of `name`: one sidecar row
    * per (physical file, column) holding the file's set of Bloom bit
    * positions for that column's values.
    *
    * Footer min/max ([[scanPruned]]) prunes RANGE predicates, but min/max
    * is blind to EQUALITY on high-cardinality unordered columns (a host
    * name or doc hash is "within range" of almost every file). This is
    * the file-level Bloom index Delta/Iceberg keep in manifests, rebuilt
    * on plain parquet: `hashes` positions per value over a `bits`-slot
    * space (defaults ≈ 128k slots / 5 hashes — <1% false-file rate at
    * ~18k distinct values per file, position sets capped at `bits`
    * entries ~1 MB per file-column worst case). Cost: one narrow scan,
    * explode factor `hashes` per value, partial-agg `collect_set` whose
    * merged size is bounded by `bits` — never by row count. The params
    * ride in the sidecar rows so the probe side can never hash
    * differently than the build side. */
  def analyzeBloomFilters(name: String, cols: Seq[String],
      bits: Int = 1 << 17, hashes: Int = 5): Unit = {
    require(cols.nonEmpty, "analyzeBloomFilters: at least one column")
    require(bits > 0 && hashes > 0, "analyzeBloomFilters: bits, hashes > 0")
    val df = scanWithFile(name)
    cols.foreach(c => require(df.columns.contains(c),
      s"analyzeBloomFilters: no such column $c in $name"))
    val perCol = cols.map { c =>
      df.where(col(c).isNotNull)
        .select(col("__file").as("file"), lit(c).as("column"),
          explode(bloomPositions(col(c), bits, hashes)).as("pos"))
    }
    val bloom = perCol.reduce(_ unionByName _)
      .groupBy("file", "column")
      .agg(collect_set(col("pos")).as("positions"))
      .withColumn("bits", lit(bits))
      .withColumn("hashes", lit(hashes))
    overwrite(bloomTable(name),
      bloom.unionByName(bloomSentinelRows(cols, bits, hashes)))
  }

  /** The `hashes` Bloom positions of a value: `xxhash64(v, i) mod bits`
    * for i < hashes — evaluated identically at build and probe time. */
  private def bloomPositions(c: org.apache.spark.sql.Column, bits: Int,
      hashes: Int): org.apache.spark.sql.Column =
    array((0 until hashes).map(i =>
      pmod(xxhash64(c, lit(i)), lit(bits.toLong))): _*)

  /** `scan(name).where(colName = value)` with Bloom file skipping: files
    * whose position set provably lacks one of the value's positions are
    * dropped from the read plan before Spark sees them. Same safety
    * contract as [[scanPruned]]: the residual equality predicate decides
    * every row, skipping only shrinks the file list; files appended after
    * the last [[analyzeBloomFilters]] have no sidecar row and are read
    * unpruned; no sidecar at all → plain filtered scan. */
  def scanBloomPruned(name: String, colName: String, value: Any): DataFrame = {
    require(value != null, "scanBloomPruned: equality to NULL never matches")
    def resid(df: DataFrame) = df.where(col(colName) === lit(value))
    val base = scan(name)
    if (!exists(bloomTable(name))) return resid(base)
    // "was it analyzed" is decided WITH the sentinel row (an analyzed
    // column whose data rows all died must read unpruned, not throw);
    // the skip set below is derived from data rows only
    val btAll = scan(bloomTable(name)).where(col("column") === colName)
    val bt = btAll.where(col("file") =!= BloomSentinel)
    // (probe hashing needs the column's type from the evolved schema)
    val params = btAll.select("bits", "hashes").distinct().collect()
    if (params.isEmpty)
      throw new IllegalArgumentException(
        s"scanBloomPruned: Bloom sidecar of $name was not analyzed for " +
          s"$colName — re-run analyzeBloomFilters($name, Seq(..., $colName, ...))")
    require(params.length == 1,
      s"scanBloomPruned: mixed bits/hashes in Bloom sidecar of $name")
    val (bits, hashes) = (params.head.getInt(0), params.head.getInt(1))
    // the probe value's positions, via the same engine expression as the
    // build (one local 1-row job — never a reimplementation of the hash)
    val probe = spark.range(1).select(bloomPositions(
      lit(value).cast(base.schema(colName).dataType), bits, hashes).as("p"))
      .first().getSeq[Long](0)
    val skip = bt
      .where(!probe.map(p => array_contains(col("positions"), p))
        .reduce(_ && _))
      .select("file").collect().map(r => pathOf(r.getString(0))).toSet
    resid(readState(name, readManifest(name),
      keepFile = Some(f => !skip.contains(pathOf(f)))))
  }

  /** Snapshot CDC: row-level difference between two retained versions —
    * the change feed a downstream consumer replays to follow the table
    * without re-reading it (the reference's change-detection predicate
    * lifted from merge-time to whole-version granularity).
    *
    * Output: key columns + `op` (`insert` | `delete` | `update`) +
    * `changed_cols` (sorted names of non-key columns whose value differs,
    * null-safe comparison; null for insert/delete). Unchanged rows are NOT
    * emitted, so the result is change-sized, not table-sized.
    *
    * Scale shape: one full-outer join co-keyed on `keys` — both sides
    * shuffle once on the key (bucket both versions on the key to make
    * even that exchange-free); the change classification is a per-row
    * projection. Keys must be unique per version (the MERGE precondition
    * this store already enforces on upsert paths). */
  def diffVersions(name: String, fromV: Long, toV: Long,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "diffVersions: at least one key column")
    diffFrames(scanAsOf(name, fromV), scanAsOf(name, toV), keys)
  }

  /** Keyed row diff of two frames — (keys..., op ∈ insert/update/delete,
    * changed_cols) from a's state to b's. The full-outer-join core of
    * [[diffVersions]] and [[mergeBranch]]. */
  private[table] def diffFrames(
      a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame = {
    val nonKey = b.columns.filter(c => !keys.contains(c) && a.columns.contains(c))
    val keyCond = keys.map(k => a(k) <=> b(k)).reduce(_ && _)
    val joined = a.as("a").join(b.as("b"), keyCond, "full_outer")
    val changed = array_sort(filter(
      array(nonKey.sorted.map(c =>
        when(col(s"a.$c") <=> col(s"b.$c"), lit(null).cast("string"))
          .otherwise(lit(c))).toIndexedSeq: _*),
      c => c.isNotNull))
    joined
      .withColumn("__a_present",
        keys.map(k => col(s"a.$k").isNotNull).reduce(_ || _))
      .withColumn("__b_present",
        keys.map(k => col(s"b.$k").isNotNull).reduce(_ || _))
      .withColumn("op",
        when(!col("__a_present"), lit("insert"))
          .when(!col("__b_present"), lit("delete"))
          .otherwise(lit("update")))
      .withColumn("changed_cols",
        when(col("op") === "update", changed).otherwise(lit(null)))
      .where(col("op") =!= "update" || size(col("changed_cols")) > 0)
      .select(keys.map(k =>
        coalesce(col(s"b.$k"), col(s"a.$k")).as(k)) ++
        Seq(col("op"), col("changed_cols")): _*)
  }

  /** Write df as the whole new state of `name` (atomic manifest flip). */
  def overwrite(name: String, df: DataFrame): Unit = {
    val snap = writeSnapshot(name, df)
    val done = commitOwning(name, snap)(_ => Some(Seq(snap)))
    assert(done, s"unconditional overwrite of $name cannot abort")
  }

  /** Overwrite with the data CLUSTERED on `clusterKeys`: range-partitioned
    * and sorted within files, so parquet row-group min/max statistics make
    * key-predicate scans prune most of the table (data skipping needs only
    * the file statistics; [[overwriteBucketed]] also spares the shuffle of
    * joins on the keys). The natural layout for tables merged/exported by
    * `_id` or filtered on a stable key at 100 TB. */
  def overwriteClustered(name: String, df: DataFrame, clusterKeys: Seq[String],
      numFiles: Option[Int] = None): Unit = {
    val keys = clusterKeys.map(org.apache.spark.sql.functions.col)
    val shaped = numFiles match {
      case Some(n) => df.repartitionByRange(n, keys: _*)
      case None    => df.repartitionByRange(keys: _*)
    }
    overwrite(name, shaped.sortWithinPartitions(keys: _*))
  }

  /** Z-order (Morton curve) multi-column clustering: interleaves the bits
    * of each column's min/max-scaled value so that a range predicate on
    * ANY clustered column touches files whose per-column min/max stats are
    * narrow — parquet row-group skipping then prunes on every clustered
    * dimension. [[overwriteClustered]]'s linear order gives perfect
    * pruning on the leading key and NONE on the others; Z-order trades a
    * little leading-key locality for pruning on all d dimensions — the
    * standard layout for multi-dimensional slice queries over 100 TB
    * (the same curve behind Delta's OPTIMIZE ZORDER BY).
    *
    * Cost: one O(d)-value min/max aggregation (driver-collected), a pure
    * bitwise codegen'd z-value expression, and the same range-partition +
    * sort shuffle as any clustered rewrite. Numeric columns only; nulls
    * and degenerate (min==max) columns map to 0. */
  def overwriteZOrdered(name: String, df: DataFrame, clusterKeys: Seq[String],
      numFiles: Option[Int] = None, bits: Int = 16): Unit = {
    val z = zOrderValue(df, clusterKeys, bits)
    var zc = "__z"
    while (df.columns.contains(zc)) zc += "_"
    val withZ = df.withColumn(zc, z)
    val shaped = numFiles match {
      case Some(n) => withZ.repartitionByRange(n, col(zc))
      case None    => withZ.repartitionByRange(col(zc))
    }
    overwrite(name, shaped.sortWithinPartitions(col(zc)).drop(zc))
  }

  /** The interleaved z-value: column d contributes its scaled bit i at
    * output position `i*D + d` (higher columns own the higher tie-break
    * bits). Scaling is min/max to `[0, 2^effBits)`; effBits shrinks so the
    * interleaved value fits in a positive long. */
  private def zOrderValue(df: DataFrame, keys: Seq[String], bits: Int): org.apache.spark.sql.Column = {
    require(keys.size >= 2, "z-order needs at least two columns; use overwriteClustered for one")
    val d = keys.size
    val effBits = math.min(bits, 62 / d)
    val statsRow = df.agg(
      lit(0L).as("__zero"),
      keys.flatMap(k => Seq(
        min(col(k)).cast("double"), max(col(k)).cast("double"))): _*).first()
    val span = (1L << effBits) - 1
    val scaled: Seq[org.apache.spark.sql.Column] = keys.zipWithIndex.map { case (k, i) =>
      // empty input → null stats → degenerate column (all-zero contribution)
      val lo = if (statsRow.isNullAt(1 + 2 * i)) 0.0 else statsRow.getDouble(1 + 2 * i)
      val hi = if (statsRow.isNullAt(2 + 2 * i)) 0.0 else statsRow.getDouble(2 + 2 * i)
      if (hi <= lo) lit(0L)
      else least(lit(span), greatest(lit(0L),
        ((coalesce(col(k).cast("double"), lit(lo)) - lit(lo)) /
          lit(hi - lo) * lit(span.toDouble)).cast("long")))
    }
    (for { i <- 0 until effBits; j <- 0 until d } yield
      shiftleft(shiftright(scaled(j), i).bitwiseAND(lit(1L)), i * d + j))
      .reduce(_.bitwiseOR(_))
  }

  /** Overwrite with the data laid out HIVE-PARTITIONED on `partitionCols`
    * (`snap-…/col=value/part-*.parquet`). The one storage tier clustering
    * and Z-order don't give: directory-level pruning — a predicate on a
    * partition column eliminates whole directories at file-listing time
    * (`PartitionFilters` in the scan), before any footer is opened. The
    * conventional layout for a 100 TB crawl corpus (date/source
    * partitions): retention, takedown scoping, and time-sliced scans
    * prune by directory first; footers/Bloom then skip files WITHIN
    * surviving partitions, and deletion vectors / time travel / branches
    * compose unchanged (a snapshot is a snapshot, whatever its internal
    * layout).
    *
    * Semantics notes, both inherent to the hive layout: partition
    * columns are STRINGS by contract — values live in directory names,
    * so they are cast to string at write and read back as string
    * (partition-type inference is disabled in GraftSession; cast at
    * read for typed values) — and partition
    * columns are moved to the END of the read schema. Maintenance:
    * [[compactPartitioned]] (or plain [[compact]], which now preserves a
    * uniform layout) folds the snapshot chain without flattening it. */
  def overwritePartitioned(name: String, df: DataFrame,
      partitionCols: Seq[String]): Unit = {
    requirePartitionCols(df, partitionCols)
    val snap = writeSnapshot(name, stringifyParts(df, partitionCols),
      partitionBy = partitionCols)
    val done = commitOwning(name, snap)(_ => Some(Seq(snap)))
    assert(done, s"unconditional partitioned overwrite of $name cannot abort")
  }

  /** Append ONLY the incoming batch as a new hive-partitioned snapshot —
    * O(batch) like [[append]], same schema-evolution contract, and the
    * new snapshot prunes on its partition directories independently of
    * how earlier snapshots were laid out (each snapshot in the replay
    * union carries its own `PartitionFilters`). */
  def appendPartitioned(name: String, df: DataFrame,
      partitionCols: Seq[String]): Unit = {
    requirePartitionCols(df, partitionCols)
    // creation through the same CAS commit as [[append]] (no racy
    // exists-then-overwrite)
    val shaped = stringifyParts(df, partitionCols)
    if (exists(name)) checkNoTypeChanges(name, tableSchema(name), shaped)
    val snap = writeSnapshot(name, shaped, partitionBy = partitionCols)
    val done = commitOwning(name, snap)(cur => Some(cur :+ snap))
    assert(done, s"partitioned append to $name cannot abort")
  }

  /** Drop whole partitions at O(metadata) cost: every data snapshot's
    * manifest entry is replaced by the SMALLER of two faithful renderings
    * of "this snapshot minus the doomed partitions" — per-partition
    * INCLUDE entries naming the survivors (`snap-x/lang=en`) while the
    * kept set is small, or ONE EXCLUSION entry naming the dropped values
    * (`snap-x/!lang=fr`) otherwise. No data file is read, written, or
    * deleted at commit time either way. The exclusion form is the
    * manifest-scale guard: a 365-partition compacted snapshot losing 10
    * days stays ONE manifest entry and ONE scan relation (the dropped
    * values become a `PartitionFilters` predicate), where an
    * include-only rendering would explode it into 355 entries and a
    * 355-way union in every scan plan — the curve that bends first at a
    * year of snapshots × hundreds of partitions. The retention/takedown
    * primitive partitioned layouts exist for: expiring a crawl date or
    * erasing a source at 100 TB costs one directory listing per snapshot
    * plus the commit, where `deleteWhere` pays a full table rewrite and
    * even [[deleteByKeysDV]] pays a scan-side anti-join forever after.
    *
    * Composition: replay order is preserved (each subset entry stands in
    * its snapshot's manifest position), deletion vectors still apply,
    * time travel sees the pre-drop versions, and the next [[compact]] or
    * partitioned rewrite folds subset entries away and lets GC reclaim
    * the dropped bytes (GC is snapshot-dir-granular, so dropped
    * partition data stays on disk — invisible but undeleted — until
    * then; the erasure SLA is met by following a drop with compact).
    *
    * Contract: `partitionCol` must be the LEADING partition column of
    * every live data snapshot (the v1 scope — nested drops re-layout
    * first); a snapshot without that layout is a hard error, not a
    * silent partial drop. Values match hive directory encoding via
    * Spark's own unescaping. Dropping every partition of every snapshot
    * is refused (an empty table is an [[overwrite]] decision, not a
    * retention sweep). Returns true iff a commit happened (false = no
    * matching partitions anywhere). */
  def dropPartitions(name: String, partitionCol: String,
      values: Seq[String]): Boolean =
    dropPartitionsImpl(name, partitionCol, values, basis = None) == 1

  /** [[dropPartitions]] conditional on the manifest still being `basis` —
    * the retention-CASCADE primitive: the cascade captures the doomed
    * doc ids from `basis` BEFORE the drop, and a commit on any other
    * manifest could drop rows the capture never saw (a batch appended to
    * a doomed partition mid-cascade) — erased from the table but still
    * findable through every index. Returns 1 = committed, 0 = nothing to
    * drop, -1 = the manifest moved (re-capture from the fresh manifest
    * and retry). */
  private[graft] def dropPartitionsFromBasis(name: String,
      partitionCol: String, values: Seq[String],
      basis: Seq[String]): Int =
    dropPartitionsImpl(name, partitionCol, values, Some(basis))

  /** Scan of an EXPLICIT manifest — the cascade's capture must read the
    * exact basis its conditional drop will commit against, not whatever
    * the manifest says by the time the scan plans. */
  private[graft] def scanEntries(name: String, entries: Seq[String]): DataFrame =
    readState(name, entries)

  private def dropPartitionsImpl(name: String, partitionCol: String,
      values: Seq[String], basis: Option[Seq[String]]): Int = {
    require(values.nonEmpty, "dropPartitions: at least one value")
    val doomed = values.toSet
    var raced = false
    val committed = commitManifestCasOpt(name, cur => {
      if (cur.isEmpty) throw new IllegalArgumentException(s"Table not found: $name")
      raced = basis.exists(_ != cur)
      if (raced) None
      else {
        val derived = cur.flatMap { e =>
          if (isDvEntry(e)) Seq(e)
          else deriveDropped(name, e, partitionCol, doomed)
        }
        if (derived == cur) None
        else {
          require(derived.exists(!isDvEntry(_)),
            s"dropPartitions would leave $name with no data — refuse " +
              "(use overwrite/drop for table-level removal)")
          Some(derived)
        }
      }
    })
    if (committed) 1 else if (raced) -1 else 0
  }

  /** One entry's replacement under a drop of `doomed` values on
    * `partitionCol` — the [[dropPartitions]] per-entry step. */
  private def deriveDropped(name: String, e: String, partitionCol: String,
      doomed: Set[String]): Seq[String] =
    entryPartitions(name, e, partitionCol, "dropPartitions") match {
      case Left(v) => if (doomed.contains(v)) Nil else Seq(e)
      case Right((phys, excl, live)) =>
        val (dead, kept) = live.partition(d => doomed.contains(partValue(d)))
        // a snapshot holding NONE of the doomed values keeps its one
        // entry — expanding it into per-partition references would
        // balloon the manifest (snapshots × partitions entries) and
        // fragment the scan's union for zero benefit
        if (dead.isEmpty) Seq(e) else representSubset(phys, kept, excl ++ dead)
    }

  /** How data entry `e` holds `partitionCol`, from the cached listing
    * ([[listDirCached]]) — the per-entry reader of [[dropPartitions]] and
    * [[partitionValues]]. `Left(value)` when an include segment pins the
    * column (a prior descent; it takes precedence over any exclusion, so
    * a lang-then-source drop chain never errors on a later lang sweep);
    * else `Right((phys, excluded, live))` — the entry's physical prefix,
    * its exclusion segments and the `col=value` directories still live
    * under it — when the column is the entry's leading open level, with
    * no live directory for a zero-row snapshot. Any other layout is the
    * strict layout contract's hard error, worded with `verb`. */
  private def entryPartitions(name: String, e: String, partitionCol: String,
      verb: String): Either[String, (String, Seq[String], Seq[String])] = {
    val prefix = s"$partitionCol="
    val (phys, excl) = parseEntry(e)
    def refuse(why: String) = throw new IllegalArgumentException(
      s"$verb($partitionCol) on $name: $why — overwritePartitioned/compact " +
        "to re-layout first")
    phys.split('/').drop(1).find(_.startsWith(prefix)) match {
      case Some(seg) => Left(partValue(seg))
      case None =>
        // an exclusion entry's open level IS its exclusion column: several
        // of its partitions are live, so any OTHER column is not leading
        excl.headOption.map(_.takeWhile(_ != '=')).filter(_ != partitionCol)
          .foreach(c => refuse(s"entry $e is partition-filtered on $c " +
            "(its leading open column)"))
        val p = new Path(tableDir(name), phys)
        val (dirs, files) = listDirCached(p)
        val live = dirs.filter(d => d.startsWith(prefix) && !excl.contains(d))
        if (live.isEmpty && excl.isEmpty &&
            (dirs.nonEmpty || (files.nonEmpty && !isZeroRowDir(p))))
          refuse(s"snapshot $e is not hive-partitioned on $partitionCol " +
            "(leading column)")
        Right((phys, excl, live))
    }
  }

  /** The unescaped value of a hive `col=value` path segment. */
  private def partValue(seg: String): String =
    unescapePart(seg.dropWhile(_ != '=').drop(1))

  /** Above this many include entries a split snapshot folds to the
    * one-entry exclusion form regardless of which side is smaller — the
    * hard bound on manifest entries (and scan relations) per snapshot. */
  private val includeSubsetCap = 32

  /** The smaller faithful rendering of "prefix `phys` minus partitions
    * `dead`": INCLUDE entries (each its own scan relation in the replay
    * union) while the kept side is small, otherwise ONE EXCLUSION entry
    * (a single relation + `PartitionFilters` predicate). Entry count per
    * snapshot is thereby ≤ min(kept, dead, [[includeSubsetCap]]) — the
    * auto-fold that keeps a heavily-partitioned snapshot from blowing up
    * the manifest and the scan plan under repeated retention sweeps. */
  private def representSubset(phys: String, kept: Seq[String],
      dead: Seq[String]): Seq[String] =
    if (kept.isEmpty) Nil
    else if (kept.size <= math.min(dead.size, includeSubsetCap))
      kept.sorted.map(d => s"$phys/$d")
    else Seq(phys + dead.sorted.map("/!" + _).mkString)

  /** Distinct values of `partitionCol` across the LIVE data snapshots —
    * pure directory metadata, no file opened. Same strict layout
    * contract as [[dropPartitions]] (an unpartitioned snapshot is an
    * error, not an under-report: a retention sweep computed from a
    * partial listing would silently keep expired data). */
  def partitionValues(name: String, partitionCol: String): Seq[String] = {
    val entries = readManifest(name)
    if (entries.isEmpty)
      throw new IllegalArgumentException(s"Table not found: $name")
    entries.filterNot(isDvEntry).flatMap { e =>
      entryPartitions(name, e, partitionCol, "partitionValues") match {
        case Left(v)             => Seq(v)
        case Right((_, _, live)) => live.map(partValue)
      }
    }.distinct.sorted
  }

  /** Retention sweep: drop every partition whose value sorts BELOW
    * `cutoff` (string order — ISO dates compare correctly). The standing
    * expiry for a date-partitioned corpus: `expirePartitionsBelow(t,
    * "date", today - 90d)` costs directory listings + one O(metadata)
    * commit, never a rewrite. Returns true iff something was dropped. */
  def expirePartitionsBelow(name: String, partitionCol: String,
      cutoff: String): Boolean = {
    val doomed = partitionValues(name, partitionCol).filter(_ < cutoff)
    doomed.nonEmpty && dropPartitions(name, partitionCol, doomed)
  }

  private def unescapePart(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(s)

  /** Partition columns are STRINGS by contract: hive directory names
    * hold the values as text, and type inference at read would drift the
    * schema from what was written (a date written from a string column
    * reads back DATE; the next append then sees a type change). Casting
    * at write + inference disabled at read (GraftSession) makes the
    * round-trip deterministic; callers needing typed values cast at
    * read. Values are unchanged — the dirname rendering is identical. */
  private def stringifyParts(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) =>
      if (d.columns.contains(c) &&
          d.schema(c).dataType == org.apache.spark.sql.types.StringType) d
      else if (d.columns.contains(c)) d.withColumn(c, col(c).cast("string"))
      else d)

  private def requirePartitionCols(df: DataFrame, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "at least one partition column")
    cols.foreach(c => require(df.columns.contains(c),
      s"no such partition column: $c"))
    require(cols.size < df.columns.size,
      "cannot partition on every column (no data columns would remain)")
  }

  /** Overwrite with ONE bucketed snapshot: rows hash-bucketed (and
    * sorted within each file) on `keys` into `numBuckets` buckets, each
    * file named with its bucket id, the spec recorded with the snapshot.
    * Two tables bucketed identically join/merge on those keys with NO
    * exchange on either side — the co-location lever for 100 TB
    * steady-state merges: bucket the target once, bucket each staging
    * batch the same way, and the per-batch full-outer MERGE stops
    * reshuffling the target. Commits like [[overwrite]]: a failed write
    * leaves the previous state live, and [[scan]], [[scanAsOf]] and GC
    * treat the table like any other. A new spec (re-bucketing) is just an
    * overwrite with it. */
  def overwriteBucketed(name: String, df: DataFrame, keys: Seq[String],
      numBuckets: Int): Unit = {
    val snap = writeSnapshot(name, df, bucketBy = Some(bucketSpec(df, keys, numBuckets)))
    val done = commitOwning(name, snap)(_ => Some(Seq(snap)))
    assert(done, s"unconditional bucketed overwrite of $name cannot abort")
  }

  /** Append a batch as one more bucketed snapshot with the SAME keys and
    * bucket count as the table's bucketed snapshots (a differing spec is
    * an IllegalArgumentException — re-bucket through
    * [[overwriteBucketed]]). O(batch) like [[append]]; the scan stays
    * bucketed, each bucket now spread over more files. Sort order is
    * per-file, so merge-sorted reads across appends are NOT guaranteed;
    * compact by re-calling [[overwriteBucketed]] with the scan. */
  def appendBucketed(name: String, df: DataFrame, keys: Seq[String],
      numBuckets: Int): Unit = {
    val spec = bucketSpec(df, keys, numBuckets)
    if (exists(name)) checkNoTypeChanges(name, tableSchema(name), df)
    val snap = writeSnapshot(name, df, bucketBy = Some(spec))
    // checked against the manifest AT COMMIT TIME: a racing re-bucket
    // refuses this append instead of mixing bucket counts
    val done = commitOwning(name, snap) { cur =>
      cur.flatMap(entryBucketing(name, _)).map(_._1)
        .find(_ != spec).foreach(t => throw new IllegalArgumentException(
          s"appendBucketed($name): table is bucketed ${t.numBuckets} ways " +
            s"on ${t.bucketColumnNames.mkString(",")}, not $numBuckets " +
            s"on ${keys.mkString(",")} — overwriteBucketed to re-bucket"))
      Some(cur :+ snap)
    }
    assert(done, s"bucketed append to $name cannot abort")
  }

  private def bucketSpec(df: DataFrame, keys: Seq[String],
      numBuckets: Int): BucketSpec = {
    require(keys.nonEmpty, "at least one bucket key")
    keys.foreach(k => require(df.columns.contains(k), s"no such bucket key: $k"))
    BucketSpec(numBuckets, keys, keys)
  }

  /** Append ONLY the incoming batch as a new snapshot (no table rewrite);
    * evolution by field addition, type changes rejected.
    *
    * Table CREATION goes through the same CAS commit, NOT through
    * [[overwrite]]: an exists()-then-overwrite would let two processes
    * racing to append the first batches of a new table each see "missing"
    * and each commit a one-snapshot manifest — last-wins, first batch
    * silently lost (caught by scripts/two_writer_smoke.sh). Here the
    * loser's re-derivation starts from the winner's manifest, so both
    * land. */
  def append(name: String, df: DataFrame): Unit = {
    if (exists(name)) checkNoTypeChanges(name, tableSchema(name), df)
    val snap = writeSnapshot(name, df)
    // the closure re-derives the union from the manifest AT COMMIT
    // TIME, so losing the version race to a concurrent appender only
    // means retrying on top of their manifest — never dropping it
    val done = commitOwning(name, snap)(cur => Some(cur :+ snap))
    assert(done, s"append to $name cannot abort")
  }

  private def checkNoTypeChanges(name: String, existing: StructType,
      incoming: DataFrame): Unit = {
    // nullability is not a type: tables read back from parquet are nullable
    // at every level, so a batch that is narrower on nullability is no change
    val old = existing.fields.map(f => f.name -> f.dataType).toMap
    val changed = incoming.schema.fields.filter(f =>
      old.get(f.name).exists(o => allNullable(o) != allNullable(f.dataType)))
    if (changed.nonEmpty)
      throw new IllegalArgumentException(
        s"Type change not allowed on append to $name: " +
          changed.map(f => s"${f.name}: ${old(f.name)} -> ${f.dataType}").mkString(", "))
  }

  /** Evolved schema of `name` — what [[scan]] reads — WITHOUT building the
    * replay union: fold per-snapshot parquet footer schemas in manifest
    * order, appending fields unseen so far. The fold is cached on the
    * manifest's data-entry list, and a cached PREFIX re-folds only the
    * delta — so the append cadence (streaming micro-batches, index
    * segment commits) pays one footer read per commit instead of
    * re-analyzing an O(snapshots) union every time; commit cost no longer
    * grows with table age. Any non-append manifest change (compact,
    * partition drop, overwrite) just recomputes the full fold once. On a
    * common-column TYPE disagreement between snapshots the fold defers to
    * the union's coercion semantics (`scan(name).schema`) rather than
    * guessing — reachable only through historic data written before this
    * store's no-type-change append contract. */
  def tableSchema(name: String): StructType = {
    val entries = readManifest(name)
    if (entries.isEmpty)
      throw new IllegalArgumentException(s"Table not found: $name")
    val dataEntries = entries.filterNot(isDvEntry).map(parseEntry(_)._1).distinct
    val dir = tableDir(name)
    val key = fs(dir).makeQualified(dir).toString
    val cached = Option(schemaCache.get(key))
    val (base, todo) = cached match {
      case Some((prev, s)) if dataEntries.startsWith(prev) =>
        (Option(s), dataEntries.drop(prev.size))
      case _ => (None, dataEntries)
    }
    if (todo.isEmpty && base.isDefined) return base.get
    val folded =
      try todo.foldLeft(base) { (acc, e) =>
        val s = entryFooterSchema(name, e)
        Some(acc.map(mergeEvolved(_, s)).getOrElse(s))
      }.get
      catch { case _: TypeConflict => scan(name).schema }
    schemaCache.put(key, (dataEntries, folded))
    folded
  }

  private final class TypeConflict extends RuntimeException

  /** Numeric widening for a common field whose type differs between
    * snapshots (legacy/mixed-writer histories — store appends type-check,
    * so new tables can't produce this). The governing constraint is the
    * PARQUET READER: the folded type must be a read schema the vectorized
    * reader serves over the NARROWER physical files (integral→long,
    * integral/float→double — the SPARK-40876 matrix, pinned by
    * TableStoreSpec), because [[readState]]'s merged run hands the folded
    * schema straight to the scan. DELIBERATE DIVERGENCE from the
    * per-snapshot replay: sub-long integral mixes fold straight to LONG
    * even where Spark's tightest-common-type is narrower (byte+short
    * would union-coerce to SHORT) — int8→int16 promotion is outside the
    * verified reader matrix, int-class→int64 is in it. Values are
    * identical either way; only the folded SCHEMA is wider than the
    * replay's for such mixes, and schema-sensitive consumers of a legacy
    * integral-mixed history observe bigint from the merged path. The
    * stable wider type is also what a consumer can rely on across folds
    * (the replay's type shifts with which snapshots happen to be live).
    * Everything else — string-vs-numeric, decimal drift, long→float
    * precedence loss — stays a [[TypeConflict]]. */
  private def widenedType(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType
  ): Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    def isIntegral(t: DataType) = integral.contains(t)
    (a, b) match {
      case _ if a == b => Some(a)
      // any differing integral pair folds straight to LONG — never to an
      // intermediate width (int8→int16 promotion is outside the verified
      // reader matrix; int-class→int64 is in it)
      case _ if isIntegral(a) && isIntegral(b) => Some(LongType)
      case (DoubleType, o) if isIntegral(o) && o != LongType => Some(DoubleType)
      case (o, DoubleType) if isIntegral(o) && o != LongType => Some(DoubleType)
      case (DoubleType, FloatType) | (FloatType, DoubleType) =>
        Some(DoubleType)
      case _ => None
    }
  }

  /** Field-addition merge matching `unionByName(allowMissingColumns)`
    * column order: left fields first, right's new fields appended. A
    * common field whose type differs WIDENS when [[widenedType]] allows
    * (the merged read then serves even a legacy mixed-type history in one
    * relation per layout); otherwise it signals [[TypeConflict]] and the
    * caller falls back to the union's own coercion — LOUDLY, because that
    * fallback re-opens the O(snapshots) per-snapshot planning path this
    * fold exists to avoid. */
  private def mergeEvolved(a: StructType, b: StructType): StructType = {
    val known = a.fields.map(f => f.name -> f.dataType).toMap
    val widenTo = b.fields.flatMap { f =>
      known.get(f.name) match {
        case Some(t) if t != f.dataType =>
          widenedType(t, f.dataType) match {
            case Some(w) => Some(f.name -> w)
            case None =>
              TableStore.log.warn(
                s"schema fold: un-widenable type disagreement on " +
                  s"'${f.name}' ($t vs ${f.dataType}) — falling back to " +
                  "per-snapshot relations (O(snapshots) planning); " +
                  "rewrite the table to restore merged reads")
              throw new TypeConflict
          }
        case _ => None
      }
    }.toMap
    StructType(
      a.fields.map(f => widenTo.get(f.name)
        .map(w => f.copy(dataType = w)).getOrElse(f)) ++
        b.fields.filterNot(f => known.contains(f.name)))
  }

  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[String], StructType)]

  /** Evolved schema of an arbitrary manifest (branch heads, captured
    * bases) via the same cached footer fold as [[tableSchema]] — no
    * replay union analyzed just to compare field types. */
  private def entriesSchema(name: String, entries: Seq[String]): StructType =
    try entries.filterNot(isDvEntry).map(entryFooterSchema(name, _))
      .reduce(mergeEvolved)
    catch { case _: TypeConflict => readState(name, entries).schema }

  /** Read-modify-write rewrite that cannot drop a concurrent commit:
    * derive the new state FROM a basis manifest, then commit conditional
    * on the manifest still being that basis — if another writer moved
    * the table (an append, a DV takedown), re-derive from the fresh
    * manifest and retry. Plain [[overwrite]] is deliberately last-wins
    * (its contract ignores prior state); everything that REWRITES the
    * current state (compact, predicate/key deletes, branch merges) must
    * come through here or a racing takedown could be silently
    * resurrected by the rewrite's stale snapshot.
    *
    * The rewrite keeps the basis' physical layout: its uniform hive
    * layout, else its uniform bucket spec ([[overwriteBucketed]]), so a
    * compacted or filtered bucketed table still reads bucketed. The spec
    * comes from the per-entry cache `derive`'s read of the basis filled. */
  private[table] def rewriteConditional(name: String, what: String,
      partitionBy: Seq[String] = Nil)(
      derive: Seq[String] => Option[DataFrame]): Unit = {
    var attempt = 0
    while (attempt < 8) {
      attempt += 1
      val basis = readManifest(name)
      if (basis.isEmpty)
        throw new IllegalArgumentException(s"Table not found: $name")
      // rewrites PRESERVE a uniform hive layout: a deleteWhere/compact on
      // a partitioned table must not silently flatten it — the next
      // retention sweep would hard-error on the layout contract and every
      // erasure after it would pay a rewrite. Explicit partitionBy wins;
      // otherwise the layout every data entry agrees on (mixed or flat →
      // flat, the old behavior).
      val layout0 =
        if (partitionBy.nonEmpty) partitionBy else inferredLayout(name, basis)
      derive(basis) match {
        case None => return // nothing to do at this basis (e.g. compact under threshold)
        case Some(df0) =>
          // a derivation projecting the layout columns away (not a shape
          // any current rewrite produces) falls back to flat rather than
          // failing the write
          val layout = if (layout0.forall(df0.columns.contains)) layout0 else Nil
          val df = if (layout.isEmpty) df0 else stringifyParts(df0, layout)
          val bucketBy =
            if (layout.nonEmpty) None
            else uniformBucketSpec(name, basis)
              .filter(_.bucketColumnNames.forall(df0.columns.contains))
          val snap = writeSnapshot(name, df, partitionBy = layout,
            bucketBy = bucketBy)
          val committed = commitOwning(name, snap)(
            cur => if (cur == basis) Some(Seq(snap)) else None)
          if (committed) return
        // else: another writer landed between our read and claim —
        // loop re-derives against their manifest (orphan snap GCs)
      }
    }
    throw new IllegalStateException(
      s"$what of $name lost to concurrent writers 8 times — aborting")
  }

  /** Row-level delete: commit a NEW snapshot holding every current row
    * whose `pred` is NOT true (SQL DELETE semantics — null predicates
    * KEEP the row), atomic at the same commit point as any write, and
    * CONDITIONAL on the state it filtered: a concurrent append or DV
    * takedown makes the rewrite re-derive instead of silently dropping
    * it. A predicate takedown for corpus TABLES: a crash mid-way
    * leaves the pre-delete state live, retained versions still time-
    * travel to it ([[scanAsOf]]), and the change feed shows the deletes
    * ([[diffVersions]] `op = 'delete'`). The rewrite keeps the table's
    * uniform hive layout or bucket spec ([[rewriteConditional]]).
    *
    * Cost is one filtered table rewrite — O(table), like BigQuery DELETE
    * or a Delta non-partition delete. At 100 TB use [[deleteByKeysDV]]
    * for O(deleted) commits, or route bulk erasure through key-clustered
    * layouts ([[overwriteClustered]]) so the filter prunes most files at
    * the scan, and batch takedowns rather than issuing per-row commits. */
  def deleteWhere(name: String, pred: org.apache.spark.sql.Column): Unit =
    rewriteConditional(name, "deleteWhere")(basis =>
      Some(readState(name, basis).where(!coalesce(pred, lit(false)))))

  /** Delete by key list: drop every current row whose `keys` tuple
    * appears in `toDelete` (extra columns there are ignored; the key set
    * is deduplicated and BROADCAST — takedown lists are dimension-sized,
    * so the table itself never shuffles for the anti join). Rows with a
    * null key component never match a list entry (SQL equality) and are
    * kept. Same atomicity/time-travel contract as [[deleteWhere]]. */
  def deleteByKeys(name: String, keys: Seq[String], toDelete: DataFrame): Unit = {
    require(keys.nonEmpty, "deleteByKeys: at least one key column")
    val keyList = toDelete.select(keys.map(col): _*).distinct()
    rewriteConditional(name, "deleteByKeys")(basis =>
      Some(readState(name, basis).join(broadcast(keyList), keys, "left_anti")))
  }

  /** Deletion-vector delete: same observable result as [[deleteByKeys]]
    * at O(deleted) commit cost instead of O(table). The deduplicated key
    * list lands as a `dv-` manifest entry — NO data file is rewritten —
    * and every read path replays it as an anti-join over the
    * snapshots that precede it ([[scan]]; broadcast while the vector is
    * under the broadcast threshold, shuffled past it, and consecutive
    * vectors coalesce into one join): rows re-appended after the
    * takedown are untouched, time travel and [[diffVersions]] see the
    * deletes, footer/Bloom file skipping composes (the residual DV
    * join still decides row membership). At 100 TB this is the takedown
    * primitive: a right-to-erasure batch commits in seconds regardless
    * of table size, and the accumulated vectors fold into a real rewrite
    * at the next [[compact]] — after which the manifest holds plain
    * snapshots again. Rows with a null key component never match (SQL
    * equality), like [[deleteByKeys]]. */
  def deleteByKeysDV(name: String, keys: Seq[String], toDelete: DataFrame): Unit = {
    val r = commitDeletionVector("deleteByKeysDV", name, keys, toDelete)
    assert(r >= 0, s"deleteByKeysDV on $name cannot abort")
  }

  /** EXACTLY-ONCE [[deleteByKeysDV]]: commit the vector with an
    * idempotency tag, or skip if a live `dv-` entry already carries it.
    * Re-running a takedown batch is NOT harmless without this — a key
    * legitimately re-appended between the original commit and the replay
    * would be erased by the replayed vector (it lands LATER in the
    * manifest). Same tag window as [[appendTagged]]: the live manifest —
    * once [[compact]] folds the vector away the tag is forgotten, which
    * covers streaming replays of the immediately preceding batch, not
    * arbitrarily delayed re-submission. Returns true iff committed. */
  def deleteByKeysDVTagged(name: String, keys: Seq[String],
      toDelete: DataFrame, tag: String): Boolean =
    commitDeletionVector("deleteByKeysDVTagged", name, keys, toDelete,
      Some(tag)) == 1

  /** [[deleteByKeysDVTagged]] whose commit is additionally CONDITIONAL
    * on the manifest still being `basis` — the capture-and-erase binding
    * the ID-level retention cascade needs: a batch appended mid-cascade
    * (possibly containing doomed ids the capture never saw) forces a
    * re-capture instead of being erased from the table while staying
    * findable through the indexes. Returns 1 = committed (or a live
    * entry already carries `tag` — the replay case), 0 = empty key list
    * (nothing to erase, nothing committed), -1 = the manifest moved off
    * `basis` (re-capture and retry). */
  private[graft] def deleteByKeysDVFromBasis(name: String, keys: Seq[String],
      toDelete: DataFrame, basis: Seq[String], tag: String): Int =
    math.min(commitDeletionVector("deleteByKeysDVFromBasis", name, keys,
      toDelete, Some(tag), Some(basis)), 1)

  /** The one deletion-vector commit behind the three `deleteByKeysDV*`
    * verbs: skip when a live vector already carries `tag`, check the key
    * columns against the table, dedupe the key list, skip an empty one
    * (a zero-row vector would still cost a manifest entry and an
    * anti-join on EVERY future scan until compact — routine for streaming
    * takedown cadences), then write the vector and commit it unless the
    * tag landed meanwhile or the manifest moved off `basis`. Returns
    * 1 = committed, 2 = a live vector already carries `tag`, 0 = empty
    * key list, -1 = the manifest moved off `basis`. */
  private def commitDeletionVector(verb: String, name: String,
      keys: Seq[String], toDelete: DataFrame, tag: Option[String] = None,
      basis: Option[Seq[String]] = None): Int = {
    tag.foreach(requireTag)
    require(keys.nonEmpty, s"$verb: at least one key column")
    def tagged(cur: Seq[String]) =
      tag.exists(t => cur.exists(e => isDvEntry(e) && carriesTag(e, t)))
    if (tagged(readManifest(name))) return 2
    val current = scan(name) // also: table-exists check
    keys.foreach(k => require(current.columns.contains(k),
      s"$verb: no such column $k in $name"))
    val keyList = toDelete.select(keys.map(col): _*).distinct()
    if (keyList.limit(1).count() == 0L) return 0
    var outcome = 1
    val dv = writeDeletionVector(name, keyList, tag.fold("")(t => s"tag-$t-"))
    commitOwning(name, dv) { cur =>
      if (tagged(cur)) { outcome = 2; None } // a replay's commit landed
      else if (basis.exists(_ != cur)) { outcome = -1; None }
      else Some(cur :+ dv)
    }
    outcome
  }

  /** Idempotency tags ride a manifest entry's directory name, where
    * dashes delimit them. */
  private def requireTag(tag: String): Unit =
    require(tag.nonEmpty &&
        tag.forall(c => c.isLetterOrDigit || c == '.' || c == '_'),
      s"tag must be [A-Za-z0-9._]+ (dashes delimit it in the name): '$tag'")

  private def carriesTag(entry: String, tag: String): Boolean =
    entry.contains(s"-tag-$tag-")

  /** True iff a live DELETION-VECTOR entry of `name` carries `tag` —
    * the ID-level cascade's drop-committed probe (the partition form
    * probes [[partitionValues]]; a DV delete leaves the layout intact,
    * so its durability record is the tag riding the dv entry's own
    * directory name). Same tag window as every append tag: the live
    * manifest — a [[compact]] folds it away, which covers prompt journal
    * drains, not arbitrarily delayed ones ([[graft.ext.Maintenance]]
    * drains BEFORE it compacts, preserving the probe). */
  def hasDeleteTag(name: String, tag: String): Boolean =
    exists(name) && readManifest(name).exists(e =>
      isDvEntry(e) && carriesTag(e, tag))

  /** Rewrite the manifest's chain into a single snapshot when it grows
    * past `maxSnapshots` entries (appends accumulate read-time union
    * branches, [[deleteByKeysDV]] accumulates anti-join branches;
    * compaction restores one columnar scan and FOLDS every deletion
    * vector into the rewrite — the O(table) cost deferred from each
    * O(deleted) takedown, paid once). Atomic like any commit; no-op
    * below the threshold. Like every conditional rewrite, a UNIFORM
    * hive layout or bucket spec is preserved (mixed or flat folds flat);
    * see [[compactPartitioned]] to assert a specific layout. */
  def compact(name: String, maxSnapshots: Int = 16): Unit =
    rewriteConditional(name, "compact")(basis =>
      if (basis.size > maxSnapshots) Some(readState(name, basis)) else None)

  /** Fold the table's deletion vectors into one rewrite — [[compact]]
    * keyed on "the manifest holds a vector" instead of on its length,
    * decided against the same basis the fold reads and commits on. A
    * no-op on a table without vectors. The persistent index families
    * compact their tables through this: the deleted rows leave the
    * files, the layout and bucket spec stay, and a row appended or
    * deleted during the fold makes it re-derive. */
  def compactDeletes(name: String): Unit =
    rewriteConditional(name, "compactDeletes")(basis =>
      if (basis.exists(isDvEntry)) Some(readState(name, basis)) else None)

  /** [[compact]] for hive-partitioned tables: fold a long manifest into
    * ONE partitioned snapshot, preserving the directory layout that
    * retention sweeps, partition drops, and time-sliced scans prune on —
    * plain [[compact]] folds to a FLAT snapshot (correct rows, but the
    * next `dropPartitions` would hard-error on the layout contract and
    * every erasure thereafter would pay a rewrite). The streaming
    * maintenance pairing: `partitionedIngestAvailableNow` accrues one
    * snapshot per micro-batch; this folds them on the same cadence
    * (no-op at or under `maxSnapshots`), subset/exclusion entries from
    * prior drops fold away like any other entry, and GC then reclaims
    * the dropped partitions' bytes. Same conditional-rewrite safety as
    * [[compact]] — a concurrent append or takedown re-derives instead
    * of being silently dropped. */
  def compactPartitioned(name: String, partitionCols: Seq[String],
      maxSnapshots: Int = 16): Unit = {
    require(partitionCols.nonEmpty, "compactPartitioned: partition columns")
    rewriteConditional(name, "compactPartitioned", partitionCols)(basis =>
      if (basis.size > maxSnapshots) {
        // a WRONG column list would silently rewrite the table into a
        // different layout (e.g. day-only over a day/hour table moves
        // `hour` into the data files and later hour-level drops error);
        // when the live layout is uniform it must match the request —
        // a mixed/flat basis is the legitimate re-layout case
        val actual = inferredLayout(name, basis)
        require(actual.isEmpty || actual == partitionCols,
          s"compactPartitioned($name, ${partitionCols.mkString(",")}): " +
            s"table is uniformly partitioned on ${actual.mkString(",")} — " +
            "pass that chain, or overwritePartitioned to re-layout")
        Some(stringifyParts(readState(name, basis), partitionCols))
      } else None)
  }

  /** Schema-only clone — the reference's `WHERE 1=0` table copy (warehouse.py:148-151).
    * A no-op on an existing table, where `df` is not evaluated. The empty
    * snapshot commits only onto an empty manifest, so a creator racing a
    * first writer never replaces the writer's data (its orphan snapshot
    * dir is GC'd by the next commit). */
  def createLike(name: String, df: => DataFrame): Unit =
    if (!exists(name)) {
      val snap = writeSnapshot(name, df.where(lit(false)))
      commitOwning(name, snap)(cur => if (cur.isEmpty) Some(Seq(snap)) else None)
    }

  def drop(name: String): Unit = {
    val d = tableDir(name)
    val filesystem = fs(d)
    if (filesystem.exists(d)) {
      // rename-then-reap: the recursive delete of a many-file table dir is
      // pure reclamation, but it ran synchronously on the caller's thread
      // (measured as the top driver-side hotspot of the cascade gates —
      // fs.FileUtil.deleteImpl). The atomic rename makes the table vanish
      // instantly (and a re-create of the same name is immediately safe);
      // the unreferenced trash dir is deleted on the background reaper.
      // Fallback to the synchronous delete if the rename is refused.
      val trash = new Path(root,
        s".reap-$name-${java.util.UUID.randomUUID().toString.take(8)}")
      if (filesystem.rename(d, trash)) TableStore.deleteAsync(filesystem, trash)
      else { filesystem.delete(d, true); () }
    }
  }

  /** `SELECT COALESCE(MAX(col),0)+1` — next row-number start; missing table
    * or column → 1, like the reference's fallback (warehouse.py:13-31).
    *
    * Answered from the footer statistics of [[columnRowGroups]], so an
    * append or upsert pays no O(table) scan; where the footers cannot
    * answer (a deletion vector, an exclusion entry, a footer without
    * statistics for `col`) it falls back to the scan. `col` resolves the
    * way Spark resolves a column name ([[resolveName]]), as the
    * reference's `MAX` does. */
  def nextRowNumberStart(name: String, col: String = "_id"): Long =
    if (!exists(name)) 1L
    else columnRowGroups(name, col) match {
      case Some(groups) => groups.flatMap(_.max).maxOption.getOrElse(0L) + 1L
      case None =>
        val df = scan(name)
        if (resolveName(df.columns.toSeq, col).isEmpty) 1L
        else df.agg(coalesce(max(org.apache.spark.sql.functions.col(col)), lit(0L)))
          .first().getLong(0) + 1L
    }

  /** The names among `names` that column name `c` refers to, the way
    * Spark resolves a column (case-insensitive unless
    * `spark.sql.caseSensitive`): the exact match alone when there is one,
    * more than one when `c` is ambiguous. */
  private def resolveName(names: Seq[String], c: String): Seq[String] =
    if (names.contains(c)) Seq(c)
    else names.filter(spark.sessionState.conf.resolver(_, c))

  /** The live rows of integer column `c` as the parquet footers summarize
    * them: one [[TableStore.RowGroup]] per row group of the manifest's data
    * entries, read in this JVM with no Spark job and cached per immutable
    * entry directory (a commit adds entries, so the cache never goes
    * stale). `c` resolves against each file's own footer schema the way
    * Spark resolves it ([[resolveName]]); a row group of a file without
    * `c` reads as all null.
    * `None` when the footers are not the live rows or cannot answer: the
    * manifest holds a deletion vector or an exclusion entry, a footer has
    * no statistics for `c`, `c` is not a signed integer, or `c` is a
    * partition column. */
  private[graft] def columnRowGroups(name: String,
      c: String): Option[Seq[TableStore.RowGroup]] = {
    val entries = readManifest(name)
    if (entries.isEmpty ||
        entries.exists(e => isDvEntry(e) || parseEntry(e)._2.nonEmpty)) None
    else {
      val perEntry = entries.map(entryRowGroups(name, _, c))
      if (perEntry.forall(_.isDefined)) Some(perEntry.flatMap(_.get.flatMap(_._2)))
      else None
    }
  }

  /** [[columnRowGroups]] of one data entry, per data file: each file's
    * [[pathOf]] path with its row groups. `None` when a footer cannot
    * answer. */
  private def entryRowGroups(name: String, e: String,
      c: String): Option[Seq[(String, Seq[TableStore.RowGroup])]] = {
    import TableStore.RowGroup
    import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
    import scala.jdk.CollectionConverters._
    // the concatenation of the parts; one part the footers cannot answer
    // sinks the whole
    def allOf[A](parts: Iterator[Option[Seq[A]]]): Option[Seq[A]] = {
      val acc = Seq.newBuilder[A]
      while (parts.hasNext) parts.next() match {
        case None    => return None
        case Some(g) => acc ++= g
      }
      Some(acc.result())
    }
    def isSignedInt(t: org.apache.parquet.schema.Type): Boolean = t.isPrimitive && {
      val pt = t.asPrimitiveType
      val physical = pt.getPrimitiveTypeName
      (physical == PrimitiveType.PrimitiveTypeName.INT64 ||
        physical == PrimitiveType.PrimitiveTypeName.INT32) &&
        (pt.getLogicalTypeAnnotation match {
          case null => true
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
          case _ => false
        })
    }
    // a block without a chunk for field `f` (the file lacks it) is all null
    def rowGroup(block: org.apache.parquet.hadoop.metadata.BlockMetaData,
        f: String): Option[RowGroup] = {
      val rows = block.getRowCount
      block.getColumns.asScala.find(_.getPath.toDotString == f) match {
        case None => Some(RowGroup(rows, None, None))
        case Some(chunk) =>
          val stats = chunk.getStatistics
          def long(v: Any) = Some(v.asInstanceOf[Number].longValue)
          if (stats != null && stats.hasNonNullValue)
            Some(RowGroup(rows, long(stats.genericGetMin), long(stats.genericGetMax)))
          else if (chunk.getValueCount == 0L || (stats != null && stats.isNumNullsSet &&
              stats.getNumNulls == chunk.getValueCount))
            Some(RowGroup(rows, None, None)) // all null
          else None
      }
    }
    def fileGroups(
        st: FileStatus): Option[Seq[(String, Seq[RowGroup])]] = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try {
        val schema = r.getFooter.getFileMetaData.getSchema
        val field = resolveName(schema.getFields.asScala.map(_.getName).toSeq, c) match {
          case Seq() => Some(c) // absent: all null
          case Seq(f) if isSignedInt(schema.getType(schema.getFieldIndex(f))) => Some(f)
          case _ => None
        }
        field.flatMap(f => allOf(r.getFooter.getBlocks.asScala.iterator
            .map(rowGroup(_, f).map(Seq(_)))))
          .map(groups => Seq(pathOf(st.getPath.toUri.toString) -> groups))
      } finally r.close()
    }
    // the entry's cached listing: an exclusion entry's dropped files never
    // enter it; a partition column has no footer statistics
    val (chain, leaves) = enumerateEntry(name, e)
    val dir = tableDir(name)
    if (resolveName(chain, c).nonEmpty) None
    else rowGroupCache.computeIfAbsent(
      fs(dir).makeQualified(dir).toString + "/" + e + "\u0000" + c,
      _ => allOf(leaves.iterator.flatMap(_._3).map(fileGroups)))
  }

  private val rowGroupCache = new java.util.concurrent.ConcurrentHashMap[
    String, Option[Seq[(String, Seq[TableStore.RowGroup])]]]

  private[table] def writeSnapshot(name: String, df: DataFrame,
      tagPart: String = "", partitionBy: Seq[String] = Nil,
      bucketBy: Option[BucketSpec] = None)
      : String = {
    val snap = "snap-" + System.currentTimeMillis() + "-" + tagPart +
      java.util.UUID.randomUUID().toString.take(8)
    writeDataDir(name, snap, df, partitionBy, bucketBy)
  }

  /** A deletion vector's key list, written like a snapshot (the dv's
    * parquet columns ARE its key tuple); `tagPart` carries the
    * idempotency marker for [[deleteByKeysDVTagged]]. */
  private def writeDeletionVector(name: String, keyList: DataFrame,
      tagPart: String = ""): String =
    writeDataDir(name,
      "dv-" + System.currentTimeMillis() + "-" + tagPart +
        java.util.UUID.randomUUID().toString.take(8),
      keyList)

  /** Write a data dir and register it in-flight so a concurrent
    * committer's GC can't reap it before its own commit lands. Every
    * writer clears the mark when its commit attempt finishes (success,
    * abort, or exception — the mark must not outlive the attempt or the
    * registry grows unboundedly and orphans become un-GC-able for the
    * JVM's lifetime); a failed WRITE clears it here. */
  private def writeDataDir(name: String, entry: String, df: DataFrame,
      partitionBy: Seq[String] = Nil,
      bucketBy: Option[BucketSpec] = None)
      : String = {
    val dir = tableDir(name)
    fs(dir).mkdirs(dir)
    val p = new Path(dir, entry)
    TableStore.markPending(pendingKey(name, entry))
    // Prime the footer-schema cache from the frame being written: the
    // read-back schema is deterministic — file-source reads force every
    // level nullable, and hive partition columns move to the END as
    // STRINGS (partition-type inference is disabled session-wide) — so
    // later scans of this immutable directory skip the footer-inference
    // Spark job entirely (one job per fresh directory otherwise; the
    // commit-heavy gates paid it on every journal/marker/stats read).
    val flatReadBack = StructType(df.schema.fields.map(f =>
      f.copy(dataType = allNullable(f.dataType), nullable = true)))
    var wroteFlat = partitionBy.isEmpty
    try bucketBy match {
      case Some(spec) =>
        org.apache.spark.sql.GraftBridge.writeBucketed(df, p.toString, spec)
        // recorded AFTER the data (the write clears its directory first),
        // schema included: a zero-row bucketed write leaves no data file,
        // and a flat empty file would break the bucketed scan (every file
        // must carry a bucket id)
        import org.json4s.JsonDSL._
        import org.json4s.jackson.JsonMethods
        val out = fs(p).create(new Path(p, BucketingFile), false)
        try out.write(JsonMethods.compact(("numBuckets" -> spec.numBuckets) ~
            ("keys" -> spec.bucketColumnNames) ~
            ("schema" -> JsonMethods.parse(flatReadBack.json)))
          .getBytes(StandardCharsets.UTF_8))
        finally out.close()
      case None =>
        val w = df.write.mode("overwrite")
        (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
          .parquet(p.toString)
        // a partitioned write of a ZERO-ROW frame creates no partition dirs
        // and no data files (a flat empty write leaves a schema-bearing
        // empty part file) — committing that dir would leave the table
        // permanently unreadable ('Unable to infer schema'). Detect and
        // rewrite flat: zero-row snapshots pass the layout contract as the
        // documented nothing-to-drop case.
        if (partitionBy.nonEmpty &&
            !fs(p).listStatus(p).exists(s => s.isDirectory ||
              s.getPath.getName.startsWith("part-"))) {
          df.write.mode("overwrite").parquet(p.toString)
          wroteFlat = true
        }
    } catch { case e: Throwable =>
      TableStore.unmarkPending(pendingKey(name, entry)); throw e
    }
    val qualified = fs(p).makeQualified(p).toString
    bucketingCache.put(qualified, bucketBy.map(_ -> flatReadBack))
    val readBack =
      if (wroteFlat) flatReadBack
      else StructType(
        flatReadBack.fields.filterNot(f => partitionBy.contains(f.name)) ++
          partitionBy.map(c => org.apache.spark.sql.types.StructField(
            c, org.apache.spark.sql.types.StringType, nullable = true)))
    footerSchemaCache.put(qualified, readBack)
    entry
  }

  /** Recursive nullable-forcing — what Spark's file-source relation does
    * to every inferred schema (`asNullable` is private[spark]); the
    * write-time schema priming above must match it exactly or a primed
    * schema would differ from what a cold inference returns. */
  private def allNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = allNullable(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = allNullable(a.elementType), containsNull = true)
      case m: MapType => m.copy(keyType = allNullable(m.keyType),
        valueType = allNullable(m.valueType), valueContainsNull = true)
      case o => o
    }
  }

  /** Commit `compute` and ALWAYS clear `entry`'s in-flight mark when the
    * attempt finishes — committed entries are protected by manifest
    * liveness from then on, failed ones become ordinary GC fodder. */
  private def commitOwning(name: String, entry: String)(
      compute: Seq[String] => Option[Seq[String]]): Boolean =
    try commitManifestCasOpt(name, compute)
    finally TableStore.unmarkPending(pendingKey(name, entry))

  private def pendingKey(name: String, entry: String): String = {
    // qualified-absolute, because the GC side compares listStatus paths
    // (always qualified); a relative store root would otherwise make the
    // registry inert and let a racing commit's GC reap in-flight dirs
    val p = new Path(tableDir(name), entry)
    fs(p).makeQualified(p).toUri.getPath
  }

  /** True iff a live snapshot of `name` carries [[appendTagged]]'s `tag`
    * — the replay-detection probe (the tag window is the live manifest,
    * exactly appendTagged's own skip check). */
  def hasAppendTag(name: String, tag: String): Boolean =
    exists(name) && readManifest(name).exists(carriesTag(_, tag))

  /** EXACTLY-ONCE append: commit `df` as a new snapshot carrying an
    * idempotency tag, or skip if a live snapshot already carries `tag`.
    * Returns true iff this call committed.
    *
    * The tag is encoded in the snapshot DIRECTORY NAME, so it rides the
    * same atomic CURRENT flip that commits the data — there is no
    * separate commit marker that could desynchronize. A replay after a
    * crash lands in exactly two states: the flip happened (tag visible in
    * the manifest → skip) or it didn't (orphan snapshot dir, GC'd at the
    * next commit → rewrite). This upgrades a foreachBatch sink from
    * at-least-once to exactly-once: tag with the micro-batch id
    * ([[graft.streaming.StreamingIngest.exactlyOnceIngestAvailableNow]]).
    *
    * The idempotency window is the LIVE manifest: once a later overwrite
    * drops the tagged snapshot from CURRENT, the tag is forgotten — the
    * contract covers streaming replays (which re-run the immediately
    * preceding uncommitted batch), not arbitrarily delayed re-submission. */
  def appendTagged(name: String, df: DataFrame, tag: String): Boolean = {
    requireTag(tag)
    if (hasAppendTag(name, tag)) false
    else {
      if (exists(name)) checkNoTypeChanges(name, tableSchema(name), df)
      val snap = writeSnapshot(name, df, s"tag-$tag-")
      // the tag re-check runs INSIDE the commit against the manifest at
      // commit time, so two replays racing each other collapse to one
      // committed snapshot — the loser aborts and its orphan dir GCs
      commitOwning(name, snap)(cur =>
        if (cur.exists(carriesTag(_, tag))) None else Some(cur :+ snap))
    }
  }

  // ------------------------------------------------------------------
  // Branches: zero-copy divergent lines of a table (the LakeFS/Nessie
  // pattern scaled down to path-table manifests). A branch is two extra
  // pointer files in the SAME table directory —
  //   BRANCH-<b>: the branch head (flipped atomically like CURRENT)
  //   BASE-<b>:   the fork-point manifest, frozen (the three-way base)
  // — so creating a branch moves zero data bytes, branch commits write
  // ordinary snapshots next to main's, and commitManifest's GC counts
  // every branch pointer among the live roots. Branch commits keep no
  // version history (the branch is a workspace, not an archive); orphan
  // snapshots from branch overwrites are reaped by the next main commit.
  // ------------------------------------------------------------------

  private def branchFile(name: String, b: String) =
    new Path(tableDir(name), s"BRANCH-$b")
  private def branchBaseFile(name: String, b: String) =
    new Path(tableDir(name), s"BASE-$b")
  private def requireBranchName(b: String): Unit =
    require(b.nonEmpty && b.forall(c => c.isLetterOrDigit || c == '.' || c == '_'),
      s"branch name must be [A-Za-z0-9._]+: '$b'")

  /** Fork `branch` off the table's current state — O(pointer), no data
    * copied. The base manifest freezes for the eventual three-way merge. */
  def createBranch(name: String, branch: String): Unit = {
    requireBranchName(branch)
    require(exists(name), s"Table not found: $name")
    require(!fs(tableDir(name)).exists(branchFile(name, branch)),
      s"Branch exists: $name@$branch")
    val snaps = readManifest(name)
    // base first: a crash between the writes leaves an inert BASE file
    // (extra GC root, no visible branch) rather than a branch with no base
    atomicWritePointer(tableDir(name), branchBaseFile(name, branch), snaps)
    atomicWritePointer(tableDir(name), branchFile(name, branch), snaps)
  }

  /** Live branches of `name`. */
  def branches(name: String): Seq[String] = {
    val dir = tableDir(name)
    val filesystem = fs(dir)
    if (!filesystem.exists(dir)) Nil
    else filesystem.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("BRANCH-") && !n.contains(".tmp-") =>
        n.stripPrefix("BRANCH-") }
      .toSeq.sorted
  }

  /** Scan a branch head — same replay + schema evolution as [[scan]]
    * (a branch forked after a DV delete inherits the DV entry). */
  def scanBranch(name: String, branch: String): DataFrame = {
    val f = branchFile(name, branch)
    require(fs(tableDir(name)).exists(f), s"Branch not found: $name@$branch")
    readState(name, readManifestFile(f))
  }

  /** Append to a branch head (atomic branch-pointer flip; main untouched).
    * The read-modify-write of the head runs under the table's commit lock
    * so same-process racing branch appenders serialize instead of one
    * silently overwriting the other's flip (branch heads keep no version
    * files, so the main table's claim protocol doesn't apply; the branch
    * is a single-writer workspace across processes). */
  def appendBranch(name: String, branch: String, df: DataFrame): Unit = {
    val f = branchFile(name, branch)
    require(fs(tableDir(name)).exists(f), s"Branch not found: $name@$branch")
    checkNoTypeChanges(name, entriesSchema(name, readManifestFile(f)), df)
    val snap = writeSnapshot(name, df)
    try TableStore.commitLock(root, name).synchronized {
      atomicWritePointer(tableDir(name), f, readManifestFile(f) :+ snap)
    } finally TableStore.unmarkPending(pendingKey(name, snap))
  }

  /** Replace a branch head's content (atomic; main untouched). Last-wins
    * by contract (like [[overwrite]]); the lock only serializes the flip
    * against [[appendBranch]]'s read-modify-write so an append never
    * resurrects the pre-overwrite head. */
  def overwriteBranch(name: String, branch: String, df: DataFrame): Unit = {
    val f = branchFile(name, branch)
    require(fs(tableDir(name)).exists(f), s"Branch not found: $name@$branch")
    val snap = writeSnapshot(name, df)
    try TableStore.commitLock(root, name).synchronized {
      atomicWritePointer(tableDir(name), f, Seq(snap))
    } finally TableStore.unmarkPending(pendingKey(name, snap))
  }

  /** Delete a branch and its base pointer; snapshots referenced by
    * nothing else fall to the next main commit's GC. */
  def dropBranch(name: String, branch: String): Unit = {
    val filesystem = fs(tableDir(name))
    filesystem.delete(branchFile(name, branch), false)
    filesystem.delete(branchBaseFile(name, branch), false)
  }

  /** Row-level THREE-WAY merge of `branch` into main, keyed by `keys`
    * (unique per row on every side).
    *
    * Change sets are computed against the frozen fork base: a key is a
    * CONFLICT iff both sides changed it since the base AND their final
    * rows differ (both making the identical change is not a conflict —
    * the git contract). With zero conflicts the merge commits
    * atomically — main becomes (main minus branch-changed keys) ∪
    * (branch's rows for those keys), covering updates, inserts, and
    * deletes in one expression — and the branch drops. With conflicts
    * the store is left UNTOUCHED and the conflict report returns:
    * (keys..., op_main, op_branch) — op ∈ insert/update/delete from each
    * side's diff vs base. Callers resolve by writing the winning rows to
    * one side and re-merging.
    *
    * Scale shape: three manifest scans, two key-wise diffs (full-outer
    * joins on the key — the same shape as [[diffVersions]]), and the
    * commit path's anti/semi joins; nothing row-quadratic, no windows.
    * The conflict probe `count()` is a driver scalar, not a collect. */
  def mergeBranch(
      name: String,
      branch: String,
      keys: Seq[String],
      policy: TableStore.MergePolicy = TableStore.MergePolicy.Fail
  ): DataFrame = {
    val tw = threeWay(name, branch, keys)
    val resolvable = policy != TableStore.MergePolicy.Fail
    if (!tw.hasConflicts || resolvable) {
      // with a resolution policy the report outlives the commit, whose GC
      // can reap the snapshots the lazy frame reads — materialize first
      // (edit-sized by construction; localCheckpoint cuts the file lineage)
      val report =
        if (tw.hasConflicts) tw.conflicts.cutLineage()
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          tw.conflicts.schema)
      val takeKeys = policy match {
        case TableStore.MergePolicy.OursWins =>
          tw.branchChangedKeys.join(tw.conflicts, keys, "left_anti")
            .select(keys.map(col): _*)
        case _ => tw.branchChangedKeys
      }
      val merged = tw.ours.join(takeKeys, keys, "left_anti")
        .unionByName(tw.theirs.join(takeKeys, keys, "left_semi"),
          allowMissingColumns = true)
      // like every rewrite: a uniform hive layout on main survives the
      // merge commit (a flat fold would break the next retention sweep)
      val snap = writeLayoutPreserving(name, tw.basisMain, merged)
      // commit conditional on BOTH basis states: a concurrent main commit
      // or branch append since the three-way read means the merged
      // snapshot describes a state that no longer exists — fail loudly
      // (callers re-run the merge) instead of silently dropping it. The
      // in-flight mark clears on every exit (the failed snapshot becomes
      // ordinary GC fodder).
      try TableStore.commitLock(root, name).synchronized {
        val branchNow = readManifestFile(branchFile(name, branch))
        require(branchNow == tw.basisBranch,
          s"mergeBranch: $name@$branch moved during the merge — retry")
        val committed = commitOwning(name, snap)(
          cur => if (cur == tw.basisMain) Some(Seq(snap)) else None)
        require(committed,
          s"mergeBranch: $name moved during the merge — retry")
        dropBranch(name, branch)
      } finally TableStore.unmarkPending(pendingKey(name, snap))
      report
    } else tw.conflicts
  }

  /** REBASE `branch` onto main's current state: the branch head becomes
    * (main minus branch-changed keys) ∪ (branch's rows for them) — the
    * same three-way algebra as [[mergeBranch]] committed to the BRANCH —
    * and the fork base advances to main's manifest, so a later merge is
    * clean by construction. Conflicts follow `policy`: Fail refuses and
    * touches nothing; OursWins adopts main's rows; TheirsWins keeps the
    * branch's. Returns the conflict report ((keys..., op_main,
    * op_branch); empty under Fail when the rebase committed). */
  def rebaseBranch(
      name: String,
      branch: String,
      keys: Seq[String],
      policy: TableStore.MergePolicy = TableStore.MergePolicy.Fail
  ): DataFrame = {
    val tw = threeWay(name, branch, keys)
    val resolvable = policy != TableStore.MergePolicy.Fail
    if (!tw.hasConflicts || resolvable) {
      val report =
        if (tw.hasConflicts) tw.conflicts.cutLineage()
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          tw.conflicts.schema)
      val takeKeys = policy match {
        case TableStore.MergePolicy.OursWins =>
          tw.branchChangedKeys.join(tw.conflicts, keys, "left_anti")
            .select(keys.map(col): _*)
        case _ => tw.branchChangedKeys
      }
      val rebased = tw.ours.join(takeKeys, keys, "left_anti")
        .unionByName(tw.theirs.join(takeKeys, keys, "left_semi"),
          allowMissingColumns = true)
      // the branch head inherits main's uniform layout the same way
      val snap = writeLayoutPreserving(name, tw.basisMain, rebased)
      // head first, then base: a crash between the flips leaves a branch
      // whose base still predates the rebase — a later merge re-runs the
      // same three-way and converges (rows already match theirs). The
      // flips run under the table lock AND conditional on BOTH basis
      // manifests the three-way read: a racing appendBranch (or a main
      // commit) fails the rebase loudly. The new base is EXACTLY the
      // main manifest the rebased rows were derived from — advancing it
      // to a fresher manifest would poison the fork point (a later merge
      // would read main-side rows the branch never saw as branch
      // deletions and silently drop them from main).
      try TableStore.commitLock(root, name).synchronized {
        val branchNow = readManifestFile(branchFile(name, branch))
        require(branchNow == tw.basisBranch,
          s"rebaseBranch: $name@$branch moved during the rebase — retry")
        require(readManifest(name) == tw.basisMain,
          s"rebaseBranch: $name moved during the rebase — retry")
        atomicWritePointer(tableDir(name), branchFile(name, branch), Seq(snap))
        atomicWritePointer(tableDir(name), branchBaseFile(name, branch),
          tw.basisMain)
      } finally TableStore.unmarkPending(pendingKey(name, snap))
      report
    } else tw.conflicts
  }

  private case class ThreeWay(
      ours: DataFrame, theirs: DataFrame,
      branchChangedKeys: DataFrame, conflicts: DataFrame,
      hasConflicts: Boolean,
      basisMain: Seq[String], basisBranch: Seq[String])

  /** The shared three-way core: change sets vs the frozen fork base,
    * git-contract conflicts (both changed AND final rows differ). Change
    * sets persist — edit-sized, consumed by both the probe and the
    * commit's anti/semi keys. The probe is a driver scalar, not a
    * collect. */
  private def threeWay(
      name: String, branch: String, keys: Seq[String]): ThreeWay = {
    require(keys.nonEmpty, "three-way merge: at least one key column")
    val f = branchFile(name, branch)
    require(fs(tableDir(name)).exists(f), s"Branch not found: $name@$branch")
    val base = readState(name, readManifestFile(branchBaseFile(name, branch)))
    // basis manifests captured ONCE and frames built from them — the
    // commit is conditional on these exact states, so a concurrent main
    // or branch writer makes the merge fail loudly instead of silently
    // committing a merge of a state that no longer exists
    val basisMain = readManifest(name)
    val basisBranch = readManifestFile(f)
    val ours = readState(name, basisMain)
    val theirs = readState(name, basisBranch)

    val bd = diffFrames(base, theirs, keys)
      .select(keys.map(col) :+ col("op").as("op_branch"): _*)
      .cutLineage(eager = false) // lineage-cut: joined + returned below
    val md = diffFrames(base, ours, keys)
      .select(keys.map(col) :+ col("op").as("op_main"): _*)
      .cutLineage(eager = false)
    val both = bd.join(md, keys)
    // identical-change exemption: ours row null-safe-equals theirs row
    val nonKey = ours.columns.filter(c => !keys.contains(c))
    val o = ours.select(keys.map(col) :+
      struct(nonKey.sorted.map(col): _*).as("__orow"): _*)
    val t = theirs.select(keys.map(col) :+
      struct(nonKey.sorted.map(col): _*).as("__trow"): _*)
    val conflicts = both
      .join(o, keys, "left")
      .join(t, keys, "left")
      .where(!(col("__orow") <=> col("__trow")))
      .select(keys.map(col) :+ col("op_main") :+ col("op_branch"): _*)
      .cutLineage(eager = false)
    ThreeWay(ours, theirs, bd.select(keys.map(col): _*), conflicts,
      conflicts.limit(1).count() > 0L, basisMain, basisBranch)
  }

  /** Atomic pointer flip (tmp write + rename, overwrite allowed) — branch
    * heads and the CURRENT cache. For branch heads the rename IS the
    * commit; for CURRENT the commit already happened at the version claim
    * and the flip only refreshes the cache. Entries the new pointer names
    * are referenced now, so their in-flight GC marks clear. */
  private def atomicWritePointer(
      dir: Path, pointer: Path, lines: Seq[String]): Unit = {
    val filesystem = fs(dir)
    val tmp = new Path(dir,
      s"${pointer.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = filesystem.create(tmp, true)
    try out.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (filesystem.exists(pointer)) filesystem.delete(pointer, false)
    if (!filesystem.rename(tmp, pointer))
      throw new IllegalStateException(s"Failed to commit pointer $pointer")
    lines.filterNot(_.startsWith("#"))
      .foreach { e =>
        val p = new Path(dir, e)
        TableStore.unmarkPending(fs(p).makeQualified(p).toUri.getPath)
      }
  }

  private[table] def commitManifest(name: String, snaps: Seq[String]): Unit = {
    val committed = commitManifestCasOpt(name, _ => Some(snaps))
    assert(committed, s"unconditional commit of $name cannot abort")
  }

  private[table] def commitManifestCas(
      name: String, compute: Seq[String] => Seq[String]): Unit = {
    val committed = commitManifestCasOpt(name, cur => Some(compute(cur)))
    assert(committed, s"CAS commit of $name cannot abort")
  }

  /** Optimistic commit: `compute` maps the manifest AT COMMIT TIME to the
    * new manifest (None aborts — e.g. an idempotency tag already landed).
    * The COMMIT POINT is claiming `v-(max+1)` by no-overwrite rename of a
    * sealed tmp file (putIfAbsent); a writer that loses the claim re-runs
    * `compute` against the winner's manifest and tries the next slot, so
    * concurrent appenders all land. Post-claim work (CURRENT cache flip,
    * retention pruning, GC) is crash-tolerant: a death anywhere after the
    * claim leaves the committed state readable ([[readManifest]] prefers
    * the sealed head over a stale CURRENT). Returns true iff committed. */
  private[table] def commitManifestCasOpt(
      name: String, compute: Seq[String] => Option[Seq[String]]): Boolean = {
    val dir = tableDir(name)
    val filesystem = fs(dir)
    filesystem.mkdirs(dir)
    TableStore.commitLock(root, name).synchronized {
      var attempt = 0
      while (attempt < 64) {
        attempt += 1
        val (head, cur) = readHead(name)
        compute(cur) match {
          case None => return false
          case Some(snaps) =>
            // claim exactly head+1: a racer that committed since our read
            // holds this slot, so the claim fails and we re-derive
            val next = head + 1L
            val payload = (snaps :+ SealLine).mkString("\n")
              .getBytes(StandardCharsets.UTF_8)
            if (claimVersion(name, next, payload)) {
              finishCommit(name, snaps, next)
              return true
            }
        }
      }
      throw new IllegalStateException(
        s"commit of $name lost the version race 64 times — aborting")
    }
  }

  /** putIfAbsent rename: must NOT overwrite an existing destination.
    * FileContext's rename without the OVERWRITE option fails on an
    * existing destination (atomic on HDFS; object stores map it to a
    * conditional put). Same-process claimants are additionally serialized
    * by the per-table commit lock. */
  private def fileContext(p: Path): org.apache.hadoop.fs.FileContext =
    fcCache.computeIfAbsent(cacheKey(fs(p).makeQualified(p)),
      _ => org.apache.hadoop.fs.FileContext.getFileContext(
        fs(p).makeQualified(p).toUri, conf))

  private def claimRename(src: Path, dst: Path): Boolean = {
    val qualified = fs(dst).makeQualified(dst)
    try {
      fileContext(dst).rename(fs(src).makeQualified(src), qualified)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.io.IOException if fs(dst).exists(dst) => false
    }
  }

  /** Atomically claim version `next` with `payload` as its content;
    * true iff THIS writer created the file. On `file://`, Hadoop's
    * local no-overwrite rename is exists-check-then-rename (not atomic
    * across processes), so the claim is POSIX link(2) instead: write a
    * tmp, hard-link it to the final `v-` name — link fails with EEXIST
    * atomically, and on success the sealed content is already at the
    * destination (same inode). Everything else goes through the
    * FileContext no-overwrite rename (see the constructor's filesystem
    * contract). The tmp never outlives the attempt on the link path;
    * rename-path losers delete theirs here, crash leftovers reap by GC. */
  private def claimVersion(name: String, next: Long, payload: Array[Byte]): Boolean =
    exclusiveCreate(tableDir(name), versionFile(name, next), payload)

  /** putIfAbsent of `dst` (under `dir`) with `payload` as content — the
    * commit claim's atomic-create discipline factored out so other
    * exactly-one-winner files (operator leases) ride the identical
    * filesystem contract instead of reinventing it. */
  private def exclusiveCreate(dir: Path, dst: Path, payload: Array[Byte]): Boolean = {
    val qdst = fs(dst).makeQualified(dst)
    val tmpName = s"vtmp-${java.util.UUID.randomUUID().toString.take(8)}"
    if (qdst.toUri.getScheme == "file") {
      val dirPath = java.nio.file.Paths.get(
        fs(dir).makeQualified(dir).toUri.getPath)
      val tmp = dirPath.resolve(tmpName)
      java.nio.file.Files.write(tmp, payload)
      try {
        TableStore.linkOp(
          java.nio.file.Paths.get(qdst.toUri.getPath), tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        // a file:// mount without hard-link support (CIFS, FAT, some NFS
        // exports): degrade to O_CREAT|O_EXCL — exclusive create is the
        // atomic putIfAbsent POSIX and NFSv3+ both guarantee, where a
        // no-overwrite RENAME on a local mount is Hadoop's exists-check
        // followed by rename(2) (which silently replaces) and would let
        // two claimants both "win". Weaker than link(2) only in the
        // crash window: a claimant dying mid-write leaves a partial
        // (unsealed) version file, which readHead already refuses to
        // serve as authoritative — the slot is burned, the committed
        // state stays CURRENT's.
        case _: UnsupportedOperationException |
            _: java.nio.file.FileSystemException =>
          try {
            java.nio.file.Files.write(
              java.nio.file.Paths.get(qdst.toUri.getPath), payload,
              java.nio.file.StandardOpenOption.CREATE_NEW,
              java.nio.file.StandardOpenOption.WRITE)
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
      } finally {
        java.nio.file.Files.deleteIfExists(tmp); ()
      }
    } else {
      // "vtmp-", not "v-…": versions() must never parse a claim tmp.
      // Written through FileContext, the same layer that renames it,
      // so no sidecar (e.g. local checksum) is ever stranded.
      val tmp = new Path(dir, tmpName)
      val out = fileContext(dir).create(
        fs(dir).makeQualified(tmp),
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
          org.apache.hadoop.fs.CreateFlag.OVERWRITE))
      try out.write(payload)
      finally out.close()
      if (claimRename(tmp, dst)) true
      else { fs(dir).delete(tmp, false); false }
    }
  }

  // ------------------------------------------------------------------
  // Advisory operator leases: exactly-one-holder coordination for
  // operations whose CORRECTNESS assumes a single operator per table at
  // a time (the retention cascade's journal drain — a concurrent drain
  // could replay an in-flight, untagged BM25 negation twice). The lease
  // is one exclusive-created file (the commit claim's putIfAbsent
  // discipline, so it is exactly as atomic as the commit protocol on
  // every supported filesystem); a holder that dies leaves the file
  // until `ttlMs` passes, after which takeover is arbitrated by an
  // atomic rename of the stale file — exactly one contender wins the
  // right to re-claim. ADVISORY: only callers that acquire the same
  // `kind` coordinate; table commits never check it.
  // ------------------------------------------------------------------

  /** Write a small per-table sidecar file (operator bookkeeping — e.g.
    * the retention drain's last-run stamp). Plain overwrite: content
    * must be advisory (a torn read degrades to "absent", never to a
    * correctness input). Names are prefix-restricted so they can never
    * collide with commit machinery (`v-`/`snap-`/`dv-`/CURRENT/LEASE-),
    * and GC ignores them by construction. */
  def writeSidecarFile(name: String, fileName: String,
      content: String): Unit = {
    require(fileName.startsWith("SIDECAR-") &&
        fileName.forall(c => c.isLetterOrDigit || c == '.' || c == '_' ||
          c == '-'),
      s"sidecar file name must be SIDECAR-[A-Za-z0-9._-]+: '$fileName'")
    val dir = tableDir(name)
    if (!fs(dir).exists(dir)) fs(dir).mkdirs(dir)
    val f = new Path(dir, fileName)
    val out = fs(f).create(f, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read a [[writeSidecarFile]] sidecar; None when absent or torn. */
  def readSidecarFile(name: String, fileName: String): Option[String] =
    readSmallFile(new Path(tableDir(name), fileName)).filter(_.nonEmpty)

  private def leaseFile(name: String, kind: String) =
    new Path(tableDir(name), s"LEASE-$kind")
  private def leaseHbFile(name: String, kind: String) =
    new Path(tableDir(name), s"LEASE-$kind.hb")
  private def requireLeaseKind(kind: String): Unit =
    require(kind.nonEmpty &&
        kind.forall(c => c.isLetterOrDigit || c == '.' || c == '_'),
      s"lease kind must be [A-Za-z0-9._]+: '$kind'")

  private def readSmallFile(f: Path): Option[String] =
    if (!fs(f).exists(f)) None
    else try {
      val in = fs(f).open(f)
      Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close())
    } catch {
      case _: java.io.FileNotFoundException => None // deleted mid-probe
      case scala.util.control.NonFatal(_) => Some("")
    }

  /** ONE atomic read of the lease file, fully parsed. All lease logic
    * derives from a single snapshot: an earlier version read the file
    * once for (holder, ts) and AGAIN for the declared ttl, and a
    * release + re-acquire landing between the two reads paired the OLD
    * holder's acquisition time with the NEW holder's ttl — a claimant
    * could then judge a brand-new live lease stale and take it over. */
  private sealed trait LeaseRead
  private case object LeaseMissing extends LeaseRead
  private case object LeaseUnreadable extends LeaseRead
  private final case class LeaseHeld(holder: String, acquiredMs: Long,
      declaredTtlMs: Long) extends LeaseRead

  private def readLease(name: String, kind: String): LeaseRead = {
    requireLeaseKind(kind)
    readSmallFile(leaseFile(name, kind)) match {
      case None => LeaseMissing
      case Some(txt) =>
        val lines = txt.split("\n")
        (for {
          holder <- lines.headOption.filter(_.nonEmpty)
          ts <- lines.lift(1).flatMap(_.trim.toLongOption)
        } yield LeaseHeld(holder, ts,
          lines.lift(2).flatMap(_.trim.toLongOption).getOrElse(0L)))
          .getOrElse(LeaseUnreadable)
    }
  }

  /** The current holder and acquisition time (epoch ms) of the `kind`
    * lease on `name`, or None when unheld. An unreadable/partial lease
    * file (a holder that died inside the degraded non-link create path)
    * reports acquisition time 0 — immediately stale, so it can never
    * deadlock the table. */
  def leaseInfo(name: String, kind: String): Option[(String, Long)] =
    readLease(name, kind) match {
      case LeaseMissing => None
      case LeaseUnreadable => Some(("unreadable", 0L))
      case LeaseHeld(h, ts, _) => Some((h, ts))
    }

  /** Full lease state for staleness decisions and governance status:
    * (holder, acquiredMs, declaredTtlMs, effectiveMs) — all derived
    * from ONE read of the lease file. `declaredTtlMs` is the ttl the
    * HOLDER wrote at acquire time (0 when the payload predates the
    * self-describing format — the claimant's own ttl then governs, the
    * legacy behavior). `effectiveMs` is the acquisition time advanced by
    * the holder's last [[heartbeatLease]], the instant staleness is
    * measured from. */
  def leaseStatus(name: String,
      kind: String): Option[(String, Long, Long, Long)] =
    readLease(name, kind) match {
      case LeaseMissing => None
      case LeaseUnreadable => Some(("unreadable", 0L, 0L, 0L))
      case LeaseHeld(h, ts, ttl) =>
        val hbTs = readSmallFile(leaseHbFile(name, kind)).flatMap { txt =>
          val lines = txt.split("\n")
          // only the CURRENT holder's beats count: a previous holder's
          // stray heartbeat must never keep a successor's lease fresh
          if (lines.headOption.contains(h))
            lines.lift(1).flatMap(_.trim.toLongOption)
          else None
        }.getOrElse(0L)
        Some((h, ts, ttl, math.max(ts, hbTs)))
    }

  /** Renew the `kind` lease on `name` from its holder — the liveness
    * heartbeat. Writes a sidecar beat file (plain overwrite — a torn
    * read degrades to "no beat", never to a wrong holder) rather than
    * touching the lease file itself, so renewal opens NO window in which
    * the lease looks unheld. Returns false ONLY on positive evidence the
    * lease no longer names `holder` (a staleness takeover landed, or the
    * lease was released — the single-operator assumption is broken and
    * the caller must treat its own result as suspect); an UNREADABLE
    * lease file (transient fs error, torn concurrent write) THROWS
    * instead, so a retrying caller does not misread a hiccup as a
    * takeover. Call on a cadence well inside the declared ttl (ttl/3 is
    * the convention). */
  def heartbeatLease(name: String, kind: String, holder: String): Boolean =
    readLease(name, kind) match {
      case LeaseHeld(h, _, _) if h == holder =>
        val hb = leaseHbFile(name, kind)
        val out = fs(hb).create(hb, true)
        try out.write(s"$holder\n${System.currentTimeMillis()}\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      case LeaseUnreadable =>
        throw new java.io.IOException(
          s"lease $kind on table '$name': unreadable during heartbeat — " +
            "transient; retry next beat")
      case _ => false // positively released or taken over
    }

  /** Try to acquire the advisory `kind` lease on `name` for `holder`;
    * true iff acquired. `ttlMs` is the ttl this holder DECLARES for its
    * own hold — it is written into the lease payload, and staleness of
    * the resulting lease is judged against it (plus any later
    * [[heartbeatLease]] renewals), never against a claimant's policy: a
    * short-ttl claimant cannot take over a live holder that declared a
    * longer deadline. (Legacy two-line payloads carry no declared ttl;
    * for those only, the claimant's `ttlMs` governs.) A lease whose
    * holder is past its own deadline with no fresher heartbeat is STALE
    * (the holder is presumed dead) and is taken over: the stale file is
    * atomically renamed aside (one winner among racing contenders), then
    * the normal exclusive create runs — a third party that slips in
    * between still wins cleanly, this contender just returns false. Pair
    * every successful acquire with [[releaseLease]] in a finally block
    * and keep long holds fresh with [[heartbeatLease]]. */
  def tryAcquireLease(name: String, kind: String, holder: String,
      ttlMs: Long): Boolean = {
    requireLeaseKind(kind)
    require(holder.nonEmpty && !holder.contains("\n"),
      "lease holder must be a non-empty single-line token")
    require(ttlMs > 0, "lease ttlMs must be > 0")
    val dir = tableDir(name)
    val filesystem = fs(dir)
    if (!filesystem.exists(dir)) filesystem.mkdirs(dir)
    val f = leaseFile(name, kind)
    leaseStatus(name, kind) match {
      case Some((_, _, declaredTtl, effectiveTs))
          if System.currentTimeMillis() - effectiveTs <
            (if (declaredTtl > 0) declaredTtl else ttlMs) =>
        return false
      case Some((h, ts, declaredTtl, effectiveTs)) =>
        // stale: park it aside (audit breadcrumb until deleted); the
        // rename is the takeover arbitration — losers see the source
        // vanish (FileNotFoundException on most filesystems) and FAIL
        // the attempt, per this method's contract
        val parked = new Path(dir,
          s"LEASE-$kind.stale-${java.util.UUID.randomUUID().toString.take(8)}")
        val renamed =
          try claimRename(f, parked)
          catch { case _: java.io.FileNotFoundException => false }
        if (!renamed) return false
        TableStore.log.warn(s"lease $kind on table '$name': taking over " +
          s"from stale holder '$h' (acquired epoch-ms $ts, last beat " +
          s"$effectiveTs, declared ttl " +
          s"${if (declaredTtl > 0) declaredTtl else s"none — claimant's $ttlMs"} ms)")
        filesystem.delete(parked, false)
        val hb = leaseHbFile(name, kind)
        if (filesystem.exists(hb)) filesystem.delete(hb, false)
        // reap breadcrumbs crashed operators left behind: takeover
        // .stale- files AND release .tomb- files (a releaser that died
        // between its rename and its delete) — but only AGED ones: a
        // fresh .tomb- is inside releaseLease's rename→verify→delete
        // microseconds and must never be reaped from under the
        // verification read, which is why the prefixes are distinct and
        // the age gate is generous
        val now = System.currentTimeMillis()
        filesystem.listStatus(dir)
          .filter { st =>
            val n = st.getPath.getName
            (n.startsWith(s"LEASE-$kind.stale-") ||
              n.startsWith(s"LEASE-$kind.tomb-")) &&
            now - st.getModificationTime > 60000L
          }
          .foreach(st => filesystem.delete(st.getPath, false))
      case None => ()
    }
    val payload = s"$holder\n${System.currentTimeMillis()}\n$ttlMs\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val won = exclusiveCreate(dir, f, payload)
    if (won) {
      // any beat file present now is a predecessor's stray (takeover
      // deletes it; release can race its own delete) — drop it so it
      // can never be misread against this holder
      val hb = leaseHbFile(name, kind)
      try if (filesystem.exists(hb)) filesystem.delete(hb, false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    won
  }

  /** Release the `kind` lease on `name` IF still held by `holder`; a
    * lease taken over mid-hold (the holder outlived its ttl) is left
    * alone with a warning — deleting it would free a lease some other
    * operator now legitimately holds. The removal is rename-then-verify,
    * not check-then-delete: a takeover landing between the holder check
    * and a plain delete would have its FRESH lease deleted; here the
    * rename atomically captures whichever file is current, the content
    * is re-verified, and a mismatched (stolen) lease is restored through
    * the same exclusive create — the residual hazard needs a THIRD
    * racer inside the restore microseconds and is loudly logged. */
  def releaseLease(name: String, kind: String, holder: String): Unit =
    leaseInfo(name, kind) match {
      case Some((h, _)) if h == holder =>
        val f = leaseFile(name, kind)
        val dir = tableDir(name)
        // .tomb- (release verification), DISTINCT from .stale- (takeover
        // breadcrumbs): tryAcquireLease's breadcrumb reap matches only
        // .stale-, so a concurrent takeover can never delete this tomb
        // between the rename and the verification read below — which
        // would force the unverified-release fallback and, in the
        // displaced-takeover sub-case, silently discard the new holder's
        // restored lease
        val tomb = new Path(dir,
          s"LEASE-$kind.tomb-${java.util.UUID.randomUUID().toString.take(8)}")
        val renamed =
          try claimRename(f, tomb)
          catch { case _: java.io.FileNotFoundException => false }
        if (renamed) {
          // read with retries: an unreadable capture must be
          // distinguished from a VERIFIED mismatch — "restoring" empty
          // bytes would plant an immediately-stale unreadable lease,
          // and in the takeover sub-case silently discard the new
          // holder's content
          def readTomb(attempt: Int): Option[String] =
            try {
              val in = fs(tomb).open(tomb)
              Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close())
            } catch {
              case scala.util.control.NonFatal(_) if attempt < 3 =>
                Thread.sleep(10); readTomb(attempt + 1)
              case scala.util.control.NonFatal(_) => None
            }
          readTomb(0) match {
            case Some(captured)
                if captured.takeWhile(_ != '\n') != holder =>
              // a ttl takeover re-assigned the lease between the check
              // and the rename: restore the new holder's file
              val restored = exclusiveCreate(dir, f, captured.getBytes(
                java.nio.charset.StandardCharsets.UTF_8))
              if (!restored)
                TableStore.log.error(s"lease $kind on table '$name': " +
                  s"release by superseded holder '$holder' displaced a " +
                  "takeover's lease and a third claimant beat the " +
                  "restore — two operators may briefly overlap; size " +
                  "the ttl above the longest legitimate hold")
            case Some(_) => () // verified ours: released
            case None =>
              // persistently unreadable: overwhelmingly our own file
              // (the rename captured whatever was current and we held
              // the lease microseconds ago); release it and say so
              TableStore.log.warn(s"lease $kind on table '$name': " +
                "released without content verification (tomb unreadable)")
          }
          fs(tomb).delete(tomb, false)
          // the released hold's heartbeat sidecar (if any) is dead weight
          // now; drop it when it still names this holder
          val hb = leaseHbFile(name, kind)
          try {
            val ours = readSmallFile(hb)
              .exists(_.takeWhile(_ != '\n') == holder)
            if (ours) fs(hb).delete(hb, false)
          } catch { case scala.util.control.NonFatal(_) => () }
          ()
        }
      case Some((h, _)) =>
        TableStore.log.warn(s"lease $kind on table '$name': not releasing " +
          s"— held by '$h', not '$holder' (this holder exceeded the " +
          "staleness window and was taken over; its work may have raced)")
      case None => ()
    }

  /** Post-claim bookkeeping: CURRENT cache flip (tagged `#v:N`), version
    * retention pruning (never the head — takeRight includes it), then GC
    * of `snap-`/`dv-` dirs reachable from no pointer. GC spares dirs a
    * same-process writer has in flight (the pending registry) and dirs
    * younger than `gcGraceMs` (the cross-process guard); stale claim tmp
    * files reap on the same grace. */
  private def finishCommit(name: String, snaps: Seq[String], next: Long): Unit = {
    val dir = tableDir(name)
    val filesystem = fs(dir)
    // the CACHE flip is best-effort: the commit already sealed at the
    // version claim, so NO failure here may surface to the caller — a
    // raced delete+rename flip (IllegalStateException) or a transient
    // IOException would otherwise report failure for a commit that
    // landed, and a naive caller retry would duplicate the append.
    // Readers prefer the higher of the tag and the sealed head anyway;
    // the pending-unmark cleanup must still run on the failure path.
    try atomicWritePointer(dir, currentFile(name), s"#v:$next" +: snaps)
    catch { case scala.util.control.NonFatal(_) =>
      snaps.foreach(e => TableStore.unmarkPending(pendingKey(name, e)))
    }

    // ONE listing serves version retention, branch-pointer discovery, and
    // GC candidate selection — the commit-heavy index operations pay this
    // per commit, and three listStatus round-trips per commit was the
    // measurable share of their regression (object stores price each
    // LIST; local fs prices the syscalls).
    val listing = filesystem.listStatus(dir)
    val known = listing.map(_.getPath.getName)
      .collect { case n if n.startsWith("v-") => n.drop(2).toLong }
      .sorted.toSeq
    val retained = known.takeRight(retainVersions)
    known.filterNot(retained.contains)
      .foreach(v => filesystem.delete(versionFile(name, v), false))

    // GC must see every pointer that can reach an entry: the new head,
    // retained versions, AND all branch heads + their merge bases
    val branchRefs = listing
      .map(_.getPath)
      .filter(p => p.getName.startsWith("BRANCH-") ||
        p.getName.startsWith("BASE-"))
      .flatMap(readManifestFile)
    // partition-subset entries (snap-x/lang=en) keep their whole snapshot
    // directory alive — GC is top-level-dir-granular; the dropped
    // partitions' bytes reclaim at the next compact/rewrite
    val live = (snaps.toSet ++
      retained.flatMap(v => readManifestFile(versionFile(name, v))) ++
      branchRefs).map(snapRootOf)
    val now = System.currentTimeMillis()
    listing.foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && (n.startsWith("snap-") || n.startsWith("dv-")) &&
          !live.contains(n) &&
          !TableStore.isPending(st.getPath.toUri.getPath) &&
          now - st.getModificationTime >= gcGraceMs)
        // dead-snapshot reclamation off the committing thread: the dir is
        // unreferenced by every live pointer and snapshot names are never
        // reused, so a deferred recursive delete races nothing; a re-listed
        // still-queued dir just re-enqueues an idempotent delete
        TableStore.deleteAsync(filesystem, st.getPath)
      else if (!st.isDirectory && n.startsWith("vtmp-") &&
          now - st.getModificationTime >= math.max(gcGraceMs, 60000L))
        filesystem.delete(st.getPath, false)
    }
  }

  // CRASH RECOVERY for drop()'s rename-then-reap: a JVM that died between
  // the rename and the background reap leaves a `.reap-*` trash dir that
  // list() hides and nothing else ever reclaims (the commit-time GC walks
  // only inside table dirs). Re-enqueue any such orphan at construction —
  // deletion is idempotent, so racing another process's still-live reaper
  // is harmless. One root listStatus; nothing for a fresh root. (Class-body
  // tail: runs after fsCache and friends are initialized.)
  locally {
    val r = new Path(root)
    val f = fs(r)
    if (f.exists(r))
      f.listStatus(r).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith(".reap-"))
          TableStore.deleteAsync(f, st.getPath)
      }
  }
}

object TableStore {
  private[table] val log = org.slf4j.LoggerFactory.getLogger("graft.table")

  /** One parquet row group's footer view of an integer column: its row
    * count and the column's min and max (`None` when every value is null). */
  private[graft] final case class RowGroup(rows: Long, min: Option[Long],
      max: Option[Long])

  /** Background reclamation thread: recursive deletes of UNREFERENCED
    * directories (commit GC, drop()'s renamed trash) run here instead of
    * on the committing/calling thread. Single daemon thread — deletion
    * throughput is not the constraint, keeping the caller's latency free
    * of O(files) unlink syscalls is. */
  private val reaper = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => {
      val t = new Thread(r, "graft-table-reaper")
      t.setDaemon(true); t
    })

  /** Barrier for tests and space-sensitive callers: returns once every
    * reclamation enqueued BEFORE the call has finished (the reaper is a
    * single FIFO thread, so one queued no-op is a full drain). */
  def awaitReap(): Unit = {
    reaper.submit(new Runnable { override def run(): Unit = () }).get()
    ()
  }

  private[table] def deleteAsync(
      filesystem: org.apache.hadoop.fs.FileSystem, p: Path): Unit = {
    reaper.submit(new Runnable {
      override def run(): Unit =
        try { filesystem.delete(p, true); () }
        catch { case scala.util.control.NonFatal(e) =>
          log.warn(s"background reap of $p failed (left for a later GC): " +
            e.getMessage) }
    })
    ()
  }

  /** TEST SEAM: the link(2) primitive the `file://` claim path uses —
    * ConcurrentCommitSpec swaps it for one that throws
    * UnsupportedOperationException (a CIFS/FAT/NFS-without-hardlinks
    * mount) to pin the O_CREAT|O_EXCL degradation path every spec and
    * smoke otherwise never exercises. Production value is always
    * `Files.createLink`. */
  private[table] var linkOp:
      (java.nio.file.Path, java.nio.file.Path) => Unit =
    (dst, src) => { java.nio.file.Files.createLink(dst, src); () }

  /** Data dirs written but not yet referenced by any pointer — a
    * concurrent committer's GC must spare them or a commit racing an
    * in-flight snapshot write would reap the loser's data before its
    * retry lands. Keys are scheme-less absolute paths. Process-wide:
    * covers any number of stores/threads in one JVM; cross-process
    * writers rely on `gcGraceMs`. */
  private val pending =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[table] def markPending(p: String): Unit = { pending.add(p); () }
  private[table] def unmarkPending(p: String): Unit = { pending.remove(p); () }
  private[table] def isPending(p: String): Boolean = pending.contains(p)

  /** Per-(root, table) commit mutex — reentrant, so a compute closure
    * that itself commits (tests simulating racers) cannot deadlock. */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[table] def commitLock(root: String, name: String): Object =
    locks.computeIfAbsent(root + "\u0000" + name, _ => new Object)

  /** Conflict handling for [[TableStore.mergeBranch]]/[[TableStore.rebaseBranch]]:
    * Fail refuses and commits nothing; OursWins keeps main's rows on
    * conflicted keys; TheirsWins keeps the branch's. Either resolving
    * policy still returns the conflict report for audit. */
  /** A parquet file index over files the store has already listed, one
    * entry per leaf directory of `spec`: a scan plans from these statuses
    * and the manifest's partition values, and Spark lists nothing. */
  private final class ListedFileIndex(spark: SparkSession,
      spec: org.apache.spark.sql.execution.datasources.PartitionSpec,
      leaves: Seq[(Path, Seq[FileStatus])])
      extends org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex(
        spark, Map.empty, None) {
    override def partitionSpec()
        : org.apache.spark.sql.execution.datasources.PartitionSpec = spec
    override protected lazy val leafFiles = scala.collection.mutable.LinkedHashMap(
      leaves.flatMap(_._2).map(f => f.getPath -> f): _*)
    override protected lazy val leafDirToChildrenFiles = leaves.map {
      case (dir, files) => dir -> files.toArray }.toMap
    override def allFiles(): Seq[FileStatus] = leaves.flatMap(_._2)
    override def rootPaths: Seq[Path] = leaves.map(_._1)
    override def refresh(): Unit = ()
  }

  sealed trait MergePolicy
  object MergePolicy {
    case object Fail extends MergePolicy
    case object OursWins extends MergePolicy
    case object TheirsWins extends MergePolicy
  }
}
