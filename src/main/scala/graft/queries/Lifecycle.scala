package graft.queries

import graft.export.Export
import graft.ingest.{Reader, SourceFormat}
import graft.pipeline._
import graft.schema.{FieldConstraints, FrictionlessField, FrictionlessSchema}
import graft.table.TableStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** Lifecycle queries: the remaining SURVEY §2 operators exercised through
  * the REAL engine components (TableStore, Pipeline) inside the oracle
  * gate — not just unit tests. Temp dirs + fixed job timestamps keep every
  * output deterministic.
  */
object Lifecycle {
  import Tables.t

  private val JobTs = Timestamp.valueOf("2026-02-02 00:00:00")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // V1 as a query: per-field cast-audit error counts (try_cast probes)
    "v1_cast_audit" -> ((s, dir) => {
      val dirty = t(s, dir, "customer").select(
        // c_custkey stringified; every 3rd row corrupted with the name
        when(pmod(col("c_custkey"), lit(3)) === 0, col("c_name"))
          .otherwise(col("c_custkey").cast("string")).as("custkey_raw"),
        // acctbal stringified via exact decimal; every 5th row corrupted
        when(pmod(col("c_custkey"), lit(5)) === 0, lit("not-a-number"))
          .otherwise(col("c_acctbal").cast("decimal(12,2)").cast("string"))
          .as("acctbal_raw"))
      dirty.agg(
        count(lit(1)).as("rows"),
        count(when(expr("try_cast(custkey_raw AS BIGINT)").isNull
          && col("custkey_raw").isNotNull, 1)).as("custkey_errors"),
        count(when(expr("try_cast(acctbal_raw AS DECIMAL(38,9))").isNull
          && col("acctbal_raw").isNotNull, 1)).as("acctbal_errors"))
    }),

    // S7/W1: TableStore write → scan roundtrip (snapshot-swap storage)
    "s7_table_store_scan" -> ((s, dir) => {
      val store = new TableStore(s, Files.createTempDirectory("graft_q_store").toString)
      store.overwrite("orders_slice",
        t(s, dir, "orders").where(col("o_orderkey") % 100 === 0)
          .select("o_orderkey", "o_custkey", "o_totalprice"))
      store.scan("orders_slice").orderBy("o_orderkey")
    }),

    // F5: zero-row schema-only guard (WHERE 1=0 clone)
    "f5_zero_row_guard" -> ((s, dir) => {
      val store = new TableStore(s, Files.createTempDirectory("graft_q_clone").toString)
      store.createLike("clone", t(s, dir, "nation"))
      store.scan("clone").select("n_nationkey", "n_name")
    }),

    // A3: row/error counters surfaced as data
    "a3_row_counts" -> ((s, dir) =>
      t(s, dir, "documents").agg(
        count(lit(1)).as("rows"),
        count(when(col("n_chars") > 300, 1)).as("long_docs"),
        countDistinct(col("lang")).as("n_langs"))),

    // P8 (legacy file_conversion/csv_to_json.py): CSV → NDJSON conversion
    // nested NDJSON → flat warehouse columns: each document re-serialized
    // as a depth-3 nested JSON record, parsed back with an explicit
    // schema, then struct-flattened to parent_child scalars (no explode —
    // row counts never change). Field access stays native (null-safe,
    // codegen'd); both engines build the identical nested record so the
    // gate compares one flattening spec
    "p10_flatten_nested" -> ((s, dir) => {
      val nestedSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("meta",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("src",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("stats",
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("len",
                  org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("lang",
                  org.apache.spark.sql.types.StringType)))))))))
      val nested = t(s, dir, "documents").select(
        from_json(
          concat(lit("{\"id\":"), col("doc_id"),
            lit(",\"meta\":{\"src\":\""), col("source"),
            lit("\",\"stats\":{\"len\":"), length(col("text")),
            when(col("doc_id") % 7 === 0, lit("}}}")) // lang absent → null
              .otherwise(concat(lit(",\"lang\":\""), col("lang"),
                lit("\"}}}")))),
          nestedSchema).as("rec"))
        .select(col("rec.*"))
      graft.schema.Flatten.flattenStructs(nested)
        .orderBy("id")
    }),

    "p8_csv_to_json" -> ((s, dir) => {
      val work = Files.createTempDirectory("graft_q_p8")
      Export.export(t(s, dir, "region"), s"$work/csv",
        Export.ExportOptions(SourceFormat.Csv, orderBy = Some("r_regionkey"), singleFile = true))
      val schema = FrictionlessSchema(List(
        FrictionlessField("r_regionkey", "integer"),
        FrictionlessField("r_name", "string")))
      val csvDf = Reader.read(s, s"$work/csv", Reader.ReadOptions(
        format = Some(SourceFormat.Csv), schema = Some(schema), rowNumberColumn = None))
      csvDf.write.json(s"$work/json")
      s.read.schema(csvDf.schema).json(s"$work/json").orderBy("r_regionkey")
    }),

    // opaque JSON column accessor (§1.3: object/array types live as JSON
    // text; destructure on demand with get_json_object)
    "p5_json_accessor" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_value"))
        .groupBy((col("k_value") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"))
        .orderBy("k_mod")),

    // skew mitigation: salted two-phase aggregation over a hot-key column
    "a4_salted_agg" -> ((s, dir) =>
      graft.ops.Skew.saltedAgg(
        Tables.events(s, dir), Seq("event_type"), buckets = 8,
        saltFrom = Seq(col("event_id")),
        partial = Seq(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,2)")).as("sv")),
        combine = Seq(sum(col("n")).as("n_events"),
          sum(col("sv")).cast("double").as("sum_value")))
        .orderBy("event_type")),

    // skew mitigation for JOINS: fact side salted, dim side replicated
    // across buckets, join on (key, salt) — splits every hot key over 8
    // reducers; result is provably the plain join (the oracle runs it
    // unsalted). Fact key = event_type (a handful of hot values over the
    // whole table — the born-skewed case AQE only fixes after a straggler)
    "a5_salted_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("type_users"))
      graft.ops.Skew.saltedJoin(ev, dim, "event_type", buckets = 8,
          saltFrom = Seq(col("event_id")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(20,2)")).cast("double").as("sum_value"),
          max(col("type_users")).as("type_users"))
        .orderBy("event_type")
    }),

    // skew-SPLIT join: hot keys (from the audit) salted against the hot
    // dim slice, the cold mass joined plainly; union == the plain join
    "a6_skew_split_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("type_users"))
      graft.ops.Skew.skewSplitJoin(ev, dim, "event_type",
          hotKeys = Seq("click", "view"), buckets = 8,
          saltFrom = Seq(col("event_id")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(20,2)")).cast("double").as("sum_value"),
          max(col("type_users")).as("type_users"))
        .orderBy("event_type")
    }),

    // W10 stand-in: key-clustered snapshot write + key-predicate scan. The
    // layout (range-partitioned, sorted within files) is what makes the
    // predicate prune row groups via parquet min/max stats — the pruning
    // itself is asserted by metrics in TableStoreSpec; here the gate pins
    // the clustered write's correctness.
    "w10_clustered_scan" -> ((s, dir) => {
      val store = new TableStore(s, Files.createTempDirectory("graft_q_clu").toString)
      store.overwriteClustered("li",
        t(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
        Seq("l_orderkey"), numFiles = Some(8))
      store.scan("li").where(col("l_orderkey").between(1000, 2000))
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("decimal(20,2)")).cast("double").as("sum_qty"))
        .orderBy("l_orderkey")
    }),

    "w_zonemap_scan" -> ((s, dir) => {
      // manifest-level file skipping: cluster on the key so per-file
      // ranges are tight, then read a key range through scanPruned —
      // files whose footer ranges lie outside [500, 1500] never enter
      // the plan (ZoneMapSpec asserts the skip; this gate pins the
      // VALUES: pruning must never change the answer)
      val store = new TableStore(s,
        Files.createTempDirectory("graft_q_zm").toString)
      store.overwriteClustered("li",
        t(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
        Seq("l_orderkey"), numFiles = Some(16))
      store.scanPruned("li", "l_orderkey", 500L, 1500L)
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(20,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_orderkey")
    }),

    "w_partitioned_scan" -> ((s, dir) => {
      // Hive-partitioned snapshot: the lang predicate prunes whole
      // partition directories at listing time (PlanSpec asserts
      // PartitionFilters reach the scan); a deletion-vector takedown
      // composes on top — partition pruning decides which directories
      // are read, the DV decides row membership, and the values must
      // equal a plain filtered read of the source
      val store = new TableStore(s,
        Files.createTempDirectory("graft_q_hp").toString)
      store.overwritePartitioned("docs",
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        Seq("lang"))
      store.deleteByKeysDV("docs", Seq("doc_id"),
        t(s, dir, "documents").where(col("doc_id") % 10 === 3)
          .select("doc_id"))
      store.scan("docs").where(col("lang").isin("en", "de"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),

    "w_partition_drop" -> ((s, dir) => {
      // O(metadata) partition retention: dropping lang partitions
      // replaces manifest entries with partition-subset references — no
      // data file is touched (spec-asserted); a DV takedown composes on
      // top, and the values must equal a plain filtered read
      val store = new TableStore(s,
        Files.createTempDirectory("graft_q_pdrop").toString)
      store.overwritePartitioned("docs",
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        Seq("lang"))
      store.dropPartitions("docs", "lang", Seq("zh", "fr"))
      store.deleteByKeysDV("docs", Seq("doc_id"),
        t(s, dir, "documents").where(col("doc_id") % 7 === 2)
          .select("doc_id"))
      store.scan("docs")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),

    "w_time_travel" -> ((s, dir) => {
      // versioned store: overwrite → append → overwrite, then read every
      // retained version — snapshot manifests give Delta-style time travel
      // on top of the same atomic CURRENT flip
      val store = new TableStore(s,
        Files.createTempDirectory("graft_q_tt").toString, retainVersions = 4)
      val c = t(s, dir, "customer").select("c_custkey", "c_acctbal")
      store.overwrite("cust", c.where(col("c_custkey") <= 500))
      store.append("cust",
        c.where(col("c_custkey") > 500 && col("c_custkey") <= 1000))
      store.overwrite("cust", c.where(col("c_custkey") <= 200))
      store.versions("cust").map { v =>
        store.scanAsOf("cust", v).agg(
          lit(v).as("version"),
          count(lit(1)).as("n_rows"),
          sum(col("c_acctbal").cast("decimal(20,2)")).cast("double").as("sum_bal"))
      }.reduce(_.unionByName(_)).orderBy("version")
    }),

    "w_bloom_scan" -> ((s, dir) => {
      // manifest-level Bloom skipping: the layout clusters on l_orderkey,
      // so file min/max on l_partkey spans nearly everything — an equality
      // probe on partkey is exactly what footer min/max CANNOT prune and the
      // Bloom sidecar can (BloomScanSpec measures the skipping; the gate
      // pins that pruning never changes the answer)
      val store = new TableStore(s,
        Files.createTempDirectory("graft_q_bloom").toString)
      store.overwriteClustered("li",
        t(s, dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity"),
        Seq("l_orderkey"), numFiles = Some(16))
      store.analyzeBloomFilters("li", Seq("l_partkey"))
      store.scanBloomPruned("li", "l_partkey", 100L)
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(20,2)")).as("sum_qty"))
        .orderBy("l_partkey")
    }),

    "w_matview_incremental" -> ((s, dir) => {
      // incrementally-maintained aggregate view: define over a third of
      // lineitem, append the other two thirds in two batches, refresh
      // after each — every refresh folds ONLY the appended snapshots
      // (O(delta + |view|), never a base re-scan; MatViewSpec pins the
      // full-recompute fallback on overwrite). Final contents must equal
      // the from-scratch aggregate over the whole table.
      val store = new graft.table.TableStore(s,
        Files.createTempDirectory("graft_q_mv").toString)
      val mv = new graft.table.MatView(store)
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"), col("l_orderkey"),
          col("l_quantity").cast("decimal(20,2)").as("l_quantity"),
          col("l_extendedprice").cast("decimal(20,2)").as("l_extendedprice"))
      store.overwrite("li", li.where(col("l_orderkey") % 3 === 0))
      mv.define("li_agg", "li", Seq("l_returnflag", "l_linestatus"), Seq(
        graft.table.MatView.Count("n_rows"),
        graft.table.MatView.Sum("l_quantity", "sum_qty"),
        graft.table.MatView.Min("l_extendedprice", "min_price"),
        graft.table.MatView.Max("l_extendedprice", "max_price")))
      store.append("li", li.where(col("l_orderkey") % 3 === 1))
      mv.refresh("li_agg")
      store.append("li", li.where(col("l_orderkey") % 3 === 2))
      mv.refresh("li_agg")
      mv.read("li_agg").orderBy("l_returnflag", "l_linestatus")
    }),

    // zero-copy branch + three-way merge: branch updates %10==0 rows and
    // deletes %10==1 and inserts +9M ids; main (after the fork)
    // updates %10==2 rows and inserts +8M ids — disjoint change sets, so
    // the merge commits: main minus branch-changed keys, union branch's
    // rows for them. The gate returns the merged table's rows; the
    // oracle replays the set algebra directly.
    "w_branch_merge" -> ((s, dir) => {
      val store = new TableStore(s,
        Files.createTempDirectory("graft_q_br").toString)
      val c = t(s, dir, "customer").select("c_custkey", "c_acctbal")
        .where(col("c_custkey") <= 800)
      store.overwrite("cust", c)
      store.createBranch("cust", "fix")
      store.overwriteBranch("cust", "fix",
        c.where(col("c_custkey") % 10 =!= 1)
          .select(col("c_custkey"),
            when(col("c_custkey") % 10 === 0, col("c_acctbal") + 1000.0)
              .otherwise(col("c_acctbal")).as("c_acctbal"))
          .unionByName(c.where(col("c_custkey") % 10 === 3)
            .select((col("c_custkey") + 9000000L).as("c_custkey"),
              col("c_acctbal"))))
      store.append("cust",
        c.where(col("c_custkey") % 10 === 4)
          .select((col("c_custkey") + 8000000L).as("c_custkey"),
            col("c_acctbal")))
      store.deleteWhere("cust", col("c_custkey") % 10 === 2)
      store.append("cust",
        c.where(col("c_custkey") % 10 === 2)
          .select(col("c_custkey"), (col("c_acctbal") + 5.0).as("c_acctbal")))
      val conflicts = store.mergeBranch("cust", "fix", Seq("c_custkey"))
      // a conflict here is a gate bug — surface it loudly
      require(conflicts.isEmpty, "w_branch_merge: unexpected conflicts")
      store.scan("cust")
        .select(col("c_custkey"),
          col("c_acctbal").cast("decimal(20,2)").cast("double").as("bal"))
        .orderBy("c_custkey")
    }),

    // branch merge CONFLICTS: both sides update the same keys to different
    // values (and main deletes one key the branch updates) — the merge
    // must refuse, leave main untouched, and report (key, op_main,
    // op_branch); the gate returns the conflict report
    "w_branch_conflict" -> ((s, dir) => {
      val store = new TableStore(s,
        Files.createTempDirectory("graft_q_brc").toString)
      val c = t(s, dir, "customer").select("c_custkey", "c_acctbal")
        .where(col("c_custkey") <= 400)
      store.overwrite("cust", c)
      store.createBranch("cust", "fix")
      store.overwriteBranch("cust", "fix",
        c.select(col("c_custkey"),
          when(col("c_custkey") % 10 === 0, col("c_acctbal") + 7.0)
            .otherwise(col("c_acctbal")).as("c_acctbal")))
      store.deleteWhere("cust", col("c_custkey") === 100)
      store.append("cust", c.where(col("c_custkey") === 100)
        .select(col("c_custkey"), lit(-1.0).as("c_acctbal")))
      store.deleteWhere("cust", col("c_custkey") === 200)
      val before = store.scan("cust").count()
      val conflicts = store.mergeBranch("cust", "fix", Seq("c_custkey"))
      require(store.scan("cust").count() == before,
        "conflicted merge must leave main untouched")
      conflicts.orderBy("c_custkey")
    }),

    // rebase-then-merge lifecycle: branch updates %10==5; main diverges
    // (updates %10==7, inserts +8M); REBASE carries main's changes into
    // the branch and advances the fork base; main then deletes key 601;
    // the final merge is clean because the base moved past the first
    // divergence. Gate returns the end state; the oracle replays the
    // whole algebra.
    "w_branch_rebase" -> ((s, dir) => {
      val store = new TableStore(s,
        Files.createTempDirectory("graft_q_rb").toString)
      val c = t(s, dir, "customer").select("c_custkey", "c_acctbal")
        .where(col("c_custkey") <= 600)
      store.overwrite("cust", c)
      store.createBranch("cust", "fix")
      store.overwriteBranch("cust", "fix",
        c.select(col("c_custkey"),
          when(col("c_custkey") % 10 === 5, col("c_acctbal") + 3.0)
            .otherwise(col("c_acctbal")).as("c_acctbal")))
      store.overwrite("cust",
        c.select(col("c_custkey"),
          when(col("c_custkey") % 10 === 7, col("c_acctbal") + 9.0)
            .otherwise(col("c_acctbal")).as("c_acctbal"))
          .unionByName(c.where(col("c_custkey") % 10 === 6)
            .select((col("c_custkey") + 8000000L).as("c_custkey"),
              col("c_acctbal"))))
      require(store.rebaseBranch("cust", "fix", Seq("c_custkey")).isEmpty,
        "w_branch_rebase: unexpected rebase conflicts")
      store.deleteWhere("cust", col("c_custkey") === 600)
      require(store.mergeBranch("cust", "fix", Seq("c_custkey")).isEmpty,
        "w_branch_rebase: unexpected merge conflicts")
      require(store.branches("cust").isEmpty,
        "w_branch_rebase: merge must drop the branch")
      store.scan("cust")
        .select(col("c_custkey"),
          col("c_acctbal").cast("decimal(20,2)").cast("double").as("bal"))
        .orderBy("c_custkey")
    }),

    "w_delete_rows" -> ((s, dir) => {
      // row-level takedown lifecycle: overwrite → predicate delete →
      // key-list delete → re-add every deleted row. Four retained
      // versions, each summarized (count + exact balance sum): v2/v3 pin
      // the two delete primitives' semantics, v4 == v1 pins that delete
      // + re-add restores the untouched table (TableStoreSpec proves the
      // content-level equality and the diffVersions delete feed; this
      // gate pins the values against the oracle's replay).
      val store = new TableStore(s,
        Files.createTempDirectory("graft_q_del").toString, retainVersions = 4)
      val c = t(s, dir, "customer").select("c_custkey", "c_acctbal")
        .where(col("c_custkey") <= 1200)
      store.overwrite("cust", c)
      store.deleteWhere("cust", col("c_custkey") % 7 === 0)
      store.deleteByKeys("cust", Seq("c_custkey"),
        t(s, dir, "customer").where(col("c_custkey").between(100, 200)))
      store.append("cust",
        c.where(col("c_custkey") % 7 === 0 ||
          col("c_custkey").between(100, 200)))
      store.versions("cust").map { v =>
        store.scanAsOf("cust", v).agg(
          lit(v).as("version"),
          count(lit(1)).as("n_rows"),
          sum(col("c_acctbal").cast("decimal(20,2)")).cast("double").as("sum_bal"))
      }.reduce(_.unionByName(_)).orderBy("version")
    }),

    "w_delete_rows_dv" -> ((s, dir) => {
      // deletion-vector takedown lifecycle: same observable states as
      // w_delete_rows but at O(deleted) commit cost — two DV commits
      // write only their key lists (no data file rewritten), the re-add
      // append proves replay order (a re-inserted key outlives earlier
      // vectors), and the forced compact folds the vectors into one
      // snapshot whose values must equal the untouched table (v5 == v1).
      // DvDeleteSpec pins DV == rewrite at the content level; this gate
      // pins every version's values against the oracle's replay.
      val store = new TableStore(s,
        Files.createTempDirectory("graft_q_dvdel").toString, retainVersions = 5)
      val c = t(s, dir, "customer").select("c_custkey", "c_acctbal")
        .where(col("c_custkey") <= 1200)
      store.overwrite("cust", c)
      store.deleteByKeysDV("cust", Seq("c_custkey"),
        t(s, dir, "customer").where(col("c_custkey") % 7 === 0))
      store.deleteByKeysDV("cust", Seq("c_custkey"),
        t(s, dir, "customer").where(col("c_custkey").between(100, 200)))
      store.append("cust",
        c.where(col("c_custkey") % 7 === 0 ||
          col("c_custkey").between(100, 200)))
      store.compact("cust", maxSnapshots = 0) // fold the DVs
      store.versions("cust").map { v =>
        store.scanAsOf("cust", v).agg(
          lit(v).as("version"),
          count(lit(1)).as("n_rows"),
          sum(col("c_acctbal").cast("decimal(20,2)")).cast("double").as("sum_bal"))
      }.reduce(_.unionByName(_)).orderBy("version")
    }),

    "stream_takedown_dv" -> ((s, dir) => {
      // continuous right-to-erasure: two takedown key batches stream in
      // as O(deleted) deletion-vector commits (no data file rewritten),
      // then a re-add append proves replay order — re-inserted keys
      // outlive earlier vectors. StreamingTakedownSpec pins idempotent
      // replays and the compact fold; this gate pins the values.
      val work = Files.createTempDirectory("graft_q_stkdn")
      val src = work.resolve("src")
      Files.createDirectories(src)
      val store = new TableStore(s, work.resolve("store").toString)
      val c = t(s, dir, "customer").select("c_custkey", "c_acctbal")
        .where(col("c_custkey").between(1, 1000))
      store.overwrite("cust", c)
      Files.writeString(src.resolve("t0.json"),
        (9 to 1000 by 9).map(k => s"""{"c_custkey":$k}""").mkString("\n"))
      Files.writeString(src.resolve("t1.json"),
        (200 to 300).map(k => s"""{"c_custkey":$k}""").mkString("\n"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("c_custkey",
          org.apache.spark.sql.types.LongType)))
      graft.streaming.StreamingIngest.takedownIngestAvailableNow(
        s, src.toString, schema, store, "cust",
        work.resolve("ckpt").toString, Seq("c_custkey"))
      store.append("cust", c.where(col("c_custkey").between(200, 300)))
      store.scan("cust").select(col("c_custkey"),
        col("c_acctbal").cast("decimal(20,2)").cast("double").as("bal"))
        .orderBy("c_custkey")
    }),

    "stream_partitioned_retention" -> ((s, dir) => {
      // the steady-state crawl shape: streamed batches land as
      // hive-partitioned snapshots (PartitionFilters from the first
      // file), then the standing retention sweep expires partitions
      // below a cutoff at O(metadata) — here lang<'en' stands in for
      // date<cutoff (same lexicographic contract ISO dates ride)
      val work = Files.createTempDirectory("graft_q_spart")
      val src = work.resolve("src")
      Files.createDirectories(src)
      val store = new TableStore(s, work.resolve("store").toString)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .collect()
      val (b0, b1) = docs.partition(_.getLong(0) % 2 == 0)
      def line(r: org.apache.spark.sql.Row) =
        s"""{"doc_id":${r.getLong(0)},"lang":"${r.getString(1)}","n_chars":${r.getLong(2)}}"""
      Files.writeString(src.resolve("b0.json"), b0.map(line).mkString("\n"))
      Files.writeString(src.resolve("b1.json"), b1.map(line).mkString("\n"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      graft.streaming.StreamingIngest.partitionedIngestAvailableNow(
        s, src.toString, schema, "json", store, "docs",
        work.resolve("ckpt").toString, Seq("lang"))
      store.expirePartitionsBelow("docs", "lang", "en")
      store.scan("docs")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),

    // the whole partitioned table lifecycle in ONE gate: partitioned
    // ingest (two appends) → O(metadata) retention sweep → DV takedown →
    // zero-copy branch with a three-way merge → ordered single-file
    // export, read back. Every leg composes on the previous one's state;
    // the oracle replays the set algebra in plain SQL.
    "w_lifecycle_partitioned" -> ((s, dir) => {
      val work = Files.createTempDirectory("graft_q_lcp")
      val store = new TableStore(s, work.resolve("store").toString)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      // 1. partitioned ingest: batch-shaped appends, hive layout on lang
      store.appendPartitioned("docs",
        docs.where(col("doc_id") % 2 === 0), Seq("lang"))
      store.appendPartitioned("docs",
        docs.where(col("doc_id") % 2 === 1), Seq("lang"))
      // 2. retention: expire lang partitions below 'en' (the ISO-date
      //    lexicographic contract), no data file touched
      store.expirePartitionsBelow("docs", "lang", "en")
      // 3. right-to-erasure takedown via deletion vector on survivors
      store.deleteByKeysDV("docs", Seq("doc_id"),
        docs.where(col("doc_id") % 11 === 4).select("doc_id"))
      // 4. branch updates %10==0 docs (+1000 chars); main (post-fork)
      //    appends re-id'd %10==7 docs — disjoint change sets, merge
      //    commits
      val base = store.scan("docs").localCheckpoint(true)
      store.createBranch("docs", "fix")
      store.overwriteBranch("docs", "fix",
        base.select(col("doc_id"), col("lang"),
          when(col("doc_id") % 10 === 0, col("n_chars") + 1000L)
            .otherwise(col("n_chars")).as("n_chars")))
      store.appendPartitioned("docs",
        base.where(col("doc_id") % 10 === 7)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("lang"),
            col("n_chars")),
        Seq("lang"))
      val conflicts = store.mergeBranch("docs", "fix", Seq("doc_id"))
      require(conflicts.isEmpty, "w_lifecycle_partitioned: unexpected conflicts")
      // 5. ordered single-file export, read back through the CSV path
      val out = s"$work/export_csv"
      Export.export(
        store.scan("docs").select("doc_id", "lang", "n_chars"), out,
        Export.ExportOptions(SourceFormat.Csv, orderBy = Some("doc_id"),
          singleFile = true))
      s.read.option("header", "true")
        .schema("doc_id LONG, lang STRING, n_chars LONG")
        .csv(out)
        .orderBy("doc_id")
    }),

    "w_version_diff" -> ((s, dir) => {
      // snapshot CDC: overwrite twice, then emit the row-level change feed
      // between the two retained versions — deletes below the new floor,
      // inserts above the old ceiling, updates where the balance moved,
      // and NOTHING for untouched rows
      val store = new TableStore(s,
        Files.createTempDirectory("graft_q_vd").toString, retainVersions = 4)
      val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
      store.overwrite("cust", c.where(col("c_custkey") <= 1000))
      store.overwrite("cust",
        c.where(col("c_custkey").between(501, 1500))
          .withColumn("c_acctbal",
            when(col("c_custkey") % 3 === 0, col("c_acctbal") + lit(100.0))
              .otherwise(col("c_acctbal"))))
      val vs = store.versions("cust")
      store.diffVersions("cust", vs.min, vs.max, Seq("c_custkey"))
        .withColumn("changed_cols", array_join(col("changed_cols"), ","))
        .orderBy("c_custkey")
    }),

    "w10_zorder_scan" -> ((s, dir) => {
      // multi-dimensional slice over a Z-ordered layout: both the partkey
      // and suppkey predicates prune files (TableStoreSpec measures the
      // skipping; the gate checks the layout never changes content)
      val store = new TableStore(s, Files.createTempDirectory("graft_q_zor").toString)
      store.overwriteZOrdered("li",
        t(s, dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity"),
        Seq("l_partkey", "l_suppkey"), numFiles = Some(8))
      store.scan("li")
        .where(col("l_partkey").between(100, 400) &&
          col("l_suppkey").between(10, 60))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity").cast("decimal(20,2)")).cast("double").as("sum_qty"))
        .orderBy("l_partkey", "l_suppkey")
    }),

    // governance erasure end-to-end through the CRASH-DURABLE cascade:
    // partitioned corpus → near-dup LSH + BM25 indexes → expire lang
    // partitions below 'en' as ONE operation (O(metadata) table drop +
    // journaled index deletes) → probe both indexes. The near-dup tables'
    // deletion vectors must hide every dropped doc and the BM25 count
    // negation must cancel exactly, so both probes must equal the same
    // retrieval computed over the surviving corpus alone — which is what
    // the oracle replays.
    "w_retention_cascade" -> ((s, dir) => {
      val store = new TableStore(s,
        Files.createTempDirectory("graft_q_retcasc").toString)
      // a third of the corpus: the gate pays TWO index builds plus the
      // cascade in-gate (they must rebuild per run — the sweep mutates
      // them), so it slims like the other in-gate builders
      val docs = t(s, dir, "documents").where(col("doc_id") % 3 === 0)
        .select("doc_id", "lang", "text")
      store.overwritePartitioned("docs", docs, Seq("lang"))
      // the two index builds write disjoint tables — overlap them (§2.6);
      // registration stays sequential AFTER both (the retention lease is
      // single-holder and non-reentrant, and registration order does not
      // affect the registry's final state). Same registry, same indexes,
      // same probe output as the sequential build-and-register form.
      graft.ops.Overlap.par(Seq(
        () => graft.ext.NearDupIndex.buildNearDupIndex(store, "nd", docs,
          "text", "doc_id", numBuckets = 8),
        () => graft.ext.Retrieval.buildBm25Index(store, "bm", docs,
          "text", "doc_id", numBuckets = 8)))
      // build-time registration: the sweep below names NO indexes — the
      // registry is the sync contract, so a caller can no longer forget
      // one and leave it serving erased docs
      graft.ext.Retention.registerIndex(store, "docs",
        graft.ext.Retention.NearDup("nd", 8))
      graft.ext.Retention.registerIndex(store, "docs",
        graft.ext.Retention.Bm25("bm", "text", 8))
      val swept = graft.ext.Retention.expirePartitionsBelowCascade(store,
        "docs", "lang", cutoff = "en", idCol = "doc_id", indexes = Nil)
      require(swept, "w_retention_cascade: the sweep must drop something")
      val bm = graft.ext.Retrieval.bm25TopKIndexed(store, "bm",
          Ext.Bm25Queries, k = 10)
        .select(lit("bm25").as("family"), col("query_id").as("q_id"),
          col("rank").cast("long").as("rank"), col("doc_id"),
          col("score").cast("double").as("score"))
      val nd = graft.ext.NearDupIndex.nearDupAgainstIndex(store, "nd",
          Ext.nearDupBatch(docs.select("doc_id", "text")), "text", "doc_id",
          threshold = 0.5)
        .select(lit("neardup").as("family"), col("batch_id").as("q_id"),
          lit(0L).as("rank"), col("corpus_id").as("doc_id"),
          col("jaccard").as("score"))
      bm.unionByName(nd).orderBy("family", "q_id", "rank", "doc_id")
    }),

    // ID-level governance erasure end-to-end: a takedown list of
    // SPECIFIC doc ids erased through one deleteByKeysCascade call — an
    // O(deleted) deletion-vector commit bound to the capture's manifest
    // plus the journaled BM25 count negation — and the swept index's
    // ranking must equal the same retrieval computed over the surviving
    // corpus alone, which is what the oracle replays (the strictest form
    // of the contract: the negation must cancel exactly).
    "w_takedown_cascade" -> ((s, dir) => {
      val store = new TableStore(s,
        Files.createTempDirectory("graft_q_dvcasc").toString)
      val docs = t(s, dir, "documents").where(col("doc_id") % 6 === 1)
        .select("doc_id", "text")
      store.overwrite("docs", docs)
      graft.ext.Retrieval.buildBm25Index(store, "bm", docs, "text",
        "doc_id", numBuckets = 8, registerFor = Some("docs"))
      val doomed = docs.where(col("doc_id") % 7 === 3).select("doc_id")
      val erased = graft.ext.Retention.deleteByKeysCascade(store, "docs",
        "doc_id", doomed, indexes = Nil) // registry-resolved
      require(erased, "w_takedown_cascade: the takedown must erase docs")
      graft.ext.Retrieval.bm25TopKIndexed(store, "bm", Ext.Bm25Queries,
          k = 10)
        .select(col("query_id").as("q_id"),
          col("rank").cast("long").as("rank"), col("doc_id"),
          col("score").cast("double").as("score"))
        .orderBy("q_id", "rank", "doc_id")
    }),

    // the table↔index SYNC CONTRACT as data: the near-dup index is
    // REGISTERED against the corpus at build time, and the retention
    // sweep is called with `indexes = Nil` — it must reach the
    // registered family through the registry alone (a caller that
    // forgets an index can no longer leave it serving erased docs).
    // One deletion-vector family over a sixth of the corpus: the cheap sibling
    // of w_retention_cascade, which pins the journal + BM25 negation.
    "w_cascade_registry" -> ((s, dir) => {
      val store = new TableStore(s,
        Files.createTempDirectory("graft_q_casreg").toString)
      val docs = t(s, dir, "documents").where(col("doc_id") % 6 === 0)
        .select("doc_id", "lang", "text")
      store.overwritePartitioned("docs", docs, Seq("lang"))
      graft.ext.NearDupIndex.buildNearDupIndex(store, "nd", docs, "text",
        "doc_id", numBuckets = 8, registerFor = Some("docs"))
      val swept = graft.ext.Retention.expirePartitionsBelowCascade(store,
        "docs", "lang", cutoff = "en", idCol = "doc_id", indexes = Nil)
      require(swept, "w_cascade_registry: the sweep must drop something")
      graft.ext.NearDupIndex.nearDupAgainstIndex(store, "nd",
          Ext.nearDupBatch(docs.select("doc_id", "text")), "text",
          "doc_id", threshold = 0.5)
        .select(col("batch_id"), col("corpus_id"), col("jaccard"))
        .orderBy("batch_id", "corpus_id")
    }),

    // derived state follows the erasure: a materialized aggregate view
    // created through Retention.defineView is a REGISTERED cascade
    // target, so one deleteByKeysCascade call (indexes = Nil — registry
    // resolved) both commits the deletion vector AND refreshes the view
    // as a journaled, crash-durable target. The gate returns the VIEW's
    // contents (a plain table scan — no base work at read time); the
    // oracle computes the same aggregate over the survivors alone, the
    // strictest form of "no erased doc's aggregates keep being served".
    "w_matview_cascade" -> ((s, dir) => {
      val store = new TableStore(s,
        Files.createTempDirectory("graft_q_mvcasc").toString)
      val docs = t(s, dir, "documents").where(col("doc_id") % 6 === 2)
        .select("doc_id", "lang", "n_chars")
      store.overwrite("docs", docs)
      graft.ext.Retention.defineView(store, "docs", "docs_by_lang",
        Seq("lang"), Seq(
          graft.table.MatView.Count("n_docs"),
          graft.table.MatView.Sum("n_chars", "sum_chars"),
          graft.table.MatView.Min("n_chars", "min_chars"),
          graft.table.MatView.Max("n_chars", "max_chars")))
      val doomed = docs.where(col("doc_id") % 5 === 1).select("doc_id")
      val erased = graft.ext.Retention.deleteByKeysCascade(store, "docs",
        "doc_id", doomed, indexes = Nil)
      require(erased, "w_matview_cascade: the takedown must erase docs")
      new graft.table.MatView(store).read("docs_by_lang").orderBy("lang")
    }),

    // the ONE maintenance entry point is equivalence-preserving by
    // contract: grow a partitioned table, expire a partition, DV-delete
    // keys, then maintain() — the fold materializes the deletion vectors
    // and preserves the hive layout. The result is read through
    // scanPruned, so the folded files' footer ranges decide which files
    // are read; the oracle computes the plain survivor algebra.
    "w_maintain_fold" -> ((s, dir) => {
      val store = new TableStore(s,
        Files.createTempDirectory("graft_q_maint").toString)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      store.appendPartitioned("docs",
        docs.where(col("doc_id") % 2 === 0), Seq("lang"))
      store.appendPartitioned("docs",
        docs.where(col("doc_id") % 2 === 1), Seq("lang"))
      store.expirePartitionsBelow("docs", "lang", "en")
      store.deleteByKeysDV("docs", Seq("doc_id"),
        docs.where(col("doc_id") % 11 === 4).select("doc_id"))
      graft.ext.Maintenance.maintain(store, "docs", maxSnapshots = 0)
      require(store.manifestEntries("docs").sizeIs == 1,
        "w_maintain_fold: maintain must fold the manifest to one snapshot")
      require(store.tableLayout("docs") == Seq("lang"),
        "w_maintain_fold: the fold must preserve the hive layout")
      store.scanPruned("docs", "doc_id", 100L, 5000L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),

    // W2/C2/C4: the WHOLE pipeline (ingest csv → overwrite → append with
    // MAX(_id)+1 continuation → ordered export) as one oracle-checked query
    "pipeline_e2e" -> ((s, dir) => {
      val work = Files.createTempDirectory("graft_q_pipe")
      Export.export(t(s, dir, "nation"), s"$work/nation_csv",
        Export.ExportOptions(SourceFormat.Csv, orderBy = Some("n_nationkey"), singleFile = true))
      val schema = FrictionlessSchema(List(
        FrictionlessField("n_nationkey", "integer"),
        FrictionlessField("n_name", "string"),
        FrictionlessField("n_regionkey", "integer")))
      val store = new TableStore(s, s"$work/tables")
      val pipe = new Pipeline(s, store)
      val cfg = PipelineConfig(s"$work/nation_csv", "nation_t",
        IngestionMethod.Overwrite, format = Some(SourceFormat.Csv),
        schema = Some(schema), validate = true)
      pipe.run(cfg, JobTs)
      pipe.run(cfg.copy(method = IngestionMethod.Append), JobTs)
      store.scan("nation_t").orderBy("_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "v1_cast_audit" ->
      """WITH dirty AS (
        |  SELECT CASE WHEN c_custkey % 3 = 0 THEN c_name
        |              ELSE CAST(c_custkey AS VARCHAR) END AS custkey_raw,
        |         CASE WHEN c_custkey % 5 = 0 THEN 'not-a-number'
        |              ELSE CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) END AS acctbal_raw
        |  FROM customer)
        |SELECT COUNT(*) AS rows,
        |  COUNT(CASE WHEN TRY_CAST(custkey_raw AS BIGINT) IS NULL
        |             AND custkey_raw IS NOT NULL THEN 1 END) AS custkey_errors,
        |  COUNT(CASE WHEN TRY_CAST(acctbal_raw AS DECIMAL(38,9)) IS NULL
        |             AND acctbal_raw IS NOT NULL THEN 1 END) AS acctbal_errors
        |FROM dirty""".stripMargin,

    "s7_table_store_scan" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin,

    "f5_zero_row_guard" ->
      "SELECT n_nationkey, n_name FROM nation WHERE 1=0",

    "a3_row_counts" ->
      """SELECT COUNT(*) AS rows,
        |  COUNT(CASE WHEN n_chars > 300 THEN 1 END) AS long_docs,
        |  COUNT(DISTINCT lang) AS n_langs
        |FROM documents""".stripMargin,

    "p10_flatten_nested" ->
      """SELECT doc_id AS id, source AS meta_src,
        |  length(text) AS meta_stats_len,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END
        |    AS meta_stats_lang
        |FROM documents ORDER BY id""".stripMargin,

    "p8_csv_to_json" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
        |FROM region ORDER BY r_regionkey""".stripMargin,

    "p5_json_accessor" ->
      """SELECT CAST(props->>'k' AS BIGINT) % 10 AS k_mod, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin,

    "a4_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "a5_salted_join" ->
      """WITH dim AS (SELECT event_type, COUNT(DISTINCT user_id) AS type_users
        |             FROM events GROUP BY event_type)
        |SELECT e.event_type, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(e.value AS DECIMAL(20,2))) AS DOUBLE) AS sum_value,
        |  MAX(d.type_users) AS type_users
        |FROM events e JOIN dim d ON d.event_type = e.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "a6_skew_split_join" ->
      """WITH dim AS (SELECT event_type, COUNT(DISTINCT user_id) AS type_users
        |             FROM events GROUP BY event_type)
        |SELECT e.event_type, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(e.value AS DECIMAL(20,2))) AS DOUBLE) AS sum_value,
        |  MAX(d.type_users) AS type_users
        |FROM events e JOIN dim d ON d.event_type = e.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "w10_clustered_scan" ->
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "w_zonemap_scan" ->
      """SELECT l_orderkey, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey BETWEEN 500 AND 1500
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "w_partitioned_scan" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang IN ('en', 'de') AND doc_id % 10 <> 3
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "w_partition_drop" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang NOT IN ('zh', 'fr') AND doc_id % 7 <> 2
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "stream_partitioned_retention" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang >= 'en'
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "w_lifecycle_partitioned" ->
      """WITH base AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  WHERE lang >= 'en' AND doc_id % 11 <> 4),
        |merged AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000
        |         ELSE n_chars END AS n_chars
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id + 5000000, lang, n_chars FROM base
        |  WHERE doc_id % 10 = 7)
        |SELECT doc_id, lang, n_chars FROM merged ORDER BY doc_id""".stripMargin,

    "w_time_travel" ->
      """SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE) AS sum_bal
        |FROM customer WHERE c_custkey <= 500
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), COUNT(*),
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE)
        |FROM customer WHERE c_custkey <= 1000
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), COUNT(*),
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE)
        |FROM customer WHERE c_custkey <= 200
        |ORDER BY version""".stripMargin,

    "w_bloom_scan" ->
      """SELECT l_partkey, COUNT(*) AS n_rows,
        |  SUM(CAST(l_quantity AS DECIMAL(20,2))) AS sum_qty
        |FROM lineitem WHERE l_partkey = 100
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,

    "w_matview_incremental" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  SUM(CAST(l_quantity AS DECIMAL(20,2))) AS sum_qty,
        |  MIN(CAST(l_extendedprice AS DECIMAL(20,2))) AS min_price,
        |  MAX(CAST(l_extendedprice AS DECIMAL(20,2))) AS max_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "w_branch_merge" ->
      """WITH base AS (SELECT c_custkey AS k, c_acctbal AS b FROM customer
        |              WHERE c_custkey <= 800),
        |merged AS (
        |  SELECT k, b + 1000.0 AS b FROM base WHERE k % 10 = 0
        |  UNION ALL SELECT k, b FROM base WHERE k % 10 NOT IN (0, 1, 2)
        |  UNION ALL SELECT k, b + 5.0 FROM base WHERE k % 10 = 2
        |  UNION ALL SELECT k + 8000000, b FROM base WHERE k % 10 = 4
        |  UNION ALL SELECT k + 9000000, b FROM base WHERE k % 10 = 3)
        |SELECT k AS c_custkey, CAST(CAST(b AS DECIMAL(20,2)) AS DOUBLE) AS bal
        |FROM merged ORDER BY c_custkey""".stripMargin,

    "w_branch_rebase" ->
      """WITH base AS (SELECT c_custkey AS k, c_acctbal AS b FROM customer
        |              WHERE c_custkey <= 600),
        |merged AS (
        |  SELECT k, b + 3.0 AS b FROM base WHERE k % 10 = 5
        |  UNION ALL SELECT k, b + 9.0 FROM base WHERE k % 10 = 7 AND k <> 600
        |  UNION ALL SELECT k, b FROM base
        |    WHERE k % 10 NOT IN (5, 7) AND k <> 600
        |  UNION ALL SELECT k + 8000000, b FROM base WHERE k % 10 = 6)
        |SELECT k AS c_custkey, CAST(CAST(b AS DECIMAL(20,2)) AS DOUBLE) AS bal
        |FROM merged ORDER BY c_custkey""".stripMargin,

    "w_branch_conflict" ->
      """WITH base AS (SELECT c_custkey AS k, c_acctbal AS b FROM customer
        |              WHERE c_custkey <= 400),
        |theirs AS (SELECT k, CASE WHEN k % 10 = 0 THEN b + 7.0 ELSE b END AS b
        |           FROM base),
        |ours AS (SELECT k, CASE WHEN k = 100 THEN -1.0 ELSE b END AS b
        |         FROM base WHERE k <> 200),
        |bd AS (SELECT COALESCE(t.k, b0.k) AS k,
        |         CASE WHEN b0.k IS NULL THEN 'insert'
        |              WHEN t.k IS NULL THEN 'delete' ELSE 'update' END AS op_branch
        |       FROM base b0 FULL JOIN theirs t ON t.k = b0.k
        |       WHERE b0.k IS NULL OR t.k IS NULL OR t.b IS DISTINCT FROM b0.b),
        |md AS (SELECT COALESCE(o.k, b0.k) AS k,
        |         CASE WHEN b0.k IS NULL THEN 'insert'
        |              WHEN o.k IS NULL THEN 'delete' ELSE 'update' END AS op_main
        |       FROM base b0 FULL JOIN ours o ON o.k = b0.k
        |       WHERE b0.k IS NULL OR o.k IS NULL OR o.b IS DISTINCT FROM b0.b),
        |conf AS (SELECT bd.k, md.op_main, bd.op_branch
        |         FROM bd JOIN md USING (k)
        |         LEFT JOIN ours o ON o.k = bd.k
        |         LEFT JOIN theirs t ON t.k = bd.k
        |         WHERE o.b IS DISTINCT FROM t.b)
        |SELECT k AS c_custkey, op_main, op_branch FROM conf
        |ORDER BY c_custkey""".stripMargin,

    "w_delete_rows" ->
      """SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE) AS sum_bal
        |FROM customer WHERE c_custkey <= 1200
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), COUNT(*),
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE)
        |FROM customer WHERE c_custkey <= 1200 AND c_custkey % 7 <> 0
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), COUNT(*),
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE)
        |FROM customer WHERE c_custkey <= 1200 AND c_custkey % 7 <> 0
        |  AND c_custkey NOT BETWEEN 100 AND 200
        |UNION ALL
        |SELECT CAST(4 AS BIGINT), COUNT(*),
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE)
        |FROM customer WHERE c_custkey <= 1200
        |ORDER BY version""".stripMargin,

    "w_delete_rows_dv" ->
      """SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE) AS sum_bal
        |FROM customer WHERE c_custkey <= 1200
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), COUNT(*),
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE)
        |FROM customer WHERE c_custkey <= 1200 AND c_custkey % 7 <> 0
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), COUNT(*),
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE)
        |FROM customer WHERE c_custkey <= 1200 AND c_custkey % 7 <> 0
        |  AND c_custkey NOT BETWEEN 100 AND 200
        |UNION ALL
        |SELECT CAST(4 AS BIGINT), COUNT(*),
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE)
        |FROM customer WHERE c_custkey <= 1200
        |UNION ALL
        |SELECT CAST(5 AS BIGINT), COUNT(*),
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(20,2))) AS DOUBLE)
        |FROM customer WHERE c_custkey <= 1200
        |ORDER BY version""".stripMargin,

    "stream_takedown_dv" ->
      """SELECT c_custkey,
        |  CAST(CAST(c_acctbal AS DECIMAL(20,2)) AS DOUBLE) AS bal
        |FROM customer
        |WHERE c_custkey BETWEEN 1 AND 1000
        |  AND (c_custkey % 9 <> 0 OR c_custkey BETWEEN 200 AND 300)
        |ORDER BY c_custkey""".stripMargin,

    "w_version_diff" ->
      """WITH v1 AS (
        |  SELECT c_custkey, c_name, c_acctbal FROM customer
        |  WHERE c_custkey <= 1000),
        |v2 AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100.0
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey BETWEEN 501 AND 1500)
        |SELECT COALESCE(v2.c_custkey, v1.c_custkey) AS c_custkey,
        |  CASE WHEN v1.c_custkey IS NULL THEN 'insert'
        |       WHEN v2.c_custkey IS NULL THEN 'delete'
        |       ELSE 'update' END AS op,
        |  CASE WHEN v1.c_custkey IS NOT NULL AND v2.c_custkey IS NOT NULL
        |       THEN 'c_acctbal' END AS changed_cols
        |FROM v1 FULL OUTER JOIN v2 ON v1.c_custkey = v2.c_custkey
        |WHERE v1.c_custkey IS NULL OR v2.c_custkey IS NULL
        |   OR v1.c_acctbal IS DISTINCT FROM v2.c_acctbal
        |   OR v1.c_name IS DISTINCT FROM v2.c_name
        |ORDER BY c_custkey""".stripMargin,

    "w10_zorder_scan" ->
      """SELECT l_partkey, l_suppkey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 400 AND l_suppkey BETWEEN 10 AND 60
        |GROUP BY l_partkey, l_suppkey ORDER BY l_partkey, l_suppkey""".stripMargin,

    "w_retention_cascade" -> {
      val subset =
        "(SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0)"
      val survivors = "(SELECT doc_id, text FROM documents " +
        "WHERE lang >= 'en' AND doc_id % 3 = 0)"
      s"""SELECT * FROM (
         |SELECT 'bm25' AS family, query_id AS q_id,
         |       CAST(rank AS BIGINT) AS rank, doc_id,
         |       CAST(score AS DOUBLE) AS score
         |FROM (${Ext.bm25OracleSqlOver(survivors)}) AS b
         |UNION ALL
         |SELECT 'neardup', batch_id, 0, corpus_id, jaccard
         |FROM (${Ext.incNearDupOracleSqlOver(survivors, subset)}) AS n
         |) AS u ORDER BY family, q_id, rank, doc_id""".stripMargin
    },

    "w_takedown_cascade" -> {
      val survivors = "(SELECT doc_id, text FROM documents " +
        "WHERE doc_id % 6 = 1 AND doc_id % 7 <> 3)"
      s"""SELECT query_id AS q_id, CAST(rank AS BIGINT) AS rank, doc_id,
         |       CAST(score AS DOUBLE) AS score
         |FROM (${Ext.bm25OracleSqlOver(survivors)}) AS b
         |ORDER BY q_id, rank, doc_id""".stripMargin
    },

    "w_cascade_registry" -> {
      val subset =
        "(SELECT doc_id, text FROM documents WHERE doc_id % 6 = 0)"
      val survivors = "(SELECT doc_id, text FROM documents " +
        "WHERE lang >= 'en' AND doc_id % 6 = 0)"
      s"""SELECT batch_id, corpus_id, jaccard
         |FROM (${Ext.incNearDupOracleSqlOver(survivors, subset)}) AS n
         |ORDER BY batch_id, corpus_id""".stripMargin
    },

    "w_matview_cascade" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents
        |WHERE doc_id % 6 = 2 AND doc_id % 5 <> 1
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "w_maintain_fold" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE lang >= 'en' AND doc_id % 11 <> 4
        |  AND doc_id BETWEEN 100 AND 5000
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "pipeline_e2e" ->
      """WITH once AS (
        |  SELECT row_number() OVER (ORDER BY n_nationkey) AS rn,
        |         CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |         CAST(n_regionkey AS BIGINT) AS n_regionkey
        |  FROM nation),
        |doubled AS (
        |  SELECT rn AS _id, n_nationkey, n_name, n_regionkey FROM once
        |  UNION ALL
        |  SELECT rn + (SELECT MAX(rn) FROM once), n_nationkey, n_name, n_regionkey FROM once)
        |SELECT _id, n_nationkey, n_name, n_regionkey,
        |       TIMESTAMP '2026-02-02 00:00:00' AS _updated_at
        |FROM doubled ORDER BY _id""".stripMargin
  )
}
