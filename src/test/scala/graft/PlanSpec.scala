package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality gates: the scale posture is asserted, not hoped for.
  * These run the declared queries' EXPLAIN output against the testdata and
  * fail if pushdown/pruning/broadcast regress. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  private def analyzed(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.analyzed.toString

  test("q10: filter pushed, columns pruned, no broadcast hints on SF-scale tables") {
    val p = plan("q10_returned_items")
    assert(p.contains("EqualTo(l_returnflag,R)"), "filter must reach PushedFilters")
    assert(!p.contains("l_shipdate"), "unused columns must be pruned from the scan")
    // orders and customer grow with the data: the plan must not hard-code a
    // broadcast (executor OOM at 100 TB) — AQE picks the strategy at runtime
    assert(!analyzed("q10_returned_items").contains("ResolvedHint"),
      "no static broadcast hints of fact-scale relations")
  }

  test("q1: aggregation is partial+final (map-side combine)") {
    val p = plan("q1_pricing_summary").toLowerCase
    val aggs = "hashaggregate".r.findAllIn(p).length
    assert(aggs >= 2, s"must have partial+final aggregation, saw $aggs HashAggregate nodes")
    assert(p.contains("partial_sum"), "must have map-side partial aggregation")
  }

  test("q5: broadcast hints only on bounded dims; fact-side joins left to AQE") {
    // supplier/nation/region are the only hinted sides; orders and customer
    // (both grow with SF) must carry no hint
    val hints = "ResolvedHint".r.findAllIn(analyzed("q5_local_supplier")).length
    assert(hints == 3, s"expected exactly 3 dim hints (supplier,nation,region), got $hints")
    val p = plan("q5_local_supplier")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "date filter must reach the orders scan as a pushed filter")
  }

  test("o1: ordered scan reads only projected columns") {
    val p = plan("o1_ordered_scan")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int"),
      "scan schema must be pruned to the projection")
  }

  test("contamination: benchmark set broadcasts, corpus side semi-joins without shuffling") {
    val p = plan("ext_contamination")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "must be a broadcast left-semi join of the small benchmark fingerprints")
    // the benchmark-side distinct is the only hash exchange allowed (plus
    // the final sort's range exchange) — never a corpus shuffle
    val exchanges = "hashpartitioning\\(".r.findAllIn(p).length
    assert(exchanges <= 1,
      s"corpus must not hash-shuffle for the semi join ($exchanges):\n$p")
  }

  test("ngram contamination: gram set broadcasts; only hit counts shuffle") {
    val p = plan("ext_contamination_ngram")
    assert(p.contains("BroadcastHashJoin"),
      "benchmark gram hashes must broadcast into the corpus scan")
    // exactly two hash exchanges are legitimate: the benchmark-side
    // distinct and the post-probe per-doc hit count (already partial-
    // aggregated). A corpus-gram shuffle would add a third.
    val hashEx = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashEx <= 2,
      s"corpus grams must not hash-shuffle ($hashEx hash exchanges):\n$p")
    assert(p.toLowerCase.contains("partial_count"),
      "hit counting must be partial+final")
  }

  test("tfidf topk: ranks through graft_topk, never a row_number window") {
    val p = plan("ext_tfidf_topk")
    assert(p.contains("graft_topk"),
      "per-doc ranking must use the bounded top-k aggregate")
    assert(!p.contains("Window"),
      s"no window operator may appear in the tfidf plan:\n$p")
  }

  test("bm25: token stream broadcast-filtered to query vocab; graft_topk, no window") {
    val p = plan("ext_bm25_topk")
    assert(p.contains("graft_topk"),
      "per-query ranking must use the bounded top-k aggregate")
    assert(!p.contains("Window"),
      s"no window operator may appear in the bm25 plan:\n$p")
    // the query-vocabulary filter runs on the token ARRAY before the
    // explode (codegen'd array_contains on a literal) — a shuffled join
    // here would exchange every token of the corpus instead of matches
    assert(p.contains("array_contains"),
      s"query-vocab literal filter must precede the explode:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized shuffle join may appear in the bm25 plan:\n$p")
  }

  test("bm25 indexed: posting-list scan bucket-prunes on the query vocabulary") {
    val p = plan("ext_bm25_indexed")
    assert(p.contains("SelectedBucketsCount"),
      s"query must read only the buckets holding its terms:\n$p")
    assert(p.contains("graft_topk") && !p.contains("Window"),
      s"same bounded ranking as the scan path:\n$p")
  }

  test("q8: type filter pushed to part; 4 dim hints; fact joins unhinted") {
    val p = plan("q8_market_share")
    assert(p.contains("EqualTo(p_type,PROMO)"),
      s"part-type filter must reach the part scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "date filter must reach the orders scan")
    // nation×2, region, supplier are the only hinted sides — part, orders,
    // customer, lineitem all grow with SF and must be left to AQE
    val hints = "ResolvedHint".r.findAllIn(analyzed("q8_market_share")).length
    assert(hints == 4, s"expected 4 dim hints (n1, n2, region, supplier), got $hints")
  }

  test("q9: substring predicate pushes to the part scan as StringContains") {
    val p = plan("q9_product_profit")
    assert(p.contains("StringContains(p_name,red)"),
      s"contains() must reach PushedFilters on part:\n$p")
    assert(!p.contains("l_shipdate"), "unused lineitem columns must be pruned")
  }

  test("pq topk: codebook and query tables broadcast; no cartesian product") {
    val p = plan("ext_pq_topk")
    assert(p.contains("BroadcastHashJoin"),
      "ADC tables must probe via broadcast hash joins")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"PQ search must never plan a product join:\n$p")
    assert(p.contains("graft_topk"), "final ranking must be the bounded aggregate")
  }

  test("ivfpq: candidates bounded by probed cells via broadcast equi join; no product") {
    val p = plan("ext_ivfpq_topk")
    assert(!p.contains("CartesianProduct"),
      s"IVF-PQ must never plan a cartesian product:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "probe set and ADC tables must join broadcast hash-side")
    assert(p.contains("graft_topk"), "final ranking must be the bounded aggregate")
    // cell assignment and candidate ranking go through bounded aggregates
    // — the only Window is the placeholder PQ codebook's code numbering
    // over its ksub (16) rows, constant-size by construction; the codebook
    // subtree appears twice in the logical plan (encode side + ADC side)
    val windows = "\\bWindow\\b".r.findAllIn(analyzed("ext_ivfpq_topk")).length
    assert(windows <= 2,
      s"only the ksub-row codebook numbering may be a window ($windows)")
  }

  test("dup spans: no product join, no window; doc-frequency agg is map-side partial") {
    val p = plan("ext_dup_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"positioned-gram join-back must stay an equi join:\n$p")
    assert(!analyzed("ext_dup_spans").contains("Window"),
      "document frequency is an aggregate, never a window over the gram stream")
    assert(p.contains("partial_count"),
      s"per-gram doc count must combine map-side before the shuffle:\n$p")
  }

  test("dup intervals: lag, island sum and interval agg share one doc-keyed shuffle") {
    val p = plan("ext_dup_intervals")
    // both window passes sort once on (doc, pos) and the interval
    // aggregate reuses that partitioning — exactly one hash exchange
    // keys on the document id ALONE (duplicatedSpans' distinct keys on
    // (doc_id, gh), the final orderBy is a range exchange)
    val docExchanges = "hashpartitioning\\(doc_id#\\d+L?, \\d+\\)".r.findAllIn(p).length
    assert(docExchanges == 1,
      s"flagged positions must shuffle once on the doc key ($docExchanges):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval merge must stay on the equi-join path:\n$p")
  }

  test("semdedup: cell-blocked equi joins only, sizes broadcast, no product join") {
    // the gate query materializes eagerly (its plan is a checkpoint scan),
    // so the plan contract is asserted on the un-materialized frame with
    // the gate's exact parameters
    import org.apache.spark.sql.functions.col
    val df = graft.ext.Similarity.semDedup(
      spark.read.parquet(s"$dir/embeddings.parquet").where(col("vec_id") < 500),
      "embedding", "vec_id", nCells = 8, threshold = 0.2, materialize = false)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the codebook-score crossJoin is a broadcast of nCells rows — the
    // within-cluster pairing itself must plan as an equi join on cell_id
    assert(!p.contains("CartesianProduct"),
      s"within-cluster pairing must never plan a cartesian product:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "codebook scoring must broadcast the nCells-row side")
    assert(!df.queryExecution.analyzed.toString.contains("Window"),
      "the skew guard is an aggregate + broadcast join-back, not a window")
  }

  test("lm perplexity: broadcast LM tables, no window, per-doc agg is partial") {
    val p = plan("ext_lm_perplexity")
    assert(!analyzed("ext_lm_perplexity").contains("Window"),
      "scoring must never rank/accumulate through a window")
    assert(p.contains("BroadcastHashJoin"),
      "the bigram/unigram LM tables must probe as broadcast hash joins")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian product anywhere in the LM plan:\n$p")
    // the only nested-loop joins allowed are the one-row totals/unk
    // broadcasts (crossJoin of a single-row aggregate); formatted explain
    // names each node twice (tree line + detail header)
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl <= 4, s"only the two one-row cross joins may nest-loop ($bnl):\n$p")
    assert(p.toLowerCase.contains("partial_sum"),
      "per-doc log-prob sum must combine map-side before the shuffle")
  }

  test("pagerank: checkpointed rounds keep the plan flat, aggs partial") {
    val p = plan("ext_pagerank")
    // three materialized rounds later, the final plan must still be
    // iteration-sized — the scan reads the last checkpoint, not a stacked
    // lineage (the trainMerges plan-string-doubling lesson)
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      s"rounds must truncate lineage via checkpoint:\n${p.take(2000)}")
    assert(!analyzed("ext_pagerank").contains("Window"))
    assert(p.length < 100000, s"plan string must stay round-sized: ${p.length}")
  }

  test("mixture realize: broadcast plan join, corpus never shuffles pre-explode") {
    val p = plan("ext_mixture_epochs")
    assert(!analyzed("ext_mixture_epochs").contains("Window"))
    assert(p.contains("BroadcastHashJoin"),
      "the per-source plan must broadcast over the corpus")
    assert(p.contains("Generate"), "epoch fan-out is an explode, not a join")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized keyed join in the mixture plan:\n$p")
    assert(p.toLowerCase.contains("partial_count"),
      "the realized counts must combine map-side")
  }

  test("naive bayes: broadcast model probe, min-struct argmax, no window") {
    val p = plan("ext_nb_confusion")
    assert(!analyzed("ext_nb_confusion").contains("Window"),
      "the argmax must be a min-of-struct fold, never a window")
    assert(p.contains("BroadcastHashJoin"),
      "the dense C×B model and priors must probe as broadcast hash joins")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian product in the NB plan:\n$p")
    assert(p.toLowerCase.contains("partial_sum") &&
      p.toLowerCase.contains("partial_min"),
      "both scoring aggregations must combine map-side")
  }

  test("kmv overlap: partial sketch fold, no distinct shuffle of the corpus") {
    val p = plan("ext_kmv_overlap")
    assert(p.toLowerCase.contains("partial_graft_kmv"),
      "the bottom-k sketch must fold map-side like any partial aggregate")
    assert(!p.contains("hashpartitioning(text"),
      s"neither slice may shuffle on the item — the sketch IS the synopsis:\n$p")
    assert(!analyzed("ext_kmv_overlap").contains("Window"))
    // the only join is the one-row × one-row sketch cross — never a keyed
    // join of corpus-sized sides
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"sketch composition must not plan a keyed corpus join:\n$p")
  }

  test("embedding drift: per-side centroid sums partial-aggregate; no vector-wide join") {
    val p = plan("ext_embed_drift")
    assert(p.contains("partial_sum"),
      "the dims x keys integer sums must combine map-side — the shuffle " +
        "carries centroid state, never embedding vectors")
    assert(!p.contains("CartesianProduct"),
      s"snapshot join must be keyed (label, dim), not a product:\n$p")
    // after the per-side collapse both join inputs are keys x dims sized;
    // the corpus-width column must not survive past its aggregate
    assert(!p.contains("hashpartitioning(embedding"),
      "the raw vector column must never be a shuffle key")
  }

  test("cluster quality: codebook broadcasts; one shuffled row per vector") {
    val p = plan("ext_cluster_quality")
    assert(p.contains("partial_max"),
      "the per-vector argmax must map-side combine so the shuffle carries " +
        "one best-cell row per vector, never rows x cells")
    assert(!p.contains("CartesianProduct"),
      s"the codebook side must broadcast (nested-loop against 8 rows):\n$p")
    assert(!p.contains("SortMergeJoin(") || p.contains("BroadcastExchange"),
      "no corpus-sized keyed join may appear before the argmax")
  }

  test("temporal split: broadcast one-row cuts, no product of data-sized sides") {
    val opt = SparkEntry.queries("ext_temporal_split")(spark, dir)
      .queryExecution.optimizedPlan
    val bad = opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"unpartitioned Window in temporal split:\n$bad")
    val p = plan("ext_temporal_split")
    assert(!p.contains("CartesianProduct"),
      s"the cuts side must broadcast (one row):\n$p")
  }

  test("contrastive mining: band-keyed joins only, per-anchor min is partial") {
    val p = plan("ext_contrastive_pairs")
    assert(!p.contains("CartesianProduct"),
      s"candidates must come from the band join, never all-pairs:\n$p")
    assert(p.contains("partial_min"),
      "the per-anchor leg picks must map-side combine")
    assert(!analyzed("ext_contrastive_pairs").contains("Window"))
  }

  test("data card: two partial-agg passes, sources-sized join, no window") {
    val p = plan("ext_data_card")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "additive stats must combine map-side")
    assert(!p.contains("CartesianProduct"))
    assert(!analyzed("ext_data_card").contains("Window"))
  }

  test("loss reweight: broadcast LM probes; nothing corpus-sized joins keyed") {
    val p = plan("ext_loss_reweight")
    assert(!p.contains("SortMergeJoin"),
      s"every join side is model- or sources-sized — broadcast them:\n$p")
    assert(!analyzed("ext_loss_reweight").contains("Window"))
  }

  test("per-lang lm: keyed broadcast probes, one pass for all languages") {
    val p = plan("ext_lm_per_lang")
    assert(!analyzed("ext_lm_per_lang").contains("Window"))
    assert(p.contains("BroadcastHashJoin"),
      "every per-language table (incl. the per-lang unk row) is keyed — " +
        "all probes must be hash joins, no one-row nest-loop crosses remain")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no unkeyed join anywhere in the per-group plan:\n$p")
    assert(p.toLowerCase.contains("partial_sum"),
      "per-doc log-prob sum must combine map-side before the doc shuffle")
  }

  test("kneser-ney: five broadcast probes, no window, per-doc agg is partial") {
    for (gate <- Seq("ext_lm_kneser_ney", "ext_lm_kn_modified")) {
      val p = plan(gate)
      assert(!analyzed(gate).contains("Window"),
        s"$gate: KN scoring must never rank/accumulate through a window")
      assert(p.contains("BroadcastHashJoin"),
        s"$gate: the tri/λ2/P2/λ1/P1 tables must probe as broadcast hash joins")
      assert(!p.contains("CartesianProduct"),
        s"$gate: no cartesian product anywhere in the KN plan:\n$p")
      // only the one-row unk/totals/count-of-count cross broadcasts may
      // nest-loop
      assert(!"BroadcastNestedLoopJoin (Inner|Left|Right|Full)".r.findFirstIn(p).isDefined,
        s"$gate: only one-row Cross broadcasts may nest-loop:\n$p")
      assert(p.toLowerCase.contains("partial_sum"),
        s"$gate: per-doc log-prob sum must combine map-side before the doc shuffle")
    }
  }

  test("dsir: broadcast ratio table, graft_topk selection, no window") {
    val p = plan("ext_dsir_select")
    assert(!analyzed("ext_dsir_select").contains("Window"),
      "selection must rank through graft_topk, never a window")
    assert(p.contains("graft_topk"),
      "top-k must be the bounded mappers-times-k aggregate")
    assert(p.contains("BroadcastHashJoin"),
      "the ratio table and selected-id probes must broadcast")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian product anywhere in the DSIR plan:\n$p")
    // the only nested-loop joins allowed are one-row totals/unseen cross
    // broadcasts — any keyed BNLJ variant means a broadcast hint was lost
    assert(!"BroadcastNestedLoopJoin (Inner|Left|Right|Full)".r.findFirstIn(p).isDefined,
      s"only one-row Cross broadcasts may nest-loop:\n$p")
    assert(p.toLowerCase.contains("partial_sum"),
      "per-doc weight sum must combine map-side before the doc shuffle")
  }

  test("bpe training stages: partial aggs, bounded argmax, no window") {
    // the gate query materializes at build time (driver-orchestrated
    // loop), so assert on the two internal stages directly
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val vocab = graft.ext.Bpe.initialVocab(docs, "text", 1L)
    val vp = vocab.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode).toLowerCase
    assert(vp.contains("partial_count"),
      "word count must combine map-side before the one corpus shuffle")
    val best = graft.ext.Bpe.pairCounts(vocab)
      .orderBy(org.apache.spark.sql.functions.col("c").desc,
        org.apache.spark.sql.functions.col("l").asc,
        org.apache.spark.sql.functions.col("r").asc)
      .limit(1)
    val bp = best.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(bp.toLowerCase.contains("partial_sum"),
      "pair counts must combine map-side")
    assert(bp.contains("TakeOrderedAndProject"),
      "the argmax must be a bounded top-1, never a global sort")
    assert(!bp.contains("Window"), "no window in the training loop")
  }

  test("blocklist: one codegen'd corpus pass, no exchange before the sort") {
    val p = plan("ext_blocklist")
    assert(p.contains("graft_ac_counts"),
      s"scoring must run through the Aho-Corasick kernel:\n$p")
    // per-row signals only — the single exchange is the gate's
    // determinism orderBy (range partitioning), never a hash shuffle
    assert(!p.contains("hashpartitioning"),
      s"blocklist signals must not shuffle the corpus:\n$p")
    val exchanges = "rangepartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"one range exchange for the orderBy and nothing else ($exchanges):\n$p")
  }

  test("robots decisions: per-host rules broadcast in; corpus never shuffles") {
    val p = plan("ext_robots_decisions")
    assert(p.contains("BroadcastHashJoin"),
      s"per-host rule arrays must broadcast-join on host:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoop"),
      s"the corpus must never shuffle or product-join for the verdict:\n$p")
    // the ONE hash exchange collapses the RULES dimension to per-host
    // arrays (dimension-sized); the corpus side plans with none. No plan
    // literal of the rules table may exist — UrlSpec pins that the plan
    // string stays flat as the rules table grows.
    val hashEx = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashEx <= 1,
      s"only the rules-dimension collapse may hash-exchange ($hashEx):\n$p")
    val exchanges = "rangepartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"one range exchange for the gate's orderBy and nothing else:\n$p")
  }

  test("lr evaluation CDFs: no unpartitioned Window anywhere in the plans") {
    // rocAuc/prCurve (and exactGlobal percentiles) run their running sums
    // through PrefixSum's two-pass partition-offset scheme; a Window with
    // an EMPTY partitionSpec would mean a single-task global sort over the
    // distinct-value table (which for int64 LR margins — or prices — can
    // approach corpus cardinality)
    for (q <- Seq("ext_lr_auc", "ext_lr_pr_curve", "ext_lr_auc_sliced",
        "ext_quantiles_exact", "ext_quantiles_grouped")) {
      val opt = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
      val bad = opt.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$q plans an unpartitioned Window:\n$bad")
    }
  }

  test("blocklist profile: partial agg on the pattern index, bounded shuffle") {
    val p = plan("ext_blocklist_profile")
    assert(p.contains("partial_sum"),
      s"per-pattern totals must combine map-side before the shuffle:\n$p")
    assert(!analyzed("ext_blocklist_profile").contains("Window"),
      "the profile is an aggregate, never a window")
  }

  test("incremental semdedup: corpus side plans with zero exchanges") {
    val p = plan("ext_semdedup_incremental")
    assert(p.contains("LeftSemi"),
      "batch cell ids must semi-probe the corpus pipeline")
    assert(p.contains("BroadcastHashJoin"),
      "the within-cell pairing must broadcast the batch")
    // literal-codebook assignment is a per-row expression: the ONLY hash
    // exchange in the whole plan is the batch side's tiny cell distinct
    // (the final orderBy is a range exchange)
    val hashEx = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashEx <= 1,
      s"corpus must never shuffle — only the batch distinct may ($hashEx):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairing must stay a cell-keyed equi join:\n$p")
    assert(!analyzed("ext_semdedup_incremental").contains("Window"),
      "assignment is an HOF argmax, never a window")
  }

  test("resample: no global calendar join; one fill window per key") {
    val p = plan("ext_resample_ffill")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"grid must come from the per-key (min,max) aggregate, not a calendar product:\n$p")
    // exactly one Window (the running fill); the bucket-latest obs is an agg
    val windows = "\\bWindow\\b".r.findAllIn(p).length
    assert(windows >= 1, s"fill must be a running window:\n$p")
  }

  test("sessionize: single keyed sort serves both the lag and the running sum") {
    val p = plan("ext_sessionize")
    // both window functions share the (user_id, us) sort — one exchange,
    // one sort, no re-partitioning between them
    val exchanges = "hashpartitioning\\(".r.findAllIn(p).length
    assert(exchanges == 1,
      s"sessionize must shuffle once on the entity key ($exchanges):\n$p")
  }

  test("q6: every predicate and the 3-column projection reach the parquet scan") {
    val p = plan("q6_forecast_revenue")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("GreaterThanOrEqual(l_discount,0.05)") &&
      p.contains("LessThan(l_quantity,24.0)"),
      s"all filters must reach PushedFilters:\n$p")
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"),
      "scan must read only the four referenced columns")
  }

  test("q19: each side pre-filtered by its arm-union before the join") {
    val p = plan("q19_brand_bands")
    assert(p.contains("In(p_brand"), "brand IN-list must reach the part scan")
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
      p.contains("LessThanOrEqual(l_quantity,30.0)"),
      "quantity arm-union must reach the lineitem scan")
  }

  test("range join plans as an equi join, never a nested loop") {
    val df = SparkEntry.queries("ext_range_join")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"binned range join must be an equi join:\n$p")
  }

  test("q7: nation broadcasts only; customer/orders unhinted; date filter pushed") {
    val hints = "ResolvedHint".r.findAllIn(analyzed("q7_volume_shipping")).length
    assert(hints == 3, s"expected 3 hints (supplier, nation x2), got $hints")
    val p = plan("q7_volume_shipping")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "shipdate window must reach the lineitem scan")
  }

  test("q13: per-customer count co-partitions with the outer join (one shuffle of each side)") {
    val p = plan("q13_customer_distribution")
    // the groupBy(c_custkey) must reuse the join's hashpartitioning on the
    // customer key — no extra exchange between join and first aggregate
    val exchanges = "Exchange hashpartitioning\\(([a-z_]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(!exchanges.contains("c_custkey") || exchanges.count(_ == "c_custkey") <= 1,
      s"per-customer aggregate must not re-shuffle after the join: $exchanges")
  }

  test("q4: exists compiles to a semi join, never a distinct-then-inner") {
    val p = plan("q4_order_priority")
    assert(p.toLowerCase.contains("leftsemi"), s"must plan a left-semi join:\n$p")
  }

  test("q2: correlated min runs as agg + join-back — no window, no cartesian") {
    val p = plan("q2_min_cost_supplier")
    assert(!analyzed("q2_min_cost_supplier").contains("Window"),
      "per-part best offer must be an aggregate, never a window rank")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.toLowerCase.contains("partial_min"),
      s"the per-part min must combine map-side:\n$p")
  }

  test("q11: the global total joins as a broadcast one-row side, sums partial") {
    val p = plan("q11_important_parts")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the scalar total must broadcast, never shuffle the fact side:\n$p")
    assert(p.toLowerCase.contains("partial_sum"), s"map-side combine:\n$p")
    assert(!analyzed("q11_important_parts").contains("Window"))
  }

  test("q16: the NOT IN complaint screen compiles to a broadcast anti join") {
    val p = plan("q16_supplier_cnt")
    assert(p.contains("LeftAnti"), s"complaint screen must be an anti join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the anti join must stay hash-keyed (no null-aware BNLJ):\n$p")
  }

  test("q21: exists/not-exists pair plans as one semi and one anti join") {
    val p = plan("q21_waiting_suppliers")
    assert(p.contains("LeftSemi"), s"exists(other supplier) → semi join:\n$p")
    assert(p.contains("LeftAnti"), s"not exists(other late) → anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("merge broadcast strategy produces no full-outer sort-merge join") {
    val p = plan("j1_merge_upsert")
    // auto strategy at this size must pick the broadcast formulation
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
  }

  test("q_topk_per_group: TopKWindowRewrite fires (graft_topk, no Window sort)") {
    val opt = SparkEntry.queries("q_topk_per_group")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(opt.contains("graft_topk"),
      s"window top-k idiom must rewrite to the bounded aggregate:\n$opt")
    assert(!opt.contains("windowspecdefinition"),
      s"rewritten plan must not retain the Window:\n$opt")
  }

  test("q_ntile: no Window over a low-cardinality partition key") {
    val p = plan("q_ntile")
    assert(!p.contains("Window"),
      s"q_ntile must use range-sort row numbers, not a 5-partition window:\n$p")
  }

  test("broadcast merge scans the full-width target exactly once") {
    import org.apache.spark.sql.functions._
    val target = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .withColumn("_id", col("o_orderkey"))
      .withColumn("_updated_at", lit("2026-01-01 00:00:00").cast("timestamp"))
    // in-memory stage → every parquet scan in the plan is a TARGET pass
    import spark.implicits._
    val stage = Seq((1L, 9.9, "X", 1000001L), (2L, 8.8, "Y", 1000002L))
      .toDF("o_orderkey", "o_totalprice", "o_orderstatus", "_id")
    val merged = graft.ops.Merge.merge(target, stage,
      java.sql.Timestamp.valueOf("2026-02-02 00:00:00"),
      graft.ops.Merge.MergeSpec(uniqueKeys = Seq("o_orderkey"),
        strategy = graft.ops.Merge.MergeStrategy.BroadcastStage))
    val p = merged.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val scans = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toSeq
    val fullWidth = scans.count(_.contains("o_totalprice"))
    assert(fullWidth == 1,
      s"broadcast merge must make exactly ONE full-width target pass, got $fullWidth:\n${scans.mkString("\n")}")
    val keyOnly = scans.count(s => s.contains("o_orderkey") && !s.contains("o_totalprice"))
    assert(keyOnly == 1,
      s"insert derivation must key-prune its target pass:\n${scans.mkString("\n")}")
    assert(!p.contains("SortMergeJoin"), "broadcast merge must not shuffle the target")
  }

  test("priority dedup: one partial-agg min-struct shuffle, no window") {
    val p = plan("ext_priority_dedup")
    assert(!analyzed("ext_priority_dedup").contains("Window"),
      "the winner pick is a min-struct aggregate, never a window")
    assert(p.contains("partial_min"),
      s"the per-hash winner must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "priority dedup joins nothing")
  }

  test("curation composition: broadcast model scoring, no product join") {
    val p = plan("ext_curation_e2e")
    assert(p.contains("BroadcastHashJoin"),
      s"the trained weight table must broadcast into the corpus pass:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"every corpus-sized stage joins on keys:\n$p")
    // the only keyless join allowed is the broadcast ONE-ROW mean-margin
    // threshold side (the kmv-overlap 1x1 class); it appears twice
    // because both the keep filter and the dedup stage reference the
    // kept-docs subplan
    val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 2,
      s"only the one-row threshold may join keyless ($bnlj):\n$p")
    assert(p.contains("graft_topk"),
      "the per-language quota must route through the bounded aggregate")
  }

  test("funnel: no window, partial-agg doc rollup, type filter pushed") {
    val p = plan("q_funnel")
    assert(!analyzed("q_funnel").contains("Window"),
      "the per-key fold is an aggregate, never a window")
    assert(p.toLowerCase.contains("partial_"),
      "the event rollup must combine map-side before the key shuffle")
    assert(p.contains("In(event_type"),
      s"the step-type filter must reach the scan as a pushed filter:\n$p")
  }

  test("weighted sample: bounded graft_topk draw, never a corpus sort") {
    val p = plan("ext_weighted_sample")
    assert(p.contains("graft_topk"),
      s"selection must route through the bounded top-k aggregate:\n$p")
    // the only sort allowed is the k-row output ordering after the agg
    val sorts = "\\(\\d+\\) Sort".r.findAllIn(p).length
    assert(sorts <= 1,
      s"no corpus-wide sort may precede the bounded aggregate ($sorts sorts):\n$p")
  }

  test("quality checks: one input scan feeds every constraint, no join") {
    val p = plan("ext_quality_checks")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"all checks must share ONE scan, got $scans:\n$p")
    assert(!p.contains("Join"), "checks are one aggregate, never a join")
    assert(!analyzed("ext_quality_checks").contains("Window"),
      "verdict unpivot is an explode, never a window")
  }

  test("lr scoring: broadcast model, map-side partial doc rollup, no window") {
    val p = plan("ext_lr_quality")
    assert(p.contains("BroadcastHashJoin"),
      s"the ≤B+1-row weight table must broadcast into the corpus pass:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "scoring must never shuffle the corpus against the model")
    assert(!analyzed("ext_lr_quality").contains("Window"),
      "scoring is join + aggregate, never a window")
    assert(p.contains("partial_sum"),
      "the per-doc margin must combine map-side before the doc shuffle")
  }

  test("paragraph dedup: no window, no product join, canonical pick is partial") {
    val p = plan("ext_paragraph_dedup")
    assert(!analyzed("ext_paragraph_dedup").contains("Window"),
      "first-occurrence pick is a min-struct aggregate, never a window")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"occurrence join-back must stay an equi join:\n$p")
    assert(p.contains("partial_min"),
      s"per-hash first-occurrence pick must combine map-side:\n$p")
  }

  test("langid margin: broadcast model probe, top-2 pick without a window") {
    // the GATE now projects a frozen fixture (one shared scoring pass), so
    // the plan posture is asserted on the scoring operator itself — the
    // same classifyTopMargin call the fixture freezes
    import org.apache.spark.sql.functions.col
    val docs = graft.queries.Tables.t(spark, dir, "documents")
      .select("doc_id", "text")
    val labeled = graft.queries.Tables.t(spark, dir, "documents")
      .where(col("doc_id") % 3 === 0).select("text", "lang")
    val (m, pr) = graft.ext.NaiveBayes.train(
      labeled, "text", "lang", buckets = 2000, alpha = 1.0,
      features = graft.ext.LangId.charGramBuckets(graft.ext.LangId.DefaultN))
    val scored = graft.ext.LangId.classifyTopMargin(docs, m, pr, "text", "doc_id")
    val p = scored.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("BroadcastHashJoin"),
      s"the C×B model must broadcast into the feature stream:\n$p")
    assert(!scored.queryExecution.analyzed.toString.contains("Window"),
      "the per-doc top-2 pick folds C structs in an aggregate, never a window")
    assert(p.contains("partial_sum"),
      "per-(doc,label) score sums must combine map-side")
    assert(!p.contains("SortMergeJoin"),
      "the corpus must never shuffle against the model")
  }

  test("cohen kappa: one corpus exchange to the confusion matrix, no window") {
    val p = plan("ext_label_kappa")
    assert(!analyzed("ext_label_kappa").contains("Window"),
      "kappa is pure grouped counting, never a window")
    assert(p.toLowerCase.contains("partial_count"),
      "the confusion-matrix count must combine map-side")
    // the only non-equi join is the one-row broadcast p_e fold; a
    // CartesianProduct (non-broadcast product) must never appear
    // the doc-keyed truth⋈prediction join may legitimately sort-merge
    // (both sides are corpus-sized); a CartesianProduct (non-broadcast
    // product) must never appear anywhere
    assert(!p.contains("CartesianProduct"),
      s"joins are equi or one-row-broadcast only:\n$p")
  }

  test("shard assign: pure projection — no exchange but the final sort, no join") {
    val p = plan("ext_shard_assign")
    assert(!p.contains("hashpartitioning("),
      s"rendezvous scoring is per-row — nothing may shuffle on a key:\n$p")
    assert(!p.contains("Join"),
      "no join — the shard range is a per-row literal sequence")
    assert(!analyzed("ext_shard_assign").contains("Window"), "no window")
  }

  test("hamming neighbors: chunk-keyed equi-join, no product, no window") {
    val p = plan("ext_hamming_neighbors")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the pigeonhole band join must stay an equi-join on (ci, cv):\n$p")
    assert(!analyzed("ext_hamming_neighbors").contains("Window"), "no window")
  }

  test("srp neardup + hamming dedup e2e: banded equi-joins, no product, no window") {
    Seq("ext_srp_neardup", "ext_hamming_dedup_e2e").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q: pair search must stay the banded bucket aggregate:\n$p")
      assert(!analyzed(q).contains("Window"), s"$q: no window")
    }
  }

  test("bm25f: ONE corpus pass over all fields, topk aggregate, no window") {
    val p = plan("ext_bm25f_topk")
    val explodes = "Generate explode".r.findAllIn(p).length
    assert(explodes <= 2, // the tagged field explode + the topk posexplode
      s"fields must share one tagged corpus explode, saw $explodes:\n$p")
    assert(p.contains("graft_topk"), "per-query top-k must be the bounded aggregate")
    assert(!analyzed("ext_bm25f_topk").contains("Window"), "no window")
    assert(!p.contains("CartesianProduct"), "only one-row broadcast crosses")
  }

  test("cms join size: two sketch folds + one-row broadcasts — never the join's key exchange") {
    val p = plan("ext_cms_join_size")
    assert(p.contains("graft_cms"), "both sides must fold through the sketch aggregate")
    // the one exchange allowed on the ESTIMATE path is none at all: the
    // sketches are all-agg folds; the exact column (gate comparison)
    // carries the only keyed join
    assert(!analyzed("ext_cms_join_size").contains("Window"), "no window")
    assert(!p.contains("CartesianProduct"),
      "only one-row broadcast crosses are allowed")
  }

  test("epoch permutation: pure projection — no keyed exchange, no join, no window") {
    Seq("ext_epoch_permutation", "ext_epoch_batch").foreach { q =>
      val p = plan(q)
      assert(!p.contains("hashpartitioning("),
        s"$q: the Feistel walk is per-row — nothing may shuffle on a key:\n$p")
      assert(!p.contains("Join"), s"$q: no join")
      assert(!analyzed(q).contains("Window"), s"$q: no window")
    }
  }

  test("table fingerprint: one partial-agg pass, no window, no join") {
    val p = plan("ext_table_fingerprint")
    assert(p.toLowerCase.contains("partial_count") ||
      p.toLowerCase.contains("partial_sum"),
      s"count+sum must combine map-side:\n$p")
    assert(!p.contains("Join"), "a checksum is a projection + aggregate")
    assert(!analyzed("ext_table_fingerprint").contains("Window"), "no window")
  }

  test("phash neardup: kernel projection into banded search — no product, no window") {
    val p = plan("ext_phash_neardup")
    assert(p.contains("graft_avg_hash"),
      "the hash must be the codegen'd kernel, not a SQL detour")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"pair search must stay the banded bucket aggregate:\n$p")
    assert(!analyzed("ext_phash_neardup").contains("Window"), "no window")
  }

  test("fleiss kappa: grouped counting only — no window, no product join") {
    val a = analyzed("ext_fleiss_kappa")
    assert(!a.contains("Window"),
      "three classifier passes + the n_ij fold are all aggregates — the " +
        "margin top-2 pick and the kappa fold must never window")
    val p = plan("ext_fleiss_kappa")
    assert(!p.contains("CartesianProduct"),
      s"only one-row broadcast folds may cross:\n$p")
    assert(p.toLowerCase.contains("partial_count"),
      "the per-(item, category) count must combine map-side")
  }

  test("k-anonymity: two-level agg, second level reuses the first partitioning") {
    val p = plan("ext_k_anon")
    assert(!analyzed("ext_k_anon").contains("Window"),
      "the audit is grouped counting, never a window")
    assert(p.toLowerCase.contains("partial_count"),
      "the (QI, sensitive) count must combine map-side")
    // one corpus exchange to (QI, sensitive); the QI rollup and the final
    // sort add at most one hash + one range exchange — never a second
    // corpus-wide hash shuffle of raw rows
    val hashEx = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashEx <= 2, s"expected ≤2 hash exchanges, got $hashEx:\n$p")
  }

  test("retrieval metrics: keyed histogram window only, broadcast query sides") {
    val a = analyzed("ext_retrieval_metrics")
    // the one Window (IDCG histogram cumsum) is PARTITIONED by query_id —
    // an unpartitioned Window here would sort all graded docs on one task
    val windows = "windowspecdefinition\\(".r
      .findAllIn(a.toLowerCase).length
    val keyed = "windowspecdefinition\\(query_id".r
      .findAllIn(a.toLowerCase).length
    assert(windows == keyed && windows >= 1,
      s"every Window must be keyed by query_id ($keyed/$windows):\n$a")
    val p = plan("ext_retrieval_metrics")
    assert(p.contains("BroadcastHashJoin"),
      "query-term and metric-tail joins must broadcast the query-sized side")
    assert(!p.contains("CartesianProduct"),
      s"no product joins anywhere in the metric tail:\n$p")
    assert(p.toLowerCase.contains("partial_count"),
      "the grade aggregation must combine map-side")
  }

  test("novelty: reference grams equi-join with no static hint or plan literal") {
    // the reference side is corpus-scale BY CONTRACT, so the code must not
    // FORCE a broadcast (no ResolvedHint) and must never collect the gram
    // set into a plan literal (the robots-rules bug class) — the planner
    // picking a broadcast HERE is fine (the fixture side is KBs; at 100 TB
    // the same unhinted equi join exceeds the threshold and shuffles)
    val a = analyzed("ext_novelty")
    assert(!a.contains("ResolvedHint"),
      "no static broadcast hint on the corpus-scale reference side")
    assert(!a.contains("Window"),
      "per-candidate rollup is grouped counting, never a window")
    val p = plan("ext_novelty")
    assert(!p.contains("CartesianProduct"), "no product joins")
    assert(p.toLowerCase.contains("partial_sum"),
      "the seen-gram rollup must combine map-side")
    assert("Join [a-zA-Z]*[oO]uter".r.findFirstIn(p).isDefined ||
        p.contains("LeftOuter"),
      s"the gram probe is a LEFT equi join (zero-gram docs survive):\n$p")
  }

  test("novelty indexed: semi-join membership against the bucketed gram table") {
    val p = plan("ext_novelty_indexed")
    assert(p.contains("LeftSemi"),
      s"membership must be a semi join (duplicate rows in the index can " +
        s"never fan out counts):\n$p")
    assert(p.contains("SelectedBucketsCount"),
      s"the index side must scan through its bucketing (no exchange over " +
        s"the persistent gram table):\n$p")
    assert(!p.contains("CartesianProduct"), "no product joins")
    assert(!analyzed("ext_novelty_indexed").contains("Window"),
      "per-candidate rollup is grouped counting, never a window")
  }

  test("trunc recall: both search arms broadcast the query side only") {
    val p = plan("ext_trunc_recall")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast into the corpus scan:\n$p")
    assert(!p.contains("CartesianProduct"),
      "the scored cross product must be a broadcast product, never a " +
        "shuffled CartesianProduct")
    assert(!analyzed("ext_trunc_recall").contains("Window") ||
      p.contains("graft_topk"),
      "top-k must run through the bounded aggregate when registered")
  }

  test("curation filter: quality and repetition counters pinned to one evaluation each") {
    // ext_curation filters on three derived signals; without the EvalOnce
    // pins the pushed predicate would re-tokenize/re-shingle per conjunct
    val opt = SparkEntry.queries("ext_curation")(spark, dir)
      .queryExecution.optimizedPlan.toString
    val pins = "graft_eval_once".r.findAllIn(opt).length
    assert(pins == 2,
      s"expected the two pinned counter structs (quality, repetition), saw $pins:\n$opt")
  }

  test("gopher rules + pass filter: the counters kernel is evaluated once per row") {
    // a filter on pass_gopher must NOT alias-substitute the tokenize
    // kernel into every rule conjunct (10× per-row cost in a codegen'd
    // FilterExec, or a 64 KB codegen fallback on wide inputs) — the
    // EvalOnce barrier pins exactly one kernel call in the whole plan
    import org.apache.spark.sql.functions.col
    val docs = graft.queries.Tables.t(spark, dir, "documents")
    val filtered = graft.ext.TextStats.gopherRules(docs, "text")
      .where(col("pass_gopher"))
      .select("doc_id", "n_words")
    val opt = filtered.queryExecution.optimizedPlan.toString
    val kernelCalls = "graft_gopher_counts".r.findAllIn(opt).length
    assert(kernelCalls == 1,
      s"expected exactly one kernel evaluation, saw $kernelCalls:\n$opt")
    assert(opt.contains("graft_eval_once"), "the barrier must be in the plan")
  }

  test("partitioned scan: the lang predicate prunes at directory level") {
    // the gate's predicate must land in PartitionFilters (listing-time
    // directory pruning), not only in PushedFilters/row-group stats —
    // at 100 TB this is the difference between listing every file of
    // every language and listing two directories
    val p = plan("w_partitioned_scan")
    assert(p.contains("PartitionFilters: [lang") ||
      p.contains("PartitionFilters: [isnotnull(lang") ||
      p.contains("PartitionFilters: [(lang") ||
      p.contains("PartitionFilters: [lang#"),
      s"lang IN (…) must reach PartitionFilters:\n$p")
  }

  test("multi-snapshot scan: one relation per layout, never an N-way union") {
    // replay runs merge into manifest-built file-index relations: the
    // plan of a table with many append snapshots must hold ONE scan node
    // per layout group, not one per snapshot — at streaming commit
    // counts the per-snapshot union is a 30s-planning-per-query cliff
    import org.apache.spark.sql.functions.{col, lit}
    val store = new graft.table.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_planspec_ms").toString)
    val base = spark.range(0, 60).select(
      col("id").as("k"),
      (col("id") % 3).cast("string").as("day"),
      (col("id") * 2).as("v"))
    (0 until 6).foreach(i =>
      store.appendPartitioned("t", base.where(col("k") % 6 === i), Seq("day")))
    val qe = store.scan("t").queryExecution
    assert(!qe.optimizedPlan.toString.toLowerCase.contains("union"),
      s"6 same-layout snapshots must merge into one relation:\n${qe.optimizedPlan}")
    val scans = "Scan parquet".r
      .findAllIn(qe.executedPlan.toString).length
    assert(scans == 1, s"expected one parquet scan, saw $scans")
    assert(store.scan("t").count() == 60)
    // partition pruning still prunes directories through the merged index
    val pruned = store.scan("t").where(col("day") === "1")
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters: ["), "merged index must keep PartitionFilters")
    assert(pruned.count() == base.where(col("day") === "1").count())
    // file-skipping reads keep one relation too: files kept from several
    // snapshots share their chain's file index (entry i holds k = i mod 6,
    // all in one day directory)
    def scanNodes(df: org.apache.spark.sql.DataFrame) = "Scan parquet".r
      .findAllIn(df.queryExecution.executedPlan.toString).length
    def snaps(df: org.apache.spark.sql.DataFrame) = df.inputFiles
      .map(_.split('/').find(_.startsWith("snap-")).get).toSet
    val ranged = store.scanPruned("t", "k", 57L, 59L)
    assert(snaps(ranged).size == 3, "k 57..59 lives in three snapshots")
    assert(ranged.inputFiles.length < store.scan("t").inputFiles.length)
    assert(scanNodes(ranged) == 1,
      s"a pruned read over three snapshots is one relation:\n${ranged.queryExecution.executedPlan}")
    assert(ranged.select("k").collect().map(_.getLong(0)).toSet == Set(57L, 58L, 59L))
    store.analyzeBloomFilters("t", Seq("day"))
    val probed = store.scanBloomPruned("t", "day", "1")
    assert(snaps(probed).size == 2, "day 1 lives in two snapshots")
    assert(scanNodes(probed) == 1,
      s"a Bloom-pruned read over two snapshots is one relation:\n${probed.queryExecution.executedPlan}")
    assert(probed.count() == base.where(col("day") === "1").count())
    // mixed layouts still split: a flat append alongside partitioned ones
    store.append("t", spark.range(100, 103).select(col("id").as("k"),
      lit("9").as("day"), (col("id") * 2).as("v")))
    val mixed = store.scan("t")
    val mixedScans = "Scan parquet".r
      .findAllIn(mixed.queryExecution.executedPlan.toString).length
    assert(mixedScans == 2,
      s"flat + partitioned layouts = exactly two relations, saw $mixedScans")
    assert(mixed.count() == 63)
  }

  test("eval-once barrier: an unrelated predicate still reaches the scan") {
    // the barrier's non-deterministic declaration would stall EVERY
    // conjunct above the pinned projection (PushPredicateThroughNonJoin
    // refuses non-deterministic project fields); PushThroughEvalOnce
    // splits the conjuncts — cheap selective filters keep their
    // data-source pushdown, kernel-referencing parts stay above the pin
    import org.apache.spark.sql.functions.col
    val docs = graft.queries.Tables.t(spark, dir, "documents")
    val scored = graft.ext.TextStats.gopherRules(docs, "text")
      .where(col("lang") === "en" && col("pass_gopher"))
    val p = scored.queryExecution.executedPlan.toString
    assert(p.contains("EqualTo(lang,en)"),
      s"unrelated conjunct must reach PushedFilters below the barrier:\n$p")
    val opt = scored.queryExecution.optimizedPlan.toString
    assert("graft_gopher_counts".r.findAllIn(opt).length == 1,
      s"the split must not unpin the kernel (one evaluation):\n$opt")
    // the kernel-derived conjunct must NOT land in the scan
    assert(!p.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en), "),
      s"only the lang conjunct may push to the scan:\n$p")
  }
}
