package graft.ext

import graft.ops.Lineage.CutOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting / ordering for training-data prep.
  *
  * Everything keys off a salted md5 hash of the row id ([[TextHash.hmod]])
  * rather than `rand()`: the same row lands in the same sample, split, and
  * shuffle position on every engine, every run, every cluster size — the
  * property that makes dataset builds reproducible and incremental (a
  * re-run over grown data never reassigns old rows). All three are narrow
  * transforms (the shuffle order is a range-partitioned sort at scale).
  */
object Sampling {

  /** Salted per-row hash in [0, 100) — the assignment die roll. */
  def pctHash(idCol: Column, salt: String): Column =
    TextHash.hmod(concat(idCol.cast("string"), lit(":" + salt))) % 100

  /** SQL fragment mirror of [[pctHash]] for DuckDB oracles. */
  def pctHashSql(idE: String, salt: String): String =
    s"(${TextHash.hmodSql(s"($idE :: VARCHAR || ':$salt')")} % 100)"

  /** Stratified downsample: keep each row with its stratum's percentage
    * (e.g. Map("en" -> 30) with default 60). Pure filter — no shuffle, no
    * state; rates are exact in expectation and reproducible row-by-row. */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      stratumCol: String,
      rates: Map[String, Int],
      defaultRate: Int,
      salt: String = "sample"
  ): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (value, r)) =>
      when(col(stratumCol) === value, lit(r)).otherwise(acc)
    }
    df.where(pctHash(col(idCol), salt) < rate)
  }

  /** Train/valid/test assignment by hash band: [0,train) → train,
    * [train, train+valid) → valid, rest → test. */
  def splitAssign(idCol: Column, trainPct: Int, validPct: Int,
      salt: String = "split"): Column = {
    val h = pctHash(idCol, salt)
    when(h < trainPct, "train")
      .when(h < trainPct + validPct, "valid")
      .otherwise("test")
  }

  /** Leakage-safe train/valid/test split: near-duplicate documents must
    * never straddle splits (a test doc whose near-copy sits in train is
    * leaked evaluation), so the split hash keys on the doc's DUP-CLUSTER
    * representative instead of the doc itself — [[splitAssign]] over
    * `coalesce(cluster, id)`, the group-closed split (GroupShuffleSplit
    * semantics) with MinHash clusters as the groups.
    *
    * Scale shape: clustering is the already-bounded banded-LSH pair join
    * + label propagation ([[Dedup.duplicateClusters]]); the assignment
    * itself adds one left join against the cluster table (pair-bounded,
    * far smaller than the corpus — AQE broadcasts it when it fits) and a
    * per-row hash. Singleton docs skip the cluster table entirely. */
  def leakageSafeSplit(
      df: DataFrame, textCol: String, idCol: String, threshold: Double,
      trainPct: Int, validPct: Int, salt: String = "split"): DataFrame = {
    val clusters = Dedup.duplicateClusters(
      Dedup.minhashPairs(df, textCol, idCol, threshold))
    df.join(clusters, df(idCol) === clusters("id"), "left")
      .withColumn("split",
        splitAssign(coalesce(col("cluster"), df(idCol)), trainPct, validPct,
          salt))
      .withColumn("split_group", coalesce(col("cluster"), df(idCol)))
      .drop("id", "cluster")
  }

  /** Deterministic pseudo-random training order: sort by the salted hash
    * (id tiebreak). Changing the salt re-shuffles (one salt per epoch); at
    * scale this is a range-partitioned distributed sort whose output
    * shards ARE the shuffled dataset. */
  def shuffleOrder(df: DataFrame, idCol: String, salt: String): DataFrame =
    df.withColumn("shuffle_key",
        TextHash.hmod(concat(col(idCol).cast("string"), lit(":" + salt))))
      .orderBy(col("shuffle_key").asc, col(idCol).asc)

  /** Feistel epoch position: a pseudorandom BIJECTION of the 60-bit id
    * space (4-round balanced Feistel network over 30-bit halves —
    * Luby–Rackoff; any round function yields a permutation, here the
    * engine-portable md5 hash keyed by (epoch, round)). The shuffle-free
    * epoch reorder: [[shuffleOrder]] must globally SORT to materialize an
    * epoch, but a bijective position lets a training reader address any
    * slice of any epoch as a pure filter — batch k of epoch e is
    * `position ∈ [k·S, (k+1)·S)`, one narrow scan, no exchange, and no
    * collision tiebreak is ever needed (hash order has collisions; a
    * permutation cannot). Changing `epoch` re-keys every round function —
    * a fresh permutation per epoch from the same corpus snapshot.
    *
    * Positions are uniform over [0, 2^60), NOT dense in [0, N): fixed
    * position ranges hold binomial(N, S/2^60) rows — tightly concentrated
    * at corpus scale (the hash-range sharding contract). Ids must sit in
    * [0, 2^60), which every engine id in this codebase does.
    *
    * Scale shape: 4 md5s per row inside one codegen'd projection; zero
    * shuffle, zero state. The DuckDB oracle replays positions
    * bit-for-bit. */
  def epochPosition(id: Column, epoch: Int, rounds: Int = 4): Column = {
    require(rounds >= 3, "epochPosition: Luby-Rackoff needs >= 3 rounds")
    val half = 1L << 30
    val start = (
      call_function("shiftright", id, lit(30)).bitwiseAND(lit(half - 1L)),
      id.bitwiseAND(lit(half - 1L)))
    val (l, r) = (0 until rounds).foldLeft(start) { case ((l, r), i) =>
      val f = conv(substring(md5(concat(lit(s"fst:$epoch:$i:"),
        r.cast("string"))), 1, 15), 16, 10).cast("long") % half
      (r, l.bitwiseXOR(f))
    }
    (call_function("shiftleft", l, lit(30)).bitwiseOR(r)).as("position")
  }

  /** DuckDB SQL mirror of [[epochPosition]] (callers splice CTE steps:
    * the expression nests `rounds` md5 calls). */
  def epochPositionSql(idE: String, epoch: Int, rounds: Int = 4): String = {
    val half = 1L << 30
    val start = (s"(($idE >> 30) & ${half - 1L})", s"($idE & ${half - 1L})")
    val (l, r) = (0 until rounds).foldLeft(start) { case ((l, r), i) =>
      val f = s"((('0x' || substr(md5('fst:$epoch:$i:' || " +
        s"CAST($r AS VARCHAR)), 1, 15))::BIGINT) % $half)"
      (r, s"xor($l, $f)")
    }
    s"(($l << 30) | $r)"
  }

  /** Domain-mix quota cap: keep at most `k` rows per group, selected by
    * salted-hash order (deterministic "random" — change the salt to draw a
    * different cap set; same salt always reproduces the mix). This is the
    * corpus-balancing step of a pretraining pipeline: cap overrepresented
    * domains/languages before mixing.
    *
    * Scale shape: routed through the bounded `graft_topk` aggregate —
    * each mapper retains ≤ k candidates per group, so the shuffle carries
    * mappers × k rows per group instead of the ENTIRE overrepresented
    * group (a window formulation's cost, which at 100 TB is precisely the
    * domain you are trying to cap). Hash values are
    * < 2^31 (mod-P md5), so negating into a double score is exact.
    * Returns (groupCol, idCol, rank ∈ 1..k). */
  def quotaCap(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      k: Int,
      salt: String
  ): DataFrame = {
    val h = TextHash.hmod(concat(col(idCol).cast("string"), lit(":" + salt)))
    val keyed = df.select(col(groupCol), col(idCol).cast("long").as(idCol))
      .withColumn("__qh", h)
    keyed.groupBy(groupCol)
      .agg(call_function("graft_topk",
        negate(col("__qh").cast("double")), col(idCol), lit(k)).as("top"))
      .select(col(groupCol), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col(groupCol), col("t.id").as(idCol), (col("pos") + 1).as("rank"))
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    * Spirakis A-ES): item i gets u_i ∈ (0,1] from its salted hash and
    * survives if its key ln(u_i)/w_i is among the k largest — the
    * classic one-pass reservoir scheme, made reproducible by replacing
    * randomness with the salted md5 (same salt → same sample; new salt →
    * fresh draw). Inclusion probability rises with weight exactly as
    * u^(1/w) reservoir sampling prescribes.
    *
    * Keys are quantized round(ln(u)/w · 1e9) — the engine-wide log-space
    * quantum that absorbs last-ulp ln/÷ drift between engines, and
    * exact as a double (|key| ≤ ~2.2e10 < 2^53) so the oracle replays
    * the selection bit-for-bit. Rows with weight ≤ 0 or null id are
    * excluded (zero-weight items have inclusion probability 0).
    *
    * Scale shape: one narrow pass + the bounded `graft_topk` aggregate —
    * every mapper keeps its own k candidates, the single-group shuffle
    * carries ≤ mappers × k rows, never the corpus. Output: (idCol,
    * key_q, rank ∈ 1..k) ordered by rank. */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Int,
      salt: String
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val h = TextHash.hmod(concat(col(idCol).cast("string"), lit(":" + salt)))
    val keyq = round(
      log((h + 1).cast("double") / lit(TextHash.P.toDouble)) /
        col(weightCol).cast("double") * lit(Dsir.LrScale)).cast("long")
    // weight > 0 rejects null/zero/negative weights by three-valued logic;
    // the null-id exclusion must be EXPLICIT — without it the salted hash
    // and key_q both go null and exclusion would ride on null-ordering
    // behavior rather than the documented contract.
    val keyed = df.where(col(weightCol) > 0 && col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"), keyq.as("__k"))
    keyed
      .agg(call_function("graft_topk",
        col("__k").cast("double"), col("__id"), lit(k)).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("t.id").as(idCol), col("t.score").cast("long").as("key_q"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Per-group weighted draw: [[weightedSample]] within every `groupCol`
    * stratum — k items per group, weight-proportional inclusion inside
    * each (the domain-balanced quality-weighted selection: cap every
    * domain at k picks, prefer high-weight docs within the domain).
    * Same bounded shuffle as [[quotaCap]]: mappers keep k candidates per
    * group, the group never fully shuffles. Output: (groupCol, idCol,
    * key_q, rank ∈ 1..k). */
  def weightedSamplePerGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      weightCol: String,
      k: Int,
      salt: String
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val h = TextHash.hmod(concat(col(idCol).cast("string"), lit(":" + salt)))
    val keyq = round(
      log((h + 1).cast("double") / lit(TextHash.P.toDouble)) /
        col(weightCol).cast("double") * lit(Dsir.LrScale)).cast("long")
    // same explicit null-id exclusion as [[weightedSample]]
    val keyed = df.where(col(weightCol) > 0 && col(idCol).isNotNull)
      .select(col(groupCol), col(idCol).cast("long").as("__id"),
        keyq.as("__k"))
    keyed.groupBy(groupCol)
      .agg(call_function("graft_topk",
        col("__k").cast("double"), col("__id"), lit(k)).as("top"))
      .select(col(groupCol), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col(groupCol), col("t.id").as(idCol),
        col("t.score").cast("long").as("key_q"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Temperature-scaled domain mix (square-root temperature, τ=2): keep
    * each stratum at a rate proportional to the SQUARE ROOT of its relative
    * size — the standard rebalancing that upweights small domains/languages
    * without flattening the mix entirely (multilingual-pretraining
    * practice). The largest stratum keeps 100%; a stratum 1/4 its size
    * keeps ~50% of a proportional share… i.e. rates are
    * `floor(100·sqrt(n/max))` percent, drawn by the same salted per-row
    * hash as [[stratifiedSample]] so the draw is reproducible row-by-row.
    *
    * sqrt (IEEE correctly-rounded in every engine) is used rather than an
    * arbitrary pow(x, 1/τ) so the rate computation is bit-identical
    * cross-engine. Rates are clamped to ≥1%: a stratum smaller than
    * max/10000 would otherwise floor to a 0% rate and vanish entirely —
    * the opposite of the upweight-small-domains intent. Rows with a NULL
    * stratum are dropped (inner join on the stratum key, SQL equality
    * semantics); route them to an explicit "unknown" stratum first if
    * they must survive. Scale shape: the per-stratum rate table is one
    * tiny aggregate broadcast back over the corpus — the corpus itself is
    * only scanned and filtered, never shuffled. Returns the kept rows
    * with a `rate_pct` column attached. */
  def temperatureMix(
      df: DataFrame,
      stratumCol: String,
      idCol: String,
      salt: String = "temp"
  ): DataFrame = {
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
    val maxN = counts.agg(max(col("__n")).as("__mx"))
    val rates = counts.crossJoin(broadcast(maxN))
      .select(col(stratumCol),
        greatest(lit(1),
          floor(lit(100) * sqrt(col("__n").cast("double") / col("__mx").cast("double")))
            .cast("int")).as("rate_pct"))
    df.join(broadcast(rates), stratumCol)
      .where(pctHash(col(idCol), salt) < col("rate_pct"))
  }

  /** Sequence packing: assign each document to a fixed-size token window
    * (`bin` = which training sequence it packs into) by the EXCLUSIVE
    * running token total in deterministic id order — greedy first-fit in
    * one deterministic order, the standard pretraining packer.
    *
    * A global running sum is the same distributed problem as gap-free row
    * numbers ([[graft.ops.RowNumbers]]): `sum().over(Window.orderBy(id))`
    * collapses to ONE partition. Same cure: range-sort (eagerly
    * localCheckpointed — range partition boundaries are sampled with a
    * per-action seed, so the sort must be frozen before multi-pass use),
    * per-partition token totals +
    * driver-side exclusive prefix sum (O(#partitions)), then a
    * partition-local cumulative window. */
  def packSequences(
      df: DataFrame,
      idCol: String,
      tokenCol: String,
      windowTokens: Long,
      binCol: String = "bin"
  ): DataFrame = {
    val pid = "__graft_pack_pid"
    val mono = "__graft_pack_mono"
    // One eager localCheckpoint (not persist + lazy reuse): the range sort
    // with its per-action sampled boundaries and the pid/mono columns are
    // materialized exactly once, so the stats collect and the output action
    // read identical partitioning, and there is no separately pinned cache
    // entry to leak — the checkpoint blocks are reclaimed by Spark's
    // ContextCleaner once the returned frame is unreferenced.
    val work = df.sort(col(idCol))
      .withColumn(pid, spark_partition_id())
      .withColumn(mono, monotonically_increasing_id())
      .cutLineage()
    val stats = work.groupBy(col(pid))
      .agg(sum(col(tokenCol).cast("long")).as("toks"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    if (stats.isEmpty) return df.withColumn(binCol, lit(null).cast("long"))
    var acc = 0L
    val offsets: Map[Int, Long] = stats.map { case (p, t) =>
      val o = acc; acc += t; p -> o
    }.toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(pid)).orderBy(col(mono))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    work
      .withColumn("__graft_pack_cum",
        sum(col(tokenCol).cast("long")).over(w) +
          element_at(typedLit(offsets), col(pid)) - col(tokenCol).cast("long"))
      .withColumn(binCol, floor(col("__graft_pack_cum") / lit(windowTokens)).cast("long"))
      .drop(pid, mono, "__graft_pack_cum")
  }

  /** Strided token-window chunking: split each document's token array into
    * training sequences of at most `maxLen` tokens, window starts every
    * `stride` tokens (stride < maxLen ⇒ overlapping BERT-style contexts,
    * stride = maxLen ⇒ disjoint blocks). The per-doc counterpart of
    * [[packSequences]] (which concatenates ACROSS docs): long documents
    * become several sequences, short ones stay whole.
    *
    * `keepTail = true` (default) emits the final short window of a long
    * doc and keeps sub-`maxLen` docs as their own single window;
    * `keepTail = false` emits only windows with exactly `maxLen` tokens
    * (sub-`maxLen` docs produce nothing).
    *
    * Window count is pure integer arithmetic (`div`, never double
    * division — a float `ceil` can round across an integer boundary and
    * disagree between engines): with n tokens,
    * `keepTail` ⇒ `1 + max(0, min((n − maxLen + stride − 1) div stride,
    * (n − 1) div stride))` (the second bound keeps every start inside the
    * doc when stride > maxLen), else
    * `n ≥ maxLen ? 1 + (n − maxLen) div stride : 0`.
    *
    * Narrow transform: one posexplode of the per-doc start list, `slice`
    * per window — no shuffle, fan-out bounded by each doc's own length.
    * 100 TB posture: output rows ≈ corpus tokens / stride, produced
    * streaming per input partition. */
  def chunkWindows(
      df: DataFrame,
      tokensCol: String,
      maxLen: Int,
      stride: Int,
      keepTail: Boolean = true
  ): DataFrame = {
    require(maxLen > 0 && stride > 0, "chunkWindows: maxLen, stride > 0")
    val n = size(col(tokensCol))
    // keepTail start rule: advance while the previous window was truncated
    // at maxLen AND the next start still lands inside the doc (the second
    // bound matters when stride > maxLen — sampled windows with gaps).
    // Both bounds are integer `div`; the negative-operand div divergence
    // between engines (truncate vs floor) is neutralized by the
    // least/greatest clamp, which both sides of the oracle mirror.
    val extra = least(
      expr(s"(size($tokensCol) - $maxLen + $stride - 1) div $stride"),
      expr(s"(size($tokensCol) - 1) div $stride"))
    val nWin =
      if (keepTail) lit(1) + greatest(lit(0L), extra)
      else when(n >= maxLen,
        lit(1) + expr(s"(size($tokensCol) - $maxLen) div $stride"))
        .otherwise(lit(0L))
    // sequence(0, -1) would generate a DESCENDING [0, -1] — guard the
    // zero-window case (keepTail = false, short doc) to an empty list,
    // which posexplode then drops entirely
    df.withColumn("__graft_win_starts",
        when(nWin > 0, transform(sequence(lit(0L), nWin - 1), w => w * stride))
          .otherwise(array().cast("array<bigint>")))
      .select(col("*"),
        posexplode(col("__graft_win_starts")).as(Seq("win_idx", "win_start")))
      .withColumn("win_tokens",
        slice(col(tokensCol), col("win_start").cast("int") + 1, lit(maxLen)))
      .withColumn("win_len", size(col("win_tokens")).cast("bigint"))
      .drop("__graft_win_starts")
  }

  /** Finer-grained die roll for mixture realization: salted per-row hash
    * in [0, 1e6) — parts-per-million, so a fractional epoch rate is
    * honored to 1e-6 rather than [[pctHash]]'s percent granularity. */
  def ppmHash(idCol: Column, salt: String): Column =
    TextHash.hmod(concat(idCol.cast("string"), lit(":" + salt))) % 1000000L

  /** SQL fragment mirror of [[ppmHash]]. */
  def ppmHashSql(idE: String, salt: String): String =
    s"(${TextHash.hmodSql(s"($idE :: VARCHAR || ':$salt')")} % 1000000)"

  /** Mixture PLAN (the Llama-class "domain weights → epochs" table):
    * given per-source integer weight PARTS (target share = parts/Σparts —
    * integers, so the plan is exact in any engine; no float weight sums)
    * and a total token `budget`, compute per source
    *
    *   target_tokens = budget·parts / Σparts        (integer division)
    *   epochs        = target_tokens / avail_tokens (full passes)
    *   frac_ppm      = remainder·1e6 / avail_tokens (partial-pass rate)
    *
    * — all bigint arithmetic, no doubles anywhere. A source with
    * avail ≥ target repeats 0 times and samples down; a small prized
    * source (books, wiki) gets epochs ≥ 1 plus a fractional pass — the
    * published pretraining posture for upsampling curated domains.
    *
    * `weights` is (sourceCol, "parts"); sources absent from it get no
    * budget (dropped). One partial-agg pass over the corpus for
    * avail_tokens; everything else is arithmetic on the source-count
    * table. Per-source avail_tokens must stay below ~9e12 (the ppm
    * numerator is computed in int64). */
  def mixturePlan(
      corpus: DataFrame,
      sourceCol: String,
      tokenCol: String,
      weights: DataFrame,
      budget: Long
  ): DataFrame = {
    require(budget > 0, "budget must be positive")
    val avail = corpus.groupBy(col(sourceCol))
      .agg(sum(col(tokenCol).cast("long")).as("avail_tokens"))
    val total = weights.agg(sum(col("parts").cast("long")).as("__tp"))
    // `div` (IntegralDivide), never `/`: Spark's `/` on longs is DOUBLE
    // division, which can round up across an integer boundary before a
    // floor/cast — the plan must be exact int64 end to end
    avail.join(weights, sourceCol)
      .crossJoin(broadcast(total))
      .withColumn("target_tokens",
        expr(s"CAST($budget AS BIGINT) * CAST(parts AS BIGINT) div __tp"))
      .withColumn("epochs", expr("target_tokens div avail_tokens"))
      .withColumn("frac_ppm",
        expr("((target_tokens % avail_tokens) * 1000000) div avail_tokens"))
      .select(col(sourceCol), col("avail_tokens"), col("parts"),
        col("target_tokens"), col("epochs"), col("frac_ppm"))
  }

  /** REALIZE a [[mixturePlan]]: every doc of a source repeats once per
    * full epoch (`epoch` = 0..epochs−1) plus one more copy in the partial
    * pass (`epoch` = epochs) iff its salted ppm-hash clears `frac_ppm` —
    * deterministic row-by-row, so reruns and engines agree exactly.
    * Expected realized tokens per source = target_tokens (the fractional
    * draw is per-doc, exact in expectation — the standard posture; exact-
    * token realization would need a pack-style running sum instead).
    * Scale shape: the plan broadcasts; the corpus is scanned once and
    * exploded only by its own epoch count — no shuffle. */
  def mixtureRealize(
      corpus: DataFrame,
      sourceCol: String,
      idCol: String,
      plan: DataFrame,
      salt: String = "mix"
  ): DataFrame = {
    val planCols = plan.select(col(sourceCol), col("epochs"), col("frac_ppm"))
    corpus.join(broadcast(planCols), sourceCol)
      .select(corpus.columns.map(col) :+
        explode(concat(
          when(col("epochs") > 0, sequence(lit(0L), col("epochs") - 1))
            .otherwise(array().cast("array<bigint>")),
          when(ppmHash(col(idCol), salt) < col("frac_ppm"), array(col("epochs")))
            .otherwise(array().cast("array<bigint>")))).as("epoch"): _*)
  }

  /** Purged temporal K-fold assignment — backtest hygiene for
    * time-ordered corpora (the train-before / eval-after cutoff
    * discipline generalized to K folds, with the embargo purge of
    * López de Prado's purged cross-validation): fold boundaries are the
    * EXACT k-quantiles of the integer time column, and for each fold a
    * row is `test` inside it, `purged` within `embargo` time units of its
    * bounds (adjacent-in-time rows leak autocorrelated signal into
    * training), `train` otherwise. Rows with null time are excluded —
    * they can't be placed on the timeline.
    *
    * Returns (fold 0..k−1, role, idCol, tsCol) — one row per (input row,
    * fold); k is small by definition, so the explode is a bounded k×.
    * All arithmetic is exact int64 (quantile picks are DATA values from
    * [[graft.ops.Percentiles.exactGlobal]]; bound sentinels sit at ±2⁶²
    * so the embargo widening can't overflow), deterministic on any
    * engine.
    *
    * Scale shape: the cuts are a broadcast one-row side (k−1 values from
    * the parallel exact-CDF pass); assignment is one narrow map-side
    * pass — no shuffle beyond the percentile computation itself. */
  def temporalEmbargoSplit(
      df: DataFrame,
      idCol: String,
      tsCol: String, // integer time units (e.g. epoch micros)
      k: Int,
      embargo: Long
  ): DataFrame = {
    require(k >= 2, "temporalEmbargoSplit: need at least 2 folds")
    require(embargo >= 0, "temporalEmbargoSplit: embargo must be >= 0")
    val Sentinel = 1L << 62
    val cuts = graft.ops.Percentiles.exactGlobal(
      df.select(col(tsCol)), tsCol,
      (1 until k).map(i => s"__c$i" -> i.toDouble / k))
    val bounds = cuts.select(array(
      lit(-Sentinel) +:
        (1 until k).map(i => col(s"__c$i")) :+
        lit(Sentinel): _*).as("__cuts"))
    df.select(col(idCol), col(tsCol))
      .where(col(tsCol).isNotNull)
      .crossJoin(broadcast(bounds))
      .select(col(idCol), col(tsCol),
        explode(sequence(lit(0), lit(k - 1))).as("fold"),
        col("__cuts"))
      .withColumn("__lo", element_at(col("__cuts"), col("fold") + 1))
      .withColumn("__hi", element_at(col("__cuts"), col("fold") + 2))
      .withColumn("role",
        when(col(tsCol) >= col("__lo") && col(tsCol) < col("__hi"), "test")
          .when(col(tsCol) >= col("__lo") - embargo &&
            col(tsCol) < col("__hi") + embargo, "purged")
          .otherwise("train"))
      .select(col("fold").cast("long").as("fold"), col("role"),
        col(idCol), col(tsCol))
  }
}
