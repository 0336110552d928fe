package graft.ext

import graft.ops.Lineage.CutOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search over `Array[Float]` columns.
  *
  * Scale design:
  *   - `bruteForceTopK` broadcasts the (small) query set against the corpus
  *     — one map-side pass, no corpus shuffle; per-partition top-k would be
  *     the next refinement (Spark's sort-based window on (query, -cos) with
  *     AQE handles 100 TB as a range-partitioned sort over q×k rows only
  *     after the cheap filter).
  *   - `lshBucket` assigns every vector a signed-random-projection bucket in
  *     a single narrow pass; ANN then joins query buckets to corpus buckets
  *     (shuffle keyed by bucket — bounded by bucket occupancy, no n²).
  *
  * Determinism: float sums are order-dependent and Spark's decimal addition
  * re-types `decimal(38,15)+decimal(38,15)` to `decimal(38,14)` (precision
  * cap) — so dot products are accumulated as EXACT int64 sums of
  * 1e15-quantized element products (round-half-away in every engine), and
  * hyperplanes use small integer coefficients on 1e7-quantized vectors.
  */
object Similarity {

  /** Quantization scale for element products (1e15: 64 products of |v|≤1
    * stay far inside int64). */
  val DotScale = 1e15

  /** Exact scaled dot product of two float-array columns: int64 sum of
    * round(x*y*1e15). Divide by [[DotScale]] for the real value.
    *
    * The codegen'd `graft_dot_scaled` kernel
    * ([[graft.plans.DotScaledExpression]]): the declarative HOF form is
    * interpreted (per-element lambda dispatch), which dominates
    * candidate-pair joins that evaluate one dot per pair. Its spec is
    * [[dotScaledDeclarative]] (DotNativeSpec, KernelIdentitySpec). */
  def dotScaled(a: Column, b: Column): Column =
    call_function("graft_dot_scaled", a, b)

  /** The readable spec of [[dotScaled]] (also the oracle-generation
    * template): interpreted HOF pipeline, same values bit-for-bit. */
  def dotScaledDeclarative(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b,
        (x, y) => round(x.cast("double") * y.cast("double") * lit(DotScale)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Exact double dot product recovered from the scaled sum. */
  def dotDecimal(a: Column, b: Column): Column =
    dotScaled(a, b).cast("double") / lit(DotScale)

  /** Vector L2 norm via the same exact-integer path (elementwise x·x is
    * exactly the self dot product, so the native kernel serves here too). */
  def normDecimal(a: Column): Column =
    sqrt(dotScaled(a, a).cast("double") / lit(DotScale))

  /** Rank scored candidates to (q_id, c_id, rank, cosine), keeping k per
    * query under the total order (cosine desc, c_id asc).
    *
    * Uses the bounded `graft_topk` aggregate: partial aggregation keeps
    * ≤ k candidates per mapper per query, so the shuffle carries
    * mappers × k rows instead of EVERY scored candidate, which a window
    * formulation would shuffle to rank. Output equals that window over
    * the rows with non-null score and id (TopKAggregateSpec): the
    * aggregate skips null-score/null-id rows in update, and NaN scores
    * rank first (Spark sorts NaN above all doubles; the buffer uses
    * java.lang.Double.compare). */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("q_id")
      .agg(call_function("graft_topk", col("cosine"), col("c_id"), lit(k)).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.id").as("c_id"),
        (col("pos") + 1).as("rank"), col("t.score").as("cosine"))

  /** Brute-force cosine top-k: for each query vector (small set, broadcast),
    * rank all corpus vectors by cosine, keep k. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int
  ): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", normDecimal(col("q_vec")))
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", normDecimal(col("c_vec")))
    val scored = c.crossJoin(broadcast(q))
      .where(col("c_id") =!= col("q_id"))
      .withColumn("cosine",
        dotDecimal(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
    rankTopK(scored, k)
  }

  /** Recall@k of an approximate result set against the exact one — the
    * evaluation leg of every ANN index (IVF/LSH/PQ papers all report
    * recall@k; an index without its recall number is untunable: nProbe /
    * bands / code size are chosen by sweeping THIS metric). Both inputs
    * are (q_id, c_id, …) result frames (ranks/scores ignored — recall is
    * set overlap). Output per query: (q_id, n_exact, n_hit, recall_ppm)
    * with exact truncating-ppm arithmetic, oracle-replayable.
    *
    * Scale shape: both sides are result-sized (queries × k), never
    * corpus-sized — the join and groupBy touch only the top-k frames,
    * so evaluating recall costs no more than the searches themselves. */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame =
    // recall is SET overlap: dedupe both sides (result-sized — free)
    // so a caller passing duplicate (q, c) pairs can't inflate counts
    // through the join fan-out
    exact.select(col("q_id"), col("c_id")).distinct()
      .join(approx.select(col("q_id"), col("c_id")).distinct()
          .withColumn("__hit", lit(1L)),
        Seq("q_id", "c_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(col("q_id"), col("n_exact"), col("n_hit"),
        expr("(n_hit * 1000000) div n_exact").as("recall_ppm"))

  /** Number of signed-random-projection hyperplanes (bucket bits). 6 bits =
    * 64 buckets — sized so testdata buckets hold useful candidate sets; at
    * 100 TB raise toward log2(n/target_bucket_size). */
  val NumPlanes = 6

  /** Deterministic small-int hyperplane coefficient c(i,j) ∈ [-3,3]. */
  def coeff(i: Int, j: Int): Long = ((i * 37 + j * 101) % 7) - 3

  /** SRP signature width (bits) and the vector dimension it covers. */
  val SrpMaxBits = 60
  val SrpMaxDim = 64

  /** Full-rank deterministic SRP hyperplane coefficients in [-3, 3],
    * derived from md5("srp:i:j") at class-load time — unlike [[coeff]]
    * (period 7 in the plane index: plane i ≡ plane i+7, fine for 6
    * bucketing planes, degenerate for a 60-bit signature). A Scala
    * CONSTANT, so the DuckDB oracle embeds the identical literals — one
    * source of truth, no cross-engine hash replication needed. */
  lazy val srpCoeffs: IndexedSeq[IndexedSeq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until SrpMaxBits).map { i =>
      (0 until SrpMaxDim).map { j =>
        val h = md.digest(s"srp:$i:$j".getBytes("UTF-8"))
        (java.lang.Long.parseLong(
          h.take(4).map(b => f"$b%02x").mkString, 16) % 7L) - 3L
      }
    }
  }

  /** Signed-random-projection signature: 60 sign bits of exact int64
    * dot products between the 1e7-quantized vector and the [[srpCoeffs]]
    * hyperplanes — the binary embedding code that makes vector near-dup
    * searchable EXACTLY at corpus scale through
    * [[graft.ext.Dedup.hammingNeighbors]] (Charikar 2002: P[bit differs]
    * = angle/π, so near-identical vectors land within a small Hamming
    * radius). Identical vectors collide at distance 0 by construction.
    * Production planes would be Gaussian; these are small-int and
    * deterministic so both engines reproduce signatures bit-for-bit —
    * the same trade every hash in this codebase makes. The codegen'd
    * `graft_srp` kernel over [[SrpMaxDim]]-element vectors (54 µs ->
    * sub-µs per vector against [[srpDeclarative]], its spec). */
  def srpSignature(vec: Column): Column = call_function("graft_srp", vec)

  /** The declarative spec of the `graft_srp` kernel (SrpNativeSpec,
    * KernelIdentitySpec): per-plane HOF dot products. A NULL vector
    * gives NULL, as in the kernel. */
  private[graft] def srpDeclarative(vec: Column): Column = {
    val quantized = transform(vec, x => round(x.cast("double") * lit(1e7)).cast("long"))
    val dots = (0 until SrpMaxBits).map { i =>
      val coeffs = array((0 until SrpMaxDim).map(j => lit(srpCoeffs(i)(j))): _*)
      aggregate(zip_with(quantized, coeffs, (x, c) => x * c), lit(0L), (a, x) => a + x)
    }
    when(vec.isNotNull, dots.zipWithIndex.map { case (d, i) =>
      when(d >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _))
  }

  /** LSH bucket id: sign bits of integer dot products between the
    * 1e7-quantized vector and NumPlanes fixed hyperplanes. Narrow, exact
    * int64 math — byte-identical across engines. */
  def lshBucket(vec: Column, dim: Int): Column = {
    val quantized = transform(vec, x => round(x.cast("double") * lit(1e7)).cast("long"))
    val dots = (0 until NumPlanes).map { i =>
      val coeffs = array((0 until dim).map(j => lit(coeff(i, j))): _*)
      aggregate(zip_with(quantized, coeffs, (x, c) => x * c), lit(0L), (a, x) => a + x)
    }
    dots.zipWithIndex.map { case (d, i) =>
      when(d >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Approximate NN: candidates share the query's bucket; exact cosine +
    * top-k within candidates only. Falls back to fewer-than-k results when a
    * bucket is sparse (standard ANN recall tradeoff; multi-probe = join on
    * neighboring buckets would raise recall). */
  def annTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      k: Int
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .withColumn("bucket", lshBucket(col("c_vec"), dim))
      .withColumn("c_norm", normDecimal(col("c_vec")))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("bucket", lshBucket(col("q_vec"), dim))
      .withColumn("q_norm", normDecimal(col("q_vec")))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where(col("c_id") =!= col("q_id"))
      .withColumn("cosine",
        dotDecimal(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
    rankTopK(scored, k)
  }

  /** Multi-probe ANN: each query also probes every bucket at Hamming
    * distance 1 from its own (flip one hyperplane sign) — the standard
    * recall lift for sign-LSH, since a near neighbor most often differs in
    * exactly one marginal plane. The corpus stays bucketed ONCE; only the
    * (small, broadcast) query side explodes ×(NumPlanes+1), so cost scales
    * with probes × queries, never with the corpus. Each corpus vector lives
    * in exactly one bucket and probe buckets are distinct, so no candidate
    * dedup is needed. */
  def annTopKMultiProbe(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      k: Int
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
      .withColumn("bucket", lshBucket(col("c_vec"), dim))
      .withColumn("c_norm", normDecimal(col("c_vec")))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("home", lshBucket(col("q_vec"), dim))
      .withColumn("q_norm", normDecimal(col("q_vec")))
      .withColumn("bucket", explode(array(
        col("home") +: (0 until NumPlanes).map(i =>
          col("home").bitwiseXOR(lit(1L << i))): _*)))
      .drop("home")
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where(col("c_id") =!= col("q_id"))
      .withColumn("cosine",
        dotDecimal(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
    rankTopK(scored, k)
  }

  /** IVF-style ANN — the other scale path: a fixed codebook of `nCells`
    * centroid vectors partitions the corpus by nearest centroid; queries
    * probe the `nProbe` nearest cells and rank exactly within them.
    *
    * Training is deterministic here (the codebook is the `nCells`
    * lowest-id vectors — a seeded k-means would slot in identically); what
    * matters for scale is the shape: assignment is a narrow pass against a
    * broadcast codebook, the search joins only (cell, query-probe) pairs,
    * and recall/cost tunes via nProbe without touching the stored layout. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      codebook: Option[DataFrame] = None // (cell_id, cell_vec); e.g. kmeansCodebook
  ): DataFrame = {
    val cells = codebook.getOrElse(
      corpus.orderBy(col(idCol).asc).limit(nCells)
        .select(col(idCol).as("cell_id"), col(vecCol).as("cell_vec")))
      .withColumn("cell_norm", normDecimal(col("cell_vec")))

    // nearest-`keep` cells per vector. A window formulation sorts
    // rows×cells within each vector's partition; the graft_topk aggregate
    // reduces each vector's nCells scored copies to a ≤keep buffer
    // map-side, so the shuffle carries one row per vector.
    def assign(df: DataFrame, id: String, vec: String, norm: String, keep: Int): DataFrame =
      df.crossJoin(broadcast(cells))
        .withColumn("cell_cos",
          dotDecimal(col(vec), col("cell_vec")) / (col(norm) * col("cell_norm")))
        .groupBy(col(id), col(vec), col(norm))
        .agg(call_function("graft_topk", col("cell_cos"), col("cell_id"), lit(keep)).as("top"))
        .select(col(id), col(vec), col(norm), explode(col("top.id")).as("cell_id"))

    val c = assign(
      corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
        .withColumn("c_norm", normDecimal(col("c_vec"))),
      "c_id", "c_vec", "c_norm", keep = 1)
    val q = assign(
      queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
        .withColumn("q_norm", normDecimal(col("q_vec"))),
      "q_id", "q_vec", "q_norm", keep = nProbe)

    val scored = c.join(broadcast(q), Seq("cell_id"))
      .where(col("c_id") =!= col("q_id"))
      .withColumn("cosine",
        dotDecimal(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
    rankTopK(scored, k)
  }

  /** Seeded k-means codebook training for IVF — the production replacement
    * for the deterministic lowest-id placeholder codebook.
    *
    * Fully deterministic Lloyd iterations: init = the nCells lowest-id
    * vectors, assignment = max cosine (exact int64 dot products, lowest
    * cell-id tiebreak), update = exact per-dimension decimal means
    * ([[centroids]] — map-side partial sums, no explode). Per iteration:
    * one narrow assignment pass against a broadcast codebook + one centroid
    * aggregation; only the nCells×dim codebook itself is ever collected
    * (codebooks are small by definition — that's the point of IVF). Empty
    * cells keep their previous centroid. Same result on every run/engine.
    *
    * Returns (cell_id, cell_vec float array) for [[ivfTopK]]'s `codebook`. */
  def kmeansCodebook(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      nCells: Int,
      dim: Int,
      iterations: Int = 3
  ): DataFrame = {
    val spark = corpus.sparkSession
    val init = corpus.orderBy(col(idCol).asc).limit(nCells)
      .select(col(idCol).as("cell_id"), col(vecCol).as("cell_vec"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    var book: Array[(Long, Array[Float])] = init
    def bookDf(b: Array[(Long, Array[Float])]): DataFrame = {
      import spark.implicits._
      b.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("cell_id", "cell_vec")
        .withColumn("cell_vec", col("cell_vec").cast("array<float>"))
    }
    for (_ <- 0 until iterations) {
      val cells = bookDf(book).withColumn("cell_norm", normDecimal(col("cell_vec")))
      val assigned = corpus.select(col(idCol).as("v_id"), col(vecCol).as("vec"))
        .withColumn("norm", normDecimal(col("vec")))
        .crossJoin(broadcast(cells))
        .withColumn("cos",
          dotDecimal(col("vec"), col("cell_vec")) / (col("norm") * col("cell_norm")))
        // nearest cell, lowest-id tiebreak: max of (cos, -cell_id)
        .groupBy(col("v_id"), col("vec"))
        .agg(max(struct(col("cos"), (-col("cell_id")).as("neg"),
          col("cell_id"))).as("best"))
        .select(col("vec"), col("best.cell_id").as("cell_id"))
      val means = centroids(assigned, "vec", "cell_id", dim).collect()
      val updated = means.groupBy(_.getLong(0)).map { case (cid, rows) =>
        val arr = new Array[Float](dim)
        rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2).toFloat)
        cid -> arr
      }
      book = book.map { case (cid, prev) => cid -> updated.getOrElse(cid, prev) }
    }
    bookDf(book)
  }

  /** Nearest-codebook-cell assignment: (idCol, cell_id) for every corpus
    * vector — the IVF partitioning step exposed as its own operator.
    *
    * Scale shape: one narrow pass against the broadcast codebook scores
    * every (vector, cell) pair map-side; the `max(struct(cos, -cell_id))`
    * aggregate then reduces each vector's nCells scored copies with full
    * map-side combine, so the single shuffle carries ONE row per vector —
    * never rows × cells. Tiebreak on equal cosine is lowest cell_id,
    * matching [[ivfTopK]]'s rank-1 assignment. */
  def assignCells(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      nCells: Int,
      codebook: Option[DataFrame] = None // (cell_id, cell_vec); e.g. kmeansCodebook
  ): DataFrame = {
    val cells = codebook.getOrElse(
      corpus.orderBy(col(idCol).asc).limit(nCells)
        .select(col(idCol).as("cell_id"), col(vecCol).as("cell_vec")))
      .withColumn("cell_norm", normDecimal(col("cell_vec")))
    corpus.select(col(idCol), col(vecCol).as("__vec"))
      .withColumn("__norm", normDecimal(col("__vec")))
      .crossJoin(broadcast(cells))
      .withColumn("__cos",
        dotDecimal(col("__vec"), col("cell_vec")) / (col("__norm") * col("cell_norm")))
      .groupBy(col(idCol))
      .agg(max(struct(col("__cos"), (-col("cell_id")).as("neg"),
        col("cell_id"))).as("best"))
      .select(col(idCol), col("best.cell_id").as("cell_id"))
  }

  /** Cluster-balanced diversity sample: at most `quota` vectors per
    * semantic cluster, drawn by deterministic salted-hash order within the
    * cluster — the corpus-curation step that keeps a capped, spread-out
    * subset instead of letting dense regions of embedding space dominate
    * the sample (the embedding-space analogue of [[Sampling.quotaCap]]'s
    * domain-mix balancing, with clusters in place of metadata domains).
    *
    * Composition = [[assignCells]] (one row per vector shuffled) then the
    * bounded per-cell quota draw ([[Sampling.quotaCap]] — `graft_topk`
    * keeps ≤ quota candidates per mapper per cell, so a 100 TB dense
    * cluster never fully shuffles). Returns (cell_id, idCol, rank ∈
    * 1..quota); same salt always reproduces the same sample. */
  def diversitySample(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      nCells: Int,
      quota: Int,
      salt: String = "diversity",
      codebook: Option[DataFrame] = None
  ): DataFrame =
    Sampling.quotaCap(
      assignCells(corpus, vecCol, idCol, nCells, codebook),
      "cell_id", idCol, quota, salt)

  /** Symmetric per-vector int8 quantization: `q_i = round(x_i·127/maxabs)`
    * with the per-vector `scale = maxabs/127` kept alongside — the standard
    * 4× storage compression for an at-scale embedding store (dequantize as
    * `q_i·scale`; reconstruction error ≤ scale/2 per element). A narrow,
    * codegen-friendly transform: two HOF passes per row (max-abs, then the
    * quantized map), no shuffle, no state.
    *
    * Determinism: round() is half-away-from-zero in both Spark (HALF_UP on
    * the decimal magnitude) and DuckDB, and the inputs to it are doubles
    * computed by the same IEEE expression — so quantized codes are
    * byte-identical cross-engine. Zero vectors keep scale 0 and all-zero
    * codes (guarded division). */
  def quantizeInt8(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val maxAbs = aggregate(col(vecCol), lit(0.0d),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    df.select(col(idCol), col(vecCol))
      .withColumn("__mx", maxAbs)
      .select(
        col(idCol),
        (col("__mx") / lit(127.0d)).as("scale"),
        when(col("__mx") === 0.0d,
          transform(col(vecCol), _ => lit(0)))
          .otherwise(transform(col(vecCol),
            x => round(x.cast("double") * lit(127.0d) / col("__mx")).cast("int")))
          .as("q"))
  }

  /** Product-quantization codebook, deterministic placeholder flavor: for
    * each of `m` subspaces, the sub-slices of the `ksub` lowest-id vectors,
    * coded 0..ksub-1 in id order — the trainable-free analogue of
    * [[ivfTopK]]'s placeholder codebook, and the oracle-expressible tier.
    * Production training swaps in [[pqCodebookTrained]] with identical
    * schema `(subspace, code, code_vec)`. */
  def pqCodebook(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int,
      ksub: Int,
      dim: Int
  ): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__src"))
    corpus.orderBy(col(idCol).asc).limit(ksub)
      .select(col(idCol).as("__src"), col(vecCol).as("__v"))
      .withColumn("code", row_number().over(w) - 1) // ksub rows — tiny window
      .select(col("code"), explode(array((0 until m).map(b =>
        struct(lit(b).as("subspace"),
          slice(col("__v"), b * sub + 1, sub).as("code_vec"))): _*)).as("e"))
      .select(col("e.subspace").as("subspace"), col("code"), col("e.code_vec").as("code_vec"))
  }

  /** Trained PQ codebook: an independent seeded k-means ([[kmeansCodebook]])
    * per subspace over the corpus's sub-slices, codes densified 0..ksub-1.
    * Deterministic like everything else here; at 100 TB train on a sample
    * (pass a sampled `corpus`) — the codebook is m×ksub×(dim/m) floats
    * regardless of corpus size, which is the entire point of PQ. */
  def pqCodebookTrained(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int,
      ksub: Int,
      dim: Int,
      iterations: Int = 3
  ): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("cell_id"))
    (0 until m).map { b =>
      kmeansCodebook(
        corpus.select(col(idCol), slice(col(vecCol), b * sub + 1, sub).as("__sub")),
        "__sub", idCol, ksub, sub, iterations)
        .withColumn("code", row_number().over(w) - 1)
        .select(lit(b).as("subspace"), col("code"), col("cell_vec").as("code_vec"))
    }.reduce(_ unionByName _)
  }

  /** PQ-encode the corpus: each vector becomes `m` small codes (one byte
    * each at ksub ≤ 256 — a 64-dim float32 embedding compresses 32×) plus
    * the reconstruction norm used by asymmetric-distance search.
    *
    * Encoding is canonical L2 argmin per subspace, computed in exact
    * scaled-int arithmetic: argmin |x−c|² = argmax (2·dot(x,c) − |c|²),
    * both terms int64 multiples of 1e-15 via [[dotScaled]] — so codes are
    * byte-identical cross-engine (ties → lowest code). Scale shape: the
    * codebook broadcasts; each vector explodes to its m subvectors IN
    * PLACE (same partition), the per-(vector,subspace) argmax partial-
    * aggregates before the only shuffle, which carries one row per
    * vector. */
  def pqEncode(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      codebook: DataFrame,
      m: Int,
      dim: Int
  ): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    val cb = codebook.withColumn("__c2", dotScaled(col("code_vec"), col("code_vec")))
    corpus
      .select(col(idCol), explode(array((0 until m).map(b =>
        struct(lit(b).as("subspace"),
          slice(col(vecCol), b * sub + 1, sub).as("xvec"))): _*)).as("s"))
      .select(col(idCol), col("s.subspace").as("subspace"), col("s.xvec").as("xvec"))
      .join(broadcast(cb), "subspace")
      .withColumn("__obj", lit(2L) * dotScaled(col("xvec"), col("code_vec")) - col("__c2"))
      .groupBy(col(idCol), col("subspace"))
      .agg(max(struct(col("__obj"), (-col("code")).as("negc"),
        col("code"), col("__c2"))).as("best"))
      .groupBy(col(idCol))
      .agg(
        array_sort(collect_list(struct(col("subspace"), col("best.code").as("code"))))
          .as("__sc"),
        sum(col("best.__c2")).as("__r2"))
      .select(col(idCol),
        transform(col("__sc"), s => s.getField("code")).as("codes"),
        sqrt(col("__r2").cast("double") / lit(DotScale)).as("recon_norm"))
  }

  /** PQ asymmetric-distance top-k (the "PQ" of IVF-PQ): rank the ENCODED
    * corpus against full-precision queries without decoding — each query
    * precomputes its m×ksub partial-dot table, and a candidate's score is
    * m table lookups summed: cosine_pq = Σ_b dot(q_b, c_{b,code_b})
    * / (|q|·|x̃|), the exact cosine against the reconstruction x̃.
    *
    * Scale shape: the query tables (queries × m × ksub int64 entries)
    * broadcast; each encoded corpus row explodes its m codes in place,
    * joins the table hash-side, and partial-aggregates the per-(query,
    * candidate) sum BEFORE the shuffle — so the exchange carries one row
    * per (query, candidate) and the final ranking is the bounded
    * `graft_topk` aggregate. Compose with [[assignCells]] / [[ivfTopK]]'s
    * cell restriction to probe a fraction of the corpus at 100 TB — this
    * operator is the within-cell scorer. All arithmetic is exact scaled
    * int64 (oracle-verified). */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      m: Int = 8,
      ksub: Int = 16,
      dim: Int = 64,
      codebook: Option[DataFrame] = None
  ): DataFrame = {
    val sub = dim / m
    val cb = codebook.getOrElse(pqCodebook(corpus, vecCol, idCol, m, ksub, dim))
    val enc = pqEncode(
      corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec")),
      "c_vec", "c_id", cb, m, dim)
    val qsub = queries
      .select(col(idCol).as("q_id"), explode(array((0 until m).map(b =>
        struct(lit(b).as("subspace"),
          slice(col(vecCol), b * sub + 1, sub).as("qvec"))): _*)).as("s"))
      .select(col("q_id"), col("s.subspace").as("subspace"), col("s.qvec").as("qvec"))
    val table = qsub.join(broadcast(cb), "subspace")
      .select(col("q_id"), col("subspace"), col("code"),
        dotScaled(col("qvec"), col("code_vec")).as("pd"))
    val qn = queries.select(col(idCol).as("q_id"),
      normDecimal(col(vecCol)).as("q_norm"))
    val scored = enc
      .select(col("c_id"), col("recon_norm"),
        posexplode(col("codes")).as(Seq("subspace", "code")))
      .join(broadcast(table), Seq("subspace", "code"))
      .groupBy(col("q_id"), col("c_id"), col("recon_norm"))
      .agg(sum(col("pd")).as("sd"))
      .join(broadcast(qn), "q_id")
      .where(col("c_id") =!= col("q_id"))
      .withColumn("cosine",
        col("sd").cast("double") / lit(DotScale) / (col("q_norm") * col("recon_norm")))
    rankTopK(scored, k)
  }

  /** IVF-PQ composed search — the production-standard ANN layout (the
    * FAISS `IVFx,PQy` index family): a coarse IVF codebook partitions the
    * corpus into cells, the corpus is PQ-encoded once (m one-byte codes +
    * a reconstruction norm per vector — 32× smaller than float32 at
    * m=8/dim=64), and each query ranks by asymmetric distance ONLY within
    * its `nProbe` nearest cells. [[ivfTopK]] bounds WHAT is scored,
    * [[pqTopK]] bounds what scoring COSTS; composed, a 100 TB corpus
    * answers a query by streaming nProbe/nCells of its encoded (not raw)
    * bytes.
    *
    * Scale shape: cell assignment and PQ encoding each shuffle one row
    * per corpus vector (one-time index build; a production loop persists
    * both as the index). Per query batch: the probe set (queries × nProbe
    * rows) and the ADC tables (queries × m × ksub int64 entries)
    * broadcast; the candidate set forms by an equi join of the encoded
    * corpus against the probe set ON cell_id — bounded by probed-cell
    * occupancy, never the corpus — then explodes its m codes in place,
    * probes the ADC table hash-side, partial-aggregates per (query,
    * candidate), and ranks through the bounded `graft_topk` aggregate.
    *
    * Determinism: every step reuses the exact scaled-int64 arithmetic of
    * its component ([[assignCells]]' max-struct tiebreak, [[pqEncode]]'s
    * argmax codes) — fully oracle-replayable with the deterministic
    * placeholder codebooks; pass [[kmeansCodebook]]/[[pqCodebookTrained]]
    * for production geometry (identical plan shape). Whitening
    * ([[pcaWhiten]]) composes in front as a preprocessing pass when the
    * space is anisotropic — its eigensolve tier is spec-proven rather
    * than oracle-replayable, so it stays a separate explicit step.
    *
    * Returns (q_id, c_id, rank, cosine_pq) — cosine against the PQ
    * reconstruction, like [[pqTopK]]. */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      m: Int = 8,
      ksub: Int = 16,
      dim: Int = 64,
      ivfBook: Option[DataFrame] = None, // (cell_id, cell_vec)
      pqBook: Option[DataFrame] = None   // (subspace, code, code_vec)
  ): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(nProbe > 0 && nProbe <= nCells, "need 0 < nProbe <= nCells")
    val sub = dim / m
    val cellsRaw = ivfBook.getOrElse(
      corpus.orderBy(col(idCol).asc).limit(nCells)
        .select(col(idCol).as("cell_id"), col(vecCol).as("cell_vec")))
    val cells = cellsRaw.withColumn("cell_norm", normDecimal(col("cell_vec")))

    // corpus → one cell each (one shuffled row per vector)
    val cAssign = assignCells(
      corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec")),
      "c_vec", "c_id", nCells, Some(cellsRaw))

    // queries → nProbe cells each, via the bounded aggregate
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", normDecimal(col("q_vec")))
    val qProbe = q.crossJoin(broadcast(cells))
      .withColumn("cell_cos",
        dotDecimal(col("q_vec"), col("cell_vec")) / (col("q_norm") * col("cell_norm")))
      .groupBy(col("q_id"))
      .agg(call_function("graft_topk", col("cell_cos"), col("cell_id"), lit(nProbe)).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("cell_id"))

    // PQ index: codes + recon norm per vector, joined with its cell
    val cbb = pqBook.getOrElse(pqCodebook(corpus, vecCol, idCol, m, ksub, dim))
    val enc = pqEncode(
      corpus.select(col(idCol).as("c_id"), col(vecCol).as("c_vec")),
      "c_vec", "c_id", cbb, m, dim)
    val encCell = enc.join(cAssign.select(col("c_id"), col("cell_id")), "c_id")

    // per-query ADC tables (broadcast: queries × m × ksub entries)
    val qsub = queries
      .select(col(idCol).as("q_id"), explode(array((0 until m).map(b =>
        struct(lit(b).as("subspace"),
          slice(col(vecCol), b * sub + 1, sub).as("qvec"))): _*)).as("s"))
      .select(col("q_id"), col("s.subspace").as("subspace"), col("s.qvec").as("qvec"))
    val table = qsub.join(broadcast(cbb.withColumn("__c2",
        dotScaled(col("code_vec"), col("code_vec")))), "subspace")
      .select(col("q_id"), col("subspace"), col("code"),
        dotScaled(col("qvec"), col("code_vec")).as("pd"))
    val qn = queries.select(col(idCol).as("q_id"),
      normDecimal(col(vecCol)).as("q_norm"))

    // candidates = encoded rows of probed cells ONLY, then ADC lookups
    val scored = encCell
      .join(broadcast(qProbe), "cell_id")
      .where(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"), col("recon_norm"),
        posexplode(col("codes")).as(Seq("subspace", "code")))
      .join(broadcast(table), Seq("q_id", "subspace", "code"))
      .groupBy(col("q_id"), col("c_id"), col("recon_norm"))
      .agg(sum(col("pd")).as("sd"))
      .join(broadcast(qn), "q_id")
      .withColumn("cosine",
        col("sd").cast("double") / lit(DotScale) / (col("q_norm") * col("recon_norm")))
    rankTopK(scored, k)
  }

  /** Blocked near-dup pairs: all pairs within a blocking key (e.g. a label
    * or an LSH bucket) with cosine above a threshold.
    *
    * The pair join is SALTED (`saltBuckets`): one side replicates into S
    * salt lanes, the other hashes each row into one lane, so every
    * block's quadratic pair set spreads over S partitions instead of
    * one. Without this the plan is a trap at scale: AQE coalesces the
    * join's shuffle by INPUT size (one row per vector — tiny) and cannot
    * see the within-block pair explosion on the output side, so a
    * thousand-fold blowup runs on a handful of cores (observed: a 200k ×
    * 64-block smoke pinned 4 of 32 cores for half an hour; salted it
    * uses the machine). Replication costs S copies of the (block, id,
    * vec, norm) projection of ONE side — rows, not pairs. Output is
    * identical for any S ≥ 1.
    *
    * The replicated side is repartitioned on (block, salt) at the FULL
    * configured shuffle width (explicit N so AQE cannot re-coalesce it):
    * when the input arrives in few partitions — a cached join output, a
    * coalesced upstream AQE stage — the join would otherwise inherit
    * that width and generate every pair on those few cores. The explicit
    * exchange costs one shuffle of rows (not pairs), the price already
    * declared above. */
  def blockedNearDupPairs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      blockCol: String,
      threshold: Double,
      saltBuckets: Int = 16
  ): DataFrame = {
    require(saltBuckets > 0, "saltBuckets must be positive")
    val width = df.sparkSession.sessionState.conf.numShufflePartitions
    val base = df.select(col(blockCol).as("block"), col(idCol).as("id"),
      col(vecCol).as("vec")).withColumn("norm", normDecimal(col("vec")))
    val a = base.select(col("block"), col("id").as("a_id"),
      col("vec").as("a_vec"), col("norm").as("a_norm"))
      .withColumn("salt", explode(lit((0 until saltBuckets).toArray)))
      .repartition(width, col("block"), col("salt"))
    val b = base.select(col("block"), col("id").as("b_id"),
      col("vec").as("b_vec"), col("norm").as("b_norm"))
      .withColumn("salt", pmod(hash(col("b_id")), lit(saltBuckets)))
    a.join(b, Seq("block", "salt"))
      .where(col("a_id") < col("b_id"))
      .withColumn("cosine",
        dotDecimal(col("a_vec"), col("b_vec")) / (col("a_norm") * col("b_norm")))
      .where(col("cosine") >= threshold)
      .select(col("block"), col("a_id"), col("b_id"), col("cosine"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus in embedding space, then drop
    * every document whose cosine to a LOWER-ID document in the SAME
    * cluster meets `threshold` — near-duplicate MEANING, not
    * near-duplicate bytes, which exact/MinHash dedup cannot see
    * (translations, paraphrases, templated rewrites).
    *
    * keep(i) = ¬∃ j < i in cluster(i) with cos(i,j) ≥ threshold — the
    * paper's one-shot rule (not iterative-greedy), so every row's flag is
    * independent and the whole operator is a self-join, not a sequential
    * scan. Deterministic: exact int64 dot products ([[dotDecimal]]),
    * lowest-cell-id assignment tie-break, lowest-id survivor.
    *
    * Scale shape: [[assignCells]] shuffles ONE row per vector;
    * within-cluster pairing ([[blockedNearDupPairs]]) is the quadratic
    * step THE ALGORITHM ITSELF prescribes — nCells is the paper's knob
    * that bounds expected cluster size (they run 50k clusters on 1.3B
    * embeddings; ~26k vectors/cluster). A skew guard fails fast when a
    * cluster exceeds `maxClusterSize` rather than silently planning an n²
    * join on a degenerate clustering — the default (1M vectors → ~5e11
    * pairs in the worst cluster) sits at the edge of what a large cluster
    * can grind through; a guard defaulted much higher would only fire
    * after the join it exists to prevent is already hopeless. Pass a
    * [[kmeansCodebook]] for real geometry;
    * the default placeholder codebook (lowest-id vectors) keeps the
    * operator fully engine-replayable for the oracle gate.
    *
    * Returns (idCol, cell_id, keep) for every input row — filter
    * `keep` for the survivor set, or join back for audit.
    *
    * The assigned corpus is computed ONCE and persisted: the final plan
    * references it three times (both sides of the pair join plus the
    * output join-back), and each reference would otherwise re-run the
    * corpus × codebook assignment pass — measured 6× wall-clock on the
    * 100k-vector scale smoke before the cache. With `materialize = true`
    * (default) the result is eagerly localCheckpoint'ed and the cache
    * released before returning (the [[graft.ext.Dedup.incrementalNearDupPairs]]
    * scoping discipline, same dynamic-allocation caveat); at 100 TB swap
    * the persist for a scratch-table write of the assignment. */
  def semDedup(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      nCells: Int,
      threshold: Double,
      codebook: Option[DataFrame] = None,
      maxClusterSize: Long = 1000000L,
      materialize: Boolean = true
  ): DataFrame = {
    require(nCells > 0, "nCells must be positive")
    // the assignment pass (corpus × codebook) is the most expensive narrow
    // step and feeds TWO consumers (the skew-guard sizes and the guarded
    // assignment itself) — persist the narrow (id, cell_id) result so the
    // codebook scoring runs once, not once per consumer
    // lineage-cut at the reuse points ONLY on the materializing path:
    // materialize=false exists so callers (and PlanSpec's contract
    // assertions) can see the full un-cut plan
    def cut(df: DataFrame): DataFrame =
      if (materialize) df.cutLineage(eager = false)
      else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cells = cut(assignCells(corpus, vecCol, idCol, nCells, codebook))
    // skew guard: per-cell sizes are an nCells-row aggregate — broadcast
    // back, never a window sort over the full assignment
    val sizes = cells.groupBy("cell_id").agg(count(lit(1)).as("__csz"))
    val guarded = cells.join(broadcast(sizes), "cell_id")
      .withColumn("cell_id",
        when(col("__csz") <= maxClusterSize, col("cell_id"))
          .otherwise(raise_error(concat(
            lit(s"graft.semDedup: cluster exceeds $maxClusterSize vectors " +
              "— raise nCells (or maxClusterSize) for this corpus: cell "),
            col("cell_id").cast("string")))))
      .select(col(idCol), col("cell_id"))
    val withCell = cut(corpus.join(guarded, idCol))
    val dropped = blockedNearDupPairs(withCell, vecCol, idCol, "cell_id", threshold)
      .select(col("b_id").as(idCol)).distinct()
      .withColumn("__dup", lit(true))
    val out = withCell.select(col(idCol), col("cell_id"))
      .join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cell_id"),
        col("__dup").isNull.as("keep"))
    if (materialize) out.cutLineage() else out
  }

  /** The interpreted nearest-cell fold — the readable spec the codegen'd
    * `graft_argmax_cell` kernel must reproduce selection-for-selection
    * (DotNativeSpec, KernelIdentitySpec): fold over the literal codebook,
    * keep the best dotScaled/cell_norm on STRICT improvement (id-ordered
    * cells → lowest-id ties; NaN scores never selected). A NULL vector
    * gives NULL, as in the kernel. */
  private[graft] def nearestCellFoldForSpec(vec: Column, cellsLit: Column): Column =
    when(vec.isNotNull, aggregate(
      cellsLit,
      struct(lit(Double.NegativeInfinity).as("s"), lit(-1L).as("id")),
      (acc, cell) => {
        val score = dotScaledDeclarative(vec, cell.getField("_2")).cast("double") /
          cell.getField("_3")
        when(score > acc.getField("s"),
          struct(score.as("s"), cell.getField("_1").as("id"))).otherwise(acc)
      }).getField("id"))

  /** Incremental (steady-state crawl) semantic dedup — SemDeDup composed
    * with the [[graft.ext.Dedup.incrementalNew]] posture: which BATCH
    * vectors near-duplicate the MEANING of content already in the corpus,
    * comparing batch-vs-corpus within shared embedding-space cells only.
    *
    * The 100 TB contract, now for embeddings: the corpus is scanned ONCE
    * and NEVER shuffled — not even one row per vector. Cell assignment
    * runs as a per-row expression against the DRIVER-COLLECTED codebook
    * literal (nCells × dim floats — codebook-class data, the same collect
    * [[kmeansCodebook]] and [[pcaWhiten]] already make): the
    * `graft_argmax_cell` kernel's argmax of the exact scaled-int64 dot
    * over the literal cells, ties to the lowest cell id. The batch's
    * distinct cell ids broadcast into a left-semi probe of that narrow
    * pipeline, the batch itself broadcasts into the within-cell pair
    * join, and the cosine threshold filters map-side. Plan: scan → project → two broadcast joins → filter; the
    * only exchange anywhere belongs to the batch side's tiny distinct.
    *
    * Assignment ranks cells by `dotScaled/cell_norm` — the query-vector
    * norm cancels in the argmax, so it is never computed. Deterministic
    * and oracle-replayable: the oracle ranks by the same expression.
    *
    * A steady-state loop persists the corpus assignment as its index and
    * scans it here instead of re-deriving; this operator IS that
    * derivation, kept narrow so either posture works.
    *
    * Returns (batch_id, corpus_id, cosine) for every within-cell pair
    * meeting `threshold`; ids are assumed distinct across the tables. */
  def semDedupIncremental(
      corpus: DataFrame,
      batch: DataFrame,
      vecCol: String,
      idCol: String,
      nCells: Int,
      threshold: Double,
      codebook: Option[DataFrame] = None // (cell_id, cell_vec)
  ): DataFrame = {
    require(nCells > 0, "nCells must be positive")
    val cellsDf = codebook.getOrElse(
      corpus.orderBy(col(idCol).asc).limit(nCells)
        .select(col(idCol).as("cell_id"), col(vecCol).as("cell_vec")))
    // codebook-class collect; norms via the exact integer path (positive
    // products, so math.round == Spark's HALF_UP round)
    val cellRows: Seq[(Long, Seq[Float], Double)] = cellsDf.collect().toSeq
      .map { r =>
        val id = r.getLong(0)
        val v = r.getSeq[Float](1)
        val n2 = v.map(x => math.round(x.toDouble * x.toDouble * DotScale)).sum
        (id, v, math.sqrt(n2.toDouble / DotScale))
      }
      .sortBy(_._1)
    val cellsLit = typedLit(cellRows) // struct<_1: id, _2: vec, _3: norm>
    // per-row nearest cell: best dotScaled/cell_norm (strict >, cells in
    // id order → lowest-id ties). The codegen'd kernel runs the whole
    // codebook scan in one static call — the interpreted fold
    // ([[nearestCellFoldForSpec]], its spec) dispatches a lambda per CELL
    // per row, which at corpus scale × 256 cells dominated the entire
    // incremental pass
    def nearestCell(vec: Column): Column =
      call_function("graft_argmax_cell", vec, cellsLit)
    val b = batch.select(col(idCol).as("batch_id"), col(vecCol).as("b_vec"))
      .withColumn("cell_id", nearestCell(col("b_vec")))
      .withColumn("b_norm", normDecimal(col("b_vec")))
    val probe = b.select("cell_id").distinct()
    corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("c_vec"))
      .withColumn("cell_id", nearestCell(col("c_vec")))
      .join(broadcast(probe), Seq("cell_id"), "left_semi")
      .withColumn("c_norm", normDecimal(col("c_vec")))
      .join(broadcast(b), Seq("cell_id"))
      .withColumn("cosine",
        dotDecimal(col("b_vec"), col("c_vec")) / (col("b_norm") * col("c_norm")))
      .where(col("cosine") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("cosine"))
  }

  /** Exact pairwise covariance of the first `dim` embedding dimensions:
    * (i, j, cov) for i ≤ j, where cov = E[xy] − E[x]E[y] assembled from
    * EXACT integer component sums — the same order-free discipline as
    * [[dotScaled]] and `q_corr` (double addition order differs between
    * engines and between runs; integer sums do not). Per row the i≤j
    * product triangle generates through nested HOFs (never dim²/2 literal
    * expressions — codegen stays bounded at any `dim`), explodes
    * transiently, and partial-aggregates on (i, j); sums accumulate in
    * decimal(38,0) so a 1e12-row corpus cannot overflow int64. The final
    * divide-and-subtract runs in fixed parenthesized double order, so
    * both engines produce bit-identical covariances. */
  def covarianceMatrix(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim > 0, "dim must be positive")
    val v = col(vecCol)
    val prods = flatten(transform(sequence(lit(0), lit(dim - 1)), i =>
      transform(sequence(i, lit(dim - 1)), j =>
        struct(i.as("i"), j.as("j"),
          round(element_at(v, i.cast("int") + 1).cast("double") *
            element_at(v, j.cast("int") + 1).cast("double") * lit(DotScale))
            .cast("decimal(38,0)").as("s")))))
    val sxy = df.select(explode(prods).as("p"))
      .groupBy(col("p.i").as("i"), col("p.j").as("j"))
      .agg(sum(col("p.s")).as("sxy"))
    val dims = transform(sequence(lit(0), lit(dim - 1)), i =>
      struct(i.as("i"),
        round(element_at(v, i.cast("int") + 1).cast("double") * 1e7)
          .cast("decimal(38,0)").as("s")))
    val sx = df.select(explode(dims).as("d"))
      .groupBy(col("d.i").as("i")).agg(sum(col("d.s")).as("sx"))
    val n = df.agg(count(lit(1)).as("__n"))
    sxy
      .join(sx.select(col("i"), col("sx").as("sx_i")), "i")
      .join(sx.select(col("i").as("j"), col("sx").as("sx_j")), "j")
      .crossJoin(broadcast(n))
      .select(col("i").cast("bigint").as("i"), col("j").cast("bigint").as("j"),
        (col("sxy").cast("double") / lit(DotScale) / col("__n") -
          (col("sx_i").cast("double") / 1e7 / col("__n")) *
            (col("sx_j").cast("double") / 1e7 / col("__n"))).as("cov"))
  }

  /** Deterministic cyclic Jacobi eigensolver for the small symmetric
    * matrices this engine ever solves on the driver (covariance of an
    * embedding space — dim², codebook-class data, like the k-means
    * codebook collect). Fixed sweep order and a fixed convergence
    * threshold make the output identical on every run and JVM; columns of
    * the returned matrix are the eigenvectors of the input. */
  private[graft] def jacobiEigen(
      m: Array[Array[Double]],
      maxSweeps: Int = 50
  ): (Array[Double], Array[Array[Double]]) = {
    val n = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < maxSweeps && off > 1e-14) {
      off = 0.0
      for (p <- 0 until n; q <- p + 1 until n) {
        off += a(p)(q) * a(p)(q)
        if (math.abs(a(p)(q)) > 1e-18) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (k <- 0 until n) {
            val akp = a(k)(p); val akq = a(k)(q)
            a(k)(p) = c * akp - s * akq
            a(k)(q) = s * akp + c * akq
          }
          for (k <- 0 until n) {
            val apk = a(p)(k); val aqk = a(q)(k)
            a(p)(k) = c * apk - s * aqk
            a(q)(k) = s * apk + c * aqk
          }
          for (k <- 0 until n) {
            val vkp = v(k)(p); val vkq = v(k)(q)
            v(k)(p) = c * vkp - s * vkq
            v(k)(q) = s * vkp + c * vkq
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** PCA whitening for embedding preprocessing (the standard step before
    * PQ/IVF on anisotropic spaces — OPQ's "R" without the iterative
    * refinement): project each vector onto the top-`k` covariance
    * eigendirections and scale each by 1/√(λ+eps), so the output
    * dimensions are decorrelated with ~unit variance.
    *
    * Two-tier verification, like `ops.Percentiles`: the covariance build
    * is the exactly-replayable tier ([[covarianceMatrix]] — its own
    * oracle-gated query), while the eigensolve is driver-side
    * deterministic ([[jacobiEigen]], spec-proven) but not portably
    * replayable in SQL — iterative float math has no cross-engine bit
    * contract. Scale shape: two bounded aggregation passes over the
    * corpus (the exploded i≤j triangle partial-aggregates to dim² cells;
    * per-dim means to dim cells), a dim×dim driver solve, then one
    * narrow broadcast-projection pass; nothing corpus-sized ever
    * collects.
    *
    * Returns (idCol, whitened array<double> of length k). */
  def pcaWhiten(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      k: Int,
      eps: Double = 1e-9
  ): DataFrame = {
    require(k > 0 && k <= dim, "need 0 < k <= dim")
    val cells = covarianceMatrix(df, vecCol, dim).collect()
    val cov = Array.ofDim[Double](dim, dim)
    cells.foreach { r =>
      val (i, j, c) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2))
      cov(i)(j) = c; cov(j)(i) = c
    }
    val mu = {
      val v = col(vecCol)
      val dims = transform(sequence(lit(0), lit(dim - 1)), i =>
        struct(i.as("i"),
          round(element_at(v, i.cast("int") + 1).cast("double") * 1e7)
            .cast("decimal(38,0)").as("s")))
      val rows = df.select(explode(dims).as("d"))
        .groupBy(col("d.i").as("i"))
        .agg(sum(col("d.s")).cast("double").as("sx"), count(lit(1)).as("n"))
        .collect()
      val out = new Array[Double](dim)
      rows.foreach(r => out(r.getInt(0)) = r.getDouble(1) / 1e7 / r.getLong(2))
      out
    }
    val (evals, evecs) = jacobiEigen(cov)
    // top-k eigendirections, deterministic order: eigenvalue desc, index asc
    val order = evals.zipWithIndex.sortBy { case (ev, idx) => (-ev, idx) }.take(k)
    val w: Seq[Seq[Double]] = order.toSeq.map { case (ev, idx) =>
      val scale = 1.0 / math.sqrt(math.max(ev, 0.0) + eps)
      (0 until dim).map(r => evecs(r)(idx) * scale)
    }
    val wLit = typedLit(w)
    val muLit = typedLit(mu.toSeq)
    val proj = transform(wLit, wrow =>
      aggregate(sequence(lit(0), lit(dim - 1)), lit(0.0),
        (acc, i) => acc +
          (element_at(col(vecCol), i.cast("int") + 1).cast("double") -
            element_at(muLit, i.cast("int") + 1)) *
            element_at(wrow, i.cast("int") + 1)))
    df.select(col(idCol), proj.as("whitened"))
  }

  /** Per-key embedding centroids: exact per-dimension means as
    * (key, dim, mean_v) rows.
    *
    * Vector aggregation WITHOUT exploding: one decimal `sum` aggregate per
    * dimension plus one `count`, then a constant-size `stack` unpivot of the
    * aggregated row. The previous posexplode formulation shuffled
    * rows × dims (a 64× row blowup of the whole corpus before the
    * aggregation); this shape shuffles only the per-key partial-agg state
    * (dims × ~16 bytes per key per mapper) with full map-side combine —
    * the 100 TB-safe way to compute centroids. Values are 1e7-quantized
    * (round(x·1e7) as int64 — above float precision at embedding
    * magnitudes, and the SAME quantization the LSH bucketing uses) so the
    * sums are exact integer math: float addition order never matters, and
    * no double→decimal conversion is involved anywhere (the 12th-decimal-
    * digit rounding of a raw float is where engines legitimately disagree —
    * Java rounds the shortest decimal representation, DuckDB the binary
    * value). */
  def centroids(df: DataFrame, vecCol: String, keyCol: String, nDims: Int): DataFrame = {
    val sums = (0 until nDims).map(i =>
      sum(round(element_at(col(vecCol), i + 1).cast("double") * lit(1e7)).cast("long"))
        .as(s"_s$i"))
    val wide = df.groupBy(col(keyCol))
      .agg(sums.head, (sums.tail :+ count(lit(1)).as("_n")): _*)
    val stackArgs = (0 until nDims)
      .map(i => s"$i, CAST(_s$i AS DOUBLE) / CAST(_n AS DOUBLE) / 1e7").mkString(", ")
    wide.select(col(keyCol),
      expr(s"stack($nDims, $stackArgs) AS (dim, mean_v)"))
  }

  /** Clustering-quality audit of a codebook over a corpus: per cell, the
    * population it would receive under nearest-cosine assignment plus the
    * cohesion of that population — (cell_id, n, sum_cos_q, min_cos_q)
    * with cosines 1e7-quantized to int64 (`round(cos·1e7)`) so the sums
    * are exact integer math on any engine. `sum_cos_q / n / 1e7` is the
    * cell's mean cohesion; `min_cos_q` its worst member; a cell with
    * `n = 0` (possible whenever the codebook wasn't trained to
    * convergence on this corpus) appears with null stats rather than
    * vanishing. This is the report that decides whether an IVF/PQ
    * codebook is fit to serve: dead cells waste probes, low-cohesion
    * cells degrade recall, and a dominant cell defeats the inverted
    * lists' pruning.
    *
    * Scale shape: one narrow pass against the broadcast codebook scores
    * every (vector, cell) pair map-side; the per-vector argmax
    * (`max(struct(cos, -cell_id))`, full map-side combine) reduces the
    * shuffle to ONE row per vector, and the final aggregate is
    * codebook-sized. The corpus is never shuffled wide and never
    * re-scored per cell downstream — identical assignment semantics to
    * [[assignCells]] / [[ivfTopK]]'s rank-1 (lowest cell_id on ties). */
  def clusterQuality(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      codebook: DataFrame // (cell_id, cell_vec), e.g. kmeansCodebook
  ): DataFrame = {
    val cells = broadcast(
      codebook.select(col("cell_id"), col("cell_vec"))
        .withColumn("cell_norm", normDecimal(col("cell_vec"))))
    val best = corpus.select(col(idCol).as("__id"), col(vecCol).as("__vec"))
      .withColumn("__norm", normDecimal(col("__vec")))
      .crossJoin(cells)
      .withColumn("__cos",
        dotDecimal(col("__vec"), col("cell_vec")) / (col("__norm") * col("cell_norm")))
      .groupBy(col("__id"))
      .agg(max(struct(col("__cos").as("cos"), (-col("cell_id")).as("neg"),
        col("cell_id"))).as("best"))
      .select(col("best.cell_id").as("cell_id"),
        round(col("best.cos").cast("double") * lit(1e7)).cast("long").as("__q"))
    val stats = best.groupBy("cell_id").agg(
      count(lit(1)).as("n"),
      sum(col("__q")).as("sum_cos_q"),
      min(col("__q")).as("min_cos_q"))
    codebook.select("cell_id").join(stats, Seq("cell_id"), "left")
      .select(col("cell_id"), coalesce(col("n"), lit(0L)).as("n"),
        col("sum_cos_q"), col("min_cos_q"))
  }

  /** SEMANTIC benchmark decontamination: training vectors whose embedding
    * lies within `minCosQ` (1e7-quantized cosine) of ANY evaluation-set
    * vector — the leakage the exact/n-gram text screens can't see
    * (paraphrases, translations, and re-encodings of a benchmark item
    * keep its embedding neighborhood while sharing no 8-gram). Returns
    * (idCol, eval_id, cos_q) for every flagged training vector with its
    * NEAREST eval item (quantized-cosine argmax, lowest eval_id on ties)
    * — the audit trail a takedown needs.
    *
    * Scale shape: mirrors the text-side screens — the eval set is small
    * by definition (benchmark suites, not corpora), so it broadcasts;
    * one narrow corpus pass scores (vector, eval) pairs map-side and the
    * per-vector argmax reduces the shuffle to one row per CANDIDATE
    * vector. The corpus is never shuffled wide. For an eval set too big
    * to broadcast, pre-bucket both sides with [[lshBucket]] and screen
    * per bucket ([[blockedNearDupPairs]]'s shape) — cosine ≥ 0.95
    * neighbors collide in LSH buckets with high probability. */
  def semanticContamination(
      corpus: DataFrame,
      evalSet: DataFrame,
      vecCol: String,
      idCol: String,
      minCosQ: Long
  ): DataFrame = {
    val ev = broadcast(
      evalSet.select(col(idCol).as("eval_id"), col(vecCol).as("eval_vec"))
        .withColumn("eval_norm", normDecimal(col("eval_vec"))))
    corpus.select(col(idCol), col(vecCol).as("__vec"))
      .withColumn("__norm", normDecimal(col("__vec")))
      .crossJoin(ev)
      .withColumn("__q",
        round((dotDecimal(col("__vec"), col("eval_vec")) /
          (col("__norm") * col("eval_norm"))).cast("double") * lit(1e7))
          .cast("long"))
      .groupBy(col(idCol))
      .agg(max(struct(col("__q").as("q"), (-col("eval_id")).as("neg"),
        col("eval_id"))).as("best"))
      .where(col("best.q") >= minCosQ)
      .select(col(idCol), col("best.eval_id").as("eval_id"),
        col("best.q").as("cos_q"))
  }
}
