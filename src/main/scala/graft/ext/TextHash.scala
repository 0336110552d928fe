package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, cross-engine-reproducible hashing primitives for the
  * dedup/similarity operators.
  *
  * All hashes derive from md5 hex prefixes so the DuckDB oracles can compute
  * byte-identical values (`conv(substr(md5(s),1,15),16,10)` ≡ DuckDB
  * `('0x'||substr(md5(s),1,15))::BIGINT`): 60-bit positive values, reduced
  * mod P (2^31-1) so the (a*h+b) mod P universal-hash family stays inside
  * int64. Engine-internal code that doesn't need an oracle should prefer
  * `xxhash64` (faster, codegen'd); these exist for verifiable determinism.
  */
object TextHash {

  /** Mersenne prime 2^31-1 — universal-hash modulus. */
  val P = 2147483647L

  /** Number of minhash permutations / LSH banding shape (16 = 4 bands × 4). */
  val NumHashes = 16
  val Bands = 4
  val RowsPerBand = 4

  /** Fixed (a,b) parameters of the k permutations h_i(x) = (a_i x + b_i) mod P.
    * Derived from a splitmix-style LCG with seed 42 — stable literals shared
    * with the SQL oracle generator. */
  val hashParams: Seq[(Long, Long)] = {
    var state = 42L
    def next(): Long = {
      state = (state * 6364136223846793005L + 1442695040888963407L)
      (state >>> 33) % (P - 1)
    }
    (0 until NumHashes).map(_ => (next() + 1, next()))
  }

  /** 60-bit md5-based hash of a string column, reduced mod P. */
  def hmod(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long") % P

  /** [[hmod]] mod `buckets`, for the declarative specs of the bucket
    * kernels. An md5 hex prefix always parses, so the coalesce never
    * fires: it declares the non-null elements the kernels declare. */
  private[graft] def hmodBucket(c: Column, buckets: Int): Column =
    coalesce(hmod(c) % buckets, lit(0L))

  /** The empty `array<bigint>` with non-null elements, as the bucket
    * kernels declare them. */
  private[graft] def emptyBuckets: Column =
    array().cast(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false))

  /** SQL fragment equivalent of [[hmod]] for DuckDB oracle generation. */
  def hmodSql(e: String): String =
    s"(('0x' || substr(md5($e),1,15))::BIGINT % $P)"

  /** Word n-gram shingles of a text column (falls back to the whole text
    * when fewer than n tokens): the codegen'd `graft_word_grams` kernel
    * (HOF lambdas are interpreted row kernels AND a large chunk of
    * generated plan source). Its spec is [[shinglesDeclarative]]
    * (WordGramsNativeSpec, KernelIdentitySpec). */
  def shingles(text: Column, n: Int = 3): Column =
    call_function("graft_word_grams", text, lit(n))

  /** The readable spec of [[shingles]] (and the oracle-generation
    * template; [[shinglesSql]] mirrors it in DuckDB).
    *
    * The token array is LET-BOUND via a single-element-array transform:
    * Catalyst has no let expression, and referencing `split(text)` directly
    * inside the per-shingle lambda makes project-collapse re-evaluate the
    * full split for every `element_at` — O(tokens²) work per document that
    * dominated the whole LSH pipeline. Binding it as a lambda variable
    * evaluates the split exactly once per row. */
  def shinglesDeclarative(text: Column, n: Int = 3): Column =
    element_at(
      transform(
        array(split(text, " ")), // bind once
        toks => {
          val grams = transform(
            sequence(lit(0), size(toks) - n),
            i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*))
          when(size(toks) < n, array(array_join(toks, " "))).otherwise(grams)
        }),
      1)

  /** DuckDB SQL fragment equivalent of [[shingles]]. */
  def shinglesSql(textE: String, n: Int = 3): String = {
    val toks = s"string_split($textE, ' ')"
    val parts = (0 until n).map(k => s"$toks[i+${k + 1}]").mkString(", ")
    s"""CASE WHEN len($toks) < $n THEN [$textE]
       | ELSE [concat_ws(' ', $parts) FOR i IN range(0, len($toks)-${n - 1})] END""".stripMargin
  }

  /** MinHash signature: array of NumHashes min-values over the shingle set.
    * One pass over the shingle array per row — embarrassingly parallel, no
    * shuffle — and ONE md5 per shingle. Shape matters here: expressing this
    * as k independent `array_min(transform(...md5...))` columns makes
    * Catalyst's project-collapse duplicate the md5 subtree k× (it has no
    * let-binding), which multiplied the dominant md5 cost by k. Instead a
    * single expression folds the shingle array once: per shingle compute the
    * base hash, expand to the k permutation values, and merge element-wise
    * minima into the accumulator. */
  def minhashSignature(shingleCol: Column): Column = {
    val pa = typedLit(hashParams.map(_._1))
    val pb = typedLit(hashParams.map(_._2))
    val perShingle = transform(
      transform(shingleCol, s => hmod(s)), // one md5 per shingle
      h => transform(sequence(lit(0), lit(NumHashes - 1)),
        i => (element_at(pa, i.cast("int") + 1) * h + element_at(pb, i.cast("int") + 1)) % P))
    aggregate(
      perShingle,
      array_repeat(lit(P), NumHashes),
      (acc, v) => zip_with(acc, v, (a, b) => least(a, b)))
  }

  /** DuckDB SQL: minhash signature as a list expression over `shE`. */
  def minhashSignatureSql(shE: String): String =
    hashParams.map { case (a, b) =>
      s"list_min(list_transform($shE, s -> ($a * ${hmodSql("s")} + $b) % $P))"
    }.mkString("[", ",\n    ", "]")

  /** SimHash (60-bit): per-token md5 hash, signed bit-vote, majority → bit.
    * Ties (vote sum 0) count as a set bit. Pure higher-order expressions —
    * stays in codegen, no explode. */
  def simhash(tokens: Column): Column = {
    val votes = aggregate(
      tokens,
      array_repeat(lit(0L), 60),
      (acc, t) => {
        val h = hmod60(t)
        zip_with(acc, sequence(lit(0), lit(59)),
          (a, j) => a + when(call_function("shiftright", h, j.cast("int"))
            .bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
      })
    aggregate(
      zip_with(votes, sequence(lit(0), lit(59)),
        (v, j) => when(v >= 0, call_function("shiftleft", lit(1L), j.cast("int")))
          .otherwise(lit(0L))),
      lit(0L), (a, x) => a + x)
  }

  /** Full 60-bit md5 hash (no mod) for simhash bit extraction. */
  def hmod60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** DuckDB SQL for [[simhash]] via unnest/group-by (same math, relational
    * formulation — lambdas would need nested aggregates DuckDB lacks).
    * Produces a scalar subquery-free CTE chain; caller embeds it. */
  def simhashSql(docsCte: String, idCol: String, textCol: String): String =
    s"""tok AS (SELECT $idCol, unnest(string_split($textCol, ' ')) AS t FROM $docsCte),
       |votes AS (
       |  SELECT $idCol, j,
       |         CAST(SUM(CASE WHEN ((('0x' || substr(md5(t),1,15))::BIGINT >> j) & 1) = 1
       |                  THEN 1 ELSE -1 END) AS BIGINT) AS v
       |  FROM tok CROSS JOIN (SELECT unnest(range(0,60)) AS j) bits
       |  GROUP BY $idCol, j),
       |sim AS (
       |  SELECT $idCol,
       |         CAST(SUM(CASE WHEN v >= 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY $idCol)""".stripMargin
}
