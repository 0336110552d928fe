package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints — the local fingerprinting algorithm of
  * Schleimer, Wilkerson & Aiken (SIGMOD 2003, the MOSS algorithm). Hash
  * every char k-gram, slide a window of w consecutive hashes, keep the
  * window minimum (rightmost on ties), dedup the picks. GUARANTEE: any
  * substring match of length ≥ w + k − 1 shares at least one fingerprint,
  * and no match shorter than k is ever detected — the locality property
  * that MinHash (whole-doc similarity) and [[Dedup.duplicatedSpans]]
  * (exact positioned grams, heavier) don't give at this price.
  *
  * Scale shape: ENTIRELY per-row — gram hashing, window minima, and pick
  * dedup are higher-order functions over in-row arrays; the operator adds
  * ZERO shuffles (PlanSpec-asserted). Density is 2/(w+1) picks per gram in
  * expectation, so the output is a bounded fraction of the corpus and the
  * downstream pair-finding groupBy is the only exchange anywhere.
  *
  * The code-point and gram arrays are let-bound via the
  * single-element-array transform (the [[TextStats.fingerprint]] pattern):
  * Catalyst has no let expression, and referencing the gram pipeline inside
  * the per-window lambda would re-hash every gram once per window. The hot
  * path is the codegen'd `graft_winnow` kernel (one fused loop); this
  * declarative form is the spec and the oracle template.
  */
object Winnow {

  /** 31-multiplier polynomial hash (mod 2^31−1, [[TextHash.P]]) of each
    * char k-gram over a LET-BOUND code-point array, 1-indexed positions;
    * empty when the text is shorter than k. The fold starts at 0, so it
    * equals DuckDB's init-less `list_reduce` over the same code points
    * (0·31 + c₁ = c₁). */
  private def gramHashes(cps: Column, k: Int): Column =
    when(size(cps) >= k,
      transform(sequence(lit(1), size(cps) - (k - 1)), i =>
        aggregate(sequence(i, i + lit(k - 1)), lit(0L),
          (acc, j) => (acc * 31 + element_at(cps, j)) % TextHash.P)))
      .otherwise(array().cast("array<bigint>"))

  /** The declarative pick pipeline — the oracle-shaped spec the codegen'd
    * `graft_winnow` kernel must reproduce element-for-element
    * (WinnowSpec, KernelIdentitySpec). NULL text gives NULL, as in the
    * kernel. */
  private[graft] def picksDeclarative(s: Column, k: Int, w: Int): Column = {
    val picks = element_at(
      transform(
        array(element_at(
          transform(array(s), t =>
            transform(sequence(lit(1), length(t)),
              i => ascii(t.substr(i, lit(1))))), 1)),
        cps => element_at(transform(array(gramHashes(cps, k)), gs =>
          when(size(gs) >= w,
            array_distinct(
              transform(sequence(lit(1), size(gs) - (w - 1)), j =>
                aggregate(sequence(j, j + lit(w - 1)),
                  struct(lit(Long.MaxValue).as("h"), lit(0).as("p")),
                  (acc, i) =>
                    // <= makes the RIGHTMOST minimal gram win the window —
                    // the paper's tie rule (maximizes pick reuse between
                    // overlapping windows, minimizing fingerprint density)
                    when(element_at(gs, i) <= acc.getField("h"),
                      struct(element_at(gs, i).as("h"), i.as("p")))
                      .otherwise(acc)))))
            .otherwise(array().cast("array<struct<h:bigint,p:int>>"))), 1)),
      1)
    // lambda results are nullable to Catalyst; the coalesces never fire
    // and declare the non-null elements and fields the kernel declares
    when(s.isNotNull, transform(picks, f => struct(
      coalesce(f.getField("h"), lit(0L)).as("h"),
      coalesce(f.getField("p"), lit(0)).as("p"))))
  }

  /** Fingerprints as (idCol, pos, fp): `pos` the 1-indexed char position of
    * the selected k-gram, `fp` its polynomial hash. Texts shorter than
    * k + w − 1 chars produce no fingerprints (no complete window).
    * The codegen'd `graft_winnow` kernel (one fused loop, no per-window
    * interpreted lambdas — 16.7 s → sub-second on the sf0.1 gate); the
    * declarative pipeline [[picksDeclarative]] is its spec. */
  def fingerprints(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, w: Int = 8
  ): DataFrame = {
    require(k >= 1 && w >= 1, "winnow: k and w must be >= 1")
    val picks = call_function("graft_winnow", col(textCol), lit(k), lit(w))
    df.select(col(idCol), explode(picks).as("f"))
      .select(col(idCol), col("f.p").cast("bigint").as("pos"),
        col("f.h").as("fp"))
  }

  /** Candidate near-duplicate pairs: documents sharing ≥ `minShared`
    * fingerprints, with the shared count. Fingerprints occurring in more
    * than `maxPostings` documents are dropped first — boilerplate grams
    * would otherwise turn the self-join quadratic (the same df-cap
    * discipline as the MinHash band join).
    * Output: (id_a, id_b, shared) with id_a < id_b. */
  def sharedFingerprintPairs(
      fps: DataFrame, idCol: String,
      minShared: Int = 2, maxPostings: Int = 1000
  ): DataFrame = {
    val posting = fps.select(col(idCol).cast("bigint").as("id"), col("fp"))
      .distinct()
    val rare = posting.groupBy("fp")
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") <= maxPostings)
      .select("fp")
    val p = posting.join(rare, "fp")
    p.as("a").join(p.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }
}
