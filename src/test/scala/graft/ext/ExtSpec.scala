package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class ExtSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = spark.createDataFrame(
    java.util.List.of(rows.map(r => Row(r._1, r._2)): _*),
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  test("exact dedup groups identical texts, keeps lowest id") {
    val out = Dedup.exact(docs(
      (1L, "hello world"), (2L, "other text"), (3L, "hello world")),
      "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 2L), (2L, 1L)))
  }

  test("priority dedup: most-trusted source wins, id pins priority ties") {
    val multi = spark.createDataFrame(java.util.List.of(
      Row(1L, "shared", 3L), Row(2L, "shared", 1L), Row(3L, "shared", 2L),
      Row(4L, "tied", 2L), Row(5L, "tied", 2L),
      Row(6L, "solo", 1L)),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("prio", LongType))))
    val out = Dedup.exactPriority(multi, "text", "doc_id", "prio")
      .orderBy("keep_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (2L, 1L, 3L, 3L),   // "shared": prio 1 beats 2 and 3
      (4L, 2L, 2L, 1L),   // "tied": equal prio -> lowest id
      (6L, 1L, 1L, 1L)), out.toSeq)
  }

  test("leakage-safe split: near-dup cluster members share one split") {
    // three near-identical docs + one distinct: the trio must land in
    // the SAME split under any salt because they hash as one group
    val corpus = docs(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "the quick brown fox jumps over the lazy dog again now"),
      (3L, "the quick brown fox jumps over the lazy dog again soon"),
      (4L, "completely different content with no overlap whatsoever here"))
    for (salt <- Seq("a", "b", "c")) {
      val out = Sampling.leakageSafeSplit(corpus, "text", "doc_id",
        threshold = 0.3, trainPct = 60, validPct = 20, salt = salt)
        .select("doc_id", "split_group", "split").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      assert(out.size == 4)
      val trio = Set(out(1L), out(2L), out(3L))
      assert(trio.size == 1, s"cluster split apart under salt $salt: $out")
      assert(out(4L)._1 == 4L, "singleton groups by its own id")
    }
  }

  test("contrastive mining: near-dup is the positive, failed collider the hard negative") {
    // 1/2: near-identical (positive pair). 3: shares a long prefix with 1
    // but diverges — close enough to collide in some band, below the
    // verification bar (hard negative). 4: unrelated (no triple).
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val corpus = docs(
      (1L, base + " phi chi"),
      (2L, base + " phi psi"),
      (3L, base.split(" ").take(11).mkString(" ") +
        " q0 q1 q2 q3 q4 q5 q6 q7 q8 q9"),
      (4L, "totally unrelated content nothing shared here at all " +
        "zz yy xx ww vv uu tt ss rr qq"))
    val out = Dedup.contrastivePairs(corpus, "text", "doc_id",
      posThreshold = 0.6, negThreshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // whether 3 collides with 1 depends on the fixed hash geometry — but
    // IF an anchor emits a triple, its legs must be classified correctly
    for ((a, (p, n)) <- out) {
      assert(Set(1L, 2L).contains(a) && Set(1L, 2L).contains(p) && p != a,
        s"positive leg must be the near-dup: $out")
      assert(n == 3L, s"negative leg must be the failed collider: $out")
    }
    // and the positive pair alone (1, 2) never forms a triple without a
    // collided negative — doc 4 must appear nowhere
    assert(!out.exists { case (a, (p, n)) => a == 4L || p == 4L || n == 4L })
  }

  test("shingles: word 3-grams; short texts fall back to whole text") {
    val out = docs((1L, "a b c d"), (2L, "x y"))
      .select(TextHash.shingles(col("text")).as("s"))
      .orderBy(size(col("s")).desc)
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1) == Seq("x y"))
  }

  test("hammingNeighbors: exact within radius, none beyond, chunk-width guard") {
    // hand-built 60-bit hashes with known pairwise distances:
    // d(1,2)=3  d(1,3)=4  d(3,4)=1  d(1,4)=5  d(2,3)=7  d(2,4)=8
    val base = 0x0AAAAAAAAAAAAAAAL & ((1L << 60) - 1)
    val b3 = base ^ 7L // flip 3 low bits
    val c4 = base ^ 0xF0L // flip 4 bits
    val d1 = c4 ^ (1L << 59) // 1 from c4, 5 from base, 7 from b3
    val hashes = spark.createDataFrame(java.util.List.of(
      Row(1L, base), Row(2L, b3), Row(3L, c4), Row(4L, d1)),
      StructType(Seq(StructField("id", LongType), StructField("h", LongType))))
    val pairs = Dedup.hammingNeighbors(hashes, "id", "h", maxDist = 3)
      .orderBy("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(pairs == Seq((1L, 2L, 3L), (3L, 4L, 1L)), pairs)
    // radius 4 additionally admits (1,3) at exactly the boundary
    val r4 = Dedup.hammingNeighbors(hashes, "id", "h", maxDist = 4)
      .orderBy("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(r4 == Seq((1L, 2L), (1L, 3L), (3L, 4L)), r4)
    // the wide-key block-combination variant (Manku 2007) is the same
    // exact result — C(6,3)=20 bands of 30-bit keys instead of 4x15
    val wide = Dedup.hammingNeighbors(hashes, "id", "h", maxDist = 3,
      blocks = 6).orderBy("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(wide == pairs, wide)
    // sub-8-bit band keys are refused, not silently degraded
    intercept[IllegalArgumentException] {
      Dedup.hammingNeighbors(hashes, "id", "h", maxDist = 7)
    }
  }

  test("minhash signature: identical texts share signatures; length k") {
    val out = docs((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "q r s t u v"))
      .select(col("doc_id"),
        TextHash.minhashSignature(TextHash.shingles(col("text"))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1).length == TextHash.NumHashes)
    assert(out(1) == out(2))
    assert(out(1) != out(3))
    assert(out(1).forall(v => v >= 0 && v < TextHash.P))
  }

  test("minhashPairs finds near-dups, not unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val out = Dedup.minhashPairs(docs(
      (1L, base),
      (2L, base + " extra"),
      (3L, "completely different words about spark catalyst expression trees")),
      "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("containmentPairs scores a truncated copy ~1.0 where jaccard stays low") {
    val parent = (1 to 30).map(i => s"tok$i").mkString(" ")
    val child = (1 to 29).map(i => s"tok$i").mkString(" ")
    val out = Dedup.containmentPairs(docs(
      (1L, parent),
      (2L, child),
      (3L, "completely different words about spark catalyst expression trees")),
      "text", "doc_id", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    val (_, _, cont, jac) = out.head
    // every shingle of the truncation exists in the parent => containment 1
    assert(cont == 1.0, s"containment=$cont")
    assert(jac < 1.0 && jac > 0.8, s"jaccard=$jac")
  }

  test("simhash: near-dup texts have small hamming distance") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val out = Dedup.simhash(docs(
      (1L, base), (2L, base + " tiny change"), (3L, "x1 x2 x3 x4 x5")),
      "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val near = java.lang.Long.bitCount(out(1L) ^ out(2L))
    val far = java.lang.Long.bitCount(out(1L) ^ out(3L))
    assert(near < far, s"near=$near far=$far")
  }

  test("cosine: identical vectors score 1.0, orthogonal 0.0") {
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val df = spark.createDataFrame(java.util.List.of(
      Row(1L, Seq(1.0f, 0.0f, 0.0f)),
      Row(2L, Seq(1.0f, 0.0f, 0.0f)),
      Row(3L, Seq(0.0f, 1.0f, 0.0f))), schema)
    val out = Similarity.bruteForceTopK(df, df.where(col("vec_id") === 1), "embedding", "vec_id", 2)
      .orderBy("rank").collect()
    assert(out(0).getLong(1) == 2L && math.abs(out(0).getDouble(3) - 1.0) < 1e-12)
    assert(out(1).getLong(1) == 3L && math.abs(out(1).getDouble(3)) < 1e-12)
  }

  test("recallAtK: identical 1e6, disjoint 0, partial overlap exact ppm") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L),
      (3L, 30L)).toDF("q_id", "c_id")
    val approx = Seq((1L, 10L), (1L, 11L), (1L, 99L), // 2/3 for q1
      (2L, 77L), (2L, 78L),                            // 0/2 for q2
      (3L, 30L)).toDF("q_id", "c_id")                  // 1/1 for q3
    val got = Similarity.recallAtK(exact, approx).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map(
      1L -> ((3L, 2L, 666666L)), // truncating ppm
      2L -> ((2L, 0L, 0L)),
      3L -> ((1L, 1L, 1000000L))), got)
  }

  test("lsh bucket is deterministic and identical for identical vectors") {
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val vec = (1 to 64).map(i => (math.sin(i) / 2).toFloat)
    val df = spark.createDataFrame(java.util.List.of(
      Row(1L, vec), Row(2L, vec)), schema)
    val buckets = df.select(Similarity.lshBucket(col("embedding"), 64))
      .collect().map(_.getLong(0))
    assert(buckets(0) == buckets(1))
    assert(buckets(0) >= 0 && buckets(0) < (1L << Similarity.NumPlanes))
  }

  test("lsh S-curve: exact endpoints, monotone, hand-checked midpoint") {
    val rows = Dedup.lshCollisionCurve(spark).orderBy("s_ppm").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.head == (0L, 0L) && rows.last == (1000000L, 1000000L))
    assert(rows.sliding(2).forall(w => w(0)._2 <= w(1)._2), "monotone")
    // s = 0.5 under 4x4: P = 1 - (15/16)^4 = 14911/65536 -> 227523 ppm
    assert(rows.toMap.apply(500000L) == 227523L)
    intercept[IllegalArgumentException] {
      Dedup.lshCollisionCurve(spark, bands = 16, rows = 16) // 20^256
    }
    intercept[IllegalArgumentException] {
      Dedup.lshCollisionCurve(spark, grid = 7) // 1e6 % 7 != 0
    }
  }

  test("srp signature: full-rank planes, identical vecs collide, perturbation stays near") {
    // the bucket coeffs are period-7 in the plane index; the SRP table
    // must NOT be (that degeneracy is why it exists)
    assert((0 until 53).exists(i =>
      Similarity.srpCoeffs(i) != Similarity.srpCoeffs(i + 7)),
      "SRP planes must not repeat with period 7")
    assert(Similarity.srpCoeffs.flatten.forall(c => c >= -3 && c <= 3))
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val vec = (1 to 64).map(i => (math.sin(i) / 2).toFloat)
    val pert = vec.updated(0, vec(0) + 0.01f)
    val anti = vec.map(x => -x)
    val df = spark.createDataFrame(java.util.List.of(
      Row(1L, vec), Row(2L, vec), Row(3L, pert), Row(4L, anti)), schema)
    val sigs = df.select(col("vec_id"),
      Similarity.srpSignature(col("embedding")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L), "identical vectors share the signature")
    assert(sigs.values.forall(s => s >= 0 && s < (1L << 60)))
    val dPert = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    assert(dPert <= 6, s"tiny perturbation flips few sign bits: $dPert")
    // the antipode flips EVERY non-zero dot's sign (Charikar: angle pi)
    val dAnti = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(dAnti >= 50, s"antipodal vector must flip nearly all bits: $dAnti")
  }

  test("quality + langid + fingerprint columns are present and sane") {
    val d = docs((1L, "the cat and the dog of the house, in a big town!"))
    val q = TextStats.qualityScore(d, "text").first()
    assert(q.getAs[Int]("n_tokens") == 12)
    assert(q.getAs[Double]("stopword_ratio") > 0.3)
    val l = TextStats.langId(d, "text").first()
    assert(l.getAs[String]("lang_pred") == "en")
    val f = TextStats.fingerprint(d, "text").first()
    assert(f.getAs[String]("fp_md5").length == 32)
    assert(f.getAs[Long]("fp_rolling") >= 0)
  }

  test("duplicateClusters: transitive chains collapse to min-id components") {
    val pairs = spark.createDataFrame(
      java.util.List.of(
        Row(10L, 20L), Row(20L, 30L),   // chain 10-20-30
        Row(40L, 50L),                  // pair
        Row(30L, 11L)),                 // attaches 11 to the 10-cluster
      StructType(Seq(StructField("a_id", LongType), StructField("b_id", LongType))))
    val out = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 11L -> 10L,
      40L -> 40L, 50L -> 40L))
  }

  test("keepCanonical materializes the deduplicated corpus") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = docs(
      (1L, base), (2L, base + " x"), (3L, base + " y"), // cluster {1,2,3}
      (7L, "completely different words about spark catalyst expression trees"))
    val out = Dedup.keepCanonical(corpus, "text", "doc_id", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 7L))
  }

  test("salted aggregation equals direct aggregation") {
    val df = spark.range(0, 10000).toDF("id")
      .withColumn("k", when(col("id") % 100 === 0, "rare").otherwise("hot"))
      .withColumn("v", (col("id") % 7).cast("double"))
    val direct = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("v").cast("decimal(20,2)")).cast("double").as("s"))
      .orderBy("k").collect().toSeq
    val salted = graft.ops.Skew.saltedAgg(df, Seq("k"), 8, Seq(col("id")),
      partial = Seq(count(lit(1)).as("n0"), sum(col("v").cast("decimal(20,2)")).as("s0")),
      combine = Seq(sum(col("n0")).as("n"), sum(col("s0")).cast("double").as("s")))
      .orderBy("k").collect().toSeq
    assert(salted == direct)
  }

  test("ivf ann: identical vector found as top neighbor within probed cells") {
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val rows = (0L until 40L).map { i =>
      val base = (1 to 8).map(j => (math.sin(i * 8 + j) / 2).toFloat)
      Row(i, base)
    } :+ Row(100L, (1 to 8).map(j => (math.sin(3 * 8 + j) / 2).toFloat)) // dup of id=3
    val df = spark.createDataFrame(java.util.List.of(rows: _*), schema)
    val out = Similarity.ivfTopK(df, df.where(col("vec_id") === 100), "embedding",
      "vec_id", k = 3, nCells = 8, nProbe = 3)
      .orderBy("rank").collect()
    assert(out.nonEmpty)
    assert(out(0).getLong(1) == 3L, "exact duplicate must rank first")
    assert(math.abs(out(0).getDouble(3) - 1.0) < 1e-9)
  }

  test("quantizeInt8: codes in [-127,127], reconstruction within scale/2, zero vector guarded") {
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val rows = Seq(
      Row(1L, Seq(0.5f, -1.0f, 0.25f)),
      Row(2L, Seq(0.0f, 0.0f, 0.0f)), // zero vector
      Row(3L, Seq(-0.003f, 0.002f, 0.001f)))
    val df = spark.createDataFrame(java.util.List.of(rows: _*), schema)
    val out = Similarity.quantizeInt8(df, "embedding", "vec_id")
      .orderBy("vec_id").collect()
    val byId = out.map(r => r.getLong(0) -> (r.getDouble(1), r.getSeq[Int](2))).toMap
    // zero vector: scale 0, all-zero codes
    assert(byId(2L)._1 == 0.0 && byId(2L)._2.forall(_ == 0))
    // max-magnitude element always quantizes to ±127
    assert(byId(1L)._2.map(math.abs).max == 127)
    assert(byId(3L)._2.map(math.abs).max == 127)
    // dequantized values reconstruct within half a quantization step
    Seq(1L, 3L).foreach { id =>
      val (scale, q) = byId(id)
      val orig = rows.find(_.getLong(0) == id).get.getSeq[Float](1)
      q.zip(orig).foreach { case (code, x) =>
        assert(math.abs(code * scale - x) <= scale / 2 + 1e-12,
          s"vec $id: code $code scale $scale orig $x")
        assert(code >= -127 && code <= 127)
      }
    }
  }

  test("diversitySample: per-cell quota honored, assignment matches nearest cell, reproducible") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def run() = Similarity.diversitySample(e, "embedding", "vec_id",
      nCells = 8, quota = 5, salt = "t")
    val out = run().collect()
    val assigned = Similarity.assignCells(e, "embedding", "vec_id", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every sampled vector sits in its assigned cell, ranks run 1..n≤quota
    assert(out.forall(r => assigned(r.getLong(1)) == r.getLong(0)))
    out.groupBy(_.getLong(0)).foreach { case (cell, rows) =>
      assert(rows.map(_.getInt(2)).sorted.toSeq == (1 to rows.length),
        s"cell $cell ranks not contiguous")
    }
    // sample size per cell = min(cell population, quota) — the cap binds
    // exactly where the cell is overfull
    val pop = assigned.values.groupBy(identity).view.mapValues(_.size).toMap
    val got = out.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    pop.foreach { case (cell, n) => assert(got(cell) == math.min(n, 5)) }
    // same salt reproduces the identical sample
    assert(run().collect().map(_.toSeq).toSet == out.map(_.toSeq).toSet)
  }

  test("multi-probe ann: candidates are a superset of single-probe, so top-1 never worse") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 5)
    val single = Similarity.annTopK(e, q, "embedding", "vec_id", 64, 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val multi = Similarity.annTopKMultiProbe(e, q, "embedding", "vec_id", 64, 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(multi.keySet.size >= single.keySet.size,
      "probing more buckets can only add answerable queries")
    single.foreach { case (qid, cos) =>
      assert(multi(qid) >= cos, s"query $qid lost recall under multi-probe")
    }
  }

  test("centroids: per-dim agg equals the explode formulation over all 64 dims, no Generate in plan") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val viaAgg = Similarity.centroids(e, "embedding", "label", nDims = 64)
      .orderBy("label", "dim").collect().toSeq
    val viaExplode = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg((sum(round(col("v").cast("double") * lit(1e7)).cast("long")).cast("double") /
        count(lit(1)).cast("double") / lit(1e7)).as("mean_v"))
      .orderBy("label", "dim").collect().toSeq
    assert(viaAgg.size == viaExplode.size)
    viaAgg.zip(viaExplode).foreach { case (a, b) =>
      assert(a.get(0) == b.get(0) && a.getInt(1) == b.getInt(1))
      assert(a.getDouble(2) == b.getDouble(2), s"dim ${a.getInt(1)} mean differs")
    }
    // the whole point: no row-blowup posexplode before the aggregation —
    // the only Generate is the constant-size stack unpivot ABOVE the agg
    // (5 label rows), and the agg has map-side partial sums
    val plan = Similarity.centroids(e, "embedding", "label", nDims = 64)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("posexplode"), "centroids must not posexplode")
    assert(plan.contains("partial_sum"), "centroid sums must combine map-side")
  }

  test("incrementalNewBloom equals incrementalNew exactly, even at high fpp") {
    val corpus = docs((0 until 400).map(i => (i.toLong, s"existing doc $i")): _*)
    val batch = docs(
      ((0 until 50).map(i => (1000L + i, s"existing doc ${i * 4}")) ++ // re-crawls
        (0 until 50).map(i => (2000L + i, s"fresh doc $i")) ++
        Seq((3000L, "fresh doc 0"))): _*) // within-batch duplicate
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val exact = rows(Dedup.incrementalNew(corpus, batch, "text", "doc_id"))
    // a deliberately tiny, collision-prone filter: false positives must
    // still never change the result, only the candidate volume
    val bloomy = rows(Dedup.incrementalNewBloom(corpus, batch, "text", "doc_id",
      expectedBatchItems = 20L, fpp = 0.5))
    assert(bloomy == exact, s"bloom path must be exact:\n$bloomy\nvs\n$exact")
    assert(exact.exists { case (_, id, copies) => id == 2000L && copies == 2L },
      "within-batch duplicate (3000L) collapses into min id 2000L with copies=2")
    assert(exact.exists { case (_, id, copies) => id == 2001L && copies == 1L })
    assert(!exact.exists { case (_, id, _) => id >= 1000L && id < 2000L },
      "re-crawled content must not survive")
  }

  test("incrementalNearDupPairs: edited and exact re-crawls flagged, fresh not") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val corpus = docs((1L, base), (2L, other))
    val batch = docs(
      (10L, base + " tail edit"), // edited re-crawl of 1 → near-dup
      (11L, base), // exact re-crawl of 1 → jaccard 1.0
      (12L, "completely fresh content here")) // no corpus match
    val got = Dedup.incrementalNearDupPairs(corpus, batch, "text", "doc_id", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byPair = got.map(x => (x._1, x._2) -> x._3).toMap
    assert(byPair.contains((10L, 1L)), s"edited re-crawl must flag: $got")
    assert(byPair((11L, 1L)) == 1.0, "exact re-crawl scores jaccard 1.0")
    assert(!got.exists(_._1 == 12L), "fresh content must not flag")
    assert(!got.exists(_._2 == 2L), "unrelated corpus doc never matches")
  }

  test("duplicatedSpans: cross-doc 3-gram positions flag; within-doc repeats alone do not") {
    val corpus = docs(
      (1L, "alpha beta gamma delta"),      // shares "beta gamma delta" with 2
      (2L, "zz beta gamma delta yy"),
      (3L, "solo text with no overlap"),
      (4L, "rep rep rep rep"))             // "rep rep rep" twice, but one doc only
    val got = Dedup.duplicatedSpans(corpus, "text", "doc_id", n = 3, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val byDoc = got.groupBy(_._1)
    // doc1: gram at pos 1 = "beta gamma delta"; doc2: same gram at pos 1
    assert(byDoc(1L).map(x => (x._2, x._3)).toSeq == Seq((1L, 2L)), s"$got")
    assert(byDoc(2L).map(x => (x._2, x._3)).toSeq == Seq((1L, 2L)), s"$got")
    assert(!byDoc.contains(3L), "unshared text never flags")
    assert(!byDoc.contains(4L),
      "a gram repeated within ONE doc is not a cross-document duplicate")
    // spans line up: the shared gram carries the same hash in both docs
    val h1 = got.find(x => x._1 == 1L).get
    val hashes = Dedup.duplicatedSpans(corpus, "text", "doc_id", 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(hashes(1L) == hashes(2L), s"same span, same 60-bit hash: $h1")
  }

  test("cutDuplicatedSpans: canonical occurrence survives, copies lose their tokens") {
    val corpus = docs(
      (1L, "alpha beta gamma delta"),   // canonical owner of "beta gamma delta"
      (2L, "zz beta gamma delta yy"),   // loses tokens 1-3
      (3L, "solo text with no overlap"),
      (4L, "alpha beta gamma delta"))   // full duplicate of 1 → empty
    val got = Dedup.cutDuplicatedSpans(corpus, "text", "doc_id", n = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "alpha beta gamma delta", s"canonical doc intact: $got")
    assert(got(2L) == "zz yy", s"non-canonical span cut, flanks kept: $got")
    assert(got(3L) == "solo text with no overlap", "untouched doc byte-identical")
    assert(got(4L) == "", s"fully duplicated doc collapses to empty: $got")
    assert(got.size == 4, "one output row per input document")
  }

  test("gopherRules: each rule trips on its own adversarial doc") {
    val good = (1 to 58).map(i => s"word$i").mkString("the a ", " ", "")
    val short = "the a tiny doc here"
    val symbols = ((1 to 50).map(i => s"w$i") ++ (1 to 10).map(i => s"#tag$i"))
      .mkString("the a ", " ", "")
    val numeric = (1 to 58).map(i => (i * 7).toString).mkString("the a ", " ", "")
    val noStops = (1 to 60).map(i => s"word$i").mkString(" ")
    val out = TextStats.gopherRules(docs(
      (1L, good), (2L, short), (3L, symbols), (4L, numeric), (5L, noStops)),
      "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def b(id: Long, c: String) = out(id).getBoolean(out(id).fieldIndex(c))
    assert(b(1L, "pass_gopher"), "the clean doc passes every rule")
    assert(!b(2L, "ok_word_count") && !b(2L, "pass_gopher"))
    assert(!b(3L, "ok_symbol_ratio") && b(3L, "ok_word_count"))
    assert(!b(4L, "ok_alpha_words") && !b(4L, "pass_gopher"))
    assert(!b(5L, "ok_stopwords") && b(5L, "ok_alpha_words"))
    // signals are the raw values, not just booleans
    assert(out(1L).getInt(out(1L).fieldIndex("n_words")) == 60)
    assert(out(5L).getInt(out(5L).fieldIndex("n_stopwords")) == 0)
  }

  test("contaminatedByNgram: hit threshold counts distinct shared 8-grams") {
    val span = (1 to 10).map(i => s"b$i").mkString(" ") // 10 tokens → 3 8-grams
    val corpus = docs(
      (1L, s"u1 u2 $span u3"), // full span embedded → 3 hits, at threshold
      (2L, (1 to 20).map(i => s"c$i").mkString(" ")), // clean
      (3L, "v1 " + (1 to 9).map(i => s"b$i").mkString(" ") + " v2")) // 2 hits only
    val benchmark = docs((100L, span))
    val flagged = Dedup.contaminatedByNgram(corpus, benchmark, "text", "doc_id",
      n = 8, minHits = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(flagged.toSeq == Seq((1L, 6, 3L)),
      s"only the full-span doc reaches 3 shared grams: ${flagged.toSeq}")
    // at minHits=2 the partial overlap is caught too
    val loose = Dedup.contaminatedByNgram(corpus, benchmark, "text", "doc_id",
      n = 8, minHits = 2)
      .collect().map(_.getLong(0)).sorted
    assert(loose.toSeq == Seq(1L, 3L))
  }

  test("ngramNovelty: verbatim 0, fresh 1e6, partial exact; short docs kept") {
    val span = (1 to 12).map(i => s"n$i").mkString(" ") // 12 tokens → 5 8-grams
    val reference = docs((1L, span), (2L, "r1 r2 r3"))
    val candidates = docs(
      (10L, span), // verbatim: 5/5 seen → novelty 0
      // 9 of the span's tokens + 3 fresh → 5 grams, 2 verbatim-seen
      // (positions 1..2 of the original), 3 crossing into fresh tokens
      (11L, (1 to 9).map(i => s"n$i").mkString(" ") + " z1 z2 z3"),
      (12L, "w1 w2 w3 w4 w5 w6 w7 w8"), // 1 gram, unseen → 1e6
      (13L, "a b")) // < n tokens → single whole-text gram, unseen → 1e6
    val out = Dedup.ngramNovelty(reference, candidates, "text", "doc_id", n = 8)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(out(10L) == ((5L, 5L, 0L, 0L)))
    assert(out(11L) == ((5L, 2L, 3L, 600000L)))
    assert(out(12L) == ((1L, 0L, 1L, 1000000L)))
    assert(out(13L) == ((1L, 0L, 1L, 1000000L)))
    // the reference side is never broadcast by construction: a reference
    // containing the candidate's whole-text short gram is still seen
    val seenShort = Dedup.ngramNovelty(docs((1L, "a b")), candidates,
        "text", "doc_id", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(seenShort(13L) == 0L, "whole-text fallback grams match cross-side")
  }

  test("tfidfTopK equals the window-ranked reference, including tie order") {
    val corpus = docs(
      (1L, "apple apple banana common common"),
      (2L, "banana cherry common common date"),
      (3L, "common cherry cherry date elder"))
    val got = TextStats.tfidfTopK(corpus, "text", "doc_id", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDecimal(5))).toSet
    // reference: the same math (quantized to decimal(18,9) before the
    // rank, matching the operator) through an explicit window rank
    val tok = corpus.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tok.groupBy("term").agg(count(lit(1)).as("df"))
    val n = corpus.count()
    val scored = tok.join(dfT, "term")
      .withColumn("tfidf", (col("tf").cast("double") *
        log(lit((n + 1).toDouble) / (col("df") + 1).cast("double")))
        .cast("decimal(18,9)"))
      .withColumn("th", TextHash.hmod60(col("term")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("th").asc)
    val want = scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= 2)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"), col("tfidf"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDecimal(5))).toSet
    assert(got == want, s"got $got\nwant $want")
    // "common" is in every doc → idf ln(1)=0 → never outranks a rarer term
    assert(!got.exists { case (_, _, term, _, _, _) => term == "common" })
  }

  test("paragraphDedup: first occurrence survives, within-doc repeats drop, empty doc stays") {
    val corpus = docs(
      (1L, "header\n\nbody one\n\nfooter"),
      (2L, "header\n\nbody two\n\nfooter"),   // keeps only its own body
      (3L, "same\n\nsame\n\nunique"),          // within-doc repeat drops
      (4L, "header\n\nfooter"))                // everything seen → empty
    val got = Dedup.paragraphDedup(corpus, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(1L) == ("header\n\nbody one\n\nfooter", 3L, 3L))
    assert(got(2L) == ("body two", 3L, 1L))
    assert(got(3L) == ("same\n\nunique", 3L, 2L))
    assert(got(4L) == ("", 2L, 0L), "row survives with empty text")
    assert(got.size == 4)
  }

  test("multimodal: feature extraction through mapPartitions stub") {
    val out = Multimodal.extractFeatures(docs((0L, "abcd"), (2L, "xyz")), "doc_id", "text")
      .collect().map(f => f.doc_id -> f).toMap
    assert(out(0L).kind == "image" && out(0L).byte_len == 4 && out(0L).first_byte == 'a'.toInt)
    assert(out(2L).kind == "video" && out(2L).n_frames == 3 % 30)
    // frame sampling only emits for video kind
    val frames = Multimodal.sampleFrames(
      Multimodal.attachBinary(docs((2L, "0123456789")), "doc_id", "text"), 4)
      .collect()
    assert(frames.nonEmpty && frames.forall(_.getLong(0) == 2L))
  }

  test("minhashCandidates superset of verified pairs; bruteForcePairs exact") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val d = docs(
      (1L, base),
      (2L, base + " extra"),
      (3L, "completely different words about spark catalyst expression trees"))
    val cand = Dedup.minhashCandidates(d, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.minhashPairs(d, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(cand), "every verified pair must be a candidate")
    val truth = Dedup.bruteForcePairs(d, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth == Set((1L, 2L)))
    // fail-fast: the quadratic truth leg refuses unbounded inputs
    val err = intercept[IllegalArgumentException] {
      Dedup.bruteForcePairs(d, "text", "doc_id", threshold = 0.5, maxSample = 2)
    }
    assert(err.getMessage.contains("maxSample"))
  }
}
