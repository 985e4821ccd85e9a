package graft

import graft.functions.Vectors
import org.apache.spark.sql.functions._

/** Contract pins for the r19 sign-LSH width self-sizing
  * ([[Vectors.sizedSignBitsFor]]): the derived width must (a) equal
  * the floor at graded scales so the static oracles stay exact,
  * (b) reproduce the r18 battery's hand-set 12-bit posture at the
  * decade-3 count WITHOUT the env var, (c) escalate past the
  * count-derived width on skewed occupancy via the exact Σ s·(s−1)
  * audit, (d) FAIL LOUDLY instead of submitting a quadratic join
  * when no width can bound the candidate stream, and (r20) (e) persist
  * as a sidecar a second session reads back with zero jobs, refreshed
  * by compaction after growth. */
class SignSizingSpec extends SparkSpec {
  import spark.implicits._

  test("count-derived width: floor at graded counts; 12 bits at the " +
    "r18 decade-3 count (the posture a human previously had to set)") {
    assert(Vectors.sizedSignBits(500) == Vectors.SignBucketBits)
    assert(Vectors.sizedSignBits(60000) == Vectors.SignBucketBits)
    // the last count that still fits the floor, and the first that grows
    assert(Vectors.sizedSignBits(512L << 8) == 8)
    assert(Vectors.sizedSignBits((512L << 8) + 256) == 9)
    // the r18 battery's decade-3 corpus (2M vectors): the hand-set
    // 12-bit posture, now derived
    assert(Vectors.sizedSignBits(2000000L) == 12)
  }

  test("graded-scale invariance: the derived width over the real sf0.001 " +
    "embeddings equals the floor (static oracle geometry unchanged)") {
    val e = Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>").as("v"))
    assert(Vectors.sizedSignBitsFor(e, col("v"), "test-graded")
      == Vectors.SignBucketBits)
  }

  test("occupancy audit escalates past the count-derived width when the " +
    "leading components' signs are skewed (deterministic fixture)") {
    // 160k vectors, dim 20: components 1..9 all-positive (every vector
    // shares the 9-bit prefix bucket), components 10..20 sign-randomized
    // by xxhash64 (deterministic). Count-derived width is 9
    // (160000 >> 9 = 312 ≤ 512) but the 9-bit occupancy is ONE bucket —
    // the audit must walk up until the exact pair count fits the bound
    // (analytically: n²/2^(b-9) ≤ 4·511·n → b = 16; xxhash64 parity is
    // near-balanced so the exact count lands within a bit of that).
    val vecs = spark.range(160000).select(
      transform(sequence(lit(1), lit(20)), i =>
        when(i <= 9, lit(1.0)).otherwise(
          when(pmod(xxhash64(col("id"), i), lit(2)) === 0, lit(1.0))
            .otherwise(lit(-1.0)))).as("v"))
    val chosen = Vectors.sizedSignBitsFor(vecs, col("v"), "test-skew-esc")
    assert(chosen >= 15 && chosen <= 17,
      s"expected escalation to ~16 bits, got $chosen")
    assert(chosen > Vectors.sizedSignBits(160000),
      "the audit must have escalated past the count-derived width")
  }

  test("sidecar persistence (r20, verdict Next 2): a derivation persists " +
    "its width beside a writable corpus, and a SECOND session reads it " +
    "back with ZERO jobs — the corpus frame is never even constructed") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-signwidth-").toString
    // 140k vectors, dim 20, xxhash64-balanced signs: count-derived
    // width is 9 (140000 >> 9 = 273 ≤ 512) and the occupancy audit
    // accepts it (balanced buckets), so the derivation runs BOTH jobs
    // once and must persist {bits=9, n, cand_pairs}
    def vecs = spark.range(140000).select(
      transform(sequence(lit(1), lit(20)), i =>
        when(pmod(xxhash64(col("id"), i), lit(2)) === 0, lit(1.0))
          .otherwise(lit(-1.0))).as("v"))
    val first = Vectors.sizedSignBitsFor(vecs, col("v"), dir)
    assert(first == 9, s"fixture geometry drifted: derived $first")
    assert(Vectors.readSignWidthSidecar(dir).contains(9),
      "the derivation must persist its width as a sidecar")
    // second session: memo cold, sidecar present → the by-name corpus
    // thunk must never be forced (zero count jobs, plan-pinned by
    // construction: forcing it throws)
    Vectors.forgetSizedWidth(dir)
    val second = Vectors.sizedSignBitsFor(
      throw new AssertionError("sidecar hit must not touch the corpus"),
      throw new AssertionError("sidecar hit must not touch the column"),
      dir)
    assert(second == 9)
    // a sidecar recorded under a DIFFERENT floor is ignored (the
    // graded-scale oracle invariant is relative to the floor in force)
    Vectors.forgetSizedWidth(dir)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, Vectors.SignWidthSidecarName),
      """{"sign_bits":9,"floor":6,"n_rows":140000,"cand_pairs":1}""")
    assert(Vectors.readSignWidthSidecar(dir).isEmpty,
      "a floor-mismatched sidecar must not be trusted")
  }

  test("an out-of-band corpus rewrite invalidates the sidecar (r20 " +
    "review): the recorded filesystem fingerprint no longer matches, " +
    "so the next session re-derives instead of keeping a stale width") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-extwrite-").toString
    val dim = 20
    def synth(n: Long) =
      spark.range(n).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(dim)), i =>
          when(pmod(xxhash64(col("id"), i), lit(2)) === 0, lit(1.0f))
            .otherwise(lit(-1.0f))).as("embedding"))
    def corpus = spark.read.parquet(s"$root/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
    synth(10000).write.parquet(s"$root/embeddings.parquet")
    val w0 = Vectors.sizedSignBitsFor(corpus, col("v"), root)
    assert(w0 == Vectors.SignBucketBits &&
      Vectors.readSignWidthSidecar(root).contains(w0),
      "on-disk corpus: derivation must persist a fingerprinted sidecar")
    // a writer OTHER than the two guarded paths (compactEmbeddings /
    // ScaleSynth) replaces the corpus in place — a decade larger
    synth(140000).write.mode("overwrite")
      .parquet(s"$root/embeddings.parquet")
    assert(Vectors.readSignWidthSidecar(root).isEmpty,
      "a fingerprint-mismatched sidecar must not be trusted")
    Vectors.forgetSizedWidth(root)
    val w1 = Vectors.sizedSignBitsFor(corpus, col("v"), root)
    assert(w1 == 9, s"the fresh session must re-derive from the " +
      s"rewritten corpus (140k rows → 9 bits), got $w1")
  }

  test("compactEmbeddings refuses the in-place call (r20 review): an " +
    "input overlapping the output dies at entry with the contract, not " +
    "at write time after the plan is built") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-inplace-").toString
    spark.range(10).select(col("id").as("vec_id"),
      array(lit(1.0f), lit(-1.0f)).as("embedding"))
      .write.parquet(s"$root/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Layout.compactEmbeddings(spark,
        Seq(s"$root/embeddings.parquet"), root, targetBytes = 64L << 20)
    }
    assert(e.getMessage.contains("fresh generation"),
      s"the entry guard must state the write-fresh-and-swap contract: $e")
  }

  test("the graded testdata is a read-only fixture BY CONTRACT: sidecar " +
    "writes under it are refused even where the filesystem permits them") {
    assert(!Vectors.writeSignWidthSidecar("/root/testdata/sf0.01", 8,
      500L, -1L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      "/root/testdata/sf0.01", Vectors.SignWidthSidecarName)),
      "a sidecar must never land in the graded fixture dirs")
  }

  test("compaction re-derives after growth (r20): folding a decade of " +
    "deltas into the stored corpus refreshes the persisted width") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-embstore-").toString
    val dim = 20
    def synth(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(dim)), i =>
          when(pmod(xxhash64(col("id"), i), lit(2)) === 0, lit(1.0f))
            .otherwise(lit(-1.0f))).as("embedding"))
    // T0: a 10k-vector store — floor width, persisted at build
    synth(0, 10000).write.parquet(s"$root/base/embeddings.parquet")
    val w0 = Vectors.sizedSignBitsFor(
      spark.read.parquet(s"$root/base/embeddings.parquet")
        .select(col("embedding").cast("array<double>").as("v")),
      col("v"), s"$root/base")
    assert(w0 == Vectors.SignBucketBits &&
      Vectors.readSignWidthSidecar(s"$root/base").contains(w0))
    // a decade-plus of growth arrives as a delta generation; compaction
    // folds it in and must re-derive (140k total → 9 bits), leaving the
    // refreshed width persisted for the next session
    synth(10000, 140000).write.parquet(s"$root/gen_1/embeddings.parquet")
    val w1 = graft.operators.Layout.compactEmbeddings(spark,
      Seq(s"$root/base/embeddings.parquet",
        s"$root/gen_1/embeddings.parquet"),
      s"$root/compacted", targetBytes = 64L << 20)
    assert(w1 == 9, s"post-growth width must re-derive, got $w1")
    assert(Vectors.readSignWidthSidecar(s"$root/compacted").contains(9))
    assert(spark.read.parquet(s"$root/compacted/embeddings.parquet")
      .count() == 140000L, "compaction must fold every generation in")
  }

  test("pathological sign skew fails the plan build loudly instead of " +
    "submitting the quadratic join") {
    // every vector identical in sign on ALL components: no width can
    // split the single bucket, so the candidate count stays ~n² at
    // every candidate width and the derivation must throw
    val vecs = spark.range(140000)
      .select(transform(sequence(lit(1), lit(20)), _ => lit(1.0)).as("v"))
    val e = intercept[IllegalStateException] {
      Vectors.sizedSignBitsFor(vecs, col("v"), "test-skew-fatal")
    }
    assert(e.getMessage.contains("test-skew-fatal") &&
      e.getMessage.contains("pathologically skewed"),
      s"failure must name the corpus and the skew: ${e.getMessage}")
  }
}
