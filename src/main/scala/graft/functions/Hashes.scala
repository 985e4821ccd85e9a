package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** MinHash / SimHash / banding primitives — SURVEY.md §2.9 F6–F8, §2.4 J8.
  *
  * Two families:
  *  - *Portable* (this file): permutations derived from salted md5, so the
  *    DuckDB oracle can reproduce signatures bit-for-bit
  *    (`('0x'||substr(md5(s||'#'||i),1,15))::BIGINT` ≡ [[Texts.md5Long]]).
  *  - *Native* (`minhash_sig` / `simhash64`, [[graft.plans.NativeFn]]s
  *    over [[graft.plans.NativeImpl.minhashSig]] /
  *    [[graft.plans.NativeImpl.simhash64]]): murmur3_x86_32-based
  *    single-pass variants for the hot path (no oracle).
  *
  * Reference semantics: 256-perm seed-1 datasketch MinHash over k=5 char
  * shingles (`lambdas/check_duplicate/utils.py:22-40`), banded LSH probe
  * with stride 6 (`check_duplicate.py:90-93`).
  */
object Hashes {

  /** Mersenne-ish prime modulus for the permutation family (2^31−1).
    * Keeps every intermediate product < 2^62, so the arithmetic is
    * overflow-free in both Spark (Long) and DuckDB (BIGINT, which errors
    * on overflow rather than wrapping). */
  val MinHashPrime = 2147483647L

  /** Portable MinHash signature with the standard universal-hash
    * permutation family: each shingle is md5-hashed ONCE (the expensive
    * op), then `sig[i] = min over shingles of (a_i·h + b_i) mod p` —
    * the same construction datasketch uses (`check_duplicate/utils.py:25`,
    * 256 perms), with md5 instead of sha1 so DuckDB reproduces it
    * bit-for-bit. Spark's higher-order-function lambdas are interpreted
    * (no codegen), so keeping the per-perm work to two mul/mod is what
    * makes this linear-speed; hashing per (shingle × perm) was ~20×
    * slower. */
  def minhashSignature(shingles: Column, numPerms: Int): Column = {
    val p = lit(MinHashPrime)
    val hashes = transform(shingles, s => Texts.md5Long(s) % p)
    transform(sequence(lit(0), lit(numPerms - 1)), i => {
      val a = (lit(2654435761L) * (i + 1)) % p
      val b = (lit(40503L) * (i + 7)) % p
      array_min(transform(hashes, h => (a * h + b) % p))
    })
  }

  /** LSH banding (reference stride-6 windows over the 256 signature,
    * `check_duplicate.py:90-93`): signature → array of (band_id, band_key)
    * structs; equal band_key ⇒ candidate pair. band_key is the '_'-joined
    * render the reference also uses at sinks (`check_duplicate.py:266`).
    * `slice` clamps at the array end, so asking for one band past the
    * last full window yields the reference's trailing PARTIAL band (its
    * probe loop is `range(0, len+1, stride)`): 256 hashes at stride 6 ⇒
    * numBands=43, last band 4 elements. */
  def bands(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    // r21 (guide §4): compiled one-pass banding — the former HOF chain
    // paid an interpreted transform + slice + ArrayJoin + long→string
    // cast per band per row (43 bands/row on the 256-perm paths).
    // Output-identical (NgramSpec pins it against the HOF form, kept in
    // test scope as ParityReferences.bandsHof).
    graft.plans.Native.lsh_bands(sig, numBands, rowsPerBand)

  /** Estimated Jaccard from two equal-length MinHash signatures:
    * fraction of agreeing components. */
  def minhashJaccard(a: Column, b: Column): Column =
    // fast_round (r20): bit-identical to round(_, 6), but these run
    // once per CANDIDATE PAIR in the gate verifies — the built-in
    // Round's per-row BigDecimal/Double.toString construction is the
    // jstack-measured dominant cost of pair-stream rounding
    graft.plans.Native.fast_round(
      size(filter(zip_with(a, b, (x, y) => x === y), e => e))
        .cast("double") / size(a), 6)

  /** [[minhashJaccard]] of two signatures held on the driver (a Row's
    * array values; a null element never agrees): the same native
    * agreement fraction and HALF_UP rounding the plan runs, so the
    * value is bit-identical to the column's. */
  def minhashJaccardOf(a: Seq[Any], b: Seq[Any]): Double = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.plans.NativeImpl
    NativeImpl.roundHalfUp(NativeImpl.sigAgreeFrac(
      new GenericArrayData(a.toArray), new GenericArrayData(b.toArray)),
      6, math.pow(10, 6))
  }

  /** Exact Jaccard over two (deduplicated) string arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    graft.plans.Native.fast_round(inter / (size(a) + size(b) - inter), 6)
  }

  /** Portable 16-bit SimHash over a token array: bit b of the fingerprint
    * is 1 iff Σ_tokens (±1 by bit b of md5Long(token)) > 0. Tokens are
    * hashed once, then re-used across all 16 bit positions (same
    * interpreted-lambda economics as [[minhashSignature]]). DuckDB mirror
    * uses `>>`/`&` on the same md5-derived hashes. */
  def simhash16(toks: Column): Column = {
    val hashes = transform(toks, t => Texts.md5Long(t))
    val bitVals = transform(sequence(lit(0), lit(15)), b => {
      val contrib = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(call_function("shiftright", h, b)
          .bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(contrib > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))
    })
    aggregate(bitVals, lit(0L), (acc, x) => acc + x)
  }

  /** Hamming distance between two small (≤32-bit) fingerprints.
    * (r20 review: the fold previously walked bits 0–15 only — correct
    * for the 16-bit simhash that motivated it, but this primitive's
    * documented contract is 32 bits, and a 17–32-bit caller would get
    * distances that silently ignore the upper half. Now the walk
    * matches the contract; 64-bit fingerprints use `bit_count` on the
    * XOR directly, as the phash path does.) */
  def hamming(a: Column, b: Column): Column = {
    val x = a.bitwiseXOR(b)
    aggregate(sequence(lit(0), lit(31)), lit(0),
      (acc, bit) => acc + call_function("shiftright", x, bit)
        .bitwiseAND(lit(1L)).cast("int"))
  }
}
