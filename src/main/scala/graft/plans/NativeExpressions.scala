package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge.{AnyArray, InputType}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{DatasketchMinHashImpl, JsonWalkImpl, TitleImpl}

/** Custom Catalyst expressions — SURVEY.md §7.3: the scalar primitives
  * worth promoting from `Column` combinators to native expressions.
  * Each evaluates in one pass over primitive arrays/bytes (no boxing, no
  * interpreted lambda dispatch). The scalars are [[NativeFn]]s over the
  * static methods below, so each compiles to one direct call inside a
  * whole-stage codegen span; [[Native]] holds the Column API and the one
  * SQL registration table.
  */
object NativeImpl {

  /** Cosine over primitive double arrays — strict left-to-right sum, so
    * results are bit-identical to the `aggregate(zip_with(...))` fold
    * (and to DuckDB's sequential kernel). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Bit-identical fast path for Spark's `round(x, scale)` on DOUBLE
    * (r20 — found by jstack on the decade-3 knn candidate stream, the
    * r6 UTF8String.compareTo discipline): Catalyst's `Round` computes
    * `BigDecimal(x).setScale(scale, HALF_UP).toDouble`, and
    * `BigDecimal.valueOf(double)` goes through `Double.toString` —
    * ~1 µs/row of decimal-string formatting that DOMINATED the
    * 1.5e10-pair forced-8-bit knn join (jstack: most executor samples
    * inside BigDecimal/FloatingDecimal, not the cosine).
    *
    * Semantics replicated exactly (RoundBase bytecode, Spark 4.1.2):
    * NaN/Infinity pass through; otherwise round HALF_UP the SHORTEST-
    * DECIMAL representation of x at `scale` digits. The fast path
    * computes y = x·10^scale, floors, and decides by the fractional
    * part; it is provably identical to the decimal-string path outside
    * a guard band around frac = 0.5 (the shortest decimal differs from
    * x by ≤ ulp(x)/2, so y differs from that decimal·10^scale by a few
    * ulp(y) — far inside the band), and INSIDE the band it falls back
    * to the exact BigDecimal computation (hit rate ~2e-7 of uniform
    * inputs; exact decimal half-way values like 0.00005 land there and
    * get the true HALF_UP answer). The final k/10^scale division is a
    * single correctly-rounded IEEE op on integers below 2^52 — the
    * same nearest-double of k·10^-scale that BigDecimal.toDouble
    * returns. BigDecimal has no -0, so a -0.0 result normalizes to
    * 0.0 exactly as the slow path does. PropertySpec pins equality
    * against Spark's own round over randoms, half-way decimals, ±0,
    * NaN/±Inf, subnormals, and huge magnitudes. */
  def roundHalfUp(x: Double, scale: Int, pow: Double): Double = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return x
    val y = x * pow
    val ay = math.abs(y)
    // past 2^52 the PRODUCT is integer-valued as a double, but x's
    // shortest-decimal expansion can still carry digits beyond the
    // scale (the property pin caught exactly this at |x| ≈ 4.6e11,
    // scale 4) — and a finite x can overflow y to ±Inf. Both are rare
    // magnitudes the hot paths (similarities ≤ 1) never produce: take
    // the exact path rather than guessing.
    if (ay >= 4.503599627370496e15) return slowRoundHalfUp(x, scale)
    val f = math.floor(y)
    val frac = y - f
    val eps = math.max(1e-7, 8 * math.ulp(y))
    if (math.abs(frac - 0.5) <= eps) slowRoundHalfUp(x, scale)
    else {
      val r = (if (frac > 0.5) f + 1 else f) / pow
      if (r == 0.0) 0.0 else r
    }
  }

  /** The exact reference computation — Catalyst RoundBase's own
    * arithmetic, verbatim. */
  private def slowRoundHalfUp(x: Double, scale: Int): Double =
    scala.math.BigDecimal(x)
      .setScale(scale, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** The ANSI divide-by-zero error SigAgree raises on an empty
    * denominator array — Divide's own semantics, replicated (the
    * message mirrors Spark's DIVIDE_BY_ZERO guidance). */
  def sigAgreeDivideByZero(): ArithmeticException =
    new ArithmeticException(
      "[DIVIDE_BY_ZERO] sig_agree: empty signature array divides by " +
        "zero. Use try_divide semantics (set spark.sql.ansi.enabled " +
        "to false) to tolerate it and return NULL instead.")

  private val MinHashPrime = 2147483647L

  /** Single-pass MinHash: k-char shingles over the UTF8 text, one 32-bit
    * hash per shingle (`Murmur3_x86_32.hashUnsafeBytes`, seed 1 — the
    * reference's seed, `check_duplicate/utils.py:25`), `numPerms`
    * universal-hash permutations folded in the same loop. One allocation
    * (the signature array); no intermediate shingle strings beyond the
    * substring views. */
  def minhashSig(text: UTF8String, numPerms: Int, k: Int): ArrayData = {
    val sig = new Array[Long](numPerms)
    val as = new Array[Long](numPerms)
    val bs = new Array[Long](numPerms)
    var p = 0
    while (p < numPerms) {
      sig(p) = Long.MaxValue
      as(p) = 2654435761L * (p + 1) % MinHashPrime
      bs(p) = 40503L * (p + 7) % MinHashPrime
      p += 1
    }
    val chars = text.numChars()
    val n = math.max(chars - (k - 1), 1)
    var i = 0
    while (i < n) {
      val shingle = text.substringSQL(i + 1, k)
      val h0 = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
        shingle.getBaseObject, shingle.getBaseOffset, shingle.numBytes(), 1)
      val h = (h0.toLong & 0xffffffffL) % MinHashPrime
      p = 0
      while (p < numPerms) {
        val v = (as(p) * h + bs(p)) % MinHashPrime
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Per-document DISTINCT word n-grams, in one compiled pass over the
    * UTF8 bytes — the decontamination family's hot scalar (guide §4:
    * no interpreted HOFs in the hot path). SET- and ORDER-identical to
    * `array_distinct(transform(sequence(1, greatest(size(toks)-(n-1),
    * 1)), i => array_join(slice(toks, i, n), " ")))` over
    * `toks = filter(split(text, " "), t => t <> "")`, including the
    * edge cases that chain implies:
    *  - tokens are maximal runs of non-0x20 bytes (the literal
    *    single-space split with empties dropped; '\n'/'\t' are NOT
    *    separators, and 0x20 never occurs inside a UTF-8 multibyte
    *    sequence, so the byte walk is exact);
    *  - zero tokens (empty / all-space text) yields [""] — the HOF's
    *    greatest(..., 1) floor joins an empty slice;
    *  - fewer than n tokens yields one clamped gram (the whole list);
    *  - distinct keeps FIRST occurrence order.
    * Every output gram copies its bytes: the input UTF8String may be a
    * view into a reused row buffer, and the returned array outlives
    * the row. */
  def distWordNgrams(text: UTF8String, n: Int): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val nb = text.numBytes()
    // token spans as (startByte, lenBytes), discovered in one walk
    var starts = new Array[Int](16)
    var lens = new Array[Int](16)
    var m = 0
    var i = 0
    while (i < nb) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) != 0x20) {
        val s0 = i
        while (i < nb &&
          org.apache.spark.unsafe.Platform.getByte(base, off + i) != 0x20)
          i += 1
        if (m == starts.length) {
          starts = java.util.Arrays.copyOf(starts, m * 2)
          lens = java.util.Arrays.copyOf(lens, m * 2)
        }
        starts(m) = s0; lens(m) = i - s0; m += 1
      } else i += 1
    }
    val count = math.max(m - (n - 1), 1)
    // LinkedHashSet: first-occurrence order, exactly array_distinct's
    val seen = new java.util.LinkedHashSet[UTF8String](count * 2)
    var g = 0
    while (g < count) {
      val last = math.min(g + n, m) // exclusive token bound (slice clamps)
      var bytes = 0
      var t = g
      while (t < last) { bytes += lens(t); t += 1 }
      if (last > g) bytes += (last - g - 1) // single-space separators
      val out = new Array[Byte](bytes)
      var p = 0
      t = g
      while (t < last) {
        if (t > g) { out(p) = 0x20; p += 1 }
        org.apache.spark.unsafe.Platform.copyMemory(base, off + starts(t),
          out, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + p,
          lens(t))
        p += lens(t)
        t += 1
      }
      seen.add(UTF8String.fromBytes(out))
      g += 1
    }
    val arr = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    new GenericArrayData(arr)
  }

  /** LSH banding in one compiled pass (r21, guide §4) — exactly
    * `transform(sequence(0, numBands-1), b => struct(b as band_id,
    * array_join(slice(sig, b*rowsPerBand+1, rowsPerBand), "_") as
    * band_key))` over an array<long> signature, including the clamped
    * trailing partial band (slice past the end yields a short or empty
    * slice; array_join of an empty slice is ""). The HOF chain paid an
    * interpreted transform + slice allocation + ArrayJoin eval +
    * implicit long→string cast per band per row — 43 bands/row on the
    * 256-perm paths. Long rendering is Long.toString, identical to the
    * cast. */
  def lshBands(sig: ArrayData, numBands: Int, rowsPerBand: Int): ArrayData = {
    val n = sig.numElements()
    val out = new Array[AnyRef](numBands)
    var b = 0
    while (b < numBands) {
      val start = b * rowsPerBand
      val end = math.min(start + rowsPerBand, n)
      val sb = new java.lang.StringBuilder(rowsPerBand * 12)
      var i = start
      while (i < end) {
        if (i > start) sb.append('_')
        sb.append(sig.getLong(i))
        i += 1
      }
      out(b) = org.apache.spark.sql.catalyst.InternalRow(
        b, UTF8String.fromString(sb.toString))
      b += 1
    }
    new GenericArrayData(out)
  }

  /** dHash band values from a raw payload in one compiled pass (r21,
    * guide §4): exactly the mm_phash pipeline's
    * StubCodec.resize(bytes, 9, 8) nearest-neighbor byte gather
    * (out(i) = bytes((i·len/72).toInt), 0x00 when empty) followed by
    * the adjacent-pixel comparisons summed into four 16-bit band
    * values — replacing a mapPartitions Row-codec boundary plus an
    * upper(hex(...)) render and 72 substring+conv extractions per row.
    * All integer arithmetic; MultimodalSpec pins parity against the
    * declarative chain. */
  def dhashBands(bytes: Array[Byte]): ArrayData = {
    val len = bytes.length
    val px = new Array[Int](72)
    var i = 0
    while (i < 72) {
      px(i) = if (len == 0) 0
        else bytes(((i.toLong * len) / 72).toInt) & 0xff
      i += 1
    }
    val bands = new Array[Long](4)
    var k = 0
    while (k < 64) {
      val r = k / 8
      val c = k % 8
      if (px(r * 9 + c) < px(r * 9 + c + 1))
        bands(k / 16) |= (1L << (k % 16))
      k += 1
    }
    new GenericArrayData(bands)
  }

  /** The PORTABLE (md5-permutation) MinHash signature in one compiled
    * pass per document (r21, guide §4) — value-identical to the
    * explode → md5Long → %P → 16-min-aggregate pipeline
    * ([[graft.operators.MinHashPipeline.signatures]]'s former form, kept
    * in test scope as `ParityReferences.signaturesExplode` for the parity
    * pin): shingles are the
    * k=5 char windows `substr(ct, i, 5)` for i in 1..max(len-4, 1)
    * (clamped tails and the empty-text single "" shingle included),
    * each hashed md5 and folded to the SAME 60-bit value
    * `conv(substring(md5hex, 1, 15), 16, 10)` reads — the first 15 hex
    * digits are digest bytes 0..6 big-endian plus byte 7's high
    * nibble — then reduced mod 2^31−1 and swept through the affine
    * permutation family. No hex string, no conv parse, no shingle
    * explode, no aggregate: the signature never touches a shuffle. */
  def portableMinhashSig(text: UTF8String, numPerms: Int): ArrayData = {
    val P = MinHashPrime
    val sig = new Array[Long](numPerms)
    val as = new Array[Long](numPerms)
    val bs = new Array[Long](numPerms)
    var p = 0
    while (p < numPerms) {
      sig(p) = Long.MaxValue
      as(p) = 2654435761L * (p + 1) % P
      bs(p) = 40503L * (p + 7) % P
      p += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val chars = text.numChars()
    val n = math.max(chars - 4, 1)
    var i = 0
    while (i < n) {
      val sh = text.substringSQL(i + 1, 5)
      md.reset()
      val d = md.digest(sh.getBytes)
      var v = 0L
      var j = 0
      while (j < 7) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
      v = (v << 4) | ((d(7) & 0xf0L) >>> 4)
      val h = v % P
      p = 0
      while (p < numPerms) {
        val x = (as(p) * h + bs(p)) % P
        if (x < sig(p)) sig(p) = x
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** |A ∩ B| for two SORTED string arrays — O(n+m) merge walk with raw
    * UTF8String comparisons, replacing per-pair hash-set construction
    * (`array_intersect`) in the blocked Jaccard join's hot loop.
    *
    * `binaryCompare`, NOT `compareTo`: Spark 4.1's `UTF8String.compareTo`
    * front-runs every call with `SparkEnvUtils.isTesting` — which builds
    * a fresh Scala map from `System.getenv` — before delegating to
    * `binaryCompare`. In this hot loop (millions of pairs × ~50
    * comparisons each) that overhead measured ~50× the walk itself
    * (5,300 CPU-s → ~100 CPU-s at sf0.1). Same ordering semantics:
    * `array_sort` orders strings by the identical binary comparison. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).binaryCompare(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  /** Long-array variant of [[sortedIntersectCount]] — the merge walk
    * over dictionary-ENCODED token ids (r15: the Jaccard verify ships
    * fixed 8-byte ids instead of UTF8 tokens, so the candidate joins
    * carry ~4× less and the hot loop compares primitives). Same
    * precondition: both sides sorted ascending. */
  def sortedIntersectCountLong(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Fraction of agreeing positions in two long arrays — the MinHash
    * signature-agreement estimate as one codegen'd pass, replacing the
    * interpreted `zip_with`/`filter` lambda chain in the candidate-
    * verification hot loop (one eval per candidate pair).
    *
    * Exactly `size(filter(zip_with(a,b,(x,y)=>x===y), e=>e)) / size(a)`:
    * positions beyond min(|a|,|b|) pad to null under zip_with and a null
    * element never equals — both count as disagreement here, so
    * [[RewriteMinHashAgreement]] may substitute this unconditionally. */
  def sigAgreeFrac(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val n = math.min(na, b.numElements())
    var i = 0
    var c = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
        c += 1
      i += 1
    }
    c.toDouble / na
  }

  /** Unicode NFC canonical composition; identity (no allocation) when
    * the input is already normalized — the common case for real text. */
  def nfcNormalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC))
      s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** 64-bit SimHash over a token array (murmur3 per token, seed 1). */
  def simhash64(toks: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      val lo = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
        t.getBaseObject, t.getBaseOffset, t.numBytes(), 1)
      val hi = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
        t.getBaseObject, t.getBaseOffset, t.numBytes(), 2)
      val h = (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** 256-entry gear table for content-defined chunking, reduced mod 64
    * — only the low 6 bits of an entry can ever reach the 6-bit
    * boundary mask (addition carries propagate upward, never down), so
    * the reduced table is behaviorally identical to 64-bit gear
    * constants and small enough to mirror VERBATIM as a list literal in
    * the DuckDB oracle CTEs. Deterministic, engine-free generation
    * (the repo's md5Long convention — first 60 digest bits):
    * {{{
    * python3 -c "import hashlib
    * print([int(hashlib.md5(bytes([b])).hexdigest()[:15],16)%64
    *        for b in range(256)])"
    * }}}
    * PropertySpec re-derives the table independently from this formula
    * and checks the rolling evaluation against the windowed one.
    */
  val GearMod64: Array[Long] = Array(
    8, 24, 56, 25, 44, 57, 4, 34, 6, 52, 52, 48, 39, 31, 48, 6,
    44, 34, 51, 50, 52, 43, 27, 10, 49, 34, 11, 8, 27, 43, 59, 36,
    34, 60, 34, 2, 17, 8, 44, 30, 50, 42, 27, 57, 43, 52, 51, 36,
    30, 56, 54, 47, 49, 52, 58, 39, 57, 59, 36, 8, 24, 6, 53, 35,
    14, 58, 12, 20, 43, 50, 21, 26, 33, 57, 25, 57, 46, 38, 10, 57,
    7, 16, 39, 48, 63, 10, 32, 37, 17, 8, 16, 47, 6, 44, 39, 5,
    26, 42, 62, 51, 25, 31, 28, 27, 39, 6, 13, 9, 59, 34, 14, 45,
    9, 19, 12, 0, 6, 28, 61, 28, 3, 32, 45, 22, 18, 23, 3, 49,
    42, 17, 16, 9, 13, 47, 39, 62, 38, 16, 46, 38, 59, 47, 19, 6,
    14, 13, 45, 14, 9, 61, 7, 49, 20, 44, 5, 42, 30, 52, 44, 52,
    32, 15, 31, 25, 5, 13, 15, 26, 26, 53, 29, 48, 20, 63, 0, 8,
    36, 50, 48, 53, 2, 49, 63, 22, 31, 56, 1, 32, 47, 50, 53, 31,
    39, 61, 43, 13, 58, 50, 35, 27, 6, 18, 48, 37, 14, 27, 54, 8,
    14, 54, 45, 32, 58, 1, 33, 62, 60, 12, 52, 42, 8, 27, 10, 47,
    6, 3, 9, 6, 45, 21, 25, 43, 21, 29, 8, 16, 44, 31, 2, 5,
    55, 56, 18, 33, 27, 6, 41, 53, 53, 22, 36, 48, 0, 3, 44, 3)

  /** Content-defined chunk boundary candidates (1-based CHARACTER
    * positions) via a gear rolling hash — one shift+add+table-lookup
    * per character (FastCDC's hashing judgment, Xia et al. ATC'16
    * §3.1; replaces r15's per-position MD5 digest, a ~100× scan
    * constant on the same predicate shape). Rolling state
    * `h_i = 2·h_{i−1} + GEAR[cp_i mod 256]` (mod 2^64 by long
    * wraparound); position i ≥ 6 is a boundary iff `h_i ≡ 0 (mod 64)`
    * — expected chunk length 64, as before.
    *
    * Boundary LOCALITY and oracle portability both come from the same
    * identity: carries propagate upward only, so
    * `h_i mod 64 = Σ_{k=0..5} 2^k · GEAR[cp_{i−k} mod 256] (mod 64)` —
    * a pure function of the trailing 6 characters. An edit re-aligns
    * the tiling within 6 characters (the CDC contract), and the DuckDB
    * oracle evaluates exactly that windowed restatement over the same
    * literal table (engine rolls, oracle windows; PropertySpec pins the
    * equivalence on adversarial strings).
    *
    * ASCII fast path walks UTF8 bytes; multibyte falls back to a
    * codepoint walk so positions stay in the character units that
    * `substr` downstream consumes.
    */
  def gearBoundaries(s: UTF8String): ArrayData = {
    val nb = s.numBytes()
    var out = new Array[Int](8)
    var m = 0
    var h = 0L
    if (nb == s.numChars()) {
      var i = 0
      while (i < nb) {
        h = (h << 1) + GearMod64(s.getByte(i) & 0xff)
        i += 1
        if (i >= 6 && (h & 63L) == 0L) {
          if (m == out.length) out = java.util.Arrays.copyOf(out, m * 2)
          out(m) = i; m += 1
        }
      }
    } else {
      val str = s.toString
      var i = 0
      var pos = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        i += Character.charCount(cp)
        pos += 1
        // `cp & 0xff` ≡ the oracle's `ascii(...) % 256` and the
        // PropertySpec serial walk's `% 256` for every codepoint:
        // codePointAt is non-negative (0..0x10FFFF, supplementary plane
        // included), and for non-negative ints masking the low byte and
        // taking mod 256 are the same operation — so the three
        // restatements of the gear table (engine, oracle SQL, spec walk)
        // index it identically.
        h = (h << 1) + GearMod64(cp & 0xff)
        if (pos >= 6 && (h & 63L) == 0L) {
          if (m == out.length) out = java.util.Arrays.copyOf(out, m * 2)
          out(m) = pos; m += 1
        }
      }
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  /** FastCDC min/max legalization of a sorted candidate-boundary array
    * (Xia et al. ATC'16 §3.2) — the serial clamp as ONE O(c) pass:
    * candidates in order; a candidate within minLen of the last
    * surviving boundary is suppressed; a gap longer than maxLen first
    * force-splits at last+maxLen strides (tail included, via `n`).
    *
    * r16: replaces the r15 `aggregate`-fold formulation, whose
    * growing-`concat` state array made the legalization O(c²) element
    * copies per document — measured 11.1 s for ONE 500k-char document
    * (the reference's document bound, ~7k candidates), vs milliseconds
    * here. The rule is unchanged: PropertySpec's driver-side serial
    * walk and the oracle's recursive CTE both still state it
    * independently and compare tilings bit-for-bit.
    */
  def cdcLegalize(cand: ArrayData, n: Int, minLen: Int, maxLen: Int): ArrayData = {
    val c = cand.numElements()
    var out = new Array[Int](math.max(8, c))
    var m = 0
    def push(p: Int): Unit = {
      if (m == out.length) out = java.util.Arrays.copyOf(out, m * 2)
      out(m) = p; m += 1
    }
    var last = 0
    var i = 0
    while (i < c) {
      val b = cand.getInt(i)
      while (b - last > maxLen) { last += maxLen; push(last) }
      if (b - last >= minLen) { last = b; push(b) }
      i += 1
    }
    while (n - last > maxLen) { last += maxLen; push(last) }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  /** Rank a broadcast codebook's cells by squared L2 from `v` —
    * returns the FULL sorted list as rows of (d2, c_id), d2 ascending
    * with ties to the lowest c_id. Semantics are bit-identical to the
    * `array_sort(transform(cells, c -> struct(aggregate(zip_with(...)),
    * c_id)))` HOF chain it replaces on the IVF/PQ assignment path
    * (same left-to-right IEEE fold `acc += (x−y)²`; same total order —
    * the sums are non-negative, so no -0.0/NaN comparison edge), but
    * one compiled pass per row instead of k interpreted lambda trees
    * plus per-element struct boxing — the r18 sim battery measured the
    * interpreted chain costing 1.4–1.7× wall at 200k–2M vectors, which
    * would have traded a corpus-sized shuffle for a CPU regression.
    * PRECONDITION: `cells` rows are struct(c_id: long, c_v:
    * array<double>) with every c_v the same length as `v`. */
  def cellRank(v: ArrayData, cells: ArrayData): ArrayData = {
    val k = cells.numElements()
    val d2s = new Array[Double](k)
    val ids = new Array[Long](k)
    val dim = v.numElements()
    var c = 0
    while (c < k) {
      val cell = cells.getStruct(c, 2)
      ids(c) = cell.getLong(0)
      val cv = cell.getArray(1)
      var acc = 0.0
      var j = 0
      while (j < dim) {
        val d = v.getDouble(j) - cv.getDouble(j)
        acc += d * d
        j += 1
      }
      d2s(c) = acc
      c += 1
    }
    // insertion sort by (d2 asc, c_id asc): k is codebook-sized (8)
    var i = 1
    while (i < k) {
      val dv = d2s(i); val iv = ids(i)
      var j = i - 1
      while (j >= 0 && (d2s(j) > dv || (d2s(j) == dv && ids(j) > iv))) {
        d2s(j + 1) = d2s(j); ids(j + 1) = ids(j); j -= 1
      }
      d2s(j + 1) = dv; ids(j + 1) = iv
      i += 1
    }
    val rows = new Array[Any](k)
    i = 0
    while (i < k) {
      rows(i) = InternalRow(d2s(i), ids(i))
      i += 1
    }
    new GenericArrayData(rows)
  }
}

/** One native scalar function: `name(args…)` in SQL, Column APIs and
  * analyzed plans, computed by the static method `impl` of the Scala
  * object whose class is `obj` ([[NativeImpl]] and the other `*Impl`
  * objects) — the RuntimeReplaceable + StaticInvoke pattern of Spark's
  * own built-ins. The analyzer casts the arguments to `argTypes`; the
  * optimizer's first batch (`ReplaceExpressions`) swaps in
  * [[replacement]], one `StaticInvoke` of the object's static forwarder:
  * a direct call inside whole-stage codegen, a reflective call when
  * interpreted. NULL in any argument is NULL out; no impl returns NULL.
  * Plan-time parameters (permutation counts, band shapes, scales) ride
  * as literal children, so they inline into the generated call.
  *
  * An expression the optimizer inserts AFTER `ReplaceExpressions`
  * ([[SigAgree]], via [[RewriteMinHashAgreement]]) cannot use this
  * pattern: nothing would replace it.
  */
case class NativeFn(name: String, obj: Class[_], impl: String,
    returnType: DataType, argTypes: Seq[InputType],
    children: Seq[Expression])
    extends RuntimeReplaceable with ImplicitCastInputTypes {
  override def inputTypes: Seq[InputType] = argTypes
  override def prettyName: String = name
  override lazy val replacement: Expression = StaticInvoke(obj, returnType,
    impl, children, argTypes, returnNullable = false)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeFn =
    copy(children = newChildren)
}

/** Every native scalar, one builder each: its name, impl, result type
  * and argument types. The `require`s are input checks that fire when
  * the Column is built. Semantics live on the impl methods. */
object NativeFn {
  private def call(owner: AnyRef, name: String, impl: String,
      returnType: DataType, args: (Expression, InputType)*): NativeFn =
    NativeFn(name, owner.getClass, impl, returnType, args.map(_._2),
      args.map(_._1))
  private def const(v: Int): (Expression, InputType) =
    Literal(v) -> IntegerType

  private val Longs = ArrayType(LongType, containsNull = false)
  private val Ints = ArrayType(IntegerType, containsNull = false)
  private val Strings = ArrayType(StringType, containsNull = false)
  private def rows(fields: (String, DataType)*): DataType = ArrayType(
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) }),
    containsNull = false)

  def cosineSim(a: Expression, b: Expression): NativeFn =
    call(NativeImpl, "cosine_sim", "cosine", DoubleType,
      a -> ArrayType(DoubleType), b -> ArrayType(DoubleType))

  def fastRound(x: Expression, scale: Int): NativeFn = {
    require(scale >= 0 && scale <= 15,
      s"fast_round: scale must be in [0, 15], got $scale " +
        "(10^scale must be exact in double for the fast path)")
    call(NativeImpl, "fast_round", "roundHalfUp", DoubleType,
      x -> DoubleType, const(scale),
      Literal(math.pow(10, scale)) -> DoubleType)
  }

  /** `cells` rows are struct(c_id: long, c_v: array<double>) under any
    * field names (the PQ codebook calls its vector `c_sub`), so the
    * argument accepts any array instead of casting row by row. */
  def cellRank(v: Expression, cells: Expression): NativeFn =
    call(NativeImpl, "cell_rank", "cellRank",
      rows("d2" -> DoubleType, "c_id" -> LongType),
      v -> ArrayType(DoubleType), cells -> AnyArray)

  def minhashSig(text: Expression, numPerms: Int, k: Int): NativeFn =
    call(NativeImpl, "minhash_sig", "minhashSig", Longs,
      text -> StringType, const(numPerms), const(k))

  def distWordNgrams(text: Expression, n: Int): NativeFn = {
    require(n >= 1, s"dist_word_ngrams: n must be >= 1, got $n")
    call(NativeImpl, "dist_word_ngrams", "distWordNgrams", Strings,
      text -> StringType, const(n))
  }

  def lshBands(sig: Expression, numBands: Int, rowsPerBand: Int): NativeFn = {
    require(numBands >= 1 && rowsPerBand >= 1,
      s"lsh_bands: numBands/rowsPerBand must be >= 1, got $numBands/$rowsPerBand")
    call(NativeImpl, "lsh_bands", "lshBands",
      rows("band_id" -> IntegerType, "band_key" -> StringType),
      sig -> ArrayType(LongType), const(numBands), const(rowsPerBand))
  }

  def dhashBands(content: Expression): NativeFn =
    call(NativeImpl, "dhash_bands", "dhashBands", Longs,
      content -> BinaryType)

  def portableMinhashSig(text: Expression, numPerms: Int): NativeFn = {
    require(numPerms >= 1,
      s"portable_minhash_sig: numPerms >= 1, got $numPerms")
    call(NativeImpl, "portable_minhash_sig", "portableMinhashSig", Longs,
      text -> StringType, const(numPerms))
  }

  def simhash64(toks: Expression): NativeFn =
    call(NativeImpl, "simhash64", "simhash64", LongType,
      toks -> ArrayType(StringType))

  def nfcNormalize(s: Expression): NativeFn =
    call(NativeImpl, "nfc_normalize", "nfcNormalize", StringType,
      s -> StringType)

  def gearBoundaries(s: Expression): NativeFn =
    call(NativeImpl, "gear_boundaries", "gearBoundaries", Ints,
      s -> StringType)

  /** min/max chunk lengths are plan-time constants. */
  def cdcLegalize(cand: Expression, n: Expression, minLen: Int,
      maxLen: Int): NativeFn =
    call(NativeImpl, "cdc_legalize", "cdcLegalize", Ints,
      cand -> ArrayType(IntegerType), n -> IntegerType, const(minLen),
      const(maxLen))

  def jsonFindKey(json: Expression, key: Expression): NativeFn =
    call(JsonWalkImpl, "json_find_key", "findKey", Strings,
      json -> StringType, key -> StringType)

  def jsonFlattenPaths(json: Expression): NativeFn =
    call(JsonWalkImpl, "json_flatten_paths", "flatten",
      rows("path" -> StringType, "value" -> StringType), json -> StringType)

  def titlePostprocess(title: Expression): NativeFn =
    call(TitleImpl, "title_postprocess", "full", StringType,
      title -> StringType)

  def datasketchMinhash(text: Expression, k: Int): NativeFn =
    call(DatasketchMinHashImpl, "datasketch_minhash", "signature", Longs,
      text -> StringType, const(k))
}

/** sorted_intersect_count(array<string>|array<long>, same) → int.
  * PRECONDITION: both arrays sorted ascending (callers sort once upstream;
  * the merge walk is wrong on unsorted input). Dispatches on the STATIC
  * element type: long arrays take the primitive walk (r15). */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  // the walk dispatches on the static element type, so mixed inputs
  // (array<long> vs array<string>) must die at ANALYSIS time — the
  // long walk on UTF8 ArrayData would return garbage, not an error
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count requires both arguments to be " +
          s"array<string> or both array<bigint>, got ${l.sql} and ${r.sql}")
    }
  private lazy val isLong = left.dataType match {
    case org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, _) => true
    case _ => false
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    if (isLong)
      NativeImpl.sortedIntersectCountLong(a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData])
    else
      NativeImpl.sortedIntersectCount(a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isLong) "sortedIntersectCountLong" else "sortedIntersectCount"
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.plans.NativeImpl.$fn($a, $b)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** sig_agree(array<long>, array<long>) → double (fraction equal). */
case class SigAgree(left: Expression, right: Expression,
    failOnError: Boolean = org.apache.spark.sql.internal.SQLConf.get
      .ansiEnabled)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  // r20 review: an EMPTY first (denominator) array replicates exactly
  // what the Divide(0, 0) this expression replaces would do — NULL off
  // ANSI, DIVIDE_BY_ZERO under ANSI (captured at plan build like
  // Divide's own evalMode) — instead of the previous 0.0/0 = NaN, which
  // silently flipped NULL→NaN through RewriteMinHashAgreement (NaN
  // poisons any avg/sum above it, where NULL is ignored) and suppressed
  // the error ANSI mode mandates.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    if (arr.numElements() == 0) {
      if (failOnError) throw NativeImpl.sigAgreeDivideByZero()
      null
    } else NativeImpl.sigAgreeFrac(arr, b.asInstanceOf[ArrayData])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($a.numElements() == 0) {
         |  ${if (failOnError)
             "throw graft.plans.NativeImpl.sigAgreeDivideByZero();"
           else s"${ev.isNull} = true;"}
         |} else {
         |  ${ev.value} = graft.plans.NativeImpl.sigAgreeFrac($a, $b);
         |}
       """.stripMargin)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigAgree =
    copy(left = newLeft, right = newRight)
}

/** sig_min(array<long>) → array<long>: element-wise minimum across the
  * group — the MinHash signature MERGE as a custom UDAF
  * (`TypedImperativeAggregate`, SURVEY §2.11's `MinHashAgg`). min is
  * associative and commutative, so partial buffers combine map-side and
  * the shuffle carries one `numPerms`-long array per (partition, group):
  * signatures of document chunks aggregate to exactly the whole-document
  * signature without re-reading any text. Buffer is a primitive
  * long[] sized lazily from the first input; serialization is the raw
  * 8·n bytes. */
case class SigMin(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[Array[Long]]
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def createAggregationBuffer(): Array[Long] = null

  // r20 review: ragged input lengths REFUSE loudly instead of
  // min-walking the shorter prefix — the buffer is sized by whichever
  // row a task consumed first, so silent truncation would make the
  // answer depend on partition/arrival order (nondeterministic across
  // runs, with no warning). Signatures in one group share a width by
  // construction; a mixed-width group is a caller bug.
  private def requireWidth(got: Int, want: Int): Unit =
    if (got != want) throw new IllegalArgumentException(
      s"sig_min: mixed signature widths in one group ($want then $got) " +
        "— element-wise min is only defined over equal-length arrays")

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val b = if (buf == null) Array.fill(n)(Long.MaxValue) else buf
      requireWidth(n, b.length)
      var i = 0
      while (i < n) {
        val x = arr.getLong(i)
        if (x < b(i)) b(i) = x
        i += 1
      }
      b
    }
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
    if (b1 == null) b2
    else if (b2 == null) b1
    else {
      requireWidth(b2.length, b1.length)
      var i = 0
      while (i < b1.length) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
      b1
    }

  override def eval(buf: Array[Long]): Any =
    if (buf == null) null else new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] =
    if (buf == null) Array.emptyByteArray
    else {
      val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
      buf.foreach(bb.putLong)
      bb.array()
    }

  override def deserialize(bytes: Array[Byte]): Array[Long] =
    if (bytes.isEmpty) null
    else {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      Array.fill(bytes.length / 8)(bb.getLong)
    }

  override def withNewMutableAggBufferOffset(newOffset: Int): SigMin =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SigMin =
    copy(inputAggBufferOffset = newOffset)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def withNewChildInternal(newChild: Expression): SigMin =
    copy(child = newChild)
  override def prettyName: String = "sig_min"
}

/** Mutable aggregation state of [[TopKPairs]]: the current top-k
  * (score DESC, id ASC) pairs in two fixed PRIMITIVE slot arrays, kept
  * rank-sorted by an O(k) insertion with an early exit on the current
  * worst slot — no boxing, no struct allocation, no comparator
  * dispatch per row. Ordering matches Spark's own double sort
  * semantics exactly (`Utils.nanSafeCompareDoubles`: NaN greatest,
  * -0.0 == 0.0), so the result is bit-identical to
  * `row_number().over(orderBy(score.desc, id.asc))`. */
final class TopKPairsBuf(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var n = 0
  // Spark's nan-safe double compare (NaN greatest; -0.0 == 0.0 — what
  // both the Tungsten sort and codegen'd comparisons use)
  private def cmpD(x: Double, y: Double): Int = {
    val xn = java.lang.Double.isNaN(x)
    val yn = java.lang.Double.isNaN(y)
    if ((xn && yn) || (x == y)) 0
    else if (xn) 1
    else if (yn) -1
    else if (x > y) 1 else -1
  }
  /** (s, i) ranks strictly before slot j (score DESC, id ASC). */
  private def before(s: Double, i: Long, j: Int): Boolean = {
    val c = cmpD(s, scores(j))
    c > 0 || (c == 0 && i < ids(j))
  }
  /** Insert keeping rank order; false iff rejected (buffer full and
    * (s, i) not before the current worst — the usual case in a hot
    * stream, one compare). */
  def insert(s: Double, i: Long): Boolean = {
    if (n == k) {
      if (!before(s, i, k - 1)) return false
      n = k - 1
    }
    var pos = n
    while (pos > 0 && before(s, i, pos - 1)) {
      scores(pos) = scores(pos - 1); ids(pos) = ids(pos - 1)
      pos -= 1
    }
    scores(pos) = s; ids(pos) = i
    n += 1
    true
  }
}

/** top_k_pairs(score double, id long; k) → array<struct<sim, nbr>> in
  * RANK order (score DESC, id ASC, nan-safe) — the r18 "declined heap"
  * done right (r18 verdict Next 5): where Spark's `CollectTopK` keeps a
  * boxed `BoundedPriorityQueue` of struct rows under interpreted
  * ordering (measured ~4× slower than the rank window at right-sized
  * fan-out, `bench_scale_sim_syn10_topk_r18.json`), this aggregate
  * keeps two fixed primitive slot arrays per group (the [[SigMin]]
  * pattern). Per input row: one O(k) primitive insertion, usually one
  * compare (early exit on the current worst). Memory is k slots per
  * group at ANY fan-out — the property the rank window lacks: its sort
  * buffers the whole candidate stream, which at an undersized LSH
  * width is the 8-bit decade-3 disk death (SCALE.md r18). Map-side
  * partial merge ships at most k pairs per (task, group). Output is
  * already rank-sorted: callers `posexplode` and use `pos + 1` as the
  * rank — no array_sort, no window. */
case class TopKPairs(score: Expression, id: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[TopKPairsBuf]
  with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression]
  // r20 (ADVICE): ImplicitCastInputTypes, not bare ExpectsInputTypes —
  // an INT id column or FLOAT score coerces like it would under a
  // built-in aggregate instead of failing analysis with a type error
  with ImplicitCastInputTypes {
  require(k > 0, s"top_k_pairs: k must be positive, got $k")

  override def left: Expression = score
  override def right: Expression = id
  override def inputTypes = Seq(DoubleType, LongType)

  override def createAggregationBuffer(): TopKPairsBuf = new TopKPairsBuf(k)

  override def update(buf: TopKPairsBuf, input: InternalRow): TopKPairsBuf = {
    val s = score.eval(input)
    if (s != null) {
      val i = id.eval(input)
      if (i != null)
        buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(b1: TopKPairsBuf, b2: TopKPairsBuf): TopKPairsBuf = {
    var j = 0
    // b2's slots are rank-sorted, so the first REJECTED slot ends the
    // merge: every later slot ranks after it and would be rejected too
    while (j < b2.n && b1.insert(b2.scores(j), b2.ids(j))) j += 1
    b1
  }

  override def eval(buf: TopKPairsBuf): Any = {
    val out = new Array[Any](buf.n)
    var j = 0
    while (j < buf.n) {
      out(j) = new GenericInternalRow(
        Array[Any](buf.scores(j), buf.ids(j)))
      j += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKPairsBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.n)
    bb.putInt(buf.n)
    var j = 0
    while (j < buf.n) {
      bb.putDouble(buf.scores(j)); bb.putLong(buf.ids(j)); j += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKPairsBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b = new TopKPairsBuf(k)
    val n = bb.getInt
    var j = 0
    // slots arrive rank-sorted — write them straight in
    while (j < n) {
      b.scores(j) = bb.getDouble; b.ids(j) = bb.getLong; j += 1
    }
    b.n = n
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sim", DoubleType, nullable = false),
    StructField("nbr", LongType, nullable = false))),
    containsNull = false)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKPairs =
    copy(score = newLeft, id = newRight)
  override def prettyName: String = "top_k_pairs"
}

object TopKPairs {
  /** Shared SQL-registration builder (GraftExtensions + Native.register):
    * k parameterizes the aggregation buffer, so it must be a foldable
    * non-null integer literal — validated here with analyzer-style
    * messages instead of the opaque eval error / NPE a bare
    * `es(2).eval().asInstanceOf[Number]` produced (r20, ADVICE). */
  def forSql(es: Seq[Expression]): TopKPairs = {
    require(es.size == 3,
      s"top_k_pairs requires 3 arguments (score, id, k); got ${es.size}")
    val ke = es(2)
    require(ke.foldable,
      "top_k_pairs: parameter k must be a foldable integer literal " +
        s"(it sizes the per-group aggregation buffer at plan build); " +
        s"got the non-foldable expression ${ke.sql}")
    val kv = ke.eval()
    require(kv != null, "top_k_pairs: parameter k must not be NULL")
    val k = kv match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"top_k_pairs: parameter k must be an integer literal; got " +
          s"$other of type ${ke.dataType.sql}")
    }
    TopKPairs(es(0), es(1), k)
  }
}

/** bloom_might_contain(text) → boolean — the sketch membership probe as
  * a NATIVE expression instead of a Scala UDF, so the Bloom prefilter
  * stays inside the whole-stage-codegen span with the explode/distinct
  * it follows (a UDF forces a codegen boundary and boxes every row).
  * The filter's serialized bits travel with the expression (plans ship
  * to executors once), and deserialization is once per task via the
  * transient lazy. Probing `mightContainBinary` on the UTF8 bytes is
  * bit-identical to the builder's `putString` (both hash the UTF-8
  * encoding), so no String materializes per row. */
case class BloomMightContain(child: Expression, bits: Array[Byte])
    extends UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.util.sketch.BloomFilter
  // (no type ascription: AbstractDataType is private[sql] in Spark 4)
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"
  // Array[Byte] compares by reference under case-class equality, which
  // would make two semantically identical probes never equal — defeating
  // subexpression elimination and plan-cache reuse. Compare the bits by
  // CONTENT (and keep equals/hashCode consistent).
  override def equals(other: Any): Boolean = other match {
    case b: BloomMightContain =>
      child == b.child && java.util.Arrays.equals(bits, b.bits)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(bits)
  @transient private lazy val filter: BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bits))
  override def nullSafeEval(t: Any): Any =
    filter.mightContainBinary(t.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomProbe", this,
      classOf[BloomMightContain].getName)
    defineCodeGen(ctx, ev, c => s"$ref.probe($c)")
  }
  /** codegen entry point — keeps the generated code a single call. */
  def probe(t: UTF8String): Boolean = filter.mightContainBinary(t.getBytes)
  override protected def withNewChildInternal(
      newChild: Expression): BloomMightContain = copy(child = newChild)
}

object Native {
  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
  def cosine_sim(a: Column, b: Column): Column =
    column(NativeFn.cosineSim(expression(a), expression(b)))
  /** Bit-identical `round(x, scale)` for DOUBLE without the per-row
    * BigDecimal/Double.toString tax — see [[NativeImpl.roundHalfUp]].
    * For PER-ROW hot paths (candidate-pair streams) only; per-GROUP
    * rounds of aggregate outputs are not hot and keep the built-in. */
  def fast_round(x: Column, scale: Int): Column =
    column(NativeFn.fastRound(expression(x), scale))
  /** Codebook cells ranked by squared L2 — see [[NativeImpl.cellRank]]. */
  def cell_rank(v: Column, cb: Column): Column =
    column(NativeFn.cellRank(expression(v), expression(cb)))

  /** Per-group top-k `(score DESC, id ASC)` pairs over primitive slot
    * arrays, already rank-sorted — see [[TopKPairs]]. Constant k-slot
    * memory at any fan-out, without the boxed-queue overhead that made
    * Spark's CollectTopK heap ~4× slower than the rank window (r18). */
  def top_k_pairs(score: Column, id: Column, k: Int): Column =
    column(TopKPairs(expression(score), expression(id), k)
      .toAggregateExpression())
  def minhash_sig(c: Column, numPerms: Int = 256, k: Int = 5): Column =
    column(NativeFn.minhashSig(expression(c), numPerms, k))
  def simhash64(c: Column): Column = column(NativeFn.simhash64(expression(c)))
  def sorted_intersect_count(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))
  def dist_word_ngrams(c: Column, n: Int): Column =
    column(NativeFn.distWordNgrams(expression(c), n))
  def lsh_bands(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    column(NativeFn.lshBands(expression(sig), numBands, rowsPerBand))
  def dhash_bands(c: Column): Column =
    column(NativeFn.dhashBands(expression(c)))
  def portable_minhash_sig(c: Column, numPerms: Int): Column =
    column(NativeFn.portableMinhashSig(expression(c), numPerms))
  def sig_agree(a: Column, b: Column): Column =
    column(SigAgree(expression(a), expression(b)))
  def sig_min_agg(c: Column): Column =
    column(SigMin(expression(c)).toAggregateExpression())
  def nfc_normalize(c: Column): Column =
    column(NativeFn.nfcNormalize(expression(c)))
  def gear_boundaries(c: Column): Column =
    column(NativeFn.gearBoundaries(expression(c)))
  def cdc_legalize(bs: Column, n: Column, minLen: Int, maxLen: Int): Column =
    column(NativeFn.cdcLegalize(expression(bs), expression(n), minLen, maxLen))
  def bloom_might_contain(c: Column, bits: Array[Byte]): Column =
    column(BloomMightContain(expression(c), bits))

  /** Every SQL-callable graft function as (name, usage, builder): the one
    * list [[GraftExtensions]] injects at session build and [[register]]
    * installs into a running session. Aggregates are built bare; the
    * analyzer wraps an `AggregateFunction` from the registry into an
    * `AggregateExpression` itself. */
  val sqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", "cosine_sim(a, b) - cosine of two double arrays",
      es => NativeFn.cosineSim(es(0), es(1))),
    ("minhash_sig", "minhash_sig(text) - 256-perm murmur3 MinHash",
      es => NativeFn.minhashSig(es(0), 256, 5)),
    ("simhash64", "simhash64(tokens) - 64-bit SimHash",
      es => NativeFn.simhash64(es(0))),
    ("datasketch_minhash",
      "datasketch_minhash(text) - bit-exact datasketch seed-1 signature",
      es => NativeFn.datasketchMinhash(es(0), 5)),
    ("sorted_intersect_count",
      "sorted_intersect_count(a, b) - |A∩B| of sorted string arrays",
      es => SortedIntersectCount(es(0), es(1))),
    ("sig_agree",
      "sig_agree(a, b) - fraction of agreeing MinHash signature positions",
      es => SigAgree(es(0), es(1))),
    ("sig_min",
      "sig_min(sig) - element-wise min of long-array signatures (UDAF)",
      es => SigMin(es(0))),
    // k sizes the aggregation buffer, so it must be a literal; the
    // shared builder validates it with analyzer-style messages
    ("top_k_pairs", "top_k_pairs(score, id, k) - bounded per-group top-k " +
      "(score DESC, id ASC) pairs, rank-ordered (UDAF)", TopKPairs.forSql),
    ("nfc_normalize", "nfc_normalize(s) - Unicode NFC canonical composition",
      es => NativeFn.nfcNormalize(es(0))),
    ("gear_boundaries",
      "gear_boundaries(s) - FastCDC gear-hash boundary candidates",
      es => NativeFn.gearBoundaries(es(0))),
    ("json_find_key",
      "json_find_key(json, key) - recursive document-order key search",
      es => NativeFn.jsonFindKey(es(0), es(1))),
    ("json_flatten_paths",
      "json_flatten_paths(json) - recursive (path, value) flatten",
      es => NativeFn.jsonFlattenPaths(es(0))))

  /** Register [[sqlFunctions]] for SQL use in an existing session
    * (`SELECT cosine_sim(a, b) …`); [[GraftExtensions]] is the
    * session-build-time equivalent. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }
}
