package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Bit-exact datasketch MinHash — SURVEY §7.4 hard-part 1 ("oracle-parity
  * for library-bound functions").
  *
  * Reproduces `datasketch.MinHash(num_perm=256, seed=1)` over the
  * reference's shingle construction exactly
  * (`lambdas/check_duplicate/utils.py:22-30`):
  *
  *   shingles = kshingle.shingleset_k(s, k)  — the SET of all UNIQUE
  *              character substrings of lengths 1..k (not just fixed-k
  *              windows)
  *   h    = sha1(shingle_utf8)[0:4] little-endian as uint32
  *   phv  = ((a·h + b) mod (2^61−1)) & (2^32−1)    (uint64 wrap on a·h)
  *   sig  = elementwise min over shingles, init 2^32−1
  *
  * The uint64 wrap of `a·h + b` matches two's-complement Long overflow
  * bit-for-bit; the mod is `Long.remainderUnsigned`. Given the same
  * preprocessed string, signatures equal the reference's hashvalues
  * bit-for-bit — pinned against an independent numpy implementation in
  * DatasketchSpec. Iteration order over the shingle set doesn't matter
  * (min is commutative), so the JVM HashSet ordering is irrelevant.
  */
object DatasketchMinHashImpl {
  private val Prime = (1L << 61) - 1
  private val MaxHash = (1L << 32) - 1

  // SHA-1 instance construction is the dominant cost at shingleset-1..k
  // volumes (~5 digests per char); reuse one digest per executor thread.
  private val digestTL = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-1")
  }

  def sha1Hash32(bytes: Array[Byte]): Long =
    sha1Hash32(bytes, 0, bytes.length, digestTL.get())

  private def sha1Hash32(bytes: Array[Byte], off: Int, len: Int,
      md: java.security.MessageDigest): Long = {
    md.reset()
    md.update(bytes, off, len)
    val d = md.digest()
    ((d(0) & 0xffL)) | ((d(1) & 0xffL) << 8) |
      ((d(2) & 0xffL) << 16) | ((d(3) & 0xffL) << 24)
  }

  /** x mod (2^61−1) for x interpreted as uint64: split at bit 61 and add.
    * hi = x >>> 61 ≤ 7, lo = x & P ≤ P−1, so one conditional subtract
    * suffices — avoids `Long.remainderUnsigned`'s division in the hot
    * loop. Bit-equivalence is pinned by DatasketchSpec. */
  @inline private def modPrime(x: Long): Long = {
    val v = (x & Prime) + (x >>> 61)
    if (v >= Prime) v - Prime else v
  }

  def signature(text: UTF8String, k: Int): ArrayData = {
    val a = DatasketchPerms.A
    val b = DatasketchPerms.B
    val n = a.length
    val chars = text.numChars()
    val md = digestTL.get()
    // shingleset_k: unique substrings of every length 1..k. Dedup on the
    // substring (set semantics) skips redundant sha1 work; dedup again on
    // the 32-bit hash (phv depends only on h) skips redundant perm work.
    val seen = new java.util.HashSet[UTF8String]()
    val hSeen = new java.util.HashSet[Long]()
    var hBuf = new Array[Long](math.max(64, math.min(chars * k, 1 << 16)))
    var hCount = 0
    val bytes = text.getBytes
    val ascii = bytes.length == chars // 1 byte per char ⇒ slice without copy
    var len = 1
    while (len <= k) {
      var i = 0
      val last = chars - len
      while (i <= last) {
        var h = -1L
        if (ascii) {
          if (seen.add(UTF8String.fromBytes(bytes, i, len)))
            h = sha1Hash32(bytes, i, len, md)
        } else {
          val sh = text.substringSQL(i + 1, len)
          if (seen.add(sh)) {
            val sb = sh.getBytes
            h = sha1Hash32(sb, 0, sb.length, md)
          }
        }
        if (h >= 0 && hSeen.add(h)) {
          if (hCount == hBuf.length)
            hBuf = java.util.Arrays.copyOf(hBuf, hBuf.length * 2)
          hBuf(hCount) = h
          hCount += 1
        }
        i += 1
      }
      len += 1
    }
    val sig = new Array[Long](n)
    var p = 0
    while (p < n) {
      val ap = a(p)
      val bp = b(p)
      var m = MaxHash
      var j = 0
      while (j < hCount) {
        // a·h wraps in uint64 exactly like signed-Long overflow
        val v = modPrime(ap * hBuf(j) + bp) & MaxHash
        if (v < m) m = v
        j += 1
      }
      sig(p) = m
      p += 1
    }
    new GenericArrayData(sig)
  }
}

object DatasketchMinHash {
  /** datasketch_minhash(text) → array<long>[256] (seed-1 parity). */
  def datasketch_minhash(c: Column, k: Int = 5): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(graft.plans.NativeFn
      .datasketchMinhash(org.apache.spark.sql.graftbridge.Bridge.expression(c), k))

  /** The reference's pre-shingle text prep (`check_duplicate/utils.py:
    * 13-19`): lowercase → `word_tokenize` → drop [[DatasketchStopwords]]
    * → re-join with single spaces. `word_tokenize` is approximated by
    * splitting punctuation runs off word characters — identical output
    * on cleaned document text; NLTK's exact tokenizer needs the trained
    * punkt sentence model (a data file, unavailable to a zero-egress
    * engine) plus treebank contraction rules, so parity is claimed for
    * the signature construction given the same token stream, not for
    * punkt itself. */
  def datasketch_preprocess(c: Column): Column = {
    import org.apache.spark.sql.functions._
    val padded = regexp_replace(lower(c), "([^a-z0-9\\s])", " $1 ")
    array_join(
      Texts.filterStopwords(Texts.tokens(padded), DatasketchStopwords.Words),
      " ")
  }
}
