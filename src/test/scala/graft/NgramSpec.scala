package graft

import graft.functions.Texts
import org.apache.spark.sql.functions._

/** Pins the r21 native `dist_word_ngrams` to the HOF chain it replaces:
  * `array_distinct(wordNgrams(tokens(text), n))` — element-for-element,
  * ORDER included (first-occurrence), across the chain's edge cases
  * (empty text, all-spaces, multibyte, newlines/tabs inside tokens,
  * fewer tokens than n, duplicate grams, consecutive spaces). One Spark
  * job per n over a generated corpus (the PropertySpec discipline). */
class NgramSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(0xBEEF21)

  private def randomText(): String = {
    val words = Seq("alpha", "beta", "Gamma!", "δelta", "a", "x9",
      "tab\tinside", "new\nline", "alpha", "beta") // dups on purpose
    val k = rnd.nextInt(14) // 0..13 tokens — below and above n
    (0 until k).map { _ =>
      val w = words(rnd.nextInt(words.size))
      // occasional doubled space: the literal split drops the empty
      if (rnd.nextInt(5) == 0) w + " " else w
    }.mkString(" ")
  }

  test("dist_word_ngrams(text, n) equals " +
    "array_distinct(wordNgrams(tokens(text), n)) on 4000 generated " +
    "texts plus pinned edge cases, for n in {3, 8}") {
    val texts = Seq("", " ", "   ", "one", "one two", "a b c d e f g h i",
      "dup dup dup dup dup dup dup dup dup",
      "μυλτι βψτε κείμενο with mixed ascii μυλτι βψτε") ++
      Seq.fill(4000)(randomText())
    val df = texts.toDF("text")
    for (n <- Seq(3, 8)) {
      val hof = array_distinct(Texts.wordNgrams(Texts.tokens(col("text")), n))
      val bad = df.select(col("text"),
          hof.as("expected"),
          graft.plans.Native.dist_word_ngrams(col("text"), n).as("got"))
        .filter(not(col("expected") <=> col("got")))
        .limit(5).collect()
      assert(bad.isEmpty, s"n=$n diverged on: ${bad.mkString("; ")}")
    }
  }

  test("native lsh_bands equals the HOF banding " +
    "(ParityReferences.bandsHof) on random signatures, including the " +
    "clamped trailing partial band") {
    import graft.functions.Hashes
    val sigs = Seq.fill(2000)(
      Seq.fill(1 + rnd.nextInt(300))(rnd.nextLong().abs % 2147483647L))
    val df = sigs.toDF("sig")
    for ((nb, rpb) <- Seq((4, 4), (43, 6), (3, 7))) {
      val bad = df.select(
          ParityReferences.bandsHof(col("sig"), nb, rpb).as("expected"),
          Hashes.bands(col("sig"), nb, rpb).as("got"))
        .filter(not(col("expected") <=> col("got")))
        .limit(3).collect()
      assert(bad.isEmpty, s"bands($nb,$rpb) diverged: ${bad.mkString(";")}")
    }
  }

  test("native portable_minhash_sig is bit-identical to the explode + " +
    "grouped-min pipeline on the real corpus plus adversarial texts") {
    import graft.operators.MinHashPipeline
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .unionByName(Seq(
        (900001L, ""), (900002L, "ab"), (900003L, "abcd"),
        (900004L, "abcde"), (900005L, "   "),
        (900006L, "μυλτι βψτε κείμενο abcdef"),
        (900007L, "<b>tag</b> soup... and,, doubled;; punct  here"))
        .toDF("doc_id", "text"))
    val a = MinHashPipeline.signatures(docs, "doc_id", col("text"))
    val b = ParityReferences.signaturesExplode(docs, "doc_id", col("text"))
    val bad = a.alias("a").join(b.alias("b"), "doc_id")
      .filter(not(col("a.sig") <=> col("b.sig")))
      .limit(3).collect()
    assert(bad.isEmpty, s"signatures diverged: ${bad.mkString(";")}")
    assert(a.count() == b.count())
  }

  test("portable_minhash_sig null-text contract: the native emits " +
    "(id, null sig); the retired explode form kept the row with an " +
    "array of null minima (r21 ADVICE, pinned not patched)") {
    // The r21 ADVICE flagged a null-text divergence between the native
    // and the explode pipeline. Measured shape: NEITHER drops the row
    // (greatest(length(null)-4, 1) = 1 keeps one shingle window in the
    // explode form); the explode form emits a 16-element array whose
    // every element is null (min over null hashes per permutation),
    // while the native emits a null ARRAY — which is what the DuckDB
    // oracle mirror (signaturesSql: list_transform over null → null)
    // computes, so the native is the oracle-graded semantics. Pinned
    // here so a future change that silently drops null-text rows or
    // un-nulls the signature (diverging from the oracle) fails loudly.
    import graft.operators.MinHashPipeline
    val docs = Seq[(Long, String)]((1L, "some real text here"))
      .toDF("doc_id", "text")
      .unionByName(Seq(Tuple1(2L)).toDF("doc_id")
        .withColumn("text", lit(null).cast("string")))
    val a = MinHashPipeline.signatures(docs, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> (r.get(1) != null)).toMap
    assert(a == Map(1L -> true, 2L -> false),
      s"native null-text rows must surface with a null sig, got $a")
    val b = ParityReferences.signaturesExplode(docs, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(b.keySet == Set(1L, 2L),
      s"explode form keeps null-text rows too, got ${b.keySet}")
    val sig2 = b(2L).asInstanceOf[scala.collection.Seq[Any]]
    assert(sig2 != null && sig2.length == 16 && sig2.forall(_ == null),
      s"documentation pin: the explode form's null-text signature is an " +
        s"array of 16 null minima, got $sig2")
  }

  test("dist_word_ngrams survives the interpreted (non-codegen) eval " +
    "path with identical output") {
    // force interpreted eval by calling the replacement StaticInvoke
    // directly (its reflective eval path)
    val e = graft.plans.NativeFn.distWordNgrams(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          "a b a b c  d")), 3)
    val got = e.replacement.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val strs = (0 until got.numElements()).map(got.getUTF8String(_).toString)
    assert(strs == Seq("a b a", "b a b", "a b c", "b c d"))
  }
}
