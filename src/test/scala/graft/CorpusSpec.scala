package graft

import graft.operators.CorpusQueries
import org.apache.spark.sql.functions._

/** Invariants for the corpus-refinement operators beyond the DuckDB
  * oracle: chunk-dedup exactness on a hand-built fixture, tf-idf rank
  * structure, quantile-trim tail bounds and minimality.
  */
class CorpusSpec extends SparkSpec {

  /** Write a tiny documents.parquet fixture and return its dir. */
  private def fixture(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-corpus-fixture").toString
    import spark.implicits._
    rows.map { case (id, text) => (id, text, "en") }
      .toDF("doc_id", "text", "lang").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("dd_chunk_dedup keeps exactly the first occurrence of each chunk") {
    // chunk A = tokens a1..a10; B = b1..b10; C = short tail c1 c2
    val A = (1 to 10).map(i => s"a$i").mkString(" ")
    val B = (1 to 10).map(i => s"b$i").mkString(" ")
    val C = "c1 c2"
    val dir = fixture(Seq(
      1L -> s"$A $B",  // owns first occurrence of A and B
      2L -> s"$A $C",  // A is boilerplate here; keeps only C
      3L -> A))        // fully boilerplate — must vanish
    val out = CorpusQueries.queries("dd_chunk_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((1L, s"$A $B", 2L), (2L, C, 1L)))
  }

  test("dd_chunk_dedup output chunks are globally unique on real data") {
    val out = CorpusQueries.queries("dd_chunk_dedup")(spark, sf).cache()
    // every surviving chunk occurs exactly once across the whole output
    val total = out.agg(sum("n_kept")).collect()(0).getLong(0)
    val docs = Tables.documents(spark, sf)
    val distinctChunks = docs
      .select(explode(transform(
        sequence(lit(0),
          ((size(functions.Texts.tokens(col("text"))) - 1) / 10).cast("int")),
        i => array_join(
          slice(functions.Texts.tokens(col("text")), i * 10 + 1, lit(10)),
          " "))).as("chunk"))
      .filter(col("chunk") =!= "").distinct().count()
    assert(total == distinctChunks)
    out.unpersist()
  }

  test("dd_cdc_dedup first-occurrence argmin is exact past 100k-char " +
    "offsets (struct-min, not an encoded key)") {
    // Reference doc model allows 500k-char texts
    // (legislative_origin_extraction.py:40). The pre-r15 encoding
    // min(doc_id * 100000 + start) mis-ranks once start >= 100000:
    // doc 1's occurrence at start s1 > 100000 + s2 encodes ABOVE doc
    // 2's at s2, so the "globally first" column silently flipped to
    // doc 2 — and the oracle, encoding identically, stayed green.
    // Build exactly that geometry: doc 1 = 110k filler + shared tail
    // S, doc 2 = 10-char prefix + S. Every CDC chunk from the first
    // in-S boundary onward is shared (both docs end at S's end), with
    // start >= 110000 in doc 1 and < |P| + |S| < 1000 in doc 2.
    val rnd = new scala.util.Random(7)
    def letters(n: Int) = {
      val sb = new StringBuilder(n)
      (0 until n).foreach(_ => sb.append(('a' + rnd.nextInt(26)).toChar))
      sb.toString
    }
    val filler = letters(110000)
    val shared = letters(800)
    val dir = fixture(Seq(1L -> (filler + shared), 2L -> ("prefixpre " + shared)))
    val out = CorpusQueries.queries("dd_cdc_dedup")(spark, dir)
      .filter(col("n_docs") === 2)
      .select("first_doc", "first_start").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.nonEmpty, "fixture must produce shared CDC chunks")
    // true lexicographic first occurrence is always doc 1 (lower id)
    assert(out.forall(_._1 == 1L))
    // and at an offset where the old encoding provably picked doc 2:
    // 1 * 100000 + first_start > 2 * 100000 + s2 for any s2 < 1000
    assert(out.forall(_._2 >= 110000L - 8))
  }

  test("dd_cdc_bounded clamp invariant on the real corpus: chunks tile " +
    "each document exactly, every non-final chunk lands in [32,128], " +
    "and the clamp provably differs from the unbounded chunker") {
    val docs = Tables.documents(spark, sf)
    val spans = CorpusQueries.cdcBoundedSpans(docs).cache()
    // tiling: per doc, chunks are contiguous from 1 and sum to n_chars
    val tiled = spans.groupBy("doc_id")
      .agg(sum("clen").as("covered"), min("start").as("s0"),
        count(lit(1)).as("k"),
        max(col("start") + col("clen") - 1).as("hi"))
      .join(docs.select(col("doc_id"), length(col("text")).as("n")), "doc_id")
    assert(tiled.filter(col("covered") =!= col("n") ||
      col("s0") =!= 1 || col("hi") =!= col("n")).count() == 0,
      "bounded chunks must tile the document exactly")
    assert(tiled.count() == docs.count(), "every document must chunk")
    // the clamp: all chunks <= 128; non-final chunks >= 32
    val withN = spans.join(
      docs.select(col("doc_id"), length(col("text")).as("n")), "doc_id")
    assert(withN.filter(col("clen") > 128).count() == 0,
      "no chunk may exceed maxLen")
    assert(withN.filter(col("start") + col("clen") - 1 < col("n") &&
      col("clen") < 32).count() == 0,
      "no non-final chunk may undershoot minLen")
    // the corpus must actually exercise both clamp arms, or the pins
    // above are vacuous: forced splits (exactly-128 chunks whose end is
    // NOT an unbounded candidate boundary would be ideal, but
    // exactly-128 count > unbounded's is a sufficient witness), and
    // suppressed candidates (bounded has fewer, longer chunks)
    val nBounded = spans.count()
    // unbounded chunk count = qualifying boundary positions + one tail
    // chunk per doc (same candidate predicate, no clamp)
    val nUnbounded = Tables.documents(spark, sf)
      .select(explode(graft.plans.Native.gear_boundaries(col("text")))
        .as("b")).count() +
      docs.count() // boundaries + one tail chunk per doc = chunk count
    assert(nBounded != nUnbounded,
      "clamp changed nothing — fixture too small or legalization inert")
    assert(spans.filter(col("clen") === 128).count() > 0,
      "no forced max-length chunk in the corpus — forced-split arm untested")
    spans.unpersist()
  }

  test("cdcBoundedSpans handles the reference's 500k-char document " +
    "bound in one linear pass") {
    // Reference doc model allows 500k-char texts
    // (legislative_origin_extraction.py:40) -> ~7k gear candidates in
    // one document. The r15 aggregate-fold legalization was O(c^2) in
    // its growing-concat state: 11.1 s for THIS one row; the native
    // O(c) pass (NativeImpl.cdcLegalize) does it in well under a
    // second. Pin both: tilings equal a driver-side clamp over the
    // engine's own candidates (the independent serial-rule statement
    // is PropertySpec's), and the wall stays an order of magnitude
    // under the quadratic's floor.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val n = 500000
    val sb = new StringBuilder(n)
    (0 until n).foreach(_ => sb.append(('a' + rnd.nextInt(26)).toChar))
    val docs = Seq((1L, sb.toString)).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val got = CorpusQueries.cdcBoundedSpans(docs)
      .select("start", "clen").collect()
      .map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    val wall = (System.nanoTime() - t0) / 1e9
    val cands = docs
      .select(explode(graft.plans.Native.gear_boundaries(col("text"))).as("b"))
      .collect().map(_.getInt(0)).sorted
    assert(cands.length > 5000, "fixture must produce a dense candidate set")
    var last = 0
    val bs = Seq.newBuilder[Int]
    for (b <- cands) {
      while (b - last > 128) { last += 128; bs += last }
      if (b - last >= 32) { last = b; bs += b }
    }
    while (n - last > 128) { last += 128; bs += last }
    val all = bs.result()
    val expected = ((1 +: all.map(_ + 1)).zip(all :+ n))
      .filter { case (s0, e) => e >= s0 }
      .map { case (s0, e) => (s0, e - s0 + 1) }.sorted
    assert(got == expected,
      s"500k-char legalization diverged (${got.size} vs ${expected.size})")
    assert(wall < 10.0,
      f"500k-char doc took $wall%.1f s — legalization no longer linear?")
  }

  test("ta_tfidf emits contiguous ranks 1..k and corpus-consistent df") {
    val out = CorpusQueries.queries("ta_tfidf")(spark, sf).cache()
    val badRank = out.groupBy("doc_id")
      .agg(max("rank").as("hi"), count(lit(1)).as("n"))
      .filter(col("hi") =!= col("n") || col("hi") > 3)
    assert(badRank.count() == 0)
    // df of a term must equal the number of distinct docs containing it
    val docs = Tables.documents(spark, sf)
    val trueDf = docs
      .select(col("doc_id"),
        explode(functions.Texts.tokens(col("text"))).as("term"))
      .distinct().groupBy("term").agg(count(lit(1)).as("true_df"))
    val mismatch = out.join(trueDf, "term")
      .filter(col("df") =!= col("true_df"))
    assert(mismatch.count() == 0)
    out.unpersist()
  }

  test("ta_quality_trim drops at most 5% per tail, and minimally so") {
    val docs = Tables.documents(spark, sf).cache()
    val total = docs.count()
    val kept = CorpusQueries.queries("ta_quality_trim")(spark, sf).cache()
    val Array(lo, hi) = kept.agg(min("n_chars"), max("n_chars"))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val below = docs.filter(col("n_chars") < lo).count()
    val above = docs.filter(col("n_chars") > hi).count()
    assert(below * 20 <= total && above * 20 <= total)
    // minimality: including the boundary value's own mass crosses 5%
    val cntLo = docs.filter(col("n_chars") === lo).count()
    val cntHi = docs.filter(col("n_chars") === hi).count()
    assert((below + cntLo) * 20 > total)
    assert((above + cntHi) * 20 > total)
    kept.unpersist(); docs.unpersist()
  }

  test("ccDeltaCompose: a delta vertex bridging two separate base " +
    "components merges them to the global-min canonical, and the " +
    "composition equals the one-shot recompute on every posture case") {
    import graft.operators.DedupQueries
    // build the fixture ON the cc child session — frames execute under
    // their own session's conf, and the loop machinery requires the
    // InferFiltersFromConstraints exclusion ccSession installs
    val s = DedupQueries.ccSession(spark)
    import s.implicits._
    // base comps at T0: {1,2}, {3,4}, {5,6} (canonicals 1, 3, 5).
    // delta vertex 7 bridges {1,2} and {3,4}; delta pair (14, 21) forms
    // a brand-new component; {5,6} is untouched; base vertex 8's ONLY
    // edge arrives with the delta (base-isolated at T0). Degenerate
    // inputs ride along and must change nothing: (2,1) duplicates an
    // edge reversed, (7,7) is a delta self-loop, (21,14) re-delivers a
    // delta pair reversed.
    val edges = Scope.checkpoint(
      Seq((1L, 2L), (3L, 4L), (5L, 6L), (2L, 1L),
        (2L, 7L), (7L, 3L), (14L, 21L), (8L, 14L), (7L, 7L), (21L, 14L))
        .toDF("a_id", "b_id"), eager = true)
    val got = DedupQueries.ccDeltaCompose(s, edges, c => c % 7 =!= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val oneShot = DedupQueries.ccAssignments(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 1L, // bridged merge
      5L -> 5L, 6L -> 5L,                               // untouched
      8L -> 8L, 14L -> 8L, 21L -> 8L)                   // new + isolated
    assert(got == expected, s"delta composition drifted: $got")
    assert(got == oneShot,
      "base+delta must equal the one-shot recompute row-for-row")
  }
}
