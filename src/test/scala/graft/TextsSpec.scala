package graft

import graft.functions.{Hashes, Texts, Vectors}
import org.apache.spark.sql.functions._

/** Fixture tests for the scalar text/hash/vector layer (SURVEY §5.1). */
class TextsSpec extends SparkSpec {
  import spark.implicits._

  private def evalStr(c: org.apache.spark.sql.Column): String =
    Seq("x").toDF("dummy").select(c).head.getString(0)

  test("cleanText: tag strip, dot runs, doubled punct, whitespace, case") {
    val got = Seq("A  <b>Bold</b>   text....  ok!!,  DONE.")
      .toDF("t").select(Texts.cleanText($"t")).head.getString(0)
    assert(got == "a bold text. ok. done.")
  }

  test("tokens drops empties; stopwords removed") {
    val got = Seq("the  quick   fox").toDF("t")
      .select(Texts.removeStopwords(Texts.tokens($"t"), Texts.StopWords))
      .head.getSeq[String](0)
    assert(got == Seq("quick", "fox"))
  }

  test("charShingles k=5 slides over every position") {
    val got = Seq("abcdefg").toDF("t")
      .select(Texts.charShingles($"t", 5)).head.getSeq[String](0)
    assert(got == Seq("abcde", "bcdef", "cdefg"))
  }

  test("charShingles shorter than k yields the whole (padded) string") {
    val got = Seq("abc").toDF("t")
      .select(Texts.charShingles($"t", 5)).head.getSeq[String](0)
    assert(got == Seq("abc"))
  }

  test("topicPaths expands prefixes; deepest is the full path") {
    val got = Seq("a/b/c").toDF("t")
      .select(Texts.topicPaths($"t")).head.getSeq[String](0)
    assert(got == Seq("a", "a/b", "a/b/c"))
  }

  test("md5Long is stable and non-negative (60-bit)") {
    val got = Seq("abc", "abc", "").toDF("a")
      .select(Texts.md5Long($"a")).collect().map(_.getLong(0))
    assert(got(0) == got(1))
    // pinned value cross-checked against DuckDB
    // ('0x'||substr(md5('abc'),1,15))::BIGINT
    assert(got(0) == 648541476951500027L)
    assert(got.forall(_ >= 0L))
  }

  test("minhash signature: identical texts agree, est jaccard = 1") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely unrelated content with other words present"))
      .toDF("id", "text")
    val sig = operators.MinHashPipeline.signatures(df, "id", $"text", 16, 24)
    val rows = sig.orderBy("id").collect()
    assert(rows(0).getSeq[Long](1) == rows(1).getSeq[Long](1))
    val j = sig.filter($"id" === 1).select($"sig".as("a"))
      .crossJoin(sig.filter($"id" === 3).select($"sig".as("b")))
      .select(Hashes.minhashJaccard($"a", $"b")).head.getDouble(0)
    assert(j < 0.5)
  }

  test("simhash16: identical token multisets collide") {
    val df = Seq((1L, Seq("alpha", "beta", "gamma")),
      (2L, Seq("alpha", "beta", "gamma"))).toDF("id", "ws")
    val got = df.select(Hashes.simhash16($"ws")).collect().map(_.getLong(0))
    assert(got(0) == got(1))
    assert(got(0) >= 0 && got(0) < (1 << 16))
  }

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val df = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 2.0)))
      .toDF("a", "b", "c")
    val r = df.select(Vectors.cosine($"a", $"b"), Vectors.cosine($"a", $"c"))
      .head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("native cosine_sim matches interpreted fold bit-for-bit") {
    val df = Tables.embeddings(spark, sf).limit(50)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val a = df.select($"vec_id".as("a_id"), $"v".as("a"))
    val b = df.select($"vec_id".as("b_id"), $"v".as("b"))
    val pairs = a.join(b, $"a_id" < $"b_id")
    val fold = aggregate(zip_with($"a", $"b", (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x) /
      (sqrt(aggregate(zip_with($"a", $"a", (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)) *
        sqrt(aggregate(zip_with($"b", $"b", (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x)))
    val mismatches = pairs
      .select(graft.plans.Native.cosine_sim($"a", $"b").as("nat"),
        fold.as("ref"))
      .filter($"nat" =!= $"ref")
      .count()
    assert(mismatches == 0)
  }

  test("native minhash_sig: deterministic, 256 longs, equal texts agree") {
    val df = Seq((1L, "the quick brown fox jumps over it"),
      (2L, "the quick brown fox jumps over it"),
      (3L, "completely different words here")).toDF("id", "t")
    val sigs = df.select($"id",
      graft.plans.Native.minhash_sig($"t", 256, 5).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L).length == 256)
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("native simhash64: equal token sets collide, disjoint differ") {
    val df = Seq((1L, Seq("a", "b", "c")), (2L, Seq("a", "b", "c")),
      (3L, Seq("x", "y", "z"))).toDF("id", "ws")
    val got = df.select($"id", graft.plans.Native.simhash64($"ws"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == got(2L))
    assert(got(1L) != got(3L))
  }

  test("jaccard of arrays") {
    val r = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("a", "b")
      .select(Hashes.jaccard($"a", $"b")).head.getDouble(0)
    assert(r == 0.5)
  }

  test("native nfc_normalize: combining sequence composes, NFC input is " +
    "identity, callable from SQL") {
    val decomposed = "cafe\u0301"   // e + COMBINING ACUTE: 5 chars
    val composed = "caf\u00e9"      // precomposed: 4 chars
    val df = Seq((1L, decomposed), (2L, composed), (3L, "plain"))
      .toDF("id", "s")
    val got = df.select($"id", graft.plans.Native.nfc_normalize($"s").as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == composed && got(1L).length == 4)
    assert(got(2L) == composed)
    assert(got(3L) == "plain")
    df.createOrReplaceTempView("v_nfc")
    val viaSql = spark.sql("SELECT nfc_normalize(s) FROM v_nfc WHERE id = 1")
      .head.getString(0)
    assert(viaSql == composed)
  }
}
