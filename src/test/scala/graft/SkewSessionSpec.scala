package graft

import graft.operators.Skew
import graft.streaming.Sessionize
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Skew-salting equivalence + custom stateful sessionization. */
class SkewSessionSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation ≡ unsalted aggregation (any salt width)") {
    val words = Tables.documents(spark, sf)
      .select($"doc_id", explode(split($"text", " ")).as("word"))
      .filter($"word" =!= "")
    val plain = words.groupBy($"word".as("key")).agg(count("*").as("n"))
    for (salts <- Seq(1, 8, 32)) {
      val salted = Skew.saltedCount(words, $"word", $"doc_id", salts)
      assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
        s"salts=$salts")
    }
  }

  test("fuzzy-title blocking breaks a Zipfian first-token head into " +
    "bounded blocks") {
    // Zipfian fixture: 80% of titles share the first token ("the"), as a
    // real English corpus would; second tokens and lengths vary. With
    // first-token-only blocking the hot block holds 80% of the corpus and
    // the within-block quadratic Levenshtein concentrates on one reducer.
    val seconds = Seq("quick", "lazy", "small", "large", "old", "new",
      "early", "late", "first", "last")
    val fillers = Seq("fox jumps", "committee on standards reporting",
      "dog", "regulation amendment order", "act")
    val titles = (0 until 1000).map { i =>
      val head = if (i % 5 == 4) s"a ${seconds(i % 10)}" // 20% non-hot
                 else s"the ${seconds(i % 10)}"          // 80% hot token
      s"$head ${fillers(i % 5)}"
    }
    val df = titles.toDF("title")
      .withColumn("blk", graft.operators.DedupQueries.fuzzyTitleBlock($"title"))
    val total = df.count().toDouble
    val maxShare = df.groupBy("blk").count()
      .agg(max($"count")).as[Long].head() / total
    // (first-two-tokens, length-bucket) must cap the hottest block well
    // below the 0.8 share that first-token blocking gives this fixture.
    assert(maxShare <= 0.15,
      f"hottest fuzzy-title block holds $maxShare%.2f of the corpus — " +
        "blocking degraded toward first-token-only")
  }

  test("identical-set collapse bounds Jaccard candidates by distinct-set " +
    "structure on a degenerate vocabulary") {
    // Degenerate regime: tiny vocabulary, heavy duplication — the
    // boilerplate-web-crawl shape where no prefix token discriminates.
    // 400 docs but only 12 distinct token sets: candidate generation
    // must be bounded by set pairs (C(12,2) = 66), NOT doc pairs
    // (C(400,2) = 79,800) — the round-7 scale-killer finding.
    val vocab = Seq("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dog")
    val sets = (0 until 12).map { i =>
      // 12 distinct subsets of the 8-token vocab, sizes 4..8: tokens 0..3
      // are always present, tokens 4..7 toggle on bits 0..3 of i, so the
      // 12 values of i < 16 give 12 distinct 4-bit patterns. Any two
      // distinct sets share at most 7 of 8 tokens → J ≤ 7/8 < 0.9, so
      // only identical-set doc pairs survive the threshold.
      vocab.indices.filter(j => j < 4 || (i >> (j - 4)) % 2 == 0)
        .map(vocab).sorted
    }
    val docs = (0 until 400)
      .map(i => (i.toLong, sets(i % 12)))
      .toDF("doc_id", "ws")
    val groups = graft.operators.DedupQueries.collapseSets(docs, byLang = false)
    assert(groups.count() == 12)
    // the candidate build jaccardPrefixPairs runs, in a scope of its
    // own: nothing it cached is left once that scope closes. Compared
    // by RDD id, not by count: the context cleaner may drop an
    // unreachable RDD of an earlier suite at any moment.
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val nCand = Scope.run(spark) {
      val (ordered, _) = graft.operators.DedupQueries
        .orderedPrefixWithDfreq(groups.select($"rep_id", $"ws"), byLang = false)
      graft.operators.DedupQueries
        .candidatesOverOrdered(Scope.persist(ordered), 0.9, byLang = false)
        .count()
    }
    assert(nCand <= 66,
      s"$nCand rep-level candidates — exceeds the C(12,2)=66 distinct-set " +
        "bound; collapse degraded toward per-doc candidate generation")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty,
      s"candidate build left ${leaked.size} persisted RDD(s) behind")

    // and the collapsed pipeline's OUTPUT equals brute force over docs
    val t = 0.9
    val bySet = (0 until 400).map(i => i.toLong -> sets(i % 12).toSet).toMap
    val expected = (for {
      a <- 0L until 400L; b <- (a + 1) until 400L
      ja = bySet(a); jb = bySet(b)
      j = ja.intersect(jb).size.toDouble / ja.union(jb).size
      if j >= t
    } yield (a, b, math.rint(j * 1e6) / 1e6)).toSet
    val got = graft.operators.DedupQueries
      .jaccardPrefixPairs(docs, t, byLang = false)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expected,
      s"collapsed pipeline emitted ${got.size} pairs, brute force " +
        s"${expected.size}")
  }

  test("dd_cluster_cc: with a reliable checkpoint dir configured, " +
    "lineage truncation goes through checkpoint() and the output is " +
    "unchanged") {
    import graft.operators.DedupQueries
    val base = DedupQueries.queries("dd_cluster_cc")(spark, sf)
      .orderBy("doc_id").collect().toSeq
    // Production recovery switch: sc.setCheckpointDir flips every
    // Scope.checkpoint from executor-local blocks (lost with a dead
    // executor) to reliable checkpoint files. There is no public unset,
    // so the dir stays set for the rest of this JVM: every later
    // suite's CC loops, twin-chain walks and folds write reliable files
    // too. What keeps that from piling up is Scope, which deletes each
    // file when the run that wrote it closes — pinned below.
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    def hasFiles(p: java.nio.file.Path): Boolean = {
      val s = java.nio.file.Files.walk(p)
      try s.anyMatch(q => java.nio.file.Files.isRegularFile(q))
      finally s.close()
    }
    Scope.run(spark) {
      val got = DedupQueries.queries("dd_cluster_cc")(spark, sf)
        .orderBy("doc_id").collect().toSeq
      assert(got == base, "reliable-checkpoint run must be row-identical")
      // the reliable path actually engaged: checkpoint files were written
      assert(hasFiles(dir),
        "no checkpoint files written — the switch never engaged")
    }
    assert(!hasFiles(dir),
      "checkpoint files outlived the scope that wrote them")
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Sessionize.Event]
    val q = Sessionize.sessions(input.toDS(), gapSeconds = 1800)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()

    def ts(x: String) = Timestamp.valueOf(x)
    // user 7: two events 10 min apart (one session), then a 2 h gap
    input.addData(
      Sessionize.Event(7L, ts("2024-01-01 10:00:00")),
      Sessionize.Event(7L, ts("2024-01-01 10:10:00")),
      Sessionize.Event(7L, ts("2024-01-01 12:30:00")))
    q.processAllAvailable()
    val closed = spark.table("sessions").as[Sessionize.Session].collect()
    assert(closed.length == 1)
    assert(closed.head.user_id == 7L)
    assert(closed.head.n_events == 2L)

    // a later event within the gap extends the open session (no new close)
    input.addData(Sessionize.Event(7L, ts("2024-01-01 12:40:00")))
    q.processAllAvailable()
    assert(spark.table("sessions").count() == 1)

    // an event past the gap closes the extended session (2 events)
    input.addData(Sessionize.Event(7L, ts("2024-01-01 15:00:00")))
    q.processAllAvailable()
    // r20 review pin: a LATE cross-batch event (older than the open
    // session's last-seen — events are only sorted within a batch)
    // must merge monotonically, never regress the session edge: the
    // session that eventually closes must still have start <= end,
    // with the late event counted.
    input.addData(Sessionize.Event(7L, ts("2024-01-01 14:59:00")))
    q.processAllAvailable()
    input.addData(Sessionize.Event(7L, ts("2024-01-01 18:00:00")))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("sessions").as[Sessionize.Session].collect()
    assert(all.length == 3)
    assert(all.map(_.n_events).sorted.toSeq == Seq(2L, 2L, 2L))
    assert(all.forall(s => s.startMicros <= s.endMicros),
      s"a late event must not invert session bounds: ${all.toSeq}")
    val lateSession = all.maxBy(_.startMicros)
    assert(lateSession.startMicros ==
      ts("2024-01-01 14:59:00").getTime * 1000L &&
      lateSession.endMicros == ts("2024-01-01 15:00:00").getTime * 1000L,
      "the late event extends the open session backward, last stays put")
  }
}
