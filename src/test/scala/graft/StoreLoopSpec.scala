package graft

import graft.operators.{DedupGate, Layout, MinHashPipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The full gate↔store maintenance loop (ST7 + K5/K7): batch 1's
  * outcomes update the bucketed on-disk signature store (new appends,
  * version replaces, archive drops), and batch 2 probes the MAINTAINED
  * store. Correctness bar: the stored-gate outcomes for batch 2 must be
  * row-identical to the in-memory gate run against the merged corpus
  * built independently from batch-1 outcomes — the store is an index,
  * never a semantic actor. Reference contract:
  * `misc/stream_update_process/record_handler.py:103-147` (outcome
  * write-back) + `lambdas/check_duplicate/check_duplicate.py:96-101`
  * (archived nodes leave the probe set).
  */
class StoreLoopSpec extends SparkSpec {
  import spark.implicits._

  private def sigsOf(df: DataFrame, id: String, text: String): DataFrame =
    df.join(MinHashPipeline.signatures(df, id, col(text)), id)

  test("gate outcomes feed back into the bucketed store: a second batch " +
      "probing the maintained store matches the in-memory gate on the " +
      "merged corpus") {
    val text = (i: Int) =>
      s"document body $i carries its own distinct words w${i}a w${i}b " +
        s"w${i}c and trailing filler ${i * 37}"
    val fresh =
      "entirely new submission covering unrelated subject matter tokens qq zz"
    val fresh2 =
      "another novel arrival with different vocabulary entirely pp kk"

    val corpus0 = (1 to 30).map(i => (i.toLong, text(i), "en", "published"))
      .toDF("node_id", "text", "meta_key", "status")
    val c0 = sigsOf(corpus0, "node_id", "text")

    val tmp = java.nio.file.Files.createTempDirectory("graft-loop").toString
    Layout.bucketedStoreWrite(DedupGate.bandedSigStore(c0, 4, 4),
      "loop_store_0", s"$tmp/s0", 8, Seq("bkey"))
    val s0 = spark.table("loop_store_0")

    val batch1 = Seq(
      (101L, text(5), "en"),  // duplicate of node 5
      (102L, text(10), "xx"), // version of node 10 (meta change)
      (103L, fresh, "en"),    // new
      (105L, fresh, "xx"))    // version of BATCH TWIN 103 (within-batch)
      .toDF("uid", "itext", "meta_key")
    val b1 = batch1.join(
      MinHashPipeline.signatures(batch1, "uid", col("itext")), "uid")

    val o1 = DedupGate.classifyStored(b1, s0, 4, 4)
    val o1m = o1.collect().map(r => r.getLong(0) ->
      (r.getString(1), Option(r.get(2)), Option(r.get(4)))).toMap
    assert(o1m(101L)._1 == "duplicate" && o1m(101L)._2 == Some(5L))
    assert(o1m(102L)._1 == "version" && o1m(102L)._2 == Some(10L))
    assert(o1m(103L)._1 == "new")
    assert(o1m(105L)._1 == "version" && o1m(105L)._3 == Some(103L))

    // Maintenance: batch-1 outcomes + an archive flip of node 20 land
    // in the store (disk round-trip both before and after).
    val flips = Seq(20L).toDF("node_id")
    val s1 = DedupGate.applyOutcomes(s0, b1, o1, flips, 4, 4)
    Layout.bucketedStoreWrite(s1, "loop_store_1", s"$tmp/s1", 8, Seq("bkey"))
    val s1r = spark.table("loop_store_1")

    val batch2 = Seq(
      // duplicate of node 103: meta xx AFTER twin 105's version won
      (201L, fresh, "xx"),
      // version of node 10: the store's meta is xx post-102 (a stale
      // store would say duplicate)
      (202L, text(10), "en"),
      // new: node 20 archived between batches (a stale store would say
      // duplicate)
      (203L, text(20), "en"),
      (204L, fresh2, "en"))   // new
      .toDF("uid", "itext", "meta_key")
    val b2 = batch2.join(
      MinHashPipeline.signatures(batch2, "uid", col("itext")), "uid")

    val stored = DedupGate.classifyStored(b2, s1r, 4, 4)

    // Independent reference: the merged corpus built BY HAND from
    // batch-1 outcomes, probed by the IN-MEMORY gate.
    val corpus1 = ((1 to 30).filter(i => i != 20 && i != 10)
      .map(i => (i.toLong, text(i), "en", "published")) ++
      Seq((10L, text(10), "xx", "published"),
          (103L, fresh, "xx", "published")))
      .toDF("node_id", "text", "meta_key", "status")
    val mem = DedupGate.classify(b2, sigsOf(corpus1, "node_id", "text"), 4, 4)

    def keyed(df: DataFrame): DataFrame = df
      .select("uid", "outcome", "matched_node_id", "best_sim", "batch_twin")
    assert(keyed(stored).except(keyed(mem)).isEmpty &&
      keyed(mem).except(keyed(stored)).isEmpty,
      "stored-gate outcomes diverged from the in-memory gate on the " +
        "merged corpus")

    // The loop's headline outcomes, stated directly.
    val o2 = stored.collect().map(r => r.getLong(0) ->
      (r.getString(1), Option(r.get(2)))).toMap
    assert(o2(201L)._1 == "duplicate" && o2(201L)._2 == Some(103L))
    assert(o2(202L)._1 == "version" && o2(202L)._2 == Some(10L))
    assert(o2(203L)._1 == "new")
    assert(o2(204L)._1 == "new")
  }

  test("delta-store posture: probing base + per-batch delta + tombstones " +
      "is outcome-identical to probing the compacted store, and the " +
      "delta artifacts are ingest-sized") {
    val text = (i: Int) =>
      s"delta fixture $i with unique vocabulary d${i}p d${i}q d${i}r tail ${i * 11}"
    val fresh = "brand new delta submission separate wording entirely mm nn"
    val corpus = (1 to 25).map(i => (i.toLong, text(i), "en", "published"))
      .toDF("node_id", "text", "meta_key", "status")
    val base = DedupGate.bandedSigStore(sigsOf(corpus, "node_id", "text"), 4, 4)

    val batch1 = Seq(
      (301L, text(4), "en"),  // duplicate — contributes NOTHING to the delta
      (302L, text(9), "xx"),  // version of node 9
      (303L, fresh, "en"))    // new
      .toDF("uid", "itext", "meta_key")
    val b1 = batch1.join(
      MinHashPipeline.signatures(batch1, "uid", col("itext")), "uid")
    val o1 = DedupGate.classifyStored(b1, base, 4, 4)
    val flips = Seq(17L).toDF("node_id")

    val (append, tombstones) = DedupGate.outcomesDelta(b1, o1, flips, 4, 4)
    // delta artifacts are ingest-scale: 2 winners × 4 bands appended;
    // tombstones = {9 (version-replaced), 17 (archived), 303 (new —
    // vacuous in base, kept as the guard against a new uid colliding
    // with an unrelated base node id)}
    assert(append.count() == 8 && tombstones.count() == 3)

    val batch2 = Seq(
      (401L, fresh, "en"),    // duplicate of delta-resident node 303
      (402L, text(9), "en"),  // version: node 9's live meta is xx (delta)
      (403L, text(17), "en"), // new: node 17 tombstoned
      (404L, text(2), "en"))  // duplicate of untouched base node 2
      .toDF("uid", "itext", "meta_key")
    val b2 = batch2.join(
      MinHashPipeline.signatures(batch2, "uid", col("itext")), "uid")

    val viaDelta =
      DedupGate.classifyStoredDelta(b2, base, append, tombstones, 4, 4)
    val compacted = DedupGate.applyOutcomes(base, b1, o1, flips, 4, 4)
    val viaCompacted = DedupGate.classifyStored(b2, compacted, 4, 4)

    def keyed(df: DataFrame): DataFrame = df
      .select("uid", "outcome", "matched_node_id", "best_sim", "batch_twin")
    assert(keyed(viaDelta).except(keyed(viaCompacted)).isEmpty &&
      keyed(viaCompacted).except(keyed(viaDelta)).isEmpty,
      "delta-path outcomes diverged from the compacted store")

    val o2 = viaDelta.collect().map(r => r.getLong(0) ->
      (r.getString(1), Option(r.get(2)))).toMap
    assert(o2(401L)._1 == "duplicate" && o2(401L)._2 == Some(303L))
    assert(o2(402L)._1 == "version" && o2(402L)._2 == Some(9L))
    assert(o2(403L)._1 == "new")
    assert(o2(404L)._1 == "duplicate" && o2(404L)._2 == Some(2L))
  }

  test("resolveTargets follows batch-twin chains to the final node — " +
      "a version of a twin that carried a corpus node forward lands on " +
      "that node, never on a phantom uid") {
    // Synthetic outcomes (reachable with >16-perm signatures, where
    // fractional sims make twin chains deeper than twin-of-new): A new;
    // B version-of-twin A; C version-of-twin B; D version of corpus
    // node 40; E version-of-twin D; F duplicate-of-twin E.
    val outcomes = Seq(
      (101L, "new", None, None),
      (102L, "version", None, Some(101L)),
      (103L, "version", None, Some(102L)),
      (104L, "version", Some(40L), None),
      (105L, "version", None, Some(104L)),
      (106L, "duplicate", None, Some(105L)))
      .toDF("uid", "outcome", "matched_node_id", "batch_twin")
    val t = DedupGate.resolveTargets(outcomes).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(t(101L) == 101L)
    assert(t(102L) == 101L && t(103L) == 101L,
      "chained twins must collapse to the root's own node")
    assert(t(104L) == 40L)
    assert(t(105L) == 40L && t(106L) == 40L,
      "twins of a corpus-version must land on the corpus node, not " +
        "mint a phantom node at the twin's uid")
  }

  test("multi-generation deltas: three uncompacted batches probe " +
      "identically to the iteratively compacted store") {
    val text = (i: Int) =>
      s"generation fixture $i owns words g${i}a g${i}b g${i}c end ${i * 19}"
    val fresh1 = "first generation new doc with its own content vv ww"
    val corpus = (1 to 20).map(i => (i.toLong, text(i), "en", "published"))
      .toDF("node_id", "text", "meta_key", "status")
    val base = DedupGate.bandedSigStore(sigsOf(corpus, "node_id", "text"), 4, 4)

    def mkBatch(rows: Seq[(Long, String, String)]) = {
      val b = rows.toDF("uid", "itext", "meta_key")
      b.join(MinHashPipeline.signatures(b, "uid", col("itext")), "uid")
    }
    // batch 1: new doc + version of node 5
    val b1 = mkBatch(Seq((501L, fresh1, "en"), (502L, text(5), "xx")))
    // batch 2: RE-version node 5 (tombstones batch-1's delta row for 5)
    // and version the batch-1 new node 501
    val b2 = mkBatch(Seq((601L, text(5), "yy"), (602L, fresh1, "zz")))
    // batch 3 probes: node 5's live meta must be yy, 501's must be zz
    val b3 = mkBatch(Seq(
      (701L, text(5), "yy"),   // duplicate of node 5 (gen-2 meta)
      (702L, fresh1, "en"),    // version of node 501 (gen-2 meta zz)
      (703L, text(9), "en")))  // duplicate of untouched base node 9

    val none = Seq.empty[Long].toDF("node_id")
    val o1 = DedupGate.classifyStoredDeltas(b1, base, Seq(), 4, 4)
    val (a1, t1) = DedupGate.outcomesDelta(b1, o1, none, 4, 4)
    val o2 = DedupGate.classifyStoredDeltas(b2, base, Seq((a1, t1)), 4, 4)
    val (a2, t2) = DedupGate.outcomesDelta(b2, o2, none, 4, 4)
    val viaDeltas = DedupGate.classifyStoredDeltas(
      b3, base, Seq((a1, t1), (a2, t2)), 4, 4)

    // Reference: compact after every batch instead.
    val s1 = DedupGate.applyOutcomes(base, b1, o1, none, 4, 4)
    val o2c = DedupGate.classifyStored(b2, s1, 4, 4)
    def keyed(df: DataFrame): DataFrame = df
      .select("uid", "outcome", "matched_node_id", "best_sim", "batch_twin")
    assert(keyed(o2).except(keyed(o2c)).isEmpty &&
      keyed(o2c).except(keyed(o2)).isEmpty,
      "batch-2 outcomes diverged between one-delta and compacted paths")
    val s2 = DedupGate.applyOutcomes(s1, b2, o2c, none, 4, 4)
    val viaCompacted = DedupGate.classifyStored(b3, s2, 4, 4)

    assert(keyed(viaDeltas).except(keyed(viaCompacted)).isEmpty &&
      keyed(viaCompacted).except(keyed(viaDeltas)).isEmpty,
      "batch-3 outcomes diverged between two-generation and compacted " +
        "paths")
    val o3 = viaDeltas.collect().map(r => r.getLong(0) ->
      (r.getString(1), Option(r.get(2)))).toMap
    assert(o3(701L)._1 == "duplicate" && o3(701L)._2 == Some(5L),
      "node 5's generation-2 meta must win — a stale generation-1 row " +
        "surviving the tombstone would flip this to version")
    assert(o3(702L)._1 == "version" && o3(702L)._2 == Some(501L))
    assert(o3(703L)._1 == "duplicate" && o3(703L)._2 == Some(9L))
  }

  test("bulk-backfill posture: classify with broadcastIncoming=false " +
      "(keyed-shuffle band join instead of broadcast probe) is " +
      "outcome-identical to the broadcast gate") {
    val text = (i: Int) =>
      s"backfill fixture $i unique words b${i}q b${i}r b${i}s tail ${i * 31}"
    val corpus = (1 to 25).map(i => (i.toLong, text(i), "en",
      if (i % 8 == 0) "archive" else "published"))
      .toDF("node_id", "text", "meta_key", "status")
    val c = sigsOf(corpus, "node_id", "text")
    val batch = Seq(
      (601L, text(3), "en"),   // duplicate
      (602L, text(5), "xx"),   // version
      (603L, text(8), "en"),   // new (8 is archived)
      (604L, "wholly new backfill content zz yy xx", "en"), // new
      (605L, "wholly new backfill content zz yy xx", "xx")) // version of twin
      .toDF("uid", "itext", "meta_key")
    val b = batch.join(
      MinHashPipeline.signatures(batch, "uid", col("itext")), "uid")
    def keyed(df: DataFrame): DataFrame = df
      .select("uid", "outcome", "matched_node_id", "best_sim", "batch_twin")
    val bcast = DedupGate.classify(b, c, 4, 4)
    val shuffled = DedupGate.classify(b, c, 4, 4, broadcastIncoming = false)
    assert(keyed(bcast).except(keyed(shuffled)).isEmpty &&
      keyed(shuffled).except(keyed(bcast)).isEmpty,
      "keyed-shuffle fallback diverged from the broadcast gate")
    val om = shuffled.collect().map(r => r.getLong(0) ->
      (r.getString(1), Option(r.get(2)), Option(r.get(4)))).toMap
    assert(om(601L)._1 == "duplicate" && om(601L)._2 == Some(3L))
    assert(om(602L)._1 == "version" && om(602L)._2 == Some(5L))
    assert(om(603L)._1 == "new")
    assert(om(604L)._1 == "new")
    assert(om(605L)._1 == "version" && om(605L)._3 == Some(604L))
  }

  test("last-writer-wins ordering contract: string uids without an " +
      "arrival column are refused loudly; an explicit arrival column " +
      "restores serial semantics where lexicographic order would lie") {
    // Two versions of store node 5 in one batch: "doc9" arrives FIRST
    // (arrival 1), "doc10" second. Lexicographic uid order says doc9 >
    // doc10 — the silent-wrong winner the refusal exists to prevent.
    val sig = (1L to 16L).toSeq
    val incoming = Seq(
      ("doc9", sig, "first", 1L),
      ("doc10", sig, "second", 2L))
      .toDF("uid", "sig", "meta_key", "arrival")
    val outcomes = Seq(
      ("doc9", "version", Some("n5"), None: Option[String]),
      ("doc10", "version", Some("n5"), None: Option[String]))
      .toDF("uid", "outcome", "matched_node_id", "batch_twin")
    val flips = Seq.empty[String].toDF("node_id")

    val e = intercept[IllegalArgumentException] {
      DedupGate.outcomesDelta(incoming.drop("arrival"), outcomes,
        flips, 4, 4)
    }
    assert(e.getMessage.contains("arrival"),
      "refusal must name the missing 'arrival' column")

    val (append, _) =
      DedupGate.outcomesDelta(incoming, outcomes, flips, 4, 4)
    val metas = append.select("meta_key").distinct().collect()
      .map(_.getString(0)).toSet
    assert(metas == Set("second"),
      "with an explicit arrival column the LAST arrival (doc10) must " +
        s"win node 5, got metas $metas")
  }

  test("applyOutcomes refuses a 'new' uid that collides with an " +
      "unrelated existing store node id instead of silently replacing " +
      "that node's rows") {
    val text = (i: Int) =>
      s"collision fixture $i tokens c${i}m c${i}n c${i}o padding ${i * 23}"
    val corpus = (1 to 6).map(i => (i.toLong, text(i), "en", "published"))
      .toDF("node_id", "text", "meta_key", "status")
    val s0 = DedupGate.bandedSigStore(sigsOf(corpus, "node_id", "text"), 4, 4)

    // uid 3 carries genuinely NEW content (the gate says "new") but its
    // uid equals store node 3 — the disjointness precondition violated.
    val batch = Seq((3L, "totally unrelated new submission xyzzy plugh", "en"))
      .toDF("uid", "itext", "meta_key")
    val b = batch.join(
      MinHashPipeline.signatures(batch, "uid", col("itext")), "uid")
    val o = DedupGate.classifyStored(b, s0, 4, 4)
    assert(o.collect().head.getString(1) == "new")

    val e = intercept[IllegalArgumentException] {
      DedupGate.applyOutcomes(s0, b, o, Seq.empty[Long].toDF("node_id"),
        4, 4)
    }
    assert(e.getMessage.contains("collide"),
      s"refusal must name the collision, got: ${e.getMessage}")
  }

  test("outcomesDelta raises on an unresolved twin chain (twin absent " +
      "from the outcomes frame) instead of appending null-node rows") {
    val sig = (1L to 16L).toSeq
    val incoming = Seq((102L, sig, "en"))
      .toDF("uid", "sig", "meta_key")
    // 102's twin 999 never appears in outcomes — a partial frame.
    val outcomes = Seq((102L, "version", None: Option[Long], Some(999L)))
      .toDF("uid", "outcome", "matched_node_id", "batch_twin")
    val (append, _) = DedupGate.outcomesDelta(incoming, outcomes,
      Seq.empty[Long].toDF("node_id"), 4, 4)
    val e = intercept[Exception] { append.count() }
    assert(e.getMessage.contains("unresolved twin chain") ||
      Option(e.getCause).exists(_.getMessage.contains("unresolved twin chain")),
      s"execution must raise the twin-chain error, got: $e")
  }

  test("applyOutcomes edge cases: an all-duplicate batch leaves the " +
      "store untouched; archive-only maintenance drops exactly the " +
      "flipped node's rows") {
    val text = (i: Int) =>
      s"edge fixture $i distinct tokens e${i}x e${i}y e${i}z padding ${i * 13}"
    val corpus = (1 to 8).map(i => (i.toLong, text(i), "en", "published"))
      .toDF("node_id", "text", "meta_key", "status")
    val c = sigsOf(corpus, "node_id", "text")
    val s0 = DedupGate.bandedSigStore(c, 4, 4)

    // batch of pure re-arrivals: every outcome is duplicate
    val batch = Seq((901L, text(3), "en"), (902L, text(7), "en"))
      .toDF("uid", "itext", "meta_key")
    val b = batch.join(
      MinHashPipeline.signatures(batch, "uid", col("itext")), "uid")
    val o = DedupGate.classifyStored(b, s0, 4, 4)
    assert(o.filter(col("outcome") =!= "duplicate").isEmpty)

    val noFlips = Seq.empty[Long].toDF("node_id")
    val unchanged = DedupGate.applyOutcomes(s0, b, o, noFlips, 4, 4)
    assert(unchanged.except(s0).isEmpty && s0.except(unchanged).isEmpty,
      "an all-duplicate batch must be a store no-op")

    // archive-only maintenance: same batch, node 7 flips
    val afterFlip =
      DedupGate.applyOutcomes(s0, b, o, Seq(7L).toDF("node_id"), 4, 4)
    assert(afterFlip.filter(col("node_id") === 7L).isEmpty,
      "flipped node's rows must drop")
    assert(afterFlip.except(s0).isEmpty &&
      s0.except(afterFlip).count() == 4, // node 7 carried 4 band rows
      "nothing but the flipped node may change")
  }

  test("ccApplyDelta maintains a stored component assignment across " +
    "chained edge batches: the fold equals one-shot CC on the union, " +
    "and redelivering a folded batch is a no-op") {
    import graft.operators.DedupQueries
    val s = DedupQueries.ccSession(spark)
    val sq = s.sqlContext; import sq.implicits._
    def frame(pairs: Seq[(Long, Long)]) =
      Scope.checkpoint(pairs.toDF("a_id", "b_id"), eager = true)
    def collectAssign(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // T0 build: comps {1,2,3}, {10,11}, {20,21}
    val b0 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    // batch 1: new vertex 30 bridges {10,11} and {20,21}; isolated pair
    val b1 = Seq((11L, 30L), (30L, 20L), (40L, 41L))
    // batch 2: chains THROUGH batch-1's merge (31 joins the merged comp
    // via 30) and merges a batch-1-born comp with a T0 comp
    val b2 = Seq((30L, 31L), (41L, 3L))
    var assign = Scope.checkpoint(
      DedupQueries.ccAssignments(frame(b0)), eager = true)
    for (b <- Seq(b1, b2))
      assign = Scope.checkpoint(
        DedupQueries.ccApplyDelta(s, assign, frame(b)), eager = true)
    val folded = collectAssign(assign)
    val oneShot = collectAssign(
      DedupQueries.ccAssignments(frame(b0 ++ b1 ++ b2)))
    assert(folded == oneShot,
      s"chained fold diverged from one-shot: $folded vs $oneShot")
    // canonical invariant spot-checks: 40-41 now rides {1,2,3} via 3
    val m = folded.toMap
    assert(m(41L) == 1L && m(40L) == 1L && m(31L) == 10L)
    // redelivery: folding batch 2 AGAIN must change nothing — every
    // endpoint already maps to one canonical, the contraction empties
    val redelivered = collectAssign(Scope.checkpoint(
      DedupQueries.ccApplyDelta(s, assign, frame(b2)), eager = true))
    assert(redelivered == folded, "redelivered batch mutated the store")
  }

  test("a gate store written by both arms: a probe past DriverRows (one " +
      "band shared by DriverRows + 1 base docs) takes the distributed " +
      "arm with the oracle's outcomes, every layer's footer schema is " +
      "the same from either arm, and outcomes() and foldedBase read back " +
      "equal to the oracle") {
    import graft.operators.DedupQueries
    import graft.streaming.GateStoreLoop
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val rnd = new scala.util.Random(7)
    // 16-long signatures banded 4 x 4; every hot doc shares band 0
    def sig(head: Seq[Long] = Nil) = head ++ Seq.fill(16 - head.size)(
      rnd.nextLong())
    val hot = (1L to DedupQueries.DriverRows + 1L)
      .map(n => (n, sig(Seq(1L, 2L, 3L, 4L))))
    val plain = (1L to 20L).map(n => (100000L + n, sig()))
    val sigOf = (hot ++ plain).toMap
    val base = DedupGate.bandedSigStore((hot ++ plain)
      .map { case (n, s) => (n, s, "en", "published") }
      .toDF("node_id", "sig", "meta_key", "status"), 4, 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-arms").toString
    GateStoreLoop.init(base, dir)
    val fresh = sig()
    val batches = Seq(
      // driver arm: duplicate, version, new, and a within-batch twin
      Seq((500001L, sigOf(100001L), "en"), (500002L, sigOf(100002L), "xx"),
        (500003L, fresh, "en"), (500004L, fresh, "en")),
      // the hot band: a version of hot doc 7, plus a version of the
      // batch-0 node 500003
      Seq((500011L, sigOf(7L), "xx"), (500012L, fresh, "fr")),
      // driver arm again: versions of a node batch 0 replaced and of the
      // one batch 1 replaced, and a duplicate of a base node
      Seq((500021L, sigOf(100002L), "yy"), (500022L, fresh, "en"),
        (500023L, sigOf(100005L), "en")))
      .map(_.toDF("uid", "sig", "meta_key"))
    // the oracle: the distributed arm against the compacted store
    var oracle = DedupQueries.localFrame(spark, base.schema, base.collect())
    var expected = Seq.empty[String]
    batches.zipWithIndex.foreach { case (b, id) =>
      val (g, gens) = GateStoreLoop.state(spark, dir)
      val driver = DedupGate.gateOnDriver(b, b.collect(), g,
        gens.map(l => (l._2, l._3)), 4, 4)
      assert(driver.isDefined == (id != 1),
        s"batch $id: the driver arm ${if (driver.isDefined) "ran" else
          "declined"}; only the hot-band batch may decline")
      val c = DedupGate.classifyStored(b, oracle, 4, 4)
      val o = DedupQueries.localFrame(spark, c.schema, c.collect())
      expected ++= o.collect().map(_.mkString("|"))
      val (append, tombs) = DedupGate.outcomesDelta(b, o,
        o.select(col("matched_node_id").as("node_id")).limit(0), 4, 4)
      val next = oracle.join(tombs, Seq("node_id"), "left_anti")
        .unionByName(append)
      oracle = DedupQueries.localFrame(spark, next.schema, next.collect())
      GateStoreLoop.handleBatch(dir, 4, 4)(b, id.toLong)
    }
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.mkString("|")).toSeq.sorted
    assert(rowsOf(GateStoreLoop.outcomes(spark, dir)) == expected.sorted)
    val outcomeOf = GateStoreLoop.outcomes(spark, dir)
      .select("uid", "outcome").as[(Long, String)].collect().toMap
    assert(outcomeOf == Map(500001L -> "duplicate", 500002L -> "version",
      500003L -> "new", 500004L -> "duplicate", 500011L -> "version",
      500012L -> "version", 500021L -> "version", 500022L -> "version",
      500023L -> "duplicate"), s"outcomes $outcomeOf")
    val cols = Seq("node_id", "sig", "meta_key", "band_id", "bkey")
    val folded = GateStoreLoop.foldedBase(spark, dir).get._2
    assert(rowsOf(folded.select(cols.map(col): _*)) ==
      rowsOf(oracle.select(cols.map(col): _*)),
      "the fold of generations written by both arms diverged from the oracle")
    // StoreFs.read takes one footer's schema for every generation, so
    // the arms must write the same one, nullability included
    def footer(layer: String) = {
      val file = new java.io.File(layer).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(file.getPath), spark.sparkContext.hadoopConfiguration))
      try reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")
      finally reader.close()
    }
    for (k <- Seq("outcomes", "delta", "tombs")) {
      val schemas = (0 to 2).map(id =>
        footer(s"${GateStoreLoop.storeFs.genDir(dir, id)}/$k"))
      assert(schemas.distinct.size == 1,
        s"$k footers differ across the arms:\n${schemas.mkString("\n")}")
    }
  }

  test("the gate's driver maintenance raises outcomesDelta's refusals: " +
      "an unresolved twin chain, with the distributed arm's message, and " +
      "string uids without an arrival column") {
    val sig = (1L to 16L).toSeq
    val incoming = Seq((102L, sig, "en")).toDF("uid", "sig", "meta_key")
    // 102's twin 999 never appears in outcomes — a partial frame
    val outcomes = Seq((102L, "version", None: Option[Long], Some(999L)))
      .toDF("uid", "outcome", "matched_node_id", "batch_twin")
    val onDriver = intercept[IllegalStateException] {
      DedupGate.outcomesDeltaOnDriver(incoming, incoming.collect(),
        outcomes, 4, 4)
    }
    assert(onDriver.getMessage.contains("unresolved twin chain"))
    val (append, _) = DedupGate.outcomesDelta(incoming, outcomes,
      Seq.empty[Long].toDF("node_id"), 4, 4)
    val distributed = intercept[Exception](append.count())
    assert(Iterator.iterate[Throwable](distributed)(_.getCause)
        .takeWhile(_ != null).exists(t => Option(t.getMessage)
          .exists(_.contains(onDriver.getMessage))),
      s"the arms' messages differ: ${onDriver.getMessage} vs $distributed")
    val strings = Seq(("doc9", sig, "en")).toDF("uid", "sig", "meta_key")
    val store = DedupGate.bandedSigStore(Seq(("doc1", sig, "en",
      "published")).toDF("node_id", "sig", "meta_key", "status"), 4, 4)
    val e = intercept[IllegalArgumentException] {
      DedupGate.gateOnDriver(strings, strings.collect(), store, Nil, 4, 4)
    }
    assert(e.getMessage.contains("arrival"),
      s"refusal must name the missing 'arrival' column: ${e.getMessage}")
  }
}
