package graft

import graft.operators.GraphMerge
import graft.streaming.StreamPipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Structured-Streaming path tests (SURVEY §5.5): MemoryStream micro-
  * batches replaying the graph-mutation message shape, asserting
  * exactly-once-effective MERGE results and windowed metrics. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Spark jobs started while `f` runs. The listener bus is drained
    * before the listener attaches and again before it detaches, so a
    * job of earlier work is never counted and one of `f` never missed. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.Bridge
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val a = f
      Bridge.drainListenerBus(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The store read contract: for each layer dir, the schema
    * `StoreFs.read` takes from a footer is the one Spark infers. */
  private def assertFooterSchemas(dirs: Seq[String]): Unit =
    dirs.foreach { d =>
      val footer = graft.streaming.StoreFs.read(spark, d).schema
      val inferred = spark.read.parquet(d).schema
      assert(footer == inferred,
        s"footer schema of $d differs from the inferred one: " +
          s"$footer vs $inferred")
    }

  /** Checks a gate store's reads: every layer kind keeps the inferred
    * schema, building `state` and `outcomes` starts no Spark job, and
    * `outcomes` plans ONE parquet scan over every committed generation,
    * not a union of per-generation scans. */
  private def assertGateReads(dir: String): Unit = {
    import graft.streaming.GateStoreLoop
    import org.apache.spark.sql.catalyst.plans.logical.Union
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // every committed generation, folded ones included (compaction
    // never deletes a layer)
    val fs = GateStoreLoop.storeFs
    val all = fs.generations(spark, dir, also = "outcomes/_SUCCESS")
    assertFooterSchemas(fs.baseDir(dir, fs.resolve(spark, dir)._1) +:
      all.flatMap(id => Seq("delta", "tombs", "outcomes")
        .map(k => s"${fs.genDir(dir, id)}/$k")))
    val (_, stateJobs) = jobsDuring(GateStoreLoop.state(spark, dir))
    val (outcomes, outcomeJobs) =
      jobsDuring(GateStoreLoop.outcomes(spark, dir))
    assert(stateJobs == 0 && outcomeJobs == 0,
      s"building state started $stateJobs Spark jobs and outcomes " +
        s"$outcomeJobs; a store read must start none before its action")
    val plan = outcomes.queryExecution.optimizedPlan
    val scans = plan.collect { case r: LogicalRelation => r }
    assert(scans.size == 1 && plan.collect { case u: Union => u }.isEmpty,
      s"outcomes over ${all.size} generations must plan one scan and no " +
        s"Union, got ${scans.size} scans:\n$plan")
  }

  test("ST1/ST2: stream → element extraction → foreachBatch merge is " +
    "exactly-once-effective across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")

    var store = Seq.empty[(String, String, String, Long, String)]
      .toDF("uid", "text", "lang", "version", "status")

    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    def runOnce(): Unit = {
      // Trigger.AvailableNow consumes what exists and terminates, so each
      // delivery wave is its own run resuming from the same checkpoint —
      // the poll-loop shape of the reference (main.py:96-105).
      val q = StreamPipeline.run(events, ckpt) { (batch, _) =>
        val incoming = batch.select(
          $"event_id".cast("string").as("uid"),
          concat(lit("payload "), $"event_type").as("text"),
          lit("en").as("lang"), lit(0.5).as("sim"))
        // localCheckpoint truncates lineage: the merged store must not
        // keep a reference to the micro-batch frame after the batch ends.
        store = GraphMerge.merge(store, incoming, Seq("text", "lang"))
          .localCheckpoint(true)
        ()
      }
      q.awaitTermination()
    }
    input.addData((1L, ts("2024-01-01 00:00:00"), 7L, "signup", 1.0))
    input.addData((2L, ts("2024-01-01 00:30:00"), 7L, "purchase", 2.0))
    runOnce()

    // Re-deliver event 1 (at-least-once source): merge must not create a
    // duplicate live row — a redelivery with changed sim forks a version,
    // identical-content handling is the dedup gate's job upstream; here
    // we assert single live row per uid.
    input.addData((1L, ts("2024-01-01 00:00:00"), 7L, "signup", 1.0))
    runOnce()

    val live = store.filter($"status" =!= "archive")
    assert(live.filter($"uid" === "1").count() == 1)
    assert(live.filter($"uid" === "2").count() == 1)
    assert(store.filter($"uid" === "1").count() == 2) // v1 archived + v2
  }

  test("ST7 streaming: the dedup gate classifies each micro-batch against " +
    "the evolving corpus (new docs enter, duplicates are dropped)") {
    import graft.operators.{DedupGate, MinHashPipeline}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF().toDF("uid", "itext", "meta_key")

    val alpha = "the quick brown fox jumps over the lazy dog again and again"
    val beta = "some other stored document about regulations and safety rules"
    val gamma = "completely novel content never seen before in any store"

    var corpus = Seq.empty[(Long, String, String, String)]
      .toDF("node_id", "text", "meta_key", "status")
    val outcomes = scala.collection.mutable.Map.empty[Long, String]

    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    def runOnce(): Unit = {
      val q = StreamPipeline.run(docs, ckpt) { (batch, _) =>
        val b = batch.localCheckpoint(true)
        if (!b.isEmpty) {
          val incoming = b.join(
            MinHashPipeline.signatures(b, "uid", $"itext"), "uid")
          val corpusSig = corpus.join(
            MinHashPipeline.signatures(corpus, "node_id", $"text"), "node_id")
          val res = DedupGate.classify(incoming, corpusSig, 4, 4)
            .select("uid", "outcome").as[(Long, String)].collect()
          res.foreach { case (u, o) => outcomes(u) = o }
          // ingest policy mirroring check_duplicate.py:183-289: new and
          // version outcomes are stored (version under the same logical
          // node lineage — modeled as a fresh node row here), duplicates
          // are NOT re-inserted
          val keep = res.filter(_._2 != "duplicate").map(_._1).toSet
          val add = b.as[(Long, String, String)].collect()
            .filter(r => keep(r._1))
            .map(r => (r._1, r._2, r._3, "published"))
          if (add.nonEmpty)
            corpus = corpus
              .unionByName(add.toSeq.toDF("node_id", "text", "meta_key", "status"))
              .localCheckpoint(true)
        }
        ()
      }
      q.awaitTermination()
    }

    input.addData((1L, alpha, "en"), (2L, beta, "en"))
    runOnce()
    // second wave arrives after the first is committed to the store
    input.addData((3L, alpha, "en"), (4L, alpha, "xx"), (5L, gamma, "en"))
    runOnce()

    assert(outcomes(1L) == "new" && outcomes(2L) == "new")
    assert(outcomes(3L) == "duplicate") // same content+meta as stored 1
    assert(outcomes(4L) == "version")   // same content, different meta
    assert(outcomes(5L) == "new")
    // duplicates never entered the corpus
    assert(corpus.count() == 4)
  }

  test("delta-store loop through checkpointed foreachBatch: redelivered " +
    "micro-batches are no-ops, and outcomes + compacted store are " +
    "row-identical to the pure-batch dg_gate_delta path") {
    import graft.operators.{DedupGate, MinHashPipeline}
    import graft.streaming.GateStoreLoop
    implicit val sqlCtx = spark.sqlContext

    val text = (i: Int) =>
      s"stream loop fixture $i has words s${i}a s${i}b s${i}c tail ${i * 29}"
    val fresh1 = "first streamed new document with its own words aa bb"
    val corpus = (1 to 18).map(i => (i.toLong, text(i), "en", "published"))
      .toDF("node_id", "text", "meta_key", "status")
    def sigged(df: org.apache.spark.sql.DataFrame, id: String,
        tcol: String) =
      df.join(MinHashPipeline.signatures(df, id, col(tcol)), id)
    val base = DedupGate.bandedSigStore(
      sigged(corpus, "node_id", "text"), 4, 4)

    val dir = java.nio.file.Files.createTempDirectory("graft-sloop").toString
    GateStoreLoop.init(base, dir)

    // batch 1: new + version of node 7; batch 2: re-versions node 7,
    // duplicates batch-1's new node, touches untouched base node 3
    val batch1 = Seq((801L, fresh1, "en"), (802L, text(7), "xx"))
    val batch2 = Seq((901L, text(7), "yy"), (902L, fresh1, "en"),
      (903L, text(3), "en"))

    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF().toDF("uid", "itext", "meta_key")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sckpt").toString
    def runOnce(): Unit = {
      val q = StreamPipeline.run(docs, ckpt) { (b, id) =>
        val withSig = b.localCheckpoint(true)
        GateStoreLoop.handleBatch(dir, 4, 4)(
          sigged(withSig, "uid", "itext").select("uid", "sig", "meta_key"),
          id)
      }
      q.awaitTermination()
    }
    input.addData(batch1: _*)
    runOnce()
    input.addData(batch2: _*)
    runOnce()

    // REDELIVERY: re-run both batches with their original batchIds (the
    // checkpointed contract after a failure between artifact write and
    // offset commit) — artifacts must be overwritten bit-stably, state
    // unchanged.
    def b(rows: Seq[(Long, String, String)]) =
      sigged(rows.toDF("uid", "itext", "meta_key"), "uid", "itext")
        .select("uid", "sig", "meta_key")
    GateStoreLoop.handleBatch(dir, 4, 4)(b(batch1), 0L)
    GateStoreLoop.handleBatch(dir, 4, 4)(b(batch2), 1L)

    // Pure-batch reference: the dg_gate_delta path, by hand.
    val o1 = DedupGate.classifyStoredDeltas(b(batch1), base, Seq(), 4, 4)
    val none = Seq.empty[Long].toDF("node_id")
    val (a1, t1) = DedupGate.outcomesDelta(b(batch1), o1, none, 4, 4)
    val o2 = DedupGate.classifyStoredDeltas(
      b(batch2), base, Seq((a1, t1)), 4, 4)
    val (a2, t2) = DedupGate.outcomesDelta(b(batch2), o2, none, 4, 4)

    def sameRows(x: org.apache.spark.sql.DataFrame,
        y: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(x.except(y).isEmpty && y.except(x).isEmpty,
        s"$what diverged between streaming loop and batch path")
    val keyedCols =
      Seq("uid", "outcome", "matched_node_id", "best_sim", "batch_twin")
    sameRows(GateStoreLoop.outcomes(spark, dir)
      .select(keyedCols.head, keyedCols.tail: _*),
      o1.unionByName(o2).select(keyedCols.head, keyedCols.tail: _*),
      "outcomes")

    // sanity on the loop's semantics before comparing stores
    val om = GateStoreLoop.outcomes(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)))).toMap
    assert(om(801L)._1 == "new")
    assert(om(802L)._1 == "version" && om(802L)._2 == Some(7L))
    assert(om(901L)._1 == "version" && om(901L)._2 == Some(7L),
      "node 7's live meta after batch 1 is xx, so yy re-versions it")
    assert(om(902L)._1 == "duplicate" && om(902L)._2 == Some(801L))
    assert(om(903L)._1 == "duplicate" && om(903L)._2 == Some(3L))

    // COMPACTION via the policy hook: below threshold is a no-op,
    // at threshold the two generations fold; store must equal the
    // batch path's iterative fold.
    assert(!GateStoreLoop.maybeCompact(spark, dir, 3),
      "2 open generations must not trigger a threshold-3 compaction")
    assert(GateStoreLoop.state(spark, dir)._2.size == 2)
    assert(GateStoreLoop.maybeCompact(spark, dir, 2))
    val (compacted, open) = GateStoreLoop.state(spark, dir)
    assert(open.isEmpty, "compaction must close every open generation")
    val ref = Seq((a1, t1), (a2, t2)).foldLeft(base) {
      case (s, (append, tombs)) =>
        s.join(broadcast(tombs), Seq("node_id"), "left_anti")
          .unionByName(append)
    }
    sameRows(compacted, ref, "compacted store")
    // node 7 carries batch-2's signature generation exactly once
    assert(compacted.filter(col("node_id") === 7L).count() == 4)
  }

  test("in-stream compaction excludes the current batch (upTo): a batch " +
    "redelivered after its predecessors were folded into the base " +
    "reclassifies identically — never against its own effects") {
    import graft.operators.{DedupGate, MinHashPipeline}
    import graft.streaming.GateStoreLoop
    val text = (i: Int) =>
      s"compaction fixture $i words c${i}d c${i}e c${i}f tail ${i * 43}"
    val fresh = "entirely new compaction-window submission uu vv ww"
    val corpus = (1 to 12).map(i => (i.toLong, text(i), "en", "published"))
      .toDF("node_id", "text", "meta_key", "status")
    def sigged(df: org.apache.spark.sql.DataFrame, id: String, t: String) =
      df.join(MinHashPipeline.signatures(df, id, col(t)), id)
    val dir = java.nio.file.Files.createTempDirectory("graft-upto").toString
    GateStoreLoop.init(
      DedupGate.bandedSigStore(sigged(corpus, "node_id", "text"), 4, 4), dir)

    def b(rows: Seq[(Long, String, String)]) =
      sigged(rows.toDF("uid", "itext", "meta_key"), "uid", "itext")
        .select("uid", "sig", "meta_key")
    val b0 = b(Seq((701L, text(3), "xx"))) // version of node 3
    val b1 = b(Seq((702L, fresh, "en")))   // new
    GateStoreLoop.handleBatch(dir, 4, 4)(b0, 0L)
    // the in-stream policy call for batch 1: folds ONLY generation 0
    GateStoreLoop.handleBatch(dir, 4, 4)(b1, 1L)
    assert(GateStoreLoop.maybeCompact(spark, dir, 1, upTo = 1L),
      "one generation below batch 1 must trigger a threshold-1 fold")
    val before = GateStoreLoop.outcomes(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted

    // crash-before-offset-commit: batch 1 is REDELIVERED after the
    // compaction that its own foreachBatch invocation ran. Its own
    // generation was excluded from the fold, so the live node set it
    // observes is unchanged and 702 must stay "new" — with an unbounded
    // fold it would find its own signature in the base and flip to
    // duplicate-of-self.
    GateStoreLoop.handleBatch(dir, 4, 4)(b1, 1L)
    val after = GateStoreLoop.outcomes(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(after.sameElements(before),
      s"redelivery after compaction changed outcomes: " +
        s"${before.toSeq} -> ${after.toSeq}")
    assert(after.toMap.apply(702L) == "new")
  }

  test("torn generation artifacts are invisible: a crash between the " +
    "delta write and the tombs write leaves a generation state() skips, " +
    "and redelivery of that batch heals it in place") {
    import graft.operators.{DedupGate, MinHashPipeline}
    import graft.streaming.GateStoreLoop
    val text = (i: Int) =>
      s"torn fixture $i carries words t${i}a t${i}b t${i}c tail ${i * 41}"
    val corpus = (1 to 10).map(i => (i.toLong, text(i), "en", "published"))
      .toDF("node_id", "text", "meta_key", "status")
    def sigged(df: org.apache.spark.sql.DataFrame, id: String, t: String) =
      df.join(MinHashPipeline.signatures(df, id, col(t)), id)
    val base = DedupGate.bandedSigStore(sigged(corpus, "node_id", "text"),
      4, 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-torn").toString
    GateStoreLoop.init(base, dir)

    val b0 = sigged(Seq((501L, text(4), "xx")).toDF("uid", "itext", "meta_key"),
      "uid", "itext").select("uid", "sig", "meta_key")
    GateStoreLoop.handleBatch(dir, 4, 4)(b0, 0L)
    assert(GateStoreLoop.state(spark, dir)._2.map(_._1) == Seq(0L))

    // simulate the crash window: batch 1's delta landed, tombs did not
    val (a1, _) = DedupGate.outcomesDelta(
      sigged(Seq((502L, text(6), "yy")).toDF("uid", "itext", "meta_key"),
        "uid", "itext"),
      DedupGate.classifyStored(
        sigged(Seq((502L, text(6), "yy")).toDF("uid", "itext", "meta_key"),
          "uid", "itext"), base, 4, 4),
      Seq.empty[Long].toDF("node_id"), 4, 4)
    a1.write.mode("overwrite").parquet(s"$dir/gen_1/delta")
    assert(GateStoreLoop.state(spark, dir)._2.map(_._1) == Seq(0L),
      "a generation without its tombs commit marker must be invisible")

    // redelivery of batch 1 overwrites the torn artifacts and completes
    val b1 = sigged(Seq((502L, text(6), "yy")).toDF("uid", "itext", "meta_key"),
      "uid", "itext").select("uid", "sig", "meta_key")
    GateStoreLoop.handleBatch(dir, 4, 4)(b1, 1L)
    assert(GateStoreLoop.state(spark, dir)._2.map(_._1) == Seq(0L, 1L))
    val om = GateStoreLoop.outcomes(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)))).toMap
    assert(om(501L)._1 == "version" && om(501L)._2 == Some(4L))
    assert(om(502L)._1 == "version" && om(502L)._2 == Some(6L))
  }

  test("CC store loop torn generation: a layer without its _SUCCESS " +
    "commit marker is invisible to state(), and redelivering the batch " +
    "heals it in place") {
    import graft.operators.DedupQueries
    import graft.streaming.CcStoreLoop
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cctorn").toString
    CcStoreLoop.init(spark, Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id"), dir)
    def assignOf() = CcStoreLoop.state(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val t0 = assignOf()
    assert(t0 == Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)))
    val bridge = Seq((2L, 3L)).toDF("a_id", "b_id")
    CcStoreLoop.handleBatch(dir)(bridge, 0L)
    val healthy = assignOf()
    assert(healthy == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)))
    // crash window: the layer's files exist but the commit marker
    // does not — the overlay must resolve WITHOUT it
    assert(new java.io.File(s"$dir/gen_0/_SUCCESS").delete())
    assert(assignOf() == t0,
      "a generation without _SUCCESS must be invisible to the overlay")
    // redelivery with the original batchId overwrites and commits
    CcStoreLoop.handleBatch(dir)(bridge, 0L)
    assert(assignOf() == healthy, "redelivery must heal the torn layer")
  }

  test("CC store loop failure modes: a missing store is loud (never an " +
    "empty graph), and an empty batch leaves no generation behind") {
    import graft.streaming.{CcStoreLoop, GateStoreLoop}
    implicit val sqlCtx = spark.sqlContext
    val ghost = java.nio.file.Files
      .createTempDirectory("graft-ccghost").toString
    val e = intercept[IllegalStateException] {
      CcStoreLoop.state(spark, ghost).collect()
    }
    assert(e.getMessage.contains("run init() first"),
      "probing an uninitialized store must fail loudly, not read as empty")
    val dir = java.nio.file.Files.createTempDirectory("graft-ccempty").toString
    CcStoreLoop.init(spark, Seq((1L, 2L)).toDF("a_id", "b_id"), dir)
    CcStoreLoop.handleBatch(dir)(
      Seq.empty[(Long, Long)].toDF("a_id", "b_id"), 0L)
    assert(!new java.io.File(s"$dir/gen_0").exists(),
      "an empty micro-batch must not write an (empty) generation layer")
    assert(CcStoreLoop.state(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      == Seq((1L, 1L), (2L, 1L)))
    // a degenerate threshold with nothing open folds nothing, and both
    // loops say so
    assert(!CcStoreLoop.maybeCompact(spark, dir, 0),
      "cc compaction with nothing open must report no fold")
    val gateDir = java.nio.file.Files
      .createTempDirectory("graft-gateempty").toString
    GateStoreLoop.init(gateStore(Seq(1L -> "lone stored doc aa bb cc")),
      gateDir)
    assert(!GateStoreLoop.maybeCompact(spark, gateDir, 0),
      "gate compaction with nothing open must report no fold")
  }

  /** A banded gate store of `(node_id, text)` documents. */
  private def gateStore(docs: Seq[(Long, String)]) = {
    val c = docs.map { case (id, t) => (id, t, "en", "published") }
      .toDF("node_id", "text", "meta_key", "status")
    graft.operators.DedupGate.bandedSigStore(c.join(
      graft.operators.MinHashPipeline.signatures(c, "node_id", col("text")),
      "node_id"), 4, 4)
  }

  /** A signed gate batch of `(uid, text, meta_key)` documents. */
  private def gateBatch(docs: Seq[(Long, String, String)]) = {
    val b = docs.toDF("uid", "itext", "meta_key")
    b.join(graft.operators.MinHashPipeline.signatures(b, "uid", col("itext")),
      "uid").select("uid", "sig", "meta_key")
  }

  test("gate store init on a re-used dir yields a fresh store: bases and " +
    "generations left from the dir's earlier life are cleared") {
    import graft.streaming.GateStoreLoop
    val text = (i: Int) =>
      s"reinit fixture $i words n${i}a n${i}b n${i}c tail ${i * 47}"
    val dir = java.nio.file.Files.createTempDirectory("graft-reinit").toString
    GateStoreLoop.init(gateStore((1 to 8).map(i => i.toLong -> text(i))), dir)
    GateStoreLoop.handleBatch(dir, 4, 4)(
      gateBatch(Seq((801L, text(3), "xx"))), 0L)
    // a committed base_0 and an open gen_1 now outrank a new base_-1
    GateStoreLoop.compact(spark, dir)
    GateStoreLoop.handleBatch(dir, 4, 4)(
      gateBatch(Seq((802L, "unrelated fresh arrival qq rr ss", "en"))), 1L)

    val fresh = gateStore((20 to 24).map(i => i.toLong -> text(i)))
    GateStoreLoop.init(fresh, dir)
    val (base, open) = GateStoreLoop.state(spark, dir)
    assert(open.isEmpty, s"re-init left open generations ${open.map(_._1)}")
    assert(base.exceptAll(fresh).isEmpty && fresh.exceptAll(base).isEmpty,
      "re-init must resolve to exactly the new base")
    assert(GateStoreLoop.outcomes(spark, dir).isEmpty,
      "re-init must leave no outcomes from the dir's earlier life")
  }

  test("both store loops run on a file: URI store exactly as on a plain " +
    "path, and leave no stray directory under the working dir") {
    import graft.streaming.{CcStoreLoop, GateStoreLoop}
    val text = (i: Int) =>
      s"uri fixture $i words u${i}a u${i}b u${i}c tail ${i * 53}"
    def run(gateDir: String, ccDir: String) = {
      GateStoreLoop.init(gateStore((1 to 10).map(i => i.toLong -> text(i))),
        gateDir)
      CcStoreLoop.init(spark, Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id"),
        ccDir)
      GateStoreLoop.handleBatch(gateDir, 4, 4)(
        gateBatch(Seq((901L, text(4), "xx"), (902L, text(6), "en"))), 0L)
      CcStoreLoop.handleBatch(ccDir)(Seq((2L, 3L)).toDF("a_id", "b_id"), 0L)
      GateStoreLoop.handleBatch(gateDir, 4, 4)(
        gateBatch(Seq((903L, "a brand new arrival vv ww", "en"))), 1L)
      CcStoreLoop.handleBatch(ccDir)(Seq((5L, 4L)).toDF("a_id", "b_id"), 1L)
      // in-stream compaction for batch 1 folds generation 0 only
      assert(GateStoreLoop.maybeCompact(spark, gateDir, 1, upTo = 1L))
      assert(CcStoreLoop.maybeCompact(spark, ccDir, 1, upTo = 1L))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      val (base, open) = GateStoreLoop.state(spark, gateDir)
      (rows(base), open.map(_._1), rows(GateStoreLoop.outcomes(spark, gateDir)),
        rows(CcStoreLoop.state(spark, ccDir)))
    }
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val plain = run(tmp("graft-plaingate"), tmp("graft-plaincc"))
    val (uriGate, uriCc) = (tmp("graft-urigate"), tmp("graft-uricc"))
    val viaUri = run(s"file://$uriGate", s"file://$uriCc")
    assert(plain._2 == Seq(1L), s"open generations ${plain._2}")
    assert(plain._3.size == 3 && plain._4.size == 5)
    assert(viaUri == plain, "a file: URI store diverged from a plain path")
    for (d <- Seq(uriGate, uriCc))
      assert(!new java.io.File(sys.props("user.dir"), s"file:$d").exists(),
        "a file: URI was treated as a relative path under the working dir")
  }

  test("transformWithState fingerprint dedup: first arrival new, " +
    "re-arrivals duplicate across micro-batches (RocksDB state)") {
    import graft.streaming.StreamDedup
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(String, Long)]
      val out = StreamDedup.dedupByFingerprint(input.toDS())
      val q = out.toDF("uid", "outcome").writeStream
        .outputMode("update").format("memory").queryName("sdedup").start()
      input.addData(("fpA", 1L), ("fpB", 2L), ("fpA", 3L)) // batch twin
      q.processAllAvailable()
      input.addData(("fpA", 4L), ("fpC", 5L)) // re-arrival + new
      q.processAllAvailable()
      // r20 review pin: within-batch twins resolve by MIN uid, not by
      // arrival order — the higher uid arrives FIRST here, and must
      // still lose the claim (the batch gate's earlier-id-wins rule;
      // arrival order is shuffle-dependent and would flip on replays)
      input.addData(("fpD", 9L), ("fpD", 7L))
      q.processAllAvailable()
      q.stop()
      val res = spark.table("sdedup")
        .as[(Long, String)].collect().toMap
      assert(res(1L) == "new" && res(2L) == "new")
      assert(res(3L) == "duplicate") // within-batch twin of uid 1
      assert(res(4L) == "duplicate") // cross-batch re-arrival
      assert(res(5L) == "new")
      assert(res(7L) == "new" && res(9L) == "duplicate",
        "fingerprint claim must go to the min uid regardless of arrival")
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState band dedup: a doc sharing ANY LSH band with " +
    "an earlier doc collides with that band's first owner (RocksDB)") {
    import graft.streaming.StreamDedup
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, Seq[String])]
      val out = StreamDedup.dedupByBands(input.toDS())
      val q = out.toDF("doc_id", "band_key", "outcome").writeStream
        .outputMode("update").format("memory").queryName("bdedup").start()
      input.addData((1L, Seq("b0", "b1", "b2", "b3")))
      q.processAllAvailable()
      // doc 2 shares band b2 with doc 1 (near-dup); doc 3 is disjoint;
      // doc 1 re-arrives (all four bands collide with its own id)
      input.addData((2L, Seq("x0", "x1", "b2", "x3")),
        (3L, Seq("y0", "y1", "y2", "y3")), (1L, Seq("b0", "b1", "b2", "b3")))
      q.processAllAvailable()
      q.stop()
      import spark.implicits._
      val res = spark.table("bdedup").as[(Long, String, String)].collect()
      // doc 1 emits 8 rows total: 4 "new" on first arrival, then 4
      // self-collisions on re-arrival — keep them separate (a band→
      // outcome map would collapse the two deliveries)
      assert(res.count(r => r._1 == 1L && r._3 == "new") == 4)
      val d2 = res.filter(_._1 == 2L).map(r => r._2 -> r._3).toMap
      assert(d2("b2") == "collision:1" &&
        d2.values.count(_ == "new") == 3)
      assert(res.filter(_._1 == 3L).forall(_._3 == "new"))
      // re-arrival: every band collides with doc 1's own id — the
      // consumer's exact tier tells self-re-arrival from true near-dup
      val rearrival = res.filter(r => r._1 == 1L && r._3 != "new")
      assert(rearrival.length == 4 &&
        rearrival.forall(_._3 == "collision:1"))
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming SEMANTIC near-dup tier: sign-bucket keys through the " +
    "band-dedup state operator — embedding near-dups collide with the " +
    "bucket's first owner, the streaming face of dd_semdedup") {
    import graft.functions.Vectors
    import graft.streaming.StreamDedup
    implicit val sqlCtx = spark.sqlContext
    // identical sign pattern = same coarse semantic cell (the
    // sim_ann_bucketed quantizer); the stream needs no new operator —
    // BandDedup is generic over its key, so the semantic tier is the
    // lexical band tier fed bucket keys instead of LSH band renders
    val vs = Seq(
      (10L, Seq(0.9, 0.8, -0.7, 0.6, -0.5, 0.4, 0.3, -0.2)),
      (11L, Seq(0.8, 0.7, -0.6, 0.5, -0.4, 0.3, 0.2, -0.1)), // 10's signs
      (12L, Seq(-0.9, 0.8, 0.7, -0.6, 0.5, -0.4, -0.3, 0.2)))
    val bucketOf = vs.toDF("vec_id", "v")
      .select(col("vec_id"),
        Vectors.signBucket(col("v")).cast("string").as("bucket"))
      .as[(Long, String)].collect().toMap
    assert(bucketOf(10L) == bucketOf(11L) && bucketOf(10L) != bucketOf(12L),
      "fixture: 10/11 must share a sign cell, 12 must not")

    val prev =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, Seq[String])]
      val out = StreamDedup.dedupByBands(input.toDS())
      val q = out.toDF("vec_id", "bucket", "outcome").writeStream
        .outputMode("update").format("memory").queryName("semdedup").start()
      input.addData((10L, Seq(bucketOf(10L))))
      q.processAllAvailable()
      input.addData((11L, Seq(bucketOf(11L))), (12L, Seq(bucketOf(12L))))
      q.processAllAvailable()
      q.stop()
      val res = spark.table("semdedup").as[(Long, String, String)].collect()
        .map(r => r._1 -> r._3).toMap
      assert(res(10L) == "new")
      assert(res(11L) == "collision:10",
        "same-sign-cell arrival must collide with the cell's first owner")
      assert(res(12L) == "new")
    } finally {
      prev match {
        case Some(v) => spark.conf
          .set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf
          .unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("dropDuplicatesWithinWatermark: dedup state is TTL'd by the " +
    "watermark — unbounded-corpus streaming dedup with bounded state") {
    // the time-windowed dedup policy FingerprintDedup's TTLConfig points
    // at, expressed with the built-in operator: duplicates are dropped
    // while their fingerprint is younger than the watermark delay, and
    // state older than the watermark is evicted (bounded at any rate)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val out = input.toDF().toDF("fingerprint", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("fingerprint")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("wmdedup").start()
    input.addData(("fpA", ts("2024-01-01 10:00:00")),
      ("fpA", ts("2024-01-01 10:01:00")), // in-window duplicate: dropped
      ("fpB", ts("2024-01-01 10:02:00")))
    q.processAllAvailable()
    // advance event time far past the delay so fpA's state is evictable
    input.addData(("adv", ts("2024-01-01 12:00:00")))
    q.processAllAvailable()
    input.addData(("fpA", ts("2024-01-01 12:01:00"))) // re-emerges post-TTL
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("wmdedup")
      .select($"fingerprint", $"ts".cast("string"))
      .as[(String, String)].collect().toSeq
    assert(emitted.count(_._1 == "fpA") == 2,
      "one emit in-window, one after state eviction")
    assert(!emitted.contains(("fpA", "2024-01-01 10:01:00")),
      "the in-window duplicate must be dropped")
    assert(emitted.count(_._1 == "fpB") == 1)
  }

  test("windowed throughput with watermark emits per-window counts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val agg = StreamPipeline.throughput(events, "1 hour", "2 hours")

    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("tp").start()
    input.addData(
      (1L, ts("2024-01-01 10:05:00"), 1L, "signup", 1.0),
      (2L, ts("2024-01-01 10:55:00"), 2L, "signup", 3.0),
      (3L, ts("2024-01-01 11:05:00"), 3L, "error", 5.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("tp")
      .select($"ws".cast("string"), $"event_type", $"n", $"total_value")
      .as[(String, String, Long, Double)].collect().toSet
    assert(rows.contains(("2024-01-01 10:00:00", "signup", 2L, 4.0)))
    assert(rows.contains(("2024-01-01 11:00:00", "error", 1L, 5.0)))
  }

  test("stream-stream interval join: clicks pair with same-user views " +
    "within 10 minutes, watermarks bound the join state") {
    // the streaming counterpart of j10_range_join: per-key symmetric hash
    // join whose buffered state is evicted by the watermark + time bound,
    // so state size is O(rate × window), not O(stream history)
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val views = MemoryStream[(Long, Long, Timestamp)]
    val c = clicks.toDF().toDF("c_id", "c_user", "c_ts")
      .withWatermark("c_ts", "20 minutes")
    val v = views.toDF().toDF("v_id", "v_user", "v_ts")
      .withWatermark("v_ts", "20 minutes")
    val joined = c.join(v, expr(
      "c_user = v_user AND v_ts >= c_ts AND v_ts < c_ts + INTERVAL 10 MINUTES"))

    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj").start()
    clicks.addData(
      (1L, 1L, ts("2024-01-01 10:00:00")),
      (2L, 1L, ts("2024-01-01 10:30:00")),
      (3L, 2L, ts("2024-01-01 10:00:00")))
    views.addData(
      (10L, 1L, ts("2024-01-01 10:05:00")),  // matches click 1 only
      (11L, 1L, ts("2024-01-01 10:31:00")),  // matches click 2 only
      (12L, 2L, ts("2024-01-01 10:20:00")))  // outside click 3's window
    q.processAllAvailable()
    q.stop()

    val pairs = spark.table("ssj").select($"c_id", $"v_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 10L), (2L, 11L)))
  }

  test("end-to-end ingest loop: dedup gate → 3-way outcome → SCD-2 merge " +
    "across micro-batches (the reference pipeline composed)") {
    // The full ST path in one foreachBatch: signature the batch, classify
    // against the live store (duplicate / version / new), drop
    // duplicates, route versions onto their matched node id, merge.
    import graft.operators.{DedupGate, MinHashPipeline}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String, String)]
    var store = Seq.empty[(Long, String, String, String, Long, String)]
      .toDF("uid", "text", "lang", "meta_key", "version", "status")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    def runOnce(): Unit = {
      val q = StreamPipeline.run(
        input.toDF().toDF("uid", "text", "lang", "meta_key"), ckpt) {
        (batch0, _) =>
          val batch = batch0.localCheckpoint(true)
          val live = store.filter($"status" =!= "archive")
            .localCheckpoint(true)
          def sigged(df: org.apache.spark.sql.DataFrame, id: String) =
            MinHashPipeline.signatures(df, id, $"text")
              .join(df, id)
          val incoming = sigged(batch, "uid")
            .select($"uid", $"sig", $"meta_key")
          val corpus = sigged(live, "uid")
            .select($"uid".as("node_id"), $"sig", $"meta_key", $"status")
          val outcomes = DedupGate.classify(incoming, corpus, 4, 4)
          val routed = batch.join(
              outcomes.select($"uid", $"outcome", $"matched_node_id",
                $"best_sim"), "uid")
            .filter($"outcome" =!= "duplicate")
            .select(
              coalesce($"matched_node_id", $"uid").as("uid"),
              $"text", $"lang", $"meta_key",
              coalesce($"best_sim", lit(0.0)).as("sim"))
          store = GraphMerge.merge(store, routed,
            Seq("text", "lang", "meta_key")).localCheckpoint(true)
          ()
      }
      q.awaitTermination()
    }

    val baseText = "the quick brown fox jumps over the lazy dog again " * 3
    input.addData(
      (1L, baseText, "en", "metaA"),
      (2L, "completely different payload about regulations", "en", "metaB"))
    runOnce()
    assert(store.filter($"status" =!= "archive").count() == 2)

    input.addData(
      // exact resend of doc 1 under a new uid, same metadata → duplicate
      (10L, baseText, "en", "metaA"),
      // near-identical content, different metadata → version of node 1
      (11L, baseText + " amended", "en", "metaC"),
      // novel content → new node
      (12L, "unrelated fresh document about something else", "en", "metaD"))
    runOnce()

    val live = store.filter($"status" =!= "archive")
      .select($"uid", $"version", $"meta_key").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // duplicate was dropped at the gate: node 10 never reached the store
    assert(!live.contains(10L) &&
      store.filter($"uid" === 10L).count() == 0)
    // the version outcome landed ON node 1 (id carried forward); its
    // amendment sits past the 24-word signature window, so best_sim is
    // 1.0 ≥ 0.995 and the merge applies the ST5 in-place path: metadata
    // updated, version unchanged, nothing archived (the < 0.995 fork
    // path is unit-covered in GraphMergeSpec)
    assert(live(1L) == (1L, "metaC"))
    assert(store.filter($"uid" === 1L && $"status" === "archive")
      .count() == 0)
    // novel doc inserted fresh
    assert(live(12L) == (1L, "metaD"))
    assert(live(2L) == (1L, "metaB"))
  }

  test("stream-static broadcast join enriches micro-batches; unmatched " +
    "events survive as left rows") {
    // the streaming face of J2: the dimension is a plain batch frame
    // broadcast into every micro-batch — per-batch hash join, no
    // streaming state at all, dim refresh = next batch reads new frame
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val dim = Seq(("signup", "acquisition"), ("purchase", "revenue"))
      .toDF("event_type", "category")
    val joined = input.toDF().toDF("event_id", "event_type")
      .join(broadcast(dim), Seq("event_type"), "left")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("enriched").start()
    input.addData((1L, "signup"), (2L, "browse"), (3L, "purchase"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("enriched")
      .select($"event_id", $"category").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows == Map(1L -> Some("acquisition"), 2L -> None,
      3L -> Some("revenue")))
  }

  test("native session_window groups events by activity gap per user") {
    // Spark's built-in session windows (dynamic, gap-merged) — the
    // declarative alternative to the flatMapGroupsWithState sessionizer,
    // state bounded by the watermark
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Timestamp)]
    val agg = input.toDF().toDF("event_id", "user_id", "ts")
      .withWatermark("ts", "1 hour")
      .groupBy(session_window($"ts", "10 minutes").as("sw"), $"user_id")
      .agg(count(lit(1)).as("n"))

    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("sess").start()
    input.addData(
      (1L, 1L, ts("2024-01-01 10:00:00")),
      (2L, 1L, ts("2024-01-01 10:05:00")),  // gap 5m < 10m: same session
      (3L, 1L, ts("2024-01-01 10:30:00")),  // gap 25m: new session
      (4L, 2L, ts("2024-01-01 10:00:00")))
    q.processAllAvailable()
    q.stop()

    val sessions = spark.table("sess")
      .select($"user_id", $"sw.start".cast("string"), $"n")
      .as[(Long, String, Long)].collect().toSet
    assert(sessions == Set(
      (1L, "2024-01-01 10:00:00", 2L),
      (1L, "2024-01-01 10:30:00", 1L),
      (2L, "2024-01-01 10:00:00", 1L)))
  }

  test("CC store loop through checkpointed foreachBatch: edge batches " +
    "fold as ingest-sized changed-row generations, redelivery is " +
    "bit-stable, and the overlay equals one-shot CC on the union") {
    import graft.operators.DedupQueries
    import graft.streaming.CcStoreLoop
    implicit val sqlCtx = spark.sqlContext

    // T0 comps: {1,2,3}, {10,11}, {20,21}
    val b0 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    // batch 0 bridges {10,11}+{20,21} via 30 and births {40,41};
    // batch 1 chains through the bridge (31) and merges {40,41} into
    // the {1,2,3} component via vertex 3
    val batch0 = Seq((11L, 30L), (30L, 20L), (40L, 41L))
    val batch1 = Seq((30L, 31L), (41L, 3L))

    val dir = java.nio.file.Files.createTempDirectory("graft-ccloop").toString
    CcStoreLoop.init(spark, b0.toDF("a_id", "b_id"), dir)

    val input = MemoryStream[(Long, Long)]
    val edges = input.toDF().toDF("a_id", "b_id")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ccckpt").toString
    def runOnce(): Unit = {
      val q = StreamPipeline.run(edges, ckpt)(CcStoreLoop.handleBatch(dir))
      q.awaitTermination()
    }
    input.addData(batch0: _*)
    runOnce()
    input.addData(batch1: _*)
    runOnce()

    def assignOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val streamed = assignOf(CcStoreLoop.state(spark, dir))
    // one-shot reference: the edge frame must BELONG to the cc child
    // session (plans run under their frame's session, and the loop
    // machinery needs ccSession's rule exclusion) — rebind it
    val sOne = DedupQueries.ccSession(spark)
    val outerEdges = (b0 ++ batch0 ++ batch1).toDF("a_id", "b_id")
    val oneShot = assignOf(DedupQueries.ccAssignments(
      DedupQueries.truncatedDf(
        sOne.createDataFrame(outerEdges.rdd, outerEdges.schema),
        eager = true)))
    assert(streamed == oneShot,
      s"streamed overlay diverged from one-shot CC: $streamed vs $oneShot")

    // generation layers are the CHANGED-ROW sets, not snapshots:
    // batch 0 remaps {20,21} onto canonical 10 and adds {30,40,41} —
    // 10 and 11 already carried canonical 10, so they do NOT re-land;
    // batch 1 remaps the batch-0 component's tail and {40,41}, adds 31
    val gen0 = assignOf(spark.read.parquet(s"$dir/gen_0"))
    assert(gen0 == Seq(20L, 21L, 30L, 40L, 41L).map(v =>
      (v, if (v == 40L || v == 41L) 40L else 10L)).sortBy(_._1),
      s"gen_0 changed-row set drifted: $gen0")
    val gen1 = assignOf(spark.read.parquet(s"$dir/gen_1"))
    assert(gen1.map(_._1) == Seq(31L, 40L, 41L) && gen1.forall(r =>
      (r._1 == 31L && r._2 == 10L) || r._2 == 1L),
      s"gen_1 changed-row set drifted: $gen1")

    // REDELIVERY with original batchIds: artifacts rewrite bit-stably
    CcStoreLoop.handleBatch(dir)(batch0.toDF("a_id", "b_id"), 0L)
    CcStoreLoop.handleBatch(dir)(batch1.toDF("a_id", "b_id"), 1L)
    assert(assignOf(CcStoreLoop.state(spark, dir)) == oneShot,
      "redelivered batches mutated the assignment")

    // compaction folds the layers into a full assignment; the overlay
    // read and the compacted read agree
    assert(!CcStoreLoop.maybeCompact(spark, dir, 3),
      "2 open generations must not trigger a threshold-3 fold")
    assert(CcStoreLoop.maybeCompact(spark, dir, 2))
    assert(assignOf(CcStoreLoop.state(spark, dir)) == oneShot,
      "compaction changed the assignment")
  }

  test("string uids through the gate store loop: handleBatch mints an " +
    "arrival order from within-batch position, last-writer-wins follows " +
    "ARRIVAL (not lexicographic uid order), and outcomes + delta match " +
    "the explicit-arrival batch path") {
    import graft.operators.{DedupGate, MinHashPipeline}
    import graft.streaming.GateStoreLoop

    val text = (i: Int) =>
      s"string uid fixture $i words u${i}a u${i}b u${i}c tail ${i * 31}"
    val corpus = (1 to 12).map(i => (f"n$i%02d", text(i), "en", "published"))
      .toDF("node_id", "text", "meta_key", "status")
    def sigged(df: org.apache.spark.sql.DataFrame, id: String,
        tcol: String) =
      df.join(MinHashPipeline.signatures(df, id, col(tcol)), id)
    val base = DedupGate.bandedSigStore(
      sigged(corpus, "node_id", "text"), 4, 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-suid").toString
    GateStoreLoop.init(base, dir)

    // doc9 arrives FIRST, doc10 second; both are versions of node n07.
    // Lexicographically "doc9" > "doc10", so a uid-ordered last-writer
    // pick (the ordering outcomesDelta REFUSES for bare string uids)
    // would keep doc9's meta — arrival order must keep doc10's.
    val raw = Seq(("doc9", text(7), "xx"), ("doc10", text(7), "yy"))
      .toDF("uid", "itext", "meta_key")
    val sigOf = sigged(raw, "uid", "itext").select("uid", "sig").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // arrival-ordered frame WITHOUT an arrival column — what a stream
    // delivers; Seq order is row order, which the loop's minted
    // monotonically-increasing id renders monotone
    val batch = Seq(("doc9", sigOf("doc9"), "xx"),
      ("doc10", sigOf("doc10"), "yy")).toDF("uid", "sig", "meta_key")
    GateStoreLoop.handleBatch(dir, 4, 4)(batch, 0L)
    assertGateReads(dir)

    // the refusal contract still stands OUTSIDE the loop: the pure-batch
    // path takes an EXPLICIT arrival column for string uids
    val explicit = Seq(("doc9", sigOf("doc9"), "xx", 0L),
      ("doc10", sigOf("doc10"), "yy", 1L))
      .toDF("uid", "sig", "meta_key", "arrival")
    val o = DedupGate.classifyStoredDeltas(explicit, base, Seq(), 4, 4)
    val none = Seq.empty[String].toDF("node_id")
    val (a1, t1) = DedupGate.outcomesDelta(explicit, o, none, 4, 4)

    val keyed =
      Seq("uid", "outcome", "matched_node_id", "best_sim", "batch_twin")
    val loopO = GateStoreLoop.outcomes(spark, dir)
      .select(keyed.head, keyed.tail: _*)
    val refO = o.select(keyed.head, keyed.tail: _*)
    assert(loopO.except(refO).isEmpty && refO.except(loopO).isEmpty,
      "string-uid loop outcomes diverged from the explicit-arrival " +
        "batch path")
    // both docs version n07 (corpus wins the twin tie)
    val om = loopO.collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(om("doc9") == ("version", "n07"))
    assert(om("doc10") == ("version", "n07"))

    // delta artifacts identical to the batch path's
    val (b2, gens) = GateStoreLoop.state(spark, dir)
    assert(gens.map(_._1) == Seq(0L))
    val (_, delta, tombs) = gens.head
    assert(delta.except(a1).isEmpty && a1.except(delta).isEmpty,
      "loop delta diverged from batch-path append")
    assert(tombs.except(t1).isEmpty && t1.except(tombs).isEmpty,
      "loop tombstones diverged from batch-path tombstones")

    // the LIVE store carries doc10's meta under n07 — the ARRIVAL
    // winner; lexicographic last-writer would have kept doc9's "xx"
    val merged = gens.foldLeft(b2) { case (s, (_, ap, tb)) =>
      s.join(broadcast(tb), Seq("node_id"), "left_anti").unionByName(ap)
    }
    val n07meta = merged
      .filter(col("node_id") === "n07" && col("band_id") === 0)
      .select("meta_key").collect().map(_.getString(0)).toSeq
    assert(n07meta == Seq("yy"),
      s"n07 should carry the arrival winner doc10's meta, got $n07meta")
  }

  test("gate store loop SOAK: many batches with in-stream compaction — " +
    "open generations stay bounded by maxOpenGenerations, the base " +
    "advances, and outcomes + final store equal the never-compacted " +
    "batch path") {
    import graft.operators.{DedupGate, MinHashPipeline}
    import graft.streaming.GateStoreLoop

    val text = (i: Int) =>
      s"soak fixture $i words k${i}a k${i}b k${i}c tail ${i * 37}"
    val fresh = (i: Int) =>
      s"soak fresh document $i unique tokens z${i}q z${i}r z${i}s"
    val corpus = (1 to 12).map(i => (i.toLong, text(i), "en", "published"))
      .toDF("node_id", "text", "meta_key", "status")
    def sigged(df: org.apache.spark.sql.DataFrame, id: String,
        tcol: String) =
      df.join(MinHashPipeline.signatures(df, id, col(tcol)), id)
    val base = DedupGate.bandedSigStore(
      sigged(corpus, "node_id", "text"), 4, 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-soak").toString
    GateStoreLoop.init(base, dir)

    val maxOpen = 3
    val nBatches = 8
    // batch i: one genuinely new doc, one re-version of node (i%12)+1,
    // one probe of that node's ORIGINAL content+meta (duplicate until a
    // version retires the meta, then a version — the reference path
    // computes the same, which is the point)
    def mkBatch(i: Int) = Seq(
      (1000L + i, fresh(i), s"f$i"),
      (2000L + i, text(i % 12 + 1), s"m$i"),
      (3000L + i, text(i % 12 + 1), "en"))
    def b(rows: Seq[(Long, String, String)]) =
      sigged(rows.toDF("uid", "itext", "meta_key"), "uid", "itext")
        .select("uid", "sig", "meta_key")

    var compactions = 0
    (0 until nBatches).foreach { i =>
      GateStoreLoop.handleBatch(dir, 4, 4)(b(mkBatch(i)), i.toLong)
      if (GateStoreLoop.maybeCompact(spark, dir, maxOpen, upTo = i.toLong))
        compactions += 1
      // READ-AMPLIFICATION BOUND: after the in-stream compaction hook,
      // a later batch's classify pays one broadcast probe per open
      // generation — never more than maxOpen of them (+ its own)
      val open = GateStoreLoop.state(spark, dir)._2.size
      assert(open <= maxOpen + 1,
        s"after batch $i: $open open generations exceed the " +
          s"maxOpen=$maxOpen bound the compaction cadence promises")
    }
    assert(compactions >= 2,
      s"$nBatches batches at threshold $maxOpen should compact >= 2 " +
        s"times, saw $compactions")
    assertGateReads(dir)

    // never-compacted reference: the pure dg_gate_delta iteration
    val none = Seq.empty[Long].toDF("node_id")
    var gens = Seq.empty[(org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame)]
    var refOutcomes = Seq.empty[org.apache.spark.sql.DataFrame]
    (0 until nBatches).foreach { i =>
      val bi = b(mkBatch(i)).localCheckpoint(true)
      val oi = DedupGate.classifyStoredDeltas(bi, base, gens, 4, 4)
        .localCheckpoint(true)
      val (ai, ti) = DedupGate.outcomesDelta(bi, oi, none, 4, 4)
      gens = gens :+ ((ai.localCheckpoint(true), ti.localCheckpoint(true)))
      refOutcomes = refOutcomes :+ oi
    }
    val keyed =
      Seq("uid", "outcome", "matched_node_id", "best_sim", "batch_twin")
    val loopO = GateStoreLoop.outcomes(spark, dir)
      .select(keyed.head, keyed.tail: _*)
    val refO = refOutcomes.reduce(_ unionByName _)
      .select(keyed.head, keyed.tail: _*)
    assert(loopO.except(refO).isEmpty && refO.except(loopO).isEmpty,
      "soak outcomes diverged from the never-compacted batch path — " +
        "a compaction boundary changed classification")

    // final store: loop state (compacted base + open gens) vs the
    // reference fold of every generation over the original base
    val (loopBase, loopGens) = GateStoreLoop.state(spark, dir)
    val loopStore = loopGens.foldLeft(loopBase) { case (s, (_, ap, tb)) =>
      s.join(broadcast(tb), Seq("node_id"), "left_anti").unionByName(ap)
    }
    val refStore = gens.foldLeft(base) { case (s, (ap, tb)) =>
      s.join(broadcast(tb), Seq("node_id"), "left_anti").unionByName(ap)
    }
    assert(loopStore.except(refStore).isEmpty &&
      refStore.except(loopStore).isEmpty,
      "soak final store diverged from the never-compacted fold")
  }

  test("CC store loop SOAK: many edge batches with in-stream " +
    "compaction — open generations stay bounded, and the overlay " +
    "equals one-shot CC on the union at every compaction boundary") {
    import graft.operators.DedupQueries
    import graft.streaming.CcStoreLoop

    // base: 6 two-vertex components; each batch bridges or extends
    val b0 = (0 until 6).map(i => (10L * i + 1, 10L * i + 2))
    val batches = (0 until 8).map { i =>
      // batch i: link component i%6 to a fresh vertex, and every third
      // batch also bridges two components
      val bridge = if (i % 3 == 2)
        Seq((10L * (i % 6) + 1, 10L * ((i + 1) % 6) + 1)) else Seq()
      Seq((10L * (i % 6) + 2, 100L + i)) ++ bridge
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-ccsoak").toString
    CcStoreLoop.init(spark, b0.toDF("a_id", "b_id"), dir)

    val maxOpen = 3
    def assignOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val sOne = DedupQueries.ccSession(spark)
    def oneShotUpTo(i: Int) = {
      val all = (b0 ++ batches.take(i + 1).flatten).toDF("a_id", "b_id")
      assignOf(DedupQueries.ccAssignments(DedupQueries.truncatedDf(
        sOne.createDataFrame(all.rdd, all.schema), eager = true)))
    }
    batches.zipWithIndex.foreach { case (edges, i) =>
      CcStoreLoop.handleBatch(dir)(edges.toDF("a_id", "b_id"), i.toLong)
      val folded =
        CcStoreLoop.maybeCompact(spark, dir, maxOpen, upTo = i.toLong)
      val open = {
        // open generations = committed gens above the highest base
        val fsDir = new java.io.File(dir)
        val baseMax = fsDir.listFiles().map(_.getName)
          .filter(_.startsWith("assign_")).map(_.stripPrefix("assign_").toLong)
          .max
        fsDir.listFiles().map(_.getName).filter(_.startsWith("gen_"))
          .map(_.stripPrefix("gen_").toLong).count(_ > baseMax)
      }
      assert(open <= maxOpen + 1,
        s"after batch $i: $open open CC generations exceed the bound")
      if (folded)
        assert(assignOf(CcStoreLoop.state(spark, dir)) == oneShotUpTo(i),
          s"compaction at batch $i changed the assignment")
    }
    // a redelivery of the last batch under a FRESH id changes nothing,
    // so it lands an empty generation: its footer still carries the
    // layer schema, and the overlay reads through it
    val emptyId = batches.size.toLong
    CcStoreLoop.handleBatch(dir)(
      batches.last.toDF("a_id", "b_id"), emptyId)
    val emptyGen = CcStoreLoop.storeFs.genDir(dir, emptyId)
    assert(spark.read.parquet(emptyGen).isEmpty,
      "an already-merged batch must land an empty generation")
    val (g, ids) = CcStoreLoop.storeFs.resolve(spark, dir)
    assert(ids.contains(emptyId))
    assertFooterSchemas(CcStoreLoop.storeFs.baseDir(dir, g) +:
      ids.map(CcStoreLoop.storeFs.genDir(dir, _)))
    val (state, stateJobs) = jobsDuring(CcStoreLoop.state(spark, dir))
    assert(stateJobs == 0,
      s"building the CC state started $stateJobs Spark jobs; a store " +
        "read must start none before its action")
    assert(assignOf(state) == oneShotUpTo(batches.size - 1),
      "soak final CC assignment diverged from one-shot CC on the union")
  }

  test("an ingest-sized batch runs the driver arms: one gate handleBatch " +
    "and one CC handleBatch each start at most a stated number of Spark " +
    "jobs, far below what the distributed loops start") {
    import graft.streaming.{CcStoreLoop, GateStoreLoop}
    val text = (i: Int) =>
      s"job pin fixture $i carries words j${i}a j${i}b j${i}c tail ${i * 31}"
    val gateDir = java.nio.file.Files.createTempDirectory("graft-gjobs").toString
    GateStoreLoop.init(gateStore((1 to 18).map(i => i.toLong -> text(i))),
      gateDir)
    // new, version, duplicate and a within-batch twin of the new doc
    val fresh = "a job pin batch document with words of its own zz yy"
    val batch = gateBatch(Seq((801L, fresh, "en"), (802L, text(7), "xx"),
      (803L, text(3), "en"), (804L, fresh, "en"))).localCheckpoint(true)
    val (_, gateJobs) =
      jobsDuring(GateStoreLoop.handleBatch(gateDir, 4, 4)(batch, 0L))
    val outcomes = GateStoreLoop.outcomes(spark, gateDir)
      .select("uid", "outcome").as[(Long, String)].collect().toMap
    assert(outcomes == Map(801L -> "new", 802L -> "version",
      803L -> "duplicate", 804L -> "duplicate"), s"outcomes $outcomes")
    // every layer of the generation is one file
    Seq("outcomes", "delta", "tombs").foreach { k =>
      val files = new java.io.File(s"$gateDir/gen_0/$k").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"gen_0/$k wrote ${files.length} files")
    }
    val ccDir = java.nio.file.Files.createTempDirectory("graft-cjobs").toString
    CcStoreLoop.init(spark, Seq((1L, 2L), (3L, 4L), (10L, 11L))
      .toDF("a_id", "b_id"), ccDir)
    // a new vertex joins {1,2}, and {3,4} merges into {1,2}: both the
    // local new-vertex rows and the moved-canonical pass-through run
    val edges = Seq((2L, 20L), (4L, 1L)).toDF("a_id", "b_id")
      .localCheckpoint(true)
    val (_, ccJobs) = jobsDuring(CcStoreLoop.handleBatch(ccDir)(edges, 0L))
    assert(CcStoreLoop.state(spark, ccDir).as[(Long, Long)].collect()
      .sorted.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
        (10L, 10L), (11L, 10L), (20L, 1L)))
    // the driver arms start 22 and 5 jobs here (local[4]); forced onto
    // the distributed loops the same batches start 30 and 25 — the
    // checkpoints, pointer-jumping counts and checksum heads the driver
    // arms replace
    assert(gateJobs <= 26 && ccJobs <= 7,
      s"gate handleBatch started $gateJobs jobs and CC handleBatch " +
        s"$ccJobs — an ingest-sized batch must run the driver arms")
  }

  test("reader during an in-flight compaction: an uncommitted base dir " +
      "is invisible to state(), and the committed fold flips resolution " +
      "atomically (the concurrency contract's reader half)") {
    import graft.operators.{DedupGate, MinHashPipeline}
    import graft.streaming.GateStoreLoop
    val text = (i: Int) =>
      s"compaction race fixture $i words r${i}a r${i}b r${i}c end ${i * 31}"
    val corpus = (1 to 6).map(i => (i.toLong, text(i), "en", "published"))
      .toDF("node_id", "text", "meta_key", "status")
    val base = DedupGate.bandedSigStore(
      corpus.join(
        MinHashPipeline.signatures(corpus, "node_id", col("text")),
        "node_id"), 4, 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-crace").toString
    GateStoreLoop.init(base, dir)
    val batch = Seq((701L, "entirely new streamed doc zz yy xx", "en"))
      .toDF("uid", "itext", "meta_key")
    val sigged = batch
      .join(MinHashPipeline.signatures(batch, "uid", col("itext")), "uid")
      .select("uid", "sig", "meta_key")
    GateStoreLoop.handleBatch(dir, 4, 4)(sigged, 0L)
    val (base0, gens0) = GateStoreLoop.state(spark, dir)
    val baseRows0 = base0.count()
    assert(gens0.map(_._1) == Seq(0L))

    // Simulate the fold mid-write: base_0 exists with bytes in it but
    // no _SUCCESS. A concurrent reader resolving through state() must
    // still see base_-1 + gen_0 — the _SUCCESS gate, not directory
    // existence, is what a reader trusts.
    val partial = new java.io.File(s"$dir/base_0")
    partial.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/base_0/part-00000.parquet"),
      Array[Byte](0x50, 0x41, 0x52))
    val (base1, gens1) = GateStoreLoop.state(spark, dir)
    assert(gens1.map(_._1) == Seq(0L),
      "open generations must survive an uncommitted fold dir")
    assert(base1.count() == baseRows0,
      "state() must keep resolving the previous committed base")

    // The real fold overwrites the partial dir and commits; resolution
    // flips to the new base with zero open generations.
    GateStoreLoop.compact(spark, dir)
    val (base2, gens2) = GateStoreLoop.state(spark, dir)
    assert(gens2.isEmpty)
    assert(base2.select("node_id").distinct().count() == 7L,
      "folded base must carry the 6 corpus nodes plus the new node")
  }
}
