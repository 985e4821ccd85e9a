package graft.perfbench

import graft.operators.{DedupGate, MinHashPipeline}
import graft.streaming.{CcStoreLoop, GateStoreLoop}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Planted state of a gate store and the ingest mix that drives it: the
  * correctness oracle for `ingest_stream`.
  *
  * Every generated document is planted as one outcome, so the counts the
  * gate must report are known before it runs:
  *  - new: a fresh body, minted under its own uid;
  *  - version: the body of a live node with a fresh `meta_key` (the node
  *    carries the new meta forward);
  *  - duplicate: the body and current meta of a live node;
  *  - within-batch twin: a second copy of a new document of the same
  *    batch (the later uid is the duplicate).
  * A batch touches any existing node at most once. */
final class Planted(gen: Gen, firstUid: Long) {
  final case class Doc(uid: Long, text: String, meta: String)
  /** A planted batch; `expect` maps each uid to its outcome and the node
    * or earlier twin it must match (None for new). */
  final case class Batch(docs: IndexedSeq[Doc],
      expect: Map[Long, (String, Option[Long])]) {
    def counts: Map[String, Int] =
      expect.values.groupBy(_._1).map { case (k, v) => k -> v.size }
    def lo: Long = docs.head.uid
    def hi: Long = docs.last.uid
  }

  private val textOf = mutable.HashMap.empty[Long, String]
  // Signatures of every live body. The gate treats equal signatures as
  // the same text, and the hash family maps bodies that share one
  // dominant shingle to the same signature, so a fresh body is redrawn
  // until its signature is unused: "new" then means what the gate means.
  private val taken = mutable.HashSet.empty[Seq[Long]]

  private def freshBody(minWords: Int, maxWords: Int): String =
    Iterator.continually(gen.text(minWords, maxWords)).take(1000)
      .find(t => taken.add(Kernels.signature(t)))
      .getOrElse(sys.error("no body with an unused signature in 1000 draws"))
  val metaOf = mutable.HashMap.empty[Long, String]
  private val live = mutable.ArrayBuffer.empty[Long]
  /** Near-duplicate edges in CC order: the base's and every batch's. */
  val edges = mutable.ArrayBuffer.empty[(Long, Long)]
  private var next = firstUid

  /** Seed the store with `n` base documents (node ids 1..n) and link a
    * fifth of them to a retired earlier version. */
  def base(n: Int, minWords: Int, maxWords: Int): IndexedSeq[Doc] =
    (1 to n).map { i =>
      val d = Doc(i.toLong, freshBody(minWords, maxWords), gen.meta())
      textOf(d.uid) = d.text; metaOf(d.uid) = d.meta; live += d.uid
      if (gen.rng.nextInt(5) == 0) edges += ((d.uid + 50000000L, d.uid))
      d
    }

  def liveCount: Int = live.size

  /** One batch with the given planted mix, rows in arrival (uid) order. */
  def batch(nNew: Int, nTwin: Int, nVersion: Int, nDup: Int,
      minWords: Int, maxWords: Int): Batch = {
    val targets = mutable.LinkedHashSet.empty[Long]
    while (targets.size < math.min(nVersion + nDup, live.size))
      targets += live(gen.rng.nextInt(live.size))
    val (vers, dups) = targets.toIndexedSeq.splitAt(nVersion)
    // slots: (kind, node or body index), shuffled into arrival order
    val bodies = IndexedSeq.fill(nNew)((freshBody(minWords, maxWords),
      gen.meta()))
    val twinOf = gen.rng.shuffle(bodies.indices.toList).take(nTwin)
    val slots = gen.rng.shuffle(
      bodies.indices.map(i => ("new", i.toLong)) ++
        twinOf.map(i => ("twin", i.toLong)) ++
        vers.map(n => ("version", n)) ++ dups.map(n => ("duplicate", n)))
    val firstOfBody = mutable.HashMap.empty[Int, Long]
    val expect = mutable.LinkedHashMap.empty[Long, (String, Option[Long])]
    val newMeta = mutable.HashMap.empty[Long, String]
    val docs = slots.map { case (kind, ref) =>
      val uid = next
      next += 1
      kind match {
        case "new" | "twin" =>
          val (t, m) = bodies(ref.toInt)
          // the earlier copy of a twinned body becomes the node
          firstOfBody.get(ref.toInt) match {
            case None =>
              firstOfBody(ref.toInt) = uid
              expect(uid) = ("new", None)
            case Some(first) => expect(uid) = ("duplicate", Some(first))
          }
          Doc(uid, t, m)
        case "version" =>
          val m = gen.meta()
          newMeta(ref) = m
          expect(uid) = ("version", Some(ref))
          Doc(uid, textOf(ref), m)
        case _ =>
          expect(uid) = ("duplicate", Some(ref))
          Doc(uid, textOf(ref), metaOf(ref))
      }
    }
    firstOfBody.foreach { case (i, node) =>
      textOf(node) = bodies(i)._1; metaOf(node) = bodies(i)._2
      live += node
    }
    metaOf ++= newMeta
    edges ++= expect.collect { case (u, (_, Some(t))) => (u, t) }
    Batch(docs, expect.toMap)
  }
}

/** Compares a batch's read-back outcomes with the planted ones: the
  * new/version/duplicate counts, and per document what it matched. */
private object Outcomes {
  def check(rec: Record, what: String,
      got: Map[Long, (String, Option[Long])], b: Planted#Batch): Unit = {
    rec.attempted += 1
    val counts = got.values.groupBy(_._1).map { case (k, v) => k -> v.size }
    if (counts != b.counts)
      rec.fail(s"$what: outcome counts $counts, planted ${b.counts}")
    StoreLoops.diff(got, b.expect).foreach(d =>
      rec.fail(s"$what: outcomes differ from the planted ones: $d"))
  }
}

/** The gate store and the CC store of one workload, driven the way the
  * ORP stream does it: sign, gate, cluster the gate's near-dup edges,
  * compact both. Each step is one call into a public entry point, wrapped
  * in a span. */
final class StoreLoops(spark: SparkSession, root: String, tracer: Tracer,
    maxOpen: Int) {
  import spark.implicits._
  val gateDir = s"$root/gate"
  val ccDir = s"$root/cc"

  /** Build both base stores from the planted base documents. */
  def init(docs: Seq[Planted#Doc], edges: Seq[(Long, Long)]): Unit = {
    val corpus = docs.map(d => (d.uid, d.text, d.meta, "published"))
      .toDF("node_id", "text", "meta_key", "status")
    val sigged = corpus.join(
      MinHashPipeline.signatures(corpus, "node_id", col("text")), "node_id")
    GateStoreLoop.init(DedupGate.bandedSigStore(sigged, 4, 4), gateDir)
    CcStoreLoop.init(spark, edges.toDF("a_id", "b_id"), ccDir)
  }

  /** Step 1: (uid, sig, meta_key) for a frame of (uid, text, meta_key),
    * materialized once. */
  def sign(batch: DataFrame): DataFrame =
    tracer.span("operators.signatures") {
      batch.select("uid", "meta_key")
        .join(MinHashPipeline.signatures(batch, "uid", col("text")), "uid")
        .localCheckpoint(true)
    }

  /** Steps 2-5 for one signed batch. */
  def commit(signed: DataFrame, batchId: Long): Unit = {
    tracer.span("streaming.gate_batch") {
      GateStoreLoop.handleBatch(gateDir, 4, 4)(signed, batchId)
    }
    tracer.span("streaming.cc_batch") {
      val edges = spark.read.parquet(outcomesDir(batchId))
        .filter(col("outcome") =!= "new")
        .select(col("uid").as("a_id"),
          coalesce(col("matched_node_id"), col("batch_twin")).as("b_id"))
      CcStoreLoop.handleBatch(ccDir)(edges, batchId)
    }
    tracer.named[Boolean]("streaming.gate_compact",
        f => if (f) "streaming.gate_compact" else "streaming.gate_noop") {
      GateStoreLoop.maybeCompact(spark, gateDir, maxOpen, upTo = batchId)
    }
    tracer.named[Boolean]("streaming.cc_compact",
        f => if (f) "streaming.cc_compact" else "streaming.cc_noop") {
      CcStoreLoop.maybeCompact(spark, ccDir, maxOpen, upTo = batchId)
    }
  }

  private def outcomesDir(batchId: Long) = s"$gateDir/gen_$batchId/outcomes"

  /** Committed outcomes of the uids in `lo..hi`, read through the loop's
    * public read API: per uid, the outcome and the node or earlier twin
    * it matched. */
  private def committedOutcomes(lo: Long, hi: Long)
      : Map[Long, (String, Option[Long])] =
    GateStoreLoop.outcomes(spark, gateDir)
      .filter(col("uid").between(lo, hi))
      .select(col("uid"), col("outcome"),
        coalesce(col("matched_node_id"), col("batch_twin")))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap

  /** Every committed outcome of one planted batch. */
  def outcomes(b: Planted#Batch): Map[Long, (String, Option[Long])] =
    committedOutcomes(b.lo, b.hi)

  /** After a batch commits, a consumer looks up the outcome of each of
    * the batch's first `Lookups` documents (in arrival order, so a seeded
    * mix of outcomes), one `GateStoreLoop.outcomes` query per document:
    * the loop's public read API, the same read the catalog's
    * `dg_stream_loop` query returns. When `timed` each lookup's latency
    * is a request sample; lookups are not part of the batch's time. Every
    * lookup, and then the whole batch, is checked against the planted
    * outcomes. */
  def readBack(rec: Record, what: String, b: Planted#Batch,
      timed: Boolean): Unit = {
    b.docs.take(StoreLoops.Lookups).foreach { d =>
      val t0 = System.nanoTime()
      val got = committedOutcomes(d.uid, d.uid).get(d.uid)
      val ns = System.nanoTime() - t0
      if (timed) rec.requests += ns / 1e6
      rec.attempted += 1
      if (got != b.expect.get(d.uid))
        rec.fail(s"$what: lookup of ${d.uid} gave $got, planted " +
          b.expect.get(d.uid))
    }
    Outcomes.check(rec, what, outcomes(b), b)
  }

  /** Resolve both stores' current state (listing + parquet resolve), as
    * every batch does internally; returns the gate's open generations. */
  def resolveState(): Int = tracer.span("streaming.state_resolve") {
    val (_, gens) = GateStoreLoop.state(spark, gateDir)
    CcStoreLoop.state(spark, ccDir)
    gens.size
  }

  /** The end of a timed phase that started with `bytes0` on disk and
    * saw `openGens` at the start of its traced batches: final checks, the
    * space metric, and the store-layer scalars. */
  def finish(rec: Record, planted: Planted, bytes0: Long,
      openGens: Seq[Double]): Unit = {
    rec.attempted += 1
    checkFinal(planted).foreach(rec.fail)
    rec.storeBytesPerDoc = liveBytes.toDouble / planted.liveCount
    rec.layer("streaming.bytes_written_per_doc") =
      ((totalBytes - bytes0).toDouble / math.max(1L, rec.docs), "B/doc")
    rec.layer("streaming.open_generations_mean") =
      (if (openGens.isEmpty) 0.0 else openGens.sum / openGens.size, "count")
    rec.layer("streaming.open_generations_max") =
      (if (openGens.isEmpty) 0.0 else openGens.max, "count")
  }

  /** Bytes of every file under both stores. */
  def totalBytes: Long = StoreLoops.bytes(Paths.get(root))

  /** Bytes of the artifacts the current state resolves: the newest
    * committed base of each store plus its open generations. Superseded
    * bases and folded generations stay on disk for an offline janitor
    * and are not counted. */
  def liveBytes: Long = {
    def latest(dir: String, prefix: String, marker: String): Long =
      StoreLoops.committed(dir, prefix, marker).max
    def open(dir: String, prefix: String, marker: String, above: Long) =
      StoreLoops.committed(dir, prefix, marker).filter(_ > above)
    val gb = latest(gateDir, "base_", "_SUCCESS")
    val cb = latest(ccDir, "assign_", "_SUCCESS")
    val dirs = Seq(s"$gateDir/base_$gb", s"$ccDir/assign_$cb") ++
      open(gateDir, "gen_", "tombs/_SUCCESS", gb).map(g => s"$gateDir/gen_$g") ++
      open(ccDir, "gen_", "_SUCCESS", cb).map(g => s"$ccDir/gen_$g")
    dirs.map(d => StoreLoops.bytes(Paths.get(d))).sum
  }

  /** Final-state checks after the timed phase; returns failure messages.
    *  1. the store's own fold of its current state (`foldedBase`, the
    *     frame compaction writes) equals the never-compacted fold of the
    *     initial base and every committed generation, in order;
    *  2. its live nodes and their metadata equal the planted state;
    *  3. the CC assignment equals one-shot connected components of every
    *     planted edge (canonical = smallest member, the ccAssignments
    *     contract), computed in memory. */
  def checkFinal(planted: Planted): Seq[String] = {
    val resolved = GateStoreLoop.foldedBase(spark, gateDir).map(_._2)
      .getOrElse(GateStoreLoop.state(spark, gateDir)._1)
    val allGens = StoreLoops.committed(gateDir, "gen_", "tombs/_SUCCESS")
    val neverCompacted = allGens.foldLeft(
        spark.read.parquet(s"$gateDir/base_-1")) { (s, g) =>
      s.join(spark.read.parquet(s"$gateDir/gen_$g/tombs"), Seq("node_id"),
        "left_anti").unionByName(spark.read.parquet(s"$gateDir/gen_$g/delta"))
    }
    val fails = mutable.ArrayBuffer.empty[String]
    if (!(resolved.exceptAll(neverCompacted).isEmpty &&
        neverCompacted.exceptAll(resolved).isEmpty))
      fails += "gate store differs from the never-compacted fold"
    val nodes = resolved.filter(col("band_id") === 0)
      .select("node_id", "meta_key").as[(Long, String)].collect()
    if (nodes.length != nodes.map(_._1).distinct.length)
      fails += "gate store holds a node twice"
    StoreLoops.diff(nodes.toMap, planted.metaOf.toMap).foreach(d =>
      fails += s"gate store live nodes differ from the planted state: $d")
    val cc = CcStoreLoop.state(spark, ccDir)
      .select("doc_id", "canonical_id").as[(Long, Long)].collect()
    if (cc.length != cc.map(_._1).distinct.length)
      fails += "CC assignment holds a vertex twice"
    StoreLoops.diff(cc.toMap, StoreLoops.components(planted.edges.toSeq))
      .foreach(d => fails +=
        s"CC assignment differs from one-shot CC over all edges: $d")
    fails.toSeq
  }
}

object StoreLoops {
  /** Outcome lookups per committed batch. */
  val Lookups = 10

  /** Committed ids of `<prefix><id>` dirs under `dir` with `marker`. */
  def committed(dir: String, prefix: String, marker: String): Seq[Long] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(prefix))
        .flatMap(_.stripPrefix(prefix).toLongOption)
        .filter(g => Files.exists(p.resolve(s"$prefix$g/$marker")))
        .toSeq.sorted
      finally s.close()
    }
  }

  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  /** None when the maps are equal, else a short description of how
    * they differ (got vs want). */
  def diff[K, V](got: Map[K, V], want: Map[K, V]): Option[String] =
    if (got == want) None
    else {
      val keys = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
      Some(s"${keys.size} of ${want.size} keys differ, e.g. " + keys.take(3)
        .map(k => s"$k: got ${got.get(k)}, want ${want.get(k)}").mkString("; "))
    }

  /** Connected components of an edge list: vertex -> smallest vertex of
    * its component. */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(v => v -> find(v)).toMap
  }
}
