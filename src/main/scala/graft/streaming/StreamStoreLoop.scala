package graft.streaming

import graft.Scope
import graft.operators.{DedupGate, DedupQueries}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** The dedup gate's PRODUCTION posture wired through Structured
  * Streaming — ST7's per-batch loop end-to-end (reference contract:
  * `lambdas/check_duplicate/check_duplicate.py:183-289` classifies each
  * arriving document against the stored corpus at ingest;
  * `misc/stream_update_process/record_handler.py:103-147` writes each
  * outcome back to the store): every micro-batch is classified against
  * base + accumulated delta generations, its maintenance lands as
  * batchId-keyed DELTA ARTIFACTS beside the base (never a corpus-sized
  * rewrite), and periodic COMPACTION folds the generations into a new
  * base — the only moment the corpus-sized band shuffle recurs.
  *
  * On-disk layout under `dir`:
  * {{{
  *   base_<g>/             compacted base covering generations <= g
  *                         (base_-1 is the initial store)
  *   gen_<batchId>/delta   banded rows of the batch's winners
  *   gen_<batchId>/tombs   node ids replaced or retired by this batch
  *                         (written LAST — its _SUCCESS is the
  *                         generation's commit marker)
  *   gen_<batchId>/outcomes the batch's classified rows (the API output)
  * }}}
  * Current state = the highest committed `base_<g>` plus every committed
  * `gen_<i>` with `i > g`, ordered by batchId — exactly the `generations`
  * argument of [[DedupGate.classifyStoredDeltas]]. Commit markers,
  * redelivery safety, the single-writer contract and the compaction
  * policy are the store protocol's, documented once on [[StoreFs]].
  *
  * TWO ARMS per batch, chosen by its row count against
  * [[graft.operators.DedupQueries.DriverRows]] (a fixed constant):
  *  - an INGEST-SIZED batch (at most that many rows) is collected once
  *    (string uids get their minted `arrival` over the collected rows)
  *    and runs [[DedupGate.gateOnDriver]]. One job collects the live
  *    store rows `(node_id, sig, meta_key, bkey)` of the base and every
  *    open delta whose band key one of the batch's signature classes
  *    probes, together with every open tombstone. Classification, the
  *    twin-chain walk, the last-writer winners and the tombstones are
  *    then computed on the driver, and each of the three layers is
  *    written from a local relation as one file, one job each. Driver
  *    memory: the batch, at most the cap of probed store rows and
  *    tombstones, and the batch-sized outcome and winner rows.
  *  - if that probe would pass the cap (a hot band shared by many
  *    stored documents), or the batch's types are ones the driver arm
  *    does not order exactly as Spark does, the collected batch runs
  *    the distributed classification instead; its outcomes are
  *    collected into a local relation, the twin walk runs on the
  *    driver, and each layer is still one file.
  *  - a LARGER batch (a backfill tranche) is checkpointed, and so are
  *    its outcomes; the classification, the chain walk and the writes
  *    run distributed.
  * Every arm writes the same layers with the same rows and schemas
  * (PropertySpec pins the driver arm against the distributed one,
  * StoreLoopSpec the layer schemas and the fallback, StreamingSpec the
  * loop against the batch path and the oracle against SQL).
  */
object GateStoreLoop {

  private[graft] val storeFs = new StoreFs("base_", "tombs/_SUCCESS")

  /** (base frame, ordered open generations) as of now. */
  def state(spark: SparkSession, dir: String)
      : (DataFrame, Seq[(Long, DataFrame, DataFrame)]) = {
    val (g, ids) = storeFs.resolve(spark, dir)
    layers(spark, dir, g, ids)
  }

  private def layers(spark: SparkSession, dir: String, g: Long,
      ids: Seq[Long]): (DataFrame, Seq[(Long, DataFrame, DataFrame)]) =
    (StoreFs.read(spark, storeFs.baseDir(dir, g)),
      ids.map(id => (id,
        StoreFs.read(spark, s"${storeFs.genDir(dir, id)}/delta"),
        StoreFs.read(spark, s"${storeFs.genDir(dir, id)}/tombs"))))

  /** Write the initial store as generation -1 ([[StoreFs.init]]: a
    * re-used `dir` is cleared first). */
  def init(store: DataFrame, dir: String): Unit = storeFs.init(store, dir)

  /** The foreachBatch handler: classify, derive the delta, persist the
    * batch's artifacts. Pass directly to
    * `StreamPipeline.run(source, cp)(GateStoreLoop.handleBatch(dir, 4, 4))`.
    * The batch frame must carry (uid, sig, meta_key). Runs in its own
    * [[graft.Scope]].
    */
  def handleBatch(dir: String, numBands: Int, rowsPerBand: Int)(
      batch: DataFrame, batchId: Long): Unit =
    Scope.run(batch.sparkSession)(
      handle(dir, numBands, rowsPerBand, batch, batchId))

  private def handle(dir: String, numBands: Int, rowsPerBand: Int,
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // the gate DAG reads the batch from several branches (probe,
    // self-join, meta attach), so the micro-batch is pinned once: an
    // ingest-sized batch is collected into a local relation (every
    // branch plans from driver memory, and an empty batch is seen
    // without a job of its own); a larger one is checkpointed, which
    // also truncates the streaming lineage
    val local = DedupQueries.onDriver(batch)
    if (local.exists(_.isEmpty)) return
    // String uids carry no arrival order, and outcomesDelta REFUSES
    // them without one (lexicographic order silently diverges from
    // serial semantics — "doc9" > "doc10"). The stream loop is the one
    // place arrival is derivable rather than declared: a minted
    // PARTITION-MAJOR row number (the collected rows' order, or
    // monotonically_increasing_id on the checkpointed batch — partition
    // first, position within it second; true arrival order only for a
    // single-partition batch; a multi-partition source such as a
    // several-partition Kafka topic gets partition order) stands in
    // for the order the reference would process this batch in, and
    // CROSS-batch order is already carried by generation visibility
    // (a later batch's tombstones kill earlier rows). Callers with a
    // real per-source offset column should declare it as `arrival`
    // (wins over the minted one, below).
    //
    // SCOPE: the minted column governs LAST-WRITER-WINS in the store
    // maintenance (outcomesDelta's replacement winner per node) — the
    // half whose divergence silently corrupts stored state.
    // CLASSIFICATION retains uid order for twin direction and class
    // representatives, for string and numeric uids alike: a fixed,
    // deterministic convention shared bit-for-bit with the pure-batch
    // path (StreamingSpec pins loop ≡ batch), matching the reference's
    // model where ids are minted monotonically so uid order IS arrival
    // order. A string-uid stream whose arrival order diverges from
    // lexicographic order gets arrival-true replacement but
    // uid-ordered twin attribution; callers needing arrival-true twin
    // attribution should mint monotone uids upstream (the reference's
    // own posture). An explicit caller-provided arrival column wins
    // over the minted one.
    val mint = !batch.columns.contains("arrival") &&
      batch.schema("uid").dataType == StringType
    val rows = local.map(rs =>
      if (mint) rs.toSeq.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ i.toLong) }
      else rs.toSeq)
    val b = rows match {
      case Some(rs) => DedupQueries.localFrame(spark,
        if (mint) batch.schema.add("arrival", LongType, nullable = false)
        else batch.schema, rs)
      case None =>
        val pinned = Scope.checkpoint(batch, eager = true)
        if (mint) pinned.withColumn("arrival", monotonically_increasing_id())
        else pinned
    }
    val (g, ids) = storeFs.resolve(spark, dir, below = batchId)
    val (base, gens) = layers(spark, dir, g, ids)
    val generations = gens.map(l => (l._2, l._3))
    // an ingest-sized batch classifies and derives its layers on the
    // driver from one bounded store probe; the distributed arm runs when
    // the batch is larger, or when the driver arm declines (a hot band)
    val (outcomes, append, tombs) = rows.flatMap(DedupGate.gateOnDriver(
        b, _, base, generations, numBands, rowsPerBand))
      .getOrElse {
        // materialize the classification ONCE (batch-sized): the
        // outcome frame is read back by resolveTargets and by all three
        // artifact writes — without the pin each of those actions would
        // re-run the corpus probe, turning one gate pass into five
        val classified = DedupGate.classifyStoredDeltas(
          b, base, generations, numBands, rowsPerBand)
        val outcomes =
          if (local.isDefined) DedupQueries.localFrame(spark,
            classified.schema, classified.collect())
          else Scope.checkpoint(classified, eager = true)
        // archive flips travel a separate maintenance channel; the
        // stream loop itself retires nodes only via version replacement
        val noFlips = outcomes.select(col("matched_node_id").as("node_id"))
          .limit(0)
        val (append, tombs) = DedupGate.outcomesDelta(
          b, outcomes, noFlips, numBands, rowsPerBand)
        (outcomes, append, tombs)
      }
    // tombs LAST: BOTH state() and outcomes() gate a generation on
    // tombs/_SUCCESS, so a crash anywhere between these writes leaves an
    // invisible (and overwritable) half-generation — never a probe
    // against delta-without-tombstones, and never queryable outcomes the
    // store itself has not committed
    // r21: per-batch artifacts write WITHOUT a rebalance — an A/B
    // measured the three extra rebalance exchanges costing +25% wall
    // per batch at bench scale while the artifacts are ingest-sized
    // either way; file sizing matters on the CORPUS-sized writes (init
    // and compaction, which StoreFs rebalances). Generation fan-in is
    // bounded by maxOpenGenerations, so small gen files stay a bounded
    // read cost by construction. An ingest-sized batch writes each
    // layer as ONE file (a coalesce, no exchange): every later read of
    // the generation opens one file per layer.
    def layer(df: DataFrame) = if (local.isDefined) df.coalesce(1) else df
    val gen = storeFs.genDir(dir, batchId)
    layer(outcomes).write.mode("overwrite").parquet(s"$gen/outcomes")
    layer(append).write.mode("overwrite").parquet(s"$gen/delta")
    layer(tombs).write.mode("overwrite").parquet(s"$gen/tombs")
  }

  /** Fold the open generations below `upTo` into a new base when their
    * count reaches `maxOpenGenerations` — [[StoreFs.compact]]'s policy,
    * decided from the listing alone. From INSIDE the stream (after
    * [[handleBatch]] in the same foreachBatch) pass `upTo = batchId`:
    * folding the current batch's own generation, whose offset is not yet
    * committed, would make a redelivery of it classify against its own
    * effects (every 'new' doc would re-classify as a duplicate of
    * itself). The default (`Long.MaxValue`) folds everything — correct
    * only OUTSIDE the stream (terminal / offline compaction).
    */
  def maybeCompact(spark: SparkSession, dir: String,
      maxOpenGenerations: Int, upTo: Long = Long.MaxValue): Boolean =
    Scope.run(spark) {
      storeFs.compact(spark, dir, maxOpenGenerations, upTo)(fold(spark, dir))
    }

  /** Fold every open generation below `upTo` into a new compacted base —
    * the periodic corpus-shuffle event of the posture. The fold is
    * idempotent: re-running it over the same generations rewrites the
    * same rows. */
  def compact(spark: SparkSession, dir: String,
      upTo: Long = Long.MaxValue): Unit =
    maybeCompact(spark, dir, 1, upTo)

  /** The fold compact writes, as `(target generation, frame)` — None
    * when nothing is open below `upTo`. Compaction writes it; it is
    * public so a reader can check the PRODUCTION fold without writing
    * it: perfbench's fold oracle compares it with the never-compacted
    * fold of every generation, and `PlanSpec` reads its plan (a write
    * command's plan is not inspectable after the fact). */
  def foldedBase(spark: SparkSession, dir: String,
      upTo: Long = Long.MaxValue): Option[(Long, DataFrame)] = {
    val (g, ids) = storeFs.resolve(spark, dir, upTo)
    ids.lastOption.map(_ -> fold(spark, dir)(g, ids))
  }

  /** Base `g` with generations `ids` applied in order.
    *
    * r18: the per-generation tombstone anti-joins carry NO static
    * `broadcast()` hint — a generation is ingest-scale in the per-batch
    * posture, but nothing enforces that (a bulk backfill tranche is one
    * generation too), and r17's battery proved a forced broadcast of an
    * unbounded frame OOMs exactly under the memory pressure a clean-room
    * test never applies. The tombstone sides read from parquet, so AQE's
    * runtime sizing broadcasts the id-only ingest-scale sets it sees in
    * every tested geometry and degrades a backfill-scale one to a keyed
    * anti-join of two generation-sized sides.
    */
  private def fold(spark: SparkSession, dir: String)(g: Long,
      ids: Seq[Long]): DataFrame = {
    val (base, gens) = layers(spark, dir, g, ids)
    gens.foldLeft(base) { case (s, (_, append, tombs)) =>
      s.join(tombs, Seq("node_id"), "left_anti").unionByName(append)
    }
  }

  /** All COMMITTED outcomes written so far (the loop's queryable API
    * output), as ONE relation over every committed generation's
    * `outcomes` layer ([[StoreFs.read]]: one parquet scan, schema from a
    * footer, so building the frame starts no Spark job however many
    * generations exist). Gated on the same tombs/_SUCCESS marker as
    * [[state]]: outcomes of a generation the store never committed
    * (crash between the outcomes and tombs writes) are not queryable — a
    * consumer must never act on classifications whose maintenance half
    * does not exist. Empty before the first committed generation: a
    * started stream that has produced nothing is a legitimate state, not
    * an error (contrast [[state]], where a MISSING STORE is).
    */
  def outcomes(spark: SparkSession, dir: String): DataFrame = {
    val ids = storeFs.generations(spark, dir, also = "outcomes/_SUCCESS")
    if (ids.isEmpty)
      // schema-stable empty frame: derived from the store's own base
      // (always present once init ran), projected to the outcome shape.
      // The uid/matched_node_id/batch_twin types are the base's node_id
      // type — stable because batch uids and store node ids live in ONE
      // id space by the loop's contract (the applyOutcomes
      // PRECONDITION: same id means same document, so the types must
      // already agree for classification to compare them at all; a
      // batch whose uid type diverged from the store key would fail in
      // classifyStoredDeltas long before this frame mattered).
      StoreFs.read(spark, storeFs.baseDir(dir, storeFs.resolve(spark, dir)._1))
        .select(col("node_id").as("uid"),
          lit("new").as("outcome"),
          col("node_id").as("matched_node_id"),
          lit(0.0).as("best_sim"),
          col("node_id").as("batch_twin"))
        .limit(0)
    else StoreFs.read(spark,
      ids.map(id => s"${storeFs.genDir(dir, id)}/outcomes"): _*)
  }
}
