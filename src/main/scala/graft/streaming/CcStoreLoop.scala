package graft.streaming

import graft.operators.DedupQueries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The component-assignment store maintained under Structured
  * Streaming — the CC analogue of [[GateStoreLoop]] (reference
  * contract: the dedup gate's stream loop clusters what it gates;
  * `lambdas/check_duplicate/check_duplicate.py:183-289` classifies at
  * ingest and `misc/stream_update_process/record_handler.py:103-147`
  * lands the maintenance): each micro-batch of near-dup EDGES folds
  * into the stored assignment via
  * [[graft.operators.DedupQueries.ccApplyDelta]], and what lands on
  * disk per batch is the INGEST-SIZED changed-row set (new vertices +
  * vertices whose canonical moved — bounded by touched components),
  * never the corpus-sized assignment.
  *
  * On-disk layout under `dir`:
  * {{{
  *   assign_-1/        the initial full assignment (base build)
  *   gen_<batchId>/    the batch's changed rows (doc_id, canonical_id)
  * }}}
  * Current assignment = assign_-1 overlaid by every COMMITTED
  * generation in batchId order (later generation wins per doc_id) —
  * an LSM overlay where each layer is batch-sized, so reads pay one
  * anti-join per open generation (AQE runtime-sizes each build side;
  * see [[state]]) and [[maybeCompact]] bounds that fan-out by folding
  * layers into a new full assignment (the posture's only corpus-sized
  * write).
  *
  * Commit markers (a layer's own parquet `_SUCCESS`), redelivery
  * safety, the single-writer contract and the compaction policy are the
  * store protocol's, documented once on [[StoreFs]]. On top of that
  * layout discipline the fold itself is idempotent (ccApplyDelta on
  * already-merged edges yields an EMPTY changed-row set), so even an
  * out-of-contract duplicate delivery under a fresh id is a no-op layer.
  * StreamingSpec drives all of this end-to-end.
  */
object CcStoreLoop {

  private[graft] val storeFs = new StoreFs("assign_", "_SUCCESS")

  /** Write the initial assignment from the base edge list
    * ([[StoreFs.init]]: a re-used `dir` is cleared first). */
  def init(spark: SparkSession, baseEdges: DataFrame, dir: String): Unit = {
    val s = DedupQueries.ccSession(spark)
    storeFs.init(DedupQueries.ccAssignments(
      DedupQueries.truncatedDf(onSession(s, baseEdges), eager = true)), dir)
  }

  /** The stored assignment as of generations strictly below `below`
    * (default: everything committed) — base overlaid by each committed
    * generation in order, later layer winning per doc_id. The overlay
    * anti-joins carry NO static `broadcast()` hint (r18): a layer is
    * batch-sized in the per-batch posture, but a backfill tranche is
    * one layer too, and r17's ~sf100 battery proved a forced broadcast
    * of a frame with no size contract OOMs under production memory
    * pressure while passing every clean-room test. The layers read from
    * parquet, so AQE runtime-sizes each build: ingest-scale id sets
    * still broadcast at runtime; a backfill-scale layer degrades to a
    * keyed anti-join instead of dying. */
  def state(spark: SparkSession, dir: String,
      below: Long = Long.MaxValue): DataFrame = {
    val (g, ids) = storeFs.resolve(spark, dir, below)
    overlay(spark, dir)(g, ids)
  }

  private def overlay(spark: SparkSession, dir: String)(g: Long,
      ids: Seq[Long]): DataFrame =
    ids.foldLeft(spark.read.parquet(storeFs.baseDir(dir, g))) { (acc, id) =>
      val layer = spark.read.parquet(storeFs.genDir(dir, id))
      acc.join(layer.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(layer)
    }

  /** The foreachBatch handler: fold the batch's edges into the stored
    * assignment, land ONLY the changed rows as this batch's
    * generation. Pass to
    * `StreamPipeline.run(source, cp)(CcStoreLoop.handleBatch(dir))`;
    * the batch frame must carry (a_id, b_id). */
  def handleBatch(dir: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val b = batch.localCheckpoint(true)
    if (b.isEmpty) return
    val s = DedupQueries.ccSession(spark)
    // probe state BELOW this batch id: a redelivered batch must fold
    // against exactly what it saw the first time, never its own layer.
    // Built directly ON the cc session (state takes the session) — only
    // the externally supplied batch frame needs the onSession rebind;
    // round-tripping the corpus-sized overlay through RDD rows would
    // pay a full decode/re-encode per micro-batch for nothing.
    val base = DedupQueries.truncatedDf(
      state(s, dir, below = batchId), eager = true)
    DedupQueries.ccApplyDelta(s, base, onSession(s, b), deltaOnly = true)
      // r21: NO rebalance on the per-batch layer (measured: the extra
      // exchange costs more than the small files it saves at batch
      // cadence; corpus-sized writes — init/compaction — do rebalance)
      .write.mode("overwrite").parquet(storeFs.genDir(dir, batchId))
  }

  /** Fold committed generations below `upTo` into a new full
    * assignment when their count reaches `maxOpenGenerations` —
    * [[StoreFs.compact]]'s policy, the posture's only corpus-sized
    * write. From INSIDE the stream pass `upTo = batchId` (the current
    * batch's offset is uncommitted; folding its layer would make a
    * redelivery fold against its own effects — same contract as
    * [[GateStoreLoop.maybeCompact]]). */
  def maybeCompact(spark: SparkSession, dir: String, maxOpenGenerations: Int,
      upTo: Long = Long.MaxValue): Boolean =
    storeFs.compact(spark, dir, maxOpenGenerations, upTo)(overlay(spark, dir))

  /** Frames built on the caller's session re-bind onto the cc child
    * session so every plan they feed executes under ccSession's rule
    * exclusion (a frame runs under the session it belongs to, not the
    * one passed alongside it). */
  private def onSession(s: SparkSession, df: DataFrame): DataFrame =
    s.createDataFrame(df.rdd, df.schema)
}
