package graft.streaming

import graft.Scope
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming path — SURVEY.md §2.10 ST1/ST2 (reference
  * `misc/stream_update_process/main.py:96-105` SQS poll loop +
  * `extract_graph_elems.py:20-110`).
  *
  * The reference's at-least-once poll-process-delete loop maps to a
  * checkpointed micro-batch stream: source → element extraction →
  * `foreachBatch` upsert (the delete-on-success ≙ checkpoint commit).
  * Watermarking on the event time bounds the dedup-gate state (the
  * reference has no late-data story — SQS hides it; we make it explicit).
  */
object StreamPipeline {

  /** ST2: one message row → entity + link rows (hash-derived node ids,
    * defaults for missing regulator/user as in extract_graph_elems.py:
    * 20-110). Works on any frame with (event_id, user_id, event_type, ts).
    */
  def extractElements(events: DataFrame): (DataFrame, DataFrame) = {
    import graft.functions.Texts.md5Long
    val entities = events.select(
      md5Long(concat_ws("_", lit("user"), col("user_id"))).as("node_id"),
      lit("regulatoryAgent").as("entity_type"),
      col("user_id").cast("string").as("key"))
      .unionByName(events.select(
        md5Long(concat_ws("_", lit("event"), col("event_id"))).as("node_id"),
        lit("regulatoryDocument").as("entity_type"),
        col("event_id").cast("string").as("key")))
    val links = events.select(
      lit("publication").as("link_type"),
      md5Long(concat_ws("_", lit("user"), col("user_id"))).as("src_id"),
      md5Long(concat_ws("_", lit("event"), col("event_id"))).as("dst_id"),
      col("ts"))
    (entities, links)
  }

  /** Windowed throughput metrics (replacing the reference's CloudWatch
    * alarms, `runbooks/monitoring.md:25-36`): tumbling-window counts with
    * a watermark for state cleanup. */
  def throughput(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count("*").as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("total_value"))

  /** ST1: run a micro-batch stream over `source`, applying `sink` per
    * batch (idempotent MERGE in production; the test sink collects).
    * Each batch runs on the stream's thread in its own [[graft.Scope]]. */
  def run(source: DataFrame, checkpoint: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((batch: DataFrame, id: Long) =>
        Scope.run(batch.sparkSession)(sink(batch, id)))
      .start()
}
