package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What a workload records while it runs; `Main` turns it into the
  * result line. Latencies are measured around the public calls only:
  * input generation and output checks happen outside the timers. */
final class Record {
  /** Write-batch latencies (s): ingest tranche or upsert. */
  val batches = mutable.ArrayBuffer.empty[Double]
  /** Read-request latencies (ms): search request or outcome lookup. */
  val requests = mutable.ArrayBuffer.empty[Double]
  /** (latency s, traced) of each top-level operation, for the tracing
    * overhead line. */
  val ops = mutable.ArrayBuffer.empty[(Double, Boolean)]
  var docs = 0L
  /** Time of the timed operations; `docs_per_s` is `docs` over it. */
  var measuredNs = 0L
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** Bytes on disk per live document at the end. */
  var storeBytesPerDoc = Double.NaN
  /** Per-layer scalars the workload measures itself. */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

  def fail(msg: String): Unit = failures += msg
}

/** Context every workload gets. `cores` bounds every parallel choice. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    tracer: Tracer, cores: Int) {
  private var timedOps = 0
  /** Whether the next timed operation opens spans: in a traced run every
    * other one, so the run also measures untraced operations for the
    * tracing overhead. The choice never touches the data generators. */
  def pickTraced(): Boolean = {
    timedOps += 1
    tracer.enabled && timedOps % 2 == 1
  }

  /** Whether the timed phase goes on: until `seconds` of measured time,
    * and in a traced run until there is a traced and an untraced
    * operation to compare. */
  def keepGoing(rec: Record): Boolean =
    rec.measuredNs / 1e9 < seconds || (tracer.enabled && rec.ops.size < 2)
}

trait Workload {
  /** Generate the inputs and build the base stores in `dir`. */
  def build(dir: String): Unit
  /** A short untimed pass of the workload's own operations, so JIT and
    * code generation costs stay out of the timed phase. Its outputs are
    * checked too; only `attempted` and failures go to `rec`. */
  def warmUp(rec: Record): Unit
  /** Operations until `ctx.seconds` of measured time, then the checks. */
  def run(rec: Record): Unit
  /** Texts of the workload's documents, for the no-Spark kernel timing. */
  def texts: IndexedSeq[String]
}

object Workload {
  /** Spans reported with the full counter set, in every workload (a span
    * a workload never opens reports zeros). */
  val LayerSpans: Seq[String] = Seq(
    "operators.signatures", "operators.search_exec",
    "operators.merge", "streaming.gate_batch", "streaming.cc_batch",
    "streaming.gate_compact", "streaming.cc_compact",
    "streaming.state_resolve")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest_stream" => new IngestStream(ctx)
    case "search_mixed" => new SearchMixed(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (ingest_stream, search_mixed)")
  }
}
