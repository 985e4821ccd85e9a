package graft.perfbench

import graft.streaming.StreamPipeline
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** `ingest_stream`: many small tranches, each landed as a file in a file
  * source and run through `StreamPipeline.run` (one closed loop, one
  * writer). The `foreachBatch` signs the batch, gates it, clusters the
  * gate's near-dup edges and lets both stores compact. After each
  * tranche a consumer looks up the committed outcomes of its documents
  * through `GateStoreLoop.outcomes`. */
final class IngestStream(ctx: Ctx) extends Workload {
  import ctx._
  private val BaseDocs = 2000
  // fold after every tranche: each tranche then carries the same work
  // (gate, CC and one fold per store), so the few tranches a run can
  // afford on a small box stay comparable run to run
  private val MaxOpen = 1

  private var dir: String = _
  private var gen: Gen = _
  private var planted: Planted = _
  private var stores: StoreLoops = _
  private var source: DataFrame = _
  private var nextBatch = 0L
  private var baseTexts = IndexedSeq.empty[String]

  def texts: IndexedSeq[String] = baseTexts

  def build(d: String): Unit = {
    dir = d
    gen = new Gen(seed, "ingest")
    planted = new Planted(gen, 100000000L)
    val base = planted.base(BaseDocs, 30, 60)
    baseTexts = base.map(_.text)
    stores = new StoreLoops(spark, s"$d/store", tracer, MaxOpen)
    stores.init(base, planted.edges.toSeq)
    Files.createDirectories(Paths.get(s"$d/source"))
    Files.createDirectories(Paths.get(s"$d/stage"))
    source = spark.readStream.schema(StructType(Seq(
        StructField("uid", LongType), StructField("text", StringType),
        StructField("meta_key", StringType))))
      .json(s"$d/source")
  }

  /** One tranche, fold included: it takes the cold first-call costs (class
    * loading, code generation) out of the timed tranche. */
  def warmUp(rec: Record): Unit = tranche(rec, timed = false)

  def run(rec: Record): Unit = {
    val bytes0 = stores.totalBytes
    val gens = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (keepGoing(rec) && rec.failures.isEmpty)
      tranche(rec, timed = true).foreach(g => gens += g)
    stores.finish(rec, planted, bytes0, gens.toSeq)
  }

  /** One tranche, checked, and recorded when `timed`. Returns the gate's
    * open generations at batch start when the tranche is traced. */
  private def tranche(rec: Record, timed: Boolean): Option[Double] = {
    // a fixed mix, so every tranche carries the same work; the seed picks
    // the bodies, the targets and the arrival order
    val b = planted.batch(nNew = 16, nTwin = 3, nVersion = 6, nDup = 6,
      minWords = 30, maxWords = 60)
    val id = nextBatch
    nextBatch += 1
    val staged = Paths.get(s"$dir/stage/tranche-$id.json")
    Files.write(staged, b.docs.map(d => Stats.json(Map("uid" -> d.uid,
      "text" -> d.text, "meta_key" -> d.meta))).mkString("", "\n", "\n")
      .getBytes(UTF_8))
    val traced = timed && pickTraced()
    tracer.begin(traced)
    val openGens = if (traced) Some(stores.resolveState().toDouble) else None
    // landing: the tranche appears in the source directory atomically
    Files.move(staged, Paths.get(s"$dir/source/tranche-$id.json"),
      StandardCopyOption.ATOMIC_MOVE)
    var seen = -1L
    val t0 = System.nanoTime()
    tracer.span("streaming.run") {
      val q = StreamPipeline.run(source, s"$dir/checkpoint") { (batch, bid) =>
        seen = bid
        tracer.span("streaming.batch_body") {
          stores.commit(stores.sign(batch), bid)
        }
      }
      try q.awaitTermination() finally q.stop()
    }
    val lat = (System.nanoTime() - t0) / 1e9
    if (timed) {
      rec.measuredNs += (lat * 1e9).toLong
      rec.batches += lat
      rec.ops += ((lat, traced))
      rec.docs += b.docs.size
    }
    if (seen != id) {
      rec.attempted += 1
      rec.fail(s"tranche $id ran as stream batch $seen")
    } else stores.readBack(rec, s"tranche $id", b, timed)
    openGens
  }
}
