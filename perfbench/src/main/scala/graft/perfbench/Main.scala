package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (run.py builds and launches it).
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <scratch dir> --results <dir for trace files>
  *   Main --selftest --work <scratch dir>
  * }}}
  * The last stdout line is the result object. With `--trace 0` its
  * metrics are the end-to-end ones; with `--trace 1` the per-layer ones,
  * and the spans go to a JSON file under `--results`. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap ++ argv.filter(_ == "--selftest").map(_ => "selftest" -> "1")
    val work = args("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(work, cores)
    val code =
      try {
        if (args.contains("selftest")) SelfTest.run(spark, work)
        else bench(spark, args, work, cores)
      } finally spark.stop()
    sys.exit(code)
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // the status store keeps finished jobs and SQL executions for the
      // UI; a short history keeps the heap reading about the library's
      // own state instead of how many operations the run fitted in
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use right after a full GC. Spark's cleaner frees blocks of
    * unreachable broadcasts, shuffles and RDDs only once a GC has found
    * them, so collect, let it run, and collect again. */
  private def heapAfterGcMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def bench(spark: SparkSession, args: Map[String, String],
      work: String, cores: Int): Int = {
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val tracer = new Tracer(spark.sparkContext, traced)
    val ctx = Ctx(spark, seed, seconds, tracer, cores)

    // set-up: generation and base-store build, then one warm-up pass
    def secs(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    tracer.begin(false)
    val w = Workload(name, ctx)
    val build = secs(w.build(s"$work/store"))
    val rec = new Record
    val warm = secs(w.warmUp(rec))
    val setupS = sessionS + build + warm
    val heap0 = heapAfterGcMb()
    w.run(rec)
    val heap1 = heapAfterGcMb()

    val batch = Stats.summary(rec.batches.toSeq)
    val req = Stats.summary(rec.requests.toSeq)
    System.err.println(f"[perfbench] $name seed=$seed: ${rec.docs} docs, " +
      f"${batch.n} batches (tail = p${batch.level}%.1f), ${req.n} requests " +
      f"(tail = p${req.level}%.1f); set-up: session ${sessionS}%.2f s, " +
      f"build ${build}%.2f s, " +
      f"warm-up ${warm}%.2f s, timed ${rec.measuredNs / 1e9}%.1f s")
    rec.failures.take(20).foreach(f =>
      System.err.println(s"[perfbench] FAILED: $f"))

    val endToEnd: Seq[(String, (Double, String))] = Seq(
      "setup_s" -> (setupS, "s"),
      "docs_per_s" -> (rec.docs / (rec.measuredNs / 1e9), "docs/s"),
      "batch_p50_s" -> (batch.p50, "s"),
      "batch_tail_s" -> (batch.tail, "s"),
      "request_p50_ms" -> (req.p50, "ms"),
      "request_tail_ms" -> (req.tail, "ms"),
      "store_bytes_per_doc" -> (rec.storeBytesPerDoc, "B"),
      "peak_heap_mb" -> (math.max(heap0, heap1), "MB"))

    val metrics =
      if (!traced) endToEnd
      else {
        val layer = perLayer(spark, tracer, w, rec)
        val file = Paths.get(args("results"),
          s"trace-$name-seed$seed.json")
        Files.createDirectories(file.getParent)
        Files.write(file, Stats.json(Map(
          "workload" -> name, "seed" -> seed, "seconds" -> seconds,
          "batch_tail_percentile" -> batch.level,
          "request_tail_percentile" -> req.level,
          "end_to_end" -> metricMap(endToEnd),
          "per_layer" -> metricMap(layer),
          "spans" -> tracer.dump)).getBytes(UTF_8))
        System.err.println(s"[perfbench] trace written to $file")
        layer
      }
    tracer.close()
    println(Stats.json(Map(
      "correct" -> rec.failures.isEmpty,
      "attempted" -> math.max(1, rec.attempted),
      "failed" -> rec.failures.size,
      "metrics" -> metricMap(metrics))))
    0
  }

  private def metricMap(ms: Seq[(String, (Double, String))]) =
    scala.collection.immutable.ListMap(ms.map { case (k, (v, u)) =>
      k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*)

  /** Every per-layer metric, in a fixed order. */
  private def perLayer(spark: SparkSession, tracer: Tracer, w: Workload,
      rec: Record): Seq[(String, (Double, String))] = {
    val spans = tracer.spans
    def meanOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val runOverhead = meanOf(spans.filter(_.name == "streaming.run").map { r =>
      (r.wallNs - spans.filter(c => c.parent == r.id &&
        c.name == "streaming.batch_body").map(_.wallNs).sum) / 1e9
    })
    val planMs = meanOf(spans.filter(_.name == "plans.plan")
      .map(_.wallNs / 1e6))
    val (minhash, bands) = Kernels.time(w.texts)
    val (on, off) = rec.ops.partition(_._2)
    val overhead =
      if (on.isEmpty || off.isEmpty) 0.0
      else (Stats.median(on.map(_._1).toSeq) /
        Stats.median(off.map(_._1).toSeq) - 1) * 100
    val counters = tracer.counters(Workload.LayerSpans)
    def layer(k: String, unit: String) =
      k -> rec.layer.getOrElse(k, (0.0, unit))
    Seq(
      "plans.minhash_ns_per_doc" -> (minhash, "ns/doc"),
      "plans.bands_ns_per_doc" -> (bands, "ns/doc"),
      "plans.plan_ms" -> (planMs, "ms")) ++
      Workload.LayerSpans.flatMap(s => Tracer.Counters.map { case (c, _) =>
        val k = s"$s.$c"
        k -> counters(k)
      }) ++
      Seq(
        "streaming.run_overhead" -> (runOverhead, "s"),
        layer("streaming.open_generations_mean", "count"),
        layer("streaming.open_generations_max", "count"),
        layer("streaming.bytes_written_per_doc", "B/doc"),
        "spark.cached_rdds_end" ->
          (spark.sparkContext.getPersistentRDDs.size.toDouble, "count"),
        "tracing.overhead_pct" -> (overhead, "%"))
  }
}
