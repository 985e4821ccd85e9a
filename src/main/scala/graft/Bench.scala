package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Benchmark main. Per-round contract: the LAST stdout line is one SHORT
  * JSON object (total seconds plus the flat per-query seconds map — a
  * multi-KB line gets truncated by log capture and then fails to parse,
  * so everything else is additive small fields); the RICH per-query
  * record — {sec, gc_sec, heap_mb_delta, rows, exchanges} — goes to a
  * file (`SPARK_GRAFT_BENCH_OUT`, default `bench_rich_last.json`) so a
  * contaminated measurement self-identifies per query (GC share of wall
  * time) and a plan regression shows as structure drift (rows /
  * exchange count) separately from wall-time noise. Compare two
  * artifacts with `tools/diff_bench.py`.
  */
object Bench {

  /** Whole-run IO tally from task-end events: shuffle bytes written /
    * read and memory+disk spill. In local[n] every task lands on this
    * JVM's bus, so per-query deltas (snapshot before/after each timed
    * run, bus drained in between via Bridge.drainListenerBus) attribute
    * exactly. These are the discriminators the r13 verdict asked for:
    * the residual gate-family drift hypothesis is IO contention
    * (SCALE.md's suspect — the affected queries are the heaviest
    * persist + shuffle-file users), and with shuffle/spill recorded
    * in-band an IO-contended run self-identifies from the artifact
    * alone, the way a GC-contended one already does. */
  private object IoTally extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    val shuffleWrite = new AtomicLong
    val shuffleRead = new AtomicLong
    val spill = new AtomicLong
    // r21 additive discriminators: executor task time and job/task
    // counts. Wall time on a shared box carries ±20-50% weather; the
    // summed task run time and the number of jobs/tasks a query
    // launches are near-deterministic for a fixed plan, so an
    // optimization round can tell "the query does less work" from "the
    // box was quieter" without a UI. Rich-artifact fields only — the
    // stdout contract line is unchanged.
    val taskMs = new AtomicLong
    val tasks = new AtomicLong
    val jobs = new AtomicLong
    // r22 (verdict item 6): EXECUTED exchanges, deduplicated by shuffle
    // dependency id — one entry per shuffle whose map stage completed,
    // retries and exchange reuse counted once. The rich artifact's
    // plan-string `exchanges` field stays (it fingerprints plan
    // STRUCTURE incl. persisted subtrees); `shuffles_exec` is the
    // runtime truth plan claims should be checked against.
    val shuffleIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      org.apache.spark.sql.graftbridge.Bridge
        .stageShuffleDepId(sc.stageInfo).foreach(shuffleIds.add(_))
      ()
    }
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        taskMs.addAndGet(m.executorRunTime)
        tasks.incrementAndGet()
      }
    }
    override def onJobStart(
        js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    def snapshot: (Long, Long, Long, Long, Long, Long, Long) =
      (shuffleWrite.get, shuffleRead.get, spill.get,
        taskMs.get, tasks.get, jobs.get, shuffleIds.size.toLong)
  }

  /** Short git revision for artifact stamping (r20, verdict Next 6a):
    * calibration-pair staleness becomes machine-checkable forensics.
    * Informational only — the weather guard must NOT assert equality
    * on it, because the driver's refresh runs on the round commit,
    * one rev after the committed re-pin by construction. */
  private def codeRev: String = {
    // r21 (ADVICE): the hang case is handled with a BOUNDED wait — a
    // git that never exits (lock contention, credential prompt) used to
    // block readAllBytes forever despite the finally-destroy; now we
    // waitFor(5s) FIRST (rev-parse emits one short line, far below the
    // pipe buffer, so exit-then-read cannot deadlock) and stamp
    // "unknown" on timeout. Cwd caveat unchanged: rev-parse answers for
    // the LAUNCH directory's repo, so treat code_rev as forensic only
    // (the guard never asserts on it).
    var p: Process = null
    try {
      p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
        .redirectErrorStream(true).start()
      if (!p.waitFor(5, java.util.concurrent.TimeUnit.SECONDS)) "unknown"
      else {
        val out = new String(p.getInputStream.readAllBytes()).trim
        if (p.exitValue() == 0 && out.matches("[0-9a-f]{6,16}")) out
        else "unknown"
      }
    } catch { case NonFatal(_) => "unknown" }
    finally if (p != null) p.destroy()
  }

  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
  }
  private def heapUsedMb: Double =
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1e6

  /** One timed end-to-end run: wall seconds, success, GC seconds spent
    * inside the run (all collectors, whole JVM — in local[n] the
    * executors share this JVM so the attribution is exact), the
    * heap-used delta across the action (positive = the query left data
    * resident; large values flag allocation-heavy paths), result
    * cardinality, and the executed plan's Exchange count (read from the
    * run's own frame AFTER the action — the final adaptive plan, at
    * zero extra builder invocations). */
  private case class Meas(sec: Double, ok: Boolean, gcSec: Double,
    heapMbDelta: Double, rows: Long, exchanges: Int,
    shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double,
    taskSec: Double, tasks: Long, jobs: Long, shufflesExec: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // r22: the DEFAULT rich-artifact path is untracked (gitignored) —
    // the driver's scaling pass runs this main at 8 cores with the
    // default out, and under the old bench_queries.json default that
    // run clobbered the committed 32-core calibration pin in the
    // end-of-round snapshot (how the r21 suite went red). Deliberate
    // re-pins set SPARK_GRAFT_BENCH_OUT=bench_queries.json explicitly;
    // the stdout contract line is unchanged either way. The resolved
    // path goes to stderr once, so a harness still reading the old
    // default sees where the artifact went.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_rich_last.json")
    System.err.println(
      s"[bench] rich artifact -> ${Paths.get(outFile).toAbsolutePath}")
    val spark = SparkEntry.runnerSession(cpus)
    // Machine-health canary #1: host load BEFORE we add our own. A
    // loaded machine (driver running sbt test sweeps, another bench, …)
    // inflates every measurement ~uniformly; recording loadavg in-band
    // lets a contaminated run identify itself instead of needing a
    // forensic re-run (round-5 lesson: 265s "regression" was a busy box).
    val loadavg = try {
      Files.readString(Paths.get("/proc/loadavg")).trim.split(" ")(0).toDouble
    } catch { case NonFatal(_) => -1.0 }
    // Canary #1b: the JVM heap ceiling actually in effect. BENCH_r12's
    // 4-8× slow mode on the allocation-heaviest queries is exactly the
    // signature build.sbt predicts for an under-sized heap (its -Xmx
    // respects SPARK_DRIVER_MEM) — record the ceiling so a run under a
    // different memory regime identifies itself.
    val maxHeapMb = Runtime.getRuntime.maxMemory / 1e6
    val codeRevNow = codeRev
    // JVM/codegen warmup: the first Spark job in a session pays ~3-4 s of
    // classloading, codegen, and scan setup — attribute that to startup,
    // not to whichever query sorts first alphabetically.
    // Canary #2: the warmup block is a fixed workload, so its wall time
    // is a per-run contention probe — on an idle box it's ~10 s (JVM +
    // codegen + first scans); a multiple of that means the sweep's
    // numbers are inflated too.
    // Guarded: a loader failure here (e.g. a testdata regeneration that
    // changes a physical parquet type) must degrade to a cold first query
    // and a loud stderr line — never kill the whole sweep with rc=1
    // (round-11 lesson: BENCH_r11 died in this block and reported
    // nothing). NonFatal only: a fatal VM error (OOM, LinkageError)
    // means every later measurement would run against a broken JVM —
    // let it crash loudly instead. On failure the canary field is
    // recorded as -1, not as a meaningless near-zero wall time.
    val warm0 = System.nanoTime()
    val warmupSec = try {
      Tables.documents(spark, sfDir).limit(100).count()
      Tables.events(spark, sfDir).limit(100).count()
      spark.range(100000).groupBy(org.apache.spark.sql.functions.expr("id % 7"))
        .count().count()
      (System.nanoTime() - warm0) / 1e9
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] WARMUP FAILED (continuing cold): $e")
      -1.0
    }
    // Dev aid: SPARK_GRAFT_BENCH_ONLY=q1,q2 times just those queries
    // (repeated runs of a hot path without the full sweep). Unset in the
    // driver's per-round run, so the contract output is unchanged.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    spark.sparkContext.addSparkListener(IoTally)
    import org.apache.spark.sql.graftbridge.Bridge
    def timeOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Meas = {
      // the previous query's task-end events must be consumed before we
      // snapshot, or its tail IO lands in this query's delta
      Bridge.drainListenerBus(spark.sparkContext)
      val (sw0, sr0, sp0, tm0, tk0, jb0, sx0) = IoTally.snapshot
      val conf0 = spark.conf.getAll
      val gc0 = gcMillis
      val h0 = heapUsedMb
      val t0 = System.nanoTime()
      var rows = -1L
      var dt = 0.0
      var exchanges = -1
      // the query's persists, checkpoints and conf overrides belong to
      // one scope, which closes after the measured action
      val ran = try Scope.run(spark) {
        val df = fn(spark, sfDir)
        rows = df.count()
        dt = (System.nanoTime() - t0) / 1e9
        // structural fingerprint off the frame just executed — the
        // FINAL adaptive plan, captured outside the timed window and
        // without re-invoking the builder (store-writing queries do
        // real work at build time)
        exchanges = try {
          df.queryExecution.executedPlan.toString
            .linesIterator.count(_.contains("Exchange"))
        } catch { case NonFatal(_) => -1 }
        true
      } catch { case NonFatal(e) =>
        // a failure must be LOUD: a swallowed exception times as a
        // fast "success" and reads as a speedup in round-over-round
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        dt = (System.nanoTime() - t0) / 1e9
        false
      }
      val gcSec = (gcMillis - gc0) / 1e3
      val heapDelta = heapUsedMb - h0
      Bridge.drainListenerBus(spark.sparkContext)
      val (sw1, sr1, sp1, tm1, tk1, jb1, sx1) = IoTally.snapshot
      // anything the closed scope left behind would skew every later
      // measurement with storage, eviction or a changed setting: it
      // fails the query
      val leaks = Scope.leftBehind(spark, conf0)
      if (leaks.nonEmpty)
        System.err.println(s"[bench] $name LEFT BEHIND: ${leaks.mkString(", ")}")
      System.gc()
      Meas(dt, ran && leaks.isEmpty, gcSec, heapDelta, rows, exchanges,
        (sw1 - sw0) / 1e6, (sr1 - sr0) / 1e6, (sp1 - sp0) / 1e6,
        (tm1 - tm0) / 1e3, tk1 - tk0, jb1 - jb0, sx1 - sx0)
    }
    val firstPass = selected.map { case (name, fn) =>
      val m = timeOne(name, fn)
      System.err.println(
        f"[bench] $name%-28s ${m.sec}%8.2f s  (gc ${m.gcSec}%5.2f s)")
      (name, fn, m)
    }
    // Adaptive second pass: this host's run-to-run noise is ±15-50% and
    // lands almost entirely on the multi-second queries (GC phase, page
    // cache, JIT state). Re-measure just those and report the min of the
    // two — sub-second queries aren't worth the reruns, and a minimum of
    // two honest end-to-end runs is the standard way to strip one-off
    // interference without inventing numbers. Recorded as "agg" in the
    // output so the methodology is visible next to the data. The gc/heap
    // canaries follow the KEPT (fastest) run — they explain the number
    // that gets reported, not a run that was discarded.
    // r20 review: a rerun that FAILS is a flakiness signal the artifact
    // must carry — previously only firstPass failures reached the
    // errors list, so a query that passed run 1 and died on run 2
    // (the OOM-edge class) self-reported as clean with n_errors=0 and
    // the signal survived only as a stderr line. The kept time is
    // still the best SUCCESSFUL run; the name additionally lands in
    // errors (n_errors counts queries with ANY failed run).
    val rerunFailed = scala.collection.mutable.LinkedHashSet.empty[String]
    val results = firstPass.map { case (name, fn, m1) =>
      if (m1.ok && m1.sec > 1.0) {
        val m2 = timeOne(name, fn)
        if (!m2.ok) rerunFailed += name
        var best = if (m2.ok && m2.sec < m1.sec) m2 else m1
        var n = if (m2.ok) 2 else 1
        // the slowest queries carry the most residual noise (GC phase,
        // page cache) AND dominate the total — buy them a third run
        if (m2.ok && best.sec > 2.5) {
          val m3 = timeOne(name, fn)
          if (m3.ok) { if (m3.sec < best.sec) best = m3; n = 3 }
          else rerunFailed += name
        }
        System.err.println(f"[bench] $name%-28s ${best.sec}%8.2f s " +
          f"(min of $n, gc ${best.gcSec}%5.2f s)")
        name -> best
      } else name -> m1
    }
    // r18 (SCALE.md's median-normalization rule, mechanized): the
    // sweep-level weather index against a pinned reference artifact —
    // the MEDIAN of per-query now/ref second ratios. r17 proved
    // round-over-round drift is time-varying platform weather that
    // moves every query ~uniformly (byte-identical plans, 1.42-1.49x
    // morning vs 1.0x afternoon), so the median is the number to
    // divide out before reading any single query's movement.
    // SPARK_GRAFT_BENCH_REF defaults to the committed artifact; when
    // Bench writes bench_queries.json itself, the ref is read BEFORE
    // the overwrite, so the field is exactly the round-over-round
    // index. null when no comparable ref exists (missing file,
    // different sf dir — a decade battery must not "normalize" against
    // the sf0.1 pin — or <20 common queries).
    // r19 (verdict item 7): when no comparable ref exists the field
    // carries an explicit REASON string instead of a bare null — a
    // decade-battery artifact must say "different corpus than the pin"
    // rather than leave the reader to reconstruct why it didn't
    // normalize. Left = reason, Right = the index.
    val refFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF",
      "bench_queries.json")
    val medianVsRef: Either[String, Double] = try {
      val p = Paths.get(refFile)
      if (!Files.exists(p)) Left(s"no_ref_artifact:$refFile")
      else {
        val text = Files.readString(p)
        val refSf = "\"sf\":\"([^\"]+)\"".r
          .findFirstMatchIn(text).map(_.group(1))
        if (!refSf.contains(sfDir))
          Left(s"ref_is_for_${refSf.getOrElse("unknown")}_not_$sfDir")
        else {
          val entry = "\"([A-Za-z0-9_]+)\":\\{\"sec\":([0-9.]+)".r
          val ref = entry.findAllMatchIn(text)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
          val ratios = results.collect {
            case (k, m) if m.ok && ref.get(k).exists(_ > 0) =>
              m.sec / ref(k)
          }.sorted
          if (ratios.size < 20)
            Left(s"only_${ratios.size}_common_queries_lt_20")
          else if (ratios.size % 2 == 1) Right(ratios(ratios.size / 2))
          else Right((ratios(ratios.size / 2 - 1) +
            ratios(ratios.size / 2)) / 2)
        }
      }
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] median_vs_ref unavailable: $e")
      Left("ref_parse_error")
    }
    // r20 review, two JSON-contract hardenings applied consistently:
    //  - Locale.ROOT number rendering (the f-interpolator formats in
    //    the JVM default locale, so a comma-decimal locale would emit
    //    "sec":1,234 — invalid JSON — into the stdout contract line and
    //    the artifact);
    //  - the same backslash/quote escaping medianVsRef's reason already
    //    had, applied to EVERY interpolated env/path string.
    def num(fmt: String, v: Double): String =
      String.format(java.util.Locale.ROOT, fmt, Double.box(v))
    def jesc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"")
    val qsFlat = results.map { case (k, m) =>
      "\"" + k + "\":" + num("%.3f", m.sec)
    }.mkString("{", ",", "}")
    val qsRich = results.map { case (k, m) =>
      "\"" + k + "\":" + s"""{"sec":${num("%.3f", m.sec)},""" +
        s""""gc_sec":${num("%.3f", m.gcSec)},""" +
        s""""heap_mb_delta":${num("%.1f", m.heapMbDelta)},"rows":${m.rows},""" +
        s""""exchanges":${m.exchanges},""" +
        s""""shuffle_write_mb":${num("%.1f", m.shuffleWriteMb)},""" +
        s""""shuffle_read_mb":${num("%.1f", m.shuffleReadMb)},""" +
        s""""spill_mb":${num("%.1f", m.spillMb)},""" +
        s""""task_sec":${num("%.3f", m.taskSec)},""" +
        s""""tasks":${m.tasks},"jobs":${m.jobs},""" +
        s""""shuffles_exec":${m.shufflesExec}}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2.sec).sum
    val gcTotal = results.map(_._2.gcSec).sum
    // run-level IO canaries follow the kept (fastest) run of each query,
    // consistent with gc_sec_total
    val swTotal = results.map(_._2.shuffleWriteMb).sum
    val spillTotal = results.map(_._2.spillMb).sum
    val failed = (firstPass.collect { case (n, _, m) if !m.ok => n } ++
      rerunFailed).distinct
    val failedJson = failed.map("\"" + jesc(_) + "\"").mkString("[", ",", "]")
    val commonFields =
      s""""metric":"total","value":${num("%.3f", total)},"unit":"sec",""" +
        s""""agg":"min-of-2 for queries >1s, min-of-3 >2.5s",""" +
        s""""canary_warmup_sec":${num("%.2f", warmupSec)},""" +
        s""""canary_loadavg_at_start":${num("%.2f", loadavg)},""" +
        s""""canary_max_heap_mb":${num("%.0f", maxHeapMb)},""" +
        s""""code_rev":"${jesc(codeRevNow)}",""" +
        // retired posture keys keep their fixed values so the contract
        // line and artifact shape are unchanged
        s""""initial_partitions":$cpus,"io_codec":"lz4",""" +
        s""""sign_bits":${graft.functions.Vectors.SignBucketBits},""" +
        s""""knn_impl":"topk",""" +
        s""""median_vs_ref":${
          // r20 (ADVICE): the reason interpolates refFile/sfDir paths —
          // escaped so a hostile path can't produce an invalid artifact.
          // (Schema note, also artifact-visible: the field is a NUMBER
          // when a comparable ref exists, else a reason STRING — never
          // null.)
          medianVsRef.fold(r => "\"" + jesc(r) + "\"",
            v => num("%.3f", v))},""" +
        s""""gc_sec_total":${num("%.3f", gcTotal)},""" +
        s""""shuffle_write_mb_total":${num("%.1f", swTotal)},""" +
        s""""spill_mb_total":${num("%.1f", spillTotal)},""" +
        s""""n_errors":${failed.size},"errors":$failedJson"""
    val line = s"""{$commonFields,"queries":$qsFlat,"sf":"${jesc(sfDir)}"}"""
    val rich = s"""{$commonFields,"queries":$qsRich,"sf":"${jesc(sfDir)}"}"""
    Files.writeString(Paths.get(outFile), rich)
    // Contract: the final stdout line IS the JSON result, with the
    // per-query seconds inline (build.sbt's StdoutOutput strategy keeps
    // it free of sbt's "[info] " prefix so the driver can json-parse it).
    println(line)
    spark.stop()
  }
}
