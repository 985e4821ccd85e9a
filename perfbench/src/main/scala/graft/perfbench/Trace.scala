package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import scala.collection.mutable

/** Spans around the public calls the benchmark makes, plus its own
  * `SparkListener` that charges every job, task and byte to the span
  * that was open on the submitting thread (via a local property). No
  * tracing lives in the library: everything is measured from outside.
  *
  * A span records name, start, end, parent and the trace id of the batch
  * or request it belongs to. Spans stay in memory and are written out
  * when the run ends. When tracing is off every call is a plain
  * pass-through and no listener is registered.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  final class Span(val id: Long, var name: String, val parent: Long,
      val trace: Long, val start: Long) {
    var end: Long = 0L
    def wallNs: Long = end - start
  }

  private val done = mutable.ArrayBuffer.empty[Span]
  // One stack for all threads: the client thread blocks while the
  // streaming thread runs a micro-batch, so spans never interleave.
  private var stack: List[Span] = Nil
  private var nextId = 0L
  private var traceId = -1L
  /** Whether spans are recorded for the current batch or request. */
  @volatile var on: Boolean = enabled

  private val listener = new JobListener
  if (enabled) sc.addSparkListener(listener)

  /** Start a new batch or request; `traced` picks whether its spans are
    * recorded (the traced run interleaves traced and untraced ones). */
  def begin(traced: Boolean): Unit = synchronized {
    traceId += 1
    on = enabled && traced
  }

  /** Run `f` inside a span. */
  def span[T](name: String)(f: => T): T = named[T](name, _ => name)(f)

  /** Run `f` inside a span whose final name `rename` picks from the
    * result (e.g. only compactions that fold keep the compaction name). */
  def named[T](name: String, rename: T => String)(f: => T): T =
    if (!on) f
    else {
      val s = synchronized {
        nextId += 1
        val sp = new Span(nextId, name, stack.headOption.map(_.id)
          .getOrElse(-1L), traceId, System.nanoTime())
        stack = sp :: stack
        sp
      }
      sc.setLocalProperty(SpanKey, s.id.toString)
      try {
        val r = f
        s.name = rename(r)
        r
      } finally synchronized {
        s.end = System.nanoTime()
        stack = stack.filterNot(_ eq s)
        sc.setLocalProperty(SpanKey,
          stack.headOption.map(_.id.toString).orNull)
        done += s
      }
    }

  def spans: Seq[Span] = synchronized(done.toSeq)

  /** Per-call means of every span counter, keyed `<span>.<counter>`, for
    * the span names asked for (absent spans report 0). Counters include
    * the span's descendants; `self_s` is wall minus child walls. */
  def counters(names: Seq[String]): Map[String, (Double, String)] = {
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    val all = spans
    val children = all.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    names.flatMap { name =>
      val calls = all.filter(_.name == name)
      val per = calls.map { s =>
        val ids = subtree(s).map(_.id).toSet
        val t = listener.totals(ids)
        val wall = s.wallNs / 1e9
        val childWall =
          children.getOrElse(s.id, Nil).map(_.wallNs).sum / 1e9
        Map(
          "wall_s" -> wall,
          "self_s" -> (wall - childWall),
          "jobs" -> t.jobs.toDouble,
          "tasks" -> t.tasks.toDouble,
          "task_s" -> t.taskNs / 1e9,
          "shuffle_read_bytes" -> t.shuffleRead.toDouble,
          "shuffle_write_bytes" -> t.shuffleWrite.toDouble,
          "spill_bytes" -> t.spill.toDouble,
          "output_bytes" -> t.output.toDouble,
          "driver_gap_s" ->
            math.max(0.0, wall - unionNs(t.intervals) / 1e9))
      }
      Counters.map { case (c, unit) =>
        val v = if (per.isEmpty) 0.0 else per.map(_(c)).sum / per.size
        s"$name.$c" -> (v, unit)
      }
    }.toMap
  }

  /** All spans as JSON-ready maps, times relative to the first span. */
  def dump: Seq[Map[String, Any]] = {
    val all = spans.sortBy(_.start)
    val t0 = all.headOption.map(_.start).getOrElse(0L)
    all.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "trace" -> s.trace, "start_s" -> (s.start - t0) / 1e9,
      "end_s" -> (s.end - t0) / 1e9))
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Counter suffixes reported for every span, with their units. */
  val Counters: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "self_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "task_s" -> "s",
    "shuffle_read_bytes" -> "B", "shuffle_write_bytes" -> "B",
    "spill_bytes" -> "B", "output_bytes" -> "B", "driver_gap_s" -> "s")

  final case class Totals(jobs: Int, tasks: Int, taskNs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, output: Long,
      intervals: Seq[(Long, Long)])

  /** Length of the union of [start, end) intervals (epoch millis in,
    * nanoseconds out). */
  def unionNs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total * 1e6
  }

  /** Charges jobs, tasks and task metrics to the span id found in the
    * job's local properties. */
  private final class JobListener extends SparkListener {
    private val stageSpan = mutable.HashMap.empty[Int, Long]
    private val jobs = mutable.HashMap.empty[Long, Int]
    private final class Acc {
      var tasks = 0; var taskNs = 0L; var sr = 0L; var sw = 0L
      var spill = 0L; var out = 0L
      val iv = mutable.ArrayBuffer.empty[(Long, Long)]
    }
    private val acc = mutable.HashMap.empty[Long, Acc]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .flatMap(_.toLongOption).foreach { id =>
          jobs(id) = jobs.getOrElse(id, 0) + 1
          e.stageIds.foreach(st => stageSpan(st) = id)
        }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val a = acc.getOrElseUpdate(id, new Acc)
        a.tasks += 1
        a.iv += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        Option(e.taskMetrics).foreach { m =>
          a.taskNs += m.executorRunTime * 1000000L
          a.sr += m.shuffleReadMetrics.totalBytesRead
          a.sw += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.out += m.outputMetrics.bytesWritten
        }
      }
    }

    def totals(ids: Set[Long]): Totals = synchronized {
      val as = ids.toSeq.flatMap(acc.get)
      Totals(ids.toSeq.map(jobs.getOrElse(_, 0)).sum, as.map(_.tasks).sum,
        as.map(_.taskNs).sum, as.map(_.sr).sum, as.map(_.sw).sum,
        as.map(_.spill).sum, as.map(_.out).sum, as.flatMap(_.iv))
    }
  }
}
