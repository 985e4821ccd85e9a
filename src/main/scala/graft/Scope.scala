package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel
import scala.util.control.NonFatal

/** The one owner of every persist, checkpoint and conf override the
  * library makes. [[Scope.run]] binds a scope to the calling thread for
  * one unit of work — a runner's query including the action that
  * consumes it, a store-loop micro-batch, one test — and its `finally`
  * releases everything registered inside it, even when the body throws:
  * persisted frames are unpersisted (blocking), checkpoint blocks are
  * dropped and reliable checkpoint files deleted, and conf overrides are
  * restored in reverse order. A nested `run` releases only what it
  * registered. Outside any `run` the three calls throw, naming their
  * caller: there is no unreleased fallback.
  */
final class Scope private {
  private val releases = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  private def close(): Unit = {
    var failure: Throwable = null
    releases.reverseIterator.foreach { release =>
      try release()
      catch { case NonFatal(e) =>
        if (failure == null) failure = e else failure.addSuppressed(e)
      }
    }
    releases.clear()
    if (failure != null) throw failure
  }
}

object Scope {
  private val open = ThreadLocal.withInitial[List[Scope]](() => Nil)

  /** Every frame registered while set is passed here after it is
    * materialized (test seam: StreamingSpec's persist audit). */
  @volatile private[graft] var watch: DataFrame => Unit = _ => ()

  /** Run `body` in a fresh scope bound to this thread; release what it
    * registered when the body returns or throws. */
  def run[T](spark: SparkSession)(body: => T): T = {
    val scope = new Scope
    val outer = open.get
    open.set(scope :: outer)
    var failure: Throwable = null
    try body
    catch { case t: Throwable => failure = t; throw t }
    finally {
      open.set(outer)
      try scope.close()
      catch { case NonFatal(e) if failure != null => failure.addSuppressed(e) }
    }
  }

  /** Persist `df` (MEMORY_AND_DISK) and fill the cache before returning
    * it, so every consumer is planned against a filled cache: AQE sizes
    * its joins from the cached relation's real statistics instead of a
    * lazily filled one, which gave the prefix-Jaccard pair two shuffle
    * shapes on unchanged code. One job per frame. */
  def persist(df: DataFrame): DataFrame = {
    val scope = current("persist")
    df.persist(StorageLevel.MEMORY_AND_DISK)
    scope.releases += (() => df.unpersist(blocking = true))
    // computing each partition fills its cache block whole; the rows
    // themselves are not read
    df.foreachPartition((_: Iterator[Row]) => ())
    watch(df)
    df
  }

  /** Truncate `df`'s lineage: a reliable checkpoint when the context has
    * a checkpoint dir (sc.setCheckpointDir onto fault-tolerant storage,
    * so a lost executor does not kill a loop mid-way), else an
    * executor-local one, which is faster and fine in one JVM. The scope
    * drops the blocks and deletes the files when it closes. `eager =
    * false` leaves the write to the first action over the frame, fused
    * with whatever that action computes. */
  def checkpoint(df: DataFrame, eager: Boolean): DataFrame = {
    val scope = current("checkpoint")
    val sc = df.sparkSession.sparkContext
    val dir = sc.getCheckpointDir
    val out = if (dir.isDefined) df.checkpoint(false) else df.localCheckpoint(false)
    val rdd = Bridge.checkpointRdd(out)
    scope.releases += { () =>
      rdd.unpersist(blocking = true)
      dir.foreach { d =>
        val files = new Path(d, s"rdd-${rdd.id}")
        files.getFileSystem(sc.hadoopConfiguration).delete(files, true)
      }
    }
    if (eager) Bridge.materializeCheckpoint(rdd)
    watch(out)
    out
  }

  /** Set `key` on `session` until the scope closes, then restore what
    * was set before (or unset it). A value the session rejects throws
    * here and registers nothing. */
  def conf(session: SparkSession, key: String, value: String): Unit = {
    val scope = current("conf")
    val prior = session.conf.getAll.get(key)
    session.conf.set(key, value)
    scope.releases +=
      (() => prior.fold(session.conf.unset(key))(session.conf.set(key, _)))
  }

  /** What a closed scope must not leave in `spark`: persisted RDDs,
    * CacheManager entries, and conf entries that differ from
    * `confBefore` (Tables' reader settings aside — they stay set on
    * purpose). Runners call this after each query's scope closes and
    * record a non-empty answer as a failed query. */
  def leftBehind(spark: SparkSession,
      confBefore: Map[String, String]): Seq[String] = {
    val now = spark.conf.getAll
    spark.sparkContext.getPersistentRDDs.keys.toSeq.sorted
      .map(id => s"persisted RDD $id") ++
      (if (Bridge.cacheIsEmpty(spark)) Nil else Seq("CacheManager entries")) ++
      (now.keySet ++ confBefore.keySet).toSeq.sorted
        .filter(k => !Tables.readerConf.contains(k) &&
          now.get(k) != confBefore.get(k))
        .map(k => s"conf $k")
  }

  private def current(call: String): Scope = open.get match {
    case scope :: _ => scope
    case Nil =>
      val caller = Thread.currentThread.getStackTrace.iterator
        .drop(1).find(e => !Set("graft.Scope", "graft.Scope$")(e.getClassName))
        .fold("unknown")(_.toString)
      throw new IllegalStateException(
        s"Scope.$call called outside Scope.run by $caller")
  }
}
