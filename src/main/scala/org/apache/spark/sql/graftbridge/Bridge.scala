package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the constructors and
  * `ExpressionUtils` private[sql]; extensions conventionally expose them
  * through a shim in an `org.apache.spark.sql` subpackage (the same
  * technique third-party connectors use). No Spark internals are
  * modified — this only re-exports two conversions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The type of an expression's `inputTypes` (`AbstractDataType` is
    * private[sql]), and its "any array" member, for `graft.plans.NativeFn`. */
  type InputType = org.apache.spark.sql.types.AbstractDataType
  val AnyArray: InputType = org.apache.spark.sql.types.ArrayType

  /** Block until the async listener bus has delivered all queued events.
    * `SparkContext.listenerBus` is `private[spark]`, so the accessor
    * lives here (same shim technique as the Column bridge above). Used
    * by Bench's per-query IO tally: task-end events arrive on an async
    * queue, and without a drain the last tasks of query N would be
    * charged to query N+1. A timeout degrades to slightly-fuzzy
    * attribution, never to a hang or a crash.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** The shuffle-dependency id a stage materializes, if it is a shuffle
    * map stage (`StageInfo.shuffleDepId` is `private[spark]`, so the
    * accessor lives here — same shim technique as above). Used by
    * Bench's executed-exchange counter: each distinct shuffle
    * dependency that COMPLETES a map stage is one executed Exchange,
    * with reused exchanges and skipped stages counted once — unlike
    * counting "Exchange" lines in the executed-plan string, which
    * inlines every persisted subtree's build exchanges per reference
    * (the r21 verdict's 71-vs-193 discrepancy). */
  def stageShuffleDepId(
      si: org.apache.spark.scheduler.StageInfo): Option[Int] =
    si.shuffleDepId

  /** The RDD a checkpointed frame reads (`Dataset.checkpoint` and
    * `localCheckpoint` return a frame over one `LogicalRDD`), so
    * [[graft.Scope]] can release its blocks and its checkpoint files. */
  def checkpointRdd(df: DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      case p => throw new IllegalArgumentException(
        s"not a checkpointed frame: ${p.nodeName}")
    }

  /** Write a lazily marked checkpoint now — what `checkpoint(eager =
    * true)` does after marking (`RDD.doCheckpoint` is `private[spark]`).
    * [[graft.Scope]] marks lazily first, so the release is registered
    * before any block or file exists. */
  def materializeCheckpoint(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.doCheckpoint()

  /** No frame is registered with the session's CacheManager. */
  def cacheIsEmpty(spark: SparkSession): Boolean =
    spark.sharedState.cacheManager.isEmpty
}
