package org.apache.spark.sql.graft

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SQLExecution

/** Companion to ColumnBridge for whole plans: `Dataset.ofRows` (the lift
  * from a LogicalPlan to a DataFrame) is `private[sql]` in Spark 4, and
  * custom logical operators need it to enter the public API. Lives inside
  * the org.apache.spark.sql package tree solely to re-export that lift.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan
    )

  /** The analyzed logical plan of a DataFrame (attribute refs resolved). */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** `Observation.getOrEmpty` is `private[sql]`: the non-blocking metrics
    * read a foreachBatch sink needs — if the write action ever completes
    * without firing the observation, the blocking `get` would hang the
    * stream, and `get.apply(key)` would throw on a missing metric.
    */
  def observedOrEmpty(obs: org.apache.spark.sql.Observation): Map[String, Any] =
    obs.getOrEmpty

  /** Waits until the listener bus has delivered every posted event
    * (`waitUntilEmpty` is `private[spark]`), so a listener's counters
    * cover every job started before the call.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** `SQLExecution.withThreadLocalCaptured` is `private[sql]` and takes the
    * classic session: runs `body` on `exec` under the caller's active
    * session and SparkContext local properties (job group, job tags,
    * streaming query ids), so the jobs `body` starts belong to the caller —
    * a streaming query's `stop()` cancels them with its own.
    */
  def withThreadLocalCaptured[T](spark: SparkSession, exec: ExecutorService)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], exec)(body)
}
