package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to `Dataset.ofRows` (`private[sql]`) so library code can wrap
  * a hand-built logical node — e.g. [[graft.plans.AsOfJoinPlan]] — back
  * into a user-facing DataFrame. This is the standard entry point every
  * custom whole-operator extension needs: the public Dataset API can
  * only produce plans from existing operators, so a NEW logical node
  * has no public constructor path. Same package-tree access pattern as
  * [[ColumnBridge]]/[[RddBridge]]. */
object PlanBridge {
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Blocks until every event posted so far, streaming-query events
    * included, has reached its listeners (the bus is asynchronous);
    * throws `TimeoutException` after 60 s. */
  def awaitListeners(session: SparkSession): Unit =
    session.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
