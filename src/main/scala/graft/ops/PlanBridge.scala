package org.apache.spark.sql.graftplan

import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Logical-plan → DataFrame bridge for the graft DML commands
  * ([[graft.ops.GraftMergeCommand]]/[[graft.ops.GraftUpdateCommand]]):
  * they assemble plans from the statement's RESOLVED expressions
  * (preserving attribute ids), and `Dataset.ofRows` is `private[sql]`
  * — same third-party-integration pattern as
  * [[org.apache.spark.sql.graftstream.StreamingBridge]]. */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Mount a `BaseRelation` as a DataFrame whose `LogicalRelation`
    * carries a `CatalogTable` — the vehicle Catalyst reads
    * `CatalogStatistics` (row count + per-column NDV/null stats) from
    * during CBO plan costing. `baseRelationToDataFrame` cannot attach
    * one, and `LogicalRelation`'s builder is `private[sql]` — the same
    * third-party-integration boundary the other bridge methods cross. */
  def ofRelationWithStats(spark: SparkSession,
      rel: org.apache.spark.sql.sources.BaseRelation,
      table: org.apache.spark.sql.catalyst.catalog.CatalogTable): DataFrame = {
    val lr = org.apache.spark.sql.execution.datasources
      .LogicalRelation(rel, isStreaming = false)
      .copy(catalogTable = Some(table))
    ofRows(spark, lr)
  }

  /** Block (bounded) until every listener event posted so far has been
    * delivered, so `SparkStatusTracker` (fed from those events) knows
    * every job and task started before this call. The listener bus is
    * `private[spark]`. */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
