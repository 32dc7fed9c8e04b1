package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The `private[sql]` doorways graft needs: wrap a hand-built (already
  * resolved) logical plan back into a DataFrame, and read a session's
  * unique id. Lives in the `org.apache.spark.sql` package solely for
  * access to `classic.Dataset.ofRows` and `SparkSession.sessionUUID`;
  * everything else in graft stays on public API.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The session's unique id (`private[sql]`): stable for the session's
    * lifetime and never reused, unlike an identity hash of the handle.
    */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** Drain the listener bus so `observe()` metrics / SparkListener counters
    * registered by graft are visible before a snapshot is read.
    * `SparkContext.listenerBus` is `private[spark]`; this package sits inside
    * that scope, keeping callers (Bench, specs) on graft-visible API only.
    */
  def waitListenerBusEmpty(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
