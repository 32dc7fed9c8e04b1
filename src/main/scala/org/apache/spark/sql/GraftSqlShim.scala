package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** The `private[sql]` doorways graft needs: wrap a hand-built (already
  * resolved) logical plan or an `RDD[InternalRow]` back into a DataFrame,
  * move between a Column and its Catalyst expression, and read a session's
  * unique id. Lives in the `org.apache.spark.sql` package solely for access
  * to `classic.Dataset.ofRows`, `classic.ExpressionUtils`,
  * `SparkSession.internalCreateDataFrame`, `SparkSession.sessionUUID` and
  * `StructType.asNullable`; everything else in graft stays on public API.
  */
object GraftSqlShim {
  /** A Column holding `e` itself: no function name, no registry, and any
    * object `e` references travels with the Column into whichever session
    * analyzes it.
    */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The (possibly unresolved) Catalyst expression behind `c`. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A frame over `rows`, whose layout is `schema`'s: one analysis, no
    * per-row conversion (what Spark's own JSON and CSV readers return).
    */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** `schema` with every field nullable, nested ones too: the type
    * `from_json` reports for a schema.
    */
  def asNullable(schema: StructType): StructType = schema.asNullable

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
