/* Bridges into Spark's package-private API, and nothing else: the
 * Column <-> Expression conversion (Spark 4 made `Column` a ColumnNode
 * wrapper with no public Expression accessor), `Dataset.ofRows` and the
 * listener bus. Libraries that define native Catalyst expressions use a
 * same-package bridge (the established pattern in open-source Spark
 * extension libraries). Materialization lives in graft.spark.Materialize.
 */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

object GraftShims {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame — the entry point a
    * custom LogicalPlan operator needs (`Dataset.ofRows` is private[sql]).
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Drain the scheduler's listener bus (private[spark]) so a probe's
    * per-query job/stage/task counters are complete before reading them.
    * Dev tooling and specs only (StatsProbe, IngestSinkSpec's write width).
    */
  def waitListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
}
