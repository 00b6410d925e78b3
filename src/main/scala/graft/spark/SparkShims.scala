/* Bridge into Spark's private[sql] Column <-> Expression conversion.
 * Spark 4 made `Column` a ColumnNode wrapper with no public Expression
 * accessor; libraries that define native Catalyst expressions use a
 * same-package bridge (the established pattern in open-source Spark
 * extension libraries).
 */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

object GraftShims {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a temp SQL function on an existing session (the runtime
    * counterpart of SparkSessionExtensions.injectFunction, for sessions
    * created without the extensions conf).
    */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** Wrap a (resolved) logical plan as a DataFrame — the entry point a
    * custom LogicalPlan operator needs (`Dataset.ofRows` is private[sql]).
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame (for building custom
    * operator nodes over existing frames).
    */
  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Drain the scheduler's listener bus (private[spark]) so a probe's
    * per-query job/stage/task counters are complete before reading them.
    * Dev tooling only (StatsProbe).
    */
  def waitListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** Unpersist the storage behind a `localCheckpoint(eager = true)`'d
    * Dataset NOW, instead of waiting for the driver's GC + ContextCleaner
    * to notice the dropped reference. Iterative fixpoint loops checkpoint
    * every round; without explicit release the dead rounds accumulate in
    * executor storage until a nondeterministic GC — measured at sf10 on
    * the 8 GB (250 MB/core) heap as an intermittent
    * UNABLE_TO_ACQUIRE_MEMORY in whatever query ran next. Only call on
    * checkpoints whose successors are themselves already materialized
    * (an eager checkpoint never re-reads its parent after creation).
    * No-op for plans that are not a checkpoint/LogicalRDD root.
    */
  def unpersistCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Read one observe() metric, tolerating environments where the
    * Observation never receives it: inside a streaming foreachBatch body
    * (a cloned session whose listener path completes the Observation
    * with an EMPTY row — measured r12 via the ingest sink specs) or any
    * nested execution. Returns None on a missing field or on timeout;
    * callers fall back to a direct aggregate job — same value, one extra
    * small job, only in contexts where the free path is unavailable.
    *
    * A timeout (the Observation never completes) marks `spark` as a
    * session whose metrics do not arrive: every later read there returns
    * None at once, so a fixpoint loop pays the wait once, not once per
    * round.
    */
  def observedMetric(spark: SparkSession, obs: Observation, key: String,
      timeoutSec: Int = 30): Option[Any] =
    if (observeUnavailable.containsKey(spark)) None
    else try {
      val row = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(timeoutSec, "s"))
      scala.util.Try(row.getAs[Any](key)).toOption
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        observeUnavailable.put(spark, java.lang.Boolean.TRUE)
        None
    }

  // sessions whose Observations timed out once (weak keys: a stopped,
  // dropped session leaves no entry behind)
  private val observeUnavailable = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** `df` with its row count observed as "n", plus any `extra` aggregate
    * metrics: the count rides whatever job consumes `df` (typically its
    * eager checkpoint) instead of a separate count() action.
    */
  def counted(df: DataFrame, extra: Column*): (DataFrame, Observation) = {
    val obs = Observation()
    (df.observe(obs, functions.count(functions.lit(1)).as("n"), extra: _*), obs)
  }

  /** The long metric `key` of an Observation from [[counted]], or else
    * `fallback` (a direct job computing the same value) where metrics do
    * not arrive.
    */
  def observedLong(df: DataFrame, obs: Observation, key: String)(
      fallback: => Long): Long =
    observedMetric(df.sparkSession, obs, key)
      .map(_.asInstanceOf[Long]).getOrElse(fallback)

  /** The observed row count of a [[counted]] frame, or else a count() of
    * `df` — the materialized checkpoint, or the frame before the observe
    * node (a second run of the observed frame would re-fire its metrics).
    */
  def observedCount(df: DataFrame, obs: Observation): Long =
    observedLong(df, obs, "n")(df.count())

  /** Whether a graph of `edges` edges (two longs, 16 bytes each) is small
    * enough to finish on the driver: the size Spark already lets the
    * driver collect for a broadcast (`spark.sql.autoBroadcastJoinThreshold`,
    * same `>= 0` and `<=` rule as its broadcast check). A threshold of -1
    * keeps every fixpoint on its distributed rounds.
    */
  def fitsOnDriver(spark: SparkSession, edges: Long): Boolean = {
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    limit >= 0 && edges <= limit / 16
  }
}
