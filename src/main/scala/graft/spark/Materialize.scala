package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession, functions}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of how the operators materialize state. Every form is a
  * LOCAL, EAGER checkpoint (`localCheckpoint(true)`): the checkpoint job
  * runs at the call, the blocks live in executor storage, and the result
  * reads back with no lineage above it. That is what a frame read more
  * than once needs (a diamond DAG, or an iteration whose lazy plan would
  * otherwise grow one level per round).
  *
  *  - [[apply]] materializes a frame;
  *  - [[counted]] also returns its row count (and optionally one more
  *    long aggregate), observed during the checkpoint job itself;
  *  - [[round]] releases the round the next one supersedes;
  *  - [[cached]] pins a loop invariant for the length of a loop;
  *  - [[observeCount]] / [[observedCount]] / [[observedMetric]] read
  *    `observe()` metrics with a fallback job;
  *  - [[spread]] is the one rule for a shuffle's width.
  */
object Materialize {

  /** `df` spread over the session's shuffle width
    * (`spark.sql.shuffle.partitions`): a hash repartition by `keys`, or a
    * round-robin one when no keys are given.
    *
    * The count is explicit, so the exchange is a `REPARTITION_BY_NUM`
    * shuffle, which AQE never coalesces. AQE sizes partitions by bytes,
    * and a byte-small shuffle that feeds compute- or file-dense work (a
    * verify join over pair rows, ~190 partition directories written one
    * file each) would otherwise run as one task, its rows processed one
    * after another. At production scale the input is byte-large and the
    * width is the one AQE would pick anyway. Rows with equal keys still
    * meet in one partition, so a write partitioned by `keys` still gives
    * each directory one file.
    */
  def spread(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, keys: _*)

  /** `df` materialized: a local, eager checkpoint. */
  def apply(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** `df` materialized, and its row count: the count rides the
    * checkpoint job through `observe()`, with a `count()` of the
    * checkpoint as the fallback where metrics do not arrive.
    */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val (observed, obs) = observeCount(df)
    val ck = apply(observed)
    (ck, observedCount(ck, obs))
  }

  /** [[counted]] plus the long aggregate `extra` over `df`, observed in
    * the same job; the fallback is `extra` aggregated over the checkpoint.
    */
  def counted(df: DataFrame, extra: Column): (DataFrame, Long, Long) = {
    val (observed, obs) = observeCount(df, extra.as("extra"))
    val ck = apply(observed)
    (ck, observedCount(ck, obs),
      observedLong(ck, obs, "extra")(ck.agg(extra).head().getLong(0)))
  }

  /** Runs `next`, which materializes the round that supersedes `prev`,
    * then releases `prev`'s blocks now instead of waiting for the
    * driver's GC and ContextCleaner to notice the dropped reference.
    * Fixpoint loops checkpoint every round; without the release the dead
    * rounds accumulate in executor storage until a nondeterministic GC
    * (measured at sf10 on the 8 GB, 250 MB/core heap as an intermittent
    * UNABLE_TO_ACQUIRE_MEMORY in whatever query ran next). `next` may
    * read `prev`: an eager checkpoint never re-reads its parent after
    * creation.
    */
  def round[A](prev: DataFrame)(next: => A): A = {
    val out = next
    release(prev)
    out
  }

  /** Unpersists the blocks behind a checkpointed frame (a no-op for a
    * frame whose plan is not a checkpoint, e.g. a loop's first input).
    */
  private def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** Loans `df`, cached, to `body` and unpersists it when `body` returns
    * or throws: a loop invariant (an edge list, a training set) that every
    * iteration re-reads. `body` must not return a lazy frame that still
    * reads the cache.
    */
  def cached[A](df: DataFrame)(body: DataFrame => A): A = {
    val c = df.cache()
    try body(c) finally c.unpersist(blocking = false)
  }

  /** `df` with its row count observed as "n", plus any `extra` aggregate
    * metrics: the count rides whatever job consumes `df` instead of a
    * separate count() action.
    */
  def observeCount(df: DataFrame, extra: Column*): (DataFrame, Observation) = {
    val obs = Observation()
    (df.observe(obs, functions.count(functions.lit(1)).as("n"), extra: _*), obs)
  }

  /** The observed row count of an [[observeCount]] frame, or else a
    * count() of `df`: the checkpoint, or the frame before the observe
    * node (a second run of the observed frame would re-fire its metrics).
    */
  def observedCount(df: DataFrame, obs: Observation): Long =
    observedLong(df, obs, "n")(df.count())

  /** The long metric `key` of an Observation, or else `fallback` (a
    * direct job computing the same value) where metrics do not arrive.
    */
  private def observedLong(df: DataFrame, obs: Observation, key: String)(
      fallback: => Long): Long =
    observedMetric(df.sparkSession, obs, key)
      .map(_.asInstanceOf[Long]).getOrElse(fallback)

  /** Read one observe() metric, tolerating environments where the
    * Observation never receives it: inside a streaming foreachBatch body
    * (a cloned session whose listener path completes the Observation
    * with an EMPTY row, seen in the ingest sink specs) or any nested
    * execution. Returns None on a missing field or on timeout; callers
    * fall back to a direct aggregate job: same value, one extra small
    * job, only in contexts where the free path is unavailable.
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
