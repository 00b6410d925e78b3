package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType
import graft.spark.Materialize

/** Streaming parity slice (SURVEY.md §2.10 T2).
  *
  * The reference's "streaming" is control-plane only: an S3 event fires a
  * Lambda that starts the transform job over ALL of raw/
  * (`/root/reference/src/lambda/glue_starter_lambda_function.py:5-35`; the
  * passed source path is ignored downstream). Structured Streaming's file
  * source + `Trigger.AvailableNow` subsumes that exactly-once new-file
  * semantics natively — plus real watermarked event-time aggregation the
  * reference lacks.
  *
  * Scale notes: the file source tracks seen files in the checkpoint log,
  * so each micro-batch reads only new files (no re-listing-cost blowup if
  * `maxFilesPerTrigger` bounds batches). The windowed aggregate is a
  * standard stateful hash agg whose state is bounded by the watermark.
  */
object EventStream {

  /** File-source stream over a raw directory of parquet drops. */
  def readRaw(spark: SparkSession, rawDir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(rawDir)

  /** Rate-limited file source: `maxFilesPerTrigger` bounds every
    * micro-batch — the backpressure that makes a BACKFILL through the
    * streaming path feasible at scale. Pointed at a 100 TB history
    * directory, the unthrottled source sizes its first micro-batch like
    * the whole backlog (one giant shuffle, checkpoint write
    * amplification, executor OOM); throttled, the backlog drains in
    * bounded replayable increments under the same exactly-once file log,
    * and `Trigger.AvailableNow` still terminates once it catches up.
    */
  def readRawThrottled(spark: SparkSession, rawDir: String,
      schema: StructType, maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(rawDir)

  /** Watermarked tumbling-window aggregate per event type. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Oracle-checkable twin of [[windowedCounts]]: the same tumbling
    * window and grouping, but integer-cents measures (a double `sum`'s
    * result depends on partition fold order — unhashable against an
    * oracle) and the window start as epoch SECONDS (a raw timestamp
    * column would compare engine formatting, not semantics). Because
    * `window()` and the aggregate run identically in batch (the watermark
    * is a no-op there), registering this as a batch query (e10) puts the
    * streaming aggregation's semantics themselves under the DuckDB gate —
    * the batch/stream unification Structured Streaming promises.
    */
  def windowedCountsExact(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .filter(col("ts").isNotNull && col("value").isNotNull &&
        col("event_type").isNotNull)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("total_cents"))
      .select(unix_timestamp(col("window.start")).as("window_start_s"),
        col("event_type"), col("n"), col("total_cents"))

  /** Streaming OHLC bars — [[graft.operators.TimeSeries.ohlcBars]]'s
    * semantics as a watermarked tumbling-window streaming aggregate.
    * `min_by`/`max_by` are declarative aggregates, so open/close carry
    * O(1) state per (bar, series) group in the state store — never a
    * buffered event list — and the aggregate restarts exactly from the
    * checkpoint. Batch/stream parity is pinned in StreamingSpec against
    * the oracle-checked batch form (e18).
    */
  def ohlcBarsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .filter(col("ts").isNotNull && col("value").isNotNull &&
        col("event_type").isNotNull)
      .select(col("event_type"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min_by(col("cents"), struct(col("us"), col("event_id"))).as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        max_by(col("cents"), struct(col("us"), col("event_id"))).as("close_cents"),
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("vol_cents"))
      .select(unix_micros(col("window.start")).as("bar_us"), col("event_type"),
        col("open_cents"), col("high_cents"), col("low_cents"),
        col("close_cents"), col("n_events"), col("vol_cents"))

  /** Run a streaming frame to completion over currently-available input
    * (Trigger.AvailableNow ≈ the reference's "process everything on
    * trigger"), collecting results via the in-memory sink.
    */
  def runAvailableNow(spark: SparkSession, streamed: DataFrame,
      queryName: String, checkpoint: String,
      outputMode: String = "append"): DataFrame = {
    val q = streamed.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Session-window aggregation: per-user sessions that close after `gap`
    * of event-time inactivity — the variable-length window family tumbling
    * windows can't express (user activity bursts, not clock hours). State
    * per open session, merged as late rows bridge sessions; with a
    * watermark, closed sessions are evicted (production mode). The
    * no-watermark + complete-mode form exists for bounded replays/tests.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: Option[String] = Some("10 minutes")): DataFrame = {
    val src = watermark.fold(events)(events.withWatermark("ts", _))
    src
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))
  }

  /** Streaming exact dedup: drop re-delivered events by id, with a
    * watermark bounding the dedup state (ids older than the watermark are
    * evicted — without it, state grows unboundedly at 100 TB/day rates).
    */
  def dedupedStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join: every micro-batch joins the (small)
    * static dimension as a broadcast hash join — no streaming state, no
    * shuffle of the stream side. The standard way to enrich a
    * 100 TB/day stream with reference data; a stream-STREAM join would
    * instead buffer both sides in watermark-bounded state.
    */
  def enrichedStream(events: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** foreachBatch egress: write each micro-batch to a parquet target
    * partitioned by batch id and a derived date column — the standard
    * production sink when the target needs batch-writer features
    * (partitioning, dynamic overwrite) the streaming parquet sink lacks.
    *
    * foreachBatch is AT-LEAST-ONCE: a crash between the parquet job
    * commit and the streaming checkpoint commit replays the batch — same
    * batchId, write job already committed — so a plain `append` would
    * duplicate every row of that batch. [[writeBatchIdempotent]] makes
    * the replay a no-op-equivalent: the batch lands under its own
    * `batch_id=<id>` partitions via DYNAMIC partition overwrite, so a
    * replayed attempt overwrites exactly the partitions the failed
    * attempt wrote and nothing else (concurrent committed batches have
    * different batch_ids and are untouched).
    */
  def writeBatchIdempotent(batch: Dataset[org.apache.spark.sql.Row],
      batchId: Long, targetDir: String): Unit =
    writeBatchPartitioned(batch.toDF().withColumn("date", to_date(col("ts"))),
      batchId, targetDir, Seq("date"))

  /** The generic form of the replay-idempotent append: any derived batch
    * output lands under its own `batch_id=<id>` partitions (plus
    * `extraPartitionCols`) via dynamic overwrite, so a replayed attempt
    * overwrites exactly what the failed attempt wrote — ONE audited
    * implementation of the exactly-once argument, shared by the event
    * egress above and the corpus-ingest sink
    * ([[graft.streaming.CorpusStream]]).
    */
  def writeBatchPartitioned(df: DataFrame, batchId: Long, targetDir: String,
      extraPartitionCols: Seq[String] = Nil): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id" +: extraPartitionCols: _*)
      .parquet(targetDir)

  def runForeachBatchSink(spark: SparkSession, streamed: DataFrame,
      targetDir: String, checkpoint: String): Unit =
    runBatches(streamed, checkpoint)(writeBatchIdempotent(_, _, targetDir))

  /** Runs `body` on each micro-batch of the input `streamed` has now
    * (`Trigger.AvailableNow`), with its progress in `checkpoint`, and
    * returns when the query ends: the one driver of the foreachBatch
    * sinks here and in [[CorpusStream]].
    */
  private[streaming] def runBatches(streamed: DataFrame, checkpoint: String)(
      body: (Dataset[org.apache.spark.sql.Row], Long) => Unit): Unit =
    streamed.writeStream.foreachBatch(body)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Streaming SCD2 upsert: maintain a VERSIONED dimension snapshot from a
    * change-data stream. Each micro-batch is (1) compacted latest-wins per
    * key ([[graft.operators.MergeOps.latestByKey]] — a batch may carry
    * several versions of one key; only the newest participates), then
    * (2) MERGE'd into the snapshot ([[graft.operators.MergeOps.scd2Merge]]),
    * closing superseded versions at this batchId.
    *
    * Idempotent under foreachBatch's at-least-once replay WITHOUT a
    * transactional sink: a replayed batch re-merges the same update values
    * against a snapshot that already reflects them, and the merge's no-op
    * branch emits no new versions — the snapshot is a fixpoint of its own
    * replay. The read-then-overwrite of the snapshot directory is
    * materialized first ([[graft.spark.Materialize]]; lazy Spark would
    * delete the input mid-read); a production deployment on object storage would
    * commit through a transactional table format instead of directory
    * overwrite, but the MERGE semantics are unchanged.
    */
  def scd2UpsertBatch(spark: SparkSession, batch: Dataset[org.apache.spark.sql.Row],
      batchId: Long, dimDir: String, keyCol: String, ordCol: String,
      trackedCols: Seq[String]): Unit = {
    import graft.operators.MergeOps
    val compacted = MergeOps.latestByKey(batch.toDF(), keyCol, ordCol).drop(ordCol)
    val merged =
      if (new java.io.File(dimDir).exists())
        MergeOps.scd2Merge(spark.read.parquet(dimDir), compacted,
          Seq(keyCol), trackedCols, batchId)
      else MergeOps.scd2Init(compacted, batchId)
    Materialize(merged).write.mode("overwrite").parquet(dimDir)
  }

  def runScd2Sink(spark: SparkSession, streamed: DataFrame, dimDir: String,
      checkpoint: String, keyCol: String, ordCol: String,
      trackedCols: Seq[String]): Unit =
    runBatches(streamed, checkpoint)(
      scd2UpsertBatch(spark, _, _, dimDir, keyCol, ordCol, trackedCols))

  /** Stream-stream inner join within an event-time interval: for each
    * purchase, the same user's clicks in the preceding `window`. BOTH
    * sides buffer in state; the watermarks + the interval condition bound
    * that state (without the time bound, a stream-stream join must keep
    * every row forever — the unbounded-state trap at 100 TB/day).
    */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame,
      window: String = "1 hour", joinType: String = "inner"): DataFrame = {
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value").as("purchase_value"))
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("c_ts"))
    // leftOuter: an unmatched purchase is emitted with null click columns
    // only once the watermark passes its join-window upper bound — i.e.
    // when state eviction PROVES no matching click can still arrive. The
    // null row is a statement about the stream, so it must wait for the
    // stream to close, not for the micro-batch to end.
    p.join(c,
      col("user_id") === col("c_user_id") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $window") &&
        col("c_ts") <= col("p_ts"),
      joinType)
      .select("purchase_id", "user_id", "purchase_value", "click_id", "c_ts")
  }

  /** Stateful streaming op: running per-user event count + last value via
    * `mapGroupsWithState` (the reference has no stateful analog; this is
    * the KeyValueGroupedDataset custom-state surface).
    */
  def runningUserState(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, batch: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(user, 0L, 0.0, Long.MinValue))
          val evs = batch.toSeq
          // keep the max-event_id SEEN SO FAR in state: a later micro-batch
          // delivering late/out-of-order events must not overwrite
          // last_value with an older event's value
          val newest = evs.maxByOption(_.event_id)
          val updated =
            if (newest.exists(_.event_id > prev.last_event_id))
              UserRunning(user, prev.n + evs.size,
                newest.get.value, newest.get.event_id)
            else prev.copy(n = prev.n + evs.size)
          state.update(updated)
          updated
      }
  }

  /** The SAME running per-user state on the `transformWithState` API —
    * Spark 4's arbitrary-state successor to `mapGroupsWithState`
    * (typed state handles with per-state TTL, timers, and RocksDB-backed
    * stores; required provider set by the caller's session conf). Kept
    * semantically identical to [[runningUserState]] so the spec can
    * referee one against the other on the same input — the late-event
    * guard (max event_id seen so far) included.
    */
  def runningUserStateTws(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new UserRunningProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }
}

/** Per-user running-state processor for [[EventStream.runningUserStateTws]]:
  * one `ValueState` slot per user, no TTL, no timers — the minimal
  * StatefulProcessor carrying the mapGroupsWithState semantics over.
  */
class UserRunningProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, UserEvent, UserRunning] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var running: ValueState[UserRunning] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    running = getHandle.getValueState[UserRunning]("running",
      org.apache.spark.sql.Encoders.product[UserRunning], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[UserEvent],
      timerValues: TimerValues): Iterator[UserRunning] = {
    val prev =
      if (running.exists()) running.get()
      else UserRunning(user, 0L, 0.0, Long.MinValue)
    val evs = rows.toSeq
    val newest = evs.maxByOption(_.event_id)
    val updated =
      if (newest.exists(_.event_id > prev.last_event_id))
        UserRunning(user, prev.n + evs.size, newest.get.value,
          newest.get.event_id)
      else prev.copy(n = prev.n + evs.size)
    running.update(updated)
    Iterator.single(updated)
  }
}

case class UserEvent(event_id: Long, user_id: Long, value: Double)
case class UserRunning(user_id: Long, n: Long, last_value: Double,
  last_event_id: Long)
