package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.spark.Materialize

/** Streaming CORPUS INGESTION with fuzzy dedup at the gate: each
  * micro-batch of documents is deduplicated (exact, then near-dup within
  * the batch, then near-dup against everything already ingested via the
  * persisted band index) and only the novel survivors are appended to the
  * corpus — the continuous form of the d10 incremental-dedup operator,
  * and the shape a crawl-ingest pipeline runs at 100 TB: per batch the
  * work is |batch| + collisions, never a corpus rescan.
  *
  * Exactly-once without a transactional store (the writeBatchIdempotent
  * argument, extended to a DERIVED side output):
  *  - corpus rows AND index rows land under `batch_id=<id>` partitions
  *    via dynamic partition overwrite — a replayed batch overwrites
  *    exactly its own partitions;
  *  - the dedup-vs-history read EXCLUDES the current batch_id (partition
  *    pruning), so a replayed batch never matches its own previous
  *    attempt's rows and reproduces the same survivor set — the sink is
  *    a fixpoint of its own replay.
  */
object CorpusStream {

  /** "State exists" = the dir holds committed content beyond marker
    * files (a pre-created empty dir, or a zero-survivor batch that wrote
    * only _SUCCESS, must read as no-prior-state, not as a schema error).
    * Probed through the Hadoop FileSystem API so the check holds on
    * hdfs://s3a:// deployments, not just local paths.
    */
  private def hasData(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.listStatus(p).exists(
      st => !st.getPath.getName.startsWith("_"))
  }

  /** One micro-batch: dedup within the batch, dedup vs prior ingested
    * state, append survivors + their band-index rows under this batch_id.
    */
  def dedupIngestBatch(spark: SparkSession, batch: Dataset[Row], batchId: Long,
      corpusDir: String, indexDir: String, threshold: Double = 0.9): Unit = {
    val docs = batch.toDF().select("doc_id", "text")
    // exact dedup keeps the deterministic min-id representative
    val exact = Dedup.exactDedup(docs)
    // near-dup within the batch: ONE representative (the component min)
    // per transitive near-dup cluster — the d7 convention. A greedy
    // drop-doc_b rule would over-delete chains (a~b, b~c, a!~c leaves
    // cluster {b,c} with no representative once b goes).
    val nearEdges = Dedup.nearDupPairs(exact, threshold)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val labels = Dedup.connectedComponents(nearEdges)
    val inBatchUnique = exact
      .join(labels, col("doc_id") === col("node"), "left")
      .filter(col("component").isNull || col("component") === col("doc_id"))
      .select("doc_id", "text")
    // vs prior state: candidate bands from the STORED index, excluding
    // this batch_id so an at-least-once replay never matches itself.
    val survivors =
      if (hasData(spark, indexDir)) {
        val priorIndex = spark.read.parquet(indexDir)
          .filter(col("batch_id") =!= batchId)
        val priorCorpus = spark.read.parquet(corpusDir)
          .filter(col("batch_id") =!= batchId)
        val dupNew = Dedup.incrementalNearDups(
            priorIndex, priorCorpus, inBatchUnique, threshold)
          .select(col("new_doc").as("doc_id")).distinct()
        inBatchUnique.join(dupNew, Seq("doc_id"), "left_anti")
      } else inBatchUnique
    // materialize before the writes: the corpus append's lineage reads
    // the corpus directory being written (other partitions)
    val kept = Materialize(survivors)
    EventStream.writeBatchPartitioned(kept, batchId, corpusDir)
    EventStream.writeBatchPartitioned(Dedup.bandIndex(kept), batchId, indexDir)
  }

  def runDedupIngestSink(spark: SparkSession, streamed: DataFrame,
      corpusDir: String, indexDir: String, checkpoint: String,
      threshold: Double = 0.9): Unit =
    EventStream.runBatches(streamed, checkpoint)(
      dedupIngestBatch(spark, _, _, corpusDir, indexDir, threshold))

  /** One micro-batch of ERASURE requests (`doc_id` rows) against the
    * ingested corpus and its persisted band index — the CONTINUOUS form
    * of [[graft.operators.Quality.eraseKeys]] +
    * [[graft.operators.Erasure.repairBandIndex]] over the
    * batch_id-partitioned layout:
    *
    *  - only partitions that actually HOLD a requested doc are rewritten
    *    (located by one semi-join scan, then dynamic partition
    *    overwrite) — cost ∝ affected partitions + request size, never a
    *    corpus rewrite;
    *  - a partition whose EVERY row is erased is deleted outright:
    *    dynamic overwrite only replaces partitions present in the
    *    output, so an emptied partition would otherwise survive as
    *    readable stale bytes — a compliance failure, not cosmetics;
    *  - replay-idempotent with no extra bookkeeping: erasing an id that
    *    is already gone affects no partition and rewrites nothing, so
    *    at-least-once delivery of the request stream is safe.
    */
  def eraseBatch(spark: SparkSession, requests: Dataset[Row], batchId: Long,
      corpusDir: String, indexDir: String): Unit = {
    val ids = Materialize(requests.toDF().select("doc_id").distinct())
    def rewriteDir(dir: String): Unit = {
      if (!hasData(spark, dir)) return
      val stored = spark.read.parquet(dir)
      // partition values surface with whatever type partition-discovery
      // inferred — go through String→Long rather than assuming LongType
      val affected = stored.join(broadcast(ids), Seq("doc_id"), "left_semi")
        .select("batch_id").distinct()
        .collect().map(_.get(0).toString.toLong).toSeq
      if (affected.isEmpty) return
      // materialize the survivors BEFORE overwriting their own source
      // partitions (the dedupIngestBatch rationale)
      val kept = Materialize(stored.filter(col("batch_id").isin(affected: _*))
        .join(broadcast(ids), Seq("doc_id"), "left_anti"))
      val surviving = kept.select("batch_id").distinct()
        .collect().map(_.get(0).toString.toLong).toSet
      kept.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(dir)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      affected.filterNot(surviving).foreach { b =>
        // an audit that claims erasure while bytes remain readable is a
        // compliance incident — fail loudly if the delete does not land
        require(fs.delete(new org.apache.hadoop.fs.Path(dir, s"batch_id=$b"), true),
          s"eraseBatch: could not delete emptied partition batch_id=$b under $dir")
      }
    }
    rewriteDir(corpusDir)
    rewriteDir(indexDir)
  }

  /** Streaming erasure-request sink: each micro-batch of requested
    * doc_ids is applied to corpus + band index via [[eraseBatch]].
    */
  def runErasureSink(spark: SparkSession, requests: DataFrame,
      corpusDir: String, indexDir: String, checkpoint: String): Unit =
    EventStream.runBatches(requests, checkpoint)(
      eraseBatch(spark, _, _, corpusDir, indexDir))
}
