package graft

import org.apache.spark.sql.functions._
import graft.streaming.CorpusStream

/** Streaming corpus ingestion with a fuzzy-dedup gate: within-batch
  * exact + near dedup, cross-batch dedup via the persisted band index,
  * and replay idempotency of the derived outputs.
  */
class CorpusStreamSpec extends SparkTestBase {
  import spark.implicits._

  // 60 distinct tokens; the near-dup changes only the last token ->
  // 3-gram Jaccard = 56/60 ~ 0.933 >= the 0.9 gate
  private val baseText = (1 to 60).map(i => s"w$i").mkString(" ")
  private val nearText = (1 to 59).map(i => s"w$i").mkString(" ") + " CHANGED"
  private val novelText = (1 to 40).map(i => s"x$i").mkString(" ")

  test("ingest sink admits only novel docs across batches and replays to a fixpoint") {
    val rawDir = tmpDir("corpus-raw")
    val corpusDir = tmpDir("corpus-store")
    val indexDir = tmpDir("corpus-index")
    val ckpt = tmpDir("corpus-ckpt")
    def run(): Unit = CorpusStream.runDedupIngestSink(spark,
      spark.readStream.schema("doc_id LONG, text STRING").parquet(rawDir),
      corpusDir, indexDir, ckpt)

    // batch 1: two distinct docs
    Seq((1L, baseText), (2L, "completely different short doc"))
      .toDF("doc_id", "text").write.mode("append").parquet(rawDir)
    run()
    assert(spark.read.parquet(corpusDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))

    // batch 2: a near-dup of doc 1, a novel doc, and an in-batch exact
    // dup pair (5, 6 share 4's text -> min-id rep 4 survives)
    Seq((3L, nearText), (4L, novelText), (5L, novelText), (6L, novelText))
      .toDF("doc_id", "text").write.mode("append").parquet(rawDir)
    run()
    val afterB2 = spark.read.parquet(corpusDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("batch_id")).toMap
    assert(afterB2.keySet === Set(1L, 2L, 4L),
      s"near-dup 3 and exact dups 5,6 must be gated: $afterB2")
    assert(afterB2(4L) === 1L, "batch-2 survivor must carry batch_id 1")

    // the index mirrors the corpus docs
    assert(spark.read.parquet(indexDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 4L))

    // at-least-once REPLAY of batch 2 (same batchId, same data) must
    // reproduce identical state: the history read excludes batch_id=1,
    // so the batch never matches its own previous attempt
    CorpusStream.dedupIngestBatch(spark,
      Seq((3L, nearText), (4L, novelText), (5L, novelText), (6L, novelText))
        .toDF("doc_id", "text"), 1L, corpusDir, indexDir)
    val replayed = spark.read.parquet(corpusDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("batch_id")).toMap
    assert(replayed === afterB2, "replay must be a fixpoint")
  }

  test("in-batch near-dup chains keep exactly the cluster-min representative") {
    // a ~ b and b ~ c but a !~ c (transitivity failure): component {a,b,c}
    // must keep only its min id — a greedy drop-doc_b rule would also
    // delete c after its only near-dup b is gone
    val b = (1 to 60).map(i => s"w$i").mkString(" ")
    val a = (1 to 59).map(i => s"w$i").mkString(" ") + " TAIL"
    val c = "HEAD " + (2 to 60).map(i => s"w$i").mkString(" ")
    val corpusDir = tmpDir("chain-store")
    val indexDir = tmpDir("chain-index")
    CorpusStream.dedupIngestBatch(spark,
      Seq((10L, a), (11L, b), (12L, c)).toDF("doc_id", "text"),
      0L, corpusDir, indexDir)
    assert(spark.read.parquet(corpusDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(10L))
  }

  test("a zero-survivor first batch does not wedge the next batch") {
    val corpusDir = tmpDir("empty-store")
    val indexDir = tmpDir("empty-index")
    // batch 0 carries no rows: only _SUCCESS markers land on disk
    CorpusStream.dedupIngestBatch(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      0L, corpusDir, indexDir)
    // batch 1 must read "no prior state", not a parquet schema error
    CorpusStream.dedupIngestBatch(spark,
      Seq((1L, novelText)).toDF("doc_id", "text"),
      1L, corpusDir, indexDir)
    assert(spark.read.parquet(corpusDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L))
  }

  test("streaming erasure rewrites only affected partitions, deletes emptied ones, replays idempotently") {
    val corpusDir = tmpDir("erase-store")
    val indexDir = tmpDir("erase-index")
    // three ingested batches: 0 holds {1,2}, 1 holds {4}, 2 holds {7,8}
    CorpusStream.dedupIngestBatch(spark,
      Seq((1L, baseText), (2L, "completely different short doc"))
        .toDF("doc_id", "text"), 0L, corpusDir, indexDir)
    CorpusStream.dedupIngestBatch(spark,
      Seq((4L, novelText)).toDF("doc_id", "text"), 1L, corpusDir, indexDir)
    CorpusStream.dedupIngestBatch(spark,
      Seq((7L, (1 to 40).map(i => s"y$i").mkString(" ")),
        (8L, (1 to 40).map(i => s"z$i").mkString(" ")))
        .toDF("doc_id", "text"), 2L, corpusDir, indexDir)
    val untouchedBefore = spark.read.parquet(corpusDir)
      .filter(col("batch_id") === 2).collect().map(_.toString).toSet

    // erase doc 1 (partition 0 keeps doc 2) and doc 4 (partition 1 empties)
    CorpusStream.eraseBatch(spark, Seq(1L, 4L).toDF("doc_id"), 0L,
      corpusDir, indexDir)
    val corpus = spark.read.parquet(corpusDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.get(r.fieldIndex("batch_id")).toString.toLong).toMap
    assert(corpus.keySet === Set(2L, 7L, 8L), s"erased ids must be gone: $corpus")
    // the emptied partition directory itself must be gone, not just empty
    assert(!new java.io.File(corpusDir, "batch_id=1").exists(),
      "fully-erased partition must be deleted, not left as stale bytes")
    // the band index no longer holds any erased doc's rows
    assert(spark.read.parquet(indexDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(2L, 7L, 8L))
    // untouched partition content is unchanged
    val untouchedAfter = spark.read.parquet(corpusDir)
      .filter(col("batch_id") === 2).collect().map(_.toString).toSet
    assert(untouchedAfter === untouchedBefore)

    // at-least-once replay: same requests again affect nothing
    CorpusStream.eraseBatch(spark, Seq(1L, 4L).toDF("doc_id"), 0L,
      corpusDir, indexDir)
    val replayed = spark.read.parquet(corpusDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(replayed === Set(2L, 7L, 8L), "erasure replay must be a no-op")
  }

  test("the erasure sink streams requests after the ingest sink, deletes emptied partitions") {
    val rawDir = tmpDir("erase-stream-raw")
    val requestDir = tmpDir("erase-stream-requests")
    val corpusDir = tmpDir("erase-stream-store")
    val indexDir = tmpDir("erase-stream-index")
    val ingestCkpt = tmpDir("erase-stream-ingest-ckpt")
    val eraseCkpt = tmpDir("erase-stream-erase-ckpt")
    def ingest(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").write.mode("append").parquet(rawDir)
      CorpusStream.runDedupIngestSink(spark,
        spark.readStream.schema("doc_id LONG, text STRING").parquet(rawDir),
        corpusDir, indexDir, ingestCkpt)
    }
    def erase(ids: Seq[Long]): Unit = {
      ids.toDF("doc_id").write.mode("append").parquet(requestDir)
      CorpusStream.runErasureSink(spark,
        spark.readStream.schema("doc_id LONG").parquet(requestDir),
        corpusDir, indexDir, eraseCkpt)
    }
    def corpusIds() = spark.read.parquet(corpusDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // three ingested batches: 0 holds {1,2}, 1 holds {4}, 2 holds {7,8}
    ingest(Seq((1L, baseText), (2L, "completely different short doc")))
    ingest(Seq((4L, novelText)))
    ingest(Seq((7L, (1 to 40).map(i => s"y$i").mkString(" ")),
      (8L, (1 to 40).map(i => s"z$i").mkString(" "))))
    assert(corpusIds() === Set(1L, 2L, 4L, 7L, 8L))
    assert(new java.io.File(corpusDir, "batch_id=1").exists())
    val untouchedBefore = spark.read.parquet(corpusDir)
      .filter(col("batch_id") === 2).collect().map(_.toString).toSet

    // erase doc 1 (partition 0 keeps doc 2) and doc 4 (partition 1 empties)
    erase(Seq(1L, 4L))
    assert(corpusIds() === Set(2L, 7L, 8L))
    assert(!new java.io.File(corpusDir, "batch_id=1").exists(),
      "fully-erased partition must be deleted, not left as stale bytes")
    assert(spark.read.parquet(indexDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet === Set(2L, 7L, 8L))
    assert(spark.read.parquet(corpusDir).filter(col("batch_id") === 2)
      .collect().map(_.toString).toSet === untouchedBefore)

    // a later request batch that repeats erased ids changes nothing
    erase(Seq(1L, 4L))
    assert(corpusIds() === Set(2L, 7L, 8L), "erasure replay must be a no-op")
  }
}
