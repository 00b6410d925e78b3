package graft.jobs

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.B3Pipeline
import graft.sources.{Ingest, Sinks}

/** The reference's two job entry points, re-expressed as library mains
  * (its control plane — EventBridge/Lambda/Glue — is out of engine scope,
  * SURVEY.md §7 non-goals; these are the data-plane jobs a scheduler
  * invokes).
  */
object CollectorJob {

  /** E1: fetch per item (isolated) → normalize → stamp → 1-level
    * partitioned raw write → catalog + partition recovery
    * (`/root/reference/src/glue/b3_collector.py:114-253`).
    * Returns the ingested row count (the reference logs it; we return it).
    */
  def run(spark: SparkSession, items: Seq[String], fetch: String => Seq[Row],
      rawPath: String, table: Option[String] = None): Long = {
    val df = Ingest.ingest(spark, items, fetch)
    Sinks.writePartitioned(df, rawPath, Seq("dataproc"))
    table.foreach { t =>
      Sinks.createOrReplaceExternal(spark, t, rawPath, Seq("dataproc"))
      Sinks.recoverPartitions(spark, t)
    }
    spark.read.parquet(rawPath).count()
  }
}

object TransformJob {

  /** E3: scan raw → flagship transform → 2-level partitioned refined
    * write → catalog + partition recovery → summary/stats marts
    * (`/root/reference/src/glue/b3_transform.py:202-383`). The reference's
    * 7 eager count()/show() re-executions are NOT replicated (they recompute
    * the uncached lineage; SURVEY.md §3.E3 anti-pattern note).
    *
    * `events`-shaped input (FIXTURES.md role mapping). Returns the refined
    * frame count after write (single deliberate action).
    */
  def run(spark: SparkSession, rawEventsPath: String, refinedPath: String,
      table: Option[String] = None): Long = {
    val raw = spark.read.parquet(rawEventsPath)
    val refined = B3Pipeline.withVariations(B3Pipeline.prepare(raw))
      .withColumn("dataproc", date_format(col("date"), "yyyyMMdd"))
    // partition by processing-date + series key, mirroring the reference's
    // refined/dataproc=YYYYMMDD/ticker=X layout (b3_transform.py:315)
    Sinks.writePartitioned(
      refined.select("event_id", "date", "year", "month", "preco_fechamento",
        "volume_negociado", "preco_7d_atras", "preco_30d_atras",
        "variacao_7d", "variacao_30d", "dataproc", "user_id"),
      refinedPath, Seq("dataproc", "user_id"))
    table.foreach { t =>
      Sinks.createOrReplaceExternal(spark, t, refinedPath, Seq("dataproc", "user_id"))
      Sinks.recoverPartitions(spark, t)
    }
    spark.read.parquet(refinedPath).count()
  }

  /** E4: the reference's documented Athena consumption SQL
    * (`/root/reference/src/glue/b3_transform.py:367-380`, Req. 8 at
    * `README.md:17`) answered by OUR SQL front door over the registered
    * refined table — `user_id` standing in for ticker per the fixture
    * role mapping.
    */
  def athenaStyleSummary(spark: SparkSession, refinedTable: String): DataFrame =
    spark.sql(
      s"""SELECT user_id, year, month,
         |       COUNT(*) AS total_registros,
         |       SUM(volume_negociado) AS volume_total,
         |       ROUND(AVG(preco_fechamento), 2) AS media_preco
         |FROM $refinedTable
         |GROUP BY user_id, year, month
         |ORDER BY user_id, year, month""".stripMargin)

  /** The post-write marts (A1/A2 consumption surface) over the refined
    * layer — what Athena reads in the reference (Req. 8).
    */
  def summaryMart(spark: SparkSession, refinedPath: String): DataFrame =
    B3Pipeline.summary(
      spark.read.parquet(refinedPath)
        // hive-style partition columns come back type-inferred from the
        // directory strings (user_id=3 → int) — restore the source type
        .withColumn("user_id", col("user_id").cast("long"))
        .withColumn("variacao_7d_q", round(col("variacao_7d") * 100).cast("long"))
        .withColumn("variacao_30d_q", round(col("variacao_30d") * 100).cast("long")))
}

/** CORPUS-PREP job: raw document corpus → curated training shards on
  * disk — the end-to-end run a training-data team schedules, composed
  * from the pipeline tier's individually-proven stages: content-addressed
  * sample → quality/language gate → exact dedup → near-dup cluster
  * representatives → (optional) benchmark decontamination → deterministic
  * train/val/test split → shards partitioned by (split, lang) → manifest.
  *
  * The split on DISK uses the same [[graft.operators.TextOps.splitColumn]]
  * rule the d11 contract query certifies, so "the shards follow the
  * split" is an oracle-checked property, not a convention.
  */
object CorpusPrepJob {

  /** @param sampleSixteenths corpus subsample rate in 16ths; the default
    *        16 curates the WHOLE corpus. A lower rate must be chosen with
    *        the split rule in mind: both draw from the same doc_id nibble,
    *        so e.g. 12 would keep exactly the nibbles splitColumn labels
    *        "train" and leave val/test empty.
    *  @return the manifest: per (split, lang) shard — doc count, token
    *         count — AFTER the write, read back from the shards themselves
    *         (the manifest must describe what consumers will read, not
    *         what the writer intended).
    */
  def run(spark: SparkSession, documentsPath: String, shardsPath: String,
      table: Option[String] = None,
      evalSet: Option[DataFrame] = None,
      sampleSixteenths: Int = 16): DataFrame = {
    import graft.operators.{TextOps, TrainingPipeline}
    val docs = spark.read.parquet(documentsPath)
    val shards = TrainingPipeline.curatedSurvivors(docs,
        sampleSixteenths = sampleSixteenths, evalSet = evalSet)
      .withColumn("split", TextOps.splitColumn())
    Sinks.writePartitioned(
      shards.select("doc_id", "text", "lang", "nt", "split"),
      shardsPath, Seq("split", "lang"))
    table.foreach { t =>
      Sinks.createOrReplaceExternal(spark, t, shardsPath, Seq("split", "lang"))
      Sinks.recoverPartitions(spark, t)
    }
    spark.read.parquet(shardsPath)
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
      .orderBy("split", "lang")
  }
}

/** Table MAINTENANCE job: the recurring housekeeping pass a long-lived
  * 100 TB lake needs between transform runs, composed from the engine's
  * own pieces — compact small files (streaming/micro-batch writers leave
  * thousands), refresh catalog statistics for the CBO, profile the data,
  * and GATE publication on the expectation report. A gate failure throws
  * BEFORE any consumer-visible mutation; compaction and stats are
  * consumer-transparent and run first.
  */
object MaintenanceJob {

  /** @param rules   named expectation predicates; any violation count
    *                above `maxViolations` aborts with the offending rules
    * @return (filesBefore, filesAfter, profile rows) on success
    */
  def run(spark: SparkSession, path: String,
      profileCols: Seq[String],
      rules: Seq[(String, org.apache.spark.sql.Column)],
      table: Option[String] = None,
      maxViolations: Long = 0L): (Int, Int, Array[Row]) = {
    val (before, after) = Sinks.compact(spark, path)
    table.foreach { t =>
      // compaction rewrote files under the table's location — refresh the
      // catalog's file listing AND its CBO statistics in one maintenance
      // pass (stale cached listings would read deleted files)
      spark.catalog.refreshTable(t)
      Sinks.analyzeTable(spark, t)
    }
    val df = spark.read.parquet(path)
    val gate = graft.operators.Quality.expectations(df, rules)
      .filter(col("n_violations") > maxViolations)
      .collect()
    require(gate.isEmpty,
      s"maintenance gate failed: ${gate.map(r => s"${r.getString(0)}=${r.getLong(2)}").mkString(", ")}")
    (before, after, graft.operators.Quality.profile(df, profileCols).collect())
  }
}
