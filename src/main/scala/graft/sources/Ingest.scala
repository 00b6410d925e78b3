package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Try

/** Batch-source ingestion analog of the reference collector (E1):
  * per-item fetch with error isolation → union → normalize → stamp →
  * partitioned write (`/root/reference/src/glue/b3_collector.py:34-107,167,179`).
  *
  * The reference fetches on the driver (its scalability cliff — noted in
  * SURVEY.md §3.E1); so does this one, which keeps the reference's S2
  * error-isolation shape.
  */
object Ingest {

  /** Raw OHLCV-shaped record (the reference's yfinance row). */
  val rawSchema: StructType = StructType(Seq(
    StructField("date", TimestampType),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("volume", LongType),
    StructField("dividends", DoubleType),
    StructField("stock splits", DoubleType), // pre-normalization name (spaces)
    StructField("ticker", StringType)))

  /** S2: per-item loop with error isolation — failed fetches are skipped,
    * not fatal (`b3_collector.py:56-68`).
    */
  def fetchAll(items: Seq[String], fetch: String => Seq[Row]): Seq[Row] =
    items.flatMap(t => Try(fetch(t)).toOption.getOrElse(Seq.empty))

  /** S4: rows→DataFrame with EXPLICIT schema (the reference relies on
    * pandas inference at `b3_collector.py:167`; explicit `StructType` is
    * the robust form).
    */
  def toDataFrame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), rawSchema)

  /** P2: bulk normalize — lowercase, spaces→hyphens (produces the
    * reference's hyphenated `stock-splits`, `b3_collector.py:78`).
    */
  def normalizeColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase.replace(" ", "-")).toIndexedSeq: _*)

  /** P3: guarded fallback rename of a date-like column to `date`
    * (`b3_collector.py:88-95`). The single shared implementation —
    * `ColumnOps.guardedRename` delegates here with its own candidate list.
    */
  def ensureDateColumn(df: DataFrame,
      candidates: Seq[String] = Seq("index", "datetime", "timestamp")): DataFrame =
    if (df.columns.contains("date")) df
    else candidates.find(df.columns.contains) match {
      case Some(c) => df.withColumnRenamed(c, "date")
      case None    => df
    }

  /** P4: processing-date stamp (`b3_collector.py:106-107`). */
  def withDataproc(df: DataFrame): DataFrame =
    df.withColumn("dataproc", date_format(current_timestamp(), "yyyyMMdd"))

  /** Full E1 ingest: fetch (isolated) → explicit-schema DataFrame →
    * normalize → ensure date → stamp.
    */
  def ingest(spark: SparkSession, items: Seq[String],
      fetch: String => Seq[Row]): DataFrame =
    withDataproc(ensureDateColumn(normalizeColumns(
      toDataFrame(spark, fetchAll(items, fetch)))))
}
