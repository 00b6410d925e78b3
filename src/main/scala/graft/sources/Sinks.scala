package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.spark.Materialize

/** Sink/catalog inventory (SURVEY.md §2.9, K1-K5).
  *
  * Reference: 1-level partitioned raw write (`b3_collector.py:179`),
  * 2-level refined write (`b3_transform.py:309-312`), Glue-catalog
  * create-or-update (`b3_collector.py:183-237`), MSCK partition recovery
  * (`b3_collector.py:241-250`).
  *
  * Scale notes: Hive-style `partitionBy` directories are what make
  * downstream partition pruning possible — the refined layout
  * `dataproc=…/ticker=…` means a per-ticker query reads one directory out
  * of thousands. [[writePartitioned]] owns that layout: it spreads the
  * rows by the partition columns ([[graft.spark.Materialize.spread]])
  * before writing, so each directory
  * gets one file, not `numShufflePartitions` shards, and the directories
  * are written in parallel by the shuffle width's tasks, not one after
  * another by a single task.
  */
object Sinks {

  /** K1/K2: partitioned overwrite of `path`, one directory level per
    * column of `partitionCols` (the raw `dataproc` layout, the refined
    * `dataproc`/`ticker` one). "parquet" and "orc" both ship in Spark
    * with full predicate-pushdown + column-pruning support (the spec pins
    * PushedFilters on the ORC read path); ORC matters for interop with
    * Hive-lineage warehouses that mandate it, parquet is the default
    * everywhere else. Text formats (csv/json) deliberately NOT accepted
    * here: they lose types and pushdown, and quarantine-reading them is
    * [[Ingest]]'s job.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      format: String = "parquet"): Unit = {
    require(Set("parquet", "orc").contains(format),
      s"writePartitioned: columnar formats only (parquet|orc), got '$format'")
    Materialize.spread(df, partitionCols.map(df.col): _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*)
      .format(format).save(path)
  }

  /** The batch jobs' publish step: [[writePartitioned]] `df` to `path`
    * as parquet, then, when `table` is given, register an external table
    * over it ([[createOrReplaceExternal]]) and recover its partitions
    * ([[recoverPartitions]]) — the reference's write → catalog → MSCK
    * sequence, with the partition columns named once.
    */
  def publishPartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      table: Option[String]): Unit = {
    writePartitioned(df, path, partitionCols)
    table.foreach { t =>
      createOrReplaceExternal(df.sparkSession, t, path, partitionCols)
      recoverPartitions(df.sparkSession, t)
    }
  }

  /** K3: catalog DDL — create-or-replace a partitioned external table over
    * a parquet path (the `saveAsTable`/`tableExists` mapping of the
    * boto3 create-or-update pattern).
    */
  def createOrReplaceExternal(spark: SparkSession, table: String, path: String,
      partitionCols: Seq[String]): Unit = {
    if (spark.catalog.tableExists(table)) spark.sql(s"DROP TABLE $table")
    // Spark 4 requires the explicit column list form when PARTITIONED BY is
    // present; derive it from the files (partition cols are inferred from
    // the hive-style directory names).
    val full = spark.read.parquet(path).schema
    val colsDdl = full.fields
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    val partClause =
      if (partitionCols.nonEmpty)
        partitionCols.map(c => s"`$c`").mkString(" PARTITIONED BY (", ", ", ")")
      else ""
    // the path is a SQL string literal: escape its backslashes and quotes
    val pathLit = path.replace("\\", "\\\\").replace("'", "\\'")
    spark.sql(
      s"CREATE TABLE $table ($colsDdl) USING parquet OPTIONS (path '$pathLit')$partClause")
  }

  /** Backtick-quote each part of a (possibly qualified) identifier. */
  private def quoteParts(ident: String): String = ident.split('.')
    .map(p => "`" + p.replace("`", "``") + "`").mkString(".")

  /** K4: partition discovery (MSCK analog). */
  def recoverPartitions(spark: SparkSession, table: String): Unit =
    spark.catalog.recoverPartitions(table)

  /** Catalog STATISTICS: `ANALYZE TABLE` row/size stats (optionally
    * per-column min/max/ndv histograms-free stats). Statistics are what
    * the optimizer's size estimates — broadcast-vs-shuffle selection,
    * join reordering under CBO — read for catalog tables; without them
    * Spark falls back to raw file size, which over-estimates compressed,
    * pruned scans. A 100 TB warehouse re-analyzes after large loads.
    */
  def analyzeTable(spark: SparkSession, table: String,
      columns: Seq[String] = Nil): Unit = {
    // backtick-quote every identifier part: unquoted interpolation breaks
    // (or injects) on names that need quoting (`my-db.my table`)
    spark.sql(s"ANALYZE TABLE ${quoteParts(table)} COMPUTE STATISTICS")
    if (columns.nonEmpty)
      spark.sql(s"ANALYZE TABLE ${quoteParts(table)} COMPUTE STATISTICS FOR COLUMNS ${columns.map(quoteParts).mkString(", ")}")
  }

  /** Small-file COMPACTION: rewrite a parquet directory into
    * ceil(bytes / targetFileBytes) files. Streaming sinks and
    * fine-grained partitioned writes accumulate tiny files whose
    * per-file open/footer cost eventually dominates scans (the classic
    * 100 TB operational chore); compaction is a scheduled rewrite with
    * file count derived from MEASURED input bytes, not a guessed
    * `coalesce(n)`. Returns (filesBefore, filesAfter). Local-filesystem
    * implementation (the directory swap uses posix renames); an object
    * store would commit the rewrite through a staging committer instead.
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val root = new java.io.File(path)
    require(root.isDirectory, s"compact: $path is not an existing directory")
    // A partitioned layout (key=value subdirectories) must be compacted
    // per LEAF directory: a whole-tree rewrite would silently flatten the
    // partition structure (and this flat listing would count 0 bytes).
    val subdirs = root.listFiles().filter(_.isDirectory)
      .filterNot(_.getName.startsWith("_"))
    require(subdirs.isEmpty,
      s"compact: $path has partition subdirectories " +
        s"(${subdirs.take(3).map(_.getName).mkString(", ")}…); " +
        "compact each leaf directory instead")
    def dataFiles() = new java.io.File(path).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val before = dataFiles()
    val totalBytes = before.map(_.length).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val tmp = path.stripSuffix("/") + "_compacting"
    spark.read.parquet(path).repartition(nOut)
      .write.mode("overwrite").parquet(tmp)
    // Two-rename swap (local FS; an object store would use a committer-
    // based rewrite instead). NOT atomic — readers see a brief gap — but
    // data-safe at every step: the original directory is only renamed
    // aside, never deleted, until the new data is in place, and a failed
    // swap rolls the original back.
    val dst = new java.io.File(path)
    val old = new java.io.File(path.stripSuffix("/") + "_pre_compaction")
    org.apache.commons.io.FileUtils.deleteDirectory(old)
    require(dst.renameTo(old), s"rename $path -> $old failed")
    if (!new java.io.File(tmp).renameTo(dst)) {
      require(old.renameTo(dst), s"swap AND rollback failed for $path")
      throw new IllegalStateException(s"rename $tmp -> $path failed; original restored")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(old)
    (before.length, dataFiles().length)
  }

  /** DATA-SKIPPING EFFECTIVENESS audit — zone-map (min/max) statistics
    * per "file" (the same per-(month, supplier) row groups
    * [[compactionPlan]] bins), scored against a representative
    * predicate: how many files can a `l_quantity > 45` scan skip
    * outright (`max_q <= 45`), how many rows the non-skipped files
    * force it to READ, and how many rows actually MATCH. The
    * scanned-vs-matching gap is scan amplification — the number that
    * justifies clustering/Z-order work (K2's range-clustered layout
    * exists to shrink it) and the exact mechanism behind parquet
    * row-group pruning at 100 TB. Metadata-scale throughout: one
    * aggregate to the file grain (with the per-file flag and counts
    * combined map-side), one rollup to months.
    */
  def skippingStats(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val files = lineitem
      .filter(col("l_shipdate").isNotNull && col("l_suppkey").isNotNull)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        col("l_suppkey").as("file_key"))
      .agg(count(lit(1)).as("rows"),
        max(col("l_quantity").cast("long")).as("max_q"),
        sum(when(col("l_quantity") > 45, 1L).otherwise(0L)).as("matching"))
    files.groupBy("month")
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("max_q") <= 45, 1L).otherwise(0L)).as("n_skipped"),
        sum(col("rows")).as("total_rows"),
        sum(when(col("max_q") > 45, col("rows")).otherwise(0L))
          .as("rows_scanned"),
        sum(col("matching")).as("rows_matching"))
      .orderBy("month")
  }

  /** COMPACTION PLANNING as a query — the bin assignment step of
    * OPTIMIZE/small-file compaction, run BEFORE any rewrite I/O: within
    * each partition (ship month), the per-writer row groups ("files",
    * here the per-supplier row counts a supplier-sharded ingest
    * produces) are laid out in a stable key order and cut into target
    * bins by exclusive-prefix-sum division — `cumsum_before div
    * capacity` — which is exactly how a sequential coalesce packs
    * row-runs into target-size output files. The plan is pure metadata:
    * one sort-window per partition over file STATISTICS (thousands of
    * rows per partition at 100 TB — never the data), then two keyed
    * aggregates. The summary per partition is what an OPTIMIZE
    * scheduler triages on: how many input files, how many output bins,
    * the worst bin's overshoot (a single file larger than the capacity
    * must exceed it — bins never split a file), and how many bins land
    * under half-capacity (the re-fragmentation signal).
    */
  def compactionPlan(lineitem: DataFrame, capacity: Long = 200L): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val files = lineitem
      .filter(col("l_shipdate").isNotNull && col("l_suppkey").isNotNull)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        col("l_suppkey").as("file_key"))
      .agg(count(lit(1)).as("rows"))
    val w = Window.partitionBy("month").orderBy("file_key")
      .rowsBetween(Window.unboundedPreceding, -1)
    val binned = files
      .withColumn("before", coalesce(sum(col("rows")).over(w), lit(0L)))
      .withColumn("bin", expr(s"before div $capacity"))
    val bins = binned.groupBy("month", "bin")
      .agg(count(lit(1)).as("n_files"), sum(col("rows")).as("bin_rows"))
    bins.groupBy("month")
      .agg(sum(col("n_files")).as("n_files"),
        sum(col("bin_rows")).as("total_rows"),
        count(lit(1)).as("n_bins"),
        max(col("bin_rows")).as("max_bin_rows"),
        sum(when(col("bin_rows") * 2 < capacity, 1L).otherwise(0L))
          .as("n_underfilled"))
      .orderBy("month")
  }

  /** BALANCED RANGE-PARTITION PLANNING from the value histogram — the
    * offline form of what `repartitionByRange` samples at runtime:
    * given per-day row counts, assign each day to partition
    * p = (cum − 1)·k div total (its last row's position in the global
    * order, floored into k equal quantile strips), and report each
    * partition's realized day range, row count, and fill factor
    * against the ideal total/k. The artifact a table-layout job stores
    * next to the written clustering — and the skew diagnosis BEFORE a
    * shuffle, not after it OOMs: a day bigger than total/k shows up as
    * fill_permille ≫ 1000 on its partition (atomic keys can't split —
    * that's the signal to widen the key or salt).
    *
    * Exactness: pure integer prefix sums and floor quotients. Scale
    * shape: the fact table collapses in one map-side-combining daily
    * count; the cumulative window runs over DISTINCT days (the same
    * metadata-scale contract as [[compactionPlan]]'s prefix-sum bins).
    */
  def rangePlanner(orders: DataFrame, parts: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    require(parts >= 1, s"rangePlanner: parts=$parts must be >= 1")
    val daily = orders
      .filter(col("o_orderdate").isNotNull)
      .groupBy(datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
        .cast("long").as("day"))
      .agg(count(lit(1)).as("c"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("cum", sum("c").over(w))
      .withColumn("total", sum("c").over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("part", expr(s"(cum - 1) * $parts div total"))
      .groupBy("part")
      .agg(min("day").as("day_lo"), max("day").as("day_hi"),
        sum("c").as("n_rows"), max("total").as("total"))
      .select(col("part"), col("day_lo"), col("day_hi"), col("n_rows"),
        expr(s"n_rows * $parts * 1000 div total").as("fill_permille"))
      .orderBy("part")
  }
}
