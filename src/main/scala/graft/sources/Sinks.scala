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
  * of thousands. [[writePartitioned]] and [[saveAsManagedTable]] own that
  * layout: they spread the rows by the partition columns
  * ([[graft.spark.Materialize.spread]]) before writing, so each directory
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
    laidOut(df, partitionCols).format(format).save(path)
  }

  /** The overwrite writer of `df` spread and partitioned by `partitionCols`. */
  private def laidOut(df: DataFrame, partitionCols: Seq[String]) =
    Materialize.spread(df, partitionCols.map(df.col): _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*)

  /** Read counterpart of [[writePartitioned]] (partition discovery included). */
  def readColumnar(spark: SparkSession, path: String,
      format: String = "parquet"): DataFrame = {
    require(Set("parquet", "orc").contains(format),
      s"readColumnar: columnar formats only (parquet|orc), got '$format'")
    spark.read.format(format).load(path)
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

  /** K3 update-in-place: evolve a LIVE external table's schema to the
    * files' current schema — the reference's get-then-create-**or-update**
    * probe (`b3_collector.py:224-237`, the `update_table` branch), which
    * [[createOrReplaceExternal]]'s drop/recreate does not express: on a
    * warehouse table, dropping loses grants/stats/partition metadata and
    * races readers, while ADD COLUMNS is a metadata-only edit.
    *
    *  - columns present in the files but not the table are APPENDED
    *    (ALTER TABLE ADD COLUMNS; rows in pre-evolution files read as
    *    null for them — standard parquet missing-column semantics);
    *  - a same-name column with a DIFFERENT type is rejected loudly
    *    (silent type evolution corrupts downstream casts);
    *  - partitions are untouched: ADD COLUMNS is metadata-only, so
    *    registered partitions and their data stay live throughout.
    *
    * Returns the added column names (empty = schema already current).
    */
  def alterExternalAddColumns(spark: SparkSession, table: String,
      path: String): Seq[String] = {
    val current = spark.table(table).schema
    // mergeSchema: the new column may exist only in the newest files
    val incoming = spark.read.option("mergeSchema", "true").parquet(path).schema
    val curByName = current.fields.map(f => f.name.toLowerCase -> f).toMap
    incoming.fields.foreach { f =>
      curByName.get(f.name.toLowerCase).foreach { c =>
        require(c.dataType == f.dataType,
          s"incompatible evolution for column '${f.name}': " +
            s"${c.dataType.sql} -> ${f.dataType.sql}")
      }
    }
    val added = incoming.fields
      .filterNot(f => curByName.contains(f.name.toLowerCase)).toSeq
    if (added.nonEmpty) {
      val ddl = added.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(s"ALTER TABLE ${quoteParts(table)} ADD COLUMNS ($ddl)")
    }
    added.map(_.name)
  }

  /** The reference's full catalog probe: create the external table if
    * absent, otherwise evolve it in place (`b3_collector.py:183-237`).
    */
  def createOrEvolveExternal(spark: SparkSession, table: String, path: String,
      partitionCols: Seq[String]): Seq[String] =
    if (!spark.catalog.tableExists(table)) {
      createOrReplaceExternal(spark, table, path, partitionCols)
      Seq.empty
    } else alterExternalAddColumns(spark, table, path)

  /** Backtick-quote each part of a (possibly qualified) identifier. */
  private def quoteParts(ident: String): String = ident.split('.')
    .map(p => "`" + p.replace("`", "``") + "`").mkString(".")

  /** K4: partition discovery (MSCK analog). */
  def recoverPartitions(spark: SparkSession, table: String): Unit =
    spark.catalog.recoverPartitions(table)

  /** K3 managed variant: `saveAsTable` with partitioning. */
  def saveAsManagedTable(df: DataFrame, table: String, partitionCols: Seq[String]): Unit =
    laidOut(df, partitionCols).format("parquet").saveAsTable(table)

  /** Bucketed managed table: pre-shuffles data into `numBuckets` by the
    * join key at WRITE time, so repeated joins/aggregations on that key
    * skip their exchange entirely (SortMergeJoin over co-located buckets).
    * The 100 TB pattern for fact-fact joins that recur: pay the shuffle
    * once at ingest, never again at query time.
    */
  def saveBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** K5: schema diagnostics (`printSchema`/`schema`/`columns`). */
  def describe(df: DataFrame): (String, Seq[String]) =
    (df.schema.treeString, df.columns.toIndexedSeq)

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
        "use compactPartitioned to rewrite each leaf")
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

  /** Partition-aware compaction: walk a Hive-style partitioned tree and
    * [[compact]] each LEAF directory in place. Rewriting per leaf keeps the
    * `k=v` directory structure (and thus partition pruning) intact — the
    * whole-tree alternative would flatten it. Returns summed
    * (filesBefore, filesAfter) over all leaves.
    */
  def compactPartitioned(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val root = new java.io.File(path)
    require(root.isDirectory, s"compactPartitioned: $path is not an existing directory")
    def leaves(dir: java.io.File): Seq[java.io.File] = {
      val kids = dir.listFiles().filter(_.isDirectory)
        .filterNot(_.getName.startsWith("_"))
      if (kids.isEmpty) Seq(dir) else kids.toSeq.flatMap(leaves)
    }
    leaves(root).map(l => compact(spark, l.getPath, targetFileBytes))
      .foldLeft((0, 0)) { case ((b, a), (lb, la)) => (b + lb, a + la) }
  }

  /** RETENTION sweep: drop whole Hive-style partitions whose value sorts
    * below `keepFrom` — the TTL/compliance expiry a partitioned warehouse
    * runs nightly (e.g. `dataproc < 20240101`). Deleting at the DIRECTORY
    * level is the point: expiry costs O(expired partitions) file-system
    * operations and zero data rewrite, which is why retention-partitioned
    * layouts (K1/K2) exist in the first place — row-level deletes would
    * rewrite the table. Returns the audit list of (partitionValue,
    * filesRemoved) actually dropped; values compare as zero-padded
    * strings, the standard yyyyMMdd convention of the `dataproc` column.
    */
  def retentionSweep(path: String, partitionCol: String,
      keepFrom: String): Seq[(String, Int)] = {
    // Hadoop FileSystem, not java.io.File: the sweep must work wherever
    // the warehouse lives (HDFS, S3A, local), and listStatus raises
    // IOException on I/O error instead of java.io's silent null. The
    // conf must be the SESSION's hadoop conf — spark.hadoop.* settings
    // (S3A credentials, fs.defaultFS) never reach a bare Configuration()
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val root = new HPath(path)
    val conf = SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = root.getFileSystem(conf)
    require(fs.getFileStatus(root).isDirectory,
      s"retentionSweep: $path is not an existing directory")
    val prefix = partitionCol + "="
    // recursive: K2 layouts nest sub-partition directories under the
    // expired partition; a flat count would miss them silently
    def dataFileCount(p: HPath): Int = fs.listStatus(p).map { st =>
      if (st.isDirectory) dataFileCount(st.getPath)
      else if (st.getPath.getName.startsWith("_") ||
        st.getPath.getName.startsWith(".")) 0
      else 1 // hidden _SUCCESS/.crc bookkeeping is not data
    }.sum
    val expired = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .filter(_.getPath.getName.stripPrefix(prefix) < keepFrom)
      .sortBy(_.getPath.getName)
    expired.map { st =>
      val nData = dataFileCount(st.getPath)
      // an audit that claims expiry while bytes remain readable is a
      // compliance incident, not a warning - fail the sweep loudly
      require(fs.delete(st.getPath, true),
        s"retentionSweep: could not delete ${st.getPath}")
      (st.getPath.getName.stripPrefix(prefix), nData)
    }
  }

  /** Range-CLUSTERED write: range-repartition + sort within partitions by
    * the clustering columns before writing, so every parquet file covers
    * a narrow, non-overlapping slice of the clustering key. Row-group
    * min/max statistics then let any engine skip files/row-groups whose
    * range can't match a predicate — data skipping for HIGH-cardinality
    * columns where Hive-style `partitionBy` directories would explode
    * into millions of tiny partitions.
    */
  def writeRangeClustered(df: DataFrame, path: String, numFiles: Int,
      clusterCols: String*): Unit = {
    val cols = clusterCols.map(df.col)
    df.repartitionByRange(numFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Z-ORDER clustered write: interleave the bits of two rank-normalized
    * columns into one Morton code, then range-cluster on that code.
    * [[writeRangeClustered]] concentrates ALL its skipping power on the
    * leading column — a predicate on the second column alone still reads
    * every file. The Morton code alternates bits of both columns, so each
    * written file covers a narrow range of BOTH: predicates on either
    * column (or both) skip files via parquet min/max stats.
    *
    * Scale notes: the only driver-side action is a 4-value min/max agg
    * (metadata-scale); everything else is codegen'd column arithmetic plus
    * the same range-repartition + local sort as the 1-D variant. Min/max
    * linearization assumes a roughly uniform value distribution — for
    * heavy skew, substitute quantile boundaries (approx_quantile over a
    * sample) for the linear map; the bit-interleave is unchanged.
    */
  def writeZOrdered(df: DataFrame, path: String, numFiles: Int,
      colA: String, colB: String): Unit = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    val b = df.agg(
      min(col(colA).cast("double")), max(col(colA).cast("double")),
      min(col(colB).cast("double")), max(col(colB).cast("double"))).head()
    if (b.isNullAt(0) || b.isNullAt(2)) {
      // empty input (or an all-null cluster column): no bounds to
      // linearize — write the empty dataset like writeRangeClustered does
      df.write.mode("overwrite").parquet(path)
      return
    }
    // scale to 16-bit [0, 65535]; clamp guards FP edge rounding at max
    def norm(c: String, lo: Double, hi: Double): Column = {
      val span = if (hi > lo) hi - lo else 1.0
      least(greatest(
        (((col(c).cast("double") - lo) / span) * 65535.0).cast("long"),
        lit(0L)), lit(65535L))
    }
    // classic bit-spread: insert a zero between every bit of a 16-bit value
    def spread16(c: Column): Column = {
      val s1 = (c bitwiseOR shiftleft(c, 8)) bitwiseAND lit(0x00FF00FFL)
      val s2 = (s1 bitwiseOR shiftleft(s1, 4)) bitwiseAND lit(0x0F0F0F0FL)
      val s3 = (s2 bitwiseOR shiftleft(s2, 2)) bitwiseAND lit(0x33333333L)
      (s3 bitwiseOR shiftleft(s3, 1)) bitwiseAND lit(0x55555555L)
    }
    val z = spread16(norm(colA, b.getDouble(0), b.getDouble(1))) bitwiseOR
      shiftleft(spread16(norm(colB, b.getDouble(2), b.getDouble(3))), 1)
    df.withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z") // projection after the local sort; file order is kept
      .write.mode("overwrite").parquet(path)
  }

  /** SHARDED JSONL CORPUS EXPORT + MANIFEST — the delivery format a
    * training run actually consumes: `shards` range-partitioned
    * `.jsonl` files, key-clustered so a shard is a contiguous doc_id
    * range (resumable, splittable by shard), plus a manifest DataFrame
    * the publisher persists next to the data: per shard the row count,
    * byte size, and an ORDER-INDEPENDENT content checksum (bit-XOR of
    * per-line xxhash64 — file order and layout don't matter, one
    * flipped byte does). The manifest is rebuilt FROM THE WRITTEN
    * FILES, not from the in-memory frame: it attests what landed on
    * disk, which is the thing a consumer can re-verify.
    *
    * Determinism: Spark writes JSON fields in schema order, and
    * `repartitionByRange` samples with a fixed seed — two exports of
    * the same data produce the same shard membership and checksums
    * (asserted in the spec). Scale shape: one range shuffle to cluster,
    * one scan of the written text for the manifest; both ∝ corpus.
    */
  def exportJsonlShards(documents: DataFrame, path: String,
      shards: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = documents.sparkSession
    documents
      .repartitionByRange(shards, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").json(path)
    spark.read.text(path)
      .select(regexp_extract(input_file_name(), "part-(\\d+)", 1)
        .cast("int").as("shard"),
        col("value"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        // +1 per line for the newline the file carries
        sum(length(col("value")) + 1).as("bytes"),
        expr("bit_xor(xxhash64(value))").as("checksum"))
      .orderBy("shard")
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
