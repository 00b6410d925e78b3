package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table access layer.
  *
  * All queries in [[SparkEntry.queries]] receive an `sfDir` (e.g.
  * `/root/testdata/sf0.01`) and read the driver-generated parquet tables
  * through these helpers, so scan options live in exactly one place.
  *
  * Scale note: at 100 TB these reads become multi-file partitioned scans;
  * everything downstream is written so Catalyst can push filters and prune
  * columns into the scan (verified via `.explain` in the test suite).
  */
object Tables {
  /** Inferred parquet schema per file path, memoized for the life of the
    * JVM (r11 optimization-round measurement: every `spark.read.parquet`
    * call re-runs footer schema inference — a driver-side listing + footer
    * read that costs 50-300 ms per table reference, ×329 queries ×1-4
    * tables each in a bench run). The cache holds METADATA ONLY (a
    * StructType derived from the parquet footer, no rows, no results), is
    * scoped to the process, and is keyed by absolute path, so every
    * bench/verify invocation still computes everything from the parquet
    * inputs; a driver-regenerated fixture with a different physical type
    * lands in a fresh JVM and re-infers. Type-adaptive loaders (`events`)
    * branch on the cached type exactly as they branched on the inferred
    * one.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Parquet row-group count per path (footer metadata, memoized like
    * [[schemaCache]]) — the unit of scan parallelism: byte-range splits
    * cannot subdivide a row group, so a single-row-group file runs every
    * downstream per-row expression of its stage in ONE task regardless
    * of `maxPartitionBytes`/`minPartitionNum`.
    */
  private val rowGroupCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def rowGroups(spark: SparkSession, path: String): Int =
    rowGroupCache.computeIfAbsent(path,
      new java.util.function.Function[String, Integer] {
        override def apply(p: String): Integer = {
          val hp = new org.apache.hadoop.fs.Path(p)
          val conf = spark.sparkContext.hadoopConfiguration
          val fs = hp.getFileSystem(conf)
          val st = fs.getFileStatus(hp)
          val files =
            if (st.isDirectory)
              fs.listStatus(hp).toSeq
                .filter(_.getPath.getName.endsWith(".parquet"))
            else Seq(st)
          files.map { f =>
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
            try r.getRowGroups.size finally r.close()
          }.sum
        }
      }).intValue

  /** LAYOUT-ADAPTIVE corpus spread (r11 optimization round): when the
    * documents table collapses to ≤ 2 row groups — i.e. the scan stage is
    * effectively single-task — spread it round-robin over the shuffle
    * width ([[graft.spark.Materialize.spread]]) before returning it,
    * because every consumer of this table
    * runs expensive per-row work (tokenize, shingle, MinHash/SimHash,
    * container synthesis) INSIDE the scan stage, and a one-row-group file
    * serializes all of it into one core (measured at sf0.1: d22's
    * signature pass, d14's tokenize legs, m4's synth+parse all 1-task).
    * The condition is read from the parquet footer: a production-scale
    * table has thousands of row groups and never triggers, so no query
    * pays a gratuitous full-corpus shuffle at scale — this compensates
    * for row-group granularity defeating `spark.sql.files.minPartitionNum`
    * on tiny single-file fixtures, nothing more. Filters and pruning push
    * through a round-robin Repartition, so PushedFilters/ReadSchema at
    * the scan are unchanged (spec-pinned).
    */
  private def spreadIfSingleSplit(spark: SparkSession, df: DataFrame,
      path: String): DataFrame =
    if (rowGroups(spark, path) <= 2) graft.spark.Materialize.spread(df)
    else df

  /** `events.ts` has shipped as two different parquet logical types across
    * fixture generations — TIMESTAMP(NANOS) originally, TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) since the round-7 regeneration — so the loader
    * branches on the type Spark actually infers rather than trusting a
    * documented contract:
    *
    *  - `LongType`: the nanos fixture read under the `nanosAsLong` legacy
    *    conf (Spark 4 refuses native NANOS reads with PARQUET_TYPE_ILLEGAL).
    *    Floor-convert with integer division — `ts div 1000`, NOT `/ 1000.0`:
    *    epoch-nanos ≈ 1.7e18 exceeds double's 2^53 integer range, so float
    *    division would corrupt timestamps. DuckDB's CAST floors the same way.
    *  - `TimestampNTZType`: the µs fixture (isAdjustedToUTC=false). The
    *    session runs in UTC, so reinterpreting the wall-clock value as an
    *    instant via `cast(TimestampType)` is value-preserving and matches
    *    the DuckDB oracle's `CAST(ts AS TIMESTAMP)`.
    *  - `TimestampType`: already an instant — pass through.
    *
    * Any other type fails loudly with the actual loaded type in the message,
    * so the next fixture drift is a one-line diagnosis instead of a cascade
    * of downstream analysis errors.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts loaded as unexpected type $other from $dir/events.parquet; " +
            "expected LongType (nanos fixture under nanosAsLong), TimestampNTZType " +
            "(micros isAdjustedToUTC=false fixture), or TimestampType")
    }
  }

  /** Expected column names per fixture table. Names only — the exact Spark
    * type of a column may legitimately vary between fixture generations (the
    * `events.ts` NANOS→MICROS drift in round 7), and the loaders adapt; a
    * renamed/missing column is the contract break we want caught at startup.
    */
  private[graft] val expectedColumns: Map[String, Seq[String]] = Map(
    "region"     -> Seq("r_regionkey", "r_name"),
    "nation"     -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer"   -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier"   -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part"       -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders"     -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
    "events"     -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents"  -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label")
  )

  /** One line per fixture-contract violation, naming the table, the expected
    * columns, and the ACTUAL loaded schema (so a drifted parquet logical type
    * is visible in the message rather than surfacing later as an opaque
    * analysis error 20 operators downstream). Empty result = contract holds.
    */
  def schemaReport(spark: SparkSession, dir: String): Seq[String] =
    expectedColumns.toSeq.sortBy(_._1).flatMap { case (table, expected) =>
      try {
        val actual = read(spark, dir, table).schema
        if (actual.fieldNames.toSeq == expected) Nil
        else Seq(s"$table: expected columns ${expected.mkString("[", ", ", "]")} " +
          s"but loaded ${actual.map(f => s"${f.name}:${f.dataType.simpleString}").mkString("[", ", ", "]")}")
      } catch {
        case e: Exception => Seq(s"$table: failed to load from $dir — ${e.getMessage}")
      }
    }

  /** Startup guard: throws with every violation listed if the fixtures at
    * `dir` don't match the expected contract. Call once per entry point.
    */
  def assertFixtureContract(spark: SparkSession, dir: String): Unit = {
    val report = schemaReport(spark, dir)
    if (report.nonEmpty)
      throw new IllegalStateException(
        s"fixture contract violated at $dir:\n" + report.mkString("\n"))
  }

  def region(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame =
    spreadIfSingleSplit(spark, read(spark, dir, "documents"),
      s"$dir/documents.parquet")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
