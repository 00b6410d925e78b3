package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}
import graft.sources.{Ingest, Sinks}

/** Serializable fetch stub — ships to executors in the distributed test
  * (the spec class itself is not serializable).
  */
object FakeFetch extends Serializable {
  private val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
  def apply(ticker: String): Seq[Row] = {
    if (ticker == "FAIL3.SA") throw new RuntimeException("fetch failed")
    (0 until 5).map(d => Row(new java.sql.Timestamp(base + d * 86400000L),
      10.0, 12.0, 9.0, 11.0 + d, 1000L + d, 0.0, 0.0, ticker.stripSuffix(".SA")))
  }
}

/** E1 ingest analog (S1/S2/S4, P2-P4) + sink/catalog family (K1-K5). */
class IngestSinkSpec extends SparkTestBase {

  private def fakeFetch(ticker: String): Seq[Row] = FakeFetch(ticker)

  test("ingest isolates per-item failures and normalizes columns") {
    val df = Ingest.ingest(spark, Seq("AAA.SA", "FAIL3.SA", "BBB.SA"), fakeFetch)
    // failed ticker skipped: 2 tickers × 5 days
    assert(df.count() === 10)
    // P2 normalization produced the reference's hyphenated column
    assert(df.columns.contains("stock-splits"))
    // P4 dataproc is an 8-digit yyyyMMdd string
    val dp = df.select("dataproc").distinct().collect()
    assert(dp.length === 1 && dp.head.getString(0).matches("\\d{8}"))
  }

  test("distributed fetch runs on executors with error isolation") {
    val df = Ingest.fetchDistributed(spark, Seq("AAA.SA", "FAIL3.SA", "BBB.SA"), FakeFetch.apply)
    assert(df.count() === 10)
    assert(df.schema.fieldNames.contains("ticker"))
  }

  test("jsonl round-trip quarantines corrupt lines without losing good rows") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text", "lang")
    val dir = tmpDir("jsonl")
    Ingest.writeJsonl(docs, dir)
    // damage the corpus: a truncated record, a stray log line, one good row
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-damaged.json"),
      """{"doc_id": 999001, "text": "good extra row", "lang": "en"}
        |{"doc_id": 999002, "text": "truncated
        |WARN some stray log line, not json at all
        |""".stripMargin)
    val got = Ingest.readJsonlCorpus(spark, dir, docs.schema).cache()
    val good = got.filter(col("_corrupt_record").isNull)
    val quarantined = got.filter(col("_corrupt_record").isNotNull)
    // every original row + the extra good row parse; both broken lines
    // are isolated whole, and nothing vanishes
    assert(good.count() === docs.count() + 1)
    assert(quarantined.count() === 2)
    assert(quarantined.collect().forall(r =>
      r.getString(r.fieldIndex("_corrupt_record")).nonEmpty))
    val roundTrip = good.select("doc_id", "text", "lang")
      .filter(col("doc_id") < 999000)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val orig = docs.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(roundTrip === orig, "jsonl round-trip must preserve every field")
  }

  test("csv read quarantines wrong-arity and untypeable rows, keeps good ones") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val dir = tmpDir("csvq")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "data.csv"),
      """id,name,score
        |1,alice,10
        |2,bob,not_a_number
        |3,carol,30
        |""".stripMargin)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("score", LongType)))
    val (parsed, good, bad) = Ingest.quarantineSplit(
      Ingest.readCsvCorpus(spark, dir, schema))
    // the type-coercion failure must quarantine the WHOLE row (CSV's
    // failure mode JSON lacks), not silently null the cell
    assert(good.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
    val q = bad.collect()
    assert(q.length === 1 &&
      q.head.getString(q.head.fieldIndex("_corrupt_record")).contains("not_a_number"))
    parsed.unpersist()
  }

  test("K1/K2: partitioned writes produce hive-style directory layouts") {
    val df = Ingest.ingest(spark, Seq("AAA.SA", "BBB.SA"), fakeFetch)
    val p1 = tmpDir("sink1")
    Sinks.writePartitioned(df, p1, Seq("dataproc"))
    assert(new java.io.File(p1).listFiles().exists(_.getName.startsWith("dataproc=")))

    val p2 = tmpDir("sink2")
    Sinks.writePartitioned(df, p2, Seq("dataproc", "ticker"))
    val lvl1 = new java.io.File(p2).listFiles().filter(_.getName.startsWith("dataproc="))
    assert(lvl1.nonEmpty)
    val lvl2 = lvl1.head.listFiles().filter(_.getName.startsWith("ticker="))
    assert(lvl2.map(_.getName).toSet === Set("ticker=AAA", "ticker=BBB"))
    // round-trip with partition discovery
    val back = spark.read.parquet(p2)
    assert(back.count() === 10)
    assert(back.schema.fieldNames.contains("ticker"))
  }

  test("K1/K2: the partitioned write runs shuffle-width tasks, one file per directory") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
    import spark.implicits._
    // 40 byte-small rows in 10 (dataproc, ticker) directories: AQE sizes
    // a shuffle by bytes and would coalesce this one into a single task
    val df = (0 until 40).map(i => (s"2024010${i % 2}", s"T${i % 5}", i.toLong))
      .toDF("dataproc", "ticker", "v")
    val path = tmpDir("sink-width")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Sinks.writePartitioned(df, path, Seq("dataproc", "ticker"))
      org.apache.spark.sql.GraftShims.waitListenerBus(spark, 10000)
    } finally spark.sparkContext.removeSparkListener(listener)
    // the write job's result stage is the last stage to run
    val write = stages.asScala.maxBy(_.stageId)
    assert(write.numTasks === spark.conf.get("spark.sql.shuffle.partitions").toInt,
      s"write stage ${write.name} ran ${write.numTasks} tasks")
    val leaves = new java.io.File(path).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles().filter(_.isDirectory))
    assert(leaves.length === 10)
    leaves.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1, d.toString)
    }
    assert(spark.read.parquet(path).count() === 40)
  }

  test("JSONL shard export: manifest attests the files; re-export is deterministic") {
    val docs = Tables.documents(spark, sf0001)
    val p1 = tmpDir("jsonl1")
    val m1 = Sinks.exportJsonlShards(docs, p1, shards = 4).collect()
    assert(m1.length === 4, s"expected 4 shards, got ${m1.length}")
    assert(m1.map(_.getLong(1)).sum === docs.count())
    // manifest is from the written bytes: byte sizes match the files
    val files = new java.io.File(p1).listFiles()
      .filter(_.getName.endsWith(".json")).sortBy(_.getName)
    assert(files.map(_.length()).sum === m1.map(_.getLong(2)).sum)
    // round-trip: every doc_id survives
    val back = spark.read.schema(docs.schema).json(p1)
    assert(back.select("doc_id").exceptAll(docs.select("doc_id")).isEmpty &&
      docs.select("doc_id").exceptAll(back.select("doc_id")).isEmpty)
    // determinism: a second export yields identical shard checksums
    val p2 = tmpDir("jsonl2")
    val m2 = Sinks.exportJsonlShards(docs, p2, shards = 4).collect()
    assert(m1.map(r => (r.getInt(0), r.getLong(1), r.getLong(3))).toSeq ===
      m2.map(r => (r.getInt(0), r.getLong(1), r.getLong(3))).toSeq)
  }

  test("K3/K4: external table create-or-replace + recoverPartitions") {
    val df = Ingest.ingest(spark, Seq("AAA.SA", "BBB.SA"), fakeFetch)
    val path = tmpDir("ext")
    Sinks.writePartitioned(df, path, Seq("dataproc", "ticker"))
    Sinks.createOrReplaceExternal(spark, "stocks_ext", path, Seq("dataproc", "ticker"))
    Sinks.recoverPartitions(spark, "stocks_ext")
    assert(spark.table("stocks_ext").count() === 10)
    // create-or-update: second call must replace, not fail
    Sinks.createOrReplaceExternal(spark, "stocks_ext", path, Seq("dataproc", "ticker"))
    Sinks.recoverPartitions(spark, "stocks_ext")
    assert(spark.table("stocks_ext").count() === 10)
  }

  test("K3: an external table over a path holding a quote") {
    val df = Ingest.ingest(spark, Seq("AAA.SA"), fakeFetch)
    val path = tmpDir("ext'quoted")
    Sinks.writePartitioned(df, path, Seq("dataproc", "ticker"))
    Sinks.createOrReplaceExternal(spark, "stocks_quoted", path, Seq("dataproc", "ticker"))
    Sinks.recoverPartitions(spark, "stocks_quoted")
    assert(spark.table("stocks_quoted").count() === 5)
  }

  test("K3 evolution: live external table gains new file columns in place") {
    val df = Ingest.ingest(spark, Seq("AAA.SA", "BBB.SA"), fakeFetch)
    val path = tmpDir("evolve")
    Sinks.writePartitioned(df, path, Seq("dataproc", "ticker"))
    // first probe: table absent -> create branch
    assert(Sinks.createOrEvolveExternal(spark, "stocks_evolve", path,
      Seq("dataproc", "ticker")) === Seq.empty)
    Sinks.recoverPartitions(spark, "stocks_evolve")
    assert(spark.table("stocks_evolve").count() === 10)
    // a later batch lands with an extra column (appended, not overwrite:
    // evolution must coexist with the already-registered partitions)
    val df2 = Ingest.ingest(spark, Seq("CCC.SA"), fakeFetch)
      .withColumn("adjusted", col("close") * lit(2))
    df2.write.mode("append").partitionBy("dataproc", "ticker").parquet(path)
    // second probe: update branch — ADD COLUMNS in place, report it
    assert(Sinks.createOrEvolveExternal(spark, "stocks_evolve", path,
      Seq("dataproc", "ticker")) === Seq("adjusted"))
    Sinks.recoverPartitions(spark, "stocks_evolve")
    val evolved = spark.table("stocks_evolve")
    assert(evolved.schema.fieldNames.contains("adjusted"))
    assert(evolved.count() === 15, "pre-evolution partitions must stay live")
    // pre-evolution rows read null for the new column; new rows carry it
    assert(evolved.filter(col("ticker") =!= "CCC" && col("adjusted").isNotNull)
      .count() === 0)
    assert(evolved.filter(col("ticker") === "CCC" && col("adjusted").isNull)
      .count() === 0)
    // idempotent when already current
    assert(Sinks.alterExternalAddColumns(spark, "stocks_evolve", path)
      === Seq.empty)
    // incompatible candidate (same column, different type) is rejected
    val bad = tmpDir("evolvebad")
    df.withColumn("volume", col("volume").cast("double"))
      .write.mode("overwrite").partitionBy("dataproc", "ticker").parquet(bad)
    val err = intercept[IllegalArgumentException] {
      Sinks.alterExternalAddColumns(spark, "stocks_evolve", bad)
    }
    assert(err.getMessage.contains("volume"), err.getMessage)
  }

  test("K3: saveAsTable managed variant + tableExists probe") {
    val df = Ingest.ingest(spark, Seq("AAA.SA"), fakeFetch)
    Sinks.saveAsManagedTable(df, "stocks_managed", Seq("ticker"))
    assert(spark.catalog.tableExists("stocks_managed"))
    assert(spark.table("stocks_managed").count() === 5)
  }

  test("K5: schema diagnostics") {
    val df = Ingest.ingest(spark, Seq("AAA.SA"), fakeFetch)
    val (tree, cols) = Sinks.describe(df)
    assert(tree.contains("stock-splits"))
    assert(cols.contains("dataproc"))
  }

  test("retention sweep drops only expired partitions and audits the removal") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      ("20240101", 1L), ("20240101", 2L),
      ("20240215", 3L),
      ("20240401", 4L), ("20240401", 5L)
    ).toDF("dataproc", "v")
    val path = tmpDir("retention")
    Sinks.writePartitioned(df, path, Seq("dataproc"))
    val audit = Sinks.retentionSweep(path, "dataproc", keepFrom = "20240301")
    // both pre-cutoff partitions dropped, each with >= 1 data file
    assert(audit.map(_._1) === Seq("20240101", "20240215"))
    assert(audit.forall(_._2 >= 1))
    // the surviving partition is intact and fully readable
    val back = spark.read.parquet(path)
    assert(back.select("v").collect().map(_.getLong(0)).sorted.toSeq === Seq(4L, 5L))
    assert(back.filter(col("dataproc") === "20240401").count() === 2)
    // idempotent: a second sweep finds nothing
    assert(Sinks.retentionSweep(path, "dataproc", "20240301").isEmpty)
    // K2 layouts nest sub-partition directories: the sweep must remove
    // the whole expired tree, not fail silently on non-empty dirs
    val df2 = Seq(("20240101", "AAA", 1L), ("20240101", "BBB", 2L),
      ("20240401", "AAA", 3L)).toDF("dataproc", "ticker", "v")
    val path2 = tmpDir("retention2")
    Sinks.writePartitioned(df2, path2, Seq("dataproc", "ticker"))
    val audit2 = Sinks.retentionSweep(path2, "dataproc", "20240301")
    assert(audit2.map(_._1) === Seq("20240101"))
    assert(audit2.head._2 >= 2, "both nested ticker partitions' files counted")
    assert(spark.read.parquet(path2).select("v").collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("ANALYZE TABLE feeds optimizer row/column statistics under CBO") {
    val df = Ingest.ingest(spark, Seq("AAA.SA", "BBB.SA"), fakeFetch)
    Sinks.saveAsManagedTable(df, "stocks_stats", Seq("ticker"))
    Sinks.analyzeTable(spark, "stocks_stats", columns = Seq("close", "volume"))
    // analyzed rowCount/column stats reach plan estimates when the
    // cost-based optimizer reads them (size-only estimation otherwise)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.table("stocks_stats")
        .queryExecution.optimizedPlan.stats
      // rowCount comes ONLY from ANALYZE (file size alone can't provide it)
      assert(stats.rowCount.contains(BigInt(10)), s"stats: $stats")
      val colStats = stats.attributeStats.map { case (a, s) => a.name -> s }
      assert(colStats.contains("close"), s"column stats missing: ${colStats.keys}")
      assert(colStats("close").distinctCount.isDefined)
    } finally spark.conf.unset("spark.sql.cbo.enabled")
  }

  test("ORC round-trip: data equality, partition discovery, filter pushdown") {
    val li = Tables.lineitem(spark, sf0001)
    val dir = tmpDir("graft-orc")
    sources.Sinks.writePartitioned(li, s"$dir/flat", Nil, "orc")
    val back = sources.Sinks.readColumnar(spark, s"$dir/flat", "orc")
    assert(back.schema === li.schema)
    assert(back.count() === li.count())
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
    // partitioned variant discovers the partition column on read
    sources.Sinks.writePartitioned(li, s"$dir/part", Seq("l_returnflag"), "orc")
    val part = sources.Sinks.readColumnar(spark, s"$dir/part", "orc")
    assert(part.columns.contains("l_returnflag"))
    assert(part.count() === li.count())
    // predicate + projection reach the ORC scan
    val plan = back.filter(org.apache.spark.sql.functions.col("l_quantity") < 10)
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity"),
      s"ORC pushdown missing:\n$plan")
    // text formats are rejected loudly
    val e = intercept[IllegalArgumentException] {
      sources.Sinks.writePartitioned(li, s"$dir/csv", Nil, "csv")
    }
    assert(e.getMessage.contains("columnar"))
  }
}
