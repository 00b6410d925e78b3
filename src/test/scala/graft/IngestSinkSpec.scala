package graft

import org.apache.spark.sql.Row
import graft.sources.{Ingest, Sinks}

/** Fetch stub shared with `JobsSpec`: FAIL3.SA throws, every other
  * ticker yields five daily rows.
  */
object FakeFetch extends Serializable {
  private val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
  def apply(ticker: String): Seq[Row] = {
    if (ticker == "FAIL3.SA") throw new RuntimeException("fetch failed")
    (0 until 5).map(d => Row(new java.sql.Timestamp(base + d * 86400000L),
      10.0, 12.0, 9.0, 11.0 + d, 1000L + d, 0.0, 0.0, ticker.stripSuffix(".SA")))
  }
}

/** E1 ingest analog (S2/S4, P2-P4) + sink/catalog family (K1-K4). */
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

  test("ANALYZE TABLE feeds optimizer row/column statistics under CBO") {
    val df = Ingest.ingest(spark, Seq("AAA.SA", "BBB.SA"), fakeFetch)
    df.write.mode("overwrite").partitionBy("ticker").format("parquet")
      .saveAsTable("stocks_stats")
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
    val back = spark.read.orc(s"$dir/flat")
    assert(back.schema === li.schema)
    assert(back.count() === li.count())
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
    // partitioned variant discovers the partition column on read
    sources.Sinks.writePartitioned(li, s"$dir/part", Seq("l_returnflag"), "orc")
    val part = spark.read.orc(s"$dir/part")
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
