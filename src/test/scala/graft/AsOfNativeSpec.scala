package graft

import org.apache.spark.sql.functions._
import graft.operators.JoinOps
import graft.plans.AsOfJoinNative

/** The native (LogicalPlan + Strategy + SparkPlan) as-of join: semantics
  * refereed row-for-row against the composed union+window form, and the
  * plan property that justifies its existence — zero exchanges on
  * key-bucketed inputs — pinned.
  */
class AsOfNativeSpec extends SparkTestBase {
  import spark.implicits._

  test("native as-of equals the composed asofJoin on random data") {
    val rnd = new scala.util.Random(17)
    val l = (0 until 300).map(i =>
      (rnd.nextInt(7).toLong, rnd.nextInt(500).toLong, i.toLong))
      .distinctBy(r => (r._1, r._2))
    val r = (0 until 200).map(i =>
      (rnd.nextInt(7).toLong, rnd.nextInt(500).toLong, 1000L + i))
      .distinctBy(r => (r._1, r._2))
    val left = l.toDF("k", "t", "lid")
    val right = r.toDF("k", "t", "rid")
    val native = AsOfJoinNative.join(left, right, "k", "t", Seq("rid"))
      .collect().map(row => row.getLong(2) ->
        Option(row.get(3)).map(_.asInstanceOf[Long])).toMap
    val composed = JoinOps.asofJoin(left, right, "k", "t", Seq("rid"))
      .collect().map(row => row.getLong(2) ->
        Option(row.get(3)).map(_.asInstanceOf[Long])).toMap
    assert(native === composed)
    assert(native.nonEmpty && native.values.exists(_.isDefined))
    assert(native.values.exists(_.isEmpty), "some rows must be unmatched")
  }

  test("null keys/times never match and never poison the merge") {
    val left = Seq((Some(1L), Some(10L), 1L), (None, Some(20L), 2L),
      (Some(1L), None, 3L), (Some(1L), Some(30L), 4L))
      .toDF("k", "t", "lid")
    val right = Seq((Some(1L), Some(5L), 100L), (None, Some(1L), 101L),
      (Some(1L), None, 102L))
      .toDF("k", "t", "rid")
    val got = AsOfJoinNative.join(left, right, "k", "t", Seq("rid"))
      .collect().map(row => row.getLong(2) ->
        Option(row.get(3)).map(_.asInstanceOf[Long])).toMap
    assert(got === Map(1L -> Some(100L), 2L -> None, 3L -> None,
      4L -> Some(100L)))
  }

  test("bucketed inputs plan with ZERO exchanges; unbucketed inputs shuffle") {
    val rnd = new scala.util.Random(23)
    val trades = (0 until 500).map(i =>
      (rnd.nextInt(20).toLong, i.toLong * 7, i.toLong)).toDF("k", "t", "trade_id")
    val quotes = (0 until 400).map(i =>
      (rnd.nextInt(20).toLong, i.toLong * 9, 100.0 + i)).toDF("k", "t", "px")
    val tTab = s"asof_trades_${System.nanoTime()}"
    val qTab = s"asof_quotes_${System.nanoTime()}"
    try {
      trades.write.mode("overwrite")
        .bucketBy(4, "k").sortBy("k").format("parquet").saveAsTable(tTab)
      quotes.write.mode("overwrite")
        .bucketBy(4, "k").sortBy("k").format("parquet").saveAsTable(qTab)
      val bt = spark.table(tTab)
      val bq = spark.table(qTab)
      val joinedB = AsOfJoinNative.join(bt, bq, "k", "t", Seq("px"))
      val planB = joinedB.queryExecution.executedPlan.toString
      assert(!planB.contains("Exchange"),
        s"bucketed as-of must not shuffle:\n$planB")
      assert(planB.contains("AsOfJoin"), planB) // nodeName strips "Exec"
      // and it computes the same answer as the composed form
      val nat = joinedB.collect()
        .map(r => r.getLong(2) -> Option(r.get(3))).toMap
      val comp = JoinOps.asofJoin(bt, bq, "k", "t", Seq("px"))
        .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
      assert(nat === comp)

      // un-bucketed inputs: EnsureRequirements adds the two exchanges
      val planU = AsOfJoinNative.join(trades, quotes, "k", "t", Seq("px"))
        .queryExecution.executedPlan.toString
      assert(planU.contains("Exchange hashpartitioning"), planU)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tTab")
      spark.sql(s"DROP TABLE IF EXISTS $qTab")
    }
  }

  test("self-join over the same source table is ExprId-safe") {
    val ev = Tables.events(spark, sf0001)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"),
        col("value").as("click_value"))
    val out = AsOfJoinNative.join(purchases, clicks,
      key = "user_id", time = "event_id", rightCols = Seq("click_value"))
    assert(out.columns.toSeq ===
      Seq("event_id", "user_id", "value", "asof_click_value"))
    assert(out.count() === purchases.count(), "left-outer: every left row kept")
  }
}
