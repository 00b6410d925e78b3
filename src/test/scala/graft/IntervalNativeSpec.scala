package graft

import org.apache.spark.sql.functions._
import graft.plans.IntervalJoinNative

/** The native plane-sweep interval-overlap join: semantics refereed
  * row-for-row against the naive non-equi join, the sweep's
  * admit/retire bookkeeping exercised on crafted interval chains, and
  * the zero-exchange bucketed plan property pinned — the same contract
  * battery as [[AsOfNativeSpec]].
  */
class IntervalNativeSpec extends SparkTestBase {
  import spark.implicits._

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("lid", "iv_rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def naive(left: org.apache.spark.sql.DataFrame,
      right: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    left.join(right.withColumnRenamed("k", "rk"),
        col("k") === col("rk") && col("ls") <= col("re") &&
          col("rs") <= col("le"))
      .select("lid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("native interval join equals the naive non-equi join on random data") {
    val rnd = new scala.util.Random(29)
    val l = (0 until 400).map { i =>
      val s = rnd.nextInt(1000).toLong
      (rnd.nextInt(7).toLong, s, s + rnd.nextInt(50), i.toLong)
    }
    val r = (0 until 300).map { i =>
      val s = rnd.nextInt(1000).toLong
      (rnd.nextInt(7).toLong, s, s + rnd.nextInt(50), 1000L + i)
    }
    val left = l.toDF("k", "ls", "le", "lid")
    val right = r.toDF("k", "rs", "re", "rid")
    val native = pairsOf(IntervalJoinNative.join(left, right,
      "k", "ls", "le", "rs", "re", Seq("rid")))
    val expected = naive(left, right)
    assert(native === expected)
    assert(native.nonEmpty)
  }

  test("sweep bookkeeping: retirement is per-left-start, admission per-left-end") {
    // key 1 chains:
    //   left A [0, 10], B [5, 6], C [20, 30]
    //   right x [8, 25] (admitted for A, must survive B's short window
    //            without matching, then match C), y [1, 3] (matches A,
    //            retired before C), z [28, 40] (admitted only at C)
    val left = Seq((1L, 0L, 10L, 1L), (1L, 5L, 6L, 2L), (1L, 20L, 30L, 3L))
      .toDF("k", "ls", "le", "lid")
    val right = Seq((1L, 8L, 25L, 100L), (1L, 1L, 3L, 101L),
      (1L, 28L, 40L, 102L)).toDF("k", "rs", "re", "rid")
    val got = pairsOf(IntervalJoinNative.join(left, right,
      "k", "ls", "le", "rs", "re", Seq("rid")))
    assert(got === Set((1L, 100L), (1L, 101L), (3L, 100L), (3L, 102L)))
  }

  test("null keys or bounds never match; keys never cross") {
    val left = Seq((Some(1L), Some(0L), Some(10L), 1L),
      (None, Some(0L), Some(10L), 2L),
      (Some(1L), None, Some(10L), 3L),
      (Some(2L), Some(0L), Some(10L), 4L))
      .toDF("k", "ls", "le", "lid")
    val right = Seq((Some(1L), Some(5L), Some(6L), 100L),
      (Some(2L), None, Some(6L), 101L),
      (None, Some(5L), Some(6L), 102L))
      .toDF("k", "rs", "re", "rid")
    val got = pairsOf(IntervalJoinNative.join(left, right,
      "k", "ls", "le", "rs", "re", Seq("rid")))
    assert(got === Set((1L, 100L)))
  }

  test("point right side (start = end) reproduces the proximity semantics") {
    val left = Seq((1L, 0L, 10L, 1L), (1L, 11L, 12L, 2L))
      .toDF("k", "ls", "le", "lid")
    val right = Seq((1L, 10L, 100L), (1L, 13L, 101L)).toDF("k", "p", "rid")
    val got = pairsOf(IntervalJoinNative.join(left, right,
      "k", "ls", "le", "p", "p", Seq("rid")))
    assert(got === Set((1L, 100L)))
  }

  test("bucketed inputs plan with ZERO exchanges; unbucketed inputs shuffle") {
    val rnd = new scala.util.Random(31)
    val sessions = (0 until 400).map { i =>
      val s = i.toLong * 5
      (rnd.nextInt(20).toLong, s, s + rnd.nextInt(40), i.toLong)
    }.toDF("k", "ls", "le", "lid")
    val holds = (0 until 300).map { i =>
      val s = i.toLong * 7
      (rnd.nextInt(20).toLong, s, s + rnd.nextInt(40), 1000L + i)
    }.toDF("k", "rs", "re", "rid")
    val sTab = s"iv_sessions_${System.nanoTime()}"
    val hTab = s"iv_holds_${System.nanoTime()}"
    try {
      sessions.write.mode("overwrite")
        .bucketBy(4, "k").sortBy("k").format("parquet").saveAsTable(sTab)
      holds.write.mode("overwrite")
        .bucketBy(4, "k").sortBy("k").format("parquet").saveAsTable(hTab)
      val bs = spark.table(sTab)
      val bh = spark.table(hTab)
      val joinedB = IntervalJoinNative.join(bs, bh,
        "k", "ls", "le", "rs", "re", Seq("rid"))
      val planB = joinedB.queryExecution.executedPlan.toString
      assert(!planB.contains("Exchange"),
        s"bucketed interval join must not shuffle:\n$planB")
      assert(planB.contains("IntervalJoin"), planB)
      assert(pairsOf(joinedB) === naive(
        bs.select("k", "ls", "le", "lid"), bh.select("k", "rs", "re", "rid")))

      val planU = IntervalJoinNative.join(sessions, holds,
        "k", "ls", "le", "rs", "re", Seq("rid"))
        .queryExecution.executedPlan.toString
      assert(planU.contains("Exchange hashpartitioning"), planU)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $sTab")
      spark.sql(s"DROP TABLE IF EXISTS $hTab")
    }
  }

  test("outer = true keeps unmatched and null-bound left rows with null right") {
    val left = Seq((Some(1L), Some(0L), Some(10L), 1L),
      (Some(1L), Some(50L), Some(60L), 2L), // no overlap
      (Some(1L), None, Some(10L), 3L)) // null bound
      .toDF("k", "ls", "le", "lid")
    val right = Seq((1L, 5L, 6L, 100L)).toDF("k", "rs", "re", "rid")
    val got = IntervalJoinNative.join(left, right,
      "k", "ls", "le", "rs", "re", Seq("rid"), outer = true)
      .select("lid", "iv_rid").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got === Map(1L -> Some(100L), 2L -> None, 3L -> None))
    // and the inner form drops exactly the unmatched rows
    val inner = pairsOf(IntervalJoinNative.join(left, right,
      "k", "ls", "le", "rs", "re", Seq("rid")))
    assert(inner === Set((1L, 100L)))
  }

  test("a PLAIN join(cond) with the overlap shape plans as the sweep exec") {
    val rnd = new scala.util.Random(37)
    val left = (0 until 300).map { i =>
      val s = rnd.nextInt(800).toLong
      (rnd.nextInt(9).toLong, s, s + rnd.nextInt(30), i.toLong)
    }.toDF("k", "ls", "le", "lid")
    val right = (0 until 250).map { i =>
      val s = rnd.nextInt(800).toLong
      (rnd.nextInt(9).toLong, s, s + rnd.nextInt(30), 1000L + i)
    }.toDF("k", "rs", "re", "rid")
    val r2 = right.withColumnRenamed("k", "rk")
    val joined = left.join(r2,
      col("k") === col("rk") && col("ls") <= col("re") &&
        col("rs") <= col("le"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("IntervalJoin"),
      s"overlap-shaped join must plan as the native sweep:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
    val got = joined.select("lid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === naive(left, right))

    // LEFT OUTER form: unmatched left rows survive with null right
    val outer = left.join(r2,
      col("k") === col("rk") && col("ls") <= col("re") &&
        col("rs") <= col("le"), "left")
    assert(outer.queryExecution.executedPlan.toString.contains("IntervalJoin"))
    val gotOuter = outer.select("lid", "rid").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).groupBy(_._1)
    val matchedLids = naive(left, right).map(_._1)
    val allLids = left.select("lid").collect().map(_.getLong(0)).toSet
    assert(gotOuter.keySet === allLids)
    assert((allLids -- matchedLids).forall(lid =>
      gotOuter(lid).toSeq === Seq(lid -> None)))
  }

  test("near-miss shapes are NOT claimed (strict bound, extra conjunct, no key)") {
    val left = Seq((1L, 0L, 10L, 1L)).toDF("k", "ls", "le", "lid")
    val right = Seq((1L, 5L, 6L, 100L)).toDF("rk", "rs", "re", "rid")
    // strict < is not the closed-interval contract
    val strict = left.join(right,
      col("k") === col("rk") && col("ls") < col("re") &&
        col("rs") <= col("le"))
    assert(!strict.queryExecution.executedPlan.toString.contains("IntervalJoin"))
    // an extra conjunct must fall through to the built-in strategies
    val extra = left.join(right,
      col("k") === col("rk") && col("ls") <= col("re") &&
        col("rs") <= col("le") && col("lid") =!= col("rid"))
    assert(!extra.queryExecution.executedPlan.toString.contains("IntervalJoin"))
    // no key equality: CartesianGuard territory, not ours
    val noKey = left.crossJoin(right)
      .filter(col("ls") <= col("re") && col("rs") <= col("le"))
    assert(!noKey.queryExecution.executedPlan.toString.contains("IntervalJoin"))
  }

  test("self-join-safe: both sides from the same frame get fresh ExprIds") {
    val df = Seq((1L, 0L, 10L, 1L), (1L, 5L, 15L, 2L), (1L, 20L, 25L, 3L))
      .toDF("k", "ls", "le", "lid")
    val right = df.select(col("k"), col("ls").as("rs"), col("le").as("re"),
      col("lid").as("rid"))
    val got = pairsOf(IntervalJoinNative.join(df, right,
      "k", "ls", "le", "rs", "re", Seq("rid")))
    // overlaps incl. self-pairs: (1,1),(1,2),(2,1),(2,2),(3,3)
    assert(got === Set((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 3L)))
  }
}
