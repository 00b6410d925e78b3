package graft

import org.apache.spark.sql.functions._

/** The size(collect_*) → count rewrite: plan-level (buffer aggregate gone)
  * and value-level (null skipping, distinct, empty behavior preserved).
  *
  * Both optimizer rules arrive with the session itself: SparkTestBase
  * builds it with spark.sql.extensions=graft.GraftExtensions — the same
  * path every production entry point uses — so these specs exercise the
  * installed rules, not a privately-registered copy.
  */
class OptimizerRuleSpec extends SparkTestBase {
  import spark.implicits._

  private def agged = Seq(
    (1, Some("a")), (1, Some("b")), (1, Some("a")), (1, None), (2, Some("c")))
    .toDF("k", "v")
    .groupBy("k")
    .agg(size(collect_list($"v")).as("n"), size(collect_set($"v")).as("nd"))

  test("rewrites to count/count-distinct in the optimized plan") {
    val optimized = agged.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("collect_list"), optimized)
    assert(!optimized.contains("collect_set"), optimized)
    assert(optimized.contains("count"), optimized)
  }

  test("values match collect semantics: nulls skipped, set deduped, types int") {
    val rows = agged.orderBy("k").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    assert(rows.toSeq === Seq((1, 3, 2), (2, 1, 1)))
  }

  test("a genuine collect_list value expression is left alone") {
    val df = Seq((1, "a"), (1, "b")).toDF("k", "v")
      .groupBy("k").agg(array_sort(collect_list($"v")).as("vs"))
    assert(df.queryExecution.optimizedPlan.toString.contains("collect_list"))
    assert(df.collect().head.getSeq[String](1) === Seq("a", "b"))
  }

  // CartesianGuard is active session-wide via the extensions (suites that
  // legitimately cross-join tiny frames bless them with broadcast(), the
  // guard's escape hatch); withGuard remains only as a reading aid
  // marking the tests that exercise the guard itself.
  private def withGuard[A](f: => A): A = f

  test("unhinted condition-less inner join is rejected at plan time") { withGuard {
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(4, 5).toDF("y")
    val e = intercept[IllegalStateException] {
      a.crossJoin(b).queryExecution.optimizedPlan
    }
    assert(e.getMessage.contains("CartesianGuard"))
  }}

  test("non-broadcast strategy hint does NOT bypass the guard") { withGuard {
    // a merge/shuffle_hash hint still computes the full cartesian — only
    // broadcast (bounded |small| per probe row) is a signed small-claim
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(4, 5).toDF("y")
    val e = intercept[IllegalStateException] {
      a.crossJoin(b.hint("shuffle_hash")).queryExecution.optimizedPlan
    }
    assert(e.getMessage.contains("CartesianGuard"))
  }}

  test("broadcast-hinted small side passes the guard (intentional NL join)") { withGuard {
    val corpus = Seq(1, 2, 3).toDF("x")
    val tiny = Seq(10).toDF("y")
    val out = corpus.join(broadcast(tiny)) // the s1/range-join shape
    assert(out.collect().length === 3)
  }}

  test("equi and non-equi conditioned joins are untouched by the guard") { withGuard {
    val a = Seq((1, 10), (2, 20)).toDF("k", "va")
    val b = Seq((1, 5), (2, 30)).toDF("k2", "vb")
    assert(a.join(b, a("k") === b("k2")).collect().length === 2)
    assert(a.join(b, a("va") > b("vb")).collect().length === 2)
  }}
}
