package graft

import org.apache.spark.sql.functions._
import graft.functions.OnceGate
import graft.operators.Decontam

/** [[graft.functions.OnceGate]]: bit-identical pass-through that pins a
  * single evaluation site (blocks predicate pushdown / projection
  * duplication across it — guide §4.4's mechanism for built-ins).
  */
class OnceGateSpec extends SparkTestBase {
  import spark.implicits._

  test("once_gate is a bit-identical pass-through incl. nulls") {
    val df = Seq(Some(3L), None, Some(-7L)).toDF("x")
    val out = df.select(col("x"),
      OnceGate.once(col("x") * 2 + 1).as("g"),
      (col("x") * 2 + 1).as("plain"))
    assert(out.collect().forall(r => r.isNullAt(1) == r.isNullAt(2) &&
      (r.isNullAt(1) || r.getLong(1) == r.getLong(2))))
  }

  test("once_gate blocks filter pushdown into the gated projection") {
    // range, not a LocalRelation: ConvertToLocalRelation folds local
    // projections eagerly regardless of determinism
    val df = spark.range(4).toDF("a")
      .withColumn("e", OnceGate.once(col("a") * 2))
      .filter(col("e") > 3)
    // the filter must sit ABOVE the projection computing e — pushing it
    // below would re-derive the kernel at two sites
    val plan = df.queryExecution.optimizedPlan.toString
    // both nodes present first: indexOf's -1 would make the order
    // check pass with the Filter optimized away
    assert(plan.contains("once_gate") && plan.contains("Filter"),
      s"gate or filter missing from the plan:\n$plan")
    assert(plan.indexOf("once_gate") > plan.indexOf("Filter"),
      s"filter was pushed below the gate:\n$plan")
    assert(df.count() == 2) // 4 and 6
  }

  test("d14's verification kernel evaluates exactly once in the plan") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
    val out = Decontam.fuzzyDecontaminate(
      docs.filter(col("doc_id") =!= 3L), docs.filter(col("doc_id") === 3L), 0.5)
    val n = "array_intersect".r
      .findAllIn(out.queryExecution.executedPlan.toString).size
    assert(n == 1, s"expected 1 array_intersect evaluation site, found $n")
  }
}
