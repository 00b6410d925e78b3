package graft.plans

import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Plan-time GOVERNANCE guard: reject condition-less inner/cross joins
  * unless a side is explicitly blessed with a `broadcast()` hint.
  *
  * At 100 TB an accidental cartesian product — a dropped join condition, a
  * typo'd column making the condition trivially true after constant
  * folding — doesn't fail; it schedules |L|·|R| work and runs until the
  * cluster burns its budget. Spark's own `spark.sql.crossJoin.enabled`
  * defaults to TRUE since 3.0, so nothing stops it. This rule turns the
  * mistake into an immediate plan-time error.
  *
  * The `broadcast()` escape hatch is deliberate: a hinted side is a
  * developer's signed claim that the side is small (the engine's own
  * brute-force-similarity and range-join queries do exactly this), and
  * the resulting BroadcastNestedLoopJoin is bounded by |small| per row.
  *
  * Registered through [[graft.GraftExtensions]] (`injectOptimizerRule`,
  * which runs AFTER hint resolution folds `broadcast()` into the Join's
  * `JoinHint` — so the hint is reliably visible here).
  */
object CartesianGuard extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.foreach {
      case j @ Join(_, _, Inner | Cross, None, hint) =>
        // ONLY a broadcast hint blesses: it bounds the work at |small|
        // per probe row. A merge/shuffle_hash hint on a condition-less
        // join still computes the full cartesian — no escape for those.
        val blessed = (hint.leftHint ++ hint.rightHint)
          .exists(_.strategy.contains(BROADCAST))
        if (!blessed)
          throw new IllegalStateException(
            "CartesianGuard: condition-less inner join would compute a " +
              "cartesian product (|L| x |R| at cluster scale). Add the " +
              "join condition, or mark the intentionally-small side with " +
              s"broadcast(). Join: ${j.simpleString(3)}")
      case _ => ()
    }
    plan
  }
}
