package graft

/** Whole-registry hygiene: every registered query must (a) ANALYZE AND
  * PLAN against the smallest fixture — the cheap net that would have
  * caught the round-7 fixture-type drift as one failing test instead of
  * 23 opaque downstream errors — and (b) never plan a cartesian
  * product (CartesianGuard turns the accidental ones into plan-time
  * errors; this pins that no query ships with a deliberate hint
  * either). Also pins the queries↔oracle registry consistency: a
  * typo'd oracle key would otherwise silently demote a query to the
  * weaker rows-only check.
  */
class PlanHygieneSpec extends SparkTestBase {

  test("oracle registry matches the query registry; every query is oracled") {
    // r9: the last 5 rows-only entries were retired (each has a hash-green
    // derandomized twin), so the gate is 100% oracle-checked — any new
    // un-oracled registry entry is now a test failure, not a weaker check.
    val orphanOracles = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphanOracles.isEmpty,
      s"oracle SQL with no matching query (typo?): $orphanOracles")
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unchecked.isEmpty,
      s"queries without oracle SQL: $unchecked")
  }

  /** The bounded-domain justifications live in [[GlobalWindows]] (main
    * scope, r11) so Bench's warning audit enforces the same map as this
    * gate. History: the r9 offenders (global ntile/row_number over
    * CUSTOMERS in a23/dq28, running sum over PARTS in a30) were
    * rewritten in r10 onto count-based order-statistic / two-level
    * bucket refinement patterns; a new query with an unlisted (or a
    * listed query with a changed count of) global window fails here and
    * must either re-derive its frame from a bounded domain or justify
    * itself in the shared map.
    */
  private val globalWindowWhitelist: Map[String, (Int, String)] =
    GlobalWindows.whitelist

  /** §R10.12 alias-inlining gate — kernel list and matcher live in
    * [[PlanKernels]], counting `kernel(` call sites at identifier
    * boundaries so `minhash(` does not match inside `minhash_tokens(`.
    */
  private def repeatedKernelLines(plan: String): Seq[String] =
    PlanKernels.repeatedKernelLines(plan).map(_.take(220))

  test("every registered query plans on sf0.001 with no cartesian product, " +
    "no unjustified partition-less window, and no repeated expensive " +
    "kernel in a join condition or filter") {
    import org.apache.spark.sql.execution.window.WindowExec
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val observed = scala.collection.mutable.Map.empty[String, Int]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val qe = fn(spark, sf0001).queryExecution
        if (qe.executedPlan.toString.contains("CartesianProduct"))
          failures += s"$name: plans a CartesianProduct"
        repeatedKernelLines(qe.executedPlan.toString).foreach { l =>
          failures += s"$name: expensive kernel repeated in one condition " +
            s"(evaluated per occurrence per row — fuse it): $l"
        }
        val n = qe.sparkPlan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }.size
        if (n > 0) observed(name) = n
      } catch {
        case e: Throwable =>
          failures += s"$name: ${e.getClass.getSimpleName} " +
            e.getMessage.linesIterator.take(1).mkString.take(200)
      }
    }
    val expected = globalWindowWhitelist.map { case (k, (n, _)) => k -> n }
    val unjustified = observed.toMap.filter { case (k, n) =>
      !expected.get(k).contains(n)
    }
    val stale = expected.filter { case (k, n) =>
      !observed.get(k).contains(n)
    }
    if (unjustified.nonEmpty)
      failures += "partition-less Window with no whitelist justification " +
        "(single-reducer sort at scale — derive the frame from a bounded " +
        s"domain, or justify it in globalWindowWhitelist): $unjustified"
    if (stale.nonEmpty)
      failures += s"stale globalWindowWhitelist entries (plan changed): $stale"
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
