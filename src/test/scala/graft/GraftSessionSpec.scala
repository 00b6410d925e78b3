package graft

/** [[GraftSession]] is the one owner of the engine's session confs: the
  * values pinned here are the ones Bench, Verify and the benchmark
  * harness run with, so a drift fails the suite.
  */
class GraftSessionSpec extends SparkTestBase {

  test("the conf map is pinned, and the suite's session runs it") {
    val expected = Map(
      "spark.master" -> "local[4]",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k")
    assert(GraftSession.confs(4) === expected)
    expected.foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
  }

  test("the extensions' SQL functions run from plain SQL with no registerAll") {
    // a fresh session state: no function registered at runtime by
    // another spec is visible here, only what the extensions inject
    val r = spark.newSession().sql(
      """SELECT simhash64(split('a b c', ' ')) AS sh,
        |       cosine_similarity(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS cs,
        |       minhash_tokens(split('x y z w', ' '), 8) AS mht""".stripMargin)
      .collect().head
    assert(!r.isNullAt(0))
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(r.getSeq[Long](2).length === 8)
  }
}
