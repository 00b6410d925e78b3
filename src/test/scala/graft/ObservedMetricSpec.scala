package graft

import org.apache.spark.sql.{GraftShims, Observation}

/** [[GraftShims.observedMetric]] and the observed-count pair built on it:
  * metrics that arrive are used, metrics that never arrive cost one
  * timeout per session and then fall back at once.
  */
class ObservedMetricSpec extends SparkTestBase {

  test("an observed count is read from the metric, not recounted") {
    val (counted, obs) = GraftShims.counted(spark.range(4).toDF())
    counted.collect()
    // the fallback frame has 100 rows: 4 proves the metric was read
    assert(GraftShims.observedCount(spark.range(100).toDF(), obs) === 4L)
  }

  test("an Observation that never completes stalls once per session, then falls back at once") {
    // a session of its own: the unavailable mark must not reach the
    // suite's shared session
    val isolated = spark.newSession()
    // attached to no query, so its metrics never arrive
    val t0 = System.nanoTime()
    assert(GraftShims.observedMetric(isolated, Observation(), "n", timeoutSec = 1)
      .isEmpty)
    assert(System.nanoTime() - t0 >= 1000000000L)
    val t1 = System.nanoTime()
    // default 30 s timeout: not waited for again in this session
    assert(GraftShims.observedCount(isolated.range(5).toDF(), Observation()) === 5L)
    assert(System.nanoTime() - t1 < 10000000000L)
    // the shared session still reads its metrics
    val (counted, obs) = GraftShims.counted(spark.range(3).toDF())
    counted.collect()
    assert(GraftShims.observedCount(spark.range(100).toDF(), obs) === 3L)
  }
}
