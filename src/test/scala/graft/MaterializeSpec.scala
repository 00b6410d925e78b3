package graft

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, sum, udf}
import org.apache.spark.storage.StorageLevel
import graft.spark.Materialize

/** [[Materialize]]: the checkpoint forms run their job at the call and
  * cut the lineage, the counted form reads its metrics (or falls back),
  * the round form releases what it supersedes, the cached form always
  * unpersists; and [[Materialize.observedMetric]] waits for metrics that
  * never arrive once per session.
  */
class MaterializeSpec extends SparkTestBase {

  private def rddId(df: DataFrame): Int = df.queryExecution.analyzed match {
    case r: LogicalRDD => r.rdd.id
    case p => fail(s"not a checkpoint:\n$p")
  }

  test("the checkpoint's job runs at the call, and reading it back re-runs no lineage") {
    val evals = spark.sparkContext.longAccumulator("evals")
    val bump = udf { (x: Long) => evals.add(1); x }
    val ck = Materialize(spark.range(10).select(bump(col("id")).as("id")))
    assert(evals.value === 10L, "the checkpoint job must run at the call")
    assert(ck.count() === 10L)
    assert(ck.collect().map(_.getLong(0)).sorted.toSeq === (0L until 10L))
    assert(evals.value === 10L, "reading the checkpoint re-ran its parent lineage")
  }

  test("counted reads the row count and the extra aggregate, or falls back to jobs") {
    def frame(s: org.apache.spark.sql.SparkSession) =
      s.range(100).toDF("id").filter(col("id") % 3 === 0)
    val want = (frame(spark).count(), frame(spark).agg(sum("id")).head().getLong(0))
    val (ck, n) = Materialize.counted(frame(spark))
    assert(n === want._1)
    assert(ck.count() === want._1)
    val (_, n2, s2) = Materialize.counted(frame(spark), sum(col("id")))
    assert((n2, s2) === want)
    // a session whose Observations time out: one 1 s wait marks it, then
    // both values come from the fallback jobs at once
    val isolated = spark.newSession()
    assert(Materialize.observedMetric(isolated, Observation(), "n", timeoutSec = 1).isEmpty)
    val t0 = System.nanoTime()
    val (_, n3, s3) = Materialize.counted(frame(isolated), sum(col("id")))
    assert((n3, s3) === want)
    assert(System.nanoTime() - t0 < 10000000000L, "the fallback waited for metrics")
  }

  test("an observed count is read from the metric, not recounted") {
    val (counted, obs) = Materialize.observeCount(spark.range(4).toDF())
    counted.collect()
    // the fallback frame has 100 rows: 4 proves the metric was read
    assert(Materialize.observedCount(spark.range(100).toDF(), obs) === 4L)
  }

  test("an Observation that never completes stalls once per session, then falls back at once") {
    // a session of its own: the unavailable mark must not reach the
    // suite's shared session
    val isolated = spark.newSession()
    // attached to no query, so its metrics never arrive
    val t0 = System.nanoTime()
    assert(Materialize.observedMetric(isolated, Observation(), "n", timeoutSec = 1)
      .isEmpty)
    assert(System.nanoTime() - t0 >= 1000000000L)
    val t1 = System.nanoTime()
    // default 30 s timeout: not waited for again in this session
    assert(Materialize.observedCount(isolated.range(5).toDF(), Observation()) === 5L)
    assert(System.nanoTime() - t1 < 10000000000L)
    // the shared session still reads its metrics
    val (counted, obs) = Materialize.observeCount(spark.range(3).toDF())
    counted.collect()
    assert(Materialize.observedCount(spark.range(100).toDF(), obs) === 3L)
  }

  test("round releases the superseded round's storage and keeps the new one") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val first = Materialize(spark.range(10).toDF("id"))
    assert(persisted.contains(rddId(first)))
    val second = Materialize.round(first)(
      Materialize(first.select((col("id") + 1).as("id"))))
    assert(!persisted.contains(rddId(first)), "the superseded round is still persisted")
    assert(persisted.contains(rddId(second)))
    assert(second.collect().map(_.getLong(0)).sorted.toSeq === (1L to 10L))
  }

  test("cached pins its frame for the body and unpersists on return and on throw") {
    val df = spark.range(5).toDF("id")
    assert(Materialize.cached(df) { c =>
      assert(c.storageLevel !== StorageLevel.NONE)
      c.count()
    } === 5L)
    assert(df.storageLevel === StorageLevel.NONE)
    intercept[IllegalStateException] {
      Materialize.cached(df) { c =>
        assert(c.storageLevel !== StorageLevel.NONE)
        throw new IllegalStateException("body failed")
      }
    }
    assert(df.storageLevel === StorageLevel.NONE, "a throwing body left the cache pinned")
  }
}
