package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Scratch measurement probe (dev tooling, not part of the driver
  * contract): per-query phase breakdown — DataFrame build time, physical
  * planning time, execution wall time — plus scheduler-level counts
  * (jobs, stages, tasks, task time, shuffle MB written) from a listener.
  *
  * Separates the two optimization regimes the bench mixes together:
  * driver-side constant (plan/codegen/job launch — dominates the ~0.7 s
  * sub-second tail at sf0.1) vs genuine executor compute (the heavy
  * iterative/quadratic tier). SPARK_GRAFT_QUERIES selects queries
  * (comma-separated, or ALL), SPARK_GRAFT_SF_DIR the fixture and
  * SPARK_GRAFT_CPUS the width ([[GraftSession]]):
  * {{{
  * SPARK_GRAFT_QUERIES=g3_components,g5_kcore SPARK_GRAFT_SF_DIR=<sf-dir> \
  *   sbt "runMain graft.StatsProbe"
  * }}}
  * A/B a conf with a `-D` JVM property on the forked run: SparkConf loads
  * `spark.*` system properties, as build.sbt's `-Dspark.ui.enabled=false`
  * does. [[GraftSession]]'s own confs take precedence over them.
  * {{{
  * sbt 'set javaOptions += "-Dspark.sql.autoBroadcastJoinThreshold=-1"' \
  *   "runMain graft.StatsProbe"
  * }}}
  */
object StatsProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create()
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    val shuffle = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(t.taskMetrics).foreach { m =>
          taskMs.addAndGet(m.executorRunTime)
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val namesEnv = sys.env.getOrElse("SPARK_GRAFT_QUERIES", "b3_stats")
    val names =
      if (namesEnv == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else namesEnv.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    names.filterNot(SparkEntry.queries.contains) match {
      case Seq() =>
      case bad => sys.error(s"unknown queries: ${bad.mkString(", ")}")
    }
    val passes = if (namesEnv == "ALL") Seq(1) else Seq(1, 2)
    println("[stats] name pass build_s plan_s exec_s wall_s jobs stages tasks task_time_s shuffle_mb")
    for (n <- names; pass <- passes) {
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0); shuffle.set(0)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, dir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force analysis + optimization + planning
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      org.apache.spark.sql.GraftShims.waitListenerBus(spark, 10000)
      println(f"[stats] $n $pass ${(t1 - t0) / 1e9}%.2f ${(t2 - t1) / 1e9}%.2f " +
        f"${(t3 - t2) / 1e9}%.2f ${(t3 - t0) / 1e9}%.2f " +
        f"${jobs.get} ${stages.get} ${tasks.get} ${taskMs.get / 1e3}%.2f " +
        f"${shuffle.get / 1e6}%.2f")
    }
    spark.stop()
  }
}
