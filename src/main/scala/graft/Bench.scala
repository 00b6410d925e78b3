package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: every registered query against SPARK_GRAFT_SF_DIR,
  * one JSON metric line on stdout AND in ./bench_result.json (the file is
  * the robust channel — stdout is wrapped in sbt log noise).
  *
  * Queries are evaluated through the `noop` sink, which consumes every
  * output row/column without writing: `.count()` would let Catalyst prune
  * all columns of projection-only queries and time a bare scan+count
  * instead of the expressions under test.
  *
  * Noise robustness: the bench box is routinely contended (rounds 6-8
  * each showed 10-20x inflated tail readings that clean re-measures
  * disowned), so any query whose first pass exceeds RETIME_SEC gets ONE
  * re-run and reports min(pass1, pass2) — an external CPU spike can
  * inflate a reading but nothing can deflate one, so min is the
  * defensible estimator. `value` (the headline total) stays the
  * SINGLE-pass sum for round-over-round comparability; only the
  * per-query map is best-of-2.
  *
  * Failures are NOT swallowed into timings: a failed query records its
  * exception class in `errors` and bumps `n_errors`, so a broken query can
  * never lower total time unnoticed. Errors are never retried — a flaky
  * failure must stay visible.
  */
object Bench {
  private val RetimeSec = 1.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    // The ~21 whitelisted bounded-domain global windows each emit a
    // WindowExec single-partition WARN — silence the logger and replace
    // the noise with an explicit audit against GlobalWindows.whitelist
    // below, so a SURPRISE partition-less window from a future query is
    // one visible line instead of buried in expected chatter.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    val windowSurprises = scala.collection.mutable.ArrayBuffer.empty[String]
    var windowExpected = 0
    // Warm the session (context init, codegen compiler, shuffle system)
    // so fixed JVM startup cost isn't attributed to the first query.
    spark.range(1000000).selectExpr("sum(id)").collect()
    def time(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        audit: Boolean = false): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try {
          val df = fn(spark, sfDir)
          if (audit) {
            val n = GlobalWindows.countPartitionless(df.queryExecution.sparkPlan)
            val exp = GlobalWindows.whitelist.get(name).map(_._1).getOrElse(0)
            if (n == exp) windowExpected += n
            else windowSurprises +=
              s"$name: $n partition-less WindowExec (whitelist expects $exp)"
          }
          df.write.format("noop").mode("overwrite").save(); None
        }
        catch { case e: Throwable => Some(e.getClass.getName) }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (t, err) = time(name, fn, audit = true); (name, fn, t, err)
    }
    val singlePassTotal = firstPass.map(_._3).sum
    val results = firstPass.map { case (name, fn, t1, err) =>
      if (err.isEmpty && t1 > RetimeSec) {
        val (t2, err2) = time(name, fn)
        if (err2.isEmpty) (name, math.min(t1, t2), err) else (name, t1, err)
      } else (name, t1, err)
    }
    val sfName = Paths.get(sfDir).getFileName.toString
    if (windowSurprises.nonEmpty)
      println(s"[bench] WINDOW-AUDIT SURPRISE (unwhitelisted single-reducer " +
        s"sort — fix or justify in GlobalWindows.whitelist): " +
        windowSurprises.mkString("; "))
    else
      println(s"[bench] window-audit: $windowExpected partition-less " +
        s"WindowExec, all from GlobalWindows.whitelist; 0 surprises " +
        s"(WindowExec WARNs silenced in this JVM)")
    println(formatLine(results, sfName, budget = 1900, Some(singlePassTotal)))
    Files.writeString(Paths.get("bench_result.json"),
      fullLine(results, sfName, Some(singlePassTotal)) + "\n")
    spark.stop()
  }

  private def fmt(v: Double, p: String): String =
    String.format(java.util.Locale.ROOT, p, Double.box(v))

  /** The full-fidelity line for bench_result.json: centisecond timings for
    * every query plus the complete per-query error map.
    */
  private[graft] def fullLine(results: Seq[(String, Double, Option[String])],
      sfName: String, total: Option[Double] = None): String =
    line(results, sfName, "%.2f", results.size, results.size, total)

  /** The stdout line. The consumer captures only the LAST ~2000 bytes of
    * stdout and JSON-parses them: a line longer than the window gets its head
    * cut off and parses as nothing (observed "parsed": null, rounds 1-4).
    * Full fidelity always goes to ./bench_result.json; the stdout line
    * degrades deterministically until it fits, in this order:
    *   1. centisecond → decisecond timing precision;
    *   2. the full errors map → a count plus the first 5 erroring names
    *      (round 7 showed a 23-entry error blob evicting ALL timings);
    *   3. only then fewer per-query timings (slowest first), never below the
    *      top 10 — the performance-relevant tail always survives.
    * Truncation is always explicit via "q_omitted" / "n_errors".
    */
  private[graft] def formatLine(
      results: Seq[(String, Double, Option[String])], sfName: String, budget: Int,
      total: Option[Double] = None): String = {
    val nErr = results.count(_._3.isDefined)
    val candidates =
      Iterator(line(results, sfName, "%.2f", results.size, nErr, total),
               line(results, sfName, "%.1f", results.size, nErr, total),
               line(results, sfName, "%.1f", results.size, 5, total)) ++
        Iterator.iterate(results.size - 5)(_ - 5).takeWhile(_ >= 10)
          .map(line(results, sfName, "%.1f", _, 5, total)) ++
        Iterator(line(results, sfName, "%.1f", 10, 0, total))
    candidates.find(_.length <= budget)
      .getOrElse(line(results, sfName, "%.1f", 10, 0, total))
  }

  private def line(results: Seq[(String, Double, Option[String])], sfName: String,
                   prec: String, keep: Int, errKeep: Int,
                   totalOverride: Option[Double] = None): String = {
    val nErr = results.count(_._3.isDefined)
    val errs =
      if (nErr == 0) ""
      else if (errKeep >= nErr)
        results.collect { case (k, _, Some(e)) => "\"" + k + "\":\"" + e + "\"" }
          .mkString(""""errors":{""", ",", "},")
      else
        results.collect { case (k, _, Some(_)) => "\"" + k + "\"" }.take(errKeep)
          .mkString(""""error_sample":[""", ",", "],")
    val total = totalOverride.getOrElse(results.map(_._2).sum)
    val bySlow = results.sortBy(-_._2).take(keep).sortBy(_._1)
    val qs = bySlow.map { case (k, v, _) => "\"" + k + "\":" + fmt(v, prec) }
      .mkString("{", ",", "}")
    val omitted =
      if (keep >= results.size) "" else s""""q_omitted":${results.size - keep},"""
    s"""{"metric":"total","value":${fmt(total, "%.2f")},"unit":"sec","queries":$qs,$omitted$errs"n_errors":$nErr,"sf":"$sfName"}"""
  }
}
