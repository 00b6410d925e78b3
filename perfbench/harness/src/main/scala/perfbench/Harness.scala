package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.jobs.{CollectorJob, CorpusPrepJob, MaintenanceJob, TransformJob}

/** One benchmark run in one JVM, driven through the engine's public entry
  * points only (`SparkEntry.queries`, `SparkEntry.oracleSql`, `graft.jobs`,
  * `graft.sources.Sinks`). perfbench/run.py prepares the inputs and
  * launches it as
  *
  * {{{
  * Harness --workload <registry|etl> --fixture <dir> --work <dir>
  *         --ops <op,op,...> --seconds <s> --min-passes <n> --trace <0|1> --cores <n>
  *         --warm-threads <n>
  * }}}
  *
  * The run opens the session, runs one untimed warm-up pass, then runs
  * whole timed passes over the ops, at least `--min-passes` of them and
  * until `--seconds` have passed. Everything it measures goes to `<work>/harness.out`, one
  * tab-separated record a line (see [[Harness.emit]]); with `--trace 1`
  * each pass is split into spans whose Spark work a [[Tracer]] counts, and
  * the spans go to `<work>/trace.jsonl`.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val h = new Harness(opts)
    try h.run() finally h.close()
  }

  /** `s` as a JSON string literal. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

final class Harness(opts: Map[String, String]) extends AdaptiveSparkPlanHelper {

  private val workload = opts("workload")
  private val work = opts("work")
  private val fixture = opts("fixture")
  private val ops = opts("ops").split(',').toSeq
  private val seconds = opts("seconds").toDouble
  private val traced = opts("trace") == "1"
  private val cores = opts("cores").toInt
  private val warmThreads = opts("warm-threads").toInt
  private val minPasses = opts("min-passes").toInt
  private val out = new PrintWriter(s"$work/harness.out")
  private val traceOut = if (traced) Some(new PrintWriter(s"$work/trace.jsonl")) else None
  private val heap = new HeapPeak
  private val spark: SparkSession = session()
  private val tracer = new Tracer
  private val plans = new PlanCollector

  /** One record: kind, then its fields, tab-separated. Kinds:
    * `op pass name seconds ok`, `cpu pass name seconds` (timed passes),
    * `pass pass wall_s heap_peak_mb`,
    * `first_op_ms epoch_ms`, `result pass op key value`,
    * `fail pass op message`, `layer pass metric value`,
    * `oplayer pass op metric value`. Pass 0 is the untimed warm-up pass. */
  private def emit(fields: Any*): Unit = out.synchronized {
    out.println(fields.map(_.toString.replaceAll("[\t\n\r]", " ")).mkString("\t"))
    out.flush()
  }

  /** Runs each group's ops in order, the groups side by side on
    * `--warm-threads` threads: the warm-up pass is untimed, and independent
    * ops warm the JVM faster together than one after the other. */
  private def concurrently(groups: Seq[Seq[String]])(runOp: String => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(warmThreads)
    try groups.map(g => pool.submit(new Runnable { def run(): Unit = g.foreach(runOp) })).foreach(_.get())
    finally pool.shutdown()
  }

  private def session(): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def close(): Unit = {
    heap.stop()
    out.close()
    traceOut.foreach(_.close())
    spark.stop()
  }

  def run(): Unit = {
    val w: Workload = workload match {
      case "registry" => new Queries(fixture)
      case "etl" => new Etl
      case other => sys.error(s"unknown workload $other")
    }
    spark.range(1000000).selectExpr("sum(id)").collect()
    w.warmUp()
    if (traced) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(plans)
    }
    var t0 = 0L
    var pass = 1
    while (pass <= minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      w.reset()
      // each timed pass starts from a collected heap, so heap_peak_mb
      // counts what the pass itself keeps alive, not what the warm-up or
      // an earlier pass left behind
      System.gc()
      if (pass == 1) {
        emit("first_op_ms", System.currentTimeMillis())
        t0 = System.nanoTime()
      }
      if (traced) tracedPass(w, pass) else timedPass(w, pass)
      pass += 1
    }
  }

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU time so far of each live Java thread: the driver's, Spark's
    * scheduler and task threads. The JIT compiler's and the collector's
    * threads are not Java threads, and time the machine gave to other
    * guests is not CPU time of ours. */
  private def threadCpuNs(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  private def timed(pass: Int, op: String)(body: => Unit): Double = {
    val cpu0 = if (pass > 0) threadCpuNs() else Map.empty[Long, Long]
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case e: Throwable => emit("fail", pass, op, s"${e.getClass.getName}: ${e.getMessage}"); false
    }
    val s = (System.nanoTime() - t0) / 1e9
    emit("op", pass, op, s, if (ok) 1 else 0)
    if (pass > 0) {
      // threads that ended during the op take their CPU time with them
      val cpu = threadCpuNs().map { case (id, ns) => ns - cpu0.getOrElse(id, 0L) }.sum
      emit("cpu", pass, op, cpu / 1e9)
    }
    s
  }

  private def timedPass(w: Workload, pass: Int): Unit = {
    heap.reset()
    val t0 = System.nanoTime()
    ops.foreach(op => timed(pass, op)(w.runOp(pass, op)))
    emit("pass", pass, (System.nanoTime() - t0) / 1e9, heap.peakMb)
  }

  // ---- traced passes ------------------------------------------------------

  private case class Span(id: Int, parent: Int, op: String, layer: String,
      startMs: Long, var endMs: Long = 0L, var seconds: Double = 0.0)
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  /** Span ids rise across passes, so no two spans of a run share an id. */
  private var lastSpanId = 0
  private var openSpan = 0
  /** True inside a traced pass only: the warm-up runs ops on several
    * threads, and spans are kept for the timed passes alone. */
  @volatile private var tracing = false

  /** Runs `body` as a span of `layer`; Spark jobs it starts are charged to it. */
  private def span[T](op: String, layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    lastSpanId += 1
    val s = Span(lastSpanId, openSpan, op, layer, System.currentTimeMillis())
    spans += s
    val (prevOpen, prevProp) = (openSpan, sc.getLocalProperty(Tracer.SpanKey))
    openSpan = s.id
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    val t0 = System.nanoTime()
    try body finally {
      s.seconds = (System.nanoTime() - t0) / 1e9
      s.endMs = System.currentTimeMillis()
      openSpan = prevOpen
      sc.setLocalProperty(Tracer.SpanKey, prevProp)
    }
  }

  /** Times a DataFrame-producing call in three layers: building it (the
    * operators' eager work), planning it, and running `action` on it. */
  private def layered(op: String)(build: => DataFrame)(action: DataFrame => Unit): Unit = {
    val df = span(op, "operators.build")(build)
    span(op, "plans.plan")(df.queryExecution.executedPlan)
    span(op, "exec.exec")(action(df))
  }

  private def tracedPass(w: Workload, pass: Int): Unit = {
    tracing = true
    try tracedOps(w, pass) finally tracing = false
  }

  private def tracedOps(w: Workload, pass: Int): Unit = {
    spans.clear()
    plans.take()
    heap.reset()
    val t0 = System.nanoTime()
    val passSpan = span("pass", "pass") {
      ops.foreach { op =>
        span(op, "op")(timed(pass, op)(w.runOp(pass, op)))
        PerfbenchBus.drain(spark.sparkContext)
        val (cand, verified) = yieldRows(plans.take())
        emit("oplayer", pass, op, "exec.candidates", cand)
        emit("oplayer", pass, op, "exec.verified", verified)
      }
      spans.head
    }
    val wall = (System.nanoTime() - t0) / 1e9
    emit("pass", pass, wall, heap.peakMb)
    PerfbenchBus.drain(spark.sparkContext)
    val own = spans.map(s => s.id -> tracer.take(s.id.toString)).toMap
    // every job of the pass ran inside one of its spans, so once their
    // work is taken none is left over for a later pass to count again
    val stray = tracer.charged
    require(stray.isEmpty, s"pass $pass: work charged to spans ${stray.mkString(",")} outside the pass")
    def subtree(id: Int): Work = {
      val w = new Work; w += own(id)
      spans.filter(_.parent == id).foreach(c => w += subtree(c.id)); w
    }
    traceOut.foreach { t =>
      spans.foreach { s => t.println(spanJson(pass, s, subtree(s.id))) }
      t.flush()
    }
    // per-layer sums, for the whole pass and for each op
    val scopes = ("*" -> spans.filter(_.layer != "pass").toSeq) +:
      ops.map(op => op -> spans.filter(s => s.op == op).toSeq)
    scopes.foreach { case (scope, ss) =>
      val total = new Work
      ss.foreach(s => total += own(s.id))
      if (scope == "*") total += own(passSpan.id)
      def secs(layer: String) = ss.filter(_.layer == layer).map(_.seconds).sum
      def jobsOf(layer: String) = ss.filter(_.layer == layer).map(s => own(s.id).jobs).sum
      val opWall = if (scope == "*") wall else ss.filter(_.layer == "op").map(_.seconds).sum
      val metrics = Seq(
        "operators.build_s" -> secs("operators.build"),
        "operators.build_jobs" -> jobsOf("operators.build"),
        "plans.plan_s" -> secs("plans.plan"),
        "exec.exec_s" -> secs("exec.exec"),
        "exec.jobs" -> jobsOf("exec.exec"),
        "scheduler.jobs" -> total.jobs,
        "scheduler.stages" -> total.stages,
        "scheduler.tasks" -> total.tasks,
        "scheduler.task_s" -> total.runMs / 1e3,
        "scheduler.cpu_s" -> total.cpuNs / 1e9,
        "scheduler.gc_s" -> total.gcMs / 1e3,
        "scheduler.utilization" -> (if (opWall > 0) total.runMs / 1e3 / (opWall * cores) else 0.0),
        "scheduler.shuffle_read_mb" -> total.shuffleReadB / 1e6,
        "scheduler.shuffle_write_mb" -> total.shuffleWriteB / 1e6,
        "scheduler.spill_mb" -> total.spillB / 1e6,
        "scheduler.serial_stage_s" -> total.serialStageMs / 1e3,
        "sources.write_tasks" -> total.writeTasks) ++
        etlJobNames.map(j => s"jobs.${j}_s" -> secs(s"jobs.$j"))
      metrics.foreach { case (m, v) =>
        if (scope == "*") emit("layer", pass, m, v) else emit("oplayer", pass, scope, m, v)
      }
    }
    w.written().foreach { case (files, bytes) =>
      emit("layer", pass, "sources.files_written", files)
      emit("layer", pass, "sources.bytes_written_mb", bytes / 1e6)
    }
  }

  private def spanJson(pass: Int, s: Span, w: Work): String = {
    import Harness.{jsonString => q}
    Seq("pass" -> pass, "id" -> s.id, "parent" -> s.parent, "op" -> q(s.op),
      "layer" -> q(s.layer), "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "seconds" -> s.seconds, "jobs" -> w.jobs, "stages" -> w.stages,
      "tasks" -> w.tasks, "task_s" -> w.runMs / 1e3, "cpu_s" -> w.cpuNs / 1e9,
      "gc_s" -> w.gcMs / 1e3, "shuffle_read_mb" -> w.shuffleReadB / 1e6,
      "shuffle_write_mb" -> w.shuffleWriteB / 1e6, "spill_mb" -> w.spillB / 1e6,
      "serial_stage_s" -> w.serialStageMs / 1e3, "write_tasks" -> w.writeTasks)
      .map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
  }

  /** Candidate and verified pair counts of the plans that ran: the output
    * rows of the largest join, and those of the filter nearest above it
    * (the verify predicate). A join whose verify sits in its own condition
    * reports its output as both. */
  private def yieldRows(qes: Seq[QueryExecution]): (Long, Long) = {
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    val found = qes.flatMap { qe =>
      collectWithSubqueries(qe.executedPlan) {
        case f: FilterExec if f.find(_.isInstanceOf[BaseJoinExec]).isDefined =>
          val j = f.collect { case j: BaseJoinExec => j }.maxBy(rows)
          (rows(j), rows(f))
        case j: BaseJoinExec => (rows(j), rows(j))
      }
    }
    if (found.isEmpty) (0L, 0L) else found.maxBy(_._1)
  }

  // ---- workloads ------------------------------------------------------------

  private trait Workload {
    /** The untimed pass 0, which warms the JVM before the timed passes. */
    def warmUp(): Unit
    def reset(): Unit = ()
    def runOp(pass: Int, op: String): Unit
    /** Data files and bytes under the output trees, if the workload writes. */
    def written(): Option[(Long, Long)] = None
  }

  /** registry: each op is one `SparkEntry.queries` entry, run into the
    * `noop` sink; the warm-up pass writes each result as parquet for the
    * oracle check and dumps the query's DuckDB oracle SQL beside it. */
  private final class Queries(dir: String) extends Workload {
    private val registry = SparkEntry.queries
    ops.foreach(q => require(registry.contains(q), s"no query named $q"))

    def warmUp(): Unit = {
      concurrently(ops.map(Seq(_)))(q => timed(0, q)(registry(q)(spark, dir)
        .coalesce(1).write.mode("overwrite").parquet(s"$work/results/$q")))
      val oracles = ops.map(q => q -> Map("oracle" -> SparkEntry.oracleSql.get(q),
        "referee" -> SparkEntry.scaleOracleSql.get(q), "slice" -> SparkEntry.scaleSparkSql.get(q)))
      writeJson(s"$work/oracle.json", oracles)
      Files.writeString(Paths.get(s"$work/fixture_dir"), dir)
    }

    def runOp(pass: Int, op: String): Unit = {
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      if (tracing) layered(op)(registry(op)(spark, dir))(noop)
      else noop(registry(op)(spark, dir))
    }
  }

  /** etl: the raw → refined → marts chain, the corpus prep and the table
    * maintenance, each pass from an emptied output tree; the oracle checks
    * the last timed pass's outputs. The inputs are staged beside the
    * fixture (the events as the raw layer, the orders split into many
    * files, the simulated fetch's bars and failures), and a copy of them a
    * tenth the size in `warmup/` feeds the warm-up pass. */
  private final class Etl extends Workload {
    private val main = new EtlTree(fixture, s"$work/etl")
    private val warm = new EtlTree(s"$fixture/warmup", s"$work/etl_warmup")

    /** Warms up on the small copy of the inputs, running the chains that
      * share no input or output side by side. */
    def warmUp(): Unit = {
      warm.reset()
      val chains = Seq(Seq("transform", "marts_summary", "marts_athena"), Seq("corpus_prep"),
        Seq("collector", "maintenance"))
      require(chains.flatten.sorted == ops.sorted, s"etl ops ${ops.mkString(",")}")
      concurrently(chains)(op => timed(0, op)(warm.runOp(0, op)))
      val summary = "b3_flagship_summary"
      writeJson(s"$work/oracle.json", Seq(summary -> Map("oracle" -> SparkEntry.oracleSql.get(summary))))
    }
    override def reset(): Unit = main.reset()
    def runOp(pass: Int, op: String): Unit = main.runOp(pass, op)
    override def written(): Option[(Long, Long)] = main.written()
  }

  /** The ETL ops over the inputs in `in`, writing under `o`. */
  private final class EtlTree(in: String, o: String) {
    private val rawEvents = s"$in/raw_events.parquet"
    private val ordersSplit = s"$in/orders_split"
    private val maint = s"$o/orders"
    private val (tickers, fetch) = simulatedFetch()

    /** The collector's fetch: each ticker's bars from `fetch.tsv`, as rows
      * of the raw collector schema, and an IOException for the tickers
      * listed in `fetch_failing.txt`. */
    private def simulatedFetch(): (Seq[String], String => Seq[Row]) = {
      val failing = lines(s"$in/fetch_failing.txt").toSet
      val bars = lines(s"$in/fetch.tsv").map(_.split('\t')).groupBy(_(0)).map {
        case (t, rs) => t -> rs.map(r => Row(new java.sql.Timestamp(r(1).toLong / 1000),
          r(2).toDouble, r(3).toDouble, r(4).toDouble, r(5).toDouble, r(6).toLong,
          r(7).toDouble, r(8).toDouble, t))
      }
      val fetch = (t: String) =>
        if (failing(t)) throw new java.io.IOException(s"simulated fetch failure for $t")
        else bars.getOrElse(t, Seq.empty)
      (lines(s"$in/fetch_tickers.txt"), fetch)
    }

    private def lines(path: String): Seq[String] =
      Files.readAllLines(Paths.get(path)).toArray.map(_.toString).filter(_.nonEmpty).toSeq

    def reset(): Unit = {
      org.apache.commons.io.FileUtils.deleteDirectory(new File(o))
      new File(maint).mkdirs()
      new File(ordersSplit).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        Files.copy(f.toPath, Paths.get(maint, f.getName), StandardCopyOption.REPLACE_EXISTING)
      }
      graft.sources.Sinks.createOrReplaceExternal(spark, "perfbench_orders", maint, Nil)
    }

    def runOp(pass: Int, op: String): Unit = {
      def job[T](name: String)(body: => T): T = if (tracing) span(op, s"jobs.$name")(body) else body
      def write(path: String)(df: DataFrame): Unit =
        df.coalesce(1).write.mode("overwrite").parquet(path)
      def mart(path: String)(build: => DataFrame): Unit =
        if (tracing) layered(op)(build)(write(path)) else write(path)(build)
      op match {
        case "collector" =>
          val n = job("collector")(CollectorJob.run(spark, tickers, fetch, s"$o/raw", Some("perfbench_raw")))
          emit("result", pass, op, "rows", n)
        case "transform" =>
          val n = job("transform")(TransformJob.run(spark, rawEvents, s"$o/refined", Some("perfbench_refined")))
          emit("result", pass, op, "rows", n)
        case "marts_summary" =>
          job("marts")(mart(s"$o/summary")(TransformJob.summaryMart(spark, s"$o/refined")))
        case "marts_athena" =>
          job("marts")(mart(s"$o/athena")(TransformJob.athenaStyleSummary(spark, "perfbench_refined")))
        case "corpus_prep" =>
          job("corpus_prep") {
            val manifest = CorpusPrepJob.run(spark, s"$in/documents.parquet", s"$o/shards",
              Some("perfbench_shards"))
            if (tracing) span(op, "exec.exec")(write(s"$o/manifest")(manifest))
            else write(s"$o/manifest")(manifest)
          }
        case "maintenance" =>
          val (before, after, profile) = job("maintenance")(MaintenanceJob.run(spark, maint,
            Seq("o_totalprice", "o_custkey"),
            Seq("price_positive" -> (col("o_totalprice") > 0),
              "status_known" -> col("o_orderstatus").isin("F", "O", "P"),
              "key_present" -> col("o_orderkey").isNotNull),
            Some("perfbench_orders")))
          emit("result", pass, op, "files_before", before)
          emit("result", pass, op, "files_after", after)
          emit("result", pass, op, "profile_rows", profile.length)
        case other => sys.error(s"unknown etl op $other")
      }
    }

    def written(): Option[(Long, Long)] = {
      val files = Files.walk(Paths.get(o)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.matches("^[._].*"))
      Some((files.length.toLong, files.map(Files.size).sum))
    }
  }

  private val etlJobNames = Seq("collector", "transform", "marts", "corpus_prep", "maintenance")

  private def writeJson(path: String, m: Seq[(String, Map[String, Option[String]])]): Unit = {
    import Harness.{jsonString => q}
    val body = m.map { case (k, v) =>
      q(k) + ":" + v.map { case (f, s) => q(f) + ":" + s.map(q).getOrElse("null") }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(path), body)
  }
}

/** Peak heap in use after a collection: the largest heap occupancy the
  * collector could not free, summed over the memory pools, read from the
  * JVM's garbage-collection notifications. */
final class HeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        synchronized { if (used > peak) peak = used }
      }
  }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  beans.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = peak / 1e6
  def stop(): Unit =
    beans.foreach(_.asInstanceOf[NotificationEmitter].removeNotificationListener(listener))
}
