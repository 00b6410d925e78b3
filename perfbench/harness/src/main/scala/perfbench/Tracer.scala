package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spark's work inside one span, summed over its jobs, stages and tasks. */
final class Work {
  var jobs, stages, tasks, writeTasks = 0L
  var runMs, cpuNs, gcMs, shuffleReadB, shuffleWriteB, spillB, serialStageMs = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; writeTasks += o.writeTasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB
    spillB += o.spillB; serialStageMs += o.serialStageMs
  }
}

/** Counts Spark's work per span from outside the engine. The harness puts
  * the id of the innermost open span into the local property [[SpanKey]]
  * before each call; Spark copies local properties into every job the call
  * starts (also from its broadcast and subquery threads), so each job,
  * and through the job each stage and task, is charged to the span that
  * started it. Counts are complete once the listener bus is drained.
  * Span ids are never reused, and the harness takes each span's work after
  * its pass, so no pass's counts include another's.
  */
final class Tracer extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, String]
  private val writingStages = mutable.Set.empty[Int]
  private val bySpan = mutable.Map.empty[String, Work]

  private def work(span: String): Work = bySpan.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .getOrElse(Tracer.Untraced)
    e.stageIds.foreach(stageSpan(_) = span)
    work(span).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val w = work(stageSpan.getOrElse(e.stageId, Tracer.Untraced))
    w.tasks += 1
    if (m != null) {
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleReadB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      w.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      w.spillB += m.diskBytesSpilled
      if (m.outputMetrics.bytesWritten > 0 || m.outputMetrics.recordsWritten > 0)
        writingStages += e.stageId
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val w = work(stageSpan.getOrElse(si.stageId, Tracer.Untraced))
    w.stages += 1
    if (si.numTasks == 1)
      for (s <- si.submissionTime; f <- si.completionTime) w.serialStageMs += f - s
    if (writingStages(si.stageId)) w.writeTasks += si.numTasks
  }

  /** The work charged to `span` (zero if it started no job); the tracer
    * forgets it, so each span's work is read once. */
  def take(span: String): Work = synchronized(bySpan.remove(span).getOrElse(new Work))

  /** The spans whose work has not been taken yet. */
  def charged: Set[String] = synchronized(bySpan.keySet.toSet - Tracer.Untraced)
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Untraced = "-"
}

/** Keeps every query execution that finished inside the current span, so
  * the traced run can read the SQL row metrics of the plans that ran.
  */
final class PlanCollector extends QueryExecutionListener {
  private val done = mutable.ArrayBuffer.empty[QueryExecution]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(done += qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def take(): Seq[QueryExecution] = synchronized {
    val all = done.toList; done.clear(); all
  }
}
