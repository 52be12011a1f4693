package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw Spark events of the traced phase, recorded from outside the program:
  * a SparkListener for jobs / stages / tasks and a QueryExecutionListener
  * for Catalyst phase times. Task metrics are folded per stage as they
  * arrive so memory stays proportional to the number of stages. The spans
  * and per-layer metrics are derived from these records by `run.py`. */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val jobEnds = new ConcurrentLinkedQueue[(Int, Long, Boolean)]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val phases = new ConcurrentLinkedQueue[PhaseRec]()
  /** SQL execution id -> (root execution id, call site of its action). */
  val executions = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()

  private def stage(id: Int): StageRec = stages.computeIfAbsent(id, _ => new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    jobs.add(JobRec(e.jobId, e.time, e.stageIds, prop(OpKey), prop(PhaseKey),
      prop("streaming.sql.batchId"), site, prop("spark.sql.execution.id")))
  }

  /** Adaptive execution submits a query's shuffle stages from a thread pool,
    * so those jobs carry a JDK call site; the SQL execution that owns them
    * carries the call site of the action that started it. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executions.put(s.executionId, (s.rootExecutionId.getOrElse(s.executionId), s.description))
    case _ =>
  }

  /** The call site of the action behind a job: its root SQL execution's,
    * else the job's own stage name. (A streaming batch's executions are
    * described by the batch, not by a call site.) */
  def siteOf(j: JobRec): String =
    scala.util.Try(j.execution.toLong).toOption.flatMap(id => Option(executions.get(id)))
      .map { case (root, site) => Option(executions.get(root)).map(_._2).getOrElse(site) }
      .filter(_.contains(" at ")).getOrElse(j.site)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.add((e.jobId, e.time, e.jobResult == JobSucceeded))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized { s.submitted = e.stageInfo.submissionTime.getOrElse(0L) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized {
      if (s.submitted == 0L) s.submitted = e.stageInfo.submissionTime.getOrElse(0L)
      s.completed = e.stageInfo.completionTime.getOrElse(0L)
      s.attempts += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      if (s.submitted > 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitted)
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add(PhaseRec(name, p.startTimeMs, p.endTimeMs))
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def jobEndsById: Map[Int, (Long, Boolean)] =
    jobEnds.asScala.map { case (id, t, ok) => id -> (t, ok) }.toMap
}

object Trace {
  /** Local properties the harness sets around every call into the program. */
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  final case class JobRec(id: Int, start: Long, stageIds: Seq[Int], op: String,
      phase: String, batch: String, site: String, execution: String)
  /** One Catalyst phase (analysis, optimization, planning) of one action. */
  final case class PhaseRec(name: String, start: Long, end: Long)

  final class StageRec(val id: Int) {
    var submitted, completed = 0L
    var attempts, tasks, failedTasks = 0
    var cpuNs, gcMs, shuffleWrite, shuffleRead, spill, inBytes, inRows, outBytes, waitMs = 0L
  }
}
