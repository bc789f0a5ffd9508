package graftbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the traced run reads per op. Every field is written by the
  * listener-bus thread and read by the harness thread after the bus is
  * drained, so plain synchronized updates suffice.
  */
final class Counters {
  var jobs, eagerJobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillBytes = 0L
  var scanBytes, scanRows, writeBytes, writeRows = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  /** Output rows of the largest join in any query since the last reset. */
  var maxJoinRows = 0L

  def snapshot(): Map[String, Long] = synchronized(Map(
    "jobs" -> jobs, "eager_jobs" -> eagerJobs, "stages" -> stages,
    "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ns" -> taskCpuNs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spillBytes,
    "scan_bytes" -> scanBytes, "scan_rows" -> scanRows,
    "write_bytes" -> writeBytes, "write_rows" -> writeRows,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs))

  def takeMaxJoinRows(): Long = synchronized { val m = maxJoinRows; maxJoinRows = 0L; m }
}

object Recorder {
  /** Local property the harness sets around each op's query-function call,
    * so jobs started while a plan is being built count as eager jobs.
    */
  val PhaseKey = "graftbench.phase"
  val BuildPhase = "build"

  /** Output rows of the largest join anywhere in an executed plan,
    * following adaptive stages, cached relations and subqueries.
    */
  def maxJoinRows(plan: SparkPlan): Long = {
    val inner: Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    val own = plan match {
      case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case _ => 0L
    }
    (inner ++ plan.children ++ plan.subqueries).map(maxJoinRows).foldLeft(own)(math.max)
  }
}

final class SchedulerRecorder(c: Counters) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = c.synchronized {
    c.jobs += 1
    if (Option(e.properties).exists(p => p.getProperty(Recorder.PhaseKey) == Recorder.BuildPhase))
      c.eagerJobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c.synchronized { c.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = c.synchronized {
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.diskBytesSpilled
      c.scanBytes += m.inputMetrics.bytesRead
      c.scanRows += m.inputMetrics.recordsRead
      c.writeBytes += m.outputMetrics.bytesWritten
      c.writeRows += m.outputMetrics.recordsWritten
    }
  }
}

final class PlanRecorder(c: Counters) extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val joins = Recorder.maxJoinRows(qe.executedPlan)
    c.synchronized {
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
      c.maxJoinRows = math.max(c.maxJoinRows, joins)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}
