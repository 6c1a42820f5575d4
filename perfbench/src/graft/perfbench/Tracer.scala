package graft.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed interval at a layer boundary. Times are epoch
  * microseconds; `parent` is the id of the span that caused this one. */
final case class Span(id: String, parent: String, name: String, startUs: Long, endUs: Long)

/** Listener for one traced pass. It sees the program only from outside:
  * Spark's scheduler events and Catalyst's query-execution callbacks.
  *
  * Jobs are parented on the operation through the job group the benchmark
  * loop sets per operation, and on its phase (`build` or `execute`)
  * through the `perfbench.phase` local property. Catalyst phases carry
  * no job group, so `PerfBench` parents them by time after the pass. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** (startMs, endMs) of each Catalyst phase of every query execution. */
  val planPhases = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Σ executed-plan node count over the query executions. */
  var planNodes = 0L

  var jobs, buildJobs, stages, tasks, taskFailures = 0L
  var taskCpuNs, taskRunMs, taskWaitMs = 0L
  var bytesRead, rowsRead, shuffleWrite, shuffleRead, spill = 0L

  private val jobStart = mutable.HashMap.empty[Int, (Long, String)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  /** (startMs, endMs) of every finished job, for the union of job time. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def us(ms: Long): Long = ms * 1000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    val phase = props.flatMap(p => Option(p.getProperty("perfbench.phase"))).getOrElse("execute")
    if (phase == "build") buildJobs += 1
    jobStart(e.jobId) = (e.time, s"$group.$phase")
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, parent) =>
      jobIntervals += ((t0, e.time))
      spans += Span(s"job${e.jobId}", parent, "spark.job", us(t0), us(e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmitted(e.stageInfo.stageId) = _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages += 1
    for (t0 <- info.submissionTime; t1 <- info.completionTime)
      spans += Span(s"stage${info.stageId}.${info.attemptNumber()}",
        stageJob.get(info.stageId).map(j => s"job$j").getOrElse("none"),
        "spark.stage", us(t0), us(t1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != Success || e.taskInfo.attemptNumber > 0) taskFailures += 1
    stageSubmitted.get(e.stageId).foreach(t0 => taskWaitMs += math.max(0L, e.taskInfo.launchTime - t0))
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs += m.executorCpuTime
      taskRunMs += m.executorRunTime
      bytesRead += m.inputMetrics.bytesRead
      rowsRead += m.inputMetrics.recordsRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
      .foreach(p => planPhases += ((p.startTimeMs, p.endTimeMs)))
    planNodes += Tracer.planNodes(qe.executedPlan)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

object Tracer {
  /** Node count of a physical plan, descending into adaptive plans, query
    * stages and subqueries. */
  def planNodes(p: SparkPlan): Long = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => Nil
    }
    1L + (p.children ++ inner ++ p.subqueries).map(planNodes).sum
  }

  /** Total length of the union of closed intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total, curStart, curEnd = 0L
    var open = false
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curEnd) {
        if (open) total += curEnd - curStart
        curStart = s; curEnd = e; open = true
      } else curEnd = math.max(curEnd, e)
    }
    if (open) total += curEnd - curStart
    total
  }
}
