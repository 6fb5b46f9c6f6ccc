package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run, fed only by Spark's public
  * hooks: a [[SparkListener]] for jobs, stages, tasks and SQL executions,
  * and a [[QueryExecutionListener]] for the Catalyst phase times
  * (`QueryPlanningTracker`) and the scan/write metrics of each executed
  * plan. Jobs, stages and executions carry the job group the harness sets
  * per op; query executions are linked to their op by time. All times are
  * epoch milliseconds. The records are rendered to JSON at exit. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val jobStart = scala.collection.mutable.Map.empty[Int, (String, Long)]
  private val stageGroup = scala.collection.mutable.Map.empty[Int, String]
  private final class StageAgg {
    var firstLaunch = Long.MaxValue; var tasks = 0L; var busy = 0L; var cpuNs = 0L
    var maxTask = 0L; var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var inputBytes = 0L
  }
  private val stageAgg = scala.collection.mutable.Map.empty[(Int, Int), StageAgg]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val execStart = scala.collection.mutable.Map.empty[Long, (String, Long, Boolean)]
  private val execs = ArrayBuffer.empty[Map[String, Any]]
  private val qes = ArrayBuffer.empty[Map[String, Any]]

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = (group(e.properties), e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      jobs += Map("group" -> g, "start" -> t0, "end" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup(e.stageInfo.stageId) = group(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
    val ti = e.taskInfo
    a.tasks += 1
    a.firstLaunch = math.min(a.firstLaunch, ti.launchTime)
    val dur = ti.finishTime - ti.launchTime
    a.busy += dur
    a.maxTask = math.max(a.maxTask, dur)
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val a = stageAgg.remove((si.stageId, si.attemptNumber())).getOrElse(new StageAgg)
    val submit = si.submissionTime.getOrElse(0L)
    stages += Map("group" -> stageGroup.getOrElse(si.stageId, ""),
      "submit" -> submit, "end" -> si.completionTime.getOrElse(submit),
      "tasks" -> a.tasks, "first_launch" -> (if (a.tasks > 0) a.firstLaunch else submit),
      "busy_ms" -> a.busy, "cpu_ms" -> a.cpuNs / 1e6, "max_task_ms" -> a.maxTask,
      "shuffle_read" -> a.shuffleRead, "shuffle_write" -> a.shuffleWrite,
      "spill" -> a.spill, "input_bytes" -> a.inputBytes)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execStart(s.executionId) = (s.jobGroupId.getOrElse(""), s.time,
          s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand"))
      case x: SparkListenerSQLExecutionEnd =>
        execStart.remove(x.executionId).foreach { case (g, t0, write) =>
          execs += Map("group" -> g, "start" -> t0, "end" -> x.time, "write" -> write)
        }
      case _ =>
    }
  }

  /** Every node of an executed plan, through adaptive stages, command
    * results and subqueries. */
  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children ++ p.subqueries
    }
    kids.foreach(walk(_)(f))
  }

  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> Seq(v.startTimeMs, v.endTimeMs) }
    var scanFiles, scanBytes, scanRows, writeRows, writeFiles, writeBytes = 0L
    def m(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
    try walk(qe.executedPlan) {
      case s: FileSourceScanExec =>
        scanFiles += m(s, "numFiles"); scanBytes += m(s, "filesSize")
        scanRows += m(s, "numOutputRows")
      case w: DataWritingCommandExec =>
        writeRows += m(w, "numOutputRows"); writeFiles += m(w, "numFiles")
        writeBytes += m(w, "numOutputBytes")
      case _ =>
    } catch { case _: Exception => () } // a plan that failed to plan has no metrics
    val start = if (phases.isEmpty) 0L else phases.values.map(_.head).min
    synchronized {
      qes += Map("start" -> start, "phases" -> phases, "ok" -> ok,
        "scan_files" -> scanFiles, "scan_bytes" -> scanBytes, "scan_rows" -> scanRows,
        "write_rows" -> writeRows, "write_files" -> writeFiles, "write_bytes" -> writeBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, ok = false)

  def snapshot: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toList, "stages" -> stages.toList, "execs" -> execs.toList,
      "qes" -> qes.toList)
  }
}
