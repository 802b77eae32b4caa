package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Structural and executor counters of one query execution, summed over
  * the Spark jobs its job group launched. */
final class Counters {
  var jobs, constructJobs, stages, oneTaskStages, tasks, tasksOk = 0L
  var waitMs, runMs, cpuNs, gcMs = 0L
  var scanBytes, scanRows, shuffleWriteBytes, shuffleReadBytes = 0L
  var spillBytes, outputBytes, outputRows = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  /** [start, end] wall intervals (epoch ms) of jobs run during construction. */
  val constructJobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "construct_jobs" -> constructJobs, "stages" -> stages,
    "one_task_stages" -> oneTaskStages, "tasks" -> tasks,
    "tasks_ok" -> tasksOk, "wait_ms" -> waitMs, "run_ms" -> runMs,
    "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "scan_bytes" -> scanBytes,
    "scan_rows" -> scanRows, "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
    "output_bytes" -> outputBytes, "output_rows" -> outputRows,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs)
}

/** Listener side of the traced run. Jobs are attributed to a query through
  * their job group (the query's span id) and to a phase through the job
  * description; stages through their job, tasks through their stage.
  * `QueryExecutionListener` events carry no job group, so the runner
  * drains the bus after every query and they go to `current`. */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var current: String = "unattributed"

  private final case class Job(group: String, phase: String, start: Long,
      stageIds: Seq[Int], var end: Long = -1L, var ok: Boolean = false)
  private final case class Stage(job: Int, numTasks: Int, submitted: Long,
      var firstLaunch: Long = Long.MaxValue, var completed: Long = -1L)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val counters = mutable.Map.empty[String, Counters]

  private def of(group: String) = counters.getOrElseUpdate(group, new Counters)
  private def groupOfStage(stageId: Int) =
    stageJob.get(stageId).flatMap(jobs.get).map(_.group)

  def countersOf(group: String): Counters = synchronized(of(group))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("unattributed")
    val phase = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs(e.jobId) = Job(group, phase, e.time, e.stageIds)
    e.stageIds.foreach(stageJob(_) = e.jobId)
    val c = of(group)
    c.jobs += 1
    if (phase == "construct") c.constructJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
      if (j.phase == "construct") of(j.group).constructJobSpans += (j.start -> e.time)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    val job = stageJob.getOrElse(info.stageId, -1)
    stages((info.stageId, info.attemptNumber())) = Stage(job, info.numTasks,
      info.submissionTime.getOrElse(System.currentTimeMillis()))
    groupOfStage(info.stageId).foreach { g =>
      val c = of(g)
      c.stages += 1
      if (info.numTasks == 1) c.oneTaskStages += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages.get((info.stageId, info.attemptNumber())).foreach { s =>
      s.completed = info.completionTime.getOrElse(System.currentTimeMillis())
      if (s.firstLaunch != Long.MaxValue)
        groupOfStage(info.stageId).foreach(of(_).waitMs += s.firstLaunch - s.submitted)
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(groupOfStage(e.stageId).getOrElse("unattributed"))
    c.tasks += 1
    if (e.taskInfo.successful) c.tasksOk += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.scanBytes += m.inputMetrics.bytesRead
      c.scanRows += m.inputMetrics.recordsRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRows += m.outputMetrics.recordsWritten
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val c = of(current)
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    c.analysisMs += ms("analysis")
    c.optimizationMs += ms("optimization")
    c.planningMs += ms("planning")
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  /** Job and stage spans, parented job → `<query span>/<phase>` and
    * stage → job. */
  def spans: Seq[Map[String, Any]] = synchronized {
    val js = jobs.toSeq.map { case (id, j) =>
      Map("id" -> s"job$id", "parent" -> s"${j.group}/${j.phase}",
        "kind" -> "job", "start_ms" -> j.start, "end_ms" -> j.end,
        "ok" -> j.ok, "stages" -> j.stageIds.size)
    }
    val ss = stages.toSeq.map { case ((id, attempt), s) =>
      Map("id" -> s"stage$id.$attempt", "parent" -> s"job${s.job}",
        "kind" -> "stage", "start_ms" -> s.submitted, "end_ms" -> s.completed,
        "tasks" -> s.numTasks,
        "first_launch_ms" -> (if (s.firstLaunch == Long.MaxValue) -1L else s.firstLaunch))
    }
    js ++ ss
  }
}
