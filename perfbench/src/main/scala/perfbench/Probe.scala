package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** Task metrics summed over a set of tasks. */
final class TaskSums {
  var tasks = 0L
  var failed = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var fetchWaitMs = 0L
  var peakExecMem = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
  var taskWaitMs = 0L

  def add(o: TaskSums): Unit = {
    tasks += o.tasks; failed += o.failed; cpuNs += o.cpuNs; runMs += o.runMs
    gcMs += o.gcMs; fetchWaitMs += o.fetchWaitMs
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    recordsRead += o.recordsRead; bytesRead += o.bytesRead
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; bytesWritten += o.bytesWritten
    recordsWritten += o.recordsWritten; taskWaitMs += o.taskWaitMs
  }
}

/** One Spark job as the listener saw it: the job group it ran under
  * (the benchmark sets one per operation, or per span when tracing),
  * the user call site Spark recorded for it, and its tasks' metrics. */
final class JobRec(val id: Int, val group: String, val callSite: String,
    val start: Long, val stageIds: Seq[Int]) {
  var end: Long = -1L
  val sums = new TaskSums
  var stagesRun = 0
}

/** SparkListener that attributes every task to the job, and so to the
  * job group, that ran it, and counts the exchanges in each SQL
  * execution's final plan. Registered by the benchmark; the engine is
  * not changed. Read it only after `PerfbenchBridge.drainListeners`. */
final class Probe extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageSubmit = mutable.Map[Int, Long]()
  /** SQL execution id -> exchange count of its latest plan */
  private val executions = mutable.Map[Long, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    // the result stage (highest id) carries the job's long call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs(e.jobId) = new JobRec(e.jobId, group, site, e.time, e.stageIds)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSubmit(si.stageId) = si.submissionTime.getOrElse(System.currentTimeMillis())
    stageJob.get(si.stageId).flatMap(jobs.get).foreach(_.stagesRun += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val job = stageJob.get(e.stageId).flatMap(jobs.get)
    if (job.isEmpty) return
    val s = job.get.sums
    s.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) s.failed += 1
    stageSubmit.get(e.stageId).foreach(t0 =>
      s.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t0))
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      s.recordsRead += m.inputMetrics.recordsRead
      s.bytesRead += m.inputMetrics.bytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.bytesWritten += m.outputMetrics.bytesWritten
      s.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        executions(s.executionId) = Probe.exchanges(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        executions(u.executionId) = Probe.exchanges(u.sparkPlanInfo)
      case _ =>
    }
  }

  /** Every job recorded since the last `clear`, in start order. */
  def allJobs: Seq[JobRec] = synchronized(jobs.values.toSeq)

  /** Exchanges summed over the SQL executions since the last `clear`. */
  def allExchanges: Int = synchronized(executions.values.sum)

  /** Forget everything recorded so far (between operations). */
  def clear(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); stageSubmit.clear(); executions.clear()
  }
}

object Probe {
  /** Shuffle and broadcast Exchange nodes in a physical plan (a reused
    * exchange is not counted again). */
  def exchanges(p: SparkPlanInfo): Int =
    (if (p.nodeName == "Exchange" || p.nodeName == "BroadcastExchange" ||
        p.nodeName == "ShuffleExchange") 1 else 0) +
      p.children.map(exchanges).sum
}
