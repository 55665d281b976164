package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters of one query execution, filled by [[Probe]] from Spark's
  * public listener events. Times are milliseconds unless named otherwise.
  */
final class QueryStats {
  var jobs, buildJobs, stages, tasks = 0L
  var schedDelayMs, runMs, cpuNs, gcMs, deserMs = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
  var shuffleWrite, shuffleRead, spillMem, spillDisk = 0L
  var inputBytes, inputRows, outputBytes, outputRows, scanFileBytes = 0L
  var queryExecs, analysisMs, optimizeMs, planningMs = 0L
  var topkSpills, topkSpillBytes = 0L
  var storagePeakBytes = 0L
  /** (jobId, phase, startMs, endMs) in epoch milliseconds */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  /** (stageId, jobId, submittedMs, completedMs) */
  val stageSpans = mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]
}

/** A SparkListener plus a QueryExecutionListener that attribute every event
  * to the query the driver is running. The driver drains the listener bus
  * after each query, so events never cross a query boundary.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  @volatile var current: QueryStats = new QueryStats

  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val blockBytes = mutable.Map.empty[String, Long]
  private var storedBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.PhaseProp)))
      .getOrElse("other")
    jobStart(e.jobId) = (phase, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    current.jobs += 1
    if (phase == "build") current.buildJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (phase, t0) =>
      current.jobSpans += ((e.jobId, phase, t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    current.stages += 1
    current.stageSpans += ((si.stageId, stageJob.getOrElse(si.stageId, -1),
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val q = current
    q.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      q.runMs += m.executorRunTime
      q.taskRunMs += m.executorRunTime
      q.cpuNs += m.executorCpuTime
      q.gcMs += m.jvmGCTime
      q.deserMs += m.executorDeserializeTime
      q.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      q.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      q.spillMem += m.memoryBytesSpilled
      q.spillDisk += m.diskBytesSpilled
      q.inputBytes += m.inputMetrics.bytesRead
      q.inputRows += m.inputMetrics.recordsRead
      q.outputBytes += m.outputMetrics.bytesWritten
      q.outputRows += m.outputMetrics.recordsWritten
      // the Spark UI's scheduler-delay formula
      val gettingResult =
        if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
      q.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val id = b.blockId.name
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      storedBytes += size - blockBytes.getOrElse(id, 0L)
      if (size > 0) blockBytes(id) = size else blockBytes.remove(id)
      current.storagePeakBytes = math.max(current.storagePeakBytes, storedBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { recordPlan(qe) }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    synchronized { recordPlan(qe) }

  private def recordPlan(qe: QueryExecution): Unit = {
    val q = current
    q.queryExecs += 1
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    q.analysisMs += ms("analysis")
    q.optimizeMs += ms("optimization")
    q.planningMs += ms("planning")
    Probe.nodes(qe.executedPlan).foreach { p =>
      // file scans report the bytes of the files they read; Spark's task
      // input metrics undercount parquet reads
      p.metrics.get("filesSize").foreach(m => q.scanFileBytes += m.value)
      if (p.getClass.getSimpleName == "TopKPerKeyExec") {
        p.metrics.get("numSpills").foreach(m => q.topkSpills += m.value)
        p.metrics.get("spillBytes").foreach(m => q.topkSpillBytes += m.value)
      }
    }
  }
}

object Probe {
  /** local property naming the span (build, plan, execute, sweep) a job
    * was launched from */
  val PhaseProp = "graftbench.phase"

  /** every physical node, looking through AQE wrappers and subqueries */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
