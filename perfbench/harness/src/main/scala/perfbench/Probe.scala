package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Task counters summed over the tasks of one Spark job. */
final class TaskTotals {
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var schedDelayMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L

  def +=(o: TaskTotals): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs
    schedDelayMs += o.schedDelayMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; peakExecMem = math.max(peakExecMem, o.peakExecMem)
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    outputRecords += o.outputRecords
  }
}

/** One Spark job as the listener saw it; `span` is the benchmark span that
  * was current on the submitting thread (0 if none).
  */
final class JobRecord(val id: Int, val span: Long, val startMs: Long) {
  var endMs: Long = startMs
  var stagesRun = 0
  val totals = new TaskTotals
}

/** Counters from Spark's listener APIs, registered only for traced passes.
  * Jobs are attributed to spans through the `SpanProperty` local property
  * the benchmark sets on its driver thread; planning phases come from each
  * executed query's `QueryPlanningTracker`.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val phaseBuf = mutable.ArrayBuffer.empty[(String, Long, Long)]

  def reset(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); phaseBuf.clear()
  }

  def jobRecords: Seq[JobRecord] = synchronized(jobs.values.toSeq)

  /** (phase, startMs, endMs) of every executed query. */
  def phases: Seq[(String, Long, Long)] = synchronized(phaseBuf.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Probe.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = new JobRecord(e.jobId, span, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stagesRun += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (jobId <- stageJob.get(e.stageId); job <- jobs.get(jobId) if m != null) {
      val t = job.totals
      val info = e.taskInfo
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.runMs += m.executorRunTime
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      t.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
      t.inputBytes += m.inputMetrics.bytesRead
      t.outputBytes += m.outputMetrics.bytesWritten
      t.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phaseBuf += ((name, p.startTimeMs, p.endTimeMs))
    }
  }
}

object Probe {
  val SpanProperty = "perfbench.span"
}
