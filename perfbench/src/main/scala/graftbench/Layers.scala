package graftbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** Scheduler-side counters for the traced run. Every op sets the local
  * property [[Layers.SpanKey]] to its span id; jobs, their stages and
  * their tasks are attributed to that span through it.
  */
final class Layers extends SparkListener {
  import Layers._

  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val jobById = mutable.HashMap.empty[Int, Job]
  val jobs: mutable.ArrayBuffer[Job] = mutable.ArrayBuffer.empty
  val bySpan: mutable.HashMap[Long, Counts] = mutable.HashMap.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(NoSpan)
    val j = Job(e.jobId, span, e.time)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = bySpan.getOrElseUpdate(stageSpan.getOrElse(e.stageId, NoSpan), new Counts)
    val info = e.taskInfo
    c.tasks += 1
    if (info.attemptNumber > 0) c.retries += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      val fetching = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      // the scheduler-delay formula of Spark's own UI
      c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetching)
      c.scanRows += m.inputMetrics.recordsRead
      c.scanBytes += m.inputMetrics.bytesRead
      c.writeBytes += m.outputMetrics.bytesWritten
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

object Layers {
  val SpanKey = "graftbench.span"
  val NoSpan: Long = -1L

  final case class Job(id: Int, span: Long, startMs: Long) { var endMs: Long = -1L }

  final class Counts {
    var tasks, retries, runMs, cpuNs, schedDelayMs = 0L
    var scanRows, scanBytes, writeBytes = 0L
    var shuffleBytes, shuffleRecords, spillBytes = 0L
  }
}
