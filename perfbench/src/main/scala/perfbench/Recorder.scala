package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Executor work of one stage, summed over its tasks. */
final class StageWork {
  var retriedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputRows = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
}

/** A Spark job as the listener saw it: its job group (if the thread that
  * submitted it carried one), wall interval in epoch millis, and stages.
  */
final case class JobRecord(id: Int, group: Option[String], startMs: Long,
                           var endMs: Long, stages: Seq[Int])

/** Listener that keeps every job and the per-stage task sums in memory.
  *
  * Events arrive on Spark's listener bus thread, so all state is guarded
  * by `this`; readers call [[snapshot]] after the context has stopped,
  * when the bus has drained.
  */
final class Recorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stages = mutable.HashMap.empty[Int, StageWork]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = JobRecord(e.jobId, group, e.time, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = stages.getOrElseUpdate(e.stageId, new StageWork)
    if (e.taskInfo.attemptNumber > 0 || e.reason != Success) w.retriedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.inputRows += m.inputMetrics.recordsRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.diskBytesSpilled
      w.peakExecMem = math.max(w.peakExecMem, m.peakExecutionMemory)
    }
  }

  def snapshot: (Seq[JobRecord], Map[Int, StageWork]) = synchronized {
    (jobs.values.toSeq, stages.toMap)
  }
}

/** One traced interval: a pass, a query, or a query's construct / plan /
  * execute phase. Times are epoch millis (to line up with listener
  * events) plus exact nanosecond durations.
  */
final case class Span(id: Int, parent: Int, name: String, module: String,
                      startMs: Long, endMs: Long, seconds: Double)
