package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Clock shared by the harness's own spans and Spark's event times
  * (epoch milliseconds, as a Double so harness spans keep sub-ms
  * resolution). Spark stamps listener events with currentTimeMillis,
  * so harness spans are placed on the same axis.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class JobRec(id: Int, startMs: Double, endMs: Double, stageIds: Seq[Int])

final case class StageRec(id: Int, attempt: Int, startMs: Double, endMs: Double,
    runMs: Long, cpuNs: Long, gcMs: Long, deserMs: Long,
    readBytes: Long, readRows: Long, writeBytes: Long, writeRows: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long,
    fetchWaitMs: Long, spillBytes: Long)

final case class TaskRec(stageId: Int, runMs: Long, schedDelayMs: Long)

final case class BatchRec(startMs: Double, endMs: Double, inputRows: Long,
    addBatchMs: Long, planningMs: Long, walCommitMs: Long, latestOffsetMs: Long,
    stateRows: Long, stateBytes: Long, lateDropped: Long, queryId: String)

/** Collects Spark's public scheduler and streaming events in memory.
  * Nothing is computed while queries run: events are appended to
  * lock-free queues and attributed to queries afterwards, by time
  * window (only one query runs at a time), once the listener bus has
  * drained. A job-group tag would miss jobs launched from helper
  * threads, which the time window does not.
  */
final class Tracer extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]
  val stages = new ConcurrentLinkedQueue[StageRec]
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  val batches = new ConcurrentLinkedQueue[BatchRec]
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Seq[Int])]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, (e.time.toDouble, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, sids) =>
      jobs.add(JobRec(e.jobId, t0, e.time.toDouble, sids))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val t0 = i.submissionTime.getOrElse(0L).toDouble
    val t1 = i.completionTime.map(_.toDouble).getOrElse(t0)
    if (m == null) stages.add(StageRec(i.stageId, i.attemptNumber(), t0, t1,
      0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
    else stages.add(StageRec(i.stageId, i.attemptNumber(), t0, t1,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Scheduler delay as Spark's UI defines it: task duration not spent
    * running, deserializing, serializing the result or fetching it.
    */
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime +
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
      tasks.add(TaskRec(e.stageId, m.executorRunTime, math.max(0L, info.duration - busy)))
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val ops = p.stateOperators
      batches.add(BatchRec(t0, t0 + d.getOrElse("triggerExecution", 0L), p.numInputRows,
        d.getOrElse("addBatch", 0L), d.getOrElse("queryPlanning", 0L),
        d.getOrElse("walCommit", 0L), d.getOrElse("latestOffset", 0L),
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.numRowsDroppedByWatermark).sum, p.id.toString))
    }
  }
}
