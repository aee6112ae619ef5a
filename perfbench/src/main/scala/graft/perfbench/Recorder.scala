package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One finished Spark stage, with the task aggregates the exec layer
  * reports. Times are epoch milliseconds. */
final case class StageRec(stageId: Int, jobId: Int, submit: Long,
                          complete: Long, tasks: Int, runMs: Long,
                          gcMs: Long, inBytes: Long, inRecs: Long,
                          shuffleWrite: Long, shuffleRead: Long,
                          spill: Long, outBytes: Long, outRecs: Long,
                          maxTaskMs: Long) {
  def wallMs: Long = complete - submit
  /** Stage wall time not covered by its longest task. */
  def floorMs: Long = math.max(0L, wallMs - maxTaskMs)
}

/** One Spark job; `req` is the request id from the job's local
  * property, or -1 for jobs submitted from threads that do not carry
  * it (builder thread pools), which are attributed by time window. */
final class JobRec(val jobId: Int, val req: Int, val start: Long,
                   val stageIds: Seq[Int]) {
  @volatile var end: Long = -1L
}

/** One micro-batch progress event of a streaming query. */
final case class BatchRec(atMs: Long, rows: Long,
                          durations: Map[String, Long], stateRows: Long,
                          stateBytes: Long, stateCommitMs: Long)

object Recorder {
  /** Local property naming the request a job belongs to. */
  val ReqProp = "graft.perfbench.request"
}

/** Records jobs, stages and micro-batches for the traced run, and the
  * time its callbacks take (the recording's own cost). */
final class Recorder extends SparkListener {
  import Recorder.ReqProp

  val busyNs = new java.util.concurrent.atomic.AtomicLong(0L)
  private def busy[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally busyNs.addAndGet(System.nanoTime() - t0)
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val maxTask = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = busy {
    val req = Option(e.properties).flatMap(p => Option(p.getProperty(ReqProp)))
      .map(_.toInt).getOrElse(-1)
    jobs.put(e.jobId, new JobRec(e.jobId, req, e.time, e.stageIds))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = busy {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = busy {
    if (e.taskInfo != null && stageJob.containsKey(e.stageId))
      maxTask.merge((e.stageId, e.stageAttemptId),
        java.lang.Long.valueOf(e.taskInfo.duration),
        (a, b) => java.lang.Long.valueOf(math.max(a, b)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = busy {
    val i = e.stageInfo
    if (stageJob.containsKey(i.stageId)) {
      val m = i.taskMetrics
      val sub = i.submissionTime.getOrElse(0L)
      stages.add(StageRec(i.stageId, stageJob.get(i.stageId), sub,
        i.completionTime.getOrElse(sub), i.numTasks,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.inputMetrics.bytesRead,
        if (m == null) 0L else m.inputMetrics.recordsRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        if (m == null) 0L else m.outputMetrics.bytesWritten,
        if (m == null) 0L else m.outputMetrics.recordsWritten,
        Option(maxTask.remove((i.stageId, i.attemptNumber())))
          .map(_.longValue).getOrElse(0L)))
    }
  }

  /** Streaming side: one record per micro-batch. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = busy {
      val p = e.progress
      val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      batches.add(BatchRec(
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows,
        Option(p.durationMs).map(_.asScala.map { case (k, v) => k -> v.longValue }.toMap)
          .getOrElse(Map.empty),
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum))
    }
  }
}
