package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark and streaming listener that the traced run registers. It only
  * buffers events; `PerfBench` drains the listener bus after each query
  * and takes everything buffered since the previous query.
  *
  * Jobs carry the span id of the phase (build, plan or exec) that was
  * open on the client thread when they were submitted, through the
  * `SpanProperty` local property. Spark copies local properties into the
  * threads a query starts (broadcasts, stream executions), so their jobs
  * are attributed to the same phase.
  */
final class Recorder extends SparkListener {
  import Recorder._

  @volatile var on = false

  private val jobs = new ConcurrentLinkedQueue[Job]
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long, Boolean)]
  private val stages = new ConcurrentLinkedQueue[Stage]
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.lang.Long]
  private val tasks = new ConcurrentLinkedQueue[Task]
  private val batches = new ConcurrentLinkedQueue[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
    jobs.add(Job(e.jobId, e.time, span.map(_.toLong).getOrElse(-1L), e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on)
    jobEnds.add((e.jobId, e.time, e.jobResult == JobSucceeded))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on) {
    val i = e.stageInfo
    stageSubmit.put((i.stageId, i.attemptNumber()),
      java.lang.Long.valueOf(i.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
    val i = e.stageInfo
    stages.add(Stage(i.stageId, i.attemptNumber(), i.name,
      i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L),
      i.numTasks, i.failureReason.isEmpty))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
    val m = e.taskMetrics
    val submitted = Option(stageSubmit.get((e.stageId, e.stageAttemptId)))
      .map(_.longValue).getOrElse(e.taskInfo.launchTime)
    val t = Task(
      failed = !e.taskInfo.successful,
      waitMs = math.max(0L, e.taskInfo.launchTime - submitted),
      runMs = if (m == null) 0L else m.executorRunTime,
      cpuNs = if (m == null) 0L else m.executorCpuTime,
      gcMs = if (m == null) 0L else m.jvmGCTime,
      spill = if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      shuffleWrite = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      inBytes = if (m == null) 0L else m.inputMetrics.bytesRead,
      inRecords = if (m == null) 0L else m.inputMetrics.recordsRead,
      outBytes = if (m == null) 0L else m.outputMetrics.bytesWritten,
      outRecords = if (m == null) 0L else m.outputMetrics.recordsWritten)
    tasks.add(t)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (on)
      batches.add((e.progress.batchDuration, e.progress.numInputRows))
  }

  /** Everything buffered since the last call. Call only after the
    * listener bus has drained.
    */
  def take(): Events = {
    def drain[T](q: ConcurrentLinkedQueue[T]): Vector[T] = {
      val b = Vector.newBuilder[T]
      var x = q.poll()
      while (x != null) { b += x; x = q.poll() }
      b.result()
    }
    stageSubmit.clear()
    Events(drain(jobs), drain(jobEnds).map(e => e._1 -> (e._2, e._3)).toMap,
      drain(stages), drain(tasks), drain(batches))
  }
}

object Recorder {
  val SpanProperty = "perfbench.span"

  final case class Job(id: Int, start: Long, span: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, attempt: Int, name: String, start: Long, end: Long,
      tasks: Int, ok: Boolean)
  final case class Task(failed: Boolean, waitMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      spill: Long, shuffleWrite: Long, shuffleRead: Long, inBytes: Long, inRecords: Long,
      outBytes: Long, outRecords: Long)
  final case class Events(jobs: Vector[Job], jobEnds: Map[Int, (Long, Boolean)],
      stages: Vector[Stage], tasks: Vector[Task], batches: Vector[(Long, Long)])

  def stagesOf(jobs: Seq[Job]): Map[Int, Job] =
    jobs.flatMap(j => j.stageIds.map(_ -> j)).reverse.toMap
}
