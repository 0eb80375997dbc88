package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable.ArrayBuffer

/** One Spark job as seen from outside the program. */
final class JobRec(val id: Int, val startMs: Long) {
  var endMs: Long = -1
  var tasks = 0
  var stages = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var peakMem = 0L
}

/** Job/stage/task listener registered by the benchmark (trace mode
  * only). Jobs are attributed to operations by their start time, not
  * by job group: `graft.operators.Par` sets its own groups.
  */
final class JobListener extends SparkListener {
  private val jobs = ArrayBuffer.empty[JobRec]
  private val byId = scala.collection.mutable.Map.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.Map.empty[Int, JobRec]
  @volatile private var syncsEnded = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (e.properties != null && e.properties.getProperty(JobListener.SyncKey) != null)
      return
    val j = new JobRec(e.jobId, e.time)
    jobs += j; byId(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId) match {
      case Some(j) => j.endMs = e.time
      case None => syncsEnded += 1
    }
  }

  /** Listener-bus barrier: runs a marked one-task job and waits for
    * its end event. The bus is FIFO, so every event of the work
    * before it has been delivered once this returns.
    */
  def sync(spark: SparkSession): Unit = {
    val before = syncsEnded
    val sc = spark.sparkContext
    sc.setLocalProperty(JobListener.SyncKey, "1")
    try sc.parallelize(0 until 1, 1).foreach(_ => ())
    finally sc.setLocalProperty(JobListener.SyncKey, null)
    val deadline = System.nanoTime() + 10000000000L
    while (syncsEnded <= before && System.nanoTime() < deadline) Thread.sleep(1)
  }

  def jobsIn(fromMs: Long, toMs: Long): Seq[JobRec] = synchronized {
    jobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq
  }
}

object JobListener { val SyncKey = "perfbench.sync" }

/** Streaming progress as the engine reports it (trace mode only). */
final class ProgressListener extends StreamingQueryListener {
  private val progress = ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress }
  def snapshot: Seq[StreamingQueryProgress] = synchronized { progress.toSeq }
}

/** A timed call around one layer's public function. `unit` is the
  * workload iteration (day, pass, batch) it belongs to; `phase` splits
  * a DataFrame-returning call into its build (eager sub-jobs while the
  * plan is made) and the final action.
  */
final case class Span(id: Int, parent: Int, name: String, unit: Int,
                      phase: String, startMs: Long, endMs: Long,
                      secs: Double)

final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val jobs: Option[JobListener] =
    if (enabled) Some(new JobListener) else None
  jobs.foreach(spark.sparkContext.addSparkListener)
  val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)

  /** Times `body` as a span. In trace mode the span closes only after
    * the listener bus has caught up, so its jobs are all attributed.
    */
  def span[T](name: String, unit: Int, phase: String = "call")(body: => T): T = {
    val id = spans.size
    spans += null
    val parent = stack.head
    stack = id :: stack
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val secs = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      stack = stack.tail
      jobs.foreach(_.sync(spark))
      spans(id) = Span(id, parent, name, unit, phase, w0, w1, secs)
    }
  }

  /** Self time: the span minus the child spans it contains. */
  def selfSecs(s: Span): Double =
    s.secs - spans.filter(c => c != null && c.parent == s.id).map(_.secs).sum
}
