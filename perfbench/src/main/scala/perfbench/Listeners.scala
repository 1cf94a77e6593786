package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One Spark job as seen by [[JobRecorder]]: wall interval (epoch ms),
  * SQL execution id, and task totals. */
final case class JobRec(
    id: Int, start: Long, var end: Long, execId: Long,
    var tasks: Int = 0, var runMs: Long = 0L, var cpuNs: Long = 0L, var gcMs: Long = 0L,
    var bytesWritten: Long = 0L, var recordsWritten: Long = 0L, var shuffleBytes: Long = 0L,
    taskMs: scala.collection.mutable.ArrayBuffer[Long] = scala.collection.mutable.ArrayBuffer.empty)

/** Records job, stage and task metrics (run time, CPU, GC, bytes and
  * records written, shuffle) from the listener bus. */
final class JobRecorder extends SparkListener {
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = scala.collection.mutable.HashMap.empty[Int, Int]
  @volatile private var ended = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, exec)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    ended += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageToJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.bytesWritten += m.outputMetrics.bytesWritten
      j.recordsWritten += m.outputMetrics.recordsWritten
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.taskMs += m.executorRunTime
    }
  }

  /** Waits until every started job has ended on the listener bus (task
    * events precede their job's end event on the same queue). */
  def drain(timeoutMs: Long = 5000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobs.size) > ended && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  /** Jobs that started within [fromMs, toMs] (epoch ms). */
  def jobsBetween(fromMs: Long, toMs: Long): Seq[JobRec] = {
    drain()
    synchronized(jobs.values.filter(j => j.start >= fromMs && j.start <= toMs).map(_.copy()).toList)
  }
}

/** One micro-batch progress event, stamped when the listener received it. */
final case class BatchRec(batchId: Long, receivedNs: Long, triggerMs: Long, addBatchMs: Long,
    endLast: String, endN: Long, startN: Long, inputRows: Long)

/** Records each micro-batch's `durationMs` and end offset. */
final class BatchRecorder extends StreamingQueryListener {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[BatchRec]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val now = System.nanoTime()
    val p = e.progress
    val d = p.durationMs
    def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val src = p.sources.headOption
    def offset(js: String): (String, Long) =
      Option(js).filter(_.startsWith("{")).map { s =>
        val m = graft.core.Json.parse(s).asInstanceOf[Map[String, Any]]
        (String.valueOf(m.getOrElse("last", "")), m.get("n").map(v => String.valueOf(v).toDouble.toLong).getOrElse(0L))
      }.getOrElse(("", 0L))
    val (last, n) = src.map(s => offset(s.endOffset)).getOrElse(("", 0L))
    val (_, n0) = src.map(s => offset(s.startOffset)).getOrElse(("", 0L))
    synchronized(buf += BatchRec(p.batchId, now, dur("triggerExecution"), dur("addBatch"), last, n, n0, p.numInputRows))
  }
  def batches: Seq[BatchRec] = synchronized(buf.toList)
}
