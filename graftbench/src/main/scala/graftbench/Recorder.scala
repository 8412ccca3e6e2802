package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The benchmark's own SparkContext-level listener.
  *
  * Micro-batch progress arrives as `QueryProgressEvent` on the context bus
  * (`onOtherEvent`), which also carries the events of queries started on
  * `newSession()` child sessions — a listener registered through one
  * session's `spark.streams` only hears that session's queries. Job and
  * stage events are recorded only when `full` (the traced run). Every
  * callback's own time is summed, so the traced run can state its overhead.
  */
final class Recorder(full: Boolean) extends SparkListener {

  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val jobEnds = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  val callbackNanos = new AtomicLong()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    callbackNanos.addAndGet(System.nanoTime() - t0)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: QueryProgressEvent => timed {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress.add(Map(
        "run_id" -> p.runId.toString,
        "batch_id" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "duration_ms" -> d))
    }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = if (full) timed {
    jobs.add(Map(
      "job_id" -> j.jobId,
      "start_ms" -> j.time,
      "group" -> Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""),
      "stage_ids" -> j.stageIds))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = if (full) timed {
    jobEnds.add(Map("job_id" -> j.jobId, "end_ms" -> j.time))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    if (full) timed {
      val info = s.stageInfo
      val m = info.taskMetrics
      if (m != null) stages.add(Map(
        "stage_id" -> info.stageId,
        "tasks" -> info.numTasks,
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_rows" -> m.inputMetrics.recordsRead,
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
    }

  /** Forget everything recorded so far (end of set-up). */
  def clear(): Unit = {
    progress.clear(); jobs.clear(); jobEnds.clear(); stages.clear()
    callbackNanos.set(0)
  }

  def dump: Map[String, Any] = Map(
    "progress" -> progress.asScala.toSeq,
    "jobs" -> jobs.asScala.toSeq,
    "job_ends" -> jobEnds.asScala.toSeq,
    "stages" -> stages.asScala.toSeq,
    "callback_s" -> callbackNanos.get / 1e9)
}
