package gatebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Listeners the traced run installs. They keep raw events in memory;
  * run.py attributes them to spans. A job is tagged with the span that
  * launched it through the `gatebench.span` local property, which the
  * launching thread (and any thread it starts, such as a stream's
  * execution thread) carries. */
object Recorder {
  val SpanKey = "gatebench.span"
}

final class JobRecorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stages = mutable.LinkedHashMap[(Int, Int), Array[Long]]()

  // per stage attempt: tasks, run ms, cpu ns, shuffle write bytes,
  // shuffle read bytes, memory spill, disk spill, peak execution
  // memory (max), gc ms, input records, input bytes, failed tasks
  private val Fields = Seq("tasks", "run_ms", "cpu_ns", "shuffle_write_bytes",
    "shuffle_read_bytes", "mem_spill_bytes", "disk_spill_bytes",
    "peak_exec_mem_bytes", "gc_ms", "input_records", "input_bytes",
    "failed_tasks")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Recorder.SpanKey))).getOrElse("")
    jobs(e.jobId) = mutable.Map("job" -> e.jobId, "span" -> span,
      "start_ms" -> e.time.toDouble, "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end_ms") = e.time.toDouble
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
      new Array[Long](Fields.size))
    a(0) += 1
    if (e.taskInfo != null && !e.taskInfo.successful) a(11) += 1
    val m = e.taskMetrics
    if (m != null) {
      a(1) += m.executorRunTime
      a(2) += m.executorCpuTime
      a(3) += m.shuffleWriteMetrics.bytesWritten
      a(4) += m.shuffleReadMetrics.totalBytesRead
      a(5) += m.memoryBytesSpilled
      a(6) += m.diskBytesSpilled
      a(7) = math.max(a(7), m.peakExecutionMemory)
      a(8) += m.jvmGCTime
      a(9) += m.inputMetrics.recordsRead
      a(10) += m.inputMetrics.bytesRead
    }
  }

  def snapshot(): (Seq[Map[String, Any]], Seq[Map[String, Any]]) = synchronized {
    (jobs.values.map(_.toMap).toSeq,
     stages.toSeq.map { case ((id, att), a) =>
       (Seq("stage" -> id, "attempt" -> att) ++ Fields.zip(a)).toMap })
  }
}

final class BatchRecorder extends StreamingQueryListener {
  /** Gate run in flight; micro-batches are attributed to it. The runner
    * drains the listener bus before it changes this. */
  @volatile var gateRun: String = ""
  private val batches = mutable.ArrayBuffer[Map[String, Any]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
    val rec = Map[String, Any](
      "gate_run" -> gateRun,
      "query" -> p.id.toString,
      "batch" -> p.batchId,
      "start_ms" -> startMs,
      "duration_ms" -> durations.toMap,
      "input_rows" -> p.numInputRows,
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_bytes" -> ops.map(_.memoryUsedBytes).sum)
    synchronized { batches += rec }
  }

  def snapshot(): Seq[Map[String, Any]] = synchronized(batches.toSeq)
}
