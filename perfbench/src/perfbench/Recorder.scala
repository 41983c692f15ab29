package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.concurrent.TrieMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's event buffer. The recorders below append one JSON
  * line per Spark event while `on` is set; the lines stay in memory and
  * the harness writes them out when the run ends. Times are epoch
  * milliseconds as Spark reports them (`*_ms`) or epoch nanoseconds from
  * [[Harness.now]] (`*_ns`). */
object Recorder {
  val on = new AtomicBoolean(false)
  val events = new ConcurrentLinkedQueue[String]()

  def emit(kind: String, fields: (String, Any)*): Unit =
    if (on.get) events.add(Json.write(Json.obj(("kind" -> kind) +: fields: _*)))

  /** Tags the harness puts on a job: `pb-<exec>-<c|m>`. */
  def tags(props: java.util.Properties): Seq[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags"))).toSeq
      .flatMap(_.split(',')).filter(_.startsWith("pb-"))

  /** The listener bus delivers asynchronously: wait until no event has
    * arrived for half a second (at most 30 s) before the buffer is read. */
  def quiesce(): Unit = {
    val limit = System.nanoTime() + 30000000000L
    var last = -1
    while (events.size != last && System.nanoTime() < limit) {
      last = events.size
      Thread.sleep(500)
    }
  }
}

/** Jobs, stages and task metrics, plus the SQL execution → job tag map. */
class JobRecorder extends SparkListener {
  private val delayMs = TrieMap.empty[(Int, Int), Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.emit("job",
    "job" -> e.jobId, "start_ms" -> e.time, "stages" -> e.stageIds,
    "tags" -> Recorder.tags(e.properties),
    "sql_exec" -> Option(e.properties).map(_.getProperty("spark.sql.execution.id")).orNull,
    "stream" -> Option(e.properties).map(_.getProperty("sql.streaming.queryId")).orNull)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Recorder.emit("job_end", "job" -> e.jobId, "end_ms" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Recorder.on.get) {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      val delay = math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
      val k = (e.stageId, e.stageAttemptId)
      delayMs.put(k, delayMs.getOrElse(k, 0L) + delay)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val delay = delayMs.remove((s.stageId, s.attemptNumber)).getOrElse(0L)
    if (m != null) Recorder.emit("stage",
      "stage" -> s.stageId, "attempt" -> s.attemptNumber,
      "start_ms" -> s.submissionTime.getOrElse(0L),
      "end_ms" -> s.completionTime.getOrElse(0L),
      "tasks" -> s.numTasks, "sched_delay_ms" -> delay,
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
      "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "input_records" -> m.inputMetrics.recordsRead)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => Recorder.emit("sql",
      "sql_exec" -> s.executionId, "start_ms" -> s.time,
      "tags" -> s.jobTags.toSeq.filter(_.startsWith("pb-")))
    case _ =>
  }
}

/** Catalyst phases of every action, from the query's planning tracker. */
class PlanRecorder extends QueryExecutionListener {
  private def phases(qe: QueryExecution, funcName: String): Unit =
    Recorder.emit("plan", "sql_exec" -> qe.id, "func" -> funcName,
      "phases" -> qe.tracker.phases.toSeq.map { case (name, p) =>
        Seq(name, p.startTimeMs, p.endTimeMs) })
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe, funcName)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe, funcName)
}

/** Stream lifecycle and per-trigger progress. */
class StreamRecorder extends StreamingQueryListener {
  import StreamingQueryListener._

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    Recorder.emit("stream_start", "stream" -> e.id.toString, "run" -> e.runId.toString,
      "name" -> e.name, "t_ns" -> Harness.now(),
      "tags" -> e.jobTags.toSeq.filter(_.startsWith("pb-")))

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators
    Recorder.emit("trigger", "stream" -> p.id.toString, "run" -> p.runId.toString,
      "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "trigger_ms" -> d("triggerExecution"), "add_batch_ms" -> d("addBatch"),
      "query_planning_ms" -> d("queryPlanning"), "wal_commit_ms" -> d("walCommit"),
      "commit_offsets_ms" -> d("commitOffsets"), "latest_offset_ms" -> d("latestOffset"),
      "input_rows" -> p.numInputRows,
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum,
      "dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark).sum)
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    Recorder.emit("stream_end", "stream" -> e.id.toString, "run" -> e.runId.toString,
      "t_ns" -> Harness.now())
}
