package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory event log of one benchmark process. Everything is kept in
  * memory while queries run and written once, as JSON lines, when the
  * run ends; the Python side turns the log into spans and metrics.
  *
  * All timestamps are epoch milliseconds (fractional for the harness's
  * own nanoTime-based marks), so they line up with Spark's event times.
  */
object Recorder {
  private val lines = new ConcurrentLinkedQueue[String]()
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Gate for the tracing listeners: they stay registered for the whole
    * traced run and record only while this is set. */
  @volatile var traced = false

  /** Listener events arrive asynchronously. A job with this description,
    * run after a traced pass, releases `drained` once the listener queue
    * has reached it, i.e. once every earlier event has been recorded. */
  val DrainMark = "graftbench-drain"
  val drained = new java.util.concurrent.Semaphore(0)

  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def add(kv: (String, Any)*): Unit = lines.add(Json.obj(kv: _*))

  def write(path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.asScala.toSeq.asJava)
}

/** JSON through the Jackson that Spark ships, with its Scala module. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def value(v: Any): String = mapper.writeValueAsString(v)
  def obj(kv: (String, Any)*): String = value(ListMap(kv: _*))
}

/** SQL executions, jobs, stages and summed task metrics per stage attempt. */
class TraceListener extends SparkListener {
  private final class StageSum {
    var tasks, runMs, cpuNs, gcMs, inRec, inBytes, outRec, outBytes = 0L
    var srRec, srBytes, swRec, swBytes, spillDisk, spillMem = 0L
  }
  private val sums = new ConcurrentHashMap[(Int, Int), StageSum]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty("spark.job.description") == Recorder.DrainMark))
      Recorder.drained.release()
    else if (Recorder.traced)
      Recorder.add("t" -> "job_start", "job" -> e.jobId, "time" -> e.time,
        "stages" -> e.stageIds)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (Recorder.traced)
      Recorder.add("t" -> "job_end", "job" -> e.jobId, "time" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart if Recorder.traced =>
      Recorder.add("t" -> "sql_start", "id" -> x.executionId, "time" -> x.time)
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (!Recorder.traced || m == null) return
    val s = sums.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageSum)
    s.synchronized {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inRec += m.inputMetrics.recordsRead
      s.inBytes += m.inputMetrics.bytesRead
      s.outRec += m.outputMetrics.recordsWritten
      s.outBytes += m.outputMetrics.bytesWritten
      s.srRec += m.shuffleReadMetrics.recordsRead
      s.srBytes += m.shuffleReadMetrics.totalBytesRead
      s.swRec += m.shuffleWriteMetrics.recordsWritten
      s.swBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillDisk += m.diskBytesSpilled
      s.spillMem += m.memoryBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = sums.remove((i.stageId, i.attemptNumber()))
    if (!Recorder.traced || s == null) return
    Recorder.add("t" -> "stage", "stage" -> i.stageId, "attempt" -> i.attemptNumber(),
      "submit" -> i.submissionTime.getOrElse(0L),
      "complete" -> i.completionTime.getOrElse(0L),
      "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
      "in_rec" -> s.inRec, "in_bytes" -> s.inBytes,
      "out_rec" -> s.outRec, "out_bytes" -> s.outBytes,
      "sr_rec" -> s.srRec, "sr_bytes" -> s.srBytes,
      "sw_rec" -> s.swRec, "sw_bytes" -> s.swBytes,
      "spill_disk" -> s.spillDisk, "spill_mem" -> s.spillMem)
  }
}

/** Catalyst phase times and files written, per SQL execution. Loaded
  * through `spark.sql.queryExecutionListeners`, so sessions that graft
  * derives internally (newSession, streaming clones) report too. */
class PhaseListener extends QueryExecutionListener {
  private def record(qe: QueryExecution, ok: Boolean): Unit = if (Recorder.traced) {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val files = qe.executedPlan.collect {
      case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    // Listener callbacks arrive late, on the listener bus; stamp the
    // execution with the end of its planning, when it started to run.
    val started = ph.get("planning").map(_.endTimeMs.toDouble).getOrElse(Recorder.now())
    Recorder.add("t" -> "exec", "time" -> started, "ok" -> ok,
      "analysis_ms" -> ms("analysis"), "optimizer_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"), "files" -> files)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe, ok = false)
}

/** Micro-batch progress of every streaming query graft starts. */
class ProgressListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = if (Recorder.traced) {
    val p = e.progress
    def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    Recorder.add("t" -> "trigger", "id" -> p.id.toString, "batch" -> p.batchId,
      "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "ms" -> ms("triggerExecution"), "addbatch_ms" -> ms("addBatch"),
      "walcommit_ms" -> ms("walCommit"), "rows" -> p.numInputRows)
  }
}
