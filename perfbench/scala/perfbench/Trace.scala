package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: `pass` → `op:<gate>` → `job:<id>`. Times are epoch ms. */
final case class Span(id: Long, parent: Long, name: String, startMs: Long,
                      var endMs: Long)

/** Counters gathered for one op call, from the listener bus. */
final class OpCounters {
  var jobs, stages, stageRetries, tasks, taskFailures = 0L
  var execRunMs, execCpuNs, execGcMs, peakExecMem = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleWriteRecords,
    shuffleFetchWaitMs = 0L
  var spillMemBytes, spillDiskBytes = 0L
  var outputBytes, outputRecords = 0L
  var analysisMs, optimizerMs, physicalMs, exchanges = 0L
  var scanFilesBytes, scanRows, queryExecutions = 0L

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "stage_retries" -> stageRetries,
    "tasks" -> tasks, "task_failures" -> taskFailures,
    "exec_run_ms" -> execRunMs, "exec_cpu_ns" -> execCpuNs,
    "exec_gc_ms" -> execGcMs, "peak_exec_mem" -> peakExecMem,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_records" -> shuffleWriteRecords,
    "shuffle_fetch_wait_ms" -> shuffleFetchWaitMs,
    "spill_mem_bytes" -> spillMemBytes, "spill_disk_bytes" -> spillDiskBytes,
    "output_bytes" -> outputBytes, "output_records" -> outputRecords,
    "analysis_ms" -> analysisMs, "optimizer_ms" -> optimizerMs,
    "physical_ms" -> physicalMs, "exchanges" -> exchanges,
    "scan_files_bytes" -> scanFilesBytes, "scan_rows" -> scanRows,
    "query_executions" -> queryExecutions)
}

/** In-memory trace store. The harness opens an op span and sets its id
  * as a local property before each call; the listeners below attribute
  * jobs, stages, tasks and query executions to that span. Nothing is
  * written until the run ends. */
object Trace {
  val SpanProperty = "perfbench.span"

  @volatile var enabled = false
  private val nextId = new AtomicLong(1)
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = new ConcurrentHashMap[Long, OpCounters]()
  private[perfbench] val stageOwner = new ConcurrentHashMap[Int, Long]()
  private[perfbench] val jobSpans = new ConcurrentHashMap[Int, Span]()
  /** Op span receiving events that carry no span property. */
  @volatile var currentOp = 0L

  private[perfbench] def add(parent: Long, name: String, startMs: Long): Span =
    synchronized {
      val s = Span(nextId.getAndIncrement(), parent, name, startMs, -1L)
      spans += s
      s
    }

  def open(parent: Long, name: String): Span =
    add(parent, name, System.currentTimeMillis())

  def close(s: Span): Unit = s.endMs = System.currentTimeMillis()

  def countersFor(span: Long): OpCounters =
    counters.computeIfAbsent(span, _ => new OpCounters)

  private[perfbench] def owner(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanProperty)))
      .map(_.toLong).getOrElse(currentOp)
}

/** Scheduler and task-metric side. */
final class JobListener extends SparkListener {
  import Trace._

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val op = owner(e.properties)
    e.stageIds.foreach(stageOwner.put(_, op))
    jobSpans.put(e.jobId, add(op, s"job:${e.jobId}", e.time))
    val c = countersFor(op)
    c.synchronized { c.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobSpans.remove(e.jobId)
    if (s != null) s.endMs = e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (enabled) {
      val info = e.stageInfo
      val c = countersFor(stageOwner.getOrDefault(info.stageId, currentOp))
      c.synchronized {
        c.stages += 1
        if (info.attemptNumber() > 0) c.stageRetries += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val c = countersFor(stageOwner.getOrDefault(e.stageId, currentOp))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (e.reason != Success) c.taskFailures += 1
      if (m != null) {
        c.execRunMs += m.executorRunTime
        c.execCpuNs += m.executorCpuTime
        c.execGcMs += m.jvmGCTime
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleFetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillMemBytes += m.memoryBytesSpilled
        c.spillDiskBytes += m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }
}

/** Planning side: phase times, exchanges and scan-node SQL metrics of
  * every query execution. Installed through
  * `spark.sql.queryExecutionListeners`, so sessions the engine derives
  * with `newSession()` report too. */
final class QeListener extends QueryExecutionListener {
  import Trace._

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = if (enabled) record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = if (enabled) record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    var exchanges, scanBytes, scanRows = 0L
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def metric(p: SparkPlan, k: String): Long =
      p.metrics.get(k).map(_.value).getOrElse(0L)
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case _: ReusedExchangeExec => return
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike =>
          exchanges += 1
        case s: FileSourceScanExec =>
          scanBytes += metric(s, "filesSize")
          scanRows += metric(s, "numOutputRows")
        case _ =>
      }
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case c: CommandResultExec => Seq(c.commandPhysicalPlan)
        case _ => Nil
      }
      (p.children ++ inner ++ p.subqueries).foreach(walk)
    }
    try walk(qe.executedPlan) catch { case _: Throwable => () }
    val c = countersFor(currentOp)
    c.synchronized {
      c.queryExecutions += 1
      c.analysisMs += ms("analysis")
      c.optimizerMs += ms("optimization")
      c.physicalMs += ms("planning")
      c.exchanges += exchanges
      c.scanFilesBytes += scanBytes
      c.scanRows += scanRows
    }
  }
}

/** The one listener of untraced runs: bytes that tasks wrote to files,
  * for `write_amp`. */
final class OutputBytesListener extends SparkListener {
  val bytes = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
}
