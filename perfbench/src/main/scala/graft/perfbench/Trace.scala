package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Operator counters summed over every task of the stages one span
  * launched. */
final class OpCounters {
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L
  var bytesRead = 0L
  var recordsRead = 0L

  def toMap: Map[String, Any] = Map(
    "tasks" -> tasks, "cpu_ns" -> cpuNs, "run_ms" -> runMs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
    "peak_exec_mem_bytes" -> peakExecMemBytes, "bytes_read" -> bytesRead,
    "records_read" -> recordsRead)
}

final class Span(val id: Int, val parent: Int, val name: String, val start: Long) {
  var end: Long = 0L
}

/** In-memory spans around the benchmark's calls into each layer, plus the
  * Spark listener counters attributed to them. A span id travels to the
  * stages a call launches as the `perfbench.span` local property; the
  * listener maps each stage to that span and sums its tasks' metrics.
  * Spans are kept in memory and written out once, at the end of the run. */
final class Tracer(val runId: String) {
  val SpanProperty = "perfbench.span"

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = 0
  private var sc: SparkContext = _

  private val counters = mutable.HashMap.empty[Int, OpCounters]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val phaseMs = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private var executions = 0L

  private val sparkListener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(0)
      Tracer.this.synchronized { stageSpan(e.stageInfo.stageId) = span }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      Tracer.this.synchronized {
        val c = counters.getOrElseUpdate(stageSpan.getOrElse(e.stageId, 0), new OpCounters)
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
        c.bytesRead += m.inputMetrics.bytesRead
        c.recordsRead += m.inputMetrics.recordsRead
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) +=
          e.taskInfo.duration
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    Tracer.this.synchronized {
      executions += 1
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach(s => phaseMs(p) += s.durationMs.toDouble)
      }
      phaseMs("execution") += durationNs / 1e6
    }
  }

  /** Register the listeners on a (new) session. */
  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    drain() // events of earlier, untraced work must not reach the listener
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(spark: SparkSession): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  def drain(): Unit = if (sc != null) PerfbenchBridge.drainListeners(sc)

  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val s = new Span(spans.length + 1, current, name, System.nanoTime())
      spans += s
      current = s.id
      s
    }
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      synchronized { current = s.parent }
      sc.setLocalProperty(SpanProperty, if (s.parent == 0) null else s.parent.toString)
    }
  }

  /** Everything recorded, as plain maps for the result file. */
  def dump(): Map[String, Any] = {
    drain()
    synchronized {
      Map(
        "run_id" -> runId,
        "spans" -> spans.map { s =>
          Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
            "start_ns" -> s.start, "end_ns" -> s.end,
            "ops" -> counters.get(s.id).map(_.toMap).orNull)
        }.toSeq,
        "unattributed_ops" -> counters.get(0).map(_.toMap).orNull,
        "stage_task_ms" -> stageTaskMs.toSeq.sortBy(_._1).map(_._2.toSeq),
        "query_phases_ms" -> phaseMs.toMap,
        "query_executions" -> executions)
    }
  }
}

/** The streaming engine's own per-trigger progress (Structured
  * Streaming's monitoring interface), recorded for every micro-batch of
  * every query the benchmark starts. The current query name is set by
  * the caller; events are drained before it changes. */
final class StreamProgress extends StreamingQueryListener {
  @volatile var currentQuery: String = ""
  val batches = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators
    val row = Map[String, Any](
      "query" -> currentQuery, "batch_id" -> p.batchId,
      "input_rows" -> p.numInputRows,
      "trigger_ms" -> dur("triggerExecution"), "add_batch_ms" -> dur("addBatch"),
      "query_planning_ms" -> dur("queryPlanning"), "wal_commit_ms" -> dur("walCommit"),
      "commit_offsets_ms" -> dur("commitOffsets"),
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum)
    synchronized { batches += row }
  }

  def snapshot(): Seq[Map[String, Any]] = synchronized(batches.toSeq)
}
