package graft

import scala.collection.mutable

import org.apache.spark.GraftTestBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import graft.queries.{Nexmark, NexmarkStreaming}

/** Micro-batch Nexmark: the same plans produce the same answers whether
  * the bounded event stream is replayed as a batch or drained through the
  * graft-seqgen MICRO_BATCH_READ source under Trigger.AvailableNow.
  * Append mode withholds windows still above the final watermark, so
  * stateful-query outputs are checked as a non-empty subset of batch.
  *
  * Streams run under `NexmarkStreaming.withRunConf`, the configuration
  * `run` uses; the batch answers are computed outside it. The q5 and
  * q4/q6/q9 checks run on both sides of `InterpretedMaxBatchRows`, so
  * interpreted and generated expression evaluation are each pinned to the
  * batch plan. */
class NexmarkStreamingSpec extends GraftSpec {

  private val N = 20000L
  /** (events, rows per micro-batch): five data micro-batches each, below
    * and above the interpreted-evaluation bound. */
  private val sides = Seq(N -> N / 5, 60000L -> 12000L)
  assert(sides.map(_._2 <= NexmarkStreaming.InterpretedMaxBatchRows) == Seq(true, false))

  private def runToMemory(name: String, n: Long = N, perBatch: Long = N / 5): Seq[String] =
    NexmarkStreaming.withRunConf(spark, n, perBatch) {
      val ckpt = java.nio.file.Files.createTempDirectory(s"nxs-$name").toString
      val ev = NexmarkStreaming.stream(spark, n, perBatch)
      val q = NexmarkStreaming.plans(ev)(name)
        .writeStream.format("memory").queryName(s"nxs_${name}_$perBatch")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), s"$name did not finish")
      spark.table(s"nxs_${name}_$perBatch").collect().map(_.toString).toSeq
    }

  test("q0 streaming emits exactly the batch bid stream") {
    val streamed = runToMemory("q0")
    val batch = Nexmark.bids(spark, N).collect().map(_.toString).toSeq
    assert(streamed.sorted == batch.sorted)
  }

  test("q11 session windows: streaming output is a non-empty subset of batch") {
    val streamed = runToMemory("q11")
    val batch = Nexmark.q11(spark, N).collect().map(_.toString).toSet
    assert(streamed.nonEmpty)
    val missing = streamed.filterNot(batch)
    assert(missing.isEmpty, s"rows not in batch answer: ${missing.take(5)}")
  }

  test("q5 hot items: streaming argmax rows agree with the batch answer") {
    for ((n, perBatch) <- sides) {
      val streamed = runToMemory("q5", n, perBatch)
      val batch = Nexmark.q5(spark, n).collect().map(_.toString).toSet
      assert(streamed.nonEmpty, s"$perBatch rows/batch")
      val missing = streamed.filterNot(batch)
      assert(missing.isEmpty, s"$perBatch rows/batch: rows not in batch answer: ${missing.take(5)}")
    }
  }

  test("q4/q6/q9 foreachBatch two-stage equals the batch plan exactly") {
    // the two-stage fold (per-batch partial max/argmax merged into running
    // state, final projection at stream end) must reproduce the one-shot
    // batch answer; q9 compares the full winning ROWS (argmax tie-breaks)
    for ((n, perBatch) <- sides; name <- Seq("q4", "q6", "q9")) {
      val batch = Nexmark.all(name)(spark, n).collect().map(_.toString).toSet
      val out = NexmarkStreaming.withRunConf(spark, n, perBatch) {
        val ckpt = java.nio.file.Files.createTempDirectory(s"nxs2-$name").toString
        val ev = NexmarkStreaming.stream(spark, n, perBatch)
        NexmarkStreaming.twoStage(spark, name, ev, ckpt, 120000)
          .getOrElse(fail(s"$name two-stage did not finish"))
          .collect().map(_.toString).toSet
      }
      assert(out == batch, s"$name at $perBatch rows/batch: " +
        s"stream-only=${(out -- batch).take(3)} batch-only=${(batch -- out).take(3)}")
      // flat-plan contract: localCheckpoint truncates the fold's lineage
      // every batch, so the state plan must NOT grow with batch count — the
      // property that lets the fold run unbounded (one union per batch
      // would nest and hit the plan-doubling wall)
      import scala.jdk.CollectionConverters._
      val sizes = NexmarkStreaming.statePlanSizes.asScala.map(_.toInt).toSeq
      assert(sizes.size >= 5, s"$name: expected >=5 micro-batches, got $sizes")
      assert(sizes.distinct.size == 1,
        s"$name: state plan grew across batches: $sizes")
    }
  }

  test("small micro-batches evaluate interpreted: new watermarks compile no class") {
    // Every streaming query runs its tasks under a fresh executor
    // classloader (its cloned session's), and the codegen cache is keyed
    // by classloader, so each run compiles its operators' classes once;
    // the state managers generate theirs directly, whatever the factory
    // mode. With generated expressions, each micro-batch with a new
    // watermark also compiles its eviction predicate (`ts <= <literal>`):
    // ten micro-batches then compile more classes than five (41 vs 36 for
    // q5 on Spark 4.1). Fails if Spark stops honouring
    // spark.sql.codegen.factoryMode.
    def compilations(n: Long): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(NexmarkStreaming.run(spark, "q5", n, 1000).isDefined)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compilations(5000) // warm-up: driver-side classes compile once per JVM
    val five = compilations(5000)
    assert(compilations(10000) == five)
  }

  test("run sets the factory mode inside the query only up to the bound") {
    val modes = mutable.Buffer.empty[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = modes.synchronized {
        modes += Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.codegen.factoryMode")))
      }
    }
    def jobModes(perBatch: Long): Seq[Option[String]] = {
      GraftTestBridge.drainListeners(spark.sparkContext)
      modes.synchronized(modes.clear())
      spark.sparkContext.addSparkListener(listener)
      try {
        assert(NexmarkStreaming.run(spark, "q5", 2 * perBatch, perBatch).isDefined)
        GraftTestBridge.drainListeners(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      modes.synchronized(modes.toList)
    }
    val bound = NexmarkStreaming.InterpretedMaxBatchRows
    val below = jobModes(bound)
    assert(below.nonEmpty && below.forall(_.contains("NO_CODEGEN")), below.distinct)
    val above = jobModes(bound + 1)
    assert(above.nonEmpty && above.forall(_.isEmpty), above.distinct)
    assert(!spark.conf.getAll.contains("spark.sql.codegen.factoryMode"),
      "run must leave the session's factory mode unset")
  }

  /** What one call of `body` posts: every streaming query's micro-batch
    * progress, the (query id, batch id) of every job a micro-batch
    * launches, and the number of SQL executions started. */
  private final class Recorded {
    val progress = mutable.Buffer.empty[StreamingQueryProgress]
    val batchJobs = mutable.Buffer.empty[(String, Long)]
    var sqlExecutions = 0
  }

  private def recording(body: => Unit): Recorded = {
    val r = new Recorded
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = r.synchronized {
        for (p <- Option(e.properties); q <- Option(p.getProperty("sql.streaming.queryId"));
             b <- Option(p.getProperty("streaming.sql.batchId")))
          r.batchJobs += q -> b.toLong
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = r.synchronized {
        e match {
          case _: SparkListenerSQLExecutionStart => r.sqlExecutions += 1
          case p: StreamingQueryListener.QueryProgressEvent => r.progress += p.progress
          case _ =>
        }
      }
    }
    GraftTestBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      GraftTestBridge.drainListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    r
  }

  test("run opens one SQL execution per micro-batch") {
    // A V2 sink such as noop runs each micro-batch as a nested collect(),
    // a second SQL execution that re-plans the batch for its explain string
    val r = recording(assert(NexmarkStreaming.run(spark, "q5", 5000, 1000).isDefined))
    assert(r.progress.size >= 6, s"${r.progress.size} micro-batches")
    assert(r.sqlExecutions == r.progress.size,
      s"${r.sqlExecutions} SQL executions for ${r.progress.size} micro-batches")
  }

  test("run executes every micro-batch in full, as a memory sink does") {
    val (n, perBatch) = (5000L, 1000L)
    for (name <- Seq("q0", "q3", "q5")) {
      val viaRun = recording(assert(NexmarkStreaming.run(spark, name, n, perBatch).isDefined))
      val viaMemory = recording(NexmarkStreaming.withRunConf(spark, n, perBatch) {
        val ckpt = java.nio.file.Files.createTempDirectory(s"nxs-full-$name").toString
        val q = NexmarkStreaming.plan(NexmarkStreaming.stream(spark, n, perBatch), name).get
          .writeStream.format("memory").queryName(s"nxs_full_$name")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(120000), s"$name did not finish")
      })
      def inputRows(r: Recorded): Long = r.progress.map(_.numInputRows).sum
      assert(inputRows(viaMemory) > 0, name)
      assert(inputRows(viaRun) == inputRows(viaMemory), name)
      val dataBatches = viaRun.progress
        .filter(_.sources.exists(s => s.startOffset != s.endOffset))
        .map(p => p.id.toString -> p.batchId)
      assert(dataBatches.size == n / perBatch, s"$name: $dataBatches")
      val withoutJob = dataBatches.filterNot(viaRun.batchJobs.toSet)
      assert(withoutJob.isEmpty, s"$name: data micro-batches that ran no job: $withoutJob")
    }
  }

  test("run deletes its checkpoint directory") {
    def checkpoints(): Set[String] =
      Option(new java.io.File(System.getProperty("java.io.tmpdir")).list()).toSet.flatten
        .filter(_.startsWith("graft-nexmark-stream-"))
    val before = checkpoints()
    for (name <- Seq("q0", "q4", "q10"))
      assert(NexmarkStreaming.run(spark, name, 2000, 1000).isDefined, name)
    assert(checkpoints() -- before == Set.empty)
  }
}
