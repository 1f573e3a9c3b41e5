package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.commons.io.FileUtils

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.queries.{Nexmark, NexmarkStreaming}

/** All Nexmark queries through NexmarkStreaming.run (graft-seqgen source,
  * Trigger.AvailableNow), in a seeded order. Batch latencies come from
  * the engine's per-trigger progress. Outputs are checked the way
  * NexmarkStreamingSpec checks them: each streaming plan against its
  * batch plan in Nexmark.all, under the SQL configuration that run sets;
  * q10 on the parquet sinks of the timed runs themselves. */
final class StreamNexmark extends Workload {
  /** Events per query and rows per micro-batch of the timed calls and of
    * the check (fixed, not seeded): five data micro-batches per query, as
    * NexmarkStreamingSpec drains, plus the watermark flush. A micro-batch
    * costs about the same at 500 rows as at 1,000, so the pass time
    * follows the micro-batch count. */
  private val Events = 5000L
  private val RowsPerBatch = 1000L
  /** Micro-batches the timed passes must hold: a p50 with ten beyond it
    * (one pass holds about 70). */
  private val MinBatches = 20
  /** q12's processing-time windows close only once the stream has run for
    * a few seconds, so its check drains more micro-batches. */
  private val Q12Events = 20000L
  private val Q12RowsPerBatch = 1000L

  private val progress = new StreamProgress
  private val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var batchMark = 0
  private var order: Seq[String] = _
  /** Queries whose streaming result disagreed with the batch plan. */
  private val wrong = mutable.Set.empty[String]

  /** A fresh session's set-up: the progress listener, the seeded query
    * order, and a one-micro-batch warm-up run of q10, the query whose
    * parquet sink the check does not exercise. */
  override def setup(b: Bench): Unit = {
    b.spark.streams.addListener(progress)
    order = new scala.util.Random(b.seed).shuffle(NexmarkStreaming.queryNames)
    if (NexmarkStreaming.run(b.spark, "q10", RowsPerBatch, RowsPerBatch).isEmpty)
      throw new IllegalStateException("warm-up run of q10 returned None")
  }

  /** The session SQL configuration that `NexmarkStreaming.run` sets for
    * its own queries, held for the whole check so that the memory-sink
    * plans run on the same state partitioning and checkpoint manager as
    * the timed calls. */
  private def withRunConf[T](b: Bench)(body: => T): T = {
    val conf = b.spark.conf
    val parts = sys.env.get("SPARK_GRAFT_STREAM_PARTS").map(_.toLong)
      .getOrElse(math.max(2, math.min(16, Events / 50000)))
    val set = Seq(
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[graft.streaming.LocalCheckpointFileManager].getName,
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "true")
    val prev = set.map { case (k, _) => k -> conf.getOption(k) }
    set.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  private def streamed(b: Bench, q: String, events: Long, perBatch: Long): Seq[String] = {
    val ckpt = java.nio.file.Files.createTempDirectory(s"perfbench-check-$q").toString
    val ev = NexmarkStreaming.stream(b.spark, events, perBatch)
    val s = NexmarkStreaming.plans(ev)(q).writeStream.format("memory")
      .queryName(s"perfbench_$q").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    if (!s.awaitTermination(120000)) { s.stop(); throw new RuntimeException("timed out") }
    rows(b.spark.table(s"perfbench_$q"))
  }

  private val q10Cols = Seq("auction", "bidder", "price", "ts", "day", "hhmm")

  /** The directories of the parquet sinks that q10 runs wrote and that
    * were not yet verified. */
  private def q10Dirs(): Seq[File] =
    new File(System.getProperty("java.io.tmpdir")).listFiles()
      .filter(_.getName.startsWith("graft-q10-stream")).sortBy(_.getName).toSeq

  /** Why query `q`'s streaming result disagrees with its batch plan, if it does. */
  private def verdict(b: Bench, q: String): Option[String] = {
    val batch = () => Nexmark.all(q)(b.spark, Events)
    try {
      q match {
        case "q0" | "q1" | "q2" =>
          val s = streamed(b, q, Events, RowsPerBatch); val t = rows(batch())
          if (s.sorted == t.sorted) None else Some(s"${s.size} streamed rows vs ${t.size} batch rows")
        case "q4" | "q6" | "q9" =>
          val ckpt = java.nio.file.Files.createTempDirectory(s"perfbench-check-$q").toString
          val ev = NexmarkStreaming.stream(b.spark, Events, RowsPerBatch)
          NexmarkStreaming.twoStage(b.spark, q, ev, ckpt, 120000L) match {
            case None => Some("two-stage run did not finish")
            case Some(out) =>
              val s = rows(out).toSet; val t = rows(batch()).toSet
              if (s == t) None else Some(s"${(s -- t).size} stream-only, ${(t -- s).size} batch-only rows")
          }
        case "q12" =>
          // processing-time windows: which windows close before the stream
          // ends depends on the wall clock, so the emitted counts are not
          // comparable with the batch plan; the closed windows must exist
          // and hold only bidders the batch plan knows
          val s = streamed(b, q, Q12Events, Q12RowsPerBatch)
          val bidders = rows(Nexmark.all(q)(b.spark, Q12Events).select("bidder").distinct()).toSet
          val unknown = rows(b.spark.table("perfbench_q12").select("bidder").distinct())
            .filterNot(bidders)
          if (s.isEmpty) Some("no closed window emitted")
          else if (unknown.nonEmpty) Some(s"${unknown.size} bidders not in the batch answer")
          else None
        case _ =>
          // stateful queries: append mode withholds windows above the final
          // watermark, so the streamed rows must be a non-empty subset
          val s = streamed(b, q, Events, RowsPerBatch); val t = rows(batch()).toSet
          if (s.isEmpty) Some("no output")
          else if (!s.forall(t)) Some(s"${s.count(r => !t(r))} rows not in the batch answer")
          else None
      }
    } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
  }

  /** The untimed check, which is also the warm-up: every query's verdict
    * under the run configuration, one query per core at a time. q10 is
    * checked on the parquet sinks of the timed runs themselves (`verify`). */
  override def check(b: Bench): Unit = withRunConf(b) {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(b.cores)
    try {
      val futures = NexmarkStreaming.queryNames.filter(_ != "q10").map(q =>
        q -> pool.submit(new java.util.concurrent.Callable[Option[String]] {
          def call(): Option[String] = verdict(b, q)
        }))
      futures.foreach { case (q, f) =>
        f.get().foreach { why =>
          wrong += q
          b.fail(s"check $q: $why")
        }
      }
    } finally pool.shutdown()
  }

  /** Each timed q10 run's parquet sink against batch q10; a wrong one is
    * a failed operation. */
  override def verify(b: Bench): Unit = {
    val t = rows(Nexmark.all("q10")(b.spark, Events).select(q10Cols.head, q10Cols.tail: _*)).sorted
    q10Dirs().foreach { d =>
      val s = rows(b.spark.read.parquet(d.getPath + "/logs").select(q10Cols.head, q10Cols.tail: _*))
      if (s.sorted != t) b.fail(s"q10: ${s.size} streamed rows vs ${t.size} batch rows")
      FileUtils.deleteDirectory(d)
    }
  }

  override def pass(b: Bench): Unit = order.foreach { q =>
    progress.currentQuery = q
    val t0 = Main.now()
    val r = b.op(q)(b.span("streaming.run")(NexmarkStreaming.run(b.spark, q, Events, RowsPerBatch)))
    val s = Main.secondsSince(t0)
    PerfbenchBridge.drainListeners(b.spark.sparkContext)
    r match {
      case None => // threw: already failed
      case Some(None) => b.fail(s"$q: run returned None")
      case Some(Some(_)) => if (wrong(q)) b.fail(s"$q: wrong result (see check)")
    }
    calls += Map("query" -> q, "s" -> s, "events" -> Events, "ok" -> r.flatten.isDefined)
  }

  /** Every query through `run` at three micro-batches: the timed calls'
    * code path at a third of the cost of a pass. */
  override def warm(b: Bench): Unit = order.foreach { q =>
    if (NexmarkStreaming.run(b.spark, q, 3 * RowsPerBatch, RowsPerBatch).isEmpty)
      b.fail(s"warm-up run of $q returned None")
  }

  override def enough: Boolean = progress.snapshot().size - batchMark >= MinBatches

  override def samples: Map[String, Any] =
    Map("calls" -> calls.toSeq, "batches" -> progress.snapshot().drop(batchMark))

  override def reset(b: Bench): Unit = {
    q10Dirs().foreach(FileUtils.deleteDirectory) // warm-up sinks
    calls.clear()
    PerfbenchBridge.drainListeners(b.spark.sparkContext)
    batchMark = progress.snapshot().size
  }
}
