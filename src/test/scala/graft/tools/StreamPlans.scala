package graft.tools

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import graft.queries.NexmarkStreaming

/** Plan dumper for plans/r16 (not part of the suite): the physical plan
  * that `NexmarkStreaming.run` executes for one data micro-batch of q3 and
  * of q5, and where each micro-batch's time goes, so two builds can be
  * compared plan-for-plan.
  *
  * The plan is the `SparkPlanInfo` that the micro-batch's first SQL
  * execution posts, which Spark builds from the executed plan itself (the
  * execution's explain string is a re-plan). The timeline places the
  * listener events of every data micro-batch against the start of its
  * `addBatch` phase, taken as the trigger's start plus the phases that
  * precede it (`latestOffset`, `walCommit`, `getBatch`, `queryPlanning`);
  * the times are the events' millisecond stamps, so each step is good to
  * a few milliseconds.
  *
  * Usage: `Test/runMain graft.tools.StreamPlans <planDir> <tag>` writes
  * `<planDir>/<query>_batch2_<tag>.txt` and `<planDir>/<query>_timeline_<tag>.txt`. */
object StreamPlans {
  private val (events, rowsPerBatch, batch) = (5000L, 1000L, 2L)
  private val BatchOf = "(?s).*\\nbatch = ([0-9]+)$".r

  private def tree(p: SparkPlanInfo, depth: Int = 0): String =
    ("   " * depth) + (if (depth > 0) "+- " else "") + p.simpleString + "\n" +
      p.children.map(tree(_, depth + 1)).mkString

  /** Everything one run posts, keyed by micro-batch. An execution start
    * carries the time the execution began; Spark posts it once the
    * execution's explain string is built, so its arrival time marks the
    * end of that re-plan. */
  private final class Events extends SparkListener {
    val executions = mutable.Buffer.empty[(Long, SparkListenerSQLExecutionStart, Long)]
    val jobStarts = mutable.Map.empty[Int, (Long, Long)] // job -> (batch, ms)
    val jobEnds = mutable.Map.empty[Int, Long]
    val progress = mutable.Buffer.empty[StreamingQueryProgress]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .foreach(b => jobStarts(e.jobId) = b.toLong -> e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobEnds(e.jobId) = e.time
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => s.description match {
          case BatchOf(b) => executions += ((b.toLong, s, System.currentTimeMillis()))
          case _ =>
        }
        case p: StreamingQueryListener.QueryProgressEvent => progress += p.progress
        case _ =>
      }
    }
  }

  private def median(xs: Seq[Long]): Long = if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)

  /** Median milliseconds of each step of a data micro-batch, for the
    * first two SQL executions a micro-batch opens (0 where it opens one). */
  private def timeline(ev: Events): String = {
    val rows = ev.progress.toSeq.filter(_.numInputRows > 0).map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
      val addStart = Instant.parse(p.timestamp).toEpochMilli +
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning").map(d).sum
      val execs = ev.executions.filter(_._1 == p.batchId).map(e => (e._2.time, e._3))
        .sortBy(_._1)
      val jobs = ev.jobStarts.toSeq.filter(_._2._1 == p.batchId)
      val jobStart = jobs.map(_._2._2).min
      val jobEnd = jobs.map(j => ev.jobEnds(j._1)).max
      val second = execs.lift(1)
      Seq(d("queryPlanning"), d("addBatch"), execs.head._1 - addStart,
        execs.head._2 - execs.head._1,
        second.fold(0L)(_._1 - execs.head._2), second.fold(0L)(e => e._2 - e._1),
        jobStart - execs.last._2, jobEnd - jobStart, d("addBatch") - (jobEnd - addStart))
    }
    val names = Seq("queryPlanning", "addBatch",
      "addBatch start -> SQL execution 1 start", "SQL execution 1 explain re-plan",
      "SQL execution 1 posted -> 2 start", "SQL execution 2 explain re-plan",
      "last execution posted -> first job", "first job start -> last job end",
      "last job end -> addBatch end")
    s"## median ms over ${rows.size} data micro-batches\n" +
      names.indices.map(i => f"${names(i)}%-40s ${median(rows.map(_(i)))}%6d\n").mkString
  }

  def main(args: Array[String]): Unit = {
    val Array(planDir, tag) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- Seq("q3", "q5")) {
      NexmarkStreaming.run(spark, name, events, rowsPerBatch) // warm-up
      GraftTestBridge.drainListeners(spark.sparkContext)
      val ev = new Events
      spark.sparkContext.addSparkListener(ev)
      require(NexmarkStreaming.run(spark, name, events, rowsPerBatch).isDefined, name)
      GraftTestBridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(ev)
      val byBatch = ev.executions.toSeq.groupBy(_._1).map { case (b, ss) =>
        b -> ss.map(_._2).sortBy(_.executionId) }
      val perBatch = byBatch.toSeq.sortBy(_._1).map(_._2.size)
      val text = s"# $name micro-batch $batch of NexmarkStreaming.run(spark, \"$name\", " +
        s"$events, $rowsPerBatch), local[4]: executed plan of the batch's first " +
        s"SQL execution; SQL executions per micro-batch: ${perBatch.mkString(",")}\n" +
        tree(byBatch(batch).head.sparkPlanInfo)
      def save(file: String, text: String): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(planDir, file), text.getBytes)
      save(s"${name}_batch${batch}_$tag.txt", text)
      save(s"${name}_timeline_$tag.txt", s"# $name, NexmarkStreaming.run(spark, \"$name\", " +
        s"$events, $rowsPerBatch), local[4], after one warm-up run\n" + timeline(ev))
    }
    spark.stop(); sys.exit(0)
  }
}
