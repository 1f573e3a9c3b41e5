package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local[4] SparkSession per suite. */
trait GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSpec.session

  /** A query with pending processing-time timers never quiesces: Spark
    * schedules another (often empty) micro-batch after every batch so the
    * timers get their chance to fire, so `processAllAvailable` never
    * observes noNewData. Poll the memory sink until the expected row count
    * lands instead. */
  def awaitRows(table: String, n: Long, timeoutMs: Long = 120000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (spark.table(table).count() < n && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    assert(spark.table(table).count() >= n,
      s"$table did not reach $n rows within ${timeoutMs}ms")
  }

  /** Stop between triggers: a query with pending processing-time timers
    * is almost always mid-batch, and a stop() landing there interrupts a
    * state-store commit — the benign but noisy
    * CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT task error. Waiting for the
    * trigger to go idle stops inside the inter-trigger window, where no
    * commit is in flight. */
  def stopQuietly(qs: StreamingQuery*): Unit =
    qs.foreach { q =>
      val deadline = System.currentTimeMillis() + 5000
      try {
        while (q.status.isTriggerActive && System.currentTimeMillis() < deadline)
          Thread.sleep(5)
      } catch { case _: Throwable => }
      q.stop()
    }
}

object GraftSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // every streaming test checkpoints through the local manager — both
      // dogfooding (any contract break fails the suite broadly) and speed
      // (the Hadoop local adapter costs ~130 ms per checkpoint file)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.LocalCheckpointFileManager")
      // dogfood the SQL-surface extensions (incl. the MATCH_RECOGNIZE
      // parser) in every suite
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // keep the state-store maintenance thread out of the suites' way:
      // with the default 60 s interval, a RocksDB background snapshot
      // checkpoint can land mid-test and race a micro-batch commit —
      // tasks then retry on CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT and
      // pass, but under CPU contention that is the shape of flake that
      // aborts a suite. The interval is read once when the JVM's first
      // state store loads, so it must be set on the shared session, not
      // per test. Maintenance (snapshot compaction) is a long-running-job
      // optimization; correctness in a minutes-long suite needs none.
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
