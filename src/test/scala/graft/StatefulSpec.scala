package graft

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Stateful

/** The stateful operators on `transformWithState` (native state cells +
  * native timers): Deduplicate TTL at its boundary, the count triggers,
  * the processing-time timers, GroupIntoBatches on a ListState cell,
  * OrderedListState, and two independent event-time timers on one key
  * (reference DoFn.java:475–540 TimerMap).
  *
  * transformWithState ships on RocksDB only, so every query runs inside
  * `Stateful.withRocksDB`. */
class StatefulSpec extends GraftSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("every public Stateful operator plans on TransformWithState, none on FlatMapGroupsWithState") {
    implicit val ctx = spark.sqlContext
    val kv = MemoryStream[(String, Int)].toDS()
    val ktv = MemoryStream[(String, Timestamp, Int)].toDS()
    val kt = MemoryStream[(String, Timestamp)].toDS()
    val add = (a: Long, v: Int) => a + v
    val echo = Stateful.ParDoLogic[String, Int, Int, Int](0,
      (_, vs, c) => (Some(c), vs), (_, _, _) => (None, Seq.empty))
    val ops = Seq[(String, Dataset[_])](
      "statefulParDo" -> Stateful.statefulParDo(kv, echo),
      "deduplicate" -> Stateful.deduplicate(kv, ttlMs = 1000L),
      "countTriggered" -> Stateful.countTriggered(kv, 0L, add, every = 2),
      "processingTimeTriggered" -> Stateful.processingTimeTriggered(kv, 0L, add, delayMs = 500L),
      "firstOfTriggered" -> Stateful.firstOfTriggered(kv, 0L, add, every = 2, delayMs = 500L),
      "allOfTriggered" -> Stateful.allOfTriggered(kv, 0L, add, every = 2, delayMs = 500L),
      "orFinallyTriggered" -> Stateful.orFinallyTriggered(kv, 0L, add, every = 2, total = 5),
      "afterEachTriggered" -> Stateful.afterEachTriggered(kv, 0L, add, counts = Seq(1, 2)),
      "lateFiringPanes" -> Stateful.lateFiringPanes(ktv, windowMs = 60000L,
        allowedLatenessMs = 60000L, watermarkDelay = "0 seconds", zero = 0,
        add = (a: Int, v: Int) => a + v),
      "groupIntoBatches" -> Stateful.groupIntoBatches(kv, batchSize = 2, maxWaitMs = 1000L),
      "eventTimeSorted" -> Stateful.eventTimeSorted(ktv, watermarkDelay = "0 seconds"),
      "twoEventTimeTimers" -> Stateful.twoEventTimeTimers(kt, delayAMs = 1000L,
        delayBMs = 2000L, watermarkDelay = "0 seconds"))
    ops.foreach { case (name, ds) =>
      val nodes = ds.queryExecution.analyzed.collect { case p => p.nodeName }
      assert(nodes.contains("TransformWithState") && !nodes.contains("FlatMapGroupsWithState"),
        s"$name analyzes to ${nodes.mkString(" <- ")}")
    }
  }

  test("deduplicate: emits the first value per key on scripted input") {
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val in2 = MemoryStream[(String, Int)]
      val q2 = Stateful.deduplicate(in2.toDS(), ttlMs = 3600000)
        .writeStream.format("memory").queryName("dd_v2")
        .outputMode("append").trigger(Trigger.ProcessingTime(300)).start()
      try {
        in2.addData(("a", 1), ("a", 2), ("b", 3))
        awaitRows("dd_v2", 2)
        in2.addData(("a", 4), ("c", 5)) // cross-batch dup
        awaitRows("dd_v2", 3)
        val v2 = spark.table("dd_v2").as[Int].collect().sorted.toSeq
        assert(v2 == Seq(1, 3, 5), s"v2=$v2")
        // plan assertion (backs the s148 oracle gate, which runs this same
        // deduplicate shape): the query really executes the native
        // transformWithState operator, not a fallback
        val baos = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(baos)) { q2.explain() }
        assert(baos.toString.contains("TransformWithState"),
          s"physical plan lacks TransformWithState:\n${baos.toString.take(2000)}")
      } finally stopQuietly(q2)
    }
  }

  test("deduplicate TTL boundary: an element arriving after its key's " +
      "deadline re-emits") {
    // an element landing after its key's TTL expiry (but in a
    // data-carrying batch) must re-emit — whether the TTL cleared via a
    // fired timer between batches or via the head-of-bundle drain, the
    // post-TTL element is a first-seen again.
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val in2 = MemoryStream[(String, Int)]
      val q2 = Stateful.deduplicate(in2.toDS(), ttlMs = 1)
        .writeStream.format("memory").queryName("ddttl_v2")
        .outputMode("append").trigger(Trigger.ProcessingTime(300)).start()
      try {
        in2.addData(("a", 1))
        awaitRows("ddttl_v2", 1)
        Thread.sleep(300) // the 1 ms TTL deadline is long past
        in2.addData(("a", 2))
        awaitRows("ddttl_v2", 2)
        val v2 = spark.table("ddttl_v2").as[Int].collect().sorted.toSeq
        assert(v2 == Seq(1, 2), s"v2=$v2")
      } finally stopQuietly(q2)
    }
  }

  test("deduplicate: an element in the micro-batch that finds its key's TTL " +
      "overdue re-emits (head-of-bundle drain)") {
    // transformWithState runs a batch's input rows BEFORE its expired
    // timers, so only the drain at the head of handleInputRows lets the
    // element see the post-TTL state. With no-data micro-batches off, no
    // batch fires the overdue TTL timer before the second element
    // arrives: batch 1 gets the element and the overdue deadline together.
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val in = MemoryStream[(String, Int)]
      val q = Stateful.deduplicate(in.toDS(), ttlMs = 1)
        .writeStream.format("memory").queryName("dd_drain")
        .outputMode("append").trigger(Trigger.ProcessingTime(300)).start()
      try {
        in.addData(("a", 1))
        awaitRows("dd_drain", 1)
        Thread.sleep(300) // the 1 ms TTL deadline is long past
        in.addData(("a", 2))
        awaitRows("dd_drain", 2, timeoutMs = 30000)
        val v = spark.table("dd_drain").as[Int].collect().sorted.toSeq
        assert(v == Seq(1, 2), s"v=$v")
      } finally stopQuietly(q)
    } finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  test("count-triggered panes: the pane sequence carries running sums across batches") {
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val in2 = MemoryStream[(String, Int)]
      val q2 = Stateful.countTriggered[String, Int, Long](
          in2.toDS(), zero = 0L, add = (a, v) => a + v, every = 2)
        .toDF("k", "running_sum", "pane")
        .writeStream.format("memory").queryName("ct_v2")
        .outputMode("append").trigger(Trigger.ProcessingTime(300)).start()
      try {
        in2.addData(("a", 1), ("a", 2), ("a", 3))
        awaitRows("ct_v2", 1)
        in2.addData(("a", 4), ("a", 5)) // state crosses batches
        awaitRows("ct_v2", 2)
        val v2 = spark.table("ct_v2").as[(String, Long, Long)].collect().sortBy(_._3).toSeq
        assert(v2 == Seq(("a", 3L, 0L), ("a", 10L, 1L)), s"v2=$v2")
      } finally stopQuietly(q2)
    }
  }

  test("orFinally: repeats count panes then closes the key") {
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Int)]
      val q = Stateful.orFinallyTriggered[String, Int, Long](
          input.toDS(), zero = 0L, add = (a, v) => a + v, every = 2, total = 5)
        .toDF("k", "running_sum", "pane", "is_final")
        .writeStream.format("memory").queryName("of_v2")
        .outputMode("append").trigger(Trigger.ProcessingTime(300)).start()
      try {
        input.addData(("a", 1), ("a", 2), ("a", 3), ("a", 4), ("a", 5),
          ("a", 100), ("a", 200)) // last two land after the close
        awaitRows("of_v2", 3)
        Thread.sleep(400) // would surface any post-final extra pane
        val rows = spark.table("of_v2").as[(String, Long, Long, Boolean)]
          .collect().sortBy(_._3).toSeq
        // same expectation StreamingSpec pins for this input
        assert(rows == Seq(("a", 3L, 0L, false), ("a", 10L, 1L, false),
          ("a", 15L, 2L, true)), rows.toString)
      } finally stopQuietly(q)
    }
  }

  test("afterEach: sequenced sub-triggers fire in order then finish") {
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Int)]
      val q = Stateful.afterEachTriggered[String, Int, Long](
          input.toDS(), zero = 0L, add = (a, v) => a + v, counts = Seq(1, 2, 3))
        .toDF("k", "running_sum", "pane")
        .writeStream.format("memory").queryName("ae_v2")
        .outputMode("append").trigger(Trigger.ProcessingTime(300)).start()
      try {
        input.addData((1 to 8).map(i => ("a", i)): _*)
        awaitRows("ae_v2", 3)
        Thread.sleep(400)
        val rows = spark.table("ae_v2").as[(String, Long, Long)].collect().sortBy(_._3).toSeq
        assert(rows == Seq(("a", 1L, 0L), ("a", 6L, 1L), ("a", 21L, 2L)), rows.toString)
      } finally stopQuietly(q)
    }
  }

  test("processing-time pane fires on a NATIVE timer after the delay") {
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Int)]
      val q = Stateful.processingTimeTriggered[String, Int, Long](
          input.toDS(), zero = 0L, add = (a, v) => a + v, delayMs = 500)
        .toDF("k", "running_sum", "pane")
        .writeStream.format("memory").queryName("pt_v2")
        .outputMode("append").trigger(Trigger.ProcessingTime(300)).start()
      try {
        input.addData(("a", 1), ("a", 2))
        awaitRows("pt_v2", 1) // pane 0 ~500ms after the first element
        input.addData(("a", 4))
        awaitRows("pt_v2", 2)
        val rows = spark.table("pt_v2").as[(String, Long, Long)].collect().sortBy(_._3).toSeq
        assert(rows == Seq(("a", 3L, 0L), ("a", 7L, 1L)), rows.toString)
      } finally stopQuietly(q)
    }
  }

  test("AfterFirst: count side fires immediately, clock side flushes a short pane") {
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Int)]
      val q = Stateful.firstOfTriggered[String, Int, Long](
          input.toDS(), zero = 0L, add = (a, v) => a + v, every = 3, delayMs = 700)
        .toDF("k", "running_sum", "pane")
        .writeStream.format("memory").queryName("fo_v2")
        .outputMode("append").trigger(Trigger.ProcessingTime(300)).start()
      try {
        input.addData(("a", 1), ("a", 2)) // below count: the 700ms clock fires
        awaitRows("fo_v2", 1)
        input.addData(("a", 3), ("a", 4), ("a", 5)) // count side at once
        awaitRows("fo_v2", 2)
        val rows = spark.table("fo_v2").as[(String, Long, Long)].collect().sortBy(_._3).toSeq
        assert(rows == Seq(("a", 3L, 0L), ("a", 15L, 1L)), rows.toString)
      } finally stopQuietly(q)
    }
  }

  test("groupIntoBatches on a native ListState cell: count batches + timer flush") {
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Int)]
      val q = Stateful.groupIntoBatches(input.toDS(), batchSize = 2,
          maxWaitMs = 600)
        .toDF("k", "batch")
        .writeStream.format("memory").queryName("gib_v2")
        .outputMode("append").trigger(Trigger.ProcessingTime(300)).start()
      try {
        input.addData(("a", 1), ("a", 2), ("a", 3), ("b", 9))
        awaitRows("gib_v2", 1) // ("a", [1,2]) is full immediately
        // the partial [3] and [9] flush on the native maxWait timer
        awaitRows("gib_v2", 3)
        val rows = spark.table("gib_v2").as[(String, Seq[Int])].collect()
          .map { case (k, b) => (k, b.toList) }.toSet
        assert(rows == Set(("a", List(1, 2)), ("a", List(3)), ("b", List(9))),
          rows.toString)
      } finally stopQuietly(q)
    }
  }

  test("OrderedListState: out-of-order events release in event-time order at the watermark") {
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Timestamp, String)]
      val q = Stateful.eventTimeSorted(input.toDS(), watermarkDelay = "0 seconds")
        .toDF("k", "ts", "v")
        .writeStream.format("memory").queryName("sorted_v2")
        .outputMode("append").trigger(Trigger.ProcessingTime(300)).start()
      try {
        // batch 1 arrives OUT of order; nothing can release until the
        // watermark (still behind) passes the buffered timestamps
        input.addData(("a", ts("2024-01-01 00:00:10"), "c"),
          ("a", ts("2024-01-01 00:00:05"), "b"))
        awaitRows("sorted_v2", 2) // wm → 10s after the batch; timer at 5s drains both
        // batch 2: again reversed; earlier rows already released stay released
        input.addData(("a", ts("2024-01-01 00:00:20"), "e"),
          ("a", ts("2024-01-01 00:00:15"), "d"))
        awaitRows("sorted_v2", 4)
        val rows = spark.table("sorted_v2").as[(String, Long, String)].collect().toSeq
        val t0 = ts("2024-01-01 00:00:00").getTime
        // released strictly in per-key event-time order, across micro-batches
        assert(rows == Seq(("a", t0 + 5000, "b"), ("a", t0 + 10000, "c"),
          ("a", t0 + 15000, "d"), ("a", t0 + 20000, "e")), rows.toString)
      } finally stopQuietly(q)
    }
  }

  test("two INDEPENDENT event-time timers on one key fire separately (native TimerMap)") {
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Timestamp)]
      val t0 = ts("2024-01-01 00:00:00").getTime
      val q = Stateful.twoEventTimeTimers(input.toDS(), delayAMs = 5000L,
          delayBMs = 10000L, watermarkDelay = "0 seconds")
        .toDF("k", "timer", "at")
        .writeStream.format("memory").queryName("tt_v2")
        .outputMode("append").trigger(Trigger.ProcessingTime(300)).start()
      try {
        input.addData(("k1", ts("2024-01-01 00:00:00"))) // arms a@+5s AND b@+10s
        q.processAllAvailable()
        assert(spark.table("tt_v2").count() == 0, "timers fired before the watermark moved")
        // watermark → 7s: ONLY timer a (5s) crosses; b (10s) stays armed —
        // the two deadlines are independent store entries, not a re-armed min
        input.addData(("wm", ts("2024-01-01 00:00:07")))
        awaitRows("tt_v2", 1)
        val mid = spark.table("tt_v2").filter($"k" === "k1")
          .as[(String, String, Long)].collect().toSet
        assert(mid == Set(("k1", "a", t0 + 5000)), mid.toString)
        // watermark → 60s: b fires for k1 (and wm's own timers fire too)
        input.addData(("wm2", ts("2024-01-01 00:01:00")))
        awaitRows("tt_v2", 4) // k1:a, k1:b, wm:a(12s), wm:b(17s)
        val k1 = spark.table("tt_v2").filter($"k" === "k1")
          .as[(String, String, Long)].collect().toSet
        assert(k1 == Set(("k1", "a", t0 + 5000), ("k1", "b", t0 + 10000)), k1.toString)
      } finally stopQuietly(q)
    }
  }
}
