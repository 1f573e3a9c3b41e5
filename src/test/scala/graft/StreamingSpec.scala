package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{Stateful, Windows}

/** TestStream-style scripted streaming checks (reference
  * testing/TestStream.java pattern): push elements, advance the watermark
  * by pushing later elements, assert per-window outputs. */
class StreamingSpec extends GraftSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling window with watermark drops late data (append mode)") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val agg = Windows.withLateness(
      input.toDF().toDF("k", "event_time"), "event_time", "10 seconds")
      .groupBy(window(col("event_time"), "1 minute"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("start"), col("k"), col("n"))
    val q = agg.writeStream.format("memory").queryName("tumbled")
      .outputMode("append").start()
    try {
      input.addData(("a", ts("2024-01-01 00:00:10")), ("a", ts("2024-01-01 00:00:40")))
      q.processAllAvailable()
      // advance watermark past 00:01:00 + 10s → first window closes
      input.addData(("a", ts("2024-01-01 00:02:00")))
      q.processAllAvailable()
      // this element targets the closed window → must be dropped
      input.addData(("a", ts("2024-01-01 00:00:50")))
      q.processAllAvailable()
      input.addData(("a", ts("2024-01-01 00:05:00")))
      q.processAllAvailable()
      val rows = spark.table("tumbled")
        .select("start", "n").as[(Timestamp, Long)].collect().toMap
      assert(rows(ts("2024-01-01 00:00:00")) == 2L) // late element NOT counted
    } finally stopQuietly(q)
  }

  test("streaming incremental dedup pairs arriving docs against a static corpus") {
    implicit val ctx = spark.sqlContext
    import scala.collection.mutable
    import org.apache.spark.sql.DataFrame
    import graft.dedup.Dedup
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (2L, "completely different content about database query optimization engines"))
      .toDF("doc_id", "text")
    // the corpus form, and the prebuilt-index form over a saved and
    // loaded index, must report the same pairs
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-index").toFile
    Dedup.saveBandIndex(Dedup.buildBandIndex(corpus, "doc_id", "text",
      numHashes = 60, bands = 20), s"$dir/index")
    type Sink = (DataFrame, Long) => Unit
    val forms = Seq[(DataFrame, Sink) => org.apache.spark.sql.streaming.StreamingQuery](
      (docs, sink) => Dedup.streamingDedupAgainst(docs, corpus, "doc_id", "text", sink,
        threshold = 0.5, numHashes = 60, bands = 20),
      (docs, sink) => Dedup.streamingDedupAgainst(docs,
        Dedup.loadBandIndex(spark, s"$dir/index"), "doc_id", "text", sink, 0.5))
    try forms.foreach { start =>
      val input = MemoryStream[(Long, String)]
      val got = mutable.Set.empty[(Long, Long)]
      val q = start(input.toDF().toDF("doc_id", "text"), (pairs, _) => got.synchronized {
        got ++= pairs.select("new_id", "corpus_id")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      })
      try {
        // batch 1: a near-dup of corpus doc 0 and an unrelated doc
        input.addData((101L, "the quick brown fox jumps over the lazy dog and runs away quickly"),
          (102L, "unrelated text about streaming watermark semantics and triggers"))
        q.processAllAvailable()
        // batch 2: an exact dup of corpus doc 2
        input.addData((103L, "completely different content about database query optimization engines"))
        q.processAllAvailable()
        assert(got.toSet == Set((101L, 0L), (103L, 2L)))
      } finally stopQuietly(q)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("streaming deduplicate keeps first occurrence across micro-batches") {
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Int)]
      val deduped = Stateful.deduplicate(input.toDS(), ttlMs = 60000)
      val q = deduped.writeStream.format("memory").queryName("deduped")
        .outputMode("append").trigger(Trigger.ProcessingTime(200)).start()
      try {
        input.addData(("a", 1), ("a", 2), ("b", 3))
        awaitRows("deduped", 2)
        input.addData(("a", 4), ("c", 5)) // a is a cross-batch duplicate
        awaitRows("deduped", 3)
        val vals = spark.table("deduped").as[Int].collect().sorted.toSeq
        assert(vals == Seq(1, 3, 5))
      } finally stopQuietly(q)
    }
  }

  test("late-firing panes: a late element fires a LATE pane instead of dropping") {
    Stateful.withRocksDB(spark) {
      // reference AfterWatermark.pastEndOfWindow().withLateFirings(
      // AfterPane.elementCountAtLeast(1)) + allowed lateness: the on-time
      // pane fires when the watermark crosses the window end; a late element
      // within allowed lateness RE-FIRES the (accumulating) pane as LATE;
      // past end + lateness the window is expired and elements drop.
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Timestamp, Int)]
      val panes = Stateful.lateFiringPanes(
        input.toDS(), windowMs = 60000L, allowedLatenessMs = 120000L,
        watermarkDelay = "0 seconds", zero = 0, add = (a: Int, v: Int) => a + v)
      val q = panes.writeStream.format("memory").queryName("late_panes")
        .outputMode("append").trigger(Trigger.ProcessingTime(200)).start()
      try {
        input.addData(("a", ts("2024-01-01 00:00:10"), 1), ("a", ts("2024-01-01 00:00:40"), 2))
        // advance the watermark past the window end -> ON_TIME pane (value 3)
        input.addData(("b", ts("2024-01-01 00:02:00"), 0))
        awaitRows("late_panes", 1)
        // late element within allowed lateness -> LATE pane (value 3 + 5)
        input.addData(("a", ts("2024-01-01 00:00:50"), 5))
        awaitRows("late_panes", 2)
        // advance past end + lateness -> window GC'd (also closes b's first
        // window, whose own expiry flushes its pending pane: row 3)...
        input.addData(("b", ts("2024-01-01 00:10:00"), 0))
        awaitRows("late_panes", 3)
        // ...so a too-late element is dropped, not re-fired
        input.addData(("a", ts("2024-01-01 00:00:55"), 9))
        Thread.sleep(3000) // several poll cycles: a drop emits nothing
        val aPanes = spark.table("late_panes")
          .as[(String, Long, Int, Long, String)].collect()
          .filter(_._1 == "a").sortBy(_._4).toSeq
        val winStart = ts("2024-01-01 00:00:00").getTime
        assert(aPanes == Seq(
          ("a", winStart, 3, 0L, "ON_TIME"),
          ("a", winStart, 8, 1L, "LATE")), s"got $aPanes")
      } finally stopQuietly(q)
    }
  }

  test("late-firing panes: too-late element GCs state and flushes the pending pane") {
    Stateful.withRocksDB(spark) {
      // Regression: a too-late element arriving BEFORE the poll timer notices
      // the watermark crossed end+lateness must not leak state or drop the
      // pending unfired ON_TIME pane. pollMs is set to an hour so the poll
      // never runs in-test: the too-late element's own batch is the only
      // code path that can flush — exercising the wm >= gcAt data branch.
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Timestamp, Int)]
      val panes = Stateful.lateFiringPanes(
        input.toDS(), windowMs = 60000L, allowedLatenessMs = 60000L,
        watermarkDelay = "0 seconds", zero = 0, add = (a: Int, v: Int) => a + v,
        pollMs = 3600000L)
      val q = panes.writeStream.format("memory").queryName("late_gc")
        .outputMode("append").trigger(Trigger.ProcessingTime(200)).start()
      // processing-time timer queries never quiesce (see
      // GraftSpec.awaitRows) — poll the query's watermark instead of
      // processAllAvailable.
      def awaitWatermark(atLeast: Timestamp, timeoutMs: Long = 60000): Unit = {
        val deadline = System.currentTimeMillis() + timeoutMs
        def wm: Long = Option(q.lastProgress)
          .flatMap(p => Option(p.eventTime.get("watermark")))
          .map(java.time.Instant.parse(_).toEpochMilli).getOrElse(0L)
        while (wm < atLeast.getTime && System.currentTimeMillis() < deadline)
          Thread.sleep(200)
        assert(wm >= atLeast.getTime, s"watermark stuck at $wm")
      }
      try {
        input.addData(("a", ts("2024-01-01 00:00:10"), 7)) // accumulates, pane unfired
        // jump the watermark straight past end (00:01) + lateness (00:02)
        input.addData(("b", ts("2024-01-01 00:30:00"), 0))
        awaitWatermark(ts("2024-01-01 00:30:00"))
        // too-late element: value 9 must be dropped, but the pending pane
        // (value 7) must flush and the state entry must be removed
        input.addData(("a", ts("2024-01-01 00:00:20"), 9))
        awaitRows("late_gc", 1)
        // a second too-late element must now find no state → emit nothing
        input.addData(("a", ts("2024-01-01 00:00:30"), 11))
        Thread.sleep(2000)
        val aPanes = spark.table("late_gc")
          .as[(String, Long, Int, Long, String)].collect()
          .filter(_._1 == "a").toSeq
        val winStart = ts("2024-01-01 00:00:00").getTime
        assert(aPanes == Seq(("a", winStart, 7, 0L, "ON_TIME")), s"got $aPanes")
      } finally stopQuietly(q)
    }
  }

  test("groupIntoBatches flushes full batches immediately") {
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Int)]
      val batched = Stateful.groupIntoBatches(input.toDS(), batchSize = 2, maxWaitMs = 3600000)
      val q = batched.writeStream.format("memory").queryName("batched")
        .outputMode("append").trigger(Trigger.ProcessingTime(200)).start()
      try {
        input.addData(("a", 1), ("a", 2), ("a", 3), ("b", 9))
        awaitRows("batched", 1)
        val out = spark.table("batched").as[(String, Seq[Int])].collect()
        // a: one full batch of 2 emitted, 1 buffered; b: buffered
        assert(out.toSeq == Seq(("a", Seq(1, 2))))
      } finally stopQuietly(q)
    }
  }

  test("session windows merge within gap on a stream") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val agg = input.toDF().toDF("k", "event_time")
      .withWatermark("event_time", "10 seconds")
      .groupBy(session_window(col("event_time"), "30 seconds"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("k"), col("n"))
    val q = agg.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      input.addData(("a", ts("2024-01-01 00:00:00")), ("a", ts("2024-01-01 00:00:20")),
        ("a", ts("2024-01-01 00:02:00"))) // third is a separate session
      q.processAllAvailable()
      input.addData(("a", ts("2024-01-01 00:10:00"))) // advance watermark
      q.processAllAvailable()
      val closed = spark.table("sessions").as[(String, Long)].collect().toSeq
      assert(closed.contains(("a", 2L)) && closed.contains(("a", 1L)))
    } finally stopQuietly(q)
  }

  test("stream-static join enriches a stream against a dimension (side-input join)") {
    // reference: BeamSideInputJoinRel.java:69 — unbounded main input joined
    // against a bounded side; Spark broadcasts the static side per batch
    implicit val ctx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val input = MemoryStream[(Long, Double)]
    val joined = input.toDF().toDF("uid", "amount")
      .join(dim, Seq("uid"), "left_outer")
      .select(col("uid"), col("amount"), coalesce(col("tier"), lit("none")).as("tier"))
    val q = joined.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      input.addData((1L, 10.0), (3L, 5.0))
      q.processAllAvailable()
      val rows = spark.table("enriched").as[(Long, Double, String)].collect().sortBy(_._1)
      assert(rows.toSeq == Seq((1L, 10.0, "gold"), (3L, 5.0, "none")))
    } finally stopQuietly(q)
  }

  test("stream-stream interval join with watermarks") {
    // reference: CoGroupByKey on two unbounded inputs within a window —
    // Spark's watermarked stream-stream join bounds both buffers
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val views = MemoryStream[(Long, Timestamp)]
    val c = clicks.toDF().toDF("uid", "click_time").withWatermark("click_time", "1 minute")
    val v = views.toDF().toDF("vuid", "view_time").withWatermark("view_time", "1 minute")
    val joined = c.join(v,
      col("uid") === col("vuid") &&
        col("click_time") >= col("view_time") &&
        col("click_time") <= col("view_time") + expr("INTERVAL 2 MINUTES"))
      .select(col("uid"), col("click_time"), col("view_time"))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    try {
      views.addData((7L, ts("2024-01-01 00:01:00")))
      clicks.addData((7L, ts("2024-01-01 00:02:00"))) // within 2 min after view
      clicks.addData((7L, ts("2024-01-01 00:09:00"))) // outside the interval
      q.processAllAvailable()
      val rows = spark.table("ssjoin").as[(Long, Timestamp, Timestamp)].collect()
      assert(rows.toSeq == Seq((7L, ts("2024-01-01 00:02:00"), ts("2024-01-01 00:01:00"))))
    } finally stopQuietly(q)
  }

  test("rate source ticks (GenerateSequence/PeriodicImpulse analog)") {
    val q = spark.readStream.format("rate").option("rowsPerSecond", "50").load()
      .writeStream.format("memory").queryName("ticks").outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("ticks").isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(!spark.table("ticks").isEmpty, "rate source produced no rows")
      assert(spark.table("ticks").columns.toSet == Set("timestamp", "value"))
    } finally stopQuietly(q)
  }

  test("file watch source streams new files into a file sink (TextIO.watchForNewFiles → WriteFiles)") {
    val inDir = java.nio.file.Files.createTempDirectory("graft-watch-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-watch-out").resolve("out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-watch-ckpt").toString
    val q = graft.sources.FileIO.watchText(spark, inDir)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(inDir, "a.txt"), "alpha\nbeta\n")
      q.processAllAvailable()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(inDir, "b.txt"), "gamma\n") // a NEW file is picked up
      q.processAllAvailable()
      val vals = spark.read.parquet(outDir).as[String].collect().toSet
      assert(vals == Set("alpha", "beta", "gamma"))
    } finally stopQuietly(q)
  }

  test("streaming MATCH_RECOGNIZE finalizes matches at the watermark") {
    implicit val ctx = spark.sqlContext
    import graft.cep.Pattern
    val input = MemoryStream[(String, Timestamp, String)]
    val evs = input.toDS().toDF("k", "event_time", "sym")
      .withWatermark("event_time", "5 seconds")
      .as[(String, Timestamp, String)]
    val pat = Seq(
      Pattern.Sym[(String, Timestamp, String)]("a", _._3 == "a"),
      Pattern.Sym[(String, Timestamp, String)]("b", _._3 == "b"))
    val out = Pattern.matchStream(evs,
      (e: (String, Timestamp, String)) => e._1,
      (e: (String, Timestamp, String)) => e._2.getTime, pat) { (k, m) =>
      (k, m.events.head._2.getTime)
    }
    val q = out.writeStream.format("memory").queryName("cepstream")
      .outputMode("append").start()
    try {
      input.addData(("u", ts("2024-01-01 00:00:01"), "a"),
        ("u", ts("2024-01-01 00:00:02"), "b"),
        ("u", ts("2024-01-01 00:00:03"), "c"))
      q.processAllAvailable() // watermark still behind: nothing final yet
      input.addData(("u", ts("2024-01-01 00:01:00"), "x")) // advance watermark
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.table("cepstream").as[(String, Long)].collect()
      assert(rows.toSeq == Seq(("u", ts("2024-01-01 00:00:01").getTime)),
        s"got ${rows.toSeq}")
    } finally stopQuietly(q)
  }

  test("streaming MATCH_RECOGNIZE: PREV at the buffer head sees the consumed predecessor") {
    implicit val ctx = spark.sqlContext
    import graft.cep.Pattern
    val input = MemoryStream[(String, Timestamp, Int)]
    val evs = input.toDS().toDF("k", "event_time", "v")
      .withWatermark("event_time", "5 seconds").as[(String, Timestamp, Int)]
    // A* anchors on v==0, R matches a rise vs the PHYSICAL previous event.
    // After (0,5) is consumed, the next scan's first event (100) has no
    // in-buffer predecessor — PREV must resolve to the retained context (5),
    // exactly as a batch scan of the full sequence would.
    val pat = Seq(
      Pattern.Sym[(String, Timestamp, Int)]("a", _._3 == 0, Pattern.Star),
      Pattern.Sym.withPrev[(String, Timestamp, Int)]("r", (p, c) => p.exists(c._3 > _._3)))
    val out = Pattern.matchStream(evs,
      (e: (String, Timestamp, Int)) => e._1,
      (e: (String, Timestamp, Int)) => e._2.getTime, pat) {
      (k, m) => (k, m.events.last._3)
    }
    val q = out.writeStream.format("memory").queryName("cepprev")
      .outputMode("append").start()
    try {
      input.addData(("u", ts("2024-01-01 00:00:01"), 0),
        ("u", ts("2024-01-01 00:00:02"), 5),
        ("u", ts("2024-01-01 00:01:00"), 100))
      q.processAllAvailable()
      q.processAllAvailable() // timeout pass: wm=55s matures (0,5) -> match, ctx=5
      input.addData(("u", ts("2024-01-01 00:02:00"), 7)) // advances wm past 100
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("cepprev").as[(String, Int)].collect().map(_._2).toSet
      // 5 from the (0,5) match; 100 only if PREV resolved to the consumed 5
      assert(got == Set(5, 100), s"got $got")
    } finally stopQuietly(q)
  }

  test("count-triggered early firing emits running panes every N elements") {
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Int)]
      val panes = Stateful.countTriggered[String, Int, Long](
        input.toDS(), zero = 0L, add = (a, v) => a + v, every = 2)
      val q = panes.toDF("k", "running_sum", "pane")
        .writeStream.format("memory").queryName("panes")
        .outputMode("append").trigger(Trigger.ProcessingTime(200)).start()
      try {
        input.addData(("a", 1), ("a", 2), ("a", 3), ("a", 4), ("a", 5))
        awaitRows("panes", 2)
        val rows = spark.table("panes").as[(String, Long, Long)].collect().sortBy(_._3)
        // accumulating panes: pane 0 after 2 elements (sum 3), pane 1 after 4 (sum 10)
        assert(rows.toSeq == Seq(("a", 3L, 0L), ("a", 10L, 1L)))
      } finally stopQuietly(q)
    }
  }

  test("orFinally: repeated count panes until the total closes the key") {
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Int)]
      val panes = Stateful.orFinallyTriggered[String, Int, Long](
        input.toDS(), zero = 0L, add = (a, v) => a + v, every = 2, total = 5)
      val q = panes.toDF("k", "running_sum", "pane", "is_final")
        .writeStream.format("memory").queryName("or_finally")
        .outputMode("append").trigger(Trigger.ProcessingTime(200)).start()
      try {
        input.addData(("a", 1), ("a", 2), ("a", 3), ("a", 4), ("a", 5),
          ("a", 100), ("a", 200)) // the last two land after the close
        awaitRows("or_finally", 3)
        Thread.sleep(500) // would surface any post-final extra pane
        val rows = spark.table("or_finally").as[(String, Long, Long, Boolean)]
          .collect().sortBy(_._3)
        // panes 0,1 every 2 elements; 5th element satisfies the until-side:
        // final pane, then the key is closed and 100/200 are discarded
        assert(rows.toSeq == Seq(("a", 3L, 0L, false), ("a", 10L, 1L, false),
          ("a", 15L, 2L, true)))
      } finally stopQuietly(q)
    }
  }

  test("afterEach: sequenced count sub-triggers fire in order, then finish") {
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Int)]
      val panes = Stateful.afterEachTriggered[String, Int, Long](
        input.toDS(), zero = 0L, add = (a, v) => a + v, counts = Seq(1, 2, 3))
      val q = panes.toDF("k", "running_sum", "pane")
        .writeStream.format("memory").queryName("after_each")
        .outputMode("append").trigger(Trigger.ProcessingTime(200)).start()
      try {
        input.addData((1 to 8).map(i => ("a", i)): _*) // 6 consume the sequence; 7,8 after finish
        awaitRows("after_each", 3)
        Thread.sleep(500)
        val rows = spark.table("after_each").as[(String, Long, Long)].collect().sortBy(_._3)
        // pane 0 after 1 element, pane 1 after 2 more, pane 2 after 3 more;
        // elements 7,8 arrive on a finished sequence and never fire
        assert(rows.toSeq == Seq(("a", 1L, 0L), ("a", 6L, 1L), ("a", 21L, 2L)))
      } finally stopQuietly(q)
    }
  }

  test("processing-time early firing emits a running pane after the delay") {
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Int)]
      val panes = Stateful.processingTimeTriggered[String, Int, Long](
        input.toDS(), zero = 0L, add = (a, v) => a + v, delayMs = 500)
      val q = panes.toDF("k", "running_sum", "pane")
        .writeStream.format("memory").queryName("pt_panes")
        .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
      try {
        input.addData(("a", 1), ("a", 2))
        awaitRows("pt_panes", 1) // pane 0 fires ~500ms after the first element
        input.addData(("a", 4))
        awaitRows("pt_panes", 2) // new element re-arms; pane 1 is accumulating
        val rows = spark.table("pt_panes").as[(String, Long, Long)].collect().sortBy(_._3)
        assert(rows.toSeq == Seq(("a", 3L, 0L), ("a", 7L, 1L)))
      } finally stopQuietly(q)
    }
  }

  test("hot keys drain processing-time panes while receiving data every batch") {
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Int)]
      val panes = Stateful.processingTimeTriggered[String, Int, Long](
        input.toDS(), zero = 0L, add = (a, v) => a + v, delayMs = 400)
      val q = panes.toDF("k", "running_sum", "pane")
        .writeStream.format("memory").queryName("hot_panes")
        .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
      try {
        // Feed the key faster than the trigger interval so (nearly) every
        // micro-batch has data: its panes must still fire, whether the
        // element path drains the overdue deadline or the native timer
        // fires after the batch's rows.
        val stopAt = System.currentTimeMillis() + 30000
        var fired = false
        while (System.currentTimeMillis() < stopAt && !fired) {
          input.addData(("a", 1))
          Thread.sleep(60)
          fired = spark.table("hot_panes").count() >= 2
        }
        assert(fired, "hot key never fired a processing-time pane while receiving data every batch")
      } finally stopQuietly(q)
    }
  }

  test("AfterFirst(count, processing-time) fires on whichever satisfies first") {
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Int)]
      val panes = Stateful.firstOfTriggered[String, Int, Long](
        input.toDS(), zero = 0L, add = (a, v) => a + v, every = 3, delayMs = 700)
      val q = panes.toDF("k", "running_sum", "pane")
        .writeStream.format("memory").queryName("first_of")
        .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
      try {
        input.addData(("a", 1), ("a", 2)) // below count: the 700ms clock fires
        awaitRows("first_of", 1)
        input.addData(("a", 3), ("a", 4), ("a", 5)) // count side fires at once
        awaitRows("first_of", 2)
        val rows = spark.table("first_of").as[(String, Long, Long)].collect().sortBy(_._3)
        assert(rows.toSeq == Seq(("a", 3L, 0L), ("a", 15L, 1L)))
      } finally stopQuietly(q)
    }
  }

  test("AfterAll(count, processing-time) fires only when both are satisfied") {
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(String, Int)]
      val panes = Stateful.allOfTriggered[String, Int, Long](
        input.toDS(), zero = 0L, add = (a, v) => a + v, every = 2, delayMs = 600)
      val q = panes.toDF("k", "running_sum", "pane")
        .writeStream.format("memory").queryName("all_of")
        .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
      try {
        input.addData(("a", 1), ("a", 2)) // count met at once; clock not yet
        Thread.sleep(300)
        assert(spark.table("all_of").count() == 0,
          "pane fired before the processing-time side was satisfied")
        awaitRows("all_of", 1) // clock satisfies second -> pane 0 delivers
        input.addData(("a", 4)) // arms pane 1's clock; count unmet
        Thread.sleep(900) // clock satisfied first, count still unmet
        assert(spark.table("all_of").count() == 1,
          "pane fired before the count side was satisfied")
        input.addData(("a", 8)) // count fills second -> pane 1 delivers
        awaitRows("all_of", 2)
        val rows = spark.table("all_of").as[(String, Long, Long)].collect().sortBy(_._3)
        assert(rows.toSeq == Seq(("a", 3L, 0L), ("a", 15L, 1L)))
      } finally stopQuietly(q)
    }
  }

  test("windowed writes: file sink partitioned by window start (WriteFiles windowed writes)") {
    implicit val ctx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft-winwrite").resolve("out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-winwrite-ckpt").toString
    val input = MemoryStream[(String, Timestamp)]
    val agg = input.toDF().toDF("k", "event_time")
      .withWatermark("event_time", "5 seconds")
      .groupBy(window(col("event_time"), "1 minute"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "HH-mm").as("win"), col("k"), col("n"))
    val q = agg.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .partitionBy("win").outputMode("append").start()
    try {
      input.addData(("a", ts("2024-01-01 00:00:10")), ("a", ts("2024-01-01 00:01:10")))
      q.processAllAvailable()
      input.addData(("a", ts("2024-01-01 00:10:00"))) // advance watermark, close both
      q.processAllAvailable()
      val dirs = new java.io.File(outDir).listFiles().filter(_.isDirectory)
        .map(_.getName).filterNot(_.startsWith("_")).toSet
      assert(dirs == Set("win=00-00", "win=00-01"), dirs.toString) // one dir per window
      val back = spark.read.parquet(outDir)
      assert(back.count() == 2)
    } finally stopQuietly(q)
  }

  test("foreachBatch sink sequences per-batch side effects (Wait.on / custom sinks)") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Int]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = input.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Int], id: Long) =>
        seen.add((id, batch.count())) // runs exactly once per micro-batch, in order
        ()
      }
      .outputMode("append").start()
    try {
      input.addData(1, 2, 3)
      q.processAllAvailable()
      input.addData(4)
      q.processAllAvailable()
      val batches = seen.toArray(Array.empty[(Long, Long)]).toSeq
      assert(batches == Seq((0L, 3L), (1L, 1L)), batches.toString)
    } finally stopQuietly(q)
  }

  test("stateful queries run unchanged on the RocksDB state store") {
    // At 100 TB of stream state the per-key map outgrows executor heaps —
    // RocksDB is the disk-backed provider Spark ships for exactly that.
    // Windowed aggregations must give the same results on it as on the
    // default in-memory HDFSBackedStateStore, and the Stateful operators
    // (transformWithState) run on it alone.
    Stateful.withRocksDB(spark) {
      implicit val ctx = spark.sqlContext
      // windowed agg with watermark (StateStoreSave exec)
      val aggIn = MemoryStream[(String, Timestamp)]
      val agg = aggIn.toDF().toDF("k", "event_time")
        .withWatermark("event_time", "10 seconds")
        .groupBy(window(col("event_time"), "1 minute"), col("k"))
        .agg(count(lit(1)).as("n"))
        .select(col("k"), col("n"))
      val q1 = agg.writeStream.format("memory").queryName("rocks_agg")
        .outputMode("append").start()
      // custom state cells + batching (TransformWithState exec)
      val batchIn = MemoryStream[(String, Int)]
      val batched = Stateful.groupIntoBatches(batchIn.toDS(), batchSize = 2,
        maxWaitMs = 3600000)
      val q2 = batched.writeStream.format("memory").queryName("rocks_batched")
        .outputMode("append").trigger(Trigger.ProcessingTime(200)).start()
      try {
        aggIn.addData(("a", ts("2024-01-01 00:00:10")), ("a", ts("2024-01-01 00:00:20")),
          ("b", ts("2024-01-01 00:00:30")))
        q1.processAllAvailable()
        aggIn.addData(("a", ts("2024-01-01 00:05:00"))) // advance watermark past the window
        q1.processAllAvailable()
        val counts = spark.table("rocks_agg").as[(String, Long)].collect().toSet
        assert(counts == Set(("a", 2L), ("b", 1L)), counts.toString)
        batchIn.addData(("a", 1), ("a", 2), ("a", 3), ("b", 9))
        awaitRows("rocks_batched", 1)
        val out = spark.table("rocks_batched").as[(String, Seq[Int])].collect()
        assert(out.toSeq == Seq(("a", Seq(1, 2))), out.toSeq.toString)
      } finally stopQuietly(q1, q2)
    }
  }

  test("windows DSL assigns identical structs on batch frames") {
    val df = Seq(ts("2024-01-01 00:00:30")).toDF("event_time")
    val fixed = Windows.windowed(df, Windows.Fixed("1 minute"), col("event_time"))
      .select(col("window.start").cast("string")).as[String].head()
    assert(fixed == "2024-01-01 00:00:00")
    val cal = Windows.windowed(df, Windows.Calendar("month"), col("event_time"))
      .select(col("window.end").cast("string")).as[String].head()
    assert(cal == "2024-02-01 00:00:00")
  }
}
