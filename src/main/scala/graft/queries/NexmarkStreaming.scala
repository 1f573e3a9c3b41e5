package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Nexmark under Structured Streaming micro-batch execution — the
  * streaming claim, benched rather than asserted. Events arrive through
  * the graft-seqgen MICRO_BATCH_READ source (same epoch and 10 ms tick as
  * the batch generator, so batch and streaming results agree), drained in
  * `rowsPerBatch` micro-batches under Trigger.AvailableNow.
  *
  * Streaming-expressible queries (append mode, 10 s watermark):
  *  - q0/q1/q2: stateless projections/filters.
  *  - q3: incremental stream-stream inner equi-join (the reference's
  *    state+timers join; Spark keeps both sides' state).
  *  - q5: windowed bid counts then per-window argmax — chained stateful
  *    operators on the same event-time window.
  *  - q7: per-window max price with max_by for the winning bid fields
  *    (the windowed-max formulation; ties resolve to one winner vs the
  *    batch plan emitting every tied bid).
  *  - q8: persons⋈auctions on (id, same 10 s window) — window-equality
  *    stream-stream join with watermark state cleanup on both sides.
  *  - q10: windowed log-to-sharded-files via the streaming parquet sink
  *    with dynamic (day, hh-mm) destinations.
  *  - q11: session-window bid counts per bidder (gap 10 s).
  *  - q12: processing-time tumbling windows (watermark on a
  *    current_timestamp ingest column).
  *
  * q4/q6/q9 (non-windowed aggregation after a stream-stream join — the
  * reference reaches these with retractions, which Beam itself marks
  * unsupported on several runners) run as a foreachBatch TWO-STAGE plan:
  * the stream-stream join streams in append mode, and each micro-batch's
  * join output folds into a running per-auction winning-bid state —
  * `max(price)` for q4/q6, argmax of (price desc, ts asc) for q9; both
  * folds are associative, so batch-wise merge ≡ the global answer. The
  * final projection (q4/q6: non-windowed average; q9: the winning rows
  * themselves) reads the merged state once at stream end. This is the
  * standard foreachBatch incremental-MERGE pattern (on a cluster the
  * state frame would be a Delta/Iceberg MERGE target keyed by auction id;
  * here it is an in-memory frame re-persisted per batch, bounded by the
  * live-auction count). Result equality with the batch plans is pinned
  * in NexmarkStreamingSpec — the batch-only divergence list is empty.
  *
  * Micro-batch cost is mostly fixed per trigger, not per row (the
  * Structured Streaming paper's price of micro-batch execution): at 1,000
  * rows per batch, `addBatch` dominated and a quarter of it was Janino
  * compiling expression classes that no cache reuses across queries, or
  * that a new watermark literal made new. `run` therefore evaluates
  * expressions interpreted when a micro-batch holds at most
  * [[InterpretedMaxBatchRows]] rows and keeps generated code above that,
  * where per-row evaluation outweighs compilation; [[withRunConf]] holds
  * the rule and every other session setting `run` makes.
  */
object NexmarkStreaming {

  /** The interleaved event stream from the graft-seqgen DSv2 source. */
  def stream(spark: SparkSession, n: Long, rowsPerBatch: Long): DataFrame =
    Nexmark.eventsFrom(
      spark.readStream.format("graft-seqgen")
        .option("count", n).option("rowsPerBatch", rowsPerBatch).load()
        .select(col("value").as("id"), col("ts")))

  private def bidsW(ev: DataFrame): DataFrame =
    Nexmark.bidsFrom(ev).withWatermark("ts", "10 seconds")

  /** Streaming plan per query over a (possibly unbounded) event frame. */
  def plans(ev: DataFrame): Map[String, DataFrame] = {
    val b = bidsW(ev)
    val q5counts = b
      .groupBy(window(col("ts"), "10 seconds", "2 seconds"), col("auction"))
      .agg(count(lit(1)).as("n_bids"))
    Map(
      "q0" -> Nexmark.bidsFrom(ev),
      "q1" -> Nexmark.bidsFrom(ev).select(col("auction"), col("bidder"),
        (col("price") * 0.908).as("price_eur"), col("ts")),
      "q2" -> Nexmark.bidsFrom(ev).filter(col("auction") % 123 === 0)
        .select(col("auction"), col("price")),
      "q3" -> Nexmark.auctionsFrom(ev).filter(col("category") === 1)
        .join(Nexmark.personsFrom(ev).withColumnRenamed("ts", "p_ts")
            .filter(col("state").isin("OR", "ID", "CA")),
          col("seller") === col("p_id"))
        .select(col("name"), col("city"), col("state"), col("a_id")),
      "q5" -> q5counts
        .groupBy(col("window"))
        .agg(max_by(col("auction"), struct(col("n_bids"), -col("auction"))).as("auction"),
          max(col("n_bids")).as("n_bids"))
        .select(col("window.start").as("win_start"), col("auction"), col("n_bids")),
      "q7" -> b
        .groupBy(window(col("ts"), "10 seconds"))
        .agg(max(col("price")).as("price"),
          max_by(col("auction"), col("price")).as("auction"),
          max_by(col("bidder"), col("price")).as("bidder"))
        .select(col("window.start").as("win_start"), col("auction"),
          col("bidder"), col("price")),
      "q8" -> {
        val p = Nexmark.personsFrom(ev).withWatermark("ts", "10 seconds")
          .withColumn("win", window(col("ts"), "10 seconds"))
          .select(col("p_id"), col("name"), col("win"), col("ts"))
        val a = Nexmark.auctionsFrom(ev).withColumnRenamed("ts", "a_ts")
          .withWatermark("a_ts", "10 seconds")
          .withColumn("a_win", window(col("a_ts"), "10 seconds"))
          .select(col("seller"), col("a_win"))
        p.join(a, col("p_id") === col("seller") && col("win") === col("a_win"))
          .select(col("p_id"), col("name"), col("win.start").as("win_start"))
      },
      "q11" -> b
        .groupBy(session_window(col("ts"), "10 seconds"), col("bidder"))
        .agg(count(lit(1)).as("n_bids"))
        .select(col("session_window.start").as("sess_start"),
          col("bidder"), col("n_bids")),
      "q12" -> Nexmark.bidsFrom(ev)
        .withColumn("proc", current_timestamp())
        .withWatermark("proc", "1 second")
        .groupBy(window(col("proc"), "1 second"), col("bidder"))
        .agg(count(lit(1)).as("n_bids"))
        .select(col("window.start").as("win_start"), col("bidder"), col("n_bids")))
  }

  val queryNames: Seq[String] =
    Seq("q0", "q1", "q2", "q3", "q4", "q5", "q6", "q7", "q8", "q9", "q10", "q11", "q12")

  /** q4/q6/q9 two-stage: stream the bids⋈auctions join in append mode,
    * fold each micro-batch into the running per-auction winning-bid
    * state, and project the final answer from the state at stream end.
    * Returns the final frame so the spec can pin equality with the batch
    * plan. */
  /** Per-batch logical-plan node counts of the running fold state from the
    * most recent twoStage run — test instrumentation for the flat-plan
    * contract (localCheckpoint must truncate lineage every batch). */
  private[graft] val statePlanSizes =
    new java.util.concurrent.ConcurrentLinkedQueue[Integer]()

  private[graft] def twoStage(spark: SparkSession, name: String, ev: DataFrame,
      ckpt: String, timeoutMs: Long): Option[DataFrame] = {
    statePlanSizes.clear()
    val a = Nexmark.auctionsFrom(ev).withColumnRenamed("ts", "a_ts")
    val b = Nexmark.bidsFrom(ev).withColumnRenamed("ts", "b_ts")
    // incremental inner equi-join (the q3 shape) + the expiry bound
    val key = if (name == "q4") "category" else "seller"
    val joined =
      if (name == "q9")
        b.join(a, col("auction") === col("a_id") && col("b_ts") <= col("expires"))
          .select(col("a_id"), col("category"), col("bidder"), col("price"), col("b_ts"))
      else
        b.join(a, col("auction") === col("a_id") && col("b_ts") <= col("expires"))
          .select(col("a_id"), col(key), col("price"))
    // the associative per-auction fold: max(price) for q4/q6; for q9 the
    // full winning ROW by (price desc, earliest bid) — batch q9's
    // row_number tie-break, associative because bid timestamps are unique
    // q9's fold is shape-preserving (winning row per auction), so it
    // merges with itself; q4/q6 rename price → final_price, so the merge
    // re-maximizes final_price over state ∪ partial
    def fold(df: DataFrame): DataFrame =
      if (name == "q9")
        df.groupBy(col("a_id"))
          .agg(max_by(
            struct(col("category"), col("bidder"), col("price"), col("b_ts")),
            struct(col("price"), (-unix_micros(col("b_ts"))).as("nt"))).as("w"))
          .select(col("a_id"), col("w.category").as("category"),
            col("w.bidder").as("bidder"), col("w.price").as("price"),
            col("w.b_ts").as("b_ts"))
      else
        df.groupBy(col("a_id"), col(key)).agg(max(col("price")).as("final_price"))
    def merge(df: DataFrame): DataFrame =
      if (name == "q9") fold(df)
      else df.groupBy(col("a_id"), col(key)).agg(max(col("final_price")).as("final_price"))
    var state: Option[DataFrame] = None
    val q = joined.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // stage 2a: per-batch partial fold, merged into the running state.
        // localCheckpoint (eager) materializes the merge AND truncates the
        // logical plan — without it the state plan nests one union per
        // micro-batch and an unbounded run hits the same plan-doubling wall
        // the connected-components loop documents (DupClusters.scala). The
        // checkpointed blocks live in the block manager (MEMORY_AND_DISK);
        // ContextCleaner frees the predecessor's once unreferenced.
        val partial = fold(batch)
        val merged = state.fold(partial)(s => merge(s.union(partial)))
          .localCheckpoint(true)
        statePlanSizes.add(merged.queryExecution.logical.map(_ => 1).sum)
        state = Some(merged)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    if (!q.awaitTermination(timeoutMs)) { q.stop(); return None }
    // stage 2b: the final projection over the merged state — materialized
    // (one row per category/seller/auction) so the batch-wise state cache
    // can be released before returning
    state.map { s =>
      val out = name match {
        case "q4" =>
          s.groupBy(col("category")).agg(round(avg(col("final_price")), 2).as("avg_price"))
        case "q6" =>
          s.groupBy(col("seller")).agg(round(avg(col("final_price")), 2).as("avg_sell_price"))
        case _ => s // q9: the winning rows ARE the answer
      }
      val rows = out.collect().toSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), out.schema)
    }
  }

  /** Rows per micro-batch up to which `run` evaluates expressions
    * interpreted (see [[withRunConf]]). Measured on 4 cores, events/s of
    * q3/q4/q5/q7/q8/q11 (geometric mean, three alternating pairs of JVMs):
    * interpreted +20 % at 10,000 rows per batch, every query faster; at
    * 100,000 it lost 10 % (q5 −35 %, q7 −41 %), where per-row evaluation
    * outweighs compilation. At 1,000 rows the 13 queries gain 23 %. */
  private[graft] val InterpretedMaxBatchRows = 10000L

  /** Runs `body` under the session SQL configuration `run` uses for `n`
    * events at `batchRows` rows per micro-batch, restoring each key's
    * previous value (or unsetting it) afterwards. Every key is read when
    * a query starts, so the scope must enclose `start()`:
    *  - shuffle partitions sized to the workload: stateful micro-batch
    *    cost is dominated by per-batch state-store commits, one store per
    *    shuffle partition per stateful operator per batch; at bench event
    *    counts a handful of stores is right, on a cluster this is sized to
    *    executors (state scales out by key);
    *  - [[graft.streaming.LocalCheckpointFileManager]]: java.nio atomic
    *    renames instead of the Hadoop FileContext local adapter (measured
    *    ~130 ms per checkpoint file), with the same rename-into-place
    *    atomicity;
    *  - no CRC sidecars: they duplicate what the rename protocol already
    *    guarantees, at one more file write per commit;
    *  - the trailing no-data batch kept: it advances the watermark past
    *    the drained prefix so stateful queries EMIT their complete windows
    *    (without it a coarse batching would report throughput on output
    *    that never materialized);
    *  - at most [[InterpretedMaxBatchRows]] rows per micro-batch,
    *    `spark.sql.codegen.factoryMode=NO_CODEGEN`: the expression-level
    *    generators (projections, predicates, orderings, row joiners of the
    *    state-store and join operators) evaluate interpreted, while
    *    whole-stage codegen stays on. Generated, each is a Janino compile
    *    of 12–15 ms that small batches never pay back: Spark's codegen
    *    cache is keyed by (context classloader, source) and every
    *    streaming query runs its tasks under a fresh executor classloader
    *    (its cloned session's), so each run compiles its classes again
    *    (36 for a warm q5 run of five micro-batches, 6 interpreted), and every new watermark
    *    value (`ts <= <literal>`) adds one per micro-batch. Above the
    *    bound the key is left as the session has it. The conf is internal
    *    in Spark 4.1; NexmarkStreamingSpec pins that it is honoured (new
    *    watermarks compile no class). */
  private[graft] def withRunConf[T](spark: SparkSession, n: Long, batchRows: Long)(
      body: => T): T = {
    val parts = sys.env.get("SPARK_GRAFT_STREAM_PARTS").map(_.toLong)
      .getOrElse(math.max(2, math.min(16, n / 50000)))
    val set = Seq(
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[graft.streaming.LocalCheckpointFileManager].getName,
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "true") ++
      (if (batchRows <= InterpretedMaxBatchRows)
        Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN") else Nil)
    val conf = spark.conf
    val explicit = conf.getAll
    val prev = set.map { case (k, _) => k -> explicit.get(k) }
    set.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** Run one query to completion under Trigger.AvailableNow; returns
    * events/sec, or None if this query isn't streaming-expressible or the
    * engine rejects the plan.
    *
    * A micro-batch's cost is mostly fixed, not per row. Traced at 1,000
    * rows per batch on 4 cores (70 micro-batches of the 13 queries):
    * `addBatch` 168 ms a batch with generated expressions, 129 ms
    * interpreted (the Janino compiles [[withRunConf]] removes), query
    * planning 42 ms, and ≤ 2 ms each for the WAL, offset and state
    * commits. So the default is two data micro-batches (plus the
    * watermark-flush no-data batch); latency-sensitive callers size
    * `rowsPerBatch` down, the knob being Spark's
    * maxOffsetsPerTrigger-style admission control. */
  def run(spark: SparkSession, name: String, n: Long,
      rowsPerBatch: Long = 0L, timeoutMs: Long = 300000L): Option[Double] = {
    val batchRows = if (rowsPerBatch > 0) rowsPerBatch else math.max(1L, n / 2)
    val ckpt = Files.createTempDirectory(s"graft-nexmark-stream-$name").toString
    withRunConf(spark, n, batchRows) {
      val ev = stream(spark, n, batchRows)
      try {
        val t0 = System.nanoTime()
        val finished =
          if (name == "q4" || name == "q6" || name == "q9")
            twoStage(spark, name, ev, ckpt, timeoutMs).exists { out =>
              out.write.format("noop").mode("overwrite").save() // final agg is part of the cost
              true
            }
          else {
            val sink = if (name == "q10") {
              val outPath = Files.createTempDirectory("graft-q10-stream").resolve("logs").toString
              val out = Nexmark.bidsFrom(ev)
                .withWatermark("ts", "10 seconds")
                .withColumn("win", window(col("ts"), "10 seconds"))
                .select(col("auction"), col("bidder"), col("price"), col("ts"),
                  date_format(col("win.start"), "yyyy-MM-dd").as("day"),
                  date_format(col("win.start"), "HH-mm").as("hhmm"))
              Some(out.writeStream.format("parquet").option("path", outPath)
                .partitionBy("day", "hhmm"))
            } else plans(ev).get(name).map(_.writeStream.format("noop"))
            sink.exists { w =>
              val q = w.option("checkpointLocation", ckpt)
                .trigger(Trigger.AvailableNow()).start()
              q.awaitTermination(timeoutMs) || { q.stop(); false }
            }
          }
        if (finished) Some(n / ((System.nanoTime() - t0) / 1e9)) else None
      } catch {
        case e: Throwable =>
          System.err.println(s"[nexmark-streaming] $name: ${e.getMessage}")
          None
      }
    }
  }
}
