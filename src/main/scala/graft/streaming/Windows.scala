package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._

/** Event-time windowing strategy (SURVEY.md §2.9): the reference's
  * WindowingStrategy (values/WindowingStrategy.java:49) mapped onto
  * Structured Streaming primitives.
  *
  *  - WindowFn assignment → a `window`/`session_window` struct column.
  *    The SAME assignment works on batch and streaming frames (boundedness
  *    is a property of the source, not the operator — the reference's core
  *    design point).
  *  - Watermark + allowed lateness → `withWatermark(eventTime, lateness)`.
  *  - AccumulationMode DISCARDING/ACCUMULATING → Append/Update output mode
  *    (chosen at the sink, advised by `outputModeFor`).
  *  - Triggers: default AfterWatermark ≙ Append mode emission at watermark;
  *    processing-time early firings ≙ Update mode with a processing-time
  *    trigger. Count, per-key processing-time, composite and late-firing
  *    triggers are per-key state machines: they run as the
  *    graft.streaming.Stateful operators (on `transformWithState`, so on
  *    the RocksDB state store) alongside the windowed aggregation.
  */
object Windows {

  sealed trait WindowFn { def assign(ts: Column): Column }

  /** FixedWindows (windowing/FixedWindows.java): tumbling. */
  final case class Fixed(size: String, offset: String = "0 seconds") extends WindowFn {
    def assign(ts: Column): Column = window(ts, size, size, offset)
  }

  /** SlidingWindows (windowing/SlidingWindows.java): size + period. */
  final case class Sliding(size: String, period: String) extends WindowFn {
    def assign(ts: Column): Column = window(ts, size, period)
  }

  /** Sessions (windowing/Sessions.java): gap-merged. */
  final case class Sessions(gap: String) extends WindowFn {
    def assign(ts: Column): Column = session_window(ts, gap)
  }

  /** CalendarWindows.days/months/years (windowing/CalendarWindows.java):
    * civil-time buckets; start/end struct built from date_trunc. */
  final case class Calendar(unit: String) extends WindowFn {
    def assign(ts: Column): Column = {
      val start = date_trunc(unit, ts)
      val end = unit match {
        case "day" => start + expr("INTERVAL 1 DAY")
        case "week" => start + expr("INTERVAL 7 DAY")
        case "month" => add_months(start, 1).cast("timestamp")
        case "quarter" => add_months(start, 3).cast("timestamp")
        case "year" => add_months(start, 12).cast("timestamp")
        case other => throw new IllegalArgumentException(
          s"Calendar window unit '$other' not supported; use one of " +
            "day, week, month, quarter, year")
      }
      struct(start.as("start"), end.as("end"))
    }
  }

  /** GlobalWindows: everything in one window (the default strategy). */
  case object Global extends WindowFn {
    def assign(ts: Column): Column =
      struct(lit(null).cast("timestamp").as("start"),
        lit(null).cast("timestamp").as("end"))
  }

  /** Assign windows: adds a `window` struct column (start, end). */
  def windowed(df: DataFrame, fn: WindowFn, eventTime: Column): DataFrame =
    df.withColumn("window", fn.assign(eventTime))

  /** Watermark ≙ allowed lateness: elements later than `lateness` behind
    * the max observed event time are dropped from windowed aggregations
    * (coarser than Beam's per-source holds; same contract for the default
    * trigger). No-op on batch frames. */
  def withLateness(df: DataFrame, eventTimeCol: String, lateness: String): DataFrame =
    if (df.isStreaming) df.withWatermark(eventTimeCol, lateness) else df

  /** AccumulationMode → output mode (values/WindowingStrategy.java:57). */
  def outputModeFor(accumulating: Boolean): String =
    if (accumulating) "update" else "append"

  /** Arbitrary MERGING windows (the general WindowFn.mergeWindows
    * contract — windowing/WindowFn.java, MergeOverlappingIntervalWindows
    * .java): given per-row [start, end) intervals, merge overlapping or
    * touching intervals per key into maximal windows. Sessions is the
    * special case interval = [ts, ts+gap); any custom merging WindowFn
    * reduces to this after its per-element assignment.
    *
    * Distributed as gaps-and-islands: one shuffle on the key, a running
    * max of interval-end detects island starts, a running sum numbers
    * them. Adds `merged_start`/`merged_end`/`window_id` columns. */
  def mergeIntervals(df: DataFrame, keyCols: Seq[String],
      startCol: String, endCol: String): DataFrame = {
    val byKey = W.partitionBy(keyCols.map(col): _*)
      .orderBy(col(startCol), col(endCol))
    val prevMaxEnd = max(col(endCol))
      .over(byKey.rowsBetween(W.unboundedPreceding, -1))
    val isNew = when(prevMaxEnd.isNull || col(startCol) > prevMaxEnd, 1).otherwise(0)
    val withId = df
      .withColumn("window_id",
        sum(isNew).over(byKey.rowsBetween(W.unboundedPreceding, W.currentRow)))
    val bounds = W.partitionBy((keyCols.map(col) :+ col("window_id")): _*)
    withId
      .withColumn("merged_start", min(col(startCol)).over(bounds))
      .withColumn("merged_end", max(col(endCol)).over(bounds))
  }
}
