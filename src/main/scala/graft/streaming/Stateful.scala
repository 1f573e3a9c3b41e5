package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, MapState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Stateful per-key processing (SURVEY.md §2.9): the reference's state &
  * timers API (sdk/state — ValueState/BagState/MapState/Timer, DoFn
  * @StateId/@TimerId) rebuilt on Spark's `transformWithState`
  * (StatefulProcessor).
  *
  * Design notes:
  *  - Beam exposes N named state cells per key (sdk/state/StateSpecs.java);
  *    `getValueState`/`getListState`/`getMapState` are real per-key named
  *    columns in the state store, so a buffer append writes only the delta
  *    (see [[groupIntoBatches]]).
  *  - Beam allows N timers per key (DoFn.java:475–540, the TimerMap);
  *    `registerTimer`/`deleteTimer` hold many timers per key, each firing
  *    its own `handleExpiredTimer` (see [[twoEventTimeTimers]]).
  *  - State is per key *and* window in Beam; encode the window in the
  *    grouping key to get the same scoping (see [[lateFiringPanes]]).
  *
  * Spark ships `transformWithState` on the RocksDB state store only: run
  * every query built here inside [[withRocksDB]]. At scale, state and
  * timers live in the executor state store, partitioned by the grouping
  * key — the same shuffle placement as the aggregation itself, no extra
  * exchange.
  */
object Stateful {

  /** Named timers (≙ Beam TimerMap, sdk/state/TimerMap.java): a
    * name→deadline map in epoch millis; [[statefulParDo]] arms each
    * distinct deadline as one native timer. */
  final case class Timers(deadlines: Map[String, Long]) {
    def set(name: String, at: Long): Timers = Timers(deadlines + (name -> at))
    def clear(name: String): Timers = Timers(deadlines - name)
    def fired(now: Long): Seq[String] =
      deadlines.collect { case (n, at) if at <= now => n }.toSeq.sorted
    def afterFiring(now: Long): Timers =
      Timers(deadlines.filter { case (_, at) => at > now })
  }
  object Timers { val empty: Timers = Timers(Map.empty) }

  /** State cells + timers for one key (≙ a DoFn's @StateId fields plus its
    * @TimerId map). */
  final case class Cells[S](value: S, timers: Timers)

  /** A stateful ParDo's key-local logic: plain functions of (key, input,
    * cells), so the trigger semantics hold independently of the state
    * plumbing [[statefulParDo]] adds (TriggerLogicSpec checks them without
    * a stream). */
  final case class ParDoLogic[K, V, S, O](
      zero: S,
      onElements: (K, Seq[V], Cells[S]) => (Option[Cells[S]], Seq[O]),
      onTimer: (K, Seq[String], Cells[S]) => (Option[Cells[S]], Seq[O]))
      extends Serializable

  private val requiredConf = ("spark.sql.streaming.stateStore.providerClass",
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Run `body` with the RocksDB state store provider set on `spark`.
    * Without it a `transformWithState` query fails inside its first
    * micro-batch (UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES).
    * The previous value is restored only after every query the body
    * started has stopped — the scope stops any the body left running —
    * because swapping the provider under a live query races its in-flight
    * checkpoint (transient CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT retries). */
  def withRocksDB[T](spark: SparkSession)(body: => T): T = {
    val (key, value) = requiredConf
    val prev = spark.conf.getOption(key)
    val before = spark.streams.active.map(_.id).toSet
    spark.conf.set(key, value)
    try body
    finally {
      spark.streams.active.filterNot(q => before(q.id))
        .foreach(q => try q.stop() catch { case _: Throwable => })
      prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
    }
  }

  /** Generic stateful ParDo over a keyed stream — the substrate for TTL
    * dedup and custom triggers. The [[ParDoLogic]] contract: (key,
    * elements, cells) → (next cells or None to clear, outputs), once per
    * key per micro-batch; (key, fired timer names, cells) → the same, in
    * the processing-time domain. The cell value is a native `ValueState`,
    * the name→deadline map a native `MapState`, and each DISTINCT
    * deadline is registered as its own native timer. On expiry, every
    * name whose deadline has passed fires in one `onTimer` call, sorted.
    *
    * Deadlines already overdue at batch time drain at the HEAD of
    * `handleInputRows`, as the reference fires an eligible timer before
    * delivering the next bundle: an element arriving after its key's
    * deadline sees the post-timer state — e.g. a Deduplicate element
    * landing after its key's TTL expiry is re-emitted, not dropped. The
    * native timer for a drained deadline still fires later; its
    * `handleExpiredTimer` finds nothing left and no-ops. */
  def statefulParDo[K, V, S, O](ds: Dataset[(K, V)], logic: ParDoLogic[K, V, S, O])(
      implicit kEnc: Encoder[K], oEnc: Encoder[O], sEnc: Encoder[S]): Dataset[O] = {

    val processor = new StatefulProcessor[K, (K, V), O] {
      @transient private var cell: ValueState[S] = _
      @transient private var tmrs: MapState[String, Long] = _

      override def init(outputMode: OutputMode, tm: TimeMode): Unit = {
        cell = getHandle.getValueState[S]("cell", sEnc, TTLConfig.NONE)
        tmrs = getHandle.getMapState[String, Long]("timers",
          Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      }

      private def readTimers(): Timers =
        if (!tmrs.exists()) Timers.empty
        else Timers(tmrs.iterator().map { case (n, at) => n -> at }.toMap)

      /** Persist the callback's verdict: update/clear the cells, rewrite
        * the name→deadline map, and diff the DISTINCT deadlines against
        * what is natively armed (`prevArmed`) so stale timers are deleted
        * and new ones registered. */
      private def sync(prevArmed: Set[Long], next: Option[Cells[S]]): Unit =
        next match {
          case Some(c) =>
            cell.update(c.value)
            tmrs.clear()
            c.timers.deadlines.foreach { case (n, at) => tmrs.updateValue(n, at) }
            val armed = c.timers.deadlines.values.toSet
            (prevArmed -- armed).foreach(getHandle.deleteTimer)
            (armed -- prevArmed).foreach(getHandle.registerTimer)
          case None =>
            cell.clear()
            tmrs.clear()
            prevArmed.foreach(getHandle.deleteTimer)
        }

      override def handleInputRows(key: K, rows: Iterator[(K, V)],
          tv: TimerValues): Iterator[O] = {
        val timers = readTimers()
        val prevArmed = timers.deadlines.values.toSet
        // deadlines overdue at batch time fire BEFORE the batch's elements
        val nowMs = tv.getCurrentProcessingTimeInMs()
        val overdue = timers.fired(nowMs)
        val preCells = Cells(if (cell.exists()) cell.get() else logic.zero, timers)
        val (afterTimer, timerOut) =
          if (overdue.isEmpty) (Some(preCells), Seq.empty[O])
          else logic.onTimer(key, overdue,
            preCells.copy(timers = timers.afterFiring(nowMs)))
        val base = afterTimer.getOrElse(Cells(logic.zero, Timers.empty))
        val (next, out) = logic.onElements(key, rows.map(_._2).toSeq, base)
        sync(prevArmed, next)
        (timerOut ++ out).iterator
      }

      override def handleExpiredTimer(key: K, tv: TimerValues,
          info: ExpiredTimerInfo): Iterator[O] = {
        val expiry = info.getExpiryTimeInMs
        val timers = readTimers()
        // every name at-or-before the expiry fires together; names sharing
        // one deadline shared one native timer
        val fired = timers.fired(expiry)
        if (fired.isEmpty) Iterator.empty // a later-deadline co-expiry already drained
        else {
          val cells = Cells(if (cell.exists()) cell.get() else logic.zero,
            timers.afterFiring(expiry))
          val (next, out) = logic.onTimer(key, fired, cells)
          // the fired timer itself is consumed natively — only OTHER armed
          // deadlines participate in the delete/register diff
          sync(timers.deadlines.values.toSet - expiry, next)
          out.iterator
        }
      }
    }

    ds.groupByKey(_._1)
      .transformWithState[O](processor, TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Keyed streaming Deduplicate with TTL (transforms/Deduplicate.java:68):
    * first element per key is emitted; repeats within `ttlMs` are dropped;
    * state self-expires so unbounded key spaces don't accumulate. */
  def deduplicate[K, V](ds: Dataset[(K, V)], ttlMs: Long)(
      implicit kEnc: Encoder[K], vEnc: Encoder[V]): Dataset[V] = {
    implicit val sEnc: Encoder[Boolean] = Encoders.scalaBoolean
    statefulParDo(ds, dedupLogic[K, V](ttlMs))
  }

  /** Key-local logic of [[deduplicate]]. */
  private[streaming] def dedupLogic[K, V](ttlMs: Long): ParDoLogic[K, V, Boolean, V] =
    ParDoLogic(
      zero = false,
      onElements = (_, elems, cells) =>
        if (cells.value) (Some(cells), Seq.empty) // seen: drop, keep TTL
        else (Some(Cells(true, Timers.empty.set("ttl", System.currentTimeMillis() + ttlMs))),
          elems.headOption.toSeq),
      onTimer = (_, _, _) => (None, Seq.empty)) // TTL expired: clear state

  /** Count-based early firing (trigger subset: AfterPane.elementCountAtLeast
    * composed under Repeatedly, ACCUMULATING mode — transforms/windowing/
    * AfterPane.java): emits a pane with the RUNNING aggregate every
    * `every` elements per key, labeled with a pane index (≙ PaneInfo's
    * pane index for speculative EARLY panes). Downstream consumers read
    * the latest pane per key; the final on-watermark pane is the ordinary
    * windowed aggregation this runs alongside. */
  def countTriggered[K, V, A](ds: Dataset[(K, V)], zero: A, add: (A, V) => A,
      every: Int)(implicit kEnc: Encoder[K], outEnc: Encoder[(K, A, Long)],
      sEnc: Encoder[(A, Int, Long)]): Dataset[(K, A, Long)] =
    statefulParDo(ds, countLogic[K, V, A](zero, add, every))

  /** Key-local logic of [[countTriggered]]. */
  private[streaming] def countLogic[K, V, A](zero: A, add: (A, V) => A,
      every: Int): ParDoLogic[K, V, (A, Int, Long), (K, A, Long)] =
    ParDoLogic(
      zero = (zero, 0, 0L),
      onElements = (k, elems, cells) => {
        var (acc, sinceEmit, pane) = cells.value
        val out = Seq.newBuilder[(K, A, Long)]
        elems.foreach { v =>
          acc = add(acc, v)
          sinceEmit += 1
          if (sinceEmit >= every) {
            out += ((k, acc, pane))
            pane += 1
            sinceEmit = 0
          }
        }
        (Some(Cells((acc, sinceEmit, pane), Timers.empty)), out.result())
      },
      onTimer = (_, _, _) => (None, Seq.empty))

  /** Processing-time early firing (AfterProcessingTime.pastFirstElementInPane
    * ().plusDelayOf(delay) under Repeatedly, ACCUMULATING mode —
    * transforms/windowing/AfterProcessingTime.java): the first element of
    * a pane arms a processing-time timer `delayMs` out; when it fires, the
    * RUNNING aggregate is emitted as a speculative pane (with pane index)
    * and the next element starts a new pane. Elements arriving while the
    * timer is armed just accumulate — exactly the reference's
    * pastFirstElementInPane semantics. Runs alongside the ordinary
    * on-watermark windowed aggregation, which stays the final pane. */
  def processingTimeTriggered[K, V, A](ds: Dataset[(K, V)], zero: A,
      add: (A, V) => A, delayMs: Long)(
      implicit kEnc: Encoder[K], outEnc: Encoder[(K, A, Long)],
      sEnc: Encoder[(A, Long, Boolean)]): Dataset[(K, A, Long)] =
    statefulParDo(ds, procTimeLogic[K, V, A](zero, add, delayMs))

  /** Key-local logic of [[processingTimeTriggered]]. */
  private[streaming] def procTimeLogic[K, V, A](zero: A, add: (A, V) => A,
      delayMs: Long): ParDoLogic[K, V, (A, Long, Boolean), (K, A, Long)] =
    ParDoLogic(
      zero = (zero, 0L, false),
      onElements = (k, elems, cells) => {
        val (acc0, pane, _) = cells.value
        val acc = elems.foldLeft(acc0)(add)
        // first element of this pane arms the timer; later ones accumulate
        val timers =
          if (cells.timers.deadlines.contains("pane")) cells.timers
          else cells.timers.set("pane", System.currentTimeMillis() + delayMs)
        (Some(Cells((acc, pane, true), timers)), Seq.empty)
      },
      onTimer = (k, _, cells) => {
        val (acc, pane, dirty) = cells.value
        if (dirty) // emit the speculative pane, start the next one
          (Some(Cells((acc, pane + 1, false), cells.timers)), Seq((k, acc, pane)))
        else (Some(cells), Seq.empty)
      })

  /** AfterFirst(AfterPane.elementCountAtLeast(n),
    * AfterProcessingTime.pastFirstElementInPane().plusDelayOf(d)) under
    * Repeatedly (transforms/windowing/AfterFirst.java): a pane fires on
    * WHICHEVER sub-trigger satisfies first — the nth element emits
    * immediately and disarms the pane timer; otherwise the d-delay timer
    * armed by the pane's first element emits what accumulated.
    * Accumulating panes with indices, like the two sub-triggers alone. */
  def firstOfTriggered[K, V, A](ds: Dataset[(K, V)], zero: A,
      add: (A, V) => A, every: Int, delayMs: Long)(
      implicit kEnc: Encoder[K], outEnc: Encoder[(K, A, Long)],
      sEnc: Encoder[(A, Int, Long)]): Dataset[(K, A, Long)] =
    statefulParDo(ds, firstOfLogic[K, V, A](zero, add, every, delayMs))

  /** Key-local logic of [[firstOfTriggered]]. */
  private[streaming] def firstOfLogic[K, V, A](zero: A, add: (A, V) => A,
      every: Int, delayMs: Long): ParDoLogic[K, V, (A, Int, Long), (K, A, Long)] =
    ParDoLogic(
      zero = (zero, 0, 0L),
      onElements = (k, elems, cells) => {
        var (acc, sinceEmit, pane) = cells.value
        var timers = cells.timers
        val out = Seq.newBuilder[(K, A, Long)]
        elems.foreach { v =>
          if (sinceEmit == 0) // first element of this pane arms the clock
            timers = timers.set("pane", System.currentTimeMillis() + delayMs)
          acc = add(acc, v)
          sinceEmit += 1
          if (sinceEmit >= every) { // count side satisfied first
            out += ((k, acc, pane))
            pane += 1
            sinceEmit = 0
            timers = timers.clear("pane")
          }
        }
        (Some(Cells((acc, sinceEmit, pane), timers)), out.result())
      },
      onTimer = (k, _, cells) => {
        val (acc, sinceEmit, pane) = cells.value
        if (sinceEmit > 0) // time side satisfied first: flush the open pane
          (Some(Cells((acc, 0, pane + 1), cells.timers)), Seq((k, acc, pane)))
        else (Some(cells), Seq.empty)
      })

  /** AfterAll(AfterPane.elementCountAtLeast(n),
    * AfterProcessingTime.pastFirstElementInPane().plusDelayOf(d)) under
    * Repeatedly (transforms/windowing/AfterAll.java): a pane fires only
    * once BOTH sub-triggers are satisfied — at least `every` elements
    * accumulated AND `delayMs` elapsed since the pane's first element.
    * Whichever side satisfies second delivers the pane: the timer firing
    * with the count already met emits immediately; elements arriving after
    * the timer fired emit as soon as the count fills. Joint satisfaction
    * is a persisted flag per side (the reference tracks exactly this via
    * each sub-trigger's finished bit in its trigger state machine). */
  def allOfTriggered[K, V, A](ds: Dataset[(K, V)], zero: A,
      add: (A, V) => A, every: Int, delayMs: Long)(
      implicit kEnc: Encoder[K], outEnc: Encoder[(K, A, Long)],
      sEnc: Encoder[(A, Int, Long, Boolean)]): Dataset[(K, A, Long)] =
    statefulParDo(ds, allOfLogic[K, V, A](zero, add, every, delayMs))

  /** Key-local logic of [[allOfTriggered]]. */
  private[streaming] def allOfLogic[K, V, A](zero: A, add: (A, V) => A,
      every: Int, delayMs: Long): ParDoLogic[K, V, (A, Int, Long, Boolean), (K, A, Long)] =
    ParDoLogic(
      zero = (zero, 0, 0L, false),
      onElements = (k, elems, cells) => {
        var (acc, sinceEmit, pane, timeSat) = cells.value
        var timers = cells.timers
        val out = Seq.newBuilder[(K, A, Long)]
        elems.foreach { v =>
          if (sinceEmit == 0) { // first element of this pane arms the clock
            timers = timers.set("pane", System.currentTimeMillis() + delayMs)
            timeSat = false
          }
          acc = add(acc, v)
          sinceEmit += 1
          if (sinceEmit >= every && timeSat) { // count side satisfied second
            out += ((k, acc, pane))
            pane += 1
            sinceEmit = 0
            timers = timers.clear("pane")
          }
        }
        (Some(Cells((acc, sinceEmit, pane, timeSat), timers)), out.result())
      },
      onTimer = (k, _, cells) => {
        val (acc, sinceEmit, pane, _) = cells.value
        if (sinceEmit >= every) // time side satisfied second: deliver now
          (Some(Cells((acc, 0, pane + 1, false), cells.timers)), Seq((k, acc, pane)))
        else // time satisfied first: remember and wait for the count
          (Some(Cells((acc, sinceEmit, pane, true), cells.timers)), Seq.empty)
      })

  /** Repeatedly.forever(AfterPane.elementCountAtLeast(every))
    * .orFinally(AfterPane.elementCountAtLeast(total))
    * (transforms/windowing/OrFinallyTrigger.java): speculative count-based
    * panes repeat until the `until` side — a total element count — is
    * satisfied; that delivers one last pane flagged `isFinal` (≙
    * PaneInfo.isLast) and permanently closes the key. Elements arriving
    * after the close are discarded, mirroring a finished trigger state
    * machine: the reference never fires a finished trigger again, and the
    * closed marker persisting in state is exactly its finished bit. */
  def orFinallyTriggered[K, V, A](ds: Dataset[(K, V)], zero: A,
      add: (A, V) => A, every: Int, total: Int)(
      implicit kEnc: Encoder[K], outEnc: Encoder[(K, A, Long, Boolean)],
      sEnc: Encoder[(A, Int, Int, Long, Boolean)]): Dataset[(K, A, Long, Boolean)] =
    statefulParDo(ds, orFinallyLogic[K, V, A](zero, add, every, total))

  /** Key-local logic of [[orFinallyTriggered]]. */
  private[streaming] def orFinallyLogic[K, V, A](zero: A, add: (A, V) => A,
      every: Int, total: Int): ParDoLogic[K, V, (A, Int, Int, Long, Boolean), (K, A, Long, Boolean)] =
    ParDoLogic(
      zero = (zero, 0, 0, 0L, false),
      onElements = (k, elems, cells) => {
        var (acc, sinceEmit, seen, pane, closed) = cells.value
        val out = Seq.newBuilder[(K, A, Long, Boolean)]
        elems.foreach { v =>
          if (!closed) {
            acc = add(acc, v)
            sinceEmit += 1
            seen += 1
            if (seen >= total) { // the until-side: final pane, then close
              out += ((k, acc, pane, true))
              pane += 1
              closed = true
            } else if (sinceEmit >= every) { // the repeated inner trigger
              out += ((k, acc, pane, false))
              pane += 1
              sinceEmit = 0
            }
          }
        }
        (Some(Cells((acc, sinceEmit, seen, pane, closed), cells.timers)), out.result())
      },
      onTimer = (_, _, _) => (None, Seq.empty))

  /** AfterEach.inOrder(AfterPane.elementCountAtLeast(c1), …, (cn))
    * (transforms/windowing/AfterEach.java): sub-triggers govern panes IN
    * SEQUENCE — pane i fires once c(i) elements accumulate, then control
    * advances to sub-trigger i+1; when the last finishes the whole
    * composite is finished and later elements no longer fire (the
    * sequence position persisting in state is the reference's
    * subTriggerIndex). Accumulating panes, like the other triggers. */
  def afterEachTriggered[K, V, A](ds: Dataset[(K, V)], zero: A,
      add: (A, V) => A, counts: Seq[Int])(
      implicit kEnc: Encoder[K], outEnc: Encoder[(K, A, Long)],
      sEnc: Encoder[(A, Int, Int)]): Dataset[(K, A, Long)] = {
    require(counts.nonEmpty && counts.forall(_ > 0),
      "afterEach needs a non-empty sequence of positive element counts")
    statefulParDo(ds, afterEachLogic[K, V, A](zero, add, counts))
  }

  /** Key-local logic of [[afterEachTriggered]]. */
  private[streaming] def afterEachLogic[K, V, A](zero: A, add: (A, V) => A,
      counts: Seq[Int]): ParDoLogic[K, V, (A, Int, Int), (K, A, Long)] =
    ParDoLogic(
      zero = (zero, 0, 0),
      onElements = (k, elems, cells) => {
        var (acc, sinceEmit, idx) = cells.value
        val out = Seq.newBuilder[(K, A, Long)]
        elems.foreach { v =>
          if (idx < counts.length) { // a finished sequence never fires again
            acc = add(acc, v)
            sinceEmit += 1
            if (sinceEmit >= counts(idx)) {
              out += ((k, acc, idx.toLong))
              idx += 1
              sinceEmit = 0
            }
          }
        }
        (Some(Cells((acc, sinceEmit, idx), cells.timers)), out.result())
      },
      onTimer = (_, _, _) => (None, Seq.empty))

  /** Per-(key, window) pane state for [[lateFiringPanes]]. */
  final case class WindowPanes[A](acc: A, paneIndex: Long, onTimeFired: Boolean)

  /** AfterWatermark.pastEndOfWindow().withLateFirings(AfterPane
    * .elementCountAtLeast(1)) with allowed lateness — the reference's
    * on-time + late pane semantics (transforms/windowing/AfterWatermark
    * .java, ReduceFnRunner's onTrigger/onGc paths), which plain Structured
    * Streaming aggregation cannot express (it DROPS post-watermark rows;
    * no late pane exists). The window's state is held past the watermark
    * for `allowedLatenessMs` and late arrivals re-fire the pane.
    *
    * Per (key, tumbling window): elements accumulate until the watermark
    * passes the window end, which fires the ON_TIME pane (FIRE_IF_NON_EMPTY,
    * the reference default); each late element batch then fires a LATE pane
    * with the updated accumulating value and a rising pane index (≙
    * PaneInfo.getIndex/getTiming); past end + allowedLateness the state is
    * garbage-collected and further elements are dropped — exactly the
    * reference's window-expiry contract. A pending unfired pane at GC is
    * flushed, never silently dropped.
    *
    * Output rows: (key, windowStartMs, value, paneIndex, timing) with
    * timing ∈ {ON_TIME, LATE}.
    *
    * Implementation note: `transformWithState` in EVENT-time mode drops
    * input rows older than the watermark — exactly the drop this operator
    * exists to avoid — so the processor runs in PROCESSING-time mode and
    * reads the watermark from `TimerValues.getCurrentWatermarkInMs`, which
    * both callbacks receive in either mode. One processing-time timer per
    * (key, window), re-armed `pollMs` out on every firing, is the liveness
    * poll that notices watermark crossings for quiet keys (Spark itself
    * evaluates event-time timers once per batch; the poll is the same
    * cadence made explicit).
    *
    * At scale: state is one accumulator per open (key, window), partitioned
    * by the grouping key in the executor state store; the watermark GC
    * bounds the open-window count exactly as the reference's
    * ReduceFnRunner does. */
  def lateFiringPanes[K, V, A](
      ds: Dataset[(K, java.sql.Timestamp, V)],
      windowMs: Long, allowedLatenessMs: Long, watermarkDelay: String,
      zero: A, add: (A, V) => A, pollMs: Long = 500L)(
      implicit kwEnc: Encoder[(K, Long)],
      rowEnc: Encoder[(K, java.sql.Timestamp, V)],
      outEnc: Encoder[(K, Long, A, Long, String)],
      sEnc: Encoder[WindowPanes[A]]): Dataset[(K, Long, A, Long, String)] = {
    type Out = (K, Long, A, Long, String)

    val processor = new StatefulProcessor[(K, Long), (K, java.sql.Timestamp, V), Out] {
      @transient private var panes: ValueState[WindowPanes[A]] = _

      override def init(outputMode: OutputMode, tm: TimeMode): Unit =
        panes = getHandle.getValueState[WindowPanes[A]]("panes", sEnc, TTLConfig.NONE)

      /** Window expiry: flush a pending unfired ON_TIME pane, then GC the
        * state. */
      private def expire(k: K, winStart: Long): Iterator[Out] = {
        val out = Option.when(panes.exists())(panes.get()).filterNot(_.onTimeFired)
          .map(st => (k, winStart, st.acc, st.paneIndex, "ON_TIME")).iterator
        panes.clear()
        out
      }

      override def handleInputRows(key: (K, Long),
          rows: Iterator[(K, java.sql.Timestamp, V)], tv: TimerValues): Iterator[Out] = {
        val (k, winStart) = key
        val winEnd = winStart + windowMs
        val wm = tv.getCurrentWatermarkInMs()
        if (wm >= winEnd + allowedLatenessMs) {
          // expired window: the elements are past allowed lateness and
          // drop, but existing state is GC'd here too (a quiet key's poll
          // may not have run yet)
          getHandle.listTimers().foreach(getHandle.deleteTimer)
          expire(k, winStart)
        } else {
          val had = panes.exists()
          var st = if (had) panes.get() else WindowPanes(zero, 0L, onTimeFired = false)
          val acc = rows.foldLeft(st.acc)((a, r) => add(a, r._3))
          val out = Seq.newBuilder[Out]
          if (wm < winEnd) st = st.copy(acc = acc) // open window: accumulate
          else {
            // late data (wm past end, within lateness). A hot key's poll may
            // not have run yet, so fire the overdue ON_TIME pane here first
            // (with only its pre-watermark accumulation), then this batch's
            // stragglers as a LATE pane — ReduceFnRunner's
            // timer-before-bundle ordering.
            if (!st.onTimeFired) {
              if (had) { // pre-watermark data exists: its ON_TIME pane is overdue
                out += ((k, winStart, st.acc, st.paneIndex, "ON_TIME"))
                st = WindowPanes(st.acc, st.paneIndex + 1, onTimeFired = true)
              } else st = st.copy(onTimeFired = true) // FIRE_IF_NON_EMPTY: no empty pane
            }
            out += ((k, winStart, acc, st.paneIndex, "LATE"))
            st = WindowPanes(acc, st.paneIndex + 1, onTimeFired = true)
          }
          panes.update(st)
          if (!getHandle.listTimers().hasNext)
            getHandle.registerTimer(tv.getCurrentProcessingTimeInMs() + pollMs)
          out.result().iterator
        }
      }

      override def handleExpiredTimer(key: (K, Long), tv: TimerValues,
          info: ExpiredTimerInfo): Iterator[Out] = {
        val (k, winStart) = key
        val winEnd = winStart + windowMs
        val wm = tv.getCurrentWatermarkInMs()
        // the fired poll is consumed natively; only a live window re-arms
        if (!panes.exists()) Iterator.empty
        else if (wm >= winEnd + allowedLatenessMs) expire(k, winStart)
        else {
          getHandle.registerTimer(tv.getCurrentProcessingTimeInMs() + pollMs)
          val st = panes.get()
          if (wm >= winEnd && !st.onTimeFired) { // the on-time crossing
            panes.update(WindowPanes(st.acc, st.paneIndex + 1, onTimeFired = true))
            Iterator((k, winStart, st.acc, st.paneIndex, "ON_TIME"))
          } else Iterator.empty
        }
      }
    }

    ds.toDF("k", "event_time", "v")
      .withWatermark("event_time", watermarkDelay)
      .as[(K, java.sql.Timestamp, V)]
      .groupByKey(r => (r._1, Math.floorDiv(r._2.getTime, windowMs) * windowMs))
      .transformWithState[Out](processor, TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** The element path of [[groupIntoBatches]]: the buffered elements plus
    * a bundle, split into the full batches to emit (in arrival order) and
    * the remainder that keeps buffering. */
  private[streaming] def cutBatches[V](buf: Seq[V], batchSize: Int): (Seq[Seq[V]], Seq[V]) = {
    val full = buf.grouped(batchSize).filter(_.size == batchSize).toSeq
    (full, buf.drop(full.size * batchSize))
  }

  /** GroupIntoBatches (transforms/GroupIntoBatches.java:59): per-key
    * batches of `batchSize`, flushed early `maxWaitMs` after a partial
    * batch's first element (the flush timer is the reference's buffering
    * timer). The buffer is a native ListState cell — the state-cell shape
    * the reference's BagState models (sdk/state/StateSpecs.java `bag()`):
    * appending an element is an append to the cell, not a
    * read-modify-write of a serialized Seq blob. The per-bundle READ
    * (`buf.get()`, to test the batch boundary) remains O(buffer) — the
    * same cost profile as the reference's BagState-over-store. */
  def groupIntoBatches[K, V](ds: Dataset[(K, V)], batchSize: Int, maxWaitMs: Long)(
      implicit kEnc: Encoder[K], vEnc: Encoder[V],
      outEnc: Encoder[(K, Seq[V])]): Dataset[(K, Seq[V])] = {

    val processor = new StatefulProcessor[K, (K, V), (K, Seq[V])] {
      @transient private var buf: ListState[V] = _
      // the armed flush deadline (absent = no timer): one timer per
      // partial-batch EPOCH, so a deadline armed for an already-flushed
      // batch never cuts a later partial batch's maxWait short, and the
      // timer really is deleted when the buffer drains
      @transient private var armed: ValueState[Long] = _

      override def init(outputMode: OutputMode, tm: TimeMode): Unit = {
        buf = getHandle.getListState[V]("buf", vEnc, TTLConfig.NONE)
        armed = getHandle.getValueState[Long]("armedAt",
          Encoders.scalaLong, TTLConfig.NONE)
      }

      override def handleInputRows(key: K, rows: Iterator[(K, V)],
          tv: TimerValues): Iterator[(K, Seq[V])] = {
        rows.foreach(r => buf.appendValue(r._2))
        val (full, rest) = cutBatches(buf.get().toSeq, batchSize)
        if (full.nonEmpty) {
          buf.clear()
          rest.foreach(buf.appendValue)
        }
        // one flush timer per waiting partial batch (the reference's
        // buffering timer), managed by epoch:
        //  - buffer drained → delete the timer (nothing left to flush)
        //  - full batches flushed, remainder carried → the remainder is a
        //    NEW epoch (its elements arrived this bundle): re-arm at
        //    now + maxWait, deleting the flushed epoch's stale deadline
        //  - still accumulating → keep the existing deadline (maxWait
        //    counts from the epoch's FIRST element, not its latest)
        val prev = if (armed.exists()) Some(armed.get()) else None
        if (rest.isEmpty) {
          prev.foreach(getHandle.deleteTimer)
          if (prev.isDefined) armed.clear()
        } else if (full.nonEmpty || prev.isEmpty) {
          prev.foreach(getHandle.deleteTimer)
          val at = tv.getCurrentProcessingTimeInMs() + maxWaitMs
          getHandle.registerTimer(at)
          armed.update(at)
        }
        full.iterator.map(key -> _)
      }

      override def handleExpiredTimer(key: K, tv: TimerValues,
          info: ExpiredTimerInfo): Iterator[(K, Seq[V])] = {
        armed.clear()
        val rest = if (buf.exists()) buf.get().toSeq else Seq.empty
        buf.clear()
        if (rest.nonEmpty) Iterator(key -> rest) else Iterator.empty
      }
    }

    ds.groupByKey(_._1)
      .transformWithState[(K, Seq[V])](processor,
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** OrderedListState (reference sdk/state/OrderedListState.java): a
    * per-key timestamp-ordered value list with range reads and range
    * clears. Backed by a native ListState of (timestamp, value) — appends
    * are delta-writes; reads sort (stable, so equal timestamps keep
    * insertion order, the reference's contract); a range clear rewrites
    * the survivors (the same cost profile the reference's runners have —
    * OrderedListState is an interface over whatever the store offers). */
  final class OrderedList[V] private[Stateful] (state: ListState[(Long, V)]) {
    def add(ts: Long, v: V): Unit = state.appendValue((ts, v))
    def read(): Seq[(Long, V)] =
      (if (state.exists()) state.get().toSeq else Seq.empty).sortBy(_._1)
    /** Entries with `from <= ts < to`, timestamp-ordered. */
    def readRange(from: Long, to: Long): Seq[(Long, V)] =
      read().filter(e => e._1 >= from && e._1 < to)
    def clearRange(from: Long, to: Long): Unit = {
      val keep = (if (state.exists()) state.get().toSeq else Seq.empty)
        .filterNot(e => e._1 >= from && e._1 < to)
      state.clear()
      keep.foreach(state.appendValue)
    }
    def clear(): Unit = state.clear()
  }

  /** Obtain an [[OrderedList]] cell from a processor's handle (call from
    * `init`). */
  def orderedListState[V](processor: StatefulProcessor[_, _, _], name: String)(
      implicit vEnc: Encoder[V]): OrderedList[V] =
    new OrderedList[V](processor.getHandle.getListState[(Long, V)](
      name, Encoders.tuple(Encoders.scalaLong, vEnc), TTLConfig.NONE))

  /** The event-time SORTER OrderedListState exists for (reference pattern:
    * buffer out-of-order events per key, release them in timestamp order
    * as the watermark passes): elements buffer into an OrderedList; each
    * batch (re-)arms an event-time timer at the earliest buffered
    * timestamp; when the watermark crosses, every element at-or-before it
    * emits in order and the emitted range is cleared — later stragglers
    * keep their own timer. Emits (key, ts, value) in per-key event-time
    * order across micro-batches. */
  def eventTimeSorted[K, V](ds: Dataset[(K, java.sql.Timestamp, V)],
      watermarkDelay: String)(implicit kEnc: Encoder[K], vEnc: Encoder[V],
      outEnc: Encoder[(K, Long, V)]): Dataset[(K, Long, V)] = {

    val processor = new StatefulProcessor[K, (K, java.sql.Timestamp, V), (K, Long, V)] {
      @transient private var buf: OrderedList[V] = _
      // the currently armed deadline: re-arming every bundle without
      // deleting would accumulate one live timer per bundle on a hot key
      // (spurious empty wakeups + timer-store growth)
      @transient private var armed: ValueState[Long] = _

      override def init(outputMode: OutputMode, tm: TimeMode): Unit = {
        buf = orderedListState[V](this, "buf")
        armed = getHandle.getValueState[Long]("armedAt",
          Encoders.scalaLong, TTLConfig.NONE)
      }

      private def rearm(): Unit = {
        val want = buf.read().headOption.map(_._1)
        val have = if (armed.exists()) Some(armed.get()) else None
        if (want != have) {
          have.foreach(getHandle.deleteTimer)
          want match {
            case Some(at) => getHandle.registerTimer(at); armed.update(at)
            case None => armed.clear()
          }
        }
      }

      override def handleInputRows(key: K, rows: Iterator[(K, java.sql.Timestamp, V)],
          tv: TimerValues): Iterator[(K, Long, V)] = {
        rows.foreach(r => buf.add(r._2.getTime, r._3))
        rearm()
        Iterator.empty
      }

      override def handleExpiredTimer(key: K, tv: TimerValues,
          info: ExpiredTimerInfo): Iterator[(K, Long, V)] = {
        armed.clear() // the fired timer was consumed natively
        val wm = tv.getCurrentWatermarkInMs()
        val ready = buf.readRange(Long.MinValue, wm + 1)
        buf.clearRange(Long.MinValue, wm + 1)
        rearm()
        ready.iterator.map { case (ts, v) => (key, ts, v) }
      }
    }

    implicit val rowEnc: Encoder[(K, java.sql.Timestamp, V)] = ds.encoder
    ds.toDF("k", "event_time", "v")
      .withWatermark("event_time", watermarkDelay)
      .as[(K, java.sql.Timestamp, V)]
      .groupByKey(_._1)
      .transformWithState[(K, Long, V)](processor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Two named timers in the EVENT-time domain on one key (DoFn.java:475–540:
    * two @TimerId fields): the key's first element arms BOTH timers
    * simultaneously — "a" at ts+delayAMs, "b" at ts+delayBMs — as two
    * independent native timers; each fires its own expiry callback as the
    * watermark crosses its deadline. Emits (key, timerName, expiryMs). A
    * single per-key timeout would arm only min(a, b) and re-arm on
    * wake-up, so the second deadline silently shifts if the first callback
    * stalls; natively the two are independent store entries. */
  def twoEventTimeTimers[K](ds: Dataset[(K, java.sql.Timestamp)],
      delayAMs: Long, delayBMs: Long, watermarkDelay: String)(
      implicit kEnc: Encoder[K]): Dataset[(K, String, Long)] = {

    val processor = new StatefulProcessor[K, (K, java.sql.Timestamp), (K, String, Long)] {
      @transient private var armed: MapState[Long, String] = _

      override def init(outputMode: OutputMode, tm: TimeMode): Unit =
        armed = getHandle.getMapState[Long, String]("armed",
          Encoders.scalaLong, Encoders.STRING, TTLConfig.NONE)

      override def handleInputRows(key: K, rows: Iterator[(K, java.sql.Timestamp)],
          tv: TimerValues): Iterator[(K, String, Long)] = {
        if (!armed.exists()) {
          val t0 = rows.map(_._2.getTime).min
          val atA = t0 + delayAMs
          val atB = t0 + delayBMs
          armed.updateValue(atA, "a")
          armed.updateValue(atB, "b")
          getHandle.registerTimer(atA) // two timers armed at once —
          getHandle.registerTimer(atB) // the native TimerMap, no min-heap
        } else rows.foreach(_ => ()) // later elements don't re-arm
        Iterator.empty
      }

      override def handleExpiredTimer(key: K, tv: TimerValues,
          info: ExpiredTimerInfo): Iterator[(K, String, Long)] = {
        val at = info.getExpiryTimeInMs
        val name = if (armed.containsKey(at)) armed.getValue(at) else return Iterator.empty
        armed.removeKey(at)
        Iterator((key, name, at))
      }
    }

    implicit val rowEnc: Encoder[(K, java.sql.Timestamp)] = ds.encoder
    implicit val outEnc: Encoder[(K, String, Long)] =
      Encoders.tuple(kEnc, Encoders.STRING, Encoders.scalaLong)
    ds.toDF("k", "event_time")
      .withWatermark("event_time", watermarkDelay)
      .as[(K, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState[(K, String, Long)](processor,
        TimeMode.EventTime(), OutputMode.Append())
  }
}
