package graft.cep

import org.apache.spark.sql.{Dataset, Encoder}

/** Row-pattern matching — the reference's MATCH_RECOGNIZE support
  * (extensions/sql impl/rel/BeamMatchRel.java:67, NFA engine
  * impl/nfa/NFA.java:261, pattern ops impl/cep/) re-expressed for Spark.
  *
  * Pattern grammar (the linear subset the reference's CEP tests exercise):
  * a sequence of symbols, each with a row predicate and a greedy
  * quantifier — PATTERN (A B+ C?[…]) — with AFTER MATCH SKIP PAST LAST
  * ROW semantics. Matching runs per partition key over events sorted by
  * the ORDER BY key, exactly the MATCH_RECOGNIZE contract.
  *
  * Execution model: `groupByKey.flatMapGroups`; each key's events are
  * sorted in-task and scanned once by a backtracking matcher. At 100 TB
  * the shuffle is one hash exchange on the partition key, and the memory
  * bound is max-events-per-key per task — the same bound every
  * MATCH_RECOGNIZE implementation (including the reference NFA, which
  * buffers candidate matches per key) carries. Streaming: `matchStream`
  * runs the same matcher in its own `flatMapGroupsWithState` with the
  * event buffer as state, flushed on watermark by an event-time timeout.
  * It does not use graft.streaming.Stateful (transformWithState), so
  * streaming MATCH_RECOGNIZE runs on any state store provider, not only
  * RocksDB.
  */
object Pattern extends Serializable {

  /** Quantifiers: greedy A, A+, A*, A? and reluctant A+?, A*?, A??
    * (reference impl/cep/Quantifier.java:28-34 declares both sets).
    * Greedy prefers the LONGEST repetition that lets the rest of the
    * pattern match; reluctant prefers the SHORTEST. Match starts are
    * unchanged (leftmost scan either way). */
  sealed trait Quant
  case object One extends Quant
  case object Plus extends Quant
  case object Star extends Quant
  case object Opt extends Quant
  case object PlusReluctant extends Quant
  case object StarReluctant extends Quant
  case object OptReluctant extends Quant

  /** AFTER MATCH SKIP strategies (reference NFA.java match-resumption):
    * PastLastRow (default) resumes after the match — non-overlapping;
    * ToNextRow resumes at the row after the match START — overlapping
    * matches, the standard's sliding-scan mode. */
  sealed trait Skip
  case object PastLastRow extends Skip
  case object ToNextRow extends Skip
  /** SQL-standard AFTER MATCH SKIP TO FIRST/LAST `sym`: resume the scan AT
    * the first/last row the match bound to `sym` (that row may start the
    * next match — e.g. W-shapes sharing a peak). Per the standard it is a
    * runtime error if `sym` did not participate in the match or if the
    * resumption row is the match start (infinite loop). */
  final case class ToFirstSym(sym: String) extends Skip
  final case class ToLastSym(sym: String) extends Skip

  /** One pattern symbol: name, row predicate, quantifier. `prevPred`,
    * when set, replaces `pred` with a predicate that also sees the
    * PHYSICAL previous event in the key's ordered sequence (None at the
    * sequence start) — the Scala-API form of SQL PREV navigation
    * (reference impl/cep/CEPCall.java PREV operator). In the streaming
    * matcher the predecessor of the scan's first event is the retained
    * per-key context event (the last event before the current buffer),
    * so PREV agrees with a batch scan of the same logical sequence even
    * after earlier events were consumed or matured away. */
  final case class Sym[E](name: String, pred: E => Boolean, quant: Quant = One,
      prevPred: (Option[E], E) => Boolean = null) {
    private[cep] def eval(events: IndexedSeq[E], idx: Int,
        ctx: Option[E]): Boolean =
      if (prevPred ne null)
        prevPred(if (idx > 0) Some(events(idx - 1)) else ctx, events(idx))
      else pred(events(idx))
  }

  object Sym {
    /** A symbol whose predicate navigates to the physical previous row. */
    def withPrev[E](name: String, pred: (Option[E], E) => Boolean,
        quant: Quant = One): Sym[E] = Sym(name, (_: E) => false, quant, pred)
  }

  /** A complete match: the consumed events tagged with their symbol name,
    * in order. */
  final case class Match[E](bindings: IndexedSeq[(String, E)]) {
    def events: IndexedSeq[E] = bindings.map(_._2)
    def measures(name: String): IndexedSeq[E] =
      bindings.collect { case (n, e) if n == name => e }
  }

  /** Match one key's ordered event sequence against the pattern.
    * Greedy with backtracking; match resumption per `skip`. */
  def matchAll[E](events: IndexedSeq[E], pattern: IndexedSeq[Sym[E]],
      skip: Skip = PastLastRow): Seq[Match[E]] =
    matchScan(events, pattern, skip)._1

  /** As matchAll, additionally returning the indices of events NOT
    * consumed by any match (needed by the streaming matcher to retain
    * events that may yet participate when later input arrives).
    * `prevCtx`, when set, is the logical predecessor of `events(0)` —
    * PREV navigation at the scan start resolves to it instead of None. */
  def matchScan[E](events: IndexedSeq[E],
      pattern: IndexedSeq[Sym[E]],
      skip: Skip = PastLastRow,
      prevCtx: Option[E] = None): (Seq[Match[E]], Seq[Int]) = {
    val n = events.length

    // Try to match the full pattern starting at event index `start`;
    // returns (endExclusive, bindings) for the greedy-leftmost match.
    def tryFrom(start: Int): Option[(Int, Vector[(String, E)])] = {
      def go(pi: Int, ei: Int, acc: Vector[(String, E)]): Option[(Int, Vector[(String, E)])] =
        if (pi == pattern.length) Some((ei, acc))
        else {
          val sym = pattern(pi)
          def consume(k: Int) = // bind events [ei, ei+k) to this symbol
            (0 until k).foldLeft(acc)((a, j) => a :+ (sym.name -> events(ei + j)))
          val (minRep, maxRep, reluctant) = sym.quant match {
            case One  => (1, 1, false)
            case Opt  => (0, 1, false)
            case Plus => (1, n - ei, false)
            case Star => (0, n - ei, false)
            case OptReluctant  => (0, 1, true)
            case PlusReluctant => (1, n - ei, true)
            case StarReluctant => (0, n - ei, true)
          }
          // longest run of consecutive events satisfying the predicate
          var run = 0
          while (run < maxRep && ei + run < n && sym.eval(events, ei + run, prevCtx)) run += 1
          val hi = math.min(run, maxRep)
          // greedy: longest repetition first, backtrack shorter on failure;
          // reluctant: shortest first, extend on failure
          var len = if (reluctant) minRep else hi
          var res: Option[(Int, Vector[(String, E)])] = None
          while (res.isEmpty && len >= minRep && len <= hi) {
            res = go(pi + 1, ei + len, consume(len))
            len += (if (reluctant) 1 else -1)
          }
          res
        }
      go(0, start, Vector.empty)
    }

    val out = Seq.newBuilder[Match[E]]
    var i = 0
    skip match {
      case PastLastRow =>
        val unconsumed = Seq.newBuilder[Int]
        while (i < n) {
          tryFrom(i) match {
            case Some((end, binds)) if end > i => // non-empty match: skip past it
              out += Match(binds.toIndexedSeq); i = end
            case _ => unconsumed += i; i += 1 // no match (or zero-width): advance
          }
        }
        (out.result(), unconsumed.result())
      case ToNextRow =>
        // overlapping: resume at start+1; an event is unconsumed iff it
        // appears in NO match
        val consumed = new Array[Boolean](n)
        while (i < n) {
          tryFrom(i) match {
            case Some((end, binds)) if end > i =>
              out += Match(binds.toIndexedSeq)
              var j = i; while (j < end) { consumed(j) = true; j += 1 }
            case _ =>
          }
          i += 1
        }
        (out.result(), (0 until n).filterNot(consumed))
      case sk @ (ToFirstSym(_) | ToLastSym(_)) =>
        val (symName, useFirst) = sk match {
          case ToFirstSym(s) => (s, true)
          case ToLastSym(s) => (s, false)
          case _ => throw new MatchError(sk)
        }
        val consumed = new Array[Boolean](n)
        while (i < n) {
          tryFrom(i) match {
            case Some((end, binds)) if end > i =>
              out += Match(binds.toIndexedSeq)
              var j = i; while (j < end) { consumed(j) = true; j += 1 }
              // binds(j) is the event at index i + j (bindings accumulate
              // strictly left-to-right from the match start)
              val idxs = binds.zipWithIndex.collect {
                case ((nm, _), off) if nm == symName => i + off
              }
              require(idxs.nonEmpty,
                s"AFTER MATCH SKIP TO $symName: symbol did not participate in the match")
              val target = if (useFirst) idxs.head else idxs.last
              require(target > i,
                s"AFTER MATCH SKIP TO ${if (useFirst) "FIRST" else "LAST"} $symName " +
                  "resumes at the match start row (would loop forever)")
              i = target
            case _ => i += 1
          }
        }
        (out.result(), (0 until n).filterNot(consumed))
    }
  }

  /** Distributed MATCH_RECOGNIZE: partition by `key`, order by `order`,
    * emit one output row per match via `emit`. */
  def matchPattern[E, K: Encoder, S: Ordering, O: Encoder](
      ds: Dataset[E], key: E => K, order: E => S,
      pattern: Seq[Sym[E]], skip: Skip = PastLastRow)(
      emit: (K, Match[E]) => O): Dataset[O] =
    ds.groupByKey(key).flatMapGroups { (k: K, it: Iterator[E]) =>
      val evs = it.toIndexedSeq.sortBy(order)
      matchAll(evs, pattern.toIndexedSeq, skip).iterator.map(m => emit(k, m))
    }

  /** STREAMING MATCH_RECOGNIZE: per-key pattern matching on an unbounded
    * stream (the reference's BeamMatchRel on unbounded input, NFA state
    * kept per key — here the event buffer lives in `GroupState` and
    * matching is gated on the event-time watermark).
    *
    * Semantics: events buffer per key; whenever the watermark advances,
    * the pattern is matched over the time-ordered prefix of buffered
    * events at or before the watermark (the "mature" prefix — late
    * arrivals below the watermark are already impossible, so matches over
    * it are final). Consumed events leave the buffer (skip past last
    * row); unconsumed mature events are retained — they may yet start a
    * match together with future input. A trailing greedy repetition
    * finalizes at the watermark rather than waiting unboundedly
    * (documented divergence from an offline scan).
    *
    * The input must carry a watermark (withWatermark upstream). At scale:
    * state per key = pending events plus ONE predecessor context event
    * (so PREV navigation at the buffer head matches a batch scan of the
    * same logical sequence); the shuffle is the same hash exchange as any
    * keyed stateful op.
    */
  def matchStream[E, K, O](
      ds: Dataset[E], key: E => K, tsMillis: E => Long,
      pattern: Seq[Sym[E]])(emit: (K, Match[E]) => O)(
      implicit kEnc: Encoder[K], oEnc: Encoder[O],
      stEnc: Encoder[(Seq[E], Seq[E])]): Dataset[O] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val pat = pattern.toIndexedSeq
    // state = (predecessor context as a 0/1-element Seq, pending events)
    def advance(k: K, it: Iterator[E],
        state: GroupState[(Seq[E], Seq[E])]): Iterator[O] = {
      val (ctxSeq, pending) = state.getOption.getOrElse((Seq.empty[E], Seq.empty[E]))
      val ctx = ctxSeq.lastOption
      val buf = pending ++ it
      val wm = state.getCurrentWatermarkMs()
      val (mature, immature) = buf.partition(e => tsMillis(e) <= wm)
      val sorted = mature.sortBy(tsMillis).toIndexedSeq
      val (matches, unconsumedIdx) = matchScan(sorted, pat, PastLastRow, ctx)
      val retained = unconsumedIdx.map(sorted) ++ immature
      // context for the next invocation: the event immediately before the
      // earliest retained event in the key's ordered sequence (mature
      // events all precede immature ones — immature means ts > watermark)
      val nextCtx: Option[E] = unconsumedIdx.headOption match {
        case Some(0) => ctx
        case Some(i) => Some(sorted(i - 1))
        case None => sorted.lastOption.orElse(ctx)
      }
      if (retained.isEmpty && nextCtx.isEmpty) state.remove()
      else {
        state.update((nextCtx.toSeq, retained))
        if (retained.nonEmpty) {
          // wake when the watermark passes the earliest pending event
          val next = retained.map(tsMillis).min
          state.setTimeoutTimestamp(math.max(next, wm + 1))
        }
      }
      matches.iterator.map(m => emit(k, m))
    }
    ds.groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(advance)
  }
}
