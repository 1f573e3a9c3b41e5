package graft.streaming

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import Stateful.{Cells, ParDoLogic, Timers}

/** The count-driven logic values of [[Stateful]] — count, orFinally,
  * afterEach — and `groupIntoBatches`' element path, fed a random per-key
  * element sequence cut into random non-empty bundles, one `onElements`
  * call per bundle, as `statefulParDo` feeds one call per key per
  * micro-batch:
  *   - the output and the final state are the same however the sequence
  *     is cut: one bundle, a random cut, or one element per bundle (a
  *     count trigger counts elements, not bundles);
  *   - the output equals a plain-Scala model of the trigger: accumulating
  *     panes (the running sum), the pane index, and the finished bit of
  *     orFinally and afterEach.
  * No Spark session: the logic values are plain functions. */
class TriggerLogicSpec extends AnyFunSuite {
  import TriggerLogicSpec.Case

  private val K = "k"
  private val add = (a: Long, v: Int) => a + v

  private val genCase: Gen[Case] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 9 -> Gen.choose(1, 24))
    xs <- Gen.listOfN(n, Gen.choose(-5, 9))
    cuts <- Gen.listOfN(math.max(n - 1, 0), Gen.prob(0.3))
    every <- Gen.choose(1, 4)
    total <- Gen.choose(1, 12)
    counts <- Gen.choose(1, 4).flatMap(m => Gen.listOfN(m, Gen.choose(1, 4)))
  } yield Case(xs, cuts, every, total, counts)

  /** `xs` cut before every position whose flag is set. */
  private def bundles(xs: Seq[Int], cuts: Seq[Boolean]): Seq[Seq[Int]] =
    if (xs.isEmpty) Seq.empty
    else (cuts.zipWithIndex.collect { case (true, i) => i + 1 } :+ xs.size)
      .foldLeft((0, Seq.empty[Seq[Int]])) { case ((from, acc), to) =>
        (to, acc :+ xs.slice(from, to))
      }._2

  /** The three cuts every case is run under. */
  private def cuttings(c: Case): Seq[Seq[Seq[Int]]] =
    Seq(if (c.xs.isEmpty) Seq.empty else Seq(c.xs), bundles(c.xs, c.cuts),
      c.xs.map(Seq(_)))

  /** Feed `logic` bundle by bundle, threading the cells as
    * `statefulParDo` does; returns the outputs and the final state. */
  private def feed[S, O](logic: ParDoLogic[String, Int, S, O],
      bs: Seq[Seq[Int]]): (Seq[O], S) = {
    val zero = Cells(logic.zero, Timers.empty)
    val (out, last) = bs.foldLeft((Seq.empty[O], zero)) { case ((out, cells), b) =>
      val (next, o) = logic.onElements(K, b, cells)
      (out ++ o, next.getOrElse(zero))
    }
    (out, last.value)
  }

  /** The running sum after each element, keyed by 1-based position. */
  private def sums(xs: Seq[Int]): IndexedSeq[Long] =
    xs.scanLeft(0L)(add).toIndexedSeq

  /** The same result under every cut, equal to the model. */
  private def holds[R](c: Case, got: Seq[Seq[Int]] => R, want: R): Prop = {
    val results = cuttings(c).map(got)
    results.forall(_ == want) :| s"case $c\n  want $want\n  got  ${results.mkString("\n       ")}"
  }

  private def check(name: String)(prop: Case => Prop): Unit = {
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(300).withWorkers(1)
      .withInitialSeed(Seed(20261020L)), Prop.forAllNoShrink(genCase)(prop))
    assert(result.passed, s"$name: ${org.scalacheck.util.Pretty.pretty(result)}")
  }

  test("count trigger: bundling-independent, equal to the accumulating-pane model") {
    var multiPane = 0
    check("count") { c =>
      val s = sums(c.xs)
      val panes = (1 to c.xs.size).filter(_ % c.every == 0)
      val want = panes.zipWithIndex.map { case (i, p) => (K, s(i), p.toLong) }
      if (want.size > 1 && bundles(c.xs, c.cuts).size > 1) multiPane += 1
      holds(c, bs => feed(Stateful.countLogic[String, Int, Long](0L, add, c.every), bs)._1,
        want)
    }
    assert(multiPane > 0, "generator never cut a multi-pane sequence")
  }

  test("orFinally trigger: bundling-independent, equal to the model with its finished bit") {
    var closed, open = 0
    check("orFinally") { c =>
      val s = sums(c.xs)
      val seen = math.min(c.xs.size, c.total)
      val fire = (1 to seen).filter(i => i == c.total || i % c.every == 0)
      val panes = fire.zipWithIndex.map { case (i, p) => (K, s(i), p.toLong, i == c.total) }
      val finished = c.xs.size >= c.total
      if (finished) closed += 1 else open += 1
      holds(c, bs => {
        val (out, st) = feed(Stateful.orFinallyLogic[String, Int, Long](0L, add,
          c.every, c.total), bs)
        (out, st._5)
      }, (panes, finished))
    }
    assert(closed > 0 && open > 0, s"generator coverage: closed=$closed open=$open")
  }

  test("afterEach trigger: bundling-independent, equal to the sequenced-pane model") {
    var finishedCases = 0
    check("afterEach") { c =>
      val s = sums(c.xs)
      val ends = c.counts.scanLeft(0)(_ + _).tail.takeWhile(_ <= c.xs.size)
      val panes = ends.zipWithIndex.map { case (i, p) => (K, s(i), p.toLong) }
      val finished = ends.size == c.counts.size
      if (finished) finishedCases += 1
      holds(c, bs => {
        val (out, st) = feed(Stateful.afterEachLogic[String, Int, Long](0L, add,
          c.counts), bs)
        (out, st._3 == c.counts.size)
      }, (panes, finished))
    }
    assert(finishedCases > 0, "generator never finished an afterEach sequence")
  }

  test("groupIntoBatches element path: bundling-independent full batches in arrival order") {
    check("groupIntoBatches") { c =>
      val size = c.every
      val full = c.xs.grouped(size).filter(_.size == size).toSeq
      holds(c, bs => bs.foldLeft((Seq.empty[Seq[Int]], Seq.empty[Int])) {
        case ((out, rest), b) =>
          val (f, r) = Stateful.cutBatches(rest ++ b, size)
          (out ++ f, r)
      }, (full, c.xs.drop(full.size * size)))
    }
  }
}

object TriggerLogicSpec {
  final case class Case(xs: Seq[Int], cuts: Seq[Boolean], every: Int,
      total: Int, counts: Seq[Int])
}
