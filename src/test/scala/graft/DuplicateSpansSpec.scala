package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import graft.dedup.ExactSubstr

/** `ExactSubstr.duplicateSpans` on random small corpora equals a
  * brute-force span finder in plain Scala: every `minLen` code-point
  * substring that occurs at least twice among the rows with a non-null id
  * marks its characters, and the maximal runs of marked characters are
  * the spans. Further contracts checked on every case:
  *   - a row with a null id neither reports spans nor counts as an
  *     occurrence, and a null text has no substrings;
  *   - with the hot-gram cap, the covered characters are a subset of the
  *     uncapped ones, and equal when no anchor hash occurs more than
  *     `maxPerGram` times;
  *   - with `hashSplit = 3`, the merged spans of the three passes are the
  *     single pass's.
  * The generator plants passages of minLen − 1 to minLen + w characters
  * in cap − 1 to cap + 1 copies (across and within documents), runs of
  * one repeated character, and multibyte and astral characters, and the
  * run asserts that each arm occurred. */
class DuplicateSpansSpec extends GraftSpec {
  import spark.implicits._
  import DuplicateSpansSpec.Case

  private type Span = (Long, Long, Long)

  // one ASCII letter pair, a 2-byte, a 3-byte and an astral (4-byte,
  // two UTF-16 units) code point
  private val alphabet = Vector("a", "b", "é", "中", "😀")

  private def genText(maxLen: Int): Gen[String] =
    Gen.choose(0, maxLen).flatMap(n => Gen.listOfN(n, Gen.oneOf(alphabet)).map(_.mkString))

  /** Insert `piece` into `t` at fraction `at` of its code points. */
  private def plant(t: String, piece: String, at: Double): String = {
    val cps = t.codePoints.toArray
    val i = (at * cps.length).toInt
    new String(cps, 0, i) + piece + new String(cps, i, cps.length - i)
  }

  private val genCase: Gen[Case] = for {
    minLen <- Gen.choose(4, 10)
    w <- Gen.choose(1, math.min(minLen, 5))
    cap <- Gen.oneOf(2, 3, 4)
    n <- Gen.choose(2, 6)
    texts <- Gen.listOfN(n, genText(24))
    passage <- Gen.choose(minLen - 1, minLen + w).flatMap(l =>
      Gen.listOfN(l, Gen.oneOf(alphabet)).map(_.mkString))
    copies <- Gen.oneOf(0, cap - 1, cap, cap + 1)
    targets <- Gen.listOfN(copies + 1, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0.0, 1.0)))
    repeat <- Gen.frequency(2 -> Gen.const(0), 1 -> Gen.choose(minLen - 1, 2 * minLen))
    nulls <- Gen.listOfN(n, Gen.frequency(1 -> 1, 1 -> 2, 8 -> 0))
    split <- Gen.frequency(1 -> true, 2 -> false)
  } yield {
    // fold the planted copies and the one-character run into the texts
    val pieces = Seq.fill(copies)(passage) :+ "a" * repeat
    val planted = targets.zip(pieces).foldLeft(texts.toVector) {
      case (ts, ((d, at), p)) => ts.updated(d, plant(ts(d), p, at)) }
    val docs = planted.zip(nulls).zipWithIndex.map { case ((t, nul), i) =>
      (if (nul == 1) None else Some(i.toLong), if (nul == 2) null else t) }
    Case(docs, minLen, w, cap, split)
  }

  private def frame(c: Case): DataFrame = c.docs.toDF("doc_id", "text")

  private def spans(df: DataFrame): Set[Span] =
    df.select("doc_id", "span_start", "span_end").as[Span].collect().toSet

  /** Maximal runs of the marked positions (0-based) as 1-based spans. */
  private def toSpans(id: Long, marked: Set[Int]): Set[Span] =
    marked.toSeq.sorted.foldLeft(List.empty[(Int, Int)]) {
      case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
      case (acc, p) => (p, p) :: acc
    }.map { case (s, e) => (id, s + 1L, e + 1L) }.toSet

  private def covered(ss: Set[Span]): Map[Long, Set[Int]] =
    ss.groupMapReduce(_._1)(s => (s._2.toInt - 1 until s._3.toInt).toSet)(_ ++ _)

  private def merge(ss: Set[Span]): Set[Span] =
    covered(ss).flatMap { case (id, m) => toSpans(id, m) }.toSet

  /** The brute-force span finder over code points. */
  private def reference(c: Case): Set[Span] = {
    val cps = c.docs.collect { case (Some(id), t) if t != null =>
      id -> t.codePoints.toArray.toVector }
    def grams(v: Vector[Int]) = (0 to v.size - c.minLen).map(i => i -> v.slice(i, i + c.minLen))
    val counts = cps.flatMap(d => grams(d._2).map(_._2)).groupMapReduce(identity)(_ => 1)(_ + _)
    cps.flatMap { case (id, v) =>
      toSpans(id, grams(v).collect { case (i, g) if counts(g) >= 2 => i until i + c.minLen }
        .flatten.toSet)
    }.toSet
  }

  /** Occurrences of the most frequent anchor hash, from the native kernel. */
  private def maxAnchorRun(c: Case): Int = {
    val hs = c.docs.collect { case (Some(_), t) if t != null =>
      val a = graft.plans.WinnowedAnchors.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), c.minLen - c.w + 1, c.w)
      (0 until a.numElements()).map(j => a.getStruct(j, 2).getLong(1))
    }.flatten
    if (hs.isEmpty) 0 else hs.groupMapReduce(identity)(_ => 1)(_ + _).values.max
  }

  test("duplicateSpans ≡ brute-force spans, under the cap and across hash passes") {
    var withSpans, capDecided, nullIds, astral, selfRepeat, splits = 0
    var capBoundary = Set.empty[Int] // max anchor run − cap, seen at −1, 0, +1
    val prop = Prop.forAllNoShrink(genCase) { c =>
      val df = frame(c)
      def run(cap: Int, split: Int = 1, part: Int = 0) = spans(ExactSubstr.duplicateSpans(
        df, "doc_id", "text", c.minLen, c.w, cap, hashSplit = split, hashPart = part))
      val want = reference(c)
      val uncapped = run(10000)
      val capped = run(c.cap)
      val maxRun = maxAnchorRun(c)
      val hot = maxRun > c.cap
      val capOk =
        if (!hot) capped == want
        else covered(capped).forall { case (id, m) =>
          m.subsetOf(covered(want).getOrElse(id, Set.empty)) }
      val splitOk = !c.split ||
        merge((0 until 3).flatMap(p => run(c.cap, 3, p)).toSet) == capped
      if (want.nonEmpty) withSpans += 1
      if (capped != want) capDecided += 1
      if (c.docs.exists(_._1.isEmpty)) nullIds += 1
      if (want.exists { case (id, s, e) => c.docs.exists(d => d._1.contains(id) &&
          d._2.codePoints.toArray.slice(s.toInt - 1, e.toInt).exists(_ > 0xffff)) }) astral += 1
      if (c.docs.exists(d => d._2 != null && d._2.contains("a" * (c.minLen + 1)))) selfRepeat += 1
      if (c.split) splits += 1
      if ((maxRun - c.cap).abs <= 1) capBoundary += maxRun - c.cap
      (uncapped == want && capOk && splitOk) :|
        s"case $c\n  want     $want\n  uncapped $uncapped\n  capped   $capped (hot=$hot)"
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(30).withWorkers(1)
      .withInitialSeed(Seed(20261021L)), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
    info(s"withSpans=$withSpans capDecided=$capDecided nullIds=$nullIds astral=$astral " +
      s"selfRepeat=$selfRepeat splits=$splits")
    assert(withSpans > 0 && capDecided > 0 && nullIds > 0 && astral > 0 &&
      selfRepeat > 0 && splits > 0 && capBoundary == Set(-1, 0, 1),
      s"generator coverage: withSpans=$withSpans capDecided=$capDecided nullIds=$nullIds " +
        s"astral=$astral selfRepeat=$selfRepeat splits=$splits capBoundary=$capBoundary")
  }
}

object DuplicateSpansSpec {
  final case class Case(docs: Seq[(Option[Long], String)], minLen: Int, w: Int,
      cap: Int, split: Boolean)
}
