package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import graft.dedup.Dedup
import graft.dedup.Dedup.BandIndex

/** `Dedup.minhashNearDupsAgainstIndex` on random small corpora equals
  *   - a brute-force evaluation of its contract in plain Scala: each side's
  *     (band, band_hash) buckets holding more than `maxBucketSize` rows
  *     are dropped before pairing, a row with a null id counts toward its
  *     bucket's cap but never pairs, a pair needs at least
  *     `minBandMatches` shared buckets, and its exact character 5-gram
  *     Jaccard must exceed the threshold;
  *   - the per-side count-and-semi-join formulation it replaced, kept
  *     verbatim below as a second oracle.
  * The generator plants near-duplicates, exact copies in hot buckets of
  * exactly `maxBucketSize` and `maxBucketSize + 1` rows on either side,
  * empty increments and null ids; the run asserts that each occurred. */
class DedupAgainstIndexSpec extends GraftSpec {
  import spark.implicits._
  import DedupAgainstIndexSpec.Case

  private val ShingleN = 5
  private val NumHashes = 60
  private val Bands = 20

  private type Pair = (Long, Long, Double)

  private val vocab = Vector("alpha", "bravo", "delta", "gamma", "kappa",
    "omega", "sigma", "theta", "lambda", "index", "shard", "crawl", "token",
    "batch", "merge", "query", "vector", "corpus", "stream", "window")

  private val genText: Gen[Vector[String]] =
    Gen.choose(8, 14).flatMap(n => Gen.containerOfN[Vector, String](n, Gen.oneOf(vocab)))

  /** A near-duplicate: one word replaced, or one appended. */
  private def genVariant(t: Vector[String]): Gen[Vector[String]] =
    Gen.oneOf(
      for { i <- Gen.choose(0, t.size - 1); w <- Gen.oneOf(vocab) } yield t.updated(i, w),
      Gen.oneOf(vocab).map(t :+ _))

  /** Texts for one side: family roots, their variants, and `hot` copies
    * of one root (an exact-copy group fills every bucket it touches). */
  private def genSide(roots: Vector[Vector[String]], hotRoot: Vector[String],
      hot: Int): Gen[Seq[String]] =
    for {
      n <- Gen.choose(0, 8)
      docs <- Gen.listOfN(n, Gen.oneOf(roots).flatMap(r =>
        Gen.frequency(1 -> Gen.const(r), 3 -> genVariant(r))))
    } yield (docs ++ Seq.fill(hot)(hotRoot)).map(_.mkString(" "))

  private val genCase: Gen[Case] = for {
    roots <- Gen.choose(2, 4).flatMap(n => Gen.containerOfN[Vector, Vector[String]](n, genText))
    hotRoot <- Gen.oneOf(roots)
    cap <- Gen.oneOf(2, 3)
    hotOld <- Gen.oneOf(0, 1, cap, cap + 1)
    hotNew <- Gen.oneOf(0, 1, cap, cap + 1)
    oldTexts <- genSide(roots, hotRoot, hotOld)
    newTexts <- Gen.frequency(1 -> Gen.const(Seq.empty[String]),
      5 -> genSide(roots, hotRoot, hotNew))
    nulls <- Gen.listOfN(oldTexts.size + newTexts.size, Gen.frequency(1 -> true, 9 -> false))
    minBandMatches <- Gen.oneOf(1, 2)
    threshold <- Gen.oneOf(0.5, 0.7)
  } yield {
    val ids = nulls.zipWithIndex.map { case (isNull, i) =>
      if (isNull) None else Some(i.toLong) }
    Case(ids.take(oldTexts.size).zip(oldTexts), ids.drop(oldTexts.size).zip(newTexts),
      cap, minBandMatches, threshold)
  }

  private def frame(docs: Seq[(Option[Long], String)]): DataFrame =
    docs.toDF("doc_id", "text")

  /** The formulation before the single pair plan, verbatim: per-side
    * count aggregates and semi joins cap the buckets, and the pair set
    * reaches the verify three times. */
  private def preChange(newDf: DataFrame, index: BandIndex, idCol: String,
      textCol: String, threshold: Double, maxBucketSize: Int,
      minBandMatches: Int): DataFrame = {
    import graft.functions.charShingleHashes
    def capped(b: DataFrame) = {
      val ok = b.groupBy("band", "band_hash")
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxBucketSize)
        .select("band", "band_hash")
      b.join(ok, Seq("band", "band_hash"), "left_semi")
    }
    val newBands = Dedup.minhashBands(newDf, idCol, textCol,
      index.shingleN, index.numHashes, index.nBands)
    val pairs = capped(newBands).select(col("band"), col("band_hash"), col("id").as("new_id"))
      .join(capped(index.bands).select(col("band"), col("band_hash"), col("id").as("corpus_id")),
        Seq("band", "band_hash"))
      .groupBy("new_id", "corpus_id").agg(count(lit(1)).as("n_band_matches"))
      .filter(col("n_band_matches") >= minBandMatches)
    val shNew = newDf.select(col(idCol).as("new_id"), col(textCol).as("__t"))
      .join(broadcast(pairs.select("new_id").distinct()), Seq("new_id"), "left_semi")
      .select(col("new_id"),
        charShingleHashes(col("__t"), index.shingleN).as("sh_a"))
    val shOld = index.shingles.select(col("id").as("corpus_id"), col("sh").as("sh_b"))
      .join(broadcast(pairs.select("corpus_id").distinct()),
        Seq("corpus_id"), "left_semi")
    pairs.join(shNew, "new_id").join(shOld, "corpus_id")
      .filter(Dedup.sizeCompatible(col("sh_a"), col("sh_b"), threshold))
      .withColumn("jaccard_sim", Dedup.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard_sim") > threshold)
      .select(col("new_id"), col("corpus_id"),
        round(col("jaccard_sim"), 6).as("jaccard_sim"))
  }

  /** Character 5-gram set, normalized as charShingleHashes normalizes. */
  private def shingles(t: String): Set[String] = {
    val n = t.trim.replaceAll("\\s+", " ").toLowerCase
    (0 to n.length - ShingleN).map(i => n.substring(i, i + ShingleN)).toSet
  }

  /** Brute force in plain Scala. Only the band hashes come from Spark
    * (`minhashBands`, the banding both formulations share); caps, pairing,
    * band-match counts and Jaccard are evaluated here. `capped = false`
    * skips the caps, to tell whether a case exercised them. */
  private def reference(c: Case, capped: Boolean): Seq[Pair] = {
    def buckets(docs: Seq[(Option[Long], String)]): Map[(Int, Long), Seq[Option[Long]]] =
      Dedup.minhashBands(frame(docs), "doc_id", "text", ShingleN, NumHashes, Bands)
        .select("id", "band", "band_hash").collect().toSeq
        .map(r => ((r.getInt(1), r.getLong(2)), Option(r.get(0)).map(_.asInstanceOf[Long])))
        .groupMap(_._1)(_._2)
        .filter { case (_, ids) => !capped || ids.size <= c.maxBucketSize }
    val (newB, oldB) = (buckets(c.increment), buckets(c.corpus))
    val shared = newB.keySet.intersect(oldB.keySet).toSeq.flatMap(k =>
      for (n <- newB(k).flatten; o <- oldB(k).flatten) yield (n, o))
    val text = (c.corpus ++ c.increment).collect { case (Some(id), t) => id -> t }.toMap
    shared.groupMapReduce(identity)(_ => 1)(_ + _).toSeq
      .collect { case (p, m) if m >= c.minBandMatches => p }
      .flatMap { case (n, o) =>
        val (a, b) = (shingles(text(n)), shingles(text(o)))
        val j = (a & b).size.toDouble / (a | b).size
        if (j > c.threshold)
          Some((n, o, BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        else None
      }.sorted
  }

  private def pairs(df: DataFrame): Seq[Pair] =
    df.select("new_id", "corpus_id", "jaccard_sim").as[Pair].collect().toSeq.sorted

  test("against-index dedup ≡ brute-force contract ≡ pre-change formulation") {
    var withPairs, capDecided, emptyIncrement, nullIds = 0
    val prop = Prop.forAllNoShrink(genCase) { c =>
      val index = Dedup.buildBandIndex(frame(c.corpus), "doc_id", "text",
        ShingleN, NumHashes, Bands)
      val inc = frame(c.increment)
      val got = pairs(Dedup.minhashNearDupsAgainstIndex(inc, index, "doc_id", "text",
        c.threshold, c.maxBucketSize, c.minBandMatches))
      val want = reference(c, capped = true)
      val before = pairs(preChange(inc, index, "doc_id", "text",
        c.threshold, c.maxBucketSize, c.minBandMatches))
      if (want.nonEmpty) withPairs += 1
      if (want != reference(c, capped = false)) capDecided += 1
      if (c.increment.isEmpty) emptyIncrement += 1
      if ((c.corpus ++ c.increment).exists(_._1.isEmpty)) nullIds += 1
      (got == want && before == want) :|
        s"case $c\n  got    $got\n  want   $want\n  before $before"
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(30).withWorkers(1)
      .withInitialSeed(Seed(20261018L)), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
    assert(withPairs > 0 && capDecided > 0 && emptyIncrement > 0 && nullIds > 0,
      s"generator coverage: withPairs=$withPairs capDecided=$capDecided " +
        s"emptyIncrement=$emptyIncrement nullIds=$nullIds")
  }
}

object DedupAgainstIndexSpec {
  final case class Case(corpus: Seq[(Option[Long], String)],
      increment: Seq[(Option[Long], String)], maxBucketSize: Int,
      minBandMatches: Int, threshold: Double)
}
