package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. The same seed gives byte-identical inputs:
  * every value is a function of (seed, row id), so generation is a single
  * narrow Spark job per table. */
object Inputs {

  // The training-data corpus: documents with planted near-duplicates and
  // clustered vectors, built the way graft.sources.PipelineCorpus builds
  // its fixed corpus, but keyed by the seed.

  private def splitmix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private final class Rng(seed: Long) {
    private var n = 0L
    def nextLong(): Long = { n += 1; splitmix(seed + n * 0x632be59bd9b4e019L) }
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextGauss(): Double =
      (nextDouble() + nextDouble() + nextDouble() + nextDouble() - 2.0) * Math.sqrt(3.0)
  }

  /** Offset of this seed's document ids in PipelineCorpus's id space (a
    * multiple of 10, so id ≡ 9 (mod 10) stays a planted copy of id-1). */
  def docOffset(seed: Long): Long = Math.floorMod(splitmix(seed), 100000L) * 1000000L

  /** (doc_id, text, part): part 0 is the base corpus, parts 1..k the
    * increments, drawn per document from the seed so that planted pairs
    * often straddle base and increment. */
  def documents(spark: SparkSession, seed: Long, docs: Long, increments: Int,
      incrementShare: Double): DataFrame = {
    import spark.implicits._
    val off = docOffset(seed)
    spark.range(0, docs, 1, 4).map { id =>
      val u = (splitmix(seed ^ (id * 0x5851f42d4c957f2dL)) >>> 11) * (1.0 / (1L << 53))
      val part = if (u < incrementShare) 1 + (u / incrementShare * increments).toInt.min(increments - 1) else 0
      (id, graft.sources.PipelineCorpus.docText(off + id), part)
    }.toDF("doc_id", "text", "part")
  }

  val Dim = 64

  /** Unit cluster centre `c` of `clusters` (64-d), fixed per seed. */
  private def center(seed: Long, c: Int): Array[Double] = {
    val r = new Rng(seed * 1099511628211L + c)
    val v = Array.fill(Dim)(r.nextGauss())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** (vec_id, embedding) for ids [from, until): each vector is a cluster
    * centre plus gaussian noise; `clusterOf` picks the centre. */
  private def vectors(spark: SparkSession, seed: Long, from: Long, until: Long,
      clusterOf: Long => Int): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, 4).map { id =>
      val c = center(seed, clusterOf(id))
      val r = new Rng(seed ^ (id * 0x5851f42d4c957f2dL + 11))
      (id, Array.tabulate(Dim)(i => (c(i) + 0.05 * r.nextGauss()).toFloat))
    }.toDF("vec_id", "embedding")
  }

  def baseVectors(spark: SparkSession, seed: Long, n: Long, clusters: Int): DataFrame =
    vectors(spark, seed, 0, n, id => (splitmix(seed + id) >>> 33).toInt % clusters)

  /** The drifted slice: new vectors that all fall in the first
    * `hotClusters` clusters, so appending them skews the IVF cells. */
  def driftVectors(spark: SparkSession, seed: Long, from: Long, n: Long, hotClusters: Int): DataFrame =
    vectors(spark, seed, from, from + n, id => (splitmix(seed + id) >>> 33).toInt % hotClusters)

  def queryVectors(spark: SparkSession, seed: Long, from: Long, n: Long, clusters: Int): DataFrame =
    vectors(spark, seed, from, from + n, id => (splitmix(seed * 31 + id) >>> 33).toInt % clusters)
}
