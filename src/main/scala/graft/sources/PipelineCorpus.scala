package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scaled corpus for the training-data-pipeline scale
  * proof (the dedup/ANN/text analog of the TPC-DS 10x corpus in
  * [[TpcDs]]).
  *
  * The driver testdata tops out at 5k documents / 2k embeddings (sf0.1)
  * — enough for the correctness gate, far too small to exercise the
  * LSH band shuffle, the bucket-size caps, or the IVF cell routing. This
  * generator scales both tables linearly (SPARK_GRAFT_PIPELINE_SCALE,
  * scale 1 = 100k docs + 200k vectors) with properties the oracle-less
  * operators can be CHECKED against, not just timed:
  *
  *  - documents: every id ≡ 9 (mod 10) is a mutated copy of id-1 (~6%
  *    token replacement + ~3% deletion), so the corpus carries
  *    docs/10 PLANTED near-duplicate pairs whose ids are known by
  *    construction. Recall of `Dedup.minhashNearDups` is measured
  *    against the planted pairs whose exact shingle Jaccard clears the
  *    query threshold — an a-priori denominator no all-pairs join could
  *    provide at this size (5·10^9 pairs at scale 1).
  *  - embeddings: 64-dim vectors drawn around 512 fixed cluster centers
  *    (unit centers + gaussian noise), so IVF k-means has real structure
  *    to find and ANN recall vs `bruteForceTopK` is meaningful.
  *
  * Generation is distributed (mapPartitions over spark.range — no driver
  * materialization), seeded per row id (splitmix64), and written once
  * into a versioned directory keyed by scale; Bench reuses the parquet
  * across runs. Word mix includes the English stopword list so the text
  * quality/language features are non-degenerate.
  */
object PipelineCorpus {

  // under the working directory: each checkout reads its own generated data
  private val base = new File("target/pipeline/v1").getAbsolutePath
  def dirFor(s: Int): String = if (s == 1) base else s"$base-x$s"

  def docsFor(s: Int): Long = 100000L * s
  def vecsFor(s: Int): Long = 200000L * s
  val Dim = 64
  val Clusters = 512 // fixed across scales: the codebook stays broadcastable

  // --- deterministic primitives -------------------------------------------

  private def splitmix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Tiny deterministic RNG: a counter hashed through splitmix64. */
  private final class Rng(seed: Long) {
    private var n = 0L
    def nextLong(): Long = { n += 1; splitmix(seed + n * 0x632be59bd9b4e019L) }
    def nextInt(bound: Int): Int = (Math.floorMod(nextLong(), bound.toLong)).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    /** Box-Muller-free gaussian approximation: sum of 4 uniforms,
      * centered — cheap, deterministic, close enough for cluster noise. */
    def nextGauss(): Double =
      (nextDouble() + nextDouble() + nextDouble() + nextDouble() - 2.0) * Math.sqrt(3.0)
  }

  private val stop = Seq("the", "of", "and", "a", "to", "in", "is", "you",
    "that", "it", "he", "was", "for", "on", "are", "as", "with", "his",
    "they", "i", "at", "be", "this", "have", "from", "or", "one", "had",
    "by", "word", "but", "not", "what", "all", "were", "we", "when")

  /** 4096-word vocabulary: the stopword list plus deterministic 4-9 letter
    * words (a few KB, built at object init). EAGER on purpose: a lazy val
    * here deadlocks — `ensure` holds the object monitor (synchronized)
    * across the generation job while every executor thread would block on
    * the same monitor to force the lazy val. */
  private val vocab: Array[String] = {
    val words = Array.ofDim[String](4096)
    var i = 0
    while (i < words.length) {
      if (i < stop.length) words(i) = stop(i)
      else {
        val r = new Rng(0xabcdef12345L + i)
        val len = 4 + r.nextInt(6)
        val sb = new StringBuilder(len)
        var j = 0
        while (j < len) { sb.append(('a' + r.nextInt(26)).toChar); j += 1 }
        words(i) = sb.toString
      }
      i += 1
    }
    words
  }

  /** Base token sequence for document `baseId`: 80-240 tokens with a
    * skewed word draw (every 4th token a stopword — realistic ratios). */
  private def baseTokens(baseId: Long): Array[String] = {
    val r = new Rng(baseId * 2654435761L)
    val n = 80 + r.nextInt(160)
    Array.tabulate(n) { i =>
      if (i % 4 == 1) vocab(r.nextInt(stop.length))
      else vocab(r.nextInt(vocab.length))
    }
  }

  /** Mutated near-duplicate of `tokens`: ~6% replaced, ~3% dropped —
    * lands the bulk of planted pairs at 5-char-shingle Jaccard 0.6-0.9. */
  private def mutate(tokens: Array[String], id: Long): Array[String] = {
    val r = new Rng(id * 0x9e3779b97f4a7c15L + 17)
    tokens.flatMap { t =>
      val u = r.nextDouble()
      if (u < 0.03) Nil
      else if (u < 0.09) Seq(vocab(r.nextInt(vocab.length)))
      else Seq(t)
    }
  }

  private[graft] def docText(id: Long): String = {
    val baseId = if (id % 10 == 9) id - 1 else id
    val toks = baseTokens(baseId)
    (if (id == baseId) toks else mutate(toks, id)).mkString(" ")
  }

  // --- tables --------------------------------------------------------------

  /** (doc_id, text, dup_of): dup_of = id-1 for the planted copies. */
  def genDocuments(spark: SparkSession, docs: Long): DataFrame = {
    import spark.implicits._
    val parts = math.max(32, (docs / 25000L).toInt)
    spark.range(0, docs, 1, parts)
      .map { id =>
        (id, docText(id), if (id % 10 == 9) id - 1 else -1L)
      }
      .toDF("doc_id", "text", "dup_of")
  }

  /** (vec_id, embedding float[], cluster): vectors around unit centers. */
  def genEmbeddings(spark: SparkSession, vecs: Long): DataFrame = {
    import spark.implicits._
    val parts = math.max(32, (vecs / 50000L).toInt)
    val dim = Dim
    val clusters = Clusters
    spark.range(0, vecs, 1, parts)
      .map { id =>
        val cluster = (splitmix(id) >>> 33).toInt % clusters
        val cr = new Rng(cluster * 1099511628211L)
        val center = Array.fill(dim)(cr.nextGauss())
        val norm = math.sqrt(center.map(x => x * x).sum)
        val r = new Rng(id * 0x5851f42d4c957f2dL + 11)
        // per-dim noise 0.05 → noise-vector norm ≈ 0.05*sqrt(64) = 0.4 vs
        // the unit center: intra-cluster cosine ≈ 0.93, cross-cluster ≈ 0
        // (random unit centers in 64-d are near-orthogonal) — real cluster
        // structure, not labels painted on noise
        val v = Array.tabulate(dim)(i => (center(i) / norm + 0.05 * r.nextGauss()).toFloat)
        (id, v, cluster)
      }
      .toDF("vec_id", "embedding", "cluster")
  }

  /** Generate-once into the scale's directory; register `pipeline_documents`
    * and `pipeline_embeddings` temp views over the parquet. */
  def ensure(spark: SparkSession, scale: Int): Unit = synchronized {
    val dir = dirFor(scale)
    if (!new File(s"$dir/documents/_SUCCESS").exists()) {
      genDocuments(spark, docsFor(scale))
        .repartition(8 * scale).write.mode("overwrite").parquet(s"$dir/documents")
      genEmbeddings(spark, vecsFor(scale))
        .repartition(8 * scale).write.mode("overwrite").parquet(s"$dir/embeddings")
    }
    spark.read.parquet(s"$dir/documents").createOrReplaceTempView("pipeline_documents")
    spark.read.parquet(s"$dir/embeddings").createOrReplaceTempView("pipeline_embeddings")
  }
}
