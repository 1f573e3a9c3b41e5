package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.similarity.Similarity

/** The training-data pipeline: MinHash near-duplicate detection over
  * documents with planted near-duplicate pairs (full pass, and the
  * incremental band-index loop), and IVF ANN over clustered vectors
  * (build + drifted append, indexed query, in-job IVF, exact brute
  * force). Every pass's outputs are verified outside the timed calls. */
final class CorpusPipeline extends Workload {
  private val Docs = 2000L
  private val Increments = 1
  private val IncrementShare = 0.2
  private val Vectors = 8000L
  private val DriftVectors = 1000L
  private val Clusters = 128
  private val HotClusters = 16
  private val Queries = 100L
  private val K = 10
  private val Threshold = 0.7
  /** Failure floors: a pass whose recall falls below these is wrong. */
  private val MinDedupRecall = 0.99
  private val MinAnnRecall = 0.99
  /** Timed passes a run must hold, so that each figure is a median. */
  private val MinPasses = 2

  private val (nlist, nprobe) = Similarity.ivfParamsFor(Vectors + DriftVectors)
  private val table = "perfbench_ivf"

  private var dir: String = _
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  // ground truth, computed once on the driver in `check`
  private var plantedTruth: Set[(Long, Long)] = _
  private var texts: Map[Long, String] = _
  private var parts: Map[Long, Int] = _
  private var candidatePairs = 0L

  private def docs(b: Bench): DataFrame = b.spark.read.parquet(s"$dir/documents")
  private def baseVecs(b: Bench): DataFrame = b.spark.read.parquet(s"$dir/vectors")
  private def drift(b: Bench): DataFrame = b.spark.read.parquet(s"$dir/drift")
  private def allVecs(b: Bench): DataFrame = baseVecs(b).unionByName(drift(b))
  private def queries(b: Bench): DataFrame = b.spark.read.parquet(s"$dir/queries")

  override def setup(b: Bench): Unit = {
    val spark = b.spark
    dir = s"${b.work}/corpus"
    Inputs.documents(spark, b.seed, Docs, Increments, IncrementShare)
      .write.mode("overwrite").parquet(s"$dir/documents")
    Inputs.baseVectors(spark, b.seed, Vectors, Clusters).write.mode("overwrite").parquet(s"$dir/vectors")
    Inputs.driftVectors(spark, b.seed, Vectors, DriftVectors, HotClusters)
      .write.mode("overwrite").parquet(s"$dir/drift")
    Inputs.queryVectors(spark, b.seed, Vectors + DriftVectors, Queries, Clusters)
      .write.mode("overwrite").parquet(s"$dir/queries")
  }

  /** Character 5-gram set of the text, normalized as charShingleHashes
    * normalizes it (trim, collapse whitespace, lower case). */
  private def shingles(t: String): Set[String] = {
    val n = t.trim.replaceAll("\\s+", " ").toLowerCase
    (0 to n.length - 5).map(i => n.substring(i, i + 5)).toSet
  }

  private def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (shingles(texts(a)), shingles(texts(b)))
    (x & y).size.toDouble / (x | y).size
  }

  override def check(b: Bench): Unit = {
    val rows = docs(b).select("doc_id", "text", "part").collect()
    texts = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    parts = rows.map(r => r.getLong(0) -> r.getInt(2)).toMap
    plantedTruth = texts.keys.filter(_ % 10 == 9).map(id => (id - 1, id))
      .filter { case (a, c) => jaccard(a, c) > Threshold }.toSet
    // the candidate count is a per-layer figure: a traced run pays for it
    if (b.traced)
      candidatePairs = Dedup.minhashCandidatePairs(docs(b), "doc_id", "text", 5, 200, 50, 1000, 2).count()
    pass(b)
  }

  override def pass(b: Bench): Unit = {
    val spark = b.spark
    val s = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val info = mutable.LinkedHashMap.empty[String, Any]
    def call[T](key: String, span: String)(body: => T): Option[T] = {
      val t0 = Main.now()
      val r = b.op(key)(b.span(span)(body))
      s(key) += Main.secondsSince(t0)
      r
    }
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // dedup: the full read
    val d = docs(b).select("doc_id", "text")
    val full = call("dedup_full", "dedup.full")(
      pairs(Dedup.minhashNearDups(d, "doc_id", "text", Threshold).select("id_a", "id_b")))
    // the bands alone feed a per-layer figure: a traced run pays for them
    if (b.traced) call("minhash_bands", "plans.minhash")(
      Dedup.minhashBands(d, "doc_id", "text", 5, 200, 50).write.format("noop").mode("overwrite").save())
    full.foreach { f =>
      val found = plantedTruth.count(f)
      val recall = if (plantedTruth.isEmpty) 1.0 else found.toDouble / plantedTruth.size
      val below = f.count { case (x, y) => jaccard(x, y) <= Threshold - 1e-6 }
      info ++= Seq("verified_pairs" -> f.size, "planted_truth" -> plantedTruth.size,
        "planted_found" -> found, "dedup_recall" -> recall, "pairs_below_threshold" -> below)
      if (recall < MinDedupRecall) b.fail(s"dedup recall $recall < $MinDedupRecall")
      if (below > 0) b.fail(s"dedup: $below reported pairs at or below the threshold")
    }

    // dedup: the incremental loop, base index then each increment
    def persisted(i: Dedup.BandIndex): Dedup.BandIndex = {
      i.bands.persist(); i.shingles.persist()
      i.bands.count(); i.shingles.count()
      i
    }
    def release(i: Dedup.BandIndex): Unit = { i.bands.unpersist(); i.shingles.unpersist() }
    val dp = docs(b)
    var index = call("index_build", "dedup.index_build")(persisted(Dedup.buildBandIndex(
      dp.filter(col("part") === 0).select("doc_id", "text"), "doc_id", "text")))
    val incremental = mutable.Set.empty[(Long, Long)]
    (1 to Increments).foreach { k =>
      val inc = dp.filter(col("part") === k).select("doc_id", "text")
      index.foreach { i =>
        call("against_index", "dedup.against_index")(pairs(Dedup.minhashNearDupsAgainstIndex(
          inc, i, "doc_id", "text", Threshold).select("new_id", "corpus_id"))).foreach(incremental ++= _)
        index = call("append", "dedup.append")(persisted(Dedup.appendToBandIndex(i, inc, "doc_id", "text")))
        release(i)
      }
    }
    index.foreach { i =>
      info("index_band_rows") = i.bands.count()
      release(i)
    }
    full.foreach { f =>
      // the incremental pairs are the full pass restricted to new × old
      val expected = f.collect {
        case (x, y) if parts(x) != parts(y) =>
          if (parts(x) > parts(y)) (x, y) else (y, x)
      }
      if (index.isDefined && expected != incremental.toSet)
        b.fail(s"incremental dedup: ${(incremental.toSet -- expected).size} extra, " +
          s"${(expected -- incremental.toSet).size} missing pairs")
      info("incremental_pairs") = incremental.size
    }

    // ANN: build + drifted append, indexed query, in-job IVF, exact
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val centers = call("ivf_build", "similarity.build")(
      Similarity.buildIvfIndex(baseVecs(b), "vec_id", "embedding", table, nlist))
    centers.foreach { c =>
      call("ivf_append", "similarity.append")(
        Similarity.appendToIvfIndex(table, c, drift(b), "vec_id", "embedding"))
      info("cell_skew") = Similarity.ivfCellSkew(spark, table)
    }
    def topk(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "nn_id").collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val indexed = centers.flatMap(c => call("ann_query", "similarity.query")(topk(
      Similarity.ivfTopKIndexed(spark, table, c, queries(b), "vec_id", "embedding", K, nprobe))))
    val ivf = call("ann_ivf", "similarity.ivf")(topk(
      Similarity.ivfTopK(allVecs(b), queries(b), "vec_id", "embedding", K, nlist, nprobe)))
    val exact = call("ann_exact", "similarity.exact")(topk(
      Similarity.bruteForceTopK(allVecs(b), queries(b), "vec_id", "embedding", K)))
    spark.sql(s"DROP TABLE IF EXISTS $table")
    exact.foreach { e =>
      val total = e.values.map(_.size).sum
      def recall(a: Map[Long, Set[Long]]): Double =
        e.map { case (q, nn) => (nn & a.getOrElse(q, Set.empty)).size }.sum.toDouble / total
      if (total != Queries * K) b.fail(s"exact top-$K returned $total neighbours")
      Seq("ann_recall_at_10" -> indexed, "ivf_recall_at_10" -> ivf).foreach {
        case (key, Some(a)) =>
          val r = recall(a)
          info(key) = r
          if (r < MinAnnRecall) b.fail(s"$key $r < $MinAnnRecall")
        case _ =>
      }
    }
    passes += Map("stage_s" -> s.toMap, "info" -> info.toMap)
  }

  override def enough: Boolean = passes.size >= MinPasses

  override def samples: Map[String, Any] = Map(
    "docs" -> Docs, "increment_docs" -> parts.count(_._2 > 0), "vectors" -> Vectors,
    "drift_vectors" -> DriftVectors, "queries" -> Queries, "nlist" -> nlist, "nprobe" -> nprobe,
    "candidate_pairs" -> candidatePairs, "passes" -> passes.toSeq)

  override def reset(b: Bench): Unit = passes.clear()
}
