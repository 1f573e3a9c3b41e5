package graft.similarity

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
import graft.functions._

/** One scored candidate; public so encoder codegen can reach it. */
case class Scored[T](sim: Double, id: T)

/** Bounded top-k accumulator: keeps at most k (sim desc, id asc) entries.
  * Registered via `functions.udaf`, so Spark runs it as a partial+final
  * ObjectHashAggregate — each map task retains only k rows per query and
  * the final merge is k-sized. This is the scale-correct replacement for
  * `Window.partitionBy(query)` ranking, which ships EVERY scored candidate
  * for a query to a single task. Instantiated at Long (integral corpus
  * ids) or String (uuid/string ids). */
private[similarity] class TopKAgg[T: TypeTag](k: Int)(implicit idOrd: Ordering[T])
    extends Aggregator[Scored[T], Seq[Scored[T]], Seq[Scored[T]]] {
  private val ord: Ordering[Scored[T]] =
    Ordering.by((s: Scored[T]) => (-s.sim, s.id))
  override def zero: Seq[Scored[T]] = Nil
  override def reduce(b: Seq[Scored[T]], a: Scored[T]): Seq[Scored[T]] =
    if (b.lengthCompare(k) >= 0 && ord.gteq(a, b.last)) b // a ranks at/after the kth
    else ((a +: b).sorted(ord)).take(k)
  override def merge(b1: Seq[Scored[T]], b2: Seq[Scored[T]]): Seq[Scored[T]] =
    (b1 ++ b2).sorted(ord).take(k)
  override def finish(r: Seq[Scored[T]]): Seq[Scored[T]] = r
  override def bufferEncoder: Encoder[Seq[Scored[T]]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[Scored[T]]] = ExpressionEncoder()
}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers, per the usual scale playbook:
  *  - `bruteForceTopK`: exact. Broadcast the (small) query set against the
  *    corpus — one scan, no corpus shuffle, a bounded top-k accumulator
  *    (partial ObjectHashAggregate) per partition, then a k-sized final
  *    merge per query. Right answer up to ~10^4 queries × any corpus size.
  *  - `lshTopK`: sub-linear scale path. Random-hyperplane signatures bucket
  *    the corpus (IVF-style coarse quantization with Hamming probing would
  *    be the next refinement); only same-bucket candidates are scored.
  *    Recall < 1 by construction — the price of not scanning 100 TB per
  *    query.
  *
  * Vectors are cast float→double before arithmetic so scores are
  * reproducible across engines (and against the DuckDB oracle).
  */
object Similarity {

  /** Corpus-derived LSH granularity `(nBits, tables)` — the codified form
    * of the round-5 scale lesson (constants tuned for 2M vectors collapsed
    * at other sizes; index granularity must track the corpus).
    *
    * Per-table bucket population is `n / 2^nBits`; a query's candidate set
    * is `tables × n / 2^nBits`. Holding the bucket population near
    * `targetBucket` keeps per-query work bounded as the corpus grows:
    * `nBits = ceil(log2(n / targetBucket))`. Narrower buckets lower the
    * per-table collision probability for true neighbors (p^nBits), so
    * `tables` grows one-for-one with the extra bits to hold recall
    * (miss ≈ (1-p^nBits)^tables). At 2M vectors this derives exactly the
    * hand-tuned round-5 values (nBits=10, tables=12, recall@10 0.974);
    * the spec pins that anchor.
    */
  def lshParamsFor(corpusSize: Long, targetBucket: Long = 2000L): (Int, Int) = {
    require(corpusSize > 0 && targetBucket > 0)
    val raw = math.ceil(math.log(corpusSize.toDouble / targetBucket) / math.log(2.0)).toInt
    val nBits = math.min(20, math.max(4, raw))
    val tables = math.min(24, math.max(8, 8 + (nBits - 6)))
    (nBits, tables)
  }

  /** Multi-probe depth for the derived LSH index. Single-bucket probing
    * loses recall slowly as `nBits` grows past the 2M anchor (measured
    * recall@10: 0.974 at 2M/10 bits → 0.961 at 20M/14 bits, r6) because
    * longer signatures flip ≥1 bit for a true neighbor more often.
    * Probing 4 Hamming-1 neighbor buckets per table recovers the one-bit
    * misses for a bounded 5× candidate fanout on the QUERY side only
    * (the corpus index shuffle is untouched — see [[lshTopK]]). At and
    * below 12 bits the r5-tuned anchor behavior stays pinned (probes=0);
    * the spec pins both regimes. */
  def lshProbesFor(corpusSize: Long): Int = {
    val (nBits, _) = lshParamsFor(corpusSize)
    if (nBits <= 12) 0 else 4
  }

  /** Corpus-derived IVF granularity `(nlist, nprobe)`: the standard
    * `nlist ≈ sqrt(n)` rule (divided by 4 and rounded to a power of two so
    * the codebook stays small and bucket counts stay file-system friendly),
    * with `nprobe = nlist/16` clamped to [8, 32]. Cell population and
    * per-query candidates both grow ~sqrt(n) — the sub-linear scale path —
    * while probing enough cells to cover a cluster that the finer
    * quantizer has split. Derives the round-5 anchor (nlist=256,
    * nprobe=16) at 2M vectors; pinned in the spec. */
  def ivfParamsFor(corpusSize: Long): (Int, Int) = {
    require(corpusSize > 0)
    val target = math.sqrt(corpusSize.toDouble) / 4.0
    val log2 = math.round(math.log(math.max(1.0, target)) / math.log(2.0)).toInt
    val nlist = math.min(4096, math.max(16, 1 << math.max(0, log2)))
    val nprobe = math.min(32, math.max(8, nlist / 16))
    (nlist, nprobe)
  }

  /** Corpus-derived PQ rerank depth. ADC ranks candidates by a lossy
    * 8-byte code, so when the true neighbors sit in a near-tie band with
    * their cluster-mates (this corpus: cosine margins ~0.01, smaller than
    * the quantization noise) the shortlist must cover a FRACTION of the
    * probed candidates, not a constant count — measured at 200k vectors:
    * rerank=50 → recall@10 0.15, rerank=candidates/32 (≈400) → 0.996.
    * The fraction itself must grow with CELL DENSITY: nlist grows only
    * as √n, so cells at 20M vectors hold ~13× the near-ties of the 200k
    * tuning corpus and the same 1/32 fraction measured recall 0.592
    * there — the density term restores the tuned band coverage
    * (re-measured at 20M via tools/AnnTune). Exact re-scoring stays
    * linear in the shortlist and bounded far below brute force by the
    * cap. */
  def pqRerankFor(corpusSize: Long, nlist: Int, nprobe: Int, k: Int): Int = {
    val candidates = nprobe.toLong * corpusSize / math.max(nlist, 1)
    val cellPop = corpusSize / math.max(nlist, 1)
    val densityBoost = math.max(1.0, cellPop / 2000.0)
    math.min(candidates,
      math.min(250000L, math.max(20L * k,
        (candidates / 32 * densityBoost).toLong))).toInt
  }

  /** Sample fraction for the k-means fits: 10% of small corpora, capped
    * at ~200k absolute samples — cell boundaries stabilize far below
    * that, and an uncapped fraction makes the (only) multi-pass stage
    * scale linearly with the corpus. */
  def kmeansFractionFor(corpusSize: Long): Double =
    math.min(0.1, 200000.0 / math.max(corpusSize, 1L))

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix (outDim × inDim),
    * derived from md5 of "seed_i_j" (first hex digit < '8' → +1) so an
    * independent engine reproduces every entry closed-form. Computed once
    * driver-side — it rides the plan as a literal, never a shuffle. */
  def jlSigns(seed: Long, inDim: Int, outDim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim) { j =>
      Array.tabulate(inDim) { i =>
        val h = md.digest(s"${seed}_${i}_$j".getBytes("UTF-8"))
        if (((h(0) >> 4) & 0xf) < 8) 1.0 else -1.0
      }
    }
  }

  /** Random-projection (Achlioptas ±1 JL) dimensionality reduction:
    * `proj[j] = Σ_i v[i]·sign(i,j) / sqrt(outDim)`. Distances and inner
    * products are preserved in expectation (distortion ~ 1/√outDim), so
    * it runs AHEAD of the ANN index at 100 TB: a 1024-dim corpus projected
    * to 64 dims cuts every downstream signature/cell/ADC cost 16× while
    * the exact rerank still scores raw vectors. Pure scan-stage
    * (zip_with + aggregate over a literal matrix), zero shuffles,
    * codegen-resident. */
  def randomProject(df: DataFrame, vecCol: String, outDim: Int,
      seed: Long = 42L, outCol: String = "proj"): DataFrame = {
    val inDim = df.select(size(col(vecCol))).head().getInt(0)
    val signs = jlSigns(seed, inDim, outDim)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val v = col(vecCol).cast("array<double>")
    df.withColumn(outCol, array((0 until outDim).map { j =>
      aggregate(zip_with(v, lit(signs(j)), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x) * scale
    }: _*))
  }

  /** Symmetric int8 scalar quantization of an embedding column: per-vector
    * scale = max|x|/127, codes = round(x·127/max|x|) — 4× smaller than
    * float32 at ~1e-4 cosine error on unit-ish vectors. At 100 TB this is
    * the storage tier the ANN index actually reads (a 20 TB float corpus
    * becomes 5 TB of codes + one float per vector); exact rerank reads the
    * raw column for the shortlist only. Pure scan-stage `transform`
    * arithmetic, zero shuffles, codegen-resident. Zero vectors quantize to
    * all-zero codes with scale 0. */
  def quantizeInt8(df: DataFrame, vecCol: String, qCol: String = "qvec",
      scaleCol: String = "qscale"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val maxAbs = array_max(transform(v, x => abs(x)))
    df.withColumn(scaleCol, maxAbs / 127.0)
      .withColumn(qCol,
        when(col(scaleCol) === 0.0,
          transform(v, _ => lit(0).cast("tinyint")))
        .otherwise(
          transform(v, x => round(x * 127.0 / maxAbs).cast("tinyint"))))
  }

  /** Inverse of [[quantizeInt8]]: codes × scale, as array<double>. */
  def dequantizeInt8(qCol: String, scaleCol: String): Column =
    transform(col(qCol), x => x.cast("double") * col(scaleCol))

  /** Final ranking stage shared by all tiers: per-partition bounded-heap
    * partial top-k (TopKAgg) then a k-sized merge per query — no stage ever
    * materializes a query's full candidate set on one task. Expects columns
    * (query_id, nn_id, sim); emits (query_id, rnk, nn_id, sim) with nn_id
    * restored to its original type. */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    // Two regimes by k. Small k (true top-k): bounded-heap partial
    // aggregation — shuffle traffic is groups × partitions × k, never the
    // candidate stream. Large k (PQ rerank shortlists, k in the 10^5
    // band): the heap inverts — its partials OUTGROW the raw stream and
    // each insert re-sorts a k-sized Seq (measured: the ~190k-deep
    // shortlist at 20M vectors spent ~10 min here). One hash shuffle on
    // query_id + a Tungsten sort per query is strictly cheaper there.
    // Same ranking contract both paths: sim desc, nn_id asc on ties.
    if (k > 4096) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("sim").desc, col("nn_id").asc)
      return scored.withColumn("rnk", row_number().over(w).cast("int"))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("rnk"), col("nn_id"), col("sim"))
    }
    val idType = scored.schema("nn_id").dataType
    // the heap carries ids as Long (integral) or String (uuid/string);
    // any other id type would cast lossily and null every candidate, so
    // reject it up front
    val (topk, heapType) = idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        (udaf(new TopKAgg[Long](k)), "long")
      case StringType => (udaf(new TopKAgg[String](k)), "string")
      case t => throw new IllegalArgumentException(
        s"similarity top-k requires an integral or string id column; got $t " +
          "for nn_id — map other id types to a long or string surrogate key")
    }
    scored
      .select(col("query_id"), col("sim"), col("nn_id").cast(heapType).as("id"))
      .groupBy("query_id")
      .agg(topk(col("sim"), col("id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rnk"),
        col("col.id").cast(idType).as("nn_id"), col("col.sim").as("sim"))
  }

  /** Query-count bound for the [[bruteForceTopK]] partition kernel: the
    * query matrix is driver-collected (it was driver-held before too — the
    * crossJoin broadcast collects it), 64k × 64-dim doubles ≈ 32 MB. */
  private[similarity] val MaxKernelQueries = 65536

  /** Spark's `round(double, scale)` semantics exactly (RoundBase, HALF_UP):
    * NaN/Infinity pass through, else BigDecimal.valueOf → setScale →
    * doubleValue. The kernel must round BEFORE its heap compares, because
    * ranking (and the id tie-break) is defined on the ROUNDED score. */
  private[graft] def roundHalfUp(x: Double, scale: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Exact top-k neighbors for each query vector (cosine). Excludes
    * self-matches on id equality. Scores rounded to `roundTo` decimals
    * before ranking so ordering is reproducible; ties broken by corpus id.
    *
    * Execution: for integral ids (every corpus here) a PARTITION KERNEL —
    * one pass over the corpus scan that deserializes each vector ONCE,
    * scores it against the driver-collected query matrix in a primitive
    * loop (corpus norm computed once per row, query norms precomputed),
    * and keeps a bounded per-query heap per partition; only
    * partitions × queries × k partial rows reach the final k-sized merge
    * ([[rankTopK]]). The previous crossJoin formulation materialized one
    * joined row PER (query, corpus) PAIR — at 20M × 48 that is ~1B
    * UnsafeRow copies each carrying both 512-byte vectors, plus a
    * per-pair ObjectHashAggregate encoder conversion; the arithmetic
    * (CosineSim's fused i-ascending loop, HALF_UP rounding, heap order
    * sim desc / id asc) is replicated operation-for-operation, so results
    * are bit-identical (spec-pinned). String ids / k > 4096 / > 64k
    * queries keep the crossJoin form. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, roundTo: Int = 4): DataFrame = {
    val idType = corpus.select(col(idCol)).schema.head.dataType
    val integral = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (integral && k <= 4096) {
      // bounded driver collect — the crossJoin broadcast held the same
      // rows on the driver; cap + fallback instead of a hard require
      val qRows = queries
        .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
        .limit(MaxKernelQueries + 1).collect()
      if (qRows.length <= MaxKernelQueries) {
        val qOk = qRows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        val qIds = qOk.map(_.getLong(0))
        val qVecs = qOk.map(_.getSeq[Double](1).toArray)
        return bruteForceKernel(corpus, idCol, vecCol, idType,
          qIds, qVecs, k, roundTo)
      }
    }
    val scored = vectors(corpus, idCol, vecCol)
      .crossJoin(broadcast(queryVectors(queries, idCol, vecCol)))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round(cosineSim(col("qv"), col("cv")), roundTo))
    rankTopK(scored, k)
  }

  /** The brute-force partition kernel (see [[bruteForceTopK]]). Emits the
    * per-partition per-query top-k partials and merges them through the
    * same [[rankTopK]] heap the crossJoin path used — any global top-k
    * candidate is in its partition's top-k, and rounded-tie candidates
    * are kept/dropped by the identical (sim desc, id asc) order, so the
    * merge sees exactly the rows that decide the old result. */
  private def bruteForceKernel(corpus: DataFrame, idCol: String,
      vecCol: String, idType: org.apache.spark.sql.types.DataType,
      qIds: Array[Long], qVecs: Array[Array[Double]], k: Int,
      roundTo: Int): DataFrame = {
    val spark = corpus.sparkSession
    val nq = qIds.length
    // sqrt of each query's full-length norm — CosineSim's nb accumulates
    // y*y in ascending index order over ALL query elements; replicated here
    val qSqrtNorms = qVecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    val rt = roundTo
    // Raw-score prefilter margin: HALF_UP inclusion at scale s needs
    // x ≥ R − 0.5·10⁻ˢ (positive R) / > (negative R); 0.6·10⁻ˢ covers both
    // signs plus fp slop, so a candidate below (kth − margin) provably
    // rounds strictly under the kth rounded score and can skip the
    // BigDecimal rounding entirely — which otherwise runs per scored pair
    // (~1B allocations at 20M × 48).
    val margin = 0.6 * math.pow(10.0, -rt)
    val narrowed = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
    val partials = narrowed.queryExecution.toRdd.mapPartitions { it =>
      // per-query bounded heaps: parallel arrays sorted (sim desc, id asc)
      val sims = Array.ofDim[Double](nq, k)
      val ids = Array.ofDim[Long](nq, k)
      val sizes = new Array[Int](nq)
      while (it.hasNext) {
        val row = it.next()
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val id = row.getLong(0)
          val v = row.getArray(1).toDoubleArray()
          val n = v.length
          var na = 0.0
          var i = 0
          while (i < n) { na += v(i) * v(i); i += 1 }
          val sqna = math.sqrt(na)
          var qi = 0
          while (qi < nq) {
            if (qIds(qi) != id) {
              val qv = qVecs(qi)
              val lim = if (qv.length < n) qv.length else n
              var dot = 0.0
              i = 0
              while (i < lim) { dot += qv(i) * v(i); i += 1 }
              val denom = qSqrtNorms(qi) * sqna
              val raw = if (denom == 0.0) 0.0 else dot / denom
              val sz = sizes(qi)
              val hs = sims(qi); val hd = ids(qi)
              // fast path: a full heap whose kth ROUNDED score provably
              // exceeds round(raw) — skip the BigDecimal rounding
              if (sz == k && raw < hs(k - 1) - margin) { /* skip */ }
              else {
              val sim = roundHalfUp(raw, rt)
              // better-than-last test mirrors TopKAgg.reduce's gteq skip
              if (sz < k || sim > hs(sz - 1) ||
                  (sim == hs(sz - 1) && id < hd(sz - 1))) {
                var pos = if (sz < k) sz else k - 1
                while (pos > 0 && (sim > hs(pos - 1) ||
                    (sim == hs(pos - 1) && id < hd(pos - 1)))) {
                  hs(pos) = hs(pos - 1); hd(pos) = hd(pos - 1); pos -= 1
                }
                hs(pos) = sim; hd(pos) = id
                if (sz < k) sizes(qi) = sz + 1
              }
              }
            }
            qi += 1
          }
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      var qi = 0
      while (qi < nq) {
        var p = 0
        while (p < sizes(qi)) {
          out += org.apache.spark.sql.Row(qIds(qi), ids(qi)(p), sims(qi)(p))
          p += 1
        }
        qi += 1
      }
      out.iterator
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", LongType),
      org.apache.spark.sql.types.StructField("nn_id", LongType),
      org.apache.spark.sql.types.StructField("sim", org.apache.spark.sql.types.DoubleType)))
    val merged = rankTopK(spark.createDataFrame(partials, schema), k)
    merged.select(col("query_id").cast(idType).as("query_id"), col("rnk"),
      col("nn_id").cast(idType).as("nn_id"), col("sim"))
  }

  /** Multi-table hyperplane signatures: one row per (table, vector) with
    * the table's `nBits`-bit signature; table t uses hyperplanes seeded
    * from t*nBits onward, so tables are independent. All tables' bits are
    * computed in ONE native codegen'd pass over the vector
    * (graft.plans.HyperplaneSignatures). */
  private def signatures(df: DataFrame, idName: String, vecName: String,
      nBits: Int, tables: Int): DataFrame =
    df.select(col(idName), col(vecName),
      posexplode(hyperplaneSignatures(col(vecName), nBits, tables)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "sig")

  /** Bounded k-means training set: a deterministic `fraction` sample of
    * the corpus (the fit is the only multi-pass stage of IVF — sampling it
    * cuts index-build time ~1/fraction with unchanged assignment cost and
    * near-identical cell boundaries). Falls back to the full corpus when
    * the sample would be too thin to seed `nlist` clusters. */
  private def kmeansTrainSet(c: DataFrame, nlist: Int, seed: Long,
      fraction: Double): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val full = c.select(array_to_vector(col("cv")).as("features"))
    if (fraction >= 1.0) return full
    val sampled = full.sample(withReplacement = false, fraction, seed)
    // one cheap count on the sample vs maxIter full passes saved
    if (sampled.count() >= nlist.toLong * 10) sampled else full
  }

  /** Row cap for the driver-local k-means path: 500k × 64-dim doubles is
    * ~256 MB of sample on the driver — the same bounded-collect envelope
    * as the BPE local trainer (dict ≤ 2M rows). `kmeansFractionFor` caps
    * samples at ~200k rows, so every corpus-derived fit stays local; an
    * explicit trainFraction that collects more falls back to Spark ML. */
  private[graft] val MaxLocalKMeansRows = 500000

  /** Collect the deterministic training sample for a driver-local fit, or
    * None when it exceeds [[MaxLocalKMeansRows]] (→ Spark ML fallback).
    * Mirrors [[kmeansTrainSet]]'s thin-sample rule: a sample below
    * `minRows` falls back to the full corpus (tiny gate tables), which in
    * turn must itself fit the cap. Expects a single array<double> column.
    *
    * Determinism is CONTENT-addressed, not partition-addressed (r7 advice:
    * the fitted codebooks must not drift with repartitioning across
    * sessions, or appended-index codes diverge from their codebooks):
    * membership comes from a murmur3 hash of the vector value (a
    * per-partition Bernoulli `sample()` moves with the partitioning), and
    * the collected order is pinned by a global sort-limit
    * (TakeOrderedAndProject) instead of first-arrival `limit()`. */
  private[graft] def collectSample(cv: DataFrame, minRows: Long, seed: Long,
      fraction: Double): Option[Array[Array[Double]]] = {
    val c0 = col(cv.columns.head)
    def grab(df: DataFrame): Option[Array[Array[Double]]] = {
      val rows = df.sort(c0).limit(MaxLocalKMeansRows + 1).collect()
      if (rows.length > MaxLocalKMeansRows) None
      else Some(rows.map(_.getSeq[Double](0).toArray))
    }
    val sampled = if (fraction >= 1.0) cv
      else cv.filter(pmod(hash(c0, lit(seed)), lit(1000000)) < lit(
        math.max(1L, math.round(fraction * 1000000))))
    grab(sampled) match {
      case Some(s) if s.length < minRows && fraction < 1.0 => grab(cv)
      case other => other
    }
  }

  /** Driver-local parallel Lloyd over a bounded collected sample —
    * k-means++ seeding (deterministic under `seed`), `maxIter` update
    * rounds, assignment chunks fanned across driver cores with per-chunk
    * partial sums merged in chunk order (deterministic floating point).
    * Replaces Spark ML fits for the IVF/PQ codebooks: the fit input is
    * already a bounded sample (see [[kmeansFractionFor]]), so a local fit
    * does the identical math without per-iteration Spark jobs — and,
    * decisively at 20M vectors, without ONE FULL CORPUS SCAN PER FIT to
    * re-materialize the sample (IVF-PQ fits 9 codebooks = 9 scans on the
    * Spark ML path, 1 on this one). Same structure as the BPE trainer's
    * local/distributed split. Empty clusters keep their previous center. */
  private[graft] def localKMeans(points: Array[Array[Double]], k: Int,
      maxIter: Int, seed: Long): Array[Array[Double]] = {
    val n = points.length
    require(n > 0, "localKMeans needs a non-empty sample")
    val dim = points(0).length
    val kk = math.max(1, math.min(k, n))
    val flat = new Array[Double](kk * dim)
    // fixed chunk count (NOT availableProcessors): per-chunk partials merge
    // in chunk order, so the chunk GEOMETRY is part of the floating-point
    // result — a core-count-derived value made the fit machine-dependent
    val nChunks = math.max(1, math.min(16, n / 4096))
    def chunked(body: (Int, Int) => Unit): Unit =
      if (nChunks <= 1) body(0, n)
      else java.util.stream.IntStream.range(0, nChunks).parallel().forEach { ch =>
        body((ch.toLong * n / nChunks).toInt, ((ch + 1).toLong * n / nChunks).toInt)
      }
    // k-means++ seeding: D² to the nearest chosen center, next center
    // drawn ∝ D² (the rnd stream is consumed sequentially → deterministic)
    val rnd = new java.util.Random(seed)
    System.arraycopy(points(rnd.nextInt(n)), 0, flat, 0, dim)
    val d2 = Array.fill(n)(Double.MaxValue)
    var ci = 1
    while (ci < kk) {
      val lastOff = (ci - 1) * dim
      chunked { (lo, hi) =>
        var i = lo
        while (i < hi) {
          val p = points(i); var s = 0.0; var j = 0
          while (j < dim && s < d2(i)) { val t = p(j) - flat(lastOff + j); s += t * t; j += 1 }
          if (s < d2(i)) d2(i) = s
          i += 1
        }
      }
      var total = 0.0; var ti = 0
      while (ti < n) { total += d2(ti); ti += 1 }
      val pick =
        if (total <= 0) rnd.nextInt(n)
        else {
          val r = rnd.nextDouble() * total
          var acc = 0.0; var p2 = 0
          while (p2 < n - 1 && { acc += d2(p2); acc < r }) p2 += 1
          p2
        }
      System.arraycopy(points(pick), 0, flat, ci * dim, dim)
      ci += 1
    }
    // Lloyd rounds: nearest center (partial-distance exit), per-chunk sums
    val partSums = Array.ofDim[Double](nChunks, kk * dim)
    val partCnt = Array.ofDim[Long](nChunks, kk)
    var iter = 0
    while (iter < maxIter) {
      var z = 0
      while (z < nChunks) {
        java.util.Arrays.fill(partSums(z), 0.0)
        java.util.Arrays.fill(partCnt(z), 0L)
        z += 1
      }
      if (nChunks <= 1) lloydChunk(points, flat, kk, dim, 0, n, partSums(0), partCnt(0))
      else java.util.stream.IntStream.range(0, nChunks).parallel().forEach { ch =>
        lloydChunk(points, flat, kk, dim,
          (ch.toLong * n / nChunks).toInt, ((ch + 1).toLong * n / nChunks).toInt,
          partSums(ch), partCnt(ch))
      }
      val sums = new Array[Double](kk * dim)
      val cnt = new Array[Long](kk)
      z = 0
      while (z < nChunks) {
        val ps = partSums(z); val pc = partCnt(z)
        var a = 0
        while (a < kk * dim) { sums(a) += ps(a); a += 1 }
        a = 0
        while (a < kk) { cnt(a) += pc(a); a += 1 }
        z += 1
      }
      var c = 0
      while (c < kk) {
        if (cnt(c) > 0) {
          var j = 0
          while (j < dim) { flat(c * dim + j) = sums(c * dim + j) / cnt(c); j += 1 }
        }
        c += 1
      }
      iter += 1
    }
    Array.tabulate(kk)(c => java.util.Arrays.copyOfRange(flat, c * dim, (c + 1) * dim))
  }

  private def lloydChunk(points: Array[Array[Double]], flat: Array[Double],
      kk: Int, dim: Int, lo: Int, hi: Int,
      sums: Array[Double], cnt: Array[Long]): Unit = {
    var i = lo
    while (i < hi) {
      val p = points(i)
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < kk) {
        var off = c * dim; var s = 0.0; var j = 0
        while (j < dim && s < bd) { val t = flat(off) - p(j); s += t * t; j += 1; off += 1 }
        if (s < bd) { bd = s; best = c }
        c += 1
      }
      val bo = best * dim; var j2 = 0
      while (j2 < dim) { sums(bo + j2) += p(j2); j2 += 1 }
      cnt(best) += 1
      i += 1
    }
  }

  /** Fit a `k`-centroid codebook over the bounded training sample —
    * driver-local Lloyd when the sample fits [[MaxLocalKMeansRows]] (the
    * corpus-derived path always does), Spark ML k-means otherwise.
    * Expects `c` to carry the vector as array<double> column `cv`. */
  private[graft] def fitCenters(c: DataFrame, k: Int, seed: Long,
      maxIter: Int, fraction: Double): Array[Array[Double]] =
    collectSample(c.select(col("cv")), k.toLong * 10, seed, fraction) match {
      case Some(pts) => localKMeans(pts, k, maxIter, seed)
      case None =>
        import org.apache.spark.ml.clustering.KMeans
        new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
          .fit(kmeansTrainSet(c, k, seed, fraction))
          .clusterCenters.map(_.toArray)
    }

  // ---- IVF indexes: one core, two per-cell encodings ----------------------
  //
  // IVF (inverted-file) ANN: a k-means coarse codebook (`centers`, a few
  // KB, driver-held) routes every corpus vector to its nearest cell; a
  // query probes its `nprobe` nearest cells and scores only their rows,
  // then [[rankTopK]] merges a bounded top-k. With nprobe = nlist this is
  // exactly brute force over what the cells hold (IvfIndexSpec pins it).
  // Every public IVF / IVF-PQ entry point composes the same pieces:
  //  - fit: [[fitCenters]] (coarse only) or [[fitPq]] (coarse + m PQ
  //    codebooks, all from ONE bounded deterministic sample);
  //  - [[vectors]]: the (nn_id, cv) / (query_id, qv) projection;
  //  - [[writeCells]]: route, encode and write the cell-bucketed table —
  //    one bucket (= one file, via the cell repartition) per cell, counted
  //    as centers.length, never the requested nlist (a thin-sample fit can
  //    return fewer centers, and appends must match the build's spec);
  //  - [[cellScores]]: probe, gather the probed cells' rows (an in-job
  //    broadcast join against the routed corpus, or bucket-file seeks into
  //    a persisted table via graft.api.Lookup, which reads nprobe of the
  //    nlist files), score; [[rerankTopK]] ranks, optionally re-scoring
  //    the top-`rerank` shortlist exactly against raw vectors (IVFADC+R).
  // The one real difference is the per-cell [[Encoding]]:
  //  - raw vectors: a row stores `cv`; sim = cosine(qv, cv);
  //  - PQ codes (Jégou et al., TPAMI'11): a row stores m code bytes and
  //    its norm (~16 B instead of 256 B at m=8); each query builds one
  //    m×ksub lookup table of sub-space inner products and sim is the
  //    asymmetric-distance cosine pqAdc(codes, lut) / (qnorm·norm). PQ
  //    quantizes raw vectors, not cell residuals, so codes survive a coarse
  //    re-clustering; the index holds no raw vectors, so the PQ rerank and
  //    rebalance read them from a caller-given source.
  // Persisted layout: `<table>` bucketed by cell — (nn_id, cv, cell) raw,
  // (nn_id, cell, codes, norm) PQ — plus `<table>_codebooks` (kind, i, c,
  // v) for IVF-PQ. Appends
  // route new vectors with the existing codebook (cost ∝ increment, no
  // read of history); [[ivfCellSkew]] measures the drift that calls for a
  // rebalance, which refits the coarse codebook, rewrites the layout into
  // `_tmp` tables and swaps them in as ONE set through Bm25.swapTables'
  // rename-aside (the table being rebuilt is also the lazy scan source, so
  // overwriting it in place would be data loss). A crash at any step
  // leaves complete tables that Bm25.repairSwap turns into the whole
  // pre-state or the whole post-state — never new cells next to the old
  // coarse codebook; appends, rebalances and [[loadPqCodebooks]] repair
  // on entry, the query paths do not. Builds and rebalances return the
  // codebook; queries answer on whichever codebook they are handed.

  /** Nearest-centroid assignment over a driver-held codebook — the native
    * codegen'd graft.plans.NearestCentroid kernel (flat centers +
    * partial-distance early exit). */
  private[graft] def nearestCell(centers: Array[Array[Double]]): Column => Column =
    (c: Column) => nearestCentroid(c, centers)

  private type Books = Array[Array[Array[Double]]]

  /** What a cell row stores next to (nn_id, cell), the per-query columns
    * its score reads, and the score over a (query, row) pair. */
  private final case class Encoding(encode: DataFrame => DataFrame,
      queryCols: Seq[(String, Column)], sim: Column)

  private val RawVectors = Encoding(identity, Nil, cosineSim(col("qv"), col("cv")))

  private def pqCodes(books: Books): Encoding = {
    val m = books.length
    val ksub = books(0).length
    val dsub = books(0)(0).length
    val lut = udf { (qv: Seq[Double]) =>
      val t = new Array[Double](m * ksub)
      var j = 0
      while (j < m) {
        val cb = books(j); var c2 = 0
        while (c2 < cb.length) {
          var s = 0.0; var d = 0
          while (d < dsub) { s += qv(j * dsub + d) * cb(c2)(d); d += 1 }
          t(j * ksub + c2) = s; c2 += 1
        }
        j += 1
      }
      t
    }
    // native ADC reads the m addressed LUT entries off ArrayData in codegen
    Encoding(pqEncode(_, "nn_id", "cv", books, keepCols = Seq("cell")),
      Seq("lut" -> lut(col("qv")), "qnorm" -> l2Norm(col("qv"))),
      pqAdc(col("codes"), col("lut")) / (col("qnorm") * col("norm")))
  }

  private def l2Norm(v: Column): Column =
    sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))

  /** (nn_id, cv) — or (query_id, qv) — with the vector as array<double>. */
  private def vectors(df: DataFrame, idCol: String, vecCol: String,
      id: String = "nn_id", vec: String = "cv"): DataFrame =
    df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as(vec))

  private def queryVectors(queries: DataFrame, idCol: String, vecCol: String) =
    vectors(queries, idCol, vecCol, "query_id", "qv")

  /** Coarse + PQ codebooks from ONE sampling scan when the bounded sample
    * fits locally; the Spark ML fallback pays one corpus scan per fit. */
  private def fitPq(c: DataFrame, nlist: Int, m: Int, ksub: Int, seed: Long,
      maxIter: Int, fraction: Double): (Array[Array[Double]], Books) =
    collectSample(c.select(col("cv")), math.max(nlist, ksub).toLong * 10, seed,
        fraction) match {
      case Some(s) =>
        (localKMeans(s, nlist, maxIter, seed), pqTrainLocal(s, m, ksub, seed, maxIter))
      case None => (fitCenters(c, nlist, seed, maxIter, fraction),
        pqTrain(c, "cv", m, ksub, seed, maxIter, fraction))
    }

  /** (nn_id, cv, cell): each vector of `c` routed to its nearest cell. */
  private def routed(c: DataFrame, centers: Array[Array[Double]]): DataFrame =
    c.withColumn("cell", nearestCell(centers)(col("cv"))).select("nn_id", "cv", "cell")

  private def writeCells(c: DataFrame, centers: Array[Array[Double]],
      enc: Encoding, table: String, mode: String): Unit =
    enc.encode(routed(c, centers))
      .repartition(col("cell"))
      .write.mode(mode)
      .bucketBy(centers.length, "cell").sortBy("cell")
      .format("parquet").saveAsTable(table)

  /** (query_id, nn_id, sim) over the probed cells: `cells` is the (nn_id,
    * cv) corpus routed and encoded in-job, or a persisted table read by
    * bucket-file seeks. Each vector lives in exactly one cell, so no pair
    * repeats. */
  private def cellScores(cells: Either[DataFrame, (SparkSession, String)],
      centers: Array[Array[Double]], enc: Encoding, queries: DataFrame,
      idCol: String, vecCol: String, nprobe: Int): DataFrame = {
    val probeCells = udf { (v: Seq[Double]) =>
      centers.zipWithIndex.map { case (ctr, i) =>
        var s = 0.0; var j = 0
        while (j < ctr.length) { val d = ctr(j) - v(j); s += d * d; j += 1 }
        (s, i)
      }.sortBy(_._1).take(nprobe).map(_._2)
    }
    def probe(cellCol: String): DataFrame =
      enc.queryCols.foldLeft(queryVectors(queries, idCol, vecCol)) {
        case (q, (name, c)) => q.withColumn(name, c)
      }.withColumn(cellCol, explode(probeCells(col("qv"))))
    val pairs = cells match {
      case Left(c) => enc.encode(routed(c, centers)).join(broadcast(probe("cell")), Seq("cell"))
      case Right((spark, table)) =>
        graft.api.Lookup.lookupJoin(spark, probe("qcell"), table, "qcell", "cell")
    }
    simRows(pairs.filter(col("nn_id") =!= col("query_id")), enc.sim)
  }

  private def simRows(pairs: DataFrame, sim: Column): DataFrame =
    pairs.withColumn("sim", round(sim, 4)).select("query_id", "nn_id", "sim")

  /** Top-k of `scored`; with `rerank > 0`, the top-`rerank` shortlist is
    * re-scored exactly against `raw` (nn_id, cv) — one broadcast semi-join
    * back to the raw vectors, cost ∝ shortlist. */
  private def rerankTopK(scored: DataFrame, raw: => DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, rerank: Int): DataFrame =
    if (rerank <= 0) rankTopK(scored, k)
    else {
      val shortlist = rankTopK(scored, rerank).select("query_id", "nn_id")
      rankTopK(simRows(raw.join(broadcast(shortlist), Seq("nn_id"))
        .join(broadcast(queryVectors(queries, idCol, vecCol)), Seq("query_id")),
        RawVectors.sim), k)
    }

  /** IVF over raw vectors, fit and queried in one job. At 100 TB the fit
    * samples the corpus and assignment is a scan-stage map. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nlist: Int = 16,
      nprobe: Int = 4, seed: Long = 42L, maxIter: Int = 5,
      trainFraction: Double = 0.1): DataFrame = {
    val c = vectors(corpus, idCol, vecCol)
    val centers = fitCenters(c, nlist, seed, maxIter, trainFraction)
    rankTopK(cellScores(Left(c), centers, RawVectors, queries, idCol, vecCol, nprobe), k)
  }

  /** Persist a raw-vector IVF index; returns its coarse codebook. */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      table: String, nlist: Int = 16, seed: Long = 42L,
      maxIter: Int = 5, trainFraction: Double = 0.1): Array[Array[Double]] = {
    val c = vectors(corpus, idCol, vecCol)
    val centers = fitCenters(c, nlist, seed, maxIter, trainFraction)
    writeCells(c, centers, RawVectors, table, "overwrite")
    centers
  }

  /** Append new vectors to a persisted IVF index under its codebook. */
  def appendToIvfIndex(table: String, centers: Array[Array[Double]],
      newVecs: DataFrame, idCol: String, vecCol: String): Unit = {
    graft.text.Bm25.repairSwap(newVecs.sparkSession, Seq(table))
    writeCells(vectors(newVecs, idCol, vecCol), centers, RawVectors, table, "append")
  }

  /** Cell-population skew of a persisted IVF or IVF-PQ index (max/mean
    * cell population) — ONE narrow aggregation over the cell column; the
    * number a rebalance thresholds on. */
  def ivfCellSkew(spark: SparkSession, table: String): Double = {
    val r = spark.table(table).groupBy("cell").count()
      .agg(max(col("count")).cast("double"), avg(col("count")))
      .head()
    if (r.isNullAt(1) || r.getDouble(1) == 0.0) 0.0
    else r.getDouble(0) / r.getDouble(1)
  }

  /** Refit a persisted IVF index's codebook from its own vectors and
    * rewrite + swap the layout; returns the NEW codebook. */
  def rebalanceIvfIndex(spark: SparkSession,
      table: String, nlist: Int = 16, seed: Long = 42L, maxIter: Int = 5,
      trainFraction: Double = 0.1): Array[Array[Double]] =
    rewriteAndSwap(spark, table, None, spark.table(table).select(col("nn_id"), col("cv")),
      nlist, seed, maxIter, trainFraction)

  /** Query a persisted IVF index through bucket-file seeks. */
  def ivfTopKIndexed(spark: SparkSession, table: String,
      centers: Array[Array[Double]], queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 4): DataFrame =
    rankTopK(cellScores(Right((spark, table)), centers, RawVectors, queries,
      idCol, vecCol, nprobe), k)

  /** Product-quantization codebooks: `m` independent `ksub`-centroid
    * k-means fits over the vector's disjoint dim/m sub-spaces, trained on
    * the same deterministic sample as the coarse quantizer; shape m × ksub
    * × dim/m. */
  def pqTrain(corpus: DataFrame, vecCol: String, m: Int = 8,
      ksub: Int = 256, seed: Long = 42L, maxIter: Int = 5,
      trainFraction: Double = 0.1): Array[Array[Array[Double]]] = {
    val cv = corpus.select(col(vecCol).cast("array<double>").as("cv"))
    collectSample(cv, ksub.toLong * 10, seed, trainFraction) match {
      case Some(sample) => pqTrainLocal(sample, m, ksub, seed, maxIter)
      case None =>
        import org.apache.spark.ml.clustering.KMeans
        val dim = cv.select(size(col("cv"))).head().getInt(0)
        require(dim % m == 0, s"vector dim $dim must divide into m=$m subspaces")
        val dsub = dim / m
        Array.tabulate(m) { j =>
          val sub = cv.select(slice(col("cv"), j * dsub + 1, dsub).as("cv"))
          new KMeans().setK(ksub).setSeed(seed + j).setMaxIter(maxIter)
            .fit(kmeansTrainSet(sub, ksub, seed + j, trainFraction))
            .clusterCenters.map(_.toArray)
        }
    }
  }

  /** The m sub-space Lloyd fits over ONE collected sample — the sample's
    * full vectors are sliced per sub-space locally, so the 9-codebook
    * IVF-PQ build (coarse + m sub-spaces) costs one corpus sampling scan
    * total instead of one per fit. */
  private def pqTrainLocal(sample: Array[Array[Double]], m: Int, ksub: Int,
      seed: Long, maxIter: Int): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, "pqTrain needs a non-empty sample")
    val dim = sample(0).length
    require(dim % m == 0, s"vector dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      localKMeans(sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)),
        ksub, maxIter, seed + j)
    }
  }

  /** PQ-encode each vector: (nn_id, keepCols…, codes m-byte binary, norm),
    * through the native codegen'd graft.plans.PqEncodeCodes (strict <
    * keeps the first-best code on ties). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]],
      keepCols: Seq[String] = Nil): DataFrame =
    corpus.select((col(idCol).as("nn_id") +: keepCols.map(col)) ++ Seq(
      col(vecCol).cast("array<double>").as("cv")): _*)
      .select((col("nn_id") +: keepCols.map(col)) ++ Seq(
        pqEncodeCodes(col("cv"), codebooks).as("codes"),
        l2Norm(col("cv")).as("norm")): _*)

  /** IVF-PQ fit and queried in one job; `rerank > 0` re-scores the PQ
    * shortlist exactly against the corpus. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nlist: Int = 16,
      nprobe: Int = 4, m: Int = 8, ksub: Int = 256, rerank: Int = 0,
      seed: Long = 42L, maxIter: Int = 5,
      trainFraction: Double = 0.1): DataFrame = {
    val c = vectors(corpus, idCol, vecCol)
    val (centers, books) = fitPq(c, nlist, m, ksub, seed, maxIter, trainFraction)
    rerankTopK(cellScores(Left(c), centers, pqCodes(books), queries, idCol, vecCol, nprobe),
      c, queries, idCol, vecCol, k, rerank)
  }

  /** Approximate top-k via standard multi-table LSH: `tables` independent
    * `nBits`-bit signature tables; a corpus vector is a candidate if it
    * collides with the query in ANY table. Recall rises with `tables`,
    * cost with candidates-per-query (≈ tables × corpus / 2^nBits). */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nBits: Int = 6,
      tables: Int = 8, probes: Int = 0): DataFrame = {
    val c = signatures(vectors(corpus, idCol, vecCol), "nn_id", "cv", nBits, tables)
    val q0 = signatures(queryVectors(queries, idCol, vecCol), "query_id", "qv", nBits, tables)
    // Multi-probe (Lv et al., VLDB'07, bit-flip simplification): each query
    // additionally probes `probes` Hamming-1 neighbor buckets per table —
    // a near-threshold vector that lands one bit away is still found, so
    // the same recall needs ~probes× fewer tables. Only the QUERY side
    // fans out (queries are broadcast and tiny); the corpus index size and
    // its one shuffle are unchanged — that is the 100 TB win: index cost
    // is per-corpus-row, probe cost is per-query.
    val q =
      if (probes <= 0) q0
      else q0.withColumn("sig", explode(array(
        col("sig") +: (0 until math.min(probes, nBits)).map(b =>
          col("sig").bitwiseXOR(lit(1L << b))): _*)))
    // Score BEFORE the dedup exchange, then project to (query_id, nn_id,
    // sim): sim is a pure function of the pair, so dedup-then-score ≡
    // score-then-dedup row-for-row — but the dropDuplicates exchange used
    // to carry qv + cv (~1 KB/row, candidates × tables × probes rows);
    // narrowed it ships 24 B/row. A multi-collision candidate pays its
    // (cheap, codegen'd) cosine once per collision instead of once — the
    // native kernel is ~100 ns against the ~1 KB/row exchange it removes.
    val scored = c.join(broadcast(q), Seq("tbl", "sig"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", round(cosineSim(col("qv"), col("cv")), 4))
      .select("query_id", "nn_id", "sim")
      .dropDuplicates("query_id", "nn_id")
    rankTopK(scored, k)
  }

  private def pqTables(table: String): Seq[String] = Seq(table, s"${table}_codebooks")

  /** Persist the coarse + PQ codebooks as rows (kind, i, c, v):
    * ("coarse", 0, cellIdx, centroid) and ("pq", subspace, code, centroid). */
  private def saveCodebooks(spark: SparkSession, name: String,
      centers: Array[Array[Double]], books: Books): Unit = {
    import spark.implicits._
    val rows =
      centers.zipWithIndex.toSeq.map { case (v, ci) => ("coarse", 0, ci, v.toSeq) } ++
      books.zipWithIndex.toSeq.flatMap { case (book, j) =>
        book.zipWithIndex.toSeq.map { case (v, ci) => ("pq", j, ci, v.toSeq) } }
    rows.toDF("kind", "i", "c", "v").coalesce(1)
      .write.mode("overwrite").format("parquet").saveAsTable(name)
  }

  /** Reload the codebooks of a persisted IVF-PQ index. */
  def loadPqCodebooks(spark: SparkSession, table: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    graft.text.Bm25.repairSwap(spark, pqTables(table))
    import spark.implicits._
    val rows = spark.table(s"${table}_codebooks")
      .select(col("kind"), col("i"), col("c"), col("v"))
      .as[(String, Int, Int, Seq[Double])].collect()
    val centers = rows.filter(_._1 == "coarse").sortBy(_._3).map(_._4.toArray)
    val books = rows.filter(_._1 == "pq").groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (_, rs) => rs.sortBy(_._3).map(_._4.toArray) }.toArray
    (centers, books)
  }

  /** Persist an IVF-PQ index — (nn_id, cell, codes, norm), no raw vectors
    * — plus its codebooks table; returns (centers, books). */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      table: String, nlist: Int = 16, m: Int = 8, ksub: Int = 256,
      seed: Long = 42L, maxIter: Int = 5, trainFraction: Double = 0.1)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val c = vectors(corpus, idCol, vecCol)
    val (centers, books) = fitPq(c, nlist, m, ksub, seed, maxIter, trainFraction)
    writeCells(c, centers, pqCodes(books), table, "overwrite")
    saveCodebooks(c.sparkSession, s"${table}_codebooks", centers, books)
    (centers, books)
  }

  /** Append new vectors to a persisted IVF-PQ index under its codebooks. */
  def appendToIvfPqIndex(table: String, centers: Array[Array[Double]],
      books: Array[Array[Array[Double]]], newVecs: DataFrame,
      idCol: String, vecCol: String): Unit = {
    graft.text.Bm25.repairSwap(newVecs.sparkSession, pqTables(table))
    writeCells(vectors(newVecs, idCol, vecCol), centers, pqCodes(books), table, "append")
  }

  /** Refit the coarse codebook of a persisted IVF-PQ index from `source`
    * (the raw vectors the index does not hold), KEEP the PQ `books`, and
    * rewrite + swap the codes and codebooks tables as one set; returns
    * the NEW coarse codebook. */
  def rebalanceIvfPqIndex(spark: SparkSession,
      table: String, books: Array[Array[Array[Double]]], source: DataFrame,
      idCol: String, vecCol: String, nlist: Int = 16, seed: Long = 42L,
      maxIter: Int = 5, trainFraction: Double = 0.1): Array[Array[Double]] =
    rewriteAndSwap(spark, table, Some(books), vectors(source, idCol, vecCol),
      nlist, seed, maxIter, trainFraction)

  /** The shared rebalance: repair, refit the coarse codebook from `c`
    * (nn_id, cv) — read only after the repair — write `_tmp` tables, swap. */
  private def rewriteAndSwap(spark: SparkSession, table: String,
      books: Option[Books], c: => DataFrame, nlist: Int, seed: Long,
      maxIter: Int, fraction: Double): Array[Array[Double]] = {
    val tables = if (books.isDefined) pqTables(table) else Seq(table)
    graft.text.Bm25.repairSwap(spark, tables)
    val vecs = c
    val centers = fitCenters(vecs, nlist, seed, maxIter, fraction)
    tables.foreach(t => graft.text.Bm25.dropIndexTable(spark, s"${t}_tmp"))
    writeCells(vecs, centers, books.fold(RawVectors)(pqCodes), s"${table}_tmp", "overwrite")
    books.foreach(saveCodebooks(spark, s"${table}_codebooks_tmp", centers, _))
    graft.text.Bm25.swapTables(spark, tables)
    centers
  }

  /** Query a persisted IVF-PQ index through bucket-file seeks; `rerank >
    * 0` re-scores the shortlist exactly against `rerankFrom`, the
    * raw-vector source the index does not hold. */
  def ivfPqTopKIndexed(spark: SparkSession, table: String,
      centers: Array[Array[Double]], books: Array[Array[Array[Double]]],
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 4, rerank: Int = 0,
      rerankFrom: Option[DataFrame] = None): DataFrame =
    rerankTopK(cellScores(Right((spark, table)), centers, pqCodes(books), queries,
        idCol, vecCol, nprobe),
      vectors(rerankFrom.getOrElse(throw new IllegalArgumentException(
        "rerank > 0 needs rerankFrom — the raw-vector source the index does not hold")),
        idCol, vecCol),
      queries, idCol, vecCol, k, rerank)
}
