package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._

/** Document deduplication suite for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * All stages are declarative DataFrame transforms (no UDFs, no driver
  * loops), so the same code runs on 5k docs locally and 100 TB on a
  * cluster. Scale anatomy of the LSH path:
  *
  *   scan → shingle → signature            (no shuffle, computed in scan stage)
  *   → explode bands → shuffle on (band, hash)   (bucket sizes are ~uniform
  *                                          because band hashes are 64-bit)
  *   → per-bucket pair generation → shuffle on the pair (band-match count)
  *   → verify join (join-back on doc id to fetch shingle sets)
  *
  * The incremental path ([[minhashNearDupsAgainstIndex]]) aggregates only
  * the index band rows in buckets the increment touches and forms the
  * new×old pairs once: 7 jobs for a 400-document increment against a
  * persisted 1,600-document index (was 21).
  *
  * A hot bucket (thousands of identical docs) would quadratically blow up
  * pair generation — `maxBucketSize` caps it, mirroring the skip-huge-
  * cluster guard production dedup pipelines use.
  */
object Dedup {

  /** Exact dedup by content fingerprint (hash-groupBy): keeps the row with
    * the smallest `idCol` per normalized-text group. One shuffle on the
    * 16-hex-char fingerprint — at 100 TB this is the cheapest possible
    * exact dedup (fingerprint computed in the scan, map-side combine on). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", fingerprint64(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_dups"))

  /** Densified one-permutation MinHash signatures banded for LSH: one row
    * per (doc, band) with the band's hash — the join key for candidate
    * generation.
    *
    * The whole signature (k bucket minima + densification) is ONE native
    * codegen'd expression evaluated in the scan stage
    * (graft.plans.MinHashSignature): O(|doc| + k) per document, no string
    * re-hashing, no shuffle. Banding slices the signature into `bands`
    * groups of r values and hashes each — only narrow (id, band, band_hash)
    * rows ever reach an exchange, so at 100 TB the shuffle is
    * docs × bands × 20 bytes regardless of document length. */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    df.select(col(idCol).as("id"),
        minhashSignatureNative(col(textCol), shingleN, numHashes).as("sig"))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, slice(col("sig"), b * rows + 1, lit(rows))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
  }

  /** Candidate near-dup id pairs with their band-agreement count.
    *
    * Pair generation: one aggregate per bucket — the size cap and the
    * pairwise expansion both read the collected id list, so the banding
    * pipeline runs once (a self-join formulation would execute it per
    * side). The final groupBy counts HOW MANY band buckets each pair
    * shares: requiring `minBandMatches` ≥ 2 is a powerful prefilter —
    * a pair at the target similarity matches many of the b bands, while a
    * background-similarity pair that fluked one band almost never flukes
    * two (binomial tails on opposite sides) — it typically cuts candidate
    * volume by 100-1000× before any shingle-set verification. */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int,
      maxBucketSize: Int, minBandMatches: Int): DataFrame =
    minhashBands(df, idCol, textCol, shingleN, numHashes, bands)
      .groupBy("band", "band_hash")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucketSize)
      .select(col("ids"), posexplode(col("ids")))
      .select(col("col").as("id_a"),
        explode(slice(col("ids"), col("pos") + lit(2),
          greatest(size(col("ids")) - col("pos") - 1, lit(0)))).as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_band_matches"))
      .filter(col("n_band_matches") >= minBandMatches)

  /** Candidate pairs with both shingle-hash sets attached via a join-back
    * against the (id → shingles) projection — two narrow hash joins
    * instead of shingle payloads riding the band shuffle. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, numHashes: Int = 200, bands: Int = 50,
      maxBucketSize: Int = 1000, minBandMatches: Int = 2): DataFrame = {
    val pairs = minhashCandidatePairs(df, idCol, textCol, shingleN,
      numHashes, bands, maxBucketSize, minBandMatches)
    // Shingle ONLY docs that survive candidate generation: a left-semi
    // against the pair ids BEFORE computing shingle sets, then the
    // shingle projection runs post-join on survivors. Order matters at
    // scale — shingle sets are ~10x the text size (one long per distinct
    // character 5-gram), so attaching them corpus-wide would shuffle
    // ~100 GB at 10M docs where the survivor set is a few percent. The
    // duplicated `pairs` subtree stays single-scan: its exchanges (band
    // pipeline, pair aggregate, corpus-by-id) are identical subtrees and
    // Spark's exchange reuse materializes each once.
    def side(idName: String): DataFrame =
      df.select(col(idCol).as(idName), col(textCol).as("__t"))
        .join(pairs.select(idName), Seq(idName), "left_semi")
        .select(col(idName),
          charShingleHashes(col("__t"), shingleN).as(s"sh${idName.stripPrefix("id")}"))
    pairs.join(side("id_a"), "id_a").join(side("id_b"), "id_b")
  }

  /** Exact Jaccard similarity of two (distinct-element) shingle arrays.
    * For the sorted long-hash arrays charShingleHashes emits, this is a
    * native linear merge walk (graft.plans.SortedJaccard) — no per-row
    * hash-set builds; generic arrays fall back to the set formulation
    * |A∩B| = |A| + |B| − |A∪B| (one union, not union+intersect). */
  def jaccard(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.column(
      graft.plans.SortedJaccard(
        org.apache.spark.sql.graftbridge.expression(a),
        org.apache.spark.sql.graftbridge.expression(b)))

  /** Jaccard for arbitrary (unsorted / non-long) distinct arrays. */
  def jaccardGeneric(a: Column, b: Column): Column = {
    val u = size(array_union(a, b)).cast("double")
    (size(a) + size(b) - u) / u
  }

  /** Containment C(A,B) = |A∩B| / |A| — the ASYMMETRIC near-dup measure:
    * a short quote embedded in a long document has tiny Jaccard (the union
    * is dominated by the long side) but containment ≈ 1 for the quote.
    * This is what catches subset duplication — quoted articles, chunked
    * re-posts, page-of-a-book — that symmetric MinHash misses by design.
    * Candidate generation composes with the same LSH banding (containment
    * ≥ t implies the bands of the SMALL side collide like a Jaccard of
    * |A∩B|/|A∪B| ≥ t·|A|/|A∪B|); this is the exact verify kernel. */
  def containment(a: Column, b: Column): Column = {
    val inter = size(a) + size(b) - size(array_union(a, b))
    inter.cast("double") / size(a)
  }

  /** Length prefilter for Jaccard threshold t: J(A,B) ≤ min(|A|,|B|)/max,
    * so pairs whose size ratio is below t can be discarded before any set
    * work — on a skewed corpus this prunes most candidate pairs with two
    * int comparisons. */
  def sizeCompatible(a: Column, b: Column, t: Double): Column =
    least(size(a), size(b)).cast("double") / greatest(size(a), size(b)) >= t

  /** Near-duplicate pairs: LSH candidates verified with exact Jaccard >
    * `threshold`. With r = numHashes/bands rows per band, a pair at
    * similarity j misses a given band w.p. (1 - j^r); requiring ≥2 of the
    * b band matches (see minhashCandidatePairs) puts the miss probability
    * at j = 0.7 below 2e-5 with the defaults (r=4, b=50) while pruning
    * background pairs by ~3 orders of magnitude. Shingle n=5: 3-grams are
    * not discriminative on same-domain corpora (measured median cross-doc
    * 3-gram Jaccard here: 0.45 — every pair becomes a candidate). */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, shingleN: Int = 5,
      numHashes: Int = 200, bands: Int = 50): DataFrame =
    minhashCandidates(df, idCol, textCol, shingleN, numHashes, bands)
      .filter(sizeCompatible(col("sh_a"), col("sh_b"), threshold))
      .withColumn("jaccard_sim", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard_sim") > threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard_sim"), 6).as("jaccard_sim"))

  /** Incremental dedup: near-dup pairs of NEW documents against an
    * EXISTING corpus — the nightly-crawl-versus-index shape, where
    * re-pairing the whole corpus (minhashNearDups on the union) would
    * redo work quadratic in history. Same banding and verification as
    * [[minhashNearDups]], but pair generation is a cross-side equi-join
    * on (band, band_hash): new×new and old×old pairs are never formed,
    * so per-bucket work is |bucket_new|×|bucket_old| — proportional to
    * the increment, not the corpus. Hot buckets are capped per side
    * BEFORE pairing, the same skip-huge-cluster guard as the symmetric
    * path. */
  def minhashNearDupsAgainst(newDf: DataFrame, corpusDf: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.7,
      shingleN: Int = 5, numHashes: Int = 200, bands: Int = 50,
      maxBucketSize: Int = 1000, minBandMatches: Int = 2): DataFrame =
    minhashNearDupsAgainstIndex(newDf,
      buildBandIndex(corpusDf, idCol, textCol, shingleN, numHashes, bands),
      idCol, textCol, threshold, maxBucketSize, minBandMatches)

  /** A materialized LSH index over a corpus: the narrow (band, band_hash,
    * id) rows for candidate generation plus the (id, sh) shingle sets for
    * verification. In a production pipeline both are partitioned parquet
    * tables the ingest loop APPENDS to each cycle (the schemas are
    * append-stable); here they are DataFrames — persist/write them as the
    * storage layer dictates. The LSH parameters ride along so queries and
    * appends can never drift from the signatures the index was built with. */
  final case class BandIndex(bands: DataFrame, shingles: DataFrame,
      shingleN: Int, numHashes: Int, nBands: Int)

  /** Build the [[BandIndex]] of a corpus from scratch. */
  def buildBandIndex(corpusDf: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, numHashes: Int = 200, bands: Int = 50): BandIndex =
    BandIndex(
      minhashBands(corpusDf, idCol, textCol, shingleN, numHashes, bands),
      corpusDf.select(col(idCol).as("id"),
        charShingleHashes(col(textCol), shingleN).as("sh")),
      shingleN, numHashes, bands)

  /** Fold ACCEPTED documents into an existing index — the maintenance
    * step of the nightly-crawl loop: dedup the increment against the
    * index, keep the survivors, append their bands + shingles so the NEXT
    * increment pairs against them too. Appending is exactly equivalent to
    * rebuilding from corpus ∪ accepted (both sides are unions of per-doc
    * rows, and signatures depend only on the document), which
    * TrainingDataSpec pins as a law. At scale this is two parquet
    * appends — no read, no shuffle of the existing index. */
  def appendToBandIndex(index: BandIndex, accepted: DataFrame,
      idCol: String, textCol: String): BandIndex =
    index.copy(
      bands = index.bands.unionByName(minhashBands(accepted, idCol, textCol,
        index.shingleN, index.numHashes, index.nBands)),
      shingles = index.shingles.unionByName(accepted.select(col(idCol).as("id"),
        charShingleHashes(col(textCol), index.shingleN).as("sh"))))

  /** [[minhashNearDupsAgainst]] over a prebuilt [[BandIndex]]: the form
    * the incremental loop runs, so consecutive increments reuse (and
    * append to) one index instead of re-banding history every cycle
    * (persistence: [[saveBandIndex]] / [[loadBandIndex]]).
    *
    * The candidate pairs are formed once. The increment's ids collect per
    * (band, band_hash) bucket, capped at `maxBucketSize`; only the index
    * band rows in those buckets join them and collect and cap the same
    * way. Caps count rows: a null id counts toward its bucket's cap but
    * never pairs. Exploding both lists and counting per (new_id,
    * corpus_id) keeps pairs sharing ≥ `minBandMatches` buckets. The
    * verify broadcasts the pairs into the index.shingles scan (never
    * shuffled), then joins the increment's shingle sets; shingled after
    * the join instead, `sh_a` would be inlined into every predicate. */
  def minhashNearDupsAgainstIndex(newDf: DataFrame, index: BandIndex,
      idCol: String, textCol: String, threshold: Double = 0.7,
      maxBucketSize: Int = 1000, minBandMatches: Int = 2): DataFrame = {
    val newBuckets = minhashBands(newDf, idCol, textCol,
        index.shingleN, index.numHashes, index.nBands)
      .groupBy("band", "band_hash")
      .agg(collect_list(col("id")).as("new_ids"), count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize)
    val pairs = index.bands.join(newBuckets.drop("__n"), Seq("band", "band_hash"))
      .groupBy("band", "band_hash")
      .agg(first(col("new_ids")).as("new_ids"),
        collect_list(col("id")).as("corpus_ids"), count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize)
      .select(explode(col("new_ids")).as("new_id"), col("corpus_ids"))
      .select(col("new_id"), explode(col("corpus_ids")).as("corpus_id"))
      .groupBy("new_id", "corpus_id").agg(count(lit(1)).as("n_band_matches"))
      .filter(col("n_band_matches") >= minBandMatches)
    broadcast(pairs)
      .join(index.shingles.select(col("id").as("corpus_id"), col("sh").as("sh_b")),
        "corpus_id")
      .join(newDf.select(col(idCol).as("new_id"),
        charShingleHashes(col(textCol), index.shingleN).as("sh_a")), "new_id")
      .filter(sizeCompatible(col("sh_a"), col("sh_b"), threshold))
      .withColumn("jaccard_sim", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard_sim") > threshold)
      .select(col("new_id"), col("corpus_id"),
        round(col("jaccard_sim"), 6).as("jaccard_sim"))
  }

  /** Exact incremental dedup of a small increment against a HUGE corpus
    * via a Bloom-filter membership prefilter — the shape that makes
    * nightly exact dedup affordable at 100 TB. The corpus is scanned but
    * NEVER shuffled:
    *
    *   1. corpus fingerprints → Bloom filter (one scan, per-partition
    *      build + driver merge via treeAggregate inside stat.bloomFilter)
    *   2. increment rows failing `mightContain` are DEFINITELY new
    *      (Bloom has no false negatives) — they skip all join work
    *   3. the surviving suspected fingerprints (true dups + fpp of the
    *      increment) are tiny → broadcast into a corpus LEFT SEMI scan
    *      to confirm, eliminating Bloom false positives
    *   4. confirmed fingerprints broadcast into the final anti-join
    *
    * The result is EXACT (identical to a plain anti-join on the
    * fingerprint) for any fpp; fpp only tunes how much of the increment
    * reaches step 3. Pass `expectedCorpusItems` in production — the
    * count() fallback is a convenience that costs one extra corpus scan.
    * Fingerprints use the same whitespace-normalized md5-16 as [[exact]],
    * so this composes with the nightly loop's d60/d93 stages. */
  def exactAgainstBloom(newDf: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, expectedCorpusItems: Long = 0L,
      fpp: Double = 0.01): DataFrame = {
    val spark = newDf.sparkSession
    val corpusFp = corpus.select(fingerprint64(col(textCol)).as("fp"))
    val n = if (expectedCorpusItems > 0L) expectedCorpusItems
            else math.max(corpusFp.count(), 1L)
    val bloom = corpusFp.stat.bloomFilter("fp", n, fpp)
    val bloomB = spark.sparkContext.broadcast(bloom)
    // the one UDF-shaped call: mightContain probes broadcast sketch state,
    // no built-in expression exists (same adjudication as the HLL decode).
    // null-guarded: a null textCol row fingerprints to null, and
    // mightContainString(null) NPEs the whole job — null text is trivially
    // not a duplicate of anything, so it flows through unflagged.
    val might = udf((s: String) => s != null && bloomB.value.mightContainString(s))
    val withFp = newDf.withColumn("__fp", fingerprint64(col(textCol)))
    val suspected = withFp.filter(might(col("__fp")))
      .select(col("__fp").as("fp")).distinct()
    val confirmed = corpusFp
      .join(broadcast(suspected), Seq("fp"), "left_semi").distinct()
    withFp.join(broadcast(confirmed),
        withFp("__fp") === confirmed("fp"), "left_anti")
      .drop("__fp")
  }

  /** Streaming incremental dedup: a document STREAM deduplicated against
    * a static corpus, one [[minhashNearDupsAgainstIndex]] per micro-batch
    * via foreachBatch — the shape a production ingest pipeline runs (each
    * arriving crawl shard is pair-checked against the index; the index
    * itself updates on a slower batch cadence). The corpus's [[BandIndex]]
    * is built once, but as a plan every micro-batch re-evaluates; pass a
    * persisted or loaded index to the overload below to avoid that.
    * Returns the started query; matched cross-side pairs go to `sink`. */
  def streamingDedupAgainst(stream: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, sink: (DataFrame, Long) => Unit,
      threshold: Double = 0.7, shingleN: Int = 5, numHashes: Int = 200,
      bands: Int = 50): org.apache.spark.sql.streaming.StreamingQuery =
    streamingDedupAgainst(stream,
      buildBandIndex(corpus, idCol, textCol, shingleN, numHashes, bands),
      idCol, textCol, sink, threshold)

  /** [[streamingDedupAgainst]] over a prebuilt [[BandIndex]]. */
  def streamingDedupAgainst(stream: DataFrame, index: BandIndex,
      idCol: String, textCol: String, sink: (DataFrame, Long) => Unit,
      threshold: Double): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(minhashNearDupsAgainstIndex(batch, index, idCol, textCol,
          threshold), batchId)
      }
      .start()

  /** SimHash near-dup pairs: 64-bit fingerprints banded into
    * `maxHamming + 1` pieces — by pigeonhole, any pair within Hamming
    * distance `maxHamming` differs in at most `maxHamming` bands and so
    * shares at least one band EXACTLY — then verified by exact Hamming ≤
    * maxHamming. (A fixed 4-band split is only complete for h ≤ 3: a
    * distance-5 pair can touch all four 16-bit bands and silently vanish.)
    *
    * At scale the band width 64/(h+1) bits sets join selectivity: h=3 →
    * 16-bit bands (65k buckets), h=8 → 7-bit bands (128 buckets). For
    * large h on a huge corpus, shrink h or move to a wider fingerprint —
    * the candidate join degrades gracefully (more pairs pre-filtered by
    * the codegen'd Hamming check) but never misses. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val nBands = maxHamming + 1
    require(nBands <= 64, s"maxHamming=$maxHamming needs $nBands bands > 64 bits")
    // band b covers bits [b*64/nBands, (b+1)*64/nBands) — widths differ by
    // at most one bit when 64 % nBands != 0; completeness only needs the
    // bands to tile the 64 bits disjointly
    val bounds = (0 to nBands).map(b => b * 64 / nBands)
    val fp = df.select(col(idCol).as("id"),
      simhash64(lower(col(textCol))).as("fp"))
    val pieces = (0 until nBands).map { b =>
      val lo = bounds(b); val width = bounds(b + 1) - lo
      val mask = if (width == 64) -1L else (1L << width) - 1L
      call_function("shiftright", col("fp"), lit(lo)).bitwiseAND(lit(mask))
    }
    val banded = fp.select(col("id"), col("fp"),
      posexplode(array(pieces: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "piece")
    val a = banded.select(col("band"), col("piece"), col("id").as("id_a"), col("fp").as("fp_a"))
    val b = banded.select(col("band"), col("piece"), col("id").as("id_b"), col("fp").as("fp_b"))
    a.join(b, Seq("band", "piece"))
      .filter(col("id_a") < col("id_b"))
      // cheap codegen'd Hamming check BEFORE the shuffling distinct, so
      // only surviving pairs are exchanged (hamming is deterministic per
      // pair, so filter-then-dedup ≡ dedup-then-filter)
      .withColumn("hamming", hamming64(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "hamming")
  }

  /** Embedding near-dup pairs: hyperplane-LSH bucketing (exact signature
    * match on nBits random hyperplane signs) then exact cosine verify.
    * Approximate-recall by construction; raise nBits for precision,
    * lower for recall. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nBits: Int = 16): DataFrame = {
    val sig = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("sig", element_at(hyperplaneSignatures(col("v"), nBits, 1), 1))
    val a = sig.select(col("sig"), col("id").as("id_a"), col("v").as("v_a"))
    val b = sig.select(col("sig"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, "sig")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosineSim(col("v_a"), col("v_b")))
      .filter(col("cos") > threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Persist a [[BandIndex]] as two parquet tables (`<path>/bands`,
    * `<path>/shingles`) plus a one-row `<path>/meta` table carrying the
    * LSH parameters — the storage layer of the nightly-crawl loop: build
    * once, `loadBandIndex` each cycle, query + append, write back the
    * appended increment (both tables are append-stable). */
  def saveBandIndex(index: BandIndex, path: String): Unit = {
    val spark = index.bands.sparkSession
    import spark.implicits._
    index.bands.write.mode("overwrite").parquet(s"$path/bands")
    index.shingles.write.mode("overwrite").parquet(s"$path/shingles")
    Seq((index.shingleN, index.numHashes, index.nBands))
      .toDF("shingle_n", "num_hashes", "n_bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[BandIndex]] persisted by [[saveBandIndex]]. The parameters
    * ride the meta table, so queries and appends can never drift from
    * the signatures the index was built with. */
  def loadBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): BandIndex = {
    val meta = spark.read.parquet(s"$path/meta").head()
    BandIndex(
      spark.read.parquet(s"$path/bands"),
      spark.read.parquet(s"$path/shingles"),
      meta.getAs[Int]("shingle_n"), meta.getAs[Int]("num_hashes"),
      meta.getAs[Int]("n_bands"))
  }
}
