package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level function library.
  *
  * Everything here is composed from built-in Catalyst expressions
  * (`org.apache.spark.sql.functions`) — no Scala/Python UDFs — so the
  * whole library stays inside Tungsten codegen / the vectorized readers
  * and distributes trivially: a 100 TB scan applies these per-row with
  * zero serialization boundary.
  *
  * Covers the reference's extra scalar-function surface
  * (reference: sdks/java/extensions/sql/src/main/java/org/apache/beam/sdk/
  * extensions/sql/impl/udf/BuiltinStringFunctions.java:33,
  * BuiltinHashFunctions.java, BuiltinTrigonometricFunctions.java) plus the
  * text-analysis / fingerprinting / vector primitives a training-data
  * pipeline needs (dedup, quality filtering, ANN).
  */
package object functions {

  // ==========================================================================
  // Beam extra scalar functions that lack a same-name Spark builtin
  // (most of §2.8 maps 1:1 to Spark builtins; these are the aliases).
  // ==========================================================================

  /** TO_HEX(bytes/string) — reference BuiltinStringFunctions.java:33. */
  def toHex(c: Column): Column = hex(c)

  /** FROM_HEX(string) → bytes. */
  def fromHex(c: Column): Column = unhex(c)

  /** LENGTH_BYTES — byte length of the UTF-8 encoding. */
  def lengthBytes(c: Column): Column = octet_length(c)

  /** IS_INF / IS_NAN — reference impl/udf/{IsInf,IsNan}.java. */
  def isInf(c: Column): Column = c === Double.PositiveInfinity || c === Double.NegativeInfinity
  def isNanCol(c: Column): Column = isnan(c)

  // ==========================================================================
  // Tokenization / shingling
  // ==========================================================================

  /** Whitespace tokens, empty-safe: split on runs of whitespace after trim;
    * an all-whitespace or empty document yields an empty array (Spark's
    * split("") would yield [""]). */
  def tokens(text: Column): Column = {
    val t = trim(text)
    when(t === "", array().cast("array<string>")).otherwise(split(t, "\\s+"))
  }

  /** Token count via the whitespace tokenizer. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** One-pass native text statistics struct (graft.plans.TextStats):
    * token/stopword/punctuation/marker counts for the feature extractors
    * below — one code-point walk per document instead of a chain of
    * interpreted split/filter/aggregate lambdas. */
  def textStats(text: Column): Column =
    org.apache.spark.sql.graftbridge.column(
      graft.plans.TextStats(org.apache.spark.sql.graftbridge.expression(text)))

  /** Native one-pass duplicate-n-gram counts (total + distinct word
    * 2-/3-grams) for the repetition quality filters. */
  def repetitionStats(text: Column): Column =
    org.apache.spark.sql.graftbridge.column(
      graft.plans.RepetitionStats(org.apache.spark.sql.graftbridge.expression(text)))

  /** BPE-ish subword count estimate: words + punctuation marks counted
    * separately (a regex proxy for byte-pair tokenizers: every run of
    * letters/digits is ~1.3 tokens, every punct char is 1). */
  def tokenCountBpe(text: Column): Column = {
    val st = textStats(text)
    floor(st("n_alnum_runs").cast("double") * lit(1.3) +
      st("n_punct").cast("double")).cast("long")
  }

  /** Character n-gram shingles of the normalized text (lowercase, collapsed
    * whitespace). transform(sequence(...)) keeps this fully declarative —
    * on a 100 TB corpus the shingling runs inside the scan stage. */
  def charShingles(text: Column, n: Int): Column = {
    val norm = lower(regexp_replace(trim(text), "\\s+", " "))
    val cnt = greatest(length(norm) - (n - 1), lit(0))
    when(cnt === 0, array(norm)) // short doc: the doc itself is the shingle
      .otherwise(array_distinct(transform(sequence(lit(1), cnt), i => norm.substr(i, lit(n)))))
  }

  /** Distinct xxhash64 values of the character n-gram shingles of the
    * normalized text — the scale path for MinHash/Jaccard dedup. Same
    * normalization as [[charShingles]]; hashing inside a single native
    * codegen'd expression (graft.plans.CharNgramHashes) instead of one
    * interpreted lambda per character. Jaccard over these hash sets equals
    * Jaccard over the string shingle sets (64-bit collisions ≈ never). */
  def charShingleHashes(text: Column, n: Int): Column = {
    val norm = lower(regexp_replace(trim(text), "\\s+", " "))
    org.apache.spark.sql.graftbridge.column(
      graft.plans.CharNgramHashes(
        org.apache.spark.sql.graftbridge.expression(norm), n))
  }

  /** Densified one-permutation MinHash signature (k longs) of the
    * normalized text, computed by one native codegen'd expression in the
    * scan stage — the scale path for LSH banding (see
    * graft.plans.MinHashSignature for the algorithm and why densification
    * is required on short documents). */
  /** Robust-winnowing anchors of the `gramLen`-grams of `text`
    * (array<struct<i,h>>: 1-based position, xxhash64) over windows of `w`
    * grams, for exact-substring dedup; one native pass inside the scan
    * stage (graft.plans.WinnowedAnchors). */
  def winnowedAnchors(text: Column, gramLen: Int, w: Int): Column =
    org.apache.spark.sql.graftbridge.column(
      graft.plans.WinnowedAnchors(
        org.apache.spark.sql.graftbridge.expression(text), gramLen, w))

  /** Per-vocabulary-term occurrence counts of a token array, one native
    * codegen'd pass with an O(1) probe per token (graft.plans
    * .VocabTermCounts) — the BM25 term-frequency kernel. */
  def vocabTermCounts(tokens: Column, vocab: Seq[String]): Column =
    org.apache.spark.sql.graftbridge.column(
      graft.plans.VocabTermCounts(
        org.apache.spark.sql.graftbridge.expression(tokens), vocab))

  def minhashSignatureNative(text: Column, n: Int, k: Int): Column = {
    val norm = lower(regexp_replace(trim(text), "\\s+", " "))
    org.apache.spark.sql.graftbridge.column(
      graft.plans.MinHashSignature(
        org.apache.spark.sql.graftbridge.expression(norm), n, k))
  }

  /** Word n-gram shingles. */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(lower(text))
    val cnt = greatest(size(toks) - (n - 1), lit(0))
    when(cnt === 0, array(concat_ws(" ", toks)))
      .otherwise(array_distinct(transform(sequence(lit(0), cnt - 1),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  // ==========================================================================
  // Hashing / fingerprints
  // ==========================================================================

  /** Deterministic 64-bit content fingerprint: first 16 hex chars of the
    * md5 of the whitespace-normalized lowercase text. md5 is identical
    * across engines, which makes this fingerprint portable (and DuckDB-
    * verifiable), unlike engine-local hash() seeds.
    * Reference analog: dedup by representative value,
    * transforms/Distinct.java:84 (withRepresentativeValueFn). */
  def fingerprint64(text: Column): Column =
    substring(md5(lower(regexp_replace(trim(text), "\\s+", " "))), 1, 16)

  /** A family of 64-bit hash functions h_i(x) = xxhash64(i, x): xxhash64 is
    * a strong mixing function and seeding-by-prefix gives independent
    * functions for MinHash. */
  def seededHash(c: Column, seed: Int): Column = xxhash64(lit(seed), c)

  /** MinHash signature: array of `numHashes` minima of seeded hashes over
    * the shingle set. One pass over shingles per hash function, all inside
    * higher-order builtins (no shuffle; computed in the scan stage).
    * Reference analog: the HLL/sketching extension family
    * (sdks/java/extensions/sketching) — same "small mergeable summary"
    * pattern, here for Jaccard similarity. */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    minhashSignatureFromHashes(transform(shingles, sh => xxhash64(sh)), numHashes)

  /** MinHash signature over PRE-HASHED shingles (a long array column).
    * Separating the string hashing (once per shingle — materialize the
    * hashed array as its own column) from the k seeded re-hashes makes the
    * signature O(|sh|) string traversals + O(k·|sh|) 8-byte hashes instead
    * of O(k·|sh|) string traversals — the difference between minutes and
    * seconds per million documents. */
  def minhashSignatureFromHashes(hashes: Column, numHashes: Int): Column =
    array((0 until numHashes).map(s =>
      aggregate(hashes, lit(Long.MaxValue), (m, h) => least(m, xxhash64(lit(s), h)))): _*)

  /** SimHash-64: per whitespace token, hash to 64 bits; sum +1/-1 per bit
    * position over all tokens; fingerprint bit i is set iff the sum is
    * positive. Hamming-near fingerprints ⇔ similar documents. Native
    * codegen'd kernel (graft.plans.SimHash64) — tokenization and voting in
    * one pass over the string's bytes. */
  def simhash64(text: Column): Column =
    org.apache.spark.sql.graftbridge.column(
      graft.plans.SimHash64(org.apache.spark.sql.graftbridge.expression(text)))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ==========================================================================
  // Text quality / language heuristics (training-data pipeline)
  // ==========================================================================

  private val stopwordsEn = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "are", "was", "for", "on", "with", "that", "this", "it", "as")

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(lower(text))
    val sw = filter(toks, t => t.isin(stopwordsEn: _*))
    when(size(toks) === 0, lit(0.0)).otherwise(size(sw).cast("double") / size(toks))
  }

  /** Fraction of non-whitespace characters that are punctuation/symbols. */
  def punctRatio(text: Column): Column = {
    val nonWs = length(regexp_replace(text, "\\s+", ""))
    val punct = length(regexp_replace(text, "[A-Za-z0-9\\s]+", ""))
    when(nonWs === 0, lit(0.0)).otherwise(punct.cast("double") / nonWs)
  }

  /** Mean token length (0 for empty docs). */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0))
      .otherwise(aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") / size(toks))
  }

  /** Composite quality score in [0,1]: long-enough docs with moderate
    * punctuation and a natural stopword ratio score high. Deliberately
    * simple + fully SQL-expressible (DuckDB-verifiable). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 200.0, lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 4.0, lit(1.0))
    val swScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    round((lenScore + punctScore + swScore) / 3.0, 6)
  }

  private val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "it" -> Seq("il", "di", "che", "la", "per"))

  /** Marker-word language ID: picks the language whose marker words cover
    * the largest fraction of tokens; ties broken by language code order;
    * "und" (undetermined) when nothing matches. */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      (lang, size(filter(toks, t => t.isin(markers: _*))))
    }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldRight(lit("und")) { case ((lang, s), els) =>
      when(s > 0 && s === best, lit(lang)).otherwise(els)
    }
  }

  // ==========================================================================
  // Vector primitives (embeddings / ANN)
  // ==========================================================================

  /** Dot product of two float/double array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))

  /** Cosine similarity (0 when either vector is all-zero). Native fused
    * kernel (graft.plans.CosineSim): dot + both norms in one codegen'd
    * loop — the declarative `dot(a,b) / (l2Norm(a) * l2Norm(b))` pays
    * three interpreted lambda folds and an array allocation per pair. */
  def cosineSim(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.column(
      graft.plans.CosineSim(
        org.apache.spark.sql.graftbridge.expression(a),
        org.apache.spark.sql.graftbridge.expression(b)))

  /** PQ asymmetric-distance accumulation: Σ_j lut[j·ksub + codes[j]],
    * ksub inferred as |lut|/|codes|. Native kernel (graft.plans.PqAdc) —
    * reads only the m addressed LUT entries per row inside codegen. */
  def pqAdc(codes: Column, lut: Column): Column =
    org.apache.spark.sql.graftbridge.column(
      graft.plans.PqAdc(
        org.apache.spark.sql.graftbridge.expression(codes),
        org.apache.spark.sql.graftbridge.expression(lut)))

  /** Nearest-centroid index (int) of an array<double> vector against a
    * driver-held codebook — the IVF cell-routing kernel. Native codegen'd
    * expression (graft.plans.NearestCentroid): the UDF form boxed every
    * element through a Seq[Double] converter per corpus row. The codebook
    * is flattened to ONE primitive array here on the driver, so the
    * expression's serialized state carries zero boxed values (r12). */
  def nearestCentroid(vec: Column, centers: Array[Array[Double]]): Column = {
    require(centers.nonEmpty && centers.head.nonEmpty, "centers must be non-empty")
    val k = centers.length; val dim = centers.head.length
    val flat = new Array[Double](k * dim)
    var i = 0
    while (i < k) {
      require(centers(i).length == dim, "ragged centers")
      System.arraycopy(centers(i), 0, flat, i * dim, dim); i += 1
    }
    org.apache.spark.sql.graftbridge.column(
      graft.plans.NearestCentroid(
        org.apache.spark.sql.graftbridge.expression(vec), flat, k, dim))
  }

  /** PQ sub-space code indices (m-byte binary, one unsigned byte per
    * sub-space — requires ksub ≤ 256) of an array<double> vector against
    * driver-held codebooks. Native codegen'd kernel
    * (graft.plans.PqEncodeCodes), same boxing elimination; binary rather
    * than array<int> so the persisted index column and the
    * cell-repartition exchange carry 8 code bytes, not an 8-element
    * UnsafeArrayData (see the expression scaladoc). */
  def pqEncodeCodes(vec: Column, books: Array[Array[Array[Double]]]): Column = {
    require(books.nonEmpty && books.head.nonEmpty && books.head.head.nonEmpty,
      "codebooks must be non-empty")
    val m = books.length; val ksub = books.head.length
    val dsub = books.head.head.length
    val flat = new Array[Double](m * ksub * dsub)
    var j = 0
    while (j < m) {
      require(books(j).length == ksub, "ragged codebooks")
      var c = 0
      while (c < ksub) {
        require(books(j)(c).length == dsub, "ragged codebooks")
        System.arraycopy(books(j)(c), 0, flat, (j * ksub + c) * dsub, dsub)
        c += 1
      }
      j += 1
    }
    org.apache.spark.sql.graftbridge.column(
      graft.plans.PqEncodeCodes(
        org.apache.spark.sql.graftbridge.expression(vec), flat, m, ksub, dsub))
  }

  /** Multi-table random-hyperplane LSH signatures for cosine distance:
    * array of `tables` signatures, each `nBits` sign bits of projections
    * onto deterministic pseudo-random hyperplanes. Native codegen'd kernel
    * (graft.plans.HyperplaneSignatures): one pass per plane, no per-bit
    * interpreted array traversals. */
  def hyperplaneSignatures(vec: Column, nBits: Int, tables: Int): Column =
    org.apache.spark.sql.graftbridge.column(
      graft.plans.HyperplaneSignatures(
        org.apache.spark.sql.graftbridge.expression(vec), nBits, tables))

  // ==========================================================================
  // T-Digest quantile sketch (graft.plans.TDigestSketch; reference analog
  // sdks/java/extensions/sketching/TDigestQuantiles.java)
  // ==========================================================================

  /** Aggregate a numeric column into a serialized t-digest (binary). */
  def tdigestSketch(c: Column, compression: Double = 200.0): Column =
    org.apache.spark.sql.graftbridge.column(
      graft.plans.TDigestSketchAgg(
        org.apache.spark.sql.graftbridge.expression(c), compression)
        .toAggregateExpression())

  /** Merge serialized t-digests (rollup across shards/windows). */
  def tdigestMerge(c: Column): Column =
    org.apache.spark.sql.graftbridge.column(
      graft.plans.TDigestMergeAgg(
        org.apache.spark.sql.graftbridge.expression(c))
        .toAggregateExpression())

  /** Quantile estimate from a serialized t-digest. */
  def tdigestQuantile(sketch: Column, q: Double): Column =
    org.apache.spark.sql.graftbridge.column(
      graft.plans.TDigestQuantile(
        org.apache.spark.sql.graftbridge.expression(sketch),
        org.apache.spark.sql.catalyst.expressions.Literal(q)))
}
