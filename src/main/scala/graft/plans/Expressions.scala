package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: distinct xxhash64 values of all character
  * n-grams of a string, in one codegen'd call.
  *
  * This is the hot kernel of MinHash/LSH dedup (reference analog: the
  * sketching extension family, sdks/java/extensions/sketching). The
  * declarative formulation — `transform(sequence(1, len), i ->
  * xxhash64(substr(s, i, n)))` — evaluates one interpreted lambda per
  * CHARACTER of the corpus (~1 µs each); this expression walks the
  * string's bytes once per row inside whole-stage codegen (~1 ns/char),
  * a ~100× difference that decides whether shingling 100 TB is feasible.
  *
  * Hashes are computed directly over the n-gram's byte range (zero
  * allocation on the ASCII fast path; code-point-aware slicing otherwise,
  * matching substr semantics for multibyte text). Output order is
  * ascending (sorted for dedup) — set semantics downstream (min-per-bucket,
  * jaccard counts) are order-insensitive.
  */
case class CharNgramHashes(child: Expression, n: Int)
    extends UnaryExpression {

  require(n > 0, "ngram size must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_ngram_hashes requires a string argument, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "char_ngram_hashes"

  override def nullSafeEval(input: Any): Any =
    CharNgramHashes.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.CharNgramHashes.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): CharNgramHashes =
    copy(child = newChild)
}

/** Native densified one-permutation MinHash signature (Li/Owen/Zhang
  * NIPS'12; densification per Shrivastava/Li ICML'14): k-bucket minima of
  * the single-pass shingle hashes, empty buckets borrowing (hash-mixed)
  * from the next filled bucket cyclically.
  *
  * Densification matters for recall AND cost: a short document fills few
  * of the k buckets, and an LSH band whose buckets are mostly empty
  * degenerates to matching on a single shingle minimum — which floods
  * candidate generation with false pairs (observed: 10× pair blowup on a
  * 300-char-median corpus). With every bucket defined, each band always
  * compares r real values.
  *
  * One codegen'd call per row, O(|doc| + k), no shuffle: the signature is
  * computed inside the scan stage; only (id, band, band_hash) rows ever
  * move. */
case class MinHashSignature(child: Expression, n: Int, k: Int)
    extends UnaryExpression {

  require(n > 0 && k > 0, "ngram size and signature size must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature requires a string argument, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any =
    MinHashSignature.compute(input.asInstanceOf[UTF8String], n, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.MinHashSignature.compute($c, $n, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  private final val Empty = Long.MaxValue

  def compute(s: UTF8String, n: Int, k: Int): ArrayData = {
    val hashes = CharNgramHashes.compute(s, n).toLongArray()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Empty)
    var i = 0
    while (i < hashes.length) {
      val h = hashes(i)
      val b = ((h % k).toInt + k) % k
      if (h < mins(b)) mins(b) = h
      i += 1
    }
    // optimal densification (Shrivastava ICML'17): each empty bucket
    // borrows from a filled bucket chosen by hash-probing on (j, attempt).
    // Unlike rotation (borrow-from-next), probing decorrelates adjacent
    // empty buckets: an LSH band of borrowed values then compares r
    // independent minima instead of one repeated neighbor — without this,
    // sparse (short) documents flood candidate generation with false
    // pairs. Two documents with the same occupancy pattern probe
    // identically, so near-duplicates still land in the same buckets.
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      if (mins(j) == Empty) {
        var t = 1L
        var src = (XXH64.hashLong(j.toLong, t) % k).toInt.abs
        while (mins(src) == Empty && t < 1000L) {
          t += 1
          src = (XXH64.hashLong(j.toLong, t) % k).toInt.abs
        }
        out(j) = if (mins(src) == Empty) XXH64.hashLong(0L, j.toLong) // degenerate: nothing filled in range
          else XXH64.hashLong(mins(src), j.toLong)
      } else out(j) = mins(j)
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Native SimHash-64 over whitespace tokens: hash each token to 64 bits,
  * vote +1/−1 per bit position, fingerprint bit i set iff the vote is
  * positive (Charikar STOC'02). One codegen'd call per row — the
  * declarative formulation (aggregate + zip_with over 64 positions per
  * token) costs 64 interpreted lambda evaluations per token. */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires a string argument, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  private final val Seed = 42L

  def compute(s: UTF8String): Long = {
    val bytes = s.numBytes()
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    val votes = new Array[Int](64)
    var i = 0
    while (i < bytes) {
      // skip whitespace runs (space/tab/newline/CR)
      while (i < bytes && isWs(s.getByte(i))) i += 1
      val start = i
      while (i < bytes && !isWs(s.getByte(i))) i += 1
      if (i > start) {
        val h = XXH64.hashUnsafeBytes(base, offset + start, i - start, Seed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  // Must match TextStats.isWs (Java \s): space, tab, LF, VT, FF, CR.
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'
}

/** Native multi-table random-hyperplane LSH signatures for cosine ANN:
  * returns `tables` signatures, each `nBits` sign bits of projections onto
  * pseudo-random hyperplanes (Charikar STOC'02). Weights are derived
  * per (plane, dimension) from xxhash64 — deterministic, no stored model.
  * One pass over the vector per plane inside codegen; the declarative
  * per-bit aggregate formulation pays tables×nBits interpreted array
  * traversals per row. */
case class HyperplaneSignatures(child: Expression, nBits: Int, tables: Int)
    extends UnaryExpression {

  require(nBits > 0 && nBits <= 63 && tables > 0)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t == DoubleType || t == FloatType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_signatures requires array<double|float>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_signatures"

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any =
    HyperplaneSignatures.compute(input.asInstanceOf[ArrayData], nBits, tables, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.HyperplaneSignatures.compute($c, $nBits, $tables, $isFloat)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSignatures =
    copy(child = newChild)
}

object HyperplaneSignatures {
  def compute(vec: ArrayData, nBits: Int, tables: Int, isFloat: Boolean): ArrayData = {
    val d = vec.numElements()
    val v = new Array[Double](d)
    var i = 0
    while (i < d) {
      v(i) = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      i += 1
    }
    val sigs = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var b = 0
      while (b < nBits) {
        val plane = t * nBits + b
        var proj = 0.0
        var j = 0
        while (j < d) {
          // deterministic weight in [-1, 1] from (plane, dim)
          val w = XXH64.hashLong(j.toLong, plane.toLong).toDouble / Long.MaxValue.toDouble
          proj += v(j) * w
          j += 1
        }
        if (proj >= 0) sig |= (1L << b)
        b += 1
      }
      sigs(t) = sig
      t += 1
    }
    new GenericArrayData(sigs)
  }
}

/** Native Jaccard similarity of two SORTED distinct long arrays (the
  * shape CharNgramHashes emits): one linear merge walk counts the
  * intersection — no hash-set build per row, unlike
  * array_union/array_intersect. DoubleType output. */
case class SortedJaccard(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_jaccard requires two array<bigint> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedJaccard.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.SortedJaccard.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedJaccard =
    copy(left = newLeft, right = newRight)
}

/** Native cosine similarity of two numeric array columns: one fused loop
  * computes dot product and both norms — no intermediate array. The
  * declarative zip_with+aggregate formulation allocates a 64-element
  * array and runs three interpreted lambda folds PER PAIR (~3µs);
  * measured 140s → ~4s on the 40M-pair brute-force ANN scan. Formula
  * matches the declarative version exactly: sqrt(na)*sqrt(nb) denom,
  * 0.0 when either vector is all-zero. Accepts array<double|float> on
  * either side (mixed ok). */
case class CosineSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  private def elem(t: DataType): Option[Boolean] = t match {
    case ArrayType(DoubleType, _) => Some(false)
    case ArrayType(FloatType, _) => Some(true)
    case _ => None
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (elem(left.dataType).isDefined && elem(right.dataType).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires two array<double|float> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  private lazy val leftFloat = elem(left.dataType).get
  private lazy val rightFloat = elem(right.dataType).get

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      leftFloat, rightFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.CosineSim.compute($a, $b, $leftFloat, $rightFloat);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  def compute(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = a.numElements()
    val m = b.numElements()
    val k = math.min(n, m)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < k) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    while (i < n) { val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i); na += x * x; i += 1 }
    i = k
    while (i < m) { val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i); nb += y * y; i += 1 }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
}

/** Native PQ asymmetric-distance accumulation: `Σ_j lut[j·ksub + codes[j]]`
  * with `ksub = |lut| / |codes|`. The UDF formulation converted the whole
  * ksub·m-entry LUT (2048 doubles at m=8) from Catalyst to a boxed Seq PER
  * SCORED ROW even though only m entries are read; this reads exactly the
  * m addressed entries off ArrayData inside whole-stage codegen. Codes are
  * the m-byte BINARY emitted by [[PqEncodeCodes]] (one unsigned byte per
  * sub-space — see there for why binary, not array<int>). */
case class PqAdc(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (BinaryType, ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"pq_adc requires (binary codes, array<double> lut), got " +
        s"${l.catalogString}, ${r.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override def nullSafeEval(a: Any, b: Any): Any =
    PqAdc.compute(a.asInstanceOf[Array[Byte]], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.PqAdc.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

object PqAdc {
  def compute(codes: Array[Byte], lut: ArrayData): Double = {
    val m = codes.length
    if (m == 0) return 0.0
    val ksub = lut.numElements() / m
    var s = 0.0; var j = 0
    while (j < m) { s += lut.getDouble(j * ksub + (codes(j) & 0xff)); j += 1 }
    s
  }
}

object SortedJaccard {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = n + m - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

object CharNgramHashes {
  private final val Seed = 42L

  /** Distinct sorted hashes of the code-point n-grams of `s`; a string
    * shorter than n hashes as a single whole-string shingle (mirrors the
    * declarative charShingles fallback). Called from generated code. */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    val numBytes = s.numBytes()
    val numChars = s.numChars()
    if (numChars <= n)
      return new GenericArrayData(
        Array(XXH64.hashUnsafeBytes(base, offset, numBytes, Seed)))

    val count = numChars - n + 1
    val hashes = new Array[Long](count)
    if (numBytes == numChars) {
      // ASCII fast path: byte == char, zero-copy sliding window
      var i = 0
      while (i < count) {
        hashes(i) = XXH64.hashUnsafeBytes(base, offset + i, n, Seed)
        i += 1
      }
    } else {
      // multibyte: record each code point's byte offset, slice by chars
      val charOffs = new Array[Int](numChars + 1)
      var bi = 0
      var ci = 0
      while (bi < numBytes) {
        charOffs(ci) = bi
        bi += UTF8String.numBytesForFirstByte(s.getByte(bi))
        ci += 1
      }
      charOffs(numChars) = numBytes
      var i = 0
      while (i < count) {
        val from = charOffs(i)
        val until = charOffs(i + n)
        hashes(i) = XXH64.hashUnsafeBytes(base, offset + from, until - from, Seed)
        i += 1
      }
    }
    // sort + in-place dedupe: no boxing, cache-friendly
    java.util.Arrays.sort(hashes)
    var w = 0
    var r = 1
    while (r < count) {
      if (hashes(r) != hashes(w)) { w += 1; hashes(w) = hashes(r) }
      r += 1
    }
    val distinct = if (w + 1 == count) hashes else java.util.Arrays.copyOf(hashes, w + 1)
    new GenericArrayData(distinct)
  }
}

/** Native robust winnowing for exact-substring dedup (Schleimer et al.,
  * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
  * 2003): hash every `gramLen`-gram with xxhash64 and keep every gram
  * whose hash is a minimum (ties included) of some full window of `w`
  * consecutive grams; a text with fewer than `w` grams is one window.
  * Two copies of any run of `w` grams therefore share an anchor at the
  * same offset, whatever text surrounds them. On random hashes about
  * 2/(w+1) of the grams are anchors.
  *
  * One pass per document inside whole-stage codegen: a hash per gram
  * (zero-copy on ASCII), then two monotonic-deque sweeps — the minimum
  * of each window, and for each gram the largest such minimum over the
  * windows that contain it. The declarative formulation it equals is
  * pinned in ExactSubstrSpec.
  *
  * Returns array<struct<i: long, h: long>> of (1-based gram position,
  * gram hash); empty when the string is shorter than `gramLen`.
  */
case class WinnowedAnchors(child: Expression, gramLen: Int, w: Int)
    extends UnaryExpression {

  require(gramLen > 0 && w > 0, "gramLen and w must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnowed_anchors requires a string argument, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("i", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("h", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "winnowed_anchors"

  override def nullSafeEval(input: Any): Any =
    WinnowedAnchors.compute(input.asInstanceOf[UTF8String], gramLen, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WinnowedAnchors.compute($c, $gramLen, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowedAnchors =
    copy(child = newChild)
}

object WinnowedAnchors {
  private final val Seed = 42L
  private val Empty = new GenericArrayData(Array.empty[Any])

  /** Called from generated code. */
  def compute(s: UTF8String, gramLen: Int, w: Int): ArrayData = {
    val numChars = s.numChars()
    if (numChars < gramLen) return Empty
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    val numBytes = s.numBytes()
    val count = numChars - gramLen + 1
    val hashes = new Array[Long](count)
    if (numBytes == numChars) {
      var i = 0
      while (i < count) {
        hashes(i) = XXH64.hashUnsafeBytes(base, offset + i, gramLen, Seed)
        i += 1
      }
    } else {
      val charOffs = new Array[Int](numChars + 1)
      var bi = 0
      var ci = 0
      while (bi < numBytes) {
        charOffs(ci) = bi
        bi += UTF8String.numBytesForFirstByte(s.getByte(bi))
        ci += 1
      }
      charOffs(numChars) = numBytes
      var i = 0
      while (i < count) {
        val from = charOffs(i)
        val until = charOffs(i + gramLen)
        hashes(i) = XXH64.hashUnsafeBytes(base, offset + from, until - from, Seed)
        i += 1
      }
    }
    // mins(j): minimum of window j (grams j until j + win)
    val win = math.min(w, count)
    val nw = count - win + 1
    val mins = new Array[Long](nw)
    val dq = new Array[Int](count)
    var head = 0
    var tail = 0 // exclusive
    var i = 0
    while (i < count) {
      while (tail > head && hashes(dq(tail - 1)) >= hashes(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - win) head += 1
      if (i >= win - 1) mins(i - win + 1) = hashes(dq(head))
      i += 1
    }
    // gram i is a minimum of a window containing it iff its hash is at
    // most the largest mins(j) over those windows, j in [i - win + 1, i]
    val out = new java.util.ArrayList[Any](2 * count / (w + 1) + 2)
    head = 0; tail = 0
    i = 0
    while (i < count) {
      if (i < nw) {
        while (tail > head && mins(dq(tail - 1)) <= mins(i)) tail -= 1
        dq(tail) = i; tail += 1
      }
      if (dq(head) <= i - win) head += 1
      if (hashes(i) <= mins(dq(head)))
        out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any]((i + 1).toLong, hashes(i))))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** Native hashed-gram quality score: the fastText-shape linear scorer
  * (graft.text.QualityClassifier) evaluated in one pass per document —
  * tokenize, unigram+bigram, md5-prefix bucket, mean weight, sigmoid.
  *
  * Feature semantics are IDENTICAL to the declarative formulation (and so
  * to the DuckDB oracle's closed form): UTF8String trim/toLowerCase (the
  * exact kernels Spark's trim/lower call), Java-regex "\\s+" split, grams
  * enumerated unigrams-then-bigrams, bucket = first 6 md5 hex chars mod
  * dims, weights summed in gram order (bit-identical double fold),
  * sigmoid via Math.exp. The declarative version evaluates an interpreted
  * lambda + a full md5 expression tree PER GRAM (~300 per document);
  * this walks the grams in a tight loop with one reused MessageDigest.
  * Equality is pinned in QualityClassifierSpec.
  */
case class QualityScore(child: Expression, weights: Seq[Double], bias: Double)
    extends UnaryExpression {

  require(weights.nonEmpty)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quality_score requires a string argument, got ${other.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "quality_score"

  private lazy val weightArr = weights.toArray

  override def nullSafeEval(input: Any): Any =
    QualityScore.compute(input.asInstanceOf[UTF8String], weightArr, bias)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("weights", weightArr, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.plans.QualityScore.compute($c, $wRef, $bias)")
  }

  override protected def withNewChildInternal(newChild: Expression): QualityScore =
    copy(child = newChild)
}

object QualityScore {

  /** Called from generated code. */
  def compute(s: UTF8String, weights: Array[Double], bias: Double): Double = {
    // trim/lowercase with Spark's own UTF8String kernels, then the same
    // Java-regex split the declarative split("\\s+") uses
    val toks0 = s.trim().toLowerCase().toString.split("\\s+")
    var nTok = 0
    var i = 0
    while (i < toks0.length) { if (toks0(i).nonEmpty) nTok += 1; i += 1 }
    val toks = if (nTok == toks0.length) toks0 else toks0.filter(_.nonEmpty)
    val nGrams = toks.length + math.max(toks.length - 1, 0)
    if (nGrams == 0) return 1.0 / (1.0 + Math.exp(-bias))
    val md = java.security.MessageDigest.getInstance("MD5")
    val dims = weights.length
    def w(term: String): Double = {
      md.reset()
      val d = md.digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 6 hex chars = first 3 bytes, as a positive int, mod dims
      val v = ((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)
      weights(v % dims)
    }
    var acc = 0.0
    i = 0
    while (i < toks.length) { acc += w(toks(i)); i += 1 } // unigrams first
    i = 0
    while (i < toks.length - 1) { acc += w(toks(i) + " " + toks(i + 1)); i += 1 }
    val mean = acc / nGrams
    1.0 / (1.0 + Math.exp(-(bias + mean)))
  }
}

/** Native one-pass per-vocabulary-term counts over a token array:
  * `VocabTermCounts(tokens, vocab)` returns `array<long>` aligned with
  * `vocab` — counts(i) = occurrences of vocab(i) in the tokens.
  *
  * The hot kernel of BM25 scoring (reference analog: none — Beam has no
  * retrieval scoring; public BM25 literature, Robertson & Zaragoza 2009).
  * The declarative formulation — `size(filter(tk, t -> t === term))` per
  * query term — rescans the whole token array once PER TERM with an
  * interpreted lambda per token (measured: the 3-query stopword bench
  * stage spent ~5 min here at 10M docs). This walks the tokens once per
  * row with an O(1) hash probe per token inside whole-stage codegen;
  * downstream score folds read counts by index. */
case class VocabTermCounts(child: Expression, vocab: Seq[String])
    extends UnaryExpression {

  require(vocab.nonEmpty, "vocab must be non-empty")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vocab_term_counts requires array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vocab_term_counts"

  @transient private lazy val index: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](vocab.length * 2)
    var i = 0
    while (i < vocab.length) {
      // first index wins on (pathological) duplicate vocab entries
      m.putIfAbsent(UTF8String.fromString(vocab(i)), Integer.valueOf(i))
      i += 1
    }
    m
  }

  /** Called from generated code. */
  def compute(arr: ArrayData): ArrayData = {
    val counts = new Array[Long](vocab.length)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val idx = index.get(arr.getUTF8String(i))
        if (idx != null) counts(idx.intValue()) += 1L
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vocabTermCounts", this,
      classOf[VocabTermCounts].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): VocabTermCounts =
    copy(child = newChild)
}

/** Native nearest-centroid assignment over a driver-held codebook:
  * `NearestCentroid(vec, centers)` returns the index of the L2-nearest
  * centroid — the IVF cell-routing kernel run once per corpus row.
  *
  * The UDF formulation deserialized every vector into a boxed
  * `Seq[Double]` (64 boxed doubles per row through the Catalyst→Scala
  * converter) before the distance loop could start; at 20M corpus rows
  * the conversion dominated the assignment stage. This reads the
  * elements off `ArrayData` into one primitive buffer per row inside
  * whole-stage codegen and runs the identical flat-centers /
  * partial-distance-early-exit loop (same operation order, strict `<`
  * keeps the first-best centroid on ties — assignments bit-identical).
  *
  * The codebook is held FLAT as one primitive `Array[Double]` (r12): the
  * r11 form carried `Seq[Seq[Double]]` through `addReferenceObj(this)`,
  * so every task deserialization rebuilt nlist×dim BOXED Doubles
  * (65,536 objects at nlist=1024, d=64) plus wrapper Seqs before the
  * transient flat buffer could be derived — the one serialized-state
  * suspect the r11 verdict flagged on the regressed IVF stages. A flat
  * primitive array Java-serializes as one contiguous block and
  * deserializes with zero boxing. Arrays compare by reference, so
  * equals/hashCode are overridden structurally — Catalyst
  * canonicalization (exchange reuse, subexpression elimination) behaves
  * exactly as it did with the Seq form. */
case class NearestCentroid(child: Expression, flat: Array[Double],
    k: Int, dim: Int)
    extends UnaryExpression {

  require(k > 0 && dim > 0 && flat.length == k * dim,
    s"flat centers must be k*dim doubles: k=$k dim=$dim len=${flat.length}")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid requires array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "nearest_centroid"

  // structural equality despite the Array field (case-class equals would
  // compare the array by reference and break plan canonicalization)
  override def equals(other: Any): Boolean = other match {
    case NearestCentroid(c, f, kk, dm) =>
      c == child && kk == k && dm == dim && java.util.Arrays.equals(f, flat)
    case _ => false
  }
  // Catalyst hashes expressions often (canonicalization, equivalence
  // maps); hash the codebook once per instance, not once per call
  @transient private lazy val flatHash = java.util.Arrays.hashCode(flat)
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(k), Integer.valueOf(dim),
      Integer.valueOf(flatHash))

  /** Called from generated code. Fields are copied to LOCALS before the
    * loops — a field accessor inside the innermost distance loop blocks
    * JIT hoisting/vectorization (measured: ~2.7× on the 20M-row
    * assignment scan when these were lazy vals — the bug that initially
    * made this expression SLOWER than the boxing UDF it replaced). */
  def compute(arr: ArrayData): Int = {
    val f = flat; val kk = k; val dm = dim
    val n = arr.numElements()
    val v = new Array[Double](n)
    var x = 0
    while (x < n) { v(x) = arr.getDouble(x); x += 1 }
    val d = math.min(dm, n)
    var best = 0; var bd = Double.MaxValue; var c = 0
    while (c < kk) {
      var off = c * dm; var s = 0.0; var j = 0
      while (j < d && s < bd) { val t = f(off) - v(j); s += t * t; j += 1; off += 1 }
      if (s < bd) { bd = s; best = c }
      c += 1
    }
    best
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroid", this,
      classOf[NearestCentroid].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** Native PQ encoder: `PqEncodeCodes(vec, books)` returns the `m`
  * sub-space code indices as an m-byte BINARY (one unsigned byte per
  * sub-space; requires ksub ≤ 256, which PQ's whole premise — byte codes —
  * already assumes) for a vector against driver-held codebooks — the
  * other per-corpus-row kernel of the IVF-PQ build.
  *
  * Binary, not array<int> (r11, guide §2.3 narrower types / §6 columnar):
  * the code VALUES are identical (same strict-`<` first-best argmin), but
  * an 8-element UnsafeArrayData costs ~56 B per row through the
  * cell-repartition exchange where the 8-byte blob costs 16, and the
  * persisted index's codes column becomes 18M fixed-width binaries
  * instead of 144M list-encoded int32 leaves — the encode+write phase
  * dominated the ann_ivfpq_indexed/rebalance stages (measured ~96 s of
  * 142 at 20M vectors, see OPTIMIZATION_r11.md). ADC reads bytes back
  * with `& 0xff`, so scores are bit-identical.
  *
  * Same boxed-Seq-elimination as [[NearestCentroid]]; the flat-codebook /
  * partial-distance argmin loop is unchanged from the UDF form (strict
  * `<`, first-best code on ties — codes bit-identical).
  *
  * Codebooks held FLAT as one primitive `Array[Double]` (r12, same
  * rationale as [[NearestCentroid]]): the r11 `Seq[Seq[Seq[Double]]]`
  * field rebuilt m×ksub×dsub boxed Doubles (16,384 at m=8, ksub=256,
  * dsub=8) per task deserialization; structural equals/hashCode keep
  * canonicalization semantics identical. */
case class PqEncodeCodes(child: Expression, flat: Array[Double],
    m: Int, ksub: Int, dsub: Int)
    extends UnaryExpression {

  require(m > 0 && ksub > 0 && dsub > 0 && flat.length == m * ksub * dsub,
    s"flat codebooks must be m*ksub*dsub doubles: m=$m ksub=$ksub dsub=$dsub len=${flat.length}")
  require(ksub <= 256,
    s"pq_encode emits byte codes: ksub must be ≤ 256, got $ksub")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pq_encode"

  override def equals(other: Any): Boolean = other match {
    case PqEncodeCodes(c, f, mm, ks, ds) =>
      c == child && mm == m && ks == ksub && ds == dsub &&
        java.util.Arrays.equals(f, flat)
    case _ => false
  }
  @transient private lazy val flatHash = java.util.Arrays.hashCode(flat) // see NearestCentroid
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(m), Integer.valueOf(ksub),
      Integer.valueOf(dsub), Integer.valueOf(flatHash))

  /** Called from generated code. Fields copied to locals before the
    * loops — see [[NearestCentroid.compute]] for why. */
  def compute(arr: ArrayData): Array[Byte] = {
    val f = flat; val mm = m; val ks = ksub; val ds = dsub
    val n = arr.numElements()
    val v = new Array[Double](n)
    var x = 0
    while (x < n) { v(x) = arr.getDouble(x); x += 1 }
    val codes = new Array[Byte](mm)
    var j = 0
    while (j < mm) {
      val vOff = j * ds
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < ks) {
        var off = (j * ks + c) * ds
        var s = 0.0; var d = 0
        while (d < ds && s < bd) {
          val t = f(off) - v(vOff + d); s += t * t; d += 1; off += 1
        }
        if (s < bd) { bd = s; best = c }
        c += 1
      }
      codes(j) = best.toByte; j += 1
    }
    codes
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncodeCodes", this,
      classOf[PqEncodeCodes].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeCodes =
    copy(child = newChild)
}
