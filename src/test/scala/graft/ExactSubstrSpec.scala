package graft

import org.apache.spark.sql.functions._
import graft.dedup.ExactSubstr
import graft.similarity.Similarity

class ExactSubstrSpec extends GraftSpec {
  import spark.implicits._

  // 0/1 share a verbatim 46-char passage embedded in different text;
  // 2 repeats a 40-char line twice WITHIN itself; 3 is clean.
  private val shared = "alpha beta gamma delta epsilon zeta eta theta" // 45 chars
  private val selfRep = "this exact line repeats twice in one doc" // 40 chars
  private lazy val docs = Seq(
    (0L, s"unique preamble zero || $shared || unique tail zero"),
    (1L, s"totally different head one .. $shared .. other tail"),
    (2L, s"$selfRep and then $selfRep"),
    (3L, "completely original text with no repeated passages at all anywhere"))
    .toDF("doc_id", "text")

  test("duplicateSpans finds cross-doc and within-doc repeats, skips clean docs") {
    val spans = ExactSubstr.duplicateSpans(docs, "doc_id", "text", minLen = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = spans.groupBy(_._1)
    assert(byDoc.contains(0L) && byDoc.contains(1L), s"cross-doc pair missed: ${spans.toSeq}")
    assert(byDoc.contains(2L), s"within-doc repeat missed: ${spans.toSeq}")
    assert(!byDoc.contains(3L), s"clean doc flagged: ${spans.toSeq}")
    // doc 0's span must cover the shared passage exactly where it sits
    val t0 = docs.filter($"doc_id" === 0).select("text").as[String].head()
    val (s0, e0) = (byDoc(0L).map(_._2).min, byDoc(0L).map(_._3).max)
    val covered = t0.substring(s0.toInt - 1, e0.toInt)
    assert(covered.contains(shared), s"span [$s0,$e0] covers '$covered'")
  }

  test("spans are maximal: overlapping duplicated grams merge into one span per region") {
    val spans = ExactSubstr.duplicateSpans(docs, "doc_id", "text", minLen = 40)
    // the shared passage in doc 0 is one contiguous region → exactly 1 span
    assert(spans.filter($"doc_id" === 0).count() == 1)
    // doc 2's repeated 40-char line marks positions 1 and 51 only (grams
    // crossing the ' and then ' junction occur once); the 50-char gap
    // exceeds minLen, so the two copies stay two separate exact spans
    val s2 = spans.filter($"doc_id" === 2)
      .select("span_start", "span_end").as[(Long, Long)].collect().toSet
    assert(s2 == Set((1L, 40L), (51L, 90L)), s"doc 2 spans: $s2")
  }

  test("scrub removes exactly the spanned characters and preserves clean docs") {
    val spans = ExactSubstr.duplicateSpans(docs, "doc_id", "text", minLen = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val covered = spans.groupBy(_._1).view.mapValues(_.map(s => s._3 - s._2 + 1).sum).toMap
    val out = ExactSubstr.scrubDuplicateSpans(docs, "doc_id", "text", minLen = 40)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val orig = docs.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    orig.foreach { case (id, t) =>
      assert(out(id).length == t.length - covered.getOrElse(id, 0L),
        s"doc $id: scrubbed len ${out(id).length} vs orig ${t.length} minus ${covered.getOrElse(id, 0L)}")
    }
    assert(out(3L) == orig(3L)) // untouched
    assert(!out(0L).contains(shared) && !out(1L).contains(shared))
  }

  /** (1-based position, hash) of every anchor the native kernel keeps. */
  private def anchors(t: String, gramLen: Int, w: Int): Seq[(Long, Long)] = {
    val a = graft.plans.WinnowedAnchors.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(t), gramLen, w)
    (0 until a.numElements()).map { j =>
      val r = a.getStruct(j, 2); (r.getLong(0), r.getLong(1)) }
  }

  test("anchor rule: a run of w grams shares an anchor behind 24 random prefixes") {
    // robust winnowing: the run's one full window holds its minimum gram
    // at the same offset in both copies. A rule that keeps only the
    // minimum of the window ENDING at a gram lets the differing prefix
    // grams hide that minimum in one copy.
    val (gramLen, w) = (31, 10)
    val rnd = new scala.util.Random(20261021L)
    def noise(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    for (trial <- 0 until 24) {
      val run = noise(gramLen + w - 1)
      val (p1, p2) = (noise(5 + rnd.nextInt(40)) + "<", noise(5 + rnd.nextInt(40)) + "[")
      val (t1, t2) = (p1 + run + ">" + noise(20), p2 + run + "]" + noise(20))
      val (a1, a2) = (anchors(t1, gramLen, w).toSet, anchors(t2, gramLen, w).toSet)
      val common = (0 until w).filter(k =>
        a1.exists(_._1 == p1.length + 1 + k) && a2.exists(_._1 == p2.length + 1 + k))
      assert(common.nonEmpty, s"trial $trial: no common anchor in\n$t1\n$t2")
    }
  }

  test("native winnowed anchors equal the declarative formulation") {
    // the interpreted reference: per-position xxhash64 of the gram, the
    // minimum of every full window of w grams (one window when a text
    // has fewer), and a gram is an anchor iff it equals the minimum of
    // some window that contains it
    import org.apache.spark.sql.functions._
    val gramLen = 8
    val w = 4
    val docs = Seq(
      "abcdefghijklmnopqrstuvwxyz abcdefghijklmnop",
      "aaaaaaaaaaaaaaaaaaaa",            // all-equal hashes: every tie kept
      "short",                           // < gramLen: no anchors
      "exactly8",                        // == gramLen: one gram
      "café au lait crème brûlée et café au lait", // multibyte
      "",
      "nine char")                       // 2 grams < w: one window
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val hs = when(length(col("t")) >= gramLen,
      transform(sequence(lit(1), length(col("t")) - (gramLen - 1)),
        i => xxhash64(col("t").substr(i, lit(gramLen)))))
      .otherwise(array().cast("array<bigint>"))
    val n = size(col("__hs"))
    val win = least(n, lit(w))
    val nw = n - win + 1
    val reference = docs.withColumn("__hs", hs)
      .filter(n > 0)
      .withColumn("__mins", transform(sequence(lit(1), nw),
        j => array_min(slice(col("__hs"), j, win))))
      .select(col("id"), explode(filter(
        transform(sequence(lit(1), n), i =>
          struct(i.cast("long").as("i"), element_at(col("__hs"), i).as("h"),
            exists(sequence(greatest(lit(1), i - win + 1), least(i, nw)),
              j => element_at(col("__mins"), j) === element_at(col("__hs"), i)).as("m"))),
        s => s.getField("m"))).as("a"))
      .select(col("id"), col("a.i"), col("a.h"))
      .as[(Long, Long, Long)].collect().toSet
    val native = docs.select(col("id"),
        explode(graft.functions.winnowedAnchors(col("t"), gramLen, w)).as("a"))
      .select(col("id"), col("a.i"), col("a.h"))
      .as[(Long, Long, Long)].collect().toSet
    assert(native == reference)
    assert(native.count(_._1 == 1L) == 13) // ties all kept
    assert(!native.exists(r => r._1 == 2L || r._1 == 5L)) // short/empty
    assert(native.count(_._1 == 3L) == 1 && native.exists(_._1 == 6L))
  }

  test("ivf-pq with exact rerank matches brute force on clustered vectors") {
    // 3 tight clusters in 16-d; every query's true top-3 is its own cluster
    val rng = new scala.util.Random(7)
    val vecs = (0 until 120).map { i =>
      val c = i % 3
      val base = Array.tabulate(16)(d => if (d % 3 == c) 1.0 else 0.05)
      (i.toLong, base.map(x => (x + rng.nextGaussian() * 0.02).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 3)
    val exact = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", k = 3)
    // rerank must cover a full 40-member cluster: the tight clusters
    // quantize to IDENTICAL codes, so ADC ties the whole cluster and the
    // shortlist below ~40 is an arbitrary tied subset
    val pq = Similarity.ivfPqTopK(vecs, queries, "vec_id", "embedding",
      k = 3, nlist = 4, nprobe = 4, m = 4, ksub = 8, rerank = 60)
    val e = exact.select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val p = pq.select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    assert((e intersect p).size >= 8, s"recall too low: exact=$e pq=$p")
  }

  test("pq codes compress: encode emits m small codes plus the stored norm") {
    val rng = new scala.util.Random(3)
    val vecs = (0 until 64).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(vecs, "embedding", m = 4, ksub = 8,
      trainFraction = 1.0)
    assert(books.length == 4 && books.forall(_.length == 8) &&
      books.forall(_.forall(_.length == 4)))
    val enc = Similarity.pqEncode(vecs, "vec_id", "embedding", books).collect()
    assert(enc.length == 64)
    enc.foreach { r =>
      // codes are an m-byte binary since r11 (one unsigned byte per sub-space)
      val codes = r.getAs[Array[Byte]](1)
      assert(codes.length == 4 && codes.forall(c => (c & 0xff) >= 0 && (c & 0xff) < 8))
      assert(r.getDouble(2) > 0.0)
    }
  }
}
