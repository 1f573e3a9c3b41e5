package graft.dedup

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Exact duplicated-substring detection and removal — the ExactSubstr
  * dedup of Lee et al. 2022 ("Deduplicating Training Data Makes Language
  * Models Better"), re-expressed as Spark instead of a suffix array: a
  * substring of at least `minLen` characters that occurs two or more
  * times ANYWHERE in the corpus (across documents or within one) is
  * reported as a maximal per-document span, and optionally cut out of
  * the text.
  *
  * Reference analog: the Beam model has no native operator for this —
  * it is the training-data-pipeline tier (same family as
  * [[Dedup.minhashNearDups]]), where near-dup finds SIMILAR documents
  * and this finds VERBATIM repeated passages (boilerplate, licenses,
  * quoted chunks) that survive document-level dedup.
  *
  * Anatomy (winnowing, Schleimer et al., SIGMOD'03, plus a bounded
  * character check):
  *
  *   scan → robust winnowing of the g-grams, g = minLen − w + 1, by the
  *     native graft.plans.WinnowedAnchors (~2/(w+1) of positions)
  *   → ONE exchange on the anchor hash; a sorted run walk pairs the
  *     anchors of equal hash
  *   → each pair's two windows of chars [p − (w−1), p + minLen − 1] are
  *     cut from the text (one join per side) and compared by code point;
  *     the matched run through the anchor's gram is kept iff ≥ minLen
  *   → per-document union of the kept runs into maximal spans
  *
  * Why it is exact: a minLen-char substring is exactly one full window of
  * w g-grams, so every copy of it holds that window's minimum gram at the
  * same offset, and those positions are anchors of equal hash. Their
  * pair's window contains the whole substring, so the check keeps a run
  * that covers it; conversely a kept run is a character-verified repeat
  * of ≥ minLen chars. A hash collision costs a check, never a span. Each
  * check is O(minLen + w), whatever the length of the duplicate.
  *
  * Contracts:
  *   - ids are unique bigints; a row with a null id neither reports spans
  *     nor counts as an occurrence, and a null text has no substrings;
  *   - positions count code points, as Spark's `substr` does;
  *   - within-document repeats count (Lee et al. treat self-repetition as
  *     duplication too); a document that repeats a 50-char line twice
  *     reports both copies' spans;
  *   - an anchor hash with more than `maxPerGram` occurrences pairs
  *     nothing (the skip-huge-cluster guard of the LSH bucket cap), so the
  *     covered characters are a subset of the uncapped result, and equal
  *     to it when no anchor hash occurs more than `maxPerGram` times.
  */
object ExactSubstr {

  /** Maximal spans of text covered by a ≥`minLen`-char substring that
    * occurs ≥2 times in the corpus: (id, span_start, span_end), 1-based
    * inclusive character positions.
    *
    * `hashSplit`/`hashPart` bound scratch disk on single-node runs: pass
    * `hashPart` keeps only the anchors with pmod(h, hashSplit) = hashPart.
    * Every anchor pair lands in exactly one pass, so the spans of the
    * passes, merged, are the single-pass spans (spec-pinned). On a real
    * cluster scratch is per-executor and ample — leave the default 1. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 50, w: Int = 10, maxPerGram: Int = 1000,
      hashSplit: Int = 1, hashPart: Int = 0): DataFrame = {
    require(w >= 1 && minLen >= w, s"need 1 <= w <= minLen, got w=$w minLen=$minLen")
    require(df.schema(idCol).dataType == LongType, s"$idCol must be bigint")
    require(hashSplit >= 1 && hashPart >= 0 && hashPart < hashSplit,
      s"hashPart $hashPart must be in [0, $hashSplit)")
    val gramLen = minLen - w + 1
    val docs = df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"), col(textCol).as("t"))
    val allAnchors = docs.select(col("id"),
        explode(graft.functions.winnowedAnchors(col("t"), gramLen, w)).as("a"))
      .select(col("id"), col("a.i").as("i"), col("a.h").as("h"))
    val anchors =
      if (hashSplit == 1) allAnchors
      else allAnchors.filter(pmod(col("h"), lit(hashSplit.toLong)) === hashPart)
    // the matched run through the anchor gram, as offsets [lo, hi] from
    // the anchor; None when shorter than minLen or when the anchor grams
    // differ (a hash collision). `ka`/`kb`: the anchor's index in its window.
    val matchedRun = udf { (a: String, ka: Int, b: String, kb: Int) =>
      val (x, y) = (a.codePoints.toArray, b.codePoints.toArray)
      def same(d: Int) = ka + d >= 0 && kb + d >= 0 &&
        ka + d < x.length && kb + d < y.length && x(ka + d) == y(kb + d)
      var hi = -1
      while (same(hi + 1)) hi += 1
      var lo = 0
      while (same(lo - 1)) lo -= 1
      if (hi >= gramLen - 1 && hi - lo + 1 >= minLen) Some((lo, hi)) else None
    }
    // each side's window: the anchor, up to w − 1 chars before it and
    // minLen − 1 after it, clipped to the text
    def lead(s: String) = least(col(s"pos_$s") - 1, lit(w - 1L))
    def window(s: String) = col(s"t_$s").substr(
      (col(s"pos_$s") - lead(s)).cast("int"), (lead(s) + minLen).cast("int"))
    def side(s: String) = docs.select(col("id").as(s"id_$s"), col("t").as(s"t_$s"))
    val checked = walkSortedAnchors(anchors, maxPerGram)
      .join(side("a"), "id_a").join(side("b"), "id_b")
      .select(col("id_a"), col("pos_a"), col("id_b"), col("pos_b"),
        matchedRun(window("a"), lead("a").cast("int"),
          window("b"), lead("b").cast("int")).as("r"))
      .filter(col("r").isNotNull)
    def run(s: String) = struct(col(s"id_$s").as(idCol),
      (col(s"pos_$s") + col("r._1")).as("__s"), (col(s"pos_$s") + col("r._2")).as("__e"))
    mergeSpans(checked.select(explode(array(run("a"), run("b"))).as("x")).select("x.*"),
      idCol)
  }

  /** Union per-document runs [__s, __e] into maximal spans: a run opens a
    * new span iff it starts after every earlier run's end + 1. */
  private def mergeSpans(runs: DataFrame, idCol: String): DataFrame = {
    val byStart = Window.partitionBy(idCol).orderBy("__s")
    val reach = max("__e").over(byStart.rowsBetween(Window.unboundedPreceding, -1))
    runs.withColumn("__reach", reach)
      .withColumn("__grp", sum(when(col("__reach").isNull ||
        col("__s") > col("__reach") + 1, 1).otherwise(0)).over(byStart))
      .groupBy(col(idCol), col("__grp"))
      .agg(min("__s").as("span_start"), max("__e").as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** Cut every duplicated span out of the text: (id, text_scrubbed).
    * Documents with no duplicated span pass through unchanged. Piece
    * reconstruction is declarative: each span emits the clean segment
    * BEFORE it (from the previous span's end), one tail segment per
    * spanned document, ordered reassembly via sort_array — no UDF, two
    * narrow shuffles on the id. Cut-all semantics (both copies of a
    * duplicated passage are removed), the conservative production choice
    * when either copy may be contaminated. */
  def scrubDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 50): DataFrame = {
    val spans = duplicateSpans(df, idCol, textCol, minLen)
    val w = Window.partitionBy(idCol).orderBy("span_start")
    val doc = df.select(col(idCol), col(textCol).as("__t"))
    val withPrev = spans
      .withColumn("__prev_end", coalesce(lag("span_end", 1).over(w), lit(0L)))
    val between = withPrev.join(doc, Seq(idCol))
      .select(col(idCol), col("span_start").as("__ord"),
        col("__t").substr((col("__prev_end") + 1).cast("int"),
          (col("span_start") - col("__prev_end") - 1).cast("int")).as("__piece"))
    val tails = spans.groupBy(col(idCol))
      .agg(max("span_end").as("__max_end")).join(doc, Seq(idCol))
      .select(col(idCol), (length(col("__t")) + 1).cast("long").as("__ord"),
        col("__t").substr((col("__max_end") + 1).cast("int"),
          greatest(length(col("__t")) - col("__max_end").cast("int"), lit(0))
            .cast("int")).as("__piece"))
    val rebuilt = between.union(tails)
      .groupBy(col(idCol))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("__ord"), col("__piece")))),
        p => p.getField("__piece")), "").as("text_scrubbed"))
    doc.join(rebuilt, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("text_scrubbed"), col("__t")).as("text_scrubbed"))
  }

  /** Every pair of anchors (id, i) that share a hash, as (id_a, pos_a,
    * id_b, pos_b). One sort groups the near-distinct hashes: repartition
    * on h, sort each partition, walk the runs of equal h. A run of more
    * than `maxPerGram` anchors pairs nothing; its buffer stops at
    * maxPerGram + 1 entries, so a corpus-wide hot gram stays bounded. */
  private def walkSortedAnchors(anchors: DataFrame, maxPerGram: Int): DataFrame = {
    val cap = maxPerGram + 1
    val sorted = anchors.select(col("h"), col("id"), col("i"))
      .repartition(col("h")).sortWithinPartitions("h")
    val pairs = sorted.queryExecution.toRdd.mapPartitions { rows =>
      val it = rows.buffered
      val ids = new Array[Long](cap)
      val pos = new Array[Long](cap)
      Iterator.continually(it).takeWhile(_.hasNext).flatMap { _ =>
        val h = it.head.getLong(0)
        var n = 0
        while (it.hasNext && it.head.getLong(0) == h) {
          val r = it.next()
          if (n < cap) { ids(n) = r.getLong(1); pos(n) = r.getLong(2); n += 1 }
        }
        if (n > maxPerGram) Nil
        else for (a <- 0 until n; b <- a + 1 until n)
          yield Row(ids(a), pos(a), ids(b), pos(b))
      }
    }
    anchors.sparkSession.createDataFrame(pairs, StructType(
      Seq("id_a", "pos_a", "id_b", "pos_b").map(StructField(_, LongType))))
  }
}
