package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.similarity.Similarity

/** BM25 keyword retrieval over a document corpus — the lexical half of
  * similarity search (the embedding half lives in
  * [[graft.similarity.Similarity]]). Used in training-data pipelines for
  * targeted selection ("find documents about X"), quality probes, and as
  * the sparse side of hybrid retrieval.
  *
  * Scoring is the standard Okapi/Lucene formulation:
  * {{{
  *   score(q, d) = Σ_{t ∈ q}  idf(t) · tf · (k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *   idf(t)      = ln( (N − df(t) + 0.5) / (df(t) + 0.5) + 1 )
  * }}}
  *
  * Scale anatomy — TWO corpus scans and ZERO wide exchanges (trading a
  * second scan for the exchanges is the right 100 TB call: scans are
  * I/O-bound and embarrassingly parallel, exchanges are the cluster
  * bottleneck):
  *   1. STATS SCAN — one pass computes N, avgdl AND per-term document
  *      frequency together: each document emits one doc-marker struct
  *      plus one struct per distinct query term it contains
  *      (`array_intersect` against the broadcast vocabulary), and a
  *      single map-side-combined aggregate over ≤ |vocab|+1 groups
  *      collapses everything; only task-local partials reach the
  *      exchange. The collected (df, idf) table is driver-bounded by the
  *      query-vocabulary cap (`maxTerms`, same contract as Lookup's
  *      probe-key bound).
  *   2. SCORING SCAN — each query's full (term, idf) array rides in as a
  *      broadcast row and the COMPLETE BM25 score folds per document in
  *      the scan stage (`aggregate` over the term array, tf via
  *      `size(filter(tokens, ...))`), in sorted term order so the FP sum
  *      is deterministic. Non-matching documents die in the scan; what
  *      leaves is only the bounded partial+final top-k accumulator
  *      ([[Similarity.rankTopK]]) — k rows per query per task, never a
  *      per-query candidate set and never a (query, doc) exchange.
  * Scores are rounded before ranking and ties break by doc id, so the
  * top-k is deterministic and engine-portable.
  */
object Bm25 {

  /** Whitespace tokenization shared with the rest of the text suite. */
  private[graft] def tokens(c: Column): Column =
    split(lower(trim(regexp_replace(c, "\\s+", " "))), " ")

  /** Top-k BM25 hits per query.
    *
    * `queries`: (queryIdCol, queryTextCol) — a SMALL table (≤ ~10^4 rows;
    * its distinct vocabulary, capped at `maxTerms`, is collected and
    * broadcast). Output: (query_id, rnk, doc_id, score).
    *
    * NOTE: like the sampled IVF fit, this runs the stats scan EAGERLY at
    * call time (a documented bounded driver collect — ≤ maxTerms+1
    * aggregated rows); the returned frame's own execution is the scoring
    * scan only. */
  def topK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      roundTo: Int = 6, maxTerms: Int = 100000): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("tk"))
      .withColumn("dl", size(col("tk")).cast("double"))
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(tokens(col(queryTextCol)))).as("term"))
    val terms = qterms.select("term").distinct().collect().map(_.getString(0))
    require(terms.length <= maxTerms,
      s"query vocabulary ${terms.length} exceeds maxTerms=$maxTerms — " +
        "BM25 broadcasts the vocabulary; raise the cap only if it still fits")
    if (terms.isEmpty) { // no query terms: empty result, right schema
      val empty = toks.limit(0).select(
        lit(null).cast(queries.schema(queryIdCol).dataType).as("query_id"),
        col("doc_id").as("nn_id"), lit(0.0).as("sim"))
      return Similarity.rankTopK(empty, k)
        .withColumnRenamed("nn_id", "doc_id").withColumnRenamed("sim", "score")
    }
    val termsLit = array(terms.sorted.map(lit(_)): _*)

    // stats scan: one map-side-combined aggregate yields N + avgdl (the
    // doc-marker group) and df(t) for every vocabulary term
    val grouped = toks.select(explode(concat(
        array(struct(lit(true).as("is_doc"),
          lit(null).cast("string").as("term"), col("dl"))),
        transform(array_intersect(array_distinct(col("tk")), termsLit),
          t => struct(lit(false).as("is_doc"), t.as("term"), col("dl"))))).as("e"))
      .groupBy(col("e.is_doc").as("is_doc"), col("e.term").as("term"))
      .agg(count(lit(1)).cast("double").as("cnt"), avg(col("e.dl")).as("ad"))
      .collect()
    val docRow = grouped.find(_.getBoolean(0))
    if (docRow.isEmpty) { // empty corpus
      val empty = toks.limit(0).select(
        lit(null).cast(queries.schema(queryIdCol).dataType).as("query_id"),
        col("doc_id").as("nn_id"), lit(0.0).as("sim"))
      return Similarity.rankTopK(empty, k)
        .withColumnRenamed("nn_id", "doc_id").withColumnRenamed("sim", "score")
    }
    val nDocs = docRow.get.getDouble(2)
    val avgdl = docRow.get.getDouble(3)
    // idf mirrors the SQL expression bit-for-bit (same IEEE ops, same order)
    val idfOf = grouped.iterator.filterNot(_.getBoolean(0)).map { r =>
      val df = r.getDouble(2)
      r.getString(1) -> math.log((nDocs - df + 0.5) / (df + 0.5) + 1)
    }.toMap
    val s = docs.sparkSession
    import scala.jdk.CollectionConverters._
    // the sorted global vocab also fixes the tfv layout: tfv(i) counts
    // sortedTerms(i), so the fold reads term frequencies by index
    val sortedTerms = terms.sorted.toSeq
    val idxOf = sortedTerms.zipWithIndex.toMap
    val idfDf = s.createDataFrame(
      idfOf.toSeq.sortBy(_._1).map { case (t, w) =>
        org.apache.spark.sql.Row(t, w, idxOf(t)) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("term",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("idx",
          org.apache.spark.sql.types.IntegerType))))
    // per-query (term, weight, idx) arrays, term-sorted for a
    // deterministic fold (terms are distinct per query, so the extra
    // struct fields never affect the sort)
    val qw = qterms.join(idfDf, Seq("term")) // df=0 terms contribute nothing
      .groupBy("query_id")
      .agg(array_sort(collect_list(
        struct(col("term"), col("w"), col("idx")))).as("qw"))

    // scoring scan: full BM25 per (query, doc) as scan-stage arithmetic.
    // Term frequencies come from ONE native pass over the token array
    // (graft.plans.VocabTermCounts) — the per-term `filter(tk, ...)`
    // formulation rescanned the tokens once per query term with an
    // interpreted lambda per token (measured 333 s → 86 s for the
    // 3-stopword-query bench stage at 10M docs; scores bit-identical, the
    // fold order and IEEE ops are unchanged).
    val lenNorm = col("dl") / avgdl * (b * k1) + lit(k1 * (1 - b))
    val scored = toks
      .withColumn("tfv", graft.functions.vocabTermCounts(col("tk"), sortedTerms))
      .crossJoin(broadcast(qw))
      .withColumn("raw", aggregate(col("qw"), lit(0.0), (acc, e) => {
        val tf = element_at(col("tfv"), e("idx") + lit(1)).cast("double")
        // same IEEE op order as the SQL oracle: ((idf·tf)·(k1+1)) / denom
        acc + when(tf > 0,
          e("w") * tf * (k1 + 1) / (tf + lenNorm)).otherwise(0.0)
      }))
      .filter(col("raw") > 0) // contributions are strictly positive
      .select(col("query_id"), col("doc_id").as("nn_id"),
        round(col("raw"), roundTo).as("sim"))
    Similarity.rankTopK(scored, k)
      .withColumnRenamed("nn_id", "doc_id")
      .withColumnRenamed("sim", "score")
  }

  // ---- persisted inverted index (build / serve / append) -----------------
  //
  // [[topK]] scans the corpus per query batch — the right plan for ad-hoc
  // selection sweeps. A retrieval DEPLOYMENT builds the inverted index
  // once and answers from it: the postings table below is the lexical
  // counterpart of the persisted IVF-PQ/band-index serving layouts, with
  // the same contract — term-bucketed parquet so a query's work is
  // bucket-file SEEKS (graft.api.Lookup) over its own terms only, never a
  // corpus scan, plus append maintenance whose cost is increment-sized.
  //
  // Layout: `<table>`       (term, doc_id, tf, dl)  bucketed by term
  //         `<table>_stats` (term, df)              bucketed by term
  //         `<table>_meta`  (n_docs, sum_dl, buckets) one row
  //
  // dl rides denormalized on every posting so scoring needs no doc-table
  // join; df is persisted (not recomputed from postings at query time) so
  // idf costs |query terms| seeks. The build's one wide exchange — token
  // instances grouped to (term, doc) — is the canonical inverted-index
  // construction cost and is paid once; queries and appends never repeat
  // it over history.

  /** (term, doc_id, tf, dl) postings of a corpus — one row per distinct
    * (document, term), tf the in-document count, dl the document length
    * under the shared tokenizer. */
  private[graft] def postings(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
      .withColumn("dl", size(col("tk")).cast("double"))
      .select(col("doc_id"), col("dl"), explode(col("tk")).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))

  /** DROP a managed table AND its warehouse location: a fresh session's
    * catalog does not know a previous session's tables, so `DROP IF
    * EXISTS` alone leaves the old directory behind and the next
    * `saveAsTable` dies with LOCATION_ALREADY_EXISTS. The location is
    * resolved from the CATALOG while the table still exists (correct for
    * `db.tbl`-qualified names and a non-default current database, whose
    * real layout is `warehouse/<db>.db/<tbl>`); only for a table no
    * session knows any more does the path fall back to the same layout
    * derivation. Deleting the location after the catalog drop is safe in
    * both worlds (the drop already removed it when the catalog knew the
    * table). */
  def dropIndexTable(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = {
    val loc: Option[org.apache.hadoop.fs.Path] =
      try {
        if (spark.catalog.tableExists(name))
          Some(new org.apache.hadoop.fs.Path(
            spark.sessionState.catalog.getTableMetadata(
              spark.sessionState.sqlParser.parseTableIdentifier(name)).location))
        else None
      } catch { case _: Throwable => None }
    spark.sql(s"DROP TABLE IF EXISTS $name")
    try {
      val p = loc.getOrElse {
        val wh = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"))
        val (db, tbl) = name.split("\\.") match {
          case Array(d, t) => (d, t)
          case _ => (spark.catalog.currentDatabase, name)
        }
        if (db.equalsIgnoreCase("default"))
          new org.apache.hadoop.fs.Path(wh, tbl.toLowerCase)
        else new org.apache.hadoop.fs.Path(wh,
          s"${db.toLowerCase}.db/${tbl.toLowerCase}")
      }
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    } catch { case _: Throwable => }
  }

  /** Replace every live table `t` of `targets` with its freshly written
    * `t_tmp`, as ONE set, by rename-aside: each live `t` → `t_old`, then
    * each `t_tmp` → `t`, then each `t_old` dropped. A crash between any
    * two steps leaves complete tables on disk — never the no-table window
    * of a drop-then-rename swap — and [[repairSwap]] turns them into the
    * whole pre-swap or the whole post-swap set. */
  private[graft] def swapTables(spark: org.apache.spark.sql.SparkSession,
      targets: Seq[String]): Unit = {
    targets.foreach(t => dropIndexTable(spark, s"${t}_old")) // stale location
    targets.filter(spark.catalog.tableExists)
      .foreach(t => spark.sql(s"ALTER TABLE $t RENAME TO ${t}_old"))
    targets.foreach(t => spark.sql(s"ALTER TABLE ${t}_tmp RENAME TO $t"))
    targets.foreach(t => dropIndexTable(spark, s"${t}_old"))
  }

  /** Finish or undo a [[swapTables]] a crash interrupted. When every live
    * table exists, the swap never started renaming or got past its last
    * rename-in: drop the stranded `_old` tables (the post-state). Otherwise
    * rename each `_old` back over its missing or new live table (the
    * pre-state). Leftover `_tmp` tables are dropped either way. */
  private[graft] def repairSwap(spark: org.apache.spark.sql.SparkSession,
      targets: Seq[String]): Unit = {
    def exists(t: String) = spark.catalog.tableExists(t)
    if (!targets.forall(exists))
      targets.filter(t => exists(s"${t}_old")).foreach { t =>
        if (exists(t)) dropIndexTable(spark, t)
        spark.sql(s"ALTER TABLE ${t}_old RENAME TO $t")
      }
    for (t <- targets; x <- Seq(s"${t}_old", s"${t}_tmp") if exists(x))
      dropIndexTable(spark, x)
  }

  /** Build the persisted index. `buckets` fixes the term-bucket count for
    * the table's lifetime (appends read it back from the meta row).
    * Self-cleaning: any previous incarnation of the three tables is
    * dropped (catalog + stale location) first — which also means `docs`
    * must NOT itself read from the table being rebuilt (the
    * lazily-scanned-source rule; rebuild through a fresh name and swap
    * if in-place semantics are needed). */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      table: String, buckets: Int = 64): Unit = {
    val spark = docs.sparkSession
    // incl. any _tmp/_old strandings a crashed append left behind
    Seq(table, s"${table}_stats", s"${table}_meta",
        s"${table}_stats_tmp", s"${table}_stats_old",
        s"${table}_meta_tmp", s"${table}_meta_old")
      .foreach(dropIndexTable(spark, _))
    postings(docs, idCol, textCol)
      .repartition(col("term"))
      .write.mode("overwrite").bucketBy(buckets, "term").sortBy("term")
      .format("parquet").saveAsTable(table)
    // df from the persisted postings: one narrow (term, count) aggregate
    spark.table(table).groupBy("term").agg(count(lit(1)).as("df"))
      .repartition(col("term"))
      .write.mode("overwrite").bucketBy(buckets, "term").sortBy("term")
      .format("parquet").saveAsTable(s"${table}_stats")
    writeMeta(docs.select(tokens(col(textCol)).as("tk"))
        .agg(count(lit(1)).as("n"), coalesce(sum(size(col("tk")).cast("double")),
          lit(0.0)).as("s")).head() match {
        case r => (r.getLong(0), r.getDouble(1))
      }, spark, s"${table}_meta", buckets)
  }

  private def writeMeta(nAndSum: (Long, Double),
      spark: org.apache.spark.sql.SparkSession, metaTable: String,
      buckets: Int): Unit = {
    val s = spark
    import s.implicits._
    Seq((nAndSum._1, nAndSum._2, buckets))
      .toDF("n_docs", "sum_dl", "buckets")
      .coalesce(1).write.mode("overwrite").format("parquet")
      .saveAsTable(metaTable)
  }

  /** Fold NEW documents into a persisted index. Postings append is
    * increment-sized; the (term, df) stats table is merged and swapped
    * (a narrow O(vocabulary) rewrite — the disclosed maintenance cost,
    * same swap discipline as the IVF rebalance: never overwrite a table
    * a live plan lazily reads). Document ids must be NEW — re-ingesting
    * an id double-counts its df, the [[graft.dedup.Dedup.appendToBandIndex]]
    * contract.
    *
    * Crash safety: the stats and meta replacements each go through
    * [[swapTables]]' rename-aside, so a failure between any two steps
    * leaves a complete table on disk — either the live one or its `_old`
    * — and THIS method repairs a half-finished swap on entry
    * ([[repairSwap]]). The one non-idempotent step remains the
    * postings append itself: a retry AFTER postings committed but before
    * the stats swap would re-append the increment — recover with
    * [[repairStatsFromPostings]] (do NOT retry the append), which
    * recomputes stats/meta from whatever the postings table now holds. */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      docsInc: DataFrame, idCol: String, textCol: String): Unit = {
    Seq("_stats", "_meta").foreach(t => repairSwap(spark, Seq(table + t)))
    val meta = spark.table(s"${table}_meta").head()
    val buckets = meta.getAs[Int]("buckets")
    val p = postings(docsInc, idCol, textCol)
    p.repartition(col("term"))
      .write.mode("append").bucketBy(buckets, "term").sortBy("term")
      .format("parquet").saveAsTable(table)
    val merged = spark.table(s"${table}_stats")
      .unionByName(p.groupBy("term").agg(count(lit(1)).as("df")))
      .groupBy("term").agg(sum("df").as("df"))
    val tmp = s"${table}_stats_tmp"
    dropIndexTable(spark, tmp)
    merged.repartition(col("term"))
      .write.mode("overwrite").bucketBy(buckets, "term").sortBy("term")
      .format("parquet").saveAsTable(tmp)
    swapTables(spark, Seq(s"${table}_stats"))
    val inc = docsInc.select(tokens(col(textCol)).as("tk"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(size(col("tk")).cast("double")), lit(0.0)).as("s")).head()
    val metaTmp = s"${table}_meta_tmp"
    dropIndexTable(spark, metaTmp)
    writeMeta((meta.getAs[Long]("n_docs") + inc.getLong(0),
      meta.getAs[Double]("sum_dl") + inc.getDouble(1)),
      spark, metaTmp, buckets)
    swapTables(spark, Seq(s"${table}_meta"))
  }

  /** Rebuild the `_stats` and `_meta` tables FROM the postings table —
    * the recovery for [[appendToIndex]]'s one non-idempotent window (a
    * crash after the increment's postings committed but before the
    * stats/meta swaps). Both side tables are pure functions of the
    * postings: df is the per-term posting count, and n_docs / sum_dl fold
    * from one (denormalized) dl per document — every document owns at
    * least one posting under the shared tokenizer (empty text tokenizes
    * to the one-element empty-string array), so no document is invisible
    * to the recount. After this runs, the index answers exactly as a
    * fresh [[buildIndex]] over the same corpus would (spec-pinned).
    *
    * Cost is O(postings) — a maintenance scan of the index itself, never
    * of the corpus; bucket count is read from the surviving meta row when
    * there is one, else from the postings table's own bucket spec, and
    * the replacement rides the same [[swapTables]] rename-aside as every
    * other stats/meta write (this method is itself crash-safe and
    * idempotent — safe to re-run). */
  def repairStatsFromPostings(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    Seq("_stats", "_meta").foreach(t => repairSwap(spark, Seq(table + t)))
    val buckets: Int =
      (try Some(spark.table(s"${table}_meta").head().getAs[Int]("buckets"))
       catch { case _: Throwable => None })
        .orElse(spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table))
          .bucketSpec.map(_.numBuckets))
        .getOrElse(64)
    val p = spark.table(table)
    val tmp = s"${table}_stats_tmp"
    dropIndexTable(spark, tmp)
    p.groupBy("term").agg(count(lit(1)).as("df"))
      .repartition(col("term"))
      .write.mode("overwrite").bucketBy(buckets, "term").sortBy("term")
      .format("parquet").saveAsTable(tmp)
    swapTables(spark, Seq(s"${table}_stats"))
    val agg = p.groupBy("doc_id").agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0.0)).as("s")).head()
    val metaTmp = s"${table}_meta_tmp"
    dropIndexTable(spark, metaTmp)
    writeMeta((agg.getLong(0), agg.getDouble(1)), spark, metaTmp, buckets)
    swapTables(spark, Seq(s"${table}_meta"))
  }

  /** Top-k BM25 from the persisted index: idf resolves through stats
    * bucket seeks, candidates through postings bucket seeks — only the
    * query terms' bucket files are ever read (the Lookup contract), so
    * query cost scales with matched postings, not corpus size. Scores are
    * bit-compatible with [[topK]]: per-document contributions fold in
    * sorted term order from the same 0.0, with the same IEEE op order
    * (zero-tf terms add +0.0 in the in-job fold, which is exact), and the
    * same round + id tie-break. Pinned ≡ topK in Bm25IndexSpec. */
  def topKIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      roundTo: Int = 6, maxTerms: Int = 100000): DataFrame = {
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(tokens(col(queryTextCol)))).as("term"))
    val terms = qterms.select("term").distinct().collect().map(_.getString(0))
    require(terms.length <= maxTerms,
      s"query vocabulary ${terms.length} exceeds maxTerms=$maxTerms")
    val meta = spark.table(s"${table}_meta").head()
    val nDocs = meta.getAs[Long]("n_docs").toDouble
    def emptyResult = {
      val empty = spark.table(table).limit(0).select(
        lit(null).cast(queries.schema(queryIdCol).dataType).as("query_id"),
        col("doc_id").as("nn_id"), lit(0.0).as("sim"))
      Similarity.rankTopK(empty, k)
        .withColumnRenamed("nn_id", "doc_id").withColumnRenamed("sim", "score")
    }
    if (terms.isEmpty || nDocs == 0) return emptyResult
    val avgdl = meta.getAs[Double]("sum_dl") / nDocs
    val s2 = spark
    import s2.implicits._
    val probe = terms.toSeq.toDF("pterm")
    // idf: |query terms| point lookups against the stats buckets — the
    // same formula and IEEE op order as the in-job stats scan
    val idfRows = graft.api.Lookup.lookupJoin(spark, probe,
        s"${table}_stats", "pterm", "term")
      .select(col("term"), col("df").cast("double").as("df"))
      .collect()
      .map(r => (r.getString(0),
        math.log((nDocs - r.getDouble(1) + 0.5) / (r.getDouble(1) + 0.5) + 1)))
    if (idfRows.isEmpty) return emptyResult // no query term indexed
    val idfDf = idfRows.toSeq.toDF("term", "w")
    val qw = qterms.join(idfDf, Seq("term")) // unindexed terms drop (df=0)
      .select(col("query_id"), col("term"), col("w"))
    // candidates: postings bucket seeks for the query terms only
    val post = graft.api.Lookup.lookupJoin(spark, probe, table, "pterm", "term")
      .select(col("term"), col("doc_id"), col("tf").cast("double").as("tf"),
        col("dl"))
    val lenNorm = col("dl") / avgdl * (b * k1) + lit(k1 * (1 - b))
    val scored = post.join(broadcast(qw), Seq("term"))
      // same IEEE op order as topK's fold body
      .withColumn("c", col("w") * col("tf") * (k1 + 1) / (col("tf") + lenNorm))
      .groupBy("query_id", "doc_id")
      // deterministic per-document fold: sorted (term, contribution)
      // structs re-create topK's sorted-term sum exactly
      .agg(aggregate(array_sort(collect_list(struct(col("term"), col("c")))),
        lit(0.0), (acc, e) => acc + e("c")).as("raw"))
      .select(col("query_id"), col("doc_id").as("nn_id"),
        round(col("raw"), roundTo).as("sim"))
    Similarity.rankTopK(scored, k)
      .withColumnRenamed("nn_id", "doc_id")
      .withColumnRenamed("sim", "score")
  }
}
