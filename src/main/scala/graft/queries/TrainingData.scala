package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.dedup.{Dedup, DupClusters, SemDeDup}
import graft.similarity.Similarity
import graft.api.Sampling
import graft.pack.Packing
import graft.text.{Bpe, Decontaminate, TextAnalysis}
import graft.multimodal.Multimodal
import graft.functions._

/** Training-data pipeline operators over the documents/embeddings tables:
  * dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard), similarity search
  * (brute-force + LSH ANN), text analysis (lang-ID, quality, tokens,
  * fingerprints), and multimodal binary plumbing.
  *
  * Oracles: everything hash-portable (md5-based fingerprints, exact
  * Jaccard, cosine, token statistics) is DuckDB-verified; xxhash64-based
  * sketches (MinHash candidates pre-verify, SimHash, hyperplane LSH) are
  * engine-local, so their queries are designed to end in an *exact*
  * verification step — the LSH part only proposes candidates — which makes
  * MinHash near-dup output equal to the all-pairs exact answer (miss
  * probability < 1e-9 at the 0.7 threshold with r=3, b=50).
  */
object TrainingData extends QueryModule {

  // Exact dedup via portable md5 fingerprint (hash-groupBy).
  private def d60(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(s, dir), "doc_id", "text")
      .select(col("fp"), col("kept_id"), col("n_dups"))
      .orderBy("kept_id")

  private val d60Sql =
    """SELECT substring(md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), 1, 16) AS fp,
      |  min(doc_id) AS kept_id, CAST(count(*) AS BIGINT) AS n_dups
      |FROM documents GROUP BY 1 ORDER BY kept_id""".stripMargin

  // Exact n-gram Jaccard against a probe document (doc_id 0) — the exact
  // kernel the LSH path verifies with, checked end-to-end against DuckDB's
  // independent list-based construction.
  private def d61(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), charShingleHashes(col("text"), 3).as("sh"))
    val probe = docs.filter(col("doc_id") === 0)
      .select(col("sh").as("probe_sh"))
    docs.crossJoin(broadcast(probe))
      // size prefilter is implied by j > 0.4, so it only prunes work
      .filter(Dedup.sizeCompatible(col("sh"), col("probe_sh"), 0.4))
      .withColumn("j", Dedup.jaccard(col("sh"), col("probe_sh")))
      .filter(col("j") > 0.4 && col("doc_id") =!= 0)
      .select(col("doc_id"), round(col("j"), 6).as("j"))
      .orderBy("doc_id")
  }

  private val d61Sql =
    """WITH d AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) t
      |           FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |         generate_series(1, greatest(len(t) - 2, 1)), i -> t[i:i+2])) s
      |       FROM d),
      |probe AS (SELECT s AS ps FROM sh WHERE doc_id = 0)
      |SELECT doc_id,
      |  round(len(list_intersect(s, ps))::DOUBLE
      |        / len(list_distinct(list_concat(s, ps))), 6) AS j
      |FROM sh, probe
      |WHERE doc_id <> 0
      |  AND len(list_intersect(s, ps))::DOUBLE
      |      / len(list_distinct(list_concat(s, ps))) > 0.4
      |ORDER BY doc_id""".stripMargin

  // MinHash + LSH near-dup pairs (5-gram shingles, densified
  // one-permutation signatures, ≥2-band agreement), exact-verified at
  // threshold 0.7; the oracle is the brute-force all-pairs answer (LSH
  // recall ≈ 1 by the banding math — see Dedup.minhashNearDups).
  private def d62(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(Tables.documents(s, dir), "doc_id", "text",
      threshold = 0.7, shingleN = 5, numHashes = 200, bands = 50)
      .orderBy("id_a", "id_b")

  private val d62Sql =
    """WITH d AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) t
      |           FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |         generate_series(1, greatest(len(t) - 4, 1)), i -> t[i:i+4])) s
      |       FROM d)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  round(len(list_intersect(a.s, b.s))::DOUBLE
      |        / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard_sim
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.s, b.s))::DOUBLE
      |      / len(list_distinct(list_concat(a.s, b.s))) > 0.7
      |ORDER BY id_a, id_b""".stripMargin

  // SimHash near-dups — xxhash64 signatures are engine-local, so the gate
  // is a checked ACCURACY contract instead of a value compare (reference
  // analog: the sketching extension's accuracy-bounded tests,
  // extensions/sketching/.../TDigestQuantilesTest.java): every exact
  // near-dup pair (5-gram Jaccard > 0.7, the DuckDB-verified d62 answer)
  // must surface among the simhash hamming≤12 candidates. The oracle
  // re-derives n_exact_pairs and pins recall_ok TRUE. maxHamming=12:
  // measured hamming of exact pairs tops out at 9 across the testdata
  // SFs (a 0.7-Jaccard pair CAN flip 9 of 64 bits), so 8 missed one pair
  // at sf0.001 — 12 holds the every-pair contract with margin at every SF.
  private def d63(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val exact = Dedup.minhashNearDups(docs, "doc_id", "text",
      threshold = 0.7, shingleN = 5, numHashes = 200, bands = 50)
      .select(col("id_a"), col("id_b"))
    val cand = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 12)
      .select(col("id_a"), col("id_b"))
    val hit = exact.join(cand, Seq("id_a", "id_b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact_pairs"))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_exact_pairs"),
        (col("n_hit") === col("n_exact_pairs")).as("recall_ok"))
  }

  private val d63Sql =
    """WITH d AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) t
      |           FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |         generate_series(1, greatest(len(t) - 4, 1)), i -> t[i:i+4])) s
      |       FROM d)
      |SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs, TRUE AS recall_ok
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.s, b.s))::DOUBLE
      |      / len(list_distinct(list_concat(a.s, b.s))) > 0.7""".stripMargin

  // Brute-force cosine top-k over embeddings (exact ANN baseline).
  private def d64(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rnk")
  }

  private val d64Sql =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |           FROM embeddings WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS nn_id,
      |    round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 4) AS sim
      |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, nn_id, sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id) AS rnk
      |  FROM scored)
      |SELECT query_id, CAST(rnk AS INT) AS rnk, nn_id, sim
      |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** recall@k of an approximate top-k against the exact brute-force
    * answer (the DuckDB-green d64 result), as a gated contract row:
    * (n_queries, recall_ok). Missing queries in the approximate result
    * count as zero hits (left join from the exact side). */
  private def annRecallGate(exact: DataFrame, approx: DataFrame,
      k: Int, minRecall: Double): DataFrame = {
    val hits = exact.select("query_id", "nn_id")
      .join(approx.select("query_id", "nn_id"), Seq("query_id", "nn_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    val perQuery = exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / k).as("recall"))
    perQuery.agg(count(lit(1)).as("n_queries"),
      (avg(col("recall")) >= minRecall).as("recall_ok"))
  }

  private val annOracleSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
      |FROM embeddings WHERE vec_id < 5""".stripMargin

  // LSH-bucketed ANN — hyperplane signatures are engine-local, so the
  // gate is a pinned recall@5 contract vs the exact brute-force top-k
  // (mean recall ≥ 0.7 at nBits=4, tables=16 on this corpus).
  private def d65(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
      k = 5, nBits = 4, tables = 16)
    annRecallGate(exact, approx, k = 5, minRecall = 0.7)
  }

  // Semantic decontamination — the embedding-side complement of t106's
  // n-gram rule: corpus docs whose max cosine vs ANY benchmark embedding
  // clears 0.99 are flagged (benchmark = vec_id < 10, which are corpus
  // members, so exactly those flag at cos 1.0; natural max cos on this
  // corpus is ~0.60, leaving wide threshold margin on both engines).
  private def d136(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val bench = emb.filter(col("vec_id") < 10)
    Decontaminate.semanticFlag(emb, "vec_id", "embedding",
        bench, "embedding", threshold = 0.99)
      .select(col("vec_id"), round(col("max_benchmark_cos"), 4)
        .as("max_benchmark_cos"), col("contaminated"))
      .orderBy("vec_id")
  }

  private val d136Sql =
    """WITH b AS (SELECT embedding::DOUBLE[] AS bv FROM embeddings WHERE vec_id < 10),
      |s AS (SELECT e.vec_id,
      |        max(list_cosine_similarity(e.embedding::DOUBLE[], b.bv)) AS mc
      |      FROM embeddings e CROSS JOIN b GROUP BY e.vec_id)
      |SELECT vec_id, round(mc, 4) AS max_benchmark_cos,
      |  mc >= 0.99 AS contaminated
      |FROM s ORDER BY vec_id""".stripMargin

  // int8 scalar quantization — the embedding STORAGE tier (4× smaller
  // than float32). Codes are value-checked against DuckDB's identical
  // closed form (same double arithmetic: round(x·127/max|x|)); the
  // round-trip cosine ≥ 0.999 contract is pinned TRUE on both sides.
  // Gate output is exploded to one (vec_id, idx, qval) row per code: the
  // driver's pandas comparator sorts column values and cannot hash array
  // cells (r6 finding), so no gate may emit arrays. qscale/cos_ok ride
  // along per row (constant within a vec_id).
  private def d135(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = Similarity.quantizeInt8(emb, "embedding")
      .withColumn("deq", Similarity.dequantizeInt8("qvec", "qscale"))
      .withColumn("cos_ok",
        graft.functions.cosineSim(col("embedding").cast("array<double>"),
          col("deq")) >= 0.999)
    q.select(col("vec_id"), posexplode(col("qvec")).as(Seq("idx", "qv")),
        col("qscale"), col("cos_ok"))
      .select(col("vec_id"), col("idx").cast("long").as("idx"),
        col("qv").cast("int").as("qval"),
        round(col("qscale"), 6).as("qscale"), col("cos_ok"))
      .orderBy("vec_id", "idx")
  }

  private val d135Sql =
    """WITH m AS (SELECT vec_id,
      |  list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx
      |  FROM embeddings)
      |SELECT e.vec_id, CAST(j - 1 AS BIGINT) AS idx,
      |  CAST(round(e.embedding[j]::DOUBLE * 127.0 / m.mx) AS INT) AS qval,
      |  round(m.mx / 127.0, 6) AS qscale, TRUE AS cos_ok
      |FROM embeddings e JOIN m ON e.vec_id = m.vec_id
      |CROSS JOIN generate_series(1, 64) AS t(j)
      |ORDER BY e.vec_id, idx""".stripMargin

  // Multi-probe LSH ANN — same recall floor as d65 with a 4× SMALLER
  // index (tables 16 → 4): each query also probes 4 Hamming-1 neighbor
  // buckets per table, so near-threshold vectors one bit away still
  // surface. Only the broadcast query side fans out; the corpus index
  // shuffle is per-row identical to plain LSH at tables=4.
  private def d134(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
      k = 5, nBits = 4, tables = 4, probes = 4)
    annRecallGate(exact, approx, k = 5, minRecall = 0.7)
  }

  // IVF (k-means inverted file) ANN — the learned-quantizer scale path
  // next to d65's LSH; gate: mean recall@5 ≥ 0.9 at nlist=16, nprobe=12
  // (measured: 1.0 at sf0.001, 0.96 at sf0.01; nprobe=8 dipped to 0.76 on
  // sf0.001's unclustered 500 vectors — on structureless data the k-means
  // cells are arbitrary, so a wider probe buys the margin; the
  // PipelineCorpus tier measures the same gate on clustered data at
  // 2M vectors). IvfIndexSpec additionally pins full-probe ≡ brute-force.
  private def d73(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
    val approx = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 12)
    annRecallGate(exact, approx, k = 5, minRecall = 0.9)
  }

  // IVF-PQ ANN — the memory-bounded serving path next to d73's raw-vector
  // IVF: coarse cells route the probe, product-quantization codes score
  // candidates via per-query lookup tables, and the PQ top-50 shortlist
  // re-ranks exactly (IVFADC+R). Gate: mean recall@5 ≥ 0.9 — the rerank
  // stage must recover the quantization loss on this corpus.
  private def d109(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
    val approx = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 12, m = 8, ksub = 64, rerank = 150)
    annRecallGate(exact, approx, k = 5, minRecall = 0.9)
    // measured 1.0 / 0.96 / 0.96 at sf0.001/0.01/0.1 — exactly d73's
    // routing ceiling at nprobe=12, i.e. the PQ+rerank stage recovers all
    // quantization loss; smaller ksub/rerank (16/50) lost 3-12 neighbors
    // to ADC noise on these unclustered gate vectors
  }

  // Model-based quality scoring (fastText-shape hashed-ngram linear
  // scorer). The gate fixes a closed-form weight vector (so DuckDB can
  // re-derive it per bucket) and checks the ENTIRE scoring pipeline —
  // tokenize → unigrams+bigrams → portable md5 bucket → weight lookup →
  // mean → sigmoid — value-for-value. Training is pinned in the spec
  // (declarative scorer ≡ fitted model probability).
  private val t110Weights: Array[Double] =
    Array.tabulate(1024)(i => ((i * 2654435761L) % 1000) / 1000.0 - 0.5)

  private def t110(s: SparkSession, dir: String): DataFrame =
    graft.text.QualityClassifier.score(
      Tables.documents(s, dir), "text", t110Weights, bias = 0.0)
      .select(col("doc_id"), round(col("quality_score"), 6).as("quality_score"))
      .orderBy("doc_id")

  private val t110Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |                x -> len(x) > 0) AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    list_concat(toks,
      |      list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS grams
      |  FROM t),
      |s AS (
      |  SELECT doc_id,
      |    CASE WHEN len(grams) = 0 THEN 0.0
      |         ELSE list_sum(list_transform(grams, x ->
      |           (((('0x' || substr(md5(x), 1, 6))::BIGINT % 1024)
      |              * 2654435761) % 1000) / 1000.0 - 0.5)) / len(grams)
      |    END AS mw
      |  FROM g)
      |SELECT doc_id, round(1.0 / (1.0 + exp(-mw)), 6) AS quality_score
      |FROM s ORDER BY doc_id""".stripMargin

  // Text features: token counts, ratios, quality score — full SQL oracle.
  private def t66(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withTextFeatures(Tables.documents(s, dir), "text")
      .select(col("doc_id"), col("n_tokens"), col("stopword_ratio"),
        col("punct_ratio"), col("mean_token_len"), col("quality"))
      .orderBy("doc_id")

  private val t66Sql =
    """WITH t AS (
      |  SELECT doc_id, text,
      |    regexp_split_to_array(trim(text), '\s+') AS toks,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS ltoks
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(toks) AS INT) AS n_tokens,
      |  round(len(list_filter(ltoks, x -> list_contains(
      |    ['the','a','an','and','or','of','to','in','is','are','was','for',
      |     'on','with','that','this','it','as'], x)))::DOUBLE / len(ltoks), 6) AS stopword_ratio,
      |  round(CASE WHEN len(regexp_replace(text, '\s+', '', 'g')) = 0 THEN 0
      |    ELSE len(regexp_replace(text, '[A-Za-z0-9\s]+', '', 'g'))::DOUBLE
      |         / len(regexp_replace(text, '\s+', '', 'g')) END, 6) AS punct_ratio,
      |  round(list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks), 6) AS mean_token_len,
      |  round((least(len(text)::DOUBLE / 200, 1.0)
      |    + (1.0 - least((CASE WHEN len(regexp_replace(text, '\s+', '', 'g')) = 0 THEN 0
      |        ELSE len(regexp_replace(text, '[A-Za-z0-9\s]+', '', 'g'))::DOUBLE
      |             / len(regexp_replace(text, '\s+', '', 'g')) END) * 4, 1.0))
      |    + least((len(list_filter(ltoks, x -> list_contains(
      |        ['the','a','an','and','or','of','to','in','is','are','was','for',
      |         'on','with','that','this','it','as'], x)))::DOUBLE / len(ltoks)) * 4, 1.0)
      |    ) / 3, 6) AS quality
      |FROM t ORDER BY doc_id""".stripMargin

  // Marker-word language ID vs the oracle's identical SQL construction.
  private def t67(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withTextFeatures(Tables.documents(s, dir), "text")
      .select(col("doc_id"), col("lang_pred"), col("lang").as("lang_label"))
      .orderBy("doc_id")

  private val t67Sql =
    """WITH t AS (
      |  SELECT doc_id, lang AS lang_label,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |scores AS (
      |  SELECT doc_id, lang_label,
      |    len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) AS s_de,
      |    len(list_filter(toks, x -> list_contains(['the','and','of','to','is'], x))) AS s_en,
      |    len(list_filter(toks, x -> list_contains(['el','la','de','que','los'], x))) AS s_es,
      |    len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x))) AS s_fr,
      |    len(list_filter(toks, x -> list_contains(['il','di','che','la','per'], x))) AS s_it
      |  FROM t)
      |SELECT doc_id,
      |  CASE
      |    WHEN s_de > 0 AND s_de = greatest(s_de, s_en, s_es, s_fr, s_it) THEN 'de'
      |    WHEN s_en > 0 AND s_en = greatest(s_de, s_en, s_es, s_fr, s_it) THEN 'en'
      |    WHEN s_es > 0 AND s_es = greatest(s_de, s_en, s_es, s_fr, s_it) THEN 'es'
      |    WHEN s_fr > 0 AND s_fr = greatest(s_de, s_en, s_es, s_fr, s_it) THEN 'fr'
      |    WHEN s_it > 0 AND s_it = greatest(s_de, s_en, s_es, s_fr, s_it) THEN 'it'
      |    ELSE 'und' END AS lang_pred,
      |  lang_label
      |FROM scores ORDER BY doc_id""".stripMargin

  // Portable md5-based document fingerprint (rolling-hash analog).
  private def t68(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), fingerprint64(col("text")).as("fingerprint"),
        tokenCountBpe(col("text")).as("n_tokens_bpe"))
      .orderBy("doc_id")

  private val t68Sql =
    """SELECT doc_id,
      |  substring(md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), 1, 16) AS fingerprint,
      |  CAST(floor(len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), x -> x <> ''))::DOUBLE * 1.3
      |       + len(regexp_replace(text, '[A-Za-z0-9\s]+', '', 'g'))::DOUBLE) AS BIGINT) AS n_tokens_bpe
      |FROM documents ORDER BY doc_id""".stripMargin

  // Gopher-style intra-document repetition features: duplicate word
  // 2-gram / 3-gram fractions + the keep/drop decision — the repetition
  // quality filter a curation pipeline runs next to t66's quality score.
  private def t86(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.withRepetitionFeatures(Tables.documents(s, dir), "text")
      .select(col("doc_id"), col("n_bigrams"),
        col("dup_bigram_ratio"), col("dup_trigram_ratio"),
        (col("dup_bigram_ratio") <= 0.2 && col("dup_trigram_ratio") <= 0.18).as("keep"))
      .orderBy("doc_id")

  private val t86Sql =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i + 1]) AS bg,
      |    list_transform(generate_series(1, len(toks) - 2),
      |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS tg
      |  FROM t),
      |r AS (
      |  SELECT doc_id, CAST(len(bg) AS BIGINT) AS n_bigrams,
      |    round(CASE WHEN len(bg) = 0 THEN 0
      |      ELSE (len(bg) - len(list_distinct(bg)))::DOUBLE / len(bg) END, 6) AS dup_bigram_ratio,
      |    round(CASE WHEN len(tg) = 0 THEN 0
      |      ELSE (len(tg) - len(list_distinct(tg)))::DOUBLE / len(tg) END, 6) AS dup_trigram_ratio
      |  FROM g)
      |SELECT doc_id, n_bigrams, dup_bigram_ratio, dup_trigram_ratio,
      |  (dup_bigram_ratio <= 0.2 AND dup_trigram_ratio <= 0.18) AS keep
      |FROM r ORDER BY doc_id""".stripMargin

  // REAL asset inspection (the former stub-codec gate, retired r11):
  // deterministic P6 PPM images generated from doc_id, header-PARSED by
  // the pure-JVM codec — byte length, leading-bytes hex, and dimensions
  // all come from the actual bytes (the old gate derived fake dims from
  // payload length). The oracle reconstructs the P6 header text from the
  // generation law and never sees a byte.
  private def m69(s: SparkSession, dir: String): DataFrame =
    Multimodal.inspectPpm(s,
      Multimodal.generatePpmAssets(s,
        Tables.documents(s, dir).select("doc_id"), "doc_id"))
      .orderBy("asset_id")

  private val m69Sql =
    """WITH ids AS (SELECT doc_id AS id, 8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h
      |             FROM documents),
      |hdr AS (SELECT id, w, h,
      |          'P6' || chr(10) || w || ' ' || h || chr(10) || '255' || chr(10) AS header
      |        FROM ids)
      |SELECT id AS asset_id,
      |  CAST(strlen(header) + w * h * 3 AS INT) AS byte_len,
      |  lower(hex(substring(header, 1, 8))) AS header_hex,
      |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  CAST(3 AS INT) AS channels
      |FROM hdr ORDER BY asset_id""".stripMargin

  // REAL frame sampling by seek offset (stub retired r11): walk the
  // actual Y4M container, record every kept frame's raster byte offset —
  // the seek index a video pipeline builds so decode tasks read only
  // their byte ranges. Same 1-asset-row → N-frame-rows in-task fan-out;
  // the oracle re-derives header length and per-frame stride from the
  // container grammar (header line + "FRAME\n" + w·h luma per frame).
  private def m70(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameByteOffsets(s,
      Multimodal.generateY4mAssets(s, Tables.documents(s, dir)
        .filter(col("doc_id") < 50).select("doc_id"), "doc_id"),
      stride = 3)
      .orderBy("asset_id", "frame_idx")

  private val m70Sql =
    """WITH ids AS (SELECT doc_id AS id, 8 + (doc_id % 3) * 2 AS w,
      |               5 + doc_id % 6 AS nf
      |             FROM documents WHERE doc_id < 50),
      |hdr AS (SELECT id, w, nf,
      |          strlen('YUV4MPEG2 W' || w || ' H6 F24:1 Ip A1:1 Cmono' || chr(10)) AS hl
      |        FROM ids),
      |fr AS (SELECT id, w, hl, 3 * k AS f FROM hdr,
      |         LATERAL (SELECT unnest(generate_series(0, (nf + 2) // 3 - 1)) AS k))
      |SELECT id AS asset_id, CAST(f AS BIGINT) AS frame_idx,
      |  CAST(hl + f * (6 + w * 6) + 6 AS BIGINT) AS byte_offset
      |FROM fr ORDER BY asset_id, frame_idx""".stripMargin

  // Duplicate-CLUSTER resolution: connected components over the minhash
  // near-dup pairs (the d62 pair list, which is oracle-equal to the exact
  // all-pairs answer), labeling every dup-involved doc with its
  // component's minimum doc_id. The oracle re-derives the components in
  // DuckDB with a recursive reachability CTE over the same exact pairs —
  // a fully independent algorithm (transitive closure + min) checking the
  // large-star/small-star fixpoint.
  private def d87(s: SparkSession, dir: String): DataFrame =
    DupClusters.connectedComponents(
      Dedup.minhashNearDups(Tables.documents(s, dir), "doc_id", "text",
        threshold = 0.7, shingleN = 5, numHashes = 200, bands = 50)
        .select(col("id_a"), col("id_b")),
      "id_a", "id_b")
      .orderBy("doc_id")

  private val pairsCte =
    """WITH RECURSIVE d AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) t
      |           FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |         generate_series(1, greatest(len(t) - 4, 1)), i -> t[i:i+4])) s
      |       FROM d),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |          WHERE len(list_intersect(a.s, b.s))::DOUBLE
      |                / len(list_distinct(list_concat(a.s, b.s))) > 0.7),
      |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |walk(id, comp) AS (
      |  SELECT DISTINCT u, u FROM edges
      |  UNION
      |  SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.id),
      |labels AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id)""".stripMargin

  private val d87Sql = pairsCte +
    "\nSELECT id AS doc_id, comp AS cluster_id FROM labels ORDER BY doc_id"

  // Canonical-per-cluster dedup: the corpus after dropping every cluster
  // member except the component minimum — the step that turns pair lists
  // into an actually deduplicated training corpus.
  private def d88(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    DupClusters.dedupKeepCanonical(docs, "doc_id",
      Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.7, shingleN = 5, numHashes = 200, bands = 50)
        .select(col("id_a"), col("id_b")),
      "id_a", "id_b")
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
  }

  private val d88Sql = pairsCte +
    """
      |SELECT doc_id, n_chars FROM documents
      |WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> comp)
      |ORDER BY doc_id""".stripMargin

  // PII scrub + audit counts. The synthetic corpus carries no PII, so the
  // query plants a deterministic contact line derived from doc_id on BOTH
  // sides; the oracle derives the expected redaction *constructively*
  // (string concat of the replacement tokens), fully independent of any
  // regex engine — a literal value compare of the scrubbed text.
  private def t89(s: SparkSession, dir: String): DataFrame = {
    val withPii = Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com ip 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 call 555-123-4567 ssn 123-45-6789")).as("text"))
    TextAnalysis.redactPii(TextAnalysis.withPiiCounts(withPii, "text"), "text")
      .select(col("doc_id"), col("n_email"), col("n_ipv4"), col("n_ssn"),
        col("n_phone"), col("text_redacted"))
      .orderBy("doc_id")
  }

  private val t89Sql =
    """SELECT doc_id, CAST(1 AS BIGINT) AS n_email, CAST(1 AS BIGINT) AS n_ipv4,
      |  CAST(1 AS BIGINT) AS n_ssn, CAST(1 AS BIGINT) AS n_phone,
      |  text || ' contact <EMAIL> ip <IP> call <PHONE> ssn <SSN>' AS text_redacted
      |FROM documents ORDER BY doc_id""".stripMargin

  // GPT-style concat-and-chunk sequence packing (docs may straddle cuts).
  // Oracle: the same layout derived via window cumsum + generate_series.
  private def p90(s: SparkSession, dir: String): DataFrame =
    Packing.concatAndChunk(Tables.documents(s, dir), "doc_id", "n_chars",
      budget = 2048L, streams = 8)
      .orderBy("doc_id", "seq_id")

  private val p90Sql =
    """WITH base AS (SELECT doc_id, doc_id % 8 AS stream, n_chars AS tok
      |              FROM documents WHERE n_chars > 0),
      |o AS (SELECT doc_id, stream, tok,
      |        CAST(coalesce(SUM(tok) OVER (PARTITION BY stream ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
      |      FROM base)
      |SELECT doc_id, stream, CAST(k AS BIGINT) AS seq_id,
      |  CAST(greatest(off, k*2048) - off AS BIGINT) AS doc_from,
      |  CAST(greatest(off, k*2048) - k*2048 AS BIGINT) AS seq_from,
      |  CAST(least(off+tok, (k+1)*2048) - greatest(off, k*2048) AS BIGINT) AS piece_len
      |FROM o, LATERAL (SELECT unnest(generate_series(off // 2048, (off+tok-1) // 2048)) AS k)
      |ORDER BY doc_id, seq_id""".stripMargin

  // No-split greedy packing (first-fit-sequential per stream). Oracle: the
  // same recurrence unrolled with a recursive CTE — an independent
  // sequential derivation of the per-stream fill levels.
  private def p91(s: SparkSession, dir: String): DataFrame =
    Packing.greedyPack(Tables.documents(s, dir), "doc_id", "n_chars",
      budget = 2048L, streams = 8)
      .orderBy("doc_id")

  private val p91Sql =
    """WITH RECURSIVE base AS (SELECT doc_id, doc_id % 8 AS stream, n_chars AS tok
      |              FROM documents WHERE n_chars > 0),
      |r AS (SELECT doc_id, stream, tok,
      |        row_number() OVER (PARTITION BY stream ORDER BY doc_id) AS rn FROM base),
      |walk(stream, rn, doc_id, seq_no, off, filled) AS (
      |  SELECT stream, rn, doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), tok
      |  FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT r.stream, r.rn, r.doc_id,
      |    CASE WHEN w.filled + r.tok > 2048 THEN w.seq_no + 1 ELSE w.seq_no END,
      |    CASE WHEN w.filled + r.tok > 2048 THEN CAST(0 AS BIGINT) ELSE w.filled END,
      |    CASE WHEN w.filled + r.tok > 2048 THEN r.tok ELSE w.filled + r.tok END
      |  FROM walk w JOIN r ON r.stream = w.stream AND r.rn = w.rn + 1)
      |SELECT doc_id, stream, seq_no, off AS offset FROM walk ORDER BY doc_id""".stripMargin

  // Incremental dedup: odd-id docs play the "new crawl", even-id docs the
  // "existing corpus"; only cross-side near-dup pairs may surface. The
  // oracle is the exact all-pairs answer restricted to the same split —
  // LSH recall ≈ 1 by the banding math, so the sets must match exactly.
  private def d93(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.minhashNearDupsAgainst(
      docs.filter(col("doc_id") % 2 === 1), docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", threshold = 0.7, shingleN = 5, numHashes = 200, bands = 50)
      .orderBy("new_id", "corpus_id")
  }

  private val d93Sql =
    """WITH d AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) t
      |           FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |         generate_series(1, greatest(len(t) - 4, 1)), i -> t[i:i+4])) s
      |       FROM d)
      |SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
      |  round(len(list_intersect(a.s, b.s))::DOUBLE
      |        / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard_sim
      |FROM sh a JOIN sh b ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
      |WHERE len(list_intersect(a.s, b.s))::DOUBLE
      |      / len(list_distinct(list_concat(a.s, b.s))) > 0.7
      |ORDER BY new_id, corpus_id""".stripMargin

  // Bloom-prefiltered EXACT incremental dedup: increment = odd ids,
  // corpus = even ids plus re-idded copies of every doc_id % 10 == 1 doc
  // (planted cross-boundary exact dups, so ~10% of the increment must
  // drop). The Bloom prefilter + broadcast confirm is exact for any fpp;
  // the oracle is the plain anti-join the operator must equal.
  private def d133(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") % 10 === 1)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val incr = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    Dedup.exactAgainstBloom(incr, corpus, "doc_id", "text")
      .select("doc_id").orderBy("doc_id")
  }

  private val d133Sql =
    """WITH n AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) t
      |           FROM documents),
      |c AS (SELECT t FROM n WHERE doc_id % 2 = 0
      |      UNION ALL SELECT t FROM n WHERE doc_id % 10 = 1)
      |SELECT doc_id FROM n
      |WHERE doc_id % 2 = 1 AND NOT EXISTS (SELECT 1 FROM c WHERE c.t = n.t)
      |ORDER BY doc_id""".stripMargin

  // Index MAINTENANCE: the full nightly-crawl loop — dedup increment 1
  // against the corpus index, fold its survivors into the index
  // (appendToBandIndex), then dedup increment 2 against the maintained
  // index. Oracle: the exact all-pairs answer for the same two-cycle
  // protocol (increment-2 pairs may hit corpus docs OR increment-1
  // survivors), derived independently in DuckDB. Appending must equal
  // rebuilding (TrainingDataSpec pins the law), so the maintained-index
  // answer matches the exact recurrence.
  private def d104(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(col("doc_id") % 4 < 2)
    val inc1 = docs.filter(col("doc_id") % 4 === 2)
    val inc2 = docs.filter(col("doc_id") % 4 === 3)
    val idx0 = Dedup.buildBandIndex(corpus, "doc_id", "text")
    val p1 = Dedup.minhashNearDupsAgainstIndex(inc1, idx0, "doc_id", "text",
      threshold = 0.7)
    val survivors1 = inc1.join(p1.select(col("new_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    val idx1 = Dedup.appendToBandIndex(idx0, survivors1, "doc_id", "text")
    val p2 = Dedup.minhashNearDupsAgainstIndex(inc2, idx1, "doc_id", "text",
      threshold = 0.7)
    p1.unionByName(p2).orderBy("new_id", "corpus_id")
  }

  private val d104Sql =
    """WITH d AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) t
      |           FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(
      |         generate_series(1, greatest(len(t) - 4, 1)), i -> t[i:i+4])) s
      |       FROM d),
      |p1 AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
      |         len(list_intersect(a.s, b.s))::DOUBLE
      |           / len(list_distinct(list_concat(a.s, b.s))) AS j
      |       FROM sh a JOIN sh b ON a.doc_id % 4 = 2 AND b.doc_id % 4 < 2
      |       WHERE len(list_intersect(a.s, b.s))::DOUBLE
      |             / len(list_distinct(list_concat(a.s, b.s))) > 0.7),
      |surv AS (SELECT doc_id FROM d WHERE doc_id % 4 = 2
      |           AND doc_id NOT IN (SELECT new_id FROM p1)),
      |p2 AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
      |         len(list_intersect(a.s, b.s))::DOUBLE
      |           / len(list_distinct(list_concat(a.s, b.s))) AS j
      |       FROM sh a JOIN sh b
      |         ON a.doc_id % 4 = 3
      |        AND (b.doc_id % 4 < 2 OR b.doc_id IN (SELECT doc_id FROM surv))
      |       WHERE len(list_intersect(a.s, b.s))::DOUBLE
      |             / len(list_distinct(list_concat(a.s, b.s))) > 0.7)
      |SELECT new_id, corpus_id, round(j, 6) AS jaccard_sim FROM p1
      |UNION ALL
      |SELECT new_id, corpus_id, round(j, 6) AS jaccard_sim FROM p2
      |ORDER BY new_id, corpus_id""".stripMargin

  // Training-mix construction: deterministic per-source weighted sampling.
  // Spark filter and DuckDB oracle are generated from the SAME rate map —
  // the md5-prefix keep rule is engine-portable, so the kept set must
  // match row-for-row.
  private val mixRates = Seq("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)
  private val mixDefault = 0.1

  private def t92(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedMix(Tables.documents(s, dir), "source", "doc_id",
      mixRates.toMap, mixDefault)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  private val t92Sql = {
    val cases = mixRates
      .map { case (k, r) => s"WHEN '$k' THEN '${Sampling.rateThreshold(r)}'" }
      .mkString(" ")
    s"""SELECT doc_id, source FROM documents
       |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
       |  CASE source $cases ELSE '${Sampling.rateThreshold(mixDefault)}' END
       |ORDER BY doc_id""".stripMargin
  }

  // REAL image decode: deterministic P6 PPM images generated from doc_id
  // (closed-form pixel values), decoded by the pure-JVM codec, per-image
  // pixel statistics out. The oracle never sees a byte: it integrates the
  // same pixel formula arithmetically — a fully independent check that
  // actual bytes-in/pixels-out decoding happened.
  private def m94(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodePpm(s,
      Multimodal.generatePpmAssets(s, Tables.documents(s, dir)
        .filter(col("doc_id") < 50).select("doc_id"), "doc_id"))
      .select(col("asset_id"), col("width"), col("height"), col("channels"),
        round(col("mean_r"), 6).as("mean_r"),
        round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_b"), 6).as("mean_b"))
      .orderBy("asset_id")

  private val m94Sql =
    """WITH ids AS (SELECT doc_id AS id, 8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h
      |             FROM documents WHERE doc_id < 50),
      |px AS (SELECT id, w, h, x, y FROM ids,
      |         LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x),
      |         LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y))
      |SELECT id AS asset_id, w AS width, h AS height, CAST(3 AS INT) AS channels,
      |  round(avg((id + 7*x + 13*y) % 256), 6) AS mean_r,
      |  round(avg((3*id + 5*x + y) % 256), 6) AS mean_g,
      |  round(avg((5*id + x + 11*y) % 256), 6) AS mean_b
      |FROM px GROUP BY id, w, h ORDER BY asset_id""".stripMargin

  // REAL nearest-neighbor resize: decode → sample at (tx*w/4, ty*h/3) →
  // re-encode → decode again for stats. The oracle samples the same
  // source coordinates arithmetically.
  private def m95(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodePpm(s,
      Multimodal.resizePpm(s,
        Multimodal.generatePpmAssets(s, Tables.documents(s, dir)
          .filter(col("doc_id") < 50).select("doc_id"), "doc_id"), 4, 3))
      .select(col("asset_id"), col("width"), col("height"),
        round(col("mean_r"), 6).as("mean_r"),
        round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_b"), 6).as("mean_b"))
      .orderBy("asset_id")

  private val m95Sql =
    """WITH ids AS (SELECT doc_id AS id, 8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h
      |             FROM documents WHERE doc_id < 50),
      |px AS (SELECT id, (tx * w) // 4 AS x, (ty * h) // 3 AS y FROM ids,
      |         LATERAL (SELECT unnest(generate_series(0, 3)) AS tx),
      |         LATERAL (SELECT unnest(generate_series(0, 2)) AS ty))
      |SELECT id AS asset_id, CAST(4 AS BIGINT) AS width, CAST(3 AS BIGINT) AS height,
      |  round(avg((id + 7*x + 13*y) % 256), 6) AS mean_r,
      |  round(avg((3*id + 5*x + y) % 256), 6) AS mean_g,
      |  round(avg((5*id + x + 11*y) % 256), 6) AS mean_b
      |FROM px GROUP BY id ORDER BY asset_id""".stripMargin

  // REAL audio decode (RIFF/PCM16): generated closed-form waveforms,
  // decoded by the pure-JVM codec; the oracle integrates the sample
  // formula arithmetically (same pattern as m94).
  private def m96(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeWav(s,
      Multimodal.generateWavAssets(s, Tables.documents(s, dir)
        .filter(col("doc_id") < 50).select("doc_id"), "doc_id"))
      .select(col("asset_id"), col("sample_rate"), col("channels"),
        col("n_samples"), round(col("mean_sample"), 6).as("mean_sample"),
        col("peak"))
      .orderBy("asset_id")

  private val m96Sql =
    """WITH ids AS (SELECT doc_id AS id, 100 + doc_id % 50 AS n,
      |               8000 + (doc_id % 3) * 4000 AS rate
      |             FROM documents WHERE doc_id < 50),
      |sm AS (SELECT id, n, rate, (31*id + 7*t) % 65536 - 32768 AS v FROM ids,
      |         LATERAL (SELECT unnest(generate_series(0, n - 1)) AS t))
      |SELECT id AS asset_id, CAST(rate AS INT) AS sample_rate,
      |  CAST(1 AS INT) AS channels, n AS n_samples,
      |  round(avg(v), 6) AS mean_sample, CAST(max(v) AS INT) AS peak
      |FROM sm GROUP BY id, rate, n ORDER BY asset_id""".stripMargin

  // REAL decimation resample: every 4th frame, re-encoded at rate/4,
  // decoded again for stats; the oracle samples t = 4k.
  private def m97(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeWav(s,
      Multimodal.decimateWav(s,
        Multimodal.generateWavAssets(s, Tables.documents(s, dir)
          .filter(col("doc_id") < 50).select("doc_id"), "doc_id"), 4))
      .select(col("asset_id"), col("sample_rate"), col("n_samples"),
        round(col("mean_sample"), 6).as("mean_sample"))
      .orderBy("asset_id")

  private val m97Sql =
    """WITH ids AS (SELECT doc_id AS id, 100 + doc_id % 50 AS n,
      |               8000 + (doc_id % 3) * 4000 AS rate
      |             FROM documents WHERE doc_id < 50),
      |sm AS (SELECT id, n, rate, (31*id + 7*(4*k)) % 65536 - 32768 AS v FROM ids,
      |         LATERAL (SELECT unnest(generate_series(0, (n + 3) // 4 - 1)) AS k))
      |SELECT id AS asset_id, CAST(rate // 4 AS INT) AS sample_rate,
      |  (n + 3) // 4 AS n_samples, round(avg(v), 6) AS mean_sample
      |FROM sm GROUP BY id, rate, n ORDER BY asset_id""".stripMargin

  // REAL video frame sampling (YUV4MPEG2): generated closed-form mono
  // videos, parsed frame-by-frame, every 2nd frame kept with its true
  // mean luma; oracle integrates the per-(frame, pixel) formula.
  private def m98(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleVideoFrames(s,
      Multimodal.generateY4mAssets(s, Tables.documents(s, dir)
        .filter(col("doc_id") < 50).select("doc_id"), "doc_id"), stride = 2)
      .select(col("asset_id"), col("frame_no"), col("width"), col("height"),
        col("n_frames"), round(col("mean_y"), 6).as("mean_y"))
      .orderBy("asset_id", "frame_no")

  private val m98Sql =
    """WITH ids AS (SELECT doc_id AS id, 8 + (doc_id % 3) * 2 AS w,
      |               5 + doc_id % 6 AS nf
      |             FROM documents WHERE doc_id < 50),
      |fr AS (SELECT id, w, nf, 2 * k AS f FROM ids,
      |         LATERAL (SELECT unnest(generate_series(0, (nf + 1) // 2 - 1)) AS k)),
      |px AS (SELECT id, w, nf, f, (13*id + 17*f + 5*x + 3*y) % 256 AS v FROM fr,
      |         LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x),
      |         LATERAL (SELECT unnest(generate_series(0, 5)) AS y))
      |SELECT id AS asset_id, f AS frame_no, w AS width, CAST(6 AS BIGINT) AS height,
      |  nf AS n_frames, round(avg(v), 6) AS mean_y
      |FROM px GROUP BY id, f, w, nf ORDER BY asset_id, frame_no""".stripMargin

  // REAL BPE tokenizer, trained distributed on the corpus then applied in
  // one scan-stage pass. Token identities are model-dependent (engine-
  // local), so the gate is a checked CONTRACT in the accuracy-gate style:
  // the oracle re-derives n_words and n_chars (no-whitespace) exactly and
  // pins three booleans the Spark side computes for real — lossless
  // reconstruction (concat(tokens) == ws-stripped text, the tokenizer
  // correctness property), token count bounded by [n_words, n_chars], and
  // strict compression (30 merges over this vocabulary must shorten every
  // document). TrainingDataSpec pins the actual merge table on the
  // Sennrich corpus.
  private def t100(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val model = Bpe.train(docs, "text", numMerges = 30)
    Bpe.tokenize(docs, "doc_id", "text", model)
      .join(docs.select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "\\s+", "").as("squashed"),
        size(filter(split(lower(trim(col("text"))), "\\s+"),
          w => length(w) > 0)).cast("long").as("n_words")), "doc_id")
      .select(col("doc_id"), col("n_words"),
        length(col("squashed")).cast("long").as("n_chars_nows"),
        (concat_ws("", col("tokens")) === col("squashed")).as("reconstructs_ok"),
        (col("n_tokens") >= col("n_words") &&
          col("n_tokens") <= length(col("squashed"))).as("tokens_bounded_ok"),
        (col("n_tokens") < length(col("squashed"))).as("compresses_ok"))
      .orderBy("doc_id")
  }

  private val t100Sql =
    """SELECT doc_id,
      |  CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |       x -> x <> '')) AS BIGINT) AS n_words,
      |  CAST(strlen(regexp_replace(lower(trim(text)), '\s+', '', 'g')) AS BIGINT) AS n_chars_nows,
      |  TRUE AS reconstructs_ok, TRUE AS tokens_bounded_ok, TRUE AS compresses_ok
      |FROM documents ORDER BY doc_id""".stripMargin

  // Production-shaped BPE: the same contract as t100 at a 2048-merge
  // vocabulary — the scale that matters for a real tokenizer (batched
  // training makes this ~20 driver round-trips instead of 2048; the
  // batched ≡ sequential law is pinned in TrainingDataSpec). Extra
  // contract vs t100: encoding with a SUPERSET merge list can only
  // shorten a document (new merges append at higher rank, so the
  // lowest-rank-first encode loop applies the old merges identically
  // first) — monotone_vs_small_ok checks the 2048-merge token count
  // against the 30-merge one per document.
  private def t101(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val small = Bpe.train(docs, "text", numMerges = 30)
    val big = Bpe.train(docs, "text", numMerges = 2048)
    Bpe.tokenize(docs, "doc_id", "text", big)
      .join(Bpe.tokenize(docs, "doc_id", "text", small)
        .select(col("doc_id"), col("n_tokens").as("n_tokens_small")), "doc_id")
      .join(docs.select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "\\s+", "").as("squashed"),
        size(filter(split(lower(trim(col("text"))), "\\s+"),
          w => length(w) > 0)).cast("long").as("n_words")), "doc_id")
      .select(col("doc_id"), col("n_words"),
        length(col("squashed")).cast("long").as("n_chars_nows"),
        (concat_ws("", col("tokens")) === col("squashed")).as("reconstructs_ok"),
        (col("n_tokens") >= col("n_words") &&
          col("n_tokens") <= length(col("squashed"))).as("tokens_bounded_ok"),
        (col("n_tokens") <= col("n_tokens_small")).as("monotone_vs_small_ok"))
      .orderBy("doc_id")
  }

  private val t101Sql =
    """SELECT doc_id,
      |  CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |       x -> x <> '')) AS BIGINT) AS n_words,
      |  CAST(strlen(regexp_replace(lower(trim(text)), '\s+', '', 'g')) AS BIGINT) AS n_chars_nows,
      |  TRUE AS reconstructs_ok, TRUE AS tokens_bounded_ok, TRUE AS monotone_vs_small_ok
      |FROM documents ORDER BY doc_id""".stripMargin

  // Production-vocabulary BPE: the documents table has only 31 distinct
  // words, so t101's "2048-merge" train actually exhausts at ~170 merges —
  // a real tokenizer vocabulary (5k-32k merges) needs a corpus whose pair
  // statistics sustain it. Deterministic md5-hex "words" derived from
  // order keys give both engines an identical high-entropy corpus (~6k
  // docs × 3 × 32 hex chars, bounded at every SF by the key cap): 16 base
  // symbols whose random bigrams keep thousands of merge candidates above
  // the count-2 floor. The gate trains 6000 merges and pins, per document,
  // the t100 contract (lossless reconstruction, token-count bounds,
  // monotone vs a 512-merge subset model) PLUS the corpus-level floor that
  // at least 5000 merges were actually learned — the production-vocab
  // proof itself, not just a big requested number. Wall-clock is bounded
  // by the driver-local trainer (dict ≈ 45k words ≪ localDictMax).
  private def t140(s: SparkSession, dir: String): DataFrame = {
    val hexDocs = Tables.orders(s, dir)
      .filter(col("o_orderkey") <= 24000L)
      .select(col("o_orderkey").as("doc_id"),
        concat_ws(" ", md5(col("o_orderkey").cast("string")),
          md5((col("o_orderkey") + 1000000L).cast("string")),
          md5((col("o_orderkey") + 2000000L).cast("string"))).as("text"))
    val small = Bpe.train(hexDocs, "text", numMerges = 512)
    val big = Bpe.train(hexDocs, "text", numMerges = 6000)
    Bpe.tokenize(hexDocs, "doc_id", "text", big)
      .join(Bpe.tokenize(hexDocs, "doc_id", "text", small)
        .select(col("doc_id"), col("n_tokens").as("n_tokens_small")), "doc_id")
      .join(hexDocs, "doc_id")
      .select(col("doc_id"),
        (concat_ws("", col("tokens")) ===
          regexp_replace(col("text"), "\\s+", "")).as("reconstructs_ok"),
        (col("n_tokens") >= 3 && col("n_tokens") <= 96).as("tokens_bounded_ok"),
        (col("n_tokens") <= col("n_tokens_small")).as("monotone_vs_small_ok"),
        lit(big.merges.length >= 5000).as("vocab_5k_ok"),
        lit(big.merges.take(512) == small.merges).as("prefix_canonical_ok"))
      .orderBy("doc_id")
  }

  private val t140Sql =
    """SELECT o_orderkey AS doc_id,
      |  TRUE AS reconstructs_ok, TRUE AS tokens_bounded_ok,
      |  TRUE AS monotone_vs_small_ok, TRUE AS vocab_5k_ok,
      |  TRUE AS prefix_canonical_ok
      |FROM orders WHERE o_orderkey <= 24000 ORDER BY doc_id""".stripMargin

  // End-to-end STREAMING curation pipeline — the live-crawl shape run for
  // real through Structured Streaming, gated against the batch-semantic
  // DuckDB oracle (the same batch-equality pattern the Nexmark streaming
  // suite uses). Ingest: the documents corpus wrapped in markup, plus
  // re-crawled copies (doc_id%7==0) arriving under new ids, fed as a
  // multi-file parquet stream (maxFilesPerTrigger=2 → several real
  // micro-batches). Pipeline: markup strip → token/char quality features →
  // quality filter → stream-static LEFT ANTI join against the
  // already-ingested fingerprint index (doc_id%5==0) → streaming
  // dropDuplicates state dedup within the feed → parquet shard append.
  // The gate reads the shard back; rows are keyed by content fingerprint
  // with text-derived attributes only, so the result is deterministic no
  // matter which duplicate copy or micro-batch order won the state race.
  // Reference analog: the unbounded half of every Read→ParDo→GroupByKey
  // pipeline, sdks/java/core/src/main/java/org/apache/beam/sdk/Pipeline.java.
  private def s141(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val crawl = docs
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
      .withColumn("raw", concat(
        lit("<html><head><script>var a = 1 < 2;</script><style>p{}</style>" +
          "</head><body><!-- crawler --><p>"),
        col("text"), lit("</p></body></html>")))
      .select("doc_id", "raw")
    val base = java.nio.file.Files.createTempDirectory("graft_s141_").toString
    val inDir = s"$base/in"; val shardDir = s"$base/shard"; val ckpt = s"$base/ckpt"
    crawl.repartition(8).write.mode("overwrite").parquet(inDir)
    val index = docs.filter(col("doc_id") % 5 === 0)
      .select(fingerprint64(col("text")).as("fp")).distinct()
    val stream = s.readStream.schema(crawl.schema)
      .option("maxFilesPerTrigger", 2).parquet(inDir)
    val curated = TextAnalysis.stripMarkup(stream, "raw")
      .withColumn("n_tokens", size(split(col("text_plain"), " ")).cast("long"))
      .withColumn("n_chars", length(col("text_plain")).cast("long"))
      .filter(col("n_tokens") >= 40)
      .withColumn("fp", fingerprint64(col("text_plain")))
      .join(index, Seq("fp"), "left_anti")
      .dropDuplicates("fp")
      .select("fp", "n_tokens", "n_chars")
    val q = curated.writeStream.format("parquet")
      .option("path", shardDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(shardDir).orderBy("fp")
  }

  private val s141Sql =
    """WITH plain AS (
      |  SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS tp
      |  FROM documents),
      |crawl AS (
      |  SELECT doc_id, tp FROM plain
      |  UNION ALL
      |  SELECT doc_id + 1000000, tp FROM plain WHERE doc_id % 7 = 0),
      |idx AS (
      |  SELECT DISTINCT substring(md5(lower(tp)), 1, 16) AS fp
      |  FROM plain WHERE doc_id % 5 = 0)
      |SELECT DISTINCT substring(md5(lower(tp)), 1, 16) AS fp,
      |  CAST(len(string_split(tp, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(length(tp) AS BIGINT) AS n_chars
      |FROM crawl
      |WHERE len(string_split(tp, ' ')) >= 40
      |  AND substring(md5(lower(tp)), 1, 16) NOT IN (SELECT fp FROM idx)
      |ORDER BY fp""".stripMargin

  // STREAMING CDC ingestion — a changelog STREAM folded into a snapshot
  // through Cdc.applyChangelog, one apply per micro-batch (foreachBatch,
  // the sequenced-sink pattern), gated against the batch-semantic oracle:
  // the final snapshot version must equal one batch apply of the whole
  // changelog. The changelog is hash-partitioned BY KEY into files and
  // streamed one file per trigger, so micro-batches carry disjoint key
  // sets and the fold commutes — the gate is deterministic whatever order
  // the file source picks. Per-key LWW inside a batch is still exercised:
  // doc_id%20 keys carry BOTH an update (seq 1) and a delete (seq 2) and
  // must come out deleted. Reference analog: the reference models upserts
  // only through upsert-capable sinks; this is the engine-level changelog
  // fold (api/Cdc.scala's streaming law, run end-to-end through a real
  // file-watch stream).
  private def s144(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val base = java.nio.file.Files.createTempDirectory("graft_s144_").toString
    val chgDir = s"$base/chg"; val ckpt = s"$base/ckpt"
    val updates = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), concat(lit("updated: "), col("text")).as("text"),
        lit(1L).as("seq"), lit("U").as("op"))
    val deletes = docs.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), lit("").as("text"), lit(2L).as("seq"), lit("D").as("op"))
    updates.unionByName(deletes).repartition(4, col("doc_id"))
      .write.mode("overwrite").parquet(chgDir)
    docs.write.mode("overwrite").parquet(s"$base/snap0")
    @volatile var version = 0
    val stream = s.readStream.schema(s.read.parquet(chgDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(chgDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val cur = s.read.parquet(s"$base/snap$version")
        graft.api.Cdc.applyChangelog(cur, batch, Seq("doc_id"), "seq", "op")
          .write.mode("overwrite").parquet(s"$base/snap${version + 1}")
        version += 1
      }
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(s"$base/snap$version")
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        col("text").startsWith("updated: ").as("updated"))
      .orderBy("doc_id")
  }

  private val s144Sql =
    """SELECT doc_id,
      |  CAST(length(CASE WHEN doc_id % 10 = 0 THEN 'updated: ' || text
      |    ELSE text END) AS BIGINT) AS n_chars,
      |  doc_id % 10 = 0 AS updated
      |FROM documents WHERE doc_id % 20 <> 0 ORDER BY doc_id""".stripMargin

  // Streaming Deduplicate-with-TTL on the stateful substrate
  // (transformWithState — streaming/Stateful.scala). StatefulSpec
  // plan-asserts the TransformWithState operator; this gate pins the
  // substrate against the batch-semantic DuckDB oracle through a real
  // file stream. doc_id folds down mod 500 so duplicate keys recur
  // within AND across micro-batches (maxFilesPerTrigger=2 over 8 files);
  // the emitted value is a pure function of the key, so "first arrival
  // wins" is deterministic whatever batch order the file source picks.
  // transformWithState ships on RocksDB only, so the stream runs inside
  // Stateful.withRocksDB.
  // Reference analog: transforms/Deduplicate.java:68 on the portable
  // state/timers runner path (DoFn.java:475–540).
  private def s148(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_s148_").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    Tables.documents(s, dir)
      .select((col("doc_id") % 500).cast("long").as("k"))
      .withColumn("v", col("k") * 2 + 1)
      .repartition(8).write.mode("overwrite").parquet(inDir)
    graft.streaming.Stateful.withRocksDB(s) {
      val pairs = s.readStream.schema("k LONG, v LONG")
        .option("maxFilesPerTrigger", 2).parquet(inDir)
        .as[(Long, Long)].map(r => (r._1, r))
      val q = graft.streaming.Stateful.deduplicate(pairs, ttlMs = 3600000L)
        .toDF("k", "v")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
        .start()
      // Poll the sink to the query's DETERMINISTIC end state (exactly one
      // row per distinct key) and stop — NOT processAllAvailable or
      // AvailableNow: every key holds a live one-hour TTL timer, and a
      // stateful query with pending processing-time timers schedules
      // another (empty) batch after every batch to give them a chance to
      // fire, so neither ever settles (observed: 3,900+ empty
      // micro-batches). Reading the sink mid-stream is safe — the parquet
      // read goes through the sink's _spark_metadata commit log.
      val expected = s.read.parquet(inDir).select("k").distinct().count()
      def sinkCount(): Long =
        try s.read.parquet(outDir).count() catch { case _: Throwable => 0L }
      val pollDeadline = System.currentTimeMillis() + 120000
      try {
        while (sinkCount() < expected && System.currentTimeMillis() < pollDeadline)
          Thread.sleep(200)
        // stop between triggers: interrupting a mid-batch state-store
        // commit logs a benign-but-noisy CANNOT_COMMIT task error
        while (q.status.isTriggerActive &&
            System.currentTimeMillis() < pollDeadline)
          Thread.sleep(5)
      } finally q.stop()
    }
    s.read.parquet(outDir).orderBy("k")
  }

  private val s148Sql =
    """SELECT DISTINCT CAST(doc_id % 500 AS BIGINT) AS k,
      |  CAST((doc_id % 500) * 2 + 1 AS BIGINT) AS v
      |FROM documents ORDER BY k""".stripMargin

  // GroupIntoBatches on the stateful substrate (r10 — the second oracle
  // gate through transformWithState, after s148): the ListState-buffered,
  // epoch-timer-managed batcher (Stateful.groupIntoBatches) run through a
  // real file stream on the RocksDB provider. Determinism argument: v is
  // a pure function of k (v = 2k+1) and elements only leave through FULL
  // batches (maxWaitMs = 10 min ≫ the gate's poll window, so the flush
  // timer never fires; per-key counts divide the batch size at the gate
  // SF, and were they not to, both sides would agree on floor(n/B)
  // batches) — so whatever micro-batch boundaries the file source picks,
  // the flushed multiset is exactly floor(n_k/B) batches of B identical
  // values per key. The timer/epoch machinery still executes for real:
  // every carried partial batch arms/deletes/re-arms its deadline across
  // bundles (the r9 epoch-correctness logic in Stateful.groupIntoBatches).
  // Reference analog: GroupIntoBatches.java:59 on the state/timers path.
  private def s152(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_s152_").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    Tables.documents(s, dir)
      .select((col("doc_id") % 25).cast("long").as("k"))
      .withColumn("v", col("k") * 2 + 1)
      .repartition(8).write.mode("overwrite").parquet(inDir)
    val expectedBatches = s.read.parquet(inDir).groupBy("k").count()
      .agg(coalesce(sum(floor(col("count") / 5)), lit(0L)).as("b"))
      .head().getLong(0)
    graft.streaming.Stateful.withRocksDB(s) {
      val pairs = s.readStream.schema("k LONG, v LONG")
        .option("maxFilesPerTrigger", 2).parquet(inDir)
        .as[(Long, Long)]
      val q = graft.streaming.Stateful
        .groupIntoBatches(pairs, batchSize = 5, maxWaitMs = 600000L)
        .toDF("k", "batch")
        .select(col("k"), size(col("batch")).cast("long").as("batch_size"),
          org.apache.spark.sql.functions.aggregate(col("batch"), lit(0L),
            (a, x) => a + x).as("batch_sum"))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
        .start()
      // same poll discipline as s148: the armed flush timers keep the
      // query scheduling (empty) batches forever, so poll the sink to the
      // deterministic end state and stop BETWEEN triggers
      def sinkCount(): Long =
        try s.read.parquet(outDir).count() catch { case _: Throwable => 0L }
      val pollDeadline = System.currentTimeMillis() + 120000
      try {
        while (sinkCount() < expectedBatches &&
            System.currentTimeMillis() < pollDeadline)
          Thread.sleep(200)
        while (q.status.isTriggerActive &&
            System.currentTimeMillis() < pollDeadline)
          Thread.sleep(5)
      } finally q.stop()
    }
    s.read.parquet(outDir).orderBy("k")
  }

  private val s152Sql =
    """WITH c AS (SELECT CAST(doc_id % 25 AS BIGINT) AS k, count(*) AS n
      |           FROM documents GROUP BY 1),
      |x AS (SELECT k, unnest(range(CAST(n // 5 AS BIGINT))) AS i FROM c)
      |SELECT k, CAST(5 AS BIGINT) AS batch_size,
      |  CAST(5 * (2 * k + 1) AS BIGINT) AS batch_sum
      |FROM x ORDER BY k""".stripMargin

  // Z-order (Morton) curve: the bit-interleave that drives multi-column
  // file clustering (api/Layout.zorder). The gate checks the curve math
  // itself — the oracle expands the identical shift/mask/or closed form;
  // PlanSpec/ LayoutSpec prove the layout effect (per-file bounding boxes
  // shrink in BOTH dimensions).
  private def p102(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), (col("doc_id") % 256).as("a"),
        ((col("doc_id") * 7) % 256).as("b"))
      .withColumn("z", graft.api.Layout.zValue(col("a"), col("b"), bits = 8))
      .orderBy("doc_id")

  private val p102Sql = {
    // fully parenthesized: DuckDB (PostgreSQL-style) gives <<, &, | equal
    // left-assoc precedence, so an unparenthesized a << i | b << j
    // accumulates shifts
    val terms = (0 until 8).flatMap(i => Seq(
      s"((((doc_id % 256) >> $i) & 1) << ${2 * i})",
      s"(((((doc_id * 7) % 256) >> $i) & 1) << ${2 * i + 1})"))
    s"""SELECT doc_id, doc_id % 256 AS a, (doc_id * 7) % 256 AS b,
       |  CAST(${terms.mkString(" | ")} AS BIGINT) AS z
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // Semantic dedup (SemDeDup, Abbas et al. 2023): k-means cells, pairwise
  // cosine within a cell only. Gate corpus = embeddings plus an exact
  // copy of every vec_id ≡ 0 (mod 7) at id+10000: identical vectors are
  // assigned to the same cell by construction, and the max NON-planted
  // pairwise cosine in the testdata is 0.60 (measured at all three SFs) —
  // so at tau 0.9 the within-cell answer must equal the exact all-pairs
  // answer the oracle computes, hash-for-hash.
  private def d105(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val copies = emb.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    SemDeDup.semanticPairs(emb.unionByName(copies), "vec_id", "embedding",
      tau = 0.9, nlist = 16)
      .orderBy("id_a", "id_b")
  }

  private val d105Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |aug AS (SELECT vec_id, v FROM e
      |        UNION ALL
      |        SELECT vec_id + 10000, v FROM e WHERE vec_id % 7 = 0)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
      |FROM aug a JOIN aug b ON a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  // Benchmark decontamination: 5-gram collisions between the training
  // split (doc_id % 31 <> 0) and the "benchmark" split (doc_id % 31 = 0).
  // The planted near-dup pairs that straddle the split are what gets
  // flagged — random-word documents share essentially no 5-grams
  // otherwise.
  private def t106(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bench = docs.filter(col("doc_id") % 31 === 0)
    graft.text.Decontaminate.flagContaminated(
      docs.filter(col("doc_id") % 31 =!= 0), "doc_id", "text",
      bench, "text", n = 5, minHits = 3)
      .select(col("doc_id"), col("n_hits"), col("contaminated"))
      .orderBy("doc_id")
  }

  private val t106Sql =
    """WITH d AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
      |           FROM documents),
      |tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM d),
      |g AS (SELECT doc_id, list_distinct(list_transform(
      |        generate_series(1, len(toks) - 4),
      |        i -> array_to_string(toks[i:i+4], ' '))) AS grams
      |      FROM tok WHERE len(toks) >= 5),
      |bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 31 = 0),
      |cg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 31 <> 0),
      |hits AS (SELECT cg.doc_id, count(*) AS n_hits
      |         FROM cg JOIN bg USING (gram) GROUP BY cg.doc_id)
      |SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
      |  coalesce(h.n_hits, 0) >= 3 AS contaminated
      |FROM d LEFT JOIN hits h ON d.doc_id = h.doc_id
      |WHERE d.doc_id % 31 <> 0 ORDER BY d.doc_id""".stripMargin

  // n-ary Z-order + rank normalization: 3-way interleave (bit i of col j
  // at position 3i+j) over one uniform, one multiplicative, and one
  // QUANTILE-BUCKETED power-law column — the full api/Layout.zorderBy
  // stack with the approxQuantile boundaries replaced by pinned literals
  // so DuckDB reproduces the identical closed form. LayoutSpec proves the
  // physical effect (row-group skipping under predicates on any of the
  // three dims).
  private val p103Bounds = Seq(1e6, 8e6, 2.7e7, 6.4e7, 1.25e8, 2.16e8, 3.43e8)

  private def p103(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), (col("doc_id") % 8).as("a"),
        ((col("doc_id") * 7) % 8).as("b"),
        ((col("doc_id") % 800).cast("double") * (col("doc_id") % 800)
          * (col("doc_id") % 800)).as("w"))
      .withColumn("wb", graft.api.Layout.rankBucket(col("w"), p103Bounds))
      .withColumn("z", graft.api.Layout.zValueN(
        Seq(col("a"), col("b"), col("wb")), bits = 3))
      .select("doc_id", "a", "b", "wb", "z")
      .orderBy("doc_id")

  private val p103Sql = {
    val wExpr = "(CAST(doc_id % 800 AS DOUBLE) * (doc_id % 800) * (doc_id % 800))"
    val wbExpr = p103Bounds
      .map(b => s"(CASE WHEN $wExpr >= $b THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")
    val srcs = Seq("(doc_id % 8)", "((doc_id * 7) % 8)", wbExpr)
    val terms = for {
      i <- 0 until 3
      (src, j) <- srcs.zipWithIndex
    } yield s"((($src >> $i) & 1) << ${3 * i + j})"
    s"""SELECT doc_id, doc_id % 8 AS a, (doc_id * 7) % 8 AS b,
       |  CAST($wbExpr AS BIGINT) AS wb,
       |  CAST(${terms.mkString(" | ")} AS BIGINT) AS z
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // Exact duplicated-substring spans (Lee et al. 2022 ExactSubstr):
  // maximal runs of text covered by a ≥40-char substring occurring ≥2
  // times anywhere in the corpus. The oracle re-derives spans from raw
  // grams (no hashing); the Spark side is the winnowed scale path
  // (anchor pairs checked by characters), which must reproduce it exactly.
  private def d107(s: SparkSession, dir: String): DataFrame =
    graft.dedup.ExactSubstr.duplicateSpans(
      Tables.documents(s, dir), "doc_id", "text", minLen = 40)
      .orderBy("doc_id", "span_start")

  private val exactSubstrSpansCte =
    """pos AS (
      |  SELECT doc_id, text,
      |    unnest(range(1, CAST(greatest(length(text) - 39, 0) AS BIGINT) + 1)) AS i
      |  FROM documents),
      |grams AS (SELECT doc_id, i, substr(text, CAST(i AS INT), 40) AS g FROM pos),
      |dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
      |marked AS (SELECT doc_id, i FROM grams JOIN dup USING (g)),
      |flagged AS (
      |  SELECT doc_id, i,
      |    CASE WHEN lag(i) OVER w IS NULL OR i - lag(i) OVER w > 40
      |         THEN 1 ELSE 0 END AS ns
      |  FROM marked WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
      |grp AS (SELECT doc_id, i,
      |    sum(ns) OVER (PARTITION BY doc_id ORDER BY i) AS g2 FROM flagged),
      |spans AS (SELECT doc_id, min(i) AS span_start, max(i) + 39 AS span_end
      |  FROM grp GROUP BY doc_id, g2)""".stripMargin

  private val d107Sql =
    s"""WITH $exactSubstrSpansCte
       |SELECT doc_id, span_start, span_end FROM spans
       |ORDER BY doc_id, span_start""".stripMargin

  // Scrub form: every duplicated span cut out (cut-all semantics), clean
  // segments reassembled in order. Oracle rebuilds the scrubbed text from
  // its own span derivation via between-segments + tail + no-span docs.
  private def d108(s: SparkSession, dir: String): DataFrame =
    graft.dedup.ExactSubstr.scrubDuplicateSpans(
      Tables.documents(s, dir), "doc_id", "text", minLen = 40)
      .orderBy("doc_id")

  private val d108Sql =
    s"""WITH $exactSubstrSpansCte,
       |withprev AS (
       |  SELECT doc_id, span_start, span_end,
       |    coalesce(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 0) AS pe
       |  FROM spans),
       |pieces AS (
       |  SELECT w.doc_id, w.span_start AS ord,
       |    substr(d.text, CAST(w.pe + 1 AS INT),
       |           CAST(w.span_start - w.pe - 1 AS INT)) AS piece
       |  FROM withprev w JOIN documents d USING (doc_id)
       |  UNION ALL
       |  SELECT m.doc_id, length(d.text) + 1 AS ord,
       |    substr(d.text, CAST(m.me + 1 AS INT)) AS piece
       |  FROM (SELECT doc_id, max(span_end) AS me FROM spans GROUP BY doc_id) m
       |  JOIN documents d USING (doc_id)),
       |rebuilt AS (
       |  SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS ts
       |  FROM pieces GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(r.ts, d.text) AS text_scrubbed
       |FROM documents d LEFT JOIN rebuilt r USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // Leakage-safe train/test split: split assignment hashes the duplicate
  // CLUSTER label (transitive closure over the near-dup pairs), so
  // paraphrases never straddle the split. Oracle: the same recursive-CTE
  // closure as d87 + the same md5-prefix threshold closed form as t92.
  private def d114(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    DupClusters.leakageSafeSplit(docs, "doc_id",
      Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.7, shingleN = 5, numHashes = 200, bands = 50)
        .select(col("id_a"), col("id_b")),
      "id_a", "id_b", trainFrac = 0.8)
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy("doc_id")
  }

  private val d114Sql = pairsCte +
    """
      |SELECT d.doc_id,
      |  coalesce(l.comp, d.doc_id) AS cluster_id,
      |  CASE WHEN substring(md5(CAST(coalesce(l.comp, d.doc_id) AS VARCHAR)), 1, 4)
      |            < 'cccd' THEN 'train' ELSE 'test' END AS split
      |FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // Fixed-size chunking with overlap (RAG / context-window splitter):
  // chunk i covers [1 + 180*i, +200); identical closed form in DuckDB.
  private def t115(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkWithOverlap(Tables.documents(s, dir), "text",
      size = 200, overlap = 20)
      .select(col("doc_id"), col("chunk_id"), col("chunk"),
        length(col("chunk")).as("chunk_len"))
      .orderBy("doc_id", "chunk_id")

  private val t115Sql =
    """WITH n AS (SELECT doc_id, text,
      |    CAST(ceil(greatest(len(text) - 20, 1) / 180.0) AS INT) AS nc
      |  FROM documents),
      |c AS (SELECT doc_id, text, unnest(generate_series(0, nc - 1)) AS chunk_id
      |      FROM n)
      |SELECT doc_id, chunk_id, text[1 + 180 * chunk_id : 180 * chunk_id + 200] AS chunk,
      |  CAST(len(text[1 + 180 * chunk_id : 180 * chunk_id + 200]) AS BIGINT) AS chunk_len
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  // Unicode NFC normalization: a decomposed combining sequence (e +
  // U+0301) planted on both sides must compose to the precomposed form.
  // DuckDB's independent nfc_normalize is the oracle; lengths prove the
  // composition actually shortened the string.
  private def t116(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(s, dir)
      .withColumn("text", concat(col("text"), lit(" cafe\u0301 re\u0301sume\u0301")))
    TextAnalysis.normalizeUnicode(planted, "text")
      .select(col("doc_id"), length(col("text")).as("len_raw"),
        length(col("text_nfc")).as("len_nfc"),
        substring(col("text_nfc"), -12, 12).as("tail_nfc"))
      .orderBy("doc_id")
  }

  private val t116Sql =
    """WITH p AS (SELECT doc_id, text || ' cafe\u0301 re\u0301sume\u0301' AS text FROM documents),
      |n AS (SELECT doc_id, length(text) AS len_raw,
      |        trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g')) AS t
      |      FROM p)
      |SELECT doc_id, len_raw, length(t) AS len_nfc,
      |  t[-12:] AS tail_nfc
      |FROM n ORDER BY doc_id""".stripMargin

  // Stupid-backoff bigram LM perplexity scoring (CCNet's quality signal):
  // the model is trained on the corpus itself (counts are closed-form),
  // bigrams pruned below count 2 so the backoff path is exercised; the
  // oracle rebuilds counts and the scoring rule from scratch in DuckDB.
  private def t117(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val model = graft.text.NgramLm.train(docs, "text", minBigramCount = 2L)
    graft.text.NgramLm.score(docs, "doc_id", "text", model)
      .orderBy("doc_id")
  }

  private val t117Sql =
    """WITH d AS (SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS tk
      |  FROM documents),
      |words AS (SELECT unnest(tk) AS w FROM d),
      |uni AS (SELECT w, count(*) AS c FROM words GROUP BY 1),
      |n AS (SELECT sum(c) AS total FROM uni),
      |pos AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM d),
      |pairs AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2 FROM pos),
      |bi AS (SELECT w1, w2, count(*) AS c FROM pairs GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_scored,
      |  round(avg(CASE WHEN b.c IS NOT NULL
      |    THEN log10(b.c::DOUBLE / u1.c)
      |    ELSE log10(0.4) + log10(u2.c::DOUBLE / (SELECT total FROM n)) END), 6)
      |    AS avg_logp
      |FROM pairs p
      |LEFT JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
      |JOIN uni u1 ON u1.w = p.w1
      |JOIN uni u2 ON u2.w = p.w2
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // DSIR importance resampling: top-50 raw docs by Gumbel-noised
  // importance log-weight log10 p_target − log10 p_raw under two bigram
  // LMs (target = the English subset). The oracle retrains BOTH count
  // models, rescores every doc under each (with the OOV backoff for the
  // target model), and reproduces the Gumbel key from the md5
  // hash-uniform — the full selection replayed from scratch.
  private def t139(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.text.Dsir.resample(docs, docs.filter(col("lang") === "en"),
      "doc_id", "text", n = 50)
      .orderBy("doc_id")
  }

  private val t139Sql =
    """WITH d AS (SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS tk
      |  FROM documents),
      |tgt AS (SELECT d.tk FROM d JOIN documents doc USING (doc_id)
      |        WHERE doc.lang = 'en'),
      |uni_t AS (SELECT w, count(*) AS c
      |          FROM (SELECT unnest(tk) AS w FROM tgt) GROUP BY 1),
      |n_t AS (SELECT sum(c) AS total FROM uni_t),
      |bi_t AS (SELECT w1, w2, count(*) AS c FROM (
      |           SELECT tk[i] AS w1, tk[i + 1] AS w2
      |           FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
      |                 FROM tgt))
      |         GROUP BY 1, 2 HAVING count(*) >= 2),
      |uni_r AS (SELECT w, count(*) AS c
      |          FROM (SELECT unnest(tk) AS w FROM d) GROUP BY 1),
      |n_r AS (SELECT sum(c) AS total FROM uni_r),
      |bi_r AS (SELECT w1, w2, count(*) AS c FROM (
      |           SELECT tk[i] AS w1, tk[i + 1] AS w2
      |           FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
      |                 FROM d))
      |         GROUP BY 1, 2 HAVING count(*) >= 2),
      |pairs AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
      |          FROM (SELECT doc_id, tk,
      |                  unnest(generate_series(1, len(tk) - 1)) AS i FROM d)),
      |s_t AS (SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_scored,
      |          round(avg(CASE WHEN b.c IS NOT NULL
      |            THEN log10(b.c::DOUBLE / u1.c)
      |            ELSE log10(0.4) + log10(coalesce(u2.c, 0.5)::DOUBLE
      |                   / (SELECT total FROM n_t)) END), 6) AS logp_t
      |        FROM pairs p
      |        LEFT JOIN bi_t b ON b.w1 = p.w1 AND b.w2 = p.w2
      |        LEFT JOIN uni_t u1 ON u1.w = p.w1
      |        LEFT JOIN uni_t u2 ON u2.w = p.w2
      |        GROUP BY 1),
      |s_r AS (SELECT p.doc_id,
      |          round(avg(CASE WHEN b.c IS NOT NULL
      |            THEN log10(b.c::DOUBLE / u1.c)
      |            ELSE log10(0.4) + log10(u2.c::DOUBLE
      |                   / (SELECT total FROM n_r)) END), 6) AS logp_r
      |        FROM pairs p
      |        LEFT JOIN bi_r b ON b.w1 = p.w1 AND b.w2 = p.w2
      |        JOIN uni_r u1 ON u1.w = p.w1
      |        JOIN uni_r u2 ON u2.w = p.w2
      |        GROUP BY 1),
      |keyed AS (
      |  SELECT s_t.doc_id, s_t.n_scored,
      |    round(s_t.n_scored * (s_t.logp_t - s_r.logp_r), 6) AS log_w
      |  FROM s_t JOIN s_r ON s_t.doc_id = s_r.doc_id),
      |gk AS (
      |  SELECT doc_id, n_scored, log_w,
      |    round(log_w * ln(10) - ln(-ln(
      |      (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
      |        + CAST(0.5 AS DOUBLE)) / CAST(4503599627370496 AS DOUBLE))), 6)
      |      AS gumbel_key
      |  FROM keyed),
      |sel AS (SELECT * FROM gk ORDER BY gumbel_key DESC, doc_id LIMIT 50)
      |SELECT doc_id, n_scored, log_w, gumbel_key FROM sel
      |ORDER BY doc_id""".stripMargin

  // Edit-distance similarity join (fuzzy entity resolution): all distinct
  // part-name pairs within 2 edits, found via FastSS deletion-neighborhood
  // blocking (never all-pairs) and verified with exact levenshtein; the
  // oracle IS the all-pairs answer, so completeness of the blocking is
  // what the gate proves.
  private def d118(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(s, dir).select(col("p_name")).distinct()
    graft.dedup.EditDistance.edJoin(names, "p_name", "p_name", tau = 2)
      .select(col("str_a").as("name_a"), col("str_b").as("name_b"),
        col("dist").cast("long").as("dist"))
      .orderBy("name_a", "name_b")
  }

  private val d118Sql =
    """WITH n AS (SELECT DISTINCT p_name FROM part)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      |FROM n a JOIN n b ON a.p_name < b.p_name
      |WHERE levenshtein(a.p_name, b.p_name) <= 2
      |ORDER BY name_a, name_b""".stripMargin

  // BM25 keyword retrieval: top-10 documents for three fixed keyword
  // queries; the oracle recomputes tokenization → tf/df → the Okapi
  // formula → (score desc, doc_id) ranking from scratch with DuckDB list
  // ops. Scores round to 6 before ranking on both sides so the order is
  // engine-portable.
  private val bm25Queries = Seq(
    (0L, "spark hash join"), (1L, "slow scan table"), (2L, "window sort"))

  private def t119(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = bm25Queries.toDF("query_id", "qtext")
    graft.text.Bm25.topK(Tables.documents(s, dir), "doc_id", "text",
      q, "query_id", "qtext", k = 10)
      .orderBy("query_id", "rnk")
  }

  /** The BM25 derivation as a reusable DuckDB CTE chain ending in ranked
    * hits `r(query_id, doc_id, score, rnk)` with `rnk <= k` — shared by
    * the t119 gate and the d137 hybrid-fusion oracle so both recompute
    * the same lexical ranking from scratch. */
  private def bm25OracleCtes(k: Int): String = {
    val values = bm25Queries
      .map { case (i, t) => s"($i, '$t')" }.mkString(", ")
    s"""d AS (SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS tk
       |  FROM documents),
       |s AS (SELECT count(*)::DOUBLE AS n, avg(len(tk))::DOUBLE AS avgdl FROM d),
       |q AS (SELECT * FROM (VALUES $values) AS t(query_id, qtext)),
       |qt AS (SELECT query_id, unnest(list_distinct(string_split(qtext, ' '))) AS term
       |       FROM q),
       |m AS (SELECT d.doc_id, len(d.tk)::DOUBLE AS dl, qt.query_id, qt.term,
       |        len(list_filter(d.tk, x -> x = qt.term))::DOUBLE AS tf
       |      FROM d, qt
       |      WHERE len(list_filter(d.tk, x -> x = qt.term)) > 0),
       |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM m GROUP BY 1),
       |sc AS (SELECT m.query_id, m.doc_id,
       |        round(sum(ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1)
       |          * m.tf * 2.2 / (m.tf + 1.2 * (1 - 0.75 + 0.75 * m.dl / s.avgdl))), 6)
       |          AS score
       |      FROM m, s JOIN df ON df.term = m.term
       |      GROUP BY 1, 2),
       |r0 AS (SELECT query_id, doc_id, score,
       |        CAST(row_number() OVER (PARTITION BY query_id
       |          ORDER BY score DESC, doc_id) AS INTEGER) AS rnk
       |      FROM sc),
       |r AS (SELECT * FROM r0 WHERE rnk <= $k)""".stripMargin
  }

  private val t119Sql =
    s"""WITH ${bm25OracleCtes(10)}
       |SELECT query_id, rnk, doc_id, score FROM r
       |ORDER BY query_id, rnk""".stripMargin

  // BM25 answered from the PERSISTED inverted index (r9): build the
  // term-bucketed postings + stats + meta layout, then answer the t119
  // queries through bucket-file seeks only. The oracle is t119's full
  // DuckDB recompute VERBATIM — the serving layout must answer exactly
  // what the in-job scan answers (the fold is bit-compatible: sorted-term
  // contributions from the same 0.0; see Bm25.topKIndexed scaladoc).
  // Tables are (re)built at gate start, never dropped at the end — the
  // returned frame reads them lazily when the driver writes it.
  private def t151(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // buildIndex is self-cleaning (catalog drop + stale-location delete),
    // so re-running the gate against a warehouse left by a previous
    // session is safe
    graft.text.Bm25.buildIndex(Tables.documents(s, dir), "doc_id", "text",
      "gate_bm25_idx", buckets = 16)
    val q = bm25Queries.toDF("query_id", "qtext")
    graft.text.Bm25.topKIndexed(s, "gate_bm25_idx", q, "query_id", "qtext",
      k = 10).orderBy("query_id", "rnk")
  }

  private val t151Sql = t119Sql // the index must answer exactly the scan's answer

  // BM25 persisted-index APPEND lifecycle (r10): build on the even half
  // of the corpus, fold the odd half in through appendToIndex (postings
  // append + stats merge-and-SWAP + meta fold — exactly the bookkeeping
  // an oracle catches drifting), then answer the t119 queries from the
  // appended index. The oracle is t119's full-corpus DuckDB recompute
  // VERBATIM: build(A) + append(B) must answer exactly what
  // build(A ∪ B) answers, which is bit-for-bit what the in-job scan
  // answers (Bm25IndexSpec pins append ≡ rebuild; this gate pins the
  // whole lifecycle against the independent oracle).
  private def t153(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    graft.text.Bm25.buildIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", "gate_bm25_app_idx", buckets = 16)
    graft.text.Bm25.appendToIndex(s, "gate_bm25_app_idx",
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    val q = bm25Queries.toDF("query_id", "qtext")
    graft.text.Bm25.topKIndexed(s, "gate_bm25_app_idx", q, "query_id",
      "qtext", k = 10).orderBy("query_id", "rnk")
  }

  private val t153Sql = t119Sql // append ≡ rebuild ≡ the scan's answer

  // BM25 index CRASH RECOVERY, oracle-gated (r11): forge appendToIndex's
  // one non-idempotent window — build on the even half, commit the odd
  // half's POSTINGS (the identical bucketed append the real path writes)
  // but "die" before the stats/meta swaps, leaving side tables that still
  // describe the even half only — then run repairStatsFromPostings and
  // answer the t119 queries from the repaired index. The oracle is t119's
  // full-corpus DuckDB recompute VERBATIM: recovery must answer exactly
  // what a fresh build over A ∪ B answers (Bm25IndexSpec pins the
  // stats/meta tables bit-equal; this gate pins the SERVED ANSWERS
  // against the independent oracle).
  private def t155(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    graft.text.Bm25.buildIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", "gate_bm25_rep_idx", buckets = 16)
    graft.text.Bm25.postings(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text")
      .repartition(col("term"))
      .write.mode("append").bucketBy(16, "term").sortBy("term")
      .format("parquet").saveAsTable("gate_bm25_rep_idx")
    graft.text.Bm25.repairStatsFromPostings(s, "gate_bm25_rep_idx")
    val q = bm25Queries.toDF("query_id", "qtext")
    graft.text.Bm25.topKIndexed(s, "gate_bm25_rep_idx", q, "query_id",
      "qtext", k = 10).orderBy("query_id", "rnk")
  }

  private val t155Sql = t119Sql // repair ≡ rebuild ≡ the scan's answer

  // MMR diversified re-ranking: brute-force cosine top-20 candidates per
  // query, greedily re-ranked to a top-5 trading relevance (λ=0.7)
  // against max similarity to already-picked docs. The oracle replays the
  // same greedy trajectory with a recursive CTE — each step selects the
  // argmax of round(λ·rel − (1−λ)·max-pairwise-sim, 6) with doc-id ties —
  // so the gate proves step-by-step agreement, not just the final set.
  private def d138(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val sem = Similarity.bruteForceTopK(emb,
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 20)
    val cand = sem.join(
        emb.select(col("vec_id").as("nn_id"), col("embedding").as("vec")), Seq("nn_id"))
      .select(col("query_id"), col("nn_id").as("doc_id"),
        col("sim").as("rel"), col("vec"))
    graft.similarity.Hybrid.mmrRerank(cand, k = 5, lambda = 0.7)
      .orderBy("query_id", "rnk")
  }

  private val d138Sql =
    """WITH RECURSIVE eq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |       FROM embeddings WHERE vec_id < 3),
      |es AS (SELECT eq.query_id, e.vec_id AS doc_id, e.embedding::DOUBLE[] AS dv,
      |         round(list_cosine_similarity(eq.qv, e.embedding::DOUBLE[]), 4) AS rel
      |       FROM eq, embeddings e WHERE e.vec_id <> eq.query_id),
      |er0 AS (SELECT query_id, doc_id, dv, rel,
      |         row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rnk
      |       FROM es),
      |cand AS (SELECT query_id, doc_id, dv, rel FROM er0 WHERE rnk <= 20),
      |ps AS (SELECT a.query_id, a.doc_id AS a_id, b.doc_id AS b_id,
      |         round(list_cosine_similarity(a.dv, b.dv), 4) AS sim
      |       FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.doc_id <> b.doc_id),
      |first AS (SELECT query_id, doc_id, round(0.7 * rel, 6) AS sc,
      |            row_number() OVER (PARTITION BY query_id
      |              ORDER BY round(0.7 * rel, 6) DESC, doc_id) AS rn
      |          FROM cand),
      |walk(query_id, step, sel, doc_id, mmr_score) AS (
      |  SELECT query_id, 1, [doc_id], doc_id, sc FROM first WHERE rn = 1
      |  UNION ALL
      |  SELECT c.query_id, c.wstep + 1, list_append(c.wsel, c.doc_id), c.doc_id, c.sc
      |  FROM (
      |    SELECT c0.query_id, c0.doc_id, w.sel AS wsel, w.step AS wstep,
      |      round(0.7 * c0.rel - 0.3 * (SELECT max(p.sim) FROM ps p
      |        WHERE p.query_id = c0.query_id AND p.a_id = c0.doc_id
      |          AND list_contains(w.sel, p.b_id)), 6) AS sc
      |    FROM cand c0 JOIN walk w ON w.query_id = c0.query_id
      |    WHERE w.step < 5 AND NOT list_contains(w.sel, c0.doc_id)
      |    QUALIFY row_number() OVER (PARTITION BY c0.query_id, w.step, w.sel
      |      ORDER BY sc DESC, c0.doc_id) = 1) c)
      |SELECT query_id, CAST(step AS INT) AS rnk, doc_id, mmr_score
      |FROM walk ORDER BY query_id, rnk""".stripMargin

  // Hybrid retrieval via reciprocal-rank fusion: BM25 top-20 (lexical,
  // over documents) fused with brute-force cosine top-20 (semantic, over
  // the matching embedding ids) into one top-10 per query. The oracle
  // recomputes BOTH rankings from scratch (the shared BM25 CTE chain +
  // the d64-style cosine derivation) and then the RRF sum 1/(60+rank) —
  // nothing is taken from the Spark side.
  private def d137(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = bm25Queries.toDF("query_id", "qtext")
    val lex = graft.text.Bm25.topK(Tables.documents(s, dir), "doc_id", "text",
      q, "query_id", "qtext", k = 20)
      .select(col("query_id"), col("rnk"), col("doc_id"))
    val emb = Tables.embeddings(s, dir)
    val sem = Similarity.bruteForceTopK(emb,
      emb.filter(col("vec_id") < bm25Queries.size), "vec_id", "embedding", k = 20)
      .select(col("query_id"), col("rnk"), col("nn_id").as("doc_id"))
    graft.similarity.Hybrid.rrfFuse(Seq(lex, sem), k = 10)
      .orderBy("query_id", "rnk")
  }

  private val d137Sql =
    s"""WITH ${bm25OracleCtes(20)},
       |eq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |       FROM embeddings WHERE vec_id < ${bm25Queries.size}),
       |es AS (SELECT eq.query_id, e.vec_id AS doc_id,
       |         round(list_cosine_similarity(eq.qv, e.embedding::DOUBLE[]), 4) AS sim
       |       FROM eq, embeddings e WHERE e.vec_id <> eq.query_id),
       |er0 AS (SELECT query_id, doc_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY sim DESC, doc_id) AS rnk
       |       FROM es),
       |er AS (SELECT * FROM er0 WHERE rnk <= 20),
       |contrib AS (
       |  SELECT query_id, doc_id, 1.0 / (60 + rnk) AS c FROM r
       |  UNION ALL SELECT query_id, doc_id, 1.0 / (60 + rnk) FROM er),
       |fused AS (SELECT query_id, doc_id, round(sum(c), 6) AS rrf_score
       |          FROM contrib GROUP BY 1, 2),
       |fr AS (SELECT query_id, doc_id, rrf_score,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rnk
       |       FROM fused)
       |SELECT query_id, rnk, doc_id, rrf_score FROM fr WHERE rnk <= 10
       |ORDER BY query_id, rnk""".stripMargin

  // Markup stripping: documents wrapped in a deterministic HTML shell
  // (script/style blocks, comments, tags, double-escaped entities) must
  // come back as clean prose. The oracle never runs a regex — it
  // reconstructs the expected plain text CONSTRUCTIVELY from the raw
  // columns, so the Spark-side scrub is checked against intent, not
  // against another regex engine.
  private def t120(s: SparkSession, dir: String): DataFrame = {
    val html = Tables.documents(s, dir).withColumn("html",
      concat(lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;</script>"),
        lit("<style>p { color: red; }</style></head><body><h1>"), col("source"),
        lit("</h1><!-- hidden "), col("lang"), lit(" --><p>"), col("text"),
        lit(" &amp;lt; &quot;q&#39;s&quot; A&nbsp;B</p></body></html>")))
    graft.text.TextAnalysis.stripMarkup(html, "html")
      .select(col("doc_id"), col("text_plain"),
        length(col("text_plain")).as("n_plain"))
      .orderBy("doc_id")
  }

  private val t120Sql =
    """SELECT doc_id,
      |  source || ' ' || trim(regexp_replace(text, '\s+', ' ', 'g'))
      |    || ' &lt; "q''s" A B' AS text_plain,
      |  length(source || ' ' || trim(regexp_replace(text, '\s+', ' ', 'g'))
      |    || ' &lt; "q''s" A B') AS n_plain
      |FROM documents ORDER BY doc_id""".stripMargin

  // Deterministic shuffle + token-budget shard assignment: the corpus in
  // md5 order, greedily cut into 512-token shards via the distributed
  // (bucketed) prefix sum; the oracle derives the same layout with one
  // global window cumsum.
  private def p121(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).withColumn("ntok",
      size(split(trim(regexp_replace(col("text"), "\\s+", " ")), " ")).cast("long"))
    Packing.shardByTokenBudget(docs, "doc_id", "ntok", budget = 512L)
      .select(col("doc_id"), col("ntok"), col("shard"))
      .orderBy("doc_id")
  }

  private val p121Sql =
    """WITH d AS (SELECT doc_id,
      |    CAST(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))
      |      AS BIGINT) AS ntok,
      |    md5('shard:' || doc_id) AS h
      |  FROM documents)
      |SELECT doc_id, ntok,
      |  CAST((sum(ntok) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) - ntok)
      |    // 512 AS BIGINT) AS shard
      |FROM d ORDER BY doc_id""".stripMargin

  // URL parse + per-domain cap: deterministic URLs are synthesized from
  // document fields, Spark's parse_url extracts the host, the two-label
  // heuristic yields the registrable domain, and at most 10 docs per
  // domain survive (md5-ranked). The oracle never parses a URL — it
  // reconstructs host/domain constructively from the same fields and
  // applies the identical md5 ranking.
  private def t122(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).withColumn("url",
      concat(lit("https://"),
        element_at(array(lit("www"), lit("cdn"), lit("m.site")),
          (col("doc_id") % 3 + 1).cast("int")),
        lit("."), col("source"), (col("doc_id") % 2).cast("string"),
        lit(".com/p/"), col("doc_id").cast("string"),
        lit("?q="), col("lang")))
    graft.text.Urls.capPerDomain(docs, "url", "doc_id", n = 10)
      .select(col("doc_id"), col("url_host"), col("url_domain"))
      .orderBy("doc_id")
  }

  private val t122Sql =
    """WITH d AS (SELECT doc_id,
      |    ['www', 'cdn', 'm.site'][(doc_id % 3 + 1)::INT] AS sub,
      |    source || (doc_id % 2) || '.com' AS dom
      |  FROM documents),
      |r AS (SELECT doc_id, sub || '.' || dom AS url_host, dom AS url_domain,
      |    row_number() OVER (PARTITION BY dom ORDER BY md5(doc_id::VARCHAR)) AS rk
      |  FROM d)
      |SELECT doc_id, url_host, url_domain FROM r WHERE rk <= 10
      |ORDER BY doc_id""".stripMargin

  // Embedding-cosine near-dup pairs (LSH-bucketed + exact verify): the
  // natural corpus has no >0.95 pairs (max non-planted cosine ≈ 0.60), so
  // the gate plants, per base vector (vec_id % 100 = 0), an exact copy
  // and a ×0.5 copy. Halving is binary-exact and hyperplane signs are
  // scale-invariant, so all three pair combinations per base land in the
  // same bucket with cosine exactly 1.0 — the oracle constructs that pair
  // list arithmetically, never touching a vector.
  private def d125(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val bases = emb.filter(col("vec_id") % 100 === 0)
    val corpus = emb
      .union(bases.select((col("vec_id") + 1000000L).as("vec_id"), col("v")))
      .union(bases.select((col("vec_id") + 2000000L).as("vec_id"),
        transform(col("v"), x => x * 0.5).as("v")))
    Dedup.embeddingNearDups(corpus, "vec_id", "v", threshold = 0.95, nBits = 16)
      .orderBy("id_a", "id_b")
  }

  private val d125Sql =
    """WITH b AS (SELECT vec_id FROM embeddings WHERE vec_id % 100 = 0)
      |SELECT id_a, id_b, cos FROM (
      |  SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, 1.0::DOUBLE AS cos FROM b
      |  UNION ALL SELECT vec_id, vec_id + 2000000, 1.0::DOUBLE FROM b
      |  UNION ALL SELECT vec_id + 1000000, vec_id + 2000000, 1.0::DOUBLE FROM b)
      |ORDER BY id_a, id_b""".stripMargin

  override val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d114_leakage_safe_split" -> d114,
    "d118_edit_distance_join" -> d118,
    "d125_embedding_near_dups" -> d125,
    "t122_url_domain_cap" -> t122,
    "t119_bm25_topk" -> t119,
    "t151_bm25_indexed" -> t151,
    "t153_bm25_index_append" -> t153,
    "t155_bm25_stats_repair" -> t155,
    "d137_hybrid_rrf_retrieval" -> d137,
    "d138_mmr_diversified_topk" -> d138,
    "t120_markup_strip" -> t120,
    "p121_shard_token_budget" -> p121,
    "t115_chunk_overlap" -> t115,
    "t116_nfc_normalize" -> t116,
    "t117_ngram_lm_perplexity" -> t117,
    "t139_dsir_resample" -> t139,
    "t140_bpe_production_vocab" -> t140,
    "s141_streaming_curation_e2e" -> s141,
    "s144_streaming_cdc_apply" -> s144,
    "s148_streaming_dedup_ttl_v2" -> s148,
    "s152_streaming_batches_v2" -> s152,
    "d60_exact_dedup" -> d60,
    "d107_exact_substring_spans" -> d107,
    "d108_exact_substring_scrub" -> d108,
    "d61_ngram_jaccard_probe" -> d61,
    "d62_minhash_lsh_neardups" -> d62,
    "d63_simhash_neardups" -> d63,
    "d64_embedding_cosine_topk" -> d64,
    "d65_embedding_lsh_ann" -> d65,
    "d134_embedding_lsh_multiprobe" -> d134,
    "d135_embedding_int8_quantize" -> d135,
    "d136_semantic_decontamination" -> d136,
    "d73_embedding_ivf_ann" -> d73,
    "d109_embedding_ivfpq_ann" -> d109,
    "d87_dup_clusters" -> d87,
    "d88_dedup_canonical" -> d88,
    "d93_incremental_dedup" -> d93,
    "d133_bloom_incremental_dedup" -> d133,
    "d104_dedup_index_maintenance" -> d104,
    "d105_semantic_dedup" -> d105,
    "t106_decontaminate" -> t106,
    "t110_quality_score" -> t110,
    "t66_text_quality_features" -> t66,
    "t67_language_id" -> t67,
    "t68_doc_fingerprint" -> t68,
    "t86_repetition_filter" -> t86,
    "t89_pii_redaction" -> t89,
    "t92_corpus_mix" -> t92,
    "t100_bpe_tokenize" -> t100,
    "t101_bpe_scale_train" -> t101,
    "p90_pack_concat_chunk" -> p90,
    "p91_pack_greedy" -> p91,
    "p102_zorder_curve" -> p102,
    "p103_zorder_nary_ranked" -> p103,
    "m69_multimodal_decode" -> m69,
    "m70_frame_sampling" -> m70,
    "m94_ppm_decode" -> m94,
    "m95_ppm_resize" -> m95,
    "m96_wav_decode" -> m96,
    "m97_wav_decimate" -> m97,
    "m98_y4m_frame_sampling" -> m98)

  override val oracles: Map[String, String] = Map(
    "d114_leakage_safe_split" -> d114Sql,
    "d118_edit_distance_join" -> d118Sql,
    "d125_embedding_near_dups" -> d125Sql,
    "t122_url_domain_cap" -> t122Sql,
    "t119_bm25_topk" -> t119Sql,
    "t151_bm25_indexed" -> t151Sql,
    "t153_bm25_index_append" -> t153Sql,
    "t155_bm25_stats_repair" -> t155Sql,
    "d137_hybrid_rrf_retrieval" -> d137Sql,
    "d138_mmr_diversified_topk" -> d138Sql,
    "t120_markup_strip" -> t120Sql,
    "p121_shard_token_budget" -> p121Sql,
    "t115_chunk_overlap" -> t115Sql,
    "t116_nfc_normalize" -> t116Sql,
    "t117_ngram_lm_perplexity" -> t117Sql,
    "t139_dsir_resample" -> t139Sql,
    "t140_bpe_production_vocab" -> t140Sql,
    "s141_streaming_curation_e2e" -> s141Sql,
    "s144_streaming_cdc_apply" -> s144Sql,
    "s148_streaming_dedup_ttl_v2" -> s148Sql,
    "s152_streaming_batches_v2" -> s152Sql,
    "d60_exact_dedup" -> d60Sql,
    "d107_exact_substring_spans" -> d107Sql,
    "d108_exact_substring_scrub" -> d108Sql,
    "d61_ngram_jaccard_probe" -> d61Sql,
    "d62_minhash_lsh_neardups" -> d62Sql,
    "d63_simhash_neardups" -> d63Sql,
    "d64_embedding_cosine_topk" -> d64Sql,
    "d65_embedding_lsh_ann" -> annOracleSql,
    "d134_embedding_lsh_multiprobe" -> annOracleSql,
    "d135_embedding_int8_quantize" -> d135Sql,
    "d136_semantic_decontamination" -> d136Sql,
    "d73_embedding_ivf_ann" -> annOracleSql,
    "d109_embedding_ivfpq_ann" -> annOracleSql,
    "d87_dup_clusters" -> d87Sql,
    "d88_dedup_canonical" -> d88Sql,
    "d93_incremental_dedup" -> d93Sql,
    "d133_bloom_incremental_dedup" -> d133Sql,
    "d104_dedup_index_maintenance" -> d104Sql,
    "d105_semantic_dedup" -> d105Sql,
    "t106_decontaminate" -> t106Sql,
    "t110_quality_score" -> t110Sql,
    "t66_text_quality_features" -> t66Sql,
    "t67_language_id" -> t67Sql,
    "t68_doc_fingerprint" -> t68Sql,
    "t86_repetition_filter" -> t86Sql,
    "t89_pii_redaction" -> t89Sql,
    "t92_corpus_mix" -> t92Sql,
    "t100_bpe_tokenize" -> t100Sql,
    "t101_bpe_scale_train" -> t101Sql,
    "p90_pack_concat_chunk" -> p90Sql,
    "p91_pack_greedy" -> p91Sql,
    "p102_zorder_curve" -> p102Sql,
    "p103_zorder_nary_ranked" -> p103Sql,
    "m69_multimodal_decode" -> m69Sql,
    "m70_frame_sampling" -> m70Sql,
    "m94_ppm_decode" -> m94Sql,
    "m95_ppm_resize" -> m95Sql,
    "m96_wav_decode" -> m96Sql,
    "m97_wav_decimate" -> m97Sql,
    "m98_y4m_frame_sampling" -> m98Sql)
}
