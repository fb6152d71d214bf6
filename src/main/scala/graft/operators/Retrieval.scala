package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 top-k text retrieval over `documents` — the keyword-search /
  * example-mining primitive of a curation pipeline (find the documents
  * most relevant to a probe query: contamination triage, targeted
  * inspection, seed selection for importance sampling).
  *
  * Scoring is Robertson/Spärck-Jones BM25 (k1 = 1.2, b = 0.75) with two
  * cross-engine determinism substitutions, both established house rules:
  *
  *   - **log-free IDF** (the q70 rule): the `ln` in classic IDF is libm
  *     (not bit-portable), so the rarity factor is the LINEAR ratio the
  *     log would be taken of — `(2N - 2df + 1) / (2df + 1)`, i.e.
  *     `(N - df + 0.5) / (df + 0.5)` with the halves cleared. It is
  *     positive for df ≤ N and induces the same per-term document
  *     ranking (log is monotone).
  *   - **integer-ppm arithmetic** (the q134 rule): every division is an
  *     explicit integral `DIV` at a declared ppm scale, so both engines
  *     compute bit-identical BIGINT scores. Products that could exceed
  *     int64 at corpus scale route through DECIMAL(38,0) / HUGEINT
  *     (q134's routing).
  *
  * Fully expanded, with T = total corpus tokens, N = |corpus| (so
  * avgdl = T/N), dl = doc tokens, tf = term count in doc:
  *
  *   avgdl_ppm = T·10^6 DIV N                      (control scalar)
  *   ratio_ppm = dl·10^12 DIV avgdl_ppm            (dl/avgdl)
  *   denom_ppm = tf·10^6 + 0.3·10^6 + 0.9·ratio_ppm
  *               (= tf + k1·(1-b) + k1·b·dl/avgdl, k1=6/5, b=3/4)
  *   tfn_ppm   = tf·2.2·10^12 DIV denom_ppm        (= tf·(k1+1)/denom)
  *   idf_ppm   = (2N - 2df + 1)·10^6 DIV (2df + 1)
  *   score_ppm = Σ_terms (tfn_ppm · idf_ppm DIV 10^6)
  *
  * Scale shape: the probe vocabulary is a LITERAL `IN` filter applied
  * before the (doc_id, term) aggregate, so the exploded corpus is cut to
  * query-term rows at the scan — the full-vocabulary TF relation never
  * materializes (contrast q70, which needs it). df is a query-vocabulary-
  * sized aggregate broadcast back; the query table itself is a broadcast
  * literal. Top-k per query is a rank-limit window (WindowGroupLimit
  * pushes the k=5 heap into the partial aggregation). N and T arrive via
  * one 1-row control-plane aggregate (the q70 pattern).
  */
object Retrieval {

  /** Top-k cutoff per query. */
  val TopK = 5

  /** The probe query set — ONE Scala literal rendered into both the
    * Spark broadcast relation and the oracle's VALUES list. Terms are
    * distinct within a query (qtf = 1; the standard short-query form). */
  val querySet: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "window", "merge"),
    2L -> Seq("slow", "query"),
    3L -> Seq("stream", "batch", "table"),
    4L -> Seq("customer", "vector"),
    5L -> Seq("sort", "filter", "agg"),
    6L -> Seq("big", "small", "fast"))

  private def queryVocab: Seq[String] = querySet.flatMap(_._2).distinct

  /** (query_id, doc_id, score_ppm, overlap_ppm, n_hit) for every doc
    * containing ≥ 1 query term — the BM25 score and the presence-weighted
    * IDF-overlap score side by side. q150 ranks the former; q175 fuses
    * both (two genuinely different ranking families over one TF build). */
  private def scoredAll(spark: SparkSession, dir: String): DataFrame =
    scoredFor(spark, dir,
      querySet.flatMap { case (q, ts) => ts.map(t => (q, t)) })

  /** The BM25-ppm scoring chain for an arbitrary (query_id, term) set —
    * shared by the literal [[querySet]] probes (q150/q175) and the q238
    * self-retrieval eval, whose term set is data-derived (bounded by the
    * eval-query cap, so the IN literal and the terms broadcast stay
    * control-plane sized at any corpus scale). */
  private def scoredFor(spark: SparkSession, dir: String,
                        termPairs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    val vocab = termPairs.map(_._2).distinct
    // round 13: wide scan — the tokenize is the whole corpus-side cost
    val docs = Tables.documentsWide(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("dl"))
    // Control scalars (one bounded 1-row aggregate, the q70/PrefixSum
    // driver-loop dimension): corpus size and total token mass.
    val row = docs.agg(count(lit(1)), sum(col("dl"))).first()
    val n = row.getLong(0)
    // BigInt: total token mass × 1e6 clips int64 past ~9.2e12 tokens
    val avgdlPpm = (BigInt(row.getLong(1)) * 1000000 / n).toLong
    val terms = termPairs.toDF("query_id", "term")
    // Literal IN filter BEFORE the aggregate: only query-term occurrences
    // survive the explode — the corpus-wide TF relation never exists.
    // explode_OUTER: stops InferFiltersFromGenerate cloning the split into
    // a scan-level size()>0 filter (tokenize twice per doc); a null term
    // can't pass the INSET filter, so the row set is unchanged.
    val tf = docs
      .select(col("doc_id"), col("dl"), explode_outer(col("t")).as("term"))
      .filter(col("term").isin(vocab: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfRel = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25Chain(tf.join(broadcast(dfRel), "term"), terms, n, avgdlPpm)
  }

  /** BM25-ppm scoring tail over a postings relation carrying
    * (doc_id, dl, term, tf, df) — shared by the on-the-fly [[scoredFor]]
    * chain and the persisted-index query path (q264), so the serving
    * index and the from-scratch scorer can never drift formula-wise.
    *
    * Round 13 (optimization guide §1.2 step 2 / §2.3): the per-posting
    * scalars (ratio/denom/tfn/idf — value-identical expressions, moved
    * verbatim) are computed BEFORE the terms join, not after it: a term
    * shared by k eval queries used to pay its DECIMAL(38,0) divisions k
    * times — `java.math.BigDecimal.divideToIntegralValue` dominated the
    * profile of every bm25 consumer (q238/q239/q247/q248/q253/q257/q264/
    * q266-q272; thread-sample measured round 13). The one remaining
    * per-joined-row product is decomposed into pure int64 arithmetic:
    * with q = idf DIV 1e6 and r = idf MOD 1e6 (idf = q·1e6 + r, all
    * terms non-negative),
    *     (tfn · idf) DIV 1e6  =  tfn·q + (tfn·r) DIV 1e6      (exact)
    * and the decomposition overflows int64 only where the ORIGINAL
    * expression's own CAST(... AS BIGINT) already clipped (tfn ≤ 2.2e6
    * by saturation, so tfn·q ≤ 2.2·idf = term_ppm's own magnitude) — the
    * valid domain is unchanged. Round13bSpec pins the identity against
    * the decimal form across the magnitude range. Outside that domain
    * (idf_ppm ≳ 4.2e18/tfn, i.e. ~1e12+ docs) the FAILURE MODE differs
    * (ADVICE r13): the decimal form's overflow cast returned NULL (row
    * silently dropped from the score sum), the int64 form wraps to a
    * garbage score. Neither is a correct score; a deployment at that
    * scale must widen the chain, not rely on either behavior. */
  private def bm25Chain(tfdf: DataFrame, terms: DataFrame,
                        n: Long, avgdlPpm: Long): DataFrame =
    tfdf
      // dl·10^12 routes through DECIMAL(38,0): at web scale dl can reach
      // 10^6 tokens and the product would clip int64.
      .withColumn("ratio_ppm", expr(
        s"CAST(CAST(dl AS DECIMAL(38,0)) * 1000000000000 DIV ${avgdlPpm}L AS BIGINT)"))
      .withColumn("denom_ppm",
        expr("tf * 1000000L + 300000L + 900000L * ratio_ppm DIV 1000000L"))
      .withColumn("tfn_ppm", expr(
        "CAST(CAST(tf AS DECIMAL(38,0)) * 2200000 * 1000000 DIV denom_ppm AS BIGINT)"))
      .withColumn("idf_ppm", expr(
        s"CAST((2 * ${n}L - 2 * df + 1) * CAST(1000000 AS DECIMAL(38,0)) DIV (2 * df + 1) AS BIGINT)"))
      // project the exchange-bound columns only (guide §2.3): the join
      // fan-out multiplies every byte by the queries sharing the term
      .select(col("term"), col("doc_id"), col("tf"), col("tfn_ppm"),
              col("idf_ppm"))
      .join(broadcast(terms), "term")
      .withColumn("term_ppm", expr(
        "tfn_ppm * (idf_ppm DIV 1000000L) + tfn_ppm * (idf_ppm % 1000000L) DIV 1000000L"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_ppm")).as("score_ppm"),
           sum(col("idf_ppm")).as("overlap_ppm"),
           count(lit(1)).as("n_hit"),
           // raw query-term mass — q252's graded-relevance signal (a gold
           // grade INDEPENDENT of the ranker's saturation/normalization)
           sum(col("tf")).as("tf_mass"))

  def q150Bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
    scoredAll(spark, dir)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("n_hit"),
              col("score_ppm"))
      .orderBy(col("query_id"), col("rank"))
  }

  // -------------------------------------------------------------------------
  // q175 — hybrid-retrieval fusion: reciprocal-rank fusion (Cormack,
  // Clarke & Buettcher SIGIR'09) of the BM25 ranking with the
  // presence-weighted IDF-overlap ranking. RRF is THE production hybrid-
  // search combiner (Elasticsearch/Vespa/OpenSearch all ship it) because
  // it needs no score calibration — only ranks. 1e9 DIV (k + rank) keeps
  // every fused score an exact integer.
  // -------------------------------------------------------------------------

  /** RRF constant (the SIGIR'09 default) and per-list depth cutoff. */
  val RrfK = 60L
  val RrfDepth = 20L

  /** q175 — top-k per query by fused RRF score, with both source ranks
    * beside it. Scale: both rankings are WindowGroupLimit-free full ranks
    * over the (already query-vocab-cut) candidate relation, partitioned
    * by query — no new shuffle beyond q150's. */
  def q175RrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("overlap_ppm").desc, col("doc_id"))
    val ranked = scoredAll(spark, dir)
      .withColumn("r_bm25", row_number().over(w1).cast("long"))
      .withColumn("r_overlap", row_number().over(w2).cast("long"))
      .withColumn("rrf_score",
        when(col("r_bm25") <= RrfDepth,
          expr(s"1000000000 DIV ($RrfK + r_bm25)")).otherwise(0L) +
        when(col("r_overlap") <= RrfDepth,
          expr(s"1000000000 DIV ($RrfK + r_overlap)")).otherwise(0L))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    ranked.withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("rrf_score"), col("r_bm25"), col("r_overlap"))
      .orderBy(col("query_id"), col("rank"))
  }

  // -------------------------------------------------------------------------
  // q238 — retrieval-index QUALITY EVAL via known-item self-retrieval:
  // generate a pseudo-query from every stride-sampled document (its first
  // QueryTerms distinct tokens — the "title query" convention of
  // synthetic-eval pipelines), run it against the full BM25 index, and
  // read off the GOLD document's rank. Per-query reciprocal rank (the MRR
  // numerator), hit@5, and candidate-set size quantify how well the index
  // surfaces a known document — the standing regression metric teams run
  // after every index/scorer change (and the eval harness behind
  // pseudo-query pretraining data selection).
  // -------------------------------------------------------------------------

  /** Eval-query sampling stride, cap, and query length. The cap bounds
    * every control-plane structure below (term IN literal, terms
    * broadcast, gold-score broadcast) at ANY corpus size. */
  val EvalStride = 97L
  val EvalResidue = 3L
  val MaxEvalQueries = 100
  val QueryTerms = 4

  /** q238 — per-eval-query gold rank + reciprocal rank, integer-exact
    * (rr_ppm = 10⁶ DIV rank; no float MRR division anywhere).
    *
    * Scale shape: eval queries are a bounded driver sample (stride filter
    * → ordered LIMIT [[MaxEvalQueries]] → collect ≤ 100 rows — the q196
    * count-derived-cap discipline); scoring reuses the q150 chain whose
    * corpus side is cut to query-vocabulary rows AT THE SCAN. The gold
    * rank is computed as 1 + count(strictly-better candidates) against a
    * broadcast of the ≤ 100 gold scores — no corpus-sized window, no
    * per-query sort; ties break toward the smaller doc_id, matching the
    * q150 ordering. */
  def q238MrrEval(spark: SparkSession, dir: String): DataFrame =
    mrrEvalFor(spark, dir, evalTermPairs(spark, dir))

  /** The q238 body over an arbitrary bounded (query_id, term) set —
    * split out so the cap-discipline spec (Round9Spec) can drive it at a
    * forced cap boundary and pin the plan shape. */
  private[graft] def mrrEvalFor(spark: SparkSession, dir: String,
                                termPairs: Seq[(Long, String)]): DataFrame = {
    val scored = scoredFor(spark, dir, termPairs)
      .select(col("query_id"), col("doc_id"), col("score_ppm"))
    val goldScores = scored.filter(col("doc_id") === col("query_id"))
      .select(col("query_id"), col("score_ppm").as("g_ppm"))
    scored.join(broadcast(goldScores), "query_id")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_cand"),
        (sum(when(col("score_ppm") > col("g_ppm") ||
                  (col("score_ppm") === col("g_ppm") &&
                   col("doc_id") < col("query_id")), 1L)
          .otherwise(0L)) + 1L).as("gold_rank"))
      .withColumn("rr_ppm", expr("1000000 DIV gold_rank"))
      .withColumn("hit5", (col("gold_rank") <= 5L).cast("long"))
      .orderBy(col("query_id"))
  }

  /** Oracle: the identical chain in DuckDB — pseudo-queries derived in
    * SQL (first-occurrence order via a zipped unnest-with-position, the
    * Spark `array_distinct` order), BM25 ppm chain verbatim, gold rank by
    * count-better. */
  val mrrEvalOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl
       |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |        FROM documents)),
       |gold AS (
       |  SELECT doc_id AS query_id, t FROM d
       |  WHERE doc_id % $EvalStride = $EvalResidue
       |  ORDER BY doc_id LIMIT $MaxEvalQueries),
       |occ AS (
       |  SELECT query_id, unnest(t) AS term,
       |         unnest(range(1, len(t) + 1)) AS o
       |  FROM gold),
       |q AS (
       |  SELECT query_id, term FROM (
       |    SELECT query_id, term, min(o) AS fo
       |    FROM occ GROUP BY query_id, term)
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY fo)
       |    <= $QueryTerms),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(dl) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
       |           AS avgdl_ppm
       |  FROM d),
       |tf AS (
       |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM d)
       |  WHERE term IN (SELECT term FROM q)
       |  GROUP BY doc_id, dl, term),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |parts AS (
       |  SELECT q.query_id, tf.doc_id,
       |    CAST(CAST(tf.tf AS HUGEINT) * 2200000 * 1000000 //
       |      (tf.tf * 1000000 + 300000 +
       |       900000 * (CAST(tf.dl AS HUGEINT) * 1000000000000 // s.avgdl_ppm)
       |         // 1000000)
       |      AS BIGINT) AS tfn_ppm,
       |    CAST((2 * s.n - 2 * df.df + 1) * CAST(1000000 AS HUGEINT)
       |         // (2 * df.df + 1) AS BIGINT) AS idf_ppm
       |  FROM tf JOIN df USING (term) JOIN q USING (term) CROSS JOIN stats s),
       |scored AS (
       |  SELECT query_id, doc_id,
       |    CAST(sum(CAST(tfn_ppm AS HUGEINT) * idf_ppm // 1000000) AS BIGINT)
       |      AS score_ppm
       |  FROM parts GROUP BY query_id, doc_id),
       |g AS (
       |  SELECT query_id, score_ppm AS g_ppm FROM scored
       |  WHERE doc_id = query_id)
       |SELECT s.query_id,
       |  CAST(count(*) AS BIGINT) AS n_cand,
       |  CAST(sum(CASE WHEN s.score_ppm > g.g_ppm
       |                  OR (s.score_ppm = g.g_ppm AND s.doc_id < s.query_id)
       |                THEN 1 ELSE 0 END) + 1 AS BIGINT) AS gold_rank,
       |  CAST(1000000 // (sum(CASE WHEN s.score_ppm > g.g_ppm
       |                  OR (s.score_ppm = g.g_ppm AND s.doc_id < s.query_id)
       |                THEN 1 ELSE 0 END) + 1) AS BIGINT) AS rr_ppm,
       |  CAST(CASE WHEN sum(CASE WHEN s.score_ppm > g.g_ppm
       |                  OR (s.score_ppm = g.g_ppm AND s.doc_id < s.query_id)
       |                THEN 1 ELSE 0 END) + 1 <= 5
       |       THEN 1 ELSE 0 END AS BIGINT) AS hit5
       |FROM scored s JOIN g USING (query_id)
       |GROUP BY s.query_id
       |ORDER BY s.query_id""".stripMargin

  // -------------------------------------------------------------------------
  // q239 — HYBRID dense+sparse retrieval: the production RAG pattern
  // (Elasticsearch/Vespa/Weaviate "hybrid search"): for each probe, run
  // BM25 over the text (the q238 pseudo-query) AND brute cosine over the
  // embedding (vec_id ≡ doc_id, the fixture's 1:1 document embedding),
  // then RRF-fuse the two rankings — lexical recall where the embedding
  // is weak (rare exact terms), semantic recall where BM25 is (paraphrase)
  // — excluding the probe document itself from both candidate lists.
  //
  // Scale shape: both legs are bounded by the eval cap — the query side
  // of the dense leg is a ≤ MaxEvalQueries broadcast against the vector
  // corpus (q32's no-corpus-shuffle shape), the sparse leg cuts the
  // corpus to query-vocab rows at the scan (q150's shape); each leg
  // keeps only its top-RrfDepth per query before the fusion join, so the
  // fused relation is ≤ queries × 2·depth rows at any corpus size.
  // -------------------------------------------------------------------------

  /** q239 — fused top-[[TopK]] per probe with both source ranks. */
  def q239HybridRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val goldRows = evalGold(spark, dir)
    val qids = goldRows.map(_._1)
    val termPairs = goldRows.flatMap { case (q, ts) => ts.map(t => (q, t)) }
    // sparse leg: BM25 rank, probe doc excluded, depth-cut
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
    val sparse = scoredFor(spark, dir, termPairs)
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("r_sparse", row_number().over(ws).cast("long"))
      .filter(col("r_sparse") <= RrfDepth)
      .select(col("query_id"), col("doc_id"), col("r_sparse"))
    // dense leg: brute cosine (q32's broadcast-query shape), same contract
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", call_function("graft_dot", col("v"), col("v")))
    val qv = vecs.filter(col("vec_id").isin(qids.map(Long.box): _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val wd = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("doc_id"))
    val dense = vecs.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        round(call_function("graft_dot", col("qv"), col("v")) /
          sqrt(col("qn") * col("nrm")), 4).as("cos_sim"))
      .withColumn("r_dense", row_number().over(wd).cast("long"))
      .filter(col("r_dense") <= RrfDepth)
      .select(col("query_id"), col("doc_id"), col("r_dense"))
    // RRF fusion over the union of the two depth-cut lists
    val fused = sparse.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr(s"1000000000 DIV ($RrfK + r_sparse)"), lit(0L)) +
        coalesce(expr(s"1000000000 DIV ($RrfK + r_dense)"), lit(0L)))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_score"),
        coalesce(col("r_sparse"), lit(0L)).as("r_sparse"),
        coalesce(col("r_dense"), lit(0L)).as("r_dense"))
      .orderBy(col("query_id"), col("rank"))
  }

  val hybridRetrievalOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl
       |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |        FROM documents)),
       |gold AS (
       |  SELECT doc_id AS query_id, t FROM d
       |  WHERE doc_id % $EvalStride = $EvalResidue
       |  ORDER BY doc_id LIMIT $MaxEvalQueries),
       |occ AS (
       |  SELECT query_id, unnest(t) AS term,
       |         unnest(range(1, len(t) + 1)) AS o
       |  FROM gold),
       |q AS (
       |  SELECT query_id, term FROM (
       |    SELECT query_id, term, min(o) AS fo
       |    FROM occ GROUP BY query_id, term)
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY fo)
       |    <= $QueryTerms),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(dl) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
       |           AS avgdl_ppm
       |  FROM d),
       |tf AS (
       |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM d)
       |  WHERE term IN (SELECT term FROM q)
       |  GROUP BY doc_id, dl, term),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |parts AS (
       |  SELECT q.query_id, tf.doc_id,
       |    CAST(CAST(tf.tf AS HUGEINT) * 2200000 * 1000000 //
       |      (tf.tf * 1000000 + 300000 +
       |       900000 * (CAST(tf.dl AS HUGEINT) * 1000000000000 // s.avgdl_ppm)
       |         // 1000000)
       |      AS BIGINT) AS tfn_ppm,
       |    CAST((2 * s.n - 2 * df.df + 1) * CAST(1000000 AS HUGEINT)
       |         // (2 * df.df + 1) AS BIGINT) AS idf_ppm
       |  FROM tf JOIN df USING (term) JOIN q USING (term) CROSS JOIN stats s),
       |sparse AS (
       |  SELECT query_id, doc_id, r_sparse FROM (
       |    SELECT query_id, doc_id,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS r_sparse
       |    FROM (
       |      SELECT query_id, doc_id,
       |        CAST(sum(CAST(tfn_ppm AS HUGEINT) * idf_ppm // 1000000)
       |          AS BIGINT) AS score_ppm
       |      FROM parts WHERE doc_id != query_id
       |      GROUP BY query_id, doc_id))
       |  WHERE r_sparse <= $RrfDepth),
       |e AS (
       |  SELECT vec_id, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |dense AS (
       |  SELECT query_id, doc_id, r_dense FROM (
       |    SELECT qe.vec_id AS query_id, n.vec_id AS doc_id,
       |      CAST(row_number() OVER (PARTITION BY qe.vec_id
       |        ORDER BY round(list_dot_product(qe.v, n.v)
       |                       / sqrt(qe.nrm * n.nrm), 4) DESC, n.vec_id)
       |        AS BIGINT) AS r_dense
       |    FROM e qe JOIN e n ON n.vec_id != qe.vec_id
       |    WHERE qe.vec_id IN (SELECT query_id FROM gold))
       |  WHERE r_dense <= $RrfDepth),
       |fused AS (
       |  SELECT coalesce(s.query_id, de.query_id) AS query_id,
       |         coalesce(s.doc_id, de.doc_id) AS doc_id,
       |         coalesce(1000000000 // ($RrfK + s.r_sparse), 0) +
       |         coalesce(1000000000 // ($RrfK + de.r_dense), 0) AS rrf_score,
       |         coalesce(s.r_sparse, 0) AS r_sparse,
       |         coalesce(de.r_dense, 0) AS r_dense
       |  FROM sparse s FULL OUTER JOIN dense de
       |    ON de.query_id = s.query_id AND de.doc_id = s.doc_id)
       |SELECT query_id, rank, doc_id,
       |  CAST(rrf_score AS BIGINT) AS rrf_score,
       |  CAST(r_sparse AS BIGINT) AS r_sparse,
       |  CAST(r_dense AS BIGINT) AS r_dense
       |FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank
       |  FROM fused)
       |WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  // -------------------------------------------------------------------------
  // q247/q248 — PASSAGE-level retrieval + context assembly: the actual
  // RAG serving unit. Documents are too coarse to stuff into a prompt;
  // production retrieval chunks them into overlapping token windows,
  // scores PASSAGES (tf within the window, df/avgdl over the passage
  // corpus), and then assembles a context under a token budget. q247 is
  // the passage ranker; q248 the budgeted packer over its rankings.
  // -------------------------------------------------------------------------

  /** Passage window geometry (tokens) and serving depths. */
  val PassageLen = 32
  val PassageStride = 16
  val PassageTopK = 3
  val PackDepth = 20
  val ContextBudget = 96

  /** The scored passage relation shared by q247/q248: overlapping token
    * windows → query-vocab-cut tf → the q150 BM25-ppm chain with passage
    * df/avgdl. Same scale shape as [[scoredFor]] — the explode is cut to
    * query-term rows at the scan; passage stats are two control scalars. */
  /** The passage relation: overlapping [[PassageLen]]-token windows every
    * [[PassageStride]] tokens — the corpus side of q247/q248, and q253's
    * context-token source. */
  private[graft] def passages(spark: SparkSession, dir: String): DataFrame = {
    val t = TextOps.tokens(col("text"))
    // round 13: wide scan (the tokenize+chunk kernel is the heavy map
    // side; Tables.wide scaladoc) and dl in closed form — size(slice(t,
    // cs+1, L)) = least(L, size(t) − cs) exactly, for 0 ≤ cs < size(t)
    // (every chunk_start the sequence generates). The closed form frees
    // the STATS pass (count + sum(dl) in passageScores) from
    // materializing any pt slice: column pruning reduces its subtree to
    // (chunk_start, size(t)). Round13bSpec pins dl ≡ size(pt).
    Tables.documentsWide(spark, dir)
      .select(col("doc_id"), t.as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), size(col("t")) - 1, lit(PassageStride)))
          .as("chunk_start"))
      .select(col("doc_id"),
        expr(s"CAST(chunk_start DIV $PassageStride AS BIGINT)").as("chunk_idx"),
        slice(col("t"), col("chunk_start") + 1, lit(PassageLen)).as("pt"),
        least(lit(PassageLen), size(col("t")) - col("chunk_start"))
          .cast("long").as("dl"))
  }

  private def passageScores(spark: SparkSession, dir: String,
                            termPairs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    val vocab = termPairs.map(_._2).distinct
    val pass = passages(spark, dir)
    val row = pass.agg(count(lit(1)), sum(col("dl"))).first()
    val n = row.getLong(0)
    // BigInt: total token mass × 1e6 clips int64 past ~9.2e12 tokens
    val avgdlPpm = (BigInt(row.getLong(1)) * 1000000 / n).toLong
    val terms = termPairs.toDF("query_id", "term")
    // explode_OUTER, not explode: InferFiltersFromGenerate would clone the
    // pt slice into `size(slice(..)) > 0` filters below BOTH generates —
    // 3× the slice per chunk row (the q214 trap; round-13 plan audit). The
    // outer form admits one null term per empty pt (pt is never empty —
    // chunk_start < size(t) — and a null term cannot pass the INSET
    // filter anyway), so the row set is unchanged.
    val tf = pass
      .select(col("doc_id"), col("chunk_idx"), col("dl"),
        explode_outer(col("pt")).as("term"))
      .filter(col("term").isin(vocab: _*))
      .groupBy(col("doc_id"), col("chunk_idx"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfRel = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // Same round-13 restructure as [[bm25Chain]]: per-posting decimal
    // scalars BEFORE the query fan-out join; the per-joined-row product
    // in exact int64 (proof at bm25Chain; Round13bSpec pins the identity).
    tf.join(broadcast(dfRel), "term")
      .withColumn("ratio_ppm", expr(
        s"CAST(CAST(dl AS DECIMAL(38,0)) * 1000000000000 DIV ${avgdlPpm}L AS BIGINT)"))
      .withColumn("denom_ppm",
        expr("tf * 1000000L + 300000L + 900000L * ratio_ppm DIV 1000000L"))
      .withColumn("tfn_ppm", expr(
        "CAST(CAST(tf AS DECIMAL(38,0)) * 2200000 * 1000000 DIV denom_ppm AS BIGINT)"))
      .withColumn("idf_ppm", expr(
        s"CAST((2 * ${n}L - 2 * df + 1) * CAST(1000000 AS DECIMAL(38,0)) DIV (2 * df + 1) AS BIGINT)"))
      .select(col("term"), col("doc_id"), col("chunk_idx"), col("dl"),
              col("tfn_ppm"), col("idf_ppm"))
      .join(broadcast(terms), "term")
      .withColumn("term_ppm", expr(
        "tfn_ppm * (idf_ppm DIV 1000000L) + tfn_ppm * (idf_ppm % 1000000L) DIV 1000000L"))
      .groupBy(col("query_id"), col("doc_id"), col("chunk_idx"), col("dl"))
      .agg(sum(col("term_ppm")).as("score_ppm"))
  }

  /** The ONE bounded eval-query sampler behind q238/q239/q247/q248:
    * stride-filter → ordered LIMIT `cap` → collect. Every control-plane
    * structure downstream (term IN literal, terms broadcast, gold-score
    * broadcast) inherits the cap. Parameterized so Round9Spec can force
    * the cap boundary (stride 1 over the whole corpus) and prove the
    * discipline holds there. */
  private[graft] def evalGold(spark: SparkSession, dir: String,
                              stride: Long = EvalStride,
                              residue: Long = EvalResidue,
                              cap: Int = MaxEvalQueries): Seq[(Long, Seq[String])] =
    Tables.documents(spark, dir)
      .filter(col("doc_id") % stride === residue)
      .select(col("doc_id").as("query_id"),
        slice(array_distinct(TextOps.tokens(col("text"))), 1, QueryTerms).as("qt"))
      .orderBy(col("query_id"))
      .limit(cap)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[String](1)))

  private def evalTermPairs(spark: SparkSession, dir: String): Seq[(Long, String)] =
    evalGold(spark, dir).flatMap { case (q, ts) => ts.map(t => (q, t)) }

  /** q247 — top passages per probe query. */
  def q247PassageRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_ppm").desc, col("doc_id"), col("chunk_idx"))
    passageScores(spark, dir, evalTermPairs(spark, dir))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= PassageTopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("chunk_idx"),
        col("score_ppm"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q248 — CONTEXT ASSEMBLY under a token budget: prefix packing of the
    * rank-ordered passage list — a passage is included while the running
    * token total (in rank order) stays within [[ContextBudget]]. Prefix
    * (rather than skip-and-continue) packing keeps the context in rank
    * order and makes the selection a pure window cumsum over the ≤
    * [[PackDepth]]-row per-query list — no sequential state anywhere. */
  def q248ContextPack(spark: SparkSession, dir: String): DataFrame =
    contextPackFor(spark, dir, evalTermPairs(spark, dir))

  /** The q248 body over an arbitrary bounded (query_id, term) set —
    * shared with q253, whose grounding audit reads the SAME packed
    * selection. */
  private[graft] def contextPackFor(spark: SparkSession, dir: String,
                                    termPairs: Seq[(Long, String)]): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_ppm").desc, col("doc_id"), col("chunk_idx"))
    val ranked = passageScores(spark, dir, termPairs)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= PackDepth)
    val cum = Window.partitionBy(col("query_id")).orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked
      .withColumn("cum_tok", sum(col("dl")).over(cum))
      .filter(col("cum_tok") <= ContextBudget)
      .select(col("query_id"), col("rank"), col("doc_id"), col("chunk_idx"),
        col("dl").as("n_tok"), col("cum_tok"))
      .orderBy(col("query_id"), col("rank"))
  }

  private def passageChainSql: String =
    passageChainSqlFor(EvalStride, EvalResidue)

  private def passageChainSqlFor(stride: Long, residue: Long): String =
    s"""d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents),
       |gold AS (
       |  SELECT doc_id AS query_id, t FROM d
       |  WHERE doc_id % $stride = $residue
       |  ORDER BY doc_id LIMIT $MaxEvalQueries),
       |occ AS (
       |  SELECT query_id, unnest(t) AS term,
       |         unnest(range(1, len(t) + 1)) AS o
       |  FROM gold),
       |q AS (
       |  SELECT query_id, term FROM (
       |    SELECT query_id, term, min(o) AS fo
       |    FROM occ GROUP BY query_id, term)
       |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY fo)
       |    <= $QueryTerms),
       |pass AS (
       |  SELECT doc_id,
       |    CAST(chunk_start // $PassageStride AS BIGINT) AS chunk_idx,
       |    list_slice(t, chunk_start + 1, chunk_start + $PassageLen) AS pt,
       |    CAST(len(list_slice(t, chunk_start + 1, chunk_start + $PassageLen))
       |      AS BIGINT) AS dl
       |  FROM (SELECT doc_id, t, unnest(range(0, len(t), $PassageStride))
       |          AS chunk_start FROM d)),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(dl) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
       |           AS avgdl_ppm
       |  FROM pass),
       |tf AS (
       |  SELECT doc_id, chunk_idx, dl, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, chunk_idx, dl, unnest(pt) AS term FROM pass)
       |  WHERE term IN (SELECT term FROM q)
       |  GROUP BY doc_id, chunk_idx, dl, term),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |parts AS (
       |  SELECT q.query_id, tf.doc_id, tf.chunk_idx, tf.dl,
       |    CAST(CAST(tf.tf AS HUGEINT) * 2200000 * 1000000 //
       |      (tf.tf * 1000000 + 300000 +
       |       900000 * (CAST(tf.dl AS HUGEINT) * 1000000000000 // s.avgdl_ppm)
       |         // 1000000)
       |      AS BIGINT) AS tfn_ppm,
       |    CAST((2 * s.n - 2 * df.df + 1) * CAST(1000000 AS HUGEINT)
       |         // (2 * df.df + 1) AS BIGINT) AS idf_ppm
       |  FROM tf JOIN df USING (term) JOIN q USING (term) CROSS JOIN stats s),
       |scored AS (
       |  SELECT query_id, doc_id, chunk_idx, dl,
       |    CAST(sum(CAST(tfn_ppm AS HUGEINT) * idf_ppm // 1000000) AS BIGINT)
       |      AS score_ppm
       |  FROM parts GROUP BY query_id, doc_id, chunk_idx, dl)""".stripMargin

  val passageRetrievalOracle: String =
    s"""WITH $passageChainSql
       |SELECT query_id, rank, doc_id, chunk_idx, score_ppm FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_ppm DESC, doc_id, chunk_idx) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $PassageTopK ORDER BY query_id, rank""".stripMargin

  val contextPackOracle: String =
    s"""WITH $passageChainSql,
       |ranked AS (
       |  SELECT * FROM (
       |    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_ppm DESC, doc_id, chunk_idx) AS BIGINT) AS rank
       |    FROM scored)
       |  WHERE rank <= $PackDepth)
       |SELECT query_id, rank, doc_id, chunk_idx, n_tok, cum_tok FROM (
       |  SELECT query_id, rank, doc_id, chunk_idx, dl AS n_tok,
       |    CAST(sum(dl) OVER (PARTITION BY query_id ORDER BY rank
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tok
       |  FROM ranked)
       |WHERE cum_tok <= $ContextBudget
       |ORDER BY query_id, rank""".stripMargin

  /** The shared oracle CTE chain through `scored` (now carrying both the
    * BM25 and the IDF-overlap score). */
  private def bm25ChainSql: String = bm25ChainSqlOver("documents")

  /** [[bm25ChainSql]] with the corpus source pluggable — the lifecycle
    * oracles (q269) score over the LIVE slice only. */
  private def bm25ChainSqlOver(docSrc: String): String = {
    val values = querySet
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
      .mkString(", ")
    val vocabIn = queryVocab.map(t => s"'$t'").mkString(", ")
    s"""q AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
       |       FROM (VALUES $values) v(query_id, term)),
       |d AS (
       |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl
       |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |        FROM $docSrc)),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(dl) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
       |           AS avgdl_ppm
       |  FROM d),
       |tf AS (
       |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM d)
       |  WHERE term IN ($vocabIn)
       |  GROUP BY doc_id, dl, term),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |parts AS (
       |  SELECT q.query_id, tf.doc_id, tf.tf,
       |    CAST(CAST(tf.tf AS HUGEINT) * 2200000 * 1000000 //
       |      (tf.tf * 1000000 + 300000 +
       |       900000 * (CAST(tf.dl AS HUGEINT) * 1000000000000 // s.avgdl_ppm)
       |         // 1000000)
       |      AS BIGINT) AS tfn_ppm,
       |    CAST((2 * s.n - 2 * df.df + 1) * CAST(1000000 AS HUGEINT)
       |         // (2 * df.df + 1) AS BIGINT) AS idf_ppm
       |  FROM tf JOIN df USING (term) JOIN q USING (term) CROSS JOIN stats s),
       |scored AS (
       |  SELECT query_id, doc_id,
       |    CAST(sum(CAST(tfn_ppm AS HUGEINT) * idf_ppm // 1000000) AS BIGINT)
       |      AS score_ppm,
       |    CAST(sum(idf_ppm) AS BIGINT) AS overlap_ppm,
       |    CAST(count(*) AS BIGINT) AS n_hit,
       |    CAST(sum(tf) AS BIGINT) AS tf_mass
       |  FROM parts GROUP BY query_id, doc_id)""".stripMargin
  }

  val bm25Oracle: String =
    s"""WITH $bm25ChainSql
       |SELECT query_id, rank, doc_id, n_hit, score_ppm FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  val rrfFusionOracle: String =
    s"""WITH $bm25ChainSql,
       |ranked AS (
       |  SELECT query_id, doc_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS r_bm25,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY overlap_ppm DESC, doc_id) AS BIGINT) AS r_overlap
       |  FROM scored),
       |fused AS (
       |  SELECT query_id, doc_id, r_bm25, r_overlap,
       |    (CASE WHEN r_bm25 <= $RrfDepth
       |          THEN 1000000000 // ($RrfK + r_bm25) ELSE 0 END) +
       |    (CASE WHEN r_overlap <= $RrfDepth
       |          THEN 1000000000 // ($RrfK + r_overlap) ELSE 0 END) AS rrf_score
       |  FROM ranked)
       |SELECT query_id, rank, doc_id, rrf_score, r_bm25, r_overlap FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank
       |  FROM fused)
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  // -------------------------------------------------------------------------
  // q263/q264 — PERSISTED INVERTED INDEX: the sparse-retrieval serving
  // lifecycle, completing the dense story (q246-q260 persisted IVF) on the
  // BM25 side. q150 deliberately never materializes a corpus-wide TF
  // relation — the right trade for a one-shot query. A SERVING deployment
  // makes the opposite trade: pay the full posting build ONCE, then answer
  // every query from storage touching only the query terms' postings.
  //
  // Layout: postings (term, doc_id, tf, dl, df — df denormalized at build,
  // RLE-friendly) PARTITIONED BY the term's md5 first byte (256 buckets),
  // so a query's term set maps to a bucket list and the read is DIRECTORY
  // pruning, not a filter over the full index; plus a 1-row corpus-stats
  // table (n_docs, total_dl) for the length normalization. The bucket
  // function is md5 (the repo's only hash) — reproducible in the oracle,
  // unlike engine-native hashes.
  //
  // Scale: the build is one corpus-wide explode + two keyed aggregates —
  // THE index-build shuffle, priced once (the FAISS-build analog on the
  // sparse side). A query reads |query-bucket| directories, filters to the
  // vocab, broadcasts the ≤|vocab| term list, and ranks per query — no
  // corpus scan anywhere on the serving path. q264 ≡ q150 (same oracle
  // VERBATIM — the q139-pattern equivalence pin) proves the persisted
  // round trip changes no ranking.
  // -------------------------------------------------------------------------

  /** Partition-bucket count of the persisted index (md5 first byte):
    * wide enough that a query's term set prunes to a few percent of the
    * directory tree — a 16-term query touches ≤ 16/256 of the index. */
  val IndexBuckets = 256

  /** The bucket column: first md5 byte of the term (q61's conv idiom). */
  private def termBucket(term: Column): Column =
    conv(substring(md5(term), 1, 2), 16, 10).cast("int")

  /** Scala-side twin of [[termBucket]] for deriving query-time bucket
    * literals — must equal the column function and the oracle's strpos
    * nibbles (md5 of the UTF-8 term, byte 0). */
  private def bucketOfTerm(term: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
    d(0) & 0xFF
  }

  /** The doc→(doc_id, dl, term, tf) tokenize-aggregate shared by the
    * build and the lifecycle merge. explode_OUTER + null filter, not plain
    * explode: InferFiltersFromGenerate would clone the `split(lower(text))`
    * into a scan-level `size(..)>0` filter and tokenize the corpus TWICE
    * (the q214 trap — see Corpus.q214NoveltyByQuality). Outer explode
    * admits one null row per empty array, dropped by a cheap per-row
    * filter the optimizer can't push through the Generate. */
  private def tfOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("dl"), explode_outer(col("t")).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** (doc_id, t, dl) over a documents slice. */
  private def tokenizedDocs(docsRaw: DataFrame): DataFrame =
    docsRaw
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("dl"))

  /** df-denormalization tail over a TF relation: a keyed join at BUILD
    * time buys a join-free serving path (parquet RLE makes the repeated
    * df ~free on disk). The caller decides whether `tf` is materialized:
    * both sides of the join traverse it. */
  private def postingsFromTf(tf: DataFrame): DataFrame = {
    val dfRel = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(dfRel, "term")
      .select(termBucket(col("term")).as("bucket"), col("term"),
        col("doc_id"), col("tf"), col("dl"), col("df"))
  }

  /** Lazy postings relation (spec-side ground truth — recomputes the
    * tokenize on each traversal; the build path uses [[buildPostings]]). */
  private[graft] def postingsOf(docsRaw: DataFrame): DataFrame =
    postingsFromTf(tfOf(tokenizedDocs(docsRaw)))

  /** The postings relation the BUILD actually writes: TF is materialized
    * ONCE (localCheckpoint) before the df derivation and the denorm join
    * traverse it — the corpus is tokenized and shuffled exactly once per
    * build. (Column pruning defeats exchange reuse on the lazy form: the
    * df branch's pre-shuffle aggregate drops the count, so the two join
    * inputs are different subplans and Spark re-runs the tokenize. The
    * TF relation is the same magnitude as the output postings, so one
    * bounded materialization beats a second corpus pass at any scale.)
    * Round11Spec pins the zero-split executed plan. */
  private[graft] def buildPostings(docsRaw: DataFrame): DataFrame =
    postingsFromTf(tfOf(tokenizedDocs(docsRaw)).localCheckpoint())

  /** Write the bucket-partitioned postings for a corpus slice and return
    * the ONE materialized TF relation that fed them, so the caller can
    * derive corpus stats from the in-memory checkpoint instead of
    * re-reading the just-written store. Round-12: the stats re-read was
    * r11's only code-attributed regression (q264 1.45×, q263 1.22× in the
    * host-controlled A/B) — an extra read job + groupBy(doc_id) shuffle
    * over the full postings relation, where the TF checkpoint already
    * holds (doc_id, dl) hot. */
  private def writePostingsOnce(docsRaw: DataFrame, dest: String): DataFrame = {
    val tf = tfOf(tokenizedDocs(docsRaw)).localCheckpoint()
    postingsFromTf(tf).write.mode("overwrite").partitionBy("bucket")
      .parquet(dest)
    tf
  }

  /** BUILD: write the bucket-partitioned postings + corpus stats; returns
    * the store path. Overwrite-in-place (the Stores contract) — rebuild
    * is idempotent. */
  private[graft] def buildTextIndex(spark: SparkSession, dir: String): String = {
    val store = graft.Stores.path(spark, "graft_text_index")
    val docsRaw = Tables.documents(spark, dir)
    val tf = writePostingsOnce(docsRaw, s"$store/postings")
    // corpus stats from the SAME checkpointed TF the write consumed (one
    // row per (doc,term); every doc has ≥1 token row, so distinct doc_id
    // and one dl per doc recover (n_docs, total_dl) exactly) — a bounded
    // in-memory aggregate, never a second pass over written parquet.
    // src_dir records WHICH corpus built the store, so the serve leg's
    // self-heal can detect a stale store from a different scale's data
    // (ADVICE r12) instead of silently serving it.
    statsOfPostings(tf).withColumn("src_dir", lit(dir))
      .write.mode("overwrite").parquet(s"$store/stats")
    store
  }

  /** (n_docs, total_dl) recovered from a postings relation: dl is
    * denormalized per posting, so one row per doc restores the corpus
    * token mass. */
  private def statsOfPostings(postings: DataFrame): DataFrame =
    postings.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))

  /** q263 — index-build accounting: per bucket, distinct terms, posting
    * rows, total tf mass, and the largest df. The oracle recomputes all
    * four from the raw corpus — equality proves the build wrote exactly
    * the TF/df relation (no dropped terms, no double-counted postings)
    * under the same bucket function. */
  def q263TextIndexBuild(spark: SparkSession, dir: String): DataFrame = {
    val store = buildTextIndex(spark, dir)
    spark.read.parquet(s"$store/postings")
      .groupBy(col("bucket"))
      .agg(countDistinct(col("term")).as("n_terms"),
        count(lit(1)).as("n_postings"),
        sum(col("tf")).as("sum_tf"),
        max(col("df")).as("max_df"))
      .select(col("bucket").cast("long").as("bucket"), col("n_terms"),
        col("n_postings"), col("sum_tf"), col("max_df"))
      .orderBy(col("bucket"))
  }

  /** The serving-path postings read for an ARBITRARY query vocabulary:
    * bucket list derived from the vocabulary (directory pruning), then the
    * vocab filter. Shuffle-free by construction — graft-visible so specs
    * can pin the pruned numFiles on the exact relation served. */
  private[graft] def servingReadFor(spark: SparkSession, store: String,
                                    vocab: Seq[String]): DataFrame = {
    val buckets = vocab.map(bucketOfTerm).distinct.map(Int.box)
    spark.read.parquet(s"$store/postings")
      .filter(col("bucket").isin(buckets: _*)) // directory pruning
      .filter(col("term").isin(vocab: _*))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("df"))
  }

  /** [[servingReadFor]] at the fixed [[querySet]] vocabulary (q264). */
  private[graft] def servingRead(spark: SparkSession, store: String): DataFrame =
    servingReadFor(spark, store, queryVocab)

  /** q264 — SERVE from the persisted index: the full q150 query set
    * answered purely from storage — bucket-pruned postings read, vocab
    * filter, the shared [[bm25Chain]], top-k rank. Output ≡ q150
    * row-for-row (its oracle IS [[bm25Oracle]]). */
  def q264TextIndexQuery(spark: SparkSession, dir: String): DataFrame =
    q264ServeFrom(spark, buildTextIndex(spark, dir))

  /** Bench-only legs (graft.Bench / tools/scaling_curve.py — NOT part of
    * the oracle surface): q264 rebuilds the store inside the query, so its
    * single scaling row conflated the corpus-wide build shuffle with the
    * bucket-pruned serve read (VERDICT r11 item 3 — the 1.067 exponent).
    * The build leg times the store build alone; the serve leg self-heals
    * the store on its (untimed) warmup pass and then times ONLY the
    * serving path, the way a long-running cluster actually pays it. */
  def q264BuildLeg(spark: SparkSession, dir: String): DataFrame = {
    val store = buildTextIndex(spark, dir)
    spark.read.parquet(s"$store/stats")
  }

  def q264ServeLeg(spark: SparkSession, dir: String): DataFrame = {
    val store = graft.Stores.path(spark, "graft_text_index")
    val stats = new org.apache.hadoop.fs.Path(s"$store/stats")
    val fs = stats.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Self-heal must check WHICH corpus built the store, not just that
    // stats exist (ADVICE r12): a store left by a different scale's run
    // would otherwise be served with ok=true, corrupting the scaling row.
    // Pre-src_dir stores (no such column) also rebuild.
    val current = fs.exists(stats) && {
      val st = spark.read.parquet(s"$store/stats")
      st.schema.fieldNames.contains("src_dir") &&
        st.select(col("src_dir")).first().getString(0) == dir
    }
    if (!current) buildTextIndex(spark, dir): Unit
    q264ServeFrom(spark, store)
  }

  /** The q264 serve body against an EXISTING store (shared by the
    * oracle-gated q264 and the serve-only bench leg). */
  private def q264ServeFrom(spark: SparkSession, store: String): DataFrame = {
    import spark.implicits._
    val st = spark.read.parquet(s"$store/stats").first()
    val n = st.getAs[Long]("n_docs")
    // BigInt: total token mass × 1e6 clips int64 past ~9.2e12 tokens
    val avgdlPpm = (BigInt(st.getAs[Long]("total_dl")) * 1000000 / n).toLong
    val terms = querySet.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
    bm25Chain(servingRead(spark, store), terms, n, avgdlPpm)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("n_hit"),
        col("score_ppm"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q263's oracle: the same TF/df/bucket derivation straight from
    * `documents` (strpos nibble ≡ conv(md5 nibble)). */
  val textIndexBuildOracle: String =
    s"""WITH d AS (
      |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
      |        FROM documents)),
      |tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(t) AS term FROM d)
      |  GROUP BY doc_id, term),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
      |b AS (
      |  SELECT (strpos('0123456789abcdef', substr(md5(tf.term), 1, 1)) - 1) * 16
      |         + (strpos('0123456789abcdef', substr(md5(tf.term), 2, 1)) - 1)
      |           AS bucket,
      |         tf.term, tf.tf, df.df
      |  FROM tf JOIN df USING (term))
      |SELECT CAST(bucket AS BIGINT) AS bucket,
      |  CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
      |  CAST(count(*) AS BIGINT) AS n_postings,
      |  CAST(sum(tf) AS BIGINT) AS sum_tf,
      |  CAST(max(df) AS BIGINT) AS max_df
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  /** q264's oracle IS q150's — the persisted index must be
    * indistinguishable from scoring the raw corpus. */
  val textIndexQueryOracle: String = bm25Oracle

  // -------------------------------------------------------------------------
  // q266-q270 — TEXT-INDEX LIFECYCLE (upsert / delete / compact), giving the
  // sparse index the same maintenance verb set as its dense IVF sibling
  // (q246 build, q249 upsert, q258 delete, q259/q260 compact). The shapes
  // transplant, with one text-specific twist: df is DENORMALIZED into every
  // posting row, so any term whose df changes must have ALL its postings
  // rewritten. Because the bucket function is term-keyed, every posting of
  // a term lives in exactly one bucket — an upsert is therefore an
  // affected-BUCKET read-modify-write bounded by the batch vocabulary
  // (≤ IndexBuckets directories), the q259 affected-cell pattern.
  //
  // Statistics policy (versioned stats rows, the serving choice the round-10
  // verdict asked to document):
  //   - UPSERT refreshes EXACTLY and cheaply: df for every changed term is
  //     recomputed inside the rewritten buckets, and (n_docs, total_dl) are
  //     incremented from the batch — no corpus rescan. A new stats version
  //     is appended; serving reads the latest.
  //   - DELETE is tombstone-only (the Lucene norm): postings stay immutable,
  //     the query path anti-joins a doc_id side table, and df/avgdl/N remain
  //     STALE until compaction — exactly how Lucene scores against indexes
  //     with uncommitted deletes. No stats version is written.
  //   - COMPACT folds tombstones in (affected buckets = buckets holding any
  //     deleted doc's postings), recomputes df inside them, decrements the
  //     stats exactly (each deleted doc's dl is recovered from its postings
  //     in the buckets the pass already reads), and appends the new version
  //     — after compaction the store is bit-equivalent to a fresh build
  //     over the live corpus, and q269 proves it against that oracle.
  //
  // Reference analog for the maintenance cadence: the scheduled richlist/
  // coins/fill loop, haskell-src/exec/Chainweb/Server.hs:184-210.
  // -------------------------------------------------------------------------

  /** Lifecycle fixture slices: base = doc_id % 7 ≠ 3, upsert batch = the
    * ≡ 3 slice, delete slice = doc_id % 11 ≡ 5 (cuts across base AND
    * batch, so compaction exercises both build- and upsert-written rows). */
  private[graft] val TextUpsertStride = 7L
  private[graft] val TextUpsertResidue = 3L
  private[graft] val TextDeleteStride = 11L
  private[graft] val TextDeleteResidue = 5L

  private def statsRow(spark: SparkSession, v: Long, n: Long,
                       dl: Long): DataFrame = {
    import spark.implicits._
    Seq((v, n, dl)).toDF("version", "n_docs", "total_dl")
  }

  /** Latest committed (version, n_docs, total_dl) — serving always reads
    * the newest stats version (exact-refresh policy above). */
  private[graft] def latestTextStats(spark: SparkSession,
                                     store: String): (Long, Long, Long) = {
    val r = spark.read.parquet(s"$store/stats")
      .select(col("version"), col("n_docs"), col("total_dl"))
      .orderBy(col("version").desc).limit(1).first()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** BUILD the lifecycle store from the base slice: bucket-partitioned
    * postings, stats v1, empty tombstones. Overwrite-in-place (the Stores
    * contract) — a rebuild resets all three tables. */
  private[graft] def buildTextBase(spark: SparkSession, dir: String): String = {
    val store = graft.Stores.path(spark, "graft_text_lifecycle")
    val base = Tables.documents(spark, dir)
      .filter(col("doc_id") % TextUpsertStride =!= TextUpsertResidue)
    val tf = writePostingsOnce(base, s"$store/postings")
    // stats from the checkpointed TF, not a re-read of the written store
    // (same single-pass rule as buildTextIndex)
    val st = statsOfPostings(tf).first()
    statsRow(spark, 1L, st.getLong(0), st.getLong(1))
      .write.mode("overwrite").parquet(s"$store/stats")
    spark.range(0).select(col("id").as("doc_id"))
      .write.mode("overwrite").parquet(s"$store/tombstones")
    store
  }

  /** The NOVEL postings of an upsert batch: tokenized batch TF rows whose
    * doc_id is not already indexed (PK anti-join against the stored
    * postings' pruned doc_id column — the ingest/Upsert idempotence rule,
    * same as the IVF merge). Exposed un-checkpointed for plan pins. */
  private[graft] def textUpsertNovel(spark: SparkSession, store: String,
                                     batchRaw: DataFrame): DataFrame = {
    val existing = spark.read.parquet(s"$store/postings").select(col("doc_id"))
    tfOf(tokenizedDocs(batchRaw)).join(existing, Seq("doc_id"), "left_anti")
  }

  /** UPSERT: merge a document batch into the store. Affected buckets =
    * buckets of the novel batch's vocabulary (df changes only for terms
    * the batch contains, and a term's postings all live in its bucket);
    * each is read, merged with the novel postings, df-recomputed, and
    * rewritten — unaffected bucket directories are untouched on disk
    * (Round11Spec pins this file-level minimality). Stats are refreshed
    * exactly by increment and committed as a new version. Replay-idempotent:
    * an already-merged batch yields zero novel rows → zero affected
    * buckets → no writes at all. Returns the affected bucket ids. */
  private[graft] def textUpsert(spark: SparkSession, store: String,
                                batchRaw: DataFrame): Seq[Int] = {
    val novel = textUpsertNovel(spark, store, batchRaw).localCheckpoint()
    val affected = novel.select(termBucket(col("term")).as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (affected.nonEmpty) {
      val stored = spark.read.parquet(s"$store/postings")
        .filter(col("bucket").isin(affected.map(Int.box): _*))
        .select(col("term"), col("doc_id"), col("tf"), col("dl"))
      // checkpointed ONCE: the df derivation and the denorm join both
      // traverse it, and the rewrite must not read the directories it is
      // about to delete
      val merged = stored.unionByName(
        novel.select(col("term"), col("doc_id"), col("tf"), col("dl")))
        .localCheckpoint()
      // df recomputed WITHIN the affected buckets is globally exact: every
      // posting of a term lives in its term-bucket, and terms outside the
      // batch vocabulary gained no documents.
      val dfRel = merged.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val rewritten = merged.join(dfRel, "term")
        .select(termBucket(col("term")).as("bucket"), col("term"),
          col("doc_id"), col("tf"), col("dl"), col("df"))
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      affected.foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$store/postings/bucket=$b"), true): Unit
      }
      rewritten.write.mode("append").partitionBy("bucket")
        .parquet(s"$store/postings")
      // exact incremental stats: one bounded aggregate over the batch
      val d = novel.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
        .agg(count(lit(1)), sum(col("dl"))).first()
      val (v, n, dl) = latestTextStats(spark, store)
      statsRow(spark, v + 1, n + d.getLong(0), dl + d.getLong(1))
        .write.mode("append").parquet(s"$store/stats")
    }
    affected
  }

  /** DELETE: tombstone-only — overwrite the doc_id side table; postings
    * and stats untouched (stale-until-compact, the Lucene norm). */
  private[graft] def textDelete(spark: SparkSession, store: String,
                                idsRaw: DataFrame): Unit =
    idsRaw.select(col("doc_id"))
      .write.mode("overwrite").parquet(s"$store/tombstones")

  /** COMPACT: rewrite ONLY the buckets holding tombstoned docs' postings
    * (dropping those rows, recomputing df inside), decrement the stats
    * exactly (each deleted doc's dl is recovered from its postings in the
    * buckets this pass already reads — every doc has ≥ 1 posting), commit
    * the new stats version, and clear the tombstone table. Idempotent:
    * with no tombstones it is a no-op. Returns affected bucket ids. */
  private[graft] def textCompact(spark: SparkSession, store: String): Seq[Int] = {
    val tomb = spark.read.parquet(s"$store/tombstones")
    val postings = spark.read.parquet(s"$store/postings")
    val hit = postings.select(col("doc_id"), col("bucket"), col("dl"))
      .join(tomb, Seq("doc_id"), "left_semi").localCheckpoint()
    val affected = hit.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (affected.nonEmpty) {
      val d = hit.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
        .agg(count(lit(1)), sum(col("dl"))).first()
      // checkpointed ONCE (df derivation + denorm join both traverse it,
      // and the source directories are deleted before the append)
      val survivors = postings
        .filter(col("bucket").isin(affected.map(Int.box): _*))
        .join(tomb, Seq("doc_id"), "left_anti")
        .select(col("bucket"), col("term"), col("doc_id"), col("tf"),
          col("dl"))
        .localCheckpoint()
      val dfRel = survivors.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val rewritten = survivors.join(dfRel, "term")
        .select(col("bucket"), col("term"), col("doc_id"), col("tf"),
          col("dl"), col("df"))
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      affected.foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$store/postings/bucket=$b"), true): Unit
      }
      rewritten.write.mode("append").partitionBy("bucket")
        .parquet(s"$store/postings")
      val (v, n, dl) = latestTextStats(spark, store)
      statsRow(spark, v + 1, n - d.getLong(0), dl - d.getLong(1))
        .write.mode("append").parquet(s"$store/stats")
      // deleted′ = 0: the side table empties (schema-preserving overwrite)
      tomb.limit(0).localCheckpoint()
        .write.mode("overwrite").parquet(s"$store/tombstones")
    }
    affected
  }

  /** build(base) → upsert(batch) × `merges` (default twice — the replay
    * that makes idempotence part of the CORRECTNESS gate, the
    * buildUpsertStore convention). */
  private[graft] def textLifecycleStore(spark: SparkSession, dir: String,
                                        merges: Int = 2): String = {
    val store = buildTextBase(spark, dir)
    val batch = Tables.documents(spark, dir)
      .filter(col("doc_id") % TextUpsertStride === TextUpsertResidue)
    (1 to merges).foreach(_ => textUpsert(spark, store, batch): Unit)
    store
  }

  /** build → upsert → tombstone-delete, compaction NOT yet run. */
  private[graft] def textDeletedStore(spark: SparkSession, dir: String): String = {
    val store = textLifecycleStore(spark, dir, merges = 1)
    textDelete(spark, store, Tables.documents(spark, dir)
      .filter(col("doc_id") % TextDeleteStride === TextDeleteResidue))
    store
  }

  /** build → upsert → delete → compact: the full verb chain. */
  private[graft] def textCompactedStore(spark: SparkSession, dir: String): String = {
    val store = textDeletedStore(spark, dir)
    textCompact(spark, store): Unit
    store
  }

  /** The lifecycle store's serving read — [[servingReadFor]] at the fixed
    * query vocabulary (exposed for pruning pins). */
  private[graft] def lifecycleServingRead(spark: SparkSession,
                                          store: String): DataFrame =
    servingReadFor(spark, store, queryVocab)

  /** Serve the q150 query set from a lifecycle store at its LATEST stats
    * version; `tombstoneAware` anti-joins the side table (the between-
    * compactions path — q268), otherwise the store is trusted clean. */
  private def serveLifecycle(spark: SparkSession, store: String,
                             tombstoneAware: Boolean): DataFrame = {
    import spark.implicits._
    val (_, n, totalDl) = latestTextStats(spark, store)
    val avgdlPpm = (BigInt(totalDl) * 1000000 / n).toLong
    val terms = querySet.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val read0 = lifecycleServingRead(spark, store)
    val read =
      if (tombstoneAware)
        read0.join(spark.read.parquet(s"$store/tombstones"),
          Seq("doc_id"), "left_anti")
      else read0
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
    bm25Chain(read, terms, n, avgdlPpm)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("n_hit"),
        col("score_ppm"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q266 — post-upsert bucket accounting (read back from the merged
    * store). The oracle replays the FULL-corpus build: equality proves
    * build(base) + upsert(batch) ≡ build(base ∪ batch) — df re-derived
    * exactly in the affected buckets, untouched elsewhere — and `n_added`
    * (postings of batch docs) makes a non-idempotent double merge inflate
    * against the replay (the q249 tripwire). */
  def q266TextUpsert(spark: SparkSession, dir: String): DataFrame =
    textStoreAccounting(spark, textLifecycleStore(spark, dir))

  /** Per-bucket accounting of any lifecycle-store state (shared by q266
    * and the `graft index <sf> text upsert` CLI verb). */
  private[graft] def textStoreAccounting(spark: SparkSession,
                                         store: String): DataFrame =
    spark.read.parquet(s"$store/postings")
      .groupBy(col("bucket"))
      .agg(countDistinct(col("term")).as("n_terms"),
        count(lit(1)).as("n_postings"),
        sum(col("tf")).as("sum_tf"),
        max(col("df")).as("max_df"),
        sum(when(col("doc_id") % TextUpsertStride === TextUpsertResidue, 1L)
          .otherwise(0L)).as("n_added"))
      .select(col("bucket").cast("long").as("bucket"), col("n_terms"),
        col("n_postings"), col("sum_tf"), col("max_df"), col("n_added"))
      .orderBy(col("bucket"))

  /** q267 — serve after upsert: the q150 query set from the merged store
    * at stats v2 (exact refresh). Oracle IS [[bm25Oracle]] — the lifecycle
    * round trip must be indistinguishable from scoring the raw corpus. */
  def q267TextUpsertQuery(spark: SparkSession, dir: String): DataFrame =
    serveLifecycle(spark, textLifecycleStore(spark, dir),
      tombstoneAware = false)

  /** q268 — serve BETWEEN delete and compaction: tombstoned docs are
    * invisible (anti-join), df and corpus stats STALE (the Lucene norm —
    * documented above). The oracle scores with full-corpus df/stats and
    * excludes deleted docs before ranking: exactly the stale-stats
    * semantics, deterministically. */
  def q268TextDeleteQuery(spark: SparkSession, dir: String): DataFrame =
    serveLifecycle(spark, textDeletedStore(spark, dir),
      tombstoneAware = true)

  /** q269 — serve AFTER compaction: no tombstone anti-join in the plan,
    * df/stats exact over the live corpus. The oracle is a fresh-build
    * replay over the live slice — compaction must leave the store
    * bit-equivalent to rebuilding from scratch. */
  def q269TextCompactQuery(spark: SparkSession, dir: String): DataFrame =
    serveLifecycle(spark, textCompactedStore(spark, dir),
      tombstoneAware = false)

  /** q270 — post-compaction conservation: per-bucket accounting of the
    * compacted store plus the residual tombstone count (must be 0) and
    * the committed stats row (must equal the live corpus exactly —
    * pinning the exact-refresh decrement). */
  def q270TextCompactAccounting(spark: SparkSession, dir: String): DataFrame = {
    val store = textCompactedStore(spark, dir)
    val nTomb = spark.read.parquet(s"$store/tombstones").count()
    val (_, n, totalDl) = latestTextStats(spark, store)
    spark.read.parquet(s"$store/postings")
      .groupBy(col("bucket"))
      .agg(countDistinct(col("term")).as("n_terms"),
        count(lit(1)).as("n_postings"),
        sum(col("tf")).as("sum_tf"),
        max(col("df")).as("max_df"))
      .select(col("bucket").cast("long").as("bucket"), col("n_terms"),
        col("n_postings"), col("sum_tf"), col("max_df"),
        lit(nTomb).as("n_tomb"), lit(n).as("stat_n_docs"),
        lit(totalDl).as("stat_total_dl"))
      .orderBy(col("bucket"))
  }

  /** q266's oracle: the q263 full-corpus replay plus the batch-posting
    * count per bucket. */
  val textUpsertOracle: String =
    s"""WITH d AS (
      |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
      |        FROM documents)),
      |tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(t) AS term FROM d)
      |  GROUP BY doc_id, term),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
      |b AS (
      |  SELECT (strpos('0123456789abcdef', substr(md5(tf.term), 1, 1)) - 1) * 16
      |         + (strpos('0123456789abcdef', substr(md5(tf.term), 2, 1)) - 1)
      |           AS bucket,
      |         tf.term, tf.doc_id, tf.tf, df.df
      |  FROM tf JOIN df USING (term))
      |SELECT CAST(bucket AS BIGINT) AS bucket,
      |  CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
      |  CAST(count(*) AS BIGINT) AS n_postings,
      |  CAST(sum(tf) AS BIGINT) AS sum_tf,
      |  CAST(max(df) AS BIGINT) AS max_df,
      |  CAST(sum(CASE WHEN doc_id % $TextUpsertStride = $TextUpsertResidue
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_added
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  /** q267's oracle IS q150's (the q264 convention, extended through the
    * upsert verb). */
  val textUpsertQueryOracle: String = bm25Oracle

  /** q268's oracle: full-corpus df/stats (STALE — the declared between-
    * compactions semantics), deleted docs excluded before ranking. */
  val textDeleteQueryOracle: String =
    s"""WITH $bm25ChainSql
       |SELECT query_id, rank, doc_id, n_hit, score_ppm FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rank
       |  FROM scored
       |  WHERE doc_id % $TextDeleteStride != $TextDeleteResidue)
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** q269's oracle: a fresh-build replay over the LIVE corpus only —
    * df, N, and avgdl all exact post-compaction. */
  val textCompactQueryOracle: String =
    s"""WITH ${bm25ChainSqlOver(
         s"(SELECT * FROM documents WHERE doc_id % $TextDeleteStride != $TextDeleteResidue)")}
       |SELECT query_id, rank, doc_id, n_hit, score_ppm FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** q270's oracle: per-bucket accounting recomputed from the live slice,
    * zero residual tombstones, and the exact live stats. */
  val textCompactAccountingOracle: String =
    s"""WITH d AS (
      |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
      |        FROM documents
      |        WHERE doc_id % $TextDeleteStride != $TextDeleteResidue)),
      |tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(t) AS term FROM d)
      |  GROUP BY doc_id, term),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
      |b AS (
      |  SELECT (strpos('0123456789abcdef', substr(md5(tf.term), 1, 1)) - 1) * 16
      |         + (strpos('0123456789abcdef', substr(md5(tf.term), 2, 1)) - 1)
      |           AS bucket,
      |         tf.term, tf.tf, df.df
      |  FROM tf JOIN df USING (term))
      |SELECT CAST(bucket AS BIGINT) AS bucket,
      |  CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
      |  CAST(count(*) AS BIGINT) AS n_postings,
      |  CAST(sum(tf) AS BIGINT) AS sum_tf,
      |  CAST(max(df) AS BIGINT) AS max_df,
      |  CAST(0 AS BIGINT) AS n_tomb,
      |  (SELECT CAST(count(*) AS BIGINT) FROM d) AS stat_n_docs,
      |  (SELECT CAST(sum(dl) AS BIGINT) FROM d) AS stat_total_dl
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------------
  // q271 — HYBRID RETRIEVAL SERVED FROM THE PERSISTED STORES: q239's
  // dense+sparse RRF eval answered entirely from storage — the sparse leg
  // from the inverted index (bucket-pruned by the DATA-DERIVED gold
  // vocabulary, proving the serving path generalizes beyond the fixed
  // q150 query set), the dense leg from the q246 IVF store's postings
  // (exact brute cosine — the eval contract — so every cell is read, but
  // only the 3 narrow columns the scorer needs). Oracle IS q239's
  // verbatim: the two persisted indexes COMPOSE — an eval harness can run
  // from the serving stores without touching the raw corpus. At 100 TB
  // that is the difference between an eval that costs two index reads and
  // one that re-tokenizes and re-normalizes the corpus per run.
  // -------------------------------------------------------------------------

  def q271HybridFromStores(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val goldRows = evalGold(spark, dir)
    val qids = goldRows.map(_._1)
    val termPairs = goldRows.flatMap { case (q, ts) => ts.map(t => (q, t)) }
    // sparse leg: the persisted inverted index, pruned to the gold vocab
    val tstore = buildTextIndex(spark, dir)
    val st = spark.read.parquet(s"$tstore/stats").first()
    val n = st.getLong(0)
    val avgdlPpm = (BigInt(st.getLong(1)) * 1000000 / n).toLong
    val terms = termPairs.toDF("query_id", "term")
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
    val sparse = bm25Chain(
        servingReadFor(spark, tstore, termPairs.map(_._2).distinct),
        terms, n, avgdlPpm)
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("r_sparse", row_number().over(ws).cast("long"))
      .filter(col("r_sparse") <= RrfDepth)
      .select(col("query_id"), col("doc_id"), col("r_sparse"))
    // dense leg: exact brute cosine over the IVF store's postings (norms
    // were precomputed at index time; vec_id/v/nrm is the pruned read)
    val dstore = Similarity.buildIvfStore(spark, dir)
    val vecs = spark.read.parquet(s"$dstore/postings")
      .select(col("vec_id"), col("v"), col("nrm"))
    val qv = vecs.filter(col("vec_id").isin(qids.map(Long.box): _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val wd = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("doc_id"))
    val dense = vecs.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        round(call_function("graft_dot", col("qv"), col("v")) /
          sqrt(col("qn") * col("nrm")), 4).as("cos_sim"))
      .withColumn("r_dense", row_number().over(wd).cast("long"))
      .filter(col("r_dense") <= RrfDepth)
      .select(col("query_id"), col("doc_id"), col("r_dense"))
    val fused = sparse.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr(s"1000000000 DIV ($RrfK + r_sparse)"), lit(0L)) +
        coalesce(expr(s"1000000000 DIV ($RrfK + r_dense)"), lit(0L)))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_score"),
        coalesce(col("r_sparse"), lit(0L)).as("r_sparse"),
        coalesce(col("r_dense"), lit(0L)).as("r_dense"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q271's oracle IS q239's — serving from the two persisted stores must
    * be indistinguishable from computing the eval on the raw corpus. */
  lazy val hybridFromStoresOracle: String = hybridRetrievalOracle

  // -------------------------------------------------------------------------
  // q272 — STREAMING-SHAPED TEXT-INDEX UPSERT (the q256 contract on the
  // sparse side): the q266 merge driven as out-of-order micro-batches
  // WITH a replay (batch residues arrive 2, 0, 1, then 0 again — the
  // delivery pattern a Structured Streaming foreachBatch sink sees).
  // Effectively-once = at-least-once delivery + the doc_id anti-join
  // making re-delivery a literal no-op (zero novel rows → zero bucket
  // writes → no stats version). The oracle is the UNBATCHED full-corpus
  // build replay (q266's verbatim), so the CORRECTNESS row certifies
  // order/batching/replay-invariance of the affected-bucket merge.
  // -------------------------------------------------------------------------

  private val TextStreamResidues = Seq(2L, 0L, 1L, 0L) // out of order + replay

  /** build(base) → the batch slice delivered as micro-batches (with one
    * replayed); returns the store. Exposed for Round11Spec's stats-version
    * pin (v1 + one version per NON-EMPTY novel merge; the replay adds
    * none). */
  private[graft] def streamingTextStore(spark: SparkSession,
                                        dir: String): String = {
    val store = buildTextBase(spark, dir)
    val batch = Tables.documents(spark, dir)
      .filter(col("doc_id") % TextUpsertStride === TextUpsertResidue)
    TextStreamResidues.foreach { b =>
      textUpsert(spark, store, batch.filter(col("doc_id") % 3 === b)): Unit
    }
    store
  }

  def q272StreamingTextUpsert(spark: SparkSession, dir: String): DataFrame =
    textStoreAccounting(spark, streamingTextStore(spark, dir))

  /** Identical to [[textUpsertOracle]] — the unbatched replay IS the
    * specification the micro-batched path must converge to. */
  lazy val streamingTextUpsertOracle: String = textUpsertOracle

  // -------------------------------------------------------------------------
  // q252 — NDCG@k retrieval-quality eval (Järvelin & Kekäläinen, TOIS'02):
  // the standard graded-relevance ranking metric. The gold grade is the
  // raw query-term mass per doc (sum of tfs — a signal INDEPENDENT of the
  // ranker's tf-saturation and length normalization, so BM25's top-k and
  // the grade-ideal ordering genuinely disagree and the metric
  // discriminates). DCG uses linear gains and the 1/log2(1+r) discount as
  // a FIXED-POINT table: the k integers are computed ONCE in Scala
  // ([[InvLog2Ppm]]) and rendered into both engines (the q237 embedded-
  // constant convention — no transcendental evaluated in either engine).
  //
  // Scale: the per-query candidate relation is already vocabulary-cut at
  // the scan (scoredFor); both rankings window per-query; the discount
  // table is a k-row broadcast. ndcg_ppm is exact integer arithmetic.
  // -------------------------------------------------------------------------

  val NdcgK = 10

  /** round(1e6 / log2(r+1)) for r = 1..[[NdcgK]] — fixed-point discount
    * table, embedded identically into the Spark plan and the oracle. */
  val InvLog2Ppm: Seq[Long] = Seq(1000000L, 630930L, 500000L, 430677L,
    386853L, 356207L, 333333L, 315465L, 301030L, 289065L)

  def q252NdcgEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val disc = broadcast(InvLog2Ppm.zipWithIndex
      .map { case (v, i) => ((i + 1).toLong, v) }.toDF("r", "invlog_ppm"))
    val scored = scoredAll(spark, dir)
      .select(col("query_id"), col("doc_id"), col("score_ppm"),
              col("tf_mass").as("rel"))
    val wR = Window.partitionBy(col("query_id"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
    val dcg = scored
      .withColumn("rank", row_number().over(wR).cast("long"))
      .filter(col("rank") <= NdcgK)
      .join(disc, col("rank") === col("r"))
      .groupBy(col("query_id"))
      // rel·invlog_ppm routes through DECIMAL(38,0): long docs at scale
      // push tf_mass × 1e6-scale discounts past int64, where Spark
      // non-ANSI silently wraps but DuckDB errors (the dl·10^12 rule)
      .agg(expr("CAST(sum(CAST(rel AS DECIMAL(38,0)) * invlog_ppm) AS BIGINT)")
        .as("dcg"))
    val wI = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("doc_id"))
    val idcg = scored
      .withColumn("irank", row_number().over(wI).cast("long"))
      .filter(col("irank") <= NdcgK)
      .join(disc, col("irank") === col("r"))
      .groupBy(col("query_id"))
      .agg(expr("CAST(sum(CAST(rel AS DECIMAL(38,0)) * invlog_ppm) AS BIGINT)")
        .as("idcg"))
    dcg.join(idcg, "query_id")
      .withColumn("ndcg_ppm",
        expr("CAST(CAST(dcg AS DECIMAL(38,0)) * 1000000 DIV idcg AS BIGINT)"))
      .orderBy(col("query_id"))
  }

  private def discValuesSql: String = InvLog2Ppm.zipWithIndex
    .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")

  val ndcgEvalOracle: String =
    s"""WITH $bm25ChainSql,
       |disc AS (SELECT * FROM (VALUES $discValuesSql) v(r, invlog_ppm)),
       |ranked AS (
       |  SELECT query_id, doc_id, tf_mass AS rel,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rank
       |  FROM scored),
       |dcg AS (
       |  SELECT query_id,
       |    CAST(sum(CAST(rel AS DECIMAL(38,0)) * invlog_ppm) AS BIGINT) AS dcg
       |  FROM ranked JOIN disc ON disc.r = ranked.rank
       |  WHERE rank <= $NdcgK GROUP BY query_id),
       |ideal AS (
       |  SELECT query_id, tf_mass AS rel,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY tf_mass DESC, doc_id) AS BIGINT) AS irank
       |  FROM scored),
       |idcg AS (
       |  SELECT query_id,
       |    CAST(sum(CAST(rel AS DECIMAL(38,0)) * invlog_ppm) AS BIGINT) AS idcg
       |  FROM ideal JOIN disc ON disc.r = ideal.irank
       |  WHERE irank <= $NdcgK GROUP BY query_id)
       |SELECT query_id, dcg, idcg,
       |  CAST(CAST(dcg AS HUGEINT) * 1000000 // idcg AS BIGINT)
       |  AS ndcg_ppm
       |FROM dcg JOIN idcg USING (query_id) ORDER BY query_id""".stripMargin

  // -------------------------------------------------------------------------
  // q253 — ANSWER-GROUNDING AUDIT over the packed context (the RAG
  // serving check downstream of q248): for each eval query, the "answer"
  // is the gold document's continuation — its next [[AnswerLen]] distinct
  // tokens after the [[QueryTerms]] query terms — and the audit measures
  // what fraction of those answer tokens actually appear in the context
  // q248 packs for that query. Low grounding = the budget-packed context
  // cannot support the expected answer (citation/attribution failure),
  // the metric RAG pipelines gate on before serving.
  //
  // Scale: the eval side is the one capped sampler (≤ MaxEvalQueries ×
  // (QueryTerms+AnswerLen) driver rows, all broadcast); the packed
  // selection is ≤ 100 queries × PackDepth rows broadcast against the
  // passage relation (id-keyed join), and the coverage count is a keyed
  // aggregate over ≤ |packed|·PassageLen exploded rows. The corpus never
  // self-joins; text token lists move only for the packed passages.
  // -------------------------------------------------------------------------

  val AnswerLen = 8

  def q253GroundingAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // one bounded sampler: query terms (positions 1..QueryTerms of the
    // distinct-token stream) AND answer tokens (the next AnswerLen)
    val wide = Tables.documents(spark, dir)
      .filter(col("doc_id") % EvalStride === EvalResidue)
      .select(col("doc_id").as("query_id"),
        slice(array_distinct(TextOps.tokens(col("text"))), 1,
              QueryTerms + AnswerLen).as("dt"))
      .orderBy(col("query_id"))
      .limit(MaxEvalQueries)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[String](1)))
    val termPairs = wide.flatMap { case (q, ts) =>
      ts.take(QueryTerms).map(t => (q, t)) }
    val ansPairs = wide.flatMap { case (q, ts) =>
      ts.drop(QueryTerms).map(t => (q, t)) }
    val na = wide
      .map { case (q, ts) => (q, (ts.size - QueryTerms).toLong) }
      .filter(_._2 > 0).toDF("query_id", "n_ans")
    val packed = contextPackFor(spark, dir, termPairs)
      .select(col("query_id"), col("doc_id"), col("chunk_idx"))
    val ctxTerms = passages(spark, dir)
      .join(broadcast(packed), Seq("doc_id", "chunk_idx"))
      .select(col("query_id"), explode(col("pt")).as("term"))
      .distinct()
    val hits = ctxTerms
      .join(broadcast(ansPairs.toDF("query_id", "term")),
            Seq("query_id", "term"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    // build-side hint on the RIGHT: Spark can only broadcast the build
    // (non-stream) side of a LEFT OUTER join — a hint on `na` would be
    // silently ignored. `hits` is ≤ MaxEvalQueries grouped rows.
    na.join(broadcast(hits), Seq("query_id"), "left")
      .select(col("query_id"), col("n_ans"),
              coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("grounding_ppm", expr("n_hit * 1000000 DIV n_ans"))
      .orderBy(col("query_id"))
  }

  val groundingAuditOracle: String =
    s"""WITH $passageChainSql,
       |firsts2 AS (
       |  SELECT query_id, term, min(o) AS fo FROM occ
       |  GROUP BY query_id, term),
       |ans AS (
       |  SELECT query_id, term FROM (
       |    SELECT query_id, term,
       |      row_number() OVER (PARTITION BY query_id ORDER BY fo) AS pos
       |    FROM firsts2)
       |  WHERE pos > $QueryTerms AND pos <= ${QueryTerms + AnswerLen}),
       |ranked2 AS (
       |  SELECT * FROM (
       |    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_ppm DESC, doc_id, chunk_idx) AS BIGINT) AS rank
       |    FROM scored)
       |  WHERE rank <= $PackDepth),
       |packed AS (
       |  SELECT query_id, doc_id, chunk_idx FROM (
       |    SELECT query_id, doc_id, chunk_idx,
       |      CAST(sum(dl) OVER (PARTITION BY query_id ORDER BY rank
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |        AS cum_tok
       |    FROM ranked2)
       |  WHERE cum_tok <= $ContextBudget),
       |ctx AS (
       |  SELECT DISTINCT p.query_id, u.term
       |  FROM packed p JOIN pass USING (doc_id, chunk_idx),
       |       unnest(pass.pt) AS u(term)),
       |hit AS (
       |  SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hit
       |  FROM ans a JOIN ctx c ON c.query_id = a.query_id AND c.term = a.term
       |  GROUP BY a.query_id),
       |na AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_ans
       |       FROM ans GROUP BY query_id)
       |SELECT na.query_id, n_ans,
       |  CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
       |  CAST(COALESCE(n_hit, 0) * 1000000 // n_ans AS BIGINT)
       |    AS grounding_ppm
       |FROM na LEFT JOIN hit USING (query_id)
       |WHERE n_ans > 0 ORDER BY na.query_id""".stripMargin

  // -------------------------------------------------------------------------
  // q257 — CONTEXT-REUSE audit (the RAG serving-cache readout): across the
  // eval queries' packed contexts (q248), how concentrated is passage
  // reuse? A passage appearing in many contexts is a cache hit and a
  // dedup opportunity (prefix-cache it once); a corpus whose contexts are
  // all-distinct caches nothing. Output: the reuse histogram — for each
  // reuse count (how many contexts contain a passage), the number of
  // distinct passages and their one-copy token mass. Σ(n_contexts ×
  // n_passages-weighted) = total packed rows; n_contexts=1 mass is the
  // uncacheable tail.
  //
  // Scale: everything downstream of the packed selection (≤ MaxEvalQueries
  // × PackDepth rows) — two keyed aggregates over a broadcast-sized
  // relation; the corpus is touched only by the q248 chain itself.
  // -------------------------------------------------------------------------

  /** q257's workload sampler: DENSER than the self-retrieval eval's
    * (stride 7 vs 97) — a serving cache is interesting under a workload
    * whose contexts can actually collide; the stride-97 eval set is 6
    * queries at the gate fixture and its contexts are disjoint by
    * construction (a one-row histogram pins nothing). The cap still
    * binds at any corpus scale. */
  private val ReuseStride = 7L
  private val ReuseResidue = 0L

  def q257ContextReuse(spark: SparkSession, dir: String): DataFrame = {
    val termPairs = evalGold(spark, dir, stride = ReuseStride,
        residue = ReuseResidue)
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
    val packed = contextPackFor(spark, dir, termPairs)
      .select(col("query_id"), col("doc_id"), col("chunk_idx"),
              col("n_tok"))
    packed
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(count(lit(1)).as("n_contexts"), min(col("n_tok")).as("n_tok"))
      .groupBy(col("n_contexts"))
      .agg(count(lit(1)).as("n_passages"),
           sum(col("n_tok")).as("token_mass"))
      .orderBy(col("n_contexts"))
  }

  val contextReuseOracle: String =
    s"""WITH ${passageChainSqlFor(ReuseStride, ReuseResidue)},
       |ranked3 AS (
       |  SELECT * FROM (
       |    SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_ppm DESC, doc_id, chunk_idx) AS BIGINT) AS rank
       |    FROM scored)
       |  WHERE rank <= $PackDepth),
       |packed AS (
       |  SELECT query_id, doc_id, chunk_idx, dl FROM (
       |    SELECT query_id, doc_id, chunk_idx, dl,
       |      CAST(sum(dl) OVER (PARTITION BY query_id ORDER BY rank
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |        AS cum_tok
       |    FROM ranked3)
       |  WHERE cum_tok <= $ContextBudget),
       |per_passage AS (
       |  SELECT doc_id, chunk_idx, CAST(count(*) AS BIGINT) AS n_contexts,
       |         CAST(min(dl) AS BIGINT) AS n_tok
       |  FROM packed GROUP BY doc_id, chunk_idx)
       |SELECT n_contexts, CAST(count(*) AS BIGINT) AS n_passages,
       |  CAST(sum(n_tok) AS BIGINT) AS token_mass
       |FROM per_passage GROUP BY n_contexts ORDER BY n_contexts""".stripMargin
}
