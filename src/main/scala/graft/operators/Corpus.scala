package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-audit operators for the training-data pipeline: vocabulary,
  * deterministic stratified sampling, benchmark-contamination scan, length
  * histogram, and mixture weights — the bookkeeping every large-scale data
  * curation run needs beside dedup/similarity.
  *
  * All shapes are one groupBy shuffle or a pure row-map; sampling is
  * hash-gated (md5 prefix), so it is reproducible across engines, runs,
  * and cluster sizes — no RNG state anywhere.
  */
object Corpus {

  /** q43 — vocabulary top-K: token frequencies with deterministic
    * tiebreak. Map-side partial counts make the shuffle |vocab|-sized. */
  def q43VocabTopk(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50)

  val vocabOracle: String =
    """SELECT token, count(*) AS n
      |FROM (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token
      |      FROM documents)
      |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin

  /** q44 — stratified deterministic sampling: per-language md5-prefix
    * gates (en kept at ~50%, others ~12.5%) — the data-mixing primitive.
    * Reproducible: membership depends only on doc_id. */
  def q44StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val gate = substring(md5(col("doc_id").cast("string")), 1, 2)
    val threshold = when(col("lang") === "en", "80").otherwise("20")
    Tables.documents(spark, dir)
      .filter(gate < threshold)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val stratifiedOracle: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
      |      < (CASE WHEN lang = 'en' THEN '80' ELSE '20' END)
      |ORDER BY doc_id""".stripMargin

  /** q45 — contamination scan: which docs contain any benchmark phrase,
    * and which phrase hit first (fixed priority order). */
  val phrases: Seq[String] = Seq("merge join", "hash join", "window function")

  def q45Contamination(spark: SparkSession, dir: String): DataFrame = {
    val hit = phrases.foldLeft(lit(null).cast("string")) { (acc, p) =>
      coalesce(acc, when(col("text").contains(p), p))
    }
    Tables.documents(spark, dir)
      .withColumn("phrase", hit)
      .filter(col("phrase").isNotNull)
      .select(col("doc_id"), col("phrase"))
      .orderBy(col("doc_id"))
  }

  val contaminationOracle: String = {
    val cases = phrases.map(p => s"WHEN text LIKE '%$p%' THEN '$p'").mkString(" ")
    s"""SELECT doc_id, CASE $cases END AS phrase
       |FROM documents WHERE CASE $cases END IS NOT NULL
       |ORDER BY doc_id""".stripMargin
  }

  /** q46 — length histogram: 100-char buckets capped at 9, with exact
    * decimal mean length per bucket. */
  def q46LengthHist(spark: SparkSession, dir: String): DataFrame = {
    val bucket = least((col("n_chars") / 100).cast("long"), lit(9L))
    Tables.documents(spark, dir)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
           Relational.asMoney(sum(Relational.dec(col("n_chars")))).as("sum_chars"))
      .orderBy(col("bucket"))
  }

  val lengthHistOracle: String =
    """SELECT least(n_chars // 100, 9) AS bucket, count(*) AS n,
      |  CAST(CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** q47 — mixture weights: corpus fraction per (lang, source) — the
    * single-partition total window runs over |groups| rows, not the
    * corpus. */
  def q47MixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
    counts
      .withColumn("pct",
        // DECIMAL-routed: n/total is a small-int rational (the half-case
        // trap) — benign at the fixture totals (2^a·5^b terminate early)
        // but not for an arbitrary corpus size
        round((col("n").cast("double") /
               sum(col("n")).over(Window.partitionBy()).cast("double"))
                .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
          .cast("double"))
      .orderBy(col("lang"), col("source"))
  }

  val mixtureOracle: String =
    """SELECT lang, source, n,
      |  CAST(round(CAST(CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE)
      |       AS DECIMAL(28,12)), 6) AS DOUBLE) AS pct
      |FROM (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2)
      |ORDER BY lang, source""".stripMargin

  /** q48 — top-3 longest docs per language (curation shortlist). The
    * rank window compiles to WindowGroupLimit: per-partition top-k heaps
    * before the shuffle, so only k×|groups| rows move. */
  def q48TopPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("lang"), col("rank"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("rank"))
  }

  val topPerGroupOracle: String =
    """SELECT lang, rank, doc_id, n_chars FROM (
      |  SELECT lang, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rank
      |  FROM documents)
      |WHERE rank <= 3 ORDER BY lang, rank""".stripMargin

  /** q103 — hash-PRIORITY uniform sample: per language, the 5 docs with
    * the smallest md5(doc_id) — distributed uniform-without-replacement
    * sampling with NO RNG state. Properties that matter at 100 TB: the
    * sample is a pure function of the data (reproducible across engines,
    * re-runs, and cluster sizes — the q44 gate argument, extended from
    * Bernoulli to fixed-size); it is cheap (the rank window compiles to
    * WindowGroupLimit: per-partition k-heaps, so only k·|groups| rows
    * shuffle — q48's shape); and it is EXTENSIBLE — raising k strictly
    * grows the sample without resampling, because priorities never
    * change. */
  def q103PrioritySample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("rk"))
  }

  val prioritySampleOracle: String =
    """SELECT lang, rk, doc_id, n_chars FROM (
      |  SELECT lang, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY lang
      |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin

  /** q49 — median doc length per language, spelled as an explicit
    * row_number selection (lower-middle element) so both engines pick the
    * SAME row — engine-native percentile functions interpolate
    * differently. */
  def q49MedianLength(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("lang"))))
      .filter(col("rn") === ((col("cnt") + 1) / 2).cast("int"))
      .select(col("lang"), col("n_chars").as("median_chars"))
      .orderBy(col("lang"))
  }

  /** q52 — mixture audit with ROLLUP: per (lang, source), per lang, and
    * grand total in one pass (partial aggregation covers all grouping
    * sets in a single shuffle). */
  def q52MixtureRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)

  val mixtureRollupOracle: String =
    """SELECT lang, source, count(*) AS n FROM documents
      |GROUP BY ROLLUP (lang, source)
      |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin

  /** q56 — unpivot/melt: wide per-doc stats to (doc_id, metric, value)
    * long form — feature-store export shape. */
  def q56Unpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
              length(col("text")).cast("long").as("text_len"))
      .unpivot(Array(col("doc_id")),
               Array(col("n_chars"), col("text_len")), "metric", "value")
      .orderBy(col("doc_id"), col("metric"))

  val unpivotOracle: String =
    """SELECT doc_id, 'n_chars' AS metric, CAST(n_chars AS BIGINT) AS value FROM documents
      |UNION ALL
      |SELECT doc_id, 'text_len', CAST(length(text) AS BIGINT) FROM documents
      |ORDER BY doc_id, metric""".stripMargin

  /** q57 — distinct aggregation (absent from the reference; corpus audits
    * need it): distinct sources + docs per language. Spark plans this as
    * a two-stage expand + aggregate; the shuffle carries distinct pairs. */
  def q57DistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(countDistinct(col("source")).as("n_sources"),
           count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  val distinctAggOracle: String =
    """SELECT lang, count(DISTINCT source) AS n_sources, count(*) AS n_docs
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q58 — holdout split via EXCEPT (set semantics): the complement of
    * the q44 sample. Same result as an anti join, but exercises the set
    * operator (dedup + distributed set difference). */
  def q58HoldoutExcept(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.documents(spark, dir).select(col("doc_id"))
    all.except(q44StratifiedSample(spark, dir).select(col("doc_id")))
      .orderBy(col("doc_id"))
  }

  val holdoutExceptOracle: String =
    """SELECT doc_id FROM documents
      |EXCEPT
      |SELECT doc_id FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
      |      < (CASE WHEN lang = 'en' THEN '80' ELSE '20' END)
      |ORDER BY doc_id""".stripMargin

  /** q60 — quartile assignment by doc length (curriculum bucketing):
    * ntile over a total order (unique doc_id tiebreak makes both engines
    * assign identical quartiles), then per-quartile stats.
    *
    * Scale shape: built-in `ntile` needs a NO-PARTITION window — the whole
    * corpus through one task (the q21 scale-killer shape). Instead the
    * global rank comes from the distributed two-phase [[PrefixSum]]
    * (running count over a packed (n_chars, doc_id) order key), and ntile's
    * tile assignment is its closed form over (rank, N): the first `N mod k`
    * tiles take `N div k + 1` rows, the rest `N div k` — integer math,
    * bit-identical to the oracle's ntile at any parallelism. Contract: the
    * packed key needs doc_id < 10^12 (the loader's id space); a wider id
    * would use a two-column range key instead. */
  def q60Quartiles(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val packed = docs.withColumn("__k",
      col("n_chars").cast("long") * lit(1000000000000L) + col("doc_id"))
    val (ranked, n) = PrefixSum.globalRank(packed, "__k", "r")
    val qd = n / 4; val rem = n % 4; val thresh = rem * (qd + 1)
    // ceil(a/b) over positive longs = (a + b - 1) DIV b — integer DIV, not
    // `/` (double division mis-assigns past 2^53)
    val quartile =
      if (qd == 0) col("r") // fewer rows than tiles: rank = tile (ntile def)
      else when(col("r") <= thresh, expr(s"(r + ${qd}L) DIV ${qd + 1}L"))
        .otherwise(lit(rem) + expr(s"(r - ${thresh}L + ${qd - 1}L) DIV ${qd}L"))
    ranked
      .withColumn("quartile", quartile.cast("long"))
      .groupBy(col("quartile"))
      .agg(count(lit(1)).as("n"),
           min(col("n_chars")).as("min_chars"),
           max(col("n_chars")).as("max_chars"))
      .orderBy(col("quartile"))
  }

  val quartilesOracle: String =
    """SELECT quartile, count(*) AS n, min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM (SELECT n_chars,
      |        CAST(ntile(4) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS quartile
      |      FROM documents)
      |GROUP BY quartile ORDER BY quartile""".stripMargin

  /** q61 — weighted (importance) sampling: acceptance probability grows
    * with doc length (`min(n_chars/500, 1)`), gated by a 16-bit md5 hash —
    * reproducible across engines, runs, and cluster sizes; no RNG state.
    * This is the data-mixing knob a curation pipeline turns per source. */
  def q61WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val h4 = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("int")
    val w = least(col("n_chars").cast("double") / 500.0, lit(1.0))
    Tables.documents(spark, dir)
      .filter(h4.cast("double") / 65536.0 < w)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val weightedSampleOracle: String = {
    val nib = (i: Int) =>
      s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    s"""SELECT doc_id, lang, n_chars FROM documents
       |WHERE CAST(${nib(1)}*4096 + ${nib(2)}*256 + ${nib(3)}*16 + ${nib(4)} AS DOUBLE) / 65536.0
       |      < least(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
       |ORDER BY doc_id""".stripMargin
  }

  val medianOracle: String =
    """SELECT lang, n_chars AS median_chars FROM (
      |  SELECT lang, n_chars, doc_id,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS cnt
      |  FROM documents)
      |WHERE rn = CAST((cnt + 1) // 2 AS INT) ORDER BY lang""".stripMargin

  /** q67 — n-gram decontamination JOIN (the scale path q45's substring scan
    * can't take): which training docs share ≥ `MinCommon` distinct 3-gram
    * shingles with which held-out/benchmark docs, and what fraction of the
    * benchmark's shingles that overlap covers. This is the canonical
    * pretraining-decontamination shape (exploded n-gram equi-join), and its
    * 100 TB plan is dictated by the asymmetry of the two sides: the
    * benchmark suite is tiny and FIXED, so its exploded (shingle → doc)
    * relation is broadcast and the training corpus streams through a
    * map-side hash probe — the train-side n-gram fan-out (the big relation)
    * is never shuffled; only the matched pairs reach the one groupBy. A
    * frequent "stop-gram" can skew the probe's OUTPUT, not an exchange —
    * and the degenerate case (a shingle in every doc) is bounded by the
    * broadcast side's size, not the corpus. */
  val DecontamMinCommon = 5

  /** Per-doc distinct shingle sets — the shared leaf of q67 and the
    * Bloom-prefiltered q100. */
  private[graft] def shingledDocs(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), call_function("graft_shingles", col("text")).as("sh"))
  }

  /** The exploded benchmark side of the decontamination join (broadcast). */
  private[graft] def evalExploded(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("eval_doc"), col("sh"))
      .select(col("eval_doc"), size(col("sh")).cast("long").as("n_eval"),
              explode(col("sh")).as("g"))

  /** The exact verify tail: equi-join on shingle, overlap count + fraction.
    * Shared verbatim by q67 and q100 — a prefilter on `train` that never
    * drops a truly-matching shingle (Bloom's no-false-negative guarantee)
    * cannot change this operator's output. */
  private[graft] def decontaminateJoin(train: DataFrame,
                                           evalEx: DataFrame): DataFrame =
    train.join(broadcast(evalEx), Seq("g"))
      .groupBy(col("train_doc"), col("eval_doc"), col("n_eval"))
      .agg(count(lit(1)).as("n_common"))   // shingles are distinct per doc
      .filter(col("n_common") >= DecontamMinCommon)
      .select(col("train_doc"), col("eval_doc"), col("n_common"),
        round((col("n_common").cast("double") / col("n_eval").cast("double"))
          .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
          .cast("double").as("overlap_frac"))
      .orderBy(col("train_doc"), col("eval_doc"))

  def q67Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingledDocs(spark, dir)
    val train = docs.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id").as("train_doc"), explode(col("sh")).as("g"))
    decontaminateJoin(train, evalExploded(docs))
  }

  val decontaminateOracle: String =
    s"""WITH sh AS (
       |  SELECT doc_id, ${TextOps.duckShingles} AS s
       |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |        FROM documents)),
       |ev AS (SELECT doc_id AS eval_doc, len(s) AS n_eval, unnest(s) AS g
       |       FROM sh WHERE doc_id % 50 = 0),
       |tr AS (SELECT doc_id AS train_doc, unnest(s) AS g
       |       FROM sh WHERE doc_id % 50 <> 0)
       |SELECT train_doc, eval_doc, count(*) AS n_common,
       |  CAST(round(CAST(CAST(count(*) AS DOUBLE) / CAST(n_eval AS DOUBLE)
       |       AS DECIMAL(28,12)), 6) AS DOUBLE) AS overlap_frac
       |FROM tr JOIN ev USING (g)
       |GROUP BY train_doc, eval_doc, n_eval
       |HAVING count(*) >= $DecontamMinCommon
       |ORDER BY train_doc, eval_doc""".stripMargin

  /** q68 — sequence packing ("concat then chunk", the standard pretraining
    * layout): lay every doc's tokens end-to-end in doc_id order and cut
    * fixed `SeqLen`-token training sequences; emit each doc's pack id,
    * offset within the pack, and whether it straddles a boundary. The
    * global running token count is [[PrefixSum]] — this query exercises the
    * distributed two-phase prefix sum on a CORPUS-sized relation (the q21
    * shape generalized off the dimension table), so packing survives at
    * 100 TB where a single-task window would serialize. */
  val PackSeqLen = 2048L

  def q68PackSequences(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
              size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"))
    PrefixSum.withRunningSum(docs, "doc_id", col("n_tokens")
        .cast(org.apache.spark.sql.types.DecimalType(38, 6)), "cum")
      .select(col("doc_id"), col("n_tokens"),
              (col("cum").cast("long") - col("n_tokens")).as("start_offset"))
      .withColumn("pack_id", expr(s"start_offset DIV $PackSeqLen"))
      .withColumn("pos_in_pack", expr(s"start_offset % $PackSeqLen"))
      .withColumn("straddles",
        expr(s"(start_offset + n_tokens - 1) DIV $PackSeqLen") > col("pack_id"))
      .orderBy(col("doc_id"))
  }

  /** q70 — TF-IDF top terms per document. IDF is the LINEAR rarity ratio
    * `N/df` (log-free): `ln` is not correctly-rounded in every libm, so a
    * log-based score could round differently across engines — the ranking
    * it induces per document is identical (log is monotone in N/df).
    * Scale shape: one (doc_id, token) shuffle for TF, one token-keyed
    * aggregate for DF, one token-keyed join to combine — the corpus text
    * itself never moves twice. The DF side of the join is vocabulary-sized
    * and skewed toward stop-words; AQE skew-join splitting covers it (and
    * a min-df/stop-list filter is the standard escape hatch). N arrives
    * via one control-plane count, the same dimension-scale driver loop as
    * [[PrefixSum]]. */
  def q70TfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.count() // control scalar: |corpus|
    // TF feeds both the probe side and the DF aggregate — materialize once
    // (else the corpus explode+count runs twice; at cluster scale this is
    // the persisted (doc,token) intermediate a TF-IDF job would keep).
    val tf = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val score = round(
      ((col("tf").cast("double") * n.toDouble) / col("df").cast("double"))
        .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
      .cast("double")
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(df, "token")
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
              score.as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"),
              col("df"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val tfidfOracle: String =
    """WITH tf AS (
      |  SELECT doc_id, token, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS token
      |        FROM documents)
      |  GROUP BY doc_id, token),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      |n AS (SELECT count(*) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, token, tf, df,
      |    CAST(round(CAST((CAST(tf AS DOUBLE) * n) / CAST(df AS DOUBLE)
      |         AS DECIMAL(28,12)), 6) AS DOUBLE) AS score
      |  FROM tf JOIN df USING (token) CROSS JOIN n)
      |SELECT doc_id, rank, token, tf, df, score FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
      |              ORDER BY score DESC, token) AS BIGINT) AS rank
      |  FROM scored)
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** q73 — bigram language model: the most likely continuation of every
    * head word with the conditional probability `P(w2|w1) = c12/c1` — the
    * n-gram-LM estimation pass a data pipeline runs for quality filtering
    * and perplexity proxies. Two keyed shuffles: (w1,w2) counts, then the
    * head-word totals as a window over the (already tiny) bigram relation
    * — the exploded corpus feeds exactly one exchange. */
  def q73BigramLm(spark: SparkSession, dir: String): DataFrame = {
    val t = TextOps.tokens(col("text"))
    val bigrams = Tables.documents(spark, dir)
      .select(t.as("t"))
      .filter(size(col("t")) >= 2)
      .select(posexplode(transform(sequence(lit(1), size(col("t")) - 1), i =>
        struct(element_at(col("t"), i).as("w1"),
               element_at(col("t"), i + 1).as("w2")))).as(Seq("pos", "bg")))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val counts = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val headW = Window.partitionBy(col("w1"))
    val rankW = headW.orderBy(col("c12").desc, col("w2"))
    counts
      .withColumn("c1", sum(col("c12")).over(headW))
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") === 1)
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        round((col("c12").cast("double") / col("c1").cast("double"))
          .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
          .cast("double").as("p"))
      .orderBy(col("w1"))
  }

  // -------------------------------------------------------------------------
  // q193 — per-doc FLUENCY scoring against the corpus bigram LM (the
  // CCNet/Wenzek'20 perplexity-filter shape, log-free): each bigram
  // occurrence scores its exact integer continuation likelihood
  // p(w₂|w₁) = ⌊10⁶·c₁₂/c₁⌋ ppm, a doc scores the truncated mean of its
  // bigram ppms, sources roll up n/avg/min/max. A doc of boilerplate
  // reads high (every continuation is the common one); shuffled or
  // gibberish text reads low. Perplexity's exp/log monotonically maps to
  // this mean-likelihood readout for RANKING docs, and the integer form
  // is bit-identical across engines where a floating log-prob sum never
  // is. In-corpus scoring needs no smoothing — every scored bigram was
  // counted by the LM it is scored against (cross-corpus scoring would
  // need the add-one extension; documented, not implemented).
  //
  // Scale: LM = the (w1, w2, c12, c1) relation (vocab-bounded, keyed);
  // scoring = one equi-join of the doc-bigram relation against it, then
  // two partial aggregates (doc, then source). No window over docs.
  // -------------------------------------------------------------------------

  /** The per-doc fluency relation (doc_id, source, doc_ppm) — q193's
    * rollup input and the q200/q201 ensemble/curriculum signal. Three
    * consumers derive the identical relation from one table, so it is a
    * [[graft.Leaves]] shared leaf under the bench's persisted-postings
    * flag (per-call isolation by default, like the SimJoin leaves). */
  def fluencyDocScores(spark: SparkSession, dir: String): DataFrame =
    graft.Leaves.shared(spark, s"fluency_scores:$dir") {
      fluencyDocScoresBuild(spark, dir)
    }

  private def fluencyDocScoresBuild(spark: SparkSession, dir: String): DataFrame = {
    val t = TextOps.tokens(col("text"))
    val bigrams = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), t.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(transform(sequence(lit(1), size(col("t")) - 1), i =>
          struct(element_at(col("t"), i).as("w1"),
                 element_at(col("t"), i + 1).as("w2")))).as("bg"))
      .select(col("doc_id"), col("source"),
              col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val lm = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .withColumn("c1", sum(col("c12")).over(Window.partitionBy(col("w1"))))
    bigrams
      .join(lm, Seq("w1", "w2"))
      .select(col("doc_id"), col("source"),
              expr("(1000000 * c12) DIV c1").as("ppm"))
      .groupBy(col("doc_id"), col("source"))
      .agg(expr("sum(ppm) DIV count(1)").as("doc_ppm"))
  }

  /** q193 — per source: scored docs and the avg/min/max doc-fluency ppm. */
  def q193FluencyScore(spark: SparkSession, dir: String): DataFrame =
    fluencyDocScores(spark, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_scored"),
           expr("sum(doc_ppm) DIV count(1)").as("avg_fluency_ppm"),
           min(col("doc_ppm")).as("min_fluency_ppm"),
           max(col("doc_ppm")).as("max_fluency_ppm"))
      .orderBy(col("source"))

  val fluencyScoreOracle: String =
    """WITH t AS (
      |  SELECT doc_id, source, regexp_split_to_array(lower(text), '\s+') AS wr
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, source,
      |    unnest([{'w1': wr[i], 'w2': wr[i+1]} for i in range(1, len(wr))], recursive := true)
      |  FROM t WHERE len(wr) >= 2),
      |lm AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12,
      |    sum(count(*)) OVER (PARTITION BY w1) AS c1
      |  FROM bg GROUP BY w1, w2),
      |ds AS (
      |  SELECT doc_id, source,
      |    sum((1000000 * lm.c12) // CAST(lm.c1 AS BIGINT))
      |      // count(*) AS doc_ppm
      |  FROM bg JOIN lm ON lm.w1 = bg.w1 AND lm.w2 = bg.w2
      |  GROUP BY doc_id, source)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_scored,
      |  CAST(sum(doc_ppm) // count(*) AS BIGINT) AS avg_fluency_ppm,
      |  CAST(min(doc_ppm) AS BIGINT) AS min_fluency_ppm,
      |  CAST(max(doc_ppm) AS BIGINT) AS max_fluency_ppm
      |FROM ds GROUP BY source ORDER BY source""".stripMargin

  val bigramLmOracle: String =
    """WITH bg AS (
      |  SELECT u['w1'] AS w1, u['w2'] AS w2 FROM (
      |    SELECT unnest(list_transform(range(1, len(t)),
      |             i -> {'w1': t[i], 'w2': t[i+1]})) AS u
      |    FROM (SELECT regexp_split_to_array(lower(text), '\s+') AS t FROM documents)
      |    WHERE len(t) >= 2)),
      |counts AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
      |tot AS (
      |  SELECT *, sum(c12) OVER (PARTITION BY w1) AS c1,
      |    row_number() OVER (PARTITION BY w1 ORDER BY c12 DESC, w2) AS rn
      |  FROM counts)
      |SELECT w1, w2, c12, CAST(c1 AS BIGINT) AS c1,
      |  CAST(round(CAST(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)
      |       AS DECIMAL(28,12)), 6) AS DOUBLE) AS p
      |FROM tot WHERE rn = 1 ORDER BY w1""".stripMargin

  /** q75 — mixture-TARGETING sampler: q47 measures the mixture, q61
    * samples by importance; this op RESAMPLES the corpus toward target
    * language weights (en 50%, every other language 12.5%) — the knob a
    * pretraining run turns to hit a data recipe. Acceptance rate per
    * stratum = min(1, target·N / n_lang) (downsampling only — a rate is a
    * probability), rounded to 6dp through DECIMAL before the md5 hash
    * gate so every engine and every cluster size makes the same
    * keep/drop decision per document. Shape: one |langs| aggregate, a
    * broadcast of the rate table, one gated scan — the corpus is read
    * once and never shuffled. */
  def q75MixtureTarget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.count() // control scalar (|corpus|)
    val target = when(col("lang") === "en", 0.5).otherwise(0.125)
    val rates = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_src"))
      .withColumn("rate",
        least(lit(1.0), round(((target * n.toDouble) / col("n_src").cast("double"))
          .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
          .cast("double")))
    val h4 = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("int")
    docs.join(broadcast(rates), Seq("lang"))
      .withColumn("accept", h4.cast("double") / 65536.0 < col("rate"))
      .groupBy(col("lang"), col("n_src"), col("rate"))
      .agg(sum(when(col("accept"), 1L).otherwise(0L)).as("n_sampled"))
      .orderBy(col("lang"))
  }

  val mixtureTargetOracle: String = {
    val nib = (i: Int) =>
      s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    s"""WITH c AS (SELECT lang, count(*) AS n_src FROM documents GROUP BY lang),
       |n AS (SELECT count(*) AS n FROM documents),
       |r AS (
       |  SELECT lang, n_src,
       |    least(1.0, CAST(round(CAST(
       |      ((CASE WHEN lang = 'en' THEN 0.5 ELSE 0.125 END) * n) / CAST(n_src AS DOUBLE)
       |      AS DECIMAL(28,12)), 6) AS DOUBLE)) AS rate
       |  FROM c CROSS JOIN n)
       |SELECT lang, n_src, rate,
       |  CAST(sum(CASE WHEN CAST(${nib(1)}*4096 + ${nib(2)}*256 + ${nib(3)}*16 + ${nib(4)} AS DOUBLE) / 65536.0 < rate
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
       |FROM documents JOIN r USING (lang)
       |GROUP BY lang, n_src, rate ORDER BY lang""".stripMargin
  }

  /** q78 — boilerplate-gram ratio (the C4/RefinedWeb cleanup signal): a
    * word bigram is "boilerplate" when it appears in ≥ 5% of all documents;
    * score each doc by the fraction of its distinct bigrams that are
    * boilerplate. Scale shape: one (doc, gram) explode feeds both the
    * doc-frequency aggregate (gram-keyed, vocabulary²-bounded) and the
    * probe side of the gram-keyed recombine join — the q70 TF-IDF topology
    * with n-grams, and the same stop-gram-skew note: AQE splits the hot
    * probe partitions, and a max-df cut is the escape hatch. */
  val BoilerDfPct = 5 // gram is boilerplate when df * (100/pct) >= N

  private def bigrams(t: Column): Column =
    when(size(t) >= 2,
      array_distinct(transform(sequence(lit(1), size(t) - 1), i =>
        concat_ws(" ", element_at(t, i), element_at(t, i + 1)))))
      .otherwise(typedLit(Array.empty[String]))

  def q78BoilerplateRatio(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.count() // control scalar: |corpus|
    // tokens MUST be a bound column before the bigram HOF: an inlined
    // split() re-tokenizes the doc inside every element_at of the
    // interpreted lambda (~2 regex splits per bigram — measured 10× the
    // whole query's cost at sf0.1)
    val g = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(bigrams(col("t"))).as("gram"))
      .localCheckpoint(eager = false) // feeds DF agg + probe side once
    val boiler = g.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") * (100L / BoilerDfPct) >= n)
      .select(col("gram"), lit(1).as("__b"))
    g.join(boiler, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
           sum(when(col("__b").isNotNull, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        when(col("n_grams") > 0,
          round((col("n_boiler").cast("double") / col("n_grams").cast("double"))
            .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
            .cast("double")))
      .orderBy(col("doc_id"))
  }

  val boilerplateOracle: String =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |           FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |        range(1, greatest(len(t), 1)), i -> t[i] || ' ' || t[i+1]))) AS gram
       |      FROM t WHERE len(t) >= 2),
       |df AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
       |n AS (SELECT count(*) AS n FROM documents),
       |b AS (SELECT gram FROM df CROSS JOIN n
       |      WHERE df * ${100 / BoilerDfPct} >= n)
       |SELECT g.doc_id, count(*) AS n_grams, count(b.gram) AS n_boiler,
       |  CASE WHEN count(*) > 0 THEN
       |    CAST(round(CAST(CAST(count(b.gram) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |         AS DECIMAL(28,12)), 6) AS DOUBLE) END AS boiler_frac
       |FROM g LEFT JOIN b ON g.gram = b.gram
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  /** q79 — sliding token-window chunking (context-window preparation):
    * cut every document into `ChunkLen`-token windows advancing by
    * `ChunkStride` (50% overlap), emitting each chunk's offset, length,
    * and content hash. Pure per-row fan-out — `sequence` + `posexplode` +
    * `slice`, no shuffle at all; at 100 TB this is one codegen'd scan whose
    * output is ~2× the input tokens (the overlap factor), streamed straight
    * to the sink. */
  val ChunkLen = 32
  val ChunkStride = 16

  def q79ChunkWindows(spark: SparkSession, dir: String): DataFrame = {
    val t = TextOps.tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), t.as("t"))
      .select(col("doc_id"), col("t"),
        posexplode(sequence(lit(0), size(col("t")) - 1, lit(ChunkStride)))
          .as(Seq("chunk_idx", "chunk_start")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_start").cast("long").as("chunk_start"),
        size(slice(col("t"), col("chunk_start") + 1, lit(ChunkLen)))
          .cast("long").as("n_tok"),
        md5(concat_ws(" ",
          slice(col("t"), col("chunk_start") + 1, lit(ChunkLen))))
          .as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  val chunkWindowsOracle: String =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |           FROM documents),
       |c AS (SELECT doc_id, unnest(range(0, len(t), $ChunkStride)) AS chunk_start, t
       |      FROM t)
       |SELECT doc_id, CAST(chunk_start // $ChunkStride AS BIGINT) AS chunk_idx,
       |  CAST(chunk_start AS BIGINT) AS chunk_start,
       |  CAST(len(list_slice(t, chunk_start + 1, chunk_start + $ChunkLen)) AS BIGINT) AS n_tok,
       |  md5(array_to_string(list_slice(t, chunk_start + 1, chunk_start + $ChunkLen), ' ')) AS chunk_hash
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------------
  // DSIR-shaped importance weighting (Xie et al. 2023 "Data Selection for
  // Language Models via Importance Resampling", public) — hashed n-gram
  // importance scores for domain-matched sampling, made DETERMINISTIC:
  // the published method scores log(p_target/p_raw) summed over hashed
  // n-gram features; log is libm (not bit-portable across engines), so —
  // the HLL precedent of dropping ln() — the score here is the mean
  // smoothed RATE RATIO over a doc's hashed-bigram occurrences, kept in
  // exact decimal end to end. Ratios are a monotone per-feature transform
  // of the same evidence: rank-faithful for resampling, bit-identical
  // everywhere.
  // ---------------------------------------------------------------------

  /** Hashed-feature space size. 1024 buckets ⇒ the per-bucket weight
    * table is a broadcast literal of 1024 rows at ANY corpus size — the
    * whole point of hashed DSIR: corpus-sized state never exists. */
  val DsirBuckets = 1024

  /** (doc_id, lang, f) occurrence stream: token bigrams (q73's bigram
    * convention) hashed into [[DsirBuckets]] via md5. */
  private def dsirOcc(spark: SparkSession, dir: String): DataFrame = {
    val t = TextOps.tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), t.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(1), size(col("t")) - 1), i =>
          concat(element_at(col("t"), i), lit(" "),
                 element_at(col("t"), i + 1)))).as("bg"))
      .select(col("doc_id"), col("lang"),
              (Sketches.h32(col("bg")) % DsirBuckets).as("f"))
  }

  /** Per-bucket importance weights: w_f = ((t_f+1)·(R+B)) /
    * ((T+B)·(r_f+1)) — add-one-smoothed target rate over raw rate,
    * decimal-routed at 6 decimals (exact DECIMAL(18,6) thereafter).
    * Totals come from windows over the 1024-row bucket relation (the
    * q47 bounded-window shape), so no driver job runs. */
  private def dsirWeights(occ: DataFrame): DataFrame = {
    val raw = occ.groupBy(col("f")).agg(count(lit(1)).as("r_f"))
    val tgt = occ.filter(col("lang") === "en")
      .groupBy(col("f")).agg(count(lit(1)).as("t_f"))
    raw.join(tgt, Seq("f"), "left")
      .withColumn("t_f", coalesce(col("t_f"), lit(0L)))
      .withColumn("rr", sum(col("r_f")).over(Window.partitionBy()))
      .withColumn("tt", sum(col("t_f")).over(Window.partitionBy()))
      .select(col("f"),
        round((((col("t_f") + 1) * (col("rr") + DsirBuckets)).cast("double") /
               ((col("tt") + DsirBuckets) * (col("r_f") + 1)).cast("double"))
                .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("w"))
  }

  /** q111 — DSIR importance scores: every doc scored as the mean bucket
    * weight over its bigram occurrences (target domain = lang 'en').
    * Scale: two passes over the occurrence stream (bucket counts, then
    * per-doc accumulation against the BROADCAST 1024-row weight table);
    * the corpus text itself is read once per pass and never shuffled —
    * only (doc_id, f) pairs aggregate. */
  /** Per-doc DSIR scores (doc_id, n_bigrams, dsir_score), unordered —
    * q111 reports it; the q116 funnel gates on the score. */
  def dsirScores(spark: SparkSession, dir: String): DataFrame = {
    val occ = dsirOcc(spark, dir).localCheckpoint()
    val w = dsirWeights(occ)
    occ.groupBy(col("doc_id"), col("f")).agg(count(lit(1)).as("c"))
      .join(broadcast(w), Seq("f"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("w")).as("s"), sum(col("c")).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        round((col("s").cast("double") / col("n_bigrams").cast("double"))
                .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
          .cast("double").as("dsir_score"))
  }

  def q111DsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirScores(spark, dir).orderBy(col("doc_id"))

  /** q112 — DSIR discrimination audit (the q89/q110 pattern): mean score
    * per language. The weighting is only useful if it separates the
    * target domain from the rest — this is the one-line readout that says
    * whether it does (en must sit on top; how far on top is the honest
    * measurement). */
  def q112DsirAudit(spark: SparkSession, dir: String): DataFrame = {
    val occ = dsirOcc(spark, dir).localCheckpoint()
    val w = dsirWeights(occ)
    occ.groupBy(col("doc_id"), col("lang"), col("f"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(w), Seq("f"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c") * col("w")).as("s"), sum(col("c")).as("n"))
      .select(col("lang"),
        round((col("s").cast("double") / col("n").cast("double"))
                .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("sc"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           round((sum(col("sc")).cast("double") / count(lit(1)).cast("double"))
                   .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
             .cast("double").as("mean_dsir"))
      .orderBy(col("lang"))
  }

  private val dsirPrologueSql: String =
    s"""tok AS (
       |  SELECT doc_id, lang, regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, lang,
       |         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
       |  FROM tok WHERE len(t) >= 2),
       |occ AS (
       |  SELECT doc_id, lang, (${Sketches.h32FromHexSql}) % $DsirBuckets AS f
       |  FROM (SELECT doc_id, lang, md5(bg) AS h FROM bg)),
       |raw AS (SELECT f, count(*) AS r_f FROM occ GROUP BY f),
       |tgt AS (SELECT f, count(*) AS t_f FROM occ WHERE lang = 'en' GROUP BY f),
       |wt AS (
       |  SELECT raw.f,
       |    CAST(round(CAST(
       |      CAST((coalesce(tgt.t_f, 0) + 1) * (sum(raw.r_f) OVER () + $DsirBuckets) AS DOUBLE) /
       |      CAST((sum(coalesce(tgt.t_f, 0)) OVER () + $DsirBuckets) * (raw.r_f + 1) AS DOUBLE)
       |      AS DECIMAL(28,12)), 6) AS DECIMAL(18,6)) AS w
       |  FROM raw LEFT JOIN tgt ON raw.f = tgt.f)""".stripMargin

  val dsirWeightsOracle: String =
    s"""WITH $dsirPrologueSql,
       |dc AS (SELECT doc_id, f, count(*) AS c FROM occ GROUP BY doc_id, f),
       |s AS (
       |  SELECT doc_id, sum(c * w) AS s, CAST(sum(c) AS BIGINT) AS n_bigrams
       |  FROM dc JOIN wt ON dc.f = wt.f GROUP BY doc_id)
       |SELECT doc_id, n_bigrams,
       |  CAST(round(CAST(CAST(s AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
       |       AS DECIMAL(28,12)), 6) AS DOUBLE) AS dsir_score
       |FROM s ORDER BY doc_id""".stripMargin

  val dsirAuditOracle: String =
    s"""WITH $dsirPrologueSql,
       |dc AS (SELECT doc_id, lang, f, count(*) AS c FROM occ GROUP BY doc_id, lang, f),
       |s AS (
       |  SELECT doc_id, lang,
       |    CAST(round(CAST(CAST(sum(c * w) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
       |         AS DECIMAL(28,12)), 6) AS DECIMAL(18,6)) AS sc
       |  FROM dc JOIN wt ON dc.f = wt.f GROUP BY doc_id, lang)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(round(CAST(CAST(sum(sc) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |       AS DECIMAL(28,12)), 6) AS DOUBLE) AS mean_dsir
       |FROM s GROUP BY lang ORDER BY lang""".stripMargin

  /** q117 — mixture DRIFT detector: per source, the total-variation
    * distance between its language distribution and the corpus-wide one
    * (TV = ½·Σ|p_lang|source − p_lang|). The recipe-monitoring readout a
    * mixture pipeline (q47/q52/q75) watches per ingest slice: TV == 0 ⇒
    * the slice reproduces the corpus mixture; TV → 1 ⇒ single-language
    * slice. KL needs log (libm) — TV is the portable drift metric (the
    * DSIR rate-ratio precedent), all rational arithmetic: each share
    * decimal-routed at 6, |diffs| summed exactly in decimal, halved by
    * an exact scale bump. Shape: one (source, lang) count aggregate +
    * windows over that |sources|·|langs| relation — corpus read once. */
  def q117MixtureDrift(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val counts = Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
    // dense (source × lang) grid: a missing lang in a source contributes
    // |0 − q_lang|, so the grid must be complete before the diff
    val grid = counts.select(col("source")).distinct()
      .crossJoin(counts.select(col("lang")).distinct())
    val full = grid.join(counts, Seq("source", "lang"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val shared = full
      .withColumn("n_src", sum(col("n")).over(
        Window.partitionBy(col("source"))))
      .withColumn("n_lang", sum(col("n")).over(
        Window.partitionBy(col("lang"))))
      .withColumn("n_all", sum(col("n")).over(Window.partitionBy()))
    val p = round((col("n").cast("double") / col("n_src").cast("double"))
                    .cast(dec), 6)
    val q = round((col("n_lang").cast("double") / col("n_all").cast("double"))
                    .cast(dec), 6)
    shared
      .withColumn("ad", abs(p - q))
      .groupBy(col("source"))
      // halve in double: the decimal sum casts exactly (≤ 7 sig digits)
      // and ×0.5 is a power-of-two scale — both engines agree bitwise,
      // unlike decimal÷int whose result scale is engine-specific
      .agg(max(col("n_src")).as("n_docs"),
           (sum(col("ad")).cast("double") * 0.5).as("tv_drift"))
      .select(col("source"), col("n_docs"), col("tv_drift"))
      .orderBy(col("source"))
  }

  val mixtureDriftOracle: String =
    """WITH counts AS (
      |  SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
      |grid AS (
      |  SELECT s.source, l.lang
      |  FROM (SELECT DISTINCT source FROM counts) s
      |  CROSS JOIN (SELECT DISTINCT lang FROM counts) l),
      |full_ AS (
      |  SELECT g.source, g.lang, coalesce(c.n, 0) AS n
      |  FROM grid g LEFT JOIN counts c ON g.source = c.source AND g.lang = c.lang),
      |shared AS (
      |  SELECT source, lang, n,
      |    sum(n) OVER (PARTITION BY source) AS n_src,
      |    sum(n) OVER (PARTITION BY lang) AS n_lang,
      |    sum(n) OVER () AS n_all
      |  FROM full_),
      |ads AS (
      |  SELECT source, n_src,
      |    abs(CAST(round(CAST(CAST(n AS DOUBLE) / CAST(n_src AS DOUBLE)
      |          AS DECIMAL(28,12)), 6) AS DECIMAL(28,6)) -
      |        CAST(round(CAST(CAST(n_lang AS DOUBLE) / CAST(n_all AS DOUBLE)
      |          AS DECIMAL(28,12)), 6) AS DECIMAL(28,6))) AS ad
      |  FROM shared)
      |SELECT source, CAST(max(n_src) AS BIGINT) AS n_docs,
      |       CAST(sum(ad) AS DOUBLE) * 0.5 AS tv_drift
      |FROM ads GROUP BY source ORDER BY source""".stripMargin

  /** q118 — bigram-LM DOCUMENT scoring: every doc scored by the mean
    * conditional continuation probability p(w2|w1) of its bigram
    * occurrences under the corpus bigram LM (q73's table, full — not
    * just the top continuation). This is the model-based quality proxy
    * of the CCNet/KenLM stage in public curation pipelines, made
    * deterministic: perplexity needs log (libm), so the score is the
    * mean probability — rank-faithful for filtering (the q111 rate-ratio
    * precedent), exact decimal end to end. Self-scored here (the LM is
    * built from the same corpus ⇒ the score reads within-corpus
    * typicality); production trains the table on a held split and the
    * operator is unchanged. Shape: bigram counts + head totals are one
    * aggregate each; docs join the LM table on the bigram key — a keyed
    * shuffle against vocab²-bounded state, never an all-pairs anything. */
  /** Per-doc mean continuation probability kept in exact DECIMAL(18,6) —
    * q118 renders it; q119 aggregates cohorts over it. */
  private[operators] def lmPerDoc(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val t = TextOps.tokens(col("text"))
    val occ = Tables.documents(spark, dir)
      .select(col("doc_id"), t.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - 1), i =>
          concat(element_at(col("t"), i), lit(" "),
                 element_at(col("t"), i + 1)))).as("bg"))
    val counts = occ.groupBy(col("bg")).agg(count(lit(1)).as("c12"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    val heads = counts.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val lm = counts.join(heads, Seq("w1"))
      .select(col("bg"),
        round((col("c12").cast("double") / col("c1").cast("double")).cast(dec), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("p"))
    occ.join(lm, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(sum(col("p")).as("s"), count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        round((col("s").cast("double") / col("n_bigrams").cast("double"))
                .cast(dec), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("lm6"))
  }

  def q118LmScore(spark: SparkSession, dir: String): DataFrame =
    lmPerDoc(spark, dir)
      .select(col("doc_id"), col("n_bigrams"),
              col("lm6").cast("double").as("lm_score"))
      .orderBy(col("doc_id"))

  val lmScoreOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
      |  FROM documents),
      |occ AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
      |  FROM tok WHERE len(t) >= 2),
      |counts AS (
      |  SELECT bg, str_split(bg, ' ')[1] AS w1, count(*) AS c12
      |  FROM occ GROUP BY bg),
      |heads AS (SELECT w1, sum(c12) AS c1 FROM counts GROUP BY w1),
      |lm AS (
      |  SELECT bg,
      |    CAST(round(CAST(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)
      |         AS DECIMAL(28,12)), 6) AS DECIMAL(18,6)) AS p
      |  FROM counts JOIN heads USING (w1)),
      |s AS (
      |  SELECT doc_id, sum(p) AS s, CAST(count(*) AS BIGINT) AS n_bigrams
      |  FROM occ JOIN lm USING (bg) GROUP BY doc_id)
      |SELECT doc_id, n_bigrams,
      |  CAST(round(CAST(CAST(s AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
      |       AS DECIMAL(28,12)), 6) AS DOUBLE) AS lm_score
      |FROM s ORDER BY doc_id""".stripMargin

  val packSequencesOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS start_offset
       |  FROM d)
       |SELECT doc_id, n_tokens, start_offset,
       |  start_offset // $PackSeqLen AS pack_id,
       |  start_offset % $PackSeqLen AS pos_in_pack,
       |  (start_offset + n_tokens - 1) // $PackSeqLen > start_offset // $PackSeqLen
       |    AS straddles
       |FROM c ORDER BY doc_id""".stripMargin

  /** q126 — chunk-level DUPLICATION profile: per document, how many of
    * its token chunks (q79's stride-[[ChunkStride]] windows) also appear
    * verbatim in at least one OTHER document. This is dedup at the
    * paragraph/span granularity of public pipelines (Dolma's paragraph
    * dedup, Soldaini et al. 2024) — document-level near-dup (q29) misses
    * shared boilerplate spans inside otherwise-distinct docs, and the
    * exact-substring pass (q105) works at token offsets; this is the
    * cheap hash-granular middle. Shape: the chunk relation carries only
    * (doc_id, chunk_hash); the cross-doc test is one countDistinct
    * aggregate keyed by hash (map-side combine) re-joined to the chunk
    * stream — hashes shuffle, text never does. The per-doc rollup is the
    * dedup-pressure readout a pipeline thresholds on (dup_frac ≥ x ⇒
    * drop or re-chunk). */
  def q126ChunkDupProfile(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val ch = q79ChunkWindows(spark, dir).select(col("doc_id"), col("chunk_hash"))
    val spread = ch.groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("docs_with"))
    ch.join(spread, Seq("chunk_hash"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
           sum(when(col("docs_with") > 1, 1L).otherwise(0L)).as("dup_chunks"))
      .withColumn("dup_frac6",
        round((col("dup_chunks").cast("double") / col("n_chunks").cast("double"))
                .cast(dec), 6).cast("double"))
      .orderBy(col("doc_id"))
  }

  val chunkDupProfileOracle: String =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |           FROM documents),
       |ch AS (
       |  SELECT doc_id,
       |    md5(array_to_string(list_slice(t, chunk_start + 1,
       |        chunk_start + $ChunkLen), ' ')) AS chunk_hash
       |  FROM (SELECT doc_id, unnest(range(0, len(t), $ChunkStride)) AS chunk_start, t
       |        FROM t)),
       |spread AS (
       |  SELECT chunk_hash, count(DISTINCT doc_id) AS docs_with
       |  FROM ch GROUP BY chunk_hash)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS dup_chunks,
       |  CAST(round(CAST(CAST(sum(CASE WHEN docs_with > 1 THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS DECIMAL(28,12)), 6)
       |    AS DOUBLE) AS dup_frac6
       |FROM ch JOIN spread USING (chunk_hash)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q123 — source NOVELTY curve: scanning sources in a deterministic
    * order (lexicographic name — any fixed acquisition order works the
    * same way), how many 3-gram shingles does each source contribute
    * that no earlier source has? This is the data-VALUE ordering a
    * curation pipeline uses to rank acquisitions (diminishing-returns
    * readout: a source whose shingles are all already covered adds no
    * lexical novelty — cf. the dedup-value framing in RefinedWeb,
    * Penedo et al. 2023). Shape: one explode + min-aggregate keyed by
    * shingle (map-side combine collapses each partition's repeats), then
    * a |sources|-row rollup; the cumulative window runs over that tiny
    * relation only (the q117 grid discipline — never the corpus). */
  def q123SourceNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the exploded (source, shingle) relation is the query's whole cost
    // (~20M rows at sf0.1); under the bench's persisted-postings flag it
    // materializes once and the steady-state runs re-read parquet instead
    // of re-running the shingle kernel per run. Flag off: the raw plan —
    // one consumer, so the explode streams straight into the partial agg.
    val ex = graft.Leaves.sharedOrInline(spark, s"novelty_postings:$dir",
                                         fanOutKey = Some("sh")) {
      docs.select(col("source"),
        explode(TextOps.shingles3(TextOps.tokens(col("text")))).as("sh"))
    }
    val firstSrc = ex.groupBy(col("sh")).agg(min(col("source")).as("source"))
    val novel = firstSrc.groupBy(col("source"))
      .agg(count(lit(1)).as("new_shingles"))
    docs.select(col("source")).distinct()
      .join(novel, Seq("source"), "left")
      .withColumn("new_shingles", coalesce(col("new_shingles"), lit(0L)))
      // global Window.orderBy(source) — bounded BY THE DIMENSION, not the
      // corpus: its input is the |sources|-row rollup (one row per source,
      // ~20 at any data scale), the q21/q60 bounded-dimension pattern.
      // ScaleSpec pins the single-partition exchange's input to ≤|sources|.
      .withColumn("cum_shingles",
        sum(col("new_shingles")).over(Window.orderBy(col("source"))))
      .orderBy(col("source"))
  }

  val sourceNoveltyOracle: String =
    s"""WITH ex AS (
       |  SELECT source, unnest(${TextOps.duckShingles}) AS sh
       |  FROM (SELECT source, regexp_split_to_array(lower(text), '\\s+') AS t
       |        FROM documents)),
       |first_src AS (SELECT sh, min(source) AS source FROM ex GROUP BY sh),
       |novel AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS new_shingles
       |  FROM first_src GROUP BY source)
       |SELECT s.source,
       |  CAST(coalesce(n.new_shingles, 0) AS BIGINT) AS new_shingles,
       |  CAST(sum(coalesce(n.new_shingles, 0))
       |    OVER (ORDER BY s.source) AS BIGINT) AS cum_shingles
       |FROM (SELECT DISTINCT source FROM documents) s
       |LEFT JOIN novel n USING (source)
       |ORDER BY s.source""".stripMargin

  /** q214 — shingle NOVELTY by QUALITY decile: q123's acquisition-value
    * curve re-ordered along the quality axis — scanning docs best-quality-
    * first, which decile contributes each distinct shingle first? The
    * readout answers the filtering-ablation question "do low-quality docs
    * carry any unique content, or is everything they add already present
    * in better copy?" (the RefinedWeb §4 style dedup-vs-filter interplay):
    * a fat new_shingles tail in deciles 8-9 means aggressive quality
    * cutoffs destroy lexical coverage; a thin one means they're free.
    *
    * Scale: JOIN-FREE on the corpus side. The rank is two-phase
    * ([[PrefixSum.globalRankBy]]) over the NARROW (doc_id, s_q) relation
    * only; from it we collect just the 9 decile-boundary ORDER STATISTICS
    * (the (s_q, doc_id) tuple at each rank ⌈k·n/10⌉+1 — 9 rows at ANY
    * corpus size), and each document's decile is recomputed inline on the
    * scan as "how many boundaries precede me" — 9 literal tuple
    * comparisons against the same [[TextOps.sQColumn]] score expression.
    * Nothing per-doc is ever broadcast (the round-7 shape broadcast the
    * |docs|-row decile relation — an 8 GB-ceiling cliff at 100× corpus);
    * documents' text never shuffles; the explode streams straight into
    * the min partial aggregate; the cumulative window runs on the 10-row
    * decile rollup only. */
  def q214NoveltyByQuality(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextOps.q35QualityScore(spark, dir)
      .select(col("doc_id"),
        expr("CAST(round(quality * 1000000.0) AS BIGINT)").as("s_q"))
      .localCheckpoint() // rank control jobs re-read this, not the scoring
    val stats = scored.agg(count(lit(1))).collect().head
    val nAll = stats.getLong(0)
    val ranked = PrefixSum.globalRankBy(scored, "s_q", asc = false, "rq")
    // decile(rq) = (10·(rq−1)) div n; boundary rank for decile k is
    // b_k = ⌈k·n/10⌉+1 (the first rank whose decile reaches k)
    val boundRanks = (1 to 9).map(k => (k * nAll + 9) / 10 + 1).filter(_ <= nAll)
    val boundRows = ranked.filter(col("rq").isin(boundRanks.map(Long.box): _*))
      .select(col("rq"), col("s_q"), col("doc_id")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val t = TextOps.tokens(col("text"))
    // Materialize the score ONCE per doc in its own projection: the 9
    // boundary predicates below each reference it, and CaseWhen branch
    // conditions are outside codegen subexpression elimination — inlining
    // the score expression 9× tripled the query (27.7 s vs 10 s measured).
    // CollapseProject won't re-inline a non-trivial alias used 9 times.
    val pre = Tables.documentsWide(spark, dir)
      .select(col("doc_id"),
        TextOps.sQColumn(col("text"), t).as("__sq"),
        TextOps.shingles3(t).as("__shs"))
    // rank(rq) ≥ b_k  ⟺  the doc sorts at-or-after the boundary tuple in
    // (s_q DESC, doc_id ASC) order — rank is a bijection over that order
    val decileCol = boundRanks.map(boundRows).map { case (bSq, bId) =>
      when(col("__sq") < bSq ||
           (col("__sq") === bSq && col("doc_id") >= bId), 1L).otherwise(0L)
    }.foldLeft(lit(0L))(_ + _)
    // explode_OUTER: plain explode triggers InferFiltersFromGenerate, which
    // clones the whole shingle expression into a scan-level `size(..)>0 AND
    // isnotnull(..)` filter — 3× the heavy HOF per doc (measured 24.6 s vs
    // 8.2 s at sf0.1). Outer explode admits one null row per empty doc,
    // dropped by a cheap per-row filter the optimizer can't push through
    // the Generate.
    val ex = pre.select(decileCol.as("decile"), explode_outer(col("__shs")).as("sh"))
      .filter(col("sh").isNotNull)
    val firstDec = ex.groupBy(col("sh")).agg(min(col("decile")).as("decile"))
    val novel = firstDec.groupBy(col("decile"))
      .agg(count(lit(1)).as("new_shingles"))
    ranked.select(expr(s"(10 * (rq - 1)) DIV ${nAll}L").as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("n_docs"))
      .join(novel, Seq("decile"), "left")
      .withColumn("new_shingles", coalesce(col("new_shingles"), lit(0L)))
      // 10-row dimension window — the q123/q21 bounded pattern
      .withColumn("cum_shingles",
        sum(col("new_shingles")).over(Window.orderBy(col("decile"))))
      .orderBy(col("decile"))
  }

  val noveltyByQualityOracle: String = {
    val qual = TextOps.qualityOracle
    s"""WITH q AS (
       |  SELECT doc_id, CAST(round(quality * 1000000.0) AS BIGINT) AS s_q
       |  FROM ($qual)),
       |r AS (
       |  SELECT doc_id,
       |    (10 * (row_number() OVER (ORDER BY s_q DESC, doc_id) - 1))
       |      // (SELECT count(*) FROM q) AS decile
       |  FROM q),
       |ex AS (
       |  SELECT r.decile, sh FROM (
       |    SELECT doc_id, unnest(${TextOps.duckShingles}) AS sh
       |    FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |          FROM documents)) e
       |  JOIN r USING (doc_id)),
       |fs AS (SELECT sh, min(decile) AS decile FROM ex GROUP BY sh),
       |novel AS (
       |  SELECT decile, CAST(count(*) AS BIGINT) AS new_shingles
       |  FROM fs GROUP BY decile),
       |docs AS (
       |  SELECT decile, CAST(count(*) AS BIGINT) AS n_docs FROM r GROUP BY decile)
       |SELECT d.decile, d.n_docs,
       |  CAST(coalesce(n.new_shingles, 0) AS BIGINT) AS new_shingles,
       |  CAST(sum(coalesce(n.new_shingles, 0))
       |    OVER (ORDER BY d.decile) AS BIGINT) AS cum_shingles
       |FROM docs d LEFT JOIN novel n USING (decile)
       |ORDER BY d.decile""".stripMargin
  }

  /** q131 — per-language PERPLEXITY BUCKETS (CCNet, Wenzek et al. 2020
    * §4.3): split each language's scored docs into head/middle/tail
    * tertiles by the q118 LM score (higher = more fluent), the bucketing
    * public pipelines use to keep the head, sample the middle, and drop
    * the tail. Boundaries are INTEGER-exact and tie-safe: a doc's bucket
    * depends only on r_hi = #(strictly better scores in its language) —
    * head iff 3·r_hi < n, middle iff 3·r_hi < 2n, else tail — so equal
    * scores always share a bucket and no float quantile is involved.
    * Shape: the corpus aggregates once to a (lang, score) GRID (≤ 1e6·
    * score-range rows per lang — the 6-decimal score lattice, not the
    * corpus); ranking windows run per-lang on the grid (the q117 grid
    * discipline), and the corpus itself never enters a window. Bucket
    * means stay exact: Σscore is a DECIMAL(18,6) sum whose scaled value
    * is far below 2^53, so the final double cast is exact in both
    * engines (the q118 magnitude argument). */
  def q131PerplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val scored = lmPerDoc(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
            Seq("doc_id"))
    val grid = scored.groupBy(col("lang"), col("lm6"))
      .agg(count(lit(1)).as("c"), sum(col("lm6")).as("ssum"))
    val wLang = Window.partitionBy(col("lang"))
    val wOrd = Window.partitionBy(col("lang")).orderBy(col("lm6").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("n", sum(col("c")).over(wLang))
      .withColumn("r_hi", sum(col("c")).over(wOrd) - col("c"))
      .withColumn("bucket",
        when(col("r_hi") * 3 < col("n"), "head")
          .when(col("r_hi") * 3 < col("n") * 2, "middle")
          .otherwise("tail"))
      .groupBy(col("lang"), col("bucket"))
      .agg(sum(col("c")).as("n_docs"),
           min(col("lm6")).cast("double").as("lo6"),
           max(col("lm6")).cast("double").as("hi6"),
           round((sum(col("ssum")).cast("double") /
                  sum(col("c")).cast("double")).cast(dec), 6)
             .cast("double").as("mean6"))
      .orderBy(col("lang"), col("bucket"))
  }

  val perplexityBucketsOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
      |  FROM documents),
      |occ AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
      |  FROM tok WHERE len(t) >= 2),
      |counts AS (
      |  SELECT bg, str_split(bg, ' ')[1] AS w1, count(*) AS c12
      |  FROM occ GROUP BY bg),
      |heads AS (SELECT w1, sum(c12) AS c1 FROM counts GROUP BY w1),
      |lm AS (
      |  SELECT bg,
      |    CAST(round(CAST(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)
      |         AS DECIMAL(28,12)), 6) AS DECIMAL(18,6)) AS p
      |  FROM counts JOIN heads USING (w1)),
      |s AS (
      |  SELECT doc_id, sum(p) AS sm, CAST(count(*) AS BIGINT) AS n_bigrams
      |  FROM occ JOIN lm USING (bg) GROUP BY doc_id),
      |scored AS (
      |  SELECT d.lang,
      |    CAST(round(CAST(CAST(sm AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
      |         AS DECIMAL(28,12)), 6) AS DECIMAL(18,6)) AS lm6
      |  FROM s JOIN documents d USING (doc_id)),
      |grid AS (
      |  SELECT lang, lm6, CAST(count(*) AS BIGINT) AS c,
      |         sum(lm6) AS ssum
      |  FROM scored GROUP BY lang, lm6),
      |rk AS (
      |  SELECT *,
      |    CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n,
      |    CAST(coalesce(sum(c) OVER (PARTITION BY lang ORDER BY lm6 DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS r_hi
      |  FROM grid),
      |b AS (
      |  SELECT *,
      |    CASE WHEN r_hi * 3 < n THEN 'head'
      |         WHEN r_hi * 3 < n * 2 THEN 'middle'
      |         ELSE 'tail' END AS bucket
      |  FROM rk)
      |SELECT lang, bucket, CAST(sum(c) AS BIGINT) AS n_docs,
      |  CAST(min(lm6) AS DOUBLE) AS lo6,
      |  CAST(max(lm6) AS DOUBLE) AS hi6,
      |  CAST(round(CAST(CAST(sum(ssum) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
      |       AS DECIMAL(28,12)), 6) AS DOUBLE) AS mean6
      |FROM b GROUP BY lang, bucket
      |ORDER BY lang, bucket""".stripMargin

  /** q134 — per-source KOLMOGOROV–SMIRNOV drift audit, integer-exact:
    * the DISTRIBUTIONAL counterpart to q117's categorical TV distance.
    * For each source, the two-sample KS statistic between its LM-score
    * distribution and the REST of the corpus — the standard
    * monitoring check that a new crawl/dump hasn't shifted quality
    * (cf. the per-dump drift findings in public corpus reports). No
    * float ECDF anywhere: at every grid score, |F_s − F_rest| =
    * |cum_s·n_g − cum_g·n_s| / (n_s·(n_g−n_s)) by cross-multiplication,
    * the numerator max is taken as an exact DECIMAL(38,0) (BIGINT
    * products overflow at 100 TB doc counts — the q127 route), and the
    * result is reported as KS·1e6 via integer division: bit-identical
    * at any scale and parallelism. Shape: the corpus aggregates once to
    * a (source × score-lattice) dense grid (the q117 grid idiom —
    * missing scores still carry their cumulative weight, so the grid
    * must be complete); every window runs on the grid, never the
    * corpus. */
  def q134KsDrift(spark: SparkSession, dir: String): DataFrame = {
    val scored = lmPerDoc(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
            Seq("doc_id"))
    val counts = scored.groupBy(col("source"), col("lm6"))
      .agg(count(lit(1)).as("c"))
    val grid = counts.select(col("source")).distinct()
      .crossJoin(counts.select(col("lm6")).distinct())
    val full = grid.join(counts, Seq("source", "lm6"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val wCum = Window.partitionBy(col("source")).orderBy(col("lm6"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    full
      .withColumn("cum_s", sum(col("c")).over(wCum))
      .withColumn("n_s", sum(col("c")).over(Window.partitionBy(col("source"))))
      .withColumn("cum_g", sum(col("cum_s")).over(Window.partitionBy(col("lm6"))))
      .withColumn("n_g", sum(col("c")).over(Window.partitionBy()))
      .withColumn("num",
        expr("abs(CAST(cum_s AS DECIMAL(38,0)) * n_g - CAST(cum_g AS DECIMAL(38,0)) * n_s)"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_docs"),
           max(col("num")).as("maxnum"),
           max(col("n_g")).as("n_g"))
      // single-source corpus: n_g == n_docs makes the divisor 0 (and the
      // numerator is identically 0 — rest-of-corpus is empty, drift is
      // undefined); pin ks_ppm = 0 in BOTH engines rather than letting
      // Spark yield NULL where DuckDB raises a division error
      .withColumn("ks_ppm",
        expr("CAST(CASE WHEN n_g = n_docs THEN 0 ELSE maxnum * 1000000 DIV (CAST(n_docs AS DECIMAL(38,0)) * (n_g - n_docs)) END AS BIGINT)"))
      .select(col("source"), col("n_docs"), col("ks_ppm"))
      .orderBy(col("source"))
  }

  val ksDriftOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
      |  FROM documents),
      |occ AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
      |  FROM tok WHERE len(t) >= 2),
      |counts0 AS (
      |  SELECT bg, str_split(bg, ' ')[1] AS w1, count(*) AS c12
      |  FROM occ GROUP BY bg),
      |heads AS (SELECT w1, sum(c12) AS c1 FROM counts0 GROUP BY w1),
      |lm AS (
      |  SELECT bg,
      |    CAST(round(CAST(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)
      |         AS DECIMAL(28,12)), 6) AS DECIMAL(18,6)) AS p
      |  FROM counts0 JOIN heads USING (w1)),
      |s AS (
      |  SELECT doc_id, sum(p) AS sm, CAST(count(*) AS BIGINT) AS n_bigrams
      |  FROM occ JOIN lm USING (bg) GROUP BY doc_id),
      |scored AS (
      |  SELECT d.source,
      |    CAST(round(CAST(CAST(sm AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
      |         AS DECIMAL(28,12)), 6) AS DECIMAL(18,6)) AS lm6
      |  FROM s JOIN documents d USING (doc_id)),
      |counts AS (
      |  SELECT source, lm6, CAST(count(*) AS BIGINT) AS c
      |  FROM scored GROUP BY source, lm6),
      |grid AS (
      |  SELECT s.source, v.lm6
      |  FROM (SELECT DISTINCT source FROM counts) s
      |  CROSS JOIN (SELECT DISTINCT lm6 FROM counts) v),
      |full_ AS (
      |  SELECT g.source, g.lm6, coalesce(c.c, 0) AS c
      |  FROM grid g LEFT JOIN counts c
      |    ON g.source = c.source AND g.lm6 = c.lm6),
      |stats AS (
      |  SELECT source, lm6, c,
      |    CAST(sum(c) OVER (PARTITION BY source ORDER BY lm6
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_s,
      |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n_s,
      |    CAST(sum(c) OVER () AS BIGINT) AS n_g
      |  FROM full_),
      |gcum AS (
      |  SELECT *,
      |    CAST(sum(cum_s) OVER (PARTITION BY lm6) AS BIGINT) AS cum_g
      |  FROM stats),
      |nums AS (
      |  SELECT source, n_s, n_g,
      |    abs(CAST(cum_s AS HUGEINT) * n_g - CAST(cum_g AS HUGEINT) * n_s)
      |      AS num
      |  FROM gcum)
      |SELECT source, CAST(max(n_s) AS BIGINT) AS n_docs,
      |  CAST(CASE WHEN max(n_g) = max(n_s) THEN 0
      |       ELSE max(num) * 1000000 //
      |            (CAST(max(n_s) AS HUGEINT) * (max(n_g) - max(n_s))) END
      |    AS BIGINT) AS ks_ppm
      |FROM nums GROUP BY source
      |ORDER BY source""".stripMargin

  /** q135 — VOCABULARY COVERAGE / OOV curve: token-occurrence coverage
    * of the top-k vocabulary at log-spaced k, the readout that picks a
    * tokenizer vocab size (coverage_ppm at k, oov_ppm = the mass a
    * k-entry vocab would shatter into unknowns/bytes). Integer-exact:
    * coverage = cum(k)·1e6 DIV T with the product routed DECIMAL(38,0)/
    * HUGEINT (T·1e6 overflows BIGINT at 100 TB token counts). Shape:
    * one token-count aggregate (map-side combined); the top-128 head is
    * taken by orderBy+limit — TakeOrderedAndProject, per-partition
    * heaps, NO global window over the vocab — and the only windows run
    * on that ≤128-row head relation; the k-grid joins against the head
    * as a broadcast. */
  def q135VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val tot = tf.agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
    val wHead = Window.partitionBy().orderBy(col("c").desc, col("token"))
    val ranked = tf.orderBy(col("c").desc, col("token")).limit(128)
      .withColumn("r", row_number().over(wHead).cast("long"))
      .withColumn("cum", sum(col("c")).over(
        wHead.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ks = spark.range(1)
      .select(explode(array((0 to 7).map(i => lit(1L << i)): _*)).as("k"))
    ks.crossJoin(broadcast(tot))
      .join(broadcast(ranked), col("r") <= col("k"), "left")
      .groupBy(col("k"), col("t"), col("v"))
      .agg(coalesce(max(col("cum")), lit(0L)).as("cov"))
      .withColumn("vocab_k", least(col("k"), col("v")))
      .withColumn("coverage_ppm",
        expr("CAST(CAST(cov AS DECIMAL(38,0)) * 1000000 DIV t AS BIGINT)"))
      .withColumn("oov_ppm", lit(1000000L) - col("coverage_ppm"))
      .select(col("k"), col("vocab_k"), col("coverage_ppm"), col("oov_ppm"))
      .orderBy(col("k"))
  }

  val vocabCoverageOracle: String =
    """WITH tf AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token
      |        FROM documents)
      |  GROUP BY token),
      |tot AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v
      |  FROM tf),
      |ranked AS (
      |  SELECT token, c,
      |    CAST(row_number() OVER (ORDER BY c DESC, token) AS BIGINT) AS r
      |  FROM tf ORDER BY c DESC, token LIMIT 128),
      |cum AS (
      |  SELECT r,
      |    CAST(sum(c) OVER (ORDER BY r
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum
      |  FROM ranked),
      |ks AS (SELECT CAST(unnest([1,2,4,8,16,32,64,128]) AS BIGINT) AS k)
      |SELECT k, least(k, v) AS vocab_k,
      |  CAST(CAST(coalesce(max(cum), 0) AS HUGEINT) * 1000000 // t AS BIGINT)
      |    AS coverage_ppm,
      |  1000000 - CAST(CAST(coalesce(max(cum), 0) AS HUGEINT) * 1000000 // t
      |    AS BIGINT) AS oov_ppm
      |FROM ks CROSS JOIN tot LEFT JOIN cum ON cum.r <= k
      |GROUP BY k, t, v
      |ORDER BY k""".stripMargin

  /** q137 — PACKING INTEGRITY audit: the q82/q88 audit standard applied
    * to the q68 sequence packer. Every doc's token span is split across
    * the packs it overlaps ([start, start+n) against the 2048-token
    * slot grid), and per pack the audit reports docs starting, docs
    * touching, and the exact token fill. The laws a dataloader depends
    * on fall out as checkable facts: contiguous greedy packing leaves
    * NO internal gaps (fill == 2048 for every pack but the last) and
    * conserves tokens exactly (Σfill == Σn_tokens) — both pinned by
    * Round4cSpec. Shape: the span explode emits 1 + n_tokens/2048 rows
    * per doc (≈1 for normal docs), then one pack-keyed aggregate of
    * small integer rows; nothing re-tokenizes and no window runs. */
  def q137PackAudit(spark: SparkSession, dir: String): DataFrame = {
    val L = PackSeqLen
    q68PackSequences(spark, dir)
      .withColumn("last_pack", expr(s"(start_offset + n_tokens - 1) DIV $L"))
      // n_tokens == 0 would make last_pack < pack_id, and Spark's sequence()
      // counts DOWN for descending bounds (phantom packs, negative overlap)
      // while DuckDB's range() yields empty — the shingles3 trap. Today's
      // tokenizer never emits 0 tokens (split('\s+') is never empty), but
      // the guard must not depend on that: drop zero-token docs, matching
      // the oracle's empty-range behavior.
      .filter(col("n_tokens") >= 1)
      .withColumn("p", explode(sequence(col("pack_id"), col("last_pack"))))
      .withColumn("ov",
        least(col("start_offset") + col("n_tokens"), (col("p") + 1) * L) -
          greatest(col("start_offset"), col("p") * L))
      .groupBy(col("p"))
      .agg(sum(when(col("pack_id") === col("p"), 1L).otherwise(0L))
             .as("n_docs_starting"),
           count(lit(1)).as("n_docs_touching"),
           sum(col("ov")).as("fill_tokens"))
      .select(col("p").as("pack_id"), col("n_docs_starting"),
              col("n_docs_touching"), col("fill_tokens"))
      .orderBy(col("pack_id"))
  }

  val packAuditOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS start_offset
       |  FROM d),
       |spans AS (
       |  SELECT start_offset, n_tokens,
       |    start_offset // $PackSeqLen AS first_pack,
       |    (start_offset + n_tokens - 1) // $PackSeqLen AS last_pack
       |  FROM c),
       |ex AS (
       |  SELECT start_offset, n_tokens, first_pack,
       |    unnest(range(first_pack, last_pack + 1)) AS p
       |  FROM spans),
       |ov AS (
       |  SELECT p, first_pack,
       |    least(start_offset + n_tokens, (p + 1) * $PackSeqLen) -
       |      greatest(start_offset, p * $PackSeqLen) AS ov
       |  FROM ex)
       |SELECT CAST(p AS BIGINT) AS pack_id,
       |  CAST(sum(CASE WHEN first_pack = p THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_docs_starting,
       |  CAST(count(*) AS BIGINT) AS n_docs_touching,
       |  CAST(sum(ov) AS BIGINT) AS fill_tokens
       |FROM ov GROUP BY p
       |ORDER BY pack_id""".stripMargin

  // ---------------------------------------------------------------------
  // q161 — duplicate-segment REMOVAL with document reassembly: the
  // REWRITE stage q126 only reports. C4 (Raffel et al. 2020 §2.2)
  // discards all but one occurrence of any three-sentence span repeated
  // in the corpus; Dolma's paragraph dedup (Soldaini et al. 2024) is the
  // same rule at paragraph granularity. The fixture corpus has no
  // sentence/paragraph marks, so the span grid is the deterministic
  // non-overlapping SegDedupLen-token segmentation (the q79 grid with
  // stride = length — overlap would make removal ill-defined).
  // Keeper rule: the lexicographically first (doc_id, seg_idx)
  // occurrence of each distinct segment survives; every other occurrence
  // (cross-doc AND within-doc) is cut, and each document's text is
  // rebuilt from its surviving segments in original order.
  // ---------------------------------------------------------------------

  /** Non-overlapping segment length for the q161 rewrite. */
  val SegDedupLen = 16

  /** q161 — per-source rewrite report: segment counts before/after the
    * cut plus md5 min/max/distinct fingerprints of the REBUILT texts —
    * the q145 byte-parity discipline: one divergent byte in any
    * reassembled document anywhere fails the oracle.
    *
    * Scale: the dedup relation is (doc_id, seg_idx, 32-char hash) — text
    * never enters the winner aggregate's exchange. The keeper set comes
    * back to each document as a doc_id-keyed join of a per-doc sorted
    * index list (bounded by the doc's own segment count), and the
    * rebuild is a pure map over the document's token array: flatten the
    * kept slices in index order. The final report is one
    * partial-aggregated groupBy(source). */
  def q161SegDedupRewrite(spark: SparkSession, dir: String): DataFrame = {
    val L = SegDedupLen
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("t"))
    // narrow segment relation: (doc_id, seg_idx, seg_hash)
    val segs = docs
      .select(col("doc_id"),
        posexplode(sequence(lit(0), size(col("t")) - 1, lit(L)))
          .as(Seq("seg_idx", "seg_start")),
        col("t"))
      .select(col("doc_id"), col("seg_idx").cast("long").as("seg_idx"),
        md5(concat_ws(" ", slice(col("t"), col("seg_start") + 1, lit(L))))
          .as("h"))
    // first global occurrence per distinct segment (integer-encoded key:
    // seg_idx < 100000 by construction — docs are far shorter)
    val winner = segs
      .groupBy(col("h"))
      .agg(min(col("doc_id") * 100000L + col("seg_idx")).as("wk"))
    val kept = segs.join(winner, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
           sort_array(collect_list(
             when(col("doc_id") * 100000L + col("seg_idx") === col("wk"),
                  col("seg_idx")))).as("keep_idx"))
    val rebuilt = docs.join(kept, Seq("doc_id"))
      .withColumn("rebuilt",
        array_join(flatten(transform(col("keep_idx"),
          i => slice(col("t"), i * L + 1, lit(L)))), " "))
      .select(col("doc_id"), col("source"), col("n_segs"),
              size(col("keep_idx")).cast("long").as("kept_segs"),
              md5(col("rebuilt")).as("rh"))
    rebuilt.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_segs")).as("n_segs"),
           sum(col("kept_segs")).as("kept_segs"),
           (sum(col("n_segs")) - sum(col("kept_segs"))).as("dropped_segs"),
           countDistinct(col("rh")).as("distinct_rebuilt"),
           min(col("rh")).as("min_rh"), max(col("rh")).as("max_rh"))
      .orderBy(col("source"))
  }

  val segDedupRewriteOracle: String =
    s"""WITH t AS (SELECT doc_id, source,
       |             regexp_split_to_array(lower(text), '\\s+') AS t
       |           FROM documents),
       |seg AS (
       |  SELECT doc_id, st // $SegDedupLen AS seg_idx,
       |    md5(array_to_string(
       |      list_slice(t, st + 1, st + $SegDedupLen), ' ')) AS h
       |  FROM (SELECT doc_id, t, unnest(range(0, len(t), $SegDedupLen)) AS st
       |        FROM t)),
       |w AS (SELECT h, min(doc_id * 100000 + seg_idx) AS wk FROM seg GROUP BY h),
       |keep AS (
       |  SELECT seg.doc_id, seg.seg_idx,
       |    (seg.doc_id * 100000 + seg.seg_idx = w.wk) AS kept
       |  FROM seg JOIN w USING (h)),
       |reb AS (
       |  SELECT x.doc_id, string_agg(x.tok, ' ' ORDER BY x.pos) AS rebuilt
       |  FROM (SELECT doc_id, unnest(t) AS tok,
       |               unnest(range(1, len(t) + 1)) AS pos
       |        FROM t) x
       |  JOIN keep k
       |    ON k.doc_id = x.doc_id AND (x.pos - 1) // $SegDedupLen = k.seg_idx
       |   AND k.kept
       |  GROUP BY x.doc_id),
       |ks AS (
       |  SELECT doc_id, count(*) AS n_segs,
       |    sum(CASE WHEN kept THEN 1 ELSE 0 END) AS kept_segs
       |  FROM keep GROUP BY doc_id),
       |perdoc AS (
       |  SELECT t.doc_id, t.source, ks.n_segs, ks.kept_segs,
       |    md5(coalesce(reb.rebuilt, '')) AS rh
       |  FROM t JOIN ks USING (doc_id)
       |  LEFT JOIN reb ON reb.doc_id = t.doc_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_segs) AS BIGINT) AS n_segs,
       |  CAST(sum(kept_segs) AS BIGINT) AS kept_segs,
       |  CAST(sum(n_segs) - sum(kept_segs) AS BIGINT) AS dropped_segs,
       |  CAST(count(DISTINCT rh) AS BIGINT) AS distinct_rebuilt,
       |  min(rh) AS min_rh, max(rh) AS max_rh
       |FROM perdoc GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------------------------------------
  // q197 — MEMORIZATION-RISK probe (the Carlini'21/infini-gram lookup
  // shape): for each doc, the LONGEST suffix n-gram (n ∈ 2..5) that also
  // occurs in at least one OTHER document. A model that has seen a
  // training doc whose ending is corpus-frequent can complete it from
  // n-gram statistics alone; max_n = 0 means the ending is unique — the
  // completion would be genuine memorization, which is what extraction
  // audits probe with exactly this suffix-lookup primitive. Per-source
  // histogram of max_n.
  //
  // Scale: per n, one narrow (doc_id, hash(gram)) explode →
  // distinct-doc df (partial-aggregated) → ONE keyed join against the
  // |docs|-row suffix relation. No window, no pair join; gram text never
  // shuffles (md5 of it does).
  // -------------------------------------------------------------------------

  /** q197's probe lengths. */
  val MemNs: Seq[Int] = Seq(2, 3, 4, 5)

  /** q197 — per (source, max_n): doc counts. */
  def q197MemorizationProbe(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("t"))
      .withColumn("len", size(col("t")).cast("long"))
      .localCheckpoint() // consumed 2×|MemNs| times below
    val flags = MemNs.map { n =>
      val grams = d.filter(col("len") >= n)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), col("len") - (n - 1)), i =>
            md5(concat_ws(" ", slice(col("t"), i.cast("int"), lit(n)))))).as("g"))
        .distinct() // df counts DISTINCT docs
      val dfRel = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      d.filter(col("len") >= n)
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(col("t"), (col("len") - (n - 1)).cast("int"),
                                   lit(n)))).as("g"))
        .join(dfRel, "g")
        .filter(col("df") >= 2L) // the suffix also ends/appears elsewhere
        .select(col("doc_id"), lit(n.toLong).as("n"))
    }
    val best = flags.reduce(_.union(_))
      .groupBy(col("doc_id")).agg(max(col("n")).as("max_n"))
    d.select(col("doc_id"), col("source"))
      .join(best, Seq("doc_id"), "left")
      .select(col("source"), coalesce(col("max_n"), lit(0L)).as("max_n"))
      .groupBy(col("source"), col("max_n"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("max_n"))
  }

  val memorizationProbeOracle: String = {
    val legs = MemNs.map { n =>
      s"""SELECT s.doc_id, $n AS n
         |FROM (
         |  SELECT doc_id, md5(array_to_string(wr[len(wr)-${n - 1}:len(wr)], ' ')) AS g
         |  FROM t WHERE len(wr) >= $n) s
         |JOIN (
         |  SELECT g, count(*) AS df FROM (
         |    SELECT DISTINCT doc_id,
         |      unnest([md5(array_to_string(wr[i:i+${n - 1}], ' '))
         |              for i in range(1, len(wr)-${n - 2})]) AS g
         |    FROM t WHERE len(wr) >= $n)
         |  GROUP BY g) f ON f.g = s.g
         |WHERE f.df >= 2""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH t AS (
       |  SELECT doc_id, source, regexp_split_to_array(lower(text), '\\s+') AS wr
       |  FROM documents),
       |flags AS (
       |$legs),
       |best AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS max_n
       |         FROM flags GROUP BY doc_id)
       |SELECT d.source, CAST(coalesce(b.max_n, 0) AS BIGINT) AS max_n,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |FROM (SELECT doc_id, source FROM t) d
       |LEFT JOIN best b ON b.doc_id = d.doc_id
       |GROUP BY d.source, coalesce(b.max_n, 0)
       |ORDER BY source, max_n""".stripMargin
  }

  // -------------------------------------------------------------------------
  // q202 — CONTRASTIVE pre-training PAIR construction (the SimCSE/ICT
  // "inverse cloze" data shape): each doc splits into fixed 64-token
  // chunks and every ADJACENT chunk pair is a positive (nearby text is
  // topically coherent — the standard self-supervised positive without a
  // model). The readout is the per-source pair economics + md5 pair
  // fingerprints, so equality proves both engines constructed the exact
  // same byte-level pairs, not merely the same counts.
  //
  // Scale: pure per-row map (chunk hashes + adjacent-pair hashes computed
  // inside one codegen'd transform — no self-join for adjacency) + one
  // rare explode of the pair hashes + partial-aggregated groupBys.
  // -------------------------------------------------------------------------

  /** q202's chunk width in tokens. */
  val PairChunk = 64

  /** q202 — per source: docs, multi-chunk docs, pairs, distinct pairs,
    * byte-parity min/max pair fingerprints. */
  def q202ContrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    val W = PairChunk
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("t"))
      .withColumn("len", size(col("t")).cast("long"))
      .withColumn("nc", expr("(len + 63) DIV 64"))
      .withColumn("chunks", expr(
        s"transform(sequence(0L, nc - 1), i -> md5(concat_ws(' ', slice(t, CAST(i*$W + 1 AS INT), $W))))"))
      // guard: sequence(0, -1) would DESCEND; single-chunk docs pair nothing
      .withColumn("pairs", when(col("nc") >= 2L, expr(
        "transform(sequence(0L, nc - 2), i -> md5(concat(chunks[CAST(i AS INT)], chunks[CAST(i + 1 AS INT)])))"))
        .otherwise(expr("CAST(array() AS ARRAY<STRING>)")))
    val perSrc = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nc") >= 2L, 1L).otherwise(0L)).as("n_multi"),
        sum(when(col("nc") >= 2L, col("nc") - 1L).otherwise(0L)).as("n_pairs"))
    val fp = d.select(col("source"), explode(col("pairs")).as("ph"))
      .groupBy(col("source"))
      .agg(countDistinct(col("ph")).as("distinct_pairs"),
           min(col("ph")).as("min_pair_md5"),
           max(col("ph")).as("max_pair_md5"))
    perSrc.join(fp, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_multi"), col("n_pairs"),
        coalesce(col("distinct_pairs"), lit(0L)).as("distinct_pairs"),
        col("min_pair_md5"), col("max_pair_md5"))
      .orderBy(col("source"))
  }

  val contrastivePairsOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, regexp_split_to_array(lower(text), '\\s+') AS wr,
       |    CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS len
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, len, (len + 63) // 64 AS nc,
       |    [md5(array_to_string(wr[i*$PairChunk+1 : least((i+1)*$PairChunk, len)], ' '))
       |     for i in range(0, (len + 63) // 64)] AS chunks
       |  FROM t),
       |p AS (
       |  SELECT doc_id, source, nc,
       |    [md5(chunks[i] || chunks[i+1]) for i in range(1, nc)] AS pairs
       |  FROM c),
       |agg AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN nc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
       |    CAST(sum(CASE WHEN nc >= 2 THEN nc - 1 ELSE 0 END) AS BIGINT) AS n_pairs
       |  FROM p GROUP BY source),
       |fp AS (
       |  SELECT source, CAST(count(DISTINCT ph) AS BIGINT) AS distinct_pairs,
       |    min(ph) AS min_pair_md5, max(ph) AS max_pair_md5
       |  FROM (SELECT source, unnest(pairs) AS ph FROM p)
       |  GROUP BY source)
       |SELECT a.source, a.n_docs, a.n_multi, a.n_pairs,
       |  CAST(coalesce(f.distinct_pairs, 0) AS BIGINT) AS distinct_pairs,
       |  f.min_pair_md5, f.max_pair_md5
       |FROM agg a LEFT JOIN fp f ON f.source = a.source
       |ORDER BY a.source""".stripMargin
}
