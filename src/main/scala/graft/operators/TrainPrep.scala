package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-run preparation operators — the last mile between a curated
  * corpus and a tokenizer/dataloader: deterministic epoch shuffling into
  * shards, integer quantization of embedding payloads, and padding-waste
  * accounting for static batch shapes. Shared discipline with the rest of
  * the corpus ops: md5 is the only randomness (reproducible at any
  * parallelism, across engines and epochs), and nothing ever windows or
  * sorts globally — every order is established within a shard/bucket
  * partition whose size is a knob, not a function of corpus size.
  */
object TrainPrep {

  /** Shard count. Local fixture value; at 100 TB this scales with the
    * fleet (shards ≈ writers × files-per-writer) — the plan shape is
    * unchanged: one hash shuffle, per-shard windows bounded by
    * corpus/NSHARDS rows. */
  private val NShards = 64
  private val Epoch = 1

  /** q104 — the end-to-end curation FUNNEL: every stage a user of this
    * library would chain between raw crawl and dataloader, composed from
    * the library's own operators, reporting survivor counts per stage:
    *
    *   0_all      → the raw corpus
    *   1_dedup    → exact-dedup survivors (q27's keeper rule: min doc_id
    *                per normalized-text md5)
    *   2_decon    → drop the benchmark docs themselves AND every training
    *                doc q67's n-gram decontamination flags (≥5 shared
    *                3-gram shingles with any eval doc)
    *   3_quality  → length gate n_chars ≥ 100 (the integral stand-in for
    *                the float q35 score, keeping the funnel exact-count)
    *   4_sample   → q44's deterministic md5-prefix mixture gate
    *                (en ~50%, others ~12.5%)
    *   5_packs    → number of 2048-token training sequences q68's packer
    *                would emit over the survivors: ceil(Σ tokens / 2048)
    *
    * Each stage filters the previous stage's survivors; all counts are
    * integers (no float anywhere), so the funnel is bit-stable at any
    * parallelism. The 100 TB story is inherited from the parts: one
    * window per text-hash group (dedup), the broadcast decontamination
    * probe, row-local gates, and one global sum for the pack count. */
  def q104CurationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val key = Dedup.normalizedTextKey(col("text"))
    val w = Window.partitionBy(col("k"))
    val dd = docs.withColumn("k", key)
      .withColumn("keep", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keep")).drop("k", "keep")
    // Count-gated broadcast (the q196 cap discipline): the contaminated
    // set scales with corpus–eval OVERLAP, not with the eval suite — a
    // heavily eval-duplicating crawl could make it O(corpus).
    val contamProbe = idProbe(Corpus.q67Decontaminate(spark, dir)
      .select(col("train_doc").as("doc_id")).distinct())
    val dc = dd.filter(col("doc_id") % 50 =!= 0)
      .join(contamProbe, Seq("doc_id"), "left_anti")
    val quality = dc.filter(col("n_chars") >= 100)
    val sampled = quality.filter(
      substring(md5(col("doc_id").cast("string")), 1, 2) <
        when(col("lang") === "en", "80").otherwise("20"))
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("stage"), col("n"))
    val packs = sampled
      .select(size(split(lower(col("text")), "\\s+")).cast("long").as("nt"))
      .agg((((sum(col("nt")) + lit(Corpus.PackSeqLen - 1)) / lit(Corpus.PackSeqLen))
        .cast("long")).as("n"))
      .select(lit("5_packs").as("stage"), col("n"))
    stage("0_all", docs)
      .unionAll(stage("1_dedup", dd))
      .unionAll(stage("2_decon", dc))
      .unionAll(stage("3_quality", quality))
      .unionAll(stage("4_sample", sampled))
      .unionAll(packs)
      .orderBy(col("stage"))
  }

  /** The oracle rebuilds the same funnel as chained CTEs over the SAME
    * stage definitions (q27 keeper rule, q67 decontamination core, q44
    * gate, q68 pack constant). */
  val curationFunnelOracle: String = {
    s"""WITH dd AS (
       |  SELECT doc_id, lang, n_chars, text FROM (
       |    SELECT doc_id, lang, n_chars, text,
       |      min(doc_id) OVER (PARTITION BY
       |        md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS keep
       |    FROM documents)
       |  WHERE doc_id = keep),
       |sh AS (
       |  SELECT doc_id, ${TextOps.duckShingles} AS s
       |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |        FROM documents)),
       |ev AS (SELECT doc_id AS eval_doc, unnest(s) AS g FROM sh WHERE doc_id % 50 = 0),
       |tr AS (SELECT doc_id AS train_doc, unnest(s) AS g FROM sh WHERE doc_id % 50 <> 0),
       |contaminated AS (
       |  SELECT DISTINCT train_doc FROM (
       |    SELECT train_doc, eval_doc, count(*) AS n_common
       |    FROM tr JOIN ev USING (g) GROUP BY train_doc, eval_doc
       |    HAVING count(*) >= ${Corpus.DecontamMinCommon})),
       |dc AS (
       |  SELECT * FROM dd WHERE doc_id % 50 <> 0
       |    AND doc_id NOT IN (SELECT train_doc FROM contaminated)),
       |quality AS (SELECT * FROM dc WHERE n_chars >= 100),
       |sampled AS (
       |  SELECT * FROM quality
       |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
       |        < (CASE WHEN lang = 'en' THEN '80' ELSE '20' END))
       |SELECT '0_all' AS stage, CAST(count(*) AS BIGINT) AS n FROM documents
       |UNION ALL SELECT '1_dedup', CAST(count(*) AS BIGINT) FROM dd
       |UNION ALL SELECT '2_decon', CAST(count(*) AS BIGINT) FROM dc
       |UNION ALL SELECT '3_quality', CAST(count(*) AS BIGINT) FROM quality
       |UNION ALL SELECT '4_sample', CAST(count(*) AS BIGINT) FROM sampled
       |UNION ALL SELECT '5_packs',
       |  CAST((sum(len(regexp_split_to_array(lower(text), '\\s+')))
       |        + ${Corpus.PackSeqLen - 1}) // ${Corpus.PackSeqLen} AS BIGINT)
       |  FROM sampled
       |ORDER BY stage""".stripMargin
  }

  /** q83 — deterministic epoch shuffle: every document gets a pseudorandom
    * but reproducible (shard, pos) slot for epoch N. The shuffle key is
    * md5(epoch:doc_id) — changing the epoch literal reshuffles the whole
    * corpus with zero state; re-running any subset of the cluster
    * reproduces identical slots (no RNG, no sampling, no collect). The
    * dataloader contract: readers consume shard files in `pos` order.
    * Fixed-width hex compares as its numeric value, so ordering by the
    * digest string IS ordering by the 128-bit integer. */
  def q83EpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val h = md5(concat(lit(s"$Epoch:"), col("doc_id").cast("string")))
    val shard = conv(substring(h, 1, 4), 16, 10).cast("long") % NShards
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), h.as("h"), shard.as("shard"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("doc_id"))
  }

  val epochShuffleOracle: String = {
    val nib = (i: Int) =>
      s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1)"
    s"""SELECT doc_id, shard, CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
       |FROM (SELECT doc_id, h,
       |        CAST(${nib(1)}*4096 + ${nib(2)}*256 + ${nib(3)}*16 + ${nib(4)} AS BIGINT) % $NShards AS shard
       |      FROM (SELECT doc_id, md5('$Epoch:' || CAST(doc_id AS VARCHAR)) AS h
       |            FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  /** q84 — symmetric int8 quantization of the embedding column (the
    * serving/training compression step: 4× smaller payload, dot products
    * in integer SIMD). Per vector: scale = max |x_i|; q_i =
    * floor(x_i·127/scale + 0.5) ∈ [−127,127]. `floor(t+0.5)` is the
    * cross-engine round-half-up (plain round() diverges: Spark HALF_UP,
    * DuckDB half-even — and quantization lands on exact halves
    * constantly). Emitted checks: the integer sum of |q_i| (exact on both
    * engines) and the reconstruction MSE (long-expansion double, safe to
    * round directly per the float convention). Pure per-row map — no
    * shuffle, whole-stage codegen, the 100 TB cost is one scan. */
  def q84QuantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    val xd = transform(col("embedding"), x => x.cast("double"))
    val scale = array_max(transform(col("v"), x => abs(x)))
    val q = transform(col("v"), x =>
      floor(x * lit(127.0) / col("scale") + lit(0.5)).cast("long"))
    val dq = transform(col("q"), qi =>
      qi.cast("double") * col("scale") / lit(127.0))
    val se = aggregate(zip_with(col("v"), col("dq"), (a, b) => (a - b) * (a - b)),
                       lit(0.0), (acc, e) => acc + e)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), xd.as("v"))
      .withColumn("scale", scale)
      .filter(col("scale") > 0)
      .withColumn("q", q)
      .withColumn("dq", dq)
      .select(col("vec_id"),
              col("scale"),
              aggregate(col("q"), lit(0L), (acc, qi) => acc + abs(qi)).as("sum_absq"),
              round(se / size(col("v")), 6).as("mse"))
      .orderBy(col("vec_id"))
  }

  val quantizeInt8Oracle: String =
    """SELECT vec_id, scale, sum_absq,
      |  round(list_reduce(list_prepend(0.0,
      |          list_transform(range(1, len(v)+1),
      |            i -> (v[i] - dq[i]) * (v[i] - dq[i]))),
      |        (acc, e) -> acc + e) / len(v), 6) AS mse
      |FROM (
      |  SELECT vec_id, v, scale,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(q, qi -> abs(qi))), (a, b) -> a + b) AS sum_absq,
      |    list_transform(q, qi -> CAST(qi AS DOUBLE) * scale / 127.0) AS dq
      |  FROM (
      |    SELECT vec_id, v, scale,
      |      list_transform(v, x -> CAST(floor(x * 127.0 / scale + 0.5) AS BIGINT)) AS q
      |    FROM (
      |      SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale
      |      FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |            FROM embeddings))
      |    WHERE scale > 0))
      |ORDER BY vec_id""".stripMargin

  /** Static batch shapes a dataloader actually allocates. */
  private val PadBuckets = Seq(16L, 32L, 64L, 128L)

  /** q85 — padding-waste accounting: assign each doc to the smallest
    * static sequence-length bucket that fits (long docs truncate into the
    * largest), then measure what fraction of every batch bucket is padding
    * vs truncation — the number that decides bucket boundaries for a
    * packing-free dataloader (q68 packs; this prices NOT packing). Integer
    * everywhere except the final ratio. One shuffle, |buckets| groups. */
  def q85PaddingWaste(spark: SparkSession, dir: String): DataFrame = {
    val n = size(TextOps.tokens(col("text"))).cast("long")
    val bucket = PadBuckets.reverse.tail
      .foldLeft(lit(PadBuckets.last): Column) { (acc, b) =>
        when(n <= b, lit(b)).otherwise(acc)
      }
    val pad = when(bucket >= n, bucket - n).otherwise(lit(0L))
    val trunc = when(n > bucket, n - bucket).otherwise(lit(0L))
    Tables.documents(spark, dir)
      .select(bucket.as("bucket"), n.as("n"), pad.as("pad"), trunc.as("trunc"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("pad")).as("pad_tokens"),
           sum(col("trunc")).as("trunc_tokens"))
      .withColumn("pad_ratio",
        // ratio of small integers: route through DECIMAL(28,12) before
        // round(…,6) — the half-case trap (Spark HALF_UP vs DuckDB
        // half-even) is reachable when bucket·n_docs has factors of 2^k·5^m
        round((col("pad_tokens").cast("double") /
               (col("bucket") * col("n_docs")).cast("double"))
                .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
          .cast("double"))
      .orderBy(col("bucket"))
  }

  val paddingWasteOracle: String = {
    val bucketSql = PadBuckets.init.reverse
      .foldLeft(s"CAST(${PadBuckets.last} AS BIGINT)") { (acc, b) =>
        s"CASE WHEN n <= $b THEN CAST($b AS BIGINT) ELSE $acc END"
      }
    s"""SELECT bucket, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN bucket >= n THEN bucket - n ELSE 0 END) AS BIGINT) AS pad_tokens,
       |  CAST(sum(CASE WHEN n > bucket THEN n - bucket ELSE 0 END) AS BIGINT) AS trunc_tokens,
       |  CAST(round(CAST(CAST(sum(CASE WHEN bucket >= n THEN bucket - n ELSE 0 END) AS DOUBLE)
       |        / CAST(bucket * count(*) AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE) AS pad_ratio
       |FROM (
       |  SELECT $bucketSql AS bucket, n
       |  FROM (SELECT CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS n
       |        FROM documents))
       |GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** Per-lang sample size for q116's fixed-size selection stage. */
  val FunnelV2SampleK = 30

  /** Broadcast ceiling for id-set probes (count-gated): 5M longs is a
    * ~200 MB HashedRelation — comfortably inside executor memory, two
    * orders under the 8 GB broadcast hard limit. Above it the same join
    * runs as a shuffle anti-join. */
  val MaxBroadcastIds = 5000000L

  /** Count-gated id-set probe: broadcast only while the set provably fits
    * under `cap`; above it, return the plain relation so the consuming
    * join shuffles instead of blowing the broadcast/driver ceiling. One
    * eager localCheckpoint feeds both the count and the join — the
    * upstream derivation runs once either way. */
  private[graft] def idProbe(ids: DataFrame,
                             cap: Long = MaxBroadcastIds): DataFrame = {
    val ck = ids.localCheckpoint()
    if (ck.count() <= cap) broadcast(ck) else ck
  }

  /** q116 — curation funnel v2, composing THIS round's additions the way
    * q104 composed the original stages (the "user of the library" story,
    * extended): rule REPORT gate (q113's per-doc flags — keep docs
    * failing no rule), DSIR domain selection (q111's score ≥ 1, i.e.
    * more target-like than the corpus average), exact dedup keeper
    * within the survivors (q27's rule), fixed-size per-lang priority
    * sample (q103's md5-rank rule at k=30), and the q68 pack count.
    * Integer counts at every stage; the oracle chains the SAME stage
    * definitions as CTEs.
    *
    * Scale: every stage is a column program or a PK semi-join; the only
    * window is the per-lang rank (WindowGroupLimit) and the per-hash
    * keeper min. Nothing broadcasts corpus-sized state — the funnel
    * composes at any SF. */
  def q116FunnelV2(spark: SparkSession, dir: String): DataFrame = {
    // ONE-PASS stage flags (round 14, guide §1.2 step 1 "don't compute
    // things you throw away"): the original union of six per-stage
    // aggregates recomputed the whole upstream chain per branch —
    // qualityFlags (a tokenize pass) and dsirScores (the bigram-scoring
    // pass) ran up to five times each. Each stage is now a boolean column
    // over ONE flagged relation and all six counts come from a single
    // aggregate. Stage semantics are value-identical:
    //  - the dedup keeper min runs over the same md5-normalized-text
    //    partitions with non-survivors nulled out (min skips nulls), so
    //    f2 rows see exactly the old r2-only minimum;
    //  - the per-lang sample rank is the running count of f3 rows in the
    //    same (md5(doc_id), doc_id) order — identical to row_number over
    //    the filtered relation (non-f3 rows contribute 0 and are ranked
    //    but never selected).
    val docs = Tables.documents(spark, dir)
    val pass = TextOps.qualityFlags(spark, dir)
      .filter(!col("f_any")).select(col("doc_id"), lit(true).as("p1"))
    val dsel = Corpus.dsirScores(spark, dir)
      .filter(col("dsir_score") >= 1.0).select(col("doc_id"), lit(true).as("p2"))
    val w = Window.partitionBy(Dedup.normalizedTextKey(col("text")))
    val rw = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val flagged = docs
      .join(pass, Seq("doc_id"), "left")
      .join(dsel, Seq("doc_id"), "left")
      .withColumn("f1", coalesce(col("p1"), lit(false)))
      .withColumn("f2", col("f1") && coalesce(col("p2"), lit(false)))
      .withColumn("f3", col("f2") &&
        col("doc_id") === min(when(col("f2"), col("doc_id"))).over(w))
      .withColumn("f4", col("f3") &&
        sum(when(col("f3"), 1L).otherwise(0L))
          .over(rw.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          <= FunnelV2SampleK)
    val agg = flagged.agg(
      count(lit(1)).as("n0"),
      sum(when(col("f1"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("f2"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("f3"), 1L).otherwise(0L)).as("n3"),
      sum(when(col("f4"), 1L).otherwise(0L)).as("n4"),
      // no .otherwise(0): sum must stay NULL when no row samples (the old
      // aggregate-over-empty behavior and the oracle's)
      ((sum(when(col("f4"),
          size(split(lower(col("text")), "\\s+")).cast("long")))
          + lit(Corpus.PackSeqLen - 1)) / lit(Corpus.PackSeqLen))
        .cast("long").as("n5"))
    agg.select(explode(array(
        struct(lit("0_all").as("stage"), col("n0").as("n")),
        struct(lit("1_rules").as("stage"), col("n1").as("n")),
        struct(lit("2_dsir").as("stage"), col("n2").as("n")),
        struct(lit("3_dedup").as("stage"), col("n3").as("n")),
        struct(lit("4_sample").as("stage"), col("n4").as("n")),
        struct(lit("5_packs").as("stage"), col("n5").as("n")))).as("s"))
      .select(col("s.stage").as("stage"), col("s.n").as("n"))
      .orderBy(col("stage"))
  }

  /** Oracle: the same five stage definitions as chained CTEs (q113 flag
    * rules, q111 score formula, q27 keeper, q103 rank rule, q68 pack
    * constant). */
  val funnelV2Oracle: String = {
    val stops = TextOps.stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, lang, regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents),
       |stats AS (
       |  SELECT doc_id, len(t) AS n, len(array_to_string(t, '')) AS chars,
       |         len(list_filter(t, x -> x IN ($stops))) AS stops
       |  FROM tok),
       |rep AS (
       |  SELECT doc_id, max(c) AS maxc FROM (
       |    SELECT doc_id, w, count(*) AS c
       |    FROM (SELECT doc_id, unnest(t) AS w FROM tok) GROUP BY doc_id, w)
       |  GROUP BY doc_id),
       |pass AS (
       |  SELECT doc_id FROM stats JOIN rep USING (doc_id)
       |  WHERE NOT ((n < 20 OR n > 80) OR (chars < 3*n OR chars > 5*n)
       |             OR (stops < 2) OR (maxc*5 > n))),
       |bg AS (
       |  SELECT doc_id, lang,
       |         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
       |  FROM tok WHERE len(t) >= 2),
       |occ AS (
       |  SELECT doc_id, lang, (${graft.operators.Sketches.h32FromHexSql}) % ${Corpus.DsirBuckets} AS f
       |  FROM (SELECT doc_id, lang, md5(bg) AS h FROM bg)),
       |raw AS (SELECT f, count(*) AS r_f FROM occ GROUP BY f),
       |tgt AS (SELECT f, count(*) AS t_f FROM occ WHERE lang = 'en' GROUP BY f),
       |wt AS (
       |  SELECT raw.f,
       |    CAST(round(CAST(
       |      CAST((coalesce(tgt.t_f, 0) + 1) * (sum(raw.r_f) OVER () + ${Corpus.DsirBuckets}) AS DOUBLE) /
       |      CAST((sum(coalesce(tgt.t_f, 0)) OVER () + ${Corpus.DsirBuckets}) * (raw.r_f + 1) AS DOUBLE)
       |      AS DECIMAL(28,12)), 6) AS DECIMAL(18,6)) AS w
       |  FROM raw LEFT JOIN tgt ON raw.f = tgt.f),
       |dcc AS (SELECT doc_id, f, count(*) AS c FROM occ GROUP BY doc_id, f),
       |dsel AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id,
       |      CAST(round(CAST(CAST(sum(c * w) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
       |           AS DECIMAL(28,12)), 6) AS DOUBLE) AS sc
       |    FROM dcc JOIN wt ON dcc.f = wt.f GROUP BY doc_id)
       |  WHERE sc >= 1.0),
       |r1 AS (SELECT d.* FROM documents d JOIN pass USING (doc_id)),
       |r2 AS (SELECT r1.* FROM r1 JOIN dsel USING (doc_id)),
       |dd AS (
       |  SELECT doc_id, lang, text FROM (
       |    SELECT doc_id, lang, text,
       |      min(doc_id) OVER (PARTITION BY
       |        md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS keep
       |    FROM r2)
       |  WHERE doc_id = keep),
       |sampled AS (
       |  SELECT doc_id, lang, text FROM (
       |    SELECT doc_id, lang, text,
       |      row_number() OVER (PARTITION BY lang
       |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |    FROM dd)
       |  WHERE rk <= $FunnelV2SampleK)
       |SELECT stage, n FROM (
       |  SELECT '0_all' AS stage, CAST(count(*) AS BIGINT) AS n FROM documents
       |  UNION ALL SELECT '1_rules', CAST(count(*) AS BIGINT) FROM r1
       |  UNION ALL SELECT '2_dsir', CAST(count(*) AS BIGINT) FROM r2
       |  UNION ALL SELECT '3_dedup', CAST(count(*) AS BIGINT) FROM dd
       |  UNION ALL SELECT '4_sample', CAST(count(*) AS BIGINT) FROM sampled
       |  UNION ALL SELECT '5_packs',
       |    CAST((sum(len(regexp_split_to_array(lower(text), '\\s+')))
       |          + ${Corpus.PackSeqLen - 1}) // ${Corpus.PackSeqLen} AS BIGINT)
       |    FROM sampled)
       |ORDER BY stage""".stripMargin
  }

  /** q149 — curation funnel v3, composing the round-5 hygiene stages the
    * way q116 composed round 4's: URL blocklist GATE (q148's broadcast
    * blocklist — drop any doc citing a blocked domain), PII REDACTION
    * (q145's replace-all chain — a transform, reported as the count of
    * docs actually modified), exact dedup keeper on the REDACTED text
    * (redaction before dedup is the production order: two docs differing
    * only in scrubbed PII must dedup together), and the per-lang priority
    * sample (q103's md5-rank rule). Runs on the combined PII+URL fixture
    * so every stage has teeth.
    *
    * Scale: the gate is an exploded narrow (doc_id, domain) row set
    * against a broadcast dimension; redaction is a codegen'd map; the
    * keeper/sample windows are per-hash / per-lang (WindowGroupLimit) —
    * nothing global, nothing corpus-sized on the driver. */
  def q149FunnelV3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = col("doc_id")
    val docs = Tables.documents(spark, dir)
      .select(d, col("source"), col("lang"),
        concat(col("text"), Pii.piiTail(d), UrlOps.urlTail(d)).as("ft"))
    val bad = docs.select(d,
        explode(regexp_extract_all(col("ft"), lit(UrlOps.urlPat), lit(1))).as("host"))
      .withColumn("domain", regexp_replace(col("host"), "^www\\.", ""))
      .join(broadcast(UrlOps.blockedDomains.toDF("domain")), Seq("domain"))
      .select(d).distinct()
    val r1 = docs.join(bad, Seq("doc_id"), "left_anti")
    val r2 = r1.withColumn("rt", Pii.redact(col("ft")))
    val w = Window.partitionBy(col("k"))
    val dd = r2
      .withColumn("k", Dedup.normalizedTextKey(col("rt")))
      .withColumn("keep", min(d).over(w))
      .filter(d === col("keep")).drop("k", "keep")
    val rw = Window.partitionBy(col("lang"))
      .orderBy(md5(d.cast("string")), d)
    val sampled = dd.withColumn("rk", row_number().over(rw))
      .filter(col("rk") <= FunnelV2SampleK)
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("stage"), col("n"))
    stage("0_all", docs)
      .unionAll(stage("1_urlgate", r1))
      .unionAll(stage("2_redacted", r2.filter(col("rt") =!= col("ft"))))
      .unionAll(stage("3_dedup", dd))
      .unionAll(stage("4_sample", sampled))
      .orderBy(col("stage"))
  }

  /** Oracle: the same stage definitions as CTEs over the same fixture
    * (tails concatenated — never under a stripMargin). */
  val funnelV3Oracle: String = {
    val values = UrlOps.blockedDomains.map(dm => s"('$dm')").mkString(", ")
    "WITH fx AS (\n  SELECT doc_id, source, lang,\n    text || " +
      Pii.piiTailSql + "\n || " + UrlOps.urlTailSql + " AS ft\n  FROM documents),\n" +
    s"block(domain) AS (VALUES $values),\n" +
    """hosts AS (
      |  SELECT doc_id,
      |    regexp_replace(unnest(regexp_extract_all(ft, 'https?://([A-Za-z0-9.-]+)/', 1)),
      |                   '^www\.', '') AS domain
      |  FROM fx),
      |bad AS (SELECT DISTINCT doc_id FROM hosts JOIN block USING (domain)),
      |r1 AS (SELECT * FROM fx WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
      |r2 AS (
      |  SELECT doc_id, source, lang, ft,
      |    regexp_replace(regexp_replace(regexp_replace(ft,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |      '\+1-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
      |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g') AS rt
      |  FROM r1),
      |dd AS (
      |  SELECT doc_id, lang FROM (
      |    SELECT doc_id, lang,
      |      min(doc_id) OVER (PARTITION BY
      |        md5(trim(regexp_replace(lower(rt), '\s+', ' ', 'g')))) AS keep
      |    FROM r2)
      |  WHERE doc_id = keep),
      |sampled AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id,
      |      row_number() OVER (PARTITION BY lang
      |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |    FROM dd)
      |  WHERE rk <= """.stripMargin + FunnelV2SampleK + """)
      |SELECT stage, n FROM (
      |  SELECT '0_all' AS stage, CAST(count(*) AS BIGINT) AS n FROM fx
      |  UNION ALL SELECT '1_urlgate', CAST(count(*) AS BIGINT) FROM r1
      |  UNION ALL SELECT '2_redacted', CAST(count(*) AS BIGINT) FROM r2 WHERE rt <> ft
      |  UNION ALL SELECT '3_dedup', CAST(count(*) AS BIGINT) FROM dd
      |  UNION ALL SELECT '4_sample', CAST(count(*) AS BIGINT) FROM sampled)
      |ORDER BY stage""".stripMargin
  }

  /** q124 — token-budget WATER-FILLING allocator: given a total token
    * budget (4/5 of the corpus here) and a uniform per-language target,
    * find the EXACT water level — the equal allocation L such that
    * min(avail, L) sums to the budget — in closed form: sort languages
    * by availability ascending; the first rank r* whose availability
    * exceeds the equal share of what remains after fully funding every
    * smaller language marks the open set, which splits that remainder
    * equally (the DIV remainder goes one token each to the first open
    * ranks, so the budget is conserved EXACTLY — pinned by Round4bSpec).
    * This turns target weights (q47/q75) into an achievable allocation
    * when some languages are smaller than their share (cf. the
    * per-source caps in public LLM data recipes, Rae et al. 2021 §A3).
    * All allocation arithmetic is integer (DIV/%); utilization is the
    * one ratio, decimal-routed at 6. Shape: one per-language token
    * aggregate (map-side combine over the corpus), then every window
    * runs on the |langs|-row relation (the q117 grid discipline). */
  def q124TokenWaterfill(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val w = Window.partitionBy()
    val wOrd = Window.partitionBy()
      .orderBy(col("avail_tokens"), col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val avail = Tables.documents(spark, dir)
      .select(col("lang"),
        size(TextOps.tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("lang")).agg(sum(col("nt")).as("avail_tokens"))
    avail
      .withColumn("total", sum(col("avail_tokens")).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("budget", expr("(total * 4) DIV 5"))
      .withColumn("r", row_number().over(
        Window.partitionBy().orderBy(col("avail_tokens"), col("lang")))
        .cast("long"))
      .withColumn("p", sum(col("avail_tokens")).over(wOrd))
      // equal share of what remains if every smaller language is funded
      // in full — valid exactly up to the first rank that exceeds it
      .withColumn("share",
        expr("(budget - (p - avail_tokens)) DIV (n - r + 1)"))
      .withColumn("rstar", coalesce(
        min(when(col("avail_tokens") > col("share"), col("r"))).over(w),
        col("n") + 1))
      .withColumn("capped", col("r") < col("rstar"))
      .withColumn("pstar", coalesce(
        sum(when(col("capped"), col("avail_tokens"))).over(w), lit(0L)))
      .withColumn("open_n", col("n") - col("rstar") + 1)
      .withColumn("level",
        expr("CASE WHEN open_n > 0 THEN (budget - pstar) DIV open_n END"))
      .withColumn("rem",
        expr("CASE WHEN open_n > 0 THEN (budget - pstar) % open_n END"))
      .withColumn("alloc_tokens",
        when(col("capped"), col("avail_tokens"))
          .otherwise(col("level") +
            when(col("r") - col("rstar") < col("rem"), 1L).otherwise(0L)))
      .select(col("lang"), col("avail_tokens"), col("capped"),
        col("alloc_tokens"),
        round((col("alloc_tokens").cast("double") /
               col("avail_tokens").cast("double")).cast(dec), 6)
          .cast("double").as("util6"))
      .orderBy(col("lang"))
  }

  /** q127 — quality-weighted source QUOTAS by largest-remainder
    * (Hamilton) apportionment: the companion allocator to q124's
    * water-fill. Each source's quota of a token budget is proportional
    * to its RULE-CLEAN tokens (tokens in docs passing every q113 Gopher
    * rule — quality gating composed INTO the mixture math, the way
    * public recipes weight cleaner sources up); fractional quotas are
    * settled exactly: base = floor(B·cₛ/C), and the leftover B − Σbase
    * seats go one each to the largest remainders (ties by source name).
    * Σalloc == B ALWAYS — pinned by Round4bSpec. The B·cₛ product is
    * routed through DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): at 100 TB
    * token counts overflow a BIGINT product, and both engines' wide
    * types compute the exact integer. Shape: one per-source aggregate
    * over the flagged corpus, then rank/sum windows on the
    * |sources|-row relation (the q117 grid discipline). */
  def q127QualityQuota(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    val flags = TextOps.qualityFlags(spark, dir).select(col("doc_id"), col("f_any"))
    val perSource = Tables.documents(spark, dir)
      .join(flags, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(when(!col("f_any"), 1L).otherwise(0L)).as("clean_docs"),
           sum(when(!col("f_any"),
                    size(TextOps.tokens(col("text"))).cast("long"))
                 .otherwise(0L)).as("clean_tokens"))
    perSource
      .withColumn("c_total", sum(col("clean_tokens")).over(w))
      .withColumn("budget", expr("c_total DIV 3"))
      .withColumn("base",
        expr("CAST(budget AS DECIMAL(38,0)) * clean_tokens DIV c_total"))
      .withColumn("rem",
        expr("CAST(CAST(budget AS DECIMAL(38,0)) * clean_tokens % c_total AS DECIMAL(38,0))"))
      .withColumn("rem_rank", row_number().over(
        Window.partitionBy().orderBy(col("rem").desc, col("source"))).cast("long"))
      .withColumn("extra_seats", col("budget") - sum(col("base")).over(w))
      .withColumn("alloc_tokens",
        col("base") + when(col("rem_rank") <= col("extra_seats"), 1L).otherwise(0L))
      .select(col("source"), col("clean_docs"), col("clean_tokens"),
              col("alloc_tokens"))
      .orderBy(col("source"))
  }

  val qualityQuotaOracle: String = {
    val stops = TextOps.stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, source, regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents),
       |stats AS (
       |  SELECT doc_id, source, len(t) AS n,
       |         len(array_to_string(t, '')) AS chars,
       |         len(list_filter(t, x -> x IN ($stops))) AS stops
       |  FROM tok),
       |rep AS (
       |  SELECT doc_id, max(c) AS maxc FROM (
       |    SELECT doc_id, w, count(*) AS c
       |    FROM (SELECT doc_id, unnest(t) AS w FROM tok) GROUP BY doc_id, w)
       |  GROUP BY doc_id),
       |flagged AS (
       |  SELECT s.doc_id, s.source, s.n,
       |    ((n < 20 OR n > 80) OR (chars < 3*n OR chars > 5*n)
       |      OR (stops < 2) OR (maxc*5 > n)) AS f_any
       |  FROM stats s JOIN rep USING (doc_id)),
       |per_source AS (
       |  SELECT source,
       |    CAST(sum(CASE WHEN NOT f_any THEN 1 ELSE 0 END) AS BIGINT)
       |      AS clean_docs,
       |    CAST(sum(CASE WHEN NOT f_any THEN n ELSE 0 END) AS BIGINT)
       |      AS clean_tokens
       |  FROM flagged GROUP BY source),
       |quota AS (
       |  SELECT source, clean_docs, clean_tokens,
       |    CAST(sum(clean_tokens) OVER () AS BIGINT) AS c_total,
       |    CAST(sum(clean_tokens) OVER () AS BIGINT) // 3 AS budget
       |  FROM per_source),
       |seats AS (
       |  SELECT *,
       |    CAST(CAST(budget AS HUGEINT) * clean_tokens // c_total AS BIGINT)
       |      AS base,
       |    CAST(budget AS HUGEINT) * clean_tokens % c_total AS rem
       |  FROM quota),
       |ranked AS (
       |  SELECT *,
       |    row_number() OVER (ORDER BY rem DESC, source) AS rem_rank,
       |    budget - sum(base) OVER () AS extra_seats
       |  FROM seats)
       |SELECT source, clean_docs, clean_tokens,
       |  CAST(base + CASE WHEN rem_rank <= extra_seats THEN 1 ELSE 0 END
       |       AS BIGINT) AS alloc_tokens
       |FROM ranked ORDER BY source""".stripMargin
  }

  val tokenWaterfillOracle: String =
    """WITH avail AS (
      |  SELECT lang,
      |    CAST(sum(len(regexp_split_to_array(lower(text), '\s+'))) AS BIGINT)
      |      AS avail_tokens
      |  FROM documents GROUP BY lang),
      |ranked AS (
      |  SELECT lang, avail_tokens,
      |    (sum(avail_tokens) OVER () * 4) // 5 AS budget,
      |    count(*) OVER () AS n,
      |    row_number() OVER (ORDER BY avail_tokens, lang) AS r,
      |    sum(avail_tokens) OVER (ORDER BY avail_tokens, lang
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      |  FROM avail),
      |shared AS (
      |  SELECT *, (budget - (p - avail_tokens)) // (n - r + 1) AS share
      |  FROM ranked),
      |star AS (
      |  SELECT *,
      |    coalesce(min(CASE WHEN avail_tokens > share THEN r END) OVER (),
      |             n + 1) AS rstar
      |  FROM shared),
      |lev AS (
      |  SELECT *, r < rstar AS capped,
      |    coalesce(sum(CASE WHEN r < rstar THEN avail_tokens END) OVER (), 0)
      |      AS pstar,
      |    n - rstar + 1 AS open_n
      |  FROM star),
      |alloc AS (
      |  SELECT lang, avail_tokens, capped,
      |    CASE WHEN capped THEN avail_tokens
      |         ELSE (budget - pstar) // open_n +
      |           CASE WHEN r - rstar < (budget - pstar) % open_n
      |                THEN 1 ELSE 0 END
      |    END AS alloc_tokens
      |  FROM lev)
      |SELECT lang, avail_tokens, capped,
      |  CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
      |  CAST(round(CAST(CAST(alloc_tokens AS DOUBLE) /
      |    CAST(avail_tokens AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS util6
      |FROM alloc ORDER BY lang""".stripMargin

  /** Integer temperature weight: floor(sqrt(tokens)·1e6) — the α = 1/2
    * sampling temperature (the smoothing exponent family of mT5 §3.2 /
    * GPT-3 appendix A) made bit-portable: IEEE-754 sqrt is correctly
    * rounded in both engines (java.lang.Math.sqrt / libm), the ·1e6
    * product and floor are exact double ops, so both engines derive the
    * IDENTICAL integer micro-weight and every downstream step is integer
    * or wide-decimal arithmetic. α = 1/4 would be sqrt∘sqrt — any
    * dyadic temperature stays portable by chaining; pow(x, 0.3) would
    * not be (libm pow is not correctly rounded), which is why the
    * exponent is a code choice, not a parameter. */
  private def tempWeight(c: Column): Column =
    floor(sqrt(c.cast("double")) * lit(1000000.0)).cast("long")

  /** Shared allocator: Hamilton largest-remainder apportionment of
    * `budget` over integer weights (the q127 machinery with the weight
    * column abstracted). Input must carry source, avail_tokens, wgt;
    * budget is an integer column expression over the grid. */
  private def hamiltonAlloc(grid: DataFrame, budget: Column): DataFrame = {
    val w = Window.partitionBy()
    grid
      .withColumn("wtot", sum(col("wgt")).over(w))
      .withColumn("budget", budget)
      .withColumn("base",
        expr("CAST(budget AS DECIMAL(38,0)) * wgt DIV wtot"))
      .withColumn("rem",
        expr("CAST(CAST(budget AS DECIMAL(38,0)) * wgt % wtot AS DECIMAL(38,0))"))
      .withColumn("rem_rank", row_number().over(
        Window.partitionBy().orderBy(col("rem").desc, col("source"))).cast("long"))
      .withColumn("extra_seats", col("budget") - sum(col("base")).over(w))
      .withColumn("alloc_tokens",
        col("base") + when(col("rem_rank") <= col("extra_seats"), 1L).otherwise(0L))
  }

  /** q132 — TEMPERATURE-scaled source quotas at α = 1/2: the
    * proportional-mixture counterweight. Proportional sampling lets the
    * biggest crawl drown the small high-value sources; temperature
    * sampling allocates by tokens^α, flattening the mixture (small
    * sources get MORE than their share, big ones less — the
    * multilingual-sampling rule of mT5/XLM-R applied to source mixing).
    * Weights are the portable integer micro-weights of `tempWeight`;
    * seats are settled by the q127 Hamilton machinery, so Σalloc ==
    * budget EXACTLY (pinned by Round4cSpec, along with the flattening
    * law: every below-average source's allocated share exceeds its
    * proportional share). Budget = half the corpus tokens. Shape: one
    * map-side-combined per-source aggregate, then windows on the
    * |sources|-row grid (the q117 grid discipline). */
  def q132TemperatureQuota(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    val avail = Tables.documents(spark, dir)
      .select(col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("avail_tokens"))
      .withColumn("wgt", tempWeight(col("avail_tokens")))
      .withColumn("total", sum(col("avail_tokens")).over(w))
    hamiltonAlloc(avail, expr("total DIV 2"))
      .select(col("source"), col("avail_tokens"),
              col("wgt").as("weight_micro"), col("alloc_tokens"))
      .orderBy(col("source"))
  }

  val temperatureQuotaOracle: String =
    """WITH avail AS (
      |  SELECT source,
      |    CAST(sum(len(regexp_split_to_array(lower(text), '\s+'))) AS BIGINT)
      |      AS avail_tokens
      |  FROM documents GROUP BY source),
      |wgt AS (
      |  SELECT source, avail_tokens,
      |    CAST(floor(sqrt(CAST(avail_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
      |      AS weight_micro,
      |    CAST(sum(avail_tokens) OVER () AS BIGINT) // 2 AS budget
      |  FROM avail),
      |seats AS (
      |  SELECT *,
      |    CAST(sum(weight_micro) OVER () AS BIGINT) AS wtot,
      |    CAST(CAST(budget AS HUGEINT) * weight_micro //
      |         CAST(sum(weight_micro) OVER () AS BIGINT) AS BIGINT) AS base,
      |    CAST(budget AS HUGEINT) * weight_micro %
      |         CAST(sum(weight_micro) OVER () AS BIGINT) AS rem
      |  FROM wgt),
      |ranked AS (
      |  SELECT *,
      |    row_number() OVER (ORDER BY rem DESC, source) AS rem_rank,
      |    budget - sum(base) OVER () AS extra_seats
      |  FROM seats)
      |SELECT source, avail_tokens, weight_micro,
      |  CAST(base + CASE WHEN rem_rank <= extra_seats THEN 1 ELSE 0 END
      |       AS BIGINT) AS alloc_tokens
      |FROM ranked ORDER BY source""".stripMargin

  /** q133 — DATA-CONSTRAINED EPOCH PLAN (the Muennighoff et al. 2022
    * repeat rule): when a temperature quota asks a small source for more
    * tokens than it has, the dataloader REPEATS it — but repeated data
    * decays in value and public scaling studies cap the useful repeats
    * (~4 epochs). This operator turns q132's quota at an over-corpus
    * budget (3× total tokens here, a multi-epoch training run) into the
    * executable plan: epochs = ceil(alloc/avail) capped at 4, served =
    * min(alloc, 4·avail), deficit = alloc − served (the tokens the
    * recipe WANTED from the source but the cap refuses — the signal to
    * go acquire more of it). All integer arithmetic; conservation
    * Σserved + Σdeficit == budget is pinned by Round4cSpec. Shape:
    * identical to q132 — everything past the per-source aggregate runs
    * on the |sources|-row grid. */
  def q133EpochPlan(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    val avail = Tables.documents(spark, dir)
      .select(col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("avail_tokens"))
      .withColumn("wgt", tempWeight(col("avail_tokens")))
      .withColumn("total", sum(col("avail_tokens")).over(w))
    hamiltonAlloc(avail, expr("total * 3"))
      .withColumn("epochs",
        least(lit(4L), expr("(alloc_tokens + avail_tokens - 1) DIV avail_tokens")))
      .withColumn("served_tokens",
        least(col("alloc_tokens"), col("avail_tokens") * 4))
      .withColumn("deficit_tokens", col("alloc_tokens") - col("served_tokens"))
      .select(col("source"), col("avail_tokens"), col("alloc_tokens"),
              col("epochs"), col("served_tokens"), col("deficit_tokens"))
      .orderBy(col("source"))
  }

  val epochPlanOracle: String =
    """WITH avail AS (
      |  SELECT source,
      |    CAST(sum(len(regexp_split_to_array(lower(text), '\s+'))) AS BIGINT)
      |      AS avail_tokens
      |  FROM documents GROUP BY source),
      |wgt AS (
      |  SELECT source, avail_tokens,
      |    CAST(floor(sqrt(CAST(avail_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
      |      AS weight_micro,
      |    CAST(sum(avail_tokens) OVER () AS BIGINT) * 3 AS budget
      |  FROM avail),
      |seats AS (
      |  SELECT *,
      |    CAST(CAST(budget AS HUGEINT) * weight_micro //
      |         CAST(sum(weight_micro) OVER () AS BIGINT) AS BIGINT) AS base,
      |    CAST(budget AS HUGEINT) * weight_micro %
      |         CAST(sum(weight_micro) OVER () AS BIGINT) AS rem
      |  FROM wgt),
      |ranked AS (
      |  SELECT *,
      |    row_number() OVER (ORDER BY rem DESC, source) AS rem_rank,
      |    budget - sum(base) OVER () AS extra_seats
      |  FROM seats),
      |alloc AS (
      |  SELECT source, avail_tokens,
      |    CAST(base + CASE WHEN rem_rank <= extra_seats THEN 1 ELSE 0 END
      |         AS BIGINT) AS alloc_tokens
      |  FROM ranked)
      |SELECT source, avail_tokens, alloc_tokens,
      |  CAST(least(4, (alloc_tokens + avail_tokens - 1) // avail_tokens)
      |       AS BIGINT) AS epochs,
      |  CAST(least(alloc_tokens, avail_tokens * 4) AS BIGINT)
      |    AS served_tokens,
      |  CAST(alloc_tokens - least(alloc_tokens, avail_tokens * 4) AS BIGINT)
      |    AS deficit_tokens
      |FROM alloc ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q165 — SORTED (length-bucketed) dynamic batching audit: q85 prices
  // static bucket shapes; this prices DYNAMIC per-batch padding (pad
  // every batch to its own max length — the fairseq/HuggingFace
  // "smart batching" dataloader) under two batch assignments: arrival
  // order (doc_id) vs length-sorted order. Sorting contiguous batches
  // minimizes Σ batch-max over equal-size groups, so the sorted plan's
  // padding is the floor the dataloader buys by sequence bucketing; the
  // delta vs arrival order is the savings readout.
  // ---------------------------------------------------------------------

  /** Dynamic batch size for q165. */
  val DynBatch = 32L

  /** q165 — padding under arrival-order vs length-sorted batch
    * assignment, one row per strategy: batch count, slot tokens
    * (Σ batch_size·batch_max), pad tokens, pad ratio.
    *
    * Scale: the global order comes from [[PrefixSum.globalRank]] (the
    * q60 two-phase shape — no single-partition window anywhere); the
    * per-batch rollup is a keyed groupBy on the batch id, and the final
    * rollup has |batches| rows. Packed-key contract as q60: doc_id <
    * 10^12. */
  def q165BatchPlan(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
              size(TextOps.tokens(col("text"))).cast("long").as("n"))
    def plan(keyed: DataFrame, strategy: String): DataFrame = {
      val (ranked, _) = PrefixSum.globalRank(keyed, "__k", "r")
      ranked
        .withColumn("batch", expr(s"(r - 1) DIV $DynBatch"))
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("c"), max(col("n")).as("mx"),
             sum(col("n")).as("sm"))
        .agg(count(lit(1)).as("n_batches"), sum(col("c")).as("n_docs"),
             sum(col("c") * col("mx")).as("slot_tokens"),
             sum(col("c") * col("mx") - col("sm")).as("pad_tokens"))
        .select(lit(strategy).as("strategy"), col("n_docs"),
                col("n_batches"), col("slot_tokens"), col("pad_tokens"))
    }
    val arrival = plan(docs.withColumn("__k", col("doc_id")), "arrival")
    val sorted = plan(
      docs.withColumn("__k", col("n") * lit(1000000000000L) + col("doc_id")),
      "sorted")
    arrival.union(sorted)
      .withColumn("pad_ratio6",
        round((col("pad_tokens").cast("double") /
                 col("slot_tokens").cast("double")).cast(dec), 6)
          .cast("double"))
      .orderBy(col("strategy"))
  }

  val batchPlanOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS n
       |  FROM documents),
       |a AS (SELECT n, (row_number() OVER (ORDER BY doc_id) - 1)
       |        // $DynBatch AS batch FROM d),
       |s AS (SELECT n, (row_number() OVER (ORDER BY n, doc_id) - 1)
       |        // $DynBatch AS batch FROM d),
       |ab AS (SELECT batch, count(*) AS c, max(n) AS mx, sum(n) AS sm
       |       FROM a GROUP BY batch),
       |sb AS (SELECT batch, count(*) AS c, max(n) AS mx, sum(n) AS sm
       |       FROM s GROUP BY batch),
       |r AS (
       |  SELECT 'arrival' AS strategy, CAST(sum(c) AS BIGINT) AS n_docs,
       |    CAST(count(*) AS BIGINT) AS n_batches,
       |    CAST(sum(c * mx) AS BIGINT) AS slot_tokens,
       |    CAST(sum(c * mx - sm) AS BIGINT) AS pad_tokens
       |  FROM ab
       |  UNION ALL
       |  SELECT 'sorted', CAST(sum(c) AS BIGINT), CAST(count(*) AS BIGINT),
       |    CAST(sum(c * mx) AS BIGINT), CAST(sum(c * mx - sm) AS BIGINT)
       |  FROM sb)
       |SELECT strategy, n_docs, n_batches, slot_tokens, pad_tokens,
       |  CAST(round(CAST(CAST(pad_tokens AS DOUBLE) /
       |    CAST(slot_tokens AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
       |    AS pad_ratio6
       |FROM r ORDER BY strategy""".stripMargin

  // -------------------------------------------------------------------------
  // q172 — context-window TRUNCATION-LOSS audit: for each candidate
  // max-length, how many documents get cut and what token mass is lost —
  // the "pick the training seq-len" readout every pipeline runs before
  // committing to a context window (truncate-vs-split is the single
  // biggest silent data-loss knob in corpus prep).
  // -------------------------------------------------------------------------

  /** Candidate context windows (whitespace tokens). ONE shared literal,
    * rendered into both engines. */
  val TruncLens: Seq[Long] = Seq(64L, 256L, 1024L)

  /** q172 — per (max_len, source): docs affected, token mass kept/lost,
    * loss in ppm. Scale: one codegen'd token count per doc, cross-joined
    * with the 3-row length dimension (broadcast by construction), one
    * partial-aggregated groupBy — no window, no data-side join. */
  def q172TruncationLoss(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nTok = size(TextOps.tokens(col("text"))).cast("long")
    val docs = Tables.documents(spark, dir)
      .select(col("source"), nTok.as("n_tok"))
    val lens = broadcast(TruncLens.toDF("max_len"))
    docs.crossJoin(lens)
      .withColumn("kept", least(col("n_tok"), col("max_len")))
      .groupBy(col("max_len"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_tok") > col("max_len"), 1L).otherwise(0L)).as("docs_truncated"),
        sum(col("n_tok")).as("total_tokens"),
        sum(col("kept")).as("tokens_kept"))
      .select(col("max_len"), col("source"), col("n_docs"),
        col("docs_truncated"), col("total_tokens"), col("tokens_kept"),
        (col("total_tokens") - col("tokens_kept")).as("tokens_lost"),
        expr("(1000000 * (total_tokens - tokens_kept)) DIV total_tokens")
          .as("loss_ppm"))
      .orderBy(col("max_len"), col("source"))
  }

  // -------------------------------------------------------------------------
  // q174 — curation funnel v4: the CLASSIFIER-GATED production order
  // (CCNet/Llama-style): known-bad lexicon gate → learned quality-
  // classifier gate (q168's even-half-trained model scoring EVERY doc) →
  // exact dedup on the surviving text → per-lang priority sample. The
  // classifier stage is what v1-v3 lacked: a model, not a rule, decides.
  // -------------------------------------------------------------------------

  /** q174 — stage counts through the classifier-gated funnel. Scale: the
    * model is a broadcast dimension (≤ HashDim rows); every stage is a
    * map/keyed-join/partial-agg over the shrinking survivor relation. */
  def q174FunnelV4(spark: SparkSession, dir: String): DataFrame = {
    // ONE-PASS stage flags (round 14 — the q116 rewrite, same argument):
    // the five-branch union recomputed Lexicon.allScored (the classifier
    // chain over every doc) per stage count; one flagged relation + one
    // aggregate now computes all five. Stage semantics value-identical
    // (see q116FunnelV2's equivalence notes).
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        concat(col("text"), Lexicon.lexTail(col("doc_id"))).as("ft"))
    val scored = Lexicon.allScored(spark, dir)
    val w = Window.partitionBy(Dedup.normalizedTextKey(col("ft")))
    val rw = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val flagged = docs
      .join(scored.filter(col("label") === 0L)
        .select(col("doc_id"), col("score_ppm"), lit(true).as("p1")),
        Seq("doc_id"), "left")
      .withColumn("f1", coalesce(col("p1"), lit(false)))
      .withColumn("f2", col("f1") && col("score_ppm") <= 0)
      .withColumn("f3", col("f2") &&
        col("doc_id") === min(when(col("f2"), col("doc_id"))).over(w))
      .withColumn("f4", col("f3") &&
        sum(when(col("f3"), 1L).otherwise(0L))
          .over(rw.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          <= FunnelV2SampleK)
    val agg = flagged.agg(
      count(lit(1)).as("n0"),
      sum(when(col("f1"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("f2"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("f3"), 1L).otherwise(0L)).as("n3"),
      sum(when(col("f4"), 1L).otherwise(0L)).as("n4"))
    agg.select(explode(array(
        struct(lit("0_all").as("stage"), col("n0").as("n")),
        struct(lit("1_lexgate").as("stage"), col("n1").as("n")),
        struct(lit("2_clsgate").as("stage"), col("n2").as("n")),
        struct(lit("3_dedup").as("stage"), col("n3").as("n")),
        struct(lit("4_sample").as("stage"), col("n4").as("n")))).as("s"))
      .select(col("s.stage").as("stage"), col("s.n").as("n"))
      .orderBy(col("stage"))
  }

  val funnelV4Oracle: String =
    s"""WITH ${Lexicon.labSqlShared},
       |${Lexicon.scoresChainSqlShared},
       |base AS (
       |  SELECT d.doc_id, d.lang, l.lex_text AS ft
       |  FROM documents d JOIN lexed l USING (doc_id)),
       |r1 AS (
       |  SELECT b.doc_id, b.lang, b.ft, a.score_ppm
       |  FROM base b JOIN allscores a USING (doc_id) WHERE a.label = 0),
       |r2 AS (SELECT * FROM r1 WHERE score_ppm <= 0),
       |dd AS (
       |  SELECT doc_id, lang FROM (
       |    SELECT doc_id, lang,
       |      min(doc_id) OVER (PARTITION BY
       |        md5(trim(regexp_replace(lower(ft), '\\s+', ' ', 'g')))) AS keep
       |    FROM r2)
       |  WHERE doc_id = keep),
       |samp AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (PARTITION BY lang
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |    FROM dd)
       |  WHERE rk <= $FunnelV2SampleK)
       |SELECT * FROM (
       |  SELECT '0_all' AS stage, CAST(count(*) AS BIGINT) AS n FROM base
       |  UNION ALL SELECT '1_lexgate', CAST(count(*) AS BIGINT) FROM r1
       |  UNION ALL SELECT '2_clsgate', CAST(count(*) AS BIGINT) FROM r2
       |  UNION ALL SELECT '3_dedup', CAST(count(*) AS BIGINT) FROM dd
       |  UNION ALL SELECT '4_sample', CAST(count(*) AS BIGINT) FROM samp)
       |ORDER BY stage""".stripMargin

  val truncationLossOracle: String = {
    val vals = TruncLens.map(l => s"($l)").mkString(", ")
    s"""WITH docs AS (
       |  SELECT source,
       |    CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS n_tok
       |  FROM documents),
       |lens(max_len) AS (VALUES $vals),
       |x AS (
       |  SELECT CAST(max_len AS BIGINT) AS max_len, source, n_tok,
       |    least(n_tok, CAST(max_len AS BIGINT)) AS kept
       |  FROM docs CROSS JOIN lens)
       |SELECT max_len, source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN n_tok > max_len THEN 1 ELSE 0 END) AS BIGINT) AS docs_truncated,
       |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       |  CAST(sum(kept) AS BIGINT) AS tokens_kept,
       |  CAST(sum(n_tok) - sum(kept) AS BIGINT) AS tokens_lost,
       |  (1000000 * (CAST(sum(n_tok) AS BIGINT) - CAST(sum(kept) AS BIGINT)))
       |    // CAST(sum(n_tok) AS BIGINT) AS loss_ppm
       |FROM x GROUP BY max_len, source ORDER BY max_len, source""".stripMargin
  }

  // -------------------------------------------------------------------------
  // q191 — EXACT stratified train/val/test SPLIT: per source, docs are
  // totally ordered by content hash (reproducible, shuffle-free, and
  // content-addressed — re-adding the same doc lands in the same split)
  // and cut at EXACT integer boundaries: n_val = n_test = n DIV 100,
  // train = the rest. Hash-modulo splits (doc_id % 100 < 98) only
  // APPROXIMATE proportions; rank-based cutting makes them exact, which
  // is what a 1%-val contract means when val feeds a per-source metric.
  //
  // Scale shape: the rank comes from PrefixSum.partitionedRank — window
  // partitions are (source, hash-prefix-bucket), each ~1/256 of its
  // source, with |sources|·256 rows of driver control state; a plain
  // source-partitioned window would funnel a dominant source through one
  // task. The oracle uses the naive window (DuckDB is single-node);
  // equality proves the two-phase rank exact.
  // -------------------------------------------------------------------------

  /** q191 — per (source, split): docs, exact share ppm. */
  def q191StratifiedSplit(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      // bucket = first two hash hex chars → 0..255, order-respecting
      .withColumn("__b",
        expr("""CAST((instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
                + instr('0123456789abcdef', substring(h, 2, 1)) - 1 AS BIGINT)"""))
    val ranked = PrefixSum.partitionedRank(d, "source", "__b",
                                           Seq("h", "doc_id"), "r")
    val totals = d.groupBy(col("source")).agg(count(lit(1)).as("n"))
    ranked.join(totals, "source") // |sources|-row dimension, broadcastable
      .withColumn("split",
        when(col("r") <= col("n") - lit(2L) * expr("n DIV 100"), "train")
          .when(col("r") <= col("n") - expr("n DIV 100"), "val")
          .otherwise("test"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
           expr("(1000000 * count(1)) DIV first(n)").as("share_ppm"))
      .orderBy(col("source"), col("split"))
  }

  val stratifiedSplitOracle: String =
    """WITH d AS (SELECT doc_id, source, md5(text) AS h FROM documents),
      |r AS (
      |  SELECT source,
      |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS r,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM d)
      |SELECT source,
      |  CASE WHEN r <= n - 2*(n // 100) THEN 'train'
      |       WHEN r <= n - (n // 100) THEN 'val'
      |       ELSE 'test' END AS split,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  (1000000 * CAST(count(*) AS BIGINT)) // CAST(max(n) AS BIGINT)
      |    AS share_ppm
      |FROM r GROUP BY 1, 2 ORDER BY source, split""".stripMargin

  // -------------------------------------------------------------------------
  // q194 — FILTER OVERLAP / REDUNDANCY audit (the Dolma/RefinedWeb
  // ablation bookkeeping): every doc is flagged by each of the four
  // standard gates — lexicon (q166), PII presence (q144), blocked URL
  // (q148), absolute length bounds — and the corpus rolls up to the 2⁴
  // flag-combination table. This answers "which filters do UNIQUE work"
  // (a doc counted only under one gate is that gate's marginal
  // contribution; a doc flagged by three is why ablating any single
  // filter barely moves the survivor count).
  //
  // Scale: four codegen'd per-doc flag maps over one corpus scan each
  // (the URL gate adds its narrow host explode + 10-row broadcast
  // blocklist), joined on doc_id (keyed equi-joins), then ONE ≤16-row
  // aggregate. No window.
  // -------------------------------------------------------------------------

  /** q194's absolute length gate (tokens): outside [20, 90] is flagged —
    * bites both tails of this corpus's 10..99 distribution. */
  val LenLo = 20L
  val LenHi = 90L

  /** q194 — (f_lex, f_pii, f_url, f_len) → doc count + gate multiplicity. */
  def q194FilterOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lex = Lexicon.labTable(spark, dir)
      .select(col("doc_id"), col("label").as("f_lex"))
    def anyMatch(c: org.apache.spark.sql.Column, pat: String) =
      size(regexp_extract_all(c, lit(pat), lit(0))) > 0
    val pii = Pii.piiTable(spark, dir).select(col("doc_id"),
      when(anyMatch(col("pii_text"), Pii.emailPat) ||
           anyMatch(col("pii_text"), Pii.phonePat) ||
           anyMatch(col("pii_text"), Pii.ipPat), 1L).otherwise(0L).as("f_pii"))
    val block = broadcast(UrlOps.blockedDomains.toDF("domain"))
    val url = UrlOps.urlTable(spark, dir)
      .select(col("doc_id"),
        explode_outer(regexp_extract_all(col("url_text"),
          lit(UrlOps.urlPat), lit(1))).as("host"))
      .withColumn("domain", regexp_replace(col("host"), "^www\\.", ""))
      .join(block.withColumn("hit", lit(1L)), Seq("domain"), "left")
      .groupBy(col("doc_id"))
      .agg(max(coalesce(col("hit"), lit(0L))).as("f_url"))
    val len = graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(size(TextOps.tokens(col("text"))).cast("long")
               .between(LenLo, LenHi), 0L).otherwise(1L).as("f_len"))
    lex.join(pii, "doc_id").join(url, "doc_id").join(len, "doc_id")
      .groupBy(col("f_lex"), col("f_pii"), col("f_url"), col("f_len"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("n_gates",
        col("f_lex") + col("f_pii") + col("f_url") + col("f_len"))
      .orderBy(col("f_lex"), col("f_pii"), col("f_url"), col("f_len"))
  }

  val filterOverlapOracle: String = {
    def flat(s: String) = s.linesIterator.map(_.trim).mkString(" ")
    val lexIn = Lexicon.lexicon.map(t => s"'$t'").mkString(", ")
    val blockVals = UrlOps.blockedDomains.map(d => s"('$d')").mkString(", ")
    s"""WITH lexf AS (
       |  SELECT doc_id, CASE WHEN len(list_filter(
       |      regexp_split_to_array(lower(text || ${flat(Lexicon.lexTailSql)}), '\\s+'),
       |      x -> x IN ($lexIn))) > 0 THEN 1 ELSE 0 END AS f_lex
       |  FROM documents),
       |piif AS (
       |  SELECT doc_id, CASE WHEN
       |      len(regexp_extract_all(pii_text, '${Pii.emailPat}', 0)) +
       |      len(regexp_extract_all(pii_text, '${Pii.phonePat}', 0)) +
       |      len(regexp_extract_all(pii_text, '${Pii.ipPat}', 0)) > 0
       |    THEN 1 ELSE 0 END AS f_pii
       |  FROM (SELECT doc_id, text || ${flat(Pii.piiTailSql)} AS pii_text
       |        FROM documents)),
       |block(domain) AS (VALUES $blockVals),
       |urlf AS (
       |  SELECT u.doc_id,
       |    max(CASE WHEN b.domain IS NOT NULL THEN 1 ELSE 0 END) AS f_url
       |  FROM (SELECT doc_id,
       |          regexp_replace(unnest(regexp_extract_all(url_text, '${UrlOps.urlPat}', 1)),
       |                         '^www\\.', '') AS domain
       |        FROM (SELECT doc_id, text || ${flat(UrlOps.urlTailSql)} AS url_text
       |              FROM documents)) h
       |  RIGHT JOIN documents u ON u.doc_id = h.doc_id
       |  LEFT JOIN block b ON b.domain = h.domain
       |  GROUP BY u.doc_id),
       |lenf AS (
       |  SELECT doc_id, CASE WHEN len(regexp_split_to_array(lower(text), '\\s+'))
       |      BETWEEN $LenLo AND $LenHi THEN 0 ELSE 1 END AS f_len
       |  FROM documents)
       |SELECT CAST(l.f_lex AS BIGINT) AS f_lex, CAST(p.f_pii AS BIGINT) AS f_pii,
       |  CAST(u.f_url AS BIGINT) AS f_url, CAST(n.f_len AS BIGINT) AS f_len,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(l.f_lex + p.f_pii + u.f_url + n.f_len AS BIGINT) AS n_gates
       |FROM lexf l
       |JOIN piif p ON p.doc_id = l.doc_id
       |JOIN urlf u ON u.doc_id = l.doc_id
       |JOIN lenf n ON n.doc_id = l.doc_id
       |GROUP BY l.f_lex, p.f_pii, u.f_url, n.f_len
       |ORDER BY f_lex, f_pii, f_url, f_len""".stripMargin
  }

  // -------------------------------------------------------------------------
  // q201 — CURRICULUM phase budget (Bengio et al. ICML'09 ordering, on
  // the one difficulty axis a data pipeline can compute without a model):
  // docs ranked easy→hard by q193's LM-fluency signal (most-predictable
  // text first), cut into 4 equal-rank phases; per phase the token mass,
  // a 2048-token pack estimate, and the fluency envelope — the schedule
  // readout a curriculum trainer consumes.
  //
  // Scale: the global order is PrefixSum.globalRankBy (two-phase,
  // score-bucketed — no naive global window); everything after is a
  // 4-row aggregate. The oracle's naive rank window re-proves the
  // two-phase rank.
  // -------------------------------------------------------------------------

  /** q201 — per phase 0..3 (easy→hard): docs, tokens, packs, envelope. */
  def q201CurriculumPhases(spark: SparkSession, dir: String): DataFrame = {
    val flu = Corpus.fluencyDocScores(spark, dir)
      .select(col("doc_id"), col("doc_ppm"))
    val toks = graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
              size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
    val ranked = PrefixSum.globalRankBy(
      flu.join(toks, "doc_id").localCheckpoint(), // control jobs re-read it
      "doc_ppm", asc = false, "r")
    val total = ranked.agg(count(lit(1)).as("n")) // 1-row control
    ranked.crossJoin(total)
      .withColumn("phase", expr("(4 * (r - 1)) DIV n"))
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        expr("(sum(n_tok) + 2047) DIV 2048").as("packs_2048"),
        max(col("doc_ppm")).as("max_fluency_ppm"),
        min(col("doc_ppm")).as("min_fluency_ppm"))
      .orderBy(col("phase"))
  }

  // -------------------------------------------------------------------------
  // q205 — SPAN-CORRUPTION plan (the T5/Raffel'20 denoising objective's
  // data prep, deterministic): tokens group into fixed 3-token spans, a
  // span masks iff its content-addressed hash clears a 2/16 gate (~12.5%
  // token mass), masked spans collapse to one sentinel. Hash-driven
  // masking (not RNG) is what makes the plan REPRODUCIBLE — the property
  // a training-data pipeline actually needs — and lets both engines
  // replay it bit-identically: the corrupted text's md5 envelope is part
  // of the contract.
  //
  // Scale: the corruption is ONE codegen'd per-row transform (no
  // explode); the counting leg explodes to narrow (doc, span) rows and
  // partial-aggregates. The sentinel is un-numbered (T5 numbers them
  // per doc; a numbered variant needs a per-doc scan — documented
  // simplification, the masking PLAN is the audited part).
  // -------------------------------------------------------------------------

  /** q205's span width and hex-gate (first md5 nibble < 2 → mask). */
  val SpanW = 3
  val SpanGate = 2

  private def maskedSql(sid: String): String =
    s"instr('0123456789abcdef', substring(md5(concat(CAST(doc_id AS STRING), ':', " +
    s"CAST($sid AS STRING))), 1, 1)) - 1 < $SpanGate"

  /** q205 — per source: corruption-plan economics + corrupted-text md5
    * envelope. */
  def q205SpanCorruption(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("t"))
    val corrupted = d.withColumn("corr", expr(
      s"""concat_ws(' ', filter(transform(sequence(1, size(t)), p ->
          CASE WHEN ${maskedSql(s"(p-1) DIV $SpanW")}
               THEN CASE WHEN (p-1) % $SpanW = 0 THEN '<X>' END
               ELSE element_at(t, p) END), x -> isnotnull(x)))"""))
    val spans = d.select(col("doc_id"), col("source"),
        posexplode(col("t")).as(Seq("p0", "tok")))
      .withColumn("sid", expr(s"CAST(p0 DIV $SpanW AS BIGINT)"))
      .withColumn("masked", expr(maskedSql("sid")))
    val counts = spans.groupBy(col("source"))
      .agg(sum(when(col("masked"), 1L).otherwise(0L)).as("masked_tokens"),
        count(lit(1)).as("total_tokens"),
        countDistinct(when(col("masked"),
          concat(col("doc_id"), lit(":"), col("sid")))).as("masked_spans"))
    val fp = corrupted.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           min(md5(col("corr"))).as("min_corr_md5"),
           max(md5(col("corr"))).as("max_corr_md5"))
    fp.join(counts, "source")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("masked_tokens"), col("masked_spans"),
        expr("(1000000 * masked_tokens) DIV total_tokens").as("masked_ppm"),
        col("min_corr_md5"), col("max_corr_md5"))
      .orderBy(col("source"))
  }

  val spanCorruptionOracle: String = {
    val maskedDuck = (sid: String) =>
      s"strpos('0123456789abcdef', substr(md5(doc_id || ':' || ($sid)), 1, 1)) - 1 < $SpanGate"
    s"""WITH t AS (
       |  SELECT doc_id, source, regexp_split_to_array(lower(text), '\\s+') AS wr
       |  FROM documents),
       |corr AS (
       |  SELECT doc_id, source,
       |    array_to_string(list_filter(
       |      [CASE WHEN ${maskedDuck(s"(i-1)//$SpanW")}
       |            THEN (CASE WHEN (i-1) % $SpanW = 0 THEN '<X>' END)
       |            ELSE wr[i] END
       |       for i in range(1, len(wr) + 1)],
       |      x -> x IS NOT NULL), ' ') AS corr
       |  FROM t),
       |spans AS (
       |  SELECT doc_id, source, (i - 1) // $SpanW AS sid,
       |    ${maskedDuck(s"(i - 1)//$SpanW")} AS masked
       |  FROM (SELECT doc_id, source, unnest(range(1, len(wr) + 1)) AS i
       |        FROM t)),
       |cnts AS (
       |  SELECT source,
       |    CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS masked_tokens,
       |    CAST(count(*) AS BIGINT) AS total_tokens,
       |    CAST(count(DISTINCT CASE WHEN masked THEN doc_id || ':' || sid END)
       |         AS BIGINT) AS masked_spans
       |  FROM spans GROUP BY source),
       |fp AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    min(md5(corr)) AS min_corr_md5, max(md5(corr)) AS max_corr_md5
       |  FROM corr GROUP BY source)
       |SELECT f.source, f.n_docs, c.total_tokens, c.masked_tokens,
       |  c.masked_spans,
       |  (1000000 * c.masked_tokens) // c.total_tokens AS masked_ppm,
       |  f.min_corr_md5, f.max_corr_md5
       |FROM fp f JOIN cnts c ON c.source = f.source
       |ORDER BY f.source""".stripMargin
  }

  val curriculumPhasesOracle: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS wr
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |    unnest([{'w1': wr[i], 'w2': wr[i+1]} for i in range(1, len(wr))], recursive := true)
      |  FROM t WHERE len(wr) >= 2),
      |lm AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12,
      |    sum(count(*)) OVER (PARTITION BY w1) AS c1
      |  FROM bg GROUP BY w1, w2),
      |flu AS (
      |  SELECT doc_id,
      |    sum((1000000 * lm.c12) // CAST(lm.c1 AS BIGINT)) // count(*) AS doc_ppm
      |  FROM bg JOIN lm ON lm.w1 = bg.w1 AND lm.w2 = bg.w2
      |  GROUP BY doc_id),
      |scored AS (
      |  SELECT f.doc_id, f.doc_ppm, CAST(len(t.wr) AS BIGINT) AS n_tok
      |  FROM flu f JOIN t ON t.doc_id = f.doc_id),
      |r AS (
      |  SELECT *,
      |    CAST(row_number() OVER (ORDER BY doc_ppm DESC, doc_id) AS BIGINT) AS r,
      |    count(*) OVER () AS n
      |  FROM scored)
      |SELECT (4 * (r - 1)) // n AS phase,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
      |  (CAST(sum(n_tok) AS BIGINT) + 2047) // 2048 AS packs_2048,
      |  CAST(max(doc_ppm) AS BIGINT) AS max_fluency_ppm,
      |  CAST(min(doc_ppm) AS BIGINT) AS min_fluency_ppm
      |FROM r GROUP BY 1 ORDER BY phase""".stripMargin

  // -------------------------------------------------------------------------
  // q216 — export SHARD manifest: the deterministic write plan the final
  // dataset-publishing stage computes — docs in content-id order, packed
  // greedily into ~fixed-token shards (the WebDataset/Dolma shard layout:
  // a doc belongs to the shard of its first token; shards are the unit of
  // shuffling, resumption, and distribution). Per shard: docs, token
  // mass, id range. The manifest is pure arithmetic over the corpus
  // running token total, so it is reproducible from the table alone.
  //
  // Scale: the running total is the two-phase distributed prefix sum
  // ([[PrefixSum.withRunningSum]] — bucketed partials, driver offsets,
  // per-bucket windows; no single-partition exchange), then one
  // partial-aggregated groupBy(shard). The q21 fact-sized-cumulative
  // shape applied to the output side of the pipeline.
  // -------------------------------------------------------------------------

  /** q216's shard budget in whitespace tokens. */
  val ShardTokens = 4096L

  /** q216 — per shard: n_docs, n_tokens, first/last doc id. */
  def q216ShardPlan(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("CAST(size(split(lower(text), '\\\\s+')) AS BIGINT)").as("n_tok"))
    PrefixSum.withRunningSum(d, "doc_id", col("n_tok"), "cum")
      // exclusive prefix = cum − n_tok; decimal values are exact integers,
      // so the BIGINT cast is lossless and the shard id integer-exact
      .withColumn("shard_id",
        expr(s"CAST(cum - n_tok AS BIGINT) DIV $ShardTokens"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard_id"))
  }

  val shardPlanOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tok,
       |    sum(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM d)
       |SELECT CAST((cum - n_tok) // $ShardTokens AS BIGINT) AS shard_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin
}
