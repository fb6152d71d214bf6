package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline (BASELINE.json
  * north star): exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design (100 TB): every variant is a *bucketed shuffle*, never an
  * all-pairs comparison —
  *   - exact: shuffle by content hash (one shuffle of |docs| tiny rows);
  *   - MinHash/LSH: shuffle by (band_idx, band_hash); only same-bucket
  *     candidates are pair-joined, so cost scales with collisions, not n²;
  *   - SimHash: 16-bit signatures cluster near-dups into few buckets;
  *   - Jaccard verification runs only on the LSH candidate set.
  * Skew note: boilerplate duplicated millions of times makes one hot
  * bucket; AQE skew-join splitting handles moderate skew, and a count-based
  * bucket cap (drop buckets with > N members into a dedicated pass) is the
  * documented escape hatch for pathological ones.
  *
  * Portability: the only hash is md5 (bit-identical in DuckDB), minima over
  * fixed-width lowercase hex strings are minima over the numbers they
  * encode, so signatures compare exactly across engines.
  */
object Dedup {

  private[operators] val K_HASHES = 8 // minhash signature width
  private[operators] val N_BANDS = 4  // LSH bands (2 rows each)

  /** The exact-dedup key: md5 of the text lower-cased, with whitespace
    * runs collapsed to one space and the ends trimmed. The oracle SQL
    * spells it `md5(trim(regexp_replace(lower(t), '\s+', ' ', 'g')))`. */
  private[operators] def normalizedTextKey(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** q27 — exact dedup: whitespace-normalized content hash → keeper = min
    * doc_id per group. Emits the full keep/drop mapping. */
  def q27DedupExact(spark: SparkSession, dir: String): DataFrame = {
    val key = normalizedTextKey(col("text"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("text_hash"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), key.as("text_hash"))
      .withColumn("keeper", min(col("doc_id")).over(w))
      .withColumn("is_dup", (col("doc_id") =!= col("keeper")).cast("int"))
      .orderBy(col("doc_id"))
  }

  val dedupExactOracle: String =
    """SELECT doc_id, text_hash,
      |  min(doc_id) OVER (PARTITION BY text_hash) AS keeper,
      |  CAST(doc_id != min(doc_id) OVER (PARTITION BY text_hash) AS INT) AS is_dup
      |FROM (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS text_hash
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** doc_id + shingle set + K-wide minhash signature array, via the
    * compiled kernels ([[graft.functions.MinHashSig]] /
    * [[graft.functions.ShingleSet]]) — one codegen'd call per row instead
    * of interpreted nested higher-order functions; semantics identical to
    * the declarative form (and to the DuckDB oracle). */
  private def signatures(spark: SparkSession, dir: String): DataFrame =
    // ~10 family members (q28/q29/q42/q74/q81/q88/q125/q184/q199...) derive
    // the identical signature relation from one table: a shared leaf under
    // the bench's persisted-postings flag (built once, re-read as parquet),
    // per-call localCheckpoint isolation by default — the SimJoin pattern
    graft.Leaves.shared(spark, s"dedup_signatures:$dir") {
      signaturesOf(Tables.documents(spark, dir))
    }

  /** The same signature relation over ANY `(doc_id, text)` input — the
    * streaming screen ([[graft.streaming.IncrementalScreen]]) bands its
    * micro-batches through this, so stream and batch decisions share one
    * kernel by construction. */
  private[graft] def signaturesOf(docs: DataFrame): DataFrame = {
    docs.select(
      col("doc_id"),
      call_function("graft_shingles", col("text")).as("sh"),
      call_function("graft_minhash", col("text"), lit(K_HASHES)).as("m"))
  }

  /** DuckDB spelling of the signature CTE (over `documents`). */
  private val duckSignatures: String =
    s"""sig AS (
       |  SELECT doc_id, s, list_transform(range(0, $K_HASHES),
       |    i -> list_aggregate(list_transform(s, x -> md5(i::VARCHAR || ':' || x)), 'min')) AS m
       |  FROM (SELECT doc_id, ${TextOps.duckShingles} AS s
       |        FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |              FROM documents)))""".stripMargin

  /** q28 — MinHash signatures, one column per hash (the sketch itself is
    * the operator's contract; LSH banding consumes it in q29). */
  def q28MinhashSignature(spark: SparkSession, dir: String): DataFrame =
    signatures(spark, dir).select(
      col("doc_id") +:
        (0 until K_HASHES).map(k => element_at(col("m"), k + 1).as(s"mh$k")): _*)
      .orderBy(col("doc_id"))

  val minhashOracle: String = {
    val cols = (0 until K_HASHES).map(k => s"m[${k + 1}] AS mh$k").mkString(", ")
    s"WITH $duckSignatures\nSELECT doc_id, $cols FROM sig ORDER BY doc_id"
  }

  /** q29 — MinHash-LSH near-dup pairs: band the signatures, bucket-join,
    * then verify candidates with exact shingle Jaccard ≥ 0.5. Rounding to
    * 6 decimals happens BEFORE the threshold so both engines make the same
    * keep/drop decision. */
  /** (doc_id, band_idx, band_hash) — bands carry ONLY these 3 small
    * columns: the bucket join and the pair-dedup shuffle never move the
    * shingle arrays (at 100 TB the arrays would otherwise dominate every
    * exchange). */
  private[graft] def lshBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(N_BANDS - 1)), j =>
        md5(concat(element_at(col("m"), j * 2 + 1), element_at(col("m"), j * 2 + 2))))))
      .toDF("doc_id", "band_idx", "band_hash")

  /** Distinct same-bucket (doc_a < doc_b) candidate pairs — the one
    * candidate-generation discipline all LSH consumers share (q29, q88;
    * q81 keeps its asymmetric batch×corpus variant), so a banding change
    * (e.g. the bucket-cap escape hatch) lands everywhere at once. */
  private[operators] def lshCandidates(bands: DataFrame): DataFrame =
    bands.toDF("doc_a", "band_idx", "band_hash")
      .join(bands.toDF("doc_b", "band_idx", "band_hash"), Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")

  def q29LshNearDup(spark: SparkSession, dir: String): DataFrame = {
    // Three consumers (bands + two shingle re-attaches) read the signature
    // relation; higher-order-function trees are interpreted (no codegen),
    // so recomputing it per consumer triples the dominant cost. Materialize
    // it once — at cluster scale this is a persisted intermediate table of
    // |docs| small rows, trivially cacheable.
    val sig = signatures(spark, dir)
    val cand = lshCandidates(lshBands(sig))
    // Shingle sets re-attach only for the (small) candidate set.
    val sh = sig.select(col("doc_id"), col("sh"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    // decimal-rounded: i/union is an exact half at 6dp whenever the union
    // divides 10^7 (e.g. 65/128) — same cross-engine trap as q35
    val jac = round((inter.cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - inter).cast("double"))
        .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
      .cast("double")
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val lshNearDupOracle: String =
    s"""WITH $duckSignatures,
       |bands AS (
       |  SELECT doc_id, s, j, md5(m[2*j+1] || m[2*j+2]) AS bh
       |  FROM sig, generate_series(0, ${N_BANDS - 1}) AS g(j)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT doc_a, doc_b,
       |    CAST(round(CAST(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |          CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS DOUBLE)
       |          AS DECIMAL(28,12)), 6) AS DOUBLE) AS jaccard
       |  FROM cand JOIN sig x ON x.doc_id = doc_a JOIN sig y ON y.doc_id = doc_b)
       |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  /** q88 — MinHash ESTIMATOR audit: for every LSH candidate pair (q29's
    * pre-verification set), the signature-estimated Jaccard (fraction of
    * agreeing minhash components — the estimator LSH banding is built on)
    * side by side with the exact shingle Jaccard. This is the operator a
    * pipeline runs to TUNE the sketch (width K, band shape) on its own
    * corpus before trusting the approximate pass: the agreement count is
    * pure integer (portable), the estimate an exact K-denominator
    * rational. Cost shape: candidates carry the K-slot signature arrays
    * (K·32 bytes), shingles re-attach only for the exact column — q29's
    * discipline unchanged. */
  def q88MinhashEstimate(spark: SparkSession, dir: String): DataFrame = {
    val sig = signatures(spark, dir)
    val cand = lshCandidates(lshBands(sig))
    val matches = (1 to K_HASHES).map(k =>
        when(element_at(col("m_a"), k) === element_at(col("m_b"), k), 1L)
          .otherwise(0L))
      .reduce(_ + _)
    val estJac = round((col("matches").cast("double") / K_HASHES)
        .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
      .cast("double")
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val jac = round((inter.cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - inter).cast("double"))
        .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
      .cast("double")
    cand
      .join(sig.select(col("doc_id").as("doc_a"), col("m").as("m_a"),
                       col("sh").as("sh_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("m").as("m_b"),
                       col("sh").as("sh_b")), "doc_b")
      .withColumn("matches", matches)
      .select(col("doc_a"), col("doc_b"), col("matches"),
              estJac.as("est_jaccard"), jac.as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val minhashEstimateOracle: String = {
    val matchSql = (1 to K_HASHES)
      .map(k => s"CASE WHEN x.m[$k] = y.m[$k] THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $duckSignatures,
       |bands AS (
       |  SELECT doc_id, j, md5(m[2*j+1] || m[2*j+2]) AS bh
       |  FROM sig, generate_series(0, ${N_BANDS - 1}) AS g(j)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST($matchSql AS BIGINT) AS matches,
       |  CAST(round(CAST(CAST($matchSql AS DOUBLE) / $K_HASHES
       |       AS DECIMAL(28,12)), 6) AS DOUBLE) AS est_jaccard,
       |  CAST(round(CAST(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |       CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS DOUBLE)
       |       AS DECIMAL(28,12)), 6) AS DOUBLE) AS jaccard
       |FROM cand JOIN sig x ON x.doc_id = doc_a JOIN sig y ON y.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // -------------------------------------------------------------------------
  // q218 — b-BIT MINHASH calibration (Li & König WWW'10): store only the
  // LOWEST BIT of each minhash slot — a 32× storage cut vs the hex
  // signature — and estimate Jaccard from bit agreement with the b=1
  // correction Ĵ = 2·A − 1 (a non-colliding slot still agrees by chance
  // 1/2). The audit runs over q29's VERIFIED pairs (exact Jaccard known)
  // and reports the calibration table: per agreement count, how many
  // pairs, their mean exact Jaccard, and the b-bit estimate — the numbers
  // that decide whether the compressed sketch is tight enough to replace
  // the full one on this corpus.
  //
  // Scale: the pair relation is q29's bounded verified set; signatures
  // re-attach through two keyed doc_id joins; the readout is a ≤(K+1)-row
  // aggregate. The lowest bit is the hex parity of the md5's last nibble
  // — pure string ops both engines compute identically.
  // -------------------------------------------------------------------------

  /** q218 — (n_agree, n_pairs, mean_jac_ppm, est_jac_ppm). */
  def q218BbitMinhash(spark: SparkSession, dir: String): DataFrame = {
    val sig = signatures(spark, dir)
    val oddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")
    def bit(m: Column, i: Int): Column =
      substring(element_at(m, i), 32, 1).isin(oddHex: _*)
    val pairs = q29LshNearDup(spark, dir)
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(round(jaccard * 1000000) AS BIGINT)").as("jac_ppm"))
    val nAgree = (1 to K_HASHES).map(i =>
        when(bit(col("ma"), i) === bit(col("mb"), i), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs
      .join(sig.select(col("doc_id").as("doc_a"), col("m").as("ma")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("m").as("mb")), "doc_b")
      .select(nAgree.as("n_agree"), col("jac_ppm"))
      .groupBy(col("n_agree"))
      .agg(count(lit(1)).as("n_pairs"),
        // verified pairs have jac ≥ 1/2 ⇒ the mean's operands are nonneg
        expr("sum(jac_ppm) DIV count(1)").as("mean_jac_ppm"))
      .withColumn("est_jac_ppm",
        expr(s"n_agree * 2000000 DIV $K_HASHES - 1000000"))
      .orderBy(col("n_agree"))
  }

  val bbitMinhashOracle: String = {
    val odd = "('1','3','5','7','9','b','d','f')"
    val agreeSql = (1 to K_HASHES)
      .map(i => s"CASE WHEN (substr(x.m[$i], 32, 1) IN $odd) = (substr(y.m[$i], 32, 1) IN $odd) THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $duckSignatures,
       |pairs AS ($lshNearDupOracle),
       |agree AS (
       |  SELECT CAST($agreeSql AS BIGINT) AS n_agree,
       |    CAST(round(p.jaccard * 1000000) AS BIGINT) AS jac_ppm
       |  FROM pairs p
       |  JOIN sig x ON x.doc_id = p.doc_a
       |  JOIN sig y ON y.doc_id = p.doc_b)
       |SELECT n_agree, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(jac_ppm) // count(*) AS BIGINT) AS mean_jac_ppm,
       |  CAST(n_agree * 2000000 // $K_HASHES - 1000000 AS BIGINT) AS est_jac_ppm
       |FROM agree GROUP BY n_agree ORDER BY n_agree""".stripMargin
  }

  /** q87 — SimHash near-dup PAIRING by pigeonhole blocks: every pair of
    * docs whose fingerprints differ in ≤ 1 bit, found WITHOUT an
    * all-pairs comparison. Hamming ≤ d pairs must agree exactly on at
    * least one of d+1 disjoint bit blocks (pigeonhole), so the candidate
    * join is an equi-join on (block_idx, block_value) — at 100 TB the
    * shuffle carries 3 small integers per posting and bucket sizes are
    * |corpus| / 2^(width/(d+1)) — the skew/recall knob is the fingerprint
    * WIDTH (production: 64/128 bits ⇒ more, bigger blocks; the compiled
    * 16-bit kernel keeps the fixture corpus meaningful), not the plan
    * shape. Verification is one integer xor+popcount per candidate.
    * Complements q29/q82 (shingle Jaccard): SimHash pairing needs no
    * shingle re-attach at all — the whole pipeline moves fixed-width
    * integers. */
  def q87SimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sig = Tables.documentsWide(spark, dir)
      .select(col("doc_id"),
              call_function("graft_simhash", col("text")).as("simhash"))
    // d=1 ⇒ 2 blocks of 8 bits
    val blocks = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((col("simhash") / 256).cast("int").cast("long"),
                       col("simhash") % 256)).as(Seq("blk", "v")))
    val cand = blocks.select(col("blk"), col("v"),
        col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
      .join(blocks.select(col("blk"), col("v"),
        col("doc_id").as("doc_b"), col("simhash").as("sig_b")), Seq("blk", "v"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
    cand
      .withColumn("dist", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("dist") <= 1)
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Naive spec: every pair, exact popcount distance ([[simhashOracle]]
    * supplies the fingerprint CTE; `def` because that val initializes
    * later in the object). */
  def simhashPairsOracle: String =
    s"""WITH sh AS (
       |  ${simhashOracle.replace("ORDER BY doc_id", "")})
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS dist
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q91 — q87 at the PRODUCTION fingerprint width: 64-bit SimHash
    * (`graft_simhash64` kernel), hamming ≤ 3, 4 pigeonhole blocks of 16
    * bits. At 64 bits random collisions vanish (16-bit q87 surfaces
    * ~birthday-paradox noise on a big corpus — that is its documented
    * width trade), so every emitted pair is a genuine token-distribution
    * near-dup. Same plan shape as q87: equi-join on (block, value),
    * integer xor+popcount verify, nothing but fixed-width integers in
    * any exchange. */
  /** q91's detected pairs (block-bucketed candidates at Hamming ≤ 3),
    * unordered — shared with the q234 referee. */
  private[graft] def simhash64Pairs(spark: SparkSession, dir: String): DataFrame = {
    val sig = Tables.documentsWide(spark, dir)
      .select(col("doc_id"),
              call_function("graft_simhash64", col("text")).as("simhash"))
    val blocks = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("simhash"), 16 * (3 - i))
          .bitwiseAND(lit(0xFFFFL))): _*)).as(Seq("blk", "v")))
    val cand = blocks.select(col("blk"), col("v"),
        col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
      .join(blocks.select(col("blk"), col("v"),
        col("doc_id").as("doc_b"), col("simhash").as("sig_b")), Seq("blk", "v"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
    cand
      .withColumn("dist", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("dist") <= 3)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  def q91Simhash64Pairs(spark: SparkSession, dir: String): DataFrame =
    simhash64Pairs(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  /** The naive 64-bit-fingerprint relation SQL (`SELECT doc_id, simhash`)
    * — shared by the q91 and q234 oracles; the bit-b term adds
    * `1 << (63-b)` — for b = 0 that is Long.MinValue, the same
    * two's-complement pattern the kernel ORs in. */
  private def simhash64Sql: String = {
    def bitSql(b: Int): String = {
      val nib = s"(strpos('0123456789abcdef', substr(x, ${b / 4 + 1}, 1)) - 1)"
      b % 4 match {
        case 0 => s"$nib >= 8"
        case 1 => s"$nib % 8 >= 4"
        case 2 => s"$nib % 4 >= 2"
        case _ => s"$nib % 2 = 1"
      }
    }
    val terms = (0 until 64).map { b =>
      val w = if (b == 0) "CAST(-9223372036854775808 AS BIGINT)"
              else s"CAST(${1L << (63 - b)} AS BIGINT)"
      s"""CASE WHEN list_sum(list_transform(hs,
         |    x -> CASE WHEN ${bitSql(b)} THEN 1 ELSE -1 END)) > 0
         |  THEN $w ELSE 0 END""".stripMargin
    }.mkString(" + ")
    s"""SELECT doc_id, ($terms) AS simhash
       |  FROM (SELECT doc_id, list_transform(regexp_split_to_array(lower(text), '\\s+'),
       |               tok -> md5(tok)) AS hs
       |        FROM documents)""".stripMargin
  }

  def simhash64PairsOracle: String =
    s"""WITH sh AS (
       |$simhash64Sql)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS dist
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q30 — 16-bit SimHash over token md5s (bit-vote with multiplicity),
    * via the codegen'd [[graft.functions.SimHash16]] kernel: one compiled
    * call per row instead of 16 interpreted `aggregate` HOF passes over
    * the token-hash array. [[q30SimhashDeclarative]] keeps the pure
    * column-program form; DedupSpec asserts kernel ≡ declarative. */
  def q30Simhash(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
              call_function("graft_simhash", col("text")).as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** The declarative (built-ins only) SimHash — semantics reference for
    * the kernel. Nibble values come from `conv(hex,16,10)` on the Spark
    * side and `strpos('0123456789abcdef', …)-1` in DuckDB — same
    * integer. */
  def q30SimhashDeclarative(spark: SparkSession, dir: String): DataFrame = {
    val hashes = transform(col("t"), tok => md5(tok))
    def bitOf(h: Column, b: Int): Column = {
      val nib = conv(substring(h, b / 4 + 1, 1), 16, 10).cast("int")
      b % 4 match {
        case 0 => nib >= 8
        case 1 => nib % 8 >= 4
        case 2 => nib % 4 >= 2
        case _ => nib % 2 === 1
      }
    }
    val simhash = (0 until 16).map { b =>
      val vote = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(bitOf(h, b), 1L).otherwise(-1L))
      when(vote > 0, lit(1L << (15 - b))).otherwise(0L)
    }.reduce(_ + _)
    TextOps.tokenized(spark, dir)
      .select(col("doc_id"), simhash.as("simhash"))
      .orderBy(col("doc_id"))
  }

  val simhashOracle: String = {
    def bitSql(b: Int): String = {
      val nib = s"(strpos('0123456789abcdef', substr(x, ${b / 4 + 1}, 1)) - 1)"
      b % 4 match {
        case 0 => s"$nib >= 8"
        case 1 => s"$nib % 8 >= 4"
        case 2 => s"$nib % 4 >= 2"
        case _ => s"$nib % 2 = 1"
      }
    }
    val terms = (0 until 16).map { b =>
      s"""CASE WHEN list_sum(list_transform(hs,
         |    x -> CASE WHEN ${bitSql(b)} THEN 1 ELSE -1 END)) > 0
         |  THEN CAST(${1L << (15 - b)} AS BIGINT) ELSE 0 END""".stripMargin
    }.mkString(" + ")
    s"""SELECT doc_id, ($terms) AS simhash
       |FROM (SELECT doc_id, list_transform(regexp_split_to_array(lower(text), '\\s+'),
       |             tok -> md5(tok)) AS hs
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** q31 — embedding-cosine near-dup pairs, blocked by the pre-assigned
    * cluster label (the IVF-style scale path: pairs only form inside a
    * partition, never across the full corpus). Cosine is computed in double
    * with one canonical op order and rounded to 4 decimals BEFORE the
    * threshold. */
  def q31EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupOn(spark, dir, maxBlock = None)

  /** Per-label block cap for [[q183EmbedDedupCapped]]: labels with more
    * members than this never reach the within-block pair join. Sized far
    * above the fixture's largest label (so q31 ≡ q183 on clean data) and
    * far below anything quadratic-dangerous. */
  val EmbedMaxBlock = 1000L

  /** The label-blocked cosine pair join behind q31/q183. `maxBlock` is
    * the q92-style opt-in skew hatch: per-label member counts are a
    * |labels|-row aggregate, and any label above the cap is cut BEFORE
    * the self-join exists — the within-block quadratic work is then
    * bounded by maxBlock² per label. Oversized labels are a declared
    * refusal, not a silent skip: route them through q109's SemDeDup
    * centroid blocking or the q33/q53 ANN path, which cover exactly the
    * hot-label (one dominant language/domain) regime. */
  def embeddingNearDupOn(spark: SparkSession, dir: String,
                         maxBlock: Option[Long]): DataFrame = {
    // graft_dot: codegen'd native Expression (float arrays in, double out).
    def dot(x: Column, y: Column): Column = call_function("graft_dot", x, y)
    // Both join sides read this relation; materialize the norm prep once.
    val all = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("nrm", dot(col("v"), col("v")))
      .localCheckpoint()
    // The cap applies HERE — an oversized label never reaches the join.
    val e = maxBlock match {
      case None => all
      case Some(m) =>
        val small = all.groupBy(col("label"))
          .agg(count(lit(1)).as("block_n"))
          .filter(col("block_n") <= m)
          .select(col("label"))
        all.join(broadcast(small), Seq("label"))
    }
    val a = e.select(col("vec_id").as("vec_a"), col("label"),
                     col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("label"),
                     col("v").as("vb"), col("nrm").as("nb"))
    val sim = round(dot(col("va"), col("vb")) / sqrt(col("na") * col("nb")), 4)
    a.join(b, Seq("label")).filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), sim.as("cos_sim"))
      .filter(col("cos_sim") >= 0.4)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** q183 — q31 with the [[EmbedMaxBlock]] hatch ENGAGED (the q92/q139
    * discipline applied to the embedding family): identical output on
    * data whose label blocks fit the cap, guaranteed-bounded candidate
    * volume on data whose blocks don't. ScaleSpec pins the adversarial
    * single-hot-label case. */
  def q183EmbedDedupCapped(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupOn(spark, dir, maxBlock = Some(EmbedMaxBlock))

  /** q42 — near-dup CLUSTERS: connected components over the verified LSH
    * pair graph (q29), i.e. the keeper assignment a dedup pass acts on.
    * Min-label propagation to fixpoint — the scalable CC shape (each
    * iteration is one join+agg shuffle on node id; components here are
    * tiny, so it converges in 2-3 rounds; per-iteration checkpoint keeps
    * the plan flat, and the loop stops on an actual converged count,
    * not a guess). */
  /** Edge-count threshold below which connected components solve on the
    * driver (union-find over a collected pair list — microseconds) instead
    * of the distributed fixpoint. Both paths produce identical labels
    * (min doc_id per component); the loop below is the ≥threshold path.
    * Overridable (`spark.graft.cc.driverEdgeLimit` conf, then the
    * `SPARK_GRAFT_CC_DRIVER_LIMIT` env) so specs and the scale curve can
    * force the distributed branch on graphs that would otherwise take the
    * driver shortcut. */
  private val DriverCCEdgeLimit = 2000000L

  private[graft] def ccDriverEdgeLimit(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.cc.driverEdgeLimit")
      .orElse(sys.env.get("SPARK_GRAFT_CC_DRIVER_LIMIT"))
      .map { s =>
        // descriptive config error instead of a raw NumberFormatException
        // surfacing mid-query from q42 and its q240/q243/q244 dependents
        scala.util.Try(s.trim.toLong).getOrElse(throw new IllegalArgumentException(
          s"spark.graft.cc.driverEdgeLimit / SPARK_GRAFT_CC_DRIVER_LIMIT must " +
          s"be a long, got '$s'"))
      }.getOrElse(DriverCCEdgeLimit)

  def q42DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = q29LshNearDup(spark, dir).select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    if (pairs.count() <= ccDriverEdgeLimit(spark)) driverCC(spark, pairs)
    else distributedCC(pairs)
  }

  /** Distributed connected components: min-label propagation WITH pointer
    * jumping — each round takes the min over (own label, neighbors'
    * labels, label-of-own-label), so label information hops 2^r-ish per
    * round and convergence scales with log(diameter), not diameter (the
    * ADVICE-flagged failure mode of plain propagation: a 50-round cap on
    * a >50-diameter path). Two keyed shuffles per round, both on node id.
    * Convergence via the label-sum invariant: labels only decrease, so an
    * unchanged sum ⇔ fixpoint — one cheap aggregate (which is also the
    * action that materializes the round's lazy checkpoint). Emits min
    * member id per component, identical to [[driverCC]]. */
  private[graft] def distributedCC(pairs: DataFrame): DataFrame = {
    val edges = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst").localCheckpoint()
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("cluster", col("node"))
      .localCheckpoint()
    def labelSum(df: DataFrame): Long =
      df.agg(sum(col("cluster"))).collect().head.getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iters = 0
    // log-diameter rounds: 60 covers any graph that fits in 2^60 nodes; a
    // non-converged exit now indicates a bug, not a big graph — still FAIL
    // rather than return wrong labels silently.
    val MaxIters = 60
    while (!converged && iters < MaxIters) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(min(col("cluster")).as("nbr_min"))
      // pointer jump: my label's current label (labels self-join)
      val hop = labels.toDF("node0", "l0")
        .join(labels.toDF("l0", "l0l"), Seq("l0"))
        .select(col("node0").as("node"), col("l0l").as("hop_min"))
      val stepped = labels.join(nbrMin, Seq("node"), "left")
        .join(hop, Seq("node"), "left")
        .select(col("node"),
                least(col("cluster"),
                      least(coalesce(col("nbr_min"), col("cluster")),
                            coalesce(col("hop_min"), col("cluster"))))
                  .as("cluster"))
        .localCheckpoint()
      // REBUILD the loop-carried frame from the checkpointed RDD: the
      // checkpoint's LogicalRDD inherits the join's SIZE ESTIMATE, and the
      // self-join SQUARES it every round — by ~round 15 the planner is
      // multiplying megabit BigIntegers and planning time dwarfs execution
      // (observed as a CC stress hang). A fresh LogicalRDD resets stats to
      // a constant; the blocks are reused, nothing recomputes.
      val next = stepped.sparkSession.createDataFrame(stepped.rdd, stepped.schema)
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      labels = next
      iters += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected-components did not converge in $MaxIters rounds " +
        "— refusing to emit wrong cluster labels")
    labels.select(col("node").as("doc_id"), col("cluster").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Small-graph path: union-find on the driver — the same pattern as the
    * reference's driver-side control loops (SURVEY §0.c). */
  private def driverCC(spark: SparkSession,
                       pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val es = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- es) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-label root
    }
    // parallelize, NOT toDF-on-Seq: a local Seq becomes a LocalRelation
    // embedded in the logical plan, re-serialized into every subsequent
    // action's tasks — at the 2M-edge limit that is a ~100 MB plan paid
    // per action (observed: 6 min in the CC stress). parallelize ships the
    // rows once as ordinary RDD partitions.
    val rows = parent.keys.toArray.sorted.map(n =>
      org.apache.spark.sql.Row(n, find(n)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq,
        math.max(1, math.min(32, rows.length / 65536))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster_id",
          org.apache.spark.sql.types.LongType, nullable = false))))
      .orderBy(col("doc_id"))
  }

  /** Shared CTE chain: signatures → bands → candidates → verified pairs →
    * bidirectional edges → transitive reach (consumed by the q42 and q74
    * oracles). */
  private val clusterCtes: String =
    s"""$duckSignatures,
       |bands AS (
       |  SELECT doc_id, s, j, md5(m[2*j+1] || m[2*j+2]) AS bh
       |  FROM sig, generate_series(0, ${N_BANDS - 1}) AS g(j)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b,
       |      CAST(round(CAST(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |            CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS DOUBLE)
       |            AS DECIMAL(28,12)), 6) AS DOUBLE) AS jaccard
       |    FROM cand JOIN sig x ON x.doc_id = doc_a JOIN sig y ON y.doc_id = doc_b)
       |  WHERE jaccard >= 0.5),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT src AS node, src AS m FROM edges
       |  UNION
       |  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.m)""".stripMargin

  val dedupClustersOracle: String =
    s"""WITH RECURSIVE $clusterCtes
       |SELECT node AS doc_id, min(m) AS cluster_id
       |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  /** q240 — near-dup cluster PURITY audit: for every q42 component, how
    * homogeneous is its language/source composition? MinHash near-dup is
    * supposed to group re-uploads of the same content; a cluster that
    * spans languages is a red flag (boilerplate-dominated shingles, a
    * too-loose threshold, or template spam) and a cluster spanning many
    * sources is exactly the cross-site syndication dedup exists to catch
    * — the audit teams run BEFORE applying q74's keeper pass, because a
    * dirty cluster deletes genuinely distinct documents. Emits per
    * cluster: member count, distinct langs/sources, and the majority-
    * language share (integer ppm — no entropy, no floats).
    *
    * Scale: one id-keyed join of the (sparse) cluster relation against
    * the doc dimension columns, then two keyed aggregates — text never
    * moves, nothing broadcasts corpus-sized state, no window anywhere. */
  def q240ClusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val m = q42DedupClusters(spark, dir)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source")), "doc_id")
    val byLang = m.groupBy(col("cluster_id"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("cluster_id"))
      .agg(sum(col("cnt")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        max(col("cnt")).as("max_lang_cnt"))
    val bySrc = m.groupBy(col("cluster_id"))
      .agg(countDistinct(col("source")).as("n_sources"))
    byLang.join(bySrc, "cluster_id")
      .select(col("cluster_id"), col("n_docs"), col("n_langs"),
        col("n_sources"),
        expr("(1000000 * max_lang_cnt) DIV n_docs").as("purity_ppm"))
      .orderBy(col("cluster_id"))
  }

  val clusterPurityOracle: String =
    s"""WITH RECURSIVE $clusterCtes,
       |cl AS (SELECT node AS doc_id, min(m) AS cluster_id
       |       FROM reach GROUP BY node),
       |j AS (SELECT cluster_id, lang, source
       |      FROM cl JOIN documents USING (doc_id)),
       |lc AS (SELECT cluster_id, lang, CAST(count(*) AS BIGINT) AS cnt
       |       FROM j GROUP BY cluster_id, lang),
       |per AS (
       |  SELECT cluster_id, CAST(sum(cnt) AS BIGINT) AS n_docs,
       |    CAST(count(*) AS BIGINT) AS n_langs,
       |    CAST(max(cnt) AS BIGINT) AS max_cnt
       |  FROM lc GROUP BY cluster_id),
       |src AS (
       |  SELECT cluster_id, CAST(count(DISTINCT source) AS BIGINT) AS n_sources
       |  FROM j GROUP BY cluster_id)
       |SELECT p.cluster_id, p.n_docs, p.n_langs, s.n_sources,
       |  (1000000 * p.max_cnt) // p.n_docs AS purity_ppm
       |FROM per p JOIN src s USING (cluster_id)
       |ORDER BY p.cluster_id""".stripMargin

  /** q74 — dedup APPLY: the pass a curation pipeline actually ships —
    * from the near-dup clusters (q42), keep the min-doc_id representative
    * of every cluster and emit the surviving corpus (per-language counts +
    * survivor list bound). Composition: q29 candidates → q42 components →
    * anti-join against the non-keeper members — the corpus-side anti-join
    * is a broadcast of the (tiny) drop list at any scale where near-dup
    * families are rare, and a keyed shuffle otherwise; nothing new
    * shuffles the text. */
  def q74DedupApply(spark: SparkSession, dir: String): DataFrame = {
    val clusters = q42DedupClusters(spark, dir) // (doc_id, cluster_id=min member)
    val drops = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    Tables.documents(spark, dir)
      .join(drops, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
           min(col("doc_id")).as("first_kept"),
           max(col("doc_id")).as("last_kept"))
      .orderBy(col("lang"))
  }

  val dedupApplyOracle: String =
    s"""WITH RECURSIVE $clusterCtes,
       |clusters AS (
       |  SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node),
       |drops AS (SELECT doc_id FROM clusters WHERE doc_id != cluster_id)
       |SELECT lang, count(*) AS n_kept, min(doc_id) AS first_kept,
       |  max(doc_id) AS last_kept
       |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM drops)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** q154 — CANONICAL SELECTION by quality: q74's keeper rule upgraded to
    * the production one — inside every near-dup cluster keep the HIGHEST-
    * QUALITY member (q35's score; ties → min doc_id), not the arbitrary
    * min-id. This is what RefinedWeb/FineWeb-class pipelines actually ship:
    * near-dups differ by boilerplate and truncation, and dropping the
    * better-scored copy throws away the cleanest text.
    *
    * Cross-engine: the keeper is `row_number() OVER (PARTITION BY cluster
    * ORDER BY quality DESC, doc_id)` = 1 — quality values are the
    * DECIMAL-routed r6 doubles both engines already agree on bit-exactly
    * (q35), so the ordering (and therefore the keeper set) is identical.
    *
    * Scale: clusters/quality are (id, number) relations — the text stays
    * in the final per-source rollup's scan. The keeper window partitions
    * by cluster_id (near-dup families are tiny; the q42 convergence guard
    * fails loud on pathological merging). Min/max — never sums — of the
    * kept qualities keep the floats order-independent. */
  def q154ClusterCanonical(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = q42DedupClusters(spark, dir).localCheckpoint()
    val quality = TextOps.q35QualityScore(spark, dir)
      .select(col("doc_id"), col("quality"))
    val member = clusters.join(quality, "doc_id")
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    val keep = member.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("doc_id"))
    val drops = clusters.join(keep, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(1L).as("dropped"))
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(quality, "doc_id")
      .join(drops, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dropped").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("dropped").isNull, 1L).otherwise(0L)).as("n_kept"),
        min(when(col("dropped").isNull, col("quality"))).as("kept_min_q"),
        max(when(col("dropped").isNull, col("quality"))).as("kept_max_q"))
      .orderBy(col("source"))
  }

  val clusterCanonicalOracle: String =
    s"""WITH RECURSIVE $clusterCtes,
       |clusters AS (
       |  SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node),
       |q AS (SELECT doc_id, quality FROM (
       |  ${TextOps.qualityOracle.replace("ORDER BY doc_id", "")})),
       |keep AS (
       |  SELECT doc_id FROM (
       |    SELECT c.doc_id,
       |      row_number() OVER (PARTITION BY c.cluster_id
       |        ORDER BY q.quality DESC, c.doc_id) AS rn
       |    FROM clusters c JOIN q USING (doc_id))
       |  WHERE rn = 1),
       |drops AS (
       |  SELECT doc_id FROM clusters
       |  WHERE doc_id NOT IN (SELECT doc_id FROM keep))
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |  CAST(sum(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  min(CASE WHEN dr.doc_id IS NULL THEN q.quality END) AS kept_min_q,
       |  max(CASE WHEN dr.doc_id IS NULL THEN q.quality END) AS kept_max_q
       |FROM documents d
       |JOIN q ON d.doc_id = q.doc_id
       |LEFT JOIN drops dr ON d.doc_id = dr.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** q96 — CLUSTER-PRECISION audit: the approximation-audit family
    * (q82/q88/q89/q90/q95) extended to the CLUSTERING step. Connected
    * components take the transitive closure of the verified LSH pairs —
    * two docs can land in one cluster without ever being compared (a—b
    * and b—c verified ⇒ {a,b,c}, with a—c unchecked). This operator
    * measures exactly that: of all intra-cluster pairs, what fraction is
    * a genuine ≥ 1/2-Jaccard near-dup? A dedup deployment watches this
    * number to decide whether transitive merging is over-collapsing
    * (chain-merge drift) before q74 drops the "duplicates".
    *
    * Cost/scale: pairs are per-cluster quadratic — fine while clusters
    * are near-dup families (tiny); a corpus with mega-clusters should
    * sample per cluster first (the q42 convergence guard already fails
    * loud on pathological merging). Verify is the q82 counting join —
    * shingle arrays never shuffle. */
  def q96ClusterPrecision(spark: SparkSession, dir: String): DataFrame = {
    val clusters = q42DedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id")).localCheckpoint()
    val cpairs = clusters.select(col("cluster_id"), col("doc_id").as("doc_a"))
      .join(clusters.select(col("cluster_id"), col("doc_id").as("doc_b")),
            "cluster_id")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    val ex = graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
              explode(call_function("graft_shingles", col("text"))).as("s"))
      .localCheckpoint()
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
    val interCnt = cpairs
      .join(ex.select(col("doc_id").as("doc_a"), col("s")), "doc_a")
      .join(ex.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    val verified = cpairs
      .join(interCnt, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("len").as("la")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("len").as("lb")), "doc_b")
      .select(when(lit(2) * coalesce(col("i"), lit(0L)) >=
                     col("la") + col("lb") - coalesce(col("i"), lit(0L)), 1L)
                .otherwise(0L).as("ok"))
    verified.agg(
        count(lit(1)).as("n_pairs"),
        sum(col("ok")).as("n_true"))
      .select(col("n_pairs"), col("n_true"),
              round((col("n_true").cast("double") / col("n_pairs").cast("double"))
                  .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
                .cast("double").as("precision"))
  }

  val clusterPrecisionOracle: String =
    s"""WITH RECURSIVE $clusterCtes,
       |clusters AS (
       |  SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node),
       |cpairs AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db
       |  FROM clusters a JOIN clusters b
       |    ON a.cluster_id = b.cluster_id AND a.doc_id < b.doc_id),
       |ver AS (
       |  SELECT da, db,
       |    CASE WHEN 2*len(list_intersect(x.s, y.s))
       |              >= len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))
       |         THEN 1 ELSE 0 END AS ok
       |  FROM cpairs JOIN sig x ON x.doc_id = da JOIN sig y ON y.doc_id = db)
       |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(ok) AS BIGINT) AS n_true,
       |  CAST(round(CAST(CAST(sum(ok) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |       AS DECIMAL(28,12)), 6) AS DOUBLE) AS precision
       |FROM ver""".stripMargin

  /** Cosine threshold for the q109/q110 semantic-dedup family. 0.3 on
    * the fixture embeddings yields a real prune (~20% of docs at sf0.01)
    * while staying far from any rounding boundary. */
  private val SemTau = 0.3

  /** Norm-prepped embedding relation shared by q109/q110 (the q31 prep). */
  private def semVecs(spark: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("nrm", call_function("graft_dot", col("v"), col("v")))
      .localCheckpoint()
  }

  private def semCos(va: Column, na: Column, vb: Column, nb: Column): Column =
    round(call_function("graft_dot", va, vb) / sqrt(na * nb), 4)

  /** Max label-cell rows before the q109 pair join sub-buckets into a
    * B×B grid (`spark.graft.semdedup.maxCell`). The label blocking bounds
    * WHICH pairs form, but a hot cell was still O(cell²) inside ONE task
    * (VERDICT r11 item 6 — the one pairwise join whose bucket size wasn't
    * a knob). With the grid, per-task work is ≤ maxCell² comparisons and
    * per-task input ≤ 2·maxCell rows, at a replication factor of
    * B = ceil(cell/maxCell) per side — Okcan & Riedewald's 1-bucket-theta
    * decomposition (SIGMOD'11), exact by construction: a pair (a,b) meets
    * in exactly the grid cell (hash(a) mod B, hash(b) mod B). */
  private[graft] def semMaxCell(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.semdedup.maxCell")
      .map(_.toLong).getOrElse(8192L)

  /** q109 — SEMANTIC dedup apply (SemDeDup, Abbas et al. 2023, public):
    * within each cluster (the pre-assigned coarse label — at 100 TB the
    * k-means cells of q71, which are also the physical partition key),
    * drop every vector that has a lower-id in-cluster neighbor at cosine
    * ≥ τ; keep the rest. The cluster blocking bounds WHICH pairs form
    * (never across the corpus — q31's join shape); the [[semMaxCell]]
    * grid bounds how much of one cell's quadratic lands in one task. The
    * survivor set is an anti-join of the tiny drop list (q74's apply
    * shape). q110 measures exactly what the blocking buys and loses. */
  def q109SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = semVecs(spark, dir)
    val maxCell = semMaxCell(spark)
    // per-label grid width B = ceil(cell/maxCell); label cardinality is
    // the coarse-quantizer size (bounded like the IVF centroid set), so
    // the size table is a bounded control read — collected ONCE and
    // reused both as the nb=1 fast-path decision and as the broadcast
    // side of the grid join (collecting, rather than broadcast(grid),
    // also saves recomputing the aggregate twice)
    val gridDf = e.groupBy(col("label"))
      .agg(ceil(count(lit(1)).cast("double") / maxCell).cast("int").as("nb"))
    val gridRows = gridDf.collect()
    val maxNb = gridRows.iterator.map(_.getInt(1)).max
    val dropped =
      if (maxNb <= 1) {
        // Fast path (round 13, VERDICT r12 item 7): every cell fits one
        // task, so the grid is degenerate (1x1 everywhere) — skip the two
        // explodes and the grow/gcol conjuncts; HOSTCHECK_r12 priced the
        // always-on plumbing at ~0.14 s on a 0.43 s query. Semantics are
        // identical by construction (a 1x1 grid replicates nothing);
        // Round12Spec pins gridded == ungridded row-for-row.
        val a = e.select(
          col("label").as("label_a"), col("vec_id").as("vec_a"),
          col("v").as("va"), col("nrm").as("na"))
        e.join(a,
            col("label") === col("label_a") &&
              col("vec_a") < col("vec_id") &&
              semCos(col("va"), col("na"), col("v"), col("nrm")) >= SemTau,
            "left_semi")
          .select(col("vec_id"))
      } else {
        import scala.jdk.CollectionConverters._
        val grid = spark.createDataFrame(gridRows.toSeq.asJava, gridDf.schema)
        val withNb = e.join(broadcast(grid), "label")
        val a = withNb.select(
          col("label").as("label_a"), col("vec_id").as("vec_a"),
          col("v").as("va"), col("nrm").as("na"),
          pmod(hash(col("vec_id")), col("nb")).as("grow_a"),
          explode(sequence(lit(0), col("nb") - 1)).as("gcol_a"))
        val b = withNb.select(
          col("label"), col("vec_id"), col("v"), col("nrm"),
          explode(sequence(lit(0), col("nb") - 1)).as("grow_b"),
          pmod(hash(col("vec_id")), col("nb")).as("gcol_b"))
        b.join(a,
            col("label") === col("label_a") &&
              col("grow_b") === col("grow_a") &&
              col("gcol_b") === col("gcol_a") &&
              col("vec_a") < col("vec_id") &&
              semCos(col("va"), col("na"), col("v"), col("nrm")) >= SemTau,
            "left_semi")
          .select(col("vec_id"))
      }
    e.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))
  }

  val semanticDedupOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE round(list_dot_product(a.v, b.v) / sqrt(a.nrm * b.nrm), 4) >= $SemTau)
       |SELECT e.vec_id, e.label FROM e
       |LEFT JOIN dropped d ON e.vec_id = d.vec_id
       |WHERE d.vec_id IS NULL
       |ORDER BY e.vec_id""".stripMargin

  /** q110 — semantic-dedup BLOCKING recall audit (the q89/q95/q96
    * pattern applied to q109): of all true cosine-≥τ pairs — computed
    * with NO label blocking over a deterministic query sample (vec_id ≡ 0
    * mod 4, the sampled-audit discipline of q89) — what fraction falls
    * inside a label block, i.e. is visible to q109 at all? The fixture
    * reads ≈0.10: the synthetic labels are NOT cosine clusters, so
    * label-blocked SemDeDup misses ~90% of true near-pairs here — the
    * honest readout that tells an operator to re-cluster (q71) before
    * trusting the prune. Plan: the sample side is broadcast; the corpus
    * never shuffles (q32's audit shape). */
  def q110SemanticRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = semVecs(spark, dir)
    val s = e.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id").as("vec_a"), col("label").as("label_a"),
              col("v").as("va"), col("nrm").as("na"))
    e.crossJoin(broadcast(s))
      .filter(col("vec_a") < col("vec_id") &&
        semCos(col("va"), col("na"), col("v"), col("nrm")) >= SemTau)
      .agg(count(lit(1)).as("true_pairs"),
           sum(when(col("label_a") === col("label"), 1L).otherwise(0L))
             .as("blocked_pairs"))
      .select(lit("sampled").as("scope"), col("true_pairs"), col("blocked_pairs"),
        round((col("blocked_pairs").cast("double") /
               col("true_pairs").cast("double"))
                .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
          .cast("double").as("recall"))
  }

  val semanticRecallOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |truth AS (
       |  SELECT a.label = b.label AS blocked
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id
       |  WHERE a.vec_id % 4 = 0
       |    AND round(list_dot_product(a.v, b.v) / sqrt(a.nrm * b.nrm), 4) >= $SemTau)
       |SELECT 'sampled' AS scope, count(*) AS true_pairs,
       |  CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) AS blocked_pairs,
       |  CAST(round(CAST(CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS DOUBLE) /
       |                  CAST(count(*) AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE) AS recall
       |FROM truth""".stripMargin

  val embeddingNearDupOracle: String =
    """WITH e AS (
      |  SELECT vec_id, label, v, list_dot_product(v, v) AS nrm
      |  FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
      |        FROM embeddings))
      |SELECT vec_a, vec_b, cos_sim FROM (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    round(list_dot_product(a.v, b.v) / sqrt(a.nrm * b.nrm), 4) AS cos_sim
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
      |WHERE cos_sim >= 0.4 ORDER BY vec_a, vec_b""".stripMargin

  /** q183's oracle: q31's, with the label cap mirrored as a CTE. */
  val embedDedupCappedOracle: String =
    s"""WITH e0 AS (
       |  SELECT vec_id, label, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |small AS (
       |  SELECT label FROM e0 GROUP BY label HAVING count(*) <= $EmbedMaxBlock),
       |e AS (SELECT e0.* FROM e0 JOIN small USING (label))
       |SELECT vec_a, vec_b, cos_sim FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    round(list_dot_product(a.v, b.v) / sqrt(a.nrm * b.nrm), 4) AS cos_sim
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
       |WHERE cos_sim >= 0.4 ORDER BY vec_a, vec_b""".stripMargin

  /** q241 — PARAPHRASE-PAIR mining, i.e. the lexical-dedup BLIND-SPOT
    * audit: pairs that are embedding-near (q31's label-blocked cosine ≥
    * 0.4) but lexically FAR (exact 3-shingle Jaccard < 0.5 — strictly
    * below the q29 MinHash dedup bar, so the lexical pass can never
    * catch them). Two uses, both standard: mined paraphrase/translation
    * pairs are contrastive/seq2seq training data (the monolingual analog
    * of q223's bitext mining), and the pair count is the honest measure
    * of how much near-duplicate MASS survives a MinHash-only dedup —
    * the SemDeDup paper's motivating gap, here as a per-pair relation
    * instead of a summary.
    *
    * Scale: the semantic side is q31's label-blocked pair join (q183's
    * cap hatch applies unchanged); shingle sets re-attach to the PAIR
    * RELATION only, by doc id (the q29 verify discipline) — the corpus
    * never self-joins on text, and the (already 4dp-rounded) cosine
    * rides through untouched. */
  def q241ParaphrasePairs(spark: SparkSession, dir: String): DataFrame = {
    val sem = q31EmbeddingNearDup(spark, dir)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"),
        col("cos_sim"))
    val sh = signatures(spark, dir).select(col("doc_id"), col("sh"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val jac = round((inter.cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - inter).cast("double"))
        .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
      .cast("double")
    sem
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("cos_sim"), jac.as("jaccard"))
      .filter(col("jaccard") < 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val paraphrasePairsOracle: String =
    s"""WITH $duckSignatures,
       |e AS (
       |  SELECT vec_id, label, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |sem AS (
       |  SELECT vec_a AS doc_a, vec_b AS doc_b, cos_sim FROM (
       |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |      round(list_dot_product(a.v, b.v) / sqrt(a.nrm * b.nrm), 4) AS cos_sim
       |    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
       |  WHERE cos_sim >= 0.4)
       |SELECT doc_a, doc_b, cos_sim, jaccard FROM (
       |  SELECT doc_a, doc_b, cos_sim,
       |    CAST(round(CAST(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |          CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS DOUBLE)
       |          AS DECIMAL(28,12)), 6) AS DOUBLE) AS jaccard
       |  FROM sem JOIN sig x ON x.doc_id = doc_a JOIN sig y ON y.doc_id = doc_b)
       |WHERE jaccard < 0.5 ORDER BY doc_a, doc_b""".stripMargin

  /** q243 — near-dup cluster COHESION audit: q240 checks a cluster's
    * metadata purity; this checks its STRUCTURE. Connected components
    * merge through single edges, so one borderline LSH pair can chain
    * two genuine dup groups into one cluster — and the keeper pass then
    * deletes documents that were never near-duplicates of the keeper.
    * The telltale is edge density: a true re-upload family verifies as a
    * near-clique (density → 10⁶ ppm), a false merge as a sparse chain
    * (density → 2·10⁶/k per k members). Emits per cluster: members,
    * verified edges, possible pairs k(k−1)/2, density ppm, and whether
    * the cluster is edge-connected beyond a bare spanning tree
    * (n_edges ≥ n_docs, i.e. contains a cycle).
    *
    * Scale: the verified pair relation re-keys to the cluster id via two
    * id-keyed joins (doc_a side is enough — both endpoints share the
    * component by construction), then one keyed aggregate joins the
    * |clusters|-row member rollup. No window, no cartesian, text never
    * moves. */
  def q243ClusterCohesion(spark: SparkSession, dir: String): DataFrame = {
    val pairs = q29LshNearDup(spark, dir).select(col("doc_a"), col("doc_b"))
    val clusters = q42DedupClusters(spark, dir) // (doc_id, cluster_id)
    val edges = pairs
      .join(clusters.select(col("doc_id").as("doc_a"),
        col("cluster_id")), "doc_a")
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_edges"))
    clusters.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_docs"))
      .join(edges, "cluster_id")
      .select(col("cluster_id"), col("n_docs"), col("n_edges"),
        expr("n_docs * (n_docs - 1) DIV 2").as("n_possible"),
        expr("(1000000 * n_edges) DIV (n_docs * (n_docs - 1) DIV 2)")
          .as("density_ppm"),
        (col("n_edges") >= col("n_docs")).cast("long").as("has_cycle"))
      .orderBy(col("cluster_id"))
  }

  val clusterCohesionOracle: String =
    s"""WITH RECURSIVE $clusterCtes,
       |cl AS (SELECT node AS doc_id, min(m) AS cluster_id
       |       FROM reach GROUP BY node),
       |cedges AS (
       |  SELECT c.cluster_id, CAST(count(*) AS BIGINT) AS n_edges
       |  FROM pairs p JOIN cl c ON c.doc_id = p.doc_a
       |  GROUP BY c.cluster_id),
       |members AS (
       |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM cl GROUP BY cluster_id)
       |SELECT m.cluster_id, m.n_docs, e.n_edges,
       |  m.n_docs * (m.n_docs - 1) // 2 AS n_possible,
       |  (1000000 * e.n_edges) // (m.n_docs * (m.n_docs - 1) // 2)
       |    AS density_ppm,
       |  CAST(CASE WHEN e.n_edges >= m.n_docs THEN 1 ELSE 0 END AS BIGINT)
       |    AS has_cycle
       |FROM members m JOIN cedges e USING (cluster_id)
       |ORDER BY m.cluster_id""".stripMargin

  /** q244 — SOFT-dedup token accounting: instead of q74's hard keeper
    * delete, weight every member of a near-dup family by 1/|family|
    * (integer ppm) so the family contributes ONE document's worth of
    * training mass spread over its variants — the duplicate-aware
    * loss-weighting / sampling alternative pipelines reach for when hard
    * dedup is too destructive (near-dups often carry small real edits).
    * Per source: docs, raw token mass, effective (weighted) token mass,
    * and the savings ratio — the readout that prices hard-vs-soft dedup
    * per source before committing to either.
    *
    * Scale: the cluster-size dimension is a keyed aggregate of the
    * (sparse) q42 relation joined back id-keyed; unclustered docs take
    * weight 10⁶ via the left join's coalesce. Token counts ride the q36
    * scan; the rollup is one partial-aggregated groupBy(source). The
    * weighted mass routes through DECIMAL(38,0) — tokens·10⁶ clips int64
    * at ~9·10¹² tokens, i.e. any real corpus. */
  def q244SoftDedupWeights(spark: SparkSession, dir: String): DataFrame = {
    val csize = q42DedupClusters(spark, dir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("k"))
    val member = q42DedupClusters(spark, dir).join(csize, "cluster_id")
      .select(col("doc_id"), expr("1000000 DIV k").as("w_ppm"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(member, Seq("doc_id"), "left")
      .withColumn("w_ppm", coalesce(col("w_ppm"), lit(1000000L)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("raw_tokens"),
        sum(expr(
          "CAST(CAST(n_tokens AS DECIMAL(38,0)) * w_ppm DIV 1000000 AS BIGINT)"))
          .as("eff_tokens"))
      .withColumn("savings_ppm",
        expr("1000000 - CAST(CAST(eff_tokens AS DECIMAL(38,0)) * 1000000" +
             " DIV raw_tokens AS BIGINT)"))
      .orderBy(col("source"))
  }

  val softDedupWeightsOracle: String =
    s"""WITH RECURSIVE $clusterCtes,
       |cl AS (SELECT node AS doc_id, min(m) AS cluster_id
       |       FROM reach GROUP BY node),
       |ks AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS k
       |       FROM cl GROUP BY cluster_id),
       |w AS (SELECT doc_id, 1000000 // k AS w_ppm
       |      FROM cl JOIN ks USING (cluster_id)),
       |d AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT)
       |      AS n_tokens
       |  FROM documents),
       |rolled AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
       |    CAST(sum(CAST(n_tokens AS HUGEINT) * coalesce(w.w_ppm, 1000000)
       |             // 1000000) AS BIGINT) AS eff_tokens
       |  FROM d LEFT JOIN w USING (doc_id)
       |  GROUP BY source)
       |SELECT source, n_docs, raw_tokens, eff_tokens,
       |  1000000 - CAST(CAST(eff_tokens AS HUGEINT) * 1000000 // raw_tokens
       |                 AS BIGINT) AS savings_ppm
       |FROM rolled ORDER BY source""".stripMargin

  /** All (bands, rows) factorizations of the signature width — the q242
    * planner's config grid. */
  private val BandConfigs: Seq[(Int, Int)] =
    (1 to K_HASHES).filter(K_HASHES % _ == 0).map(b => (b, K_HASHES / b))

  /** Fixed-point ppm power with EXPLICIT truncation at every step —
    * rendered once per (literal) exponent into both engines' SQL so the
    * iterated `acc·x DIV 10⁶` walks identical integer ops. `div` is the
    * dialect spelling (`DIV` Spark, `//` DuckDB). */
  private def powPpmSql(base: String, k: Int, div: String): String =
    (1 to k).foldLeft("1000000")((acc, _) => s"(($acc) * ($base)) $div 1000000")

  private def collisionPpmSql(b: Int, r: Int, div: String): String = {
    val srp = powPpmSql("s_ppm", r, div)
    s"1000000 - ${powPpmSql(s"(1000000 - ($srp))", b, div)}"
  }

  /** q242 — LSH BANDING PLANNER: before re-running dedup at corpus scale,
    * which (bands × rows) split of the K-wide MinHash signature should it
    * use? For every factorization of K and every observed candidate-pair
    * Jaccard bucket, emit the banding's collision probability
    * 1−(1−s^r)^b and the expected collisions over the observed pair mass
    * — the classic S-curve sharpness/recall tradeoff (narrow bands catch
    * more low-similarity pairs = more verify work; tall bands miss
    * borderline dups), priced against THIS corpus's pair distribution
    * instead of a textbook curve. The distribution is conditioned on the
    * current banding's candidate set — the only pair mass observable
    * without an all-pairs join, and exactly the population a re-banding
    * decision re-prices.
    *
    * Determinism: the probability is fixed-point integer — s in 5%
    * buckets recomputed from shingle-intersection INTEGERS ((20·∩) DIV ∪,
    * never the rounded float), and every power iterates `acc·x DIV 10⁶`
    * with per-step truncation rendered identically into both engines
    * ([[powPpmSql]]). Scale: one bucket rollup of the (bounded) verified
    * candidate relation, then a |configs|·|buckets| dimension map —
    * nothing beyond q29's candidate discipline touches the corpus. */
  def q242LshBandPlanner(spark: SparkSession, dir: String): DataFrame = {
    val sig = signatures(spark, dir)
    val sh = sig.select(col("doc_id"), col("sh"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val uni = (size(col("sh_a")) + size(col("sh_b"))).cast("long") - inter
    val buckets = lshCandidates(lshBands(sig))
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(inter.as("i"), uni.as("u"))
      .select(expr("((20 * i) DIV u) * 5").as("bucket_pct"))
      .groupBy(col("bucket_pct")).agg(count(lit(1)).as("n_pairs"))
      .withColumn("s_ppm", col("bucket_pct") * 10000L)
    val legs = BandConfigs.map { case (b, r) =>
      val p = collisionPpmSql(b, r, "DIV")
      buckets.select(
        lit(b.toLong).as("n_bands"), lit(r.toLong).as("n_rows"),
        col("bucket_pct"), col("n_pairs"),
        expr(p).as("p_ppm"),
        expr(s"(n_pairs * ($p)) DIV 1000000").as("exp_collisions"))
    }
    legs.reduce(_.unionByName(_))
      .orderBy(col("n_bands"), col("bucket_pct"))
  }

  val lshBandPlannerOracle: String = {
    val legs = BandConfigs.map { case (b, r) =>
      val p = collisionPpmSql(b, r, "//")
      s"""SELECT CAST($b AS BIGINT) AS n_bands, CAST($r AS BIGINT) AS n_rows,
         |  bucket_pct, n_pairs,
         |  CAST($p AS BIGINT) AS p_ppm,
         |  CAST((n_pairs * ($p)) // 1000000 AS BIGINT) AS exp_collisions
         |FROM buckets""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $duckSignatures,
       |bands AS (
       |  SELECT doc_id, s, j, md5(m[2*j+1] || m[2*j+2]) AS bh
       |  FROM sig, generate_series(0, ${N_BANDS - 1}) AS g(j)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |buckets AS (
       |  SELECT bucket_pct, CAST(count(*) AS BIGINT) AS n_pairs,
       |         bucket_pct * 10000 AS s_ppm
       |  FROM (
       |    SELECT ((20 * len(list_intersect(x.s, y.s))) //
       |            (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))) * 5
       |      AS bucket_pct
       |    FROM cand JOIN sig x ON x.doc_id = doc_a
       |              JOIN sig y ON y.doc_id = doc_b)
       |  GROUP BY bucket_pct)
       |SELECT * FROM (
       |$legs
       |) ORDER BY n_bands, bucket_pct""".stripMargin
  }

  /** q81 — INCREMENTAL dedup: a new batch (doc_id ≡ 4 mod 5, the arrivals)
    * screened against the existing corpus (everything else) — the shape a
    * continuously-ingesting pipeline runs per increment, instead of
    * re-clustering the world (q42). Each new doc gets its best corpus
    * near-dup (max verified Jaccard, min doc_id tiebreak) or `new` status.
    *
    * Scale shape: the corpus's band relation is a PRECOMPUTED artifact in
    * steady state (written once by the batch pass, partitioned by
    * band_hash), so the per-increment cost is banding the batch + one
    * bucket join whose left side is |batch|-sized — corpus text and
    * signatures are never rescanned; shingles re-attach only for candidate
    * pairs, exactly as in q29. */
  def q81IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val sig = signatures(spark, dir)
    val bands = lshBands(sig)
    val isBatch = col("doc_id") % 5 === 4
    val cand = bands.filter(isBatch).toDF("new_doc", "band_idx", "band_hash")
      .join(bands.filter(!isBatch).toDF("dup_of", "band_idx", "band_hash"),
            Seq("band_idx", "band_hash"))
      .select("new_doc", "dup_of")
      .dropDuplicates("new_doc", "dup_of")
    val sh = sig.select(col("doc_id"), col("sh"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val jac = round((inter.cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - inter).cast("double"))
        .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
      .cast("double")
    val verified = cand
      .join(sh.select(col("doc_id").as("new_doc"), col("sh").as("sh_a")), "new_doc")
      .join(sh.select(col("doc_id").as("dup_of"), col("sh").as("sh_b")), "dup_of")
      .select(col("new_doc"), col("dup_of"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("new_doc"))
      .orderBy(col("jaccard").desc, col("dup_of"))
    val best = verified.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    sig.filter(isBatch).select(col("doc_id").as("new_doc"))
      .join(best, Seq("new_doc"), "left")
      .select(col("new_doc"), col("dup_of"), col("jaccard"),
        when(col("dup_of").isNotNull, "dup").otherwise("new").as("status"))
      .orderBy(col("new_doc"))
  }

  val incrementalDedupOracle: String =
    s"""WITH $duckSignatures,
       |bands AS (
       |  SELECT doc_id, s, j, md5(m[2*j+1] || m[2*j+2]) AS bh
       |  FROM sig, generate_series(0, ${N_BANDS - 1}) AS g(j)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS dup_of
       |  FROM bands a JOIN bands b ON a.j = b.j AND a.bh = b.bh
       |  WHERE a.doc_id % 5 = 4 AND b.doc_id % 5 <> 4),
       |verified AS (
       |  SELECT new_doc, dup_of, jaccard FROM (
       |    SELECT new_doc, dup_of,
       |      CAST(round(CAST(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |            CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS DOUBLE)
       |            AS DECIMAL(28,12)), 6) AS DOUBLE) AS jaccard
       |    FROM cand JOIN sig x ON x.doc_id = new_doc JOIN sig y ON y.doc_id = dup_of)
       |  WHERE jaccard >= 0.5),
       |best AS (
       |  SELECT new_doc, dup_of, jaccard FROM (
       |    SELECT *, row_number() OVER (PARTITION BY new_doc
       |                ORDER BY jaccard DESC, dup_of) AS rn
       |    FROM verified)
       |  WHERE rn = 1)
       |SELECT s.doc_id AS new_doc, b.dup_of, b.jaccard,
       |  CASE WHEN b.dup_of IS NOT NULL THEN 'dup' ELSE 'new' END AS status
       |FROM sig s LEFT JOIN best b ON b.new_doc = s.doc_id
       |WHERE s.doc_id % 5 = 4
       |ORDER BY new_doc""".stripMargin

  /** q125 — near-dup BURDEN by source: for every source, how many of
    * its docs sit in at least one verified near-dup pair (q29's exact-
    * Jaccard-verified LSH pairs), and how many of those have a partner
    * in a DIFFERENT source. This is the provenance diagnostic a curation
    * pipeline reads before choosing a dedup keeper rule: high
    * within-source duplication points at a crawler re-fetching, high
    * cross-source duplication at mirrored content — different remedies
    * (cf. the per-dump vs global MinHash dedup finding in FineWeb,
    * Penedo et al. 2024). Shape: q29's pair set (tiny — candidates are
    * band-bucket-joined, never all-pairs) explodes into per-side
    * involvement rows; sources attach via two joins against the slim
    * (doc_id, source) projection; countDistinct collapses multi-pair
    * docs. Integer-only output. */
  def q125DupBurden(spark: SparkSession, dir: String): DataFrame = {
    val pairs = q29LshNearDup(spark, dir).select(col("doc_a"), col("doc_b"))
    val touched = pairs
      .select(col("doc_a").as("doc_id"), col("doc_b").as("partner"))
      .union(pairs.select(col("doc_b").as("doc_id"), col("doc_a").as("partner")))
    val slim = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val per = touched
      .join(slim, Seq("doc_id"))
      .join(slim.select(col("doc_id").as("partner"), col("source").as("p_src")),
            Seq("partner"))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("dup_docs"),
           countDistinct(when(col("p_src") =!= col("source"),
                              col("doc_id"))).as("cross_docs"))
    slim.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(per, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("dup_docs"), lit(0L)).as("dup_docs"),
        coalesce(col("cross_docs"), lit(0L)).as("cross_docs"))
      .orderBy(col("source"))
  }

  val dupBurdenOracle: String =
    s"""WITH $duckSignatures,
       |bands AS (
       |  SELECT doc_id, s, j, md5(m[2*j+1] || m[2*j+2]) AS bh
       |  FROM sig, generate_series(0, ${N_BANDS - 1}) AS g(j)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b,
       |      CAST(round(CAST(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |            CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS DOUBLE)
       |            AS DECIMAL(28,12)), 6) AS DOUBLE) AS jaccard
       |    FROM cand JOIN sig x ON x.doc_id = doc_a JOIN sig y ON y.doc_id = doc_b)
       |  WHERE jaccard >= 0.5),
       |touched AS (
       |  SELECT doc_a AS doc_id, doc_b AS partner FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |per AS (
       |  SELECT d.source,
       |    CAST(count(DISTINCT t.doc_id) AS BIGINT) AS dup_docs,
       |    CAST(count(DISTINCT CASE WHEN p.source <> d.source
       |                             THEN t.doc_id END) AS BIGINT) AS cross_docs
       |  FROM touched t
       |  JOIN documents d ON d.doc_id = t.doc_id
       |  JOIN documents p ON p.doc_id = t.partner
       |  GROUP BY d.source)
       |SELECT s.source, CAST(s.n_docs AS BIGINT) AS n_docs,
       |  CAST(coalesce(per.dup_docs, 0) AS BIGINT) AS dup_docs,
       |  CAST(coalesce(per.cross_docs, 0) AS BIGINT) AS cross_docs
       |FROM (SELECT source, count(*) AS n_docs FROM documents GROUP BY source) s
       |LEFT JOIN per USING (source)
       |ORDER BY s.source""".stripMargin

  /** q138 — SPLIT-LEAKAGE audit: near-dup pairs that STRADDLE a
    * train/val/test split — the number dataset papers report to show
    * their held-out sets are actually held out (a val doc whose
    * near-duplicate sits in train is leaked supervision; exact-match
    * decontamination misses it, which is why the check runs on the
    * VERIFIED near-dup pair set, q29). The split is the library's
    * deterministic md5 gate (75/12.5/12.5 by doc_id hash prefix — the
    * q44/q58 family, no RNG state), so the audit is reproducible at any
    * parallelism and both engines agree by string comparison. Output is
    * the unordered split-pair matrix with a `leaky` flag; conservation
    * (Σ n_pairs == |pair set|) is pinned by Round4cSpec. Shape: two
    * broadcast-friendly joins of the tiny pair set against the
    * (doc_id, split) projection, then a 6-row aggregate. */
  def q138SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val gate = substring(md5(col("doc_id").cast("string")), 1, 2)
    val split = when(gate < "c0", "train").when(gate < "e0", "val")
      .otherwise("test")
    val splits = Tables.documents(spark, dir)
      .select(col("doc_id"), split.as("split"))
    q29LshNearDup(spark, dir).select(col("doc_a"), col("doc_b"))
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("sa")),
            Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("sb")),
            Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("split_lo"),
              greatest(col("sa"), col("sb")).as("split_hi"))
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaky", col("split_lo") =!= col("split_hi"))
      .orderBy(col("split_lo"), col("split_hi"))
  }

  val splitLeakageOracle: String =
    s"""WITH $duckSignatures,
       |bands AS (
       |  SELECT doc_id, s, j, md5(m[2*j+1] || m[2*j+2]) AS bh
       |  FROM sig, generate_series(0, ${N_BANDS - 1}) AS g(j)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b,
       |      CAST(round(CAST(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |            CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS DOUBLE)
       |            AS DECIMAL(28,12)), 6) AS DOUBLE) AS jaccard
       |    FROM cand JOIN sig x ON x.doc_id = doc_a JOIN sig y ON y.doc_id = doc_b)
       |  WHERE jaccard >= 0.5),
       |splits AS (
       |  SELECT doc_id,
       |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0'
       |           THEN 'train'
       |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e0'
       |           THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |m AS (
       |  SELECT least(x.split, y.split) AS split_lo,
       |         greatest(x.split, y.split) AS split_hi
       |  FROM pairs p
       |  JOIN splits x ON x.doc_id = p.doc_a
       |  JOIN splits y ON y.doc_id = p.doc_b)
       |SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs,
       |  split_lo <> split_hi AS leaky
       |FROM m GROUP BY split_lo, split_hi
       |ORDER BY split_lo, split_hi""".stripMargin

  // -------------------------------------------------------------------------
  // q173 — FUZZY benchmark decontamination (the MinHash-LSH complement of
  // q67/q100's exact pass): eval items are usually reformatted versions
  // of web text, so exact-hash decontamination misses them; the standard
  // fix (GPT-3 appx C / Llama-style fuzzy dedup against eval sets) is a
  // near-dup join between the corpus and the benchmark. The benchmark is
  // carved deterministically (doc_id % 17 == 3) and REFORMATTED (an
  // appended eval-suite marker), so every benchmark item has a true
  // near-dup in the corpus by construction — recomputed identically by
  // the oracle; band collisions, not the fixture, decide what's caught.
  // -------------------------------------------------------------------------

  /** Benchmark carve: one doc in 17 (coprime to the source stride). */
  val BenchMod = 17L

  /** q173 — per-source contamination triage: distinct corpus docs whose
    * banded MinHash collides with a benchmark item AND whose exact
    * shingle Jaccard >= 0.5 (q29's verify contract: decimal-rounded to
    * 6dp BEFORE the threshold). Scale: both sides band to 3 small
    * columns; the benchmark side is a broadcast dimension (real eval
    * suites are thousands of rows); shingle arrays re-attach only for
    * the candidate set. */
  def q173FuzzyDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsWide(spark, dir)
    val corpus = docs.select(col("doc_id"), col("source"),
      call_function("graft_shingles", col("text")).as("sh"),
      call_function("graft_minhash", col("text"), lit(K_HASHES)).as("m"))
      .localCheckpoint()
    val benchText = concat(col("text"), lit(" evalsuite item"))
    val bench = docs.filter(col("doc_id") % BenchMod === 3L)
      .select(col("doc_id").as("bench_id"),
        call_function("graft_shingles", benchText).as("shb"),
        call_function("graft_minhash", benchText, lit(K_HASHES)).as("mb"))
      .localCheckpoint()
    val corpusBands = lshBands(corpus.select(col("doc_id"), col("m")))
    val benchBands = lshBands(
        bench.select(col("bench_id").as("doc_id"), col("mb").as("m")))
      .toDF("bench_id", "band_idx", "band_hash")
    val cand = corpusBands.join(broadcast(benchBands), Seq("band_idx", "band_hash"))
      .select(col("doc_id"), col("bench_id"))
      .dropDuplicates("doc_id", "bench_id")
    val inter = size(array_intersect(col("sh"), col("shb")))
    val jac = round((inter.cast("double") /
        (size(col("sh")) + size(col("shb")) - inter).cast("double"))
        .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
      .cast("double")
    val contaminated = cand
      .join(corpus.select(col("doc_id"), col("sh")), "doc_id")
      .join(broadcast(bench.select(col("bench_id"), col("shb"))), "bench_id")
      .select(col("doc_id"), jac.as("j"))
      .filter(col("j") >= 0.5)
      .select(col("doc_id")).distinct()
      .withColumn("is_c", lit(1L))
    docs.select(col("source"), col("doc_id"))
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_c"), lit(0L))).as("n_contam"))
      .withColumn("contam_ppm", expr("(1000000 * n_contam) DIV n_docs"))
      .orderBy(col("source"))
  }

  val fuzzyDecontamOracle: String =
    s"""WITH ct AS (
       |  SELECT doc_id, source, regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents),
       |cs AS (SELECT doc_id, source, ${TextOps.duckShingles} AS s FROM ct),
       |csig AS (
       |  SELECT doc_id, source, s, list_transform(range(0, $K_HASHES),
       |    i -> list_aggregate(list_transform(s, x -> md5(i::VARCHAR || ':' || x)), 'min')) AS m
       |  FROM cs),
       |bt AS (
       |  SELECT doc_id AS bench_id,
       |    regexp_split_to_array(lower(text || ' evalsuite item'), '\\s+') AS t
       |  FROM documents WHERE doc_id % $BenchMod = 3),
       |bs AS (SELECT bench_id, ${TextOps.duckShingles} AS s FROM bt),
       |bsig AS (
       |  SELECT bench_id, s, list_transform(range(0, $K_HASHES),
       |    i -> list_aggregate(list_transform(s, x -> md5(i::VARCHAR || ':' || x)), 'min')) AS m
       |  FROM bs),
       |cbands AS (
       |  SELECT doc_id, j, md5(m[2*j+1] || m[2*j+2]) AS bh
       |  FROM csig, generate_series(0, ${N_BANDS - 1}) AS g(j)),
       |bbands AS (
       |  SELECT bench_id, j, md5(m[2*j+1] || m[2*j+2]) AS bh
       |  FROM bsig, generate_series(0, ${N_BANDS - 1}) AS g(j)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id, b.bench_id
       |  FROM cbands a JOIN bbands b ON a.j = b.j AND a.bh = b.bh),
       |ver AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT c.doc_id,
       |      CAST(round(CAST(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |        CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS DOUBLE)
       |        AS DECIMAL(28,12)), 6) AS DOUBLE) AS j
       |    FROM cand c
       |    JOIN csig x ON x.doc_id = c.doc_id
       |    JOIN bsig y ON y.bench_id = c.bench_id)
       |  WHERE j >= 0.5)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN v.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contam,
       |  (1000000 * CAST(sum(CASE WHEN v.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT))
       |    // CAST(count(*) AS BIGINT) AS contam_ppm
       |FROM documents d LEFT JOIN ver v ON v.doc_id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // -------------------------------------------------------------------------
  // q184 — LSH banding PARAMETER SWEEP: the (bands, rows/band) operating
  // curve every MinHash deployment records before picking its config (the
  // q176 nprobe-sweep discipline applied to LSH). With a K-hash signature,
  // (b, r) with b·r = K trades candidate volume against recall along
  // p(match) = 1 − (1 − s^r)^b: more rows per band → fewer, more precise
  // candidates. All three configs reuse ONE signature relation; truth is
  // q82's exact join (the verified sets are ⊆ truth by construction —
  // the verify step applies the SAME exact-Jaccard criterion — so recall
  // is a plain count ratio, no pair-set intersection job).
  // -------------------------------------------------------------------------

  /** q184's config grid: every factorization b·r = K_HASHES with b > 1. */
  private val SweepConfigs = Seq((8, 1), (4, 2), (2, 4))

  /** Banding generalized to r rows per band (q29's `lshBands` is the
    * r = 2 case): band j's hash = md5 of the concatenated minhash hexes
    * j·r+1 .. j·r+r (fixed-width, so bare concat is unambiguous). */
  private def bandsAt(sig: DataFrame, b: Int, r: Int): DataFrame =
    sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(b - 1)), j =>
        md5(concat((0 until r).map(k => element_at(col("m"), j * r + k + 1)): _*)))))
      .toDF("doc_id", "band_idx", "band_hash")

  /** q184 — per config: candidate pairs, exact-verified pairs, global
    * truth, recall ppm. One signature build + three banded bucket-joins
    * + one exact-join count; every exchanged row is (id, idx, hash). */
  def q184LshBandSweep(spark: SparkSession, dir: String): DataFrame = {
    val sig = signatures(spark, dir)
    val sh = sig.select(col("doc_id"), col("sh"))
    // truth: |exact qualifying pairs| — a 1-row control relation
    val truth = SimJoin.q82JaccardJoin(spark, dir)
      .agg(count(lit(1)).as("n_truth"))
    val legs = SweepConfigs.map { case (b, r) =>
      val cand = lshCandidates(bandsAt(sig, b, r))
      val inter = size(array_intersect(col("sh_a"), col("sh_b")))
      // verify with q82's EXACT integer criterion (TD·∩ ≥ TN·∪ at 1/2 ⇔
      // 2·∩ ≥ |A|+|B|−∩), not a rounded double: a pair whose true Jaccard
      // sits in [0.4999995, 0.5) would pass a 6-dp-rounded ≥ 0.5 test
      // without being in q82's truth set, breaking verified ⊆ truth (and
      // letting recall_ppm exceed 1e6) on very long documents
      val qualifies = lit(2L) * inter >=
        size(col("sh_a")) + size(col("sh_b")) - inter
      cand
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .agg(count(lit(1)).as("n_candidates"),
             sum(when(qualifies, 1L).otherwise(0L)).as("n_verified"))
        .select(lit(b.toLong).as("n_bands"), lit(r.toLong).as("rows_per_band"),
                col("n_candidates"), coalesce(col("n_verified"), lit(0L)).as("n_verified"))
    }
    legs.reduce(_.union(_))
      .crossJoin(truth) // 1-row control side
      .withColumn("recall_ppm",
        when(col("n_truth") === 0L, 0L)
          .otherwise(expr("(1000000 * n_verified) DIV n_truth")))
      .orderBy(col("rows_per_band"))
  }

  val lshBandSweepOracle: String = {
    val cfgCtes = SweepConfigs.map { case (b, r) =>
      val cat = (1 to r).map(k => s"m[j*$r+$k]").mkString(" || ")
      s"""bands_${b}_$r AS (
         |  SELECT doc_id, s, j, md5($cat) AS bh
         |  FROM sig, generate_series(0, ${b - 1}) AS g(j)),
         |cand_${b}_$r AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands_${b}_$r a JOIN bands_${b}_$r b
         |    ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |ver_${b}_$r AS (
         |  SELECT CAST($b AS BIGINT) AS n_bands, CAST($r AS BIGINT) AS rows_per_band,
         |    CAST(count(*) AS BIGINT) AS n_candidates,
         |    CAST(coalesce(sum(CASE WHEN 2 * i >= u THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_verified
         |  FROM (
         |    SELECT len(list_intersect(x.s, y.s)) AS i,
         |      len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS u
         |    FROM cand_${b}_$r c
         |    JOIN sig x ON x.doc_id = c.doc_a
         |    JOIN sig y ON y.doc_id = c.doc_b))""".stripMargin
    }.mkString(",\n")
    val legs = SweepConfigs
      .map { case (b, r) => s"SELECT * FROM ver_${b}_$r" }
      .mkString(" UNION ALL ")
    s"""WITH $duckSignatures,
       |truth AS (
       |  -- empty-shingle docs never pair (no shared posting exists); the
       |  -- degenerate 0 >= 0 "pair" of two empty docs must not count
       |  SELECT CAST(count(*) AS BIGINT) AS n_truth FROM (
       |    SELECT a.doc_id
       |    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |    WHERE len(a.s) > 0 AND len(b.s) > 0
       |      AND 2*len(list_intersect(a.s, b.s)) >=
       |          len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))),
       |$cfgCtes
       |SELECT v.n_bands, v.rows_per_band, v.n_candidates, v.n_verified,
       |  t.n_truth,
       |  CASE WHEN t.n_truth = 0 THEN 0
       |       ELSE (1000000 * v.n_verified) // t.n_truth END AS recall_ppm
       |FROM ($legs) v CROSS JOIN truth t
       |ORDER BY v.rows_per_band""".stripMargin
  }

  // -------------------------------------------------------------------------
  // q199 — CROSS-SOURCE duplication matrix: q29's verified near-dup pairs
  // attributed to their (unordered) source pair — the provenance-overlap
  // readout that tells a curator WHICH crawls copy from each other
  // (mirror sites, syndication, re-crawls under a new label). Within-
  // source duplication (the diagonal) and cross-source leakage (the
  // off-diagonal) are different remediations: the first is dedup, the
  // second is a source-selection decision.
  //
  // Scale: the pair relation is the bounded LSH-verified output; both
  // source attachments are keyed doc_id joins against the narrow
  // (doc_id, source) projection; the matrix is ≤|sources|² rows.
  // -------------------------------------------------------------------------

  /** q199 — (src_lo, src_hi) → verified near-dup pair count. */
  def q199SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val pairs = q29LshNearDup(spark, dir).select(col("doc_a"), col("doc_b"))
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("src_lo"),
              greatest(col("sa"), col("sb")).as("src_hi"))
      .groupBy(col("src_lo"), col("src_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("src_lo"), col("src_hi"))
  }

  val sourceOverlapOracle: String =
    s"""WITH pairs AS ($lshNearDupOracle)
       |SELECT least(a.source, b.source) AS src_lo,
       |  greatest(a.source, b.source) AS src_hi,
       |  CAST(count(*) AS BIGINT) AS n_pairs
       |FROM pairs p
       |JOIN documents a ON a.doc_id = p.doc_a
       |JOIN documents b ON b.doc_id = p.doc_b
       |GROUP BY 1, 2 ORDER BY src_lo, src_hi""".stripMargin

  // -------------------------------------------------------------------------
  // q211 — KEEPER-POLICY sweep: q74 ships min-id keepers, q154 ships
  // best-quality keepers; before choosing, a curation run compares the
  // candidate policies' corpus-level consequences side by side (the
  // q176/q184 sweep discipline applied to the keeper rule). One row per
  // policy over the SAME q42 clusters: survivors, token mass kept vs
  // dropped, mean kept quality. Docs in no cluster are singletons (their
  // own keeper) under every policy.
  //
  // Scale: clusters/quality are (id, number) relations; each policy is
  // one groupBy(cluster) whose keeper comes from min(struct(order-key,
  // doc_id, payload…)) — an algebraic min with map-side combine, NO
  // per-cluster window, no text anywhere. The payload fields ride behind
  // the (unique) tiebreak, so the min is total-order deterministic.
  // -------------------------------------------------------------------------

  /** q211 — per policy: n_kept, tokens kept/dropped, mean kept quality. */
  def q211KeeperPolicySweep(spark: SparkSession, dir: String): DataFrame = {
    val clusters = q42DedupClusters(spark, dir)
    val member = TextOps.q35QualityScore(spark, dir)
      .select(col("doc_id"), col("n_tok"),
        expr("CAST(round(quality * 1000000.0) AS BIGINT)").as("q_ppm"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .localCheckpoint() // three policy aggregates consume it; cuts CC lineage
    def leg(policy: String, ord: org.apache.spark.sql.Column): DataFrame =
      member.groupBy(col("cluster_id"))
        .agg(min(struct(ord.as("o"), col("doc_id").as("id"),
                        col("n_tok").as("kn"), col("q_ppm").as("kq"))).as("k"),
             sum(col("n_tok")).as("tok_all"))
        .agg(count(lit(1)).as("n_kept"),
             sum(col("k.kn")).as("tokens_kept"),
             (sum(col("tok_all")) - sum(col("k.kn"))).as("tokens_dropped"),
             sum(col("k.kq")).as("kq_sum"))
        // quality can be negative (q35's −3·punct term): route the mean
        // through sign·(|num| DIV den) — Spark DIV truncates, DuckDB //
        // floors, and they only agree on non-negative operands
        .select(lit(policy).as("policy"), col("n_kept"), col("tokens_kept"),
          col("tokens_dropped"),
          expr("""CASE WHEN kq_sum >= 0 THEN kq_sum DIV n_kept
                  ELSE -((-kq_sum) DIV n_kept) END""").as("kept_quality_ppm"))
    leg("keep_best_quality", -col("q_ppm"))
      .unionByName(leg("keep_longest", -col("n_tok")))
      .unionByName(leg("keep_min_id", col("doc_id")))
      .orderBy(col("policy"))
  }

  val keeperPolicySweepOracle: String = {
    val legs = Seq(
      ("keep_best_quality", "r_q"),
      ("keep_longest", "r_l"),
      ("keep_min_id", "r_i")).map { case (p, r) =>
      s"""SELECT '$p' AS policy,
         |  CAST(sum(CASE WHEN $r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN $r = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept,
         |  CAST(sum(n_tok) - sum(CASE WHEN $r = 1 THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS tokens_dropped,
         |  CASE WHEN sum(CASE WHEN $r = 1 THEN q_ppm ELSE 0 END) >= 0
         |    THEN CAST(sum(CASE WHEN $r = 1 THEN q_ppm ELSE 0 END)
         |         // sum(CASE WHEN $r = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    ELSE -CAST((-sum(CASE WHEN $r = 1 THEN q_ppm ELSE 0 END))
         |         // sum(CASE WHEN $r = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |  END AS kept_quality_ppm
         |FROM ranked""".stripMargin
    }.mkString("\n UNION ALL \n")
    s"""WITH RECURSIVE $clusterCtes,
       |clusters AS (
       |  SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node),
       |scored AS (
       |  SELECT doc_id, n_tok, CAST(round(quality * 1000000.0) AS BIGINT) AS q_ppm
       |  FROM (${TextOps.qualityOracle})),
       |member AS (
       |  SELECT s.doc_id, s.n_tok, s.q_ppm,
       |    coalesce(c.cluster_id, s.doc_id) AS cluster_id
       |  FROM scored s LEFT JOIN clusters c ON c.doc_id = s.doc_id),
       |ranked AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY cluster_id
       |                       ORDER BY q_ppm DESC, doc_id) AS r_q,
       |    row_number() OVER (PARTITION BY cluster_id
       |                       ORDER BY n_tok DESC, doc_id) AS r_l,
       |    row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id) AS r_i
       |  FROM member)
       |SELECT * FROM ($legs) ORDER BY policy""".stripMargin
  }

  // -------------------------------------------------------------------------
  // q226 — SOURCE-level MinHash similarity matrix: the q28 signature
  // kernel read at corpus granularity. MinHash's defining algebra — the
  // minimum over a UNION is the minimum of the minima — means a source's
  // signature is the per-slot min over its docs' signatures: no second
  // pass over text, no source-level shingle set ever materializes. The
  // slot-agreement rate between two sources estimates the Jaccard of
  // their full shingle vocabularies — the cheap "how much does crawl A
  // overlap crawl B" triage that runs BEFORE q199's exact doc-level dup
  // matrix is worth its cost (resolution 1/K; production widens K).
  //
  // Scale: per-doc signatures come from the shared leaf; they collapse to
  // |sources|·K rows at the scan (partial-aggregated min). The pairwise
  // matrix is a broadcast self-join over that bounded dimension. Nothing
  // downstream of the scan grows with the corpus.
  // -------------------------------------------------------------------------

  /** q226 — (src_a < src_b, slot agreements, similarity ppm). */
  def q226SourceMinhashSim(spark: SparkSession, dir: String): DataFrame = {
    val sig = signatures(spark, dir)
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val slots = sig.join(src, "doc_id")
      .select(col("source"), posexplode(col("m")).as(Seq("slot", "h")))
      .groupBy(col("source"), col("slot")).agg(min(col("h")).as("h"))
    val a = slots.select(col("source").as("src_a"), col("slot"), col("h").as("ha"))
    val b = slots.select(col("source").as("src_b"), col("slot").as("slot_b"),
                         col("h").as("hb"))
    a.join(broadcast(b),
        col("slot_b") === col("slot") && col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(when(col("ha") === col("hb"), 1L).otherwise(0L)).as("n_agree"))
      .select(col("src_a"), col("src_b"), col("n_agree"),
        expr(s"(1000000 * n_agree) DIV $K_HASHES").as("sim_ppm"))
      .orderBy(col("src_a"), col("src_b"))
  }

  // -------------------------------------------------------------------------
  // q231 — NEAR-DUP LEAKAGE across the train/holdout split: q138 audits
  // EXACT-hash leakage, but the pair a benchmark actually bleeds through
  // is the near-duplicate — same document, different boilerplate — which
  // deterministic hash splitting cannot see (the two copies hash to
  // independent sides with P = 2·p·(1−p)). This operator classifies every
  // VERIFIED near-dup pair (q29's banded + exact-Jaccard-verified set)
  // by the split side of its endpoints: a fat `cross` row is eval
  // contamination that survives exact dedup.
  //
  // Split gate: the q44 convention — md5(doc_id) prefix < 'cc' (≈ 80%)
  // is train, else holdout; reproducible across engines/runs/cluster
  // sizes.
  //
  // Scale: inherits q29's whole discipline (band bucket-join, arrays
  // only re-attached for candidates); classification is a row-map on the
  // |pairs| relation; the share window runs on ≤ 3 rows.
  // -------------------------------------------------------------------------

  /** q231 — (pair_class ∈ {train_train, cross, heldout_heldout}, n_pairs,
    * share_ppm of all verified near-dup pairs). */
  def q231SplitLeakNearDup(spark: SparkSession, dir: String): DataFrame = {
    def gate(c: Column): Column =
      when(substring(md5(c.cast("string")), 1, 2) < "cc", "train")
        .otherwise("heldout")
    val agg = q29LshNearDup(spark, dir)
      .select(gate(col("doc_a")).as("ga"), gate(col("doc_b")).as("gb"))
      .select(when(col("ga") === col("gb"),
                   concat(col("ga"), lit("_"), col("gb")))
              .otherwise("cross").as("pair_class"))
      .groupBy(col("pair_class")).agg(count(lit(1)).as("n_pairs"))
    // ≤3-row dimension window — the q123/q21 bounded pattern
    agg
      .withColumn("total", sum(col("n_pairs"))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)))
      .select(col("pair_class"), col("n_pairs"),
        expr("(1000000 * n_pairs) DIV total").as("share_ppm"))
      .orderBy(col("pair_class"))
  }

  val splitLeakNearDupOracle: String =
    s"""WITH pairs AS ($lshNearDupOracle),
       |cls AS (
       |  SELECT CASE WHEN ga = gb THEN ga || '_' || gb ELSE 'cross' END
       |    AS pair_class
       |  FROM (SELECT
       |    CASE WHEN substr(md5(CAST(doc_a AS VARCHAR)), 1, 2) < 'cc'
       |         THEN 'train' ELSE 'heldout' END AS ga,
       |    CASE WHEN substr(md5(CAST(doc_b AS VARCHAR)), 1, 2) < 'cc'
       |         THEN 'train' ELSE 'heldout' END AS gb
       |    FROM pairs)),
       |agg AS (
       |  SELECT pair_class, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM cls GROUP BY pair_class)
       |SELECT pair_class, n_pairs,
       |  (1000000 * n_pairs)
       |    // CAST((SELECT sum(n_pairs) FROM agg) AS BIGINT) AS share_ppm
       |FROM agg ORDER BY pair_class""".stripMargin

  val sourceMinhashSimOracle: String =
    s"""WITH $duckSignatures,
       |slots AS (
       |  SELECT d.source, i AS slot, min(sig.m[i + 1]) AS h
       |  FROM sig JOIN (SELECT doc_id, source FROM documents) d USING (doc_id),
       |       range(0, $K_HASHES) t(i)
       |  GROUP BY d.source, i)
       |SELECT a.source AS src_a, b.source AS src_b,
       |  CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |  (1000000 * CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS BIGINT))
       |    // $K_HASHES AS sim_ppm
       |FROM slots a JOIN slots b ON b.slot = a.slot AND a.source < b.source
       |GROUP BY a.source, b.source ORDER BY src_a, src_b""".stripMargin

  // -------------------------------------------------------------------------
  // q234 — SKETCH-FAMILY REFEREE: MinHash-LSH (q29's band candidates) and
  // 64-bit SimHash (q91's block candidates) are the two standard cheap
  // near-dup detectors, and they disagree — LSH draws from Jaccard, the
  // bit-vote fingerprint from a cosine-like token-vector angle. This
  // operator puts both detectors' DETECTED pairs under one exact referee
  // (the q82/q184 integer criterion, 2·∩ ≥ |A|+|B|−∩ ⇔ Jaccard ≥ ½) and
  // reports, per detection class (both / minhash_only / simhash_only),
  // the pair count and referee precision — the corpus-specific evidence
  // for WHICH sketch family (or the union) a pipeline should run. This is
  // how q29's banding parameters earned their place over the SimHash pass
  // on this corpus — measured, not assumed.
  //
  // Scale: both candidate generators keep their own banded disciplines;
  // the full-outer alignment and referee joins are id/32-byte-keyed over
  // candidate-sized relations; shingle arrays attach only to candidates.
  // -------------------------------------------------------------------------

  /** q234 — (detector ∈ {both, minhash_only, simhash_only}, n_pairs,
    * n_true, precision_ppm) under the exact-Jaccard-≥½ referee. */
  def q234SketchReferee(spark: SparkSession, dir: String): DataFrame = {
    val sig = signatures(spark, dir)
    val mh = lshCandidates(lshBands(sig))
      .select(col("doc_a"), col("doc_b"), lit(1L).as("mh"))
    val sh64 = simhash64Pairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("sh64"))
    val pairs = mh.join(sh64, Seq("doc_a", "doc_b"), "full_outer")
      .na.fill(0L, Seq("mh", "sh64"))
    val shv = sig.select(col("doc_id"), col("sh"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    pairs
      .join(shv.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shv.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(
        when(col("mh") === 1L && col("sh64") === 1L, "both")
          .when(col("mh") === 1L, "minhash_only")
          .otherwise("simhash_only").as("detector"),
        when(lit(2L) * inter >=
               size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long")
                 - inter, 1L)
          .otherwise(0L).as("is_true"))
      .groupBy(col("detector"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("is_true")).as("n_true"))
      .select(col("detector"), col("n_pairs"), col("n_true"),
        expr("(1000000 * n_true) DIV n_pairs").as("precision_ppm"))
      .orderBy(col("detector"))
  }

  val sketchRefereeOracle: String =
    s"""WITH $duckSignatures,
       |bands AS (
       |  SELECT doc_id, j, md5(m[2*j+1] || m[2*j+2]) AS bh
       |  FROM sig, generate_series(0, ${N_BANDS - 1}) AS g(j)),
       |mcand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.j = b.j AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |sh64 AS (
       |$simhash64Sql),
       |scand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh64 a JOIN sh64 b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |pairs AS (
       |  SELECT coalesce(m.doc_a, s.doc_a) AS doc_a,
       |         coalesce(m.doc_b, s.doc_b) AS doc_b,
       |         CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END AS mh,
       |         CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END AS sh
       |  FROM mcand m FULL OUTER JOIN scand s
       |    ON s.doc_a = m.doc_a AND s.doc_b = m.doc_b),
       |ver AS (
       |  SELECT CASE WHEN mh = 1 AND sh = 1 THEN 'both'
       |              WHEN mh = 1 THEN 'minhash_only'
       |              ELSE 'simhash_only' END AS detector,
       |    CASE WHEN 2 * len(list_intersect(x.s, y.s))
       |              >= len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))
       |         THEN 1 ELSE 0 END AS is_true
       |  FROM pairs p
       |  JOIN sig x ON x.doc_id = p.doc_a
       |  JOIN sig y ON y.doc_id = p.doc_b)
       |SELECT detector, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(is_true) AS BIGINT) AS n_true,
       |  (1000000 * CAST(sum(is_true) AS BIGINT))
       |    // CAST(count(*) AS BIGINT) AS precision_ppm
       |FROM ver GROUP BY detector ORDER BY detector""".stripMargin
}
