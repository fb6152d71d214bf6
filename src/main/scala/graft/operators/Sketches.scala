package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed cardinality sketching — HyperLogLog (Flajolet et al. 2007,
  * public) built deterministically from first principles, so a
  * 1000-executor run, a re-run, and the single-threaded DuckDB oracle all
  * produce the SAME estimate, bit for bit:
  *
  *   - the hash is md5 (the engine's one portable hash): the top 8 hex
  *     chars give a 32-bit value → `b` bucket bits (m = 2^b registers) +
  *     (32−b) rank bits;
  *   - the rank (leading-zero count) is an integer comparison ladder
  *     (Σ [w ≥ 2^k]), not float log2 — no libm anywhere;
  *   - a register is `max(rank)` — an algebraic aggregate with map-side
  *     partials: the 100 TB shuffle is m rows per group, nothing else;
  *   - the harmonic denominator Σ 2^−M_j is a sum of m binary fractions
  *     spanning ≤ b + (32−b) + 1 = 33 mantissa bits FOR EVERY m —
  *     EXACT in a double in any summation order, so parallel aggregation
  *     cannot perturb it;
  *   - the raw estimate α_m·m²/S is one multiply-divide. The
  *     linear-counting small-range branch is deliberately omitted: it
  *     needs ln() (libm, not bit-portable) and only matters when
  *     n ≲ 2.5m — size m to the group cardinality regime (that is what
  *     the `bucketBits` parameter is for), not the correction (the
  *     estimator's contract here is determinism first).
  *
  * Accuracy scales as the published 1.04/√m: m = 64 ⇒ ≈13%, m = 1024 ⇒
  * ≈3.25%, m = 16384 ⇒ ≈0.8%. Round3cSpec pins the m = 64 envelope;
  * SketchesSpec pins the m = 1024 envelope AND that growing m tightens
  * the observed error on the same data. q86/q90 declare the m = 64
  * configuration (small enough that the fixture groups exercise the raw
  * regime); production distinct-counts at 100 TB should run b = 10–14.
  *
  * Null keys are dropped before hashing (both here and in the oracles) —
  * the same null contract as COUNT(DISTINCT …).
  */
object Sketches {

  /** α_m bias constant (Flajolet et al. 2007, Fig. 3): tabulated for the
    * small registers counts, the closed form 0.7213/(1 + 1.079/m) for
    * m ≥ 128. */
  def alphaM(bucketBits: Int): Double = (1 << bucketBits) match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case m  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** Integer bit-length of `w` (0 → 0) as Σ_{k} [w ≥ 2^k]. */
  private def bitLen(w: Column, rankBits: Int): Column =
    (0 until rankBits).map(k => when(w >= (1L << k), 1).otherwise(0))
      .reduce(_ + _)

  /** Per-(group, bucket) HLL registers of `key` over `df` — the
    * persistable/mergeable sketch artifact: m rows per group, nothing
    * else shuffles. Null keys are dropped (COUNT DISTINCT contract). */
  def registers(df: DataFrame, groupCols: Seq[String], key: Column,
                bucketBits: Int): DataFrame = {
    val rankBits = 32 - bucketBits
    val h32 = conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long")
    df.filter(key.isNotNull)
      .select(groupCols.map(col) :+ (h32 % lit(1L << rankBits)).as("w")
                :+ (h32 / lit(1L << rankBits)).cast("long").as("bucket"): _*)
      .withColumn("rank", lit(rankBits + 1) - bitLen(col("w"), rankBits))
      .groupBy((groupCols.map(col) :+ col("bucket")): _*)
      .agg(max(col("rank")).as("reg"))
  }

  /** Estimate from a register relation (the output of [[registers]], or
    * any bucket-wise-max merge of such relations): the exact
    * binary-fraction harmonic sum and the α_m·m²/S estimate, rendered at
    * 4 decimals. */
  def estimate(regs: DataFrame, groupCols: Seq[String],
               bucketBits: Int): DataFrame = {
    val m = 1 << bucketBits
    val harm =
      (if (groupCols.isEmpty) regs.groupBy() else regs.groupBy(groupCols.map(col): _*))
        .agg(sum(pow(lit(0.5), col("reg"))).as("s_occ"),
             count(lit(1)).as("occupied"))
        // empty registers contribute 2^0 = 1 each
        .withColumn("s", col("s_occ") + (lit(m) - col("occupied")).cast("double"))
    harm.select(groupCols.map(col) :+ col("occupied")
                  :+ round(lit(alphaM(bucketBits) * m.toDouble * m) / col("s"), 4)
                       .as("hll_estimate"): _*)
  }

  /** Distinct `key` per group: exact count + deterministic HLL estimate
    * at 2^bucketBits registers — the generic operator behind q86. */
  def hllDistinct(df: DataFrame, groupCols: Seq[String], key: Column,
                  bucketBits: Int): DataFrame = {
    val est = estimate(registers(df, groupCols, key, bucketBits),
                       groupCols, bucketBits)
    val exact = df.groupBy(groupCols.map(col): _*)
      .agg(countDistinct(key).as("n_exact"))
    exact.join(est, groupCols)
      .select(groupCols.map(col) :+ col("n_exact") :+ col("occupied")
                :+ col("hll_estimate"): _*)
      .orderBy(groupCols.map(col): _*)
  }

  /** q86 — distinct users per event type: exact count + deterministic
    * HLL-64 estimate. */
  def q86HllDistinct(spark: SparkSession, dir: String): DataFrame =
    hllDistinct(Tables.events(spark, dir), Seq("event_type"), col("user_id"),
                bucketBits = 6)

  /** q90 — HLL MERGE/rollup: the property that justifies sketching at
    * all — per-group register vectors combine by bucket-wise max into the
    * EXACT sketch of the union, without touching the raw data again. Here:
    * per-event_type registers (the q86 partials, in steady state a
    * persisted m-rows-per-group artifact) merge into the all-types
    * estimate, and the oracle checks it equals the estimate a from-scratch
    * global sketch would give — the merge loses nothing, by construction.
    * At 100 TB this is the daily/weekly rollup: re-aggregate m·|groups|
    * register rows, never the corpus. */
  def q90HllRollup(spark: SparkSession, dir: String): DataFrame = {
    val regs = registers(Tables.events(spark, dir), Seq("event_type"),
                         col("user_id"), bucketBits = 6)
    val merged = regs.groupBy(col("bucket")).agg(max(col("reg")).as("reg"))
    estimate(merged, Seq.empty, bucketBits = 6)
      .select(lit("all").as("scope"), col("occupied"), col("hll_estimate"))
  }

  private val B = 6 // q86/q90's declared configuration
  private val M = 1 << B
  private val RankBits = 32 - B

  val hllRollupOracle: String = {
    val nib = (i: Int) =>
      s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1)"
    val h32Sql = (1 to 8)
      .map(i => s"${nib(i)}::BIGINT * ${math.pow(16, 8 - i).toLong}")
      .mkString(" + ")
    val bitLenSql = (0 until RankBits)
      .map(k => s"CASE WHEN w >= ${1L << k} THEN 1 ELSE 0 END")
      .mkString(" + ")
    // the oracle builds the GLOBAL sketch directly — the merge must equal it
    s"""WITH hashed AS (
       |  SELECT h32 % ${1L << RankBits} AS w, h32 // ${1L << RankBits} AS bucket
       |  FROM (SELECT $h32Sql AS h32
       |        FROM (SELECT md5(CAST(user_id AS VARCHAR)) AS h FROM events
       |              WHERE user_id IS NOT NULL))),
       |regs AS (
       |  SELECT bucket, max(${RankBits + 1} - ($bitLenSql)) AS reg
       |  FROM hashed GROUP BY bucket)
       |SELECT 'all' AS scope, CAST(count(*) AS BIGINT) AS occupied,
       |  round(${alphaM(B) * M * M} /
       |        (sum(power(0.5, reg)) + ($M - count(*))), 4) AS hll_estimate
       |FROM regs""".stripMargin
  }

  val hllDistinctOracle: String = {
    val nib = (i: Int) =>
      s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1)"
    // h32 = Σ nib_i · 16^(8−i)
    val h32Sql = (1 to 8)
      .map(i => s"${nib(i)}::BIGINT * ${math.pow(16, 8 - i).toLong}")
      .mkString(" + ")
    val bitLenSql = (0 until RankBits)
      .map(k => s"CASE WHEN w >= ${1L << k} THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH hashed AS (
       |  SELECT event_type, user_id, h32 % ${1L << RankBits} AS w,
       |         h32 // ${1L << RankBits} AS bucket
       |  FROM (SELECT event_type, user_id, $h32Sql AS h32
       |        FROM (SELECT event_type, user_id,
       |                     md5(CAST(user_id AS VARCHAR)) AS h
       |              FROM events WHERE user_id IS NOT NULL))),
       |ranked AS (
       |  SELECT event_type, bucket, ${RankBits + 1} - ($bitLenSql) AS rank
       |  FROM hashed),
       |regs AS (
       |  SELECT event_type, bucket, max(rank) AS reg
       |  FROM ranked GROUP BY event_type, bucket),
       |harm AS (
       |  SELECT event_type,
       |    sum(power(0.5, reg)) + ($M - count(*)) AS s,
       |    CAST(count(*) AS BIGINT) AS occupied
       |  FROM regs GROUP BY event_type),
       |exact AS (
       |  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
       |  FROM events GROUP BY event_type)
       |SELECT e.event_type, e.n_exact, h.occupied,
       |       round(${alphaM(B) * M * M} / h.s, 4) AS hll_estimate
       |FROM exact e JOIN harm h ON e.event_type = h.event_type
       |ORDER BY e.event_type""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Count-Min Sketch (Cormode & Muthukrishnan 2005, public) — the LINEAR
  // counting sketch that pairs with HLL's max-register one.
  // ---------------------------------------------------------------------

  /** Portable 32-bit hash of a string column: md5 → top 8 hex chars →
    * integer. The one hash every engine spells identically — the same
    * primitive as [[registers]], the stratified sampler, and the LSH
    * band hashes. */
  def h32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** DuckDB spelling of [[h32]] over a hex column named `h`. */
  val h32FromHexSql: String = {
    val nib = (i: Int) =>
      s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1)"
    (1 to 8).map(i => s"${nib(i)}::BIGINT * ${math.pow(16, 8 - i).toLong}")
      .mkString(" + ")
  }

  /** Count-Min parameters for q98/q99. Depth d = 4 (error probability
    * e^−4 ≈ 1.8% per estimate), width w = 4096. The guarantee is
    * one-sided: estimate ≥ true count always; estimate ≤ true + εN with
    * ε = e/w per hash row. Sizing rule at 100 TB: the sketch answers
    * "is this key's count above a cut?" (the q92 max-df stop-shingle
    * hatch without an exact df pass) — size w so εN ≪ the cut, i.e.
    * w ≈ e·N_occurrences / (cut slack). The fixture corpus is nearly
    * FLAT (max df 7 at sf0.01), so the recorded estimates sit at the
    * εN collision floor — the honest readout, like q89/q95: CMS is a
    * heavy-hitter instrument, and the audit shows exactly what it does
    * on a stream with no heavy hitters. */
  val CmsDepth  = 4
  val CmsWidth  = 4096
  val CmsTopK   = 20

  private def cmsBucket(rowI: Column, key: Column): Column =
    h32(concat(rowI.cast("string"), lit(":"), key)) % CmsWidth

  /** The d×w cell relation of a keyed stream — the persistable sketch
    * artifact. Each occurrence increments one bucket per hash row, so
    * the build is a d-fold expansion of integer pairs followed by a
    * map-side-combining count: the shuffle is ≤ d·w rows per map
    * partition no matter how big the stream. Cells are LINEAR in the
    * stream (a count per cell), so sketches of disjoint slices merge by
    * plain cell-wise sum — see [[q99CmsRollup]]. */
  def cmsCells(keyed: DataFrame, key: Column): DataFrame =
    keyed
      .select(explode(sequence(lit(0), lit(CmsDepth - 1))).as("row_i"),
              key.as("k"))
      .select(col("row_i"), cmsBucket(col("row_i"), col("k")).as("bucket"))
      .groupBy(col("row_i"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Point estimates for a (small) candidate relation against a cell
    * relation: min over the d cells each key hashes to. Cells are ≤ d·w
    * rows → broadcast; candidates never shuffle. */
  def cmsEstimate(cells: DataFrame, candidates: DataFrame,
                  key: Column): DataFrame =
    candidates
      .select(key.as("k"),
              explode(sequence(lit(0), lit(CmsDepth - 1))).as("row_i"))
      .withColumn("bucket", cmsBucket(col("row_i"), col("k")))
      .join(broadcast(cells), Seq("row_i", "bucket"), "left")
      .groupBy(col("k"))
      .agg(min(coalesce(col("c"), lit(0L))).as("cms_estimate"))

  private def shingleOccurrences(spark: SparkSession, dir: String): DataFrame = {
    Tables.documentsWide(spark, dir)
      .select(col("doc_id"),
              explode(call_function("graft_shingles", col("text"))).as("g"))
  }

  /** q98 — CMS document-frequency heavy hitters: the exact top-20
    * shingles by df side-by-side with their Count-Min estimates. The
    * exact df pass IS the audit (the q86 pattern: exact + estimate in
    * one row); production at 100 TB keeps only the d·w cells and probes
    * them, e.g. to feed [[SimJoin.jaccardJoinOn]]'s max-df cut without
    * ever grouping the corpus by shingle. */
  def q98CmsDfTopk(spark: SparkSession, dir: String): DataFrame = {
    val occ = shingleOccurrences(spark, dir)
    val cells = cmsCells(occ, col("g"))
    val top = occ.groupBy(col("g")).agg(count(lit(1)).as("df_exact"))
      .orderBy(col("df_exact").desc, col("g")).limit(CmsTopK)
    top.join(cmsEstimate(cells, top.select(col("g")), col("g")),
             top("g") === col("k"))
      .select(col("g").as("shingle"), col("df_exact"), col("cms_estimate"))
      .orderBy(col("df_exact").desc, col("shingle"))
  }

  /** Shared SQL prologue: per-doc distinct shingles → (doc_id, g)
    * occurrence stream, exactly [[graft.operators.TextOps.shingles3]]. */
  private val occSql: String =
    s"""occ AS (
       |  SELECT doc_id, unnest(s) AS g
       |  FROM (SELECT doc_id, ${TextOps.duckShingles} AS s
       |        FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |              FROM documents)))""".stripMargin

  /** SQL CTE fragments: hash row_i:key to a cell bucket — the md5 is
    * materialized one layer in (the HLL-oracle pattern), no correlated
    * subqueries. */
  private def cmsCellsSql(srcRel: String, extraCols: String): String =
    s"""hashed AS (
       |  SELECT $extraCols i, md5(CAST(i AS VARCHAR) || ':' || g) AS h
       |  FROM $srcRel CROSS JOIN rows_),
       |bucketed AS (
       |  SELECT $extraCols i, ($h32FromHexSql) % $CmsWidth AS bucket FROM hashed)""".stripMargin

  private def cmsOracle(topK: Int): String =
    s"""WITH $occSql,
       |rows_ AS (SELECT range AS i FROM range($CmsDepth)),
       |${cmsCellsSql("occ", "")},
       |cells AS (SELECT i, bucket, count(*) AS c FROM bucketed GROUP BY i, bucket),
       |top AS (SELECT g, count(*) AS df_exact FROM occ GROUP BY g
       |        ORDER BY df_exact DESC, g LIMIT $topK),
       |candh AS (SELECT g, df_exact, i, md5(CAST(i AS VARCHAR) || ':' || g) AS h
       |          FROM top CROSS JOIN rows_),
       |cand AS (SELECT g, df_exact, i, ($h32FromHexSql) % $CmsWidth AS bucket FROM candh)
       |SELECT cand.g AS shingle, cand.df_exact,
       |       CAST(min(coalesce(cells.c, 0)) AS BIGINT) AS cms_estimate
       |FROM cand LEFT JOIN cells ON cand.i = cells.i AND cand.bucket = cells.bucket
       |GROUP BY cand.g, cand.df_exact
       |ORDER BY cand.df_exact DESC, shingle""".stripMargin

  val cmsDfTopkOracle: String = cmsOracle(CmsTopK)

  /** q99 — CMS MERGE/rollup, the linear-sketch counterpart of q90: build
    * one sketch per `source` slice, merge by CELL-WISE SUM, and estimate
    * the global top-10 from the merged cells. The oracle builds the
    * global sketch from scratch — sum-linearity makes the merge equal it
    * exactly, by construction. At 100 TB this is per-day/per-source df
    * sketches rolled into a corpus sketch by re-aggregating d·w·|slices|
    * integer rows, never the corpus. */
  def q99CmsRollup(spark: SparkSession, dir: String): DataFrame = {
    val occ = shingleOccurrences(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
            Seq("doc_id"))
    val perSource = occ
      .select(col("source"),
              explode(sequence(lit(0), lit(CmsDepth - 1))).as("row_i"),
              col("g"))
      .select(col("source"), col("row_i"),
              cmsBucket(col("row_i"), col("g")).as("bucket"))
      .groupBy(col("source"), col("row_i"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val merged = perSource.groupBy(col("row_i"), col("bucket"))
      .agg(sum(col("c")).as("c"))
    val top = shingleOccurrences(spark, dir)
      .groupBy(col("g")).agg(count(lit(1)).as("df_exact"))
      .orderBy(col("df_exact").desc, col("g")).limit(10)
    top.join(cmsEstimate(merged, top.select(col("g")), col("g")),
             top("g") === col("k"))
      .select(col("g").as("shingle"), col("df_exact"), col("cms_estimate"))
      .orderBy(col("df_exact").desc, col("shingle"))
  }

  /** The rollup oracle builds the GLOBAL sketch directly — cell-sum
    * linearity makes the per-source merge equal it exactly. */
  val cmsRollupOracle: String = cmsOracle(10)

  // ---------------------------------------------------------------------
  // Histogram quantile sketch — the third sketch family (HLL: distinct,
  // CMS: frequency, histogram: rank/quantile).
  // ---------------------------------------------------------------------

  /** Fixed bin width for the q102 length histogram (chars). */
  val HistBinWidth = 100L

  /** q102 — histogram MEDIAN sketch + audit: per language, the exact
    * lower-middle median of `n_chars` (q49's rank rule) next to the
    * estimate read off a fixed-width bin histogram — the bin whose
    * cumulative count first reaches rank (n+1)/2.
    *
    * The 100 TB contract is the point: the exact median needs a per-group
    * SORT of the corpus (q49's window), while the sketch is one
    * |groups|·|bins|-row aggregate with map-side combine, then a window
    * over that TINY relation — rank error is bounded by construction
    * (the bin containing rank r contains the rank-r element, so
    * exact ∈ [hist_median_low, hist_median_low + width)). Deterministic:
    * pure integer counts, no interpolation. The same shape generalizes to
    * any quantile (replace the rank) and to merges (bin counts are linear,
    * like CMS cells). */
  def q102HistMedian(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val bins = docs
      .groupBy(col("lang"), (col("n_chars") / HistBinWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("c"))
    val cum = bins
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("lang")).orderBy(col("bin"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
    val est = cum
      .filter(col("cum") >= ((col("n") + 1) / 2).cast("long"))
      .groupBy(col("lang"), col("n"))
      .agg((min(col("bin")) * HistBinWidth).as("hist_median_low"))
    val exact = docs
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("lang"))))
      .filter(col("rn") === ((col("cnt") + 1) / 2).cast("int"))
      .select(col("lang"), col("n_chars").as("median_chars"))
    est.join(exact, Seq("lang"))
      .select(col("lang"), col("n"), col("median_chars"), col("hist_median_low"))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------------
  // KMV / bottom-k distinct sketch (Bar-Yossef et al. 2002; estimator
  // form (k−1)/U_(k) per Beyer et al. SIGMOD'07, both public) — the
  // ORDER-STATISTIC sketch state, completing the three mergeable state
  // shapes in this module: HLL registers merge by MAX, CMS cells by SUM,
  // KMV bottom-k sets by UNION-then-retruncate.
  // ---------------------------------------------------------------------

  /** Sketch size for q107/q108. Relative error ≈ 1/√(k−2) ≈ 18% at
    * k = 32 — sized so the fixture's 150–1500-distinct groups sit in the
    * estimation regime (occupied = k) at every SF. Production at 100 TB
    * runs k = 1024–4096 (error 3%–1.5%); the state is k 64-bit values
    * per group either way. */
  val KmvK = 32

  /** Bottom-k DISTINCT hash values of `key` per group — the persistable
    * KMV sketch artifact (≤ k rows per group).
    *
    * Spelled as a dense_rank window so Catalyst's rank-limit pushdown
    * (WindowGroupLimit) trims every map partition to its own k smallest
    * values BEFORE the exchange: the shuffle is ≤ k·partitions rows per
    * group, never the distinct-key set (the would-be scale killer of a
    * dropDuplicates-first spelling). dense_rank (not row_number) because
    * the same key hashes identically on every partition — duplicates must
    * not consume rank slots; the residual duplicates in the ≤ k kept
    * values dedup in the tiny post-filter aggregate. */
  def kmvBottom(df: DataFrame, groupCols: Seq[String], key: Column,
                k: Int = KmvK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("h"))
    df.filter(key.isNotNull)
      .select(groupCols.map(col) :+ h32(key.cast("string")).as("h"): _*)
      .withColumn("dr", dense_rank().over(w))
      .filter(col("dr") <= k)
      .select(groupCols.map(col) :+ col("h"): _*)
      .dropDuplicates(groupCols :+ "h")
  }

  /** Estimate distinct counts from a bottom-k relation (the output of
    * [[kmvBottom]], or any union-retruncate merge of such relations):
    * occupied < k ⇒ the sketch holds the whole (hashed) key set — exact;
    * otherwise n̂ = (k−1)·2^32 / h_(k) (the unbiased form), decimal-routed
    * before the 4-decimal rendering like every ratio in this engine. */
  def kmvEstimate(bottom: DataFrame, groupCols: Seq[String],
                  k: Int = KmvK): DataFrame = {
    val g = if (groupCols.isEmpty) bottom.groupBy()
            else bottom.groupBy(groupCols.map(col): _*)
    g.agg(count(lit(1)).as("occupied"), max(col("h")).as("kth"))
      .withColumn("kmv_estimate",
        when(col("occupied") < k, col("occupied").cast("double"))
          .otherwise(
            round((lit((k - 1).toDouble * 4294967296.0) / col("kth"))
                    .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 4)
              .cast("double")))
      .drop("kth")
  }

  /** q107 — KMV distinct users per event type: exact count beside the
    * bottom-k estimate (the q86 audit pattern, third sketch family). */
  def q107KmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val est = kmvEstimate(kmvBottom(ev, Seq("event_type"), col("user_id")),
                          Seq("event_type"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(est, Seq("event_type"))
      .select(col("event_type"), col("n_exact"), col("occupied"),
              col("kmv_estimate"))
      .orderBy(col("event_type"))
  }

  /** q108 — KMV MERGE/rollup, the union-retruncate counterpart of
    * q90 (max-merge) and q99 (sum-merge): per-event_type bottom-k sets
    * union into the global bottom-k. Lossless BY CONSTRUCTION: a hash
    * among the global k smallest has fewer than k hashes below it in any
    * slice it appears in, so every slice that saw it kept it — the oracle
    * therefore builds the global sketch from scratch and equality is the
    * check. The global retruncate is sort+limit (TakeOrderedAndProject, a
    * distributed top-k), never a single-partition window; at 100 TB the
    * rollup re-aggregates ≤ k·|slices| integers, not the corpus. */
  def q108KmvRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val merged = kmvBottom(ev, Seq("event_type"), col("user_id"))
      .select(col("h")).dropDuplicates("h")
      .orderBy(col("h")).limit(KmvK)
    val est = kmvEstimate(merged, Seq.empty)
    val exact = ev.agg(countDistinct(col("user_id")).as("n_exact"))
    exact.crossJoin(est)
      .select(lit("all").as("scope"), col("n_exact"), col("occupied"),
              col("kmv_estimate"))
  }

  private val KmvEstSql =
    s"""CASE WHEN occupied < $KmvK THEN CAST(occupied AS DOUBLE)
       |     ELSE CAST(round(CAST(${(KmvK - 1).toDouble * 4294967296.0} / kth
       |                          AS DECIMAL(28,12)), 4) AS DOUBLE) END""".stripMargin

  val kmvDistinctOracle: String =
    s"""WITH hexed AS (
       |  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h
       |  FROM events WHERE user_id IS NOT NULL),
       |hashed AS (SELECT event_type, ($h32FromHexSql) AS h FROM hexed),
       |bk AS (
       |  SELECT DISTINCT event_type, h FROM (
       |    SELECT event_type, h,
       |           dense_rank() OVER (PARTITION BY event_type ORDER BY h) AS dr
       |    FROM hashed)
       |  WHERE dr <= $KmvK),
       |est AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS occupied, max(h) AS kth
       |  FROM bk GROUP BY event_type),
       |exact AS (
       |  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
       |  FROM events GROUP BY event_type)
       |SELECT e.event_type, e.n_exact, s.occupied, $KmvEstSql AS kmv_estimate
       |FROM exact e JOIN est s USING (event_type)
       |ORDER BY e.event_type""".stripMargin

  /** The rollup oracle builds the GLOBAL bottom-k directly — the
    * union-retruncate merge must equal it. */
  val kmvRollupOracle: String =
    s"""WITH hexed AS (
       |  SELECT md5(CAST(user_id AS VARCHAR)) AS h
       |  FROM events WHERE user_id IS NOT NULL),
       |hashed AS (SELECT DISTINCT ($h32FromHexSql) AS h FROM hexed),
       |bk AS (SELECT h FROM hashed ORDER BY h LIMIT $KmvK),
       |est AS (SELECT CAST(count(*) AS BIGINT) AS occupied, max(h) AS kth FROM bk),
       |exact AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events)
       |SELECT 'all' AS scope, exact.n_exact, est.occupied, $KmvEstSql AS kmv_estimate
       |FROM exact CROSS JOIN est""".stripMargin

  // ---------------------------------------------------------------------
  // Sketch PERSISTENCE across releases (q141/q142/q143) — the steady-state
  // deployment the rollup scaladocs promise: per-release sketch states
  // written as parquet sketch TABLES, with the rollup reading ONLY the
  // persisted rows (never the raw data of past releases). Each family
  // exercises its merge algebra through the storage round-trip:
  //   - HLL registers   → bucket-wise MAX        (q141, vs q90's oracle)
  //   - KMV bottom-k    → union + re-truncate    (q142, vs q108's oracle)
  //   - CMS cells       → cell-wise SUM          (q143, vs q99's oracle)
  // The oracles are the existing from-scratch GLOBAL builds, VERBATIM —
  // equality proves the persist/merge path loses nothing (the q92/q100
  // hatch-declaration discipline applied to storage). Stores are tiny
  // (m·|releases| / k·|releases| / d·w·|releases| rows); at 100 TB the
  // release column is the ingest date and the rollup touches kilobytes.
  // ---------------------------------------------------------------------

  /** The release dimension: a deterministic 4-way split of events. */
  private def withRelease(ev: DataFrame): DataFrame =
    ev.withColumn("release", pmod(col("event_id"), lit(4L)))

  private def tempStore(spark: SparkSession, prefix: String): String =
    graft.Stores.path(spark, prefix)

  /** q141 — HLL persist + merge: per-release register tables written as
    * parquet keyed by release, then the rollup estimate computed from the
    * PERSISTED states alone. */
  def q141HllPersistRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = withRelease(Tables.events(spark, dir))
    val store = tempStore(spark, "graft_hll_store")
    registers(ev, Seq("release"), col("user_id"), bucketBits = B)
      .write.mode("overwrite").partitionBy("release").parquet(store)
    val persisted = spark.read.parquet(store) // (bucket, reg, release)
    val merged = persisted.groupBy(col("bucket")).agg(max(col("reg")).as("reg"))
    estimate(merged, Seq.empty, bucketBits = B)
      .select(lit("all").as("scope"), col("occupied"), col("hll_estimate"))
  }

  /** q142 — KMV persist + merge: per-release bottom-k tables, rollup =
    * union of persisted hash sets, re-truncate to k, estimate; the exact
    * count is the audit leg (the q107/q108 pattern). */
  def q142KmvPersistRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = withRelease(Tables.events(spark, dir))
    val store = tempStore(spark, "graft_kmv_store")
    kmvBottom(ev, Seq("release"), col("user_id"))
      .write.mode("overwrite").partitionBy("release").parquet(store)
    val merged = spark.read.parquet(store)
      .select(col("h")).dropDuplicates("h")
      .orderBy(col("h")).limit(KmvK)
    val est = kmvEstimate(merged, Seq.empty)
    val exact = ev.agg(countDistinct(col("user_id")).as("n_exact"))
    exact.crossJoin(est)
      .select(lit("all").as("scope"), col("n_exact"), col("occupied"),
              col("kmv_estimate"))
  }

  /** q143 — CMS persist + merge: per-source cell tables, rollup =
    * cell-wise sum of the persisted cells, probed for the exact top-10
    * (q99's readout through the storage round-trip). */
  def q143CmsPersistRollup(spark: SparkSession, dir: String): DataFrame = {
    val occ = shingleOccurrences(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
            Seq("doc_id"))
    val store = tempStore(spark, "graft_cms_store")
    occ.select(col("source"),
               explode(sequence(lit(0), lit(CmsDepth - 1))).as("row_i"),
               col("g"))
      .select(col("source"), col("row_i"),
              cmsBucket(col("row_i"), col("g")).as("bucket"))
      .groupBy(col("source"), col("row_i"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .write.mode("overwrite").partitionBy("source").parquet(store)
    val merged = spark.read.parquet(store)
      .groupBy(col("row_i"), col("bucket")).agg(sum(col("c")).as("c"))
    val top = shingleOccurrences(spark, dir)
      .groupBy(col("g")).agg(count(lit(1)).as("df_exact"))
      .orderBy(col("df_exact").desc, col("g")).limit(10)
    top.join(cmsEstimate(merged, top.select(col("g")), col("g")),
             top("g") === col("k"))
      .select(col("g").as("shingle"), col("df_exact"), col("cms_estimate"))
      .orderBy(col("df_exact").desc, col("shingle"))
  }

  /** q114 — the q102 histogram sketch at an ARBITRARY quantile (p90
    * here), plus the merge leg: per-source bin histograms cell-sum into
    * the global histogram (bin counts are linear, like CMS cells), and
    * the p90 read off the MERGED bins sits beside the exact rank element.
    * Rank rule: ceil(p·n) spelled in integers ((9n+9) div 10) so both
    * engines pick the same rank; containment (exact ∈ [low, low+width))
    * holds by the same construction as q102's median. One operator, all
    * three sketch claims: arbitrary quantile, bounded error, lossless
    * merge. */
  def q114HistP90(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    // per-source slice histograms — the persistable artifact at 100 TB —
    // merged by cell-wise sum into the global per-lang histogram
    val slices = docs
      .groupBy(col("lang"), col("source"),
               (col("n_chars") / HistBinWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("c"))
    val bins = slices.groupBy(col("lang"), col("bin"))
      .agg(sum(col("c")).as("c"))
    val cum = bins
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("lang")).orderBy(col("bin"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
    val est = cum
      .filter(col("cum") >= ((col("n") * 9 + 9) / 10).cast("long"))
      .groupBy(col("lang"), col("n"))
      .agg((min(col("bin")) * HistBinWidth).as("hist_p90_low"))
    val exact = docs
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("lang"))))
      .filter(col("rn") === ((col("cnt") * 9 + 9) / 10).cast("int"))
      .select(col("lang"), col("n_chars").as("p90_chars"))
    est.join(exact, Seq("lang"))
      .select(col("lang"), col("n"), col("p90_chars"), col("hist_p90_low"))
      .orderBy(col("lang"))
  }

  /** The oracle builds the global histogram DIRECTLY from the corpus —
    * the per-source merge must equal it (cell-sum linearity, the
    * q90/q99/q108 merge discipline). */
  val histP90Oracle: String =
    s"""WITH bins AS (
       |  SELECT lang, n_chars // $HistBinWidth AS bin, count(*) AS c
       |  FROM documents GROUP BY 1, 2),
       |cum AS (
       |  SELECT lang, bin, c,
       |         sum(c) OVER (PARTITION BY lang ORDER BY bin) AS cum,
       |         sum(c) OVER (PARTITION BY lang) AS n
       |  FROM bins),
       |est AS (
       |  SELECT lang, CAST(n AS BIGINT) AS n,
       |         min(bin) * $HistBinWidth AS hist_p90_low
       |  FROM cum WHERE cum >= (n * 9 + 9) // 10 GROUP BY lang, n),
       |exact AS (
       |  SELECT lang, n_chars AS p90_chars FROM (
       |    SELECT lang, n_chars,
       |      row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
       |      count(*) OVER (PARTITION BY lang) AS cnt
       |    FROM documents)
       |  WHERE rn = CAST((cnt * 9 + 9) // 10 AS INT))
       |SELECT e.lang, e.n, x.p90_chars, CAST(e.hist_p90_low AS BIGINT) AS hist_p90_low
       |FROM est e JOIN exact x ON e.lang = x.lang
       |ORDER BY e.lang""".stripMargin

  val histMedianOracle: String =
    s"""WITH bins AS (
       |  SELECT lang, n_chars // $HistBinWidth AS bin, count(*) AS c
       |  FROM documents GROUP BY 1, 2),
       |cum AS (
       |  SELECT lang, bin, c,
       |         sum(c) OVER (PARTITION BY lang ORDER BY bin) AS cum,
       |         sum(c) OVER (PARTITION BY lang) AS n
       |  FROM bins),
       |est AS (
       |  SELECT lang, CAST(n AS BIGINT) AS n,
       |         min(bin) * $HistBinWidth AS hist_median_low
       |  FROM cum WHERE cum >= (n + 1) // 2 GROUP BY lang, n),
       |exact AS (
       |  SELECT lang, n_chars AS median_chars FROM (
       |    SELECT lang, n_chars,
       |      row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
       |      count(*) OVER (PARTITION BY lang) AS cnt
       |    FROM documents)
       |  WHERE rn = CAST((cnt + 1) // 2 AS INT))
       |SELECT e.lang, e.n, x.median_chars, CAST(e.hist_median_low AS BIGINT) AS hist_median_low
       |FROM est e JOIN exact x ON e.lang = x.lang
       |ORDER BY e.lang""".stripMargin

  // ---------------------------------------------------------------------
  // Hash-priority SAMPLE-QUANTILE sketch (q121/q122) — the fourth
  // mergeable sketch state beside HLL (max), CMS (sum) and KMV
  // (union-retruncate): a fixed-size uniform sample kept as the k docs
  // with the SMALLEST md5(doc_id) priority (q103's sampler as a
  // persistable artifact). Unlike the fixed-bin histogram (q102/q114)
  // it needs no value-range assumption: any quantile of any totally
  // ordered column reads off the sample with rank error O(n/√k) w.h.p.
  // (Vitter CACM'85 reservoir theory; the bottom-k-by-hash spelling is
  // the deterministic, engine-portable form — no RNG state anywhere).
  // Merge = union + retruncate to the k smallest priorities, lossless
  // by the KMV argument: a doc among the global k smallest priorities
  // has < k docs below it in ANY slice it appears in, so every slice
  // kept it. This is the portable stand-in for KLL/t-digest (whose
  // compaction orders and float interpolation are not bit-portable
  // across engines — ROUND4 next-step 5).
  // ---------------------------------------------------------------------

  /** Sample size for q121/q122. Rank error ≈ n/√k — at k = 32 the
    * p-quantile estimate lands within ≈ n/5.7 ranks of the truth, wide
    * enough that the audit columns visibly move on the fixture (the
    * honest-readout rule). Production runs k = 4096–65536 (rank error
    * 1.6%–0.4% of n); the state is k (priority, value) pairs per group
    * either way, and k ≥ |group| degrades to the EXACT quantile (pinned
    * by SampleQuantileSpec). */
  val SqK = 32

  /** Bottom-k sample by md5 priority per group — the persistable sketch
    * artifact (≤ k rows per group, each carrying the priority hash and
    * the sampled value). row_number (not dense_rank — the key is unique,
    * so priorities are distinct) over (md5(key), key) plans as
    * WindowGroupLimit: every map partition trims to its own k smallest
    * before the exchange, the q103/q107 discipline. */
  def sampleBottomK(df: DataFrame, groupCols: Seq[String], key: Column,
                    value: Column, k: Int = SqK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("pr"), col("k"))
    df.select(groupCols.map(col) :+ md5(key.cast("string")).as("pr") :+
        key.as("k") :+ value.as("v"): _*)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .drop("rk")
  }

  /** p50/p90 of `v` read off a sample relation, per group: explicit
    * integer ranks ((m+1) div 2 lower-middle, ceil(0.9·m) = (9m+9) div
    * 10 — the q49/q114 rank rules) over the ≤ k sample rows, so both
    * engines pick the same element. The quantile-read windows run over
    * k rows per group — free at any corpus size. */
  def sampleQuantiles(sample: DataFrame, groupCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("v"), col("k"))
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    val ranked = sample
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("m", count(lit(1)).over(wAll))
    val g = if (groupCols.isEmpty) ranked.groupBy()
            else ranked.groupBy(groupCols.map(col): _*)
    g.agg(max(col("m")).as("sample_m"),
          max(when(col("rn") === ((col("m") + 1) / 2).cast("long"),
                   col("v"))).as("est_p50"),
          max(when(col("rn") === ((col("m") * 9 + 9) / 10).cast("long"),
                   col("v"))).as("est_p90"))
  }

  /** Exact per-group p50/p90 of n_chars by the same rank rules — the
    * audit side (per-lang windows, the q114-exact shape: groups are
    * bounded; at 100 TB this side is the cost the sketch exists to
    * avoid, run at audit time only). */
  private def exactQuantilesByLang(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    val wAll = Window.partitionBy(col("lang"))
    docs
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .groupBy(col("lang"))
      .agg(max(col("cnt")).as("n_docs"),
           max(when(col("rn") === ((col("cnt") + 1) / 2).cast("long"),
                    col("n_chars"))).as("exact_p50"),
           max(when(col("rn") === ((col("cnt") * 9 + 9) / 10).cast("long"),
                    col("n_chars"))).as("exact_p90"))
  }

  /** GLOBAL exact p50/p90 — spelled over [[PrefixSum.globalRank]] (the
    * q60 discipline): the corpus never passes through a single-partition
    * window; ranks come from bucketed partial counts + per-bucket
    * windows. */
  private def exactQuantilesGlobal(docs: DataFrame): DataFrame = {
    val packed = docs.select(col("doc_id"), col("n_chars"))
      .withColumn("__k",
        col("n_chars").cast("long") * lit(1000000000000L) + col("doc_id"))
    val (ranked, n) = PrefixSum.globalRank(packed, "__k", "r")
    val r50 = (n + 1) / 2
    val r90 = (n * 9 + 9) / 10
    ranked.filter(col("r") === r50 || col("r") === r90)
      .agg(max(when(col("r") === r50, col("n_chars"))).as("exact_p50"),
           max(when(col("r") === r90, col("n_chars"))).as("exact_p90"))
      .withColumn("n_docs", lit(n))
  }

  /** q121 — sample-quantile sketch + audit (the q86/q107 pattern): per
    * language, p50/p90 of n_chars estimated from the bottom-k sample
    * beside the exact rank elements and the absolute errors. Pure
    * integer output — no decimal routing anywhere. */
  def q121SampleQuantile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val est = sampleQuantiles(
      sampleBottomK(docs, Seq("lang"), col("doc_id"), col("n_chars")),
      Seq("lang"))
    exactQuantilesByLang(docs).join(est, Seq("lang"))
      .select(col("lang"), col("n_docs"), col("sample_m"),
        col("est_p50").cast("long").as("est_p50"),
        col("exact_p50").cast("long").as("exact_p50"),
        abs(col("est_p50") - col("exact_p50")).cast("long").as("err_p50"),
        col("est_p90").cast("long").as("est_p90"),
        col("exact_p90").cast("long").as("exact_p90"),
        abs(col("est_p90") - col("exact_p90")).cast("long").as("err_p90"))
      .orderBy(col("lang"))
  }

  /** q122 — sample MERGE/rollup: the per-lang samples union and
    * retruncate to the global k smallest priorities. Lossless by the
    * KMV argument, so the oracle builds the GLOBAL sample from scratch
    * and equality is the check (the q90/q99/q108 merge discipline). The
    * retruncate is sort+limit (TakeOrderedAndProject, distributed
    * top-k) — never a single-partition window; the rollup re-aggregates
    * ≤ k·|groups| rows, not the corpus. */
  def q122SampleQuantileRollup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merged = sampleBottomK(docs, Seq("lang"), col("doc_id"), col("n_chars"))
      .select(col("pr"), col("k"), col("v"))
      .orderBy(col("pr"), col("k")).limit(SqK)
    val est = sampleQuantiles(merged, Seq.empty)
    exactQuantilesGlobal(docs).crossJoin(est)
      .select(lit("all").as("scope"), col("n_docs"), col("sample_m"),
        col("est_p50").cast("long").as("est_p50"),
        col("exact_p50").cast("long").as("exact_p50"),
        abs(col("est_p50") - col("exact_p50")).cast("long").as("err_p50"),
        col("est_p90").cast("long").as("est_p90"),
        col("exact_p90").cast("long").as("exact_p90"),
        abs(col("est_p90") - col("exact_p90")).cast("long").as("err_p90"))
  }

  val sampleQuantileOracle: String =
    s"""WITH samp AS (
       |  SELECT lang, v FROM (
       |    SELECT lang, n_chars AS v,
       |      row_number() OVER (PARTITION BY lang
       |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |    FROM documents)
       |  WHERE rk <= $SqK),
       |est AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS sample_m,
       |    CAST(max(CASE WHEN rn = (m + 1) // 2 THEN v END) AS BIGINT) AS est_p50,
       |    CAST(max(CASE WHEN rn = (m * 9 + 9) // 10 THEN v END) AS BIGINT) AS est_p90
       |  FROM (SELECT lang, v,
       |          row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
       |          count(*) OVER (PARTITION BY lang) AS m
       |        FROM samp)
       |  GROUP BY lang),
       |exact AS (
       |  SELECT lang, CAST(max(cnt) AS BIGINT) AS n_docs,
       |    CAST(max(CASE WHEN rn = (cnt + 1) // 2 THEN n_chars END) AS BIGINT) AS exact_p50,
       |    CAST(max(CASE WHEN rn = (cnt * 9 + 9) // 10 THEN n_chars END) AS BIGINT) AS exact_p90
       |  FROM (SELECT lang, n_chars, doc_id,
       |          row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
       |          count(*) OVER (PARTITION BY lang) AS cnt
       |        FROM documents)
       |  GROUP BY lang)
       |SELECT x.lang, x.n_docs, e.sample_m,
       |  e.est_p50, x.exact_p50, abs(e.est_p50 - x.exact_p50) AS err_p50,
       |  e.est_p90, x.exact_p90, abs(e.est_p90 - x.exact_p90) AS err_p90
       |FROM exact x JOIN est e USING (lang)
       |ORDER BY x.lang""".stripMargin

  /** The rollup oracle builds the GLOBAL bottom-k sample directly from
    * the corpus — the per-lang union-retruncate must equal it. */
  val sampleQuantileRollupOracle: String =
    s"""WITH samp AS (
       |  SELECT n_chars AS v FROM (
       |    SELECT n_chars,
       |      row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |    FROM documents)
       |  WHERE rk <= $SqK),
       |est AS (
       |  SELECT CAST(count(*) AS BIGINT) AS sample_m,
       |    CAST(max(CASE WHEN rn = (m + 1) // 2 THEN v END) AS BIGINT) AS est_p50,
       |    CAST(max(CASE WHEN rn = (m * 9 + 9) // 10 THEN v END) AS BIGINT) AS est_p90
       |  FROM (SELECT v, row_number() OVER (ORDER BY v) AS rn,
       |               count(*) OVER () AS m
       |        FROM samp)),
       |exact AS (
       |  SELECT CAST(max(cnt) AS BIGINT) AS n_docs,
       |    CAST(max(CASE WHEN rn = (cnt + 1) // 2 THEN n_chars END) AS BIGINT) AS exact_p50,
       |    CAST(max(CASE WHEN rn = (cnt * 9 + 9) // 10 THEN n_chars END) AS BIGINT) AS exact_p90
       |  FROM (SELECT n_chars,
       |          row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
       |          count(*) OVER () AS cnt
       |        FROM documents))
       |SELECT 'all' AS scope, x.n_docs, e.sample_m,
       |  e.est_p50, x.exact_p50, abs(e.est_p50 - x.exact_p50) AS err_p50,
       |  e.est_p90, x.exact_p90, abs(e.est_p90 - x.exact_p90) AS err_p90
       |FROM exact x CROSS JOIN est e""".stripMargin

  // ---------------------------------------------------------------------
  // KMV SET OPERATIONS (q160) — the theta-sketch-style algebra the
  // bottom-k state supports beyond union: intersection and Jaccard
  // between two persisted release sketches, WITHOUT touching the raw
  // rows of either release. Estimator (Beyer et al. SIGMOD'07, public):
  // re-truncate A_k ∪ B_k to the k smallest hashes U; ρ = |{h ∈ U :
  // h ∈ A_k ∧ h ∈ B_k}| / |U| is an unbiased Jaccard estimate (U is a
  // uniform bottom-k sample of the hashed union), |A∪B| comes from U's
  // own KMV estimate, and |A∩B|^ = ρ · |A∪B|^. Everything downstream of
  // md5 is integer order statistics, so the estimate is bit-identical
  // across engines and cluster layouts — the exact legs sit beside it
  // (the q107/q108 audit pattern).
  // ---------------------------------------------------------------------

  /** q160 — KMV set operations between releases 0 and 1 (the q141–q143
    * release dimension): exact |A|, |B|, |A∩B|, |A∪B|, Jaccard beside
    * the sketch-only estimates computed from the two bottom-k states.
    *
    * Scale: the per-release bottom-k build is [[kmvBottom]]'s
    * WindowGroupLimit shape (map partitions trim to k before the
    * exchange); every relation after it is ≤ 2k rows. The exact legs are
    * one user_id-keyed aggregate — the audit's cost, not the sketch's:
    * at 100 TB the sketch path reads two k-row parquet tables. */
  def q160KmvSetOps(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val ev = withRelease(Tables.events(spark, dir)).filter(col("release") < 2)
    val bot = kmvBottom(ev, Seq("release"), col("user_id"))
    val ak = bot.filter(col("release") === 0).select(col("h"))
    val bk = bot.filter(col("release") === 1).select(col("h"))
    val u = ak.union(bk).dropDuplicates("h").orderBy(col("h")).limit(KmvK)
    val est = u
      .join(ak.withColumn("in_a", lit(1L)), Seq("h"), "left")
      .join(bk.withColumn("in_b", lit(1L)), Seq("h"), "left")
      .agg(count(lit(1)).as("occupied"), max(col("h")).as("kth"),
           sum(when(col("in_a") === 1L && col("in_b") === 1L, 1L)
                 .otherwise(0L)).as("matches"))
      .withColumn("union_est",
        when(col("occupied") < KmvK, col("occupied").cast("double"))
          .otherwise(
            round((lit((KmvK - 1).toDouble * 4294967296.0) / col("kth"))
                    .cast(dec), 4).cast("double")))
      .withColumn("j_est4",
        round((col("matches").cast("double") / col("occupied").cast("double"))
                .cast(dec), 4).cast("double"))
      .withColumn("inter_est2",
        round((col("j_est4") * col("union_est")).cast(dec), 2).cast("double"))
      .drop("kth")
    val exact = ev.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(max(when(col("release") === 0, 1L).otherwise(0L)).as("a"),
           max(when(col("release") === 1, 1L).otherwise(0L)).as("b"))
      .agg(sum(col("a")).as("n_a_exact"), sum(col("b")).as("n_b_exact"),
           sum(when(col("a") === 1L && col("b") === 1L, 1L).otherwise(0L))
             .as("inter_exact"),
           count(lit(1)).as("union_exact"))
      .withColumn("jaccard_exact4",
        round((col("inter_exact").cast("double") /
                 col("union_exact").cast("double")).cast(dec), 4)
          .cast("double"))
    exact.crossJoin(est)
      .select(lit("r0_vs_r1").as("scope"),
              col("n_a_exact"), col("n_b_exact"), col("inter_exact"),
              col("union_exact"), col("jaccard_exact4"),
              col("occupied"), col("matches"), col("j_est4"),
              col("union_est"), col("inter_est2"))
  }

  val kmvSetOpsOracle: String =
    s"""WITH ev AS (
       |  SELECT event_id % 4 AS release, user_id
       |  FROM events WHERE user_id IS NOT NULL AND event_id % 4 < 2),
       |hexed AS (
       |  SELECT DISTINCT release, md5(CAST(user_id AS VARCHAR)) AS h FROM ev),
       |hashed AS (SELECT DISTINCT release, ($h32FromHexSql) AS hv FROM hexed),
       |ak AS (SELECT hv FROM hashed WHERE release = 0 ORDER BY hv LIMIT $KmvK),
       |bk AS (SELECT hv FROM hashed WHERE release = 1 ORDER BY hv LIMIT $KmvK),
       |u AS (SELECT DISTINCT hv
       |      FROM (SELECT hv FROM ak UNION ALL SELECT hv FROM bk)
       |      ORDER BY hv LIMIT $KmvK),
       |est AS (
       |  SELECT CAST(count(*) AS BIGINT) AS occupied, max(hv) AS kth,
       |    CAST(sum(CASE WHEN hv IN (SELECT hv FROM ak)
       |                   AND hv IN (SELECT hv FROM bk)
       |              THEN 1 ELSE 0 END) AS BIGINT) AS matches
       |  FROM u),
       |est2 AS (
       |  SELECT occupied, matches,
       |    CASE WHEN occupied < $KmvK THEN CAST(occupied AS DOUBLE)
       |         ELSE CAST(round(CAST(${(KmvK - 1).toDouble * 4294967296.0} / kth
       |                              AS DECIMAL(28,12)), 4) AS DOUBLE) END
       |      AS union_est,
       |    CAST(round(CAST(CAST(matches AS DOUBLE) / CAST(occupied AS DOUBLE)
       |                    AS DECIMAL(28,12)), 4) AS DOUBLE) AS j_est4
       |  FROM est),
       |exact AS (
       |  SELECT CAST(sum(a) AS BIGINT) AS n_a_exact,
       |    CAST(sum(b) AS BIGINT) AS n_b_exact,
       |    CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS inter_exact,
       |    CAST(count(*) AS BIGINT) AS union_exact
       |  FROM (SELECT user_id,
       |          max(CASE WHEN release = 0 THEN 1 ELSE 0 END) AS a,
       |          max(CASE WHEN release = 1 THEN 1 ELSE 0 END) AS b
       |        FROM ev GROUP BY user_id))
       |SELECT 'r0_vs_r1' AS scope, n_a_exact, n_b_exact, inter_exact,
       |  union_exact,
       |  CAST(round(CAST(CAST(inter_exact AS DOUBLE) /
       |                  CAST(union_exact AS DOUBLE)
       |                  AS DECIMAL(28,12)), 4) AS DOUBLE) AS jaccard_exact4,
       |  occupied, matches, j_est4, union_est,
       |  CAST(round(CAST(j_est4 * union_est AS DECIMAL(28,12)), 2) AS DOUBLE)
       |    AS inter_est2
       |FROM exact CROSS JOIN est2""".stripMargin
}
