package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (BASELINE.json north star).
  *
  * Two plans, one contract:
  *   - q32 brute force: the small query set is BROADCAST against the full
  *     corpus — no shuffle of the corpus, one pass, top-k via a bounded
  *     per-query window. This is the exact baseline any ANN index is
  *     recalled against.
  *   - q33 IVF: the corpus is pre-partitioned by a coarse quantizer (the
  *     driver data ships cluster `label` as the assignment); a query probes
  *     only its own cell, so scanned volume drops by |cells|. At 100 TB the
  *     cells are the physical partition key, and probing = partition
  *     pruning, not a filter over the full scan.
  *
  * Determinism: cosine is computed in double with one canonical op order
  * (index-order fold), rounded to 4 decimals BEFORE ranking; ties break by
  * vec_id, so Spark and the DuckDB oracle produce identical top-k sets.
  */
object Similarity {

  private val N_QUERIES = 16
  private val TOP_K = 5

  private def vecs(spark: SparkSession, dir: String): DataFrame = {
    // Consumed twice per query (corpus side + query side): materialize the
    // norm prep once. graft_dot is the codegen'd native Expression
    // ([[graft.functions.DotProduct]]) — float arrays in, double out, so
    // the float→double transform disappears entirely.
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("nrm", dot(col("v"), col("v")))
      .localCheckpoint()
  }

  private def dot(x: Column, y: Column): Column =
    call_function("graft_dot", x, y)

  /** The family's similarity: cosine of `qv` (norm `qn`) against `v`
    * (norm `n`), rounded to 4dp before anything ranks by it. */
  private def cosine(v: String = "v", n: String = "nrm",
                     qv: String = "qv", qn: String = "qn"): Column =
    round(dot(col(qv), col(v)) / sqrt(col(qn) * col(n)), 4)

  /** The fixed query set (vec_id < [[N_QUERIES]]) as (q_id, extra…, qv,
    * qn), taken from vector column `v` with norm `n`. */
  private def queries(e: DataFrame, extra: Seq[Column] = Nil,
                      v: String = "v", n: String = "nrm"): DataFrame =
    e.filter(col("vec_id") < N_QUERIES)
      .select(Seq(col("vec_id").as("q_id")) ++ extra ++
              Seq(col(v).as("qv"), col(n).as("qn")): _*)

  /** Exact cosine top-k per query over candidate `pairs`: query columns
    * (q_id, qv, qn) beside corpus rows (vec_id, vector `v`, norm `n`). A
    * query never matches itself; ties break by neighbor id. */
  private def topK(pairs: DataFrame, v: String = "v", n: String = "nrm"): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("n_id"))
    pairs
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), cosine(v, n).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select(col("q_id"), col("rank"), col("n_id"), col("cos_sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** A 6dp mean both engines round alike: routed through DECIMAL, since a
    * dyadic avg can end in a 5 exactly at the 6th decimal, where Spark's
    * HALF_UP and DuckDB's half-even diverge. */
  private def mean6(x: Column): Column =
    round(avg(x.cast("double")).cast(DecimalType(28, 12)), 6).cast("double")

  /** Per-label mean centroids (label, cv) over the given vectors: the
    * computed coarse quantizer of every IVF operator. */
  private def centroidsOf(xs: DataFrame): DataFrame =
    xs.select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(mean6(col("x")).as("c"))
      .groupBy(col("label"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("c")))),
                     _.getField("c")).as("cv"))

  /** Squared L2 from vector `x` to centroid `c`, rounded to 4dp so both
    * engines make identical assignment and probe decisions. */
  private def sqDist(x: Column, c: Column): Column =
    round(aggregate(
      zip_with(x, c, (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
      lit(0.0), (acc, p) => acc + p), 4)

  /** Every (query, cell) pair with the cell's probe rank `pr` per query:
    * 1 = the cell whose centroid is nearest, label breaking ties. */
  private def probeRanks(q: DataFrame, cent: DataFrame): DataFrame =
    q.crossJoin(broadcast(cent))
      .withColumn("rdist", sqDist(col("qv"), col("cv")))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rdist"), col("label"))))

  /** Per-query recall@k of `approx` against `truth`, both (q_id, n_id)
    * top-k rows; a query with no hit reads 0. */
  private def recallAtK(truth: DataFrame, approx: DataFrame): DataFrame = {
    val hits = truth.join(approx, Seq("q_id", "n_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
    truth.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
              coalesce(col("hits"), lit(0L)).as("hits"),
              (coalesce(col("hits"), lit(0L)).cast("double") / TOP_K)
                .as("recall_at_k"))
      .orderBy(col("q_id"))
  }

  /** The brute-force ground truth (q32) as (q_id, n_id). */
  private def truthOf(spark: SparkSession, dir: String): DataFrame =
    q32AnnBrute(spark, dir).select(col("q_id"), col("n_id"))

  /** q32 — brute-force cosine top-k for a fixed query set. */
  def q32AnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    topK(e.crossJoin(broadcast(queries(e))))
  }

  /** q33 — IVF-style ANN: probe only the query's own coarse cell (label). */
  def q33AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    topK(e.join(broadcast(queries(e, Seq(col("label")))), Seq("label")))
  }

  /** q53 — multi-probe IVF with a COMPUTED coarse quantizer: centroids are
    * per-cell means (rounded to 6dp so both engines make identical probe
    * decisions), each query probes its 2 nearest cells by squared L2 to
    * the centroid, then exact cosine top-k runs on the probed union.
    * Scale: centroid table = |cells|×dim (a broadcast dimension); probe
    * selection is a tiny cross join; the corpus is touched only in the
    * probed cells — the same partition-pruning story as q33, but with the
    * quantizer derived from the data instead of assumed. */
  def q53AnnMultiProbe(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val probes = probeRanks(queries(e), centroidsOf(e))
      .filter(col("pr") <= 2)
      .select(col("q_id"), col("label"), col("qv"), col("qn"))
    topK(e.join(broadcast(probes), Seq("label")))
  }

  /** q115 — embedding-space OUTLIER audit, the curation gate that runs
    * BESIDE dedup (q109) in an embedding pipeline: per label-cell, the
    * squared-L2 distance of every vector to its cell centroid (q53's
    * decimal-routed centroid + rounded-distance contract), thresholded at
    * the ROBUST quantile-scaled cut median + 2·(p90 − median). Both
    * quantiles are exact rank rows (q49/q114's integer rank rules — no
    * interpolating percentile, so every engine picks the same rows);
    * the multiplicative 1.5×-median cut a low-dim intuition suggests
    * never fires here — high-dim distances CONCENTRATE (all mass within
    * ~5% of the median on this fixture), so only a deviation-scaled
    * threshold measures anything. Reads the count of each cell far from
    * its own mass — mis-clustered or junk embeddings a curation pass
    * would re-route or drop. Plan: centroids and the quantile rows are
    * |cells|-row broadcast dimensions; the corpus is scanned twice,
    * shuffled never. */
  def q115EmbedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val d = e.join(broadcast(centroidsOf(e)), Seq("label"))
      .select(col("vec_id"), col("label"), sqDist(col("v"), col("cv")).as("dist"))
    val quants = d
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("dist"), col("vec_id"))))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("label"))))
      .groupBy(col("label"))
      .agg(min(when(col("rn") === ((col("cnt") + 1) / 2).cast("int"),
                    col("dist"))).as("median_dist"),
           min(when(col("rn") === ((col("cnt") * 9 + 9) / 10).cast("int"),
                    col("dist"))).as("p90_dist"))
    d.join(broadcast(quants), Seq("label"))
      .groupBy(col("label"), col("median_dist"), col("p90_dist"))
      .agg(count(lit(1)).as("n_vecs"),
           sum(when(col("dist") > col("median_dist") +
                      (col("p90_dist") - col("median_dist")) * 2.0,
                    1L).otherwise(0L))
             .as("n_outliers"))
      .select(col("label"), col("n_vecs"), col("median_dist"),
              col("p90_dist"), col("n_outliers"))
      .orderBy(col("label"))
  }

  val embedOutliersOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, v
       |  FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |cent AS (
       |  SELECT label, list(c ORDER BY i) AS cv FROM (
       |    SELECT label, i, CAST(round(CAST(avg(v[i]) AS DECIMAL(28,12)), 6) AS DOUBLE) AS c
       |    FROM e, generate_series(1, 64) AS g(i) GROUP BY label, i)
       |  GROUP BY label),
       |d AS (
       |  SELECT vec_id, e.label,
       |    round(list_sum(list_transform(range(1, 65),
       |      i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), 4) AS dist
       |  FROM e JOIN cent c ON e.label = c.label),
       |ranked AS (
       |  SELECT label, dist,
       |    row_number() OVER (PARTITION BY label ORDER BY dist, vec_id) AS rn,
       |    count(*) OVER (PARTITION BY label) AS cnt
       |  FROM d),
       |quants AS (
       |  SELECT label,
       |    min(CASE WHEN rn = CAST((cnt + 1) // 2 AS INT) THEN dist END) AS median_dist,
       |    min(CASE WHEN rn = CAST((cnt * 9 + 9) // 10 AS INT) THEN dist END) AS p90_dist
       |  FROM ranked GROUP BY label)
       |SELECT d.label, count(*) AS n_vecs, m.median_dist, m.p90_dist,
       |  CAST(sum(CASE WHEN d.dist > m.median_dist + (m.p90_dist - m.median_dist) * 2.0
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       |FROM d JOIN quants m ON d.label = m.label
       |GROUP BY d.label, m.median_dist, m.p90_dist ORDER BY d.label""".stripMargin

  val annMultiProbeOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |cent AS (
       |  SELECT label, list(c ORDER BY i) AS cv FROM (
       |    SELECT label, i, CAST(round(CAST(avg(v[i]) AS DECIMAL(28,12)), 6) AS DOUBLE) AS c
       |    FROM e, generate_series(1, 64) AS g(i) GROUP BY label, i)
       |  GROUP BY label),
       |probes AS (
       |  SELECT q_id, label, qv, qn FROM (
       |    SELECT q.vec_id AS q_id, c.label, q.v AS qv, q.nrm AS qn,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(list_sum(list_transform(range(1, 65),
       |          i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))), 4), c.label) AS pr
       |    FROM e q, cent c WHERE q.vec_id < $N_QUERIES)
       |  WHERE pr <= 2),
       |sims AS (
       |  SELECT p.q_id, n.vec_id AS n_id,
       |    round(list_dot_product(p.qv, n.v) / sqrt(p.qn * n.nrm), 4) AS cos_sim
       |  FROM probes p JOIN e n ON n.label = p.label AND n.vec_id != p.q_id)
       |SELECT q_id, rank, n_id, cos_sim FROM (
       |  SELECT q_id, n_id, cos_sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM sims)
       |WHERE rank <= $TOP_K ORDER BY q_id, rank""".stripMargin

  /** q59 — per-dimension embedding statistics (feature-drift audit):
    * posexplode fans each vector into (dim, value); the shuffle carries
    * |dims| partial aggregates per task, never the vectors. Extremes are
    * exact; the mean is rounded to 6dp for cross-engine agreement. */
  def q59DimStats(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select((col("dim") + 1).cast("long").as("dim"), col("x").cast("double").as("x"))
      .groupBy(col("dim"))
      .agg(round(avg(col("x")), 6).as("mean_x"),
           min(col("x")).as("min_x"),
           max(col("x")).as("max_x"))
      .orderBy(col("dim"))

  val dimStatsOracle: String =
    """SELECT CAST(i AS BIGINT) AS dim,
      |  round(avg(embedding[i]::DOUBLE), 6) AS mean_x,
      |  min(embedding[i]::DOUBLE) AS min_x,
      |  max(embedding[i]::DOUBLE) AS max_x
      |FROM embeddings, generate_series(1, 64) AS g(i)
      |GROUP BY i ORDER BY dim""".stripMargin

  private val KMEANS_K = 8
  private val DIMS = 64

  /** q71 — one deterministic Lloyd (k-means) iteration over the embedding
    * corpus: assign every vector to its nearest seed centroid (squared L2,
    * rounded to 4dp before the argmin, seed-id tiebreak), then recompute
    * per-cluster means. The canonical distributed k-means step:
    *   - seeds (K rows) BROADCAST — the corpus never shuffles for
    *     assignment; |a−b|² = |a|² + |b|² − 2a·b runs on the codegen'd
    *     [[graft.functions.DotProduct]] kernel;
    *   - the only exchange carries (cluster, dim, partial-sum) — K×dims
    *     partial aggregates per task, not vectors.
    * Iterating = re-running with the emitted centroids as the next seeds
    * (the assignment subframe is the reusable operator). */
  def q71KmeansIter(spark: SparkSession, dir: String): DataFrame = {
    val assigned = assignSeeds(vecs(spark, dir), KMEANS_K)
      .select(col("vec_id"), col("seed_id").as("cluster_id"), col("v"))
    assigned
      .select(col("cluster_id"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cluster_id"), (col("dim") + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n_members"), mean6(col("x")).as("c"))
      .orderBy(col("cluster_id"), col("dim"))
  }

  /** Every vector of `xs` with its nearest seed — the vectors of `xs` with
    * vec_id < `seedBound` — by squared L2, seed id breaking ties. The
    * distance is DECIMAL-routed to 4dp because it DECIDES the
    * assignment: a dyadic double can end in a 5 exactly at the rounding
    * digit (65/128 = 0.5078125), where Spark HALF_UP and DuckDB
    * half-even diverge. */
  private def assignSeeds(xs: DataFrame, seedBound: Int): DataFrame = {
    val seeds = xs.filter(col("vec_id") < seedBound)
      .select(col("vec_id").as("seed_id"), col("v").as("sv"),
              col("nrm").as("sn"))
    val d2 = round(((col("nrm") + col("sn")) - lit(2.0) * dot(col("v"), col("sv")))
        .cast(DecimalType(28, 12)), 4)
      .cast("double")
    val aw = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("seed_id"))
    xs.crossJoin(broadcast(seeds))
      .withColumn("d2", d2)
      .withColumn("rn", row_number().over(aw))
      .filter(col("rn") === 1)
  }

  val kmeansIterOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |seeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn
       |          FROM e WHERE vec_id < $KMEANS_K),
       |assigned AS (
       |  SELECT vec_id, seed_id AS cluster_id, v FROM (
       |    SELECT n.vec_id, s.seed_id, n.v,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        CAST(round(CAST((n.nrm + s.sn) - 2.0 * list_dot_product(n.v, s.sv)
       |             AS DECIMAL(28,12)), 4) AS DOUBLE),
       |        s.seed_id) AS rn
       |    FROM e n CROSS JOIN seeds s)
       |  WHERE rn = 1)
       |SELECT cluster_id, CAST(i AS BIGINT) AS dim,
       |  count(*) AS n_members,
       |  CAST(round(CAST(avg(v[i]) AS DECIMAL(28,12)), 6) AS DOUBLE) AS c
       |FROM assigned, generate_series(1, $DIMS) AS g(i)
       |GROUP BY cluster_id, i ORDER BY cluster_id, dim""".stripMargin

  private val N_PLANES = 8

  /** Fixed random hyperplanes for q72, derived from md5 so they are a
    * reproducible constant (not engine math): component (j, i) is
    * `nibble(md5("h<j>:<i>"), 1) − 7.5` — exactly representable halves in
    * [−7.5, 7.5]. Embedded as literals in both the Spark plan and the
    * oracle SQL. */
  lazy val hyperplanes: IndexedSeq[IndexedSeq[Double]] = {
    val mdig = java.security.MessageDigest.getInstance("MD5")
    (0 until N_PLANES).map { j =>
      (1 to DIMS).map { i =>
        val h = mdig.digest(s"h$j:$i".getBytes("UTF-8"))
        val nib = (h(0) >> 4) & 0xf
        nib - 7.5
      }
    }
  }

  /** q72 — LSH-bucketed ANN (random-hyperplane signatures): every vector's
    * bucket is the 8-bit sign pattern of its projections onto fixed random
    * hyperplanes; a query probes ONLY its own bucket, then exact cosine
    * top-k runs inside it. The scale complement to IVF (q33/q53): no
    * trained quantizer, buckets are content-addressed, and at 100 TB the
    * bucket id is the physical partition key so probing = partition
    * pruning. Projections are rounded to 6dp before the sign test so both
    * engines agree on every bucket bit. */
  def q72AnnHyperplane(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val bucket = (0 until N_PLANES).map { j =>
      val h = typedLit(hyperplanes(j))
      val proj = aggregate(
        zip_with(col("v"), h, (a, b) => a.cast("double") * b),
        lit(0.0), (acc, p) => acc + p)
      when(round(proj, 6) >= 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    val b = e.withColumn("bucket", bucket)
    topK(b.join(broadcast(queries(b, Seq(col("bucket")))), Seq("bucket")))
  }

  val annHyperplaneOracle: String = {
    val planes = hyperplanes.map(p => p.mkString("[", ", ", "]"))
      .mkString("[", ",\n      ", "]")
    val bits = (0 until N_PLANES).map { j =>
      s"""CASE WHEN round(list_sum(list_transform(range(1, ${DIMS + 1}),
         |      i -> v[i] * hp[${j + 1}][i])), 6) >= 0
         |    THEN CAST(${1L << j} AS BIGINT) ELSE 0 END""".stripMargin
    }.mkString(" + ")
    s"""WITH hp AS (SELECT $planes AS hp),
       |e AS (
       |  SELECT vec_id, v, list_dot_product(v, v) AS nrm, ($bits) AS bucket
       |  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings) CROSS JOIN hp)
       |SELECT q_id, rank, n_id, cos_sim FROM (
       |  SELECT q_id, n_id, cos_sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM (
       |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |      round(list_dot_product(q.v, n.v) / sqrt(q.nrm * n.nrm), 4) AS cos_sim
       |    FROM e q JOIN e n ON n.bucket = q.bucket AND n.vec_id != q.vec_id
       |    WHERE q.vec_id < $N_QUERIES))
       |WHERE rank <= $TOP_K ORDER BY q_id, rank""".stripMargin
  }

  private def annOracle(sameLabel: Boolean): String = {
    val labelCond = if (sameLabel) " AND n.label = q.label" else ""
    s"""WITH e AS (
       |  SELECT vec_id, label, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings))
       |SELECT q_id, rank, n_id, cos_sim FROM (
       |  SELECT q_id, n_id, cos_sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM (
       |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |      round(list_dot_product(q.v, n.v) / sqrt(q.nrm * n.nrm), 4) AS cos_sim
       |    FROM e q JOIN e n ON q.vec_id < $N_QUERIES AND n.vec_id != q.vec_id$labelCond))
       |WHERE rank <= $TOP_K ORDER BY q_id, rank""".stripMargin
  }

  val annBruteOracle: String = annOracle(sameLabel = false)
  val annIvfOracle: String = annOracle(sameLabel = true)

  /** q155 — contrastive-pair MINING (DPR/SimCSE-style training-data prep):
    * for every anchor query, the top same-label neighbor (the positive)
    * and the top-3 highest-cosine DIFFERENT-label neighbors — the hard
    * negatives that make a contrastive batch informative (random
    * negatives are trivially separable; the hardest ones carry the
    * gradient).
    *
    * One corpus pass: the q32 broadcast shape scores every (query,
    * neighbor) pair once, then ONE window partitioned by (query, side)
    * ranks positives and negatives simultaneously — the side flag joins
    * the partition key instead of running two searches. Same determinism
    * contract as the rest of the family (4dp-rounded cosine, vec_id
    * ties). At 100 TB: queries broadcast, corpus never shuffles, the
    * rank ≤ 3 filter is a WindowGroupLimit heap per (query, side). */
  def q155HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = queries(e, Seq(col("label").as("q_label")))
    val pairs = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
              (col("label") === col("q_label")).as("same"),
              cosine().as("cos_sim"))
    val w = Window.partitionBy(col("q_id"), col("same"))
      .orderBy(col("cos_sim").desc, col("n_id"))
    // rank <= 3 first, as its own conjunct: InferWindowGroupLimit only
    // reads plain rank-limit predicates, so the heap pushdown needs the
    // bound separated from the per-side disjunction
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3L)
      .filter(!col("same") || col("rank") === 1L)
      .select(col("q_id"),
              when(col("same"), "pos").otherwise("neg").as("kind"),
              col("rank"), col("n_id"), col("cos_sim"))
      .orderBy(col("q_id"), col("kind"), col("rank"))
  }

  val hardNegativesOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |pairs AS (
       |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |    CASE WHEN n.label = q.label THEN 1 ELSE 0 END AS same,
       |    round(list_dot_product(q.v, n.v) / sqrt(q.nrm * n.nrm), 4) AS cos_sim
       |  FROM e q JOIN e n ON n.vec_id != q.vec_id
       |  WHERE q.vec_id < $N_QUERIES),
       |ranked AS (
       |  SELECT q_id, n_id, same, cos_sim,
       |    CAST(row_number() OVER (PARTITION BY q_id, same
       |      ORDER BY cos_sim DESC, n_id) AS BIGINT) AS rank
       |  FROM pairs)
       |SELECT q_id, CASE WHEN same = 1 THEN 'pos' ELSE 'neg' END AS kind,
       |  rank, n_id, cos_sim
       |FROM ranked
       |WHERE (same = 1 AND rank = 1) OR (same = 0 AND rank <= 3)
       |ORDER BY q_id, kind, rank""".stripMargin

  // --- q157 — MMR diversified re-ranking (Carbonell & Goldstein SIGIR'98)

  /** MMR selections per query / candidate pool per query / λ as (num, 1-num)
    * tenths: score = 7·sim(q,d) − 3·max_{s∈S} sim(d,s), all integer. */
  private val MmrK = 5
  private val MmrN = 10

  /** 4dp cosine → exact integer ten-thousandths: the 4dp-rounded double is
    * within fp dust of k/10⁴, so round(·×10⁴) recovers k exactly — the
    * q156 ppm trick, after which MMR is pure integer arithmetic. */
  private def simPm(c: Column): Column =
    round(c * 10000).cast("long")

  /** q157 — MMR re-ranking: from each anchor's top-[[MmrN]] cosine
    * candidates, greedily select [[MmrK]] maximizing relevance MINUS
    * redundancy against what's already selected — the diversity-aware
    * top-k a retrieval-augmented pipeline serves instead of q32's raw
    * neighbors (near-duplicate neighbors waste context slots).
    *
    * Shape: the candidate pool is a BOUNDED dimension (N per anchor), so
    * the N² pairwise-sim relation and the ≤K-row selection state are
    * narrow at any corpus size; each of the K−1 greedy rounds is two
    * keyed joins + one WindowGroupLimit argmax, state under
    * localCheckpoint (the q152 loop discipline). The corpus is touched
    * once — by the q32 broadcast pass that builds the pool. */
  def q157MmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val cw = Window.partitionBy(col("q_id"))
      .orderBy(col("qsim_pm").desc, col("n_id"))
    val cand = e.crossJoin(broadcast(queries(e)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), simPm(cosine()).as("qsim_pm"))
      .withColumn("rnk", row_number().over(cw))
      .filter(col("rnk") <= MmrN)
      .select(col("q_id"), col("n_id"), col("qsim_pm"))
      .localCheckpoint()
    val withVec = cand.join(
      e.select(col("vec_id").as("n_id"), col("v"), col("nrm")), "n_id")
    val psim = simPm(cosine(v = "bv", n = "bn", qv = "av", qn = "an"))
    val cp = withVec.select(col("q_id"), col("n_id").as("a_id"),
        col("v").as("av"), col("nrm").as("an"))
      .join(withVec.select(col("q_id"), col("n_id").as("b_id"),
        col("v").as("bv"), col("nrm").as("bn")), "q_id")
      .filter(col("a_id") =!= col("b_id"))
      .select(col("q_id"), col("a_id"), col("b_id"), psim.as("sim_pm"))
      .localCheckpoint()
    val pw = Window.partitionBy(col("q_id"))
      .orderBy(col("score_pm").desc, col("n_id"))
    def pick(scored: DataFrame, step: Int): DataFrame =
      scored.withColumn("rn", row_number().over(pw))
        .filter(col("rn") === 1)
        .select(col("q_id"), lit(step.toLong).as("step"), col("n_id"),
                col("score_pm"))
    var sel = pick(cand.select(col("q_id"), col("n_id"),
      (col("qsim_pm") * 7).as("score_pm")), 1).localCheckpoint()
    for (k <- 2 to MmrK) {
      val div = cp.join(sel.select(col("q_id"), col("n_id").as("b_id")),
          Seq("q_id", "b_id"))
        .groupBy(col("q_id"), col("a_id")).agg(max(col("sim_pm")).as("div_pm"))
      val scored = cand
        .join(sel.select(col("q_id"), col("n_id")), Seq("q_id", "n_id"), "left_anti")
        .join(div.withColumnRenamed("a_id", "n_id"), Seq("q_id", "n_id"), "left")
        .select(col("q_id"), col("n_id"),
          (col("qsim_pm") * 7 - coalesce(col("div_pm"), lit(0L)) * 3)
            .as("score_pm"))
      sel = sel.union(pick(scored, k)).localCheckpoint()
    }
    sel.orderBy(col("q_id"), col("step"))
  }

  /** Generated K-step CTE replay (the q146/q152 discipline). */
  val mmrRerankOracle: String = {
    val cos = "round(list_dot_product(%s.v, %s.v) / sqrt(%s.nrm * %s.nrm), 4)"
    def pm(a: String, b: String) =
      s"CAST(round(${cos.format(a, b, a, b)} * 10000) AS BIGINT)"
    val steps = (2 to MmrK).map { k =>
      s"""div$k AS (
         |  SELECT cp.q_id, cp.a_id, max(cp.sim_pm) AS div_pm
         |  FROM cp JOIN sel${k - 1} s ON s.q_id = cp.q_id AND s.n_id = cp.b_id
         |  GROUP BY cp.q_id, cp.a_id),
         |scored$k AS (
         |  SELECT c.q_id, c.n_id,
         |    7 * c.qsim_pm - 3 * coalesce(d.div_pm, 0) AS score_pm
         |  FROM cand c LEFT JOIN div$k d
         |    ON d.q_id = c.q_id AND d.a_id = c.n_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} s
         |                    WHERE s.q_id = c.q_id AND s.n_id = c.n_id)),
         |pick$k AS (
         |  SELECT q_id, CAST($k AS BIGINT) AS step, n_id, score_pm FROM (
         |    SELECT q_id, n_id, score_pm,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY score_pm DESC, n_id) AS rn
         |    FROM scored$k) WHERE rn = 1),
         |sel$k AS (SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM pick$k)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |cand AS (
       |  SELECT q_id, n_id, qsim_pm FROM (
       |    SELECT q_id, n_id, qsim_pm,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY qsim_pm DESC, n_id) AS rnk
       |    FROM (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |            ${pm("q", "n")} AS qsim_pm
       |          FROM e q JOIN e n ON n.vec_id != q.vec_id
       |          WHERE q.vec_id < $N_QUERIES))
       |  WHERE rnk <= $MmrN),
       |cp AS (
       |  SELECT ca.q_id, ca.n_id AS a_id, cb.n_id AS b_id,
       |    ${pm("x", "y")} AS sim_pm
       |  FROM cand ca JOIN cand cb
       |    ON ca.q_id = cb.q_id AND ca.n_id != cb.n_id
       |  JOIN e x ON x.vec_id = ca.n_id
       |  JOIN e y ON y.vec_id = cb.n_id),
       |sel1 AS (
       |  SELECT q_id, CAST(1 AS BIGINT) AS step, n_id, score_pm FROM (
       |    SELECT q_id, n_id, 7 * qsim_pm AS score_pm,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY 7 * qsim_pm DESC, n_id) AS rn
       |    FROM cand) WHERE rn = 1),
       |$steps
       |SELECT q_id, step, n_id, CAST(score_pm AS BIGINT) AS score_pm
       |FROM sel$MmrK ORDER BY q_id, step""".stripMargin
  }

  /** q89 — ANN RECALL audit: recall@k of the IVF index (q33) against the
    * brute-force ground truth (q32), per query. The tuning readout every
    * ANN deployment watches (probe more cells? re-train the quantizer?),
    * and the third leg of the approximation-audit family (q82 exact vs
    * q29 LSH; q88 estimated vs exact Jaccard). hits is an integer
    * semi-join count; recall = hits/k is the same double in any engine
    * (one division of small exact ints). Cost: both top-k plans + one
    * k·|queries|-row semi join — negligible next to the searches
    * themselves. */
  def q89AnnRecall(spark: SparkSession, dir: String): DataFrame =
    recallAtK(truthOf(spark, dir),
              q33AnnIvf(spark, dir).select(col("q_id"), col("n_id")))

  // --- q94/q95 — deterministic random projection (Johnson-Lindenstrauss)

  private val JlK = 16   // projected dimensionality
  private val Dim = 64   // embeddings table dimension (TESTDATA.md)

  /** ±1 projection matrix derived from md5 — the Achlioptas/JL sign
    * construction (public), made REPRODUCIBLE across engines/runs by
    * hashing (k, d) instead of sampling: sign = parity of the first md5
    * nibble of "jl:k:d". The matrix is a 16×64 plan-time literal — both
    * the Spark plan and the generated oracle SQL embed the same
    * constants, so there is no RNG state anywhere. */
  lazy val jlSigns: IndexedSeq[IndexedSeq[Float]] =
    (0 until JlK).map { k =>
      (0 until Dim).map { d =>
        val h = graft.functions.TextHashUtil.md5Hex(s"jl:$k:$d")
        if ((Character.digit(h.charAt(0), 16) & 1) == 0) 1f else -1f
      }
    }

  /** q94 — project every embedding 64→16 with the deterministic JL sign
    * matrix: y_k = Σ_d ±v_d, computed by the graft_dot kernel against a
    * constant ±1 vector (one codegen'd loop per output dim; float→double
    * in index order, same op sequence as the oracle's 1.0·x + (−1.0)·x
    * left fold). The 100 TB story: projection is a map-only pass — 4×
    * smaller vectors for every downstream ANN/cluster/dedup stage, no
    * shuffle, no state; determinism means a re-run or a different
    * cluster produces byte-identical projections. */
  def q94JlProject(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding").as("v"))
    val ys = (0 until JlK).map { k =>
      round(dot(col("v"), typedLit(jlSigns(k))), 4).as(s"y$k")
    }
    e.select(col("vec_id") +: ys: _*).orderBy(col("vec_id"))
  }

  /** q95 — the q94 projection's RECALL audit (the q89 pattern applied to
    * dimensionality reduction): brute-force top-k in the 16-d projected
    * space vs the 64-d ground truth (q32), recall@k per query. This is
    * the number that decides whether a candidate-generation stage may
    * run on projected vectors. Projected components round to 6dp before
    * the cosine so both engines rank identical values.
    *
    * Fixture readout: ~0.08 mean recall@5 at sf0.1 — the honest result
    * for 64→16 ±1 projection over near-uniform synthetic embeddings,
    * whose true neighbors are barely closer than the bulk (same story as
    * q89's 0.14 IVF recall). On real embedding manifolds the gap between
    * neighbors and bulk is what JL preserves; THIS audit is how a
    * deployment measures whether its corpus is such a manifold before
    * trusting projected candidates. */
  def q95JlRecall(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding").as("v"))
    val pv = array((0 until JlK).map(k =>
      round(dot(col("v"), typedLit(jlSigns(k))), 6)): _*)
    val p = base.select(col("vec_id"), pv.as("pv"))
      .withColumn("nrm", dot(col("pv"), col("pv")))
      .localCheckpoint()
    recallAtK(truthOf(spark, dir), projectedTopK(p))
  }

  /** Brute top-k in a projected space `p` (vec_id, pv, nrm) as (q_id,
    * n_id) — the approx leg of the q95/q159 audits. */
  private def projectedTopK(p: DataFrame): DataFrame =
    topK(p.crossJoin(broadcast(queries(p, v = "pv"))), v = "pv")
      .select(col("q_id"), col("n_id"))

  /** The oracle embeds the SAME ±1 literals: 1.0·x + (−1.0)·x left fold =
    * the kernel's op sequence exactly. */
  private def jlExprSql(vcol: String, decimals: Int): Seq[String] =
    jlSigns.map { row =>
      val sum = row.zipWithIndex.map { case (s, d) =>
        s"(${s.toDouble})*CAST($vcol[${d + 1}] AS DOUBLE)"
      }.mkString(" + ")
      s"round($sum, $decimals)"
    }

  // --- q159 — scalar quantization (SQ8) recall audit

  /** q159 — SQ8 recall@k: per-dimension min/max scalar quantization to
    * 255 levels (the FAISS `SQ8` / vector-DB storage default — 4× smaller
    * than float32 with near-lossless recall), then the q95 audit: search
    * on DEQUANTIZED vectors, recall against the float brute-force truth.
    * Completes the compression-audit family — JL cuts DIMENSIONS (q94),
    * PQ cuts to CODEBOOK CELLS (q128), SQ8 cuts PRECISION per dimension.
    *
    * Determinism: the only rounding is the quantization level itself,
    * DECIMAL-routed (`round254` half-away in both engines); dequantized
    * arithmetic is plain fixed-order double ops and the final cosine is
    * the family's 4dp contract. The 64-row min/max stats table is the
    * bounded control-plane dimension (the q150/q152 pattern), collected
    * once and re-broadcast as literals so the quantizer is a pure column
    * program — at 100 TB the stats pass is one partial-aggregated
    * (dim, min, max) rollup over the scan. */
  def q159Sq8Recall(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .localCheckpoint()
    val statRows = base.select(posexplode(col("v")).as(Seq("d0", "x")))
      .groupBy(col("d0")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    val mins = new Array[Double](Dim)
    val deltas = new Array[Double](Dim)
    statRows.foreach { r =>
      val i = r.getInt(0)
      mins(i) = r.getDouble(1)
      val d = r.getDouble(2) - r.getDouble(1)
      deltas(i) = if (d > 0) d else 1.0
    }
    val minsL = typedLit(mins.toSeq)
    val deltasL = typedLit(deltas.toSeq)
    def r0(c: Column): Column = round(c.cast(DecimalType(28, 12))).cast("double")
    val xhat = transform(sequence(lit(1), lit(Dim)), i => {
      val x = element_at(col("v"), i)
      val m = element_at(minsL, i)
      val d = element_at(deltasL, i)
      m + r0((x - m) * lit(254.0) / d) * d / lit(254.0)
    })
    val p = base.select(col("vec_id"), xhat.as("pv"))
      .withColumn("nrm", dot(col("pv"), col("pv")))
      .localCheckpoint()
    recallAtK(truthOf(spark, dir), projectedTopK(p))
  }

  val sq8RecallOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |stats AS (
       |  SELECT i, mn, CASE WHEN mx > mn THEN mx - mn ELSE 1.0 END AS d
       |  FROM (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
       |        FROM e, generate_series(1, $Dim) AS g(i) GROUP BY i)),
       |xh AS (
       |  SELECT vec_id, list(xhat ORDER BY i) AS pv FROM (
       |    SELECT e.vec_id, s.i,
       |      s.mn + round(CAST((e.v[s.i] - s.mn) * 254.0 / s.d
       |                        AS DECIMAL(28,12))) * s.d / 254.0 AS xhat
       |    FROM e, stats s)
       |  GROUP BY vec_id),
       |pe AS (SELECT vec_id, pv, list_dot_product(pv, pv) AS nrm FROM xh),
       |truth AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
       |    FROM (
       |      SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |        round(list_dot_product(q.v, n.v) / sqrt(q.nrm * n.nrm), 4) AS cos_sim
       |      FROM e q JOIN e n ON q.vec_id < $N_QUERIES AND n.vec_id != q.vec_id))
       |  WHERE rank <= $TOP_K),
       |approx AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
       |    FROM (
       |      SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |        round(list_dot_product(q.pv, n.pv) / sqrt(q.nrm * n.nrm), 4) AS cos_sim
       |      FROM pe q JOIN pe n ON q.vec_id < $N_QUERIES AND n.vec_id != q.vec_id))
       |  WHERE rank <= $TOP_K)
       |SELECT t.q_id, CAST(count(a.n_id) AS BIGINT) AS hits,
       |  CAST(count(a.n_id) AS DOUBLE) / $TOP_K AS recall_at_k
       |FROM truth t LEFT JOIN approx a ON a.q_id = t.q_id AND a.n_id = t.n_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin

  val jlProjectOracle: String = {
    val cols = jlExprSql("embedding", 4).zipWithIndex
      .map { case (e, k) => s"$e AS y$k" }.mkString(",\n  ")
    s"""SELECT vec_id,
       |  $cols
       |FROM embeddings ORDER BY vec_id""".stripMargin
  }

  val jlRecallOracle: String = {
    val pvList = jlExprSql("embedding", 6).mkString("[", ", ", "]")
    s"""WITH p AS (
       |  SELECT vec_id, $pvList AS pv FROM embeddings),
       |pe AS (SELECT vec_id, pv, list_dot_product(pv, pv) AS nrm FROM p),
       |e AS (
       |  SELECT vec_id, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |truth AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
       |    FROM (
       |      SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |        round(list_dot_product(q.v, n.v) / sqrt(q.nrm * n.nrm), 4) AS cos_sim
       |      FROM e q JOIN e n ON q.vec_id < $N_QUERIES AND n.vec_id != q.vec_id))
       |  WHERE rank <= $TOP_K),
       |approx AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
       |    FROM (
       |      SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |        round(list_dot_product(q.pv, n.pv) / sqrt(q.nrm * n.nrm), 4) AS cos_sim
       |      FROM pe q JOIN pe n ON q.vec_id < $N_QUERIES AND n.vec_id != q.vec_id))
       |  WHERE rank <= $TOP_K)
       |SELECT t.q_id, CAST(count(a.n_id) AS BIGINT) AS hits,
       |  CAST(count(a.n_id) AS DOUBLE) / $TOP_K AS recall_at_k
       |FROM truth t LEFT JOIN approx a ON a.q_id = t.q_id AND a.n_id = t.n_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin
  }

  val annRecallOracle: String = {
    def topkCte(labelCond: String): String =
      s"""SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
         |    FROM (
         |      SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |        round(list_dot_product(q.v, n.v) / sqrt(q.nrm * n.nrm), 4) AS cos_sim
         |      FROM e q JOIN e n ON q.vec_id < $N_QUERIES AND n.vec_id != q.vec_id$labelCond))
         |  WHERE rank <= $TOP_K""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, label, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |truth AS (
       |  ${topkCte("")}),
       |approx AS (
       |  ${topkCte(" AND n.label = q.label")})
       |SELECT t.q_id, CAST(count(a.n_id) AS BIGINT) AS hits,
       |  CAST(count(a.n_id) AS DOUBLE) / $TOP_K AS recall_at_k
       |FROM truth t LEFT JOIN approx a ON a.q_id = t.q_id AND a.n_id = t.n_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Product quantization (Jégou et al. TPAMI 2011, public) — the memory
  // side of the ANN story: IVF (q33/q53) prunes WHICH vectors a query
  // scans; PQ compresses WHAT is scanned. A 64-dim float vector (256 B)
  // becomes PQ_M=8 one-byte codes: per subspace, the id of the nearest
  // codebook centroid. At 100 TB the corpus lives in Parquet as 8 small
  // ints; full vectors are fetched only to re-rank a final candidate
  // handful. Codebooks here are SEED codebooks (the first PQ_K vectors'
  // subvectors — the q71 seed rule): a production build trains them with
  // per-subspace k-means (q71's iteration applies unchanged per
  // subspace), and every operator below is agnostic to where the
  // codebook came from. Determinism: all distances are decimal-routed
  // to 4dp BEFORE any argmin/rank, ties break by code/vec id — the q71
  // discipline.
  // ---------------------------------------------------------------------

  val PQ_M = 8      // subspaces
  val PQ_SUBDIM = 8 // dims per subspace (8×8 = 64)
  val PQ_K = 16     // centroids per subspace

  private val dec4 = DecimalType(28, 4)
  private def d2dec(sq: Column): Column =
    round(sq.cast(DecimalType(28, 12)), 4).cast(dec4)

  /** (vec_id, m, sv) subvector explode — one row per (vector, subspace). */
  private def pqSub(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(PQ_M - 1)), m =>
        slice(col("v"), m * PQ_SUBDIM + 1, lit(PQ_SUBDIM)))).as(Seq("m", "sv")))

  /** Seed codebook: (m, code, cv, cvn) — PQ_M·PQ_K rows, broadcast-scale
    * at any corpus size. */
  private def pqCodebook(e: DataFrame): DataFrame =
    pqSub(e.filter(col("vec_id") < PQ_K))
      .select(col("m"), col("vec_id").as("code"), col("sv").as("cv"))
      .withColumn("cvn", dot(col("cv"), col("cv")))

  /** (vec_id, m, code): nearest centroid per subspace. One broadcast
    * join corpus-subvectors × codebook; the argmin window partitions by
    * (vec_id, m) — bounded at PQ_K rows. */
  private[operators] def pqCodes(e: DataFrame): DataFrame = {
    val sub = pqSub(e).withColumn("svn", dot(col("sv"), col("sv")))
    val d2 = d2dec(col("svn") + col("cvn") - lit(2.0) * dot(col("sv"), col("cv")))
    val w = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("d2"), col("code"))
    sub.join(broadcast(pqCodebook(e)), Seq("m"))
      .withColumn("d2", d2)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("code"))
  }

  /** Per-query ADC lookup table (q_id, m, code, d2m): the decimal-routed
    * squared L2 from each query subvector to each codebook centroid —
    * PQ_M·PQ_K rows per query, broadcast-scale. */
  private def adcTable(q: DataFrame, e: DataFrame): DataFrame = {
    val qsub = pqSub(q.select(col("q_id").as("vec_id"), col("qv").as("v")))
      .select(col("vec_id").as("q_id"), col("m"), col("sv").as("qsv"))
      .withColumn("qsvn", dot(col("qsv"), col("qsv")))
    qsub.join(pqCodebook(e), Seq("m"))
      .select(col("q_id"), col("m"), col("code"),
        d2dec(col("qsvn") + col("cvn") -
              lit(2.0) * dot(col("qsv"), col("cv"))).as("d2m"))
  }

  /** The k smallest `d` per query, vec_id breaking ties, as (q_id, n_id). */
  private def smallestK(scored: DataFrame, d: String): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col(d), col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TOP_K).select(col("q_id"), col("vec_id").as("n_id"))
  }

  /** Decimal-routed exact squared L2 from the query (qv, qn) to `v`. */
  private val exactD2: Column =
    d2dec(col("qn") + col("nrm") - lit(2.0) * dot(col("qv"), col("v")))

  /** Exact-L2 top-k ground truth of the query set `q` over the corpus. */
  private def exactL2TopK(e: DataFrame, q: DataFrame): DataFrame =
    smallestK(e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("d2x", exactD2), "d2x")

  /** Summed ADC distance per (query, candidate) over `cand` rows that
    * carry (q_id, vec_id, m, code); a query never matches itself. */
  private def adcSums(cand: DataFrame): DataFrame =
    cand.groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d2m")).as("adc"))
      .filter(col("vec_id") =!= col("q_id"))

  /** Per-query recall@k of the ADC top-k against the exact-L2 top-k. */
  private def adcRecall(topExact: DataFrame, topAdc: DataFrame): DataFrame =
    topExact.join(topAdc.withColumn("hit", lit(1L)), Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("q_id"), col("n_hits"),
        (col("n_hits").cast("double") / TOP_K).as("recall_at_k"))
      .orderBy(col("q_id"))

  /** q128 — PQ ENCODE: every vector's 8 subspace codes, wide. The
    * persistable compressed corpus (8 bytes/vector + one shared
    * codebook). */
  def q128PqEncode(spark: SparkSession, dir: String): DataFrame = {
    val codes = pqCodes(vecs(spark, dir))
    val wide = (0 until PQ_M).map(m =>
      max(when(col("m") === m, col("code"))).as(s"c$m"))
    codes.groupBy(col("vec_id"))
      .agg(wide.head, wide.tail: _*)
      .orderBy(col("vec_id"))
  }

  /** q129 — ADC recall AUDIT (the q89/q95 honest-readout family, for
    * the compression step): asymmetric-distance top-k from codes alone
    * vs exact-L2 top-k from full vectors, recall@k per query. ADC: the
    * query precomputes a (m, code) → d² lookup table against the
    * codebook (PQ_M·PQ_K rows per query — broadcast), and a corpus
    * vector's estimated d² is the SUM of its codes' table entries: the
    * scan touches only the 8 small codes per vector, never the floats.
    * All component distances are exact decimals, so the sum — and the
    * ranking — is bit-identical across engines and partitionings. */
  def q129PqRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val codes = pqCodes(e)
    val q = queries(e)
    val adc = adcSums(codes.join(broadcast(adcTable(q, e)), Seq("m", "code")))
    adcRecall(exactL2TopK(e, q), smallestK(adc, "adc"))
  }

  /** q130 — IVF-PQ, the composed production ANN shape at 100 TB: the
    * coarse quantizer (q53's computed per-cell centroids) prunes WHICH
    * cells a query scans (partition pruning on the cell key), PQ codes
    * (q128) compress WHAT is scanned inside them (ADC sums over a
    * broadcast per-query LUT, q129), and the audit reports recall@k
    * against the exact-L2 ground truth — the one number that says
    * whether the two approximations compose acceptably on THIS corpus
    * (they multiply: cell recall × ADC rank fidelity; reads lower than
    * either alone on the near-uniform fixture — the honest q89/q95
    * readout). Plan: centroids, probes and LUTs are broadcast
    * dimensions; the corpus-side work is one label-pruned join plus a
    * code join keyed by vec_id — the full float vectors are touched
    * only by the audit's ground-truth side. */
  def q130IvfPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = queries(e)
    adcRecall(exactL2TopK(e, q), smallestK(probedAdc(e, q), "adc"))
  }

  /** The IVF-PQ search of q130/q162: each query probes its 2 nearest
    * computed cells, and every candidate there is scored by its summed
    * ADC distance — (q_id, vec_id, adc). */
  private def probedAdc(e: DataFrame, q: DataFrame): DataFrame = {
    val codes = pqCodes(e)
    val probes = probeRanks(q, centroidsOf(e))
      .filter(col("pr") <= 2)
      .select(col("q_id"), col("label"))
    val lut = adcTable(q, e)
    val cand = e.select(col("vec_id"), col("label"))
      .join(broadcast(probes), Seq("label"))
      .select(col("q_id"), col("vec_id"))
    adcSums(cand.join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("q_id", "m", "code")))
  }

  val ivfPqRecallOracle: String =
    s"""WITH $pqCommonCtes,
       |el AS (SELECT vec_id, label, v, list_dot_product(v, v) AS nrm
       |       FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |             FROM embeddings)),
       |cent AS (
       |  SELECT label, list(c ORDER BY i) AS cv FROM (
       |    SELECT label, i, CAST(round(CAST(avg(v[i]) AS DECIMAL(28,12)), 6) AS DOUBLE) AS c
       |    FROM el, generate_series(1, 64) AS g(i) GROUP BY label, i)
       |  GROUP BY label),
       |probes AS (
       |  SELECT q_id, label FROM (
       |    SELECT q.vec_id AS q_id, c.label,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(list_sum(list_transform(range(1, 65),
       |          i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))), 4), c.label) AS pr
       |    FROM el q, cent c WHERE q.vec_id < $N_QUERIES)
       |  WHERE pr <= 2),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $N_QUERIES),
       |qsub AS (
       |  SELECT q_id, m,
       |    list_slice(qv, m*$PQ_SUBDIM + 1, m*$PQ_SUBDIM + $PQ_SUBDIM) AS qsv
       |  FROM q, generate_series(0, ${PQ_M - 1}) AS g(m)),
       |lut AS (
       |  SELECT s.q_id, s.m, c.code,
       |    CAST(round(CAST(list_dot_product(s.qsv, s.qsv)
       |      + list_dot_product(c.cv, c.cv)
       |      - 2.0 * list_dot_product(s.qsv, c.cv)
       |      AS DECIMAL(28,12)), 4) AS DECIMAL(28,4)) AS d2m
       |  FROM qsub s JOIN cb c USING (m)),
       |cand AS (
       |  SELECT p.q_id, n.vec_id FROM el n JOIN probes p ON n.label = p.label),
       |adc AS (
       |  SELECT d.q_id, d.vec_id, sum(l.d2m) AS adc
       |  FROM cand d
       |  JOIN codes x ON x.vec_id = d.vec_id
       |  JOIN lut l ON l.q_id = d.q_id AND l.m = x.m AND l.code = x.code
       |  WHERE d.vec_id <> d.q_id
       |  GROUP BY d.q_id, d.vec_id),
       |top_adc AS (
       |  SELECT q_id, vec_id AS n_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rk
       |    FROM adc)
       |  WHERE rk <= $TOP_K),
       |top_exact AS (
       |  SELECT q_id, vec_id AS n_id FROM (
       |    SELECT q.q_id, n.vec_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        CAST(round(CAST(list_dot_product(q.qv, q.qv)
       |          + list_dot_product(n.v, n.v)
       |          - 2.0 * list_dot_product(q.qv, n.v)
       |          AS DECIMAL(28,12)), 4) AS DECIMAL(28,4)), n.vec_id) AS rk
       |    FROM e n CROSS JOIN q WHERE n.vec_id <> q.q_id)
       |  WHERE rk <= $TOP_K)
       |SELECT t.q_id, CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hits,
       |  CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / $TOP_K AS recall_at_k
       |FROM top_exact t
       |LEFT JOIN top_adc a ON a.q_id = t.q_id AND a.n_id = t.n_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin

  private def pqCommonCtes: String =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |      FROM embeddings),
       |sub AS (
       |  SELECT vec_id, m,
       |    list_slice(v, m*$PQ_SUBDIM + 1, m*$PQ_SUBDIM + $PQ_SUBDIM) AS sv
       |  FROM e, generate_series(0, ${PQ_M - 1}) AS g(m)),
       |cb AS (SELECT m, vec_id AS code, sv AS cv FROM sub WHERE vec_id < $PQ_K),
       |codes AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.code,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
       |        CAST(round(CAST(list_dot_product(s.sv, s.sv)
       |          + list_dot_product(c.cv, c.cv)
       |          - 2.0 * list_dot_product(s.sv, c.cv)
       |          AS DECIMAL(28,12)), 4) AS DECIMAL(28,4)), c.code) AS rn
       |    FROM sub s JOIN cb c USING (m))
       |  WHERE rn = 1)""".stripMargin

  val pqEncodeOracle: String = {
    val cols = (0 until PQ_M).map(m =>
      s"CAST(max(CASE WHEN m = $m THEN code END) AS BIGINT) AS c$m").mkString(",\n  ")
    s"""WITH $pqCommonCtes
       |SELECT vec_id, $cols
       |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  val pqRecallOracle: String =
    s"""WITH $pqCommonCtes,
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $N_QUERIES),
       |qsub AS (
       |  SELECT q_id, m,
       |    list_slice(qv, m*$PQ_SUBDIM + 1, m*$PQ_SUBDIM + $PQ_SUBDIM) AS qsv
       |  FROM q, generate_series(0, ${PQ_M - 1}) AS g(m)),
       |lut AS (
       |  SELECT s.q_id, s.m, c.code,
       |    CAST(round(CAST(list_dot_product(s.qsv, s.qsv)
       |      + list_dot_product(c.cv, c.cv)
       |      - 2.0 * list_dot_product(s.qsv, c.cv)
       |      AS DECIMAL(28,12)), 4) AS DECIMAL(28,4)) AS d2m
       |  FROM qsub s JOIN cb c USING (m)),
       |adc AS (
       |  SELECT l.q_id, x.vec_id, sum(l.d2m) AS adc
       |  FROM codes x JOIN lut l ON l.m = x.m AND l.code = x.code
       |  WHERE x.vec_id <> l.q_id
       |  GROUP BY l.q_id, x.vec_id),
       |top_adc AS (
       |  SELECT q_id, vec_id AS n_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rk
       |    FROM adc)
       |  WHERE rk <= $TOP_K),
       |top_exact AS (
       |  SELECT q_id, vec_id AS n_id FROM (
       |    SELECT q.q_id, n.vec_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        CAST(round(CAST(list_dot_product(q.qv, q.qv)
       |          + list_dot_product(n.v, n.v)
       |          - 2.0 * list_dot_product(q.qv, n.v)
       |          AS DECIMAL(28,12)), 4) AS DECIMAL(28,4)), n.vec_id) AS rk
       |    FROM e n CROSS JOIN q WHERE n.vec_id <> q.q_id)
       |  WHERE rk <= $TOP_K)
       |SELECT t.q_id, CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hits,
       |  CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / $TOP_K AS recall_at_k
       |FROM top_exact t
       |LEFT JOIN top_adc a ON a.q_id = t.q_id AND a.n_id = t.n_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin

  /** q136 — CLUSTER-BALANCED sample: the diversity-preserving
    * subsample used by embedding-curation pipelines (the
    * SSL-prototypes/SemDeDup family): assign every vector to its
    * nearest k-means seed (the q71 assignment, decimal-routed d2), then
    * take a fixed-size hash-priority sample PER CLUSTER (the q103
    * machinery keyed by cluster) — dense regions stop dominating the
    * subsample because every cluster contributes at most k docs
    * regardless of its population. No RNG state: the sample is a pure
    * function of the data, extensible by raising k. Shape: the
    * rank-≤-k filter compiles to WindowGroupLimit (per-partition
    * k-heaps — only k·K rows shuffle even when a cluster holds half
    * the corpus); cluster sizes ride in on a broadcast of the K-row
    * size relation. */
  def q136ClusterSample(spark: SparkSession, dir: String): DataFrame = {
    val assigned = assignSeeds(vecs(spark, dir), KMEANS_K)
      .select(col("vec_id"), col("seed_id").as("cluster_id"))
    val sizes = assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_n"))
    val sw = Window.partitionBy(col("cluster_id"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    assigned
      .withColumn("rk", row_number().over(sw).cast("long"))
      .filter(col("rk") <= 5)
      .join(broadcast(sizes), Seq("cluster_id"))
      .select(col("cluster_id"), col("rk"), col("vec_id"), col("cluster_n"))
      .orderBy(col("cluster_id"), col("rk"))
  }

  val clusterSampleOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |seeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn
       |          FROM e WHERE vec_id < $KMEANS_K),
       |assigned AS (
       |  SELECT vec_id, seed_id AS cluster_id FROM (
       |    SELECT n.vec_id, s.seed_id,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        CAST(round(CAST((n.nrm + s.sn) - 2.0 * list_dot_product(n.v, s.sv)
       |             AS DECIMAL(28,12)), 4) AS DOUBLE),
       |        s.seed_id) AS rn
       |    FROM e n CROSS JOIN seeds s)
       |  WHERE rn = 1),
       |sizes AS (
       |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_n
       |  FROM assigned GROUP BY cluster_id),
       |samp AS (
       |  SELECT cluster_id, vec_id,
       |    CAST(row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rk
       |  FROM assigned)
       |SELECT s.cluster_id, s.rk, s.vec_id, z.cluster_n
       |FROM samp s JOIN sizes z USING (cluster_id)
       |WHERE s.rk <= 5
       |ORDER BY s.cluster_id, s.rk""".stripMargin

  // ---------------------------------------------------------------------
  // q162 — IVF-PQ + EXACT REFINE (the FAISS IndexRefineFlat production
  // shape): the PQ stage RANKS a shortlist cheaply, then the true
  // vectors of ONLY the shortlisted candidates are fetched and re-ranked
  // exactly. Invariant (machine-checked in Round5cSpec): any exact-top-k
  // member that reaches the shortlist is necessarily re-selected by the
  // exact re-rank (its exact rank within the shortlist is ≤ its global
  // rank), so refine recall ≥ ADC recall per query, always — the only
  // losses left are vectors the probe/shortlist stages never saw.
  // ---------------------------------------------------------------------

  /** ADC shortlist size for the refine stage (4·k — the FAISS
    * `k_factor` idiom). */
  val RefineShortlist = 4 * TOP_K

  /** q162 — two-stage retrieval audit: recall@k of the raw ADC ranking
    * (q130's readout) beside the exact-refined ranking from the same
    * shortlist, per query.
    *
    * Scale: identical to q130 until the shortlist exists (probes and
    * LUTs broadcast, corpus codes never shuffle), then the refine leg
    * touches ≤ |queries|·RefineShortlist true vectors via a broadcast
    * semi-join on vec_id — the corpus is scanned, never exchanged; the
    * exact brute leg is the audit's cost, not the operator's. */
  def q162IvfPqRefine(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = queries(e)
    val wA = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    val ranked = probedAdc(e, q).withColumn("rk", row_number().over(wA))
    val topAdc = ranked.filter(col("rk") <= TOP_K)
      .select(col("q_id"), col("vec_id").as("n_id"))
    val shortlist = ranked.filter(col("rk") <= RefineShortlist)
      .select(col("q_id"), col("vec_id"))
    // refine: true vectors for the shortlist only (broadcast semi-shape —
    // the corpus side is scanned, never exchanged), exact re-rank
    val topRef = smallestK(e.select(col("vec_id"), col("v"), col("nrm"))
      .join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("d2x", exactD2), "d2x")
    exactL2TopK(e, q)
      .join(topAdc.withColumn("hit_a", lit(1L)), Seq("q_id", "n_id"), "left")
      .join(topRef.withColumn("hit_r", lit(1L)), Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit_a"), lit(0L))).as("n_hits_adc"),
           sum(coalesce(col("hit_r"), lit(0L))).as("n_hits_ref"))
      .select(col("q_id"), col("n_hits_adc"),
        (col("n_hits_adc").cast("double") / TOP_K).as("recall_adc"),
        col("n_hits_ref"),
        (col("n_hits_ref").cast("double") / TOP_K).as("recall_ref"))
      .orderBy(col("q_id"))
  }

  val ivfPqRefineOracle: String =
    s"""WITH $pqCommonCtes,
       |el AS (SELECT vec_id, label, v, list_dot_product(v, v) AS nrm
       |       FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |             FROM embeddings)),
       |cent AS (
       |  SELECT label, list(c ORDER BY i) AS cv FROM (
       |    SELECT label, i, CAST(round(CAST(avg(v[i]) AS DECIMAL(28,12)), 6) AS DOUBLE) AS c
       |    FROM el, generate_series(1, 64) AS g(i) GROUP BY label, i)
       |  GROUP BY label),
       |probes AS (
       |  SELECT q_id, label FROM (
       |    SELECT q.vec_id AS q_id, c.label,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(list_sum(list_transform(range(1, 65),
       |          i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))), 4), c.label) AS pr
       |    FROM el q, cent c WHERE q.vec_id < $N_QUERIES)
       |  WHERE pr <= 2),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $N_QUERIES),
       |qsub AS (
       |  SELECT q_id, m,
       |    list_slice(qv, m*$PQ_SUBDIM + 1, m*$PQ_SUBDIM + $PQ_SUBDIM) AS qsv
       |  FROM q, generate_series(0, ${PQ_M - 1}) AS g(m)),
       |lut AS (
       |  SELECT s.q_id, s.m, c.code,
       |    CAST(round(CAST(list_dot_product(s.qsv, s.qsv)
       |      + list_dot_product(c.cv, c.cv)
       |      - 2.0 * list_dot_product(s.qsv, c.cv)
       |      AS DECIMAL(28,12)), 4) AS DECIMAL(28,4)) AS d2m
       |  FROM qsub s JOIN cb c USING (m)),
       |cand AS (
       |  SELECT p.q_id, n.vec_id FROM el n JOIN probes p ON n.label = p.label),
       |adc AS (
       |  SELECT d.q_id, d.vec_id, sum(l.d2m) AS adc
       |  FROM cand d
       |  JOIN codes x ON x.vec_id = d.vec_id
       |  JOIN lut l ON l.q_id = d.q_id AND l.m = x.m AND l.code = x.code
       |  WHERE d.vec_id <> d.q_id
       |  GROUP BY d.q_id, d.vec_id),
       |ranked AS (
       |  SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rk
       |  FROM adc),
       |top_adc AS (SELECT q_id, vec_id AS n_id FROM ranked WHERE rk <= $TOP_K),
       |shortlist AS (SELECT q_id, vec_id FROM ranked WHERE rk <= $RefineShortlist),
       |top_ref AS (
       |  SELECT q_id, vec_id AS n_id FROM (
       |    SELECT s.q_id, s.vec_id,
       |      row_number() OVER (PARTITION BY s.q_id ORDER BY
       |        CAST(round(CAST(list_dot_product(q.qv, q.qv)
       |          + list_dot_product(n.v, n.v)
       |          - 2.0 * list_dot_product(q.qv, n.v)
       |          AS DECIMAL(28,12)), 4) AS DECIMAL(28,4)), s.vec_id) AS rk
       |    FROM shortlist s
       |    JOIN e n ON n.vec_id = s.vec_id
       |    JOIN q ON q.q_id = s.q_id)
       |  WHERE rk <= $TOP_K),
       |top_exact AS (
       |  SELECT q_id, vec_id AS n_id FROM (
       |    SELECT q.q_id, n.vec_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        CAST(round(CAST(list_dot_product(q.qv, q.qv)
       |          + list_dot_product(n.v, n.v)
       |          - 2.0 * list_dot_product(q.qv, n.v)
       |          AS DECIMAL(28,12)), 4) AS DECIMAL(28,4)), n.vec_id) AS rk
       |    FROM e n CROSS JOIN q WHERE n.vec_id <> q.q_id)
       |  WHERE rk <= $TOP_K)
       |SELECT t.q_id,
       |  CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hits_adc,
       |  CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / $TOP_K AS recall_adc,
       |  CAST(sum(CASE WHEN r.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hits_ref,
       |  CAST(sum(CASE WHEN r.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / $TOP_K AS recall_ref
       |FROM top_exact t
       |LEFT JOIN top_adc a ON a.q_id = t.q_id AND a.n_id = t.n_id
       |LEFT JOIN top_ref r ON r.q_id = t.q_id AND r.n_id = t.n_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin

  // -------------------------------------------------------------------------
  // q170 — persisted IVF index MAINTENANCE: a new release of vectors is
  // assigned to the PREVIOUS release's persisted coarse quantizer, and the
  // per-cell occupancy drift is the "does my index still fit the data?"
  // readout (the FAISS/Milvus re-train trigger). Completes the
  // persistence family (q141-q143 persist sketches; this persists the ANN
  // index's control plane) — the oracle re-derives everything from
  // scratch, so equality ALSO proves the centroid parquet round-trip is
  // value-exact.
  // -------------------------------------------------------------------------

  /** Release carve: vec_id % 3 == 0 is the newly-arrived release. Seeds:
    * prev-release ids < [[DriftSeedBound]] are exactly KMEANS_K vectors
    * (12 − 12/3 = 8). */
  val DriftSeedBound = 12

  /** q170 — per-cell drift between the persisted index's build-time
    * occupancy and the new release's assignment. Assignment follows the
    * q71/q53 contract (decimal-rounded squared L2 decides, cell id breaks
    * ties). Scale: seeds and centroids are broadcast dimensions; each
    * release is scanned once, never exchanged; the persisted store is
    * |cells|×dim rows of control plane. */
  def q170IvfDrift(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(28, 12)
    val e = vecs(spark, dir)
    val prev = e.filter(col("vec_id") % 3 =!= 0)
    val nu = e.filter(col("vec_id") % 3 === 0)
    val assignedPrev = assignSeeds(prev, DriftSeedBound)
      .select(col("vec_id"), col("seed_id").as("cell"), col("v"))
    // build-time control plane: per-(cell, dim) centroid rows, persisted
    val centroidRows = assignedPrev
      .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg(count(lit(1)).as("n_members"), mean6(col("x")).as("c"))
    val store = graft.Stores.path(spark, "graft_ivf_store")
    centroidRows.write.mode("overwrite").parquet(store)
    // everything below reads ONLY the persisted rows
    val cent = spark.read.parquet(store)
      .groupBy(col("cell"))
      .agg(max(col("n_members")).as("n_prev"),
        transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          s => s.getField("c")).as("cv"))
    val nd2 = round(aggregate(
        zip_with(col("v64"), col("cv"), (x, c) => (x - c) * (x - c)),
        lit(0.0), (a, x) => a + x).cast(dec), 4).cast("double")
    val nw = Window.partitionBy(col("vec_id")).orderBy(col("d2n"), col("cell"))
    val assignedNew = nu
      .withColumn("v64", transform(col("v"), x => x.cast("double")))
      .crossJoin(broadcast(cent))
      .withColumn("d2n", nd2)
      .withColumn("rn", row_number().over(nw)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"))
    val joined = cent.select(col("cell"), col("n_prev"))
      .join(assignedNew.groupBy(col("cell")).agg(count(lit(1)).as("n_new")),
        Seq("cell"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
    val tot = joined.agg(sum(col("n_prev")).as("tot_prev"),
      sum(col("n_new")).as("tot_new"))
    joined.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_prev"), col("n_new"),
        expr("(1000000 * n_prev) DIV tot_prev").as("prev_share_ppm"),
        expr("(1000000 * n_new) DIV tot_new").as("new_share_ppm"))
      .withColumn("drift_ppm", col("new_share_ppm") - col("prev_share_ppm"))
      .orderBy(col("cell"))
  }

  val ivfDriftOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |prev AS (SELECT * FROM e WHERE vec_id % 3 <> 0),
       |nu AS (SELECT * FROM e WHERE vec_id % 3 = 0),
       |seeds AS (SELECT vec_id AS seed_id, v AS sv, nrm AS sn
       |          FROM prev WHERE vec_id < $DriftSeedBound),
       |assigned AS (
       |  SELECT vec_id, seed_id AS cell, v FROM (
       |    SELECT n.vec_id, s.seed_id, n.v,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        CAST(round(CAST((n.nrm + s.sn) - 2.0 * list_dot_product(n.v, s.sv)
       |             AS DECIMAL(28,12)), 4) AS DOUBLE),
       |        s.seed_id) AS rn
       |    FROM prev n CROSS JOIN seeds s)
       |  WHERE rn = 1),
       |cdims AS (
       |  SELECT cell, i, count(*) AS nm,
       |    CAST(round(CAST(avg(v[i]) AS DECIMAL(28,12)), 6) AS DOUBLE) AS c
       |  FROM assigned, generate_series(1, $DIMS) AS g(i)
       |  GROUP BY cell, i),
       |cent AS (
       |  SELECT cell, max(nm) AS n_prev, list(c ORDER BY i) AS cv
       |  FROM cdims GROUP BY cell),
       |assigned_new AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT n.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        CAST(round(CAST(list_sum(list_transform(range(1, ${DIMS + 1}),
       |             i -> (n.v[i] - c.cv[i]) * (n.v[i] - c.cv[i])))
       |             AS DECIMAL(28,12)), 4) AS DOUBLE),
       |        c.cell) AS rn
       |    FROM nu n CROSS JOIN cent c)
       |  WHERE rn = 1),
       |joined AS (
       |  SELECT c.cell, CAST(c.n_prev AS BIGINT) AS n_prev,
       |    CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new
       |  FROM cent c LEFT JOIN (
       |    SELECT cell, count(*) AS n_new FROM assigned_new GROUP BY cell) n
       |  USING (cell)),
       |tot AS (SELECT CAST(sum(n_prev) AS BIGINT) AS tot_prev,
       |               CAST(sum(n_new) AS BIGINT) AS tot_new FROM joined)
       |SELECT cell, n_prev, n_new,
       |  (1000000 * n_prev) // tot_prev AS prev_share_ppm,
       |  (1000000 * n_new) // tot_new AS new_share_ppm,
       |  (1000000 * n_new) // tot_new - (1000000 * n_prev) // tot_prev AS drift_ppm
       |FROM joined, tot ORDER BY cell""".stripMargin

  // -------------------------------------------------------------------------
  // q171 — embedding-space DRIFT MONITORING: per-label centroid cosine
  // between the previous and new release (the "did my embedding
  // distribution move?" dashboard number). Centroid coordinates are
  // 6dp-rounded then lifted to exact micro-unit integers, so every sum
  // below is associative BIGINT arithmetic — the cosine is deterministic
  // under any partitioning/add order.
  // -------------------------------------------------------------------------

  /** q171 — per-label release-over-release centroid cosine at 4dp, with
    * member counts. Scale: the corpus explodes to (label, release, dim)
    * partial aggregates (map-side combined); everything after is a
    * |labels|×dim control relation. */
  def q171CentroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
      .withColumn("is_new", (col("vec_id") % 3 === 0).cast("int"))
    val dims = e
      .select(col("label"), col("is_new"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("is_new"), col("dim"))
      .agg(mean6(col("x")).as("c"))
      .withColumn("c_u", expr("CAST(round(c * 1000000.0) AS BIGINT)"))
    val a = dims.filter(col("is_new") === 0)
      .select(col("label"), col("dim"), col("c_u").as("ca"))
    val b = dims.filter(col("is_new") === 1)
      .select(col("label"), col("dim"), col("c_u").as("cb"))
    val cos = a.join(b, Seq("label", "dim"))
      .groupBy(col("label"))
      .agg(sum(col("ca") * col("cb")).as("dot_uu"),
        sum(col("ca") * col("ca")).as("na_uu"),
        sum(col("cb") * col("cb")).as("nb_uu"))
      .select(col("label"),
        round((col("dot_uu").cast("double") /
          sqrt(col("na_uu").cast("double") * col("nb_uu").cast("double")))
          .cast(DecimalType(28, 12)), 4).cast("double").as("cos_drift"))
    val counts = e.groupBy(col("label"))
      .agg(sum(when(col("is_new") === 0, 1L).otherwise(0L)).as("n_prev"),
        sum(when(col("is_new") === 1, 1L).otherwise(0L)).as("n_new"))
    counts.join(cos, Seq("label")).orderBy(col("label"))
  }

  val centroidDriftOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    CASE WHEN vec_id % 3 = 0 THEN 1 ELSE 0 END AS is_new,
       |    list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |dims AS (
       |  SELECT label, is_new, i,
       |    CAST(round(CAST(round(CAST(avg(v[i]) AS DECIMAL(28,12)), 6)
       |      AS DOUBLE) * 1000000.0) AS BIGINT) AS c_u
       |  FROM e, generate_series(1, $DIMS) AS g(i)
       |  GROUP BY label, is_new, i),
       |cos_ AS (
       |  SELECT a.label,
       |    CAST(round(CAST(CAST(sum(a.c_u * b.c_u) AS DOUBLE) /
       |      sqrt(CAST(sum(a.c_u * a.c_u) AS DOUBLE) * CAST(sum(b.c_u * b.c_u) AS DOUBLE))
       |      AS DECIMAL(28,12)), 4) AS DOUBLE) AS cos_drift
       |  FROM dims a JOIN dims b ON a.label = b.label AND a.i = b.i
       |    AND a.is_new = 0 AND b.is_new = 1
       |  GROUP BY a.label),
       |counts AS (
       |  SELECT label,
       |    CAST(sum(CASE WHEN is_new = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_prev,
       |    CAST(sum(CASE WHEN is_new = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
       |  FROM e GROUP BY label)
       |SELECT c.label, n_prev, n_new, cos_drift
       |FROM counts c JOIN cos_ USING (label) ORDER BY label""".stripMargin

  // -------------------------------------------------------------------------
  // q176 — IVF nprobe RECALL SWEEP: recall@5 of the multi-probe search at
  // nprobe ∈ {1, 2, 4} against the exact brute-force truth — the tuning
  // curve (recall vs probe budget) every IVF deployment records before
  // picking its operating point (the q53 operator evaluated as a family,
  // the q88/q129 audit discipline applied to the probe knob).
  // -------------------------------------------------------------------------

  /** The swept probe budgets — ONE literal shared with the oracle. */
  val ProbeSweep: Seq[Long] = Seq(1L, 2L, 4L)

  /** q176 — per nprobe: queries, exact-top-5 hits, worst per-query hits,
    * recall in exact ppm. Scale: one probed candidate build at the MAX
    * budget (each candidate carries the probe rank of its cell), the
    * 3-row sweep dimension explodes candidates only (broadcast join);
    * per-(np, query) ranking is a bounded WindowGroupLimit heap. */
  def q176NprobeSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vecs(spark, dir)
    val q = queries(e)
    val probes = probeRanks(q, centroidsOf(e))
      .filter(col("pr") <= ProbeSweep.max)
      .select(col("q_id"), col("label"), col("pr").cast("long").as("pr"),
              col("qv"), col("qn"))
    val cands = e.join(broadcast(probes), Seq("label"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("pr"),
              cosine().as("cos_sim"))
    val nps = broadcast(ProbeSweep.toDF("np"))
    val w = Window.partitionBy(col("np"), col("q_id"))
      .orderBy(col("cos_sim").desc, col("n_id"))
    val approxTop = cands.join(nps, col("pr") <= col("np"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TOP_K)
      .select(col("np"), col("q_id"), col("n_id"))
    val exactTop = topK(e.crossJoin(broadcast(q))).select(col("q_id"), col("n_id"))
    val perQ = approxTop.join(exactTop, Seq("q_id", "n_id"))
      .groupBy(col("np"), col("q_id")).agg(count(lit(1)).as("hits"))
    val grid = nps.crossJoin(q.select(col("q_id")))
    grid.join(perQ, Seq("np", "q_id"), "left")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .groupBy(col("np"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("hits")).as("n_hits"),
        min(col("hits")).as("min_hits"))
      .withColumn("recall_ppm",
        expr(s"(1000000 * n_hits) DIV (${TOP_K}L * n_queries)"))
      .orderBy(col("np"))
  }

  val nprobeSweepOracle: String = {
    val npVals = ProbeSweep.map(p => s"($p)").mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, label, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |cent AS (
       |  SELECT label, list(c ORDER BY i) AS cv FROM (
       |    SELECT label, i, CAST(round(CAST(avg(v[i]) AS DECIMAL(28,12)), 6) AS DOUBLE) AS c
       |    FROM e, generate_series(1, $DIMS) AS g(i) GROUP BY label, i)
       |  GROUP BY label),
       |probes AS (
       |  SELECT q_id, label, pr, qv, qn FROM (
       |    SELECT q.vec_id AS q_id, c.label, q.v AS qv, q.nrm AS qn,
       |      CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(list_sum(list_transform(range(1, ${DIMS + 1}),
       |          i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))), 4), c.label) AS BIGINT) AS pr
       |    FROM e q, cent c WHERE q.vec_id < $N_QUERIES)
       |  WHERE pr <= ${ProbeSweep.max}),
       |cands AS (
       |  SELECT p.q_id, n.vec_id AS n_id, p.pr,
       |    round(list_dot_product(p.qv, n.v) / sqrt(p.qn * n.nrm), 4) AS cos_sim
       |  FROM probes p JOIN e n ON n.label = p.label AND n.vec_id != p.q_id),
       |nps(np) AS (VALUES $npVals),
       |approx AS (
       |  SELECT np, q_id, n_id FROM (
       |    SELECT s.np, c.q_id, c.n_id,
       |      row_number() OVER (PARTITION BY s.np, c.q_id
       |        ORDER BY c.cos_sim DESC, c.n_id) AS rk
       |    FROM cands c JOIN nps s ON c.pr <= s.np)
       |  WHERE rk <= $TOP_K),
       |exact AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(list_dot_product(q.v, n.v) / sqrt(q.nrm * n.nrm), 4) DESC,
       |        n.vec_id) AS rank
       |    FROM e n CROSS JOIN e q
       |    WHERE q.vec_id < $N_QUERIES AND n.vec_id != q.vec_id)
       |  WHERE rank <= $TOP_K),
       |perq AS (
       |  SELECT a.np, a.q_id, CAST(count(*) AS BIGINT) AS hits
       |  FROM approx a JOIN exact x ON a.q_id = x.q_id AND a.n_id = x.n_id
       |  GROUP BY a.np, a.q_id),
       |grid AS (
       |  SELECT CAST(s.np AS BIGINT) AS np, q.vec_id AS q_id
       |  FROM nps s CROSS JOIN (SELECT vec_id FROM e WHERE vec_id < $N_QUERIES) q),
       |filled AS (
       |  SELECT g.np, g.q_id, coalesce(p.hits, 0) AS hits
       |  FROM grid g LEFT JOIN perq p ON p.np = g.np AND p.q_id = g.q_id)
       |SELECT np, CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(sum(hits) AS BIGINT) AS n_hits,
       |  CAST(min(hits) AS BIGINT) AS min_hits,
       |  (1000000 * CAST(sum(hits) AS BIGINT))
       |    // ($TOP_K * CAST(count(*) AS BIGINT)) AS recall_ppm
       |FROM filled GROUP BY np ORDER BY np""".stripMargin
  }

  // -------------------------------------------------------------------------
  // q179 — embedding HYGIENE audit: the pre-flight screen every vector
  // store runs before indexing — wrong dimensionality, NaN components,
  // zero vectors (cosine is undefined on them: q32's sqrt(qn·nrm)
  // denominator), and the norm envelope per label. Norms are lifted to
  // exact 0.1-milli integers so the per-label sums are associative.
  // -------------------------------------------------------------------------

  /** q179 — per label: n, dimension violations, NaN carriers, zero
    * vectors, and min/max/sum of the 4dp-rounded L2 norm. One codegen'd
    * map + one |labels|-row partial aggregate. */
  def q179EmbeddingHygiene(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    // Guard: a NaN squared-norm must NOT reach the BIGINT cast — Spark
    // silently casts NaN to 0 (polluting min/sum) while DuckDB errors.
    // Null it out instead; min/max/sum skip nulls identically in both
    // engines, so dirty input yields a well-defined envelope over the
    // clean rows only.
    val normU = expr(
      "CASE WHEN NOT isnan(nrm) THEN CAST(round(sqrt(nrm) * 10000.0) AS BIGINT) END")
    e.select(col("label"), col("nrm"),
        size(col("v")).cast("long").as("ndim"),
        size(filter(col("v"), x => isnan(x))).cast("long").as("n_nan_comp"),
        normU.as("norm_u"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ndim") =!= DIMS.toLong, 1L).otherwise(0L)).as("n_dim_bad"),
        sum(when(col("n_nan_comp") > 0, 1L).otherwise(0L)).as("n_nan"),
        sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        min(col("norm_u")).as("min_norm_u"),
        max(col("norm_u")).as("max_norm_u"),
        sum(col("norm_u")).as("sum_norm_u"))
      .orderBy(col("label"))
  }

  val embeddingHygieneOracle: String =
    s"""WITH e AS (
       |  SELECT label, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT label, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |m AS (
       |  SELECT label, nrm,
       |    CAST(len(v) AS BIGINT) AS ndim,
       |    CAST(len(list_filter(v, x -> isnan(x))) AS BIGINT) AS n_nan_comp,
       |    CASE WHEN NOT isnan(nrm)
       |      THEN CAST(round(sqrt(nrm) * 10000.0) AS BIGINT) END AS norm_u
       |  FROM e)
       |SELECT label, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN ndim <> $DIMS THEN 1 ELSE 0 END) AS BIGINT) AS n_dim_bad,
       |  CAST(sum(CASE WHEN n_nan_comp > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
       |  CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       |  CAST(min(norm_u) AS BIGINT) AS min_norm_u,
       |  CAST(max(norm_u) AS BIGINT) AS max_norm_u,
       |  CAST(sum(norm_u) AS BIGINT) AS sum_norm_u
       |FROM m GROUP BY label ORDER BY label""".stripMargin

  // -------------------------------------------------------------------------
  // q196 — HUBNESS audit (Radovanović et al. JMLR'10): the k-occurrence
  // distribution — how many query top-k lists each corpus point appears
  // in. High-dimensional spaces grow "hubs" (points inside everyone's
  // neighborhood) and anti-hubs (never retrieved); a heavy k-occurrence
  // tail degrades ANN recall and poisons contrastive sampling (q155's
  // hard negatives would keep drawing the same hubs). The readout is the
  // full k-occurrence histogram including the never-retrieved 0-bucket.
  //
  // Scale: the query side is a FIXED-SIZE sample — the stride is derived
  // from a corpus count so |sample| ≤ [[HubSampleCap]] at any scale, with
  // a deterministic ORDER BY vec_id LIMIT as the hard bound (sparse id
  // spaces can't inflate it) — and BROADCASTS against one corpus scan —
  // the q32 shape — then two ≤|sample|·K-row aggregates. No corpus×corpus
  // pair ever exists, and the broadcast side never grows with the corpus
  // (a mod-constant stride would: 10% of a 100 TB table is not a
  // dimension). The stride (vs a plain first-N cut) keeps the sample
  // spread across the id space, so hubs local to one ingest era still
  // show up.
  // -------------------------------------------------------------------------

  /** q196's query-sample budget: stride = ⌈n/cap⌉ ⇒ ≤cap sampled ids on a
    * dense id space; the LIMIT makes the bound unconditional. */
  val HubSampleCap = 200L

  /** q196 — (k_occurrence, n_points), 0-bucket included. */
  def q196HubnessAudit(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val nctrl = e.agg(count(lit(1)).as("n_total")) // 1-row control
    val q = e.crossJoin(broadcast(nctrl))
      .filter(pmod(col("vec_id"),
        expr(s"greatest(CAST(1 AS BIGINT), (n_total + ${HubSampleCap - 1}) DIV $HubSampleCap)")) === 0L)
      .orderBy(col("vec_id")).limit(HubSampleCap.toInt)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val top = topK(e.crossJoin(broadcast(q)))
    val occ = top.groupBy(col("n_id")).agg(count(lit(1)).as("k_occ"))
    val hist = occ.groupBy(col("k_occ")).agg(count(lit(1)).as("n_points"))
    val zero = e.agg(count(lit(1)).as("n_total"))
      .crossJoin(occ.agg(count(lit(1)).as("n_covered"))) // 1-row controls
      .select(lit(0L).as("k_occ"),
              (col("n_total") - col("n_covered")).as("n_points"))
    zero.unionByName(hist).orderBy(col("k_occ"))
  }

  // -------------------------------------------------------------------------
  // q221 — IVF cell-AFFINITY audit: the pairwise cosine matrix of the
  // coarse-quantizer centroids (q53's decimal-routed per-label means).
  // Two cells whose centroids sit at cos ≥ ~0.95 are CONFUSABLE — vectors
  // near their boundary land in either, which is exactly where single-probe
  // IVF (q33) loses recall and where multi-probe (q53) has to spend its
  // probes; a centroid pair at cos ≈ −1 is wasted quantizer capacity. This
  // matrix is the maintenance readout that decides cell merges/splits
  // before the next index rebuild (the same signal k-means uses to re-seed,
  // q71's machinery, read as an audit instead of an iteration).
  //
  // Scale: the corpus is touched ONCE (the posexplode partial-aggregate
  // that builds |labels|·dims centroid cells); everything downstream is a
  // |labels|²-row broadcast self-join over a bounded dimension. Nothing
  // here grows with the corpus.
  // -------------------------------------------------------------------------

  /** q221 — (label_a < label_b, cos_sim) over the q53-contract centroids
    * (6dp decimal-routed means; cosine rounded to 4dp, index-order fold). */
  def q221CentroidAffinity(spark: SparkSession, dir: String): DataFrame = {
    val cent = centroidsOf(vecs(spark, dir))
    def fold(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, p) => acc + p)
    val aa = cent.select(col("label").as("label_a"), col("cv").as("av"))
    val bb = cent.select(col("label").as("label_b"), col("cv").as("bv"))
    aa.crossJoin(broadcast(bb)) // |labels|² — bounded dimension pair grid
      .filter(col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        round(fold(col("av"), col("bv")) /
          sqrt(fold(col("av"), col("av")) * fold(col("bv"), col("bv"))), 4)
          .as("cos_sim"))
      .orderBy(col("label_a"), col("label_b"))
  }

  val centroidAffinityOracle: String =
    s"""WITH e AS (
       |  SELECT label, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |cent AS (
       |  SELECT label, list(c ORDER BY i) AS cv FROM (
       |    SELECT label, i, CAST(round(CAST(avg(v[i]) AS DECIMAL(28,12)), 6) AS DOUBLE) AS c
       |    FROM e, generate_series(1, $DIMS) AS g(i) GROUP BY label, i)
       |  GROUP BY label)
       |SELECT a.label AS label_a, b.label AS label_b,
       |  round(list_dot_product(a.cv, b.cv) /
       |        sqrt(list_dot_product(a.cv, a.cv) * list_dot_product(b.cv, b.cv)), 4)
       |    AS cos_sim
       |FROM cent a JOIN cent b ON a.label < b.label
       |ORDER BY label_a, label_b""".stripMargin

  // -------------------------------------------------------------------------
  // q223 — MARGIN-based pair MINING (Artetxe & Schwenk ACL'19, the bitext
  // mining criterion): raw nearest-neighbor cosine over-accepts in hub
  // regions (q196's finding) — a point whose top-1 barely beats its top-4
  // mean is a hub artifact, not a translation/duplicate pair. The absolute-
  // margin variant scores each query's best match by how far it stands
  // above the local similarity floor: margin3 = 3·cos₁ − (cos₂+cos₃+cos₄)
  // (≥ 0.06 ⇔ cos₁ beats the rank-2..4 mean by ≥ 0.02). Mining runs the
  // even-id half of the corpus against the odd-id half — the two-sided
  // split every parallel-corpus/near-dup mining job has (source vs target
  // language, old vs new crawl).
  //
  // Determinism: cosines are 4dp-rounded before ranking (the q32
  // contract); the rank-2..4 sum is written in one fixed association
  // ((c2+c3)+c4 — never an aggregate over doubles), so both engines run
  // the identical IEEE op sequence.
  //
  // Scale: the candidate generator is the SAME-LABEL (IVF cell) join — no
  // corpus×corpus pair exists; cells are bounded by the quantizer (the
  // q183 cap hatch applies to oversized cells). The per-query window is
  // cell-bounded. The output is one row per even-id vector.
  // -------------------------------------------------------------------------

  /** q223's accept bar: 3·cos₁ − (cos₂+cos₃+cos₄) ≥ 0.06, i.e. the best
    * match beats the mean of ranks 2..4 by ≥ 0.02 cosine. */
  val BitextMarginMin = 0.06

  /** q223 — per even-id query: best odd-id same-cell match, its cosine,
    * the ×3-scaled absolute margin, and the mined accept flag. Queries
    * with fewer than 4 same-cell candidates are skipped (no margin). */
  def q223BitextMargin(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val x = e.filter(pmod(col("vec_id"), lit(2L)) === 0L)
      .select(col("vec_id").as("q_id"), col("label"),
              col("v").as("qv"), col("nrm").as("qn"))
    val y = e.filter(pmod(col("vec_id"), lit(2L)) === 1L)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("n_id"))
    val ranked = y.join(x, Seq("label")) // cell-keyed shuffle join, no broadcast
      .select(col("q_id"), col("vec_id").as("n_id"), cosine().as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 4)
    def at(r: Int, c: String): Column = max(when(col("rank") === r, col(c)))
    ranked.groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_nb"),
        at(1, "n_id").as("best_id"),
        at(1, "cos_sim").as("cos_best"),
        at(2, "cos_sim").as("c2"),
        at(3, "cos_sim").as("c3"),
        at(4, "cos_sim").as("c4"))
      .filter(col("n_nb") === 4L)
      .withColumn("margin3",
        round(lit(3.0) * col("cos_best") - ((col("c2") + col("c3")) + col("c4")), 4))
      .select(col("q_id"), col("best_id"), col("cos_best"), col("margin3"),
        when(col("margin3") >= BitextMarginMin, 1L).otherwise(0L).as("mined"))
      .orderBy(col("q_id"))
  }

  val bitextMarginOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |ranked AS (
       |  SELECT q_id, n_id, cos_sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM (
       |    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |      round(list_dot_product(q.v, n.v) / sqrt(q.nrm * n.nrm), 4) AS cos_sim
       |    FROM e q JOIN e n ON n.label = q.label
       |    WHERE q.vec_id % 2 = 0 AND n.vec_id % 2 = 1)),
       |piv AS (
       |  SELECT q_id, count(*) AS n_nb,
       |    max(CASE WHEN rank = 1 THEN n_id END) AS best_id,
       |    max(CASE WHEN rank = 1 THEN cos_sim END) AS cos_best,
       |    max(CASE WHEN rank = 2 THEN cos_sim END) AS c2,
       |    max(CASE WHEN rank = 3 THEN cos_sim END) AS c3,
       |    max(CASE WHEN rank = 4 THEN cos_sim END) AS c4
       |  FROM ranked WHERE rank <= 4 GROUP BY q_id)
       |SELECT q_id, best_id, cos_best,
       |  round(3.0 * cos_best - ((c2 + c3) + c4), 4) AS margin3,
       |  CAST(CASE WHEN round(3.0 * cos_best - ((c2 + c3) + c4), 4)
       |              >= CAST(0.06 AS DOUBLE)
       |       THEN 1 ELSE 0 END AS BIGINT) AS mined
       |FROM piv WHERE n_nb = 4 ORDER BY q_id""".stripMargin

  // -------------------------------------------------------------------------
  // q227 — DOMINANT PRINCIPAL COMPONENT of the embedding cloud (power
  // iteration): the "all-but-the-top" audit (Mu & Viswanath ICLR'18) —
  // embedding spaces grow a large common direction that carries frequency,
  // not meaning; its loadings and eigenvalue share decide whether to
  // project it out before cosine retrieval (isotropy repair), and which
  // dimensions it loads on. Readout: the 64 loadings of the top PC of the
  // CENTERED second-moment (covariance·n) matrix, plus the Rayleigh
  // eigenvalue.
  //
  // Distribution contract (the two-phase discipline): the corpus is
  // touched ONCE — the custom `graft_gram` TypedImperativeAggregate
  // ([[graft.functions.GramMatrix]]) folds each vector into a per-task
  // 4,096-double buffer in place, so the shuffle carries ONE buffer per
  // map task and the d²-fold explode a DataFrame spelling would need
  // never materializes. The 8-step power iteration runs on
  // the driver over that bounded dimension state — exactly the
  // reference's dimension-loop shape (chainweb-data
  // exec/Chainweb/Coins.hs:152-158 iterates a 1,435-row schedule the same
  // way) — and the oracle replays the identical iteration as a generated
  // CTE chain (the q146 BPE-replay pattern).
  //
  // Determinism: μ and every Gram cell are 6dp-rounded (μ decimal-routed
  // like q53's centroids; cells are long-expansion sums, rounded after
  // aggregation); each iteration re-rounds matvec components, norm, and
  // loadings to 6dp, so both engines walk identical doubles. 6dp halves
  // are not representable in binary, so HALF_UP vs half-even never
  // diverges on these.
  // -------------------------------------------------------------------------

  /** Fixed power-iteration depth (deterministic, no convergence test). */
  val PcIters = 8

  /** Spark-round-compatible 6dp: BigDecimal.valueOf is the shortest
    * decimal representation — the same contract Spark's Round applies. */
  private def r6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** Shared PC state: (μ, G, u, λ) — decimal-routed per-dim mean, the
    * 6dp-rounded centered Gram (via the [[graft.functions.GramMatrix]]
    * map-side-combining kernel: one d²-double buffer per map task, no
    * d²-fold explode ever materializes), and the 8-step power-iteration
    * loadings + Rayleigh eigenvalue. Driver state is DIMS² doubles —
    * bounded dimension control, the reference's schedule-loop shape. */
  private[graft] def topPcState(spark: SparkSession, dir: String)
      : (Array[Double], Array[Array[Double]], Array[Double], Double) = {
    val e = Tables.embeddings(spark, dir)
    val mu = new Array[Double](DIMS)
    e.select(posexplode(col("embedding")).as(Seq("i", "xi")))
      .groupBy(col("i"))
      .agg(mean6(col("xi")).as("m"))
      .collect()
      .foreach(r => mu(r.getAs[Int]("i")) = r.getAs[Double]("m"))
    val flat = e.agg(
        call_function("graft_gram", col("embedding"), typedLit(mu.toSeq)).as("g"))
      .collect().head.getSeq[Double](0)
    val g = Array.tabulate(DIMS, DIMS)((i, j) => r6(flat(i * DIMS + j)))
    // 8-step power iteration from e0, every intermediate 6dp-rounded —
    // the oracle replays this walk verbatim in SQL
    def matvec(u: Array[Double]): Array[Double] = Array.tabulate(DIMS) { i =>
      var s = 0.0; var j = 0
      while (j < DIMS) { s += g(i)(j) * u(j); j += 1 }
      r6(s)
    }
    var u = Array.tabulate(DIMS)(i => if (i == 0) 1.0 else 0.0)
    for (_ <- 1 to PcIters) {
      val mv = matvec(u)
      val nrm = r6(math.sqrt(r6(mv.map(x => x * x).sum)))
      u = mv.map(x => r6(x / nrm))
    }
    val w = matvec(u)
    val lam = r6(u.zip(w).map { case (a, b) => a * b }.sum)
    (mu, g, u, lam)
  }

  /** q227 — (dim, loading, lam): top-PC loadings + Rayleigh eigenvalue. */
  def q227TopPc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, _, u, lam) = topPcState(spark, dir)
    (0 until DIMS).map(i => (i.toLong, u(i), lam))
      .toDF("dim", "loading", "lam")
      .orderBy(col("dim"))
  }

  /** The μ → Gram → 8-step-iteration CTE prefix, shared by the q227 and
    * q228 oracles (ends at `u$PcIters`, the final loadings list). */
  private val pcCtes: String = {
    val steps = (1 to PcIters).map { k =>
      s"""u$k AS (
         |  SELECT list_transform(mv, x -> round(x / nrm, 6)) AS u FROM (
         |    SELECT mv, round(sqrt(round(list_sum(list_transform(mv, x -> x * x)), 6)), 6) AS nrm
         |    FROM (SELECT list_transform(range(1, ${DIMS + 1}), i ->
         |            round(list_sum(list_transform(range(1, ${DIMS + 1}),
         |              j -> gm.g[i][j] * u${k - 1}.u[j])), 6)) AS mv
         |          FROM gm, u${k - 1})))""".stripMargin
    }.mkString(",\n")
    s"""e AS (
       |  SELECT list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |mu AS (
       |  SELECT list(m ORDER BY i) AS m FROM (
       |    SELECT i, CAST(round(CAST(avg(v[i]) AS DECIMAL(28,12)), 6) AS DOUBLE) AS m
       |    FROM e, generate_series(1, $DIMS) AS gs(i) GROUP BY i)),
       |cells AS (
       |  SELECT i, j, round(sum((v[i] - mu.m[i]) * (v[j] - mu.m[j])), 6) AS g
       |  FROM e, mu, generate_series(1, $DIMS) g1(i), generate_series(1, $DIMS) g2(j)
       |  GROUP BY i, j),
       |gm AS (
       |  SELECT list(row ORDER BY i) AS g FROM (
       |    SELECT i, list(g ORDER BY j) AS row FROM cells GROUP BY i)),
       |u0 AS (SELECT list_transform(range(1, ${DIMS + 1}),
       |         i -> CASE WHEN i = 1 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) AS u),
       |$steps""".stripMargin
  }

  val topPcOracle: String =
    s"""WITH $pcCtes,
       |w AS (
       |  SELECT u$PcIters.u AS u, list_transform(range(1, ${DIMS + 1}), i ->
       |    round(list_sum(list_transform(range(1, ${DIMS + 1}),
       |      j -> gm.g[i][j] * u$PcIters.u[j])), 6)) AS w
       |  FROM gm, u$PcIters),
       |lam AS (
       |  SELECT u, round(list_sum(list_transform(range(1, ${DIMS + 1}),
       |    i -> u[i] * w[i])), 6) AS lam FROM w)
       |SELECT CAST(i - 1 AS BIGINT) AS dim, u[i] AS loading, lam
       |FROM lam, generate_series(1, $DIMS) gs(i)
       |ORDER BY dim""".stripMargin

  // -------------------------------------------------------------------------
  // q228 — common-direction PROJECTION audit: per IVF cell (label), the
  // signed and absolute mass of projections onto q227's top PC. The
  // "all-but-the-top" decision needs to know WHO carries the common
  // direction: a cell whose vectors all project the same way is
  // frequency-polarized (its cosines are inflated against everything);
  // a cell straddling zero is clean. Projections are lifted to exact
  // 0.1-milli integers (the q179 norm convention) so per-label sums are
  // associative — no double ever aggregates.
  //
  // Scale: one additional corpus scan with μ and u as broadcast literals
  // (bounded dimension state from [[topPcState]]); the projection is the
  // codegen'd graft_dot kernel; the rollup is a |labels|-row partial
  // aggregate.
  // -------------------------------------------------------------------------

  /** q228 — per label: n, signed/absolute/max projection mass (0.1-milli
    * integer units) onto the dominant principal component. */
  def q228PcProjection(spark: SparkSession, dir: String): DataFrame = {
    val (mu, _, u, _) = topPcState(spark, dir)
    val centered = zip_with(col("embedding"), typedLit(mu.toSeq),
      (x, m) => x.cast("double") - m)
    val p = round(dot(centered, typedLit(u.toSeq)), 4)
    Tables.embeddings(spark, dir)
      .select(col("label"), p.as("p4"))
      .select(col("label"),
        expr("CAST(round(p4 * 10000.0) AS BIGINT)").as("pu"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("pu")).as("sum_proj_u"),
        sum(abs(col("pu"))).as("sum_abs_proj_u"),
        max(abs(col("pu"))).as("max_abs_proj_u"))
      .orderBy(col("label"))
  }

  val pcProjectionOracle: String =
    s"""WITH $pcCtes,
       |proj AS (
       |  SELECT emb.label,
       |    CAST(round(round(list_sum(list_transform(range(1, ${DIMS + 1}),
       |      i -> u$PcIters.u[i] * (emb.v[i] - mu.m[i]))), 4) * 10000.0) AS BIGINT)
       |      AS pu
       |  FROM (SELECT label, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings) emb, mu, u$PcIters)
       |SELECT label, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(pu) AS BIGINT) AS sum_proj_u,
       |  CAST(sum(abs(pu)) AS BIGINT) AS sum_abs_proj_u,
       |  CAST(max(abs(pu)) AS BIGINT) AS max_abs_proj_u
       |FROM proj GROUP BY label ORDER BY label""".stripMargin

  // -------------------------------------------------------------------------
  // q230 — MATRYOSHKA truncation recall (Kusupati et al. NeurIPS'22): MRL
  // training packs coarse-to-fine meaning into embedding PREFIXES, so a
  // serving tier can run ANN on the first 16 or 32 dims (4×/2× cheaper
  // memory traffic) and re-rank a shortlist at full width. The audit that
  // gates the decision: top-K recall of the prefix metric against the
  // full-dim truth, per prefix width. On non-MRL embeddings the same
  // curve answers "do these vectors truncate?" before anyone ships a
  // prefix index. Truth and every leg follow the q32 contract
  // (4dp-rounded cosine, id tiebreaks).
  //
  // Scale: each leg is the q32 shape — the bounded query set broadcasts
  // against one corpus scan per width (a production run fuses the three
  // widths into one scan; three passes keep the legs independently
  // readable here); the recall join is id-keyed on ≤ N_QUERIES·K rows.
  // -------------------------------------------------------------------------

  /** Prefix widths audited (full width last = sanity row at recall 10⁶). */
  val MrlDims = Seq(16, 32, 64)

  /** q230 — (dims, n_hits, recall_ppm) vs the full-dim top-K truth. */
  def q230MatryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val truth = truthOf(spark, dir).localCheckpoint()
    val legs = MrlDims.map { d =>
      val ed = e.select(col("vec_id"), slice(col("v"), 1, d).as("vd"))
        .withColumn("nd", dot(col("vd"), col("vd")))
      val top = topK(ed.crossJoin(broadcast(queries(ed, v = "vd", n = "nd"))),
                     v = "vd", n = "nd")
        .select(col("q_id"), col("n_id"))
      truth.join(top, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(d.toLong).as("dims"), col("n_hits"),
          expr(s"(1000000 * n_hits) DIV ${N_QUERIES * TOP_K}").as("recall_ppm"))
    }
    legs.reduce(_ unionByName _).orderBy(col("dims"))
  }

  val matryoshkaRecallOracle: String = {
    def topkFrom(rel: String): String =
      s"""SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
         |    FROM (
         |      SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |        round(list_dot_product(q.vd, n.vd) / sqrt(q.nd * n.nd), 4) AS cos_sim
         |      FROM $rel q JOIN $rel n
         |        ON q.vec_id < $N_QUERIES AND n.vec_id != q.vec_id))
         |  WHERE rank <= $TOP_K""".stripMargin
    val legCtes = MrlDims.map { d =>
      s"""ed$d AS (
         |  SELECT vec_id, v[1:$d] AS vd,
         |    list_dot_product(v[1:$d], v[1:$d]) AS nd FROM e),
         |top$d AS (
         |  ${topkFrom(s"ed$d")}),
         |leg$d AS (
         |  SELECT CAST($d AS BIGINT) AS dims, CAST(count(*) AS BIGINT) AS n_hits,
         |    (1000000 * CAST(count(*) AS BIGINT)) // ${N_QUERIES * TOP_K}
         |      AS recall_ppm
         |  FROM truth t JOIN top$d a ON a.q_id = t.q_id AND a.n_id = t.n_id)"""
        .stripMargin
    }.mkString(",\n")
    val union = MrlDims.map(d => s"SELECT * FROM leg$d").mkString(" UNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |efull AS (SELECT vec_id, v AS vd, nrm AS nd FROM e),
       |truth AS (
       |  ${topkFrom("efull")}),
       |$legCtes
       |$union ORDER BY dims""".stripMargin
  }

  val hubnessAuditOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |st AS (
       |  SELECT greatest(CAST(1 AS BIGINT),
       |    (count(*) + ${HubSampleCap - 1}) // $HubSampleCap) AS stride FROM e),
       |q AS (
       |  SELECT vec_id, v, nrm FROM e, st WHERE vec_id % stride = 0
       |  ORDER BY vec_id LIMIT $HubSampleCap),
       |top AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
       |    FROM (
       |      SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |        round(list_dot_product(q.v, n.v) / sqrt(q.nrm * n.nrm), 4) AS cos_sim
       |      FROM q JOIN e n ON n.vec_id != q.vec_id))
       |  WHERE rank <= $TOP_K),
       |occ AS (SELECT n_id, CAST(count(*) AS BIGINT) AS k_occ
       |        FROM top GROUP BY n_id),
       |hist AS (SELECT k_occ, CAST(count(*) AS BIGINT) AS n_points
       |         FROM occ GROUP BY k_occ)
       |SELECT * FROM (
       |  SELECT CAST(0 AS BIGINT) AS k_occ,
       |    CAST((SELECT count(*) FROM e) - (SELECT count(*) FROM occ) AS BIGINT)
       |      AS n_points
       |  UNION ALL SELECT k_occ, n_points FROM hist)
       |ORDER BY k_occ""".stripMargin

  // -------------------------------------------------------------------------
  // q246 — PERSISTED IVF index: build-once / query-many through storage,
  // the production ANN serving pattern. The BUILD phase writes the index
  // as two parquet tables — the computed coarse quantizer (q53's 6dp
  // centroids) and the postings (vec_id, v, precomputed norm)
  // PARTITIONED BY CELL, the layout under which a probe is directory
  // pruning, not a filter over the full scan. The QUERY phase reads ONLY
  // the persisted tables: each probe vector is assigned to its nearest
  // stored centroid (1-probe, rounded squared-L2 like q53) and exact
  // cosine top-k runs inside that one cell — proving the index survives
  // the storage round-trip (types, norms, partition layout) end to end.
  //
  // Scale: index build is one corpus write (the shuffle is the
  // partitionBy); a query touches |centroids| rows of quantizer + ONE
  // cell's postings. Differs from q33 (assumes the stored label IS the
  // probe) exactly when a vector's nearest centroid isn't its own cell —
  // which the oracle must and does reproduce.
  // -------------------------------------------------------------------------

  /** BUILD arm of q246: the full-corpus IVF store (postings partitioned
    * by cell with norms precomputed at index time + centroid table).
    * Exposed so other store-served paths (q271's dense leg) can read the
    * same persisted postings. Returns the store path. */
  private[graft] def buildIvfStore(spark: SparkSession, dir: String): String = {
    val e = vecs(spark, dir)
    val cent = centroidsOf(e)
    val store = graft.Stores.path(spark, "graft_ivf_store")
    e.select(col("vec_id"), col("label"), col("v"), col("nrm"))
      .write.mode("overwrite").partitionBy("label").parquet(s"$store/postings")
    cent.write.mode("overwrite").parquet(s"$store/centroids")
    store
  }

  def q246IvfPersist(spark: SparkSession, dir: String): DataFrame = {
    val store = buildIvfStore(spark, dir)
    // QUERY: persisted tables only
    storeTopK(spark.read.parquet(s"$store/postings"),
              spark.read.parquet(s"$store/centroids"), "label")
  }

  /** The query path of every persisted IVF store (q246, q250, q258,
    * q259): each query from `postings` is assigned to its nearest stored
    * centroid (1-probe), and exact cosine top-k runs over the postings of
    * that one cell. `key` names the postings' cell column; the centroid
    * label is cast to its type. */
  private def storeTopK(postings: DataFrame, centroids: DataFrame,
                        key: String): DataFrame = {
    val probes = probeRanks(queries(postings), centroids)
      .filter(col("pr") === 1)
      .select(col("q_id"), col("label").cast(postings.schema(key).dataType).as(key),
              col("qv"), col("qn"))
    topK(postings.join(broadcast(probes), Seq(key)))
  }

  /** q246's oracle: the identical quantize-then-probe math straight from
    * `embeddings` — agreement proves the persisted index changed nothing. */
  val ivfPersistOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |cent AS (
       |  SELECT label, list(c ORDER BY i) AS cv FROM (
       |    SELECT label, i, CAST(round(CAST(avg(v[i]) AS DECIMAL(28,12)), 6) AS DOUBLE) AS c
       |    FROM e, generate_series(1, $DIMS) AS g(i) GROUP BY label, i)
       |  GROUP BY label),
       |probes AS (
       |  SELECT q_id, label, qv, qn FROM (
       |    SELECT q.vec_id AS q_id, c.label, q.v AS qv, q.nrm AS qn,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(list_sum(list_transform(range(1, ${DIMS + 1}),
       |          i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))), 4), c.label) AS pr
       |    FROM e q, cent c WHERE q.vec_id < $N_QUERIES)
       |  WHERE pr = 1),
       |sims AS (
       |  SELECT p.q_id, n.vec_id AS n_id,
       |    round(list_dot_product(p.qv, n.v) / sqrt(p.qn * n.nrm), 4) AS cos_sim
       |  FROM probes p JOIN e n ON n.label = p.label AND n.vec_id != p.q_id)
       |SELECT q_id, rank, n_id, cos_sim FROM (
       |  SELECT q_id, n_id, cos_sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM sims)
       |WHERE rank <= $TOP_K ORDER BY q_id, rank""".stripMargin

  // -------------------------------------------------------------------------
  // q245 — IVF LIST REBALANCING plan: overfull inverted lists are the
  // tail-latency problem of a partitioned ANN index (a probe into a 10×
  // list costs 10×, and at cluster scale the hot cell IS the straggler).
  // The standard maintenance move is second-choice reassignment: from
  // every list above a slack cap, move the members that are nearly
  // equidistant to another centroid (smallest d_alt − d_own margin —
  // they lose the least recall by moving) until the list fits the cap.
  // This operator emits that plan: (vec_id, from_label, to_label,
  // d_own, d_alt), exactly the work order an index-maintenance job
  // applies. Cap = ⌊21n/20L⌋+1 (5% slack over the mean list size),
  // derived from two control scalars.
  //
  // Scale: centroids are the |labels|·dims broadcast dimension (q53);
  // per-vector distances are a corpus × broadcast map with a per-vector
  // window bounded by |labels|; the eviction rank partitions by the
  // overfull label — per-entity windows, never global. Only members of
  // overfull lists (a broadcastable label filter) enter any of it.
  // -------------------------------------------------------------------------

  def q245IvfRebalance(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val cent = centroidsOf(e)
    val st = e.agg(count(lit(1)),
      countDistinct(col("label"))).first()
    val (n, nLabels) = (st.getLong(0), st.getLong(1))
    val cap = (21L * n) / (20L * nLabels) + 1L
    val over = e.groupBy(col("label")).agg(count(lit(1)).as("sz"))
      .filter(col("sz") > cap)
    val members = e.join(broadcast(over), Seq("label"))
      .join(broadcast(cent), Seq("label"))
      .withColumn("d_own", sqDist(col("v"), col("cv")))
      .select(col("vec_id"), col("label"), col("sz"), col("v"), col("d_own"))
    val wAlt = Window.partitionBy(col("vec_id"))
      .orderBy(col("d_alt"), col("alt_label"))
    val alt = members.crossJoin(broadcast(
        cent.select(col("label").as("alt_label"), col("cv").as("acv"))))
      .filter(col("alt_label") =!= col("label"))
      .withColumn("d_alt", sqDist(col("v"), col("acv")))
      .withColumn("ar", row_number().over(wAlt))
      .filter(col("ar") === 1)
    val wEvict = Window.partitionBy(col("label"))
      .orderBy(col("d_alt") - col("d_own"), col("vec_id"))
    alt.withColumn("mr", row_number().over(wEvict).cast("long"))
      .filter(col("mr") <= col("sz") - cap)
      .select(col("vec_id"), col("label").cast("long").as("from_label"),
        col("alt_label").cast("long").as("to_label"),
        col("d_own"), col("d_alt"))
      .orderBy(col("from_label"), col("vec_id"))
  }

  val ivfRebalanceOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, v
       |  FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |cent AS (
       |  SELECT label, list(c ORDER BY i) AS cv FROM (
       |    SELECT label, i, CAST(round(CAST(avg(v[i]) AS DECIMAL(28,12)), 6) AS DOUBLE) AS c
       |    FROM e, generate_series(1, $DIMS) AS g(i) GROUP BY label, i)
       |  GROUP BY label),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(count(DISTINCT label) AS BIGINT) AS nl
       |  FROM e),
       |capv AS (SELECT (21 * n) // (20 * nl) + 1 AS cap FROM st),
       |over AS (
       |  SELECT label, CAST(count(*) AS BIGINT) AS sz
       |  FROM e GROUP BY label HAVING count(*) > (SELECT cap FROM capv)),
       |members AS (
       |  SELECT m.vec_id, m.label, o.sz, m.v,
       |    round(list_sum(list_transform(range(1, ${DIMS + 1}),
       |      i -> (m.v[i] - c.cv[i]) * (m.v[i] - c.cv[i]))), 4) AS d_own
       |  FROM e m JOIN over o USING (label) JOIN cent c USING (label)),
       |alt AS (
       |  SELECT vec_id, label, sz, d_own, alt_label, d_alt FROM (
       |    SELECT m.vec_id, m.label, m.sz, m.d_own, c.label AS alt_label,
       |      round(list_sum(list_transform(range(1, ${DIMS + 1}),
       |        i -> (m.v[i] - c.cv[i]) * (m.v[i] - c.cv[i]))), 4) AS d_alt,
       |      row_number() OVER (PARTITION BY m.vec_id ORDER BY
       |        round(list_sum(list_transform(range(1, ${DIMS + 1}),
       |          i -> (m.v[i] - c.cv[i]) * (m.v[i] - c.cv[i]))), 4),
       |        c.label) AS ar
       |    FROM members m JOIN cent c ON c.label != m.label)
       |  WHERE ar = 1)
       |SELECT vec_id, CAST(from_label AS BIGINT) AS from_label,
       |  CAST(to_label AS BIGINT) AS to_label, d_own, d_alt FROM (
       |  SELECT vec_id, label AS from_label, alt_label AS to_label,
       |    d_own, d_alt, sz,
       |    row_number() OVER (PARTITION BY label
       |      ORDER BY d_alt - d_own, vec_id) AS mr
       |  FROM alt)
       |WHERE mr <= sz - (SELECT cap FROM capv)
       |ORDER BY from_label, vec_id""".stripMargin

  // -------------------------------------------------------------------------
  // q249/q250 — INCREMENTAL MAINTENANCE of the persisted IVF index
  // (VERDICT r8 item 2): q246 rebuilds from scratch, but a serving index
  // ingests new vectors continuously. The upsert path: quantize the
  // new-vector batch against the STORED centroids (the coarse quantizer is
  // frozen between retrains — the FAISS/ScaNN operational contract), then
  // MERGE into the cell-partitioned postings under the ingest PK
  // discipline (anti-join on vec_id, the `ingest/Upsert` idempotence rule;
  // reference analog: the fill/gap repair loop
  // haskell-src/exec/Chainweb/Gaps.hs — re-running a repair must be a
  // no-op). Because EVERY vector's cell is quantize-assigned (base at
  // build, batch at upsert) against the same frozen centroids, build+upsert
  // is associative: the merged index is bit-identical to a one-shot build
  // over base ∪ batch — Round9Spec proves it, and the double-merge inside
  // [[buildUpsertStore]] makes replay-idempotence part of the CORRECTNESS
  // gate itself (a duplicated merge would inflate q249's cell accounting
  // and q250's candidate sets against the oracle replay).
  //
  // Scale: the batch is quantized against a broadcast centroid table and
  // shuffles once on cell for the partitioned append; the anti-join reads
  // only the postings' vec_id column (column pruning at the scan). Nothing
  // corpus-sized crosses the driver; list sizes (q249's output) feed
  // q245's rebalance plan directly.
  // -------------------------------------------------------------------------

  private val UpsertStride = 7L
  private val UpsertResidue = 2L

  /** Quantize-assign every vector to its nearest stored centroid (rounded
    * squared-L2, centroid-id tiebreak — the q53/q246 probe math). */
  private def assignCells(xs: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cdist"), col("clabel"))
    xs.crossJoin(broadcast(
        cent.select(col("label").as("clabel"), col("cv"))))
      .withColumn("cdist", sqDist(col("v"), col("cv")))
      .withColumn("cr", row_number().over(w))
      .filter(col("cr") === 1)
      .select(col("vec_id"), col("clabel").as("cell"), col("v"), col("nrm"))
  }

  /** Build the base index (vec_id % [[UpsertStride]] ≠ [[UpsertResidue]]),
    * then merge the remaining batch `merges` times (default twice — the
    * replay). Returns the store path. */
  private[graft] def buildUpsertStore(spark: SparkSession, dir: String,
                                      merges: Int = 2): String = {
    val e = vecs(spark, dir)
    val batch = e.filter(col("vec_id") % UpsertStride === UpsertResidue)
    val store = buildBaseStore(spark, e, "graft_ivf_upsert_store")
    (1 to merges).foreach(_ => mergeBatch(spark, store, batch))
    store
  }

  /** Write the base index of the upsert store `name`: the base slice of
    * `e`, quantize-assigned to cells, plus the base-derived centroids
    * (the frozen coarse quantizer). Returns the store path. */
  private def buildBaseStore(spark: SparkSession, e: DataFrame, name: String): String = {
    val base = e.filter(col("vec_id") % UpsertStride =!= UpsertResidue)
    val cent = centroidsOf(base)
    val store = graft.Stores.path(spark, name)
    assignCells(base, cent)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$store/postings")
    cent.write.mode("overwrite").parquet(s"$store/centroids")
    store
  }

  /** Append the novel rows of `batch` to the store's postings. */
  private def mergeBatch(spark: SparkSession, store: String, batch: DataFrame): Unit =
    // localCheckpoint materializes the novel rows before the append
    // touches the same directory it was computed from.
    upsertNovel(spark, store, batch).localCheckpoint()
      .write.mode("append").partitionBy("cell").parquet(s"$store/postings")

  /** Per-cell list sizes of the store's postings: base, added (recovered
    * from the PK stride) and after. */
  private def upsertAccounting(spark: SparkSession, store: String): DataFrame =
    spark.read.parquet(s"$store/postings")
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("sz_after"),
           sum(when(col("vec_id") % UpsertStride === UpsertResidue, 1L)
                 .otherwise(0L)).as("n_added"))
      .select(col("cell"), (col("sz_after") - col("n_added")).as("sz_base"),
              col("n_added"), col("sz_after"))
      .orderBy(col("cell"))

  /** The MERGE arm of the upsert: quantize `batch` against the STORED
    * centroids, then PK anti-join against the stored postings — whose
    * scan reads ONLY the vec_id column (pruned). Exposed un-checkpointed
    * so Round9Spec can pin the plan shape. */
  private[graft] def upsertNovel(spark: SparkSession, store: String,
                                 batch: DataFrame): DataFrame = {
    val existing = spark.read.parquet(s"$store/postings").select(col("vec_id"))
    val storedCent = spark.read.parquet(s"$store/centroids")
    assignCells(batch, storedCent).join(existing, Seq("vec_id"), "left_anti")
  }

  /** The upsert batch slice (vec_id ≡ [[UpsertResidue]] mod
    * [[UpsertStride]]) — the spec's handle on the merge input. */
  private[graft] def upsertBatch(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir).filter(col("vec_id") % UpsertStride === UpsertResidue)

  /** One-shot reference index for Round9Spec: every vector (base ∪ batch)
    * quantize-assigned against the base-derived centroids in a single
    * pass, never touching storage — the merged store must equal this. */
  private[graft] def upsertAssignedAll(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val base = e.filter(col("vec_id") % UpsertStride =!= UpsertResidue)
    assignCells(e, centroidsOf(base))
  }

  /** q249 — post-upsert cell accounting (read back from the store): list
    * sizes before/after + members added, the exact feed of q245's
    * rebalance planner. Batch membership is recovered from the PK stride,
    * so a non-idempotent merge inflates `n_added` against the oracle. */
  def q249IvfUpsert(spark: SparkSession, dir: String): DataFrame =
    upsertAccounting(spark, buildUpsertStore(spark, dir))

  /** q250 — query-after-upsert: the q246 probe (re-quantize each query
    * against the stored centroids, exact cosine top-k inside the one
    * probed cell) served entirely from the MERGED postings — upserted
    * vectors appear as first-class candidates. */
  def q250IvfUpsertQuery(spark: SparkSession, dir: String): DataFrame = {
    val store = buildUpsertStore(spark, dir)
    cellStoreTopK(spark, store, spark.read.parquet(s"$store/postings"))
  }

  /** [[storeTopK]] over the `postings` of a cell-partitioned upsert
    * `store`, keyed on `cell` as a long. */
  private def cellStoreTopK(spark: SparkSession, store: String,
                            postings: DataFrame): DataFrame =
    storeTopK(postings.withColumn("cell", col("cell").cast("long")),
              spark.read.parquet(s"$store/centroids"), "cell")

  /** Shared oracle CTE chain: base/batch split, base-derived centroids,
    * quantize-assignment of EVERY vector — the replay of build+upsert
    * straight from `embeddings`. */
  private def upsertChainSql: String =
    s"""e AS (
       |  SELECT vec_id, label, v, list_dot_product(v, v) AS nrm
       |  FROM (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
       |        FROM embeddings)),
       |base AS (SELECT * FROM e WHERE vec_id % $UpsertStride != $UpsertResidue),
       |cent AS (
       |  SELECT label, list(c ORDER BY i) AS cv FROM (
       |    SELECT label, i, CAST(round(CAST(avg(v[i]) AS DECIMAL(28,12)), 6) AS DOUBLE) AS c
       |    FROM base, generate_series(1, $DIMS) AS g(i) GROUP BY label, i)
       |  GROUP BY label),
       |assigned AS (
       |  SELECT vec_id, label, cell, v, nrm FROM (
       |    SELECT x.vec_id, x.label, c.label AS cell, x.v, x.nrm,
       |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
       |        round(list_sum(list_transform(range(1, ${DIMS + 1}),
       |          i -> (x.v[i] - c.cv[i]) * (x.v[i] - c.cv[i]))), 4), c.label) AS cr
       |    FROM e x, cent c)
       |  WHERE cr = 1)""".stripMargin

  val ivfUpsertOracle: String =
    s"""WITH $upsertChainSql
       |SELECT CAST(cell AS BIGINT) AS cell,
       |  CAST(sum(CASE WHEN vec_id % $UpsertStride != $UpsertResidue
       |                THEN 1 ELSE 0 END) AS BIGINT) AS sz_base,
       |  CAST(sum(CASE WHEN vec_id % $UpsertStride = $UpsertResidue
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       |  CAST(count(*) AS BIGINT) AS sz_after
       |FROM assigned GROUP BY cell ORDER BY cell""".stripMargin

  val ivfUpsertQueryOracle: String =
    s"""WITH $upsertChainSql,
       |probes AS (
       |  SELECT q_id, cell, qv, qn FROM (
       |    SELECT q.vec_id AS q_id, c.label AS cell, q.v AS qv, q.nrm AS qn,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(list_sum(list_transform(range(1, ${DIMS + 1}),
       |          i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))), 4), c.label) AS pr
       |    FROM assigned q, cent c WHERE q.vec_id < $N_QUERIES)
       |  WHERE pr = 1),
       |sims AS (
       |  SELECT p.q_id, n.vec_id AS n_id,
       |    round(list_dot_product(p.qv, n.v) / sqrt(p.qn * n.nrm), 4) AS cos_sim
       |  FROM probes p JOIN assigned n ON n.cell = p.cell AND n.vec_id != p.q_id)
       |SELECT q_id, rank, n_id, cos_sim FROM (
       |  SELECT q_id, n_id, cos_sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM sims)
       |WHERE rank <= $TOP_K ORDER BY q_id, rank""".stripMargin

  // -------------------------------------------------------------------------
  // q251 — BINARY (sign) QUANTIZATION + Hamming ANN with an embedded
  // exact-recall audit. The 1-bit-per-dimension code is the most
  // aggressive compression a vector store ships (64 dims → 8 bytes,
  // 32× smaller than float32): bit i is set iff v[i] clears the
  // per-dimension corpus mean, and candidate ranking is Hamming distance
  // over the codes (XOR + popcount — pure integer, SIMD-friendly,
  // index-free). The audit column marks which Hamming top-k survivors
  // are in the EXACT cosine top-k (q32's contract), so the query is the
  // compression decision itself: recall@k of 1-bit codes on this corpus.
  //
  // Scale: thresholds are a 64-row aggregate collected once and embedded
  // as a literal (bounded control plane, the q214 decile pattern);
  // quantization is a row-local codegen'd expression (no shuffle); both
  // ranking legs join the corpus against the ≤ N_QUERIES broadcast probe
  // relation and window per-query — q32's shape, twice.
  // -------------------------------------------------------------------------

  /** Per-dimension 6dp-rounded corpus means — the binarization thresholds
    * (the centroidsOf DECIMAL route, globally). 64 doubles, driver-side. */
  private def bqThresholds(spark: SparkSession, dir: String): Array[Double] =
    vecs(spark, dir)
      .select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(mean6(col("x")).as("t"))
      .orderBy(col("dim"))
      .collect().map(_.getDouble(1))

  /** Corpus + codes: lo/hi pack bits 1–32 / 33–64 into two BIGINTs (a
    * single 64-bit pack would need the sign bit; two halves keep every
    * value non-negative in BOTH engines). */
  private def bqCodes(spark: SparkSession, dir: String): DataFrame = {
    val thr = bqThresholds(spark, dir)
    val thrCol = array(thr.map(lit): _*)
    vecs(spark, dir)
      .withColumn("bits", zip_with(col("v"), thrCol,
        (x, t) => when(x.cast("double") > t, 1L).otherwise(0L)))
      .withColumn("lo", expr("aggregate(sequence(1, 32), 0L, " +
        "(acc, i) -> acc + element_at(bits, i) * shiftleft(1L, i - 1))"))
      .withColumn("hi", expr("aggregate(sequence(33, 64), 0L, " +
        "(acc, i) -> acc + element_at(bits, i) * shiftleft(1L, i - 33))"))
      .select(col("vec_id"), col("v"), col("nrm"), col("lo"), col("hi"))
  }

  def q251BinaryQuantRecall(spark: SparkSession, dir: String): DataFrame = {
    val coded = bqCodes(spark, dir)
    val probes = broadcast(queries(coded, Seq(col("lo").as("qlo"), col("hi").as("qhi"))))
    val ham = (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
               bit_count(col("hi").bitwiseXOR(col("qhi")))).cast("long")
    val wh = Window.partitionBy(col("q_id")).orderBy(col("ham"), col("vec_id"))
    val hamTop = coded.join(probes, col("vec_id") =!= col("q_id"))
      .withColumn("ham", ham)
      .withColumn("rank", row_number().over(wh).cast("long"))
      .filter(col("rank") <= TOP_K)
      .select(col("q_id"), col("rank"), col("vec_id").as("n_id"), col("ham"))
    val we = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val exact = coded.join(probes, col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", cosine())
      .withColumn("er", row_number().over(we))
      .filter(col("er") <= TOP_K)
      .select(col("q_id"), col("vec_id").as("n_id"), lit(1L).as("in_exact"))
    hamTop.join(exact, Seq("q_id", "n_id"), "left")
      .select(col("q_id"), col("rank"), col("n_id"), col("ham"),
              coalesce(col("in_exact"), lit(0L)).as("in_exact"))
      .orderBy(col("q_id"), col("rank"))
  }

  val binaryQuantRecallOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
       |         list_dot_product(list_transform(embedding, x -> x::DOUBLE),
       |                          list_transform(embedding, x -> x::DOUBLE)) AS nrm
       |  FROM embeddings),
       |thr AS (
       |  SELECT i, CAST(round(CAST(avg(v[i]) AS DECIMAL(28,12)), 6) AS DOUBLE) AS t
       |  FROM e, generate_series(1, $DIMS) g(i) GROUP BY i),
       |thrl AS (SELECT list(t ORDER BY i) AS tl FROM thr),
       |codes AS (
       |  SELECT vec_id, v, nrm,
       |    CAST(list_sum(list_transform(range(1, 33),
       |      i -> CASE WHEN v[i] > tl[i] THEN (1::BIGINT << (i-1)) ELSE 0::BIGINT END)) AS BIGINT) AS lo,
       |    CAST(list_sum(list_transform(range(33, 65),
       |      i -> CASE WHEN v[i] > tl[i] THEN (1::BIGINT << (i-33)) ELSE 0::BIGINT END)) AS BIGINT) AS hi
       |  FROM e, thrl),
       |q AS (SELECT vec_id AS q_id, lo AS qlo, hi AS qhi, v AS qv, nrm AS qn
       |      FROM codes WHERE vec_id < $N_QUERIES),
       |hamtop AS (
       |  SELECT q_id, n_id, ham,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY ham, n_id) AS BIGINT) AS rank
       |  FROM (
       |    SELECT q_id, d.vec_id AS n_id,
       |      CAST(bit_count(xor(qlo, d.lo)) + bit_count(xor(qhi, d.hi)) AS BIGINT) AS ham
       |    FROM q JOIN codes d ON d.vec_id != q.q_id)
       |  QUALIFY rank <= $TOP_K),
       |exact AS (
       |  SELECT q_id, d.vec_id AS n_id
       |  FROM q JOIN codes d ON d.vec_id != q.q_id
       |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY
       |    round(list_dot_product(qv, d.v) / sqrt(qn * d.nrm), 4) DESC,
       |    d.vec_id) <= $TOP_K)
       |SELECT h.q_id, h.rank, h.n_id, h.ham,
       |  CAST(CASE WHEN x.n_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_exact
       |FROM hamtop h LEFT JOIN exact x ON x.q_id = h.q_id AND x.n_id = h.n_id
       |ORDER BY h.q_id, h.rank""".stripMargin

  // -------------------------------------------------------------------------
  // q256 — STREAMING-SHAPED IVF upsert: the q249 merge driven as a
  // sequence of out-of-order micro-batches WITH a replay (batch residues
  // arrive 2, 0, 1, then 0 again), exactly the delivery pattern a
  // Structured Streaming `foreachBatch` sink sees (effectively-once =
  // at-least-once delivery + the PK anti-join making re-delivery a
  // no-op — the `ingest/Upsert` discipline; reference analog: the
  // listen/fill loop re-processing a block is harmless,
  // haskell-src/exec/Chainweb/{Listen,Gaps}.hs). The oracle replays
  // build+upsert from raw embeddings with NO batching at all, so the
  // CORRECTNESS row certifies order/batching/replay-invariance; the
  // Round9bSpec twin drives the SAME merge from an actual MemoryStream.
  // -------------------------------------------------------------------------

  private val StreamResidues = Seq(2L, 0L, 1L, 0L) // out of order + replay

  def q256StreamingIvfUpsert(spark: SparkSession, dir: String): DataFrame = {
    val store = buildBaseStore(spark, vecs(spark, dir), "graft_ivf_upsert_stream")
    StreamResidues.foreach { b =>
      mergeBatch(spark, store, upsertBatch(spark, dir).filter(col("vec_id") % 3 === b))
    }
    upsertAccounting(spark, store)
  }

  /** Identical to [[ivfUpsertOracle]] — the unbatched replay IS the
    * specification the micro-batched path must converge to. */
  val streamingIvfUpsertOracle: String = ivfUpsertOracle

  // -------------------------------------------------------------------------
  // q258 — TOMBSTONE DELETES from the persisted IVF index, completing the
  // index-maintenance CRUD story (q246 build, q249 upsert, q245
  // rebalance): deletes never rewrite the cell-partitioned postings —
  // they append vec_ids to a tombstone side-table, and the query path
  // anti-joins candidates against it (exactly how FAISS/Lucene-style
  // stores handle deletes between compactions; the postings parquet
  // stays immutable). The oracle replays the probe over raw embeddings
  // with the deleted slice EXCLUDED, so the CORRECTNESS row certifies
  // that a tombstoned vector is fully invisible: not a candidate, not a
  // probe, and the top-k re-closes over the survivors.
  //
  // Scale: the tombstone relation is vec_id-only (narrow scan, pruned
  // column); the anti-join is id-keyed; everything else is q250's plan.
  // -------------------------------------------------------------------------

  private val DeleteStride = 11L
  private val DeleteResidue = 5L

  def q258IvfDeleteQuery(spark: SparkSession, dir: String): DataFrame = {
    val store = indexLifecycleStore(spark, dir)
    val tomb = spark.read.parquet(s"$store/tombstones")
    cellStoreTopK(spark, store, spark.read.parquet(s"$store/postings")
      .join(tomb, Seq("vec_id"), "left_anti")) // deleted = invisible
  }

  /** CLI feed (`graft index <sfDir>`): the full maintenance lifecycle —
    * build from the base slice, merge the upsert batch, tombstone the
    * delete slice — then the per-cell accounting q245's rebalancer and a
    * compaction planner read between compactions: base/added/after plus
    * deleted/live. */
  private[graft] def indexLifecycleStats(spark: SparkSession,
                                         dir: String): DataFrame =
    storeStats(spark, indexLifecycleStore(spark, dir))

  /** build + one upsert merge + tombstone append (the delete slice's ids
    * go to a side table, the postings stay untouched), compaction NOT yet
    * run — the store q258 serves and the CLI's stats and compact verbs
    * both operate on. */
  private[graft] def indexLifecycleStore(spark: SparkSession,
                                         dir: String): String = {
    val store = buildUpsertStore(spark, dir, merges = 1)
    vecs(spark, dir)
      .filter(col("vec_id") % DeleteStride === DeleteResidue)
      .select(col("vec_id"))
      .write.mode("overwrite").parquet(s"$store/tombstones")
    store
  }

  /** Per-cell accounting of any store state (pre- or post-compaction). */
  private[graft] def storeStats(spark: SparkSession, store: String): DataFrame = {
    val tomb = spark.read.parquet(s"$store/tombstones")
      .withColumn("deleted", lit(1L))
    spark.read.parquet(s"$store/postings")
      .join(tomb, Seq("vec_id"), "left")
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("sz_after"),
           sum(when(col("vec_id") % UpsertStride === UpsertResidue, 1L)
                 .otherwise(0L)).as("n_added"),
           sum(coalesce(col("deleted"), lit(0L))).as("n_deleted"))
      .select(col("cell"), (col("sz_after") - col("n_added")).as("sz_base"),
              col("n_added"), col("sz_after"), col("n_deleted"),
              (col("sz_after") - col("n_deleted")).as("sz_live"))
      .orderBy(col("cell"))
  }

  // -------------------------------------------------------------------------
  // q259/q260 — IVF STORE COMPACTION, the lifecycle's missing verb (round-9
  // verdict #3): q258's tombstones and upsert appends accumulate forever —
  // every query pays the anti-join and the postings directory grows
  // monotonically. The compaction pass rewrites ONLY the cells that
  // contain tombstoned rows (cell-partitioned parquet = per-cell file
  // groups, so untouched cells' files are not read or rewritten — the
  // Lucene/FAISS segment-merge discipline), then clears the tombstone side
  // table. Two contracts, each its own CORRECTNESS row:
  //   - q259: query-after-compaction ≡ query-over-tombstones — the probe
  //     over the compacted store replays against the SAME raw-embeddings
  //     oracle as q258 (deleted vectors excluded), so compaction is proven
  //     invisible to serving.
  //   - q260: accounting conservation — post-compaction per-cell stats
  //     satisfy base′ = live (sz_after − n_deleted) and deleted′ = 0,
  //     replayed from raw embeddings.
  //
  // Scale: the affected-cell set is ≤ nlist labels (a distinct over the
  // pruned (vec_id, cell) columns semi-joined with the id-only tombstone
  // relation — bounded driver collect of cell ids, the q245 planner's
  // shape); the rewrite shuffles only the affected cells' rows, keyed by
  // cell; unaffected partitions are untouched on disk.
  // -------------------------------------------------------------------------

  /** Rewrite tombstone-affected cells without their deleted rows, then
    * clear the tombstone table. Returns the affected cell ids. */
  private[graft] def compactStore(spark: SparkSession, store: String): Seq[Long] = {
    val tomb = spark.read.parquet(s"$store/tombstones")
    val postings = spark.read.parquet(s"$store/postings")
    val affected = postings.select(col("vec_id"), col("cell"))
      .join(tomb, Seq("vec_id"), "left_semi")
      .select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    if (affected.nonEmpty) {
      // survivors of the affected cells, materialized BEFORE the rewrite
      // touches the directory they were computed from
      val survivors = postings
        .filter(col("cell").isin(affected: _*))
        .join(tomb, Seq("vec_id"), "left_anti")
        .localCheckpoint()
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      affected.foreach { c =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$store/postings/cell=$c"), true): Unit
      }
      survivors.write.mode("append").partitionBy("cell")
        .parquet(s"$store/postings")
    }
    // deleted′ = 0: the side table empties (schema-preserving overwrite)
    tomb.limit(0).localCheckpoint()
      .write.mode("overwrite").parquet(s"$store/tombstones")
    affected
  }

  /** build → upsert-merge → tombstone-delete → compact; returns the store. */
  private[graft] def buildCompactedStore(spark: SparkSession, dir: String): String = {
    val store = indexLifecycleStore(spark, dir)
    compactStore(spark, store)
    store
  }

  /** q259 — query-after-compaction: q250's probe shape over the COMPACTED
    * postings, NO tombstone anti-join anywhere in the plan — the store
    * itself is clean. Oracle = q258's (the tombstone-visible enumeration):
    * equivalence of the two serving paths is the correctness claim. */
  def q259IvfCompactQuery(spark: SparkSession, dir: String): DataFrame = {
    val store = buildCompactedStore(spark, dir)
    cellStoreTopK(spark, store, spark.read.parquet(s"$store/postings"))
  }

  /** q260 — post-compaction accounting conservation: per-cell live sizes
    * read back from the compacted store, plus the residual tombstone count
    * (a bounded control scalar — the side table must be EMPTY). The oracle
    * replays the live slice from raw embeddings with `0 AS n_tomb`. */
  def q260IvfCompactAccounting(spark: SparkSession, dir: String): DataFrame = {
    val store = buildCompactedStore(spark, dir)
    val nTomb = spark.read.parquet(s"$store/tombstones").count()
    spark.read.parquet(s"$store/postings")
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("sz_live"))
      .select(col("cell"), col("sz_live"), lit(nTomb).as("n_tomb"))
      .orderBy(col("cell"))
  }

  /** Identical to [[ivfDeleteQueryOracle]] — query-after-compaction must
    * enumerate exactly the tombstone-visible result. (lazy: the target val
    * is declared below; a strict val would capture null at object init.) */
  lazy val ivfCompactQueryOracle: String = ivfDeleteQueryOracle

  val ivfCompactAccountingOracle: String =
    s"""WITH $upsertChainSql,
       |live AS (SELECT * FROM assigned
       |         WHERE vec_id % $DeleteStride != $DeleteResidue)
       |SELECT CAST(cell AS BIGINT) AS cell,
       |  CAST(count(*) AS BIGINT) AS sz_live,
       |  CAST(0 AS BIGINT) AS n_tomb
       |FROM live GROUP BY cell ORDER BY cell""".stripMargin

  val ivfDeleteQueryOracle: String =
    s"""WITH $upsertChainSql,
       |live AS (SELECT * FROM assigned
       |         WHERE vec_id % $DeleteStride != $DeleteResidue),
       |probes AS (
       |  SELECT q_id, cell, qv, qn FROM (
       |    SELECT q.vec_id AS q_id, c.label AS cell, q.v AS qv, q.nrm AS qn,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(list_sum(list_transform(range(1, ${DIMS + 1}),
       |          i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))), 4), c.label) AS pr
       |    FROM live q, cent c WHERE q.vec_id < $N_QUERIES)
       |  WHERE pr = 1),
       |sims AS (
       |  SELECT p.q_id, n.vec_id AS n_id,
       |    round(list_dot_product(p.qv, n.v) / sqrt(p.qn * n.nrm), 4) AS cos_sim
       |  FROM probes p JOIN live n ON n.cell = p.cell AND n.vec_id != p.q_id)
       |SELECT q_id, rank, n_id, cos_sim FROM (
       |  SELECT q_id, n_id, cos_sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM sims)
       |WHERE rank <= $TOP_K ORDER BY q_id, rank""".stripMargin
}
