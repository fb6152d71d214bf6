package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Transaction code search — the reference's most-used endpoint
  * (`/txs/search`: chainweb-data exec/Chainweb/Server.hs:295-332 `searchTxs`
  * over lib/ChainwebDb/Queries.hs:146-163 `txSearchSource`): a LIKE scan of
  * `COALESCE(tx.code, continuationHistory.code)` — continuation txs carry no
  * code of their own, so the search "sees through" to the initiating exec's
  * code via the recursive chain (Queries.hs:112-137).
  *
  * Spark-first: the reference runs the recursive CTE per row via a
  * correlated LATERAL ("very hacky" by its own comment, Queries.hs:114-123);
  * here the continuation chains are a set-based iterative join computed once
  * per committed `transactions` version ([[ContHistory]]) and LEFT-joined
  * to the summaries — strictly better at scale (SURVEY §4's lateral→join
  * rewrite), and at 100 TB the chain relation is the thing to materialize
  * incrementally at ingest.
  */
object TxSearch {

  /** Searchable tx-summary source: DbTxSummary columns (Queries.hs:64-76)
    * + `code_merged` (the searchable text) + `initial_code`/`previous_steps`
    * (the ContinuationHistory decoration, Queries.hs:104-108). Feed to
    * [[graft.plans.BoundedScan.performBoundedScan]] with the txs cursor
    * (height DESC, requestkey DESC — Queries.hs:85-88).
    * One read of the latest committed `transactions` version feeds both
    * the summaries and the [[ContHistory.chains]] walk; the checkpointed
    * join is memoized per version ([[graft.sources.Snapshots.derivePinned]]),
    * so the walk reruns only when a new version lands. */
  def source(spark: SparkSession, tableDir: String): DataFrame =
    graft.sources.Snapshots.derivePinned(spark, s"$tableDir/transactions",
        graft.sources.Snapshots.TxSearchSource) { tx =>
      val hist = ContHistory.chains(tx)
        .select(col("requestkey"),
                col("chain_code").as("initial_code"),
                col("chain").as("previous_steps"))
      tx.select(col("chainid"), col("height"), col("block"), col("creationtime"),
                col("requestkey"), col("sender"), col("code"),
                col("continuation"), col("goodresult"))
        .join(hist, Seq("requestkey"), "left")
        .withColumn("code_merged", coalesce(col("code"), col("initial_code")))
        .localCheckpoint()
    }

  /** The filter-mark predicate (P3 — Queries.hs:158-160). */
  def matchCol(search: String): Column =
    coalesce(col("code_merged"), lit("")).contains(search)

  // --- q63: the same search-through-continuations shape on the synthetic
  //     tables, oracle-checked. "Transactions" := events; an event is a
  //     "continuation" iff event_type = 'purchase' (code NULL, parent = the
  //     user's previous event); all other events are "execs" (code = props,
  //     no parent). The walk resolves each purchase's code to the first
  //     non-purchase ancestor's props — exactly the reference's
  //     cont→exec chain semantics, via the generic iterative resolver.

  def q63SearchChainCode(spark: SparkSession, dir: String): DataFrame = {
    val lagW = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val base = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("props"))
      .withColumn("code", when(col("event_type") === "purchase", lit(null))
                            .otherwise(col("props")))
      .withColumn("parent", when(col("event_type") === "purchase",
                                 lag(col("event_id"), 1).over(lagW)))
      // lazy: materialized inside the resolver's first job (its node
      // checkpoint reads through this one), not as a separate eager job
      .localCheckpoint(eager = false)
    val resolved = ContHistory.resolveCode(
      base.select(col("event_id").as("id"), col("parent"), col("code")))
    base.join(resolved, col("event_id") === col("seed"), "left")
      .withColumn("code_merged", coalesce(col("code"), col("chain_code"), lit("")))
      .filter(col("code_merged").contains("\"k\": 3"))
      .select(col("event_id"), col("user_id"), col("code_merged"))
      .orderBy(col("event_id").desc)
  }

  val searchChainCodeOracle: String =
    """WITH RECURSIVE base AS (
      |  SELECT user_id, event_id,
      |    CASE WHEN event_type = 'purchase' THEN NULL ELSE props END AS code,
      |    CASE WHEN event_type = 'purchase'
      |         THEN lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
      |    END AS parent
      |  FROM events),
      |walk AS (
      |  SELECT event_id AS seed, parent AS cur, 1 AS depth
      |  FROM base WHERE code IS NULL AND parent IS NOT NULL
      |  UNION ALL
      |  SELECT w.seed, b.parent, w.depth + 1
      |  FROM walk w JOIN base b ON b.event_id = w.cur
      |  WHERE b.code IS NULL AND b.parent IS NOT NULL AND w.depth < 25),
      |resolved AS (
      |  SELECT w.seed, b.code AS chain_code
      |  FROM walk w JOIN base b ON b.event_id = w.cur
      |  WHERE b.code IS NOT NULL)
      |SELECT b.event_id, b.user_id,
      |  coalesce(b.code, r.chain_code, '') AS code_merged
      |FROM base b LEFT JOIN resolved r ON r.seed = b.event_id
      |WHERE coalesce(b.code, r.chain_code, '') LIKE '%"k": 3%'
      |ORDER BY b.event_id DESC""".stripMargin
}
