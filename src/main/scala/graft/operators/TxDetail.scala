package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Transaction detail lookup — `/txs/tx` + `/txs/txs`
  * (SURVEY §2.3 J4/J5: chainweb-data exec/Chainweb/Server.hs:408-441).
  * Orphan-tolerant: one detail row per (requestkey, block) — the reference
  * returns ALL fork copies from `/txs/txs` and picks one for `/txs/tx`
  * (Server.hs:462-482); callers get the same choice here.
  *
  * The per-tx events and signers become sorted struct arrays via
  * `sort_array(collect_list(struct(idx, …)))` — the reference's app-side
  * merge (two extra point queries + Haskell zip) collapses into two
  * aggregations co-keyed with the tx row, and its ContinuationHistory
  * query a scalar subquery of [[TxSearch.source]]. Point-lookup latency
  * at scale rides on requestkey clustering/stats (SURVEY §4), not an index.
  */
object TxDetail {

  def lookup(spark: SparkSession, tableDir: String, requestkey: String): DataFrame = {
    // Snapshot-pinned + footer-memoized reads (the serving-path rule,
    // VERDICT r8 item 4): a detail request sees one committed version of
    // every table it joins, with no per-request parquet footer re-read.
    def pinned(name: String) =
      graft.sources.Snapshots.readPinned(spark, s"$tableDir/$name")
    val tx = pinned("transactions")
      .filter(col("requestkey") === requestkey)
    val events = pinned("events")
      .filter(col("requestkey") === requestkey)
      .groupBy(col("requestkey"), col("block"))
      .agg(sort_array(collect_list(struct(
        col("idx"), col("qualname"), col("paramtext")))).as("events"))
    val signers = pinned("signers")
      .filter(col("requestkey") === requestkey)
      .groupBy(col("requestkey"))
      .agg(sort_array(collect_list(struct(
        col("idx"), col("pubkey"), col("scheme"), col("caps"),
        col("sig")))).as("signers"))
    val blocks = pinned("blocks")
      .select(col("hash").as("block"), col("creationtime").as("block_time"))
    // The key's continuation history, one per request key, so orphan twins
    // (one key, two blocks) share it; the source pins a version no older
    // than `tx`. A scalar subquery: one small job and one value, where a
    // join would build and broadcast a hash relation on every request.
    val hist = TxSearch.source(spark, tableDir)
      .filter(col("requestkey") === requestkey)
      .select(struct(col("initial_code"), col("previous_steps")))
      .limit(1).scalar()
    tx.join(events, Seq("requestkey", "block"), "left")
      .join(signers, Seq("requestkey"), "left")
      .join(blocks, Seq("block"), "left")
      .withColumn("hist", hist)
      .withColumns(Map("initial_code" -> col("hist.initial_code"),
                       "previous_steps" -> col("hist.previous_steps")))
      .drop("hist")
      .orderBy(col("block"))
  }

  /** The single-row `/txs/tx` choice among fork copies: successful result
    * first, then highest block (Server.hs:449-460's
    * `ORDER BY (goodresult IS NOT NULL) DESC, height DESC LIMIT 1` — the
    * O5 ordering applied to the detail row). */
  def lookupOne(spark: SparkSession, tableDir: String, requestkey: String): DataFrame =
    lookup(spark, tableDir, requestkey)
      .orderBy(col("goodresult").isNotNull.desc, col("height").desc,
               col("block"))
      .limit(1)
}
