package graft.operators

import scala.jdk.CollectionConverters._

import graft.plans.BoundLiteral
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType, TimestampType}

/** Account transfer history — the reference's `/txs/account/<acct>`
  * (SURVEY §7.1's first end-to-end milestone: U1 union of the two
  * account scans + O1 cursor ordering + J1 block decoration + J3
  * cross-chain resolution; chainweb-data lib/ChainwebDb/Queries.hs:251-339).
  *
  * Runs over the six tables produced by [[graft.ingest.Flatten]] /
  * [[graft.ingest.Upsert]]. Scale: the two account scans prune on the
  * account clustering (SURVEY §4 — two sorted projections mirroring the
  * reference's two indexes); the events joins for x-chain resolution are
  * equi-joins on the (block, requestkey[, idx]) PK prefix, and blocks
  * decoration joins on hash — all co-keyed with the transfer row, no
  * fan-out.
  */
object AccountHistory {

  private def unq(c: Column): Column = regexp_replace(c, "^\"|\"$", "")

  /** Bounded-scan SOURCE for `/txs/account` (Queries.hs:246-269
    * `transfersSearchSource`): the union of the two indexed account scans
    * (each prunes on its own account clustering), height-range guarded
    * ([[ChainTime.heightRange]]).
    * Token/chain conditions are deliberately NOT here — they are the
    * filter-mark predicate ([[predicate]]), so scanned-but-unmatched rows
    * still consume scan budget exactly like the reference's
    * `FilterMarked (searchCond tr) tr`. */
  def source(spark: SparkSession, tableDir: String, account: String,
             minHeight: Option[Long] = None,
             maxHeight: Option[Long] = None): DataFrame = {
    val ranged = ChainTime.heightRange(
      graft.sources.Snapshots.readPinned(spark, s"$tableDir/transfers"),
      minHeight, maxHeight)
    ranged.filter(col("from_acct") === account)
      .unionAll(ranged.filter(col("to_acct") === account))
  }

  /** Filter-mark predicate (Queries.hs:252-255 `searchCond`):
    * `modulename = token [AND chainid = chain]`, the chain bound
    * ([[BoundLiteral]]). */
  def predicate(token: String, chain: Option[Long] = None): Column =
    chain.foldLeft(col("modulename") === token)((p, c) => p && col("chainid") === BoundLiteral(c))

  /** History rows for one account, newest first (height DESC, requestkey
    * DESC, idx ASC — Queries.hs:238-242), decorated with block time and
    * x-chain resolution for empty counterparty accounts, covering BOTH
    * directions of the reference's lateral (Queries.hs:291-339):
    *   - outbound send (empty `to_acct`): the adjacent `coin.TRANSFER_XCHAIN`
    *     event (same block+requestkey, idx-1) carries
    *     [sender, receiver, amount, targetChain] (Queries.hs:308-317);
    *   - inbound receive (empty `from_acct`): the `pact.X_RESUME` event of
    *     the same tx (any idx) carries [sourceChain, 'coin.transfer-crosschain',
    *     [sender, receiver, amount]] (Queries.hs:318-328).
    * The reference's `UNION ALL … LIMIT 1` branch priority is reproduced by
    * the outbound-first `coalesce`; the branches are disjoint in practice
    * (a row has exactly one empty side).
    */
  def transfersOf(spark: SparkSession, tableDir: String, account: String,
                  token: String = "coin"): DataFrame = {
    // Snapshot-pinned + footer-memoized (the serving-path rule, VERDICT r8
    // item 4): one committed version across the scans and joins below.
    val blocks = graft.sources.Snapshots
      .readPinned(spark, s"$tableDir/blocks")
      .select(col("hash").as("block"), col("creationtime").as("block_time"))
    val events = graft.sources.Snapshots
      .readPinned(spark, s"$tableDir/events")
    // U1 — union of the two indexed scans, not one OR predicate.
    val scans = source(spark, tableDir, account)
      .filter(col("modulename") === token)
    decorate(scans.join(blocks, "block"), events)
      .orderBy(col("height").desc, col("requestkey").desc, col("idx").asc)
  }

  /** Cross-chain decoration of a transfers relation that already carries
    * its `block_time` (Queries.hs:278-339 `transferSearchExtras` +
    * `joinXChainInfo`), factored out so the serving layer can decorate just
    * the cross-chain legs of a RESULT PAGE ([[decoratePage]]) while
    * [[transfersOf]] decorates the whole account relation. `events` has the
    * ingested events schema. The x-chain lateral is 'coin'-scoped like the
    * reference's hardcoded `mdName = 'coin'` (Queries.hs:311,321). */
  def decorate(scans: DataFrame, events: DataFrame): DataFrame = {
    // J3 branch 1 (outbound): TRANSFER_XCHAIN at idx-1 of the same tx.
    val outbound = events
      .filter(col("qualname") === "coin.TRANSFER_XCHAIN")
      .select(col("block").as("o_block"), col("requestkey").as("o_rk"),
              (col("idx") + 1).as("o_idx"),
              unq(element_at(col("params"), 1)).as("o_from"),
              unq(element_at(col("params"), 2)).as("o_target"),
              unq(element_at(col("params"), 4)).cast("long").as("o_chainid"))

    // J3 branch 2 (inbound): the tx's pact.X_RESUME event; params[2] is a
    // nested JSON array [sender, receiver, amount]. One row per tx (the
    // reference's LIMIT 1): first by event idx.
    val iw = Window.partitionBy(col("i_block"), col("i_rk")).orderBy(col("idx"))
    val inbound = events
      .filter(col("qualname") === "pact.X_RESUME" &&
              unq(element_at(col("params"), 2)) === "coin.transfer-crosschain")
      .select(col("block").as("i_block"), col("requestkey").as("i_rk"), col("idx"),
              get_json_object(element_at(col("params"), 3), "$[0]").as("i_source"),
              get_json_object(element_at(col("params"), 3), "$[1]").as("i_target"),
              unq(element_at(col("params"), 1)).cast("long").as("i_chainid"))
      .withColumn("i_rn", row_number().over(iw))
      .filter(col("i_rn") === 1)
      .drop("idx", "i_rn")

    scans
      .join(outbound,
            col("block") === col("o_block") && col("requestkey") === col("o_rk") &&
            col("idx") === col("o_idx") && col("to_acct") === "" &&
            col("modulename") === "coin" &&
            col("o_from") === col("from_acct"), "left")
      .join(inbound,
            col("block") === col("i_block") && col("requestkey") === col("i_rk") &&
            col("from_acct") === "" && col("requestkey") =!= "cb" &&
            col("modulename") === "coin" &&
            col("i_target") === col("to_acct"), "left")
      .select(
        col("requestkey"), col("chainid"), col("height"), col("idx"),
        when(col("from_acct") === "" && col("i_source").isNotNull, col("i_source"))
          .otherwise(col("from_acct")).as("from_acct"),
        when(col("to_acct") === "" && col("o_target").isNotNull, col("o_target"))
          .otherwise(col("to_acct")).as("to_acct"),
        // Flagged from the ORIGINAL columns: either empty side marks the
        // row as a cross-chain leg (outbound send or inbound receive).
        (col("to_acct") === "" || col("from_acct") === "").as("cross_chain"),
        coalesce(col("o_chainid"), col("i_chainid")).as("target_chainid"),
        col("amount"), col("block_time"),
        // DTO-parity companions (TransferDetail, Server.hs:534-545): the
        // STORED ledger sides, the resolved other-chain account on its
        // own, plus block hash and token for rendering.
        col("from_acct").as("from_stored"),
        col("to_acct").as("to_stored"),
        when(col("to_acct") === "", col("o_target"))
          .when(col("from_acct") === "", col("i_source")).as("xchain_acct"),
        col("block"), col("modulename").as("token"))
  }

  /** Decorate ONE bounded-scan result page (≤ resultLimit rows) — the
    * serving analog of the reference running `transferSearchExtras` only
    * over the page it is about to return (BoundedScan.hs's
    * `boundedScanOffset/Limit` wrap the extras around the winning rows,
    * not the scanned residue). Block times come from the driver-side
    * [[graft.sources.BlockIndex]]; a row whose block is not in the table is
    * dropped, as by [[transfersOf]]'s join. Only the page's cross-chain
    * legs (a stored side empty or null) need the events: they become a tiny
    * local relation that [[decorate]] joins against events pre-pruned with
    * `isin` on their block hashes and request keys. Every other row's
    * decoration is its own columns, built here without a Spark job, so a
    * page without legs runs none. Returns rows in the page's order with the
    * [[decorate]] output columns (what [[graft.server.Dto.transferDetail]]
    * renders). */
  def decoratePage(spark: SparkSession, tableDir: String, page: Seq[Row]): Seq[Row] = {
    if (page.isEmpty) return Seq.empty
    val times = graft.sources.BlockIndex.creationTimes(
      spark, s"$tableDir/blocks", page.map(_.getAs[String]("block")).distinct)
    val timed = page.filter(r => times.contains(r.getAs[String]("block")))
    def stored(r: Row, side: String) =
      Option(r.getAs[String](side)).filter(_.nonEmpty)
    def isLeg(r: Row) = stored(r, "from_acct").isEmpty || stored(r, "to_acct").isEmpty
    // (block, requestkey, idx) is the event PK: it keys a decorated leg
    // back to its page row
    def key(r: Row) = (r.getAs[String]("block"), r.getAs[String]("requestkey"), r.getAs[Long]("idx"))
    val legs = timed.filter(isLeg)
    val resolved: Map[(String, String, Long), Row] =
      if (legs.isEmpty) Map.empty
      else {
        val schema = StructType(legCols.map(n => page.head.schema(n)))
          .add("block_time", TimestampType)
        val rows = legs.map(r => Row.fromSeq(legCols.map(n => r.getAs[Any](n)) :+
                                             times(r.getAs[String]("block"))))
        val legDf = spark.createDataFrame(rows.asJava, schema)
        val events = graft.sources.Snapshots
          .readPinned(spark, s"$tableDir/events")
          .filter(col("block").isin(legs.map(_.getAs[String]("block")).distinct: _*) &&
                  col("requestkey").isin(legs.map(_.getAs[String]("requestkey")).distinct: _*) &&
                  col("qualname").isin("coin.TRANSFER_XCHAIN", "pact.X_RESUME"))
        decorate(legDf, events).collect().map(r => key(r) -> r).toMap
      }
    timed.map(r => if (isLeg(r)) resolved(key(r)) else plainRow(r, times(r.getAs[String]("block"))))
  }

  /** The transfer columns a cross-chain leg carries into [[decorate]]. */
  private val legCols = Seq("block", "requestkey", "chainid", "height", "idx",
                            "modulename", "modulehash", "from_acct", "to_acct", "amount")

  /** [[decorate]]'s output row for a transfer with both sides stored: the
    * x-chain joins cannot match it, so every column is its own. */
  private def plainRow(r: Row, blockTime: Any): Row = {
    def f(n: String) = r.schema(n)
    val schema = StructType(Seq(
      f("requestkey"), f("chainid"), f("height"), f("idx"), f("from_acct"), f("to_acct"),
      StructField("cross_chain", BooleanType), StructField("target_chainid", LongType),
      f("amount"), StructField("block_time", TimestampType),
      f("from_acct").copy(name = "from_stored"), f("to_acct").copy(name = "to_stored"),
      StructField("xchain_acct", StringType), f("block"), f("modulename").copy(name = "token")))
    def v(n: String) = r.getAs[Any](n)
    new GenericRowWithSchema(Array(
      v("requestkey"), v("chainid"), v("height"), v("idx"), v("from_acct"), v("to_acct"),
      false, null, v("amount"), blockTime, v("from_acct"), v("to_acct"), null,
      v("block"), v("modulename")), schema)
  }
}
