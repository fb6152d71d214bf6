package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
    * `modulename = token [AND chainid = chain]`. */
  def predicate(token: String, chain: Option[Long] = None): Column =
    chain.foldLeft(col("modulename") === token)((p, c) => p && col("chainid") === c)

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
    val events = graft.sources.Snapshots
      .readPinned(spark, s"$tableDir/events")
    // U1 — union of the two indexed scans, not one OR predicate.
    val scans = source(spark, tableDir, account)
      .filter(col("modulename") === token)
    decorate(scans, blocks, events)
      .orderBy(col("height").desc, col("requestkey").desc, col("idx").asc)
  }

  /** Block-time + cross-chain decoration of a transfers relation
    * (Queries.hs:278-339 `transferSearchExtras` + `joinXChainInfo`),
    * factored out so the serving layer can decorate just a RESULT PAGE
    * (against pruned blocks/events scans) while [[transfersOf]] decorates
    * the whole account relation. `blocks` must carry (hash, creationtime),
    * `events` the ingested events schema. The x-chain lateral is
    * 'coin'-scoped like the reference's hardcoded `mdName = 'coin'`
    * (Queries.hs:311,321). */
  def decorate(scans: DataFrame, blocksSrc: DataFrame, events: DataFrame): DataFrame = {
    val blocks = blocksSrc
      .select(col("hash").as("block"), col("creationtime").as("block_time"))

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
      .join(blocks, "block")
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
    * not the scanned residue). The page rows become a tiny local relation;
    * blocks/events are pre-pruned with `isin` on the page's block hashes /
    * request keys so the decoration joins scan only the touched
    * files at any corpus size. Returns rows in the page's order with the
    * [[decorate]] output schema (what [[graft.server.Dto.transferDetail]]
    * renders). */
  def decoratePage(spark: SparkSession, tableDir: String,
                   page: Seq[org.apache.spark.sql.Row]): Seq[org.apache.spark.sql.Row] = {
    if (page.isEmpty) return Seq.empty
    val tcols = Seq("block", "requestkey", "chainid", "height", "idx",
                    "modulename", "modulehash", "from_acct", "to_acct", "amount")
    val schema = org.apache.spark.sql.types.StructType(
      tcols.map(n => page.head.schema(n)))
    val slim = page.map(r => org.apache.spark.sql.Row.fromSeq(
      tcols.map(n => r.getAs[Any](n))))
    val pageDf = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(slim).asJava, schema)
    val hashes = page.map(_.getAs[String]("block")).distinct
    val rks = page.map(_.getAs[String]("requestkey")).distinct
    val blocks = graft.sources.Snapshots
      .readPinned(spark, s"$tableDir/blocks")
      .filter(col("hash").isin(hashes: _*))
    val events = graft.sources.Snapshots
      .readPinned(spark, s"$tableDir/events")
      .filter(col("block").isin(hashes: _*) && col("requestkey").isin(rks: _*) &&
              col("qualname").isin("coin.TRANSFER_XCHAIN", "pact.X_RESUME"))
    val decorated = decorate(pageDf, blocks, events).collect()
    // restore the page's cursor order: (block, requestkey, idx) is the
    // event PK, so it keys each decorated row back to its input position
    val pos = page.zipWithIndex.map { case (r, i) =>
      (r.getAs[String]("block"), r.getAs[String]("requestkey"),
       r.getAs[Long]("idx")) -> i
    }.toMap
    decorated.sortBy(r => pos((r.getAs[String]("block"),
      r.getAs[String]("requestkey"), r.getAs[Long]("idx")))).toSeq
  }
}
