package graft.operators

import scala.jdk.CollectionConverters._

import graft.plans.BoundLiteral
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
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
  * reference's two indexes). Decoration is per result page and on the
  * driver ([[decoratePage]]): block times from the driver-side block
  * index, and x-chain resolution from one events read pruned to the
  * page's cross-chain legs' blocks and request keys.
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
    * DESC, idx ASC — Queries.hs:238-242), decorated like a result page
    * ([[decoratePage]]): block time, and x-chain resolution of the
    * cross-chain legs in both directions. The whole account is one page
    * here, collected and decorated on the driver and returned as a local
    * relation with the [[decoratePage]] columns; rows whose block is not in
    * the `blocks` table are dropped. */
  def transfersOf(spark: SparkSession, tableDir: String, account: String,
                  token: String = "coin"): DataFrame = {
    // U1 — union of the two indexed scans, not one OR predicate.
    val scans = source(spark, tableDir, account).filter(col("modulename") === token)
    val rows = scans.orderBy(col("height").desc, col("requestkey").desc, col("idx").asc).collect()
    spark.createDataFrame(decoratePage(spark, tableDir, rows.toSeq).asJava, decorated(scans.schema))
  }

  private val TransferXChain = "coin.TRANSFER_XCHAIN"
  private val XResume = "pact.X_RESUME"

  /** Decorate ONE bounded-scan result page (≤ resultLimit rows) — the
    * serving analog of the reference running `transferSearchExtras`
    * (Queries.hs:278-339) only over the page it is about to return
    * (BoundedScan.hs's `boundedScanOffset/Limit` wrap the extras around the
    * winning rows, not the scanned residue). Block times come from the
    * driver-side [[graft.sources.BlockIndex]]; a row whose block is not in
    * the table is dropped. Only the page's cross-chain legs (a stored side
    * empty or null) need the events: one pinned read, pruned with `isin` on
    * their block hashes and request keys and the two qualnames, projects
    * what the x-chain lateral reads of each event, and the legs are matched
    * on the driver like the reference's `joinXChainInfo` (coin-scoped, its
    * hardcoded `mdName = 'coin'`, Queries.hs:311,321):
    *   - outbound send (empty `to_acct`): the `coin.TRANSFER_XCHAIN` event
    *     at idx-1 of the same tx whose sender is `from_acct` carries
    *     [sender, receiver, amount, targetChain] (Queries.hs:308-317);
    *   - inbound receive (empty `from_acct`, not a coinbase row): the tx's
    *     first `pact.X_RESUME` event by idx with
    *     'coin.transfer-crosschain' carries [sourceChain, _, [sender,
    *     receiver, amount]] (Queries.hs:318-328, its LIMIT 1); it resolves
    *     the leg when its receiver is `to_acct`.
    * A page without legs runs no Spark job, one with legs one. Returns rows
    * in the page's order with the [[decorated]] columns (what
    * [[graft.server.Dto.transferDetail]] renders): `from_acct`/`to_acct`
    * resolved, `cross_chain` (either stored side empty), `target_chainid`,
    * `amount`, `block_time`, the stored sides as `from_stored`/`to_stored`,
    * the resolved other-chain account as `xchain_acct`, `block`, `token`. */
  def decoratePage(spark: SparkSession, tableDir: String, page: Seq[Row]): Seq[Row] = {
    if (page.isEmpty) return Seq.empty
    val times = graft.sources.BlockIndex.creationTimes(
      spark, s"$tableDir/blocks", page.map(_.getAs[String]("block")).distinct)
    val timed = page.filter(r => times.contains(r.getAs[String]("block")))
    def stored(r: Row, side: String) =
      Option(r.getAs[String](side)).filter(_.nonEmpty)
    val legs = timed.filter(r => stored(r, "from_acct").isEmpty || stored(r, "to_acct").isEmpty)
    val events = legEvents(spark, tableDir, legs)
    // the outbound event of the transfer at (block, requestkey, idx)
    val outbound = events.filter(_.getAs[String]("qualname") == TransferXChain)
      .map(e => (e.getAs[String]("block"), e.getAs[String]("requestkey"), e.getAs[Long]("idx") + 1) -> e)
      .toMap
    // the first inbound event of each (block, requestkey)
    val inbound = events.filter(_.getAs[String]("qualname") == XResume)
      .groupBy(e => (e.getAs[String]("block"), e.getAs[String]("requestkey")))
      .view.mapValues(_.minBy(_.getAs[Long]("idx"))).toMap
    val schema = decorated(page.head.schema)
    timed.map { r =>
      val (block, rk) = (r.getAs[String]("block"), r.getAs[String]("requestkey"))
      val (from, to) = (r.getAs[String]("from_acct"), r.getAs[String]("to_acct"))
      val coin = r.getAs[String]("modulename") == "coin"
      val out = outbound.get((block, rk, r.getAs[Long]("idx")))
        .filter(o => to == "" && coin && Option(o.getAs[String]("o_from")).contains(from))
      val in = inbound.get((block, rk))
        .filter(i => from == "" && rk != "cb" && coin && Option(i.getAs[String]("i_target")).contains(to))
      def o(c: String): Any = out.map(_.getAs[Any](c)).orNull
      def i(c: String): Any = in.map(_.getAs[Any](c)).orNull
      // SQL's three-valued OR over the stored sides being empty
      val empty = Seq(from, to).map(s => Option(s).map(_.isEmpty))
      val crossChain =
        if (empty.contains(Some(true))) true else if (empty.contains(None)) null else false
      new GenericRowWithSchema(Array(
        rk, r.getAs[Any]("chainid"), r.getAs[Any]("height"), r.getAs[Any]("idx"),
        if (from == "" && i("i_source") != null) i("i_source") else from,
        if (to == "" && o("o_target") != null) o("o_target") else to,
        // outbound first: the reference's `UNION ALL … LIMIT 1` order
        crossChain, Option(o("o_chainid")).getOrElse(i("i_chainid")),
        r.getAs[Any]("amount"), times(block), from, to,
        if (to == "") o("o_target") else if (from == "") i("i_source") else null,
        block, r.getAs[Any]("modulename")), schema): Row
    }
  }

  /** The x-chain events of `legs`' txs, one pinned read: every
    * `coin.TRANSFER_XCHAIN` and every `pact.X_RESUME` of
    * 'coin.transfer-crosschain' in their blocks and request keys, with the
    * sides and chain ids the lateral reads of each (`o_*` outbound, `i_*`
    * inbound). Each projection is guarded by its event kind, so a param is
    * cast only for the events that carry a chain id there: under ANSI mode
    * a cast of an account name would fail the read. */
  private def legEvents(spark: SparkSession, tableDir: String, legs: Seq[Row]): Seq[Row] =
    if (legs.isEmpty) Seq.empty
    else {
      def param(i: Int) = element_at(col("params"), i)
      val out = col("qualname") === TransferXChain
      graft.sources.Snapshots.readPinned(spark, s"$tableDir/events")
        .filter(col("block").isin(legs.map(_.getAs[String]("block")).distinct: _*) &&
                col("requestkey").isin(legs.map(_.getAs[String]("requestkey")).distinct: _*) &&
                col("qualname").isin(TransferXChain, XResume) &&
                (out || unq(param(2)) === "coin.transfer-crosschain"))
        .select(col("block"), col("requestkey"), col("idx"), col("qualname"),
                when(out, unq(param(1))).as("o_from"),
                when(out, unq(param(2))).as("o_target"),
                when(out, unq(param(4)).cast("long")).as("o_chainid"),
                when(!out, get_json_object(param(3), "$[0]")).as("i_source"),
                when(!out, get_json_object(param(3), "$[1]")).as("i_target"),
                when(!out, unq(param(1)).cast("long")).as("i_chainid"))
        .collect().toSeq
    }

  /** The columns of a decorated transfer, from those of the transfers
    * relation. */
  private def decorated(transfers: StructType): StructType = {
    def f(n: String) = transfers(n)
    StructType(Seq(
      f("requestkey"), f("chainid"), f("height"), f("idx"), f("from_acct"), f("to_acct"),
      StructField("cross_chain", BooleanType), StructField("target_chainid", LongType),
      f("amount"), StructField("block_time", TimestampType),
      f("from_acct").copy(name = "from_stored"), f("to_acct").copy(name = "to_stored"),
      StructField("xchain_acct", StringType), f("block"), f("modulename").copy(name = "token")))
  }
}
