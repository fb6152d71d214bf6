package graft

import java.nio.file.Files

import graft.operators.AccountHistory
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end flagship slice (SURVEY §7.1.4): ingest fixture → 6 tables →
  * account history with ordering, decoration, and x-chain resolution. */
class AccountHistorySpec extends AnyFunSuite with SparkSpec {

  test("alice's coin history: ordering, block time, x-chain target") {
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1)

    val hist = AccountHistory.transfersOf(spark, dir, "alice").collect()
    // coin-module rows touching alice: rk1 alice→bob 1.5, rk3 x-chain 4.5
    // (the ns1.tok row is another token; rk2 is bob→dave). Same height →
    // requestkey DESC puts rk3 first (O1 cursor order).
    assert(hist.map(_.getAs[String]("requestkey")).toSeq === Seq("rk3", "rk1"))

    val rk1 = hist(1)
    assert(rk1.getAs[String]("to_acct") === "bob")
    assert(!rk1.getAs[Boolean]("cross_chain"))
    assert(rk1.getAs[java.sql.Timestamp]("block_time") != null) // J1 decoration

    val rk3 = hist(0)
    assert(rk3.getAs[Boolean]("cross_chain"))
    assert(rk3.getAs[String]("to_acct") === "eve")     // resolved via J3
    assert(rk3.getAs[Long]("target_chainid") === 3L)
    assert(rk3.getAs[java.math.BigDecimal]("amount").doubleValue === 4.5)

    // tx detail on the same tables: events + signers as sorted arrays
    val det = graft.operators.TxDetail.lookup(spark, dir, "rk1").collect()
    assert(det.length === 1) // one (requestkey, block) copy — no orphans here
    val evs = det.head.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("events")
    assert(evs.map(_.getAs[Long]("idx")).toSeq === Seq(0L, 1L, 2L))
    assert(evs.head.getAs[String]("qualname") === "coin.TRANSFER")
    val sgs = det.head.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("signers")
    assert(sgs.map(_.getAs[String]("pubkey")).toSeq === Seq("pkA", "pkB"))

    // continuation history: rk2 (cont) chains to rk1 (exec); the chain
    // code is the first non-null walking up (rk1's).
    val ch = graft.operators.ContHistory.chains(
      graft.sources.Snapshots.readPinned(spark, s"$dir/transactions")).collect()
    assert(ch.length === 1)
    assert(ch.head.getAs[String]("requestkey") === "rk2")
    assert(ch.head.getAs[scala.collection.Seq[String]]("chain").toSeq === Seq("rk2", "rk1"))
    assert(ch.head.getAs[String]("chain_code").startsWith("(coin.transfer"))
  }

  test("inbound x-chain receive resolves sender via pact.X_RESUME") {
    import spark.implicits._
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1, Fixtures.header2 -> Fixtures.payload2)

    // eve's history: only the inbound receive — the outbound leg (rk3,
    // to_acct='') indexes under ALICE, exactly like the reference's
    // from/to_acct scans (the lateral only decorates, Queries.hs:251-270).
    val hist = AccountHistory.transfersOf(spark, dir, "eve").collect()
    assert(hist.map(_.getAs[String]("requestkey")).toSeq === Seq("rk4"))

    val rk4 = hist(0) // inbound: from_acct was '', resolved via X_RESUME
    assert(rk4.getAs[String]("from_acct") === "alice")
    assert(rk4.getAs[String]("to_acct") === "eve")
    assert(rk4.getAs[Boolean]("cross_chain"))
    assert(rk4.getAs[Long]("target_chainid") === 0L) // source chain

    // the outbound leg decorates in alice's history (resolved to eve)
    val alice = AccountHistory.transfersOf(spark, dir, "alice").collect()
    val rk3 = alice.find(_.getAs[String]("requestkey") == "rk3").get
    assert(rk3.getAs[Boolean]("cross_chain"))
    assert(rk3.getAs[String]("to_acct") === "eve")
    assert(rk3.getAs[Long]("target_chainid") === 3L)

    // signer/sig count mismatch truncates to the shorter side (zipWith3):
    // rk4 has 2 signers but 1 sig -> exactly one row, no null phantoms.
    val sg = spark.read.parquet(s"$dir/signers")
      .filter($"requestkey" === "rk4").collect()
    assert(sg.length === 1)
    assert(sg.head.getAs[String]("pubkey") === "pkE")
    assert(sg.head.getAs[String]("sig") === "sigE")

    // pow-hash byte-reverse (Worker.hs:128-129): base64url "pow1" decodes
    // to bytes a6 8c 35 -> reversed lowercase hex.
    val ph = spark.read.parquet(s"$dir/blocks")
      .filter($"hash" === "blk1").select("powhash").collect().head.getString(0)
    assert(ph === "358ca6")
  }

  /** blk0t: an orphan twin of blk1 at the same height, with a hash that
    * sorts before it, carrying the same txs except that rk1 failed there. */
  private def failedTwin(json: String) = json.replace("\"hash\":\"blk1\"", "\"hash\":\"blk0t\"")
    .replace("\"payloadHash\":\"ph1\"", "\"payloadHash\":\"ph0t\"")
    .replace("\"status\":\"success\",\"data\":{\"ok\":true}", "\"status\":\"failure\",\"data\":{\"ok\":true}")

  private val header3 = Fixtures.header2.replace("\"hash\":\"blk2\"", "\"hash\":\"blk3\"")
    .replace("\"height\":101", "\"height\":102").replace("\"payloadHash\":\"ph2\"", "\"payloadHash\":\"ph3\"")

  /** Block 3: rk5 has no events and no signers; rk6 receives from chain 0
    * but its first X_RESUME names another receiver; rk7 sends cross-chain
    * with a TRANSFER_XCHAIN whose sender is not the transfer's. */
  private val payload3 = {
    def tx(rk: String, payload: String, signers: String, sigs: String, events: String) =
      s"""{"requestKey":"$rk","cmd":{"payload":$payload,"signers":[$signers],"nonce":"n-$rk",""" +
      s""""meta":{"chainId":"3","sender":"eve","gasLimit":500,"gasPrice":1.0e-5,"ttl":600,"creationTime":1600000300}},""" +
      s""""sigs":[$sigs],"result":{"gas":4,"status":"success","data":"ok","txId":11,"logs":"l-$rk",""" +
      s""""continuation":null,"events":[$events]}}"""
    def ev(module: String, name: String, params: String) =
      s"""{"name":"$name","module":{"namespace":null,"name":"$module"},"moduleHash":"mh","params":$params}"""
    val signer = """{"pubKey":"pkG","scheme":"ED25519","caps":[]}"""
    val resume = """{"cont":{"pactId":"rk3","rollback":false,"step":1,"data":{},"proof":"pf3"}}"""
    val txs = Seq(
      tx("rk5", """{"exec":{"code":"(free.noop)","data":{}}}""", "", "", ""),
      tx("rk6", resume, signer, """{"sig":"sigG"}""", Seq(
        ev("pact", "X_RESUME", """["0","coin.transfer-crosschain",["alice","zed","1.0"]]"""),
        ev("pact", "X_RESUME", """["0","coin.transfer-crosschain",["alice","eve","2.0"]]"""),
        ev("coin", "TRANSFER", """["","eve",{"decimal":"2.0"}]""")).mkString(",")),
      tx("rk7", """{"exec":{"code":"(coin.transfer-crosschain)","data":{}}}""", signer, """{"sig":"sigH"}""", Seq(
        ev("coin", "TRANSFER_XCHAIN", """["bob","eve",{"decimal":"1.0"},"2"]"""),
        ev("coin", "TRANSFER", """["alice","",{"decimal":"1.0"}]""")).mkString(",")))
    s"""{"payloadHash":"ph3","minerData":{"account":"miner2","publicKeys":["k3"]},""" +
    s""""transactions":[${txs.mkString(",")}],"coinbase":{"gas":0,"status":"success","events":[""" +
    ev("coin", "TRANSFER", """["","miner3",0.98]""") + "]}}"
  }

  private def edgeChain(): String = Fixtures.ingest(spark,
    Fixtures.header1 -> Fixtures.payload1, failedTwin(Fixtures.header1) -> failedTwin(Fixtures.payload1),
    Fixtures.header2 -> Fixtures.payload2, header3 -> payload3)

  test("TxDetail rows equal the join plan's for every request key: orphan " +
       "twins, continuations, failed txs, a tx without events or signers, " +
       "an unknown key") {
    import graft.operators.TxDetail
    val dir = edgeChain()
    val keys = graft.sources.Snapshots.readPinned(spark, s"$dir/transactions")
      .select("requestkey").distinct().collect().map(_.getString(0)).sorted.toSeq :+ "unknown"
    assert(keys === Seq("rk1", "rk2", "rk3", "rk4", "rk5", "rk6", "rk7", "unknown"))
    for (rk <- keys) {
      val (all, one) = (TxDetail.lookup(spark, dir, rk), TxDetail.lookupOne(spark, dir, rk))
      assert(all.schema.catalogString === JoinPlanOracles.lookup(spark, dir, rk).schema.catalogString)
      assert(all.collect().toSeq === JoinPlanOracles.lookup(spark, dir, rk).collect().toSeq, rk)
      assert(one.collect().toSeq === JoinPlanOracles.lookupOne(spark, dir, rk).collect().toSeq, rk)
    }
    def blocks(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getAs[String]("block")).toSeq
    assert(blocks(TxDetail.lookup(spark, dir, "rk1")) === Seq("blk0t", "blk1"))
    assert(blocks(TxDetail.lookupOne(spark, dir, "rk1")) === Seq("blk1")) // the successful copy
    val rk5 = TxDetail.lookup(spark, dir, "rk5").collect().head
    assert(rk5.isNullAt(rk5.fieldIndex("events")) && rk5.isNullAt(rk5.fieldIndex("signers")))
    assert(TxDetail.lookup(spark, dir, "unknown").collect().isEmpty)
  }

  test("decoratePage equals the join plan's decoration on every page of " +
       "every account with a cross-chain leg") {
    import graft.plans.BoundedScan
    val dir = edgeChain()
    val legs = graft.sources.Snapshots.readPinned(spark, s"$dir/transfers")
      .filter(col("from_acct") === "" || col("to_acct") === "").collect()
    val accounts = legs.flatMap(r => Seq(r.getAs[String]("from_acct"), r.getAs[String]("to_acct")))
      .filter(_.nonEmpty).distinct.sorted.toSeq
    assert(accounts === Seq("alice", "eve", "miner1", "miner2", "miner3"))
    val spec = BoundedScan.CursorSpec(
      Seq("height" -> true, "requestkey" -> true, "idx" -> false, "block" -> true))
    val resolved = scala.collection.mutable.Set.empty[String]
    for (acct <- accounts; limit <- Seq(1, 2, 3)) {
      var cont: Option[BoundedScan.Continuation] = None
      var pages = 0
      do {
        val (page, next) = BoundedScan.performBoundedScan(AccountHistory.source(spark, dir, acct),
          spec, AccountHistory.predicate("coin"), 1000, limit, cont)
        val got = AccountHistory.decoratePage(spark, dir, page)
        assert(got === JoinPlanOracles.decoratePage(spark, dir, page), s"$acct limit=$limit page $pages")
        got.filter(_.getAs[String]("xchain_acct") != null).foreach(r => resolved += r.getAs[String]("requestkey"))
        cont = next
        pages += 1
      } while (cont.isDefined && pages < 20)
    }
    // outbound (rk3) and inbound (rk4) legs resolve; rk6's first X_RESUME
    // and rk7's TRANSFER_XCHAIN name other accounts, coinbase rows never
    assert(resolved === Set("rk3", "rk4"))
  }

  test("schema check + maintenance pass over ingested tables") {
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1)

    // check-schema parity: derived contract matches what was written
    assert(graft.ingest.Schemas.check(spark, dir) === Map.empty)

    val out = Files.createTempDirectory("graft_maint_out").toString
    val rep = graft.plans.Maintenance.run(spark, dir, out,
      genesis = Map(0L -> 100L)) // fixture block IS height 100 → no gaps
    assert(rep.gapChunks === 0)
    assert(rep.richlistRows > 0)
    assert(rep.totalSupply.doubleValue === 0.98) // one coinbase mint
    // ledger sanity: bob got 1.5 from alice, sent 3.25 to dave
    val bal = graft.plans.Maintenance.balancesFromTransfers(
      spark.read.parquet(s"$dir/transfers")).collect()
      .map(r => r.getString(0) -> r.getDecimal(1).doubleValue).toMap
    assert(bal("bob") === 1.5 - 3.25)
    assert(bal("dave") === 3.25)
  }

  test("height/date conversion round-trips") {
    import graft.operators.ChainTime
    assert(ChainTime.dateToHeight(ChainTime.heightToDate(852054L)) === 852054L)
    assert(ChainTime.dateToHeight(ChainTime.Genesis) === 0L)
    assert(ChainTime.heightToDate(1).getEpochSecond
      - ChainTime.heightToDate(0).getEpochSecond === 30L)
  }
}
