package graft

import java.nio.file.Files

import graft.operators.AccountHistory
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
