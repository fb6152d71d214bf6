package graft

import org.apache.spark.sql.SparkSession

/** Shared hand-built wire fixture (shapes per chainweb-data
  * exec/Chainweb/Lookups.hs:141-160): one block, three txs (exec success,
  * cont failure, x-chain send), coinbase. */
object Fixtures {

  /** Ingests (header, payload) wire pairs into a fresh temporary table
    * directory through [[graft.streaming.Listen.ingestBatch]], the
    * production ingest path; returns the directory. */
  def ingest(spark: SparkSession, blocks: (String, String)*): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    graft.streaming.Listen.ingestBatch(spark,
      blocks.map { case (h, p) => s"""{"header":$h,"payload":$p}""" }.toDF("value"), dir)
    dir
  }

  val header1 =
    """{"chainId":0,"height":100,"hash":"blk1","parent":"blk0",
      |"creationTime":1600000000000000,"payloadHash":"ph1","nonce":"12345",
      |"target":"9876543210","weight":"1111","epochStart":1599999000000000,
      |"featureFlags":0,"powHash":"pow1"}""".stripMargin.replaceAll("\n", "")

  val payload1 =
    """{"payloadHash":"ph1",
      |"minerData":{"account":"miner1","publicKeys":["k1","k2"]},
      |"transactions":[
      | {"requestKey":"rk1",
      |  "cmd":{"payload":{"exec":{"code":"(coin.transfer \"alice\" \"bob\" 1.5)","data":{"note":1}}},
      |         "signers":[{"pubKey":"pkA","scheme":"ED25519","caps":[]},{"pubKey":"pkB","scheme":"ED25519","caps":[]}],
      |         "nonce":"n1",
      |         "meta":{"chainId":"0","sender":"alice","gasLimit":1000,"gasPrice":1.0e-5,"ttl":600,"creationTime":1600000000}},
      |  "sigs":[{"sig":"sigA"},{"sig":"sigB"}],
      |  "result":{"gas":5,"status":"success","data":{"ok":true},"txId":7,"logs":"lh1","continuation":null,
      |    "events":[
      |      {"name":"TRANSFER","module":{"namespace":null,"name":"coin"},"moduleHash":"mh1","params":["alice","bob",{"decimal":"1.5"}]},
      |      {"name":"TRANSFER","module":{"namespace":"ns1","name":"tok"},"moduleHash":"mh2","params":["alice","carol",{"int":2}]},
      |      {"name":"NOTIFY","module":{"namespace":null,"name":"coin"},"moduleHash":"mh1","params":["x"]}]}},
      | {"requestKey":"rk2",
      |  "cmd":{"payload":{"cont":{"pactId":"rk1","rollback":false,"step":1,"data":{},"proof":"pf"}},
      |         "signers":[{"pubKey":"pkC","scheme":"ED25519","caps":[]}],
      |         "nonce":"n2",
      |         "meta":{"chainId":"0","sender":"bob","gasLimit":500,"gasPrice":2.0e-5,"ttl":600,"creationTime":1600000060}},
      |  "sigs":[{"sig":"sigC"}],
      |  "result":{"gas":3,"status":"failure","data":{"error":"boom"},"txId":8,"logs":"lh2","continuation":null,
      |    "events":[
      |      {"name":"TRANSFER","module":{"namespace":null,"name":"coin"},"moduleHash":"mh1","params":["bob","dave","3.25"]}]}},
      | {"requestKey":"rk3",
      |  "cmd":{"payload":{"exec":{"code":"(coin.transfer-crosschain)","data":{}}},
      |         "signers":[{"pubKey":"pkD","scheme":"ED25519","caps":[]}],
      |         "nonce":"n3",
      |         "meta":{"chainId":"0","sender":"alice","gasLimit":800,"gasPrice":1.0e-5,"ttl":600,"creationTime":1600000120}},
      |  "sigs":[{"sig":"sigD"}],
      |  "result":{"gas":7,"status":"success","data":"ok","txId":9,"logs":"lh3","continuation":null,
      |    "events":[
      |      {"name":"TRANSFER_XCHAIN","module":{"namespace":null,"name":"coin"},"moduleHash":"mh1","params":["alice","eve",{"decimal":"4.5"},"3"]},
      |      {"name":"TRANSFER","module":{"namespace":null,"name":"coin"},"moduleHash":"mh1","params":["alice","",{"decimal":"4.5"}]}]}}],
      |"coinbase":{"gas":0,"status":"success",
      |  "events":[{"name":"TRANSFER","module":{"namespace":null,"name":"coin"},"moduleHash":"mh1","params":["","miner1",0.98]}]}}
      |""".stripMargin.replaceAll("\n", "")

  /** header+payload drop-zone envelope (streaming ingest input). */
  val envelope1: String = s"""{"header":$header1,"payload":$payload1}"""

  /** Second block, on the TARGET chain of rk3's cross-chain send: the
    * inbound receive (rk4, a continuation of rk3) whose TRANSFER has an
    * empty `from_acct`, resolved via the tx's `pact.X_RESUME` event
    * (Queries.hs:318-328 — params [sourceChain, 'coin.transfer-crosschain',
    * [sender, receiver, amount]]). rk4 also carries a signer/sig COUNT
    * MISMATCH (2 signers, 1 sig) to pin the zipWith3 truncation semantics
    * (Lookups.hs:267-279). */
  val header2 =
    """{"chainId":3,"height":101,"hash":"blk2","parent":"blk1x",
      |"creationTime":1600000200000000,"payloadHash":"ph2","nonce":"777",
      |"target":"123","weight":"2","epochStart":1599999000000000,
      |"featureFlags":0,"powHash":"pow2"}""".stripMargin.replaceAll("\n", "")

  /** Parametrized minimal header for fetch/fill tests: the shape of
    * [[header1]] at an arbitrary (chain, height) with linked hashes. */
  def mkHeader(chain: Long, height: Long): String = {
    val h = s"c${chain}h$height"
    s"""{"chainId":$chain,"height":$height,"hash":"blk-$h","parent":"blk-c${chain}h${height - 1}",""" +
      s""""creationTime":${1600000000000000L + height * 30000000L},"payloadHash":"ph-$h","nonce":"1",""" +
      s""""target":"1","weight":"1","epochStart":1599999000000000,"featureFlags":0,"powHash":"pow1"}"""
  }

  /** Parametrized minimal payload (no user txs, one coinbase TRANSFER) —
    * enough to land rows in blocks/minerkeys/events/transfers. */
  def mkPayload(chain: Long, height: Long): String = {
    val h = s"c${chain}h$height"
    s"""{"payloadHash":"ph-$h","minerData":{"account":"miner1","publicKeys":["k1"]},""" +
      s""""transactions":[],"coinbase":{"gas":0,"status":"success","events":[""" +
      s"""{"name":"TRANSFER","module":{"namespace":null,"name":"coin"},"moduleHash":"mh1","params":["","miner1",0.98]}]}}"""
  }

  /** A `blocksBetween` response item (Lookups.hs:116-127 wire shape). */
  def mkItem(chain: Long, height: Long): String =
    s"""{"header":${mkHeader(chain, height)},"payloadWithOutputs":${mkPayload(chain, height)}}"""

  val payload2 =
    """{"payloadHash":"ph2",
      |"minerData":{"account":"miner2","publicKeys":["k3"]},
      |"transactions":[
      | {"requestKey":"rk4",
      |  "cmd":{"payload":{"cont":{"pactId":"rk3","rollback":false,"step":1,"data":{},"proof":"pf2"}},
      |         "signers":[{"pubKey":"pkE","scheme":"ED25519","caps":[]},{"pubKey":"pkF","scheme":"ED25519","caps":[]}],
      |         "nonce":"n4",
      |         "meta":{"chainId":"3","sender":"eve","gasLimit":500,"gasPrice":1.0e-5,"ttl":600,"creationTime":1600000200}},
      |  "sigs":[{"sig":"sigE"}],
      |  "result":{"gas":4,"status":"success","data":"ok","txId":10,"logs":"lh4","continuation":null,
      |    "events":[
      |      {"name":"X_RESUME","module":{"namespace":null,"name":"pact"},"moduleHash":"mh3","params":["0","coin.transfer-crosschain",["alice","eve","4.5"]]},
      |      {"name":"TRANSFER","module":{"namespace":null,"name":"coin"},"moduleHash":"mh1","params":["","eve",{"decimal":"4.5"}]}]}}],
      |"coinbase":{"gas":0,"status":"success",
      |  "events":[{"name":"TRANSFER","module":{"namespace":null,"name":"coin"},"moduleHash":"mh1","params":["","miner2",0.98]}]}}
      |""".stripMargin.replaceAll("\n", "")
}
