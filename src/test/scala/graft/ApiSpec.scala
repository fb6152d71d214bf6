package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.server.Api
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Serving-layer contract: paging /txs/events with the Graft-Next
  * continuation header enumerates exactly the unbounded ordered result —
  * the reference's Chainweb-Next behavior (Server.hs:239-246,484-491). */
class ApiSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val client = HttpClient.newHttpClient()

  private def get(url: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url)).build(),
                HttpResponse.BodyHandlers.ofString())

  private def getH(url: String, header: (String, String)): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url))
                  .header(header._1, header._2).build(),
                HttpResponse.BodyHandlers.ofString())

  test("bounded event search pages to completion via Graft-Next") {
    val api = new Api(spark, sf, 0)
    api.start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      val ids = scala.collection.mutable.ArrayBuffer[Long]()
      var url = s"$base/txs/events?search=click&limit=37"
      var done = false
      var pages = 0
      while (!done) {
        val resp = get(url)
        assert(resp.statusCode() === 200)
        """"event_id":(\d+)""".r.findAllMatchIn(resp.body())
          .foreach(m => ids += m.group(1).toLong)
        val next = resp.headers().firstValue("Graft-Next")
        if (next.isPresent) {
          url = s"$base/txs/events?search=click&limit=37&next=${next.get}"
          pages += 1
          assert(pages < 50, "runaway pagination")
        } else done = true
      }
      val expected = Tables.events(spark, sf)
        .filter(col("event_type") === "click")
        .orderBy(col("user_id").desc, col("event_id").desc)
        .select("event_id").collect().map(_.getLong(0)).toSeq
      assert(ids.toSeq === expected)
      assert(pages >= 2) // budget actually forced pagination

      val recent = get(s"$base/txs/recent")
      assert(recent.statusCode() === 200)
      assert(""""event_id":""".r.findAllIn(recent.body()).length === 10)

      val stats = get(s"$base/stats")
      assert(stats.body().contains("\"transactionCount\":1000"))
    } finally api.stop()
  }

  test("Chainweb-Execution-Strategy header selects the unbounded engine; " +
       "both strategies enumerate identical pages") {
    val api = new Api(spark, sf, 0)
    api.start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      // page the same query under each strategy and compare page-by-page
      def pagesOf(strategy: String): Seq[Seq[Long]] = {
        val out = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
        var url = s"$base/txs/events?search=click&limit=37"
        var done = false
        while (!done) {
          val resp = getH(url, "Chainweb-Execution-Strategy" -> strategy)
          assert(resp.statusCode() === 200)
          // the bounded engine reports its scan budget; unbounded has none
          assert(resp.headers().firstValue("Graft-Scan-Limit").isPresent
                   === (strategy == "Bounded"))
          out += """"event_id":(\d+)""".r.findAllMatchIn(resp.body())
            .map(_.group(1).toLong).toSeq
          val next = resp.headers().firstValue("Graft-Next")
          if (next.isPresent) {
            url = s"$base/txs/events?search=click&limit=37&next=${next.get}"
            assert(out.length < 50, "runaway pagination")
          } else done = true
        }
        out.toSeq
      }
      val bounded = pagesOf("Bounded")
      val unbounded = pagesOf("Unbounded")
      // every unbounded page is full-size by construction; the bounded
      // engine may emit short scan-budget pages — the CONTENT must agree
      assert(unbounded.flatten === bounded.flatten)
      assert(unbounded.init.forall(_.length == 37))
      assert(unbounded.length >= 2) // the toggle actually paged

      // offset-param compatibility on the unbounded path (runUnbounded's
      // OFFSET arm) — page 2 via offset equals page 2 via continuation
      val viaOffset = getH(s"$base/txs/events?search=click&limit=37&offset=37",
                           "Chainweb-Execution-Strategy" -> "Unbounded")
      assert(""""event_id":(\d+)""".r.findAllMatchIn(viaOffset.body())
               .map(_.group(1).toLong).toSeq === unbounded(1))

      // the reference 400s on unknown strategy values (Server.hs:258-260)
      val bad = getH(s"$base/txs/events?search=click",
                     "Chainweb-Execution-Strategy" -> "Sideways")
      assert(bad.statusCode() === 400)
      assert(bad.body().contains("Unknown Chainweb-Execution-Strategy"))
      // and on next+offset together (Server.hs:276 mkContinuation)
      val clash = get(s"$base/txs/events?search=click&offset=1&next=MDs")
      assert(clash.statusCode() === 400)
    } finally api.stop()
  }

  test("/txs/search pages a code search over ingested tables to completion") {
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1, Fixtures.header2 -> Fixtures.payload2)

    val api = new Api(spark, sf, 0, tablesDir = Some(dir))
    api.start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      // "coin.transfer" appears in rk1's code AND — via the continuation
      // chain — in rk2/rk4 (conts with null code inherit the initiating
      // exec's); rk3's code is "(coin.transfer-crosschain)". Everything
      // matches; page with limit=1 to force Graft-Next continuations.
      val keys = scala.collection.mutable.ArrayBuffer[String]()
      var url = s"$base/txs/search?search=coin.transfer&limit=1"
      var pages = 0
      var done = false
      while (!done) {
        val resp = get(url)
        assert(resp.statusCode() === 200)
        """"requestKey":"(rk\d)"""".r.findAllMatchIn(resp.body())
          .foreach(m => keys += m.group(1))
        val next = resp.headers().firstValue("Graft-Next")
        if (next.isPresent) {
          url = s"$base/txs/search?search=coin.transfer&limit=1&next=${next.get}"
          pages += 1
          assert(pages < 20, "runaway pagination")
        } else done = true
      }
      // cursor order: height DESC, requestkey DESC
      assert(keys.toSeq === Seq("rk4", "rk3", "rk2", "rk1"))
      assert(pages >= 3) // limit=1 forced one match per page

      // continuation decoration on a cont row: rk2 chains to rk1
      val one = get(s"$base/txs/search?search=coin.transfer%20%22alice%22&limit=10")
      assert(one.statusCode() === 200)
      assert(one.body().contains("\"requestKey\":\"rk2\"")) // matched via chain code
      assert(one.body().contains("\"initialCode\":\"(coin.transfer"))

      // height-range guard prunes to block 2 only
      val ranged = get(s"$base/txs/search?search=coin&minheight=101")
      assert(""""requestKey":"(rk\d)"""".r.findAllMatchIn(ranged.body())
        .map(_.group(1)).toSet === Set("rk4"))

      // missing search string → error (Server.hs:308 throw404)
      assert(get(s"$base/txs/search?limit=5").statusCode() === 404)

      // unbounded strategy on the tx path: limit=1 paging enumerates the
      // SAME keys in the same order as the bounded engine above
      val ukeys = scala.collection.mutable.ArrayBuffer[String]()
      var uurl = s"$base/txs/search?search=coin.transfer&limit=1"
      var udone = false
      while (!udone) {
        val resp = getH(uurl, "Chainweb-Execution-Strategy" -> "Unbounded")
        assert(resp.statusCode() === 200)
        assert(!resp.headers().firstValue("Graft-Scan-Limit").isPresent)
        """"requestKey":"(rk\d)"""".r.findAllMatchIn(resp.body())
          .foreach(m => ukeys += m.group(1))
        val next = resp.headers().firstValue("Graft-Next")
        if (next.isPresent) {
          uurl = s"$base/txs/search?search=coin.transfer&limit=1&next=${next.get}"
          assert(ukeys.length < 20, "runaway pagination")
        } else udone = true
      }
      assert(ukeys.toSeq === keys.toSeq)
    } finally api.stop()
  }

  /** blk1t: an orphan twin of blk1 at the same height carrying the same
    * txs — rk1 (exec), rk2 (its continuation) and rk3. */
  private def twin(json: String) = json.replace("\"hash\":\"blk1\"", "\"hash\":\"blk1t\"")
    .replace("\"payloadHash\":\"ph1\"", "\"payloadHash\":\"ph1t\"")

  test("/txs/search returns one row per block copy when a continuation " +
       "and its block's orphan twin share request keys") {
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1,
      twin(Fixtures.header1) -> twin(Fixtures.payload1))
    val chains = graft.operators.ContHistory.chains(
      graft.sources.Snapshots.readPinned(spark, s"$dir/transactions")).collect()
      .map(r => r.getAs[String]("requestkey") -> r.getAs[scala.collection.Seq[String]]("chain").toSeq)
    assert(chains.toSeq === Seq("rk2" -> Seq("rk2", "rk1")))

    val api = new Api(spark, sf, 0, tablesDir = Some(dir))
    api.start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      val rowRe = """"blockHash":"([^"]+)","creationTime":[^,]*,"requestKey":"([^"]+)"""".r
      val rows = scala.collection.mutable.ArrayBuffer[(String, String)]()
      var url = s"$base/txs/search?search=coin.transfer&limit=2"
      var done = false
      while (!done) {
        val resp = get(url)
        assert(resp.statusCode() === 200)
        rowRe.findAllMatchIn(resp.body()).foreach(m => rows += (m.group(2) -> m.group(1)))
        val next = resp.headers().firstValue("Graft-Next")
        if (next.isPresent) {
          url = s"$base/txs/search?search=coin.transfer&limit=2&next=${next.get}"
          assert(rows.length < 40, "runaway pagination")
        } else done = true
      }
      // cursor order: height DESC, requestkey DESC, block DESC
      assert(rows.toSeq === (for (rk <- Seq("rk3", "rk2", "rk1");
                                  blk <- Seq("blk1t", "blk1")) yield rk -> blk))
    } finally api.stop()
  }

  test("search, recent and detail see txs ingested after the server's first search") {
    import spark.implicits._
    def ingest(dir: String, h: String, p: String): Unit =
      graft.streaming.Listen.ingestBatch(spark,
        Seq(s"""{"header":$h,"payload":$p}""").toDF("value"), dir): Unit
    def keys(body: String): Set[String] =
      """"requestKey":"(rk\d)"""".r.findAllMatchIn(body).map(_.group(1)).toSet
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1)
    val api = new Api(spark, sf, 0, tablesDir = Some(dir))
    api.start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      assert(keys(get(s"$base/txs/search?search=coin").body()) === Set("rk1", "rk2", "rk3"))

      ingest(dir, Fixtures.header2, Fixtures.payload2)
      assert(keys(get(s"$base/txs/search?search=coin").body()) === Set("rk1", "rk2", "rk3", "rk4"))
      assert(keys(get(s"$base/txs/recent").body()).contains("rk4"))
      val rk4 = get(s"$base/txs/tx/rk4")
      assert(rk4.statusCode() === 200)
      assert(rk4.body().contains("\"initialCode\":\"(coin.transfer-crosschain)\""), rk4.body())

      // an orphan twin of block 1 repeats rk2: one detail row per copy,
      // each decorated with rk2's history, none multiplied by the twin
      ingest(dir, twin(Fixtures.header1), twin(Fixtures.payload1))
      val rk2 = get(s"$base/txs/txs/rk2").body()
      assert(""""blockHash":"(blk1t?)"""".r.findAllMatchIn(rk2).map(_.group(1)).toSeq.sorted ===
        Seq("blk1", "blk1t"), rk2)
      def count(lit: String) = java.util.regex.Pattern.quote(lit).r.findAllIn(rk2).length
      assert(count("\"initialCode\":\"(coin.transfer \\\"alice") === 2, rk2)
      assert(count("\"previousSteps\":[\"rk2\",\"rk1\"]") === 2, rk2)
    } finally api.stop()
  }

  test("the tx-search source is built once per committed version, and the " +
       "memo keeps at most HandleWindow versions of it") {
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1)
    val tx = s"$dir/transactions"
    val api = new Api(spark, sf, 0, tablesDir = Some(dir))
    api.start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      (1 to graft.sources.Snapshots.HandleWindow + 3).foreach { _ =>
        graft.sources.Snapshots.commit(spark, tx): Unit
        assert(get(s"$base/txs/search?search=coin").statusCode() === 200)
      }
      val live = graft.sources.Snapshots.cachedHandleCount(tx, graft.sources.Snapshots.TxSearchSource)
      assert(live >= 1 && live <= graft.sources.Snapshots.HandleWindow, s"$live tx-search sources")
    } finally api.stop()
    assert(graft.operators.TxSearch.source(spark, dir) eq graft.operators.TxSearch.source(spark, dir))
  }

  test("stop() releases the snapshot memo entries and block index of its tables") {
    import graft.sources.{BlockIndex, Snapshots}
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1)
    val api = new Api(spark, sf, 0, tablesDir = Some(dir))
    api.start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      Seq("/txs/search?search=coin", "/txs/events?search=TRANSFER", "/coins")
        .foreach(u => assert(get(base + u).statusCode() === 200, u))
      assert(Snapshots.cachedHandleCount(s"$dir/transactions", Snapshots.TxSearchSource) === 1)
      assert(Snapshots.cachedHandleCount(s"$dir/events") === 1)
      assert(BlockIndex.isHeld(s"$dir/blocks"))
    } finally api.stop()
    for (t <- Seq("blocks", "events", "transactions"); k <- Seq(Snapshots.RawRead, Snapshots.TxSearchSource))
      assert(Snapshots.cachedHandleCount(s"$dir/$t", k) === 0, s"$t $k")
    assert(!BlockIndex.isHeld(s"$dir/blocks"))
  }

  test("reads before the first ingest answer 404 (stats: nulls) and create nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_api_empty").toString
    val api = new Api(spark, sf, 0, tablesDir = Some(dir))
    api.start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      for (u <- Seq("/coins", "/txs/recent", "/txs/events?search=x", "/txs/search?search=x",
                    "/txs/account/alice", "/txs/tx/rk1")) {
        val r = get(base + u)
        assert(r.statusCode() === 404, s"$u: ${r.body()}")
        assert(r.body() === s"""{"error":"${Api.NotIngestedMsg}"}""", u)
      }
      val stats = get(s"$base/stats")
      assert(stats.statusCode() === 200)
      assert(stats.body() === """{"transactionCount":null,"coinsInCirculation":null}""")
    } finally api.stop()
    assert(new java.io.File(dir).list().isEmpty, new java.io.File(dir).list().mkString(","))
  }

  /** Every object of a JSON array body, as field -> text. */
  private def objects(body: String): Seq[Map[String, String]] = {
    import scala.jdk.CollectionConverters._
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(body).elements().asScala.toSeq
      .map(o => o.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
  }

  /** blocks.creationtime of every block in the tables, rendered as the API does. */
  private def blockTimes(dir: String): Map[String, String] =
    spark.read.parquet(s"$dir/blocks").select("hash", "creationtime").collect()
      .map(r => r.getString(0) -> r.getTimestamp(1).toInstant.toString).toMap

  test("every Spark job of a request runs under its job group; a page whose " +
       "block times all hit the index is one job, /coins none") {
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1)
    val api = new Api(spark, sf, 0, tablesDir = Some(dir))
    api.start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      val urls = Seq("/txs/events?search=TRANSFER", "/txs/account/bob", "/coins")
      urls.foreach(u => assert(get(base + u).statusCode() === 200, u)) // warm the memo and index
      def jobsOf(u: String) = {
        var body = ""
        val jobs = JobWindow(spark) { body = get(base + u).body() }
        (jobs, body)
      }
      val (ev1, evBody) = jobsOf(urls(0))
      val (ev2, _) = jobsOf(urls(0))
      assert(evBody.contains("\"blockHash\":\"blk1\""), evBody)
      assert(ev1.size === 1, ev1)
      for ((g, d, i) <- ev1 ++ ev2) {
        assert(g != null && g.startsWith("graft-request-"), g)
        assert(d === "GET /txs/events")
        assert(i === "true")
      }
      assert(ev1.head._1 != ev2.head._1, "each request has its own group")
      // bob's transfers have both sides stored: no cross-chain leg to resolve
      val (acct, acctBody) = jobsOf(urls(1))
      assert(acctBody.contains("\"requestKey\":\"rk1\""), acctBody)
      assert(!acctBody.contains("Account\":\"\""), acctBody)
      assert(acct.size === 1, acct)
      assert(acct.forall(_._2 == "GET /txs/account/bob"), acct)
      assert(jobsOf(urls(2))._1 === Nil)
    } finally api.stop()
  }

  test("event pages carry each block's creationtime: orphan twins, a block " +
       "ingested after the first request, and a hash outside the index") {
    import spark.implicits._
    // a twin of block 1 minted 99 s later, so the two copies' times differ
    def lateTwin(json: String) = twin(json).replace("\"creationTime\":1600000000000000",
                                                    "\"creationTime\":1600000099000000")
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1,
      lateTwin(Fixtures.header1) -> twin(Fixtures.payload1))
    val api = new Api(spark, sf, 0, tablesDir = Some(dir))
    api.start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      def checkPage(): Seq[String] = {
        val times = blockTimes(dir)
        val rows = objects(get(s"$base/txs/events?search=TRANSFER&limit=100").body())
        rows.foreach(r => assert(r("blockTime") === times(r("blockHash")), r))
        rows.map(_("blockHash")).distinct
      }
      assert(checkPage().toSet === Set("blk1", "blk1t"))
      assert(blockTimes(dir)("blk1") != blockTimes(dir)("blk1t"))

      // a block committed after the server's first request: the index
      // follows the new blocks version, and /coins sees its height
      graft.streaming.Listen.ingestBatch(spark, Seq(
        s"""{"header":${Fixtures.header2},"payload":${Fixtures.payload2}}""").toDF("value"), dir): Unit
      assert(checkPage().toSet === Set("blk1", "blk1t", "blk2"))
      val blocks = s"$dir/blocks"
      assert(graft.sources.BlockIndex.current(spark, blocks).get.blocks.keySet ===
        Set("blk1", "blk1t", "blk2"))
      val asof = graft.operators.Coins.GenesisEpochSec + 86400L * 30
      assert(get(s"$base/coins?asof=$asof").body() ===
        graft.operators.Coins.circulatingCoins(101L, asof).toString)

      // an index bounded to the newest block misses height 100: those
      // times come from the pinned-table lookup, one more job (once the
      // first lookup has opened the blocks handle)
      assert(graft.sources.BlockIndex.rebuild(spark, blocks, 1).blocks.keySet === Set("blk2"))
      assert(checkPage().toSet === Set("blk1", "blk1t", "blk2"))
      val jobs = JobWindow(spark)(assert(checkPage().toSet === Set("blk1", "blk1t", "blk2")))
      assert(jobs.count(_._2 == "GET /txs/events") === 2, jobs)
    } finally api.stop()
  }

  /** Status line of a raw request, for targets `java.net.URI` refuses. */
  private def rawStatus(port: Int, target: String): Int = {
    val sock = new java.net.Socket("localhost", port)
    try {
      sock.getOutputStream.write(
        s"GET $target HTTP/1.1\r\nHost: localhost\r\nConnection: close\r\n\r\n"
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      new java.io.BufferedReader(new java.io.InputStreamReader(sock.getInputStream))
        .readLine().split(" ")(1).toInt
    } finally sock.close()
  }

  test("client errors are 4xx: no search string, a bad asof, malformed " +
       "percent-encoding, an unwritten richlist") {
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1)
    val maint = java.nio.file.Files.createTempDirectory("graft_api_nomaint").toString
    val api = new Api(spark, sf, 0, tablesDir = Some(dir), maintDir = Some(maint))
    api.start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      assert(get(s"$base/txs/search?limit=5").statusCode() === 404) // throw404
      assert(get(s"$base/coins?asof=zzz").statusCode() === 400)
      // the server decodes "%25zz" to "%zz", which is no valid escape
      assert(get(s"$base/txs/account/%25zz").statusCode() === 400)
      assert(get(s"$base/txs/tx/%25zz").statusCode() === 400)
      // a malformed escape in the query is refused before any handler runs
      assert(rawStatus(api.boundPort, "/txs/events?search=%zz") === 400)
      assert(get(s"$base/richlist").statusCode() === 404) // Server.hs:212-218
    } finally api.stop()
  }

  test("load-adaptive throttling scales scan budgets under concurrency") {
    // pure factor math (Server.hs:128-132)
    assert(Api.throttlingFactor(0) === 1.0)
    assert(Api.throttlingFactor(3) === 1.0)
    assert(Api.throttlingFactor(6) === 0.5)
    assert(Api.throttlingFactor(30) === 0.1)

    // end-to-end: 12 concurrent requests against a held handler must
    // observe a reduced Graft-Scan-Limit on some request (debugHoldMs keeps
    // all 12 in flight while budgets are computed).
    val api = new Api(spark, sf, 0, debugHoldMs = 300)
    api.start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futs = (1 to 12).map { _ =>
        scala.concurrent.Future(get(s"$base/txs/events?search=click&limit=5"))
      }
      val resps = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs),
        scala.concurrent.duration.Duration(120, "s"))
      pool.shutdown()
      val limits = resps.map(_.headers().firstValue("Graft-Scan-Limit").get.toInt)
      assert(limits.min < Api.BaseScanLimit, s"no throttling observed: $limits")
      assert(limits.min >= math.ceil(Api.BaseScanLimit / 4.0).toInt) // 12 in flight → ≥ f(12)
      resps.foreach(r => assert(r.statusCode() === 200))
    } finally api.stop()
  }

  test("/richlist, /coins and cached /stats serve maintenance outputs") {
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1)
    val out = java.nio.file.Files.createTempDirectory("graft_api_maint_out").toString
    val rep = graft.plans.Maintenance.run(spark, dir, out, genesis = Map(0L -> 100L))
    assert(rep.txCount === 3L)
    assert(rep.maxHeight === 100L)
    // rewards(100) = 100 * 23.045230769230769231 (first schedule segment),
    // allocations(genesis+3000s) = 0 (before the first grant)
    assert(rep.scheduleSupply.doubleValue ===
      graft.operators.Coins.miningRewards(100L).doubleValue)

    val api = new Api(spark, sf, 0, tablesDir = Some(dir), maintDir = Some(out))
    api.start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      val rich = get(s"$base/richlist")
      assert(rich.statusCode() === 200)
      assert(rich.body().contains("bob")) // top balance holders present

      // ChainwebDataStats: exactly {transactionCount, coinsInCirculation}
      val stats = get(s"$base/stats")
      assert(stats.statusCode() === 200)
      assert(stats.body().contains("\"transactionCount\":3"))
      assert(stats.body().contains("\"coinsInCirculation\""))
      assert(!stats.body().contains("maxHeight"))

      // /coins pinned to a deterministic time: height 100, asof genesis+30d;
      // plain-text number (coinsHandler :: Handler Text, Server.hs:227-231)
      val asof = graft.operators.Coins.GenesisEpochSec + 86400L * 30
      val coins = get(s"$base/coins?asof=$asof")
      assert(coins.statusCode() === 200)
      val expected = graft.operators.Coins.circulatingCoins(100L, asof)
      assert(coins.body() === expected.toString)
    } finally api.stop()
  }

  test("account history endpoint serves ingested tables with x-chain resolution") {
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1)

    val api = new Api(spark, sf, 0, tablesDir = Some(dir))
    api.start()
    try {
      val resp = get(s"http://localhost:${api.boundPort}/txs/account/alice")
      assert(resp.statusCode() === 200)
      assert(resp.body().contains("\"requestKey\":\"rk1\""))
      // TransferDetail keeps the STORED (empty) side; the resolution
      // rides in crossChainAccount (Server.hs:543)
      assert(resp.body().contains("\"crossChainAccount\":\"eve\""))

      val det = get(s"http://localhost:${api.boundPort}/txs/tx/rk1")
      assert(det.statusCode() === 200)
      assert(det.body().contains("\"name\":\"coin.TRANSFER\"")) // nested TxEvents
      assert(det.body().contains("\"pubKey\":\"pkA\""))         // nested signers
      assert(det.body().contains("\"sigs\":[{\"sig\":"))
      // /txs/tx returns exactly one row even though the contract tolerates
      // fork copies; /txs/txs returns the full (here: identical) set
      assert(det.body().startsWith("[{") && !det.body().contains("},{\"ttl"))
      val all = get(s"http://localhost:${api.boundPort}/txs/txs/rk1")
      assert(all.statusCode() === 200)
      assert(all.body().contains("\"requestKey\":\"rk1\""))

      // reference-contract event search over the ingested events table:
      // search hits qualname, modulename narrows to the exact module
      val ev = get(s"http://localhost:${api.boundPort}/txs/events?search=TRANSFER")
      assert(ev.statusCode() === 200)
      assert(ev.body().contains("\"name\":\"coin.TRANSFER\""))
      assert(ev.body().contains("\"name\":\"ns1.tok.TRANSFER\""))
      val evMod = get(
        s"http://localhost:${api.boundPort}/txs/events?search=TRANSFER&modulename=tok")
      assert(evMod.statusCode() === 200)
      assert(evMod.body().contains("ns1.tok.TRANSFER"))
      assert(!evMod.body().contains("\"name\":\"coin.TRANSFER\""))
      // param predicate matches inside paramtext JSON
      val evParam = get(
        s"http://localhost:${api.boundPort}/txs/events?param=carol")
      assert(evParam.statusCode() === 200)
      assert(evParam.body().contains("ns1.tok.TRANSFER"))
    } finally api.stop()
  }

  test("DTO field sets match the chainweb-api shapes exactly; /cwd-spec " +
       "serves them") {
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1)
    val api = new Api(spark, sf, 0, tablesDir = Some(dir))
    api.start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      def topKeys(json: String): Set[String] = {
        val node = om.readTree(json)
        val o = if (node.isArray) node.get(0) else node
        val it = o.fieldNames(); val b = Set.newBuilder[String]
        while (it.hasNext) b += it.next()
        b.result()
      }
      import graft.server.Dto
      assert(topKeys(get(s"$base/txs/search?search=coin&limit=5").body())
        == Dto.TxSummaryFields.toSet)
      assert(topKeys(get(s"$base/txs/recent").body())
        == Dto.TxSummaryFields.toSet)
      assert(topKeys(get(s"$base/txs/tx/rk1").body())
        == Dto.TxDetailFields.toSet)
      assert(topKeys(get(s"$base/txs/events?search=TRANSFER").body())
        == Dto.EventDetailFields.toSet)
      assert(topKeys(get(s"$base/txs/account/alice").body())
        == Dto.TransferDetailFields.toSet)
      assert(topKeys(get(s"$base/stats").body()) == Dto.StatsFields.toSet)
      // the served OpenAPI document carries the same schemas
      val specDoc = om.readTree(get(s"$base/cwd-spec.json").body())
      val schemas = specDoc.get("components").get("schemas")
      def schemaKeys(n: String): Set[String] = {
        val it = schemas.get(n).get("properties").fieldNames()
        val b = Set.newBuilder[String]; while (it.hasNext) b += it.next()
        b.result()
      }
      assert(schemaKeys("TxSummary") == Dto.TxSummaryFields.toSet)
      assert(schemaKeys("TxDetail") == Dto.TxDetailFields.toSet)
      assert(schemaKeys("EventDetail") == Dto.EventDetailFields.toSet)
      assert(schemaKeys("TransferDetail") == Dto.TransferDetailFields.toSet)
      assert(schemaKeys("ChainwebDataStats") == Dto.StatsFields.toSet)
      // /txs/tx serves a one-element array, and the spec says so
      val txSchema = specDoc.get("paths").get("/txs/tx/{requestkey}").get("get")
        .get("responses").get("200").get("content").get("application/json")
        .get("schema")
      assert(txSchema.get("type").asText == "array")
      assert(txSchema.get("items").get("$ref").asText ==
        "#/components/schemas/TxDetail")
      assert(om.readTree(get(s"$base/txs/tx/rk1").body()).isArray)
    } finally api.stop()
  }

  test("oversized or negative continuation offsets are a 400, not a 500") {
    val api = new Api(spark, sf, 0)
    api.start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      // Dataset.offset is Int-bounded; 2^31 would wrap negative inside Spark
      val big = getH(s"$base/txs/events?search=click&offset=${Int.MaxValue.toLong + 1}",
                     "Chainweb-Execution-Strategy" -> "Unbounded")
      assert(big.statusCode() === 400)
      assert(big.body().contains("out of range"))
      val neg = get(s"$base/txs/events?search=click&offset=-1")
      assert(neg.statusCode() === 400)
    } finally api.stop()
  }

  test("request-path reads are snapshot-pinned: uncommitted table files are " +
       "invisible to every endpoint until a commit publishes them") {
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1)
    val api = new Api(spark, sf, 0, tablesDir = Some(dir))
    api.start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      val ev0 = get(s"$base/txs/events?search=TRANSFER").body()
      assert(ev0.contains("\"blockTime\":")) // extras decoration present
      val st0 = get(s"$base/stats").body()
      val count0 = """"transactionCount":(\d+)""".r
        .findFirstMatchIn(st0).get.group(1).toLong
      // Rogue UNCOMMITTED appends: duplicate a committed part file in place.
      // A raw spark.read.parquet would list it (doubling the row set); the
      // snapshot-pinned request path must not see it until a commit.
      def dupPart(table: String): Unit = {
        val td = java.nio.file.Paths.get(dir, table)
        // duplicate the LARGEST part file — with more shuffle partitions
        // than rows, some parts are 0-row parquet shells and Files.list
        // order is filesystem-dependent (picking one made the strictly-
        // grows assertion below flake)
        import scala.jdk.CollectionConverters._
        val part = java.nio.file.Files.list(td).iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
          .maxBy(java.nio.file.Files.size)
        java.nio.file.Files.copy(part, td.resolve("rogue-uncommitted.parquet"))
        ()
      }
      dupPart("transactions")
      dupPart("blocks")
      assert(get(s"$base/stats").body() === st0,
        "stats must count the pinned transactions snapshot")
      assert(get(s"$base/txs/events?search=TRANSFER").body() === ev0,
        "event-search extras must read the pinned blocks snapshot")
      // a commit publishes the next version to subsequent requests
      graft.sources.Snapshots.commit(spark, s"$dir/transactions")
      val st1 = get(s"$base/stats").body()
      val count1 = """"transactionCount":(\d+)""".r
        .findFirstMatchIn(st1).get.group(1).toLong
      // the duplicated part file holds ≥1 of the rows (the table may span
      // several part files), so the committed count strictly grows
      assert(count1 > count0)
    } finally api.stop()
  }

  test("an internal failure is a 500 with a fixed body that echoes no " +
       "exception text") {
    val missing = "/nonexistent/graft-api-data"
    val text = intercept[Exception](Tables.events(spark, missing)).getMessage
    val api = new Api(spark, missing, 0)
    api.start()
    try {
      val r = get(s"http://localhost:${api.boundPort}/txs/events?search=click")
      assert(r.statusCode() === 500)
      assert(r.body() === """{"error":"internal error"}""")
      assert(!r.body().contains(text) && !r.body().contains(missing))
    } finally api.stop()
  }

  /** Janino compiles (whole-stage and expression classes) while `f` runs. */
  private def compiles(f: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a new cursor page, or another minheight, reuses its endpoint's " +
       "compiled classes") {
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1,
                              Fixtures.header2 -> Fixtures.payload2)
    val api = new Api(spark, sf, 0, tablesDir = Some(dir))
    api.start()
    try {
      val base = s"http://localhost:${api.boundPort}"
      def ok(url: String): HttpResponse[String] = {
        val r = get(url)
        assert(r.statusCode() === 200, r.body())
        r
      }
      def next(path: String, r: HttpResponse[String]) =
        s"$base$path&next=${r.headers().firstValue("Graft-Next").get}"
      // the second page compiles the cursor-page shape; the third, with a
      // new cursor, reuses it
      for (path <- Seq("/txs/search?search=coin.transfer&limit=1",
                       "/txs/events?search=TRANSFER&limit=1")) {
        val second = ok(next(path, ok(s"$base$path")))
        var third: HttpResponse[String] = null
        val n = compiles { third = ok(next(path, second)) }
        assert(third.body() !== "[]", path)
        assert(n === 0, s"the third page of $path compiled $n classes")
      }
      val acct = s"$base/txs/account/alice?limit=1"
      ok(s"$acct&minheight=99")
      var page: HttpResponse[String] = null
      val n = compiles { page = ok(s"$acct&minheight=100") }
      assert(page.body().contains("\"requestKey\":\"rk3\""))
      assert(n === 0, s"an account page with another minheight compiled $n classes")
    } finally api.stop()
  }

  test("keep-alive round trips do not wait for the client's delayed ACK") {
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1)
    val api = new Api(spark, sf, 0, tablesDir = Some(dir))
    api.start()
    // HTTP/1.1: the client keeps one connection open across the requests
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val req = HttpRequest.newBuilder(
      URI.create(s"http://localhost:${api.boundPort}/coins?asof=1700000000")).build()
    def roundTrip(): Double = {
      val t0 = System.nanoTime()
      assert(http.send(req, HttpResponse.BodyHandlers.ofString()).statusCode() === 200)
      (System.nanoTime() - t0) / 1e6
    }
    try {
      roundTrip(): Unit // opens the connection and builds the block index
      val ms = Seq.fill(20)(roundTrip()).sorted
      val median = (ms(9) + ms(10)) / 2
      info(f"median /coins round trip $median%.1f ms")
      // Nagle plus a ~40 ms delayed ACK put every response at >= 40 ms
      assert(median < 20, f"median /coins round trip $median%.1f ms: ${ms.mkString(", ")}")
    } finally api.stop()
  }

  test("stop() terminates the request thread pool") {
    val api = new Api(spark, sf, 0)
    api.start()
    try assert(get(s"http://localhost:${api.boundPort}/txs/recent").statusCode() === 200)
    finally api.stop()
    assert(api.pool.isTerminated)
  }
}
