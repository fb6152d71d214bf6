package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.server.Api
import org.scalatest.funsuite.AnyFunSuite

/** Fixture rows for the account-endpoint contract tests (top level so the
  * Dataset encoders derive). */
case class AcctTr(block: String, requestkey: String, chainid: Long, height: Long,
                  idx: Long, modulename: String, modulehash: String,
                  from_acct: String, to_acct: String, amount: BigDecimal)
case class AcctEv(block: String, requestkey: String, idx: Long,
                  qualname: String, params: Seq[String])
case class AcctBlk(hash: String, creationtime: java.sql.Timestamp)

/** `/txs/account` full reference parity (Server.hs:493-546 accountHandler):
  * bounded-scan pagination with `Graft-Next` continuations under BOTH
  * execution strategies, the `token`/`chain`/`minheight`/`maxheight`
  * params, orphan-fork-twin completeness (the round-9 cursor-uniqueness
  * contract applied to the transfers cursor), page-only extras decoration,
  * and the CORS middleware (Server.hs:91-96). */
class ApiAccountSpec extends AnyFunSuite with SparkSpec {

  private val client = HttpClient.newHttpClient()
  private def get(url: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url)).build(),
                HttpResponse.BodyHandlers.ofString())
  private def getH(url: String, header: (String, String)): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url))
                  .header(header._1, header._2).build(),
                HttpResponse.BodyHandlers.ofString())

  private def bd(s: String) = BigDecimal(s)

  /** The account's transfer relation: two tokens, two chains, fork twins
    * at height 4 (same (height, requestkey, idx), different block), an
    * outbound x-chain leg at height 6, an inbound to-side row, a coinbase
    * row with an empty from side. */
  private val trs = Seq(
    AcctTr("B6",  "rk6b", 0, 6, 1, "coin", "mh",  "acct",  "",     bd("5")),
    AcctTr("B6",  "rk6a", 0, 6, 0, "coin", "mh",  "acct",  "bob",  bd("1")),
    AcctTr("B5",  "rk5a", 1, 5, 0, "coin", "mh",  "acct",  "bob",  bd("1")),
    AcctTr("B5",  "rk5a", 1, 5, 1, "coin", "mh",  "acct",  "carol", bd("2")),
    AcctTr("B4",  "rk4a", 0, 4, 0, "coin", "mh",  "acct",  "bob",  bd("1")),
    AcctTr("B4x", "rk4a", 0, 4, 0, "coin", "mh",  "acct",  "bob",  bd("1")),
    AcctTr("B4",  "rk4b", 0, 4, 0, "coin", "mh",  "acct",  "dave", bd("3")),
    AcctTr("B3",  "rk3a", 1, 3, 0, "kdx",  "mh2", "acct",  "bob",  bd("7")),
    AcctTr("B3",  "rk3b", 1, 3, 0, "coin", "mh",  "acct",  "bob",  bd("1")),
    AcctTr("B2",  "rk2a", 0, 2, 0, "coin", "mh",  "other", "acct", bd("9")),
    AcctTr("B1",  "rk1a", 1, 1, 0, "coin", "mh",  "acct",  "bob",  bd("1")),
    AcctTr("B1",  "cb",   1, 1, 0, "coin", "mh",  "",      "acct", bd("0.98")))

  private val evs = Seq(
    // outbound TRANSFER_XCHAIN one idx below rk6b's transfer row
    AcctEv("B6", "rk6b", 0, "coin.TRANSFER_XCHAIN",
           Seq("\"acct\"", "\"dest\"", "5", "\"2\"")))

  private val blks = trs.map(_.block).distinct.map(h =>
    AcctBlk(h, java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z")
        .plusSeconds(h.hashCode.abs % 1000))))

  /** The reference enumeration: cursor (height DESC, requestkey DESC,
    * idx ASC) + the block tiebreak, filter-mark = token/chain. */
  private def expected(token: String = "coin", chain: Option[Long] = None,
                       minH: Option[Long] = None, maxH: Option[Long] = None)
      : Seq[(String, String, Long)] =
    trs.filter(t => (t.from_acct == "acct" || t.to_acct == "acct") &&
                    minH.forall(t.height >= _) && maxH.forall(t.height <= _) &&
                    t.modulename == token && chain.forall(t.chainid == _))
       .sortBy(t => (t.height, t.requestkey, t.idx, t.block))(
         Ordering.Tuple4(Ordering.Long.reverse, Ordering.String.reverse,
                         Ordering.Long, Ordering.String.reverse))
       .map(t => (t.block, t.requestkey, t.idx))

  private val rowRe =
    """"blockHash":"([^"]+)","requestKey":"([^"]+)","idx":(\d+)""".r

  private def pageToExhaustion(base: String, path: String, strategy: String,
                               limit: Int): (Seq[(String, String, Long)], Int) = {
    val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var url = s"$base$path${if (path.contains("?")) "&" else "?"}limit=$limit"
    var pages = 0
    var done = false
    while (!done) {
      val resp = getH(url, "Chainweb-Execution-Strategy" -> strategy)
      assert(resp.statusCode() === 200, resp.body())
      assert(resp.headers().firstValue("Graft-Scan-Limit").isPresent
               === (strategy == "Bounded"))
      rowRe.findAllMatchIn(resp.body())
        .foreach(m => out += ((m.group(1), m.group(2), m.group(3).toLong)))
      val next = resp.headers().firstValue("Graft-Next")
      if (next.isPresent) {
        url = s"$base$path${if (path.contains("?")) "&" else "?"}limit=$limit&next=${next.get}"
        pages += 1
        assert(pages < 60, "runaway pagination")
      } else done = true
    }
    (out.toSeq, pages)
  }

  private def withApi(f: String => Unit): Unit = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_api_acct").toString
    graft.ingest.Upsert.mergeAll(spark, dir, Map(
      "transfers" -> (trs.toDF(): org.apache.spark.sql.DataFrame,
                      Seq("block", "chainid", "idx", "modulehash", "requestkey")),
      "events"    -> (evs.toDF(): org.apache.spark.sql.DataFrame,
                      Seq("block", "idx", "requestkey")),
      "blocks"    -> (blks.toDF(): org.apache.spark.sql.DataFrame, Seq("hash"))))
    val api = new Api(spark, "/root/testdata/sf0.001", 0, tablesDir = Some(dir))
    api.start()
    try f(s"http://localhost:${api.boundPort}")
    finally api.stop()
  }

  test("account paging with orphan twins reaches exhaustion identically " +
       "under both strategies, every page limit") {
    withApi { base =>
      val want = expected()
      assert(want.count(t => t._2 == "rk4a") === 2) // the twins are distinct rows
      for (limit <- Seq(1, 2, 3, 9)) {
        val (bounded, bPages) = pageToExhaustion(base, "/txs/account/acct", "Bounded", limit)
        val (unbounded, _) = pageToExhaustion(base, "/txs/account/acct", "Unbounded", limit)
        assert(bounded === want, s"bounded limit=$limit")
        assert(unbounded === want, s"unbounded limit=$limit")
        if (limit == 1) assert(bPages >= want.size - 1) // limit=1 actually paged
      }
    }
  }

  test("token/chain/minheight/maxheight params filter like the reference") {
    withApi { base =>
      def enumerate(qs: String): Seq[(String, String, Long)] =
        pageToExhaustion(base, s"/txs/account/acct?$qs", "Bounded", 2)._1
      assert(enumerate("token=kdx") === expected(token = "kdx"))
      assert(enumerate("chain=1") === expected(chain = Some(1L)))
      assert(enumerate("minheight=3&maxheight=5") ===
             expected(minH = Some(3L), maxH = Some(5L)))
      assert(enumerate("token=kdx&chain=0") === Nil)
    }
  }

  test("result pages carry blockTime and x-chain extras; offset arm works") {
    withApi { base =>
      val r = get(s"$base/txs/account/acct?limit=3")
      assert(r.statusCode() === 200)
      // page 1 holds heights 6..5: the rk6b x-chain leg resolves to dest@2
      assert(r.body().contains("\"crossChainAccount\":\"dest\""))
      assert(r.body().contains("\"crossChainId\":2"))
      assert(r.body().contains("\"blockTime\":\"2024-01-01T"))
      assert(r.body().contains("\"token\":\"coin\""))
      // offset=2 (no token) skips the first two matches
      val off = get(s"$base/txs/account/acct?limit=3&offset=2")
      assert(rowRe.findAllMatchIn(off.body()).map(m =>
        (m.group(1), m.group(2), m.group(3).toLong)).toSeq ===
        expected().slice(2, 5))
      // the coinbase empty-from row must NOT resolve x-chain (rk != 'cb' guard)
      val all = get(s"$base/txs/account/acct?limit=250").body()
      val cbObj = all.split("\\{").find(_.contains("\"requestKey\":\"cb\"")).get
      assert(cbObj.contains("\"crossChainAccount\":null"))
    }
  }

  test("garbled or wrong-arity continuation tokens are a 400, not a 500") {
    withApi { base =>
      assert(get(s"$base/txs/account/acct?next=%21%21notb64%21%21").statusCode() === 400)
      // a structurally valid token minted against an older 2-field cursor
      val stale = graft.plans.BoundedScan.encodeToken(
        graft.plans.BoundedScan.Continuation(Some(Seq("1", "2")), 0))
      val r = get(s"$base/txs/account/acct?next=$stale")
      assert(r.statusCode() === 400)
      assert(r.body().contains("arity"))
      // same guard on the other cursor endpoints (shared continuation parser;
      // /txs/search needs a transactions table this fixture doesn't ingest)
      assert(get(s"$base/txs/events?search=x&next=$stale").statusCode() === 400)
    }
  }

  test("CORS: every response allows any origin and exposes the paging " +
       "headers; OPTIONS preflight answers") {
    withApi { base =>
      val r = get(s"$base/txs/account/acct")
      assert(r.headers().firstValue("Access-Control-Allow-Origin").get === "*")
      assert(r.headers().firstValue("Access-Control-Expose-Headers").get
               .contains("Graft-Next"))
      // errors carry CORS too (a browser must be able to READ the 400)
      val bad = get(s"$base/txs/account/acct?next=zz&offset=1")
      assert(bad.statusCode() === 400)
      assert(bad.headers().firstValue("Access-Control-Allow-Origin").get === "*")
      // preflight
      val pre = client.send(
        HttpRequest.newBuilder(URI.create(s"$base/txs/account/acct"))
          .method("OPTIONS", HttpRequest.BodyPublishers.noBody())
          .header("Origin", "http://example.com")
          .header("Access-Control-Request-Method", "GET").build(),
        HttpResponse.BodyHandlers.ofString())
      assert(pre.statusCode() === 204)
      assert(pre.headers().firstValue("Access-Control-Allow-Methods").isPresent)
      assert(pre.headers().firstValue("Access-Control-Allow-Headers").get
               .contains("Chainweb-Execution-Strategy"))
    }
  }
}
