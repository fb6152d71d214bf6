package graft

import java.net.InetSocketAddress
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.HttpExchange
import graft.ingest.{Fetch, Flatten, Upsert}
import graft.plans.{Gaps, RangePlan}
import graft.server.Api
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end batch repair (S2/S3): a mock chainweb node serving
  * `blocksBetween` (Lookups.hs:102-139 URL + response contract), a blocks
  * table with a deliberate hole, and `Fetch.fill` running the full
  * plan → fetch → flatten → merge lifecycle until the gap query is empty. */
class FetchSpec extends AnyFunSuite with SparkSpec {

  /** Mock node: GET /chainweb/0.0/test/chain/{cid}/block?minheight&maxheight
    * answers from the parametrized fixtures; also records request URLs and
    * can fault-inject leading failures. */
  private def withNode[A](failFirst: Int = 0, failStatus: Int = 429)
                         (body: (String, () => Seq[String]) => A): A = {
    val server = Api.httpServer(new InetSocketAddress("localhost", 0))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val failures = new AtomicInteger(failFirst)
    server.createContext("/chainweb/0.0/test/chain", (ex: HttpExchange) => {
      seen.add(ex.getRequestURI.toString)
      if (failures.getAndDecrement() > 0) {
        ex.sendResponseHeaders(failStatus, -1)
        ex.close()
      } else {
        // /chainweb/0.0/test/chain/{cid}/block
        val cid = ex.getRequestURI.getPath.split("/")(5).toLong
        val q = ex.getRequestURI.getQuery.split("&")
          .map(_.split("=")).map(kv => kv(0) -> kv(1).toLong).toMap
        val items = (q("minheight") to q("maxheight"))
          .map(h => Fixtures.mkItem(cid, h)).mkString(",")
        val resp = s"""{"items":[$items]}""".getBytes("UTF-8")
        ex.sendResponseHeaders(200, resp.length.toLong)
        ex.getResponseBody.write(resp)
        ex.close()
      }
    })
    server.start()
    try body(s"http://localhost:${server.getAddress.getPort}",
             () => { import scala.jdk.CollectionConverters._; seen.asScala.toSeq })
    finally server.stop(0)
  }

  /** Seed a blocks table holding exactly the given (chain, height) blocks. */
  private def seed(dir: String, blocks: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val hp = Flatten.joined(
      Flatten.parseHeaders(blocks.map { case (c, h) => Fixtures.mkHeader(c, h) }.toDF("value")),
      Flatten.parsePayloads(blocks.map { case (c, h) => Fixtures.mkPayload(c, h) }.toDF("value")))
    Upsert.mergeAll(spark, dir, Flatten.allTables(hp)): Unit
  }

  test("fill repairs a holed blocks table end-to-end; replay is a no-op") {
    val dir = Files.createTempDirectory("graft_fill").toString
    // chain 0: genesis 100, present {100, 104} → hole 101..103
    // chain 1: genesis 50, present {50}, cut stays at ingested max → no gap
    seed(dir, Seq((0L, 100L), (0L, 104L), (1L, 50L)))
    val genesis = Map(0L -> 100L, 1L -> 50L)
    assert(Gaps.plan(spark.read.parquet(s"$dir/blocks"), "chainid", "height",
                     genesis) === Seq(RangePlan.Range(0, 101, 103)))

    withNode() { (base, seen) =>
      val (plan, counts) = Fetch.fill(spark, base, "test", dir, genesis)
      assert(plan === Seq(RangePlan.Range(0, 101, 103)))
      assert(counts("blocks") === 3)     // 101, 102, 103
      assert(counts("events") === 3)     // one coinbase each
      assert(counts("transfers") === 3)
      assert(seen().length === 1)
      assert(seen().head ===
        "/chainweb/0.0/test/chain/0/block?minheight=101&maxheight=103")

      // the gap query is now empty and the table is contiguous
      assert(Gaps.plan(spark.read.parquet(s"$dir/blocks"), "chainid", "height",
                       genesis).isEmpty)
      assert(spark.read.parquet(s"$dir/blocks").count() === 6)

      // effectively-once: a second fill plans nothing and inserts nothing
      val (plan2, counts2) = Fetch.fill(spark, base, "test", dir, genesis)
      assert(plan2.isEmpty && counts2.isEmpty)
    }
  }

  test("fill chunks a wide hole into ≤chunk node requests, newest first") {
    val dir = Files.createTempDirectory("graft_fill_chunk").toString
    seed(dir, Seq((0L, 100L), (0L, 110L)))
    withNode() { (base, seen) =>
      val (plan, counts) =
        Fetch.fill(spark, base, "test", dir, Map(0L -> 100L), chunk = 4)
      // 101..109 in descending ≤4-windows (Types.hs:94-99)
      assert(plan === Seq(RangePlan.Range(0, 106, 109),
                          RangePlan.Range(0, 102, 105),
                          RangePlan.Range(0, 101, 101)))
      assert(counts("blocks") === 9)
      assert(seen().toSet === Set(
        "/chainweb/0.0/test/chain/0/block?minheight=106&maxheight=109",
        "/chainweb/0.0/test/chain/0/block?minheight=102&maxheight=105",
        "/chainweb/0.0/test/chain/0/block?minheight=101&maxheight=101"))
    }
  }

  test("rate-limiting (429) is retried with backoff; client error fails loud") {
    val dir = Files.createTempDirectory("graft_fill_retry").toString
    seed(dir, Seq((0L, 100L), (0L, 102L)))
    // two 429s then success: the task must absorb them (handleRequest's
    // RateLimiting class, Lookups.hs:90-96)
    withNode(failFirst = 2, failStatus = 429) { (base, seen) =>
      val (_, counts) = Fetch.fill(spark, base, "test", dir,
        Map(0L -> 100L), backoffMs = 10)
      assert(counts("blocks") === 1)
      assert(seen().length === 3)
    }
    // 404 must not be retried — loud ClientError after one attempt
    val dir2 = Files.createTempDirectory("graft_fill_404").toString
    seed(dir2, Seq((0L, 100L), (0L, 102L)))
    withNode(failFirst = 99, failStatus = 404) { (base, seen) =>
      val e = intercept[org.apache.spark.SparkException] {
        Fetch.fill(spark, base, "test", dir2, Map(0L -> 100L), backoffMs = 10)
      }
      assert(e.getMessage.contains("ClientError") ||
             Option(e.getCause).exists(_.getMessage.contains("ClientError")))
      assert(seen().length === 1)
    }
  }

  test("envelopes drop items missing either half (per-item parse failures)") {
    import spark.implicits._
    val good = Fixtures.mkItem(0L, 7L)
    val broken = """{"header":{"chainId":0}}""" // no payloadWithOutputs
    val body = s"""{"items":[$good,$broken]}"""
    val env = Fetch.envelopes(Seq(body).toDF("body")).collect().map(_.getString(0))
    assert(env.length === 1)
    assert(env.head.startsWith("""{"header":{"""))
    // round-trips through the same parser the listen path uses
    val h = Flatten.parseHeaders(
      Seq(env.head).toDF("value")
        .selectExpr("get_json_object(value, '$.header') AS value"))
    assert(h.collect().head.getAs[Long]("height") === 7L)
  }
}
