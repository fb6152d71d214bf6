package graft.bench

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One API request as the client saw it. */
final case class Req(kind: String, ms: Double, status: Int, bytes: Int,
                     scanLimit: Int, phase: Int)

/** A session of the request mix with its expected result: the row keys
  * in cursor order (detail: the one row's key and its signature count).
  * A session follows `Graft-Next` to the end, or for at most `maxPages`
  * pages when that is above 0. */
final case class Session(kind: String, path: String, params: Seq[(String, String)],
                         rows: IndexedSeq[String], sigs: Int = 0, maxPages: Int = 0)

object Sessions {
  val mapper = new ObjectMapper()

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  private def params(n: JsonNode): Seq[(String, String)] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toSeq.sortBy(_._1)

  private def rows(n: JsonNode, key: JsonNode => String): IndexedSeq[String] =
    n.get("rows").elements().asScala.map(key).toIndexedSeq

  private def txt(n: JsonNode) = if (n == null || n.isNull) "null" else n.asText()

  /** Every session of the generator's ground truth. Account keys carry the
    * resolved cross-chain account. */
  def load(truth: JsonNode): Map[String, IndexedSeq[Session]] = {
    val s = truth.get("sessions")
    def all(k: String) = s.get(k).elements().asScala.toIndexedSeq
    Map(
      "search" -> all("search").map(n => Session("search", "/txs/search", params(n.get("params")),
        rows(n, r => s"${r.get(1).asText()}|${r.get(2).asText()}"))),
      "events" -> all("events").map(n => Session("events", "/txs/events", params(n.get("params")),
        rows(n, r => s"${r.get(1).asText()}|${r.get(2).asText()}|${r.get(3).asLong()}"))),
      "account" -> all("account").map(n => Session("account",
        "/txs/account/" + enc(n.get("account").asText()), params(n.get("params")),
        rows(n, r => s"${r.get(1).asText()}|${r.get(2).asText()}|${r.get(3).asLong()}|${txt(r.get(4))}"),
        maxPages = n.get("pages").asInt())),
      "detail" -> all("detail").map(n => Session("detail", "/txs/tx/" + enc(n.get("rk").asText()),
        Nil, IndexedSeq(s"${n.get("rk").asText()}|${n.get("block").asText()}"),
        sigs = n.get("sigs").asInt())),
      "misc" -> IndexedSeq(
        Session("misc", "/stats", Nil, IndexedSeq.empty),
        Session("misc", "/txs/recent", Nil, IndexedSeq.empty),
        Session("misc", "/coins", Nil, IndexedSeq.empty)))
  }

  /** The row key of one response row, in the same shape as [[load]]'s. */
  def rowKey(kind: String, r: JsonNode): String = kind match {
    case "search"  => s"${txt(r.get("requestKey"))}|${txt(r.get("blockHash"))}"
    case "events"  => s"${txt(r.get("requestKey"))}|${txt(r.get("blockHash"))}|${r.get("idx").asLong()}"
    case "account" => s"${txt(r.get("requestKey"))}|${txt(r.get("blockHash"))}|${r.get("idx").asLong()}|" +
                      txt(r.get("crossChainAccount"))
    case _         => s"${txt(r.get("requestKey"))}|${txt(r.get("blockHash"))}"
  }

  /** The request mix: session kinds in a fixed cyclic order, each kind's
    * sessions in the generator's order, so every run sees the same
    * sequence of sessions. The shares are an assumption, not measured
    * traffic (no request log of a deployed explorer is at hand): the four
    * query kinds in equal shares, and one `/stats`, `/txs/recent` or
    * `/coins` request every second round. */
  def mix(all: Map[String, IndexedSeq[Session]]): IndexedSeq[Session] = {
    val cycle = Seq("detail", "search", "events", "account",
                    "detail", "search", "events", "account", "misc")
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    (0 until 30).flatMap(_ => cycle).map { k =>
      val i = seen(k); seen(k) = i + 1
      all(k)(i % all(k).size)
    }.toIndexedSeq
  }
}

/** Closed-loop API client: pages a session through `Graft-Next` to the end,
  * timing every request, then checks the concatenated rows. */
final class Client(base: String) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** Outcome of a session: None = abandoned at the deadline (nanoTime). */
  def run(s: Session, deadline: Long, phase: Int, log: mutable.Buffer[Req],
          onPage: (Session, Option[String], Int, Double, Seq[JsonNode]) => Unit): Option[Boolean] = {
    var next: Option[String] = None
    var pages = 0
    val got = IndexedSeq.newBuilder[String]
    while (true) {
      val q = s.params ++ next.map("next" -> _)
      val url = base + s.path + (if (q.isEmpty) "" else q.map { case (k, v) =>
        k + "=" + URLEncoder.encode(v, UTF_8) }.mkString("?", "&", ""))
      val t0 = System.nanoTime()
      val resp = http.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
                           HttpResponse.BodyHandlers.ofString())
      val ms = (System.nanoTime() - t0) / 1e6
      val scan = resp.headers().firstValue("Graft-Scan-Limit").orElse("0").toInt
      log += Req(s.kind, ms, resp.statusCode(), resp.body().length, scan, phase)
      if (resp.statusCode() != 200) return Some(false)
      if (s.kind == "misc") return Some(true)
      val body = Sessions.mapper.readTree(resp.body()).elements().asScala.toSeq
      onPage(s, next, scan, ms, body)
      if (s.kind == "detail") {
        val r = body.headOption
        return Some(body.size == 1 &&
          Sessions.rowKey("detail", r.get) == s.rows.head &&
          r.get.get("sigs").size() == s.sigs)
      }
      body.foreach(r => got += Sessions.rowKey(s.kind, r))
      next = Option(resp.headers().firstValue("Graft-Next").orElse(null))
      pages += 1
      if (next.isEmpty || pages == s.maxPages) return Some(got.result() == s.rows)
      if (System.nanoTime() > deadline) return None
    }
    None
  }

  /** One untimed request: the first page of a session (set-up, warm-up). */
  def once(s: Session): Unit = run(s, Long.MinValue, -1, mutable.ArrayBuffer.empty[Req], (_, _, _, _, _) => ())
}
