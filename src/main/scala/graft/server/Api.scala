package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.Tables
import graft.operators.{AccountHistory, ChainTime, Coins, EventSearch, TxDetail, TxSearch}
import graft.plans.BoundedScan
import graft.plans.BoundedScan.{Continuation, CursorSpec}
import graft.sources.{BlockIndex, Snapshots}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Query-serving layer — the reference's `server` mode
  * (chainweb-data exec/Chainweb/Server.hs) over the Spark engine:
  * every search endpoint goes through one paging path ([[page]]) that runs
  * [[BoundedScan.performBoundedScan]] with the reference's per-request
  * budgets (scanLimit 50 000, resultLimit ≤ 250, default 10 —
  * Server.hs:317-319), LOAD-ADAPTIVELY throttled (Server.hs:123-150:
  * budgets scale by 1/max(1, inflight/3)), and hands back a resumable
  * continuation in the `Graft-Next` response header (the `Chainweb-Next`
  * contract, Server.hs:239-246). Client errors (bad parameters, tokens or
  * percent-encoding, a missing search string, an unwritten richlist) are
  * 4xx; only server faults are 500s.
  *
  * Zero dependencies: JDK `com.sun.net.httpserver` + hand-rolled JSON —
  * the serving tier is deliberately thin; all query semantics live in the
  * engine. Endpoints:
  *   - `GET /txs/search?search=S[&limit=N&minheight=&maxheight=&next=TOK&offset=O]`
  *     — bounded tx code search incl. continuation-history code
  *     (Server.hs:295-332)
  *   - `GET /txs/events?search=S&limit=N[&next=TOK]` — bounded event search
  *   - `GET /txs/account/<acct>` / `GET /txs/tx/<rk>` — history / detail
  *   - `GET /txs/recent`  — top-10 by recency
  *   - `GET /richlist`    — the maintenance-written CSV (Server.hs:212-218)
  *   - `GET /coins`       — circulating supply (Server.hs:227-231)
  *   - `GET /stats`       — cached O(1) stats (Server.hs:633-641 estimate
  *     semantics: counts come from the maintenance pass, not a live scan)
  *
  * One pin rule: every request reads the latest committed snapshot of each
  * table, so a server beside `listen` sees each batch once it commits; the
  * tx-search source is memoized per committed version ([[TxSearch.source]]),
  * and block times and the top height come from the driver-side
  * [[BlockIndex]], which follows the committed `blocks` versions. Before
  * the first ingest, table-backed endpoints answer 404.
  *
  * Each request runs under its own Spark job group (a request id, the
  * method and path as description, `interruptOnCancel`), so every job it
  * runs can be attributed to it.
  */
class Api(spark: SparkSession, dataDir: String, port: Int,
          tablesDir: Option[String] = None,
          maintDir: Option[String] = None,
          debugHoldMs: Long = 0) {

  /** Cursor of the synthetic-events demo source. */
  private val demoSpec = CursorSpec(Seq("user_id" -> true, "event_id" -> true))
  private def events = Tables.events(spark, dataDir)
    .select(col("user_id"), col("event_id"), col("event_type"), col("value"))

  private def tables: String = tablesDir.getOrElse(
    throw new IllegalStateException("no ingested tables configured"))

  /** Tx cursor: the reference's (height DESC, reqkey DESC) TxCursor
    * (Queries.hs:78-81) PLUS a block-hash tiebreak. Orphan fork copies
    * share (height, requestkey), and keyset resumption over a NON-unique
    * cursor drops a duplicate whenever a page or scan-budget boundary
    * splits the equal-cursor run (the strictly-after predicate skips the
    * twin) — under a split the Bounded and Unbounded strategies would even
    * disagree. The extra component makes the composite cursor a total
    * order; the continuation token is opaque to clients, so the payload
    * growing one field is invisible. BoundedScanSpec's orphan-duplicate
    * property pins this. */
  private val txSpec = CursorSpec(
    Seq("height" -> true, "requestkey" -> true, "block" -> true))

  /** Events and transfers cursor: the reference's EventCursor
    * (Queries.hs:190-194, 201-205) and `toAccountsSearchCursor`
    * (Queries.hs:238-242) are both (height DESC, requestkey DESC, idx ASC);
    * plus the block-hash tiebreak, because orphan fork copies share that
    * whole tuple — see txSpec. */
  private val idxSpec = CursorSpec(
    Seq("height" -> true, "requestkey" -> true, "idx" -> false, "block" -> true))

  // --- Load-adaptive throttling (Server.hs:123-132): in-flight requests
  //     stand in for pool contention; budgets scale by the same factor.
  private val inFlight = new AtomicInteger(0)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val server = Api.httpServer(new InetSocketAddress(port))
  // Concurrent executor so overlapping requests actually overlap (the JDK
  // default is a single-threaded dispatch, which would hide throttling).
  // Its threads are non-daemon: [[stop]] must shut it down or the JVM
  // cannot exit.
  private[graft] val pool = Executors.newFixedThreadPool(16)
  server.setExecutor(pool)
  server.createContext("/txs/search", (ex: HttpExchange) =>
    handle(ex)(p => searchTxs(p, boundedOf(ex))))
  server.createContext("/txs/events", (ex: HttpExchange) =>
    handle(ex)(p => searchEvents(p, boundedOf(ex))))
  server.createContext("/txs/recent", (ex: HttpExchange) => handle(ex)(recent))
  server.createContext("/stats", (ex: HttpExchange) => handle(ex)(stats))
  server.createContext("/coins", (ex: HttpExchange) => handle(ex)(coins))
  server.createContext("/richlist", (ex: HttpExchange) => handle(ex)(richlist))
  server.createContext("/txs/account", (ex: HttpExchange) =>
    // boundedOf inside the closure: its 400 must fire inside handle's try
    handle(ex)(p => accountHistory(ex.getRequestURI.getPath, boundedOf(ex))(p)))
  server.createContext("/txs/txs", (ex: HttpExchange) =>
    handle(ex)(txDetail(ex.getRequestURI.getPath, "/txs/txs/", one = false)))
  server.createContext("/txs/tx", (ex: HttpExchange) =>
    handle(ex)(txDetail(ex.getRequestURI.getPath, "/txs/tx/", one = true)))
  // the reference's SwaggerSchemaUI spec route (Server.hs:107)
  server.createContext("/cwd-spec.json", (ex: HttpExchange) =>
    handle(ex)(_ => (Dto.openApiJson, Map.empty)))

  def start(): Unit = server.start()

  /** Stops serving and drops the snapshot memo entries and block index of
    * the tables directory; another server on it only misses those caches. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    if (!pool.awaitTermination(10, TimeUnit.SECONDS)) pool.shutdownNow()
    tablesDir.foreach { dir =>
      Snapshots.release(spark, dir)
      BlockIndex.release(spark, dir)
    }
  }
  def boundPort: Int = server.getAddress.getPort

  /** CORS (Server.hs:91-96 `setCors`: simple CORS policy with the
    * continuation header exposed so browser clients can page). Applied to
    * every response — including errors — plus an OPTIONS preflight short-
    * circuit below. */
  private def corsHeaders(ex: HttpExchange): Unit = {
    val h = ex.getResponseHeaders
    h.add("Access-Control-Allow-Origin", "*")
    h.add("Access-Control-Expose-Headers", "Graft-Next, Graft-Scan-Limit")
  }

  private def handle(ex: HttpExchange)(f: Map[String, String] => (String, Map[String, String])): Unit = {
    inFlight.incrementAndGet()
    val sc = spark.sparkContext
    sc.setJobGroup(s"graft-request-${Api.requestIds.incrementAndGet()}",
      s"${ex.getRequestMethod} ${ex.getRequestURI.getPath}", interruptOnCancel = true)
    try {
      corsHeaders(ex)
      if (ex.getRequestMethod == "OPTIONS") {
        // preflight: simple methods + simple request headers, plus the
        // execution-strategy switch this API accepts (corsRequestHeaders)
        val h = ex.getResponseHeaders
        h.add("Access-Control-Allow-Methods", "GET, HEAD, POST")
        h.add("Access-Control-Allow-Headers",
              "Accept, Accept-Language, Content-Language, Content-Type, " +
              "Chainweb-Execution-Strategy")
        ex.sendResponseHeaders(204, -1)
        ex.close()
        return
      }
      val params = Option(ex.getRequestURI.getRawQuery).getOrElse("")
        .split("&").filter(_.contains("="))
        .map { kv =>
          val Array(k, v) = kv.split("=", 2)
          k -> decode(v)
        }.toMap
      if (debugHoldMs > 0) Thread.sleep(debugHoldMs) // test-only overlap window
      if (params.contains("next") && params.contains("offset"))
        // mkContinuation parity (Server.hs:271-279): a continuation token
        // already encodes any unconsumed offset; both at once is a client bug
        throw Api.ApiError(400, "next token query parameter not allowed with offset")
      val (body, headers) = f(params)
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    } catch {
      case NonFatal(e) =>
        // client errors keep their message; anything else is logged here
        // and answered with a fixed body, so no internal detail leaks
        val (status, text) = e match {
          case Api.ApiError(s, m) => (s, String.valueOf(m))
          case _: Snapshots.NotIngested => (404, Api.NotIngestedMsg)
          case _ =>
            log.error(s"internal error serving ${ex.getRequestURI}", e)
            (500, "internal error")
        }
        val msg = s"""{"error":${Api.jstr(text)}}""".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(status, msg.length)
        ex.getResponseBody.write(msg)
        ex.close()
    } finally {
      sc.clearJobGroup()
      inFlight.decrementAndGet()
    }
  }

  /** `Chainweb-Execution-Strategy` request-header switch (Server.hs:253-265,
    * applied at the three search handlers Server.hs:313/512/592): `Bounded`
    * runs the scan-budgeted two-phase engine, `Unbounded` the naive
    * keyset+OFFSET/LIMIT path ([[BoundedScan.performUnbounded]]), anything
    * else is a 400 — the reference's exact value contract. One deliberate
    * deviation: the reference defaults to Unbounded and relies on its
    * application gateway to inject `Bounded` for tuning (Server.hs:249-252);
    * this server fronts clients directly, so the safe budgeted engine is
    * the default and `Unbounded` is the opt-in. */
  private def boundedOf(ex: HttpExchange): Boolean =
    Option(ex.getRequestHeaders.getFirst("Chainweb-Execution-Strategy")) match {
      case None | Some("Bounded") => true
      case Some("Unbounded")      => false
      case Some(other) =>
        throw Api.ApiError(400, s"Unknown Chainweb-Execution-Strategy: $other")
    }

  /** Scaled per-request budgets: (scanLimit, maxResultLimit). */
  private def budgets(): (Int, Int) = {
    val f = Api.throttlingFactor(inFlight.get)
    (math.ceil(Api.BaseScanLimit * f).toInt, math.ceil(Api.BaseMaxLimit * f).toInt)
  }

  /** Percent-decoding of client text: a malformed escape is a 400. */
  private def decode(s: String): String =
    try java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)
    catch { case _: IllegalArgumentException =>
      throw Api.ApiError(400, s"malformed percent-encoding: $s") }

  /** Numeric query params are CLIENT input: a garbage `chain=zzz` must be
    * a 400, not a NumberFormatException 500 — the same contract as the
    * garbled-token path in [[continuation]]. */
  private def longParam(p: Map[String, String], k: String): Option[Long] =
    p.get(k).map(v => try v.toLong catch { case _: NumberFormatException =>
      throw Api.ApiError(400, s"invalid $k: $v") })

  private def intParam(p: Map[String, String], k: String): Option[Int] =
    p.get(k).map(v => try v.toInt catch { case _: NumberFormatException =>
      throw Api.ApiError(400, s"invalid $k: $v") })

  private def continuation(p: Map[String, String], spec: CursorSpec): Option[Continuation] =
    p.get("next").map { tok =>
      // A garbled token (bad base64, bad payload) or a token minted against
      // an older cursor spec (wrong arity) is a CLIENT error — 400, not a
      // 500 from resumePredicate's require deep in the engine. The
      // reference reaches the same end through readToken returning Nothing
      // → throw400 (Server.hs:271-279).
      val c = try BoundedScan.decodeToken(tok) catch {
        case e: Exception =>
          throw Api.ApiError(400, s"invalid next token: ${e.getMessage}")
      }
      c.cursor.foreach { cur =>
        if (cur.length != spec.cols.length)
          throw Api.ApiError(400,
            s"invalid next token: cursor arity ${cur.length} != ${spec.cols.length}")
      }
      c
    }
      .orElse(p.get("offset").map(o => Continuation(None,
        try o.toLong catch { case _: NumberFormatException =>
          throw Api.ApiError(400, s"invalid offset: $o") })))
      .map { c =>
        // Dataset.offset is Int-bounded; wrap-around would surface as a 500
        if (c.remainingOffset > Int.MaxValue || c.remainingOffset < 0)
          throw Api.ApiError(400,
            s"offset ${c.remainingOffset} out of range [0, ${Int.MaxValue}]")
        c
      }

  /** The one paging path of every search endpoint (the reference's
    * handlers all call `performBoundedScan`, Server.hs:313/512/592): reads
    * the throttled budgets, clamps the limit, validates the client's token
    * BEFORE any source work, runs the `Bounded` or `Unbounded` strategy and
    * builds the `Graft-Scan-Limit`/`Graft-Next` headers. `source` gives the
    * relation and its filter-mark predicate; `render` turns the result
    * page into JSON values. */
  private def page(p: Map[String, String], bounded: Boolean, spec: CursorSpec)
                  (source: => (DataFrame, Column))
                  (render: Seq[Row] => Seq[String]): (String, Map[String, String]) = {
    val (scanLimit, maxLimit) = budgets()
    val limit = math.min(intParam(p, "limit").getOrElse(Api.DefaultLimit), maxLimit)
    val cont = continuation(p, spec)
    val (src, pred) = source
    val (rows, next) =
      if (bounded) BoundedScan.performBoundedScan(src, spec, pred, scanLimit, limit, cont)
      else BoundedScan.performUnbounded(src, spec, pred, limit, cont)
    (render(rows).mkString("[", ",", "]"),
     (if (bounded) Map("Graft-Scan-Limit" -> scanLimit.toString)
      else Map.empty[String, String]) ++
       next.map(c => "Graft-Next" -> BoundedScan.encodeToken(c)))
  }

  /** `/txs/search` — the reference's flagship search (Server.hs:295-332):
    * LIKE over `coalesce(tx.code, contHistory.code)`, height-range guarded;
    * no search string is the reference's 404 (Server.hs:308 `throw404`). */
  private def searchTxs(p: Map[String, String], bounded: Boolean)
      : (String, Map[String, String]) = {
    val search = p.getOrElse("search",
      throw Api.ApiError(404, "You must specify a search string"))
    page(p, bounded, txSpec)(
      (ChainTime.heightRange(TxSearch.source(spark, tables), longParam(p, "minheight"), longParam(p, "maxheight")),
       TxSearch.matchCol(search)))(_.map(Dto.txSummary))
  }

  /** Event search (Server.hs:568-619's evHandler). With ingested tables
    * configured this is the reference contract — P4's optional predicates
    * (search/qualname/param/modulename), P2 height bounds, the events
    * cursor; without them it demos the same engine on the synthetic
    * events table. */
  private def searchEvents(p: Map[String, String], bounded: Boolean)
      : (String, Map[String, String]) = tablesDir match {
    case Some(dir) =>
      page(p, bounded, idxSpec)(
        (EventSearch.source(spark, dir, longParam(p, "minheight"), longParam(p, "maxheight")),
         EventSearch.predicate(
           p.get("search"), p.get("qualname"), p.get("param"), p.get("modulename")))) { rows =>
        // block-time extras for the RESULT PAGE only, like the reference's
        // eventSearchExtras follow-up query (Server.hs:592-603)
        val times = BlockIndex.creationTimes(
          spark, s"$dir/blocks", rows.map(_.getAs[String]("block")).distinct)
        rows.map(r => Dto.eventDetail(r, times.getOrElse(r.getAs[String]("block"), null)))
      }
    case None =>
      page(p, bounded, demoSpec)(
        (events, col("event_type").contains(p.getOrElse("search", ""))))(_.map(Dto.jsonValue))
  }

  /** `/txs/account/<acct>` — the marquee endpoint (Server.hs:493-546
    * `accountHandler`): `token` (default "coin", Server.hs:507), `chain`,
    * `minheight`/`maxheight`, `limit`, `offset`/`next` params; the scan
    * walks the account's transfer relation under the throttled scan budget
    * with token/chain as the filter-mark predicate (Queries.hs:246-269) and
    * decorates only the RESULT PAGE with block time + x-chain resolution
    * (`transferSearchExtras`). */
  private def accountHistory(path: String, bounded: Boolean)
                            (p: Map[String, String]): (String, Map[String, String]) = {
    val acct = decode(path.stripPrefix("/txs/account/"))
    val dir = tables
    page(p, bounded, idxSpec)(
      (AccountHistory.source(spark, dir, acct, longParam(p, "minheight"), longParam(p, "maxheight")),
       AccountHistory.predicate(p.getOrElse("token", "coin"), longParam(p, "chain"))))(
      rows => AccountHistory.decoratePage(spark, dir, rows).map(Dto.transferDetail))
  }

  /** `/txs/tx/<rk>` (one row, success-first pick — Server.hs:449-460) and
    * `/txs/txs/<rk>` (ALL fork copies — the orphan-tolerant contract,
    * Server.hs:462-482). */
  private def txDetail(path: String, prefix: String, one: Boolean)
                      (p: Map[String, String]): (String, Map[String, String]) = {
    val rk = decode(path.stripPrefix(prefix))
    val dir = tables
    val rows =
      (if (one) TxDetail.lookupOne(spark, dir, rk)
       else TxDetail.lookup(spark, dir, rk)).collect()
    (rows.map(Dto.txDetail).mkString("[", ",", "]"), Map.empty)
  }

  /** Top-10 recent (O4 — Server.hs:621-631): [TxSummary] over the
    * ingested tables; the synthetic-events demo shape without them. */
  private def recent(p: Map[String, String]): (String, Map[String, String]) =
    tablesDir match {
      case Some(dir) =>
        (TxSearch.source(spark, dir).orderBy(col("height").desc, col("requestkey").desc)
           .limit(10).collect()
           .map(Dto.txSummary).mkString("[", ",", "]"),
         Map.empty)
      case None =>
        (events.orderBy(col("event_id").desc).limit(10).collect()
           .map(Dto.jsonValue).mkString("[", ",", "]"),
         Map.empty)
    }

  /** `/richlist` — serves the CSV the maintenance pass wrote
    * (Server.hs:212-218: read the file, 404 when absent). */
  private def richlist(p: Map[String, String]): (String, Map[String, String]) = {
    val files = maintDir.flatMap(dir => Option(new java.io.File(s"$dir/richlist").listFiles()))
      .getOrElse(Array.empty).filter(_.getName.endsWith(".csv"))
    if (files.isEmpty) throw Api.ApiError(404, "richlist not generated yet")
    val csv = files.sortBy(_.getName).map { f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
    }.mkString
    (s"""{"csv":${Api.jstr(csv)}}""", Map.empty)
  }

  /** `/coins` (Server.hs:227-231 `coinsHandler :: … Handler Text`): the
    * circulating-coins number as PLAIN TEXT — mining rewards at the
    * current max block height + allocations as of NOW, from the real
    * embedded schedules. */
  private def coins(p: Map[String, String]): (String, Map[String, String]) = {
    val now = longParam(p, "asof") // pin for tests; default wall clock
      .getOrElse(System.currentTimeMillis() / 1000)
    (Coins.circulatingCoins(maxHeight(), now).toString, Map.empty)
  }

  /** The chain's top block height: the [[BlockIndex]]'s top entry, no
    * Spark job. An empty blocks table counts as not ingested. */
  private def maxHeight(): Long = tablesDir match {
    case Some(dir) =>
      val blocks = s"$dir/blocks"
      BlockIndex.maxHeight(spark, blocks).getOrElse(throw new Snapshots.NotIngested(blocks))
    case None =>
      events.agg(max(col("event_id"))).collect().head.getLong(0)
  }

  /** Table stats (A2/A4 — Server.hs:396-406,633-641). The count is the
    * reference's ESTIMATE semantics (`pg_class.reltuples`): served from the
    * maintenance-pass cache when available — O(1), no scan, possibly stale
    * by one maintenance cycle, exactly like reltuples — falling back to a
    * live metadata count only when no cache exists; before the first
    * ingest both fields are null. */
  private def stats(p: Map[String, String]): (String, Map[String, String]) = {
    val cached = maintDir.flatMap { dir =>
      val f = java.nio.file.Paths.get(s"$dir/stats.json")
      if (java.nio.file.Files.exists(f))
        Some(new String(java.nio.file.Files.readAllBytes(f), StandardCharsets.UTF_8))
      else None
    }
    cached match {
      case Some(json) => (json, Map.empty)
      case None =>
        // ChainwebDataStats shape (Server.hs:234): exactly
        // {transactionCount, coinsInCirculation}, both nullable
        val (n, circ) = tablesDir match {
          case Some(dir) =>
            try (Snapshots.readPinned(spark, s"$dir/transactions").count().toString,
                 Coins.circulatingCoins(maxHeight()).toString)
            catch { case _: Snapshots.NotIngested => ("null", "null") }
          case None => (events.count().toString, "null")
        }
        (s"""{"transactionCount":$n,"coinsInCirculation":$circ}""", Map.empty)
    }
  }
}

object Api {
  val BaseScanLimit = 50000 // Server.hs:317
  val BaseMaxLimit = 250    // Server.hs:318
  val DefaultLimit = 10     // Server.hs:319

  /** The 404 body of a table-backed endpoint before the first ingest. */
  val NotIngestedMsg = "tables not ingested yet"

  /** Every JDK HTTP server of the program, this API's and the tests' mock
    * nodes alike, is made here, so each runs with TCP_NODELAY on its
    * accepted sockets. Without it a response pays the client's delayed ACK
    * (~40 ms): the server writes the headers and the body in two writes,
    * and Nagle holds the second until the first is acknowledged. The JDK
    * reads `sun.net.httpserver.nodelay` once, when its first server is
    * made, so the property must be set before that; setting it here on
    * every call keeps the result independent of which server comes
    * first. */
  def httpServer(addr: InetSocketAddress): HttpServer = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(addr, 0)
  }

  /** Source of the per-request Spark job group ids. */
  private val requestIds = new AtomicLong(0)

  /** Client errors carry their HTTP status (the reference's `throw400`). */
  final case class ApiError(status: Int, msg: String)
      extends RuntimeException(msg)

  /** Server.hs:128-132 `throttlingFactor`: capacity of 3 concurrent
    * requests before budgets degrade proportionally. */
  def throttlingFactor(load: Int): Double = {
    val loadPerCap = load.toDouble / 3
    if (loadPerCap <= 1) 1.0 else 1.0 / loadPerCap
  }

  private[server] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case '\r'         => "\\r"
      case '\t'         => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""
}
