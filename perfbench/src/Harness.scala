package graft.bench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import graft.ingest.{Flatten, Upsert}
import graft.operators.{AccountHistory, EventSearch, TxDetail, TxSearch}
import graft.plans.BoundedScan
import graft.plans.BoundedScan.CursorSpec
import graft.server.Api
import graft.sources.Snapshots
import graft.streaming.Listen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark harness for one workload run. Usage:
  *   Harness <workload> <seconds> <trace 0|1> <inputDir> <workDir> <resultFile>
  * `inputDir` holds the generator's blocks.jsonl and truth.json. The result
  * file receives one JSON object: correct/attempted/failed/metrics. With
  * trace on, the untraced measurement (the reference for the tracing
  * overhead) is followed by a traced one; spans go to
  * `<workDir>/trace.jsonl`. */
object Harness {
  private val SetupReps = 3
  // listen: the untraced micro-batches of every run, and the traced ones the
  // traced run adds after them. Fixed counts, so every run and every commit
  // measures batches into the same table states.
  private val ListenBatches = 3
  private val TracedBatches = 2
  private val TableNames = Seq("blocks", "minerkeys", "transactions", "events", "signers", "transfers")

  // Cursor specs of the API's three search endpoints (server.Api), for the
  // traced direct replays of the same engine calls.
  private val txSpec = CursorSpec(Seq("height" -> true, "requestkey" -> true, "block" -> true))
  private val evSpec = CursorSpec(Seq("height" -> true, "requestkey" -> true, "idx" -> false,
                                      "block" -> true))

  final case class Input(lines: IndexedSeq[String], height: IndexedSeq[Long], truth: JsonNode) {
    def bytes(ix: Seq[Int]): Long = ix.map(i => lines(i).length.toLong + 1).sum
  }

  private def loadInput(dir: Path): Input = {
    val lines = Files.readAllLines(dir.resolve("blocks.jsonl")).asScala.toIndexedSeq
    Input(lines, lines.map(l => Sessions.mapper.readTree(l).get("header").get("height").asLong()),
          Sessions.mapper.readTree(dir.resolve("truth.json").toFile))
  }

  // --- small statistics -------------------------------------------------
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.min(s.size - 1, (p * s.size).toInt)) }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def ms(t0: Long) = (System.nanoTime() - t0) / 1e6
  private val t00 = System.nanoTime()
  /** Progress line on stderr (the run log). */
  def say(msg: String): Unit = System.err.println(f"[bench ${ms(t00) / 1000}%7.1fs] $msg")
  private def timed[A](body: => A): (A, Double) = { val t0 = System.nanoTime(); val a = body; (a, ms(t0)) }

  /** Live heap after a full collection: what the run's state retains. */
  private def heapLiveMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val fs = Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet")).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }
  private def tablesBytes(dir: Path): (Long, Long) =
    TableNames.map(t => dirBytes(dir.resolve(t))).foldLeft((0L, 0L)) { case (a, b) => (a._1 + b._1, a._2 + b._2) }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    }

  // --- the program's entry points ----------------------------------------
  /** Main's session (the serve and listen subcommands) at local[nproc],
    * with the shuffle partitions at nproc as Bench and the test specs run
    * (README: at the default 200, one ingest merge costs ~5 s at any
    * batch size and a run no longer fits its time budget). */
  private def session(cores: Int, work: Path): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("tmp").toString)
    .getOrCreate()

  private def envelopes(spark: SparkSession, in: Input, ix: Seq[Int]): DataFrame = {
    import spark.implicits._
    ix.map(in.lines).toDF("value")
  }

  private def rowCounts(spark: SparkSession, dir: Path): Map[String, Long] =
    TableNames.map(t => t -> spark.read.parquet(dir.resolve(t).toString).count()).toMap

  private def countsMatch(spark: SparkSession, dir: Path, want: JsonNode): Boolean =
    rowCounts(spark, dir).forall { case (t, n) => want.get(t).asLong() == n }

  def main(args: Array[String]): Unit = {
    val Array(workload, secondsS, traceS, inputS, workS, resultS) = args
    val (seconds, trace) = (secondsS.toDouble, traceS == "1")
    val work = Paths.get(workS)
    Files.createDirectories(work.resolve("tmp"))
    val cores = Runtime.getRuntime.availableProcessors()
    val in = loadInput(Paths.get(inputS))
    val spark = session(cores, work)
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new SparkMetrics
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext)
    val run = new Run(spark, in, work, seconds, trace, tracer, listener)
    val res = workload match {
      case "serve"  => run.serve()
      case "listen" => run.listen()
      case other    => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (trace) tracer.write(work.resolve("trace.jsonl"), listener.perSpan)
    val metrics = (Metrics.perLayer.map(k => k -> (0.0, Metrics.units(k))).toMap ++ res.metrics +
                   ("jvm.heap_live_mb" -> (heapLiveMb(), "MB")))
      .filter { case (k, _) => Metrics.perLayer.contains(k) == trace }
    val body = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$u"}""" }.mkString(",")
    Files.writeString(Paths.get(resultS),
      s"""{"correct":${res.failed == 0},"attempted":${res.attempted},"failed":${res.failed},"metrics":{$body}}""")
    // server.Api.stop() leaves the API's fixed request pool running (its
    // threads are not daemons), so the JVM would never exit on its own.
    System.exit(0)
  }

  final case class Result(attempted: Long, failed: Long, metrics: Map[String, (Double, String)])

  /** Names of the per-layer metrics (the traced run prints exactly these;
    * a layer a workload does not run reports 0). */
  object Metrics {
    val perLayer: Seq[String] = Seq(
      "server.request_ms_p90", "server.search_ms_p50", "server.events_ms_p50",
      "server.account_ms_p50", "server.detail_ms_p50", "server.self_ms_p50",
      "server.scan_limit_mean", "server.response_bytes_mean", "server.status_4xx", "server.status_5xx",
      "plans.bounded_scan_ms_p50", "plans.bounded_scan_jobs_per_call",
      "plans.rows_read_per_row_returned", "plans.input_bytes_per_call",
      "plans.pages_per_session",
      "operators.tx_search_source_ms", "operators.event_source_ms_p50",
      "operators.account_decorate_ms_p50", "operators.tx_detail_ms_p50",
      "sources.read_pinned_ms_p50", "sources.commit_ms_p50",
      "sources.manifests_per_table", "sources.files_per_table",
      "ingest.flatten_ms") ++
      TableNames.map(t => s"ingest.merge_ms.$t") ++ Seq(
      "ingest.key_rows_read_per_row_inserted", "ingest.jobs_per_batch",
      "ingest.files_written_per_batch", "ingest.bytes_written_per_input_byte",
      "streaming.ingest_batch_ms_p50", "streaming.ingest_batch_self_ms_p50",
      "spark.jobs_per_op", "spark.tasks_per_op", "spark.task_cpu_ms_per_op",
      "spark.executor_run_ms_per_op", "spark.gc_ms_per_op", "spark.task_queue_ms_mean",
      "spark.input_bytes_per_op", "spark.shuffle_read_bytes_per_op",
      "spark.shuffle_write_bytes_per_op", "spark.spill_bytes_per_op",
      "spark.output_bytes_per_op", "spark.task_skew", "jvm.heap_live_mb", "trace.overhead_pct")
    val units: Map[String, String] = perLayer.map { n =>
      n -> (if (n.endsWith("_ms") || n.contains("_ms_") || n.contains("_ms.")) "ms"
            else if (n.contains("_per_input_byte") || n.contains("_per_row") || n == "spark.task_skew") "ratio"
            else if (n.contains("bytes")) "bytes"
            else if (n.endsWith("_pct")) "%"
            else if (n.endsWith("_mb")) "MB"
            else "count")
    }.toMap
  }

  /** One workload run: set-up (repeated, median reported), the measured
    * window, the output checks, and the metrics. */
  final class Run(spark: SparkSession, in: Input, work: Path, seconds: Double,
                  trace: Boolean, tr: Tracer, sm: SparkMetrics) {
    private val truth = in.truth
    private val baseH = truth.get("base_heights").asLong()
    private var attempted = 0L
    private var failed = 0L
    private val layer = mutable.Map.empty[String, Double]
    private def check(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

    private val windowNs = (seconds * 1e9).toLong
    // serve, with trace on: phase 0 untraced, then phase 1 traced, half each.
    private def phases: Seq[(Int, Long)] =
      if (trace) Seq(0 -> windowNs / 2, 1 -> windowNs / 2) else Seq(0 -> windowNs)

    /** Ingest the given blocks through the streaming micro-batch entry point. */
    private def ingest(dir: Path, ix: Seq[Int]): Map[String, Long] =
      Listen.ingestBatch(spark, envelopes(spark, in, ix), dir.toString)

    /** `Listen.ingestBatch`'s three steps as separate traced calls. */
    private def ingestTraced(raw: DataFrame, dir: Path): Map[String, Long] = {
      val tables = tr.span("ingest.flatten") {
        Flatten.allTables(Flatten.joined(
          Flatten.parseHeaders(raw.select(get_json_object(col("value"), "$.header").as("value"))),
          Flatten.parsePayloads(raw.select(get_json_object(col("value"), "$.payload").as("value")))))
      }
      tables.map { case (name, (df, pk)) =>
        name -> tr.span(s"ingest.merge.$name")(Upsert.merge(spark, dir.resolve(name).toString, df, pk))
      }
    }

    private def fresh(name: String): Path = {
      val p = work.resolve(name)
      if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      p
    }

    private def spanMs(name: String): Seq[Double] = tr.spans.filter(_.name == name).map(_.ms)

    // --- spark layer (untraced phase) -------------------------------------
    private def sparkLayer(before: SparkMetrics.Totals, ops: Double): Unit = {
      val t = sm.totals
      val d = SparkMetrics.Totals(t.jobs - before.jobs, t.tasks - before.tasks, t.cpuNs - before.cpuNs,
        t.runMs - before.runMs, t.gcMs - before.gcMs, t.inputBytes - before.inputBytes,
        t.inputRecords - before.inputRecords, t.shuffleRead - before.shuffleRead,
        t.shuffleWrite - before.shuffleWrite, t.spill - before.spill, t.output - before.output)
      val n = math.max(1.0, ops)
      layer ++= Seq("spark.jobs_per_op" -> d.jobs / n, "spark.tasks_per_op" -> d.tasks / n,
        "spark.task_cpu_ms_per_op" -> d.cpuNs / 1e6 / n, "spark.executor_run_ms_per_op" -> d.runMs / n,
        "spark.gc_ms_per_op" -> d.gcMs / n, "spark.input_bytes_per_op" -> d.inputBytes / n,
        "spark.shuffle_read_bytes_per_op" -> d.shuffleRead / n,
        "spark.shuffle_write_bytes_per_op" -> d.shuffleWrite / n,
        "spark.spill_bytes_per_op" -> d.spill / n, "spark.output_bytes_per_op" -> d.output / n,
        "spark.task_queue_ms_mean" -> sm.taskQueueMsMean, "spark.task_skew" -> sm.taskSkew)
    }

    /** Snapshot layer: manifests and data files per table, and the time of
    * `Snapshots.commit` on a copy of each table (a commit of the same
    * file set, as every merge ends with). */
    private def sourcesLayer(dir: Path): Unit = {
      val manifests = TableNames.map(t => Option(dir.resolve(t).resolve("_manifests").toFile.list())
        .map(_.count(_.endsWith(".manifest"))).getOrElse(0).toDouble)
      layer("sources.manifests_per_table") = mean(manifests)
      layer("sources.files_per_table") = mean(TableNames.map(t => dirBytes(dir.resolve(t))._1.toDouble))
      val copy = fresh("commit-probe")
      copyTree(dir, copy)
      layer("sources.commit_ms_p50") = median(TableNames.flatMap(t =>
        (1 to 3).map(_ => timed(Snapshots.commit(spark, copy.resolve(t).toString))._2)))
    }

    /** Ingest layer from the traced micro-batches (`inserted`: the rows
      * they inserted) and the files and bytes all `batches` of the run
      * added for `inputBytes` of wire JSON. */
    private def ingestLayer(batches: Int, inputBytes: Double, bytesAdded: Double,
                            filesAdded: Double, inserted: Double): Unit = {
      val all = tr.spans
      val per = sm.perSpan
      def jobs(s: Span) = per.get(s.id).map(_.jobs).getOrElse(0L)
      layer("ingest.flatten_ms") = mean(spanMs("ingest.flatten"))
      TableNames.foreach(t => layer(s"ingest.merge_ms.$t") = median(spanMs(s"ingest.merge.$t")))
      val mergeRecords = all.filter(_.name.startsWith("ingest.merge."))
        .map(s => per.get(s.id).map(_.inputRecords).getOrElse(0L)).sum
      layer("ingest.key_rows_read_per_row_inserted") = mergeRecords / math.max(1.0, inserted)
      layer("ingest.jobs_per_batch") =
        all.map(jobs).sum.toDouble / math.max(1, all.count(_.name == "streaming.ingest_batch"))
      layer("ingest.files_written_per_batch") = filesAdded / batches
      layer("ingest.bytes_written_per_input_byte") = bytesAdded / math.max(1.0, inputBytes)
      layer("streaming.ingest_batch_self_ms_p50") =
        median(all.filter(_.name == "streaming.ingest_batch").map(s => tr.selfMs(s, all)))
    }

    // --- read traffic ----------------------------------------------------
    /** One set-up of the served tables: ingest the blocks in one batch,
      * start the API and build its lazy tx-search source (/txs/recent reads
      * it). Returns the API and the ingest time in ms. */
    private def serving(dir: Path, ix: Seq[Int]): (Api, Double) = {
      val (_, t) = timed(ingest(dir, ix))
      val api = new Api(spark, dir.toString, 0, Some(dir.toString))
      api.start()
      new Client(s"http://localhost:${api.boundPort}").once(Session("misc", "/txs/recent", Nil, IndexedSeq.empty))
      (api, t)
    }

    private final class Replay(dir: Path) {
      lazy val txSrc: DataFrame = tr.span("operators.tx_search_source") {
        val df = TxSearch.source(spark, dir.toString).localCheckpoint()
        df.count(); df
      }
      def apply(s: Session, next: Option[String], scanLimit: Int): Unit = {
        val p = s.params.toMap
        val limit = p.get("limit").map(_.toInt).getOrElse(Api.DefaultLimit)
        val cont = next.map(BoundedScan.decodeToken)
        def pinned(t: String) = tr.span("sources.read_pinned")(Snapshots.readPinned(spark, dir.resolve(t).toString))
        s.kind match {
          case "search" =>
            val src = txSrc
            tr.span("plans.bounded_scan")(BoundedScan.performBoundedScan(
              src, txSpec, TxSearch.matchCol(p("search")), scanLimit, limit, cont))
          case "events" =>
            pinned("events")
            val src = tr.span("operators.event_source")(EventSearch.source(spark, dir.toString))
            val (page, _) = tr.span("plans.bounded_scan")(BoundedScan.performBoundedScan(src, evSpec,
              EventSearch.predicate(p.get("search"), p.get("qualname"), p.get("param"), p.get("modulename")),
              scanLimit, limit, cont))
            val hashes = page.map(_.getAs[String]("block")).distinct
            if (hashes.nonEmpty) tr.span("operators.event_block_times")(
              pinned("blocks").filter(col("hash").isin(hashes: _*)).select("hash", "creationtime").collect())
          case "account" =>
            pinned("transfers")
            val acct = java.net.URLDecoder.decode(s.path.stripPrefix("/txs/account/"), "UTF-8")
            val src = tr.span("operators.account_source")(AccountHistory.source(spark, dir.toString, acct))
            val (page, _) = tr.span("plans.bounded_scan")(BoundedScan.performBoundedScan(src, evSpec,
              AccountHistory.predicate(p.getOrElse("token", "coin")), scanLimit, limit, cont))
            tr.span("operators.account_decorate")(AccountHistory.decoratePage(spark, dir.toString, page))
          case "detail" =>
            pinned("transactions")
            val rk = s.rows.head.takeWhile(_ != '|')
            tr.span("operators.tx_detail") {
              TxDetail.lookupOne(spark, dir.toString, rk).collect()
              txSrc.filter(col("requestkey") === rk).select("initial_code", "previous_steps").collect()
            }
          case _ => ()
        }
      }
    }

    /** The closed-loop client over the API until `until`: the sessions of
      * the mix in turn, no think time. Returns the outcome of every session
      * completed. With a replay, each page is followed by the direct engine
      * call of the same request, and the difference of the two latencies is
      * the server's own time. One client: with 4, the order in which their
      * Spark jobs interleaved moved request latency 15-25% from run to run. */
    private def reader(client: Client, mix: IndexedSeq[Session], phase: Int, until: Long,
                       log: mutable.Buffer[Req], replay: Option[Replay]): Seq[Boolean] = {
      val outcomes = mutable.ArrayBuffer.empty[Boolean]
      while (System.nanoTime() < until) {
        val op = nextOp
        nextOp += 1
        val s = mix(op % mix.size)
        var np = 0
        // a request that throws (connection refused, unparsable body)
        // fails its session instead of ending the run
        val r = try client.run(s, until, phase, log, (ses, tok, scan, httpMs, rows) => {
          np += 1
          replay.foreach { rp =>
            val (_, engineMs) = timed(tr.span(s"engine.${ses.kind}", op.toLong)(rp(ses, tok, scan)))
            serverSelf += httpMs - engineMs
            if (ses.kind != "detail") rowsReturned += rows.size
          }
        }) catch { case NonFatal(e) => say(s"session ${s.path} failed: $e"); Some(false) }
        r.foreach { ok =>
          outcomes += ok
          if (s.kind != "misc" && s.kind != "detail") pages += np
        }
      }
      outcomes.toSeq
    }
    private var nextOp = 0
    private val serverSelf = mutable.ArrayBuffer.empty[Double]
    private var rowsReturned = 0L
    private val pages = mutable.ArrayBuffer.empty[Int]

    private def readLayer(log: Seq[Req]): Unit = {
      def p50(k: String) = median(log.filter(_.kind == k).map(_.ms))
      layer ++= Seq(
        "server.request_ms_p90" -> pct(log.map(_.ms), 0.9), "server.search_ms_p50" -> p50("search"),
        "server.events_ms_p50" -> p50("events"), "server.account_ms_p50" -> p50("account"),
        "server.detail_ms_p50" -> p50("detail"),
        "server.scan_limit_mean" -> mean(log.filter(_.scanLimit > 0).map(_.scanLimit.toDouble)),
        "server.response_bytes_mean" -> mean(log.map(_.bytes.toDouble)),
        "server.status_4xx" -> log.count(r => r.status >= 400 && r.status < 500).toDouble,
        "server.status_5xx" -> log.count(_.status >= 500).toDouble,
        "plans.pages_per_session" -> mean(pages.toSeq.map(_.toDouble)))
      if (trace) {
        val all = tr.spans
        val per = sm.perSpan
        val scans = all.filter(_.name == "plans.bounded_scan")
        layer ++= Seq(
          "plans.bounded_scan_ms_p50" -> median(scans.map(_.ms)),
          "plans.bounded_scan_jobs_per_call" -> mean(scans.map(s => per.get(s.id).map(_.jobs.toDouble).getOrElse(0.0))),
          "plans.input_bytes_per_call" -> mean(scans.map(s => per.get(s.id).map(_.inputBytes.toDouble).getOrElse(0.0))),
          "operators.event_source_ms_p50" -> median(spanMs("operators.event_source")),
          "operators.account_decorate_ms_p50" -> median(spanMs("operators.account_decorate")),
          "operators.tx_detail_ms_p50" -> median(spanMs("operators.tx_detail")),
          "sources.read_pinned_ms_p50" -> median(spanMs("sources.read_pinned")))
        val scanRecords = scans.map(s => per.get(s.id).map(_.inputRecords).getOrElse(0L)).sum
        layer("plans.rows_read_per_row_returned") = scanRecords / math.max(1.0, rowsReturned.toDouble)
        layer("server.self_ms_p50") = median(serverSelf.toSeq)
        layer("operators.tx_search_source_ms") = spanMs("operators.tx_search_source").headOption.getOrElse(0.0)
      }
    }
    private def layerMetrics: Map[String, (Double, String)] =
      layer.map { case (k, v) => k -> (v, Metrics.units(k)) }.toMap

    // --- workloads ---------------------------------------------------------
    /** Set-up, repeated [[SetupReps]] times into fresh directories (see
      * [[serving]]), then one warm-up pass over the request kinds. Returns
      * the last API, its tables and the set-up time in ms: the median of
      * the repetitions plus the warm-up. */
    private def setUp(ix: Seq[Int], sessions: Map[String, IndexedSeq[Session]]): (Api, Path, Double) = {
      val reps = (1 to SetupReps).map { i =>
        val dir = fresh(s"tables-$i")
        val ((api, ingestMs), t) = timed(serving(dir, ix))
        say(f"setup $i: $t%.0f ms (ingest $ingestMs%.0f ms)")
        (api, dir, t)
      }
      reps.init.foreach(_._1.stop())
      // JIT warm-up, once: the first page of one session of every kind
      val c = new Client(s"http://localhost:${reps.last._1.boundPort}")
      val (_, warmMs) = timed(sessions.values.foreach(ss => c.once(ss.head)))
      say(f"warm-up: $warmMs%.0f ms")
      (reps.last._1, reps.last._2, median(reps.map(_._3)) + warmMs)
    }

    /** serve: read-only API traffic from a closed-loop client. */
    def serve(): Result = {
      val all = in.lines.indices
      val sessions = Sessions.load(truth)
      val mix = Sessions.mix(sessions)
      val (api, dir, setupMs) = setUp(all, sessions)
      val (_, bytes) = tablesBytes(dir)
      val client = new Client(s"http://localhost:${api.boundPort}")
      val log = mutable.ArrayBuffer.empty[Req]
      val replay = new Replay(dir)
      var measuredS = 0.0
      for ((phase, len) <- phases) {
        if (phase == 1) { tr.on = true; replay.txSrc }
        nextOp = 0 // both halves of a traced run see the same sessions
        val before = sm.totals
        val t0 = System.nanoTime()
        reader(client, mix, phase, t0 + len, log,
               if (phase == 1) Some(replay) else None).foreach(check)
        // the window closes when the session in flight at its end stops
        if (phase == 0) { measuredS = (System.nanoTime() - t0) / 1e9; sparkLayer(before, log.size) }
      }
      tr.on = false
      val reqs = log.toSeq
      reqs.foreach(r => check(r.status == 200))
      check(countsMatch(spark, dir, truth.get("counts")))
      val measured = reqs.filter(_.phase == 0)
      measured.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, rs) =>
        say(f"$k: ${rs.size} requests, p50 ${median(rs.map(_.ms))}%.0f ms, ${rs.map(_.ms.round).mkString(" ")}")
      }
      readLayer(measured)
      if (trace) {
        layer("trace.overhead_pct") =
          100.0 * (median(reqs.filter(_.phase == 1).map(_.ms)) / median(measured.map(_.ms)) - 1)
        sourcesLayer(dir)
      }
      Result(attempted, failed, layerMetrics ++ Map(
        "setup_s" -> (setupMs / 1000, "s"),
        "op_p50_ms" -> (median(measured.map(_.ms)), "ms"),
        "ops_per_s" -> (measured.size / measuredS, "1/s"),
        "stored_bytes_per_input_byte" -> (bytes.toDouble / in.bytes(all), "ratio")))
    }

    /** listen: one micro-batch per height (one block per chain, plus any
      * orphan twin) through `Listen.ingestBatch` over the pre-built
      * tables, back to back: [[ListenBatches]], then with trace on
      * [[TracedBatches]] more with spans. */
    def listen(): Result = {
      val base = in.lines.indices.filter(i => in.height(i) < baseH)
      val byHeight = in.lines.indices.filter(i => in.height(i) >= baseH).groupBy(in.height).toSeq.sortBy(_._1)
      // set-up: the prefix below the last base height in one batch, repeated;
      // then, once, the last base height as a first micro-batch (warms the
      // merge-into-existing path)
      val (prefix, first) = base.partition(i => in.height(i) < baseH - 1)
      val reps = (1 to SetupReps).map { i =>
        val dir = fresh(s"tables-$i")
        val (_, t) = timed(ingest(dir, prefix))
        say(f"setup $i: $t%.0f ms")
        (dir, t)
      }
      val (_, warmMs) = timed(ingest(reps.last._1, first))
      say(f"warm-up: $warmMs%.0f ms")
      val dir = reps.last._1
      val batches = mutable.ArrayBuffer.empty[(Int, Double, Int)]
      val plan = if (trace) Seq(0 -> ListenBatches, 1 -> TracedBatches) else Seq(0 -> ListenBatches)
      require(byHeight.size >= plan.map(_._2).sum,
              s"listen needs ${plan.map(_._2).sum} heights above the base, the chain has ${byHeight.size}")
      var h = 0
      var insertedTraced = 0L
      val (files0, bytes0) = tablesBytes(dir)
      for ((phase, n) <- plan) {
        if (phase == 1) tr.on = true
        val before = sm.totals
        for (_ <- 0 until n) {
          val ix = byHeight(h)._2
          val df = envelopes(spark, in, ix)
          val (counts, t) = timed(
            if (phase == 0) Listen.ingestBatch(spark, df, dir.toString)
            else tr.span("streaming.ingest_batch", h.toLong)(ingestTraced(df, dir)))
          batches += ((phase, t, ix.size))
          say(f"batch $h (${ix.size} blocks): $t%.0f ms")
          if (phase == 1) insertedTraced += counts.values.sum
          h += 1
        }
        if (phase == 0) sparkLayer(before, n)
      }
      tr.on = false
      check(countsMatch(spark, dir, truth.get("prefix_counts").get((baseH + h).toString)))
      val (files1, bytes1) = tablesBytes(dir)
      val inBytes = in.bytes(byHeight.take(h).flatMap(_._2))
      val untraced = batches.filter(_._1 == 0).toSeq
      if (trace) {
        ingestLayer(h, inBytes.toDouble, (bytes1 - bytes0).toDouble, (files1 - files0).toDouble,
                    insertedTraced.toDouble)
        layer("trace.overhead_pct") = 100.0 * (median(batches.filter(_._1 == 1).map(_._2).toSeq) /
                                               median(untraced.map(_._2)) - 1)
        sourcesLayer(dir)
      }
      layer("streaming.ingest_batch_ms_p50") = median(untraced.map(_._2))
      Result(attempted, failed, layerMetrics ++ Map(
        "setup_s" -> ((median(reps.map(_._2)) + warmMs) / 1000, "s"),
        "op_p50_ms" -> (median(untraced.map(_._2)), "ms"),
        "ops_per_s" -> (untraced.map(_._3).sum / (untraced.map(_._2).sum / 1000), "1/s"),
        "stored_bytes_per_input_byte" -> ((bytes1 - bytes0).toDouble / inBytes, "ratio")))
    }
  }
}
