package graft

import org.apache.spark.sql.SparkSession

/** CLI dispatcher mirroring the reference's subcommands
  * (chainweb-data exec/Main.hs:51-105 + lib/ChainwebData/Env.hs:384-402:
  * listen, server, fill — with the deprecated backfill/gaps aliases —
  * single, fill-events, backfill-transfers, migrate, richlist,
  * check-schema). A chainweb-data operator maps 1:1:
  *
  *   graft listen  <dropZone> <tableDir> <checkpoint>   — streaming ingest
  *   graft serve   <dataDir> <port> [tableDir]          — query API
  *   graft fill    <tableDir> [--node=<url> [--version=<v>]] (chain=genesis)*
  *                 — gap repair: plan only, or executed against the node
  *   graft single  <tableDir> <chainId> <height>        — one-block plan
  *   graft fill-events <tableDir> <startHeight>         — events gap plan
  *   graft backfill-transfers <tableDir> <activation> <numChains> [chunk]
  *   graft migrate <tableDir> [--check]                 — ordered migrations
  *   graft richlist <tableDir> <outDir>                 — maintenance pass
  *   graft check-schema <tableDir>                      — schema contract
  *   graft vacuum <tableDir> [keepLast]                 — manifest retention
  *   graft funnel <sfDir> [v1|v2|v3]                    — curation funnel counts
  *   graft index <sfDir> [compact|text]                 — persisted-index ops
  *
  * `server`, `gaps` and `backfill` are accepted as aliases (the reference
  * marks the latter two DEPRECATED; their work is the `fill` plan here —
  * missingIntervals covers both the interior holes and the pre-start
  * prefix the Backfill worker repaired).
  *
  * Handlers are session-in/lines-out so the spec can exercise every path
  * on fixture tables without owning JVM lifecycle; `main` only wires the
  * session, stdout, and exit codes.
  */
object Main {

  private def session(): SparkSession =
    GraftSession(sys.env.getOrElse("SPARK_MASTER", "local[*]"))

  /** `fill` — repair plan over the blocks table (one line per chunked
    * fetch request, newest-first per chain). */
  def fillCmd(spark: SparkSession, tables: String,
              genesis: Map[Long, Long]): Seq[String] =
    plans.Gaps.plan(spark.read.parquet(s"$tables/blocks"),
                    "chainid", "height", genesis)
      .map(r => s"${r.chainId}\t${r.lo}\t${r.hi}")

  /** The full `fill` argument surface — `[--node=<url>] [--version=<v>]`
    * flags plus `chain=genesisHeight` positionals — parsed and executed:
    * with a node URL the repair RUNS (`ingest.Fetch.fill`, the reference's
    * fill worker lifecycle, Lookups.hs:102-139) and reports per-table
    * insert counts; without one it prints the chunked plan. Session-in /
    * lines-out so CliSpec drives the exact `main` code path against a
    * mock node without owning JVM lifecycle. */
  def fillDispatch(spark: SparkSession, tables: String,
                   rest: List[String]): Seq[String] = {
    val (flags, genesis) = rest.partition(a =>
      a.startsWith("--node=") || a.startsWith("--version="))
    val g = genesis.map { kv =>
      val Array(c, h) = kv.split("="); c.toLong -> h.toLong
    }.toMap
    val node = flags.collectFirst {
      case f if f.startsWith("--node=") => f.stripPrefix("--node=") }
    val ver = flags.collectFirst {
      case f if f.startsWith("--version=") => f.stripPrefix("--version=") }
      .getOrElse("mainnet01")
    node match {
      case Some(base) =>
        val (plan, counts) = ingest.Fetch.fill(spark, base, ver, tables, g)
        s"ranges\t${plan.size}" +:
          counts.toSeq.sortBy(_._1)
            .map { case (t, n) => s"inserted\t$t\t$n" }
      case None => fillCmd(spark, tables, g)
    }
  }

  /** `single` — the one-block fetch request of exec/Main.hs `Single cid h`
    * (Worker.hs writeBlocks at a single chain/height), plus whether the
    * block is already present (the reference logs the overwrite). */
  def singleCmd(spark: SparkSession, tables: String, chainId: Long,
                height: Long): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val present = spark.read.parquet(s"$tables/blocks")
      .filter(col("chainid") === chainId && col("height") === height)
      .limit(1).count() > 0
    Seq(s"$chainId\t$height\t$height\t" +
        (if (present) "present(rewrite)" else "missing"))
  }

  /** `fill-events` — coinbase-gap plan over the events table
    * (FillEvents.hs:98-124), chunked into node-sized requests. */
  def fillEventsCmd(spark: SparkSession, tables: String,
                    startHeight: Long): Seq[String] =
    plans.Gaps.coinbaseGaps(spark.read.parquet(s"$tables/events"),
                            "chainid", "height", startHeight)
      .flatMap(r => plans.RangePlan.descChunks(r.chainId, r.lo, r.hi))
      .map(r => s"${r.chainId}\t${r.lo}\t${r.hi}")

  /** `backfill-transfers` — descending insert windows + the effective
    * TRANSFER total (the reference's progress denominator,
    * BackfillTransfers.hs:62-99,151-152). */
  def backfillTransfersCmd(spark: SparkSession, tables: String,
                           activation: Long, numChains: Int,
                           chunk: Int): Seq[String] = {
    val p = plans.Gaps.transfersBackfillPlan(
      spark.read.parquet(s"$tables/transfers"),
      spark.read.parquet(s"$tables/events"),
      activation, numChains, chunk)
    s"effective_total\t${p.effectiveTotal}" +:
      p.windows.map { case (lo, hi) => s"window\t$lo\t$hi" }
  }

  /** `migrate [--check]` — the reference's MigrateOnly path
    * (Migration.hs RunMigrations/CheckMigrations) over the default step
    * list. Left = ledger inconsistency (exit 1 in main). */
  def migrateCmd(spark: SparkSession, tables: String,
                 checkOnly: Boolean): Either[String, Seq[String]] = {
    val steps = ingest.Migrations.defaultSteps(spark, tables)
    if (checkOnly) ingest.Migrations.check(tables, steps)
    else ingest.Migrations.run(spark, tables, steps)
  }

  /** `funnel` — the curation pipeline face (beyond reference parity: the
    * LLM-data surface): run [[operators.TrainPrep.q104CurationFunnel]]
    * (or v2/v3 when asked) over a documents table and print the
    * per-stage survivor counts. */
  def funnelCmd(spark: SparkSession, sfDir: String,
                version: String = "v1"): Seq[String] = {
    val df = version match {
      case "v3" => operators.TrainPrep.q149FunnelV3(spark, sfDir)
      case "v2" => operators.TrainPrep.q116FunnelV2(spark, sfDir)
      case _    => operators.TrainPrep.q104CurationFunnel(spark, sfDir)
    }
    df.collect().map(r => s"${r.getString(0)}\t${r.getLong(1)}").toSeq
  }

  /** `card` — print the per-source DATASET CARD
    * ([[operators.DataCard.q181DataCard]]) as a TSV with a header row:
    * the datasheet a release ships next to its parquet. */
  def cardCmd(spark: SparkSession, sfDir: String): Seq[String] =
    tsv(operators.DataCard.q181DataCard(spark, sfDir))

  /** `vacuum` — snapshot-manifest retention over every table under
    * `tables` that has a `_manifests/` directory ([[sources.Snapshots
    * .vacuum]]): keeps the newest `keep` versions, prints one line per
    * table. The ingest-side maintenance pass a long-running `listen`
    * deployment schedules next to `richlist`. */
  def vacuumCmd(spark: SparkSession, tables: String, keep: Int): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(tables)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(root)) Seq(s"no such directory: $tables")
    else f.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        f.exists(new org.apache.hadoop.fs.Path(st.getPath, "_manifests")))
      .sortBy(_.getPath.getName)
      .map { st =>
        val dropped = sources.Snapshots.vacuum(spark, st.getPath.toString, keep)
        s"${st.getPath.getName}\tdropped=${dropped.size}\tkeep=$keep"
      }
  }

  def indexCmd(spark: SparkSession, sfDir: String): Seq[String] =
    tsv(operators.Similarity.indexLifecycleStats(spark, sfDir))

  /** `graft index <sfDir> text` — the sparse twin of the IVF lifecycle
    * verb: build the persisted inverted index (bucket-partitioned BM25
    * postings, [[operators.Retrieval.buildTextIndex]]) and print the
    * per-bucket accounting plus a serve-from-storage smoke (top hit per
    * query via the pruned q264 path). */
  def indexTextCmd(spark: SparkSession, sfDir: String): Seq[String] = {
    // materialize the accounting BEFORE q264's rebuild overwrites the
    // postings files its lazy plan points at (overwrite = new part names)
    val acct = tsv(operators.Retrieval.q263TextIndexBuild(spark, sfDir))
    val serve = operators.Retrieval.q264TextIndexQuery(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("rank") === 1L)
    acct ++ Seq("--- top hit per query (served from storage) ---") ++
      tsv(serve)
  }

  /** `graft index <sfDir> text upsert` — build the lifecycle store from
    * the base slice and merge the batch (replayed twice — the second merge
    * must be a no-op); print the committed stats version and the
    * post-upsert per-bucket accounting (n_added = merged batch postings). */
  def indexTextUpsertCmd(spark: SparkSession, sfDir: String): Seq[String] = {
    val store = operators.Retrieval.textLifecycleStore(spark, sfDir)
    val (v, n, dl) = operators.Retrieval.latestTextStats(spark, store)
    s"stats\tversion=$v\tn_docs=$n\ttotal_dl=$dl" +:
      tsv(operators.Retrieval.textStoreAccounting(spark, store))
  }

  /** `graft index <sfDir> text compact` — the full verb chain (build →
    * upsert → tombstone-delete → compact); print the affected buckets,
    * the exact-refreshed stats version, and the conservation accounting
    * (residual tombstones must be 0). */
  def indexTextCompactCmd(spark: SparkSession, sfDir: String): Seq[String] = {
    val store = operators.Retrieval.textDeletedStore(spark, sfDir)
    val affected = operators.Retrieval.textCompact(spark, store)
    val (v, n, dl) = operators.Retrieval.latestTextStats(spark, store)
    val nTomb = spark.read.parquet(s"$store/tombstones").count()
    Seq(s"compacted buckets: ${affected.mkString(",")}",
        s"stats\tversion=$v\tn_docs=$n\ttotal_dl=$dl\ttombstones=$nTomb") ++
      tsv(operators.Retrieval.textStoreAccounting(spark, store))
  }

  /** `graft maintain <tablesDir> <outDir> [keepLast]` — the reference's
    * scheduled maintenance loop (Server.hs:184-210 runs richlist + coins +
    * fill on a 24 h cadence) as ONE idempotent entry point that sequences
    * every housekeeping verb this engine has:
    *   1. the richlist/supply/stats maintenance pass
    *      ([[plans.Maintenance.run]] — also emits the gap-repair plan),
    *   2. snapshot-manifest vacuum over the ingested tables
    *      ([[sources.Snapshots.vacuum]]),
    *   3. compaction of any persisted index store that has accumulated
    *      tombstones (IVF cells + text buckets — the segment-merge pass).
    * Re-running immediately is a no-op beyond the recomputed richlist:
    * vacuum keeps the same window and both compactions see empty
    * tombstone tables. */
  def maintainCmd(spark: SparkSession, tables: String, out: String,
                  keep: Int): Seq[String] = {
    val rep = plans.Maintenance.run(spark, tables, out, genesis = Map.empty)
    val head = Seq(
      s"richlist\trows=${rep.richlistRows}\tsupply=${rep.totalSupply}",
      s"gaps\tchunks=${rep.gapChunks}")
    val vac = vacuumCmd(spark, tables, keep).map(l => s"vacuum\t$l")
    val stores = Seq(
      "graft_ivf_upsert_store" -> "ivf",
      "graft_text_lifecycle" -> "text")
    val compacts = stores.map { case (name, kind) =>
      val store = Stores.path(spark, name)
      val tombPath = new org.apache.hadoop.fs.Path(s"$store/tombstones")
      val fs = tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(tombPath)) s"compact\t$kind\tno store"
      else {
        val nTomb = spark.read.parquet(s"$store/tombstones").count()
        if (nTomb == 0) s"compact\t$kind\tclean"
        else {
          val affected = kind match {
            case "ivf" => operators.Similarity.compactStore(spark, store).size
            case _     => operators.Retrieval.textCompact(spark, store).size
          }
          s"compact\t$kind\ttombstones=$nTomb\taffected=$affected"
        }
      }
    }
    head ++ vac ++ compacts
  }

  /** `graft index <sfDir> compact` — run the lifecycle THEN the compaction
    * pass (rewrite tombstone-affected cells, clear the side table) and
    * print the post-compaction accounting: conservation means every row
    * reads base′ = live and deleted′ = 0. */
  def indexCompactCmd(spark: SparkSession, sfDir: String): Seq[String] = {
    val store = operators.Similarity.indexLifecycleStore(spark, sfDir)
    val affected = operators.Similarity.compactStore(spark, store)
    s"compacted cells: ${affected.mkString(",")}" +:
      tsv(operators.Similarity.storeStats(spark, store))
  }

  /** A relation as TSV lines: the column names, then one line per row. */
  private def tsv(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.columns.mkString("\t") +:
      df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("\t"))

  /** Run a verb on a fresh session, print its lines, stop the session. */
  private def printAll(verb: SparkSession => Seq[String]): Unit = {
    val spark = session()
    verb(spark).foreach(println)
    spark.stop()
  }

  /** `vacuum`'s and `maintain`'s optional `[keepLast]` (default 16). */
  private def keepLastArg(cmd: String, rest: List[String]): Int =
    rest.headOption.map { k =>
      try k.toInt catch { case _: NumberFormatException =>
        System.err.println(s"$cmd: keepLast must be a number, got: $k")
        sys.exit(2)
      }
    }.getOrElse(16)

  def main(args: Array[String]): Unit = args.toList match {
    case "listen" :: zone :: tables :: ckpt :: Nil =>
      val q = streaming.Listen.stream(session(), zone, tables, ckpt)
      q.awaitTermination()

    case ("serve" | "server") :: dataDir :: port :: rest =>
      val api = new server.Api(session(), dataDir, port.toInt, rest.headOption)
      api.start()
      println(s"serving on :${api.boundPort}")
      Thread.currentThread.join()

    // With --node the plan is EXECUTED against the node (plan → fetch →
    // flatten → merge, the reference's fill worker); without it the plan is
    // printed for an out-of-engine fetcher, as before.
    case ("fill" | "gaps" | "backfill") :: tables :: rest =>
      printAll(fillDispatch(_, tables, rest))

    case "single" :: tables :: cid :: height :: Nil =>
      printAll(singleCmd(_, tables, cid.toLong, height.toLong))

    case "fill-events" :: tables :: start :: Nil =>
      printAll(fillEventsCmd(_, tables, start.toLong))

    case "backfill-transfers" :: tables :: activation :: chains :: rest =>
      printAll(backfillTransfersCmd(_, tables, activation.toLong, chains.toInt,
                                    rest.headOption.map(_.toInt).getOrElse(200)))

    case "migrate" :: tables :: rest =>
      val spark = session()
      val out = migrateCmd(spark, tables, rest.contains("--check"))
      spark.stop()
      out match {
        case Left(err)   => System.err.println(err); sys.exit(1)
        case Right(done) => done.foreach(n => println(s"applied\t$n"))
      }

    // JDBC mode (S7): url is a template with a {chain} placeholder, e.g.
    // jdbc:sqlite:/db/pact-v1-chain-{chain}.sqlite — one DB per chain,
    // like the reference's per-chain sqlite files (RichList.hs:35-78)
    case "richlist" :: url :: out :: chains :: Nil if url.startsWith("jdbc:") =>
      val spark = session()
      val urls = (0L until chains.toLong)
        .map(c => c -> url.replace("{chain}", c.toString)).toMap
      val top = operators.RichList.topBalancesJdbc(spark, urls)
      operators.RichList.writeCsv(top, out)
      println(s"richlist=${top.count()}")
      spark.stop()

    case "richlist" :: tables :: out :: Nil =>
      val spark = session()
      val rep = plans.Maintenance.run(spark, tables, out, genesis = Map.empty)
      println(s"richlist=${rep.richlistRows} supply=${rep.totalSupply}")
      spark.stop()

    case "funnel" :: sfDir :: rest if rest.size <= 1 =>
      printAll(funnelCmd(_, sfDir, rest.headOption.getOrElse("v1")))

    case "card" :: sfDir :: Nil =>
      printAll(cardCmd(_, sfDir))

    // `graft index <sfDir>` — persisted-IVF maintenance lifecycle
    // (build → upsert → tombstone) with the per-cell accounting TSV a
    // rebalance/compaction planner consumes (the q249/q245/q258 CRUD
    // story as one operational command).
    case "index" :: sfDir :: Nil =>
      printAll(indexCmd(_, sfDir))

    // `graft index <sfDir> compact` — the maintenance pass that reclaims
    // tombstoned rows (q259/q260; the reference analog: the scheduled
    // maintenance loop, Server.hs:184-210).
    case "index" :: sfDir :: "compact" :: Nil =>
      printAll(indexCompactCmd(_, sfDir))

    // `graft index <sfDir> text` — build + smoke the persisted inverted
    // index (q263/q264), the sparse side of the serving story.
    case "index" :: sfDir :: "text" :: Nil =>
      printAll(indexTextCmd(_, sfDir))

    // `graft index <sfDir> text upsert|compact` — the text-index
    // maintenance lifecycle (q266-q270): affected-bucket merges with
    // versioned stats, tombstone compaction with conservation accounting.
    case "index" :: sfDir :: "text" :: "upsert" :: Nil =>
      printAll(indexTextUpsertCmd(_, sfDir))

    case "index" :: sfDir :: "text" :: "compact" :: Nil =>
      printAll(indexTextCompactCmd(_, sfDir))

    // `graft maintain <tablesDir> <outDir> [keepLast]` — the scheduled
    // nightly pass: richlist/supply/stats + manifest vacuum + index-store
    // compaction in one idempotent sequence (Server.hs:184-210 cadence).
    case "maintain" :: tables :: out :: rest if rest.size <= 1 =>
      val keep = keepLastArg("maintain", rest)
      printAll(maintainCmd(_, tables, out, keep))

    // `graft vacuum <tableDir> [keepLast]` — drop superseded snapshot
    // manifests (bounded per-request `_manifests/` listing; see
    // sources.Snapshots.vacuum).
    case "vacuum" :: tables :: rest if rest.size <= 1 =>
      val keep = keepLastArg("vacuum", rest)
      printAll(vacuumCmd(_, tables, keep))

    case "check-schema" :: tables :: Nil =>
      val spark = session()
      val bad = ingest.Schemas.check(spark, tables)
      bad.foreach { case (t, why) => System.err.println(s"$t: $why") }
      spark.stop()
      if (bad.nonEmpty) sys.exit(1)

    case other =>
      System.err.println(
        s"""unknown command: ${other.mkString(" ")}
           |usage: listen|serve|fill|single|fill-events|backfill-transfers|
           |       migrate|richlist|check-schema|funnel|card|index|vacuum|
           |       maintain  (see scaladoc)""".stripMargin)
      sys.exit(2)
  }
}
