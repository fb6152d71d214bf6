package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** CLI dispatch parity (exec/Main.hs:51-105): every subcommand handler is
  * exercised on fixture tables — fill, single, fill-events,
  * backfill-transfers, migrate run/check. `Main.main` itself only wires
  * stdout/exit codes around these handlers. */
class CliSpec extends AnyFunSuite with SparkSpec {

  private def tmpTables(): String =
    Files.createTempDirectory("graft-cli").toString

  test("fill: interior hole + genesis prefix, chunked newest-first") {
    import spark.implicits._
    val dir = tmpTables()
    // chain 0: heights 2..5 and 9..10 present → hole 6..8, prefix 0..1
    (Seq(2L, 3L, 4L, 5L, 9L, 10L).map((0L, _)))
      .toDF("chainid", "height").write.parquet(s"$dir/blocks")
    // intervals are (chain, lo)-sorted; descChunks orders WITHIN a range
    val lines = Main.fillCmd(spark, dir, genesis = Map(0L -> 0L))
    assert(lines == Seq("0\t0\t1", "0\t6\t8"))
  }

  test("fill --node=<url>: CLI-invoked repair of a holed table end-to-end") {
    // Seed a real multi-table store with a hole: chain 0 has {100, 103}.
    val dir = Fixtures.ingest(spark, Seq(100L, 103L).map(h =>
      Fixtures.mkHeader(0L, h) -> Fixtures.mkPayload(0L, h)): _*)

    // Mock node answering the blocksBetween contract (Lookups.hs:102-139).
    val server = graft.server.Api.httpServer(new java.net.InetSocketAddress("localhost", 0))
    server.createContext("/chainweb/0.0/test/chain",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val cid = ex.getRequestURI.getPath.split("/")(5).toLong
        val q = ex.getRequestURI.getQuery.split("&")
          .map(_.split("=")).map(kv => kv(0) -> kv(1).toLong).toMap
        val items = (q("minheight") to q("maxheight"))
          .map(h => Fixtures.mkItem(cid, h)).mkString(",")
        val resp = s"""{"items":[$items]}""".getBytes("UTF-8")
        ex.sendResponseHeaders(200, resp.length.toLong)
        ex.getResponseBody.write(resp)
        ex.close()
      })
    server.start()
    try {
      val base = s"http://localhost:${server.getAddress.getPort}"
      // The exact argv `main` would receive after the subcommand + dir.
      val lines = Main.fillDispatch(spark, dir,
        List(s"--node=$base", "--version=test", "0=100"))
      assert(lines.head == "ranges\t1")
      assert(lines.contains("inserted\tblocks\t2")) // 101, 102
      // repaired: the plan-only mode now reports nothing to fill
      assert(Main.fillDispatch(spark, dir, List("0=100")).isEmpty)
      // replay is a no-op (effectively-once through the CLI path too)
      val again = Main.fillDispatch(spark, dir,
        List(s"--node=$base", "--version=test", "0=100"))
      assert(again == Seq("ranges\t0"))
    } finally server.stop(0)
  }

  test("card: TSV dataset card with one row per source, matching q181") {
    val lines = Main.cardCmd(spark, "/root/testdata/sf0.001")
    val nSources = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("source").distinct().count()
    assert(lines.length === nSources + 1) // header + rows
    assert(lines.head.startsWith("source\t"))
    val cols = lines.head.split("\t").length
    assert(lines.tail.forall(_.split("\t").length === cols))
  }

  test("index: lifecycle TSV — cell accounting conserves the corpus and " +
       "live = after - deleted") {
    val lines = Main.indexCmd(spark, "/root/testdata/sf0.001")
    assert(lines.head ==
      "cell\tsz_base\tn_added\tsz_after\tn_deleted\tsz_live")
    val rows = lines.tail.map(_.split("\t").map(_.toLong))
    assert(rows.nonEmpty)
    val total = Tables.embeddings(spark, "/root/testdata/sf0.001").count()
    assert(rows.map(_(3)).sum === total) // every vector in exactly one cell
    rows.foreach { r =>
      assert(r(1) + r(2) === r(3), s"base+added != after: ${r.toSeq}")
      assert(r(3) - r(4) === r(5), s"after-deleted != live: ${r.toSeq}")
      assert(r(4) >= 0 && r(4) <= r(3))
    }
    assert(rows.map(_(4)).sum > 0, "tombstone slice empty")
  }

  test("index compact: accounting conservation — live rows preserved, " +
       "base' = live, deleted' = 0") {
    // pre-compaction lifecycle accounting (rebuilds the store fresh)
    val pre = Main.indexCmd(spark, "/root/testdata/sf0.001")
      .tail.map(_.split("\t").map(_.toLong))
    val preLive = pre.map(_(5)).sum
    assert(pre.map(_(4)).sum > 0, "nothing tombstoned — compaction untestable")
    // compact (rebuilds, tombstones, rewrites affected cells)
    val lines = Main.indexCompactCmd(spark, "/root/testdata/sf0.001")
    assert(lines.head.startsWith("compacted cells:"))
    assert(lines.head.length > "compacted cells: ".length - 1,
      "no cells were affected")
    assert(lines(1) === "cell\tsz_base\tn_added\tsz_after\tn_deleted\tsz_live")
    val rows = lines.drop(2).map(_.split("\t").map(_.toLong))
    // conservation: post-compaction store holds exactly the live rows
    assert(rows.map(_(3)).sum === preLive)
    rows.foreach { r =>
      assert(r(4) === 0L, s"tombstones not cleared: ${r.toSeq}")
      assert(r(3) === r(5), s"after' != live': ${r.toSeq}")
    }
  }

  test("single: present vs missing") {
    import spark.implicits._
    val dir = tmpTables()
    Seq((0L, 7L)).toDF("chainid", "height").write.parquet(s"$dir/blocks")
    assert(Main.singleCmd(spark, dir, 0L, 7L) == Seq("0\t7\t7\tpresent(rewrite)"))
    assert(Main.singleCmd(spark, dir, 0L, 8L) == Seq("0\t8\t8\tmissing"))
    assert(Main.singleCmd(spark, dir, 1L, 7L) == Seq("1\t7\t7\tmissing"))
  }

  test("fill-events: coinbase gaps from the events table, with start prefix") {
    import spark.implicits._
    val dir = tmpTables()
    // chain 0 events at heights 3,4,4,7 (dupes = multiple events per
    // block) → hole 5..6 and prefix 1..2 from startingHeight=1
    Seq((0L, 3L), (0L, 4L), (0L, 4L), (0L, 7L))
      .toDF("chainid", "height").write.parquet(s"$dir/events")
    val lines = Main.fillEventsCmd(spark, dir, startHeight = 1L)
    assert(lines == Seq("0\t1\t2", "0\t5\t6"))
  }

  test("backfill-transfers: windows + effective TRANSFER total; fails " +
       "fast when a chain has no transfers") {
    import spark.implicits._
    val dir = tmpTables()
    // transfers exist down to min height 6 (chain 0) / 9 (chain 1)
    Seq((0L, 6L), (0L, 8L), (1L, 9L))
      .toDF("chainid", "height").write.parquet(s"$dir/transfers")
    // events in [activation=2, maxMin=9]: 3 TRANSFER + 1 other
    Seq((0L, 2L, "TRANSFER"), (0L, 5L, "TRANSFER"), (1L, 9L, "TRANSFER"),
        (0L, 4L, "other"), (0L, 12L, "TRANSFER"))
      .toDF("chainid", "height", "name").write.parquet(s"$dir/events")
    val lines = Main.backfillTransfersCmd(spark, dir, activation = 2L,
                                          numChains = 2, chunk = 5)
    assert(lines.head == "effective_total\t3")
    // rangeToDescGroupsOf 5 over [2,9]: (5..9),(2..4) descending
    assert(lines.tail == Seq("window\t5\t9", "window\t2\t4"))
    val err = intercept[IllegalArgumentException] {
      Main.backfillTransfersCmd(spark, dir, 2L, numChains = 3, chunk = 5)
    }
    assert(err.getMessage.contains("every chain"))
  }

  test("migrate: run creates canonical tables, check is then clean, " +
       "rerun is a no-op") {
    val dir = tmpTables()
    val applied = Main.migrateCmd(spark, dir, checkOnly = false)
    assert(applied == Right(Seq("1.0_create_tables")))
    // the created empties satisfy the schema contract
    assert(ingest.Schemas.check(spark, dir).isEmpty)
    // check-only now reports nothing to run; rerun applies nothing
    assert(Main.migrateCmd(spark, dir, checkOnly = true) == Right(Seq.empty))
    assert(Main.migrateCmd(spark, dir, checkOnly = false) == Right(Seq.empty))
  }

  test("funnel: per-stage survivor counts in stage order, monotone through " +
       "the doc stages") {
    val lines = Main.funnelCmd(spark, "/root/testdata/sf0.001")
    val stages = lines.map(_.split("\t")).map(a => a(0) -> a(1).toLong)
    assert(stages.map(_._1) ==
      Seq("0_all", "1_dedup", "2_decon", "3_quality", "4_sample", "5_packs"))
    val docCounts = stages.init.map(_._2) // every stage filters the last
    assert(docCounts == docCounts.sorted.reverse && docCounts.head > 0)
    assert(stages.last._2 > 0) // some packs survive on the fixture
  }

  test("funnel v3: the hygiene pipeline dispatches and reports its stages") {
    val lines = Main.funnelCmd(spark, "/root/testdata/sf0.001", "v3")
    val stages = lines.map(_.split("\t")).map(a => a(0) -> a(1).toLong)
    assert(stages.map(_._1) ==
      Seq("0_all", "1_urlgate", "2_redacted", "3_dedup", "4_sample"))
    assert(stages.head._2 > stages(1)._2) // the URL gate drops docs
  }

  test("index text upsert: merged accounting + exact stats version; " +
       "n_added postings present in their buckets") {
    val lines = Main.indexTextUpsertCmd(spark, "/root/testdata/sf0.001")
    assert(lines.head.startsWith("stats\tversion=2\t"),
      s"upsert did not commit stats v2: ${lines.head}")
    assert(lines(1) ===
      "bucket\tn_terms\tn_postings\tsum_tf\tmax_df\tn_added")
    val rows = lines.drop(2).map(_.split("\t").map(_.toLong))
    assert(rows.nonEmpty && rows.map(_(5)).sum > 0, "no batch postings merged")
    rows.foreach(r => assert(r(5) <= r(2), s"n_added > n_postings: ${r.toSeq}"))
    // stats v2 = the full corpus (base + batch, exact incremental refresh)
    val nDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .count()
    assert(lines.head.contains(s"n_docs=$nDocs"))
  }

  test("index text compact: conservation — tombstones cleared, stats " +
       "exactly refreshed to the live corpus") {
    val lines = Main.indexTextCompactCmd(spark, "/root/testdata/sf0.001")
    assert(lines.head.startsWith("compacted buckets:"))
    assert(lines.head.length > "compacted buckets: ".length - 1,
      "no buckets were affected")
    assert(lines(1).contains("version=3") && lines(1).contains("tombstones=0"),
      s"stats not refreshed / tombstones not cleared: ${lines(1)}")
    val live = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where("doc_id % 11 != 5").count()
    assert(lines(1).contains(s"n_docs=$live"),
      s"stats n_docs != live corpus: ${lines(1)}")
    val rows = lines.drop(3).map(_.split("\t").map(_.toLong))
    assert(rows.nonEmpty)
    // no posting of a deleted doc survives in any bucket's counts: the
    // total posting mass equals a live-corpus recompute
    val direct = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where("doc_id % 11 != 5")
      .selectExpr("doc_id",
        "explode(split(lower(text), '\\\\s+')) AS term")
      .groupBy("doc_id", "term").count()
    assert(rows.map(_(2)).sum === direct.count())
  }

  test("maintain: sequences richlist + gaps + vacuum + index compaction " +
       "in one pass; the immediate re-run is a no-op on the stores") {
    // header1/payload1: the full fixture block (user txs included), so the
    // maintenance pass finds blocks + transfers + transactions
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1)
    val out = Files.createTempDirectory("graft-maint").toString
    // seed a text store with pending tombstones so the compaction arm works
    operators.Retrieval.textDeletedStore(spark, "/root/testdata/sf0.001"): Unit
    val lines = Main.maintainCmd(spark, dir, out, keep = 4)
    assert(lines.exists(_.startsWith("richlist\trows=")))
    assert(lines.exists(_.startsWith("gaps\tchunks=")))
    assert(lines.exists(_.startsWith("vacuum\t")), s"no vacuum lines:\n$lines")
    val textLine = lines.find(_.startsWith("compact\ttext")).get
    assert(textLine.contains("tombstones="),
      s"seeded text store not compacted: $textLine")
    assert(lines.exists(_.startsWith("compact\tivf"))) // arm always reports
    // the richlist CSV landed where the serving tier reads it
    assert(new java.io.File(s"$out/richlist").exists())
    // idempotent: the store arms find nothing to do on the second pass
    val again = Main.maintainCmd(spark, dir, out, keep = 4)
    assert(again.find(_.startsWith("compact\ttext"))
      .exists(_.endsWith("clean")), s"re-run not clean:\n$again")
  }

  test("index text: builds the inverted index, prints per-bucket " +
       "accounting and a served top hit per query") {
    val lines = Main.indexTextCmd(spark, "/root/testdata/sf0.001")
    assert(lines.head === "bucket\tn_terms\tn_postings\tsum_tf\tmax_df")
    val sep = lines.indexWhere(_.startsWith("--- top hit"))
    assert(sep > 1, "no accounting rows before the separator")
    val acct = lines.slice(1, sep).map(_.split("\t").map(_.toLong))
    assert(acct.forall(r => r(1) > 0 && r(2) >= r(1)))
    val serve = lines.drop(sep + 2).map(_.split("\t"))
    assert(serve.nonEmpty && serve.forall(_(1) == "1")) // rank == 1 rows
    assert(serve.map(_(0)).distinct.length === serve.length) // one per query
  }
}
