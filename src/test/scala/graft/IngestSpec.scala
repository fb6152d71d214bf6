package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.ingest.{Flatten, Upsert}
import graft.streaming.Listen
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Flattening semantics ported from the reference (fixture is hand-built to
  * the wire shapes of chainweb-data exec/Chainweb/Lookups.hs:141-160):
  * coinbase 'cb' sentinel, qualname namespace composition, TRANSFER shape
  * filter, amount cascade, signer×sig zip, exec/cont + good/bad splits,
  * and idempotent PK merge (replay = no-op). */
class IngestSpec extends AnyFunSuite with SparkSpec {

  private def flattened = {
    import spark.implicits._
    val hp = Flatten.joined(
      Flatten.parseHeaders(Seq(Fixtures.header1).toDF("value")),
      Flatten.parsePayloads(Seq(Fixtures.payload1).toDF("value")))
    Flatten.allTables(hp)
  }

  test("blocks/minerkeys flatten") {
    val b = flattened("blocks")._1.collect()
    assert(b.length === 1)
    assert(b.head.getAs[String]("miner") === "miner1")
    assert(b.head.getAs[String]("target") === "9876543210") // 80-digit-safe string
    assert(flattened("minerkeys")._1.collect().map(_.getAs[String]("key")).sorted
      === Array("k1", "k2"))
  }

  test("transactions: exec/cont and good/bad result splits") {
    val tx = flattened("transactions")._1.collect()
      .map(r => r.getAs[String]("requestkey") -> r).toMap
    assert(tx("rk1").getAs[String]("code").startsWith("(coin.transfer"))
    assert(tx("rk1").getAs[String]("pactid") === null)
    assert(tx("rk1").getAs[String]("goodresult") != null)
    assert(tx("rk1").getAs[String]("badresult") === null)
    assert(tx("rk1").getAs[Long]("num_events") === 3)
    assert(tx("rk2").getAs[String]("code") === null) // continuation
    assert(tx("rk2").getAs[String]("pactid") === "rk1")
    assert(tx("rk2").getAs[String]("goodresult") === null)
    assert(tx("rk2").getAs[String]("badresult").contains("boom"))
  }

  test("events: coinbase sentinel and qualname composition") {
    val ev = flattened("events")._1.collect()
    assert(ev.length === 7) // 3 + 1 + 2 + 1 coinbase
    val cb = ev.filter(_.getAs[String]("requestkey") == "cb")
    assert(cb.length === 1 && cb.head.getAs[String]("qualname") === "coin.TRANSFER")
    val quals = ev.map(_.getAs[String]("qualname")).toSet
    assert(quals.contains("ns1.tok.TRANSFER")) // namespaced
    assert(quals.contains("coin.NOTIFY"))
  }

  test("signers: signer × sig zip by idx") {
    val s = flattened("signers")._1.collect()
      .map(r => (r.getAs[String]("requestkey"), r.getAs[Int]("idx"),
                 r.getAs[String]("pubkey"), r.getAs[String]("sig"))).sorted
    assert(s === Array(("rk1", 0, "pkA", "sigA"), ("rk1", 1, "pkB", "sigB"),
                       ("rk2", 0, "pkC", "sigC"), ("rk3", 0, "pkD", "sigD")))
  }

  test("transfers: TRANSFER shape filter + amount cascade") {
    val t = flattened("transfers")._1.collect()
      .map(r => (r.getAs[String]("requestkey"), r.getAs[String]("from_acct"),
                 r.getAs[String]("to_acct"),
                 r.getAs[java.math.BigDecimal]("amount").doubleValue))
    // NOTIFY (1 param) excluded; decimal/int/number/string cascades all land.
    assert(t.toSet === Set(
      ("rk1", "alice", "bob", 1.5),    // {"decimal":"1.5"}
      ("rk1", "alice", "carol", 2.0),  // {"int":2}
      ("rk2", "bob", "dave", 3.25),    // "3.25" string
      ("rk3", "alice", "", 4.5),       // x-chain send: empty to_acct
      ("cb", "", "miner1", 0.98)))     // bare number, coinbase row
  }

  test("upsert merge is idempotent (replay = no-op)") {
    val dir = Files.createTempDirectory("graft_upsert").toString
    val first = Upsert.mergeAll(spark, dir, flattened)
    assert(first("blocks") === 1 && first("events") === 7 && first("transfers") === 5)
    val replay = Upsert.mergeAll(spark, dir, flattened)
    assert(replay.values.sum === 0)
    assert(spark.read.parquet(s"$dir/events").count() === 7)
  }

  private def twoBlocks = {
    import spark.implicits._
    Flatten.allTables(Flatten.joined(
      Flatten.parseHeaders(Seq(Fixtures.header1, Fixtures.header2).toDF("value")),
      Flatten.parsePayloads(Seq(Fixtures.payload1, Fixtures.payload2).toDF("value"))))
  }

  private def liveMergeThreads =
    Thread.getAllStackTraces.keySet.asScala.filter(t => t.getName.startsWith("graft-upsert-") && t.isAlive)

  test("mergeAll: one failed table merge leaves the other five committed, and a replay converges") {
    val dir = Files.createTempDirectory("graft_upsert_fail")
    Files.writeString(dir.resolve("events"), "not a table") // blocks the events path
    intercept[Exception](Upsert.mergeAll(spark, dir.toString, twoBlocks))
    assert(liveMergeThreads.isEmpty)
    val others = twoBlocks.keySet - "events"
    others.foreach { t =>
      val manifests = dir.resolve(t).resolve("_manifests").toFile.list().filter(_.endsWith(".manifest"))
      assert(manifests.length === 1, t)
    }

    Files.delete(dir.resolve("events"))
    val replay = Upsert.mergeAll(spark, dir.toString, twoBlocks)
    assert(replay("events") > 0 && others.forall(replay(_) === 0))
    val clean = Files.createTempDirectory("graft_upsert_clean").toString
    Upsert.mergeAll(spark, clean, twoBlocks): Unit
    twoBlocks.foreach { case (t, (_, pk)) =>
      val got = spark.read.parquet(s"$dir/$t")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(got) === rows(spark.read.parquet(s"$clean/$t")), t)
      assert(got.select(pk.map(col): _*).distinct().count() === got.count(), t)
    }
  }

  test("mergeAll: every merge job runs under the caller's job group") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = e.properties
        groups.add((p.getProperty("spark.jobGroup.id"), p.getProperty("spark.job.description"),
                    p.getProperty("spark.job.interruptOnCancel")))
      }
    }
    // A job under its own group marks each end of the window: the listener
    // bus delivers job starts in order, so once the closing marker is seen
    // every merge job before it has been seen too.
    def marker(name: String): Unit = {
      sc.setJobGroup(name, name)
      spark.range(1).count(): Unit
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.asScala.exists(_._1 == name) && System.nanoTime() < deadline) Thread.sleep(20)
      sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker("before")
      sc.setJobGroup("g", "d", interruptOnCancel = true)
      try Upsert.mergeAll(spark, Files.createTempDirectory("graft_upsert_group").toString, twoBlocks): Unit
      finally sc.clearJobGroup()
      marker("after")
    } finally sc.removeSparkListener(listener)
    val window = groups.asScala.toSeq.dropWhile(_._1 != "before").dropWhile(_._1 == "before")
      .takeWhile(_._1 != "after")
    assert(window.size >= 6)
    assert(window.forall(_ == (("g", "d", "true"))), window)
  }

  test("upsert merge into a file: URI path is idempotent (replay = no-op)") {
    val uri = Files.createTempDirectory("graft_upsert_uri").toUri.toString + "blocks"
    val (blocks, pk) = twoBlocks("blocks")
    assert(Upsert.merge(spark, uri, blocks, pk) === 2)
    assert(Upsert.merge(spark, uri, blocks, pk) === 0)
    assert(spark.read.parquet(uri).count() === 2)
  }

  private def envelopeOf(h: String, p: String) = s"""{"header":$h,"payload":$p}"""

  /** A batch that inserts into all six tables and spreads over every
    * shuffle partition: the two fixture blocks plus `n` minimal ones. */
  private def batchLines(n: Int): Seq[String] =
    Seq(Fixtures.envelope1, envelopeOf(Fixtures.header2, Fixtures.payload2)) ++
      (1 to n).map(h => envelopeOf(Fixtures.mkHeader(7, h.toLong), Fixtures.mkPayload(7, h.toLong)))

  private def parquetFiles(table: java.nio.file.Path): Set[String] =
    if (!Files.exists(table)) Set.empty
    else Files.list(table).iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet

  private def manifests(table: java.nio.file.Path): Int =
    Option(table.resolve("_manifests").toFile.list()).fold(0)(_.count(_.endsWith(".manifest")))

  private def tableRows(dir: String, t: String): Seq[String] =
    spark.read.parquet(s"$dir/$t").collect().map(_.toString).sorted.toSeq

  test("ingestBatch reads its input once, and its tables equal the per-table flatten's") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val lines = batchLines(6)
    val reads = spark.sparkContext.longAccumulator("envelopes read")
    val rdd = spark.sparkContext.parallelize(lines, 3).map { l => reads.add(1); Row(l) }
    val raw = spark.createDataFrame(rdd, StructType(Seq(StructField("value", StringType))))
    val dir = Files.createTempDirectory("graft_ingest_once").toString
    val counts = Listen.ingestBatch(spark, raw, dir)
    assert(reads.value === lines.size)

    // the same batch through the two-sided parse and join, table by table
    import spark.implicits._
    val halves = lines.toDF("value")
    val joined = Flatten.joined(
      Flatten.parseHeaders(halves.select(get_json_object(col("value"), "$.header").as("value"))),
      Flatten.parsePayloads(halves.select(get_json_object(col("value"), "$.payload").as("value"))))
    val ref = Files.createTempDirectory("graft_ingest_joined").toString
    val refCounts = Upsert.mergeAll(spark, ref, Flatten.allTables(joined))
    assert(counts === refCounts)
    assert(Flatten.parseEnvelopes(halves).columns.toSeq === joined.columns.toSeq)
    counts.keys.foreach(t => assert(tableRows(dir, t) === tableRows(ref, t), t))
  }

  test("a small batch writes one parquet file per table; its replay writes none") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_one_file")
    Listen.ingestBatch(spark, Seq(envelopeOf(Fixtures.mkHeader(9, 1), Fixtures.mkPayload(9, 1))).toDF("value"),
                       dir.toString): Unit
    val tables = graft.ingest.Schemas.expected(spark).keySet.map(dir.resolve(_))
    val files0 = tables.map(t => t -> parquetFiles(t)).toMap
    val batch = batchLines(40).toDF("value")
    val counts = Listen.ingestBatch(spark, batch, dir.toString)
    assert(counts.values.forall(_ > 0), counts)
    val files1 = tables.map(t => t -> parquetFiles(t)).toMap
    tables.foreach(t => assert((files1(t) -- files0(t)).size === 1, t))
    val manifests1 = tables.map(t => t -> manifests(t)).toMap

    assert(Listen.ingestBatch(spark, batch, dir.toString).values.sum === 0)
    tables.foreach { t =>
      assert(parquetFiles(t) === files1(t), t)
      assert(manifests(t) === manifests1(t), t)
    }
  }

  test("the file count follows the batch's size: a few-KB maxPartitionBytes splits events") {
    import spark.implicits._
    val batch = batchLines(40).toDF("value")
    val default = Files.createTempDirectory("graft_size_default").toString
    Listen.ingestBatch(spark, batch, default): Unit
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    val small = Files.createTempDirectory("graft_size_small")
    spark.conf.set(key, "2k")
    try Listen.ingestBatch(spark, batch, small.toString): Unit
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(parquetFiles(small.resolve("events")).size > 1)
    graft.ingest.Schemas.expected(spark).keys.foreach(t =>
      assert(tableRows(small.toString, t) === tableRows(default, t), t))
  }

  test("streaming listen: drop-zone → 6 tables, effectively-once") {
    val zone = Files.createTempDirectory("graft_zone").toString
    val tables = Files.createTempDirectory("graft_tables").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val env = Fixtures.envelope1
    Files.writeString(java.nio.file.Path.of(zone, "b1.json"), env)
    val q = Listen.stream(spark, zone, tables, ckpt)
    q.processAllAvailable()
    assert(spark.read.parquet(s"$tables/transactions").count() === 3)
    // replay the same block under a new file name → no duplicates
    Files.writeString(java.nio.file.Path.of(zone, "b1_replay.json"), env)
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(s"$tables/transactions").count() === 3)
    assert(spark.read.parquet(s"$tables/events").count() === 7)
  }

  test("streaming listen: a restart from the checkpoint after a crash mid-batch " +
       "converges to the uninterrupted run's tables") {
    val zone = Files.createTempDirectory("graft_zone_crash")
    Files.writeString(zone.resolve("b1.json"),
      Seq(Fixtures.envelope1, envelopeOf(Fixtures.header2, Fixtures.payload2)).mkString("\n"))
    def run(tables: java.nio.file.Path, ckpt: java.nio.file.Path): Unit = {
      val q = Listen.stream(spark, zone.toString, tables.toString, ckpt.toString)
      try q.processAllAvailable() finally q.stop()
    }
    val tables = Files.createTempDirectory("graft_tables_crash")
    val ckpt = Files.createTempDirectory("graft_ckpt_crash")
    Files.writeString(tables.resolve("events"), "not a table") // blocks the events merge
    val crashed = Listen.stream(spark, zone.toString, tables.toString, ckpt.toString)
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException](crashed.processAllAvailable())
    finally crashed.stop()
    assert(manifests(tables.resolve("transactions")) === 1)

    Files.delete(tables.resolve("events"))
    run(tables, ckpt)
    val clean = Files.createTempDirectory("graft_tables_clean")
    run(clean, Files.createTempDirectory("graft_ckpt_clean"))
    twoBlocks.foreach { case (t, (_, pk)) =>
      assert(tableRows(tables.toString, t) === tableRows(clean.toString, t), t)
      val got = spark.read.parquet(tables.resolve(t).toString)
      assert(got.select(pk.map(col): _*).distinct().count() === got.count(), t)
    }
  }

  test("SSE MicroBatchStream: live listen path over the custom source") {
    val tables = Files.createTempDirectory("graft_sse_tables").toString
    val ckpt = Files.createTempDirectory("graft_sse_ckpt").toString
    val server = new java.net.ServerSocket(0)
    @volatile var feederSocket: java.net.Socket = null
    val feeder = new Thread(() => {
      feederSocket = server.accept()
      val out = new java.io.PrintWriter(feederSocket.getOutputStream, true)
      out.println(": keepalive comment, ignored")
      out.println()
      out.println("event: Other")          // non-BlockHeader → filtered
      out.println("data: ignored")
      out.println()
      out.println("event: BlockHeader")    // envelope split over multiple
      Fixtures.envelope1.split("\n")       // data: lines (SSE join = \n)
        .foreach(l => out.println(s"data: $l"))
      out.println()
      out.flush()
    })
    feeder.setDaemon(true)
    feeder.start()
    val q = Listen.streamSse(spark, "localhost", server.getLocalPort,
                             tables, ckpt)
    try {
      // the SSE hop is push-based: poll until the frame lands (bounded)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def txCount(): Long =
        try spark.read.parquet(s"$tables/transactions").count()
        catch { case _: Exception => -1 }
      while (txCount() != 3 && System.nanoTime() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
      assert(txCount() === 3)
      assert(spark.read.parquet(s"$tables/events").count() === 7)
    } finally {
      q.stop()
      if (feederSocket != null) feederSocket.close()
      server.close()
    }
  }

  test("SSE source journals frames: offsets survive a restart") {
    import graft.streaming.{SseMicroBatchStream, SseOffset, SsePartition}
    val ckpt = Files.createTempDirectory("graft_sse_journal").toString
    val server = new java.net.ServerSocket(0)
    val feeder = new Thread(() => {
      val s = server.accept()
      val out = new java.io.PrintWriter(s.getOutputStream, true)
      out.println("event: BlockHeader"); out.println("data: one"); out.println()
      out.println("event: BlockHeader"); out.println("data: two"); out.println()
      out.flush()
    })
    feeder.setDaemon(true); feeder.start()
    val s1 = new SseMicroBatchStream("localhost", server.getLocalPort, ckpt)
    try {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (s1.latestOffset() != SseOffset(2) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(s1.latestOffset() === SseOffset(2))
    } finally s1.stop()
    // restart against a SILENT server: the journal must restore the
    // offset space so checkpointed batches can be replanned
    val server2 = new java.net.ServerSocket(0)
    val s2 = new SseMicroBatchStream("localhost", server2.getLocalPort, ckpt)
    try {
      assert(s2.latestOffset() === SseOffset(2))
      val parts = s2.planInputPartitions(SseOffset(0), SseOffset(2))
      assert(parts.length === 1)
      assert(parts(0).asInstanceOf[SsePartition].rows.toSeq ===
        Seq(("BlockHeader", "one"), ("BlockHeader", "two")))
    } finally { s2.stop(); server2.close(); server.close() }
  }

  test("multimodal decode stub: partition-parallel binary → features") {
    val media = graft.operators.Multimodal.mediaTable(spark, "/root/testdata/sf0.001")
    val feats = graft.operators.Multimodal.decodeFeatures(media)
    val row = feats.filter(col("doc_id") === 0).collect().head
    assert(row.getAs[Long]("n_bytes") > 0)
    val mb = row.getAs[Double]("mean_byte")
    assert(mb > 0.0 && mb < 256.0)
    assert(feats.count() === media.count())
  }

  test("multimodal resize + frame-sample plumbing") {
    val media = graft.operators.Multimodal.mediaTable(spark, "/root/testdata/sf0.001")
    val thumbs = graft.operators.Multimodal.resizeStub(media, 8, 8).collect()
    assert(thumbs.length === media.count())
    assert(thumbs.forall(_.getAs[Array[Byte]]("thumb").nonEmpty))
    val frames = graft.operators.Multimodal.frameSample(media)
    val f = frames.collect()
    assert(f.nonEmpty)
    // offsets are 256-strided from zero per doc
    assert(f.filter(_.getAs[Long]("doc_id") == f.head.getAs[Long]("doc_id"))
            .map(r => (r.getAs[Int]("frame_idx"), r.getAs[Long]("byte_offset")))
            .forall { case (i, off) => off == 256L * i })
  }

  test("block-25 header: target decodes to the exact 77-digit integer") {
    import spark.implicits._
    // The reference's own parser fixture (test/Chainweb/Data/Test/Parser.hs:
    // 28-57) — a real mainnet01 chain-0 height-25 header.
    val block25 =
      """{"creationTime":1572404750770821,
        |"parent":"tn-ntdNtsYYcnBfoh819vJL9ldz-qkIXf4MDO6Kd-fw","height":25,
        |"hash":"N50q51qAGwKqugD4rK5fyvDQI5-9X-t3lK3c9V8WJI8","chainId":0,
        |"weight":"JwAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA","featureFlags":0,
        |"epochStart":1572404743031832,
        |"payloadHash":"G5olU5tYfqU7FYXw99vyqEnURagZB-f2pL9ux7gwYks",
        |"target":"_________________________________________x8",
        |"nonce":"15652723681697760986"}""".stripMargin.replaceAll("\n", "")
    val h = Flatten.parseHeaders(Seq(block25).toDF("value")).collect().head
    // exactness preserved: the engine stores the base64url string verbatim
    assert(h.getAs[String]("target") === "_________________________________________x8")
    assert(Flatten.bytesLEToBigInt(h.getAs[String]("target")).toString ===
      "14474011154664524427946373126085988481658748083205070504932198000989141204991")
    assert(Flatten.bytesLEToBigInt(h.getAs[String]("weight")) === BigInt(39))
    assert(h.getAs[Long]("creationTime") === 1572404750770821L)
  }

  test("migration ledger: ordered checksummed steps, prefix + mismatch rules") {
    import graft.ingest.Migrations
    import graft.ingest.Migrations.Step
    val dir = Files.createTempDirectory("graft_migr").toString
    var applied = List.empty[String]
    def step(n: String, body: String) = Step(n, body, _ => applied ::= n)
    val s1 = step("1.0_init", "create tables")
    val s2 = step("1.1_add_idx", "cluster transfers by acct")

    // fresh run applies everything, in order, and records the ledger
    assert(Migrations.run(spark, dir, Seq(s1, s2)) === Right(Seq("1.0_init", "1.1_add_idx")))
    assert(applied.reverse === List("1.0_init", "1.1_add_idx"))
    // re-run: prefix matches, nothing to do
    assert(Migrations.run(spark, dir, Seq(s1, s2)) === Right(Seq.empty))
    // new step appended: only the suffix runs
    val s3 = step("1.2_backfill", "backfill transfers")
    assert(Migrations.check(dir, Seq(s1, s2, s3)) === Right(Seq("1.2_backfill")))
    assert(Migrations.run(spark, dir, Seq(s1, s2, s3)) === Right(Seq("1.2_backfill")))
    // tampered body → checksum mismatch (Migration.hs rule 3)
    val bad = Migrations.check(dir, Seq(s1, step("1.1_add_idx", "DIFFERENT"), s3))
    assert(bad.isLeft && bad.left.exists(_.contains("Checksum mismatch")))
    // removed step → ledger no longer a prefix (rule 1)
    val short = Migrations.check(dir, Seq(s1))
    assert(short.isLeft && short.left.exists(_.contains("Unexpected migrations")))
    // duplicate order refused (matchSteps duplicate rule)
    val dup = Migrations.check(dir, Seq(s1, step("1.0_other", "x")))
    assert(dup.isLeft && dup.left.exists(_.contains("Duplicate step order")))
  }
}
