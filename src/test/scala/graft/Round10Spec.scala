package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 pins: IVF store compaction (q259/q260 — the lifecycle's
  * reclaim verb), and the Snapshots serving-path hardening (handle-memo
  * eviction, serialized bootstrap commit). */
class Round10Spec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q259 query-after-compaction enumerates exactly q258's " +
       "query-over-tombstones result") {
    val overTombstones = operators.Similarity.q258IvfDeleteQuery(spark, dir)
      .collect().map(_.toSeq)
    val afterCompaction = operators.Similarity.q259IvfCompactQuery(spark, dir)
      .collect().map(_.toSeq)
    assert(afterCompaction.nonEmpty)
    assert(afterCompaction.toSeq === overTombstones.toSeq)
  }

  test("compaction rewrites ONLY tombstone-affected cells; unaffected " +
       "cell files are untouched on disk; tombstones clear") {
    val store = operators.Similarity.indexLifecycleStore(spark, dir)
    def cellFiles(): Map[String, Set[String]] = {
      val root = new java.io.File(s"$store/postings")
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => s"${f.getName}:${f.lastModified}:${f.length}").toSet)
        .toMap
    }
    val before = cellFiles()
    val affected = operators.Similarity.compactStore(spark, store)
    assert(affected.nonEmpty, "fixture produced no affected cells")
    val after = cellFiles()
    val affectedDirs = affected.map(c => s"cell=$c").toSet
    // untouched cells: identical file sets (names, mtimes, sizes)
    (before.keySet -- affectedDirs).foreach { cell =>
      assert(after(cell) === before(cell), s"unaffected $cell was rewritten")
    }
    // affected cells were rewritten (different files)
    affectedDirs.foreach { cell =>
      assert(after.get(cell).forall(_ != before(cell)),
        s"affected $cell not rewritten")
    }
    // side table empty; a second compaction is a no-op (idempotent verb)
    assert(spark.read.parquet(s"$store/tombstones").count() === 0L)
    assert(operators.Similarity.compactStore(spark, store).isEmpty)
  }

  test("q259/q260 plan shapes: broadcast probes, q_id windows, keyed " +
       "aggregate accounting — no cartesian anywhere") {
    def finalPlan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // every query served through the shared persisted-store probe
    val storeQueries = Seq(
      "q246" -> operators.Similarity.q246IvfPersist _,
      "q250" -> operators.Similarity.q250IvfUpsertQuery _,
      "q258" -> operators.Similarity.q258IvfDeleteQuery _,
      "q259" -> operators.Similarity.q259IvfCompactQuery _)
    storeQueries.foreach { case (name, query) =>
      val cq = query(spark, dir)
      val cqs = finalPlan(cq)
      assert(!cqs.contains("CartesianProduct"), s"cartesian in $name:\n$cqs")
      val wins = cqs.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      assert(wins.nonEmpty && wins.forall(_.contains("q_id")),
        s"$name window not q_id-partitioned:\n$cqs")
      assert(PlanWalk.allNodes(cq).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]),
        s"$name probes should broadcast:\n$cqs")
      // no tombstone anti-join survives into the compacted serving plan
      // (q258 anti-joins its tombstones by design)
      if (name == "q259")
        assert(!cqs.contains("LeftAnti"), s"q259 still anti-joins tombstones:\n$cqs")
    }
    val ac = finalPlan(operators.Similarity.q260IvfCompactAccounting(spark, dir))
    assert(!ac.contains("CartesianProduct"), s"cartesian in q260:\n$ac")
    assert(!ac.contains("windowspecdefinition"), s"unexpected window in q260:\n$ac")
  }

  test("Snapshots handle memo evicts superseded versions of the same table") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_snap_evict")
      .toString + "/tbl"
    (1 to 8).foreach { i =>
      Seq((i.toLong, s"row$i")).toDF("id", "s")
        .write.mode("append").parquet(t)
      graft.sources.Snapshots.commit(spark, t)
      graft.sources.Snapshots.readPinned(spark, t)
      ()
    }
    val live = graft.sources.Snapshots.cachedHandleCount(t)
    assert(live <= 4, s"memo retains $live versions — unbounded growth")
    assert(live >= 1)
    // the pinned read still serves the LATEST committed version
    assert(graft.sources.Snapshots.readPinned(spark, t).count() === 8L)
  }

  test("concurrent first reads of an un-snapshotted table bootstrap " +
       "exactly one version, no 500s") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_snap_boot")
      .toString + "/tbl"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(t)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futs = (1 to 8).map { _ =>
      scala.concurrent.Future(graft.sources.Snapshots.readPinned(spark, t).count())
    }
    val counts = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futs),
      scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    assert(counts.forall(_ === 2L))
    assert(graft.sources.Snapshots.latest(spark, t).map(_.version) === Some(1L))
  }

  test("q261 token fertility: join-free single-scan shape, mass " +
       "conservation, and ppm arithmetic") {
    val df = operators.TextOps.q261TokenFertility(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // pred_lang is recomputed INLINE on the documents scan — a join with
    // the q34 relation would shuffle every doc_id at 100 TB
    assert(!plan.contains("Join"), s"q261 grew a join:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val docsTotal = rows.map(_.getLong(1)).sum
    assert(docsTotal ===
      spark.read.parquet(s"$dir/documents.parquet").count())
    val langs = Set("en", "de", "es", "fr", "zh", "und")
    rows.foreach { r =>
      assert(langs.contains(r.getString(0)), s"unknown lang ${r.getString(0)}")
      val expected = (BigInt(r.getLong(2)) * 1000000 /
        BigInt(math.max(r.getLong(3), 1L))).toLong
      assert(r.getLong(4) === expected, s"ppm mismatch in row $r")
    }
  }

  test("Snapshots.vacuum keeps the newest keepLast manifests; latest " +
       "still reads; idempotent; rejects keepLast < 1") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_snap_vac")
      .toString + "/tbl"
    (1 to 7).foreach { i =>
      Seq((i.toLong, s"row$i")).toDF("id", "s")
        .write.mode("append").parquet(t)
      graft.sources.Snapshots.commit(spark, t): Unit
    }
    val dropped = graft.sources.Snapshots.vacuum(spark, t, keepLast = 3)
    assert(dropped === Seq(1L, 2L, 3L, 4L))
    // retained window intact: latest readable, v5 (oldest kept) readable
    assert(graft.sources.Snapshots.latest(spark, t).map(_.version) === Some(7L))
    assert(graft.sources.Snapshots.readPinned(spark, t).count() === 7L)
    assert(graft.sources.Snapshots.at(spark, t, 5L).files.nonEmpty)
    // idempotent; a later commit restarts numbering AFTER the survivors
    assert(graft.sources.Snapshots.vacuum(spark, t, keepLast = 3).isEmpty)
    val v8 = graft.sources.Snapshots.commit(spark, t)
    assert(v8.version === 8L)
    assertThrows[IllegalArgumentException] {
      graft.sources.Snapshots.vacuum(spark, t, keepLast = 0)
    }
    // CLI face: one line per snapshotted table under the parent dir
    val parent = new java.io.File(t).getParent
    val lines = Main.vacuumCmd(spark, parent, 2)
    assert(lines.exists(l => l.startsWith("tbl\t") && l.contains("dropped=2")))
  }
}
