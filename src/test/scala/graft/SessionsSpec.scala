package graft

import graft.streaming.Sessions
import graft.streaming.Sessions.{Ev, SessionRow}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Stateful streaming sessionization: sessions close exactly at the gap
  * boundary, across micro-batches, with one open session per key in
  * state. */
class SessionsSpec extends AnyFunSuite with SparkSpec {

  private val hourUs = 3600L * 1000000L

  test("sessions close across micro-batches at the gap boundary") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = Sessions.sessionStream(input.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // base offset keeps event-times away from the initial watermark (0)
      val t0 = 1000 * hourUs
      // batch 1: three events inside one session — nothing closes
      input.addData(Ev(1, t0), Ev(1, t0 + hourUs), Ev(1, t0 + 2 * hourUs))
      q.processAllAvailable()
      assert(spark.table("sessions").count() === 0)

      // batch 2: return after 9h (> 8h gap) → the first session closes
      input.addData(Ev(1, t0 + 11 * hourUs))
      q.processAllAvailable()
      assert(spark.table("sessions").as[SessionRow].collect().toSeq
        === Seq(SessionRow(1, t0, t0 + 2 * hourUs, 3)))

      // batch 3: another long gap → the singleton second session closes too
      input.addData(Ev(1, t0 + 30 * hourUs))
      q.processAllAvailable()
      assert(spark.table("sessions").as[SessionRow].collect().toSeq
        === Seq(SessionRow(1, t0, t0 + 2 * hourUs, 3),
                SessionRow(1, t0 + 11 * hourUs, t0 + 11 * hourUs, 1)))
    } finally q.stop()
  }

  test("streaming exact-dedup: replays inside the watermark are dropped") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val ts = (h: Long) => new java.sql.Timestamp(3600000L * h)
    val q = graft.streaming.Listen.dedupStream(
        input.toDF().toDF("doc_id", "ts"), Seq("doc_id"))
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(1000)), (1L, ts(1000)), (2L, ts(1001)))
      q.processAllAvailable()
      input.addData((1L, ts(1002))) // replay in a later batch, same key
      q.processAllAvailable()
      val ids = spark.table("dedup").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming LSH near-dup: same-bucket docs surface against the anchor") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val ts = (h: Long) => new java.sql.Timestamp(3600000L * h)
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val uniq = "completely different content with no overlap whatsoever here at all"
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = graft.streaming.NearDup.nearDupStream(
        input.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("neardup")
      .outputMode("append").start()
    try {
      // batch 1: the anchor + an unrelated doc — nothing emitted
      input.addData((1L, dup, ts(1000)), (2L, uniq, ts(1000)))
      q.processAllAvailable()
      assert(spark.table("neardup").count() === 0)

      // batch 2: an exact near-dup arrives later → candidates against doc 1
      input.addData((3L, dup, ts(1001)))
      q.processAllAvailable()
      val cands = spark.table("neardup")
        .select("doc_id", "anchor_id").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cands === Set((3L, 1L)))
    } finally q.stop()
  }

  test("stream-stream join pairs headers with late-arriving payloads") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val ts = (h: Long) => new java.sql.Timestamp(3600000L * h)
    val headers = MemoryStream[(String, java.sql.Timestamp)]
    val payloads = MemoryStream[(String, java.sql.Timestamp)]
    val q = graft.streaming.Listen.joinStreams(
        headers.toDF().toDF("payloadHash", "h_time"),
        payloads.toDF().toDF("payloadHash", "p_time"))
      .writeStream.format("memory").queryName("hp")
      .outputMode("append").start()
    try {
      headers.addData(("ph1", ts(1000)), ("ph2", ts(1000)))
      q.processAllAvailable()
      assert(spark.table("hp").count() === 0) // payloads not here yet
      payloads.addData(("ph1", ts(1000)))     // arrives one batch later
      q.processAllAvailable()
      assert(spark.table("hp").collect().map(_.getString(0)).toSeq === Seq("ph1"))
    } finally q.stop()
  }

  test("transformWithState ledger: balances accumulate across batches") {
    import spark.implicits._
    import graft.streaming.Ledger
    implicit val sc = spark.sqlContext
    // transformWithState needs a multi-column-family store (RocksDB)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Ledger.Entry]
    val q = Ledger.balances(input.toDS())
      .writeStream.format("memory").queryName("ledger")
      .outputMode("update").start()
    try {
      input.addData(Ledger.Entry("alice", 10.0), Ledger.Entry("alice", -3.0),
                    Ledger.Entry("bob", 5.0))
      q.processAllAvailable()
      input.addData(Ledger.Entry("alice", 1.0))
      q.processAllAvailable()
      // memory sink in update mode appends each update row; take the last
      // per account
      val last = spark.table("ledger").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._3) }
      assert(last("alice") === ("alice", 8.0, 3L))
      assert(last("bob") === ("bob", 5.0, 1L))
    } finally q.stop()
  }

  test("stream-static enrichment join decorates live rows") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[Long]
    val q = graft.streaming.Listen.enrich(
        input.toDF().toDF("user_id"), dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      input.addData(1L, 2L, 3L)
      q.processAllAvailable()
      val got = spark.table("enriched").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === Map(1L -> "gold", 2L -> "basic", 3L -> null))
    } finally q.stop()
  }

  test("streaming CMS cells converge to EXACTLY the batch estimates") {
    import graft.streaming.Frequency
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val priorProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val dir = "/root/testdata/sf0.001"
    val occ = graft.operators.Sketches
      .q98CmsDfTopk(spark, dir) // just for probes: top exact-df shingles
    val probes = occ.collect().take(5).map(_.getString(0)).toSeq
    val events = Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.call_function(
          "graft_shingles", org.apache.spark.sql.functions.col("text"))).as("g"))
      .collect().map(r => Frequency.Obs("all", r.getString(0)))
    val input = MemoryStream[Frequency.Obs]
    val q = Frequency.estimates(input.toDS(), probes)
      .writeStream.format("memory").queryName("cms")
      .outputMode("update").start()
    try {
      // split across micro-batches; NO replay — a CMS cell is a SUM, so
      // unlike the HLL's max-merge it counts duplicates (the documented
      // delivery-contract difference), and exactly-once within the query
      // is what transformWithState checkpointing provides
      val (b1, b2) = events.splitAt(events.length / 2)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      // counts only grow; the converged estimate per probe is the max
      val got = spark.table("cms").collect()
        .map(r => (r.getString(1), r.getLong(2)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      val cells = graft.operators.Sketches.cmsCells(
        Tables.documents(spark, dir)
          .select(org.apache.spark.sql.functions.explode(
            org.apache.spark.sql.functions.call_function(
              "graft_shingles", org.apache.spark.sql.functions.col("text"))).as("g")),
        org.apache.spark.sql.functions.col("g"))
      val want = graft.operators.Sketches.cmsEstimate(
          cells, probes.toDF("g"), org.apache.spark.sql.functions.col("g"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (p, est) =>
        assert(got(p) == est, s"probe $p: streaming ${got(p)} != batch $est")
      }
    } finally {
      q.stop()
      priorProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("streaming histogram median converges to EXACTLY the batch sketch") {
    import graft.streaming.Quantile
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val priorProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val dir = "/root/testdata/sf0.001"
    val events = Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.col("lang"),
              org.apache.spark.sql.functions.col("n_chars").cast("long"))
      .collect().map(r => Quantile.Obs(r.getString(0), r.getLong(1)))
    val input = MemoryStream[Quantile.Obs]
    val q = Quantile.estimates(input.toDS())
      .writeStream.format("memory").queryName("histq")
      .outputMode("update").start()
    try {
      val (b1, b2) = events.splitAt(events.length / 2)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      // n only grows: the row with max n per group is the converged sketch
      val got = spark.table("histq").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._2) }
      val want = graft.operators.Sketches.q102HistMedian(spark, dir)
        .collect()
        .map(r => r.getString(0) ->
          ((r.getAs[Number]("n").longValue(),
            r.getAs[Number]("hist_median_low").longValue()))).toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (lang, (n, low)) =>
        assert(got(lang)._2 == n, s"$lang: n ${got(lang)._2} != $n")
        assert(got(lang)._3 == low, s"$lang: median ${got(lang)._3} != $low")
      }
    } finally {
      q.stop()
      priorProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("streaming KMV converges to EXACTLY the batch estimate " +
       "(min-set state absorbs replays like HLL's max state)") {
    import graft.streaming.BottomK
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val priorProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val obs = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.col("event_type"),
              org.apache.spark.sql.functions.col("user_id").cast("string"))
      .collect().map(r => BottomK.Obs(r.getString(0), r.getString(1)))
    val input = MemoryStream[BottomK.Obs]
    val q = BottomK.estimates(input.toDS())
      .writeStream.format("memory").queryName("kmv")
      .outputMode("update").start()
    try {
      val (b1, rest) = obs.splitAt(obs.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 3)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      input.addData((b3 ++ b2.take(50)).toSeq); q.processAllAvailable() // replay
      // the set only gains smaller hashes → (occupied, estimate) is
      // monotone; the max per group is the converged sketch
      val got = spark.table("kmv").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(v => (v._2, v._3)) }
      val want = graft.operators.Sketches
        .q107KmvDistinct(spark, "/root/testdata/sf0.001").collect()
        .map(r => r.getString(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (g, (occ, est)) =>
        assert(got(g)._2 == occ, s"occupied mismatch for $g")
        assert(got(g)._3 == est, s"estimate mismatch for $g: ${got(g)._3} vs $est")
      }
    } finally {
      q.stop()
      priorProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("streaming HLL converges to EXACTLY the batch estimate") {
    import graft.streaming.Cardinality
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val priorProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // the same rows the batch operator sketches, split across three
    // micro-batches with replayed duplicates (max-merge must absorb them)
    val obs = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.col("event_type"),
              org.apache.spark.sql.functions.col("user_id").cast("string"))
      .collect().map(r => Cardinality.Obs(r.getString(0), r.getString(1)))
    val input = MemoryStream[Cardinality.Obs]
    val q = Cardinality.estimates(input.toDS())
      .writeStream.format("memory").queryName("hll")
      .outputMode("update").start()
    try {
      val (b1, rest) = obs.splitAt(obs.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 3)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      input.addData((b3 ++ b1.take(50)).toSeq); q.processAllAvailable() // replay
      // registers only grow, so occupied/estimate are monotone — the max
      // per group is the converged sketch (collect order is unspecified)
      val got = spark.table("hll").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(v => (v._2, v._3)) }
      val want = graft.operators.Sketches
        .q86HllDistinct(spark, "/root/testdata/sf0.001").collect()
        .map(r => r.getString(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (g, (occ, est)) =>
        assert(got(g)._2 == occ, s"occupied mismatch for $g")
        assert(got(g)._3 == est, s"estimate mismatch for $g: ${got(g)._3} vs $est")
      }
    } finally {
      q.stop()
      // restore: don't leak RocksDB provider into later stateful tests
      priorProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }

  test("streaming CDC replays the batch snapshot diff: two releases as " +
       "micro-batches classify exactly like q120, replays absorb as " +
       "unchanged") {
    import graft.streaming.Cdc
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val priorProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val prev = docs.filter(_._1 % 11 != 0)
      .map { case (id, t) => Cdc.Upsert(id, md5hex(t), deleted = false) }
    val cur = docs.filter(_._1 % 7 != 0)
      .map { case (id, t) =>
        val t2 = if (id % 5 == 0) t + " rev2" else t
        Cdc.Upsert(id, md5hex(t2), deleted = false)
      }
    val tombstones = prev.map(_.doc_id).toSet
      .diff(cur.map(_.doc_id).toSet)
      .map(id => Cdc.Upsert(id, "", deleted = true)).toSeq
    val input = MemoryStream[Cdc.Upsert]
    val q = Cdc.changes(input.toDS())
      .writeStream.format("memory").queryName("cdc")
      .outputMode("update").start()
    try {
      input.addData(prev.toSeq); q.processAllAvailable()
      input.addData(cur.toSeq ++ tombstones); q.processAllAvailable()
      // replay only keys release 2 already knew (an added key's replay
      // would legitimately read "unchanged" and blur the per-key rule)
      val prevKeys = prev.map(_.doc_id).toSet
      val replay = cur.filter(u => prevKeys(u.doc_id)).take(25)
      input.addData(replay.toSeq); q.processAllAvailable()
      val emitted = spark.table("cdc").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      // per-key classification: the one non-"added" emission (if any) is
      // the release-2 verdict; keys only ever added are release-2 adds
      // (replays re-read "unchanged", which release 2 already emitted for
      // unchanged keys — dedupe per key)
      val byKey = emitted.groupBy(_._1).map { case (k, es) =>
        val statuses = es.map(_._2).distinct
        k -> statuses.filter(_ != "added").sorted.headOption.getOrElse("added")
      }
      val want = graft.operators.Snapshot
        .q120SnapshotDiff(spark, "/root/testdata/sf0.001").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(byKey === want)
      // exact emission counts: replays may only add "unchanged" rows
      val counts = emitted.groupBy(_._2).view.mapValues(_.length).toMap
      val wantByStatus = want.groupBy(_._2).view.mapValues(_.size).toMap
      assert(counts("added") ===
        prev.length + want.count { case (k, s) => s == "added" })
      assert(counts("removed") === wantByStatus.getOrElse("removed", 0))
      assert(counts("changed") === wantByStatus.getOrElse("changed", 0))
      assert(counts("unchanged") ===
        wantByStatus.getOrElse("unchanged", 0) + replay.length)
    } finally {
      q.stop()
      priorProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }
}
