package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 pins: Leaves cross-app eviction, the q123 single-consumer
  * leaf, q184's verified ⊆ truth invariant under the integer criterion,
  * and the streaming incremental-dedup screen (micro-batches vs persisted
  * MinHash state, replay no-op). */
class Round7Spec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("Leaves evicts stale-application entries on first shared access") {
    val stale = "app-died-long-ago:some_leaf"
    Leaves.cache.put(stale, spark.range(1).toDF())
    spark.conf.set("spark.graft.shareLeaves", "true")
    try {
      val df = Leaves.shared(spark, "round7_evict_probe") {
        spark.range(3).toDF("v")
      }
      assert(df.count() === 3L)
      assert(!Leaves.cache.contains(stale),
        "a key from another application must not survive a shared access")
      val appPrefix = spark.sparkContext.applicationId + ":"
      assert(Leaves.cache.keys.forall(_.startsWith(appPrefix)),
        "only current-app keys may remain")
    } finally spark.conf.unset("spark.graft.shareLeaves")
  }

  test("q123 novelty leaf: shareLeaves on ≡ off, with a registered leaf") {
    spark.conf.unset("spark.graft.shareLeaves")
    val off = operators.Corpus.q123SourceNovelty(spark, dir).collect().toSeq
    spark.conf.set("spark.graft.shareLeaves", "true")
    try {
      Leaves.cache.keys.filter(_.contains("novelty_"))
        .foreach(Leaves.cache.remove) // isolation (the Round6bSpec rule)
      val before = Leaves.cache.size
      val on = operators.Corpus.q123SourceNovelty(spark, dir).collect().toSeq
      assert(on === off)
      assert(Leaves.cache.size > before,
        "q123 should have registered its novelty-postings leaf")
    } finally spark.conf.unset("spark.graft.shareLeaves")
  }

  test("dedup signature leaf: shareLeaves on ≡ off for q28/q29/q184, " +
       "with one leaf registered and reused across the family") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    spark.conf.unset("spark.graft.shareLeaves")
    val off28 = rows(operators.Dedup.q28MinhashSignature(spark, dir))
    val off29 = rows(operators.Dedup.q29LshNearDup(spark, dir))
    val off184 = rows(operators.Dedup.q184LshBandSweep(spark, dir))
    spark.conf.set("spark.graft.shareLeaves", "true")
    try {
      // isolation from other suites' flag-on runs (the Round6bSpec rule)
      Leaves.cache.keys.filter(_.contains("dedup_signatures"))
        .foreach(Leaves.cache.remove)
      val before = Leaves.cache.size
      assert(rows(operators.Dedup.q28MinhashSignature(spark, dir)) === off28)
      val after = Leaves.cache.size
      assert(after > before, "q28 should have registered the signature leaf")
      assert(rows(operators.Dedup.q29LshNearDup(spark, dir)) === off29)
      assert(Leaves.cache.size === after,
        "q29 must reuse q28's signature leaf, not rebuild")
      // q184's truth leg runs q82, which registers the SimJoin leaves —
      // equality is the pin here, not the cache size
      assert(rows(operators.Dedup.q184LshBandSweep(spark, dir)) === off184)
    } finally spark.conf.unset("spark.graft.shareLeaves")
  }

  test("q184 sweep: verified ⊆ truth (recall_ppm ≤ 1e6, n_verified ≤ " +
       "candidates and ≤ truth) for every (b, r) config") {
    val truth = operators.SimJoin.q82JaccardJoin(spark, dir).count()
    val rows = operators.Dedup.q184LshBandSweep(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cand = r.getAs[Long]("n_candidates")
      val ver = r.getAs[Long]("n_verified")
      val recall = r.getAs[Long]("recall_ppm")
      assert(ver <= cand, s"verified > candidates in $r")
      assert(ver <= truth, s"verified exceeds exact truth in $r")
      assert(recall <= 1000000L, s"recall_ppm over 1e6 in $r")
    }
    // the sweep must separate signal from nothing: the fixture has true
    // near-dup pairs, and at least one config recovers some of them
    assert(truth > 0L, "fixture should contain exact near-dup pairs")
    assert(rows.map(_.getAs[Long]("recall_ppm")).max > 0L,
      "at least one (b, r) config must recover part of the truth set")
  }

  test("JPEG promotion leg: dormant while the JDK codec is lossy, " +
       "self-activates to the q140 exact contract if it ever isn't") {
    import operators.Multimodal
    // probe: does encode→decode round-trip bit-exactly? (Round6Spec pins
    // the CURRENT truth — lossy — with a bounded envelope; this leg is the
    // automatic promotion path the moment a lossless JPEG writer appears.)
    val lossless = Seq(3L, 7L, 12L).forall { id =>
      val w = (16 + (id * 37 + 11) % 48).toInt
      val h = (16 + (id * 53 + 7) % 48).toInt
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        Multimodal.encodeImage(id, w, h, "jpg")))
      (0 until h).forall(y => (0 until w).forall(x =>
        (img.getRGB(x, y) & 0xff) == Multimodal.pixel(id, x, y)))
    }
    assume(lossless, "JDK JPEG codec is lossy — exact-oracle leg stays dormant")
    // ACTIVE leg (runs only under a lossless codec): the q140 contract —
    // encode → ImageIO decode → 8×8 resample must equal the analytic
    // recomputation of the same pixels, per doc, exactly.
    import spark.implicits._
    val jpgTable = Tables.documents(spark, dir)
      .select(col("doc_id"),
        (lit(16) + (col("doc_id") * 37 + 11) % 48).cast("int").as("w"),
        (lit(16) + (col("doc_id") * 53 + 7) % 48).cast("int").as("h"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (id, w, h) =>
        (id, "jpg", w, h, Multimodal.encodeImage(id, w, h, "jpg"))
      })
      .toDF("doc_id", "fmt", "width", "height", "payload")
    val got = Multimodal.decodeResize(jpgTable, 8, 8).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("thumb_sum")).toMap
    got.foreach { case (id, sum) =>
      val w = (16 + (id * 37 + 11) % 48).toInt
      val h = (16 + (id * 53 + 7) % 48).toInt
      val want = (for (gy <- 0 until 8; gx <- 0 until 8)
        yield Multimodal.pixel(id, gx * w / 8, gy * h / 8).toLong).sum
      assert(sum === want, s"lossless JPEG decode diverged at doc $id")
    }
  }

  test("incremental screen stream: batch-2 dups caught against batch-1 " +
       "state, in-batch pair screened, replay is a storage no-op") {
    val base = java.nio.file.Files.createTempDirectory("r7_inc").toString
    spark.conf.set("spark.graft.store.base", s"$base/stores")
    val drop = new java.io.File(s"$base/drop"); drop.mkdirs()
    val ckpt = s"$base/ckpt"
    def doc(id: Long, text: String): String =
      s"""{"doc_id": $id, "text": "$text"}"""
    val t0 = "the quick brown fox jumps over the lazy dog tonight"
    val t1 = "completely different sentence about distributed query engines and shuffles"
    val t2 = "a third unrelated document mentioning parquet files and partition pruning"
    val tU = "unique follow-up text concerning watermark semantics in streaming joins"
    val tP = "paired arrival text where two equal documents land in one micro batch"
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${drop.getPath}/b1.json"),
        Seq(doc(0, t0), doc(1, t1), doc(2, t2)).mkString("\n"))
      val q = streaming.IncrementalScreen.stream(spark, drop.getPath, ckpt)
      try {
        q.processAllAvailable()
        // batch 2: 10 duplicates 0; 11 unique; 12/13 duplicate EACH OTHER
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"${drop.getPath}/b2.json"),
          Seq(doc(10, t0), doc(11, tU), doc(12, tP), doc(13, tP)).mkString("\n"))
        q.processAllAvailable()
      } finally q.stop()
      val dec = spark.read
        .parquet(streaming.IncrementalScreen.decisionsPath(spark))
      val byId = dec.collect()
        .map(r => r.getAs[Long]("new_doc") ->
          ((r.getAs[String]("status"), Option(r.getAs[java.lang.Long]("dup_of")))))
        .toMap
      assert(byId.keySet === Set(0L, 1L, 2L, 10L, 11L, 12L, 13L))
      assert(byId(0L)._1 === "new" && byId(1L)._1 === "new" && byId(2L)._1 === "new")
      assert(byId(10L) === (("dup", Some(java.lang.Long.valueOf(0L)))),
        "doc 10 must match batch-1's doc 0 through the persisted state")
      assert(byId(11L)._1 === "new")
      assert(byId(12L)._1 === "new", "first of the in-batch pair anchors")
      assert(byId(13L) === (("dup", Some(java.lang.Long.valueOf(12L)))),
        "second of the in-batch pair must screen against the first")
      // replay batch 2 directly (the at-least-once case): no new rows in
      // decisions or state, and the returned verdicts are unchanged
      val nDec = dec.count()
      val nBands = spark.read
        .parquet(streaming.IncrementalScreen.bandsPath(spark)).count()
      val replay = spark.createDataFrame(Seq(
        (10L, t0), (11L, tU), (12L, tP), (13L, tP))).toDF("doc_id", "text")
      val again = streaming.IncrementalScreen.screenBatch(spark, replay)
        .collect().map(r => r.getAs[Long]("new_doc") -> r.getAs[String]("status"))
        .toMap
      assert(again(10L) === "dup" && again(13L) === "dup" && again(11L) === "new")
      assert(spark.read.parquet(
        streaming.IncrementalScreen.decisionsPath(spark)).count() === nDec,
        "replay must not grow the decisions table")
      assert(spark.read.parquet(
        streaming.IncrementalScreen.bandsPath(spark)).count() === nBands,
        "replay must not grow the band state")
    } finally spark.conf.unset("spark.graft.store.base")
  }

  test("incremental screen under a file: store base: batch 2's near-dup " +
       "of a batch-1 document is screened against the persisted state") {
    val base = java.nio.file.Files.createTempDirectory("r7_inc_uri").toUri.toString
    spark.conf.set("spark.graft.store.base", s"${base}stores")
    try {
      val t0 = "the quick brown fox jumps over the lazy dog tonight"
      val t1 = "completely different sentence about distributed query engines and shuffles"
      def screen(docs: (Long, String)*): Map[Long, (String, Option[Long])] =
        streaming.IncrementalScreen.screenBatch(spark, spark.createDataFrame(docs).toDF("doc_id", "text"))
          .collect().map(r => r.getAs[Long]("new_doc") ->
            ((r.getAs[String]("status"), Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue))))
          .toMap
      assert(screen(0L -> t0, 1L -> t1).values.map(_._1).toSet === Set("new"))
      assert(screen(10L -> t0)(10L) === (("dup", Some(0L))))
    } finally spark.conf.unset("spark.graft.store.base")
  }
}
