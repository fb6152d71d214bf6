package graft

import graft.operators.{Corpus, Dedup, Sketches, Snapshot, TrainPrep}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 second-batch property tests: snapshot-diff classification,
  * the sample-quantile sketch's exactness/prefix/merge contracts, the
  * novelty-curve conservation law, water-filling invariants, and the
  * dup-burden consistency with the verified pair set. */
class Round4bSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  // ---- q120 snapshot diff ------------------------------------------------

  test("snapshot diff of a corpus against itself is all-unchanged") {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val d = Snapshot.snapshotDiff(docs, docs, "doc_id", md5(col("text")))
    assert(d.count() === docs.count())
    assert(d.filter(col("status") =!= "unchanged").count() === 0)
  }

  test("q120 statuses match the modulus arithmetic that carved the snapshots") {
    val ids = Tables.documents(spark, dir).select("doc_id")
      .collect().map(_.getLong(0))
    val expect = Map(
      "added" -> ids.count(i => i % 11 == 0 && i % 7 != 0),
      "removed" -> ids.count(i => i % 7 == 0 && i % 11 != 0),
      "changed" -> ids.count(i => i % 11 != 0 && i % 7 != 0 && i % 5 == 0),
      "unchanged" -> ids.count(i => i % 11 != 0 && i % 7 != 0 && i % 5 != 0))
    val got = Snapshot.q120SnapshotDiff(spark, dir)
      .groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    expect.filter(_._2 > 0).foreach { case (k, v) =>
      assert(got.getOrElse(k, 0) === v, s"status $k")
    }
    // every nonzero class fires on the fixture — the test has teeth
    assert(expect.values.forall(_ > 0), s"fixture too small: $expect")
  }

  test("q120 plan: one full-outer join, no cartesian, fingerprint " +
       "projected below the join") {
    val plan = Snapshot.q120SnapshotDiff(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("FullOuter"))
    // text never crosses the exchange: the md5 projection sits under it
    assert(!plan.contains("BroadcastNestedLoop"))
  }

  // ---- q121/q122 sample-quantile sketch ---------------------------------

  test("sample quantile with k >= group size degrades to the exact quantile") {
    val docs = Tables.documents(spark, dir)
    val est = Sketches.sampleQuantiles(
      Sketches.sampleBottomK(docs, Seq("lang"), col("doc_id"),
                             col("n_chars"), k = 1000000),
      Seq("lang")).collect().map(r =>
        r.getString(0) -> (r.getAs[Number]("est_p50").longValue(),
                           r.getAs[Number]("est_p90").longValue())).toMap
    val exact = Sketches.q121SampleQuantile(spark, dir).collect().map(r =>
      r.getString(0) -> (r.getAs[Number]("exact_p50").longValue(),
                         r.getAs[Number]("exact_p90").longValue())).toMap
    assert(est === exact)
  }

  test("sample at k=16 is a strict prefix of the sample at k=32") {
    val docs = Tables.documents(spark, dir)
    def keys(k: Int) = Sketches.sampleBottomK(
        docs, Seq("lang"), col("doc_id"), col("n_chars"), k)
      .select("lang", "k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val k16 = keys(16); val k32 = keys(32)
    assert(k16.subsetOf(k32))
    assert(k16.size < k32.size)
  }

  test("per-lang samples union-retruncate to exactly the from-scratch " +
       "global sample (merge-lossless)") {
    val docs = Tables.documents(spark, dir)
    val merged = Sketches.sampleBottomK(docs, Seq("lang"), col("doc_id"),
                                        col("n_chars"))
      .select(col("pr"), col("k"))
      .orderBy(col("pr"), col("k")).limit(Sketches.SqK)
      .collect().map(_.getLong(1)).toSet
    val scratch = Sketches.sampleBottomK(docs, Seq.empty, col("doc_id"),
                                         col("n_chars"))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(merged === scratch)
  }

  test("q121 plan: the sample build trims map-side (WindowGroupLimit)") {
    val plan = Sketches.q121SampleQuantile(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"))
  }

  // ---- q123 novelty curve ------------------------------------------------

  test("q123: novelty counts conserve the distinct-shingle total and the " +
       "cumulative column is its running sum") {
    val rows = Corpus.q123SourceNovelty(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val total = Tables.documents(spark, dir)
      .select(explode(graft.operators.TextOps.shingles3(
        graft.operators.TextOps.tokens(col("text")))).as("sh"))
      .agg(countDistinct(col("sh"))).collect().head.getLong(0)
    assert(rows.map(_._2).sum === total)
    var acc = 0L
    rows.foreach { case (s, n, cum) =>
      acc += n
      assert(cum === acc, s"cum mismatch at $s")
    }
  }

  // ---- q124 water-filling ------------------------------------------------

  test("q124 invariants: alloc <= avail, budget conserved EXACTLY, open " +
       "allocations within one token of each other, water level above " +
       "every capped availability") {
    val rows = TrainPrep.q124TokenWaterfill(spark, dir).collect()
    val avail = rows.map(_.getAs[Long]("avail_tokens"))
    val alloc = rows.map(_.getAs[Long]("alloc_tokens"))
    val capped = rows.map(_.getAs[Boolean]("capped"))
    val budget = avail.sum * 4 / 5
    rows.indices.foreach { i =>
      assert(alloc(i) <= avail(i), s"row $i over-allocates")
      assert(capped(i) === (alloc(i) == avail(i)), s"row $i capped flag")
    }
    assert(alloc.sum === budget, "water-fill must spend the budget exactly")
    val open = rows.indices.filter(i => !capped(i)).map(alloc)
    if (open.nonEmpty) {
      assert(open.max - open.min <= 1, "open allocations not equal-level")
      // every capped language sits at or below the water level
      val cappedAvail = rows.indices.filter(capped).map(avail)
      cappedAvail.foreach(a => assert(a <= open.max, s"capped $a above level"))
    }
    // the fixture actually exercises both branches
    assert(capped.exists(identity) && capped.exists(!_),
      "fixture fires neither capped nor uncapped branch")
  }

  // ---- q126 chunk-level duplication -------------------------------------

  test("q126 equals a naive per-chunk recount, and shared chunks always " +
       "touch at least two docs") {
    val chunks = Corpus.q79ChunkWindows(spark, dir)
      .select("doc_id", "chunk_hash").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val docsWith = chunks.distinct.groupBy(_._2).view.mapValues(_.length).toMap
    val expect = chunks.groupBy(_._1).view.mapValues { ch =>
      (ch.length.toLong, ch.count(c => docsWith(c._2) > 1).toLong)
    }.toMap
    val got = Corpus.q126ChunkDupProfile(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === expect)
    val dupDocs = got.count(_._2._2 > 0)
    assert(dupDocs != 1, "a shared chunk must touch >= 2 docs")
  }

  // ---- q127 quality quotas -----------------------------------------------

  test("q127 Hamilton apportionment: budget conserved exactly and every " +
       "quota within one token of its exact proportional share") {
    val rows = TrainPrep.q127QualityQuota(spark, dir).collect()
    val clean = rows.map(_.getAs[Long]("clean_tokens"))
    val alloc = rows.map(_.getAs[Long]("alloc_tokens"))
    val cTotal = clean.sum
    val budget = cTotal / 3
    assert(alloc.sum === budget, "apportionment must conserve the budget")
    rows.indices.foreach { i =>
      val base = BigInt(budget) * clean(i) / cTotal
      assert(alloc(i) == base.toLong || alloc(i) == base.toLong + 1,
        s"row $i quota ${alloc(i)} outside [${base}, ${base + 1}]")
      if (clean(i) == 0) assert(alloc(i) === 0L)
    }
  }

  // ---- q128/q129 product quantization -----------------------------------

  test("q128 PQ codes equal a naive per-subspace argmin with the same " +
       "decimal rounding, and seed vectors self-encode") {
    import graft.operators.Similarity
    def r4(d: Double): BigDecimal =
      BigDecimal(d).setScale(12, BigDecimal.RoundingMode.HALF_UP)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val vs = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def sub(v: Array[Double], m: Int) =
      v.slice(m * Similarity.PQ_SUBDIM, (m + 1) * Similarity.PQ_SUBDIM)
    def dotv(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    val seeds = vs.take(Similarity.PQ_K)
    val expect = (for {
      (id, v) <- vs; m <- 0 until Similarity.PQ_M
    } yield {
      val sv = sub(v, m)
      val best = seeds.map { case (code, cv) =>
        val c = sub(cv, m)
        (r4(dotv(sv, sv) + dotv(c, c) - 2.0 * dotv(sv, c)), code)
      }.min
      (id, m.toLong) -> best._2
    }).toMap
    val got = Similarity.q128PqEncode(spark, dir).collect().flatMap { r =>
      val id = r.getLong(0)
      (0 until Similarity.PQ_M).map(m => (id, m.toLong) -> r.getLong(1 + m))
    }.toMap
    assert(got === expect)
    // a codebook seed's nearest centroid in every subspace is itself
    seeds.foreach { case (id, _) =>
      (0 until Similarity.PQ_M).foreach(m =>
        assert(got((id, m.toLong)) === id, s"seed $id subspace $m"))
    }
  }

  test("q129/q130 recall audits: 16 query rows each, hits bounded by k, " +
       "ratio consistent") {
    import graft.operators.Similarity
    Seq(Similarity.q129PqRecall(spark, dir),
        Similarity.q130IvfPqRecall(spark, dir)).foreach { df =>
      val rows = df.collect()
      assert(rows.length === 16)
      rows.foreach { r =>
        val h = r.getAs[Long]("n_hits")
        assert(h >= 0 && h <= 5)
        assert(r.getAs[Double]("recall_at_k") === h.toDouble / 5)
      }
    }
  }

  // ---- q125 dup burden ---------------------------------------------------

  test("q125 ties out against the verified pair set: sum(dup_docs) = " +
       "distinct docs in pairs, cross <= dup <= n") {
    val rows = Dedup.q125DupBurden(spark, dir).collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val d = r.getAs[Long]("dup_docs")
      val x = r.getAs[Long]("cross_docs")
      assert(x <= d && d <= n, s"source ${r.getString(0)}: $x <= $d <= $n")
    }
    val pairs = Dedup.q29LshNearDup(spark, dir)
      .select("doc_a", "doc_b").collect()
    val touched = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(_.getAs[Long]("dup_docs")).sum === touched.size.toLong)
    assert(touched.nonEmpty, "fixture has no near-dup pairs — test is vacuous")
  }
}
