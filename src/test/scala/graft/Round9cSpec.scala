package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 behavioral pins — the contracts the oracles can't express:
  * cross-query consistency (q251's exact leg ≡ q32's brute top-k), metric
  * bounds (NDCG ≤ 1, grounding ≤ 1, Hamming ≤ 64), detector soundness on
  * the raw fixture (q255: prose carries zero license markers), and
  * closed-form fixture arithmetic (q255 carrier counts = moduli math). */
class Round9cSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q251: Hamming within [0,64], ranks dense 1..k per query, and the " +
       "embedded exact audit agrees with q32's brute-force top-k") {
    val bq = graft.operators.Similarity.q251BinaryQuantRecall(spark, dir).collect()
    assert(bq.nonEmpty)
    val byQ = bq.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to rows.length),
        s"ranks not dense for query $q")
      assert(rows.forall(r => r.getLong(3) >= 0L && r.getLong(3) <= 64L),
        s"hamming out of range for query $q")
      // hamming non-decreasing in rank (the ordering contract)
      val byRank = rows.sortBy(_.getLong(1)).map(_.getLong(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b },
        s"hamming not monotone in rank for query $q")
    }
    // cross-query pin: rows flagged in_exact=1 are exactly the members of
    // q32's brute-force cosine top-k for the same probes
    val exactSets = graft.operators.Similarity.q32AnnBrute(spark, dir)
      .select(col("q_id"), col("n_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    bq.foreach { r =>
      val flagged = r.getLong(4) == 1L
      val inQ32 = exactSets.contains((r.getLong(0), r.getLong(2)))
      assert(flagged == inQ32,
        s"in_exact disagrees with q32 for (${r.getLong(0)}, ${r.getLong(2)})")
    }
  }

  test("q252: 0 ≤ DCG ≤ IDCG, ndcg_ppm ≤ 1e6, one row per probe query") {
    val nd = graft.operators.Retrieval.q252NdcgEval(spark, dir).collect()
    assert(nd.length == graft.operators.Retrieval.querySet.length)
    nd.foreach { r =>
      val (dcg, idcg, ndcg) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(dcg >= 0L && idcg >= dcg, s"DCG bound violated: $r")
      assert(ndcg >= 0L && ndcg <= 1000000L, s"ndcg out of range: $r")
      assert(ndcg == dcg * 1000000L / idcg, s"ndcg arithmetic: $r")
    }
    // the fixture must actually discriminate (an all-1.0 metric pins
    // nothing — the degenerate shape this metric replaced)
    assert(nd.exists(_.getLong(3) < 1000000L),
      "NDCG degenerate: every query perfectly ranked")
  }

  test("q253: 0 ≤ n_hit ≤ n_ans ≤ AnswerLen; query set = the capped sampler") {
    val ga = graft.operators.Retrieval.q253GroundingAudit(spark, dir).collect()
    assert(ga.nonEmpty)
    ga.foreach { r =>
      val (nAns, nHit, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nAns >= 1L && nAns <= graft.operators.Retrieval.AnswerLen.toLong)
      assert(nHit >= 0L && nHit <= nAns)
      assert(ppm == nHit * 1000000L / nAns)
    }
    // 500-doc fixture, stride 97, residue 3 → queries 3,100,197,294,391,488
    assert(ga.map(_.getLong(0)).toSeq == Seq(3L, 100L, 197L, 294L, 391L, 488L))
  }

  test("q254: alignment within ±1e4, exactly the bottom-K, ascending") {
    val ca = graft.operators.Multimodal.q254ClipAlignStub(spark, dir).collect()
    assert(ca.length == 20)
    val aligns = ca.sortBy(_.getLong(0)).map(_.getLong(3))
    assert(aligns.forall(a => a >= -10000L && a <= 10000L))
    assert(aligns.zip(aligns.tail).forall { case (a, b) => a <= b },
      "bottom-K not ascending in alignment")
  }

  test("q257: reuse histogram conserves the packed rows and the fixture " +
       "genuinely exhibits reuse (>1-context passages exist)") {
    val cr = graft.operators.Retrieval.q257ContextReuse(spark, dir).collect()
    assert(cr.nonEmpty)
    cr.foreach { r =>
      assert(r.getLong(0) >= 1L && r.getLong(1) >= 1L && r.getLong(2) >= 1L)
    }
    assert(cr.exists(_.getLong(0) > 1L),
      "context-reuse degenerate: no passage shared across contexts")
  }

  test("q258: tombstoned vectors are fully invisible (never a probe, " +
       "never a candidate) and the top-k genuinely re-closes vs q250") {
    val del = graft.operators.Similarity.q258IvfDeleteQuery(spark, dir).collect()
    assert(del.nonEmpty)
    val deletedQ = del.map(_.getLong(0)).distinct.filter(_ % 11L == 5L)
    val deletedN = del.map(_.getLong(2)).filter(_ % 11L == 5L)
    assert(deletedQ.isEmpty, s"tombstoned ids served as probes: ${deletedQ.toSeq}")
    assert(deletedN.isEmpty, s"tombstoned ids returned as candidates: ${deletedN.toSeq}")
    // deletion must actually change something: q250's pre-delete results
    // contain tombstoned probes or candidates that q258 excludes
    val pre = graft.operators.Similarity.q250IvfUpsertQuery(spark, dir).collect()
    val preHasDeleted = pre.exists(r =>
      r.getLong(0) % 11L == 5L || r.getLong(2) % 11L == 5L)
    assert(preHasDeleted, "fixture never exercises a deletion-visible row")
    assert(pre.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet !=
           del.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      "delete query identical to pre-delete query")
  }

  test("Tables.invalidate: a writer that mutates a loaded path can drop " +
       "the memoized handle and the next load re-lists the directory") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_inval").toString
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", lit(1L))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Tables.documents(spark, dir).count() == 2L)
    // in-session append to the SAME loaded path: the memoized handle's
    // pinned file listing must NOT see it (the documented assumption)...
    Seq((3L, "c")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", lit(1L))
      .write.mode("append").parquet(s"$dir/documents.parquet")
    assert(Tables.documents(spark, dir).count() == 2L,
      "memoized handle should serve the pinned listing")
    // ...until the writer calls the invalidation hook
    Tables.invalidate(spark, dir)
    assert(Tables.documents(spark, dir).count() == 3L,
      "invalidate must force a re-list of the mutated directory")
  }

  test("q255: raw prose carries zero license markers; carrier counts are " +
       "the closed-form moduli arithmetic; multi ∧ untagged partition") {
    import spark.implicits._
    // detector soundness: the corpus WITHOUT the injected tail is clean
    val raw = Tables.documents(spark, dir)
      .select(lower(col("text")).as("lt"))
      .filter(col("lt").contains(graft.operators.License.MitMarker) ||
              col("lt").contains(graft.operators.License.ApacheMarker) ||
              col("lt").contains(graft.operators.License.GplMarker))
      .count()
    assert(raw == 0L, s"raw prose matched a license marker ($raw docs)")
    val out = graft.operators.License.q255LicenseTag(spark, dir).collect()
    val ids = Tables.documents(spark, dir)
      .select(col("doc_id")).collect().map(_.getLong(0))
    def carriers(m: Long) = ids.count(_ % m == 0).toLong
    assert(out.map(_.getLong(2)).sum == carriers(7), "MIT carrier count")
    assert(out.map(_.getLong(3)).sum == carriers(13), "Apache carrier count")
    assert(out.map(_.getLong(4)).sum == carriers(17), "GPL carrier count")
    val multi = ids.count(d => Seq(7L, 13L, 17L).count(d % _ == 0) > 1).toLong
    val untagged = ids.count(d => Seq(7L, 13L, 17L).forall(d % _ != 0)).toLong
    assert(out.map(_.getLong(5)).sum == multi, "multi-license count")
    assert(out.map(_.getLong(6)).sum == untagged, "untagged count")
    assert(out.map(_.getLong(1)).sum == ids.length.toLong)
  }
}
