package graft

import graft.operators.{Corpus, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 third batch: hubness conservation laws and a full driver-side
  * replay of the memorization probe. */
class Round6eSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q196 hubness: histogram conserves the corpus and the retrieval " +
       "mass; 0-bucket present") {
    val rows = Similarity.q196HubnessAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nVecs = Tables.embeddings(spark, dir).count()
    // mirror the count-derived sample rule: stride = ceil(n/cap), ids
    // ≡ 0 mod stride, hard-capped at cap — and assert the bound holds
    val cap = Similarity.HubSampleCap
    val stride = math.max(1L, (nVecs + cap - 1) / cap)
    val nQueries = math.min(cap, Tables.embeddings(spark, dir)
      .filter(col("vec_id") % stride === 0L).count())
    assert(nQueries <= cap, "q196 sample must stay within its fixed budget")
    assert(rows.map(_._2).sum === nVecs, "every point lands in one bucket")
    assert(rows.map { case (k, n) => k * n }.sum === nQueries * 5L,
      "total k-occurrences must equal |queries| * K")
    assert(rows.exists(_._1 == 0L), "anti-hub bucket must be reported")
    assert(rows.exists(r => r._1 > 0 && r._2 > 0))
  }

  test("q198 NFC audit: only decomposed docs flagged (precomposed decoys " +
       "pass), closed-form counts, kernel idempotent, raw corpus clean") {
    val got = operators.EncodingQa.q198NfcAudit(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val ids = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    for ((src, ds) <- ids.groupBy(_._1)) {
      val denorm = ds.count(_._2 % 5 == 1).toLong
      assert(got(src)._1 === ds.length.toLong)
      assert(got(src)._2 === denorm, s"$src: only d%5==1 docs decompose")
      // each decomposed tail composes e+U+0301 and a+U+0308 → 2 cp saved
      assert(got(src)._3 === 2L * denorm, s"$src chars_saved")
    }
    // kernel: idempotent, identity on ASCII, composes the fixture
    import org.apache.spark.unsafe.types.UTF8String
    val k = (s: String) =>
      graft.functions.TextHashUtil.nfc(UTF8String.fromString(s)).toString
    assert(k("plain ascii") === "plain ascii")
    assert(k("cafe\u0301") === "caf\u00e9", "composes the decomposed form")
    assert(k(k("cafe\u0301")) === k("cafe\u0301"), "idempotent")
    // raw corpus (no tails) is already NFC everywhere
    val raw = Tables.documents(spark, dir)
      .select(sum(when(call_function("graft_nfc", col("text")) =!= col("text"),
        1L).otherwise(0L)))
      .collect().head.getLong(0)
    assert(raw === 0L, "detector specificity: raw corpus must be clean")
  }

  test("q200 ensemble rank: RRF top-20 replays from driver-side signal " +
       "ranks; fusion genuinely mixes the three orders") {
    val got = operators.Ensemble.q200EnsembleRank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4)))
    assert(got.length === 20)
    // replay: collect the three signals and rank naively
    val qual = operators.TextOps.q35QualityScore(spark, dir)
      .select(col("doc_id"),
        expr("CAST(round(quality * 1000000.0) AS BIGINT)")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val flu = operators.Corpus.fluencyDocScores(spark, dir)
      .select(col("doc_id"), col("doc_ppm")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = qual.keySet.intersect(flu.keySet).toSeq
    def ranksOf(score: Long => Long, asc: Boolean): Map[Long, Long] =
      ids.sortBy(id => (if (asc) score(id) else -score(id), id))
        .zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), lower(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").toSeq).toMap
    def coll(id: Long): Long = {
      val t = docs(id)
      val c2 = t.groupBy(identity).values.map(g => g.size.toLong * g.size).sum
      1000000L * c2 / (t.size.toLong * t.size)
    }
    val (rq, rf, rd) = (ranksOf(qual, asc = false),
                        ranksOf(flu, asc = false), ranksOf(coll, asc = true))
    def rrf(id: Long): Long =
      1000000000L / (60 + rq(id)) + 1000000000L / (60 + rf(id)) +
        1000000000L / (60 + rd(id))
    val expected = ids.sortBy(id => (-rrf(id), id)).take(20)
      .map(id => (id, rq(id), rf(id), rd(id), rrf(id)))
    assert(got.toSeq === expected)
    // fusion genuinely mixes: the three signal orders disagree pairwise
    // on this corpus (else RRF would be a re-label of one signal)
    assert(ids.sortBy(id => (rq(id), id)) != ids.sortBy(id => (rf(id), id)))
    assert(ids.sortBy(id => (rq(id), id)) != ids.sortBy(id => (rd(id), id)))
  }

  test("q201 curriculum: phases partition the scored corpus near-evenly, " +
       "fluency envelope monotone easy→hard, pack arithmetic exact") {
    val rows = operators.TrainPrep.q201CurriculumPhases(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L))
    val scored = operators.Corpus.fluencyDocScores(spark, dir).count()
    assert(rows.map(_._2).sum === scored)
    assert(rows.map(_._2).max - rows.map(_._2).min <= 1L,
      "equal-rank cut must balance phase sizes within 1")
    // easy phases hold the more fluent docs: max envelope non-increasing
    val maxes = rows.map(_._5)
    assert(maxes.zip(maxes.tail).forall { case (a, b) => a >= b })
    rows.foreach { case (_, _, tok, packs, _, _) =>
      assert(packs === (tok + 2047) / 2048)
    }
  }

  test("q202 contrastive pairs replay byte-exactly from a driver-side " +
       "chunker") {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), lower(col("text"))).collect()
      .map(r => (r.getString(0), r.getString(1).split("\\s+").toSeq))
    def md5hex(s: String): String =
      graft.functions.TextHashUtil.md5Hex(s)
    val expected = docs.groupBy(_._1).map { case (src, ds) =>
      val perDoc = ds.map { case (_, t) =>
        val chunks = t.grouped(operators.Corpus.PairChunk)
          .map(c => md5hex(c.mkString(" "))).toSeq
        chunks.zip(chunks.drop(1)).map { case (a, b) => md5hex(a + b) }
      }
      val pairs = perDoc.flatten
      src -> ((ds.size.toLong, perDoc.count(_.nonEmpty).toLong,
               pairs.size.toLong, pairs.distinct.size.toLong,
               pairs.min, pairs.max))
    }
    val got = operators.Corpus.q202ContrastivePairs(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5), r.getString(6)))).toMap
    assert(got === expected)
  }

  test("q203 length-bias τ replays from driver-side decile contingency; " +
       "pair classes partition all pairs") {
    val got = operators.Bias.q203LengthBias(spark, dir).collect().head
    val (n, c, dsc, tied, tau) = (got.getLong(0), got.getLong(1),
      got.getLong(2), got.getLong(3), got.getLong(4))
    assert(c + dsc + tied === n * (n - 1) / 2)
    assert(math.abs(tau) <= 1000000L)
    // replay deciles + τ from the collected signals
    val rows = operators.TextOps.q35QualityScore(spark, dir)
      .select(col("doc_id"), col("n_tok"),
        expr("CAST(round(quality * 1000000.0) AS BIGINT)")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def deciles(key: ((Long, Long, Long)) => Long): Map[Long, Long] = {
      val sorted = rows.sortBy(r => (-key(r), r._1))
      sorted.zipWithIndex.map { case (r, i) =>
        r._1 -> (10L * i / rows.length) }.toMap
    }
    val (dq, dl) = (deciles(_._3), deciles(_._2))
    var cc = 0L; var dd = 0L
    for (i <- rows.indices; j <- (i + 1) until rows.length) {
      val s = (dq(rows(i)._1) - dq(rows(j)._1)) *
              (dl(rows(i)._1) - dl(rows(j)._1))
      if (s > 0) cc += 1 else if (s < 0) dd += 1
    }
    assert((c, dsc) === ((cc, dd)))
  }

  test("q197 memorization probe replays from a driver-side n-gram index") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), lower(col("text"))).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split("\\s+").toSeq))
    def gramsOf(t: Seq[String], n: Int): Seq[String] =
      if (t.size < n) Seq.empty else t.sliding(n).map(_.mkString(" ")).toSeq
    val expected = {
      val byN = Corpus.MemNs.map { n =>
        val df = scala.collection.mutable.Map.empty[String, Int]
        for ((_, _, t) <- docs; g <- gramsOf(t, n).distinct)
          df(g) = df.getOrElse(g, 0) + 1
        n -> df
      }.toMap
      docs.map { case (_, src, t) =>
        val maxN = Corpus.MemNs.filter { n =>
          t.size >= n && byN(n)(t.takeRight(n).mkString(" ")) >= 2
        }
        (src, if (maxN.isEmpty) 0L else maxN.max.toLong)
      }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    }
    val got = Corpus.q197MemorizationProbe(spark, dir).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got === expected)
    // the probe separates: some doc's ending is shared, some is unique
    assert(expected.keys.exists(_._2 == 0L) && expected.keys.exists(_._2 > 0L))
  }
}
