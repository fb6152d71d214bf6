package graft

import graft.operators.{Corpus, Similarity, Sketches, TextOps, TrainPrep, UrlOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 third-batch property tests: KMV set-operation algebra (q160),
  * segment-dedup rewrite equivalence against a driver-side naive
  * recomputation (q161), and the refine-dominates-ADC recall invariant
  * (q162). */
class Round5cSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  // ---- q160 KMV set operations ------------------------------------------

  test("q160 exact legs satisfy inclusion-exclusion exactly and the " +
       "sketch legs match a driver-side replay of the estimator") {
    val r = Sketches.q160KmvSetOps(spark, dir).collect()(0)
    val (nA, nB, inter, union) =
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(nA + nB === inter + union, "inclusion-exclusion violated")
    assert(inter <= math.min(nA, nB) && union >= math.max(nA, nB))
    val occupied = r.getLong(6)
    val matches = r.getLong(7)
    assert(occupied <= Sketches.KmvK)
    assert(matches <= occupied)
    val jEst = r.getDouble(8)
    assert(jEst >= 0.0 && jEst <= 1.0)

    // driver-side replay from the raw rows: rebuild both bottom-k sets
    // with the same md5-top-8-hex hash and recount the union matches
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .withColumn("release", pmod(col("event_id"), lit(4L)))
      .filter(col("release") < 2)
      .select(col("release"),
        conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long").as("h"))
      .distinct().collect()
    val ak = ev.filter(_.getLong(0) == 0L).map(_.getLong(1)).distinct
      .sorted.take(Sketches.KmvK).toSet
    val bk = ev.filter(_.getLong(0) == 1L).map(_.getLong(1)).distinct
      .sorted.take(Sketches.KmvK).toSet
    val u = (ak ++ bk).toSeq.sorted.take(Sketches.KmvK)
    assert(occupied === u.size.toLong)
    assert(matches === u.count(h => ak(h) && bk(h)).toLong)
  }

  // ---- q161 segment-dedup rewrite ----------------------------------------

  test("q161 per-source report equals a driver-side naive rewrite, the " +
       "cut has teeth, and untouched docs rebuild byte-identically") {
    val L = Corpus.SegDedupLen
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), lower(col("text")).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    // naive global first-occurrence keeper over the same segment grid
    val segs = docs.flatMap { case (id, src, t) =>
      t.split("\\s+").grouped(L).zipWithIndex.map { case (seg, i) =>
        (id, src, i.toLong, seg.mkString(" "))
      }
    }
    val winner = segs.groupBy(_._4).map { case (seg, occ) =>
      seg -> occ.map(o => o._1 * 100000L + o._3).min
    }
    val perDoc = docs.map { case (id, src, t) =>
      val own = segs.filter(_._1 == id)
      val kept = own.filter(s => winner(s._4) == id * 100000L + s._3)
      val rebuilt = kept.sortBy(_._3).map(_._4).mkString(" ")
      (id, src, own.length.toLong, kept.length.toLong, rebuilt, t)
    }
    val expected = perDoc.groupBy(_._2).map { case (src, ds) =>
      val md5s = ds.map(d => java.security.MessageDigest.getInstance("MD5")
        .digest(d._5.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      (src, ds.length.toLong, ds.map(_._3).sum, ds.map(_._4).sum,
       ds.map(_._3).sum - ds.map(_._4).sum,
       md5s.distinct.length.toLong, md5s.min, md5s.max)
    }.toSeq.sortBy(_._1)
    val got = Corpus.q161SegDedupRewrite(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5), r.getString(6), r.getString(7)))
      .toSeq
    assert(got === expected, "operator diverges from the naive rewrite")
    // teeth: the corpus actually contains cross-doc duplicate segments
    assert(expected.map(_._5).sum > 0L, "fixture has no duplicate segments")
    // identity: a doc that loses nothing rebuilds to its own lowered text
    val untouched = perDoc.filter(d => d._3 == d._4)
    assert(untouched.nonEmpty)
    untouched.foreach { d =>
      assert(d._5 === d._6, s"doc ${d._1} changed without a cut")
    }
  }

  // ---- q163 Gopher char-coverage -----------------------------------------

  test("q163 coverage equals a driver-side naive recomputation (union " +
       "position semantics, top-bigram tie rule included)") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+"))).sortBy(_._1)
    val expected = docs.map { case (id, t) =>
      val tc = t.map(_.length.toLong).sum
      def cov(n: Int, pick: Map[String, Seq[Int]] => Seq[(String, Int)]) = {
        val occ = t.sliding(n).zipWithIndex
          .map { case (g, s) => (md5hex(g.mkString(" ")), s) }.toSeq
          .filter(_ => t.length >= n)
        val byG = occ.groupBy(_._1).map { case (g, o) => g -> o.map(_._2) }
        val chosen = pick(byG)
        chosen.flatMap { case (_, s) => s until (s + n) }.distinct
          .map(p => t(p).length.toLong).sum
      }
      val top2 = cov(2, byG =>
        if (byG.isEmpty) Seq.empty
        else {
          val best = byG.toSeq
            .sortBy { case (g, o) => (-o.size, g) }.head._1
          byG(best).map(s => (best, s))
        })
      val dup3 = cov(3, byG =>
        byG.toSeq.filter(_._2.size >= 2)
          .flatMap { case (g, o) => o.map(s => (g, s)) })
      (id, tc, top2, dup3)
    }
    val got = TextOps.q163GopherCoverage(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expected.map(e => (e._1, e._2, e._3, e._4)).toSeq)
    // teeth: some doc has a duplicated trigram
    assert(expected.exists(_._4 > 0L), "no duplicated trigrams in fixture")
  }

  // ---- q164 URL canonicalization -----------------------------------------

  test("q164 collapse has teeth and respects containment: canon <= raw " +
       "<= urls per source, and canonical keys carry no dressing") {
    val rows = UrlOps.q164UrlCanonDedup(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), s"canon > raw for ${r.getString(0)}")
      assert(r.getLong(2) <= r.getLong(1), s"raw > urls for ${r.getString(0)}")
      assert(r.getLong(4) === r.getLong(2) - r.getLong(3))
    }
    assert(rows.map(_.getLong(4)).sum > 0L, "canonicalization collapsed nothing")
    // no canonical key retains scheme/www/query/fragment/trailing slash
    val canons = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .select(explode(regexp_extract_all(
        concat(col("text"), UrlOps.urlTail(col("doc_id")),
               UrlOps.urlDupTail(col("doc_id"))),
        lit(UrlOps.fullUrlPat), lit(0))).as("u"))
      .select(UrlOps.canonicalize(col("u")).as("c"))
      .collect().map(_.getString(0))
    assert(canons.nonEmpty)
    canons.foreach { c =>
      assert(!c.contains("://") && !c.startsWith("www.") &&
             !c.contains("?") && !c.contains("#") && !c.endsWith("/"),
        s"undressed canonical still carries dressing: $c")
    }
  }

  // ---- q165 dynamic batching ---------------------------------------------

  test("q165 strategies conserve docs/batches/content tokens, and sorted " +
       "batching strictly reduces padding on this corpus") {
    val rows = TrainPrep.q165BatchPlan(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (aDocs, aBatches, aSlots, aPad) = rows("arrival")
    val (sDocs, sBatches, sSlots, sPad) = rows("sorted")
    assert(aDocs === sDocs && aBatches === sBatches)
    // content tokens (slots minus pad) identical — batching moves docs,
    // never tokens
    assert(aSlots - aPad === sSlots - sPad)
    assert(sPad < aPad, s"sorting did not reduce padding: $sPad >= $aPad")
  }

  // ---- q162 IVF-PQ refine ------------------------------------------------

  test("q162 refine recall dominates ADC recall on every query (the " +
       "shortlist-containment theorem), bounded by 1") {
    val rows = Similarity.q162IvfPqRefine(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (hitsAdc, recAdc) = (r.getLong(1), r.getDouble(2))
      val (hitsRef, recRef) = (r.getLong(3), r.getDouble(4))
      assert(hitsRef >= hitsAdc,
        s"refine lost recall on q_id ${r.getLong(0)}: $hitsRef < $hitsAdc")
      assert(recAdc >= 0.0 && recAdc <= 1.0)
      assert(recRef >= 0.0 && recRef <= 1.0)
      assert(recRef === hitsRef.toDouble / 5.0)
    }
  }
}
