package graft

import graft.operators.{Corpus, TrainPrep}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 third-batch property tests: the CCNet perplexity-bucket
  * boundary rule (q131), the temperature-quota conservation and
  * flattening laws (q132), and the epoch-plan repeat-cap accounting
  * (q133). */
class Round4cSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  // ---- q131 perplexity buckets ------------------------------------------

  test("q131 buckets conserve each language's scored-doc count and " +
       "order cleanly: head scores >= middle scores >= tail scores") {
    val b = Corpus.q131PerplexityBuckets(spark, dir).collect()
    // conservation: per-lang bucket sums == per-lang scored docs
    val scoredPerLang = Corpus.q118LmScore(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "lang"), Seq("doc_id"))
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bucketSums = b.groupBy(_.getString(0))
      .map { case (lang, rows) => lang -> rows.map(_.getLong(2)).sum }
    bucketSums.foreach { case (lang, n) =>
      assert(n === scoredPerLang(lang), s"lang $lang")
    }
    // disjoint score ranges: head.lo >= middle.hi >= middle.lo >= tail.hi
    b.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val by = rows.map(r => r.getString(1) -> (r.getDouble(3), r.getDouble(4))).toMap
      for (h <- by.get("head"); m <- by.get("middle"))
        assert(h._1 >= m._2, s"$lang head.lo < middle.hi")
      for (m <- by.get("middle"); t <- by.get("tail"))
        assert(m._1 >= t._2, s"$lang middle.lo < tail.hi")
    }
  }

  test("q131 bucket rule matches a naive per-doc strict-rank computation") {
    val scored = Corpus.q118LmScore(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "lang"), Seq("doc_id"))
      .select("lang", "lm_score").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val naive = scored.groupBy(_._1).toSeq.flatMap { case (lang, rows) =>
      val scores = rows.map(_._2)
      val n = scores.length.toLong
      scores.toSeq.map { s =>
        val rHi = scores.count(_ > s).toLong
        val bucket =
          if (rHi * 3 < n) "head"
          else if (rHi * 3 < n * 2) "middle"
          else "tail"
        (lang, bucket)
      }
    }.groupBy(x => x).map { case (k, v) => k -> v.size.toLong }
    val got = Corpus.q131PerplexityBuckets(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(naive.toMap === got)
  }

  // ---- q132 temperature quota -------------------------------------------

  test("q132 conserves the budget exactly and alpha=1/2 flattens the " +
       "mixture: sub-proportional share for the largest source, " +
       "super-proportional for the smallest") {
    val rows = TrainPrep.q132TemperatureQuota(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val total = rows.map(_._2).sum
    val budget = total / 2
    assert(rows.map(_._4).sum === budget, "sum(alloc) != budget")
    // integer cross-multiplication: share comparisons without division
    val largest = rows.maxBy(_._2)
    val smallest = rows.minBy(_._2)
    assert(BigInt(largest._4) * total <= BigInt(largest._2) * budget,
      "largest source not flattened down")
    assert(BigInt(smallest._4) * total >= BigInt(smallest._2) * budget,
      "smallest source not flattened up")
    // weight law: weight_micro == floor(sqrt(avail)*1e6) for every source
    rows.foreach { case (_, avail, wgt, _) =>
      assert(wgt === math.floor(math.sqrt(avail.toDouble) * 1e6).toLong)
    }
  }

  // ---- q133 epoch plan ---------------------------------------------------

  test("q133 conserves budget as served+deficit, caps epochs at 4, and " +
       "deficits exactly the over-cap allocations") {
    val rows = TrainPrep.q133EpochPlan(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val total = rows.map(_._1).sum
    assert(rows.map(r => r._4 + r._5).sum === total * 3,
      "sum(served+deficit) != budget")
    rows.foreach { case (avail, alloc, epochs, served, deficit) =>
      assert(epochs >= 1 && epochs <= 4)
      assert(epochs === math.min(4L, (alloc + avail - 1) / avail))
      assert(served === math.min(alloc, avail * 4))
      assert(deficit === alloc - served)
      assert((deficit > 0) === (alloc > avail * 4), "deficit iff over cap")
    }
    // the repeat cap has teeth on this fixture: at a 3x-corpus budget with
    // alpha=1/2 weights, at least one small source must hit 4 epochs
    assert(rows.exists(_._3 === 4L), "no source hit the epoch cap")
  }

  // ---- q134 KS drift -----------------------------------------------------

  test("q134 matches a naive two-sample KS computation and stays in " +
       "[0, 1e6]") {
    val scored = Corpus.q118LmScore(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "source"), Seq("doc_id"))
      .select("source", "lm_score").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val all = scored.map(_._2).sorted
    val nG = all.length.toLong
    val naive = scored.groupBy(_._1).map { case (src, rows) =>
      val s = rows.map(_._2)
      val nS = s.length.toLong
      // evaluate |F_s - F_rest| at every observed score (max is attained
      // at a jump point); cross-multiplied integers, no float ECDF
      val maxNum = all.distinct.map { v =>
        val cumS = s.count(_ <= v).toLong
        val cumG = all.count(_ <= v).toLong
        (BigInt(cumS) * nG - BigInt(cumG) * nS).abs
      }.max
      src -> (maxNum * 1000000 / (BigInt(nS) * (nG - nS))).toLong
    }
    val got = Corpus.q134KsDrift(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(naive.toMap === got)
    got.values.foreach(v => assert(v >= 0 && v <= 1000000L))
  }

  // ---- q135 vocab coverage curve ----------------------------------------

  test("q135 coverage is monotone in k, saturates to exactly 1e6 at " +
       "k >= |vocab|, and matches a naive token count") {
    val rows = Corpus.q135VocabCoverage(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._3, s"coverage not monotone at k=${b._1}")
    }
    rows.foreach { case (_, _, cov, oov) => assert(cov + oov === 1000000L) }
    // naive recount
    val toks = Tables.documents(spark, dir)
      .select(explode(graft.operators.TextOps.tokens(col("text"))).as("t"))
      .collect().map(_.getString(0))
    val byCount = toks.groupBy(x => x).map { case (t, v) => (t, v.size.toLong) }
      .toSeq.sortBy { case (t, c) => (-c, t) }
    val total = toks.length.toLong
    rows.foreach { case (k, vocabK, cov, _) =>
      assert(vocabK === math.min(k, byCount.size.toLong))
      val cum = byCount.take(k.toInt).map(_._2).sum
      assert(cov === cum * 1000000L / total, s"k=$k")
    }
    // saturation: any k >= |vocab| covers everything exactly
    rows.filter(_._1 >= byCount.size).foreach { case (_, _, cov, _) =>
      assert(cov === 1000000L)
    }
    // plan: the vocab head is a TakeOrdered, not a global sort/window
    val plan = Corpus.q135VocabCoverage(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  // ---- q136 cluster-balanced sample -------------------------------------

  test("q136 takes min(5, cluster_n) per cluster, covers every cluster, " +
       "and the rank filter plans as WindowGroupLimit") {
    val rows = graft.operators.Similarity.q136ClusterSample(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byCluster = rows.groupBy(_._1)
    byCluster.foreach { case (c, rs) =>
      val n = rs.head._4
      assert(rs.length.toLong === math.min(5L, n), s"cluster $c")
      assert(rs.map(_._2).sorted.toSeq === (1L to rs.length.toLong), s"ranks $c")
    }
    // every vector is in exactly one cluster; sizes sum to the corpus
    val total = Tables.embeddings(spark, dir).count()
    assert(byCluster.values.map(_.head._4).sum === total)
    // balance: no cluster contributes more than 5 no matter its size
    assert(rows.groupBy(_._1).values.forall(_.length <= 5))
    val plan = graft.operators.Similarity.q136ClusterSample(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), "rank filter not a group-limit")
    assert(!plan.contains("CartesianProduct"))
  }

  // ---- q137 packing integrity audit -------------------------------------

  test("q137: contiguous packing has no internal gaps and conserves " +
       "tokens exactly") {
    val rows = Corpus.q137PackAudit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val L = Corpus.PackSeqLen
    // pack ids are dense 0..P-1
    assert(rows.map(_._1).toSeq === (0L until rows.length.toLong))
    // no internal gaps: every pack but the last fills to exactly L
    rows.init.foreach { case (p, _, _, fill) =>
      assert(fill === L, s"pack $p underfilled")
    }
    assert(rows.last._4 >= 1L && rows.last._4 <= L)
    // conservation: sum of fills == total corpus tokens
    val total = Tables.documents(spark, dir)
      .select(sum(size(split(lower(col("text")), "\\s+")).cast("long")))
      .collect()(0).getLong(0)
    assert(rows.map(_._4).sum === total)
    // touching >= starting, and straddlers tie out with q68's flags
    rows.foreach { case (_, st, tch, _) => assert(tch >= st) }
    val straddlers = Corpus.q68PackSequences(spark, dir)
      .filter(col("straddles")).count()
    val extraTouches = rows.map(r => r._3 - r._2).sum
    // a doc spanning m packs contributes m-1 non-starting touches
    assert(extraTouches >= straddlers, "straddle touches undercounted")
  }

  // ---- q138 split-leakage audit -----------------------------------------

  test("q138 matrix conserves the verified pair set, flags exactly the " +
       "off-diagonal cells, and derives from the md5 split gate") {
    val rows = graft.operators.Dedup.q138SplitLeakage(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    val pairCount = graft.operators.Dedup.q29LshNearDup(spark, dir).count()
    assert(rows.map(_._3).sum === pairCount, "matrix loses pairs")
    rows.foreach { case (lo, hi, _, leaky) =>
      assert(leaky === (lo != hi))
      assert(lo <= hi, "cells not canonical unordered")
    }
    // the matrix agrees with a naive per-pair split assignment
    val splitOf: Long => String = { id =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 2)
      if (hex < "c0") "train" else if (hex < "e0") "val" else "test"
    }
    val naive = graft.operators.Dedup.q29LshNearDup(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => {
        val (a, b) = (splitOf(r.getLong(0)), splitOf(r.getLong(1)))
        (if (a <= b) a else b, if (a <= b) b else a)
      })
      .groupBy(x => x).map { case (k, v) => k -> v.length.toLong }
    assert(naive.toMap === rows.map(r => (r._1, r._2) -> r._3).toMap)
  }
}
