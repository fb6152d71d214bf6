package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 distributional audits: the percentile gate's bounds/counts and
  * the Simpson concentration numbers replay exactly from driver-side
  * brute force over the collected corpus. */
class Round6dSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val docs: Seq[(String, String)] =
    Tables.documents(spark, dir).select(col("source"), lower(col("text")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  test("q189 percentile gate: nearest-rank P1/P99 and trim counts replay " +
       "from a driver-side sort per source") {
    val got = TextOps.q189PercentileGate(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    val bySource = docs.groupBy(_._1)
    assert(got.keySet === bySource.keySet)
    for ((src, ds) <- bySource) {
      val lens = ds.map(_._2.split("\\s+").length.toLong).sorted
      val n = lens.length
      def nearestRank(p: Int): Long = lens((p * n + 99) / 100 - 1)
      val (p01, p99) = (nearestRank(1), nearestRank(99))
      val below = lens.count(_ < p01).toLong
      val above = lens.count(_ > p99).toLong
      assert(got(src) ===
        ((n.toLong, p01, p99, below, above, n - below - above)),
        s"source $src gate mismatch")
    }
  }

  test("q191 stratified split: exact n DIV 100 val/test cuts, determinism, " +
       "and the two-phase rank matches a naive driver-side sort") {
    val got = operators.TrainPrep.q191StratifiedSplit(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val withMd5 = Tables.documents(spark, dir)
      .select(col("source"), md5(col("text")).as("h"), col("doc_id"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    for ((src, ds) <- withMd5.groupBy(_._1)) {
      val n = ds.length.toLong
      val cut = n / 100
      val sorted = ds.sortBy(d => (d._2, d._3))
      assert(got((src, "train"))._1 === n - 2 * cut)
      if (cut > 0) {
        assert(got((src, "val"))._1 === cut)
        assert(got((src, "test"))._1 === cut)
      }
      // the content-hash order is a total order (md5 collisions aside,
      // doc_id breaks ties) — so the split is reproducible by contract
      assert(sorted.map(d => (d._2, d._3)).distinct.length === ds.length)
      assert(got((src, "train"))._2 === 1000000L * (n - 2 * cut) / n)
    }
  }

  test("q193 fluency score replays from a driver-side bigram LM; " +
       "repeated boilerplate outranks unique text") {
    val srcDocs = Tables.documents(spark, dir)
      .select(col("source"), lower(col("text"))).collect()
      .map(r => (r.getString(0), r.getString(1).split("\\s+").toSeq))
      .filter(_._2.size >= 2)
    val allBigrams = srcDocs.flatMap(_._2.sliding(2).map(p => (p.head, p(1))))
    val c12 = allBigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val c1 = allBigrams.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    def docPpm(toks: Seq[String]): Long = {
      val ppms = toks.sliding(2).map { p =>
        1000000L * c12((p.head, p(1))) / c1(p.head)
      }.toSeq
      ppms.sum / ppms.size
    }
    val expected = srcDocs.groupBy(_._1).view.mapValues { ds =>
      val scores = ds.map(d => docPpm(d._2))
      (ds.size.toLong, scores.sum / ds.size, scores.min, scores.max)
    }.toMap
    val got = operators.Corpus.q193FluencyScore(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === expected)
    // every source's max strictly exceeds its min on this corpus — the
    // score separates docs, it is not a constant
    assert(got.values.forall { case (_, _, mn, mx) => mx > mn })
  }

  test("q194 filter overlap: mask counts tie out against each gate's own " +
       "operator; multi-gate docs exist (overlap is real)") {
    val rows = operators.TrainPrep.q194FilterOverlap(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5)))
    val total = Tables.documents(spark, dir).count()
    assert(rows.map(_._5).sum === total, "masks must partition the corpus")
    assert(rows.forall { case (a, b, c, d, _, g) => a + b + c + d === g })
    // lexicon marginal ties out against q166's per-source flagged sum
    val lexFlagged = operators.Lexicon.q166LexiconFilter(spark, dir)
      .agg(sum(col("docs_flagged"))).collect().head.getLong(0)
    assert(rows.filter(_._1 == 1L).map(_._5).sum === lexFlagged)
    assert(rows.exists(r => r._6 >= 2 && r._5 > 0),
      "fixture moduli share docs — some doc must trip ≥2 gates")
  }

  test("q195 release drift: histograms conserve releases; drift nonzero") {
    val rows = operators.Releases.q195ReleaseDrift(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    val ids = Tables.documents(spark, dir).select(col("doc_id"))
      .collect().map(_.getLong(0))
    assert(rows.map(_._2).sum === ids.count(_ % 16 != 0).toLong)
    assert(rows.map(_._3).sum === ids.count(_ % 16 != 5).toLong)
    assert(rows.exists(_._4 > 0), "carved releases must show some drift")
  }

  test("q190 Simpson concentration: per-source averages replay from exact " +
       "driver-side collision probabilities; bounds hold") {
    val got = TextOps.q190SimpsonConcentration(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    def ppm(syms: Seq[String]): Long = {
      val l = syms.size.toLong
      val c2 = syms.groupBy(identity).values
        .map(g => g.size.toLong * g.size).sum
      1000000L * c2 / (l * l)
    }
    val bySource = docs.filter(_._2.nonEmpty).groupBy(_._1)
    for ((src, ds) <- bySource) {
      val charPpm = ds.map(d => ppm(d._2.map(_.toString)))
      val tokPpm = ds.map(d => ppm(d._2.split("\\s+").toSeq))
      val n = ds.size.toLong
      val (gn, gAvgC, gAvgT, gMaxC, gMaxT) = got(src)
      assert(gn === n)
      assert(gAvgC === charPpm.sum / n, s"$src char avg")
      assert(gAvgT === tokPpm.sum / n, s"$src tok avg")
      assert(gMaxC === charPpm.max && gMaxT === tokPpm.max)
      // Simpson bounds: in (0, 1e6]; tokens are at least as diverse as a
      // single-symbol degenerate doc would be
      assert(gAvgC > 0 && gMaxC <= 1000000L && gMaxT <= 1000000L)
    }
  }
}
