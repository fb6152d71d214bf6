package graft

import graft.operators.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** Semantic-dedup (q109/q110) properties: Spark-side naive equivalence of
  * the label-blocked prune, audit-count sanity, and the plan shapes the
  * 100 TB story rests on (no cartesian in the apply; broadcast sample in
  * the audit). */
class SemDedupSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The engine's exact cosine contract: index-order double fold,
    * HALF_UP rounding to 4 decimals BEFORE the threshold compare. */
  private def cos4(a: Array[Float], b: Array[Float]): Double = {
    var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
    while (i < a.length) {
      d += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    BigDecimal(d / math.sqrt(na * nb))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("q109 survivors == naive per-cluster lower-id-neighbor prune") {
    val vecs = Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "label", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
                 r.getSeq[Float](2).toArray))
      .sortBy(_._1)
    val dropped = (for {
      (idB, lB, vB) <- vecs
      (idA, lA, vA) <- vecs
      if lA == lB && idA < idB && cos4(vA, vB) >= 0.3
    } yield idB).toSet
    val naive = vecs.map(_._1).filterNot(dropped).toSeq
    val got = Dedup.q109SemanticDedup(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    assert(got == naive, s"survivor mismatch: got ${got.size}, naive ${naive.size}")
  }

  test("q110 audit counts are internally consistent with q109's blocking") {
    val r = Dedup.q110SemanticRecall(spark, dir).collect().head
    val (truePairs, blockedPairs, recall) =
      (r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(truePairs > 0 && blockedPairs <= truePairs)
    // the audit's one-line story: on these labels most true pairs are
    // invisible to the blocked prune (deterministic fixture constant)
    assert(recall < 0.5, s"expected low blocking recall, got $recall")
    assert(recall > 0.0)
  }

  test("q115 outlier audit: threshold beyond p90 bounds outliers by the " +
       "p90 tail, and quantile rows are ordered") {
    val rows = graft.operators.Similarity.q115EmbedOutliers(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, med, p90, out) =
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))
      assert(med <= p90, s"label ${r.getInt(0)}: median $med > p90 $p90")
      // an outlier is strictly beyond p90 (threshold = med + 2·(p90−med)
      // ≥ p90), and at most ~10% of rows sit beyond the p90 rank row
      assert(out <= (n + 9) / 10,
        s"label ${r.getInt(0)}: $out outliers exceeds the p90 tail of $n")
    }
  }

  test("plan shapes: q109 apply has no cartesian; q110 audit broadcasts " +
       "the sample side") {
    val p109 = Dedup.q109SemanticDedup(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p109.contains("CartesianProduct"),
      s"q109 must pair only inside label blocks:\n$p109")
    val p110 = Dedup.q110SemanticRecall(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p110.contains("BroadcastNestedLoopJoin") ||
           p110.contains("BroadcastExchange"),
      s"q110 must broadcast the sampled query side:\n$p110")
  }
}
