package graft

import graft.operators.{Corpus, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 operators: TF-IDF, k-means iteration, hyperplane-LSH ANN,
  * bigram LM. Correctness is oracle-checked by the driver; these tests pin
  * the INVARIANTS and the plan shapes that make the operators scale. */
class Round3Spec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q70 TF-IDF: ≤3 terms per doc, scores consistent with tf·N/df") {
    val rows = Corpus.q70TfidfTerms(spark, dir).collect()
    assert(rows.nonEmpty)
    val n = Tables.documents(spark, dir).count().toDouble
    val perDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    perDoc.values.foreach { rs =>
      assert(rs.length <= 3)
      assert(rs.map(_.getAs[Long]("rank")).sorted.sameElements(1L to rs.length))
      rs.foreach { r =>
        val expect = BigDecimal(
          r.getAs[Long]("tf").toDouble * n / r.getAs[Long]("df").toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(r.getAs[Double]("score") - expect) < 1e-9)
      }
    }
  }

  test("q71 k-means: assignment is broadcast (corpus never shuffled for it)") {
    val df = Similarity.q71KmeansIter(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast seed join in:\n$plan")
    val rows = df.collect()
    // every emitted cluster covers all 64 dims with one consistent count
    rows.groupBy(_.getAs[Long]("cluster_id")).values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("dim")).sorted.sameElements(1L to 64L))
      assert(rs.map(_.getAs[Long]("n_members")).distinct.length === 1)
    }
    // total membership = corpus size
    val total = rows.filter(_.getAs[Long]("dim") == 1L)
      .map(_.getAs[Long]("n_members")).sum
    assert(total === Tables.embeddings(spark, dir).count())
  }

  test("q72 hyperplane ANN: probes only same-bucket candidates, top-k ranked") {
    val rows = Similarity.q72AnnHyperplane(spark, dir).collect()
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { rs =>
      assert(rs.length <= 5)
      assert(rs.map(_.getAs[Long]("rank")).sorted.sameElements(1L to rs.length))
      // ranks ordered by similarity desc
      val sims = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
    val plan = Similarity.q72AnnHyperplane(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"expected broadcast query-side join in:\n$plan")
  }

  test("q73 bigram LM: one continuation per head word, probabilities in (0,1]") {
    val rows = Corpus.q73BigramLm(spark, dir).collect()
    assert(rows.nonEmpty)
    val heads = rows.map(_.getAs[String]("w1"))
    assert(heads.distinct.length === heads.length) // top-1 per head
    rows.foreach { r =>
      assert(r.getAs[Long]("c12") <= r.getAs[Long]("c1"))
      val p = r.getAs[Double]("p")
      assert(p > 0 && p <= 1.0)
    }
  }

  test("q30 simhash kernel ≡ declarative column program") {
    val dir2 = "/root/testdata/sf0.001"
    val kern = graft.operators.Dedup.q30Simhash(spark, dir2).collect()
    val decl = graft.operators.Dedup.q30SimhashDeclarative(spark, dir2).collect()
    assert(kern.length === decl.length && kern.nonEmpty)
    kern.zip(decl).foreach { case (a, b) =>
      assert(a.getAs[Long]("doc_id") === b.getAs[Long]("doc_id"))
      assert(a.getAs[Long]("simhash") === b.getAs[Long]("simhash"))
    }
  }

  test("distributed CC converges on a 300-diameter path (pointer jumping)") {
    import spark.implicits._
    // a single path 0-1-2-…-300: diameter 300 — plain min-propagation
    // needs 300 rounds and previously failed the 50-round cap
    val pairs = (0L until 300L).map(i => (i, i + 1))
      .toDF("doc_a", "doc_b")
    val labels = graft.operators.Dedup.distributedCC(pairs).collect()
    assert(labels.length === 301)
    assert(labels.forall(_.getAs[Long]("cluster_id") === 0L))
  }

  test("property: two-phase prefix sum ≡ single-task window on random data") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 50 + rng.nextInt(400)
      // sparse, unordered, possibly negative-valued input
      val rows = scala.util.Random.shuffle(
        (1 to n).map(i => (i.toLong * (1 + rng.nextInt(5)),
                           BigDecimal(rng.nextInt(20001) - 10000, 2))).toList)
      val df = rows.toDF("k", "v")
        .withColumn("v", col("v").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
      val got = graft.operators.PrefixSum
        .withRunningSum(df, "k", col("v"), "cum", numBuckets = 7)
        .select(col("k"), col("cum")).orderBy(col("k")).collect()
      val want = df.withColumn("cum",
          sum(col("v")).over(W.orderBy(col("k"))
            .rowsBetween(W.unboundedPreceding, W.currentRow))
            .cast(org.apache.spark.sql.types.DecimalType(38, 6)))
        .select(col("k"), col("cum")).orderBy(col("k")).collect()
      got.zip(want).foreach { case (g, w) =>
        assert(g.getDecimal(1) === w.getDecimal(1), s"trial $trial key ${g.getLong(0)}")
      }
    }
  }

  test("property: closed-form quartile ≡ built-in ntile for awkward N") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    for (n <- Seq(1, 2, 3, 4, 5, 6, 7, 50, 101, 499)) {
      val docs = (1 to n).map(i => (i.toLong, (i * 37 % 97).toLong))
        .toDF("doc_id", "n_chars")
      val w = W.orderBy(col("n_chars"), col("doc_id"))
      val want = docs.withColumn("q", ntile(4).over(w).cast("long"))
      val qd = n.toLong / 4; val rem = n.toLong % 4; val thresh = rem * (qd + 1)
      val rw = W.orderBy(col("n_chars"), col("doc_id"))
      val got = docs.withColumn("r", row_number().over(rw).cast("long"))
        .withColumn("q",
          if (qd == 0) col("r")
          else when(col("r") <= thresh, expr(s"(r + ${qd}L) DIV ${qd + 1}L"))
            .otherwise(lit(rem) + expr(s"(r - ${thresh}L + ${qd - 1}L) DIV ${qd}L")))
      val diff = got.select(col("doc_id"), col("q"))
        .except(want.select(col("doc_id"), col("q")))
      assert(diff.isEmpty, s"closed-form ntile diverges at N=$n")
    }
  }

  test("hyperplanes are the pinned md5-derived constants") {
    // regression pin: the oracle SQL embeds these literals — a drift here
    // would silently break the cross-engine agreement
    val h = Similarity.hyperplanes
    assert(h.length === 8 && h.forall(_.length === 64))
    assert(h.flatten.forall(x => x >= -7.5 && x <= 7.5 && (x * 2) == (x * 2).round))
  }
}
