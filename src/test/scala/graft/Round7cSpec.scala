package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 third batch pins: the `graft_gram` TypedImperativeAggregate
  * (kernel ≡ exploded spelling, no Generate in the plan) and the q228
  * projection audit's centering/consistency invariants. */
class Round7cSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def r6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  test("graft_gram folds the same Gram matrix as the exploded outer-product " +
       "spelling, cell for cell at the 6dp contract") {
    val e = Tables.embeddings(spark, dir)
    val mu = Array.fill(64)(0.25) // arbitrary non-zero center exercises μ
    val flat = e
      .agg(call_function("graft_gram", col("embedding"), typedLit(mu.toSeq)))
      .collect().head.getSeq[Double](0)
    assert(flat.length === 64 * 64)
    val exploded = e
      .select(posexplode(col("embedding")).as(Seq("i", "xi")),
              col("embedding").as("v"))
      .select(col("i"), col("xi").cast("double").as("xi"),
              posexplode(col("v")).as(Seq("j", "xj")))
      .groupBy(col("i"), col("j"))
      .agg(sum((col("xi") - lit(0.25)) *
               (col("xj").cast("double") - lit(0.25))).as("g"))
      .collect()
    assert(exploded.length === 64 * 64)
    exploded.foreach { r =>
      val (i, j) = (r.getAs[Int]("i"), r.getAs[Int]("j"))
      assert(r6(flat(i * 64 + j)) === r6(r.getAs[Double]("g")),
        s"cell ($i,$j) diverges between kernel and explode")
    }
  }

  test("the Gram job is one custom aggregate over the scan — no Generate " +
       "explode, partial + final graft_gram in the plan") {
    val df = Tables.embeddings(spark, dir)
      .agg(call_function("graft_gram", col("embedding"),
        typedLit(Array.fill(64)(0.0).toSeq)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_gram"), "custom aggregate must be planned")
    assert(!plan.contains("Generate"),
      "the d²-fold explode must never materialize")
    assert(plan.toLowerCase.contains("partial_"),
      "map-side partial aggregation must be planned")
  }

  test("q228 pc projection: complete label grid, near-zero signed mass " +
       "(centering), and per-label bound consistency") {
    val rows = operators.Similarity.q228PcProjection(spark, dir).collect()
    val labels = Tables.embeddings(spark, dir)
      .select(countDistinct(col("label"))).collect().head.getLong(0)
    assert(rows.length.toLong === labels)
    val n = rows.map(_.getAs[Long]("n")).sum
    val signed = rows.map(_.getAs[Long]("sum_proj_u")).sum
    // Σ(v−μ) ≈ 0 by construction; rounding (μ at 6dp, p at 4dp) leaves at
    // most ~1 projection unit of bias per vector
    assert(math.abs(signed) <= 2L * n,
      s"signed projection mass $signed exceeds the centering budget for $n rows")
    rows.foreach { r =>
      assert(math.abs(r.getAs[Long]("sum_proj_u")) <= r.getAs[Long]("sum_abs_proj_u"))
      assert(r.getAs[Long]("max_abs_proj_u") <= r.getAs[Long]("sum_abs_proj_u"))
    }
  }

  test("q229 image near-dup: every format-crossing clone is found at " +
       "Hamming 0 — pixel dedup sees what byte dedup cannot — and every " +
       "reported pair clears the verify bar") {
    val pairs = operators.Multimodal.q229ImageNearDup(spark, dir).collect()
    val cloneBases = Tables.documents(spark, dir)
      .filter(col("doc_id") % 9 === 0).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val found = pairs
      .filter(r => r.getAs[Long]("img_b") ==
                   r.getAs[Long]("img_a") + operators.Multimodal.CloneOffset)
    assert(found.map(_.getAs[Long]("img_a")).toSet === cloneBases,
      "each clone must pair with its original, and nothing else fabricates " +
      "a clone-offset pair")
    found.foreach(r => assert(r.getAs[Long]("hamming") === 0L,
      "a lossless re-encode must hash identically"))
    pairs.foreach(r =>
      assert(r.getAs[Long]("hamming") <= operators.Multimodal.HamMax))
  }

  test("q230 matryoshka recall: full-width leg reproduces the truth " +
       "exactly; every leg stays within [0, 1e6]") {
    val rows = operators.Similarity.q230MatryoshkaRecall(spark, dir)
      .orderBy(col("dims")).collect()
    assert(rows.map(_.getAs[Long]("dims")).toSeq === Seq(16L, 32L, 64L))
    val full = rows.last
    assert(full.getAs[Long]("recall_ppm") === 1000000L,
      "the 64-dim leg IS the truth metric — recall must be exactly 1")
    rows.foreach { r =>
      val ppm = r.getAs[Long]("recall_ppm")
      assert(ppm >= 0L && ppm <= 1000000L)
    }
  }

  test("q231 near-dup split leakage: classes partition q29's verified " +
       "pairs, shares sum to ~1e6") {
    val rows = operators.Dedup.q231SplitLeakNearDup(spark, dir).collect()
    val classes = rows.map(_.getAs[String]("pair_class")).toSet
    assert(classes.subsetOf(Set("train_train", "cross", "heldout_heldout")))
    val totalPairs = operators.Dedup.q29LshNearDup(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum === totalPairs,
      "every verified pair must land in exactly one class")
    val shareSum = rows.map(_.getAs[Long]("share_ppm")).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - rows.length,
      s"shares must sum to 1e6 up to truncating division, got $shareSum")
  }

  test("q232 skip-gram decay: full gap×rank grid, floored counts, " +
       "positive exact lifts") {
    val rows = operators.TextOps.q232SkipgramDecay(spark, dir).collect()
    assert(rows.length === operators.TextOps.SkipGaps.length * 5)
    rows.foreach { r =>
      assert(operators.TextOps.SkipGaps.map(_.toLong)
        .contains(r.getAs[Long]("gap")))
      val rk = r.getAs[Long]("rank")
      assert(rk >= 1L && rk <= 5L)
      assert(r.getAs[Long]("c_ab") >= operators.TextOps.MinColloc)
      assert(r.getAs[Long]("lift_ppm") > 0L)
    }
  }

  test("q233 audio dup groups: polarity inversion is EXACTLY envelope-" +
       "invariant (every clone shares its base's fingerprint), and every " +
       "reported group is a genuine collision") {
    val env = operators.Multimodal.cloneEnvelopes(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("clip_id") ->
        (r.getAs[Long]("n_samples"), r.getAs[String]("envelope"))).toMap
    val cloneBases = Tables.documents(spark, dir)
      .filter(col("doc_id") % 11 === 0).select(col("doc_id"))
      .collect().map(_.getLong(0))
    assert(cloneBases.nonEmpty)
    cloneBases.foreach { b =>
      assert(env(b) === env(b + operators.Multimodal.CloneOffset),
        s"polarity-inverted clone of $b must fingerprint identically")
    }
    val groups = operators.Multimodal.q233AudioDupGroups(spark, dir).collect()
    groups.foreach { g =>
      assert(g.getAs[Long]("n_clips") >= 2L)
      assert(g.getAs[Long]("min_clip") < g.getAs[Long]("max_clip"))
    }
    // every clone pair must land in SOME reported group: the base's
    // fingerprint has ≥ 2 members by the invariance just proven
    val byFp = env.toSeq.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    cloneBases.foreach { b =>
      assert(byFp(env(b)).size >= 2)
    }
  }

  test("q234 sketch referee: classes partition the detected-pair union, " +
       "the simhash side is exactly q91's detected set, precisions bounded") {
    val rows = operators.Dedup.q234SketchReferee(spark, dir).collect()
    val classes = rows.map(_.getAs[String]("detector")).toSet
    assert(classes.subsetOf(Set("both", "minhash_only", "simhash_only")))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_true") <= r.getAs[Long]("n_pairs"))
      assert(r.getAs[Long]("precision_ppm") <= 1000000L)
    }
    val byClass = rows.map(r =>
      r.getAs[String]("detector") -> r.getAs[Long]("n_pairs")).toMap
    val mhTotal = byClass.getOrElse("both", 0L) +
      byClass.getOrElse("minhash_only", 0L)
    assert(mhTotal > 0L, "the LSH candidate side must be non-empty")
    val shTotal = byClass.getOrElse("both", 0L) +
      byClass.getOrElse("simhash_only", 0L)
    val q91 = operators.Dedup.q91Simhash64Pairs(spark, dir).count()
    assert(shTotal === q91,
      "the simhash side of the referee must be exactly q91's detected set")
  }

  test("q235 release chunk novelty: mass conservation against the raw " +
       "chunk relation, carried ≤ new, exact ppm arithmetic") {
    val rows = operators.Cdc.q235ReleaseChunkNovelty(spark, dir).collect()
    val newMass = operators.Cdc.chunks(spark, dir)
      .filter(col("doc_id") % 3 === 0)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("c"), sum(col("n_w")).as("w"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val s = r.getAs[String]("source")
      assert((r.getAs[Long]("new_chunks"), r.getAs[Long]("new_words"))
               === newMass(s))
      assert(r.getAs[Long]("carried_chunks") <= r.getAs[Long]("new_chunks"))
      assert(r.getAs[Long]("carried_words") <= r.getAs[Long]("new_words"))
      assert(r.getAs[Long]("novelty_ppm") ===
        1000000L * (r.getAs[Long]("new_words") - r.getAs[Long]("carried_words")) /
          r.getAs[Long]("new_words"))
    }
  }

  test("q236 chunk-size audit: buckets partition q222's chunk and word " +
       "mass exactly") {
    val rows = operators.Cdc.q236ChunkSizeAudit(spark, dir).collect()
    val totals = operators.Cdc.q222CdcChunks(spark, dir)
      .select(col("source"), col("n_chunks"), col("n_words"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val bySource = rows.groupBy(_.getAs[String]("source"))
    totals.foreach { case (s, (nc, nw)) =>
      assert(bySource(s).map(_.getAs[Long]("n_chunks")).sum === nc)
      assert(bySource(s).map(_.getAs[Long]("n_words")).sum === nw)
    }
    rows.foreach { r =>
      val b = r.getAs[Long]("len_bucket")
      assert(b >= 0L && b <= 4L)
    }
  }

  test("batch-4/5 plan pins: q226 broadcasts its dimension matrix, " +
       "q229/q232 plan no cartesian product and no single-partition " +
       "corpus exchange") {
    val p226 = operators.Dedup.q226SourceMinhashSim(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p226.contains("Broadcast"),
      "the |sources|² slot matrix must be a broadcast join")
    assert(!p226.contains("CartesianProduct"))
    val p229 = operators.Multimodal.q229ImageNearDup(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p229.contains("CartesianProduct"),
      "image pairs must come from the band bucket-join")
    val p232 = operators.TextOps.q232SkipgramDecay(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p232.contains("CartesianProduct") ||
           p232.contains("BroadcastNestedLoopJoin"),
      "only the 1-row token-total control may cross-join")
  }
}
