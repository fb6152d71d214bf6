package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 second batch (q219–q223): Zipf doubling-decay, code-vs-prose
  * routing, centroid affinity, content-defined chunking, margin mining —
  * invariant pins + the scale plan shapes (two-phase rank, bounded
  * broadcasts, no cartesian pair generators). */
class Round7bSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // ---------------------------------------------------------------- q219

  test("q219 zipf decay: monotone head (decay_ppm ≤ 1e6), full rank grid, " +
       "and the two-phase rank plans no single-partition exchange") {
    val df = operators.TextOps.q219ZipfDecay(spark, dir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // f is rank-sorted: f_2r ≤ f_r always, so the ppm ratio caps at 1e6
    assert(rows.forall(r => r.getAs[Long]("decay_ppm") <= 1000000L))
    assert(rows.forall(r => r.getAs[Long]("f_2r") <= r.getAs[Long]("f_r")))
    // every source with a ≥16-token vocabulary carries all four readouts
    val bySource = rows.groupBy(_.getAs[String]("source"))
    val vocabBySource = operators.TextOps.tokenized(spark, dir)
      .select(col("doc_id"), explode(col("t")).as("w"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
            "doc_id")
      .groupBy(col("source")).agg(countDistinct(col("w")).as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    vocabBySource.filter(_._2 >= 16L).keys.foreach { s =>
      assert(bySource(s).map(_.getAs[Long]("r")).sorted.toSeq
               === Seq(1L, 2L, 4L, 8L), s"source $s misses a readout rank")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      "per-source rank must be the two-phase bucketed window")
  }

  // ---------------------------------------------------------------- q220

  test("q220 code detect: zero false positives on the raw prose corpus, " +
       "every snippet-carrying doc routed to code") {
    // the detector over the corpus WITHOUT the injected tail: must be silent
    val t = split(lower(col("text")), "\\s+")
    val falsePos = Tables.documents(spark, dir)
      .select(size(filter(t, x =>
        x.isInCollection(operators.CodeDetect.SymbolTokens) ||
        x.rlike(operators.CodeDetect.IdentPat))).as("n_sym"))
      .filter(col("n_sym") > 0).count()
    assert(falsePos === 0L, "prose tokens must never read as code symbols")
    // with the tail: every doc_id%5==0 or %11==0 doc clears the density bar
    val ct = split(lower(col("code_text")), "\\s+")
    val tailDocs = operators.CodeDetect.codeTable(spark, dir)
      .filter(col("doc_id") % 5 === 0 || col("doc_id") % 11 === 0)
      .select(col("doc_id"),
        (lit(1000000L) * size(filter(ct, x =>
          x.isInCollection(operators.CodeDetect.SymbolTokens) ||
          x.rlike(operators.CodeDetect.IdentPat))).cast("long")
          / size(ct).cast("long")).cast("long").as("density_ppm"))
    val under = tailDocs
      .filter(col("density_ppm") < operators.CodeDetect.CodeDensityMinPpm)
      .count()
    assert(under === 0L, "every snippet carrier must classify as code")
    // rollup consistency: n_code_docs equals the direct carrier count
    val carriers = Tables.documents(spark, dir)
      .filter(col("doc_id") % 5 === 0 || col("doc_id") % 11 === 0).count()
    val reported = operators.CodeDetect.q220CodeDetect(spark, dir)
      .agg(sum(col("n_code_docs"))).collect().head.getLong(0)
    assert(reported === carriers)
  }

  // ---------------------------------------------------------------- q221

  test("q221 centroid affinity: full strict-upper-triangle grid, cosines " +
       "in [−1,1], everything downstream of the scan is broadcast-sized") {
    val df = operators.Similarity.q221CentroidAffinity(spark, dir)
    val rows = df.collect()
    val labels = Tables.embeddings(spark, dir)
      .select(countDistinct(col("label"))).collect().head.getLong(0)
    assert(rows.length.toLong === labels * (labels - 1) / 2)
    assert(rows.forall { r =>
      val c = r.getAs[Double]("cos_sim"); c >= -1.0001 && c <= 1.0001
    })
    assert(rows.forall(r => r.getAs[Int]("label_a") < r.getAs[Int]("label_b")))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"),
      "the |labels|² pair grid must be a broadcast join")
  }

  // ---------------------------------------------------------------- q222

  test("q222 cdc chunks: token-mass conservation, dup bounds, shift " +
       "resilience under a head edit, and no cartesian/single-partition plan") {
    val df = operators.Cdc.q222CdcChunks(spark, dir)
    val rows = df.collect()
    val tokMass = Tables.documents(spark, dir)
      .select(col("source"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val s = r.getAs[String]("source")
      assert(r.getAs[Long]("n_words") === tokMass(s),
        s"chunking must conserve the token mass of $s")
      assert(r.getAs[Long]("dup_chunks") <= r.getAs[Long]("n_chunks"))
      assert(r.getAs[Long]("dup_words") <= r.getAs[Long]("n_words"))
      assert(r.getAs[Long]("n_distinct_fp") <= r.getAs[Long]("n_chunks"))
    }
    // CDC shift resilience — the property fixed-width chunking lacks: a
    // one-word PREPEND only perturbs chunks up to the first post-edit
    // boundary; every later chunk keeps its fingerprint. Crafted two-doc
    // table: B = "zzz " + A, where A concatenates four fixture docs (long
    // enough to carry several deterministic boundaries).
    import spark.implicits._
    val aText = Tables.documents(spark, dir).orderBy(col("doc_id")).limit(4)
      .collect().map(_.getAs[String]("text")).mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("cdcshift").toString
    Seq((0L, aText, "en", "srcA", aText.length.toLong),
        (1L, "zzz " + aText, "en", "srcA", aText.length + 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val byDoc = operators.Cdc.chunks(spark, tmp)
      .select(col("doc_id"), col("fp")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toList).toMap
    val (fpsA, fpsB) = (byDoc(0L), byDoc(1L))
    assert(fpsA.size >= 3, "fixture text should chunk several times")
    val bCounts = fpsB.groupBy(identity).view.mapValues(_.size).toMap
    val shared = fpsA.groupBy(identity)
      .map { case (fp, occ) => math.min(occ.size, bCounts.getOrElse(fp, 0)) }
      .sum
    assert(shared >= fpsA.size - 2,
      s"a head-edit may change at most the chunks before the first shared " +
      s"boundary (A=${fpsA.size} chunks, shared=$shared)")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("Exchange SinglePartition"))
  }

  // ---------------------------------------------------------------- q223

  test("q223 bitext margin: parity split respected, margins non-negative, " +
       "accept flag consistent, candidate generator is the cell equi-join") {
    val df = operators.Similarity.q223BitextMargin(spark, dir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("q_id") % 2 === 0L)
      assert(r.getAs[Long]("best_id") % 2 === 1L)
      val m = r.getAs[Double]("margin3")
      // cos₁ ≥ cos₂,₃,₄ by rank order, so the margin is ≥ 0 up to the 4dp snap
      assert(m >= -0.0001, s"margin must be non-negative, got $m")
      val mined = r.getAs[Long]("mined")
      assert(mined === (if (m >= operators.Similarity.BitextMarginMin) 1L else 0L))
    }
    val evens = Tables.embeddings(spark, dir)
      .filter(pmod(col("vec_id"), lit(2L)) === 0L).count()
    assert(rows.length.toLong <= evens)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "candidates must come from the same-cell equi-join, never a cross join")
  }

  // ---------------------------------------------------------------- q224

  test("q224 image dhash: 64 gradient bits per image, and the hash reads a " +
       "different signal than q210's aHash") {
    val dh = operators.Multimodal.q224ImageDhash(spark, dir)
      .select(col("doc_id"), col("dhash"), col("n_ones")).collect()
    assert(dh.nonEmpty)
    dh.foreach { r =>
      assert(r.getAs[String]("dhash").length === 64)
      val ones = r.getAs[Long]("n_ones")
      assert(ones >= 0L && ones <= 64L)
      assert(r.getAs[String]("dhash").count(_ == '1').toLong === ones)
    }
    val ah = operators.Multimodal.q210ImageAhash(spark, dir)
      .select(col("doc_id"), col("ahash")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val differing = dh.count(r => ah(r.getAs[Long]("doc_id")) != r.getAs[String]("dhash"))
    assert(differing > dh.length / 2,
      "gradient bits must not collapse into the brightness bits")
  }

  // ---------------------------------------------------------------- q225

  test("q225 loop detect: exactly the injected carriers loop, echo depth " +
       "matches the 4x construction, clean prose never reaches the bar") {
    val rows = operators.TextOps.q225LoopDetect(spark, dir).collect()
    val reported = rows.map(_.getAs[Long]("n_loop_docs")).sum
    val carriers = Tables.documents(spark, dir)
      .filter(col("doc_id") % 17 === 0).count()
    assert(reported === carriers,
      "loop docs must be exactly the tail carriers — no false positives")
    assert(rows.map(_.getAs[Long]("worst_rep")).max === 4L,
      "the injected phrase repeats exactly 4 times")
  }

  // ---------------------------------------------------------------- q226

  test("q226 source minhash: complete strict-upper-triangle matrix, " +
       "agreement within [0,K], and the union-min algebra holds per slot") {
    val df = operators.Dedup.q226SourceMinhashSim(spark, dir)
    val rows = df.collect()
    val nSrc = Tables.documents(spark, dir)
      .select(countDistinct(col("source"))).collect().head.getLong(0)
    assert(rows.length.toLong === nSrc * (nSrc - 1) / 2)
    rows.foreach { r =>
      val agree = r.getAs[Long]("n_agree")
      assert(agree >= 0L && agree <= 8L)
      assert(r.getAs[Long]("sim_ppm") === 1000000L * agree / 8L)
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
    }
  }

  // ---------------------------------------------------------------- q227

  test("q227 top pc: unit-norm loadings, positive Rayleigh eigenvalue " +
       "bounded by the covariance trace") {
    val rows = operators.Similarity.q227TopPc(spark, dir)
      .orderBy(col("dim")).collect()
    assert(rows.length === 64)
    val u = rows.map(_.getAs[Double]("loading"))
    val norm2 = u.map(x => x * x).sum
    assert(math.abs(norm2 - 1.0) < 1e-4,
      s"loadings must be unit-norm, got |u|² = $norm2")
    val lam = rows.head.getAs[Double]("lam")
    assert(rows.forall(_.getAs[Double]("lam") === lam))
    assert(lam > 0.0, "the centered second-moment matrix is PSD with mass")
    // trace bound: λ₁ ≤ Σᵢ Gᵢᵢ = total centered variance mass
    val e = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
    val trace = e.groupBy(col("i"))
      .agg(sum(col("x").cast("double") * col("x")).as("sx2"),
           sum(col("x").cast("double")).as("sx"), count(lit(1)).as("n"))
      .select(sum(col("sx2") - col("sx") * col("sx") / col("n"))).collect()
      .head.getDouble(0)
    assert(lam <= trace * 1.001, s"Rayleigh λ=$lam exceeds trace=$trace")
  }
}
