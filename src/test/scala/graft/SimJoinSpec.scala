package graft

import graft.operators.SimJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** max-df skew-hatch contract (q92): on a corpus with a planted
  * stop-shingle, the cut index must (a) never emit a non-qualifying pair,
  * (b) find EVERY qualifying pair whose docs contain no shingle above the
  * cut, and (c) degenerate to the exact join when the cut doesn't bite. */
class SimJoinSpec extends AnyFunSuite with SparkSpec {

  /** Adversarial corpus: a boilerplate banner shared by EVERY doc (its
    * shingles' df = corpus size), plus clean near-dup pairs and clean
    * singletons. Words are spaced so 3-gram shingles from the banner and
    * the body never collide. */
  private def corpus() = {
    import spark.implicits._
    val banner = "copyright acme corp all rights reserved"
    val rnd = new scala.util.Random(13)
    val docs = (0 until 60).map { i =>
      val bodyWords = Seq.fill(12)(s"w${rnd.nextInt(400)}_$i")
      (i.toLong, (banner.split(" ") ++ bodyWords).mkString(" "))
    } ++ Seq(
      // planted near-dup pair with LOW-df bodies (identical bodies)
      (100L, banner + " alpha beta gamma delta epsilon zeta eta theta"),
      (101L, banner + " alpha beta gamma delta epsilon zeta eta theta"),
      // near-dup pair that is ONLY boilerplate (all shingles heavy... not
      // quite: identical short docs — their shingles are the banner's
      // plus the joint boundary, df ≥ 2 but the banner part is df≈60)
      (102L, banner),
      (103L, banner))
    docs.toDF("doc_id", "text")
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("cut output = no false positives + all-clean pairs guaranteed; " +
       "no-bite cut = exact") {
    val docs = corpus()
    val exact = pairs(SimJoin.jaccardJoinOn(docs, maxDf = None))
    val cut = pairs(SimJoin.jaccardJoinOn(docs, maxDf = Some(10L)))
    // (a) subset: the verify stage is exact, so nothing non-qualifying
    assert(cut.subsetOf(exact), s"false positives: ${(cut -- exact).take(5)}")
    // (b) docs 100/101 share low-df body shingles (df=2 < 10): the banner
    // being cut must not lose them
    assert(cut.contains((100L, 101L)), "lost a pair whose body is below the cut")
    // the all-boilerplate pair (102,103) is exactly what the cut
    // sacrifices: every shared shingle has df ≈ corpus size
    assert(exact.contains((102L, 103L)))
    assert(!cut.contains((102L, 103L)),
      "cut at 10 should drop the pure-boilerplate pair (df≈64 shingles)")
    // (c) a cut above the max df changes nothing
    val noBite = pairs(SimJoin.jaccardJoinOn(docs, maxDf = Some(100000L)))
    assert(noBite == exact)
  }

  test("weighted Jaccard join ≡ naive multiset brute force; repetition " +
       "separates it from set Jaccard") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val docs = ((0 until 80).map { i =>
      (i.toLong, Seq.fill(10)(s"w${rnd.nextInt(60)}").mkString(" "))
    } ++ Seq(
      // same SET of bigram terms, wildly different multiplicities: set
      // Jaccard sees 1.0, multiset must see far less
      (200L, "alpha beta alpha beta alpha beta alpha beta alpha beta"),
      (201L, "alpha beta"),
      // true weighted near-dup: same multiset
      (300L, "gamma delta gamma delta epsilon"),
      (301L, "gamma delta gamma delta epsilon"))).toDF("doc_id", "text")
    val t = split(lower(col("text")), "\\s+")
    val tf = docs.filter(size(t) >= 2)
      .select(col("doc_id"),
              explode(transform(sequence(lit(1), size(t) - 1), i =>
                concat(element_at(t, i), lit(" "),
                       element_at(t, i + 1)))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    // explicit t=1/2 (q93 itself declares 4/5): exercises the threshold
    // parameter AND the repetition case below, which needs a low bar
    val fast = SimJoin.weightedJaccardJoinOn(tf, 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // naive: full postings join, Σ least, same integral threshold
    val w = tf.groupBy(col("doc_id")).agg(sum("tf").as("w"))
    val naive = tf.select(col("doc_id").as("a"), col("term"), col("tf").as("ta"))
      .join(tf.select(col("doc_id").as("b"), col("term"), col("tf").as("tb")), "term")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(sum(least(col("ta"), col("tb"))).as("i"))
      .join(w.select(col("doc_id").as("a"), col("w").as("wa")), "a")
      .join(w.select(col("doc_id").as("b"), col("w").as("wb")), "b")
      .filter(col("i") * 2 >= (col("wa") + col("wb") - col("i")))
      .select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == naive,
      s"missed=${(naive -- fast).take(5)} extra=${(fast -- naive).take(5)}")
    assert(fast.contains((300L, 301L)))
    // set-identical but multiset-distant: 9 vs 1 copies of each term →
    // J_w = 2/10 < 1/2, must NOT pair (where set Jaccard would)
    assert(!fast.contains((200L, 201L)))
  }

  test("weighted LSH (expansion trick) ⊆ exact weighted join; full " +
       "recall on the fixture's planted pairs") {
    val dir = "/root/testdata/sf0.001"
    val exact = SimJoin.q93WeightedJaccardJoin(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimJoin.q97WeightedLshNearDup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // banding can only MISS pairs (the verify stage is the same exact
    // counting join), never invent them
    assert(lsh.subsetOf(exact), s"LSH invented pairs: ${(lsh -- exact).take(5)}")
    // recall readout: at s=0.8 the 4x2 banding passes with p≈0.98 per
    // pair — on the small fixture demand full recall
    assert(lsh == exact,
      s"banding missed pairs on the fixture: ${(exact -- lsh).take(5)}")
  }

  test("weighted maxDf hatch (q139's cut): no false positives, clean pairs " +
       "guaranteed, pure-boilerplate pairs sacrificed, no-bite = exact") {
    import spark.implicits._
    // banner bigrams have df = |corpus|; bodies are unique per doc except
    // the planted pairs
    val banner = "copyright acme corp all rights reserved"
    val rnd = new scala.util.Random(37)
    val docs = ((0 until 60).map { i =>
      (i.toLong, banner + " " + Seq.fill(12)(s"w${rnd.nextInt(400)}_$i").mkString(" "))
    } ++ Seq(
      (100L, banner + " alpha beta alpha beta gamma gamma delta epsilon"),
      (101L, banner + " alpha beta alpha beta gamma gamma delta epsilon"),
      (102L, banner),   // pure boilerplate: every bigram has df ≈ 64
      (103L, banner))).toDF("doc_id", "text")
    val t = split(lower(col("text")), "\\s+")
    val tf = docs.filter(size(t) >= 2)
      .select(col("doc_id"),
              explode(transform(sequence(lit(1), size(t) - 1), i =>
                concat(element_at(t, i), lit(" "),
                       element_at(t, i + 1)))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairsOf(SimJoin.weightedJaccardJoinOn(tf, 1, 2))
    val cut = pairsOf(SimJoin.weightedJaccardJoinOn(tf, 1, 2, Some(10L)))
    // (a) verify sees full postings → subset, never false positives
    assert(cut.subsetOf(exact), s"false positives: ${(cut -- exact).take(5)}")
    // (b) the planted pair's body bigrams have df = 2 ≤ 10: guaranteed kept
    assert(cut.contains((100L, 101L)), "lost a pair whose terms are below the cut")
    // (c) the pure-banner pair shares ONLY df≈64 terms: exactly what the
    // hatch sacrifices
    assert(exact.contains((102L, 103L)))
    assert(!cut.contains((102L, 103L)),
      "cut at 10 should drop the pure-boilerplate pair")
    // (d) formal per-PAIR guarantee, exhaustively: every qualifying pair
    // both of whose docs have max term-df ≤ cut must survive
    val dfRel = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val maxDfPerDoc = tf.join(dfRel, "term").groupBy("doc_id")
      .agg(max("df").as("mx")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mustFind = exact.filter { case (a, b) =>
      maxDfPerDoc(a) <= 10L && maxDfPerDoc(b) <= 10L }
    assert(mustFind.subsetOf(cut),
      s"cut lost guaranteed pairs: ${(mustFind -- cut).take(5)}")
    // (e) a cut above every df changes nothing
    assert(pairsOf(SimJoin.weightedJaccardJoinOn(tf, 1, 2, Some(100000L))) == exact)
  }

  test("guarantee is per-PAIR clean shingles, checked exhaustively") {
    // brute-force the naive join AND per-doc max df; every qualifying
    // pair where BOTH docs are entirely below the cut must be in the cut
    // output (the formal guarantee, stronger than the planted case above)
    val docs = corpus()
    val cutVal = 10L
    val sh = docs.select(col("doc_id"),
        call_function("graft_shingles", col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val dfRel = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val maxDfPerDoc = ex.join(dfRel, "s").groupBy("doc_id")
      .agg(max("df").as("mx")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naive = sh.select(col("doc_id").as("a"), col("sh").as("sa"))
      .crossJoin(sh.select(col("doc_id").as("b"), col("sh").as("sb")))
      .filter(col("a") < col("b"))
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("u", size(col("sa")) + size(col("sb")) - col("i"))
      .filter(col("i") * 2 >= col("u"))
      .select(col("a"), col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mustFind = naive.filter { case (a, b) =>
      maxDfPerDoc(a) <= cutVal && maxDfPerDoc(b) <= cutVal }
    val cut = pairs(SimJoin.jaccardJoinOn(docs, maxDf = Some(cutVal)))
    assert(mustFind.subsetOf(cut),
      s"cut lost guaranteed pairs: ${(mustFind -- cut).take(5)}")
  }

  test("CMS-guided cut: the sketch finds the stop-shingle df WITHOUT an " +
       "exact df pass, and the cut it implies is lossless") {
    // closes the q98 -> q92 loop promised in the CMS scaladoc: probe the
    // Count-Min cells for the adversarial banner shingles, derive a cut
    // below their (over-)estimated df, and check the cut join still finds
    // every clean qualifying pair. CMS overestimates ONLY, so cutting at
    // "estimate >= cut" can never let a true stop-shingle through.
    import graft.operators.Sketches
    val docs = corpus()
    val sh = docs.select(col("doc_id"),
        call_function("graft_shingles", col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    val occ = sh.select(explode(col("sh")).as("g"))
    val cells = Sketches.cmsCells(occ, col("g"))
    // exact df only to IDENTIFY banner vs clean shingles for the assert;
    // the cut itself is derived purely from sketch estimates
    val dfRel = occ.groupBy("g").agg(count(lit(1)).as("df"))
    val est = Sketches.cmsEstimate(cells, dfRel.select(col("g")), col("g"))
      .join(dfRel, col("k") === dfRel("g")).select(col("g"), col("df"), col("cms_estimate"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val bannerEst = est.filter(_._2 > 10).map(_._3) // true stop-shingles
    val cleanEst = est.filter(_._2 <= 10).map(_._3)
    assert(bannerEst.nonEmpty && cleanEst.nonEmpty)
    // one-sided guarantee: every banner shingle's estimate >= its real df,
    // so ANY cut <= min(bannerEst) removes all of them via the sketch
    val cut = bannerEst.min
    assert(cleanEst.max < cut,
      s"sketch cannot separate banner (min est $cut) from clean " +
        s"(max est ${cleanEst.max}) at this width — widen w")
    val full = graft.operators.SimJoin.jaccardJoinOn(docs, maxDf = None)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaSketchCut = graft.operators.SimJoin.jaccardJoinOn(docs, maxDf = Some(cut))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaSketchCut == full,
      s"sketch-derived cut $cut changed the result: ${(full -- viaSketchCut).take(5)}")
  }
}
