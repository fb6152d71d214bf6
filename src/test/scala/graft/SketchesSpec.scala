package graft

import graft.operators.Sketches
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parameterized-HLL properties: the α_m table, the published 1.04/√m
  * error envelope at a production register count (m = 1024), and the
  * tighten-with-m property on the same data. The q86/q90 m = 64
  * configuration is oracle-checked by the driver; this spec is what
  * justifies turning the `bucketBits` knob at 100 TB. */
class SketchesSpec extends AnyFunSuite with SparkSpec {

  test("alphaM matches Flajolet's table and closed form") {
    assert(Sketches.alphaM(4) == 0.673)
    assert(Sketches.alphaM(5) == 0.697)
    assert(Sketches.alphaM(6) == 0.709)
    // m >= 128: 0.7213/(1 + 1.079/m), monotone toward 0.7213
    assert(math.abs(Sketches.alphaM(7) - 0.7213 / (1 + 1.079 / 128.0)) < 1e-12)
    assert(Sketches.alphaM(10) > Sketches.alphaM(7))
    assert(Sketches.alphaM(14) < 0.7213)
  }

  test("m=1024 estimate lands inside the 1.04/sqrt(m) envelope and " +
       "tightens vs m=64 on the same keys") {
    import spark.implicits._
    // 20k distinct synthetic keys across 4 groups of different sizes —
    // all well past the ~2.5m raw-regime floor for both m values
    val df = (0 until 20000)
      .map(i => (s"g${i % 4}", s"user-${i}"))
      .toDF("g", "k")
    def errs(bits: Int): Map[String, Double] =
      Sketches.hllDistinct(df, Seq("g"), col("k"), bits)
        .collect()
        .map(r => r.getString(0) ->
          math.abs(r.getDouble(3) / r.getLong(1).toDouble - 1.0))
        .toMap
    val e64 = errs(6)
    val e1024 = errs(10)
    val env1024 = 3 * 1.04 / math.sqrt(1024) // 3σ ≈ 9.75%
    e1024.foreach { case (g, e) =>
      assert(e <= env1024, s"group $g: m=1024 error $e exceeds 3σ $env1024")
    }
    // the tightening property: mean |error| must drop when m grows 16× —
    // averaged over groups so a single lucky m=64 draw can't flip it
    val m64mean = e64.values.sum / e64.size
    val m1024mean = e1024.values.sum / e1024.size
    assert(m1024mean < m64mean,
      s"m=1024 mean error $m1024mean not tighter than m=64 $m64mean")
  }

  test("register merge at m=1024 equals the from-scratch union sketch") {
    import spark.implicits._
    val df = (0 until 5000).map(i => (s"g${i % 2}", s"k$i")).toDF("g", "k")
    val perGroup = Sketches.registers(df, Seq("g"), col("k"), 10)
    val merged = perGroup.groupBy(col("bucket")).agg(max(col("reg")).as("reg"))
    val viaMerge = Sketches.estimate(merged, Seq.empty, 10)
      .collect().head.getDouble(1)
    val scratch = Sketches.estimate(
        Sketches.registers(df, Seq.empty, col("k"), 10), Seq.empty, 10)
      .collect().head.getDouble(1)
    assert(viaMerge == scratch, s"merge $viaMerge != scratch $scratch")
  }

  test("null keys are dropped like COUNT(DISTINCT ...)") {
    import spark.implicits._
    val df = Seq(("a", "x"), ("a", "y"), ("a", null), ("b", null), ("b", "z"))
      .toDF("g", "k")
    val out = Sketches.hllDistinct(df, Seq("g"), col("k"), 6).collect()
    val byG = out.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byG("a")._1 == 2 && byG("b")._1 == 1)
    // occupied counts only real-key registers — a null key creates none
    assert(byG("a")._2 == 2 && byG("b")._2 == 1)
  }

  // --- Count-Min (q98/q99) -------------------------------------------

  test("CMS estimate >= exact for EVERY key, and within the eN band " +
       "for every fixture shingle") {
    import spark.implicits._
    val occ = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(explode(call_function("graft_shingles", col("text"))).as("g"))
    val n = occ.count()
    val cells = Sketches.cmsCells(occ, col("g"))
    val exact = occ.groupBy(col("g")).agg(count(lit(1)).as("n_exact"))
    val est = Sketches.cmsEstimate(cells, exact.select(col("g")), col("g"))
    val joined = exact.join(est, exact("g") === est("k"))
      .select(col("n_exact"), col("cms_estimate")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getLong(1) >= r.getLong(0),
        s"CMS under-estimated: est=${r.getLong(1)} exact=${r.getLong(0)}")
    }
    // one-sided error: est − exact ≤ εN with ε = e/w holds per hash row
    // with prob 1−1/e; the MIN over d=4 independent rows fails all four
    // only with prob e^−4 ≈ 1.8% per key — and on this fixed corpus the
    // observed max sits comfortably inside the band (pinned, determinism
    // makes this a constant, not a flake).
    val eps = math.E / Sketches.CmsWidth
    val maxOver = joined.map(r => r.getLong(1) - r.getLong(0)).max
    assert(maxOver <= (eps * n).ceil.toLong,
      s"max overestimate $maxOver exceeds eN=${eps * n}")
  }

  // --- KMV / bottom-k (q107/q108) ------------------------------------

  test("KMV union-retruncate merge equals the from-scratch global bottom-k") {
    import spark.implicits._
    // keys deliberately overlap across slices: the merge must dedup hashes
    val df = (0 until 6000).map(i => (s"s${i % 3}", s"k${i % 2500}"))
      .toDF("slice", "k")
    val perSlice = Sketches.kmvBottom(df, Seq("slice"), col("k"))
    val merged = perSlice.select(col("h")).dropDuplicates("h")
      .orderBy(col("h")).limit(Sketches.KmvK)
      .collect().map(_.getLong(0)).toSet
    val scratch = Sketches.kmvBottom(df, Seq.empty, col("k"))
      .collect().map(_.getLong(0)).toSet
    assert(merged == scratch, "merged bottom-k set != from-scratch bottom-k")
  }

  test("KMV exact regime: occupied < k reports the exact hashed-key count") {
    import spark.implicits._
    val df = (0 until 10).map(i => ("g", s"k$i")).toDF("g", "k")
    val out = Sketches.kmvEstimate(
        Sketches.kmvBottom(df, Seq("g"), col("k")), Seq("g"))
      .collect().head
    assert(out.getLong(1) == 10 && out.getDouble(2) == 10.0)
  }

  test("KMV error sits in the 1/sqrt(k-2) envelope at k=256 and the mean " +
       "error tightens vs k=32 on the same keys") {
    import spark.implicits._
    val df = (0 until 20000).map(i => (s"g${i % 4}", s"user-$i")).toDF("g", "k")
    def errs(k: Int): Map[String, Double] = {
      val est = Sketches.kmvEstimate(
        Sketches.kmvBottom(df, Seq("g"), col("k"), k), Seq("g"), k)
      val exact = df.groupBy(col("g")).agg(countDistinct(col("k")).as("n"))
      exact.join(est, Seq("g")).collect()
        .map(r => r.getString(0) ->
          math.abs(r.getDouble(3) / r.getLong(1).toDouble - 1.0))
        .toMap
    }
    val e32 = errs(32)
    val e256 = errs(256)
    val env256 = 3.0 / math.sqrt(256 - 2) // 3σ ≈ 18.8%
    e256.foreach { case (g, e) =>
      assert(e <= env256, s"group $g: k=256 error $e exceeds 3σ $env256")
    }
    // deterministic md5 makes these constants, not flakes (the HLL
    // tightening test's reasoning): mean error must drop when k grows 8×
    val m32 = e32.values.sum / e32.size
    val m256 = e256.values.sum / e256.size
    assert(m256 < m32, s"k=256 mean error $m256 not tighter than k=32 $m32")
  }

  test("q107 plans through WindowGroupLimit (map-side bottom-k heaps " +
       "before the exchange)") {
    val plan = Sketches.q107KmvDistinct(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit in q107 plan:\n$plan")
  }

  test("CMS cells are linear: per-source sketches summed == global sketch") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("source"),
              explode(call_function("graft_shingles", col("text"))).as("g"))
    val global = Sketches.cmsCells(docs, col("g"))
    val perSource = docs
      .select(col("source"),
              explode(sequence(lit(0), lit(Sketches.CmsDepth - 1))).as("row_i"),
              col("g"))
      .select(col("source"), col("row_i"),
              (Sketches.h32(concat(col("row_i").cast("string"), lit(":"), col("g")))
                 % Sketches.CmsWidth).as("bucket"))
      .groupBy(col("source"), col("row_i"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val merged = perSource.groupBy(col("row_i"), col("bucket"))
      .agg(sum(col("c")).as("c"))
    assert(merged.join(global, Seq("row_i", "bucket"))
      .filter(merged("c") =!= global("c")).count() == 0)
    assert(merged.count() == global.count())
  }
}
