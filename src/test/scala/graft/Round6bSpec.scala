package graft

import graft.operators.SimJoin
import org.scalatest.funsuite.AnyFunSuite

/** Shared-leaf (persisted-postings) mode: under `spark.graft.shareLeaves`
  * the similarity family materializes its shingle/TF leaf relations once
  * per session ([[Leaves]]) instead of per call. The contract is
  * BIT-IDENTICAL results — the flag moves where a deterministic relation
  * lives (parquet vs per-call localCheckpoint), never what it contains —
  * plus actual reuse (the second consumer must not rebuild). */
class Round6bSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("shareLeaves on ≡ off, bit-identically, for every family member; " +
       "leaves are built once and reused") {
    spark.conf.unset("spark.graft.shareLeaves")
    val offQ82 = rows(SimJoin.q82JaccardJoin(spark, dir))
    val offQ92 = rows(SimJoin.q92JaccardJoinMaxDf(spark, dir))
    val offQ93 = rows(SimJoin.q93WeightedJaccardJoin(spark, dir))
    val offQ139 = rows(SimJoin.q139WeightedJaccardMaxDf(spark, dir))
    val offQ97 = rows(SimJoin.q97WeightedLshNearDup(spark, dir))

    spark.conf.set("spark.graft.shareLeaves", "true")
    try {
      // isolation: another suite's flag-on run (e.g. Round7Spec's q184
      // truth leg) may have registered these keys already in this app —
      // drop them so the "built once" assertions measure THIS test
      Leaves.cache.keys.filter(_.contains("simjoin_"))
        .foreach(Leaves.cache.remove)
      val before = Leaves.cache.size
      assert(rows(SimJoin.q82JaccardJoin(spark, dir)) === offQ82)
      val afterQ82 = Leaves.cache.size
      assert(afterQ82 > before, "q82 should have registered shared leaves")
      // q92 consumes the SAME leaves — no new cache entries
      assert(rows(SimJoin.q92JaccardJoinMaxDf(spark, dir)) === offQ92)
      assert(Leaves.cache.size === afterQ82,
        "q92 must reuse q82's shingle leaves, not rebuild")
      assert(rows(SimJoin.q93WeightedJaccardJoin(spark, dir)) === offQ93)
      val afterQ93 = Leaves.cache.size
      assert(rows(SimJoin.q139WeightedJaccardMaxDf(spark, dir)) === offQ139)
      assert(Leaves.cache.size === afterQ93,
        "q139 must reuse q93's TF + weighted-rank leaves")
      assert(rows(SimJoin.q97WeightedLshNearDup(spark, dir)) === offQ97)
    } finally spark.conf.unset("spark.graft.shareLeaves")
  }

  test("fluency leaf: shareLeaves on ≡ off for q193/q200/q201, with reuse") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    spark.conf.unset("spark.graft.shareLeaves")
    val off193 = rows(operators.Corpus.q193FluencyScore(spark, dir))
    val off200 = rows(operators.Ensemble.q200EnsembleRank(spark, dir))
    val off201 = rows(operators.TrainPrep.q201CurriculumPhases(spark, dir))
    spark.conf.set("spark.graft.shareLeaves", "true")
    try {
      Leaves.cache.keys.filter(_.contains("fluency_"))
        .foreach(Leaves.cache.remove) // same isolation as the test above
      val before = Leaves.cache.size
      assert(rows(operators.Corpus.q193FluencyScore(spark, dir)) === off193)
      val after = Leaves.cache.size
      assert(after > before, "q193 should have registered the fluency leaf")
      assert(rows(operators.Ensemble.q200EnsembleRank(spark, dir)) === off200)
      assert(rows(operators.TrainPrep.q201CurriculumPhases(spark, dir)) === off201)
      assert(Leaves.cache.size === after,
        "q200/q201 must reuse q193's fluency leaf")
    } finally spark.conf.unset("spark.graft.shareLeaves")
  }

  test("unkeyed callers isolate even with the flag on (generic inputs " +
       "can never collide in the shared cache)") {
    import spark.implicits._
    spark.conf.set("spark.graft.shareLeaves", "true")
    try {
      val before = Leaves.cache.size
      val a = Seq((1L, "x y z w x y z"), (2L, "x y z w x y z q"))
        .toDF("doc_id", "text")
      val b = Seq((1L, "entirely different corpus text here"))
        .toDF("doc_id", "text")
      val ra = SimJoin.jaccardJoinOn(a, maxDf = None).collect()
      val rb = SimJoin.jaccardJoinOn(b, maxDf = None).collect()
      assert(Leaves.cache.size === before, "unkeyed inputs must not cache")
      assert(ra.length === 1 && rb.isEmpty)
    } finally spark.conf.unset("spark.graft.shareLeaves")
  }
}
