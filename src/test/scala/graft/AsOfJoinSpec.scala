package graft

import graft.operators.AsOfJoin
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The distributed big-big as-of join: equivalence against the obvious
  * (non-scalable) per-key union-window construction on adversarial random
  * data, plus the plan shapes that make it survive 100 TB. */
class AsOfJoinSpec extends AnyFunSuite with SparkSpec {

  /** Reference implementation: union both sides, one window per key —
    * correct by construction, serializes per key (the plan [[AsOfJoin
    * .bucketed]] exists to avoid). */
  private def naive(probe: Seq[(Long, Long, Long)],
                    build: Seq[(Long, Long, Long, Double)]): Map[Long, Option[(Long, Double)]] = {
    // per probe row (id, key, t): latest build (key, t', pay...) with t' <= t;
    // ties at equal t' broken by greatest (t', payId, payV) like max(struct).
    probe.map { case (id, k, t) =>
      val cands = build.filter(b => b._1 == k && b._2 <= t)
      val best = if (cands.isEmpty) None
      else Some(cands.maxBy(b => (b._2, b._3, b._4)))
      id -> best.map(b => (b._3, b._4))
    }.toMap
  }

  test("bucketed as-of == naive as-of on random data (ties, sparse keys, carry)") {
    import spark.implicits._
    val rnd = new Random(7)
    // times cluster so buckets are: empty, probe-only, build-only, mixed;
    // equal-time ties hit both the >= edge and the max(struct) tiebreak
    val ts = (0 until 400).map(_ => rnd.nextInt(50).toLong * 10L)
    val probe = (0 until 400).map(i =>
      (i.toLong, rnd.nextInt(6).toLong, ts(i)))
    val build = (0 until 150).map(i =>
      (rnd.nextInt(6).toLong, rnd.nextInt(50).toLong * 10L,
       1000L + i, rnd.nextInt(5).toDouble))
    val probeDf = probe.toDF("event_id", "k", "t")
    val buildDf = build.toDF("k", "t", "pay_id", "pay_v")
    val expect = naive(probe, build)

    for (width <- Seq(7L, 60L, 1000L)) { // buckets smaller/larger/global-ish
      val got = AsOfJoin.bucketed(probeDf, buildDf, "k", "t",
          Seq("pay_id", "pay_v"), width)
        .collect()
        .map(r => r.getAs[Long]("event_id") ->
          (if (r.isNullAt(r.fieldIndex("pay_id"))) None
           else Some((r.getAs[Long]("pay_id"), r.getAs[Double]("pay_v")))))
        .toMap
      assert(got.size === probe.size, s"width=$width lost probe rows")
      expect.foreach { case (id, want) =>
        assert(got(id) === want, s"width=$width probe $id")
      }
    }
  }

  test("equal-time build ties resolve to the greatest payload, any input order") {
    import spark.implicits._
    // three build rows on the SAME (key, time), deliberately unsorted and
    // scattered across partitions: the winner must be the max(struct)
    // payload (9), not whichever row the shuffle sorts last
    val buildDf = Seq((1L, 10L, 5L, 0.5), (1L, 10L, 9L, 0.9), (1L, 10L, 3L, 0.3))
      .toDF("k", "t", "pay_id", "pay_v").repartition(3)
    val probeDf = Seq((0L, 1L, 15L), (1L, 1L, 10L)).toDF("event_id", "k", "t")
    for (width <- Seq(4L, 1000L)) { // in-bucket path AND carry path
      val got = AsOfJoin.bucketed(probeDf, buildDf, "k", "t",
          Seq("pay_id", "pay_v"), width)
        .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("pay_id")).toMap
      assert(got === Map(0L -> 9L, 1L -> 9L), s"width=$width")
    }
  }

  test("q76 plan: no single-partition exchange, no broadcast of the build side") {
    val df = AsOfJoin.q76AsofBigJoin(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"fact-scale as-of must not serialize:\n$plan")
    assert(!plan.contains("BroadcastExchange"),
      s"big-big as-of must not broadcast a side:\n$plan")
    assert(df.count() > 0)
  }
}
