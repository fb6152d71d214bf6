package graft

import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 pins: count-gated broadcast probes (the q196 cap discipline
  * applied to the funnel's contaminated-id set) and the q42 driver-cap
  * override that lets the scale curve exercise the distributed
  * pointer-jumping CC branch. */
class Round8Spec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("idProbe broadcasts under the cap and falls back to a shuffle " +
       "anti-join above it, with identical results") {
    import spark.implicits._
    val base = (1L to 100L).toDF("doc_id")
    val ids = (1L to 30L).filter(_ % 3 == 0).toDF("doc_id")

    def antiPlan(cap: Long) = base
      .join(graft.operators.TrainPrep.idProbe(ids, cap), Seq("doc_id"), "left_anti")

    // Size-based broadcast selection (static + AQE) is scale-safe on its
    // own — it only fires when the runtime relation is genuinely small.
    // The hazard idProbe guards is the unconditional broadcast() HINT, so
    // isolate the hint: with size selection off, any BroadcastExchange
    // can only come from the hint.
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
                         "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholds.map(k => k -> spark.conf.getOption(k))
    thresholds.foreach(spark.conf.set(_, "-1"))
    try {
      val under = antiPlan(cap = 1000L)
      val over = antiPlan(cap = 0L)
      assert(PlanWalk.allNodes(under)
        .exists(_.isInstanceOf[BroadcastExchangeExec]),
        "under-cap probe should broadcast")
      assert(!PlanWalk.allNodes(over)
        .exists(_.isInstanceOf[BroadcastExchangeExec]),
        s"over-cap probe must NOT broadcast:\n${over.queryExecution.executedPlan}")
      assert(under.collect().map(_.getLong(0)).sorted
        sameElements over.collect().map(_.getLong(0)).sorted)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q104 funnel's contaminated probe goes through the count gate " +
       "(plan unchanged under the default cap: still broadcast at test size)") {
    val f = graft.operators.TrainPrep.q104CurationFunnel(spark, dir)
    val rows = f.collect()
    assert(rows.length == 6)
    assert(rows.map(_.getString(0)).sorted sameElements
      Array("0_all", "1_dedup", "2_decon", "3_quality", "4_sample", "5_packs"))
  }

  test("q42 with the driver cap forced to 0 takes the distributed branch " +
       "and emits the same clusters as the driver union-find") {
    val default = graft.operators.Dedup.q42DedupClusters(spark, dir).collect()
    spark.conf.set("spark.graft.cc.driverEdgeLimit", "0")
    try {
      assert(graft.operators.Dedup.ccDriverEdgeLimit(spark) == 0L)
      val dist = graft.operators.Dedup.q42DedupClusters(spark, dir).collect()
      assert(dist.map(r => (r.getLong(0), r.getLong(1))).sorted
        sameElements default.map(r => (r.getLong(0), r.getLong(1))).sorted)
    } finally spark.conf.unset("spark.graft.cc.driverEdgeLimit")
    assert(graft.operators.Dedup.ccDriverEdgeLimit(spark) == 2000000L)
  }
}
