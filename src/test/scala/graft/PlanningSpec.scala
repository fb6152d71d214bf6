package graft

import graft.operators.RichList
import graft.plans.{Gaps, RangePlan}
import graft.plans.RangePlan.Range
import org.scalatest.funsuite.AnyFunSuite

/** Ports of the reference's own unit fixtures (SURVEY §5:
  * test/Chainweb/Data/Test/Backfill.hs — 10-chain plans, 20-chain
  * pre-fork consistency, genesis clamping at the 852_054 transition) plus
  * gap detection and the richlist pipeline. */
class PlanningSpec extends AnyFunSuite with SparkSpec {

  // mainnet01-shaped graph: chains 0-9 from genesis 0, chains 10-19 fork
  // in at 852_054 (the reference's fixture heights).
  private val forkH = 852054L
  private val genesis20: Map[Long, Long] =
    ((0L to 9L).map(_ -> 0L) ++ (10L to 19L).map(_ -> forkH)).toMap

  test("descChunks: descending ≤N windows covering exactly [lo,hi]") {
    val cs = RangePlan.descChunks(0, 5, 500, 120)
    assert(cs.head.hi === 500)                    // newest first
    assert(cs.forall(_.size <= 120))
    assert(cs.map(_.size).sum === 496)
    val covered = cs.flatMap(r => r.lo to r.hi).sorted
    assert(covered === (5L to 500L))
    assert(RangePlan.descChunks(0, 10, 9) === Seq.empty)
  }

  test("lookupPlan clamps at genesis on post-fork chains") {
    val cut = genesis20.keys.map(_ -> 900000L).toMap
    val plan = RangePlan.lookupPlan(genesis20, cut, existing = Map.empty, chunk = 100000)
    for (r <- plan) {
      assert(r.lo >= genesis20(r.chainId), s"range $r dips below genesis")
      assert(r.hi <= 900000L)
    }
    // chains 10-19 plan exactly [forkH, cut]
    val c10 = plan.filter(_.chainId == 10)
    assert(c10.flatMap(r => r.lo to r.hi).sorted === (forkH to 900000L))
  }

  test("lookupPlan fills above and below an ingested window") {
    val plan = RangePlan.lookupPlan(
      genesis = Map(0L -> 0L), cut = Map(0L -> 1000L),
      existing = Map(0L -> (300L, 700L)), chunk = 120)
    val heights = plan.flatMap(r => r.lo to r.hi).sorted
    assert(heights === ((0L to 299L) ++ (701L to 1000L)))
    // newest-first: the first chunk is the top of the upper gap
    assert(plan.head.hi === 1000L)
  }

  test("gap detection: interior holes + genesis prefix via lead window") {
    import spark.implicits._
    // chain 0: [5..10] ∪ [14..15] (hole 11-13, prefix 0-4); chain 1: complete
    val blocks = ((5L to 10L) ++ (14L to 15L)).map((0L, _)) ++ (0L to 6L).map((1L, _))
    val df = blocks.toDF("chainid", "height")
    val gaps = Gaps.missingIntervals(df, "chainid", "height", Map(0L -> 0L, 1L -> 0L))
    assert(gaps === Seq(Range(0, 0, 4), Range(0, 11, 13)))
    val plan = Gaps.plan(df, "chainid", "height", Map(0L -> 0L, 1L -> 0L), chunk = 2)
    assert(plan.forall(_.size <= 2))
    assert(plan.flatMap(r => r.lo to r.hi).sorted === ((0L to 4L) ++ (11L to 13L)))
  }

  test("coinbase gap detection over events (fill-events)") {
    import spark.implicits._
    // events at block grain: chain 0 heights {60,61,64,65} (hole 62-63,
    // prefix 50-59 from the activation height), chain 1 complete from 50;
    // multiple events per height must not fake gaps.
    val ev = (Seq(60L, 60L, 61L, 64L, 65L).map((0L, _)) ++
              (50L to 55L).map((1L, _))).toDF("chainid", "height")
    val gaps = Gaps.coinbaseGaps(ev, "chainid", "height", startingHeight = 50L)
    assert(gaps === Seq(Range(0, 50, 59), Range(0, 62, 63)))
  }

  test("transfers backfill plan: desc windows + effective total") {
    import spark.implicits._
    val transfers = Seq((0L, 700L), (0L, 800L), (1L, 650L)).toDF("chainid", "height")
    val events = ((100L to 700L by 50).map(h => (0L, h, "TRANSFER")) ++
                  Seq((0L, 120L, "MINT"), (1L, 500L, "TRANSFER")))
      .toDF("chainid", "height", "name")
    val plan = Gaps.transfersBackfillPlan(transfers, events,
      activationHeight = 100L, numChains = 2, chunk = 200)
    // maxMin = max(min per chain) = max(700, 650) = 700; windows cover
    // [100, 700] descending, ≤200 heights each, newest first.
    assert(plan.windows.head._2 === 700L)
    assert(plan.windows.flatMap { case (lo, hi) => lo to hi }.sorted === (100L to 700L))
    assert(plan.windows.forall { case (lo, hi) => hi - lo + 1 <= 200 })
    // TRANSFER events in [100,700]: 13 on chain 0 + 1 on chain 1
    assert(plan.effectiveTotal === 14L)
    // missing chain coverage fails fast (BackfillTransfers.hs:64-67)
    assertThrows[IllegalArgumentException] {
      Gaps.transfersBackfillPlan(transfers.filter($"chainid" === 0L), events,
        activationHeight = 100L, numChains = 2, chunk = 200)
    }
  }

  test("richlist: latest-per-key, deep balance JSON, top-N, csv sink") {
    import spark.implicits._
    val rows = Seq(
      // account a: later txid wins (balance 50 not 10)
      (0L, "a", 1L, """{"balance": 10}"""),
      (0L, "a", 2L, """{"balance": 50}"""),
      // account b: balance nested deep in module-specific layout
      (0L, "b", 1L, """{"data": {"acct": {"balance": "75.5"}}}"""),
      // account c on two chains: summed (30 + 40)
      (0L, "c", 1L, """{"balance": 30}"""),
      (1L, "c", 9L, """{"balance": 40}"""),
      // malformed json → dropped from sums
      (1L, "d", 1L, """not json"""))
      .toDF("chainid", "rowkey", "txid", "data")
    val top = RichList.topBalances(rows, n = 2).collect()
    assert(top.map(_.getString(0)).toSeq === Seq("b", "c"))
    assert(top.head.getDecimal(1).doubleValue() === 75.5)
    assert(top(1).getDecimal(1).doubleValue() === 70.0)

    val out = java.nio.file.Files.createTempDirectory("richlist").toString
    RichList.writeCsv(RichList.topBalances(rows, 2), out)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() === 2)
  }

  test("balanceOf recursive descent") {
    assert(RichList.balanceOf("""{"x":[{"y":{"balance":3.25}}]}""").map(_.doubleValue()) === Some(3.25))
    assert(RichList.balanceOf("""{"no":1}""") === None)
    assert(RichList.balanceOf("""garbage""") === None)
  }
}
