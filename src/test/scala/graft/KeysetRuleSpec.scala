package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.KeysetBoundRule]]: a keyset OR-chain, user-written or
  * built by BoundedScan.resumePredicate, must gain the implied
  * leading-column bound — visible as a parquet PushedFilter — once, and
  * without changing results. */
class KeysetRuleSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  // the /txs-shaped cursor (height DESC, requestkey DESC) transplanted onto
  // orders: (o_orderkey DESC, o_custkey DESC) resumed mid-table, written as
  // the raw expanded OR-chain with NO manual leading bound
  private def rawKeyset = Tables.orders(spark, dir).filter(
    (col("o_orderkey") < 5000) ||
    (col("o_orderkey") === 5000 && col("o_custkey") < 100))

  /** Full (untruncated) PushedFilters of the plan's parquet scan. */
  private def pushedFilters(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata("PushedFilters")
    }.mkString(";")

  test("keyset OR-chain gains an implied pushed leading-column bound") {
    val pushed = pushedFilters(rawKeyset)
    assert(pushed.contains("LessThanOrEqual(o_orderkey,5000)"),
      s"expected derived o_orderkey bound in PushedFilters: $pushed")
  }

  test("derived bound does not change results") {
    val want = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey").collect().filter { r =>
        val k = r.getLong(0); val c = r.getLong(1)
        k < 5000 || (k == 5000 && c < 100)
      }.map(_.getLong(0)).sorted
    val got = rawKeyset.select("o_orderkey").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want))
    assert(got.nonEmpty) // fixture actually exercises the predicate
  }

  test("rule is a fixpoint on BoundedScan's own predicates (no duplicate bounds)") {
    import graft.plans.BoundedScan.{CursorSpec, resumePredicate}
    // a one-column cursor is its own range bound: nothing is added
    val one = Tables.orders(spark, dir)
      .filter(resumePredicate(CursorSpec(Seq(("o_orderkey", true))), Seq(lit(5000L))))
    val optimized = one.queryExecution.optimizedPlan.toString
    assert("5000".r.findAllIn(optimized).length === 1,
      s"expected exactly one bound conjunct:\n$optimized")
    // the cursor as performBoundedScan passes it (cast string literals):
    // the rule derives the leading bound exactly once
    val two = Tables.orders(spark, dir).filter(resumePredicate(
      CursorSpec(Seq("o_orderkey" -> true, "o_custkey" -> true)),
      Seq(lit("5000").cast("long"), lit("100").cast("long"))))
    val pushed = pushedFilters(two)
    assert("LessThanOrEqual\\(o_orderkey,5000\\)".r.findAllIn(pushed).length === 1,
      s"expected the derived o_orderkey bound once in PushedFilters: $pushed")
  }

  test("with bound cursor values, a bounded-scan page still pushes the " +
       "derived leading bound to parquet, once") {
    import graft.plans.BoundedScan
    import graft.plans.BoundedScan.{Continuation, CursorSpec}
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = Fixtures.ingest(spark, Fixtures.header1 -> Fixtures.payload1,
                              Fixtures.header2 -> Fixtures.payload2)
    val src = graft.sources.Snapshots.readPinned(spark, s"$dir/transactions")
    val pushed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        collect(qe.executedPlan) { case s: FileSourceScanExec => s.metadata("PushedFilters") }
          .foreach(pushed.add)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // the tx cursor, resumed after (100, rk3, blk1): the page holds rk2, rk1
      val (rows, _) = BoundedScan.performBoundedScan(src,
        CursorSpec(Seq("height" -> true, "requestkey" -> true, "block" -> true)),
        lit(true), 100, 10, Some(Continuation(Some(Seq("100", "rk3", "blk1")), 0)))
      assert(rows.map(_.getAs[String]("requestkey")) === Seq("rk2", "rk1"))
      // listeners hear of the finished query on the listener bus
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (pushed.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
    } finally spark.listenerManager.unregister(listener)
    val all = pushed.toArray.mkString(";")
    assert("LessThanOrEqual\\(height,100\\)".r.findAllIn(all).length === 1,
      s"expected the derived height bound once in PushedFilters: $all")
  }

  test("ascending chains derive a >= bound") {
    val asc = Tables.lineitem(spark, dir).filter(
      (col("l_orderkey") > 4000) ||
      (col("l_orderkey") === 4000 && col("l_linenumber") > 2))
    val pushed = pushedFilters(asc)
    assert(pushed.contains("GreaterThanOrEqual(l_orderkey,4000)"),
      s"expected derived l_orderkey bound in PushedFilters: $pushed")
  }

  test("disjuncts bounding different attributes derive nothing (soundness)") {
    val mixed = Tables.orders(spark, dir).filter(
      (col("o_orderkey") > 5000) || (col("o_custkey") > 100))
    val optimized = mixed.queryExecution.optimizedPlan.toString
    assert(!optimized.contains(">= 5000"), s"unsound bound derived:\n$optimized")
    assert(!optimized.contains(">= 100"), s"unsound bound derived:\n$optimized")
  }
}
