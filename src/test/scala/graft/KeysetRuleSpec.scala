package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.KeysetBoundRule]]: a USER-written keyset OR-chain (not
  * built through BoundedScan.resumePredicate) must gain the implied
  * leading-column bound — visible as a parquet PushedFilter — without
  * changing results. */
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
    // resumePredicate already conjoins the manual bound; the rule must not
    // stack another copy (idempotence) — count occurrences in the filter
    val spec = graft.plans.BoundedScan.CursorSpec(Seq(("o_orderkey", true)))
    val df = Tables.orders(spark, dir)
      .filter(graft.plans.BoundedScan.resumePredicate(spec, Seq(lit(5000L))))
    val optimized = df.queryExecution.optimizedPlan.toString
    val occurrences = "<= 5000".r.findAllIn(optimized).length
    assert(occurrences === 1, s"expected exactly one bound conjunct:\n$optimized")
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
