package graft

import graft.plans.BoundedScan
import graft.plans.BoundedScan.{Continuation, CursorSpec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The core correctness contract of the pagination engine
  * (chainweb-data BoundedScan.hs:175-254): paging through with ANY scan
  * budget must enumerate exactly the unbounded ordered result. */
class BoundedScanSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val spec = CursorSpec(Seq("user_id" -> true, "event_id" -> true))

  private def src = Tables.events(spark, sf)
    .select(col("user_id"), col("event_id"), col("event_type"))

  private def unbounded: Seq[(Long, Long)] =
    src.filter(col("event_type") === "click")
      .orderBy(col("user_id").desc, col("event_id").desc)
      .select(col("user_id"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def pageAll(scanLimit: Int, resultLimit: Int,
                      start: Option[Continuation] = None): Seq[(Long, Long)] = {
    var cont = start
    var out = Vector.empty[(Long, Long)]
    var first = true
    while (first || cont.isDefined) {
      first = false
      val (rows, next) = BoundedScan.performBoundedScan(
        src, spec, col("event_type") === "click", scanLimit, resultLimit, cont)
      out ++= rows.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")))
      cont = next
    }
    out
  }

  test("paging enumerates the unbounded result for any scan budget") {
    val expected = unbounded
    for (scanLimit <- Seq(17, 64, 100000)) {
      assert(pageAll(scanLimit, resultLimit = 13) === expected,
             s"scanLimit=$scanLimit")
    }
  }

  test("paging property: pseudo-random budget/limit/offset combinations") {
    val expected = unbounded
    // deterministic pseudo-random draws — covers sentinel-on-match,
    // budget-equals-page, offset-across-windows edge classes
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 6) {
      val scanLimit = 1 + rng.nextInt(150)
      val resultLimit = 1 + rng.nextInt(20)
      val offset = rng.nextInt(30)
      val got = pageAll(scanLimit, resultLimit,
        Some(Continuation(None, offset)))
      assert(got === expected.drop(offset),
        s"scanLimit=$scanLimit resultLimit=$resultLimit offset=$offset")
    }
  }

  test("initial offset continuation skips exactly offset matches") {
    val expected = unbounded.drop(25)
    assert(pageAll(64, 13, Some(Continuation(None, 25))) === expected)
  }

  test("no matching rows: pages drain the scan and end with None") {
    var cont: Option[Continuation] = None
    var first = true
    var pages = 0
    while (first || cont.isDefined) {
      first = false
      val (rows, next) = BoundedScan.performBoundedScan(
        src, spec, col("event_type") === "no_such_type", 300, 10, cont)
      assert(rows.isEmpty)
      cont = next
      pages += 1
      assert(pages < 20)
    }
    assert(pages >= 3) // 1000 rows / 300 budget → several empty pages
  }

  test("offset larger than match count yields empty result") {
    assert(pageAll(1000, 13, Some(Continuation(None, 1000000))) === Seq.empty)
  }

  test("orphan-duplicate paging completeness: Bounded and Unbounded " +
       "enumerate the identical sequence to exhaustion for adversarial " +
       "scan budgets (VERDICT r8 item 6 — the §5 contract)") {
    import spark.implicits._
    // a tx-shaped fixture with ORPHAN DUPLICATES: fork twins sharing the
    // reference's whole (height, requestkey) TxCursor, distinguishable
    // only by block hash — exactly the rows a non-unique cursor drops
    // when a boundary splits the equal-cursor run
    val rows = Seq(
      (9L, "rk_i", "b_main9", true),
      (8L, "rk_h", "b_main8", true),
      (7L, "rk_g", "b_fork7a", true),  // fork twins, both match
      (7L, "rk_g", "b_fork7b", true),
      (7L, "rk_f", "b_main7", false),
      (6L, "rk_e", "b_fork6a", true),  // fork twins, both match
      (6L, "rk_e", "b_fork6b", true),
      (6L, "rk_e", "b_fork6c", true),  // triple fork
      (5L, "rk_d", "b_main5", false),
      (5L, "rk_c", "b_fork5a", false), // non-matching twins (scan load)
      (5L, "rk_c", "b_fork5b", false),
      (4L, "rk_b", "b_main4", true),
      (3L, "rk_a", "b_fork3a", true),
      (3L, "rk_a", "b_fork3b", true))
    val src = rows.toDF("height", "requestkey", "block", "is_match")
      .repartition(4) // duplicates deliberately scattered across tasks
    // the serving spec's shape: reference cursor + block-hash tiebreak
    val spec2 = CursorSpec(Seq(
      "height" -> true, "requestkey" -> true, "block" -> true))
    val matchCol = col("is_match")
    val expected = src.filter(matchCol)
      .orderBy(col("height").desc, col("requestkey").desc, col("block").desc)
      .select(col("height"), col("requestkey"), col("block"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(expected.length == 10) // 5 singles/twins + the triple, all kept

    def drain(step: (Option[Continuation]) => (Seq[org.apache.spark.sql.Row],
                                               Option[Continuation]))
        : Seq[(Long, String, String)] = {
      var cont: Option[Continuation] = None
      var out = Vector.empty[(Long, String, String)]
      var first = true
      var pages = 0
      while (first || cont.isDefined) {
        first = false
        val (rs, next) = step(cont)
        out ++= rs.map(r => (r.getAs[Long]("height"),
          r.getAs[String]("requestkey"), r.getAs[String]("block")))
        cont = next
        pages += 1
        assert(pages < 64, "paging did not terminate")
      }
      out
    }

    for (resultLimit <- Seq(1, 2, 3, 9)) {
      val unb = drain(c => BoundedScan.performUnbounded(
        src, spec2, matchCol, resultLimit, c))
      assert(unb === expected, s"unbounded resultLimit=$resultLimit")
      // adversarial scan budgets: 1 (boundary after EVERY row), 2 and 3
      // (boundaries inside both twin runs and the triple), up to ∞-like
      for (scanLimit <- Seq(1, 2, 3, 4, 7, 1000)) {
        val bnd = drain(c => BoundedScan.performBoundedScan(
          src, spec2, matchCol, scanLimit, resultLimit, c))
        assert(bnd === expected,
          s"bounded scanLimit=$scanLimit resultLimit=$resultLimit")
        assert(bnd === unb) // the two strategies agree, page-set-wise
      }
    }
  }

  test("continuation token codec round-trips") {
    val cases = Seq(
      Continuation(None, 42),
      Continuation(Some(Seq("7", "499")), 0),
      Continuation(Some(Seq("a|b", "c\\d", "")), 9))
    for (c <- cases)
      assert(BoundedScan.decodeToken(BoundedScan.encodeToken(c)) === c)
  }
}
