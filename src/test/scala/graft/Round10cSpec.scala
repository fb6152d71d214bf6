package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-10 batch-2 property pins beyond the oracle gate: mathematical
  * invariances of the Bradley–Terry fit and lifecycle idempotence of the
  * persisted inverted index. */
class Round10cSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Driver-side replica of q262's integer MM loop over an arbitrary win
    * matrix — the spec's independent harness for invariance properties
    * (the production loop is inside q262BtStrength; this mirrors its
    * arithmetic exactly, including every floor). */
  private def btFit(g: Seq[(String, String, Long)],
                    iters: Int = operators.Preference.BtIters)
      : Map[String, BigInt] = {
    val players = g.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val wins = players.map(s =>
      s -> g.filter(_._1 == s).map(e => BigInt(e._3)).sum).toMap
    val nMat = (g.map(e => (e._1, e._2) -> BigInt(e._3)) ++
        g.map(e => (e._2, e._1) -> BigInt(e._3)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    val E6 = BigInt(1000000); val E12 = E6 * E6; val one = BigInt(1)
    var p: Map[String, BigInt] = players.map(_ -> E6).toMap
    for (_ <- 1 to iters) {
      val denom = players.map { s =>
        s -> players.flatMap(t => nMat.get((s, t))
          .map(nn => nn * E12 / (p(s) + p(t)).max(one))).sum
      }.toMap
      val praw = players.map(s => s -> wins(s) * E12 / denom(s).max(one)).toMap
      val tot = praw.values.sum.max(one)
      p = players.map(s => s -> praw(s) * players.size * E6 / tot).toMap
    }
    p
  }

  test("BT fit is judgment-volume invariant: doubling every win count " +
       "moves no strength by more than floor noise (BT depends on ratios; " +
       "exact in rationals, ±ulps under the integer lattice)") {
    val g = operators.Preference.winMatrix(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(g.nonEmpty)
    val base = btFit(g)
    val doubled = btFit(g.map { case (a, b, n) => (a, b, 2 * n) })
    val worst = base.keys.map(k => (doubled(k) - base(k)).abs).max
    assert(worst <= BigInt(16),
      s"doubling all counts moved a strength by $worst ppm-units — " +
      "the loop lost ratio-scale invariance")
  }

  test("BT fit is label invariant: renaming players permutes strengths " +
       "without changing them") {
    val g = operators.Preference.winMatrix(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    def ren(s: String) = s"x_$s"
    val base = btFit(g)
    val renamed = btFit(g.map { case (a, b, n) => (ren(a), ren(b), n) })
    assert(renamed === base.map { case (k, v) => ren(k) -> v })
  }

  test("BT fit honors a forced hierarchy: on a transitive round-robin " +
       "the strength order equals the win order") {
    // synthetic 4-player league: a beats everyone, b beats c/d, c beats d
    val g = Seq(("a", "b", 6L), ("a", "c", 6L), ("a", "d", 6L),
      ("b", "c", 6L), ("b", "d", 6L), ("c", "d", 6L),
      // small upsets so no player is undefeated (denominators stay rich)
      ("b", "a", 1L), ("c", "b", 1L), ("d", "c", 1L))
    val p = btFit(g)
    assert(p("a") > p("b") && p("b") > p("c") && p("c") > p("d"),
      s"hierarchy not recovered: $p")
  }

  test("q262 output matches the spec harness fit over the same matrix " +
       "(the production loop and the property harness can't drift)") {
    val g = operators.Preference.winMatrix(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val expected = btFit(g)
    val rows = operators.Preference.q262BtStrength(spark, dir).collect()
    rows.foreach { r =>
      assert(BigInt(r.getLong(4)) === expected(r.getString(0)),
        s"q262 fit diverged for ${r.getString(0)}")
    }
  }

  test("text-index rebuild is idempotent: accounting identical across " +
       "two builds, and q264 still serves q150's rows after the rebuild") {
    val acct1 = operators.Retrieval.q263TextIndexBuild(spark, dir)
      .collect().map(_.toSeq).toSeq
    val acct2 = operators.Retrieval.q263TextIndexBuild(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(acct1 === acct2, "rebuild changed the index accounting")
    val fresh = operators.Retrieval.q150Bm25TopK(spark, dir)
      .collect().map(_.toSeq).toSeq
    val served = operators.Retrieval.q264TextIndexQuery(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(served === fresh)
  }
}
