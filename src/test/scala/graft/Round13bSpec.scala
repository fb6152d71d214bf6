package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 OPTIMIZATION pins — the two value-identities the bm25/passage
  * restructure leans on (OPTIMIZATION_r13.md cohort 2), checked
  * exhaustively over magnitude sweeps rather than trusted from algebra:
  *
  *  1. term_ppm int64 decomposition ≡ the DECIMAL(38,0) form:
  *     (tfn·idf) DIV 1e6 = tfn·(idf DIV 1e6) + (tfn·(idf MOD 1e6)) DIV 1e6
  *     for all non-negative tfn ≤ 2.2e6 (the BM25 saturation bound) and
  *     idf across the int64 range the original BIGINT cast admits.
  *
  *  2. passages() closed-form dl ≡ size(slice):
  *     size(slice(t, cs+1, L)) = least(L, size(t) − cs) for every
  *     chunk_start the stride sequence generates (0 ≤ cs < size(t)).
  */
class Round13bSpec extends AnyFunSuite with SparkSpec {

  test("term_ppm long decomposition equals the DECIMAL(38,0) form across " +
       "the tfn saturation range and the idf int64 magnitude sweep") {
    import spark.implicits._
    // tfn: 0..2.2e6 boundary lattice; idf: powers-of-ten lattice ± offsets
    // up to the largest value whose product with tfn max stays a valid
    // term_ppm under the ORIGINAL bigint cast (2.2e6 · 4.2e18/1e6 ≈ int64
    // max) — beyond that the original query itself clips, so equality on
    // the valid domain is the contract.
    val tfns = Seq(0L, 1L, 2L, 999999L, 1000000L, 1000001L, 2199999L, 2200000L)
    val idfs = ((0 to 18).flatMap { p =>
      val base = math.pow(10, p).toLong
      Seq(base - 1, base, base + 1, base + 999999, 3 * base)
    }.filter(_ >= 0) :+ (Long.MaxValue / 2200000L * 1000000L))
      .distinct
    val rows = for (t <- tfns; i <- idfs if
      // stay where the original's BIGINT cast is exact: tfn·idf/1e6 ≤ max
      BigInt(t) * BigInt(i) / 1000000 <= BigInt(Long.MaxValue) &&
      // and the decomposition's own intermediate too (same bound — pin it)
      BigInt(t) * BigInt(i / 1000000) <= BigInt(Long.MaxValue)
    ) yield (t, i)
    val df = rows.toDF("tfn_ppm", "idf_ppm")
      .withColumn("dec", expr(
        "CAST(CAST(tfn_ppm AS DECIMAL(38,0)) * idf_ppm DIV 1000000 AS BIGINT)"))
      .withColumn("lng", expr(
        "tfn_ppm * (idf_ppm DIV 1000000L) + tfn_ppm * (idf_ppm % 1000000L) DIV 1000000L"))
    val bad = df.filter(col("dec") =!= col("lng")).count()
    assert(bad === 0, s"$bad lattice points diverge between the decimal " +
      "and int64 term_ppm forms")
  }

  test("passages dl closed form: least(L, len - cs) == size(slice) for " +
       "every stride-generated chunk_start over token counts 1..200") {
    import spark.implicits._
    val L = 32; val stride = 16
    val df = (1 to 200).toDF("len")
      .withColumn("t", expr("transform(sequence(1, len), i -> CAST(i AS STRING))"))
      .withColumn("cs", explode(expr(s"sequence(0, len - 1, $stride)")))
      .withColumn("closed", least(lit(L), col("len") - col("cs")).cast("long"))
      .withColumn("direct", expr(s"CAST(size(slice(t, cs + 1, $L)) AS BIGINT)"))
    val bad = df.filter(col("closed") =!= col("direct")).count()
    assert(bad === 0, s"$bad (len, chunk_start) points diverge between " +
      "closed-form and slice-size dl")
  }
}
