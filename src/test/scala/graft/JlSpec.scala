package graft

import graft.operators.Similarity
import org.scalatest.funsuite.AnyFunSuite

/** q94 JL-projection properties: the sign matrix is deterministic and
  * balanced-ish, and the projection is LINEAR — the structural property
  * that catches any drift between the kernel path and the sign matrix
  * (projection of a sum = sum of projections, exactly, because every
  * op is ±1·x with double accumulation in index order). */
class JlSpec extends AnyFunSuite with SparkSpec {

  test("sign matrix: deterministic, ±1 only, no constant rows") {
    val s = Similarity.jlSigns
    assert(s.length == 16 && s.forall(_.length == 64))
    assert(s.flatten.forall(v => v == 1f || v == -1f))
    // md5 parity should mix: no row may be all-ones or all-minus-ones
    assert(s.forall(row => row.toSet.size == 2))
    // regenerating gives the same matrix (pure function of (k, d))
    assert(s == Similarity.jlSigns)
  }

  test("projection is exactly linear on integer-valued vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // integer-valued floats: ±1 products and sums stay EXACT in double,
    // so additivity must hold bitwise, not approximately
    val a = Array.fill(64)(rnd.nextInt(9).toFloat - 4)
    val b = Array.fill(64)(rnd.nextInt(9).toFloat - 4)
    val ab = a.zip(b).map { case (x, y) => x + y }
    val df = Seq((0L, a.toSeq), (1L, b.toSeq), (2L, ab.toSeq))
      .toDF("vec_id", "v")
    val rows = (0 until 16).foldLeft(df) { (d, k) =>
      d.withColumn(s"y$k", org.apache.spark.sql.functions.call_function(
        "graft_dot", org.apache.spark.sql.functions.col("v"),
        org.apache.spark.sql.functions.typedLit(Similarity.jlSigns(k))))
    }.orderBy("vec_id").collect()
    (0 until 16).foreach { k =>
      val ya = rows(0).getDouble(2 + k)
      val yb = rows(1).getDouble(2 + k)
      val yab = rows(2).getDouble(2 + k)
      assert(yab == ya + yb, s"dim $k: $yab != $ya + $yb")
    }
  }
}
