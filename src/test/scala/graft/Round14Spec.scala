package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 optimization pins: the codegen'd sorted-merge verify kernel
  * (graft_min_mass) must equal the declarative form it replaced in
  * [[graft.operators.SimJoin]]'s weighted verify stage — on random
  * multisets including the edge shapes (empty side, disjoint, identical,
  * single-element). */
class Round14Spec extends AnyFunSuite with SparkSpec {

  test("graft_min_mass over sorted (terms, tfs) == brute-force Σ least(tf_a, tf_b)") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vocab = (0 until 30).map(i => s"w$i")
    def randomTf(): Map[String, Long] =
      rnd.shuffle(vocab).take(rnd.nextInt(vocab.size + 1))
        .map(t => t -> (1L + rnd.nextInt(9))).toMap
    val cases = Seq(
      (Map.empty[String, Long], Map.empty[String, Long]),
      (Map("a" -> 3L), Map.empty[String, Long]),
      (Map("a" -> 3L), Map("a" -> 5L)),
      (Map("a" -> 3L, "b" -> 1L), Map("c" -> 2L))) ++
      (1 to 200).map(_ => (randomTf(), randomTf()))
    val expected = cases.map { case (ma, mb) =>
      ma.keySet.intersect(mb.keySet).toSeq.map(k => math.min(ma(k), mb(k))).sum
    }
    val df = cases.map { case (ma, mb) =>
      val ea = ma.toSeq.sortBy(_._1)
      val eb = mb.toSeq.sortBy(_._1)
      (ea.map(_._1), ea.map(_._2), eb.map(_._1), eb.map(_._2))
    }.toDF("tsa", "fsa", "tsb", "fsb")
    val got = df.select(call_function("graft_min_mass",
      col("tsa"), col("fsa"), col("tsb"), col("fsb"))).as[Long].collect()
    assert(got.toSeq === expected)
  }

  test("graft_min_mass is NULL when a terms array and its tfs array differ " +
       "in length, interpreted and codegen'd, without reading past either") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
    def terms(ts: String*) = Literal.create(ts, ArrayType(StringType))
    def tfs(fs: Long*) = Literal.create(fs, ArrayType(LongType))
    val cases = Seq(
      (terms("a", "b", "c"), tfs(1L), terms("a", "b", "c"), tfs(1L, 2L, 3L)),
      (terms("a", "b"), tfs(1L, 2L), terms("a", "b"), tfs(1L, 2L, 3L)),
      (terms("a"), tfs(4L, 5L), terms("a"), tfs()),
      (terms(), tfs(1L), terms(), tfs()))
    cases.foreach { case (ta, fa, tb, fb) =>
      val e = graft.functions.SortedMinMass(ta, fa, tb, fb)
      assert(e.eval(InternalRow.empty) == null, s"interpreted: $e")
      val row = GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow.empty)
      assert(row.isNullAt(0), s"codegen: $e")
    }
    val ok = graft.functions.SortedMinMass(
      terms("a", "b"), tfs(2L, 7L), terms("b", "c"), tfs(3L, 1L))
    assert(ok.eval(InternalRow.empty) === 3L)
    assert(GenerateUnsafeProjection.generate(Seq(ok))
      .apply(InternalRow.empty).getLong(0) === 3L)
    val usage = spark.sessionState.functionRegistry.lookupFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_min_mass")).get.getUsage
    assert(usage.contains("sorted ascending"))
  }

  test("sort_array struct order matches the kernel's term merge order " +
       "(non-ASCII + prefix terms)") {
    // the leaf sorts (term, tf) structs; the kernel merges by
    // UTF8String.compareTo — pin that both orders agree on tricky strings
    import spark.implicits._
    val terms = Seq("a", "ab", "A", "z", "Z", "ä", "é", "~", "0", "aa")
    val tfs = terms.indices.map(i => (i + 1).toLong)
    val df = Seq((terms, tfs)).toDF("t", "f")
      .select(sort_array(arrays_zip(col("t"), col("f"))).as("e"))
      .select(transform(col("e"), _.getField("t")).as("ts"),
              transform(col("e"), _.getField("f")).as("fs"))
    val self = df.select(call_function("graft_min_mass",
      col("ts"), col("fs"), col("ts"), col("fs"))).as[Long].head()
    assert(self === tfs.sum) // every term matches itself exactly once
  }
}
