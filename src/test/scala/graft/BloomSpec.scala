package graft

import graft.operators.{Bloom, Corpus}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bloom prefilter (q100/q101) properties: the mask has no false
  * negatives (so the prefiltered exact join is IDENTICAL to q67), and the
  * codegen'd `graft_bloom_test` kernel agrees with a declarative
  * bit-membership re-expression on every probe. */
class BloomSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q100 output is row-for-row identical to q67") {
    val plain = Corpus.q67Decontaminate(spark, dir).collect().toSeq
    val bloomed = Bloom.q100BloomDecontaminate(spark, dir).collect().toSeq
    assert(plain == bloomed)
  }

  test("no false negatives: every train shingle present in the eval set " +
       "passes the mask") {
    val docs = Corpus.shingledDocs(spark, dir)
    val evalDocs = docs.filter(col("doc_id") % 50 === 0)
    val bits = Bloom.buildBits(evalDocs)
    val evalG = evalDocs.select(explode(col("sh")).as("g")).distinct()
    val trainTrue = docs.filter(col("doc_id") % 50 =!= 0)
      .select(explode(col("sh")).as("g"))
      .join(evalG, Seq("g"), "left_semi")
    val failures = trainTrue.filter(!call_function("graft_bloom_test",
        lit(bits), Bloom.positions(col("g")))).count()
    assert(failures == 0)
    assert(trainTrue.count() > 0) // the property must actually bite
  }

  test("graft_bloom_test kernel == declarative forall(bit set) re-expression") {
    val docs = Corpus.shingledDocs(spark, dir)
    val bits = Bloom.buildBits(docs.filter(col("doc_id") % 50 === 0))
    // declarative re-expression: explode the mask's SET positions into a
    // single-row array and check membership of each probe position
    val setPositions = bits.indices.flatMap { i =>
      (0 until 8).collect { case b if ((bits(i) >> b) & 1) == 1 => i * 8 + b }
    }.toArray
    val posArrayLit = typedLit(setPositions)
    val probes = docs.select(explode(col("sh")).as("g"))
      .withColumn("kernel",
        call_function("graft_bloom_test", lit(bits), Bloom.positions(col("g"))))
      .withColumn("declarative",
        forall(Bloom.positions(col("g")), p => array_contains(posArrayLit, p)))
    assert(probes.filter(col("kernel") =!= col("declarative")).count() == 0)
    // and both paths see a mix of pass and fail on this corpus
    assert(probes.filter(col("kernel")).count() > 0)
    assert(probes.filter(!col("kernel")).count() > 0)
  }

  test("UNIVERSAL no-false-negatives: every member of a random key set " +
       "passes its own mask; false positives stay under the design floor") {
    import spark.implicits._
    // seeded — deterministic across runs; arbitrary strings, not shingles
    val rnd = new scala.util.Random(42)
    val keys = Seq.fill(2000)(rnd.alphanumeric.take(rnd.nextInt(20) + 3).mkString)
      .distinct
    val (members, outsiders0) = keys.splitAt(keys.length / 2)
    val outsiders = outsiders0.filterNot(members.toSet)
    val bits = Bloom.buildBits(
      Seq(members).toDF("sh")) // one row carrying the whole set
    val m = members.toDF("g")
      .filter(!Bloom.might(lit(bits), col("g"))).count()
    assert(m == 0, s"$m members failed their own mask")
    val fp = outsiders.toDF("g")
      .filter(Bloom.might(lit(bits), col("g"))).count()
    // fill ≈ 1000·3 / 2^21 = 0.14% → FP ≈ (0.0014)^3; even 1% is generous
    assert(fp <= outsiders.length / 100,
      s"false-positive count $fp above 1% of ${outsiders.length}")
  }

  test("the mask decontaminates a LIVE stream: the static bloom literal " +
       "filters streaming rows exactly like the batch probe") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Corpus.shingledDocs(spark, dir)
    val bits = Bloom.buildBits(docs.filter(col("doc_id") % 50 === 0))
    val rows = docs.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .filter(Bloom.might(lit(bits), col("g")))
      .count()
    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("doc_id", "g")
      .filter(Bloom.might(lit(bits), col("g")))
      .writeStream.format("memory").queryName("bloom_stream")
      .outputMode("append").start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      assert(spark.table("bloom_stream").count() == expected)
      assert(expected > 0 && expected < rows.length)
    } finally q.stop()
  }

  test("fused graft_bloom_might == graft_bloom_test over derived positions") {
    val docs = Corpus.shingledDocs(spark, dir)
    val bits = Bloom.buildBits(docs.filter(col("doc_id") % 50 === 0))
    val probes = docs.select(explode(col("sh")).as("g"))
      .withColumn("fused", Bloom.might(lit(bits), col("g")))
      .withColumn("staged",
        call_function("graft_bloom_test", lit(bits), Bloom.positions(col("g"))))
    assert(probes.filter(col("fused") =!= col("staged")).count() == 0)
    assert(probes.filter(col("fused")).count() > 0)
    assert(probes.filter(!col("fused")).count() > 0)
  }
}
