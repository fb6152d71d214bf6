package graft

import graft.operators.{Corpus, Sketches}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 property tests: the histogram-median sketch's by-construction
  * error bound and the hash-priority sample's reproducibility/extension
  * contracts. */
class Round4Spec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("histogram median bin always contains the exact median") {
    val rows = Sketches.q102HistMedian(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Number]("median_chars").longValue()
      val low = r.getAs[Number]("hist_median_low").longValue()
      assert(low <= exact && exact < low + Sketches.HistBinWidth,
        s"lang ${r.getString(0)}: exact $exact outside bin [$low, ${low + Sketches.HistBinWidth})")
    }
  }

  test("q116 funnel v2: stage counts are monotone nonincreasing and the " +
       "sample stage respects the per-lang cap") {
    val rows = graft.operators.TrainPrep.q116FunnelV2(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val order = Seq("0_all", "1_rules", "2_dsir", "3_dedup", "4_sample")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(rows(b) <= rows(a), s"stage $b (${rows(b)}) > $a (${rows(a)})")
    }
    // ≤ k docs per language survive the sample stage (5 langs × k)
    assert(rows("4_sample") <=
      5L * graft.operators.TrainPrep.FunnelV2SampleK)
    assert(rows("5_packs") > 0)
  }

  test("histogram p90 bin always contains the exact p90 element (the " +
       "q102 containment, generalized rank)") {
    val rows = Sketches.q114HistP90(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Number]("p90_chars").longValue()
      val low = r.getAs[Number]("hist_p90_low").longValue()
      assert(low <= exact && exact < low + Sketches.HistBinWidth,
        s"lang ${r.getString(0)}: exact $exact outside bin [$low, ${low + Sketches.HistBinWidth})")
    }
  }

  test("priority sample: k=5 is a strict prefix of k=10, and the sample " +
       "is invariant under repartitioning") {
    val docs = Tables.documents(spark, dir)
    def sample(df: org.apache.spark.sql.DataFrame, k: Int): Map[String, Seq[Long]] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      df.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .orderBy(col("lang"), col("rk"))
        .collect()
        .map(r => (r.getAs[String]("lang"), r.getAs[Number]("doc_id").longValue()))
        .groupBy(_._1).map { case (l, vs) => l -> vs.map(_._2).toSeq }
    }
    val k5 = sample(docs, 5)
    val k10 = sample(docs, 10)
    k5.foreach { case (lang, ids) =>
      assert(k10(lang).take(5) == ids,
        s"k=5 sample not a prefix of k=10 for $lang")
    }
    // priorities are a pure function of doc_id: physical layout is irrelevant
    val reshuffled = sample(docs.repartition(13, col("n_chars")), 5)
    assert(reshuffled == k5)
  }

  test("q105 exact-substring: verbatim copies share ALL windows, unique " +
       "text shares none, and partial overlap counts exactly the " +
       "overlapping span's windows") {
    import spark.implicits._
    import graft.operators.TextOps
    val w = TextOps.SubstrWindow
    val common = (1 to 15).map(i => s"tok$i").mkString(" ") // 15 shared tokens
    val docs = Seq(
      (1L, common + " tailA1 tailA2"),                // shares 15-token prefix
      (2L, common + " tailB1 tailB2"),                // with doc 1
      (3L, (1 to 20).map(i => s"uniq$i").mkString(" ")) // no overlap
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft_substr").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.q105SubstrShared(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // docs 1/2: 17 tokens → 8 windows each; windows fully inside the
    // 15-token common prefix = 15-10+1 = 6 are shared, the 2 straddling
    // the distinct tails are not
    assert(out(1L) == ((8L, 6L)), s"doc1: ${out(1L)}")
    assert(out(2L) == ((8L, 6L)), s"doc2: ${out(2L)}")
    assert(out(3L) == ((20L - w + 1, 0L)), s"doc3: ${out(3L)}")
  }

  test("q106 cut splices EXACTLY the merged shared span and keeps the tails") {
    import spark.implicits._
    import graft.operators.TextOps
    val common = (1 to 15).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, common + " tailA1 tailA2"),
      (2L, common + " tailB1 tailB2"),
      (3L, (1 to 20).map(i => s"uniq$i").mkString(" "))
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft_cut").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.q106SubstrCut(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // shared windows at positions 1..6 cover tokens [1,15] as ONE island;
    // only the two tail tokens survive (lowercased — the tokenizer contract)
    assert(out(1L) == ((17L, 15L, "taila1 taila2")), s"doc1: ${out(1L)}")
    assert(out(2L) == ((17L, 15L, "tailb1 tailb2")), s"doc2: ${out(2L)}")
    assert(out(3L)._2 == 0L && out(3L)._3.startsWith("uniq1 "), s"doc3: ${out(3L)}")
  }

  test("q103 plans as WindowGroupLimit (per-partition k-heaps, no full sort " +
       "of the corpus through one task)") {
    val df = Corpus.q103PrioritySample(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit in q103 plan:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-partition exchange in q103 plan:\n$plan")
  }
}
