package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 pins: the q109 nb=1 fast path (the degenerate 1×1 grid skips
  * the explode plumbing entirely — VERDICT r12 item 7), and the q264
  * serve-leg self-heal keying on WHICH corpus built the store, not just
  * store existence (ADVICE r12). The grid-vs-ungridded EQUALITY pin
  * lives in Round12Spec (unchanged and now exercising fast-vs-grid); the
  * replica-scale equivalence audit is graft.ScaleEquiv, wired into
  * tools/measure.sh. */
class Round13Spec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q109 fast path: at the default maxCell the fixture cells are all " +
       "single-block, and the plan carries NO grid explode") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val biggest = e.groupBy(col("label")).count()
      .agg(max(col("count"))).first().getLong(0)
    assert(biggest < operators.Dedup.semMaxCell(spark),
      s"fixture cell $biggest reaches the default maxCell — fast-path " +
        "test would not engage")
    val plan = operators.Dedup.q109SemanticDedup(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Generate"),
      s"nb=1 fast path still explodes a grid:\n$plan")
    // and the forced multi-block path DOES explode (the pin is two-sided
    // so a future refactor can't silently route everything one way)
    spark.conf.set("spark.graft.semdedup.maxCell", "16")
    val gplan = operators.Dedup.q109SemanticDedup(spark, dir)
      .queryExecution.optimizedPlan.toString
    spark.conf.unset("spark.graft.semdedup.maxCell")
    assert(gplan.contains("Generate"),
      s"forced multi-block grid lost its explode:\n$gplan")
  }

  test("q264 serve leg rebuilds when the store was built from a DIFFERENT " +
       "corpus dir (stats.src_dir mismatch), instead of serving it") {
    val store = Stores.path(spark, "graft_text_index")
    // build from sf0.001, then request a serve against sf0.01: the stale
    // store must be detected and rebuilt, not silently served
    operators.Retrieval.q264BuildLeg(spark, dir).collect(): Unit
    val st0 = spark.read.parquet(s"$store/stats").first()
    assert(st0.getAs[String]("src_dir") === dir)
    val otherDir = "/root/testdata/sf0.01"
    val served = operators.Retrieval.q264ServeLeg(spark, otherDir)
      .collect().map(_.toSeq).toSeq
    val st1 = spark.read.parquet(s"$store/stats").first()
    assert(st1.getAs[String]("src_dir") === otherDir)
    assert(st1.getAs[Long]("n_docs") ===
      spark.read.parquet(s"$otherDir/documents.parquet").count())
    // and the healed serve answers the other corpus's q264 row-for-row
    val full = operators.Retrieval.q264TextIndexQuery(spark, otherDir)
      .collect().map(_.toSeq).toSeq
    assert(served.nonEmpty && served === full)
    // a store that IS current must be served as-is (no rebuild): the
    // serve plan reads parquet only — no tokenizer anywhere
    val plan = operators.Retrieval.q264ServeLeg(spark, otherDir)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("split("),
      s"current-store serve leg re-tokenizes:\n$plan")
  }
}
