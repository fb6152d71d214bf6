package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 pins: the q109 semantic-dedup cell-size grid (exactness +
  * non-vacuous engagement), the text-index build's stats-from-TF single
  * pass, the q264 build/serve bench split, and the function-registry
  * re-entry guard. */
class Round12Spec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q109 grid sub-bucketing is EXACT: a forced multi-block grid " +
       "returns the r11 single-block answer row-for-row, and the fixture " +
       "makes the pin non-vacuous") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val maxCell = e.groupBy(col("label")).count()
      .agg(max(col("count"))).first().getLong(0)
    // non-vacuous: under knob=16 at least one label must split (B >= 2)
    assert(maxCell > 16,
      s"fixture max label cell $maxCell <= 16 — the grid test would not engage")
    // the documented fixture envelope: cells stay far below the default
    // knob (8192), so the production default runs the degenerate 1x1 grid
    assert(maxCell < operators.Dedup.semMaxCell(spark),
      s"fixture cell $maxCell exceeds the default maxCell — update the note")
    spark.conf.set("spark.graft.semdedup.maxCell", "100000")
    val direct = operators.Dedup.q109SemanticDedup(spark, dir)
      .collect().map(_.toSeq).toSeq
    spark.conf.set("spark.graft.semdedup.maxCell", "16")
    val gridded = operators.Dedup.q109SemanticDedup(spark, dir)
      .collect().map(_.toSeq).toSeq
    spark.conf.unset("spark.graft.semdedup.maxCell")
    assert(direct.nonEmpty && gridded === direct)
  }

  test("text-index build derives stats from the checkpointed TF — and " +
       "the committed stats equal a recomputation from the written store") {
    val store = operators.Retrieval.buildTextIndex(spark, dir)
    val st = spark.read.parquet(s"$store/stats").first()
    val re = spark.read.parquet(s"$store/postings")
      .groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
      .first()
    assert(st.getLong(0) === re.getLong(0) && st.getLong(1) === re.getLong(1))
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(st.getLong(0) === nDocs)
  }

  test("q264 serve leg answers from the EXISTING store and enumerates " +
       "q264 (and therefore q150) row-for-row") {
    operators.Retrieval.q264BuildLeg(spark, dir).collect(): Unit
    val served = operators.Retrieval.q264ServeLeg(spark, dir)
    // the serve leg against a pre-built store must not rebuild: its plan
    // reads parquet only — no tokenizer anywhere
    val plan = served.queryExecution.optimizedPlan.toString
    assert(!plan.contains("split("),
      s"serve leg re-tokenizes the corpus:\n$plan")
    val rows = served.collect().map(_.toSeq).toSeq
    val full = operators.Retrieval.q264TextIndexQuery(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(rows.nonEmpty && rows === full)
  }

  test("every GraftFunctions entry resolves and KeysetBoundRule runs") {
    // on the shared GraftSession session: the table is registered once,
    // by GraftExtensions, and the optimizer carries the keyset rule
    val missing = graft.functions.GraftFunctions.all.map(_._1)
      .filterNot(spark.sessionState.functionRegistry.functionExists)
    assert(missing.isEmpty, s"unregistered: $missing")
    val d = spark.sql("SELECT graft_dot(array(1.0D,2.0D), array(3.0D,4.0D))")
    assert(d.first().getDouble(0) === 11.0)
    val qe = d.queryExecution
    qe.optimizedPlan
    assert(qe.tracker.rules.contains(graft.plans.KeysetBoundRule.ruleName))
  }
}
