package graft

import graft.operators.{Corpus, Dedup, RangeJoin, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Round-3 additions beyond the as-of join: range join, boilerplate
  * ratio, chunking, stop-strip, incremental dedup. Oracle-checked by the
  * driver; these tests pin invariants, equivalences, and plan shapes. */
class Round3bSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("countInInterval == naive inequality join on random data") {
    import spark.implicits._
    val rnd = new Random(11)
    val anchors = (0 until 200).map(i =>
      (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong))
    val points = (0 until 600).map(_ =>
      (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong))
    // interval width 37 deliberately NOT equal to the bucket width 50
    val intervals = anchors.toDF("id", "k", "s")
      .withColumn("e", col("s") + 37L)
    val pts = points.toDF("k", "t")
    val got = RangeJoin.countInInterval(intervals, pts, "k", "id", "s", "e",
        "t", 50L, "n")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n")).toMap
    anchors.foreach { case (id, k, s) =>
      val want = points.count(p => p._1 == k && p._2 >= s && p._2 < s + 37L)
      assert(got(id) === want.toLong, s"anchor $id")
    }
    assert(got.size === anchors.size) // LEFT semantics: zero-hit anchors kept
  }

  test("q78 boilerplate: fractions in [0,1], boiler grams really frequent") {
    val rows = Corpus.q78BoilerplateRatio(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_boiler") <= r.getAs[Long]("n_grams"))
      val f = r.getAs[Double]("boiler_frac")
      assert(f >= 0.0 && f <= 1.0)
    }
    // non-degenerate on the fixture: some boilerplate, not everything
    assert(rows.exists(_.getAs[Long]("n_boiler") > 0))
    assert(rows.exists(r => r.getAs[Long]("n_boiler") < r.getAs[Long]("n_grams")))
  }

  test("q79 chunking: stride coverage and tail lengths exact; no shuffle in plan") {
    val df = Corpus.q79ChunkWindows(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // per-row fan-out only — the single exchange allowed is the final ORDER BY
    assert(!plan.contains("Exchange hashpartitioning"),
      s"chunking must not shuffle:\n$plan")
    val byDoc = df.collect().groupBy(_.getAs[Long]("doc_id"))
    val nTok = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(lower(col("text")), "\\s+")).as("n"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    byDoc.foreach { case (doc, chunks) =>
      val n = nTok(doc)
      val expected = (n + Corpus.ChunkStride - 1) / Corpus.ChunkStride
      assert(chunks.length === expected, s"doc $doc chunk count")
      chunks.sortBy(_.getAs[Long]("chunk_idx")).zipWithIndex.foreach { case (c, i) =>
        assert(c.getAs[Long]("chunk_start") === i.toLong * Corpus.ChunkStride)
        val want = math.min(Corpus.ChunkLen, n - i * Corpus.ChunkStride)
        assert(c.getAs[Long]("n_tok") === want.toLong, s"doc $doc chunk $i")
      }
    }
  }

  test("q80 stop-strip: removals consistent with corpus top-10 tokens") {
    val rows = TextOps.q80StopStrip(spark, dir).collect()
    assert(rows.nonEmpty)
    // every doc loses SOME tokens (top-10 of a 40-word vocab is dense here)
    assert(rows.count(_.getAs[Long]("n_removed") > 0) > rows.length / 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_removed") >= 0)
      assert(r.getAs[Long]("n_removed") <= r.getAs[Long]("n_tokens"))
    }
  }

  test("q81 incremental dedup: batch-only output, corpus-only matches, verified jaccard") {
    val rows = Dedup.q81IncrementalDedup(spark, dir).collect()
    val batch = Tables.documents(spark, dir)
      .filter(col("doc_id") % 5 === 4).count()
    assert(rows.length.toLong === batch) // one verdict per arrival
    rows.foreach { r =>
      assert(r.getAs[Long]("new_doc") % 5 === 4)
      if (r.getAs[String]("status") == "dup") {
        assert(r.getAs[Long]("dup_of") % 5 !== 4)
        assert(r.getAs[Double]("jaccard") >= 0.5)
      } else {
        assert(r.isNullAt(r.fieldIndex("dup_of")))
      }
    }
    // the fixture's 20-copy families guarantee both outcomes appear
    assert(rows.exists(_.getAs[String]("status") == "dup"))
    assert(rows.exists(_.getAs[String]("status") == "new"))
  }
}
