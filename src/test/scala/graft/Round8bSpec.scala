package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 property pins for the new operator batch: the q242 S-curve
  * must behave like the analytic collision curve it claims to be, the
  * q245 plan must actually repair the overfull lists it targets, the
  * q248 packer must respect its budget and rank-prefix contract, and
  * q237's pHash must be invariant to the encoding codec (the property
  * that makes perceptual hashing useful at all). */
class Round8bSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q242's fixed-point S-curve is monotone in s with exact endpoints " +
       "per banding config") {
    val rows = operators.Dedup.q242LshBandPlanner(spark, dir)
      .select("n_bands", "n_rows", "bucket_pct", "p_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(t => (t._1, t._2)).foreach { case ((b, r), g) =>
      val byS = g.sortBy(_._3)
      // monotone non-decreasing in the similarity bucket
      byS.sliding(2).foreach {
        case Array((_, _, s1, p1), (_, _, s2, p2)) =>
          assert(p1 <= p2, s"p not monotone for ($b,$r) at $s1->$s2")
        case _ =>
      }
      // exact endpoints where the grid observed them
      byS.find(_._3 == 0L).foreach(t => assert(t._4 == 0L,
        s"p(0) != 0 for ($b,$r)"))
      byS.find(_._3 == 100L).foreach(t => assert(t._4 == 1000000L,
        s"p(1) != 1e6 for ($b,$r)"))
    }
  }

  test("q245's plan brings every overfull list exactly to the cap " +
       "(single-round contract)") {
    val e = Tables.embeddings(spark, dir)
    val st = e.agg(count(lit(1)), countDistinct(col("label"))).first()
    val cap = (21L * st.getLong(0)) / (20L * st.getLong(1)) + 1L
    val sizes = e.groupBy(col("label")).agg(count(lit(1)).as("sz"))
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val plan = operators.Similarity.q245IvfRebalance(spark, dir)
      .select("vec_id", "from_label", "to_label").collect()
    val movesOut = plan.groupBy(_.getLong(1)).view.mapValues(_.length.toLong)
    // every overfull list loses exactly sz - cap members; none other moves
    sizes.foreach { case (label, sz) =>
      val out = movesOut.getOrElse(label, 0L)
      if (sz > cap) assert(out == sz - cap,
        s"label $label: sz=$sz cap=$cap moved=$out")
      else assert(out == 0L, s"balanced label $label moved $out")
    }
    // a move never targets the list it leaves
    assert(plan.forall(r => r.getLong(1) != r.getLong(2)))
  }

  test("q248 packs a rank-prefix within the token budget") {
    val rows = operators.Retrieval.q248ContextPack(spark, dir)
      .select("query_id", "rank", "n_tok", "cum_tok").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, g) =>
      val byRank = g.sortBy(_._2)
      // contiguous rank prefix starting at 1
      assert(byRank.map(_._2).toSeq == (1L to byRank.length).toSeq,
        s"query $q: packed ranks not a prefix")
      // cumsum consistent and within budget
      var run = 0L
      byRank.foreach { case (_, _, n, cum) =>
        run += n
        assert(cum == run, s"query $q: cum_tok mismatch")
      }
      assert(run <= operators.Retrieval.ContextBudget)
    }
  }

  test("q237 pHash is codec-invariant: the same raster through PNG and " +
       "BMP hashes identically") {
    import spark.implicits._
    // two fixed doc geometries, each encoded through BOTH lossless codecs
    val probes = Seq((7L, "png"), (7L, "bmp"), (12L, "png"), (12L, "bmp"))
    val enc = probes.map { case (id, fmt) =>
      val w = (16 + (id * 37 + 11) % 48).toInt
      val h = (16 + (id * 53 + 7) % 48).toInt
      (id, fmt, w, h, operators.Multimodal.encodeImage(id, w, h, fmt))
    }.toDF("doc_id", "fmt", "width", "height", "payload")
    val hashes = operators.Multimodal.phashOf(enc).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val byDoc = hashes.groupBy(_._1)
    assert(byDoc.size == 2)
    byDoc.foreach { case (id, g) =>
      assert(g.map(_._3).distinct.length == 1,
        s"doc $id: pHash differs across codecs")
    }
    // and distinct rasters hash differently (the hash carries signal)
    assert(byDoc(7L).head._3 != byDoc(12L).head._3)
  }
}
