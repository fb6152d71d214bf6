package graft

import graft.operators.{Multimodal, TrainPrep}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 fourth batch: audio segmentation and span-corruption replays. */
class Round6fSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q204 audio segments replay from the sample formula; both " +
       "activity classes occur; run bounds hold") {
    val got = Multimodal.q204AudioSegments(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    def sampleAt(id: Long, i: Long): Long =
      ((id * 7919L + i * 104729L) % 65536L) - 32768L
    for (id <- got.keys.take(25)) {
      val n = (64L + (id * 31L + 17L) % 192L).toInt
      val frames = (0 until n).map(i => sampleAt(id, i))
        .grouped(Multimodal.VadFrame)
        .map(f => f.map(v => v * v).sum >= Multimodal.VadThresh).toSeq
      val runs = frames.foldLeft(List(0L)) {
        case (acc, true)  => (acc.head + 1) :: acc.tail
        case (acc, false) => 0L :: acc
      }
      assert(got(id) === ((frames.size.toLong,
        frames.count(identity).toLong, runs.max)), s"clip $id")
    }
    assert(got.values.exists(v => v._2 > 0), "some active frames must exist")
    assert(got.values.exists(v => v._2 < v._1), "some silent frames must exist")
    assert(got.values.forall { case (nf, na, mr) => mr <= na && na <= nf })
  }

  test("q206 k-anonymity replays from driver-side group sizes") {
    val got = operators.Pii.q206KAnonymity(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("lang"), lower(col("text"))).collect()
      .map(r => (r.getString(0), r.getString(1),
                 r.getString(2).split("\\s+").length.toLong / 10))
    val sizes = d.groupBy(identity).view.mapValues(_.length.toLong).toMap
    for ((src, ds) <- d.groupBy(_._1)) {
      val below = ds.count(t => sizes(t) < operators.Pii.AnonK).toLong
      val groups = ds.distinct.length.toLong
      val minG = ds.map(sizes).min
      assert(got(src) === ((ds.length.toLong, groups, below, minG,
        1000000L * below / ds.length)), s"source $src")
    }
    // the audit has teeth on this corpus: some group is small somewhere
    assert(got.values.exists(_._3 > 0), "no below-K group found anywhere")
  }

  test("q207 JSONL round-trip: one line per doc on disk; a corrupted " +
       "line changes the envelope (the audit can actually fail)") {
    val direct = graft.sources.Jsonl.q207JsonlRoundTrip(spark, dir).collect()
      .map(r => r.getString(0) -> r.getString(4)).toMap
    val path = java.nio.file.Paths.get(
      Stores.path(spark, "jsonl_docs_" + dir.replaceAll("[^A-Za-z0-9]", "_")))
    val lines = java.nio.file.Files.list(path).toArray.map(_.toString)
      .filter(f => f.contains("part-") && f.endsWith(".json"))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq)
    assert(lines.length.toLong === Tables.documents(spark, dir).count(),
      "JSONL must hold exactly one line per document")
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))
    // corrupt one field and re-fingerprint: the row-fp SET must move
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    def fps(df: org.apache.spark.sql.DataFrame): Set[String] = df
      .select(md5(concat_ws("|", col("doc_id"), col("lang"),
        col("source"), md5(col("text")))))
      .collect().map(_.getString(0)).toSet
    val mangledLine =
      lines(0).replaceFirst("\"lang\":\"[a-z]+\"", "\"lang\":\"xx\"")
    assert(mangledLine != lines(0), "fixture line must contain a lang field")
    val mangled = spark.read.schema(docs.schema)
      .json(lines.toSeq.updated(0, mangledLine).toDS())
    assert(fps(mangled) != fps(docs),
      "a mangled line must change the fingerprint set")
    assert(direct.nonEmpty)
  }

  test("q208 lexical richness replays from a driver-side vocabulary") {
    val got = operators.TextOps.q208LexicalRichness(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    val docs = Tables.documents(spark, dir)
      .select(col("source"), lower(col("text"))).collect()
      .map(r => (r.getString(0), r.getString(1).split("\\s+").toSeq))
    for ((src, ds) <- docs.groupBy(_._1)) {
      val toks = ds.flatMap(_._2)
      val counts = toks.groupBy(identity).view.mapValues(_.size.toLong)
      val (tot, vocab) = (toks.size.toLong, counts.size.toLong)
      val hapax = counts.values.count(_ == 1L).toLong
      assert(got(src) === ((tot, vocab, hapax,
        1000000L * hapax / vocab, 1000000L * vocab / tot)), s"source $src")
    }
    // teeth: hapax exist somewhere, never exceed vocabulary, and at
    // least one source has a non-hapax tail too
    assert(got.values.exists(_._3 > 0))
    assert(got.values.forall(v => v._3 <= v._2))
    assert(got.values.exists(v => v._3 < v._2))
  }

  test("q205 span corruption: per-doc masking replays from the hash gate; " +
       "corrupted text is byte-exactly reconstructible") {
    val got = TrainPrep.q205SpanCorruption(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6), r.getString(7)))).toMap
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), lower(col("text"))).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split("\\s+").toSeq))
    def masked(id: Long, sid: Long): Boolean =
      "0123456789abcdef".indexOf(
        graft.functions.TextHashUtil.md5Hex(s"$id:$sid").charAt(0)) <
        TrainPrep.SpanGate
    def corrupt(id: Long, t: Seq[String]): String =
      t.zipWithIndex.flatMap { case (tok, p0) =>
        val sid = p0 / TrainPrep.SpanW
        if (!masked(id, sid)) Some(tok)
        else if (p0 % TrainPrep.SpanW == 0) Some("<X>") else None
      }.mkString(" ")
    val expected = docs.groupBy(_._2).map { case (src, ds) =>
      val corrs = ds.map(d => corrupt(d._1, d._3))
      val mtoks = ds.map(d => d._3.zipWithIndex
        .count { case (_, p0) => masked(d._1, p0 / TrainPrep.SpanW) }.toLong).sum
      val mspans = ds.map(d =>
        d._3.indices.map(_ / TrainPrep.SpanW).distinct
          .count(sid => masked(d._1, sid)).toLong).sum
      val total = ds.map(_._3.size.toLong).sum
      val md5s = corrs.map(graft.functions.TextHashUtil.md5Hex)
      src -> ((ds.size.toLong, total, mtoks, mspans,
               1000000L * mtoks / total, md5s.min, md5s.max))
    }
    assert(got === expected)
    // the gate is ~2/16 of spans → mask rate lands in a sane band
    for ((_, (_, tot, m, _, _, _, _)) <- got)
      assert(m * 100 / tot >= 3 && m * 100 / tot <= 30)
  }
}
