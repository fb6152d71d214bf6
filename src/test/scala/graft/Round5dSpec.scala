package graft

import graft.operators.Lexicon
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 fourth-batch property tests: the lexicon filter's fixture
  * specificity (q166), a driver-side exact replay of the tie-aware
  * Mann–Whitney U statistic (q167), and the hashed classifier's
  * structural + above-chance-learning invariants (q168), plus the
  * integer-division-parity pin the Lexicon scaladoc claims. */
class Round5dSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  // ---- division-semantics pin (used by q167/q168 oracles) ---------------

  test("Spark DIV truncates toward zero, matching DuckDB //") {
    val r = spark.sql(
      "SELECT -7 DIV 2 AS a, 7 DIV 2 AS b, -7 DIV -2 AS c").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((-3L, 3L, 3L)))
  }

  // ---- q166 lexicon filter ----------------------------------------------

  test("q166 detector is silent on the raw corpus, decoys never fire, " +
       "and flagged counts equal the doc_id closed form") {
    // raw corpus (no tail): zero hits anywhere
    val rawHits = Tables.documents(spark, dir)
      .select(size(filter(graft.operators.TextOps.tokens(col("text")),
        x => x.isInCollection(Lexicon.lexicon))).as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(rawHits === 0L, "lexicon term found in the clean corpus")

    // terms actually seen are exactly the injectable six, never the decoys
    val seen = Lexicon.lexTable(spark, dir)
      .select(explode(filter(graft.operators.TextOps.tokens(col("lex_text")),
        x => x.isInCollection(Lexicon.lexicon))).as("term"))
      .distinct().collect().map(_.getString(0)).toSet
    val injectable = (0 until 3).flatMap(i => Seq(s"zzterm$i", s"qqterm$i")).toSet
    assert(seen.subsetOf(injectable))
    assert(seen.nonEmpty)

    // per-source flagged == |{d : d%7==2 or d%11==4}| recomputed naively
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expect = docs.groupBy(_._1).map { case (s, ds) =>
      s -> ds.count { case (_, d) => d % 7 == 2 || d % 11 == 4 }.toLong
    }
    val got = Lexicon.q166LexiconFilter(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got === expect)
  }

  // ---- q167 Mann–Whitney AUC --------------------------------------------

  test("q167 u2 equals a driver-side exact tie-aware rank-sum replay " +
       "per source and auc_ppm stays in [0, 1e6]") {
    val rows = Lexicon.q167QualityAuc(spark, dir).collect()
    // naive replay from the per-doc (source, label, q_ppm) relation
    val perDoc = {
      val lab = Lexicon.lexTable(spark, dir)
        .withColumn("t", graft.operators.TextOps.tokens(col("lex_text")))
        .select(col("doc_id"), col("source"),
          when(size(filter(col("t"), x => x.isInCollection(Lexicon.lexicon))) > 0,
            1L).otherwise(0L).as("label"))
      val q = graft.operators.TextOps.q35QualityScore(spark, dir)
        .select(col("doc_id"),
          expr("CAST(round(quality * 1000000.0) AS BIGINT)").as("q_ppm"))
      lab.join(q, "doc_id").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    }
    val bySrc = perDoc.groupBy(_._1)
    for (r <- rows) {
      val src = r.getString(0)
      val xs = bySrc(src).map { case (_, l, s) => (s, l) }.sortBy(_._1)
      // tie-aware: average rank per tie group, doubled to stay integral
      var rank = 0L; var u2 = 0L; var nPos = 0L
      for (grp <- xs.groupBy(_._1).toSeq.sortBy(_._1)) {
        val n = grp._2.length.toLong
        val pos = grp._2.count(_._2 == 1L).toLong
        val rank2 = 2L * rank + n + 1L
        u2 += pos * rank2; nPos += pos; rank += n
      }
      u2 -= nPos * (nPos + 1L)
      assert(r.getLong(4) === u2, s"u2 mismatch for $src")
      val auc = r.getLong(5)
      assert(auc >= 0L && auc <= 1000000L)
      assert(r.getLong(2) === nPos)
    }
  }

  // ---- q168 hashed classifier -------------------------------------------

  test("q168 confusion counts are consistent and the learned scores " +
       "associate with the label above chance") {
    val rows = Lexicon.q168HashedClassifier(spark, dir).collect()
    var (nEval, nPos, tp, fp, fn, tn) = (0L, 0L, 0L, 0L, 0L, 0L)
    for (r <- rows) {
      assert(r.getLong(3) + r.getLong(4) + r.getLong(5) + r.getLong(6)
        === r.getLong(1), "confusion counts don't partition n_eval")
      assert(r.getLong(3) + r.getLong(5) === r.getLong(2), "tp+fn != n_pos")
      nEval += r.getLong(1); nPos += r.getLong(2)
      tp += r.getLong(3); fp += r.getLong(4); fn += r.getLong(5); tn += r.getLong(6)
    }
    // every source contributes eval docs of both classes (the coprime-
    // moduli fixture guarantee)
    assert(rows.forall(r => r.getLong(2) > 0 && r.getLong(2) < r.getLong(1)))
    // above-chance: P(pred|pos) must exceed the overall flag rate — a
    // random classifier flagging the same fraction has tp ≈ n_pos·f
    val flagged = tp + fp
    assert(tp * nEval > nPos * flagged,
      s"no learned association: tp=$tp n_pos=$nPos flagged=$flagged n=$nEval")
    // recall well above half: the marker features are learnable
    assert(2L * tp > tp + fn)
  }

  // ---- q169 calibration bins ----------------------------------------------

  test("q169 bins partition the eval half, edges are exact, and the top " +
       "bin is directionally calibrated") {
    val bins = Lexicon.q169CalibrationBins(spark, dir).collect()
    val conf = Lexicon.q168HashedClassifier(spark, dir).collect()
    val nEval = conf.map(_.getLong(1)).sum
    val nPos = conf.map(_.getLong(2)).sum
    assert(bins.map(_.getLong(2)).sum === nEval, "bins don't partition n_eval")
    assert(bins.map(_.getLong(3)).sum === nPos)
    for (b <- bins) {
      assert(b.getLong(1) === b.getLong(0) * Lexicon.BinWidthPpm - Lexicon.ClampPpm)
      assert(b.getLong(4) === 1000000L * b.getLong(3) / b.getLong(2))
    }
    // directional calibration: the top bin's positive rate beats both the
    // bottom bin's and the global base rate
    val top = bins.maxBy(_.getLong(0))
    val bot = bins.minBy(_.getLong(0))
    assert(top.getLong(4) > bot.getLong(4))
    assert(top.getLong(4) > 1000000L * nPos / nEval)
  }

  // ---- q170 persisted-IVF drift -------------------------------------------

  test("q170 conserves both releases across cells and shares sum to 1e6 " +
       "within truncation") {
    val rows = graft.operators.Similarity.q170IvfDrift(spark, dir).collect()
    val nVec = Tables.embeddings(spark, dir).count()
    val nNew = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 3 === 0).count()
    assert(rows.map(_.getLong(1)).sum === nVec - nNew, "prev not conserved")
    assert(rows.map(_.getLong(2)).sum === nNew, "new not conserved")
    val k = rows.length.toLong
    val prevShare = rows.map(_.getLong(3)).sum
    val newShare = rows.map(_.getLong(4)).sum
    assert(prevShare <= 1000000L && prevShare > 1000000L - k)
    assert(newShare <= 1000000L && newShare > 1000000L - k)
    assert(rows.forall(r => r.getLong(5) === r.getLong(4) - r.getLong(3)))
    assert(rows.forall(_.getLong(1) > 0), "empty build-time cell")
  }

  // ---- q172 truncation loss ------------------------------------------------

  test("q172 matches a driver-side closed-form replay and loss shrinks " +
       "as the window grows") {
    val rows = graft.operators.TrainPrep.q172TruncationLoss(spark, dir).collect()
    val toks = Tables.documents(spark, dir)
      .select(col("source"),
        size(graft.operators.TextOps.tokens(col("text"))).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for (r <- rows) {
      val (l, src) = (r.getLong(0), r.getString(1))
      val xs = toks.filter(_._1 == src).map(_._2)
      assert(r.getLong(2) === xs.length.toLong)
      assert(r.getLong(3) === xs.count(_ > l).toLong)
      assert(r.getLong(4) === xs.sum)
      assert(r.getLong(5) === xs.map(math.min(_, l)).sum)
      assert(r.getLong(6) === r.getLong(4) - r.getLong(5))
    }
    // per source, tokens_lost is non-increasing in max_len
    rows.groupBy(_.getString(1)).foreach { case (_, rs) =>
      val byLen = rs.sortBy(_.getLong(0)).map(_.getLong(6))
      assert(byLen.zip(byLen.tail).forall { case (a, b) => a >= b })
    }
  }

  // ---- q173 fuzzy decontamination ------------------------------------------

  test("q173 catches the carved benchmark's corpus twins in every source") {
    val rows = graft.operators.Dedup.q173FuzzyDecontam(spark, dir).collect()
    val nBench = Tables.documents(spark, dir)
      .filter(col("doc_id") % graft.operators.Dedup.BenchMod === 3L).count()
    val contam = rows.map(_.getLong(2)).sum
    assert(rows.forall(r => r.getLong(2) > 0 && r.getLong(2) <= r.getLong(1)))
    // by construction every benchmark item has a >= 0.5-Jaccard twin; LSH
    // banding at J ~ S/(S+3) catches nearly all of them
    assert(contam >= (nBench * 8) / 10,
      s"fuzzy decontam missed too much: $contam of $nBench")
  }

  // ---- q174 funnel v4 ------------------------------------------------------

  test("q174 stages are monotone, the lexicon gate ties out against q166, " +
       "and the classifier gate has teeth") {
    val st = graft.operators.TrainPrep.q174FunnelV4(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st("0_all") >= st("1_lexgate") && st("1_lexgate") >= st("2_clsgate")
      && st("2_clsgate") >= st("3_dedup") && st("3_dedup") >= st("4_sample"))
    val lex = Lexicon.q166LexiconFilter(spark, dir).collect()
    assert(st("1_lexgate") === lex.map(_.getLong(4)).sum, "lexgate != q166 survivors")
    assert(st("2_clsgate") < st("1_lexgate"), "classifier gate dropped nothing")
    assert(st("4_sample") <= st("3_dedup"))
  }

  // ---- q175 RRF fusion -----------------------------------------------------

  test("q175 rrf scores replay exactly from the component ranks and " +
       "fusion genuinely re-orders at least one query's top-k") {
    val fused = graft.operators.Retrieval.q175RrfFusion(spark, dir).collect()
    for (r <- fused) {
      val (rb, ro) = (r.getLong(4), r.getLong(5))
      def leg(rk: Long): Long =
        if (rk <= graft.operators.Retrieval.RrfDepth)
          1000000000L / (graft.operators.Retrieval.RrfK + rk)
        else 0L
      assert(r.getLong(3) === leg(rb) + leg(ro), s"rrf replay mismatch: $r")
    }
    val bm = graft.operators.Retrieval.q150Bm25TopK(spark, dir).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    val fu = fused.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    assert(fu.keySet === bm.keySet)
    assert(fu.exists { case (q, ds) => bm(q) != ds },
      "fusion never re-ordered any query — the second ranker is inert")
  }

  // ---- q176 nprobe sweep ---------------------------------------------------

  test("q176 recall is monotone in the probe budget and internally " +
       "consistent") {
    val rows = graft.operators.Similarity.q176NprobeSweep(spark, dir).collect()
      .sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq === graft.operators.Similarity.ProbeSweep)
    for (r <- rows) {
      assert(r.getLong(2) <= 5L * r.getLong(1))
      assert(r.getLong(4) === 1000000L * r.getLong(2) / (5L * r.getLong(1)))
      assert(r.getLong(3) <= r.getLong(2) / r.getLong(1) + 5L)
    }
    val recalls = rows.map(_.getLong(4))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall not monotone in nprobe: ${recalls.mkString(",")}")
    assert(recalls.last > recalls.head, "the probe budget has no effect")
  }

  // ---- q177 language confusion ---------------------------------------------

  test("q177 confusion mass equals the corpus and the match flag is exact") {
    val rows = graft.operators.TextOps.q177LangConfusion(spark, dir).collect()
    val nDocs = Tables.documents(spark, dir).count()
    assert(rows.map(_.getLong(2)).sum === nDocs)
    assert(rows.forall(r =>
      (r.getLong(3) === 1L) === (r.getString(0) == r.getString(1))))
    val declared = Tables.documents(spark, dir)
      .select(col("lang")).distinct().collect().map(_.getString(0)).toSet
    assert(rows.map(_.getString(0)).toSet === declared)
  }

  // ---- q178 length Gini ----------------------------------------------------

  test("q178 equals a driver-side exact Gini replay per source") {
    val rows = graft.operators.TextOps.q178LengthGini(spark, dir).collect()
    val lens = Tables.documents(spark, dir)
      .select(col("source"),
        size(graft.operators.TextOps.tokens(col("text"))).cast("long").as("l"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for (r <- rows) {
      val xs = lens.filter(_._1 == r.getString(0)).map(_._2).sorted
      val n = xs.length.toLong
      val total = xs.sum
      val num = xs.zipWithIndex.map { case (x, i) =>
        (2L * (i + 1) - n - 1L) * x }.sum
      assert(r.getLong(1) === n)
      assert(r.getLong(2) === total)
      assert(r.getLong(3) === xs.head && r.getLong(4) === xs.last)
      assert(r.getLong(5) === 1000000L * num / (n * total), s"gini mismatch ${r.getString(0)}")
      assert(r.getLong(5) >= 0L && r.getLong(5) < 1000000L)
    }
  }

  // ---- q179 embedding hygiene ----------------------------------------------

  test("q179 reports a clean corpus with a consistent norm envelope") {
    val rows = graft.operators.Similarity.q179EmbeddingHygiene(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum === Tables.embeddings(spark, dir).count())
    for (r <- rows) {
      assert(r.getLong(2) === 0L && r.getLong(3) === 0L && r.getLong(4) === 0L,
        s"synthetic embeddings flagged dirty: $r")
      val (n, mn, mx, sm) = (r.getLong(1), r.getLong(5), r.getLong(6), r.getLong(7))
      assert(mn > 0L && mn <= mx)
      assert(sm >= n * mn && sm <= n * mx)
    }
  }

  // ---- q180 WAV round-trip -------------------------------------------------

  test("q180 parser chunk-walks past unknown chunks and fails loudly on " +
       "corrupt magic") {
    import spark.implicits._
    val one = graft.operators.Multimodal.audioTable(spark, dir)
      .filter(col("doc_id") === 7L)
    val bytes = one.select("wav").as[Array[Byte]].collect()(0)

    // inject an unknown chunk ("junk", 4 bytes) between WAVE and fmt —
    // a compliant reader must skip it and still decode identically
    val riffLen = java.nio.ByteBuffer.wrap(bytes, 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val injected = new java.io.ByteArrayOutputStream()
    injected.write(bytes, 0, 12)
    injected.write("junk".getBytes("US-ASCII"))
    injected.write(Array[Byte](4, 0, 0, 0)); injected.write(Array[Byte](1, 2, 3, 4))
    injected.write(bytes, 12, bytes.length - 12)
    val withJunk = injected.toByteArray
    java.nio.ByteBuffer.wrap(withJunk, 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(riffLen + 12)
    val parsedJunk = graft.operators.Multimodal.parseWav(
      Seq((7L, withJunk)).toDF("doc_id", "wav")).collect()(0)
    val parsedClean = graft.operators.Multimodal.parseWav(one).collect()(0)
    assert(parsedJunk.toSeq === parsedClean.toSeq,
      "unknown chunk changed the decode")

    // ODD-length unknown chunk: RIFF word-aligns chunks, so a 5-byte body
    // is followed by a pad byte not counted in len. A walker that advances
    // by len alone desynchronizes here.
    val oddInjected = new java.io.ByteArrayOutputStream()
    oddInjected.write(bytes, 0, 12)
    oddInjected.write("junk".getBytes("US-ASCII"))
    oddInjected.write(Array[Byte](5, 0, 0, 0))
    oddInjected.write(Array[Byte](1, 2, 3, 4, 5, 0)) // 5 body + 1 pad
    oddInjected.write(bytes, 12, bytes.length - 12)
    val withOdd = oddInjected.toByteArray
    java.nio.ByteBuffer.wrap(withOdd, 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(riffLen + 14)
    val parsedOdd = graft.operators.Multimodal.parseWav(
      Seq((7L, withOdd)).toDF("doc_id", "wav")).collect()(0)
    assert(parsedOdd.toSeq === parsedClean.toSeq,
      "odd-length chunk (pad byte) changed the decode")

    // corrupt magic must fail the task, not pass silently
    val bad = bytes.clone(); bad(0) = 'X'.toByte
    val ex = intercept[org.apache.spark.SparkException] {
      graft.operators.Multimodal.parseWav(
        Seq((7L, bad)).toDF("doc_id", "wav")).collect()
    }
    assert(ex.getMessage.contains("RIFF") ||
      Option(ex.getCause).exists(_.getMessage.contains("RIFF")))
  }

  // ---- q181 dataset card ---------------------------------------------------

  test("q181 ties out against the operators it composes") {
    val card = graft.operators.DataCard.q181DataCard(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val gini = graft.operators.TextOps.q178LengthGini(spark, dir).collect()
    for (g <- gini) {
      val c = card(g.getString(0))
      assert(c.getLong(1) === g.getLong(1)) // n_docs
      assert(c.getLong(2) === g.getLong(2)) // total_tokens
      assert(c.getLong(4) === g.getLong(5)) // gini_ppm
    }
    val lex = Lexicon.q166LexiconFilter(spark, dir).collect()
    for (l <- lex)
      assert(card(l.getString(0)).getLong(5) === l.getLong(2))
    val url = graft.operators.UrlOps.q148UrlBlocklist(spark, dir).collect()
    for (u <- url)
      assert(card(u.getString(0)).getLong(7) === u.getLong(3))
    assert(card.values.forall(_.getLong(6) > 0), "no PII docs in any source?")
  }

  // ---- q171 centroid drift -------------------------------------------------

  test("q171 covers every label in both releases with a bounded cosine") {
    val rows = graft.operators.Similarity.q171CentroidDrift(spark, dir).collect()
    val nVec = Tables.embeddings(spark, dir).count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum === nVec)
    assert(rows.forall(r => r.getLong(1) > 0 && r.getLong(2) > 0))
    assert(rows.forall(r => math.abs(r.getDouble(3)) <= 1.0))
  }
}
