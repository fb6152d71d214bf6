package graft

import graft.operators.{Bpe, Pii}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 property tests: the BPE merge-pass fixpoint claim (q146), PII
  * detector specificity / redaction completeness and idempotence
  * (q144/q145), and the one-exchange plan shape of the PII aggregates. */
class Round5Spec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  // ---- q146 BPE ----------------------------------------------------------

  test("q146 six-pass merge replacement is a fixpoint: a seventh pass " +
       "changes no word at any of the 8 rounds") {
    val merges = Bpe.q146BpeMerges(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(2)))
    assert(merges.length === 8)
    var vocab = Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")).between(1, Bpe.MaxWord))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(regexp_replace(col("w"), "(?s)(.)", "$1 ").as("sp"), col("cnt"))
      .select(trim(col("sp")).as("spaced"), col("cnt"))
    merges.foreach { case (l, r) =>
      vocab = vocab.select(Bpe.mergePass(col("spaced"), l, r).as("spaced"), col("cnt"))
      val pat = s" $l $r "
      val rep = s" $l$r "
      val seventh = replace(concat(lit(" "), col("spaced"), lit(" ")), lit(pat), lit(rep))
      val changed = vocab
        .filter(trim(seventh) =!= col("spaced")).count()
      assert(changed === 0L, s"merge ($l,$r) not at fixpoint after 6 passes")
    }
  }

  test("q146 merged symbol sequences still concatenate back to the " +
       "original words (merging never loses or reorders characters)") {
    val merges = Bpe.q146BpeMerges(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(2)))
    var vocab = Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")).between(1, Bpe.MaxWord))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), regexp_replace(col("w"), "(?s)(.)", "$1 ").as("sp"), col("cnt"))
      .select(col("w"), trim(col("sp")).as("spaced"), col("cnt"))
    merges.foreach { case (l, r) =>
      vocab = vocab.select(col("w"),
        Bpe.mergePass(col("spaced"), l, r).as("spaced"), col("cnt"))
    }
    val broken = vocab
      .filter(replace(col("spaced"), lit(" "), lit("")) =!= col("w")).count()
    assert(broken === 0L)
  }

  test("q147 tokenizer economics are conserved: per-source word counts " +
       "match a direct recount, and n_words <= subtokens <= chars with " +
       "strict compression overall") {
    val rows = operators.Bpe.q147BpeApply(spark, dir).collect()
    val direct = Tables.documents(spark, dir)
      .select(col("source"), explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")).between(1, operators.Bpe.MaxWord))
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (src, nw, st, ch) = (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nw === direct(src), s"word count mismatch for $src")
      assert(nw <= st && st <= ch, s"ordering violated for $src: $nw/$st/$ch")
    }
    // 8 merges must actually compress the corpus, not just the vocab
    assert(rows.map(_.getLong(2)).sum < rows.map(_.getLong(3)).sum)
  }

  // ---- q148 URL blocklist ------------------------------------------------

  test("q148 extractor is specific (zero URLs in clean text) and the " +
       "report obeys containment: blocked <= total at url and domain level") {
    val clean = Tables.documents(spark, dir).select(
      size(regexp_extract_all(col("text"), lit(operators.UrlOps.urlPat), lit(1))).as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(clean === 0L)
    operators.UrlOps.q148UrlBlocklist(spark, dir).collect().foreach { r =>
      assert(r.getLong(5) <= r.getLong(4), s"blocked_urls > total_urls: $r")
      assert(r.getLong(3) <= r.getLong(2), s"docs_blocked > docs_with_url: $r")
      assert(r.getLong(7) <= r.getLong(6), s"blocked domains > domains: $r")
    }
  }

  test("q149 funnel stages are monotone and every stage has teeth on " +
       "the fixture") {
    val n = operators.TrainPrep.q149FunnelV3(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n("1_urlgate") < n("0_all"), "URL gate dropped nothing")
    assert(n("2_redacted") > 0 && n("2_redacted") <= n("1_urlgate"))
    assert(n("3_dedup") <= n("1_urlgate"))
    assert(n("4_sample") <= n("3_dedup") && n("4_sample") > 0)
  }

  // ---- q144/q145 PII -----------------------------------------------------

  test("q144 detector is specific: zero matches of any pattern on the " +
       "clean corpus text (every hit in the report comes from the fixture)") {
    val clean = Tables.documents(spark, dir)
      .select(col("text").as("pii_text"))
    val hits = clean.select(
      (size(regexp_extract_all(col("pii_text"), lit(Pii.emailPat), lit(0)))
        + size(regexp_extract_all(col("pii_text"), lit(Pii.phonePat), lit(0)))
        + size(regexp_extract_all(col("pii_text"), lit(Pii.ipPat), lit(0)))).as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(hits === 0L)
  }

  test("q145 redaction is complete and idempotent: the redacted text " +
       "contains no residual matches, and redacting twice is identity") {
    val red = Pii.piiTable(spark, dir)
      .select(col("pii_text"), Pii.redact(col("pii_text")).as("redacted"))
    val residual = red.select(
      (size(regexp_extract_all(col("redacted"), lit(Pii.emailPat), lit(0)))
        + size(regexp_extract_all(col("redacted"), lit(Pii.phonePat), lit(0)))
        + size(regexp_extract_all(col("redacted"), lit(Pii.ipPat), lit(0)))).as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(residual === 0L)
    val notIdempotent = red
      .filter(Pii.redact(col("redacted")) =!= col("redacted")).count()
    assert(notIdempotent === 0L)
  }

  test("q144/q145 plans are one scan + the aggregate exchanges only " +
       "(no join, no window, no shuffle of text)") {
    // q145's count(DISTINCT md5) legitimately plans the two-phase distinct
    // aggregate: partial by (source, md5-hex) then final by source — both
    // partial-aggregated, both carrying 32-byte keys, never the text.
    for ((df, want) <- Seq(Pii.q144PiiScan(spark, dir) -> 1,
                           Pii.q145PiiRedact(spark, dir) -> 2)) {
      df.collect()
      // AdaptiveSparkPlan.toString renders Final AND Initial plans — count
      // exchanges in the final section only
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges === want, s"expected $want hash exchange(s):\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
        s"unexpected join in PII plan:\n$plan")
    }
  }

  // ---- q150 BM25 ---------------------------------------------------------

  test("q150 BM25 invariants: contiguous ranks within top-k, scores " +
       "nonincreasing with rank, n_hit bounded by the query's term count") {
    import graft.operators.Retrieval
    val rows = Retrieval.q150Bm25TopK(spark, dir).collect()
    assert(rows.nonEmpty)
    val termCount = Retrieval.querySet.toMap.view.mapValues(_.length).toMap
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to sorted.length.toLong),
        s"query $q ranks not contiguous from 1")
      assert(sorted.length <= Retrieval.TopK)
      val scores = sorted.map(_.getLong(4))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $q scores increase with rank: ${scores.toSeq}")
      sorted.foreach { r =>
        val hits = r.getLong(3)
        assert(hits >= 1L && hits <= termCount(q).toLong,
          s"query $q doc ${r.getLong(2)}: n_hit $hits outside [1, terms]")
      }
    }
  }

  // ---- q151 winnowing ----------------------------------------------------

  test("q151 winnowing guarantee: in every doc, the selected positions " +
       "cover every full window of W consecutive k-grams") {
    import graft.operators.Winnow
    val sel = Winnow.selected(spark, dir)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("fp_pos"))).as("ps"))
    val kgCount = Tables.documents(spark, dir)
      .select(col("doc_id"),
        (size(graft.operators.TextOps.tokens(col("text"))) - lit(Winnow.K - 1))
          .cast("long").as("m"))
      .filter(col("m") >= Winnow.W)
    val joined = kgCount.join(sel, Seq("doc_id"), "left").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val docId = r.getLong(0)
      val m = r.getLong(1)
      assert(!r.isNullAt(2), s"doc $docId has $m k-grams but no fingerprints")
      val ps = r.getSeq[Long](2)
      // first window [0, W-1] and last window [m-W, m-1] must be covered,
      // and no two consecutive selections may leave a W-window uncovered
      assert(ps.head <= (Winnow.W - 1).toLong, s"doc $docId first pick ${ps.head}")
      assert(ps.last >= m - Winnow.W, s"doc $docId last pick ${ps.last} of $m")
      ps.zip(ps.tail).foreach { case (a, b) =>
        assert(b - a <= Winnow.W.toLong,
          s"doc $docId gap $a -> $b exceeds window ${Winnow.W}")
      }
      // compression really happened: never more picks than windows
      assert(ps.length.toLong <= m - Winnow.W + 1)
    }
  }
}
