package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline over `documents`
  * (BASELINE.json north star: language-ID, quality scoring, token counting,
  * document fingerprinting).
  *
  * Portability convention shared with the DuckDB oracles: the only hash
  * primitive is `md5` (bit-identical across engines), token/shingle
  * definitions are plain regex splits, and every derived double is computed
  * with the same IEEE op sequence then `round(_, 6)` — so a 1000-executor
  * run and the single-threaded oracle agree exactly.
  *
  * All of these are embarrassingly parallel row-wise maps (no shuffle at
  * all): at 100 TB they run as one whole-stage-codegen'd scan per file
  * split, and the only cost knob is `spark.sql.files.maxPartitionBytes`.
  */
object TextOps {

  /** Whitespace tokens of the lowercased text (multiplicity preserved). */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** Distinct 3-word shingles — the dedup/fingerprint unit. Guarded for
    * short docs (Spark's `sequence(1,0)` would count DOWN, not empty). */
  def shingles3(t: Column): Column =
    when(size(t) >= 3,
      array_distinct(transform(sequence(lit(1), size(t) - 2), i =>
        concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))))
    .otherwise(typedLit(Array.empty[String]))

  /** doc_id + token array + shingle set, the shared front of every text op. */
  def tokenized(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), t.as("t"))
      .withColumn("sh", shingles3(col("t")))
  }

  // -------------------------------------------------------------------------
  // Language ID (n-gram/marker heuristic)
  // -------------------------------------------------------------------------

  /** Marker words per language; the score is the total matched character
    * mass (`length(text) - length(replace(text, marker, ''))` per marker),
    * which needs no division and is identical in any SQL dialect. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "die"),
    "es" -> Seq("el", "la", "los"),
    "fr" -> Seq("le", "et", "les"),
    "zh" -> Seq("的", "是"))

  /** `df` plus q34's prediction over its `text`: `pred_lang`, the argmax
    * of the marker scores with a fixed priority order tiebreak ('und' when
    * nothing matches), and `lang_score`, the top score. Each score and the
    * top one are columns of their own projection, computed once per row.
    * `CollapseProject` leaves the projections apart, because the argmax
    * reads each of them more than once; inlined, the `CASE` repeated all 14
    * `regexp_replace` markers per branch, and the whole-stage method grew
    * beyond Java's 64 KB limit. */
  private def withLangId(df: DataFrame): DataFrame = {
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    val scores = langMarkers.map { case (lg, ws) =>
      ws.map(w => length(padded) - length(regexp_replace(padded, s" $w ", "")))
        .reduce(_ + _).as(s"lang_score_$lg")
    }
    val maxS = col("lang_score")
    val pred = langMarkers.foldLeft(when(maxS <= 0, "und")) { case (acc, (lg, _)) =>
      acc.when(col(s"lang_score_$lg") === maxS, lg)
    }
    df.select(col("*") +: scores: _*)
      .withColumn("lang_score", greatest(langMarkers.map(m => col(s"lang_score_${m._1}")): _*))
      .withColumn("pred_lang", pred)
      .drop(langMarkers.map(m => s"lang_score_${m._1}"): _*)
  }

  /** q34 — language-ID heuristic (see [[withLangId]]). */
  def q34LangId(spark: SparkSession, dir: String): DataFrame =
    withLangId(Tables.documents(spark, dir))
      .select(col("doc_id"), col("pred_lang"), col("lang_score").cast("long").as("score"))
      .orderBy(col("doc_id"))

  /** DuckDB-side rendering of the same scores (kept next to the Spark
    * columns so the two dialects can't drift). */
  def langIdOracle: String = {
    val scores = langMarkers.map { case (lg, ws) =>
      lg -> ws.map(w => s"(length(p) - length(replace(p, ' $w ', '')))").mkString(" + ")
    }
    val maxS = s"greatest(${scores.map(_._2).mkString(", ")})"
    val cases = scores.map { case (lg, s) => s"WHEN ($s) = m THEN '$lg'" }.mkString(" ")
    s"""SELECT doc_id,
       |  CASE WHEN m <= 0 THEN 'und' $cases END AS pred_lang,
       |  CAST(m AS BIGINT) AS score
       |FROM (SELECT doc_id, p, $maxS AS m
       |      FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Quality scoring
  // -------------------------------------------------------------------------

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to")

  /** q35's integer score `round(quality · 1e6)` as a raw column over
    * (text, token-array) — lets q214 recompute the score INLINE on the
    * documents scan instead of joining the per-doc q35 relation (the
    * join-free shape that killed the corpus-sized broadcast). Must stay
    * expression-identical to [[q35QualityScore]]'s `quality` column. */
  def sQColumn(text: Column, t: Column): Column = {
    val nTok = size(t)
    val tokChars = aggregate(transform(t, x => length(x)), lit(0), (a, x) => a + x)
    val meanLen = tokChars.cast("double") / nTok.cast("double")
    val punct = length(text) - length(regexp_replace(text, "[^A-Za-z0-9 ]", ""))
    val punctRatio = punct.cast("double") / length(text).cast("double")
    val stopCnt = size(filter(t, x => x.isInCollection(stopwords)))
    val stopRatio = stopCnt.cast("double") / nTok.cast("double")
    val quality =
      round((lit(2.0) * stopRatio - lit(3.0) * punctRatio + lit(0.05) * meanLen)
        .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6).cast("double")
    // functions.round(c) ≡ SQL round(c) — HALF_UP at scale 0 on DOUBLE,
    // matching q214's original `CAST(round(quality * 1000000.0) AS BIGINT)`
    round(quality * lit(1000000.0)).cast("long")
  }

  /** q35 — quality scoring: token stats + punctuation/stopword ratios and a
    * linear quality score (no transcendentals — libm differences would break
    * cross-engine determinism). */
  def q35QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val t = col("t")
    val nTok = size(t)
    val tokChars = aggregate(transform(t, x => length(x)), lit(0), (a, x) => a + x)
    val meanLen = tokChars.cast("double") / nTok.cast("double")
    val punct = length(col("text")) -
      length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", ""))
    val punctRatio = punct.cast("double") / length(col("text")).cast("double")
    val stopCnt = size(filter(t, x => x.isInCollection(stopwords)))
    val stopRatio = stopCnt.cast("double") / nTok.cast("double")
    // Rounding goes through DECIMAL: double `round` half-cases split the
    // engines (Spark half-up vs DuckDB half-even — bit us at sf0.1 where a
    // quality value landed exactly on 0.5203125); both engines round
    // DECIMAL half-away-from-zero.
    def r6(c: Column): Column =
      round(c.cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6).cast("double")
    tokenized(spark, dir).select(
      col("doc_id"),
      nTok.cast("long").as("n_tok"),
      r6(meanLen).as("mean_tok_len"),
      r6(punctRatio).as("punct_ratio"),
      r6(stopRatio).as("stop_ratio"),
      r6(lit(2.0) * stopRatio - lit(3.0) * punctRatio + lit(0.05) * meanLen)
        .as("quality"))
      .orderBy(col("doc_id"))
  }

  def qualityOracle: String = {
    val stops = stopwords.map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id,
       |  CAST(len(t) AS BIGINT) AS n_tok,
       |  CAST(round(CAST(mean_raw AS DECIMAL(28,12)), 6) AS DOUBLE) AS mean_tok_len,
       |  CAST(round(CAST(punct_raw AS DECIMAL(28,12)), 6) AS DOUBLE) AS punct_ratio,
       |  CAST(round(CAST(stop_raw AS DECIMAL(28,12)), 6) AS DOUBLE) AS stop_ratio,
       |  CAST(round(CAST(2.0*stop_raw - 3.0*punct_raw + 0.05*mean_raw AS DECIMAL(28,12)), 6) AS DOUBLE) AS quality
       |FROM (SELECT doc_id, t,
       |    CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / CAST(len(t) AS DOUBLE) AS mean_raw,
       |    CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS punct_raw,
       |    CAST(len(list_filter(t, x -> x IN ($stops))) AS DOUBLE) / CAST(len(t) AS DOUBLE) AS stop_raw
       |  FROM (SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Token counting
  // -------------------------------------------------------------------------

  /** BPE-ish lexer: word / number / single non-space symbol. */
  val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** q36 — token counting: whitespace tokens + regex-lexer tokens + chars. */
  def q36TokenCount(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir).select(
      col("doc_id"),
      size(col("t")).cast("long").as("ws_tokens"),
      size(regexp_extract_all(lower(col("text")), lit(bpePattern), lit(0)))
        .cast("long").as("bpe_tokens"),
      length(col("text")).cast("long").as("chars"))
      .orderBy(col("doc_id"))

  def tokenCountOracle: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(lower(text), '$bpePattern')) AS BIGINT) AS bpe_tokens,
       |  CAST(length(text) AS BIGINT) AS chars
       |FROM documents ORDER BY doc_id""".stripMargin

  /** q261 — tokenizer fertility by language: BPE-ish tokens per character
    * for each PREDICTED language (q34's marker heuristic recomputed inline,
    * not joined — one `documents` scan feeding a ≤6-group aggregation, so
    * the 100 TB shape is scan + map-side partial agg, no doc_id shuffle).
    * Fertility (tokens/char) is the standard multilingual tokenizer-
    * efficiency audit: a language whose fertility_ppm is far above the
    * corpus norm is being over-segmented by the tokenizer and will burn
    * context budget (cf. the fertility tables in the BLOOM and XLM-R
    * tokenizer analyses). ppm output via the repo's integer-DIV
    * convention; the numerator routes through DECIMAL(38,0) because
    * sum(bpe_tokens)·10^6 overflows int64 at web-corpus scale. */
  def q261TokenFertility(spark: SparkSession, dir: String): DataFrame = {
    withLangId(Tables.documentsWide(spark, dir))
      .select(col("pred_lang"),
              size(regexp_extract_all(lower(col("text")), lit(bpePattern), lit(0)))
                .cast("long").as("bpe"),
              length(col("text")).cast("long").as("chars"))
      .groupBy(col("pred_lang"))
      .agg(count(lit(1)).as("docs"),
           sum(col("bpe")).as("bpe_tokens"),
           sum(col("chars")).as("chars_total"))
      .select(col("pred_lang"), col("docs"), col("bpe_tokens"), col("chars_total"),
              expr("""CAST(CAST(bpe_tokens AS DECIMAL(38,0)) * 1000000
                      DIV greatest(chars_total, 1) AS BIGINT)""").as("fertility_ppm"))
      .orderBy(col("pred_lang"))
  }

  def tokenFertilityOracle: String =
    s"""WITH pred AS ($langIdOracle)
       |SELECT p.pred_lang,
       |  CAST(count(*) AS BIGINT) AS docs,
       |  CAST(sum(len(regexp_extract_all(lower(d.text), '$bpePattern'))) AS BIGINT) AS bpe_tokens,
       |  CAST(sum(length(d.text)) AS BIGINT) AS chars_total,
       |  CAST(CAST(sum(len(regexp_extract_all(lower(d.text), '$bpePattern'))) AS HUGEINT) * 1000000
       |    // greatest(sum(length(d.text)), 1) AS BIGINT) AS fertility_ppm
       |FROM documents d JOIN pred p USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------------
  // Document fingerprinting
  // -------------------------------------------------------------------------

  /** q37 — rolling-hash-style fingerprint: min/max md5 over the shingle set
    * (the winnowing extrema) + shingle cardinality. */
  def q37Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val hashes = transform(col("sh"), s => md5(s))
    tokenized(spark, dir).select(
      col("doc_id"),
      array_min(hashes).as("fp_min"),
      array_max(hashes).as("fp_max"),
      size(col("sh")).cast("long").as("n_shingles"))
      .orderBy(col("doc_id"))
  }

  def fingerprintOracle: String =
    s"""SELECT doc_id,
       |  list_aggregate(hs, 'min') AS fp_min,
       |  list_aggregate(hs, 'max') AS fp_max,
       |  CAST(len(hs) AS BIGINT) AS n_shingles
       |FROM (SELECT doc_id, list_transform($duckShingles, s -> md5(s)) AS hs
       |      FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |            FROM documents))
       |ORDER BY doc_id""".stripMargin

  /** Exact-substring window width (tokens) for q105. */
  val SubstrWindow = 10

  /** q105 — exact-substring overlap detection (the ExactSubstr pass of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", public): for every doc, how many of its 10-token windows
    * also occur VERBATIM in some other doc. The reference algorithm is a
    * corpus suffix array; the Spark-scale shape is the windowed-hash
    * equi-join — every token position emits md5(its 10-token window), one
    * groupBy counts distinct docs per window hash, one join marks shared
    * occurrences. O(total tokens) rows through two hash shuffles of
    * fixed-width keys (the md5 replaces the ~60-char window text in the
    * exchanges); no suffix array, no global order, nothing driver-side.
    * Downstream, spans with n_shared > 0 are what an ExactSubstr cut
    * would splice out. */
  def q105SubstrShared(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsWide(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= SubstrWindow)
    val w = docs.select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - lit(SubstrWindow - 1)),
          i => md5(concat_ws(" ", slice(col("t"), i, lit(SubstrWindow)))))).as("h"))
    val df = w.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    w.join(df, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
           sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  val substrSharedOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, md5(g) AS h FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(1, len(t) - ${SubstrWindow - 2}),
       |        i -> array_to_string(t[i:i+${SubstrWindow - 1}], ' '))) AS g
       |    FROM toks WHERE len(t) >= $SubstrWindow)),
       |df AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM w GROUP BY h)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
       |       CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
       |FROM w JOIN df USING (h)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q106 — exact-substring CUT, the apply step to q105's detect (the
    * q42→q74 pattern at token level): splice every shared 10-token span
    * out of every doc. Shared window positions become intervals
    * [pos, pos+W−1]; overlapping intervals merge via the gaps-and-islands
    * window (running-max end, new island when a start clears it) — the
    * same interval algebra as sessionization, here over token offsets;
    * surviving tokens reconstruct the cleaned text (case/whitespace
    * normalized, the tokenizer's contract). Scale shape: the islands
    * window partitions by doc (bounded rows), the coverage test is a
    * per-doc range join, and the rebuild is one ordered aggregation per
    * doc — nothing global, nothing driver-side. */
  def q106SubstrCut(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = SubstrWindow
    val base = Tables.documentsWide(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
    val pos = base.select(col("doc_id"),
        posexplode(col("t")).as(Seq("i0", "tok")))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("i"), col("tok"))
    val wins = base.filter(size(col("t")) >= W)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - lit(W - 1)),
          i => struct(i.cast("long").as("pos"),
            md5(concat_ws(" ", slice(col("t"), i, lit(W)))).as("h")))).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.h").as("h"))
    val dfh = wins.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    val shared = wins.join(dfh, Seq("h")).filter(col("ndocs") > 1)
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = shared
      .withColumn("prev_max_end", max(col("pos") + lit(W - 1).cast("long"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("flag",
        when(col("prev_max_end").isNull || col("pos") > col("prev_max_end"), 1L)
          .otherwise(0L))
      .withColumn("gid", sum(col("flag")).over(byDoc))
      .groupBy(col("doc_id"), col("gid"))
      .agg(min(col("pos")).as("s"), max(col("pos") + lit(W - 1)).as("e"))
    val covered = pos.as("p")
      .join(islands.as("v"),
        col("p.doc_id") === col("v.doc_id") &&
          col("p.i").between(col("v.s"), col("v.e")))
      .select(col("p.doc_id").as("doc_id"), col("p.i").as("i"))
    val keptAgg = pos.join(covered, Seq("doc_id", "i"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("i"), col("tok")))),
            s => s.getField("tok"))).as("text_cut"))
    base.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_cut"),
        coalesce(col("text_cut"), lit("")).as("text_cut"))
      .orderBy(col("doc_id"))
  }

  val substrCutOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
       |    i -> {'i': i, 'tok': t[i]}), recursive := true)
       |  FROM toks),
       |wins AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t) - ${SubstrWindow - 2}),
       |    i -> {'pos': i, 'h': md5(array_to_string(t[i:i+${SubstrWindow - 1}], ' '))}),
       |    recursive := true)
       |  FROM toks WHERE len(t) >= $SubstrWindow),
       |dfh AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM wins GROUP BY h),
       |shared AS (
       |  SELECT wins.doc_id, wins.pos FROM wins JOIN dfh USING (h)
       |  WHERE ndocs > 1),
       |flagged AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN prev_max_end IS NULL OR pos > prev_max_end THEN 1 ELSE 0 END AS flag
       |  FROM (SELECT doc_id, pos,
       |          max(pos + ${SubstrWindow - 1}) OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
       |        FROM shared)),
       |islands AS (
       |  SELECT doc_id, gid, min(pos) AS s, max(pos + ${SubstrWindow - 1}) AS e
       |  FROM (SELECT doc_id, pos,
       |          sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
       |        FROM flagged)
       |  GROUP BY doc_id, gid),
       |kept AS (
       |  SELECT p.doc_id, p.i, p.tok FROM pos p
       |  WHERE NOT EXISTS (SELECT 1 FROM islands v
       |                    WHERE v.doc_id = p.doc_id AND p.i BETWEEN v.s AND v.e)),
       |rebuilt AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |         string_agg(tok, ' ' ORDER BY i) AS text_cut
       |  FROM kept GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
       |       CAST(len(t.t) - coalesce(r.n_kept, 0) AS BIGINT) AS n_cut,
       |       coalesce(r.text_cut, '') AS text_cut
       |FROM toks t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** DuckDB spelling of [[shingles3]] over a token list column `t`. */
  val duckShingles: String =
    "list_distinct(list_transform(range(1, greatest(len(t)-1, 1)), " +
      "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))"

  /** q69 — repetition ratio (quality gate): the fraction of a doc's word
    * trigrams that are repeats (`1 − distinct/total`) — high values flag
    * boilerplate/spam. Like the other text ops this is a pure in-row
    * column program (trigrams never explode into rows), so at 100 TB it is
    * one codegen'd scan with NO shuffle — the contrast to q67's join is
    * deliberate: repetition is per-doc, contamination is cross-doc. */
  def q69RepetitionRatio(spark: SparkSession, dir: String): DataFrame = {
    // multiplicity-preserving trigram list (shingles3 is the distinct set)
    val tri = when(size(col("t")) >= 3,
      transform(sequence(lit(1), size(col("t")) - 2), i =>
        concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1),
                  element_at(col("t"), i + 2))))
      .otherwise(typedLit(Array.empty[String]))
    Tables.documentsWide(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("tri", tri)
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(col("tri")).cast("long").as("n_trigrams"),
        size(array_distinct(col("tri"))).cast("long").as("n_distinct"),
        when(size(col("tri")) > 0,
          round((lit(1.0) - size(array_distinct(col("tri"))).cast("double") /
                 size(col("tri")).cast("double"))
            .cast(org.apache.spark.sql.types.DecimalType(28, 12)), 6)
            .cast("double"))
          .otherwise(lit(0.0)).as("rep_ratio"))
      .orderBy(col("doc_id"))
  }

  val repetitionOracle: String =
    """WITH tri AS (
      |  SELECT doc_id, len(t) AS n_tokens,
      |    CASE WHEN len(t) >= 3
      |         THEN list_transform(range(1, len(t)-1),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |         ELSE CAST([] AS VARCHAR[]) END AS tri
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
      |        FROM documents))
      |SELECT doc_id,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(len(tri) AS BIGINT) AS n_trigrams,
      |  CAST(len(list_distinct(tri)) AS BIGINT) AS n_distinct,
      |  CASE WHEN len(tri) > 0
      |       THEN CAST(round(CAST(1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) /
      |                 CAST(len(tri) AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |       ELSE 0.0 END AS rep_ratio
      |FROM tri ORDER BY doc_id""".stripMargin

  /** q80 — corpus-adaptive stop-list normalization (the cleanup pass before
    * dedup/fingerprinting): the 10 most frequent corpus tokens become the
    * stop list, and every document is re-emitted with them stripped. The
    * stop list is a computed DIMENSION — a |vocab|-keyed aggregate reduced
    * to 10 rows and collected (the q40-steps driver idiom) — so the corpus
    * pass is a shuffle-free codegen'd scan with the list inlined as a
    * literal; at 100 TB the cleanup costs one aggregate + one map. Content
    * equality rides md5 (the only cross-engine hash). */
  val StopK = 10

  def q80StopStrip(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val stop = docs
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(StopK)
      .collect().map(_.getString(0)) // 10-row dimension, driver-inlined
    val kept = filter(col("t"), x => !x.isin(stop.toSeq: _*))
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        (size(col("t")) - size(kept)).cast("long").as("n_removed"),
        md5(concat_ws(" ", kept)).as("clean_hash"))
      .orderBy(col("doc_id"))
  }

  val stopStripOracle: String =
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |             FROM documents),
       |freq AS (SELECT token, count(*) AS n
       |         FROM (SELECT unnest(t) AS token FROM tok) GROUP BY token),
       |stop AS (SELECT list(token ORDER BY n DESC, token) AS sl
       |         FROM (SELECT token, n FROM freq ORDER BY n DESC, token LIMIT $StopK)),
       |cleaned AS (
       |  SELECT doc_id, len(t) AS n_tokens,
       |    list_filter(t, x -> NOT list_contains(sl, x)) AS kept
       |  FROM tok CROSS JOIN stop)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
       |  md5(array_to_string(kept, ' ')) AS clean_hash
       |FROM cleaned ORDER BY doc_id""".stripMargin

  /** q119 — rules × LM AGREEMENT audit: mean bigram-LM score (q118)
    * among docs that pass all quality rules (q113) vs docs that fail at
    * least one. Two independent quality instruments — hand rules and a
    * corpus LM — should broadly agree; this one-row readout measures
    * whether they do on this corpus (and at 100 TB it is the cheap
    * sanity check before trusting either as the funnel gate). The
    * fixture reads 0.0334 vs 0.0334 — NO discrimination: uniform word
    * soup is exactly as LM-typical whether it passes the rules or not,
    * the honest q110/q112-style readout (on a real corpus the fail
    * cohort sits visibly lower, or one of the instruments is broken).
    * Both inputs are the library's own per-doc relations joined on the
    * PK; the means stay in exact decimal (6-dec scores sum exactly). */
  def q119RulesLmAgreement(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    qualityFlags(spark, dir).select(col("doc_id"), col("f_any"))
      .join(Corpus.lmPerDoc(spark, dir), Seq("doc_id"))
      .groupBy(col("f_any"))
      .agg(count(lit(1)).as("n_docs"),
           round((sum(col("lm6")).cast("double") / count(lit(1)).cast("double"))
                   .cast(dec), 6).cast("double").as("mean_lm"))
      .select(when(col("f_any"), lit("fail_some_rule"))
                .otherwise(lit("pass_all_rules")).as("cohort"),
              col("n_docs"), col("mean_lm"))
      .orderBy(col("cohort"))
  }

  val rulesLmAgreementOracle: String = {
    val stops = stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents),
       |stats AS (
       |  SELECT doc_id, len(t) AS n, len(array_to_string(t, '')) AS chars,
       |         len(list_filter(t, x -> x IN ($stops))) AS stops
       |  FROM tok),
       |rep AS (
       |  SELECT doc_id, max(c) AS maxc FROM (
       |    SELECT doc_id, w, count(*) AS c
       |    FROM (SELECT doc_id, unnest(t) AS w FROM tok) GROUP BY doc_id, w)
       |  GROUP BY doc_id),
       |flags AS (
       |  SELECT doc_id,
       |    ((n < 20 OR n > 80) OR (chars < 3*n OR chars > 5*n)
       |     OR (stops < 2) OR (maxc*5 > n)) AS f_any
       |  FROM stats JOIN rep USING (doc_id)),
       |occ AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
       |  FROM tok WHERE len(t) >= 2),
       |counts AS (
       |  SELECT bg, str_split(bg, ' ')[1] AS w1, count(*) AS c12
       |  FROM occ GROUP BY bg),
       |heads AS (SELECT w1, sum(c12) AS c1 FROM counts GROUP BY w1),
       |lm AS (
       |  SELECT bg,
       |    CAST(round(CAST(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)
       |         AS DECIMAL(28,12)), 6) AS DECIMAL(18,6)) AS p
       |  FROM counts JOIN heads USING (w1)),
       |s AS (
       |  SELECT doc_id,
       |    CAST(round(CAST(CAST(sum(p) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |         AS DECIMAL(28,12)), 6) AS DECIMAL(18,6)) AS lm6
       |  FROM occ JOIN lm USING (bg) GROUP BY doc_id)
       |SELECT CASE WHEN f_any THEN 'fail_some_rule' ELSE 'pass_all_rules' END AS cohort,
       |  count(*) AS n_docs,
       |  CAST(round(CAST(CAST(sum(lm6) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |       AS DECIMAL(28,12)), 6) AS DOUBLE) AS mean_lm
       |FROM flags JOIN s USING (doc_id)
       |GROUP BY f_any ORDER BY cohort""".stripMargin
  }

  /** q113 — Gopher-style quality RULE REPORT (Rae et al. 2021 §A1.1's
    * rule-filter family, public): per-rule failure counts over the
    * corpus, the release-gate dashboard a curation run reads before
    * applying a cut (q35 scores docs; this counts WHY docs would fail).
    *
    * Every rule is an INTEGER comparison (means become cross-multiplied
    * bounds: mean_word_len > 5 ⇔ chars > 5·n), so the report is
    * bit-identical on any engine with no decimal routing at all. Rules,
    * tuned to thresholds that actually split this corpus (a rule nothing
    * can fail measures nothing):
    *   - word_count:     n < 20 or n > 80         (Gopher's 50–100k, rescaled)
    *   - mean_word_len:  mean token length outside [3, 5] chars
    *   - stopwords:      fewer than 2 stopword occurrences
    *   - max_repetition: most frequent token > 20% of the doc
    *   - any:            at least one rule failed
    *
    * Scale: one pass computes the array-local stats; the repetition max
    * is a (doc_id, token) count + per-doc max — both shuffles are keyed
    * by doc_id/token, the report itself is a 5-row stack of one global
    * aggregate. */
  /** Per-doc rule flags (doc_id, f_wc, f_mwl, f_stop, f_rep, f_any) —
    * the q113 report reads counts off this relation; the q116 funnel
    * gates on `f_any`. */
  def qualityFlags(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
    val stats = base.select(
      col("doc_id"),
      size(col("t")).cast("long").as("n"),
      length(concat_ws("", col("t"))).cast("long").as("chars"),
      size(filter(col("t"), x => x.isInCollection(stopwords)))
        .cast("long").as("stops"))
    val rep = base.select(col("doc_id"), explode(col("t")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("maxc"))
    stats.join(rep, Seq("doc_id"))
      .select(
        col("doc_id"),
        (col("n") < 20 || col("n") > 80).as("f_wc"),
        (col("chars") < col("n") * 3 || col("chars") > col("n") * 5).as("f_mwl"),
        (col("stops") < 2).as("f_stop"),
        (col("maxc") * 5 > col("n")).as("f_rep"))
      .withColumn("f_any",
        col("f_wc") || col("f_mwl") || col("f_stop") || col("f_rep"))
  }

  def q113QualityRules(spark: SparkSession, dir: String): DataFrame = {
    val flags = qualityFlags(spark, dir)
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    flags.agg(count(lit(1)).as("n_docs"),
              cnt(col("f_wc")).as("c_wc"), cnt(col("f_mwl")).as("c_mwl"),
              cnt(col("f_stop")).as("c_stop"), cnt(col("f_rep")).as("c_rep"),
              cnt(col("f_any")).as("c_any"))
      .selectExpr(
        """stack(5, 'any', c_any, 'max_repetition', c_rep,
          |         'mean_word_len', c_mwl, 'stopwords', c_stop,
          |         'word_count', c_wc) AS (rule, n_fail)""".stripMargin,
        "n_docs")
      .orderBy(col("rule"))
  }

  val qualityRulesOracle: String = {
    val stops = stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents),
       |stats AS (
       |  SELECT doc_id, len(t) AS n, len(array_to_string(t, '')) AS chars,
       |         len(list_filter(t, x -> x IN ($stops))) AS stops
       |  FROM tok),
       |rep AS (
       |  SELECT doc_id, max(c) AS maxc FROM (
       |    SELECT doc_id, w, count(*) AS c
       |    FROM (SELECT doc_id, unnest(t) AS w FROM tok) GROUP BY doc_id, w)
       |  GROUP BY doc_id),
       |flags AS (
       |  SELECT (n < 20 OR n > 80) AS f_wc,
       |         (chars < 3*n OR chars > 5*n) AS f_mwl,
       |         (stops < 2) AS f_stop,
       |         (maxc*5 > n) AS f_rep
       |  FROM stats JOIN rep USING (doc_id)),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT) AS c_wc,
       |    CAST(sum(CASE WHEN f_mwl THEN 1 ELSE 0 END) AS BIGINT) AS c_mwl,
       |    CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS c_stop,
       |    CAST(sum(CASE WHEN f_rep THEN 1 ELSE 0 END) AS BIGINT) AS c_rep,
       |    CAST(sum(CASE WHEN f_wc OR f_mwl OR f_stop OR f_rep THEN 1 ELSE 0 END) AS BIGINT) AS c_any
       |  FROM flags)
       |SELECT rule, n_fail, n_docs FROM (
       |  SELECT 'any' AS rule, c_any AS n_fail, n_docs FROM agg
       |  UNION ALL SELECT 'max_repetition', c_rep, n_docs FROM agg
       |  UNION ALL SELECT 'mean_word_len', c_mwl, n_docs FROM agg
       |  UNION ALL SELECT 'stopwords', c_stop, n_docs FROM agg
       |  UNION ALL SELECT 'word_count', c_wc, n_docs FROM agg)
       |ORDER BY rule""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q163 — Gopher CHAR-COVERAGE repetition signals (Rae et al. 2021
  // Appendix A1): beside q69's trigram repeat FRACTION and q113's
  // max-token share, the Gopher filters threshold on the fraction of a
  // document's CHARACTER MASS sitting inside repeated n-grams — "chars
  // in the most frequent 2-gram" and "chars in duplicated n-grams"
  // (n = 3 here: the synthetic corpus repeats trigrams, never 5-grams —
  // q69 thresholds on the same fact).
  // Both are spelled here as POSITION-COVERAGE (union of covered token
  // positions, then the covered tokens' char mass): the naive
  // count×length product double-counts overlapping occurrences and can
  // exceed 1 on degenerate docs; coverage is the clean measure and needs
  // no clipping. Char mass = Σ token length (separators excluded) — the
  // same mass both engines compute from the shared tokenization.
  // ---------------------------------------------------------------------

  /** q163 — per-doc repetition char-coverage: the top-bigram coverage
    * (most frequent 2-gram by count, ties → min md5) and the
    * duplicated-trigram coverage (all 3-grams occurring ≥ 2× in the doc).
    *
    * Scale: every exploded relation is (doc_id, pos, 32-char hash) —
    * text never travels past the tokenizer. The top-bigram argmax is a
    * window over the PER-DOC bigram vocabulary (bounded by doc length);
    * coverage is a distinct + keyed join on (doc_id, pos); the rollup is
    * one partial-aggregated groupBy(doc_id). */
  def q163GopherCoverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val docs = Tables.documentsWide(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
    val toks = docs
      .select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
              length(col("tok")).cast("long").as("tl"))
    val tc = toks.groupBy(col("doc_id")).agg(sum(col("tl")).as("tok_chars"))
    def grams(n: Int): DataFrame = docs.filter(size(col("t")) >= n)
      .select(col("doc_id"), col("t"),
              explode(sequence(lit(0), size(col("t")) - n)).as("s"))
      .select(col("doc_id"), col("s").cast("long").as("s"),
              md5(concat_ws(" ", slice(col("t"), col("s") + 1, lit(n))))
                .as("g"))
    def coverage(occ: DataFrame, n: Int, out: String): DataFrame = occ
      .select(col("doc_id"),
              explode(sequence(col("s"), col("s") + (n - 1))).as("pos"))
      .distinct()
      .join(toks, Seq("doc_id", "pos"))
      .groupBy(col("doc_id")).agg(sum(col("tl")).as(out))
    val g2 = grams(2)
    val w2 = Window.partitionBy(col("doc_id"))
      .orderBy(col("cnt").desc, col("g"))
    val top2 = g2.groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w2))
      .filter(col("rn") === 1).select(col("doc_id"), col("g"))
    val cov2 = coverage(g2.join(top2, Seq("doc_id", "g")), 2, "top2_cov")
    val g3 = grams(3)
    val dup3 = g3.groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("doc_id"), col("g"))
    val cov3 = coverage(g3.join(dup3, Seq("doc_id", "g")), 3, "dup3_cov")
    def frac(cov: Column) =
      round((cov.cast("double") / col("tok_chars").cast("double")).cast(dec), 6)
        .cast("double")
    tc.join(cov2, Seq("doc_id"), "left").join(cov3, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tok_chars"),
        coalesce(col("top2_cov"), lit(0L)).as("top2_cov"),
        coalesce(col("dup3_cov"), lit(0L)).as("dup3_cov"))
      .withColumn("top2_frac6", frac(col("top2_cov")))
      .withColumn("dup3_frac6", frac(col("dup3_cov")))
      .orderBy(col("doc_id"))
  }

  val gopherCoverageOracle: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
      |           FROM documents),
      |tok AS (
      |  SELECT doc_id, pos - 1 AS pos, CAST(length(tk) AS BIGINT) AS tl
      |  FROM (SELECT doc_id, unnest(t) AS tk,
      |               unnest(range(1, len(t) + 1)) AS pos FROM t)),
      |tc AS (SELECT doc_id, sum(tl) AS tok_chars FROM tok GROUP BY doc_id),
      |g2 AS (
      |  SELECT doc_id, s, md5(array_to_string(list_slice(t, s+1, s+2), ' ')) AS g
      |  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 1)) AS s
      |        FROM t WHERE len(t) >= 2)),
      |top2 AS (
      |  SELECT doc_id, g FROM (
      |    SELECT doc_id, g,
      |      row_number() OVER (PARTITION BY doc_id
      |        ORDER BY count(*) DESC, g) AS rn
      |    FROM g2 GROUP BY doc_id, g)
      |  WHERE rn = 1),
      |cov2 AS (
      |  SELECT p.doc_id, sum(tk.tl) AS cov FROM (
      |    SELECT DISTINCT g2.doc_id, g2.s + d AS pos
      |    FROM g2 JOIN top2 USING (doc_id, g), generate_series(0, 1) AS gs(d)) p
      |  JOIN tok tk ON tk.doc_id = p.doc_id AND tk.pos = p.pos
      |  GROUP BY p.doc_id),
      |g3 AS (
      |  SELECT doc_id, s, md5(array_to_string(list_slice(t, s+1, s+3), ' ')) AS g
      |  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 2)) AS s
      |        FROM t WHERE len(t) >= 3)),
      |dup3 AS (SELECT doc_id, g FROM g3 GROUP BY doc_id, g HAVING count(*) >= 2),
      |cov3 AS (
      |  SELECT p.doc_id, sum(tk.tl) AS cov FROM (
      |    SELECT DISTINCT g3.doc_id, g3.s + d AS pos
      |    FROM g3 JOIN dup3 USING (doc_id, g), generate_series(0, 2) AS gs(d)) p
      |  JOIN tok tk ON tk.doc_id = p.doc_id AND tk.pos = p.pos
      |  GROUP BY p.doc_id)
      |SELECT tc.doc_id, CAST(tc.tok_chars AS BIGINT) AS tok_chars,
      |  CAST(coalesce(cov2.cov, 0) AS BIGINT) AS top2_cov,
      |  CAST(coalesce(cov3.cov, 0) AS BIGINT) AS dup3_cov,
      |  CAST(round(CAST(CAST(coalesce(cov2.cov, 0) AS DOUBLE) /
      |    CAST(tc.tok_chars AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS top2_frac6,
      |  CAST(round(CAST(CAST(coalesce(cov3.cov, 0) AS DOUBLE) /
      |    CAST(tc.tok_chars AS DOUBLE) AS DECIMAL(28,12)), 6) AS DOUBLE)
      |    AS dup3_frac6
      |FROM tc
      |LEFT JOIN cov2 ON cov2.doc_id = tc.doc_id
      |LEFT JOIN cov3 ON cov3.doc_id = tc.doc_id
      |ORDER BY tc.doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // q177 — language METADATA-CONSISTENCY audit: the confusion matrix of
  // the q34 content-derived language prediction against the corpus's
  // DECLARED `lang` column. Provenance metadata is routinely wrong at
  // crawl scale (CCNet re-derives lang from content for exactly this
  // reason); the off-diagonal mass is the "don't trust the metadata"
  // readout that decides whether a pipeline keys its per-lang quotas on
  // the declared or the detected language.
  // -------------------------------------------------------------------------

  /** q177 — (declared, predicted) confusion counts with a match flag.
    * Scale: the q34 scorer is a pure codegen'd row map; one partial-
    * aggregated groupBy over the ≤ |langs|² confusion dimension. */
  def q177LangConfusion(spark: SparkSession, dir: String): DataFrame = {
    val pred = q34LangId(spark, dir).select(col("doc_id"), col("pred_lang"))
    Tables.documentsWide(spark, dir).select(col("doc_id"), col("lang"))
      .join(pred, "doc_id")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("is_match",
        (col("lang") === col("pred_lang")).cast("long"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  val langConfusionOracle: String =
    s"""WITH pred AS ($langIdOracle)
       |SELECT lang, pred_lang, n,
       |  CAST(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END AS BIGINT) AS is_match
       |FROM (
       |  SELECT d.lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n
       |  FROM documents d JOIN pred p ON d.doc_id = p.doc_id
       |  GROUP BY d.lang, p.pred_lang)
       |ORDER BY lang, pred_lang""".stripMargin

  // -------------------------------------------------------------------------
  // q178 — length-INEQUALITY audit: the exact Gini coefficient of the
  // per-source token-length distribution. Packing efficiency, batch-pad
  // waste (q165) and truncation loss (q172) are all driven by length
  // dispersion; Gini is the standard single-number readout. Computed
  // EXACTLY from the length histogram: for a value group of count c at
  // cumulative offset b (n docs, sorted ascending), its contribution to
  // Σ(2i−n−1)·x_i is x·c·(2b + c − n) — all integer, so the sort runs
  // over the (source, distinct-length) HISTOGRAM dimension, never over
  // docs (the q167 collapse-before-window discipline).
  // -------------------------------------------------------------------------

  /** q178 — per-source n, token totals, min/max length, exact Gini ppm. */
  def q178LengthGini(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(tokens(col("text"))).cast("long")
    val hist = Tables.documents(spark, dir)
      .select(col("source"), nTok.as("len"))
      .groupBy(col("source"), col("len"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("len"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    hist
      .withColumn("b", coalesce(sum(col("c")).over(w), lit(0L)))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        sum(col("len") * col("c")).as("total_tokens"),
        min(col("len")).as("min_len"),
        max(col("len")).as("max_len"),
        sum(col("len") * col("c") * (lit(2L) * col("b") + col("c"))).as("part"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("min_len"), col("max_len"),
        expr("(1000000 * (part - n_docs * total_tokens)) DIV (n_docs * total_tokens)")
          .as("gini_ppm"))
      .orderBy(col("source"))
  }

  val lengthGiniOracle: String =
    s"""WITH hist AS (
       |  SELECT source, len, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT source,
       |      CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS len
       |    FROM documents)
       |  GROUP BY source, len),
       |ranked AS (
       |  SELECT *, coalesce(sum(c) OVER (PARTITION BY source ORDER BY len
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS b
       |  FROM hist),
       |agg AS (
       |  SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
       |    CAST(sum(len * c) AS BIGINT) AS total_tokens,
       |    CAST(min(len) AS BIGINT) AS min_len,
       |    CAST(max(len) AS BIGINT) AS max_len,
       |    CAST(sum(len * c * (2 * b + c)) AS BIGINT) AS part
       |  FROM ranked GROUP BY source)
       |SELECT source, n_docs, total_tokens, min_len, max_len,
       |  (1000000 * (part - n_docs * total_tokens))
       |    // (n_docs * total_tokens) AS gini_ppm
       |FROM agg ORDER BY source""".stripMargin

  // -------------------------------------------------------------------------
  // q186 — chance-corrected METADATA AGREEMENT (Cohen 1960 κ): collapses
  // q177's confusion matrix to the one scalar a data-quality dashboard
  // tracks — observed lang-vs-prediction agreement corrected for the
  // agreement two independent raters with these marginals would reach by
  // luck. Raw agreement flatters a skewed corpus (predict-the-majority
  // scores high); κ is the standard fix.
  //
  // Everything is exact integer arithmetic on BIGINT-safe magnitudes
  // lifted to DECIMAL(38,0)/HUGEINT for the n² products:
  //   κ_ppm = 10⁶·(n·diag − Σ_c row_c·col_c) / (n² − Σ_c row_c·col_c),
  // floored at 0 (truncating integer division of a possibly-negative
  // numerator is the one place Spark DIV — toward zero — and DuckDB // —
  // toward −∞ — disagree; a below-chance classifier reads κ = 0, which is
  // the operational meaning anyway).
  // -------------------------------------------------------------------------

  /** q186 — one-row κ readout: docs, agreeing docs, agreement ppm, chance
    * ppm, kappa ppm. The corpus collapses to the ≤|langs|²-row confusion
    * relation FIRST (q177's aggregate); everything after is arithmetic on
    * a bounded dimension. */
  def q186MetadataKappa(spark: SparkSession, dir: String): DataFrame = {
    val conf = q177LangConfusion(spark, dir)
      .select(col("lang"), col("pred_lang"), col("n"))
    // `lang = pred_lang` written as a null-safe match of non-null `lang`s:
    // the plain equality would make the optimizer infer an
    // `isnotnull(pred_lang)` filter and push it through q34's projections
    // down to the scan, inlining the whole scorer there again.
    val marg = conf.groupBy(col("lang")).agg(sum(col("n")).as("row_n"))
      .filter(col("lang").isNotNull)
      .join(conf.groupBy(col("pred_lang")).agg(sum(col("n")).as("col_n")),
            col("lang") <=> col("pred_lang"))
      .select(sum(col("row_n").cast(org.apache.spark.sql.types.DecimalType(38, 0))
        * col("col_n")).as("chance"))
    conf.agg(sum(col("n")).as("n_docs"),
        sum(when(col("lang") === col("pred_lang"), col("n")).otherwise(0L))
          .as("n_agree"))
      .crossJoin(marg) // 1-row control side
      .select(
        col("n_docs"), col("n_agree"),
        expr("(1000000 * n_agree) DIV n_docs").as("agree_ppm"),
        expr("CAST((1000000 * chance) DIV (CAST(n_docs AS DECIMAL(38,0)) * n_docs) AS BIGINT)")
          .as("chance_ppm"),
        expr("""CAST(greatest(0, (1000000 * (CAST(n_docs AS DECIMAL(38,0)) * n_agree - chance))
                   DIV (CAST(n_docs AS DECIMAL(38,0)) * n_docs - chance)) AS BIGINT)""")
          .as("kappa_ppm"))
  }

  val metadataKappaOracle: String =
    s"""WITH pred AS ($langIdOracle),
       |conf AS (
       |  SELECT d.lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n
       |  FROM documents d JOIN pred p ON d.doc_id = p.doc_id
       |  GROUP BY d.lang, p.pred_lang),
       |rowm AS (SELECT lang, sum(n) AS row_n FROM conf GROUP BY lang),
       |colm AS (SELECT pred_lang, sum(n) AS col_n FROM conf GROUP BY pred_lang),
       |chance AS (
       |  SELECT sum(CAST(r.row_n AS HUGEINT) * c.col_n) AS chance
       |  FROM rowm r JOIN colm c ON r.lang = c.pred_lang),
       |tot AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS BIGINT) AS n_agree
       |  FROM conf)
       |SELECT t.n_docs, t.n_agree,
       |  (1000000 * t.n_agree) // t.n_docs AS agree_ppm,
       |  CAST((1000000 * c.chance) // (CAST(t.n_docs AS HUGEINT) * t.n_docs) AS BIGINT)
       |    AS chance_ppm,
       |  CAST(greatest(0, (1000000 * (CAST(t.n_docs AS HUGEINT) * t.n_agree - c.chance))
       |    // (CAST(t.n_docs AS HUGEINT) * t.n_docs - c.chance)) AS BIGINT) AS kappa_ppm
       |FROM tot t CROSS JOIN chance c""".stripMargin

  // -------------------------------------------------------------------------
  // q187 — COLLOCATION mining by LOG-FREE LIFT: the top bigrams whose
  // corpus frequency exceeds what their parts' frequencies predict —
  // PMI's ranking (Church & Hanks CL'90) with the transcendental log
  // dropped: log is monotone, so ranking by the exact rational
  //   lift = P(ab) / (P(a)·P(b)) = c_ab·N² / (N_b·c_a·c_b)
  // is ranking by PMI, and the integer-ppm lift is bit-identical across
  // engines where a floating log never is. The tokenizer-phrase /
  // multi-word-expression miner (what "new york"-style merges train on).
  //
  // Scale shape: consumes the SAME bigram-TF leaf as q93/q97/q139
  // (shared under `spark.graft.shareLeaves`), collapses it to the global
  // (term, c_ab) relation, floors at MinColloc BEFORE any join (the
  // filtered relation is collocation-sized, not vocab-sized), and joins
  // it against the unigram counts on each component word. Products route
  // through DECIMAL(38,0)/HUGEINT (N² ppm-scaled exceeds int64).
  // -------------------------------------------------------------------------

  /** q187's count floor: a bigram must occur ≥ 5 times to be scored
    * (rare-pair lift is noise — the standard collocation cut). */
  val MinColloc = 5L

  /** q187 — top-20 collocations by exact integer lift ppm. */
  def q187Collocations(spark: SparkSession, dir: String): DataFrame = {
    val tf = SimJoin.bigramTf(spark, dir)
    val big = tf.groupBy(col("term")).agg(sum(col("tf")).as("c_ab"))
      .filter(col("c_ab") >= MinColloc)
    val uni = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    // 1-row control totals: all tokens / all bigram occurrences
    val tot = tf.agg(sum(col("tf")).as("n_big"))
      .crossJoin(uni.agg(sum(col("c")).as("n_uni")))
    big
      .withColumn("w1", element_at(split(col("term"), " "), 1))
      .withColumn("w2", element_at(split(col("term"), " "), 2))
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(tot)
      .select(col("term"), col("c_ab"), col("c_a"), col("c_b"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * c_ab * n_uni * n_uni)
                DIV (CAST(n_big AS DECIMAL(38,0)) * c_a * c_b) AS BIGINT)""")
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("term"))
      .limit(20)
  }

  val collocationsOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS wr
       |  FROM documents),
       |uni AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(wr) AS w FROM t) GROUP BY w),
       |tf AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS c_ab FROM (
       |    SELECT unnest([wr[i]||' '||wr[i+1] for i in range(1, len(wr))]) AS term
       |    FROM t WHERE len(wr) >= 2)
       |  GROUP BY term),
       |tot AS (
       |  SELECT (SELECT sum(c) FROM uni) AS n_uni,
       |         (SELECT sum(c_ab) FROM tf) AS n_big)
       |SELECT term, c_ab, c_a, c_b, lift_ppm FROM (
       |  SELECT b.term, b.c_ab, a.c AS c_a, w.c AS c_b,
       |    CAST((1000000::HUGEINT * b.c_ab * tot.n_uni * tot.n_uni)
       |      // (CAST(tot.n_big AS HUGEINT) * a.c * w.c) AS BIGINT) AS lift_ppm
       |  FROM tf b
       |  JOIN uni a ON a.w = split_part(b.term, ' ', 1)
       |  JOIN uni w ON w.w = split_part(b.term, ' ', 2)
       |  CROSS JOIN tot
       |  WHERE b.c_ab >= $MinColloc)
       |ORDER BY lift_ppm DESC, term LIMIT 20""".stripMargin

  // -------------------------------------------------------------------------
  // q189 — PERCENTILE length gate (outlier trimming): the distributional
  // complement of Gopher's absolute length bounds — per source, the exact
  // nearest-rank P1/P99 of token length and the trim counts a [P1, P99]
  // gate would produce. Absolute bounds (q113) encode a fixed contract;
  // percentile bounds track each source's own distribution (the "drop the
  // freak 2%" curation stage run before computing corpus statistics that
  // outliers would dominate).
  //
  // Exactness discipline = q178's: the corpus collapses to the
  // (source, distinct-length) HISTOGRAM first; the cumulative window and
  // the threshold pick run over that bounded dimension, never over docs.
  // Nearest-rank definition: P_p = smallest length whose cumulative count
  // ≥ ⌈p·n⌉, all in integers.
  // -------------------------------------------------------------------------

  /** q189 — per source: n, exact P1/P99 token-length bounds, and the
    * below/above/kept doc counts of the implied trim gate. */
  def q189PercentileGate(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("len"))
      .groupBy(col("source"), col("len")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("len"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   org.apache.spark.sql.expressions.Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
    // nearest-rank targets: ⌈n/100⌉ and ⌈99n/100⌉
    val p01 = expr("(n + 99) DIV 100")
    val p99 = expr("(99*n + 99) DIV 100")
    val bounds = cum
      .groupBy(col("source"), col("n"))
      .agg(min(when(col("cum") >= p01, col("len"))).as("p01_len"),
           min(when(col("cum") >= p99, col("len"))).as("p99_len"))
    hist.join(bounds, "source")
      .groupBy(col("source"))
      .agg(first(col("n")).as("n_docs"),
        first(col("p01_len")).as("p01_len"),
        first(col("p99_len")).as("p99_len"),
        sum(when(col("len") < col("p01_len"), col("c")).otherwise(0L))
          .as("n_below"),
        sum(when(col("len") > col("p99_len"), col("c")).otherwise(0L))
          .as("n_above"),
        sum(when(col("len") >= col("p01_len") &&
                 col("len") <= col("p99_len"), col("c")).otherwise(0L))
          .as("n_kept"))
      .orderBy(col("source"))
  }

  val percentileGateOracle: String =
    s"""WITH hist AS (
       |  SELECT source, len, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT source,
       |      CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS len
       |    FROM documents)
       |  GROUP BY source, len),
       |cum AS (
       |  SELECT *,
       |    sum(c) OVER (PARTITION BY source ORDER BY len
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(c) OVER (PARTITION BY source) AS n
       |  FROM hist),
       |bounds AS (
       |  SELECT source, n,
       |    min(CASE WHEN cum >= (n + 99) // 100 THEN len END) AS p01_len,
       |    min(CASE WHEN cum >= (99*n + 99) // 100 THEN len END) AS p99_len
       |  FROM cum GROUP BY source, n)
       |SELECT h.source, CAST(b.n AS BIGINT) AS n_docs,
       |  CAST(b.p01_len AS BIGINT) AS p01_len,
       |  CAST(b.p99_len AS BIGINT) AS p99_len,
       |  CAST(sum(CASE WHEN h.len < b.p01_len THEN h.c ELSE 0 END) AS BIGINT)
       |    AS n_below,
       |  CAST(sum(CASE WHEN h.len > b.p99_len THEN h.c ELSE 0 END) AS BIGINT)
       |    AS n_above,
       |  CAST(sum(CASE WHEN h.len >= b.p01_len AND h.len <= b.p99_len
       |           THEN h.c ELSE 0 END) AS BIGINT) AS n_kept
       |FROM hist h JOIN bounds b ON b.source = h.source
       |GROUP BY h.source, b.n, b.p01_len, b.p99_len
       |ORDER BY h.source""".stripMargin

  // -------------------------------------------------------------------------
  // q190 — SIMPSON concentration audit (log-free diversity): per source,
  // the average char-level and token-level collision probability in exact
  // ppm — Σ count² / L², the probability two random positions hold the
  // same symbol (Simpson 1949; the Rényi-2 "effective vocabulary"
  // readout). Gibberish/repetition detection that needs NO transcendental
  // entropy: a doc of one repeated char reads 10⁶; uniformly diverse text
  // reads ≈ 10⁶/|alphabet|. Complements q163's positional coverage (which
  // asks WHERE repetition sits; this asks HOW concentrated the symbol
  // distribution is). Everything is integer arithmetic — per-doc Σcnt²
  // fits int64 for any document under 3 GB.
  // -------------------------------------------------------------------------

  /** q190 — per source: docs and mean char-/token-collision ppm (each
    * doc's ppm an exact integer, averaged by truncating DIV). The corpus
    * explodes once per granularity to partial-aggregated narrow
    * (doc, symbol) relations. */
  def q190SimpsonConcentration(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsWide(spark, dir)
      .select(col("doc_id"), col("source"), lower(col("text")).as("t"))
    def collisionPpm(sym: DataFrame): DataFrame =
      sym.groupBy(col("doc_id"), col("s")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt") * col("cnt")).as("c2"), sum(col("cnt")).as("l"))
        .select(col("doc_id"),
                expr("(1000000 * c2) DIV (l * l)").as("ppm"))
    // length >= 1 guard: Spark's sequence(1, 0) would DESCEND ([1, 0]),
    // inventing two rows for an empty doc where DuckDB's generate_series
    // yields none; both engines then drop empty docs via the inner join
    val chars = collisionPpm(d.filter(length(col("t")) >= 1)
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, length(t)), i -> substring(t, i, 1))"))
          .as("s")))
    val toks = collisionPpm(d.select(col("doc_id"),
      explode(tokens(col("t"))).as("s")))
    d.select(col("doc_id"), col("source"))
      .join(chars.select(col("doc_id"), col("ppm").as("char_ppm")), "doc_id")
      .join(toks.select(col("doc_id"), col("ppm").as("tok_ppm")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           expr("sum(char_ppm) DIV count(1)").as("avg_char_collision_ppm"),
           expr("sum(tok_ppm) DIV count(1)").as("avg_tok_collision_ppm"),
           max(col("char_ppm")).as("max_char_collision_ppm"),
           max(col("tok_ppm")).as("max_tok_collision_ppm"))
      .orderBy(col("source"))
  }

  // -------------------------------------------------------------------------
  // q208 — LEXICAL RICHNESS audit: per-source vocabulary size, hapax
  // legomena (once-only types — the Zipf tail every tokenizer budget
  // fight is about), hapax share of vocabulary, and type-token ratio, all
  // in exact integer ppm. Complements q43 (head top-k) and q135 (coverage
  // curve) with the TAIL-side numbers: a source whose hapax share spikes
  // is OCR noise or ID-like garbage; one whose TTR collapses is template
  // spam.
  //
  // Scale: the corpus collapses to the (source, token, count) vocabulary
  // relation at the scan (partial-aggregated); everything after is a
  // |vocab|-bounded aggregate. No window, no join.
  // -------------------------------------------------------------------------

  /** q208 — per source: tokens, vocab, hapax, hapax-of-vocab ppm, TTR ppm. */
  def q208LexicalRichness(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("total_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("total_tokens"), col("vocab"), col("hapax"),
        expr("(1000000 * hapax) DIV vocab").as("hapax_ppm"),
        expr("(1000000 * vocab) DIV total_tokens").as("ttr_ppm"))
      .orderBy(col("source"))

  val lexicalRichnessOracle: String =
    """WITH v AS (
      |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT source, unnest(regexp_split_to_array(lower(text), '\s+')) AS w
      |        FROM documents)
      |  GROUP BY source, w),
      |agg AS (
      |  SELECT source, CAST(sum(c) AS BIGINT) AS total_tokens,
      |    CAST(count(*) AS BIGINT) AS vocab,
      |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
      |  FROM v GROUP BY source)
      |SELECT source, total_tokens, vocab, hapax,
      |  (1000000 * hapax) // vocab AS hapax_ppm,
      |  (1000000 * vocab) // total_tokens AS ttr_ppm
      |FROM agg ORDER BY source""".stripMargin

  // -------------------------------------------------------------------------
  // q219 — ZIPF doubling-decay profile (log-free power-law readout): for a
  // Zipf-distributed vocabulary f(r) ∝ r^−s, the ratio f(2r)/f(r) is the
  // CONSTANT 2^−s at every rank r — so reading the frequency ratio at
  // doubling ranks (1→2, 2→4, 4→8, 8→16) measures the exponent without a
  // single logarithm (the q193/q187 determinism discipline: transcendental-
  // free, exact integer ppm). Natural text sits near s ≈ 1 (ratio ≈
  // 500 000 ppm); template/bot spam flattens the head (ratio → 10⁶); ID-like
  // garbage steepens it. Complements q208 (tail: hapax/TTR) and q43 (head
  // identities) with the SHAPE of the rank-frequency curve between them.
  //
  // Scale: the corpus collapses to the (source, token, count) vocabulary at
  // the scan (partial-aggregated); the per-source rank is the two-phase
  // [[PrefixSum.partitionedRank]] with a count-derived bucket — no
  // single-partition window even when one source's vocabulary is huge. The
  // rank ≤ 16 cut happens before the tiny r↔2r self-join (≤ 16·|sources|
  // rows against 4·|sources|).
  // -------------------------------------------------------------------------

  /** q219's readout ranks: decay is measured r → 2r for each of these. */
  val ZipfRanks: Seq[Int] = Seq(1, 2, 4, 8)

  /** q219 — per (source, r ∈ {1,2,4,8}): head frequencies f_r and f_2r
    * (count desc, token asc tiebreak) and decay_ppm = 10⁶·f_2r / f_r. */
  def q219ZipfDecay(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    // bucket bounds: one tiny min/max control read (the PrefixSum idiom)
    val stats = v.agg(min(col("c")).cast("long"), max(col("c")).cast("long"))
      .collect().head
    if (stats.isNullAt(0))
      return v.select(col("source"), lit(0L).as("r"), lit(0L).as("f_r"),
        lit(0L).as("f_2r"), lit(0L).as("decay_ppm")).limit(0)
    val (mn, mx) = (stats.getLong(0), stats.getLong(1))
    val width = math.max(1L, (mx - mn) / 64 + 1)
    val bucketed = v
      .withColumn("__ord", -col("c")) // rank order = count DESC
      .withColumn("__b", expr(s"(${mx}L - CAST(c AS BIGINT)) DIV ${width}L"))
    val ranked = PrefixSum.partitionedRank(
        bucketed, "source", "__b", Seq("__ord", "w"), "rank")
      .filter(col("rank") <= 2L * ZipfRanks.max)
      .select(col("source"), col("rank"), col("c"))
    val a = ranked.filter(col("rank").isin(ZipfRanks.map(_.toLong): _*))
      .select(col("source"), col("rank").as("r"), col("c").as("f_r"))
    val b = ranked
      .select(col("source").as("source_b"), col("rank").as("rb"),
              col("c").as("f_2r"))
    a.join(b, col("source_b") === col("source") && col("rb") === col("r") * 2L)
      .select(col("source"), col("r"), col("f_r"), col("f_2r"),
        // DECIMAL(38,0)-routed (the q203 rule): f_2r is a per-source token
        // count — 10⁶·f wraps int64 silently in Spark past ~9e12 tokens
        // while DuckDB errors, exactly the 100 TB regime
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * f_2r)
                DIV f_r AS BIGINT)""").as("decay_ppm"))
      .orderBy(col("source"), col("r"))
  }

  val zipfDecayOracle: String = {
    val ranks = ZipfRanks.mkString(", ")
    s"""WITH v AS (
       |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT source, unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
       |        FROM documents)
       |  GROUP BY source, w),
       |r AS (
       |  SELECT source, w, c,
       |    row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rank
       |  FROM v)
       |SELECT a.source, a.rank AS r, a.c AS f_r, b.c AS f_2r,
       |  CAST((CAST(1000000 AS HUGEINT) * b.c) // a.c AS BIGINT) AS decay_ppm
       |FROM r a JOIN r b ON b.source = a.source AND b.rank = 2 * a.rank
       |WHERE a.rank IN ($ranks)
       |ORDER BY a.source, a.rank""".stripMargin
  }

  // -------------------------------------------------------------------------
  // q225 — GENERATION-LOOP detection: the max within-doc multiplicity of
  // any 4-gram — the signature of degenerate/looping text (a decoder
  // stuck in a cycle, a template stamped repeatedly). Distinct from q69
  // (repetition ratio = global token diversity: it can't tell one phrase
  // repeated 4× from four phrases repeated once) and q190 (symbol
  // concentration): a loop is a LOCAL n-gram echo, so the statistic is a
  // per-doc max over n-gram counts, not a global ratio. The synthetic
  // corpus never loops, so — the q144/q220 fixture pattern — docs at
  // doc_id % 17 == 0 get a deterministic 4×-repeated phrase appended
  // (vocabulary disjoint from the corpus); the detector scans everything.
  //
  // Scale: one explode to narrow (doc, gram-md5) rows, two partial-
  // aggregated groupBys (per-doc gram counts collapse at the scan), one
  // |sources|-row rollup. Gram text never shuffles — counts run on md5
  // keys.
  // -------------------------------------------------------------------------

  /** Loop classification bar: some 4-gram echoed ≥ this many times. */
  val LoopMinRep = 3L

  /** The injected loop tail (4× the same phrase, corpus-disjoint words). */
  def loopTail(d: Column): Column =
    when(d % 17 === 0, lit(" spin cycle alpha beta" * 4)).otherwise("")

  /** SQL twin — one line (the stripMargin-embedding rule). */
  val loopTailSql: String =
    "CASE WHEN doc_id % 17 = 0 THEN repeat(' spin cycle alpha beta', 4) ELSE '' END"

  /** q225 — per source: docs, looping docs (max echo ≥ 3), the worst echo
    * depth, and mean per-doc loop intensity ppm (10⁶·(max_rep−1)/n_grams). */
  def q225LoopDetect(spark: SparkSession, dir: String): DataFrame = {
    // `t` is PROJECTED before the gram lambda: an inline `split(...)`
    // inside transform/element_at is re-evaluated per lambda element
    // (no common-subexpression elimination across HOF bodies — measured
    // 7× on this query's first cut)
    val d = Tables.documentsWide(spark, dir)
      .select(col("doc_id"), col("source"),
        split(lower(concat(col("text"), loopTail(col("doc_id")))), "\\s+")
          .as("t"))
    val t = col("t")
    val grams = d.select(col("doc_id"), col("source"),
      explode(when(size(t) >= 4,
        transform(sequence(lit(1), size(t) - 3), i =>
          md5(concat_ws(" ", element_at(t, i), element_at(t, i + 1),
                        element_at(t, i + 2), element_at(t, i + 3)))))
        .otherwise(typedLit(Array.empty[String]))).as("g"))
    val perDoc = grams
      .groupBy(col("doc_id"), col("source"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("source"))
      .agg(max(col("c")).as("max_rep"), sum(col("c")).as("n_grams"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("max_rep") >= LoopMinRep, 1L).otherwise(0L))
          .as("n_loop_docs"),
        max(col("max_rep")).as("worst_rep"),
        expr("sum((1000000 * (max_rep - 1)) DIV n_grams) DIV count(1)")
          .as("avg_loop_ppm"))
      .orderBy(col("source"))
  }

  val loopDetectOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    regexp_split_to_array(lower(text || $loopTailSql), '\\s+') AS t
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, source,
       |    unnest([md5(array_to_string(t[i:i+3], ' '))
       |            for i in range(1, len(t) - 2)]) AS g
       |  FROM d WHERE len(t) >= 4),
       |per_doc AS (
       |  SELECT doc_id, source,
       |    CAST(max(c) AS BIGINT) AS max_rep, CAST(sum(c) AS BIGINT) AS n_grams
       |  FROM (SELECT doc_id, source, g, CAST(count(*) AS BIGINT) AS c
       |        FROM grams GROUP BY doc_id, source, g)
       |  GROUP BY doc_id, source)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN max_rep >= $LoopMinRep THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_loop_docs,
       |  CAST(max(max_rep) AS BIGINT) AS worst_rep,
       |  CAST(sum((1000000 * (max_rep - 1)) // n_grams) // count(*) AS BIGINT)
       |    AS avg_loop_ppm
       |FROM per_doc GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------------------------------------
  // q232 — SKIP-GRAM collocation DECAY: q187 scores ADJACENT pairs; this
  // scores (wᵢ, wᵢ₊g) at gaps g ∈ {1,2,3} with the same log-free exact
  // lift, reading how association strength decays with distance — the
  // corpus-linguistics separation between PHRASES (lift collapses past
  // g=1: "new york") and TOPICAL pairs (lift survives across gaps) that
  // decides phrase-merge vs co-occurrence features in tokenizer/embedding
  // prep. Top-5 per gap; per-gap pair totals keep the lift a proper
  // per-distance probability ratio.
  //
  // Scale: the q187 discipline per gap — pair counts collapse at the
  // scan (partial agg), the MinColloc floor cuts BEFORE the unigram
  // joins, the rank window partitions by the 3-value gap dimension over
  // the floored (collocation-sized) relation, and every product routes
  // through DECIMAL(38,0)/HUGEINT.
  // -------------------------------------------------------------------------

  /** q232's distances. */
  val SkipGaps: Seq[Int] = Seq(1, 2, 3)

  /** q232 — (gap, rank ≤ 5, term, c_ab, lift_ppm). */
  def q232SkipgramDecay(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(split(lower(col("text")), "\\s+").as("t")) // projected: no CSE in HOFs
    val t = col("t")
    val legs = SkipGaps.map { g =>
      d.select(lit(g.toLong).as("gap"),
        explode(when(size(t) > g,
          transform(sequence(lit(1), size(t) - g), i =>
            concat_ws(" ", element_at(t, i), element_at(t, i + g))))
          .otherwise(typedLit(Array.empty[String]))).as("term"))
    }
    val pairs = legs.reduce(_ unionByName _)
      .groupBy(col("gap"), col("term")).agg(count(lit(1)).as("c_ab"))
    val floored = pairs.filter(col("c_ab") >= MinColloc)
    val totals = pairs.groupBy(col("gap")).agg(sum(col("c_ab")).as("n_big"))
    val uni = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot1 = uni.agg(sum(col("c")).as("n_uni")) // 1-row control
    val w = Window.partitionBy(col("gap"))
      .orderBy(col("lift_ppm").desc, col("term"))
    floored
      .withColumn("w1", element_at(split(col("term"), " "), 1))
      .withColumn("w2", element_at(split(col("term"), " "), 2))
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .join(broadcast(totals), "gap")
      .crossJoin(broadcast(tot1))
      .select(col("gap"), col("term"), col("c_ab"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * c_ab * n_uni * n_uni)
                DIV (CAST(n_big AS DECIMAL(38,0)) * c_a * c_b) AS BIGINT)""")
          .as("lift_ppm"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("gap"), col("rank"), col("term"), col("c_ab"), col("lift_ppm"))
      .orderBy(col("gap"), col("rank"))
  }

  val skipgramDecayOracle: String = {
    val gaps = SkipGaps.mkString(", ")
    s"""WITH toks AS (
       |  SELECT regexp_split_to_array(lower(text), '\\s+') AS t FROM documents),
       |pairs AS (
       |  SELECT gap, term, CAST(count(*) AS BIGINT) AS c_ab FROM (
       |    SELECT g.gap,
       |      unnest([t[i] || ' ' || t[i + g.gap] for i in range(1, len(t) - g.gap + 1)])
       |        AS term
       |    FROM toks, (SELECT unnest([$gaps]) AS gap) g
       |    WHERE len(t) > g.gap)
       |  GROUP BY gap, term),
       |floored AS (SELECT * FROM pairs WHERE c_ab >= $MinColloc),
       |totals AS (SELECT gap, CAST(sum(c_ab) AS BIGINT) AS n_big
       |           FROM pairs GROUP BY gap),
       |uni AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
       |    FROM documents) GROUP BY w),
       |tot1 AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
       |scored AS (
       |  SELECT f.gap, f.term, f.c_ab,
       |    CAST((CAST(1000000 AS HUGEINT) * f.c_ab * t1.n_uni * t1.n_uni)
       |      // (CAST(tg.n_big AS HUGEINT) * a.c * b.c) AS BIGINT) AS lift_ppm
       |  FROM floored f
       |  JOIN uni a ON a.w = string_split(f.term, ' ')[1]
       |  JOIN uni b ON b.w = string_split(f.term, ' ')[2]
       |  JOIN totals tg ON tg.gap = f.gap
       |  CROSS JOIN tot1 t1)
       |SELECT CAST(gap AS BIGINT) AS gap, rank, term, c_ab, lift_ppm FROM (
       |  SELECT *, row_number() OVER (PARTITION BY gap
       |    ORDER BY lift_ppm DESC, term) AS rank
       |  FROM scored)
       |WHERE rank <= 5 ORDER BY gap, rank""".stripMargin
  }

  val simpsonConcentrationOracle: String =
    """WITH d AS (SELECT doc_id, source, lower(text) AS t FROM documents),
      |cp AS (
      |  SELECT doc_id, (1000000 * sum(cnt*cnt)) // (sum(cnt)*sum(cnt)) AS ppm
      |  FROM (
      |    SELECT doc_id, s, CAST(count(*) AS BIGINT) AS cnt FROM (
      |      SELECT doc_id, unnest([substr(t, i, 1) for i in range(1, len(t) + 1)]) AS s
      |      FROM d)
      |    GROUP BY doc_id, s)
      |  GROUP BY doc_id),
      |tp AS (
      |  SELECT doc_id, (1000000 * sum(cnt*cnt)) // (sum(cnt)*sum(cnt)) AS ppm
      |  FROM (
      |    SELECT doc_id, s, CAST(count(*) AS BIGINT) AS cnt FROM (
      |      SELECT doc_id, unnest(regexp_split_to_array(t, '\s+')) AS s
      |      FROM d)
      |    GROUP BY doc_id, s)
      |  GROUP BY doc_id)
      |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(cp.ppm) // count(*) AS BIGINT) AS avg_char_collision_ppm,
      |  CAST(sum(tp.ppm) // count(*) AS BIGINT) AS avg_tok_collision_ppm,
      |  CAST(max(cp.ppm) AS BIGINT) AS max_char_collision_ppm,
      |  CAST(max(tp.ppm) AS BIGINT) AS max_tok_collision_ppm
      |FROM d JOIN cp ON cp.doc_id = d.doc_id JOIN tp ON tp.doc_id = d.doc_id
      |GROUP BY d.source ORDER BY d.source""".stripMargin
}
