package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Encoding-anomaly QA over `documents` — the mojibake / control-character
  * screen a web-scale pipeline runs right after charset decoding (CCNet
  * drops docs whose decode produced U+FFFD replacement chars; Gopher-class
  * rules throw out control-character payloads).
  *
  * Three anomaly classes, each counted with the char-mass idiom the q34
  * lang-ID markers established (`length(s) - length(strip(s))` — no
  * division, identical in any dialect):
  *
  *   - **replacement chars** (U+FFFD): the tombstone a lossy decode leaves;
  *     any count > 0 means the upstream byte stream wasn't the charset it
  *     claimed.
  *   - **control chars** (`[\x00-\x08\x0b\x0c\x0e-\x1f]` — C0 minus
  *     tab/newline/CR, which legitimate text may carry): binary payloads
  *     masquerading as text.
  *   - **non-ASCII mass**: not an anomaly per se, but its ppm per source is
  *     the drift gauge that catches a crawler suddenly ingesting a
  *     different script.
  *
  * The synthetic corpus is clean ASCII, so [[encTail]] injects
  * deterministic doc_id-derived markers (the q140/q144 fixture pattern),
  * recomputed identically by the oracle; Round5bSpec pins zero hits on the
  * raw corpus (detector specificity). All injected chars are BMP
  * single-code-unit, so Spark's UTF-16 `length` and DuckDB's code-point
  * `length` agree.
  *
  * Scale: one codegen'd row-wise map + one partial-aggregated
  * `groupBy(source)` (the q144 one-exchange shape) — at 100 TB the cost is
  * the scan.
  */
object EncodingQa {

  /** C0 controls minus tab/newline/CR — Java ∩ RE2 hex-escape subset. */
  val ctrlClass = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"

  /** Everything outside ASCII. */
  val nonAsciiClass = "[^\\x00-\\x7f]"

  /** The three marker chars, as Scala escapes (source stays ASCII). NB:
    * Spark's `char()` is mod-256 (`char(65533)` is NOT U+FFFD), so the
    * Spark side interpolates the literal chars instead. */
  private val Repl = "\uFFFD"
  private val Bell = "\u0007"
  private val EAcute = "\u00e9"

  /** Injected tail: U+FFFD ×(1+d%3) on d%5, BEL ×(1+d%2) on d%11,
    * U+00E9 ×(1+d%4) on d%17 — moduli coprime to the source stride. */
  def encTail(d: Column): Column = concat(
    when(d % 5 === 0,
      expr(s"repeat('$Repl', CAST(doc_id % 3 + 1 AS INT))")).otherwise(""),
    when(d % 11 === 0,
      expr(s"repeat('$Bell', CAST(doc_id % 2 + 1 AS INT))")).otherwise(""),
    when(d % 17 === 0,
      expr(s"repeat('$EAcute', CAST(doc_id % 4 + 1 AS INT))")).otherwise(""))

  /** The SQL twin of [[encTail]] (chr: 65533 = U+FFFD, 7 = BEL,
    * 233 = U+00E9). */
  val encTailSql: String =
    """CASE WHEN doc_id % 5 = 0 THEN repeat(chr(65533), CAST(doc_id % 3 + 1 AS INT)) ELSE '' END
      || CASE WHEN doc_id % 11 = 0 THEN repeat(chr(7), CAST(doc_id % 2 + 1 AS INT)) ELSE '' END
      || CASE WHEN doc_id % 17 = 0 THEN repeat(chr(233), CAST(doc_id % 4 + 1 AS INT)) ELSE '' END"""

  def encTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"), col("source"),
      concat(col("text"), encTail(col("doc_id"))).as("enc_text"))

  /** Literal-char count via replace (all occurrences). */
  private[graft] def nChar(c: Column, ch: String): Column =
    (length(c) - length(replace(c, lit(ch), lit("")))).cast("long")

  /** Regex-class count via strip-and-diff. */
  private[graft] def nClass(c: Column, cls: String): Column =
    (length(c) - length(regexp_replace(c, cls, ""))).cast("long")

  /** The replacement char, exposed for the specificity spec. */
  private[graft] def replChar: String = Repl

  /** q153 — per-source encoding-anomaly report: docs carrying each class,
    * total char counts, and the non-ASCII drift gauge in ppm of total
    * char mass. */
  def q153EncodingQa(spark: SparkSession, dir: String): DataFrame =
    encTable(spark, dir)
      .select(col("source"),
        length(col("enc_text")).cast("long").as("n_chars"),
        nChar(col("enc_text"), Repl).as("n_repl"),
        nClass(col("enc_text"), ctrlClass).as("n_ctrl"),
        nClass(col("enc_text"), nonAsciiClass).as("n_nonascii"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_repl") > 0, 1L).otherwise(0L)).as("docs_mojibake"),
        sum(when(col("n_ctrl") > 0, 1L).otherwise(0L)).as("docs_ctrl"),
        sum(when(col("n_nonascii") > 0, 1L).otherwise(0L)).as("docs_nonascii"),
        sum(col("n_repl")).as("total_repl"),
        sum(col("n_ctrl")).as("total_ctrl"),
        sum(col("n_nonascii")).as("total_nonascii"),
        expr("CAST(sum(n_nonascii) * 1000000 DIV sum(n_chars) AS BIGINT)")
          .as("nonascii_ppm"))
      .orderBy(col("source"))

  val encodingQaOracle: String =
    """WITH enc AS (
      |  SELECT doc_id, source,
      |    text || """.stripMargin + encTailSql + "\n" +
    """    AS enc_text
      |  FROM documents),
      |cnts AS (
      |  SELECT source,
      |    CAST(length(enc_text) AS BIGINT) AS n_chars,
      |    CAST(length(enc_text) - length(replace(enc_text, chr(65533), '')) AS BIGINT) AS n_repl,
      |    CAST(length(enc_text) - length(regexp_replace(enc_text, '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g')) AS BIGINT) AS n_ctrl,
      |    CAST(length(enc_text) - length(regexp_replace(enc_text, '[^\x00-\x7f]', '', 'g')) AS BIGINT) AS n_nonascii
      |  FROM enc)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN n_repl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_mojibake,
      |  CAST(sum(CASE WHEN n_ctrl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_ctrl,
      |  CAST(sum(CASE WHEN n_nonascii > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_nonascii,
      |  CAST(sum(n_repl) AS BIGINT) AS total_repl,
      |  CAST(sum(n_ctrl) AS BIGINT) AS total_ctrl,
      |  CAST(sum(n_nonascii) AS BIGINT) AS total_nonascii,
      |  CAST(sum(n_nonascii) * 1000000 // sum(n_chars) AS BIGINT) AS nonascii_ppm
      |FROM cnts GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------------------------------------
  // q198 — Unicode NORMALIZATION audit (UAX#15 NFC): the canonical-
  // composition pre-pass every hash-based stage assumes — a decomposed
  // `e`+U+0301 and the precomposed `é` are byte-different but
  // canonically-equal text, so un-normalized corpora silently miss
  // exact-dup/shingle matches. Per source: docs needing normalization and
  // the code-point mass the composition saves. The normalizer is
  // `graft_nfc` — a native codegen'd Catalyst Expression over
  // java.text.Normalizer (locale-independent by spec); DuckDB's
  // `nfc_normalize` implements the same UAX#15 algorithm, so the audit
  // doubles as a cross-engine normalization-parity check.
  //
  // The ASCII corpus is NFC-trivially; [[nfcTail]] injects decomposed
  // sequences on doc_id%5==1 and PRECOMPOSED decoys on doc_id%5==2 (a
  // detector that can't tell them apart flags the decoys too).
  // -------------------------------------------------------------------------

  /** Decomposed markers (e+U+0301, a+U+0308) vs precomposed decoys —
    * explicit escapes so no toolchain can silently normalize the
    * source literal. */
  def nfcTail(d: Column): Column = concat(
    when(d % 5 === 1, lit(" cafe\u0301 ja\u0308ger")).otherwise(""),
    when(d % 5 === 2, lit(" caf\u00e9 j\u00e4ger")).otherwise(""))

  val nfcTailSql: String =
    "CASE WHEN doc_id % 5 = 1 THEN ' cafe' || chr(769) || ' ja' || chr(776) || 'ger' ELSE '' END" +
    " || CASE WHEN doc_id % 5 = 2 THEN ' caf' || chr(233) || ' j' || chr(228) || 'ger' ELSE '' END"

  /** q198 — per source: docs needing NFC, code points saved, and the md5
    * fingerprint of the normalized corpus (min/max — proves both engines
    * COMPOSED to identical bytes, not merely counted alike). */
  def q198NfcAudit(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        concat(col("text"), nfcTail(col("doc_id"))).as("t"))
      .select(col("doc_id"), col("source"), col("t"),
        call_function("graft_nfc", col("t")).as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nt") =!= col("t"), 1L).otherwise(0L)).as("docs_denorm"),
        sum((length(col("t")) - length(col("nt"))).cast("long"))
          .as("chars_saved"),
        min(md5(col("nt"))).as("min_nfc_md5"),
        max(md5(col("nt"))).as("max_nfc_md5"))
      .orderBy(col("source"))
  }

  val nfcAuditOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, text || $nfcTailSql AS t
       |  FROM documents),
       |n AS (SELECT doc_id, source, t, nfc_normalize(t) AS nt FROM d)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN nt <> t THEN 1 ELSE 0 END) AS BIGINT) AS docs_denorm,
       |  CAST(sum(length(t) - length(nt)) AS BIGINT) AS chars_saved,
       |  min(md5(nt)) AS min_nfc_md5,
       |  max(md5(nt)) AS max_nfc_md5
       |FROM n GROUP BY source ORDER BY source""".stripMargin
}
