package graft.plans

import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Bounded-scan keyset pagination — the reference's signature query-engine
  * feature (chainweb-data haskell-src/lib/ChainwebDb/BoundedScan.hs),
  * re-designed for Spark's execution model.
  *
  * The contract: a search request may examine at most `scanLimit` rows of the
  * cursor-ordered source and return at most `resultLimit` matches; if either
  * budget is hit, it returns a resumable cursor. Paging to completion with
  * ANY budgets must enumerate exactly the unbounded ordered result — that is
  * the correctness property (BoundedScan.hs:175-254).
  *
  * Spark-first design (SURVEY.md §7.3.2): the reference's windows run
  * `ORDER BY cursor` with no PARTITION BY, which in a naive port would
  * serialize the whole table through one task. Instead we:
  *   1. apply the keyset resume predicate FIRST — its leading-column
  *      range bound ([[KeysetBoundRule]]) prunes files/row-groups at the
  *      scan (deep pages never re-read earlier pages);
  *   2. take `limit(scanLimit)` on the cursor-ordered residue — Spark's
  *      global limit short-circuits per partition (TakeOrderedAndProject:
  *      each task produces ≤ scanLimit candidates, one small merge);
  *   3. run the scan/match numbering window on the ≤ scanLimit-row residue —
  *      a bounded single-partition window, identical semantics, bounded cost
  *      regardless of table size.
  *
  * The reference sends every page to Postgres as the same prepared query.
  * The Spark analog: cursor values and the phases' budget comparisons are
  * [[BoundLiteral]]s, so a new cursor page reuses its endpoint's compiled
  * whole-stage classes instead of compiling new ones. `LIMIT` counts stay
  * plain literals.
  */
object BoundedScan {

  /** Per-endpoint composite cursor: column name + direction (O1 —
    * Queries.hs:85-88,201-205; e.g. txs: height DESC, requestkey DESC).
    *
    * CONTRACT: the composite cursor must be UNIQUE per row (a total
    * order). Keyset resumption is strictly-after; if two rows share the
    * whole cursor tuple, any page or scan-budget boundary landing between
    * them silently drops the second — and the Bounded vs Unbounded
    * strategies stop agreeing, because their boundaries fall in different
    * places. Serving specs therefore append a PK tiebreak (block hash)
    * beyond the reference's cursor fields; BoundedScanSpec's
    * orphan-duplicate property is the regression pin. */
  final case class CursorSpec(cols: Seq[(String, Boolean)]) {
    def orderCols: Seq[Column] =
      cols.map { case (n, desc) => if (desc) col(n).desc else col(n).asc }
    def names: Seq[String] = cols.map(_._1)
  }

  /** Continuation token payload (O7 — Server.hs:239-246 `BSContinuation`):
    * resume cursor values (stringified, aligned with the spec) plus the
    * offset still to be consumed. */
  final case class Continuation(cursor: Option[Seq[String]], remainingOffset: Long)

  /** Strictly-after-cursor keyset predicate (O2 — BoundedScan.hs:256-280
    * `cursorCmp`/`tupleCmp`): row-value comparison with DESC columns
    * swapped side-wise, expanded to the composite boolean
    * `(c1 < v1) OR (c1 = v1 AND c2 < v2) OR …`. Parquet stats cannot
    * prune on the disjunction; the leading-column range bound they do
    * prune on (`c1 <= v1`) is derived from it by [[KeysetBoundRule]], which
    * every session's optimizer runs. */
  def resumePredicate(spec: CursorSpec, cursor: Seq[Column]): Column = {
    require(cursor.length == spec.cols.length, "cursor arity mismatch")
    spec.cols.zipWithIndex.map { case ((name, desc), i) =>
      val eqPrefix = spec.cols.take(i).zipWithIndex
        .map { case ((pn, _), j) => col(pn) === cursor(j) }
        .foldLeft(lit(true))(_ && _)
      val strict = if (desc) col(name) < cursor(i) else col(name) > cursor(i)
      eqPrefix && strict
    }.reduce(_ || _)
  }

  /** The cursor-ordered, cursor-resumed, scan-budgeted residue with the
    * filter-mark (P5 — BoundedScan.hs:47-58: tag `match` instead of
    * filtering, so the window can count both scanned and matched rows),
    * plus scan/match counters (the W2/W3 window pair). */
  private def budgetedScan(src: DataFrame, spec: CursorSpec, matchCol: Column,
                           scanLimit: Int, after: Option[Seq[Column]]): DataFrame = {
    val resumed = after match {
      case Some(cur) => src.filter(resumePredicate(spec, cur))
      case None      => src
    }
    // Global limit on the ordered stream = the scan budget. The subsequent
    // window is single-partition BY CONSTRUCTION bounded to scanLimit rows.
    val w = Window.orderBy(spec.orderCols: _*)
    val runningFrame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    resumed
      .withColumn("match", matchCol)
      .orderBy(spec.orderCols: _*)
      .limit(scanLimit)
      .withColumn("scan_num", row_number().over(w))
      .withColumn("found_num", count(when(col("match"), 1)).over(runningFrame))
  }

  /** OFFSET phase (W2 — BoundedScan.hs:90-119): convert a row offset into a
    * cursor within the scan budget. Returns one row: the first position
    * where the budget ran out (`scan_num = scanLimit`) or the offset was
    * satisfied (`found_num = offset`), carrying the cursor columns + both
    * counters. */
  def offsetPhase(src: DataFrame, spec: CursorSpec, matchCol: Column,
                  scanLimit: Int, offset: Long,
                  after: Option[Seq[Column]] = None): DataFrame =
    budgetedScan(src, spec, matchCol, scanLimit, after)
      .filter(col("scan_num") === BoundLiteral(scanLimit) ||
              col("found_num") === BoundLiteral(offset))
      .orderBy(col("scan_num"))
      .limit(1)
      .select((spec.names.map(col) :+ col("scan_num") :+ col("found_num")): _*)

  /** LIMIT phase (W3 — BoundedScan.hs:137-155): emit up to `resultLimit`
    * matches within the scan budget, plus a possible non-matching sentinel
    * row at `scan_num = scanLimit` to resume from. */
  def limitPhase(src: DataFrame, spec: CursorSpec, matchCol: Column,
                 scanLimit: Int, resultLimit: Int,
                 after: Option[Seq[Column]] = None): DataFrame =
    budgetedScan(src, spec, matchCol, scanLimit, after)
      .filter((col("match") && col("found_num") <= BoundLiteral(resultLimit.toLong)) ||
              col("scan_num") === BoundLiteral(scanLimit))
      .orderBy(col("scan_num"))

  /** Driver control loop (BoundedScan.hs:175-254 `performBoundedScan`):
    * ≤2 Spark actions per request — offset phase only when a continuation
    * still carries an offset, then the limit phase. Returns the page of
    * matching rows plus the continuation to resume from (None = exhausted).
    *
    * The reference wraps both phases in a REPEATABLE READ transaction; the
    * Spark analog: pass `src = Snapshots.readPinned(spark, path)` — both
    * phases then read one committed manifest's file set, immune to
    * concurrent [[graft.ingest.Upsert.merge]] appends. A [[Continuation]]
    * carries no snapshot version, so each later page pins the latest
    * commit at its own request, as the reference's per-request
    * transaction does.
    */
  def performBoundedScan(src: DataFrame, spec: CursorSpec, matchCol: Column,
                         scanLimit: Int, resultLimit: Int,
                         cont: Option[Continuation] = None)
      : (Seq[Row], Option[Continuation]) = {
    var afterStr: Option[Seq[String]] = cont.flatMap(_.cursor)
    var offset = cont.map(_.remainingOffset).getOrElse(0L)
    var budget = scanLimit
    def after: Option[Seq[Column]] = afterStr.map(litCursor(src, spec, _))

    // Offset phase: consume the remaining offset, possibly over several
    // scan-budget windows (the reference returns to the client between
    // windows; serving layers can do the same by returning early here).
    while (offset > 0 && budget > 0) {
      val row = offsetPhase(src, spec, matchCol, budget, offset, after)
        .collect().headOption
      row match {
        case None => return (Seq.empty, None) // source exhausted
        case Some(r) =>
          val scanned = r.getAs[Number]("scan_num").longValue()
          val found   = r.getAs[Number]("found_num").longValue()
          offset -= found
          budget = (budget - scanned).toInt
          afterStr = Some(stringify(spec, r))
          if (budget <= 0 && offset > 0)
            return (Seq.empty, Some(Continuation(afterStr, offset)))
      }
    }

    if (budget <= 0)
      return (Seq.empty, Some(Continuation(afterStr, 0)))

    val page = limitPhase(src, spec, matchCol, budget, resultLimit, after).collect()
    // The sentinel row (scan_num == budget) may itself be a match BEYOND the
    // result limit (found_num > resultLimit) — it is a resume cursor only,
    // never part of the emitted page; emitting it would skip the matches
    // between the limit-th match and the sentinel.
    val matches = page.filter(r =>
      r.getAs[Boolean]("match") && r.getAs[Long]("found_num") <= resultLimit)
    val budgetHit = page.exists(r => r.getAs[Int]("scan_num") == budget)
    val next: Option[Continuation] =
      if (matches.length >= resultLimit) {
        // full page: resume strictly after the last emitted match
        Some(Continuation(Some(stringify(spec, matches.last)), 0))
      } else if (budgetHit) {
        // budget exhausted mid-scan: resume from the sentinel row
        val sentinel = page.maxBy(_.getAs[Int]("scan_num"))
        Some(Continuation(Some(stringify(spec, sentinel)), 0))
      } else None // source exhausted before either budget
    (matches.toSeq, next)
  }

  /** Unbounded strategy (BoundedScan.hs:232-245 `runUnbounded`, selected by
    * the reference's `Chainweb-Execution-Strategy: Unbounded` request header,
    * Server.hs:253-261): no scan budget — the keyset-resumed (or plain
    * OFFSET) relation is match-filtered, ordered, and truncated to
    * `resultLimit` in ONE query. A continuation (cursor of the page's last
    * row, offset consumed) is returned iff the page came back full, exactly
    * the reference's `length rows < resultLimit` test — so paging to
    * completion under either strategy enumerates the same rows (ApiSpec
    * proves the pages line up).
    *
    * Spark shape: filter → TakeOrderedAndProject with offset+limit folded
    * into the single ordered take — still no full-table single-partition
    * window; "unbounded" refers to the scan BUDGET (no 50k cap, a deep
    * low-selectivity page may read the whole residue), not the plan shape. */
  def performUnbounded(src: DataFrame, spec: CursorSpec, matchCol: Column,
                       resultLimit: Int, cont: Option[Continuation] = None)
      : (Seq[Row], Option[Continuation]) = {
    val after = cont.flatMap(_.cursor).map(litCursor(src, spec, _))
    val offset = cont.map(_.remainingOffset).getOrElse(0L)
    val resumed = after match {
      case Some(cur) => src.filter(resumePredicate(spec, cur))
      case None      => src
    }
    // Dataset.offset takes an Int; a >2^31 offset would wrap negative and
    // throw from deep inside Spark. Reject it here with a client-grade
    // message (the serving layer also 400s it at token decode).
    require(offset <= Int.MaxValue,
      s"continuation offset $offset exceeds the maximum supported offset ${Int.MaxValue}")
    val page = resumed.filter(matchCol)
      .orderBy(spec.orderCols: _*)
      .offset(offset.toInt)
      .limit(resultLimit)
      .collect()
    val next =
      if (page.length < resultLimit) None
      else Some(Continuation(Some(stringify(spec, page.last)), 0))
    (page.toSeq, next)
  }

  private def stringify(spec: CursorSpec, r: Row): Seq[String] =
    spec.names.map(n => String.valueOf(r.getAs[Any](n)))

  /** Cursor values arrive as strings (token codec); re-typed against the
    * source schema so comparisons stay native (and pushdown-eligible).
    * Long and int values are cast on the driver and bound: a cast left in
    * the plan would be folded back into an inlined literal. */
  private def litCursor(src: DataFrame, spec: CursorSpec, vals: Seq[String]): Seq[Column] =
    spec.names.zip(vals).map { case (n, v) =>
      src.schema(n).dataType match {
        case t @ (LongType | IntegerType) => BoundLiteral(Cast(Literal(v), t).eval())
        case t                            => lit(v).cast(t)
      }
    }

  // --- Continuation token codec (O7 — Server.hs:486-491): url-safe base64
  //     of a tiny pipe-escaped payload; pure Scala, serving-layer concern.
  def encodeToken(c: Continuation): String = {
    val cur = c.cursor.map(_.map(esc).mkString("|")).getOrElse("")
    val payload = s"${c.remainingOffset};$cur"
    Base64.getUrlEncoder.withoutPadding
      .encodeToString(payload.getBytes(StandardCharsets.UTF_8))
  }

  def decodeToken(s: String): Continuation = {
    val payload = new String(Base64.getUrlDecoder.decode(s), StandardCharsets.UTF_8)
    val i = payload.indexOf(';')
    require(i > 0, s"malformed continuation token")
    val off = payload.substring(0, i).toLong
    val rest = payload.substring(i + 1)
    val cur = if (rest.isEmpty) None else Some(unescSplit(rest))
    Continuation(cur, off)
  }

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("|", "\\p")
  private def unescSplit(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' if i + 1 < s.length =>
          cur.append(if (s.charAt(i + 1) == 'p') '|' else s.charAt(i + 1)); i += 2
        case '|' => out += cur.result(); cur.clear(); i += 1
        case c   => cur.append(c); i += 1
      }
    }
    out += cur.result()
    out.result()
  }
}
