package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event search over the INGESTED events table — the reference's
  * `/txs/events` read path (chainweb-data exec/Chainweb/Server.hs:568-619
  * `evHandler` over lib/ChainwebDb/Queries.hs:165-248 `eventsSearchSource`):
  * an AND of optional predicates (P4) under the events cursor
  * (height DESC, requestkey DESC, idx ASC — Queries.hs:201-205), fed to the
  * bounded-scan engine like every other search.
  */
object EventSearch {

  /** Queries.hs:171-188 `EventSearchParams`: every field optional, AND'd.
    *   - search: `qualname LIKE %s% OR paramtext LIKE %s%`
    *   - qualname: `qualname LIKE %q%`
    *   - param: `paramtext LIKE %p%`
    *   - modulename: `module = m` (exact)
    */
  def predicate(search: Option[String], qualname: Option[String],
                param: Option[String], modulename: Option[String]): Column =
    Seq(
      search.map(s => col("qualname").contains(s) || col("paramtext").contains(s)),
      qualname.map(q => col("qualname").contains(q)),
      param.map(p => col("paramtext").contains(p)),
      modulename.map(m => col("module") === m))
      .flatten.foldLeft(lit(true))(_ && _)

  /** Searchable source: the ingested events columns the reference's
    * EventDetail carries (Server.hs:604-617), cursor-ordered by the
    * bounded scan, height-range guarded ([[ChainTime.heightRange]]). */
  def source(spark: SparkSession, tableDir: String,
             minHeight: Option[Long] = None,
             maxHeight: Option[Long] = None): DataFrame = {
    // Pinned read: both bounded-scan phases of one request see a single
    // committed table version even while ingest merges land — the per-
    // request REPEATABLE READ of Server.hs:600 (Snapshots scaladoc).
    val ev = graft.sources.Snapshots.readPinned(spark, s"$tableDir/events")
      .select(col("block"), col("chainid"), col("height"), col("requestkey"),
              col("idx"), col("qualname"), col("module"), col("modulehash"),
              col("paramtext"))
    ChainTime.heightRange(ev, minHeight, maxHeight)
  }
}
