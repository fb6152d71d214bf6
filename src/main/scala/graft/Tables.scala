package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Scale notes: at 100 TB these reads become partitioned table scans; every
  * query in this engine is written so filters/projections push down to the
  * scan (verified via `.explain` — `PushedFilters` / `ReadSchema`). The
  * loaders deliberately return raw un-cached DataFrames: callers decide
  * caching, and Catalyst prunes columns per query.
  */
object Tables {
  /** `events.ts` has been written three ways across testdata generations:
    * TIMESTAMP(NANOS) (read as a long under
    * `spark.sql.legacy.parquet.nanosAsLong`, which [[GraftSession]] sets on
    * every session, and floor-truncated to micros),
    * micros with isAdjustedToUTC=false (Spark 4 infers TIMESTAMP_NTZ), and
    * instant micros (TimestampType directly). All three normalize to
    * session-UTC TimestampType carrying the same wall-clock micros, so the
    * engine and the DuckDB oracle (which reads the file as a naive
    * timestamp) agree. Oracle SQL keeps the convention: only `>=` / `<`
    * predicates at whole-micro boundaries, and `event_id` tiebreaks
    * wherever `ts` orders rows.
    */
  /** Table-handle memo, keyed by (appId, dir, name): `spark.read.parquet`
    * re-reads a footer to infer the schema on EVERY call, a ~30-60 ms
    * constant that lands on each of 200+ queries (the sub-second ones
    * most of all). A long-running job holds its table handles; so do we.
    * The cached object is an immutable lazy plan — reuse can't leak state
    * across queries — and the appId prefix keeps a stopped session's
    * relations from ever being served to a new one (the Leaves rule).
    *
    * ASSUMPTION (load-bearing): a directory passed to [[load]] is
    * immutable for the life of the application. The cached plan pins its
    * file listing (InMemoryFileIndex) at creation, so an in-session
    * append/overwrite of a cached path would silently serve the stale
    * listing. The driver fixtures honor this (read-only `/root/testdata`);
    * WRITERS that mutate a loaded path must call [[invalidate]] after the
    * write. Mutable ingested tables use the versioned
    * [[graft.sources.Snapshots]] path instead, whose handles are keyed by
    * committed version and therefore never go stale. */
  private val handles =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), DataFrame]

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val key = (spark.sparkContext.applicationId, sfDir, name)
    handles.getOrElseUpdate(key, {
      handles.filterInPlace { case ((app, _, _), _) =>
        app == spark.sparkContext.applicationId }
      loadUncached(spark, sfDir, name)
    })
  }

  /** Invalidation hook for the rare writer that mutates a loaded path:
    * drops the memoized handles under `sfDir` and refreshes Spark's own
    * path caches, so the next [[load]] re-lists the directory. */
  def invalidate(spark: SparkSession, sfDir: String): Unit = {
    handles.filterInPlace { case ((_, dir, _), _) => dir != sfDir }
    spark.catalog.refreshByPath(sfDir)
  }

  private def loadUncached(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // every session comes from GraftSession, whose timezone is UTC,
          // so this cast is the identity on the underlying micros
          raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Scan-partition count of a loaded table, memoized per (app, dir,
    * name): deciding [[wide]]'s fan-out needs the PHYSICAL split count,
    * which costs one plan compilation — paid once per table per session,
    * like the handle itself. */
  private val scanParts =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), Int]

  /** A table handle for HEAVY MAP-SIDE consumers (tokenize/shingle
    * kernels, codec encode/decode, per-row vector math): [[load]], fanned
    * out to the session's parallelism when the file's physical split
    * count can't feed it.
    *
    * Why (optimization guide §2.5 "input skew — one huge unsplittable
    * file"): the driver fixtures are single-row-group parquet files, so
    * EVERY scan is one task no matter how many cores the session has —
    * at sf0.1 the whole map side of the suite ran single-threaded (e.g.
    * q214's quality+shingle kernel: 9.8 s of CPU in one task while 31
    * cores idled; measured round 13). One row-group can't be split by
    * `maxPartitionBytes`, so an explicit exchange after the read is the
    * only lever — exactly the guide's prescribed fix.
    *
    * SCALE-ADAPTIVE, not a constant: the repartition node is added only
    * when the scan's split count is below `defaultParallelism`, so on a
    * real cluster (100 TB table = tens of thousands of splits ≫ cores)
    * this is the identity — no extra exchange ever appears in a plan
    * that doesn't need it. Hash-partitioning on the table's key keeps
    * the assignment deterministic under task retry (guide §2.5 warns
    * against rand-derived keys; a keyed repartition needs no
    * sort-before-repartition pass either).
    *
    * NOT for filter-first consumers: a filter applied above the exchange
    * no longer pushes down to the scan — call sites that predicate on
    * the table keep using [[load]]. */
  def wide(spark: SparkSession, dir: String, name: String, key: String): DataFrame = {
    val base = load(spark, dir, name)
    val p = spark.sparkContext.defaultParallelism
    // sweep stale appIds before inserting (ADVICE r13): same hygiene rule
    // as `handles` — a long-lived JVM cycling SparkSessions must not
    // accumulate dead entries.
    val parts = scanParts.getOrElseUpdate(
      (spark.sparkContext.applicationId, dir, name), {
        scanParts.filterInPlace { case ((app, _, _), _) =>
          app == spark.sparkContext.applicationId }
        base.rdd.getNumPartitions
      })
    if (parts >= p) base else base.repartition(p, col(key))
  }

  def documentsWide(spark: SparkSession, dir: String): DataFrame =
    wide(spark, dir, "documents", "doc_id")

  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
