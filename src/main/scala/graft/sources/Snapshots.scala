package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Version-pinned table snapshots over plain parquet directories — the
  * Spark analog of the REPEATABLE READ transaction the reference wraps
  * around the two bounded-scan phases (chainweb-data
  * haskell-src/exec/Chainweb/Server.hs:600 `serializedHandler` /
  * BoundedScan's two-phase read), and of a lakehouse format's version pin
  * (SURVEY §4: "with Delta, pin one table version for both").
  *
  * Mechanism: a `_manifests/` subdirectory beside the data files holds
  * numbered manifest files, each listing the data files of one committed
  * table version (one relative path per line). [[commit]] writes the next
  * manifest atomically — temp file + same-directory rename, atomic on
  * POSIX and HDFS — so a reader never observes a partial manifest.
  * [[read]] hands Spark the pinned file list instead of the directory, so
  * the scan reads exactly that version no matter how many merges append
  * afterwards. Readers and the (single) writer never block each other:
  * writers only add files and manifests, never mutate them — the
  * copy-on-write discipline every table format at this scale uses.
  *
  * Scale: a manifest is O(#files) text written once per merge. A pin
  * lists only `_manifests/` (one directory, O(#versions) names, bounded by
  * [[vacuum]]) to find the latest version; the data files are never listed
  * (the manifest IS the listing — at 100 TB this removes the slow
  * recursive directory listing from the read path, which is the main
  * reason real lakehouse formats exist), and a memo hit opens no manifest.
  * A pin lasts one request: the bounded-scan continuation token carries no
  * version, so every page pins the table's latest commit afresh
  * ([[readPinned]]); [[at]] can re-read an older version by number.
  *
  * A table directory that does not exist was never ingested: a pin of it
  * creates and commits nothing and throws [[NotIngested]].
  */
object Snapshots {

  final case class Snapshot(table: String, version: Long, files: Seq[String])

  /** A read of a table directory that does not exist (nothing ingested). */
  final class NotIngested(val table: String)
      extends RuntimeException(s"table not ingested: $table")

  private val ManifestDir = "_manifests"
  private[graft] def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Data files of the table directory right now (recursive, parquet parts
    * only — manifests, _SUCCESS markers and hidden files excluded). */
  private def listDataFiles(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark, path)
    val root = new Path(path)
    def walk(p: Path): Seq[String] =
      f.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty
        else if (st.isDirectory) walk(st.getPath)
        else if (n.endsWith(".parquet")) Seq(st.getPath.toString)
        else Seq.empty
      }
    walk(root).sorted
  }

  private def manifestPath(path: String, v: Long) =
    new Path(s"$path/$ManifestDir/v$v.manifest")

  /** Commit the table's CURRENT file set as the next version. Single-writer
    * (the reference's ingest is too); the write is temp + atomic rename so
    * concurrent readers see either the old latest or the new one, never a
    * torn file. Returns the committed snapshot. */
  def commit(spark: SparkSession, path: String): Snapshot = {
    val f = fs(spark, path)
    val v = latestVersion(spark, path).getOrElse(0L) + 1
    val files = listDataFiles(spark, path)
    val dir = new Path(s"$path/$ManifestDir")
    if (!f.exists(dir)) { f.mkdirs(dir): Unit }
    val tmp = new Path(dir, s".v$v.manifest.tmp")
    val out = f.create(tmp, true)
    try out.write((files.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, manifestPath(path, v)))
      throw new IllegalStateException(
        s"concurrent writer: manifest v$v already exists at $path")
    Snapshot(path, v, files)
  }

  private def latestVersion(spark: SparkSession, path: String): Option[Long] = {
    val f = fs(spark, path)
    val dir = new Path(s"$path/$ManifestDir")
    if (!f.exists(dir)) None
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }
      .maxOption
  }

  /** The newest committed snapshot, if any version was ever committed. */
  def latest(spark: SparkSession, path: String): Option[Snapshot] =
    latestVersion(spark, path).map(at(spark, path, _))

  /** A specific committed version, by number. */
  def at(spark: SparkSession, path: String, version: Long): Snapshot = {
    val f = fs(spark, path)
    val mp = manifestPath(path, version)
    val in = f.open(mp)
    val text = try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      bytes.toString("UTF-8")
    } finally in.close()
    Snapshot(path, version, text.split("\n").toSeq.filter(_.nonEmpty))
  }

  /** Read exactly the snapshot's files — immune to concurrent appends. An
    * empty version (table created but no files) reads as an empty relation
    * only if a schema can be inferred, so callers with empty snapshots
    * should guard; merged graft tables always have ≥1 file per commit. */
  def read(spark: SparkSession, snap: Snapshot): DataFrame =
    spark.read.parquet(snap.files: _*)

  /** What a memo entry holds for a version: its raw read, or the tx-search
    * source derived from it ([[graft.operators.TxSearch.source]]). */
  sealed trait Kind
  case object RawRead extends Kind
  case object TxSearchSource extends Kind

  /** Snapshot-handle memo, keyed by (appId, kind, table path, version) —
    * the [[graft.Tables]] memo's discipline applied to versioned reads. A
    * committed version's file set is immutable by construction (writers
    * only add files and manifests), so unlike a directory handle this
    * cache can never go stale; it removes the per-request parquet-footer
    * re-read from the serving path (the round-8 `Tables.load` lesson), and
    * a derived relation is built once per version. */
  private val handles =
    scala.collection.concurrent.TrieMap.empty[(String, Kind, String, Long), DataFrame]

  /** How many versions of one table the handle memo retains per kind. A
    * long-running server commits a new version per ingest merge; without
    * eviction every superseded handle (plan + full file listing) stays
    * reachable — a driver memory leak growing with commit frequency ×
    * table size. The small window (not just latest) keeps handles alive
    * for requests that pinned a version just before a concurrent commit
    * bumped it; Spark's context cleaner frees an evicted checkpoint. */
  private[graft] val HandleWindow = 4

  private def cached(spark: SparkSession, kind: Kind, table: String, version: Long)
                    (build: => DataFrame): DataFrame = {
    val app = spark.sparkContext.applicationId
    handles.getOrElseUpdate((app, kind, table, version), {
      handles.filterInPlace { case ((a, k, t, v), _) =>
        a == app && !(k == kind && t == table && v <= version - HandleWindow)
      }
      build
    })
  }

  /** The raw read of one committed version through the memo; the manifest
    * is opened only when the memo misses. */
  private def readVersion(spark: SparkSession, path: String, version: Long): DataFrame =
    cached(spark, RawRead, path, version)(read(spark, at(spark, path, version)))

  /** Test hook: live memo entries of one kind for one table (eviction pin). */
  private[graft] def cachedHandleCount(table: String, kind: Kind = RawRead): Int =
    handles.keys.count { case (_, k, t, _) => k == kind && t == table }

  /** Drops this application's memo entries of every table under `dir` (a
    * stopped server's tables). Another reader of those tables only misses
    * the memo and rebuilds. */
  private[graft] def release(spark: SparkSession, dir: String): Unit = {
    val app = spark.sparkContext.applicationId
    handles.filterInPlace { case ((a, _, t, _), _) => a != app || !under(dir, t) }
  }

  /** Whether table path `t` is `dir` itself or lies below it. */
  private[graft] def under(dir: String, t: String): Boolean =
    t == dir || t.startsWith(dir.stripSuffix("/") + "/")

  /** Maintenance: delete all manifests older than the newest `keepLast`
    * versions (the on-disk complement of the handle-memo window above).
    * Writers only ever ADD data files, so old manifests reference subsets
    * of live files and vacuum reclaims no data — what it bounds is the
    * manifest directory itself: each commit writes O(#files) text, and the
    * serving path's `latest()` lists `_manifests/` on every request, a
    * listing that otherwise grows with every ingest merge forever (the
    * reference analog: the scheduled maintenance loop,
    * chainweb-data haskell-src/exec/Chainweb/Server.hs:184-210).
    * `keepLast` should stay above [[HandleWindow]] so a version pinned by
    * a request still in flight survives. In-flight commit
    * temp files (`.v*.manifest.tmp`) are deliberately left alone —
    * deleting one under a live single-writer would fail its rename.
    * Returns the deleted version numbers (oldest first). */
  def vacuum(spark: SparkSession, path: String, keepLast: Int = 16): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val f = fs(spark, path)
    val dir = new Path(s"$path/$ManifestDir")
    if (!f.exists(dir)) Seq.empty
    else {
      val versions = f.listStatus(dir).toSeq
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
          n.stripPrefix("v").stripSuffix(".manifest").toLong }
        .sorted
      val drop = versions.dropRight(keepLast)
      drop.foreach(v => f.delete(manifestPath(path, v), false): Unit)
      drop
    }
  }

  /** Serializes the first-read bootstrap commit: two concurrent first
    * requests against an un-snapshotted table would both compute v=1 and
    * collide on the tmp-file rename — a 500 on a pure read. */
  private val bootstrapLock = new Object

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Table paths PROVEN unwritable by an explicit probe: the unpinned-read
    * downgrade is decided once per table, logged, and memoized — so a
    * genuinely read-only mount doesn't re-attempt the bootstrap commit on
    * every request, and a transient IO failure never silently drops the
    * snapshot-pinning (repeatable-read) guarantee. */
  private val readOnlyTables =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Explicit writability probe of the table's manifest directory:
    * create-then-delete a hidden probe file (hidden names are excluded
    * from [[listDataFiles]] and from the manifest listing). */
  private def probeReadOnly(spark: SparkSession, path: String): Boolean = {
    if (readOnlyTables.contains(path)) true
    else {
      val f = fs(spark, path)
      val dir = new Path(s"$path/$ManifestDir")
      val probe = new Path(dir, ".writable.probe")
      val ro =
        try {
          if (!f.exists(dir)) { f.mkdirs(dir): Unit }
          f.create(probe, true).close()
          f.delete(probe, false): Unit
          false
        } catch { case _: java.io.IOException => true }
      if (ro) {
        readOnlyTables.add(path): Unit
        log.warn(s"snapshot bootstrap: $path is read-only — downgrading " +
          "to an UNPINNED directory read (no repeatable-read guarantee)")
      }
      ro
    }
  }

  /** The latest committed version number, else (for tables written
    * before snapshotting existed) commit the current state first. Only
    * the manifest directory is listed: a memo hit never opens a manifest.
    * The bootstrap commit is serialized in-process; if it still loses a
    * cross-process race it proceeds on the winner's manifest. None only
    * for a directory that FAILS an explicit writability probe (the
    * decision is logged and memoized per table) — a transient IO failure
    * on a writable mount propagates instead of silently losing the pin.
    * Throws [[NotIngested]], creating nothing, for a missing directory. */
  private[graft] def pin(spark: SparkSession, path: String): Option[Long] =
    latestVersion(spark, path).orElse {
      if (!fs(spark, path).exists(new Path(path))) throw new NotIngested(path)
      if (readOnlyTables.contains(path)) None
      else bootstrapLock.synchronized {
        latestVersion(spark, path).orElse {
          try Some(commit(spark, path).version)
          catch {
            case e: IllegalStateException =>
              // lost a cross-process rename race: the winner's manifest
              // pins the same pre-existing file set — read that
              Some(latestVersion(spark, path).getOrElse(throw e))
            case e: java.io.IOException =>
              if (probeReadOnly(spark, path)) None else throw e
          }
        }
      }
    }

  /** Pin-and-read convenience: the latest committed version ([[pin]]),
    * served from the version-keyed handle memo; a raw, unpinned read only
    * for a proven read-only table. */
  def readPinned(spark: SparkSession, path: String): DataFrame =
    pin(spark, path).fold(spark.read.parquet(path))(readVersion(spark, path, _))

  /** `derive` of the [[readPinned]] read, run once per committed version
    * and memoized as `kind` under the same [[HandleWindow]] eviction (on
    * every call for a proven read-only table, which has no version). */
  def derivePinned(spark: SparkSession, path: String, kind: Kind)
                  (derive: DataFrame => DataFrame): DataFrame =
    pin(spark, path).fold(derive(spark.read.parquet(path)))(v =>
      cached(spark, kind, path, v)(derive(readVersion(spark, path, v))))
}
