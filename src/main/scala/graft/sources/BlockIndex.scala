package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.types.{LongType, StringType, StructType, TimestampType}

/** Driver-side index of the newest blocks of one `blocks` table:
  * hash → (creationtime, height). It stands where the reference's
  * block-time follow-up query hits a Postgres index (`eventSearchExtras`,
  * chainweb-data exec/Chainweb/Server.hs:592-603): a result page takes its
  * block times from here without a Spark job, and only the hashes the index
  * misses are looked up in the pinned table ([[creationTimes]]).
  *
  * Maintenance follows the committed versions the way an incremental view
  * follows its input (Structured Streaming, SIGMOD 2018): when a read pins
  * a version newer than the index's, only the data files that version's
  * manifest adds are read; the first build is one top-N read of the pinned
  * version. A block hash names one header, so an entry is true in every
  * version: one index per table path (and Spark application) serves every
  * pin, an older one included.
  *
  * Bound: [[Capacity]] = 2^16 entries, the newest blocks by height. An
  * entry holds a 43-character hash (~88 bytes of string), a timestamp
  * (~24 bytes), its [[Block]] (~24 bytes) and a hash-map node (~40 bytes):
  * ~180 bytes by that estimate (not measured), so a full index is ~12 MB
  * of driver heap per table, plus the file names of one manifest. On a
  * 20-chain network with 30 s blocks, 2^16 blocks are ~27 hours of chain.
  */
object BlockIndex {

  val Capacity: Int = 1 << 16

  /** What the index knows of one block. `creationtime` is the value a
    * collect of `blocks.creationtime` returns. */
  final case class Block(creationtime: Any, height: Long)

  /** One table's index as of committed `version`, whose manifest lists
    * `files`; `blocks` holds at most `capacity` of its newest blocks. */
  private[graft] final case class Index(version: Long, files: Set[String],
                                        blocks: Map[String, Block], capacity: Int) {
    val maxHeight: Option[Long] = blocks.valuesIterator.map(_.height).maxOption
  }

  /** The columns the index reads. Declared, not inferred, so a read of a
    * version's new files runs no schema-inference job; a column a table
    * lacks reads as null. */
  private val Columns = new StructType()
    .add("hash", StringType).add("creationtime", TimestampType).add("height", LongType)

  private val indexes = TrieMap.empty[(String, String), Index]
  private val advanceLock = new Object

  /** The index of the table at `path`, advanced to its latest committed
    * version; None for a proven read-only table, which has no versions to
    * follow. Concurrent readers share one advance. */
  private[graft] def current(spark: SparkSession, path: String): Option[Index] =
    Snapshots.pin(spark, path).map { v =>
      val key = (spark.sparkContext.applicationId, path)
      indexes.get(key).filter(_.version >= v).getOrElse(advanceLock.synchronized {
        val old = indexes.get(key)
        old.filter(_.version >= v).getOrElse {
          val next = advance(spark, path, old, v, old.fold(Capacity)(_.capacity))
          indexes.put(key, next)
          next
        }
      })
    }

  /** `old` (if any) plus the blocks that version `v` adds, trimmed to the
    * newest `capacity`: the newest of the union is the newest of the
    * newest of each part, so a top-N read of the added files suffices. */
  private def advance(spark: SparkSession, path: String, old: Option[Index],
                      v: Long, capacity: Int): Index = {
    val files = Snapshots.at(spark, path, v).files.toSet
    val added = old.fold(files)(files -- _.files)
    val fresh =
      if (added.isEmpty) Seq.empty
      else spark.read.schema(Columns).parquet(added.toSeq: _*)
        .orderBy(col("height").desc_nulls_last).limit(capacity).collect().toSeq
        .map(r => r.getString(0) -> Block(r.get(1), if (r.isNullAt(2)) Long.MinValue else r.getLong(2)))
    val all = old.fold(Map.empty[String, Block])(_.blocks) ++ fresh
    val kept =
      if (all.size <= capacity) all
      else all.toSeq.sortBy { case (h, b) => (b.height, h) }(
        Ordering.Tuple2(Ordering.Long.reverse, Ordering.String)).take(capacity).toMap
    Index(v, files, kept, capacity)
  }

  /** Block creation times of `hashes` in the table at `path`: index hits
    * cost no Spark job, the misses (blocks older than the index's window,
    * or a read-only table) are one pinned `isin` read. A hash the table
    * does not hold is absent from the result. */
  def creationTimes(spark: SparkSession, path: String, hashes: Seq[String]): Map[String, Any] =
    if (hashes.isEmpty) Map.empty
    else {
      val hits = current(spark, path).fold(Map.empty[String, Any])(ix =>
        hashes.flatMap(h => ix.blocks.get(h).map(h -> _.creationtime)).toMap)
      val missing = hashes.filterNot(hits.contains)
      if (missing.isEmpty) hits
      else hits ++ Snapshots.readPinned(spark, path)
        .filter(col("hash").isin(missing: _*))
        .select(col("hash"), col("creationtime")).collect()
        .map(r => r.getString(0) -> r.get(1))
    }

  /** The table's greatest block height, None for an empty table: the
    * index's top entry, a Spark aggregate only for a read-only table. */
  def maxHeight(spark: SparkSession, path: String): Option[Long] =
    current(spark, path) match {
      case Some(ix) => ix.maxHeight
      case None =>
        Option(Snapshots.readPinned(spark, path).agg(max(col("height"))).collect().head.get(0))
          .map(_.asInstanceOf[Long])
    }

  /** Builds the index of `path` with a smaller bound than [[Capacity]]
    * (later advances keep it), for tests of the lookup past the window. */
  private[graft] def rebuild(spark: SparkSession, path: String, capacity: Int): Index =
    advanceLock.synchronized {
      val key = (spark.sparkContext.applicationId, path)
      indexes.remove(key)
      val v = Snapshots.pin(spark, path).getOrElse(
        throw new IllegalStateException(s"no committed version of $path"))
      val ix = advance(spark, path, None, v, capacity)
      indexes.put(key, ix)
      ix
    }

  /** Drops this application's indexes of every table under `dir`. */
  private[graft] def release(spark: SparkSession, dir: String): Unit = {
    val app = spark.sparkContext.applicationId
    indexes.filterInPlace { case ((a, t), _) => a != app || !Snapshots.under(dir, t) }
  }

  /** Test hook: whether an index of the table at `path` is held. */
  private[graft] def isHeld(path: String): Boolean = indexes.keys.exists(_._2 == path)
}
