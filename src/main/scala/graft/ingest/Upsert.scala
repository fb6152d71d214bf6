package graft.ingest

import graft.sources.Snapshots
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Idempotent PK-keyed writer — the Spark analog of the reference's
  * `INSERT … ON CONFLICT (pk) DO NOTHING` fan-out
  * (chainweb-data exec/Chainweb/Worker.hs:50-126 `writes`/`batchWrites`).
  *
  * On a lakehouse table format this is exactly
  * `MERGE WHEN NOT MATCHED THEN INSERT`; on plain parquet (this repo's
  * substrate) we reproduce the semantics with an anti-join of the incoming
  * batch against existing keys, then append. Existing rows are never
  * rewritten (DO NOTHING, not DO UPDATE), so replays and orphan
  * re-introductions are no-ops — the property that makes the whole ingest
  * effectively-once (SURVEY §2.9 T4). The table's existence is asked of
  * the path's Hadoop `FileSystem`, so a URI path (`file:`, `hdfs:`, `s3a:`)
  * is anti-joined like a local one.
  *
  * The existing keys are read with the batch's own key schema, so the read
  * infers nothing: schema inference over the table's footers is a Spark
  * job of its own, and on a small micro-batch one job is a sizeable share
  * of the merge.
  *
  * File count: the new rows are staged (persisted and counted), then
  * written through [[coalesceBySize]], one parquet file per
  * `spark.sql.files.maxPartitionBytes` of staged data and at least one. A
  * micro-batch's slice of a table is a few KB, so it adds one file per
  * table instead of one per shuffle partition; small files are what a
  * long-running `listen` would otherwise pile up, one batch at a time.
  *
  * [[mergeAll]] merges a batch's tables concurrently, one thread per table.
  * A micro-batch's table slices are tiny (a few tasks each), so a single
  * merge leaves most cores idle and the batch's cost is the sum of the
  * merges' fixed per-job costs; across tables those costs overlap. Each
  * table path is written by one thread only, which keeps the single-writer
  * rule of [[graft.sources.Snapshots.commit]] per table. The ingest paths
  * hand it tables projected from one persisted parse of the batch
  * ([[graft.streaming.Listen.ingestBatch]]), so the six merges share that
  * parse instead of each re-running it.
  *
  * Scale: the anti-join shuffles only on PK columns; at 100 TB the target
  * would be partitioned by (chainid, height-bucket) so the join prunes to
  * the touched partitions — noted here because plain-parquet reads the full
  * key set. Batches are also self-deduped (a chain fork can repeat a key
  * within one batch, Transaction.hs:74-78). Table-level concurrency is
  * bounded by the six tables; a batch large enough to fill the cluster on
  * its own gains nothing from it and loses nothing either. The size-derived
  * file count coalesces cached data only: the stages that produce a batch
  * keep their parallelism, and a multi-GB `fill` batch still writes many
  * `maxPartitionBytes`-sized files in parallel.
  */
object Upsert {

  /** Merge `batch` into the parquet table at `path` keyed by `pk`.
    * Returns the number of newly inserted rows. */
  def merge(spark: SparkSession, path: String, batch: DataFrame,
            pk: Seq[String]): Long = {
    val deduped = batch.dropDuplicates(pk)
    val fresh =
      if (Snapshots.fs(spark, path).exists(new Path(path))) {
        val existing = spark.read.schema(StructType(pk.map(batch.schema(_)))).parquet(path)
        deduped.join(existing, pk, "left_anti")
      } else deduped
    // Two-phase because the source of the append is the target itself:
    // stage the new rows, then append the staged copy.
    val staged = fresh.persist()
    try {
      val n = staged.count()
      if (n > 0) {
        coalesceBySize(staged).write.mode("append").parquet(path)
        // Version the new state: paged readers pin the pre-merge manifest and
        // stay consistent while this append lands (Server.hs:600's REPEATABLE
        // READ, re-expressed as copy-on-write snapshots — Snapshots scaladoc).
        Snapshots.commit(spark, path): Unit
      }
      n
    } finally staged.unpersist(): Unit
  }

  /** `cached`, a persisted relation that an action has already filled,
    * coalesced to `ceil(size / spark.sql.files.maxPartitionBytes)`
    * partitions and at least one, where size is the cached data's measured
    * size (its `InMemoryRelation` statistics). Only the cached partitions
    * are merged; nothing upstream of the cache is re-run or narrowed. */
  def coalesceBySize(cached: DataFrame): DataFrame = {
    val qe = cached.queryExecution
    val session = qe.sparkSession
    val size = session.sharedState.cacheManager.lookupCachedData(session, qe.normalized)
      .getOrElse(throw new IllegalArgumentException("coalesceBySize needs a persisted relation"))
      .cachedRepresentation.computeStats().sizeInBytes
    val perFile = BigInt(session.sessionState.conf.filesMaxPartitionBytes)
    cached.coalesce(((size + perFile - 1) / perFile).max(1).min(Int.MaxValue).toInt)
  }

  /** Write a whole flattened batch (all six tables) idempotently, one
    * [[merge]] per table, all running at once.
    *
    * Every merge runs to its end before this returns or throws: the first
    * failure (in the tables' order) is rethrown with any others attached
    * as suppressed, and the tables whose merges succeeded stay committed —
    * replaying the batch completes the rest and re-inserts nothing. The
    * merge threads are started by the calling thread, so they inherit its
    * Spark local properties (job group, description, interrupt-on-cancel,
    * SQL execution id); a cancelled job group cancels every merge's jobs.
    * An interrupt of the caller is passed on to the merge threads. */
  def mergeAll(spark: SparkSession, baseDir: String,
               tables: Map[String, (DataFrame, Seq[String])]): Map[String, Long] = {
    val named = tables.toSeq
    val results = new Array[Either[Throwable, Long]](named.size)
    val threads = named.zipWithIndex.map { case ((name, (df, pk)), i) =>
      val t = new Thread(() =>
        results(i) =
          try Right(merge(spark, s"$baseDir/$name", df, pk))
          catch { case e: Throwable => Left(e) }, // rethrown by the caller below
        s"graft-upsert-$name")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join()
        catch { case _: InterruptedException => interrupted = true; threads.foreach(_.interrupt()) }
    }
    if (interrupted) Thread.currentThread().interrupt()
    val failures = results.collect { case Left(e) => e }
    failures.headOption.foreach { first => failures.tail.foreach(first.addSuppressed); throw first }
    named.map(_._1).zip(results.collect { case Right(n) => n }).toMap
  }
}
