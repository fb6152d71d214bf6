package graft.streaming

import graft.Stores
import graft.ingest.Upsert
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of the batch INCREMENTAL dedup (q81): a continuously
  * arriving corpus is screened per micro-batch against PERSISTED MinHash
  * state, instead of re-clustering the world per drop.
  *
  * The batch pass (q29/q81) keeps its band relation as a persisted
  * artifact; this operator makes that artifact the live state of a
  * `foreachBatch` stream over a document drop-zone:
  *
  *   1. band the micro-batch with the same codegen'd kernels the batch
  *      path compiles ([[graft.operators.Dedup.signaturesOf]]), so stream
  *      and batch decisions agree by construction;
  *   2. bucket-join the batch bands against the persisted band table
  *      (PLUS the batch's own earlier docs — two near-dups landing in one
  *      micro-batch still screen against each other, asymmetrically by
  *      doc_id so decisions stay acyclic);
  *   3. exact-verify candidates with q82's integer criterion
  *      (2·∩ ≥ |A|+|B|−∩ ⇔ Jaccard ≥ 1/2) — shingle arrays attach only
  *      for candidate docs, via keyed joins;
  *   4. append each doc's decision (best corpus near-dup or `new`) and
  *      the batch's bands/shingles to the state tables through
  *      [[Upsert.merge]]'s PK anti-join — a replayed micro-batch
  *      (at-least-once file source) re-derives the same rows and inserts
  *      nothing, the T4 effectively-once discipline.
  *
  * Replay corner pinned by the spec: if a crash lands between the state
  * merge and the decisions merge, the replayed batch sees ITSELF in
  * state — self-pairs are excluded explicitly, batch-mate pairs resolve
  * to the same verdict through either path, and the decisions table's
  * PK merge keeps the first verdict regardless.
  *
  * Scale: per micro-batch cost is banding |batch| docs + one bucket join
  * whose probe side is |batch|-sized against a band table partitionable
  * by band_hash; the corpus text is never rescanned. State grows with
  * the corpus — it IS the corpus index — not with stream time, so no
  * watermark is needed for boundedness (contrast [[NearDup]], whose
  * in-memory state must evict; this state lives in storage, the same
  * tradeoff the reference makes by keeping its index in Postgres).
  */
object IncrementalScreen {

  /** State + output table paths under the session's store base. */
  def bandsPath(spark: SparkSession): String = Stores.path(spark, "inc_screen_bands")
  def shinglesPath(spark: SparkSession): String = Stores.path(spark, "inc_screen_shingles")
  def decisionsPath(spark: SparkSession): String = Stores.path(spark, "inc_screen_decisions")

  /** The state table at `path`, or an empty one of `schema`; `path` may be
    * a URI (`file:`, `hdfs:`, `s3a:`), so its Hadoop file system is asked. */
  private def readIfExists(spark: SparkSession, path: String,
                           schema: String): DataFrame =
    if (graft.sources.Snapshots.fs(spark, path).exists(new org.apache.hadoop.fs.Path(path)))
      spark.read.parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(schema))

  /** Screen one micro-batch of `(doc_id, text)` rows against the persisted
    * state, merge decisions + state, and return the batch's decisions
    * (new_doc, dup_of, jaccard6, status). Pure function of (batch, state):
    * replaying the same batch is a storage no-op. */
  def screenBatch(spark: SparkSession, batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val sig = graft.operators.Dedup.signaturesOf(
        batch.select(col("doc_id"), col("text")).dropDuplicates("doc_id"))
      .localCheckpoint() // batch-sized; consumed by bands, verify, and merges
    val batchBands = graft.operators.Dedup.lshBands(sig)
    val stateBands = readIfExists(spark, bandsPath(spark),
      "doc_id BIGINT, band_idx INT, band_hash STRING")
    val stateSh = readIfExists(spark, shinglesPath(spark),
      "doc_id BIGINT, sh ARRAY<STRING>")

    // candidates: batch × state (any state doc), plus batch × earlier-in-
    // batch (doc_id order breaks the tie) — self-pairs excluded so a
    // replayed batch that already merged its own bands stays clean
    val vsState = batchBands.toDF("new_doc", "band_idx", "band_hash")
      .join(stateBands.toDF("dup_of", "band_idx", "band_hash"),
            Seq("band_idx", "band_hash"))
      .filter(col("dup_of") =!= col("new_doc"))
    val inBatch = batchBands.toDF("new_doc", "band_idx", "band_hash")
      .join(batchBands.toDF("dup_of", "band_idx", "band_hash"),
            Seq("band_idx", "band_hash"))
      .filter(col("dup_of") < col("new_doc"))
    val cand = vsState.select("new_doc", "dup_of")
      .union(inBatch.select("new_doc", "dup_of"))
      .dropDuplicates("new_doc", "dup_of")

    // shingle lookup: state docs + this batch (replay makes these overlap;
    // batch rows win arbitrarily — the sets are identical by determinism)
    val shingleLookup = stateSh
      .union(sig.select(col("doc_id"), col("sh")))
      .dropDuplicates("doc_id")
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val jac6 = round((inter.cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - inter).cast("double"))
        .cast(DecimalType(28, 12)), 6).cast("double")
    val verified = cand
      .join(sig.select(col("doc_id").as("new_doc"), col("sh").as("sh_a")), "new_doc")
      .join(shingleLookup.select(col("doc_id").as("dup_of"), col("sh").as("sh_b")), "dup_of")
      // q82's integer criterion — the q184 lesson: never round-then-compare
      .filter(lit(2L) * inter >= size(col("sh_a")) + size(col("sh_b")) - inter)
      .select(col("new_doc"), col("dup_of"), jac6.as("jaccard6"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("new_doc"))
      .orderBy(col("jaccard6").desc, col("dup_of"))
    val best = verified.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val decisions = sig.select(col("doc_id").as("new_doc"))
      .join(best, Seq("new_doc"), "left")
      .select(col("new_doc"), col("dup_of"), col("jaccard6"),
        when(col("dup_of").isNotNull, "dup").otherwise("new").as("status"))

    // state first, then decisions — both PK-merged, so any replay split
    // across the two appends converges to the same tables
    Upsert.merge(spark, bandsPath(spark), batchBands,
                 Seq("doc_id", "band_idx")): Unit
    Upsert.merge(spark, shinglesPath(spark), sig.select(col("doc_id"), col("sh")),
                 Seq("doc_id")): Unit
    Upsert.merge(spark, decisionsPath(spark), decisions, Seq("new_doc")): Unit
    decisions
  }

  /** The live stream: a JSON drop-zone of `{"doc_id": n, "text": "..."}`
    * lines, each micro-batch screened through [[screenBatch]]. File
    * source + checkpoint = at-least-once replay; the PK merges make the
    * stored effect exactly-once. */
  def stream(spark: SparkSession, dropZone: String,
             checkpoint: String): StreamingQuery =
    spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .json(dropZone)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, _: Long) =>
        screenBatch(b.sparkSession, b): Unit
      }
      .start()
}
