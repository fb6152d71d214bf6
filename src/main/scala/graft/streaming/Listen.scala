package graft.streaming

import graft.ingest.{Flatten, Upsert}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ingest — the reference's `listen` mode (chainweb-data
  * exec/Chainweb/Listen.hs:52-97) as Structured Streaming.
  *
  * The SSE feed becomes a JSON drop-zone that an out-of-engine daemon
  * appends to (SURVEY §7.3.7 — the reference's own HTTP client is equally
  * out-of-engine); `readStream` tails it, and each micro-batch runs the
  * same flatten + idempotent-merge fan-out as the batch path
  * (`processNewHeader` → `insertNewHeader`, Listen.hs:62-97).
  *
  * Delivery: file source + checkpoint = at-least-once replay; PK-keyed
  * [[Upsert.merge]] makes the effect exactly-once (T4, Worker.hs:50-126's
  * conflict-ignore semantics). No watermark is needed for correctness —
  * lateness is handled structurally by idempotent upserts + offline gap
  * repair (T2, Gaps.hs:38-107), exactly like the reference.
  */
object Listen {

  /** Each drop-zone line: {"header": {...}, "payload": {...}} — the
    * SSE event body paired with its fetched payload. */
  def stream(spark: SparkSession, dropZone: String, tableDir: String,
             checkpoint: String): StreamingQuery =
    ingestEach(spark.readStream.schema("value STRING").text(dropZone),
               tableDir, checkpoint)

  /** The same listen pipeline over the LIVE SSE source ([[SseSourceProvider]],
    * format "graft-sse") instead of the drop-zone: BlockHeader frames'
    * data fields are the header+payload envelopes, filtered by event type
    * like the reference's dispatch (Listen.hs:58-66). Delivery contract in
    * the source's scaladoc: at-most-once hop + idempotent merge. */
  def streamSse(spark: SparkSession, host: String, port: Int, tableDir: String,
                checkpoint: String): StreamingQuery =
    ingestEach(
      spark.readStream
        .format("graft-sse")
        .option("host", host)
        .option("port", port.toString)
        .load()
        .filter(col("event") === "BlockHeader")
        .select(col("value")),
      tableDir, checkpoint)

  /** Start `envelopes`' query: each micro-batch goes through
    * [[ingestBatch]], with its progress kept under `checkpoint`. */
  private def ingestEach(envelopes: DataFrame, tableDir: String,
                         checkpoint: String): StreamingQuery =
    envelopes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch.sparkSession, batch, tableDir): Unit
      }
      .start()

  /** One batch of envelopes: parse, flatten to the six tables, merge.
    *
    * The batch is parsed once: [[Flatten.parseEnvelopes]] is persisted and
    * materialized by one `count()`, which reads `raw` once (an HTTP fetch
    * or a drop-zone file is not re-read), and the six flatteners project
    * and explode that one cached relation through
    * [[Upsert.coalesceBySize]]. The cache is dropped when the merges end,
    * whether they succeed or not.
    *
    * File count: a micro-batch's parse is a few KB, so the flatteners run
    * over one partition and [[Upsert.merge]] writes one parquet file per
    * table; a batch of many `spark.sql.files.maxPartitionBytes` keeps up
    * to that many partitions and writes that many files per table in
    * parallel.
    *
    * Scale: the cache holds the parsed batch in columnar form. A `listen`
    * micro-batch is a few KB; a `fill` batch is its whole repair plan
    * (≤ |plan|·chunk blocks) and spills to disk past memory (the default
    * `MEMORY_AND_DISK` level) rather than failing. */
  def ingestBatch(spark: SparkSession, raw: DataFrame, tableDir: String): Map[String, Long] = {
    val hp = Flatten.parseEnvelopes(raw).persist()
    try {
      hp.count(): Unit
      Upsert.mergeAll(spark, tableDir, Flatten.allTables(Upsert.coalesceBySize(hp)))
    } finally hp.unpersist(): Unit
  }

  /** Stream-stream join: headers and payloads arriving as SEPARATE feeds
    * (the real network topology — the reference fetches the payload in a
    * second round trip, Listen.hs:62-83) paired on payloadHash inside a
    * watermark horizon. State holds only unmatched rows younger than the
    * horizon on each side. */
  def joinStreams(headers: DataFrame, payloads: DataFrame,
                  horizon: String = "1 hour"): DataFrame = {
    val h = headers.withWatermark("h_time", horizon)
    val p = payloads.withWatermark("p_time", horizon)
    h.join(p,
      h("payloadHash") === p("payloadHash") &&
        p("p_time").between(h("h_time") - org.apache.spark.sql.functions.expr(s"INTERVAL $horizon"),
                            h("h_time") + org.apache.spark.sql.functions.expr(s"INTERVAL $horizon")),
      "inner")
  }

  /** Stream-static enrichment: decorate a live stream with a slowly
    * changing dimension (the streaming face of the J1 block-decoration
    * join). The static side re-reads per micro-batch, so dimension updates
    * are picked up without restarting the query; Spark broadcasts it when
    * under threshold. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(dim, Seq(key), "left")

  /** Streaming exact-dedup: first sighting of each key wins; the watermark
    * bounds the dedup state (keys older than the horizon are evicted —
    * matching the batch dedup's semantics inside the lateness window).
    * This is the streaming face of q27 for a live document/event feed. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  tsCol: String = "ts", horizon: String = "2 days"): DataFrame =
    events.withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming windowed stats (tumbling day windows over event time with a
    * watermark for state cleanup) — the streaming face of the batch
    * tumbling-window query (SparkEntry q38); same grouping columns, so a
    * backfill and the live stream produce union-compatible rows. */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
}
