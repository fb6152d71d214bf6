package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming MinHash-LSH near-dup detection — the streaming face of the
  * batch LSH pass (q29): a live document feed is banded with the same
  * codegen'd signature kernels, and each LSH bucket holds ONE anchor doc in
  * `flatMapGroupsWithState` state; any later document landing in an
  * occupied bucket is emitted as a near-dup candidate against the anchor.
  *
  * Scale design: state is O(distinct buckets inside the watermark horizon)
  * × one (long, long) anchor — the signature arrays and the text never
  * enter state; the shuffle carries only (bucket, doc_id, ts). Exact-
  * Jaccard verification of the emitted candidates stays a downstream batch
  * join (the stream's job is cheap high-recall candidate surfacing —
  * verification needs the shingle sets, which live in the corpus table,
  * not in stream state).
  *
  * Horizon semantics: like [[Listen.dedupStream]], eviction after the
  * watermark bounds memory — a duplicate arriving later than the horizon
  * re-anchors instead of matching, the standard streaming-dedup
  * compromise; the daily batch pass (q29/q42) catches those.
  */
object NearDup {

  final case class BandRow(bucket: String, doc_id: Long, ts: java.sql.Timestamp)
  final case class Anchor(doc_id: Long, ts_ms: Long)
  final case class Candidate(doc_id: Long, anchor_id: Long, bucket: String)

  private val N_BANDS = 4 // 2 rows per band over the k=8 signature (= q29)

  /** Stateless prefix: doc stream → (bucket, doc_id, ts) band rows via the
    * compiled [[graft.functions.MinHashSig]] kernel — identical banding to
    * the batch q29, so stream candidates are a subset of batch candidates
    * by construction. */
  def bands(docs: DataFrame): DataFrame = {
    docs
      .withColumn("m", call_function("graft_minhash", col("text"), lit(8)))
      .select(col("doc_id"), col("ts"),
        explode(transform(sequence(lit(0), lit(N_BANDS - 1)), j =>
          concat(j.cast("string"), lit(":"),
            md5(concat(element_at(col("m"), j * 2 + 1),
                       element_at(col("m"), j * 2 + 2)))))).as("bucket"))
  }

  /** One bucket's update: the first-seen doc (event-time, doc_id tiebreak)
    * anchors; everything after it emits a candidate pair. `horizonMs` is
    * the SAME duration as the stream's watermark — eviction and lateness
    * must share one clock or state outlives (or undercuts) the advertised
    * bound. */
  def update(horizonMs: Long)(bucket: String, rows: Iterator[BandRow],
             state: GroupState[Anchor]): Iterator[Candidate] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val out = Vector.newBuilder[Candidate]
    var anchor = state.getOption
    for (r <- rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))) {
      anchor match {
        case None    => anchor = Some(Anchor(r.doc_id, r.ts.getTime))
        case Some(a) if a.doc_id != r.doc_id =>
          out += Candidate(r.doc_id, a.doc_id, bucket)
        case _ => ()
      }
    }
    anchor.foreach { a =>
      state.update(a)
      // evict once the watermark passes the anchor's own horizon (must stay
      // strictly ahead of the current watermark or Spark rejects it)
      state.setTimeoutTimestamp(
        math.max(a.ts_ms + horizonMs, state.getCurrentWatermarkMs() + 1))
    }
    out.result().iterator
  }

  /** Parse a watermark-style duration ("2 days", "1 hour") to millis. */
  private[streaming] def horizonMillis(horizon: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(horizon))
    require(iv.months == 0, s"month-based horizons are ambiguous: $horizon")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** Wire the stateful op over a doc stream `(doc_id, text, ts)`. The one
    * `horizon` value drives BOTH the watermark and state eviction. */
  def nearDupStream(docs: DataFrame, horizon: String = "2 days"): Dataset[Candidate] = {
    implicit val bandEnc = Encoders.product[BandRow]
    implicit val anchorEnc = Encoders.product[Anchor]
    implicit val candEnc = Encoders.product[Candidate]
    implicit val strEnc = Encoders.STRING
    bands(docs)
      .withWatermark("ts", horizon)
      .as[BandRow]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update(horizonMillis(horizon)))
  }
}
