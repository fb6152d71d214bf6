package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 streaming pin: the q256 micro-batched IVF upsert driven from a
  * REAL Structured Streaming source. foreachBatch delivery is
  * at-least-once with arbitrary batch boundaries; the PK anti-join merge
  * must make that effectively-once — the stored index after streaming
  * ingest (including a replayed batch) must be bit-identical to the
  * one-shot build over base ∪ batch. */
class Round9bSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("streaming IVF upsert: MemoryStream micro-batches with a replayed " +
       "batch converge to the one-shot index") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // bootstrap: base-only store (no merges yet)
    val store = graft.operators.Similarity.buildUpsertStore(spark, dir, merges = 0)
    val batchIds = graft.operators.Similarity.upsertBatch(spark, dir)
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(batchIds.nonEmpty)
    val groups = batchIds.grouped(math.max(1, batchIds.length / 3 + 1)).toSeq
    val input = MemoryStream[Long]
    val q = input.toDS().toDF("vec_id").writeStream
      .foreachBatch { (ids: DataFrame, _: Long) =>
        val idSeq = ids.collect().map(_.getLong(0)).toSeq
        if (idSeq.nonEmpty) {
          val mb = graft.operators.Similarity.upsertBatch(spark, dir)
            .filter(col("vec_id").isin(idSeq: _*))
          graft.operators.Similarity.upsertNovel(spark, store, mb)
            .localCheckpoint()
            .write.mode("append").partitionBy("cell")
            .parquet(s"$store/postings")
        }
      }
      .outputMode("append").start()
    try {
      groups.zipWithIndex.foreach { case (g, i) =>
        input.addData(g: _*)
        q.processAllAvailable()
        if (i == 0) { // at-least-once: redeliver the first batch verbatim
          input.addData(g: _*)
          q.processAllAvailable()
        }
      }
    } finally q.stop()
    def pairs(df: DataFrame): Seq[(Long, Long)] =
      df.select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val stored = pairs(spark.read.parquet(s"$store/postings"))
    val oneShot = pairs(graft.operators.Similarity.upsertAssignedAll(spark, dir))
    assert(stored.map(_._1).distinct.size == stored.size,
      "replayed batch produced duplicate postings")
    assert(stored == oneShot,
      "streamed index diverges from the one-shot build")
  }
}
