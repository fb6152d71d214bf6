package graft
import graft.operators.Dedup
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("local[32]")
    spark.sparkContext.setLogLevel("WARN")
    val base = Tables.documents(spark, "/root/testdata/sf0.1")
    // 20x corpus (100k docs); each copy gets a distinct trailing token so
    // copies are NEAR-dups (jaccard ~0.95), making this a worst-case
    // pair-explosion test: every 20-copy family collides in LSH buckets.
    spark.range(20).crossJoin(base)
      .select((col("doc_id") + col("id") * 1000000L).as("doc_id"),
              concat(col("text"), lit(" copytag"), col("id")).as("text"),
              col("lang"), col("source"), col("n_chars"))
      .coalesce(8)
      .write.mode(SaveMode.Overwrite).parquet("/tmp/stress_sf/documents.parquet")
    println(s"docs=${spark.read.parquet("/tmp/stress_sf/documents.parquet").count()}")
    // same per-run hygiene as Bench: drop checkpoint blocks outside the
    // timed window so the cleaner doesn't stall a later measurement
    def clean(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    for (i <- 1 to 2) {
      clean()
      val t0 = System.nanoTime()
      val pairs = Dedup.q29LshNearDup(spark, "/tmp/stress_sf").count()
      println(f"run$i pairs=$pairs t=${(System.nanoTime()-t0)/1e9}%.1fs")
    }
    clean()
    val t1 = System.nanoTime()
    val clusters = Dedup.q42DedupClusters(spark, "/tmp/stress_sf")
    val nNodes = clusters.count()
    val nClusters = clusters.select("cluster_id").distinct().count()
    println(f"cc nodes=$nNodes clusters=$nClusters t=${(System.nanoTime()-t1)/1e9}%.1fs")

    clean()
    // Distributed-CC stress: a pathological graph no plain min-propagation
    // survives — 500k extra path edges including one 100k-diameter chain —
    // forced through the DISTRIBUTED pointer-jumping path. Converges in
    // O(log diameter) rounds; labels spot-checked against ground truth
    // (every chain node's root is the chain head).
    import spark.implicits._
    val chain = spark.range(100000L)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val stars = spark.range(100000L, 300000L)
      .select(col("id").as("doc_a"), (col("id") % 1000 + 10000000L).as("doc_b"))
    val t2 = System.nanoTime()
    val cc = Dedup.distributedCC(chain.union(stars).localCheckpoint())
    val chainOk = cc.filter(col("doc_id") <= 100000L)
      .filter(col("cluster_id") =!= 0L).count() == 0
    println(f"cc2 nodes=${cc.count()} chain100k_correct=$chainOk " +
      f"t=${(System.nanoTime() - t2) / 1e9}%.1fs")
    spark.stop()
  }
}
