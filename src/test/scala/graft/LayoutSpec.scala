package graft

import java.nio.file.Files

import graft.sources.Layout
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The partition layout must actually prune: a height-range read over the
  * clustered table may only touch the matching (chain, bucket) leaves. */
class LayoutSpec extends AnyFunSuite with SparkSpec {

  test("height-clustered write prunes partitions on range reads") {
    import spark.implicits._
    val blocks = (0L until 4L).flatMap { cid =>
      (0L until 400000L by 1000L).map(h => (cid, h, s"hash-$cid-$h"))
    }.toDF("chainid", "height", "hash")
    val path = Files.createTempDirectory("graft_layout").toString
    Layout.writeHeightClustered(blocks, path)

    val slice = Layout.readHeightRange(spark, path, chain = 2, lo = 150000, hi = 249999)
    val rows = slice.collect()
    assert(rows.length === 100)
    // partition columns come back type-inferred from directory names (int)
    assert(rows.forall(_.getAs[Number]("chainid").longValue == 2L))

    // Physical proof: the scan's numFiles metric counts only the pruned
    // leaves (chainid=2 × height_bucket∈{1,2}), not the whole table.
    val scan = slice.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val totalLeaves = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Path.of(path)).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
    }
    val scanned = scan.metrics("numFiles").value
    assert(scanned > 0 && scanned <= totalLeaves / 4,
           s"scanned $scanned of $totalLeaves leaves — pruning didn't happen")

    // And the plan prunes BEFORE the scan (PartitionFilters, not a post-filter).
    assert(scan.toString.contains("PartitionFilters: [isnotnull"))
  }
}
