package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 batch 2 pins: the preference-analytics family (q262
  * Bradley–Terry, q265 cyclic-triad census) and the persisted inverted
  * index (q263 build accounting, q264 serve-from-storage ≡ q150). */
class Round10bSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q262 Bradley-Terry: wins/losses conserve the decisive pairs, " +
       "games tie out, strengths normalize to |S|·1e6 within truncation, " +
       "and the fit genuinely separates sources") {
    val rows = operators.Preference.q262BtStrength(spark, dir).collect()
    assert(rows.nonEmpty)
    val sumW = rows.map(_.getLong(1)).sum
    val sumL = rows.map(_.getLong(2)).sum
    assert(sumW === sumL, "every decisive pair has exactly one winner+loser")
    rows.foreach(r => assert(r.getLong(3) === r.getLong(1) + r.getLong(2)))
    val s = rows.length.toLong
    val sumP = rows.map(_.getLong(4)).sum
    // each strength is floor-truncated from an exact ratio summing to S·1e6
    assert(sumP <= s * 1000000L && sumP > s * 1000000L - s,
      s"normalization drifted: $sumP vs ${s * 1000000L}")
    assert(rows.map(_.getLong(4)).distinct.length > 1,
      "BT fit collapsed to a constant — no separation")
    // MM fixed point pulls a zero-win source to strength 0 and any
    // undefeated source above the uniform start
    rows.filter(_.getLong(1) === 0L).foreach(r => assert(r.getLong(4) === 0L))
  }

  test("q262/q265 upstream win matrix shuffles no join: inline sq (the " +
       "q214 discipline) + two-phase rank's bounded offset broadcast only") {
    val plan = operators.Preference.winMatrix(spark, dir)
      .queryExecution.executedPlan.toString
    // the only join allowed is globalRankBy's ≤257-row bucket-offset
    // broadcast; a doc_id-keyed shuffle join would mean the sq relation
    // got joined instead of recomputed inline
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"win matrix grew a shuffled corpus join:\n$plan")
  }

  test("q265 triad census matches a naive driver-side combinatorial " +
       "recompute of the majority tournament") {
    val g = operators.Preference.winMatrix(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val players = g.keys.flatMap(k => Seq(k._1, k._2)).toSeq.distinct.sorted
    def edge(a: String, b: String): Boolean =
      g.getOrElse((a, b), 0L) > g.getOrElse((b, a), 0L)
    val triples = for {
      i <- players.indices; j <- (i + 1) until players.length
      k <- (j + 1) until players.length
    } yield (players(i), players(j), players(k))
    val complete = triples.filter { case (a, b, c) =>
      (edge(a, b) || edge(b, a)) && (edge(b, c) || edge(c, b)) &&
      (edge(a, c) || edge(c, a))
    }
    val cyclic = complete.count { case (a, b, c) =>
      (edge(a, b) && edge(b, c) && edge(c, a)) ||
      (edge(a, c) && edge(c, b) && edge(b, a))
    }
    val row = operators.Preference.q265PrefCycles(spark, dir).collect().head
    val decisiveEdges = players.combinations(2).count {
      case Seq(a, b) => edge(a, b) || edge(b, a)
      case _         => false
    }
    assert(row.getLong(0) === players.length.toLong)
    assert(row.getLong(1) === decisiveEdges.toLong)
    assert(row.getLong(2) === complete.length.toLong)
    assert(row.getLong(3) === cyclic.toLong)
    assert(row.getLong(4) === (complete.length - cyclic).toLong)
  }

  test("q264 serve-from-storage enumerates q150 row-for-row") {
    val fresh = operators.Retrieval.q150Bm25TopK(spark, dir)
      .collect().map(_.toSeq).toSeq
    val served = operators.Retrieval.q264TextIndexQuery(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(served.nonEmpty)
    assert(served === fresh)
  }

  test("q264 reads the postings through directory pruning: " +
       "PartitionFilters on bucket, files scanned strictly below the " +
       "full index") {
    val store = operators.Retrieval.buildTextIndex(spark, dir)
    val read = operators.Retrieval.servingRead(spark, store)
    read.collect() // metrics populate on execution (shuffle-free plan)
    val scan = read.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.toString.contains("PartitionFilters: ["),
      "bucket filter did not reach the partition layer")
    assert(scan.toString.contains("bucket"),
      "PartitionFilters lost the bucket column")
    val total = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Path.of(store, "postings"))
        .iterator().asScala.count(_.toString.endsWith(".parquet"))
    }
    val scanned = scan.metrics("numFiles").value
    assert(scanned > 0 && scanned < total,
      s"scanned $scanned of $total posting files — no pruning")
  }

  test("q263 build accounting conserves the raw TF relation") {
    val rows = operators.Retrieval.q263TextIndexBuild(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= operators.Retrieval.IndexBuckets)
    val direct = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("term"))
      .groupBy(col("doc_id"), col("term")).count()
    assert(rows.map(_.getLong(2)).sum === direct.count(),
      "posting rows != distinct (doc_id, term) pairs")
    assert(rows.map(_.getLong(3)).sum ===
      direct.agg(sum(col("count"))).first().getLong(0),
      "tf mass not conserved")
  }
}
