package graft

import graft.operators.{Dedup, EncodingQa, TextOps, UrlOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 second-half property tests: PageRank mass conservation (q152),
  * encoding-QA detector specificity (q153), and canonical-selection keeper
  * invariants against a driver-side naive recomputation (q154). */
class Round5bSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  // ---- q152 PageRank -----------------------------------------------------

  test("q152 PageRank conserves probability mass up to integer-truncation " +
       "leak, and every node holds at least the teleport share") {
    val rows = UrlOps.q152DomainPagerank(spark, dir).collect()
    assert(rows.nonEmpty)
    val n = rows.length.toLong
    val base = 150000L / n
    val total = rows.map(_.getLong(1)).sum
    // mass never exceeds 1e6 (truncation only loses), and the per-round
    // leak is bounded by one ppm per node (base) plus one per directed
    // edge (contrib): with ~2 edges/node and 8 rounds that is well under
    // 10% of the mass for any graph this fixture can produce
    assert(total <= 1000000L, s"mass grew: $total")
    assert(total >= 900000L, s"mass leaked implausibly: $total")
    rows.foreach { r =>
      assert(r.getLong(1) >= base,
        s"node ${r.getString(0)} below teleport share: ${r.getLong(1)} < $base")
    }
    // bipartite fixture sanity: both node classes present
    assert(rows.exists(_.getString(0).startsWith("src:")))
    assert(rows.exists(_.getString(0).startsWith("dom:")))
  }

  // ---- q153 encoding QA --------------------------------------------------

  test("q153 detectors are specific: the raw corpus carries zero " +
       "replacement/control/non-ASCII chars (every hit is injected)") {
    val clean = Tables.documents(spark, dir)
      .select(
        EncodingQa.nChar(col("text"), EncodingQa.replChar).as("r"),
        EncodingQa.nClass(col("text"), EncodingQa.ctrlClass).as("c"),
        EncodingQa.nClass(col("text"), EncodingQa.nonAsciiClass).as("a"))
      .agg(sum(col("r")), sum(col("c")), sum(col("a"))).collect()(0)
    assert(clean.getLong(0) === 0L, "replacement chars in clean corpus")
    assert(clean.getLong(1) === 0L, "control chars in clean corpus")
    assert(clean.getLong(2) === 0L, "non-ASCII in clean corpus")
    // and the injected tails are actually seen: every anomaly class is
    // nonzero in the report (the fixture has teeth)
    val rep = EncodingQa.q153EncodingQa(spark, dir).collect()
    assert(rep.map(_.getLong(5)).sum > 0, "no replacement chars detected")
    assert(rep.map(_.getLong(6)).sum > 0, "no control chars detected")
    assert(rep.map(_.getLong(7)).sum > 0, "no non-ASCII detected")
  }

  test("q153 plan is the q144 shape: one scan, one hash exchange, no join") {
    val df = EncodingQa.q153EncodingQa(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, s"expected 1 hash exchange:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"unexpected join in q153 plan:\n$plan")
  }

  // ---- q154 canonical selection ------------------------------------------

  test("q154 keeper counts match a driver-side recomputation, and every " +
       "cluster keeps exactly its max-quality member") {
    val clusters = Dedup.q42DedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val quality = TextOps.q35QualityScore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val source = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // naive keeper rule: per cluster, max quality then min doc_id
    val keepers = clusters.groupBy(_._2).map { case (_, ms) =>
      ms.map(_._1).minBy(d => (-quality(d), d))
    }.toSet
    val expectDropsBySource = clusters.map(_._1)
      .filterNot(keepers).groupBy(source).view.mapValues(_.length.toLong).toMap
    val got = Dedup.q154ClusterCanonical(spark, dir).collect()
    got.foreach { r =>
      val src = r.getString(0)
      assert(r.getLong(2) === expectDropsBySource.getOrElse(src, 0L),
        s"source $src n_dropped mismatch")
      assert(r.getLong(1) === r.getLong(2) + r.getLong(3),
        s"source $src kept+dropped != docs")
    }
    // the quality rule has teeth on this corpus: at least one cluster's
    // keeper differs from q74's min-id rule
    val minIdKeepers = clusters.groupBy(_._2).map(_._2.map(_._1).min).toSet
    assert((keepers -- minIdKeepers).nonEmpty,
      "fixture degenerate: quality keeper == min-id keeper everywhere")
  }

  // ---- q155 hard-negative mining -----------------------------------------

  test("q155 emits exactly one positive and three hard negatives per " +
       "anchor, ranks contiguous, and every negative is at least as " +
       "similar as any unmined different-label vector would allow") {
    val rows = graft.operators.Similarity.q155HardNegatives(spark, dir)
      .collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rs) =>
      val (pos, neg) = rs.partition(_.getString(1) == "pos")
      assert(pos.length === 1, s"anchor $q: ${pos.length} positives")
      assert(neg.length === 3, s"anchor $q: ${neg.length} negatives")
      assert(neg.map(_.getLong(2)).sorted.toSeq === Seq(1L, 2L, 3L))
      // negatives are ordered hardest-first
      val sims = neg.sortBy(_.getLong(2)).map(_.getDouble(4))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  // ---- q156 domain quality triage ----------------------------------------

  test("q156 per-domain rollup: blocked flags match the shared literal, " +
       "source fan-out bounded by doc count, average above minimum") {
    val rows = UrlOps.q156DomainQuality(spark, dir).collect()
    assert(rows.nonEmpty)
    val blocked = UrlOps.blockedDomains.toSet
    rows.foreach { r =>
      val dom = r.getString(0)
      assert((r.getLong(5) == 1L) === blocked.contains(dom),
        s"domain $dom blocked flag disagrees with the literal")
      assert(r.getLong(2) <= r.getLong(1), s"domain $dom sources > docs")
      assert(r.getLong(3) >= r.getLong(4),
        s"domain $dom avg below min: ${r.getLong(3)} < ${r.getLong(4)}")
    }
  }

  // ---- q157 MMR re-ranking -----------------------------------------------

  test("q157 MMR: five distinct selections per anchor, the first is the " +
       "raw top-1 neighbor, and diversity visibly re-orders at least one " +
       "anchor versus plain cosine top-5") {
    import graft.operators.Similarity
    val mmr = Similarity.q157MmrRerank(spark, dir).collect()
    val brute = Similarity.q32AnnBrute(spark, dir).collect()
    val bruteTop = brute.groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq).toMap
    val byQ = mmr.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rs) =>
      val ordered = rs.sortBy(_.getLong(1))
      assert(ordered.map(_.getLong(1)).toSeq === (1L to 5L),
        s"anchor $q steps not 1..5")
      val ids = ordered.map(_.getLong(2))
      assert(ids.distinct.length === ids.length, s"anchor $q reselected a doc")
      // greedy step 1 has no diversity term -> must equal brute rank-1
      assert(ids.head === bruteTop(q).head,
        s"anchor $q first MMR pick != top cosine neighbor")
    }
    val reordered = byQ.count { case (q, rs) =>
      rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq != bruteTop(q).take(5)
    }
    assert(reordered > 0,
      "diversity term never changed a top-5 — λ has no teeth on this corpus")
  }

  // ---- q158 winnowing match pairs ----------------------------------------

  test("q158 equals a driver-side recomputation from the selected " +
       "fingerprint index (df cut, pair counts, threshold)") {
    import graft.operators.Winnow
    val sel = Winnow.selected(spark, dir)
      .select(col("doc_id"), col("fp")).distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byFp = sel.groupBy(_._2).view
      .mapValues(_.map(_._1).distinct.sorted).toMap
      .filter { case (_, ds) => ds.length >= 2 && ds.length <= Winnow.MaxFpDf }
    val counts = scala.collection.mutable.Map.empty[(Long, Long), Long]
    byFp.values.foreach { ds =>
      for (i <- ds.indices; j <- i + 1 until ds.length)
        counts((ds(i), ds(j))) = counts.getOrElse((ds(i), ds(j)), 0L) + 1L
    }
    val expect = counts.filter(_._2 >= Winnow.MinShared).toMap
    val got = Winnow.q158WinnowPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === expect)
    assert(got.nonEmpty, "fixture degenerate: no winnowing match pairs")
  }

  // ---- q159 SQ8 recall ---------------------------------------------------

  test("q159 SQ8 quantization is near-lossless: recall@5 stays high for " +
       "every query (the audit would catch a broken quantizer)") {
    val rows = graft.operators.Similarity.q159Sq8Recall(spark, dir).collect()
    assert(rows.nonEmpty)
    val recalls = rows.map(_.getDouble(2))
    assert(recalls.min >= 0.6,
      s"SQ8 recall collapsed: min ${recalls.min}")
    assert(recalls.sum / recalls.length >= 0.9,
      s"SQ8 mean recall ${recalls.sum / recalls.length} below 0.9 — " +
        "254-level quantization should be near-lossless")
  }
}
