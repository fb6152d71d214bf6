package graft

import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 pins: incremental IVF-index maintenance (build+upsert must be
  * associative with a one-shot build and replay-idempotent — the q81
  * incremental-vs-batch contract applied to the q246 persisted index;
  * reference analog: the gap-repair loop
  * haskell-src/exec/Chainweb/Gaps.hs, re-running a repair is a no-op),
  * and the retrieval-eval cap discipline driven AT the cap boundary
  * (VERDICT r8 item 5 — the q196/q104 treatment for evalGold). */
class Round9Spec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def storedAssignment(store: String): Seq[(Long, Long)] =
    spark.read.parquet(s"$store/postings")
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("IVF upsert: merged store ≡ one-shot build over base ∪ batch, " +
       "and replaying the merge is a no-op (PK idempotence)") {
    // one-shot reference: every vector quantize-assigned against the
    // base-derived (frozen) centroids in a single pass, no storage
    val oneShot = graft.operators.Similarity.upsertAssignedAll(spark, dir)
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

    val once = storedAssignment(
      graft.operators.Similarity.buildUpsertStore(spark, dir, merges = 1))
    val thrice = storedAssignment(
      graft.operators.Similarity.buildUpsertStore(spark, dir, merges = 3))

    // total coverage: every embedding lands exactly once
    val total = Tables.embeddings(spark, dir).count()
    assert(once.size.toLong == total, s"store holds ${once.size} of $total")
    assert(once.map(_._1).distinct.size == once.size, "duplicate vec_id in store")
    // associativity: build(base) ⊕ upsert(batch) == build(base ∪ batch)
    assert(once == oneShot, "merged store diverges from the one-shot build")
    // idempotence: re-running the merge adds nothing, changes nothing
    assert(thrice == once, "merge replay is not a no-op")
  }

  test("IVF upsert merge plan: batch quantizes against BROADCAST stored " +
       "centroids; the PK anti-join reads only vec_id from the postings") {
    val store = graft.operators.Similarity.buildUpsertStore(spark, dir, merges = 1)
    val novel = graft.operators.Similarity.upsertNovel(spark, store,
      graft.operators.Similarity.upsertBatch(spark, dir))
    val plan = novel.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"shuffled cartesian:\n$plan")
    assert(PlanWalk.allNodes(novel)
      .exists(_.isInstanceOf[BroadcastExchangeExec]),
      s"centroids should broadcast:\n$plan")
    // column pruning: the stored-postings scan (the anti-join's existing
    // side) must read vec_id ALONE — cell is a partition column and the
    // vector payload must never leave the parquet footers
    // (the Location string is truncated in plan rendering — match the
    // store-relative prefix, not the full "postings" segment)
    val postingScans = plan.linesIterator
      .filter(l => l.contains("FileScan parquet") &&
                   l.contains("upsert_store/post") &&
                   l.contains("ReadSchema")).toSeq
    assert(postingScans.nonEmpty, s"no postings scan found:\n$plan")
    assert(postingScans.forall(_.contains("ReadSchema: struct<vec_id:bigint>")),
      s"postings scan reads more than vec_id:\n${postingScans.mkString("\n")}")
  }

  test("retrieval eval cap discipline AT the boundary: stride-1 over the " +
       "whole corpus still yields exactly `cap` ordered queries and a " +
       "broadcast-bounded, window-free gold-rank plan") {
    val cap = graft.operators.Retrieval.MaxEvalQueries
    val corpus = Tables.documents(spark, dir).count()
    assert(corpus > cap, s"fixture too small to bind the cap ($corpus ≤ $cap)")
    // worst case: every doc is a candidate query — the cap must bind
    val gold = graft.operators.Retrieval
      .evalGold(spark, dir, stride = 1L, residue = 0L, cap = cap)
    assert(gold.size == cap, s"cap did not bind: ${gold.size}")
    // deterministic prefix: the `cap` smallest doc_ids, in order
    val ids = gold.map(_._1)
    assert(ids == ids.sorted, "eval queries not id-ordered")
    val expect = Tables.documents(spark, dir)
      .select(col("doc_id")).orderBy(col("doc_id")).limit(cap)
      .collect().map(_.getLong(0)).toSeq
    assert(ids == expect, "eval set is not the ordered id prefix")
    // and the full q238 body over this boundary set keeps the pinned
    // shape: gold rank stays an aggregate (NO window anywhere), the
    // cap-sized relations broadcast, nothing goes cartesian
    val termPairs = gold.flatMap { case (q, ts) => ts.map(t => (q, t)) }
    val mr = graft.operators.Retrieval.mrrEvalFor(spark, dir, termPairs)
    val plan = mr.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian at boundary:\n$plan")
    assert(!plan.contains("windowspecdefinition"),
      s"gold rank regressed to a window at the boundary:\n$plan")
    assert(PlanWalk.allNodes(mr).exists(_.isInstanceOf[BroadcastExchangeExec]),
      s"eval relations should broadcast at the boundary:\n$plan")
    // self-retrieval sanity: every query finds its own gold row
    val out = mr.collect()
    assert(out.length == cap, s"expected $cap rank rows, got ${out.length}")
    assert(out.forall(_.getLong(out.head.fieldIndex("gold_rank")) >= 1L))
  }
}
