package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Continuation (pact) history — the reference's recursive-CTE join
  * (SURVEY §2.3 J2, §2.4 A7: chainweb-data lib/ChainwebDb/Queries.hs:112-137
  * follows `pactid → requestkey` to the root and aggregates
  * `array_agg(requestkey ORDER BY depth)` plus the first non-null code).
  *
  * Spark has no recursive CTE; pact chains are short (multi-step defpacts,
  * ≤ ~10), so a bounded iterative join with per-iteration checkpoints is
  * faithful and scale-safe (SURVEY §7.3.1) — each step is one equi-join
  * on the node id, and the frontier only shrinks. [[resolveCode]] is the
  * one walk; [[chains]] runs it over a pinned read of the ingested
  * transactions (the tx-search source, [[TxSearch.source]]) and q63
  * ([[TxSearch.q63SearchChainCode]]) over the synthetic events.
  */
object ContHistory {

  /** For every continuation tx of `tx` (a read of the `transactions`
    * table): the ancestor chain (self first, root last) and the chain's
    * code (first non-null walking up), one row per request key in no
    * particular order. The walk runs over ONE node per request key: orphan
    * fork twins carry the same request key (and so the same command), and a
    * node per copy would multiply every chain through a twin. */
  def chains(tx: DataFrame, maxDepth: Int = 25): DataFrame =
    resolveCode(
      tx.select(col("requestkey").as("id"), col("pactid").as("parent"), col("code"))
        .dropDuplicates("id"),
      maxDepth)
      .select(col("seed").as("requestkey"), col("chain"), col("chain_code"))

  /** First-non-null-code ancestor walk over an edge relation
    * `nodes(id, parent, code)` with one row per id — the abstract shape of
    * the reference's recursive continuation CTE (Queries.hs:112-137). Every
    * node with a parent is a seed; its walk starts at itself and follows
    * parent links until a node with a code, a root, a dangling parent or
    * the `maxDepth`-hop cap. Returns `(seed, chain, chain_code)`, one row
    * per seed: `chain` lists the visited node ids (seed first), and
    * `chain_code` is the code the walk stopped at — null when it ended at
    * a root, a dangling parent or the cap.
    *
    * One Spark job per round: only `stepped` is checkpointed (lazily, and
    * materialized by the frontier count that also drives the loop exit);
    * the frontier and the resolved accumulator are lazy views over it. Two
    * ancestor hops fuse into each round (two in-plan joins, one scheduled
    * job): the loop is latency-bound by scheduling round-trips, not data,
    * so halving the rounds halves its cost. An odd `maxDepth` tail runs a
    * 1-hop round, so the depth cap is exact. */
  def resolveCode(nodes: DataFrame, maxDepth: Int = 25): DataFrame = {
    val n = nodes.select(col("id"), col("parent"), col("code")).localCheckpoint()
    def hop(cur: String, parent: String, code: String, hit: String) =
      n.select(col("id").as(cur), col("parent").as(parent), col("code").as(code),
               lit(true).as(hit))
    // a join hit appends the visited node; a miss (dangling parent) ends
    // the walk without it
    def visit(chain: Column, hit: String, node: String) =
      when(col(hit), concat(chain, array(col(node)))).otherwise(chain)
    val seeds = n.filter(col("parent").isNotNull)
      .select(col("id").as("seed"), array(col("id")).as("chain"),
              col("code").as("chain_code"), col("parent").as("cur"))
    var resolved = seeds.filter(col("chain_code").isNotNull)
      .select(col("seed"), col("chain"), col("chain_code"))
    var frontier = seeds.filter(col("chain_code").isNull)
      .select(col("seed"), col("chain"), col("cur"))
    var d = 0
    // no isEmpty probe: a first round over an empty frontier costs what
    // the probe itself would
    var frontierLive = true
    while (d < maxDepth && frontierLive) {
      val hops = math.min(2, maxDepth - d)
      val hop1 = frontier.join(hop("cur", "p2", "c2", "h2"), Seq("cur"), "left")
      val stepped = (if (hops == 2)
        hop1.join(hop("p2", "p3", "c3", "h3"), Seq("p2"), "left")
      else
        hop1.withColumn("p3", lit(null).cast(hop1.schema("p2").dataType))
            .withColumn("c3", lit(null).cast("string"))
            .withColumn("h3", lit(null).cast("boolean")))
        .localCheckpoint(eager = false)
      val cont1 = col("c2").isNull && col("p2").isNotNull // hop1 didn't end it
      val cont2 = col("c3").isNull && col("p3").isNotNull // hop2 didn't either
      val live = if (hops == 2) cont1 && cont2 else cont1
      val chain1 = visit(col("chain"), "h2", "cur")
      val chain2 = visit(chain1, "h3", "p2") // chain1 after a 1-hop round
      val nFrontier = stepped.filter(live).count()
      resolved = resolved.unionByName(stepped.filter(!cont1)
        .select(col("seed"), chain1.as("chain"), col("c2").as("chain_code")))
      if (hops == 2) resolved = resolved.unionByName(stepped.filter(cont1 && !cont2)
        .select(col("seed"), chain2.as("chain"), col("c3").as("chain_code")))
      frontier = stepped.filter(live)
        .select(col("seed"), chain2.as("chain"), col(if (hops == 2) "p3" else "p2").as("cur"))
      frontierLive = nFrontier > 0
      d += hops
    }
    // seeds still walking at the cap end unresolved: one row per seed
    resolved.unionByName(
      frontier.select(col("seed"), col("chain"), lit(null).cast("string").as("chain_code")))
  }
}
