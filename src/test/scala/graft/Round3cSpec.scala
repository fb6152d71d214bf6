package graft

import graft.operators.{SimJoin, TextOps, TrainPrep}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 additions, third batch: exact similarity join (PPJoin family)
  * and the training-prep trio (epoch shuffle, int8 quantization, padding
  * waste). Oracle-checked by the driver; these tests pin the lossless-
  * filtering property, determinism, and value-range invariants. */
class Round3cSpec extends AnyFunSuite with SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("q82 prefix-filtered join ≡ naive all-pairs (lossless filtering)") {
    // The PPJoin candidate set must provably contain every qualifying
    // pair; this recomputes the answer with a plain cross join + exact
    // Jaccard and demands set equality, pair for pair.
    val fast = SimJoin.q82JaccardJoin(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val d = TextOps.tokenized(spark, dir)
      .select(col("doc_id"), col("sh")).filter(size(col("sh")) > 0)
    val naive = d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      .crossJoin(d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("i", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("u", size(col("sh_a")) + size(col("sh_b")) - col("i"))
      .filter(col("i") * 2 >= col("u"))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(fast == naive,
      s"missed=${(naive -- fast).take(5)} extra=${(fast -- naive).take(5)}")
  }

  test("q82 matches the LSH pass on the planted near-dups (recall oracle)") {
    val exact = SimJoin.q82JaccardJoin(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.operators.Dedup.q29LshNearDup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH can only MISS pairs (banding), never invent them: its verified
    // output must be a subset of the exact join's.
    assert(lsh.subsetOf(exact), s"LSH emitted non-pairs: ${(lsh -- exact).take(5)}")
  }

  test("q83 epoch shuffle is deterministic, dense, and bounded") {
    val a = TrainPrep.q83EpochShuffle(spark, dir).collect()
    val b = TrainPrep.q83EpochShuffle(spark, dir).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)), "not deterministic")
    val byShard = a.groupBy(_.getLong(1))
    assert(byShard.keys.forall(s => s >= 0 && s < 64))
    // positions within a shard are exactly 1..count (a reader can stream
    // the shard file in pos order with no gaps)
    byShard.foreach { case (s, rows) =>
      val ps = rows.map(_.getLong(2)).sorted
      assert(ps.sameElements(1L to rows.length.toLong), s"holes in shard $s")
    }
  }

  test("q84 quantization stays in int8 range and reconstructs tightly") {
    val rows = TrainPrep.q84QuantizeInt8(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getDouble(1); val sumAbsQ = r.getLong(2); val mse = r.getDouble(3)
      assert(scale > 0)
      // 64 dims × |q| ≤ 127 each
      assert(sumAbsQ >= 0 && sumAbsQ <= 127L * 64, s"row $r out of int8 range")
      // max per-element error is scale/254 (half a quantization step), so
      // mse ≤ (scale/254)^2; allow double dust
      val bound = (scale / 254.0) * (scale / 254.0) * 1.000001 + 1e-12
      assert(mse >= 0 && mse <= bound, s"mse $mse exceeds step bound $bound")
    }
  }

  // the name predates the removal of the doubling variant; the loop is now
  // checked against a plain-Scala reference walk
  test("resolveCodeDoubling ≡ resolveCode loop, incl. beyond-cap chains") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // random forest: long parent chains, sparse codes, dangling parents,
    // roots, and a chain longer than the 25-depth cap — every terminal
    // case of the walk
    val nodes = (0 until 400).map { i =>
      val parent: java.lang.Long =
        if (i == 0 || rnd.nextInt(10) == 0) null          // root
        else if (rnd.nextInt(50) == 0) java.lang.Long.valueOf(9999L + i) // dangling
        else java.lang.Long.valueOf((i - 1 - rnd.nextInt(math.min(i, 3))).toLong)
      val code: String =
        if (rnd.nextInt(30) == 0) s"code$i" else null     // sparse ⇒ deep walks
      (i.toLong, parent, code)
    } ++ (400 until 440).map { i => // one code-free 40-node chain: the cap
      (i.toLong, if (i == 400) null else java.lang.Long.valueOf(i - 1L), null: String)
    }
    // reference: every node with a parent is a seed; walk from the seed
    // itself until a code, a root, a dangling parent or 25 hops
    val byId = nodes.map(n => n._1 -> n).toMap
    val want: Map[Long, (Seq[Long], String)] = nodes.filter(_._2 != null).map {
      case (id, parent, code) =>
        var chain = Vector(id); var found = code; var cur = parent; var hops = 0
        while (found == null && cur != null && hops < 25) {
          hops += 1
          byId.get(cur.longValue) match {
            case Some((n, p, c)) => chain :+= n; found = c; cur = p
            case None            => cur = null
          }
        }
        id -> (chain, found)
    }.toMap
    val got = graft.operators.ContHistory.resolveCode(nodes.toDF("id", "parent", "code"))
      .collect().map(r => r.getAs[Long]("seed") ->
        (r.getAs[scala.collection.Seq[Long]]("chain").toSeq, r.getAs[String]("chain_code")))
    assert(got.length === want.size, "not one row per seed")
    assert(got.toMap == want,
      s"only-spark=${(got.toSet -- want.toSet).take(5)} only-ref=${(want.toSet -- got.toSet).take(5)}")
    // chain_code is null at each terminal case, and the forest has each
    val unresolved = want.values.filter(_._2 == null).map(_._1)
    assert(unresolved.exists(c => c.length < 26 && byId(c.last)._2 == null), "no root end")
    assert(unresolved.exists(c => c.length < 26 && byId(c.last)._2 != null), "no dangling end")
    assert(unresolved.exists(_.length == 26), "no cap end")
  }

  test("q82/q83 plan shapes: no cartesian, no single-partition window") {
    // q82's whole point is never degenerating to all-pairs: the plan must
    // contain only equi-joins (hash/sort-merge), no nested-loop/cartesian
    val q82 = SimJoin.q82JaccardJoin(spark, dir)
    q82.collect() // force AQE-final plan
    val p82 = q82.queryExecution.executedPlan.toString
    assert(!p82.contains("CartesianProduct") && !p82.contains("BroadcastNestedLoop"),
      s"non-equi join in q82 plan:\n$p82")
    // q83's per-shard windows must never collapse to one partition
    val q83 = TrainPrep.q83EpochShuffle(spark, dir)
    q83.collect()
    val p83 = q83.queryExecution.executedPlan.toString
    assert(!p83.contains("Exchange SinglePartition"),
      s"single-partition exchange in q83 plan:\n$p83")
  }

  test("q87 pigeonhole pairing ≡ naive all-pairs popcount") {
    val fast = graft.operators.Dedup.q87SimhashPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sig = Tables.documents(spark, dir)
      .select(col("doc_id"), call_function("graft_simhash", col("text")).as("s"))
    val naive = sig.select(col("doc_id").as("a"), col("s").as("sa"))
      .crossJoin(sig.select(col("doc_id").as("b"), col("s").as("sb")))
      .filter(col("a") < col("b"))
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 1)
      .select(col("a"), col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == naive,
      s"missed=${(naive -- fast).take(5)} extra=${(fast -- naive).take(5)}")
  }

  test("q91 64-bit pigeonhole pairing ≡ naive popcount (incl. sign bit)") {
    val fast = graft.operators.Dedup.q91Simhash64Pairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sig = Tables.documents(spark, dir)
      .select(col("doc_id"), call_function("graft_simhash64", col("text")).as("s"))
    // fingerprints with the sign bit set must round-trip the block split
    assert(sig.filter(col("s") < 0).count() > 0, "fixture never sets bit 0")
    val naive = sig.select(col("doc_id").as("a"), col("s").as("sa"))
      .crossJoin(sig.select(col("doc_id").as("b"), col("s").as("sb")))
      .filter(col("a") < col("b"))
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
      .select(col("a"), col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == naive,
      s"missed=${(naive -- fast).take(5)} extra=${(fast -- naive).take(5)}")
  }

  test("q86 HLL estimate lands within the published error envelope") {
    // sf0.01, not the usual sf0.001: the raw estimator's contract is the
    // saturated regime n ≫ m (the scaladoc's stated operating point) —
    // at 15 distinct/group the omitted linear-counting branch would own
    // the estimate and the envelope doesn't apply
    val rows = graft.operators.Sketches.q86HllDistinct(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val est = r.getDouble(3)
      // 1.04/√64 ≈ 13% standard error; allow 3σ
      assert(math.abs(est / exact - 1.0) < 3 * 1.04 / 8,
        s"estimate $est too far from exact $exact")
    }
    // determinism: a re-run produces identical estimates
    val again = graft.operators.Sketches.q86HllDistinct(spark, "/root/testdata/sf0.01").collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("q85 padding waste partitions the corpus and bounds the ratio") {
    val rows = TrainPrep.q85PaddingWaste(spark, dir).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val docs = Tables.documents(spark, dir).count()
    assert(total == docs, s"bucket partition lost docs: $total != $docs")
    rows.foreach { r =>
      val ratio = r.getAs[Double]("pad_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
      // only the largest bucket may truncate
      if (r.getAs[Long]("bucket") < 128L)
        assert(r.getAs[Long]("trunc_tokens") == 0L)
    }
  }
}
