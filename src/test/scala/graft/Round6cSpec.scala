package graft

import java.nio.file.Files

import graft.operators.{Dedup, Integrity, Releases, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 operator teeth: the integrity audit fires on every corruption
  * class (zeros are proven, not assumed), the release diff's statuses
  * partition both releases with closed-form counts, kappa replays from the
  * confusion matrix, and the LSH sweep's configs order the way banding
  * theory says they must. */
class Round6cSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q188 integrity: clean corpus proves zero violations; every " +
       "corruption class fires on a corrupted copy") {
    val clean = Integrity.q188IntegrityAudit(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(clean.size === 7)
    // Every FK and the single-column PKs audit clean — but the audit
    // CAUGHT a real property of the driver's synthetic corpus: lineitem's
    // (l_orderkey, l_linenumber) is NOT unique there. Verify the reported
    // count against an independent driver-side recount rather than
    // assuming zero.
    for (k <- clean.keys if k != "lineitem_pk_unique")
      assert(clean(k)._2 === 0L, s"$k must audit clean: $clean")
    val pairs = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber")).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue))
    val expectedDup = (pairs.length - pairs.distinct.length).toLong
    assert(clean("lineitem_pk_unique")._2 === expectedDup,
      "audit must report the corpus's true composite-PK duplication")

    // corrupted copy: dup customer PK, orphan order FK, dup lineitem PK,
    // orphan lineitem part/supplier/order FKs
    val bad = Files.createTempDirectory("graft_integrity").toString
    val cust = Tables.customer(spark, dir)
    cust.union(cust.limit(1)).write.parquet(s"$bad/customer.parquet")
    val ord = Tables.orders(spark, dir)
    ord.union(ord.limit(2).withColumn("o_custkey", lit(-99L)))
      .write.parquet(s"$bad/orders.parquet")
    val li = Tables.lineitem(spark, dir)
    li.union(li.limit(1)) // dup PK
      .union(li.limit(3).withColumn("l_partkey", lit(-1L)))
      .union(li.limit(1).withColumn("l_suppkey", lit(-1L))
               .withColumn("l_linenumber", lit(900L)))
      .union(li.limit(2).withColumn("l_orderkey", lit(-7L)))
      .write.parquet(s"$bad/lineitem.parquet")
    Tables.part(spark, dir).write.parquet(s"$bad/part.parquet")
    Tables.supplier(spark, dir).write.parquet(s"$bad/supplier.parquet")

    val got = Integrity.q188IntegrityAudit(spark, bad).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got("customer_pk_unique") === 1L)
    assert(got("orders_pk_unique") === 2L)   // orphan rows reuse their PKs
    assert(got("orders_fk_customer") === 2L)
    assert(got("lineitem_fk_part") === 3L)
    assert(got("lineitem_fk_supplier") === 1L)
    assert(got("lineitem_fk_orders") === 2L)
    // baseline corpus duplication plus the injected dup row must fire
    assert(got("lineitem_pk_unique") > clean("lineitem_pk_unique")._2)
  }

  test("q185 release diff: statuses partition both releases; counts match " +
       "the carving moduli in closed form") {
    val diff = Releases.q185ReleaseDiff(spark, dir).collect()
      .groupBy(_.getString(1)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    val ids = Tables.documents(spark, dir).select(col("doc_id"))
      .collect().map(_.getLong(0))
    val added = ids.count(_ % 16 == 0)
    val removed = ids.count(_ % 16 == 5)
    val changed = ids.count(i => i % 8 == 3 && i % 16 != 5)
    val unchanged = ids.length - added - removed - changed
    assert(diff("added") === added.toLong)
    assert(diff("removed") === removed.toLong)
    assert(diff("changed") === changed.toLong)
    assert(diff("unchanged") === unchanged.toLong)
  }

  test("q186 kappa replays exactly from q177's confusion matrix") {
    val conf = TextOps.q177LangConfusion(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val n = conf.map(_._3).sum
    val agree = conf.collect { case (a, p, c) if a == p => c }.sum
    val rows = conf.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val cols = conf.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val chance = rows.keySet.intersect(cols.keySet).toSeq
      .map(k => BigInt(rows(k)) * BigInt(cols(k))).sum
    val expected = ((BigInt(1000000) * (BigInt(n) * agree - chance)) /
      (BigInt(n) * n - chance)).max(BigInt(0))
    val got = TextOps.q186MetadataKappa(spark, dir).collect().head
    assert(got.getLong(0) === n && got.getLong(1) === agree)
    assert(BigInt(got.getLong(4)) === expected)
    // κ must sit strictly below raw agreement (chance correction bites)
    assert(got.getLong(4) < got.getLong(2))
  }

  test("q184 sweep: recall monotone in rows-per-band, verified ⊆ truth, " +
       "and the (4,2) leg IS q29's banding") {
    val rows = Dedup.q184LshBandSweep(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
                 r.getLong(5)))
      .sortBy(_._1) // rows_per_band asc: 1, 2, 4
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 4L))
    val recalls = rows.map(_._5)
    assert(recalls(0) >= recalls(1) && recalls(1) >= recalls(2),
      s"recall must not increase with rows/band: ${recalls.toSeq}")
    assert(rows.forall { case (_, _, ver, truth, _) => ver <= truth })
    val q29n = Dedup.q29LshNearDup(spark, dir).count()
    assert(rows.find(_._1 == 2L).get._3 === q29n,
      "the (4,2) leg must reproduce q29's verified pair count")
  }

  test("q187 collocations: descending lift, count floor honored, top row " +
       "replays from raw counts") {
    val got = TextOps.q187Collocations(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4)))
    assert(got.length === 20)
    assert(got.map(_._5).toSeq === got.map(_._5).sortBy(-_).toSeq)
    assert(got.forall(_._2 >= TextOps.MinColloc))
    // replay the top row's lift from independent corpus counts
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(_.getString(1).split("\\s+").toSeq)
    val nUni = docs.map(_.size).sum
    val nBig = docs.map(d => math.max(d.size - 1, 0)).sum
    val (term, cab, ca, cb, lift) = got.head
    val Array(w1, w2) = term.split(" ", 2)
    assert(docs.map(_.count(_ == w1)).sum === ca)
    assert(docs.map(_.count(_ == w2)).sum === cb)
    assert(docs.map(_.sliding(2).count(p => p.length == 2 &&
      p.head == w1 && p(1) == w2)).sum === cab)
    assert((BigInt(1000000) * cab * nUni * nUni /
      (BigInt(nBig) * ca * cb)) === BigInt(lift))
  }
}
