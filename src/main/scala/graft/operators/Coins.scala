package graft.operators

import java.math.{BigDecimal => JBigDecimal}

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Circulating coin supply — the REAL schedule (chainweb-data
  * exec/Chainweb/Coins.hs), not a stand-in: the two public CSVs the
  * reference embeds into its binary via TemplateHaskell (Coins.hs:39-44)
  * ship here as classpath resources, and
  * `getCirculatingCoins height time = miningRewards(height) +
  * allocations(time)` (Coins.hs:118-158) is reproduced decimal-exact.
  *
  * Spark-first shape (X6): both cumulative schedules are dimensions
  * (1,434 reward thresholds, 273 allocation timestamps) — built once on
  * the driver exactly like the reference's `Map.lookupLE` maps, then
  * broadcast; probes do a per-row binary search. The probe scan stays
  * embarrassingly parallel: scan → project, no shuffle, no join — the only
  * shape that survives a 100 TB probe side.
  *
  * Faithful quirks preserved:
  *   - `token_payments.csv` is decoded `HasHeader` (Coins.hs:113-116)
  *     although the file has NO header row — the first allocation row
  *     (Coinlist Non-US_0, 10M KDA) is skipped by the reference and
  *     therefore skipped here (and by the DuckDB oracle via header=true).
  *   - `miner_rewards.csv` is `NoHeader` — all 1,435 rows used.
  *   - allocation sections are grouped by consecutive-equal timestamps in
  *     FILE order (Coins.hs:129-142 `getSection`); the file is time-sorted,
  *     making this equal to a group-by, which the oracle exploits.
  */
object Coins {

  /** Genesis: 2019-10-30T00:00:00Z (Coins.hs:162-164). */
  val GenesisEpochSec = 1572393600L

  /** 30-second target block time (Coins.hs:166-176 `heightToDate`). */
  val BlockIntervalSec = 30L

  def heightToEpochSec(height: Long): Long = GenesisEpochSec + BlockIntervalSec * height

  private def resource(name: String): Seq[String] = {
    val in = getClass.getResourceAsStream(s"/graft/data/$name")
    require(in != null, s"missing embedded resource $name")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }

  /** (threshold height, per-block reward) rows, file order (NoHeader). */
  lazy val minerRewards: Vector[(Long, JBigDecimal)] =
    resource("miner_rewards.csv").filter(_.nonEmpty).map { line =>
      val Array(h, r) = line.split(",", 2)
      (h.toLong, new JBigDecimal(r))
    }.toVector

  /** Cumulative rewards step table (Coins.hs:152-158): entries
    * (segmentStartHeight, totalMintedBefore, perBlockReward), keyed at 0 and
    * each threshold; final entry carries reward 0 (schedule exhausted).
    * `rewards(h) = total + (h - start) * reward` for the greatest
    * start <= h. */
  lazy val cumulativeRewards: Vector[(Long, JBigDecimal, JBigDecimal)] = {
    val b = Vector.newBuilder[(Long, JBigDecimal, JBigDecimal)]
    var lastH = 0L
    var total = JBigDecimal.ZERO
    minerRewards.foreach { case (h, reward) =>
      b += ((lastH, total, reward))
      total = total.add(reward.multiply(new JBigDecimal(h - lastH)))
      lastH = h
    }
    b += ((lastH, total, JBigDecimal.ZERO))
    b.result()
  }

  /** Cumulative allocations step table (Coins.hs:129-142): consecutive
    * equal-timestamp sections in file order, running totals; first file row
    * skipped (the HasHeader quirk). Entries (epochSec, cumulativeTotal). */
  lazy val cumulativeAllocations: Vector[(Long, JBigDecimal)] = {
    val rows = resource("token_payments.csv").drop(1).filter(_.nonEmpty).map { line =>
      val cols = line.split(",")
      val ts = java.time.Instant.parse(cols(1)).getEpochSecond
      (ts, new JBigDecimal(cols(3)))
    }
    val b = Vector.newBuilder[(Long, JBigDecimal)]
    var total = JBigDecimal.ZERO
    var i = 0
    while (i < rows.length) {
      val t = rows(i)._1
      var section = JBigDecimal.ZERO
      while (i < rows.length && rows(i)._1 == t) { section = section.add(rows(i)._2); i += 1 }
      total = total.add(section)
      b += ((t, total))
    }
    b.result()
  }

  private def lookupLEIdx(keys: Array[Long], probe: Long): Int = {
    var idx = java.util.Arrays.binarySearch(keys, probe)
    if (idx < 0) idx = -idx - 2 // insertion point - 1 = greatest key <= probe
    idx
  }

  /** Coins.hs:144-150 `getTotalMiningRewards`. */
  def miningRewards(height: Long): JBigDecimal = {
    val ks = rewardKeys; val i = lookupLEIdx(ks, height)
    require(i >= 0, "height below genesis — impossible (key 0 present)")
    val (k, total, reward) = cumulativeRewards(i)
    total.add(reward.multiply(new JBigDecimal(height - k)))
  }

  /** Coins.hs:125-127 `getTotalAllocations` (0 before the first grant). */
  def allocations(epochSec: Long): JBigDecimal = {
    val i = lookupLEIdx(allocationKeys, epochSec)
    if (i < 0) JBigDecimal.ZERO else cumulativeAllocations(i)._2
  }

  /** Coins.hs:118-120 `getCirculatingCoins` — rewards at the chain height,
    * allocations at wall-clock `asOfEpochSec` (the reference's server passes
    * `getCurrentTime`, Server.hs:227-231). */
  def circulatingCoins(height: Long, asOfEpochSec: Long): JBigDecimal =
    miningRewards(height).add(allocations(asOfEpochSec))

  /** Deterministic variant keyed entirely on height (allocations as of the
    * height's nominal date) — what q64 checks. */
  def circulatingCoins(height: Long): JBigDecimal =
    circulatingCoins(height, heightToEpochSec(height))

  private lazy val rewardKeys = cumulativeRewards.map(_._1).toArray
  private lazy val allocationKeys = cumulativeAllocations.map(_._1).toArray

  /** q64 — circulating supply at a deterministic spread of probe heights
    * covering the full 120-year schedule (including beyond the last
    * threshold, where the reward is 0). Broadcast binary search; the final
    * DECIMAL(38,6) rounding is the cross-engine rendering contract. */
  def q64CoinSupply(spark: SparkSession, dir: String): DataFrame = {
    val rew = cumulativeRewards.map { case (k, t, r) => (k, t, r) }.toArray
    val alo = cumulativeAllocations.toArray
    val bcR = spark.sparkContext.broadcast(rew)
    val bcA = spark.sparkContext.broadcast(alo)
    val supplyAt = udf { h: Long =>
      val rs = bcR.value; val as = bcA.value
      // local binary searches over the broadcast step tables
      var lo = 0; var hi = rs.length - 1
      while (lo < hi) { val m = (lo + hi + 1) >>> 1; if (rs(m)._1 <= h) lo = m else hi = m - 1 }
      val (k, total, reward) = rs(lo)
      val mining = total.add(reward.multiply(new JBigDecimal(h - k)))
      val ts = heightToEpochSec(h)
      var alo2 = -1; var ahi = as.length - 1; var aidx = -1
      if (as.nonEmpty && as(0)._1 <= ts) {
        alo2 = 0
        while (alo2 < ahi) { val m = (alo2 + ahi + 1) >>> 1; if (as(m)._1 <= ts) alo2 = m else ahi = m - 1 }
        aidx = alo2
      }
      val alloc = if (aidx < 0) JBigDecimal.ZERO else as(aidx)._2
      mining.add(alloc)
    }
    Tables.events(spark, dir)
      .select(col("event_id"), ((col("event_id") * 104729L) % 130000000L).as("height"))
      .withColumn("supply",
        supplyAt(col("height")).cast(DecimalType(38, 6)).cast("double"))
      .orderBy(col("event_id"))
  }

  /** DuckDB spells the same construction from the same CSVs (read straight
    * from the repo resources — public data, same files the reference
    * embeds). header=true on token_payments reproduces the reference's
    * HasHeader first-row skip. */
  val coinSupplyOracle: String =
    """WITH rewards AS (
      |  SELECT h, reward
      |  FROM read_csv('/root/repo/src/main/resources/graft/data/miner_rewards.csv',
      |                header=false, columns={'h':'BIGINT','reward':'DECIMAL(18,12)'})),
      |seg AS (
      |  SELECT coalesce(lag(h) OVER (ORDER BY h), 0) AS seg_start, h AS seg_end, reward
      |  FROM rewards),
      |steps AS (
      |  SELECT seg_start AS k, reward,
      |    coalesce(sum((seg_end - seg_start) * reward)
      |      OVER (ORDER BY seg_start ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS total
      |  FROM seg
      |  UNION ALL
      |  SELECT max(seg_end), 0, sum((seg_end - seg_start) * reward) FROM seg),
      |alloc AS (
      |  SELECT epoch(t) AS ts, sum(amount) AS amt
      |  FROM read_csv('/root/repo/src/main/resources/graft/data/token_payments.csv',
      |                header=true,
      |                columns={'name':'VARCHAR','t':'TIMESTAMP','keyset':'VARCHAR',
      |                         'amount':'DECIMAL(18,2)','chain':'VARCHAR'})
      |  GROUP BY ts),
      |asteps AS (SELECT ts, sum(amt) OVER (ORDER BY ts) AS total FROM alloc),
      |probes AS (
      |  SELECT event_id, (event_id * 104729) % 130000000 AS height FROM events),
      |mining AS (
      |  SELECT p.event_id, p.height, s.total + (p.height - s.k) * s.reward AS m
      |  FROM probes p ASOF JOIN steps s ON p.height >= s.k),
      |allocs AS (
      |  SELECT p.event_id, coalesce(a.total, 0) AS a
      |  FROM probes p ASOF LEFT JOIN asteps a ON (1572393600 + 30 * p.height) >= a.ts)
      |SELECT m.event_id, m.height,
      |  CAST(CAST(m.m + al.a AS DECIMAL(38,6)) AS DOUBLE) AS supply
      |FROM mining m JOIN allocs al ON m.event_id = al.event_id
      |ORDER BY m.event_id""".stripMargin
}
