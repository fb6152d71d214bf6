package graft.operators

import java.time.Instant

import graft.plans.BoundLiteral
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Height ↔ time conversion (SURVEY §2.8 F9 — chainweb-data
  * exec/Chainweb/Coins.hs:162-176 `dateToHeight`/`heightToDate`: the chain
  * produces one block per 30s per chain, so height is an affine clock).
  * Pure driver-side math; used to translate date-range API filters into
  * height ranges that partition-prune (SURVEY §4). */
object ChainTime {

  /** The clock [[Coins]] prices supply with: one genesis, one interval. */
  val Genesis: Instant = Instant.ofEpochSecond(Coins.GenesisEpochSec)

  def heightToDate(height: Long): Instant =
    Instant.ofEpochSecond(Coins.heightToEpochSec(height))

  def dateToHeight(t: Instant): Long =
    math.max(0L, (t.getEpochSecond - Coins.GenesisEpochSec) / Coins.BlockIntervalSec)

  /** Optional height-range guard (P2 — Queries.hs:52-60) of every search
    * source: `minHeight <= height <= maxHeight`, each bound optional and
    * bound ([[BoundLiteral]]), so another range reuses the compiled plan. */
  def heightRange(df: DataFrame, minHeight: Option[Long], maxHeight: Option[Long]): DataFrame =
    Seq(minHeight.map(h => col("height") >= BoundLiteral(h)),
        maxHeight.map(h => col("height") <= BoundLiteral(h)))
      .flatten.foldLeft(df)(_ filter _)
}
