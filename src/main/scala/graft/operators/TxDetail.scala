package graft.operators

import scala.jdk.CollectionConverters._

import graft.sources.{BlockIndex, Snapshots}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType, TimestampType}

/** Transaction detail lookup — `/txs/tx` + `/txs/txs`
  * (SURVEY §2.3 J4/J5: chainweb-data exec/Chainweb/Server.hs:408-441).
  * Orphan-tolerant: one detail row per (requestkey, block) — the reference
  * returns ALL fork copies from `/txs/txs` and picks one for `/txs/tx`
  * (Server.hs:462-482); callers get the same choice here.
  *
  * Like the reference, which runs a few point queries and merges them in
  * Haskell, the detail is assembled on the driver from one `collect()` of
  * a union of four narrow reads filtered on the request key: the pinned
  * `transactions`, `events` and `signers`, and [[TxSearch.source]] for the
  * key's continuation history (`initial_code`/`previous_steps`). The union
  * has no exchange, so a request is one Spark job. The driver groups the
  * events per (requestkey, block) sorted by `idx`, sorts the signers by
  * `idx` (they are keyed by request key alone, so orphan twins share
  * them) and takes block times from [[BlockIndex]]; a tx without events or
  * signers carries null there, as a left join would give it. Point-lookup
  * latency at scale rides on requestkey clustering/stats (SURVEY §4), not
  * an index.
  */
object TxDetail {

  /** Every fork copy of the tx, ordered by block hash. The rows are a
    * local relation: its `collect()` runs no job. */
  def lookup(spark: SparkSession, tableDir: String, requestkey: String): DataFrame = {
    val (schema, rows) = assemble(spark, tableDir, requestkey)
    spark.createDataFrame(rows.sortBy(_.getAs[String]("block")).asJava, schema)
  }

  /** The single-row `/txs/tx` choice among fork copies: successful result
    * first, then highest block (Server.hs:449-460's
    * `ORDER BY (goodresult IS NOT NULL) DESC, height DESC LIMIT 1` — the
    * O5 ordering applied to the detail row), then block hash. */
  def lookupOne(spark: SparkSession, tableDir: String, requestkey: String): DataFrame = {
    val (schema, rows) = assemble(spark, tableDir, requestkey)
    val best = rows.sortBy(r => (r.isNullAt(r.fieldIndex("goodresult")),
                                 -r.getAs[Long]("height"), r.getAs[String]("block")))
    spark.createDataFrame(best.take(1).asJava, schema)
  }

  /** The detail rows of `requestkey`, one per block that holds it, and
    * their schema: the tx columns with `block` and `requestkey` first, then
    * `events`, `signers`, `block_time`, `initial_code`, `previous_steps`. */
  private def assemble(spark: SparkSession, tableDir: String,
                       requestkey: String): (StructType, Seq[Row]) = {
    // Snapshot-pinned + footer-memoized reads (the serving-path rule,
    // VERDICT r8 item 4): a detail request sees one committed version of
    // every table it reads; the history source pins a version no older.
    def pinned(name: String) =
      Snapshots.readPinned(spark, s"$tableDir/$name").filter(col("requestkey") === requestkey)
    val tx = pinned("transactions")
    val parts = Seq(
      tx.select(struct(tx.columns.map(col).toSeq: _*).as("tx")),
      pinned("events").select(struct(col("block"), struct(
        col("idx"), col("qualname"), col("paramtext")).as("event")).as("ev")),
      pinned("signers").select(struct(
        col("idx"), col("pubkey"), col("scheme"), col("caps"), col("sig")).as("sg")),
      TxSearch.source(spark, tableDir).filter(col("requestkey") === requestkey)
        .select(struct(col("initial_code"), col("previous_steps")).as("hist")))
    val union = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    def structOf(name: String) = union.schema(name).dataType.asInstanceOf[StructType]
    val rows = union.collect().toSeq
    def part(name: String): Seq[Row] = {
      val i = union.schema.fieldIndex(name)
      rows.filterNot(_.isNullAt(i)).map(_.getStruct(i))
    }
    def byIdx(rs: Seq[Row]) = rs.sortBy(_.getAs[Number]("idx").longValue)

    val events = part("ev").groupMap(_.getString(0))(_.getStruct(1)).view.mapValues(byIdx).toMap
    val signers = Option(byIdx(part("sg"))).filter(_.nonEmpty).orNull
    val hist = part("hist").headOption
    val txs = part("tx")
    val times = BlockIndex.creationTimes(
      spark, s"$tableDir/blocks", txs.map(_.getAs[String]("block")).distinct)

    val txType = structOf("tx")
    val keys = Seq("block", "requestkey")
    val txCols = keys ++ txType.fieldNames.filterNot(keys.contains)
    val eventType = structOf("ev")("event").dataType
    val schema = StructType(txCols.map(txType(_)) ++ Seq(
      StructField("events", ArrayType(eventType, containsNull = false)),
      StructField("signers", ArrayType(structOf("sg"), containsNull = false)),
      StructField("block_time", TimestampType)) ++ structOf("hist").fields)
    val detail = txs.map { t =>
      val block = t.getAs[String]("block")
      new GenericRowWithSchema((txCols.map(t.getAs[Any]) ++ Seq(
        events.get(block).orNull, signers, times.getOrElse(block, null),
        hist.map(_.get(0)).orNull, hist.map(_.get(1)).orNull)).toArray, schema): Row
    }
    (schema, detail)
  }
}
