package graft

import scala.jdk.CollectionConverters._

import graft.operators.TxSearch
import graft.sources.{BlockIndex, Snapshots}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** The tx detail and the x-chain decoration of an account page as Spark
  * join plans: grouped `sort_array(collect_list(struct…))` events and
  * signers, left joins and a `row_number` window. The serving operators
  * assemble the same rows on the driver from plain filtered reads
  * (`TxDetail`, `AccountHistory.decoratePage`); these plans are the
  * oracles their equivalence tests compare against. */
object JoinPlanOracles {

  private def unq(c: Column): Column = regexp_replace(c, "^\"|\"$", "")

  def lookup(spark: SparkSession, tableDir: String, requestkey: String): DataFrame = {
    def pinned(name: String) = Snapshots.readPinned(spark, s"$tableDir/$name")
    val tx = pinned("transactions")
      .filter(col("requestkey") === requestkey)
    val events = pinned("events")
      .filter(col("requestkey") === requestkey)
      .groupBy(col("requestkey"), col("block"))
      .agg(sort_array(collect_list(struct(
        col("idx"), col("qualname"), col("paramtext")))).as("events"))
    val signers = pinned("signers")
      .filter(col("requestkey") === requestkey)
      .groupBy(col("requestkey"))
      .agg(sort_array(collect_list(struct(
        col("idx"), col("pubkey"), col("scheme"), col("caps"),
        col("sig")))).as("signers"))
    val blocks = pinned("blocks")
      .select(col("hash").as("block"), col("creationtime").as("block_time"))
    val hist = TxSearch.source(spark, tableDir)
      .filter(col("requestkey") === requestkey)
      .select(struct(col("initial_code"), col("previous_steps")))
      .limit(1).scalar()
    tx.join(events, Seq("requestkey", "block"), "left")
      .join(signers, Seq("requestkey"), "left")
      .join(blocks, Seq("block"), "left")
      .withColumn("hist", hist)
      .withColumns(Map("initial_code" -> col("hist.initial_code"),
                       "previous_steps" -> col("hist.previous_steps")))
      .drop("hist")
      .orderBy(col("block"))
  }

  def lookupOne(spark: SparkSession, tableDir: String, requestkey: String): DataFrame =
    lookup(spark, tableDir, requestkey)
      .orderBy(col("goodresult").isNotNull.desc, col("height").desc, col("block"))
      .limit(1)

  /** Cross-chain decoration of a transfers relation that carries its
    * `block_time`; `events` has the ingested events schema. */
  def decorate(scans: DataFrame, events: DataFrame): DataFrame = {
    val outbound = events
      .filter(col("qualname") === "coin.TRANSFER_XCHAIN")
      .select(col("block").as("o_block"), col("requestkey").as("o_rk"),
              (col("idx") + 1).as("o_idx"),
              unq(element_at(col("params"), 1)).as("o_from"),
              unq(element_at(col("params"), 2)).as("o_target"),
              unq(element_at(col("params"), 4)).cast("long").as("o_chainid"))
    val iw = Window.partitionBy(col("i_block"), col("i_rk")).orderBy(col("idx"))
    val inbound = events
      .filter(col("qualname") === "pact.X_RESUME" &&
              unq(element_at(col("params"), 2)) === "coin.transfer-crosschain")
      .select(col("block").as("i_block"), col("requestkey").as("i_rk"), col("idx"),
              get_json_object(element_at(col("params"), 3), "$[0]").as("i_source"),
              get_json_object(element_at(col("params"), 3), "$[1]").as("i_target"),
              unq(element_at(col("params"), 1)).cast("long").as("i_chainid"))
      .withColumn("i_rn", row_number().over(iw))
      .filter(col("i_rn") === 1)
      .drop("idx", "i_rn")
    scans
      .join(outbound,
            col("block") === col("o_block") && col("requestkey") === col("o_rk") &&
            col("idx") === col("o_idx") && col("to_acct") === "" &&
            col("modulename") === "coin" &&
            col("o_from") === col("from_acct"), "left")
      .join(inbound,
            col("block") === col("i_block") && col("requestkey") === col("i_rk") &&
            col("from_acct") === "" && col("requestkey") =!= "cb" &&
            col("modulename") === "coin" &&
            col("i_target") === col("to_acct"), "left")
      .select(
        col("requestkey"), col("chainid"), col("height"), col("idx"),
        when(col("from_acct") === "" && col("i_source").isNotNull, col("i_source"))
          .otherwise(col("from_acct")).as("from_acct"),
        when(col("to_acct") === "" && col("o_target").isNotNull, col("o_target"))
          .otherwise(col("to_acct")).as("to_acct"),
        (col("to_acct") === "" || col("from_acct") === "").as("cross_chain"),
        coalesce(col("o_chainid"), col("i_chainid")).as("target_chainid"),
        col("amount"), col("block_time"),
        col("from_acct").as("from_stored"),
        col("to_acct").as("to_stored"),
        when(col("to_acct") === "", col("o_target"))
          .when(col("from_acct") === "", col("i_source")).as("xchain_acct"),
        col("block"), col("modulename").as("token"))
  }

  /** [[decorate]] over a page: the whole page (not just its legs) becomes
    * a local relation joined to the pruned events; rows whose block is not
    * in the table are dropped. Rows come back in the page's order. */
  def decoratePage(spark: SparkSession, tableDir: String, page: Seq[Row]): Seq[Row] =
    if (page.isEmpty) Seq.empty
    else {
      val times = BlockIndex.creationTimes(
        spark, s"$tableDir/blocks", page.map(_.getAs[String]("block")).distinct)
      val timed = page.filter(r => times.contains(r.getAs[String]("block")))
      val cols = Seq("block", "requestkey", "chainid", "height", "idx",
                     "modulename", "modulehash", "from_acct", "to_acct", "amount")
      val schema = org.apache.spark.sql.types.StructType(cols.map(n => page.head.schema(n)))
        .add("block_time", TimestampType)
      val rows = timed.map(r => Row.fromSeq(cols.map(n => r.getAs[Any](n)) :+
                                            times(r.getAs[String]("block"))))
      val events = Snapshots.readPinned(spark, s"$tableDir/events")
        .filter(col("block").isin(timed.map(_.getAs[String]("block")).distinct: _*) &&
                col("requestkey").isin(timed.map(_.getAs[String]("requestkey")).distinct: _*))
      def key(r: Row) = (r.getAs[String]("block"), r.getAs[String]("requestkey"),
                         r.getAs[Any]("idx"), r.getAs[String]("from_stored"),
                         r.getAs[String]("to_stored"), r.getAs[Any]("amount"))
      val decorated = decorate(spark.createDataFrame(rows.asJava, schema), events).collect()
        .groupBy(key)
      timed.map { r =>
        val k = (r.getAs[String]("block"), r.getAs[String]("requestkey"), r.getAs[Any]("idx"),
                 r.getAs[String]("from_acct"), r.getAs[String]("to_acct"), r.getAs[Any]("amount"))
        decorated(k).head
      }
    }
}
