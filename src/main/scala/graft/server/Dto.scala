package graft.server

import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row

/** The reference's wire DTOs, pinned field-for-field — the JSON shapes of
  * the `chainweb-api`/`chainweb-data-api` types as constructed in
  * chainweb-data exec/Chainweb/Server.hs (TxSummary :282-292, TxDetail
  * :359-389, TransferDetail :534-545, EventDetail :610-618,
  * ChainwebDataStats :234) with the Spec.hs field-label modifiers applied
  * (`_txSummary_chain` → `chain`, etc.).
  *
  * Renderers map the engine's column names to those field names; the
  * OpenAPI document below is generated FROM the same field lists, so the
  * served spec cannot drift from the served bodies (ApiSpec pins both).
  */
object Dto {

  val TxSummaryFields: Seq[String] = Seq(
    "chain", "height", "blockHash", "creationTime", "requestKey", "sender",
    "code", "continuation", "result", "initialCode", "previousSteps")

  val TxDetailFields: Seq[String] = Seq(
    "ttl", "gasLimit", "gasPrice", "nonce", "pactId", "rollback", "step",
    "data", "proof", "gas", "result", "logs", "metadata", "continuation",
    "txid", "chain", "height", "blockTime", "blockHash", "creationTime",
    "requestKey", "sender", "code", "success", "events", "initialCode",
    "previousSteps", "signers", "sigs")

  val TxEventFields: Seq[String] = Seq("name", "params")

  val EventDetailFields: Seq[String] = Seq(
    "name", "params", "moduleHash", "chain", "height", "blockTime",
    "blockHash", "requestKey", "idx")

  val TransferDetailFields: Seq[String] = Seq(
    "token", "chain", "height", "blockHash", "requestKey", "idx", "amount",
    "fromAccount", "toAccount", "crossChainAccount", "crossChainId",
    "blockTime")

  val StatsFields: Seq[String] = Seq("transactionCount", "coinsInCirculation")

  // --- JSON rendering helpers ------------------------------------------

  private def jstr(s: String): String = Api.jstr(s)

  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")

  private def iso(v: Any): String = v match {
    case null                   => "null"
    case t: java.sql.Timestamp  =>
      jstr(DateTimeFormatter.ISO_INSTANT.format(t.toInstant))
    case t: java.time.Instant   => jstr(DateTimeFormatter.ISO_INSTANT.format(t))
    case other                  => jstr(String.valueOf(other))
  }

  /** Generic JSON value: nested Rows become objects, Seqs arrays. */
  def jsonValue(v: Any): String = v match {
    case null                        => "null"
    case s: String                   => jstr(s)
    case b: Boolean                  => b.toString
    case n: java.lang.Number         => n.toString
    case r: Row                      =>
      obj(r.schema.fields.zipWithIndex.toSeq
            .map { case (f, i) => f.name -> jsonValue(r.get(i)) })
    case xs: scala.collection.Seq[_] => xs.map(jsonValue).mkString("[", ",", "]")
    case other                       => jstr(String.valueOf(other))
  }

  /** A column whose string content IS JSON (paramtext, result payloads):
    * embed raw; null-safe. */
  private def raw(v: Any): String = v match {
    case null      => "null"
    case s: String => s
    case other     => jsonValue(other)
  }

  private def get(r: Row, name: String): Any =
    if (r.schema.fieldNames.contains(name) && !r.isNullAt(r.fieldIndex(name)))
      r.get(r.fieldIndex(name))
    else null

  // --- DTO renderers ----------------------------------------------------

  /** TxSummary from a [[graft.operators.TxSearch.source]] row
    * (Server.hs:282-292 dbToApiTxSummary). `result` is the TxResult
    * enum: TxSucceeded iff goodresult is present; `previousSteps` is
    * null unless the continuation chain resolved a code (the `<$ chCode`
    * guard). */
  def txSummary(r: Row): String = obj(Seq(
    "chain"         -> jsonValue(get(r, "chainid")),
    "height"        -> jsonValue(get(r, "height")),
    "blockHash"     -> jsonValue(get(r, "block")),
    "creationTime"  -> iso(get(r, "creationtime")),
    "requestKey"    -> jsonValue(get(r, "requestkey")),
    "sender"        -> jsonValue(get(r, "sender")),
    "code"          -> jsonValue(get(r, "code")),
    "continuation"  -> raw(get(r, "continuation")),
    "result"        -> jstr(if (get(r, "goodresult") != null) "TxSucceeded"
                            else "TxFailed"),
    "initialCode"   -> jsonValue(get(r, "initial_code")),
    "previousSteps" -> (if (get(r, "initial_code") == null) "null"
                        else jsonValue(get(r, "previous_steps")))))

  /** TxDetail from a [[graft.operators.TxDetail.lookup]] row, which
    * carries the block time and the continuation history
    * (`initial_code`/`previous_steps`) (Server.hs:359-389). */
  def txDetail(r: Row): String = {
    val events = get(r, "events") match {
      case null => "[]"
      case xs: scala.collection.Seq[_] => xs.map { case e: Row =>
        obj(Seq("name"   -> jsonValue(get(e, "qualname")),
                "params" -> raw(get(e, "paramtext"))))
      }.mkString("[", ",", "]")
    }
    val (signers, sigs) = get(r, "signers") match {
      case null => ("[]", "[]")
      case xs: scala.collection.Seq[_] =>
        val rows = xs.collect { case s: Row => s }
        (rows.map { s =>
           obj(Seq("addr"   -> "null",
                   "scheme" -> jsonValue(get(s, "scheme")),
                   "pubKey" -> jsonValue(get(s, "pubkey")),
                   "clist"  -> raw(get(s, "caps"))))
         }.mkString("[", ",", "]"),
         rows.map(s => obj(Seq("sig" -> jsonValue(get(s, "sig")))))
           .mkString("[", ",", "]"))
    }
    obj(Seq(
      "ttl"           -> jsonValue(get(r, "ttl")),
      "gasLimit"      -> jsonValue(get(r, "gaslimit")),
      "gasPrice"      -> jsonValue(get(r, "gasprice")),
      "nonce"         -> jsonValue(get(r, "nonce")),
      "pactId"        -> jsonValue(get(r, "pactid")),
      "rollback"      -> jsonValue(get(r, "rollback")),
      "step"          -> jsonValue(get(r, "step")),
      "data"          -> raw(get(r, "data")),
      "proof"         -> jsonValue(get(r, "proof")),
      "gas"           -> jsonValue(get(r, "gas")),
      "result"        -> raw(if (get(r, "goodresult") != null) get(r, "goodresult")
                             else get(r, "badresult")),
      "logs"          -> jsonValue(Option(get(r, "logs")).getOrElse("")),
      "metadata"      -> "null", // not ingested; the reference's is often null too
      "continuation"  -> raw(get(r, "continuation")),
      "txid"          -> jsonValue(Option(get(r, "txid")).getOrElse(0L)),
      "chain"         -> jsonValue(get(r, "chainid")),
      "height"        -> jsonValue(get(r, "height")),
      "blockTime"     -> iso(get(r, "block_time")),
      "blockHash"     -> jsonValue(get(r, "block")),
      "creationTime"  -> iso(get(r, "creationtime")),
      "requestKey"    -> jsonValue(get(r, "requestkey")),
      "sender"        -> jsonValue(get(r, "sender")),
      "code"          -> jsonValue(get(r, "code")),
      "success"       -> (get(r, "goodresult") != null).toString,
      "events"        -> events,
      "initialCode"   -> jsonValue(get(r, "initial_code")),
      "previousSteps" -> (if (get(r, "initial_code") == null) "null"
                          else jsonValue(get(r, "previous_steps"))),
      "signers"       -> signers,
      "sigs"          -> sigs))
  }

  /** EventDetail from an [[graft.operators.EventSearch.source]] row with
    * the block-time decoration (Server.hs:610-618; the reference fetches
    * block times as per-page "extras" after the bounded scan — the
    * `blockTime` argument is that decoration). */
  def eventDetail(r: Row, blockTime: Any): String = obj(Seq(
    "name"       -> jsonValue(get(r, "qualname")),
    "params"     -> raw(get(r, "paramtext")),
    "moduleHash" -> jsonValue(get(r, "modulehash")),
    "chain"      -> jsonValue(get(r, "chainid")),
    "height"     -> jsonValue(get(r, "height")),
    "blockTime"  -> iso(blockTime),
    "blockHash"  -> jsonValue(get(r, "block")),
    "requestKey" -> jsonValue(get(r, "requestkey")),
    "idx"        -> jsonValue(get(r, "idx"))))

  /** TransferDetail from an [[graft.operators.AccountHistory.transfersOf]]
    * row (Server.hs:534-545): from/to are the STORED ledger values, the
    * x-chain resolution rides in crossChainAccount/crossChainId, and
    * amount is the reference's StringEncoded scientific — a JSON string. */
  def transferDetail(r: Row): String = obj(Seq(
    "token"             -> jsonValue(get(r, "token")),
    "chain"             -> jsonValue(get(r, "chainid")),
    "height"            -> jsonValue(get(r, "height")),
    "blockHash"         -> jsonValue(get(r, "block")),
    "requestKey"        -> jsonValue(get(r, "requestkey")),
    "idx"               -> jsonValue(get(r, "idx")),
    "amount"            -> jstr(String.valueOf(get(r, "amount"))),
    "fromAccount"       -> jsonValue(get(r, "from_stored")),
    "toAccount"         -> jsonValue(get(r, "to_stored")),
    "crossChainAccount" -> jsonValue(get(r, "xchain_acct")),
    "crossChainId"      -> jsonValue(get(r, "target_chainid")),
    "blockTime"         -> iso(get(r, "block_time"))))

  // --- OpenAPI (lib/ChainwebData/Spec.hs shape) -------------------------

  /** Minimal OpenAPI 3 document, schemas generated from the SAME field
    * lists the renderers use. Served at /cwd-spec.json like the
    * reference's SwaggerSchemaUI (Server.hs:107). */
  lazy val openApiJson: String = {
    def schema(fields: Seq[String]): String =
      s"""{"type":"object","properties":{${
        fields.map(f => s"${jstr(f)}:{}").mkString(",")}}}"""
    def arrayOf(ref: String): String =
      s"""{"type":"array","items":{"$$ref":"#/components/schemas/$ref"}}"""
    def pathItem(summary: String, respSchema: String): String =
      s"""{"get":{"summary":${jstr(summary)},"responses":{"200":{
         |"description":"ok","content":{"application/json":{"schema":$respSchema}}}}}}"""
        .stripMargin.replace("\n", "")
    s"""{"openapi":"3.0.0",
       |"info":{"title":"chainweb-data spark API","version":"1.0",
       |"description":"Search endpoints honor the Chainweb-Execution-Strategy request header (Bounded | Unbounded). DIVERGENCE from upstream chainweb-data: a missing header defaults to Bounded here (budgeted pagination with a Graft-Scan-Limit response header); upstream defaults to Unbounded behind its gateway. Upstream-compatible clients that expect unbudgeted pages must send Chainweb-Execution-Strategy: Unbounded explicitly."},
       |"paths":{
       |"/txs/recent":${pathItem("Recent transactions", arrayOf("TxSummary"))},
       |"/txs/search":${pathItem("Transaction code search", arrayOf("TxSummary"))},
       |"/txs/tx/{requestkey}":${pathItem("Transaction detail", arrayOf("TxDetail"))},
       |"/txs/txs/{requestkey}":${pathItem("All fork copies", arrayOf("TxDetail"))},
       |"/txs/events":${pathItem("Event search", arrayOf("EventDetail"))},
       |"/txs/account/{account}":${pathItem("Account transfer history",
          arrayOf("TransferDetail"))},
       |"/stats":${pathItem("Data statistics",
          "{\"$ref\":\"#/components/schemas/ChainwebDataStats\"}")},
       |"/coins":${pathItem("Circulating coins", "{\"type\":\"number\"}")}},
       |"components":{"schemas":{
       |"TxSummary":${schema(TxSummaryFields)},
       |"TxDetail":${schema(TxDetailFields)},
       |"TxEvent":${schema(TxEventFields)},
       |"EventDetail":${schema(EventDetailFields)},
       |"TransferDetail":${schema(TransferDetailFields)},
       |"ChainwebDataStats":${schema(StatsFields)}}}}""".stripMargin.replace("\n", "")
  }
}
