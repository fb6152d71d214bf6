package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Payload flattening: raw header/payload JSON → the six relational tables
  * (SURVEY.md §1.2). Re-expresses the reference's pure-Haskell fan-out
  * (chainweb-data exec/Chainweb/Lookups.hs:188-291 `mkBlockTransactions` /
  * `mkBlockEvents` / `mkTransactionSigners` / `mkTransferRows`,
  * lib/ChainwebData/Types.hs:52-67 `asBlock`) as declarative column
  * programs: `from_json` + `explode` generators, no UDFs, fully
  * whole-stage-codegen'd.
  *
  * Scale: each output is a projection/explode of the ingest batch — no
  * shuffle anywhere in the flatten; the only shuffles in the ingest path
  * are the MERGE keys in [[Upsert]].
  */
object Flatten {

  // --- Wire schemas (field shapes per Lookups.hs:141-160 payload fetch and
  //     Types.hs:41-50 PowHeader; simplified names, same information).

  // creationTime is POSIX micros (Lookups.hs:299); target/weight are
  // 80-digit numerics kept as strings (SURVEY §7.3.3).
  val headerSchema: StructType = StructType.fromDDL(
    """chainId BIGINT, height BIGINT, hash STRING, parent STRING,
      |creationTime BIGINT, payloadHash STRING, nonce STRING, target STRING,
      |weight STRING, epochStart BIGINT, featureFlags BIGINT, powHash STRING
      |""".stripMargin)

  // Event params are heterogeneous JSON values; ARRAY<STRING> makes Spark's
  // JSON reader keep each param's raw JSON text (paramtext-style,
  // Lookups.hs:353) — amounts are re-parsed on demand by [[amount]].
  private val eventDDL =
    """STRUCT<name: STRING,
      |       module: STRUCT<namespace: STRING, name: STRING>,
      |       moduleHash: STRING, params: ARRAY<STRING>>""".stripMargin

  val payloadSchema: StructType = StructType.fromDDL(
    s"""payloadHash STRING,
       |minerData STRUCT<account: STRING, publicKeys: ARRAY<STRING>>,
       |transactions ARRAY<STRUCT<
       |  requestKey: STRING,
       |  cmd: STRUCT<
       |    payload: STRUCT<
       |      exec: STRUCT<code: STRING, data: STRING>,
       |      cont: STRUCT<pactId: STRING, rollback: BOOLEAN, step: BIGINT,
       |                   data: STRING, proof: STRING>>,
       |    signers: ARRAY<STRUCT<pubKey: STRING, scheme: STRING, caps: STRING>>,
       |    nonce: STRING,
       |    meta: STRUCT<chainId: STRING, sender: STRING, gasLimit: BIGINT,
       |                 gasPrice: DOUBLE, ttl: BIGINT, creationTime: BIGINT>>,
       |  sigs: ARRAY<STRUCT<sig: STRING>>,
       |  result: STRUCT<gas: BIGINT, status: STRING, data: STRING,
       |                 txId: BIGINT, logs: STRING, continuation: STRING,
       |                 events: ARRAY<$eventDDL>>>>,
       |coinbase STRUCT<gas: BIGINT, status: STRING, events: ARRAY<$eventDDL>>
       |""".stripMargin)

  /** Decode a little-endian base64url numeric hash field (target/weight —
    * chainweb-api BytesLE) to its exact integer. Driver-side test/audit
    * utility: the engine stores these 80-digit values as strings
    * (SURVEY §7.3.3); the reference's own parser test decodes block-25's
    * target this way (test/Chainweb/Data/Test/Parser.hs:28-57). */
  def bytesLEToBigInt(b64url: String): BigInt =
    BigInt(1, java.util.Base64.getUrlDecoder.decode(b64url).reverse)

  /** Parse a DataFrame with a `value` JSON string column of headers. */
  def parseHeaders(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), headerSchema).as("h")).select("h.*")

  /** Parse a DataFrame with a `value` JSON string column of payloads. */
  def parsePayloads(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), payloadSchema).as("p")).select("p.*")

  /** Joined header+payload rows, the input of every flattener below, for
    * headers and payloads that arrive as separate relations (ingest
    * envelopes carry both and go through [[parseEnvelopes]]).
    * Broadcast-free equi-join on payloadHash: both sides are the same
    * micro-batch (≤ 120-block chunks, Types.hs:110-111), so this is tiny;
    * in a backfill the join keys are co-partitioned by the fetch job. */
  def joined(headers: DataFrame, payloads: DataFrame): DataFrame =
    headers.join(payloads, "payloadHash")

  /** Header+payload rows of ingest envelopes (a `value` column of
    * `{"header":H,"payload":P}`, the drop-zone, SSE and fill shape), each
    * header paired with the payload of its own envelope: the columns of
    * [[joined]] over [[parseHeaders]] and [[parsePayloads]] of the two
    * halves, made in one pass over the input, with no join and no shuffle.
    * An envelope whose halves disagree on payloadHash gives no row. The
    * join would also pair a header with an equal-hash payload of another
    * envelope in the batch; a payload hash names one payload, so that adds
    * only repeats of the same rows, which the merges' PK dedup drops. */
  def parseEnvelopes(raw: DataFrame): DataFrame = {
    def half(path: String, schema: StructType, as: String) =
      from_json(get_json_object(col("value"), path), schema).as(as)
    def rest(schema: StructType, as: String) =
      schema.fieldNames.filterNot(_ == "payloadHash").map(f => col(s"$as.$f"))
    raw.select(half("$.header", headerSchema, "h"), half("$.payload", payloadSchema, "p"))
      .filter(col("h.payloadHash") === col("p.payloadHash"))
      .select((col("h.payloadHash") +: (rest(headerSchema, "h") ++ rest(payloadSchema, "p"))).toSeq: _*)
  }

  /** `blocks` — one row per header incl. orphans (Types.hs:52-67). */
  def blocks(hp: DataFrame): DataFrame = hp.select(
    timestamp_micros(col("creationTime")).as("creationtime"),
    col("chainId").as("chainid"),
    col("height"),
    col("hash"),
    col("parent"),
    // PowHeader hex: the base64url hash decoded, BYTE-reversed (the hash is
    // little-endian on the wire), lowercase-hex encoded (Worker.hs:128-129
    // `asPow` = B16.encode . B.reverse). The pair-swap regexp after a char
    // reverse is exactly a byte reverse of the hex string — all codegen'd
    // string ops, no UDF.
    lower(regexp_replace(reverse(hex(unbase64(translate(col("powHash"), "-_", "+/")))),
                         "(.)(.)", "$2$1")).as("powhash"),
    col("payloadHash").as("payload"),
    col("target"),
    col("weight"),
    timestamp_micros(col("epochStart")).as("epoch"),
    col("nonce").cast(DecimalType(20, 0)).as("nonce"),
    col("featureFlags").as("flags"),
    col("minerData.account").as("miner"))

  /** `minerkeys` — block ↔ miner public key M:N (Lookups.hs:290-291). */
  def minerKeys(hp: DataFrame): DataFrame = hp.select(
    col("hash").as("block"),
    explode(col("minerData.publicKeys")).as("key"))

  /** `transactions` — exec vs cont payload split, good/bad result split
    * (success ⇔ goodresult non-null, Lookups.hs:293-334). */
  def transactions(hp: DataFrame): DataFrame = hp
    .select(col("hash").as("block"), col("chainId").as("chainid"),
            col("height"), explode(col("transactions")).as("tx"))
    .select(
      col("tx.requestKey").as("requestkey"),
      col("block"), col("chainid"), col("height"),
      timestamp_micros(col("tx.cmd.meta.creationTime") * 1000000L).as("creationtime"),
      col("tx.cmd.meta.ttl").as("ttl"),
      col("tx.cmd.meta.gasLimit").as("gaslimit"),
      col("tx.cmd.meta.gasPrice").as("gasprice"),
      col("tx.cmd.meta.sender").as("sender"),
      col("tx.cmd.nonce").as("nonce"),
      col("tx.cmd.payload.exec.code").as("code"), // null for continuations
      col("tx.cmd.payload.cont.pactId").as("pactid"),
      col("tx.cmd.payload.cont.rollback").as("rollback"),
      col("tx.cmd.payload.cont.step").as("step"),
      coalesce(col("tx.cmd.payload.exec.data"), col("tx.cmd.payload.cont.data"))
        .as("data"),
      col("tx.cmd.payload.cont.proof").as("proof"),
      col("tx.result.gas").as("gas"),
      when(col("tx.result.status") =!= "success", col("tx.result.data"))
        .as("badresult"),
      when(col("tx.result.status") === "success", col("tx.result.data"))
        .as("goodresult"),
      col("tx.result.logs").as("logs"),
      col("tx.result.continuation").as("continuation"),
      col("tx.result.txId").as("txid"),
      size(col("tx.result.events")).cast("long").as("num_events"))

  /** Event qualname: `ns.module.name` or `module.name`
    * (Lookups.hs:359-365). */
  private def qualname(ev: Column): Column =
    concat_ws(".",
      ev.getField("module").getField("namespace"),
      ev.getField("module").getField("name"),
      ev.getField("name"))

  private def eventCols(ev: Column, idx: Column): Seq[Column] = Seq(
    idx.cast("long").as("idx"),
    qualname(ev).as("qualname"),
    ev.getField("name").as("name"),
    ev.getField("module").getField("name").as("module"),
    ev.getField("moduleHash").as("modulehash"),
    to_json(ev.getField("params")).as("paramtext"), // LIKE-searchable (Lookups.hs:353)
    ev.getField("params").as("params"))

  /** `events` — tx events plus coinbase events under the `'cb'` request-key
    * sentinel (Common.hs:31-51; Lookups.hs:336-376).
    *
    * INTENTIONAL DIVERGENCE: coinbase events get their real position as
    * `idx`, while the reference hardcodes idx=0 for every coinbase event
    * (Lookups.hs `mkCoinbaseEvents` placeholder). Under the events PK
    * (block, idx, requestkey) the reference's choice makes a multi-event
    * coinbase collide and silently drop rows via ON CONFLICT DO NOTHING;
    * positional idx preserves them. Strict byte parity with a
    * reference-populated table would require `lit(0)` here. */
  def events(hp: DataFrame): DataFrame = {
    val txEv = hp
      .select(col("hash").as("block"), col("chainId").as("chainid"),
              col("height"), explode(col("transactions")).as("tx"))
      .select(col("block"), col("chainid"), col("height"),
              col("tx.requestKey").as("requestkey"),
              posexplode(col("tx.result.events")).as(Seq("pos", "ev")))
    val cbEv = hp
      .select(col("hash").as("block"), col("chainId").as("chainid"),
              col("height"), lit("cb").as("requestkey"),
              posexplode(col("coinbase.events")).as(Seq("pos", "ev")))
    txEv.union(cbEv).select(
      (col("requestkey") +: col("block") +: col("chainid") +: col("height") +:
        eventCols(col("ev"), col("pos"))): _*)
  }

  /** `signers` — signer × sig zip by index (Lookups.hs:267-279): a single
    * `posexplode(arrays_zip(...))` generator, no UDTF. `arrays_zip` pads the
    * shorter array with nulls; the reference's `zipWith3` truncates to the
    * shorter side — the null-side filter below restores exactly that
    * semantics (a tx with mismatched signer/sig counts emits min(n,m) rows,
    * no phantom null-pubkey/null-sig rows). */
  def signers(hp: DataFrame): DataFrame = hp
    .select(explode(col("transactions")).as("tx"))
    .select(col("tx.requestKey").as("requestkey"),
            posexplode(arrays_zip(col("tx.cmd.signers"), col("tx.sigs")))
              .as(Seq("idx", "z")))
    .filter(col("z.signers").isNotNull && col("z.sigs").isNotNull)
    .select(
      col("requestkey"),
      col("idx").cast("int").as("idx"),
      col("z.signers.pubKey").as("pubkey"),
      col("z.signers.scheme").as("scheme"),
      col("z.signers.caps").as("caps"),
      col("z.sigs.sig").as("sig"))

  /** Amount extraction cascade (Lookups.hs:245-257 `getAmount`): a param is
    * `{"decimal": …}` | `{"int": …}` | bare number | quoted string; the raw
    * JSON text of the param feeds a coalesce of typed extractions. */
  def amount(paramJson: Column): Column = {
    val dec = DecimalType(38, 18)
    coalesce(
      get_json_object(paramJson, "$.decimal").cast(dec),
      get_json_object(paramJson, "$.int").cast(dec),
      paramJson.cast(dec),                              // bare number
      regexp_replace(paramJson, "^\"|\"$", "").cast(dec)) // quoted numeric string
  }

  /** `transfers` — TRANSFER-shaped events (qualname suffix + exactly 3
    * params, Lookups.hs:259-265) with the amount cascade. Includes coinbase
    * transfers, matching the reference (mkTransferRows consumes the same
    * combined event list). */
  def transfers(hp: DataFrame): DataFrame = events(hp)
    .filter(col("qualname").endsWith("TRANSFER") && size(col("params")) === 3)
    .select(
      col("block"), col("requestkey"), col("chainid"), col("height"),
      col("idx"), col("module").as("modulename"), col("modulehash"),
      // params are raw JSON text: strip quotes for account strings
      regexp_replace(element_at(col("params"), 1), "^\"|\"$", "").as("from_acct"),
      regexp_replace(element_at(col("params"), 2), "^\"|\"$", "").as("to_acct"),
      amount(element_at(col("params"), 3)).as("amount"))

  /** All six tables from one joined batch — the write fan-out of
    * Worker.hs:50-82 as pure DataFrames keyed for [[Upsert.merge]]. */
  def allTables(hp: DataFrame): Map[String, (DataFrame, Seq[String])] = Map(
    "blocks"       -> (blocks(hp), Seq("hash")),
    "minerkeys"    -> (minerKeys(hp), Seq("block", "key")),
    "transactions" -> (transactions(hp), Seq("block", "requestkey")),
    "events"       -> (events(hp), Seq("block", "idx", "requestkey")),
    "signers"      -> (signers(hp), Seq("requestkey", "idx")),
    "transfers"    -> (transfers(hp),
                       Seq("block", "chainid", "idx", "modulehash", "requestkey")))
}
