package graft.ingest

import graft.plans.{Gaps, RangePlan}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Distributed block fetch — the reference's node I/O
  * (chainweb-data exec/Chainweb/Lookups.hs:102-139 `blocksBetween`,
  * 86-96 `handleRequest`) as a `mapPartitions` HTTP stage, closing the
  * plan → fetch → flatten → merge batch-repair lifecycle (SURVEY §3.3).
  *
  * Shape: the repair plan (a `Seq[RangePlan.Range]`, each ≤120 heights —
  * one node request, Types.hs:110-111) becomes a Dataset partitioned
  * across the cluster; every task GETs its ranges sequentially over one
  * shared connection pool and emits the response bodies. The concurrent
  * batch scheduler of the reference (T5, `Backfill.hs`/`Gaps.hs` worker
  * pools) is Spark's own task scheduler here: parallelism = partitions,
  * retry/backoff per task below. Item explosion and envelope assembly are
  * declarative column programs (`get_json_object` + `from_json` — objects
  * parsed as `STRING` keep their raw JSON text), so everything after the
  * GET is whole-stage-codegen'd and nothing but the ≤chunk-sized bodies
  * ever exists per task: at a 100 TB backfill the plan is millions of
  * ranges, but each task holds O(chunk) JSON in memory, and the parsed
  * batch is cached once ([[graft.streaming.Listen.ingestBatch]], spilling
  * to disk) for [[Upsert.mergeAll]]'s six anti-joins.
  *
  * Error semantics mirror `handleRequest`: HTTP 429/403 = rate-limiting
  * and 5xx = server error are retried with linear backoff; other 4xx is a
  * client error and fails the task loudly (a misconfigured URL must not
  * be silently skipped).
  */
object Fetch {

  /** `blocksBetween`'s URL (Lookups.hs:135-138):
    * `/chainweb/0.0/{version}/chain/{cid}/block?minheight={lo}&maxheight={hi}`. */
  def blockUrl(base: String, version: String, r: RangePlan.Range): String =
    s"$base/chainweb/0.0/$version/chain/${r.chainId}/block?minheight=${r.lo}&maxheight=${r.hi}"

  /** Classified fetch failure (ErrorType, Lookups.hs:77-78). */
  final case class ApiError(errorType: String, status: Int, url: String)
    extends RuntimeException(s"$errorType (HTTP $status) fetching $url")

  /** Blocking GET with `handleRequest`'s status classification and a
    * bounded linear backoff on the retryable classes. JDK HttpClient only
    * — no extra dependency; one client per task via [[fetchRanges]]. */
  private[ingest] def get(client: java.net.http.HttpClient, url: String,
                          maxAttempts: Int, backoffMs: Long): String = {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .header("accept", "application/json") // Lookups.hs:139 `encoding`
      .GET().build()
    var attempt = 0
    var last: ApiError = null
    while (attempt < maxAttempts) {
      if (attempt > 0) Thread.sleep(backoffMs * attempt)
      attempt += 1
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val s = resp.statusCode()
      if (s >= 200 && s < 300) return resp.body()
      val err =
        if (s == 429 || s == 403) ApiError("RateLimiting", s, url)
        else if (s >= 400 && s < 500) ApiError("ClientError", s, url)
        else ApiError("ServerError", s, url)
      if (err.errorType == "ClientError") throw err // not retryable
      last = err
    }
    throw last
  }

  /** Fetch a repair plan's ranges across the cluster: one row per node
    * response body. Tasks never touch the driver; the ranges Dataset is
    * spread over `min(|ranges|, defaultParallelism)` partitions and each
    * task walks its slice sequentially (the reference throttles the same
    * way — one in-flight request per worker, Gaps.hs:88-107). */
  def fetchBodies(spark: SparkSession, base: String, version: String,
                  ranges: Seq[RangePlan.Range],
                  maxAttempts: Int = 4, backoffMs: Long = 250): DataFrame = {
    import spark.implicits._
    val parts = math.max(1,
      math.min(ranges.size, spark.sparkContext.defaultParallelism))
    ranges.map(r => (r.chainId, r.lo, r.hi)).toDS()
      .repartition(parts)
      .mapPartitions { it =>
        val client = java.net.http.HttpClient.newHttpClient()
        it.map { case (cid, lo, hi) =>
          get(client, blockUrl(base, version, RangePlan.Range(cid, lo, hi)),
              maxAttempts, backoffMs)
        }
      }
      .toDF("body")
  }

  /** Response bodies → ingest envelopes (`{"header":H,"payload":P}`, the
    * exact shape the drop-zone and SSE paths feed [[graft.streaming.Listen.ingestBatch]]).
    * `{"items":[{"header":…,"payloadWithOutputs":…}]}` is `blocksBetween`'s
    * response contract (Lookups.hs:116-127); items missing either half are
    * dropped like the reference's per-item parse failures (Lookups.hs:128-133). */
  def envelopes(bodies: DataFrame): DataFrame =
    bodies
      .select(explode(from_json(get_json_object(col("body"), "$.items"),
                                ArrayType(StringType))).as("item"))
      .select(get_json_object(col("item"), "$.header").as("h"),
              get_json_object(col("item"), "$.payloadWithOutputs").as("p"))
      .filter(col("h").isNotNull && col("p").isNotNull)
      .select(concat(lit("{\"header\":"), col("h"),
                     lit(",\"payload\":"), col("p"), lit("}")).as("value"))

  /** One-call batch repair: gap plan over the blocks table → distributed
    * fetch → flatten → idempotent merge. Returns the executed plan and the
    * per-table inserted-row counts; a second run over a repaired table
    * returns an empty plan and all-zero counts (effectively-once, T4).
    * `ingestBatch` reads the fetched envelopes once, into its persisted
    * parse, so each planned range is one node request. */
  def fill(spark: SparkSession, nodeBase: String, version: String,
           tableDir: String, genesis: Map[Long, Long],
           chunk: Int = RangePlan.ChunkSize,
           maxAttempts: Int = 4, backoffMs: Long = 250)
      : (Seq[RangePlan.Range], Map[String, Long]) = {
    val plan = Gaps.plan(spark.read.parquet(s"$tableDir/blocks"),
                         "chainid", "height", genesis, chunk)
    if (plan.isEmpty) (plan, Map.empty)
    else (plan, graft.streaming.Listen.ingestBatch(spark,
      envelopes(fetchBodies(spark, nodeBase, version, plan, maxAttempts, backoffMs)), tableDir))
  }
}
