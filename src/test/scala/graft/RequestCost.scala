package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

import graft.server.Api
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Spark jobs and Janino compiles per API request, in-process:
  *
  * {{{
  * sbt "Test/runMain graft.RequestCost <envelopes.jsonl> <reps> <path>..."
  * }}}
  *
  * Ingests the envelope lines (one `{"header":…,"payload":…}` per line, as
  * `perfbench/gen_chain.py` writes `blocks.jsonl`) into a fresh table
  * directory with `Listen.ingestBatch`, starts `server.Api` on it, requests
  * every path twice to warm the caches, then requests each path `reps`
  * times in turn, one request at a time. Per path it prints the mean jobs
  * started, compiles (`CodegenMetrics.METRIC_COMPILATION_TIME` count) and
  * compile milliseconds (`CodeGenerator.compileTime`) per request. A job
  * counts for a request when it starts inside the request's [[JobWindow]],
  * so the count needs no job group. */
object RequestCost {
  def main(args: Array[String]): Unit = {
    val (input, reps, paths) = (args(0), args(1).toInt, args.drop(2).toSeq)
    val spark = GraftSession("local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_request_cost").toString
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(input)).asScala.toSeq
    graft.streaming.Listen.ingestBatch(spark, lines.toDF("value"), dir): Unit

    val api = new Api(spark, dir, 0, tablesDir = Some(dir))
    api.start()
    val http = HttpClient.newHttpClient()
    def get(path: String): Int =
      http.send(HttpRequest.newBuilder(URI.create(s"http://localhost:${api.boundPort}$path")).build(),
                HttpResponse.BodyHandlers.ofString()).statusCode()
    try {
      for (_ <- 1 to 2; p <- paths) get(p): Unit
      val totals = scala.collection.mutable.Map.empty[String, (Long, Long, Long)].withDefaultValue((0L, 0L, 0L))
      for (_ <- 1 to reps; p <- paths) {
        var (status, compiles, compileNs) = (0, 0L, 0L)
        val jobs = JobWindow(spark) {
          val (c0, t0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
          status = get(p)
          compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
          compileNs = CodeGenerator.compileTime - t0
        }
        require(status == 200, s"$p answered $status")
        val (j, c, t) = totals(p)
        totals(p) = (j + jobs.size, c + compiles, t + compileNs)
      }
      println("path\tjobs/request\tcompiles/request\tcompile_ms/request")
      for (p <- paths) {
        val (j, c, t) = totals(p)
        println(f"$p\t${j.toDouble / reps}%.2f\t${c.toDouble / reps}%.2f\t${t / 1e6 / reps}%.1f")
      }
    } finally {
      api.stop()
      spark.stop()
    }
  }
}
