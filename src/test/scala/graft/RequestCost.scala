package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._
import scala.jdk.OptionConverters._

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
  * directory with `Listen.ingestBatch` and starts `server.Api` on it.
  *
  * Each path is the first page of a session: it is requested, and while
  * a response carries `Graft-Next`, the page that token names is requested
  * next, up to [[SessionPages]] pages. This first walk, one request at a
  * time in the order of the arguments, is the cold measure: what each page
  * costs on its first visit, after the pages before it (a new cursor page
  * that compiles nothing reuses the classes an earlier page compiled).
  * Every page is then requested once more to warm the caches, and `reps`
  * times in turn for the warm mean. Per page it prints the first visit's
  * jobs started, compiles (`CodegenMetrics.METRIC_COMPILATION_TIME` count)
  * and compile milliseconds (`CodeGenerator.compileTime`), then the same
  * three as warm means. A job counts for a request when it starts inside
  * the request's [[JobWindow]], so the count needs no job group. */
object RequestCost {
  /** Pages walked per session: its first page and the next ones. */
  val SessionPages = 4

  /** Jobs, compiles and compile nanoseconds of one request. */
  final case class Cost(jobs: Long, compiles: Long, compileNs: Long) {
    def +(o: Cost): Cost = Cost(jobs + o.jobs, compiles + o.compiles, compileNs + o.compileNs)
  }

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
    /** One request: its cost and its `Graft-Next` token. */
    def measure(path: String): (Cost, Option[String]) = {
      var resp: HttpResponse[String] = null
      var (compiles, compileNs) = (0L, 0L)
      val jobs = JobWindow(spark) {
        val (c0, t0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
        resp = http.send(HttpRequest.newBuilder(URI.create(s"http://localhost:${api.boundPort}$path")).build(),
                         HttpResponse.BodyHandlers.ofString())
        compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        compileNs = CodeGenerator.compileTime - t0
      }
      require(resp.statusCode() == 200, s"$path answered ${resp.statusCode()}")
      (Cost(jobs.size, compiles, compileNs), resp.headers().firstValue("Graft-Next").toScala)
    }
    try {
      val first: Seq[(String, Cost)] = paths.flatMap { p =>
        Iterator.unfold(Option(p)) { page =>
          page.map { pg =>
            val (cost, next) = measure(pg)
            ((pg, cost), next.map(t => p + (if (p.contains("?")) "&" else "?") + s"next=$t"))
          }
        }.take(SessionPages)
      }
      val pages = first.map(_._1)
      pages.foreach(measure)
      val warm = (for (_ <- 1 to reps; pg <- pages) yield pg -> measure(pg)._1)
        .groupMapReduce(_._1)(_._2)(_ + _)
      println("page\tfirst_jobs\tfirst_compiles\tfirst_compile_ms\t" +
              "jobs/request\tcompiles/request\tcompile_ms/request")
      for ((pg, f) <- first) {
        val w = warm(pg)
        println(f"$pg\t${f.jobs}\t${f.compiles}\t${f.compileNs / 1e6}%.1f\t" +
                f"${w.jobs.toDouble / reps}%.2f\t${w.compiles.toDouble / reps}%.2f\t${w.compileNs / 1e6 / reps}%.1f")
      }
    } finally {
      api.stop()
      spark.stop()
    }
  }
}
