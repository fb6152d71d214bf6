package graft

/** Plan-dump tool (test scope). Two modes:
  *  - default: print SimpleMode plans for a few audit queries (historic use)
  *  - AUDIT_OUT=<dir> AUDIT_SUFFIX=<before|after>: write
  *    `<dir>/<query>_<suffix>.txt` with explain("formatted") for each query
  *    in AUDIT_QUERIES — the optimization-round deliverable
  *    (plans/r13/<query>_{before,after}.txt).
  * The session comes from GraftSession, as graft.Bench's does, so the
  * dumped plan is the benched plan.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(s"local[$cpus]")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = sys.env.get("AUDIT_QUERIES").map(_.split(",").toSeq).getOrElse(
      Seq("q07_keyset_page", "q11_fk_join", "q17_search_predicate", "q32_ann_brute"))
    val out = sys.env.get("AUDIT_OUT")
    val suffix = sys.env.getOrElse("AUDIT_SUFFIX", "before")
    for (q <- names) {
      out match {
        case Some(d) =>
          new java.io.File(d).mkdirs()
          val txt = SparkEntry.queries(q)(spark, dir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$d/${q}_$suffix.txt"), txt)
          println(s"[explain] wrote $d/${q}_$suffix.txt")
        case None =>
          println(s"=== $q ===")
          println(SparkEntry.queries(q)(spark, dir).queryExecution.explainString(
            org.apache.spark.sql.execution.SimpleMode))
      }
    }
    spark.stop()
  }
}
