package graft

/** Plan-dump tool (test scope). Two modes:
  *  - default: print SimpleMode plans for a few audit queries (historic use)
  *  - AUDIT_OUT=<dir> AUDIT_SUFFIX=<before|after>: write
  *    `<dir>/<query>_<suffix>.txt` with explain("formatted") for each query
  *    in AUDIT_QUERIES — the optimization-round deliverable
  *    (plans/r13/<query>_{before,after}.txt). Ids drawn from JVM-global
  *    counters (expression `#123`, lambda variable `x_12`, `plan_id=`, RDD
  *    ids and their call-site lines) and the per-JVM store temp directory
  *    are normalized away, so two dumps of the same plan — one per
  *    commit — differ only where the plans differ.
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
            .replaceAll("#\\d+", "#")
            .replaceAll("\\b([xyz])_\\d+", "$1_")
            .replaceAll("plan_id=\\d+", "plan_id=")
            .replaceAll("RDD\\[\\d+\\] at (\\w+) at ([\\w.]+):\\d+", "RDD[] at $1 at $2")
            .replaceAll("graft_stores\\d+", "graft_stores")
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
