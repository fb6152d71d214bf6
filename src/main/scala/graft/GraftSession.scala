package graft

import org.apache.spark.sql.SparkSession

/** The one way to get a SparkSession: the CLI, Verify, Bench, the test-scope
  * tools and every spec build theirs here, so all sessions share one setup.
  *
  *  - `graft.functions.GraftExtensions` registers every graft SQL function
  *    and the keyset optimizer rule. Extensions are a static conf, fixed by
  *    the JVM's first `getOrCreate`; with a single factory that first call
  *    always carries them.
  *  - The session timezone is UTC and `spark.sql.legacy.parquet.nanosAsLong`
  *    is on, so [[Tables.load]] reads every `events.ts` encoding alike.
  *  - The UI is off.
  *  - `spark.sql.shuffle.partitions` is the context's default parallelism
  *    (the core count of a `local[N]` master), set after creation because
  *    that figure only exists once the context is up.
  *
  * `shareLeaves` turns on persisted shared leaves ([[Leaves]]); only the
  * bench-shaped runs set it, results are identical either way. */
object GraftSession {
  def apply(master: String, shareLeaves: Boolean = false): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", classOf[functions.GraftExtensions].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (shareLeaves) builder.config("spark.graft.shareLeaves", "true")
    val spark = builder.getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toString)
    spark
  }
}
