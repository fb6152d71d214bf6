package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Profiling tool (test scope, guide §1): run queries with (a) a job
  * listener printing per-job wall time + call site, and (b) an in-JVM
  * stack sampler over executor task threads (local mode = one JVM), so a
  * multi-job query's cost concentration is visible without the UI.
  * Env: PROF_QUERIES=csv, SPARK_GRAFT_SF_DIR, PROF_RUNS (default 2). */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(s"local[$cpus]", shareLeaves = true)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("PROF_RUNS", "2").toInt
    val names = sys.env.getOrElse("PROF_QUERIES", "q263_text_index_build")
      .split(",").map(_.trim).toSeq

    // ---- stack sampler over executor threads --------------------------
    val samples = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
            if (t.getName.startsWith("Executor task launch") &&
                t.getState == Thread.State.RUNNABLE && st.nonEmpty) {
              val interesting = st.find { f =>
                val c = f.getClassName
                c.startsWith("graft.") || c.startsWith("java.math") ||
                c.startsWith("java.util.regex") || c.contains("GeneratedClass") ||
                c.startsWith("org.apache.spark.sql.catalyst.expressions") ||
                c.startsWith("org.apache.parquet") || c.startsWith("java.util.zip") ||
                c.startsWith("org.apache.spark.unsafe") ||
                c.startsWith("org.apache.spark.sql.execution") ||
                c.startsWith("java.lang.String") || c.startsWith("scala.collection") ||
                c.startsWith("java.io") || c.startsWith("sun.nio")
              }.getOrElse(st.head)
              val sig = interesting.getClassName + "." + interesting.getMethodName
              samples.synchronized { samples(sig) += 1 }
            }
          }
        }
        Thread.sleep(15)
      }
    })
    sampler.setDaemon(true); sampler.start()

    // ---- job listener ---------------------------------------------------
    case class J(id: Int, var t0: Long = 0L, var ms: Long = -1, var site: String = "")
    val jobs = scala.collection.mutable.ArrayBuffer.empty[J]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        jobs += J(e.jobId, System.nanoTime(), -1, site)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == e.jobId).foreach(j => j.ms = (System.nanoTime() - j.t0) / 1000000)
      }
    }

    def clean(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
    }

    names.foreach { n =>
      // warmup
      clean()
      try SparkEntry.queries(n)(spark, dir).queryExecution.toRdd.count()
      catch { case e: Throwable => println(s"[prof] $n warmup failed: $e") }
      var best = Double.MaxValue
      (1 to runs).foreach { r =>
        clean()
        jobs.synchronized(jobs.clear())
        samples.synchronized(samples.clear())
        spark.sparkContext.addSparkListener(listener)
        sampling = true
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, dir).queryExecution.toRdd.count()
        val sec = (System.nanoTime() - t0) / 1e9
        sampling = false
        Thread.sleep(200)
        spark.sparkContext.removeSparkListener(listener)
        best = math.min(best, sec)
        println(f"[prof] $n run$r $sec%.3f s, ${jobs.size} jobs")
        if (r == runs) {
          jobs.synchronized {
            val done = jobs.toSeq
            val tot = done.map(_.ms.max(0)).sum
            println(f"[prof] $n job-sum ${tot}ms; top jobs:")
            done.sortBy(-_.ms).take(14).foreach(j =>
              println(f"    job ${j.id}%4d ${j.ms}%6d ms  ${j.site}"))
          }
          samples.synchronized {
            val tot = samples.values.sum.max(1)
            println(s"[prof] $n exec-thread samples ($tot):")
            samples.toSeq.sortBy(-_._2).take(12).foreach { case (s, c) =>
              println(f"    $c%5d  $s") }
          }
        }
      }
      println(f"[prof] $n BEST $best%.3f s")
    }
    spark.stop()
  }
}
