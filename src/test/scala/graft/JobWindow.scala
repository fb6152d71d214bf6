package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs that start while `body` runs, as (job group,
  * description, interruptOnCancel) of each. A job under its own group
  * marks each end of the window: the listener bus delivers job starts in
  * order, so once the closing marker is seen every job before it has been
  * seen too. Jobs that other threads start inside the window count too. */
object JobWindow {
  private val markers = new java.util.concurrent.atomic.AtomicLong(0)

  def apply(spark: SparkSession)(body: => Unit): Seq[(String, String, String)] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        seen.add((p.getProperty("spark.jobGroup.id"), p.getProperty("spark.job.description"),
                  p.getProperty("spark.job.interruptOnCancel")))
      }
    }
    def marker(): String = {
      val name = s"job-window-marker-${markers.incrementAndGet()}"
      sc.setJobGroup(name, name)
      try spark.range(1).count(): Unit
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_._1 == name) && System.nanoTime() < deadline) Thread.sleep(5)
      name
    }
    sc.addSparkListener(listener)
    try {
      val before = marker()
      body
      val after = marker()
      seen.asScala.toSeq.dropWhile(_._1 != before).dropWhile(_._1 == before).takeWhile(_._1 != after)
    } finally sc.removeSparkListener(listener)
  }
}
