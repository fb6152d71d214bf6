package graft.bench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call into a module's public function. Spans of one operation
  * (an API request and its direct engine replay, a micro-batch)
  * share `op`; `parent` is the enclosing span's id, -1 at the root. */
final case class Span(id: Int, name: String, op: Long, parent: Int,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the harness's one thread. Spans are only
  * recorded while [[on]]; the innermost open span's id is the thread's
  * Spark job group, so [[SparkMetrics]] can attribute every job (and its
  * tasks) to a span. */
final class Tracer(sc: SparkContext) {
  var on = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private var ids = 0
  private var open: List[(Int, String, Long)] = Nil

  def span[A](name: String, op: Long = -1L)(body: => A): A =
    if (!on) body
    else {
      val stack = open
      ids += 1
      val id = ids
      val opId = if (op >= 0) op else stack.headOption.map(_._3).getOrElse(-1L)
      open = (id, name, opId) :: stack
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        done += Span(id, name, opId, stack.headOption.map(_._1).getOrElse(-1), t0, t1)
        open = stack
        stack.headOption match {
          case Some((pid, pname, _)) => sc.setJobGroup(s"span-$pid", pname, interruptOnCancel = false)
          case None                  => sc.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Self time: the span minus the union of its children's intervals. */
  def selfMs(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) covered += hi - lo
    (s.endNs - s.startNs - covered) / 1e6
  }

  def write(path: java.nio.file.Path, perSpan: Map[Int, SparkMetrics.Totals]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val t = perSpan.getOrElse(s.id, SparkMetrics.Totals())
      w.write(s"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
              s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${t.jobs},""" +
              s""""tasks":${t.tasks},"task_cpu_ns":${t.cpuNs},"input_records":${t.inputRecords}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Benchmark-owned SparkListener: sums task metrics for the whole window
  * and per span (a job's span is its job group, set by [[Tracer.span]]). */
final class SparkMetrics extends SparkListener {
  import SparkMetrics._
  private val lock = new Object
  private var total = Totals()
  private val bySpan = mutable.Map.empty[Int, Totals]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val queueMs = mutable.ArrayBuffer.empty[Long]

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val s = spanOf(e.properties)
    e.stageIds.foreach(id => stageSpan(id) = s)
    total = total.copy(jobs = total.jobs + 1)
    if (s >= 0) bySpan(s) = bySpan.getOrElse(s, Totals()).copy(jobs = bySpan.getOrElse(s, Totals()).jobs + 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = Totals(
        tasks = 1, cpuNs = m.executorCpuTime, runMs = m.executorRunTime, gcMs = m.jvmGCTime,
        inputBytes = m.inputMetrics.bytesRead, inputRecords = m.inputMetrics.recordsRead,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled,
        output = m.outputMetrics.bytesWritten)
      total = total + t
      val s = stageSpan.getOrElse(e.stageId, -1)
      if (s >= 0) bySpan(s) = bySpan.getOrElse(s, Totals()) + t
      stageSubmit.get(e.stageId).foreach(sub => queueMs += math.max(0L, e.taskInfo.launchTime - sub))
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  def totals: Totals = lock.synchronized(total)
  def perSpan: Map[Int, Totals] = lock.synchronized(bySpan.toMap)
  def taskQueueMsMean: Double = lock.synchronized(
    if (queueMs.isEmpty) 0.0 else queueMs.sum.toDouble / queueMs.size)

  /** Mean over stages with at least two tasks of max/median task time. */
  def taskSkew: Double = lock.synchronized {
    val r = stageTasks.values.filter(_.size >= 2).map { ds =>
      val s = ds.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    if (r.isEmpty) 1.0 else r.sum / r.size
  }
}

object SparkMetrics {
  final case class Totals(jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0,
                          runMs: Long = 0, gcMs: Long = 0, inputBytes: Long = 0,
                          inputRecords: Long = 0, shuffleRead: Long = 0,
                          shuffleWrite: Long = 0, spill: Long = 0, output: Long = 0) {
    def +(o: Totals): Totals = Totals(jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs,
      runMs + o.runMs, gcMs + o.gcMs, inputBytes + o.inputBytes,
      inputRecords + o.inputRecords, shuffleRead + o.shuffleRead,
      shuffleWrite + o.shuffleWrite, spill + o.spill, output + o.output)
  }
}
