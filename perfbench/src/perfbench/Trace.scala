package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `op` groups the spans of one operation;
  * times are milliseconds on the epoch clock, so they line up with the
  * Spark listener's job times. */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Double, var end: Double) {
  def ms: Double = end - start
}

/** Spark counters of one job, filled in by [[JobListener]]. */
final class JobStats(val jobId: Int, val span: Int, val start: Long, val stages: Seq[Int]) {
  @volatile var end: Long = start
  var tasks = 0L; var cpuNs = 0L
  var inputBytes = 0L; var outputBytes = 0L; var shuffleWriteBytes = 0L
}

/** Attributes every job, and the tasks of its stages, to the span that was
  * open when it was submitted: the span id travels as the job group. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new ConcurrentHashMap[Int, JobStats]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val span = group.filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.stripPrefix(Tracer.GroupPrefix).toInt).getOrElse(-1)
    val js = new JobStats(e.jobId, span, e.time, e.stageIds)
    jobs.put(e.jobId, js)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, js))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { js =>
      js.synchronized {
        js.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          js.cpuNs += m.executorCpuTime
          js.inputBytes += m.inputMetrics.bytesRead
          js.outputBytes += m.outputMetrics.bytesWritten
          js.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
}

/** Span recorder. Disabled, `span` is a plain call: no clock reads, no job
  * group, no listener. Spans stay in memory until [[write]]. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var opSeq = 0
  private val listener = new JobListener
  if (enabled) sc.addSparkListener(listener)

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  private def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  /** Start a new operation: spans opened until the next call share its id. */
  def newOp(): Int = { opSeq += 1; opSeq }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), opSeq, now(), 0.0)
      spans += s; stack = s :: stack
      sc.setJobGroup(Tracer.GroupPrefix + s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.end = now(); stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def jobs: Seq[JobStats] = listener.jobs.values().asScala.toSeq.sortBy(_.jobId)

  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)

  /** Spans under `root`, itself included. */
  def subtree(root: Span): Seq[Span] =
    root +: children.getOrElse(root.id, Nil).flatMap(subtree)

  /** Duration minus the part of it that child spans cover. */
  def selfMs(s: Span): Double =
    s.ms - Tracer.covered(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)

  /** Jobs submitted while a span of `root`'s subtree was innermost. */
  def jobsUnder(root: Span): Seq[JobStats] = {
    val ids = subtree(root).map(_.id).toSet
    jobs.filter(j => ids(j.span))
  }

  /** Span wall time during which none of its jobs ran. */
  def driverGapMs(root: Span): Double =
    root.ms - Tracer.covered(jobsUnder(root).map(j => (j.start.toDouble, j.end.toDouble)),
      root.start, root.end)

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      sb ++= s"""  {"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.op}, "start_ms": ${s.start}, "end_ms": ${s.end}}"""
      sb ++= (if (i + 1 < spans.size) ",\n" else "\n")
    }
    sb ++= "]\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) { if (!curA.isNaN) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
