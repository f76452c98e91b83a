package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer: `parent` is the enclosing span (0 at the
  * top), `request` groups the spans of one workload operation. */
final case class Span(id: Long, name: String, parent: Long, request: Long,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span: every job, stage and task that ran
  * while the span was the innermost open one. */
final class SparkWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var scanBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    scanBytes += o.scanBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; outputBytes += o.outputBytes
    jobIntervals ++= o.jobIntervals
  }
}

/** Span recorder. Spans stay in memory and are written out when the run
  * ends. Before each call it tags the thread's Spark work with the span id
  * (a local property), so [[SpanListener]] can attribute every job, stage
  * and task to the span that caused it. Disabled, it only runs the body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private var request = 0L
  /** Tracing can be switched off for a call, so one run can compare traced
    * and untraced calls. */
  var on: Boolean = enabled
  val listener: SpanListener = if (enabled) new SpanListener else null
  if (enabled) sc.addSparkListener(listener)

  def newRequest(): Unit = request += 1

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      val prevTag = sc.getLocalProperty(Tracer.Prop)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, prevTag)
        spans += Span(id, name, parent, request, t0, t1)
      }
    }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Spark work of a span and all its descendants. */
  def work(s: Span): SparkWork = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val out = new SparkWork
    val ids = descendants(s.id) + s.id
    ids.foreach(i => listener.of(i).foreach(out.add))
    out
  }

  private def descendants(id: Long): Set[Long] = {
    val kids = spans.iterator.filter(_.parent == id).map(_.id).toSet
    kids ++ kids.flatMap(descendants)
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).toSeq
    ((s.endNs - s.startNs) - Tracer.covered(kids)) / 1e6
  }

  /** Call wall time outside any Spark job of the call (driver-side work). */
  def driverMs(s: Span, w: SparkWork): Double =
    math.max(0.0, s.ms - Tracer.covered(w.jobIntervals.toSeq))

  /** Spans as JSON lines: name, start, end, parent, request id, self time. */
  def writeJson(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${selfMs(s)}%.3f}""")
    } finally w.close()
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Collects Spark job, stage and task metrics per span tag. Events arrive on
  * the listener bus thread; readers drain the bus first. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, (Long, Long)]
  private val bySpan = mutable.HashMap.empty[Long, SparkWork]

  private def tag(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Prop))).map(_.toLong).getOrElse(0L)

  private def acc(span: Long): SparkWork = bySpan.getOrElseUpdate(span, new SparkWork)

  def of(span: Long): Option[SparkWork] = synchronized(bySpan.get(span))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = tag(e.properties)
    e.stageIds.foreach(stageSpan(_) = span)
    jobStart(e.jobId) = (span, e.time)
    acc(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) => acc(span).jobIntervals += ((t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageInfo.stageId, tag(e.properties))
    acc(span).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = acc(stageSpan.getOrElse(e.stageId, 0L))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.runMs += m.executorRunTime
      w.scanBytes += m.inputMetrics.bytesRead
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}
