package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed interval: a request, a call into a layer, or a phase of that
  * call (build, plan, exec). `parent` is 0 for a request span.
  */
final case class Span(id: Long, name: String, parent: Long, request: Long,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span: jobs whose submitting thread had the
  * span open, and the tasks of those jobs' stages.
  */
final class Work {
  var jobs = 0; var tasks = 0
  var cpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var outputBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    jobIntervals ++= o.jobIntervals
  }
}

/** Attributes jobs and task metrics to the span id the job carried in its
  * `perfbench.span` local property. Registered only on traced runs.
  */
final class SpanListener extends SparkListener {
  private val jobStart  = mutable.Map.empty[Int, (Long, Long)] // job -> (span, start ms)
  private val stageSpan = mutable.Map.empty[Int, Long]
  val work = mutable.Map.empty[Long, Work]

  private def of(span: Long) = work.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Property))).foreach { s =>
      val span = s.toLong
      of(span).jobs += 1
      jobStart(e.jobId) = (span, e.time)
      e.stageIds.foreach(stageSpan(_) = span)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) => of(span).jobIntervals += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageSpan.get(e.stageId).filter(_ => m != null).foreach { span =>
      val w = of(span)
      w.tasks += 1
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.inputBytes += m.inputMetrics.bytesRead
      w.outputBytes += m.outputMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }
}

/** In-memory span recorder. Disabled, it only runs the body: untraced runs
  * measure the end-to-end numbers with no listener and no span bookkeeping.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private var nextId  = 1L
  private val open    = mutable.Stack.empty[Long]
  private var request = 0L
  val spans    = mutable.ArrayBuffer.empty[Span]
  val listener = if (enabled) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(0L)
      if (parent == 0L) request = id
      val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
      open.push(id)
      sc.setLocalProperty(Tracer.Property, id.toString)
      try body
      finally {
        open.pop()
        sc.setLocalProperty(Tracer.Property, open.headOption.map(_.toString).orNull)
        spans += Span(id, name, parent, request, s0, System.nanoTime(), m0, System.currentTimeMillis())
      }
    }

  /** Wait until every event posted so far has reached the listener. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(sc)

  /** Self time per span: its duration minus the part its children cover. */
  def selfMs: Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> (s.ms - kids.getOrElse(s.id, Nil).map(_.ms).sum)).toMap
  }

  /** Spark work of a span and all its descendants. */
  def subtreeWork(root: Span): Work = {
    val w    = new Work
    val kids = spans.groupBy(_.parent)
    def go(s: Span): Unit = {
      listener.flatMap(_.work.get(s.id)).foreach(w.add)
      kids.getOrElse(s.id, Nil).foreach(go)
    }
    go(root)
    w
  }

  /** Wall time of `s` spent outside any Spark job it started. */
  def driverMs(s: Span, w: Work): Double = {
    val clipped = w.jobIntervals.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var inJobs = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) inJobs += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) inJobs += curB - curA
    math.max(0.0, s.ms - inJobs)
  }

  def writeJsonl(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val self = selfMs
    val w    = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${self(s.id)}%.4f}""")
    } finally w.close()
  }
}

object Tracer {
  val Property = "perfbench.span"
}
