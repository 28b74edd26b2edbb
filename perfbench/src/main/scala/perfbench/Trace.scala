package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: every job started while the span was
  * the innermost open one, and every task of those jobs' stages. */
final class Counters {
  var jobs = 0L
  /** Jobs that ended without succeeding (cancelled by adaptive
    * re-planning, for instance). */
  var failedJobs = 0L
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  def +=(o: Counters): Unit = {
    jobs += o.jobs; failedJobs += o.failedJobs; tasks += o.tasks
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
  }
}

final case class Span(id: Int, name: String, parent: Int, cycle: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest; each names the layer call it wraps,
  * its parent span and the cycle (timed operation) it belongs to. The
  * innermost open span id travels to Spark as a job-local property, so the
  * listener can attribute jobs and tasks without draining the bus at every
  * span boundary. Disabled, `span` just runs its body: the untraced run
  * pays nothing but the call. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer.SpanProperty

  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private var nextId = 0
  /** The timed operation the next spans belong to; -1 = set-up/warm-up. */
  var cycle: Int = -1
  /** Wall time spent in the tracer's own bookkeeping. */
  var overheadNs = 0L
  private val listener = new SpanListener
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      overheadNs += t0 - b0
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, name, parent, cycle, t0, t1)
        open = open.tail
        sc.setLocalProperty(SpanProperty, open.headOption.map(_.toString).orNull)
        overheadNs += System.nanoTime() - t1
      }
    }

  /** Times `body` with the tracer's bookkeeping clock: work that exists
    * only to feed the trace (directory walks, plan inspection). */
  def bookkeeping[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs += System.nanoTime() - t0
  }

  /** Counters per span id, complete once the listener bus has drained. */
  def counters(): Map[Int, Counters] = {
    if (!enabled) return Map.empty
    bookkeeping(org.apache.spark.perfbench.Bus.drain(sc))
    listener.bySpan.toMap
  }

  def stop(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

private final class SpanListener extends SparkListener {
  val bySpan = mutable.HashMap[Int, Counters]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val jobSpan = mutable.HashMap[Int, Int]()

  private def of(span: Int) = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProperty))).map(_.toInt).getOrElse(-1)
    of(span).jobs += 1
    jobSpan(e.jobId) = span
    e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobResult != JobSucceeded)
      of(jobSpan.getOrElse(e.jobId, -1)).failedJobs += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}
