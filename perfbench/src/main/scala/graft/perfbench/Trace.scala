package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Timing of the calls into graft. Every call is timed; only a traced run
  * also records spans (name, start, end, parent, request), tags the Spark
  * jobs it submits through a local property, and counts them with
  * [[Counts]]. Spans stay in memory until the run ends.
  */
final class Tracer(val sc: SparkContext, val traced: Boolean) {
  import Tracer._

  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  /** Wall clock in epoch milliseconds at nanosecond resolution. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  /** (op, seconds) of every call, traced or not, for the run's log. */
  val calls = mutable.ArrayBuffer.empty[(String, Double)]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var request = 0L

  def newRequest(): Unit = request += 1

  /** Time `call` (the layer function) and then `force` (what makes a lazy
    * result run); returns the forced value and the seconds both took.
    */
  def lazyOp[A, B](name: String)(call: => A)(force: A => B): (B, Double) = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    if (traced) sc.setLocalProperty(SpanKey, id.toString)
    stack = id :: stack
    val start = nowMs
    try {
      val a = call
      val called = nowMs
      val b = force(a)
      val end = nowMs
      if (traced) spans += Span(id, name, parent, request, start, called, end)
      calls += ((name, (end - start) / 1e3))
      (b, (end - start) / 1e3)
    } finally {
      stack = stack.tail
      if (traced) sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
    }
  }

  /** Time an eager call. */
  def op[A](name: String)(body: => A): (A, Double) = lazyOp(name)(body)(identity)
}

object Tracer {
  val SpanKey = "graft.perfbench.span"

  final case class Span(id: Long, name: String, parent: Long, request: Long,
                        startMs: Double, callMs: Double, endMs: Double) {
    def wallMs: Double = endMs - startMs
  }

  /** Total length of the union of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    for ((s, e) <- iv.sortBy(_._1)) {
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}

/** Job, shuffle and scan counts per span, from a SparkListener that only a
  * traced run registers. Jobs are keyed by the span local property; jobs of
  * a streaming micro-batch by its query id and batch id.
  */
final class Counts extends SparkListener {
  final class Acc {
    val jobs = mutable.ArrayBuffer.empty[(Double, Double)]
    var shuffleBytes = 0L
    var recordsRead = 0L
  }
  val bySpan = mutable.HashMap.empty[String, Acc]
  private val jobKey = mutable.HashMap.empty[Int, (String, Double)]
  private val stageKey = mutable.HashMap.empty[Int, String]
  @volatile var callbackNanos = 0L

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime(); f; callbackNanos += System.nanoTime() - t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = Option(e.properties)
    val key = p.flatMap(pp => Option(pp.getProperty("streaming.sql.batchId")).map(b =>
        s"batch:${pp.getProperty("sql.streaming.queryId")}:$b"))
      .orElse(p.flatMap(pp => Option(pp.getProperty(Tracer.SpanKey))))
    key.foreach { k =>
      jobKey(e.jobId) = (k, e.time.toDouble)
      e.stageIds.foreach(s => stageKey(s) = k)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobKey.remove(e.jobId).foreach { case (k, start) =>
      bySpan.getOrElseUpdate(k, new Acc).jobs += ((start, e.time.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (k <- stageKey.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = bySpan.getOrElseUpdate(k, new Acc)
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.recordsRead += m.inputMetrics.recordsRead
    }
  }
}

/** Micro-batch progress of streaming queries (traced runs only). */
final class Progress extends StreamingQueryListener {
  val events = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { events += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
