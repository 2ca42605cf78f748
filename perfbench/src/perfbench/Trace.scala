package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** One timed call into a layer. `layer` names the module the call enters
  * (harness, tables, engine, exec, api, commission); `name` says which
  * call. Times are `System.nanoTime` values. */
final class Span(val id: Long, val layer: String, val name: String,
                 val parent: Long, val req: Long, val start: Long) {
  @volatile var end: Long = -1L
}

/** Spans recorded around the benchmark's own calls into the program.
  *
  * Nothing is recorded inside `src/`: a span opens before the benchmark
  * calls a layer and closes when the call returns. While a span is open
  * on a thread, its id rides on the SparkContext's thread-local property
  * `perfbench.span`, so the listener ([[Probe]]) files every job the call
  * starts, and its tasks, under that span, even with several client
  * threads on one session. Spans stay in memory until the run ends.
  *
  * When tracing is off, `span` only runs its body. */
object Trace {
  val SpanKey = "perfbench.span"
  @volatile var on = false
  @volatile var sc: SparkContext = _
  private val ids = new AtomicLong(0L)
  private val all = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]

  def spans: Seq[Span] = all.asScala.toSeq

  def currentId: Long = Option(current.get).map(_.id).getOrElse(0L)

  def span[T](layer: String, name: String, req: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val parent = current.get
      val s = new Span(ids.incrementAndGet(), layer, name,
        if (parent == null) 0L else parent.id,
        if (req >= 0 || parent == null) req else parent.req, System.nanoTime())
      all.add(s)
      current.set(s)
      val ctx = sc
      val savedProp = if (ctx != null) ctx.getLocalProperty(SpanKey) else null
      if (ctx != null) ctx.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        current.set(parent)
        if (ctx != null) ctx.setLocalProperty(SpanKey, savedProp)
      }
    }

  /** Self time per layer: each span's duration minus the part of it that
    * its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val ss = spans.filter(_.end >= 0)
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var busy = 0L; var lo = Long.MinValue; var hi = Long.MinValue
      covered.foreach { case (a, b) =>
        if (a > hi) { busy += hi - lo; lo = a; hi = b } else hi = math.max(hi, b)
      }
      busy += hi - lo
      s.layer -> ((s.end - s.start - busy) / 1e9)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
