package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `trace` groups the spans of
  * one pass or one request; `parent` is the span that caused this one.
  */
case class Span(id: Long, parent: Long, trace: Long, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, String] = Map.empty) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are kept until the run ends and are
  * written out then; while `on` is unset, `span` only runs its body.
  */
class Tracer {
  @volatile var on: Boolean = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.incrementAndGet()

  def span[A](name: String, parent: Long, trace: Long,
      attrs: Map[String, String] = Map.empty)(f: Long => A): A =
    if (!on) f(0L)
    else {
      val id = newId()
      val t0 = System.nanoTime()
      try f(id)
      finally spans.add(Span(id, parent, trace, name, t0, System.nanoTime(), attrs))
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

object Spans {
  /** Nanoseconds of `[start, end)` covered by the union of `children`,
    * each clipped to that interval.
    */
  def covered(start: Long, end: Long, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(start, c.startNs), math.min(end, c.endNs)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's duration minus the part of it its direct children cover. */
  def selfNs(span: Span, children: Seq[Span]): Long =
    span.durNs - covered(span.startNs, span.endNs, children)

  /** Total self time per span name, in seconds. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => selfNs(s, kids.getOrElse(s.id, Nil))).sum / 1e9 }
  }
}
