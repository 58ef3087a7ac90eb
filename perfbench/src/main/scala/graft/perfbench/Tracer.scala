package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `trace` is shared by every span
  * of one fit or one query; `parent` is the id of the enclosing span (0 for
  * a root). */
final case class Span(id: Long, name: String, trace: String, parent: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span store. It is a JVM-wide object so that closures running
  * on local-mode executor threads record into the same store as the
  * driver; spans are written out once, when the run ends. */
object Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong

  /** Runs `f` inside a span; `f` receives the span's id so that it can
    * parent child spans. */
  def span[T](name: String, trace: String, parent: Long)(f: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try f(id)
    finally spans.add(Span(id, name, trace, parent, t0, System.nanoTime()))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time of `s`: its duration minus the union of its children's
    * intervals. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    var covered = 0L
    var reach = s.startNs
    children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
    (s.endNs - s.startNs) - covered
  }

  def toJson(ss: Seq[Span]): String =
    ss.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"trace":${Json.str(s.trace)},""" +
        s""""parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
}
