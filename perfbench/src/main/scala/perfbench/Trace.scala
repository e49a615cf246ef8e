package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-memory spans around the benchmark's calls into each layer. Off by
  * default; a traced repetition switches it on. Spans opened inside another
  * span on the same thread become its children and share its op id. */
object Trace {
  final case class Span(id: Long, name: String, start: Long, end: Long,
                        parent: Long, op: Long)

  @volatile var on = false
  private val ids = new AtomicLong
  private val ops = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  // (span id, op id) of the open spans on this thread, innermost first
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  /** Starts a new op (a new root span) when no span is open on the thread. */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val outer = open.get
      val id = ids.incrementAndGet()
      val (parent, op) = outer.headOption.map { case (p, o) => (p, o) }
        .getOrElse((0L, ops.incrementAndGet()))
      open.set((id, op) :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parent, op))
        open.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  final case class Agg(count: Long, totalNs: Long, selfNs: Long)

  /** Per span name: count, total time, and self time (each span's duration
    * minus the part of it its children cover). */
  def summary: Map[String, Agg] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val self = group.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        (s.end - s.start) - covered
      }.sum
      name -> Agg(group.size, group.map(s => s.end - s.start).sum, self)
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}
