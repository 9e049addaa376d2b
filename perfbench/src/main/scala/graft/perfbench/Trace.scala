package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval: `parent` is the id of the span that caused it (-1
  * for a root) and `req` ties together the spans of one request.
  */
final case class Span(id: Int, parent: Int, req: Long, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. When disabled every call is a pass-through, so
  * the untraced run pays nothing but a branch.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val reqOf = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  def request[T](req: Long)(body: => T): T = {
    val prev = reqOf.get; reqOf.set(req)
    try body finally reqOf.set(prev)
  }

  /** Record a finished interval, e.g. a wire phase read off client arrival
    * times; its parent is `parent`, or by default the current span.
    */
  def record(name: String, start: Long, end: Long, parent: Int = -2): Int =
    if (!enabled) -1 else spans.synchronized {
      val id = spans.size
      val p = if (parent == -2) stack.get.headOption.getOrElse(-1) else parent
      spans += Span(id, p, reqOf.get, name, start, end)
      id
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body else {
      val id = spans.synchronized {
        val id = spans.size
        spans += Span(id, stack.get.headOption.getOrElse(-1), reqOf.get, name, System.nanoTime(), 0L)
        id
      }
      stack.set(id :: stack.get)
      try body finally {
        stack.set(stack.get.tail)
        val end = System.nanoTime()
        spans.synchronized { spans(id) = spans(id).copy(end = end) }
      }
    }

  def all: Vector[Span] = spans.synchronized(spans.toVector)

  private val counters = scala.collection.mutable.Map.empty[String, Long]

  /** Add to a named counter (kept only when tracing). */
  def count(name: String, n: Long): Unit =
    if (enabled) counters.synchronized { counters(name) = counters.getOrElse(name, 0L) + n }

  def counter(name: String): Long = counters.synchronized(counters.getOrElse(name, 0L))
}

object Tracer {
  /** the disabled tracer */
  val Off = new Tracer(false)
}

object Trace {
  /** Self time of every span: its duration minus the part of its interval
    * covered by the union of its children (children may overlap each other
    * or stick out of the parent; only the covered part inside counts).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      cs.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else if (b > curE) curE = b
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Spans as JSON lines, times in microseconds from the first span. */
  def writeJsonl(spans: Seq[Span], path: java.nio.file.Path): Unit = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    val self = selfTimes(spans)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        s""""start_us":${(s.start - t0) / 1000},"end_us":${(s.end - t0) / 1000},""" +
        s""""self_us":${self(s.id) / 1000}}""")
      w.newLine()
    } finally w.close()
  }
}
