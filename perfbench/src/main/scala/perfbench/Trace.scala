package perfbench

import scala.collection.mutable

/** One timed call into a layer. `request` is the table copy, poll or
  * query the call belongs to; `parent` is the id of the enclosing span
  * (0 = a request root). `start`/`end` are `System.nanoTime` readings;
  * `startMs`/`endMs` the wall clock, comparable with Spark's job times. */
final case class Span(id: Long, name: String, start: Long, end: Long,
                      parent: Long, request: String, startMs: Long, endMs: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder. Spans are kept until the run ends and are
  * written out then; with `enabled = false` [[span]] only runs the body.
  * The benchmark drives every layer from one thread, so a plain stack
  * tracks the enclosing span. */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 0L
  private var paused = false
  private var onOpen: (Long, String) => Unit = (_, _) => ()
  private var onClose: (Long, Long) => Unit = (_, _) => ()

  /** Hooks run when a span opens (id, name) and closes (id, parent):
    * the Spark listener uses them to tag the span's jobs. */
  def hooks(open: (Long, String) => Unit, close: (Long, Long) => Unit): Unit = {
    onOpen = open; onClose = close
  }

  /** Runs `body` with recording off (warm-up, set-up, and the untraced
    * half of a traced run's overhead comparison). */
  def untraced[T](body: => T): T = {
    val was = paused
    paused = true
    try body finally paused = was
  }

  def recording: Boolean = enabled && !paused

  def span[T](name: String, request: String)(body: => T): T =
    if (!recording) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      onOpen(id, name)
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val m1 = System.currentTimeMillis()
        stack = stack.tail
        onClose(id, parent)
        done += Span(id, name, t0, t1, parent, request, m0, m1)
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object Trace {

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * that its direct children cover (overlapping children count once). */
  def selfNs(span: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == span.id).map(s => (s.start, s.end))
    span.durNs - coveredNs(kids, span.start, span.end)
  }

  /** Self time summed per span name. */
  def selfByName(all: Seq[Span]): Map[String, Long] =
    all.groupBy(_.name).map { case (n, ss) => n -> ss.map(selfNs(_, all)).sum }

  /** Per request: (root wall, summed self time of all its spans). The
    * two are equal when the spans account for the request's wall time. */
  def accounting(all: Seq[Span]): Map[String, (Long, Long)] =
    all.groupBy(_.request).map { case (r, ss) =>
      r -> (ss.filter(_.parent == 0L).map(_.durNs).sum, ss.map(selfNs(_, all)).sum)
    }

  def toJsonLines(all: Seq[Span]): Iterator[String] = all.iterator.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
      s""""parent":${s.parent},"request":"${s.request}"}"""
  }
}
