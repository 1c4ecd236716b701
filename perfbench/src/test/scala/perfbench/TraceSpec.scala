package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Long, start: Long, end: Long, parent: Long = 0L, req: String = "r") =
    Span(id, s"s$id", start, end, parent, req, start, end)

  test("covered time counts overlapping intervals once and clips to the window") {
    assert(Trace.coveredNs(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L) == 25L)
    assert(Trace.coveredNs(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 8L, 25L) == 12L)
    assert(Trace.coveredNs(Seq((2L, 4L), (2L, 4L)), 0L, 10L) == 2L)
    assert(Trace.coveredNs(Nil, 0L, 10L) == 0L)
  }

  test("self time is duration minus the direct children's union") {
    val root = span(1, 0, 100)
    val a = span(2, 10, 40, parent = 1)
    val b = span(3, 30, 60, parent = 1)   // overlaps a
    val c = span(4, 15, 20, parent = 2)   // grandchild: a's, not root's
    val all = Seq(root, a, b, c)
    assert(Trace.selfNs(root, all) == 50L)
    assert(Trace.selfNs(a, all) == 25L)
    assert(Trace.selfNs(b, all) == 30L)
    assert(Trace.selfNs(c, all) == 5L)
  }

  test("self times of nested spans add up to the request's wall time") {
    val all = Seq(span(1, 0, 100), span(2, 10, 40, 1), span(3, 50, 90, 1), span(4, 60, 70, 3))
    val (wall, self) = Trace.accounting(all)("r")
    assert(wall == 100L && self == 100L)
    assert(Trace.selfByName(all) == Map("s1" -> 30L, "s2" -> 30L, "s3" -> 30L, "s4" -> 10L))
  }

  test("the tracer records nesting, requests, and nothing when off or paused") {
    val t = new Tracer(enabled = true)
    t.span("outer", "q1") { t.span("inner", "q1")(()); t.untraced(t.span("hidden", "q1")(())) }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName.keySet == Set("outer", "inner"))
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("outer").parent == 0L)
    assert(t.spans.forall(_.request == "q1"))
    val off = new Tracer(enabled = false)
    assert(off.span("x", "q")(42) == 42)
    assert(off.spans.isEmpty)
  }
}
