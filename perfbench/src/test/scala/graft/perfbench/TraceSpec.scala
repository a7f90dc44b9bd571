package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, s"s$id", parent, 0L, start, end, start, end)

  test("self time subtracts the union of the children, overlaps counted once") {
    val root = span(0, -1, 0L, 100L)
    val all = Seq(root,
      span(1, 0, 10L, 40L),
      span(2, 0, 30L, 60L), // overlaps child 1 on [30, 40)
      span(3, 0, 90L, 120L), // runs past the parent's end: clipped
      span(4, 1, 15L, 20L), // grandchild: inside child 1, not subtracted again
      span(5, -1, 0L, 100L)) // not a child
    assert(Tracer.selfNs(root, all) == 100L - 50L - 10L)
    assert(Tracer.selfNs(all(1), all) == 30L - 5L)
    assert(Tracer.selfNs(all(5), all) == 100L)
  }

  test("nested spans record their parent and request") {
    val t = new Tracer(enabled = true)
    val v = t.span("outer", 7L) { t.span("inner", 7L)(41) + 1 }
    assert(v == 42)
    val outer = t.named("outer").head
    val inner = t.named("inner").head
    assert(inner.parent == outer.id && outer.parent == -1)
    assert(inner.request == 7L)
    assert(outer.startNs <= inner.startNs && inner.endNs <= outer.endNs)
    t.span("after")(())
    assert(t.named("after").head.parent == -1)
  }

  test("a span closes when its body throws") {
    val t = new Tracer(enabled = true)
    intercept[IllegalStateException](t.span("boom")(throw new IllegalStateException("x")))
    t.span("next")(())
    assert(t.named("boom").size == 1 && t.named("next").head.parent == -1)
  }

  test("a disabled tracer runs the body and records nothing") {
    val t = new Tracer(enabled = false)
    assert(t.span("x")(3) == 3)
    assert(t.spans.isEmpty)
  }
}
