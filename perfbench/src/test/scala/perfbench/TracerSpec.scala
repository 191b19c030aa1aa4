package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {

  test("self time subtracts the union of child spans") {
    val spans = Seq(
      Span(1, "call", 0, 100, 0, 7),
      Span(2, "a", 10, 40, 1, 7),
      Span(3, "b", 30, 50, 1, 7), // overlaps a: 10..50 covered once
      Span(4, "c", 20, 25, 2, 7)) // grandchild: only a's self time shrinks
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 60)
    assert(self(2) == 25)
    assert(self(3) == 20)
    assert(self(4) == 5)
    val byName = Tracer.selfSecondsByName(spans)
    assert(byName("call") == 60 / 1e9)
  }

  test("spans nest per thread and record the request id") {
    val t = new Tracer
    val r = t.span("outer", 3) { t.span("inner", 3)(41) + 1 }
    assert(r == 42)
    val all = t.all
    val outer = all.find(_.name == "outer").get
    val inner = all.find(_.name == "inner").get
    assert(inner.parent == outer.id && outer.parent == 0)
    assert(all.forall(_.request == 3))
    assert(inner.start >= outer.start && inner.end <= outer.end)
  }

  test("a span that is switched off records nothing") {
    val t = new Tracer
    assert(t.span("x", 1, on = false)(5) == 5)
    assert(t.all.isEmpty)
  }
}
