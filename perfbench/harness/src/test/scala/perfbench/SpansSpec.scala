package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  test("self time subtracts overlapping children once") {
    // span [0, 100); children [10, 40) and [30, 60) overlap on [30, 40)
    assert(Spans.selfNs(0, 100, Seq((10L, 40L), (30L, 60L))) == 50)
  }

  test("self time clips children that stick out of the span") {
    assert(Spans.selfNs(100, 200, Seq((50L, 120L), (190L, 250L))) == 70)
    assert(Spans.selfNs(100, 200, Seq((0L, 50L), (300L, 400L))) == 100)
  }

  test("self time with nested, touching and no children") {
    assert(Spans.selfNs(0, 100, Seq((10L, 90L), (20L, 30L))) == 20)
    assert(Spans.selfNs(0, 100, Seq((10L, 20L), (20L, 30L))) == 80)
    assert(Spans.selfNs(0, 100, Nil) == 100)
    assert(Spans.selfNs(0, 100, Seq((0L, 100L))) == 0)
  }

  test("a tracer keeps parent links and finds a subtree") {
    val t = new Tracer
    var inner = 0L
    val root = t.span(0L, 1, "pass", "w") { id =>
      t.span(id, 1, "query", "q")(q => t.span(q, 1, "exec", "q")(e => inner = e))
      id
    }
    t.span(0L, 2, "pass", "w")(_ => ())
    assert(t.subtree(root).map(_.name).toSet == Set("pass", "query", "exec"))
    assert(t.spans.find(_.id == inner).get.durNs >= 0)
  }
}
