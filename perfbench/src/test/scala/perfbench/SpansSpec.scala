package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  private val parent = Span(0, -1, "exec", 0L, 100L)

  test("self time counts overlapping children once and clips them to the span") {
    val children = Seq(
      Span(1, 0, "job 1", 10L, 30L),
      Span(2, 0, "job 2", 20L, 50L), // overlaps job 1
      Span(3, 0, "job 3", 25L, 40L), // inside job 2
      Span(4, 0, "catalyst.planning", 60L, 70L),
      Span(5, 0, "job 4", 90L, 120L)) // runs past the parent's end
    // covered: [10,50] + [60,70] + [90,100] = 40 + 10 + 10
    assert(Spans.covered(children.map(c => (c.start, c.end)), 0L, 100L) == 60L)
    assert(Spans.selfTime(parent, children) == 40L)
  }

  test("no children, nested identical children, and children outside the span") {
    assert(Spans.selfTime(parent, Nil) == 100L)
    assert(Spans.selfTime(parent, Seq(Span(1, 0, "a", 0L, 100L), Span(2, 0, "b", 0L, 100L))) == 0L)
    assert(Spans.selfTime(parent, Seq(Span(1, 0, "a", 100L, 200L), Span(2, 0, "b", -50L, 0L))) == 100L)
  }

  test("touching intervals merge without a gap") {
    assert(Spans.covered(Seq((0L, 10L), (10L, 20L), (30L, 35L)), 0L, 100L) == 25L)
  }
}
