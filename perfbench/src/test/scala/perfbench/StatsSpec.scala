package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile and median") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
    assert(Stats.median(xs) == 5.5)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("tail rule: the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(999).contains(95.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(19).isEmpty)
  }

  test("a failed op counts as +Inf latency and in the failed fraction") {
    val ok = Seq.fill(9)(10.0)
    val xs = ok :+ Stats.Failed
    assert(Stats.percentile(xs, 100).isInfinite)
    assert(Stats.percentile(xs, 90) == 10.0)
    assert(Stats.failedFrac(xs) == 0.1)
    assert(Stats.failedFrac(Seq.empty) == 0.0)
    // failures only ever push a percentile up
    val half = Seq(1.0, 2.0, Stats.Failed, Stats.Failed)
    assert(Stats.percentile(half, 75).isInfinite)
    assert(Stats.median(half).isInfinite)
  }

  test("a failed harness op is recorded with infinite latency") {
    val r = OpRec(1, "x", 0, 0.0, 5.0, ok = false, "boom", measured = true, traced = false, null)
    assert(r.latencyMs.isInfinite)
    assert(r.copy(ok = true).latencyMs == 5.0)
  }

  test("covered length is the union of clipped intervals") {
    assert(Stats.covered(Seq.empty, 0, 10) == 0.0)
    assert(Stats.covered(Seq((1.0, 3.0), (2.0, 5.0)), 0, 10) == 4.0)
    assert(Stats.covered(Seq((1.0, 2.0), (4.0, 6.0)), 0, 10) == 3.0)
    assert(Stats.covered(Seq((-5.0, 2.0), (8.0, 20.0)), 0, 10) == 4.0)
    assert(Stats.covered(Seq((11.0, 12.0)), 0, 10) == 0.0)
  }

  test("span self time subtracts the part its children cover, overlaps once") {
    val parent = Span(1, 1, 0, "op.x", 0.0, 100.0)
    val kids = Seq(Span(1, 2, 1, "sources.call", 10.0, 40.0),
      Span(1, 3, 1, "sources.collect", 30.0, 50.0),
      Span(1, 4, 1, "functions.embed", 90.0, 130.0))
    assert(Span.selfMs(parent, kids) == 100.0 - 40.0 - 10.0)
    assert(Span.selfMs(parent, Seq.empty) == 100.0)
  }

  test("tracer nests spans under their operation and records nothing when off") {
    val t = new Tracer
    t.root(7, "op.a", on = false)(t.span("sources.call")(1))
    assert(t.spans.isEmpty)
    t.root(8, "op.b", on = true) {
      t.span("sources.call")(t.span("spark.inner")(()))
    }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("op.b").id == 8 && byName("op.b").parent == 0)
    assert(byName("sources.call").parent == 8)
    assert(byName("spark.inner").parent == byName("sources.call").id)
    assert(t.spans.forall(_.op == 8))
    // outside an operation a span is a no-op
    t.span("sources.call")(())
    assert(t.spans.size == 3)
  }
}
