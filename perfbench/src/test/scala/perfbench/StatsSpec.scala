package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-12

  test("quartiles match Python's statistics.quantiles(xs, n=4)") {
    // expected values printed by CPython 3.11
    val cases = Seq(
      (1 to 10).map(_.toDouble) -> (2.75, 5.5, 8.25),
      Seq(3.0, 1.0) -> (0.5, 2.0, 3.5),
      Seq(5.0, 1.0, 4.0) -> (1.0, 4.0, 5.0),
      Seq(2.5, 9.0, 1.5, 7.25, 3.0) -> (2.0, 3.0, 8.125))
    for ((xs, (q1, q2, q3)) <- cases) {
      val (a, b, c) = Stats.quartiles(xs)
      assert(close(a, q1) && close(b, q2) && close(c, q3), s"$xs -> ($a, $b, $c)")
    }
    assert(Stats.quartiles(Seq(4.0)) == ((4.0, 4.0, 4.0)))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(2.5, 9.0, 1.5, 7.25, 3.0)) == 3.0)
  }

  test("percentile interpolates, geomean of equal values is the value") {
    val xs = (1 to 5).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(close(Stats.percentile(xs, 99), 4.96))
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(close(Stats.geomean(Seq(2.0, 8.0)), 4.0))
    assert(close(Stats.geomean(Seq(0.7, 0.7, 0.7)), 0.7))
  }

  test("self time is a span's duration minus its direct children's") {
    val ms = 1000000L
    val spans = Vector(
      TraceSpan(0, "run", -1, 0, 100 * ms),
      TraceSpan(1, "read", 0, 5 * ms, 25 * ms),
      TraceSpan(2, "write", 0, 30 * ms, 90 * ms),
      TraceSpan(3, "kernel", 2, 35 * ms, 75 * ms),
      TraceSpan(4, "write", 0, 92 * ms, 96 * ms))
    val self = Tracer.selfTimes(spans)
    assert(close(self(0), 0.100 - 0.020 - 0.060 - 0.004))
    assert(close(self(1), 0.020))
    assert(close(self(2), 0.060 - 0.040))
    assert(close(self(3), 0.040))
    val byName = Tracer.selfByName(spans).toMap
    assert(close(byName("write"), 0.020 + 0.004))
    // self times of a tree always add up to the root's duration
    assert(close(self.values.sum, 0.100))
  }

  test("the tracer nests spans by call structure") {
    val t = new Tracer
    t.span("outer") { t.span("a")(()); t.span("b")(t.span("c")(())) }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("outer").parent == -1)
    assert(byName("a").parent == byName("outer").id)
    assert(byName("c").parent == byName("b").id)
    assert(t.spans.forall(s => s.endNs >= s.startNs))
  }

  test("a call that throws is a failure, never a timing") {
    val a = Timer.attempt[Int](throw new IllegalStateException("boom"))
    assert(a.result.isLeft)
    assert(Timer.attempt(41 + 1).result == Right(42))
  }
}
