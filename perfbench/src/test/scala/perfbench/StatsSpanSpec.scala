package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpanSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("tail: no percentile with ten or fewer samples") {
    (0 to 10).foreach(n => assert(Stats.tail(Seq.tabulate(n)(_.toDouble)).isEmpty))
  }

  test("tail: the highest percentile that leaves at least ten samples beyond it") {
    (11 to 400).foreach { n =>
      val xs = scala.util.Random.shuffle(Seq.tabulate(n)(i => i.toDouble))
      val Some((p, v)) = Stats.tail(xs)
      val beyond = xs.count(_ > v)
      assert(beyond >= 10, s"n=$n p=$p leaves $beyond beyond")
      // one percent higher would leave fewer than ten
      if (p < 99) {
        val rank = math.ceil((p + 1) / 100.0 * n).toInt
        assert(n - rank < 10, s"n=$n: p=${p + 1} would still leave ${n - rank}")
      }
    }
  }

  test("tail: worked cases") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Some((90, 90.0)))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some((50, 10.0)))
    assert(Stats.tail((1 to 11).map(_.toDouble)) == Some((9, 1.0)))
  }

  private def span(id: Int, parent: Int, s: Long, e: Long,
      counters: Map[String, Double] = Map.empty) =
    Span(id, parent, s"s$id", s * 1000000000L, e * 1000000000L, counters)

  test("self time: a span minus the union of its children's intervals") {
    val spans = Seq(
      span(0, -1, 0, 100),
      span(1, 0, 10, 40), // overlaps its sibling: 10..60 covered once
      span(2, 0, 30, 60),
      span(3, 1, 15, 20),
      span(4, 0, 90, 120)) // clipped to the parent's end
    val self = Span.selfSeconds(spans)
    assert(self(0) == 100 - 50 - 10)
    assert(self(1) == 30 - 5)
    assert(self(2) == 30)
    assert(self(3) == 5)
    assert(self(4) == 30)
  }

  test("self time: sequential nested spans add up to the root") {
    val spans = Seq(span(0, -1, 0, 50), span(1, 0, 0, 10), span(2, 1, 2, 4),
      span(3, 0, 20, 45), span(4, 3, 20, 45))
    val self = Span.selfSeconds(spans)
    assert(self.values.sum == 50)
    assert(self(3) == 0)
  }

  test("self counters subtract the children's") {
    val spans = Seq(span(0, -1, 0, 10, Map("jobs" -> 7.0)),
      span(1, 0, 1, 2, Map("jobs" -> 2.0)), span(2, 0, 3, 4, Map("jobs" -> 4.0)))
    assert(Span.selfCounters(spans)(0)("jobs") == 1.0)
  }

  test("the tracer records nesting, and a disabled one records nothing") {
    val t = new Tracer(true, None)
    t.span("a") { t.span("b") { t.span("c")(()) }; t.span("d")(()) }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("a").parent == -1)
    assert(byName("b").parent == byName("a").id)
    assert(byName("c").parent == byName("b").id)
    assert(byName("d").parent == byName("a").id)
    val self = Span.selfSeconds(t.spans.toSeq)
    assert(math.abs(self.values.sum - byName("a").seconds) < 1e-9)
    val off = new Tracer(false, None)
    assert(off.span("x")(3) == 3)
    assert(off.spans.isEmpty)
  }

  test("connected-component rounds replay the min-label loop") {
    val g = new GraphFixpoint
    // a path 0-1-2-3: the seed already takes one hop, two rounds carry
    // label 0 to node 3, and a third finds nothing left to change
    assert(g.ccRounds(Array((0L, 1L), (1L, 2L), (2L, 3L))) == 3)
    assert(g.ccRounds(Array((0L, 1L))) == 1)
  }
}
