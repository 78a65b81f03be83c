package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def beyond(xs: Seq[Double], p: Double) = xs.count(_ > Stats.percentile(xs, p))

  test("tail: the highest ladder percentile with at least ten samples beyond it") {
    for (n <- 21 to 2500 by 7) {
      val xs = (1 to n).map(i => ((i * 7919L) % n).toDouble)
      val t = Stats.tail(xs)
      assert(t.beyond >= 10, s"n=$n")
      assert(t.beyond == beyond(xs, t.pct), s"n=$n")
      assert(t.n == n)
      Stats.Ladder.takeWhile(_ > t.pct).foreach(p => assert(beyond(xs, p) < 10, s"n=$n p=$p"))
    }
  }

  test("tail: worked examples") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.tail(hundred).pct == 90.0)
    assert(Stats.tail(hundred).beyond == 10)
    assert(Stats.tail((1 to 1000).map(_.toDouble)).pct == 99.0)
    assert(Stats.tail((1 to 40).map(_.toDouble)).pct == 75.0)
  }

  test("tail: with too few samples the median is reported with its real count") {
    val t = Stats.tail((1 to 15).map(_.toDouble))
    assert(t.pct == 50.0 && t.beyond == 7)
    val ties = Stats.tail(Seq.fill(50)(3.0))
    assert(ties.pct == 50.0 && ties.beyond == 0 && ties.value == 3.0)
  }

  test("failed_frac counts thrown queries and digest mismatches against attempts") {
    val t = Stats.tally(Seq(
      "q_a" -> Stats.Matched,
      "q_b" -> Stats.Threw("boom"),
      "q_c" -> Stats.Mismatched("1:aa", "1:bb"),
      "q_a" -> Stats.Matched,
      "q_b" -> Stats.Threw("boom")))
    assert(t.attempted == 5)
    assert(t.failed == 3)
    assert(t.failedFrac == 0.6)
    assert(t.failedIds == Seq("q_b", "q_c"))
    assert(Stats.tally(Seq("q_a" -> Stats.Matched)).failedFrac == 0.0)
  }

  test("self time subtracts the union of child spans, overlapping or not") {
    val spans = Seq(
      Span(1, 0, "query", "q", 0, 100),
      Span(2, 1, "exec", "q", 10, 50),
      Span(3, 1, "poll", "q", 40, 60),
      Span(4, 1, "poll", "q", 80, 90),
      Span(5, 2, "digest", "q", 45, 50))
    val self = Tracer.selfTimes(spans)
    assert(self("query") == 100 - (60 - 10) - (90 - 80))
    assert(self("exec") == 40 - 5)
    assert(self("poll") == 30)
    assert(self("digest") == 5)
  }
}
