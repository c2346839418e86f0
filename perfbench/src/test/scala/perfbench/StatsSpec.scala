package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a tail is reported only where at least ten samples lie beyond it") {
    assert(Stats.tailPercentile(20).isEmpty)
    assert(Stats.tailPercentile(39).isEmpty)
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    // the chosen step has >= 10 beyond it and the next higher step has not
    (40 to 12000).foreach { n =>
      val p = Stats.tailPercentile(n).get
      assert(Stats.beyond(n, p) >= Stats.MinBeyond, s"n=$n p=$p")
      Stats.TailLadder.takeWhile(_ > p).foreach { higher =>
        assert(Stats.beyond(n, higher) < Stats.MinBeyond, s"n=$n higher=$higher")
      }
    }
  }

  test("tail values use nearest rank; too small a sample reports its maximum") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.tail(xs) == ((90.0, 90.0)))
    assert(Stats.beyond(100, 90) == 10)
    val small = Seq(3.0, 1.0, 2.0)
    assert(Stats.tail(small) == ((100.0, 3.0)))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("a tail is never below the median") {
    val r = new java.util.Random(1)
    (1 to 200).foreach { n =>
      val xs = Seq.fill(n)(r.nextDouble() * 100)
      assert(Stats.tail(xs)._2 >= Stats.median(xs), s"n=$n")
    }
  }

  test("self time subtracts the union of children, clipped to the parent") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    // overlapping children count once; a child running past the end is clipped
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60)
    // nested or duplicate children
    assert(Stats.selfTime(0, 100, Seq((10L, 50L), (20L, 30L), (10L, 50L))) == 60)
    // a child covering the whole parent leaves no self time
    assert(Stats.selfTime(10, 20, Seq((0L, 30L))) == 0)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
  }

  test("spans record their parent and inherit the request id") {
    val t = new Tracer(true)
    val req = t.newRequest()
    t.span("outer", req) {
      t.span("inner")(Thread.sleep(2))
      t.span("inner")(())
    }
    t.span("solo")(())
    val byName = t.spans.groupBy(_.name)
    val outer = byName("outer").head
    assert(outer.parent == 0 && outer.req == req)
    assert(byName("inner").forall(s => s.parent == outer.id && s.req == req))
    assert(byName("solo").head.req == -1L)
    val (n, total, self) = t.summary("outer")
    assert(n == 1 && self <= total)
    val inner = byName("inner").map(_.durNs).sum
    assert(self == total - inner)
  }

  test("an untraced tracer records nothing") {
    val t = new Tracer(false)
    assert(t.span("x")(41 + 1) == 42)
    assert(t.spans.isEmpty)
  }
}
