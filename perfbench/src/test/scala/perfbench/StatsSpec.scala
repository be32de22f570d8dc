package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.value == 90.0)
    assert(xs.count(_ > t.value) == Stats.TailBeyond)
    assert(t.percentile == 90.0)
    assert(t.n == 100)
  }

  test("tail moves with the sample count, never leaving fewer than ten beyond") {
    for (n <- Seq(11, 12, 37, 250, 1001)) {
      val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
      val t = Stats.tail(xs)
      assert(xs.count(_ > t.value) == Stats.TailBeyond, s"n=$n")
      assert(math.abs(t.percentile - 100.0 * (n - 10) / n) < 1e-9)
    }
  }

  test("with ten or fewer samples the tail is the maximum at percentile 100") {
    val t = Stats.tail(Seq(3.0, 1.0, 2.0))
    assert(t == Stats.Tail(3.0, 100.0, 3))
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("open-loop latency runs from the due time, so generator lateness counts") {
    val due = 1000000000L
    val sentLate = due + 300000000L
    val done = sentLate + 200000000L
    assert(Stats.openLoopLatency(due, done) == 0.5)
    assert(Stats.lateness(due, sentLate) == 300.0)
    assert(Stats.lateness(due, due - 5L) == 0.0)
  }

  test("backlog counts offered minus completed at a point in time") {
    val offered = Seq(10L, 20L, 30L, 40L)
    val done = Seq(25L, 25L, 50L, 60L)
    assert(Stats.backlogAt(5L, offered, done) == 0)
    assert(Stats.backlogAt(20L, offered, done) == 2)
    assert(Stats.backlogAt(30L, offered, done) == 1)
    assert(Stats.backlogAt(60L, offered, done) == 0)
  }
}
