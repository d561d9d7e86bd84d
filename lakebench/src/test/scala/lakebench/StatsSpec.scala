package lakebench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("the tail is the highest ladder percentile with ten samples beyond it") {
    assert(tailPercentile(19) == 50.0) // too few samples: the median stands in
    assert(tailPercentile(20) == 50.0)
    assert(tailPercentile(40) == 75.0)
    assert(tailPercentile(99) == 75.0)
    assert(tailPercentile(100) == 90.0)
    assert(tailPercentile(200) == 95.0)
    assert(tailPercentile(1000) == 99.0)
    assert(tailPercentile(10000) == 99.9)
    assert(tailPercentile(100000) == 99.99)
  }

  test("percentiles interpolate linearly between order statistics") {
    val xs = (1 to 101).map(_.toDouble).reverse
    assert(median(xs) == 51.0)
    assert(percentile(xs, 90) == 91.0)
    assert(percentile(Seq(1.0, 2.0), 50) == 1.5)
    val t = timing((1 to 100).map(_.toDouble))
    assert(t.tailPct == 90.0 && t.n == 100 && t.tail == percentile((1 to 100).map(_.toDouble), 90))
  }

  test("a timing of too few samples reports the median as its tail") {
    // one commit time per fan-out query and drain: six samples
    val t = timing(Seq(14.1, 14.9, 15.2, 15.0, 16.6, 13.8))
    assert(t.tailPct == 50.0 && t.n == 6)
    assert(t.tail == t.p50 && t.p50 == (14.9 + 15.0) / 2)
  }

  test("skew is the largest value over the mean") {
    assert(skew(Seq(300.0, 100.0, 200.0)) == 1.5)
    assert(skew(Seq(0.0, 0.0)) == 0.0)
    assert(skew(Seq.empty) == 0.0)
  }

  private def c(q: String, end: Long, commitMs: Long, addBatchMs: Long = 100) =
    Commit(q, 0, end, commitMs, addBatchMs)

  test("freshness waits for the last query whose batch covers the tick") {
    // ticks at offsets 0..3, due every 100 ms from t = 1000
    val ticks = (0L to 3L).map(k => k -> (1000 + 100 * k))
    val commits = Seq(
      c("A", 1, 1500), c("A", 3, 2100),          // A: batches [0,1], [2,3]
      c("B", 0, 1200), c("B", 2, 1900), c("B", 3, 2600)) // B: [0], [1,2], [3]
    val f = freshness(ticks, commits, Set("A", "B"))
    // tick 0: max(A@1500, B@1200) - 1000; tick 1: max(1500, 1900) - 1100
    // tick 2: max(2100, 1900) - 1200;       tick 3: max(2100, 2600) - 1300
    assert(f == Seq(0.5, 0.8, 0.9, 1.3))
  }

  test("a tick some query never committed is left out, and order of events does not matter") {
    val ticks = Seq(0L -> 0L, 1L -> 100L)
    val commits = Seq(c("B", 0, 300), c("A", 1, 400), c("A", 0, 200))
    assert(freshness(ticks, commits, Set("A", "B")) == Seq(0.3))
    assert(freshness(ticks, commits, Set("A", "B", "C")).isEmpty)
  }

  test("fan-out skew is the slowest query's addBatch over the mean, per tick") {
    val commits = Seq(c("A", 5, 0, addBatchMs = 300), c("B", 5, 0, addBatchMs = 100))
    assert(fanoutSkew(Seq(1L, 2L), commits, Set("A", "B")) == 1.5)
    assert(fanoutSkew(Seq(9L), commits, Set("A", "B")) == 0.0)
  }

  test("the union of task intervals counts overlaps once") {
    assert(Trace.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 26L))) == 25)
    assert(Trace.unionMs(Seq.empty) == 0)
    assert(Trace.unionMs(Seq((5L, 5L))) == 0)
  }
}
