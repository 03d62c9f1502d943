package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly between closest ranks") {
    val xs = Seq(1.0, 2.0, 3.0, 4.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.percentile(xs, 50) == 2.5)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-12)
  }

  test("tail needs at least ten samples beyond it") {
    assert(Stats.selectTail(1000, Nil).contains(99.0))
    assert(Stats.selectTail(120, Nil).contains(91.0))
    assert(Stats.beyond(120, 91) == 10 && Stats.beyond(120, 92) == 9)
    assert(Stats.selectTail(20, Nil).isEmpty, "20 samples leave no percentile above the median")
  }

  test("tail keeps ten points away from every class boundary") {
    assert(Stats.selectTail(10000, Seq(95.0)).contains(85.0))
    assert(Stats.selectTail(10000, Seq(12.5, 87.5)).contains(99.9))
    assert(Stats.selectTail(30, Seq(60.0)).isEmpty)
  }

  test("boundaries follow the classes ordered by latency") {
    assert(Stats.boundaries(Seq(30, 40, 10, 20)) == Seq(30.0, 70.0, 80.0))
    val samples = Seq.fill(3)((7, 1.0)) ++ Seq.fill(1)((8, 100.0))
    assert(Stats.measuredBoundaries(samples) == Seq(75.0))
    assert(Stats.measuredBoundaries(samples.map { case (c, ms) => (c, -ms) }) == Seq(25.0))
  }

  test("the interactive mix keeps its median and tail off the class boundaries") {
    val shares = Gen.Block.groupBy(identity).map { case (c, xs) => c -> xs.size }
    // cached is fastest and scan slowest; point and tail may rank either way
    for (middle <- Seq(Seq(Gen.Point, Gen.TailQ), Seq(Gen.TailQ, Gen.Point))) {
      val b = Stats.boundaries((Gen.Cached +: middle :+ Gen.Scan).map(shares))
      assert(b.forall(x => math.abs(x - 50) >= 10), s"p50 near a boundary of $b")
      val n = 2 * Gen.Block.size * math.round(10 * KafsqlLane.BlocksPerSecond).toInt
      assert(Stats.selectTail(n, b).exists(_ > 50))
    }
  }

  test("the compaction cadence keeps the cdc median off its class boundary") {
    val share = 100.0 / CdcLane.CompactEvery
    for (b <- Seq(share, 100 - share)) assert(math.abs(b - 50) >= 10)
  }
}
