package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives the same inputs, another seed different ones") {
    assert(Gen.inputDigest(7) == Gen.inputDigest(7))
    assert(Gen.inputDigest(7) != Gen.inputDigest(8))
  }

  test("aggregate oracles equal a brute-force scan of the generated records") {
    val e = new Gen.Estate(3, 3, 500, 3600000L)
    val lo = Gen.NowMs - 20 * 60000L
    val hi = Gen.NowMs - 12345
    val brute = (for (p <- 0 until 3; o <- 0 until 500 if e.tsMs(p, o) >= lo && e.tsMs(p, o) <= hi)
      yield (Gen.regionName(e.regions(p)(o)), e.amounts(p)(o).toLong))
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (g, xs) => (g, xs.size.toLong, xs.map(_._2).sum) }
    assert(e.aggregate(lo, hi, None, byRegion = true) == brute)
    assert(e.aggregate(lo, hi, Some(1), byRegion = false).map(_._1) == Seq("1"))
  }

  test("timestamps rise with offsets and end at the pinned clock") {
    val e = new Gen.Estate(1, 4, 1000, 7200000L)
    for (p <- 0 until 4) {
      assert((1 until 1000).forall(o => e.tsMs(p, o) > e.tsMs(p, o - 1)))
      assert(e.tsMs(p, 999) <= Gen.NowMs)
    }
  }

  test("query sequences keep the block mix and unique scan texts") {
    val e = new Gen.Estate(1, 4, 1000, 7200000L)
    val qs = Gen.querySequence(e, 1, 0, 20)
    assert(qs.groupBy(_.cls).map { case (c, xs) => c -> xs.size } ==
      Gen.Block.groupBy(identity).map { case (c, xs) => c -> xs.size * 20 })
    val scans = qs.filter(_.cls == Gen.Scan).map(_.sql)
    assert(scans.distinct.size == scans.size)
    val other = Gen.querySequence(e, 1, 1, 20).filter(_.cls == Gen.Scan).map(_.sql)
    assert(scans.toSet.intersect(other.toSet).isEmpty)
    val dash = qs.filter(_.cls == Gen.Cached).map(_.sql).distinct
    assert(dash.size == Gen.DashboardsPerClient)
  }

  test("ingest rounds mark exactly one record in MalformedEvery as malformed") {
    val r = Gen.ingestRound(5, 3, IngestLane.Partitions, IngestLane.PerRound, IngestLane.MalformedEvery)
    assert(r.size == IngestLane.PerRound)
    assert(r.count(!_.valid) * IngestLane.MalformedEvery == IngestLane.PerRound)
    assert(r.groupBy(_.partition).values.forall(xs =>
      xs.map(_.offset) == xs.map(_.offset).sorted && xs.map(_.offset).distinct.size == xs.size))
  }

  test("cdc rounds change distinct keys") {
    val c = Gen.cdcRound(5, 2, 1000, 100, 5)
    assert(c.size == 100 && c.map(_._1).distinct.size == 100)
    assert(Gen.cdcRound(5, 0, 1000, 100, 5).map(_._1) == (0 until 1000))
  }
}
