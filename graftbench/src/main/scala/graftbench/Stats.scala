package graftbench

/** Percentiles and the tail-selection rule. */
object Stats {

  /** Linear-interpolation percentile (numpy's default) of `xs`, q in [0, 100]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q / 100.0 * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Samples strictly beyond the q-th percentile of n samples. */
  def beyond(n: Int, q: Double): Int = math.floor(n * (1 - q / 100.0) + 1e-9).toInt

  /** Percentiles a tail may be reported at, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.5) ++ (99 to 51 by -1).map(_.toDouble)

  /** The highest candidate percentile with at least `minBeyond` samples
    * beyond it and at least `guard` points from every class boundary;
    * None when no candidate qualifies. */
  def selectTail(n: Int, boundaries: Seq[Double], minBeyond: Int = 10,
      guard: Double = 10): Option[Double] =
    TailCandidates.find(q =>
      beyond(n, q) >= minBeyond && boundaries.forall(b => math.abs(q - b) >= guard))

  /** Class boundaries (cumulative percent) of a mix whose classes, ordered
    * from fastest to slowest, have the given sample counts. */
  def boundaries(countsFastestFirst: Seq[Int]): Seq[Double] = {
    val n = countsFastestFirst.sum.toDouble
    countsFastestFirst.scanLeft(0)(_ + _).drop(1).dropRight(1).map(_ * 100.0 / n)
  }

  /** Boundaries of labelled samples: classes ordered by their median. */
  def measuredBoundaries(samples: Seq[(Int, Double)]): Seq[Double] = {
    val byClass = samples.groupBy(_._1).values.toSeq
      .sortBy(s => median(s.map(_._2)))
    boundaries(byClass.map(_.size))
  }
}
