package perfbench

/** Order statistics shared by every metric the harness reports. */
object Stats {

  /** Median: the middle sample, or the mean of the two middle samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  /** Nearest-rank percentile, `q` in [0, 1]: the smallest sample with at
    * least `q` of the samples at or below it. Defined for any non-empty
    * input, one sample included.
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"percentile $q outside [0, 1]")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = math.ceil(q * s.length).toInt
      s(math.min(s.length - 1, math.max(0, rank - 1)))
    }
  }

  /** Samples strictly above the nearest-rank `q` position: the count a
    * reported percentile rests on.
    */
  def beyond(n: Int, q: Double): Int = n - math.max(1, math.ceil(q * n).toInt)

  /** The highest percentile, at most p99, with ten or more of `n` samples
    * beyond it. Below 30 samples such a percentile sits at or under p66,
    * too close to the median to describe a tail, so p90 is used and the
    * caller records the sample count.
    */
  def tailQuantile(n: Int): Double =
    if (n < 30) 0.9 else math.min(0.99, math.floor((1.0 - 10.0 / n) * 100.0) / 100.0)

  /** Percentile at [[tailQuantile]] of the samples. */
  def tail(xs: Seq[Double]): Double = percentile(xs, tailQuantile(xs.size))

  /** Geometric mean of positive samples. */
  def geoMean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}
