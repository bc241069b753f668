package perfbench

/** Order statistics over timing samples. */
object Stats {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it (the
    * eleventh-largest sample) once there are 20 samples or more. Below
    * 20 that percentile would not reach the median, and the largest
    * sample is returned instead. */
  def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size < 20) s.last else s(s.size - 11)
    }

  /** Least-squares slope of `xs` against their index, as a share of the
    * median per iteration: 0.05 means each iteration took 5% of the
    * median longer than the one before. */
  def drift(xs: Seq[Double]): Double =
    if (xs.size < 2) 0.0 else {
      val n = xs.size
      val mx = (n - 1) / 2.0
      val my = xs.sum / n
      val cov = xs.indices.map(i => (i - mx) * (xs(i) - my)).sum
      val vx = xs.indices.map(i => (i - mx) * (i - mx)).sum
      val m = median(xs)
      if (m > 0) cov / vx / m else 0.0
    }
}
