package graftbench

/** Summary statistics over timing samples. */
object Stats {

  /** Samples a tail percentile must have above it before it is reported. */
  val MinBeyond = 10

  /** Nearest-rank percentile `p` (0 < p < 100) of `xs`. Refuses (Left)
    * when fewer than [[MinBeyond]] samples lie above the chosen rank, so a
    * reported p90 always rests on at least ten slower samples. */
  def percentile(xs: Seq[Double], p: Double): Either[String, Double] = {
    require(p > 0 && p < 100, s"percentile $p out of (0, 100)")
    val n = xs.size
    val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
    val beyond = n - rank
    if (n == 0 || beyond < MinBeyond)
      Left(f"p$p%.0f needs $MinBeyond samples beyond it, has $beyond of $n")
    else Right(xs.sorted.apply(rank - 1))
  }

  /** Median of a small set (e.g. per-pass totals); the middle value, or
    * the mean of the two middle values. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean of positive samples: every sample's relative change
    * moves it alike, whatever the sample's size. */
  def geoMean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Highest of the given percentiles the sample size supports. */
  def highestSupported(xs: Seq[Double], ps: Seq[Double] = Seq(99, 95, 90, 75, 50)): Option[(Double, Double)] =
    ps.iterator.map(p => percentile(xs, p).toOption.map(p -> _)).collectFirst { case Some(v) => v }
}
