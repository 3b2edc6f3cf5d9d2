package perfbench

/** Order statistics under one rule, shared by every workload: nearest-rank
  * percentiles, always reported with the sample count and the number of
  * samples that lie beyond the percentile.
  */
object Stats {

  /** Samples a percentile needs beyond it before it is reported as itself. */
  val MinBeyond = 10

  private def rank(n: Int, p: Double): Int = {
    require(n > 0, "no samples")
    require(p > 0.0 && p <= 1.0, s"percentile $p outside (0, 1]")
    // the epsilon keeps 0.99 * 1000 at rank 990 despite binary rounding
    math.max(1, math.ceil(p * n - 1e-9).toInt)
  }

  /** Nearest-rank p-quantile of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** How many of `n` samples lie strictly beyond the p-quantile's rank. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** A latency distribution in the shape every artifact reports it. */
  final case class Dist(n: Int, p50: Double, p99: Double, p99Beyond: Int) {
    /** The p99 is a measured tail, not merely the largest samples. */
    def p99Measured: Boolean = p99Beyond >= MinBeyond
    def fields(prefix: String): Seq[(String, Any)] = Seq(
      s"${prefix}_p50_ms" -> p50, s"${prefix}_p99_ms" -> p99,
      s"${prefix}_samples" -> n, s"${prefix}_p99_samples_beyond" -> p99Beyond,
      s"${prefix}_p99_measured" -> p99Measured)
  }

  def dist(xs: Seq[Double]): Dist =
    if (xs.isEmpty) Dist(0, Double.NaN, Double.NaN, 0)
    else Dist(xs.size, percentile(xs, 0.5), percentile(xs, 0.99), beyond(xs.size, 0.99))
}
