package perfbench

/** Timings as the benchmark reports them: a median with its sample count,
  * and a nearest-rank tail percentile only when at least [[MinBeyond]]
  * samples lie above it — one with fewer samples beyond it mostly reports
  * the single slowest samples. */
object Stats {

  val MinBeyond = 10

  final case class Pct(value: Double, samples: Int, beyond: Int)

  /** Nearest-rank `q`-quantile (0 < q < 1) of `xs`, or an error naming
    * how many samples it needs. */
  def percentile(xs: Seq[Double], q: Double): Either[String, Pct] = {
    require(q > 0 && q < 1, s"quantile $q outside (0, 1)")
    val n = xs.size
    val rank = math.max(1, math.ceil(q * n - 1e-9).toInt)
    val beyond = n - rank
    if (beyond < MinBeyond)
      Left(f"p${q * 100}%.0f of $n samples has $beyond beyond it; needs $MinBeyond " +
        s"(at least ${minSamples(q)} samples)")
    else Right(Pct(xs.sorted.apply(rank - 1), n, beyond))
  }

  /** Smallest sample count for which [[percentile]] accepts `q`. */
  def minSamples(q: Double): Int =
    Iterator.from(1).find(n => n - math.max(1, math.ceil(q * n - 1e-9).toInt) >= MinBeyond).get

  /** A timing as the benchmark reports it: the median, the sample count,
    * and the highest of p75/p90/p99 that has ten samples beyond it. */
  final case class Summary(median: Double, samples: Int, tail: Option[(Double, Pct)]) {
    override def toString: String =
      f"median $median%.1f of $samples samples" + tail.fold("")(t =>
        f", p${t._1 * 100}%.0f ${t._2.value}%.1f")
  }

  def summary(xs: Seq[Double]): Summary =
    Summary(median(xs), xs.size,
      Seq(0.99, 0.9, 0.75).iterator.map(q => q -> percentile(xs, q))
        .collectFirst { case (q, Right(p)) => (q, p) })

  /** Plain median, for aggregating a run's repeats of one measurement. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
