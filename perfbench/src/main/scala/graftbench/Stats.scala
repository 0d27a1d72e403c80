package graftbench

/** Sample statistics used by every latency metric. */
object Stats {

  /** Linear-interpolated quantile (numpy's default, "type 7"). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private val tailLadder = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The `_tail` percentile for `n` samples: the highest ladder step that
    * still has at least 10 samples above it. Below 20 samples no step
    * qualifies and the tail falls back to the median (p50). */
  def tailPercentile(n: Int): Double =
    tailLadder.find(p => math.floor(n * (1 - p / 100) + 1e-9) >= 10).getOrElse(50.0)

  /** Samples strictly above the tail percentile's rank. */
  def samplesAbove(n: Int, pct: Double): Int = math.floor(n * (1 - pct / 100) + 1e-9).toInt

  def tail(xs: Seq[Double]): Double = quantile(xs, tailPercentile(xs.size) / 100)

  /** Hand-computed cases: a failure here means every latency figure of the
    * run is suspect, so the run is marked incorrect. */
  def selfTest(): Seq[String] = {
    val errs = Seq.newBuilder[String]
    def check(what: String, got: Double, want: Double): Unit =
      if (math.abs(got - want) > 1e-12) errs += s"stats self-test: $what = $got, want $want"
    // 1..20 shuffled: median halfway between 10 and 11; 20 samples leave
    // 10 above p50 and only 5 above p75, so the tail is p50
    val twenty = Seq(7, 19, 3, 12, 1, 20, 15, 9, 4, 16, 11, 2, 18, 6, 13, 8, 17, 5, 14, 10).map(_.toDouble)
    check("p50(1..20)", median(twenty), 10.5)
    check("tailPercentile(20)", tailPercentile(20), 50.0)
    check("tail(1..20)", tail(twenty), 10.5)
    // 1..40: p75 has 10 above it (rank 29.25 → 30 + 0.25·(31 − 30))
    val forty = (1 to 40).reverse.map(_.toDouble)
    check("tailPercentile(40)", tailPercentile(40), 75.0)
    check("tail(1..40)", tail(forty), 30.25)
    // 100 samples: p90 has exactly 10 above it, p95 only 5
    check("tailPercentile(100)", tailPercentile(100), 90.0)
    check("tail(1..100)", tail((1 to 100).map(_.toDouble)), 90.1)
    check("p50(2,9,4)", median(Seq(2.0, 9.0, 4.0)), 4.0)
    check("tailPercentile(7)", tailPercentile(7), 50.0)
    errs.result()
  }
}
