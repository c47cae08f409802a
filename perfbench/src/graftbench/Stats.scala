package graftbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Linear-interpolation quantile (Hyndman–Fan type 7, numpy's default):
    * q = 0 is the minimum, q = 1 the maximum. Empty input is a bug in the
    * caller, not a value. */
  def quantile(values: Seq[Double], q: Double): Double = {
    require(values.nonEmpty, "quantile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = values.sorted
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(values: Seq[Double]): Double = quantile(values, 0.5)

  /** The highest of p95, p90, p75 and p50 that still has at least ten
    * samples beyond it, as (percentile, value). */
  def tail(values: Seq[Double]): (Int, Double) = {
    val p = Seq(95, 90, 75).find(p => values.length * (100 - p) / 100.0 >= 10.0)
      .getOrElse(50)
    (p, quantile(values, p / 100.0))
  }
}
