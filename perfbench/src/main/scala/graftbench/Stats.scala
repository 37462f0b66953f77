package graftbench

/** Order statistics over samples. Percentiles interpolate linearly
  * between the two nearest ranks (the common "type 7" definition); an
  * empty sample yields 0, which the records only use for layers a
  * workload does not exercise. */
object Stats {

  def percentile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val h = (s.length - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.ceil(h).toInt
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }

  def median(xs: Iterable[Double]): Double = percentile(xs, 0.5)
}
