package perfbench

/** Order statistics with one definition everywhere in the benchmark:
  * Python's `statistics.quantiles` with its default (exclusive) method,
  * which compare.py uses too. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    if (s.size == 1) s.head
    else {
      // 1-based position q * (n + 1), clamped to an inner pair of samples
      // and interpolated (or extrapolated) along it, as Python does
      val pos = q * (s.size + 1)
      val j = math.min(math.max(math.floor(pos).toInt, 1), s.size - 1)
      s(j - 1) + (s(j) - s(j - 1)) * (pos - j)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p50/p75/p90/p95/p99 with at least ten samples above
    * it, or None when even the median has fewer. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75, 50).find(p => xs.size * (100 - p) / 100.0 >= 10)
      .map(p => (p, quantile(xs, p / 100.0)))

  /** Median, quartiles, sample count and (when it exists) the tail. */
  def summary(xs: Seq[Double]): Map[String, Any] =
    if (xs.isEmpty) Map("n" -> 0)
    else Map("n" -> xs.size, "median" -> median(xs),
      "q1" -> quantile(xs, 0.25), "q3" -> quantile(xs, 0.75)) ++
      tail(xs).map { case (p, v) => Map("tail_percentile" -> p, "tail" -> v) }
        .getOrElse(Map.empty)
}

/** The result record as JSON, by the Jackson the Spark jars ship. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
