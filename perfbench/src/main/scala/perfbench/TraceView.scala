package perfbench

/** Per-layer figures from one traced run. Layer spans are timed over every
  * timed op; counters are taken over the first `window` timed ops only,
  * the same operations on every run with the same seed. */
final class TraceView(val spans: Seq[Span], own: Map[Int, Counters],
                      window: Int, val stagedAfterOp: Seq[Long]) {
  private val byId = spans.map(s => s.id -> s).toMap

  /** Counters of a span including every span nested inside it. */
  val inclusive: Map[Int, Counters] = {
    val acc = scala.collection.mutable.HashMap[Int, Counters]()
    own.foreach { case (id, c) =>
      var cur = id
      while (cur >= 0) {
        acc.getOrElseUpdate(cur, new Counters) += c
        cur = byId.get(cur).map(_.parent).getOrElse(-1)
      }
    }
    acc.toMap
  }

  def counters(s: Span): Counters = inclusive.getOrElse(s.id, new Counters)

  private def timed(names: Set[String]) =
    spans.filter(s => names(s.name) && s.cycle >= 0)
  private def inWindow(names: Set[String]) =
    timed(names).filter(_.cycle < window)
  private def medianOr0(xs: Seq[Double]) =
    if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Median seconds per call of the named layer spans. */
  def seconds(names: String*): Double = medianOr0(timed(names.toSet).map(_.seconds))

  /** Median per call of a counter over the counter window. */
  def counter(names: String*)(f: Counters => Long): Double =
    medianOr0(inWindow(names.toSet).map(s => f(counters(s)).toDouble))

  def jobs(names: String*): Double = counter(names: _*)(_.jobs)

  /** The last span of this name outside the timed ops (set-up work). */
  def lastSetup(name: String): Option[Span] =
    spans.filter(s => s.name == name && s.cycle < 0).lastOption

  /** Metrics every workload reports, per timed op ("cycle"). */
  def common: Map[String, Double] = Map(
    "spark.jobs_per_cycle" -> counter("cycle")(_.jobs),
    "spark.tasks_per_cycle" -> counter("cycle")(_.tasks),
    "spark.shuffle_bytes_per_cycle" -> counter("cycle")(_.shuffleBytes),
    "spark.spill_bytes_per_cycle" -> counter("cycle")(_.spillBytes),
    "spark.staged_bytes_after_cycle" ->
      stagedAfterOp.lastOption.map(_.toDouble).getOrElse(0.0))
}
