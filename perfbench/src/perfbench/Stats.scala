package perfbench

/** One timed op of a measured window: its type, latency and whether its
  * answer was right.
  */
final case class Sample(kind: String, ms: Double, ok: Boolean)

/** The ops of a measured window and the window's wall time. */
final case class Window(samples: Seq[Sample], seconds: Double)

/** The statistics every end-to-end latency metric goes through.
  *
  * Latency is summarised per op type (route or query) and the types are
  * combined by geometric mean: pooled percentiles over mixed types sit on
  * the gap between the types' clusters and jump from run to run.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples a tail read needs: at least this many lie beyond it. */
  val TailBeyond = 10

  /** The highest percentile with at least [[TailBeyond]] samples beyond
    * it (the (TailBeyond+1)-th largest sample), or the median when that
    * percentile lies below it: a type too small for a tail reports none
    * beyond its median.
    */
  def tail(xs: Seq[Double]): Double = {
    val m = median(xs)
    if (xs.length <= TailBeyond) m
    else math.max(m, xs.sorted.apply(xs.length - 1 - TailBeyond))
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples: $xs")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Per-type median combined by geometric mean. */
  def typedMedian(byType: Map[String, Seq[Double]]): Double =
    geomean(byType.values.map(median).toSeq)

  /** Per-type tail combined by geometric mean. */
  def typedTail(byType: Map[String, Seq[Double]]): Double =
    geomean(byType.values.map(tail).toSeq)
}
