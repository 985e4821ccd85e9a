package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Latency summaries and the result-line JSON. */
object Stats {

  /** Linearly interpolated percentile (`q` in [0, 100]) of a non-empty
    * sample, the same estimator as numpy's default. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest percentile that still has at least `beyond` samples
    * above it, never below the median: 100 * (1 - beyond / n). It moves
    * smoothly with the sample count, so two runs that differ by a few
    * samples report nearly the same level. */
  def tailLevel(n: Int, beyond: Int = 10): Double =
    math.max(50.0, 100.0 * (1.0 - beyond.toDouble / n))

  /** Median and tail of a latency sample, with the level the tail used. */
  final case class Summary(n: Int, p50: Double, tail: Double, level: Double)

  /** NaN values for an empty sample (a run that stopped on a failure). */
  def summary(xs: Seq[Double]): Summary =
    if (xs.isEmpty) Summary(0, Double.NaN, Double.NaN, Double.NaN)
    else {
      val level = tailLevel(xs.size)
      Summary(xs.size, median(xs), pct(xs, level), level)
    }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** JSON of maps, sequences, strings, numbers and booleans, through the
    * Jackson that ships with Spark. */
  def json(v: Any): String = mapper.writeValueAsString(v)
}
