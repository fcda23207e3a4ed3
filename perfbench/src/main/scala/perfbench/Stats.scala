package perfbench

/** One reported number: its name, unit and the count of samples behind it. */
final case class Metric(name: String, value: Double, unit: String, n: Int, note: String = "")

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The highest whole percentile that has at least ten samples above it,
    * as (percentile, value); None when that percentile is not above the
    * median.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val p = 100 * (xs.length - 10) / math.max(xs.length, 1)
    if (p <= 50) None else Some((p, xs.sorted.apply(xs.length - 11)))
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, seconds(t0))
  }

  /** HyperLogLog standard error for precision p: 1.04 / sqrt(2^p). */
  def hllBound(p: Int): Double = 1.04 / math.sqrt((1 << p).toDouble)

  /** |estimate - exact| / exact in units of the HLL standard error. */
  def errOverBound(estimate: Double, exact: Double, p: Int): Double =
    math.abs(estimate - exact) / exact / hllBound(p)

  /** SplitMix64 finalizer: a bijection on 64-bit values, used to derive every
    * generated value from (seed, index) alone.
    */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def mix(seed: Long, stream: Long, i: Long): Long = mix(mix(mix(seed) ^ stream) + i)

  /** Uniform double in [0, 1) from (seed, stream, i). */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (mix(seed, stream, i) >>> 11) * (1.0 / (1L << 53))
}
