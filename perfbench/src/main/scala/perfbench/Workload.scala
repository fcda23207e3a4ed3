package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one job run leaves for the report: the job's own seconds (a
  * workload may time only part of what it runs), the output problems found
  * by its checks (empty when correct), per-run values, per-call samples, and
  * the engine work of anything the run did besides the job itself.
  */
final case class Outcome(
    jobSeconds: Double,
    problems: Seq[String],
    values: Map[String, Double] = Map.empty,
    samples: Map[String, Seq[Double]] = Map.empty,
    excluded: EngineCounts = EngineCounts())

/** Everything a job run needs from the harness. */
final case class Ctx(spark: SparkSession, tracer: Tracer, listener: BenchListener)

/** A seeded workload. `generate` writes the inputs under `dir`; it runs
  * several times and must leave the same state. `prepare` then computes the
  * exact answers once. `job` runs one complete job, checks its output and
  * returns the outcome; with the tracer enabled it records spans around its
  * library calls.
  */
trait Workload {
  def name: String
  /** Rows of the job's input, the base of `rows_per_s`. */
  def inputRows: Long
  /** Input sizes recorded with every result. */
  def sizes: Seq[(String, Any)]
  def generate(spark: SparkSession, seed: Long, dir: String): Unit
  def prepare(spark: SparkSession, seed: Long): Unit
  def job(ctx: Ctx): Outcome
  /** The job's own input projection, read by the scan measurement. */
  def scanFrame(spark: SparkSession): DataFrame
  /** Workload-specific end-to-end metrics over the measured (untraced) runs. */
  def endToEnd(runs: Seq[Outcome]): Seq[Metric]
  /** Workload-specific per-layer metrics over the traced runs. */
  def perLayer(ctx: Ctx, runs: Seq[Outcome]): Seq[Metric] = Nil
}

object Workload {
  /** An estimate fails its check beyond this many HLL standard errors. The
    * estimates are deterministic for a seed, so this is a per-group bound
    * with a per-seed false-alarm chance far below one in a million.
    */
  val MaxErrOverBound = 6.0

  val Names: Seq[String] = Seq("pages_distinct", "sketch_rollup", "near_dup", "ivf_lifecycle")

  /** `smoke` sizes run in seconds and back the benchmark's own tests. */
  def apply(name: String, smoke: Boolean, cores: Int): Workload = name match {
    case "pages_distinct" => new PagesDistinct(
      if (smoke) PagesSpec(rows = 1L << 16, distinctLog2 = 15, hosts = 64, files = cores)
      else PagesSpec(rows = 1L << 21, distinctLog2 = 20, hosts = 1 << 14, files = 2 * cores),
      cores)
    case "sketch_rollup" => new SketchRollup(
      if (smoke) PagesSpec(rows = 1L << 16, distinctLog2 = 15, hosts = 32, files = cores)
      else PagesSpec(rows = 1L << 20, distinctLog2 = 19, hosts = 450, files = 2 * cores))
    case "near_dup" => new NearDup(
      if (smoke) DocsSpec(families = 100, background = 400, words = 60, vocab = 5000,
        copies = 4, files = 1)
      else DocsSpec(families = 750, background = 3000, words = 60, vocab = 20000,
        copies = 4, files = 1))
    case "ivf_lifecycle" => new IvfLifecycle(
      if (smoke) VecSpec(n = 2000, dim = 64, clusters = 8, cells = 8, append = 200,
        queries = 16, batch = 4, k = 10, files = cores)
      else VecSpec(n = 20000, dim = 64, clusters = 32, cells = 8, append = 2000,
        queries = 64, batch = 8, k = 10, files = cores))
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  /** Per-run values of `key` over the runs that report it. */
  def values(runs: Seq[Outcome], key: String): Seq[Double] = runs.flatMap(_.values.get(key))

  def medianMetric(runs: Seq[Outcome], key: String, unit: String): Option[Metric] = {
    val v = values(runs, key)
    if (v.isEmpty) None else Some(Metric(key, Stats.median(v), unit, v.length))
  }

  def maxMetric(runs: Seq[Outcome], key: String, unit: String): Option[Metric] = {
    val v = values(runs, key)
    if (v.isEmpty) None else Some(Metric(key, v.max, unit, v.length, "max over runs"))
  }
}
