package perfbench

import graft.functions.{ce_approx_distinct, ce_merge_estimate, ce_sketch}
import graft.ops.NorthQueries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The same sketch layer used the other way round: thousands of small
  * sketch buffers per task, mostly in the exact Small/Array modes. One job:
  *   (a) the shipped salted per-language query (40 x 64 HLL buffers);
  *   (b) one `ce_sketch` per (host, day), written to a sketch store;
  *   (c) the stored sketches read back and merged per host and overall.
  * Buffer creation, serialization and merge dominate, not inserts.
  */
final class SketchRollup(spec: PagesSpec) extends Workload {
  val name = "sketch_rollup"
  val P = 12
  /** Merged-from-stored and direct per-host estimates may differ only by the
    * rounding of the f32 harmonic sum the HLL mode keeps incrementally.
    */
  val F32Tolerance = 1e-4
  private var path = ""
  private var store = ""
  private var exact: PagesExact = _
  private var directPerHost: Map[String, Long] = Map.empty

  def inputRows: Long = spec.rows
  def sizes: Seq[(String, Any)] = Seq("rows" -> spec.rows,
    "distinct_urls" -> spec.distinct, "hosts" -> spec.hosts, "days" -> Pages.Days)

  private val host: Column = substring_index(substring_index(col("url"), "/", 3), "/", -1)

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    path = s"$dir/pages"
    store = s"$dir/sketch_store"
    Pages.write(spark, spec, seed, path)
  }

  def prepare(spark: SparkSession, seed: Long): Unit = {
    exact = Pages.exact(spec, seed)
    // reference for the mergeability check: one direct estimate per host
    directPerHost = spark.read.parquet(path)
      .groupBy(host.as("host")).agg(ce_approx_distinct(col("url"), P))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  def scanFrame(spark: SparkSession): DataFrame =
    spark.read.parquet(path).select(col("url"), col("lang"), col("warc_ts"))

  def job(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val (result, seconds) = Stats.timed {
      val pages = spark.read.parquet(path)
      val perLang = tr.span("salted_per_lang", "functions") {
        NorthQueries.distinctUrlsPerLang(pages, P)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      tr.span("sketch_store_write", "functions") {
        pages.groupBy(host.as("host"), to_date(col("warc_ts")).as("day"))
          .agg(ce_sketch(col("url"), P).as("sk"))
          .write.mode("overwrite").parquet(store)
      }
      val (perHost, overall) = tr.span("merge_from_store", "functions") {
        val stored = spark.read.parquet(store)
        val perHost = stored.groupBy(col("host")).agg(ce_merge_estimate(col("sk")))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        (perHost, stored.agg(ce_merge_estimate(col("sk"))).collect().head.getLong(0))
      }
      (perLang, perHost, overall)
    }
    val (perLang, perHost, overall) = result
    val problems = Seq.newBuilder[String]
    def keys(what: String, got: Set[String], want: Set[String]): Unit =
      if (got != want) problems += s"$what: ${got.size} groups, expected ${want.size}"
    keys("per language", perLang.keySet, exact.perLang.keySet)
    keys("per host", perHost.keySet, exact.perHost.keySet)
    val errs = Seq(("*", overall, exact.distinct)) ++
      exact.perLang.toSeq.map { case (l, n) => (s"lang $l", perLang.getOrElse(l, 0L), n) } ++
      exact.perHost.toSeq.map { case (h, n) => (s"host $h", perHost.getOrElse(h, 0L), n) }
    val err = errs.map { case (g, est, n) =>
      val e = Stats.errOverBound(est.toDouble, n.toDouble, P)
      if (e > Workload.MaxErrOverBound) problems += f"$g: error $e%.2f x the HLL bound"
      e
    }.max
    perHost.foreach { case (h, merged) =>
      val direct = directPerHost.getOrElse(h, -1L)
      if (math.abs(merged - direct) > math.max(1.0, F32Tolerance * direct))
        problems += s"host $h: merged-from-store $merged != direct $direct"
    }
    val stored = spark.read.parquet(store)
      .agg(sum(octet_length(col("sk"))), count(lit(1))).collect().head
    Outcome(seconds, problems.result(), Map(
      "err_over_bound" -> err,
      "sketch_bytes_per_group" -> stored.getLong(0).toDouble / stored.getLong(1),
      "groups" -> stored.getLong(1).toDouble))
  }

  def endToEnd(runs: Seq[Outcome]): Seq[Metric] =
    Workload.maxMetric(runs, "err_over_bound", "ratio").toSeq ++
      Workload.medianMetric(runs, "sketch_bytes_per_group", "B") ++
      Workload.medianMetric(runs, "groups", "count")
}
