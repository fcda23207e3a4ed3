package perfbench

import graft.functions.ce_approx_distinct
import graft.ops.NorthQueries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The paper's flagship query: distinct urls overall and per language over
  * the pages table. Scan, hashing and HLL inserts do almost all the work;
  * the exchange carries one sketch buffer per language and task.
  *
  * Every third run also repeats the job on a single task (the input
  * coalesced to one partition) for the north rule's scaling ratio.
  */
final class PagesDistinct(spec: PagesSpec, cores: Int) extends Workload {
  val name = "pages_distinct"
  val P = 12
  private var path = ""
  private var exact: PagesExact = _
  private var runs = 0

  def inputRows: Long = spec.rows
  def sizes: Seq[(String, Any)] =
    Seq("rows" -> spec.rows, "distinct_urls" -> spec.distinct, "langs" -> Pages.Langs.length)

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    path = s"$dir/pages"
    Pages.write(spark, spec, seed, path)
  }

  def prepare(spark: SparkSession, seed: Long): Unit = exact = Pages.exact(spec, seed)

  def scanFrame(spark: SparkSession): DataFrame =
    spark.read.parquet(path).select(col("lang"), col("url"))

  private def run(ctx: Ctx, pages: DataFrame): (Long, Map[String, Long]) = {
    val overall = ctx.tracer.span("distinct_urls", "functions") {
      NorthQueries.distinctUrls(pages, P).collect().head.getLong(0)
    }
    val perLang = ctx.tracer.span("distinct_urls_per_lang", "functions") {
      pages.groupBy(col("lang")).agg(ce_approx_distinct(col("url"), P))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    (overall, perLang)
  }

  private def errors(overall: Long, perLang: Map[String, Long]): (Double, Seq[String]) = {
    val problems = Seq.newBuilder[String]
    if (perLang.keySet != exact.perLang.keySet)
      problems += s"languages ${perLang.keySet.size} != ${exact.perLang.keySet.size}"
    val errs = (("*", overall.toDouble, exact.distinct.toDouble) +:
      exact.perLang.toSeq.map { case (l, n) =>
        (l, perLang.getOrElse(l, 0L).toDouble, n.toDouble) })
      .map { case (g, est, n) => (g, Stats.errOverBound(est, n, P)) }
    errs.filter(_._2 > Workload.MaxErrOverBound).foreach { case (g, e) =>
      problems += f"group $g: error $e%.2f x the HLL bound" }
    (errs.map(_._2).max, problems.result())
  }

  def job(ctx: Ctx): Outcome = {
    val pages = ctx.spark.read.parquet(path)
    val ((overall, perLang), seconds) = Stats.timed(run(ctx, pages))
    val (err, problems) = errors(overall, perLang)
    runs += 1
    if (ctx.tracer.enabled || runs % 3 != 0) Outcome(seconds, problems, Map("err_over_bound" -> err))
    else {
      val before = ctx.listener.snapshot(ctx.spark)
      val ((o1, l1), single) = Stats.timed(run(ctx, ctx.spark.read.parquet(path).coalesce(1)))
      val (_, problems1) = errors(o1, l1)
      Outcome(seconds, problems ++ problems1.map("single task: " + _),
        Map("err_over_bound" -> err, "single_task_s" -> single),
        excluded = ctx.listener.snapshot(ctx.spark).minus(before))
    }
  }

  def endToEnd(runs: Seq[Outcome]): Seq[Metric] = {
    val multi = Stats.median(runs.map(_.jobSeconds))
    val singles = Workload.values(runs, "single_task_s")
    val scaling =
      if (singles.isEmpty) Nil
      else {
        val single = Stats.median(singles)
        Seq(
          Metric("scale_eff", single / (cores * multi), "ratio", singles.length,
            s"rows/s at local[$cores] / ($cores x rows/s of one task)"),
          Metric("single_task_rows_per_s", spec.rows / single, "rows/s", singles.length))
      }
    scaling ++ Workload.maxMetric(runs, "err_over_bound", "ratio")
  }
}
