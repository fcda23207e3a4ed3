package graft.ops

import graft.SharedSpark
import graft.sources.PagesTable

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class NorthQueriesSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private lazy val pages = PagesTable.generate(spark, 30000, 9000, days = 7).cache()

  test("north query 1: distinct urls overall, within the p=12 bound") {
    val est = NorthQueries.distinctUrls(pages).collect()(0).getLong(0)
    assert(math.abs(est - 9000.0) / 9000.0 <= 1.04 / math.sqrt(4096.0) * 1.2,
      s"estimate $est for 9000 urls")
  }

  test("north query 2: salted per-lang distinct equals unsalted direct aggregation") {
    val salted = NorthQueries.distinctUrlsPerLang(pages)
      .orderBy($"lang").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val direct = pages.groupBy($"lang")
      .agg(graft.functions.ce_approx_distinct($"url").as("distinct_urls"))
      .orderBy($"lang").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(salted == direct)
    // exact check for every lang group in the exact (<=128 distinct) range
    val exact = pages.groupBy($"lang").agg(countDistinct($"url").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    salted.foreach { case (lang, est) =>
      if (exact(lang) <= 128) assert(est == exact(lang), s"$lang: $est vs ${exact(lang)}")
      else {
        val err = math.abs(est.toDouble - exact(lang)) / exact(lang)
        assert(err <= 1.04 / math.sqrt(4096.0) * 1.2, s"$lang err $err")
      }
    }
  }

  test("north query 3: distinct shingles per day tracks exact shingle counts") {
    val got = NorthQueries.distinctShinglesPerDay(pages)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(got.size == 7)
    val exact = pages
      .select(to_date($"warc_ts").as("day"),
        explode(graft.functions.shingle_set($"text", 5)).as("h"))
      .groupBy($"day").agg(countDistinct($"h").as("n"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val sigma = 1.04 / math.sqrt(4096.0)
    val errs = got.map { case (day, est) =>
      val err = math.abs(est.toDouble - exact(day)) / exact(day)
      // single estimates are draws from a ~sigma-wide distribution: cap at 3.5 sigma
      assert(err <= sigma * 3.5, s"$day: $est vs ${exact(day)} err $err")
      err
    }
    // the average across days must sit inside the reference's 1.2x tolerance
    assert(errs.sum / errs.size <= sigma * 1.2,
      s"avg err ${errs.sum / errs.size} exceeds ${sigma * 1.2}")
  }

  test("typed Aggregator path (Dataset API / functions.udaf) matches the expression path") {
    val ds = (0 until 20000).map(i => i.toLong % 6000).toDS()
    val typedEst = ds.select(graft.functions.ce_approx_distinct($"value").as[Long]).head()
    val exprEst = ds.toDF("v").agg(graft.functions.ce_approx_distinct($"v"))
      .collect()(0).getLong(0)
    assert(typedEst == exprEst, s"typed $typedEst vs expression $exprEst")
  }
}
