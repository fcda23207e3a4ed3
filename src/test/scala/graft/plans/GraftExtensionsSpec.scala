package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Uses a dedicated session (extensions must be installed at build time). */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // reuse the JVM-wide context but force a brand-new session so the
    // builder's withExtensions actually applies (getOrCreate would return
    // the SharedSpark session otherwise)
    val base = graft.SharedSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions()(_))
      .getOrCreate()
    // restore the shared session as default for the other suites
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }

  test("extensions register the whole SQL surface") {
    import spark.implicits._
    (0 until 1000).map(i => ("g" + (i % 2), i.toLong % 90, (i % 50).toDouble))
      .toDF("g", "k", "x").createOrReplaceTempView("ext_test")
    val row = spark.sql(
      """SELECT ce_approx_distinct(k) AS d, ce_estimate(ce_sketch(k)) AS d2,
        |       cms_estimate(cms_agg(k), 5L) AS c,
        |       sketch_quantile(kll_agg(x), CAST(0.0 AS DOUBLE)) AS mn,
        |       bloom_might_contain(bloom_agg(k), 7L) AS bm,
        |       wyhash64(42L) AS h
        |FROM ext_test""".stripMargin).collect()(0)
    assert(row.getLong(0) == 90L && row.getLong(1) == 90L)
    assert(row.getLong(2) > 0L)
    assert(row.getDouble(3) == 0.0)
    assert(row.getBoolean(4))
    assert(row.getLong(5) == graft.core.WyHash.hashLong(42L))
  }

  test("approx_count_distinct rewrites to the sketch when enabled") {
    import spark.implicits._
    val df = (0 until 5000).map(i => i.toLong % 100).toDF("v")
    df.createOrReplaceTempView("acd_test")

    spark.conf.set("spark.graft.rewriteApproxCountDistinct", "false")
    val offPlan = spark.sql("SELECT approx_count_distinct(v) FROM acd_test")
      .queryExecution.optimizedPlan.toString
    assert(!offPlan.contains("ce_approx_distinct"), s"rewrite leaked when off:\n$offPlan")

    spark.conf.set("spark.graft.rewriteApproxCountDistinct", "true")
    val q = spark.sql("SELECT approx_count_distinct(v) AS d FROM acd_test")
    val onPlan = q.queryExecution.optimizedPlan.toString
    assert(onPlan.contains("ce_approx_distinct"), s"rewrite missing:\n$onPlan")
    // and the answer becomes EXACT (100 <= 128 -> array mode)
    assert(q.collect()(0).getLong(0) == 100L)
    // a relativeSD maps to the same precision as the SQL overload's
    // (sd=0.01 -> p=14; sd=0.001 -> p=21, clamped to 18)
    def precision(sql: String): Int = spark.sql(sql).queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case s: graft.sql.CardinalitySketchAgg => s.p }))
      .head
    for ((sd, p) <- Seq("0.01" -> 14, "0.001" -> 18)) {
      val rewritten = precision(s"SELECT approx_count_distinct(v, $sd) FROM acd_test")
      val overload = precision(s"SELECT ce_approx_distinct(v, $sd) FROM acd_test")
      assert(rewritten == p && overload == p, s"sd=$sd: rewrite p=$rewritten, overload p=$overload")
    }
    spark.conf.set("spark.graft.rewriteApproxCountDistinct", "false")
  }
}
