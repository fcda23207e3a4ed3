package graft

import graft.functions._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Spark-level correctness: the sketch aggregate under Catalyst's
  * partial/final split must behave exactly like the single-threaded sketch —
  * the distributed mirror of the reference's merge matrix tests
  * (src/estimator.rs:287-333).
  */
class SparkAggSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  test("exact range: estimate equals COUNT(DISTINCT) per group (<=128 distinct)") {
    val df = (0 until 10000).map(i => (i % 7, (i % 100).toLong)).toDF("k", "v")
    val got = df.groupBy($"k").agg(ce_approx_distinct($"v").as("d")).orderBy($"k")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val exact = df.groupBy($"k").agg(countDistinct($"v").as("d")).orderBy($"k")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(got.toSeq == exact.toSeq)
  }

  test("repartition invariance: same estimate at 1, 4, 13 partitions") {
    val base = (0 until 50000).map(i => ("g" + (i % 3), i.toLong % 20000)).toDF("k", "v")
    val results = Seq(1, 4, 13).map { n =>
      base.repartition(n).groupBy($"k").agg(ce_approx_distinct($"v").as("d"))
        .orderBy($"k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    assert(results(0) == results(1) && results(1) == results(2),
      s"partition-count dependence: $results")
  }

  test("HLL range: error within 1.04/sqrt(2^12) * 1.2 of exact") {
    val df = (0 until 60000).map(i => (i % 2, i.toLong % 30000)).toDF("k", "v")
    val got = df.groupBy($"k").agg(ce_approx_distinct($"v").as("d"))
      .collect().map(r => r.getLong(1))
    got.foreach { est =>
      val err = math.abs(est.toDouble - 15000.0) / 15000.0
      assert(err <= 1.04 / math.sqrt(4096.0) * 1.2, s"estimate $est, err $err")
    }
  }

  test("spark result matches single-threaded core sketch bit-for-bit") {
    val n = 25000
    val df = (0 until n).map(i => i.toLong).toDF("v").repartition(7)
    val sparkEst = df.agg(ce_approx_distinct($"v").as("d")).collect()(0).getLong(0)
    val core = graft.core.CardinalitySketch(12, 6)
    (0 until n).foreach(i => core.insertHash(graft.core.WyHash.hashLong(i.toLong)))
    assert(sparkEst == core.estimate,
      s"distributed $sparkEst != single-threaded ${core.estimate}")
  }

  test("ce_sketch bytes equal the single-threaded core sketch at all 45 (p, w) on every plan") {
    val grid = for (p <- 4 to 18; w <- 4 to 6) yield (p, w)
    val names = grid.map { case (p, w) => s"p${p}w$w" }
    // three seeded streams with repeats, each ending in HLL mode at every
    // (p, w); their partial buffers stop in Small, Array or HLL mode
    val rnd = new scala.util.Random(20261)
    val rows = rnd.shuffle(Seq(0 -> 400, 1 -> 1500, 2 -> 5000).flatMap { case (g, n) =>
      Seq.fill(n)((g, rnd.nextInt(n * 3 / 4).toLong))
    })
    val expected: Map[Int, Seq[Seq[Byte]]] = rows.groupBy(_._1).map { case (g, gs) =>
      g -> grid.map { case (p, w) =>
        val core = graft.core.CardinalitySketch(p, w)
        gs.foreach { case (_, v) => core.insertHash(graft.core.WyHash.hashLong(v)) }
        core.serialize().toSeq
      }
    }
    assert(expected.values.flatten.forall(_(5) == graft.core.CardinalitySketch.ModeHll))

    val df = rows.toDF("g", "v")
    val sketches = grid.zip(names).map { case ((p, w), n) => ce_sketch($"v", p, w).as(n) }
    def direct(parts: Int) =
      df.repartition(parts).groupBy($"g").agg(sketches.head, sketches.tail: _*)
    def salted = df.repartition(4)
      .groupBy($"g", pmod(hash($"v"), lit(16)).as("salt")).agg(sketches.head, sketches.tail: _*)
      .groupBy($"g").agg(ce_merge(col(names.head)).as(names.head),
        names.tail.map(n => ce_merge(col(n)).as(n)): _*)
    def bytesOf(frame: DataFrame): Map[Int, Seq[Seq[Byte]]] = frame.collect().map { r =>
      r.getInt(0) -> names.indices.map(i => r.getAs[Array[Byte]](i + 1).toSeq)
    }.toMap
    def under(key: String, value: String)(frame: => DataFrame): Map[Int, Seq[Seq[Byte]]] = {
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try bytesOf(frame)
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    val aqe = "spark.sql.adaptive.enabled"
    val runs = Seq[(String, () => Map[Int, Seq[Seq[Byte]]])](
      "1 partition" -> (() => bytesOf(direct(1))),
      "4 partitions, AQE on" -> (() => under(aqe, "true")(direct(4))),
      "4 partitions, AQE off" -> (() => under(aqe, "false")(direct(4))),
      "13 partitions" -> (() => bytesOf(direct(13))),
      "salted two-phase" -> (() => bytesOf(salted)),
      "sort-based fallback" -> (() =>
        under("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1")(direct(13))))
    runs.foreach { case (plan, run) =>
      val got = run()
      val wrong = for {
        g <- expected.keys.toSeq.sorted
        i <- names.indices if got(g)(i) != expected(g)(i)
      } yield s"group $g at ${names(i)}"
      assert(wrong.isEmpty, s"$plan: ${wrong.mkString(", ")}")
    }
  }

  test("sketch -> merge roll-up equals direct aggregation") {
    val df = (0 until 30000).map(i => ("lang" + (i % 5), "src" + (i % 20), i.toLong % 9000))
      .toDF("lang", "src", "v")
    val direct = df.groupBy($"lang").agg(ce_approx_distinct($"v").as("d"))
      .orderBy($"lang").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val rolled = df.groupBy($"lang", $"src").agg(ce_sketch($"v").as("sk"))
      .groupBy($"lang").agg(ce_merge_estimate($"sk").as("d"))
      .orderBy($"lang").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(direct == rolled)
  }

  test("salted two-phase aggregation equals direct aggregation (skew pattern)") {
    // one key carries 90% of rows — the zipf-lang scenario from the north rule
    val rows = (0 until 50000).map { i =>
      val k = if (i % 10 < 9) "en" else "lang" + (i % 10)
      (k, i.toLong % 15000)
    }
    val df = rows.toDF("k", "v")
    val direct = df.groupBy($"k").agg(ce_approx_distinct($"v").as("d"))
      .orderBy($"k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val salted = df
      .groupBy($"k", pmod(hash($"v"), lit(16)).as("salt"))
      .agg(ce_sketch($"v").as("sk"))
      .groupBy($"k").agg(ce_merge_estimate($"sk").as("d"))
      .orderBy($"k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(direct == salted)
  }

  test("scalar ce_estimate and ce_union compose over stored sketches") {
    val df = (0 until 2000).map(i => ("s" + (i % 2), i.toLong % 100)).toDF("k", "v")
    val sk = df.groupBy($"k").agg(ce_sketch($"v").as("sk"))
    val est = sk.select($"k", ce_estimate($"sk").as("d")).orderBy($"k")
      .collect().map(_.getLong(1)).toSeq
    // group s0 holds the 50 even residues mod 100, s1 the 50 odd ones
    assert(est == Seq(50L, 50L))
    // cross-union of the two disjoint 50-element sketches covers all 100
    val pair = sk.agg(ce_estimate(
      ce_union(first($"sk"), last($"sk"))).as("d")).collect()(0).getLong(0)
    assert(pair == 100L)
  }

  test("nulls are ignored like COUNT(DISTINCT)") {
    val df = Seq[(Int, java.lang.Long)]((1, 1L), (1, null), (1, 2L), (2, null))
      .toDF("k", "v")
    val got = df.groupBy($"k").agg(ce_approx_distinct($"v").as("d"))
      .orderBy($"k").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == Seq((1, 2L), (2, 0L)))
  }

  test("-0.0 and 0.0 count as one value, like COUNT(DISTINCT)") {
    val d = Seq(0.0, -0.0, 1.0).toDF("d")
    val f = Seq(0.0f, -0.0f).toDF("f")
    def both(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
      df.agg(ce_approx_distinct(c), countDistinct(c)).collect()(0).toSeq
    assert(both(d, $"d") == Seq(2L, 2L))
    assert(both(f, $"f") == Seq(1L, 1L))
    assert(both(d, struct($"d")) == Seq(2L, 2L))
  }

  test("string, binary, timestamp, date, double inputs are supported") {
    val df = (0 until 500).map { i =>
      ("s" + (i % 60), ("b" + (i % 40)).getBytes("UTF-8"),
        new java.sql.Timestamp(1700000000000L + (i % 30) * 1000L),
        new java.sql.Date(1700000000000L + (i % 20) * 86400000L),
        (i % 50).toDouble)
    }.toDF("s", "b", "ts", "d", "dbl")
    val r = df.agg(
      ce_approx_distinct($"s").as("s"), ce_approx_distinct($"b").as("b"),
      ce_approx_distinct($"ts").as("ts"), ce_approx_distinct($"d").as("d"),
      ce_approx_distinct($"dbl").as("dbl")).collect()(0)
    assert(r.getLong(0) == 60L && r.getLong(1) == 40L && r.getLong(2) == 30L &&
      r.getLong(3) == 20L && r.getLong(4) == 50L)
  }

  test("unsupported input type fails at analysis, not at runtime") {
    val df = Seq((1, Seq(1, 2))).toDF("k", "arr")
    val e = intercept[Exception](df.agg(ce_approx_distinct($"arr")).collect())
    assert(e.getMessage.contains("ce_sketch") || e.getMessage.contains("DATATYPE"),
      s"unexpected error: ${e.getMessage}")
  }

  test("SQL registration: functions usable from spark.sql") {
    graft.functions.registerAll(spark)
    (0 until 1000).map(i => ("t" + (i % 3), i.toLong % 90)).toDF("k", "v")
      .createOrReplaceTempView("sql_test")
    val rows = spark.sql(
      """SELECT k, ce_approx_distinct(v) AS d, ce_estimate(ce_sketch(v)) AS d2,
        |       ce_approx_distinct(v, 14, 6) AS d14
        |FROM sql_test GROUP BY k ORDER BY k""".stripMargin).collect()
    // each i%3 group sees 30 of the 90 residues (v = i % 90, gcd(3, 90) = 3)
    assert(rows.forall(r => r.getLong(1) == 30L && r.getLong(2) == 30L && r.getLong(3) == 30L))
  }

  test("SQL registration: a wrong argument count fails with the function's signature") {
    graft.functions.registerAll(spark)
    (0 until 10).map(i => (i.toLong, Array(i.toFloat, 1f))).toDF("v", "vec")
      .createOrReplaceTempView("sql_arity")
    Seq(
      "ce_merge(sk, 5)" -> "ce_merge expects (sketch), got 2 args",
      "ce_merge()" -> "ce_merge expects (sketch), got 0 args",
      "ce_union(sk)" -> "ce_union expects (sketchA, sketchB), got 1 args",
      "vec_norm(vec, vec)" -> "vec_norm expects (vec), got 2 args",
      "kll_merge(sk, sk)" -> "kll_merge expects (sketch), got 2 args"
    ).foreach { case (call, message) =>
      val e = intercept[Exception](spark.sql(
        s"SELECT $call FROM (SELECT ce_sketch(v) AS sk, first(vec) AS vec FROM sql_arity)"))
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains(message)), s"$call: $e")
    }
  }

  test("precision parameter changes the sketch (p=18 tighter than p=10)") {
    val df = (0 until 80000).map(i => i.toLong % 40000).toDF("v")
    val e10 = df.agg(ce_approx_distinct($"v", 10, 5).as("d")).collect()(0).getLong(0)
    val e18 = df.agg(ce_approx_distinct($"v", 18).as("d")).collect()(0).getLong(0)
    val err10 = math.abs(e10 - 40000.0) / 40000.0
    val err18 = math.abs(e18 - 40000.0) / 40000.0
    assert(err10 <= 1.04 / math.sqrt(1024.0) * 1.2, s"p10 err $err10")
    assert(err18 <= 1.04 / math.sqrt(262144.0) * 1.2, s"p18 err $err18")
  }

  test("wyhash64 scalar matches core hash") {
    val got = Seq(42L).toDF("v").select(wyhash64($"v")).collect()(0).getLong(0)
    assert(got == graft.core.WyHash.hashLong(42L))
  }

  test("aggregation plans as ObjectHashAggregate with partial merge (scale shape)") {
    val df = (0 until 1000).map(i => (i % 5, i.toLong)).toDF("k", "v")
    val plan = df.groupBy($"k").agg(ce_approx_distinct($"v"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"unexpected plan:\n$plan")
    assert(plan.contains("partial_ce_approx_distinct") || plan.contains("merge") ||
      plan.contains("ce_approx_distinct"), s"no partial agg visible:\n$plan")
  }
}
