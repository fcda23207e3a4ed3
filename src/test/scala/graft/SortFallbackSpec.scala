package graft

import graft.core.{KllSketch, TDigest}
import graft.functions._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every sketch aggregate and every union aggregate under
  * ObjectHashAggregate's sort-based fallback. At a fallback threshold of 1
  * each task spills its hash map after the first group and merges
  * serialized buffers in sort order, so the aggregates' `serialize` and
  * `deserialize` run in the middle of the aggregation. The results must match
  * the default threshold: bytes for the families whose merge ignores order,
  * count/min/max and rank-bounded quantiles for t-digest and KLL.
  */
class SortFallbackSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private val Threshold = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  private val Groups = 100
  private val PerGroup = 300

  /** Row i: group i % Groups, sub-group i % 3, a distinct long and a double
    * whose per-group values are known, spread over 4 partitions.
    */
  private def input: DataFrame =
    (0 until Groups * PerGroup).map(i => (i % Groups, i % 3, i.toLong, ((i * 7919) % 10007).toDouble))
      .toDF("g", "sub", "v", "x").repartition(4)

  private def build(df: DataFrame, keys: String*): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      ce_sketch($"v").as("ce"),
      bloom_agg($"v", 1000, 0.01).as("bloom"),
      cms_agg($"v", 3, 256).as("cms"),
      tdigest_agg($"x").as("tdigest"),
      kll_agg($"x").as("kll"))

  /** Per group: (group, values in the order of `cols`), sorted by group. */
  private def collectAt(threshold: Option[String], df: => DataFrame): Seq[(Int, Seq[Any])] = {
    val prev = spark.conf.getOption(Threshold)
    threshold.foreach(spark.conf.set(Threshold, _))
    try df.collect().toSeq.map((r: Row) => (r.getInt(0), r.toSeq.tail)).sortBy(_._1)
    finally prev match {
      case Some(v) => spark.conf.set(Threshold, v)
      case None => spark.conf.unset(Threshold)
    }
  }

  private def bytesOf(v: Any): Seq[Byte] = v.asInstanceOf[Array[Byte]].toSeq

  /** Exact rank of `est` within group `g`'s values, against the asked q. */
  private def rankError(g: Int, q: Double, est: Double): Double = {
    val xs = (0 until Groups * PerGroup).filter(_ % Groups == g)
      .map(i => ((i * 7919) % 10007).toDouble)
    math.abs(xs.count(_ <= est).toDouble / xs.size - q)
  }

  /** Byte-identical cardinality, Bloom and count-min; for the quantile
    * sketches, exact count/min/max and ranks within each sketch's bound.
    */
  private def assertSame(what: String, a: Seq[(Int, Seq[Any])], b: Seq[(Int, Seq[Any])]): Unit = {
    assert(a.map(_._1) == (0 until Groups) && b.map(_._1) == (0 until Groups), what)
    a.zip(b).foreach { case ((g, x), (_, y)) =>
      (0 until 3).foreach { i =>
        assert(bytesOf(x(i)) == bytesOf(y(i)), s"$what: group $g column $i bytes differ")
      }
      val (ta, tb) = (TDigest.deserialize(x(3).asInstanceOf[Array[Byte]]),
        TDigest.deserialize(y(3).asInstanceOf[Array[Byte]]))
      val (ka, kb) = (KllSketch.deserialize(x(4).asInstanceOf[Array[Byte]]),
        KllSketch.deserialize(y(4).asInstanceOf[Array[Byte]]))
      assert(Seq(ta.count, tb.count, ka.count, kb.count).forall(_ == PerGroup), s"$what: group $g")
      assert(ta.min == tb.min && ta.max == tb.max && ka.min == kb.min && ka.max == kb.max,
        s"$what: group $g min/max")
      for (q <- Seq(0.1, 0.5, 0.9); t <- Seq(ta, tb); k <- Seq(ka, kb)) {
        assert(rankError(g, q, t.quantile(q)) < 0.02, s"$what: group $g tdigest q=$q")
        assert(rankError(g, q, k.quantile(q)) < 0.04, s"$what: group $g kll q=$q")
      }
    }
  }

  test("build aggregates: fallback threshold 1 == default threshold") {
    val fallback = collectAt(Some("1"), build(input, "g"))
    val default = collectAt(None, build(input, "g"))
    assertSame("build", fallback, default)
    // every group is past the exact range: the cardinality bytes are HLL
    assert(fallback.forall(r => graft.core.CardinalitySketch.estimateBytes(
      r._2.head.asInstanceOf[Array[Byte]]) > 128))
  }

  test("union aggregates: fallback threshold 1 == default threshold") {
    def merged: DataFrame = build(input, "g", "sub").groupBy($"g").agg(
      ce_merge($"ce"),
      sketch_merge($"bloom", "bloom"),
      sketch_merge($"cms", "cms"),
      sketch_merge($"tdigest", "tdigest"),
      sketch_merge($"kll", "kll"),
      ce_merge_estimate($"ce"))
    val fallback = collectAt(Some("1"), merged)
    val default = collectAt(None, merged)
    assertSame("merge", fallback, default)
    assert(fallback.map(_._2(5)) == default.map(_._2(5)), "ce_merge_estimate differs")
    // the roll-up equals the direct build
    val direct = collectAt(None, build(input, "g"))
    assert(fallback.map(r => bytesOf(r._2.head)) == direct.map(r => bytesOf(r._2.head)))
  }

  test("SQL <kind>_merge names under the fallback") {
    graft.functions.registerAll(spark)
    build(input, "g", "sub").createOrReplaceTempView("fallback_parts")
    def merged: DataFrame = spark.sql(
      """SELECT g, ce_merge(ce), bloom_merge(bloom), cms_merge(cms),
        |  tdigest_merge(tdigest), kll_merge(kll)
        |FROM fallback_parts GROUP BY g""".stripMargin)
    assertSame("sql merge", collectAt(Some("1"), merged), collectAt(None, merged))
  }
}
