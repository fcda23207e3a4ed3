package graft.sql

import java.nio.file.Files

import graft.SharedSpark
import graft.core.CardinalitySketch
import graft.functions._

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The ten scalar kernels (`vec_dot`, `vec_norm`, `vec_eq_fraction`,
  * `vec_hash64`, `hyperplane_buckets`, `nearest_centroids`, `ce_estimate`,
  * `ce_union`, `char_class_counts`, `minhash_band_key`) give the same rows
  * interpreted and generated, over a seeded parquet input that holds every
  * edge the kernels treat specially. The input is read from parquet because
  * a local relation is evaluated by the optimizer itself, without codegen.
  */
class ScalarKernelParitySpec extends AnyFunSuite {
  import SharedSpark.spark

  private val dim = 4
  private val centroids = Array(
    Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0), Array(0.0, 0.0, 0.6, 0.8))

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("f", ArrayType(FloatType)), StructField("g", ArrayType(FloatType)),
    StructField("d", ArrayType(DoubleType)), StructField("e", ArrayType(DoubleType)),
    StructField("s", ArrayType(LongType)), StructField("t", ArrayType(LongType)),
    StructField("a", BinaryType), StructField("b", BinaryType),
    StructField("text", StringType)))

  /** A serialized sketch in the representation `kind` picks: 0 Small (one
    * value), 1 Array (50 values), 2 HLL (1000 values).
    */
  private def sketch(kind: Int, seed: Long): Array[Byte] = {
    val sk = CardinalitySketch()
    (0 until Seq(1, 50, 1000)(kind)).foreach(i => sk.insert(seed * 100000L + i))
    sk.serialize()
  }

  private val texts = Seq("", "Ünïcødé ЖЯ × 😀 ٣ Ⅻ ½", "Hello, WÖRLD ×42!", "a1b, c  d",
    "中日 ع ह — þÞ", "\t\u000B\f mixed   whitespace\n")

  private lazy val rows: Seq[Row] = {
    val rnd = new scala.util.Random(19)
    def floats = Array.fill(dim)(rnd.nextGaussian().toFloat)
    def doubles = Array.fill(dim)(rnd.nextGaussian())
    def sig(n: Int) = Array.fill(n)(rnd.nextInt(3).toLong)
    def healthy(id: Long) = Row(id, floats.toSeq, floats.toSeq, doubles.toSeq, doubles.toSeq,
      sig(16).toSeq, sig(16).toSeq, sketch((id % 3).toInt, id), sketch((id / 3 % 3).toInt, id + 1),
      texts((id % texts.length).toInt))
    def edge(id: Long, f: Seq[Any], d: Seq[Any], s: Seq[Any], text: String) =
      Row(id, f, floats.toSeq, d, doubles.toSeq, s, sig(16).toSeq,
        sketch((id % 3).toInt, id), sketch(2, id + 1), text)
    val nan = Float.NaN
    val inf = Float.PositiveInfinity
    Seq(
      Row(0L, null, null, null, null, null, null, null, null, null),
      edge(1L, null, null, null, "null vectors"),
      edge(2L, Seq(1.0f, null, 2.0f, 3.0f), Seq(1.0, null, 2.0, 3.0),
        Seq(1L, null, 2L, 0L), "null elements"),
      edge(3L, Seq(1.0f, 2.0f), Seq(1.0, 2.0, 3.0, 4.0, 5.0), Seq(1L, 2L), "wrong length"),
      edge(4L, Seq(nan, 1.0f, 2.0f, 3.0f), Seq(1.0, Double.NaN, 0.0, 0.0), sig(16).toSeq, "nan"),
      edge(5L, Seq(inf, 1.0f, 1.0f, 1.0f), Seq(-1.0, 0.0, Double.NegativeInfinity, 1.0),
        sig(16).toSeq, "inf"),
      edge(6L, Seq.fill(dim)(0.0f), Seq.fill(dim)(0.0), Seq.fill(16)(0L), "all zero"),
      edge(7L, Seq.empty, Seq.empty, Seq.empty, "")
    ) ++ (8L until 40L).map(healthy)
  }

  private def kernels: Seq[Column] = Seq(
    vec_dot(col("f"), col("g")), vec_dot(col("d"), col("e")), vec_dot(col("f"), col("d")),
    vec_norm(col("f")), vec_norm(col("d")),
    vec_eq_fraction(col("s"), col("t")),
    vec_hash64(col("f")), vec_hash64(col("d")),
    hyperplane_buckets(col("f"), dim, 8, 3), hyperplane_buckets(col("d"), dim, 8, 3),
    nearest_centroids(col("f"), centroids, 2), nearest_centroids(col("d"), centroids, 2),
    ce_estimate(col("a")), ce_union(col("a"), col("b")),
    char_class_counts(col("text")),
    minhash_band_key(col("s"), 0, 4), minhash_band_key(col("s"), 3, 4))

  private val kernelNames = Set("dot", "norm", "eqFraction", "hash64", "hyperplaneBuckets",
    "nearestCentroids", "estimateBytes", "union", "charClassCounts", "bandKey")

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def kernelCalls(plan: SparkPlan): Seq[String] =
    plan.flatMap(_.expressions).flatMap(_.collect { case s: StaticInvoke => s.functionName })

  test("every kernel gives the same rows under NO_CODEGEN and CODEGEN_ONLY") {
    val dir = Files.createTempDirectory("graft_kernel_parity_").toString + "/t"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .repartition(2).write.parquet(dir)

    def run(): (Array[Row], SparkPlan) = {
      val df = spark.read.parquet(dir).select(col("id") +: kernels: _*)
      val out = df.collect().sortBy(_.getLong(0))
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      (out, plan)
    }

    val (interpreted, interpretedPlan) = withConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    val (generated, generatedPlan) = withConf(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(run())

    assert(interpretedPlan.collect { case w: WholeStageCodegenExec => w }.isEmpty)
    assert(kernelCalls(interpretedPlan).toSet == kernelNames)
    // every kernel call sits inside a whole-stage codegen subtree
    val inCodegen = generatedPlan.collect { case w: WholeStageCodegenExec => w }
      .flatMap(w => kernelCalls(w.child))
    assert(inCodegen.toSet == kernelNames, generatedPlan.toString)
    assert(inCodegen.size == kernelCalls(generatedPlan).size, generatedPlan.toString)

    assert(interpreted.length == rows.length)
    interpreted.zip(generated).foreach { case (i, g) =>
      assert(i == g, s"row ${i.getLong(0)} differs:\ninterpreted $i\ngenerated   $g")
    }
    // not vacuous: the all-null row is all null, and healthy rows are all set
    assert((1 until generated(0).length).forall(generated(0).isNullAt))
    generated.filter(_.getLong(0) >= 8).foreach(r =>
      assert((1 until r.length).forall(!r.isNullAt(_)), s"null in healthy row $r"))
  }
}
