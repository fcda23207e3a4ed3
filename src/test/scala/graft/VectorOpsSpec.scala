package graft

import graft.functions._

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Proves the codegen'd VecDot/VecNorm kernels are bit-identical to the
  * zip_with/aggregate higher-order-function formulations they replaced —
  * including float-multiply/double-accumulate order, null elements, null
  * inputs, empty vectors, and zip_with's null-padding on length mismatch.
  */
class VectorOpsSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def randFloats(n: Int, seed: Int): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(_ => Array.fill(rnd.nextInt(80))(
      (rnd.nextGaussian() * (if (rnd.nextBoolean()) 1e-3 else 1e3)).toFloat))
  }

  test("vec_dot / vec_norm == zip_with+aggregate, bit for bit (float)") {
    val rows = randFloats(300, 1).zip(randFloats(300, 2))
      .map { case (a, b) => (a, b.take(a.length)) } // equal lengths
    val df = rows.toDF("a", "b")
    val hofDot = aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val hofNorm = sqrt(aggregate(transform($"a", x => x * x), lit(0.0), (acc, v) => acc + v))
    val bad = df.select(
      vec_dot($"a", $"b").as("d_new"), hofDot.as("d_old"),
      vec_norm($"a").as("n_new"), hofNorm.as("n_old"))
      .filter($"d_new" =!= $"d_old" || $"n_new" =!= $"n_old").collect()
    assert(bad.isEmpty, s"divergent: ${bad.take(3).mkString(";")}")
  }

  test("mixed float x double (the hyperplane-bucket shape) is bit-identical") {
    val plane = (0 until 64).map(i => math.sin(i * 1.7) * 2.0)
    val vecs = randFloats(100, 3).map(a => java.util.Arrays.copyOf(a, 64)).toDF("a")
    val lit64 = typedLit(plane)
    val hof = aggregate(zip_with($"a", lit64, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val bad = vecs.select(vec_dot($"a", lit64).as("n"), hof.as("o"))
      .filter($"n" =!= $"o").collect()
    assert(bad.isEmpty, s"divergent: ${bad.take(3).mkString(";")}")
  }

  test("nulls and length mismatches behave like the lambda pipeline (null result)") {
    val df = Seq(
      (Array(1.0f, 2.0f), Array(1.0f)), // length mismatch -> zip_with pads null
      (Array.empty[Float], Array.empty[Float]), // empty -> 0.0
      (null.asInstanceOf[Array[Float]], Array(1.0f)) // null input -> null
    ).toDF("a", "b")
    val rows = df.select(
      vec_dot($"a", $"b").as("d"),
      aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0.0), (acc, v) => acc + v).as("o"))
      .collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    assert(rows(1).getDouble(0) == 0.0 && rows(1).getDouble(1) == 0.0)
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1))
  }

  test("SQL registration: vec_dot / vec_norm / char_class_counts usable from SQL") {
    graft.functions.registerAll(spark)
    Seq((Array(3.0f, 4.0f), Array(1.0f, 0.0f), "Ab1 c!"))
      .toDF("a", "b", "t").createOrReplaceTempView("vec_sql_test")
    val r = spark.sql(
      """SELECT vec_dot(a, b) AS d, vec_norm(a) AS n,
        |char_class_counts(t).letters AS l, char_class_counts(t).upper AS u
        |FROM vec_sql_test""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 3.0 && r.getDouble(1) == 5.0)
    assert(r.getInt(2) == 3 && r.getInt(3) == 1)
  }

  test("vec_eq_fraction == the when/zip_with/aggregate estimator, incl. edge cases") {
    val rnd = new scala.util.Random(9)
    val rows = (0 until 200).map { _ =>
      val n = 1 + rnd.nextInt(9)
      val a = Array.fill(n)(rnd.nextInt(4).toLong)
      val b = Array.fill(rnd.nextInt(10))(rnd.nextInt(4).toLong)
      (a, b)
    } :+ ((Array(1L, 2L), Array(1L))) :+ ((Array(3L), Array.empty[Long]))
    val df = rows.toDF("a", "b")
    val hof = (aggregate(
      zip_with($"a", $"b", (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / size($"a")).as("o")
    val bad = df.select(vec_eq_fraction($"a", $"b").as("n"), hof)
      .filter(($"n" =!= $"o") || ($"n".isNull =!= $"o".isNull)).collect()
    assert(bad.isEmpty, s"divergent: ${bad.take(5).mkString(";")}")
    // empty LEFT side: the raw HOF throws DIVIDE_BY_ZERO under ANSI; the
    // kernel returns NULL (try_divide semantics)
    val empty = Seq((Array.empty[Long], Array(1L))).toDF("a", "b")
    assert(empty.select(vec_eq_fraction($"a", $"b")).collect()(0).isNullAt(0))
  }

  /** Sign-bucket key of one LSH table in column algebra: the `planes`-bit
    * integer of dot-product signs against the table's planes (`tableOffset`
    * selects the plane set). The independent formulation the
    * hyperplane_buckets kernel is checked against; both take their planes
    * from `graft.sql.HyperplaneBuckets.plane`.
    */
  private def hyperplaneBucket(vec: Column, dim: Int, planes: Int, tableOffset: Int): Column =
    (0 until planes).map { p =>
      val plane = typedLit(
        graft.sql.HyperplaneBuckets.plane(tableOffset * planes + p, dim).toSeq)
      when(vec_dot(vec, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  test("hyperplane_buckets kernel == per-table column-algebra buckets, bit for bit") {
    val dim = 32
    // the equality property holds for CLEAN vectors (dirty ones now drop —
    // see the dirty-vector test); all-zero draws (a zero-length randFloats
    // array zero-padded to dim) are excluded
    val vecs = randFloats(150, 5).map(a => java.util.Arrays.copyOf(a, dim))
      .filter(_.exists(_ != 0.0f)).toDF("v")
    val kernel = hyperplane_buckets($"v", dim, planes = 8, tables = 5)
    val perTable = array((0 until 5).map(t =>
      hyperplaneBucket($"v", dim, 8, t)): _*)
    val bad = vecs.select(kernel.as("n"), perTable.as("o"))
      .filter($"n" =!= $"o").collect()
    assert(bad.isEmpty, s"divergent buckets: ${bad.take(3).mkString(";")}")
  }

  test("hyperplane_buckets: two equal calls are one SQL grouping expression") {
    graft.functions.registerAll(spark)
    val v = Array(1.0f, -2.0f, 0.5f, 3.0f)
    Seq(v, v.clone(), v.map(-_)).toDF("v").createOrReplaceTempView("hb_group_test")
    val counts = spark.sql(
      """SELECT hyperplane_buckets(v, 4, 8, 5) AS b, count(*) AS n
        |FROM hb_group_test GROUP BY hyperplane_buckets(v, 4, 8, 5)""".stripMargin)
      .collect().map(_.getLong(1)).sorted
    assert(counts.toSeq == Seq(1L, 2L))
  }

  test("hyperplane_buckets: dirty vectors get NO buckets (empty array, row drops from banding)") {
    val dim = 4
    val healthy = Array(1.0f, -2.0f, 0.5f, 3.0f)
    val rows = Seq(
      (1L, Array(1.0f, 2.0f)), // wrong length
      (2L, Array(Float.NaN, 1.0f, 1.0f, 1.0f)), // NaN component
      (3L, Array(Float.PositiveInfinity, 1.0f, 1.0f, 1.0f)), // Inf component
      (4L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector (no direction)
      (5L, healthy)
    ).toDF("id", "v")
    val buckets = rows.select($"id", hyperplane_buckets($"v", dim, 8, 5).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    Seq(1L, 2L, 3L, 4L).foreach(id =>
      assert(buckets(id).isEmpty, s"dirty vector $id must get no buckets: ${buckets(id)}"))
    assert(buckets(5L).length == 5)
    // null-element vectors drop too
    val nullElem = Seq(Seq[java.lang.Float](1.0f, null, 1.0f, 1.0f)).toDF("v")
      .select(hyperplane_buckets($"v", dim, 8, 5)).collect()(0).getSeq[Long](0)
    assert(nullElem.isEmpty)
    // posexplode therefore produces zero banding rows for dirty vectors
    val banded = rows.select($"id", posexplode(hyperplane_buckets($"v", dim, 8, 5)))
    assert(banded.collect().forall(_.getLong(0) == 5L))
  }

  test("nearest_centroids: dirty vectors (NaN/Inf/wrong-length/null-element/zero) land in no cell") {
    val centroids = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val df = Seq(
      (1L, Array(Float.NaN, 1.0f)),
      (2L, Array(1.0f)), // wrong length
      (3L, Array(0.9f, 0.1f)), // healthy
      (4L, Array(Float.NegativeInfinity, 1.0f)), // Inf breaks downstream cosine
      (5L, Array(0.0f, 0.0f)) // zero vector: would land in cell 0 by tie-break
    ).toDF("id", "v")
    val cells = df.select($"id", nearest_centroids($"v", centroids, 1).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    Seq(1L, 2L, 4L, 5L).foreach(id =>
      assert(cells(id).isEmpty, s"bad vector $id must get no cells: $cells"))
    assert(cells(3L) == Seq(0))
  }

  test("kernels are codegen-capable (no CodegenFallback)") {
    val fallback = classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
    assert(!fallback.isAssignableFrom(classOf[graft.sql.VecDot]))
    assert(!fallback.isAssignableFrom(classOf[graft.sql.VecNorm]))
    assert(!fallback.isAssignableFrom(classOf[graft.sql.VecEqFraction]))
    assert(!fallback.isAssignableFrom(classOf[graft.sql.VecHash64]))
    assert(!fallback.isAssignableFrom(classOf[graft.sql.HyperplaneBuckets]))
    assert(!fallback.isAssignableFrom(classOf[graft.sql.NearestCentroids]))
    assert(!fallback.isAssignableFrom(classOf[graft.sql.MinHashBandKey]))
  }

  test("vec_hash64: wyhash of the element bit patterns; content-equal => hash-equal") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f, -3.5f)),
      (2L, Array(1.0f, 2.0f, -3.5f)), // same content, different row
      (3L, Array(2.0f, 1.0f, -3.5f)), // permuted -> different
      (4L, Array.empty[Float])
    ).toDF("id", "v")
    val h = df.select($"id", vec_hash64($"v").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L), "equal content must hash equal")
    assert(h(1L) != h(3L), "permuted content must hash differently")
    // pins the definition: wyhash64 over the concatenated little-endian
    // IEEE-754 bit patterns (the independent driver-side formulation)
    def le(fs: Array[Float]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(fs.length * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      fs.foreach(f => bb.putInt(java.lang.Float.floatToRawIntBits(f)))
      bb.array()
    }
    assert(h(1L) == graft.core.WyHash.hash(le(Array(1.0f, 2.0f, -3.5f))))
    assert(h(4L) == graft.core.WyHash.hash(Array.empty[Byte]))
    // double vectors hash over 8-byte patterns (1.0f bits != 1.0d bits)
    val hd = Seq((1L, Array(1.0d, 2.0d, -3.5d))).toDF("id", "v")
      .select(vec_hash64($"v")).collect()(0).getLong(0)
    assert(hd != h(1L), "float and double content are different bit patterns")
    // null element -> NULL (callers order with nulls LAST)
    val withNull = Seq(Tuple1(Array[java.lang.Float](1.0f, null)))
      .toDF("v").select(vec_hash64($"v")).collect()(0)
    assert(withNull.isNullAt(0), "null element must yield NULL")
    // SQL registration
    graft.functions.registerAll(spark)
    val sql = spark.sql(
      "SELECT vec_hash64(array(cast(1.0 as float), cast(2.0 as float), cast(-3.5 as float)))")
      .collect()(0).getLong(0)
    assert(sql == h(1L))
  }
}
