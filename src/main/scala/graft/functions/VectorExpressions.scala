package graft.sql

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Static vector kernels for embedding math.
  *
  * Spark's higher-order functions (`zip_with`, `aggregate`, `transform`) are
  * `CodegenFallback` expressions: every row pays interpreted lambda dispatch
  * and boxing per ELEMENT. These kernels compute the same results with a
  * tight primitive loop. Each SQL expression below is a `RuntimeReplaceable`
  * whose replacement is a `StaticInvoke` of its kernel: Spark generates the
  * call straight into whole-stage codegen and calls it by reflection when a
  * plan runs interpreted. A NULL argument yields NULL without a call.
  *
  * Numeric parity is bit-exact with the column-algebra formulations they
  * replace:
  *   - float x float multiplies in FLOAT, accumulates in double (that is what
  *     `aggregate(zip_with(a, b, _ * _), 0.0d, _ + _)` does element-wise);
  *   - any double operand promotes the multiply to double;
  *   - a null element, or length mismatch (zip_with null-pads), or a null
  *     input yields NULL — exactly like the lambda pipeline.
  */
object VecOps {

  // immutable, shared: never allocate the no-buckets/no-cells result in the
  // per-row hot path (consumers only read)
  private val emptyLongs =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
  private val emptyInts =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Int])

  /** Boxed Double so null can signal "null element / length mismatch". */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    if (aFloat && bFloat) {
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        acc += (a.getFloat(i) * b.getFloat(i)).toDouble
        i += 1
      }
    } else {
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
        acc += x * y
        i += 1
      }
    }
    java.lang.Double.valueOf(acc)
  }

  def norm(a: ArrayData, aFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    if (aFloat) {
      while (i < n) {
        if (a.isNullAt(i)) return null
        acc += (a.getFloat(i) * a.getFloat(i)).toDouble
        i += 1
      }
    } else {
      while (i < n) {
        if (a.isNullAt(i)) return null
        val x = a.getDouble(i)
        acc += x * x
        i += 1
      }
    }
    java.lang.Double.valueOf(math.sqrt(acc))
  }

  /** The vector as doubles, or null when it is dirty: wrong length, a null
    * element, a non-finite component, or all zero. This is the exact
    * complement of [[graft.ops.Similarity.trainIvfCentroids]]'s sample
    * filter, so train and serve agree on what counts as data. NaN poisons
    * every score and sign, Inf breaks the downstream cosine, and the zero
    * vector has no direction: it scores 0 against every centroid (cell 0 by
    * tie-break) and reads >= 0 on every plane (the all-ones bucket), so all
    * zero rows would pile into one cell or bucket.
    */
  private def cleanVector(a: ArrayData, dim: Int, aFloat: Boolean): Array[Double] = {
    if (a.numElements() != dim) return null
    val v = new Array[Double](dim)
    var anyNonZero = false
    var i = 0
    while (i < dim) {
      if (a.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return null
      if (x != 0.0) anyNonZero = true
      v(i) = x
      i += 1
    }
    if (anyNonZero) v else null
  }

  /** See HyperplaneBuckets: one pass over the decoded vector and the cached
    * plane matrix. A dirty vector ([[cleanVector]]) yields an EMPTY array so
    * posexplode drops the row from LSH banding — the same no-cells policy as
    * [[nearestCentroids]]; dirty rows in bucket (t, 0) would make the bucket
    * self-join quadratic in them.
    */
  def hyperplaneBuckets(a: ArrayData, planeMatrix: Array[Array[Double]], dim: Int,
      planes: Int, tables: Int, aFloat: Boolean): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val v = cleanVector(a, dim, aFloat)
    if (v == null) return emptyLongs
    val out = new Array[Long](tables)
    var g = 0
    while (g < tables * planes) {
      val pl = planeMatrix(g)
      var acc = 0.0
      var j = 0
      while (j < dim) { acc += v(j) * pl(j); j += 1 }
      if (acc >= 0) out(g / planes) |= 1L << (g % planes)
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** See NearestCentroids: top-nProbe centroid indices by dot product,
    * best first, ties broken toward the lower index. A dirty vector
    * ([[cleanVector]]) -> empty array.
    */
  def nearestCentroids(a: ArrayData, centroids: Array[Array[Double]], dim: Int,
      nProbe: Int, aFloat: Boolean): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val v = cleanVector(a, dim, aFloat)
    if (v == null) return emptyInts
    val k = centroids.length
    val scores = new Array[Double](k)
    var c = 0
    while (c < k) {
      val ctr = centroids(c)
      var acc = 0.0
      var j = 0
      while (j < dim) { acc += v(j) * ctr(j); j += 1 }
      scores(c) = acc
      c += 1
    }
    // selection of the nProbe best (k is small; O(k * nProbe) is fine)
    val out = new Array[Int](nProbe)
    val taken = new Array[Boolean](k)
    var p = 0
    while (p < nProbe) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var c2 = 0
      while (c2 < k) {
        if (!taken(c2) && scores(c2) > bestScore) { best = c2; bestScore = scores(c2) }
        c2 += 1
      }
      // unreachable after the NaN input guard unless Inf*0 produced NaN
      // scores everywhere; degrade to "no cells" rather than crash
      if (best < 0)
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          java.util.Arrays.copyOf(out, p))
      taken(best) = true
      out(p) = best
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** See VecEqFraction. Boxed so null can signal the empty-left case. */
  def eqFraction(a: ArrayData, b: ArrayData): java.lang.Double = {
    val denom = a.numElements()
    if (denom == 0) return null
    val n = math.min(denom, b.numElements())
    var matches = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) matches += 1
      i += 1
    }
    java.lang.Double.valueOf(matches.toDouble / denom)
  }

  /** See VecHash64: wyhash64 over the little-endian element bit patterns.
    * Boxed so a null element can yield NULL (callers that order by the hash
    * must sort nulls last, or dirty rows hog the top of the order).
    */
  def hash64(a: ArrayData, aFloat: Boolean): java.lang.Long = {
    val n = a.numElements()
    val width = if (aFloat) 4 else 8
    val bytes = new Array[Byte](n * width)
    var i = 0
    if (aFloat) {
      while (i < n) {
        if (a.isNullAt(i)) return null
        val bits = java.lang.Float.floatToRawIntBits(a.getFloat(i))
        val off = i * 4
        bytes(off) = bits.toByte
        bytes(off + 1) = (bits >>> 8).toByte
        bytes(off + 2) = (bits >>> 16).toByte
        bytes(off + 3) = (bits >>> 24).toByte
        i += 1
      }
    } else {
      while (i < n) {
        if (a.isNullAt(i)) return null
        val bits = java.lang.Double.doubleToRawLongBits(a.getDouble(i))
        val off = i * 8
        var b = 0
        while (b < 8) { bytes(off + b) = (bits >>> (8 * b)).toByte; b += 1 }
        i += 1
      }
    }
    java.lang.Long.valueOf(graft.core.WyHash.hash(bytes))
  }

  private[sql] def isVec(dt: DataType): Option[Boolean] = dt match {
    case ArrayType(FloatType, _) => Some(true)
    case ArrayType(DoubleType, _) => Some(false)
    case _ => None
  }

  /** The `xFloat` kernel argument of a vector input. False for a non-vector
    * type, so a replacement built before the type check never throws
    * (`canonicalized` builds it).
    */
  private[sql] def isFloat(e: Expression): Literal = Literal(isVec(e.dataType).contains(true))

  private[sql] def checkVec(fn: String, e: Expression): TypeCheckResult =
    if (isVec(e.dataType).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn expects an array<float|double> column, got ${e.dataType.catalogString}")

  /** A plane or centroid matrix as a kernel argument: one object reference
    * in the generated code, never copied per row.
    */
  private[sql] def matrix(m: Array[Array[Double]]): Literal =
    Literal.create(m, ObjectType(classOf[Array[Array[Double]]]))
}

/** Content hash of an array<float>/array<double> column: wyhash64
  * over the concatenated little-endian IEEE-754 bit patterns of the elements.
  * Deterministic in the VALUE of the vector (equal content = equal hash
  * regardless of partitioning or row order) — the hash-spread sample key for
  * [[graft.ops.Similarity.trainIvfCentroids]], replacing its previous
  * `wyhash64(cast(vec as string))` which paid a per-row decimal
  * stringification of the whole corpus. A null element yields NULL (order
  * with nulls last); distinct bit patterns (including -0.0 vs 0.0 and NaN
  * payloads) hash distinctly, which is strictly finer than the string cast
  * and equally valid as a spread key.
  */
case class VecHash64(child: Expression) extends RuntimeReplaceable with UnaryLike[Expression] {
  override def checkInputDataTypes(): TypeCheckResult = VecOps.checkVec(prettyName, child)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override lazy val replacement: Expression =
    StaticInvoke(VecOps.getClass, dataType, "hash64", Seq(child, VecOps.isFloat(child)))

  override protected def withNewChildInternal(newChild: Expression): VecHash64 =
    copy(child = newChild)
  override def prettyName: String = "vec_hash64"
}

/** All `tables` hyperplane-LSH sign-bucket keys of a vector in ONE pass:
  * the vector is decoded to doubles once and multiplied through a cached
  * `tables x planes` plane matrix (the same deterministic wyhash-derived
  * planes, from [[HyperplaneBuckets.plane]], as the per-table column-algebra
  * buckets that VectorOpsSpec checks it against, bit for bit) —
  * where the column-algebra formulation evaluated `tables x planes`
  * independent dot-product expressions per row, each re-reading the vector
  * and re-materializing its plane literal.
  *
  * Dirty inputs DROP from banding rather than concentrate: a NULL vector
  * yields NULL, and a wrong-length / null-element / non-finite / all-zero
  * vector yields an EMPTY array — (pos)explode produces no rows for either,
  * so bad rows simply leave LSH. This deliberately diverges from the
  * per-plane column-algebra form, whose null dots fell to the 0-bit branch
  * and lumped every dirty row into bucket (t, 0) of every table (and all
  * zero vectors into the all-ones bucket) — one hot bucket per table that
  * turned the bucket self-join quadratic in the dirty-row count. At corpus
  * scale dirty vectors are data; the policy matches NearestCentroids.
  */
case class HyperplaneBuckets(child: Expression, dim: Int, planes: Int, tables: Int)
  extends RuntimeReplaceable with UnaryLike[Expression] {
  require(planes >= 1 && planes <= 63, s"planes must be in [1..63], got $planes")
  require(tables >= 1, s"tables must be >= 1, got $tables")

  override def checkInputDataTypes(): TypeCheckResult = VecOps.checkVec(prettyName, child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override lazy val replacement: Expression =
    StaticInvoke(VecOps.getClass, dataType, "hyperplaneBuckets", Seq(child,
      VecOps.matrix(HyperplaneBuckets.planeMatrix(dim, planes, tables)),
      Literal(dim), Literal(planes), Literal(tables), VecOps.isFloat(child)),
      returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)
  override def prettyName: String = "hyperplane_buckets"
}

object HyperplaneBuckets {
  private val matrices =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()

  /** The `tables x planes` matrix of [[plane]]s, one object per geometry: a
    * matrix literal compares by reference, so equal calls stay semantically
    * equal.
    */
  def planeMatrix(dim: Int, planes: Int, tables: Int): Array[Array[Double]] =
    matrices.computeIfAbsent((dim, planes, tables),
      _ => Array.tabulate(tables * planes)(g => plane(g, dim)))

  /** Deterministic pseudo-random hyperplane `globalIdx`: component j is a
    * standard-normal-ish value derived from wyhash (sum of two uniform
    * halves, variance-matched — plenty for LSH). This is THE definition;
    * the kernel and the column-algebra reference in VectorOpsSpec both
    * take their planes from here, so their buckets are bit-identical.
    */
  def plane(globalIdx: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { j =>
      val h = graft.core.WyHash.hashLong(globalIdx.toLong << 32 | j.toLong)
      val u1 = ((h >>> 11).toDouble / (1L << 53).toDouble) - 0.5
      val u2 = (((h * graft.core.WyHash.P1) >>> 11).toDouble / (1L << 53).toDouble) - 0.5
      (u1 + u2) * math.sqrt(6.0)
    }
}

/** The `nProbe` nearest centroids of a vector by dot product (IVF coarse
  * quantization), as an array<int> of centroid indices, best first. One
  * pass: the vector is decoded once and multiplied through the centroid
  * matrix. Pass L2-normalized centroids to rank by cosine (the per-row
  * vector's own norm is a constant factor in argmax).
  *
  * A wrong-length, null-element, non-finite, or all-zero vector yields an
  * EMPTY array (the row simply lands in no cell — bad vectors are data at
  * corpus scale, and train/serve agree on what counts as data).
  */
case class NearestCentroids(child: Expression, centroids: Array[Array[Double]],
    nProbe: Int) extends RuntimeReplaceable with UnaryLike[Expression] {
  require(centroids.nonEmpty, "centroids must be non-empty")
  require(nProbe >= 1 && nProbe <= centroids.length,
    s"nProbe must be in [1..${centroids.length}], got $nProbe")

  override def checkInputDataTypes(): TypeCheckResult = VecOps.checkVec(prettyName, child)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override lazy val replacement: Expression =
    StaticInvoke(VecOps.getClass, dataType, "nearestCentroids", Seq(child,
      VecOps.matrix(centroids), Literal(centroids(0).length), Literal(nProbe),
      VecOps.isFloat(child)),
      returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
  override def prettyName: String = "nearest_centroids"
}

/** Fraction of positionally-equal slots of two array<bigint> columns — the
  * MinHash signature-similarity estimator. Bit-identical to
  * `aggregate(zip_with(a, b, (x,y) => when(x===y,1).otherwise(0)), 0, _+_)
  *  .cast(double) / size(a)`: zip_with's null padding and null elements
  * contribute 0 matches and the denominator is size(a) — except that
  * size(a) == 0 yields NULL (`try_divide` semantics; the raw formulation
  * under Spark 4's default ANSI mode would throw DIVIDE_BY_ZERO, and an
  * empty signature has no meaningful similarity).
  */
case class VecEqFraction(left: Expression, right: Expression)
  extends RuntimeReplaceable with BinaryLike[Expression] {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_eq_fraction expects array<bigint> columns, got " +
          s"${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override lazy val replacement: Expression =
    StaticInvoke(VecOps.getClass, dataType, "eqFraction", Seq(left, right))

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecEqFraction =
    copy(left = l, right = r)
  override def prettyName: String = "vec_eq_fraction"
}

/** Dot product of two array<float>/array<double> columns. */
case class VecDot(left: Expression, right: Expression)
  extends RuntimeReplaceable with BinaryLike[Expression] {
  override def checkInputDataTypes(): TypeCheckResult =
    (VecOps.isVec(left.dataType), VecOps.isVec(right.dataType)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"vec_dot expects array<float|double> columns, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override lazy val replacement: Expression = StaticInvoke(VecOps.getClass, dataType, "dot",
    Seq(left, right, VecOps.isFloat(left), VecOps.isFloat(right)))

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
  override def prettyName: String = "vec_dot"
}

/** L2 norm of an array<float>/array<double> column. */
case class VecNorm(child: Expression) extends RuntimeReplaceable with UnaryLike[Expression] {
  override def checkInputDataTypes(): TypeCheckResult = VecOps.checkVec(prettyName, child)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override lazy val replacement: Expression =
    StaticInvoke(VecOps.getClass, dataType, "norm", Seq(child, VecOps.isFloat(child)))

  override protected def withNewChildInternal(newChild: Expression): VecNorm =
    copy(child = newChild)
  override def prettyName: String = "vec_norm"
}
