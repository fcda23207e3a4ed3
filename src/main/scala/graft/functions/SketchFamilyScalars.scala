package graft.sql

import graft.core.{BloomFilter, CountMinSketch, KllSketch, SketchCodec, TDigest}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** A scalar probe of a serialized sketch (`left`) with a per-row value
  * (`right`); null when either is null. The common shape is a constant
  * sketch (collected or scalar-subqueried) probed by millions of rows, so
  * the decoded sketch is memoized on the byte-array reference — one decode
  * per partition instead of one per row.
  */
abstract class SketchProbe[S] extends BinaryExpression with CodegenFallback {
  @transient private var cachedBytes: Array[Byte] = _
  @transient private var cached: S = _

  protected def decode(bytes: Array[Byte]): S
  protected def probe(sketch: S, value: Any): Any
  /** Type check of `right`, once `left` is known to be binary. */
  protected def checkProbe(): TypeCheckResult

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName expects a binary sketch")
    else checkProbe()

  /** `right` must be a type the sketch hashes (the build aggregates' hashing). */
  protected def hashableProbe(): TypeCheckResult =
    if (SketchHashing.supported(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName does not support probe type ${right.dataType.catalogString}")

  override def eval(input: InternalRow): Any = {
    val bytes = left.eval(input)
    val v = right.eval(input)
    if (bytes == null || v == null) null
    else {
      val b = bytes.asInstanceOf[Array[Byte]]
      if (!(b eq cachedBytes)) {
        cached = decode(b)
        cachedBytes = b
      }
      probe(cached, v)
    }
  }
}

/** Membership test against a serialized Bloom filter. */
case class BloomMightContain(left: Expression, right: Expression)
  extends SketchProbe[BloomFilter] {

  @transient private lazy val hasher: Any => Long = SketchHashing.hasherFor(right.dataType)

  override protected def checkProbe(): TypeCheckResult = hashableProbe()
  override protected def decode(bytes: Array[Byte]): BloomFilter = BloomFilter.deserialize(bytes)
  override protected def probe(f: BloomFilter, v: Any): Any = f.mightContainHash(hasher(v))
  override def dataType: DataType = BooleanType

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomMightContain =
    copy(left = l, right = r)
  override def prettyName: String = "bloom_might_contain"
}

/** Point-frequency estimate from a serialized count-min sketch (upper bound on
  * the true count).
  */
case class CmsEstimate(left: Expression, right: Expression)
  extends SketchProbe[CountMinSketch] {

  @transient private lazy val hasher: Any => Long = SketchHashing.hasherFor(right.dataType)

  override protected def checkProbe(): TypeCheckResult = hashableProbe()
  override protected def decode(bytes: Array[Byte]): CountMinSketch =
    CountMinSketch.deserialize(bytes)
  override protected def probe(c: CountMinSketch, v: Any): Any = c.estimateHash(hasher(v))
  override def dataType: DataType = LongType

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CmsEstimate =
    copy(left = l, right = r)
  override def prettyName: String = "cms_estimate"
}

/** Quantile query over a serialized quantile sketch; the codec whose magic
  * the bytes carry decodes them, so it works for both t-digest and KLL
  * columns.
  */
case class SketchQuantile(left: Expression, right: Expression)
  extends SketchProbe[Double => Double] {

  override protected def checkProbe(): TypeCheckResult =
    if (right.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sketch_quantile expects a double quantile, got ${right.dataType.catalogString}")

  override protected def decode(b: Array[Byte]): Double => Double = {
    require(b.length >= 2, "sketch bytes too short")
    if (TDigest.claims(b)) TDigest.deserialize(b).quantile
    else if (KllSketch.claims(b)) KllSketch.deserialize(b).quantile
    else throw new IllegalArgumentException(
      f"not a quantile sketch (magic 0x${SketchCodec.magicOf(b)}%04x)")
  }

  override protected def probe(quantile: Double => Double, q: Any): Any =
    quantile(q.asInstanceOf[Double])
  override def dataType: DataType = DoubleType

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SketchQuantile =
    copy(left = l, right = r)
  override def prettyName: String = "sketch_quantile"
}
