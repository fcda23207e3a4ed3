package graft.sql

import graft.core.{BloomFilter, CardinalitySketch, CountMinSketch, KllSketch, MergeableSketch,
  SketchCodec, TDigest}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

import scala.collection.immutable.ListMap

private[graft] object NumericExtract {
  /** Extractor of a double from an internal value of `dt`, or null if
    * unsupported.
    */
  def extractorFor(dt: DataType): Any => Double = dt match {
    case DoubleType => v => v.asInstanceOf[Double]
    case FloatType => v => v.asInstanceOf[Float].toDouble
    case LongType => v => v.asInstanceOf[Long].toDouble
    case IntegerType => v => v.asInstanceOf[Int].toDouble
    case ShortType => v => v.asInstanceOf[Short].toDouble
    case ByteType => v => v.asInstanceOf[Byte].toDouble
    case _: DecimalType => v => v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble
    case _ => null
  }
}

/** The shared half of the five build aggregates (ce_sketch /
  * ce_approx_distinct, bloom_agg, cms_agg, tdigest_agg, kll_agg): the buffer
  * is the live sketch, merged in place at the shuffle-reduce boundary, and
  * it crosses the wire, and is returned, as its family's codec bytes. A
  * subclass brings its parameters, input check, empty sketch and per-row
  * `update`.
  */
abstract class SketchBuildAgg[S <: MergeableSketch[S]]
  extends TypedImperativeAggregate[S] with UnaryLike[Expression] {

  protected def codec: SketchCodec[S]

  override def merge(buffer: S, other: S): S = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: S): Any = buffer.serialize()
  override def serialize(buffer: S): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): S = codec.deserialize(bytes)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
}

/** Bloom-filter aggregate: build a mergeable membership filter of the distinct
  * values of `child` (hashed with the engine's canonical wyhash). Merge at the
  * shuffle boundary is bitwise OR.
  */
case class BloomFilterAgg(
    child: Expression,
    expectedItems: Long = 1000000L,
    fpp: Double = 0.01,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[BloomFilter] {

  @transient private lazy val hasher: Any => Long = SketchHashing.hasherFor(child.dataType)

  override protected def codec: SketchCodec[BloomFilter] = BloomFilter

  override def checkInputDataTypes(): TypeCheckResult =
    if (expectedItems <= 0) TypeCheckResult.TypeCheckFailure("expectedItems must be positive")
    else if (fpp <= 0 || fpp >= 1) TypeCheckResult.TypeCheckFailure("fpp must be in (0,1)")
    else if (!SketchHashing.supported(child.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"bloom_agg does not support input type ${child.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): BloomFilter =
    BloomFilter.forExpected(expectedItems, fpp)

  override def update(buffer: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) buffer.putHash(hasher(v))
    buffer
  }

  override def withNewMutableAggBufferOffset(n: Int): BloomFilterAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): BloomFilterAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): BloomFilterAgg =
    copy(child = newChild)
  override def prettyName: String = "bloom_agg"
}

/** Count-min sketch aggregate: mergeable frequency table of `child` values. */
case class CountMinAgg(
    child: Expression,
    depth: Int = 5,
    width: Int = 4096,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[CountMinSketch] {

  @transient private lazy val hasher: Any => Long = SketchHashing.hasherFor(child.dataType)

  override protected def codec: SketchCodec[CountMinSketch] = CountMinSketch

  override def checkInputDataTypes(): TypeCheckResult =
    if (depth < 1 || depth > CountMinSketch.MaxDepth)
      TypeCheckResult.TypeCheckFailure(s"depth must be in [1..16], got $depth")
    else if (width < 8 || width > CountMinSketch.MaxWidth)
      TypeCheckResult.TypeCheckFailure(s"width must be in [8..2^24], got $width")
    else if (!SketchHashing.supported(child.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"cms_agg does not support input type ${child.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): CountMinSketch = new CountMinSketch(depth, width)

  override def update(buffer: CountMinSketch, input: InternalRow): CountMinSketch = {
    val v = child.eval(input)
    if (v != null) buffer.addHash(hasher(v))
    buffer
  }

  override def withNewMutableAggBufferOffset(n: Int): CountMinAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): CountMinAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): CountMinAgg =
    copy(child = newChild)
  override def prettyName: String = "cms_agg"
}

/** t-digest aggregate: mergeable quantile sketch of a numeric column. */
case class TDigestAgg(
    child: Expression,
    compression: Double = 100.0,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[TDigest] {

  @transient private lazy val extract: Any => Double =
    NumericExtract.extractorFor(child.dataType)

  override protected def codec: SketchCodec[TDigest] = TDigest

  override def checkInputDataTypes(): TypeCheckResult =
    if (compression < 20 || compression > 10000)
      TypeCheckResult.TypeCheckFailure(s"compression must be in [20..10000], got $compression")
    else if (NumericExtract.extractorFor(child.dataType) == null)
      TypeCheckResult.TypeCheckFailure(
        s"tdigest_agg expects a numeric column, got ${child.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): TDigest = TDigest(compression)

  override def update(buffer: TDigest, input: InternalRow): TDigest = {
    val v = child.eval(input)
    if (v != null) {
      val d = extract(v)
      if (!d.isNaN) buffer.add(d)
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(n: Int): TDigestAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TDigestAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): TDigestAgg =
    copy(child = newChild)
  override def prettyName: String = "tdigest_agg"
}

/** KLL aggregate: mergeable rank/quantile sketch of a numeric column. */
case class KllAgg(
    child: Expression,
    k: Int = 200,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[KllSketch] {

  @transient private lazy val extract: Any => Double =
    NumericExtract.extractorFor(child.dataType)

  override protected def codec: SketchCodec[KllSketch] = KllSketch

  override def checkInputDataTypes(): TypeCheckResult =
    if (k < 8 || k > 65536)
      TypeCheckResult.TypeCheckFailure(s"k must be in [8..65536], got $k")
    else if (NumericExtract.extractorFor(child.dataType) == null)
      TypeCheckResult.TypeCheckFailure(
        s"kll_agg expects a numeric column, got ${child.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): KllSketch = KllSketch(k)

  override def update(buffer: KllSketch, input: InternalRow): KllSketch = {
    val v = child.eval(input)
    if (v != null) {
      val d = extract(v)
      if (!d.isNaN) buffer.add(d)
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(n: Int): KllAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): KllAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): KllAgg =
    copy(child = newChild)
  override def prettyName: String = "kll_agg"
}

/** Re-aggregation (union) over a column of serialized sketches of one
  * family, looked up by `kind` in [[SketchUnionAgg.codecs]]: ce_merge /
  * ce_merge_estimate for cardinality sketches, `<kind>_merge` for the rest.
  * Enables two-phase salted aggregation and sketch-cube materialization:
  * store a sketch at fine grain, roll it up at any coarser grain.
  *
  * The buffer is the DECODED sketch, so each input row pays one decode and
  * an in-place merge. It stays null until the first sketch arrives, whose
  * geometry it adopts; an empty group yields null, or 0 for
  * ce_merge_estimate. Decoding checks the family's magic, so mixing
  * families fails loudly.
  */
case class SketchUnionAgg(
    child: Expression,
    kind: String,
    emitEstimate: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MergeableSketch[AnyRef]] with UnaryLike[Expression] {

  private type Sketch = MergeableSketch[AnyRef]

  @transient private lazy val codec = SketchUnionAgg.codecs(kind)

  override def checkInputDataTypes(): TypeCheckResult =
    if (!SketchUnionAgg.codecs.contains(kind))
      TypeCheckResult.TypeCheckFailure(
        s"unknown sketch kind '$kind' (expected one of ${SketchUnionAgg.codecs.keys.mkString(", ")})")
    else if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"${kind}_merge expects a binary sketch column, got ${child.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): Sketch = null

  override def update(buffer: Sketch, input: InternalRow): Sketch = {
    val v = child.eval(input)
    if (v == null) buffer else merge(buffer, deserialize(v.asInstanceOf[Array[Byte]]))
  }

  override def merge(buffer: Sketch, other: Sketch): Sketch =
    if (buffer == null) other
    else {
      if (other != null) buffer.merge(other)
      buffer
    }

  override def eval(buffer: Sketch): Any =
    if (emitEstimate) { if (buffer == null) 0L else buffer.asInstanceOf[CardinalitySketch].estimate }
    else if (buffer == null) null
    else buffer.serialize()

  override def serialize(buffer: Sketch): Array[Byte] =
    if (buffer == null) Array.emptyByteArray else buffer.serialize()

  override def deserialize(bytes: Array[Byte]): Sketch =
    if (bytes.isEmpty) null else codec.deserialize(bytes).asInstanceOf[Sketch]

  override def dataType: DataType = if (emitEstimate) LongType else BinaryType
  override def nullable: Boolean = !emitEstimate
  override def withNewMutableAggBufferOffset(n: Int): SketchUnionAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SketchUnionAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): SketchUnionAgg =
    copy(child = newChild)
  override def prettyName: String = if (emitEstimate) "ce_merge_estimate" else s"${kind}_merge"
}

object SketchUnionAgg {
  val codecs: ListMap[String, SketchCodec[_]] = ListMap(
    "ce" -> CardinalitySketch,
    "bloom" -> BloomFilter,
    "cms" -> CountMinSketch,
    "tdigest" -> TDigest,
    "kll" -> KllSketch)
}
