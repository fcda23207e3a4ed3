package graft.sql

import graft.core.{CardinalitySketch, SketchCodec, WyHash}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Hashing of Spark internal values into the reference's 64-bit item-hash
  * space (reference: items are hashed with `BuildHasherDefault<WyHash>` at
  * src/estimator.rs:46-49). Canonical byte feeds per type: integral types as
  * their 8 little-endian bytes (bit-exact with the reference's u64/usize
  * hashing — golden-verified), strings as UTF-8 bytes, binary as raw bytes,
  * floats and doubles as their canonical bits with -0.0 counted as 0.0.
  */
private[graft] object SketchHashing {
  /** Returns a hasher for the internal representation of `dt`, or null if the
    * type is unsupported (checked at analysis time).
    */
  def hasherFor(dt: DataType): Any => Long = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      v => WyHash.hashLong(v.asInstanceOf[Long])
    case IntegerType | DateType =>
      v => WyHash.hashLong(v.asInstanceOf[Int].toLong)
    case ShortType => v => WyHash.hashLong(v.asInstanceOf[Short].toLong)
    case ByteType => v => WyHash.hashLong(v.asInstanceOf[Byte].toLong)
    case BooleanType => v => WyHash.hashLong(if (v.asInstanceOf[Boolean]) 1L else 0L)
    // -0.0 hashes as 0.0 (== folds them, as COUNT(DISTINCT) does); the
    // *ToIntBits / *ToLongBits forms already fold every NaN into one
    case FloatType =>
      v => {
        val f = v.asInstanceOf[Float]
        WyHash.hashLong(java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f).toLong)
      }
    case DoubleType =>
      v => {
        val d = v.asInstanceOf[Double]
        WyHash.hashLong(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))
      }
    case StringType =>
      v => hashUTF8(v.asInstanceOf[UTF8String])
    case BinaryType =>
      v => {
        val b = v.asInstanceOf[Array[Byte]]
        WyHash.hash(b, 0, b.length, 0L)
      }
    case _: DecimalType =>
      v => {
        val b = v.toString.getBytes("UTF-8")
        WyHash.hash(b, 0, b.length, 0L)
      }
    case st: StructType =>
      // multi-column distinct: combine per-field hashes order-sensitively
      // (mum chain), null fields fold in a fixed tag — supports
      // ce_approx_distinct(struct(a, b, ...)) as the COUNT(DISTINCT a, b)
      // analog
      val fieldHashers = st.fields.map(f => hasherFor(f.dataType))
      val getters = st.fields.zipWithIndex.map { case (f, i) =>
        val dt = f.dataType
        (row: org.apache.spark.sql.catalyst.InternalRow) =>
          if (row.isNullAt(i)) null else row.get(i, dt)
      }
      if (fieldHashers.contains(null)) null
      else
        v => {
          val row = v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
          var h = WyHash.P2
          var i = 0
          while (i < fieldHashers.length) {
            val fv = getters(i)(row)
            val fh = if (fv == null) 0x9e3779b97f4a7c15L else fieldHashers(i)(fv)
            h = WyHash.mum(h ^ fh, WyHash.P1)
            i += 1
          }
          h
        }
    case _ => null
  }

  def supported(dt: DataType): Boolean = hasherFor(dt) != null

  /** wyhash of a string's UTF-8 bytes, read in place from its backing array;
    * only an off-heap string is copied out first.
    */
  def hashUTF8(u: UTF8String): Long = u.getBaseObject match {
    case b: Array[Byte] =>
      WyHash.hash(b, (u.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, u.numBytes, 0L)
    case _ =>
      val b = u.getBytes
      WyHash.hash(b, 0, b.length, 0L)
  }
}

/** Distinct-count sketch aggregate — the Spark expression of the reference's
  * whole `CardinalityEstimator` lifecycle (src/estimator.rs:46-94):
  * `createAggregationBuffer` = new() ; per-row `update` = insert() inside the
  * partial aggregate on each executor ; `merge` = merge() at the
  * shuffle-reduce boundary ; `eval` = estimate() (emitEstimate) or the
  * serialized sketch bytes for storage / re-aggregation.
  *
  * Catalyst plans this as ObjectHashAggregateExec with automatic partial ->
  * shuffle -> final phases; the buffer crosses the wire via the versioned
  * sketch format ([[SketchBuildAgg]]), sitting exactly where the
  * reference's serde feature was designed to sit (src/serde.rs:29-80).
  */
case class CardinalitySketchAgg(
    child: Expression,
    p: Int = CardinalitySketch.DefaultP,
    w: Int = CardinalitySketch.DefaultW,
    emitEstimate: Boolean = true,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[CardinalitySketch] {

  @transient private lazy val hasher: Any => Long = SketchHashing.hasherFor(child.dataType)

  override protected def codec: SketchCodec[CardinalitySketch] = CardinalitySketch

  override def checkInputDataTypes(): TypeCheckResult = {
    if (p < CardinalitySketch.MinP || p > CardinalitySketch.MaxP) {
      TypeCheckResult.TypeCheckFailure(s"precision must be in [4..18], got $p")
    } else if (w < CardinalitySketch.MinW || w > CardinalitySketch.MaxW) {
      TypeCheckResult.TypeCheckFailure(s"register width must be in [4..6], got $w")
    } else if (!SketchHashing.supported(child.dataType)) {
      TypeCheckResult.TypeCheckFailure(
        s"ce_sketch does not support input type ${child.dataType.catalogString}")
    } else TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): CardinalitySketch = new CardinalitySketch(p, w)

  override def update(buffer: CardinalitySketch, input: InternalRow): CardinalitySketch = {
    val v = child.eval(input)
    if (v != null) buffer.insertHash(hasher(v))
    buffer
  }

  override def eval(buffer: CardinalitySketch): Any =
    if (emitEstimate) buffer.estimate else buffer.serialize()

  override def dataType: DataType = if (emitEstimate) LongType else BinaryType

  override def withNewMutableAggBufferOffset(newOffset: Int): CardinalitySketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CardinalitySketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CardinalitySketchAgg =
    copy(child = newChild)

  override def prettyName: String = if (emitEstimate) "ce_approx_distinct" else "ce_sketch"
}
