package graft.core

import java.nio.ByteBuffer

/** Mergeable count-min sketch (Cormode-Muthukrishnan): depth x width grid of
  * Long counters; add() bumps one counter per row, point query takes the
  * minimum over rows (never under-estimates; over-estimates by collisions
  * bounded by eps = e/width with probability 1 - e^-depth). Row hashes come
  * from double hashing off the item's wyhash value. Merge = element-wise add
  * (requires identical geometry).
  */
final class CountMinSketch private (val depth: Int, val width: Int,
    private val table: Array[Long], private var _totalCount: Long)
  extends MergeableSketch[CountMinSketch] with Serializable {
  import CountMinSketch._

  def this(depth: Int, width: Int) =
    this(depth, width, new Array[Long](depth * width), 0L)

  require(depth >= 1 && depth <= MaxDepth, s"depth out of range: $depth")
  require(width >= 8 && width <= MaxWidth, s"width out of range: $width")

  @inline private def bucket(row: Int, hash: Long): Int = {
    val h2 = (hash >>> 32) | (hash << 32)
    (((hash + row * h2) & Long.MaxValue) % width).toInt
  }

  def addHash(hash: Long, count: Long = 1L): Unit = {
    var r = 0
    while (r < depth) {
      table(r * width + bucket(r, hash)) += count
      r += 1
    }
    _totalCount += count
  }

  /** Point estimate: min over rows — upper bound on the true count. */
  def estimateHash(hash: Long): Long = {
    var min = Long.MaxValue
    var r = 0
    while (r < depth) {
      val v = table(r * width + bucket(r, hash))
      if (v < min) min = v
      r += 1
    }
    min
  }

  def totalCount: Long = _totalCount

  def merge(other: CountMinSketch): Unit = {
    require(other.depth == depth && other.width == width,
      s"incompatible count-min sketches: ($depth,$width) vs (${other.depth},${other.width})")
    var i = 0
    while (i < table.length) { table(i) += other.table(i); i += 1 }
    _totalCount += other._totalCount
  }

  def sizeInBytes: Int = 8 + table.length * 8

  def serialize(): Array[Byte] = {
    val bb = allocate(HeaderLen + table.length * 8)
    bb.put(depth.toByte)
    bb.putInt(width)
    bb.putLong(_totalCount)
    table.foreach(bb.putLong)
    bb.array()
  }

  override def equals(obj: Any): Boolean = obj match {
    case c: CountMinSketch =>
      c.depth == depth && c.width == width && java.util.Arrays.equals(c.table, table)
    case _ => false
  }
  override def hashCode(): Int = java.util.Arrays.hashCode(table)
}

object CountMinSketch extends SketchCodec[CountMinSketch] {
  final val name = "cms"
  final val Magic: Short = 0x5bc3.toShort
  final val Version = 1
  final val HeaderLen = 16
  final val MaxDepth = 16
  final val MaxWidth = 1 << 24

  protected def read(bb: ByteBuffer, bytes: Array[Byte]): CountMinSketch = {
    val depth = bb.get() & 0xff
    val width = bb.getInt()
    require(depth >= 1 && depth <= MaxDepth, s"invalid cms depth $depth")
    require(width >= 8 && width <= MaxWidth, s"invalid cms width $width")
    val total = bb.getLong()
    val n = depth * width
    require(bytes.length == HeaderLen + n * 8, "bad cms payload length")
    val table = new Array[Long](n)
    var i = 0
    while (i < n) { table(i) = bb.getLong(); i += 1 }
    new CountMinSketch(depth, width, table, total)
  }
}
