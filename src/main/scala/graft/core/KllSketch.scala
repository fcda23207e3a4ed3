package graft.core

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

/** Mergeable KLL quantile sketch over doubles (Karnin-Lang-Liberty). Levels of
  * compactors: items at level h carry weight 2^h; a full level sorts and keeps
  * every other item (offset chosen by a deterministic wyhash coin over a
  * monotone compaction counter — reproducible across runs for the same input
  * order, which keeps the driver's deterministic verification stable).
  * Capacity of level h (of H) shrinks geometrically: ceil(k * c^(H-1-h)), with
  * c = 2/3, floor 8. Rank error is O(1/k); min/max tracked exactly.
  */
final class KllSketch private (
    val k: Int,
    private var levels: ArrayBuffer[ArrayBuffer[Double]],
    private var _count: Long,
    private var _min: Double,
    private var _max: Double,
    private var compactions: Long) extends MergeableSketch[KllSketch] with Serializable {
  import KllSketch._

  def this(k: Int) = this(k, ArrayBuffer(new ArrayBuffer[Double]), 0L,
    Double.PositiveInfinity, Double.NegativeInfinity, 0L)

  require(k >= 8 && k <= 65536, s"k out of range: $k")

  def count: Long = _count
  def min: Double = _min
  def max: Double = _max

  private def capacity(level: Int): Int = {
    val h = levels.length
    math.max(8, math.ceil(k * math.pow(2.0 / 3.0, (h - 1 - level).toDouble)).toInt)
  }

  def add(x: Double): Unit = {
    require(!x.isNaN, "NaN not supported")
    levels(0) += x
    _count += 1
    if (x < _min) _min = x
    if (x > _max) _max = x
    if (levels(0).length >= capacity(0)) compact()
  }

  private def compact(): Unit = {
    // full ascending pass: merge() can overfill ANY level, not just level 0,
    // and compacting level h can in turn fill h+1
    var lvl = 0
    while (lvl < levels.length) {
      if (levels(lvl).length >= capacity(lvl)) {
        if (lvl + 1 == levels.length) levels += new ArrayBuffer[Double]
        val buf = levels(lvl)
        val sorted = buf.toArray
        java.util.Arrays.sort(sorted)
        // compact an EVEN count so total weight is conserved (n*w stays
        // m/2 * 2w + leftover * w); an odd leftover item stays at this level
        val m = sorted.length & ~1
        // deterministic coin: parity of wyhash over the compaction counter
        val offset = (WyHash.hashLong(compactions) & 1L).toInt
        compactions += 1
        val up = levels(lvl + 1)
        var i = offset
        while (i < m) { up += sorted(i); i += 2 }
        buf.clear()
        if (m < sorted.length) buf += sorted(m)
      }
      lvl += 1
    }
  }

  /** All (value, weight) pairs — weight 2^level per retained item. */
  private def weighted(): (Array[Double], Array[Long]) = {
    val n = levels.map(_.length).sum
    val vs = new Array[Double](n)
    val ws = new Array[Long](n)
    var j = 0
    var lvl = 0
    while (lvl < levels.length) {
      val buf = levels(lvl)
      val w = 1L << lvl
      var i = 0
      while (i < buf.length) { vs(j) = buf(i); ws(j) = w; i += 1; j += 1 }
      lvl += 1
    }
    val idx = (0 until n).sortBy(vs).toArray
    (idx.map(vs), idx.map(ws))
  }

  /** Quantile: smallest retained value whose cumulative weight reaches
    * q * totalWeight (rank-style, matching SQL discrete quantiles when the
    * sketch is in exact mode, i.e. nothing has been compacted).
    */
  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q")
    if (_count == 0) return Double.NaN
    if (q == 0.0) return _min
    if (q == 1.0) return _max
    val (vs, ws) = weighted()
    val totalW = ws.sum
    val target = math.ceil(q * totalW).toLong
    var cum = 0L
    var i = 0
    while (i < vs.length) {
      cum += ws(i)
      if (cum >= target) return vs(i)
      i += 1
    }
    _max
  }

  /** Approximate rank: fraction of items <= x. */
  def rank(x: Double): Double = {
    if (_count == 0) return Double.NaN
    val (vs, ws) = weighted()
    var cum = 0L
    var i = 0
    while (i < vs.length && vs(i) <= x) { cum += ws(i); i += 1 }
    cum.toDouble / ws.sum
  }

  /** True while nothing has been compacted: quantiles are exact ranks. */
  def isExact: Boolean = compactions == 0L

  def merge(other: KllSketch): Unit = {
    require(other.k == k, s"incompatible KLL sketches: k=$k vs k=${other.k}")
    while (levels.length < other.levels.length) levels += new ArrayBuffer[Double]
    var lvl = 0
    while (lvl < other.levels.length) {
      levels(lvl) ++= other.levels(lvl)
      lvl += 1
    }
    _count += other._count
    compactions += other.compactions
    if (other._min < _min) _min = other._min
    if (other._max > _max) _max = other._max
    compact()
  }

  def retainedItems: Int = levels.map(_.length).sum

  def serialize(): Array[Byte] = {
    val n = retainedItems
    val bb = allocate(HeaderLen + levels.length * 4 + n * 8)
    bb.putInt(k)
    bb.putLong(_count)
    bb.putDouble(_min)
    bb.putDouble(_max)
    bb.putLong(compactions)
    bb.put(levels.length.toByte)
    levels.foreach(l => bb.putInt(l.length))
    levels.foreach(l => l.foreach(bb.putDouble))
    bb.array()
  }

  override def equals(obj: Any): Boolean = obj match {
    case s: KllSketch => java.util.Arrays.equals(serialize(), s.serialize())
    case _ => false
  }
  override def hashCode(): Int = java.util.Arrays.hashCode(serialize())
}

object KllSketch extends SketchCodec[KllSketch] {
  final val name = "kll"
  final val Magic: Short = 0x5b11.toShort
  final val Version = 1
  final val HeaderLen = 2 + 1 + 4 + 8 + 8 + 8 + 8 + 1

  def apply(k: Int = 200): KllSketch = new KllSketch(k)

  protected def read(bb: ByteBuffer, bytes: Array[Byte]): KllSketch = {
    val k = bb.getInt()
    require(k >= 8 && k <= 65536, s"invalid kll k $k")
    val count = bb.getLong()
    val mn = bb.getDouble()
    val mx = bb.getDouble()
    val compactions = bb.getLong()
    val nLevels = bb.get() & 0xff
    require(nLevels >= 1 && nLevels <= 64, s"invalid kll level count $nLevels")
    val sizes = (0 until nLevels).map(_ => bb.getInt())
    require(sizes.forall(s => s >= 0 && s <= 10000000), "invalid kll level size")
    val n = sizes.sum
    require(bytes.length == HeaderLen + nLevels * 4 + n * 8, "bad kll payload length")
    val levels = ArrayBuffer(sizes.map { s =>
      val buf = new ArrayBuffer[Double](s)
      var i = 0
      while (i < s) { buf += bb.getDouble(); i += 1 }
      buf
    }: _*)
    new KllSketch(k, levels, count, mn, mx, compactions)
  }
}
