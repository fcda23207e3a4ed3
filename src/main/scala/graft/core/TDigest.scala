package graft.core

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

/** Mergeable t-digest (Dunning's merging variant) for streaming quantiles.
  * Centroids sorted by mean; cluster sizes bounded by the k1 scale function
  * (asin-based), which concentrates resolution at the distribution tails.
  * Merge = concatenate centroid lists + recompress — associative up to the
  * usual t-digest approximation (min/max and the <=1-weight tail centroids
  * stay exact, so quantile 0.0 / 1.0 are exact answers).
  *
  * @param compression delta; ~2*delta centroids retained, accuracy ~O(1/delta)
  */
final class TDigest private (
    val compression: Double,
    private var means: Array[Double],
    private var weights: Array[Long],
    private var nCentroids: Int,
    private var bufMeans: ArrayBuffer[Double],
    private var bufWeights: ArrayBuffer[Long],
    private var _count: Long,
    private var _min: Double,
    private var _max: Double) extends MergeableSketch[TDigest] with Serializable {
  import TDigest._

  def this(compression: Double) = this(
    compression,
    new Array[Double](0), new Array[Long](0), 0,
    new ArrayBuffer[Double], new ArrayBuffer[Long],
    0L, Double.PositiveInfinity, Double.NegativeInfinity)

  require(compression >= 20 && compression <= 10000, s"compression out of range: $compression")

  private def bufferLimit: Int = math.max(64, (4 * compression).toInt)

  def add(x: Double, w: Long = 1L): Unit = {
    require(!x.isNaN, "NaN not supported")
    bufMeans += x
    bufWeights += w
    _count += w
    if (x < _min) _min = x
    if (x > _max) _max = x
    if (bufMeans.length >= bufferLimit) compress()
  }

  def count: Long = _count
  def min: Double = _min
  def max: Double = _max

  /** k1 scale function: delta/(2 pi) * asin(2q - 1). */
  @inline private def kScale(q: Double): Double =
    compression / (2.0 * math.Pi) * math.asin(2.0 * math.min(1.0, math.max(0.0, q)) - 1.0)

  /** Merge buffered points + existing centroids into a fresh centroid list. */
  private def compress(): Unit = {
    if (bufMeans.isEmpty && nCentroids == 0) return
    val total = nCentroids + bufMeans.length
    val ms = new Array[Double](total)
    val ws = new Array[Long](total)
    System.arraycopy(means, 0, ms, 0, nCentroids)
    var i = 0
    while (i < bufMeans.length) {
      ms(nCentroids + i) = bufMeans(i)
      ws(nCentroids + i) = bufWeights(i)
      i += 1
    }
    i = 0
    while (i < nCentroids) { ws(i) = weights(i); i += 1 }
    // sort (mean, weight) pairs by mean
    val idx = (0 until total).sortBy(ms)
    val sm = idx.map(ms).toArray
    val sw = idx.map(ws).toArray
    val totalW = _count.toDouble
    val om = new ArrayBuffer[Double](total)
    val ow = new ArrayBuffer[Long](total)
    var curMeanSum = sm(0) * sw(0)
    var curW = sw(0)
    var wSoFar = 0L
    var qLimit = kInverseLimit(0.0)
    i = 1
    while (i < total) {
      val projected = (wSoFar + curW + sw(i)) / totalW
      if (projected <= qLimit) {
        curMeanSum += sm(i) * sw(i)
        curW += sw(i)
      } else {
        om += curMeanSum / curW
        ow += curW
        wSoFar += curW
        qLimit = kInverseLimit(wSoFar / totalW)
        curMeanSum = sm(i) * sw(i)
        curW = sw(i)
      }
      i += 1
    }
    om += curMeanSum / curW
    ow += curW
    means = om.toArray
    weights = ow.toArray
    nCentroids = means.length
    bufMeans.clear()
    bufWeights.clear()
  }

  /** q limit for a cluster starting at q0: k^-1(k(q0) + 1). */
  @inline private def kInverseLimit(q0: Double): Double = {
    val k0 = kScale(q0)
    val target = k0 + 1.0
    val maxK = compression / 4.0 // k1(1) = delta/(2 pi) * (pi/2) = delta/4
    if (target >= maxK) 1.0
    else (math.sin(target * 2.0 * math.Pi / compression) + 1.0) / 2.0
  }

  /** Quantile estimate by linear interpolation between centroid midpoints;
    * q=0 / q=1 return exact min / max.
    */
  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q")
    compress()
    if (_count == 0) return Double.NaN
    if (q == 0.0 || _count == 1) return _min
    if (q == 1.0) return _max
    if (nCentroids == 1) return means(0)
    val target = q * _count
    var cum = 0.0
    var i = 0
    while (i < nCentroids) {
      val w = weights(i).toDouble
      if (cum + w >= target) {
        // interpolate within centroid i between its boundaries
        val prevMean = if (i == 0) _min else (means(i - 1) + means(i)) / 2.0
        val nextMean = if (i == nCentroids - 1) _max else (means(i) + means(i + 1)) / 2.0
        val frac = (target - cum) / w
        return prevMean + (nextMean - prevMean) * frac
      }
      cum += w
      i += 1
    }
    _max
  }

  def merge(other: TDigest): Unit = {
    require(other.compression == compression,
      s"incompatible t-digests: $compression vs ${other.compression}")
    other.compress()
    var i = 0
    while (i < other.nCentroids) {
      bufMeans += other.means(i)
      bufWeights += other.weights(i)
      i += 1
    }
    _count += other._count
    if (other._min < _min) _min = other._min
    if (other._max > _max) _max = other._max
    if (bufMeans.length >= bufferLimit) compress()
  }

  def centroidCount: Int = { compress(); nCentroids }

  def serialize(): Array[Byte] = {
    compress()
    val bb = allocate(HeaderLen + nCentroids * 16)
    bb.putDouble(compression)
    bb.putLong(_count)
    bb.putDouble(_min)
    bb.putDouble(_max)
    bb.putInt(nCentroids)
    var i = 0
    while (i < nCentroids) { bb.putDouble(means(i)); bb.putLong(weights(i)); i += 1 }
    bb.array()
  }

  override def equals(obj: Any): Boolean = obj match {
    case t: TDigest => java.util.Arrays.equals(serialize(), t.serialize())
    case _ => false
  }
  override def hashCode(): Int = java.util.Arrays.hashCode(serialize())
}

object TDigest extends SketchCodec[TDigest] {
  final val name = "tdigest"
  final val Magic: Short = 0x5bd1.toShort
  final val Version = 1
  final val HeaderLen = 2 + 1 + 8 + 8 + 8 + 8 + 4

  def apply(compression: Double = 100.0): TDigest = new TDigest(compression)

  protected def read(bb: ByteBuffer, bytes: Array[Byte]): TDigest = {
    val compression = bb.getDouble()
    require(compression >= 20 && compression <= 10000, s"invalid compression $compression")
    val count = bb.getLong()
    val mn = bb.getDouble()
    val mx = bb.getDouble()
    val n = bb.getInt()
    require(n >= 0 && bytes.length == HeaderLen + n * 16, "bad tdigest payload length")
    val means = new Array[Double](n)
    val weights = new Array[Long](n)
    var i = 0
    while (i < n) { means(i) = bb.getDouble(); weights(i) = bb.getLong(); i += 1 }
    require(weights.forall(_ >= 0), "negative centroid weight")
    new TDigest(compression, means, weights, n,
      new ArrayBuffer[Double], new ArrayBuffer[Long], count, mn, mx)
  }
}
