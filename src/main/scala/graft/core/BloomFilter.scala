package graft.core

import java.nio.ByteBuffer

/** Mergeable Bloom filter over 64-bit item hashes. Classic double hashing
  * (Kirsch-Mitzenmacher): k probe positions derived from two halves of the
  * wyhash value, so inserting cost is one hash regardless of k. Merge = bitwise
  * OR (requires identical geometry). No false negatives; false-positive rate
  * ~(1 - e^{-kn/m})^k.
  */
final class BloomFilter private (val numBits: Long, val numHashes: Int,
    private val words: Array[Long]) extends MergeableSketch[BloomFilter] with Serializable {
  import BloomFilter._

  def this(numBits: Long, numHashes: Int) =
    this(BloomFilter.roundBits(numBits), numHashes,
      new Array[Long]((BloomFilter.roundBits(numBits) >>> 6).toInt))

  require(numBits >= 64 && numBits <= MaxBits, s"numBits out of range: $numBits")
  require(numHashes >= 1 && numHashes <= 32, s"numHashes out of range: $numHashes")

  @inline private def setBit(idx: Long): Unit = {
    words((idx >>> 6).toInt) |= (1L << (idx & 63))
  }

  @inline private def getBit(idx: Long): Boolean =
    (words((idx >>> 6).toInt) & (1L << (idx & 63))) != 0L

  /** Insert a pre-hashed item. */
  def putHash(hash: Long): Unit = {
    val h1 = hash
    val h2 = (hash >>> 32) | (hash << 32)
    var i = 0
    while (i < numHashes) {
      // force non-negative before modulo
      val combined = (h1 + i * h2) & Long.MaxValue
      setBit(combined % numBits)
      i += 1
    }
  }

  /** Membership test of a pre-hashed item: false means definitely absent. */
  def mightContainHash(hash: Long): Boolean = {
    val h1 = hash
    val h2 = (hash >>> 32) | (hash << 32)
    var i = 0
    while (i < numHashes) {
      val combined = (h1 + i * h2) & Long.MaxValue
      if (!getBit(combined % numBits)) return false
      i += 1
    }
    true
  }

  def merge(other: BloomFilter): Unit = {
    require(other.numBits == numBits && other.numHashes == numHashes,
      s"incompatible bloom filters: ($numBits,$numHashes) vs (${other.numBits},${other.numHashes})")
    var i = 0
    while (i < words.length) { words(i) |= other.words(i); i += 1 }
  }

  def sizeInBytes: Int = 8 + words.length * 8

  def serialize(): Array[Byte] = {
    val bb = allocate(HeaderLen + words.length * 8)
    bb.put(numHashes.toByte)
    bb.putLong(numBits)
    words.foreach(bb.putLong)
    bb.array()
  }

  override def equals(obj: Any): Boolean = obj match {
    case b: BloomFilter =>
      b.numBits == numBits && b.numHashes == numHashes &&
        java.util.Arrays.equals(b.words, words)
    case _ => false
  }
  override def hashCode(): Int = java.util.Arrays.hashCode(words)
}

object BloomFilter extends SketchCodec[BloomFilter] {
  final val name = "bloom"
  final val Magic: Short = 0x5bb1.toShort
  final val Version = 1
  final val HeaderLen = 12
  final val MaxBits: Long = 1L << 36 // 8 GiB of bits — plenty for one partition

  private[core] def roundBits(n: Long): Long = {
    val clamped = math.max(64L, math.min(n, MaxBits))
    (clamped + 63) & ~63L
  }

  /** Geometry for a target item count and false-positive rate:
    * m = -n ln(p) / (ln 2)^2, k = (m/n) ln 2.
    */
  def forExpected(expectedItems: Long, fpp: Double): BloomFilter = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1, s"bad bloom params: $expectedItems, $fpp")
    val ln2 = math.log(2.0)
    val m = math.ceil(-expectedItems * math.log(fpp) / (ln2 * ln2)).toLong
    val k = math.max(1, math.round(m.toDouble / expectedItems * ln2).toInt)
    new BloomFilter(m, math.min(32, k))
  }

  protected def read(bb: ByteBuffer, bytes: Array[Byte]): BloomFilter = {
    val k = bb.get() & 0xff
    val numBits = bb.getLong()
    require(numBits >= 64 && numBits <= MaxBits && (numBits & 63) == 0,
      s"invalid bloom bit count $numBits")
    require(k >= 1 && k <= 32, s"invalid bloom hash count $k")
    val nWords = (numBits >>> 6).toInt
    require(bytes.length == HeaderLen + nWords * 8, "bad bloom payload length")
    val words = new Array[Long](nWords)
    var i = 0
    while (i < nWords) { words(i) = bb.getLong(); i += 1 }
    new BloomFilter(numBits, k, words)
  }
}
