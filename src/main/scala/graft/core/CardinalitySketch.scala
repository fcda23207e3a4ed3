package graft.core

import java.nio.ByteBuffer

/** Adaptive three-mode cardinality sketch: exact small-set (0..2), packed exact
  * array (3..128), HyperLogLog with W-bit registers and LogLog-Beta bias
  * correction (129..). Re-expresses the semantics of the reference crate
  * cloudflare/cardinality-estimator (src/lib.rs:42-50; small.rs / array.rs /
  * hyperloglog.rs) in a JVM-idiomatic layout: the reference's tagged-pointer
  * `usize` word (src/representation.rs:11-15) is replaced by a mode byte, two
  * Int fields for the small slots, and one Int array for Array/HLL storage.
  *
  * Invariants mirrored from the reference:
  *   - 31-bit "sparse" hash encoding `(idx << W) | rank` with idx = low
  *     (32-W-1) bits and rank = trailing-zero run of `!hash >> P` plus one
  *     (src/estimator.rs:116-120); Small/Array dedup on this space while HLL
  *     decodes only the low P idx bits (src/hyperloglog.rs:57-61) so upgrades
  *     replay losslessly.
  *   - HLL wire slice [zeros, harmonicSumAsF32Bits, regWords.. + 1 spare]
  *     (src/hyperloglog.rs:31-35). Unlike the reference, which caches both
  *     words with an f32 running sum in register-update order (:107-115),
  *     the registers are the only state: a rank histogram derives the zero
  *     count and the sum, so equal registers give equal bytes and estimates
  *     whatever the insert or merge order.
  *   - LogLog-Beta estimator with the verbatim per-precision polynomial table
  *     including the upstream p=11 `-7.81372902346934e03` coefficient
  *     (src/hyperloglog.rs:224-401) and alpha constants (:211-218).
  *   - Merge matrix: replay Small/Array rhs; promote into a clone of an HLL
  *     rhs; register-wise max for HLL+HLL (src/estimator.rs:59-94). Merge is
  *     commutative and associative, which is exactly Spark's partial->final
  *     aggregation contract.
  *
  * Not thread-safe; one instance per aggregation buffer.
  *
  * @param p precision (number of HLL index bits), 4..18
  * @param w register width in bits, 4..6
  */
final class CardinalitySketch(val p: Int, val w: Int)
  extends MergeableSketch[CardinalitySketch] with Serializable {
  import CardinalitySketch._

  require(p >= MinP && p <= MaxP, s"precision must be in [$MinP..$MaxP], got $p")
  require(w >= MinW && w <= MaxW, s"register width must be in [$MinW..$MaxW], got $w")

  // mode: 0 = Small, 1 = Array, 2 = HLL
  private var mode: Int = ModeSmall
  // Small: two 31-bit encoded hashes (0 = empty slot; encoded hashes are never 0
  // because rank >= 1).
  private var s1: Int = 0
  private var s2: Int = 0
  // Array mode: first `len` entries of `buf` hold encoded hashes, capacity is
  // buf.length (4,8,16,32,64,128). HLL mode: `buf` holds the packed registers
  // + 1 spare word for unconditional two-word access, and counts(r) is the
  // number of registers at rank r.
  private var buf: Array[Int] = null
  private var len: Int = 0
  private var counts: Array[Int] = null

  @inline private def m: Int = 1 << p

  /** Insert a pre-hashed 64-bit item (the reference's `insert_hash`,
    * src/estimator.rs:104-106).
    */
  def insertHash(hash: Long): Unit = insertEncoded(encodeHash(hash, p, w))

  /** Convenience inserts mirroring the reference's `insert(&item)` contract
    * (README.md:22-30): hash the item canonically, then insert. Longs feed
    * their 8 LE bytes (bit-exact with the reference's integer hashing);
    * strings feed UTF-8 bytes.
    */
  def insert(item: Long): Unit = insertHash(WyHash.hashLong(item))
  def insert(item: String): Unit = {
    val b = item.getBytes("UTF-8")
    insertHash(WyHash.hash(b, 0, b.length, 0L))
  }
  def insert(item: Array[Byte]): Unit = insertHash(WyHash.hash(item, 0, item.length, 0L))

  /** Insert a 31-bit encoded hash (dispatch per current representation,
    * src/estimator.rs:110-112).
    */
  def insertEncoded(h: Int): Unit = (mode: @annotation.switch) match {
    case ModeSmall =>
      // src/small.rs:25-43 — dedup both slots, fill first empty
      if (s1 == 0) s1 = h
      else if (s1 != h) {
        if (s2 == 0) s2 = h
        else if (s2 != h) {
          // upgrade Small -> Array [h1, h2, h, 0] len=3 (src/small.rs:66-75)
          buf = new Array[Int](4)
          buf(0) = s1; buf(1) = s2; buf(2) = h
          len = 3
          s1 = 0; s2 = 0
          mode = ModeArray
        }
      }
    case ModeArray =>
      if (!arrayInsert(h)) {
        // upgrade Array -> HLL, replay items, then insert (src/array.rs:93-102)
        upgradeToHll()
        hllInsertEncoded(h)
      }
    case _ =>
      hllInsertEncoded(h)
  }

  /** Linear membership scan + append + doubling growth to 128
    * (src/array.rs:41-76). The reference's chunked SIMD scan (:162-184) is a
    * perf hint, not semantics; the JIT auto-vectorizes this loop.
    */
  private def arrayInsert(h: Int): Boolean = {
    val n = len
    val a = buf
    var i = 0
    while (i < n) {
      if (a(i) == h) return true
      i += 1
    }
    if (n < a.length) {
      a(n) = h
      len = n + 1
      true
    } else if (a.length < MaxArrayCapacity) {
      buf = java.util.Arrays.copyOf(a, a.length * 2)
      buf(n) = h
      len = n + 1
      true
    } else false
  }

  /** Allocate the HLL slice and replay current array items
    * (src/hyperloglog.rs:39-53).
    */
  private def upgradeToHll(): Unit = {
    val items = buf
    val n = len
    buf = new Array[Int](hllSliceLen(p, w) - 2)
    counts = new Array[Int](1 << w)
    counts(0) = m
    mode = ModeHll
    len = 0
    var i = 0
    while (i < n) { hllInsertEncoded(items(i)); i += 1 }
  }

  @inline private def hllInsertEncoded(h: Int): Unit = {
    // decode_hash (src/hyperloglog.rs:57-61): HLL keeps only low P idx bits
    val rank = h & ((1 << w) - 1)
    val idx = (h >>> w) & (m - 1)
    val old = getRegister(idx)
    if (rank > old) setRegister(idx, old, rank)
  }

  /** Branchless straddled W-bit register read across two adjacent words
    * (src/hyperloglog.rs:73-86); the spare word makes the two-word access
    * unconditionally in-bounds.
    */
  @inline private def getRegister(idx: Int): Int = {
    val bitIdx = idx * w
    val wi = bitIdx >>> 5
    val bp = bitIdx & 31
    val b1 = if (w < 32 - bp) w else 32 - bp
    val m1 = (1 << b1) - 1
    val m2 = (1 << (w - b1)) - 1
    ((buf(wi) >>> bp) & m1) | ((buf(wi + 1) & m2) << b1)
  }

  /** Straddled register write (src/hyperloglog.rs:90-105) that moves one
    * register from `oldRank` to `newRank` in the rank histogram.
    */
  @inline private def setRegister(idx: Int, oldRank: Int, newRank: Int): Unit = {
    val bitIdx = idx * w
    val wi = bitIdx >>> 5
    val bp = bitIdx & 31
    val b1 = if (w < 32 - bp) w else 32 - bp
    val m1 = (1 << b1) - 1
    val m2 = (1 << (w - b1)) - 1
    buf(wi) = (buf(wi) & ~(m1 << bp)) | ((newRank & m1) << bp)
    buf(wi + 1) = (buf(wi + 1) & ~m2) | ((newRank >>> b1) & m2)
    counts(oldRank) -= 1
    counts(newRank) += 1
  }

  /** Rebuilds the rank histogram from the registers, read as one
    * little-endian bit stream: each 32-bit word joins a 64-bit window, and
    * every whole register in the window is counted before the next word.
    */
  private def countRanks(): Unit = {
    counts = new Array[Int](1 << w)
    val mask = (1L << w) - 1
    var window = 0L
    var bits = 0
    var wi = 0
    var idx = 0
    while (idx < m) {
      window |= (buf(wi) & 0xFFFFFFFFL) << bits
      bits += 32
      wi += 1
      while (bits >= w && idx < m) {
        counts((window & mask).toInt) += 1
        window >>>= w
        bits -= w
        idx += 1
      }
    }
  }

  /** A copy of the rank histogram (HLL mode only): `counts(r)` registers
    * hold rank r.
    */
  private[core] def rankHistogram: Array[Int] = counts.clone()

  /** Harmonic sum Σ counts(r)·2^-r, added in double from the highest rank
    * down and rounded to f32: equal to the reference's f32 running sum
    * wherever that sum never rounded, and a function of the registers alone.
    */
  private def harmonicSum: Float = {
    var sum = 0.0
    var r = counts.length - 1
    while (r >= 0) { sum += java.lang.Math.scalb(counts(r).toDouble, -r); r -= 1 }
    sum.toFloat
  }

  /** Cardinality estimate: exact in Small/Array, LogLog-Beta in HLL
    * (src/small.rs:79-85, array.rs:106-108, hyperloglog.rs:142-149).
    */
  def estimate: Long = (mode: @annotation.switch) match {
    case ModeSmall => (if (s1 != 0) 1L else 0L) + (if (s2 != 0) 1L else 0L)
    case ModeArray => len.toLong
    case _ =>
      val zeros = counts(0)
      val est = alpha(m) * (m.toDouble * (m - zeros)) / (harmonicSum + betaHorner(zeros, p))
      (est + 0.5).toLong
  }

  /** Union with another sketch — the distributed-aggregation primitive
    * (src/estimator.rs:59-94). Requires identical (p, w).
    */
  def merge(rhs: CardinalitySketch): Unit = {
    require(rhs.p == p && rhs.w == w,
      s"cannot merge sketches with different parameters: ($p,$w) vs (${rhs.p},${rhs.w})")
    (rhs.mode: @annotation.switch) match {
      case ModeSmall =>
        if (rhs.s1 != 0) insertEncoded(rhs.s1)
        if (rhs.s2 != 0) insertEncoded(rhs.s2)
      case ModeArray =>
        var i = 0
        while (i < rhs.len) { insertEncoded(rhs.buf(i)); i += 1 }
      case _ =>
        if (mode == ModeHll) {
          // register-wise max (src/hyperloglog.rs:120-128)
          var idx = 0
          while (idx < m) {
            val rr = rhs.getRegister(idx)
            val mine = getRegister(idx)
            if (rr > mine) setRegister(idx, mine, rr)
            idx += 1
          }
        } else {
          // clone rhs HLL, replay our items into it, adopt (src/estimator.rs:73-89)
          val mine = if (mode == ModeSmall) Array(s1, s2) else java.util.Arrays.copyOf(buf, len)
          buf = rhs.buf.clone()
          counts = rhs.counts.clone()
          mode = ModeHll
          s1 = 0; s2 = 0; len = 0
          var i = 0
          while (i < mine.length) { if (mine(i) != 0) hllInsertEncoded(mine(i)); i += 1 }
        }
    }
  }

  /** Memory footprint mirroring the reference ladder: 8 B word + heap slice
    * (src/estimator.rs:122-125; golden sizes src/estimator.rs:212-228).
    */
  def sizeInBytes: Int = (mode: @annotation.switch) match {
    case ModeSmall => 8
    case ModeArray => 8 + 4 * buf.length
    case _ => 8 + 4 * hllSliceLen(p, w)
  }

  /** Wire format (replaces the reference serde tuple, src/serde.rs:34-61):
    * [magic u16 LE | version u8 | p u8 | w u8 | mode u8 | payload LE].
    * Small -> s1,s2; Array -> len u8 + len u32s (used prefix only);
    * HLL -> full slice (zeros, sumBits, regWords incl. spare), the first two
    * words derived from the registers.
    */
  def serialize(): Array[Byte] = {
    val payloadLen = (mode: @annotation.switch) match {
      case ModeSmall => 8
      case ModeArray => 1 + 4 * len
      case _ => 4 * hllSliceLen(p, w)
    }
    val bb = allocate(HeaderLen + payloadLen)
    bb.put(p.toByte)
    bb.put(w.toByte)
    bb.put(mode.toByte)
    (mode: @annotation.switch) match {
      case ModeSmall =>
        bb.putInt(s1); bb.putInt(s2)
      case ModeArray =>
        bb.put(len.toByte)
        var i = 0
        while (i < len) { bb.putInt(buf(i)); i += 1 }
      case _ =>
        bb.putInt(counts(0))
        bb.putInt(java.lang.Float.floatToRawIntBits(harmonicSum))
        var i = 0
        while (i < buf.length) { bb.putInt(buf(i)); i += 1 }
    }
    bb.array()
  }

  /** Representation name, mirroring the reference Debug output. */
  private def modeName: String = (mode: @annotation.switch) match {
    case ModeSmall => "Small"
    case ModeArray => "Array"
    case _ => "Hll"
  }

  /** Matches the reference's estimator Debug format, e.g.
    * "Hll(estimate: 10068, size: 3092)" (src/representation.rs:35-37 via
    * src/estimator.rs:174-182 golden tests).
    */
  override def toString: String = s"$modeName(estimate: $estimate, size: $sizeInBytes)"

  override def equals(obj: Any): Boolean = obj match {
    case other: CardinalitySketch =>
      java.util.Arrays.equals(serialize(), other.serialize())
    case _ => false
  }

  override def hashCode(): Int = java.util.Arrays.hashCode(serialize())
}

object CardinalitySketch extends SketchCodec[CardinalitySketch] {
  final val name = "sketch"
  final val MinP = 4
  final val MaxP = 18
  final val MinW = 4
  final val MaxW = 6
  /** The default geometry, the reference's `CardinalityEstimator<.., P = 12, W = 6>`. */
  final val DefaultP = 12
  final val DefaultW = 6
  final val MaxArrayCapacity = 128
  final val Magic: Short = 0x5bce.toShort
  final val Version = 1
  final val HeaderLen = 6
  final val ModeSmall = 0
  final val ModeArray = 1
  final val ModeHll = 2

  def apply(p: Int = DefaultP, w: Int = DefaultW): CardinalitySketch = new CardinalitySketch(p, w)

  /** HLL u32-slice length on the wire: zeros + sum + registers + 1 spare
    * word; in memory only the last two parts (src/hyperloglog.rs:31-35). Uses ceiling division where the reference
    * truncates: for the single misaligned config (p=4, w=5; 80 register bits)
    * the reference's `M*W/32 + 3` under-allocates and its unconditional
    * two-word register access reads past the slice (undefined behavior in the
    * reference itself). All golden-tested configs (w-aligned) are unaffected
    * and keep identical sizes.
    */
  def hllSliceLen(p: Int, w: Int): Int = (((1 << p) * w + 31) >> 5) + 3

  /** Sparse 31-bit encoding of a 64-bit hash (src/estimator.rs:116-120):
    * keeps 32-W-1 idx bits (more than HLL's P) so Small/Array dedup in a
    * 31-bit space and downgrade to HLL registers losslessly. Rank counts the
    * low run of ones in `hash >> P` — replicated exactly, including the
    * theoretical rank-65 overflow-into-idx case the reference tolerates.
    */
  def encodeHash(hash: Long, p: Int, w: Int): Int = {
    val idx = hash.toInt & ((1 << (32 - w - 1)) - 1)
    val rank = java.lang.Long.numberOfTrailingZeros((~hash) >>> p) + 1
    (idx << w) | rank
  }

  /** HLL alpha bias constant (src/hyperloglog.rs:211-218). */
  def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _ => 0.7213 / (1.0 + 1.079 / m.toDouble)
  }

  /** LogLog-Beta correction via Horner's method (src/hyperloglog.rs:224-232).
    * Note the last term is beta(0)*z (not *ln(z+1)).
    */
  def betaHorner(z: Double, precision: Int): Double = {
    val beta = BETA(precision - 4)
    val zl = math.log(z + 1.0)
    var res = 0.0
    var i = 7
    while (i >= 1) {
      res = res * zl + beta(i)
      i -= 1
    }
    res * zl + beta(0) * z
  }

  protected def read(bb: ByteBuffer, bytes: Array[Byte]): CardinalitySketch = {
    val p = bb.get() & 0xff
    val w = bb.get() & 0xff
    val mode = bb.get() & 0xff
    val sk = new CardinalitySketch(p, w) // validates p/w ranges
    mode match {
      case ModeSmall =>
        require(bytes.length == HeaderLen + 8, "bad small payload length")
        sk.s1 = bb.getInt()
        sk.s2 = bb.getInt()
      case ModeArray =>
        // mirror Representation::try_from: len in (2, 128] (src/representation.rs:84-91)
        require(bytes.length >= HeaderLen + 1, "missing array length")
        val n = bb.get() & 0xff
        require(n > 2 && n <= MaxArrayCapacity, s"invalid array sketch length $n")
        require(bytes.length == HeaderLen + 1 + 4 * n, "bad array payload length")
        val cap = java.lang.Integer.highestOneBit(n - 1) * 2 // next power of two >= n (n >= 3)
        sk.buf = new Array[Int](math.max(cap, 4))
        var i = 0
        while (i < n) { sk.buf(i) = bb.getInt(); i += 1 }
        sk.len = n
        sk.mode = ModeArray
      case ModeHll =>
        val sliceLen = hllSliceLen(p, w)
        require(bytes.length == HeaderLen + 4 * sliceLen, "bad hll payload length")
        bb.getLong() // skip the stored zero count and sum: the registers derive them
        sk.buf = new Array[Int](sliceLen - 2)
        var i = 0
        while (i < sk.buf.length) { sk.buf(i) = bb.getInt(); i += 1 }
        sk.countRanks()
        sk.mode = ModeHll
      case other =>
        throw new IllegalArgumentException(s"invalid sketch mode $other")
    }
    sk
  }

  /** Estimate directly from serialized form. */
  def estimateBytes(bytes: Array[Byte]): Long = deserialize(bytes).estimate

  /** LogLog-Beta polynomial coefficients for p in [4..18], copied verbatim
    * from the reference (src/hyperloglog.rs:235-401) — published constants
    * from the LogLog-Beta paper (arXiv:1612.02284). Includes the upstream
    * p=11 `-7.81372902346934e03` coefficient (src/hyperloglog.rs:321),
    * reproduced exactly for estimate parity.
    */
  val BETA: Array[Array[Double]] = Array(
    // p = 4
    Array(-0.582581413904517, -1.93530035756005, 11.079323758035073,
      -22.131357446444323, 22.505391846630037, -12.000723834917984,
      3.220579408194167, -0.342225302271235),
    // p = 5
    Array(-0.7518999460733967, -0.959003007774876, 5.59973713221416,
      -8.209763699976552, 6.509125489447204, -2.683029373432373,
      0.5612891113138221, -0.0463331622196545),
    // p = 6
    Array(29.825790096961963, -31.328708333772592, -10.594252303658228,
      -11.572012568909962, 3.818875437390749, -2.416013032853081,
      0.4542208940970826, -0.0575155452020420),
    // p = 7
    Array(2.810292129082006, -3.9780498518175995, 1.3162680041351582,
      -3.92524863358059, 2.008083575394647, -0.7527151937556955,
      0.1265569894242751, -0.0109946438726240),
    // p = 8
    Array(1.0063354488755052, -2.005806664051124, 1.6436974936651412,
      -2.7056080994056617, 1.392099802442226, -0.4647037427218319,
      0.07384282377269775, -0.00578554885254223),
    // p = 9
    Array(-0.09415657458167959, -0.7813097592455053, 1.7151494675071246,
      -1.7371125040651634, 0.8644150848904892, -0.23819027465047218,
      0.03343448400269076, -0.00207858528178157),
    // p = 10
    Array(-0.25935400670790054, -0.5259830199980581, 1.4893303492587684,
      -1.2964271408499357, 0.6228475621722162, -0.1567232677025104,
      0.02054415903878563, -0.00112488483925502),
    // p = 11
    Array(-4.32325553856025e-01, -1.08450736399632e-01, 6.09156550741120e-01,
      -1.65687801845180e-02, -7.95829341087617e-02, 4.71830602102918e-02,
      -7.81372902346934e03, 5.84268708489995e-04),
    // p = 12
    Array(-3.84979202588598e-01, 1.83162233114364e-01, 1.30396688841854e-01,
      7.04838927629266e-02, -8.95893971464453e-03, 1.13010036741605e-02,
      -1.94285569591290e-03, 2.25435774024964e-04),
    // p = 13
    Array(-0.41655270946462997, -0.22146677040685156, 0.38862131236999947,
      0.4534097974606237, -0.36264738324476375, 0.12304650053558529,
      -0.0170154038455551, 0.00102750367080838),
    // p = 14
    Array(-3.71009760230692e-01, 9.78811941207509e-03, 1.85796293324165e-01,
      2.03015527328432e-01, -1.16710521803686e-01, 4.31106699492820e-02,
      -5.99583540511831e-03, 4.49704299509437e-04),
    // p = 15
    Array(-0.38215145543875273, -0.8906940053609084, 0.3760233577467887,
      0.9933597744068238, -0.6557744163831896, 0.1833234212970361,
      -0.02241529633062872, 0.00121399789330194),
    // p = 16
    Array(-0.3733187664375306, -1.41704077448123, 0.40729184796612533,
      1.5615203390658416, -0.9924223353428613, 0.2606468139948309,
      -0.03053811369682807, 0.00155770210179105),
    // p = 17
    Array(-0.36775502299404605, 0.5383142235137797, 0.7697028927876792,
      0.5500258358645056, -0.7457558826114694, 0.2571183578582195,
      -0.03437902606864149, 0.00185949146371616),
    // p = 18
    Array(-0.3647962332596054, 0.9973041232863503, 1.5535438623008122,
      1.2593267719802892, -1.5332594820911016, 0.4780104220005659,
      -0.05951025172951174, 0.00291076804642205)
  )
}
