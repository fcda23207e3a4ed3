package graft.core

import java.lang.invoke.MethodHandles
import java.nio.ByteOrder

/** WyHash v1-style 64-bit hash (reference: cardinality-estimator Cargo.toml:17
  * pins `wyhash = "0.5.0"`, used via `BuildHasherDefault<WyHash>` at
  * src/estimator.rs:12,20,47 and as the canonical one-shot form `wyhash(data, 0)`
  * at fuzz/fuzz_targets/estimator.rs:12).
  *
  * Fidelity status (established offline, zero-egress sandbox):
  *   - The 8-byte-input path (`hashLong`) plus the overall
  *     `seed^P0 -> tail-mum -> mum(seed, len^P5)` structure are verified
  *     BIT-FOR-BIT against the reference: reproducing them is the only way the
  *     reference's golden HLL estimates transfer, and all 8 golden values across
  *     p10w5 / p12w6 / p18w6 (src/estimator.rs:202-249, e.g. n=10000 -> 10068 at
  *     p12w6) reproduce exactly with this implementation (see
  *     CardinalitySketchSpec golden suites).
  *   - Tails for lengths other than 4..8 and the 32-byte block loop follow the
  *     same published wyhash-v1 shape; they are statistically strong and
  *     deterministic, which is all the reference's own tests observe for
  *     non-integer keys. External multi-length 0.5.0 vectors are not
  *     capturable in this zero-egress sandbox; the tails are instead FROZEN
  *     as this library's wire contract by the self-derived vectors in
  *     WyHashVectorsSpec (which also proves the generic byte path reproduces
  *     the golden-verified closed form on every 8-byte input, and that the
  *     structurally-forced len=0 value mum(P0, P5) holds).
  *
  * String/binary wire contract (resolves SURVEY §7.3's open question): keys
  * hash as their PLAIN UTF-8 bytes via `wyhash(bytes, 0)` — the canonical
  * one-shot form the reference's fuzz harness uses
  * (fuzz/fuzz_targets/estimator.rs:12). Rust's `Hash for str` 0xFF suffix
  * framing is deliberately NOT replicated: it is an artifact of Rust's
  * prefix-freedom rule for composite keys, not of the algorithm, and the
  * reference publishes no string-keyed golden values that would transfer
  * either way. Sketches exchanged cross-language must hash string keys as
  * plain UTF-8 to interoperate.
  *
  * All reads are little-endian, matching the reference on x86_64.
  */
object WyHash {
  final val P0 = 0xa0761d6478bd642fL
  final val P1 = 0xe7037ed1a0b428dbL
  final val P2 = 0x8ebc6af09c88c6e3L
  final val P3 = 0x589965cc75374cc3L
  final val P4 = 0x1d8e4e27c47d124fL
  final val P5 = 0xeb44accab455d165L

  /** 64x64 -> 128-bit multiply, fold hi^lo (the `_wymum` primitive). */
  @inline def mum(a: Long, b: Long): Long = {
    // unsigned multiply-high on JDK 17 (Math.unsignedMultiplyHigh is JDK 18+)
    val hi = Math.multiplyHigh(a, b) + ((a >> 63) & b) + ((b >> 63) & a)
    hi ^ (a * b)
  }

  /** Hash of one 64-bit value fed as its 8 little-endian bytes with seed 0 —
    * exactly what the reference computes for an inserted `usize`/`u64`
    * (Rust `Hasher::write_usize` -> 8 LE bytes on x86_64 -> wyhash(bytes, 0)).
    * For len=8 the v1 tail reads two overlapping u32 words (lo32<<32)|hi32,
    * i.e. a 32-bit rotation of the value. Closed form, zero allocation.
    */
  @inline def hashLong(x: Long): Long = {
    val v = (x << 32) | (x >>> 32)
    mum(mum(P0, v ^ P1), 8L ^ P5)
  }

  // little-endian word views of a byte array: bounds-checked, any alignment,
  // and the `: Long` / `: Int` ascriptions make scalac emit the exact
  // `([BI)J` / `([BI)I` access descriptors, so nothing boxes
  private val LE64 =
    MethodHandles.byteArrayViewVarHandle(classOf[Array[Long]], ByteOrder.LITTLE_ENDIAN)
  private val LE32 =
    MethodHandles.byteArrayViewVarHandle(classOf[Array[Int]], ByteOrder.LITTLE_ENDIAN)

  @inline private def r8(b: Array[Byte], i: Int): Long = (LE64.get(b, i): Long)

  @inline private def r4(b: Array[Byte], i: Int): Long = (LE32.get(b, i): Int) & 0xffffffffL

  @inline private def r3(b: Array[Byte], i: Int, k: Int): Long =
    ((b(i) & 0xffL) << 16) | ((b(i + (k >> 1)) & 0xffL) << 8) | (b(i + k - 1) & 0xffL)

  /** One-shot hash of a byte range. */
  def hash(bytes: Array[Byte], offset: Int, length: Int, seed: Long): Long = {
    var s = seed
    var o = offset
    var i = length
    while (i >= 32) {
      s = mum(
        s ^ P0,
        mum(r8(bytes, o) ^ P1, r8(bytes, o + 8) ^ P2) ^
          mum(r8(bytes, o + 16) ^ P3, r8(bytes, o + 24) ^ P4))
      o += 32
      i -= 32
    }
    s ^= P0
    if (i == 0) ()
    else if (i < 4) s = mum(s, r3(bytes, o, i) ^ P1)
    else if (i <= 8) s = mum(s, ((r4(bytes, o) << 32) | r4(bytes, o + i - 4)) ^ P1)
    else if (i <= 16) s = mum(mum(s, r8(bytes, o) ^ P1), r8(bytes, o + i - 8) ^ P2)
    else if (i <= 24)
      s = mum(mum(mum(s, r8(bytes, o) ^ P1), r8(bytes, o + 8) ^ P2), r8(bytes, o + i - 8) ^ P3)
    else
      s = mum(
        mum(mum(mum(s, r8(bytes, o) ^ P1), r8(bytes, o + 8) ^ P2), r8(bytes, o + 16) ^ P3),
        r8(bytes, o + i - 8) ^ P4)
    mum(s, length.toLong ^ P5)
  }

  def hash(bytes: Array[Byte]): Long = hash(bytes, 0, bytes.length, 0L)
}
