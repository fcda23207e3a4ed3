package graft.sql

import graft.core.WyHash

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable,
  UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Shared text-shingling used by the dedup expressions: lowercase, split on
  * non-alphanumerics, build word k-grams, hash each with wyhash. One pass, no
  * intermediate explode/shuffle — the scalable shape for per-document
  * fingerprints.
  *
  * Words are defined by the regex path: the text's `toLowerCase()` (default
  * locale) split on `[^\p{L}\p{N}]+`, each word's UTF-8 bytes wyhashed. The
  * ASCII fast path computes exactly that without a String, a regex or a
  * per-word array: one scan of the UTF-8 bytes lowercases `A-Z`, splits on
  * every byte outside `[A-Za-z0-9]` and hashes each word where it lies. It
  * matches the regex path whenever both of these hold, and the regex path
  * runs otherwise:
  *  - every byte of the text is ASCII (in ASCII, `\p{L}` is `[A-Za-z]` and
  *    `\p{N}` is `[0-9]`);
  *  - the default locale lowercases `A-Z` as `Locale.ROOT` does (not so for
  *    tr and az, where `I` lowercases to a dotless `ı`).
  */
private[graft] object Shingling {

  // compiled once: String.split would recompile the pattern on every row
  private val WordBoundary = java.util.regex.Pattern.compile("[^\\p{L}\\p{N}]+")

  /** ASCII byte -> its lowercase form, or 0 for a word separator. */
  private val AsciiWordByte: Array[Byte] = Array.tabulate[Byte](128) { c =>
    if (c >= 'A' && c <= 'Z') (c + 32).toByte
    else if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) c.toByte
    else 0
  }

  /** Whether a locale lowercases `A-Z` to `a-z`, remembered for the last
    * default locale seen (one volatile read per text).
    */
  private final class LocaleCheck(val locale: java.util.Locale, val lowersAscii: Boolean)
  @volatile private var localeCheck = new LocaleCheck(null, false)

  private def defaultLocaleLowersAscii(): Boolean = {
    val locale = java.util.Locale.getDefault
    val known = localeCheck
    if (known.locale eq locale) known.lowersAscii
    else {
      val ok = "ABCDEFGHIJKLMNOPQRSTUVWXYZ".toLowerCase(locale) == "abcdefghijklmnopqrstuvwxyz"
      localeCheck = new LocaleCheck(locale, ok)
      ok
    }
  }

  /** 64-bit hash of each word k-gram of the (lowercased) text.
    *
    * Each word is wyhashed ONCE; a shingle's hash is a position-sensitive
    * mum-mix of its k word hashes (the same combiner as the LSH band key).
    * The earlier formulation re-built the joined shingle string and re-hashed
    * its full byte run for every window position — O(k) more byte traffic
    * plus two allocations per shingle. Downstream semantics only need the
    * hash to be deterministic and injective-in-practice (set sizes for exact
    * Jaccard, permutation minima for MinHash), which the mix preserves.
    */
  def shingleHashes(text: UTF8String, k: Int): Array[Long] = {
    val wh = wordHashes(text)
    if (wh.length < k) {
      if (wh.isEmpty) Array.empty
      else Array(combine(wh, 0, wh.length))
    } else {
      val out = new Array[Long](wh.length - k + 1)
      var i = 0
      while (i + k <= wh.length) {
        out(i) = combine(wh, i, k)
        i += 1
      }
      out
    }
  }

  /** wyhash of every word of the lowercased text: the ASCII fast path when it
    * matches the regex path, the regex path otherwise.
    */
  def wordHashes(text: UTF8String): Array[Long] = {
    val ascii = if (defaultLocaleLowersAscii()) asciiWordHashes(text) else null
    if (ascii != null) ascii else regexWordHashes(text)
  }

  /** The regex path: words of `toLowerCase()` split on non-letters and
    * non-digits, each hashed over its UTF-8 bytes.
    */
  def regexWordHashes(text: UTF8String): Array[Long] = {
    val words = WordBoundary.split(text.toString.toLowerCase).filter(_.nonEmpty)
    val out = new Array[Long](words.length)
    var i = 0
    while (i < words.length) {
      val bytes = words(i).getBytes("UTF-8")
      out(i) = WyHash.hash(bytes, 0, bytes.length, 0L)
      i += 1
    }
    out
  }

  /** The ASCII fast path, or null when the text has a non-ASCII byte. The
    * bytes are copied, so the caller's row is never written.
    */
  def asciiWordHashes(text: UTF8String): Array[Long] = {
    val n = text.numBytes
    val buf = new Array[Byte](n)
    text.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET)
    // a word is at least one byte followed by a separator or the end
    val out = new Array[Long]((n + 1) / 2)
    var words = 0
    var start = 0
    var i = 0
    while (i < n) {
      val b = buf(i)
      if (b < 0) return null
      val w = AsciiWordByte(b)
      if (w == 0) {
        if (i > start) { out(words) = WyHash.hash(buf, start, i - start, 0L); words += 1 }
        start = i + 1
      } else buf(i) = w
      i += 1
    }
    if (n > start) { out(words) = WyHash.hash(buf, start, n - start, 0L); words += 1 }
    if (words == out.length) out else java.util.Arrays.copyOf(out, words)
  }

  @inline private def combine(h: Array[Long], start: Int, len: Int): Long = {
    var acc = WyHash.hashLong(len.toLong)
    var i = start
    while (i < start + len) {
      acc = WyHash.mum(acc ^ h(i), WyHash.P1)
      i += 1
    }
    acc
  }
}

/** Per-row MinHash signature of a text column: `numHashes` permutation minima
  * over the word `shingleSize`-grams, permutations via universal hashing
  * (a_i * h + b_i with odd a_i derived from wyhash of the index — seedless
  * and deterministic). Jaccard similarity of two documents ~= fraction of
  * matching signature slots. Computed per row — embarrassingly parallel, no
  * explode, no shuffle; the LSH banding that follows is plain column algebra.
  *
  * The three text fingerprints (this one, [[SimHash64]], [[ShingleSet]])
  * stay evaluating expressions rather than `StaticInvoke` replacements:
  * FingerprintKernelsSpec evaluates them with `eval`, and BucketPairsSpec
  * finds them by class in optimized plans, where a replaced expression no
  * longer appears.
  */
case class MinHashSignature(child: Expression, numHashes: Int = 128, shingleSize: Int = 5)
  extends UnaryExpression with CodegenFallback {

  @transient private lazy val coefA: Array[Long] =
    Array.tabulate(numHashes)(i => WyHash.hashLong(i.toLong * 2 + 1) | 1L)
  @transient private lazy val coefB: Array[Long] =
    Array.tabulate(numHashes)(i => WyHash.hashLong(-i.toLong - 1))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"minhash expects a string column, got ${child.dataType.catalogString}")
    else if (numHashes < 2 || numHashes > 1024)
      TypeCheckResult.TypeCheckFailure(s"numHashes must be in [2..1024], got $numHashes")
    else if (shingleSize < 1 || shingleSize > 32)
      TypeCheckResult.TypeCheckFailure(s"shingleSize must be in [1..32], got $shingleSize")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val hashes = Shingling.shingleHashes(input.asInstanceOf[UTF8String], shingleSize)
    val a = coefA
    val b = coefB
    val sig = new Array[Long](numHashes)
    // one permutation at a time: its coefficients and running minimum stay
    // in registers while the shingles stream past
    var i = 0
    while (i < numHashes) {
      val ai = a(i)
      val bi = b(i)
      var m = Long.MaxValue
      var s = 0
      while (s < hashes.length) {
        m = math.min(m, ai * hashes(s) + bi)
        s += 1
      }
      sig(i) = m
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
  override def prettyName: String = "minhash_signature"
}

/** 64-bit SimHash of a text column: for every word 1-gram hash, add +1/-1 to
  * 64 bit-counters by the hash's bits; the sign pattern is the fingerprint.
  * Near-duplicates land within a small Hamming distance. Per-row, one pass.
  * An evaluating expression for the reason given at [[MinHashSignature]].
  */
case class SimHash64(child: Expression) extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"simhash64 expects a string column, got ${child.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any = {
    val wordHs = Shingling.wordHashes(input.asInstanceOf[UTF8String])
    val counters = new Array[Int](64)
    var w = 0
    while (w < wordHs.length) {
      val h = wordHs(w)
      var b = 0
      while (b < 64) {
        // +1 for a set bit, -1 for a clear one, without a branch
        counters(b) += (((h >>> b) & 1L).toInt << 1) - 1
        b += 1
      }
      w += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** Word k-gram (shingle) hash set of a text column — the exact-Jaccard
  * building block (array_intersect/array_union on two of these gives the true
  * n-gram Jaccard similarity). Distinct, sorted for deterministic output.
  * An evaluating expression for the reason given at [[MinHashSignature]].
  */
case class ShingleSet(child: Expression, shingleSize: Int = 5)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"shingle_set expects a string column, got ${child.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val hs = Shingling.shingleHashes(input.asInstanceOf[UTF8String], shingleSize)
    java.util.Arrays.sort(hs)
    var n = 0
    var i = 0
    while (i < hs.length) {
      if (n == 0 || hs(i) != hs(n - 1)) { hs(n) = hs(i); n += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(hs, n))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
  override def prettyName: String = "shingle_set"
}

/** MinHash band key: hash of signature slots [band*rowsPerBand, ...) — docs
  * sharing any band key are LSH candidates. Replaced by a `StaticInvoke` of
  * [[MinHashBandKey.bandKey]], so banding runs in whole-stage codegen.
  */
case class MinHashBandKey(child: Expression, band: Int, rowsPerBand: Int)
  extends RuntimeReplaceable with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"band key expects array<bigint> signature, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override lazy val replacement: Expression = StaticInvoke(MinHashBandKey.getClass, dataType,
    "bandKey", Seq(child, Literal(band), Literal(rowsPerBand)), returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): MinHashBandKey =
    copy(child = newChild)
  override def prettyName: String = "minhash_band_key"
}

object MinHashBandKey {
  /** The band's key: a position-sensitive mum-mix of its slots, seeded with
    * the band index. Slots past the signature's end are absent; a null slot
    * mixes as 0 (a columnar reader leaves an arbitrary value under it).
    */
  def bandKey(sig: ArrayData, band: Int, rowsPerBand: Int): Long = {
    var acc = WyHash.hashLong(band.toLong)
    var i = band * rowsPerBand
    val end = math.min(sig.numElements(), i + rowsPerBand)
    while (i < end) {
      acc = WyHash.mum(acc ^ (if (sig.isNullAt(i)) 0L else sig.getLong(i)), WyHash.P1)
      i += 1
    }
    acc
  }
}
