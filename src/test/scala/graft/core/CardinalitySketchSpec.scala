package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference test suite (cardinality-estimator
  * src/estimator.rs:189-354): golden representation/estimate/size strings per
  * precision, the 32-case merge matrix in both orders, duplicate-insert
  * behavior, and the avg-relative-error bound. These golden values transfer
  * bit-for-bit because WyHash.hashLong reproduces the reference's hashing of
  * 64-bit integers exactly.
  */
class CardinalitySketchSpec extends AnyFunSuite {

  /** Port of evaluate_cardinality_estimator (src/estimator.rs:254-285):
    * insert 0..n-1 as hashed longs, track running avg relative error, assert
    * the HLL bound, return the golden string.
    */
  private def evaluate(p: Int, w: Int, n: Int): String = {
    val sk = CardinalitySketch(p, w)
    var totalRelErr = 0.0
    var i = 0
    while (i < n) {
      sk.insertHash(WyHash.hashLong(i.toLong))
      val est = sk.estimate.toDouble
      val actual = (i + 1).toDouble
      totalRelErr += math.abs(est - actual) / actual
      i += 1
    }
    val avgRelErr = totalRelErr / (n + 1).toDouble
    val standardError = 1.04 / math.sqrt(math.pow(2.0, p))
    assert(avgRelErr <= standardError * 1.2,
      s"avg relative error $avgRelErr exceeds ${standardError * 1.2} (p=$p w=$w n=$n)")
    f"representation: ${sk.toString}, avg_err: $avgRelErr%.4f"
  }

  // src/estimator.rs:189-210
  private val goldenP10W5 = Seq(
    0 -> "representation: Small(estimate: 0, size: 8), avg_err: 0.0000",
    1 -> "representation: Small(estimate: 1, size: 8), avg_err: 0.0000",
    2 -> "representation: Small(estimate: 2, size: 8), avg_err: 0.0000",
    3 -> "representation: Array(estimate: 3, size: 24), avg_err: 0.0000",
    4 -> "representation: Array(estimate: 4, size: 24), avg_err: 0.0000",
    8 -> "representation: Array(estimate: 8, size: 40), avg_err: 0.0000",
    16 -> "representation: Array(estimate: 16, size: 72), avg_err: 0.0000",
    17 -> "representation: Array(estimate: 17, size: 136), avg_err: 0.0000",
    28 -> "representation: Array(estimate: 28, size: 136), avg_err: 0.0000",
    29 -> "representation: Array(estimate: 29, size: 136), avg_err: 0.0000",
    56 -> "representation: Array(estimate: 56, size: 264), avg_err: 0.0000",
    57 -> "representation: Array(estimate: 57, size: 264), avg_err: 0.0000",
    128 -> "representation: Array(estimate: 128, size: 520), avg_err: 0.0000",
    129 -> "representation: Hll(estimate: 131, size: 660), avg_err: 0.0001",
    256 -> "representation: Hll(estimate: 264, size: 660), avg_err: 0.0119",
    512 -> "representation: Hll(estimate: 512, size: 660), avg_err: 0.0151",
    1024 -> "representation: Hll(estimate: 1033, size: 660), avg_err: 0.0172",
    10000 -> "representation: Hll(estimate: 10417, size: 660), avg_err: 0.0281",
    100000 -> "representation: Hll(estimate: 93099, size: 660), avg_err: 0.0351"
  )

  // src/estimator.rs:212-231
  private val goldenP12W6 = Seq(
    0 -> "representation: Small(estimate: 0, size: 8), avg_err: 0.0000",
    1 -> "representation: Small(estimate: 1, size: 8), avg_err: 0.0000",
    2 -> "representation: Small(estimate: 2, size: 8), avg_err: 0.0000",
    3 -> "representation: Array(estimate: 3, size: 24), avg_err: 0.0000",
    4 -> "representation: Array(estimate: 4, size: 24), avg_err: 0.0000",
    8 -> "representation: Array(estimate: 8, size: 40), avg_err: 0.0000",
    16 -> "representation: Array(estimate: 16, size: 72), avg_err: 0.0000",
    32 -> "representation: Array(estimate: 32, size: 136), avg_err: 0.0000",
    64 -> "representation: Array(estimate: 64, size: 264), avg_err: 0.0000",
    128 -> "representation: Array(estimate: 128, size: 520), avg_err: 0.0000",
    129 -> "representation: Hll(estimate: 130, size: 3092), avg_err: 0.0001",
    256 -> "representation: Hll(estimate: 254, size: 3092), avg_err: 0.0029",
    512 -> "representation: Hll(estimate: 498, size: 3092), avg_err: 0.0068",
    1024 -> "representation: Hll(estimate: 1012, size: 3092), avg_err: 0.0130",
    4096 -> "representation: Hll(estimate: 4105, size: 3092), avg_err: 0.0089",
    10000 -> "representation: Hll(estimate: 10068, size: 3092), avg_err: 0.0087",
    100000 -> "representation: Hll(estimate: 95628, size: 3092), avg_err: 0.0182"
  )

  // src/estimator.rs:233-252
  private val goldenP18W6 = Seq(
    0 -> "representation: Small(estimate: 0, size: 8), avg_err: 0.0000",
    1 -> "representation: Small(estimate: 1, size: 8), avg_err: 0.0000",
    2 -> "representation: Small(estimate: 2, size: 8), avg_err: 0.0000",
    3 -> "representation: Array(estimate: 3, size: 24), avg_err: 0.0000",
    128 -> "representation: Array(estimate: 128, size: 520), avg_err: 0.0000",
    129 -> "representation: Hll(estimate: 129, size: 196628), avg_err: 0.0000",
    256 -> "representation: Hll(estimate: 256, size: 196628), avg_err: 0.0000",
    512 -> "representation: Hll(estimate: 511, size: 196628), avg_err: 0.0004",
    1024 -> "representation: Hll(estimate: 1022, size: 196628), avg_err: 0.0014",
    4096 -> "representation: Hll(estimate: 4100, size: 196628), avg_err: 0.0009",
    10000 -> "representation: Hll(estimate: 10007, size: 196628), avg_err: 0.0008",
    100000 -> "representation: Hll(estimate: 100238, size: 196628), avg_err: 0.0011"
  )

  goldenP10W5.foreach { case (n, expected) =>
    test(s"golden p10w5 n=$n") { assert(evaluate(10, 5, n) == expected) }
  }
  goldenP12W6.foreach { case (n, expected) =>
    test(s"golden p12w6 n=$n") { assert(evaluate(12, 6, n) == expected) }
  }
  goldenP18W6.foreach { case (n, expected) =>
    test(s"golden p18w6 n=$n") { assert(evaluate(18, 6, n) == expected) }
  }

  /** Port of test_merge (src/estimator.rs:287-333): lhs gets 0..lhsN, rhs gets
    * lhsN..lhsN+rhsN, merge, assert golden debug string.
    */
  private def mergeCase(lhsN: Int, rhsN: Int): String = {
    val lhs = CardinalitySketch(12, 6)
    var i = 0
    while (i < lhsN) { lhs.insertHash(WyHash.hashLong(i.toLong)); i += 1 }
    val rhs = CardinalitySketch(12, 6)
    i = lhsN
    while (i < lhsN + rhsN) { rhs.insertHash(WyHash.hashLong(i.toLong)); i += 1 }
    lhs.merge(rhs)
    lhs.toString
  }

  private val goldenMerge = Seq(
    (0, 0) -> "Small(estimate: 0, size: 8)",
    (0, 1) -> "Small(estimate: 1, size: 8)",
    (1, 0) -> "Small(estimate: 1, size: 8)",
    (1, 1) -> "Small(estimate: 2, size: 8)",
    (1, 2) -> "Array(estimate: 3, size: 24)",
    (2, 1) -> "Array(estimate: 3, size: 24)",
    (2, 2) -> "Array(estimate: 4, size: 24)",
    (2, 3) -> "Array(estimate: 5, size: 40)",
    (2, 4) -> "Array(estimate: 6, size: 40)",
    (4, 2) -> "Array(estimate: 6, size: 40)",
    (3, 2) -> "Array(estimate: 5, size: 40)",
    (3, 3) -> "Array(estimate: 6, size: 40)",
    (3, 4) -> "Array(estimate: 7, size: 40)",
    (4, 3) -> "Array(estimate: 7, size: 40)",
    (4, 4) -> "Array(estimate: 8, size: 40)",
    (4, 8) -> "Array(estimate: 12, size: 72)",
    (8, 4) -> "Array(estimate: 12, size: 72)",
    (4, 12) -> "Array(estimate: 16, size: 72)",
    (12, 4) -> "Array(estimate: 16, size: 72)",
    (1, 127) -> "Array(estimate: 128, size: 520)",
    (1, 128) -> "Hll(estimate: 130, size: 3092)",
    (127, 1) -> "Array(estimate: 128, size: 520)",
    (128, 1) -> "Hll(estimate: 130, size: 3092)",
    (128, 128) -> "Hll(estimate: 254, size: 3092)",
    (512, 512) -> "Hll(estimate: 1012, size: 3092)",
    (10000, 0) -> "Hll(estimate: 10068, size: 3092)",
    (0, 10000) -> "Hll(estimate: 10068, size: 3092)",
    (4, 10000) -> "Hll(estimate: 10068, size: 3092)",
    (10000, 4) -> "Hll(estimate: 10068, size: 3092)",
    (17, 10000) -> "Hll(estimate: 10073, size: 3092)",
    (10000, 17) -> "Hll(estimate: 10073, size: 3092)",
    (10000, 10000) -> "Hll(estimate: 19974, size: 3092)"
  )

  goldenMerge.foreach { case ((l, r), expected) =>
    test(s"golden merge ($l, $r)") { assert(mergeCase(l, r) == expected) }
  }

  test("duplicate insert does not bump the estimate (src/estimator.rs:335-354)") {
    val sk = CardinalitySketch(12, 6)
    assert(sk.estimate == 0L)
    val h1 = WyHash.hash("test item 1".getBytes("UTF-8"))
    sk.insertHash(h1)
    assert(sk.estimate == 1L)
    sk.insertHash(h1)
    assert(sk.estimate == 1L)
    sk.insertHash(WyHash.hash("test item 2".getBytes("UTF-8")))
    assert(sk.estimate == 2L)
  }

  test("serde round trip preserves representation (src/serde.rs:87-113)") {
    for (n <- Seq(0, 1, 2, 100, 10000)) {
      val sk = CardinalitySketch(12, 6)
      (0 until n).foreach(i => sk.insertHash(WyHash.hash(s"item$i".getBytes("UTF-8"))))
      val rt = CardinalitySketch.deserialize(sk.serialize())
      assert(rt == sk, s"round trip mismatch at n=$n")
      assert(rt.estimate == sk.estimate)
      assert(rt.sizeInBytes == sk.sizeInBytes)
    }
  }

  test("deserialize rejects adversarial inputs without crashing (fuzz/fuzz_targets/serde.rs)") {
    val bad = Seq(
      Array.empty[Byte],
      Array[Byte](1, 2, 3),
      CardinalitySketch(12, 6).serialize().take(5).toArray,
      { val b = CardinalitySketch(12, 6).serialize(); b(0) = 0x00; b }, // bad magic
      { val b = CardinalitySketch(12, 6).serialize(); b(2) = 9; b }, // bad version
      { val b = CardinalitySketch(12, 6).serialize(); b(3) = 99; b }, // bad p
      { val b = CardinalitySketch(12, 6).serialize(); b(5) = 7; b }, // bad mode
      { // array mode with invalid length 1
        val sk = CardinalitySketch(12, 6)
        (0 until 5).foreach(i => sk.insertHash(WyHash.hashLong(i.toLong)))
        val b = sk.serialize(); b(6) = 1; b.take(7 + 4).toArray
      },
      { // hll mode with truncated slice
        val sk = CardinalitySketch(12, 6)
        (0 until 200).foreach(i => sk.insertHash(WyHash.hashLong(i.toLong)))
        sk.serialize().dropRight(8).toArray
      }
    )
    bad.foreach { bytes =>
      intercept[IllegalArgumentException](CardinalitySketch.deserialize(bytes))
    }
  }

  test("merge rejects mismatched (p, w)") {
    val a = CardinalitySketch(12, 6)
    val b = CardinalitySketch(10, 5)
    intercept[IllegalArgumentException](a.merge(b))
  }

  test("constructor validates p and w ranges (src/estimator.rs:33-34)") {
    intercept[IllegalArgumentException](CardinalitySketch(3, 6))
    intercept[IllegalArgumentException](CardinalitySketch(19, 6))
    intercept[IllegalArgumentException](CardinalitySketch(12, 3))
    intercept[IllegalArgumentException](CardinalitySketch(12, 7))
    CardinalitySketch(4, 4)
    CardinalitySketch(18, 6)
  }

  test("non-word-aligned register configs (p=4, w=5) work via the spare word") {
    val sk = CardinalitySketch(4, 5)
    (0 until 1000).foreach(i => sk.insertHash(WyHash.hashLong(i.toLong)))
    val est = sk.estimate
    // p=4 -> 16 registers, bound 1.04/4 = 0.26: very loose, just sanity
    assert(est > 300 && est < 3000, s"estimate $est wildly off for n=1000 at p=4")
    val rt = CardinalitySketch.deserialize(sk.serialize())
    assert(rt == sk)
  }

  test("union and estimateBytes on serialized form") {
    val a = CardinalitySketch(12, 6)
    val b = CardinalitySketch(12, 6)
    (0 until 80).foreach(i => a.insertHash(WyHash.hashLong(i.toLong)))
    (40 until 120).foreach(i => b.insertHash(WyHash.hashLong(i.toLong)))
    val u = CardinalitySketch.union(a.serialize(), b.serialize())
    assert(CardinalitySketch.estimateBytes(u) == 120L) // exact: array mode holds <= 128
  }

  test("rank histogram of a deserialized HLL equals the per-register count at all 45 (p, w)") {
    import CardinalitySketch.{HeaderLen, MaxP, MaxW, MinP, MinW, ModeHll}
    val rnd = new scala.util.Random(45)
    var checked = 0
    for (p <- MinP to MaxP; w <- MinW to MaxW) {
      val sk = CardinalitySketch(p, w)
      (0 until 1000).foreach(_ => sk.insertHash(rnd.nextLong()))
      val bytes = sk.serialize()
      assert(bytes(5) == ModeHll, s"p=$p w=$w: not in HLL mode")
      // the histogram kept by the inserts is the one decoded from the bytes
      assert(CardinalitySketch.deserialize(bytes).rankHistogram.sameElements(sk.rankHistogram),
        s"p=$p w=$w")
      // registers of every rank, each written w bits at bit idx * w of the
      // little-endian words, straddling a word boundary where it falls
      val regs = Array.fill(1 << p)(rnd.nextInt(1 << w))
      val words = new Array[Int](CardinalitySketch.hllSliceLen(p, w) - 2)
      for ((r, idx) <- regs.zipWithIndex) {
        val bit = idx * w
        val shifted = r.toLong << (bit & 31)
        words(bit >>> 5) |= shifted.toInt
        words((bit >>> 5) + 1) |= (shifted >>> 32).toInt
      }
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.position(HeaderLen + 8)
      words.foreach(bb.putInt)
      val want = new Array[Int](1 << w)
      regs.foreach(r => want(r) += 1)
      assert(CardinalitySketch.deserialize(bytes).rankHistogram.sameElements(want), s"p=$p w=$w")
      checked += 1
    }
    assert(checked == 45)
  }
}
