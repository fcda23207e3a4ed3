package graft.core

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** Property-style tests (seeded, deterministic) mirroring the reference fuzz
  * targets (fuzz/fuzz_targets/estimator.rs: split-insert-merge invariants) and
  * the merge-law guarantees distributed aggregation depends on
  * (src/estimator.rs:287-333 checks both orders of every representation pair).
  */
class SketchPropertiesSpec extends AnyFunSuite {

  private def sketchOf(items: Seq[Long], p: Int = 12, w: Int = 6): CardinalitySketch = {
    val sk = CardinalitySketch(p, w)
    items.foreach(i => sk.insertHash(WyHash.hashLong(i)))
    sk
  }

  private def canonical(sk: CardinalitySketch): Seq[Byte] = sk.serialize().toSeq

  // Sizes crossing all three representations and their boundaries.
  private val sizes = Seq(0, 1, 2, 3, 5, 100, 127, 128, 129, 200, 1000)

  private def randomItems(rnd: Random): Seq[Long] =
    Seq.fill(sizes(rnd.nextInt(sizes.length)))(rnd.nextLong())

  // Every precision and register width the sketch accepts.
  private val grid = for (p <- 4 to 18; w <- 4 to 6) yield (p, w)

  /** One test of `law` per (p, w) of [[grid]], each from the same seed. The
    * p12w6 case keeps the bare `name`; every other case is `name` at pPwW.
    */
  private def lawTest(name: String)(law: (Int, Int) => Unit): Unit =
    grid.foreach { case (p, w) =>
      test(if (p == 12 && w == 6) name else s"$name at p${p}w$w")(law(p, w))
    }

  lawTest("merge is commutative (estimates always; canonical bytes in HLL range)") { (p, w) =>
    val rnd = new Random(12345)
    for (_ <- 0 until 200) {
      val xs = randomItems(rnd); val ys = randomItems(rnd)
      val ab = sketchOf(xs, p, w); ab.merge(sketchOf(ys, p, w))
      val ba = sketchOf(ys, p, w); ba.merge(sketchOf(xs, p, w))
      assert(ab.estimate == ba.estimate, s"|xs|=${xs.size} |ys|=${ys.size}")
      // Small-mode slot order depends on insertion order; HLL state does not.
      if (xs.size + ys.size > 300) assert(canonical(ab) == canonical(ba))
    }
  }

  lawTest("merge is associative on estimates") { (p, w) =>
    val rnd = new Random(23456)
    for (_ <- 0 until 100) {
      val xs = randomItems(rnd); val ys = randomItems(rnd); val zs = randomItems(rnd)
      val left = sketchOf(xs, p, w)
      left.merge(sketchOf(ys, p, w)); left.merge(sketchOf(zs, p, w))
      val right = sketchOf(ys, p, w)
      right.merge(sketchOf(zs, p, w))
      val all = sketchOf(xs, p, w)
      all.merge(right)
      assert(left.estimate == all.estimate)
      // both sides replay the items in x, y, z order, so even Small/Array agree
      assert(canonical(left) == canonical(all))
    }
  }

  lawTest("merge of partitioned stream equals single-pass sketch (partial-agg soundness)") {
    (p, w) =>
      val rnd = new Random(34567)
      for (_ <- 0 until 100) {
        val xs = randomItems(rnd)
        val parts = 1 + rnd.nextInt(8)
        val whole = sketchOf(xs, p, w)
        val merged = CardinalitySketch(p, w)
        xs.grouped(math.max(1, xs.size / parts + 1)).foreach(c => merged.merge(sketchOf(c, p, w)))
        assert(merged.estimate == whole.estimate)
        assert(canonical(merged) == canonical(whole))
      }
  }

  lawTest("duplicates never change the sketch") { (p, w) =>
    val rnd = new Random(45678)
    for (_ <- 0 until 100) {
      val xs = randomItems(rnd)
      val once = sketchOf(xs, p, w)
      val thrice = sketchOf(xs ++ xs ++ xs.reverse, p, w)
      assert(once.estimate == thrice.estimate)
      assert(canonical(once) == canonical(thrice))
    }
  }

  test("exact below 129 distinct, bounded error above (src/lib.rs:36-40)") {
    val rnd = new Random(56789)
    for (_ <- 0 until 60) {
      val n = rnd.nextInt(5001)
      val sk = sketchOf(0L until n.toLong)
      if (n <= 128) assert(sk.estimate == n.toLong)
      else {
        val err = math.abs(sk.estimate.toDouble - n) / n
        assert(err <= 1.04 / math.sqrt(4096.0) * 4.0, s"n=$n est=${sk.estimate} err=$err")
      }
    }
  }

  test("insert after deserialize never crashes and keeps invariants (fuzz serde)") {
    val rnd = new Random(67890)
    for (_ <- 0 until 100) {
      val rt = CardinalitySketch.deserialize(sketchOf(randomItems(rnd)).serialize())
      rt.insertHash(WyHash.hashLong(1L))
      assert(rt.estimate > 0)
      assert(rt.sizeInBytes > 0)
    }
  }

  test("serialize/deserialize round trip across all precisions and widths") {
    for (p <- Seq(4, 10, 11, 12, 18); w <- Seq(4, 5, 6); n <- Seq(0, 2, 50, 300)) {
      val sk = sketchOf(0L until n.toLong, p, w)
      val rt = CardinalitySketch.deserialize(sk.serialize())
      assert(rt == sk, s"p=$p w=$w n=$n")
      assert(rt.estimate == sk.estimate)
    }
  }

  test("an HLL's stored zero count and sum are ignored on decode: the registers are the only state") {
    val rnd = new Random(89012)
    grid.foreach { case (p, w) =>
      val sk = sketchOf(Seq.fill(1000)(rnd.nextLong()), p, w)
      val bytes = sk.serialize()
      // wire bytes 6-9 hold the zero count, 10-13 the f32 harmonic sum
      val tampered = bytes.clone()
      (6 until 14).foreach(i => tampered(i) = rnd.nextInt().toByte)
      val rt = CardinalitySketch.deserialize(tampered)
      assert(canonical(rt) == bytes.toSeq, s"p=$p w=$w")
      assert(rt.estimate == sk.estimate, s"p=$p w=$w")
    }
  }

  test("deserialize random garbage either fails cleanly or yields a working sketch") {
    val rnd = new Random(78901)
    for (_ <- 0 until 500) {
      val bytes = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(bytes)
      try {
        val sk = CardinalitySketch.deserialize(bytes)
        sk.insertHash(WyHash.hashLong(42L))
        assert(sk.estimate > 0)
      } catch {
        case _: IllegalArgumentException => // expected for malformed input
      }
    }
  }
}
