package graft

import scala.util.Random

import graft.core.WyHash
import graft.sql.SketchHashing

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The string route into the one wyhash body: `SketchHashing.hashUTF8` reads a
  * string in place from its backing array, at whatever offset it starts, and
  * must hash exactly like `WyHash.hash` over a copy of its bytes.
  */
class UnsafeWyHashSpec extends AnyFunSuite {
  test("zero-copy UTF8String hash equals byte-array hash for all tail lengths") {
    val rnd = new Random(424242)
    for (len <- 0 to 120; _ <- 0 until 3) {
      val bytes = new Array[Byte](len)
      rnd.nextBytes(bytes)
      val expected = WyHash.hash(bytes, 0, len, 0L)
      val got = SketchHashing.hashUTF8(UTF8String.fromBytes(bytes))
      assert(got == expected, s"mismatch at len=$len")
    }
    // every length at byte offsets 1..7 of one shared buffer, so the word
    // reads are unaligned; the digest was taken from the byte-shift and the
    // Spark-`Platform` readers this body replaced, which agreed on it
    val shared = new Array[Byte](7 + 120)
    new Random(424243).nextBytes(shared)
    var digest = 0L
    for (len <- 0 to 120; off <- 1 to 7) {
      val h = SketchHashing.hashUTF8(UTF8String.fromBytes(shared, off, len))
      assert(h == WyHash.hash(shared, off, len, 0L), s"len=$len off=$off")
      digest = digest * 0x100000001b3L ^ h
    }
    assert(digest == 0xc955bed6ebb71210L, f"unaligned-read digest moved: 0x$digest%016x")
  }

  test("offset within a larger backing array is honored") {
    val bytes = "padding-padding-hello world tail".getBytes("UTF-8")
    val sub = UTF8String.fromBytes(bytes, 16, 11) // "hello world"
    assert(SketchHashing.hashUTF8(sub) == WyHash.hash("hello world".getBytes("UTF-8")))
    // an off-heap string has no backing array: it is copied out, same hash
    val addr = Platform.allocateMemory(bytes.length)
    try {
      Platform.copyMemory(bytes, Platform.BYTE_ARRAY_OFFSET, null, addr, bytes.length)
      val offHeap = UTF8String.fromAddress(null, addr + 16, 11)
      assert(SketchHashing.hashUTF8(offHeap) == WyHash.hash("hello world".getBytes("UTF-8")))
    } finally Platform.freeMemory(addr)
  }
}
