package graft.core

import graft.tools.GenWireFixtures

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** Pins the committed cross-language wire fixtures
  * (src/test/resources/graft/wire_fixtures.tsv) to the live code: every
  * hash, estimate, and serialized sketch byte must reproduce exactly, and
  * every serialized blob must round-trip through deserialize. If an
  * intentional wire change ever happens, regenerate with
  * `sbt "Test/runMain graft.tools.GenWireFixtures"` — the diff then
  * documents the break for external (Rust-side) consumers.
  */
class WireFixturesSpec extends AnyFunSuite {

  private def committed: String = {
    val in = getClass.getResourceAsStream("/graft/wire_fixtures.tsv")
    assert(in != null, "wire_fixtures.tsv missing from test resources")
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("committed fixtures == regenerated fixtures, byte for byte") {
    val want = GenWireFixtures.render()
    val got = committed
    if (got != want) {
      val gl = got.linesIterator.toSeq
      val wl = want.linesIterator.toSeq
      val firstDiff = gl.zipAll(wl, "<missing>", "<missing>")
        .zipWithIndex.find { case ((a, b), _) => a != b }
      fail(s"wire fixtures diverged from code at line " +
        s"${firstDiff.map(_._2 + 1).getOrElse(-1)}: " +
        s"file=${firstDiff.map(_._1._1.take(120)).getOrElse("")} " +
        s"code=${firstDiff.map(_._1._2.take(120)).getOrElse("")}")
    }
  }

  test("every serialized sketch fixture round-trips through deserialize") {
    val rows = committed.linesIterator.filterNot(_.startsWith("#")).toSeq
    val sketchRows = rows.filter(_.startsWith("sketch"))
    assert(sketchRows.nonEmpty)
    sketchRows.foreach { line =>
      val f = line.split('\t')
      val (estimate, hexBytes) = (f(f.length - 2).toLong, f(f.length - 1))
      val bytes = hexBytes.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      val sk = CardinalitySketch.deserialize(bytes)
      assert(sk.estimate == estimate, s"estimate mismatch for: ${line.take(80)}")
      assert(sk.serialize().sameElements(bytes),
        s"re-serialize not canonical for: ${line.take(80)}")
    }
  }

  test("every Bloom, count-min, t-digest and KLL fixture round-trips through its family's deserialize") {
    val rows = committed.linesIterator.filterNot(_.startsWith("#")).toSeq
    val reserialize: Map[String, Array[Byte] => Array[Byte]] = Map(
      "bloom" -> (b => BloomFilter.deserialize(b).serialize()),
      "cms" -> (b => CountMinSketch.deserialize(b).serialize()),
      "tdigest" -> (b => TDigest.deserialize(b).serialize()),
      "kll" -> (b => KllSketch.deserialize(b).serialize()))
    val familyRows = rows.filter(r => reserialize.contains(r.takeWhile(_ != '_')))
    assert(familyRows.size >= 16, s"family fixtures missing: ${familyRows.size}")
    familyRows.foreach { line =>
      val f = line.split('\t')
      val bytes = f.last.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      assert(reserialize(f(0).takeWhile(_ != '_'))(bytes).sameElements(bytes),
        s"re-serialize not canonical for: ${line.take(80)}")
    }
    // the seeded quantile builds keep their exact count
    rows.filter(r => r.startsWith("tdigest_doubles") || r.startsWith("kll_doubles")).foreach {
      line =>
        val f = line.split('\t')
        val bytes = f.last.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
        val count =
          if (f(0).startsWith("tdigest")) TDigest.deserialize(bytes).count
          else KllSketch.deserialize(bytes).count
        assert(count == f(3).toLong, s"count mismatch for: ${line.take(80)}")
    }
  }

  test("fixture inventory covers hashes, all sketch reps, strings, and merges") {
    val rows = committed.linesIterator.filterNot(_.startsWith("#")).toSeq
    val kinds = rows.map(_.takeWhile(_ != '\t')).groupBy(identity).map {
      case (k, v) => k -> v.size
    }
    assert(kinds("wyhash_bytes") >= 25, s"byte-tail coverage thin: $kinds")
    assert(kinds("wyhash_long") >= 6)
    assert(kinds("sketch_longs") >= 10)
    assert(kinds("sketch_strings") >= 3)
    assert(kinds("sketch_merge_longs") >= 2)
    for (family <- Seq("bloom_longs", "cms_longs", "tdigest_doubles", "kll_doubles"))
      assert(kinds(family) >= 2, s"$family fixtures missing: $kinds")
    for (family <- Seq("bloom", "cms", "tdigest", "kll"))
      assert(kinds(s"${family}_merge") == 1, s"${family}_merge fixture missing: $kinds")
    // the golden anchor is IN the fixtures: 0..9999 at p12w6 -> 10068
    assert(rows.exists(_.startsWith("sketch_longs\t12\t6\t10000\t10068\t")),
      "golden anchor fixture (10068) missing")
  }
}
