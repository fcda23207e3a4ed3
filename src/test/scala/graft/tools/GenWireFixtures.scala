package graft.tools

import graft.core.{BloomFilter, CardinalitySketch, CountMinSketch, KllSketch, TDigest, WyHash}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Generates `src/test/resources/graft/wire_fixtures.tsv`: golden
  * (input -> hash) and (input set -> serialized sketch bytes) vectors that
  * freeze this library's wire contract and let an EXTERNAL harness (e.g. a
  * Rust program linking the reference cardinality-estimator crate, outside
  * this zero-egress sandbox) verify cross-language fidelity — in particular
  * the wyhash tail paths for non-8-byte keys that cannot be checked against
  * the wyhash 0.5.0 crate from in here (see WyHash.scala header).
  *
  * Format: tab-separated, one fixture per line, `#` comments. Kinds:
  *   - `wyhash_bytes  <input_hex>  <hash_hex16>`
  *       wyhash(bytes, seed=0) of the raw bytes; hash printed as 16 lowercase
  *       hex digits of the unsigned 64-bit value. String keys are their plain
  *       UTF-8 bytes (NO Rust 0xFF framing — the library's wire contract).
  *   - `wyhash_long  <decimal>  <hash_hex16>`
  *       hash of one 64-bit integer item = wyhash of its 8 little-endian
  *       bytes, seed 0 (what the sketch computes for an inserted long).
  *   - `sketch_longs  <p>  <w>  <n>  <estimate>  <serialized_hex>`
  *       sketch(p, w) after inserting longs 0..n-1, its estimate, and its
  *       serialized bytes (the §7.4 wire format that crosses shuffles,
  *       sinks, and the streaming state store).
  *   - `sketch_strings  <p>  <w>  <n>  <estimate>  <serialized_hex>`
  *       same after inserting strings "url-0".."url-<n-1>" (UTF-8).
  *   - `sketch_merge_longs  <p>  <w>  <a0> <a1> <b0> <b1>  <estimate>  <serialized_hex>`
  *       serialize(merge(sketch of a0..a1-1, sketch of b0..b1-1)).
  *   - `bloom_longs  <numBits>  <numHashes>  <a0> <a1>  <serialized_hex>`
  *       Bloom filter after putHash(wyhash_long(i)) for i in a0..a1-1.
  *   - `cms_longs  <depth>  <width>  <a0> <a1>  <serialized_hex>`
  *       count-min sketch after addHash(wyhash_long(i % 50)) for i in a0..a1-1.
  *   - `tdigest_doubles  <compression>  <seed>  <n>  <serialized_hex>`
  *       t-digest after adding n draws of `new java.util.Random(seed)
  *       .nextGaussian()`, in draw order.
  *   - `kll_doubles  <k>  <seed>  <n>  <serialized_hex>`
  *       KLL sketch after the same seeded draws.
  *   - `<family>_merge  <params>  <A>  <B>  <serialized_hex>`
  *       the family's byte-level union of the builds A and B, each given by
  *       the same fields as the single-build line (a0 a1, or seed n).
  *
  * Regenerate with `sbt "Test/runMain graft.tools.GenWireFixtures"`;
  * WireFixturesSpec fails if the committed file and the code ever diverge.
  */
object GenWireFixtures {

  def hex(b: Array[Byte]): String = {
    val sb = new StringBuilder(b.length * 2)
    b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    sb.toString
  }

  private def hash16(h: Long): String = f"$h%016x"

  private def sketchLongs(p: Int, w: Int, range: Range): CardinalitySketch = {
    val sk = CardinalitySketch(p, w)
    range.foreach(i => sk.insert(i.toLong))
    sk
  }

  /** Every fixture line (stable order, pure function of the code). */
  def lines(): Seq[String] = {
    // byte inputs covering every tail branch of the one-shot hash:
    // 0, 1..3, 4..8, 9..16, 17..24, 25..31, and the >=32 block loop
    // (incl. block boundary 32 and block+tail), plus multi-byte UTF-8
    val byteInputs: Seq[Array[Byte]] =
      (0 to 17).map(n => ("abcdefghijklmnopq".take(n)).getBytes(UTF_8)) ++
        Seq(20, 24, 25, 31, 32, 33, 40, 64, 65, 100).map(n =>
          Array.tabulate[Byte](n)(i => ((i * 37 + 11) & 0xff).toByte)) ++
        Seq("url-0", "https://host-3.example/p/12345",
          "héllo wörld ünïcøde ☃",
          "日本語のテキスト")
          .map(_.getBytes(UTF_8))
    val wyhashBytes = byteInputs.map { b =>
      s"wyhash_bytes\t${hex(b)}\t${hash16(WyHash.hash(b))}"
    }

    val longInputs = Seq(0L, 1L, -1L, 42L, 9999L, 1234567890123L,
      Long.MaxValue, Long.MinValue)
    val wyhashLongs = longInputs.map { v =>
      s"wyhash_long\t$v\t${hash16(WyHash.hashLong(v))}"
    }

    // long-keyed sketches across all three representations and the golden
    // anchor cardinality (0..9999 at p12w6 must estimate 10068)
    val longSketches = Seq(
      (12, 6, 0), (12, 6, 1), (12, 6, 2), (12, 6, 16), (12, 6, 127),
      (12, 6, 128), (12, 6, 129), (12, 6, 1000), (12, 6, 10000),
      (10, 5, 129), (10, 5, 10000), (18, 6, 100)
    ).map { case (p, w, n) =>
      val sk = sketchLongs(p, w, 0 until n)
      s"sketch_longs\t$p\t$w\t$n\t${sk.estimate}\t${hex(sk.serialize())}"
    }

    // string-keyed sketches: these exercise the frozen non-8-byte tails —
    // the exact vectors an external Rust harness should replay
    val stringSketches = Seq((12, 6, 5), (12, 6, 130), (12, 6, 5000)).map {
      case (p, w, n) =>
        val sk = CardinalitySketch(p, w)
        (0 until n).foreach(i => sk.insert(s"url-$i"))
        s"sketch_strings\t$p\t$w\t$n\t${sk.estimate}\t${hex(sk.serialize())}"
    }

    // merge across overlapping ranges (array x array -> array, HLL x HLL,
    // and one HLL above p12); an HLL union must not depend on the merge order
    val merges = Seq((12, 6, 0, 60, 30, 90), (12, 6, 0, 1000, 500, 1500),
      (14, 5, 0, 20000, 10000, 30000)).map {
      case (p, w, a0, a1, b0, b1) =>
        val a = sketchLongs(p, w, a0 until a1).serialize()
        val b = sketchLongs(p, w, b0 until b1).serialize()
        val bytes = CardinalitySketch.union(a, b)
        require(bytes(5) != CardinalitySketch.ModeHll ||
          bytes.sameElements(CardinalitySketch.union(b, a)),
          s"p${p}w$w union bytes depend on the merge order")
        val est = CardinalitySketch.estimateBytes(bytes)
        s"sketch_merge_longs\t$p\t$w\t$a0\t$a1\t$b0\t$b1\t$est\t${hex(bytes)}"
    }

    wyhashBytes ++ wyhashLongs ++ longSketches ++ stringSketches ++ merges ++ familyLines()
  }

  private def gaussians(seed: Int, n: Int): Seq[Double] = {
    val r = new java.util.Random(seed)
    Seq.fill(n)(r.nextGaussian())
  }

  private def bloom(range: Range): BloomFilter = {
    val b = new BloomFilter(4096, 5)
    range.foreach(i => b.putHash(WyHash.hashLong(i.toLong)))
    b
  }

  private def cms(range: Range): CountMinSketch = {
    val c = new CountMinSketch(4, 64)
    range.foreach(i => c.addHash(WyHash.hashLong((i % 50).toLong)))
    c
  }

  private def tdigest(seed: Int, n: Int): TDigest = {
    val t = TDigest(50)
    gaussians(seed, n).foreach(t.add(_))
    t
  }

  private def kll(seed: Int, n: Int): KllSketch = {
    val s = KllSketch(32)
    gaussians(seed, n).foreach(s.add)
    s
  }

  /** Seeded single-threaded builds of the four other sketch families, and one
    * byte-level union each: the wire bytes that cross shuffles for
    * bloom_agg, cms_agg, tdigest_agg, kll_agg and their `<kind>_merge`.
    */
  private def familyLines(): Seq[String] = {
    val blooms = Seq((0, 0), (0, 100), (0, 2000)).map { case (a0, a1) =>
      s"bloom_longs\t4096\t5\t$a0\t$a1\t${hex(bloom(a0 until a1).serialize())}"
    }
    val bloomMerge = s"bloom_merge\t4096\t5\t0\t300\t200\t500\t" +
      hex(BloomFilter.union(bloom(0 until 300).serialize(), bloom(200 until 500).serialize()))
    val cmss = Seq((0, 0), (0, 1000)).map { case (a0, a1) =>
      s"cms_longs\t4\t64\t$a0\t$a1\t${hex(cms(a0 until a1).serialize())}"
    }
    val cmsMerge = s"cms_merge\t4\t64\t0\t700\t300\t1000\t" +
      hex(CountMinSketch.union(cms(0 until 700).serialize(), cms(300 until 1000).serialize()))
    val tdigests = Seq((1, 0), (1, 1), (1, 100), (2, 5000)).map { case (seed, n) =>
      s"tdigest_doubles\t50\t$seed\t$n\t${hex(tdigest(seed, n).serialize())}"
    }
    val tdigestMerge = s"tdigest_merge\t50\t3\t2000\t4\t3000\t" +
      hex(TDigest.union(tdigest(3, 2000).serialize(), tdigest(4, 3000).serialize()))
    val klls = Seq((1, 0), (1, 1), (1, 20), (2, 5000)).map { case (seed, n) =>
      s"kll_doubles\t32\t$seed\t$n\t${hex(kll(seed, n).serialize())}"
    }
    val kllMerge = s"kll_merge\t32\t3\t2000\t4\t3000\t" +
      hex(KllSketch.union(kll(3, 2000).serialize(), kll(4, 3000).serialize()))
    (blooms :+ bloomMerge) ++ (cmss :+ cmsMerge) ++ (tdigests :+ tdigestMerge) ++
      (klls :+ kllMerge)
  }

  val header: Seq[String] = Seq(
    "# graft wire fixtures v1 — cross-language golden vectors (see GenWireFixtures.scala)",
    "# wyhash_bytes <input_hex> <hash_hex16> | wyhash_long <decimal> <hash_hex16>",
    "# sketch_longs|sketch_strings <p> <w> <n> <estimate> <serialized_hex>",
    "# sketch_merge_longs <p> <w> <a0> <a1> <b0> <b1> <estimate> <serialized_hex>",
    "# bloom_longs <numBits> <numHashes> <a0> <a1> <serialized_hex> | cms_longs <depth> <width> <a0> <a1> <serialized_hex>",
    "# tdigest_doubles <compression> <seed> <n> <serialized_hex> | kll_doubles <k> <seed> <n> <serialized_hex>",
    "# <family>_merge <params> <A> <B> <serialized_hex>")

  def render(): String = (header ++ lines()).mkString("\n") + "\n"

  def main(args: Array[String]): Unit = {
    val out = Paths.get("src/test/resources/graft/wire_fixtures.tsv")
    Files.createDirectories(out.getParent)
    Files.write(out, render().getBytes(UTF_8))
    println(s"wrote $out (${Files.size(out)} bytes, ${lines().size} fixtures)")
  }
}
