package graft.sql

import java.util.Locale

import graft.core.WyHash

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The text fingerprint kernels against the regex path they replace on ASCII
  * text: `Shingling.wordHashes` must equal `Shingling.regexWordHashes` on
  * every input, and `minhash_signature`, `simhash64` and `shingle_set` must
  * equal straightforward reference loops over the regex path's word hashes,
  * under the root locale and under Turkish (where `I` lowercases to `ı`, so
  * the fast path must step aside). Golden values pin the outputs of three
  * fixed texts.
  */
class FingerprintKernelsSpec extends AnyFunSuite {

  private def utf8(t: String) = UTF8String.fromString(t)

  // --- reference loops over the regex path ---------------------------------

  private def refShingles(t: String, k: Int): Array[Long] = {
    val wh = Shingling.regexWordHashes(utf8(t))
    def mix(start: Int, len: Int): Long =
      (start until start + len).foldLeft(WyHash.hashLong(len.toLong))((acc, i) =>
        WyHash.mum(acc ^ wh(i), WyHash.P1))
    if (wh.isEmpty) Array.empty
    else if (wh.length < k) Array(mix(0, wh.length))
    else (0 to wh.length - k).map(mix(_, k)).toArray
  }

  private def refMinHash(t: String, numHashes: Int, k: Int): Seq[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    for (h <- refShingles(t, k); i <- 0 until numHashes) {
      val v = (WyHash.hashLong(i.toLong * 2 + 1) | 1L) * h + WyHash.hashLong(-i.toLong - 1)
      if (v < sig(i)) sig(i) = v
    }
    sig.toSeq
  }

  private def refSimHash(t: String): Long = {
    val counters = new Array[Int](64)
    for (h <- Shingling.regexWordHashes(utf8(t)); b <- 0 until 64)
      if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
    (0 until 64).foldLeft(0L)((out, b) => if (counters(b) > 0) out | (1L << b) else out)
  }

  private def longs(v: Any): Seq[Long] = v.asInstanceOf[ArrayData].toLongArray().toSeq

  private def minHash(t: String, numHashes: Int = 128, k: Int = 5): Seq[Long] =
    longs(MinHashSignature(Literal(t), numHashes, k).eval(null))
  private def simHash(t: String): Long = SimHash64(Literal(t)).eval(null).asInstanceOf[Long]
  private def shingleSet(t: String, k: Int): Seq[Long] =
    longs(ShingleSet(Literal(t), k).eval(null))

  // --- inputs --------------------------------------------------------------

  private val randomAscii: Seq[String] = {
    val rnd = new scala.util.Random(20261019)
    val letters = ('a' to 'z') ++ ('A' to 'Z')
    Seq.fill(400) {
      val n = rnd.nextInt(300)
      Seq.fill(n) {
        rnd.nextInt(20) match {
          case x if x < 12 => letters(rnd.nextInt(letters.length))
          case x if x < 14 => ('0' + rnd.nextInt(10)).toChar
          case x if x < 17 => ' '
          case _ => rnd.nextInt(128).toChar
        }
      }.mkString
    }
  }

  private val adversarialAscii: Seq[String] = Seq(
    "", " ", "   \t\n  ", "\t\r\n\f\u000b", "a", "A", "Z", "0", "_", "__init__ snake_case_words",
    "123 456 7890 3.14159 1e10 0x7f", "!!!hello???world...", "---", "...leading", "trailing!!!",
    "  both ends  ", "ALL CAPS SHOUTING TEXT WITH NUMBERS 42 AND MORE",
    "MiXeD cAsE wOrDs ThRoUgH tHe WhOlE sEnTeNcE", "tabs\tbetween\twords\tand\nnewlines\r\n",
    "control\u0000bytes\u0001in\u001fthe\u007fmiddle", "a-b-c-d-e-f-g-h", "x" * 200,
    "@#$%^&*()[]{}<>|\\/~`'\";:,.?+=", "one two three four five six seven eight nine ten",
    "I IS ID IF IN IT TITLE INDIA LIMIT", "the quick brown fox jumps over the lazy dog " * 8)

  private val nonAscii: Seq[String] = Seq(
    "café résumé naïve", "Straße STRASSE straße",
    "İstanbul ISTANBUL ıstanbul istanbul", "ΣΟΦΙΑ σοφίας ΟΔΟΣ",
    "東京 大阪 京都 mixed with ascii words", "emoji 🙂 between 🚀🚀 words",
    "non\u00a0breaking\u00a0space here", "\u00a0", "ascii then one é", "é then ascii")

  private val all = randomAscii ++ adversarialAscii ++ nonAscii

  private def checkAll(texts: Seq[String]): Unit = texts.foreach { t =>
    assert(Shingling.wordHashes(utf8(t)).toSeq == Shingling.regexWordHashes(utf8(t)).toSeq,
      s"word hashes of [$t]")
    assert(minHash(t) == refMinHash(t, 128, 5), s"minhash_signature of [$t]")
    assert(minHash(t, 16, 2) == refMinHash(t, 16, 2), s"minhash_signature(16, 2) of [$t]")
    assert(simHash(t) == refSimHash(t), s"simhash64 of [$t]")
    Seq(1, 3, 5).foreach { k =>
      assert(shingleSet(t, k) == refShingles(t, k).distinct.sorted.toSeq, s"shingle_set($k) of [$t]")
    }
  }

  private def withLocale[A](l: Locale)(body: => A): A = {
    val prev = Locale.getDefault
    Locale.setDefault(l)
    try body finally Locale.setDefault(prev)
  }

  // --- tests ---------------------------------------------------------------

  test("the ASCII fast path takes every ASCII text and no other, and leaves the input unwritten") {
    (randomAscii ++ adversarialAscii).foreach { t =>
      val in = utf8(t)
      val fast = Shingling.asciiWordHashes(in)
      assert(fast != null, s"ASCII text refused: [$t]")
      assert(fast.toSeq == Shingling.regexWordHashes(utf8(t)).toSeq, s"fast path of [$t]")
      assert(in.toString == t, s"input rewritten: [$t] -> [$in]")
    }
    nonAscii.foreach(t => assert(Shingling.asciiWordHashes(utf8(t)) == null, s"non-ASCII taken: [$t]"))
  }

  test("fingerprints equal the regex-path references on random, adversarial and non-ASCII text") {
    withLocale(Locale.ROOT)(checkAll(all))
  }

  test("under a Turkish default locale the fingerprints still equal the regex path") {
    val turkish = new Locale("tr")
    // the locale matters: the regex path lowercases I to a dotless i there
    val caps = utf8("TITLE INDIA")
    assert(withLocale(turkish)(Shingling.regexWordHashes(caps).toSeq) !=
      withLocale(Locale.ROOT)(Shingling.regexWordHashes(caps).toSeq))
    withLocale(turkish)(checkAll(all))
    // and back: a locale switch at run time is seen on the next text
    withLocale(Locale.ROOT)(checkAll(adversarialAscii))
  }

  test("golden minhash_signature and simhash64 values of three fixed texts") {
    val golden: Seq[(String, Seq[Long], Long, Long)] = Seq(
      ("The quick brown fox jumps over the lazy dog; the dog sleeps, the fox runs away into the forest.",
        Seq(-6621887640298813541L, -5431231491696591607L, -8456766596466224548L,
          -8907248279654266512L, -8676542302885396907L, -7567434029724546753L,
          -9194524722194696257L, -9203935712902253323L),
        -1488925855063226287L, 3750251896701654857L),
      ("Near-duplicate detection: MinHash & SimHash, 2024 edition -- 128 hashes, 16 bands!",
        Seq(-3369992792452407757L, -8735873983034962777L, -3352552481226483551L,
          -1625076385193769850L, -8748551915181631732L, -2696074025228415030L,
          -5726681848359879759L, -5743925158044238580L),
        -1705855023662464702L, -2719654010610478492L),
      ("\u00dcn\u00efc\u00f6d\u00e9 text: Stra\u00dfe, \u0130stanbul, \u03a3\u039f\u03a6\u0399\u0391 " +
        "\u03c3\u03bf\u03c6\u03af\u03b1\u03c2, \u6771\u4eac \ud83d\ude42 caf\u00e9\u00a0bar",
        Seq(-7415894736673329118L, -3221174465044227621L, -6907728613487455255L,
          -7595141252015833834L, -5290109603041987675L, -8249351197708296405L,
          -5715105100296125951L, -7733505191267194841L),
        -3075935491135137450L, -8572029721793916578L))
    withLocale(Locale.ROOT) {
      golden.foreach { case (t, sig8, digest128, sh) =>
        assert(minHash(t, 8) == sig8, s"minhash_signature(8) of [$t]")
        // the default 128-slot signature, folded into one long
        assert(minHash(t).foldLeft(17L)((a, v) => a * 31 + v) == digest128,
          s"minhash_signature of [$t]")
        assert(simHash(t) == sh, s"simhash64 of [$t]")
      }
    }
  }
}
