package perfbench

import org.apache.spark.sql.{Encoders, SparkSession}

import Stats.{mix, unit}

/** A row of the generated pages table: only the columns the jobs read. */
final case class PageRow(url: String, lang: String, warc_ts: java.sql.Timestamp)

/** Pages table shape. Row i carries url id (i * a + b) mod 2^distinctLog2,
  * a bijection for odd a, so with rows a multiple of 2^distinctLog2 every url
  * appears exactly rows / 2^distinctLog2 times. Language, host and day are
  * functions of the url id, so every exact per-group distinct count follows
  * from one pass over the url ids.
  */
final case class PagesSpec(rows: Long, distinctLog2: Int, hosts: Int, files: Int) {
  def distinct: Long = 1L << distinctLog2
  require(rows % distinct == 0, "rows must be a multiple of the distinct url count")
}

/** Exact distinct url counts of a generated pages table. */
final case class PagesExact(distinct: Long, perLang: Map[String, Long], perHost: Map[String, Long])

object Pages {
  /** 40 languages, Zipf-distributed over url ids with `en` near 45%. */
  val Langs: Array[String] = Array(
    "en", "de", "ru", "ja", "zh", "fr", "es", "pt", "it", "pl", "nl", "tr", "fa",
    "ko", "vi", "id", "cs", "sv", "hu", "el", "ro", "da", "fi", "uk", "th", "bg",
    "he", "sk", "no", "hr", "lt", "sl", "ar", "hi", "et", "lv", "sr", "ca", "ms", "bn")
  val ZipfExponent = 1.55
  val Days = 30
  private val Epoch2024 = 1704067200L

  private val langCdf: Array[Double] = {
    val w = Langs.indices.map(r => math.pow(r + 1.0, -ZipfExponent))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def langOf(seed: Long, id: Long): String = {
    val u = unit(seed, 1, id)
    val i = java.util.Arrays.binarySearch(langCdf, u)
    Langs(math.min(if (i >= 0) i + 1 else -i - 1, Langs.length - 1))
  }

  def hostIndex(seed: Long, id: Long, hosts: Int): Int =
    java.lang.Long.remainderUnsigned(mix(seed, 2, id), hosts).toInt

  def hostName(seed: Long, host: Int): String = s"www.h$host.s$seed.example"

  def hostOf(seed: Long, id: Long, hosts: Int): String = hostName(seed, hostIndex(seed, id, hosts))

  def dayOf(seed: Long, id: Long): Int =
    java.lang.Long.remainderUnsigned(mix(seed, 3, id), Days).toInt

  def url(seed: Long, id: Long, hosts: Int): String =
    s"https://${hostOf(seed, id, hosts)}/${langOf(seed, id)}/p$id"

  def write(spark: SparkSession, spec: PagesSpec, seed: Long, path: String): Unit = {
    val s = seed
    val mask = spec.distinct - 1
    val a = mix(seed, 4, 0) | 1L
    val b = mix(seed, 5, 0)
    val hosts = spec.hosts
    spark.range(0, spec.rows, 1, spec.files)
      .map { i =>
        val id = (i.longValue * a + b) & mask
        val sec = java.lang.Long.remainderUnsigned(mix(s, 6, i), 86400L)
        PageRow(url(s, id, hosts), langOf(s, id),
          new java.sql.Timestamp((Epoch2024 + dayOf(s, id) * 86400L + sec) * 1000L))
      }(Encoders.product[PageRow])
      .write.mode("overwrite").parquet(path)
  }

  def exact(spec: PagesSpec, seed: Long): PagesExact = {
    val lang = scala.collection.mutable.HashMap.empty[String, Long]
    val host = new Array[Long](spec.hosts)
    var id = 0L
    while (id < spec.distinct) {
      val l = langOf(seed, id)
      lang(l) = lang.getOrElse(l, 0L) + 1
      host(hostIndex(seed, id, spec.hosts)) += 1
      id += 1
    }
    PagesExact(spec.distinct, lang.toMap, host.indices.filter(host(_) > 0)
      .map(h => hostName(seed, h) -> host(h)).toMap)
  }
}

/** Near-duplicate corpus shape: `families` groups of `copies` documents (a
  * base text and copies that each replace one word at their own position),
  * plus `background` unrelated documents. All words come from a seeded
  * vocabulary of `vocab` lowercase words.
  */
final case class DocsSpec(families: Int, background: Int, words: Int, vocab: Int,
    copies: Int, files: Int) {
  def docs: Int = families * copies + background
}

/** Ground truth of a generated corpus. `family(id)` is the family index or
  * -1; `planted` holds the within-family pairs whose exact word-5-gram
  * Jaccard reaches the threshold; every within-family pair is allowed.
  */
final case class DocsTruth(family: Array[Int], planted: Set[(Long, Long)]) {
  def allowed(a: Long, b: Long): Boolean =
    family(a.toInt) >= 0 && family(a.toInt) == family(b.toInt)
}

object Docs {
  val ShingleSize = 5

  def generate(spec: DocsSpec, seed: Long, threshold: Double): (Array[(Long, String)], DocsTruth) = {
    val rnd = new java.util.SplittableRandom(mix(seed, 7, 0))
    val vocab = {
      val set = scala.collection.mutable.LinkedHashSet.empty[String]
      while (set.size < spec.vocab)
        set += Iterator.fill(4 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString
      set.toArray
    }
    def randomWords(): Array[String] = Array.fill(spec.words)(vocab(rnd.nextInt(vocab.length)))
    // seeded shuffle of the ids: family members are spread over the id space
    val ids = Array.tabulate(spec.docs)(_.toLong)
    for (i <- ids.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val family = Array.fill(spec.docs)(-1)
    val text = new Array[String](spec.docs)
    val planted = Set.newBuilder[(Long, Long)]
    for (f <- 0 until spec.families) {
      val base = randomWords()
      val positions = scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong()))
        .shuffle((0 until spec.words).toList).take(spec.copies - 1)
      val members = (0 until spec.copies).map { c =>
        val w = base.clone()
        if (c > 0) {
          val pos = positions(c - 1)
          var repl = w(pos)
          while (repl == w(pos)) repl = vocab(rnd.nextInt(vocab.length))
          w(pos) = repl
        }
        val id = ids(f * spec.copies + c)
        family(id.toInt) = f
        text(id.toInt) = w.mkString(" ")
        (id, w)
      }
      for (x <- members; y <- members if x._1 < y._1)
        if (jaccard(x._2, y._2) >= threshold) planted += ((x._1, y._1))
    }
    for (i <- spec.families * spec.copies until spec.docs)
      text(ids(i).toInt) = randomWords().mkString(" ")
    (Array.tabulate(spec.docs)(i => (i.toLong, text(i))), DocsTruth(family, planted.result()))
  }

  /** Exact Jaccard of the word 5-gram sets, the similarity MinHash estimates. */
  def jaccard(a: Array[String], b: Array[String]): Double = {
    def grams(w: Array[String]) = w.sliding(ShingleSize).map(_.mkString(" ")).toSet
    val (ga, gb) = (grams(a), grams(b))
    (ga intersect gb).size.toDouble / (ga union gb).size
  }

  def write(spark: SparkSession, docs: Array[(Long, String)], files: Int, path: String): Unit =
    spark.createDataFrame(docs.toSeq).toDF("id", "text")
      .repartition(files)
      .write.mode("overwrite").parquet(path)
}

/** Clustered vectors: `clusters` random unit centers, each vector a center
  * plus Gaussian noise. The corpus has ids 0 until n; the append batch has
  * the next `append` ids; queries are drawn from the same distribution.
  */
final case class VecSpec(n: Int, dim: Int, clusters: Int, cells: Int, append: Int,
    queries: Int, batch: Int, k: Int, files: Int)

final case class VecData(corpus: Array[Array[Double]], appendBatch: Array[Array[Double]],
    queries: Array[Array[Double]]) {
  /** Exact cosine top-k of query q over the corpus, ordered by cosine
    * descending then id, as (id, cosine).
    */
  def bruteTopK(q: Int, k: Int): Array[(Long, Double)] = {
    val qv = queries(q)
    val qn = Vectors.norm(qv)
    val cos = corpus.map { v =>
      val d = Vectors.norm(v) * qn
      if (d > 0) Vectors.dot(qv, v) / d else 0.0
    }
    // ids ascending, so a stable sort by cosine breaks ties by id
    corpus.indices.sortBy(i => -cos(i)).take(k).map(i => (i.toLong, cos(i))).toArray
  }
}

object Vectors {
  val Noise = 0.6

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def norm(a: Array[Double]): Double = math.sqrt(dot(a, a))

  def generate(spec: VecSpec, seed: Long): VecData = {
    val rnd = new java.util.Random(mix(seed, 8, 0))
    val centers = Array.fill(spec.clusters) {
      val c = Array.fill(spec.dim)(rnd.nextGaussian())
      val n = norm(c)
      c.map(_ / n)
    }
    val sigma = Noise / math.sqrt(spec.dim.toDouble)
    def draw(): Array[Double] = {
      val c = centers(rnd.nextInt(centers.length))
      Array.tabulate(spec.dim)(j => c(j) + sigma * rnd.nextGaussian())
    }
    VecData(Array.fill(spec.n)(draw()), Array.fill(spec.append)(draw()),
      Array.fill(spec.queries)(draw()))
  }

  def write(spark: SparkSession, vecs: Array[Array[Double]], firstId: Long, files: Int,
      path: String): Unit =
    spark.createDataFrame(vecs.toSeq.zipWithIndex.map { case (v, i) => (firstId + i, v) })
      .toDF("id", "vec")
      .repartition(files)
      .write.mode("overwrite").parquet(path)
}
