package graft.ops

import graft.SharedSpark
import graft.functions._
import graft.sql.{MinHashSignature, SimHash64}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec,
  QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bucket-pair pass shared by the three LSH families, checked against a
  * driver-side brute force over all row pairs on seeded random corpora
  * (non-unique, null and string ids included), plus the plan shape of every
  * pair entry point, the re-run behaviour of the cap counts, where the
  * spread passes compute their fingerprints, the width of the bucket walk
  * under AQE, and which rows the families keep out of banding.
  */
class BucketPairsSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  /** Spark's `<` on the id types used here; null ids never compare. */
  private def idLess(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: String, y: String) => x < y
    case _ => false
  }

  private def multiset[A](xs: Seq[A]): Map[A, Int] = xs.groupBy(identity).map {
    case (k, v) => k -> v.size
  }

  /** Ids for `n` rows: non-unique longs with a null every 13th row, or the
    * same values as strings (whose order differs from the numeric one).
    */
  private def ids(n: Int, seed: Int, asString: Boolean): Seq[Any] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val id = rnd.nextInt(n * 3 / 4).toLong
      if (i % 13 == 7) null else if (asString) s"d$id" else id
    }
  }

  private def withIds(rows: Seq[(Any, Any)], asString: Boolean, payload: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val payloadType = rows.collectFirst { case (_, v) if v != null => v } match {
      case Some(_: String) => StringType
      case Some(_: Long) => LongType
      case _ => ArrayType(FloatType)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, v) => Row(i, v) }: _*),
      StructType(Seq(StructField("id", if (asString) StringType else LongType),
        StructField(payload, payloadType))))
  }

  /** Seeded corpus: random word docs plus near copies with 1..6 words
    * replaced, 24 shingle-less (and zero-feature) docs and 4 null texts.
    */
  private def textCorpus(seed: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Array.tabulate(60)(i => s"w$i")
    val bases = Seq.fill(25)(Seq.fill(30)(vocab(rnd.nextInt(60))))
    val copies = Seq.fill(25) {
      val b = bases(rnd.nextInt(bases.size)).toArray
      (0 until 1 + rnd.nextInt(6)).foreach(_ => b(rnd.nextInt(b.length)) = vocab(rnd.nextInt(60)))
      b.toSeq
    }
    val blank = Seq.fill(8)("") ++ Seq.fill(8)("   ") ++ Seq.fill(8)("!! ??")
    (bases ++ copies).map(_.mkString(" ")) ++ blank ++ Seq.fill(4)(null)
  }

  test("minhash pairs == brute force: shares a band key and estimated Jaccard >= threshold") {
    val bands = 32
    // threshold 0 verifies every candidate row, so a shingle-less doc that
    // shares an id with a candidate would show up as an extra pair
    for ((asString, seed) <- Seq((false, 1), (true, 2)); threshold <- Seq(0.5, 0.0)) {
      val texts = textCorpus(seed)
      val df = withIds(ids(texts.size, seed, asString).zip(texts), asString, "text")
      GraftMetrics.resetBucketCapStats()
      val got = Dedup.minHashNearDupPairs(df, "id", "text", threshold = threshold, bands = bands)
        .collect().map(r => (r.get(0), r.get(1), r.getDouble(2))).toSeq
      val candidates = Dedup.minHashCandidatePairs(df, "id", "text", bands = bands)
        .collect().map(r => (r.get(0), r.get(1))).toSet
      val rows = df.select($"id", minhash_signature($"text").as("sig"))
        .filter(element_at($"sig", 1) =!= Long.MaxValue)
        .select($"id", $"sig", array((0 until bands).map(b =>
          minhash_band_key($"sig", b, 128 / bands)): _*).as("keys"))
        .collect().toSeq.map(r => (r.get(0), r.getSeq[Long](1).toArray, r.getSeq[Long](2).toSet))
      val wantCandidates = (for {
        x <- rows; y <- rows if idLess(x._1, y._1) && x._3.exists(y._3)
      } yield (x._1, y._1)).toSet
      def jaccard(a: Array[Long], b: Array[Long]) =
        a.indices.count(i => a(i) == b(i)).toDouble / a.length
      val want = for {
        (a, b) <- wantCandidates.toSeq
        x <- rows if x._1 == a
        y <- rows if y._1 == b
        j = jaccard(x._2, y._2) if j >= threshold
      } yield (a, b, j)
      assert(candidates == wantCandidates, s"ids as strings=$asString")
      assert(multiset(got) == multiset(want), s"ids as strings=$asString threshold=$threshold")
      assert(want.nonEmpty && (threshold <= 0 ||
        want.map(p => (p._1, p._2)).toSet.size < wantCandidates.size),
        "fixture must both pass and fail the verify step")
      assert(GraftMetrics.lastBucketCapStats("minhash").exists(s =>
        s.droppedRows == 0 && s.bandedRows == rows.length.toLong * bands))
    }
  }

  test("simhash pairs == brute force: Hamming <= m for m in {1, 3, 6}") {
    for ((asString, seed) <- Seq((false, 3), (true, 4)); m <- Seq(1, 3, 6)) {
      val rnd = new scala.util.Random(seed * 10 + m)
      val bases = Seq.fill(30)(rnd.nextLong())
      // clones at 0..9 flipped bits: inside and outside every bound
      val clones = Seq.fill(40) {
        val flips = (0 until rnd.nextInt(10)).map(_ => 1L << rnd.nextInt(64)).foldLeft(0L)(_ | _)
        bases(rnd.nextInt(bases.size)) ^ flips
      }
      // stored 0 hashes are ordinary hashes here; only nulls drop
      val hashes: Seq[Any] = bases ++ clones ++ Seq.fill(4)(0L) :+ null
      val df = withIds(ids(hashes.size, seed, asString).zip(hashes), asString, "sh")
      val got = Dedup.simHashNearDupPairsOnHashes(df, "id", "sh", maxHamming = m)
        .collect().map(r => (r.get(0), r.get(1), r.getInt(2))).toSet
      val rows = df.collect().map(r => (r.get(0), r.get(1))).filter(_._2 != null)
      val want = (for {
        x <- rows.toSeq; y <- rows.toSeq if idLess(x._1, y._1)
        h = java.lang.Long.bitCount(x._2.asInstanceOf[Long] ^ y._2.asInstanceOf[Long]) if h <= m
      } yield (x._1, y._1) -> h).groupBy(_._1).map { case (k, v) => (k._1, k._2, v.map(_._2).min) }
        .toSet
      assert(got == want, s"m=$m ids as strings=$asString")
      assert(want.nonEmpty, s"m=$m: fixture must plant pairs")
      val zeroIds = rows.collect { case (i, 0L) => i }.toSet
      assert(want.exists(p => zeroIds(p._1) && zeroIds(p._2)), s"m=$m: stored zeros must pair")
    }
  }

  test("simhash text pairs == brute force: zero-feature and null texts never band") {
    for ((asString, seed) <- Seq((false, 12), (true, 13))) {
      val texts = textCorpus(seed)
      val df = withIds(ids(texts.size, seed, asString).zip(texts), asString, "text")
      GraftMetrics.resetBucketCapStats()
      val got = Dedup.simHashNearDupPairs(df, "id", "text")
        .collect().map(r => (r.get(0), r.get(1), r.getInt(2))).toSet
      val hashes = df.select($"id", simhash64($"text")).collect().toSeq
        .filter(!_.isNullAt(1)).map(r => (r.get(0), r.getLong(1)))
      val (zero, rows) = hashes.partition(_._2 == 0L)
      assert(zero.size >= 24, "fixture must carry the zero-feature texts")
      val want = (for {
        x <- rows; y <- rows if idLess(x._1, y._1)
        h = java.lang.Long.bitCount(x._2 ^ y._2) if h <= 3
      } yield (x._1, y._1) -> h).groupBy(_._1).map { case (k, v) => (k._1, k._2, v.map(_._2).min) }
        .toSet
      assert(want.nonEmpty, "fixture must plant pairs")
      assert(got == want, s"ids as strings=$asString")
      assert(GraftMetrics.lastBucketCapStats("simhash").exists(s =>
        s.droppedRows == 0 && s.bandedRows == 20L * rows.size))
    }
  }

  test("embedding pairs == brute force: shares a hyperplane_buckets key and cosine >= threshold") {
    val dim = 8
    val (planes, tables, threshold) = (4, 6, 0.9)
    for ((asString, seed) <- Seq((false, 5), (true, 6))) {
      val rnd = new scala.util.Random(seed)
      val bases = Seq.fill(40)(Array.fill(dim)(rnd.nextGaussian().toFloat))
      val clones = Seq.fill(30)(bases(rnd.nextInt(bases.size))
        .map(x => x + (rnd.nextGaussian() * 0.05).toFloat))
      val vecs = bases ++ clones
      val clean = withIds(ids(vecs.size, seed, asString).zip(vecs), asString, "vec")
      // dirty vectors (NaN, all-zero) never band; their ids are unique
      val dirtyIds: Seq[Any] = if (asString) Seq("x1", "x2") else Seq(1000L, 1001L)
      val dirty = withIds(dirtyIds.zip(Seq(Array.fill(dim)(Float.NaN), Array.fill(dim)(0f))),
        asString, "vec")
      val df = clean.union(dirty)
      val got = Dedup.embeddingNearDupPairs(df, "id", "vec", dim, threshold, planes, tables)
        .collect().map(r => (r.get(0), r.get(1), r.getDouble(2))).toSeq
      val rows = df.select($"id", $"vec",
        hyperplane_buckets($"vec", dim, planes, tables).as("b")).collect().toSeq
        .map { r =>
          val keys = Option(r.getSeq[Long](2)).getOrElse(Nil).zipWithIndex.map(_.swap).toSet
          (r.get(0), r.getSeq[Float](1).map(_.toDouble).toArray, keys)
        }
      def cosine(a: Array[Double], b: Array[Double]) = {
        val d = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
        if (d > 0) a.indices.map(i => a(i) * b(i)).sum / d else 0.0
      }
      val candidates = (for {
        x <- rows; y <- rows if idLess(x._1, y._1) && x._3.exists(y._3)
      } yield (x._1, y._1)).toSet
      val scored = for {
        (a, b) <- candidates.toSeq
        x <- rows if x._1 == a
        y <- rows if y._1 == b
      } yield (a, b, cosine(x._2, y._2))
      // the kernel sums float vectors in its own order: agree to 1e-6
      assert(!scored.exists(p => math.abs(p._3 - threshold) < 1e-5),
        "fixture must keep every candidate away from the threshold")
      val want = scored.filter(_._3 >= threshold)
      assert(multiset(got.map(p => (p._1, p._2))) == multiset(want.map(p => (p._1, p._2))),
        s"ids as strings=$asString")
      def order(p: (Any, Any, Double)) = (p._1.toString, p._2.toString, p._3)
      got.sortBy(order).zip(want.sortBy(order)).foreach { case (g, w) =>
        assert(math.abs(g._3 - w._3) < 1e-6, s"cosine $g vs $w")
      }
      assert(want.nonEmpty && want.size < scored.size,
        "fixture must both pass and fail the verify step")
    }
  }

  test("capped run: BucketCapStats and candidates match a driver-side per-bucket count") {
    val bands = 16
    val cap = 20
    val boiler = "boilerplate legal footer all rights reserved contact us terms of service"
    val texts = textCorpus(7) ++ Seq.fill(30)(boiler)
    val df = withIds(ids(texts.size, 7, asString = false).zip(texts), asString = false, "text")
    GraftMetrics.resetBucketCapStats()
    val got = Dedup.minHashCandidatePairs(df, "id", "text", bands = bands, maxBucketSize = cap)
      .collect().map(r => (r.get(0), r.get(1))).toSet
    val stats = GraftMetrics.lastBucketCapStats("minhash")
    val rows = df.select($"id", minhash_signature($"text").as("sig"))
      .filter(element_at($"sig", 1) =!= Long.MaxValue)
      .select($"id", array((0 until bands).map(b =>
        minhash_band_key($"sig", b, 128 / bands)): _*).as("keys"))
      .collect().toSeq.map(r => (r.get(0), r.getSeq[Long](1)))
    val sizes = rows.flatMap(_._2).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val over = sizes.filter(_._2 > cap)
    assert(over.nonEmpty, "fixture must overflow the cap")
    assert(stats.contains(GraftMetrics.BucketCapStats(
      sizes.values.sum, over.values.sum, over.size.toLong, cap)), s"stats: $stats")
    val want = (for {
      x <- rows; y <- rows
      if idLess(x._1, y._1) && x._2.exists(k => sizes(k) <= cap && y._2.contains(k))
    } yield (x._1, y._1)).toSet
    assert(got == want)
  }

  test("acting one capped frame twice leaves the stats of a single run") {
    GraftMetrics.resetBucketCapStats()
    val boiler = (0 until 60).map(i => (100L + i, "boilerplate legal footer " +
      "all rights reserved contact us terms of service privacy policy"))
    val base = "the quick brown fox jumps over the lazy dog near the river"
    val docs = (boiler ++ Seq((1L, base), (2L, base))).toDF("doc_id", "text")
    val pairs = Dedup.simHashNearDupPairs(docs, "doc_id", "text",
      maxHamming = 3, maxBucketSize = 50)
    pairs.count()
    val once = GraftMetrics.lastBucketCapStats("simhash")
    assert(once.exists(s => s.bandedRows == 1240 && s.droppedRows == 1200 &&
      s.droppedBuckets == 20), s"single run: $once")
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(GraftMetrics.allBucketCapStats("simhash") == once.toSeq,
      "a second action must replace the counts, not add to them")
  }

  test("every pair entry point: one exchange on the bucket, no bucket aggregate, no bucket join") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val texts = textCorpus(8).filter(_ != null).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val hashes = (0 until 20).map(i => (i.toLong, i * 7919L)).toDF("id", "sh")
      val vecs = (0 until 20).map(i => (i.toLong, Array.fill(8)(i.toFloat + 1))).toDF("id", "v")
      val entryPoints: Seq[(String, String, DataFrame)] = Seq(
        ("minHashCandidatePairs", "_band", Dedup.minHashCandidatePairs(texts, "doc_id", "text")),
        ("minHashNearDupPairs", "_band", Dedup.minHashNearDupPairs(texts, "doc_id", "text")),
        ("minHashNearDupPairsOnSignatures", "_band", Dedup.minHashNearDupPairsOnSignatures(
          Dedup.minHashSignatures(texts, "doc_id", "text"), "doc_id", "minhash_sig")),
        ("simHashNearDupPairs", "_bucket", Dedup.simHashNearDupPairs(texts, "doc_id", "text")),
        ("simHashNearDupPairsOnHashes", "_bucket",
          Dedup.simHashNearDupPairsOnHashes(hashes, "id", "sh")),
        ("embeddingNearDupPairs", "_bucket",
          Dedup.embeddingNearDupPairs(vecs, "id", "v", 8, planes = 4, tables = 2)))
      entryPoints.foreach { case (name, bucket, df) =>
        val plan = df.queryExecution.executedPlan
        def onBucket(e: Expression) = e.references.exists(_.name == bucket)
        val exchanges = plan.collect {
          case s: ShuffleExchangeExec => s.outputPartitioning
        }.collect { case h: HashPartitioning if h.expressions.exists(onBucket) => h }
        assert(exchanges.size == 1, s"$name: bucket exchanges $exchanges\n$plan")
        assert(plan.collect {
          case a: BaseAggregateExec if a.groupingExpressions.exists(onBucket) => a
        }.isEmpty, s"$name: aggregate over the bucket\n$plan")
        assert(plan.collect {
          case j: BaseJoinExec if (j.leftKeys ++ j.rightKeys).exists(onBucket) => j
        }.isEmpty, s"$name: join on the bucket\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  /** `df` written as ONE parquet file and read back: a one-partition scan,
    * so `Spread.cpuBound` fires in the local[4] session.
    */
  private def oneFile(df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_spread_").toString + "/docs"
    df.coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("spread LSH passes compute each fingerprint once, and only above the spread") {
    val docs = oneFile(textCorpus(9).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text"))
    assert(Spread.staticPartitionCount(docs).contains(1), "fixture must scan on one task")
    def evaluations(plan: LogicalPlan): Int = plan.map(_.expressions.map(_.collect {
      case e @ (_: MinHashSignature | _: SimHash64) => e
    }.size).sum).sum
    // one spread and one evaluation per consumer of the fingerprint frame
    Seq(
      ("minHashCandidatePairs", Dedup.minHashCandidatePairs(docs, "doc_id", "text"), 1),
      ("minHashSignatures", Dedup.minHashSignatures(docs, "doc_id", "text"), 1),
      ("simHashNearDupPairs", Dedup.simHashNearDupPairs(docs, "doc_id", "text"), 1)
    ).foreach { case (name, df, consumers) =>
      val plan = df.queryExecution.optimizedPlan
      val spreads = plan.collect { case r: Repartition => r }
      assert(spreads.size == consumers, s"$name: spreads\n$plan")
      assert(evaluations(plan) == consumers, s"$name: fingerprint evaluations\n$plan")
      spreads.foreach(r => assert(evaluations(r) == 0, s"$name: fingerprint under the spread\n$plan"))
    }
  }

  /** Every operator of a physical plan, through adaptive plans and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  test("under AQE the bucket walk keeps one task per core") {
    val width = spark.sparkContext.defaultParallelism
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // a shuffle width other than the core count, so neither can stand in
    // for the other
    spark.conf.set("spark.sql.shuffle.partitions", (width * 4).toString)
    try {
      val texts = textCorpus(11).filter(_ != null).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val vecs = (0 until 40).map(i => (i.toLong, Array.tabulate(8)(j => ((i * 7 + j) % 5).toFloat)))
        .toDF("id", "v")
      Seq(
        ("minhash", "_band", Dedup.minHashNearDupPairs(texts, "doc_id", "text")),
        ("simhash", "_bucket", Dedup.simHashNearDupPairs(texts, "doc_id", "text")),
        ("embedding", "_bucket", Dedup.embeddingNearDupPairs(vecs, "id", "v", 8, planes = 4,
          tables = 2))
      ).foreach { case (name, bucket, df) =>
        df.collect()
        val plan = df.queryExecution.executedPlan
        def onBucket(s: ShuffleExchangeLike) = s.outputPartitioning match {
          case h: HashPartitioning => h.expressions.exists(_.references.exists(_.name == bucket))
          case _ => false
        }
        val all = nodes(plan)
        val stages = all.collect { case q: ShuffleQueryStageExec if onBucket(q.shuffle) => q }
        assert(stages.size == 1, s"$name: bucket stages\n$plan")
        assert(stages.head.shuffle.numPartitions == width, s"$name\n$plan")
        val reads = all.collect {
          case r @ AQEShuffleReadExec(q: ShuffleQueryStageExec, _) if onBucket(q.shuffle) => r
        }
        assert(reads.forall(r => !r.isCoalescedRead && r.partitionSpecs.size == width),
          s"$name: the bucket exchange is read coalesced\n$plan")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }

  /** Runs `body` with AQE on at Spark's default 200 shuffle partitions,
    * where small exchanges are coalesced and plans are re-optimized
    * between stages.
    */
  private def atDefaultShufflePartitions(body: => Unit): Unit = {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    GraftMetrics.resetBucketCapStats()
    try body finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }

  test("200 shuffle partitions: minhash pairs and cap counts == brute force") {
    atDefaultShufflePartitions {
      val (bands, cap, threshold) = (16, 20, 0.5)
      val boiler = "boilerplate legal footer all rights reserved contact us terms of service"
      val docs = oneFile((textCorpus(14) ++ Seq.fill(30)(boiler)).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      val got = Dedup.minHashNearDupPairs(docs, "doc_id", "text", threshold = threshold,
        bands = bands, maxBucketSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val rows = docs.select($"doc_id", minhash_signature($"text").as("sig"))
        .filter(element_at($"sig", 1) =!= Long.MaxValue)
        .select($"doc_id", $"sig", array((0 until bands).map(b =>
          minhash_band_key($"sig", b, 128 / bands)): _*).as("keys"))
        .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
      val sizes = rows.flatMap(_._3).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val over = sizes.filter(_._2 > cap)
      val want = (for {
        x <- rows; y <- rows
        if x._1 < y._1 && x._3.exists(k => sizes(k) <= cap && y._3.contains(k))
        j = x._2.indices.count(i => x._2(i) == y._2(i)).toDouble / x._2.length if j >= threshold
      } yield (x._1, y._1, j)).toSet
      assert(over.nonEmpty && want.nonEmpty, "fixture must overflow the cap and plant pairs")
      assert(got == want)
      assert(GraftMetrics.lastBucketCapStats("minhash").contains(GraftMetrics.BucketCapStats(
        sizes.values.sum, over.values.sum, over.size.toLong, cap)))
    }
  }

  test("200 shuffle partitions: simhash text pairs and cap counts == brute force") {
    atDefaultShufflePartitions {
      val docs = oneFile(textCorpus(15).zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"))
      val got = Dedup.simHashNearDupPairs(docs, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val rows = docs.select($"doc_id", simhash64($"text")).collect().toSeq
        .filter(r => !r.isNullAt(1) && r.getLong(1) != 0L).map(r => (r.getLong(0), r.getLong(1)))
      val want = for {
        x <- rows.toSet[(Long, Long)]; y <- rows if x._1 < y._1
        h = java.lang.Long.bitCount(x._2 ^ y._2) if h <= 3
      } yield (x._1, y._1, h)
      assert(want.nonEmpty, "fixture must plant pairs")
      assert(got == want)
      assert(GraftMetrics.lastBucketCapStats("simhash").contains(
        GraftMetrics.BucketCapStats(20L * rows.size, 0, 0, 10000)))
    }
  }

  test("200 shuffle partitions: embedding pairs and cap counts == brute force") {
    atDefaultShufflePartitions {
      val (dim, planes, tables, threshold) = (8, 4, 6, 0.9)
      val rnd = new scala.util.Random(16)
      val bases = Seq.fill(40)(Array.fill(dim)(rnd.nextGaussian().toFloat))
      val clones = Seq.fill(30)(bases(rnd.nextInt(bases.size))
        .map(x => x + (rnd.nextGaussian() * 0.05).toFloat))
      val dirty = Seq(Array.fill(dim)(Float.NaN), Array.fill(dim)(0f))
      val vecs = (bases ++ clones ++ dirty).zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "vec")
      val got = Dedup.embeddingNearDupPairs(vecs, "id", "vec", dim, threshold, planes, tables)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val rows = vecs.select($"id", $"vec", hyperplane_buckets($"vec", dim, planes, tables))
        .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble),
          r.getSeq[Long](2).zipWithIndex.toSet))
        .filter(_._3.nonEmpty)
      def cosine(a: Seq[Double], b: Seq[Double]) =
        a.zip(b).map(p => p._1 * p._2).sum /
          math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
      val want = (for {
        x <- rows; y <- rows
        if x._1 < y._1 && x._3.exists(y._3) && cosine(x._2, y._2) >= threshold
      } yield (x._1, y._1)).toSet
      assert(want.nonEmpty, "fixture must plant pairs")
      assert(got == want)
      assert(GraftMetrics.lastBucketCapStats("embedding").contains(
        GraftMetrics.BucketCapStats(tables.toLong * rows.size, 0, 0, 10000)))
    }
  }
}
