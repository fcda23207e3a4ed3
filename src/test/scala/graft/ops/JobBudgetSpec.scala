package graft.ops

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import graft.SharedSpark
import graft.streaming.SketchStreams

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** The number of Spark jobs each ANN top-k call, each pair, dedup and
  * sampling call, each multimodal transform, each north-star query and each
  * CheckpointedAgg stage runs, with AQE on, on a small seeded parquet
  * input: once while the frame is built, once when it is collected. The
  * IVF lifecycle calls are eager, so they are counted per call; the
  * streaming calls are counted per micro-batch. A change to these
  * operators that adds a job, or moves one from the action into
  * construction, fails here by name.
  */
class JobBudgetSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  /** The job group and micro-batch id of every job started while `body`
    * runs, seen through a listener. Events arrive in order, so a marker job
    * run afterwards fences them.
    */
  private def jobGroupsOf[A](body: => A): (A, Seq[(String, String)]) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((String.valueOf(e.properties.getProperty("spark.jobGroup.id")),
          String.valueOf(e.properties.getProperty("streaming.sql.batchId"))))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("budget", "measured call")
      val out = body
      sc.setJobGroup("marker", "listener fence")
      sc.parallelize(Seq(1), 1).count()
      def marked = jobs.toArray(Array.empty[(String, String)]).exists(_._1 == "marker")
      val end = System.currentTimeMillis + 20000
      while (!marked && System.currentTimeMillis < end) Thread.sleep(20)
      assert(marked, s"marker job never observed: $jobs")
      (out, jobs.toArray(Array.empty[(String, String)]).toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Jobs started in this thread's group while `body` runs. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val (out, jobs) = jobGroupsOf(body)
    (out, jobs.count(_._1 == "budget"))
  }

  /** Jobs of each micro-batch of the query that `start` starts, run to its
    * end. Micro-batch jobs run in the query's own job group, its `runId`.
    */
  private def jobsPerBatch(start: => StreamingQuery): Seq[Int] = {
    val (q, jobs) = jobGroupsOf {
      val q = start
      q.awaitTermination()
      q
    }
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    jobs.filter(_._1 == q.runId.toString).groupBy(_._2.toLong).toSeq.sortBy(_._1).map(_._2.size)
  }

  /** Each call's jobs while its frame is built and when it is collected,
    * against the expected pair.
    */
  private def assertLazyBudgets(calls: Seq[(String, () => DataFrame, Int, Int)]): Unit = {
    val got = calls.map { case (name, build, _, _) =>
      val (df, built) = jobsOf(build())
      val (rows, collected) = jobsOf(df.collect())
      assert(rows.nonEmpty, s"$name: the fixture must produce rows")
      (name, built, collected)
    }
    assert(got == calls.map(c => (c._1, c._3, c._4)))
  }

  private def withAqe[A](body: => A): A = {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  /** `df` written as parquet and read back: a file scan, not a local relation
    * that Spark collects without a job.
    */
  private def parquet(df: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("graft_job_budget_").toString + "/t"
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def unit(seed: Int, dim: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    val v = Array.fill(dim)(r.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x * x).sum).toFloat
    v.map(_ / n)
  }

  test("ANN top-k and rejoin-verified pair calls: jobs at construction and at collect") {
    withAqe {
      val dim = 8
      val corpus = parquet((0 until 200).map(i => (i.toLong, unit(i, dim))).toDF("id", "vec"))
      val queries = parquet((0 until 5).map(i => (i.toLong, unit(1000 + i, dim)))
        .toDF("qid", "qvec"))
      val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 4, sampleSize = 200)
      val idx = Files.createTempDirectory("graft_job_budget_").toString
      Similarity.assignCells(corpus, "id", "vec", centroids, idx)
      val rnd = new scala.util.Random(3)
      val vocab = Array.tabulate(40)(i => s"w$i")
      val bases = Seq.fill(20)(Seq.fill(30)(vocab(rnd.nextInt(40))).mkString(" "))
      val texts = parquet((bases ++ bases.take(10).map(_ + " tail"))
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      // 20 exact copies of corpus vectors, so verified pairs exist
      val vecs = corpus.union(corpus.filter($"id" < 20).select(($"id" + 1000).as("id"), $"vec"))

      val calls: Seq[(String, () => DataFrame, Int, Int)] = Seq(
        ("bruteForceTopK", () => Similarity.bruteForceTopK(
          corpus, "id", "vec", queries, "qid", "qvec", 3), 0, 3),
        ("ivfTopK", () => Similarity.ivfTopK(
          corpus, "id", "vec", queries, "qid", "qvec", 3, centroids, nProbe = 2), 0, 3),
        ("ivfTopKFromIndex", () => Similarity.ivfTopKFromIndex(
          spark, idx, queries, "qid", "qvec", 3, nProbe = 2), 1, 3),
        ("lshTopK", () => Similarity.lshTopK(
          corpus, "id", "vec", queries, "qid", "qvec", 3, dim, planes = 4, tables = 2), 0, 4),
        ("minHashNearDupPairs", () => Dedup.minHashNearDupPairs(
          texts, "doc_id", "text", threshold = 0.5), 0, 4),
        ("embeddingNearDupPairs", () => Dedup.embeddingNearDupPairs(
          vecs, "id", "vec", dim, threshold = 0.9, planes = 4, tables = 2), 0, 4))
      assertLazyBudgets(calls)
    }
  }

  test("near-dup pair and clustering calls: jobs at construction and at collect") {
    withAqe {
      val rnd = new scala.util.Random(5)
      val vocab = Array.tabulate(40)(i => s"w$i")
      val bases = Seq.fill(20)(Seq.fill(30)(vocab(rnd.nextInt(40))).mkString(" "))
      val texts = parquet((bases ++ bases.take(10).map(_ + " tail"))
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      val ids = texts.select($"doc_id")
      // the perfbench call shape: a pair list the caller holds on the driver
      val localPairs = Seq((0L, 20L), (1L, 21L), (2L, 22L), (20L, 25L)).toDF("id_a", "id_b")
      def lshPairs() = Dedup.minHashNearDupPairs(texts, "doc_id", "text", threshold = 0.5)
      val sigs = parquet(Dedup.minHashSignatures(texts, "doc_id", "text"))

      val calls: Seq[(String, () => DataFrame, Int, Int)] = Seq(
        ("nearDupClusters, local pair list", () => Dedup.nearDupClusters(
          ids, "doc_id", localPairs), 1, 1),
        ("nearDupClusters, LSH pair list", () => Dedup.nearDupClusters(
          ids, "doc_id", lshPairs()), 5, 1),
        ("nearDupClusters, LSH pair list over the cap", () => Dedup.nearDupClusters(
          ids, "doc_id", lshPairs(), 1), 14, 4),
        ("dedupByPairs, LSH pair list", () => Dedup.dedupByPairs(
          texts, "doc_id", lshPairs()), 0, 7),
        ("dedupTransitiveByPairs, LSH pair list", () => Dedup.dedupTransitiveByPairs(
          texts, "doc_id", lshPairs()), 5, 3),
        ("simHashNearDupPairs", () => Dedup.simHashNearDupPairs(
          texts, "doc_id", "text"), 0, 3),
        ("minHashCandidatePairs", () => Dedup.minHashCandidatePairs(
          texts, "doc_id", "text"), 0, 3),
        ("minHashSignatures", () => Dedup.minHashSignatures(texts, "doc_id", "text"), 0, 1),
        ("minHashNearDupPairsOnSignatures", () => Dedup.minHashNearDupPairsOnSignatures(
          sigs, "doc_id", "minhash_sig", threshold = 0.5), 0, 4))
      assertLazyBudgets(calls)
    }
  }

  test("exact dedup, stored-hash pair and sampling calls: jobs at construction and at collect") {
    withAqe {
      val rnd = new scala.util.Random(9)
      val vocab = Array.tabulate(40)(i => s"w$i")
      val bases = Seq.fill(20)(Seq.fill(30)(vocab(rnd.nextInt(40))).mkString(" "))
      // 10 exact copies, so every dedup drops rows and every pair call pairs
      val texts = parquet((bases ++ bases.take(10))
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      val hashes = parquet(texts.select($"doc_id", graft.functions.simhash64($"text").as("sh")))

      val calls: Seq[(String, () => DataFrame, Int, Int)] = Seq(
        ("exactByHash", () => Dedup.exactByHash(texts, "doc_id", "text"), 0, 3),
        ("exactByContent", () => Dedup.exactByContent(texts, "text"), 0, 2),
        ("simHashNearDupPairsOnHashes", () => Dedup.simHashNearDupPairsOnHashes(
          hashes, "doc_id", "sh"), 0, 3),
        ("deterministicSample", () => Sampling.deterministicSample(
          texts, $"doc_id", 0.5), 0, 1),
        ("deterministicSplit", () => Sampling.deterministicSplit(
          texts, $"doc_id", Seq("train" -> 0.8, "test" -> 0.2)), 0, 1),
        ("shuffleIntoShards", () => Sampling.shuffleIntoShards(texts, $"doc_id", 4), 0, 2))
      assertLazyBudgets(calls)
    }
  }

  test("IVF lifecycle calls: jobs per call") {
    withAqe {
      val dim = 8
      val corpus = parquet((0 until 200).map(i => (i.toLong, unit(i, dim))).toDF("id", "vec"))
      // the perfbench append shape: a one-file batch
      val batch = parquet((200 until 240).map(i => (i.toLong, unit(i, dim))).toDF("id", "vec")
        .coalesce(1))
      val idx = Files.createTempDirectory("graft_job_budget_").toString
      var centroids = Array.empty[Array[Double]]
      val calls: Seq[(String, () => Any, Any, Int)] = Seq(
        ("trainIvfCentroids", () => {
          centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 4, sampleSize = 200)
          centroids.length
        }, 4, 1),
        ("assignCells", () => Similarity.assignCells(corpus, "id", "vec", centroids, idx), (), 2),
        ("appendToIndex", () => Similarity.appendToIndex(batch, "id", "vec", idx), (), 1),
        ("removeFromIndex", () => Similarity.removeFromIndex(
          spark, idx, batch.select($"id")), 40L, 3),
        ("removeFromIndexByVector", () => Similarity.removeFromIndexByVector(
          spark, idx, corpus.filter($"id" < 10)), 10L, 2),
        ("compactIndex", () => Similarity.compactIndex(spark, idx).nonEmpty, true, 3),
        ("indexCellStats", () => Similarity.indexCellStats(spark, idx).collect().length, 4, 0),
        ("loadCentroids", () => Similarity.loadCentroids(spark, idx).length, 4, 0))
      val got = calls.map { case (name, call, _, _) =>
        val (out, jobs) = jobsOf(call())
        (name, out, jobs)
      }
      assert(got == calls.map(c => (c._1, c._3, c._4)))
    }
  }

  test("CheckpointedAgg stages: jobs at checkpoint, at finalize and at collect") {
    withAqe {
      val input = Files.createTempDirectory("graft_job_budget_").toString + "/in"
      (0 until 4000).map(i => ("lang" + (i % 3), i.toLong % 700)).toDF("lang", "v")
        .repartition(4).write.parquet(input)
      def ckpt() = Files.createTempDirectory("graft_job_budget_").toString + "/ckpt"
      val dir = ckpt()
      val (files, staged) = jobsOf(CheckpointedAgg.checkpointStage(spark, input, Seq("lang"), "v", dir))
      val (finalized, built) = jobsOf(CheckpointedAgg.finalizeStage(spark, dir, Seq("lang")))
      val (rows, collected) = jobsOf(finalized.collect())
      val (ran, runBuilt) = jobsOf(CheckpointedAgg.run(spark, input, Seq("lang"), "v", ckpt()))
      val (runRows, runCollected) = jobsOf(ran.collect())
      assert(files == 4 && rows.length == 3 && runRows.toSeq == rows.toSeq)
      assert(Seq(staged, built, collected, runBuilt, runCollected) == Seq(3, 0, 3, 3, 3))
    }
  }

  test("multimodal transforms and binaryFeatures: jobs at construction and at collect") {
    withAqe {
      val ids = parquet((0L until 40L).map(Tuple1(_)).toDF("doc_id"))
      val images = parquet(Multimodal.renderTestCards(ids, "doc_id"))
      val audios = parquet(Multimodal.renderAudioTestCards(ids, "doc_id"))
      val calls: Seq[(String, () => DataFrame, Int, Int)] = Seq(
        ("renderTestCards", () => Multimodal.renderTestCards(ids, "doc_id"), 0, 1),
        ("renderAudioTestCards", () => Multimodal.renderAudioTestCards(ids, "doc_id"), 0, 1),
        ("decodeImages", () => Multimodal.decodeImages(images, "blob"), 0, 1),
        ("resizeImages", () => Multimodal.resizeImages(images, "blob", 4, 4), 0, 1),
        ("decodeAudios", () => Multimodal.decodeAudios(audios, "blob"), 0, 1),
        ("sampleFrames", () => Multimodal.sampleFrames(images, "blob", 3), 0, 1),
        ("binaryFeatures", () => Multimodal.binaryFeatures(images, "blob"), 0, 1))
      assertLazyBudgets(calls)
    }
  }

  test("north-star queries: jobs at construction and at collect") {
    withAqe {
      val pages = parquet((0 until 400).map { i =>
        (s"https://site${i % 90}.example/p$i", new Timestamp(1700000000000L + (i % 3) * 86400000L),
          s"text of page ${i % 50} with a few words", Seq("en", "de", "fr")(i % 3))
      }.toDF("url", "warc_ts", "text", "lang"))
      val calls: Seq[(String, () => DataFrame, Int, Int)] = Seq(
        ("distinctUrls", () => NorthQueries.distinctUrls(pages), 0, 2),
        ("distinctUrlsPerLang", () => NorthQueries.distinctUrlsPerLang(pages), 0, 3),
        ("distinctShinglesPerDay", () => NorthQueries.distinctShinglesPerDay(pages), 0, 2))
      assertLazyBudgets(calls)
    }
  }

  test("streaming calls: jobs per micro-batch, one input file per trigger") {
    val base = Files.createTempDirectory("graft_job_budget_").toString
    val in = Files.createDirectory(Paths.get(base, "in"))
    // three files, each a later 10-minute span with a later modification
    // time, so the stream reads them in order and the watermark moves
    val t0 = 1700000000000L
    (0 until 3).foreach { f =>
      (0 until 100).map { i =>
        (new Timestamp(t0 + f * 600000L + i * 1000L), i.toLong % 50, s"doc ${i % 40}",
          s"lang${i % 4}")
      }.toDF("ts", "v", "text", "lang").coalesce(1).write.parquet(s"$base/tmp$f")
      val part = new File(s"$base/tmp$f").listFiles().filter(_.getName.endsWith(".parquet"))
      assert(part.length == 1)
      val file = Files.move(part.head.toPath, in.resolve(s"$f.parquet"))
      assert(file.toFile.setLastModified(t0 + f * 1000L))
    }
    def stream = spark.readStream.schema("ts TIMESTAMP, v BIGINT, text STRING, lang STRING")
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
    def run(name: String, mode: String)(query: DataFrame => DataFrame): Seq[Int] =
      jobsPerBatch(query(stream).writeStream.format("noop").outputMode(mode)
        .option("checkpointLocation", s"$base/ckpt_$name")
        .trigger(Trigger.AvailableNow()).start())
    val got = Seq(
      "sketchPerKey" -> run("sketch", "complete")(
        SketchStreams.sketchPerKey(_, Seq("lang"), "v")),
      "distinctPerWindow" -> run("window", "update")(
        SketchStreams.distinctPerWindow(_, "ts", "v", "10 minutes", "5 minutes")),
      "streamingExactDedup" -> run("dedup", "append")(
        SketchStreams.streamingExactDedup(_, "text", "ts", "5 minutes")))
    // a watermarked stream ends with a no-data batch that evicts its state
    assert(got == Seq(
      "sketchPerKey" -> Seq(1, 1, 1),
      "distinctPerWindow" -> Seq(1, 1, 1, 1),
      "streamingExactDedup" -> Seq(1, 1, 1, 1)))
  }
}
