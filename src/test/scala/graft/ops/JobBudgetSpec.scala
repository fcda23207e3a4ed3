package graft.ops

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import graft.SharedSpark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The number of Spark jobs each ANN top-k call, each pair, dedup and
  * sampling call and each CheckpointedAgg stage runs, with AQE on, on a
  * small seeded parquet input: once while the frame is built, once when it
  * is collected. The IVF lifecycle calls are eager, so they are counted per
  * call. A change to these operators that adds a job, or moves one from the
  * action into construction, fails here by name.
  */
class JobBudgetSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  /** Jobs started while `body` runs, counted through a listener. Events
    * arrive in order, so a marker job run afterwards fences them.
    */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("budget", "measured call")
      val out = body
      sc.setJobGroup("marker", "listener fence")
      sc.parallelize(Seq(1), 1).count()
      val end = System.currentTimeMillis + 20000
      while (!groups.contains("marker") && System.currentTimeMillis < end) Thread.sleep(20)
      assert(groups.contains("marker"), s"marker job never observed: $groups")
      (out, groups.toArray.count(_ == "budget"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
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
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
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
      val got = calls.map { case (name, build, _, _) =>
        val (df, built) = jobsOf(build())
        val (rows, collected) = jobsOf(df.collect())
        assert(rows.nonEmpty, s"$name: the fixture must produce rows")
        (name, built, collected)
      }
      assert(got == calls.map(c => (c._1, c._3, c._4)))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("near-dup pair and clustering calls: jobs at construction and at collect") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
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
      val got = calls.map { case (name, build, _, _) =>
        val (df, built) = jobsOf(build())
        val (rows, collected) = jobsOf(df.collect())
        assert(rows.nonEmpty, s"$name: the fixture must produce rows")
        (name, built, collected)
      }
      assert(got == calls.map(c => (c._1, c._3, c._4)))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("exact dedup, stored-hash pair and sampling calls: jobs at construction and at collect") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
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
      val got = calls.map { case (name, build, _, _) =>
        val (df, built) = jobsOf(build())
        val (rows, collected) = jobsOf(df.collect())
        assert(rows.nonEmpty, s"$name: the fixture must produce rows")
        (name, built, collected)
      }
      assert(got == calls.map(c => (c._1, c._3, c._4)))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("IVF lifecycle calls: jobs per call") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
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
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("CheckpointedAgg stages: jobs at checkpoint, at finalize and at collect") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
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
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
